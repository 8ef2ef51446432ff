"""Benchmark command for the engine: one workload, one seed, one process
on ``local[nproc]``.

    python3 perfbench/run.py --workload fhir_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates (or reuses) the seeded
inputs, starts Spark through ``session.get_spark``, warms up, runs the
workload's jobs back to back for ``--seconds`` (one client, closed loop,
stopping at a cycle boundary), checks every output, and prints two JSON
lines: a full report, then the result object (``correct``, ``attempted``,
``failed``, ``metrics``). ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` traces the same jobs and reports the per-layer metrics; its
tracing overhead is taken against the untraced run of the same workload,
seed and size when that run's result file exists.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

import gen
from layers import per_layer_metrics
from tracing import Sampler, SparkRest, Tracer, tree_pids, tree_rss_bytes
from workloads import WORKLOADS

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "disk_bytes_per_input_byte": "ratio",
}
# reported in the report line but not gated by BENCHMARK.json: failed_frac
# is 0 whenever the engine is correct, and the peak RSS of a cold JVM
# (heap growth follows GC timing) spreads too widely between runs for a
# bound of at most 25%
REPORTED = {"peak_rss_mb": "MB", "failed_frac": "ratio"}

PER_LAYER = {
    "session.start_s": "s",
    "fhir.pipeline.build_s": "s",
    "fhir.ingest.self_s": "s",
    "fhir.ingest.read_amp": "ratio",
    "fhir.extract.self_s": "s",
    "fhir.clean.self_s": "s",
    "fhir.clean.kept_frac": "ratio",
    "fhir.quality.self_s": "s",
    "fhir.unattributed_s": "s",
    "sinks.self_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "cache.mem_bytes": "bytes",
    "cache.disk_bytes": "bytes",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "operators.text_dedup.build_s": "s",
    "operators.text_dedup.build_jobs": "count",
    "operators.text_dedup.exec_s": "s",
    "operators.similarity.build_s": "s",
    "operators.similarity.build_jobs": "count",
    "operators.similarity.exec_s": "s",
    "python.rows": "count",
    "python.bytes": "bytes",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.stage_latency_s": "s",
    "exec.task_skew": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.failed_tasks": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_bytes": "bytes",
    "streaming.still_active": "count",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}

SETUP_REPEATS = 3


def tail(latencies: list[float]) -> dict:
    """Latency at the highest percentile with at least 10 samples beyond
    it. Below 21 samples that percentile would fall under the median, so
    the highest percentile with one sample beyond it (the second-largest
    latency) is reported instead; a single sample is reported as it is."""
    xs = sorted(latencies)
    n = len(xs)
    beyond = 10 if n >= 21 else min(1, n - 1)
    k = n - 1 - beyond
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 2),
            "beyond": beyond, "samples": n}


def host_info(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": mem_kb * 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
    }


def start_session(conf: dict):
    """(spark, get_spark seconds, seconds to the first completed job)."""
    from ehr_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(grace_s: float = 10.0) -> None:
    """Stop the gateway JVM PySpark launched and every process under it
    (its Python workers), and wait until each has ended. ``spark.stop()``
    leaves the JVM running until it sees end of file on its stdin, which
    would otherwise come only after this process had exited."""
    from pyspark import SparkContext

    me = os.getpid()
    pids = [p for p in tree_pids(me) if p != me]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace_s)
        except Exception:  # noqa: BLE001 - then it is killed
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + grace_s
        while any(alive(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(alive(p) for p in pids):
            return


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: corrupt one output before checking it")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ehr_data_pipeline_spark")):
        print("perfbench: run from the repository root "
              "(ehr_data_pipeline_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file Spark and Python write inside the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })
    generate = {"fhir_etl": gen.fhir_corpus, "llm_dedup": gen.llm_tables}[args.workload]
    inputs = generate(os.path.join(work, "inputs"), args.seed, args.size)

    # a SIGTERM also leaves through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        report = run(args, inputs, scratch, tmp, cores)
    finally:
        stop_processes()
        shutil.rmtree(scratch, ignore_errors=True)
    # the self-test asserts this is empty
    report["processes_left"] = [p for p in tree_pids(os.getpid())
                                if p != os.getpid() and alive(p)]
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, result_name(args, args.trace))
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    report.pop("spans", None)
    report.pop("jobs", None)
    report["results_file"] = os.path.relpath(path, root)
    print(json.dumps(report, default=str))
    names = PER_LAYER if args.trace else END_TO_END
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": metrics[n]["value"], "unit": u} for n, u in names.items()},
    }))
    return 0


def result_name(args, trace: int) -> str:
    return f"{args.workload}-s{args.seed}-{args.size}-t{trace}.json"


def run(args, inputs: dict, scratch: str, tmp: str, cores: int) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no HotSpot perf-data file in /tmp either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep the status store's history for the whole run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # the checks' DuckDB work runs while the JVM starts (that cold start is
    # recorded but is not a metric); it must end before set-up is measured
    prepared: dict = {}

    def prepare():
        try:
            prepared.update(WORKLOADS[args.workload].prepare(inputs))
        except Exception as exc:  # noqa: BLE001 - every check then fails with it
            prepared["error"] = repr(exc)

    prep = threading.Thread(target=prepare)
    prep.start()
    rss = Sampler(lambda: (tree_rss_bytes(os.getpid()),), 0.1).start()
    try:
        spark, cold_start, cold_setup = start_session(conf)
        prep.join()
        starts, setups = [], []
        for _ in range(SETUP_REPEATS):
            spark.stop()
            spark, s, t = start_session(conf)
            starts.append(s)
            setups.append(t)
        try:
            return measure(args, spark, inputs, prepared, scratch, cores, rss, {
                "cold_start_s": cold_start, "cold_setup_s": cold_setup,
                "start_s": starts, "setup_s": setups,
            })
        finally:
            spark.stop()
    finally:
        rss.stop()


def measure(args, spark, inputs, prepared, scratch, cores, rss, setup) -> dict:
    rest = SparkRest(spark)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, inputs, prepared, os.path.join(scratch, "out"),
                                  tracer, args.corrupt)
    # cache peaks are sampled during traced runs only
    cache = Sampler(lambda: rest.cache_bytes() if tracer.enabled else None,
                    0.1, width=2).start()
    first_job = max((j["jobId"] for j in rest.jobs()), default=-1) + 1
    jobs: list[dict] = []
    rss.reset()
    start = time.perf_counter()
    cycles = 0
    while True:
        for label, fn in wl.cycle():
            rec = {"label": label, "traced": tracer.enabled, "cycle": cycles}
            with tracer.span(f"job:{label}") as sp:
                t = time.perf_counter()
                try:
                    rec["facts"] = fn()
                    errors = rec["facts"].get("errors")
                    rec["error"] = "; ".join(errors) if errors else None
                except Exception as exc:  # noqa: BLE001 - a failed job is counted
                    rec["facts"], rec["error"] = {}, repr(exc)[:300]
                rec["latency_s"] = time.perf_counter() - t
            rec["span"] = sp["id"] if sp else None
            jobs.append(rec)
        cycles += 1
        if time.perf_counter() - start >= args.seconds:
            break
    wall = time.perf_counter() - start
    peak_rss = rss.read()[0]
    tracer.enabled = False
    cache.stop()
    # Spark jobs and stages of the timed loop only
    spark_jobs = [j for j in rest.jobs() if j["jobId"] >= first_job]
    loop_stages = {sid for j in spark_jobs for sid in j["stageIds"]}
    stages = [s for s in rest.stages() if s["stageId"] in loop_stages]

    t0 = time.perf_counter()
    for j in jobs:
        check = j["facts"].pop("check", None)
        if check is not None and not j["error"]:
            try:
                j["error"] = prepared.get("error") or check()
            except Exception as exc:  # noqa: BLE001 - a failed check fails the job
                j["error"] = f"check raised {exc!r}"[:300]
    check_s = time.perf_counter() - t0
    attempted, failed = len(jobs), sum(1 for j in jobs if j["error"])
    lat = [j["latency_s"] for j in jobs]
    facts = [j["facts"] for j in jobs]
    shuffle_disk = sum(s.get("shuffleWriteBytes", 0) + s.get("diskBytesSpilled", 0)
                       for s in stages)
    input_bytes = sum(f.get("input_bytes", 0) for f in facts)
    t = tail(lat)
    e2e = {
        "setup_s": statistics.median(setup["setup_s"]),
        "records_per_s": sum(f.get("records", 0) for f in facts) / wall,
        "job_p50_s": statistics.median(lat),
        "job_tail_s": t["value"],
        "peak_rss_mb": peak_rss / 1e6,
        # a run whose jobs all failed has no input bytes to divide by
        "disk_bytes_per_input_byte":
            (sum(f.get("disk_bytes", 0) for f in facts) + shuffle_disk) / max(input_bytes, 1),
        "failed_frac": failed / attempted,
    }
    units = dict(END_TO_END, **REPORTED)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "seconds": args.seconds,
        "host": host_info(spark),
        "inputs": dict(inputs, storage_memory_bytes=storage_memory(rest)),
        "setup": setup, "wall_s": wall, "check_s": check_s, "cycles": cycles,
        "attempted": attempted, "failed": failed,
        "failures": [f"{j['label']}#{i}: {j['error']}" for i, j in enumerate(jobs)
                     if j["error"]],
        "job_tail": t,
        "end_to_end": {n: {"value": v, "unit": units[n]} for n, v in e2e.items()},
    }
    report["inputs"]["fits_in_storage_memory"] = (
        inputs["input_bytes"] < report["inputs"]["storage_memory_bytes"])
    if args.trace:
        untraced = os.path.join(os.getcwd(), ".perfbench", "results", result_name(args, 0))
        layer = per_layer_metrics(wl, tracer, rest, jobs, spark_jobs, stages, cores,
                                  cache.read(), setup, untraced)
        report["per_layer"] = {n: {"value": layer.get(n, 0.0), "unit": u}
                               for n, u in PER_LAYER.items()}
        report["per_layer_extra"] = {k: v for k, v in layer.items() if k not in PER_LAYER}
        report["spans"] = tracer.spans
    report["jobs"] = [{k: v for k, v in j.items() if k != "facts"} for j in jobs]
    return report


def storage_memory(rest) -> int:
    return sum(e.get("maxMemory", 0) for e in rest.get("/executors"))


if __name__ == "__main__":
    sys.exit(main())
