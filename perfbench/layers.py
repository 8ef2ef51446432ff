"""Per-layer metrics of a traced run, from the benchmark's spans, the
facts each job returned, and Spark's own counters for the jobs each span
ran (matched by job group; streaming jobs by their query's run id)."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from tracing import metric_value, stage_rollup


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_metrics(wl, tracer, rest, jobs, spark_jobs, stages, cores,
                      cache_peak, setup, untraced_path: str) -> dict:
    out: dict[str, float] = {"session.start_s": statistics.median(setup["start_s"])}
    traced = [j for j in jobs if j["traced"]]
    out["trace.job_p50_s"] = statistics.median(j["latency_s"] for j in traced)
    if os.path.exists(untraced_path):
        # the tracing overhead: this run's jobs against the same jobs of
        # the untraced run with the same workload, seed and size
        with open(untraced_path) as f:
            plain = json.load(f)["end_to_end"]["job_p50_s"]["value"]
        out["trace.overhead_s"] = out["trace.job_p50_s"] - plain
        out["trace.overhead_frac"] = out["trace.overhead_s"] / plain

    spans = tracer.spans
    by_group = defaultdict(list)
    for sj in spark_jobs:
        by_group[sj.get("jobGroup")].append(sj)
    stage_attempts = defaultdict(list)
    for s in stages:
        stage_attempts[s["stageId"]].append(s)

    def groups_of(sid: int) -> set[str]:
        gs = tracer.subtree_groups(sid)
        return gs | {s["stream_run_id"] for s in spans
                     if s.get("stream_run_id") and s["group"] in gs}

    # exec.* per traced job, then averaged over the traced jobs
    per_job, traced_job_ids, walls = [], set(), []
    for j in traced:
        sjs = [x for g in groups_of(j["span"]) for x in by_group[g]]
        traced_job_ids |= {x["jobId"] for x in sjs}
        sts = [a for x in sjs for sid in set(x["stageIds"]) for a in stage_attempts[sid]
               if a.get("status") != "SKIPPED"]
        roll = stage_rollup(rest, sts)
        roll["exec.jobs"] = len(sjs)
        per_job.append(roll)
        walls.append(j["latency_s"])
    # a Spark job of the timed loop that no span claims would bias exec.*
    out["exec.unattributed_jobs"] = len(spark_jobs) - len(traced_job_ids)
    for k in per_job[0] if per_job else ():
        out[k] = _mean(r[k] for r in per_job)
    if per_job:
        # Σ executor run time ÷ (Σ job wall × cores)
        out["exec.core_util"] = sum(r["exec.run_s"] for r in per_job) / (sum(walls) * cores)
        out["exec.task_skew"] = statistics.median(r["exec.task_skew"] for r in per_job)

    # build / exec spans of the registry workloads
    builds = defaultdict(list)
    for s in spans:
        if s["name"].endswith((".build", ".exec")) and s["name"].startswith("operators."):
            builds[s["name"]].append(s)
    all_builds = [s for n, ss in builds.items() if n.endswith(".build") for s in ss]
    if all_builds:
        out["queries.build_s"] = _mean(s["end"] - s["start"] for s in all_builds)
        out["queries.build_jobs"] = _mean(len(by_group[s["group"]]) for s in all_builds)
    for name, ss in builds.items():
        module, kind = name.rsplit(".", 1)
        out[f"{module}.{kind}_s"] = _mean(s["end"] - s["start"] for s in ss)
        if kind == "build":
            out[f"{module}.build_jobs"] = _mean(len(by_group[s["group"]]) for s in ss)

    # SQL operator metrics of the traced jobs: Python workers, JSON scans
    rows = pybytes = json_bytes = 0.0
    for e in rest.sql():
        ids = set(e.get("successJobIds", [])) | set(e.get("failedJobIds", []))
        if not ids & traced_job_ids:
            continue
        for node in e.get("nodes", []):
            m = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if node["nodeName"] in ("MapInPandas", "PythonMapInArrow", "MapInArrow"):
                rows += metric_value(m.get("number of output rows", "0"))
                pybytes += sum(metric_value(v) for k, v in m.items()
                               if k.startswith("data sent to Python")
                               or k.startswith("data returned from Python"))
            if node["nodeName"] == "Scan json":
                json_bytes += metric_value(m.get("size of files read", "0"))
    if traced:
        out["python.rows"] = rows / len(traced)
        out["python.bytes"] = pybytes / len(traced)

    facts = [j["facts"] for j in traced]
    for k in ("sinks.bytes_written", "sinks.files_written"):
        if any(k in f for f in facts):
            out[k] = _mean(f.get(k, 0) for f in facts)
    out["cache.mem_bytes"], out["cache.disk_bytes"] = cache_peak

    drains = [f for f in facts if "progress" in f]
    progress = [p for f in drains for p in f["progress"]]
    if progress:
        out["streaming.batches"] = len(progress) / len(drains)
        out["streaming.input_rows"] = sum(p["numInputRows"] for p in progress) / len(drains)
        for key, name in (("triggerExecution", "batch_ms"), ("addBatch", "add_batch_ms"),
                          ("commitOffsets", "commit_ms")):
            out[f"streaming.{name}"] = _mean(p["durationMs"].get(key, 0) for p in progress)
        out["streaming.state_bytes"] = max(f["streaming.state_bytes"] for f in drains)
        out["streaming.still_active"] = sum(
            j["facts"].get("streaming.still_active", 0) for j in jobs)

    tracer.enabled = True
    extras = wl.traced_extras()
    tracer.enabled = False
    out.update(extras)
    if wl.name == "fhir_etl" and traced:
        job_s = statistics.median(j["latency_s"] for j in traced)
        out["fhir.ingest.read_amp"] = json_bytes / len(traced) / wl.inputs["input_bytes"]
        out["fhir.unattributed_s"] = job_s - extras["sinks.prefix_s"]
        out["fhir.job_s"] = job_s
    return out
