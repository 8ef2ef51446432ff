"""Self-test of the benchmark at tiny size (about 5 minutes).

    python3 perfbench/selftest.py

Run from the repository root. It asserts that:

- every metric named in BENCHMARK.json prints with its unit, untraced and
  traced, for both workloads, and the report line carries ``failed_frac``;
- a deliberately corrupted output is counted as a failed job;
- traced spans nest (every child inside its parent) and every span's self
  time is >= 0;
- in a directory holding only BENCHMARK.json and perfbench/, the command
  exits non-zero without printing a result;
- no Spark JVM or Python worker outlives a run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def spark_pids() -> set[int]:
    """Living Spark JVMs and PySpark worker daemons, from /proc."""
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{name}/stat") as f:
                zombie = f.read().rsplit(")", 1)[1].split()[0] == "Z"
        except OSError:
            continue  # process ended while listing
        if not zombie and (b"org.apache.spark" in cmd or b"pyspark.daemon" in cmd):
            out.add(int(name))
    return out


def bench(workload: str, trace: int, *extra: str, cwd: str | None = None):
    """(exit code, stdout lines) of one tiny run, which must leave no
    Spark process behind."""
    before = spark_pids()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    left = spark_pids() - before
    assert not left, f"{workload} trace={trace} left Spark processes {sorted(left)}"
    return proc.returncode, [ln for ln in proc.stdout.splitlines() if ln.strip()]


def check_metrics(spec: dict, workload: str, trace: int, lines: list[str]) -> dict:
    report, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    names = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in names}
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == want, (workload, trace, set(got) ^ set(want))
    for n, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (n, m)
    assert report["end_to_end"]["failed_frac"]["unit"] == "ratio"
    assert result["correct"] and result["failed"] == 0, report["failures"]
    assert report["processes_left"] == [], report["processes_left"]
    return report


def check_spans(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    assert spans, "no spans recorded"
    for s in spans:
        assert s["end"] >= s["start"], s
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (s, p)
        kids = [k for k in spans if k["parent"] == s["id"]]
        self_s = (s["end"] - s["start"]) - sum(k["end"] - k["start"] for k in kids)
        assert self_s >= 0, (s, self_s)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    for workload in ("fhir_etl", "llm_dedup"):
        for trace in (0, 1):
            code, lines = bench(workload, trace)
            assert code == 0, (workload, trace, code)
            report = check_metrics(spec, workload, trace, lines)
            if trace:
                with open(os.path.join(root, report["results_file"])) as f:
                    check_spans(json.load(f)["spans"])
            print(f"ok: {workload} trace={trace}")

    code, lines = bench("llm_dedup", 0, "--corrupt")
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])
    assert code == 0 and result["failed"] >= 1 and not result["correct"], result
    assert report["end_to_end"]["failed_frac"]["value"] > 0, report["end_to_end"]
    print("ok: corrupted output counted in failed_frac")

    with tempfile.TemporaryDirectory(dir=os.path.join(root, ".perfbench")) as bare:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = bench("fhir_etl", 0, cwd=bare)
        assert code != 0 and not lines, (code, lines)
    print("ok: fails without the engine")
    return 0


if __name__ == "__main__":
    sys.exit(main())
