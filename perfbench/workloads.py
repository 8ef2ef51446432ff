"""The benchmark workloads. Each one drives the engine only through its
public functions. ``cycle()`` returns the jobs of one balanced pass; the
harness stops only at cycle boundaries, so every run sees the same job
mix. A job returns a dict of facts (records, input and disk bytes,
per-layer numbers) whose ``check`` entry verifies the job's output after
the timed loop and returns the failure reason or None.
``traced_extras()`` adds layer metrics that need work beyond the jobs
(traced runs only).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

from gen import ENTITY_TYPES, dir_stats


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def oracle_check(pdf, oracle_path: str, name: str) -> str | None:
    """Compare a collected result with a cached DuckDB oracle result using
    the test suite's comparator. Returns the failure reason or None."""
    import duckdb

    from tests.oracle_utils import compare_spark_vs_oracle

    con = duckdb.connect()
    try:
        compare_spark_vs_oracle(pdf, con, f"SELECT * FROM '{oracle_path}'", name=name)
    except AssertionError as exc:
        return str(exc)[:300]
    finally:
        con.close()
    return None


def cached_oracle(cache_dir: str, name: str, sql: str, views: dict[str, str]) -> str:
    """Run a DuckDB oracle once per input directory and keep its result as
    parquet next to the inputs (the slow oracles are all-pairs joins)."""
    import duckdb

    path = os.path.join(cache_dir, f"oracle_{name}.parquet")
    if not os.path.exists(path):
        con = duckdb.connect()
        try:
            for view, src in views.items():
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM {src}")
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT parquet)")
        finally:
            con.close()
        os.replace(f"{path}.tmp", path)
    return path


class Workload:
    name = ""

    def __init__(self, spark, inputs: dict, prepared: dict, scratch: str, tracer,
                 corrupt: bool):
        self.spark = spark
        self.inputs = inputs
        self.prepared = prepared
        self.scratch = scratch
        self.tracer = tracer
        # self-test only: the first checked output is corrupted
        self.corrupt = corrupt

    def corrupt_next(self) -> bool:
        hit, self.corrupt = self.corrupt, False
        return hit

    def traced_extras(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# fhir_etl
# ---------------------------------------------------------------------------

class FhirEtl(Workload):
    """The reference's DAG: one ``run_pipeline`` over a bundle directory
    with its parquet sink and its quality-report collect per job."""

    name = "fhir_etl"

    def cycle(self):
        return [("run_pipeline", self.job)]

    def job(self) -> dict:
        from ehr_data_pipeline_spark.fhir.pipeline import run_pipeline

        out = os.path.join(self.scratch, f"job{time.monotonic_ns()}")
        with self.tracer.span("fhir.pipeline"):
            res = run_pipeline(self.spark, self.inputs["corpus"], output_dir=out,
                               quality=True)
        with self.tracer.span("fhir.quality.collect"):
            report = res.quality_report.collect()
        size, files = dir_stats(out)
        return {"records": self.inputs["records"],
                "input_bytes": self.inputs["input_bytes"],
                "disk_bytes": size, "sinks.bytes_written": size,
                "sinks.files_written": files,
                "check": lambda: self.check(out, res.row_counts, len(report))}

    def check(self, out: str, observed: dict, report_rows: int) -> str | None:
        """Written rows per entity == the generator's prediction, and the
        written Patient table == the ``fhir_pipeline_cleaned_patients``
        DuckDB oracle replayed over the generated corpus."""
        import pandas as pd
        import pyarrow.parquet as pq

        if self.corrupt_next():
            _drop_one_row(os.path.join(out, "Patient"))
        expected = self.inputs["expected_rows"]
        written = {rt: pq.ParquetDataset(os.path.join(out, rt)).read().num_rows
                   for rt in ENTITY_TYPES}
        if written != expected:
            return f"written rows {written} != predicted {expected}"
        if observed != expected:
            return f"observed rows {observed} != predicted {expected}"
        if report_rows == 0:
            return "empty quality report"
        return oracle_check(pd.read_parquet(os.path.join(out, "Patient")),
                            self.prepared["oracle"], "fhir_pipeline_cleaned_patients")

    @staticmethod
    def prepare(inputs: dict) -> dict:
        """The DuckDB oracle of the check, computed before any job runs."""
        from ehr_data_pipeline_spark.queries import _FHIR_FIXTURE_DIR, REGISTRY

        corpus = inputs["corpus"]
        sql = REGISTRY["fhir_pipeline_cleaned_patients"].oracle.replace(
            _FHIR_FIXTURE_DIR, os.path.abspath(corpus))
        return {"oracle": cached_oracle(os.path.dirname(corpus), "patients", sql, {})}

    def traced_extras(self) -> dict:
        """The driver-side build alone (``run_pipeline`` without a sink),
        then self time per layer by prefix forcing: each step forces the
        output of one more layer (to the noop sink; the last step writes
        the cleaned tables through the parquet sink instead), and the
        difference between consecutive steps is that layer's self time.
        Noise can make a small self time (the sink's) read below 0."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ehr_data_pipeline_spark.fhir.clean import clean_all
        from ehr_data_pipeline_spark.fhir.extract import extract_all
        from ehr_data_pipeline_spark.fhir.ingest import read_and_route
        from ehr_data_pipeline_spark.fhir.pipeline import run_pipeline
        from ehr_data_pipeline_spark.fhir.quality import fhir_quality_report
        from ehr_data_pipeline_spark.sinks import write_entity_tables

        spark, corpus = self.spark, self.inputs["corpus"]
        with self.tracer.span("fhir.pipeline.build") as sp:
            run_pipeline(spark, corpus, output_dir=None, quality=True).release()
        facts = {"fhir.pipeline.build_s": sp["end"] - sp["start"]}

        extracted: list[Observation] = []

        def ingest():
            for df in read_and_route(spark, corpus).values():
                _noop(df)

        def extract():
            for df in extract_all(read_and_route(spark, corpus)).values():
                extracted.append(Observation())
                _noop(df.observe(extracted[-1], F.count(F.lit(1)).alias("n")))

        def clean(sink, quality=False):
            ext = extract_all(read_and_route(spark, corpus))
            sink(clean_all(ext))
            if quality:
                fhir_quality_report(ext).collect()

        def to_noop(tables):
            for df in tables.values():
                _noop(df)

        out = os.path.join(self.scratch, "prefix_sink")
        steps = [
            ("fhir.ingest", ingest),
            ("fhir.extract", extract),
            ("fhir.clean", lambda: clean(to_noop)),
            ("fhir.quality", lambda: clean(to_noop, quality=True)),
            ("sinks", lambda: clean(lambda t: write_entity_tables(t, out), quality=True)),
        ]
        # two passes, keeping each step's faster time: the first pass
        # still warms the JIT for the later steps, and interference only
        # ever adds time
        cum = {}
        for _ in range(2):
            extracted.clear()
            with self.tracer.span("fhir.prefix"):
                for name, fn in steps:
                    with self.tracer.span(f"prefix:{name}") as sp:
                        fn()
                    cum[name] = min(cum.get(name, float("inf")), sp["end"] - sp["start"])
        prev = 0.0
        for name, _ in steps:
            facts[f"{name}.self_s"] = cum[name] - prev
            facts[f"{name}.prefix_s"] = cum[name]
            prev = cum[name]
        n_extracted = sum(o.get["n"] for o in extracted)
        facts["fhir.clean.kept_frac"] = sum(self.inputs["expected_rows"].values()) / n_extracted
        return facts


def _drop_one_row(table_dir: str) -> None:
    """Self-test corruption: rewrite one part file of a written table
    without its first row."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(table_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(table_dir, name)
            t = pq.read_table(path)
            if t.num_rows:
                pq.write_table(t.slice(1), path)
                return


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------

class LlmDedup(Workload):
    """The LLM-data operators, one-shot and incremental. One-shot: three
    registry queries, one per job, each collected into Python as Arrow
    and checked against its DuckDB twin from ``queries.oracles()``.
    Incremental: per cycle two batches of events and documents land in
    watched directories, then one drain each (one job each) of rollup and
    SCD2 maintenance over the events and of near-dup maintenance over the
    documents, each checked against its one-shot batch twin."""

    name = "llm_dedup"
    queries = {
        "doc_minhash_lsh_pairs": "operators.text_dedup",
        "doc_simhash_band_pairs": "operators.text_dedup",
        "emb_semantic_dedup": "operators.similarity",
    }

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.sf_dir = self.inputs["sf_dir"]
        self.rounds = 0

    def cycle(self):
        d = os.path.join(self.scratch, f"round{self.rounds}")
        self.rounds += 1
        landed = self._land(d)
        return [(q, lambda q=q: self.query_job(q)) for q in self.queries] + [
            (f"drain_{name}", lambda name=name: self.drain_job(d, name, landed))
            for name in ("rollup", "scd2", "near_dedup")]

    # -- one-shot registry queries ------------------------------------------

    def query_job(self, q: str) -> dict:
        from ehr_data_pipeline_spark.queries import REGISTRY

        module = self.queries[q]
        with self.tracer.span(f"{module}.build", query=q):
            df = REGISTRY[q].fn(self.spark, self.sf_dir)
        with self.tracer.span(f"{module}.exec", query=q):
            table = df.toArrow()
        # operators persist their indexes; a later job must not reuse them
        self.spark.catalog.clearCache()
        table_name = "documents" if q.startswith("doc_") else "embeddings"
        return {"records": self.inputs["rows"][table_name],
                "input_bytes": os.path.getsize(f"{self.sf_dir}/{table_name}.parquet"),
                "disk_bytes": 0, "check": lambda: self.check_query(q, table)}

    def check_query(self, q: str, table) -> str | None:
        pdf = table.to_pandas()
        if self.corrupt_next():
            pdf = pdf.iloc[1:]
        return oracle_check(pdf, self.prepared["oracles"][q], q)

    def traced_extras(self) -> dict:
        """Catalyst phase times of each query's own plan (analysis,
        optimisation, planning), averaged over the queries. Planning is
        forced here, outside the timed jobs, because the timed collect
        plans its own copy of the query."""
        from ehr_data_pipeline_spark.queries import REGISTRY

        phases = defaultdict(list)
        for q in self.queries:
            qe = REGISTRY[q].fn(self.spark, self.sf_dir)._jdf.queryExecution()
            qe.executedPlan()
            tracked = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = tracked.get(ph)
                phases[ph].append(opt.get().durationMs() if opt.isDefined() else 0)
            self.spark.catalog.clearCache()
        return {f"catalyst.{ph}_ms": statistics.mean(v) for ph, v in phases.items()}

    # -- incremental maintenance --------------------------------------------

    def _land(self, d: str) -> dict[str, tuple[int, int]]:
        """Copy the round's batch files into the watched directories, one
        directory per batch, with increasing modification times so the
        file source reads them in batch (event-time) order. Returns
        ``{kind: (rows, bytes)}`` landed."""
        import pyarrow.parquet as pq

        landed, now = {"events": (0, 0), "docs": (0, 0)}, time.time()
        for b in range(self.inputs["batches"]):
            for kind in landed:
                src = os.path.join(self.sf_dir, f"{kind}_b{b}.parquet")
                dst = os.path.join(d, f"{kind}_src", f"b{b}", "part-0.parquet")
                os.makedirs(os.path.dirname(dst))
                shutil.copyfile(src, dst)
                os.utime(dst, (now - 60 + b, now - 60 + b))
                rows, size = landed[kind]
                landed[kind] = (rows + pq.read_metadata(src).num_rows,
                                size + os.path.getsize(src))
        return landed

    def _stream(self, d: str, kind: str):
        schema = _spark_schema(os.path.join(self.sf_dir, f"{kind}_b0.parquet"))
        return (self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(f"{d}/{kind}_src/*/*.parquet"))

    # drain -> (source kind, state directories, checkpoint directory)
    DRAINS = {
        "rollup": ("events", ("roll",), "roll_ck"),
        "scd2": ("events", ("scd",), "scd_ck"),
        "near_dedup": ("docs", ("ndi", "ndf"), "nd_ck"),
    }

    def drain_job(self, d: str, name: str, landed: dict) -> dict:
        """One availableNow drain of the landed batches into maintained
        state: rollup or SCD2 over the events, near-dup over the docs."""
        from ehr_data_pipeline_spark import streaming

        kind, state, ckpt = self.DRAINS[name]
        with self.tracer.span(f"streaming.{name}") as sp:
            stream = self._stream(d, kind)
            if name == "rollup":
                q = streaming.run_rollup_maintenance(stream, f"{d}/roll", f"{d}/{ckpt}")
            elif name == "scd2":
                q = streaming.run_scd2_maintenance(
                    stream, f"{d}/scd", f"{d}/{ckpt}", ["user_id"], ["event_type"],
                    tiebreak="event_id")
            else:
                q = streaming.run_near_dedup_maintenance(
                    stream, f"{d}/ndi", f"{d}/ndf", f"{d}/{ckpt}")
        if sp is not None:
            sp["stream_run_id"] = str(q.runId)
        state_bytes = sum(dir_stats(f"{d}/{s}")[0] for s in state)
        facts = {"records": landed[kind][0], "input_bytes": landed[kind][1],
                 "disk_bytes": state_bytes + dir_stats(f"{d}/{ckpt}")[0],
                 "streaming.state_bytes": state_bytes, "streaming.still_active": 0,
                 "progress": q.recentProgress,
                 "check": lambda: self.check_drain(d, name)}
        # drain accounting: a drain that returns still running (its
        # awaitTermination timed out) or failed is stopped and counted
        active, exc = q.isActive, q.exception()
        if active or exc is not None:
            q.stop()
            facts["streaming.still_active"] = int(active)
            facts["errors"] = [f"{name}: {'still active' if active else exc}"]
        return facts

    def check_drain(self, d: str, name: str) -> str | None:
        """The maintained state == its one-shot batch twin, as in
        tests/test_streaming.py; the near-dup twin is the drop rule
        replayed in DuckDB (``prepare``)."""
        from ehr_data_pipeline_spark import streaming
        from ehr_data_pipeline_spark.operators.scd import scd2_compress
        from ehr_data_pipeline_spark.operators.temporal import rollup_finalize, time_rollup

        spark = self.spark

        def canon(df):
            return sorted(tuple(r) for r in df.collect())

        if name == "near_dedup":
            got = {r["doc_id"] for r in
                   streaming.read_near_dedup_fresh(spark, f"{d}/ndf").collect()}
            want = self.prepared["fresh_docs"]
            if got != want:
                return f"near-dedup kept {len(got)} docs, the drop rule keeps {len(want)}"
            return None
        events = spark.read.schema(
            _spark_schema(os.path.join(self.sf_dir, "events_b0.parquet"))
        ).parquet(f"{d}/events_src/*/*.parquet")
        if name == "rollup":
            if canon(streaming.read_rollup(spark, f"{d}/roll")) != canon(
                    rollup_finalize(time_rollup(events))):
                return "rollup state differs from the one-shot rollup"
            return None
        cols = ["user_id", "event_type", "version", "valid_from", "valid_to",
                "is_current", "n_events"]
        if canon(streaming.read_scd2_dimension(spark, f"{d}/scd").select(*cols)) != canon(
                scd2_compress(events, ["user_id"], ["event_type"],
                              tiebreak="event_id").select(*cols)):
            return "SCD2 dimension differs from the one-shot compress"
        return None

    @classmethod
    def prepare(cls, inputs: dict) -> dict:
        """DuckDB work of the checks, done before any job runs: the query
        oracles (cached per input directory) and the near-dup twin."""
        from ehr_data_pipeline_spark.queries import oracles

        sf_dir, sql = inputs["sf_dir"], oracles()
        views = {t: f"'{sf_dir}/{t}.parquet'" for t in ("documents", "embeddings")}
        return {"oracles": {q: cached_oracle(sf_dir, q, sql[q], views) for q in cls.queries},
                "fresh_docs": near_dedup_twin(sf_dir, inputs["batches"])}


def near_dedup_twin(sf_dir: str, n_batches: int) -> set[int]:
    """Fresh doc ids under near-dup maintenance's drop rule: a batch
    doc drops iff it band-collides and verifies Jaccard >= 0.6 against
    an indexed doc (one admitted by an earlier batch) or against a
    lower-id doc of its own batch. Pairs come from the
    ``doc_minhash_lsh_pairs`` oracle without its signature-agreement
    prefilter, which the maintenance sink does not apply."""
    import duckdb

    from ehr_data_pipeline_spark import queries

    sql = queries.oracles()["doc_minhash_lsh_pairs"]
    clause = f"AND {queries._SIG_AGREE_SQL}"
    if clause not in sql:
        raise RuntimeError("doc_minhash_lsh_pairs oracle changed shape")
    batches = [f"'{sf_dir}/docs_b{b}.parquet'" for b in range(n_batches)]
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"[{', '.join(batches)}])")
        pairs = con.execute(sql.replace(clause, "")).fetchall()
        ids = [con.execute(f"SELECT doc_id FROM {b}").fetchall() for b in batches]
    finally:
        con.close()
    near = defaultdict(set)
    for a, b, _ in pairs:
        near[a].add(b)
        near[b].add(a)
    index: set[int] = set()
    for batch in ids:
        batch_ids = {r[0] for r in batch}
        fresh = {x for x in batch_ids
                 if not near[x] & index and not any(y < x for y in near[x] & batch_ids)}
        index |= fresh
    return index


def _spark_schema(path: str):
    """Spark schema of a parquet file, read from its footer (the file
    stream source needs an explicit schema)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(path))


WORKLOADS = {w.name: w for w in (FhirEtl, LlmDedup)}
