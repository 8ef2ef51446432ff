"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical files. Inputs are cached under the checkout, one
directory per (workload, seed, size), and a ``_COMPLETE`` marker makes a
rerun skip generation. Generation reads only ``tests/fixtures/fhir/`` (for
the FHIR templates) and never writes outside ``cache_dir``.

The LLM tables are synthesised here with the schema of the engine's test
data (``documents``, ``embeddings``, ``events``) rather than copied from
it, so the benchmark needs nothing outside its checkout.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload. "bench" is what the benchmark measures; "tiny"
# is the self-test size (sf0.001-sized tables, ~100 bundles). At both sizes
# every working set is a few MB, far below Spark's storage memory, so all
# of it fits in cache (see README.md).
SIZES = {
    "bench": {
        "fhir_bundles": 200,
        "docs": 250,
        # above 31 * 64 distinct vectors, semantic dedup's centroid
        # assignment takes the mapInPandas path (similarity.py)
        "vectors": 2100,
        "batches": 2,
        "batch_events": 1000,
        "batch_docs": 60,
    },
    "tiny": {
        "fhir_bundles": 100,
        "docs": 150,
        "vectors": 300,
        "batches": 2,
        "batch_events": 300,
        "batch_docs": 30,
    },
}

FIXTURE_DIR = os.path.join("tests", "fixtures", "fhir")

# clean : dirty : duplicate-stress : minimal — mostly clean traffic with a
# steady share of each degenerate shape, as in a real feed
FHIR_TEMPLATES = (
    ("bundle_alice.json", 5),
    ("bundle_bob_dirty.json", 2),
    ("bundle_dupes.json", 1),
    ("bundle_minimal.json", 2),
)

ENTITY_TYPES = ("Patient", "Encounter", "Condition", "Observation",
                "Immunization", "CarePlan")


def _ref(resource: dict, field: str):
    v = resource.get(field)
    return v.get("reference") if isinstance(v, dict) else None


def predict_entity_rows(bundle: dict) -> dict[str, int]:
    """Rows each entity table keeps for one bundle after cleaning, derived
    from the reference pipeline's rules directly on the JSON (independent
    of the engine): a Patient, Encounter, Condition or Observation row
    needs its id (Encounter also its patient reference; Condition and
    Observation their subject reference) and duplicates of an id keep one
    row; an Immunization needs its encounter and patient references;
    CarePlan keeps every row; other resource types are dropped."""
    ids: dict[str, set] = {rt: set() for rt in ENTITY_TYPES}
    rows = {"Immunization": 0, "CarePlan": 0}
    for entry in bundle.get("entry", []):
        r = entry.get("resource") or {}
        rt, rid = r.get("resourceType"), r.get("id")
        if rt == "Patient" and rid is not None:
            ids[rt].add(rid)
        elif rt == "Encounter" and rid is not None and _ref(r, "patient"):
            ids[rt].add(rid)
        elif rt in ("Condition", "Observation") and rid is not None \
                and _ref(r, "subject"):
            ids[rt].add(rid)
        elif rt == "Immunization" and _ref(r, "encounter") and _ref(r, "patient"):
            rows[rt] += 1
        elif rt == "CarePlan":
            rows[rt] += 1
    return {rt: rows.get(rt, len(ids[rt])) for rt in ENTITY_TYPES}


def _uniquify(template: str, i: int) -> str:
    """Suffix every resource id and urn:uuid reference with the bundle
    index, keeping intra-bundle references consistent."""
    s = re.sub(r"urn:uuid:(\w+)", rf"urn:uuid:\g<1>_b{i}", template)
    return re.sub(r'"id": "(\w+)"', rf'"id": "\g<1>_b{i}"', s)


def _cached(path: str, build) -> dict:
    """Run ``build(tmp_dir) -> manifest`` once per path; later calls read
    the manifest back. Building into a temp dir and renaming keeps an
    interrupted run from leaving a half-written input behind."""
    marker = os.path.join(path, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = build(tmp)
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return manifest


def fhir_corpus(cache_dir: str, seed: int, size: str) -> dict:
    """A directory of FHIR bundles drawn from the four fixture templates in
    a seeded mix, each with globally unique ids. The manifest carries the
    per-entity row counts the cleaned tables must have."""
    n = SIZES[size]["fhir_bundles"]

    def build(d: str) -> dict:
        texts = {}
        for name, _ in FHIR_TEMPLATES:
            with open(os.path.join(FIXTURE_DIR, name)) as f:
                texts[name] = f.read()
        names = [name for name, _ in FHIR_TEMPLATES]
        weights = np.array([w for _, w in FHIR_TEMPLATES], dtype=float)
        picks = np.random.default_rng(seed).choice(
            len(names), size=n, p=weights / weights.sum())
        expected = {rt: 0 for rt in ENTITY_TYPES}
        corpus = os.path.join(d, "bundles")
        os.makedirs(corpus)
        for i, k in enumerate(picks):
            body = _uniquify(texts[names[k]], i)
            for rt, c in predict_entity_rows(json.loads(body)).items():
                expected[rt] += c
            with open(os.path.join(corpus, f"bundle_{i:06d}.json"), "w") as f:
                f.write(body)
        return {
            "records": n,
            "input_bytes": dir_stats(corpus)[0],
            "expected_rows": expected,
            "mix": {names[k]: int((picks == k).sum()) for k in range(len(names))},
        }

    path = os.path.join(cache_dir, f"fhir_etl-s{seed}-{size}")
    manifest = _cached(path, build)
    manifest["corpus"] = os.path.join(path, "bundles")
    return manifest


def _vocab(rng: np.random.Generator, n: int = 3000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, size=int(rng.integers(3, 10))))
            for _ in range(n)]


def _dup_plan(rng: np.random.Generator, n: int, frac: float = 0.1,
              copies: int = 2) -> list[tuple[int, int]]:
    """(copy_index, original_index) pairs: ``frac`` of all items belong to
    a duplicate group of one original and ``copies`` copies at random
    positions — the realistic web-dedup shape, where most items have no
    near-duplicate."""
    order = rng.permutation(n)
    n_orig = int(n * frac / (1 + copies))
    originals, rest = order[:n_orig], order[n_orig:]
    slots = rest[: n_orig * copies]
    return [(int(slots[j * copies + c]), int(o))
            for j, o in enumerate(originals) for c in range(copies)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = _vocab(rng)
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(15, 80))))
             for _ in range(n)]
    for copy, orig in _dup_plan(rng, n):
        toks = texts[orig].split(" ")
        if rng.random() < 0.5:  # near copy: one token replaced
            toks[int(rng.integers(len(toks)))] = str(rng.choice(vocab))
        texts[copy] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "es", "fr", "de", "zh"], size=n)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 5, size=n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.15, size=(n, dim)).astype(np.float32)
    for copy, orig in _dup_plan(rng, n):
        noise = rng.normal(0.0, 1e-3, size=dim) if rng.random() < 0.5 else 0.0
        vecs[copy] = (vecs[orig] + noise).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int, id0: int, day: int) -> pa.Table:
    """One day of events; day ``b`` starts after every event of day
    ``b-1``, so files landed in day order keep event time append-only per
    user (the SCD2 maintainer's precondition)."""
    start = np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(day, "D")
    offs = np.sort(rng.integers(0, 86_400_000_000, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(id0, id0 + n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 200, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n)),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, size=n)]),
    })


def llm_tables(cache_dir: str, seed: int, size: str) -> dict:
    """``documents`` and ``embeddings`` parquet tables with seeded
    realistic duplicates (10% of items in a group of an original and two
    copies, half of the copies perturbed slightly), plus the batch files
    of one maintenance round: batch ``b`` holds one day of events and the
    next block of document ids, and some documents repeat (or nearly
    repeat) documents of other batches."""
    sz = SIZES[size]

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        pq.write_table(_documents(rng, sz["docs"]), f"{d}/documents.parquet")
        pq.write_table(_embeddings(rng, sz["vectors"]), f"{d}/embeddings.parquet")
        ne, nd = sz["batch_events"], sz["batch_docs"]
        docs = _documents(rng, sz["batches"] * nd)
        for b in range(sz["batches"]):
            pq.write_table(_events(rng, ne, b * ne, b), f"{d}/events_b{b}.parquet")
            pq.write_table(docs.slice(b * nd, nd), f"{d}/docs_b{b}.parquet")
        return {
            "rows": {"documents": sz["docs"], "embeddings": sz["vectors"]},
            "batches": sz["batches"],
            "input_bytes": dir_stats(d)[0],
        }

    path = os.path.join(cache_dir, f"llm_dedup-s{seed}-{size}")
    manifest = _cached(path, build)
    manifest["sf_dir"] = path
    return manifest


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files exclude Spark's
    markers and checksum files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if not n.startswith(("_", ".")):
                files += 1
    return size, files
