"""Equivalence pins for the r15 optimization round's expression rewrites.

Two rewrite families this round:

1. HOF-interpreter-tax sweep (continuing r14): winnowing k-gram stream +
   sliding-window minima, word n-gram extraction (contamination /
   substring-dedup windows / ngrams), BPE pair counts. Each rewrite
   replaced an interpreted ``transform(sequence(...), ...)`` shape with a
   native regex scan / zip_with doubling / arrays_zip form.
2. Driver-side construction tax: the k·dim-literal centroid-distance
   expression and the 60/64-term SimHash aggregate are now rendered as
   ONE SQL string per expression (``F.expr``) instead of thousands of
   py4j Column-builder calls (measured 1.3–1.8 s of driver time per
   ivf_knn/simhash query call at sf0.1 — and driver work is why
   emb_semantic_dedup scaled BACKWARDS with cores in PERF_r14).

These tests hold every NEW expression bit-equal to the OLD one
(re-stated here verbatim) on unicode-hostile inputs and fuzz, so the
hash oracles can never drift through an expression-shape change.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ehr_data_pipeline_spark.operators.text_analysis import (
    kgram_hash_seq,
    let_bound,
    ngrams,
    normalize_text,
    portable_hash60,
    whitespace_tokens,
    winnow_from_hashes,
    word_ngram_strings,
    word_tokens,
)

EDGE_TEXTS = [
    None,
    "",
    "   ",
    "abc",
    "abcd efgh",
    "hello world hello world again and again",
    "line separator andnel",
    "emoji \U0001f600\U0001f601\U0001f602 tail words here",
    "\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600\U0001f600",
    "éèêë àâäî ö ü ß ẞ İstanbul",
    "中文文本测试 中文文本 再来 一次",
    "tab\tvt\x0bff\x0ccr\rmix spaces  collapse",
    "ＦｕｌｌＷｉｄｔｈ ｔｅｘｔ １２３",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen",
    "dup dup dup dup dup dup dup dup dup",
    "x" * 300,
]


def _fuzz_texts(n=300, seed=1542):
    rng = random.Random(seed)
    alpha = "ab c é\U0001f600 \x0b x.!"
    return [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        for _ in range(n)
    ]


@pytest.fixture(scope="module")
def texts_df(spark):
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS + _fuzz_texts())]
    return spark.createDataFrame(rows, "id long, text string")


def _assert_cols_equal(df, old, new, label):
    bad = (
        df.select("id", old.alias("o"), new.alias("n"))
        .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
        .collect()
    )
    assert not bad, f"{label}: {len(bad)} rows diverge, first: {bad[:3]}"


# --- winnowing: k-gram hash stream (regex scan vs per-position substr) ----

def _old_kgram_hash_seq(col, k):
    """The pre-r15 expression, verbatim."""

    def stream(nt):
        n_pos = F.greatest(F.length(nt) - (k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: portable_hash60(nt.substr(i, F.lit(k))),
        )

    return let_bound(normalize_text(col), stream)


@pytest.mark.parametrize("k", [1, 2, 4, 7, 8])
def test_kgram_hash_seq_matches_old(texts_df, k):
    _assert_cols_equal(
        texts_df,
        _old_kgram_hash_seq(F.col("text"), k),
        kgram_hash_seq(F.col("text"), k),
        f"kgram_hash_seq k={k}",
    )


# --- winnowing: sliding-window minima (doubling vs per-window slice) ------

def _old_winnow_from_hashes(hs, w):
    """The pre-r15 expression, verbatim."""
    n_win = F.greatest(F.size(hs) - (w - 1), F.lit(1))
    mins = F.transform(
        F.sequence(F.lit(1), n_win), lambda j: F.array_min(F.slice(hs, j, w))
    )
    return F.array_sort(F.array_distinct(mins))


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 7, 8])
def test_winnow_from_hashes_matches_old(texts_df, w):
    h = texts_df.select("id", kgram_hash_seq(F.col("text"), 4).alias("hs"))
    bad = (
        h.select(
            "id",
            _old_winnow_from_hashes(F.col("hs"), w).alias("o"),
            winnow_from_hashes(F.col("hs"), w).alias("n"),
        )
        .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
        .collect()
    )
    assert not bad, f"winnow w={w}: {bad[:3]}"


def test_winnow_from_hashes_degenerate_arrays(spark):
    """NULL elements (least must skip them like array_min), empty array,
    NULL array, all-NULL array, single element — the old expression's
    exact degenerate contract."""
    edge = spark.createDataFrame(
        [
            (0, [5, None, 3, 9, 1]),
            (1, []),
            (2, None),
            (3, [None, None]),
            (4, [7]),
            (5, [4, 4, 4, 4, 4, 4]),
        ],
        "id long, hs array<bigint>",
    )
    for w in (1, 2, 4, 8):
        bad = (
            edge.select(
                "id",
                _old_winnow_from_hashes(F.col("hs"), w).alias("o"),
                winnow_from_hashes(F.col("hs"), w).alias("n"),
            )
            .filter(~((F.col("o") == F.col("n")) | (F.col("o").isNull() & F.col("n").isNull())))
            .collect()
        )
        assert not bad, f"winnow degenerate w={w}: {bad}"


# --- word n-gram extraction (regex scan vs per-position slice+join) -------

def _old_word_ngrams(col, n):
    """The pre-r15 gram shape of ngram_contamination/token_window_hashes,
    verbatim (modulo the hash applied on top, tested separately)."""

    def grams_of(toks):
        g = F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(F.size(toks) >= n, g).otherwise(
            F.array().cast("array<string>")
        )

    return let_bound(whitespace_tokens(col), grams_of)


@pytest.mark.parametrize("n", [2, 3, 8, 13])
def test_word_ngram_strings_matches_old(texts_df, n):
    _assert_cols_equal(
        texts_df,
        _old_word_ngrams(F.col("text"), n),
        word_ngram_strings(normalize_text(F.col("text")), n),
        f"word_ngram_strings n={n}",
    )


def test_word_ngram_strings_n1_keeps_empty_token(texts_df):
    """n=1 must degrade to the token split INCLUDING the single empty
    token of an empty/whitespace-only text (the regex form would drop it,
    which is why n=1 short-circuits to split)."""
    _assert_cols_equal(
        texts_df,
        whitespace_tokens(F.col("text")),
        word_ngram_strings(normalize_text(F.col("text")), 1),
        "word_ngram_strings n=1",
    )


def _old_ngrams(col, n=2):
    """The pre-r15 zip_with-chain ngrams, verbatim."""
    toks = whitespace_tokens(col)
    if n == 1:
        return toks
    size = F.size(toks)
    out = F.slice(toks, 1, F.greatest(size - (n - 1), F.lit(0)))
    for i in range(1, n):
        nxt = F.slice(toks, i + 1, F.greatest(size - (n - 1), F.lit(0)))
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return out


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_ngrams_matches_old(texts_df, n):
    _assert_cols_equal(
        texts_df, _old_ngrams(F.col("text"), n), ngrams(F.col("text"), n),
        f"ngrams n={n}",
    )


# --- BPE pair counts (regex / arrays_zip vs per-position element_at) ------

def test_bpe_char_pairs_match_old(texts_df):
    w = texts_df.select(F.explode(word_tokens(F.col("text"))).alias("__w")).filter(
        F.length("__w") >= 2
    )
    bad = (
        w.select(
            F.transform(
                F.sequence(F.lit(1), F.length("__w") - 1),
                lambda i: F.substring(F.col("__w"), i, 2),
            ).alias("o"),
            F.regexp_extract_all(
                F.col("__w"), F.lit("(?s)(?=(.{2}))."), F.lit(1)
            ).alias("n"),
        )
        .filter(~(F.col("o") == F.col("n")))
        .collect()
    )
    assert not bad, f"bpe char pairs: {bad[:3]}"


def test_bpe_symbol_pair_counts_match_old(spark, texts_df):
    from ehr_data_pipeline_spark.operators.text_analysis import (
        BPE_SEP,
        bpe_initial_state,
        bpe_symbol_pair_counts,
    )

    state = bpe_initial_state(texts_df)
    a = F.split(F.col("syms"), BPE_SEP)
    old = (
        state.select(a.alias("__a"))
        .filter(F.size("__a") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__a") - 1),
                    lambda i: F.struct(
                        F.element_at("__a", i).alias("l"),
                        F.element_at("__a", i + 1).alias("r"),
                    ),
                )
            ).alias("__p")
        )
        .select("__p.l", "__p.r")
        .groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    new = bpe_symbol_pair_counts(state)
    diff = old.exceptAll(new).unionAll(new.exceptAll(old)).collect()
    assert not diff, f"bpe_symbol_pair_counts: {diff[:5]}"


# --- centroid distances: SQL-string form vs Column-builder form -----------

def _random_centroids(rng, k, dim):
    return [
        (cid, [rng.uniform(-2, 2) for _ in range(dim)]) for cid in range(k)
    ]


@pytest.mark.parametrize("k,dim", [(3, 5), (8, 64), (32, 16)])
def test_centroid_dists_sql_matches_column_form(spark, k, dim):
    """The F.expr-rendered centroid-distance expression must be
    bit-identical to the Column-builder form (the pre-r15 shape, kept as
    the reference twin for Column inputs): same aggregate/zip_with fold
    order, same array_sort tiebreak, double literals round-tripped via
    repr. Ties included: duplicated centroids force the cid tiebreak."""
    from ehr_data_pipeline_spark.operators.similarity import _centroid_dists

    rng = random.Random(1000 + k * dim)
    cents = _random_centroids(rng, k, dim)
    cents[-1] = (k - 1, list(cents[0][1]))  # duplicate centroid: tie on dist
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(dim)]) for i in range(200)
    ] + [(200, list(cents[1][1]))]  # exact centroid hit
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    old = _centroid_dists(F.col("embedding"), cents)
    new = _centroid_dists("embedding", cents)
    bad = (
        df.select("id", old.alias("o"), new.alias("n"))
        .filter(~(F.col("o") == F.col("n")))
        .collect()
    )
    assert not bad, f"centroid dists k={k} dim={dim}: {bad[:2]}"


def test_double_sql_literal_roundtrip(spark):
    """repr-rendered double literals parse back to the bit-identical
    double, including subnormals, negatives, and exponent forms."""
    from ehr_data_pipeline_spark.operators.similarity import _double_sql

    vals = [0.0, -0.0, 1.0, -1.5, 1e-305, 5e-324, 1.7976931348623157e308,
            0.1, -2.2250738585072014e-308, 3.141592653589793, 1e12, -1e-12]
    rng = random.Random(7)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(50)]
    exprs = ", ".join(_double_sql(v) for v in vals)
    got = spark.sql(f"SELECT array({exprs}) AS a").collect()[0]["a"]
    import struct as _s

    for v, g in zip(vals, got):
        assert _s.pack("<d", v) == _s.pack("<d", g), (v, g)


# --- simhash sketch: SQL-string aggregate vs Column-builder form ----------

@pytest.mark.parametrize("portable,total_bits", [(True, 60), (False, 64)])
def test_simhash_groups_sql_form_matches_fold(spark, portable, total_bits):
    """_simhash_groups' F.expr-rendered per-bit sums + reconstruction must
    reproduce the in-row simhash fold exactly (the r14 equivalence chain
    extends: fold == column-built aggregate == SQL-built aggregate)."""
    from ehr_data_pipeline_spark.operators.text_dedup import (
        _simhash_groups,
        simhash60_portable,
        simhash64,
    )

    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS + _fuzz_texts(100, seed=77))]
    # duplicate (id, text) rows and same-id-different-text rows
    rows += [(3, EDGE_TEXTS[5]), (3, EDGE_TEXTS[5]), (4, "другой текст")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grouped = _simhash_groups(df, "doc_id", "text", total_bits, portable, False)
    toks = F.split(normalize_text(F.col("text")), " ")
    fold = simhash60_portable(toks) if portable else simhash64(toks)
    expect = df.select(F.col("doc_id").alias("id"), fold.alias("__sim"))
    diff = (
        grouped.select("id", "__sim").exceptAll(expect)
        .unionAll(expect.exceptAll(grouped.select("id", "__sim")))
        .collect()
    )
    assert not diff, f"simhash sql form: {diff[:5]}"


# --- minhash signature: empty-input sentinel contract (ADVICE r14) --------

def test_minhash_signature_empty_input_sentinel(spark):
    from ehr_data_pipeline_spark.operators.text_dedup import (
        _MINHASH_P,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(0, []), (1, [123456789]), (2, None)], "id long, sh array<bigint>"
    )
    rows = {r["id"]: r["s"] for r in df.select(
        "id", minhash_signature(F.col("sh")).alias("s")).collect()}
    assert rows[0] == [_MINHASH_P] * 16  # empty set -> sentinel signature
    assert all(v is not None and v != _MINHASH_P for v in rows[1])
    assert rows[2] == [_MINHASH_P] * 16  # NULL input violates the
    # precondition either way; the sentinel keeps it non-NULL


# --- simhash band pairs: verified-first join is pair-set-identical --------

def test_simhash_band_pairs_verified_first_join(spark):
    """The Hamming gate moved INTO the band join condition (r15): the
    pair set and distances must equal the all-pairs reference on a corpus
    with identical docs, near-dups and unrelated docs."""
    from ehr_data_pipeline_spark.operators.text_dedup import (
        hamming64,
        simhash60_portable,
        simhash_near_dup_pairs,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    rows = [
        (1, base), (2, base), (3, base + " w17"), (4, base.replace("w5", "z5")),
        (5, "completely different text with other words entirely"),
        (6, None), (7, ""), (8, base.replace("w5", "z5")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dup_pairs(
            df, max_distance=3, n_bands=4, total_bits=60, persist_groups=False
        ).collect()
    )
    s = df.select(
        F.col("doc_id"),
        simhash60_portable(F.split(normalize_text(F.col("text")), " ")).alias("h"),
    )
    a, b = s.alias("a"), s.alias("b")
    expect = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.h"), F.col("b.h")).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    )
    assert got == expect


# --- oracle comparator fast path (suite-duration fix, VERDICT r14 #2) ------

def test_canon_multiset_verdicts_match_slow_path():
    """The multiset fast path must agree with the sorted zip-wise compare:
    equal frames pass, reordered frames pass, value/type differences fail
    (including the int-vs-float and timestamp-vs-bigint divergence classes
    the driver's typed hashing catches)."""
    import pandas as pd

    from tests.oracle_utils import (
        _canon_column,
        _canon_multiset,
        compare_spark_vs_oracle,
    )

    a = pd.DataFrame({
        "i": [1, 2, 3],
        "f": [1.5, float("nan"), 0.25],
        "s": ["x", None, "z"],
        "t": pd.to_datetime(["2024-01-01", "1969-12-31", "2200-06-15"]),
    })
    # reordered rows: equal multiset
    b = a.iloc[[2, 0, 1]].reset_index(drop=True)
    assert _canon_multiset(a) == _canon_multiset(b)
    # us-resolution datetimes equal ns-resolution ones
    c = b.copy()
    c["t"] = c["t"].astype("datetime64[us]")
    assert _canon_multiset(a) == _canon_multiset(c)
    # value difference
    d = a.copy(); d.loc[0, "i"] = 99
    assert _canon_multiset(a) != _canon_multiset(d)
    # int-valued float column must NOT equal an int column (driver-typed)
    e = a.copy(); e["i"] = e["i"].astype("float64")
    assert _canon_multiset(a) != _canon_multiset(e)
    # epoch-nanos bigint must NOT equal a timestamp column
    f = a.copy(); f["t"] = f["t"].astype("datetime64[ns]").astype("int64")
    assert _canon_multiset(a) != _canon_multiset(f)
    # NaN compares equal to NaN (canonicalized to None), like the old path
    g = a.iloc[[1, 0, 2]].reset_index(drop=True)
    assert _canon_multiset(a) == _canon_multiset(g)

    # the slow path decides when the fast path disagrees: a datetime64
    # column (DuckDB) equals an object column of the same datetimes
    # (Spark) ...
    import datetime as _dt

    import duckdb
    import pytest as _pytest

    con = duckdb.connect()
    sql = ("SELECT * FROM (VALUES (1, TIMESTAMP '2024-01-01 00:00:00'), "
           "(2, TIMESTAMP '2200-06-15 12:30:00')) t(k, ts)")
    obj = pd.DataFrame({
        "k": pd.Series([2, 1], dtype="int32"),
        "ts": pd.Series([_dt.datetime(2200, 6, 15, 12, 30),
                         _dt.datetime(2024, 1, 1)], dtype=object),
    })
    assert _canon_multiset(obj) != _canon_multiset(con.execute(sql).df())
    compare_spark_vs_oracle(obj, con, sql, name="dt64-vs-object")
    # ... but one changed cell still fails
    bad = obj.copy()
    bad.loc[0, "ts"] = _dt.datetime(2200, 6, 15, 12, 31)
    with _pytest.raises(AssertionError, match="1/2 rows differ"):
        compare_spark_vs_oracle(bad, con, sql, name="dt64-vs-object-bad")
    con.close()
    # datetimes beyond the ns range take the object path instead of
    # wrapping silently in the int64-nanos cast
    far = pd.Series([_dt.datetime(2300, 1, 1)]).astype("datetime64[us]")
    assert _canon_column(far) == [_dt.datetime(2300, 1, 1)]


def test_compare_spark_vs_oracle_accepts_pandas(spark):
    """The prefetch path hands compare_spark_vs_oracle an already-
    collected pandas frame; verdicts must match the DataFrame path."""
    import duckdb
    import pytest as _pytest

    from tests.oracle_utils import compare_spark_vs_oracle

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    con = duckdb.connect()
    compare_spark_vs_oracle(df.toPandas(), con,
                            "SELECT * FROM (VALUES (CAST(2 AS BIGINT), 'b'), (CAST(1 AS BIGINT), 'a')) t(k, v)",
                            name="pdf-path")
    with _pytest.raises(AssertionError):
        compare_spark_vs_oracle(df.toPandas(), con,
                                "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'X')) t(k, v)",
                                name="pdf-path-mismatch")
    con.close()
