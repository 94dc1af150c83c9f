"""Internal oracles for the rows-only queries (r5 verdict item #2).

These queries have no DuckDB oracle by construction (engine
sketches / non-portable hashes / float-fold freedom). Each gets
pinned here to an internal reference so the driver's rows-only check
is no longer the only evidence:

- ``knn_pandas_udf``      == ``knn_bruteforce_top5`` (the exact twin)
- ``simhash_fast_fingerprints`` == a pure-Python XXH64 model
- ``approx_distinct_and_percentiles`` within the documented HLL++ /
  KLL bounds of the exact twins
- ``vocab_freq_items_approx`` superset of the true heavy hitters
  (retired from the registry in the r10 swap; the pin stays as the
  builder's evidence)
"""

from __future__ import annotations

import math

from conftest import SF_ORACLE

# ---------------------------------------------------------------- XXH64 model
# Pure-Python XXH64 (public algorithm; the reference C implementation
# is the spec). Spark's xxhash64(col) hashes the UTF-8 bytes with
# seed 42 and returns the result as a SIGNED long.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _rnd(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    h ^= _rnd(0, v)
    return (h * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _rnd(v1, int.from_bytes(data[i : i + 8], "little")); i += 8
            v2 = _rnd(v2, int.from_bytes(data[i : i + 8], "little")); i += 8
            v3 = _rnd(v3, int.from_bytes(data[i : i + 8], "little")); i += 8
            v4 = _rnd(v4, int.from_bytes(data[i : i + 8], "little")); i += 8
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h ^= _rnd(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def test_xxh64_model_matches_spark(spark):
    """The model IS the pin - prove it bit-exact against Spark's
    xxhash64 across length classes (empty / <4 / <8 / <32 / >=32 /
    multi-byte UTF-8) before using it as simhash ground truth."""
    cases = ["", "a", "abc", "1234567", "y" * 31, "z" * 32, "w" * 100,
             "the quick brown fox", "héllo-日本語"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {r.s: r.h for r in df.selectExpr("s", "xxhash64(s) AS h").collect()}
    assert got == {c: xxh64(c.encode("utf-8")) for c in cases}


def test_simhash_fast_matches_python_model(spark):
    """simhash_fast_fingerprints (xxhash64 path, rows-only in the
    driver) vs the definitional Python model: bit b = sign of the
    per-token vote sum where token votes +1 iff bit b of
    xxh64(token, seed=42) is set; empty docs -> fingerprint 0.
    Mirrors test_minhash_signatures_match_python_model for the md5
    twin (r5 verdict item #2)."""
    import random

    from machine_downtime_monitor_on_aws_spark.operators.dedup import simhash64

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "日本", "über"]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
            for i in range(40)]
    docs.append((98, ""))
    docs.append((99, "   "))  # blank -> empty token array -> 0

    def model_fp(text: str) -> int:
        toks = text.split()
        if not toks:
            return 0
        fp = 0
        for b in range(64):
            s = sum(1 if (xxh64(t.encode("utf-8")) >> b) & 1 else -1 for t in toks)
            if s > 0:
                fp |= 1 << b
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    expected = {i: model_fp(t) for i, t in docs}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    assert got == expected


def test_knn_pandas_udf_matches_bruteforce(spark):
    """The BLAS/mapInPandas kNN (rows-only: blocked float summation)
    must pick the SAME neighbor sets and ranks as the exact
    left-fold twin knn_bruteforce_top5; cosine values agree to float
    noise."""
    from machine_downtime_monitor_on_aws_spark.plans import catalog

    qs = catalog.queries()
    fast = {(r.qid, r.rnk): (r.neighbor_id, r.cosine_sim)
            for r in qs["knn_pandas_udf"](spark, SF_ORACLE).collect()}
    exact = {(r.qid, r.rnk): (r.neighbor_id, r.cosine_sim)
             for r in qs["knn_bruteforce_top5"](spark, SF_ORACLE).collect()}
    assert fast.keys() == exact.keys() and len(fast) > 0
    for k, (nbr, sim) in exact.items():
        fnbr, fsim = fast[k]
        assert fnbr == nbr, f"rank {k}: {fnbr} != {nbr}"
        assert math.isclose(fsim, sim, rel_tol=1e-9, abs_tol=1e-12)


def test_approx_distinct_and_percentiles_within_bounds(spark):
    """HLL++ (default rsd 0.05) and KLL (accuracy 10000) results
    bounded by the exact twins: distinct counts within 3*rsd,
    approx_p50 inside the exact [0.49, 0.51] quantile envelope
    (percentile_approx guarantees rank error <= N/accuracy, far
    tighter than the envelope)."""
    from pyspark.sql import functions as F

    from machine_downtime_monitor_on_aws_spark.plans import catalog
    from machine_downtime_monitor_on_aws_spark.tables import load_table

    approx = {
        r.l_returnflag: r
        for r in catalog.queries()["approx_distinct_and_percentiles"](
            spark, SF_ORACLE
        ).collect()
    }
    li = load_table(spark, SF_ORACLE, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.percentile(F.col("l_extendedprice"), F.lit(0.49)).alias("p49"),
            F.percentile(F.col("l_extendedprice"), F.lit(0.51)).alias("p51"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys() and len(approx) == 3
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a.approx_parts - e.parts) <= 0.15 * e.parts, flag
        assert e.p49 <= a.approx_p50 <= e.p51, flag


def test_vocab_freq_items_superset_of_heavy_hitters(spark):
    """freqItems(support=s) guarantees every item with frequency
    > s*N appears in the result (false positives allowed, false
    negatives not). Pin exactly that against exact token counts."""
    from pyspark.sql import functions as F

    from machine_downtime_monitor_on_aws_spark.functions.text import tokens
    from machine_downtime_monitor_on_aws_spark.plans.textops import (
        vocab_freq_items_approx,  # retired from the registry (r10 swap)
    )
    from machine_downtime_monitor_on_aws_spark.tables import load_table

    got = {
        r.term for r in vocab_freq_items_approx(spark, SF_ORACLE).collect()
    }
    toks = (
        load_table(spark, SF_ORACLE, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("term"))
    )
    counts = toks.groupBy("term").count().collect()
    total = sum(r["count"] for r in counts)
    heavy = {r.term for r in counts if r["count"] > 0.003 * total}
    assert heavy, "degenerate fixture: no heavy hitters at sf0.01"
    missing = heavy - got
    assert not missing, f"heavy hitters missing from sketch: {missing}"


def test_minhash_estimate_qa_checkpoints_released(spark):
    """r5 advice: the estimator QA's lazy barrier frames stay pinned
    while the caller's scope consumes the result and are freed when
    it exits (no indefinite pinning in long-lived sessions)."""
    from machine_downtime_monitor_on_aws_spark.plans.textops import (
        minhash_estimate_qa,  # retired from the registry (r10 swap)
    )
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )

    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        df = minhash_estimate_qa(spark, SF_ORACLE)
        assert df.count() > 0  # materializes the lazy barriers
        # sig, pairs (outer + candidate_pairs_exact's inner band
        # barrier), shingles
        pinned = set(persistent_rdd_ids(spark)) - before
        assert len(pinned) == 4, pinned
    assert not set(persistent_rdd_ids(spark)) - before
