"""operators/retrieval: BM25 scoring and reciprocal-rank fusion."""

from __future__ import annotations

import math


def test_bm25_log_idf_matches_python_model(spark):
    """The production (classic log-idf) BM25 variant pinned against a
    sequential Python model - scores to within quantization noise,
    ranking exactly. (The catalog query pins the log-free rational
    variant bit-exactly via its DuckDB oracle.)"""
    from machine_downtime_monitor_on_aws_spark.operators.retrieval import (
        bm25_rank,
    )

    docs = [
        (0, "join hash join scan filter the a"),
        (1, "vector vector vector scan"),
        (2, "the quick brown fox"),
        (3, "join scan hash hash hash"),
        (4, "scan"),
    ]
    terms = ["join", "hash", "vector", "scan"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.score, r.rnk)
        for r in bm25_rank(df, terms, 5, idf_mode="log").collect()
    }

    tok = {i: t.split() for i, t in docs}
    n = len(docs)
    avgdl = float(sum(len(t) for t in tok.values())) / float(n)
    dfreq = {
        t: sum(1 for d in tok.values() if t in d)
        for t in terms
    }
    scores = {}
    for i, t in tok.items():
        q = 0
        for term in terms:
            tf = t.count(term)
            if not tf:
                continue
            idf = math.log(
                1.0 + (float(n - dfreq[term]) + 0.5) / (float(dfreq[term]) + 0.5)
            )
            contrib = (
                idf
                * (float(tf) * 2.2)
                / (float(tf) + 1.2 * (0.25 + 0.75 * float(len(t)) / avgdl))
            )
            q += int(math.floor(contrib * 1e9 + 0.5))
        if q:
            scores[i] = float(q) / 1e9
    want_order = sorted(scores, key=lambda i: (-scores[i], i))
    got_order = [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][1])]
    assert got_order == want_order
    for i in scores:
        # libm log may differ from java's in the final ulp; the 1e-9
        # quantization absorbs it except exactly on a boundary
        assert abs(got[i][0] - scores[i]) <= 2e-9, (i, got[i], scores[i])


def test_rrf_fuse_semantics(spark):
    """RRF: shared docs sum both reciprocal ranks; single-list docs
    contribute one term; values are exact IEEE."""
    from machine_downtime_monitor_on_aws_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame([(10, 1), (11, 2)], "doc_id long, rnk int")
    b = spark.createDataFrame([(11, 1), (12, 2)], "doc_id long, rnk int")
    got = {r.doc_id: r.rrf_score for r in rrf_fuse(a, b, k=60).collect()}
    assert got == {
        10: 1.0 / 61.0,
        11: 1.0 / 62.0 + 1.0 / 61.0,
        12: 1.0 / 62.0,
    }


def test_bm25_requires_terms(spark):
    import pytest

    from machine_downtime_monitor_on_aws_spark.operators.retrieval import (
        bm25_rank,
    )

    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_rank(df, [], 5)


def test_tfidf_rank_matches_python_model(spark):
    """tfidf_rank pinned bit-equal to a Python replay of the same
    arithmetic (rational idf, 1e-9-quantized dot/norm sums, IEEE
    sqrt), with a query term absent from the corpus contributing to
    the query norm but no document's dot product."""
    import math

    from machine_downtime_monitor_on_aws_spark.operators.retrieval import (
        tfidf_rank,
    )

    rows = [
        (1, "join hash join scan"),
        (2, "vector vector scan"),
        (3, "filter sort merge"),
        (4, ""),
    ]
    terms = ["join", "vector", "zzz_absent"]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, r.score, r.rnk)
           for r in tfidf_rank(df, terms, 10).collect()]

    # python replay
    Q = 1_000_000_000.0
    toks = {i: t.split() for i, t in rows}
    from collections import Counter

    N = len(rows)
    dfreq = Counter()
    tf = {}
    for i, ws in toks.items():
        c = Counter(ws)
        tf[i] = c
        for w in c:
            dfreq[w] += 1
    idf = lambda t: float(N + 1) / float(dfreq.get(t, 0) + 1)
    qz = lambda x: math.floor(x * Q + 0.5)
    scores = {}
    for i, c in tf.items():
        dn = math.sqrt(
            float(sum(qz((n * idf(t)) * (n * idf(t))) for t, n in c.items())) / Q
        )
        dot = float(sum(qz((c[t] * idf(t)) * idf(t)) for t in terms if t in c)) / Q
        if dot or any(t in c for t in terms):
            qn = math.sqrt(float(sum(qz(idf(t) * idf(t)) for t in terms)) / Q)
            scores[i] = dot / (dn * qn)
    ref = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    ref = [(d, s, r + 1) for r, (d, s) in enumerate(ref)]
    assert got == ref
    # docs 3 (no query term) and 4 (empty) never enter the ranking
    assert len(got) == 2


def test_tfidf_barriers_tracked_and_releasable(spark):
    """The r14 lazy barriers (one corpus explode instead of three)
    follow the catalog resource contract: both pinned RDDs exist
    while the caller's scope consumes the result, and the scope frees
    exactly them."""
    from machine_downtime_monitor_on_aws_spark.operators.retrieval import (
        tfidf_rank,
    )
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 3} join hash x{i}") for i in range(20)],
        "doc_id long, text string",
    )
    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        out = tfidf_rank(df, ["join", "hash"], 5)
        assert out.count() == 5  # materializes the lazy barriers
        pinned = set(persistent_rdd_ids(spark)) - before
        assert len(pinned) == 2, pinned
    assert not set(persistent_rdd_ids(spark)) - before
