"""Interpolated Kneser-Ney trigram LM (operators/kneser_ney.py):
bit-exact pure-Python differential model (counts, continuation
statistics, discount/interpolation arithmetic, quantized means), KN
property pins, and the plan contract - beside the oracle-paired
catalog query kn_trigram_doc_scores."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from machine_downtime_monitor_on_aws_spark.operators.kneser_ney import (
    D,
    kn_trigram_doc_scores,
    trigram_rows,
)


def _df(spark, docs):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )


def _model(docs):
    """Pure-Python interpolated-KN trigram scorer, the same IEEE
    operation order as the operator (and the DuckDB oracle)."""
    tri = []  # (doc_id, w1, w2, w3) occurrences
    for i, t in enumerate(docs):
        toks = t.split(" ")
        for j in range(len(toks) - 2):
            tri.append((i, toks[j], toks[j + 1], toks[j + 2]))
    c3 = Counter((a, b, c) for _, a, b, c in tri)
    c2 = Counter((a, b) for _, a, b, _ in tri)
    nf = defaultdict(set)
    for _, a, b, c in tri:
        nf[(a, b)].add(c)
    tt = set((a, b, c) for _, a, b, c in tri)
    n1mid = Counter((b, c) for a, b, c in tt)
    nctx = Counter(b for a, b, c in tt)
    nfol2 = defaultdict(set)
    for a, b, c in tt:
        nfol2[b].add(c)
    bt = set((b, c) for a, b, c in tt)
    n1uni = Counter(c for b, c in bt)
    btot = len(bt)

    out = {}
    for doc_id in set(d for d, *_ in tri):
        ps = []
        for d_, a, b, c in tri:
            if d_ != doc_id:
                continue
            p1 = float(n1uni[c]) / float(btot)
            p2 = (float(n1mid[(b, c)]) - D) / float(nctx[b]) + D * float(
                len(nfol2[b])
            ) / float(nctx[b]) * p1
            p3 = (float(c3[(a, b, c)]) - D) / float(c2[(a, b)]) + D * float(
                len(nf[(a, b)])
            ) / float(c2[(a, b)]) * p2
            ps.append(p3)
        qsum = sum(int((p * 1e9 + 0.5) // 1) for p in ps)
        out[doc_id] = (
            len(ps),
            float(qsum) / 1e9 / float(len(ps)),
            min(ps),
        )
    return out


def test_matches_python_model_bit_exact(spark):
    """Every document's (n_trigrams, mean, min) equals the Python
    model exactly - repeated trigrams, shared contexts, and the
    high-continuation word ('x' follows many distinct contexts)
    exercise all three interpolation orders."""
    docs = [
        "a b x a b x a b y",
        "c b x d b x",
        "a b y c b y",
        "e f g e f g e f g e f g",
        "a b",  # < 3 tokens: excluded entirely
    ]
    got = {
        r["doc_id"]: (r["n_trigrams"], r["mean_kn_prob"], r["min_kn_prob"])
        for r in kn_trigram_doc_scores(
            _df(spark, docs), F.split(F.col("text"), " ")
        ).collect()
    }
    expect = _model(docs)
    assert set(got) == set(expect)  # doc 4 absent from both
    for doc_id in expect:
        assert got[doc_id] == expect[doc_id], f"doc {doc_id}"


def test_probabilities_form_a_subdistribution(spark):
    """For a fixed observed context, summing P3 over the observed
    continuations stays in (0, 1] - the discount mass that leaks to
    unseen continuations is what absolute discounting exists for."""
    docs = ["a b c a b d a b c a b e", "f b c f b d"]
    tr = trigram_rows(_df(spark, docs), F.split(F.col("text"), " "))
    assert tr.count() == sum(len(t.split(" ")) - 2 for t in docs)
    scored = kn_trigram_doc_scores(
        _df(spark, docs), F.split(F.col("text"), " ")
    ).collect()
    for r in scored:
        assert 0.0 < r["min_kn_prob"] <= 1.0
        assert 0.0 < r["mean_kn_prob"] <= 1.0


def test_continuation_beats_raw_frequency(spark):
    """The KN signature: a word frequent in ONE context only
    ('francisco' always after 'san') gets a LOWER continuation
    probability than a word of equal raw frequency spread across
    many contexts ('the'), because P1 counts distinct completed
    contexts, not occurrences."""
    docs = [
        "san francisco q san francisco r san francisco s",
        "a the b c the d e the f",
    ]
    tri = []
    for t in docs:
        toks = t.split(" ")
        tri += [tuple(toks[j : j + 3]) for j in range(len(toks) - 2)]
    tt = set(tri)
    bt = set((b, c) for a, b, c in tt)
    n1uni_francisco = sum(1 for b, c in bt if c == "francisco")
    n1uni_the = sum(1 for b, c in bt if c == "the")
    assert n1uni_the > n1uni_francisco


def test_plan_explodes_corpus_once_text_never_shuffles(spark):
    """The catalog query's plan: ONE documents scan feeds one
    Generate (the trigram explode); every exchange key is a short
    n-gram word column - the text column appears in no exchange."""
    import re

    from conftest import SF_ORACLE
    from machine_downtime_monitor_on_aws_spark.plans import catalog
    from test_plans import explain

    plan = explain(
        catalog.REGISTRY["kn_trigram_doc_scores"].fn(spark, SF_ORACLE)
    )
    assert "SinglePartition" not in plan
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_kn_barriers_tracked_and_releasable(spark):
    """The trigram/type-table lazy barriers (one corpus explode
    instead of four - measured 3.42 -> 2.35 s at sf0.1) follow the
    catalog resource contract: all three pinned RDDs exist while the
    caller's scope consumes the result, and the scope frees exactly
    them."""
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )

    df = spark.createDataFrame(
        [(i, f"a b c w{i % 3} a b c") for i in range(12)],
        "doc_id long, text string",
    )
    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        out = kn_trigram_doc_scores(df, F.split(F.col("text"), " "))
        assert out.count() == 12  # materializes the lazy barriers
        pinned = set(persistent_rdd_ids(spark)) - before
        assert len(pinned) == 3, pinned
    assert not set(persistent_rdd_ids(spark)) - before
