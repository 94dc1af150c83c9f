"""PageRank (operators/graph.py) unit pins beside the oracle-paired
neardup_graph_pagerank catalog query."""

from __future__ import annotations


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_pagerank_star_center_dominates_and_mass_conserves(spark):
    """On a star, the hub out-ranks every leaf, all leaves tie
    exactly (identical quantized inputs), and total mass stays ~1
    (up to the 1e-9 contribution quantization)."""
    from machine_downtime_monitor_on_aws_spark.operators.graph import (
        pagerank_unrolled,
    )

    star = _pairs(spark, [(0, i) for i in range(1, 6)])
    rows = {r.node: r for r in pagerank_unrolled(star, iters=3).collect()}
    assert rows[0].degree == 5
    leaf_prs = {rows[i].pagerank for i in range(1, 6)}
    assert len(leaf_prs) == 1
    assert rows[0].pagerank > max(leaf_prs)
    total = sum(r.pagerank for r in rows.values())
    assert abs(total - 1.0) < 1e-6


def test_pagerank_deterministic_under_repartition(spark):
    """Quantized contribution sums make each iteration partition-
    order independent: a different input layout yields bit-identical
    ranks."""
    from machine_downtime_monitor_on_aws_spark.operators.graph import (
        pagerank_unrolled,
    )

    edges = [(i, (i * 7 + 3) % 23) for i in range(40) if i != (i * 7 + 3) % 23]
    a = {
        (r.node, r.degree): repr(r.pagerank)
        for r in pagerank_unrolled(_pairs(spark, edges), iters=3).collect()
    }
    b = {
        (r.node, r.degree): repr(r.pagerank)
        for r in pagerank_unrolled(
            _pairs(spark, edges).repartition(7), iters=3
        ).collect()
    }
    assert a == b


def test_pagerank_matches_python_power_iteration(spark):
    """Differential model: the exact quantized power iteration
    (undirected doubling, uniform start, per-contribution
    floor(x*1e9+0.5) then integer sum) re-implemented in pure Python
    over randomized pair graphs - stars, chains, triangles, and
    parallel/duplicate pairs (a repeated pair doubles that edge's
    weight through the degree and the contribution, on both sides)."""
    import random

    from machine_downtime_monitor_on_aws_spark.operators.graph import (
        pagerank_unrolled,
    )

    def model(pair_list, iters, damping):
        edges = []
        for a, b in pair_list:
            edges.append((a, b))
            edges.append((b, a))
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        nodes = sorted(deg)
        n = len(nodes)
        pr = {v: 1.0 / n for v in nodes}
        base = (1.0 - damping) / n
        for _ in range(iters):
            s = {v: 0 for v in nodes}
            for u, v in edges:
                s[v] += int((pr[u] / float(deg[u])) * 1e9 + 0.5)  # floor+0.5
            pr = {v: base + damping * (s[v] / 1e9) for v in nodes}
        return {v: (deg[v], pr[v]) for v in nodes}

    rng = random.Random(23)
    for trial in range(3):
        ids = list(range(12 + trial * 3))
        pair_list = [("h", x) for x in ids[:6]]  # star hub
        pair_list += [(ids[i], ids[i + 1]) for i in range(6, len(ids) - 1)]
        pair_list += [(1, 2), (2, 3), (3, 1)]  # triangle
        pair_list += [(1, 2)] * (trial + 1)  # duplicate pairs
        pair_list += [
            (rng.choice(ids), rng.choice(ids)) for _ in range(10)
        ]
        pair_list = [(str(a), str(b)) for a, b in pair_list if str(a) != str(b)]
        df = spark.createDataFrame(pair_list, "id_a string, id_b string")
        got = {
            r.node: (r.degree, r.pagerank)
            for r in pagerank_unrolled(df, iters=4, damping=0.85).collect()
        }
        want = model(pair_list, 4, 0.85)
        assert got.keys() == want.keys()
        for v in want:
            assert got[v][0] == want[v][0], (v, got[v], want[v])
            assert abs(got[v][1] - want[v][1]) == 0.0, (v, got[v], want[v])


def test_pagerank_checkpointed_identical_and_releasable(spark):
    """checkpoint_every truncates lineage without changing a single
    bit (quantized sums make iterations deterministic); the pins live
    until the caller's scope exits."""
    from machine_downtime_monitor_on_aws_spark.operators.graph import (
        pagerank_unrolled,
    )
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )

    pairs = [(str(a), str(b)) for a in range(8) for b in range(8) if a < b and (a + b) % 3]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        plain = {
            r.node: (r.degree, r.pagerank)
            for r in pagerank_unrolled(df, iters=6).collect()
        }
    assert not set(persistent_rdd_ids(spark)) - before
    with barrier_scope(spark):
        ck = pagerank_unrolled(df, iters=6, checkpoint_every=2)
        got = {r.node: (r.degree, r.pagerank) for r in ck.collect()}
        assert got == plain
        # superseded rank checkpoints (iterations 2 and 4) are released
        # as soon as their successor materializes (r14 ADVICE); what
        # stays pinned is the three static graph-table barriers
        # (edges/deg/nodes, r17) plus ONLY the live final rank checkpoint
        assert len(set(persistent_rdd_ids(spark)) - before) == 4
    assert not set(persistent_rdd_ids(spark)) - before
    with barrier_scope(spark):
        pagerank_unrolled(df, iters=1)  # static-only path
    assert not set(persistent_rdd_ids(spark)) - before

    import pytest

    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank_unrolled(df, iters=2, checkpoint_every=0)
    # validation precedes the empty-graph early return AND any Spark
    # action (r14 ADVICE: empty graph + bad arg must still raise)
    empty = df.limit(0)
    with pytest.raises(ValueError, match="checkpoint_every"):
        pagerank_unrolled(empty, iters=2, checkpoint_every=0)
