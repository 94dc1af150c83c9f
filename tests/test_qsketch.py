"""operators/qsketch.py + streaming/qsketch.py - the mergeable
fixed-grid quantile sketch vs an independent Python model, the
quantization-commutes-with-order-statistics theorem the catalog row's
accuracy claim rests on, additive-merge laws, the grid-drift guard,
and the streaming fold == one-shot invariant."""

from __future__ import annotations

import json
import math
import os
import random

import pytest

from pyspark.sql import functions as F

from machine_downtime_monitor_on_aws_spark.operators.qsketch import (
    merge_sketches,
    quantize_score,
    sketch_bins,
    sketch_quantile_bins,
)


def _scores(rng, n_sources=3, n=200):
    rows = []
    for i in range(n):
        rows.append((i, f"s{rng.randrange(n_sources)}", rng.random()))
    # exact grid-boundary scores (floor ties) and both range edges
    rows.append((n, "s0", 0.0))
    rows.append((n + 1, "s0", 1.0))
    rows.append((n + 2, "s1", 2048 / 4096))
    return rows


def _model_bins(rows, g):
    out = {}
    for _, src, r in rows:
        b = math.floor(r * g)
        out[(src, b)] = out.get((src, b), 0) + 1
    return out


def _model_cutoff(rows, g, q_num, q_den):
    by_src = {}
    for _, src, r in rows:
        by_src.setdefault(src, []).append(math.floor(r * g))
    out = {}
    for src, bs in by_src.items():
        bs.sort()
        k = -(-len(bs) * q_num // q_den)  # ceil
        out[src] = bs[k - 1]  # type-1: k-th smallest
    return out


def test_sketch_matches_python_model_randomized(spark):
    rng = random.Random(99)
    rows = _scores(rng)
    df = spark.createDataFrame(rows, "doc_id long, source string, r double")
    g = 4096
    bins = sketch_bins(df, ["source"], "r", 0.0, 1.0, g)
    got = {(r.source, r.score_bin): r.cnt for r in bins.collect()}
    assert got == _model_bins(rows, g)
    cuts = sketch_quantile_bins(bins, ["source"], 1, 4)
    got_c = {r.source: r.cutoff_bin for r in cuts.collect()}
    assert got_c == _model_cutoff(rows, g, 1, 4)
    # a second quantile through the same state (the read is generic)
    cuts9 = sketch_quantile_bins(bins, ["source"], 9, 10)
    got9 = {r.source: r.cutoff_bin for r in cuts9.collect()}
    assert got9 == _model_cutoff(rows, g, 9, 10)


def test_quantization_commutes_with_order_statistics(spark):
    """The accuracy THEOREM: floor of a monotone rescale preserves
    order, so the sketch's type-1 quantile bin equals the bin of the
    exact type-1 quantile of the RAW scores - the cutoff errs by
    less than one grid cell, structurally."""
    rng = random.Random(7)
    rows = _scores(rng, n_sources=2, n=157)
    df = spark.createDataFrame(rows, "doc_id long, source string, r double")
    g = 64  # coarse grid: collisions guaranteed, theorem still exact
    bins = sketch_bins(df, ["source"], "r", 0.0, 1.0, g)
    cuts = {
        r.source: r.cutoff_bin
        for r in sketch_quantile_bins(bins, ["source"], 1, 4).collect()
    }
    by_src = {}
    for _, src, r in rows:
        by_src.setdefault(src, []).append(r)
    for src, rs in by_src.items():
        rs.sort()
        k = -(-len(rs) // 4)
        exact_q = rs[k - 1]  # exact type-1 quantile of raw scores
        assert cuts[src] == math.floor(exact_q * g), src


def test_merge_is_the_one_shot_sketch(spark):
    """Additive contract: bins over arbitrary splits, merged, equal
    the one-shot sketch exactly - merge order and split shape are
    irrelevant (integer sums)."""
    rng = random.Random(13)
    rows = _scores(rng)
    df = spark.createDataFrame(rows, "doc_id long, source string, r double")
    g = 512
    whole = sketch_bins(df, ["source"], "r", 0.0, 1.0, g)
    parts = [
        sketch_bins(
            df.filter(F.col("doc_id") % 3 == i), ["source"], "r", 0.0, 1.0, g
        )
        for i in range(3)
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = merge_sketches(u, ["source"])
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b and a


def test_out_of_range_and_null_scores_raise(spark):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    for bad in (-0.001, 1.001, None):
        df = spark.createDataFrame(
            [(1, "s0", bad)], "doc_id long, source string, r double"
        )
        with pytest.raises(SparkRuntimeException, match="quantize_score"):
            df.select(quantize_score(F.col("r"), 0.0, 1.0, 16)).collect()


def test_grid_and_quantile_validation(spark):
    df = spark.createDataFrame([(1, "s", 0.5)], "doc_id long, source string, r double")
    with pytest.raises(ValueError, match="lo < hi"):
        sketch_bins(df, ["source"], "r", 1.0, 0.0, 16)
    with pytest.raises(ValueError, match="n_bins"):
        sketch_bins(df, ["source"], "r", 0.0, 1.0, 0)
    bins = sketch_bins(df, ["source"], "r", 0.0, 1.0, 16)
    with pytest.raises(ValueError, match="q_num"):
        sketch_quantile_bins(bins, ["source"], 0, 4)
    with pytest.raises(ValueError, match="q_num"):
        sketch_quantile_bins(bins, ["source"], 5, 4)


def test_streaming_sketch_loop(spark, tmp_path):
    """Three streamed epochs: the folded store equals a one-shot
    sketch over everything ingested, cutoffs read identically,
    restart with no new data is a no-op, and a grid-drifted
    writer/reader fails loudly against the stamp."""
    from machine_downtime_monitor_on_aws_spark.streaming.qsketch import (
        run_quality_sketch_stream,
        sketch_from_store,
    )

    src = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    bins_path = str(tmp_path / "qs_bins")
    os.makedirs(src)
    rng = random.Random(5)
    docs = [
        (i, f"s{i % 2}", round(rng.random(), 6)) for i in range(24)
    ]

    def run():
        q = run_quality_sketch_stream(
            spark.readStream.schema(
                "doc_id long, source string, score double"
            ).json(src),
            bins_path,
            ckpt,
            lambda: F.col("score"),
            0.0,
            1.0,
            256,
        )
        q.awaitTermination(120)

    for ep in range(3):
        with open(os.path.join(src, f"b{ep}.jsonl"), "w") as f:
            f.write(
                "\n".join(
                    json.dumps({"doc_id": i, "source": s, "score": r})
                    for i, s, r in docs[ep * 8 : ep * 8 + 8]
                )
            )
        run()

    full = spark.createDataFrame(docs, "doc_id long, source string, score double")
    want = sorted(
        map(tuple, sketch_bins(full, ["source"], "score", 0.0, 1.0, 256).collect())
    )
    got = sorted(
        map(tuple, sketch_from_store(spark, bins_path, 0.0, 1.0, 256).collect())
    )
    assert got == want and got

    # cutoffs from the store == cutoffs from the one-shot sketch
    from_store = sketch_from_store(spark, bins_path, 0.0, 1.0, 256)
    a = sorted(map(tuple, sketch_quantile_bins(from_store, ["source"], 1, 4).collect()))
    b = sorted(
        map(
            tuple,
            sketch_quantile_bins(
                sketch_bins(full, ["source"], "score", 0.0, 1.0, 256),
                ["source"],
                1,
                4,
            ).collect(),
        )
    )
    assert a == b

    run()  # no new data: marker + checkpoint make it a no-op
    again = sorted(
        map(tuple, sketch_from_store(spark, bins_path, 0.0, 1.0, 256).collect())
    )
    assert again == want

    # grid drift fails loudly, reader and writer alike
    with pytest.raises(ValueError, match="grid"):
        sketch_from_store(spark, bins_path, 0.0, 1.0, 512)
    with pytest.raises(ValueError, match="grid"):
        run_quality_sketch_stream(
            spark.readStream.schema(
                "doc_id long, source string, score double"
            ).json(src),
            bins_path,
            str(tmp_path / "ckpt2"),
            lambda: F.col("score"),
            0.0,
            2.0,
            256,
        )

    # an absent store is the true empty sketch
    empty = sketch_from_store(spark, str(tmp_path / "nope"), 0.0, 1.0, 256)
    assert empty.count() == 0


def test_quality_gate_plan_and_oracle_parity(spark):
    """quality_gate_from_sketch (built r16, registers r17 - pinned on
    the builder until its catalog slot opens): cutoffs broadcast back
    over the stream (the corpus never shuffles for the gate), no
    single-partition stage anywhere, and the Spark result already
    hash-matches its written DuckDB oracle on the oracle corpus."""
    import contextlib
    import io

    import duckdb

    from conftest import SF_ORACLE
    from machine_downtime_monitor_on_aws_spark.plans.textops import (
        _QS_GATE_SQL,
        quality_gate_from_sketch,
    )
    from machine_downtime_monitor_on_aws_spark.session import (
        barrier_scope,
        persistent_rdd_ids,
    )
    from machine_downtime_monitor_on_aws_spark.tables import table_path

    before = set(persistent_rdd_ids(spark))
    with barrier_scope(spark):
        out = quality_gate_from_sketch(spark, SF_ORACLE)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "SinglePartition" not in plan, plan
        assert "BroadcastExchange" in plan, plan

        got = sorted(map(tuple, out.collect()))
    assert not set(persistent_rdd_ids(spark)) - before
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{table_path(SF_ORACLE, 'documents')}')"
    )
    want = sorted(map(tuple, con.execute(_QS_GATE_SQL).fetchall()))
    assert got == want and got
