"""Tests of the benchmark's own helpers.

    python -m pytest perfbench/tests -q

The last test starts a local Spark session and drains a tiny backlog
through the real ingest pipeline (about half a minute on 4 cores).
"""

from __future__ import annotations

import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
from spans import Span, Tracer, percentile, self_times, tail_percentile, timing_summary  # noqa: E402


def test_tail_percentile_is_the_highest_leaving_ten_samples_beyond():
    for n in range(1, 400):
        p = tail_percentile(n)
        if n < 20:
            assert p is None, n
            continue
        assert n - math.ceil(p / 100 * n) >= 10, n
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < 10, n


def test_timing_summary_reports_tail_only_when_the_rule_allows():
    assert "tail" not in timing_summary([1.0] * 20)
    vals = [float(i) for i in range(1, 29)]
    s = timing_summary(vals)
    assert s["n"] == 28 and s["tail_p"] == 64
    assert s["tail"] == percentile(vals, 64) == 18.0
    assert sum(v > s["tail"] for v in vals) == 10


def test_self_time_subtracts_the_union_of_children():
    parent = Span(1, None, "op", "a", 0.0, 10.0)
    spans = [
        parent,
        Span(2, 1, "c1", "a", 1.0, 3.0),
        Span(3, 1, "c2", "a", 2.0, 5.0),  # overlaps c1
        Span(4, 1, "c3", "a", 7.0, 8.0),
        Span(5, 1, "c4", "a", 9.5, 12.0),  # clipped to the parent
        Span(6, 2, "grandchild", "a", 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert st[2] == pytest.approx(1.5)
    assert st[6] == pytest.approx(0.5)


def test_tracer_nests_spans_per_thread_and_only_when_enabled():
    t = Tracer()
    with t.span("off"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("outer", op="x") as o:
        with t.span("inner") as i:
            pass
    assert i.parent == o.id and i.op == "x"


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.make_tables(a, 5, gen.TableSpec(events=500, documents=60))
    gen.make_tables(b, 5, gen.TableSpec(events=500, documents=60))
    gen.make_tables(c, 6, gen.TableSpec(events=500, documents=60))
    assert gen.digest([a]) == gen.digest([b]) != gen.digest([c])

    spec = gen.BacklogSpec(records=120, records_per_file=10)
    ea = gen.make_backlog(str(tmp_path / "sa"), 5, spec, 5)
    eb = gen.make_backlog(str(tmp_path / "sb"), 5, spec, 5)
    assert gen.digest([str(tmp_path / "sa")]) == gen.digest([str(tmp_path / "sb")])
    assert ea == eb
    assert len(ea.epochs) == 3
    assert ea.realtime == sum(e["realtime"] for e in ea.epochs) > 0
    assert ea.feed == sum(e["feed"] for e in ea.epochs) > 0
    assert ea.rejects == sum(ea.reject_classes.values())


def test_sink_counts_match_the_prediction_on_a_tiny_seed(tmp_path):
    import run

    run.isolate(str(tmp_path / "work"))
    import workloads
    from machine_downtime_monitor_on_aws_spark.session import get_spark

    wl = workloads.IngestWorkload(str(tmp_path / "work"), seed=3)
    wl.spec = gen.BacklogSpec(records=100, records_per_file=10, reject_share=0.2)
    wl.generate()
    assert len(wl.exp.epochs) == 2 and wl.exp.rejects > 0
    spark = get_spark("perfbench-test")
    try:
        wl.prepare(spark)
        res = wl.run_pass(spark, Tracer(), None, 0, 4)
    finally:
        run.stop_spark(spark)
    assert [o.error for o in res.ops] == [None, None]
