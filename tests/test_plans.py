"""Physical-plan assertions: the scale properties claimed in
docstrings must be visible in the explain output.

These catch regressions like a broadcast join silently degrading to
sort-merge, a filter failing to reach the parquet scan, or a window
operator introducing a single-partition global sort (the reference's
Athena ROW_NUMBER mistake we explicitly design out - BASELINE.md).
"""

from __future__ import annotations

import re

import pytest

from machine_downtime_monitor_on_aws_spark.plans import catalog

from conftest import SF_ORACLE


import contextlib
import io


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return explain(catalog.REGISTRY[name].fn(spark, SF_ORACLE))


def test_q1_filter_pushdown_and_partial_agg(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # map-side combine: partial then final hash aggregate
    # (codegen ids only appear in post-execution AQE plans, so the
    # pre-execution formatted plan can't assert them)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2


def test_q1_column_pruning(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: (.+)", plan)
    assert m, "no ReadSchema in plan"
    read = m.group(1)
    # only the 7 needed columns reach the scan - never l_orderkey etc.
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_q5_broadcasts_only_true_dimensions(spark):
    """r1 verdict "What's wrong" #2: q5 used to broadcast orders and
    customer — fact-sized tables that OOM executors at 100x. Only
    region/nation/supplier may be broadcast-hinted; the fact joins
    stay shuffle joins (AQE upgrades them at runtime if they fit)."""
    df = catalog.REGISTRY["q5_region_revenue"].fn(spark, SF_ORACLE)
    plan = explain(df)
    # supplier + pruned-nation broadcasts exist...
    assert plan.count("BroadcastHashJoin") >= 2
    # ...but the big joins (lineitem-orders, orders-customer) are NOT
    # statically broadcast: at least one shuffle join survives in the
    # static plan (AQE may still upgrade it at runtime).
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_rle_no_global_sort(spark):
    """Windows partition by user_id: every Sort node must be preceded
    by a hash-partitioned exchange, never a single-partition one."""
    plan = plan_of(spark, "rle_event_runs")
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_anti_join_shape(spark):
    plan = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_semi_join_shape(spark):
    plan = plan_of(spark, "order_priority_counts")
    assert "LeftSemi" in plan


def test_minute_rollup_single_shuffle(spark):
    """One hash agg pair (partial+final) on (user, minute): no extra
    exchanges beyond the agg shuffle + AQE reads."""
    plan = plan_of(spark, "minute_status_rollup")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning" in plan


def test_classify_join_is_broadcast(spark):
    """J1: config lookup must be a broadcast hash join (the hashmap
    probe), never a shuffle of the stream side."""
    from machine_downtime_monitor_on_aws_spark.config import MachineConfig
    from machine_downtime_monitor_on_aws_spark.operators.classify import (
        classify_messages,
        machine_config_df,
    )

    msgs = spark.createDataFrame(
        [("m1", "status", "u", "GOOD")],
        "machine_id string, tag string, value string, quality string",
    )
    cfg = machine_config_df(
        spark, [MachineConfig(id="m1", status_tag="status", status_up_values="u")]
    )
    plan = explain(classify_messages(msgs, cfg))
    assert "BroadcastHashJoin" in plan


def test_lake_day_read_prunes_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        read_lake_day,
        write_lake,
    )

    df = spark.createDataFrame(
        [(1, "2024-06-01 10:00:00"), (2, "2024-06-02 10:00:00")],
        "id long, ts_s string",
    ).withColumn("event_ts", F.col("ts_s").cast("timestamp"))
    write_lake(df, str(tmp_path / "lake"))
    day = read_lake_day(spark, str(tmp_path / "lake"), 2024, 6, 1)
    plan = explain(day)
    assert "PartitionFilters" in plan
    rows = day.collect()
    assert [r.id for r in rows] == [1]


def test_sampling_queries_have_no_shuffle(spark):
    """Sampling/mixing are scan-level filters: zero exchanges.
    (corpus_deterministic_sample pinned on the builder directly
    since the r15 swap retired its catalog row.)"""
    from machine_downtime_monitor_on_aws_spark.plans.pipelineops import (
        corpus_deterministic_sample,
    )

    plan = explain(corpus_deterministic_sample(spark, SF_ORACLE))
    assert "Exchange" not in plan, "corpus_deterministic_sample"
    plan = plan_of(spark, "corpus_mixture_sample")
    assert "Exchange" not in plan, "corpus_mixture_sample"


def test_fingerprint_pipelines_single_shuffle(spark):
    """simhash/minhash signature pipelines repartition the narrow
    (doc_id, text) projection BY doc_id before exploding; Generate
    preserves that hash partitioning, so the per-doc aggregation needs
    no second exchange. Exactly ONE shuffle in each plan."""
    # minhash buckets pinned on the builder directly since the r16
    # swap retired its catalog row (semantics stay oracle-checked
    # through neardup_candidate_pairs / neardup_jaccard_verified)
    from machine_downtime_monitor_on_aws_spark.plans.textops import (
        minhash_lsh_buckets_q,
    )

    plans = {
        "simhash_fingerprints": plan_of(spark, "simhash_fingerprints"),
        "minhash_lsh_buckets": explain(minhash_lsh_buckets_q(spark, SF_ORACLE)),
    }
    for name, plan in plans.items():
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, name


def test_candidate_pair_set_never_shuffles(spark):
    """The near-dup pair set (the blow-up point: orders of magnitude
    larger than the corpus) must be filtered where produced, never
    exchanged: the first-matching-band formulation replaced the
    DISTINCT, so no plan may hash-partition on the pair key."""
    for name in ("neardup_candidate_pairs", "simhash_neardup_pairs"):
        plan = plan_of(spark, name)
        assert "hashpartitioning(doc_a" not in plan, name
        assert "hashpartitioning(cast(doc_a" not in plan, name


def test_token_packing_single_shuffle(spark):
    """Packing = one hash partition on bucket (window), nothing else.
    (Pinned on the builder directly since the r15 swap retired the
    catalog row; pack_utilization_stats / training_shard_manifest
    keep the assignment oracle-checked.)"""
    import re

    from machine_downtime_monitor_on_aws_spark.plans.pipelineops import (
        token_packing_assignments,
    )

    plan = explain(token_packing_assignments(spark, SF_ORACLE))
    # formatted explain prints each node in the tree AND the detail
    # section; count node headers "(N) Exchange" once
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing = co-located joins: a self-join on the bucket column
    of a bucketed table plans ZERO exchanges (the scan itself carries
    the hash distribution); the same join on plain parquet shuffles
    both sides."""
    import re
    import shutil

    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        write_bucketed_table,
    )
    from machine_downtime_monitor_on_aws_spark.tables import load_table

    ev = load_table(spark, SF_ORACLE, "events").select("user_id", "event_id", "value")
    try:
        write_bucketed_table(ev, "ev_bucketed", "user_id", 8)
        t = spark.table("ev_bucketed")
        agg = t.groupBy("user_id").count()
        joined = agg.alias("a").hint("merge").join(
            t.alias("b"), "user_id"
        )
        plan = explain(joined)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        # control: the un-bucketed twin needs exchanges
        plain = ev.groupBy("user_id").count().alias("a").hint("merge").join(
            ev.alias("b"), "user_id"
        )
        assert len(re.findall(r"\(\d+\) Exchange", explain(plain))) > 0
    finally:
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
        shutil.rmtree(f"{wh}/ev_bucketed", ignore_errors=True)


def test_catalog_orders_least_recently_checked_first():
    """Evidence-scheduling: the driver samples only the first ~50
    registry entries, so registration must order queries by their
    latest CORRECTNESS_r*.json round ascending (never-sampled first,
    ties in module order). Pin the invariant directly against the
    committed driver records."""
    import glob
    import json
    import os

    from machine_downtime_monitor_on_aws_spark.plans import catalog

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int("".join(ch for ch in os.path.basename(p) if ch.isdigit()))
        for name in json.load(open(p)):
            latest[name] = max(latest.get(name, 0), rnd)
    rounds = [latest.get(n, -1) for n in catalog.REGISTRY]
    assert rounds == sorted(rounds)
    # and anything the driver has never checked sits at the very front
    n_never = sum(1 for r in rounds if r == -1)
    assert all(r == -1 for r in rounds[:n_never])


def test_driver_evidence_staleness_bounded():
    """r5 verdict item #7: with an N-query catalog and a ~50-row
    driver window, least-recently-checked-first rotation bounds any
    oracle-paired query's staleness to ceil(N/50) rounds. Compute the
    ACTUAL max staleness from the committed CORRECTNESS records (the
    ordering test above pins the mechanism; this pins the outcome)
    and require every never-sampled query to sit inside the next
    round's window."""
    import glob
    import json
    import math
    import os

    from machine_downtime_monitor_on_aws_spark.plans import catalog

    # Driver samples the first ~50 registry entries. At 101 catalog
    # queries (r7) the staleness bound is ceil(101/50) = 3 rounds -
    # accepted INTENTIONALLY (r6 verdict item #8): the alternative was
    # retiring the q1 SQL-API twin, and keeping both DataFrame and SQL
    # surfaces first-class is worth one extra round of staleness on
    # the least-recently-checked query.
    WINDOW = 50
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest = {}
    max_round = 0
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int("".join(ch for ch in os.path.basename(p) if ch.isdigit()))
        max_round = max(max_round, rnd)
        for name in json.load(open(p)):
            latest[name] = max(latest.get(name, 0), rnd)
    assert max_round > 0
    names = list(catalog.REGISTRY)
    bound = math.ceil(len(names) / WINDOW)
    sampled = [n for n in names if n in latest]
    worst = max(max_round - latest[n] for n in sampled)
    assert worst <= bound, (
        f"stalest driver row is {worst} rounds old (> ceil("
        f"{len(names)}/{WINDOW}) = {bound}); rotation is not keeping up"
    )
    # never-sampled queries (new registrations) must all land inside
    # the upcoming round's window or they would START stale
    never = [n for n in names if n not in latest]
    assert len(never) <= WINDOW
    assert all(names.index(n) < WINDOW for n in never)


def test_r9_catalog_swap_executed():
    """r8 verdict next-round #1: the literal-codebook demos and the
    inline pagerank demo are RETIRED from the registry (their
    production twins carry the driver evidence), the twins are
    registered, the retired builders stay importable, and the
    catalog stays small enough that the staleness bound holds at 3."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import catalog, vectorops

    retired = [
        "ivfpq_knn_top5",
        "pq_knn_top5",
        "pq_permuted_knn_top5",
        "neardup_graph_pagerank",
    ]
    twins = [
        "ivfpq_rerank_top5",
        "pq_lut_knn_top5",
        "neardup_pagerank_from_store",
        "sq_knn_top5",
    ]
    for n in retired:
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(vectorops, n))  # evidence stays importable
    for n in twins:
        assert n in catalog.REGISTRY, f"production twin {n} missing"
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3


def test_r10_catalog_swap_executed():
    """r9 verdict next-round #3 + the r10 extension: the span AND ann
    streaming loops' replay queries are registered (every streaming
    loop now has a driver-verified oracle row), paired with
    retirements per the swap discipline - minhash_estimate_qa
    (estimator-audit demo; exactness carried by
    neardup_jaccard_verified + the banded pair queries),
    vocab_freq_items_approx (rows-only sketch demo; exact twin
    vocab_top_terms carries the oracle evidence, the superset pin in
    test_rows_only_pins stays), and neardup_canonical_docs (min-id
    canonical demo; neardup_keep_best_quality is the pipeline-real
    sibling). Retired builders stay importable; the staleness bound
    holds at 3; rows-only registry entries drop to 3."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import catalog, textops

    from machine_downtime_monitor_on_aws_spark.plans import vectorops

    for n in ("span_stream_replay", "ann_stream_replay"):
        assert n in catalog.REGISTRY
        assert catalog.REGISTRY[n].oracle is not None
    for n in (
        "minhash_estimate_qa",
        "vocab_freq_items_approx",
        "neardup_canonical_docs",
    ):
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(textops, n))  # evidence stays importable
    # the quality-aware sibling carries canonical selection's row, and
    # the anti-join operator stays exercised in the pipeline query
    assert "neardup_keep_best_quality" in catalog.REGISTRY
    assert "training_corpus_pipeline" in catalog.REGISTRY
    assert callable(getattr(vectorops, "ann_stream_replay"))
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3
    rows_only = [
        n for n, s in catalog.REGISTRY.items() if s.oracle is None
    ]
    assert sorted(rows_only) == [
        "approx_distinct_and_percentiles",
        "knn_pandas_udf",
    ]


def test_r14_catalog_swap_executed():
    """r13 verdict next-round #3: three retirements fund the round's
    three new-surface entries. Retired: the q1 SQL-API demo (same
    Catalyst plan as q1; equivalence pinned below), the rows-only
    xxhash64 SimHash entry (the Python XXH64 model in
    test_rows_only_pins pins it stronger; md5 twin keeps the oracle),
    and the marker-word lang-ID score dump (its scoring stays
    oracle-checked through lang_id_agreement). Builders stay
    importable; the catalog stays within the staleness bound."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import (
        relational,
        textops,
    )

    retired = {
        "q1_pricing_summary_sql": relational,
        "simhash_fast_fingerprints": textops,
        "lang_id_predictions": textops,
    }
    for n, mod in retired.items():
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(mod, n))  # evidence stays importable
    for n in (
        "exactsubstr_doc_coverage",
        "q1_pricing_summary",
        "simhash_fingerprints",
        "lang_id_agreement",
        "lang_id_ngram_predictions",
    ):
        assert n in catalog.REGISTRY, f"swap replacement/twin {n} missing"
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3


def test_r15_catalog_swap_executed():
    """r14 verdict next-round #1: three retirements fund the round's
    three new 100TB surfaces. Retired: the sign-LSH bucket-id dump
    (buckets re-derive inside lsh_neardup_embeddings' oracle; the new
    signq query is the production packed-bit form), the top-bigrams
    dump (the same count tables live inside pmi_top_collocations /
    gopher_top_bigram_share; the new KN query is the n-gram-LM
    production surface), and the raw packing dump
    (pack_utilization_stats re-derives the identical assignment and
    training_shard_manifest consumes it). Builders stay importable;
    the catalog stays within the staleness bound."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import (
        pipelineops,
        textops,
        vectorops,
    )

    retired = {
        "lsh_bucket_assignments": vectorops,
        "vocab_top_bigrams": textops,
        "token_packing_assignments": pipelineops,
        "benchmark_contamination": textops,
        # funds shard_manifest_stream_replay: the flat 40% filter's
        # hash rides corpus_mixture_sample / quality_weighted_sample
        # / training_corpus_pipeline
        "corpus_deterministic_sample": pipelineops,
    }
    for n, mod in retired.items():
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(mod, n))  # evidence stays importable
    for n in (
        "signq_rerank_top5",
        "kn_trigram_doc_scores",
        # training_shard_manifest was the r15 replacement here; the
        # r17 swap retired it in favor of balanced_shard_manifest
        # (test_r17_catalog_swap_executed pins that chain)
        "decontam_stream_replay",
        "shard_manifest_stream_replay",
        "lsh_neardup_embeddings",
        "pmi_top_collocations",
        "gopher_top_bigram_share",
        "pack_utilization_stats",
        "benchmark_contamination_13gram",
        "corpus_mixture_sample",
        "quality_weighted_sample",
    ):
        assert n in catalog.REGISTRY, f"swap replacement/twin {n} missing"
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3


def test_r16_catalog_swap_executed():
    """r15 verdict next-round #1 + #4: three retirements fund the two
    test-pinned r15 lifecycles' driver rows plus the round's new
    surface. Retired: the inline IVF demo (its oracle lives verbatim
    inside ivf_recall_at5's - `iv AS ({_IVF_ORACLE})` - and the
    builder still runs live inside that registered query; the
    persisted twins ivfpq_rerank_top5 / ivfbin_rerank_top5 carry the
    index-lifecycle evidence, the r9 ivfpq_knn_top5 precedent), the
    bigram-LM scorer (its oracle lives verbatim inside
    ccnet_perplexity_buckets' - `scores AS ({_BIGRAM_LM_ORACLE})` -
    and the builder runs live inside it; the KN trigram family is
    the n-gram-LM production surface), and the MinHash bucket dump
    (buckets re-derive verbatim inside neardup_candidate_pairs' /
    neardup_jaccard_verified's oracles and the operator pipeline
    runs live inside them; the r15 lsh_bucket_assignments
    precedent). Builders stay importable; all replacements are
    oracle-paired; the staleness bound holds at 3."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import textops, vectorops

    retired = {
        "ivf_knn_top5": (vectorops, "ivf_knn_top5"),
        "bigram_lm_doc_scores": (textops, "bigram_lm_doc_scores"),
        "minhash_lsh_buckets": (textops, "minhash_lsh_buckets_q"),
    }
    for n, (mod, attr) in retired.items():
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(mod, attr))  # evidence stays importable
    # the fourth and fifth r16 surfaces (quality_gate_from_sketch,
    # balanced_shard_manifest) were built + oracle-pinned in r16 but
    # deliberately unregistered (the r16 window was exactly
    # consumed); they registered in the r17 swap -
    # test_r17_catalog_swap_executed pins that.
    for n in (
        "ivfbin_rerank_top5",
        "kn_stream_replay",
        "exactsubstr_deduped_docs",
        "ivf_recall_at5",
        "ccnet_perplexity_buckets",
        "neardup_candidate_pairs",
        "neardup_jaccard_verified",
        "kn_trigram_doc_scores",
        "exactsubstr_doc_coverage",
    ):
        assert n in catalog.REGISTRY, f"swap replacement/twin {n} missing"
        assert catalog.REGISTRY[n].oracle is not None
    # the retired oracles' semantics really are embedded verbatim in
    # the surviving rows' oracles
    assert vectorops._IVF_ORACLE in catalog.REGISTRY["ivf_recall_at5"].oracle
    assert (
        textops._BIGRAM_LM_ORACLE
        in catalog.REGISTRY["ccnet_perplexity_buckets"].oracle
    )
    assert (
        textops._bucket_sql()
        in catalog.REGISTRY["neardup_candidate_pairs"].oracle
    )
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3


def test_r17_catalog_swap_executed():
    """r16 verdict next-round #1: two retirements fund the two
    deferred r16 surfaces' registrations. Retired:
    duplicate_cluster_sizes (the r16 earmark - two trivial integer
    aggregations over the SAME recursive-CC clauses
    neardup_duplicate_clusters' oracle carries verbatim, over the
    same persisted labels store that family probes live every round)
    and training_shard_manifest (the count-balanced pack manifest -
    its shard_key/order_key md5 functions and per-shard row_number
    position live inside shard_manifest_stream_replay's hash-exact
    oracle every round, pack_utilization_stats re-derives the
    identical pack assignment, and balanced_shard_manifest is the
    work-balanced production form). Builders stay importable; both
    replacements are oracle-paired; the staleness bound holds."""
    import math

    from machine_downtime_monitor_on_aws_spark.plans import (
        pipelineops,
        textops,
    )

    retired = {
        "duplicate_cluster_sizes": textops,
        "training_shard_manifest": pipelineops,
    }
    for n, mod in retired.items():
        assert n not in catalog.REGISTRY, f"{n} should be retired"
        assert callable(getattr(mod, n))  # evidence stays importable
    for n in (
        "quality_gate_from_sketch",
        "balanced_shard_manifest",
        "neardup_duplicate_clusters",
        "shard_manifest_stream_replay",
        "pack_utilization_stats",
        "adaptive_quality_filter",
    ):
        assert n in catalog.REGISTRY, f"swap replacement/twin {n} missing"
        assert catalog.REGISTRY[n].oracle is not None
    # the retired oracles' semantics really are carried by survivors:
    # the CC clauses of the cluster-sizes oracle sit verbatim inside
    # neardup_duplicate_clusters'; the retired manifest's shard/order
    # functions sit inside the stream replay's oracle
    assert textops._cc_clauses() in catalog.REGISTRY[
        "neardup_duplicate_clusters"
    ].oracle
    from machine_downtime_monitor_on_aws_spark.operators.shards import (
        order_key_sql,
    )

    assert order_key_sql(pipelineops._SHARD_KEY_SQL) in catalog.REGISTRY[
        "shard_manifest_stream_replay"
    ].oracle
    assert math.ceil(len(catalog.REGISTRY) / 50) <= 3


def test_q1_sql_api_twin_same_results(spark):
    """The retired SQL-API twin stays equivalent to the DataFrame-API
    q1: same columns, same rows - both APIs remain first-class
    surfaces even though only one carries the driver row."""
    from machine_downtime_monitor_on_aws_spark.plans.relational import (
        q1_pricing_summary_sql,
    )

    df_api = catalog.REGISTRY["q1_pricing_summary"].fn(spark, SF_ORACLE)
    sql_api = q1_pricing_summary_sql(spark, SF_ORACLE)
    # the SQL demo computes a subset of q1's measures - every column
    # it produces must exist on q1 and agree value-for-value
    common = [c for c in sql_api.columns]
    assert set(common) <= set(df_api.columns)
    a = sorted(map(tuple, df_api.select(*common).collect()))
    b = sorted(map(tuple, sql_api.select(*common).collect()))
    assert a == b


def _formatted_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_adaptive_quality_filter_broadcasts_cutoffs(spark):
    """The per-source cutoff table must come back over the scored
    stream as a BROADCAST join - the fact side never shuffles for
    the filter (one exchange total: the cutoff aggregation)."""
    from conftest import SF_ORACLE

    from machine_downtime_monitor_on_aws_spark.plans import catalog

    plan = _formatted_plan(
        catalog.REGISTRY["adaptive_quality_filter"].fn(spark, SF_ORACLE)
    )
    assert "BroadcastHashJoin" in plan
    ex = [
        ln for ln in plan.splitlines()
        if ln.strip().startswith("(") and ") Exchange" in ln
    ]
    assert len(ex) == 1, ex  # only the groupBy(source) aggregation


def test_winnowing_overlap_three_exchanges(spark):
    """The capped overlap join's executed plan is exactly three
    exchanges - the fingerprint stage's per-doc window (the
    explode+window shape that keeps md5 count linear), the
    fingerprint group, and the pair count. The window+self-join
    formulation this replaced cost an extra full fingerprint-table
    shuffle AND recomputed the fingerprint pipeline per side."""
    from conftest import SF_ORACLE

    from machine_downtime_monitor_on_aws_spark.plans import catalog

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = catalog.REGISTRY["winnowing_overlap_pairs"].fn(spark, SF_ORACLE)
        executed = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ex = [
        ln for ln in executed.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(ex) == 3, ex
    assert any("doc_id" in ln for ln in ex)  # winnowing window
    assert any("fingerprint" in ln for ln in ex)
    assert any("doc_a" in ln and "doc_b" in ln for ln in ex)


def test_kmeans_assign_partial_aggregates_before_exchange(spark):
    """r7 argmin contract: nearest-centroid assignment must be a hash
    aggregate whose partial min runs MAP-SIDE (the exchange carries N
    rows, never the N x K candidate fan-out), with no window in the
    plan and the centroid side broadcast."""
    from machine_downtime_monitor_on_aws_spark.operators.kmeans import (
        centroids_to_df,
        kmeans_assign,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(20)],
        "vec_id long, vec array<double>",
    )
    cdf = centroids_to_df(spark, {(0,): [0.0, 0.0], (1,): [5.0, 0.0]}, [])
    plan = _formatted_plan(kmeans_assign(df, cdf, 2))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivfpq_search_probe_is_broadcast_and_reads_codes_only(spark, tmp_path):
    """The ADC search plan must broadcast the (queries x probes)
    sliver against the corpus scan and read ONLY (vec_id, pq_code,
    list_id) - never a vector column - from the index: the 64x
    compressed-scan claim, enforced on the plan."""
    from machine_downtime_monitor_on_aws_spark.operators.ivf import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    dim, m, n_cent = 8, 2, 4
    books = [[float(k == j) for j in range(dim)] for k in range(4)]
    rows = [(i, [float((i + j) % 3) for j in range(dim)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    path = str(tmp_path / "ivfpq_plan")
    build_ivfpq_index(df, path, n_cent, dim, m, pq_centroids=books,
                      residual=True)
    q = spark.createDataFrame([(0, rows[5][1])], "qid long, qvec array<double>")
    out = search_ivfpq_index(spark, path, q, 3, 2, dim, m, books)
    plan = _formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side parquet scan projects codes, not vectors
    corpus_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line and "pq_code" in line
    ]
    assert corpus_schema, plan
    assert all("vec:" not in line for line in corpus_schema), corpus_schema


def test_ivfpq_rerank_stage1_reads_codes_only(spark, tmp_path):
    """The two-stage production search (ivfpq_rerank_top5's shape):
    stage 1's corpus scan must read ONLY (vec_id, pq_code, list_id) -
    the raw vector column exists ONLY in the stage-2 re-rank scan of
    the vector source, joined against a BROADCAST shortlist sliver.
    This is the r7-verdict plan assert for the persisted-index
    catalog query."""
    from machine_downtime_monitor_on_aws_spark.operators.ivf import (
        build_ivfpq_index,
        search_ivfpq_index_rerank,
    )

    dim, m, n_cent = 8, 2, 4
    books = [[float(k == j) for j in range(dim)] for k in range(4)]
    rows = [(i, [float((i + j) % 3) for j in range(dim)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    path = str(tmp_path / "ivfpq_rerank_plan")
    build_ivfpq_index(df, path, n_cent, dim, m, pq_centroids=books,
                      residual=True)
    # the vector source must be a real scan (parquet) so the plan
    # shows which columns stage 2 reads
    src_path = str(tmp_path / "vec_source")
    df.write.parquet(src_path)
    src = spark.read.parquet(src_path)
    q = spark.createDataFrame([(0, rows[5][1])], "qid long, qvec array<double>")
    out = search_ivfpq_index_rerank(
        spark, path, q, k=3, shortlist=8, n_probes=2, dim=dim, m=m,
        pq_centroids=books, vector_source=src,
    )
    plan = explain(out)
    assert "BroadcastHashJoin" in plan, plan
    # every scan of the INDEX corpus (the pq_code reader) projects
    # codes, never vectors; the vector column appears only in the
    # vector_source scan
    code_scans = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "pq_code" in line
    ]
    assert code_scans, plan
    assert all("vec:" not in line for line in code_scans), code_scans
    vec_scans = [
        line for line in plan.splitlines()
        if "ReadSchema" in line and "vec:" in line
    ]
    assert vec_scans, plan  # stage 2 reads raw vectors for the exact re-rank


def test_pq_lut_plan_is_constant_size_in_k(spark):
    """pq_lut_knn_top5's claim: at K=256 neither the encode join nor
    the LUT scorer embeds the codebook in the plan - the whole plan
    stays small (the literal path would carry 16384 doubles)."""
    from machine_downtime_monitor_on_aws_spark.operators.pq import (
        pq_encode_join,
        pq_topk_lut,
    )

    dim, m, kk = 8, 2, 256
    books = [[float((k * 7 + j) % 13) for j in range(dim)] for k in range(kk)]
    rows = [(i, [float((i + j) % 5) for j in range(dim)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    codes = pq_encode_join(df, books, dim, m)
    q = spark.createDataFrame([(0, rows[3][1])], "qid long, qv array<double>")
    out = pq_topk_lut(q, codes, books, dim, m, 3)
    plan = explain(out)
    assert len(plan) < 50_000, f"plan is {len(plan)} bytes - codebook leaked in?"


def test_gram_vectorized_single_exchange_pruned_read(spark):
    """embedding_gram_upper (vectorized path): the only exchange is
    the (dim_i, dim_j) cell aggregation over per-partition integer
    partials - no per-product rows ever shuffle - and the parquet
    scan reads just the embedding column."""
    plan = plan_of(spark, "embedding_gram_upper")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "MapInPandas" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "embedding" in m.group(1)
    assert "vec_id" not in m.group(1)
    assert "label" not in m.group(1)


def test_reservoir_sample_single_exchange_pruned_read(spark):
    """per_source_reservoir_sample: ONE exchange (the source-keyed
    window) over a pruned (source, doc_id) read — text never leaves
    the scan."""
    plan = plan_of(spark, "per_source_reservoir_sample")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), m.group(1)
    assert "doc_id" in m.group(1) and "source" in m.group(1)


def test_gopher_mode_is_pure_scan_expression(spark):
    """gopher_top_bigram_share: the per-doc mode is a sorted-array
    FOLD, not a groupBy — a document's bigrams live in its own row,
    so the plan is a pure projection: zero exchanges, zero windows,
    zero aggregates."""
    plan = plan_of(spark, "gopher_top_bigram_share")
    assert "Window" not in plan
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_pareto_window_input_is_aggregated(spark):
    """downtime_pareto: the single-partition ranking window consumes
    the PER-MACHINE aggregate (fleet cardinality), never event rows —
    the per-machine HashAggregate appears strictly below the Window in
    the plan, and the grand total arrives via broadcast."""
    plan = plan_of(spark, "downtime_pareto")
    win = plan.find(") Window")
    assert win != -1
    # the last HashAggregate before the window in operator-id order:
    # events -> runs -> groupBy(user_id) agg -> window
    agg_ids = [m.start() for m in re.finditer(r"\(\d+\) HashAggregate", plan)]
    assert any(i > win for i in agg_ids) or "HashAggregate" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_pq_encode_join_partial_aggregates_before_exchange(spark):
    """r8 encode contract: the large-K encoder's per-(doc, subspace)
    argmin must be a hash aggregate with a MAP-SIDE partial_min (the
    exchange carries N*m rows, never the N*m*K broadcast fan-out)
    and no window anywhere in the encode plan."""
    from machine_downtime_monitor_on_aws_spark.operators.pq import pq_encode_join

    dim, m, kk = 8, 2, 64
    books = [[float((k * 3 + j) % 7) for j in range(dim)] for k in range(kk)]
    df = spark.createDataFrame(
        [(i, [float((i + j) % 5) for j in range(dim)]) for i in range(30)],
        "vec_id long, vec array<double>",
    )
    plan = _formatted_plan(pq_encode_join(df, books, dim, m))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_retrieval_consumers_read_only_store_slivers(spark):
    """The r11 shortlist-store consumers' warm plans must contain NO
    scan of a corpus table (embeddings/documents parquet) - every
    FileScan in the plan reads a persisted store sliver. The one
    corpus-shaped source allowed is nothing: MMR reads topk +
    cand_sims, the hybrid fusion reads lex + topk, hard-negatives
    reads hard_neg verbatim. (knn_bruteforce_top5 / bm25_top_docs are
    the PRODUCERS - their plans scan the corpus by design.)

    MMR is asserted on its PRE-checkpoint input plans (r11 ADVICE
    #3): the query's eager localCheckpoints rewrite the explained
    plan to Scan ExistingRDD, which would hide an embeddings scan
    upstream and make the published-plan assertion vacuous."""
    from machine_downtime_monitor_on_aws_spark.plans.vectorops import (
        _mmr_inputs,
    )

    for df in _mmr_inputs(spark, SF_ORACLE):
        plan = explain(df)
        assert "embeddings.parquet" not in plan, plan
        assert "documents.parquet" not in plan, plan
        assert "spark_graft_retshort_" in plan, plan
    for name in (
        "mmr_diversified_top3",
        "hybrid_rrf_top_docs",
        "hard_negatives_top3",
    ):
        plan = plan_of(spark, name)
        assert "embeddings.parquet" not in plan, name
        assert "documents.parquet" not in plan, name
    # ivf_recall_at5's IVF leg under measurement runs live (it scans
    # the corpus by design), but its exact-baseline leg must come
    # from the persisted shortlist store (r11 verdict #2)
    assert "spark_graft_retshort_" in plan_of(spark, "ivf_recall_at5")
    # and the producers DO scan the corpus (the assertion above would
    # be vacuous if the plan string stopped naming input files)
    assert "embeddings.parquet" in plan_of(spark, "knn_bruteforce_top5")
    assert "documents.parquet" in plan_of(spark, "bm25_top_docs")


def test_store_ident_requires_version_token(tmp_path):
    """A store identity must open with a name:vN version token (r10
    ADVICE #3): a trainer/tokenizer semantics change bumps the token
    instead of silently serving a stale store keyed only on corpus
    identity."""
    import os

    from machine_downtime_monitor_on_aws_spark import fsio

    src = tmp_path / "corpus.parquet"
    src.write_bytes(b"x" * 7)
    st = os.stat(src)
    assert fsio.store_ident(str(src), "shx:v2:3") == (
        f"{src}:{st.st_mtime_ns}:7:shx:v2:3"
    )
    assert fsio.store_ident(str(src), "pcep:v10").endswith(":pcep:v10")
    for key in ("shx", "shx:2:v3", "shx:v", "shx:vx:3", ":v2", "shx:v2x", "v2"):
        with pytest.raises(ValueError, match="name:vN"):
            fsio.store_ident(str(src), key)


def test_plans_route_stores_through_helpers():
    """Every store a catalog query builds goes through the shared
    protocol: identity via fsio.store_ident, staged stores via
    fsio.build_if_absent, replays via streaming/epochs.replay_store.
    A source guard over plans/ keeps pasted copies of the protocol
    out, and the identity count keeps the guard from passing
    vacuously if the call sites drift."""
    import os
    import re

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "machine_downtime_monitor_on_aws_spark",
        "plans",
    )
    banned = ("os.stat(", "tmp_store_path(", "publish_dir(", "_REPLAY_DONE")
    bad = []
    n_idents = 0
    for fname in sorted(os.listdir(plans_dir)):
        if not fname.endswith(".py"):
            continue
        src = open(os.path.join(plans_dir, fname)).read()
        bad += [(fname, b) for b in banned if b in src]
        n_idents += len(re.findall(r"\bfsio\.store_ident\(", src))
    assert not bad, f"store protocol pasted into plans/: {bad}"
    assert n_idents >= 20, f"only {n_idents} store_ident call sites"


def test_exactsubstr_plan_single_pass_three_exchanges(spark):
    """The suffix table + bucket windows (the dominant cost) execute
    once: one documents scan, exactly three hash exchanges (the r17
    parallelism spreader on the narrow (doc_id, tokens) projection -
    suffix md5s hash on every core even from a few-split corpus -
    then anchor digest, then doc_id), no broadcast/join, no
    SinglePartition - the stats fold through the island aggregation
    instead of a stats-join-coverage self-join that would run the
    windows twice."""
    plan = plan_of(spark, "exactsubstr_doc_coverage")
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 3
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_crossencoder_rerank_plan_broadcasts_the_sliver(spark):
    """The 20-row shortlist broadcasts into the doc-text join (never
    the corpus side), scoring is one ArrowEvalPython-free mapInPandas
    stage, and the final cut is a per-query window - no global sort."""
    plan = plan_of(spark, "crossencoder_rerank_top10")
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(qid" in plan  # the per-query window cut


def test_drift_monitor_plan_partial_aggregates(spark):
    """Both population sides partial-aggregate map-side before the
    exchange - the shuffle carries O(partitions x dim) rows, not the
    exploded corpus - and the dim x dim join needs no broadcast of
    anything corpus-sized."""
    plan = plan_of(spark, "embedding_drift_monitor")
    assert len(re.findall(r"partial_sum", plan)) >= 2
    assert "SinglePartition" not in plan


def test_reregister_bucketed_table_cold_session(spark, tmp_path):
    """r17 verdict #6: a fresh session must restore a sidecar-stamped
    bucketed index over its existing warehouse files with one DDL
    (zero data movement) - registration, bucketed (zero-Exchange)
    join layout, and the spark_graft.* property stamps all survive.
    Simulated cold session: move the table dir aside, DROP the
    registration (managed drop deletes only what's under the
    registered location), move the files back."""
    from pyspark.sql import functions as F

    from machine_downtime_monitor_on_aws_spark import fsio
    from machine_downtime_monitor_on_aws_spark.operators.allpairs import (
        shingle_postings,
        write_shingle_index,
    )
    from machine_downtime_monitor_on_aws_spark.operators.dedup import (
        read_minhash_index_params,
    )
    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        reregister_bucketed_table,
        stamp_bucketspec,
    )

    table = "t_rereg_cold"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh0 = spark.conf.get("spark.sql.warehouse.dir")
    fsio.delete(spark, f"{wh0.rstrip('/')}/{table}")  # stale leftovers
    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h") for i in range(8)],
        "doc_id long, text string",
    )
    write_shingle_index(
        shingle_postings(docs, "doc_id", "text", 5), table,
        num_buckets=4, shingle_n=5,
    )
    stamp_bucketspec(spark, table)
    before = sorted(map(tuple, spark.table(table).collect()))
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{wh.rstrip('/')}/{table}"
    assert fsio.exists(spark, f"{loc}/_spark_graft_bucketspec.json")

    # simulate the session dying: registration gone, files intact
    aside = loc + "__aside"
    assert fsio.rename(spark, loc, aside)
    spark.sql(f"DROP TABLE {table}")
    assert fsio.rename(spark, aside, loc)
    assert not spark.catalog.tableExists(table)

    assert reregister_bucketed_table(spark, table) is True
    assert spark.catalog.tableExists(table)
    assert sorted(map(tuple, spark.table(table).collect())) == before
    # property stamps restored -> param validation keeps working
    assert read_minhash_index_params(spark, table)["shingle_n"] == 5
    # bucketed layout restored: an aggregation on the bucket key rides
    # the bucketed scan - zero shuffle Exchange, "Bucketed: true"
    agg = spark.table(table).groupBy("shingle").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # idempotent: already-registered returns True without DDL
    assert reregister_bucketed_table(spark, table) is True
    # EXTERNAL restore: DROP leaves the files for the next session
    spark.sql(f"DROP TABLE {table}")
    assert fsio.exists(spark, f"{loc}/_spark_graft_bucketspec.json")
    assert reregister_bucketed_table(spark, table) is True
    spark.sql(f"DROP TABLE {table}")
    fsio.delete(spark, loc)


def _table_props(spark, table):
    return {r.key: r.value for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}


def test_reregister_escapes_quoted_property_values(spark):
    """Stamped property values (and the location) reach the restore
    DDL as SQL string literals: a single quote or a backslash in a
    value must round-trip verbatim, not break - or inject into - the
    CREATE TABLE statement."""
    from machine_downtime_monitor_on_aws_spark import fsio
    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        reregister_bucketed_table,
        stamp_bucketspec,
    )

    table = "t_rereg_quoted"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{wh.rstrip('/')}/{table}"
    fsio.delete(spark, loc)
    value = "it's a \\ path', 'spark_graft.x'='y"
    try:
        spark.createDataFrame([(1, "a")], "k int, v string").write.bucketBy(
            2, "k"
        ).saveAsTable(table)
        spark.sql(
            f"ALTER TABLE {table} SET TBLPROPERTIES "
            "('spark_graft.note'='it\\'s a \\\\ path\\', \\'spark_graft.x\\'=\\'y')"
        )
        assert _table_props(spark, table)["spark_graft.note"] == value
        stamp_bucketspec(spark, table)

        aside = loc + "__aside"
        assert fsio.rename(spark, loc, aside)
        spark.sql(f"DROP TABLE {table}")
        assert fsio.rename(spark, aside, loc)

        assert reregister_bucketed_table(spark, table) is True
        assert _table_props(spark, table)["spark_graft.note"] == value
        assert "spark_graft.x" not in _table_props(spark, table)
        assert [tuple(r) for r in spark.table(table).collect()] == [(1, "a")]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        fsio.delete(spark, loc)


def test_reregister_refuses_without_sidecar(spark):
    """A location without a COMPLETE sidecar (interrupted build, or a
    pre-r18 index) is not restorable - the caller must rebuild."""
    from machine_downtime_monitor_on_aws_spark import fsio
    from machine_downtime_monitor_on_aws_spark.sources.lake import (
        reregister_bucketed_table,
    )

    table = "t_rereg_nosidecar"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{wh.rstrip('/')}/{table}"
    fsio.delete(spark, loc)
    assert reregister_bucketed_table(spark, table) is False
    fsio.mkdirs(spark, loc)
    try:
        assert reregister_bucketed_table(spark, table) is False
        # torn sidecar: also not restorable
        fsio.write_text(spark, f"{loc}/_spark_graft_bucketspec.json", "{not json")
        assert reregister_bucketed_table(spark, table) is False
    finally:
        fsio.delete(spark, loc)
