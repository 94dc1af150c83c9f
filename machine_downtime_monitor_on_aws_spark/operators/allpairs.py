"""Exact all-pairs Jaccard similarity join via prefix filtering
(AllPairs, Bayardo et al. 2007; PPJoin, Xiao et al. 2008).

The LOSSLESS leg of the near-dup stack: MinHash+LSH
(operators/dedup.py) trades recall for speed - a pair can land in no
shared band and be missed. Prefix filtering is exact: order every
document's distinct shingles by a single global total order (document
frequency asc, then shingle asc - rarest first), and any two sets
with Jaccard >= t MUST share an element inside each one's first
``|d| - ceil(t*|d|) + 1`` shingles (if they shared none, the
remaining suffixes are too short to reach the required overlap
``o >= t*|d|``, which follows from J >= t because the union is at
least max(|a|,|b|)). Joining on prefix shingles only therefore finds
EVERY qualifying pair, and the candidate fan-out stays bounded
because prefixes hold the rarest shingles - few partners each.

Floating-point safety: the overlap bound is computed as
``floor(t * |d|)`` (not ceil) and the size filter as
``min + 1 > t * max``, both of which can only OVER-admit candidates
when the double rounds across an integer - never drop a true pair.
Candidates verify with exact integer set arithmetic
(operators/dedup.jaccard_verified_pairs), so extras cost a row in a
join, not correctness. The catalog oracle brute-forces ALL n*(n-1)/2
pairs in DuckDB - a hash match is a machine-checked proof of
losslessness, evidence the LSH queries (which share their candidate
derivation with their oracle) cannot give.

Scale shape: one shingle explode + one vocabulary-sized df-count
aggregation, one keyed join shingle-rows x df-counts, one per-doc
regroup (array_sort of a struct array - the global order is realized
per-document, NO global sort or single-partition window anywhere),
an equi-join on prefix shingles (rare keys - the skew story is the
df-ordering itself; a stop-shingle cap like minhash's
max_bucket_size can bolt on unchanged), and exact verification over
the surviving sliver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles
from ..session import barrier


def _allpairs_doc_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    parallelism: int | None = None,
) -> DataFrame:
    """(id, __sh, sz) per document: the distinct shingle set as an
    array in the GLOBAL (document frequency asc, shingle asc) order,
    plus its size - the one table both the prefix-filter candidate
    generation and the exact verification read (r17: the former
    structure re-shingled the corpus a second time inside
    jaccard_verified_pairs; deriving verification sets from the same
    arrays the prefixes slice removes that whole pass)."""
    # spread the narrow projection BEFORE the explode (the minhash /
    # symbolized_words shape): a single-file corpus would otherwise
    # shingle, count, and join on one core. The explode stays FUSED
    # with the array expression in one projection: hoisting the array
    # into its own select measures 2x slower at sf0.1 (6.0s vs 3.1s
    # whole-query) - the Generate loses its codegen fusion; Spark
    # 4.1's projection-level subexpression elimination already
    # handles the repeated tokens() subtree inside shingles().
    n_par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    sh_rows = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .repartition(n_par)
        .select(
            "id",
            F.explode(
                F.array_distinct(shingles(F.col("__t"), shingle_n))
            ).alias("shingle"),
        )
    )
    dfreq = sh_rows.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    # realize the global (df asc, shingle asc) order per document:
    # struct comparison is lexicographic by field, and shingles are
    # distinct within a doc, so the sort is total and deterministic
    # regardless of collect_list's arrival order.
    return (
        sh_rows.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sdf"), F.col("shingle")))
                ),
                lambda x: x["shingle"],
            ).alias("__sh"),
            F.count(F.lit(1)).alias("sz"),
        )
    )


def _prefix_candidates(doc_sets: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from a ``_allpairs_doc_sets``
    frame - the prefix-filter equi-join + size-ratio filter."""
    # overlap bound o >= t*|d| underestimated as floor(t*|d|) ->
    # prefix one longer than strictly needed at integer boundaries,
    # never shorter.
    p_len = (
        F.col("sz")
        - F.floor(F.lit(threshold) * F.col("sz").cast("double")).cast("long")
        + F.lit(1)
    )
    prefix = doc_sets.select(
        "id",
        "sz",
        F.explode(F.slice(F.col("__sh"), F.lit(1), p_len.cast("int"))).alias(
            "shingle"
        ),
    )
    a = prefix.selectExpr("id AS doc_a", "sz AS sz_a", "shingle")
    b = prefix.selectExpr("id AS doc_b", "sz AS sz_b", "shingle")
    return (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                (F.least("sz_a", "sz_b") + F.lit(1)).cast("double")
                > F.lit(threshold)
                * F.greatest("sz_a", "sz_b").cast("double")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def allpairs_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs guaranteed to contain every
    pair with shingle-set Jaccard >= threshold (and usually few
    others: prefix filtering + the size-ratio filter)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return _prefix_candidates(
        _allpairs_doc_sets(df, id_col, text_col, shingle_n, parallelism),
        threshold,
    )


def allpairs_jaccard_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 5,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): EXACTLY the pairs with shingle-set
    Jaccard >= threshold - prefix-filtered candidates verified with
    exact integer set arithmetic. No false negatives by the prefix
    theorem; no false positives by verification.

    One shingle derivation end to end (r17): the per-doc ordered
    shingle arrays behind the prefix slices ARE the exact sets the
    verification needs (array_intersect is order-insensitive, and
    ``sz`` already carries each set's size), so the doc-set table
    materializes once behind a lazy localCheckpoint and feeds the
    prefix explode AND both verification join legs. The former shape
    re-ran tokenize+shingle over the corpus for verification
    (jaccard_verified_pairs' semi-join + re-shingle) - a whole second
    corpus scan+explode, deleted here; candidate pairs are consumed
    exactly once, so their own barrier is gone too."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    doc_sets = barrier(
        _allpairs_doc_sets(df, id_col, text_col, shingle_n), eager=False
    )
    cands = _prefix_candidates(doc_sets, threshold)
    pa = cands.join(
        doc_sets.select(
            F.col("id").alias("doc_a"),
            F.col("__sh").alias("sh_a"),
            F.col("sz").alias("sz_a"),
        ),
        "doc_a",
    )
    pab = pa.join(
        doc_sets.select(
            F.col("id").alias("doc_b"),
            F.col("__sh").alias("sh_b"),
            F.col("sz").alias("sz_b"),
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # same integer values as jaccard_verified_pairs' size() arithmetic
    # (sz == size(__sh) by construction), so the double divides - and
    # the hash - are bit-identical.
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pab.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


# ---- Persisted shingle-postings index: O(batch) EXACT near-dup

def shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    parallelism: int | None = None,
    hoist: bool = True,
) -> DataFrame:
    """(shingle, doc_id, sz): one row per distinct shingle per doc,
    each carrying the doc's set size - the payload that lets a probe
    compute exact Jaccard without ever joining back to a doc table
    (the minhash index's band-vector-as-payload discipline).

    ``hoist`` picks between two physically different but
    row-identical plans, because this projection needs BOTH size(sh)
    and explode(sh) and the right shape depends on the consumer
    (both measured at sf0.1, same-session interleaved A/B):

    - hoist=True (default - the INDEX BUILD path, history-scale):
      the array materializes as a column first. Inline, Catalyst
      keeps the size() Project ABOVE the Generate and the whole
      tokenize+shingle pipeline recomputes once per EXPLODED ROW -
      a per-shingle ~50x blowup that the bucketed write pays through
      its shuffle (build 14s inline vs 5s hoisted).
    - hoist=False (the PROBE's batch postings): the fused inline
      form. The batch is small, so the recompute is bounded, while
      the hoisted extra projection costs the Generate its
      whole-stage fusion on every probe (probe 2.6s inline vs 4.1s
      hoisted).
    """
    n_par = parallelism or df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    ).repartition(n_par)
    if not hoist:
        sh = F.array_distinct(shingles(F.col("__t"), shingle_n))
        return base.select(
            "doc_id", F.size(sh).alias("sz"), F.explode(sh).alias("shingle")
        )
    return base.select(
        "doc_id",
        F.array_distinct(shingles(F.col("__t"), shingle_n)).alias("__sh"),
    ).select(
        "doc_id",
        F.size("__sh").alias("sz"),
        F.explode("__sh").alias("shingle"),
    )


def write_shingle_index(
    postings: DataFrame,
    table_name: str,
    num_buckets: int = 64,
    shingle_n: int | None = None,
) -> None:
    """Persist a corpus's shingle postings as a table bucketed on
    ``shingle`` - the layout that makes incremental EXACT near-dedup
    (every new batch vs the whole history, zero false negatives) a
    join whose history side never shuffles. Same lifecycle contract
    as the minhash index: grow with :func:`append_to_shingle_index`,
    never by re-running this (overwrite); ``shingle_n`` is stamped
    and validated on probe/append so a drifted batch fails loudly
    instead of silently missing every cross-history duplicate."""
    from ..sources.lake import write_bucketed_table
    from .dedup import _stamp_index_params

    write_bucketed_table(postings, table_name, "shingle", num_buckets)
    _stamp_index_params(
        postings.sparkSession, table_name, shingle_n=shingle_n
    )


def append_to_shingle_index(
    postings: DataFrame,
    table_name: str,
    num_buckets: int = 64,
    shingle_n: int | None = None,
) -> None:
    """O(batch) index maintenance after a batch has been deduped -
    Spark validates the bucket spec, declared params validate against
    the stamp, and the cross-session file-listing refresh mirrors
    append_to_minhash_index."""
    from ..sources.lake import write_bucketed_table
    from .dedup import _check_index_params

    _check_index_params(postings.sparkSession, table_name, shingle_n=shingle_n)
    write_bucketed_table(
        postings, table_name, "shingle", num_buckets, mode="append"
    )
    postings.sparkSession.catalog.refreshTable(table_name)


def incremental_exact_jaccard(
    spark,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    threshold: float,
    shingle_n: int = 5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): EXACTLY the pairs with Jaccard >=
    threshold between the batch and (history ∪ batch) - the lossless
    steady-state twin of dedup.incremental_candidate_pairs, for the
    compliance-grade pipelines (benchmark decontamination, takedown
    sweeps) where LSH's probabilistic misses are not acceptable.
    ``table_name`` must exist (bootstrap with
    :func:`write_shingle_index`; the streaming loop handles the
    first-batch bootstrap itself), and batch ids must be unique -
    one row per document (duplicate batch rows would inflate the
    count-join's intersection counts; the replay shield protects
    the HISTORY side only).

    The count-join identity does candidates AND verification in one
    pass: joining every batch shingle row against the postings and
    counting matches per (history doc, batch doc) IS the exact
    intersection size - ``J = inter / (sz_a + sz_b - inter)`` then
    needs only the size payloads already on the rows. One join whose
    history side rides the bucketed layout (only the batch's shingle
    rows shuffle), one map-side-combining pair aggregation. Pairs
    sharing zero shingles never materialize anywhere.

    Replay/overlap safety mirrors the minhash probe: history rows
    dedupe on (shingle, doc_id) riding the bucketing (an
    append-then-crash replay would otherwise inflate intersection
    counts and CORRUPT Jaccard, not just duplicate pairs - stronger
    reason than minhash's), and docs present in both index and batch
    anti-join away from the history leg.

    ``max_shingle_df`` is the skew valve: shingles whose HISTORY
    posting list exceeds the cap (boilerplate) are excluded from
    counting, which can only LOWER a pair's measured Jaccard -
    bounded, documented recall loss on pairs whose overlap is mostly
    boilerplate; None (default) = exact, the oracle-paired mode.

    Batch-internal pairs ride the SAME count-join: the left leg is
    (history ∪ batch) postings with a history flag, and batch-batch
    rows keep only the ``doc_a < doc_b`` orientation so each
    unordered pair counts exactly once - cheaper than running the
    prefix-filter self-join beside the probe (measured 5.3s -> 3s at
    sf0.1: the whole vs_self pipeline collapses into one extra union
    leg)."""
    from pyspark.sql import Window

    from .dedup import _check_index_params

    _check_index_params(spark, table_name, shingle_n=shingle_n)
    spark.catalog.refreshTable(table_name)
    hist = spark.table(table_name).dropDuplicates(["shingle", "doc_id"])
    batch_ids = batch.select(F.col(id_col).alias("__bid")).distinct()
    h = hist.join(
        F.broadcast(batch_ids), hist["doc_id"] == F.col("__bid"), "left_anti"
    )
    if max_shingle_df is not None:
        w = Window.partitionBy("shingle")
        h = (
            h.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") <= max_shingle_df)
            .drop("__n")
        )
    # referenced by THREE join legs - materialize the shingling once;
    # hoist=False: the batch is small and the fused form keeps the
    # Generate codegen'd (see shingle_postings' A/B numbers)
    bp = barrier(
        shingle_postings(batch, id_col, text_col, shingle_n, hoist=False),
        eager=False,
    )
    probe = bp.selectExpr("shingle", "doc_id AS __db", "sz AS __sb")
    # two joins whose OUTPUTS union (a pre-join union would bury the
    # bucketed scan under the union's round-robin partitioning and
    # force history to shuffle): the history join consumes the
    # bucketed layout, and the batch self-join reuses the probe
    # side's single shingle exchange (ReusedExchange)
    vs_hist = h.select(
        "shingle", F.col("doc_id").alias("__da"), F.col("sz").alias("__sa")
    ).join(probe, "shingle")
    vs_self = (
        bp.selectExpr("shingle", "doc_id AS __da", "sz AS __sa")
        .join(probe, "shingle")
        .filter(F.col("__da") < F.col("__db"))
    )
    inter = (
        vs_hist.unionByName(vs_self)
        .groupBy("__da", "__db", "__sa", "__sb")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    jac = F.col("__i").cast("double") / (
        F.col("__sa") + F.col("__sb") - F.col("__i")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            "jaccard",
        )
    )


# ---- shingle-index maintenance: recover / compact / purge
#
# The minhash index's lifecycle discipline applies verbatim - the
# swap core (operators/dedup._swap_rewritten_index), the two-rename
# crash window and its healing, and the stamped-params re-stamp are
# all shared code parameterized on the bucket column, so the two
# indexes cannot drift apart in their filesystem behavior.

def recover_shingle_index(spark, table_name: str) -> bool:
    """Heal a compaction/purge interrupted mid-swap (two catalog
    renames; a crash between them leaves the live name missing while
    a complete copy exists under a side name). Shared with minhash:
    the recovery logic never touches the bucket column."""
    from .dedup import recover_minhash_index

    return recover_minhash_index(spark, table_name)


def compact_shingle_index(spark, table_name: str) -> None:
    """Fold a sustained-append postings table back to one file per
    bucket, dropping verbatim duplicate rows (crash re-appends),
    preserving the CLUSTERED BY (shingle) spec and stamped params
    the shuffle-free probe stands on. O(index); gate it by file
    count like compact_minhash_index_if_needed."""
    from .dedup import _swap_rewritten_index

    _swap_rewritten_index(
        spark, table_name, spark.table(table_name), bucket_col="shingle"
    )


def purge_from_shingle_index(
    spark, table_name: str, doc_ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Targeted deletion (takedown / right-to-be-forgotten): remove
    every posting row of the given documents, preserving the bucketed
    layout. Returns the number of distinct indexed documents actually
    removed; idempotent (zero hits -> zero rewrites). Honest cost:
    postings are bucketed on shingle, so doc rows have no pruned
    location - a purge is an O(index) bucket-preserving rewrite
    (batch takedowns; piggyback a due compaction, the rewrite doubles
    as one). Correctness note specific to THIS index: a purged doc's
    rows also carried its ``sz`` payload, so after the rewrite the
    doc is fully gone - no partial-row state can skew any future
    pair's intersection count."""
    from .dedup import _swap_rewritten_index

    recover_shingle_index(spark, table_name)
    spark.catalog.refreshTable(table_name)
    ids = doc_ids.select(F.col(id_col).alias("__pid")).distinct()
    tbl = spark.table(table_name)
    n = (
        tbl.join(F.broadcast(ids), tbl["doc_id"] == F.col("__pid"), "left_semi")
        .select("doc_id")
        .distinct()
        .count()
    )
    if n == 0:
        return 0
    remaining = tbl.join(
        F.broadcast(ids), tbl["doc_id"] == F.col("__pid"), "left_anti"
    )
    _swap_rewritten_index(spark, table_name, remaining, bucket_col="shingle")
    return n
