"""Suffix-ordering exact-substring dedup - the skew-immune
complement to the k-gram pair join in :mod:`.spans` (r13 verdict
next-round #3a; the distributed re-expression of Lee et al. 2022's
suffix-array ExactSubstr pass from "Deduplicating Training Data
Makes Language Models Better").

Semantics (ExactSubstr): a token position is DUPLICATED when the
substring starting there occurs at least twice anywhere in the
corpus - across documents or within one (self-overlaps count, as in
the paper). The classic suffix-array reading: position p lies inside
a duplicate of length >= L iff p's suffix shares an LCP >= L with an
ADJACENT suffix in suffix-sorted order, because sorted order places
each suffix next to its longest-common-prefix partner.

Why this next to spans.duplicated_spans (which already finds all
cross-doc spans >= k exactly): the k-gram pass JOINS every pair of
occurrences of a gram, so a boilerplate gram occurring W times
corpus-wide emits O(W^2) join rows and needs the
``max_gram_occurrences`` recall valve. Suffix ordering never
enumerates pairs: the same W occurrences land in one sort bucket and
cost O(W log W) to sort plus O(W) adjacent comparisons - hot
boilerplate is exactly where this pass stays cheap, with NO recall
valve needed. The spans pass stays the tool when the PAIRING
(doc_a, doc_b, alignment) is the product; this pass is the tool when
the per-position duplicated/not decision is (the paper's use: cut
duplicated ranges out of training text).

Distributed shape - a full suffix array needs the corpus's token
space in one address space, so the sort is bucketed losslessly
instead (the same per-key-window discipline that keeps global sorts
out of the rest of this repo):

- every suffix is keyed by the md5 of its first ``anchor_tokens``
  tokens (the bucket) plus the next ``ext_tokens`` tokens (the
  extension). Two suffixes with LCP >= anchor_tokens share their
  bucket BY CONSTRUCTION, so sorting within buckets and comparing
  adjacent rows loses no duplicate of length >= anchor_tokens - the
  bucket boundary only severs pairs whose LCP is below the reporting
  threshold anyway.
- the suffix table is O(corpus tokens) rows of
  (doc_id, pos, 32-hex bucket, <= ext_tokens tokens) - document text
  never shuffles whole, only bounded windows of it (the dedup.py /
  spans.py discipline); ``ext_tokens`` bounds the shuffle row width.
- the only shuffle keys on the high-entropy bucket digest; AQE
  absorbs residual skew. Within a bucket the window sort is
  per-partition; no global sort, no global row_number.
- reported repeat lengths cap at anchor_tokens + ext_tokens; a
  longer repeat still reports from every interior anchor, so
  per-document COVERAGE (the dedup decision) is exact - only the
  max-length statistic saturates at the cap. Coverage uses
  fixed-width [pos, pos+anchor) intervals, whose union over all
  duplicated anchors of a repeat of length R is exactly [a, a+R).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import barrier


def token_lcp(a: Column, b: Column) -> Column:
    """Length of the longest common prefix of two token arrays (both
    non-null), as a long. ``array_position`` returns 0 when no
    mismatch exists inside the zipped span, i.e. one array prefixes
    the other - then the LCP is the shorter length. ``zip_with`` pads
    the shorter side with NULL and ``eqNullSafe(NULL, token)`` is
    false, so padding reads as a mismatch at exactly min-length+1."""
    z = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
    mm = F.array_position(z, F.lit(False))
    return (
        F.when(mm > 0, mm - 1).otherwise(F.least(F.size(a), F.size(b)))
    ).cast("long")


def suffix_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    anchor_tokens: int,
    ext_tokens: int,
    parallelism: int | None = None,
) -> DataFrame:
    """One row per token suffix: ``(doc_id, pos, bucket, ext)`` with
    ``bucket`` the md5 of the space-joined first ``anchor_tokens``
    tokens and ``ext`` the following ``ext_tokens`` tokens (shorter
    near document end, empty past it). Documents shorter than
    ``anchor_tokens`` emit nothing - they cannot host an
    anchor-length duplicate (same rule as spans.kgram_windows).

    ``parallelism``: optional repartition width for the narrow
    (doc_id, tokens) projection before the md5-heavy explode - the
    minhash/allpairs discipline: a corpus arriving in few input
    splits would otherwise hash its every suffix on a fraction of
    the cores. The exchange moves the token arrays once, nothing
    downstream changes (the bucket window / count aggregate
    re-exchanges by bucket either way)."""
    if anchor_tokens < 1:
        raise ValueError(f"anchor_tokens must be >= 1, got {anchor_tokens}")
    if ext_tokens < 0:
        raise ValueError(f"ext_tokens must be >= 0, got {ext_tokens}")
    d = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    ).filter(F.size("__t") >= anchor_tokens)
    if parallelism:
        d = d.repartition(parallelism, "doc_id")
    entries = F.transform(
        F.sequence(F.lit(1), F.size("__t") - F.lit(anchor_tokens - 1)),
        lambda i: F.struct(
            (i - 1).cast("long").alias("pos"),
            F.md5(F.array_join(F.slice("__t", i, anchor_tokens), " ")).alias(
                "bucket"
            ),
            F.slice("__t", i + F.lit(anchor_tokens), ext_tokens).alias("ext"),
        ),
    )
    return d.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", "e.pos", "e.bucket", "e.ext"
    )


def exactsubstr_coverage(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    anchor_tokens: int = 8,
    ext_tokens: int = 24,
    parallelism: int | None = None,
) -> DataFrame:
    """Per-document ExactSubstr dedup statistics:
    ``(doc_id, dup_starts, covered_tokens, max_repeat_tokens)`` for
    every document with at least one duplicated anchor.

    - ``dup_starts``: token positions whose ``anchor_tokens``-gram
      occurs >= 2 times corpus-wide (the paper's per-position
      duplicated test at threshold L = anchor_tokens);
    - ``covered_tokens``: tokens inside the union of the
      [pos, pos+anchor) intervals of those positions - exactly the
      token mass the paper's pass would cut;
    - ``max_repeat_tokens``: longest duplicated substring starting in
      this document, measured as anchor + the larger adjacent-suffix
      LCP extension, saturating at anchor_tokens + ext_tokens.

    Adjacency is within the anchor bucket ordered by the extension
    token ARRAY itself (element-wise lexicographic - exact
    token-sequence order with no separator assumption; a space-joined
    string order would under-report LCPs for tokens containing ASCII
    control chars < 0x20, which survive whitespace tokenization.
    DuckDB's list comparison is identical, so the oracle shares the
    order), with (doc_id, pos) tiebreak. Equal-extension ties give
    equal LCPs, so the reported values are tie-order-independent."""
    suf = suffix_rows(
        docs, id_col, text_col, anchor_tokens, ext_tokens, parallelism
    )
    bucket_w = Window.partitionBy("bucket")
    order_w = bucket_w.orderBy(F.col("ext"), "doc_id", "pos")
    prev_ext = F.lag("ext").over(order_w)
    next_ext = F.lead("ext").over(order_w)
    lcp_side = lambda nb: F.when(  # noqa: E731
        nb.isNotNull(), token_lcp(F.col("ext"), nb)
    ).otherwise(F.lit(0))
    scored = (
        suf.withColumn("__cnt", F.count(F.lit(1)).over(bucket_w))
        .withColumn(
            "rep",
            F.lit(anchor_tokens)
            + F.greatest(lcp_side(prev_ext), lcp_side(next_ext)),
        )
        .filter(F.col("__cnt") >= 2)
        .select("doc_id", "pos", "rep")
    )
    # gaps-and-islands union of the fixed-width [pos, pos+anchor)
    # intervals, per doc (per-key window, never global). Everything
    # downstream rides ONE linear lineage: counts and the max repeat
    # fold through the same island aggregation that computes
    # coverage, so the suffix table + bucket windows - the dominant
    # cost - execute exactly once (a stats ⋈ coverage self-join
    # would run them twice). Both groupBys cluster on doc_id, which
    # the island window already partitioned by - no further shuffle.
    doc_w = Window.partitionBy("doc_id").orderBy("pos")
    isl = scored.withColumn(
        "island",
        F.sum(
            F.when(
                F.col("pos") > F.coalesce(
                    F.lag("pos").over(doc_w) + anchor_tokens,
                    F.lit(-1),
                ),
                1,
            ).otherwise(0)
        ).over(doc_w),
    )
    per_island = isl.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("rep").alias("__max_rep"),
        (F.max("pos") + anchor_tokens - F.min("pos")).alias("__clen"),
    )
    return per_island.groupBy("doc_id").agg(
        F.sum("__n").alias("dup_starts"),
        F.sum("__clen").cast("long").alias("covered_tokens"),
        F.max("__max_rep").alias("max_repeat_tokens"),
    )


def exactsubstr_removed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    anchor_tokens: int = 8,
    parallelism: int | None = None,
) -> DataFrame:
    """The REMOVAL half of the suffix pass (r15 verdict next-round
    #4a - :func:`exactsubstr_coverage` reports what the paper's pass
    WOULD cut; this cuts it): every token position whose
    ``anchor_tokens``-gram occurs >= 2 times corpus-wide is
    duplicated, and the union of the [pos, pos+anchor) intervals of
    those positions is removed from the text. Returns one row per
    input doc - ``(doc_id, n_tokens, n_removed, dedup_text)``, the
    :func:`~.spans.remove_duplicated_spans` contract - with
    ``n_removed`` equal BY CONSTRUCTION to the coverage operator's
    ``covered_tokens`` (the intervals are the same set; test-pinned).

    Occurrence semantics: the k-gram removal is pair-aware and keeps
    the earliest copy (it only cuts ``doc_b`` sides); the suffix
    pass never materializes pairs - every duplicated occurrence is
    cut, matching the per-position duplicated test it is built on
    (and the released ExactSubstr implementation of Lee et al. 2022,
    which likewise drops all copies of a duplicated substring;
    keep-one corpora route through the spans operators).

    Scale shape (r16 verdict next-round #4 - the duplicated test is
    an aggregate + broadcast probe, NOT a bucket window): the suffix
    table is O(corpus tokens) rows of (doc_id, pos, 32-hex bucket) -
    no extension column at all - barriered ONCE so its two consumers
    never re-derive it. The per-bucket count is a groupBy aggregate
    (map-side combine folds every hot gram to one row per map
    partition before the counts-only shuffle), the >= 2 filter
    shrinks it to the duplicated-gram sliver, and the sliver joins
    back over the barrier's blocks - AQE broadcasts it at runtime
    when it fits
    (the probe then keeps the blocks' own uniform partitioning and
    a pathological boilerplate 8-gram at 100 TB never concentrates
    anywhere) and falls back to a skew-SPLITTABLE sort-merge join
    when a boilerplate-heavy corpus makes the sliver itself large -
    whereas WindowExec would always sort the whole suffix table by
    bucket into one unsplittable hot-bucket partition (AQE cannot
    split a window). Measured A/B
    at sf0.1/sf1 in SCALE.md: the barrier makes this shape match
    the window's local time while deleting its skew ceiling. (The
    coverage twin keeps its window: adjacent-suffix LCP genuinely
    needs lag/lead.) Duplicated positions then merge per doc and cut
    through the SHARED terminal stage
    (:func:`~.spans.remove_duplicated_spans` - gaps-and-islands
    range merge, one doc_id join of a span-derived sliver, nested
    higher-order token filter): document text shuffles exactly once,
    boilerplate stays O(W) bucket rows per hot gram, no recall
    valve."""
    from .spans import remove_duplicated_spans

    suf = barrier(
        suffix_rows(
            docs, id_col, text_col, anchor_tokens, ext_tokens=0,
            parallelism=parallelism,
        ).select("doc_id", "pos", "bucket"),
        eager=False,
    )
    dup_buckets = (
        suf.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= 2)
        .select("bucket")
    )
    dup = suf.join(dup_buckets, "bucket")
    cut = dup.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("start_b"),
        F.lit(anchor_tokens).cast("long").alias("span_tokens"),
    )
    return remove_duplicated_spans(docs, cut, id_col, text_col, anchor_tokens)
