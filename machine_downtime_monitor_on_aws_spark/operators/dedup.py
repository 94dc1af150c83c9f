"""Deduplication operators for large-scale document corpora.

Extension surface per BASELINE.json's north star: exact dedup,
MinHash+LSH near-dup, n-gram Jaccard verification, SimHash. Designed
scale-first:

- exact dedup is a hash groupBy on a digest, never on the full text
  (shuffling 100 TB of text bodies vs 32-byte digests);
- MinHash+LSH turns the O(n^2) pair problem into an equi-join on
  (band, band_hash) buckets - the canonical shuffle-friendly
  formulation; skewed buckets (boilerplate dups) are handled by AQE
  skew-join splitting;
- Jaccard verification runs only on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import shingles, tokens
from ..session import barrier, is_barrier_scan, release_checkpoint

# The one band count every default-band call site shares: the band
# generator (minhash_band_arrays), the first-matching-band filter, and
# composed pipelines must agree or pairs are silently dropped
# (_first_matching_band raises on drift, but agreeing via one constant
# beats catching it at runtime).
DEFAULT_NUM_BANDS = 4


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One row per distinct text: representative (min) id, dup count,
    content digest. Shuffles 32-byte md5 keys, not documents."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of each text (U2 upsert/dedupe
    shape generalized)."""
    w_hash = F.md5(F.col(text_col))
    reps = (
        df.select(F.col(id_col).alias("__rid"), w_hash.alias("__h"))
        .groupBy("__h")
        .agg(F.min("__rid").alias("__keep"))
    )
    return (
        df.withColumn("__h", w_hash)
        .join(reps, "__h")
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep")
    )


def minhash_band_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = 8,
    num_bands: int = DEFAULT_NUM_BANDS,
    shingle_n: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_id, __bands array<string>) - one banded-signature hash per
    band, pre-explode. The band-carrying form that lets the pair stage
    keep each doc's full band vector as payload (see
    :func:`candidate_pairs_exact`); :func:`minhash_lsh_buckets` is the
    exploded (doc_id, band_id, band_hash) view of the same rows.

    num_perms/num_bands tune the Jaccard threshold curve
    (~ (1/bands)^(bands/perms)); defaults target ~0.5.

    ``parallelism``: optional repartition width applied to the narrow
    (doc_id, tokens) projection before the hash-heavy stages. The md5
    work is CPU-bound, so a corpus that arrives in few input splits
    (one small parquet file locally; a handful of giant files at
    scale) would otherwise hash on a fraction of the cores. The
    exchange moves only tokens, not documents, and doubles as a
    projection barrier: tokenization is computed exactly once
    map-side instead of being re-evaluated inside the per-element
    shingle lambda.
    """
    if num_perms % num_bands != 0:
        raise ValueError("num_perms must be divisible by num_bands")
    rows = num_perms // num_bands
    sig = _minhash_signature_frame(
        df, id_col, text_col, num_perms, shingle_n, parallelism
    )
    # one JVM-parsed expression (construction cost; same md5/concat_ws
    # tree as the former Column loop - bit-identical band hashes)
    band_cols = [
        "md5(concat_ws('|', {}))".format(
            ", ".join(f"m{b * rows + r}" for r in range(rows))
        )
        for b in range(num_bands)
    ]
    return sig.selectExpr("doc_id", f"array({', '.join(band_cols)}) AS __bands")


def _minhash_signature_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int,
    shingle_n: int,
    parallelism: int | None,
) -> DataFrame:
    """(doc_id, m0..m{K-1}) signature columns - the shared core of
    :func:`minhash_band_arrays` and :func:`minhash_signatures`.

    PRECONDITION: ``id_col`` must be unique - one row per document
    (every corpus/batch source in this package is). The r17 fused
    array_min form emits one signature row PER INPUT ROW; the
    pre-r17 explode + groupBy(doc_id).min shape would instead have
    merged duplicate-id rows into one signature, so for non-unique
    ids the two shapes diverge (r17 ADVICE #4). Dedupe ids upstream
    if a source cannot guarantee it."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
        F.trim(F.col(text_col)).alias("__t0"),
    ).select(
        "doc_id",
        "__toks",
        # the whole-text fallback is only consumed by docs shorter than
        # one shingle; NULL it out for everything else so the exchange
        # moves tokens, not a second copy of every document body.
        F.when(F.size("__toks") < F.lit(shingle_n), F.col("__t0")).alias("__t"),
    )
    if parallelism:
        # Keyed by doc_id: deterministic placement, and the exchange
        # moves tokens exactly once (the md5 work below then runs on
        # every core even when the corpus arrives in few splits).
        toked = toked.repartition(parallelism, "doc_id")
    # Shingles from the materialized token array (same semantics as
    # functions.text.shingles: docs with < n tokens get one whole-text
    # shingle), hashed and min-reduced PER DOCUMENT as one fused
    # projection: m_k = array_min(md5('k:' || shingle)). r17 swap
    # from the explode + groupBy(doc_id).min formulation: min(string)
    # cannot hash-aggregate (string is not a mutable fixed-width
    # buffer type), so the old shape ran as Sort + two SortAggregates
    # over the exploded corpus-shingle rows - sorting K 32-hex
    # columns per shingle - on BOTH sides of the band self-join.
    # array_min is the same byte-wise UTF8 ordering as min(), so the
    # signatures (and every downstream band hash) are bit-identical;
    # per-doc work is bounded by document length, which is the same
    # bound the per-shingle explode had per row group, and documents
    # spread across cores via the repartition above. Measured at
    # sf0.1: the whole signature stage loses its Sort+SortAggregate
    # (plan diff in plans/r17/), every minhash consumer drops ~2
    # stages.
    # Built as SQL expression strings, not Column-object chains: each
    # py4j Column operation is a driver JVM round-trip, and the K
    # transform-lambda builders below were the largest remaining
    # construction cost after r17's lit-array work (the "construction
    # is half the bench" finding; guide §4's boundary-cost rule
    # applied to the driver). One selectExpr parses JVM-side in a
    # single call to the SAME expression tree: CASE WHEN == when/
    # otherwise, sequence/slice/array_join/transform/array_min are
    # the identical builtins, so signatures are bit-identical.
    n_sh = f"(size(__toks) - {shingle_n - 1})"
    sh = (
        f"CASE WHEN {n_sh} >= 1 THEN transform(sequence(1, {n_sh}), "
        f"i -> array_join(slice(__toks, i, {shingle_n}), ' ')) "
        "ELSE array(__t) END AS __sh"
    )
    shingled = toked.selectExpr("doc_id", sh)
    return shingled.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(__sh, s -> md5(concat('{k}:', s)))) AS m{k}"
            for k in range(num_perms)
        ],
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = 8,
    shingle_n: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_id, __sig array<string>) - the raw K-permutation MinHash
    signature (element k = min over shingles of ``md5('k:' || s)``),
    oracle-portable by construction. The estimator QA surface: the
    fraction of agreeing signature elements between two docs is the
    unbiased MinHash estimate of their shingle Jaccard."""
    sig = _minhash_signature_frame(
        df, id_col, text_col, num_perms, shingle_n, parallelism
    )
    return sig.selectExpr(
        "doc_id",
        "array({}) AS __sig".format(
            ", ".join(f"m{k}" for k in range(num_perms))
        ),
    )


def band_arrays_from_signatures(
    signatures: DataFrame, num_bands: int, num_perms: int
) -> DataFrame:
    """(doc_id, __bands) derived from a ``minhash_signatures`` frame -
    band b = md5 of its signature slice joined with '|', exactly what
    :func:`minhash_band_arrays` computes from raw text. Lets a caller
    that needs BOTH signatures and candidate pairs (the estimator QA)
    hash each shingle K times ONCE and reuse the signature for
    banding, instead of running the tokenize+hash pipeline twice.
    ``num_perms`` is caller-declared (the array length isn't in the
    schema, and probing it would cost a job)."""
    if num_perms % num_bands != 0:
        raise ValueError("signature length must be divisible by num_bands")
    rows = num_perms // num_bands
    band_cols = [
        "md5(concat_ws('|', {}))".format(
            ", ".join(
                f"element_at(__sig, {b * rows + r + 1})" for r in range(rows)
            )
        )
        for b in range(num_bands)
    ]
    return signatures.selectExpr(
        "doc_id", f"array({', '.join(band_cols)}) AS __bands"
    )


def minhash_lsh_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perms: int = 8,
    num_bands: int = DEFAULT_NUM_BANDS,
    shingle_n: int = 5,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket assignments - the
    exploded view of :func:`minhash_band_arrays` (kept as the public
    bucket surface; the pair stage consumes the array form)."""
    ba = minhash_band_arrays(
        df, id_col, text_col, num_perms, num_bands, shingle_n, parallelism
    )
    return ba.select(
        "doc_id", F.posexplode("__bands").alias("band_id", "band_hash")
    )


def _first_matching_band(num_bands: int, band_a_at, band_b_at):
    """True iff the current (band_id, equal-hash) collision is the pair's
    FIRST matching band: every earlier band differs. Emitting a pair
    only at its first matching band makes the banded self-join produce
    each colliding pair exactly once - replacing a DISTINCT (a full
    shuffle of the expanded pair set, the blow-up point of the whole
    pipeline) with a scan-local filter. ``band_a_at(k)``/``band_b_at(k)``
    return a SQL fragment for the k-th band value of each side (array
    index or substring, depending on how the caller carries the
    payload); the whole predicate parses JVM-side as ONE CASE
    expression - the former nested when/otherwise Column chain cost
    O(num_bands^2) py4j round-trips per construction, and a nested
    when-chain IS this CASE (same descending band_id order, same
    conditions), so the filter is value-identical.

    A ``band_id`` outside [0, num_bands) means the caller's num_bands
    drifted from the band generator's - silently dropping those rows
    would under-deduplicate with nothing failing, so the fall-through
    raises instead of defaulting."""
    arms = []
    for k in range(num_bands - 1, -1, -1):
        cond = (
            " AND ".join(
                f"({band_a_at(bp)} != {band_b_at(bp)})" for bp in range(k)
            )
            or "true"
        )
        arms.append(f"WHEN band_id = {k} THEN {cond}")
    return F.expr(
        "CASE {} ELSE CAST(raise_error('first_matching_band: band_id >= "
        "num_bands (caller num_bands does not match the band generator)') "
        "AS BOOLEAN) END".format(" ".join(arms))
    )


def candidate_pairs_exact(
    band_arrays: DataFrame, num_bands: int
) -> DataFrame:
    """Exact all-pairs candidate enumeration WITHOUT shuffling the
    pair set: band-explode with the doc's full band vector riding as
    payload, equi-join on (band_id, band_hash), then keep each pair
    only at its first matching band (:func:`_first_matching_band`).

    Semantically identical to ``candidate_pairs(buckets,
    max_bucket_size=None)`` - the DISTINCT-of-bucket-join formulation
    - but the only exchanges are the two (identical, reusable) band
    exchanges of the corpus sliver; the expanded pair rows are
    filtered where they are produced and never move. At 100 TB the
    pair set is orders of magnitude larger than the corpus, so this
    is the difference between shuffling gigabytes and terabytes."""
    # Both self-join sides derive from the SAME band table; without a
    # barrier the whole signature pipeline (tokenize + K md5 per
    # shingle) runs once per side - the r17 plan audit found no
    # ReusedExchange because the planner broadcasts one side, so
    # nothing was shared. The (doc_id, __bands) sliver is doc-count
    # sized - exactly what a lazy barrier should hold. Skip the barrier
    # when the input is ALREADY a barrier scan (the streaming
    # dedup path hands in an eager barrier every
    # micro-batch): both join sides then read the same persisted
    # RDD, and a second barrier would be pure cost plus a pinned
    # RDD per epoch (r17 ADVICE #1).
    if not is_barrier_scan(band_arrays):
        band_arrays = barrier(band_arrays, eager=False)
    banded = band_arrays.select(
        "doc_id", "__bands", F.posexplode("__bands").alias("band_id", "band_hash")
    )
    a = banded.selectExpr(
        "band_id", "band_hash", "doc_id AS doc_a", "__bands AS __ba"
    )
    b = banded.selectExpr(
        "band_id", "band_hash", "doc_id AS doc_b", "__bands AS __bb"
    )
    first = _first_matching_band(
        num_bands,
        lambda k: f"__ba[{k}]",
        lambda k: f"__bb[{k}]",
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(first)
        .select("doc_a", "doc_b")
    )


def candidate_pairs(
    buckets: DataFrame, max_bucket_size: int | None = 256
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH bucket - the
    shuffle-group formulation of the all-pairs problem.

    Buckets of size <= ``max_bucket_size``: a ``groupBy(band_id,
    band_hash)`` gathers each bucket's members (shuffling 32-byte
    hashes, not documents), then pairs expand *inside* each bucket row
    via array combinatorics - no self-join, bounded by cap^2/2 structs
    per row.

    Buckets larger than the cap (boilerplate-duplicate corpora - the
    100 TB pathology flagged in r1's verdict): a single collected row
    would hold O(B^2) pairs and OOM one task, so oversized buckets
    degrade to distributed "star" pairs against the bucket's min-id
    representative: (rep, member) for every member. That keeps every
    member of the bucket in one connected dedup component at O(B) rows
    with no driver/row materialization at all - members stream through
    as ordinary rows. Recall tradeoff: non-rep pairs of an oversized
    bucket are only emitted if some other band produces them, which
    for near-identical boilerplate it overwhelmingly does; for
    dedup-by-connected-component the result is identical.

    Bucket size/representative come from one window pass over the same
    (band_id, band_hash) hash partitioning the groupBy needs, so the
    exchange is reused, not repeated.

    ``max_bucket_size=None`` switches to the plain bucket SELF-JOIN
    formulation: exact all-pairs output (no cap, no star degradation)
    with the quadratic work spread across tasks by the join (AQE
    skew-splitting applies) instead of materializing inside one
    grouped row. This is the mode oracle-paired queries use - it is
    semantically identical to an uncapped enumeration at any bucket
    size, where the grouped-row expansion concentrates a giant bucket
    in a single task."""
    if max_bucket_size is None:
        a = buckets.select("band_id", "band_hash", F.col("doc_id").alias("doc_a"))
        b = buckets.select("band_id", "band_hash", F.col("doc_id").alias("doc_b"))
        return (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
    w = Window.partitionBy("band_id", "band_hash")
    sized = buckets.select(
        "doc_id",
        "band_id",
        "band_hash",
        F.count(F.lit(1)).over(w).alias("__n"),
        F.min("doc_id").over(w).alias("__rep"),
    )
    grouped = (
        sized.filter(F.col("__n") <= max_bucket_size)
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    small = (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    big = (
        sized.filter(
            (F.col("__n") > max_bucket_size) & (F.col("doc_id") != F.col("__rep"))
        )
        .select(F.col("__rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return small.unionByName(big).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    hops_per_round: int = 3,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """``(doc_id, component)`` for every node appearing in ``pairs``;
    ``component`` is the minimum id reachable through shared-bucket
    edges - the canonical duplicate-cluster label.

    Min-label propagation on DataFrames: each round every node takes
    the min of its own label and its neighbors' labels (one shuffle
    join + map-side-combined min agg per round), and
    ``localCheckpoint`` truncates lineage so round N never recomputes
    rounds 1..N-1 (an iterative-DataFrame loop without truncation
    grows the plan exponentially). Terminates after a round with zero
    label changes.

    Scale: converges in ceil(diameter / hops_per_round) scheduled
    rounds; LSH duplicate clusters are near-cliques (diameter ~2), so
    a round or two in practice, and chainier graphs (embedding pair
    graphs) amortize fixed round overhead across hops. The
    node set is only docs appearing in some candidate pair - a sliver
    of the corpus at 100 TB - and labels shuffle as (id, id) pairs,
    never documents. For adversarial long-chain graphs a
    large-star/small-star variant would bound rounds at O(log^2 n);
    duplicate graphs don't have that shape, so the simpler propagation
    wins on constant factors.

    ``driver_threshold=0`` sends every non-empty graph to the
    distributed propagation.
    """
    el = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Size-based strategy switch (the same decision AQE makes for
    # broadcast joins): the pair graph is a SLIVER of the corpus - at
    # sf0.1 a few thousand edges, at 100 TB typically millions, both
    # a few MB of (id, id) tuples. Below the threshold, a driver-side
    # union-find finishes in microseconds where the iterative
    # DataFrame loop pays seconds of per-round scheduling; above it,
    # the distributed propagation takes over. The probe and the data
    # fetch are ONE action: collect through a threshold+1 LIMIT and
    # dispatch on the result size - a collect that comes back under
    # the cap IS the complete edge set, so sliver graphs (the common
    # case) pay a single job instead of count-then-collect running
    # the expensive upstream pair pipeline twice (the r3 regression:
    # neardup_duplicate_clusters 1.6s -> 4.4s driver-measured). No
    # checkpoint on this path: nothing ever re-reads the edges, and
    # persisting them during the collect is pure overhead. The
    # distributed fall-through re-runs the pipeline once more into a
    # checkpoint it then iterates on - that second run is the price of
    # auto-dispatch.
    head = el.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        # Union-find is direction-agnostic: raw (u, v) rows suffice -
        # no symmetric union, no distinct shuffle for sliver graphs.
        rows = head
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            ra, rb = find(row[0]), find(row[1])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {r[0] for r in rows} | {r[1] for r in rows}
        out = [(node, find(node)) for node in nodes]
        # Explicit schema derived from the input id type: a bare
        # column-name list infers types from data and crashes with
        # CANNOT_INFER_EMPTY_SCHEMA when the pair graph is empty.
        id_type = pairs.schema[src].dataType
        out_schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("component", id_type),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema=out_schema)

    # EAGER here: edges is consumed from two branches every round - a
    # lazy checkpoint lets those branches race to materialize it
    # (measured 20% slower). The checkpointed e feeds the symmetric
    # union from two subtrees, so it materializes once, not twice.
    e = barrier(el)
    edges = barrier(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    labels = barrier(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    def hop(lab: DataFrame) -> DataFrame:
        nbr = (
            edges.join(lab, edges["v"] == lab["node"])
            .groupBy("u")
            .agg(F.min("component").alias("__nbr_min"))
        )
        # The changed flag rides along in the update projection (labels
        # only ever decrease, so "changed" = strictly smaller neighbor
        # min) - the convergence check is then a scan of the
        # checkpointed round output, not a second join against the
        # previous round.
        return lab.join(nbr, lab["node"] == nbr["u"], "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("__nbr_min", "component")
            ).alias("component"),
            (F.col("__nbr_min") < F.col("component")).alias("__chg"),
        )

    for _ in range(max_iterations):
        # Several propagation hops composed into ONE checkpointed plan:
        # labels travel hops_per_round graph hops per scheduled round,
        # so round count (and its fixed checkpoint/count overhead)
        # drops by that factor - measured 2x faster at 3 hops on the
        # sf0.1 embedding graph. A no-change final hop implies a
        # propagation fixpoint regardless of earlier hops, so the
        # convergence check reads only the last hop's flag.
        # (Measured-and-rejected alternatives: per-round pointer
        # compression and hash-to-min edge rewriting both cost more in
        # extra joins/jobs than they save in rounds on dup-cluster
        # graph shapes.)
        upd = labels
        for h in range(hops_per_round):
            upd = hop(
                upd if h == 0 else upd.select("node", "component")
            )
        comp = barrier(upd)
        changed = comp.filter(F.col("__chg")).count()
        labels = comp.select("node", "component")
        if changed == 0:
            break
    else:
        # Partially-propagated labels are silently WRONG (two nodes of
        # one component can carry different labels) - fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; raise max_iterations (graph diameter exceeds it)"
        )
    return labels.select(F.col("node").alias("doc_id"), "component")


def update_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component",
    src: str = "doc_a",
    dst: str = "doc_b",
    validate_ids: bool = True,
    **cc_kwargs,
) -> DataFrame:
    """Incremental connected-component maintenance: fold one epoch's
    NEW candidate pairs into existing cluster labels without
    re-walking the historical pair graph - the labels-side companion
    of :func:`incremental_candidate_pairs` (which bounds per-epoch
    pair production; this bounds per-epoch label maintenance). At
    100 TB the historical pair graph is years of accumulated edges;
    re-running :func:`connected_components` over all of it per
    ingest batch is O(history), this is O(new pairs + touched
    components).

    Contraction: every existing component acts as one super-node
    (its label), so each new pair maps its endpoints through the
    label table (endpoints the labels have never seen stand for
    themselves), pairs whose endpoints land in the SAME super-node
    drop out, and CC runs over the contracted delta graph - a
    sliver bounded by the batch. The result relabels exactly the
    touched components plus the batch's new nodes.

    EXACT, not approximate: labels are min-member ids (the
    connected_components contract), the contracted CC takes mins of
    mins, so the merged labels equal a full CC over
    (historical ∪ new) pairs - property-tested against full reruns
    and oracle-paired in the catalog (neardup_clusters_incremental).

    Requires ids unique across the corpus (a component label can
    then never collide with a new doc id). ``validate_ids`` (default
    True) enforces the checkable half of that precondition: a
    batch-new node id (absent from ``labels``) must never equal an
    existing component LABEL - labels are min-member ids, so every
    label is itself a labeled doc, and a "new" node carrying a label
    value means the id space collided (or the labels table was not
    produced by connected_components). Without the check the
    contraction conflates that node with the whole super-node and
    silently merges unrelated clusters; with it the call fails
    loudly. Cost: one scan of ``labels`` against the BROADCAST
    batch-bounded new-node sliver - the historical labels never
    shuffle."""
    l_a = labels.select(
        F.col(id_col).alias("__ia"), F.col(comp_col).alias("__ca")
    )
    l_b = labels.select(
        F.col(id_col).alias("__ib"), F.col(comp_col).alias("__cb")
    )
    contracted = (
        new_pairs.join(l_a, F.col(src) == F.col("__ia"), "left")
        .join(l_b, F.col(dst) == F.col("__ib"), "left")
        .select(
            F.coalesce("__ca", F.col(src)).alias("doc_a"),
            F.coalesce("__cb", F.col(dst)).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    delta = connected_components(contracted, **cc_kwargs).selectExpr(
        "doc_id AS __node", "component AS __new"
    )
    # relabel touched components (labels whose component is a
    # contracted node that got a smaller min). delta is bounded by
    # the BATCH (touched components + new nodes), the labels table by
    # the corpus - broadcast the sliver so the historical labels
    # never shuffle for the relabel ...
    delta = F.broadcast(delta)
    merged = (
        labels.join(delta, F.col(comp_col) == F.col("__node"), "left")
        .select(
            F.col(id_col),
            F.coalesce("__new", F.col(comp_col)).alias(comp_col),
        )
    )
    # ... plus the batch's brand-new nodes: their contracted node is
    # their own id (they were never labeled); singletons whose every
    # pair collapsed inside one super-node keep themselves
    new_nodes = (
        new_pairs.select(F.col(src).alias(id_col))
        .unionByName(new_pairs.select(F.col(dst).alias(id_col)))
        .distinct()
        .join(labels.select(id_col), id_col, "left_anti")
    )
    if validate_ids:
        collision = (
            labels.join(
                F.broadcast(new_nodes.select(F.col(id_col).alias("__nid"))),
                F.col(comp_col) == F.col("__nid"),
            )
            .select("__nid")
            .limit(1)
            .collect()
        )
        if collision:
            raise ValueError(
                "update_components: batch-new node id "
                f"{collision[0]['__nid']!r} equals an existing "
                "component label - the corpus id space is not unique (or "
                "the labels table was not produced by "
                "connected_components); proceeding would silently merge "
                "unrelated clusters"
            )
    new_labeled = new_nodes.join(
        delta, new_nodes[id_col] == F.col("__node"), "left"
    ).select(
        F.col(id_col),
        F.coalesce("__new", F.col(id_col)).alias(comp_col),
    )
    return merged.unionByName(new_labeled)


def drop_neardup_docs(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Deduplicated corpus: drop every non-canonical member of a
    duplicate cluster (keep the min-id representative; docs in no
    cluster pass through). Anti-join on ids only - the 100 TB fact
    never carries cluster state."""
    non_canonical = components.filter(
        F.col("component") != F.col("doc_id")
    ).select(F.col("doc_id").alias("__drop_id"))
    return df.join(
        non_canonical, df[id_col] == F.col("__drop_id"), "left_anti"
    )


def jaccard_verified_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keeps pairs with
    similarity >= threshold. Shingle sets are computed only for docs
    that appear in some candidate pair (semi-join first): at 100 TB
    the candidate set is a sliver of the corpus, and shingling is the
    expensive projection - don't run it on non-candidates."""
    cand_ids = (
        pairs.select(F.col("doc_a").alias("__cid"))
        .unionByName(pairs.select(F.col("doc_b").alias("__cid")))
        .distinct()
    )
    # The shingle projection feeds BOTH sides of the pair join (sh_a,
    # sh_b); without a barrier the semi-join + shingling runs twice.
    # Lazy checkpoint: candidates are a sliver of the corpus, so the
    # materialized rows are small - same shape as the caller's pairs
    # checkpoint.
    sh = barrier(
        df.join(cand_ids, F.col(id_col) == F.col("__cid"), "left_semi").select(
            F.col(id_col).alias("__id"),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("__sh"),
        ),
        eager=False,
    )
    pa = pairs.join(sh.withColumnRenamed("__id", "doc_a").withColumnRenamed("__sh", "sh_a"), "doc_a")
    pab = pa.join(sh.withColumnRenamed("__id", "doc_b").withColumnRenamed("__sh", "sh_b"), "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        pab.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


_HEX = "0123456789abcdef"


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 4,
    parallelism: int | None = None,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    the rolling-hash document fingerprinting that detects PARTIAL
    overlap - a paragraph lifted into an otherwise-different document
    - which whole-document MinHash/SimHash dilute away. One row per
    (doc_id, distinct fingerprint).

    Pipeline: token k-grams -> 24-bit md5-derived hash per gram (the
    sampling.sample_hash digest scheme, so the DuckDB oracle
    reproduces it digit-for-digit) -> min over each sliding window
    of ``w`` consecutive gram hashes -> distinct per doc. The
    winnowing guarantee: any shared token run of length >= w+k-1
    produces at least one shared fingerprint, and density ~2/(w+1)
    per gram makes the downstream inverted join corpus-size-, not
    document-size-, shaped. Docs shorter than one k-gram fall back
    to the trimmed whole text (the shingles convention). Ties inside
    a window collapse by VALUE (the fingerprint is a set).

    Shape: EXPLODE grams to rows (one md5 per gram), then the window
    min rides a per-doc window frame - the same one-keyed-exchange
    shape as the MinHash pipeline, and the distinct rides that
    exchange too (hashpartitioning(doc_id) satisfies its
    clustering). An earlier array-lambda formulation looked
    shuffle-free but was O(grams^2) md5 calls per doc: Spark does no
    common-subexpression elimination inside higher-order-function
    lambdas, so every window's slice() re-evaluated the WHOLE
    gram-hash array expression (measured: minutes per 5k docs vs
    seconds for this shape)."""
    from ..functions.text import tokens as _tokens

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    t = _tokens(F.col("__text"))
    grams = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        ),
    ).otherwise(F.array(F.trim(F.col("__text"))))
    g = src.select("doc_id", F.posexplode(grams).alias("__gpos", "__gram"))
    h = g.select(
        "doc_id",
        "__gpos",
        F.conv(F.substring(F.md5(F.col("__gram")), 1, 6), 16, 10)
        .cast("long")
        .alias("__h"),
    )
    wnd = (
        Window.partitionBy("doc_id")
        .orderBy("__gpos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    # a window starting at position p is REAL iff its frame holds w
    # grams - except position 0, which always fingerprints (for docs
    # shorter than w grams its frame IS the whole doc). One window
    # pass: both the min and the frame size ride the same frame spec
    mins = h.select(
        "doc_id",
        "__gpos",
        F.min("__h").over(wnd).alias("fingerprint"),
        F.count(F.lit(1)).over(wnd).alias("__span"),
    )
    return (
        mins.filter((F.col("__span") == w) | (F.col("__gpos") == 0))
        .select("doc_id", "fingerprint")
        .distinct()
    )


def winnow_overlap_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_docs_per_fingerprint: int | None = 50,
) -> DataFrame:
    """Partial-overlap candidate pairs from winnowing fingerprints:
    docs sharing >= ``min_shared`` fingerprints, with the shared
    count as evidence strength. The plagiarism/boilerplate-lift
    detector MinHash's whole-doc Jaccard misses.

    ``max_docs_per_fingerprint`` drops fingerprints present in more
    docs than the cap - ubiquitous fingerprints are boilerplate
    (license headers, nav text) whose buckets expand quadratically,
    the same pathology candidate_pairs caps; dropping them is
    standard winnowing practice (they carry no overlap signal).

    Shape (mirrors candidate_pairs' grouped mode): ONE exchange
    gathers each fingerprint's doc-id set (32-byte-hash-sized rows,
    never text), the size filter and the pair expansion happen
    in-row (bounded by cap^2/2 structs per row - the cap makes the
    expansion safe), and one more exchange counts shared
    fingerprints per pair. A window+self-join formulation costs a
    THIRD full shuffle of the fingerprint table and recomputes the
    fingerprint pipeline on both join sides (measured: no exchange
    reuse) - this is strictly less data movement.
    ``max_docs_per_fingerprint=None`` switches to the exact
    self-join formulation (no cap, quadratic work spread by the
    join) for corpora known boilerplate-free."""
    if max_docs_per_fingerprint is None:
        a = fingerprints.selectExpr("fingerprint", "doc_id AS doc_a")
        b = fingerprints.selectExpr("fingerprint", "doc_id AS doc_b")
        return (
            a.join(b, "fingerprint")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
    grouped = (
        fingerprints.groupBy("fingerprint")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("__ids"))
        .filter(
            (F.size("__ids") >= 2)
            & (F.size("__ids") <= max_docs_per_fingerprint)
        )
    )
    pairs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size(F.col("__ids"))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    parallelism: int | None = None,
) -> DataFrame:
    """64-bit SimHash rendered as a 16-char hex string, built from the
    first 16 hex digits of each token's md5 - every primitive (md5,
    substring, integer arithmetic) is engine-portable, so this variant
    carries an exact DuckDB oracle (r1 next-round item #7; the
    xxhash64 variant below stays as the cheaper Spark-native path).

    bit b (b = 4*j + k, hex digit j, intra-digit weight 2^k) votes
    +1/-1 per token; votes > 0 set the bit; each output hex char
    re-encodes 4 decided bits. A string fingerprint sidesteps
    signed-64 overflow on bit 63 in engines without unsigned bigints.

    Shape: explode tokens to rows, derive the 16 hex digits as TWO
    ``conv`` longs (hi/lo 8 hex chars), vote each bit with flat
    shift/mask integer columns, and sum per doc with a map-side
    combined 64-column aggregation. An earlier formulation folded a
    per-row vote vector with aggregate/zip_with; Spark evaluates
    higher-order-function lambdas interpreted (outside whole-stage
    codegen), making it 3x slower than this flat-column plan. The
    shuffle moves one 64-long partial per (task, doc) - ~512 bytes per
    document, independent of document size. ``explode_outer`` +
    ``coalesce(sum, 0)`` keeps zero-token docs (all-zero fingerprint,
    matching the oracle's fold-over-empty = 0).

    All wide (64-column) projections are built as SQL expression
    strings, not Column-object chains: each py4j Column operation is a
    driver JVM round-trip, and ~800 of them cost more wall-clock than
    the query's own execution at sf0.1. One selectExpr string parses
    JVM-side in a single call.
    """
    # Repartition the narrow (doc_id, text) projection BY doc_id
    # BEFORE exploding: the exchange moves each text once (not one row
    # per token), and because Generate preserves its child's hash
    # partitioning, the per-doc vote aggregation below needs NO second
    # exchange - partials and final merge in the same stage. (The
    # previous shape round-robined the exploded token rows: more bytes
    # shuffled AND an extra agg exchange.)
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    tok_rows = src.select(
        "doc_id", F.explode_outer(tokens(F.col("__text"))).alias("__t")
    )
    hashed = tok_rows.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(__t), 1, 8), 16, 10) AS BIGINT) AS __hi",
        "CAST(conv(substring(md5(__t), 9, 8), 16, 10) AS BIGINT) AS __lo",
    )

    # r18 (verdict #5): the 64 per-bit vote columns pack PAIRWISE into
    # 32 longs - vote-bit b (a hex digit of __hi) and vote-bit b+32
    # (the same digit position of __lo) share one shift amount, so
    # __p{b} carries bit b in its low 32 bits and bit b+32 in its high
    # 32. Integer-exact repack of the same votes: the old per-token
    # vote was bit*2-1 summed per doc, and sign(sum(bit*2-1)) ==
    # (2*sum(bit) > count) - all integer arithmetic, so the decided
    # bits (and the hex fingerprint) are bit-identical. Halves the
    # vote partials the shuffle moves per (task, doc) (512 -> ~264
    # bytes) and the aggregation state. No carry can cross the packed
    # boundary: a doc has < 2^31 tokens (array size bound), so the low
    # field sums below 2^32 and the high field below 2^63.
    def pack(b: int) -> str:
        j, k = b // 4, b % 4
        shift = 4 * (7 - j) + k
        return (
            f"(shiftright(__hi, {shift}) & 1) + "
            f"shiftleft(shiftright(__lo, {shift}) & 1, 32) AS __p{b}"
        )

    packed = hashed.selectExpr("doc_id", *[pack(b) for b in range(32)])
    sums = packed.groupBy("doc_id").agg(
        F.expr("count(__p0)").alias("__n"),
        *[
            F.expr(f"coalesce(sum(__p{b}), 0)").alias(f"__s{b}")
            for b in range(32)
        ],
    )
    chars = []
    for j in range(16):
        terms = []
        for k in range(4):
            b = 4 * j + k
            ones = (
                f"(__s{b} & 4294967295)"
                if b < 32
                else f"shiftright(__s{b - 32}, 32)"
            )
            terms.append(f"(CASE WHEN 2 * {ones} > __n THEN {2 ** k} ELSE 0 END)")
        chars.append(f"substring('{_HEX}', 1 + ({' + '.join(terms)}), 1)")
    return sums.selectExpr("doc_id", f"concat({', '.join(chars)}) AS simhash")


def simhash_md5_oracle_sql(tokens_sql: str, table: str = "documents") -> str:
    """The DuckDB twin of :func:`simhash_md5`, generated from the same
    bit layout so the two can never drift independently.
    ``tokens_sql`` must be the oracle fragment matching
    functions.text.tokens (plans/textops.py keeps them in lockstep).
    coalesce(.,0) mirrors Spark's fold-over-empty-array = 0 (DuckDB's
    list_sum([]) is NULL)."""
    digs = (
        f"list_transform({tokens_sql}, t -> list_transform(range(1, 17), "
        "j -> instr('0123456789abcdef', substring(md5(t), CAST(j AS INT), 1)) - 1))"
    )
    votes = []
    for b in range(64):
        j, k = b // 4, b % 4
        votes.append(
            f"coalesce(list_sum(list_transform(digs, d -> "
            f"2*((d[{j + 1}] // {2**k}) % 2) - 1)), 0) AS v{b}"
        )
    chars = []
    for j in range(16):
        val = " + ".join(
            f"(CASE WHEN v{4 * j + k} > 0 THEN {2**k} ELSE 0 END)" for k in range(4)
        )
        chars.append(f"substring('0123456789abcdef', 1 + ({val}), 1)")
    concat = " || ".join(chars)
    return f"""
WITH d0 AS (SELECT doc_id, {digs} AS digs FROM {table}),
v AS (SELECT doc_id, {", ".join(votes)} FROM d0)
SELECT doc_id, {concat} AS simhash FROM v
"""


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    num_bands: int = 4,
    max_bucket_size: int | None = 256,
    parallelism: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 16-hex fingerprint into
    ``num_bands`` equal substrings, equi-join on matching bands, then
    verify exact Hamming distance <= ``max_hamming`` with flat bit
    arithmetic. Pigeonhole: a pair with hamming < num_bands is
    GUARANTEED to share a band; beyond that recall is partial - the
    standard banding trade (raise num_bands for recall, at more
    candidate pairs).

    The banding reuses :func:`candidate_pairs` (same capped in-bucket
    expansion / oversized-star degradation), so a corpus of identical
    boilerplate can't blow up one task. Hamming verification is 16
    codegen'd bit_count(xor) terms per pair - no UDF, oracle-exact.
    """
    if 16 % num_bands != 0:
        raise ValueError("num_bands must divide 16")
    width = 16 // num_bands
    # The fingerprint subtree feeds THREE consumers (bands, fa, fb);
    # without a materialization barrier the token-explode + 64-column
    # vote aggregation runs once per consumer (measured 3.6-4.2 s at
    # sf0.1 vs ~1.3 s with the barrier). Lazy localCheckpoint: the
    # first consumer to execute materializes it, the others read the
    # cached partitions - same shape as neardup_jaccard_verified.
    # The hex -> (hi, lo) long conversion is folded INTO the
    # checkpointed projection: both Hamming-verify sides then read
    # precomputed longs from the cache instead of each re-deriving
    # them from the hex string per consumer (r3 verdict item #2).
    fp = barrier(
        simhash_md5(df, id_col, text_col, parallelism=parallelism).selectExpr(
            "doc_id",
            "simhash",
            "CAST(conv(substring(simhash, 1, 8), 16, 10) AS BIGINT) AS __hi",
            "CAST(conv(substring(simhash, 9, 8), 16, 10) AS BIGINT) AS __lo",
        ),
        eager=False,
    )
    band_arr = F.array(
        *[
            F.substring(F.col("simhash"), 1 + b * width, width)
            for b in range(num_bands)
        ]
    )
    if max_bucket_size is None:
        # Uncapped (exact all-pairs) mode - the oracle/bench path -
        # restructured to the MINIMUM number of exchanges:
        # - hi/lo ride the band explode as payload (16 bytes/row), so
        #   the Hamming verify needs no join-back against the
        #   fingerprint table (two broadcast joins gone);
        # - a pair colliding in several bands is emitted only by its
        #   FIRST matching band ("earlier band differs" predicate on
        #   the payload), replacing the DISTINCT - and its full
        #   shuffle of the expanded pair set - with a scan-local
        #   filter. The pair set is the blow-up point of the whole
        #   query (orders of magnitude larger than the corpus), so
        #   never shuffling it is the difference that matters at
        #   100 TB.
        banded = fp.select(
            "doc_id",
            "simhash",
            "__hi",
            "__lo",
            F.posexplode(band_arr).alias("band_id", "band_hash"),
        )
        a = banded.selectExpr(
            "band_id", "band_hash", "doc_id AS doc_a",
            "simhash AS __sa", "__hi AS __ha", "__lo AS __la",
        )
        b = banded.selectExpr(
            "band_id", "band_hash", "doc_id AS doc_b",
            "simhash AS __sb", "__hi AS __hb", "__lo AS __lb",
        )
        first_match = _first_matching_band(
            num_bands,
            lambda k: f"substring(__sa, {1 + k * width}, {width})",
            lambda k: f"substring(__sb, {1 + k * width}, {width})",
        )
        return (
            a.join(b, ["band_id", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(first_match)
            .withColumn(
                "hamming",
                F.expr("bit_count(__ha ^ __hb) + bit_count(__la ^ __lb)"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        )

    bands = fp.select(
        "doc_id",
        F.posexplode(band_arr).alias("band_id", "band_hash"),
    )
    pairs = candidate_pairs(bands, max_bucket_size=max_bucket_size)
    # Hex->integer conversion runs PER DOCUMENT (two conv calls per
    # fingerprint, precomputed inside the checkpoint above), not per
    # candidate pair: with B band collisions the pair set is orders of
    # magnitude larger than the corpus slice, so per-pair digit-wise
    # conv (16 per side) dominated the verify stage (measured ~3x).
    # Per pair there remain exactly two xor+bit_count terms.
    fa = fp.selectExpr("doc_id AS doc_a", "__hi AS __ha", "__lo AS __la")
    fb = fp.selectExpr("doc_id AS doc_b", "__hi AS __hb", "__lo AS __lb")
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "hamming",
            F.expr("bit_count(__ha ^ __hb) + bit_count(__la ^ __lb)"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def _minhash_index_rows(band_arrays: DataFrame) -> DataFrame:
    """Exploded (doc_id, __bands, band_id, band_key) index rows.

    CALLER CONTRACT (r18): pass a BARRIERED band table (checkpoint
    scan) unless the input is trivially cheap to recompute. The
    posexplode over the ``__bands`` attribute makes the optimizer
    infer ``size(__bands) > 0`` (InferFiltersFromGenerate) and push
    it below the projections, INLINING the whole fused
    signature+band pipeline into a Filter at the scan - every
    document then pays the K x |shingles| md5 work twice (measured:
    index build 6.5 -> 29 s at sf0.1 when fed the raw fused
    projection). A checkpoint scan is a pushdown boundary, so the
    inferred filter stays on the materialized attribute."""
    return band_arrays.select(
        "doc_id",
        "__bands",
        F.posexplode("__bands").alias("band_id", "band_hash"),
    ).select(
        "doc_id",
        "__bands",
        "band_id",
        F.concat_ws(":", F.col("band_id"), F.col("band_hash")).alias("band_key"),
    )


# Table-property keys recording the signature parameters a persisted
# MinHash index was built with. Probing with different num_perms or
# shingle_n (but matching num_bands) produces incomparable band hashes
# and SILENTLY finds no cross-history duplicates (r4 advice) - so the
# params are stamped on the table at write time and validated before
# every probe/append.
_IDX_PROPS = ("num_perms", "num_bands", "shingle_n", "kgram_k")


def _stamp_index_params(spark, table_name: str, **params: int | None) -> None:
    kv = ", ".join(
        f"'spark_graft.{k}'='{int(v)}'" for k, v in params.items() if v is not None
    )
    if kv:
        spark.sql(f"ALTER TABLE {table_name} SET TBLPROPERTIES ({kv})")


def read_minhash_index_params(spark, table_name: str) -> dict[str, int]:
    """Signature params recorded on a persisted index (empty for
    pre-metadata tables, and for a table that does not exist yet -
    the bootstrap append that CREATES the table has nothing to
    validate against)."""
    if not spark.catalog.tableExists(table_name):
        return {}
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_name}").collect()
    out = {}
    for r in rows:
        if r.key.startswith("spark_graft."):
            k = r.key[len("spark_graft."):]
            if k in _IDX_PROPS:
                out[k] = int(r.value)
    return out


def _check_index_params(spark, table_name: str, **given: int | None) -> None:
    """Raise if a caller-declared signature param contradicts what the
    index was built with. Only validates params BOTH sides know:
    an unstamped legacy table or an un-declared param passes (the
    guard is advisory-strict, never lossy)."""
    recorded = read_minhash_index_params(spark, table_name)
    for k, v in given.items():
        if v is not None and k in recorded and recorded[k] != int(v):
            raise ValueError(
                f"MinHash index {table_name!r} was built with {k}="
                f"{recorded[k]} but this batch declares {k}={v}; "
                "mismatched signature params make band hashes "
                "incomparable and the probe would silently find no "
                "cross-history duplicates"
            )


def write_minhash_index(
    band_arrays: DataFrame,
    table_name: str,
    num_buckets: int = 64,
    num_perms: int | None = None,
    num_bands: int | None = None,
    shingle_n: int | None = None,
) -> None:
    """Persist a corpus's MinHash band assignments as a bucketed table
    keyed on ``band_hash`` - the layout that makes INCREMENTAL
    near-dedup (every new batch vs the whole historical corpus) a
    shuffle-free join on the history side.

    One row per (doc, band), carrying the doc's full band vector as
    payload so the probe can apply the first-matching-band filter
    (:func:`_first_matching_band`) without a join back to a signature
    table. The join key is the SINGLE column ``band_key``
    (band position folded into the hash): Spark only uses a bucketed
    layout when the bucket column covers the whole join key
    (requireAllClusterKeysForCoPartition), so a (band_id, band_hash)
    two-column join would silently fall back to shuffling history.
    The write pays one layout shuffle; every subsequent batch
    amortizes it - at 100 TB of accumulated corpus this converts the
    nightly dedup probe from a full history shuffle into local
    hash-bucket lookups. Grow the index with
    :func:`append_to_minhash_index` - never by re-running this
    (overwrite) on a batch.

    Pass the signature params (``num_perms``/``num_bands``/
    ``shingle_n``) the band arrays were hashed with: they are stamped
    as table properties and validated on every probe/append, so a
    batch hashed with drifted params fails loudly instead of silently
    missing every cross-history duplicate (r4 advice)."""
    from ..sources.lake import write_bucketed_table

    # barrier before the explode (see _minhash_index_rows): the write
    # materializes immediately, so the pinned band table releases
    # here. Only a barrier THIS call created is released - a caller's
    # checkpoint (the streaming path) stays the caller's to free.
    own = None
    if not is_barrier_scan(band_arrays):
        band_arrays = own = barrier(band_arrays, eager=False)
    try:
        write_bucketed_table(
            _minhash_index_rows(band_arrays), table_name, "band_key", num_buckets
        )
    finally:
        if own is not None:
            release_checkpoint(own)
    _stamp_index_params(
        band_arrays.sparkSession,
        table_name,
        num_perms=num_perms,
        num_bands=num_bands,
        shingle_n=shingle_n,
    )


def append_to_minhash_index(
    band_arrays: DataFrame,
    table_name: str,
    num_buckets: int = 64,
    num_perms: int | None = None,
    num_bands: int | None = None,
    shingle_n: int | None = None,
) -> None:
    """Append a processed batch's band rows to the historical index -
    the O(batch) maintenance step after :func:`incremental_candidate_pairs`
    has deduped the batch. Spark validates the bucket spec against the
    existing table, so an append can never corrupt the layout; any
    signature params the caller declares are validated against the
    table's stamped metadata first (a drifted batch would poison the
    index with incomparable hashes)."""
    from ..sources.lake import write_bucketed_table

    _check_index_params(
        band_arrays.sparkSession,
        table_name,
        num_perms=num_perms,
        num_bands=num_bands,
        shingle_n=shingle_n,
    )
    # barrier before the explode (see _minhash_index_rows); releases
    # only a barrier this call created
    own = None
    if not is_barrier_scan(band_arrays):
        band_arrays = own = barrier(band_arrays, eager=False)
    try:
        write_bucketed_table(
            _minhash_index_rows(band_arrays),
            table_name,
            "band_key",
            num_buckets,
            mode="append",
        )
    finally:
        if own is not None:
            release_checkpoint(own)
    # the writing session's own cache invalidates on saveAsTable, but
    # OTHER sessions' cached file listings (e.g. the main session when
    # this append runs inside a foreachBatch clone) go stale and read
    # the pre-append file set; the reader-side refresh in
    # incremental_candidate_pairs is the matching guard
    band_arrays.sparkSession.catalog.refreshTable(table_name)


def minhash_index_stats(spark, table_name: str) -> dict:
    """Physical-layout facts a maintenance pass decides on:
    ``num_buckets``/``bucket_columns`` (the probe's shuffle-free
    contract), ``location``, and ``n_files`` (counted through the
    Hadoop FileSystem API - one recursive LIST, no Spark job). Every
    append adds ~num_buckets files, so n_files grows linearly with
    epochs until :func:`compact_minhash_index` folds them."""
    from .. import fsio

    info: dict[str, str] = {}
    for r in spark.sql(f"DESC FORMATTED {table_name}").collect():
        k = (r.col_name or "").strip()
        if k and k not in info:
            info[k] = (r.data_type or "").strip()
    location = info.get("Location", "")
    n_files = sum(
        1
        for f in fsio.list_files_recursive(spark, location)
        if f.rsplit("/", 1)[-1].startswith("part-")
    )
    return {
        "location": location,
        "num_buckets": int(info.get("Num Buckets", "0") or 0),
        "bucket_columns": info.get("Bucket Columns", ""),
        "n_files": n_files,
    }


def recover_minhash_index(spark, table_name: str) -> bool:
    """Heal a compaction interrupted mid-swap. The swap is two
    catalog renames (table -> __old, __compacting -> table); a crash
    between them leaves the live name missing while a COMPLETE copy
    exists under one of the side names. Prefers the compacted copy
    (data + params fully written before the swap starts), falls back
    to the original. Returns True when a recovery happened. No-op
    when the live table exists."""
    if spark.catalog.tableExists(table_name):
        return False
    for side in (f"{table_name}__compacting", f"{table_name}__old"):
        if spark.catalog.tableExists(side):
            spark.sql(f"ALTER TABLE {side} RENAME TO {table_name}")
            return True
    return False


def compact_minhash_index(spark, table_name: str) -> None:
    """Fold a sustained-append index back to ONE file per bucket,
    dropping verbatim duplicate rows (crash re-appends), PRESERVING
    the ``CLUSTERED BY (band_key)`` bucket spec and the stamped
    signature params - the two properties the shuffle-free probe
    stands on (an unbucketed rewrite would silently re-enable the
    full history shuffle on every later probe; plan-asserted in
    tests).

    One shuffle total: rows repartition by band_key (Spark's bucket
    hash), exact-duplicate removal rides that partitioning
    (HashPartitioning(band_key) satisfies the dedup's clustered
    distribution - equal rows share a band_key), and each task then
    holds exactly one bucket -> one output file per bucket. The
    rewrite is O(index): schedule it by file count
    (:func:`compact_minhash_index_if_needed`), not per batch.

    Crash safety: the compacted copy is fully written and stamped
    under ``__compacting`` BEFORE the two-rename swap; the only
    vulnerable window is between the renames (metadata-only, and
    :func:`recover_minhash_index` heals it)."""
    _swap_rewritten_index(spark, table_name, spark.table(table_name))


def _swap_rewritten_index(
    spark, table_name: str, frame: DataFrame, bucket_col: str = "band_key"
) -> None:
    """Shared rewrite-and-swap core of compaction and purge: write
    ``frame`` as a fresh bucketed copy (one file per bucket, verbatim
    duplicates dropped) under ``__compacting``, re-stamp the signature
    params, then two-rename swap. The crash window and its healing
    (:func:`recover_minhash_index`) are identical for both callers.
    ``bucket_col`` parameterizes the layout so every bucketed index
    (minhash band_key, allpairs shingle postings) shares one swap
    discipline."""
    params = read_minhash_index_params(spark, table_name)
    stats = minhash_index_stats(spark, table_name)
    nb = stats["num_buckets"]
    if nb <= 0:
        raise ValueError(f"{table_name!r} is not a bucketed index")
    tmp = f"{table_name}__compacting"
    old = f"{table_name}__old"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    (
        frame.repartition(nb, bucket_col)
        .dropDuplicates()
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(nb, bucket_col)
        .saveAsTable(tmp)
    )
    _stamp_index_params(spark, tmp, **{k: params.get(k) for k in _IDX_PROPS})
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table_name}")
    spark.sql(f"DROP TABLE {old}")
    spark.catalog.refreshTable(table_name)


def purge_from_minhash_index(
    spark, table_name: str, doc_ids: DataFrame, id_col: str = "doc_id"
) -> int:
    """Targeted deletion (right-to-be-forgotten / takedown): remove
    every band row of the given documents from the persisted index,
    PRESERVING the bucketed layout and stamped params the shuffle-free
    probe stands on. Returns the number of distinct indexed documents
    actually removed.

    Honest cost: the index is bucketed on band_key, so doc-id rows
    have no pruned location - a purge is an O(index) bucket-preserving
    rewrite (the same job shape as compaction, and it shares
    compaction's crash-window healing). Operate it accordingly at
    100 TB: accumulate takedown requests and purge in scheduled
    batches (each batch is one rewrite regardless of how many ids it
    carries), ideally piggybacked on a due compaction - the rewrite
    doubles as one. The purge set broadcasts (takedown lists are
    small); history shuffles once into its own bucket layout.

    Idempotent: re-running with the same ids finds zero hits and
    returns 0 without rewriting."""
    recover_minhash_index(spark, table_name)
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
    _swap_rewritten_index(spark, table_name, remaining)
    return n


def compact_minhash_index_if_needed(
    spark, table_name: str, max_files_per_bucket: int = 8
) -> bool:
    """File-count-bounded maintenance gate: compact when the index
    holds more than ``max_files_per_bucket`` files per bucket. The
    check is one filesystem listing (cheap every trigger); the
    compaction it gates is O(index), so the threshold sets the
    amortized cost - at the default, ~1/8th of a rewrite per append.
    Heals an interrupted prior swap first. Returns True when a
    compaction ran."""
    recover_minhash_index(spark, table_name)
    stats = minhash_index_stats(spark, table_name)
    if stats["n_files"] <= max_files_per_bucket * max(stats["num_buckets"], 1):
        return False
    compact_minhash_index(spark, table_name)
    return True


def incremental_candidate_pairs(
    spark,
    new_band_arrays: DataFrame,
    table_name: str,
    num_bands: int,
    num_perms: int | None = None,
    shingle_n: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs for a NEW batch of documents against (a) the
    persisted historical corpus index and (b) itself - the steady-state
    operation of a continuously-ingesting training-data pipeline,
    where re-running all-pairs dedup over the full corpus per batch
    is O(history) and unaffordable.

    Output: unordered pairs normalized to ``doc_a < doc_b`` - exactly
    the pair set :func:`candidate_pairs_exact` would produce on
    (history ∪ batch) restricted to pairs touching the batch, each
    pair exactly once. Docs present in BOTH the index and the batch
    (an append-then-crash replay, overlapping batches) are handled:
    the history side is anti-joined against the batch's ids, so a
    duplicate doc can never pair from both legs or in both
    orientations.

    Scale shape: the history side is bucketed on band_key, so the
    probe join shuffles ONLY the batch's band rows (a sliver);
    history never moves (the anti-join is broadcast: batch ids are
    batch-sized). Batch-internal pairs reuse the in-memory band join.
    Feed the union into :func:`connected_components` /
    :func:`drop_neardup_docs` as usual; then grow the index with
    :func:`append_to_minhash_index` (NOT write_minhash_index, which
    overwrites).

    ``num_bands`` is always validated against the index's stamped
    metadata, and ``num_perms``/``shingle_n`` when declared: a batch
    hashed with drifted signature params produces incomparable band
    hashes and would otherwise SILENTLY find zero cross-history
    duplicates (r4 advice).

    ``max_bucket_size`` is the skew valve (r5 verdict item #6): a
    boilerplate band bucket accumulates history members every epoch,
    and the uncapped probe would emit O(index-bucket) pairs per
    arriving boilerplate doc - per-trigger output growing with
    corpus age, not batch size. With the cap, history buckets larger
    than it pair each batch doc ONLY against the bucket's min-id
    representative (the same star degradation as
    :func:`candidate_pairs`): one pair per batch doc per oversized
    bucket, so per-trigger output stays O(batch). The bucket stats
    ride the bucketed layout (window over band_key - no exchange).
    Recall tradeoff, identical in kind to the batch star: a non-rep
    pair whose FIRST matching band is oversized is not emitted, but
    both members stay connected through the rep, so
    connected-component dedup is unchanged. None (default) = exact
    enumeration - the mode oracle-paired queries use."""
    _check_index_params(
        spark, table_name, num_perms=num_perms, num_bands=num_bands, shingle_n=shingle_n
    )
    # a grown-by-append table's file listing may be cached stale in
    # THIS session when the appends ran in another (foreachBatch
    # clones) - probing a stale listing silently misses the newest
    # history; refresh is a metadata-only invalidation
    spark.catalog.refreshTable(table_name)
    hist = spark.table(table_name)
    # ONE shared barrier for the batch band table (r18): it feeds the
    # probe explode, the anti-join id sliver, AND the vs_self
    # self-join. Without it the posexplode's inferred size-filter
    # (see _minhash_index_rows) inlines the whole fused signature
    # pipeline into a pushed Filter and the batch re-hashes once per
    # consumer - measured 1.56 -> 3.8 s on the bench's incremental
    # leg. candidate_pairs_exact detects the checkpoint scan below
    # and adds no second barrier.
    if not is_barrier_scan(new_band_arrays):
        new_band_arrays = barrier(new_band_arrays, eager=False)
    new_banded = new_band_arrays.select(
        "doc_id",
        "__bands",
        F.posexplode("__bands").alias("band_id", "band_hash"),
    )
    probe = new_banded.select(
        F.concat_ws(":", F.col("band_id"), F.col("band_hash")).alias("band_key"),
        F.col("band_id"),
        F.col("doc_id").alias("doc_b"),
        F.col("__bands").alias("__bb"),
    )
    batch_ids = new_band_arrays.select(F.col("doc_id").alias("__bid"))
    # dropDuplicates on (band_key, doc_a): an append-then-crash
    # replay re-appends a batch's band rows VERBATIM, and duplicate
    # history rows would emit each cross-history pair once per copy.
    # The dedupe is shuffle-free: the table is bucketed on band_key,
    # and HashPartitioning(band_key) satisfies the grouping's
    # clustered distribution (same band_key -> same partition ->
    # same (band_key, doc_a) co-located) - asserted by the bucketed
    # plan test.
    build = (
        hist.join(
            F.broadcast(batch_ids), hist["doc_id"] == F.col("__bid"), "left_anti"
        )
        .selectExpr("band_key", "doc_id AS doc_a", "__bands AS __ba")
        .dropDuplicates(["band_key", "doc_a"])
    )
    first = _first_matching_band(
        num_bands,
        lambda k: f"__ba[{k}]",
        lambda k: f"__bb[{k}]",
    )
    if max_bucket_size is not None:
        # per-band_key history size + representative, computed WHERE
        # the rows already live: HashPartitioning(band_key) from the
        # bucketed scan satisfies the window's clustered distribution,
        # so this adds a local sort, never an exchange (plan-asserted)
        w = Window.partitionBy("band_key")
        build = build.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn(
            "__rep", F.min("doc_a").over(w)
        )
        capped = (F.col("__n") <= max_bucket_size) | (
            F.col("doc_a") == F.col("__rep")
        )
        vs_history = (
            build.join(probe, "band_key")
            .filter(first)
            .filter(capped)
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
        )
    else:
        vs_history = (
            build.join(probe, "band_key")
            .filter(first)
            .select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
        )
    return vs_history.unionByName(candidate_pairs_exact(new_band_arrays, num_bands))


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    parallelism: int | None = None,
) -> DataFrame:
    """64-bit SimHash over whitespace tokens using xxhash64
    (Spark-native; rows-only correctness check - xxhash64 isn't
    portable to the oracle). :func:`simhash_md5` is the
    oracle-portable twin; this one skips the md5 string round-trip
    and is the cheaper choice when cross-engine parity isn't needed.

    bit b of the fingerprint = sign of sum over tokens of
    (+1 if token_hash bit b else -1).

    Same flat explode/vote/aggregate shape as :func:`simhash_md5`
    (token rows -> one xxhash64 long -> 64 shift/mask vote columns ->
    map-side-combined sums -> bit reassembly). An earlier formulation
    evaluated 64 per-row ``aggregate`` folds over the token array -
    64 interpreted lambdas per document made the "fast path" 3-5x
    slower than the md5 twin it was meant to undercut. NULL tokens
    (explode_outer of an empty doc) vote 0, preserving the
    all-zero fingerprint for empty documents."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    tok_rows = src.select(
        "doc_id", F.explode_outer(tokens(F.col("__text"))).alias("__t")
    )
    hashed = tok_rows.selectExpr("doc_id", "xxhash64(__t) AS __h", "__t IS NULL AS __nul")
    voted = hashed.selectExpr(
        "doc_id",
        *[
            f"CASE WHEN __nul THEN 0 ELSE (shiftright(__h, {b}) & 1) * 2 - 1 END AS __v{b}"
            for b in range(64)
        ],
    )
    sums = voted.groupBy("doc_id").agg(
        *[F.expr(f"coalesce(sum(__v{b}), 0)").alias(f"__s{b}") for b in range(64)]
    )
    fp = " | ".join(
        f"shiftleft(CAST(__s{b} > 0 AS BIGINT), {b})" for b in range(64)
    )
    return sums.selectExpr("doc_id", f"({fp}) AS simhash")


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc_id, change, digest_a, digest_b): the content delta
    between two corpus snapshots - ``added`` (only in b),
    ``removed`` (only in a), ``changed`` (both, different md5).
    Unchanged docs are dropped (the interesting output is the delta;
    at 100 TB the delta is a sliver and the full outer join shuffles
    32-byte digests, never text - the exact-dedup discipline). The
    regression gate a data-ops pipeline runs between snapshot
    publishes: an unexpected mass-removal or mass-change is a
    pipeline bug surfacing as data."""
    da = a.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest_a")
    )
    db = b.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("digest_b")
    )
    j = da.join(db, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("digest_a").isNull(), F.lit("added"))
        .when(F.col("digest_b").isNull(), F.lit("removed"))
        .when(F.col("digest_a") != F.col("digest_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
        "digest_a",
        "digest_b",
    ).filter(F.col("change") != "unchanged")
