"""Dataset-assembly queries: sampling, corpus mixing, sequence
packing over the ``documents`` table.

The steps a training-data pipeline runs AFTER dedup + quality
filtering: draw a reproducible subsample, mix sources at configured
rates, and pack documents into ~fixed-token-budget sequences. All
hash-deterministic (md5 arithmetic), so every query carries an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import non_space_chars, token_count
from ..operators.sampling import (
    cdc_chunks,
    chunk_documents,
    deterministic_sample,
    pack_sequences,
    sample_hash,
    sample_hash_sql,
    stratified_rate_sql,
    stratified_sample,
)
from ..operators.shards import (
    balanced_shard_sql,
    order_key_sql,
    shard_key_sql,
)
from ..session import barrier, pin_utc
from ..tables import load_table
from .catalog import register
from .textops import _TOKENS_SQL, _cc_clauses

# Mixing config: rates keyed by source, generated from one dict so
# the Spark plan and the oracle can never drift. srcN keeps
# 100/75/50/25% by N mod 4 - a stand-in for "wiki pinned, web
# downsampled" style mixes.
_MIX_RATES = {f"src{i}": (100, 75, 50, 25)[i % 4] for i in range(20)}
_SAMPLE_PCT = 40
_PACK_MAX_TOKENS = 512
_PACK_BUCKETS = 8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_utc(spark)
    return load_table(spark, sf_dir, "documents")


# RETIRED from the catalog (r15 swap, funding the streaming shard
# manifest replay): the flat 40% hash-filter demo. Its evidence
# stays live three ways - corpus_mixture_sample is the SAME
# sample_hash filter with per-source rates, quality_weighted_sample
# the same filter with a per-row rate column, and
# training_corpus_pipeline runs deterministic sampling inside its
# end-to-end oracle. Builder stays importable;
# tests/test_plans.py::test_r15_catalog_swap_executed pins the swap
# and test_sampling_queries_have_no_shuffle keeps the plan contract
# on the builder directly.
def corpus_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~40% reproducible subsample by id hash: unlike df.sample, the
    kept set is independent of partition layout / run, and the
    predicate is a scan-level filter (no shuffle)."""
    return deterministic_sample(
        _docs(spark, sf_dir), "doc_id", _SAMPLE_PCT, salt="sample"
    ).select("doc_id", "lang", "source")


@register(
    "corpus_mixture_sample",
    oracle=f"""
SELECT doc_id, source,
       CAST({stratified_rate_sql('source', _MIX_RATES)} AS INT) AS rate_pct_x100
FROM documents
WHERE {sample_hash_sql('doc_id', 'mix')} < {stratified_rate_sql('source', _MIX_RATES)}
""",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: per-source keep rates (100/75/50/25%) applied as
    one hash-threshold filter - zero joins, zero shuffles; the mix
    config is plan literals (config-sized CASE)."""
    d = stratified_sample(
        _docs(spark, sf_dir), "doc_id", "source", _MIX_RATES, salt="mix"
    )
    rate = F.lit(0)
    for value, pct in sorted(_MIX_RATES.items()):
        rate = F.when(F.col("source") == value, pct * 100).otherwise(rate)
    return d.select(
        "doc_id", "source", rate.cast("int").alias("rate_pct_x100")
    )


# RETIRED from the catalog (r15 swap, r14 verdict next-round #1c):
# the raw per-doc packing dump. Its evidence stays live twice over -
# pack_utilization_stats re-derives the identical assignment inside
# its oracle every round, and training_corpus_pipeline runs
# pack_sequences as its final stage; the new training_shard_manifest
# CONSUMES this assignment as its input, so the packing arithmetic
# stays inside a hash-exact oracle three ways. Builder stays
# importable; tests/test_plans.py::test_r15_catalog_swap_executed
# pins the swap and test_token_packing_single_shuffle keeps the
# plan contract on the builder directly.
def token_packing_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: docs hash into 8 independent streams; each
    stream orders by id and cuts packs at 512-token cumulative
    boundaries. Per-bucket windows - no global sort; bucket count
    scales parallelism independently of corpus size."""
    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        d, "doc_id", "n_tokens", _PACK_MAX_TOKENS, _PACK_BUCKETS, salt="pack"
    )


_CHUNK_SIZE = 32
_CHUNK_OVERLAP = 8


@register(
    "doc_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
k AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= {_CHUNK_SIZE} THEN 1
              ELSE CAST((len(toks) - {_CHUNK_SIZE} + {_CHUNK_SIZE - _CHUNK_OVERLAP} - 1)
                        // {_CHUNK_SIZE - _CHUNK_OVERLAP} AS INT) + 1 END AS n_chunks
  FROM t
),
j_t AS (
  SELECT doc_id, toks, unnest(range(1, n_chunks + 1)) AS j FROM k
),
c AS (
  SELECT doc_id, CAST(j AS INT) AS chunk_id,
         list_slice(toks, CAST((j - 1) * {_CHUNK_SIZE - _CHUNK_OVERLAP} + 1 AS INT),
                    CAST((j - 1) * {_CHUNK_SIZE - _CHUNK_OVERLAP} + {_CHUNK_SIZE} AS INT)) AS ctoks
  FROM j_t
)
SELECT doc_id, chunk_id, array_to_string(ctoks, ' ') AS chunk_text,
       CAST(len(ctoks) AS INT) AS n_chunk_tokens
FROM c
""",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: overlapping 32-token windows (stride 24) per
    doc - the pre-embedding step of a retrieval/training pipeline.
    sequence + slice + explode over the token array: each row expands
    independently, no shuffle, engine-exact boundaries."""
    return chunk_documents(
        _docs(spark, sf_dir), "doc_id", "text", _CHUNK_SIZE, _CHUNK_OVERLAP
    )


# Quality gate for the end-to-end pipeline: token band + average token
# length (single divisions of identical integers - engine-exact).
_Q_MIN_TOK, _Q_MAX_TOK = 20, 90
_Q_MAX_AVG_TOKLEN = 15.0

_Q_FILTER_SQL = f"""
len({_TOKENS_SQL}) BETWEEN {_Q_MIN_TOK} AND {_Q_MAX_TOK}
AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / CAST(len({_TOKENS_SQL}) AS DOUBLE) <= {_Q_MAX_AVG_TOKLEN}
"""


@register(
    "training_corpus_pipeline",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT * FROM documents WHERE {_Q_FILTER_SQL}
),
{_cc_clauses("q")},
cc AS (SELECT node, min(reach) AS component FROM walk GROUP BY node),
kept AS (
  SELECT d.* FROM q d LEFT JOIN cc ON d.doc_id = cc.node
  WHERE cc.node IS NULL OR cc.component = d.doc_id
),
mixed AS (
  SELECT doc_id, source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM kept
  WHERE {sample_hash_sql('doc_id', 'mix')} < {stratified_rate_sql('source', _MIX_RATES)}
),
t AS (
  SELECT doc_id, source, n_tokens,
         {sample_hash_sql('doc_id', 'pack')} % {_PACK_BUCKETS} AS bucket
  FROM mixed
)
SELECT doc_id, source, n_tokens, CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_MAX_TOKENS}) AS INT)
         AS pack_id
FROM t
WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dataset-assembly flagship: quality filter ->
    MinHash/LSH near-dedup (connected-component canonical keep) ->
    per-source mixture sampling -> token packing, composed from the
    same operators each stage's standalone query uses - and verified
    as ONE oracle, so a bug anywhere in the chain breaks the hash.

    Scale shape: filter+sample are scan-level predicates; dedup
    shuffles digests/ids only; packing is one hash-partitioned
    window. The corpus text never shuffles at all."""
    from ..operators.dedup import (
        DEFAULT_NUM_BANDS,
        candidate_pairs_exact,
        connected_components,
        drop_neardup_docs,
        minhash_band_arrays,
    )

    d = _docs(spark, sf_dir)
    n_tok = token_count(F.col("text"))
    quality = d.filter(
        n_tok.between(_Q_MIN_TOK, _Q_MAX_TOK)
        & (
            non_space_chars(F.col("text")).cast("double")
            / n_tok.cast("double")
            <= _Q_MAX_AVG_TOKLEN
        )
    )
    ba = minhash_band_arrays(
        quality, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cc = connected_components(candidate_pairs_exact(ba, DEFAULT_NUM_BANDS))
    kept = drop_neardup_docs(quality, cc, "doc_id")
    mixed = stratified_sample(kept, "doc_id", "source", _MIX_RATES, salt="mix")
    slim = mixed.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        slim, "doc_id", "n_tokens", _PACK_MAX_TOKENS, _PACK_BUCKETS, salt="pack"
    )


@register(
    "pack_utilization_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         {sample_hash_sql('doc_id', 'pack')} % {_PACK_BUCKETS} AS bucket
  FROM documents
),
assigned AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_MAX_TOKENS}) AS INT)
           AS pack_id
  FROM t
  WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(bucket AS BIGINT) AS bucket, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(sum(n_tokens) AS DOUBLE) / {_PACK_MAX_TOKENS}.0 AS utilization
FROM assigned GROUP BY bucket, pack_id
""",
)
def pack_utilization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA: per-pack doc count, token total, and utilization
    vs the 512-token budget - the metric that tells you whether the
    packing config wastes context window (underfull packs) or
    fragments documents. Pure rollup over the packing assignment; the
    single division is of identical operands, engine-exact."""
    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        d, "doc_id", "n_tokens", _PACK_MAX_TOKENS, _PACK_BUCKETS, salt="pack"
    )
    return packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        (F.sum("n_tokens").cast("double") / F.lit(float(_PACK_MAX_TOKENS))).alias(
            "utilization"
        ),
    )


_N_SHARDS = 8

_SHARD_KEY_SQL = "CAST(bucket AS VARCHAR) || '|' || CAST(pack_id AS VARCHAR)"


# RETIRED from the catalog (r17 swap, funding
# balanced_shard_manifest's registration): the count-balanced pack
# manifest. Its evidence stays live three ways - the SAME
# shard_key/order_key md5 functions and per-shard row_number
# position are inside shard_manifest_stream_replay's hash-exact
# oracle every round (epoch-major/hash-minor position over the same
# pack table), pack_utilization_stats re-derives the identical pack
# assignment, and training_corpus_pipeline runs pack_sequences as
# its final stage. Builder and oracle stay importable;
# tests/test_plans.py::test_r17_catalog_swap_executed pins the swap
# and tests/test_shards.py keeps the no-global-sort plan contract on
# the builder directly.
_TRAINING_SHARD_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         {sample_hash_sql('doc_id', 'pack')} % {_PACK_BUCKETS} AS bucket
  FROM documents
),
assigned AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_MAX_TOKENS}) AS INT)
           AS pack_id
  FROM t
  WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
packs AS (
  SELECT CAST(bucket AS BIGINT) AS bucket, pack_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
  FROM assigned GROUP BY bucket, pack_id
),
sh AS (
  SELECT bucket, pack_id, n_docs, pack_tokens,
         {shard_key_sql(_SHARD_KEY_SQL, _N_SHARDS)} AS shard,
         {order_key_sql(_SHARD_KEY_SQL)} AS order_key
  FROM packs
)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY order_key, bucket, pack_id)
            AS INT) AS position,
       order_key, bucket, pack_id, n_docs, pack_tokens
FROM sh
"""


def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + shard assignment
    (operators/shards.py - r14 verdict next-round #1c, the assembly
    stage's missing last step): every 512-token pack from
    pack_sequences gets a reproducible (shard, position) - shard by
    salted md5 mod 8, order within shard by a second salted md5
    (sorting by a hash of the key IS the shuffle: a uniform,
    seedless, engine-re-derivable permutation). Epoch N re-reads
    byte-identically; an elastic restart resumes at the exact step.
    Position is a PER-SHARD row_number - the operator shards first
    precisely so no global sort exists (the reference's QuickSight
    ROW_NUMBER() over everything, create-quicksight.ts:20, stays
    designed out). Scale shape: shard/order_key are scan
    expressions; the manifest rows are key+counters (never
    text/tokens), so the per-shard window sorts the
    corpus_tokens/512-row pack table, 1/8th at a time."""
    from ..operators.shards import assign_training_shards

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        d, "doc_id", "n_tokens", _PACK_MAX_TOKENS, _PACK_BUCKETS, salt="pack"
    )
    packs = packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
    return assign_training_shards(
        packs, ["bucket", "pack_id"], _N_SHARDS
    ).select(
        "shard", "position", "order_key",
        "bucket", "pack_id", "n_docs", "pack_tokens",
    )


_BSHARD_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         {balanced_shard_sql('n_tokens', 'doc_id', _N_SHARDS)} AS shard,
         {order_key_sql('doc_id')} AS order_key
  FROM t
)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY order_key, doc_id) AS INT)
         AS position,
       order_key, doc_id, n_tokens
FROM s
"""


# Registered r17 (built, oracle-written, and test-pinned in r16;
# the quality_gate_from_sketch cadence). The paired retirement is
# training_shard_manifest above - tests/test_plans.py::
# test_r17_catalog_swap_executed pins the swap; tests/test_shards.py
# ::test_balanced_manifest_matches_duckdb_oracle pinned the oracle
# match ahead of registration.
@register("balanced_shard_manifest", oracle=_BSHARD_SQL)
def balanced_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-BALANCED loader shards (operators/shards.py
    assign_balanced_shards - r15 verdict next-round #4c): documents
    stratify by exact token count, order within each stratum by the
    salted-md5 shuffle, and stratum rank r goes to shard (r-1) mod 8
    - so every shard carries the same token total to within
    sum(distinct lengths), a constant independent of corpus size,
    where hash sharding's gap grows as sqrt(N) x max_len. Loader
    step time tracks the max shard, so the bound is the step-time-
    variance contract (the training_shard_manifest twin balances
    COUNTS; this balances WORK). Position stays a per-shard
    row_number over the same order_key shuffle - reproducible
    training order, still no global sort: the stratum rank is
    derived distributed (order-key-prefix buckets -> counts sliver
    -> broadcast base offsets), exactly equal to the oracle's
    single-window rank because the bucket is a prefix of the rank's
    own sort key."""
    from ..operators.shards import assign_balanced_shards

    d = _docs(spark, sf_dir).select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return assign_balanced_shards(
        d, ["doc_id"], "n_tokens", _N_SHARDS
    ).select("shard", "position", "order_key", "doc_id", "n_tokens")


# ---- Streaming shard-manifest maintenance replay (feed end state)

_MANIFEST_EPOCHS = 3

_SHARD_STREAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         {sample_hash_sql('doc_id', 'pack')} % {_PACK_BUCKETS} AS bucket
  FROM documents
),
assigned AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(floor((sum(n_tokens) OVER w - n_tokens) / {_PACK_MAX_TOKENS}) AS INT)
           AS pack_id
  FROM t
  WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
packs AS (
  SELECT CAST(bucket AS BIGINT) AS bucket, pack_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
  FROM assigned GROUP BY bucket, pack_id
),
sh AS (
  SELECT bucket, pack_id, n_docs, pack_tokens,
         {shard_key_sql(_SHARD_KEY_SQL, _N_SHARDS)} AS shard,
         {order_key_sql(_SHARD_KEY_SQL)} AS order_key,
         CAST((bucket + pack_id) % {_MANIFEST_EPOCHS} AS INT) AS ep
  FROM packs
)
SELECT bucket, pack_id, n_docs, pack_tokens, shard, order_key,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY ep, order_key, bucket, pack_id)
            AS INT) AS position,
       ep
FROM sh
"""


@register("shard_manifest_stream_replay", oracle=_SHARD_STREAM_ORACLE)
def shard_manifest_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard-manifest STREAMING loop's end state, driver-verified
    (streaming/shards.py - the assembly stage's incremental path):
    the corpus's packed sequences ARRIVE in three availableNow epochs
    (by (bucket + pack_id) % 3) and each epoch extends every shard
    from its committed high-water position. What the hash match
    machine-checks against one batch DuckDB query:

    - EPOCH-MAJOR / HASH-MINOR order: position equals a row_number
      over (arrival epoch, order_key, key) - committed positions
      never renumber, within-epoch order is the batch operator's
      hash order, and shard/order_key are the SAME pure md5
      functions of the key the batch manifest uses;
    - EXACTLY-ONCE: every pack appears exactly once with a dense
      per-shard 1..n position sequence - a replayed/duplicated epoch
      write would break density immediately;
    - BASE-OFFSET integrity: each epoch's rows start exactly one
      past the prior committed max per shard.

    Replay runs once per corpus (streaming/epochs.replay_store); warm
    invocations read the feed. The ``ep`` column re-derives from the
    feed's __epoch_id suffix so the oracle's arrival attribution is
    checked, not assumed."""
    import os

    from .. import fsio
    from ..streaming.epochs import replay_store
    from ..streaming.shards import read_manifest, run_shard_manifest_stream

    pin_utc(spark)
    key_schema = "bucket bigint, pack_id int, n_docs bigint, pack_tokens bigint"

    def cold(root: str) -> list[DataFrame]:
        d = _docs(spark, sf_dir).select(
            "doc_id", token_count(F.col("text")).alias("n_tokens")
        )
        packs = (
            pack_sequences(
                d, "doc_id", "n_tokens", _PACK_MAX_TOKENS, _PACK_BUCKETS,
                salt="pack",
            )
            .groupBy("bucket", "pack_id")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("pack_tokens"),
            )
        )
        return [
            packs.filter(
                (F.col("bucket") + F.col("pack_id")) % _MANIFEST_EPOCHS == ep
            )
            for ep in range(_MANIFEST_EPOCHS)
        ]

    root = replay_store(
        spark, "shreplay",
        fsio.store_ident(
            os.path.join(sf_dir, "documents.parquet"),
            f"shreplay:v1:{_PACK_MAX_TOKENS}:{_PACK_BUCKETS}:{_N_SHARDS}"
            f":{_MANIFEST_EPOCHS}",
        ),
        key_schema,
        cold,
        lambda source, root, ep: run_shard_manifest_stream(
            source,
            ["bucket", "pack_id"],
            f"{root}/manifest",
            f"{root}/ckpt",
            _N_SHARDS,
            key_schema,
        ),
    )
    feed = read_manifest(spark, f"{root}/manifest", key_schema)
    return feed.select(
        "bucket", "pack_id", "n_docs", "pack_tokens", "shard", "order_key",
        "position",
        F.regexp_extract("__epoch_id", "-([0-9]+)$", 1)
        .cast("int")
        .alias("ep"),
    )


@register(
    "quality_weighted_sample",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct({_TOKENS_SQL})) AS DOUBLE)
           / CAST(len({_TOKENS_SQL}) AS DOUBLE) AS distinct_ratio
  FROM documents WHERE len({_TOKENS_SQL}) > 0
)
SELECT doc_id, lang, distinct_ratio
FROM scored
WHERE {sample_hash_sql('doc_id', 'wsample')}
        < CAST(floor(distinct_ratio * 100.0 * 100) AS BIGINT)
""",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling by quality: keep probability proportional
    to lexical-diversity ratio (a doc with distinct_ratio 0.9 keeps
    with p=0.9). Per-row rate from a column expression, same
    deterministic hash filter - zero shuffle."""
    from ..functions.text import distinct_token_count
    from ..operators.sampling import weighted_sample

    d = _docs(spark, sf_dir)
    t = F.col("text")
    n_tok = token_count(t)
    ratio = distinct_token_count(t).cast("double") / n_tok.cast("double")
    scored = d.filter(n_tok > 0).select(
        "doc_id", "lang", ratio.alias("distinct_ratio")
    )
    return weighted_sample(
        scored, "doc_id", F.col("distinct_ratio") * 100.0, salt="wsample"
    )


from .textops import _md5_24bit_sql  # noqa: E402  (shared digest scheme)

_CDC_MOD = 16
_CDC_SQL = f"""
WITH cdt AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE len({_TOKENS_SQL}) > 0
),
cdh AS (
  SELECT doc_id, toks,
         list_transform(generate_series(1, len(toks) - 1),
                        i -> {_md5_24bit_sql("toks[i] || ' ' || toks[i + 1]")})
           AS hs
  FROM cdt
),
cdb AS (
  SELECT doc_id, toks,
         list_filter(generate_series(1, len(hs)),
                     i -> hs[i] % {_CDC_MOD} = 0) AS bpos
  FROM cdh
),
cds AS (
  SELECT doc_id, toks,
         list_prepend(1, list_transform(bpos, i -> i + 1)) AS starts,
         list_append(bpos, len(toks)) AS ends
  FROM cdb
),
cdj AS (
  SELECT doc_id, toks, starts, ends,
         list_filter(generate_series(1, len(starts)),
                     j -> starts[j] <= ends[j]) AS js
  FROM cds
),
cdu AS (
  SELECT doc_id, toks,
         unnest(list_transform(generate_series(1, len(js)),
                               k -> {{'chunk_idx': k,
                                      's': starts[js[k]],
                                      'e': ends[js[k]]}})) AS u
  FROM cdj
)
SELECT doc_id,
       CAST(u.chunk_idx AS INT) AS chunk_idx,
       CAST(u.s AS INT) AS start_token,
       CAST(u.e - u.s + 1 AS INT) AS n_tokens,
       md5(array_to_string(list_slice(toks, u.s, u.e), ' ')) AS chunk_md5
FROM cdu
"""


@register("doc_cdc_chunks", oracle=_CDC_SQL)
def doc_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators/sampling.cdc_chunks):
    boundaries after tokens whose portable 24-bit hash divides
    evenly - identical text runs chunk identically wherever they
    sit, unlike the fixed windows of doc_chunk_windows (one inserted
    sentence shifts every later fixed window; CDC re-synchronizes).
    The chunk_md5 column is the join key chunk-level dedup and
    incremental re-embedding stand on."""
    return cdc_chunks(_docs(spark, sf_dir), "doc_id", "text", _CDC_MOD)


@register(
    "cdc_chunk_dups",
    oracle=f"""
WITH chunks AS ({_CDC_SQL})
SELECT chunk_md5,
       CAST(count(DISTINCT doc_id) AS INT) AS n_docs,
       CAST(count(*) AS INT) AS n_occurrences
FROM chunks
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) >= 2
""",
)
def cdc_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated chunks: CDC chunk hashes appearing
    in >= 2 docs - the storage/compute-dedup opportunity report
    (embed each shared chunk once; near-dup docs share most chunks
    because content-defined boundaries re-synchronize). One digest
    aggregation; chunk text never leaves its row."""
    ch = cdc_chunks(_docs(spark, sf_dir), "doc_id", "text", _CDC_MOD)
    return (
        ch.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").cast("int").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


_RESERVOIR_K = 16


@register(
    "per_source_reservoir_sample",
    oracle=f"""
WITH h AS (
  SELECT source, doc_id,
         {sample_hash_sql('doc_id', 'resv')} AS hkey
  FROM documents
),
r AS (
  SELECT source, doc_id, hkey,
         row_number() OVER (PARTITION BY source
                            ORDER BY hkey ASC, doc_id ASC) AS sample_rank
  FROM h
)
SELECT source, doc_id, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= {_RESERVOIR_K}
""",
)
def per_source_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample per group (k docs per source) - the
    eval-set / spot-check-set builder that rate-based sampling can't
    provide (a 1% rate of a tiny source yields zero rows; a fixed k
    never does). Deterministic reservoir semantics WITHOUT an actual
    reservoir: rank by the salted id hash and keep the k smallest per
    source - equivalent to a uniform k-sample, but reproducible
    across runs, partitionings, and engines, and INCREMENTALLY STABLE
    (a new document displaces at most one member of its source's
    sample, the property streaming eval-set maintenance needs). One
    shuffle on source; with AQE the per-group sort is a bounded
    top-k, ids only - text never moves."""
    from ..operators.topk import top_k_per_group

    d = _docs(spark, sf_dir)
    h = d.select(
        "source",
        "doc_id",
        sample_hash(F.col("doc_id"), "resv").alias("hkey"),
    )
    return top_k_per_group(
        h,
        ["source"],
        [F.col("hkey").asc(), F.col("doc_id").asc()],
        _RESERVOIR_K,
        rank_col="sample_rank",
    ).select("source", "doc_id", F.col("sample_rank").cast("int").alias("sample_rank"))


# ---- temperature mixing + KMV sketch

_TEMP_ORACLE = f"""
WITH sizes AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
sized AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT)
           AS sq
  FROM sizes),
tot AS (SELECT sum(sq) AS tot, sum(n) AS nall FROM sized),
rated AS (
  SELECT source,
         least(10000, CAST(floor(
           (CAST(sq AS DOUBLE) / CAST(tot AS DOUBLE))
             * (CAST(nall AS DOUBLE) * CAST(0.5 AS DOUBLE))
             / CAST(n AS DOUBLE) * 10000.0 + 0.5) AS BIGINT)) AS thr
  FROM sized, tot)
SELECT d.doc_id, d.source, CAST(r.thr AS INT) AS keep_threshold
FROM documents d JOIN rated r USING (source)
WHERE {sample_hash_sql('d.doc_id', 'temp')} < r.thr
"""


@register("temperature_mixture_sample", oracle=_TEMP_ORACLE)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing at alpha = 0.5
    (operators/sampling.temperature_sample): sample each source
    proportionally to sqrt(n_i) under a half-corpus budget - the
    standard multilingual/multi-source mix that lifts small sources
    without letting any one dominate. alpha = 0.5 is the one
    temperature that stays engine-exact (sqrt is IEEE-correctly
    rounded; general pow is libm), the share normalizer sums
    1e-9-quantized BIGINTs, and membership is the deterministic
    md5 hash-threshold - so the kept set hash-matches DuckDB
    exactly. One tiny per-source aggregate broadcast back onto the
    scan filter: zero extra shuffles over the corpus."""
    from ..operators.sampling import temperature_sample

    d = _docs(spark, sf_dir)
    return temperature_sample(
        d, "doc_id", "source", budget_frac=0.5, salt="temp"
    ).select("doc_id", "source", "keep_threshold")


_KMV_K = 16
_KMV_TWO52 = 16**13


def _kmv_frac_sql(val_sql: str, salt: str) -> str:
    md5 = f"md5('{salt}:' || CAST({val_sql} AS VARCHAR))"
    terms = " + ".join(
        f"(instr('0123456789abcdef', substring({md5}, {j + 1}, 1)) - 1)"
        f" * {16 ** (12 - j)}"
        for j in range(13)
    )
    return f"({terms})"


_KMV_ORACLE = f"""
WITH f AS (
  SELECT DISTINCT {_kmv_frac_sql('tok', 'kmv')} AS f
  FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
),
top AS (SELECT f FROM f ORDER BY f ASC LIMIT {_KMV_K})
SELECT CAST(count(*) AS BIGINT) AS n_hashed,
       CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
            ELSE CAST({_KMV_K - 1} AS DOUBLE)
                 / (CAST(max(f) AS DOUBLE) / CAST({_KMV_TWO52} AS DOUBLE)) END
         AS kmv_estimate
FROM top
"""


@register("kmv_distinct_tokens", oracle=_KMV_ORACLE)
def kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch over the corpus vocabulary
    (operators/sampling.kmv_distinct_estimate) - the DETERMINISTIC
    cardinality estimate beside approx_distinct_and_percentiles'
    HLL++ (implementation-defined, rows-only): md5-hash each
    distinct token to a 52-bit fraction (fits a double exactly),
    keep the k smallest via a TakeOrdered heap, estimate
    (k-1)/kth_min. Bit-reproducible across engines, runs, and
    partitionings, so it oracle-pairs - the sketch a pipeline uses
    when estimates must be stable across reruns (cache keys,
    drift alarms)."""
    from ..operators.sampling import kmv_distinct_estimate

    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return kmv_distinct_estimate(toks, "tok", _KMV_K, salt="kmv")


_CMS_DEPTH = 4
_CMS_WIDTH = 512
_CMS_TOPN = 20


def _cms_cell_sql(row_var: str, val_sql: str, salt: str) -> str:
    """DuckDB twin of operators/sketch._positions for one hash row:
    md5-24bit of 'salt<row>:<value>' mod the table width."""
    expr = f"'{salt}' || CAST({row_var} AS VARCHAR) || ':' || CAST({val_sql} AS VARCHAR)"
    return f"(({_md5_24bit_sql(expr)}) % {_CMS_WIDTH})"


_CMS_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
),
exact AS (SELECT tok, COUNT(*) AS exact_ct FROM toks GROUP BY tok),
cells AS (
  SELECT r, {_cms_cell_sql('r', 'tok', 'cms')} AS c, COUNT(*) AS ct
  FROM toks CROSS JOIN range({_CMS_DEPTH}) t(r)
  GROUP BY 1, 2
),
pr AS (
  SELECT e.tok, r, {_cms_cell_sql('r', 'e.tok', 'cms')} AS c
  FROM exact e CROSS JOIN range({_CMS_DEPTH}) t(r)
),
est AS (
  SELECT pr.tok, MIN(COALESCE(cells.ct, 0)) AS cms_ct
  FROM pr LEFT JOIN cells ON pr.r = cells.r AND pr.c = cells.c
  GROUP BY pr.tok
)
SELECT e.tok, CAST(e.exact_ct AS BIGINT) AS exact_ct,
       CAST(est.cms_ct AS BIGINT) AS cms_ct
FROM exact e JOIN est ON e.tok = est.tok
ORDER BY est.cms_ct DESC, e.tok ASC
LIMIT {_CMS_TOPN}
"""


@register("cms_token_heavy_hitters", oracle=_CMS_ORACLE)
def cms_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketch.cms_build /
    cms_estimate): the fixed-memory frequency summary a streaming /
    multi-pass pipeline keeps instead of a full token count table.
    The sketch is depth*width = 2048 cells REGARDLESS of corpus
    size, so it broadcasts to the probe join; estimates are
    upward-biased only (min over the token's 4 cells), and the
    output reports the top-20 estimated tokens BESIDE their exact
    counts so the bias is visible and checked. md5-positioned cells
    make the whole sketch engine-portable - DuckDB rebuilds the
    identical cell table and the comparison is hash-exact."""
    from ..functions.text import tokens
    from ..operators.sketch import cms_build, cms_estimate

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    # ONE corpus explode (r17; formerly three): the exact count table
    # is vocabulary-sized, so barrier it lazily and fold the sketch
    # cells FROM it (weight_col - sum of per-token counts per cell is
    # bit-identical to counting raw occurrence rows); the probe leg
    # and the final join read the same barriered table. The sketch
    # build is then vocab-sized work instead of corpus-sized - the
    # shape a real multi-pass pipeline uses when it materializes
    # exact counts anyway.
    exact = barrier(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_ct")),
        eager=False,
    )
    cells = cms_build(
        exact, "tok", _CMS_DEPTH, _CMS_WIDTH, salt="cms",
        weight_col="exact_ct",
    )
    est = cms_estimate(exact, "tok", cells, _CMS_DEPTH, _CMS_WIDTH, salt="cms")
    return (
        exact.join(est, "tok")
        .select("tok", "exact_ct", "cms_ct")
        .orderBy(F.desc("cms_ct"), F.asc("tok"))
        .limit(_CMS_TOPN)
    )


_BLOOM_BITS = 2048
_BLOOM_K = 3
# One month of buyers (~12% of customers at sf0.01): the member set
# must be a strict subset of the probe set or the no-false-negative
# and false-positive branches are both vacuous; 2048 bits over ~180
# keys gives a ~1% FP rate - visibly nonzero at the driver's sf, and
# honestly saturating toward 1 as sf grows past the filter's sizing
# (the classic undersized-bloom failure mode, reported, not hidden).
_BLOOM_LO = "1995-01-01"
_BLOOM_HI = "1995-02-01"


def _bloom_bit_sql(hash_var: str, val_sql: str) -> str:
    expr = f"'bloom' || CAST({hash_var} AS VARCHAR) || ':' || CAST({val_sql} AS VARCHAR)"
    return f"(({_md5_24bit_sql(expr)}) % {_BLOOM_BITS})"


_BLOOM_ORACLE = f"""
WITH buyers AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_BLOOM_LO}'
    AND o_orderdate < TIMESTAMP '{_BLOOM_HI}'
),
bits AS (
  SELECT DISTINCT {_bloom_bit_sql('j', 'o_custkey')} AS bit
  FROM buyers CROSS JOIN range({_BLOOM_K}) t(j)
),
pr AS (
  SELECT c.c_custkey, c.c_mktsegment, {_bloom_bit_sql('j', 'c.c_custkey')} AS bit
  FROM customer c CROSS JOIN range({_BLOOM_K}) t(j)
),
mem AS (
  SELECT pr.c_custkey, pr.c_mktsegment,
         bool_and(b.bit IS NOT NULL) AS bloom_member
  FROM pr LEFT JOIN bits b ON pr.bit = b.bit
  GROUP BY pr.c_custkey, pr.c_mktsegment
),
agg AS (
  SELECT m.c_mktsegment,
         COUNT(*) AS probed,
         SUM(CASE WHEN m.bloom_member THEN 1 ELSE 0 END) AS bloom_pos,
         SUM(CASE WHEN a.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS actual_pos
  FROM mem m LEFT JOIN buyers a ON m.c_custkey = a.o_custkey
  GROUP BY m.c_mktsegment
)
SELECT c_mktsegment, CAST(probed AS BIGINT) AS probed,
       CAST(bloom_pos AS BIGINT) AS bloom_pos,
       CAST(actual_pos AS BIGINT) AS actual_pos,
       CAST(bloom_pos - actual_pos AS BIGINT) AS false_pos
FROM agg
"""


@register("bloom_prefilter_fp_rate", oracle=_BLOOM_ORACLE)
def bloom_prefilter_fp_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filtering (operators/sketch.bloom_build /
    bloom_probe), measured: build a 2048-bit / 3-hash filter over
    the distinct January-1995 buyer keys (a ~12% slice - the member
    set must be a strict subset of the probes or both interesting
    branches are vacuous), probe EVERY customer, and report per
    market segment how many probes the bloom passes vs how many are
    real buyers - false_pos is the price of the pre-filter, and
    no-false-negatives (every actual buyer passes) is the guarantee
    that makes it safe. This is the relational shape of Spark's
    runtime row-level bloom filtering: the bit table broadcasts,
    the fact side never shuffles for the pre-screen."""
    from ..operators.sketch import bloom_build, bloom_probe

    pin_utc(spark)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    buyers = (
        orders.filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit(_BLOOM_LO)))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit(_BLOOM_HI)))
        )
        .select("o_custkey")
        .distinct()
    )
    bits = bloom_build(buyers, "o_custkey", _BLOOM_BITS, _BLOOM_K, salt="bloom")
    member = bloom_probe(
        customer, "c_custkey", bits, _BLOOM_BITS, _BLOOM_K, salt="bloom"
    )
    joined = (
        customer.select("c_custkey", "c_mktsegment")
        .join(member, "c_custkey")
        .join(
            buyers.withColumnRenamed("o_custkey", "c_custkey").withColumn(
                "__actual", F.lit(1)
            ),
            "c_custkey",
            "left",
        )
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("probed"),
        F.sum(F.when(F.col("bloom_member"), 1).otherwise(0)).alias("bloom_pos"),
        F.sum(F.when(F.col("__actual").isNotNull(), 1).otherwise(0)).alias(
            "actual_pos"
        ),
        (
            F.sum(F.when(F.col("bloom_member"), 1).otherwise(0))
            - F.sum(F.when(F.col("__actual").isNotNull(), 1).otherwise(0))
        ).alias("false_pos"),
    )


# ---- Hamilton (largest-remainder) mixture apportionment

_ALLOC_BUDGET = 100_000


@register(
    "mixture_token_allocation",
    oracle=f"""
WITH nt AS (
  SELECT source, CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wt AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0 + 0.5)
              AS BIGINT) AS weight
  FROM nt
),
tot AS (SELECT CAST(sum(weight) AS BIGINT) AS t FROM wt),
based AS (
  SELECT source, n_tokens, weight,
         CAST({_ALLOC_BUDGET} AS DOUBLE) * CAST(weight AS DOUBLE)
           / CAST((SELECT t FROM tot) AS DOUBLE) AS quota
  FROM wt
),
fl AS (
  SELECT source, n_tokens, weight, quota,
         CAST(floor(quota) AS BIGINT) AS alloc_floor,
         quota - floor(quota) AS rem
  FROM based
),
lv AS (SELECT {_ALLOC_BUDGET} - CAST(sum(alloc_floor) AS BIGINT) AS lft FROM fl)
SELECT source, n_tokens, weight, quota, alloc_floor,
       CAST(alloc_floor + CASE WHEN row_number()
                OVER (ORDER BY rem DESC, source ASC) <= (SELECT lft FROM lv)
            THEN 1 ELSE 0 END AS BIGINT) AS allocation
FROM fl
""",
)
def mixture_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning (operators/sampling.
    largest_remainder_allocation): apportion a fixed token budget
    across sources proportionally to the alpha=0.5 temperature
    weights (quantized sqrt of per-source token counts), by Hamilton
    largest-remainder - floors plus leftover units to the biggest
    fractional remainders, so the per-source integer allocations sum
    to the budget EXACTLY. This is the planner upstream of the
    hash-threshold samplers: policies make shares, this makes exact
    integer counts. Every step (quantized weights, one pinned
    double tree for quotas, remainder ranking) is engine-identical,
    so the whole plan hash-matches. Scale shape: one per-source
    aggregation over the corpus; everything after runs on the
    S-row sliver."""
    from ..operators.sampling import largest_remainder_allocation

    d = _docs(spark, sf_dir)
    nt = d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).alias("n_tokens")
    )
    wt = nt.withColumn(
        "weight",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e9) + F.lit(0.5)
        ).cast("long"),
    )
    alloc = largest_remainder_allocation(wt, "source", "weight", _ALLOC_BUDGET)
    return alloc.join(
        wt.select(F.col("source").alias("group"), "n_tokens"), "group"
    ).select(
        F.col("group").alias("source"),
        "n_tokens",
        "weight",
        "quota",
        "alloc_floor",
        "allocation",
    )
