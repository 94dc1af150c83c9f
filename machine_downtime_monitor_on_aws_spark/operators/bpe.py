"""BPE tokenizer training: the first N pair merges, relationally.

Byte-pair-encoding training is an iterative corpus statistic: count
adjacent symbol pairs, merge the most frequent, repeat. The corpus
side of each iteration is pure DataFrame work - explode words once,
per-word adjacent pairs via ``zip_with`` over two slices (the slices
are row-level inputs evaluated ONCE per word, so there is no
higher-order-function re-evaluation blowup; a word is <= tens of
symbols, so the per-row work is trivially bounded), one global
pair-count aggregation with map-side combine. Only the argmax pair
(one row) ever reaches the driver per iteration - the k-means shape.

The loop trains on the WORD-FREQUENCY TABLE, not on word occurrences
(the Sennrich et al. 2016 formulation: BPE statistics are a function
of the corpus's ``{word: count}`` dict). Every occurrence of a word
symbolizes, merges, and pair-counts identically, so the corpus
collapses to one ``(sym, wcnt)`` row per DISTINCT word after a
single scan, and pair counts become ``sum(wcnt)`` - bit-identical
totals. Each iteration's checkpoint, fold, and aggregation then
touch a vocabulary-sized table (Zipf: millions of distinct words vs
trillions of occurrences at 100 TB), instead of re-materializing the
full token stream per merge.

Merges apply with plain string ``replace`` over the space-separated
symbol string, padded with sentinel spaces so a pair can never match
across symbol boundaries (" x y " -> " xy "): left-to-right
non-overlapping replacement is exactly greedy BPE merge application,
and Spark and DuckDB implement the same scan-after-replacement
semantics (verified: 'a a a a' -> 'aa aa' on both), which is what
lets ``bpe_first_merges`` carry a hash-exact oracle with the merge
CHOICE made relationally (count desc, pair asc ties). Words carry
the classic ``</w>`` end-of-word symbol so merges can learn word
boundaries."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import barrier, release_checkpoint


def symbolized_words(
    df: DataFrame, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """One row per word occurrence: the word as a space-separated
    character-symbol string ending in the ``</w>`` marker.

    The narrow text projection repartitions BEFORE the explode (the
    fingerprint-pipeline shape): a corpus arriving in one input
    split would otherwise symbolize, fold, and count on a single
    core for the whole training loop - measured 6.5s -> ~1s at
    sf0.1. One exchange of raw text; the frequency-table groupBy
    downstream then spreads its (already vocabulary-sized) state by
    symbol hash."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    w = F.explode(tokens(F.col(text_col))).alias("w")
    sym = F.concat(
        F.array_join(F.split(F.col("w"), ""), " "), F.lit(" </w>")
    )
    return df.select(F.col(text_col)).repartition(n).select(w).select(
        sym.alias("sym")
    )


def symbol_word_frequencies(
    df: DataFrame, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """``(sym, wcnt)``: one row per DISTINCT word with its corpus
    occurrence count - the word-frequency table classic BPE trainers
    iterate on. Distinct symbol strings stay distinct under merges
    (a merge only reparses the same character sequence), so the
    grouping is stable across the whole training loop: group once,
    never regroup."""
    return (
        symbolized_words(df, text_col, parallelism)
        .groupBy("sym")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


def adjacent_pairs(sym_col: Column | str) -> Column:
    """Array of adjacent symbol pairs ("x y") of one symbol string.
    Given a column NAME the whole expression parses JVM-side in one
    call (the zip_with lambda alone costs ~15 py4j round-trips per
    construction, and the trainers rebuild it every iteration); the
    Column form stays for composed expressions. Both build the same
    zip_with(slice, slice, concat) tree."""
    if isinstance(sym_col, str):
        s = f"split({sym_col}, ' ')"
        return F.expr(
            f"zip_with(slice({s}, 1, size({s}) - 1), "
            f"slice({s}, 2, size({s}) - 1), (a, b) -> concat(a, ' ', b))"
        )
    s = F.split(sym_col, " ")
    return F.zip_with(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def apply_merge(sym_col: Column, pair: str, merged: str) -> Column:
    """Greedy left-to-right merge of ``pair`` -> ``merged`` in a
    space-separated symbol string.

    A left FOLD over the symbol array, not a string replace: the
    obvious sentinel-padded ``replace(' x y ', ' xy ')`` consumes
    the shared space between consecutive matches, so a run
    ``x y x y`` merges only its first pair - standard BPE merges
    both. The fold carries the joined-so-far string; when it ends
    with the pair's LEFT symbol (whole-symbol check: equals it, or
    ends with ``' '+left`` - a suffix inside a longer symbol never
    matches) and the next element is the RIGHT symbol, the trailing
    left is spliced into ``merged``. The freshly merged symbol can
    never cascade (``merged`` != left since right is non-empty), so
    this is exactly greedy pair application. The oracle mirrors it
    with DuckDB's ``list_reduce``."""
    left, right = pair.split(" ", 1)
    init = F.element_at(F.split(sym_col, " "), 1)
    rest = F.slice(
        F.split(sym_col, " "), 2, F.size(F.split(sym_col, " ")) - 1
    )

    def step(acc: Column, x: Column) -> Column:
        ends = (acc == F.lit(left)) | acc.endswith(" " + left)
        hit = ends & (x == F.lit(right))
        spliced = F.concat(
            F.substr(acc, F.lit(1), F.length(acc) - F.lit(len(left))),
            F.lit(merged),
        )
        return F.when(hit, spliced).otherwise(
            F.concat(acc, F.lit(" "), x)
        )

    return F.aggregate(rest, init, step)


def bpe_train_merges(
    df: DataFrame, text_col: str, n_merges: int
) -> list[dict]:
    """Train the first ``n_merges`` BPE merges over a document
    corpus. Returns ``[{iteration, pair, merged, pair_count}, ...]``
    in merge order; stops early if the corpus runs out of pairs.
    The corpus is scanned ONCE (into the word-frequency table); each
    iteration then runs one vocabulary-sized job collecting a single
    row; merges apply as fold expressions over the distinct words.
    Pair counts weight each distinct word's pair multiset by its
    occurrence count - bit-identical to counting over the raw token
    stream, at a fraction of the per-iteration work."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    # Materialize the symbol state once per iteration: without the
    # barrier, iteration i's plan re-runs tokenize + symbolize +
    # group + all i-1 merge folds from scratch (quadratic total
    # work). Each superseded round's barrier is released as soon as
    # the next state is materialized, not at scope end. Only the first
    # barrier pays the corpus scan; the rest materialize the
    # vocabulary-sized frequency table.
    cur = symbol_word_frequencies(df, text_col)
    out: list[dict] = []
    held: DataFrame | None = None
    # loop-invariant pair-explode expression built ONCE (r17 verdict
    # #2: per-iteration Column rebuilds are pure driver py4j cost)
    pair_col = F.explode(adjacent_pairs("sym")).alias("pair")
    try:
        for it in range(1, n_merges + 1):
            # LAZY barrier: the argmax collect below materializes the
            # symbol state and computes the pair counts in ONE job
            # (eager cost two jobs per iteration). The previous
            # state's blocks are released only AFTER that collect -
            # this iteration's lazy checkpoint reads them while
            # materializing, and a released barrier cannot be
            # recomputed.
            cur = barrier(cur, eager=False)
            top = (
                cur.select(pair_col, F.col("wcnt"))
                .groupBy("pair")
                .agg(F.sum("wcnt").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if held is not None:
                release_checkpoint(held)
            held = cur
            if not top:
                break
            pair, cnt = top[0]["pair"], int(top[0]["cnt"])
            merged = pair.replace(" ", "")
            out.append(
                {
                    "iteration": it,
                    "pair": pair,
                    "merged": merged,
                    "pair_count": cnt,
                }
            )
            cur = cur.select(
                apply_merge(F.col("sym"), pair, merged).alias("sym"),
                F.col("wcnt"),
            )
    finally:
        if held is not None:
            release_checkpoint(held)
        # if the argmax collect raised, the in-flight lazy barrier
        # `cur` is not yet `held` - release it too or it leaks on the
        # exception path (r17 ADVICE #5). After a clean loop `cur` is
        # a plain .select(), so this is a no-op there.
        if cur is not None and cur is not held:
            release_checkpoint(cur)
    return out


def bpe_segment(
    df: DataFrame,
    text_col: str,
    merges: list[dict],
    out_col: str = "bpe_symbols",
) -> DataFrame:
    """Apply a trained merge list to a corpus: each document's words
    become their merged symbol sequences (the tokenizer's encode
    step, minus the id lookup). Pure expression work - one nested
    ``replace`` per merge, no shuffle."""
    toks = tokens(F.col(text_col))
    word_sym = lambda w: F.concat(  # noqa: E731
        F.array_join(F.split(w, ""), " "), F.lit(" </w>")
    )

    def seg(w: Column) -> Column:
        sym = word_sym(w)
        for m in merges:
            sym = apply_merge(sym, m["pair"], m["merged"])
        return sym

    return df.withColumn(out_col, F.transform(toks, seg))


# ---- merge-list persistence (shared by BPE and WordPiece)

def merges_digest(merges: list[dict]) -> str:
    """md5 over the ordered (iteration, pair, merged) triples - the
    part that DEFINES the tokenizer (counts/scores are training
    metadata; two stores with equal digests segment identically)."""
    import hashlib

    body = "\n".join(
        f"{m['iteration']}\t{m['pair']}\t{m['merged']}" for m in merges
    )
    return hashlib.md5(body.encode("utf-8")).hexdigest()


_MERGE_FIELDS = (
    ("iteration", "int"),
    ("pair", "string"),
    ("merged", "string"),
    ("pair_count", "long"),
    ("left_count", "long"),
    ("right_count", "long"),
    ("score", "double"),
)


def save_merges(spark, path: str, merges: list[dict], layout: str) -> None:
    """Persist a trained merge list (``layout`` = 'bpe' or
    'wordpiece'): a tiny parquet of merge rows (absent training
    metadata columns stored NULL) plus params.json carrying the
    layout and the merge digest, written LAST as the commit signal -
    the same build-stamps-last discipline as the unigram vocab and
    the IVF/MinHash indexes. Overwrite-safe."""
    import json as _json

    from .. import fsio

    if layout not in ("bpe", "wordpiece"):
        raise ValueError(f"unknown tokenizer layout {layout!r}")
    rows = [tuple(m.get(k) for k, _t in _MERGE_FIELDS) for m in merges]
    schema = ", ".join(f"{k} {t}" for k, t in _MERGE_FIELDS)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/merges")
    fsio.mkdirs(spark, path)
    fsio.write_text(
        spark,
        f"{path}/params.json",
        _json.dumps(
            {
                "layout": layout,
                "n_merges": len(merges),
                "merges_md5": merges_digest(merges),
            },
            sort_keys=True,
        ),
    )


def load_merges(
    spark,
    path: str,
    expect_layout: str | None = None,
    expect_digest: str | None = None,
) -> tuple[list[dict], dict]:
    """(merges in iteration order, stamped params). The digest
    re-verifies against the loaded rows (torn/tampered stores fail
    loudly instead of segmenting differently); ``expect_layout``
    pins bpe-vs-wordpiece (their merge SEMANTICS differ - applying
    one's merges with the other's symbolization silently
    mis-tokenizes), ``expect_digest`` pins the exact model."""
    import json as _json

    from .. import fsio

    if not fsio.exists(spark, f"{path}/params.json"):
        raise ValueError(f"no committed merge store at {path!r}")
    params = _json.loads(fsio.read_text(spark, f"{path}/params.json"))
    if expect_layout is not None and params.get("layout") != expect_layout:
        raise ValueError(
            f"merge store at {path!r} has layout {params.get('layout')!r},"
            f" caller expects {expect_layout!r}"
        )
    rows = (
        spark.read.parquet(f"{path}/merges")
        .orderBy("iteration")
        .collect()
    )
    merges = []
    for r in rows:
        m = {k: r[k] for k, _t in _MERGE_FIELDS if r[k] is not None}
        merges.append(m)
    actual = merges_digest(merges)
    if params.get("merges_md5") != actual:
        raise ValueError(
            f"merge store at {path!r} fails its own digest "
            f"({params.get('merges_md5')} != {actual}): torn write or "
            "tampered store"
        )
    if expect_digest is not None and actual != expect_digest:
        raise ValueError(
            f"merge store at {path!r} has digest {actual}, caller "
            f"expects {expect_digest}"
        )
    return merges, params
