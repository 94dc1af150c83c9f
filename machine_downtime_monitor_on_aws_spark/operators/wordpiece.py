"""WordPiece tokenizer training: likelihood-scored merges,
relationally.

WordPiece (Schuster & Nakajima 2012; the BERT tokenizer) differs from
BPE in exactly one place: instead of merging the most FREQUENT
adjacent pair, it merges the pair maximizing
``score = count(ab) / (count(a) * count(b))`` - the pair whose merge
most increases a unigram-LM likelihood of the corpus. That score is a
single division of exact integer counts cast to doubles, so - like
every rational in this repo - it is bit-identical across engines and
partitionings, and the whole training loop carries a hash-exact
DuckDB oracle (the bpe_first_merges discipline). No log, no libm.

Symbol alphabet: word-initial characters stay bare, word-internal
characters carry the ``##`` continuation prefix ("abc" ->
"a ##b ##c"), and a merge's name strips the right side's prefix
("##b ##c" -> "##bc") - the BERT vocab convention. There is no
end-of-word marker; the continuation prefix already encodes the
boundary.

Scale shape per iteration (the operators/bpe.py shape plus one tiny
join): one pair-count aggregation and one symbol-count aggregation
over exploded symbols (both map-side-combining; distinct symbols and
pairs are vocabulary-sized), a broadcast-sized join scoring pairs
against their constituent counts, and ONE argmax row collected to
the driver. Merges apply as the shared greedy left-fold
(operators/bpe.apply_merge) - pure expression work, no shuffle.

Like the BPE trainer, the loop runs on the word-frequency table
(``(sym, wcnt)`` per DISTINCT word, one corpus scan total): both the
pair counts and the constituent symbol counts are per-word multisets
weighted by ``sum(wcnt)`` - exact integers identical to counting the
raw token stream, so the scores (and the hash-exact oracle) are
unchanged while each iteration touches vocabulary-sized data only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import barrier, release_checkpoint
from .bpe import adjacent_pairs, apply_merge


def wp_symbolized_words(
    df: DataFrame, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """One row per word occurrence: the word as a space-separated
    WordPiece symbol string ("abc" -> "a ##b ##c"). Repartitions the
    narrow text projection before the explode (the bpe
    symbolized_words rationale: one input split would otherwise pin
    the whole training loop to a single core)."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    w = F.explode(tokens(F.col(text_col))).alias("w")
    chars = F.split(F.col("w"), "")
    rest = F.slice(chars, 2, F.size(chars) - 1)
    # first char bare + ' ##'-joined continuations; index-free so the
    # DuckDB twin is a plain list_slice/array_to_string mirror.
    sym = F.concat(
        F.element_at(chars, 1),
        F.when(
            F.size(chars) > 1,
            F.concat(F.lit(" ##"), F.array_join(rest, " ##")),
        ).otherwise(F.lit("")),
    )
    return df.select(F.col(text_col)).repartition(n).select(w).select(
        sym.alias("sym")
    )


def wp_symbol_word_frequencies(
    df: DataFrame, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """``(sym, wcnt)``: one row per DISTINCT word with its corpus
    occurrence count (the operators/bpe.symbol_word_frequencies
    shape under the WordPiece alphabet). Stable under merges: a
    merge reparses the same characters, so distinct words never
    collide and the grouping holds for the whole loop."""
    return (
        wp_symbolized_words(df, text_col, parallelism)
        .groupBy("sym")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


def merged_name(pair: str) -> str:
    """'a ##b' -> 'ab'; '##b ##c' -> '##bc' (strip the right side's
    continuation prefix; the left keeps its own)."""
    left, right = pair.split(" ", 1)
    return left + (right[2:] if right.startswith("##") else right)


def _scored_pairs(cur: DataFrame) -> DataFrame:
    """(pair, lft, rgt, pair_count, left_count, right_count, score)
    for the current ``(sym, wcnt)`` word-frequency state. Counts are
    corpus-wide occurrence counts (each distinct word's symbol/pair
    multiset weighted by its ``wcnt``); score = c_ab / (c_a * c_b)
    computed as double(c_ab) / (double(c_a) * double(c_b)) - the
    exact order the oracle replays."""
    syms = (
        cur.select(
            F.explode(F.split(F.col("sym"), " ")).alias("s"),
            F.col("wcnt"),
        )
        .groupBy("s")
        .agg(F.sum("wcnt").alias("c"))
    )
    pairs = (
        cur.select(
            F.explode(adjacent_pairs("sym")).alias("pair"),
            F.col("wcnt"),
        )
        .groupBy("pair")
        .agg(F.sum("wcnt").alias("pair_count"))
        .selectExpr(
            "*",
            "split(pair, ' ')[0] AS lft",
            "split(pair, ' ')[1] AS rgt",
        )
    )
    return (
        pairs.join(syms.selectExpr("s AS lft", "c AS left_count"), "lft")
        .join(syms.selectExpr("s AS rgt", "c AS right_count"), "rgt")
        .select(
            "pair",
            "lft",
            "rgt",
            "pair_count",
            "left_count",
            "right_count",
            (
                F.col("pair_count").cast("double")
                / (
                    F.col("left_count").cast("double")
                    * F.col("right_count").cast("double")
                )
            ).alias("score"),
        )
    )


def wordpiece_train_merges(
    df: DataFrame, text_col: str, n_merges: int
) -> list[dict]:
    """Train the first ``n_merges`` WordPiece merges. Returns
    ``[{iteration, pair, merged, pair_count, left_count, right_count,
    score}, ...]`` in merge order; stops early when no pairs remain.
    Ties break (score desc, pair asc) - both engines compare the
    same IEEE doubles, so the choice is deterministic everywhere.
    Same per-iteration materialization barrier as bpe_train_merges
    (without it, iteration i re-runs every earlier fold)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    cur = wp_symbol_word_frequencies(df, text_col)
    out: list[dict] = []
    held: DataFrame | None = None
    try:
        for it in range(1, n_merges + 1):
            # EAGER barrier, deliberately NOT the bpe lazy shape
            # (r18): _scored_pairs reads ``cur`` TWICE (symbol counts
            # + pair counts), and a lazy checkpoint's first action
            # computes the un-materialized fold once per consumer
            # stage - the r17 lazy swap here measured 1.28 -> 2.08 s
            # on a quiet box (bench_ab_r18). bpe's argmax reads its
            # state once, so lazy stays right THERE; with two
            # consumers the eager materialization job is the cheaper
            # side of the trade.
            cur = barrier(cur)
            if held is not None:
                release_checkpoint(held)
            held = cur
            top = (
                _scored_pairs(cur)
                .orderBy(F.col("score").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            row = top[0]
            merged = merged_name(row["pair"])
            out.append(
                {
                    "iteration": it,
                    "pair": row["pair"],
                    "merged": merged,
                    "pair_count": int(row["pair_count"]),
                    "left_count": int(row["left_count"]),
                    "right_count": int(row["right_count"]),
                    "score": float(row["score"]),
                }
            )
            cur = cur.select(
                apply_merge(F.col("sym"), row["pair"], merged).alias("sym"),
                F.col("wcnt"),
            )
    finally:
        if held is not None:
            release_checkpoint(held)
    return out


def wordpiece_segment(
    df: DataFrame,
    text_col: str,
    merges: list[dict],
    out_col: str = "wp_symbols",
) -> DataFrame:
    """Apply trained merges to a corpus: each document's words become
    their merged WordPiece symbol strings. Merge REPLAY (the training
    segmentation), not vocab longest-match - the two agree on any
    corpus the merges were trained on far from vocab boundaries, and
    replay is what the oracle can mirror fold-for-fold. Pure
    expression work, no shuffle."""

    def seg(w: Column) -> Column:
        chars = F.split(w, "")
        rest = F.slice(chars, 2, F.size(chars) - 1)
        sym = F.concat(
            F.element_at(chars, 1),
            F.when(
                F.size(chars) > 1,
                F.concat(F.lit(" ##"), F.array_join(rest, " ##")),
            ).otherwise(F.lit("")),
        )
        for m in merges:
            sym = apply_merge(sym, m["pair"], m["merged"])
        return sym

    return df.withColumn(out_col, F.transform(tokens(F.col(text_col)), seg))


UNK = "[UNK]"


def wordpiece_vocab(df: DataFrame, text_col: str, merges: list[dict]) -> list[str]:
    """The trained WordPiece vocabulary: every base symbol the corpus
    symbolization produces (bare word-initial chars + ##-continuation
    chars - full character coverage by construction) plus every
    merge's name, sorted. Driver-held like the merge list itself -
    vocabulary-sized, never corpus-sized (ONE distinct-aggregation
    collect; the explode runs over distinct words, not the token
    stream)."""
    base = [
        r.s
        for r in wp_symbol_word_frequencies(df, text_col)
        .select(F.explode(F.split(F.col("sym"), " ")).alias("s"))
        .distinct()
        .collect()
    ]
    return sorted(set(base) | {m["merged"] for m in merges})


def wordpiece_encode_words(
    words: DataFrame,
    word_col: str,
    vocab: list[str],
    n_steps: int | None = None,
    out_col: str = "pieces",
) -> DataFrame:
    """Greedy longest-match-first WordPiece ENCODING (the production
    tokenize path, e.g. BERT's): at each position take the longest
    vocab piece matching the remaining word (##-prefixed when not
    word-initial); a position with no match makes the whole word
    ``[UNK]`` - the standard whole-word-UNK semantics. This is NOT
    merge replay (wordpiece_segment): longest-match can segment
    unseen words differently, which is exactly why the encode path
    needs its own operator and oracle.

    One fold expression per word over ``n_steps`` steps (each step
    consumes >= 1 char, so the corpus max word length suffices;
    ``None`` - the safe default - derives exactly that with one
    bounded aggregate). An EXPLICIT n_steps smaller than some word
    needs would leave that word's walk unfinished - those rows come
    back as ``[UNK]``/``is_unk`` (fold exhaustion is indistinguishable
    from an un-encodable word to the caller, and silently truncated
    pieces would be a correctness bug). The per-step longest match
    scans longest-first against the vocab LITERAL (vocabulary-sized -
    rides the plan like k-means centroids; at a vocab too large for a
    literal, the same fold runs against a broadcast map). Run it on
    DISTINCT words and join back (the unigram_lm encode_docs Zipf
    trick): O(distinct words) fold evaluations, not O(corpus
    tokens)."""
    if n_steps is None:
        row = words.agg(F.max(F.length(word_col))).first()
        n_steps = int(row[0] or 1)
    if n_steps < 1:
        raise ValueError(f"n_steps must be >= 1, got {n_steps}")
    max_piece = max(
        len(v[2:]) if v.startswith("##") else len(v) for v in vocab
    )
    vlit = F.lit(sorted(vocab)).cast("array<string>")
    w = F.col(word_col)
    ln = F.length(w)

    def piece(pos, L):
        return F.concat(
            F.when(pos > 0, F.lit("##")).otherwise(F.lit("")),
            F.substr(w, pos + 1, L),
        )

    init = F.struct(
        F.lit(0).alias("pos"),
        F.array().cast("array<string>").alias("pieces"),
        F.lit(False).alias("failed"),
    )

    def step(acc, _):
        pos, pieces, failed = acc["pos"], acc["pieces"], acc["failed"]
        done = failed | (pos >= ln)
        lens = F.filter(
            F.sequence(F.lit(1), F.least(F.lit(max_piece), ln - pos)),
            lambda l: F.array_contains(vlit, piece(pos, l)),
        )
        best = F.array_max(lens)
        return (
            F.when(done, acc)
            .when(
                best.isNull(),
                F.struct(
                    ln.alias("pos"),
                    F.array(F.lit(UNK)).alias("pieces"),
                    F.lit(True).alias("failed"),
                ),
            )
            .otherwise(
                F.struct(
                    (pos + best).alias("pos"),
                    F.concat(pieces, F.array(piece(pos, best))).alias("pieces"),
                    F.lit(False).alias("failed"),
                )
            )
        )

    state = F.aggregate(F.sequence(F.lit(1), F.lit(n_steps)), init, step)
    # single-reference alias: the fold runs once; fields project out.
    # exhausted-fold guard: pos < len(w) with failed=False means the
    # caller's explicit n_steps undershot this word - surface it as
    # UNK, never as silently truncated pieces
    exhausted = (F.col("__st")["pos"] < F.length(F.col(word_col))) & (
        ~F.col("__st")["failed"]
    )
    # zero-length-word guard: the fold is done at step 1 (pos 0 >= len
    # 0) with pieces=[] and failed=false, and the exhausted check
    # (0 < 0) misses it - an empty encoding indistinguishable from a
    # successfully encoded word. Surface it as [UNK]/is_unk like any
    # other unencodable input.
    empty = F.length(F.col(word_col)) == 0
    return words.withColumn("__st", state).select(
        *words.columns,
        F.when(exhausted | empty, F.array(F.lit(UNK)))
        .otherwise(F.col("__st")["pieces"])
        .alias(out_col),
        (F.col("__st")["failed"] | exhausted | empty).alias("is_unk"),
    )
