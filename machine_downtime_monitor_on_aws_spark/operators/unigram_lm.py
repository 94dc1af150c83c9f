"""Unigram-LM (SentencePiece-style) subword tokenizer training -
the probabilistic companion to operators/bpe.py (r7 verdict
next-round #5; Kudo 2018, "Subword Regularization").

Training is hard-EM (Viterbi-EM) over the corpus WORD TABLE:

- seed: every overlapping 1..max_piece-char substring of every
  distinct word, occurrence counts weighted by word frequency; the
  vocabulary is ALL single characters (coverage guarantee - every
  word stays segmentable forever) plus the top-``seed_multi_cap``
  multi-char pieces by (count desc, piece asc);
- E-step: per-word Viterbi segmentation under the current piece
  probabilities, as ONE bounded scan-side fold expression (see
  below) - no UDF, no per-word driver work;
- M-step + prune: piece counts from the segmentations (explode +
  map-side-combining sum, weighted by word freq), multi-char vocab
  pruned to the top-``prune_multi_cap`` survivors, characters kept
  with a count floor of 1 (an unused character must keep p > 0 or
  coverage breaks), probabilities re-derived as count/total.

Determinism / oracle story (the repo's bit-exactness contract):
probabilities are plain double divisions of integer counts and the
Viterbi recurrence uses ONLY multiplication and comparison - both
correctly-rounded, engine-identical IEEE operations - so the whole
train-then-segment pipeline hash-matches a DuckDB oracle that
unrolls the DP as lateral columns (no logs anywhere: libm log
differs across engines, multiplication does not). Ties break
deterministically: higher probability, then fewer pieces, then the
longer final piece - encoded as lexicographic struct max, the same
trick as ivf._nearest's argmin.

Scale shape: the word table is one groupBy of the corpus (distinct
words are vastly fewer than tokens - Zipf); each EM iteration is one
scan of that table with a fold expression bounded by
``max_wlen * max_piece`` steps, one exploded count aggregation, and
ONE vocab-sized driver collect (the kmeans/BPE discipline: only
model state crosses to the driver, never data). Corpus text never
shuffles after the word count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..functions.vectors import lit_double_array, lit_string_array
from ..session import barrier

MAX_WLEN = 12
MAX_PIECE = 3


def word_freqs(
    docs: DataFrame, text_col: str, max_wlen: int = MAX_WLEN
) -> DataFrame:
    """(w, freq): distinct corpus words with occurrence counts.
    Words longer than ``max_wlen`` chars are EXCLUDED (documented
    model restriction, not silent truncation): the DP cost and the
    oracle's unrolled columns are both bounded by ``max_wlen``."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= max_wlen)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def seed_piece_counts(words: DataFrame, max_piece: int = MAX_PIECE) -> DataFrame:
    """(piece, cnt): every overlapping substring of length
    1..max_piece of every word, weighted by word frequency - the
    standard unigram-LM seed statistics. One explode + one
    map-side-combining sum; distinct pieces are alphabet-bounded
    (<= |alphabet|^max_piece), so downstream top-k stays tiny."""
    def _sub_of(ln: int):
        # closure factory, NOT a default-arg lambda: a 2-arg lambda
        # flips PySpark's transform() into the (element, index) form
        # and silently binds the default to the index column
        return lambda i: F.substr(F.col("w"), i, F.lit(ln))

    legs = []
    for ln in range(1, max_piece + 1):
        sub = F.transform(
            F.sequence(F.lit(1), F.length("w") - F.lit(ln - 1)),
            _sub_of(ln),
        )
        legs.append(
            words.filter(F.length("w") >= ln).select(
                F.explode(sub).alias("piece"), "freq"
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.groupBy("piece").agg(F.sum("freq").alias("cnt"))


def _top_multi(rows: list[tuple[str, int]], cap: int) -> list[tuple[str, int]]:
    return sorted(rows, key=lambda r: (-r[1], r[0]))[:cap]


def probs_from_counts(kept: list[tuple[str, int]]) -> dict[str, float]:
    """count/total as plain double division - bit-identical to the
    oracle's CAST(cnt AS DOUBLE)/CAST(t AS DOUBLE)."""
    total = float(sum(c for _p, c in kept))
    return {p: float(c) / total for p, c in kept}


def viterbi_state(
    w: Column,
    pieces: list[str],
    probs: list[float],
    max_piece: int = MAX_PIECE,
) -> Column:
    """The per-word Viterbi DP as one fold expression: the
    accumulator is the array of per-prefix best states
    (p, n, seg), each step appends the best of <= max_piece
    candidates (piece ending at this position), candidates compared
    as (p desc, pieces asc, final piece length desc) via
    lexicographic struct max. The vocabulary rides the plan as ONE
    literal map (F.lit of the key/value lists - never per-entry
    literals, the r7 py4j pitfall); a missing piece scores the
    sentinel -1.0, always below the guaranteed single-char path.
    Returns the final struct (p=best likelihood, n=piece count,
    seg=the segmentation)."""
    # r17: both vocab arrays build as single JVM-parsed SQL strings
    # when safe (the EM loop re-enters here per iteration; F.lit of a
    # capped vocab cost ~0.3-0.6 s of py4j per call) - the helpers
    # fall back to F.lit for non-ASCII/quote/backslash pieces or
    # non-finite probs, and their bit-identity is test-pinned
    m = F.map_from_arrays(
        lit_string_array(list(pieces)), lit_double_array(list(probs))
    )
    empty_seg = F.array().cast("array<string>")
    init = F.array(
        F.struct(
            F.lit(1.0).alias("p"),
            F.lit(0).cast("int").alias("n"),
            empty_seg.alias("seg"),
        )
    )

    def step(acc: Column, j: Column) -> Column:
        cands = []
        for ln in range(1, max_piece + 1):
            start = j - F.lit(ln) + F.lit(1)
            prev = F.element_at(acc, start)
            piece = F.substr(w, start, F.lit(ln))
            pp = F.try_element_at(m, piece)
            cand = F.struct(
                F.when(pp.isNull(), F.lit(-1.0))
                .otherwise(prev["p"] * pp)
                .alias("p"),
                (-(prev["n"] + F.lit(1))).cast("int").alias("negn"),
                F.lit(ln).cast("int").alias("l"),
                (prev["n"] + F.lit(1)).cast("int").alias("n"),
                F.concat(prev["seg"], F.array(piece)).alias("seg"),
            )
            invalid = F.struct(
                F.lit(-2.0).alias("p"),
                F.lit(0).cast("int").alias("negn"),
                F.lit(ln).cast("int").alias("l"),
                F.lit(0).cast("int").alias("n"),
                empty_seg.alias("seg"),
            )
            cands.append(F.when(j >= F.lit(ln), cand).otherwise(invalid))
        best = F.array_max(F.array(*cands))
        return F.concat(
            acc,
            F.array(
                F.struct(
                    best["p"].alias("p"),
                    best["n"].alias("n"),
                    best["seg"].alias("seg"),
                )
            ),
        )

    states = F.aggregate(F.sequence(F.lit(1), F.length(w)), init, step)
    return F.element_at(states, F.length(w) + F.lit(1))


def viterbi_segment_words(
    words: DataFrame,
    vocab: dict[str, float],
    max_piece: int = MAX_PIECE,
) -> DataFrame:
    """E-step over the word table: (w, freq, best_prob, n_pieces,
    seg). Pure scan-side expression work - the word table never
    shuffles.

    The DP expression is deliberately wrapped in an always-true
    guard on ``freq`` (a count, so ``freq >= 0`` holds by
    construction). Without it the fold is a pure function of the
    GROUPING key ``w`` alone, and when a consumer explodes ``seg``,
    InferFiltersFromGenerate adds ``size(seg) > 0`` which
    PushDownPredicates then pushes THROUGH the word groupBy into the
    per-token-occurrence scan - the Viterbi DP re-runs once per
    corpus token instead of once per distinct word (measured 33 s vs
    0.4 s at sf0.1: a ~1000x Zipf factor). Referencing the aggregate
    output ``freq`` pins every derived predicate above the
    aggregation, where the word table is already distinct."""
    pieces = sorted(vocab)
    probs = [vocab[p] for p in pieces]
    bf = F.when(
        F.col("freq") >= F.lit(0),
        viterbi_state(F.col("w"), pieces, probs, max_piece),
    )
    return words.select(
        "w",
        "freq",
        bf.alias("__bf"),
    ).select(
        "w",
        "freq",
        F.col("__bf")["p"].alias("best_prob"),
        F.col("__bf")["n"].alias("n_pieces"),
        F.col("__bf")["seg"].alias("seg"),
    )


def train_unigram_lm(
    words: DataFrame,
    iters: int = 2,
    seed_multi_cap: int = 96,
    prune_multi_cap: int = 64,
    max_piece: int = MAX_PIECE,
) -> tuple[dict[str, float], DataFrame]:
    """Viterbi-EM training; returns (final vocab probabilities, the
    final iteration's segmentation frame). ``iters`` counts E-steps:
    iters=1 segments under the seed model; each further iteration
    re-estimates counts from the previous segmentation, prunes the
    multi-char vocab to ``prune_multi_cap``, floors unused character
    counts at 1 (coverage), and re-segments. Per iteration: one
    distributed segment+count job, one vocab-sized collect."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # Two barriers (r17): ``words`` feeds the seed statistics AND
    # every E-step's segmentation (iters+1 consumers) - without a
    # barrier each consumer re-runs the corpus tokenize+groupBy;
    # ``seed`` feeds two driver collects (chars, top-multi). Both
    # tables are vocabulary-sized (Zipf-collapsed words / bounded
    # substrings), exactly what a barrier should hold.
    words = barrier(words, eager=False)
    seed = barrier(seed_piece_counts(words, max_piece), eager=False)
    char_rows = [
        (r["piece"], int(r["cnt"]))
        for r in seed.filter(F.length("piece") == 1).collect()
    ]
    if not char_rows:
        raise ValueError("empty corpus: no characters to seed from")
    multi_rows = [
        (r["piece"], int(r["cnt"]))
        for r in seed.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(seed_multi_cap)
        .collect()
    ]
    chars = sorted(p for p, _c in char_rows)
    vocab = probs_from_counts(sorted(char_rows) + _top_multi(multi_rows, seed_multi_cap))
    seg = viterbi_segment_words(words, vocab, max_piece)
    for _ in range(iters - 1):
        counts = {
            r["piece"]: int(r["cnt"])
            for r in seg.select(F.explode("seg").alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
            .collect()
        }
        kept = [(ch, max(counts.get(ch, 0), 1)) for ch in chars]
        kept += _top_multi(
            [(p, c) for p, c in counts.items() if len(p) > 1], prune_multi_cap
        )
        vocab = probs_from_counts(kept)
        seg = viterbi_segment_words(words, vocab, max_piece)
    return vocab, seg


def vocab_digest(vocab: dict[str, float]) -> str:
    """md5 over the sorted (piece, IEEE-754 prob) pairs - the same
    byte-exact model identity the IVF-PQ index stamps for its
    codebooks: segmenting with a drifted vocabulary produces
    silently different tokenizations, which poisons every downstream
    consumer keyed on token ids."""
    import hashlib
    import struct as _struct

    h = hashlib.md5()
    for piece in sorted(vocab):
        h.update(piece.encode("utf-8"))
        h.update(b"\x00")
        h.update(_struct.pack("<d", vocab[piece]))
    return h.hexdigest()


def save_unigram_vocab(
    spark,
    path: str,
    vocab: dict[str, float],
    max_piece: int = MAX_PIECE,
) -> None:
    """Persist a trained vocabulary: a tiny (piece, p) parquet plus
    params.json carrying max_piece and the vocab digest, written
    LAST as the commit signal (the build-stamps-last discipline the
    IVF/MinHash indexes use). Overwrite-safe: rebuilding rewrites
    both."""
    from .. import fsio

    rows = [(p, vocab[p]) for p in sorted(vocab)]
    spark.createDataFrame(rows, "piece string, p double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/vocab")
    import json as _json

    fsio.mkdirs(spark, path)
    fsio.write_text(
        spark,
        f"{path}/params.json",
        _json.dumps(
            {
                "layout": "unigram_lm",
                "max_piece": int(max_piece),
                "vocab_size": len(vocab),
                "vocab_md5": vocab_digest(vocab),
            },
            sort_keys=True,
        ),
    )


def load_unigram_vocab(
    spark, path: str, expect_digest: str | None = None
) -> tuple[dict[str, float], dict]:
    """(vocab, stamped params). The digest in params.json is
    re-verified against the loaded rows - a torn or tampered store
    fails loudly instead of tokenizing differently; pass
    ``expect_digest`` to additionally pin the model a caller was
    built against."""
    import json as _json

    from .. import fsio

    if not fsio.exists(spark, f"{path}/params.json"):
        raise ValueError(f"no committed unigram vocab at {path!r}")
    params = _json.loads(fsio.read_text(spark, f"{path}/params.json"))
    vocab = {
        r["piece"]: float(r["p"])
        for r in spark.read.parquet(f"{path}/vocab").collect()
    }
    actual = vocab_digest(vocab)
    if params.get("vocab_md5") != actual:
        raise ValueError(
            f"unigram vocab at {path!r} fails its own digest "
            f"({params.get('vocab_md5')} != {actual}): torn write or "
            "tampered store"
        )
    if expect_digest is not None and actual != expect_digest:
        raise ValueError(
            f"unigram vocab at {path!r} is not the expected model "
            f"({actual} != {expect_digest})"
        )
    return vocab, params


def encode_docs(
    docs: DataFrame,
    seg: DataFrame,
    id_col: str,
    text_col: str,
    max_wlen: int = MAX_WLEN,
) -> DataFrame:
    """Corpus encode via the segmented WORD TABLE (the production
    shape: the per-word DP runs once per DISTINCT word in ``seg``,
    and each document's token stream joins against it instead of
    re-running the fold per occurrence - Zipf makes that the
    difference between O(distinct words) and O(corpus tokens) DP
    evaluations). Returns per doc: (doc_id, n_words, n_pieces,
    fertility). Words longer than ``max_wlen`` are outside the model
    (word_freqs excludes them) and are skipped here the same way."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("w"),
    ).filter(F.length("w") <= max_wlen)
    joined = toks.join(seg.select("w", "n_pieces"), "w")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_pieces").alias("n_pieces"),
        (
            F.sum("n_pieces").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("fertility"),
    )
