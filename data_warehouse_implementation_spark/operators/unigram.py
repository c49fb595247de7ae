"""Unigram-LM (SentencePiece-family, Kudo 2018) tokenizer training as
pure DataFrame algebra — the second production tokenizer family next to
:mod:`bpe` (VERDICT r10 gap #1; no reference analog — the reference has
no tokenizer surface).

Like BPE, training runs on the *word-frequency table*, never the raw
corpus: the corpus collapses to (distinct word, count) once — at 100 TB
that is one shuffle on the word — and every later stage (seeding, EM,
pruning, encoding) is vocab-scale. The vocabulary rides every
segmentation pass as a broadcast map, so documents are never shuffled.

Algorithm (hard-EM simplification of Kudo's unigram LM, chosen so every
step replays bit-for-bit on any engine):

1. **Seed**: every substring of length 1..``max_piece_len`` of every
   distinct word, frequency-weighted by word count; the vocabulary is
   ALL single characters (coverage guarantee) plus the top
   ``seed_multi`` multi-character substrings by (freq desc, piece asc).
2. **EM rounds** (``em_rounds``): the E-step Viterbi-segments each
   distinct word under the current piece probabilities (hard EM — the
   standard practical simplification where the expected count of a
   piece is its count in the single best segmentation) and accumulates
   word-count-weighted piece usage; the M-step prunes to all singles
   plus the top ``keep_multi`` multi-char pieces by (usage desc, piece
   asc) — the hard-EM analog of SentencePiece's expected-count /
   likelihood-loss pruning, which the Viterbi usage determines directly
   at these vocab scales — and re-estimates probabilities with add-one
   smoothing ``p = (usage + 1) / (total_usage + |V|)`` so every kept
   piece stays reachable.

Determinism discipline (why there is **no logarithm anywhere**): the
Viterbi DP maximizes the PRODUCT of piece probabilities rather than the
usual sum of log-probs — the identical argmax, but every operand is a
correctly-rounded double division of exact integers and every
multiplication happens in the same fixed DP order on both engines, so
the scores are bit-identical cross-engine by IEEE-754 semantics alone,
where ``ln``'s last-ulp drift between libm implementations would make
near-tie argmaxes engine-dependent. Products of word-length many
probabilities stay far above double underflow for any sane word length
(even p = 1e-9 per piece supports ~340 pieces); the ``words()``
splitter's tokens are orders of magnitude shorter.

Tie-breaks are total: candidate segmentations sort by (probability
desc, split point asc — i.e. the longest final piece wins), both
engines comparing identical doubles. A piece absent from the vocabulary
scores probability 0 (its candidates sort after every reachable path;
single-character coverage keeps at least one positive path for any
training word), so even the degenerate ties are broken identically.

The DuckDB oracle replays seeding and pruning as plain SQL and each
Viterbi pass as a recursive CTE that carries the per-word best-prefix
list — generated round by round like the BPE oracle
(``plans/corpus_queries._bpe_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rounds import Rounds
from .text import words, words_sql


def word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): the distinct-word frequency table — the one
    corpus-scale shuffle; everything downstream is vocab-scale."""
    tok = df.select(F.explode(words(text_col)).alias("word"))
    return tok.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


def seed_pieces(
    wordtab: DataFrame, max_piece_len: int = 4, seed_multi: int = 60
) -> DataFrame:
    """Seed vocabulary (piece, freq): all single characters plus the
    top ``seed_multi`` multi-character substrings of length <=
    ``max_piece_len`` by word-count-weighted substring frequency."""
    subs = (
        wordtab.select(
            "cnt",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(word)), s ->"
                    f" transform(sequence(s, least(s + {max_piece_len} - 1,"
                    " length(word))), e -> substring(word, s, e - s + 1))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("freq"))
    )
    singles = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") >= 2)
        .orderBy(F.desc("freq"), "piece")
        .limit(seed_multi)
    )
    return singles.unionByName(multi)


def _prob_map(vocab: DataFrame, prob_col: str = "prob") -> DataFrame:
    """Collapse a (piece, prob) vocabulary to a single broadcastable
    map row — the same one-array-row shape as ``bpe_encode``'s merge
    table, so segmentation never shuffles the word/document side."""
    return vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.col(prob_col).alias("p")))
        ).alias("_vm")
    )


def _dp_expr(word_ref: str, max_piece_len: int, byte_fallback: bool = False) -> str:
    """The Viterbi DP as a SQL expression over the word referenced by
    ``word_ref`` (a column name or lambda variable) and the broadcast
    vocab map ``_vm`` — shared by :func:`viterbi_segment` (per distinct
    word) and :func:`unigram_encode` (inline per word occurrence, the
    ``bpe_encode`` shape).

    ``byte_fallback`` changes the out-of-vocabulary floor from 0.0 to
    1.0 for SINGLE-character pieces only (multi-character unknown
    pieces stay 0). Why 1.0 is both safe and optimal: a character
    unseen in training appears in NO vocabulary piece, so every
    segmentation of the word must cover it either as an isolated
    single (the floor) or inside a longer zero-probability piece —
    every nonzero path therefore pays the floor exactly once per
    unseen character, making the floor's VALUE ordering-invariant
    among nonzero paths; 1.0 keeps products in the normal IEEE range
    at any word length (an epsilon floor would gradually underflow on
    unseen-character runs). The result: unseen characters are isolated
    into single-char pieces (nonzero beats zero) while the known
    remainder segments exactly as without fallback — the SentencePiece
    byte-fallback segmentation discipline."""
    L = int(max_piece_len)
    w = word_ref
    floor = (
        "if(j = i, cast(1.0 as double), cast(0.0 as double))"
        if byte_fallback
        else "cast(0.0 as double)"
    )
    return f"""
      aggregate(
        sequence(1, length({w})),
        array(struct(cast(-1.0 as double) as np, 0 as j, cast(array() as array<string>) as path)),
        (acc, i) -> acc || array(
          element_at(array_sort(
            transform(sequence(greatest(1, i - {L} + 1), i),
              j -> struct(
                element_at(acc, j).np * coalesce(try_element_at(_vm, substring({w}, j, i - j + 1)), {floor}) as np,
                j as j,
                element_at(acc, j).path || array(substring({w}, j, i - j + 1)) as path))), 1)),
        acc -> element_at(acc, length({w}) + 1))
    """


def viterbi_segment(
    wordtab: DataFrame, vocab: DataFrame, max_piece_len: int = 4
) -> DataFrame:
    """Segment every distinct word under (piece, prob) ``vocab``:
    returns (word, cnt, pieces array<string>, n_pieces). One broadcast
    of the vocab map + a codegen'd SQL ``aggregate`` fold per word —
    map-side only, no shuffle of the word table.

    The DP maximizes the probability product (see module docstring):
    the accumulator holds, per prefix length, the best (negated
    product, split point, piece path); candidates at position ``i``
    try every split ``j`` within ``max_piece_len`` and pick the
    (product desc, j asc) winner via one struct sort — bit-replayable
    on any engine because all arithmetic is IEEE double products of
    exact integer ratios in a fixed order."""
    return (
        wordtab.crossJoin(F.broadcast(_prob_map(vocab)))
        .select("word", "cnt", F.expr(_dp_expr("word", max_piece_len)).alias("_best"))
        .select(
            "word",
            "cnt",
            F.col("_best.path").alias("pieces"),
            F.size("_best.path").cast("long").alias("n_pieces"),
        )
    )


def _em_round(
    wordtab: DataFrame, vocab: DataFrame, max_piece_len: int, keep_multi: int
) -> DataFrame:
    """One hard-EM round: Viterbi usage under the current probs, prune
    to singles + top ``keep_multi`` multi-char pieces, re-estimate
    add-one-smoothed probabilities. Returns (piece, usage, prob)."""
    seg = viterbi_segment(wordtab, vocab, max_piece_len)
    usage = (
        seg.select(F.explode("pieces").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("usage"))
    )
    counted = (
        vocab.select("piece")
        .join(usage, "piece", "left")
        .select("piece", F.coalesce("usage", F.lit(0)).cast("long").alias("usage"))
    )
    singles = counted.filter(F.length("piece") == 1)
    multi = (
        counted.filter(F.length("piece") >= 2)
        .orderBy(F.desc("usage"), "piece")
        .limit(keep_multi)
    )
    kept = singles.unionByName(multi)
    tot = kept.agg(
        F.sum("usage").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        "piece",
        "usage",
        (
            (F.col("usage") + F.lit(1)).cast("double")
            / (F.col("_tot") + F.col("_n")).cast("double")
        ).alias("prob"),
    )


def unigram_train(
    df: DataFrame,
    em_rounds: int = 2,
    max_piece_len: int = 4,
    seed_multi: int = 60,
    keep_multi: int = 40,
    text_col: str = "text",
) -> DataFrame:
    """Train a unigram-LM vocabulary; returns (piece, n_chars, usage,
    prob) — the final vocabulary with each piece's last-round Viterbi
    usage and smoothed probability. Per-round state is vocab-sized and
    the rounds run on the :class:`rounds.Rounds` driver, so the plan
    stays O(1) in the round count. ``em_rounds`` must be >= 1: the usage
    column IS an EM product (the seed vocabulary has only substring
    frequencies), so a zero-round "training" has no result of the
    promised shape."""
    return unigram_train_from_words(
        word_table(df, text_col),
        em_rounds=em_rounds,
        max_piece_len=max_piece_len,
        seed_multi=seed_multi,
        keep_multi=keep_multi,
    )


def unigram_train_from_words(
    wordtab: DataFrame,
    em_rounds: int = 2,
    max_piece_len: int = 4,
    seed_multi: int = 60,
    keep_multi: int = 40,
) -> DataFrame:
    """Train from an existing (word, cnt) frequency table — the entry
    point a streaming corpus collector uses (``word_count_sink`` keeps
    the table as mergeable state; training never needs the raw text
    again). ``unigram_train`` delegates here after its own word pass."""
    if em_rounds < 1:
        raise ValueError(f"em_rounds must be >= 1, got {em_rounds}")
    loop = Rounds()
    wordtab = loop.stationary(wordtab)
    seeds = seed_pieces(wordtab, max_piece_len, seed_multi)
    stot = seeds.agg(F.sum("freq").alias("_tot"))
    vocab = (
        seeds.crossJoin(F.broadcast(stot))
        .select(
            "piece",
            (F.col("freq").cast("double") / F.col("_tot").cast("double")).alias(
                "prob"
            ),
        )
        .localCheckpoint(eager=False)
    )
    vocab = loop.run(
        vocab, lambda v: _em_round(wordtab, v, max_piece_len, keep_multi), em_rounds
    )
    return vocab.select(
        "piece",
        F.length("piece").cast("long").alias("n_chars"),
        "usage",
        "prob",
    )


def unigram_word_fertility(
    df: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token/word counts under a trained unigram vocab:
    (id, n_wrds, n_toks). Documents collapse to per-doc distinct-word
    multiplicities and join the per-WORD Viterbi piece counts — the
    segmentation runs once per distinct word, never per occurrence, and
    no per-token rows are ever materialized (the 100 TB shape: both
    sides of the join are word-scale)."""
    dwk = (
        df.select(F.col(id_col), F.explode(words(text_col)).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    np_ = viterbi_segment(
        dwk.groupBy("word").agg(F.count(F.lit(1)).alias("cnt")),
        vocab,
        max_piece_len,
    ).select("word", "n_pieces")
    return (
        dwk.join(np_, "word")
        .groupBy(id_col)
        .agg(
            F.sum("k").cast("long").alias("n_wrds"),
            F.sum(F.col("k") * F.col("n_pieces")).cast("long").alias("n_toks"),
        )
    )


def byte_tokens_sql(piece_ref: str) -> str:
    """SQL fragment expanding the string referenced by ``piece_ref``
    into its SentencePiece-style UTF-8 byte tokens ``<0xNN>``
    (uppercase hex, one token per byte) as ``array<string>``. The hex
    string is bound once via the one-element-transform trick (see
    ``text._bind1``) so the encode runs once per piece."""
    return (
        f"element_at(transform(array(hex(encode({piece_ref}, 'UTF-8'))), hx ->"
        " transform(sequence(1, length(hx) div 2),"
        " b -> concat('<0x', substring(hx, 2 * b - 1, 2), '>'))), 1)"
    )


def unigram_encode(
    df: DataFrame,
    vocab: DataFrame,
    max_piece_len: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_fallback: bool = False,
) -> DataFrame:
    """Tokenize documents with a trained vocabulary: (id, pos, token)
    rows — the API twin of ``bpe.bpe_encode``, with an EXPLICIT token
    position instead of relying on row-order stability (round-11
    review). Exactly ``bpe_encode``'s execution shape: the vocabulary
    map is broadcast and the Viterbi DP runs INLINE per word occurrence
    inside one in-row flatten, so the document side is never joined,
    shuffled, or sorted — the whole encode is a single map-side
    projection plus the final explode, and the token sequence is
    ordered by construction (``pos`` indexes the flattened pieces in
    document word order).

    ``byte_fallback=True`` makes the encoder total — no input is ever
    out-of-vocabulary (VERDICT r11 #5, the SentencePiece
    ``byte_fallback`` discipline): the Viterbi floor isolates each
    character unseen in training into its own single-char piece (see
    :func:`_dp_expr` — the floor value is ordering-invariant, so known
    spans segment exactly as without fallback), and a post-DP
    transform emits every out-of-vocabulary piece as its UTF-8 byte
    tokens ``<0xNN>``. Coverage never depends on the floor: the byte
    transform catches EVERY piece absent from the vocabulary, so even
    degenerate tie-broken paths decode losslessly. The default stays
    the strict mode (unknown pieces pass through untagged) because the
    registered encode queries predate the knob and pin those results."""
    tokens = (
        f"flatten(transform({words_sql(text_col)},"
        f" w -> ({_dp_expr('w', max_piece_len, byte_fallback)}).path))"
    )
    if byte_fallback:
        tokens = (
            f"flatten(transform({tokens}, pc ->"
            " CASE WHEN try_element_at(_vm, pc) IS NOT NULL THEN array(pc)"
            f" ELSE {byte_tokens_sql('pc')} END))"
        )
    return (
        df.crossJoin(F.broadcast(_prob_map(vocab)))
        .select(F.col(id_col), F.posexplode(F.expr(tokens)).alias("pos", "token"))
        .select(id_col, F.col("pos").cast("long").alias("pos"), "token")
    )
