"""Distributed suffix-array exact-substring analysis (VERDICT r12 #8
— the full Lee et al. 2022 formulation the fixed-k positional-gram
census approximates; reference-free extension, no reference analog).

Lee et al. ("Deduplicating Training Data Makes Language Models
Better") build a suffix array over the tokenized corpus and mark every
maximal substring that occurs twice or more. The DataFrame-native
construction here is PREFIX DOUBLING (Manber-Myers, the standard
distributed/external SA algorithm): round t assigns every suffix a
dense rank of its first 2^t tokens by ranking the PAIR of
half-prefix ranks from round t-1 — log(max doc length) rounds, each
one corpus-scale rank (the two-phase ``relational.global_rank``,
never a single-task sort) plus one self-join at offset 2^(t-1).
Suffixes never cross document boundaries (a training corpus's
documents are independent), so the doubling depth is bounded by the
LONGEST DOCUMENT, not the corpus: 2^rounds >= max doc tokens is the
exactness condition, and extra rounds are idempotent (dense-ranking
already-distinct values is the identity permutation).

What the suffix order buys over the k-gram census: each position's
LONGEST match elsewhere in the corpus. The longest common prefix of a
suffix with ANY other suffix is achieved at one of its two neighbors
in suffix order (the classic SA/LCP property), so one
adjacency-self-join plus a binary LCP DESCENT over the retained rank
tables — add 2^t to the accumulator when the round-t ranks at the
current offset agree, t from rounds down to 0 — yields the exact
per-position duplicate length in log(max doc length) more joins. The
fixed-k census can only answer "is there a duplicate of length >= k";
the suffix array answers "how long is the longest duplicate", at any
length, with no window parameter.

Scale shape: every round shuffles (corpus positions) rows on integer
keys; rank tables are retained for the descent (the log-factor space
cost Lee et al. pay in suffix-array form) behind deferred
``localCheckpoint`` barriers — each table feeds its successor round
AND two descent branches, the multi-consumer discipline documented at
``graph.count_triangles``. Equal suffixes (duplicate document tails)
tie at every depth and stay tied; adjacency breaks ties by (doc, pos)
and the descent credits them their full common length, which is
exactly right — they ARE duplicates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import words

#: Largest prime below 2**63 — modulus for the hashed-token round-0
#: keys. Distinct from dedup.HASH_P (2**31-1): suffix equality classes
#: must stay exact, and a 31-bit space yields ~V**2/2**32 expected
#: token-id collisions (millions at a 10**8-type vocabulary), while
#: 63 bits keeps the expectation below 10**-2 at the same scale — the
#: same exactness/width tradeoff `near_dup_minhash_hashed` documents,
#: settled one prime larger because the SA output is exact, not
#: sketched.
HASH_P63 = 9_223_372_036_854_775_783


def token_positions(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exploded token-position frame ``(d, n, p, tok)`` with 1-based
    dense positions — the shared round-0 input of both SA modes (the
    explode has three consumers inside one build and two builds per
    corpus; callers materialize it once)."""
    return (
        df.select(F.col(id_col).alias("d"), words(text_col).alias("_arr"))
        .filter(F.size("_arr") >= 1)
        .select(
            "d",
            F.size("_arr").cast("long").alias("n"),
            F.posexplode("_arr").alias("p0", "tok"),
        )
        .select("d", "n", (F.col("p0") + 1).alias("p"), "tok")
    )


def _dense_rank(
    df: DataFrame, keys: list[str], out: str, bucket=None
) -> DataFrame:
    """Dense rank of ``keys`` under their lexicographic order —
    equality classes AND order are what the doubling needs; both are
    engine-portable for integer/ASCII keys. Computed directly on the
    full table with :func:`relational.global_dense_rank` (optimization
    round 15): the previous ``distinct + global_rank + join-back``
    paid three corpus-scale exchanges per doubling round where the
    direct dense rank pays one (values identical by construction).
    ``bucket`` forwards an explicit monotone bucket expression so the
    doubling rounds skip the per-round min/max derivation pass
    (optimization round 16 — ranks are dense 1..n by construction, so
    the caller knows the key range without a job)."""
    from .relational import global_dense_rank

    return global_dense_rank(df, keys, out, bucket=bucket)


def suffix_dup_lengths(
    df: DataFrame,
    rounds: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed_tokens: bool = False,
    pos: DataFrame | None = None,
) -> DataFrame:
    """Per-position longest-duplicate lengths via prefix doubling:
    ``(id_col, p, n_tokens, dup_len)`` where ``dup_len`` is the exact
    length of the longest token substring starting at 1-based position
    ``p`` that also occurs somewhere else in the corpus (another
    position of any document, including this one).

    ``rounds=None`` (default, VERDICT r13 #3) DERIVES the doubling
    depth from the data — one scalar max-token-count aggregate, then
    ``ceil(log2(max_n))`` rounds, which is the exactness condition
    ``2**rounds >= max doc tokens`` by construction at ANY corpus
    scale (the round-12 pinned ``rounds=7`` held only while documents
    stayed <= 128 tokens). Each round additionally EARLY-EXITS once
    the rank table is fully distinct (``max(rank) == row count`` — a
    per-round scalar over the round's deferred checkpoint, the
    ``connected_components`` convergence pattern): distinct round-t
    ranks mean no two suffixes share a ``2**t``-token prefix, so the
    suffix order is already total and every further doubling is the
    identity permutation. An explicit ``rounds`` replays a fixed
    depth (the oracle-parity path — extra rounds are idempotent).

    ``hashed_tokens=True`` (production mode, VERDICT r13 #7): round 0
    keys tokens by ``pmod(xxhash64(tok), P63) + 1`` MAP-SIDE instead
    of dense-ranking the token strings — the only round that shuffles
    strings disappears entirely (no distinct + rank + join-back over
    corpus positions), and every remaining exchange carries 8-byte
    ints. Correct because a hash is an injective-modulo-collision
    RELABELING of the alphabet, and the SA/LCP neighbor property
    (the longest match of a suffix is adjacent in suffix order) holds
    under ANY total alphabet order — lexicographic order in the
    relabeled alphabet still makes suffixes sharing long prefixes
    contiguous; ``dup_len`` is an LCP maximum, invariant to the
    relabeling. Collision risk is ~V**2/2**64 (see ``HASH_P63``); the
    replayable rank mode stays the oracle path, with a pytest parity
    pin at the driver's sf (the ``near_dup_minhash_hashed``
    discipline). The ``+1`` keeps 0 free as the past-document-end
    sentinel in the pair ranks.

    ``pos`` injects an already-materialized token-position frame
    ``(d, n, p, tok)`` (see :func:`token_positions`) so the rank-mode
    and hashed-mode builds of the same corpus share ONE word explode
    per session (optimization round 15) — the caller guarantees
    materialization (cache/checkpoint/staging table)."""
    if pos is None:
        pos = token_positions(
            df, text_col=text_col, id_col=id_col
        ).localCheckpoint(eager=False)
    derive = rounds is None
    # ONE stats pass serves both the doubling-depth derivation and the
    # explicit rank-bucket widths below (optimization round 16): every
    # round's dense ranks are 1..R with R <= total corpus positions, so
    # the bucket width can be fixed up front instead of re-derived by a
    # min/max pass over the pair table INSIDE every doubling round
    # (derived_width_bucket's stats aggregate — one full corpus read
    # per round, gone).
    stats = pos.agg(
        F.max("n").alias("_mx"), F.count(F.lit(1)).alias("_ct")
    ).first()
    max_n = stats["_mx"] or 1
    n_total = stats["_ct"] or 1
    if derive:
        rounds = max(0, math.ceil(math.log2(max_n))) if max_n > 1 else 0
    # dense ranks are 1..R (R <= n_total): ~65k uniform buckets, the
    # same sizing derived_width_bucket would compute, without the pass
    w_dense = max(4096, -(-int(n_total) // 65536))
    dense_bucket = F.floor((F.col("r") - 1) / F.lit(w_dense))
    # hashed round-1 keys are uniform in [1, HASH_P63]
    w_hash = HASH_P63 // 65536 + 1
    hash_bucket = F.floor((F.col("r") - 1) / F.lit(w_hash))
    if hashed_tokens:
        # round 0 map-side: hash-relabeled alphabet, zero exchange
        r0 = pos.select(
            "d", "n", "p",
            (F.pmod(F.xxhash64("tok"), F.lit(HASH_P63)) + 1).alias("r"),
        )
    else:
        # round 0: rank of the single token at p (span 1). Ranked over
        # the DISTINCT vocabulary and broadcast-joined back to the
        # positions (optimization round 16, guide §2.3 — shuffle keys,
        # not payloads): round 0 is the one round with massive key
        # duplication (corpus positions >> vocabulary), so the direct
        # corpus-scale string exchange collapses to a vocab-scale
        # distinct + rank, and the corpus rows never shuffle at all.
        # Dense rank over distinct keys == dense rank over the full
        # table by definition. The broadcast is vocab-scale (the same
        # size class as the BPE merge/alphabet artifacts); at an
        # extreme vocabulary scale use hashed_tokens=True, the
        # production mode, which has no round-0 rank at all.
        vocab = _dense_rank(pos.select("tok").distinct(), ["tok"], "r")
        r0 = pos.join(F.broadcast(vocab), on="tok").select("d", "n", "p", "r")
    from pyspark.sql import Window

    ranks = [r0.localCheckpoint(eager=False)]
    for t in range(1, rounds + 1):
        half = 1 << (t - 1)
        prev = ranks[-1]
        # positions are DENSE 1..n within a document (posexplode + 1),
        # so the offset lookup r2[p] = r[p + half] is lead(r, half)
        # over a per-doc window — one exchange on d instead of the
        # two-sided (d, p) self-join (optimization round 15; the
        # window task is bounded by the LONGEST DOCUMENT, the same
        # bound the doubling depth already rests on). NULL past the
        # document end coalesces to the 0 sentinel exactly like the
        # old left join's missing rows.
        w_doc = Window.partitionBy("d").orderBy("p")
        # with the explicit bucket and the counts-from-ranks fusion
        # (optimization round 16) _dense_rank consumes this ONCE (the
        # rank window) — the lead flows straight into the rank
        # exchange, no intermediate checkpoint needed
        paired = prev.select(
            "d", "n", "p", "r",
            F.coalesce(F.lead("r", half).over(w_doc), F.lit(0)).alias("r2"),
        )
        ranks.append(
            # scratch name must avoid global_rank's reserved internals
            # ("_rn" et al. — the guard only checks INPUT columns).
            # Round 1's hashed-mode keys span [1, HASH_P63]; every
            # later round's are dense 1..R from the previous rank.
            _dense_rank(
                paired, ["r", "r2"], "srnk",
                bucket=hash_bucket if (hashed_tokens and t == 1) else dense_bucket,
            )
            .select("d", "n", "p", F.col("srnk").alias("r"))
            .localCheckpoint(eager=False)
        )
        if derive and 1 < t < rounds:
            # convergence probe over THIS round's deferred checkpoint
            # (materializes work the next consumer reuses — the same
            # accounting as connected_components' per-round count):
            # dense ranks are 1..max, so max == rows <=> all distinct
            # <=> the suffix order is total; stop doubling. Skipped on
            # the FINAL round (a break there is identical to the loop
            # ending — the probe job was pure overhead) and on round 1
            # (a depth-1-converged corpus is duplicate-free at every
            # span; the probe then fires at round 2, one idempotent
            # round later — optimization round 15). NOTE (measured):
            # on a corpus with any fully-duplicated suffix pair the
            # ranks NEVER go fully distinct and the probe never fires
            # — the derived depth bound is what actually terminates.
            stat = ranks[-1].agg(
                F.max("r").alias("mx"), F.count(F.lit(1)).alias("ct")
            ).first()
            if stat["mx"] == stat["ct"]:
                break
    rounds = len(ranks) - 1  # descent depth == rounds actually run
    # adjacency in suffix order: (final rank, d, p) totally orders the
    # suffixes (ties = genuinely equal suffixes, broken by position)
    from .relational import global_rank

    # same explicit bucket as the rounds, so the adjacency rank skips
    # its min/max pass too: final ranks are dense 1..n_total — unless
    # no doubling round ran in hashed mode, where they are still the
    # round-0 hash keys spread over [1, HASH_P63] (dense_bucket's
    # width would put about one row in each bucket)
    order = global_rank(
        ranks[-1],
        ["r", "d", "p"],
        "s",
        bucket=hash_bucket if (hashed_tokens and rounds == 0) else dense_bucket,
    ).localCheckpoint(eager=False)
    succ = order.select(
        (F.col("s") - 1).alias("s"),
        F.col("d").alias("d2"),
        F.col("p").alias("p2"),
        F.col("n").alias("n2"),
    )
    pairs = order.join(succ, on="s", how="inner").select(
        "d", "p", "n", "d2", "p2", "n2", F.lit(0).cast("long").alias("acc")
    )
    # binary LCP descent over the retained rank tables, t = rounds..0:
    # add 2^t when both suffixes still have a round-t rank at the
    # current offset and the ranks agree (a missing rank means the
    # suffix ended — never a match)
    for t in range(rounds, -1, -1):
        span = 1 << t
        rt = ranks[t]
        a = rt.select(
            F.col("d"), F.col("p").alias("_pa"), F.col("r").alias("_ra")
        )
        b = rt.select(
            F.col("d").alias("d2"), F.col("p").alias("_pb"), F.col("r").alias("_rb")
        )
        pairs = (
            pairs.withColumn("_pa", F.col("p") + F.col("acc"))
            .withColumn("_pb", F.col("p2") + F.col("acc"))
            .join(a, on=["d", "_pa"], how="left")
            .join(b, on=["d2", "_pb"], how="left")
            .withColumn(
                "acc",
                F.col("acc")
                + F.when(
                    F.col("_ra").isNotNull()
                    & F.col("_rb").isNotNull()
                    & (F.col("_ra") == F.col("_rb")),
                    F.lit(span),
                ).otherwise(F.lit(0)),
            )
            .drop("_pa", "_pb", "_ra", "_rb")
        )
    # the LCP against a neighbor cannot exceed either remaining suffix
    # (the descent guarantees this via missing ranks; the explicit
    # least() documents the invariant and guards rounds-overshoot)
    lcp = pairs.select(
        "d",
        "p",
        "d2",
        "p2",
        F.least(
            F.col("acc"), F.col("n") - F.col("p") + 1, F.col("n2") - F.col("p2") + 1
        ).alias("lcp"),
    ).localCheckpoint(eager=False)
    with_succ = lcp.select("d", "p", F.col("lcp").alias("dl"))
    with_pred = lcp.select(
        F.col("d2").alias("d"), F.col("p2").alias("p"), F.col("lcp").alias("dl")
    )
    best = (
        with_succ.unionByName(with_pred)
        .groupBy("d", "p")
        .agg(F.max("dl").cast("long").alias("dup_len"))
    )
    return (
        pos.select("d", "n", "p")
        .join(best, on=["d", "p"], how="left")
        .select(
            F.col("d").alias(id_col),
            F.col("p"),
            F.col("n").alias("n_tokens"),
            F.coalesce("dup_len", F.lit(0)).cast("long").alias("dup_len"),
        )
    )


def suffix_dup_census(
    dup_lengths: DataFrame,
    threshold: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document census over :func:`suffix_dup_lengths` rows at a
    length threshold: ``(id_col, n_tokens, max_dup_len, dup_tokens,
    dup_fraction)`` where ``dup_tokens`` is the interval-union
    coverage of ``[p, p + threshold)`` over positions with ``dup_len
    >= threshold`` — by the maximal-substring/run-of-k-grams identity
    this EQUALS ``corpus.substring_dup_census(k=threshold)``'s
    coverage (the cross-validating differential the tests pin), while
    ``max_dup_len`` is the answer the fixed-k census cannot give."""
    from pyspark.sql.window import Window

    dup = dup_lengths.filter(F.col("dup_len") >= threshold).withColumn(
        "_e", F.col("p") + threshold
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        dup.withColumn(
            "_cov",
            F.greatest(
                F.lit(0),
                F.col("_e")
                - F.greatest(
                    F.coalesce(F.max("_e").over(w_prev), F.lit(0)), F.col("p")
                ),
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("_cov").cast("long").alias("dup_tokens"))
    )
    per_doc = dup_lengths.groupBy(id_col).agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.max("dup_len").cast("long").alias("max_dup_len"),
    )
    return per_doc.join(covered, on=id_col, how="left").select(
        id_col,
        "n_tokens",
        "max_dup_len",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_fraction"),
    )


def sa_substring_dedup(
    df: DataFrame,
    min_len: int = 5,
    rounds: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed_tokens: bool = False,
    dup_lengths: DataFrame | None = None,
) -> DataFrame:
    """SA-driven exact-substring REMOVAL at arbitrary span length
    (VERDICT r13 #4 — the action step Lee et al. 2022 actually run):
    remove all-but-one occurrence of every duplicated token span of
    length >= ``min_len`` — of ANY length, where the fixed-k pass
    (:func:`corpus.substring_dedup`) is blind to duplicated spans
    SHORTER than its gram width ``k``.

    Composition: :func:`suffix_dup_lengths` marks every position ``p``
    whose longest duplicate ``dup_len[p] >= min_len`` as a duplicated-
    span occurrence covering ``[p, p + dup_len[p])`` (the FULL maximal
    match, not a fixed window); the all-but-one policy is inherited
    verbatim from ``corpus.substring_dedup`` — occurrences group by
    their leading ``min_len``-gram (map-side ``positional_grams``
    content, the same family key the fixed-k pass canonicalizes on),
    the corpus-wide first ``(doc, position)`` per family is CANONICAL,
    and a position survives unless covered ONLY by non-canonical
    occurrences. The policy is keep-BIASED, not keep-guaranteed:
    families key on the leading ``min_len``-gram (inherited from the
    fixed-k pass's gram-keyed canonicals), so two DISTINCT duplicated
    spans sharing a leading gram compete for one canonical slot and
    the later span's first copy can lose its leading tokens — the
    same collision semantics as ``corpus.substring_dedup``, which the
    oracle and the brute-force property test replay exactly. When
    every duplicated span has length
    exactly ``k == min_len``, occurrence set, family key, coverage,
    and tie order all coincide with the fixed-k pass — the equality a
    pytest pins — while a shorter threshold removes spans the fixed-k
    pass structurally misses.

    Returns ``(id_col, n_tokens, n_removed, cleaned_text)`` for every
    doc, the fixed-k pass's schema. Scale shape: the SA rounds (see
    :func:`suffix_dup_lengths`), one map-side gram attach, a
    per-family ``min(struct(doc, pos))`` canonical pick (VERDICT r14
    #5: a mergeable partial aggregate — map-side combine collapses a
    pathologically hot duplicated-span family before the shuffle,
    where the previous per-gram ``row_number`` window serialized the
    whole family onto one task) plus one join-back on the family key,
    and a per-occurrence span explode bounded by actual duplicate
    mass. ``dup_lengths`` injects an already-materialized
    :func:`suffix_dup_lengths` frame (the census and the removal pass
    share one SA build per session — the S7 cache discipline)."""
    from .corpus import positional_grams

    dl = dup_lengths if dup_lengths is not None else suffix_dup_lengths(
        df, rounds=rounds, text_col=text_col, id_col=id_col,
        hashed_tokens=hashed_tokens,
    )
    starts = dl.filter(F.col("dup_len") >= min_len).select(
        F.col(id_col), F.col("p"), F.col("dup_len")
    )
    # dup_len >= min_len implies p <= n - min_len + 1, so the leading
    # min_len-gram always exists — the inner join is total over starts
    fams = positional_grams(
        df, k=min_len, text_col=text_col, id_col=id_col
    ).select(id_col, F.col("s").alias("p"), "gram")
    with_gram = starts.join(fams, on=[id_col, "p"], how="inner").localCheckpoint(
        eager=False
    )  # two consumers: the canonical-min aggregate and the join-back
    # corpus-wide first (doc, position) per family as a MIN aggregate
    # over a (doc, pos) struct: partial (map-side) aggregation merges,
    # so one hot family never serializes onto a single task — the
    # hot-key-safe equivalent of a per-gram row_number window (bit-
    # identical: struct min IS the (id_col, p) lexicographic first,
    # and positional grams make (gram, doc, pos) unique)
    canon = with_gram.groupBy("gram").agg(
        F.min(F.struct(F.col(id_col).alias("cd"), F.col("p").alias("cp"))).alias("_c")
    )
    occ = with_gram.join(canon, on="gram").withColumn(
        "_canon",
        (F.col("_c.cd") == F.col(id_col)) & (F.col("_c.cp") == F.col("p")),
    )
    cover = (
        occ.select(
            id_col,
            "_canon",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + F.col("dup_len") - 1)
            ).alias("p"),
        )
        .groupBy(id_col, "p")
        .agg(F.max(F.col("_canon").cast("int")).alias("_any_canon"))
        .withColumn("_removed", F.col("_any_canon") == 0)
        .select(id_col, "p", "_removed")
    )
    base = df.select(F.col(id_col), words(text_col).alias("_arr")).filter(
        F.size("_arr") > 0
    )
    tokens = base.select(
        id_col, F.posexplode("_arr").alias("p0", "token")
    ).withColumn("p", F.col("p0") + 1)
    kept = tokens.join(cover, on=[id_col, "p"], how="left").withColumn(
        "_keep", ~F.coalesce(F.col("_removed"), F.lit(False))
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_keep"), 0).otherwise(1))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct(F.col("p"), F.col("token")))
                    )
                ),
                lambda x: x["token"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
