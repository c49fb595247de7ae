"""Deduplication operators for LLM-scale corpus hygiene: exact dedup,
MinHash + banded-LSH near-dup detection, SimHash fingerprints, and
n-gram Jaccard verification (brief requirement; no reference analog —
the reference dedups only dimension natural keys, A7).

Design constraints:

1. **Never all-pairs.** Candidate generation is a banded-LSH equi-join:
   docs collide only within (band_id, band_key) buckets, so the join is
   a plain shuffle join on the band key — the classic scalable shape.
   Exact Jaccard is computed *only* for LSH candidates.
2. **Engine-portable hashing.** Min-hash permutations are universal
   hashes ``(a_i * tid + b_i) mod P`` over dictionary-assigned shingle
   ids — plain int64 arithmetic any SQL engine reproduces bit-for-bit,
   so the DuckDB oracle replays the *whole* pipeline (signatures, bands,
   candidates, verification). A pair the LSH config misses is missed
   identically by both engines — the differential never depends on LSH
   recall.

Scale note on the dictionary: rank-mode shingle ids equal
``row_number() OVER (ORDER BY shingle)`` but are computed by the
deterministic two-phase rank (``relational.global_rank``) — no
single-task sort anywhere; the mode exists for cross-engine oracle
determinism. At production scale prefer ``hashed=True``
(``tid = pmod(xxhash64(shingle), P)``): same downstream algebra, zero
shuffle, collisions statistically irrelevant for LSH banding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import relational
from .rounds import Rounds

HASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime modulus)

# Fixed universal-hash coefficients (k=16 permutations). Literal values
# so Spark code and oracle SQL share them verbatim.
MINHASH_A = [1103515245 + 12345 * i for i in range(16)]
MINHASH_B = [7 + 1013904223 * i for i in range(16)]


def word_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct n-word shingles per document: lowercase, whitespace
    split, sliding windows of n words joined by single spaces. Documents
    shorter than n words produce no shingles."""
    arr = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
    shingle_expr = (
        f"transform(sequence(1, size(_arr) - {n - 1}), "
        f"i -> concat_ws(' ', {', '.join(f'element_at(_arr, i + {j})' for j in range(n))}))"
    )
    return (
        df.select(F.col(id_col), arr.alias("_arr"))
        .filter(F.size("_arr") >= n)
        .select(
            id_col,
            F.explode(F.array_distinct(F.expr(shingle_expr))).alias("shingle"),
        )
    )


def build_dictionary(
    items: DataFrame, col: str, id_name: str = "tid", hashed: bool = False
) -> DataFrame:
    """Deterministic ids for distinct values, two modes:

    ``hashed=False`` (oracle-replay mode, default): dense ids identical
    to ``row_number() OVER (ORDER BY value)`` (what the oracle SQL
    runs), but computed WITHOUT a global single-task sort — delegates
    to :func:`relational.global_rank` (pure value-derived buckets,
    parallel within-bucket rank, cumulative-offset merge; see its
    docstring for why the buckets must be a deterministic function of
    the value and never a sampled range partitioner).

    ``hashed=True`` (production-scale mode): ``tid = pmod(xxhash64
    (value), P)`` — pure map-side, no distinct, no ranking, no shuffle
    at all. Ids are sparse rather than dense, which the downstream
    min-hash algebra never cares about; 31-bit collisions over a corpus
    vocabulary are statistically irrelevant to LSH banding. Not
    DuckDB-replayable (xxhash64 is engine-specific) — the rank mode
    exists exactly for the oracle differential."""
    if hashed:
        return items.select(col).distinct().withColumn(
            id_name, F.pmod(F.xxhash64(F.col(col)), F.lit(HASH_P)).cast("long")
        )
    distinct = items.select(col).distinct()
    return relational.global_rank(distinct, [col], id_name).select(col, id_name)


def shingle_ids(
    shingles: DataFrame, hashed: bool = False, col: str = "shingle", id_col: str = "doc_id"
) -> DataFrame:
    """(doc, tid) pairs from exploded shingles. ``hashed=False`` routes
    through :func:`build_dictionary` (dense rank ids + a join back — the
    oracle-replayable path). ``hashed=True`` computes
    ``pmod(xxhash64(shingle), P)`` directly on the exploded rows: no
    dictionary, no join, no shuffle — the id assignment is entirely
    map-side, which is the production-scale path for a 100 TB corpus."""
    if hashed:
        return shingles.select(
            id_col, F.pmod(F.xxhash64(F.col(col)), F.lit(HASH_P)).cast("long").alias("tid")
        )
    dictionary = build_dictionary(shingles, col)
    return shingles.join(dictionary, on=col).select(id_col, "tid")


def minhash_signatures(doc_ids: DataFrame, k: int = 16, id_col: str = "doc_id") -> DataFrame:
    """K min-hash values per doc over its shingle-id set — one hash
    aggregate (k mins) per doc, a single shuffle on the doc id."""
    aggs = [
        F.min(((F.col("tid") % HASH_P) * MINHASH_A[i] + MINHASH_B[i]) % HASH_P).alias(f"mh{i}")
        for i in range(k)
    ]
    return doc_ids.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame, bands: int = 8, rows: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """Split each signature into ``bands`` bands of ``rows`` values;
    band key = joined values. Docs agreeing on any full band collide."""
    structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("_", *[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    return sig.select(id_col, F.explode(F.array(*structs)).alias("band")).select(
        id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_key").alias("band_key")
    )


def candidate_pairs(
    bands_df: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (a < b) doc pairs sharing any band bucket — an
    equi-join on (band_id, band_key), never a cross product.

    ``max_bucket_size`` is the hot-bucket guard for real corpora: a
    band key shared by boilerplate (cookie banners, license headers)
    collects thousands of docs, and the self-join emits |bucket|^2
    pairs — ONE hot bucket can dominate the entire candidate volume.
    Capping drops buckets larger than the threshold before the join
    (the standard production LSH mitigation; boilerplate-only overlap
    is exactly what near-dup dedup wants to ignore, and truly similar
    docs still collide in their other, rarer bands). The bucket census
    is a groupBy on the band key — same shuffle key as the join — and
    the keep-set joins back by broadcast/AQE (it is #buckets rows)."""
    if max_bucket_size is not None:
        sizes = (
            bands_df.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("_bucket_n"))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .select("band_id", "band_key")
        )
        bands_df = bands_df.join(sizes, on=["band_id", "band_key"], how="left_semi")
    left = bands_df.select(
        F.col(id_col).alias("doc_a"), "band_id", "band_key"
    )
    right = bands_df.select(
        F.col(id_col).alias("doc_b"), "band_id", "band_key"
    )
    return (
        left.join(right, on=["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def pairwise_jaccard(
    pairs: DataFrame,
    doc_items: DataFrame,
    id_col: str = "doc_id",
    item_col: str = "tid",
    assume_small_pairs: bool = True,
    include_containment: bool = False,
) -> DataFrame:
    """Exact Jaccard for given pairs via set-intersection counts:
    pairs ⋈ items(a) ⋈ items(b) on the item id (intersection), sizes
    from a per-doc count. Join work is proportional to candidate pairs ×
    shared items — LSH has already pruned the pair space.

    ``pairs`` feeds three branches of this plan (the two cand_docs
    unions and the intersection join) — callers should ``.cache()`` it
    so the candidate join isn't re-executed per branch.
    ``assume_small_pairs`` broadcasts the pair-scale structures (pairs,
    candidate-doc set, candidate sizes) into every join — right whenever
    the LSH threshold keeps candidates ≪ corpus (the normal regime);
    pass False for adversarial corpora where candidates are fact-scale
    and let AQE pick the join strategy at runtime."""
    maybe_small = F.broadcast if assume_small_pairs else (lambda df: df)
    # score only docs that appear in some pair: the candidate doc set is
    # tiny relative to the corpus, so this semi-join prunes the two
    # intersection joins from corpus-scale to candidate-scale
    cand_docs = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    doc_items = doc_items.join(maybe_small(cand_docs), on=id_col, how="left_semi")
    sizes = doc_items.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    a_items = doc_items.select(F.col(id_col).alias("_aid"), F.col(item_col).alias("_ia"))
    b_items = doc_items.select(F.col(id_col).alias("_bid"), F.col(item_col).alias("_ib"))
    inter = (
        maybe_small(pairs).join(a_items, F.col("doc_a") == F.col("_aid"))
        .join(b_items, (F.col("doc_b") == F.col("_bid")) & (F.col("_ia") == F.col("_ib")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    out = (
        inter.join(maybe_small(sizes.withColumnsRenamed({id_col: "doc_a", "_sz": "_sza"})), on="doc_a")
        .join(maybe_small(sizes.withColumnsRenamed({id_col: "doc_b", "_sz": "_szb"})), on="doc_b")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double"),
        )
    )
    if include_containment:
        # overlap coefficient |A ∩ B| / min(|A|, |B|): the doc-in-doc
        # signal — a small document embedded in a much larger one has
        # containment ~1 while its jaccard stays low
        return out.withColumn(
            "containment",
            F.col("_inter").cast("double")
            / F.least("_sza", "_szb").cast("double"),
        ).select("doc_a", "doc_b", "containment", "jaccard")
    return out.select("doc_a", "doc_b", "jaccard")


def near_dup_pairs(
    docs: DataFrame,
    n_shingle: int = 3,
    k: int = 16,
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs with exact-Jaccard
    verification of candidates (shingle -> minhash -> band -> bucket
    join -> verify)."""
    shingles = word_shingles(docs, n=n_shingle)
    dictionary = build_dictionary(shingles, "shingle")
    doc_tids = shingles.join(dictionary, on="shingle").select("doc_id", "tid")
    sig = minhash_signatures(doc_tids, k=k)
    cands = candidate_pairs(lsh_bands(sig, bands=bands, rows=rows))
    return pairwise_jaccard(cands, doc_tids).filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation: every node's label converges to the smallest node id
    reachable from it (the component representative — dedup keeps that
    doc and drops the rest of the cluster).

    This is genuinely iterative (Pregel-style), on the
    :class:`rounds.Rounds` driver: each round is one join + aggregate,
    all distributed, and the driver's convergence probe counts the
    labels that changed, so rounds = graph diameter (near-dup clusters
    are shallow — a handful). The NODE-scale label table is broadcast,
    so a round is map-side joins over the stationary edge list + one
    node-scale aggregate exchange (optimization round 16: it was a full
    edge shuffle per round)."""
    loop = Rounds()
    # the edge list is consulted every round — materialized once inside
    # round 1's convergence count, never as an eager job up front
    sym = loop.stationary(
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    )
    nodes = sym.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).localCheckpoint(eager=False)

    def step(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(F.broadcast(labels), sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("_nbr"))
        )
        # pointer jumping: also adopt the label OF the current label
        # (labels ⋈ labels), so chains collapse in O(log diameter)
        # rounds instead of O(diameter)
        parent = labels.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        return (
            labels.join(F.broadcast(neighbor_min), labels.id == neighbor_min.src, "left")
            .join(F.broadcast(parent), labels.label == F.col("_pid"), "left")
            .select(
                "id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("_nbr"), F.col("label")),
                    F.coalesce(F.col("_plabel"), F.col("label")),
                ).alias("label"),
            )
        )

    def changed(new: DataFrame, old: DataFrame) -> DataFrame:
        return (
            new.alias("n")
            .join(F.broadcast(old.alias("o")), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
        )

    labels = loop.run(labels, step, max_iter, probe=changed)
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup, keep-first: one representative (min id) per distinct
    value tuple + the duplicate count. A hash groupBy on the content
    columns (hash the content first when values are long — see
    doc_fingerprint)."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


def simhash_band_pairs(
    sim: DataFrame,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
) -> DataFrame:
    """SimHash near-duplicate pairs: band the ``bits``-bit fingerprint
    into ``bands`` equal slices, collide docs sharing any slice (an
    equi-join on the band value — the pigeonhole guarantee: any pair
    within ``bands - 1`` bit flips shares at least one intact band),
    then verify candidates by exact Hamming distance ``bit_count(a ^
    b) <= max_hamming``. Never all-pairs — the same LSH shape as the
    minhash path. At production scale use a 64-bit simhash with 4x16-bit
    bands (65k buckets per band); 16 bits here keeps the arithmetic
    replayable in oracle SQL."""
    width = bits // bands
    mask = (1 << width) - 1
    structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col(sim_col), b * width).bitwiseAND(F.lit(mask)).alias("band_key"),
        )
        for b in range(bands)
    ]
    # distinct-LAST shape (RUNBOOK §4.4): the 8-byte signature RIDES the
    # band rows into the self-join and the Hamming verify runs inline,
    # so the only pair-scale operator is the distinct over SURVIVORS —
    # never a distinct over the full candidate set followed by two
    # pair-scale signature re-joins (the round-10 LSH reshape lesson).
    banded = sim.select(id_col, sim_col, F.explode(F.array(*structs)).alias("band")).select(
        id_col,
        sim_col,
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col(sim_col).alias("_sa"), "band_id", "band_key"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col(sim_col).alias("_sb"), "band_id", "band_key"
    )
    return (
        a.join(b, on=["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def simhash_bits(doc_ids: DataFrame, bits: int, id_col: str = "doc_id") -> DataFrame:
    """``bits``-bit SimHash (bits <= 31 — the universal hash is mod
    2^31-1) over a doc's item-id set: per bit, sum +1/-1 by the bit of
    each item's universal hash; bit set iff the sum is positive. One
    aggregate pass (``bits`` conditional sums)."""
    h = ((F.col("tid") % HASH_P) * MINHASH_A[0] + MINHASH_B[0]) % HASH_P
    sums = [
        F.sum(
            F.when(h.bitwiseAND(F.lit(1 << j)) > 0, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"_s{j}")
        for j in range(bits)
    ]
    agg = doc_ids.groupBy(id_col).agg(*sums)
    bit_terms = [
        F.when(F.col(f"_s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)) for j in range(bits)
    ]
    out = agg.withColumn("simhash", sum(bit_terms[1:], bit_terms[0]).cast("long"))
    return out.select(id_col, "simhash")


def simhash16(doc_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash (see :func:`simhash_bits`)."""
    return simhash_bits(doc_ids, 16, id_col=id_col)


def rank_ordered_tokens(
    tokens: DataFrame, id_col: str = "doc_id", token_col: str = "shingle"
) -> DataFrame:
    """The THRESHOLD-INDEPENDENT front half of every prefix-filtered
    similarity join: global rare-first token ranks (document frequency
    asc, token — via :func:`relational.global_rank`, never a
    single-task vocabulary sort) joined back onto the exploded
    (doc, token) table with per-doc set size and rank position.
    Returns ``(id_col, token, trank, dfreq, sz, pos)`` — ``dfreq``
    (the token's document frequency) rides along so consumers can
    hot-token-cap or skew-account without re-aggregating the corpus.

    Both :func:`jaccard_prefix_join` and
    :func:`containment_prefix_join` consume this unchanged — only
    their prefix-length arithmetic differs — so callers running more
    than one threshold/metric over the same corpus should compute it
    once, cache it, and pass it via their ``ordered`` parameter: the
    corpus-scale work (frequency aggregate, two-phase rank, the two
    per-doc windows) is identical across all of them."""
    tok = tokens.withColumnRenamed(token_col, "token")
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    # bucket = (dfreq, 3-char prefix): pure + monotone in (dfreq,
    # token) — the second component only refines WITHIN equal dfreq
    # values, and it splits the huge hapax (dfreq=1) bucket by token
    # prefix so the within-bucket rank parallelizes (3 chars keeps the
    # per-bucket window task bounded even at billion-token vocabularies
    # where a single first letter still holds ~10^7 hapaxes)
    ranked = relational.global_rank(
        freq,
        ["dfreq", "token"],
        "trank",
        bucket=F.struct(
            F.col("dfreq"), F.coalesce(F.substring("token", 1, 3), F.lit(""))
        ),
    )
    return (
        tok.join(ranked, on="token")
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
        .withColumn(
            "pos",
            F.row_number().over(Window.partitionBy(id_col).orderBy("trank")),
        )
        .select(id_col, "token", "trank", "dfreq", "sz", "pos")
    )


def _require_dfreq(ordered: DataFrame) -> None:
    """Shared guard for the hot-token-capped prefix joins and the skew
    census: a capped run against a stale ``ordered`` frame (built
    before round 7 added ``dfreq``) must fail with THIS message, not a
    downstream AnalysisException."""
    if "dfreq" not in ordered.columns:
        raise ValueError(
            "max_token_df requires an `ordered` frame carrying dfreq — "
            "rebuild it with rank_ordered_tokens (its output gained the "
            "column in round 7)"
        )


def jaccard_prefix_join(
    df: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
    ordered: DataFrame | None = None,
    max_token_df: int | None = None,
) -> DataFrame:
    """EXACT-threshold set-similarity self-join via prefix filtering
    (the AllPairs/PPJoin family, Bayardo et al. 2007 / Xiao et al.
    2008) — the deterministic alternative to MinHash LSH: zero false
    negatives by construction, no probabilistic recall.

    ``max_token_df``: the same hot-token cap as
    :func:`containment_prefix_join` — here BOTH candidate sides are
    prefixes, so a stop-shingle shared by many low-slack documents
    (tiny docs whose prefix spans most of the doc) creates a
    |bucket|^2 self-join blowup; capping drops over-df tokens from
    both prefix sides. Deterministic, SQL-replayable; recall is lost
    only for pairs whose EVERY shared prefix token is hot (rare-first
    order puts hot tokens last, so a prefix holds one only when the
    doc lacks enough rare tokens to fill it) — account the truncation
    with :func:`prefix_hot_token_stats` at this join's thresholds.
    Default ``None`` = exact recall.

    Tokens are globally ordered rare-first (doc frequency asc, token);
    a document of size ``s`` exposes only its first
    ``s - ceil(t*s) + 1`` tokens as its PREFIX. Two sets with Jaccard
    >= t must overlap in >= ceil(t*s) tokens, so they must share at
    least one prefix token — candidates come from a plain equi-join on
    prefix tokens (rare tokens ⇒ tiny buckets), then the length filter
    ``t*|x| <= |y| <= |x|/t`` prunes, then exact Jaccard verifies.
    The threshold is the RATIONAL ``threshold_num/threshold_den`` and
    every bound is integer arithmetic (``ceil(t*s)`` =
    ``(num*s + den - 1) div den``) — bit-portable to any SQL engine.

    Scale notes: the rare-first order is what keeps prefix buckets
    small (the most selective tokens come first); the vocabulary-scale
    token ranking uses :func:`relational.global_rank` — the
    deterministic value-bucketed two-phase rank, NOT a single-task
    ``Window.orderBy`` (RUNBOOK §3; same rank algebra as
    ``warehouse.assign_surrogate``). Candidate volume is bounded by
    prefix-bucket sizes, never |docs|^2.

    ``tokens`` (optional): a pre-exploded ``(id_col, shingle)`` frame —
    pass the session-cached shingle table when one exists: this plan
    consults the token set in FIVE branches (doc frequency, ordering,
    both intersection sides, sizes), and without a materialized input
    each branch re-runs the corpus explode. ``ordered`` (optional):
    a pre-computed (ideally cached) :func:`rank_ordered_tokens` frame —
    threshold-independent, so one build serves every prefix-filtered
    join over the corpus; supersedes ``tokens``."""
    if ordered is None:
        if tokens is None:
            tokens = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
        ordered = rank_ordered_tokens(tokens, id_col=id_col)
    if max_token_df is not None:
        _require_dfreq(ordered)
    tok = ordered.select(id_col, "token")
    # prefix length s - ceil(t*s) + 1 with integer ceil (Column has no
    # // operator; double-div + long cast truncates == floor for
    # non-negative ints of this magnitude)
    ceil_ts = (
        (F.col("sz") * threshold_num + threshold_den - 1) / threshold_den
    ).cast("long")
    prefix = ordered.filter(F.col("pos") <= F.col("sz") - ceil_ts + 1)
    if max_token_df is not None:
        prefix = prefix.filter(F.col("dfreq") <= max_token_df)
    prefix = prefix.select(id_col, "token", "trank", "sz", "pos")
    a = prefix.select(
        F.col(id_col).alias("doc_a"),
        "token",
        "trank",
        F.col("sz").alias("sza"),
        F.col("pos").alias("_pa"),
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"),
        "token",
        F.col("sz").alias("szb"),
        F.col("pos").alias("_pb"),
    )
    # required overlap: J >= num/den  <=>  i >= ceil(num*(sza+szb)/(num+den))
    o_req = (
        (
            (F.col("sza") + F.col("szb")) * threshold_num
            + threshold_num
            + threshold_den
            - 1
        )
        / (threshold_num + threshold_den)
    ).cast("long")
    cands = (
        a.join(b, on="token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: t*|x| <= |y| (and symmetrically) in integers
        .filter(F.col("szb") * threshold_den >= F.col("sza") * threshold_num)
        .filter(F.col("sza") * threshold_den >= F.col("szb") * threshold_num)
        # PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): take the
        # pair's FIRST shared token (min trank — for any truly-similar
        # pair that token provably sits inside both prefixes, so this
        # restricted min equals the global min); every shared token
        # occupies positions >= (_pa, _pb) in the two trank-sorted
        # lists, bounding overlap by 1 + min(remaining slots). Pairs
        # whose bound can't reach the required overlap are pruned
        # BEFORE the expensive exact-intersection join; the final
        # threshold filter is unchanged, so only provably-failing
        # candidates are removed — recall stays total.
        .groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(F.min(F.struct("trank", "_pa", "_pb")).alias("_first"))
        .filter(
            1
            + F.least(
                F.col("sza") - F.col("_first._pa"),
                F.col("szb") - F.col("_first._pb"),
            )
            >= o_req
        )
        .select("doc_a", "doc_b")
    )
    ta = tok.select(F.col(id_col).alias("doc_a"), "token")
    tb = tok.select(F.col(id_col).alias("doc_b"), "token")
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cands.join(ta, on="doc_a")
        .join(tb, on=["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sza")), on="doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("szb")), on="doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .filter(
            F.col("inter") * threshold_den
            >= (F.col("sza") + F.col("szb") - F.col("inter")) * threshold_num
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_prefix_join(
    df: DataFrame,
    threshold_num: int = 7,
    threshold_den: int = 10,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens: DataFrame | None = None,
    ordered: DataFrame | None = None,
    max_token_df: int | None = None,
) -> DataFrame:
    """EXACT-threshold CONTAINMENT (overlap-coefficient) self-join via
    ASYMMETRIC prefix filtering — guaranteed recall for the doc-in-doc
    shape that jaccard-driven LSH banding structurally under-recalls
    (a tiny document embedded in a huge one has near-1 containment but
    near-0 jaccard, so its minhash signatures rarely band-collide).

    Containment ``|A ∩ B| / min(|A|,|B|) >= t`` requires overlap
    ``o >= ceil(t * |small|)`` — a bound that depends ONLY on the small
    side. Hence the asymmetry (the standard overlap-join prefix bound,
    cf. Chaudhuri et al. 2006 SSJoin primitive): each
    document acting as the SMALL side exposes its rare-first prefix of
    ``s - ceil(t*s) + 1`` tokens (pigeonhole: if none of the >= o
    shared tokens sat in that prefix, the remaining ``ceil(t*s) - 1``
    slots could not hold them all); the LARGE side is indexed on ALL
    its tokens — no size-based pruning exists for it, because a probe
    of size 1 already demands overlap 1 with any superset. Candidates
    are the equi-join of small-side prefixes against the full token
    index restricted to ``|small| <= |large|`` (id tiebreak on equal
    sizes, so each unordered pair surfaces exactly once), then exact
    intersection counting verifies ``i * den >= num * min(sz)`` in
    integers — bit-portable to any SQL engine, no double rounding at
    the threshold boundary.

    Scale shape: the token rank is :func:`relational.global_rank`
    (deterministic two-phase — never a single-task vocabulary
    sort); small-side prefixes keep probe buckets rare-token-small,
    while index-bucket sizes are bounded by token document frequency.
    Candidate volume is sum-over-prefix-tokens of (probe bucket x
    index bucket), never |docs|^2.

    ``max_token_df``: the hot-token cap — the 100 TB survival valve
    for corpora with pathological stop-shingles (a tiny doc's prefix
    can span its ENTIRE token set, so a stop-shingle in it fans out
    across that token's full document frequency). When set, probe
    prefix tokens with ``dfreq > max_token_df`` are EXCLUDED from the
    candidate join, bounding every probe bucket's fan-out by the cap.
    The truncation is DETERMINISTIC (a pure df threshold, replayable
    by any SQL engine) and its recall cost is precisely bounded: since
    rare-first ordering puts hot tokens at globally-maximal rank, a
    doc's prefix contains a hot token only when it has fewer than
    prefix-length non-hot tokens — recall is lost ONLY for pairs whose
    every shared probe-prefix token is hot, and exactly the probe docs
    at risk are countable up front via
    :func:`prefix_hot_token_stats` (run it alongside; a capped join
    without its accounting row is a silent truncation — RUNBOOK
    discipline). The positional filter stays valid under the cap: for
    any pair that still joins, the min-trank shared token is a kept
    probe token (hot tokens rank after every non-hot token), so the
    overlap bound is unchanged. Default ``None`` = exact recall.

    ``tokens``: optional pre-exploded ``(id_col, shingle)`` frame —
    pass the session-cached shingle table (the plan consults the token
    set in four branches). ``ordered``: optional pre-computed
    :func:`rank_ordered_tokens` frame — threshold-independent and
    shared verbatim with :func:`jaccard_prefix_join`, so one cached
    build serves both metrics; supersedes ``tokens``."""
    if ordered is None:
        if tokens is None:
            tokens = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
        ordered = rank_ordered_tokens(tokens, id_col=id_col)
    if max_token_df is not None:
        _require_dfreq(ordered)
    tok = ordered.select(id_col, "token")
    ceil_ts = (
        (F.col("sz") * threshold_num + threshold_den - 1) / threshold_den
    ).cast("long")
    probe = ordered.filter(F.col("pos") <= F.col("sz") - ceil_ts + 1)
    if max_token_df is not None:
        probe = probe.filter(F.col("dfreq") <= max_token_df)
    probe = probe.select(
        F.col(id_col).alias("doc_s"),
        "token",
        "trank",
        F.col("sz").alias("szs"),
        F.col("pos").alias("_ps"),
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    # the index side carries its rank position too, feeding the
    # positional filter below (``ordered`` already has per-doc size, so
    # no extra sizes join here)
    index = ordered.select(
        F.col(id_col).alias("doc_l"),
        "token",
        F.col("sz").alias("szl"),
        F.col("pos").alias("_pl"),
    )
    # required overlap depends ONLY on the small side: o = ceil(t*szs)
    o_req = (
        (F.col("szs") * threshold_num + threshold_den - 1) / threshold_den
    ).cast("long")
    cands = (
        probe.join(index, on="token")
        .filter(
            (F.col("szs") < F.col("szl"))
            | ((F.col("szs") == F.col("szl")) & (F.col("doc_s") < F.col("doc_l")))
        )
        # positional filter on the FIRST shared token (min trank; for a
        # truly-contained pair it provably sits inside the small side's
        # prefix, so the restricted min equals the global min): shared
        # tokens occupy positions >= (_ps, _pl), bounding overlap by
        # 1 + min(remaining slots) — prune pairs that provably can't
        # reach ceil(t*szs) before the exact-intersection join. The
        # final threshold filter is unchanged; recall stays total.
        .groupBy("doc_s", "doc_l", "szs", "szl")
        .agg(F.min(F.struct("trank", "_ps", "_pl")).alias("_first"))
        .filter(
            1
            + F.least(
                F.col("szs") - F.col("_first._ps"),
                F.col("szl") - F.col("_first._pl"),
            )
            >= o_req
        )
        .select("doc_s", "doc_l")
    )
    ts = tok.select(F.col(id_col).alias("doc_s"), "token")
    tl = tok.select(F.col(id_col).alias("doc_l"), "token")
    inter = (
        cands.join(ts, on="doc_s")
        .join(tl, on=["doc_l", "token"])
        .groupBy("doc_s", "doc_l")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # (verification below is shared by the capped and exact paths — the
    # cap only thins the candidate set, never the threshold arithmetic)
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("doc_s"), F.col("sz").alias("szs")), on="doc_s"
        )
        .join(sizes.select(F.col(id_col).alias("doc_l"), F.col("sz").alias("szl")), on="doc_l")
        .filter(F.col("inter") * threshold_den >= F.least("szs", "szl") * threshold_num)
        .select(
            F.least("doc_s", "doc_l").alias("doc_a"),
            F.greatest("doc_s", "doc_l").alias("doc_b"),
            (
                F.col("inter").cast("double")
                / F.least("szs", "szl").cast("double")
            ).alias("containment"),
            (
                F.col("inter").cast("double")
                / (F.col("szs") + F.col("szl") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def prefix_hot_token_stats(
    ordered: DataFrame,
    threshold_num: int,
    threshold_den: int,
    max_token_df: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """The LOUD-TRUNCATION accounting row for a hot-token-capped
    :func:`containment_prefix_join` (and the probe-side skew census for
    the uncapped one) — VERDICT r6 #2: a cap without accounting is a
    silent recall loss, so every capped run should emit this single-row
    frame next to its pairs. One aggregate over the probe prefix (the
    same integer prefix-length arithmetic as the join; no extra corpus
    pass — ``ordered`` already carries ``dfreq``):

    - ``probe_rows``        total (doc, token) prefix rows;
    - ``probe_rows_dropped``prefix rows the cap excludes
      (``dfreq > max_token_df``);
    - ``docs_at_risk``      distinct probe docs with >= 1 dropped
      prefix token — the ONLY docs whose pairs can be under-recalled
      (rare-first order puts hot tokens last, so a prefix holds a hot
      token only when the doc lacks enough non-hot tokens to fill it);
    - ``cand_bound_uncapped`` / ``cand_bound_capped``  sum of ``dfreq``
      over (all / kept) probe rows — an upper bound on candidate-join
      row volume before and after the cap: the skew metric that says
      whether the cap is load-bearing on this corpus;
    - ``max_probe_df``      the hottest document frequency appearing in
      any probe prefix.

    All BIGINT; engine-portable (the oracle replays the identical
    filter + aggregate)."""
    _require_dfreq(ordered)
    ceil_ts = (
        (F.col("sz") * threshold_num + threshold_den - 1) / threshold_den
    ).cast("long")
    probe = ordered.filter(F.col("pos") <= F.col("sz") - ceil_ts + 1)
    hot = F.col("dfreq") > max_token_df
    return probe.agg(
        F.count(F.lit(1)).alias("probe_rows"),
        F.sum(F.when(hot, 1).otherwise(0)).cast("long").alias("probe_rows_dropped"),
        F.count_distinct(F.when(hot, F.col(id_col))).cast("long").alias("docs_at_risk"),
        F.sum("dfreq").cast("long").alias("cand_bound_uncapped"),
        F.sum(F.when(hot, 0).otherwise(F.col("dfreq"))).cast("long").alias("cand_bound_capped"),
        F.max("dfreq").cast("long").alias("max_probe_df"),
    )


def split_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode a document into its trimmed, non-empty lines with
    1-based positions: ``(id_col, line_no, line)``. The shared line
    definition for every line-grain operator (:func:`dedup_lines`,
    ``text.c4_line_clean`` keeps its lines in-row but applies the
    identical split-trim-drop-empties semantics) — change it in one
    place or nowhere. ``trim`` strips SPACES only, deliberately:
    Spark's and DuckDB's ``trim`` share that default, so oracles
    replay the identical line set with the identical builtin.
    Map-side only."""
    arr = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    return df.select(
        F.col(id_col), F.posexplode(arr).alias("_p0", "line")
    ).select(id_col, (F.col("_p0") + 1).cast("long").alias("line_no"), "line")


def dedup_lines(
    df: DataFrame,
    min_occurrences: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """CCNet/Dolma-style corpus-wide duplicate LINE removal — the
    paragraph-grain dedup layer between document-level near-dup and
    token-level exact-substring dedup: boilerplate lines (cookie
    banners, navigation chrome, shared footers) repeat across MANY
    documents while each host document is unique, so no document-grain
    method can touch them.

    Policy (deterministic, engine-replayable): lines compare by their
    LOWERCASED text; a line occurring ``min_occurrences``-or-more
    times corpus-wide survives only at its canonical occurrence — the
    corpus-wide minimum ``(doc_id, line_no)``, the same
    first-occurrence discipline as ``corpus.substring_dedup``. Unique
    lines always survive. Returns one row per document that has at
    least one line: ``(id_col, n_lines, n_kept, n_dropped_dup,
    cleaned_text)`` with kept lines rejoined by newline in original
    order (a fully-deduped document comes back with ``n_kept = 0`` and
    an empty ``cleaned_text``).

    Scale shape: one line explode (map-side), one aggregate on the
    line key carrying ``(count, min(doc, line_no))`` — mergeable
    partials, so AQE map-side combine applies — one equi-join back,
    and per-doc reassembly via ``array_sort`` on collected
    ``(line_no, line)`` structs, never an ordered shuffle. No windows.
    ``hashed=True`` replaces the line-text join key with
    ``xxhash64(lower(line))`` so the census and join shuffle 8-byte
    keys instead of line strings — the production mode at corpus
    scale, same trade as ``shingle_ids(hashed=True)``; the default
    exact mode exists for bit-exact cross-engine oracle replay
    (pytest pins the two modes equal)."""
    lines = split_lines(df, text_col=text_col, id_col=id_col)
    key = (
        F.xxhash64(F.lower(F.col("line")))
        if hashed
        else F.lower(F.col("line"))
    )
    keyed = lines.withColumn("_k", key)
    census = keyed.groupBy("_k").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("_canon"),
    )
    kept = keyed.join(census, on="_k").withColumn(
        "_keep",
        (F.col("_cnt") < F.lit(int(min_occurrences)))
        | (F.struct(F.col(id_col), F.col("line_no")) == F.col("_canon")),
    )
    return reassemble_lines(kept, id_col)


def reassemble_lines(kept: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document line accounting + rejoined cleaned text from a
    marked line frame ``(id_col, line_no, line, _keep)`` — the ONE
    reassembly shared by :func:`dedup_lines` and the streaming
    ``pipelines.dedup_lines_against_state`` (their parity test pins
    the two outputs equal, so the aggregate must not fork)."""
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        F.sum((~F.col("_keep")).cast("long")).cast("long").alias("n_dropped_dup"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("line_no"), F.col("line")),
                        )
                    )
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )
