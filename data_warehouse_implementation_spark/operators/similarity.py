"""Similarity search over embedding columns (``array<float>``): exact
brute-force cosine top-k as the baseline, and an IVF-style
cluster-pruned variant as the scale path (brief requirement; no
reference analog).

Everything is JVM-side array algebra — ``zip_with`` + ``aggregate``
fold for dot products (sequential in array order, so results are
bit-reproducible and match DuckDB's ``list_dot_product`` on DOUBLE[]
exactly; verified empirically). No UDFs.

Scale shapes:

- **Brute force**: broadcast the (small) query batch; one pass over the
  corpus, per-query top-k via a window partitioned by query id. Work is
  O(|Q|·|C|) — the right plan for ad-hoc lookups, wrong for |Q| ~ |C|.
- **IVF probe**: an equi-join on the coarse-quantizer cell (here the
  pre-assigned ``label`` column; in production, argmin over a broadcast
  centroid table) restricts each query to its cluster — the classic
  inverted-file pruning, turning the cross product into a hash join.
- **Dense |Q| ~ |C|**: :func:`dense_topk_blocked` — a block-partitioned
  matrix multiply via ``cogroup().applyInPandas`` over (query-block ×
  corpus-block) pairs, with exact fold-based re-scoring of the
  surviving candidates so the output is bit-identical to brute force.
  The one place numpy beats column algebra: a matmul per block instead
  of an array fold per pair.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .rounds import Rounds


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision. Fold order is
    array order — deterministic, unlike a parallel sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


#: Fixed-point scale for the hyperplane sign test: vectors are quantized
#: to integer thousandths so the projection sign is exact int64
#: arithmetic — no float summation order to disagree on across engines.
HYPERPLANE_SCALE = 1000


def decontaminate_embeddings(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the n-gram screen (``plans.llm_queries.doc_decontaminate_fuzzy``):
    a corpus vector whose cosine against ANY benchmark vector reaches
    ``threshold`` is contaminated (paraphrased eval leakage that shares
    no n-gram). Per corpus vector the verdict names the best match:
    (id, matched_benchmark_id, best_cosine, contaminated).

    Scale shape: the benchmark set is ALWAYS small relative to the
    corpus — it collapses to ONE broadcast array row (entries sorted by
    id, norms precomputed once) and the argmax runs IN-ROW per corpus
    vector via one struct-sort over the array — a single corpus map
    pass: one single-ROW broadcast cross join, zero shuffles. Ties at
    identical cosines break to the smallest benchmark id, so the
    verdict replays bit-for-bit (the dot fold is sequential in array
    order, matching DuckDB's ``list_dot_product`` on DOUBLE[]).

    Totality (round-12 review): an empty benchmark set and zero-norm
    vectors on either side all yield verdicts instead of ANSI runtime
    errors — a zero-norm cosine is NULL (``try_divide``), sorts after
    every real candidate, and can never mark a row contaminated. The
    data contract (and the oracle, which assumes it) is nonzero
    embeddings; the guards are engine totality, not new semantics."""
    bench = benchmark.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("bid"),
                    F.col(vec_col).alias("bv"),
                    l2_norm(F.col(vec_col)).alias("bnorm"),
                )
            )
        ).alias("_bench")
    )
    # try_element_at: an EMPTY benchmark set yields NULL match/cosine
    # and contaminated=false (element_at would raise the ANSI
    # out-of-bounds error at runtime). try_divide: a zero-norm vector
    # on either side yields NULL cosine instead of DIVIDE_BY_ZERO —
    # and because struct comparison puts NULL fields FIRST ascending,
    # the sort key coalesces NULL to +inf so degenerate entries lose
    # to every real candidate instead of winning the argmax. The
    # struct holds ONLY (sortc, bid) — the O(dim) cosine fold is
    # evaluated once per candidate (higher-order-function lambdas are
    # interpreted, no common-subexpression elimination to lean on) and
    # best_cosine is recovered from sortc afterwards: a real cosine
    # lives in [-1, 1], so sortc = +inf identifies "no real candidate"
    # unambiguously.
    def _cand(b):
        negc = -F.try_divide(
            dot(F.col("_v"), b["bv"]), F.col("_vnorm") * b["bnorm"]
        )
        return F.struct(
            F.coalesce(negc, F.lit(float("inf"))).alias("sortc"),
            b["bid"].alias("bid"),
        )

    best = F.try_element_at(
        F.array_sort(F.transform(F.col("_bench"), _cand)), F.lit(1)
    )
    return (
        corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            l2_norm(F.col(vec_col)).alias("_vnorm"),
        )
        .crossJoin(F.broadcast(bench))
        .withColumn("_best", best)
        # a degenerate argmax (every candidate zero-norm, sortc = +inf)
        # yields NULL match AND NULL cosine — naming a benchmark id the
        # row was never actually scored against would be dishonest
        # (round-12 pass-3 review)
        .withColumn(
            "_cos",
            F.when(
                F.col("_best.sortc") != F.lit(float("inf")), -F.col("_best.sortc")
            ),
        )
        .select(
            id_col,
            F.when(F.col("_cos").isNotNull(), F.col("_best.bid")).alias(
                "matched_benchmark_id"
            ),
            F.col("_cos").alias("best_cosine"),
            F.coalesce(
                F.col("_cos") >= F.lit(float(threshold)), F.lit(False)
            ).alias("contaminated"),
        )
    )


def hyperplane_signature(
    vectors: DataFrame,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sig_col: str = "hypersig",
) -> DataFrame:
    """Sign-random-projection signature (the cosine-LSH counterpart of
    :func:`~..operators.dedup.simhash_bits`): bit ``i`` is the sign of
    the vector's projection onto a DETERMINISTIC pseudo-random integer
    hyperplane ``w(i, j) = ((i*131 + j*31 + 7) * 2654435761) % 97 - 48``
    (values in [-48, 48], j = dimension index). Vectors agreeing on a
    bit lie on the same side of that hyperplane, so Hamming-close
    signatures <=> cosine-close vectors (Charikar 2002) — banding the
    signature gives an ANN candidate generator with NO corpus
    cross-product anywhere.

    Everything is map-side column algebra: quantize to int64
    thousandths, fold the integer dot product per bit, pack sign bits
    into one long. Dimension-agnostic (weights are generated in-plan
    from ``sequence(0, size(v)-1)``), and every step is portable
    modular arithmetic an oracle can replay."""
    if not 1 <= n_bits <= 64:
        # one packed long holds at most 64 sign bits; past that the JVM
        # shift wraps mod 64 and bit 64 would silently alias bit 0
        raise ValueError(f"n_bits must be in 1..64, got {n_bits}")
    # Quantization stays in SPARK column algebra: F.round is HALF_UP on
    # the double's DECIMAL representation (BigDecimal), which no
    # vectorized float rounding reproduces on adversarial halves — the
    # int64 arrays that cross into the Python worker are already exact.
    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * HYPERPLANE_SCALE).cast("long"),
    )
    base = vectors.select(F.col(id_col), q.alias("_q"))
    # The n_bits projection folds run as ONE integer matrix product per
    # Arrow batch inside mapInPandas (optimization round 15, guide
    # §4.2): the per-bit aggregate/zip_with folds are interpreted
    # expressions (higher-order functions sit outside whole-stage
    # codegen) and measured ~1.6 ms/vector at 16 bits x 64 dims —
    # CPU-bound at any scale. int64 matmul is exact and
    # order-independent, so signatures are bit-identical to the fold
    # (weights |w| <= 48, |q| <= 1000·|x|, so no wraparound anywhere
    # near 2^63); the weight matrix is the SAME w(i, j) formula the
    # oracle replays, built once per (dimension, task) and cached
    # across batches. Still map-side: no exchange is added. The
    # closure is fully self-contained (imports inside) because Python
    # workers do not inherit the driver's sys.path.
    id_t = base.schema[id_col].dataType.simpleString()
    nb = int(n_bits)

    def _sign_pack(batches):
        import numpy as np
        import pandas as pd

        def _null_safe(v):
            # NULL vectors / NULL elements (ADVICE r15): the pre-r15
            # column fold propagated NULL through the projections and
            # produced a NULL signature; reproduce that instead of
            # crashing the worker. A null-free list arrives from Arrow
            # as an int64 ndarray (exactness preserved); a list WITH
            # nulls arrives as float64-with-NaN or object — detected
            # and mapped to None here, never silently cast.
            if v is None:
                return None
            a = np.asarray(v)
            if a.dtype == object:
                if any(e is None or e != e for e in v):
                    return None
                a = a.astype(np.int64)
            elif np.issubdtype(a.dtype, np.floating):
                if np.isnan(a).any():
                    return None
                a = a.astype(np.int64)
            return a

        w_cache: dict[int, object] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = [_null_safe(v) for v in pdf["_q"]]
            # NULL rows take dimension -1: excluded from every matmul
            # group, signature forced to NULL at the end
            dims = np.array([-1 if v is None else len(v) for v in vecs])
            sig = np.zeros(len(pdf), dtype=np.uint64)
            shifts = (np.uint64(1) << np.arange(nb, dtype=np.uint64))
            for d in np.unique(dims):
                if int(d) <= 0:
                    continue  # NULL (-1) handled below; empty (0): all bits set below
                idx = np.nonzero(dims == d)[0]
                W = w_cache.get(int(d))
                if W is None:
                    jj = np.arange(int(d), dtype=np.int64).reshape(-1, 1)
                    ii = np.arange(nb, dtype=np.int64).reshape(1, -1)
                    W = ((ii * 131 + 7 + jj * 31) * 2654435761) % 97 - 48
                    w_cache[int(d)] = W
                Q = np.stack([vecs[i] for i in idx])
                P = Q @ W  # (rows, nb) exact int64 projections
                bits = (P >= 0).astype(np.uint64)
                sig[idx] = (bits * shifts).sum(axis=1, dtype=np.uint64)
            if (dims == 0).any():
                # zero-length vectors: every projection is the empty
                # fold's 0, every sign bit is set (0 >= 0)
                sig[dims == 0] = shifts.sum(dtype=np.uint64)
            out = pd.DataFrame(
                {id_col: pdf[id_col], sig_col: pd.array(sig.astype(np.int64), dtype="Int64")}
            )
            if (dims < 0).any():
                out.loc[dims < 0, sig_col] = None
            yield out

    return base.mapInPandas(_sign_pack, f"{id_col} {id_t}, {sig_col} long")


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cen_id_col: str = "cen_id",
    cen_vec_col: str = "cen_vec",
    cell_col: str = "cell_id",
    keys: Sequence[str] = (),
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid by squared L2 distance (broadcast the centroid table —
    it is tiny by construction — so assignment is one corpus pass, no
    shuffle). dist^2 is expanded as dot(v,v) - 2*dot(v,c) + dot(c,c)
    with the same sequential folds on both engines, so the argmin (tie
    -> smallest centroid id) is oracle-reproducible. Returns
    (id_col, *keys, cell_col).

    ``keys`` are group columns present on both sides (PQ's subspace
    ``j``): a vector row competes only among the centroids of its own
    group — the broadcast cross join becomes a broadcast equi-join.

    The argmin is a ``min_by`` aggregate, not a window: partial (map-
    side) aggregation collapses the k candidate rows per vector before
    any shuffle, so the exchange carries one narrow (id, cell) row per
    vector — no sort, no fat shuffle. (At extreme scale, assignment is
    pure map-side: collect the centroid matrix and score inside
    mapInPandas; k here is small enough that the agg shape is already
    cheap.)"""
    # self-dots hoisted BELOW the crossJoin (optimization round 15):
    # dot() is an interpreted fold (higher-order expression), and the
    # pair expression used to re-fold dot(v,v) and dot(c,c) once per
    # (vector, centroid) pair — k+1 redundant folds per vector. Each
    # side now computes its self-dot once; the join boundary keeps the
    # projections on their own sides, so only the cross term folds per
    # pair. Same terms, same a - 2b + c expression order: dist2 values
    # (and the min_by argmin) are bit-identical.
    v = vectors.select(
        id_col,
        *keys,
        F.col(vec_col).alias("_v"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_vv"),
    )
    c = centroids.select(
        *keys,
        F.col(cen_id_col).alias("_cid"),
        F.col(cen_vec_col).alias("_cv"),
        dot(F.col(cen_vec_col), F.col(cen_vec_col)).alias("_cc"),
    )
    dist2 = (
        F.col("_vv") - 2 * dot(F.col("_v"), F.col("_cv")) + F.col("_cc")
    )
    scored = (
        v.join(broadcast(c), on=list(keys)) if keys else v.crossJoin(broadcast(c))
    ).withColumn("_d2", dist2)
    return scored.groupBy(id_col, *keys).agg(
        F.min_by("_cid", F.struct(F.col("_d2"), F.col("_cid"))).alias(cell_col)
    )


def probe_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cen_id_col: str = "cen_id",
    cen_vec_col: str = "cen_vec",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Multi-probe assignment: the ``n_probe`` nearest centroids per
    vector (one row each) — the recall knob of IVF search. A query
    probing its 2-3 closest cells recovers most neighbors that fell
    just across a Voronoi boundary, at probe-count-proportional cost.
    Same broadcast-centroid distance as :func:`assign_cells`; the
    per-vector top-``n_probe`` is a window over the k centroid rows of
    that vector only (never corpus-wide)."""
    # self-dots hoisted below the crossJoin — see :func:`assign_cells`
    v = vectors.select(
        id_col,
        F.col(vec_col).alias("_v"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_vv"),
    )
    c = centroids.select(
        F.col(cen_id_col).alias("_cid"),
        F.col(cen_vec_col).alias("_cv"),
        dot(F.col(cen_vec_col), F.col(cen_vec_col)).alias("_cc"),
    )
    dist2 = (
        F.col("_vv") - 2 * dot(F.col("_v"), F.col("_cv")) + F.col("_cc")
    )
    scored = v.crossJoin(broadcast(c)).withColumn("_d2", dist2)
    from .relational import top_k_per_group

    return top_k_per_group(
        scored,
        partition_by=[id_col],
        order_by=[F.asc("_d2"), F.asc("_cid")],
        k=n_probe,
    ).select(id_col, F.col("_cid").alias(cell_col))


def centroid_update(
    vec_cells: DataFrame,
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    keys: Sequence[str] = (),
) -> DataFrame:
    """One Lloyd (k-means) refinement step: the new centroid of every
    cell is the elementwise mean of its member vectors. With
    :func:`assign_cells` this closes the loop — IVF partitions are not
    frozen at their seeds; the quantizer can be re-trained in place
    (assign -> update -> assign ...), each step two shuffles keyed on
    (cell, position).

    Emits long format (*keys, cell_id, pos, mean_val, n_members) —
    ``keys`` group the cells (PQ's subspace ``j``). The mean is
    a FOLD over the cell's sorted member values (sort_array +
    sequential aggregate) rather than a float SUM aggregate, so the
    double arithmetic has one defined order and the DuckDB oracle
    reproduces it bit-for-bit (``list_reduce(list_sort(...))``). The
    sorted fold materializes one cell's values per (cell, pos) group —
    fine for quantizer-sized cells; swap the fold for a plain ``avg``
    at production scale where bit-replay is not required."""
    pos = vec_cells.select(*keys, cell_col, F.posexplode(vec_col).alias("pos", "val"))
    per = pos.groupBy(*keys, cell_col, "pos").agg(
        F.sort_array(F.collect_list(F.col("val").cast("double"))).alias("_vs")
    )
    return per.select(
        *keys,
        cell_col,
        F.col("pos").cast("long").alias("pos"),
        (
            F.aggregate("_vs", F.lit(0.0), lambda a, x: a + x)
            / F.size("_vs").cast("double")
        ).alias("mean_val"),
        F.size("_vs").cast("long").alias("n_members"),
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Full Lloyd k-means in DataFrame algebra: seed with the first
    ``k`` vectors (deterministic), then alternate
    :func:`assign_cells` / :func:`centroid_update` for ``iters``
    rounds on the :class:`rounds.Rounds` driver (two keyed shuffles
    per round; the plan does not grow with the iteration count).
    Returns ``(centroids, assignment)`` — centroids as
    (cen_id, cen_vec), assignment as (id, cell_id); the assignment is
    recomputed against the FINAL centroids after the last update, so
    the returned pair is mutually consistent (each vector's cell is its
    nearest returned centroid — the invariant an IVF index built from
    both requires).

    This is quantizer TRAINING for the IVF/IVF+PQ search path — the
    piece that turns the seed-centroid demo into a maintained index:
    re-fit periodically, re-assign, and the inverted file tracks the
    corpus distribution."""
    seed = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(id_col))
            .cast("long")
            .alias("cen_id"),
            F.col(vec_col).alias("cen_vec"),
        )
        .localCheckpoint(eager=False)
    )
    centroids = _lloyd(vectors, seed, iters, id_col, vec_col, [])
    # the returned assignment is computed against the FINAL centroids:
    # an (assignment, centroids) pair from different iterations breaks
    # the quantizer invariant downstream
    assigned = assign_cells(vectors, centroids, id_col=id_col, vec_col=vec_col)
    return centroids, assigned


def _lloyd(
    vectors: DataFrame,
    seed: DataFrame,
    iters: int,
    id_col: str,
    vec_col: str,
    keys: list[str],
) -> DataFrame:
    """The Lloyd loop shared by :func:`kmeans_fit` and
    :func:`pq_kmeans_fit`: ``iters`` rounds of :func:`assign_cells` /
    :func:`centroid_update` per ``keys`` group on the
    :class:`rounds.Rounds` driver, from the (*keys, cen_id, cen_vec)
    ``seed``. Each round is two keyed shuffles; cells that lose all
    members in a round drop out."""

    def step(centroids: DataFrame) -> DataFrame:
        assigned = assign_cells(
            vectors, centroids, id_col=id_col, vec_col=vec_col, keys=keys
        )
        members = vectors.select(id_col, *keys, vec_col).join(
            assigned, on=[id_col, *keys]
        )
        return (
            centroid_update(members, vec_col=vec_col, keys=keys)
            .groupBy(*keys, "cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mean_val"))
                ).alias("_pm")
            )
            .select(
                *keys,
                F.col("cell_id").alias("cen_id"),
                F.transform("_pm", lambda s: s["mean_val"]).alias("cen_vec"),
            )
        )

    return Rounds().run(seed, step, iters)


def dense_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dense top-k for |Q| ~ |C| — the block-partitioned matrix multiply
    the broadcast nested loop cannot handle. The corpus is hashed into
    ``n_blocks`` blocks; queries are replicated once per block
    (total volume |Q|·n_blocks rows — dense scoring is O(|Q|·|C|)
    regardless, blocking only organizes it); each (query-block,
    corpus-block) pair is scored as ONE numpy matmul inside an
    Arrow-batched ``cogroup().applyInPandas`` — the pattern for math
    that per-row column algebra cannot express efficiently. Each block
    emits its local top-k candidate ids; the global stage recomputes
    the EXACT fold-based cosine (same arithmetic as
    :func:`cosine_topk`) on the ~k·n_blocks surviving candidates per
    query, so final scores and ranking are bit-identical to brute
    force. Self-joins (query == neighbor) are excluded."""
    import pandas as pd  # noqa: PLC0415

    qrep = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).crossJoin(
        broadcast(
            queries.sparkSession.range(n_blocks).select(F.col("id").alias("_blk"))
        )
    )
    crp = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
    )

    def score_block(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        # worker-side closure: fully self-contained (no module globals)
        import numpy as np

        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": []}).astype("int64")
        qm = np.stack(qpdf["_qv"].to_numpy()).astype("float64")
        cm = np.stack(cpdf["_cv"].to_numpy()).astype("float64")
        qn = np.linalg.norm(qm, axis=1, keepdims=True)
        cn = np.linalg.norm(cm, axis=1, keepdims=True)
        scores = (qm / np.where(qn == 0, 1, qn)) @ (cm / np.where(cn == 0, 1, cn)).T
        nb = cpdf["neighbor_id"].to_numpy()
        qi = qpdf["query_id"].to_numpy()
        # self-pairs must not crowd out real candidates in the local top-k
        scores[qi[:, None] == nb[None, :]] = -np.inf
        kk = min(k, scores.shape[1])
        top = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
        return pd.DataFrame(
            {
                "query_id": np.repeat(qi, kk),
                "neighbor_id": nb[top].ravel(),
            }
        )

    cands = (
        qrep.groupby("_blk")
        .cogroup(crp.groupby("_blk"))
        .applyInPandas(score_block, "query_id long, neighbor_id long")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
    )
    exact = (
        cands.join(q, on="query_id")
        .join(c, on="neighbor_id")
        .withColumn(
            "cosine",
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qnorm") * F.col("_cnorm")),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    from .relational import top_k_per_group

    return top_k_per_group(
        exact,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "rank", "neighbor_id", "cosine")


def pq_subvectors(
    df: DataFrame, m: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Split each vector into ``m`` contiguous subvectors: one row per
    (vector, subspace j) with the slice. Pure per-row array algebra —
    an explode of a literal 0..m-1 sequence, no shuffle."""
    base = df.select(
        id_col,
        F.col(vec_col).alias("_v"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
    )
    return base.withColumn(
        "subvec",
        F.expr(f"slice(_v, j * (size(_v) div {m}) + 1, size(_v) div {m})"),
    ).select(id_col, "j", "subvec")


def pq_kmeans_fit(
    vectors: DataFrame,
    m: int,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace Lloyd k-means for PQ sub-centroids — the training
    step that turns the seed-subvector demo codebook into a real
    product quantizer (each subspace's codebook tracks ITS OWN
    marginal distribution, which is the entire point of PQ): the
    :func:`kmeans_fit` Lloyd loop with the subspace ``j`` as its group
    key, seeded with the first ``k`` vectors' subvectors
    (``cen_id = vec_id``, the ``pq_encode`` seed layout). Assignment is
    the per-(vector, subspace) broadcast ``min_by`` argmin and the
    update the per-(subspace, cell, position) ORDER-DEFINED mean, so a
    DuckDB oracle unrolls the whole loop bit-for-bit. Returns
    (j, cen_id, cen_sub) — model-scale (m x k rows), broadcast by every
    consumer. Cells that lose all members in a round drop out, exactly
    as :func:`kmeans_fit`."""
    # consumed twice per round (assign + update) across iters rounds
    sv = pq_subvectors(vectors, m, id_col=id_col, vec_col=vec_col).localCheckpoint(
        eager=False
    )
    seed = (
        sv.filter(F.col(id_col) < k)
        .select("j", F.col(id_col).alias("cen_id"), F.col("subvec").alias("cen_vec"))
        .localCheckpoint(eager=False)
    )
    return _lloyd(sv, seed, iters, id_col, "subvec", ["j"]).withColumnRenamed(
        "cen_vec", "cen_sub"
    )


def pq_encode(
    vectors: DataFrame,
    sub_centroids: DataFrame,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding: per subspace j, assign the
    subvector to its nearest sub-centroid (squared L2, tie -> smallest
    centroid id). Returns long-format codes (id, j, code) — the layout
    ADC scoring consumes directly.

    This is the memory-compression scale path for embeddings: a 64-dim
    float vector (256 B) becomes m single-byte codes (8 B at m=8) —
    the difference between an embedding index that fits in cluster
    memory and one that doesn't. ``sub_centroids`` is (j, cen_id,
    cen_sub), tiny by construction, broadcast; encoding is one corpus
    pass with a map-side ``min_by`` argmin per (vector, subspace) —
    the same no-sort shape as :func:`assign_cells`."""
    sv = pq_subvectors(vectors, m, id_col=id_col, vec_col=vec_col)
    # self-dots hoisted below the join — see :func:`assign_cells`
    c = sub_centroids.select(
        "j",
        F.col("cen_id").alias("_cid"),
        F.col("cen_sub").alias("_cs"),
        dot(F.col("cen_sub"), F.col("cen_sub")).alias("_css"),
    )
    d2 = (
        F.col("_svv") - 2 * dot(F.col("subvec"), F.col("_cs")) + F.col("_css")
    )
    return (
        sv.withColumn("_svv", dot(F.col("subvec"), F.col("subvec")))
        .join(broadcast(c), on="j")
        .withColumn("_d2", d2)
        .groupBy(id_col, "j")
        .agg(F.min_by("_cid", F.struct(F.col("_d2"), F.col("_cid"))).alias("code"))
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    sub_centroids: DataFrame,
    m: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, build
    the (j, cen_id) -> d2 lookup table against the RAW query subvectors
    (|Q|*m*K rows, broadcast), join it to the corpus codes on (j, code),
    and sum the m partial distances. The corpus side touches only the
    1-byte codes — never the raw vectors — which is the entire point of
    PQ at scale; combine with IVF cell pruning to cut the scanned code
    rows further.

    The per-neighbor sum over subspaces is an explicitly ordered
    ``d0 + d1 + ... + d{{m-1}}`` expression after a pivot (NOT an
    unordered float SUM aggregate), so the double arithmetic is
    bit-reproducible and oracle-replayable. Output:
    (query_id, rank, neighbor_id, adc_dist2).

    ``cells`` ((id, cell_id) from :func:`assign_cells`) composes IVF on
    top: the cell id becomes an extra equi-key of the LUT join, so each
    query scores only the code rows of its own inverted-file cell — the
    standard IVF+PQ production stack, still one hash join."""
    qsub = pq_subvectors(queries, m, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), "j", "subvec"
    )
    # self-dots hoisted below the join — see :func:`assign_cells`
    c = sub_centroids.select(
        "j",
        F.col("cen_id").alias("code"),
        F.col("cen_sub").alias("_cs"),
        dot(F.col("cen_sub"), F.col("cen_sub")).alias("_css"),
    )
    d2 = (
        F.col("_qvv") - 2 * dot(F.col("subvec"), F.col("_cs")) + F.col("_css")
    )
    lut = (
        qsub.withColumn("_qvv", dot(F.col("subvec"), F.col("subvec")))
        .join(broadcast(c), on="j")
        .select("query_id", "j", "code", d2.alias("_d2"))
    )
    join_keys = ["j", "code"]
    corpus_codes = codes.withColumnRenamed(id_col, "neighbor_id")
    if cells is not None:
        # cells is corpus-scale — never broadcast it; both attachment
        # joins are id-keyed equi-joins AQE sizes at runtime (at scale,
        # fold cell_id into the code table at encode time instead)
        corpus_codes = corpus_codes.join(
            cells.select(F.col(id_col).alias("neighbor_id"), "cell_id"),
            on="neighbor_id",
        )
        lut = lut.join(
            cells.select(F.col(id_col).alias("query_id"), "cell_id"),
            on="query_id",
        )
        join_keys = ["j", "code", "cell_id"]
    parts = (
        corpus_codes
        .join(broadcast(lut), on=join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(*[
            F.max(F.when(F.col("j") == jj, F.col("_d2"))).alias(f"_p{jj}")
            for jj in range(m)
        ])
    )
    adc = F.col("_p0")
    for jj in range(1, m):
        adc = adc + F.col(f"_p{jj}")
    scored = parts.withColumn("adc_dist2", adc).select(
        "query_id", "neighbor_id", "adc_dist2"
    )
    from .relational import top_k_per_group

    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.asc("adc_dist2"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "rank", "neighbor_id", "adc_dist2")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Top-k cosine neighbors per query (self excluded).

    ``cell_col=None`` -> brute force: broadcast nested-loop over the
    corpus. ``cell_col='label'`` -> IVF probe: equi-join on the cell so
    each query scores only its own cluster.
    Output: (query_id, rank, neighbor_id, cosine).
    """
    # Norms are a per-VECTOR quantity: compute them once on each side
    # before the join instead of re-folding dot(v, v) per PAIR — at
    # |Q|·|C| pairs that's 3 array folds per pair down to 1. Same
    # double-precision expressions in the same order, so results are
    # bit-identical to the naive cosine().
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
        *([F.col(cell_col).alias("_qcell")] if cell_col else []),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
        *([F.col(cell_col).alias("_ccell")] if cell_col else []),
    )
    if cell_col:
        joined = c.join(broadcast(q), F.col("_qcell") == F.col("_ccell"))
    else:
        joined = c.crossJoin(broadcast(q))
    scored = (
        joined.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot(F.col("_qv"), F.col("_cv")) / (F.col("_qnorm") * F.col("_cnorm")),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    from .relational import top_k_per_group

    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select("query_id", "rank", "neighbor_id", "cosine")
