"""Generic relational operators (SURVEY.md §2.2-2.7).

All are thin, composable wrappers over DataFrame primitives, written so
Catalyst keeps full visibility (no UDFs, no collect): predicate
pushdown, column pruning, and join strategy selection all still apply.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import canonicalize_nulls


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k (reference O3: ORDER BY + LIMIT, ``analysis.sql:188-190``).

    Physically a ``TakeOrderedAndProject`` — each partition computes its
    local top-k, the driver merges k*numPartitions rows; no global sort
    at any scale. Callers should include a unique tiebreaker column for
    deterministic results.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
    method: str = "row_number",
    keep_rank: bool = False,
) -> DataFrame:
    """Per-group top-k via ranking window + filter (reference O4/P6,
    ``analysis.sql:54-55,104-105,233,237-238``).

    ``method``: ``row_number`` (exactly k rows/group; order_by should be
    deterministic) or ``rank`` (ties share rank; may exceed k).
    One shuffle on ``partition_by``; with many groups this parallelizes
    across executors — never a single-partition global window.
    """
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    out = df.withColumn(rank_col, fn().over(w).cast("long")).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def derived_width_bucket(
    df: DataFrame,
    key: Column,
    out_col: str,
    min_width: float = 4096.0,
    max_buckets: float = 65536.0,
) -> DataFrame:
    """Append a MONOTONE, BOUNDED-COUNT range bucket of a numeric key:
    ``floor((key - min) / width)`` with ``width = max(min_width,
    range/max_buckets)`` from a broadcast min/max aggregate — the
    engine's shared building block for every two-phase rank/cumsum
    (:func:`global_rank`'s numeric default, the corpus sharding/
    packing/batching cumsums). A FIXED width ``id/256`` degenerates on
    sparse/hashed int64 ids to ~one row per bucket, pushing the whole
    offsets pass into a single-task O(n) window; the derived width
    keeps the bucket count <= ~max_buckets for ANY key distribution.
    Deterministic (min/max, never a sample), double arithmetic so a
    full-range span cannot overflow, NULL keys routed to sentinel
    bucket -1 (below every real bucket, matching NULLS FIRST order).
    Downstream results are bucketing-independent whenever the consumer
    only requires bucket order == key order, which is all the
    two-phase patterns need."""
    k = key.cast("double")
    stats = df.agg(F.min(k).alias("_kmin"), F.max(k).alias("_kmax"))
    width = F.greatest(
        F.lit(float(min_width)),
        (F.col("_kmax") - F.col("_kmin") + 1) / F.lit(float(max_buckets)),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            out_col,
            F.coalesce(F.floor((k - F.col("_kmin")) / width), F.lit(-1)),
        )
        .drop("_kmin", "_kmax")
    )


def global_rank(
    df: DataFrame,
    keys: Sequence[str],
    out_col: str,
    bucket: Column | None = None,
    numeric_bucket_width: int = 4096,
) -> DataFrame:
    """``row_number() OVER (ORDER BY keys)`` WITHOUT a single-task
    global sort — the engine-wide replacement for fact-scale
    ``Window.orderBy`` (banned by RUNBOOK §3):

    1. bucket every row by a PURE, DETERMINISTIC function of the
       leading key that is monotone non-decreasing in the keys' total
       order (so bucket order == key order);
    2. rank within each bucket in parallel;
    3. offset each bucket by the cumulative counts of earlier buckets
       (a window over #buckets rows — the only sequential piece).

    WHY a pure bucketing function and NOT ``repartitionByRange``: the
    counts branch and the rank branch both consume the bucketed frame,
    and Spark may evaluate a shared subtree once per branch. A sampled
    range partitioner can draw DIFFERENT boundaries per evaluation
    (sampling depends on the upstream partition layout; exchange reuse
    is not guaranteed, e.g. through InMemoryRelation scans), and
    joining ranks from one boundary map against offsets from another
    silently corrupts the ranks — a bug class a pure value-derived
    bucket makes impossible: both branches agree on every row's bucket
    BY CONSTRUCTION, on any evaluation, under any plan rewrite.

    ``bucket``: optional explicit bucket expression; MUST be monotone
    in the leading key (e.g. ``F.struct(F.col("dfreq"),
    F.substring("token", 1, 1))`` for rare-first token ranks — legal
    because the second component only refines WITHIN equal leading
    values). Defaults: string leading key -> its first THREE
    characters (a character prefix is monotone non-decreasing under
    Spark's binary/UTF8 order because UTF-8 byte order preserves
    code-point order; 3 chars splits a billion-row hapax vocabulary's
    per-letter buckets ~three orders of magnitude finer than 1 char
    would, keeping the within-bucket window task bounded);
    integral/date leading key -> ``floor((key - min) / width)`` with
    ``width = max(numeric_bucket_width, range/65536)`` derived from a
    broadcast min/max aggregate — dense surrogate ids keep the old
    fixed-width behavior, while SPARSE/HASHED ids (e.g. xxhash64 keys
    spanning the full signed-64 range) get ~65k uniform buckets
    instead of degenerating to one row per bucket and pushing the
    whole rank into the offsets window. The min/max aggregate is
    deterministic (unlike a sampled range partitioner), so the
    multi-branch consistency guarantee above is preserved; the bucket
    arithmetic runs in DOUBLE so a full-range span cannot overflow
    long subtraction (long->double is monotone non-decreasing, which
    is all bucketing needs). DateType keys go through ``unix_date``
    (a raw long cast of DATE fails analysis). Keys must be a total
    order (include a unique tiebreaker). All input columns are
    preserved; ``out_col`` is appended as BIGINT."""
    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    scratch = {"_b", "_rn", "_off", "_kmin", "_kmax"}
    if out_col in scratch:
        # an out_col named like an internal scratch column is silently
        # dropped by the final projection (found by the suffix-array
        # operator requesting "_rn") — reject eagerly
        raise ValueError(f"global_rank out_col {out_col!r} collides with a scratch column")
    reserved = scratch | {out_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(f"global_rank scratch/output columns already present: {sorted(clash)}")
    cols = [F.col(k) for k in keys]
    b = _monotone_bucketed(df, keys, bucket, numeric_bucket_width, "global_rank")
    counts = b.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = counts.withColumn("_off", F.sum("_n").over(w_off) - F.col("_n")).select(
        "_b", "_off"
    )
    w_in = Window.partitionBy("_b").orderBy(*cols)
    return (
        b.withColumn("_rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), on="_b")
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off")
    )


def _monotone_bucketed(
    df: DataFrame,
    keys: Sequence[str],
    bucket: Column | None,
    numeric_bucket_width: int,
    caller: str,
) -> DataFrame:
    """Shared bucketing step of the two-phase global ranks: append
    ``_b``, a pure deterministic bucket monotone in the leading key
    (see :func:`global_rank` for why it must be pure, not a sampled
    range partitioner)."""
    if bucket is None:
        from pyspark.sql.types import (
            ByteType,
            DateType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        lead = df.schema[keys[0]].dataType
        if isinstance(lead, StringType):
            bucket = F.coalesce(F.substring(F.col(keys[0]), 1, 3), F.lit(""))
        elif isinstance(lead, (ByteType, ShortType, IntegerType, LongType, DateType)):
            key = (
                F.unix_date(F.col(keys[0]))
                if isinstance(lead, DateType)
                else F.col(keys[0])
            )
            return derived_width_bucket(
                df, key, "_b", min_width=float(numeric_bucket_width)
            )
        else:
            raise ValueError(
                f"{caller}: no default bucketing for leading key type {lead}; "
                "pass an explicit monotone `bucket` expression"
            )
    return df.withColumn("_b", bucket)


def global_dense_rank(
    df: DataFrame,
    keys: Sequence[str],
    out_col: str,
    bucket: Column | None = None,
    numeric_bucket_width: int = 4096,
) -> DataFrame:
    """``dense_rank() OVER (ORDER BY keys)`` without a single-task
    global sort — :func:`global_rank`'s sibling for DENSE ranks,
    computed directly on the full table (optimization round 15):

    1. bucket by the same pure monotone function of the leading key;
    2. ``dense_rank`` within each bucket in parallel;
    3. offset each bucket by the cumulative DISTINCT-key counts of
       earlier buckets (equal key tuples share a leading key, hence a
       bucket, so per-bucket dense ranks + distinct-count offsets
       compose into the global dense rank exactly).

    This replaces the ``distinct + global_rank + join-back`` pattern
    (three corpus-scale exchanges: the distinct shuffle, the rank
    sort, and the join-back of the full table) with ONE corpus-scale
    exchange (the per-bucket sort) — the prefix-doubling suffix-array
    rounds went from 4 to 2 corpus-scale exchanges per round. The
    per-bucket distinct-key counts that offset the buckets are read
    off the ranked frame itself as ``max(dense_rank)`` per bucket
    (optimization round 16) behind a deferred ``localCheckpoint``: a
    dense rank's maximum IS the bucket's distinct-tuple count
    (NULL tuples included, which ``count_distinct`` would drop), so
    the previous second corpus-scale pass — a two-level groupBy
    shuffling every distinct key tuple — collapses to a bucket-scale
    aggregate over already-ranked rows. Output values are identical
    to the distinct+join-back formulation by construction. Same
    column contract as :func:`global_rank`. NOTE the returned frame
    is backed by a deferred checkpoint of the ranked rows — callers
    that previously checkpointed the OUTPUT to share it across
    consumers still can (the extra hop is a map-side broadcast join).
    """
    scratch = {"_b", "_rn", "_off", "_kmin", "_kmax"}
    if out_col in scratch:
        raise ValueError(
            f"global_dense_rank out_col {out_col!r} collides with a scratch column"
        )
    reserved = scratch | {out_col}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"global_dense_rank scratch/output columns already present: {sorted(clash)}"
        )
    cols = [F.col(k) for k in keys]
    b = _monotone_bucketed(df, keys, bucket, numeric_bucket_width, "global_dense_rank")
    w_in = Window.partitionBy("_b").orderBy(*cols)
    # the ranked frame feeds both the offsets branch and the join —
    # the deferred checkpoint materializes it once inside the first
    # consumer's job. The checkpoint does NOT keep the window's hash
    # partitioning on _b (its LogicalRDD reports UnknownPartitioning),
    # so the counts aggregate below plans its own Exchange
    # hashpartitioning(_b) — cheap: the map-side partial max leaves one
    # row per bucket per partition (plans/r17/dense_rank_counts_shape.txt)
    ranked = b.withColumn("_rn", F.dense_rank().over(w_in)).localCheckpoint(eager=False)
    counts = ranked.groupBy("_b").agg(F.max("_rn").alias("_n"))
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = counts.withColumn("_off", F.sum("_n").over(w_off) - F.col("_n")).select(
        "_b", "_off"
    )
    return (
        ranked.join(F.broadcast(offsets), on="_b")
        .withColumn(out_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_b", "_rn", "_off")
    )


def semi_filter(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left-semi join: keep df rows whose key tuple appears in ``keys``
    (reference J6/P7 — INNER JOIN to a distinct list / tuple-IN subquery,
    ``analysis.sql:147-148,233``). Catalyst broadcasts ``keys`` when
    small; semantics never duplicate df rows, unlike a raw inner join.
    """
    return df.join(keys.select(*on).distinct(), on=list(on), how="left_semi")


def anti_filter(df: DataFrame, keys: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left-anti complement of :func:`semi_filter` (used by
    insert-if-absent SCD semantics, ``inserting-data.sql:44,57,104``)."""
    return df.join(keys.select(*on).distinct(), on=list(on), how="left_anti")


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """SQL UNION (dedup) of same-schema inputs (reference U1,
    ``inserting-data.sql:26-28``, ``analysis.sql:113-115``)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.distinct()


def dedup_distinct(df: DataFrame, cols: Sequence[str] | None = None, canonicalize: bool = False) -> DataFrame:
    """SELECT DISTINCT over (optionally null-canonicalized) columns
    (reference A7 + F4 — the dimension-build dedup pattern,
    ``inserting-data.sql:23-28,75-80``). ``canonicalize=True`` maps NULL
    string cells to '' first, matching the reference's COALESCE-to-''
    discipline (NULL and '' intentionally conflate)."""
    if cols:
        df = df.select(*cols)
    if canonicalize:
        df = df.select(
            *[
                canonicalize_nulls(c).alias(c) if t == "string" else F.col(c)
                for c, t in df.dtypes
            ]
        )
    return df.distinct()


def null_canonical_join(
    left: DataFrame,
    right: DataFrame,
    pairs: Sequence[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """Equi-join on COALESCE(col,'') = COALESCE(col,'') for each pair
    (reference J4, ``inserting-data.sql:170-175``). Conflates NULL and
    '' by design — use ``eqNullSafe`` joins when that conflation is NOT
    wanted."""
    cond = None
    for lc, rc in pairs:
        c = canonicalize_nulls(left[lc]) == canonicalize_nulls(right[rc])
        cond = c if cond is None else (cond & c)
    return left.join(right, cond, how)


def drop_columns_matching(df: DataFrame, substring: str) -> DataFrame:
    """Column-name predicate filter (reference P8: drop all columns
    whose name contains 'census', ``python.py:121-124``).
    Case-insensitive, like the reference's ``.str.contains`` usage."""
    keep = [c for c in df.columns if substring.lower() not in c.lower()]
    return df.select(*[F.col(f"`{c}`") for c in keep])


def limit_preview(df: DataFrame, n: int = 1000) -> DataFrame:
    """CTAS + LIMIT preview snapshot (reference S6,
    ``inserting-data.sql:7-10``). LocalLimit pushes into the scan."""
    return df.limit(n)


def fuzzy_join_qgram(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    q: int = 3,
    min_shared: int = 2,
    max_distance: int = 2,
) -> DataFrame:
    """Edit-distance-bounded string join WITHOUT a cross product — the
    entity-resolution primitive (dirty natural keys, misspelled company
    names). Candidates are pairs sharing at least ``min_shared``
    distinct character q-grams — an equi-join on the q-gram, the same
    never-all-pairs discipline as the LSH dedup family — then verified
    exactly with ``levenshtein() <= max_distance``. Candidate volume is
    bounded by q-gram co-occurrence, not |L|x|R|; at scale, cap hot
    q-grams the way ``dedup.candidate_pairs`` caps hot LSH buckets.
    Returns distinct verified (left_val, right_val, distance) pairs."""
    def grams(df, col, out):
        base = df.select(F.col(col).alias(out)).distinct()
        v = F.col(out)
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(v) - (q - 1), F.lit(1))),
                lambda i: v.substr(i, F.lit(q)),
            )
        )
        return base.select(out, F.explode(g).alias("_gram"))

    lg = grams(left, left_col, "left_val")
    rg = grams(right, right_col, "right_val")
    cands = (
        lg.join(rg, on="_gram")
        .groupBy("left_val", "right_val")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
    )
    return (
        cands.withColumn(
            "distance", F.levenshtein("left_val", "right_val").cast("long")
        )
        .filter(F.col("distance") <= max_distance)
        .select("left_val", "right_val", "distance")
    )
