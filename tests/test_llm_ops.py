"""Property tests for the LLM-pipeline operators (dedup, simhash,
similarity) beyond the oracle differentials."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_implementation_spark.operators import dedup, similarity
from data_warehouse_implementation_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def test_near_dup_finds_planted_pairs_and_only_high_jaccard(spark):
    docs = load_tables(spark, SF)["documents"]
    pairs = dedup.near_dup_pairs(docs, threshold=0.5).collect()
    assert len(pairs) > 0  # the generator plants near-dups
    assert all(r.jaccard >= 0.5 for r in pairs)
    assert all(r.doc_a < r.doc_b for r in pairs)


def test_near_dup_plan_has_no_cartesian_product(spark):
    docs = load_tables(spark, SF)["documents"]
    plan = (
        dedup.near_dup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_identical_docs_get_identical_simhash_and_fingerprint(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different set of words entirely here"),
        ],
        "doc_id long, text string",
    )
    from data_warehouse_implementation_spark.operators import text as text_ops

    tokens = df.select(
        "doc_id", F.explode(F.array_distinct(text_ops.words("text"))).alias("token")
    )
    d = dedup.build_dictionary(tokens, "token")
    tids = tokens.join(d, on="token").select("doc_id", "tid")
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(tids).collect()}
    assert sh[1] == sh[2] != sh[3]

    pos = df.select("doc_id", F.posexplode(text_ops.words("text")).alias("pos", "token"))
    d2 = dedup.build_dictionary(pos, "token")
    fp_in = pos.join(d2, on="token").select("doc_id", "pos", "tid")
    fp = {r.doc_id: r.fingerprint for r in text_ops.fingerprint(fp_in).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_fingerprint_is_order_sensitive(spark):
    from data_warehouse_implementation_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )
    pos = df.select("doc_id", F.posexplode(text_ops.words("text")).alias("pos", "token"))
    d = dedup.build_dictionary(pos, "token")
    fp_in = pos.join(d, on="token").select("doc_id", "pos", "tid")
    fp = {r.doc_id: r.fingerprint for r in text_ops.fingerprint(fp_in).collect()}
    assert fp[1] != fp[2]  # same token set, different order


def test_cosine_topk_self_similarity_and_ordering(spark):
    emb = load_tables(spark, SF)["embeddings"]
    out = similarity.cosine_topk(emb.filter("vec_id < 3"), emb, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rank for r in rows] == [1, 2, 3, 4]
        scores = [r.cosine for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != q for r in rows)
        assert all(-1.0000001 <= r.cosine <= 1.0000001 for r in rows)


def test_ivf_probe_stays_in_cell(spark):
    emb = load_tables(spark, SF)["embeddings"]
    out = similarity.cosine_topk(emb.filter("vec_id < 5"), emb, k=3, cell_col="label")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert labels[r.neighbor_id] == labels[r.query_id]


def test_build_dictionary_matches_global_rank(spark):
    """The bucketed two-phase ranking must equal row_number() OVER
    (ORDER BY value) — including unicode, empty strings, and shared
    prefixes (binary collation)."""
    vals = [
        "", "a", "aa", "ab", "b", "banana", "zebra", "Zebra", "éclair",
        "łódź", "中文", "z", "0digit", " space", "a b",
    ]
    df = spark.createDataFrame([(v,) for v in vals for _ in (0, 1)], "item string")
    got = {
        r.item: r.tid for r in dedup.build_dictionary(df, "item").collect()
    }
    expected = {v: i + 1 for i, v in enumerate(sorted(set(vals)))}
    assert got == expected


def test_near_dup_hashed_mode_parity_and_no_global_sort(spark):
    """xxhash64 shingle ids (production mode) must confirm the same
    verified pair set as the rank dictionary on the test corpus (the
    exact-Jaccard verification is mode-independent; only LSH candidate
    recall could differ), and its plan must contain NO ranking window
    and NO single-partition exchange anywhere."""
    from data_warehouse_implementation_spark.plans import llm_queries

    t = load_tables(spark, SF)
    rank_pairs = {
        (r.doc_a, r.doc_b) for r in llm_queries.near_dup_minhash(t).collect()
    }
    hashed_df = llm_queries.near_dup_minhash(t, hashed=True)
    hashed_pairs = {(r.doc_a, r.doc_b) for r in hashed_df.collect()}
    assert len(rank_pairs) > 0
    assert hashed_pairs == rank_pairs
    # the production path must be free of global sequential structure
    sids = dedup.shingle_ids(dedup.word_shingles(t["documents"], n=3), hashed=True)
    plan = sids._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan and "SinglePartition" not in plan, plan
    assert "Exchange" not in plan, plan  # fully map-side


def test_simhash_band_pairs_full_recall_within_hamming_budget(spark):
    """Pigeonhole: with 4 bands, ANY pair within hamming <= 3 shares an
    intact band — banding must find every such pair (recall = 1), and
    verification must drop every pair beyond the budget."""
    base = 0b1011_0110_0011_1100
    sims = [
        (1, base),
        (2, base ^ 0b1),            # ham 1
        (3, base ^ 0b1100),         # ham 2 (single band)
        (4, base ^ 0b1000_0100_0001),  # ham 3, spread across 3 bands
        (5, base ^ 0xF0F0),         # ham 8 — candidate maybe, verified out
        (6, 0),                     # far away
    ]
    sim = spark.createDataFrame(sims, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_band_pairs(sim, bits=16, bands=4, max_hamming=3).collect()
    }
    expected = {}
    for i, (ida, sa) in enumerate(sims):
        for idb, sb in sims[i + 1:]:
            h = bin(sa ^ sb).count("1")
            if h <= 3:
                expected[(ida, idb)] = h
    assert got == expected
    assert (1, 5) not in got  # ham 8 verified out despite band collision odds


def test_assign_cells_is_nearest_centroid(spark):
    vectors = spark.createDataFrame(
        [
            (10, [0.0, 0.1]),
            (11, [5.0, 5.2]),
            (12, [0.4, 0.0]),
            (13, [2.5, 2.5]),  # equidistant from both -> smaller cen_id
        ],
        "vec_id long, embedding array<double>",
    )
    centroids = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [5.0, 5.0])], "cen_id long, cen_vec array<double>"
    )
    got = {r.vec_id: r.cell_id for r in similarity.assign_cells(vectors, centroids).collect()}
    assert got == {10: 0, 11: 1, 12: 0, 13: 0}


def test_connected_components_labels_min_reachable(spark):
    """Chain, triangle, isolated pair: every node's cluster_id must be
    the smallest id reachable from it."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),     # chain -> all label 1
            (10, 11), (11, 12), (10, 12),       # triangle -> label 10
            (20, 21),                           # pair -> label 20
        ],
        "doc_a long, doc_b long",
    )
    got = {r.id: r.cluster_id for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


def test_char_trigram_features_counts(spark):
    from data_warehouse_implementation_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "zzz qqq"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text_ops.char_trigram_features(df).collect()}
    # '_the_cat_' has 7 trigrams; '_th','the','he_' hit the EN profile
    assert out[1].n_trigrams == 7 and out[1].trigram_hits == 3
    assert out[1].ngram_lang_pred == "en"
    assert out[2].trigram_hits == 0 and out[2].ngram_lang_pred == "unknown"
    assert out[3].n_trigrams == 0 and out[3].ngram_score == 0.0


def test_hot_bucket_cap_prunes_boilerplate_candidate_explosion(spark):
    # 40 docs sharing one boilerplate band bucket would emit C(40,2)=780
    # pairs; with the cap the hot bucket contributes nothing while the
    # rare-bucket pair survives.
    rows = [(i, 0, "boiler") for i in range(40)] + [(100, 0, "rare"), (101, 0, "rare")]
    bands = spark.createDataFrame(rows, "doc_id long, band_id int, band_key string")
    uncapped = dedup.candidate_pairs(bands)
    capped = dedup.candidate_pairs(bands, max_bucket_size=5)
    assert uncapped.count() == 780 + 1
    got = [(r.doc_a, r.doc_b) for r in capped.collect()]
    assert got == [(100, 101)]


def test_profile_table_counts_nulls_and_distincts(spark):
    from data_warehouse_implementation_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "a", None), (3, None, 2.5), (4, "b", 2.5)],
        "id long, s string, v double",
    )
    prof = {r.column_name: r for r in profile_table(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_distinct == 4
    assert prof["s"].n_nonnull == 3 and prof["s"].n_distinct == 2
    assert prof["s"].min_value == "a" and prof["s"].max_value == "b"
    # double min/max stringify through the decimal cast
    assert prof["v"].min_value == "1.50" and prof["v"].max_value == "2.50"
    assert prof["v"].n_nonnull == 3 and prof["v"].n_distinct == 2


def test_pq_adc_exact_on_duplicate_vectors(spark):
    """A corpus vector identical to the query must get ADC distance 0
    and rank first — PQ is lossy, but codes of identical inputs are
    identical, so the approximation error cancels exactly."""
    from data_warehouse_implementation_spark.operators import similarity

    emb = load_tables(spark, SF)["embeddings"]
    dup = emb.filter("vec_id = 3").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    sub_cen = similarity.pq_subvectors(corpus.filter("vec_id < 16"), 8).select(
        "j", F.col("vec_id").alias("cen_id"), F.col("subvec").alias("cen_sub")
    )
    codes = similarity.pq_encode(corpus, sub_cen, 8)
    out = similarity.pq_adc_topk(
        corpus.filter("vec_id = 3"), codes, sub_cen, 8, k=3
    ).collect()
    first = [r for r in out if r.rank == 1][0]
    assert first.neighbor_id == 100003
    assert first.adc_dist2 == 0.0


def test_hyperplane_signature_packs_full_64_bits(spark):
    """The sign-LSH signature must pack correctly up to the full 64-bit
    long — including bit 63, whose shifted term is Long.MIN_VALUE (a
    Python `1 << 63` literal overflows a long, the round-9 packing
    fix): every band extracted from the packed long equals the band
    recomputed bit-by-bit from the projection signs."""
    from data_warehouse_implementation_spark.operators import similarity

    HYPERPLANE_SCALE = similarity.HYPERPLANE_SCALE
    vecs = spark.createDataFrame(
        [(i, [((i * 13 + j * 7) % 19 - 9) / 3.0 for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    sig = {r.vec_id: r.hypersig for r in
           similarity.hyperplane_signature(vecs, n_bits=64).collect()}
    # python replay of the documented integer arithmetic
    rows = {r.vec_id: r.embedding for r in vecs.collect()}
    any_negative = False
    for vid, v in rows.items():
        q = [round(x * HYPERPLANE_SCALE) for x in v]
        bits = []
        for i in range(64):
            w = [((i * 131 + 7) + j * 31) * 2654435761 % 97 - 48 for j in range(len(q))]
            bits.append(1 if sum(a * b for a, b in zip(q, w)) >= 0 else 0)
        expected = sum(b << i for b, i in zip(bits, range(64)))
        if expected >= 1 << 63:  # two's-complement long
            expected -= 1 << 64
        any_negative = any_negative or expected < 0
        assert sig[vid] == expected, (vid, sig[vid], expected)
        # band extraction (the query-side shiftright+mask) survives the
        # sign bit: check all eight 8-bit bands
        for b in range(8):
            got_band = (sig[vid] >> (b * 8)) & 0xFF
            want_band = sum(bit << k for k, bit in enumerate(bits[b * 8 : b * 8 + 8]))
            assert got_band == want_band
    assert any_negative, "test data must exercise a set bit 63"


def test_corpus_scale_cache_stages_to_parquet(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_STAGE_DIR set, corpus-scale intermediates are
    persisted as parquet staging tables (not executor memory) and the
    query result is unchanged."""
    import os as _os

    from data_warehouse_implementation_spark.plans import llm_queries, materialize

    t = load_tables(spark, SF)
    want = {(r.doc_a, r.doc_b) for r in llm_queries.near_dup_minhash(t).collect()}
    materialize.clear()
    stage = str(tmp_path / "stage")
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", stage)
    got = {(r.doc_a, r.doc_b) for r in llm_queries.near_dup_minhash(t).collect()}
    materialize.clear()
    assert got == want
    staged = _os.listdir(stage)
    assert any(d.startswith("near_dup_doc_tids_rank") for d in staged), staged


def test_curation_and_ann_in_staged_cache_mode(spark, tmp_path, monkeypatch):
    """RUNBOOK §4.1's claim that the 100× switch is a config change:
    the END-TO-END curation ladder and the IVF+PQ ANN stack must return
    identical results when every corpus-scale session cache (near-dup
    shingles/bands/pairs, ANN cell assignment, PQ codes) is staged to
    parquet via SPARK_GRAFT_STAGE_DIR instead of executor memory — and
    the ANN staging tables must actually exist on disk."""
    import os as _os

    from data_warehouse_implementation_spark.plans import (
        curation,
        llm_queries,
        materialize,
    )

    t = load_tables(spark, SF)
    want_cur = [tuple(r) for r in curation.corpus_curation_e2e(t).collect()]
    want_ann = [tuple(r) for r in llm_queries.embedding_ann_ivfpq(t).collect()]
    materialize.clear()
    stage = str(tmp_path / "stage")
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", stage)
    try:
        got_cur = [tuple(r) for r in curation.corpus_curation_e2e(t).collect()]
        got_ann = [tuple(r) for r in llm_queries.embedding_ann_ivfpq(t).collect()]
    finally:
        materialize.clear()
    assert got_cur == want_cur and len(got_cur) > 0
    assert got_ann == want_ann and len(got_ann) > 0
    staged = _os.listdir(stage)
    for prefix in ("ann_cells", "ann_pq_codes"):
        assert any(d.startswith(prefix) for d in staged), (prefix, staged)


def test_multiprobe_recall_dominates_single_probe(spark):
    """2-probe candidates are a superset of 1-probe candidates, so
    multiprobe recall vs brute force must be >= single-probe recall."""
    from data_warehouse_implementation_spark.plans import llm_queries

    t = load_tables(spark, "/root/testdata/sf0.01")
    brute = {
        (r.query_id, r.neighbor_id)
        for r in llm_queries.embedding_cosine_topk(t).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in llm_queries.embedding_ann_kmeans(t).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in llm_queries.embedding_ann_multiprobe(t).collect()
    }
    assert len(multi & brute) >= len(single & brute)


def test_kmeans_fit_inertia_non_increasing(spark):
    """Lloyd iterations must not increase inertia (sum of squared
    distance to the assigned centroid) — the textbook monotonicity
    guarantee, checked on the real embedding table."""
    from data_warehouse_implementation_spark.operators.similarity import (
        assign_cells,
        dot,
        kmeans_fit,
    )

    emb = load_tables(spark, SF)["embeddings"]

    def inertia(centroids):
        a = assign_cells(emb, centroids)
        joined = (
            emb.select("vec_id", "embedding")
            .join(a, on="vec_id")
            .join(
                centroids.withColumnRenamed("cen_id", "cell_id"),
                on="cell_id",
            )
        )
        d2 = (
            dot(F.col("embedding"), F.col("embedding"))
            - 2 * dot(F.col("embedding"), F.col("cen_vec"))
            + dot(F.col("cen_vec"), F.col("cen_vec"))
        )
        return joined.select(F.sum(d2).alias("s")).collect()[0].s

    cen1, _ = kmeans_fit(emb, k=4, iters=1)
    cen4, assigned = kmeans_fit(emb, k=4, iters=4)
    i1, i4 = inertia(cen1), inertia(cen4)
    assert i4 <= i1 * (1 + 1e-9), (i1, i4)
    # every vector assigned, exactly k centroids
    assert assigned.count() == emb.count()
    assert cen4.count() == 4
    # the returned (centroids, assignment) pair is mutually consistent:
    # each vector's cell is its nearest cell under the RETURNED centroids
    want = {r.vec_id: r.cell_id for r in assign_cells(emb, cen4).collect()}
    got = {r.vec_id: r.cell_id for r in assigned.collect()}
    assert got == want


def test_dense_blocked_topk_matches_brute_force(spark):
    """Block-matmul candidate generation + exact re-scoring must equal
    the broadcast brute-force result row for row (ids, ranks, and
    bit-identical cosine scores)."""
    emb = load_tables(spark, SF)["embeddings"]
    q = emb.filter("vec_id < 20")
    brute = similarity.cosine_topk(q, emb, k=4).collect()
    blocked = similarity.dense_topk_blocked(q, emb, k=4, n_blocks=8).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    b = {key(r): (r.neighbor_id, r.cosine) for r in brute}
    g = {key(r): (r.neighbor_id, r.cosine) for r in blocked}
    assert b == g and len(b) == 20 * 4


def test_prefix_join_complete_vs_brute_force(spark):
    """Prefix filtering must be lossless: the pruned pipeline's pairs
    at Jaccard >= 3/5 must equal an all-pairs exact computation (any
    pair with nonzero Jaccard shares a token, so the full token
    equi-join enumerates every relevant pair)."""
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_prefix_join(docs).collect()
    }

    tok = dedup.word_shingles(docs, n=3).withColumnRenamed("shingle", "token")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ta = tok.select(F.col("doc_id").alias("doc_a"), "token")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        ta.join(tb, on="token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    brute = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), on="doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), on="doc_b")
        .filter(F.col("inter") * 5 >= (F.col("sza") + F.col("szb") - F.col("inter")) * 3)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    want = {(r.doc_a, r.doc_b): r.jaccard for r in brute.collect()}
    assert got == want and len(got) > 0


def test_prefix_join_no_global_vocab_window(spark):
    """RUNBOOK §3 engine-wide invariant: the rare-first token ranking
    inside ``jaccard_prefix_join`` must be the range-partitioned
    two-phase rank (``relational.global_rank``), never a single-task
    ``row_number() OVER (ORDER BY ...)`` across the whole vocabulary.
    Every row_number window in the physical plan must be partitioned —
    by the deterministic rank bucket (``_b``, the rank phase) or by the
    document (``doc_id``, the per-doc prefix position)."""
    docs = load_tables(spark, SF)["documents"]
    out = dedup.jaccard_prefix_join(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_b" in line or "doc_id" in line, f"global row_number window:\n{line}"


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["aa", "bb", "cc", "dd", "ee", "ff"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    )
)
def test_prefix_join_complete_property(spark, docs):
    """Prefix filtering must be lossless on ARBITRARY tiny corpora —
    including threshold-boundary pairs where jaccard == 3/5 exactly
    (the integer ceil arithmetic's edge). 1-word shingles maximize
    token collisions."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_prefix_join(df, n=1).collect()
    }
    sets = {i: set(ws) for i, ws in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter * 5 >= union * 3:
                    want.add((a, b))
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8),
        min_size=2,
        max_size=12,
    )
)
def test_containment_prefix_join_complete_property(spark, docs):
    """The asymmetric prefix + positional filters must be lossless on
    ARBITRARY tiny corpora — including threshold-boundary pairs where
    containment == 7/10 exactly, equal-size role ties, and size-1 sets
    (whose prefix is the whole set). 1-word shingles maximize token
    collisions."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.containment_prefix_join(df, n=1).collect()
    }
    sets = {i: set(ws) for i, ws in enumerate(docs)}
    want = set()
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                mn = min(len(sets[a]), len(sets[b]))
                if inter * 10 >= mn * 7:
                    want.add((a, b))
    assert got == want


def test_semantic_dedup_greedy_keeps_chain_survivors(spark):
    """The keep-rule divergence the oracle differential cannot see when
    both sides encode the same rule: in a similarity chain a-b-c (pairs
    (a,b) and (b,c) only), the paper's greedy scan keeps c — it is only
    similar to b, which was already dropped — while the strict census
    drops every higher-id side of any pair. Embeddings are crafted so
    cos(a,b) and cos(b,c) clear NEAR_DUP_COSINE but cos(a,c) does not."""
    import math

    from data_warehouse_implementation_spark.plans import llm_queries

    # unit vectors in the plane at 0°, 55°, 110°: cos(55°) ≈ 0.574 >=
    # 0.30 threshold for adjacent pairs, cos(110°) ≈ -0.342 < threshold
    # for the ends
    def vec(deg: float) -> list[float]:
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    emb = spark.createDataFrame(
        [
            (1, vec(0.0), 0),
            (2, vec(55.0), 0),
            (3, vec(110.0), 0),
            # second cluster: an isolated vector — kept by both rules
            (10, vec(0.0), 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    t = {"embeddings": emb}
    pairs = {
        (r.vec_a, r.vec_b)
        for r in llm_queries.embedding_near_dup(t).collect()
    }
    assert pairs == {(1, 2), (2, 3)}, pairs
    greedy = {r.label: r for r in llm_queries.semantic_dedup_greedy(t).collect()}
    strict = {r.label: r for r in llm_queries.semantic_dedup_census(t).collect()}
    # greedy: keep 1, drop 2 (similar to kept 1), KEEP 3 (only similar
    # to dropped 2); strict drops both 2 and 3
    assert (greedy[0].n_kept, greedy[0].n_dropped) == (2, 1)
    assert (strict[0].n_kept, strict[0].n_dropped) == (1, 2)
    assert (greedy[1].n_kept, greedy[1].n_dropped) == (1, 0)
    assert (strict[1].n_kept, strict[1].n_dropped) == (1, 0)


def test_containment_prefix_join_complete_vs_brute_force(spark):
    """The asymmetric prefix filter must be lossless, including on the
    exact shape banded LSH under-recalls: a tiny document embedded
    verbatim in a much larger one (containment 1.0, jaccard ~0.02 —
    far below any jaccard screen). Brute force = all co-token pairs
    with overlap-coefficient >= 7/10."""
    small = "alpha beta gamma delta epsilon"
    huge = small + " " + " ".join(f"w{i} w{i}x w{i}y" for i in range(60))
    rows = [
        (1, small),                      # contained in 2 — must surface
        (2, huge),
        (3, "alpha beta gamma zeta"),    # 2 of 2 shingles shared with 1? no: n=3
        (4, " ".join(f"n{i}" for i in range(30))),  # noise
        (5, small + " omega"),           # heavy overlap with 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in dedup.containment_prefix_join(df).collect()
    }

    # brute force over full shingle sets
    import itertools

    def shingles(text):
        ws = text.lower().split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        mn = min(len(sets[a]), len(sets[b]))
        if mn and inter * 10 >= mn * 7:
            want[(a, b)] = (
                inter / mn,
                inter / (len(sets[a]) + len(sets[b]) - inter),
            )
    assert got == want
    assert (1, 2) in got and got[(1, 2)][0] == 1.0 and got[(1, 2)][1] < 0.05


def test_containment_capped_join_adversarial_stop_shingles(spark):
    """The hot-token cap on an adversarial corpus: a stop-shingle
    ("the same words") shared by EVERY doc. Pairs whose only shared
    probe token is that stop-shingle vanish under the cap (the loud,
    accounted truncation); pairs that also share a RARE probe token
    survive identically to the exact join; the accounting row counts
    exactly the at-risk probes and the capped candidate-volume bound."""
    stop = "the same words again and again"  # 4 shingles, in every doc
    small_text = "alpha beta gamma delta " + stop
    rows = [
        # pair (1,2): tiny doc textually contained in big one, with
        # RARE leading shingles (alpha/beta/gamma windows, df 2)
        (1, small_text),
        (2, small_text + " " + " ".join(f"w{i}" for i in range(40))),
        # pair (3,4): ONLY the stop shingles are shared (3's prefix is
        # all-hot once the cap bites) — capped join must drop it
        (3, stop),
        (4, stop + " " + " ".join(f"q{i}" for i in range(40))),
        # more carriers so the stop shingles exceed the df cap
        (5, stop + " " + " ".join(f"r{i}" for i in range(20))),
        (6, stop + " " + " ".join(f"s{i}" for i in range(20))),
        (7, stop + " " + " ".join(f"t{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 4  # stop shingles have df 7 > 4; everything else df <= 2
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.containment_prefix_join(df).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.containment_prefix_join(df, max_token_df=cap).collect()
    }
    assert (1, 2) in exact and (3, 4) in exact
    assert (1, 2) in capped, "rare-token pair must survive the cap"
    assert (3, 4) not in capped, "stop-shingle-only pair must be truncated"
    assert capped <= exact, "the cap may only REMOVE pairs, never add"
    # the accounting row makes the truncation loud
    ordered = dedup.rank_ordered_tokens(dedup.word_shingles(df, n=3))
    stats = dedup.prefix_hot_token_stats(ordered, 7, 10, cap).collect()[0]
    # doc 3 is all-hot (its whole prefix is stop shingles) -> at risk;
    # docs with rare-token prefixes are not
    assert stats.docs_at_risk >= 1
    assert stats.probe_rows_dropped >= 1
    assert stats.cand_bound_capped < stats.cand_bound_uncapped
    assert stats.max_probe_df == 7
    # and an uncapped census of the same corpus reports zero risk
    clean = dedup.prefix_hot_token_stats(ordered, 7, 10, 10_000).collect()[0]
    assert clean.docs_at_risk == 0 and clean.probe_rows_dropped == 0
    assert clean.cand_bound_capped == clean.cand_bound_uncapped


def test_containment_prefix_join_no_global_vocab_window(spark):
    """Same RUNBOOK §3 invariant as the jaccard prefix join: the token
    ranking must be the deterministic two-phase rank."""
    docs = load_tables(spark, SF)["documents"]
    out = dedup.containment_prefix_join(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_b" in line or "doc_id" in line, f"global row_number window:\n{line}"


def test_semantic_dedup_greedy_long_chain_past_old_round_cap(spark):
    """Regression for the silent 25-round truncation (VERDICT r5 #2):
    the peeling loop must run TO FIXPOINT. A 60-vector AR(1)-style
    similarity chain (cos(v_i, v_j) = 0.45^|i-j|: adjacent pairs 0.45
    >= 0.30 threshold, distance-2 pairs 0.2025 < threshold) needs 30
    peeling rounds — past the old cap, where the truncated loop would
    silently keep every still-undecided vertex. The greedy scan on a
    pure chain keeps exactly the even positions: 30 kept, 30 dropped."""
    import numpy as np

    from data_warehouse_implementation_spark.plans import llm_queries

    n, rho = 60, 0.45
    vecs = np.zeros((n, n))
    vecs[0, 0] = 1.0
    for i in range(1, n):
        vecs[i] = rho * vecs[i - 1]
        vecs[i, i] = float(np.sqrt(1.0 - rho * rho))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(n)],
        "vec_id long, embedding array<double>, label int",
    )
    t = {"embeddings": emb}
    pairs = {
        (r.vec_a, r.vec_b) for r in llm_queries.embedding_near_dup(t).collect()
    }
    assert pairs == {(i, i + 1) for i in range(n - 1)}, pairs
    out = llm_queries.semantic_dedup_greedy(t).collect()
    assert len(out) == 1
    assert (out[0].n_vectors, out[0].n_kept, out[0].n_dropped) == (n, n // 2, n // 2)


def test_capped_subset_join_equals_direct_verification(spark):
    """Pin the subset-join equivalence near_dup_capped relies on: the
    capped candidates joined against the cached verified set must equal
    pairwise_jaccard re-run directly on the capped candidate set."""
    from data_warehouse_implementation_spark.plans import llm_queries as lq

    t = {"documents": load_tables(spark, SF)["documents"]}
    stack = lq._shared_stack(t, hashed=False)
    capped_cands = dedup.candidate_pairs(
        stack["bands"], max_bucket_size=lq.NEAR_DUP_MAX_BUCKET
    ).cache()
    direct = (
        dedup.pairwise_jaccard(capped_cands, stack["doc_tids"])
        .filter(F.col("jaccard") >= lq.NEAR_DUP_THRESHOLD)
        .collect()
    )
    via_join = lq.near_dup_capped(t).collect()
    key = lambda rows: sorted((r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in rows)
    assert key(direct) == key(via_join)


def test_incremental_subset_join_equals_direct_verification(spark):
    """Same pin for near_dup_incremental: the new x corpus candidates
    verified directly must equal the (least, greatest) join against the
    cached verified set — including pairs where new_id > corpus_id."""
    from data_warehouse_implementation_spark.plans import llm_queries as lq

    t = {"documents": load_tables(spark, SF)["documents"]}
    stack = lq._shared_stack(t, hashed=False)
    bands = stack["bands"]
    is_new = F.col("doc_id") % 4 == 0
    new_b = bands.filter(is_new).select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    old_b = bands.filter(~is_new).select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    cands = (
        new_b.join(old_b, on=["band_id", "band_key"]).select("doc_a", "doc_b").distinct()
    )
    direct = (
        dedup.pairwise_jaccard(cands, stack["doc_tids"])
        .filter(F.col("jaccard") >= lq.NEAR_DUP_THRESHOLD)
        .collect()
    )
    via_join = lq.near_dup_incremental(t).collect()
    want = sorted((r.doc_a, r.doc_b, round(r.jaccard, 12)) for r in direct)
    got = sorted((r.new_id, r.corpus_id, round(r.jaccard, 12)) for r in via_join)
    assert want == got


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """Overlap-coefficient semantics: a 5-item set fully contained in a
    20-item set has containment 1.0 but jaccard 0.25 — above any
    containment threshold, far below the jaccard one. Exact values
    asserted through pairwise_jaccard's include_containment path."""
    tids = spark.createDataFrame(
        [(1, t) for t in range(5)] + [(2, t) for t in range(20)],
        "doc_id long, tid long",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    row = dedup.pairwise_jaccard(pairs, tids, include_containment=True).collect()[0]
    assert row.containment == 1.0
    assert abs(row.jaccard - 0.25) < 1e-12
    # default path is unchanged: no containment column
    assert "containment" not in dedup.pairwise_jaccard(pairs, tids).columns


def test_global_rank_consistent_over_cached_multibranch_input(spark):
    """Regression for the round-6 sampled-range bug: global_rank's
    counts branch and rank branch both consume the bucketed frame, and
    with a sampled RangePartitioner each branch could draw DIFFERENT
    boundaries when the shared subtree is evaluated once per branch
    (observed through InMemoryRelation scans: ranks silently corrupted
    AND rows dropped by the offset join). With pure value-derived
    buckets this cannot happen: ids off a CACHED input must equal ids
    off the fresh input, equal the row_number reference, and the
    dictionary join must lose zero rows."""
    docs = load_tables(spark, SF)["documents"]
    cached = dedup.word_shingles(docs, n=3).cache()
    n_rows = cached.count()  # materialize the cache
    fresh = dedup.word_shingles(docs, n=3)
    tids_c = dedup.shingle_ids(cached)
    tids_f = dedup.shingle_ids(fresh)
    got_c = {(r.doc_id, r.tid) for r in tids_c.collect()}
    got_f = {(r.doc_id, r.tid) for r in tids_f.collect()}
    assert len(got_c) == n_rows, "dictionary join dropped rows"
    assert got_c == got_f
    ref = {
        s: i + 1
        for i, s in enumerate(
            sorted(r.shingle for r in cached.select("shingle").distinct().collect())
        )
    }
    d = {r.shingle: r.tid for r in dedup.build_dictionary(cached, "shingle").collect()}
    assert d == ref
    cached.unpersist()


def test_global_rank_sparse_hashed_numeric_keys(spark):
    """The numeric default bucket derives its width from a broadcast
    min/max aggregate, so SPARSE ids spanning the full signed-64 range
    (xxhash64-style keys) rank correctly and do NOT degenerate to one
    row per bucket (the old fixed-width default would make every key
    its own bucket, pushing the whole rank into the offsets window)."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import relational

    df = (
        spark.range(2000)
        .select(F.xxhash64(F.col("id").cast("string")).alias("k"))
        .repartition(7)
    )
    got = relational.global_rank(df, ["k"], "r")
    rows = got.collect()
    expect = {k: i + 1 for i, k in enumerate(sorted(r.k for r in rows))}
    assert {r.k: r.r for r in rows} == expect
    # bucket count is bounded: re-derive the default bucket expression's
    # cardinality (the scratch column is dropped from the output, so
    # count it on a clone of the arithmetic)
    stats = df.agg(
        F.min(F.col("k").cast("double")).alias("lo"),
        F.max(F.col("k").cast("double")).alias("hi"),
    )
    width = F.greatest(F.lit(4096.0), (F.col("hi") - F.col("lo") + 1) / F.lit(65536.0))
    n_buckets = (
        df.crossJoin(F.broadcast(stats))
        .select(F.floor((F.col("k").cast("double") - F.col("lo")) / width).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets <= 65537
    assert n_buckets < 2000  # NOT one bucket per row


def test_global_rank_date_leading_key(spark):
    """DateType leading keys go through unix_date — a raw long cast of
    DATE fails analysis (ADVICE r6), so the accepted-type list must
    actually work, not just be advertised."""
    from datetime import date

    from data_warehouse_implementation_spark.operators import relational

    rows = [(date(2020, 1, 1 + (i * 7) % 28), i) for i in range(60)]
    df = spark.createDataFrame(rows, "d date, tie long").repartition(5)
    got = {(r.d, r.tie): r.r for r in relational.global_rank(df, ["d", "tie"], "r").collect()}
    expect = {k: i + 1 for i, k in enumerate(sorted(got))}
    assert got == expect


def test_jaccard_prefix_join_hot_token_cap(spark):
    """The jaccard twin's |bucket|^2 exposure: identical stop-shingle
    docs pair only through hot tokens (dropped under the cap), while a
    rare-token near-identical pair survives; the cap may only remove
    pairs. A stale `ordered` without dfreq raises loudly instead of
    failing analysis downstream."""
    stop = "the same words again and again"
    rows = [
        (1, stop),  # identical pair (1,2): all-hot prefixes
        (2, stop),
        (3, stop + " t3a t3b t3c t3d"),
        (4, stop + " t4a t4b t4c t4d"),
        (5, stop + " t5a t5b t5c t5d"),
        (6, stop + " t6a t6b t6c t6d"),
        (7, "u1 u2 u3 u4 u5 u6 u7"),  # rare-token pair (7,8): J = 4/6
        (8, "u1 u2 u3 u4 u5 u6 u8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 4  # stop shingles have df 6
    exact = {(r.doc_a, r.doc_b) for r in dedup.jaccard_prefix_join(df).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_prefix_join(df, max_token_df=cap).collect()
    }
    assert (1, 2) in exact and (7, 8) in exact
    assert (7, 8) in capped and (1, 2) not in capped
    assert capped <= exact
    import pytest as _pytest

    stale = dedup.rank_ordered_tokens(dedup.word_shingles(df, n=3)).drop("dfreq")
    with _pytest.raises(ValueError, match="dfreq"):
        dedup.jaccard_prefix_join(df, ordered=stale, max_token_df=cap)
    with _pytest.raises(ValueError, match="dfreq"):
        dedup.containment_prefix_join(df, ordered=stale, max_token_df=cap)


def test_global_rank_null_numeric_keys_not_dropped(spark):
    """NULL leading keys must rank (NULLS FIRST), not vanish: a null
    bucket would silently fail the offsets equi-join — the sentinel
    bucket routes them below every real bucket."""
    from data_warehouse_implementation_spark.operators import relational

    rows = [(None, 1), (5, 2), (None, 3), (100_000, 4), (-7, 5)]
    df = spark.createDataFrame(rows, "k long, tie long").repartition(3)
    got = {r.tie: r.r for r in relational.global_rank(df, ["k", "tie"], "r").collect()}
    # NULLS FIRST, then ascending k; tie asc
    expect_order = [(None, 1), (None, 3), (-7, 5), (5, 2), (100_000, 4)]
    assert got == {tie: i + 1 for i, (_, tie) in enumerate(expect_order)}
    assert len(got) == 5, "null-keyed rows dropped"


# ---------------------------------------------------------------------------
# Hypothesis differentials for the prefix-filtered similarity joins —
# the positional filter + hot-token cap are the subtlest algebra in the
# dedup family, so random corpora pin them against brute force.

from hypothesis import HealthCheck as _HC
from hypothesis import given as _given
from hypothesis import settings as _hsettings
from hypothesis import strategies as _hst

_pj_corpus = _hst.lists(
    _hst.lists(_hst.sampled_from("abcde"), min_size=2, max_size=10).map(
        lambda ws: " ".join(ws)
    ),
    min_size=2,
    max_size=7,
)


def _shingle_sets(texts, n=2):
    out = {}
    for i, t in enumerate(texts):
        ws = t.lower().split()
        if len(ws) >= n:
            out[i] = {" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)}
    return out


@_hsettings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture],
)
@_given(texts=_pj_corpus, cap=_hst.integers(min_value=1, max_value=3))
def test_prefix_joins_match_brute_force_random_corpora(spark, texts, cap):
    """Exact jaccard (3/5) and containment (7/10) prefix joins must
    equal brute force over every random corpus (zero false negatives,
    zero false positives, exact values); capped variants must be
    subsets of the exact answers with identical surviving values."""
    import itertools

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(3)
    sets = _shingle_sets(texts, n=2)

    want_j, want_c = {}, {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        mn = min(len(sets[a]), len(sets[b]))
        if union and inter * 5 >= union * 3:
            want_j[(a, b)] = inter / union
        if mn and inter * 10 >= mn * 7:
            want_c[(a, b)] = inter / mn

    got_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_prefix_join(df, n=2).collect()
    }
    got_c = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_prefix_join(df, n=2).collect()
    }
    assert got_j == pytest_approx_dict(want_j)
    assert got_c == pytest_approx_dict(want_c)

    capped_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_prefix_join(df, n=2, max_token_df=cap).collect()
    }
    capped_c = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_prefix_join(df, n=2, max_token_df=cap).collect()
    }
    assert set(capped_j) <= set(got_j)
    assert set(capped_c) <= set(got_c)
    for k in capped_j:
        assert capped_j[k] == got_j[k]
    for k in capped_c:
        assert capped_c[k] == got_c[k]


def pytest_approx_dict(d, tol=1e-12):
    """Comparison helper: dict equality with per-value tolerance."""
    class _D(dict):
        def __eq__(self, other):
            return set(self) == set(other) and all(
                abs(self[k] - other[k]) <= tol for k in self
            )
        __hash__ = None

    return _D(d)


def test_derived_width_bucket_contract(spark):
    """The shared range-bucket helper: monotone non-decreasing in the
    key, bounded bucket count on full-range sparse keys, NULLs in the
    sentinel bucket below every real one, dense keys at min_width."""
    from data_warehouse_implementation_spark.operators.relational import (
        derived_width_bucket,
    )

    # sparse: full signed-64 span
    sparse = spark.range(3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("k")
    )
    b = derived_width_bucket(sparse, F.col("k"), "b")
    rows = sorted(b.collect(), key=lambda r: r.k)
    assert all(x.b <= y.b for x, y in zip(rows, rows[1:])), "not monotone"
    assert b.select("b").distinct().count() <= 65537
    # dense ids: min_width honored (ids 0..9999 / 4096 -> 3 buckets)
    dense = spark.range(10_000).select(F.col("id").alias("k"))
    nb = derived_width_bucket(dense, F.col("k"), "b").select("b").distinct().count()
    assert nb == 3
    # nulls: sentinel below every real bucket
    withnull = spark.createDataFrame([(None,), (5,), (9999,)], "k long")
    got = {r.k: r.b for r in derived_width_bucket(withnull, F.col("k"), "b").collect()}
    assert got[None] == -1 and got[None] < min(got[5], got[9999])
    assert len(got) == 3, "null row dropped"


def test_vision_pack_partition_invariant_and_no_global_window(spark):
    """media_vision_pack: the patch-sequence packing must be a pure
    function of the image set (partition-invariant), and the packing
    plan must use the two-phase cumsum, never a corpus-wide
    unpartitioned window over per-image rows."""
    from data_warehouse_implementation_spark.plans import llm_queries
    from data_warehouse_implementation_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    base = llm_queries.media_vision_pack(t)
    rows = sorted(map(tuple, base.collect()))
    # repartitioned input, same result
    t2 = dict(t)
    t2["documents"] = t["documents"].repartition(7)
    again = sorted(map(tuple, llm_queries.media_vision_pack(t2).collect()))
    assert again == rows
    # n_patches from the generating formula; seq boundaries respect the
    # budget (an image never starts inside a full sequence)
    for media_id, n_patches, patch_start, seq_id in rows:
        w, h = 4 + media_id % 5, 3 + media_id % 4
        assert n_patches == (w // 2) * (h // 2)
        assert seq_id == patch_start // llm_queries.VISION_SEQ_BUDGET
    # plan: every Window has a partitionBy EXCEPT the bounded
    # #buckets-row offsets window of the two-phase cumsum
    plan = base._jdf.queryExecution().executedPlan().toString()
    import re

    unpartitioned = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "partitionBy" not in ln and re.search(r"windowspecdefinition\((?!_bkt|media_id)", ln)
    ]
    # the only unpartitioned windows may be over _bkt-aggregated rows
    for ln in unpartitioned:
        assert "_bkt" in ln, f"corpus-wide window in plan: {ln}"


def test_fuzzy_decontam_broadcasts_benchmark_side(spark):
    """doc_decontaminate_fuzzy: the benchmark band table (tiny by
    construction) must reach the candidate join as a broadcast, so the
    corpus side streams through one pass — the 100 TB shape claimed in
    the docstring."""
    from data_warehouse_implementation_spark.plans import llm_queries
    from data_warehouse_implementation_spark.plans import materialize
    from data_warehouse_implementation_spark.session import load_tables

    materialize.clear()
    t = load_tables(spark, "/root/testdata/sf0.001")
    df = llm_queries.doc_decontaminate_fuzzy(t)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # and the pairs it reports are symmetric-verified: jaccard >= theta
    for r in df.collect():
        assert r.jaccard >= llm_queries.NEAR_DUP_THRESHOLD
        assert r.bench_id < 20 <= r.corpus_id


def test_lsh_capped_bands_hash_threshold_replay(spark):
    """The LSH hot-bucket MEMBERSHIP cap (round 10, VERDICT r9 #2):
    buckets at or under the cap keep every member (the `h % bucket_n <
    cap` predicate is vacuously true when bucket_n <= cap), hot buckets
    keep exactly the members whose Knuth-hash slot lands under the cap
    — replayed here bit-for-bit in pure Python, the same arithmetic the
    DuckDB oracle replays. No window anywhere: the plan must stay
    census-groupBy + broadcast-join + filter."""
    from data_warehouse_implementation_spark.plans import llm_queries as lq

    hot = [(i, 0, 7) for i in range(40)]          # one bucket of 40
    cold = [(1000 + i, 1, 3) for i in range(5)]   # one bucket of 5
    bands = spark.createDataFrame(
        hot + cold, "vec_id long, band_id int, band_key long"
    )
    cap = 8
    kept = {
        (r.vec_id, r.band_id)
        for r in lq._lsh_capped_bands(bands, cap).collect()
    }

    def slot(vec_id: int, bucket_n: int) -> int:
        h = ((vec_id % lq._LSH_MEMBER_PREMOD) * lq._LSH_MEMBER_MULT) % lq._LSH_MEMBER_MOD
        return h % bucket_n

    expect = {(i, 0) for i in range(40) if slot(i, 40) < cap}
    expect |= {(1000 + i, 1) for i in range(5)}  # cold bucket intact
    assert kept == expect
    n_hot_kept = sum(1 for (_, b) in kept if b == 0)
    assert 0 < n_hot_kept < 40  # the cap genuinely truncated the hot bucket
    # scale shape: no window/sort in the physical plan, census joined broadcast
    plan = lq._lsh_capped_bands(bands, cap)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_trained_language_model_separates_real_languages(spark):
    """VERDICT r11 #8: on a corpus where language actually determines
    the text (unlike the label-independent synthetic corpus), the
    trained per-language trigram model must classify HOLDOUT docs
    correctly across all three languages — strictly fewer confusions
    than the en-only stopword heuristic, which cannot name de/fr at
    all. Also pins the uniform-prior path (balanced classes)."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import text as text_ops

    en = ["the cat sat on the mat with the dog and the bird",
          "this is the house that jack built in the town today",
          "she sells sea shells by the shore all day long",
          "a quick brown fox jumps over the lazy dog again"]
    de = ["der hund sitzt auf der matte mit der katze und dem vogel",
          "dies ist das haus welches heute in der stadt gebaut wurde",
          "sie verkauft muscheln am ufer den ganzen langen tag",
          "ein schneller brauner fuchs springt wieder ueber den faulen hund"]
    fr = ["le chat est assis sur le tapis avec le chien et un oiseau",
          "ceci est la maison qui fut construite dans la ville",
          "elle vend des coquillages au bord de la mer toute la journee",
          "un renard brun rapide saute encore par dessus le chien paresseux"]
    rows = [
        (i, t, l)
        for i, (t, l) in enumerate(
            (t, l) for l, ts in [("en", en), ("de", de), ("fr", fr)] for t in ts
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    profiles = text_ops.train_language_profiles(train)
    pred = text_ops.language_model_predict(
        text_ops.language_model_scores(docs, profiles)
    ).join(docs.select("doc_id", "lang"), "doc_id")
    hold = [r for r in pred.collect() if r.doc_id % 2 == 1]
    model_errors = sum(r.lang_pred_model != r.lang for r in hold)
    # the heuristic can only ever be right on en docs
    heur = text_ops.language_features(docs.filter(F.col("doc_id") % 2 == 1))
    heur_errors = sum(r.lang_pred != r.lang for r in heur.collect())
    assert model_errors < heur_errors, (model_errors, heur_errors)
    assert model_errors == 0, [
        (r.doc_id, r.lang, r.lang_pred_model) for r in hold if r.lang_pred_model != r.lang
    ]
    # every language is actually named, not just the majority class
    assert {r.lang_pred_model for r in hold} == {"en", "de", "fr"}


def test_language_model_map_prior_shifts_skewed_corpus(spark):
    """The priors frame is MAP evidence: with a 3:1 en-skewed training
    slice and a text whose trigram evidence is neutral (unseen
    everywhere), the prior must decide the argmax; with uniform priors
    the tie falls to the (score desc, lang asc) tie-break."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [(0, "the cat sat", "en"), (1, "the dog ran", "en"), (2, "the owl flew", "en"),
         (3, "der hund lief", "de")],
        "doc_id long, text string, lang string",
    )
    probe = spark.createDataFrame([(9, "zzz qqq xxx")], "doc_id long, text string")
    profiles = text_ops.train_language_profiles(train)
    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    with_prior = text_ops.language_model_predict(
        text_ops.language_model_scores(probe, profiles, priors=priors)
    ).collect()[0]
    assert with_prior.lang_pred_model == "en"
    # uniform prior: all-unseen trigrams give every lang the same
    # numerator; the smaller model (de) has the larger 1/(T_l+V)
    # factor, so pure likelihood prefers it
    no_prior = text_ops.language_model_predict(
        text_ops.language_model_scores(probe, profiles)
    ).collect()[0]
    assert no_prior.lang_pred_model == "de"


def test_language_model_hashed_mode_matches_exact_and_guards_mismatch(spark):
    """Production hashed-feature mode (DSIR's fixed-size-model trick):
    with enough buckets that no trigram collides in this corpus, the
    hashed model must predict exactly what the exact model predicts;
    and a train/score hashed_buckets mismatch must raise eagerly
    instead of silently joining nothing."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "en"), (1, "der hund lief zum haus", "de"),
         (2, "the dog ran to the house", "en"), (3, "die katze sass auf der matte", "de")],
        "doc_id long, text string, lang string",
    )
    train = docs.filter(F.col("doc_id") < 2)
    exact_prof = text_ops.train_language_profiles(train)
    hashed_prof = text_ops.train_language_profiles(train, hashed_buckets=1 << 20)
    exact = {
        r.doc_id: r.lang_pred_model
        for r in text_ops.language_model_predict(
            text_ops.language_model_scores(docs, exact_prof)
        ).collect()
    }
    hashed = {
        r.doc_id: r.lang_pred_model
        for r in text_ops.language_model_predict(
            text_ops.language_model_scores(docs, hashed_prof, hashed_buckets=1 << 20)
        ).collect()
    }
    assert hashed == exact and set(exact) == {0, 1, 2, 3}

    with pytest.raises(ValueError, match="hashed_buckets"):
        text_ops.language_model_scores(docs, hashed_prof)  # trained hashed, scored exact
    with pytest.raises(ValueError, match="hashed_buckets"):
        text_ops.language_model_scores(docs, exact_prof, hashed_buckets=64)
    # round-12 review: two DIFFERENT bucket counts share the gram type —
    # the _buckets constant stamped on the model must catch it
    with pytest.raises(ValueError, match="hashed_buckets=1048576"):
        text_ops.language_model_scores(docs, hashed_prof, hashed_buckets=4096)


def test_decontaminate_embeddings_verdicts_ties_and_empty_benchmark(spark):
    """Embedding decontamination invariants: threshold boundary is
    inclusive, equal-cosine ties name the smallest benchmark id, and
    an EMPTY benchmark set yields null match/cosine with
    contaminated=false instead of an ANSI array error."""
    from data_warehouse_implementation_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0]), (12, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # bench 1 and 2 are the SAME direction: ties must pick bid 1
    bench = spark.createDataFrame(
        [(1, [2.0, 0.0]), (2, [4.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: r
        for r in similarity.decontaminate_embeddings(corpus, bench, 1.0).collect()
    }
    assert out[10].matched_benchmark_id == 1 and out[10].contaminated  # cos=1.0 inclusive
    assert out[11].matched_benchmark_id == 3 and out[11].contaminated
    assert out[12].contaminated is False and 0.70 < out[12].best_cosine < 0.71

    # zero-norm vectors on either side: NULL cosine, never contaminated,
    # and a degenerate benchmark entry must LOSE the argmax to any real
    # candidate (struct comparison would otherwise put its NULL first)
    zb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [2.0, 0.0])], "vec_id long, embedding array<float>"
    )
    zc = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    z = {r.vec_id: r for r in similarity.decontaminate_embeddings(zc, zb, 0.9).collect()}
    assert z[10].matched_benchmark_id == 2 and z[10].contaminated
    # an all-degenerate argmax names NO match (a bid the row was never
    # scored against would be dishonest) — null across the board
    assert z[11].matched_benchmark_id is None
    assert z[11].best_cosine is None and z[11].contaminated is False

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in similarity.decontaminate_embeddings(corpus, empty, 0.5).collect()}
    assert set(got) == {10, 11, 12}
    assert all(
        r.matched_benchmark_id is None and r.best_cosine is None and r.contaminated is False
        for r in got.values()
    )


def test_quality_classifier_separates_on_separable_corpus(spark):
    """VERDICT r12 #4: on a corpus where the hq/lq vocabulary actually
    differs (unlike the near-label-independent synthetic corpus), the
    word-feature Naive-Bayes model trained on rule labels must
    classify HOLDOUT docs into the rule's own classes correctly —
    the distilled gate generalizes off the training slice."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import text as text_ops

    hq = ["the detailed analysis shows the method works across domains",
          "the careful study presents the results with thorough context",
          "the report explains the system design and the evaluation",
          "the article reviews the approach and the measured outcomes"]
    lq = ["buy cheap pills now click here win prizes fast",
          "zzz qqq spam spam spam click click buy buy",
          "free money win now cheap cheap click spam",
          "click here buy now win free cheap pills zzz"]
    rows = [
        (i, t, lab)
        for i, (t, lab) in enumerate(
            (t, lab) for lab, ts in [("hq", hq), ("lq", lq)] for t in ts
        )
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label string")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    profiles = text_ops.train_language_profiles(
        train, lang_col="label", feature_fn=text_ops.words
    )
    priors = train.groupBy(F.col("label").alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    pred = text_ops.language_model_predict(
        text_ops.language_model_scores(
            docs, profiles, priors=priors, feature_fn=text_ops.words
        )
    ).join(docs.select("doc_id", "label"), "doc_id")
    hold = [r for r in pred.collect() if r.doc_id % 2 == 1]
    assert hold, "holdout empty"
    wrong = [(r.doc_id, r.label, r.lang_pred_model) for r in hold
             if r.lang_pred_model != r.label]
    assert not wrong, wrong
    # both classes actually named on the holdout
    assert {r.lang_pred_model for r in hold} == {"hq", "lq"}


def test_quality_classifier_hashed_mode_matches_exact(spark):
    """Hashed-feature production mode for WORD features (open
    vocabulary — the case hashed_buckets exists for): with enough
    buckets that no word collides here, hashed predictions must equal
    exact predictions; the feature_fn must ride through both paths."""
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(0, "the detailed report explains the design", "hq"),
         (1, "buy cheap pills click spam now", "lq"),
         (2, "the study presents thorough measured results", "hq"),
         (3, "win free money click here zzz", "lq")],
        "doc_id long, text string, label string",
    )
    train = docs.filter(F.col("doc_id") < 2)
    exact_prof = text_ops.train_language_profiles(
        train, lang_col="label", feature_fn=text_ops.words
    )
    hashed_prof = text_ops.train_language_profiles(
        train, lang_col="label", feature_fn=text_ops.words, hashed_buckets=1 << 20
    )
    exact = {
        r.doc_id: r.lang_pred_model
        for r in text_ops.language_model_predict(
            text_ops.language_model_scores(docs, exact_prof, feature_fn=text_ops.words)
        ).collect()
    }
    hashed = {
        r.doc_id: r.lang_pred_model
        for r in text_ops.language_model_predict(
            text_ops.language_model_scores(
                docs, hashed_prof, feature_fn=text_ops.words,
                hashed_buckets=1 << 20,
            )
        ).collect()
    }
    assert exact == hashed and set(exact) == {0, 1, 2, 3}


def test_quality_classifier_query_shape(spark):
    """doc_quality_classifier over the real sf0.001 corpus: one row
    per scoreable doc, binary labels/preds, holdout flag = odd ids,
    and the confusion census's cells sum to the holdout row count."""
    from data_warehouse_implementation_spark.plans import corpus_queries as cq
    from data_warehouse_implementation_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    out = cq.doc_quality_classifier(t).collect()
    assert out, "no rows"
    assert {r.label_rule for r in out} <= {"hq", "lq"}
    assert {r.label_pred for r in out} <= {"hq", "lq"}
    for r in out[:50]:
        assert r.is_holdout == (r.doc_id % cq.QC_TRAIN_MOD != 0)
        assert (r.label_rule == "hq") == (r.verdict == "kept")
    cells = cq.doc_quality_confusion(t).collect()
    n_hold = sum(1 for r in out if r.is_holdout)
    assert sum(r.n_docs for r in cells) == n_hold
    for lab in {r.label_rule for r in cells}:
        tot = sum(r.share_of_true for r in cells if r.label_rule == lab)
        assert abs(tot - 1.0) < 1e-12


def test_quality_pr_curve_invariants(spark):
    """PR-curve structural invariants on the real sf0.001 corpus:
    one row per holdout doc, rank is a permutation, thresholds
    non-increasing in rank, cum-style precision/recall consistent
    with a direct pandas replay of the same ordering."""
    from data_warehouse_implementation_spark.plans import corpus_queries as cq
    from data_warehouse_implementation_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    rows = cq.doc_quality_pr_curve(t).collect()
    assert rows
    n = len(rows)
    assert sorted(r.rk for r in rows) == list(range(1, n + 1))
    by_rk = sorted(rows, key=lambda r: r.rk)
    ths = [r.threshold for r in by_rk]
    assert all(a >= b for a, b in zip(ths, ths[1:]))
    cum = 0
    tot = sum(r.is_hq for r in rows)
    for r in by_rk:
        cum += r.is_hq
        assert abs(r.precision_at_k - cum / r.rk) < 1e-12
        assert abs(r.recall_at_k - cum / tot) < 1e-12
    assert by_rk[-1].recall_at_k == 1.0


def test_semantic_dedup_keep_policy_and_cap(spark):
    """SemDeDup on a crafted frame: a 3-member dup group keeps exactly
    the member FURTHEST from its cell centroid (lowest centroid
    cosine, ties by vec_id); a vector outside any group never appears
    in the dedup rows but counts in the stats; the per-cell membership
    cap excludes late vec_ids from the pair stage and the stats row
    says so loudly."""
    from data_warehouse_implementation_spark.plans import llm_queries as lq

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)

    def vec(x, y):
        v = [0.0] * dim
        v[0], v[1] = x, y
        return v

    # vec_ids < SEMDEDUP_CENTROIDS are the seed centroids; make 0 and 1
    # two well-separated centroids, put a dup trio + a loner near
    # centroid 0 and nothing near centroid 1
    rows = [(0, vec(10.0, 0.0), 0), (1, vec(-10.0, 0.0), 1)]
    rows += [(i, vec(-10.0 + i * 1e-6, 5.0), 1) for i in range(2, lq.SEMDEDUP_CENTROIDS)]
    # trio: nearly parallel (cosine ~1), graded distance to centroid 0
    # trio direction ~29 deg off centroid 0 (cosine ~0.87 < tau, so the
    # centroid VECTOR itself joins no group) but mutually near-parallel
    rows += [
        (100, vec(9.0, 5.0), 0),    # closest to the centroid direction
        (101, vec(9.0, 5.001), 0),
        (102, vec(9.0, 5.5), 0),    # furthest from centroid -> KEEP
    ]
    rows += [(103, vec(10.0, -9.0), 0)]  # same cell, not a dup of the trio
    emb = spark.createDataFrame(
        [(i, v, l) for i, v, l in rows], "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in lq.embedding_semantic_dedup({"embeddings": emb}).collect()}
    assert set(out) == {100, 101, 102}
    assert len({out[i].group_id for i in (100, 101, 102)}) == 1
    assert out[100].group_id == 100
    keeps = [i for i in (100, 101, 102) if out[i].keep]
    assert keeps == [102]  # the edge example survives
    stats = {
        r.cell_id: r
        for r in lq.embedding_semantic_dedup_stats({"embeddings": emb}).collect()
    }
    c0 = stats[0]
    assert (c0.n_grouped, c0.n_groups, c0.n_dropped) == (3, 1, 2)
    assert c0.n_truncated == 0

    # cap engagement: flood cell 0 past the cap with vectors parallel
    # to an IN-CAP trio member -- truncated members form no pairs, and
    # the stats row records exactly how many were excluded
    extra = [
        (200 + k, vec(9.0, 5.0), 0) for k in range(lq.SEMDEDUP_CELL_CAP + 10)
    ]
    emb2 = spark.createDataFrame(
        [(i, v, l) for i, v, l in rows + extra],
        "vec_id long, embedding array<float>, label int",
    )
    stats2 = {
        r.cell_id: r
        for r in lq.embedding_semantic_dedup_stats({"embeddings": emb2}).collect()
    }
    c0b = stats2[0]
    assert c0b.n_truncated == c0b.n_members - lq.SEMDEDUP_CELL_CAP > 0


def test_semdedup_trained_policy_and_occupancy_compare(spark):
    """The TRAINED quantizer family (VERDICT r14 #3) on the same
    crafted frame: the dup trio still forms ONE group under trained
    cells (training moves cell boundaries, not pairwise cosines) and
    exactly one member survives with the furthest-from-centroid rule;
    the trained centroids satisfy kmeans_fit's quantizer invariant
    (every vector's cell is its nearest trained centroid); and the
    occupancy-compare census reports one coherent row per quantizer
    (cells used x max cell + truncation accounting consistent with the
    stats rows)."""
    from data_warehouse_implementation_spark.plans import llm_queries as lq

    dim = 64

    def vec(x, y):
        v = [0.0] * dim
        v[0], v[1] = x, y
        return v

    rows = [(0, vec(10.0, 0.0), 0), (1, vec(-10.0, 0.0), 1)]
    rows += [(i, vec(-10.0 + i * 1e-6, 5.0), 1) for i in range(2, lq.SEMDEDUP_CENTROIDS)]
    rows += [
        (100, vec(9.0, 5.0), 0),
        (101, vec(9.0, 5.001), 0),
        (102, vec(9.0, 5.5), 0),
        (103, vec(10.0, -9.0), 0),
    ]
    emb = spark.createDataFrame(
        [(i, v, l) for i, v, l in rows], "vec_id long, embedding array<float>, label int"
    )
    t = {"embeddings": emb}
    out = {r.vec_id: r for r in lq.embedding_semantic_dedup_trained(t).collect()}
    assert set(out) == {100, 101, 102}
    assert len({out[i].group_id for i in (100, 101, 102)}) == 1
    keeps = [i for i in (100, 101, 102) if out[i].keep]
    assert len(keeps) == 1
    # quantizer invariant: each vector's assigned cell is its nearest
    # returned centroid (ties by centroid id)
    cen = {r.cen_id: r.cen_vec for r in lq._semdedup_trained_centroids(emb).collect()}
    members = {
        r.vec_id: r for r in lq._semdedup_members_trained(emb).collect()
    }
    vecs = {i: v for i, v, _ in rows}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    for vid, m in members.items():
        best = min(cen, key=lambda c: (d2(vecs[vid], cen[c]), c))
        assert m.cell_id == best, (vid, m.cell_id, best)
    occ = {r.quantizer: r for r in lq.semdedup_occupancy_compare(t).collect()}
    assert set(occ) == {"seed", "trained"}
    # Lloyd's objective is non-increasing: the trained quantizer's
    # total inertia can never exceed the seed's
    dis = {r.quantizer: r for r in lq.quantizer_distortion_compare(t).collect()}
    assert dis["trained"].total_inertia <= dis["seed"].total_inertia
    tr_stats = lq.embedding_semantic_dedup_trained_stats(t).collect()
    assert occ["trained"].n_cells_used == len(tr_stats)
    assert occ["trained"].max_cell_members == max(r.n_members for r in tr_stats)
    assert occ["trained"].truncated_at_cap == sum(r.n_truncated for r in tr_stats)


def test_global_dense_rank_matches_window_dense_rank(spark):
    """global_dense_rank (optimization r15: per-bucket dense_rank +
    cumulative distinct-count offsets, the suffix-array doubling's
    rank kernel) equals the single-window dense_rank oracle on skewed
    duplicate-heavy numeric pairs, on string keys, and with NULLs in a
    non-leading key (count_distinct would drop those; the two-level
    groupBy must not)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_warehouse_implementation_spark.operators import relational

    # duplicate-heavy numeric pairs with a NULL-bearing second key
    df = (
        spark.range(5000)
        .select(
            (F.col("id") % 37).alias("a"),
            F.when(F.col("id") % 11 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("id") % 5)
            .alias("b"),
        )
        .repartition(7)
    )
    got = relational.global_dense_rank(df, ["a", "b"], "dr")
    expect = df.withColumn(
        "dr_w", F.dense_rank().over(Window.orderBy("a", "b"))
    )
    mism = (
        got.join(expect.distinct(), on=["a", "b"])
        .filter(F.col("dr") != F.col("dr_w"))
        .count()
    )
    assert mism == 0
    # string leading key (prefix bucketing path)
    sdf = spark.createDataFrame(
        [(w,) for w in ["apple", "apricot", "banana", "banana", "cherry", "ape"]],
        "w string",
    )
    got_s = relational.global_dense_rank(sdf, ["w"], "dr").collect()
    order = {"ape": 1, "apple": 2, "apricot": 3, "banana": 4, "cherry": 5}
    assert all(r.dr == order[r.w] for r in got_s)


def test_hyperplane_signature_null_vectors_yield_null(spark):
    """ADVICE r15: NULL embeddings (and NULL elements) must degrade to
    a NULL signature — the pre-Arrow column fold's NULL propagation —
    instead of crashing the Python worker; non-null rows in the same
    batch keep their exact signatures."""
    from data_warehouse_implementation_spark.operators import similarity

    clean = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    want = {r.vec_id: r.hypersig for r in
            similarity.hyperplane_signature(clean, n_bits=16).collect()}
    mixed = spark.createDataFrame(
        [
            (1, [0.5, -0.25, 1.0]),
            (2, [0.0, 0.0, 0.0]),
            (3, None),
            (4, [0.5, None, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.hypersig for r in
           similarity.hyperplane_signature(mixed, n_bits=16).collect()}
    assert got[3] is None and got[4] is None
    assert got[1] == want[1] and got[2] == want[2]
