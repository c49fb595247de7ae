"""Suffix-array exact-substring tests (VERDICT r12 #8): brute-force
differential for the per-position longest-duplicate lengths, the
census identity against the fixed-k positional-gram census, and the
exactness bound."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from data_warehouse_implementation_spark.operators import corpus, suffix


def _brute_dup_lengths(docs: list[tuple[int, str]]) -> dict[tuple[int, int], int]:
    toks = {
        d: [w for w in re.split(r"\s+", t.lower()) if w] for d, t in docs
    }
    toks = {d: a for d, a in toks.items() if a}
    out = {}
    for d, a in toks.items():
        for p in range(len(a)):
            best = 0
            for d2, a2 in toks.items():
                for p2 in range(len(a2)):
                    if (d2, p2) == (d, p):
                        continue
                    l = 0
                    while (
                        p + l < len(a)
                        and p2 + l < len(a2)
                        and a[p + l] == a2[p2 + l]
                    ):
                        l += 1
                    best = max(best, l)
            out[(d, p + 1)] = best
    return out


CORPUS = [
    # docs 1/2 share a 9-token passage (longer than the census k=5 —
    # the length only the suffix array can name); doc 3 repeats a
    # 3-token phrase INSIDE itself (below threshold, dup_len 3); doc 4
    # is a verbatim copy of doc 5 (full-length duplicate); doc 6 is
    # all-unique
    (1, "alpha beta gamma delta epsilon zeta eta theta iota unique1"),
    (2, "unique2 alpha beta gamma delta epsilon zeta eta theta iota"),
    (3, "red green blue stop red green blue"),
    (4, "the full copy lives twice"),
    (5, "the full copy lives twice"),
    (6, "one two three four five six"),
]


def test_suffix_dup_lengths_match_brute_force(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, rounds=4).collect()
    }
    want = _brute_dup_lengths(CORPUS)
    assert got == want
    # the 9-token shared passage is named at full length
    assert got[(1, 1)] == 9 and got[(2, 2)] == 9
    # the within-doc repeat is found at length 3
    assert got[(3, 1)] == 3 and got[(3, 5)] == 3
    # full-copy docs: every position duplicated to end-of-doc
    assert got[(4, 1)] == 5 and got[(5, 1)] == 5
    # the all-unique doc never matches beyond single shared tokens
    assert max(got[(6, p)] for p in range(1, 7)) <= 1


def test_suffix_census_equals_kgram_census_at_threshold(spark):
    """The maximal-substring identity: SA coverage at threshold k ==
    the positional k-gram census's coverage (docs with >= k tokens;
    max_dup_len is the strictly-stronger extra column)."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    k = 5
    sa = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in suffix.suffix_dup_census(
            suffix.suffix_dup_lengths(df, rounds=4), threshold=k
        ).collect()
        if r.n_tokens >= k
    }
    kg = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in corpus.substring_dup_census(df, k=k).collect()
    }
    assert sa == kg
    # and beyond the identity: the census at k says docs 1/2 have SOME
    # >=5 duplication; only max_dup_len says it is 9 tokens long
    full = {
        r.doc_id: r.max_dup_len
        for r in suffix.suffix_dup_census(
            suffix.suffix_dup_lengths(df, rounds=4), threshold=k
        ).collect()
    }
    assert full[1] == 9 and full[2] == 9


def test_suffix_rounds_idempotent_past_convergence(spark):
    """Extra doubling rounds past 2^rounds >= max doc length change
    nothing (dense-ranking distinct values is the identity) — the
    guard that makes a pinned rounds constant safe at smaller SFs."""
    df = spark.createDataFrame(CORPUS[:3], "doc_id long, text string")
    a = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, rounds=4).collect()
    }
    b = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, rounds=6).collect()
    }
    assert a == b


def test_sa_rounds_cover_driver_corpora():
    """SA_ROUNDS (the ORACLE's fixed unroll depth — the Spark operator
    derives its own) must satisfy the exactness bound 2^rounds >= max
    doc tokens on every driver corpus, else the fixed-depth DuckDB
    replay and the derived-depth operator could legitimately diverge
    (checked against the real testdata without Spark)."""
    import duckdb

    from data_warehouse_implementation_spark.plans.corpus_queries import SA_ROUNDS

    for sf in ["0.001", "0.01", "0.1"]:
        m = duckdb.sql(
            "SELECT max(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
            f" x -> x <> ''))) FROM read_parquet('/root/testdata/sf{sf}/documents.parquet')"
        ).fetchone()[0]
        assert m <= (1 << SA_ROUNDS), (sf, m, SA_ROUNDS)
    # the generated sf1 corpus (tools/oracle_sf1.py, v2 long tail) must
    # (a) fit the sf1 tool's own deeper unroll and (b) actually EXCEED
    # the driver bound, so the sf1 battery genuinely exercises a deeper
    # derived depth than every driver corpus (VERDICT r14 #7)
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    sf1_doc = repo / "testdata_sf1" / "documents.parquet"
    if sf1_doc.exists() and (repo / "testdata_sf1" / ".generated_v2").exists():
        sys.path.insert(0, str(repo / "tools"))
        from oracle_sf1 import SF1_SA_ROUNDS

        m = duckdb.sql(
            "SELECT max(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
            f" x -> x <> ''))) FROM read_parquet('{sf1_doc}')"
        ).fetchone()[0]
        assert m <= (1 << SF1_SA_ROUNDS), (m, SF1_SA_ROUNDS)
        assert m > (1 << SA_ROUNDS), (m, SA_ROUNDS)


def test_derived_rounds_and_early_exit_match_fixed_depth(spark):
    """VERDICT r13 #3: rounds=None derives the doubling depth from the
    max-token-count scalar and early-exits on rank convergence — the
    result must be bit-equal to a generously fixed depth (and to the
    brute force)."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    derived = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, rounds=None).collect()
    }
    assert derived == _brute_dup_lengths(CORPUS)
    # single-token and empty-ish corpora exercise the rounds=0 path
    tiny = spark.createDataFrame([(1, "solo"), (2, "solo")], "doc_id long, text string")
    got = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(tiny, rounds=None).collect()
    }
    assert got == {(1, 1): 1, (2, 1): 1}


def test_hashed_mode_parity(spark):
    """VERDICT r13 #7: the production hashed-token mode (map-side
    xxhash64 round-0 ids) must be bit-equal to the replayable rank
    mode — dup_len is an LCP maximum, invariant under alphabet
    relabeling. Pinned on the synthetic corpus AND on the driver's
    sf0.001 documents table (the near_dup_minhash_hashed discipline:
    this is what makes the registry row's rank-mode oracle a real
    differential for the hashed path)."""
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    rank_mode = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, rounds=None).collect()
    }
    hashed = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(
            df, rounds=None, hashed_tokens=True
        ).collect()
    }
    assert hashed == rank_mode
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    a = suffix.suffix_dup_census(
        suffix.suffix_dup_lengths(docs, rounds=None), threshold=5
    )
    b = suffix.suffix_dup_census(
        suffix.suffix_dup_lengths(docs, rounds=None, hashed_tokens=True), threshold=5
    )
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b


def test_hashed_mode_single_token_docs_bucket_bound(spark, monkeypatch):
    """Single-token documents derive zero doubling rounds, so in hashed
    mode the adjacency rank runs straight on the round-0 hash keys,
    which spread over [1, HASH_P63]. Its bucket must be the hash-key
    bucket (at most 65,536 values), not the dense-rank one, which gives
    about one bucket per row; the result must still equal rank mode."""
    from data_warehouse_implementation_spark.operators import relational

    top_bucket = []
    real = relational.global_rank

    def spy(df, keys, out_col, bucket=None, **kw):
        top_bucket.append(df.agg(F.max(bucket)).first()[0])
        return real(df, keys, out_col, bucket=bucket, **kw)

    monkeypatch.setattr(relational, "global_rank", spy)
    words = [f"w{i % 40}" for i in range(120)] + [f"solo{i}" for i in range(30)]
    df = spark.createDataFrame(list(enumerate(words)), "doc_id long, text string")
    rank_mode = {
        (r.doc_id, r.p): r.dup_len for r in suffix.suffix_dup_lengths(df).collect()
    }
    hashed = {
        (r.doc_id, r.p): r.dup_len
        for r in suffix.suffix_dup_lengths(df, hashed_tokens=True).collect()
    }
    assert hashed == rank_mode
    assert sum(rank_mode.values()) == 120  # every w* token repeats
    rank_top, hash_top = top_bucket
    assert rank_top == 0
    assert hash_top < 65536  # bucket ids start at 0


def test_sa_dedup_equals_fixed_k_when_spans_exactly_k(spark):
    """VERDICT r13 #4 pin (a): when every duplicated span is exactly k
    tokens long, the SA removal at min_len=k coincides with the
    fixed-k pass — same occurrences, same family keys, same coverage,
    same canonical tie order."""
    data = [
        (1, "a b c d e u1 u2"),
        (2, "v1 a b c d e v2"),
        (3, "the full copy tells all"),
        (4, "the full copy tells all"),
        (5, "w1 w2 w3 w4 w5 w6"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    sa = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in suffix.sa_substring_dedup(df, min_len=5).collect()
    }
    kg = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in corpus.substring_dedup(df, k=5).collect()
    }
    assert sa == kg
    # the copy-pair: first copy survives verbatim, second loses the span
    assert sa[3] == (5, 0, "the full copy tells all")
    assert sa[4] == (5, 5, "")


def test_sa_dedup_removes_span_fixed_k_misses(spark):
    """VERDICT r13 #4 pin (b): a duplicated 3-token span is invisible
    to the k=5 pass but removed by the SA pass at min_len=3 — and a
    LONG span's non-canonical occurrence is removed over its FULL
    maximal length, not a fixed window."""
    data = [
        (1, "red green blue u1 u2 u3 u4"),
        (2, "v1 v2 red green blue v3 v4"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    kg = {r.doc_id: r.n_removed for r in corpus.substring_dedup(df, k=5).collect()}
    assert kg == {1: 0, 2: 0}  # fixed-k=5 is blind to the 3-token span
    sa = {
        r.doc_id: (r.n_removed, r.cleaned_text)
        for r in suffix.sa_substring_dedup(df, min_len=3).collect()
    }
    assert sa[1] == (0, "red green blue u1 u2 u3 u4")  # canonical copy kept
    assert sa[2] == (3, "v1 v2 v3 v4")
    # full-length removal of a 9-token span at min_len=5: coverage is
    # the maximal match, not 5-token windows around qualifying starts
    long = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota x1"),
        (2, "y1 alpha beta gamma delta epsilon zeta eta theta iota"),
    ]
    ldf = spark.createDataFrame(long, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_removed, r.cleaned_text)
        for r in suffix.sa_substring_dedup(ldf, min_len=5).collect()
    }
    assert got[1] == (0, "alpha beta gamma delta epsilon zeta eta theta iota x1")
    assert got[2] == (9, "y1")


def test_global_rank_rejects_scratch_out_col(spark):
    """The guard the SA operator tripped: out_col named like an
    internal scratch column must raise, not silently drop."""
    from data_warehouse_implementation_spark.operators.relational import global_rank

    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="scratch"):
        global_rank(df, ["x"], "_rn")


def _brute_sa_dedup(
    docs: list[tuple[int, str]], min_len: int
) -> dict[int, tuple[int, int, str]]:
    """Reference implementation of sa_substring_dedup's policy: starts
    are positions whose brute-force dup_len >= min_len, each covering
    its FULL maximal span; families key by the leading min_len-gram;
    the corpus-first (doc, pos) per family is canonical; a position is
    removed iff covered ONLY by non-canonical occurrences."""
    dl = _brute_dup_lengths(docs)
    toks = {d: [w for w in re.split(r"\s+", t.lower()) if w] for d, t in docs}
    toks = {d: a for d, a in toks.items() if a}
    starts = [
        (d, p, dl[(d, p)])
        for d, a in toks.items()
        for p in range(1, len(a) + 1)
        if dl[(d, p)] >= min_len
    ]
    fam: dict[tuple[str, ...], tuple[int, int]] = {}
    for d, p, _l in sorted(starts):
        key = tuple(toks[d][p - 1 : p - 1 + min_len])
        fam.setdefault(key, (d, p))
    covered: dict[tuple[int, int], bool] = {}
    for d, p, l in starts:
        key = tuple(toks[d][p - 1 : p - 1 + min_len])
        canon = fam[key] == (d, p)
        for q in range(p, p + l):
            covered[(d, q)] = covered.get((d, q), False) or canon
    out = {}
    for d, a in toks.items():
        kept = [
            a[q - 1]
            for q in range(1, len(a) + 1)
            if (d, q) not in covered or covered[(d, q)]
        ]
        out[d] = (len(a), len(a) - len(kept), " ".join(kept))
    return out


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_tiny_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_tiny_doc = st.lists(_tiny_word, min_size=1, max_size=12).map(" ".join)
_tiny_corpus = st.lists(_tiny_doc, min_size=1, max_size=6).map(
    lambda ds: [(i + 1, t) for i, t in enumerate(ds)]
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=_tiny_corpus, min_len=st.integers(min_value=2, max_value=4))
def test_sa_dedup_matches_brute_force_policy(spark, corpus, min_len):
    """Property differential: on tiny random corpora over a 4-word
    alphabet (duplication-dense by construction), sa_substring_dedup
    equals the spelled-out reference policy exactly — counts AND
    cleaned text."""
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in suffix.sa_substring_dedup(df, min_len=min_len).collect()
    }
    assert got == _brute_sa_dedup(corpus, min_len)
