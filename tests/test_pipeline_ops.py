"""Unit tests for the training-pipeline operators added beyond the
reference: connected-components dedup clustering, gap sessionization,
deterministic stratified sampling, and token-budget sequence packing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from gdutils_spark.operators.dedup import connected_components
from gdutils_spark.operators.sampling import (
    pack_sequences,
    pack_stats,
    stratified_sample,
)
from gdutils_spark.operators.sessions import session_stats, sessionize

EDGES = T.StructType(
    [T.StructField("d1", T.LongType()), T.StructField("d2", T.LongType())]
)


def test_connected_components_two_clusters(spark):
    # path 1-2-3-4 (diameter 3 → needs >1 propagation round) + pair 10-11
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], EDGES)
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_orientation_invariant(spark):
    # labels must not depend on which side of the edge the min id sits on
    edges = spark.createDataFrame([(5, 2), (2, 9), (9, 1)], EDGES)
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 9: 1}


EVTS = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@pytest.fixture()
def session_events(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two events 10 min apart, then a 31-min gap → 2 sessions
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=10), 2.0),
        (1, t0 + dt.timedelta(minutes=41), 3.0),
        # user 2: single event
        (2, t0, 5.0),
        # user 1: exactly 30 min gap after session 2 → NOT a new session
        (1, t0 + dt.timedelta(minutes=71), 4.0),
    ]
    return spark.createDataFrame(rows, EVTS)


def test_sessionize_gap_semantics(session_events):
    rows = sessionize(session_events, "user_id", "ts", 30).collect()
    by_val = {r["value"]: r["session_idx"] for r in rows if r["user_id"] == 1}
    assert by_val == {1.0: 1, 2.0: 1, 3.0: 2, 4.0: 2}  # 30:00 exactly → same


def test_sessionize_drops_null_rows_and_validates_gap(spark, session_events):
    # a NULL ts sorts first: its lag-delta is NULL, so it AND the first
    # real event would both read as session starts, shifting every
    # session_idx for the entity — null entity/ts rows are dropped
    import datetime as _dt

    rows = session_events.collect() + [
        (1, None, 99.0),
        (None, _dt.datetime(2024, 1, 1), 98.0),
    ]
    df = spark.createDataFrame(rows, session_events.schema)
    out = sessionize(df, "user_id", "ts", 30)
    vals = {r["value"]: r["session_idx"] for r in out.collect() if r["user_id"] == 1}
    assert vals == {1.0: 1, 2.0: 1, 3.0: 2, 4.0: 2}  # unchanged numbering
    assert out.where(out.user_id.isNull() | out.ts.isNull()).count() == 0
    with pytest.raises(ValueError, match="gap_minutes"):
        sessionize(df, "user_id", "ts", 0)


def test_session_stats(session_events):
    stats = {
        (r["user_id"], r["session_idx"]): r
    for r in session_stats(session_events, "user_id", "ts", 30, "value").collect()}
    s11 = stats[(1, 1)]
    assert s11["n_events"] == 2
    assert s11["duration_us"] == 10 * 60 * 1_000_000
    assert s11["sum_value"] == 3.0
    assert stats[(1, 2)]["n_events"] == 2
    assert stats[(2, 1)]["n_events"] == 1
    assert stats[(2, 1)]["duration_us"] == 0


DOCS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
    ]
)


@pytest.fixture()
def sample_docs(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr", 100) for i in range(200)]
    return spark.createDataFrame(rows, DOCS)


def test_stratified_sample_rates_and_determinism(sample_docs):
    kept = stratified_sample(
        sample_docs, "lang", "doc_id", {"en": 0.0, "fr": 1.0}
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == list(range(1, 200, 2))  # all fr, no en
    # a fractional rate keeps a stable, repeatable subset
    half = stratified_sample(sample_docs, "lang", "doc_id", {"en": 0.5}, 0.0)
    first = sorted(r["doc_id"] for r in half.collect())
    again = sorted(r["doc_id"] for r in half.collect())
    assert first == again and 0 < len(first) < 100


def test_pack_sequences_contiguous_budget(spark):
    rows = [(i, "en", 100) for i in range(40)]
    docs = spark.createDataFrame(rows, DOCS)
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=300, shards=1)
    got = packed.orderBy("doc_id").collect()
    # cumulative 100,200,...: batches of 3 docs (300 tokens) each
    assert [r["batch_idx"] for r in got[:7]] == [0, 0, 0, 1, 1, 1, 2]
    stats = pack_stats(docs, "doc_id", "n_tokens", budget=300, shards=1).collect()
    assert all(r["sum_tokens"] == 300 for r in stats if r["batch_idx"] < 13)
    # batch ranges are contiguous in id order
    by_batch = sorted(stats, key=lambda r: r["batch_idx"])
    for a, b in zip(by_batch, by_batch[1:]):
        assert a["last_id"] < b["first_id"]


def test_pack_sequences_validates_budget_and_shards(spark):
    docs = spark.createDataFrame([(1, "en", 10)], DOCS)
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(docs, "doc_id", "n_tokens", budget=0)
    with pytest.raises(ValueError, match="shards"):
        pack_sequences(docs, "doc_id", "n_tokens", budget=10, shards=0)


def test_mix_rates_validate_budget_frac(spark):
    from pyspark.sql import functions as F

    from gdutils_spark.operators.sampling import (
        domain_mix_rates,
        temperature_mix_rates,
    )

    df = spark.createDataFrame([("a", 10)], "source string, n_chars long")
    with pytest.raises(ValueError, match="budget_frac"):
        domain_mix_rates(df, "source", "n_chars", F.lit(1.0), budget_frac=0.0)
    with pytest.raises(ValueError, match="budget_frac"):
        temperature_mix_rates(df, "source", "n_chars", budget_frac=-0.5)


def test_pack_sequences_oversized_doc(spark):
    docs = spark.createDataFrame([(1, "en", 700), (2, "en", 10)], DOCS)
    got = {
        r["doc_id"]: r
        for r in pack_sequences(docs, "doc_id", "n_tokens", 300, shards=1).collect()
    }
    # a doc bigger than the budget occupies batches by itself; the next doc
    # starts in the batch where the cumulative count lands
    assert got[1]["batch_idx"] == 2  # cum 700 → (699 // 300) = 2
    assert got[2]["batch_idx"] == 2  # cum 710 → (709 // 300) = 2


def test_asof_join_semantics(spark):
    from gdutils_spark.operators.joins import asof_join
    from gdutils_spark.plans import n_exchanges

    ts = dt.datetime
    left = spark.createDataFrame(
        [
            (1, ts(2020, 1, 2), "a"),   # matches r@Jan1
            (1, ts(2020, 1, 5), "b"),   # tie with r@Jan5 -> inclusive
            (1, ts(2019, 12, 1), "c"),  # before all right rows -> NULL
            (2, ts(2020, 1, 1), "d"),   # key with no right rows -> NULL
        ],
        "k long, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts(2020, 1, 1), 10.0), (1, ts(2020, 1, 5), 50.0)],
        "k long, t timestamp, v double",
    )
    out = asof_join(
        left, right, left_on="k", right_on="k",
        left_ts="t", right_ts="t", right_cols=["v"],
    )
    got = {r["tag"]: r["asof_v"] for r in out.collect()}
    assert got == {"a": 10.0, "b": 50.0, "c": None, "d": None}
    assert out.count() == 4  # left-outer: every left row survives
    # union + one shuffle on the key; no range-join pair explosion
    assert n_exchanges(out) == 1


def test_asof_join_null_right_rows_never_match(spark):
    """A NULL-ts right row sorts first in the carry window — without the
    filter its payload becomes a phantom 'earliest' match for left rows
    that precede every real right row; NULL-key rows must not pair
    through the NULL partition either."""
    from gdutils_spark.operators.joins import asof_join

    ts = dt.datetime
    left = spark.createDataFrame(
        [(1, ts(2019, 12, 1), "early"), (None, ts(2020, 1, 1), "nullkey")],
        "k long, t timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, 99.0), (None, ts(2019, 1, 1), 77.0)],
        "k long, t timestamp, v double",
    )
    got = {
        r["tag"]: r["asof_v"]
        for r in asof_join(
            left, right, left_on="k", right_on="k",
            left_ts="t", right_ts="t", right_cols=["v"],
        ).collect()
    }
    assert got == {"early": None, "nullkey": None}


# --- Hot-shingle skew guard -------------------------------------------------


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """Docs sharing a universal boilerplate tail (hot shingles in every
    doc) plus genuine near-dup pairs that also share distinctive text."""
    boiler = "subscribe to our newsletter for updates and offers today"
    bodies = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "the quick brown fox jumps over the lazy dog near the river bend",
        "completely different text about spark shuffle partitions and skew",
        "completely different text about spark shuffle partitions and salt",
        "an unrelated essay on tides and moons written for no reason",
        "short one",
    ]
    rows = [(i, f"{b} {boiler}") for i, b in enumerate(bodies)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_guard_preserves_pairs_while_shrinking_join(boilerplate_docs):
    from gdutils_spark.operators.dedup import (
        _cold_shingles,
        _shingle_table,
        ngram_jaccard_pairs,
    )

    full = sorted(
        (r.d1, r.d2, r.common, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(boilerplate_docs, threshold=0.5).collect()
    )
    guarded = sorted(
        (r.d1, r.d2, r.common, round(r.jaccard, 12))
        for r in ngram_jaccard_pairs(
            boilerplate_docs, threshold=0.5, max_shingle_freq=4
        ).collect()
    )
    assert full == guarded and len(full) >= 2
    # the guard genuinely shrinks the self-join input: every doc carries
    # the boilerplate shingles, which all exceed the frequency cutoff
    sh = _shingle_table(boilerplate_docs, "text", "doc_id", 3)
    n_full = sh.count()
    n_cold = _cold_shingles(sh, 4).count()
    assert n_cold < n_full


def test_dedup_pairs_staged_to_parquet(boilerplate_docs, tmp_path):
    """stage_path on the shingle-table hot paths (the former in-code
    '.cache() — stage to parquet at 100 TB' notes): the shingle table
    lands in parquet once, every consumer scans the staged files (no
    executor-storage cache), results identical to the cached path."""
    from gdutils_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from gdutils_spark.plans import formatted_plan

    for fn, name in ((ngram_jaccard_pairs, "ngram_sh"), (minhash_lsh_pairs, "mh_sh")):
        path = str(tmp_path / name)
        staged_df = fn(boilerplate_docs, threshold=0.5, stage_path=path)
        plan = formatted_plan(staged_df)
        assert plan.count(name) >= 2, "join sides must read the staged table"
        if fn is ngram_jaccard_pairs:
            # minhash keeps its by-design candidate-list cache (KB-scale);
            # the ngram path must hold NO executor-storage cache at all
            assert "InMemoryTableScan" not in plan
        staged = sorted(
            (r.d1, r.d2, round(r.jaccard, 12)) for r in staged_df.collect()
        )
        cached = sorted(
            (r.d1, r.d2, round(r.jaccard, 12))
            for r in fn(boilerplate_docs, threshold=0.5).collect()
        )
        assert staged == cached and len(staged) >= 1


def test_containment_catches_what_jaccard_misses(spark):
    """A short quote embedded verbatim in a long article: Jaccard is tiny
    (|A|/|B|) but containment(A→B) ≈ 1 — the pair the containment
    operator exists to catch."""
    from gdutils_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i} word{i} pad{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")],
        "doc_id long, text string",
    )
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # symmetric similarity misses the subset pair
    con = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(con) == 1
    r = con[0]
    assert (r["d1"], r["d2"]) == (1, 2)
    assert r["c1"] == 1.0  # every quote shingle appears in the article
    assert r["c2"] < 0.5


def test_rrf_fuse_semantics(spark):
    """RRF = Σ 1/(k+rank); a doc absent from one list contributes 0 from
    it, and a doc present high in both beats a doc that tops one list."""
    from gdutils_spark.operators.text import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2), (9, 3)], "doc_id long, rank int")
    rows = {r["doc_id"]: r for r in rrf_fuse(a, b, k=60).collect()}
    assert rows[2]["rrf_score"] == 1 / 62 + 1 / 61  # both lists
    assert rows[1]["rrf_score"] == 1 / 61  # a-only
    assert rows[9]["rrf_score"] == 1 / 63  # b-only
    assert rows[1]["rank_b"] is None and rows[9]["rank_a"] is None
    order = [
        r["doc_id"]
        for r in rrf_fuse(a, b, k=60, top_k=2).collect()
    ]
    assert order == [2, 3]  # consensus docs outrank single-list toppers


def test_pair_recall_counts(spark):
    from gdutils_spark.operators.dedup import pair_recall

    exact = spark.createDataFrame([(1, 2), (3, 4), (5, 6), (7, 8)], EDGES)
    # 3 of 4 true pairs found, plus one false positive
    approx = spark.createDataFrame([(1, 2), (3, 4), (5, 6), (9, 10)], EDGES)
    r = pair_recall(approx, exact).collect()[0]
    assert (r["n_exact"], r["n_approx"], r["n_hits"]) == (4, 4, 3)
    assert r["recall"] == 0.75 and r["precision"] == 0.75


def test_pair_recall_empty_exact_is_null_not_error(spark):
    from gdutils_spark.operators.dedup import pair_recall

    exact = spark.createDataFrame([], EDGES)
    approx = spark.createDataFrame([(1, 2)], EDGES)
    r = pair_recall(approx, exact).collect()[0]
    assert (r["n_exact"], r["n_approx"], r["n_hits"]) == (0, 1, 0)
    assert r["recall"] is None and r["precision"] == 0.0


def test_keep_best_representative_string_ids(spark):
    """Quality ties break to the lexicographically-lowest id — the rule
    must not rely on numeric id negation (ADVICE r4)."""
    from gdutils_spark.operators.dedup import keep_best_representative

    docs = spark.createDataFrame(
        [("a", 0.2), ("b", 0.9), ("c", 0.9), ("d", 0.5)],
        "doc_id string, quality_score double",
    )
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")], "d1 string, d2 string")
    got = {
        r["doc"]: (r["component"], r["is_kept"])
        for r in keep_best_representative(docs, pairs, "quality_score").collect()
    }
    assert got == {
        "a": ("a", False),
        "b": ("a", True),  # ties with c on 0.9 → lexicographically lower
        "c": ("a", False),
        "d": ("d", True),
    }


def test_minhash_guard_preserves_pairs(boilerplate_docs):
    from gdutils_spark.operators.dedup import minhash_lsh_pairs

    full = sorted(
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(boilerplate_docs, threshold=0.5).collect()
    )
    guarded = sorted(
        (r.d1, r.d2, round(r.jaccard, 12))
        for r in minhash_lsh_pairs(
            boilerplate_docs, threshold=0.5, max_shingle_freq=4
        ).collect()
    )
    # emitted scores are exact (full-set verification); the boilerplate-only
    # overlap pairs were below threshold anyway, so results coincide
    assert guarded == full and len(full) >= 1


# --- Large-star/small-star CC -----------------------------------------------


def test_star_cc_matches_hash_min(spark):
    # deterministic pseudo-random graph, no self-loops
    pairs = {((i * 7919) % 41, (i * 104729 + 13) % 41) for i in range(70)}
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, EDGES)
    hm = {(r.node, r.comp) for r in connected_components(edges).collect()}
    star = {
        (r.node, r.comp)
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == hm


def test_star_cc_path_graph_converges_in_polylog_rounds(spark):
    """Property: a 65-node path (diameter 64) needs ~64 hash-min rounds
    but must converge in O(log^2 n) star rounds — 12 is generous for
    n=65 (log2 = ~6) and far below the diameter bound; the star
    implementation raises rather than returning partial clusters, so
    passing proves convergence speed, not luck."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], EDGES)
    labels = connected_components(edges, algorithm="star", max_iter=12)
    rows = labels.collect()
    assert len(rows) == n + 1
    assert all(r.comp == 0 for r in rows)
    assert {r.node for r in rows} == set(range(n + 1))


def test_star_cc_raises_when_budget_too_small(spark):
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], EDGES)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, algorithm="star", max_iter=1)


def test_hash_min_cc_raises_when_budget_too_small(spark):
    """Hash-min needs diameter + 1 rounds (the last confirms the
    fixpoint). An 11-node path has diameter 10: 3 rounds must raise,
    as the star variant does, instead of returning 8 partial clusters;
    11 rounds label the whole path 0."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(10)], EDGES)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_iter=3)
    rows = connected_components(edges, max_iter=11).collect()
    assert sorted((r.node, r.comp) for r in rows) == [(i, 0) for i in range(11)]


def test_simhash_near_pairs_finds_every_pair_within_max_hamming(
    spark, monkeypatch
):
    """Banding recall over crafted fingerprints: every pair within
    ``max_hamming`` comes back, none beyond it. Doc 1 differs from doc 0
    by one bit in each of the four 15-bit chunks of the old fixed
    banding (hamming 4, which no chunk of it matched); the rest are
    random fingerprints with near neighbours planted at every distance
    up to 12."""
    import random

    from gdutils_spark.operators import dedup

    bits = dedup.SIMHASH_BITS
    rng = random.Random(5)
    fps = [0, (1 << 0) | (1 << 15) | (1 << 30) | (1 << 45)]
    for d in range(13):
        fp = rng.getrandbits(bits)
        flips = rng.sample(range(bits), d)
        fps += [fp, fp ^ sum(1 << b for b in flips)]
    fp_df = spark.createDataFrame(list(enumerate(fps)), "doc long, simhash long")
    monkeypatch.setattr(dedup, "simhash", lambda *a, **k: fp_df)

    for max_hamming in (0, 3, 4, 9):
        want = sorted(
            (i, j, bin(a ^ b).count("1"))
            for i, a in enumerate(fps)
            for j, b in enumerate(fps)
            if i < j and bin(a ^ b).count("1") <= max_hamming
        )
        got = sorted(
            tuple(r) for r in dedup.simhash_near_pairs(
                fp_df, max_hamming=max_hamming
            ).collect()
        )
        assert got == want, max_hamming
    assert (0, 1, 4) in want
    for bad in (-1, bits):
        with pytest.raises(ValueError, match="max_hamming"):
            dedup.simhash_near_pairs(fp_df, max_hamming=bad)


def test_benchmark_contamination(spark):
    from gdutils_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(0, "what is the capital of france paris obviously")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, "what is the capital of france i wonder sometimes"),  # leak
            (101, "totally unrelated text about spark partitions here"),
            (102, "see the capital of sweden instead"),  # 1 shared trigram < 2
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.bench_id): r.n_shared
        for r in benchmark_contamination(corpus, bench, min_overlap=2).collect()
    }
    assert set(got) == {(100, 0)}
    assert got[(100, 0)] >= 3  # 'what is the', 'is the capital', 'the capital of', 'capital of france'


def test_pii_scrub(spark):
    from gdutils_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@mail.example.org or 555-123-4567"),
            (2, "server at 10.0.0.1 and 192.168.1.254 responded"),
            (3, "no personal information here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ips) == (1, 1, 0)
    assert rows[1].scrubbed == "reach me at <EMAIL> or <PHONE>"
    assert rows[2].n_ips == 2 and "<IP>" in rows[2].scrubbed
    assert "10.0.0.1" not in rows[2].scrubbed
    assert rows[3].scrubbed == "no personal information here at all"
    assert (rows[3].n_emails, rows[3].n_phones, rows[3].n_ips) == (0, 0, 0)


def test_chunk_documents_windows(spark):
    """Sliding windows: step = chunk - overlap, consecutive chunks share
    exactly `overlap` tokens, shorter tail kept, empty docs dropped."""
    from gdutils_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text), (2, "only three tokens"), (3, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1)
    rows = sorted(
        ((r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text) for r in out.collect())
    )
    by_doc = {}
    for d, c, n, t in rows:
        by_doc.setdefault(d, []).append((c, n, t))
    # doc 1: starts 0,3,6 — the start-9 window would be a pure-overlap
    # tail (only w9, already covered by chunk 2) and is dropped
    assert [c for c, _, _ in by_doc[1]] == [0, 1, 2]
    assert [t for _, _, t in by_doc[1]] == [
        "w0 w1 w2 w3",
        "w3 w4 w5 w6",
        "w6 w7 w8 w9",
    ]
    # overlap continuity: last token of chunk i is first of chunk i+1
    for (_, _, a), (_, _, b) in zip(by_doc[1], by_doc[1][1:]):
        assert a.split()[-1] == b.split()[0]
    assert by_doc[2] == [(0, 3, "only three tokens")]
    assert 3 not in by_doc  # blank text → no chunks
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_tf_idf_top_terms_ranking(spark):
    """A term concentrated in one doc outranks corpus-wide terms there;
    ties break lexicographically; k bounds output per doc."""
    from gdutils_spark.operators.text import tf_idf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common zebra zebra zebra"),
            (2, "common common common apple"),
            (3, "common banana"),
        ],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(docs, k=2)
    rows = {(r.doc_id, r.rn if hasattr(r, "rn") else None) for r in out.collect()}
    top = {}
    for r in out.collect():
        top.setdefault(r.doc_id, []).append((r.term, r.tf, r.df, r.score))
    # doc 1: zebra (tf=3, df=1) scores 3*(4/2)=6 > common (tf=2, df=3) 2*(4/4)=2
    assert top[1][0][0] == "zebra" and top[1][0][3] == 6.0
    assert [t for t, *_ in top[1]] == ["zebra", "common"]
    assert [t for t, *_ in top[2]] == ["common", "apple"]
    assert all(len(v) <= 2 for v in top.values())


def test_quantize_embeddings_roundtrip(spark):
    """Codes live in [0, levels]; dequantization error is bounded by half
    a quantization step; constant vectors code to zeros."""
    from gdutils_spark.operators.similarity import quantize_embeddings
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(20)]
    rows.append((99, [1.5] * 16))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    orig = dict(rows)
    for vid, r in got.items():
        assert all(0 <= c <= 255 for c in r.codes)
        if vid == 99:
            assert r.codes == [0] * 16
            continue
        step = (r.vmax - r.vmin) / 255
        for v, c in zip(orig[vid], r.codes):
            deq = r.vmin + c * step
            assert abs(deq - v) <= step / 2 + 1e-12


def test_pii_scrub_ssn_and_luhn_cards(spark):
    """SSN redaction plus the Luhn distinction: every 4-4-4-4 digit run
    is masked (over-redaction is safe), but n_cards_luhn counts only
    candidates passing the checksum."""
    from gdutils_spark.operators.text import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "ssn 078-05-1120 on file"),
            (2, "pay with 4539-1488-0343-6467 today"),  # Luhn-valid Visa test no.
            (3, "order 1234-5678-9012-3456 shipped"),  # fails Luhn
            (4, "card 4539 1488 0343 6467 space-separated"),
            (5, "phone 555-867-5309 is not an ssn"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].n_ssns == 1 and rows[1].scrubbed == "ssn <SSN> on file"
    assert rows[2].n_cards_luhn == 1 and rows[2].scrubbed == "pay with <CARD> today"
    # invalid checksum: still masked, but not counted as a card
    assert rows[3].n_cards_luhn == 0 and rows[3].scrubbed == "order <CARD> shipped"
    assert rows[4].n_cards_luhn == 1 and "<CARD>" in rows[4].scrubbed
    # phone shape must not leak into the SSN count, and vice versa
    assert rows[5].n_ssns == 0 and rows[5].n_phones == 1
    assert rows[5].scrubbed == "phone <PHONE> is not an ssn"


def test_repetition_signals(spark):
    from gdutils_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # "a b" appears 3x of 6 bigrams; 5-grams are
            # ("a b a b a", "b a b a b", "a b a b a") — 1 repeat of 3
            (1, "a b a b a b a"),
            (2, "one two three four five six"),  # no repetition
            (3, "x"),  # too short for any gram
            (4, ""),  # empty
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert rows[1]["top_bigram_n"] == 3 and rows[1]["n_bigrams"] == 6
    assert rows[1]["top_bigram_frac"] == 3 / 6
    assert rows[1]["dup_ngram_frac"] == 1 / 3
    assert rows[2]["top_bigram_n"] == 1
    assert rows[2]["dup_ngram_frac"] == 0.0
    assert rows[3]["top_bigram_n"] is None
    assert rows[3]["n_bigrams"] == 0
    assert rows[3]["top_bigram_frac"] is None
    assert rows[3]["dup_ngram_frac"] is None
    assert rows[4]["top_bigram_n"] is None


def test_repetition_signals_matches_hof_formulation(spark):
    """r15 differential pin: the Arrow-batched map formulation must be
    row-identical (including NULL placement and exact doubles) to the
    former HOF + two-aggregate formulation, rebuilt here inline, over
    edge fixtures: NULL text, empty text, 1..dup_n-1 tokens, unicode
    tokens, repeated whitespace (the \\s+ normalize), long repetitive
    docs."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a"),
            (2, "one two three four five six"),
            (3, "x"),
            (4, ""),
            (5, None),
            (6, "  tabs\tand\nnewlines   collapse  "),
            (7, "héllo wörld héllo wörld héllo wörld héllo"),
            (8, "İstanbul Σίσυφος İstanbul Σίσυφος İstanbul"),
            (9, "w x y z"),  # 4 tokens: bigrams yes, 5-grams no
            (10, "p q r s t"),  # exactly dup_n tokens
            (11, ("tok " * 400).strip()),  # one long degenerate doc
        ],
        "doc_id long, text string",
    )

    def hof_reference(df, text_col="text", id_col="doc_id", dup_n=5):
        # the pre-r15 formulation, verbatim (interpreted HOF grams +
        # explode + two hash aggregates)
        t = F.col(text_col)
        ws = F.split(F.lower(F.trim(F.regexp_replace(t, r"\s+", " "))), " ")

        def grams(wscol, n_tok, k):
            g = F.transform(
                F.sequence(F.lit(0), n_tok - k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(wscol, i + j + 1) for j in range(k)]
                ),
            )
            return F.when(n_tok >= k, g).otherwise(
                F.array().cast("array<string>")
            )

        base = df.select(F.col(id_col), ws.alias("_ws")).select(
            F.col(id_col), F.col("_ws"), F.size("_ws").alias("_n")
        )
        staged = base.select(
            F.col(id_col),
            F.col("_n").alias("n_tokens"),
            grams(F.col("_ws"), F.col("_n"), dup_n).alias("_g5"),
            grams(F.col("_ws"), F.col("_n"), 2).alias("_g2"),
        )
        n5 = F.size(F.col("_g5"))
        dup_frac = F.try_divide(
            (n5 - F.size(F.array_distinct(F.col("_g5")))).cast("double"), n5
        )
        exploded = staged.select(
            F.col(id_col),
            F.col("n_tokens"),
            dup_frac.alias("dup_ngram_frac"),
            F.explode_outer(F.col("_g2")).alias("gram"),
        )
        counts = exploded.groupBy(id_col, "gram").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("n_tokens").alias("n_tokens"),
            F.max("dup_ngram_frac").alias("dup_ngram_frac"),
        )
        gram_n = F.when(F.col("gram").isNotNull(), F.col("n"))
        return (
            counts.groupBy(id_col)
            .agg(
                F.max("n_tokens").alias("n_tokens"),
                F.max(gram_n).alias("top_bigram_n"),
                F.sum(F.coalesce(gram_n, F.lit(0))).alias("n_bigrams"),
                F.max("dup_ngram_frac").alias("dup_ngram_frac"),
            )
            .select(
                id_col,
                "n_tokens",
                "top_bigram_n",
                "n_bigrams",
                F.try_divide(
                    F.col("top_bigram_n").cast("double"), F.col("n_bigrams")
                ).alias("top_bigram_frac"),
                "dup_ngram_frac",
            )
        )

    got = {r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()}
    want = {r["doc_id"]: r.asDict() for r in hof_reference(docs).collect()}
    assert got == want
    # schema parity too (nullable int/bigint/double columns)
    assert (
        repetition_signals(docs).schema.simpleString()
        == hof_reference(docs).schema.simpleString()
    )


def test_shard_assign_stability_and_balance(spark):
    import pytest

    from gdutils_spark.operators.sampling import shard_assign, shard_stats

    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    sharded = shard_assign(docs, n_shards=8)
    shards = sharded.groupBy("shard").count().collect()
    assert {r["shard"] for r in shards} <= set(range(8))
    # md5 sharding spreads a contiguous id range roughly evenly
    counts = [r["count"] for r in shards]
    assert len(counts) == 8 and min(counts) > 60
    # incremental stability: a document's shard never changes when the
    # corpus grows
    small = dict(
        shard_assign(docs.limit(100), n_shards=8).collect()
    )
    big = dict(sharded.where("doc_id < 100").collect())
    assert small == big
    with pytest.raises(ValueError):
        shard_assign(docs, n_shards=0)
    stats = shard_stats(docs, n_shards=8).collect()
    assert sum(r["n_docs"] for r in stats) == 1000


def test_semantic_dedup_keep_rule(spark):
    from gdutils_spark.operators.similarity import semantic_dedup

    # two tight clusters along axes; ids 0 and 1 are the seed centroids
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # near-dup of 0
        (3, [0.0, 0.98, 0.05, 0.0]),  # near-dup of 1
        (4, [0.6, 0.6, 0.0, 0.0]),    # diagonal: similar to both seeds
        (5, [0.0, 0.0, 1.0, 0.0]),    # orthogonal: kept wherever assigned
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, n_centroids=2, threshold=0.9).collect()
    }
    assert len(out) == 6
    # lowest id of each cluster is always kept
    assert out[0]["is_kept"] and out[1]["is_kept"]
    assert not out[2]["is_kept"]  # dominated by 0
    assert not out[3]["is_kept"]  # dominated by 1
    assert out[5]["is_kept"]      # orthogonal to everything
    # every vector appears exactly once with a centroid from the seed set
    assert {r["centroid"] for r in out.values()} <= {0, 1}


def test_source_quality_stats_exact_counts(spark):
    from gdutils_spark.operators.text import source_quality_stats

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox", "web", "en"),
            (2, "the quick brown fox", "web", "en"),  # exact dup of 1
            (3, "completely different text here", "web", "en"),
            (4, "!!! ??? ;;; :::", "spam", "en"),  # punctuation soup
        ],
        "doc_id long, text string, source string, lang string",
    )
    rows = {(r["source"], r["lang"]): r for r in source_quality_stats(docs).collect()}
    web = rows[("web", "en")]
    assert web["n_docs"] == 3
    assert web["dup_rate"] == 1.0 - 2 / 3
    assert web["total_chars"] == len("the quick brown fox") * 2 + len(
        "completely different text here"
    )
    spam = rows[("spam", "en")]
    assert spam["n_docs"] == 1 and spam["n_low_quality"] == 1


DOCS_QUAL = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("quality_score", T.DoubleType()),
    ]
)


def test_keep_best_representative(spark):
    from gdutils_spark.operators.dedup import keep_best_representative

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.5), (10, 0.1)], DOCS_QUAL
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], EDGES)
    got = {
        r["doc"]: (r["component"], r["is_kept"])
        for r in keep_best_representative(
            docs, pairs, "quality_score"
        ).collect()
    }
    # cluster {1,2,3}: 2 and 3 tie on quality 0.9 → lowest id (2) kept
    assert got == {
        1: (1, False),
        2: (1, True),
        3: (1, False),
        4: (4, True),  # singleton keeps itself
        10: (10, True),
    }


DOCS_MIX = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def test_domain_mix_rates_cap_and_budget(spark):
    from pyspark.sql import functions as F

    from gdutils_spark.operators.sampling import domain_mix_rates

    # src_a is tiny (rate must cap at 1.0), src_b holds the bulk
    rows = [(1, "src_a", 100)] + [(i, "src_b", 1000) for i in range(2, 12)]
    df = spark.createDataFrame(rows, DOCS_MIX)
    tw = F.when(F.col("source") == "src_a", F.lit(3)).otherwise(F.lit(1))
    rates = {
        r["stratum"]: r
        for r in domain_mix_rates(
            df, "source", "n_chars", tw, budget_frac=0.5
        ).collect()
    }
    # corpus = 10100; budget = 5050; src_a target 3/4 → 3787.5 wanted of
    # 100 available → capped at 1.0
    assert rates["src_a"]["rate"] == 1.0
    assert rates["src_a"]["expected_weight"] == 100.0
    # src_b target 1/4 → 1262.5 of 10000 → 0.12625
    assert abs(rates["src_b"]["rate"] - 0.12625) < 1e-12
    assert rates["src_a"]["target_share"] == 0.75


def test_domain_mix_sample_respects_rates(spark):
    from pyspark.sql import functions as F

    from gdutils_spark.operators.sampling import (
        domain_mix_rates,
        domain_mix_sample,
    )

    rows = [(i, "src_a", 10) for i in range(200)] + [
        (i, "src_b", 10) for i in range(200, 400)
    ]
    df = spark.createDataFrame(rows, DOCS_MIX)
    tw = F.when(F.col("source") == "src_a", F.lit(3)).otherwise(F.lit(1))
    rates = domain_mix_rates(df, "source", "n_chars", tw, budget_frac=0.5)
    kept = domain_mix_sample(df, "source", "doc_id", rates)
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # corpus weight 4000, budget 2000: src_a rate = min(1, 0.75*2000/2000)
    # = 0.75, src_b = 0.25 — hash sampling is deterministic, so counts
    # are fixed and roughly rate*200
    assert 120 <= by_src["src_a"] <= 180
    assert 25 <= by_src.get("src_b", 0) <= 75
    # determinism: re-running produces the identical set
    again = domain_mix_sample(df, "source", "doc_id", rates)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


DOCS_TXT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_bm25_rank_ordering(spark):
    from gdutils_spark.operators.text import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark join join join query"),
            (2, "spark join query engine plan"),
            (3, "filler words only here nothing"),
            (4, "join vector join vector stream"),
        ],
        DOCS_TXT,
    )
    got = bm25_rank(docs, terms=("join", "vector"), top_k=10).collect()
    ids = [r["doc_id"] for r in got]
    assert 3 not in ids  # no query term → score 0 → excluded
    assert ids[0] == 4  # matches both terms incl. rare 'vector'
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[4]["n_matched"] == 2
    assert by_id[1]["n_matched"] == 1
    # more occurrences of the same term → higher score
    assert by_id[1]["score"] > by_id[2]["score"]


DOCS_GRP = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def test_cross_group_shingle_overlap(spark):
    from gdutils_spark.operators.dedup import cross_group_shingle_overlap

    docs = spark.createDataFrame(
        [
            (1, "sa", "alpha beta gamma delta"),  # shingles: ab g, b g d
            (2, "sb", "alpha beta gamma other"),  # shares 'alpha beta gamma'
            (3, "sb", "x y z w"),
            (4, "sc", "p q r"),
        ],
        DOCS_GRP,
    )
    got = {
        (r["g1"], r["g2"]): r
        for r in cross_group_shingle_overlap(docs, k=3).collect()
    }
    r = got[("sa", "sb")]
    assert r["shared_shingles"] == 1
    assert r["n1"] == 2 and r["n2"] == 4
    assert r["overlap_frac"] == 0.5  # 1 / min(2, 4)
    assert ("sa", "sc") not in got  # zero overlap pairs are absent


def test_minhash_lsh_pairs_between_matches_self_join(spark):
    """Cross-batch pairs must equal the full self-join's pairs restricted
    to (new, corpus) sides — and exclude within-batch duplicates."""
    from gdutils_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_between,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),  # corpus
            (2, base + " tail"),  # corpus: near-dup of 1
            (10, base),  # batch: dup of 1 and 2
            (20, base + " tail"),  # batch: dup too (and of 10)
            (3, "completely different words everywhere nothing shared"),
            (30, "unrelated batch document with its own content here"),
        ],
        DOCS_TXT,
    )
    new = docs.where("doc_id >= 10")
    corpus = docs.where("doc_id < 10")
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in minhash_lsh_pairs_between(
            new, corpus, num_perms=16, bands=4, threshold=0.5
        ).collect()
    }
    full = {
        (max(r["d1"], r["d2"]), min(r["d1"], r["d2"])): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs, num_perms=16, bands=4, threshold=0.5
        ).collect()
        if (r["d1"] >= 10) != (r["d2"] >= 10)
    }
    assert got == full
    assert (10, 1) in got and got[(10, 1)] == 1.0
    assert all(new_id >= 10 and corp_id < 10 for new_id, corp_id in got)


def test_bm25_rank_rejects_empty_terms():
    from gdutils_spark.operators.text import bm25_rank

    with pytest.raises(ValueError, match="at least one"):
        bm25_rank(None, terms=())


def test_knn_recall_zero_hit_queries_still_reported(spark):
    from gdutils_spark.operators.similarity import knn_recall

    exact = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (2, 20, 0.7), (2, 21, 0.6)],
        "query_id long, neighbor_id long, score double",
    )
    # query 2 missed entirely; query 1 found one of two
    approx = spark.createDataFrame(
        [(1, 10, 0.9), (1, 99, 0.5)],
        "query_id long, neighbor_id long, score double",
    )
    rows = {r["query_id"]: r for r in knn_recall(approx, exact, k=2).collect()}
    assert rows[1]["n_hits"] == 1 and rows[1]["recall_at_k"] == 0.5
    assert rows[2]["n_hits"] == 0 and rows[2]["recall_at_k"] == 0.0


def test_cluster_size_stats_histogram(spark):
    from gdutils_spark.operators.dedup import cluster_size_stats

    cc = spark.createDataFrame(
        # two clusters of size 2, one of size 3
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5), (7, 5)],
        "node long, comp long",
    )
    rows = {r["cluster_size"]: r for r in cluster_size_stats(cc).collect()}
    assert rows[2]["n_clusters"] == 2 and rows[2]["n_docs"] == 4
    assert rows[3]["n_clusters"] == 1 and rows[3]["n_docs"] == 3


def test_vocab_stats_hapax_and_ratio(spark):
    from gdutils_spark.operators.text import vocab_stats

    docs = spark.createDataFrame(
        [(1, "a b a", "en"), (2, "b c", "en"), (3, "x", "fr")],
        "doc_id long, text string, lang string",
    )
    rows = {r["lang"]: r for r in vocab_stats(docs).collect()}
    en = rows["en"]
    assert en["n_docs"] == 2
    assert en["total_tokens"] == 5
    assert en["distinct_tokens"] == 3
    assert en["hapax_tokens"] == 1  # only 'c' occurs exactly once
    assert en["type_token_ratio"] == 3 / 5
    fr = rows["fr"]
    assert fr["total_tokens"] == 1 and fr["hapax_tokens"] == 1


def test_funnel_strict_ordering(spark):
    from datetime import datetime

    from gdutils_spark.operators.behavior import funnel

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered conversion
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # user 2: purchase BEFORE click — reaches click only
        (2, t(1), "view"), (2, t(3), "click"), (2, t(2), "purchase"),
        # user 3: click before any view — reaches view only
        (3, t(2), "view"), (3, t(1), "click"),
        # user 4: no view at all — appears nowhere
        (4, t(1), "click"), (4, t(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["step"]: r["n_users"] for r in funnel(df).collect()}
    assert got == {"view": 3, "click": 2, "purchase": 1}


def test_funnel_same_timestamp_not_after(spark):
    from datetime import datetime

    from gdutils_spark.operators.behavior import funnel

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, "view"), (1, t0, "click")],
        "user_id long, ts timestamp, event_type string",
    )
    got = {r["step"]: r["n_users"] for r in funnel(df).collect()}
    assert got == {"view": 1, "click": 0, "purchase": 0}


def test_cohort_retention_offsets(spark):
    from datetime import datetime

    from gdutils_spark.operators.behavior import cohort_retention

    df = spark.createDataFrame(
        [
            # user 1: active week 0 (Mon 2024-01-01) and week 2
            (1, datetime(2024, 1, 2)),
            (1, datetime(2024, 1, 16)),
            # user 2: same cohort, week 0 only (two events, one week)
            (2, datetime(2024, 1, 3)),
            (2, datetime(2024, 1, 4)),
        ],
        "user_id long, ts timestamp",
    )
    rows = {r["week_offset"]: r for r in cohort_retention(df).collect()}
    assert rows[0]["n_users"] == 2 and rows[0]["retention_rate"] == 1.0
    assert rows[2]["n_users"] == 1 and rows[2]["retention_rate"] == 0.5
    assert str(rows[0]["cohort_week"]) == "2024-01-01"


def test_length_histogram_buckets_and_share(spark):
    from gdutils_spark.operators.text import length_histogram

    df = spark.createDataFrame(
        [(1, "a", 50), (2, "a", 150), (3, "a", 155), (4, "b", 10)],
        "doc_id long, source string, n_chars long",
    )
    rows = {(r["source"], r["bucket"]): r for r in length_histogram(df).collect()}
    assert rows[("a", 0)]["n_docs"] == 1 and rows[("a", 0)]["bucket_lo"] == 0
    assert rows[("a", 1)]["n_docs"] == 2 and rows[("a", 1)]["share"] == 2 / 3
    assert rows[("b", 0)]["share"] == 1.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        length_histogram(df, bucket_width=0)


def test_funnel_empty_input_counts_zero(spark):
    from gdutils_spark.operators.behavior import funnel

    df = spark.createDataFrame(
        [], "user_id long, ts timestamp, event_type string"
    )
    got = {r["step"]: r["n_users"] for r in funnel(df).collect()}
    assert got == {"view": 0, "click": 0, "purchase": 0}


def test_cohort_retention_invariants_on_events(spark, sf_smoke):
    """Data invariants at sf0.001: offset-0 row per cohort equals the
    cohort size (every user is active in their first week), no offset is
    negative, and no offset's actives exceed the cohort size."""
    from gdutils_spark.operators.behavior import cohort_retention
    from gdutils_spark.sources.tables import load_table

    rows = cohort_retention(load_table(spark, sf_smoke, "events")).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], {})[r["week_offset"]] = r
    for cohort, offsets in by_cohort.items():
        assert 0 in offsets, f"cohort {cohort} missing offset 0"
        base = offsets[0]["n_users"]
        assert offsets[0]["retention_rate"] == 1.0
        for off, r in offsets.items():
            assert off >= 0
            assert 0 < r["n_users"] <= base
            assert r["retention_rate"] == r["n_users"] / base


def test_funnel_monotone_on_events(spark, sf_smoke):
    """Each funnel step can only lose users relative to the previous."""
    from gdutils_spark.operators.behavior import funnel
    from gdutils_spark.sources.tables import load_table

    rows = sorted(
        funnel(load_table(spark, sf_smoke, "events")).collect(),
        key=lambda r: r["step_index"],
    )
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0  # sf0.001 has view events


def test_vocab_stats_totals_match_token_counts(spark, sf_smoke):
    """Corpus-level conservation: per-lang total_tokens sums to the
    corpus token count, and hapax <= distinct <= total."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.text import tokens, vocab_stats
    from gdutils_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents")
    rows = vocab_stats(docs).collect()
    total = sum(r["total_tokens"] for r in rows)
    expect = docs.select(
        F.sum(F.size(tokens(F.col("text")))).alias("n")
    ).collect()[0]["n"]
    assert total == expect
    for r in rows:
        assert r["hapax_tokens"] <= r["distinct_tokens"] <= r["total_tokens"]


def test_temperature_mix_flattens_shares(spark):
    """α=0.5 shares sit strictly between uniform and raw shares: the
    dominant stratum shrinks, tail strata grow, shares sum to 1, and
    expected weights never exceed the stratum mass (rate ≤ 1)."""
    from gdutils_spark.operators.sampling import temperature_mix_rates

    rows = [("en", 100) for _ in range(90)] + [("fi", 100) for _ in range(9)] + [
        ("mt", 100)
    ]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    out = {r.stratum: r for r in temperature_mix_rates(
        df, "lang", "n_chars", alpha=0.5, budget_frac=0.5
    ).collect()}
    total = sum(r.total_weight for r in out.values())
    raw = {s: r.total_weight / total for s, r in out.items()}
    assert abs(sum(r.temp_share for r in out.values()) - 1.0) < 1e-12
    assert out["en"].temp_share < raw["en"]          # head flattened
    assert out["mt"].temp_share > raw["mt"]          # tail lifted
    assert out["mt"].temp_share < out["en"].temp_share  # order preserved
    for r in out.values():
        assert 0.0 < r.rate <= 1.0
        assert r.expected_weight <= r.total_weight + 1e-9


def test_tfidf_staged_matches_unstaged(spark, tmp_path):
    """stage_path on tf_idf_top_terms: the tf table lands in parquet once
    and both downstream consumers (score join, document-frequency agg)
    scan the staged files — the unstaged plan re-derives the corpus
    explode per consumer (3 corpus scans; staged: 1 + ndocs)."""
    import re

    from gdutils_spark.operators.text import tf_idf_top_terms
    from gdutils_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(i, f"alpha bravo tok{i} tok{i} charlie") for i in range(20)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    corpus = spark.read.parquet(str(tmp_path / "docs"))
    path = str(tmp_path / "tf_stage")
    staged_df = tf_idf_top_terms(corpus, k=2, stage_path=path)
    plan = formatted_plan(staged_df)
    assert plan.count("tf_stage") >= 2, "both consumers must read the staged tf"
    # corpus scans collapse: of the parquet scans in the plan, only the
    # corpus explode + the ndocs count read the docs table
    scans = re.findall(r"^\(\d+\) Scan parquet.*\n(?:.*\n)*?Location.*", plan, re.M)
    docs_scans = sum("docs" in s and "tf_stage" not in s for s in scans)
    assert docs_scans <= 2
    staged = sorted((r.doc_id, r.term, r.tf, r.df, round(r.score, 12))
                    for r in staged_df.collect())
    unstaged = sorted((r.doc_id, r.term, r.tf, r.df, round(r.score, 12))
                      for r in tf_idf_top_terms(corpus, k=2).collect())
    assert staged == unstaged


def test_mix_rates_accept_double_weights_and_null_strata(spark):
    """Review regressions: the packed-fold rewrite must (a) accept
    DOUBLE weight columns / fractional target weights, (b) not let one
    all-NULL stratum poison every other stratum's rate (F.sum
    semantics)."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.sampling import (
        domain_mix_rates,
        temperature_mix_rates,
    )

    rows = [("a", 10.0), ("a", 30.0), ("b", 20.0), ("c", None)]
    df = spark.createDataFrame(rows, "src string, w double")
    out = {r.stratum: r for r in domain_mix_rates(
        df, "src", "w", F.lit(0.75), 0.5
    ).collect()}
    assert out["a"].rate is not None and out["b"].rate is not None
    # the NULL stratum claims NO share: its budget slice would be
    # unspendable (rate NULL), so a and b renormalize to 1/2 each
    assert abs(out["a"].target_share - 0.5) < 1e-12
    tout = {r.stratum: r for r in temperature_mix_rates(
        df, "src", "w", alpha=0.5, budget_frac=0.5
    ).collect()}
    assert tout["a"].rate is not None and tout["b"].rate is not None
    # the NULL stratum stays NULL-rated without corrupting the others
    assert tout["c"].total_weight is None


def test_hll_accepts_numeric_value_column(spark):
    """Review regression: hashing must cast to string first so numeric
    value columns work (the CLI advertises arbitrary --value-col)."""
    from gdutils_spark.operators.sketches import hll_report

    df = spark.createDataFrame(
        [("e", i % 40) for i in range(200)], "et string, user_id long"
    )
    row = hll_report(df, "user_id", "et").collect()[0]
    assert row.n_exact == 40 and row.hll_estimate > 0


def test_text_ops_staged_match_unstaged(spark, tmp_path):
    """stage_path parity on the three round-5 text operators (segment
    dedup, token rarity, unigram logprob): the staged plan reads the
    landed table for every consumer and produces identical results."""
    from gdutils_spark.operators.text import (
        remove_common_segments,
        token_rarity,
        unigram_logprob,
    )
    from gdutils_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(i, f"shared boiler plate text unique{i} token{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    cases = [
        (remove_common_segments, dict(width=2, min_docs=3), "seg_st"),
        (token_rarity, {}, "tr_st"),
        (unigram_logprob, {}, "lp_st"),
    ]
    for fn, kw, name in cases:
        path = str(tmp_path / name)
        staged_df = fn(docs, stage_path=path, **kw)
        assert formatted_plan(staged_df).count(name) >= 2, name
        staged = sorted(map(tuple, staged_df.collect()))
        unstaged = sorted(map(tuple, fn(docs, **kw).collect()))
        if fn is unigram_logprob:  # float scores: tolerance, not equality
            for s, u in zip(staged, unstaged):
                assert s[:2] == u[:2] and abs(s[2] - u[2]) < 1e-12
            assert len(staged) == len(unstaged)
        else:
            assert staged == unstaged, name


def test_minhash_estimate_pairs(boilerplate_docs):
    """Sketch-accuracy report: every verified pair gets an estimate in
    [0,1] consistent with its match count; identical documents estimate
    exactly 1.0 (all signature positions equal)."""
    from gdutils_spark.operators.dedup import minhash_estimate_pairs

    twin = boilerplate_docs.union(
        boilerplate_docs.selectExpr("doc_id + 100 AS doc_id", "text")
    )
    rows = minhash_estimate_pairs(twin, num_perms=32, bands=8, threshold=0.5).collect()
    assert rows, "twin corpus must produce verified pairs"
    exact_twins = 0
    for r in rows:
        assert 0 <= r.sig_matches <= 32
        assert r.est_jaccard == r.sig_matches / 32
        assert abs(r.est_error - (r.est_jaccard - r.jaccard)) == 0.0
        if r.d2 == r.d1 + 100:  # identical text → identical signatures
            assert r.jaccard == 1.0 and r.est_jaccard == 1.0
            exact_twins += 1
    assert exact_twins >= 5


def test_profile_table_one_row_per_column(spark):
    from gdutils_spark.operators.summaries import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "a", None, None), (None, "b", 2.5, None)],
        "k long, s string, v double, z string",
    )
    got = {r.col_name: r for r in profile_table(df).collect()}
    assert set(got) == {"k", "s", "v", "z"}
    assert got["k"].n_rows == 3 and got["k"].n_null == 1
    assert got["k"].n_distinct == 2
    assert got["k"].min_num == 1.0 and got["k"].max_num == 2.0
    assert got["s"].min_num is None  # non-numeric: no range
    assert got["s"].n_distinct == 2
    assert got["v"].n_null == 1 and got["v"].max_num == 2.5
    assert got["z"].n_null == 3 and got["z"].n_distinct == 0
    # column subset
    sub = profile_table(df, columns=["k"]).collect()
    assert len(sub) == 1 and sub[0].col_name == "k"


def test_profile_table_interval_and_weird_names(spark):
    """Interval-typed columns are non-numeric (no invalid DOUBLE cast),
    and column names with dots/quotes neither break resolution nor the
    generated stack expression."""
    df = spark.sql(
        "SELECT 1 AS k, timestamp'2020-01-02' - timestamp'2020-01-01' AS dur"
    )
    from pyspark.sql import functions as SF

    from gdutils_spark.operators.summaries import profile_table

    got = {r.col_name: r for r in profile_table(df).collect()}
    assert got["dur"].min_num is None  # interval: profiled, not cast
    assert got["k"].min_num == 1.0
    weird = spark.range(2).select(
        SF.col("id").alias("a.b"), SF.lit("x'y").alias("q't")
    )
    rows = {r.col_name: r for r in profile_table(weird).collect()}
    assert set(rows) == {"a.b", "q't"}
    assert rows["a.b"].n_distinct == 2


def test_priority_sample_model_merge_and_validation(spark):
    """Priority sampling: (a) matches the python model bit-exactly,
    (b) the bottom-k-by-priority merge lemma holds across shards,
    (c) NULL/non-positive weights and NULL ids are skipped, k validated,
    (d) heavier rows are sampled more often (the point of the op)."""
    import pytest

    from gdutils_spark.operators.dedup import _md5_int64
    from gdutils_spark.operators.dedup import MD5_INT64_DOMAIN
    from gdutils_spark.operators.sampling import priority_sample
    from pyspark.sql import functions as F

    rows = [(i, 100 if i % 10 == 0 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, w long")
    k = 50
    got = priority_sample(df, "id", "w", k)
    hashed = {
        r.id: r.hk
        for r in df.select(
            "id", _md5_int64(F.col("id").cast("string")).alias("hk")
        ).collect()
    }
    model = sorted(
        ((hashed[i] / MD5_INT64_DOMAIN) / float(w), i, w) for i, w in rows
    )[:k]
    want = sorted((i, w, p) for p, i, w in model)
    assert sorted((r.id, r.weight, r.priority) for r in got.collect()) == want
    # merge lemma: per-shard bottom-k's re-cut to the global sample
    sa = priority_sample(df.where(F.col("id") % 2 == 0), "id", "w", k)
    sb = priority_sample(df.where(F.col("id") % 2 == 1), "id", "w", k)
    merged = (
        sa.unionByName(sb).orderBy("priority", "id").limit(k).collect()
    )
    assert sorted((r.id, r.weight, r.priority) for r in merged) == want
    # heavy rows (weight 100, 10% of rows) dominate the sample
    heavy = sum(1 for i, w, _p in want if w == 100)
    assert heavy > k // 2
    # skips and validation
    dirty = spark.createDataFrame(
        [(1, 5), (None, 5), (2, None), (3, 0), (4, -2)],
        "id long, w long",
    )
    kept = priority_sample(dirty, "id", "w", 10).collect()
    assert [r.id for r in kept] == [1]
    with pytest.raises(ValueError, match="k="):
        priority_sample(df, "id", "w", 0)


def test_priority_sample_fractional_weights(spark):
    """Fractional weights in (0, 1) — the quality-score use case — must
    weight correctly, not truncate to zero (regression: an integer cast
    used to empty the sample); NaN weights are skipped."""
    from gdutils_spark.operators.sampling import priority_sample

    rows = [(i, 0.9 if i % 10 == 0 else 0.01) for i in range(200)]
    rows += [(999, float("nan"))]
    df = spark.createDataFrame(rows, "id long, w double")
    got = priority_sample(df, "id", "w", 30).collect()
    assert len(got) == 30
    assert all(r.id != 999 for r in got)
    heavy = sum(1 for r in got if r.weight == 0.9)
    assert heavy > 15  # 10% of rows carry 90x the weight


def test_priority_sample_grouped_quota_and_model(spark):
    """group_col=: k smallest priorities WITHIN each group (per-stratum
    quota), matching the python model; NULL groups skipped."""
    from gdutils_spark.operators.dedup import MD5_INT64_DOMAIN, _md5_int64
    from gdutils_spark.operators.sampling import priority_sample
    from pyspark.sql import functions as F

    rows = [(i, 1 + i % 7, "g%d" % (i % 3)) for i in range(120)]
    rows.append((999, 5, None))
    df = spark.createDataFrame(rows, "id long, w long, g string")
    k = 8
    got = sorted(
        (r.grp, r.id, r.weight, r.priority)
        for r in priority_sample(df, "id", "w", k, group_col="g").collect()
    )
    hashed = {
        r.id: r.hk
        for r in df.select(
            "id", _md5_int64(F.col("id").cast("string")).alias("hk")
        ).collect()
    }
    by_g = {}
    for i, w, g in rows:
        if g is None:
            continue
        p = (hashed[i] / MD5_INT64_DOMAIN) / float(w)
        by_g.setdefault(g, []).append((p, i, w))
    want = sorted(
        (g, i, w, p)
        for g, lst in by_g.items()
        for p, i, w in sorted(lst)[:k]
    )
    assert got == want
    assert all(r[1] != 999 for r in got)


def test_priority_sample_plan_shapes(spark):
    """Global: TakeOrderedAndProject (per-partition top-k, one tiny
    merge — never a full sort). Grouped: ONE exchange (the group-key
    shuffle feeding the rank cut)."""
    from gdutils_spark.operators.sampling import priority_sample
    from gdutils_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(i, 1 + i % 3, "g%d" % (i % 2)) for i in range(50)],
        "id long, w long, g string",
    )
    from gdutils_spark.plans import n_exchanges

    plan = formatted_plan(priority_sample(df, "id", "w", 5))
    assert "TakeOrderedAndProject" in plan
    g = priority_sample(df, "id", "w", 5, group_col="g")
    assert n_exchanges(g) <= 1, formatted_plan(g)


def test_bottomk_grouped_plan_single_shuffle(spark):
    """The grouped bottom-k sample is one group-key shuffle + a rank
    cut — no extra exchanges."""
    from gdutils_spark.operators.sketches import bottomk_sample
    from gdutils_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(i, float(i), "g%d" % (i % 2)) for i in range(50)],
        "id long, v double, g string",
    )
    from gdutils_spark.plans import n_exchanges

    s = bottomk_sample(df, "id", "v", 5, group_col="g")
    assert n_exchanges(s) <= 1, formatted_plan(s)


def test_priority_sample_merge_lemma(spark, sf_smoke):
    """The bottom-k-by-priority lemma the streaming reservoir relies
    on: merging per-shard k-samples equals the whole-corpus k-sample,
    for ANY split of the corpus — and the merge is associative."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.sampling import (
        priority_sample,
        priority_sample_merge,
    )
    from gdutils_spark.sources.tables import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", F.length("text").cast("long").alias("w")
    )
    k = 16
    whole = sorted(priority_sample(docs, "doc_id", "w", k).collect())
    parts = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    samples = [priority_sample(p, "doc_id", "w", k) for p in parts]
    merged_lr = priority_sample_merge(
        priority_sample_merge(samples[0], samples[1], k), samples[2], k
    )
    merged_rl = priority_sample_merge(
        samples[0], priority_sample_merge(samples[1], samples[2], k), k
    )
    assert sorted(merged_lr.collect()) == whole
    assert sorted(merged_rl.collect()) == whole
    import pytest

    with pytest.raises(ValueError, match="k="):
        priority_sample_merge(samples[0], samples[1], 0)

    # Idempotence under population overlap: the same sample twice (the
    # degenerate full overlap) merges to itself — a duplicated id must
    # not occupy two of the k slots and displace a legitimate row.
    self_merged = priority_sample_merge(samples[0], samples[0], k)
    assert sorted(self_merged.collect()) == sorted(samples[0].collect())


def test_fk_audit_counts_orphans_and_nulls(spark):
    from gdutils_spark.operators.summaries import fk_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = {r["fk_name"]: r for r in fk_audit(
        [("child.fk->parent", child, "fk", parent, "pk")]
    ).collect()}
    r = out["child.fk->parent"]
    assert r["n_rows"] == 4
    assert r["n_null_keys"] == 1       # NULL key is not an orphan
    assert r["n_orphans"] == 1         # fk=99 has no parent
    assert r["orphan_rate"] == 0.25


def test_fk_audit_empty_child_reads_clean_not_null(spark):
    from gdutils_spark.operators.summaries import fk_audit

    child = spark.createDataFrame([], "id long, fk long")
    parent = spark.createDataFrame([(10,)], "pk long")
    r = fk_audit([("empty->parent", child, "fk", parent, "pk")]).collect()[0]
    # sums over zero rows are NULL in SQL — the audit must report a
    # fully-empty edge as CLEAN zeros, not indeterminate NULLs that a
    # `rate > x` gate would silently pass
    assert r["n_rows"] == 0
    assert r["n_null_keys"] == 0
    assert r["n_orphans"] == 0
    assert r["orphan_rate"] == 0.0


def test_fk_audit_multiple_edges_and_validation(spark):
    import pytest as _pytest

    from gdutils_spark.operators.summaries import fk_audit

    a = spark.createDataFrame([(1,)], "k long")
    out = fk_audit(
        [("a->a", a, "k", a, "k"), ("a->a2", a, "k", a, "k")]
    ).collect()
    assert sorted(r["fk_name"] for r in out) == ["a->a", "a->a2"]
    assert all(r["n_orphans"] == 0 for r in out)
    with _pytest.raises(ValueError, match="fk_audit"):
        fk_audit([])


def test_text_stats_keep_cols_passthrough_and_collision(spark):
    from gdutils_spark.operators.text import text_stats

    df = spark.createDataFrame(
        [(1, "the quick brown fox", "web", 19)],
        "doc_id long, text string, source string, n_chars long",
    )
    out = text_stats(
        df.withColumnRenamed("n_chars", "w"), keep_cols=("source", "w")
    ).collect()[0]
    assert out["source"] == "web" and out["w"] == 19
    assert out["n_tokens"] == 4  # stats unchanged by keep_cols
    import pytest as _pt

    with _pt.raises(ValueError, match="collide"):
        text_stats(df, keep_cols=("n_chars",))


def test_ingest_pipeline_staged_matches_fresh(spark, sf_smoke, tmp_path):
    """VERDICT r13 task 2: the nightly admission run against STAGED
    corpus artifacts (fingerprint set + bloom + banded signatures)
    returns exactly the fresh-compute rows (the ivfpq_append staged ==
    rebuilt convention), and the staged LSH table carries a validated
    parameter sidecar."""
    import json
    import os

    from gdutils_spark.operators.dedup import LSH_META_NAME
    from gdutils_spark.queries_ext import (
        doc_ingest_pipeline,
        stage_ingest_corpus,
    )

    d = str(tmp_path / "stage")
    stage_ingest_corpus(spark, sf_smoke, d)
    for sub in ("corpus_fp", "corpus_fp_bloom", "lsh_banded"):
        assert os.path.isdir(os.path.join(d, sub)), sub
    # partitioned fingerprint layout (fp_pfx=xx dirs) + LSH sidecar
    assert any(
        e.startswith("fp_pfx=") for e in os.listdir(os.path.join(d, "corpus_fp"))
    )
    with open(os.path.join(d, "lsh_banded", LSH_META_NAME)) as f:
        meta = json.load(f)
    assert set(meta) == {"num_perms", "k", "bands"}
    fresh = sorted(map(tuple, doc_ingest_pipeline(spark, sf_smoke).collect()))
    staged = sorted(
        map(tuple, doc_ingest_pipeline(spark, sf_smoke, stage_dir=d).collect())
    )
    assert staged == fresh and len(fresh) >= 1


def test_lsh_between_staged_validates_params(spark, tmp_path):
    """A staged banded-signature table built with different
    (num_perms, k, bands) raises instead of silently returning zero
    candidates; matching parameters reproduce the fresh pairs."""
    from gdutils_spark.operators.dedup import (
        minhash_lsh_pairs_between,
        stage_lsh_corpus,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(30)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta 7"),
         (101, "totally unrelated content here now")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "banded")
    stage_lsh_corpus(corpus, path, num_perms=16, k=3, bands=4)
    kw = dict(num_perms=16, k=3, bands=4, threshold=0.5)
    fresh = sorted(
        map(tuple, minhash_lsh_pairs_between(batch, corpus, **kw).collect())
    )
    staged = sorted(
        map(
            tuple,
            minhash_lsh_pairs_between(
                batch, corpus, corpus_banded_path=path, **kw
            ).collect(),
        )
    )
    assert staged == fresh and len(fresh) >= 1
    for bad in (dict(kw, bands=8), dict(kw, k=4), dict(kw, num_perms=32)):
        with pytest.raises(ValueError, match="staged banded table"):
            minhash_lsh_pairs_between(
                batch, corpus, corpus_banded_path=path, **bad
            )


def test_append_ingest_corpus_equals_rebuild(spark, sf_smoke, tmp_path):
    """append == rebuild across all three staged artifacts (the
    ivfpq_append convention): staging corpus_old then appending a delta
    produces the SAME fingerprint set, the SAME bloom words, and the
    SAME banded-signature row set as staging the union from scratch —
    and a probe through minhash_lsh_pairs_between returns identical
    pairs against either artifact."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.dedup import minhash_lsh_pairs_between
    from gdutils_spark.queries_ext import (
        BANDS,
        JACCARD_T,
        NGRAM_K,
        NUM_PERMS,
        append_ingest_corpus,
        stage_corpus_artifacts,
    )
    from gdutils_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_smoke, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    corpus_full = docs.where(F.col("doc_id") % 10 != 0)
    corpus_old = corpus_full.where(F.col("doc_id") % 3 != 0)
    delta = corpus_full.where(F.col("doc_id") % 3 == 0)
    a = str(tmp_path / "appended")
    r = str(tmp_path / "rebuilt")
    stage_corpus_artifacts(corpus_old, a)
    append_ingest_corpus(spark, delta, a)
    stage_corpus_artifacts(corpus_full, r)
    fps_a = {x["__fp"] for x in spark.read.parquet(a + "/corpus_fp").collect()}
    fps_r = {x["__fp"] for x in spark.read.parquet(r + "/corpus_fp").collect()}
    assert fps_a == fps_r and len(fps_r) > 0
    bl_a = {(x["word"], x["bits"]) for x in
            spark.read.parquet(a + "/corpus_fp_bloom").collect()}
    bl_r = {(x["word"], x["bits"]) for x in
            spark.read.parquet(r + "/corpus_fp_bloom").collect()}
    assert bl_a == bl_r
    bd_a = {tuple(x) for x in spark.read.parquet(a + "/lsh_banded").collect()}
    bd_r = {tuple(x) for x in spark.read.parquet(r + "/lsh_banded").collect()}
    assert bd_a == bd_r
    batch = docs.where(F.col("doc_id") % 10 == 0)
    kw = dict(num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=JACCARD_T)
    via_a = sorted(map(tuple, minhash_lsh_pairs_between(
        batch, corpus_full, corpus_banded_path=a + "/lsh_banded", **kw
    ).collect()))
    via_r = sorted(map(tuple, minhash_lsh_pairs_between(
        batch, corpus_full, corpus_banded_path=r + "/lsh_banded", **kw
    ).collect()))
    assert via_a == via_r
    # a missing sidecar refuses the append (corrupt-candidate guard)
    import os

    os.remove(os.path.join(a, "lsh_banded",
                           __import__("gdutils_spark.operators.dedup",
                                      fromlist=["LSH_META_NAME"]).LSH_META_NAME))
    with pytest.raises(ValueError, match="no parameter sidecar"):
        append_ingest_corpus(spark, delta, a)


def test_staged_lsh_empty_sides_well_formed(spark, tmp_path):
    """Empty-input contracts for the staged tier (r13 empty-hunt
    convention): staging an EMPTY corpus yields a valid (empty)
    artifact + sidecar that probes to zero pairs, and an empty BATCH
    against a staged corpus yields zero pairs — never an opaque crash."""
    from gdutils_spark.operators.dedup import (
        minhash_lsh_pairs_between,
        stage_lsh_corpus,
    )

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    corpus = spark.createDataFrame(
        [(i, f"some corpus document number {i} with words") for i in range(8)],
        schema,
    )
    batch = spark.createDataFrame(
        [(100, "some corpus document number 3 with words")], schema
    )
    p_empty = str(tmp_path / "banded_empty")
    stage_lsh_corpus(empty, p_empty, num_perms=16, k=3, bands=4)
    kw = dict(num_perms=16, k=3, bands=4, threshold=0.5)
    out = minhash_lsh_pairs_between(
        batch, empty, corpus_banded_path=p_empty, **kw
    )
    assert out.columns == ["new_id", "corpus_id", "jaccard"]
    assert out.count() == 0
    p_full = str(tmp_path / "banded_full")
    stage_lsh_corpus(corpus, p_full, num_perms=16, k=3, bands=4)
    assert (
        minhash_lsh_pairs_between(
            empty, corpus, corpus_banded_path=p_full, **kw
        ).count()
        == 0
    )
    # non-empty sanity on the same artifacts
    assert (
        minhash_lsh_pairs_between(
            batch, corpus, corpus_banded_path=p_full, **kw
        ).count()
        >= 1
    )


def test_ingest_bootstrap_from_empty_staged_corpus(spark, tmp_path):
    """First-night bootstrap: stage an EMPTY corpus (no parquet
    part-files on disk — the explicit read schemas make it readable),
    admit a batch against it (everything bloom-negative -> admitted
    without touching the fingerprint set), then append and re-admit:
    the second night's duplicates are now caught."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.dedup import minhash_lsh_pairs_between
    from gdutils_spark.queries_ext import (
        BANDS,
        NGRAM_K,
        NUM_PERMS,
        append_ingest_corpus,
        stage_corpus_artifacts,
    )

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    d = str(tmp_path / "boot")
    stage_corpus_artifacts(empty, d)
    night1 = spark.createDataFrame(
        [(1, "first night document about spark pipelines"),
         (2, "second unique document mentioning warehouses")],
        schema,
    )
    kw = dict(num_perms=NUM_PERMS, k=NGRAM_K, bands=BANDS, threshold=0.5)
    assert (
        minhash_lsh_pairs_between(
            night1, empty, corpus_banded_path=d + "/lsh_banded", **kw
        ).count()
        == 0
    )
    append_ingest_corpus(spark, night1, d)
    assert spark.read.parquet(d + "/corpus_fp").count() == 2
    night2 = spark.createDataFrame(
        [(10, "first night document about spark pipelines"),  # dup
         (11, "a wholly new third document appears tonight")],
        schema,
    )
    pairs = minhash_lsh_pairs_between(
        night2, night1.withColumnRenamed("doc_id", "doc_id"),
        corpus_banded_path=d + "/lsh_banded", **kw,
    )
    assert {r["new_id"] for r in pairs.collect()} == {10}
