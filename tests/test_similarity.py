"""Similarity-search operator properties.

The oracle hash-parity for every emb_* query lives in
test_queries_oracle.py; these tests pin the *operator* properties the
oracle can't see: LSH recall semantics (subset of brute force, identical
scores on the intersection) and the no-driver-collect scale contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from gdutils_spark.operators import similarity as sim
from gdutils_spark.sources.tables import load_table

THRESH = 0.45


@pytest.fixture(scope="module")
def embeddings(spark, sf_correct):
    return load_table(spark, sf_correct, "embeddings")


def test_lsh_pairs_subset_of_bruteforce_with_equal_scores(embeddings):
    bf = {
        (r.d1, r.d2): r.score
        for r in sim.embedding_near_dup_pairs(embeddings, threshold=THRESH).collect()
    }
    # generous banding (low rows_per_band) so threshold-edge pairs are
    # detectable; production geometry is exercised in the dup-recall test
    lsh = {
        (r.d1, r.d2): r.score
        for r in sim.lsh_near_dup_pairs(
            embeddings, threshold=THRESH, bands=8, rows_per_band=4
        ).collect()
    }
    assert bf, "test corpus must contain near-dup pairs"
    # every LSH pair is a true near-dup pair (exact verification step)...
    assert set(lsh) <= set(bf)
    # ...with the same exact score, and banding keeps recall useful
    for pair, score in lsh.items():
        assert score == pytest.approx(bf[pair], abs=1e-12)
    assert len(lsh) >= 0.5 * len(bf)


def test_lsh_finds_genuine_duplicates(spark):
    """The property that matters in a dedup pipeline: vectors that are
    near-COPIES (cosine ~0.999) are detected with the production band
    geometry (16x8), where detection prob per such pair is >0.999."""
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # ids 100+i: tiny perturbation of vector i → cosine ≈ 0.999
    for i, v in enumerate(base[:10]):
        pert = [float(x + rng.gauss(0, 0.02)) for x in v]
        rows.append((100 + i, pert))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.d1, r.d2): r.score
        for r in sim.lsh_near_dup_pairs(
            df, threshold=0.9, bands=16, rows_per_band=8
        ).collect()
    }
    expected = {(i, 100 + i) for i in range(10)}
    assert expected <= set(got)
    assert all(s > 0.99 for p, s in got.items() if p in expected)


def test_lsh_pairs_builds_without_driver_collect(embeddings, monkeypatch):
    """The scale contract: plan construction must not materialize the
    corpus on the driver (embedding_near_dup_pairs deliberately does —
    it is the broadcast-constrained exact baseline)."""

    def boom(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-side collect during plan build")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = sim.lsh_near_dup_pairs(embeddings, threshold=THRESH)
    assert df.columns == ["d1", "d2", "score"]


def test_exact_baseline_refuses_oversized_corpus(embeddings):
    """The broadcast-sized guard: the exact baseline must fail fast (and
    point at the LSH scale path) instead of collecting an entity-scale
    corpus onto the driver."""
    with pytest.raises(ValueError, match="lsh_near_dup_pairs"):
        sim.embedding_near_dup_pairs(
            embeddings, threshold=THRESH, max_broadcast_rows=10
        )


def test_lsh_pairs_staged_to_parquet(embeddings, tmp_path):
    """stage_path turns the 100 TB note into runnable code: the banded
    table lands in parquet once and BOTH self-join sides scan the staged
    files (no executor-storage cache at all), with identical results."""
    from gdutils_spark.plans import formatted_plan

    path = str(tmp_path / "banded_lsh")
    staged = sim.lsh_near_dup_pairs(embeddings, threshold=THRESH, stage_path=path)
    plan = formatted_plan(staged)
    assert plan.count("banded_lsh") >= 2, "both join sides must read the staged table"
    assert "InMemoryTableScan" not in plan
    cached = {
        (r.d1, r.d2): r.score
        for r in sim.lsh_near_dup_pairs(embeddings, threshold=THRESH).collect()
    }
    got = {(r.d1, r.d2): r.score for r in staged.collect()}
    assert got == cached


def test_knn_ivf_sweep_matches_per_arm_runs(embeddings):
    """The single-pass sweep must reproduce knn_ivf exactly for every
    probe budget (smaller budgets are prefix subsets of the probe
    ranking — that's the invariant the fan-out exploits)."""
    queries = embeddings.where("vec_id < 5")
    sweep = {}
    for r in sim.knn_ivf_sweep(
        embeddings, queries, k=3, n_centroids=8, probes=(1, 2, 4)
    ).collect():
        sweep.setdefault(r["n_probe"], set()).add(
            (r["query_id"], r["neighbor_id"], round(r["score"], 12))
        )
    for p in (1, 2, 4):
        arm = {
            (r["query_id"], r["neighbor_id"], round(r["score"], 12))
            for r in sim.knn_ivf(
                embeddings, queries, k=3, n_centroids=8, n_probe=p
            ).collect()
        }
        assert sweep.get(p, set()) == arm, f"n_probe={p}"


def test_semantic_dedup_custom_id_col(embeddings):
    """The output contract follows the input id column's name and type
    (ADVICE r4: the schema used to hardcode 'vec_id long')."""
    renamed = embeddings.selectExpr(
        "CAST(vec_id AS STRING) AS doc_key", "embedding AS emb"
    )
    out = sim.semantic_dedup(renamed, id_col="doc_key", vec_col="emb", n_centroids=4)
    assert [f.name for f in out.schema.fields] == ["doc_key", "centroid", "is_kept"]
    assert out.schema["doc_key"].dataType.simpleString() == "string"
    assert out.schema["centroid"].dataType.simpleString() == "string"
    # one row per input vector, ids round-trip unchanged (no silent
    # rename/miscast), and the keep rule still fires
    n = embeddings.count()
    assert out.count() == n
    assert out.select("doc_key").distinct().count() == n
    kept = out.where("is_kept").count()
    assert 0 < kept < n


def test_banded_buckets_shape(embeddings):
    bb = sim.banded_lsh_buckets(embeddings, bands=4, rows_per_band=2)
    rows = bb.groupBy("band").count().collect()
    n = embeddings.count()
    assert {r.band for r in rows} == {0, 1, 2, 3}
    assert all(r["count"] == n for r in rows)
    # r-plane buckets live in [0, 2^r)
    mm = bb.selectExpr("min(bucket) AS lo", "max(bucket) AS hi").first()
    assert 0 <= mm.lo and mm.hi < 4


def test_ivf_refinement_improves_recall_on_bad_seeds(spark):
    """The case k-means refinement exists for: when the lowest-id seed
    sample is unrepresentative (here: the first 8 ids all sit in ONE true
    cluster), Lloyd iterations rebalance the clusters and recall at a
    fixed probe budget jumps."""
    import random

    rng = random.Random(42)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i // 50]  # ids 0..49 share cluster 0 → all seeds collide
        rows.append((i, [x + rng.gauss(0, 0.25) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where((df.vec_id % 50) < 2)  # 2 queries per true cluster
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.knn_bruteforce(df, qs, k=5).collect()
    }

    def recall(iters):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_ivf(
                df, qs, k=5, n_centroids=8, n_probe=1, refine_iters=iters
            ).collect()
        }
        return len(got & truth) / len(truth)

    r_seed, r_refined = recall(0), recall(2)
    assert r_refined > r_seed, (r_seed, r_refined)
    assert r_refined == 1.0
    # refinement also rebalances: every Lloyd-refined cluster recovers
    # exactly one true cluster
    sizes = sorted(
        r["count"]
        for r in sim.ivf_assign(df, n_centroids=8, refine_iters=2)
        .groupBy("centroid")
        .count()
        .collect()
    )
    assert sizes == [50] * 8


def test_zero_norm_vectors_never_pair(spark):
    """A zero vector lands in bucket 0 of every band and scores NaN
    against its bucket-mates; Spark sorts NaN above every number, so the
    threshold filter alone would emit it — both paths must drop it."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(10)]
    rows += [(100, [0.0] * 64), (101, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = sim.lsh_near_dup_pairs(df, threshold=0.45).collect()
    bf = sim.embedding_near_dup_pairs(df, threshold=0.45).collect()
    for r in lsh + bf:
        assert r.d1 not in (100, 101) and r.d2 not in (100, 101)
        assert r.score == r.score  # not NaN


def test_pq_encode_seed_self_encoding(spark, embeddings):
    """Codebook seed vectors must encode to their own code in every
    subspace with exactly zero quantization error (exact arithmetic);
    all codes stay in [0, k); error is non-negative."""
    import gdutils_spark.operators.similarity as sim

    out = {r.vec_id: r for r in sim.pq_encode(embeddings, m=4, k=8).collect()}
    seeds = sorted(out)[:8]
    for rank, vid in enumerate(seeds):
        assert list(out[vid].codes) == [rank] * 4
        assert out[vid].pq_error == 0.0
    for r in out.values():
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)
        assert r.pq_error >= 0.0


def test_pq_encode_matches_python_model(spark):
    """pq_encode vs a pure-Python model with the same sequential-dim
    accumulation: codes AND errors must match EXACTLY (all arithmetic is
    order-pinned IEEE, so there is no tolerance to hide behind)."""
    import gdutils_spark.operators.similarity as sim

    dim, m, k = 8, 4, 3
    vecs = [
        (i, [float(((i * 7 + j * 13) % 19) - 9) / 3.0 for j in range(dim)])
        for i in range(12)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    sub = dim // m
    C = [v for _, v in vecs[:k]]  # lowest-id seeds
    expect = {}
    for vid, v in vecs:
        codes, err = [], 0.0
        for s in range(m):
            dists = []
            for c in C:
                acc = (v[s * sub] - c[s * sub]) * (v[s * sub] - c[s * sub])
                for i in range(s * sub + 1, (s + 1) * sub):
                    acc = acc + (v[i] - c[i]) * (v[i] - c[i])
                dists.append(acc)
            best = min(range(k), key=lambda j: (dists[j], j))
            codes.append(best)
            err = dists[best] if s == 0 else err + dists[best]
        expect[vid] = (codes, err)

    got = {
        r.vec_id: (list(r.codes), r.pq_error)
        for r in sim.pq_encode(df, m=m, k=k).collect()
    }
    assert got == expect


def test_knn_query_side_guards(embeddings):
    """Every knn_* operator broadcasts/collects the QUERY relation; an
    accidental corpus-as-queries swap must raise, not OOM the driver."""
    import pytest

    queries = embeddings.where("vec_id < 5")
    for fn, kw in [
        (sim.knn_bruteforce, {}),
        (sim.knn_ivf, {"n_centroids": 8}),
        (sim.knn_ivf_sweep, {"n_centroids": 8, "probes": (1, 2)}),
        (sim.knn_lsh, {}),
        (sim.knn_pq, {"m": 4, "n_codes": 8}),
    ]:
        with pytest.raises(ValueError, match="max_query_rows"):
            fn(embeddings, embeddings, k=3, max_query_rows=3, **kw)
        # legitimate query sets still run (guard scans ≤ max+1 ids)
        assert fn(embeddings, queries, k=1, max_query_rows=5, **kw).count() > 0


def test_knn_ivf_sweep_rejects_empty_probes(embeddings):
    import pytest

    queries = embeddings.where("vec_id < 3")
    with pytest.raises(ValueError, match="probes must be non-empty"):
        sim.knn_ivf_sweep(embeddings, queries, probes=())


def _np_model(embeddings):
    import numpy as np

    pdf = embeddings.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    return ids, M


def test_knn_ivf_pq_matches_python_model(embeddings):
    """IVF-PQ composition == (probe cells like knn_ivf) ∩ (rank by ADC
    like knn_pq), checked against an independent numpy replay."""
    import numpy as np

    K, NC, NP, M_, NCODES = 3, 8, 2, 4, 8
    ids, M = _np_model(embeddings)
    assert list(ids[:NC]) == sorted(ids)[:NC]
    CC = M[:NC]  # coarse centroids = lowest-id vectors (ids sorted)
    C = M[:NCODES]
    D = M.shape[1]
    sub = D // M_
    norms = np.linalg.norm(M, axis=1)

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    # corpus cell assignment (max cosine, lowest cid tie-break == argmax)
    cell = {
        ids[i]: ids[int(np.argmax([cos(M[i], c) for c in CC]))]
        for i in range(len(ids))
    }
    codes = {
        ids[i]: [
            int(np.argmin([np.sum((M[i, s * sub:(s + 1) * sub] - C[c, s * sub:(s + 1) * sub]) ** 2) for c in range(NCODES)]))
            for s in range(M_)
        ]
        for i in range(len(ids))
    }
    queries = embeddings.where("vec_id < 5")
    got = {}
    for r in sim.knn_ivf_pq(
        embeddings, queries, k=K, n_centroids=NC, n_probe=NP, m=M_, n_codes=NCODES
    ).collect():
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.approx_d2))
    for qid in [i for i in ids if i < 5]:
        qv = M[list(ids).index(qid)]
        probe_rank = sorted(range(NC), key=lambda c: (-cos(qv, CC[c]), ids[c]))
        probed = {ids[c] for c in probe_rank[:NP]}
        # ADC table for this query
        T = [
            [float(np.sum((qv[s * sub:(s + 1) * sub] - C[c, s * sub:(s + 1) * sub]) ** 2)) for c in range(NCODES)]
            for s in range(M_)
        ]
        cand = [
            (i, sum(T[s][codes[i][s]] for s in range(M_)))
            for i in ids
            if i != qid and cell[i] in probed
        ]
        cand.sort(key=lambda t: (t[1], t[0]))
        want = cand[:K]
        have = sorted(got.get(qid, []), key=lambda t: (t[1], t[0]))
        assert [n for n, _ in have] == [n for n, _ in want], qid
        for (hn, hd), (wn, wd) in zip(have, want):
            assert hd == pytest.approx(wd, rel=1e-9)


def test_pq_refined_codebooks_reduce_error(embeddings):
    """Lloyd-refined codebooks must not increase total quantization
    error (k-means iterations are non-increasing in SSE), and on real
    data strictly reduce it; codes remain valid indices."""
    from pyspark.sql import functions as F

    seed = sim.pq_encode(embeddings, m=4, k=8)
    refined = sim.pq_encode(embeddings, m=4, k=8, refine_iters=2)
    e0 = seed.agg(F.sum("pq_error")).collect()[0][0]
    e2 = refined.agg(F.sum("pq_error")).collect()[0][0]
    assert e2 < e0, (e0, e2)
    mx = refined.select(F.array_max("codes").alias("m")).agg(F.max("m")).collect()[0][0]
    assert mx <= 7


def test_pq_refine_matches_python_lloyd(embeddings):
    """The refined codebook equals an independent per-subspace Lloyd
    replay (assign to nearest sub-centroid, mean of members, keep-empty
    rule), up to fp tolerance."""
    import numpy as np

    M_, NCODES, ITERS = 4, 8, 2
    ids, M = _np_model(embeddings)
    C = M[:NCODES].copy()
    D = M.shape[1]
    sub = D // M_
    for _ in range(ITERS):
        newC = C.copy()
        for s in range(M_):
            lo, hi = s * sub, (s + 1) * sub
            d = ((M[:, None, lo:hi] - C[None, :, lo:hi]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(NCODES):
                members = M[a == c, lo:hi]
                if len(members):
                    newC[c, lo:hi] = members.mean(axis=0)
        C = newC
    got = sim.pq_refine_codebooks(embeddings, m=M_, k=NCODES, n_iters=ITERS)
    assert np.allclose(got, C, atol=1e-9), np.abs(got - C).max()


def test_knn_ivf_pq_staged_index_matches(embeddings, tmp_path):
    """stage_path lands the IVF-PQ index in parquet; the staged search
    must return identical results and read the staged files."""
    from gdutils_spark.plans import formatted_plan

    queries = embeddings.where("vec_id < 5")
    kw = dict(k=3, n_centroids=8, n_probe=2, m=4, n_codes=8)
    path = str(tmp_path / "ivfpq_index")
    staged = sim.knn_ivf_pq(embeddings, queries, stage_path=path, **kw)
    plan = formatted_plan(staged)
    assert "ivfpq_index" in plan
    live = {
        (r.query_id, r.neighbor_id, r.approx_d2)
        for r in sim.knn_ivf_pq(embeddings, queries, **kw).collect()
    }
    assert {
        (r.query_id, r.neighbor_id, r.approx_d2) for r in staged.collect()
    } == live


def test_knn_ivf_pq_prebuilt_index_reuse(embeddings, tmp_path):
    """The search-many-times path: an ivfpq_index built (and staged)
    once feeds multiple searches with identical results and no corpus
    re-encode in the search plan."""
    from gdutils_spark.plans import formatted_plan

    kw = dict(k=3, n_centroids=8, n_probe=2, m=4, n_codes=8)
    path = str(tmp_path / "idx")
    idx = sim.ivfpq_index(
        embeddings, n_centroids=8, m=4, n_codes=8, stage_path=path
    )
    queries = embeddings.where("vec_id < 5")
    via_index = sim.knn_ivf_pq(embeddings, queries, index=idx, **kw)
    plan = formatted_plan(via_index)
    assert "MapInPandas" not in plan  # no re-encode: scans the staged index
    inline = {
        (r.query_id, r.neighbor_id, r.approx_d2)
        for r in sim.knn_ivf_pq(embeddings, queries, **kw).collect()
    }
    assert {
        (r.query_id, r.neighbor_id, r.approx_d2) for r in via_index.collect()
    } == inline
    import pytest as _pt

    with _pt.raises(ValueError, match="not both"):
        sim.knn_ivf_pq(embeddings, queries, index=idx, stage_path=path, **kw)


def test_knn_ivf_pq_empty_queries_returns_empty(embeddings):
    """An empty query relation degrades gracefully (empty result with
    the output schema) like the other knn_* operators, instead of an
    opaque np.stack ValueError."""
    empty_q = embeddings.where("vec_id < 0")
    out = sim.knn_ivf_pq(
        embeddings, empty_q, k=3, n_centroids=8, n_probe=2, m=4, n_codes=8
    )
    assert out.columns == ["query_id", "neighbor_id", "approx_d2"]
    assert out.count() == 0


def test_knn_ivf_pq_prebuilt_index_geometry_mismatch_raises(embeddings):
    """A prebuilt index searched with different m / n_codes must fail
    fast — the ADC join would otherwise silently drop subspace terms and
    rank wrong with no error."""
    idx = sim.ivfpq_index(embeddings, n_centroids=8, m=4, n_codes=8)
    queries = embeddings.where("vec_id < 3")
    with pytest.raises(ValueError, match="geometry mismatch"):
        sim.knn_ivf_pq(
            embeddings, queries, index=idx,
            k=3, n_centroids=8, n_probe=2, m=2, n_codes=8,
        )
    with pytest.raises(ValueError, match="geometry mismatch"):
        sim.knn_ivf_pq(
            embeddings, queries, index=idx,
            k=3, n_centroids=8, n_probe=2, m=4, n_codes=4,
        )


def test_knn_ivf_pq_trained_beats_or_ties_seed_recall(embeddings):
    """A fully-trained IVF-PQ (Lloyd coarse + Lloyd codebooks) must not
    lose recall vs the seed index at the same probe/bit budget, and must
    run end-to-end (param threading: probe table and ADC codebook match
    the trained index)."""
    queries = embeddings.where("vec_id < 8")
    truth = sim.knn_bruteforce(embeddings, queries, k=3)
    t = {(r.query_id, r.neighbor_id) for r in truth.collect()}

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_ivf_pq(
                embeddings, queries, k=3, n_centroids=8, n_probe=4,
                m=4, n_codes=8, **kw
            ).collect()
        }
        return len(got & t) / len(t)

    seed = recall()
    trained = recall(coarse_refine_iters=2, pq_refine_iters=2)
    assert trained >= seed - 1e-9, (seed, trained)


def test_knn_ivf_pq_trained_index_with_matrices_no_retrain(embeddings, tmp_path):
    """The documented trained-reuse flow: train once, stage the index,
    pass the matrices to every search — results identical to inline
    training, and no encode map in the search plan."""
    from gdutils_spark.plans import formatted_plan

    kw = dict(k=3, n_centroids=8, n_probe=2, m=4, n_codes=8)
    coarse = sim.ivf_refine_centroids(embeddings, n_centroids=8, n_iters=1)
    codebook = sim.pq_refine_codebooks(embeddings, m=4, k=8, n_iters=1)
    idx = sim.ivfpq_index(
        embeddings, n_centroids=8, m=4, n_codes=8,
        stage_path=str(tmp_path / "tidx"), _coarse=coarse, _codebook=codebook,
    )
    queries = embeddings.where("vec_id < 5")
    reused = sim.knn_ivf_pq(
        embeddings, queries, index=idx, coarse=coarse, codebook=codebook, **kw
    )
    assert "MapInPandas" not in formatted_plan(reused)
    inline = {
        (r.query_id, r.neighbor_id, r.approx_d2)
        for r in sim.knn_ivf_pq(
            embeddings, queries, coarse_refine_iters=1, pq_refine_iters=1, **kw
        ).collect()
    }
    assert {
        (r.query_id, r.neighbor_id, r.approx_d2) for r in reused.collect()
    } == inline


@pytest.mark.parametrize("m_,ncodes", [(2, 4), (8, 16), (16, 8)])
def test_pq_encode_geometries_match_model(embeddings, m_, ncodes):
    """pq_encode across subspace/codebook geometries: codes match an
    independent numpy replay (argmin over per-subspace squared
    distances, lowest-index ties) — guards the sub-dimension slicing
    arithmetic for every D % m == 0 configuration."""
    import numpy as np

    ids, M = _np_model(embeddings)
    C = M[:ncodes]
    D = M.shape[1]
    sub = D // m_
    got = {r.vec_id: list(r.codes) for r in sim.pq_encode(
        embeddings, m=m_, k=ncodes
    ).collect()}
    sample = list(ids[:40])
    for vid in sample:
        x = M[list(ids).index(vid)]
        want = [
            int(np.argmin([
                np.sum((x[s * sub:(s + 1) * sub] - C[c, s * sub:(s + 1) * sub]) ** 2)
                for c in range(ncodes)
            ]))
            for s in range(m_)
        ]
        assert got[vid] == want, (vid, m_, ncodes)


def test_knn_ivf_pq_residual_matches_numpy_model(embeddings):
    """Residual IVF-PQ end-to-end vs an independent numpy replay:
    trained-coarse assignment, residual encode against offset seeds,
    per-probed-cell ADC, top-k — the full chain."""
    import numpy as np

    k, nc, npb, m_, ncodes = 3, 8, 2, 4, 8
    queries = embeddings.where("vec_id < 5")
    got = {
        (r.query_id, r.neighbor_id): r.approx_d2
        for r in sim.knn_ivf_pq(
            embeddings, queries, k=k, n_centroids=nc, n_probe=npb,
            m=m_, n_codes=ncodes, coarse_refine_iters=1, residual=True,
        ).collect()
    }
    pdf = embeddings.orderBy("vec_id").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    cids, CC = sim.ivf_refine_centroids(
        embeddings, n_centroids=nc, n_iters=1
    )
    nrm = lambda M: np.linalg.norm(M, axis=1)
    S = np.clip((X @ CC.T) / (nrm(X)[:, None] * nrm(CC)[None, :]), -1, 1)
    cell_idx = S.argmax(axis=1)
    R = X - CC[cell_idx]
    # offset residual seeds: ids ranked nc..nc+ncodes
    order = np.argsort(ids)
    seed_rows = order[nc : nc + ncodes]
    C = R[seed_rows]
    sub = X.shape[1] // m_
    codes = np.empty((len(X), m_), dtype=int)
    for s in range(m_):
        lo = s * sub
        d2 = ((R[:, None, lo:lo + sub] - C[None, :, lo:lo + sub]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    id_of = {i: int(ids[i]) for i in range(len(ids))}
    qrows = [i for i in range(len(ids)) if ids[i] < 5]
    model = {}
    for qi in qrows:
        probe_order = np.lexsort((cids, -S[qi]))[:npb]
        cands = []
        for ci in probe_order:
            Rq = X[qi] - CC[ci]
            for xi in np.where(cell_idx == ci)[0]:
                if xi == qi:
                    continue
                d = 0.0
                for s in range(m_):
                    lo = s * sub
                    d += ((Rq[lo:lo + sub] - C[codes[xi, s], lo:lo + sub]) ** 2).sum()
                cands.append((d, id_of[xi]))
        for d, nid in sorted(cands)[:k]:
            model[(id_of[qi], nid)] = d
    assert set(got) == set(model)
    for key in got:
        assert abs(got[key] - model[key]) < 1e-9, key


def test_knn_ivf_pq_residual_prebuilt_index_reuse(embeddings, tmp_path):
    """Residual index built once + searched via index=/coarse=/codebook=
    equals the inline residual search, with no re-encode in the plan."""
    from gdutils_spark.plans import formatted_plan

    kw = dict(k=3, n_centroids=8, n_probe=2, m=4, n_codes=8)
    coarse = sim.ivf_refine_centroids(embeddings, n_centroids=8, n_iters=1)
    codebook = sim._residual_codebook(
        embeddings, "vec_id", "embedding", 8, *coarse, 4, 0
    )
    idx = sim.ivfpq_index(
        embeddings, n_centroids=8, m=4, n_codes=8,
        stage_path=str(tmp_path / "ridx"),
        residual=True, _coarse=coarse, _codebook=codebook,
    )
    queries = embeddings.where("vec_id < 5")
    reused = sim.knn_ivf_pq(
        embeddings, queries, index=idx, residual=True,
        coarse=coarse, codebook=codebook, **kw,
    )
    assert "MapInPandas" not in formatted_plan(reused)
    inline = {
        (r.query_id, r.neighbor_id, r.approx_d2)
        for r in sim.knn_ivf_pq(
            embeddings, queries, coarse_refine_iters=1, residual=True, **kw
        ).collect()
    }
    assert {
        (r.query_id, r.neighbor_id, r.approx_d2) for r in reused.collect()
    } == inline


def test_residual_codebook_seeds_are_not_degenerate(embeddings):
    """The residual codebook must seed PAST the coarse seed ids — the
    lowest-id vectors ARE the coarse seeds, whose residuals are zero."""
    import numpy as np

    coarse = sim._seed_centroids(embeddings, "vec_id", "embedding", 8)
    C = sim._residual_codebook(
        embeddings, "vec_id", "embedding", 8, *coarse, 4, 0
    )
    norms = np.linalg.norm(C, axis=1)
    assert (norms > 1e-6).all(), norms


def test_knn_lsh_multiprobe_recall_superset(embeddings):
    """Multi-probe candidates are a superset of single-probe candidates,
    so recall@k vs exact truth can only improve or tie — and every
    multi-probe score on the shared pairs is identical."""
    queries = embeddings.where("vec_id < 8")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in sim.knn_bruteforce(embeddings, queries, k=3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id): r.score
        for r in sim.knn_lsh(
            embeddings, queries, k=3, planes=8, dims=64
        ).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id): r.score
        for r in sim.knn_lsh(
            embeddings, queries, k=3, planes=8, dims=64, multi_probe=True
        ).collect()
    }
    r_single = len(set(single) & truth) / len(truth)
    r_multi = len(set(multi) & truth) / len(truth)
    assert r_multi >= r_single, (r_single, r_multi)
    for pair in set(single) & set(multi):
        assert single[pair] == multi[pair]


def test_ivfpq_staged_index_sidecar_validates_geometry(spark, tmp_path):
    """The staged-index sidecar closes the built-SMALLER n_codes gap the
    in-relation probe cannot see: loading with mismatched m / n_codes /
    residual raises; a matching load returns the staged codes."""
    import pytest

    from gdutils_spark.operators.similarity import (
        ivfpq_index,
        load_ivfpq_index,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx")
    built = ivfpq_index(
        vecs, n_centroids=4, m=4, n_codes=4, stage_path=path, residual=True
    )
    ok = load_ivfpq_index(spark, path, m=4, n_codes=4, residual=True)
    assert ok.count() == built.count()
    # the undetectable-by-probe case: searching with LARGER n_codes
    with pytest.raises(ValueError, match="geometry"):
        load_ivfpq_index(spark, path, m=4, n_codes=8, residual=True)
    with pytest.raises(ValueError, match="geometry"):
        load_ivfpq_index(spark, path, m=2, n_codes=4, residual=True)
    with pytest.raises(ValueError, match="geometry"):
        load_ivfpq_index(spark, path, m=4, n_codes=4, residual=False)
    # an index staged without the sidecar must say so, not silently load
    built.write.mode("overwrite").parquet(str(tmp_path / "old"))
    with pytest.raises(ValueError, match="sidecar"):
        load_ivfpq_index(spark, str(tmp_path / "old"), m=4, n_codes=4)


def test_ivfpq_sidecar_validates_training_state(spark, tmp_path):
    """The sidecar's optional training-state checks: n_centroids and
    refine budgets mismatch when passed; -1 (pre-trained matrices,
    unknown provenance) skips the refine check."""
    import pytest

    from gdutils_spark.operators.similarity import (
        ivfpq_index,
        load_ivfpq_index,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "tidx")
    ivfpq_index(
        vecs, n_centroids=4, m=4, n_codes=4, stage_path=path,
        coarse_refine_iters=1,
    )
    # matching training state loads; omitted knobs skip the check
    load_ivfpq_index(
        spark, path, m=4, n_codes=4, n_centroids=4, coarse_refine_iters=1
    )
    load_ivfpq_index(spark, path, m=4, n_codes=4)
    with pytest.raises(ValueError, match="n_centroids"):
        load_ivfpq_index(spark, path, m=4, n_codes=4, n_centroids=16)
    with pytest.raises(ValueError, match="coarse_refine_iters"):
        load_ivfpq_index(
            spark, path, m=4, n_codes=4, coarse_refine_iters=0
        )


def test_knn_ivf_pq_staging_records_true_refine_budgets(spark, tmp_path):
    """knn_ivf_pq's one-shot staging path trains its own matrices, so
    the sidecar must record the REAL refine budgets (not the -1 unknown
    sentinel) — a later load with a different budget must fail."""
    import pytest

    from gdutils_spark.operators.similarity import (
        knn_ivf_pq,
        load_ivfpq_index,
    )

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    q = vecs.where("vec_id < 2")
    path = str(tmp_path / "sidx")
    knn_ivf_pq(
        vecs, q, k=2, n_centroids=4, m=4, n_codes=4,
        stage_path=path, coarse_refine_iters=1,
    ).collect()
    meta = spark.read.parquet(path + "_meta").collect()[0]
    assert meta["coarse_refine_iters"] == 1 and meta["pq_refine_iters"] == 0
    assert meta["n_centroids"] == 4 and meta["n_codes"] == 4
    load_ivfpq_index(
        spark, path, m=4, n_codes=4, coarse_refine_iters=1, pq_refine_iters=0
    )
    with pytest.raises(ValueError, match="coarse_refine_iters"):
        load_ivfpq_index(spark, path, m=4, n_codes=4, coarse_refine_iters=2)


def test_ivfpq_append_equals_rebuild(embeddings, tmp_path):
    """The nightly-ingest differential claim: appending a delta batch
    to a staged index (frozen quantizer from the sidecar) yields
    EXACTLY the code relation a full rebuild over the grown corpus
    with the same matrices produces — append == rebuild, bit for bit,
    both raw and residual arms."""
    from pyspark.sql import functions as F

    base = embeddings.where(F.col("vec_id") < 250)
    delta = embeddings.where(F.col("vec_id") >= 250)
    for residual, name in ((False, "raw"), (True, "res")):
        path = str(tmp_path / f"appidx_{residual}")
        sim.ivfpq_index(
            base, n_centroids=8, m=4, n_codes=8, stage_path=path,
            residual=residual,
        )
        appended = sim.ivfpq_append(
            embeddings.sparkSession, path, delta
        )
        # rebuild over the grown corpus with the SAME frozen matrices
        cids, CC, C = sim._load_quantizer(embeddings.sparkSession, path)
        rebuilt = sim.ivfpq_index(
            embeddings, n_centroids=8, m=4, n_codes=8,
            residual=residual, _coarse=(cids, CC), _codebook=C,
        )
        key = lambda r: (r.neighbor_id, r.subspace)
        got = sorted(appended.collect(), key=key)
        want = sorted(rebuilt.collect(), key=key)
        assert got == want, f"{name}: append != rebuild"
        assert appended.count() == embeddings.count() * 4  # m rows per vec


def test_ivfpq_append_search_equals_rebuilt_search(embeddings, tmp_path):
    """End-to-end: searching the appended index with the frozen
    quantizer (load_ivfpq_index(with_quantizer=True)) returns the same
    top-k as searching a from-scratch index over the grown corpus —
    the seeds derive from the lowest ids, which live in the base."""
    from pyspark.sql import functions as F

    spark = embeddings.sparkSession
    base = embeddings.where(F.col("vec_id") < 250)
    delta = embeddings.where(F.col("vec_id") >= 250)
    queries = embeddings.where(F.col("vec_id") < 5)
    kw = dict(k=3, n_centroids=8, n_probe=3, m=4, n_codes=8)
    path = str(tmp_path / "sidx")
    sim.ivfpq_index(base, n_centroids=8, m=4, n_codes=8, stage_path=path)
    sim.ivfpq_append(spark, path, delta)
    codes, coarse, codebook = sim.load_ivfpq_index(
        spark, path, m=4, n_codes=8, with_quantizer=True
    )
    got = sorted(
        sim.knn_ivf_pq(
            embeddings, queries, index=codes, coarse=coarse,
            codebook=codebook, **kw
        ).collect()
    )
    want = sorted(sim.knn_ivf_pq(embeddings, queries, **kw).collect())
    assert got == want


def test_ivfpq_append_rejects_duplicate_ids(embeddings, tmp_path):
    """A re-appended id would carry two code sets and rank twice in
    every search — the default probe fails fast; validate=False is the
    disjoint-by-construction escape hatch (caller owns the contract)."""
    from pyspark.sql import functions as F

    spark = embeddings.sparkSession
    base = embeddings.where(F.col("vec_id") < 250)
    path = str(tmp_path / "dupidx")
    sim.ivfpq_index(base, n_centroids=8, m=4, n_codes=8, stage_path=path)
    overlap = embeddings.where(F.col("vec_id").between(240, 260))
    with pytest.raises(ValueError, match="already indexed"):
        sim.ivfpq_append(spark, path, overlap)
    # an id repeated WITHIN the delta batch (fresh ids, at-least-once
    # feed) is the same two-code-sets corruption — also rejected
    fresh = embeddings.where(F.col("vec_id").between(300, 310))
    with pytest.raises(ValueError, match="repeated in the delta"):
        sim.ivfpq_append(spark, path, fresh.unionByName(fresh))
    # trusted path: no probe, the duplicate lands (documented trade)
    out = sim.ivfpq_append(spark, path, overlap, validate=False)
    assert out.where("neighbor_id = 245").count() == 8  # 2 code sets x m


def test_ivfpq_append_rejects_id_type_mismatch(embeddings, tmp_path):
    """An id-type mismatch would corrupt the staged parquet schema —
    checked driver-side before any job runs, not validate-gated."""
    from pyspark.sql import functions as F

    spark = embeddings.sparkSession
    path = str(tmp_path / "tidx")
    sim.ivfpq_index(
        embeddings.where(F.col("vec_id") < 250),
        n_centroids=8, m=4, n_codes=8, stage_path=path,
    )
    bad = embeddings.where(F.col("vec_id") >= 250).withColumn(
        "vec_id", F.col("vec_id").cast("string")
    )
    with pytest.raises(ValueError, match="id type"):
        sim.ivfpq_append(spark, path, bad, validate=False)


def test_ivfpq_append_missing_quantizer_sidecar_raises(embeddings, tmp_path):
    """An index staged before quantizer staging (codes + meta only)
    cannot be appended to — the frozen matrices are gone; the error
    says to restage rather than silently re-deriving drifted seeds."""
    import shutil

    from pyspark.sql import functions as F

    spark = embeddings.sparkSession
    path = str(tmp_path / "oldidx")
    sim.ivfpq_index(
        embeddings.where(F.col("vec_id") < 250),
        n_centroids=8, m=4, n_codes=8, stage_path=path,
    )
    shutil.rmtree(path + "_quantizer")
    with pytest.raises(ValueError, match="quantizer sidecar"):
        sim.ivfpq_append(
            spark, path, embeddings.where(F.col("vec_id") >= 250)
        )


def test_load_ivfpq_index_with_quantizer_roundtrip(embeddings, tmp_path):
    """The quantizer sidecar round-trips the exact matrices the build
    broadcast: coarse ids/vectors and codebook rows, in build order."""
    import numpy as np

    from pyspark.sql import functions as F

    spark = embeddings.sparkSession
    base = embeddings.where(F.col("vec_id") < 250)
    path = str(tmp_path / "qidx")
    sim.ivfpq_index(base, n_centroids=8, m=4, n_codes=8, stage_path=path)
    _codes, (cids, CC), C = sim.load_ivfpq_index(
        spark, path, m=4, n_codes=8, with_quantizer=True
    )
    want_cids, want_CC = sim._seed_centroids(base, "vec_id", "embedding", 8)
    _ids2, want_C = sim._seed_centroids(base, "vec_id", "embedding", 8)
    assert cids.tolist() == want_cids.tolist()
    assert np.array_equal(CC, want_CC)
    assert np.array_equal(C, want_C)


def test_knn_filtered_matches_per_label_bruteforce(embeddings):
    """Filtered kNN == brute-force kNN run within each label subset:
    the equi-join candidate generation must not change scores or
    ranking, only restrict the candidate pool."""
    from pyspark.sql import functions as F

    queries = embeddings.where(F.col("vec_id") < 6)
    got = sorted(
        sim.knn_filtered(embeddings, queries, "label", k=3).collect()
    )
    want = []
    for lab in [r.label for r in queries.select("label").distinct().collect()]:
        sub = embeddings.where(F.col("label") == lab)
        want += sim.knn_bruteforce(
            sub, queries.where(F.col("label") == lab), k=3
        ).collect()
    assert got == sorted(want)
    # and every returned neighbor genuinely shares the query's label
    lab_of = {r.vec_id: r.label for r in embeddings.select("vec_id", "label").collect()}
    for r in got:
        assert lab_of[r.query_id] == lab_of[r.neighbor_id]


def test_knn_filtered_null_attribute_matches_nothing(spark):
    """NULL labels match nothing on either side (equi-join semantics) —
    a NULL-labeled query returns no rows rather than scanning the
    whole corpus."""
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], "en"), (2, [0.9, 0.1], "en"),
         (3, [0.0, 1.0], None), (4, [0.1, 0.9], None)],
        "vec_id long, embedding array<double>, lang string",
    )
    out = sim.knn_filtered(
        vecs, vecs.where("vec_id IN (1, 3)"), "lang", k=5
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in out} == {(1, 2)}


def test_empty_corpus_contract_raises_clearly_or_returns_empty(spark):
    """r13 empty-fixture hunt: an empty embeddings table used to
    surface as numpy's opaque 'need at least one array to stack' from
    fifteen frames deep. Contract now: index-TRAINING paths raise a
    clear named error (an index cannot be seeded from nothing — the
    pack_sequences budget=0 convention); pair/query paths return a
    well-formed EMPTY relation."""
    import pytest as _pt

    from gdutils_spark.operators import similarity as sim

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    full = spark.createDataFrame(
        [(i, [float(i), 0.0, 0.0, 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    with _pt.raises(ValueError, match="empty corpus"):
        sim.knn_ivf(empty, full, k=2, n_centroids=2).collect()
    with _pt.raises(ValueError, match="empty corpus"):
        sim.knn_pq(empty, full, k=2, m=2, n_codes=2).collect()
    # pair path: empty in, empty (but schema-correct) out
    out = sim.embedding_near_dup_pairs(empty, threshold=0.5)
    assert out.count() == 0 and out.columns == ["d1", "d2", "score"]
    # query path: no queries -> no neighbors
    out = sim.knn_pq(full, empty.select("vec_id", "embedding"),
                     k=2, m=2, n_codes=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "approx_d2"]


def test_knn_query_id_type_follows_queries_table(embeddings):
    """r13 ADVICE: query_id takes the QUERIES table's id type and
    neighbor_id the vectors table's, on BOTH the empty and non-empty
    paths — so a downstream union that only ever hits the empty branch
    still aligns when the two tables use different id types."""
    from pyspark.sql import functions as F

    str_q = embeddings.where("vec_id < 2").withColumn(
        "vec_id", F.concat(F.lit("q"), F.col("vec_id").cast("string"))
    )
    empty_str_q = str_q.where("vec_id = 'nope'")
    for fn, kw in (
        (sim.knn_pq, dict(k=3, m=4, n_codes=8)),
        (sim.knn_ivf_pq, dict(k=3, n_centroids=8, n_probe=2, m=4, n_codes=8)),
    ):
        nonempty = fn(embeddings, str_q, **kw)
        empty = fn(embeddings, empty_str_q, **kw)
        for out in (nonempty, empty):
            assert out.schema["query_id"].dataType.simpleString() == "string"
            assert (
                out.schema["neighbor_id"].dataType.simpleString()
                == embeddings.schema["vec_id"].dataType.simpleString()
            )
        assert empty.count() == 0
        assert nonempty.count() > 0


_APPENDED_SCRIPT = """
import os, sys
from gdutils_spark.queries_ext import emb_knn_ivfpq_appended
from gdutils_spark.session import get_spark
spark = get_spark("ivfpq-scratch", cpus=2)
first = emb_knn_ivfpq_appended(spark, sys.argv[1])
second = emb_knn_ivfpq_appended(spark, sys.argv[1])
n = second.count()
assert n > 0 and first.count() == n
print(sorted(os.listdir(os.environ["SPARK_GRAFT_RT_TMPDIR"])))
"""


def test_ivfpq_appended_scratch_removed_at_exit(sf_smoke, tmp_path):
    """emb_knn_ivfpq_appended stages its index and both sidecars in a
    fresh scratch dir per call that its lazy result reads: a second call
    leaves the first call's result readable, and a finished process
    leaves no scratch behind."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_RT_TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _APPENDED_SCRIPT, sf_smoke],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    staged = out.stdout.strip().splitlines()[-1]
    assert staged.count("gdutils_rt_ivfpq_appended_") == 2  # present while running
    assert os.listdir(tmp_path) == []
