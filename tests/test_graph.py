"""PageRank operator properties (oracle hash-parity for the registry
query lives in test_queries_oracle.py)."""

from __future__ import annotations

import pytest

from gdutils_spark.operators.graph import pagerank


def _model(edge_list, d=0.85, iters=3):
    """Pure-Python power iteration with the SAME ordered-fold sum rule
    (contributions added in ascending source order)."""
    from collections import defaultdict

    edges = sorted(set(edge_list))
    deg = defaultdict(int)
    out = defaultdict(list)
    for s, t in edges:
        deg[s] += 1
    for s, t in edges:
        out[t].append(s)
    nodes = sorted({s for s, _ in edges})
    n = len(nodes)
    pr = {v: 1.0 / float(n) for v in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            s = 0.0
            for u in sorted(out.get(v, [])):
                s = s + pr[u] / float(deg[u])
            nxt[v] = (1.0 - d) / float(n) + d * s
        pr = nxt
    return pr


def test_pagerank_matches_python_model_bit_exact(spark):
    edge_list = [
        (1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3),
        (4, 1), (1, 4), (5, 1), (1, 5), (5, 4), (4, 5),
    ]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.pr for r in pagerank(df, n_iters=3).collect()}
    want = _model(edge_list, iters=3)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == want[v], (v, got[v], want[v])  # bit-exact


def test_pagerank_mass_conserved_and_hub_wins(spark):
    """On an undirected graph (no dangling mass) total rank stays 1, and
    the highest-degree hub out-ranks the leaves."""
    star = [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)]
    ring = [(10, 11), (11, 10), (11, 12), (12, 11), (12, 10), (10, 12)]
    df = spark.createDataFrame(star + ring, "src long, dst long")
    got = {r.node: r.pr for r in pagerank(df, n_iters=5).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] == max(got.values())  # the star hub


def test_pagerank_validates_iters(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iters"):
        pagerank(df, n_iters=-1)
    # zero iterations = the uniform start vector
    got = {r.node: r.pr for r in pagerank(df, n_iters=0).collect()}
    assert got == {1: 1.0}


def test_pagerank_plain_sum_matches_ordered_fold_approximately(spark):
    """ordered_fold=False (the hub-skew-safe production path) must agree
    with the bit-exact ordered fold to float-summation tolerance."""
    import random

    rng = random.Random(11)
    edge_list = list(
        {
            (rng.randrange(30), rng.randrange(30))
            for _ in range(300)
        }
    )
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edge_list += [(b, a) for a, b in edge_list]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    exact = {r.node: r.pr for r in pagerank(df, n_iters=3).collect()}
    fast = {
        r.node: r.pr
        for r in pagerank(df, n_iters=3, ordered_fold=False).collect()
    }
    assert set(exact) == set(fast)
    for v in exact:
        assert abs(exact[v] - fast[v]) < 1e-12, v


def _lpa_model(edge_list, iters=3):
    """Pure-Python synchronous LPA with (count desc, min label) adopt."""
    from collections import defaultdict

    edges = sorted(set(edge_list))
    nbrs = defaultdict(list)
    for s, t in edges:
        nbrs[t].append(s)
    nodes = sorted({s for s, _ in edges})
    lab = {v: v for v in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            counts = defaultdict(int)
            for u in nbrs.get(v, []):
                counts[lab[u]] += 1
            if counts:
                nxt[v] = min(counts, key=lambda c: (-counts[c], c))
            else:
                nxt[v] = lab[v]
        lab = nxt
    return lab


def test_label_propagation_matches_python_model(spark):
    import random

    from gdutils_spark.operators.graph import label_propagation

    rng = random.Random(7)
    # two dense cliques with one bridge edge: LPA should keep them apart
    clique = lambda lo, hi: [
        (a, b) for a in range(lo, hi) for b in range(lo, hi) if a != b
    ]
    edge_list = clique(0, 6) + clique(10, 16) + [(5, 10), (10, 5)]
    edge_list += list(
        {(rng.randrange(20, 26), rng.randrange(20, 26)) for _ in range(30)}
    )
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edge_list += [(b, a) for a, b in edge_list]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, n_iters=3).collect()}
    want = _lpa_model(edge_list, iters=3)
    assert got == want
    # the two cliques converge to distinct internal labels
    assert len({got[v] for v in range(0, 6)}) == 1
    assert len({got[v] for v in range(10, 16)}) == 1
    assert got[0] != got[11]


def test_label_propagation_zero_iters_is_identity_seed(spark):
    from gdutils_spark.operators.graph import label_propagation

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1), (1, 3)], "src long, dst long"
    )
    got = {r.node: r.label for r in label_propagation(df, n_iters=0).collect()}
    assert got == {1: 1, 2: 2, 3: 3}
    with pytest.raises(ValueError):
        label_propagation(df, n_iters=-1)


def test_label_propagation_directed_keeps_node_set_stable(spark):
    """Directed input: a source with no in-edges keeps its own label and
    stays in the output; a destination-only node never enters it — the
    node set is exactly the distinct sources at every iteration count
    (regression: labels used to drift toward the destination set)."""
    from gdutils_spark.operators.graph import label_propagation

    # 1 -> 2 -> 3 (3 is dst-only); 1 has no in-edges.
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    for iters in (1, 2, 3):
        got = {
            r.node: r.label
            for r in label_propagation(df, n_iters=iters).collect()
        }
        assert got == {1: 1, 2: 1}, (iters, got)
    # and the differential model agrees on a random directed graph
    import random

    rng = random.Random(11)
    edge_list = sorted(
        {(rng.randrange(12), rng.randrange(12)) for _ in range(40)}
    )
    edge_list = [(s, t) for s, t in edge_list if s != t]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, n_iters=3).collect()}
    assert got == _lpa_model(edge_list, iters=3)


# ---------------------------------------------------------------------------
# Triangle counting: differential vs brute-force model + known graphs.
# ---------------------------------------------------------------------------


def _tri_model(edge_list):
    """Brute-force per-node triangle counts over an undirected graph."""
    from itertools import combinations

    adj = {}
    for s, t in edge_list:
        if s == t:
            continue
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    tri = {v: 0 for v in adj}
    for v in adj:
        for x, y in combinations(sorted(adj[v]), 2):
            if y in adj.get(x, ()):
                tri[v] += 1
    # each triangle counted once per vertex as the wedge center over
    # sorted neighbor pairs → exactly 1x per vertex here? No: the wedge
    # (x, v, y) is counted at center v only; summing over all centers
    # counts each triangle 3 times total, once per vertex. Per-node
    # count = wedges at that node that close = its triangle membership.
    deg = {v: len(adj[v]) for v in adj}
    return {
        v: (deg[v], tri[v], (2.0 * tri[v]) / (deg[v] * (deg[v] - 1)) if deg[v] >= 2 else 0.0)
        for v in adj
    }


def test_triangle_count_k4_and_path(spark):
    from gdutils_spark.operators.graph import triangle_count

    # K4: every vertex in C(3,2)=3 triangles, lcc = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    got = {
        r.node: (r.degree, r.n_triangles, r.lcc)
        for r in triangle_count(
            spark.createDataFrame(k4, "src long, dst long")
        ).collect()
    }
    assert got == {v: (3, 3, 1.0) for v in range(4)}
    # path graph: no triangles, zero lcc everywhere (incl. degree-1 ends)
    path = [(0, 1), (1, 2), (2, 3)]
    got = {
        r.node: (r.n_triangles, r.lcc)
        for r in triangle_count(
            spark.createDataFrame(path, "src long, dst long")
        ).collect()
    }
    assert got == {0: (0, 0.0), 1: (0, 0.0), 2: (0, 0.0), 3: (0, 0.0)}


def test_triangle_count_matches_bruteforce_model(spark):
    import random

    from gdutils_spark.operators.graph import triangle_count

    rng = random.Random(23)
    edge_list = sorted(
        {(rng.randrange(15), rng.randrange(15)) for _ in range(70)}
    )
    edge_list = [(s, t) for s, t in edge_list if s != t]
    # feed DIRECTED, duplicated edges — operator canonicalizes
    got = {
        r.node: (r.degree, r.n_triangles, r.lcc)
        for r in triangle_count(
            spark.createDataFrame(edge_list, "src long, dst long")
        ).collect()
    }
    assert got == _tri_model(edge_list)


# ---------------------------------------------------------------------------
# k-core peel: differential vs an exact peel-to-fixpoint model.
# ---------------------------------------------------------------------------


def _kcore_model(edge_list, k):
    """Exact k-core by peeling to fixpoint; returns {node: core_degree}."""
    adj = {}
    for s, t in edge_list:
        if s == t:
            continue
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_k_core_matches_fixpoint_model(spark):
    import random

    from gdutils_spark.operators.graph import k_core

    rng = random.Random(31)
    # dense clique + sparse fringe: the fringe peels, the clique stays
    edge_list = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    edge_list += [(5 + i, 6 + i) for i in range(6)]  # a path tail
    edge_list += sorted({(rng.randrange(12), rng.randrange(12)) for _ in range(10)})
    edge_list = [(s, t) for s, t in edge_list if s != t]
    got = {
        r.node: r.core_degree
        for r in k_core(
            spark.createDataFrame(edge_list, "src long, dst long"), k=3, n_iters=8
        ).collect()
    }
    want = _kcore_model(edge_list, 3)
    assert got == want
    assert want, "fixture must leave a non-empty core"
    assert min(got.values()) >= 3  # converged


def test_k_core_extra_iterations_are_noops_and_validation(spark):
    import pytest

    from gdutils_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "src long, dst long")
    for iters in (1, 3, 6):
        got = {
            r.node: r.core_degree for r in k_core(df, k=3, n_iters=iters).collect()
        }
        assert got == {v: 3 for v in range(4)}, iters
    # k larger than any degree peels everything
    assert k_core(df, k=4, n_iters=2).count() == 0
    with pytest.raises(ValueError):
        k_core(df, k=0)
    with pytest.raises(ValueError):
        k_core(df, k=2, n_iters=-1)


def test_part_copurchase_kcore_converges_at_fixture(spark, sf_correct):
    """The registry constants (k=80, 6 rounds) CONVERGE on the sf0.01
    co-purchase graph — min surviving core_degree >= k — so the driver-
    verified result is the true k-core, not a bounded superset."""
    from gdutils_spark.queries import QUERIES
    from gdutils_spark.queries_ext import KCORE_K

    rows = QUERIES["part_copurchase_kcore"](spark, sf_correct).collect()
    assert rows and min(r.core_degree for r in rows) >= KCORE_K


def _wmodel(wedges, d=0.85, iters=3):
    """Weighted pure-Python power iteration, same ordered-fold rule;
    contribution pr(u)*w/W(u) computed as (pr * w) / W like the
    operator's left-associated expression."""
    from collections import defaultdict

    W = defaultdict(int)
    inn = defaultdict(list)
    for s, t, w in wedges:
        W[s] += w
    for s, t, w in wedges:
        inn[t].append((s, w))
    nodes = sorted({s for s, _, _ in wedges})
    n = len(nodes)
    pr = {v: 1.0 / float(n) for v in nodes}
    for _ in range(iters):
        nxt = {}
        for v in nodes:
            s = 0.0
            for u, w in sorted(inn.get(v, [])):
                s = s + (pr[u] * float(w)) / float(W[u])
            nxt[v] = (1.0 - d) / float(n) + d * s
        pr = nxt
    return pr


def test_pagerank_weighted_matches_model_and_validates(spark):
    """weight= contributions are pr*w/W bit-exact vs the model; a
    weight-1 graph equals the unweighted ranks; duplicate (src,dst)
    rows with weight= raise instead of silently picking a copy."""
    wedges = [
        (1, 2, 3), (2, 1, 3), (2, 3, 1), (3, 2, 1),
        (3, 1, 5), (1, 3, 5), (4, 1, 2), (1, 4, 2),
    ]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {r.node: r.pr for r in pagerank(df, n_iters=3, weight="w").collect()}
    want = _wmodel(wedges)
    assert got == want  # bit-exact
    # all-ones weights reproduce the unweighted ranks exactly
    ones = spark.createDataFrame(
        [(s, t, 1) for s, t, _ in wedges], "src long, dst long, w long"
    )
    unw = spark.createDataFrame(
        [(s, t) for s, t, _ in wedges], "src long, dst long"
    )
    assert {
        r.node: r.pr for r in pagerank(ones, n_iters=3, weight="w").collect()
    } == {r.node: r.pr for r in pagerank(unw, n_iters=3).collect()}
    dup = spark.createDataFrame(
        [(1, 2, 3), (1, 2, 4), (2, 1, 1)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        pagerank(dup, n_iters=1, weight="w")


def test_pagerank_weighted_rejects_bad_weights(spark):
    from gdutils_spark.operators.graph import pagerank

    zero = spark.createDataFrame(
        [(1, 2, 0), (2, 1, 1)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="non-positive"):
        pagerank(zero, n_iters=1, weight="w")
    nul = spark.createDataFrame(
        [(1, 2, None), (2, 1, 1)], "src long, dst long, w long"
    )
    with pytest.raises(ValueError, match="non-positive"):
        pagerank(nul, n_iters=1, weight="w")


def test_pagerank_weighted_validate_false_same_ranks_no_probe_jobs(spark):
    """The trusted-input escape hatch: on pre-aggregated weights,
    validate=False returns identical ranks and runs no eager probe jobs
    (the two probes are collect()s — the job counter would move)."""
    edge_list = [(1, 2, 3), (2, 1, 1), (2, 3, 2), (3, 1, 5), (1, 3, 1), (3, 2, 2)]
    df = spark.createDataFrame(edge_list, "src long, dst long, w long")
    tracker = spark.sparkContext.statusTracker()
    sc = spark.sparkContext

    def construction_jobs(group, **kw):
        # AQE runs the shuffle-map stages of each lazy localCheckpoint
        # at construction time, so the counter is nonzero either way —
        # the PROBE jobs are the delta between the two paths. Count a
        # DEDICATED job group: the default group picks up unrelated
        # session activity (flaky under the shared test session).
        sc.setJobGroup(group, group)
        try:
            pr = pagerank(df, weight="w", **kw)
        finally:
            sc.setJobGroup(None, None)
        return pr, len(tracker.getJobIdsForGroup(group) or [])

    checked_df, jobs_checked = construction_jobs("pr-validate-on")
    trusted_df, jobs_trusted = construction_jobs(
        "pr-validate-off", validate=False
    )
    assert jobs_trusted < jobs_checked, (
        "validate=False must skip the eager probe jobs "
        f"(ran {jobs_trusted}, validating path ran {jobs_checked})"
    )
    checked = {r.node: r.pr for r in checked_df.collect()}
    got = {r.node: r.pr for r in trusted_df.collect()}
    assert got == checked  # bit-identical, not approximately


def test_pagerank_warm_start_seed(spark):
    """start_ranks semantics: seeded nodes start from the given pr, new
    nodes from uniform 1/N over the CURRENT node set, departed-node seed
    rows are ignored — checked bit-exactly at n_iters=0 (the seed IS the
    output) and for one iteration against the hand model."""
    base = [(1, 2), (2, 1)]
    df0 = spark.createDataFrame(base, "src long, dst long")
    pr0 = pagerank(df0, n_iters=3)
    # merged graph adds node 3 (and edges both ways to 1)
    merged = base + [(1, 3), (3, 1)]
    df1 = spark.createDataFrame(merged, "src long, dst long")
    seed0 = {r.node: r.pr for r in pr0.collect()}
    got0 = {
        r.node: r.pr
        for r in pagerank(df1, n_iters=0, start_ranks=pr0).collect()
    }
    assert got0[1] == seed0[1] and got0[2] == seed0[2]
    assert got0[3] == 1.0 / 3.0  # new node: uniform over CURRENT nodes
    # one warm iteration == hand-rolled power step from that seed
    d = 0.85
    deg = {1: 2, 2: 1, 3: 1}
    want = {}
    for v, ins in {1: [2, 3], 2: [1], 3: [1]}.items():
        s = 0.0
        for u in sorted(ins):
            s = s + got0[u] / float(deg[u])
        want[v] = (1.0 - d) / 3.0 + d * s
    got1 = {
        r.node: r.pr
        for r in pagerank(df1, n_iters=1, start_ranks=pr0).collect()
    }
    for v in want:
        assert got1[v] == want[v], (v, got1[v], want[v])
    # a seed row for a node NOT in the current graph must not resurrect it
    ghost = spark.createDataFrame([(99, 0.5)], "node long, pr double")
    got_g = pagerank(df0, n_iters=0, start_ranks=ghost).collect()
    assert {r.node for r in got_g} == {1, 2}


def test_pagerank_ordered_fold_escape_hatch_certified_at_bench_scale(spark):
    """The documented 100x escape hatch (ordered_fold=False — plain
    map-combinable sums instead of in-degree-sized sorted lists) is
    CERTIFIED at bench scale, not just fixture scale: on the sf0.1
    part co-purchase graph, plain and weighted PageRank agree with the
    ordered fold to float-summation tolerance (max relative spread
    pinned) and produce the IDENTICAL top-50 ranking. Measured spread
    is recorded in SCALE.md."""
    import os

    import pytest
    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"bench-scale dir {sf_dir} missing")
    from gdutils_spark.queries_ext import PR_DAMPING, _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir, both_directions=True)
    wedges = edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
    for kw in ({}, {"weight": "w"}):
        e = wedges if kw else edges
        exact = {
            r.node: r.pr
            for r in pagerank(
                e, damping=PR_DAMPING, n_iters=3, validate=False, **kw
            ).collect()
        }
        fast = {
            r.node: r.pr
            for r in pagerank(
                e, damping=PR_DAMPING, n_iters=3, ordered_fold=False,
                validate=False, **kw
            ).collect()
        }
        assert set(exact) == set(fast)
        spread = max(
            abs(exact[v] - fast[v]) / exact[v] for v in exact
        )
        # float-summation reordering only — parts per trillion, nowhere
        # near rank-flipping territory
        assert spread < 1e-9, spread
        top = lambda pr: [
            v for v, _p in sorted(pr.items(), key=lambda t: (-t[1], t[0]))
        ][:50]
        assert top(exact) == top(fast)


def test_pagerank_rejects_duplicate_seed_rows(spark):
    """A duplicated start_ranks node row would double-count that node's
    contributions every iteration — rejected under validate=True, the
    caller's contract under validate=False."""
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    dup = spark.createDataFrame(
        [(1, 0.5), (1, 0.5), (2, 0.5)], "node long, pr double"
    )
    with pytest.raises(ValueError, match="start_ranks"):
        pagerank(df, n_iters=1, start_ranks=dup)
    clean = spark.createDataFrame([(1, 0.5), (2, 0.5)], "node long, pr double")
    got = {r.node: r.pr for r in pagerank(df, n_iters=0, start_ranks=clean).collect()}
    assert got == {1: 0.5, 2: 0.5}


def test_label_propagation_start_labels_equals_continued_chain(spark):
    """Warm-start correctness: seeding round k+1 from the round-k label
    vector must equal running k+1 rounds from scratch — synchronous LPA
    is a deterministic function of (edges, label vector), so the chain
    composes. This is the property the incremental nightly path relies
    on when the delta is empty."""
    import random

    from gdutils_spark.operators.graph import label_propagation

    rng = random.Random(13)
    edge_list = sorted({(rng.randrange(14), rng.randrange(14)) for _ in range(60)})
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edge_list += [(b, a) for a, b in edge_list]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    lab2 = label_propagation(df, n_iters=2)
    seeded = {
        r.node: r.label
        for r in label_propagation(
            df, n_iters=1, start_labels=lab2
        ).collect()
    }
    scratch = {
        r.node: r.label for r in label_propagation(df, n_iters=3).collect()
    }
    assert seeded == scratch


def test_label_propagation_start_labels_new_and_departed_nodes(spark):
    """Seed semantics mirror pagerank(start_ranks=): nodes absent from
    the seed start with their own id; seed rows for nodes no longer in
    the graph are ignored (a departed node cannot resurrect)."""
    from gdutils_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2), (2, 3)], "src long, dst long"
    )
    # seed labels 1,2 into community 9; node 3 is NEW (absent); node 99
    # departed (present in the seed, absent from the graph)
    seed = spark.createDataFrame(
        [(1, 9), (2, 9), (99, 7)], "node long, label long"
    )
    got = {
        r.node: r.label
        for r in label_propagation(
            edges, n_iters=0, start_labels=seed
        ).collect()
    }
    assert got == {1: 9, 2: 9, 3: 3}  # no node 99 row
    # one round: 3's only in-neighbor is 2 (label 9) -> adopts 9
    got1 = {
        r.node: r.label
        for r in label_propagation(
            edges, n_iters=1, start_labels=seed
        ).collect()
    }
    assert got1[3] == 9


def test_label_propagation_duplicate_seed_rows_rejected(spark):
    """Duplicate seed node rows would double-count that node's vote in
    every tally — reject under validate (default), pass when trusted."""
    from gdutils_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    dup = spark.createDataFrame(
        [(1, 5), (1, 6), (2, 5)], "node long, label long"
    )
    with pytest.raises(ValueError, match="duplicate"):
        label_propagation(edges, n_iters=1, start_labels=dup)
    # trusted path: no probe (caller owns uniqueness) — must not raise
    label_propagation(
        edges, n_iters=1, start_labels=dup, validate=False
    ).collect()


def test_triangle_count_incremental_equals_full_rerun(spark):
    """The exact-delta claim: base counts + triangles containing >=1
    new edge == a full re-run over the merged graph, bit for bit
    (integer counts, one shared IEEE division for lcc) — including new
    nodes, changed degrees/orientations, and delta edges that duplicate
    corpus edges (idempotent no-ops)."""
    import random

    from gdutils_spark.operators.graph import (
        triangle_count,
        triangle_count_incremental,
    )

    rng = random.Random(17)
    all_edges = sorted({
        (rng.randrange(30), rng.randrange(30)) for _ in range(150)
    })
    all_edges = [(a, b) for a, b in all_edges if a != b]
    base_list = [e for e in all_edges if (e[0] + e[1]) % 5 != 0]
    delta_list = [e for e in all_edges if (e[0] + e[1]) % 5 == 0]
    # at-least-once feed: the delta re-sends some corpus edges (and a
    # reversed duplicate) — the anti-join must no-op them
    delta_list += base_list[:5] + [(b, a) for a, b in base_list[5:8]]
    base = spark.createDataFrame(base_list, "src long, dst long")
    delta = spark.createDataFrame(delta_list, "src long, dst long")
    merged = spark.createDataFrame(all_edges, "src long, dst long")
    want = sorted(triangle_count(merged).collect())
    got = sorted(
        triangle_count_incremental(
            triangle_count(base), base, delta
        ).collect()
    )
    assert got == want
    # sanity: the delta genuinely created triangles (the test is live)
    base_total = sum(r.n_triangles for r in triangle_count(base).collect())
    assert sum(r.n_triangles for r in want) > base_total > 0


def test_triangle_count_incremental_empty_delta_is_identity(spark):
    """An empty delta must reproduce the base report exactly (degrees
    and lcc included) — the no-op nightly run."""
    from gdutils_spark.operators.graph import (
        triangle_count,
        triangle_count_incremental,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    empty = spark.createDataFrame([], "src long, dst long")
    want = sorted(triangle_count(edges).collect())
    got = sorted(
        triangle_count_incremental(
            triangle_count(edges), edges, empty
        ).collect()
    )
    assert got == want


def test_edge_jaccard_consistent_with_triangle_count(spark):
    """Internal consistency across the two wedge consumers: every
    triangle lies on exactly 3 edges, so Σ_edges n_common == 3·T, and
    Σ_nodes n_triangles == 3·T too (each triangle has 3 vertices)."""
    import random

    from pyspark.sql import functions as F

    from gdutils_spark.operators.graph import edge_jaccard, triangle_count

    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src long, dst long"
    )
    ej = edge_jaccard(df)
    tc = triangle_count(df)
    s_edges = ej.agg(F.sum("n_common")).collect()[0][0]
    s_nodes = tc.agg(F.sum("n_triangles")).collect()[0][0]
    assert s_edges == s_nodes  # both equal 3 * total triangles
    assert s_edges % 3 == 0
    # edge relation covers exactly the canonical edge set
    n_canon = df.selectExpr(
        "least(src, dst) AS u", "greatest(src, dst) AS v"
    ).where("u <> v").distinct().count()
    assert ej.count() == n_canon


def test_broadcast_gate_paths_row_identical(spark, monkeypatch):
    """r15 differential pin: every broadcast-gated operator emits EXACTLY
    the rows of its shuffle path, forced by a bound no graph fits —
    label_propagation and pagerank (partition-pinned edge relation) on
    ``_BROADCAST_MAX_NODES``; triangle_count, triangle_count_incremental
    and edge_jaccard (broadcast wedge and closing joins) on
    ``_BROADCAST_MAX_EDGES``."""
    import random

    from gdutils_spark.operators import graph

    rng = random.Random(97)
    edge_list = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    edge_list += [(5 + i, 6 + i) for i in range(8)]
    edge_list += sorted({(rng.randrange(16), rng.randrange(16)) for _ in range(25)})
    edge_list = [(s, t) for s, t in edge_list if s != t]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    both = df.union(df.selectExpr("dst AS src", "src AS dst"))
    # new triangles through old and new edges, plus an edge already there
    delta = spark.createDataFrame(
        [(0, 10), (10, 12), (12, 0), (3, 14), (1, 0)], df.schema
    )

    def hinted(out):
        return "strategy=broadcast" in out._jdf.queryExecution().analyzed().toString()

    def run():
        base = graph.triangle_count(df)
        wedge_family = {
            "tri": base,
            "tri_inc": graph.triangle_count_incremental(base, df, delta),
            "ej": graph.edge_jaccard(df),
        }
        rows = {k: sorted(v.collect()) for k, v in wedge_family.items()}
        rows["lpa"] = sorted(graph.label_propagation(both, n_iters=3).collect())
        # bit-identical doubles: the same ordered fold on both paths
        rows["pr"] = sorted(graph.pagerank(both, n_iters=3).collect())
        return rows, {k: hinted(v) for k, v in wedge_family.items()}

    on, on_hints = run()
    monkeypatch.setattr(graph, "_BROADCAST_MAX_NODES", -1)
    monkeypatch.setattr(graph, "_BROADCAST_MAX_EDGES", -1)
    off, off_hints = run()
    assert all(on_hints.values()) and not any(off_hints.values())
    for name in on:
        assert on[name] == off[name], name
    assert sum(r.n_triangles for r in on["tri_inc"]) > sum(
        r.n_triangles for r in on["tri"]
    )


def test_wedge_family_degree_table_scans_pinned_edges_once(spark, monkeypatch):
    """``_degree_oriented`` reads the lazily pinned canonical edges through
    ONE scan (``explode(array(u, v))``), as ``k_core`` does: a union of a
    u-scan and a v-scan puts two concurrent tasks on each pinned
    partition, both compute it, and the second store logs ``Block
    rdd_N_0 already exists``."""
    from gdutils_spark.operators import graph

    e = graph._canonical_edges(
        _kcore_edges(spark, "long"), "src", "dst"
    ).localCheckpoint(eager=False)
    pinned = []
    pin = type(e).localCheckpoint

    def recording_pin(self, eager=True):
        pinned.append(self._jdf.queryExecution().optimizedPlan().toString())
        return pin(self, eager)

    monkeypatch.setattr(type(e), "localCheckpoint", recording_pin)
    graph._degree_oriented(e, graph._hint(False))
    assert pinned[0].count("LogicalRDD") == 1  # the degree table


def _kcore_edges(spark, id_type: str):
    """Clique + path tail + random fringe, plus every input the
    canonicalization must absorb: self-loops, duplicated and reversed
    edges, and null endpoints."""
    import random

    rng = random.Random(97)
    edge_list = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    edge_list += [(5 + i, 6 + i) for i in range(8)]
    edge_list += sorted({(rng.randrange(16), rng.randrange(16)) for _ in range(25)})
    edge_list += [(3, 3), (2, 1), (1, 2), (1, 2), (None, 4), (4, None), (None, None)]
    if id_type == "string":
        edge_list = [
            tuple(None if x is None else f"n{x:02d}" for x in e) for e in edge_list
        ]
    return spark.createDataFrame(edge_list, f"src {id_type}, dst {id_type}")


@pytest.mark.parametrize("id_type", ["long", "int", "string"])
def test_k_core_one_task_matches_shuffle_path(spark, monkeypatch, id_type):
    """The one-task numpy peel and the shuffle loop (forced by a bound
    no edge count fits, so empty input takes it too) return the same
    rows, schema and pandas dtypes — converged, unconverged (the
    documented superset), ``n_iters=0``, ``k`` above every degree, and
    empty input. Each path reads the lazily pinned edge list through
    ONE scan: a union of a u-scan and a v-scan of it puts two
    concurrent tasks on each pinned partition, and both compute it."""
    from gdutils_spark.operators import graph

    df = _kcore_edges(spark, id_type)
    empty = spark.createDataFrame([], df.schema)
    cases = [(df, 3, 8), (df, 3, 1), (df, 4, 0), (df, 99, 3), (empty, 2, 3)]

    def run(edges, k, iters):
        out = graph.k_core(edges, k=k, n_iters=iters)
        qe = out._jdf.queryExecution()
        assert qe.optimizedPlan().toString().count("LogicalRDD") == 1
        return out, "MapInPandas" in qe.analyzed().toString(), out.toPandas()

    one = [run(*c) for c in cases]
    monkeypatch.setattr(graph, "_ONE_TASK_MAX_EDGES", -1)
    shuf = [run(*c) for c in cases]
    for (edges, k, iters), (a, a_map, pa), (b, b_map, pb) in zip(cases, one, shuf):
        where = f"{id_type} k={k} iters={iters} rows={edges.count()}"
        assert a_map == (iters > 0) and not b_map, where
        assert a.schema == b.schema, where
        assert pa.dtypes.tolist() == pb.dtypes.tolist(), where
        assert pa.sort_values("node", ignore_index=True).equals(
            pb.sort_values("node", ignore_index=True)
        ), where
    # the fixture exercises a non-empty core, a strict unconverged
    # superset and the empty results
    sizes = [len(p) for _, _, p in one]
    assert sizes[0] > 0 and sizes[1] > sizes[0] and sizes[3] == sizes[4] == 0


def test_part_copurchase_kcore_warm_jobs(spark, sf_correct):
    """A warm ``part_copurchase_kcore`` at sf0.01 starts at most 5 jobs,
    at most 4 of them while the plan is built: the checkpointed
    canonical-edge stages and the one gate probe; the one-task peel is
    the collect's job. The per-round shuffle loop started 19 (16)."""
    from gdutils_spark.queries import QUERIES

    def next_job_id() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    q = QUERIES["part_copurchase_kcore"]
    q(spark, sf_correct).toPandas()  # cold: schema inference, JIT
    j0 = next_job_id()
    out = q(spark, sf_correct)
    j1 = next_job_id()
    out.toPandas()
    j2 = next_job_id()
    assert j1 - j0 <= 4
    assert j2 - j0 <= 5
