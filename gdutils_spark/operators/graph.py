"""Iterative graph algorithms beyond connected components
(``dedup.connected_components``): deterministic PageRank,
label-propagation community detection, and degree-ordered exact
triangle counting.

The reference has no graph operators; this family exists because a
training-data pipeline ends up with graphs everywhere — co-occurrence
graphs for importance weighting, near-dup pair graphs for clustering,
citation/link graphs for quality priors (the original PageRank use).

Spark-first shape: one iteration = one equi-join of the edge list with
the current rank vector plus one destination-keyed aggregate — no
driver-side state, no collect; ranks and edges are node/edge-sized
relations that ``localCheckpoint`` pins between iterations (the same
lineage-truncation discipline as ``connected_components`` — without it
the final plan re-derives every earlier iteration per consumer, the
no-subtree-reuse trap).

Determinism contract (oracle-replayable like the Lloyd chains): the
per-node contribution sum is an ascending-source ordered fold
(``list_sum(list(c ORDER BY src))`` in the SQL replay), divisions are
single IEEE ops, and the teleport/damping constants are computed ONCE in
Python and inlined as literals on both engines — so a fixed number of
iterations reproduces bit-identical ranks anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdutils_spark.session import scoped_conf

# Broadcast-gate bounds (r14, guide §3.1). Budget honestly: a built
# BroadcastHashJoin relation costs ~40-80 bytes/row (UnsafeRow +
# LongToUnsafeRowMap arrays), so 8M nodes is a ~0.3-0.6 GB broadcast,
# sized for the 24g driver it was measured on. The edge bound gates the
# wedge family, whose broadcast side is the oriented edge list.
_BROADCAST_MAX_NODES = 8_000_000
_BROADCAST_MAX_EDGES = 4_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iters: int = 3,
    ordered_fold: bool = True,
    weight: str | None = None,
    validate: bool = True,
    start_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank over a DIRECTED edge list (pass both directions for an
    undirected graph) — ``(node, pr)`` after ``n_iters`` power
    iterations of ``pr'(v) = (1−d)/N + d·Σ_{u→v} pr(u)/outdeg(u)``,
    uniform ``1/N`` start.

    Node set = distinct sources (for undirected input that is the full
    node set; a directed sink node with no out-edges would drop its
    mass — the standard simplification, document or add self-loops).
    Fixed iteration count, not convergence-tested: the fixed chain is
    what an oracle can replay, and at 100 TB you budget iterations
    anyway. Per iteration: one equi-join on the edge source + one
    dst-keyed ordered-fold aggregate; edge list and each rank vector
    are ``localCheckpoint``-pinned so iteration t+1 reuses t's result
    instead of re-deriving the whole chain. The join strategy is picked
    DELIBERATELY (r14, guide §3.1): the rank/degree side is node-sized
    and known — ``n`` is already computed for the teleport term — so
    when ``n <= _BROADCAST_MAX_NODES`` the rank vector and degree table
    BROADCAST into the join and the (much larger) edge list is never
    exchanged after its initial checkpoint; above the threshold the
    join falls back to the shuffle path (measured r14 at sf0.1: each
    of 3 iterations re-shuffled + sorted the 2.4M-row edge list under
    SortMergeJoin, 3.5-4.8 s/iteration; broadcast removes all three
    edge exchanges and their sorts).

    ``ordered_fold``: True (default) sums each node's contributions in
    ascending-source order via a sorted ``collect_list`` — bit-exact and
    oracle-replayable, but the per-node list is IN-DEGREE-sized, so a
    celebrity node with 10⁸ in-edges is a memory hazard. Pass False at
    production scale for a plain map-combinable ``sum`` — same ranks up
    to float summation order (property-tested ≈), hub-skew-safe.

    ``weight``: optional INTEGER edge-weight column — contributions
    become ``pr(u)·w(u,v)/W(u)`` with ``W(u)`` the exact BIGINT sum of
    u's out-weights (a co-occurrence count is the natural weight: an
    edge seen 40 times should carry 40× the endorsement of a one-off).
    Duplicate (src, dst) rows are rejected rather than silently
    de-duplicated (which weight would survive?), and NULL or
    non-positive weights are rejected too — a zero out-weight sum would
    silently turn contributions into NaN that the fold spreads into
    every rank. Arithmetic stays replayable: integer weights, one
    multiply + one divide per edge.

    ``validate``: the weight checks above are two eager LIMIT-bounded
    jobs at call time, and the duplicate-(src,dst) probe is a full
    groupBy shuffle over the edge list — at 100 TB a corpus-scale
    pre-job on EVERY invocation. Pass ``validate=False`` when the
    weights come from your own pre-aggregation (a ``groupBy(src,
    dst).count()`` cannot produce duplicates or NULLs) — the
    trusted-input escape hatch, same convention as ``ordered_fold``;
    the caller then owns the no-dup/positive-weight contract.

    ``start_ranks``: optional ``(node, pr)`` seed — the warm-start /
    INCREMENTAL-maintenance path: after a delta-batch of edges merges
    into the graph, restart from yesterday's converged ranks and run 1–2
    iterations instead of the full budget (power iteration contracts
    toward the stationary vector from ANY start, and a near-converged
    seed is near the new fixed point when the delta is small). Nodes
    absent from the seed (genuinely new) start at uniform ``1/N`` over
    the CURRENT node set; seed rows for nodes no longer in the graph are
    ignored. The seed is consumed as-given (not renormalized) so a fixed
    chain stays oracle-replayable; duplicate seed node rows are rejected
    under ``validate=True`` (they would double-count that node's
    contributions in every iteration).

    EAGERNESS NOTE: with ``n_iters > 0`` (and for ``weight=``/
    ``start_ranks=`` validation) this operator launches Spark jobs at
    CONSTRUCTION time — the gate reads the node count via
    ``n_df.first()`` (one pass over the pinned node relation, itself
    derived from a full edge scan) — rather than staying fully lazy
    until the caller's first action. When the gate passes, one more
    construction-time job eagerly pins the EDGE list by ``dst``
    (``_pinned_partitioned``): an edge-sized, not node-sized, row-format
    ``localCheckpoint`` that spills but is lost with its executor. For
    edge lists too large for that, stage the edges as parquet first
    (the ``stage_path`` convention of ``similarity.ivfpq_index``).
    """
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    if weight is None:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
    else:
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        ).localCheckpoint(eager=False)
        if validate:
            bad_w = (
                e.where(F.col("w").isNull() | (F.col("w") <= 0))
                .limit(1)
                .collect()
            )
            if bad_w:
                raise ValueError(
                    "pagerank: NULL or non-positive weight — a zero out-"
                    "weight sum yields NaN contributions that poison every "
                    "rank; filter or fix the weights first"
                )
            dup = (
                e.groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    "pagerank: duplicate (src, dst) rows with weight= set — "
                    "pre-aggregate the weights (which copy would win is "
                    "ambiguous)"
                )
    # deg / nodes / n are consumed by EVERY iteration — checkpoint them
    # too, or each iteration re-runs the degree aggregate and the node
    # distinct from the edge list (no subtree reuse)
    deg = (
        e.groupBy("src")
        .agg(
            (
                F.count(F.lit(1))
                if weight is None
                else F.sum("w")
            ).alias("deg")
        )
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("n")).localCheckpoint(eager=False)
    # constants inlined ONCE from python floats — the SQL replay embeds
    # repr() of these same values, so both engines use the identical
    # doubles (1 - 0.85 is NOT the literal 0.15 in IEEE)
    teleport = 1.0 - damping
    uniform = F.lit(1.0) / F.col("n").cast("double")
    if start_ranks is None:
        seed = uniform
        base = nodes
    else:
        if validate:
            # a duplicate node row in the seed would survive the left
            # join as two pr rows, double-count that node's
            # out-contributions in every iteration, and poison all
            # downstream ranks with no error — the seed twin of the
            # duplicate-(src,dst) weight probe above
            dup_seed = (
                start_ranks.groupBy("node")
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .limit(1)
                .collect()
            )
            if dup_seed:
                raise ValueError(
                    "pagerank: start_ranks has multiple rows for node "
                    f"{dup_seed[0]['node']!r} — a duplicated seed row "
                    "double-counts that node's contributions in every "
                    "iteration; deduplicate the seed first"
                )
        # warm start: inner-join would DROP new nodes and a seed row for
        # a departed node must not resurrect it — left join from the
        # CURRENT node set, uniform fill for the genuinely new
        seed = F.coalesce(F.col("pr"), uniform)
        base = nodes.join(
            start_ranks.select("node", "pr"), "node", "left"
        )
    pr = (
        base.crossJoin(F.broadcast(n_df))
        .select("node", seed.alias("pr"))
        .localCheckpoint(eager=False)
    )
    # Deliberate join strategy (guide §3.1): the node count is a 1-row
    # metadata read of the already-needed ``n_df`` — when the node set
    # fits the broadcast budget, ship the rank vector and degree table
    # to the edge partitions instead of exchanging + sorting the edge
    # list every iteration (identical rows either way; only the
    # physical plan changes, so the oracle replay is unaffected).
    bcast = n_iters > 0 and n_df.first()["n"] <= _BROADCAST_MAX_NODES
    hint = _hint(bcast)
    if bcast:
        # guide §2.4 (r15): ONE up-front hash exchange of the pinned
        # edge list by dst replaces every iteration's aggregate
        # Exchange — the contribution sums group on dst (aliased
        # ``node``), and the broadcast rank/degree joins plus the
        # alias-only Project preserve this partitioning, so each
        # iteration's groupBy plans with zero shuffles. Above the gate
        # the shuffle path keeps map-side partial aggregation (the
        # skew-safe shape for unbounded graphs).
        e = _pinned_partitioned(e, "dst")
    for _ in range(n_iters):
        c_expr = (
            (F.col("pr") / F.col("deg").cast("double"))
            if weight is None
            else (
                F.col("pr")
                * F.col("w").cast("double")
                / F.col("deg").cast("double")
            )
        )
        contrib = (
            e.join(hint(pr.withColumnRenamed("node", "src")), "src")
            .join(hint(deg), "src")
            .select(
                F.col("dst").alias("node"),
                "src",
                c_expr.alias("c"),
            )
        )
        if ordered_fold:
            sums = contrib.groupBy("node").agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("src", "c"))),
                        lambda s: s["c"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("s")
            )
        else:
            sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        pr = (
            nodes.join(hint(sums), "node", "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "node",
                (
                    F.lit(teleport) / F.col("n").cast("double")
                    + F.lit(damping)
                    * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return pr


def _hint(bcast: bool):
    """The join hint a broadcast gate hands its joins: ``F.broadcast``
    when the gate passed, else the identity (AQE picks the join)."""
    return F.broadcast if bcast else (lambda df: df)


def _fits(df: DataFrame, bound: int) -> bool:
    """Size-gate probe (the broadcast gates, k_core's one-task gate):
    does ``df`` hold at most ``bound`` rows?
    ``limit(bound+1).count()`` instead of a full ``count()`` (r15,
    VERDICT r14 item 6): the scan short-circuits once ``bound + 1`` rows
    are seen, so the 100 TB no-broadcast path pays O(bound) to learn
    "don't broadcast" instead of a full corpus aggregate. Same decision
    as ``count() <= bound`` for every input. NOTE this is still an
    eager job at operator-construction time (r14 ADVICE) — the price of
    a measured, deterministic gate instead of optimizer estimates."""
    return df.limit(int(bound) + 1).count() <= int(bound)


def _pinned_partitioned(
    df: DataFrame, *cols: str, num_partitions: int | None = None
) -> DataFrame:
    """Eagerly pin ``df`` hash-partitioned by ``cols`` (``num_partitions``,
    else the session's ``spark.sql.shuffle.partitions``), so that loop
    aggregates keyed on (an alias of) ``cols`` read one co-partitioned
    relation and plan with no Exchange (guide §2.4).

    AQE is off for this one eager pin, in a
    :func:`gdutils_spark.session.scoped_conf`: under AQE the plan that
    ``localCheckpoint`` captures is an un-executed ``AdaptiveSparkPlan``
    with ``UnknownPartitioning``, which would put the per-iteration
    Exchange right back. The rest of the query plans under AQE; rows are
    identical either way.
    """
    spark = df.sparkSession
    n = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        return df.repartition(n, *cols).localCheckpoint(eager=True)


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected canonical edge set: (least, greatest) pairs, self-loops
    dropped, deduped — shared by the triangle counters, edge_jaccard and
    k_core so the canonicalization can never drift between them."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _degree_oriented(e: DataFrame, hint) -> "tuple[DataFrame, DataFrame]":
    """(degree table, degree-ordered oriented edges) from a canonical
    edge relation ``(u, v[, extras...])`` — every edge points from the
    smaller ``(degree, id)`` endpoint to the larger (the Suri &
    Vassilvitskii orientation); extra columns ride through. ONE source
    of truth for the parity-critical orientation/tie-break logic, shared
    with :func:`_wedges` by the whole wedge family (a drift between
    copies would silently break the pinned incremental == rebuild
    claim). Both outputs localCheckpoint-pinned (multi-consumer,
    no-subtree-reuse discipline). ``hint`` (:func:`_hint`): callers
    whose gate measured the graph small pass ``F.broadcast`` so the
    node-sized degree table broadcasts into both orientation joins and
    the edge list never shuffles here."""
    extras = [c for c in e.columns if c not in ("u", "v")]
    # one scan of the edges, as in k_core's degrees()
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    ed = e.join(
        hint(deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))),
        "u",
    ).join(
        hint(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))),
        "v",
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
        *extras,
    ).localCheckpoint(eager=False)
    return deg, oriented


def _wedges(left: DataFrame, right: DataFrame, hint) -> DataFrame:
    """Degree-ordered wedges ``(c, x, y)``: an oriented edge c→x of
    ``left`` and c→y of ``right`` sharing their center, with x before y
    in the SAME (degree, id) order the orientation uses — so the
    closing edge (x, y), if present, is oriented exactly x→y and each
    triangle is generated once (:func:`_closed`). ``hint`` goes on
    ``right``."""
    o1, o2 = left.alias("o1"), right.alias("o2")
    x_before_y = (F.col("o1.db") < F.col("o2.db")) | (
        (F.col("o1.db") == F.col("o2.db")) & (F.col("o1.b") < F.col("o2.b"))
    )
    return o1.join(
        hint(o2), (F.col("o1.a") == F.col("o2.a")) & x_before_y
    ).select(
        F.col("o1.a").alias("c"),
        F.col("o1.b").alias("x"),
        F.col("o2.b").alias("y"),
    )


def _closed(wedges: DataFrame, oriented: DataFrame, hint) -> DataFrame:
    """The wedges an oriented edge x→y of ``oriented`` closes into a
    triangle: one left-semi join on ``(x, y)``."""
    return wedges.join(
        hint(oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))),
        ["x", "y"],
        "left_semi",
    )


def _lcc_report(deg: DataFrame, ntri: DataFrame, hint) -> DataFrame:
    """Final per-node report from a degree table and a ``(node,
    n_triangles)`` relation: missing nodes count 0 triangles,
    ``lcc = 2·T / (d·(d−1))`` as one IEEE division (0.0 when d < 2).
    ``hint`` (r15, guide §3.1): callers whose broadcast gate passed hand
    in ``F.broadcast`` so the node-sized triangle-count side broadcasts
    into the left join instead of a SortMergeJoin exchanging both
    node-sized aggregates."""
    n_tri = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    return deg.join(hint(ntri), "node", "left").select(
        "node",
        "degree",
        n_tri.alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2) * n_tri).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph (directions in the input are ignored — edges are
    canonicalized to ``least/greatest`` pairs and deduped):
    ``(node, degree, n_triangles, lcc)`` with
    ``lcc = 2·T / (d·(d−1))`` (0.0 when ``d < 2``) — the standard
    cohesion diagnostic next to :func:`pagerank` (importance) and
    :func:`label_propagation` (partition): a co-purchase/co-occurrence
    node with high degree but near-zero closure is a hub mixing
    unrelated contexts, a classic quality prior.

    Spark-first shape (Suri & Vassilvitskii 2011, WWW — "Counting
    triangles and the curse of the last reducer"): orient every edge
    from the endpoint with the smaller ``(degree, id)`` to the larger,
    generate wedges ONLY from each node's oriented out-neighbors, and
    close them with one semi-join back against the oriented edge set.
    The orientation bounds every out-list by O(√m) regardless of degree
    skew, so a celebrity node with 10⁸ neighbors contributes wedges
    from its (few) higher-rank neighbors instead of the d² all-pairs
    blow-up — total wedge work is O(m^{3/2}) worst-case, the best
    possible for exact counting. Each triangle is generated EXACTLY
    once (its rank-minimal vertex is the wedge center and the closing
    pair is rank-ordered), so the per-node explode counts every vertex
    of every triangle once. All-integer arithmetic + one final IEEE
    division per node — fully oracle-replayable.

    Broadcast gate (r14, guide §3.1): the wedge set is O(m^{3/2}) — at
    sf0.1 the 1.2M-edge co-purchase graph generates 41M wedges, and
    shuffling them for the closing semi-join was the single most
    expensive exchange in the graph family (measured ~6.5 s). While the
    EDGE count (one bounded count of the pinned canonical edge list, an
    eager job at construction) stays at or below
    ``_BROADCAST_MAX_EDGES``, the oriented edge relation broadcasts into
    the wedge join and the closing semi-join instead — the wedge set is
    then produced AND closed map-side and only the (far smaller)
    triangle set ever shuffles. Identical rows either way; a bigger
    graph uses the shuffle path (the only option at true 100 TB edge
    counts).
    """
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    hint = _hint(_fits(e, _BROADCAST_MAX_EDGES))
    deg, oriented = _degree_oriented(e, hint)
    tri = _closed(_wedges(oriented, oriented, hint), oriented, hint)
    cnt = (
        tri.select(F.explode(F.array("c", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return _lcc_report(deg, cnt, hint)


def triangle_count_incremental(
    base_counts: DataFrame,
    base_edges: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Maintain :func:`triangle_count` under a nightly edge delta
    WITHOUT re-running the O(m^{3/2}) wedge enumeration over the
    merged graph — the graph family's fourth incremental surface.

    Every triangle of the merged graph either (a) uses only old edges —
    already counted in ``base_counts`` (the prior :func:`triangle_count`
    output; only its ``node``/``n_triangles`` columns are consumed —
    degrees are recomputed because the delta changes them), or (b)
    contains at least one NEW edge — enumerated here exactly once by
    anchoring the degree-ordered wedge generation on the new edges:
    wedges whose FIRST edge is new (× any second edge), wedges whose
    first edge is old and second is new, and old-old wedges closed by a
    new edge (the closer's orientation already implies the wedge's
    rank order, so the three cases are disjoint and complete). The sum
    is exact — differential-tested equal to a full re-run.

    Cost shape: one LINEAR pass over the merged edge list (canonical
    dedup + degree + orientation — unavoidable, the delta changes both
    degrees and orientations), then wedge work proportional to
    |delta|·√m instead of m^{3/2}. Delta edges already present in the
    corpus are dropped by an anti-join (re-sending an edge is a no-op),
    so the operator is idempotent over at-least-once feeds. Broadcast
    gate: the :func:`triangle_count` one, on the merged edge count —
    under it the oriented/old/closer relations broadcast into the
    anchored wedge joins, so the delta-anchored wedge set is generated
    and closed map-side.
    """
    eb = _canonical_edges(base_edges, src, dst).localCheckpoint(eager=False)
    dn = _canonical_edges(delta_edges, src, dst).join(
        eb, ["u", "v"], "left_anti"
    )
    e = (
        eb.withColumn("nw", F.lit(False))
        .unionByName(dn.withColumn("nw", F.lit(True)))
        .localCheckpoint(eager=False)
    )
    hint = _hint(_fits(e, _BROADCAST_MAX_EDGES))
    deg, oriented = _degree_oriented(e, hint)
    new_o = oriented.where(F.col("nw"))
    old_o = oriented.where(~F.col("nw"))
    # (1) first wedge edge new; (2) first old, second new — together:
    # every wedge with >=1 new edge, each exactly once; closed by ANY
    # merged edge
    w_new = _wedges(new_o, oriented, hint).unionByName(
        _wedges(old_o, new_o, hint)
    )
    tri_w = _closed(w_new, oriented, hint)
    # (3) both wedge edges old, closer NEW: anchor on the new closer
    # (x -> y); its orientation implies rank(x) < rank(y), so this is
    # the same unique oriented triangle the full algorithm generates
    tri_c = (
        new_o.alias("cl")
        .join(hint(old_o.alias("e1")), F.col("e1.b") == F.col("cl.a"))
        .join(
            hint(old_o.alias("e2")),
            (F.col("e2.a") == F.col("e1.a"))
            & (F.col("e2.b") == F.col("cl.b")),
        )
        .select(
            F.col("e1.a").alias("c"),
            F.col("cl.a").alias("x"),
            F.col("cl.b").alias("y"),
        )
    )
    inc = (
        tri_w.unionByName(tri_c)
        .select(F.explode(F.array("c", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_inc"))
    )
    base = base_counts.select("node", F.col("n_triangles").alias("_base"))
    combined = (
        base.join(inc, "node", "full")
        .select(
            "node",
            (
                F.coalesce(F.col("_base"), F.lit(0).cast("long"))
                + F.coalesce(F.col("_inc"), F.lit(0).cast("long"))
            ).alias("n_triangles"),
        )
    )
    return _lcc_report(deg, combined, hint)


def edge_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-edge neighborhood Jaccard (edge embeddedness / tie strength,
    the link-prediction score of Liben-Nowell & Kleinberg 2003 applied
    to EXISTING edges): for each undirected edge ``(u, v)``,
    ``|N(u) ∩ N(v)| / |N(u) ∪ N(v) \\ {u, v}|`` — common neighbors are
    exactly the triangles through the edge, and the union is
    ``du + dv - 2 - common``. High-degree edges with near-zero overlap
    are bridges between unrelated contexts; high-Jaccard edges are
    embedded community ties — the per-EDGE twin of
    :func:`triangle_count`'s per-node lcc.

    Output: ``(u, v, du, dv, n_common, jaccard)`` with ``u < v``,
    ``jaccard = 0.0`` when the union is empty (two degree-1 endpoints).

    Plan shape: the SAME degree-ordered wedge enumeration as
    :func:`triangle_count` (O(m^{3/2}) bound, skew-immune), but each
    closed triangle ``(c, x, y)`` is exploded to its THREE edges in
    canonical (least, greatest) form and counted per edge — one extra
    edge-keyed aggregate over the triangle set, then one join back to
    the canonical edge list so zero-triangle edges report 0. All-integer
    arithmetic + one final IEEE division per edge. Broadcast gate: the
    :func:`triangle_count` one — under it the oriented relation
    broadcasts into the wedge and closing joins, so the O(m^{3/2})
    wedge set is generated and closed map-side and never shuffled."""
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    hint = _hint(_fits(e, _BROADCAST_MAX_EDGES))
    deg, oriented = _degree_oriented(e, hint)
    tri = _closed(_wedges(oriented, oriented, hint), oriented, hint)
    tri_edges = tri.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col(l), F.col(r)).alias("u"),
                        F.greatest(F.col(l), F.col(r)).alias("v"),
                    )
                    for l, r in (("c", "x"), ("c", "y"), ("x", "y"))
                ]
            )
        ).alias("ed")
    ).select("ed.u", "ed.v")
    common = tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("dv"))
    n_common = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    union_sz = F.col("du") + F.col("dv") - F.lit(2) - n_common
    # Report joins ride the same gate (r15, guide §3.1): ``common`` is
    # one row per triangle-participating edge (⊆ e, which the gate just
    # measured) and du/dv are node-sized — broadcasting all three turns
    # the final report from 3 SortMergeJoins + 5 exchanges + sorts of
    # edge-/node-sized relations into map-side hash joins over the
    # pinned edge list (the only remaining exchange is the per-edge
    # triangle count aggregate).
    return (
        e.join(hint(common), ["u", "v"], "left")
        .join(hint(du), "u")
        .join(hint(dv), "v")
        .select(
            "u",
            "v",
            "du",
            "dv",
            n_common.alias("n_common"),
            F.when(union_sz > 0, n_common.cast("double") / union_sz.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


# Edge-count bound of k_core's one-task peel (measured; see k_core).
_ONE_TASK_MAX_EDGES = 4_000_000


def _kcore_peel(k: int, n_iters: int):
    """The ``mapInPandas`` body of k_core's one-task path: the whole
    fixed-iteration peel over ONE partition's canonical edges, in numpy.
    Captures only ``k`` and ``n_iters``; node ids keep their own dtype
    (``np.unique`` orders strings and int32 alike)."""

    def peel(batches):
        import numpy as np
        import pandas as pd

        frames = [f for f in batches if len(f)]
        if not frames:
            return
        m = sum(len(f) for f in frames)
        nodes, inv = np.unique(
            np.concatenate(
                [f["u"].to_numpy() for f in frames]
                + [f["v"].to_numpy() for f in frames]
            ),
            return_inverse=True,
        )
        del frames
        iu, iv = inv[:m], inv[m:]
        alive = np.ones(m, dtype=bool)

        def degree():
            n = len(nodes)
            return np.bincount(iu[alive], minlength=n) + np.bincount(
                iv[alive], minlength=n
            )

        for _ in range(n_iters):
            keep = degree() >= k
            alive &= keep[iu] & keep[iv]
        deg = degree()
        yield pd.DataFrame(
            {"node": nodes[deg > 0], "core_degree": deg[deg > 0].astype("int64")}
        )

    return peel


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 4,
) -> DataFrame:
    """Bounded-iteration k-core peel (Seidman 1983, "Network structure
    and minimum degree"): repeatedly drop nodes whose CURRENT degree is
    below ``k`` — after convergence the survivors are the k-core, the
    maximal subgraph of minimum degree ≥ k, the standard robustness/
    nucleus filter next to :func:`triangle_count`'s cohesion and
    :func:`pagerank`'s importance. Directions in the input are ignored
    (edges canonicalized + deduped, :func:`_canonical_edges`). Returns
    ``(node, core_degree)`` for the surviving nodes — ``core_degree`` is
    the degree INSIDE the surviving subgraph.

    Fixed iteration count, not convergence detection — the oracle-
    replayable discipline of the whole module (:func:`pagerank`): a
    converged peel makes further rounds exact no-ops, so extra
    iterations are free of semantic drift, and an UNconverged bound
    returns a (documented) superset of the true core — check
    ``min(core_degree) >= k`` to certify convergence (test-pinned; peels
    on real graphs converge in a handful of rounds because each round
    removes whole frontier layers). ``n_iters=0`` is the degree table.

    Two paths, identical rows (differential-tested), chosen by one
    bounded count of the pinned canonical edge list (:func:`_fits`):

    * at most ``_ONE_TASK_MAX_EDGES`` edges: the whole peel runs in ONE
      task (``coalesce(1).mapInPandas``, :func:`_kcore_peel`) — ids
      factorized by ``np.unique``, each round one ``bincount`` per
      endpoint and an alive-edge mask. Under AQE every round of the
      shuffle path below runs its Exchange as a job while the plan is
      still being built; this path's eager jobs are the checkpointed
      canonical-edge stages plus the one gate probe, and the peel
      itself is the collect's single job.
    * above it: the shrinking-edge-state loop — each round's edge list
      is keyed-shuffled against the survivor set and pinned, the only
      shape that is safe at scale.

    The bound was measured on a 4-core host with synthetic random
    graphs of the co-purchase graph's density (``perf/README.md``,
    "k-core one-task peel"): the one-task path was the faster one at
    every size measured, 125,000 to 4,000,000 edges (9.4 s against
    19.5 s at 4M), and at 4M its Python worker peaked at 0.56 GB
    resident, against a 1 GB per-worker budget. The sf0.1 co-purchase
    graph (1.2M edges) sits under it.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    e = _canonical_edges(edges, src, dst).localCheckpoint(eager=False)

    def degrees(edge_df: DataFrame) -> DataFrame:
        # ONE scan of the lazily pinned edge list: a union of a u-scan
        # and a v-scan puts two concurrent tasks on each pinned
        # partition, and both compute it
        return (
            edge_df.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )

    if n_iters == 0:
        return degrees(e)
    if _fits(e, _ONE_TASK_MAX_EDGES):
        schema = degrees(e).schema
        return e.coalesce(1).mapInPandas(_kcore_peel(k, n_iters), schema)
    for _ in range(n_iters):
        keep = (
            degrees(e)
            .where(F.col("core_degree") >= k)
            .select("node")
            .localCheckpoint(eager=False)
        )
        e = (
            e.join(keep.select(F.col("node").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("node").alias("v")), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    return degrees(e)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iters: int = 3,
    start_labels: DataFrame | None = None,
    validate: bool = True,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, Phys. Rev. E 76) — ``(node, label)`` after ``n_iters``
    rounds of "adopt the label most frequent among your neighbors",
    seeded with each node's own id. Fully deterministic: the adopt step
    is tie-broken (count desc, then smallest label) and updates are
    synchronous, so a fixed iteration count replays identically in SQL
    — and the whole chain is INTEGER arithmetic, no float parity
    surface at all.

    Node set = distinct sources (pass both edge directions for an
    undirected graph, the :func:`pagerank` convention) and is STABLE
    across iterations: a node with no in-neighbors this round keeps its
    current label (carried forward via a left join), and a
    destination-only node never enters the output — on directed input
    the contract holds instead of the label vector drifting toward the
    destination set. Per iteration: one equi-join of the edge list with
    the label vector + one (node, label)-keyed count + one node-keyed
    argmax — all shuffles on graph keys, no driver-side state; each
    label vector is ``localCheckpoint``-pinned (no-subtree-reuse
    discipline). The argmax is ``min(struct(-cnt, label))`` — a
    PARTIAL-AGGREGABLE fold, not a row_number window: a celebrity node
    whose neighbors carry d distinct labels would force a single-task
    sort of d rows under a window (measured: the per-node tally equals
    the hub degree on an adversarial fixture, tools/skew_probe.py
    --graph), while the fold combines map-side and ships each mapper's
    one candidate per node — identical tie-break (count desc, then
    smallest label; cnt is negated rather than the unbounded label).
    Fixed iterations rather than convergence detection:
    synchronous LPA can two-cycle on bipartite structure, and a bounded
    chain is what both a 100 TB budget and an oracle replay want.

    ``start_labels``: optional ``(node, label)`` seed — the
    INCREMENTAL-maintenance path (the :func:`pagerank`
    ``start_ranks=`` convention): after a delta-batch of edges merges
    into the graph, seed from last night's converged labels and run 1–2
    rounds instead of the full budget — settled communities re-adopt
    their label immediately, so the propagation work concentrates where
    the delta touched. Seeding is a left join FROM the current node set:
    genuinely new nodes seed with their own id, seed rows for departed
    nodes are ignored, and the node-sized join is the whole incremental
    cost. Duplicate seed node rows are rejected under ``validate=True``
    (they would double-count that node's vote in every neighbor tally);
    ``validate=False`` skips the eager probe for labelings that are
    unique by construction (this function's own output is).

    Broadcast gate: the :func:`pagerank` one — while the node count
    (one bounded count of the pinned label vector) stays at or below
    ``_BROADCAST_MAX_NODES``, the label vector broadcasts into the
    per-round neighbor join and the edge list is never re-exchanged; a
    larger graph falls back to the shuffle path. EAGERNESS NOTE: as in
    :func:`pagerank`, the gate's bounded node count (and the seed dup
    probe under ``validate=True``) run at CONSTRUCTION time, and a
    passing gate eagerly pins the edge-sized EDGE list by ``dst``.
    """
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    if start_labels is None:
        lab = nodes.select("node", F.col("node").alias("label"))
    else:
        seed = start_labels.select("node", F.col("label").alias("_seed"))
        if validate:
            # the dup probe below is a SEPARATE action from the seeding
            # join, and shuffle reuse does not span actions — without a
            # pin a non-trivial seed lineage (last night's labels behind
            # a join) would compute twice (the cms_estimate convention)
            seed = seed.localCheckpoint(eager=False)
            dup = (
                seed.groupBy("node")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"label_propagation: start_labels has duplicate rows "
                    f"for node {dup[0]['node']} — each duplicate would "
                    "double-count that node's vote in every neighbor "
                    "tally; dedup the seed (or pass validate=False for "
                    "labelings unique by construction)"
                )
        lab = nodes.join(seed, "node", "left").select(
            "node", F.coalesce(F.col("_seed"), F.col("node")).alias("label")
        )
    lab = lab.localCheckpoint(eager=False)
    # Deliberate join strategy (guide §3.1, the pagerank convention):
    # the label vector is node-sized; when the node count fits the
    # broadcast budget, ship it to the edge partitions each round
    # instead of exchanging + sorting the edge list per iteration.
    # One LIMIT-bounded probe on the pinned seed vector decides
    # (identical rows either way — only the physical plan changes).
    bcast = n_iters > 0 and _fits(lab, _BROADCAST_MAX_NODES)
    hint = _hint(bcast)
    if bcast:
        # guide §2.4 (r15): one up-front hash exchange of the pinned
        # edge list by dst replaces BOTH per-round aggregate Exchanges
        # — the (node, label) tally and the node-keyed argmax each
        # group on (an alias of) dst, and the broadcast label join +
        # rename preserve the pinned partitioning, so every round plans
        # with zero shuffles. Above the gate the two-exchange shape
        # stays: its map-side partial aggregation is what bounds a
        # celebrity node's tally volume on unbounded graphs (§2.5).
        e = _pinned_partitioned(e, "dst")
    for _ in range(n_iters):
        nbr = e.join(hint(lab.withColumnRenamed("node", "src")), "src").select(
            F.col("dst").alias("node"), "label"
        )
        cnt = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        best = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("_nc"), F.col("label")
                    )
                ).alias("_b")
            )
            .select("node", F.col("_b.label").alias("_new"))
        )
        lab = (
            lab.join(hint(best), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("_new"), F.col("label")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return lab
