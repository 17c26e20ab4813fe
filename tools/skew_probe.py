"""Measure what `salted_join` buys on a hot-key fixture.

Builds a skewed fact table from the sf0.1 events scan (one synthetic key
owns ~50% of all rows), then compares the plain shuffle join against
`sources.staging.salted_join` on two observables:

* **shuffle balance** — rows landing in the busiest shuffle partition
  when distributing by the join key (what the join's Exchange does)
  versus by (key, salt). The hot key pins its full row count onto ONE
  task in the plain plan; salting spreads it over S tasks.
* **wall time** — the same join executed both ways with AQE's skew-join
  mitigation disabled, so the plain plan's straggler is visible. (AQE
  ON is the production default and handles moderate skew by splitting
  oversized partitions at runtime; salting is the explicit fix when a
  single key exceeds one task's memory, which AQE splitting cannot help
  because all rows of one key must meet in one task for a shuffle join.)

Run from the repo root: ``python tools/skew_probe.py``. Prints the
markdown rows cited in SCALE.md.

``python tools/skew_probe.py --graph`` runs the GRAPH skew probe
instead (VERDICT r9 task 5): an adversarial hub — one node with ~10⁵
edges injected into the sf0.1 co-purchase graph — driven through
``label_propagation`` and ``triangle_count(_incremental)``, reporting
wall times with/without the hub and the hub-induced per-key row
maxima (the quantities that decide whether salting is needed).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PARTITIONS = 32
SALTS = 16
HUB_DEGREE = 100_000


def graph_main() -> None:
    from pyspark.sql import functions as F

    from gdutils_spark.operators.graph import (
        label_propagation,
        triangle_count,
        triangle_count_incremental,
    )
    from gdutils_spark.queries_ext import _copurchase_edges
    from gdutils_spark.session import get_spark

    spark = get_spark("graph-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = _copurchase_edges(spark, SF_DIR, both_directions=True).select(
        "src", "dst"
    )
    base = base.localCheckpoint()  # pin: reused by every variant below
    n_base = base.count()
    hub_id = -1  # disjoint from part ids
    spokes = spark.range(HUB_DEGREE).select(
        (F.col("id") + 10_000_000).alias("peer")
    )
    hub = spokes.select(
        F.lit(hub_id).alias("src"), F.col("peer").alias("dst")
    ).unionByName(
        spokes.select(F.col("peer").alias("src"), F.lit(hub_id).alias("dst"))
    )
    hubbed = base.unionByName(hub).localCheckpoint()
    n_hub = hubbed.count()
    print(
        f"fixture: {n_base} directed co-purchase edges (sf_dir={SF_DIR}) "
        f"+ hub of degree {HUB_DEGREE} -> {n_hub}"
    )

    def timed(thunk, runs=3):
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            thunk()
            best = min(best, time.perf_counter() - t0)
        return best

    t_lpa_base = timed(lambda: label_propagation(base, n_iters=3).count())
    t_lpa_hub = timed(lambda: label_propagation(hubbed, n_iters=3).count())
    # the skew quantity: the biggest per-node distinct-label tally the
    # argmax must reduce in round 1 (== hub degree: every spoke still
    # carries its self-label)
    lab0 = hubbed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    nbr = hubbed.join(lab0.withColumnRenamed("node", "src"), "src").select(
        F.col("dst").alias("node"), "label"
    )
    mx = (
        nbr.groupBy("node", "label")
        .count()
        .groupBy("node")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    print()
    print("| label_propagation (3 rounds) | warm best-of-3 |")
    print("|---|---|")
    print(f"| co-purchase base | {t_lpa_base:.2f} s |")
    print(f"| base + degree-{HUB_DEGREE} hub | {t_lpa_hub:.2f} s |")
    print(f"| max distinct labels one argmax reduces (round 1) | {mx} |")

    t_tri_base = timed(lambda: triangle_count(base).count())
    t_tri_hub = timed(lambda: triangle_count(hubbed).count())
    # nightly delta: 1000 new edges ALL touching the hub (worst case for
    # delta-anchored wedges: every wedge anchors at the hot node)
    delta = spark.range(1000).select(
        F.lit(hub_id).alias("src"), (F.col("id") + 20_000_000).alias("dst")
    )
    counts_hub = triangle_count(hubbed).localCheckpoint()
    counts_hub.count()
    t_inc = timed(
        lambda: triangle_count_incremental(counts_hub, hubbed, delta).count()
    )
    print()
    print("| triangles | warm best-of-3 |")
    print("|---|---|")
    print(f"| full, co-purchase base | {t_tri_base:.2f} s |")
    print(f"| full, base + hub | {t_tri_hub:.2f} s |")
    print(f"| incremental, 1000-edge delta ALL touching the hub | {t_inc:.2f} s |")
    # orientation bound check: the hub's oriented out-list stays small
    from gdutils_spark.operators.graph import (
        _canonical_edges,
        _degree_oriented,
        _hint,
    )

    e = _canonical_edges(hubbed, "src", "dst")
    _deg, oriented = _degree_oriented(e, _hint(False))
    out_max = (
        oriented.groupBy("a").count().agg(F.max("count")).first()[0]
    )
    hub_out = oriented.where(F.col("a") == hub_id).count()
    print(f"| max oriented out-list (√m bound) | {out_max} |")
    print(f"| hub's own oriented out-list | {hub_out} |")


def edge_jaccard_main() -> None:
    """VERDICT r11 task 7: does edge_jaccard inherit triangle_count's
    hub immunity? The 3-edge explode multiplies the triangle set by 3
    and the per-edge aggregate keys on canonical (u, v) — report wall
    times with/without a degree-10^5 hub, the explode volume, and the
    hottest per-edge key (the aggregate is map-combinable, so the
    hazard is volume + one-key concentration, not a straggler task)."""
    from pyspark.sql import functions as F

    from gdutils_spark.operators.graph import (
        _canonical_edges,
        _closed,
        _degree_oriented,
        _hint,
        _wedges,
        edge_jaccard,
        triangle_count,
    )
    from gdutils_spark.queries_ext import _copurchase_edges
    from gdutils_spark.session import get_spark

    spark = get_spark("edge-jaccard-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    base = _copurchase_edges(spark, SF_DIR, both_directions=True).select(
        "src", "dst"
    ).localCheckpoint()
    n_base = base.count()
    hub_id = -1
    spokes = spark.range(HUB_DEGREE).select((F.col("id") + 10_000_000).alias("peer"))
    hub = spokes.select(
        F.lit(hub_id).alias("src"), F.col("peer").alias("dst")
    ).unionByName(
        spokes.select(F.col("peer").alias("src"), F.lit(hub_id).alias("dst"))
    )
    hubbed = base.unionByName(hub).localCheckpoint()
    hubbed.count()
    print(f"fixture: {n_base} directed edges + degree-{HUB_DEGREE} hub")

    def timed(thunk, runs=3):
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            thunk()
            best = min(best, time.perf_counter() - t0)
        return best

    t_tri_base = timed(lambda: triangle_count(base).count())
    t_ej_base = timed(lambda: edge_jaccard(base).count())
    t_tri_hub = timed(lambda: triangle_count(hubbed).count())
    t_ej_hub = timed(lambda: edge_jaccard(hubbed).count())

    # skew quantities on the hubbed graph: triangle volume (the explode
    # input), 3x explode output, and the hottest per-edge key
    e = _canonical_edges(hubbed, "src", "dst")
    no_hint = _hint(False)
    _deg, oriented = _degree_oriented(e, no_hint)
    tri = _closed(_wedges(oriented, oriented, no_hint), oriented, no_hint)
    n_tri = tri.count()
    hot = (
        edge_jaccard(hubbed)
        .agg(F.max("n_common").alias("mx"), F.sum("n_common").alias("total"))
        .first()
    )
    print()
    print("| edge_jaccard hub probe | warm best-of-3 |")
    print("|---|---|")
    print(f"| triangle_count, base | {t_tri_base:.2f} s |")
    print(f"| edge_jaccard, base | {t_ej_base:.2f} s |")
    print(f"| triangle_count, base + hub | {t_tri_hub:.2f} s |")
    print(f"| edge_jaccard, base + hub | {t_ej_hub:.2f} s |")
    print(f"| triangles (explode input), hubbed | {n_tri} |")
    print(f"| 3-edge explode rows | {3 * n_tri} |")
    print(f"| hottest per-edge key (max n_common) | {hot['mx']} |")
    print(f"| sum n_common (== 3x triangles) | {hot['total']} |")


def main() -> None:
    from pyspark.sql import functions as F

    from gdutils_spark.session import get_spark
    from gdutils_spark.sources.staging import salted_join
    from gdutils_spark.sources.tables import load_table

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, SF_DIR, "events")
    # hot-key fixture: half of all rows collapse onto key 0, the rest
    # keep a uniform key — the "one platform owns half the observations"
    # shape from SCALE.md
    facts = events.select(
        F.when(F.col("event_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id") + 1)
        .alias("key"),
        "event_id",
        "value",
    )
    dims = (
        facts.select("key")
        .distinct()
        .withColumn("attr", F.concat(F.lit("k"), F.col("key")))
    )
    n = facts.count()

    def busiest(df, *cols):
        per = (
            df.repartition(PARTITIONS, *cols)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
        )
        row = per.agg(
            F.max("count").alias("mx"), F.count("*").alias("parts")
        ).first()
        return row.mx, row.parts

    plain_max, plain_parts = busiest(facts, "key")
    salt = F.pmod(F.xxhash64("key", "event_id", "value"), F.lit(SALTS))
    salted_max, salted_parts = busiest(
        facts.withColumn("__salt", salt.cast("int")), "key", "__salt"
    )

    # wall time with AQE skew handling off so the straggler is visible;
    # dim broadcast disabled so both plans actually shuffle-join
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def timed(df):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.groupBy().agg(F.count(F.lit(1))).collect()
            best = min(best, time.perf_counter() - t0)
        return best

    t_plain = timed(facts.join(dims, "key"))
    t_salted = timed(salted_join(facts, dims, "key", salts=SALTS))
    spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    print(f"fixture: {n} fact rows, hot key owns ~50%  (sf_dir={SF_DIR})")
    print("| distribution | busiest-partition rows | share of table | used partitions |")
    print("|---|---|---|---|")
    print(
        f"| by key (plain join) | {plain_max} | {plain_max / n:.1%} | {plain_parts} |"
    )
    print(
        f"| by (key, salt×{SALTS}) | {salted_max} | {salted_max / n:.1%} | {salted_parts} |"
    )
    print()
    print("| join (AQE skew-join off, no broadcast) | warm best-of-3 |")
    print("|---|---|")
    print(f"| plain shuffle join | {t_plain:.2f} s |")
    print(f"| salted_join (S={SALTS}) | {t_salted:.2f} s |")


if __name__ == "__main__":
    if "--graph" in sys.argv:
        graph_main()
    elif "--edge-jaccard" in sys.argv:
        edge_jaccard_main()
    else:
        main()
