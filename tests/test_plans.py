"""Physical-plan assertions: the scale properties the engine promises.

Built on gdutils_spark.plans — filter/projection pushdown reaches the
parquet scan, small dims broadcast, hot paths stay in whole-stage codegen
with no Python evaluation in relational queries.

The test tables are small enough for ``load_table``'s single-partition
gate, and every test runs on the plans it produces, except the few that
pin an Exchange count: under the gate a one-partition scan satisfies
every clustered distribution, so those plans have no Exchange at all.
Those tests take the ``above_one_partition_bound`` fixture and pin the
plans of tables above the bound (``test_sources.py`` pins the gated
plans)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gdutils_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    n_exchanges,
    n_nodes,
    pushed_filters,
    uses_python,
    whole_stage_codegen_active,
)
from gdutils_spark.queries import QUERIES
from gdutils_spark.sources import tables
from gdutils_spark.sources.tables import load_table


@pytest.fixture
def above_one_partition_bound(monkeypatch):
    """Plan every table as one above ``_ONE_PARTITION_MAX_BYTES``."""
    monkeypatch.setattr(tables, "_ONE_PARTITION_MAX_BYTES", -1)


def test_filter_pushdown_reaches_parquet(spark, sf_correct):
    df = load_table(spark, sf_correct, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select("l_orderkey", "l_quantity")
    plan = formatted_plan(df)
    assert any("LessThanOrEqual(l_shipdate" in f for f in pushed_filters(plan))
    # column pruning: ReadSchema carries only what we asked for (+ filter col)
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q5_broadcasts_dims(spark, sf_correct):
    plan = formatted_plan(QUERIES["q5_region_revenue"](spark, sf_correct))
    assert has_broadcast_join(plan)
    # every dim (region/nation/customer/supplier) joins broadcast — the
    # lineitem fact side is only ever the probe side
    assert plan.count("BroadcastHashJoin") >= 4


@pytest.mark.usefixtures("above_one_partition_bound")
def test_first_week_has_no_join_and_single_shuffle(spark, sf_correct):
    """The per-user windows are fact-derived, so the scale-safe plan is a
    min-over-user window + reused hash partitioning for the final agg:
    ONE exchange, no join, and above all nothing entity-sized broadcast
    (1e9 users would melt the driver)."""
    df = QUERIES["user_first_week_events"](spark, sf_correct)
    plan = formatted_plan(df)
    assert "BroadcastExchange" not in plan
    assert "Join" not in plan
    assert n_exchanges(plan) == 1


def test_no_python_in_relational_queries(spark, sf_correct):
    for name in (
        "q1_pricing_summary",
        "daily_event_stats",
        "calendar_ymd_events",
        "doc_text_stats",
        "doc_simhash",
        "emb_knn_bruteforce",
        "doc_chunks",
        "doc_tfidf_terms",
        "emb_quantize",
        "doc_pii_scrub",
    ):
        df = QUERIES[name](spark, sf_correct)
        assert not uses_python(df), f"{name} fell out of the JVM into Python"


def test_uses_python_detects_every_eval_node_type(spark):
    # r12 latent-hunt regression: ArrowAggregatePython / ArrowWindowPython
    # / MapInArrow / FlatMapCoGroupsInPandas previously escaped the guard
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    df = spark.range(10).withColumn("g", F.col("id") % 2)

    # no type hints: this file's `from __future__ import annotations`
    # stringifies them and pyspark's hint resolver chokes
    from pyspark.sql.functions import PandasUDFType

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def pmean(v):  # pragma: no cover - plan-only
        return float(v.mean())

    cases = {
        "pandas_udaf": df.groupBy("g").agg(pmean("id").alias("m")),
        "pandas_window": df.withColumn(
            "m", pmean("id").over(Window.partitionBy("g"))
        ),
        "map_in_arrow": df.mapInArrow(lambda it: it, "id long, g long"),
        "cogroup": df.groupBy("g")
        .cogroup(df.groupBy("g"))
        .applyInPandas(lambda a, b: a, "id long, g long"),
    }
    for label, d in cases.items():
        assert uses_python(d), f"{label} plan not flagged as Python"
    assert not uses_python(df.groupBy("g").count())


def test_chunking_has_no_shuffle(spark, sf_correct):
    """Chunking is a scan-shaped stage: tokenize + window starts +
    slices all map-side, zero Exchange — the property that makes it free
    at 100 TB."""
    plan = formatted_plan(QUERIES["doc_chunks"](spark, sf_correct))
    assert n_exchanges(plan) == 0
    assert "Generate" in plan  # the map-side explode


def test_quantize_has_no_shuffle(spark, sf_correct):
    plan = formatted_plan(QUERIES["emb_quantize"](spark, sf_correct))
    assert n_exchanges(plan) == 0


def test_calendar_is_single_aggregate(spark, sf_correct):
    """calendar = one partial+final hash agg pair → exactly one agg
    shuffle (+ the final orderBy range exchange). DataFrame.pivot would
    plan two aggregation rounds; our conditional agg plans one."""
    plan = formatted_plan(QUERIES["calendar_ymd_events"](spark, sf_correct))
    assert n_exchanges(plan) <= 2  # agg shuffle + final orderBy range part
    assert "HashAggregate" in plan


def test_whole_stage_codegen_active(spark, sf_correct):
    assert whole_stage_codegen_active(QUERIES["q1_pricing_summary"](spark, sf_correct))


@pytest.mark.usefixtures("above_one_partition_bound")
def test_sessionization_single_shuffle(spark, sf_correct):
    """Both window passes (gap marker, running index) and the session
    aggregate share the user_id partitioning → exactly ONE Exchange; the
    plan carries two Window nodes over one Sort."""
    plan = formatted_plan(QUERIES["event_sessions"](spark, sf_correct))
    assert n_exchanges(plan) == 1
    assert plan.count(") Window") == 2
    assert plan.count(") Sort") == 1


@pytest.mark.usefixtures("above_one_partition_bound")
def test_packing_single_shuffle(spark, sf_correct):
    """Sequence packing: one shuffle on the shard key serves the window
    and the batch aggregate."""
    assert n_exchanges(QUERIES["doc_pack_batches"](spark, sf_correct)) == 1


def test_rollup_is_one_aggregate(spark, sf_correct):
    """ROLLUP plans a single Expand + partial/final agg pair — one
    shuffle for all three report levels."""
    plan = formatted_plan(QUERIES["rollup_order_totals"](spark, sf_correct))
    assert n_exchanges(plan) == 1
    assert ") Expand" in plan


def test_q4_semi_join_condition_in_join(spark, sf_correct):
    """The correlated EXISTS plans as a LeftSemi hash join with the range
    predicate inside the join condition — no decorrelated subquery
    re-scan, no cartesian fallback."""
    plan = formatted_plan(QUERIES["q4_priority_exists"](spark, sf_correct))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_stratified_sample_is_pure_map(spark, sf_correct):
    """Hash-threshold sampling adds no shuffle at all: the filter sits
    directly on the scan."""
    assert n_exchanges(QUERIES["doc_stratified_sample"](spark, sf_correct)) == 0


def test_q19_disjunction_is_broadcast_residual(spark, sf_correct):
    """The OR-of-ANDs shares the l_partkey equi-condition: Catalyst must
    plan a BroadcastHashJoin with the disjunction as residual, never a
    nested loop over lineitem x part."""
    plan = formatted_plan(QUERIES["q19_disjunctive_revenue"](spark, sf_correct))
    assert has_broadcast_join(plan)
    assert "NestedLoop" not in plan


def test_q18_fact_shuffles_once(spark, sf_correct):
    """HAVING + join-back: the filtered aggregate broadcasts back, so the
    only exchange is the lineitem groupBy."""
    plan = formatted_plan(QUERIES["q18_large_orders"](spark, sf_correct))
    assert has_broadcast_join(plan)
    # exactly one *shuffle* exchange (the groupBy); the join-backs are
    # BroadcastExchange nodes
    assert plan.count(") Exchange") == 1


def test_above_avg_reuses_agg_partitioning(spark, sf_correct):
    """Decorrelated scalar subquery: the per-customer aggregate and the
    join are both keyed on o_custkey, so the aggregate output feeds the
    join without a second repartition (2 exchanges total: one per scan of
    orders into the shared key, none between agg and join)."""
    plan = formatted_plan(QUERIES["orders_above_cust_avg"](spark, sf_correct))
    assert n_exchanges(plan) <= 2
    assert "NestedLoop" not in plan


def test_ma7_single_shuffle_then_tiny_window(spark, sf_correct):
    """Daily agg shuffles once; the window runs on the ~2.4k-row daily
    output (single partition is fine at that size) — no Python, exact
    decimal frame."""
    df = QUERIES["daily_revenue_7d_ma"](spark, sf_correct)
    assert not uses_python(df)
    plan = formatted_plan(df)
    assert ") Window" in plan


def test_minhash_verification_semi_filters_shingles(spark, sf_correct):
    """LSH verification must restrict the shingle table to candidate docs
    via a broadcast semi-join before shuffling — the corpus-scale shingle
    table never shuffles after the signature aggregate."""
    plan = formatted_plan(QUERIES["doc_minhash_lsh_pairs"](spark, sf_correct))
    assert "BroadcastHashJoin LeftSemi" in plan


def test_bm25_no_python_no_vocab_join(spark, sf_correct):
    """BM25 with literal terms: tf columns stay in the JVM (no explode,
    no vocabulary join) and the only exchanges are the 1-row stats
    broadcast plus the final top-k sort."""
    df = QUERIES["doc_bm25_search"](spark, sf_correct)
    assert not uses_python(df)
    plan = formatted_plan(df)
    assert "Generate" not in plan  # no explode — tf is a projection
    assert "TakeOrderedAndProject" in plan


def test_domain_mix_sample_corpus_never_shuffles(spark, sf_correct):
    """The corpus rows reach the output through broadcast joins only —
    every Exchange in the plan belongs to the stratum-sized rate
    computation, so no hashpartitioning touches doc-grain rows."""
    df = QUERIES["doc_domain_mix_sample"](spark, sf_correct)
    assert not uses_python(df)
    plan = formatted_plan(df)
    assert has_broadcast_join(plan)
    # the corpus-side filter (bucket < threshold) sits scan-side, after
    # a broadcast join — not behind a hashpartitioning of documents
    assert "SortMergeJoin" not in plan


def test_keep_best_corpus_side_is_broadcast(spark, sf_correct):
    """Survivor labels join back to the corpus by broadcast; the corpus
    scan itself is never exchange-partitioned by cluster id."""
    plan = formatted_plan(QUERIES["doc_dedup_keep_best"](spark, sf_correct))
    assert has_broadcast_join(plan)


def test_incremental_dedup_batch_side_broadcasts(spark, sf_correct):
    """Candidate discovery joins the batch's banded signatures into the
    corpus side as a broadcast — the property that makes per-batch cost
    independent of corpus size."""
    plan = formatted_plan(QUERIES["doc_incremental_dedup"](spark, sf_correct))
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_source_overlap_no_python(spark, sf_correct):
    df = QUERIES["doc_source_overlap"](spark, sf_correct)
    assert not uses_python(df)


def test_funnel_prunes_to_step_events_single_user_shuffle(spark, sf_correct):
    """The funnel scan pushes the step-type IN filter to parquet, the
    fold stays JVM-side (no Python), and the per-user list build is the
    only data-sized Exchange (the final count + explode run on 1 row)."""
    plan = formatted_plan(QUERIES["user_funnel"](spark, sf_correct))
    assert any("In(event_type" in f for f in pushed_filters(plan))
    assert not uses_python(plan)
    # user-key agg exchange + the single-row final agg exchange
    assert n_exchanges(plan) <= 2


def test_windowed_funnel_same_plan_shape(spark, sf_correct):
    """The within= bound is one extra comparison inside the SAME fold:
    identical pushdown, still no Python, same shuffle budget."""
    plan = formatted_plan(QUERIES["user_funnel_windowed"](spark, sf_correct))
    assert any("In(event_type" in f for f in pushed_filters(plan))
    assert not uses_python(plan)
    assert n_exchanges(plan) <= 2


def test_ivf_sweep_single_assignment_pass(spark, sf_correct):
    """The probe sweep assigns the corpus ONCE: exactly one
    Arrow-batched map (the assignment mapInPandas) in the whole plan,
    however many probe budgets are swept."""
    from gdutils_spark.operators import similarity as sim

    vectors = load_table(spark, sf_correct, "embeddings")
    queries = vectors.where("vec_id < 5")
    df = sim.knn_ivf_sweep(
        vectors, queries, k=3, n_centroids=8, probes=(1, 2, 4)
    )
    plan = formatted_plan(df)
    # tree form "MapInPandas (n)" counts each physical node exactly once
    assert plan.count("MapInPandas (") == 1, plan


def test_vocab_stats_no_python(spark, sf_correct):
    plan = formatted_plan(QUERIES["doc_vocab_stats"](spark, sf_correct))
    assert not uses_python(plan)


def test_cohort_retention_no_join_on_events(spark, sf_correct):
    """Retention never joins the event scan against itself: the plan is
    distinct → user agg → explode → agg → window, with no Join nodes
    over event-sized inputs (no SortMergeJoin/BroadcastHashJoin at all)."""
    plan = formatted_plan(QUERIES["user_cohort_retention"](spark, sf_correct))
    assert "Join" not in plan
    assert not uses_python(plan)


def test_length_histogram_single_agg_no_python(spark, sf_correct):
    """Histogram = one combinable hash agg + a tiny window; 2-column scan."""
    plan = formatted_plan(QUERIES["doc_length_histogram"](spark, sf_correct))
    assert not uses_python(plan)
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


def test_segment_dedup_shape(spark, sf_correct):
    """Segment dedup: segmenting is map-side (no Python), the boilerplate
    drop is a JOIN on the segment string (LeftAnti), and the corpus-side
    work is bounded: inventory agg + reassembly agg, no window sort over
    segments (struct-sorted collect_list instead)."""
    plan = formatted_plan(QUERIES["doc_segment_dedup"](spark, sf_correct))
    assert not uses_python(plan)
    assert "LeftAnti" in plan
    assert "Window" not in plan  # reassembly via sorted collect_list, not a window


def test_token_rarity_two_token_shuffles_no_python(spark, sf_correct):
    """Token rarity: explode → (doc,token) agg → token freq agg → join →
    per-doc rollup. All JVM-side; exchanges stay bounded (tf agg, freq
    agg, join re-partitions, final doc rollup — AQE may elide some)."""
    df = QUERIES["doc_token_rarity"](spark, sf_correct)
    plan = formatted_plan(df)
    assert not uses_python(plan)
    assert n_exchanges(plan) <= 5


def test_hll_no_python_bounded_exchanges(spark, sf_correct):
    """HLL: hash + register max-agg + group fold — all JVM-side; the
    register table is the only corpus-derived shuffle input."""
    plan = formatted_plan(QUERIES["doc_hll_tokens"](spark, sf_correct))
    assert not uses_python(plan)


def test_temperature_mix_no_python_single_stratum_agg(spark, sf_correct):
    import re

    plan = formatted_plan(QUERIES["doc_temperature_mix"](spark, sf_correct))
    assert not uses_python(plan)
    # corpus rows collapse in ONE stratum-keyed agg; the totals fold
    # from the packed strata row, so the corpus scans exactly once (a
    # naive per.agg + join-back duplicates the whole agg subtree).
    # Formatted plans print each node in the tree AND as a detail
    # header; count the detail headers.
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_ivfpq_broadcasts_probe_and_adc_tables(spark, sf_correct):
    """IVF-PQ search: the probe table and ADC tables are tiny — both
    must broadcast; the corpus-sized codes relation must never build a
    hash side. Scoring stays JVM-side past the (already-audited) encode
    and assign Arrow maps."""
    plan = formatted_plan(QUERIES["emb_knn_ivfpq"](spark, sf_correct))
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan
    # cell assignment + PQ encoding are FUSED: exactly one Arrow pass
    # touches the corpus (building them separately would shuffle-join
    # two corpus-sized relations on id)
    import re

    assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 1


def test_cms_no_python_two_corpus_shuffles(spark, sf_correct):
    """CMS report: hash rows are codegen'd md5 affine maps (no Python);
    corpus-scale shuffles are the register agg and the exact-count agg —
    everything downstream is probe-sized."""
    plan = formatted_plan(QUERIES["doc_cms_token_freq"](spark, sf_correct))
    assert not uses_python(plan)


def test_cdc_upsert_no_python_single_key_shuffle_shape(spark, sf_correct):
    """MERGE shape: anti join + union, keyed on the merge key only — no
    Python, no nested-loop join."""
    plan = formatted_plan(QUERIES["orders_cdc_upsert"](spark, sf_correct))
    assert not uses_python(plan)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


@pytest.mark.usefixtures("above_one_partition_bound")
def test_scd2_single_shuffle_two_windows(spark, sf_correct):
    """SCD2: both window passes share the (user_id) partitioning — ONE
    exchange of the event stream, no joins."""
    df = QUERIES["user_event_type_scd2"](spark, sf_correct)
    plan = formatted_plan(df)
    assert not uses_python(plan)
    assert "Join" not in plan
    assert n_exchanges(plan) == 1


def test_rfm_single_agg_then_tiny_windows(spark, sf_correct):
    """RFM: orders collapse in one custkey agg; the three ntile windows
    run over the customer-sized aggregate, and the global-max side is
    broadcast."""
    plan = formatted_plan(QUERIES["customer_rfm_scores"](spark, sf_correct))
    assert not uses_python(plan)
    # the global-max side is ONE row: a broadcast nested-loop cross join
    # is exactly right there (no key to hash on)
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan
    assert "SortMergeJoin" not in plan


def test_zscore_broadcast_stats_join(spark, sf_correct):
    """Anomaly z-scores: the per-type stats table (types-sized) joins
    back broadcast; the daily aggregate is the only event-scale work."""
    plan = formatted_plan(QUERIES["event_type_daily_zscore"](spark, sf_correct))
    assert not uses_python(plan)
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_substring_dedup_no_python_no_cartesian(spark, sf_correct):
    """Substring dedup: shingle sites, canonical marking, coverage and
    rebuild are all codegen'd relational ops — no Python anywhere, no
    all-pairs product; the anti join on (doc, pos) is hash-keyed."""
    plan = formatted_plan(QUERIES["doc_substring_dedup"](spark, sf_correct))
    assert not uses_python(plan)
    assert "CartesianProduct" not in plan


def test_hist_sketch_no_python_registers_are_one_agg(spark, sf_correct):
    """Histogram quantile sketch: binning is a codegen'd map, registers
    one hash agg; no Python, and the exact-percentile side is the only
    sort-based aggregate."""
    plan = formatted_plan(QUERIES["event_value_quantile_sketch"](spark, sf_correct))
    assert not uses_python(plan)


def test_bottomk_no_python_takeordered(spark, sf_correct):
    """Bottom-k quantiles: samples are TakeOrderedAndProject (never a
    full sort of the corpus), no Python."""
    plan = formatted_plan(QUERIES["event_value_bottomk_quantiles"](spark, sf_correct))
    assert not uses_python(plan)
    assert "TakeOrderedAndProject" in plan


def test_pagerank_no_python_no_cartesian(spark, sf_correct):
    """PageRank: every iteration is equi-join + hash agg over
    checkpointed relations — no Python, no nested-loop/cartesian
    product in the final plan."""
    plan = formatted_plan(QUERIES["part_copurchase_pagerank"](spark, sf_correct))
    assert not uses_python(plan)
    assert "CartesianProduct" not in plan


def test_hll_overlap_no_python(spark, sf_correct):
    """HLL set algebra: register builds, merge and folds are relational;
    the 1-row exact side broadcasts."""
    plan = formatted_plan(QUERIES["lineitem_hll_order_overlap"](spark, sf_correct))
    assert not uses_python(plan)


def test_triangles_equi_wedges_and_semi_closure(spark, sf_correct):
    """Triangle counting: the wedge generator is an EQUI join on the
    shared center (rank compare as residual condition, never a
    cartesian product) and closure is one left-semi join."""
    plan = formatted_plan(QUERIES["part_copurchase_triangles"](spark, sf_correct))
    assert not uses_python(plan)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan  # tie-broken top-N, no full sort


def test_basket_rules_bucketed_pair_join(spark, sf_correct):
    """A-priori pair counting: within-basket equi self-join on the order
    key; the only nested-loop is the 1-row basket-total broadcast."""
    plan = formatted_plan(QUERIES["part_basket_rules"](spark, sf_correct))
    assert not uses_python(plan)
    assert "CartesianProduct" not in plan
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert "TakeOrderedAndProject" in plan


def test_transitions_corpus_window_runs_once(spark, sf_correct):
    """Markov transitions: the corpus lead() window executes ONCE and
    the row normalizer is a window over the types²-sized count table —
    exactly 2 Window nodes total (a groupBy+join normalizer would give
    the corpus window two consumers and re-run it: the no-subtree-reuse
    trap, regression-pinned here)."""
    plan = formatted_plan(QUERIES["user_event_transitions"](spark, sf_correct))
    assert not uses_python(plan)
    assert n_nodes(plan, "Window") == 2
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_hhi_broadcasts_dims(spark, sf_correct):
    """HHI: supplier and nation dims broadcast; the fact side only
    probes."""
    plan = formatted_plan(QUERIES["nation_supplier_hhi"](spark, sf_correct))
    assert not uses_python(plan)
    assert n_nodes(plan, "BroadcastHashJoin") >= 2


def test_mad_outliers_broadcasts_group_tables(spark, sf_correct):
    """MAD outliers: the group-sized median/MAD tables broadcast back
    onto the value stream (hinted, not AQE-dependent)."""
    plan = formatted_plan(QUERIES["event_value_outliers"](spark, sf_correct))
    assert not uses_python(plan)
    assert n_nodes(plan, "BroadcastHashJoin") >= 2


def test_kmv_sketch_is_takeordered_not_full_sort(spark, sf_correct):
    """KMV sketch build: the bottom-k is TakeOrderedAndProject
    (per-partition top-k + tiny merge), never a full corpus sort. The
    overlap REPORT's sketches hide behind localCheckpoint boundaries,
    so assert on the sketch operator itself."""
    from gdutils_spark.operators.sketches import kmv_sketch

    df = load_table(spark, sf_correct, "lineitem")
    plan = formatted_plan(kmv_sketch(df, "l_partkey", 256))
    assert not uses_python(plan)
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "Sort") == 0


def test_knn_same_label_is_attribute_keyed_broadcast_join(spark, sf_correct):
    """Filtered kNN's scale property: the filter lives in candidate
    generation — a broadcast hash join KEYED on the attribute (each
    corpus row scored only against queries that can accept it), never a
    cross join of the whole corpus against every query."""
    plan = formatted_plan(QUERIES["emb_knn_same_label"](spark, sf_correct))
    assert has_broadcast_join(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not uses_python(plan)


def test_event_value_drift_single_corpus_scan(spark, sf_correct):
    """The drift gate reads the events corpus ONCE (grouped register
    build), then works on bin-sized relations — a per-cohort filtered
    scan would double the only corpus-sized cost. (localCheckpoint
    truncates lineage, so assert on the pre-pin grouped build.)"""
    from gdutils_spark.operators.sketches import hist_registers
    from gdutils_spark.queries_ext import (
        DRIFT_MOD,
        HIST_HI,
        HIST_LO,
        HIST_NBINS,
    )

    e = load_table(spark, sf_correct, "events")
    regs = hist_registers(
        e.withColumn("_is_a", F.col("event_id") % DRIFT_MOD == 0),
        "value", HIST_LO, HIST_HI, HIST_NBINS, group_col="_is_a",
    )
    plan = formatted_plan(regs)
    # formatted mode prints each node twice (tree line + detail block),
    # so ONE parquet scan == exactly 2 occurrences
    assert plan.count("Scan parquet") == 2
    assert not uses_python(plan)
    # and the post-pin report is bin-sized: no parquet scan at all
    report = QUERIES["event_value_drift"](spark, sf_correct)
    assert "Scan parquet" not in formatted_plan(report)


def test_fk_audit_scans_are_key_pruned(spark, sf_correct):
    """Every child scan in the FK audit reads ONLY its key column — a
    scan dragging payload columns would multiply the dominant cost at
    corpus scale (three of the seven edges scan lineitem)."""
    plan = formatted_plan(QUERIES["fk_integrity_audit"](spark, sf_correct))
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        assert len(cols) == 1, f"unpruned audit scan: {m.group(1)}"
    assert not uses_python(plan)


def test_dhash_pairs_decode_once(spark):
    """Both self-join sides of the banded candidate join must read the
    SAME cached hash table — without the persist, the mapInPandas PNG
    decode upstream would execute once per side."""
    from gdutils_spark.operators.multimodal import dhash_near_dup_pairs

    hashes = spark.createDataFrame(
        [(1, 9, 8, 1, 2, 3, 4), (2, 9, 8, 1, 2, 3, 5)],
        "media_id long, width int, height int, b0 int, b1 int, b2 int, b3 int",
    )
    out = dhash_near_dup_pairs(hashes, max_hamming=16)
    # the candidate join ran eagerly at the checkpoint; the returned plan
    # is the lazy popcount verify over it — no Python, no re-decode
    plan = formatted_plan(out)
    assert "Scan ExistingRDD" in plan
    assert not uses_python(plan)


def test_fuzzy_join_plans_no_cartesian(spark, sf_correct):
    """The blocked fuzzy join must candidate-generate via the token
    equi-join — a CartesianProduct / BroadcastNestedLoopJoin means the
    blocking collapsed and the plan is the A x B blow-up."""
    plan = formatted_plan(
        QUERIES["customer_supplier_name_match"](spark, sf_correct)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not uses_python(plan)


def test_snapshot_diff_is_one_full_outer_join(spark, sf_correct):
    """snapshot_diff's whole data movement is ONE full-outer key join
    plus a projection — a second join or window would double the
    movement at 100 TB."""
    plan = formatted_plan(QUERIES["orders_snapshot_diff"](spark, sf_correct))
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin FullOuter", "ShuffledHashJoin FullOuter")
    )
    assert n_joins == 1, plan
    assert "Window" not in plan
    assert not uses_python(plan)


def test_edge_jaccard_no_cartesian_and_no_python(spark, sf_correct):
    plan = formatted_plan(
        QUERIES["part_copurchase_edge_jaccard"](spark, sf_correct)
    )
    assert "CartesianProduct" not in plan
    assert not uses_python(plan)
    # final cut is TakeOrderedAndProject, never a global window sort
    assert "TakeOrderedAndProject" in plan


def test_winsorized_broadcasts_percentiles(spark, sf_correct):
    """The group-percentile table is group-cardinality-sized and must
    broadcast back onto the fact scan — a shuffle join would move the
    corpus twice."""
    df = QUERIES["event_value_winsorized"](spark, sf_correct)
    assert has_broadcast_join(df)
    assert not uses_python(formatted_plan(df))


def test_edit_pairs_no_cartesian_count_filter_no_python(spark, sf_correct):
    """doc_prefix_edit_pairs must candidate-generate via the positional
    gram equi-join — a CartesianProduct means the blocking collapsed
    into the A x B blow-up the operator exists to avoid."""
    plan = formatted_plan(QUERIES["doc_prefix_edit_pairs"](spark, sf_correct))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not uses_python(plan)
    # exact verify stays JVM-side
    assert "levenshtein" in plan
    # the verify must run on the COUNT-FILTERED candidates, never below
    # the pair aggregate: every levenshtein in the plan must sit inside
    # the __cnt-conditioned barrier expression (measured 872 s vs 25 s at
    # sf0.1 when Catalyst pushed a bare levenshtein filter below the agg)
    for line in plan.splitlines():
        if "levenshtein" in line:
            assert "__cnt" in line, f"unbarriered levenshtein: {line.strip()}"


def test_value_trend_is_two_aggregates_no_window(spark, sf_correct):
    """event_type_value_trend = daily rollup + ONE fit aggregate: no
    window, no join, no iteration — the whole regression is two keyed
    aggregates."""
    plan = formatted_plan(QUERIES["event_type_value_trend"](spark, sf_correct))
    assert "Window" not in plan
    assert plan.count("SortMergeJoin") == 0 and plan.count("ShuffledHashJoin") == 0
    assert not uses_python(plan)


def test_cube_is_one_expand_one_aggregate(spark, sf_correct):
    """order_totals_cube: a single Expand feeding one aggregate — four
    separate GROUP BYs would scan the fact table four times."""
    df = QUERIES["order_totals_cube"](spark, sf_correct)
    plan = formatted_plan(df)
    assert n_nodes(plan, "Expand") == 1, plan
    assert not uses_python(plan)


def test_corpus_pipeline_scan_contract(spark, sf_correct):
    """VERDICT r12 task 7: the end-to-end composition must not re-scan
    the corpus beyond its documented contract — TWO pruned scans (one
    per leaf consumer chain: the loser-set derivation and the main
    output; exact dedup is a single fp-keyed min_by aggregate with no
    keeper join-back, and the quality gate is an INLINE filter on the
    text_stats projection, not a corpus-vs-corpus join; loser/rate
    sides broadcast), zero sort-merge joins, no Python."""
    import re

    df = QUERIES["doc_corpus_pipeline"](spark, sf_correct)
    assert not uses_python(df)
    plan = formatted_plan(df)
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert len(schemas) <= 2, f"corpus re-scanned: {len(schemas)} scans"
    # every scan is column-pruned: nothing reads more than the pipeline
    # columns (doc_id/text/source/n_chars)
    for s in schemas:
        assert "lang" not in s
    assert "SortMergeJoin" not in plan
    assert has_broadcast_join(plan)


def test_between_linkage_corpus_stays_broadcast_shaped(spark, sf_correct):
    """The incremental linkage tier's scale claim, plan-pinned: the
    batch side BROADCASTS into candidate generation and the corpus is
    consumed map-side — no sort-merge join anywhere, and the corpus
    gram/token explode feeds broadcast/semi joins rather than being
    exchange-partitioned for a shuffle join. Since r14 the claim is
    also audited structurally: zero shuffle Exchange reaches the
    corpus-side scan (supplier / documents) without a broadcast join in
    between (plans.unbarriered_shuffle_sources, the staged-ingest
    audit)."""
    import re

    from gdutils_spark.plans import unbarriered_shuffle_sources

    def supplier_scan(nm, detail, filts):
        # the fuzzy corpus is the WHOLE supplier table
        return "supplier.parquet" in detail

    def corpus_doc_scan(nm, detail, filts):
        # the edit corpus is the % split's complement (documents also
        # feeds the batch side — only NOT-% scans are corpus-scale)
        return "documents.parquet" in detail and any(
            re.search(r"NOT \(\(doc_id#\d+L? % \d+\) = 0\)", f)
            for f in filts
        )

    corpus_preds = {
        "customer_supplier_match_between": supplier_scan,
        "doc_prefix_edit_pairs_between": corpus_doc_scan,
    }
    for name, pred in corpus_preds.items():
        df = QUERIES[name](spark, sf_correct)
        assert not uses_python(df)
        plan = formatted_plan(df)
        assert has_broadcast_join(plan), name
        assert "SortMergeJoin" not in plan, name
        assert unbarriered_shuffle_sources(plan, pred) == [], name


def test_ingest_pipeline_broadcast_shaped(spark, sf_correct):
    """The nightly-admission composition stays batch-broadcast shaped:
    no sort-merge join, no Python — the corpus is consumed by scans +
    broadcast-probe joins only."""
    df = QUERIES["doc_ingest_pipeline"](spark, sf_correct)
    assert not uses_python(df)
    plan = formatted_plan(df)
    assert has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


@pytest.mark.usefixtures("above_one_partition_bound")
def test_ingest_pipeline_staged_zero_corpus_exchange(spark, sf_smoke, tmp_path):
    """VERDICT r13 task 2, plan-pinned: against staged artifacts the
    nightly admission plan has ZERO corpus-wide Exchange — every shuffle
    either touches no corpus-side documents scan at all, or sits above a
    broadcast (semi-)join that restricted the corpus to a bounded row
    set first. The fingerprint probe partition-prunes on the
    bloom-positive prefixes, and the fresh fallback (sanity leg) is
    confirmed to contain the corpus-wide shuffles staging removes."""
    import re

    from gdutils_spark.plans import unbarriered_shuffle_sources
    from gdutils_spark.queries_ext import (
        doc_ingest_pipeline,
        stage_ingest_corpus,
    )

    d = str(tmp_path / "stage")
    stage_ingest_corpus(spark, sf_smoke, d)

    def corpus_doc_scan(name, detail, filts):
        # a documents.parquet scan on the CORPUS side of the % split
        if "documents.parquet" not in detail:
            return False
        return any(
            re.search(r"NOT \(\(\w+#\d+L? % 10\) = 0\)", f) for f in filts
        )

    staged = doc_ingest_pipeline(spark, sf_smoke, stage_dir=d)
    plan = formatted_plan(staged)
    assert unbarriered_shuffle_sources(plan, corpus_doc_scan) == []
    assert "PartitionFilters: [fp_pfx" in plan
    assert "SortMergeJoin" not in plan
    assert has_broadcast_join(plan)
    assert not uses_python(plan)
    # sanity: the audit actually detects corpus-wide shuffles — the
    # fresh fallback has them (fp distinct + signature min-aggregate)
    fresh_plan = formatted_plan(doc_ingest_pipeline(spark, sf_smoke))
    assert len(unbarriered_shuffle_sources(fresh_plan, corpus_doc_scan)) >= 2


def test_unicode_census_trio_single_aggregate_no_python(spark, sf_correct):
    """The r14 unicode-curation trio stays codegen: the codepoint-class
    census is the length-difference idiom (no explode, no Python, no
    join) — ONE pruned scan into one keyed aggregate."""
    import re

    for name in ("doc_script_mix", "doc_unicode_hygiene",
                 "event_props_typed_read"):
        df = QUERIES[name](spark, sf_correct)
        plan = formatted_plan(df)
        assert not uses_python(plan), name
        assert "Join" not in plan, name
        assert "Generate" not in plan, name  # no explode
        assert len(re.findall(r"ReadSchema: ", plan)) == 1, name
