"""Regenerate PLANS.md: formatted physical plans of headline queries.

Evidence artifact for plan-shape claims in SCALE.md — broadcast joins where
dims are small, single-shuffle aggregates, pushed filters, pruned schemas.
Run from the repo root: ``python tools/dump_plans.py``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

HEADLINERS = [
    ("q5_region_revenue", "star join: every dim broadcasts, fact shuffles once"),
    ("q1_pricing_summary", "scan-heavy multi-agg: pushed filter + pruned schema"),
    ("calendar_ymd_events", "calendar pivot: ONE conditional hash aggregate"),
    ("event_sessions", "sessionization: one shuffle serves two windows + agg"),
    ("order_last_event_asof", "as-of join: union + carry-forward window, no pair explosion"),
    ("q19_disjunctive_revenue", "OR-of-ANDs as broadcast-join residual, no nested loop"),
    ("doc_stratified_sample", "hash-threshold sampling: pure map, zero exchanges"),
    ("q18_large_orders", "HAVING + join-back: one fact shuffle, broadcast re-join"),
    ("doc_minhash_lsh_pairs", "LSH verify: broadcast semi-filter keeps corpus shingles unshuffled"),
    ("user_first_week_events", "fact-derived window: one exchange, no join, nothing broadcast"),
    ("emb_lsh_near_dup_pairs", "banded sign-LSH: bucket equi-join candidates, candidate-bounded exact verify, no driver collect"),
    ("doc_chunks", "sliding-window chunking: map-side explode, zero exchanges"),
    ("doc_tfidf_terms", "tf-idf: explode + two hash aggs + term join + per-doc window"),
    ("emb_quantize", "scalar quantization: pure codegen map, zero exchanges"),
    ("q2_min_balance_supplier", "correlated min over derived catalog: one distinct-pair agg + broadcast dims + window, no fact self-join"),
    ("q8_market_share", "market share: 7 broadcast dim joins, conditional-sum share in ONE final agg"),
    ("doc_repetition_signals", "repetition signals: map-side gram explode, two combinable aggs, no joins"),
    ("doc_shard_stats", "hash-shard export stats: pure-map shard + one combinable agg"),
    ("emb_semantic_dedup", "SemDeDup: Arrow assign pass, within-cluster self-join shuffled on centroid only"),
    ("q21_waiting_suppliers", "sole-late-supplier: per-order distinct agg replaces EXISTS/NOT-EXISTS self-joins"),
    ("doc_bm25_search", "BM25: codegen'd tf columns, 1-row stats broadcast, TakeOrdered top-k"),
    ("doc_domain_mix_sample", "domain mixing: stratum agg + 1-row total + broadcast rates, corpus rows never shuffle"),
    ("doc_dedup_keep_best", "keep-best survivorship: edge-sized max_by winners broadcast onto the scan"),
    ("user_funnel", "ordered funnel: pushed step filter, one user-key shuffle, Catalyst fold — no self-joins"),
    ("user_cohort_retention", "cohort retention: map-side distinct (user, week), join-free, cohort-sized tail"),
    ("doc_vocab_stats", "vocab profile: token-level then lang-level combinable hash aggs"),
    ("doc_hybrid_search", "RRF hybrid retrieval: BM25 + vector rankings fused by a k-row full-outer join"),
    ("emb_ivf_recall_curve", "IVF probe sweep: ONE assignment MapInPandas serves every arm"),
    ("doc_containment_pairs", "containment pairs: same shingle self-join plan as Jaccard, different score"),
    ("doc_segment_dedup", "segment boilerplate dedup: map-side segmenting, anti-join on HAVING-bounded inventory, sorted-collect reassembly — no window"),
    ("doc_token_rarity", "token rarity: tf agg → vocab-sized freq agg → token join → per-doc rollup, all combinable"),
    ("doc_hll_tokens", "HLL sketch: register max-agg (mergeable state), group-sized ordered fold, no corpus-scale shuffle"),
    ("emb_ivf_cluster_quality", "IVF cell health: Arrow assign pass + ONE centroid-keyed agg with ordered-fold mean"),
    ("doc_leakage_safe_split", "leakage-safe split: edge-sized components broadcast onto the scan, corpus never shuffles"),
    ("doc_temperature_mix", "temperature mix: one stratum agg + 1-row fold broadcast back, rows never shuffle"),
    ("emb_pq_codes", "product quantization: one Arrow map with the codebook broadcast + map-side explode, no shuffle"),
    ("rt_jsonl_shards", "JSONL shard export read-back: md5 shard rule, partition-pruned JSONL scan, one agg"),
    ("emb_knn_ivfpq", "IVF-PQ search: broadcast probe + ADC tables over the codes scan, one (query,neighbor) agg — no corpus hash side"),
    ("doc_cms_token_freq", "count-min sketch: codegen affine hash rows, combinable register agg, broadcast probe lookup"),
    ("orders_cdc_upsert", "MERGE INTO: latest-change window, anti join + union — one key shuffle of the snapshot"),
    ("user_event_type_scd2", "SCD2 history: lag change-points + lead interval close share ONE (key, ts) sort"),
    ("event_type_daily_zscore", "volume anomalies: daily agg + types-sized stats broadcast back, exact-integer z-scores"),
    ("emb_knn_same_label", "filtered kNN: attribute-KEYED broadcast hash join (never a cross join), window top-k"),
    ("event_value_drift", "drift gate: ONE grouped register scan, bin-sized full-outer join, ordered folds"),
    ("part_copurchase_triangles_incremental", "incremental triangles: delta-anchored wedge joins over the shared oriented table, linear re-orientation"),
    ("user_value_grid_interp", "resample+interpolate: obs+grid union, one entity-key exchange, two incremental running-frame Windows (no O(n^2) following-frame), no join"),
    ("fk_integrity_audit", "FK audit: key-projected child scans, AQE-planned distinct-parent joins, 7 independent branches"),
    ("mm_image_near_dup", "dHash near-dup: decode-once cached hash table, (band, value) equi-join candidates, popcount post-filter"),
    ("customer_supplier_name_match", "fuzzy entity join: token-keyed equi-join candidates (no cross join), exact full-set recount verify"),
    ("orders_snapshot_diff", "snapshot diff: ONE full-outer key join + pure projection, no window"),
    ("part_copurchase_edge_jaccard", "per-edge Jaccard: degree-ordered wedges, 3-edge explode, broadcast degree joins, TakeOrderedAndProject cut"),
    ("event_value_winsorized", "winsorized means: group-percentile table broadcast back onto the fact scan, one combinable aggregate"),
    ("doc_prefix_edit_pairs", "edit-distance join: (gram, pos-bucket) equi-key candidates, count filter, exact verify ABOVE the pair aggregate (pushdown barrier)"),
    ("customer_supplier_match_between", "incremental fuzzy join: batch tokens broadcast, corpus consumed map-side (semi by token value, semi by candidate id), candidate-bounded shuffles only"),
    ("doc_prefix_edit_pairs_between", "incremental edit join: batch grams broadcast into the (gram, bkt) probe, corpus texts scanned once column-pruned for the verify"),
    ("doc_corpus_pipeline", "end-to-end curation: min_by exact dedup -> LSH near-dup drop -> inline quality gate -> mix -> shard manifest; 2 pruned corpus scans, losers/rates broadcast, no SMJ"),
    ("doc_ingest_pipeline", "nightly admission (fresh fallback): fp anti vs corpus set -> between-minhash gate (batch signatures broadcast) -> inline quality gate -> per-source manifest; staged mode (stage_dir=) is plan-pinned zero-corpus-Exchange in test_plans.py"),
    ("doc_script_mix", "script census: length-difference codepoint classes, one pruned scan -> one aggregate, zero joins"),
    ("doc_unicode_hygiene", "unicode hygiene: same single-aggregate shape, zero-width/replacement/uni-space classes"),
    ("event_props_typed_read", "JSON typed-read audit: get_json_object + try_cast, one aggregate"),
]

SF_DIR = "/root/testdata/sf0.01"


def trim(plan: str, max_lines: int = 60) -> str:
    # keep the tree + the scan/exchange/join details, drop codegen ids
    plan = re.sub(r"\[plan_id=\d+\]", "", plan)
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    return "\n".join(lines[:max_lines] + (["..."] if len(lines) > max_lines else []))


def main() -> None:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as se
    from gdutils_spark.plans import formatted_plan

    # through the driver adapter, which applies the session policy
    queries = se.queries()

    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        "Auto-generated by `tools/dump_plans.py` at sf0.01 (plan shapes are",
        "data-size-independent apart from AQE runtime coalescing). The claims",
        "in `SCALE.md` are enforced by `tests/test_plans.py`; this file is the",
        "human-readable evidence.",
        "",
    ]
    for name, claim in HEADLINERS:
        plan = trim(formatted_plan(queries[name](spark, SF_DIR)))
        out += [f"## {name}", "", f"*{claim}*", "", "```", plan, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
