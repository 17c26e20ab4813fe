"""The benchmark's three workloads: which registry requests each one runs.

Each mix is a subset of the requests its family covers, sized so that one
fresh process pays set-up, a cold pass over the mix and its warm passes
inside one run (see README.md, "Sizing"). ``tables`` are the tables the mix
reads; set-up registers exactly those. Every run does the same work: one
cold pass and ``warm_passes`` warm passes, as many as fit the run's share
of the measuring budget.
"""

from __future__ import annotations

import os
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")


def files_under(root: str, since: float = 0.0) -> tuple[int, int]:
    """Bytes and files under ``root`` last modified at or after ``since``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(root):
        for fn in files:
            try:
                st = os.lstat(os.path.join(d, fn))
            except OSError:
                continue
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


class Workload(NamedTuple):
    requests: tuple[str, ...]
    tables: tuple[str, ...]
    warm_passes: int


WORKLOADS: dict[str, Workload] = {
    # the gdutils reference surface: calendars, time-series select,
    # catalog filters and exports; per-request fixed cost dominates
    "glider_requests": Workload(
        requests=(
            "calendar_ymd_events",
            "calendar_ym_orders",
            "calendar_slice_ym",
            "daily_event_stats",
            "yearly_counts",
            "rt_dataset_profiles",
            "rt_dataset_timeseries",
            "rt_canned_filters",
            "rt_plot_urls",
            "rt_json_records_typed",
        ),
        tables=("events", "orders", "customer"),
        warm_passes=4,
    ),
    # LLM-data batch operators; construction-time eager jobs dominate
    "corpus_pipeline": Workload(
        requests=(
            "part_copurchase_kcore",
            "emb_semantic_dedup",
            "doc_bm25_search",
        ),
        tables=("lineitem", "embeddings", "documents"),
        warm_passes=3,
    ),
    # the write path: availableNow streams, CDC merges and sink round-trips
    "stream_ingest": Workload(
        requests=(
            "rt_stream_dedup",
            "orders_cdc_upsert",
            "rt_jsonl_shards",
            "rt_orc_roundtrip",
            "rt_csv_sink_roundtrip",
        ),
        tables=("events", "orders", "lineitem", "documents"),
        warm_passes=3,
    ),
}
