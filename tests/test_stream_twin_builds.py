"""Fast-lane build pins for every streaming twin.

The end-to-end replays in ``test_streaming.py`` are in the slow lane, so
without these pins a twin whose plan no longer analyzes (a renamed column,
a schema string that no longer parses, a reader that drifted) would pass
the default run.  Building a twin plans it without starting a query:
construction is cheap and catches every analysis-time error.
"""

from __future__ import annotations

import inspect

import pytest

import googlecloudstorage_blueprints_spark.streaming as streaming
from googlecloudstorage_blueprints_spark.fileops.cli import _stream_twins

_PLAIN = ["spark", "sf_dir"]
_FEED = ["spark", "sf_dir", "glob", "max_files_per_trigger"]
_JOIN = [
    "spark", "sf_dir", "orders_dir", "lineitem_dir", "orders_glob",
    "lineitem_glob", "window_days",
]

# The public twin surface: the CLI's `stream` verb, perfbench and the
# tests call these by name and keyword, so a parameter rename or removal
# is a breaking change.
SIGNATURES = {
    "streaming_active_streaks": _FEED,
    "streaming_anomaly": _PLAIN,
    "streaming_cohort_retention": _FEED,
    "streaming_contamination": _PLAIN,
    "streaming_cooccurrence": _FEED,
    "streaming_daily_uniques_hll": _FEED,
    "streaming_dau_wau": _FEED,
    "streaming_dedup": _PLAIN,
    "streaming_enriched": _PLAIN,
    "streaming_first_ship_sla": _FEED + ["orders_dir"],
    "streaming_first_touch": _FEED,
    "streaming_funnel_attribution": _FEED,
    "streaming_funnel_delays": _FEED,
    "streaming_gapfill": _FEED + ["evict_horizon_us"],
    "streaming_growth_accounting": _FEED,
    "streaming_hourly_load_percentiles": _FEED,
    "streaming_intersession_gaps": _FEED,
    "streaming_latest_snapshot": _FEED,
    "streaming_lsh_candidates": _FEED,
    "streaming_order_close": _FEED,
    "streaming_pair_latency": _FEED,
    "streaming_quality_filter": _PLAIN,
    "streaming_scd2_intervals": _FEED,
    "streaming_sequence_pack": _FEED,
    "streaming_session_depth": _FEED,
    "streaming_session_entries": _FEED,
    "streaming_session_path_trigrams": _FEED,
    "streaming_session_starts": _FEED,
    "streaming_session_window": _PLAIN,
    "streaming_ship_latency_join": _JOIN
    + ["watermark", "max_files_per_trigger"],
    "streaming_ship_latency_windows": _JOIN
    + ["agg_window", "watermark", "max_files_per_trigger"],
    "streaming_sliding_agg": _PLAIN,
    "streaming_stateful_sessions": _FEED,
    "streaming_table_digest": [
        "spark", "sf_dir", "table", "glob", "max_files_per_trigger",
    ],
    "streaming_topk_words": _FEED,
    "streaming_transition_matrix": _FEED,
    "streaming_tumbling_agg": _PLAIN,
    "streaming_weekly_conversion": _FEED,
}


@pytest.mark.parametrize("name", sorted(_stream_twins()))
def test_twin_builds_as_stream_without_starting(spark, sf_dir, name):
    df = _stream_twins()[name](spark, sf_dir)
    assert df.isStreaming, name
    assert not spark.streams.active, name


def test_twin_signatures_unchanged():
    exported = {n for n in streaming.__all__ if n.startswith("streaming_")}
    assert exported == set(SIGNATURES)
    for name, params in SIGNATURES.items():
        got = list(inspect.signature(getattr(streaming, name)).parameters)
        assert got == params, name
