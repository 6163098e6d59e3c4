"""Driver-window ordering: the driver records CORRECTNESS rows for the
FIRST 50 entries of __spark_entry__.queries() only (observed in r2), so the
round's verification targets must occupy exactly those positions.

Since round 6 the head is COMPUTED from the committed CORRECTNESS_r*.json
artifacts (registry.compute_verify_head). EXPECTED_HEAD pins the tuple
the committed artifacts produce; when a new CORRECTNESS_r*.json lands
the pin goes stale and this test fails — the next round's first task is
then reviewing the freshly computed rotation and re-pinning it here. Any commit that changes the computed head (a new
CORRECTNESS artifact OR a registry change) must carry the matching re-pin
in the SAME commit so the gate never goes red between commits.
"""

from __future__ import annotations

import __spark_entry__ as entry
from meos_rs_spark.registry import (
    DRIVER_WINDOW,
    compute_verify_head,
    load_registry,
    verify_order_head,
)

# Rotation computed from CORRECTNESS_r01..r17: zero reds, zero
# never-checked, one forced (stream_stateful_evicting: its eviction timing
# changed), then pure oldest-green rotation — the 6 remaining r12 greens,
# the 2 r13 greens, and the oldest 41 of the r14 block up to the 50-row
# window.
EXPECTED_HEAD = (
    "stream_stateful_evicting",
    "src_csv_malformed",
    "src_binaryfile_ingest",
    "text_token_count",
    "rel_join_asof",
    "rel_unpivot",
    "rel_join_asof_nearest",
    "src_csv_roundtrip",
    "text_decontaminate",
    "box_tbox_algebra",
    "dedup_components",
    "flagship_trip_pipeline",
    "serde_hexwkb",
    "traj_merge",
    "traj_equality",
    "traj_sample",
    "traj_ever_always",
    "traj_arith",
    "traj_sessionize",
    "traj_simplify_dp",
    "traj_spanset_coverage",
    "traj_transform_utm",
    "traj_transform_lcc",
    "traj_transform_utm_roundtrip",
    "traj_tbool_duration",
    "traj_tcount_sweep",
    "traj_twavg",
    "traj_at_value",
    "traj_tmax_sweep",
    "serde_wkt_malformed",
    "snk_jsonl_trips",
    "snk_upsert_merge",
    "snk_jdbc_upsert",
    "text_fingerprint",
    "rel_join_semi",
    "rel_join_anti",
    "rel_join_range",
    "rel_join_band_bucketed",
    "rel_join_multiway",
    "rel_distinct",
    "rel_count_distinct",
    "rel_rollup",
    "rel_cube",
    "rel_topk_orders",
    "rel_set_ops",
    "rel_global_metrics",
    "rel_filter_agg",
    "rel_correlated_subquery",
    "rel_salted_agg",
    "rel_disjunctive_join",
)


def test_head_is_exactly_the_driver_window():
    head = verify_order_head()
    assert len(head) == DRIVER_WINDOW == 50
    assert len(set(head)) == 50
    names = list(entry.queries())
    assert tuple(names[:50]) == head


def test_computed_head_matches_the_pin():
    # Stale-pin alarm: fails as soon as a new CORRECTNESS artifact lands,
    # forcing the next round to review + re-pin the rotation.
    assert verify_order_head() == EXPECTED_HEAD


def test_head_priority_rule():
    """Never-checked before green, and unforced greens oldest-round-first."""
    from meos_rs_spark.registry import FORCE_VERIFY, _correctness_history

    names = list(load_registry())
    latest = _correctness_history()
    head = compute_verify_head(names)
    # every never-checked query is in the head (backlog fits the window)
    never = [n for n in names if n not in latest]
    assert len(never) <= 50
    assert set(never) <= set(head)
    # every forced (changed-this-round) green is in the head too
    assert {n for n in FORCE_VERIFY if n in latest} <= set(head)
    # unforced greens in the head appear oldest round first...
    green_rounds = [
        latest[n][0] for n in head if n in latest and n not in FORCE_VERIFY
    ]
    assert green_rounds == sorted(green_rounds)
    # ...and none is newer than any green left out of the window
    left_out = [latest[n][0] for n in names if n in latest and n not in set(head)]
    if green_rounds and left_out:
        assert max(green_rounds) <= min(left_out)


def test_ordering_preserves_the_full_registry():
    names = list(entry.queries())
    assert set(names) == set(load_registry())
    assert len(names) == len(set(names))
    # every oracle key is a registered query
    assert set(entry.oracle_sql()) <= set(names)
