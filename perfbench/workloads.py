"""The benchmark's workloads: which fixture each one reads and which
registered queries it runs, in order."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the synthesized fixture
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # sf0.1 batch: cost is fixed per-query overhead (jobs, stages,
        # Python-worker round trips). One query per batch family:
        # flagship_trip_pipeline carries the trajectory assembly,
        # dedup_minhash_lsh goes through the staging layer,
        # mm_jpeg_features is the core-bound Arrow kernel,
        # box_stbox_overlap_join is the box join and sim_ann_ivf the
        # quantizer side table. traj_tmax_sweep (7-9 s) and
        # box_stbox_overlap_banded (19-21 s) are left out: they would add a
        # third and almost a whole pass to a ~22 s pass.
        Workload(
            "batch_sf01",
            0.1,
            (
                "flagship_trip_pipeline",
                "traj_speed_segments",
                "box_stbox_overlap_join",
                "rel_pricing_summary",
                "win_rolling_frame",
                "dedup_minhash_lsh",
                "sim_ann_ivf",
                "text_quality",
                "mm_jpeg_features",
            ),
        ),
        # sf0.1 write side: checkpoint commits, the state store and a
        # partitioned file sink; staging does nothing here
        Workload(
            "stream_sink_sf01",
            0.1,
            (
                "stream_stateful_evicting",
                "snk_partitioned_write",
            ),
        ),
    )
}
