"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(ROOT))

import gen  # noqa: E402
from layers import per_layer_metrics, union_length  # noqa: E402
from run import END_TO_END  # noqa: E402
from tracer import ALL_QUERIES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bytes(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.glob("*.parquet"))}


def _rows(d: Path, table: str) -> list:
    tab = pq.read_table(d / f"{table}.parquet")
    return sorted(map(repr, tab.to_pylist()))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen.write_inputs(str(tmp_path / "a"), 0.001, 7)
    gen.write_inputs(str(tmp_path / "b"), 0.001, 7)
    a, b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert sorted(a) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert a == b


def test_other_seed_reorders_the_same_rows(tmp_path):
    gen.write_inputs(str(tmp_path / "a"), 0.01, 7)
    gen.write_inputs(str(tmp_path / "b"), 0.01, 8)
    assert _bytes(tmp_path / "a")["lineitem.parquet"] != _bytes(tmp_path / "b")["lineitem.parquet"]
    for table in gen.TABLES:
        assert _rows(tmp_path / "a", table) == _rows(tmp_path / "b", table), table


def test_tables_up_to_sf01_are_one_row_group_like_the_fixtures(tmp_path):
    gen.write_inputs(str(tmp_path), 0.01, 7)
    for table in gen.TABLES:
        assert pq.read_metadata(tmp_path / f"{table}.parquet").num_row_groups == 1, table


def test_synthesized_tables_equal_the_fixtures():
    """region..events replay the fixtures' draws value for value."""
    from tests.conftest import SF_ORACLE

    fixture = Path(SF_ORACLE)
    if not (fixture / "lineitem.parquet").exists():
        pytest.skip(f"no fixture at {fixture}")
    sf = float(fixture.name.removeprefix("sf"))
    ours = gen.synth_tables(sf)
    for table in gen.TABLES:
        theirs = pq.read_table(fixture / f"{table}.parquet")
        assert ours[table].schema.equals(theirs.schema), table
        assert ours[table].num_rows == theirs.num_rows, table
        if table not in ("documents", "embeddings"):
            assert ours[table].equals(theirs), table


def _benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_every_metric_name_is_well_formed_and_declared():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == dict(END_TO_END)
    assert layer == {name: unit for name, unit, _ in per_layer_metrics(ALL_QUERIES)}
    for name in [*e2e, *layer]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0.0


def test_smoke_run_prints_every_end_to_end_metric():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_sf01", "--seed", "1",
         "--seconds", "0", "--trace", "0", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {m: v["unit"] for m, v in result["metrics"].items()} == dict(END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not (ROOT / ".perfbench").exists()
