"""bench.py's scratch-directory helper, exercised on plain files."""

from __future__ import annotations

import os
from pathlib import Path

import bench


def _testdata(root: Path, name: str, mtime: int) -> str:
    sf_dir = root / "data" / name
    sf_dir.mkdir(parents=True, exist_ok=True)
    lineitem = sf_dir / "lineitem.parquet"
    lineitem.touch()
    os.utime(lineitem, (mtime, mtime))
    return str(sf_dir)


class TestLayoutScratch:
    def test_new_stamp_removes_stale_copies_of_same_sf(self, tmp_path):
        scratch_root = tmp_path / "tmp"
        scratch_root.mkdir()
        for name in (
            "h3idx_bench_sf0.1_100",
            "h3idx_bench_sf0.1_200",
            "h3idx_bench_sf0.01_100",  # another scale factor
            "h3idx_bench_sf0.1_keep",  # not a stamp
        ):
            (scratch_root / name / "orders.parquet").mkdir(parents=True)
        sf_dir = _testdata(tmp_path, "sf0.1", 300)

        got = bench._layout_scratch(sf_dir, str(scratch_root))

        assert got == str(scratch_root / "h3idx_bench_sf0.1_300")
        assert sorted(p.name for p in scratch_root.iterdir()) == [
            "h3idx_bench_sf0.01_100",
            "h3idx_bench_sf0.1_keep",
        ]

    def test_current_stamp_is_reused(self, tmp_path):
        scratch_root = tmp_path / "tmp"
        current = scratch_root / "h3idx_bench_sf0.1_300"
        (current / "orders.parquet").mkdir(parents=True)
        sf_dir = _testdata(tmp_path, "sf0.1", 300)

        assert bench._layout_scratch(sf_dir, str(scratch_root)) == str(current)
        assert (current / "orders.parquet").is_dir()
