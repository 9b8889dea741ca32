"""Hex-grid analytics: compaction round-trips against the scalar
kernel."""

from __future__ import annotations

import pytest

from h3_indexer_spark.functions.h3 import core
from h3_indexer_spark.functions.h3.coverage import polyfill
from h3_indexer_spark.operators.hexops import (
    compact_cells_df,
    uncompact_cells_df,
)


@pytest.fixture(scope="module")
def spark():
    from h3_indexer_spark.session import get_spark_session

    s = get_spark_session(
        app_name="test_hexops", master="local[4]", shuffle_partitions=4
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _ref_compact(cells: set[int]) -> set[int]:
    """Naive scalar compaction: repeatedly collapse complete families."""
    cur = set(cells)
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, set[int]] = {}
        for h in cur:
            r = core.get_resolution(h)
            if r == 0:
                continue
            by_parent.setdefault(core.cell_to_parent(h, r - 1), set()).add(h)
        for p, kids in by_parent.items():
            expected = set(
                core.cell_to_children(p, core.get_resolution(p) + 1)
            )
            if kids == expected:
                cur -= kids
                cur.add(p)
                changed = True
    return cur


def _covering(res: int) -> list[str]:
    ring = [
        (-100.0, 40.0), (-99.2, 40.0), (-99.2, 40.7),
        (-100.0, 40.7), (-100.0, 40.0),
    ]
    return [core.h3_to_string(h) for h in polyfill(ring, res)]


class TestCompact:
    def test_matches_scalar_reference_and_roundtrips(self, spark):
        cover = _covering(6)
        assert len(cover) > 100
        df = spark.createDataFrame(
            [(c,) for c in cover], "h3_index string"
        )
        got = {
            r.h3_index for r in compact_cells_df(df).collect()
        }
        want = {
            core.h3_to_string(h)
            for h in _ref_compact({core.string_to_h3(c) for c in cover})
        }
        assert got == want
        # real compaction happened (interior collapsed to coarser cells)
        assert len(got) < len(cover)
        ress = {core.get_resolution(core.string_to_h3(c)) for c in got}
        assert min(ress) < 6
        # exact-coverage round trip
        back = {
            r.h3_index
            for r in uncompact_cells_df(
                spark.createDataFrame([(c,) for c in got], "h3_index string"),
                6,
            ).collect()
        }
        assert back == set(cover)

    def test_incomplete_family_untouched(self, spark):
        parent = core.string_to_h3(_covering(5)[0])
        kids = core.cell_to_children(parent, 6)[:-1]  # drop one child
        df = spark.createDataFrame(
            [(core.h3_to_string(k),) for k in kids], "h3_index string"
        )
        got = {r.h3_index for r in compact_cells_df(df).collect()}
        assert got == {core.h3_to_string(k) for k in kids}
