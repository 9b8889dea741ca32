"""End-to-end CLI surface: --run-all over the geo fixtures, plus the
round-5 flags — --zorder (clustered resolved layout) and
--expectations (quality-gated write)."""

from __future__ import annotations

import glob
import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from h3_indexer_spark.cli import run
from tests.geo_fixtures import ensure_fixtures


@pytest.fixture(scope="module")
def fixture_dir():
    return ensure_fixtures()


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="h3idx_cli_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def cli_spark(spark):
    """The shared session, with the shuffle width restored after the
    test: ``run`` rebuilds the session for the job's resolution, which
    sets the res-keyed width on the session every later test uses."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", width)


def _cfg(fixture_dir, out_dir, path=None) -> str:
    return json.dumps(
        {
            "name": "cli-e2e",
            "version": "1.0.0",
            "h3_resolution": 6,
            "output_path": out_dir,
            "inputs": {
                "pts": {
                    "type": "vector",
                    "path": path
                    or str(fixture_dir / "geo_points_latlon.parquet"),
                    "unique_id": "pixel_id",
                    "geometry_type": "POINT",
                    "method": "WITHIN",
                    "lat_column_name": "latitude",
                    "lon_column_name": "longitude",
                    "input_columns": ["population", "reading"],
                },
            },
        }
    )


def _write_rules(rules) -> str:
    f = tempfile.NamedTemporaryFile(
        mode="w", suffix=".json", delete=False, prefix="h3idx_rules_"
    )
    json.dump(rules, f)
    f.close()
    return f.name


class TestCliRunAll:
    def test_partitioned_outputs_appear(self, cli_spark, fixture_dir, out_dir):
        rc = run(["--json-input", _cfg(fixture_dir, out_dir), "--run-all"])
        assert rc == 0
        assert glob.glob(
            f"{out_dir}/indexed/pts/h3_resolution=*/h3_r3_parent=*/*.parquet"
        )
        assert glob.glob(
            f"{out_dir}/resolved/h3_resolution=*/h3_r3_parent=*/*.parquet"
        )


class TestCliEmptyInput:
    def test_expectations_pass_on_empty_output(
        self, cli_spark, fixture_dir, out_dir
    ):
        """An input with no rows resolves to an empty table; the gate
        must pass it (0 violations) and the resolved output must be
        written, not withheld with exit 3."""
        import pandas as pd

        src = f"{out_dir}/empty_points.parquet"
        pd.read_parquet(fixture_dir / "geo_points_latlon.parquet").iloc[
            :0
        ].to_parquet(src)
        rules = _write_rules(
            [
                {"rule": "not_null", "column": "h3_index"},
                {"rule": "unique", "columns": ["h3_index"]},
                {"rule": "range", "column": "sum_population", "min": 0.0},
                {"rule": "in_set", "column": "h3_resolution",
                 "allowed": [6]},
            ]
        )
        rc = run(
            [
                "--json-input",
                _cfg(fixture_dir, f"{out_dir}/job", path=src),
                "--run-all",
                "--expectations",
                rules,
            ]
        )
        assert rc == 0
        report = cli_spark.read.parquet(
            f"{out_dir}/job/expectations_report"
        ).collect()
        assert len(report) == 4
        assert all(r.passed and r.n_violations == 0 for r in report)
        assert glob.glob(f"{out_dir}/job/resolved/_SUCCESS")


class TestCliFlagValidation:
    def test_gate_flags_rejected_with_partial_modes(self, fixture_dir, out_dir):
        cfg = _cfg(fixture_dir, out_dir)
        for mode in ("--validate-only", "--index-only"):
            with pytest.raises(SystemExit):
                run(["--json-input", cfg, mode, "--expectations", "x.json"])
            with pytest.raises(SystemExit):
                run(["--json-input", cfg, mode, "--zorder", "a"])


class TestCliZorderExpectations:
    @pytest.mark.slow
    def test_gated_zordered_output(self, spark, fixture_dir, out_dir):
        """Passing gate + z-order: report written, resolved output is
        the clustered (non-hive-partitioned) layout, and per-file
        sum_population min/max ranges are tighter than the global
        range (the data-skipping property z-ordering buys)."""
        rules = _write_rules(
            [
                {"rule": "not_null", "column": "h3_index"},
                {"rule": "unique", "columns": ["h3_index"]},
                {
                    "rule": "range",
                    "column": "sum_population",
                    "min": 0.0,
                },
            ]
        )
        rc = run(
            [
                "--json-input",
                _cfg(fixture_dir, out_dir),
                "--run-all",
                "--zorder",
                "sum_population,sum_reading",
                "--expectations",
                rules,
            ]
        )
        assert rc == 0
        report = spark.read.parquet(f"{out_dir}/expectations_report")
        assert report.count() == 3
        assert all(r.passed for r in report.collect())
        files = glob.glob(f"{out_dir}/resolved/*.parquet")
        assert files, "z-ordered resolved output missing"
        # clustered, not hive-partitioned
        assert not glob.glob(f"{out_dir}/resolved/h3_resolution=*")
        resolved = spark.read.parquet(f"{out_dir}/resolved")
        import pyarrow.parquet as pq

        stats = []
        for f_ in files:
            md = pq.ParquetFile(f_).metadata
            cols = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            i = cols["sum_population"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st and st.has_min_max:
                    stats.append((st.min, st.max))
        glb = resolved.agg(
            F.min("sum_population"), F.max("sum_population")
        ).collect()[0]
        width = glb[1] - glb[0]
        assert stats
        if len(stats) > 1:
            avg_span = sum(mx - mn for mn, mx in stats) / len(stats)
            assert avg_span < width, (avg_span, width)

    @pytest.mark.slow
    def test_failing_gate_blocks_write(self, spark, fixture_dir, out_dir):
        rules = _write_rules(
            [
                # impossible bound -> every row violates
                {
                    "rule": "range",
                    "column": "sum_population",
                    "max": -1.0,
                },
            ]
        )
        rc = run(
            [
                "--json-input",
                _cfg(fixture_dir, out_dir),
                "--run-all",
                "--expectations",
                rules,
            ]
        )
        assert rc == 3
        # report written, resolved output withheld
        report = spark.read.parquet(f"{out_dir}/expectations_report")
        assert not report.collect()[0].passed
        assert not glob.glob(f"{out_dir}/resolved")
