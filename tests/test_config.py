"""Config-model validation: every rejection rule from the reference's
pydantic validators (vector.py:138-298, job.py:110-173), re-tested
against our dataclass models."""

from __future__ import annotations

import os

import pytest

from h3_indexer_spark.config.job import Job, JobStatus
from h3_indexer_spark.config.vector import (
    AllocationMethod,
    GeometryType,
    InputColumn,
    VectorTable,
)


def _vt(**overrides):
    base = dict(
        id="t",
        job_id="j",
        unique_id="pk",
        geometry_type="POINT",
        method="WITHIN",
        input_columns=["population"],
        path="/tmp/x.parquet",
        lat_column_name="lat",
        lon_column_name="lon",
    )
    base.update(overrides)
    return VectorTable(**base)


class TestVectorTableSource:
    def test_path_ok(self):
        assert _vt().path == "/tmp/x.parquet"

    def test_catalog_ok(self):
        vt = _vt(path=None, catalog_database="DB", catalog_table="TBL")
        assert vt.catalog_database == "db"  # lowercased, ref vector.py:202-223
        assert vt.source_description == "db.tbl"

    def test_where_clause_requires_catalog(self):
        with pytest.raises(ValueError, match="where_clause"):
            _vt(where_clause="x > 1")

    def test_half_catalog_rejected(self):
        with pytest.raises(ValueError, match="together"):
            _vt(path=None, catalog_database="db")

    def test_both_sources_rejected(self):
        with pytest.raises(ValueError, match="not both"):
            _vt(catalog_database="db", catalog_table="t")

    def test_no_source_rejected(self):
        with pytest.raises(ValueError, match="required"):
            _vt(path=None)


class TestMethodGeometryCompat:
    def test_point_rejects_pct_area(self):
        with pytest.raises(ValueError, match="POINT"):
            _vt(method="PCT_AREA")

    def test_line_rejects_within(self):
        with pytest.raises(ValueError, match="LINE"):
            _vt(
                geometry_type="LINE",
                method="WITHIN",
                geometry_column_name="geom",
                lat_column_name=None,
                lon_column_name=None,
            )

    def test_line_accepts_pct_length(self):
        vt = _vt(
            geometry_type="LINE",
            method="PCT_LENGTH",
            geometry_column_name="geom",
            lat_column_name=None,
            lon_column_name=None,
        )
        assert vt.method is AllocationMethod.PCT_LENGTH

    def test_polygon_accepts_centroid(self):
        vt = _vt(
            geometry_type="POLYGON",
            method="CENTROID",
            geometry_column_name="geom",
            lat_column_name=None,
            lon_column_name=None,
        )
        assert vt.geometry_type is GeometryType.POLYGON


class TestGeometryColumns:
    def test_line_requires_geometry_column(self):
        with pytest.raises(ValueError, match="geometry_column_name"):
            _vt(
                geometry_type="LINE",
                method="PCT_LENGTH",
                lat_column_name=None,
                lon_column_name=None,
            )

    def test_line_rejects_latlon(self):
        with pytest.raises(ValueError, match="lat/lon"):
            _vt(
                geometry_type="LINE",
                method="PCT_LENGTH",
                geometry_column_name="geom",
            )

    def test_point_rejects_both_geom_and_latlon(self):
        with pytest.raises(ValueError, match="not both"):
            _vt(geometry_column_name="geom")

    def test_point_lat_without_lon(self):
        with pytest.raises(ValueError, match="together"):
            _vt(lon_column_name=None)

    def test_point_requires_some_geometry(self):
        with pytest.raises(ValueError, match="requires"):
            _vt(lat_column_name=None, lon_column_name=None)


class TestInputColumns:
    def test_string_coercion(self):
        vt = _vt(input_columns=["a", InputColumn(name="b"), {"name": "c"}])
        assert vt.input_column_names == ["a", "b", "c"]


def _job(**overrides):
    base = dict(
        name="test",
        version="1.0.0",
        h3_resolution=6,
        output_path="/tmp/out",
        inputs={},
    )
    base.update(overrides)
    return Job(**base)


class TestJob:
    def test_ok(self):
        job = _job()
        assert job.status is JobStatus.PENDING
        assert len(job.id) == 12

    def test_bad_semver(self):
        with pytest.raises(ValueError, match="#.#.#"):
            _job(version="1.0")

    def test_resolution_bounds(self):
        for bad in (2, 11):
            with pytest.raises(ValueError, match="resolutions"):
                _job(h3_resolution=bad)
        for ok in (3, 10):
            assert _job(h3_resolution=ok).h3_resolution == ok

    def test_input_coercion(self):
        job = _job(
            inputs={
                "pts": dict(
                    type="vector",
                    unique_id="pk",
                    geometry_type="POINT",
                    method="WITHIN",
                    input_columns=["v"],
                    path="/tmp/p.parquet",
                    lat_column_name="lat",
                    lon_column_name="lon",
                )
            }
        )
        vt = job.inputs["pts"]
        assert isinstance(vt, VectorTable)
        assert vt.id == "pts" and vt.job_id == job.id

    def test_raster_rejected(self):
        with pytest.raises(ValueError, match="[Rr]aster"):
            _job(inputs={"r": dict(type="raster", s3_uri="s3://x")})

    def test_unknown_type_rejected(self):
        with pytest.raises(ValueError, match="vector"):
            _job(inputs={"x": dict(type="wat")})

    def test_status_machine(self):
        job = _job()
        job.update_status(JobStatus.VALIDATED)
        assert job.status is JobStatus.VALIDATED
        assert job.updated_at is not None
        job.update_status(JobStatus.FAILED, error="boom")
        assert job.error_message == "boom"


class TestCloudSessionProfile:
    """The object-store profile (session.py::CLOUD_STORE_CONF): public
    Spark/Hadoop keys, inert locally, so only their shape is testable
    offline."""

    def test_profile_keys_are_wellformed(self):
        from h3_indexer_spark.session import CLOUD_STORE_CONF

        for k, v in CLOUD_STORE_CONF.items():
            assert k.startswith("spark."), k
            assert isinstance(v, str) and v, (k, v)


_SIZE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


@pytest.mark.skipif(
    bool(os.environ.get("SPARK_DRIVER_MEM")),
    reason="SPARK_DRIVER_MEM overrides the host-derived heap",
)
def test_default_driver_heap_fits_the_host(spark):
    """The live session's driver heap (which is also the executor heap
    under local[N]) must not exceed the host's physical memory."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(
                int(line.split()[1]) for line in fh
                if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        pytest.skip("MemTotal is not readable on this host")
    heap = spark.sparkContext.getConf().get("spark.driver.memory").lower()
    n, unit = heap.rstrip("b")[:-1], heap.rstrip("b")[-1]
    heap_bytes = int(n) * _SIZE_SUFFIX[unit]
    assert heap_bytes <= kib * 1024, (heap, kib)
