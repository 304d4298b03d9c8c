"""Footer-derived parquet schemas: ``footer_schema`` must reproduce
Spark's own inference for every testdata table and for each footer
type the testdata generators have produced, without running a Spark
job; types outside the mapped set fall back to Spark's inference.
Also pins the paired OLTP report builders as lazy: with the schemas
coming from footers, their ``fn()`` plans without any job."""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from olist_data_warehouse_spark.plans.queries import REGISTRY
from olist_data_warehouse_spark.sources.readers import (
    TESTDATA_TABLES,
    footer_schema,
    load_testdata,
    scan_parquet,
)

SCALES = ("0.001", "0.01", "0.1")


@contextlib.contextmanager
def count_jobs(spark):
    """Yield a one-element list that holds, on exit, the number of Spark
    jobs submitted from this thread inside the block (its job group)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _assert_matches_inference(spark, path):
    derived = footer_schema(spark, path)
    assert derived is not None, f"{path}: footer not mapped"
    got = spark.read.schema(derived).parquet(path).schema
    assert got == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", SCALES)
def test_testdata_footer_schemas_equal_inference(spark, sf_dir, sf):
    # every scale sits next to the smoke scale
    scale_dir = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    if not os.path.isdir(scale_dir):
        pytest.skip(f"{scale_dir} not present")
    load_testdata(spark, scale_dir, ("region",))  # the session pins
    paths = [
        os.path.join(scale_dir, f"{t}.parquet") for t in TESTDATA_TABLES
    ]
    paths = [p for p in paths if os.path.exists(p)]
    assert paths
    with count_jobs(spark) as jobs:
        for p in paths:
            scan_parquet(spark, p).schema  # noqa: B018 - plans the scan
    assert jobs == [0]
    for p in paths:
        _assert_matches_inference(spark, p)


def _edge_tables():
    return {
        "ts_nanos": (pa.table({"ts": pa.array([10**18], pa.timestamp("ns"))}),
                     {}),
        "int96": (pa.table({"ts": pa.array([10**18], pa.timestamp("ns"))}),
                  {"use_deprecated_int96_timestamps": True}),
        "micros": (
            pa.table({
                "naive": pa.array([10**15], pa.timestamp("us")),
                "aware": pa.array([10**15], pa.timestamp("us", tz="UTC")),
            }),
            {},
        ),
        "mixed": (
            pa.table({
                "d": pa.array([dt.date(2024, 2, 29)]),
                "dec": pa.array([decimal.Decimal("12.34")],
                                pa.decimal128(12, 2)),
                "vec": pa.array([[0.5, 1.5]], pa.list_(pa.float32())),
                "s": pa.array(["x"]),
                "i": pa.array([1], pa.int32()),
            }),
            {},
        ),
    }


def test_edge_footer_types_equal_inference(spark, sf_dir, tmp_path):
    load_testdata(spark, sf_dir, ("region",))  # the session pins
    for name, (table, opts) in _edge_tables().items():
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, p, **opts)
        _assert_matches_inference(spark, p)
    kinds = {
        name: footer_schema(spark, str(tmp_path / f"{name}.parquet"))
        for name in ("ts_nanos", "int96", "micros")
    }
    # physical type decides: NANOS -> bigint, INT96 -> timestamp
    assert kinds["ts_nanos"]["ts"].dataType.simpleString() == "bigint"
    assert kinds["int96"]["ts"].dataType.simpleString() == "timestamp"
    assert [f.dataType.simpleString() for f in kinds["micros"].fields] == [
        "timestamp_ntz", "timestamp"
    ]


def test_spark_written_directory_uses_first_data_file(spark, tmp_path):
    p = str(tmp_path / "part.parquet")
    spark.range(8).selectExpr(
        "id", "cast(id as timestamp) as ts", "array(id) as arr",
        "cast(id as decimal(9, 3)) as dec",
    ).repartition(3).write.parquet(p)
    assert os.path.isdir(p)
    _assert_matches_inference(spark, p)
    # files whose schemas disagree: hidden names are skipped and the
    # first remaining file in path order decides, as in Spark
    mixed = tmp_path / "mixed.parquet"
    mixed.mkdir()
    for name, typ in (("_a", pa.float32()), (".b", pa.float64()),
                      ("part-1", pa.int32()), ("part-2", pa.int64())):
        pq.write_table(pa.table({"x": pa.array([1], typ)}),
                       str(mixed / f"{name}.parquet"))
    _assert_matches_inference(spark, str(mixed))
    assert footer_schema(spark, str(mixed))["x"].dataType == T.IntegerType()


def test_unmapped_footer_type_falls_back_to_inference(spark, tmp_path):
    p = str(tmp_path / "unsigned.parquet")
    pq.write_table(
        pa.table({"u": pa.array([1], pa.uint8()), "i": pa.array([1])}), p
    )
    assert footer_schema(spark, p) is None
    with count_jobs(spark) as jobs:
        fallback = scan_parquet(spark, p).schema
    assert jobs[0] >= 1  # Spark's inference job: the counter sees jobs
    assert fallback == spark.read.parquet(p).schema


@pytest.mark.parametrize(
    "name", ["q1_top_units_oltp", "q2_top_revenue_oltp", "q3_conversion_oltp"]
)
def test_oltp_report_builders_run_no_jobs(spark, sf_dir, name):
    with count_jobs(spark) as jobs:
        REGISTRY[name].fn(spark, sf_dir)
    assert jobs == [0], f"{name}: fn() ran {jobs[0]} Spark jobs"
