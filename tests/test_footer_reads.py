"""Parquet metadata from footers: declared-schema ``load_table``, footer
row counts and stream schemas, with no Spark job and no change to what
schema inference would give; and the footer-sized scan spread."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_globalretail_spark.schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from etl_globalretail_spark.sources.readers import (
    infer_read,
    load_table,
    load_table_spread,
    parquet_footer,
    table_rows,
)

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
OPEN_COST = "spark.sql.files.openCostInBytes"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _copy(sf_dir, dst, names=TABLE_NAMES) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in names:
        shutil.copy(f"{sf_dir}/{t}.parquet", dst)
    return str(dst)


def _inferred(spark, name, path):
    """Today's reference result: Spark's inference read, in canonical
    column order, with events ``ts`` normalized as ``load_table`` does."""
    df = spark.read.parquet(path).select(*TESTDATA_SCHEMAS[name].fieldNames())
    if name == "events":
        df = df.withColumn("ts", df["ts"].cast("timestamp"))
    return df


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())


def test_footer_reads_submit_no_spark_job(spark, sf_dir, tmp_path):
    from etl_globalretail_spark.streaming.windows import read_event_stream

    fresh = _copy(sf_dir, tmp_path / "fresh")
    spark.range(1).count()  # settle any job a previous test left queued
    before = _next_job_id(spark)
    for name in TABLE_NAMES:
        load_table(spark, name, fresh)
        assert table_rows(spark, name, fresh) == pq.read_metadata(
            f"{sf_dir}/{name}.parquet").num_rows
    read_event_stream(spark, f"{fresh}/events.parquet")
    assert _next_job_id(spark) == before


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_load_table_matches_inference(spark, sf_dir, tmp_path, name):
    fresh = _copy(sf_dir, tmp_path, (name,))
    got = load_table(spark, name, fresh)
    want = _inferred(spark, name, f"{fresh}/{name}.parquet")
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    dates = {"orders": "o_orderdate", "lineitem": "l_shipdate"}
    if name in dates:  # the test data's dates stay NTZ, as inferred
        assert got.schema[dates[name]].dataType.simpleString() == "timestamp_ntz"


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS"])
def test_spark_written_ltz_copy_matches_inference(spark, sf_dir, tmp_path, ts_type):
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key)
    spark.conf.set(key, ts_type)
    try:
        for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                          ("events", "ts")):
            src = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            src.withColumn(col, src[col].cast("timestamp")).repartition(2) \
                .write.parquet(f"{tmp_path}/{name}.parquet")
    finally:
        spark.conf.set(key, prior)
    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                      ("events", "ts")):
        path = f"{tmp_path}/{name}.parquet"
        # INT96 holds instants: the footer helper types it as UTC micros
        assert parquet_footer(path)[0].field(col).type == pa.timestamp("us", "UTC")
        got = load_table(spark, name, str(tmp_path))
        want = _inferred(spark, name, path)
        assert got.schema[col].dataType.simpleString() == "timestamp"
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    assert table_rows(spark, "lineitem", str(tmp_path)) == \
        pq.read_metadata(f"{sf_dir}/lineitem.parquet").num_rows


def test_footer_type_mismatch_is_loud(spark, sf_dir, tmp_path):
    t = pq.read_table(f"{sf_dir}/orders.parquet")
    i = t.schema.get_field_index("o_custkey")
    t = t.set_column(i, "o_custkey", t.column(i).cast(pa.string()))
    pq.write_table(t, f"{tmp_path}/orders.parquet")
    with pytest.raises(ValueError) as err:
        load_table(spark, "orders", str(tmp_path))
    msg = str(err.value)
    for word in ("'orders'", "'o_custkey'", "string", "bigint"):
        assert word in msg, msg


def _with_conf(spark, value, key=NANOS_AS_LONG):
    """Set (or unset, for None) ``key``; return its prior value."""
    prior = spark.conf.get(key, None)
    if value is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, value)
    return prior


def test_micros_events_leave_session_conf_alone(spark, sf_dir, tmp_path):
    from etl_globalretail_spark.streaming.windows import QUERIES as WQ

    fresh = _copy(sf_dir, tmp_path)
    prior = _with_conf(spark, "false")
    try:
        load_table(spark, "events", fresh)
        assert WQ["q128_streaming_hourly_exact"](spark, fresh).count() > 0
        assert spark.conf.get(NANOS_AS_LONG) == "false"
    finally:
        _with_conf(spark, prior)


def test_nanos_events_read_as_truncated_micros(spark, sf_dir, tmp_path):
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    ns = pa.array(
        [None if v is None else v * 1000 + 999
         for v in t.column(i).cast(pa.int64()).to_pylist()],
        pa.int64(),
    ).cast(pa.timestamp("ns"))
    pq.write_table(t.set_column(i, "ts", ns), f"{tmp_path}/events.parquet",
                   coerce_timestamps=None)
    assert pq.ParquetFile(f"{tmp_path}/events.parquet").schema_arrow \
        .field("ts").type == pa.timestamp("ns")
    prior = _with_conf(spark, "false")
    try:
        got = load_table(spark, "events", str(tmp_path))
        assert spark.conf.get(NANOS_AS_LONG) == "true"
        assert got.schema["ts"].dataType.simpleString() == "timestamp"
        assert _rows(got) == _rows(load_table(spark, "events", sf_dir))
    finally:
        _with_conf(spark, prior)


def test_infer_ntz_off_reads_as_inference(spark, sf_dir, tmp_path):
    fresh = _copy(sf_dir, tmp_path, ("orders",))
    prior = _with_conf(spark, "false", INFER_NTZ)
    try:
        got = load_table(spark, "orders", fresh)
        want = infer_read(spark, "orders", f"{fresh}/orders.parquet").select(
            *TESTDATA_SCHEMAS["orders"].fieldNames())
        assert got.schema["o_orderdate"].dataType.simpleString() == "timestamp"
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    finally:
        _with_conf(spark, prior, INFER_NTZ)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spreads(df) -> bool:
    return "RoundRobinPartitioning" in _plan(df)


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_single_split_scan_keeps_spark_plan(spark, sf_dir, tmp_path, name):
    fresh = _copy(sf_dir, tmp_path, (name,))
    assert not _spreads(load_table(spark, name, fresh))


def test_spread_only_when_row_groups_limit_splits(spark, sf_dir, tmp_path):
    t = pq.read_table(f"{sf_dir}/lineitem.parquet")
    one, many = tmp_path / "one", tmp_path / "many"
    _copy(sf_dir, one, ("lineitem",))
    want = spark.sparkContext.defaultParallelism
    prior = _with_conf(spark, str(os.path.getsize(f"{one}/lineitem.parquet") // 8),
                       OPEN_COST)
    try:
        splits = spark.read.parquet(f"{one}/lineitem.parquet").rdd.getNumPartitions()
        assert pq.read_metadata(f"{one}/lineitem.parquet").num_row_groups == 1 < splits
        df = load_table(spark, "lineitem", str(one))
        assert f"RoundRobinPartitioning({want})" in _plan(df)

        os.makedirs(many)
        pq.write_table(t, f"{many}/lineitem.parquet",
                       row_group_size=-(-t.num_rows // (4 * want)))
        splits = spark.read.parquet(f"{many}/lineitem.parquet").rdd.getNumPartitions()
        assert pq.read_metadata(f"{many}/lineitem.parquet").num_row_groups >= splits
        df = load_table(spark, "lineitem", str(many))
        assert not _spreads(df)
        assert _rows(df) == _rows(load_table(spark, "lineitem", str(one)))
    finally:
        _with_conf(spark, prior, OPEN_COST)


def test_per_row_scan_reads_on_every_core(spark, sf_dir, tmp_path):
    want = spark.sparkContext.defaultParallelism
    small = _copy(sf_dir, tmp_path / "small", ("documents",))
    df = load_table_spread(spark, "documents", small)
    assert f"RoundRobinPartitioning({want})" in _plan(df)
    assert not _spreads(load_table(spark, "documents", small))
    assert _rows(df) == _rows(load_table(spark, "documents", small))

    t = pq.read_table(f"{sf_dir}/lineitem.parquet")
    os.makedirs(tmp_path / "many")
    path = f"{tmp_path}/many/lineitem.parquet"
    pq.write_table(t, path, row_group_size=-(-t.num_rows // (4 * want)))
    prior = _with_conf(spark, str(os.path.getsize(path) // (2 * want)), OPEN_COST)
    try:
        assert spark.read.parquet(path).rdd.getNumPartitions() >= want
        assert not _spreads(load_table_spread(spark, "lineitem", f"{tmp_path}/many"))
    finally:
        _with_conf(spark, prior, OPEN_COST)


def test_spark_written_directory_keeps_spark_plan(spark, sf_dir, tmp_path):
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(2) \
        .write.parquet(f"{tmp_path}/lineitem.parquet")
    df = load_table(spark, "lineitem", str(tmp_path))
    assert not _spreads(df)
    assert df.count() == pq.read_metadata(f"{sf_dir}/lineitem.parquet").num_rows


def test_registry_holds_every_family():
    import etl_globalretail_spark as pkg
    from etl_globalretail_spark.plans.registry import ALL_QUERIES

    families = {}
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        if info.name.endswith(".registry") or not hasattr(mod, "QUERIES"):
            continue
        families[info.name] = mod.QUERIES
    assert len(families) >= 24
    for name, qs in families.items():
        assert set(qs) <= set(ALL_QUERIES), (name, sorted(set(qs) - set(ALL_QUERIES)))
    assert len(ALL_QUERIES) == sum(len(qs) for qs in families.values())
