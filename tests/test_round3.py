"""Round-3 regression tests: the driver-collect eliminations.

VERDICT r2 flagged (a) the co-purchase edge artifact's
collect()+createDataFrame memo (driver OOM at 100x) and (b) data-sized
outputs round-tripped through the driver to pin schema (q207, q168,
q170). These tests pin the fixes: the artifact is an executor-resident
checkpointed DataFrame held as a session artifact, and the pair-set
queries return LAZY frames whose plans are real distributed plans (a
collected result would surface as a bare `Scan ExistingRDD` /
LocalTableScan leaf with no joins above it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_globalretail_spark.plans import analytics
from etl_globalretail_spark.plans.registry import ALL_QUERIES as QUERIES
from etl_globalretail_spark.sources.artifacts import session_artifact


def _physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _held(spark, sf_dir, kind):
    """The session artifact already held for ``kind``; fails if it would
    have to be built."""
    def unbuilt():
        raise AssertionError(f"no {kind} artifact held for {sf_dir}")

    return session_artifact(spark, kind, sf_dir, unbuilt)


def test_edge_artifact_is_memoized_dataframe(spark, sf_dir):
    e1 = analytics.co_purchase_edges_weighted(spark, sf_dir)
    e2 = analytics.co_purchase_edges_weighted(spark, sf_dir)
    # memoized: the second call returns the SAME checkpointed frame
    assert e1 is e2
    held = _held(spark, sf_dir, "co_purchase_edges")
    assert held is e1
    assert isinstance(held, DataFrame)  # frame, not driver rows
    # lineage truncated to the checkpoint blocks: scanning the artifact
    # is an ExistingRDD read, not a corpus re-scan
    plan = _physical_plan(e1)
    assert "ExistingRDD" in plan
    assert "parquet" not in plan.lower()
    assert e1.columns == ["u", "v", "support"]
    assert analytics.co_purchase_edges(spark, sf_dir).columns == ["u", "v"]


def test_edge_artifact_no_driver_rows(spark, sf_dir):
    analytics.co_purchase_edges(spark, sf_dir)
    held = _held(spark, sf_dir, "co_purchase_edges")
    assert isinstance(held, DataFrame), "edge artifact must never hold rows"


def test_pair_set_queries_return_lazy_plans(spark, sf_dir):
    # A collect()+createDataFrame round-trip yields a single ExistingRDD
    # leaf; the lazy fix keeps the join pipeline in the returned plan.
    for name in (
        "q168_association_rules",
        "q170_clustering_coefficient",
        "q207_containment_pairs",
    ):
        df = QUERIES[name](spark, sf_dir)
        plan = _physical_plan(df)
        assert "Join" in plan, f"{name} lost its distributed plan: {plan[:300]}"
        assert df.count() >= 0  # and it still executes


def test_jdbc_roundtrip_partitioned(spark, sf_dir):
    """A dim written through Spark's JDBC sink into embedded Derby and
    read back through ``jdbc_table``'s partitioned scan is value-identical
    to the source, and the read genuinely splits into range partitions."""
    import tempfile

    from etl_globalretail_spark.sources.readers import jdbc_table, load_table

    spark._jvm.System.setProperty(
        "derby.stream.error.file", tempfile.gettempdir() + "/derby.log"
    )
    db = tempfile.mkdtemp(prefix="jdbc_pytest_") + "/derbydb"
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    r = load_table(spark, "region", sf_dir)
    (
        r.write.format("jdbc").option("url", url)
        .option("dbtable", "region").option("driver", driver)
        .mode("overwrite").save()
    )
    back = jdbc_table(
        spark, url, "region",
        partition_column="r_regionkey", num_partitions=3,
        lower_bound=0, upper_bound=5, driver=driver,
    )
    assert back.rdd.getNumPartitions() == 3
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, r.collect()))


def test_q230_watermark_semantics_pinned(spark, sf_dir):
    """Re-derive the watermark semantics q230's oracle encodes from the
    actual StreamingQueryProgress, so a Spark behavior change fails here
    loudly instead of as a silent oracle mismatch:

    - eviction watermark of batch N = (ms-truncated max event time over
      batches 0..N-1) - delay; a trailing no-data batch runs with the
      final watermark;
    - the late-data filter lags one batch further (wave-1 rows are never
      dropped; wave-2 rows are judged against wave-0's max).
    """
    from pyspark.sql import functions as F

    from etl_globalretail_spark.sources.readers import load_table
    from etl_globalretail_spark.streaming.windows import (
        _Q230_DELAY_MS,
        stage_arrival_waves,
    )

    waves = stage_arrival_waves(spark, sf_dir)
    stream = (
        spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves.directory)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("q230_semantics_probe").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    progress = {p["batchId"]: p for p in q.recentProgress}
    e = load_table(spark, "events", sf_dir)
    max_ms = e.agg(
        (F.max(F.unix_micros("ts")) / 1000).cast("long")
    ).collect()[0][0]
    final_wm = max_ms - _Q230_DELAY_MS
    # wave 0 carries the global max by construction -> the watermark in
    # effect from batch 1 onward is already the final one
    import datetime

    for bid in (1, 2):
        wm = progress[bid]["eventTime"]["watermark"]
        got_ms = int(
            datetime.datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")
            .replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
        )
        assert got_ms == final_wm, (bid, got_ms, final_wm)
    # wave 1 (late but filter lags a batch): nothing dropped
    assert (
        progress[1]["stateOperators"][0]["numRowsDroppedByWatermark"] == 0
    )
    # wave 2: judged against wave-0's max -> every row in a window at or
    # below the final watermark is dropped
    max_ts = e.agg(F.max("ts")).collect()[0][0]
    w2 = e.filter(
        (F.pmod("event_id", 8) == 0) & (F.col("ts") != F.lit(max_ts))
    )
    expect_dropped = w2.filter(
        (F.floor(F.unix_micros("ts") / 3_600_000_000) + 1) * 3_600_000_000
        <= final_wm * 1000
    ).count()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in progress.values()
        if p["stateOperators"]
    )
    assert dropped == expect_dropped > 0


def test_global_index_contiguous_after_checkpoint(spark, sf_dir):
    from etl_globalretail_spark.operators.ranks import global_row_number
    from etl_globalretail_spark.sources.readers import load_table

    c = load_table(spark, "customer", sf_dir)
    idx, _ = global_row_number(
        c.select("c_custkey"), [("c_custkey", "asc")], n_ranges=4
    )
    rows = idx.orderBy("c_custkey").select("rn").collect()
    assert [r["rn"] for r in rows] == list(range(1, c.count() + 1))
