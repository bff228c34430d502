"""Sources: parquet scans, JDBC, and the generated calendar.

Reference mapping (SURVEY.md §2.1):

- S1 table scan — ``SELECT … FROM t ORDER BY pk`` + fetchall
  (etl_completo.py:154-160 and 9 siblings) → ``spark.read.parquet``; the
  ORDER BY is load-order cosmetics and is intentionally dropped (DataFrames
  are unordered; Catalyst prunes columns + pushes predicates into the scan).
- S7 generator source — one row per day 2020-01-01→2025-12-31
  (etl_completo.py:776-801) → ``explode(sequence(...))`` — distributed, no
  driver-side loop.

JDBC: the reference's actual source is Postgres; ``jdbc_table`` shows the
production-shape reader (predicate-pushdown-capable, partitioned by a numeric
column so a 1000-executor cluster reads in parallel) but is untested here
(no JDBC server in this environment).
"""

from __future__ import annotations

import os
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from etl_globalretail_spark.schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from etl_globalretail_spark.sources.artifacts import (
    _STORE,
    parquet_files,
    session_artifact,
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The session artifact store (``artifacts.session_artifact``), under the
# name the tracer reads: a ``(sf_dir, table)`` key is a ``load_table`` scan
# already analyzed in that session. Handing the same DataFrame to every
# caller is safe (DataFrames are immutable logical plans); it saves the
# driver-side file listing and analysis of a declared-schema read (~15 ms
# per table on local files). Nothing is persisted: each action still
# scans parquet.
_PLAN_CACHE = _STORE

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
_INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def table_rows(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> int:
    """Row count of one testdata table, summed from its parquet footers (no
    Spark job) and kept as a session artifact. Used to size data-dependent
    knobs (e.g. streaming state partitions) without repaying the count per
    query. Paths pyarrow cannot open fall back to a counting job."""
    def build() -> int:
        footer = read_footer(f"{sf_dir}/{name}.parquet")
        return footer.rows if footer else load_table(spark, name, sf_dir).count()

    return session_artifact(spark, ("rows", name), sf_dir, build)


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one testdata table.

    The scan is read with the schema ``read_schema`` derives from the
    declaration and the parquet footer, so it costs no Spark job; only
    paths it cannot use (see there) pay Spark's schema-inference job.
    Columns come out in canonical schema order so downstream code and the
    oracle agree on column order; Catalyst still prunes unused ones at the
    physical scan.

    The events table has shipped ``ts`` both as parquet TIMESTAMP(NANOS)
    (no native Spark type — read as raw nanos and truncated to µs, matching
    DuckDB's ns→µs coercion) and as plain TIMESTAMP(MICROS). Either
    encoding is normalized to a session-UTC microsecond TimestampType so
    every downstream ``unix_micros``/window expression sees one type.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return session_artifact(spark, name, sf_dir, lambda: _scan(spark, name, sf_dir))


def load_table_spread(
    spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """``load_table`` for a consumer whose cost is per row, not per byte
    (shingling, span hashing, pairwise set similarity, Python kernels).

    Spark sizes a scan's splits by bytes, so a small table is read by one
    task however expensive each row is above it. This scan is repartitioned
    to ``defaultParallelism`` whenever it would read on fewer tasks than
    that (``_spread``); a table already read by that many tasks, as at any
    real corpus size, is scanned as it is.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return session_artifact(
        spark, ("spread", name), sf_dir, lambda: _scan(spark, name, sf_dir, per_row=True)
    )


def _scan(spark: SparkSession, name: str, sf_dir: str, per_row: bool = False) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    footer = read_footer(path)
    schema = read_schema(spark, name, path, footer) if footer else None
    if schema is None:
        df = infer_read(spark, name, path)
    else:
        df = spark.read.schema(schema).parquet(path)
    df = df.select(*TESTDATA_SCHEMAS[name].fieldNames())
    if name == "events":
        df = event_ts_micros(df, (schema or df.schema)["ts"].dataType)
    if footer:
        df = _spread(spark, df, footer, per_row)
    return df


class Footer(NamedTuple):
    """What the footers of a parquet table say about it (``parquet_footer``)."""

    schema: pa.Schema
    rows: int
    row_groups: int
    bytes: int


def parquet_footer(path: str) -> Footer:
    """Arrow schema, row count, row-group count and file bytes of a parquet
    table, from its footers and file sizes.

    ``path`` is one file or a directory of part files (walked as Spark
    lists it: names starting with ``_`` or ``.`` are skipped). The schema
    is the first part file's; the counts and bytes sum every file. INT96
    columns come back as ``timestamp[us, tz=UTC]``: they hold instants and
    Spark reads them as TIMESTAMP, while pyarrow would type them zone-less
    nanoseconds, the same as TIMESTAMP(NANOS). Raises ``OSError`` (or a
    pyarrow error) when pyarrow cannot open the path or finds no file.
    """
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet file at {path}")
    metas = [pq.read_metadata(f) for f in files]
    schema = metas[0].schema.to_arrow_schema()
    for i in range(len(metas[0].schema)):
        col = metas[0].schema.column(i)
        if col.physical_type == "INT96" and col.path in schema.names:
            idx = schema.get_field_index(col.path)
            schema = schema.set(idx, schema.field(idx).with_type(pa.timestamp("us", "UTC")))
    return Footer(
        schema,
        sum(m.num_rows for m in metas),
        sum(m.num_row_groups for m in metas),
        sum(os.path.getsize(f) for f in files),
    )


def read_footer(path: str) -> Footer | None:
    """``parquet_footer(path)``, or ``None`` when pyarrow cannot read it."""
    try:
        return parquet_footer(path)
    except (OSError, pa.ArrowException):
        return None


def read_schema(
    spark: SparkSession, name: str, path: str, footer: Footer
) -> T.StructType | None:
    """The schema to read testdata table ``name`` at ``path`` with, given
    ``footer``, its ``parquet_footer``.

    It is ``TESTDATA_SCHEMAS[name]`` with the footer deciding each
    timestamp column's type, so the result is what Spark's inference
    gives: TIMESTAMP when the footer marks the column isAdjustedToUTC (or
    stores INT96), or when it does not and the session sets
    ``spark.sql.parquet.inferTimestampNTZ.enabled=false``; TIMESTAMP_NTZ
    otherwise. Events ``ts`` stored as TIMESTAMP(NANOS) is declared
    ``long``, and only then is Spark's nanos-as-long conf set on the
    session. Any other column whose footer type differs from the
    declaration raises ``ValueError``.

    Returns ``None`` when a declared column is not in the footer (a
    partition column held in the directory names, or a missing one); the
    caller then infers the schema as Spark does, which resolves the former
    and fails loudly on the latter.
    """
    stored_types = {f.name: f.type for f in footer.schema}
    fields, nanos = [], False
    for field in TESTDATA_SCHEMAS[name].fields:
        stored = stored_types.get(field.name)
        if stored is None:
            return None
        actual = _spark_type(stored)
        if isinstance(actual, T.TimestampNTZType) \
                and str(spark.conf.get(_INFER_NTZ, "true")).lower() == "false":
            actual = T.TimestampType()
        if (name, field.name) == ("events", "ts") and pa.types.is_timestamp(stored) \
                and stored.unit == "ns":
            nanos, actual = True, T.LongType()
        elif not (isinstance(field.dataType, T.TimestampType)
                  and isinstance(actual, T.TimestampNTZType)):
            found = actual.simpleString() if actual else str(stored)
            if found != field.dataType.simpleString():
                raise ValueError(
                    f"table {name!r} at {path}: column {field.name!r} is {found} "
                    f"in the parquet footer but declared {field.dataType.simpleString()}"
                )
        fields.append(T.StructField(field.name, actual))
    if nanos:
        spark.conf.set(_NANOS_AS_LONG, "true")
    return T.StructType(fields)


def _spark_type(stored: pa.DataType) -> T.DataType | None:
    """The Spark type a parquet column of arrow type ``stored`` reads as,
    or ``None`` if it has none (TIMESTAMP(NANOS), unsigned integers)."""
    if pa.types.is_timestamp(stored):
        if stored.unit == "ns":
            return None
        return T.TimestampType() if stored.tz else T.TimestampNTZType()
    try:
        return from_arrow_type(stored)
    except TypeError:
        return None


def infer_read(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Spark's schema-inference read (one job), for paths whose footer
    pyarrow cannot read or ``read_schema`` cannot use. Events may be TIMESTAMP(NANOS), which inference rejects
    unless nanos are read as longs."""
    if name == "events":
        spark.conf.set(_NANOS_AS_LONG, "true")
    return spark.read.parquet(path)


def event_ts_micros(df: DataFrame, ts_type: T.DataType) -> DataFrame:
    """Normalize events ``ts`` read as ``ts_type`` to a microsecond
    TIMESTAMP: raw TIMESTAMP(NANOS) longs are truncated to µs, and NTZ
    values are cast (value-preserving under the UTC session time zone)."""
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _spread(spark: SparkSession, df: DataFrame, footer: Footer, per_row: bool) -> DataFrame:
    """Round-robin a scan to ``defaultParallelism`` only when it reads on
    fewer tasks than its consumer needs.

    Spark packs a file scan into splits of ``maxSplitBytes = min(
    maxPartitionBytes, max(openCostInBytes, bytes / defaultParallelism))``,
    and a parquet split reads only the row groups whose midpoint falls in
    it, so the scan reads on ``min(row groups, splits)`` tasks. A
    ``load_table`` consumer needs the splits Spark planned for the bytes:
    the scan spreads only when its row groups are fewer (one 10.8 MB row
    group planned as 3 splits). A table of at most ``openCostInBytes``
    plans one split, and an input with at least as many row groups as
    splits is already spread by the scan, so both keep Spark's plan. A
    ``load_table_spread`` consumer (``per_row``) needs ``defaultParallelism``
    tasks, whatever the bytes. The repartition costs one exchange, a Spark
    job of its own under AQE; filters and column pruning push into the
    scan below it either way.
    """
    want = spark.sparkContext.defaultParallelism
    mpb = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _size_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20)
    max_split = max(1, min(mpb, max(open_cost, footer.bytes // max(want, 1))))
    splits = -(-footer.bytes // max_split)
    if min(footer.row_groups, splits) < (want if per_row else splits):
        return df.repartition(want)
    return df


def _size_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a byte-size conf ('134217728', '128m', '4mb', '…b')."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw.endswith("b"):
        raw = raw[:-1]
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in names}


def calendar_frame(
    spark: SparkSession, start: str = "2020-01-01", end: str = "2025-12-31"
) -> DataFrame:
    """S7: synthesize one row per day in [start, end] — the dim_tempo source.

    ``sequence`` builds the array on an executor and ``explode`` fans it out;
    for genuinely huge ranges you would sequence per-year first, but a
    calendar is bounded (~10^4 rows) so a single explode is right.
    """
    return spark.sql(
        f"""
        SELECT explode(sequence(to_date('{start}'), to_date('{end}'), interval 1 day))
               AS data_completa
        """
    )


def jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Production-shape JDBC scan of the reference's Postgres source.

    With ``partition_column`` bounds, Spark issues ``num_partitions`` range
    predicates so the scan parallelizes across executors instead of a single
    cursor (the reference reads every table through one sequential cursor,
    etl_completo.py:154-160). Exercised end-to-end against the embedded
    Derby engine bundled with Spark — q229_jdbc_roundtrip puts the full
    write→read→aggregate loop on the DuckDB hash gate, and pytest asserts
    the partitioned read really splits into range tasks.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1_000_000))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_idempotent(df: DataFrame, path: str, keys: list[str], mode: str = "overwrite") -> None:
    """S5: the reference's INSERT … ON CONFLICT DO NOTHING per row
    (etl_completo.py:172-177 et al.) re-expressed as dedup-by-key + an atomic
    job-level write: identical end state, no per-row round trips.
    """
    df.dropDuplicates(keys).write.mode(mode).parquet(path)


def append_new_keys(df: DataFrame, path: str, keys: list[str]) -> int:
    """Incremental idempotent append: write only rows whose key is not yet
    in the sink — the reference's per-row ``INSERT … ON CONFLICT DO
    NOTHING`` (etl_completo.py:172-177) as a set operation, for the
    incremental-load case where ``write_idempotent``'s full overwrite would
    rewrite the whole table.

    The existing-key scan reads ONLY the key columns (column-pruned to the
    parquet footer); the delta is deduped within itself, then anti-joined
    against the sink keys. At 100 TB the sink-side key scan is the cost —
    production sinks bucket by the key (``write_bucketed``) so the anti-join
    co-locates, or keep the delta small enough that AQE broadcasts it.
    Returns the number of rows appended. First write creates the sink.
    """
    spark = df.sparkSession
    fresh = df.dropDuplicates(keys)
    try:
        existing = spark.read.parquet(path).select(*keys)
    except Exception:  # AnalysisException: PATH_NOT_FOUND — first load
        fresh.write.mode("overwrite").parquet(path)
        return fresh.count()
    new = fresh.join(existing.dropDuplicates(keys), keys, "left_anti").persist()
    try:
        n = new.count()
        if n:
            new.write.mode("append").parquet(path)
        return n
    finally:
        new.unpersist()


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog sink: pre-shuffles rows into ``n_buckets`` hash
    buckets on ``bucket_cols`` at WRITE time, so every later equi-join or
    aggregation on those columns reads co-located data and needs NO
    exchange (test-asserted: two tables bucketed on the join key
    sort-merge-join with zero shuffles).

    This is the Spark replacement for the reference's clustered fact
    indexes (cria_indices_dw.sql) on repeat-join workloads: pay one shuffle
    at load, never again. At 100 TB choose n_buckets ≈ cluster cores ×
    small multiple, and repartition on the bucket columns first so each
    task writes one file per bucket it owns rather than n_buckets files.
    """
    out = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = (
        out.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def fast_count(sf_dir: str, table: str) -> int:
    """Metadata-only row count from the parquet footer(s) — zero data
    read. COUNT(*) with no filter is answerable from file statistics;
    engines with metadata-only optimizations (and table formats with
    manifest counts) do exactly this. At 100 TB the difference is a
    footer listing versus a full scan. Multi-file tables sum their part
    files' footers (``parquet_footer``); correctness is pinned against the
    scan-based count in pytest.
    """
    return parquet_footer(os.path.join(sf_dir, f"{table}.parquet")).rows
