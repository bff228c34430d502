"""Structured Streaming surface: windowed aggregations over the events
stream, sharing one transformation definition with the batch path.

The reference has no streaming (SURVEY.md §2.7); the events table is our
mandate to expose time-window analytics. Design rule: the *transformation*
is a function DataFrame → DataFrame that works identically on a batch frame
and a streaming frame — only the source/sink differ. q16_events_hourly is
the batch face (oracle-checked); the tests run the same aggregation through
``readStream`` + memory sink and assert parity with the batch result.

Watermarking: 10 minutes. In batch mode ``withWatermark`` is a no-op, so the
shared function can apply it unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.schemas import TESTDATA_SCHEMAS


def _stage_wave_file(tmp: str, sdir: str, i: int) -> None:
    """Move wave ``i``'s single part file from the partitionBy staging
    dir into the stream-source dir, pinning its mtime (FileStreamSource
    batches files in modification-time order, so the wave order IS the
    arrival order the replay simulates).

    Guarded: on a dataset where a wave predicate selects no rows the
    ``__wave=i`` directory never exists and the bare ``glob(...)[0]``
    IndexErrors two frames deep (ADVICE r8) — raise a descriptive error
    instead, since every staged replay assumes both cohorts non-empty.
    """
    import glob
    import os
    import shutil

    parts = glob.glob(os.path.join(tmp, f"__wave={i}", "part-*.parquet"))
    if not parts:
        raise ValueError(
            f"staged replay: wave {i} is empty — the wave-split "
            "predicate selected no rows for this cohort in this dataset"
        )
    dst = os.path.join(sdir, f"wave_{i}.parquet")
    shutil.move(parts[0], dst)
    os.utime(dst, (1_000_000_000 + i * 100,) * 2)


def hourly_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 1-hour windows: counts + value sums per event type.

    Streaming-legal aggregation set only (no countDistinct — not supported
    in update-mode streaming; the batch-only q16 adds it separately).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_avg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows — each event lands in window/slide overlapping frames."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet data.

    FileStreamSource requires a *directory* basePath; the testdata ships a
    single ``events.parquet`` file, so point the stream at the parent
    directory with a pathGlobFilter selecting just that file.

    The testdata has stored ts as parquet TIMESTAMP(NANOS) and as
    TIMESTAMP(MICROS). FileStreamSource needs a fixed schema up front, so
    take it from the parquet footer (``readers.read_schema``: no Spark job,
    ``ts`` declared ``long`` for nanos) and apply the same normalization
    the batch reader does. A path whose footer pyarrow cannot read (e.g. a
    directory no file has arrived in yet) falls back to Spark's inference.
    """
    footer = read_footer(path)
    schema = read_schema(spark, "events", path, footer) if footer else None
    if schema is None:
        schema = infer_read(spark, "events", path).select(
            *TESTDATA_SCHEMAS["events"].fieldNames()
        ).schema
    reader = spark.readStream.schema(schema).format("parquet")
    # Two on-disk layouts: the testdata ships events.parquet as a SINGLE
    # FILE (stream the parent dir with a glob selecting it — a file is
    # not a valid FileStreamSource basePath), while Spark-written tables
    # (the sf1 scale replica, any production corpus) are DIRECTORIES of
    # part files (stream the directory itself — the glob would match
    # zero part files and the stream would silently replay NOTHING,
    # caught by the sf1 soak: q166's sink never materialized).
    import os

    if path.endswith(".parquet") and not os.path.isdir(path):
        parent, _, fname = path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        path = parent
    return event_ts_micros(reader.load(path), schema["ts"].dataType)


def dedup_stream(
    events: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-key delivery: the streaming face of the reference's
    ``INSERT … ON CONFLICT DO NOTHING`` idempotency (etl_completo.py:172-177,
    S5/A3 in SURVEY.md §2).

    Under ``readStream`` this is ``dropDuplicatesWithinWatermark`` — per-key
    state is *bounded*: a key is remembered only until the watermark passes
    its event time, so state size tracks the duplication horizon (how late a
    retransmission can arrive), not the stream's lifetime. Plain
    ``dropDuplicates`` on a stream would keep every key forever — the
    classic unbounded-state failure on an infinite stream.

    On a batch frame the same call site degrades to exact ``dropDuplicates``
    (batch has no watermark; the whole input is one horizon), which is what
    the parity test asserts against.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return events.dropDuplicates(list(keys))


import contextlib


@contextlib.contextmanager
def scoped_stream_partitions(spark, n_rows: int):
    """Size the state-store count to the DATA for the duration of one
    streaming run: Spark fixes a streaming query's state partitions from
    spark.sql.shuffle.partitions at start, and every partition costs a
    store instance per stateful operator per micro-batch — measured 7.4 s
    → 2.8 s on the q231 state-store join at sf0.1 just from 32 → 8
    stores. clamp(ceil(n/25k), 4, session default): small replays shrink,
    and at cluster scale the formula saturates at the session default so
    production parallelism is never reduced."""
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    target = max(4, min(int(cur), -(-n_rows // 25_000)))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)


def run_to_memory_sink(
    stream_df: DataFrame, table_name: str, mode: str = "complete",
    n_rows: int | None = None,
):
    """Drive a streaming aggregation into an in-memory table and block until
    the source is drained — the test/demo harness for stream/batch parity.
    Pass ``n_rows`` (the replay's input size) to size the state-store
    count to the data (scoped_stream_partitions).
    """
    ctx = (
        scoped_stream_partitions(stream_df.sparkSession, n_rows)
        if n_rows is not None else contextlib.nullcontext()
    )
    with ctx:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(table_name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# Session windows (stateful) + sliding windows — batch faces, oracle-paired.
# The identical transformations run under readStream (session_window and
# window are both streaming-legal with a watermark).
# ---------------------------------------------------------------------------

from collections.abc import Callable  # noqa: E402

from etl_globalretail_spark.plans.queries import (  # noqa: E402
    _osum,
    dsum,
    make_query_decorator,
)
from etl_globalretail_spark.sources.readers import (  # noqa: E402
    event_ts_micros,
    infer_read,
    load_table,
    read_footer,
    read_schema,
    table_rows,
)

QUERIES: dict[str, Callable] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)

SESSION_GAP = "30 minutes"


def sessionize(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-user session windows: events < gap apart merge; session end =
    last event + gap. ``session_window`` is Spark's native stateful window —
    in batch it compiles to a merging aggregation, under readStream it keeps
    per-key session state with watermark-driven eviction (the
    applyInPandasWithState use-case, without custom state code)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@_register(
    "q34_sessions",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {val}
    FROM sess GROUP BY user_id, sid
    """.format(val=_osum("value", "sum_value")),
)
def q34_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization (30-min inactivity gap). The oracle is the
    gaps-and-islands formulation — lag + cumulative sum — proving
    session_window's merge semantics equal the classical SQL construction
    (new session iff the gap to the previous event is >= the timeout)."""
    return sessionize(load_table(spark, "events", sf_dir))


def sliding_counts(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows: every event lands in window/slide frames. Shares the
    streaming path of ``sliding_value_avg``; this face carries the
    oracle-comparable aggregate set."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_register(
    "q35_sliding_windows",
    oracle="""
    WITH grid AS (
        SELECT event_type, value,
               CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT)
                                 * 1800) AS TIMESTAMP) AS s1
        FROM events
    ),
    fanned AS (
        SELECT event_type, value,
               unnest([s1 - INTERVAL 30 MINUTE, s1]) AS window_start
        FROM grid
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           {val}
    FROM fanned GROUP BY 1, 2
    """.format(val=_osum("value", "sum_value")),
)
def q35_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes, per event type. The oracle
    fans each event into its two containing epoch-aligned frames — the
    set-in, set-out definition window() implements."""
    return sliding_counts(load_table(spark, "events", sf_dir))


def enrich_with_dim(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich each event with dimension attributes.

    Under ``readStream`` Spark re-plans the static side per micro-batch
    (a broadcast hash join when the dim is small — no stream-side state
    at all); in batch it is the same left join. This is the streaming
    face of the reference's per-row dimension lookups (J2,
    etl_completo.py:637-663) — the dim rides along with every batch
    instead of being probed per row.
    """
    return events.join(F.broadcast(dim), on, "left")


def purchases_with_recent_click(
    events: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase paired with every click by the
    same user in the preceding ``horizon`` (inclusive bounds) — the
    streaming form of q51's attribution shape, with BOUNDED state: the
    watermark plus the time-range condition lets Spark evict clicks older
    than horizon+watermark, so state tracks the join window, not the
    stream's lifetime. (An unbounded-condition stream-stream join would
    hold every click forever — the failure mode this formulation exists
    to avoid.)

    Works identically on a batch frame (the time-range condition is just
    a join predicate there), which is what the parity test exploits.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        how,
    ).select("purchase_id", "user_id", "p_ts", "purchase_value", "click_id", "c_ts")


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the documents parquet (same
    directory+glob mechanics as ``read_event_stream``); schema declared
    from the canonical table schema — no inference on a stream, ever."""
    base = TESTDATA_SCHEMAS["documents"]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in base.fields)
    reader = spark.readStream.schema(fields).format("parquet")
    if path.endswith(".parquet"):
        parent, _, fname = path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        path = parent
    return reader.load(path)


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    min_diversity: float = 0.3,
    max_avg_token_len: float = 12.0,
) -> DataFrame:
    """Streaming ingest quality gate: score each arriving document with the
    BATCH quality feature function (operators/text.quality_features — one
    shared implementation, parity-tested) and keep only docs passing the
    thresholds. Stateless projection + filter: no watermark, no state
    store, scales as pure map work; the reject stream is the complement
    (run with negated thresholds or route via foreachBatch)."""
    from etl_globalretail_spark.operators.text import quality_features

    scored = quality_features(docs)
    return scored.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("lexical_diversity") >= min_diversity)
        & (F.col("avg_token_len") <= max_avg_token_len)
    )


# ---------------------------------------------------------------------------
# Oracle-checked REAL streaming run: the memory-sink result hash-matches SQL.
# ---------------------------------------------------------------------------

@_register(
    "q128_streaming_hourly_exact",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {val}
    FROM events
    GROUP BY 1, 2, 3
    """.format(val=_osum("value", "sum_value")),
)
def q128_streaming_hourly_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ACTUAL Structured Streaming execution, oracle-checked: the events
    parquet is consumed through FileStreamSource (availableNow trigger),
    aggregated by the SAME ``hourly_counts`` the batch face (q16) uses,
    driven into a complete-mode memory sink, and the sink's content is what
    DuckDB's batch SQL must hash-match. Upgrades streaming verification
    from pytest-parity to the cross-engine oracle gate: watermark plumbing,
    state-store aggregation, and sink semantics all sit on the verified
    path.

    Determinism: availableNow drains the (single-file) source and
    complete mode emits every window at the final trigger — no
    late-data/append-mode withholding; sums are decimal-exact.

    Scale notes: identical plan to the batch face plus state-store
    exchange; at production scale the same code runs continuously with
    append mode + watermark eviction (bounded state), which the parity
    tests exercise — the oracle needs the drained-source complete-mode
    form because a hash gate needs a finished answer.
    """
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = hourly_counts(stream)
    sink = "q128_sink"
    run_to_memory_sink(agg, sink, mode="complete",
                       n_rows=table_rows(spark, "events", sf_dir))
    return spark.table(sink)


@_register(
    "q133_streaming_sliding_exact",
    oracle="""
    WITH slides AS (
        SELECT e.*,
               make_timestamp(
                   (epoch_us(ts) // 1800000000 - CAST(g.s AS BIGINT))
                   * 1800000000) AS window_start
        FROM events e, (SELECT unnest(range(0, 2)) AS s) g
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(*) AS avg_value
    FROM slides
    GROUP BY window_start, event_type
    """,
)
def q133_streaming_sliding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL streaming run on the oracle gate: 1-hour windows sliding
    every 30 minutes (each event lands in exactly 2 overlapping frames),
    through FileStreamSource → the shared ``sliding_value_avg`` → an
    availableNow complete-mode memory sink. The sink's rows hash-match
    DuckDB's enumerate-the-slides formulation — each event belongs to
    EXACTLY the 2 windows whose starts are its 30-minute-aligned floor
    and that floor minus one slide (both engines align slides to the
    epoch in integer microseconds) — proving the overlap fan-out, not
    just tumbling assignment (q128).

    Determinism: window starts are exact integer µs arithmetic; averages
    are exact-sum ratios.
    """
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sliding_value_avg(stream)
    sink = "q133_sink"
    run_to_memory_sink(agg, sink, mode="complete",
                       n_rows=table_rows(spark, "events", sf_dir))
    return spark.table(sink)


@_register(
    "q143_streaming_sessions_exact",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           {val}
    FROM sess GROUP BY user_id, sid
    """.format(val=_osum("value", "sum_value")),
)
def q143_streaming_sessions_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL streaming run on the oracle gate — STATEFUL session
    windows: FileStreamSource → the shared ``sessionize`` (session_window,
    the merging per-key state that tumbling/sliding assignment doesn't
    exercise) → availableNow complete-mode memory sink, whose content must
    hash-match DuckDB's gaps-and-islands batch formulation. With q128
    (tumbling) and q133 (sliding) this puts all three window families'
    streaming execution — including session MERGE semantics in the state
    store — on the cross-engine gate, not just pytest parity.

    Determinism: availableNow drains the single-file source; complete mode
    emits every merged session at the final trigger; sums are
    decimal-exact (same contract as the q34 batch face).
    """
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    agg = sessionize(stream)
    sink = "q143_sink"
    run_to_memory_sink(agg, sink, mode="complete",
                       n_rows=table_rows(spark, "events", sf_dir))
    return spark.table(sink)


# ---------------------------------------------------------------------------
# Burst-collapse dedup: the batch face of bounded-window event dedup (the
# streaming face is dedup_stream / dropDuplicatesWithinWatermark). An event
# is a burst-repeat iff the SAME (user, type) fired within `gap` before it;
# collapsing keeps the burst's first event. Exactly the rule used to
# de-bounce trackers/sensors before sessionization.
# ---------------------------------------------------------------------------

BURST_GAP_MIN = 5


def collapse_bursts(events: DataFrame, gap_minutes: int = BURST_GAP_MIN) -> DataFrame:
    """Keep an event iff its predecessor on the (user_id, event_type) key is
    absent or ≥ gap older. One shuffle (the key window); the comparison is
    exact integer microseconds. Predecessor = previous EVENT (not previous
    kept): a long burst collapses to evenly-spaced survivors, bounded
    state — the same contract dropDuplicatesWithinWatermark keeps on
    streams."""
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    return events.withColumn(
        "__keep",
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - prev >= gap_minutes * 60_000_000),
    ).filter(F.col("__keep")).drop("__keep")


@_register(
    "q150_burst_collapse",
    oracle=f"""
    WITH seq AS (
        SELECT event_type, event_id,
               epoch_us(ts) AS tus,
               LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
               ) AS prev_us
        FROM events
    ),
    kept AS (
        SELECT event_type, event_id FROM seq
        WHERE prev_us IS NULL OR tus - prev_us >= {BURST_GAP_MIN} * 60000000
    )
    SELECT s.event_type,
           COUNT(*) AS n_events,
           CAST(COALESCE(SUM(CASE WHEN k.event_id IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN k.event_id IS NOT NULL
                                  THEN s.event_id END), 0) AS BIGINT)
               AS sum_kept_ids
    FROM seq s LEFT JOIN kept k
      ON s.event_type = k.event_type AND s.event_id = k.event_id
    GROUP BY s.event_type
    """,
)
def q150_burst_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-collapse census per event type: events kept after 5-minute
    same-(user, type) de-bouncing, with the kept set id-pinned. Exact
    integer-µs lag arithmetic — the cross-engine-stable form of time
    comparison (cookbook: never interval arithmetic on bare timestamps
    across engines).
    """
    e = load_table(spark, "events", sf_dir)
    kept = collapse_bursts(e).select("event_id")
    marked = e.select("event_type", "event_id").join(
        kept.withColumn("__k", F.lit(1)), "event_id", "left"
    )
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum("__k"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("__k").isNotNull(), F.col("event_id"))),
            F.lit(0),
        ).cast("long").alias("sum_kept_ids"),
    )


@_register(
    "q153_sliding_distinct_users",
    oracle="""
    WITH slides AS (
        SELECT e.*,
               make_timestamp(
                   (epoch_us(ts) // 1800000000 - CAST(g.s AS BIGINT))
                   * 1800000000) AS window_start
        FROM events e, (SELECT unnest(range(0, 2)) AS s) g
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM slides GROUP BY window_start
    """,
)
def q153_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user cardinality per 1-hour window sliding every 30
    minutes — the windowed COUNT DISTINCT every audience/abuse dashboard
    runs. Spark's two-level distinct aggregation (partial sets per
    (window, user), then counts) rides the 2× slide fan-out from q133's
    verified window assignment; the oracle enumerates the same slides by
    integer-µs floor arithmetic.

    Scale notes: exact distinct shuffles the (window, user) grain once —
    the HLL sketch tier (q50/`profiling.hll_partial`) is the
    fixed-memory alternative when user cardinality per window explodes;
    this exact form is its ground truth.
    """
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "n_users")
    )


@_register(
    "q166_streaming_sink_exact",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids,
           {val}
    FROM events GROUP BY event_type
    """.format(val=_osum("value", "sum_value")),
)
def q166_streaming_sink_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL streaming run on the oracle gate — the exactly-once
    SINK path: the events stream drains through ``foreachBatch`` ∘ keyed
    anti-join parquet append (``stream_append_idempotent``), the stream is
    run a SECOND time against the same sink (a full replay — the
    at-least-once failure mode, simulated at 100%), and the aggregation
    of what the sink actually holds must hash-match DuckDB's aggregation
    of the source. Equality proves each event landed exactly once through
    both runs: checkpointed source replay + idempotent keyed append.

    q128/q133/q143 verified streaming AGGREGATION state; this verifies
    the streaming WRITE path end-to-end, files on disk included.
    """
    import shutil
    import tempfile

    from etl_globalretail_spark.streaming.sink import stream_append_idempotent

    work = tempfile.mkdtemp(prefix="q166_sink_")
    sink = f"{work}/sink"
    try:
        for run in range(2):  # second run = total replay; sink must not grow
            stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
            stream_append_idempotent(
                stream, sink, ["event_id"], checkpoint=f"{work}/ckpt_{run}"
            )
        out = (
            spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("event_id").cast("long").alias("sum_ids"),
                dsum(F.col("value"), "sum_value"),
            )
        )
        rows = out.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "event_type string, n_events long, sum_ids long, sum_value double",
    )


@_register(
    "q171_session_paths",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
    ),
    tri AS (
        SELECT event_type AS c,
               LAG(event_type, 1) OVER w AS b,
               LAG(event_type, 2) OVER w AS a,
               LAG(sid, 2) OVER w AS sid2, sid
        FROM sess
        WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT a || '>' || b || '>' || c AS path, COUNT(*) AS n
        FROM tri WHERE a IS NOT NULL
        GROUP BY path
    )
    SELECT path, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
    FROM paths QUALIFY rank <= 15
    """,
)
def q171_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 in-session event-type trigram paths (a>b>c): sessions by the
    q34 30-minute rule, lag-2 windows WITHIN a session so paths never span
    a session boundary, total-ordered top-k. The sequence-mining census
    behind 'what do users do next' dashboards, and q148's higher-order
    sibling."""
    e = load_table(spark, "events", sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(wu)
            >= 30 * 60 * 1_000_000,
            1,
        ).otherwise(0).alias("new_s"),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_s").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    tri = sess.select(
        F.lag("event_type", 2).over(ws).alias("a"),
        F.lag("event_type", 1).over(ws).alias("b"),
        F.col("event_type").alias("c"),
    ).filter(F.col("a").isNotNull())
    paths = tri.groupBy(
        F.concat_ws(">", "a", "b", "c").alias("path")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # bounded top-k (TakeOrderedAndProject + rank over <= 15 rows)
    from etl_globalretail_spark.operators.ranks import global_topk

    return global_topk(
        paths, [("n", "desc"), ("path", "asc")], 15, out="rank"
    ).withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# q194 — stateful streaming DEDUP on the oracle gate (fourth REAL
# streaming execution after q128 tumbling / q133 sliding / q143
# session): the events source is consumed TWICE (union of two file
# streams — a 100% duplicated delivery, the retransmission worst case),
# deduplicated in-flight by dropDuplicatesWithinWatermark keyed on
# event_id, appended to a memory sink, and the SINK content's census is
# what DuckDB's plain-distinct SQL must hash-match. This puts the
# bounded-state dedup operator itself (not just its batch face) on the
# cross-engine gate; q166 covers sink-side idempotency, this covers
# source-side duplicate collapse.
#
# Scale notes: append mode — rows flow through as they arrive; per-key
# state lives only until the watermark passes the key's event time, so
# state tracks the duplication horizon, not stream lifetime. The census
# aggregation runs as a BATCH query over the drained sink (chaining a
# second stateful aggregate behind the dedup in one streaming query is
# legal in Spark 4 but needlessly serializes two state stores here).
# ---------------------------------------------------------------------------

_Q194_SEQ = [0]


@_register(
    "q194_streaming_dedup_exact",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def q194_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real duplicated-delivery streaming run: two unioned file streams
    over the same events source, collapsed by
    dropDuplicatesWithinWatermark(event_id) into an append-mode memory
    sink; the sink census hash-matches DuckDB's each-event-once SQL."""
    path = f"{sf_dir}/events.parquet"
    doubled = read_event_stream(spark, path).unionAll(
        read_event_stream(spark, path)
    )
    deduped = dedup_stream(doubled, keys=("event_id",)).select(
        "event_id", "event_type"
    )
    _Q194_SEQ[0] += 1
    sink = f"q194_sink_{_Q194_SEQ[0]}"
    run_to_memory_sink(deduped, sink, mode="append",
                       n_rows=table_rows(spark, "events", sf_dir))
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q211 — peak concurrency via sweep-line: the maximum number of
# simultaneously-open sessions, and the first moment it is reached —
# capacity planning's headline number, and the textbook interval
# max-overlap problem. Sessions come from the SAME gap rule q34 uses;
# the sweep is +1/−1 deltas at session starts/ends, a prefix sum over
# the (ts, delta) total order (ends sort BEFORE starts at equal ts —
# half-open [start, end) sessions, stated identically in both engines),
# and an argmin-of-first-peak under a total order.
#
# Scale notes: deltas are 2 rows per session (session-grain, not
# event-grain); the prefix sum is one value-ordered window over that
# frame (q149/q173 cost class). At extreme session counts the sweep
# shards by time range with per-range offsets — the q190 two-phase
# device applied to prefix sums.
# ---------------------------------------------------------------------------


@_register(
    "q211_peak_concurrency",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, epoch_us(ts) AS t, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > {30 * 60 * 1_000_000} THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        -- (t, event_id) total order: with duplicate (user_id, ts) rows a
        -- t-only ROWS-frame prefix sum is tie-order dependent (cookbook).
        SELECT user_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid, t
        FROM seq
    ),
    bounds AS (
        SELECT MIN(t) AS t0, MAX(t) + 1 AS t1
        FROM sess GROUP BY user_id, sid
    ),
    deltas AS (
        SELECT t0 AS t, 1 AS delta FROM bounds
        UNION ALL
        SELECT t1 AS t, -1 AS delta FROM bounds
    ),
    swept AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS open_now
        FROM deltas
    ),
    ranked AS (
        SELECT open_now, t,
               ROW_NUMBER() OVER (ORDER BY open_now DESC, t, delta) AS rn
        FROM swept
    )
    SELECT CAST(open_now AS BIGINT) AS peak_concurrency,
           CAST(t AS BIGINT) AS at_epoch_us,
           CAST((SELECT COUNT(*) FROM bounds) AS BIGINT) AS n_sessions
    FROM ranked WHERE rn = 1
    """,
)
def q211_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum simultaneously-open sessions (q34's 30-minute gap rule,
    half-open bounds) and the first microsecond it is reached, by
    sweep-line prefix sum over session-grain deltas."""
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", F.unix_micros("ts").alias("t"), "event_id",
        F.when(
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(wseq) > 30 * 60 * 1_000_000,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("new_s"),
    )
    # (t, event_id) total order — tie-safe prefix sum (cookbook rule).
    wcum = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = seq.select("user_id", F.sum("new_s").over(wcum).alias("sid"), "t")
    bounds = sess.groupBy("user_id", "sid").agg(
        F.min("t").alias("t0"), (F.max("t") + 1).alias("t1")
    ).persist()  # consumed by both delta sides + the session count
    deltas = bounds.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        bounds.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    wsweep = Window.orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = deltas.select(
        "t", "delta", F.sum("delta").over(wsweep).alias("open_now")
    )
    wr = Window.orderBy(F.col("open_now").desc(), "t", "delta")
    n_sessions = bounds.count()  # driver-side scalar (session-grain)
    out = (
        swept.select("open_now", "t", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("open_now").cast("long").alias("peak_concurrency"),
            F.col("t").cast("long").alias("at_epoch_us"),
            F.lit(n_sessions).cast("long").alias("n_sessions"),
        )
    )
    try:
        rows = out.collect()
    finally:
        bounds.unpersist()
    return spark.createDataFrame(
        rows, "peak_concurrency long, at_epoch_us long, n_sessions long"
    )


# ---------------------------------------------------------------------------
# q219 — session depth & bounce census: the product-analytics face of
# q34's sessionization — how deep do sessions go, and what share bounce
# (single-event sessions), sliced by the session's ENTRY event type
# (the landing signal). Depth buckets are powers of two via the bitlen
# device (q206). Entry event = first event in the session under the
# (ts, event_id) total order.
# ---------------------------------------------------------------------------


@_register(
    "q219_session_depth",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                        > {30 * 60 * 1_000_000} THEN 1 ELSE 0 END AS new_s
        FROM events
    ),
    sess AS (
        SELECT user_id, event_id, event_type, t,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
    ),
    numbered AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sid
                                     ORDER BY t, event_id) AS rn
        FROM sess
    ),
    per AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS depth,
               MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type
        FROM numbered GROUP BY user_id, sid
    )
    SELECT entry_type,
           CAST(length(bin(depth)) AS BIGINT) AS depth_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(depth) AS BIGINT) AS sum_events
    FROM per GROUP BY entry_type, depth_bucket
    """,
)
def q219_session_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions per (entry event type, power-of-two depth bucket) with
    bounce counts and event mass — the engagement census over q34's
    session rule."""
    from pyspark.sql.window import Window

    e = load_table(spark, "events", sf_dir)
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("t"),
        F.when(
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(wseq) > 30 * 60 * 1_000_000,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("new_s"),
    )
    wcum = Window.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = seq.select(
        "user_id", "event_id", "event_type", "t",
        F.sum("new_s").over(wcum).alias("sid"),
    )
    wrn = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")
    numbered = sess.select("*", F.row_number().over(wrn).alias("rn"))
    per = numbered.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("depth"),
        F.max(F.when(F.col("rn") == 1, F.col("event_type")))
        .alias("entry_type"),
    )
    return per.groupBy(
        "entry_type",
        F.length(F.bin("depth")).cast("long").alias("depth_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum((F.col("depth") == 1).cast("long")).cast("long")
        .alias("n_bounces"),
        F.sum("depth").cast("long").alias("sum_events"),
    )


# ---------------------------------------------------------------------------
# q230 — LATE / OUT-OF-ORDER data through the watermark, on the hash
# gate (fifth REAL streaming execution): the one streaming behavior the
# q128/q133/q143/q166/q194 ladder had not yet oracle-verified is
# lateness accounting — which late rows the watermark ACCEPTS (arrive
# while their window is still open), which it DROPS, and which windows
# append mode withholds as not-yet-final. The events table is replayed
# as three single-file micro-batches in a controlled arrival order
# (maxFilesPerTrigger=1, mtime-ordered):
#
#   wave 0  "on time"  — 3/4 of rows, PLUS every row carrying the global
#                        max timestamp (moved in by construction so the
#                        watermark is final after wave 0 — see below);
#   wave 1  "late, accepted" — half the held-back rows: they arrive one
#                        batch later, out of order, but merge into their
#                        (still-open) windows and appear in the output;
#   wave 2  "late, dropped"  — the other half: by now the data filter
#                        watermark has advanced past (almost all of)
#                        their windows, so they are dropped — and the
#                        few survivors sit in windows newer than the
#                        final watermark, which append mode withholds.
#
# Empirically pinned Structured Streaming semantics this query encodes
# (and the pytest below re-derives from StreamingQueryProgress so a
# behavior change in a future Spark fails loudly rather than silently):
#   - the EVICTION/EMIT watermark of batch N is max event time over
#     batches 0..N-1 (ms-truncated) minus the delay; a trailing no-data
#     batch runs with the final watermark (noDataMicroBatches default);
#   - the late-data FILTER of batch N lags one batch further: it uses
#     max over batches 0..N-2 (observed: wave-1 rows are never filtered,
#     wave-2 rows are filtered against wave-0's max);
#   - both compare window.end (µs) against (max_ms − delay_ms)·1000.
#
# Moving the global-max rows into wave 0 makes filter wm = eviction wm =
# final wm for every batch that matters, so the oracle is exact: emitted
# = (wave0 ∪ wave1) grouped by hour window where window_end ≤ final wm.
# Wave 2 rows past the watermark are dropped (their absence is the
# audit); wave-2 survivors land above the final watermark and are
# withheld. DuckDB replays the same arithmetic in integer µs/ms.
#
# Scale notes: identical plan to q128 plus the state-store exchange;
# arrival waves stand in for the out-of-order shard arrivals a real
# ingestion tier produces. State is bounded by the watermark horizon.
# ---------------------------------------------------------------------------

_Q230_DELAY_MS = 30 * 60 * 1000


@_register(
    "q230_streaming_late_drop_exact",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(epoch_us(ts) // 1000) AS max_ms FROM events
    ),
    kept AS (
        -- wave 2 (dropped/withheld) = late half with event_id %% 8 = 0,
        -- except rows carrying the global max ts (moved into wave 0)
        SELECT e.* FROM events e, mx
        WHERE NOT (e.event_id % 8 = 0
                   AND epoch_us(e.ts) // 1000 <> mx.max_ms)
    )
    SELECT make_timestamp((epoch_us(k.ts) // 3600000000) * 3600000000)
               AS window_start,
           k.event_type,
           COUNT(*) AS n_events,
           {{val}}
    FROM kept k, mx
    WHERE ((epoch_us(k.ts) // 3600000000) + 1) * 3600000000
          <= (mx.max_ms - {_Q230_DELAY_MS}) * 1000
    GROUP BY 1, 2
    """.format(val=_osum("k.value", "sum_value")),
)
def q230_streaming_late_drop_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly counts/sums through a REAL 3-micro-batch streaming replay
    with out-of-order arrival: late-but-open rows accepted, late-beyond-
    watermark rows dropped, unfinalized windows withheld — the sink is
    hash-matched against DuckDB's replay of the same watermark
    arithmetic."""
    waves = stage_arrival_waves(spark, sf_dir)
    stream = (
        spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves.directory)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )
    sink = "q230_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        waves.cleanup()
    return spark.table(sink)


# Number of staged arrival waves. q247's oracle pins its n_batches
# audit column to THIS constant (f-string), so the fixture and the pin
# cannot drift apart; with maxFilesPerTrigger=1 each non-empty wave is
# exactly one micro-batch.
N_ARRIVAL_WAVES = 3


class _StagedWaves:
    def __init__(self, directory, schema, work):
        self.directory = directory
        self.schema = schema
        self._work = work

    def cleanup(self) -> None:
        """Remove the staged wave files (call once the streaming replay
        has fully consumed them)."""
        import shutil

        shutil.rmtree(self._work, ignore_errors=True)


def stage_arrival_waves(spark: SparkSession, sf_dir: str) -> "_StagedWaves":
    """Materialize the events table as three mtime-ordered single-file
    parquet waves (the controlled arrival order q230 replays).

    Wave membership is a pure function of the row (event_id mod 8) with
    one exception computed as a driver-side 1-value scalar (documented):
    rows carrying the global max timestamp always ride wave 0, so the
    watermark reaches its final value in the first batch and the late
    waves are judged against ONE deterministic horizon in both engines.
    """
    import os
    import tempfile

    e = load_table(spark, "events", sf_dir)
    max_ts = e.agg(F.max("ts")).collect()[0][0]  # driver scalar (1 value)
    is_max = F.col("ts") == F.lit(max_ts)
    m8 = F.pmod(F.col("event_id"), 8)
    late1 = (m8 == 4) & ~is_max
    late2 = (m8 == 0) & ~is_max
    work = tempfile.mkdtemp(prefix="q230_waves_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    conds = [~late1 & ~late2, late1, late2]
    assert len(conds) == N_ARRIVAL_WAVES  # the q247 oracle pin's source
    # ONE write job for all waves: a single task writes one file per
    # partitionBy(__wave) directory — partitionBy drops the wave column
    # from the files, so every wave file keeps the original events
    # schema. (The previous per-wave filter+write ran three scans/jobs.)
    wave_col = F.when(late1, F.lit(1)).when(late2, F.lit(2)).otherwise(
        F.lit(0)
    )
    tmp = os.path.join(work, "staged")
    e.withColumn("__wave", wave_col).coalesce(1).write.partitionBy(
        "__wave"
    ).parquet(tmp)
    for i in range(N_ARRIVAL_WAVES):
        _stage_wave_file(tmp, sdir, i)
    return _StagedWaves(sdir, e.schema, work)


# ---------------------------------------------------------------------------
# q231 — the stream-stream interval join ON THE HASH GATE, through a real
# streaming run: purchases_with_recent_click (symmetric state-store join,
# bounded state from watermark + time-range condition) driven over the
# events table as an actual micro-batch query, its pair output appended
# to a memory sink, then collapsed to an hourly audit grain that DuckDB
# reproduces with the equivalent batch interval join.
#
# Replay discipline: one availableNow wave (the whole table in a single
# file) — with a single micro-batch the watermark never advances mid-run,
# so no input-drop/state-eviction arithmetic enters the result and the
# batch join is the exact semantics. The eviction/lateness side of the
# state store is covered by q230's multi-wave replay; this query pins the
# JOIN side: Spark runs the real symmetric-hash stream-stream join
# (state-store backed), not a batch shortcut — the parity pytest
# (test_stream_stream_join_parity) already checks plan equivalence, this
# puts the executed result on the driver's differential gate.
# ---------------------------------------------------------------------------


@_register(
    "q231_streaming_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT p.purchase_id, p.p_ts, p.value, c.click_id
        FROM p JOIN c
          ON p.user_id = c.user_id
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           CAST(SUM(click_id) AS BIGINT) AS click_checksum,
           {val}
    FROM j GROUP BY 1
    """.format(val=_osum("value", "sum_value")),
)
def q231_streaming_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly audit of the purchase⨝recent-click stream-stream join, run
    through the real state-store join in one availableNow micro-batch and
    hash-matched against DuckDB's batch interval join."""
    import glob
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    work = tempfile.mkdtemp(prefix="q231_stream_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "w0")
    e.coalesce(1).write.parquet(tmp)
    shutil.move(
        glob.glob(tmp + "/part-*.parquet")[0],
        os.path.join(sdir, "wave_0.parquet"),
    )
    stream = spark.readStream.schema(e.schema).parquet(sdir)
    pairs = purchases_with_recent_click(stream)
    sink = "q231_sink"
    try:
        run_to_memory_sink(pairs, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("hour", F.col("p_ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("purchase_id").cast("long").alias("n_purchases"),
            F.sum("click_id").cast("long").alias("click_checksum"),
            F.sum(F.col("purchase_value").cast("decimal(27,6)"))
            .cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q247 — INCREMENTAL sketch maintenance on the hash gate (seventh real
# streaming execution): q240's KMV distinct sketch maintained across a
# real 3-micro-batch replay via foreachBatch. Each micro-batch computes
# its bounded k-min partials (≤ k rows per group per Arrow batch — the
# same kmv_partials kernel) and APPENDS them to a partial store; the
# final merge (union → distinct → k smallest) produces the estimate.
#
# What the oracle proves: union-of-per-batch-k-minima ⊇ global k-minima
# — the KMV merge law — executed through the actual streaming engine
# over out-of-order arrival waves (q230's staged waves, so the batches
# partition the corpus in a scrambled order), hash-equal to DuckDB's
# single-pass k-min over the whole table. This is the Lambda-free
# pattern for streaming cardinality at 100 TB: per-batch state is k·|G|
# rows, the store grows by that per batch, and compaction (re-merging
# the store back to ≤ k rows per group) is the same kmv_sketch call.
# ---------------------------------------------------------------------------


def _register_q247() -> None:
    from etl_globalretail_spark.operators.profiling import (
        _KMV_H,
        _KMV_K,
        kmv_hash,
        kmv_partials,
        kmv_sketch,
    )

    @_register(
        "q247_streaming_kmv",
        oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'kmv'),
                                       1, 13) AS BIGINT) AS hv
            FROM events
        ),
        r AS (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk
            FROM h
        ),
        k AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(hv) AS BIGINT) AS kth_min
            FROM r WHERE rk <= {_KMV_K} GROUP BY event_type
        )
        SELECT event_type, n_kept, kth_min,
               CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept
                         ELSE (63 * {_KMV_H}) // kth_min END AS BIGINT)
                   AS est_distinct,
               CAST({N_ARRIVAL_WAVES} AS BIGINT) AS n_batches
        FROM k
        """,
    )
    def q247_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
        """KMV distinct-user sketch maintained incrementally over a real
        3-micro-batch replay (foreachBatch partial store → final merge);
        the estimate hash-matches DuckDB's whole-table single pass."""
        import os
        import shutil
        import tempfile

        from etl_globalretail_spark.sources.artifacts import materialize

        waves = stage_arrival_waves(spark, sf_dir)
        work = tempfile.mkdtemp(prefix="q247_kmv_")
        accdir = os.path.join(work, "partials")
        try:
            def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
                hashed = batch_df.select(
                    "event_type", kmv_hash(F.col("user_id")).alias("hv")
                )
                kmv_partials(hashed, "event_type", "hv").withColumn(
                    "batch_id", F.lit(batch_id).cast("long")
                ).write.mode("append").parquet(accdir)

            stream = (
                spark.readStream.schema(waves.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(waves.directory)
            )
            with scoped_stream_partitions(
                spark, table_rows(spark, "events", sf_dir)
            ):
                q = (
                    stream.writeStream.foreachBatch(fold_batch)
                    .trigger(availableNow=True)
                    .option("checkpointLocation",
                            os.path.join(work, "ckpt"))
                    .start()
                )
                q.awaitTermination()

            acc = spark.read.parquet(accdir)
            n_batches = acc.select("batch_id").distinct().count()  # driver
            # scalar (≤ #waves values) — run-audit column; the oracle's
            # pin is f-strung from the same N_ARRIVAL_WAVES constant
            sk = kmv_sketch(acc, "event_type", "hv")
            out = sk.select(
                "event_type",
                F.size("mins").cast("long").alias("n_kept"),
                F.element_at("mins", F.size("mins")).cast("long")
                .alias("kth_min"),
            ).withColumn(
                "est_distinct",
                F.expr(
                    f"CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept"
                    f" ELSE (63 * {_KMV_H}) div kth_min END AS BIGINT)"
                ),
            ).withColumn("n_batches", F.lit(n_batches).cast("long"))
            # |event_type|-sized: materialize so the finally can delete
            # the partial store the lazy plan would otherwise re-read
            return materialize(out)
        finally:
            waves.cleanup()
            shutil.rmtree(work, ignore_errors=True)


_register_q247()


# ---------------------------------------------------------------------------
# q265 — sequence-pattern matching over sessions (MATCH_RECOGNIZE-lite):
# does a session contain the ordered subsequence view → click →
# purchase? The row-pattern operator SQL:2016 standardized and Spark
# still lacks; here the session's event-type sequence (under the
# (ts, event_id) total order) collapses to a compact symbol string and
# the pattern becomes one regex over it — map-side after the
# sessionize window, engine-portable because both regex engines agree
# on this POSIX-simple pattern class (greedy .*, single chars).
# Output: per entry-symbol funnel census — sessions, matches, and the
# match rate in permil.
#
# Scale: symbol strings are session-length (bounded by the session
# horizon), built by one window pass + one groupBy collect at session
# grain; the regex is a projection. The same device generalizes to any
# regular pattern (A B+ C, negations via character classes) — the
# full MATCH_RECOGNIZE surface minus per-row measures.
# ---------------------------------------------------------------------------


def _register_q265() -> None:
    @_register(
        "q265_sequence_match",
        oracle=f"""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                             > {30 * 60 * 1000000} OR
                             LAG(epoch_us(ts)) OVER w IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_id, event_type,
                   SUM(brk) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM seq
        ),
        strs AS (
            SELECT user_id, sid,
                   string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id) AS sym
            FROM sess GROUP BY user_id, sid
        )
        SELECT substr(sym, 1, 1) AS entry_symbol,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN regexp_matches(sym, 'v.*c.*p')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel,
               CAST(SUM(CASE WHEN regexp_matches(sym, 'v.*c.*p')
                             THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                    AS BIGINT) AS funnel_permil
        FROM strs GROUP BY 1
        """,
    )
    def q265_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
        """view→click→purchase ordered-subsequence census per session
        entry symbol, via symbol-string collapse + one regex."""
        ev = load_table(spark, "events", sf_dir)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap_us = 30 * 60 * 1000000
        seq = ev.select(
            "user_id", "ts", "event_id", "event_type",
            F.when(
                F.lag(F.unix_micros("ts")).over(w).isNull()
                | (
                    F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                    > gap_us
                ),
                1,
            ).otherwise(0).alias("brk"),
        )
        sess = seq.select(
            "user_id", "ts", "event_id", "event_type",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("sid"),
        )
        strs = (
            sess.groupBy("user_id", "sid")
            .agg(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: F.substring(s["event_type"], 1, 1),
                    ),
                ).alias("sym")
            )
        )
        matched = F.col("sym").rlike("v.*c.*p").cast("long")
        return strs.groupBy(
            F.substring("sym", 1, 1).alias("entry_symbol")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(matched).cast("long").alias("n_funnel"),
            F.expr(
                "CAST(SUM(CAST(sym RLIKE 'v.*c.*p' AS LONG)) * 1000"
                " div COUNT(*) AS BIGINT)"
            ).alias("funnel_permil"),
        )


_register_q265()


# ---------------------------------------------------------------------------
# q268 — streaming MERGE (eighth real streaming execution): a customer-
# update stream applied to a parquet dimension sink through foreachBatch
# ∘ merge_upsert — the lakehouse "streaming upsert into a table" pattern
# (Delta/Iceberg MERGE's dataflow, with the atomic-commit swap standing
# in for the metadata commit, as plans/scd.py documents). Three
# mtime-ordered waves: the base load, then two update waves whose key
# sets overlap (mod-3 and mod-5), so later batches genuinely OVERWRITE
# earlier upserts — the census hash-matches DuckDB's closed-form final
# state (last-writer-wins arithmetic on the key classes).
#
# availableNow + maxFilesPerTrigger=1 serializes the batches in mtime
# order, so the merge order is deterministic; each merge touches the
# sink at the KEY grain (anti-join + union — scd.upsert_frame), which
# is the scale contract: per-batch cost tracks |sink| + |delta|, never
# history.
# ---------------------------------------------------------------------------


def _register_q268() -> None:
    @_register(
        "q268_streaming_upsert",
        oracle="""
        SELECT c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)
                        + CASE WHEN c_custkey % 5 = 0 THEN 700
                               WHEN c_custkey % 3 = 0 THEN 500
                               ELSE 0 END) AS BIGINT) AS sum_cents
        FROM customer GROUP BY c_mktsegment
        """,
    )
    def q268_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Customer dim maintained by a real 3-wave streaming upsert
        (foreachBatch ∘ merge_upsert); final census on the hash gate."""
        import glob
        import os
        import shutil
        import tempfile

        from etl_globalretail_spark.plans.scd import merge_upsert

        cust = load_table(spark, "customer", sf_dir).select(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        waves = [
            cust,
            cust.filter(F.col("k") % 3 == 0).withColumn(
                "cents", F.col("cents") + 500
            ),
            cust.filter(F.col("k") % 5 == 0).withColumn(
                "cents", F.col("cents") + 700
            ),
        ]
        from etl_globalretail_spark.sources.artifacts import materialize

        work = tempfile.mkdtemp(prefix="q268_upsert_")
        try:
            sdir = os.path.join(work, "stream")
            os.makedirs(sdir)
            for i, w in enumerate(waves):
                tmp = os.path.join(work, f"w{i}")
                w.coalesce(1).write.parquet(tmp)
                dst = os.path.join(sdir, f"wave_{i}.parquet")
                shutil.move(glob.glob(tmp + "/part-*.parquet")[0], dst)
                os.utime(dst, (1_000_000_000 + i * 100,) * 2)
            sink = os.path.join(work, "dim_sink")

            def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
                merge_upsert(spark, batch_df, sink, keys=["k"])

            stream = (
                spark.readStream.schema(waves[0].schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(sdir)
            )
            with scoped_stream_partitions(
                spark, table_rows(spark, "customer", sf_dir)
            ):
                q = (
                    stream.writeStream.foreachBatch(apply_batch)
                    .trigger(availableNow=True)
                    .option("checkpointLocation",
                            os.path.join(work, "ckpt"))
                    .start()
                )
                q.awaitTermination()

            out = (
                spark.read.parquet(sink)
                .groupBy("segment")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_customers"),
                    F.sum("cents").cast("long").alias("sum_cents"),
                )
            )
            # |segments|-sized: materialize so the finally can delete
            # the dim sink the lazy plan would otherwise re-read
            return materialize(out)
        finally:
            shutil.rmtree(work, ignore_errors=True)


_register_q268()


# ---------------------------------------------------------------------------
# q287 — stream-stream LEFT OUTER join on the hash gate: q231 pinned the
# inner (match) side of the state-store join; this pins the OUTER side —
# WHEN the engine emits the null-extended row for a purchase no click
# ever matched. Replay: two mtime-ordered waves (everything except a
# held-back slice of clicks; then those late clicks), so the join runs
# with real state: batch-1 late clicks are ACCEPTED (the one-batch-lag
# late filter pinned by q280 #1) and match against purchases still in
# batch-0 state; then state cleanup emits null rows for the purchases
# still unmatched whose p_ts fell STRICTLY behind the final watermark
# W = min(max p_ts, max c_ts) − 10 min (two watermarked sides → the
# engine takes the min; eviction is strict per q280 #2). Unmatched
# purchases at or above W are withheld forever — the replay ends.
# Verified empirically at sf0.001: 5/5 inner pairs, 195/195 null rows,
# 2 unmatched purchases correctly withheld. The oracle is therefore the
# full batch left join with the null leg filtered to p_ts_ms < W_ms.
# ---------------------------------------------------------------------------


@_register(
    "q287_streaming_outer_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.p_ts, p.value, c.click_id
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    ),
    nulls AS (
        SELECT p.purchase_id, p.p_ts, p.value,
               CAST(NULL AS BIGINT) AS click_id
        FROM p, mx
        WHERE epoch_us(p.p_ts) // 1000 < mx.wm
          AND p.purchase_id NOT IN (SELECT purchase_id FROM pairs)
    ),
    em AS (SELECT * FROM pairs UNION ALL SELECT * FROM nulls)
    SELECT date_trunc('hour', p_ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(click_id) AS BIGINT) AS n_matched,
           CAST(COUNT(*) - COUNT(click_id) AS BIGINT) AS n_nulls,
           CAST(COALESCE(SUM(click_id), 0) AS BIGINT) AS click_checksum,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM em GROUP BY 1
    """,
)
def q287_streaming_outer_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of the left-outer purchase⨝click stream-stream
    join run through a real two-wave replay; see block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q287_outer_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="leftOuter")
    sink = "q287_sink"
    try:
        run_to_memory_sink(pairs, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("hour", "p_ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("click_id").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("click_id")).cast("long")
            .alias("n_nulls"),
            F.coalesce(F.sum("click_id"), F.lit(0)).cast("long")
            .alias("click_checksum"),
            F.sum(F.floor(F.col("purchase_value") * 100).cast("long"))
            .cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q288 — stream-static enrichment join on the hash gate: the one core
# production streaming shape (enrich_with_dim — a micro-batch event
# stream joined to a slowly-changing dimension snapshot) that until now
# was only pytest-parity-tested. The static side re-plans per micro-batch
# as a BROADCAST hash join — zero stream-side state, so the operator
# adds no state store at all; the stateful work is only the downstream
# windowed aggregate. This is the streaming face of the reference's
# per-row dimension lookups (J2, etl_completo.py:637-663) at the grain a
# real pipeline runs them: dim rides with the batch, not probed per row.
#
# Determinism: availableNow over the single-file source + complete-mode
# sink (the q128 device); segment attribution is a pure function of the
# join; sums are decimal-exact.
# ---------------------------------------------------------------------------


@_register(
    "q288_stream_static_enrich_exact",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {val}
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """.format(val=_osum("e.value", "sum_value")),
)
def q288_stream_static_enrich_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly event census per customer market segment, computed by a
    REAL Structured Streaming run: event stream → broadcast stream-static
    left join against the customer dim → windowed aggregate → complete-mode
    memory sink, hash-matched against DuckDB's batch join. See block
    comment for why the static side costs no state."""
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet")
    enriched = enrich_with_dim(stream, dim, "user_id")
    # Exact COUNT(DISTINCT user) in a stream: aggregate at the
    # (window, segment, user) grain inside the stream (state is bounded
    # by active users per hour-segment), then finish from the sink —
    # the standard streaming exact-distinct decomposition.  Sums stay in
    # DECIMAL(27,6) through both levels (no double round-trip) so the
    # two-level total is the same exact decimal the oracle's one-level
    # SUM produces.
    fine = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "1 hour"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_dec"),
        )
    )
    sink = "q288_sink"
    run_to_memory_sink(fine, sink, mode="complete",
                       n_rows=table_rows(spark, "events", sf_dir))
    return (
        spark.table(sink)
        .groupBy(F.col("window.start").alias("window_start"), "segment")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.col("sum_dec").cast("decimal(27,6)"))
            .cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q303 — stream-stream FULL OUTER join on the hash gate: completes the
# state-store join matrix (q231 inner, q287 left outer) with the side
# q287 didn't pin — WHEN the engine emits the null-extended row for a
# CLICK no purchase ever matched. Same two-wave replay (held-back late
# clicks accepted under the one-batch-lag rule, then state cleanup).
# Empirics, pinned by probing both fixtures: the left (purchase) null
# boundary is p_ts < W (q287); the right (click) null boundary is
# c_ts < W − horizon — the click side's state-value watermark derived
# from the join condition c_ts ≥ p_ts − horizon (a click can still
# match future purchases until the purchase watermark passes
# c_ts + horizon). At sf0.01 the `c_ts < W` form over-counts by one and
# `c_ts < W − horizon` matches the engine exactly (1971/1971; strict-
# vs-closed at exactly W − horizon is not exercised by the fixtures —
# StreamingJoinHelper's ±1 ms adjustments live there).
# ---------------------------------------------------------------------------


@_register(
    "q303_streaming_full_outer_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.p_ts, p.value, c.click_id, c.c_ts
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    ),
    lnull AS (
        SELECT p.purchase_id, p.p_ts, p.value,
               CAST(NULL AS BIGINT) AS click_id,
               CAST(NULL AS TIMESTAMP) AS c_ts
        FROM p, mx
        WHERE epoch_us(p.p_ts) // 1000 < mx.wm
          AND p.purchase_id NOT IN (SELECT purchase_id FROM pairs)
    ),
    rnull AS (
        SELECT CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS TIMESTAMP) AS p_ts,
               CAST(NULL AS DOUBLE) AS value,
               c.click_id, c.c_ts
        FROM c, mx
        WHERE epoch_us(c.c_ts) // 1000 < mx.wm - 3600000
          AND c.click_id NOT IN (SELECT click_id FROM pairs)
    ),
    em AS (
        SELECT * FROM pairs
        UNION ALL SELECT * FROM lnull
        UNION ALL SELECT * FROM rnull
    )
    SELECT date_trunc('hour', COALESCE(p_ts, c_ts)) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NOT NULL
                          AND click_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_left_null,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_right_null,
           CAST(COALESCE(SUM(click_id), 0) AS BIGINT) AS click_checksum,
           CAST(COALESCE(SUM(CAST(FLOOR(value * 100) AS BIGINT)), 0)
               AS BIGINT) AS value_cents
    FROM em GROUP BY 1
    """,
)
def q303_streaming_full_outer_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of the FULL OUTER purchase⨝click stream-stream join
    run through a real two-wave replay — matched pairs, purchase-side
    null extensions, and click-side null extensions each counted, with
    null-free checksums. See block comment for the pinned boundaries."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q303_full_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="fullOuter")
    sink = "q303_sink"
    try:
        run_to_memory_sink(pairs, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(
            F.date_trunc(
                "hour", F.coalesce("p_ts", "c_ts")
            ).alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (F.col("purchase_id").isNotNull()
                 & F.col("click_id").isNotNull()).cast("long")
            ).cast("long").alias("n_matched"),
            F.sum(F.col("click_id").isNull().cast("long"))
            .cast("long").alias("n_left_null"),
            F.sum(F.col("purchase_id").isNull().cast("long"))
            .cast("long").alias("n_right_null"),
            F.coalesce(F.sum("click_id"), F.lit(0)).cast("long")
            .alias("click_checksum"),
            F.coalesce(
                F.sum(F.floor(F.col("purchase_value") * 100).cast("long")),
                F.lit(0),
            ).cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q309 — stream-stream RIGHT OUTER join on the hash gate: the fourth and
# final member of the state-store join matrix (q231 inner, q287 left,
# q303 full). The engine treats rightOuter as the mirror of leftOuter —
# the null-extended rows are CLICKS no purchase ever matched, emitted at
# the click side's STATE-VALUE watermark c_ts < W − horizon (the q303
# right-side boundary, derived from the join's time-range condition
# c_ts ≥ p_ts − horizon: a click can still match future purchases until
# the purchase watermark passes c_ts + horizon; plain c_ts < W
# over-counts). Same two-wave replay as q287/q303 — held-back late
# clicks are accepted under the one-batch-lag rule AND must then wait
# out their own null-emission boundary. Pinning rightOuter separately
# matters because the engine's one-sided outer paths are distinct code
# (left emits from the LEFT state store's eviction, right from the
# RIGHT's) — symmetry is an implementation promise worth a gate row,
# not an assumption.
# ---------------------------------------------------------------------------


@_register(
    "q309_streaming_right_outer_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.p_ts, p.value, c.click_id, c.c_ts
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    ),
    rnull AS (
        SELECT CAST(NULL AS BIGINT) AS purchase_id,
               CAST(NULL AS TIMESTAMP) AS p_ts,
               CAST(NULL AS DOUBLE) AS value,
               c.click_id, c.c_ts
        FROM c, mx
        WHERE epoch_us(c.c_ts) // 1000 < mx.wm - 3600000
          AND c.click_id NOT IN (SELECT click_id FROM pairs)
    ),
    em AS (SELECT * FROM pairs UNION ALL SELECT * FROM rnull)
    SELECT date_trunc('hour', c_ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(purchase_id) AS BIGINT) AS n_matched,
           CAST(COUNT(*) - COUNT(purchase_id) AS BIGINT) AS n_nulls,
           CAST(COALESCE(SUM(purchase_id), 0) AS BIGINT)
               AS purchase_checksum,
           CAST(SUM(click_id) AS BIGINT) AS click_checksum,
           CAST(COALESCE(SUM(CAST(FLOOR(value * 100) AS BIGINT)), 0)
               AS BIGINT) AS value_cents
    FROM em GROUP BY 1
    """,
)
def q309_streaming_right_outer_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of the RIGHT OUTER purchase⨝click stream-stream
    join run through the two-wave replay — every output row carries a
    click, so the census keys on the click hour; null rows are clicks
    whose c_ts fell behind the state-value watermark W − horizon. See
    block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q309_right_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="rightOuter")
    sink = "q309_sink"
    try:
        run_to_memory_sink(pairs, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("hour", "c_ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_id").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("purchase_id")).cast("long")
            .alias("n_nulls"),
            F.coalesce(F.sum("purchase_id"), F.lit(0)).cast("long")
            .alias("purchase_checksum"),
            F.sum("click_id").cast("long").alias("click_checksum"),
            F.coalesce(
                F.sum(F.floor(F.col("purchase_value") * 100).cast("long")),
                F.lit(0),
            ).cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q310 — stream-stream join CHAINED INTO a session-window aggregate: two
# stateful operators in one streaming query (the post-3.5 multi-stateful
# pipeline shape), run on the hash gate. Attribution sessions: the q231
# inner purchase⨝click join feeds session_window(p_ts, 30 min) per user
# — "bursts of click-attributed purchasing" — with the session agg's
# state living DOWNSTREAM of the join's state.
#
# Emission boundary, pinned by a synthetic probe (6 planted sessions
# straddling the candidates, tests/test_streaming_session_join.py):
# a session is emitted iff session_end < W − horizon STRICT, where
# W = min(max p_ts, max c_ts) − 10 min and horizon = 1 h is the join's
# time-range span: the join delays its output event-time watermark on
# p_ts by the interval (the same state-value-watermark arithmetic as
# q303's right-null boundary), and the session agg emits strictly below
# that delayed watermark — a session ending exactly AT W − horizon is
# withheld (probe user F). Sessions above the boundary are withheld
# forever when the replay ends; the oracle filters to the emitted set.
# (StreamingJoinHelper's ±1 ms adjustments live exactly on the
# boundary; microsecond-grain fixtures never land there.)
# ---------------------------------------------------------------------------


@_register(
    "q310_streaming_session_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.user_id, p.p_ts, p.value, c.click_id
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    ),
    marked AS (
        SELECT user_id, p_ts, click_id, value,
               CASE WHEN p_ts - LAG(p_ts) OVER (
                        PARTITION BY user_id ORDER BY p_ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM pairs
    ),
    sess AS (
        SELECT user_id, p_ts, click_id, value,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY p_ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM marked
    ),
    agg AS (
        SELECT user_id,
               MIN(p_ts) AS session_start,
               MAX(p_ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(click_id) AS BIGINT) AS click_checksum,
               CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_pairs,
           click_checksum, value_cents
    FROM agg, mx
    WHERE epoch_us(session_end) // 1000 < mx.wm - 3600000
    """,
)
def q310_streaming_session_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click-attributed purchase sessions from a REAL two-stateful-
    operator streaming query (stream-stream inner join → session_window
    aggregate → append memory sink), hash-matched against the batch
    gaps-and-islands formulation filtered to the pinned emission
    boundary session_end < W − horizon. See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q310_sess_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="inner")
    sess = (
        pairs.groupBy(
            F.session_window("p_ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("click_id").cast("long").alias("click_checksum"),
            F.sum(F.floor(F.col("purchase_value") * 100).cast("long"))
            .cast("long").alias("value_cents"),
        )
    )
    sink = "q310_sink"
    try:
        run_to_memory_sink(sess, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(sink).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_pairs", "click_checksum", "value_cents",
    )


# ---------------------------------------------------------------------------
# q324 — streaming DEDUP chained into a tumbling window aggregate: the
# third upstream kind in the cookbook's watermark-delay matrix.
# q194's duplicated-delivery shape (two unioned file streams over the
# same source, collapsed by dropDuplicatesWithinWatermark) feeds an
# hourly windowed aggregate INSIDE the same streaming query — dedup
# state upstream of window state, exactly the "idempotent ingest →
# aggregate" pipeline every at-least-once delivery system runs.
#
# Boundary, probe-pinned (tests/test_streaming_dedup_rollup.py):
# dropDuplicatesWithinWatermark adds NO watermark delay — the window
# emits iff window_end ≤ W NON-STRICT, identical to the agg-upstream
# rule (q320), and the counts prove the dedup bit (n = 1 per planted
# duplicate pair, never 2). The matrix: {aggregate, dedup} upstream →
# ≤ W no delay; join upstream → < W − horizon strict (q310/q321).
#
# Oracle: each-event-ONCE hourly census (the doubled delivery must
# vanish) filtered to the non-strict boundary, integer cents.
# ---------------------------------------------------------------------------


@_register(
    "q324_streaming_dedup_rollup_exact",
    oracle="""
    WITH mx AS (
        SELECT MAX(epoch_us(ts) // 1000) AS max_ms FROM events
    )
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
               AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events, mx
    WHERE (epoch_us(ts) // 3600000000 + 1) * 3600000000
          <= (mx.max_ms - 600000) * 1000
    GROUP BY 1, 2
    """,
)
def q324_streaming_dedup_rollup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly per-type census of a DUPLICATED-delivery stream after
    in-query dedup: two unioned file streams over the same events
    source → dropDuplicatesWithinWatermark(event_id) → hourly window
    aggregate → append memory sink, hash-matched against DuckDB's
    each-event-once census at the pinned non-strict boundary. See
    block comment."""
    path = f"{sf_dir}/events.parquet"
    doubled = read_event_stream(spark, path).unionAll(
        read_event_stream(spark, path)
    )
    dd = dedup_stream(doubled, keys=("event_id",))  # 10-min watermark
    agg = (
        dd.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long").alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "id_sum", "value_cents",
        )
    )
    sink = "q324_sink"
    run_to_memory_sink(agg, sink, mode="append",
                       n_rows=table_rows(spark, "events", sf_dir))
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q321 — stream-stream join CHAINED INTO a TUMBLING window aggregate:
# q310's multi-stateful shape with the downstream state being a plain
# time window instead of a session — together with q320 this completes
# the 2×2 watermark-delay matrix the cookbook pins:
#
#                      downstream of AGGREGATE   downstream of JOIN
#   emission boundary  end ≤ W (non-strict,      end < W − horizon
#                      q320 probe)               (STRICT, q310 + q321
#                                                 probes)
#
# The q321 probe (tests/test_streaming_join_rollup.py, planted hourly
# purchase/click pairs with a controlled max event time) confirms the
# join's output-watermark delay is the join's time-range horizon and is
# WINDOW-KIND-INDEPENDENT: a tumbling window ending exactly AT
# W − horizon is withheld, exactly like q310's session (and the ±1 ms
# StreamingJoinHelper adjustment zone sits on the boundary — µs-grain
# data never lands there).
# ---------------------------------------------------------------------------


@_register(
    "q321_streaming_join_rollup_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.p_ts, p.value, c.click_id
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           CAST(SUM(click_id) AS BIGINT) AS click_checksum,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM pairs, mx
    WHERE (epoch_us(p_ts) // 3600000000 + 1) * 3600000000
          < (mx.wm - 3600000) * 1000
    GROUP BY 1
    """,
)
def q321_streaming_join_rollup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly rollup of the purchase⨝recent-click stream-stream join run
    as ONE multi-stateful streaming query (join state → window state)
    over the two-wave late-click replay, hash-matched against the batch
    interval join filtered to the pinned strict boundary window_end <
    W − horizon. See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q321_jroll_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="inner")
    # The streaming tier aggregates at (window, purchase_id) grain —
    # exact distinct-counting inside a streaming agg would need a second
    # dedup state; keeping the purchase key in the group lets the final
    # |emitted windows|-sized batch reduce over the sink count purchases
    # exactly. The emission boundary is a property of the WINDOW column,
    # so the extra key doesn't move it (probe-pinned).
    agg = (
        pairs.groupBy(F.window("p_ts", "1 hour").alias("w"), "purchase_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("click_id").cast("long").alias("click_checksum"),
            F.sum(F.floor(F.col("purchase_value") * 100).cast("long"))
            .cast("long").alias("value_cents"),
        )
    )
    sink = "q321_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(
            F.sum("n_pairs").cast("long").alias("n_pairs"),
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("click_checksum").cast("long").alias("click_checksum"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q320 — tumbling aggregate FEEDING a tumbling RE-AGGREGATE (the second
# multi-stateful shape, VERDICT r7 item 7): hourly (window × event_type)
# counts/sums chained into a 3-hour rollup via window(window_time(w)) —
# two windowed-aggregation state stores in one streaming query, run over
# q230's three out-of-order arrival waves on the hash gate.
#
# Emission boundary, pinned by a synthetic probe (planted hourly events
# with a controlled max event time, tests/test_streaming_rollup.py):
# BOTH tiers emit iff window_end ≤ W NON-STRICT, W = max event time −
# delay — a window ending exactly AT W emits (probe case A: W = the 3 h
# boundary itself). Chained aggregation adds NO watermark delay: an
# aggregate's output event-time watermark equals its input watermark, so
# the rollup inherits the plain q230 rule — the exact opposite posture
# of an op downstream of a stream-stream JOIN, which is delayed by the
# join's time-range horizon and emits STRICTLY below (q310's boundary).
# The emitted rows carry window_time = end − 1 µs (< W by construction),
# which the engine's per-operator watermark simulation admits downstream
# without dropping.
#
# Replay dynamics (q230's arithmetic, one level up): wave-2 rows are
# dropped at the INNER tier (their hourly state was evicted when the
# wave-1 batch closed end ≤ W windows); hourly cells with end > W are
# withheld and never reach the rollup; rollup windows with end > W hold
# emitted cells but are themselves withheld. The oracle replays exactly
# that: kept = ¬wave2, cells emitted iff hour_end ≤ W, rollup emitted
# iff 3h_end ≤ W. Decimal cell sums re-summed at the rollup equal the
# flat decimal sum (exact, order-free) — one double conversion at the
# very end on both engines.
# ---------------------------------------------------------------------------


@_register(
    "q320_streaming_rollup_exact",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(epoch_us(ts) // 1000) AS max_ms FROM events
    ),
    kept AS (
        SELECT e.* FROM events e, mx
        WHERE NOT (e.event_id % 8 = 0
                   AND epoch_us(e.ts) // 1000 <> mx.max_ms)
    ),
    cells AS (
        SELECT epoch_us(k.ts) // 3600000000 AS hr, k.event_type,
               COUNT(*) AS n,
               SUM(CAST(k.value AS DECIMAL(27,6))) AS sv
        FROM kept k, mx
        WHERE (epoch_us(k.ts) // 3600000000 + 1) * 3600000000
              <= (mx.max_ms - {_Q230_DELAY_MS}) * 1000
        GROUP BY 1, 2
    )
    SELECT make_timestamp(
               (hr * 3600000000 // 10800000000) * 10800000000
           ) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(sv) AS DOUBLE) AS sum_value
    FROM cells, mx
    WHERE (hr * 3600000000 // 10800000000 + 1) * 10800000000
          <= (mx.max_ms - {_Q230_DELAY_MS}) * 1000
    GROUP BY 1
    """,
)
def q320_streaming_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hour rollup of hourly counts/sums through a REAL two-tier
    windowed-aggregation streaming query (window → window_time →
    window) over three out-of-order arrival waves, hash-matched against
    DuckDB's replay of the pinned non-strict boundary at both tiers.
    See block comment."""
    waves = stage_arrival_waves(spark, sf_dir)
    stream = (
        spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves.directory)
    )
    inner = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("sv"),
        )
    )
    rollup = (
        inner.groupBy(
            F.window(F.window_time("w"), "3 hours").alias("w3")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
        )
        .select(
            F.col("w3.start").alias("window_start"),
            "n_cells", "n_events", "sum_value",
        )
    )
    sink = "q320_sink"
    try:
        run_to_memory_sink(rollup, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        waves.cleanup()
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q333 — stream-stream join → dropDuplicatesWithinWatermark → tumbling
# window: a THREE-stateful-operator chain (join state → dedup state →
# window state) that pins the matrix's COMPOSITION rule. The pipeline
# is "conversion counting": purchases with ≥1 click in the preceding
# hour, collapsed to ONE row per purchase by the in-query dedup (the
# join's multi-click fanout must not inflate the census), rolled up
# hourly.
#
# Boundary, probe-pinned (tests/test_streaming_join_dedup.py): the
# window emits iff window_end < W − horizon STRICT — the join's
# output-watermark delay PROPAGATES THROUGH the interposed no-delay
# dedup unchanged (fanout-2 planted clicks collapse to n=1, and the
# window ending exactly AT W − horizon is withheld, exactly q321's
# boundary). Composition rule for the cookbook: an operator chain's
# delay is the SUM along the path (join contributes its horizon,
# aggregate/dedup contribute zero), not a property of the op adjacent
# to the window.
#
# Dedup-vs-fanout determinism: the joined stream is projected to
# (purchase_id, p_ts, purchase_value) — columns functionally determined
# by the dedup key — BEFORE dropDuplicatesWithinWatermark, so whichever
# physical row survives is value-identical (cookbook's q195 discipline
# applied to streaming state). Re-match-across-batches safety: any
# joined row carries p_ts ≥ c_ts ≥ the click side's admission bound
# W − horizon, which is exactly the dedup's (delayed) input watermark —
# a purchase's dedup entry therefore cannot expire while late clicks
# can still re-produce it, so each purchase reaches the window exactly
# once.
#
# Oracle: the DISTINCT-purchase projection of q321's interval-join pair
# set, hourly census at the pinned strict boundary.
# ---------------------------------------------------------------------------


@_register(
    "q333_streaming_join_dedup_rollup_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    hits AS (
        SELECT DISTINCT p.purchase_id, p.p_ts, p.value
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(purchase_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM hits, mx
    WHERE (epoch_us(p_ts) // 3600000000 + 1) * 3600000000
          < (mx.wm - 3600000) * 1000
    GROUP BY 1
    """,
)
def q333_streaming_join_dedup_rollup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of purchases with ≥1 click in the preceding hour,
    run as ONE join → dedup → window streaming query over the two-wave
    late-click replay, hash-matched against the batch distinct-purchase
    census at the pinned strict boundary. See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q333_jdd_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, how="inner")
    slim = pairs.select("purchase_id", "p_ts", "purchase_value")
    dd = slim.dropDuplicatesWithinWatermark(["purchase_id"])
    agg = (
        dd.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("purchase_id").cast("long").alias("id_checksum"),
            F.sum(F.floor(F.col("purchase_value") * 100).cast("long"))
            .cast("long").alias("value_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_purchases", "id_checksum", "value_cents",
        )
    )
    sink = "q333_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q344 — DOUBLE stream-stream join: view → click → purchase attribution
# through TWO chained time-interval joins (three live streams from one
# source), rolled up hourly. This is the missing length-3 path in the
# multi-stateful matrix: q321 pinned join → window, q333 pinned
# join → dedup → window; q344 pins join → JOIN → window. Production
# horizons are 12 h (view⋈click) and 24 h (purchase⋈cv) — wide enough
# that the sparse per-user event stream yields a real triple set.
#
# Boundary, probe-pinned (tests/test_streaming_double_join.py): the
# window emits iff window_end < W − (h1 + h2) STRICT — the two joins'
# output-watermark delays COMPOSE ADDITIVELY along the path (probe
# horizons 30 min for click⋈view, 1 h for purchase⋈(click,view):
# at max 05:40 → W = 05:30 withhold the [03:00, 04:00) window ending
# exactly AT 05:30 − 1:30, and a max-horizon rule (− 1:00 only) would
# have emitted it — the probe discriminates sum from max). Confirms
# q333's composition law with a second delay-contributing hop.
#
# Two-wave batch-equality: late views (event_id % 8 == 0) arrive in
# wave 2 of 2. Watermarks take effect at the NEXT trigger and state
# cleanup runs with the watermark of the CURRENT batch, so with
# exactly two data waves no join state is evicted before the last
# match is produced — the stream output is the FULL triple interval
# join (the q333 device), and the only watermark effect is the final
# emission boundary above. (A 3+-wave replay would admit mid-stream
# eviction; that failure mode is q230's late-drop territory, pinned
# separately.)
#
# Oracle: the batch triple interval join, hourly census, filtered to
# end < min(maxV, maxC, maxP) − 10 min − 90 min strict.
# ---------------------------------------------------------------------------


@_register(
    "q344_streaming_double_join_exact",
    oracle="""
    WITH v AS (
        SELECT event_id AS view_id, user_id AS vu, ts AS v_ts
        FROM events WHERE event_type = 'view'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(v_ts)) // 1000 FROM v),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c),
                     (SELECT MAX(epoch_us(p_ts)) // 1000 FROM p))
               - 600000 AS wm
    ),
    triples AS (
        SELECT p.purchase_id, p.p_ts, cv.click_id, cv.view_id
        FROM p
        JOIN (
            SELECT c.click_id, c.cu, c.c_ts, v.view_id
            FROM c JOIN v
              ON c.cu = v.vu
             AND v.v_ts <= c.c_ts
             AND v.v_ts >= c.c_ts - INTERVAL 12 HOURS
        ) cv
          ON p.user_id = cv.cu
         AND cv.c_ts <= p.p_ts
         AND cv.c_ts >= p.p_ts - INTERVAL 24 HOURS
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
           CAST(SUM(click_id) AS BIGINT) AS click_checksum,
           CAST(SUM(view_id) AS BIGINT) AS view_checksum
    FROM triples, mx
    WHERE (epoch_us(p_ts) // 3600000000 + 1) * 3600000000
          < (mx.wm - 129600000) * 1000
    GROUP BY 1
    """,
)
def q344_streaming_double_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of view→click→purchase attribution triples from
    two CHAINED stream-stream interval joins over the two-wave
    late-view replay, hash-matched against the batch triple join at
    the probe-pinned additive boundary. See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "view") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q344_djj_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("vu"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "10 minutes")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("cu"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    cv = clicks.join(
        views,
        (F.col("cu") == F.col("vu"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 12 HOURS")),
        "inner",
    ).select("click_id", "cu", "c_ts", "view_id")
    pcv = purchases.join(
        cv,
        (F.col("user_id") == F.col("cu"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
        "inner",
    )
    agg = (
        pcv.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum("purchase_id").cast("long").alias("purchase_checksum"),
            F.sum("click_id").cast("long").alias("click_checksum"),
            F.sum("view_id").cast("long").alias("view_checksum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_triples", "purchase_checksum",
            "click_checksum", "view_checksum",
        )
    )
    sink = "q344_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q346 — STREAMING HyperLogLog: q341's 256-register cardinality sketch
# maintained incrementally over the REAL 3-micro-batch scrambled-
# arrival replay (the q247 foreachBatch device, applied to the sketch
# family's cardinality member). Each batch folds its rows to per-
# (event_type, bucket) MAX-rho partials appended to a store; the final
# merge MAXes across batches. Register MAX is idempotent, commutative
# and associative, so the streamed sketch is BIT-EQUAL to DuckDB's
# single whole-table pass no matter how arrivals interleave — the HLL
# merge law executed by the streaming engine itself.
#
# Estimator contract is q341's verbatim (integer harmonic sum scaled
# by 2^45, Python-exact alpha numerator, literal linear-counting
# table; seed 'hllu-' keys the user-id space). Exact COUNT(DISTINCT)
# rides beside as the audit column. State at any instant is
# |types|·256 registers — the 100 TB posture of the batch sketch,
# held live on a stream.
# ---------------------------------------------------------------------------


def _register_q346() -> None:
    from etl_globalretail_spark.operators.profiling import (
        _Q341_C,
        _Q341_LC,
        _Q341_M,
    )

    lc_sql = "[" + ", ".join(str(x) for x in _Q341_LC) + "]"

    @_register(
        "q346_streaming_hll",
        oracle=f"""
        WITH hashed AS (
            SELECT event_type,
                   CAST('0x' || substr(md5('hllu-' || user_id), 1, 13)
                        AS BIGINT) AS h
            FROM events
        ),
        regs AS (
            SELECT event_type, h % {_Q341_M} AS bucket,
                   MAX(CASE WHEN h // {_Q341_M} = 0 THEN 45
                            ELSE 45 - LENGTH(BIN(h // {_Q341_M}))
                       END) AS m
            FROM hashed GROUP BY event_type, h % {_Q341_M}
        ),
        sketch AS (
            SELECT event_type,
                   CAST(SUM(1::BIGINT << (45 - m))
                        + ({_Q341_M} - COUNT(*)) * (1::BIGINT << 45)
                        AS BIGINT) AS denom,
                   CAST({_Q341_M} - COUNT(*) AS BIGINT) AS v_empty
            FROM regs GROUP BY event_type
        ),
        est AS (
            SELECT event_type, v_empty,
                   CASE WHEN v_empty > 0
                             AND {_Q341_C} // denom < {5 * 256 // 2}
                        THEN {lc_sql}[v_empty]
                        ELSE {_Q341_C} // denom END AS est_hll
            FROM sketch
        ),
        exact AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(x.n_exact AS BIGINT) AS n_exact,
               CAST(e.v_empty AS BIGINT) AS v_empty,
               CAST(e.est_hll AS BIGINT) AS est_hll,
               CAST(ABS(e.est_hll - x.n_exact) * 1000000 // x.n_exact
                    AS BIGINT) AS err_ppm,
               CAST({N_ARRIVAL_WAVES} AS BIGINT) AS n_batches
        FROM est e JOIN exact x ON e.event_type = x.event_type
        """,
    )
    def q346_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-event-type distinct-user HLL maintained across a real
        3-micro-batch replay; register-MAX merge makes the streamed
        sketch bit-equal to the whole-table pass. See block comment."""
        import os
        import shutil
        import tempfile

        from etl_globalretail_spark.sources.artifacts import materialize

        waves = stage_arrival_waves(spark, sf_dir)
        work = tempfile.mkdtemp(prefix="q346_hll_")
        accdir = os.path.join(work, "partials")
        try:
            def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
                h = F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("hllu-"),
                                       F.col("user_id").cast("string"))),
                        1, 13,
                    ), 16, 10,
                ).cast("long")
                w = F.expr(f"h div {_Q341_M}")
                rho = F.when(w == 0, F.lit(45)).otherwise(
                    F.lit(45) - F.length(F.bin(w))
                )
                (
                    batch_df.select("event_type", h.alias("h"))
                    .select(
                        "event_type",
                        (F.col("h") % _Q341_M).alias("bucket"),
                        rho.alias("rho"),
                    )
                    .groupBy("event_type", "bucket")
                    .agg(F.max("rho").alias("m"))
                    .withColumn("batch_id", F.lit(batch_id).cast("long"))
                    .write.mode("append").parquet(accdir)
                )

            stream = (
                spark.readStream.schema(waves.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(waves.directory)
            )
            with scoped_stream_partitions(
                spark, table_rows(spark, "events", sf_dir)
            ):
                q = (
                    stream.writeStream.foreachBatch(fold_batch)
                    .trigger(availableNow=True)
                    .option("checkpointLocation",
                            os.path.join(work, "ckpt"))
                    .start()
                )
                q.awaitTermination()

            acc = spark.read.parquet(accdir)
            n_batches = acc.select("batch_id").distinct().count()  # driver
            # scalar run-audit; the oracle pins the same constant
            regs = acc.groupBy("event_type", "bucket").agg(
                F.max("m").alias("m")
            )
            sketch = regs.groupBy("event_type").agg(
                (
                    F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 45 - m)"))
                    + (F.lit(_Q341_M) - F.count(F.lit(1)))
                    * F.lit(1 << 45).cast("long")
                ).cast("long").alias("denom"),
                (F.lit(_Q341_M) - F.count(F.lit(1)))
                .cast("long").alias("v_empty"),
            )
            est = sketch.select(
                "event_type", "v_empty",
                F.when(
                    (F.col("v_empty") > 0)
                    & (F.expr(f"{_Q341_C} div denom") < 5 * _Q341_M // 2),
                    F.element_at(
                        F.array(*[F.lit(x) for x in _Q341_LC]),
                        F.col("v_empty").cast("int"),
                    ).cast("long"),
                )
                .otherwise(F.expr(f"{_Q341_C} div denom"))
                .alias("est_hll"),
            )
            e = load_table(spark, "events", sf_dir)
            exact = e.groupBy("event_type").agg(
                F.count_distinct("user_id").alias("n_exact")
            )
            out = est.join(exact, "event_type").select(
                "event_type",
                F.col("n_exact").cast("long").alias("n_exact"),
                F.col("v_empty").cast("long").alias("v_empty"),
                F.col("est_hll").cast("long").alias("est_hll"),
                F.expr("abs(est_hll - n_exact) * 1000000L div n_exact")
                .cast("long").alias("err_ppm"),
                F.lit(n_batches).cast("long").alias("n_batches"),
            )
            # |types|-sized: materialize so the finally can delete the
            # partial store the lazy plan would otherwise re-read
            return materialize(out)
        finally:
            waves.cleanup()
            shutil.rmtree(work, ignore_errors=True)


_register_q346()


# ---------------------------------------------------------------------------
# q362 — dedup → stream-stream join → tumbling window: the REVERSE
# composition of q333 (which put the dedup downstream of the join).
# Pipeline: a DUPLICATED-delivery click stream (the q194 doubled-union
# device) is collapsed by dropDuplicatesWithinWatermark(click_id)
# BEFORE the purchase join, so the join never sees the duplicate
# fanout; the hourly census then counts real pairs only.
#
# Boundary, probe-pinned (tests/test_streaming_dedup_join.py): the
# window emits iff window_end < W − horizon STRICT — the upstream
# dedup contributes ZERO delay (the {agg, dedup}-upstream matrix row)
# and the join contributes its horizon, confirming the sum-along-the-
# path rule on the path where the no-delay op comes FIRST. The dup
# collapse is load-bearing: without it every census count doubles
# (probe-asserted).
#
# Oracle: the batch single-copy interval join at end < min(maxC, maxP)
# − 10 min − 1 h strict.
# ---------------------------------------------------------------------------


@_register(
    "q362_streaming_dedup_join_rollup_exact",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(c_ts)) // 1000 FROM c),
                     (SELECT MAX(epoch_us(p_ts)) // 1000 FROM p))
               - 600000 AS wm
    ),
    pairs AS (
        SELECT p.purchase_id, p.p_ts, c.click_id
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
           CAST(SUM(click_id) AS BIGINT) AS click_checksum
    FROM pairs, mx
    WHERE (epoch_us(p_ts) // 3600000000 + 1) * 3600000000
          < (mx.wm - 3600000) * 1000
    GROUP BY 1
    """,
)
def q362_streaming_dedup_join_rollup_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly purchase-click pair census where the click stream arrives
    DOUBLED and is deduped before the join; hash-matches the batch
    single-copy join at the probe-pinned strict boundary. See block
    comment."""
    path = f"{sf_dir}/events.parquet"
    doubled = read_event_stream(spark, path).unionAll(
        read_event_stream(spark, path)
    )
    clicks = (
        doubled.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("cu"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["click_id"])
    )
    purchases = (
        read_event_stream(spark, path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("cu"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    agg = (
        pairs.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("purchase_id").cast("long").alias("purchase_checksum"),
            F.sum("click_id").cast("long").alias("click_checksum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_pairs", "purchase_checksum", "click_checksum",
        )
    )
    sink = "q362_sink"
    run_to_memory_sink(agg, sink, mode="append",
                       n_rows=table_rows(spark, "events", sf_dir))
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q366 — the NON-KEY-DETERMINED dedup-after-join probe (VERDICT r8
# item 6): q333's join → dropDuplicatesWithinWatermark(purchase_id) →
# window chain, but the projection handed to the dedup CARRIES
# click_id — a column NOT functionally determined by the dedup key (a
# purchase with two clicks in its horizon yields two joined rows, same
# key, different click_id). Horizon is 12 h — the q344 production
# attribution framing — because at the 1 h horizon the fixture's
# click stream is too sparse for ANY purchase to have 2 partners
# (measured: 0 multi-click purchases at sf0.001/0.01/0.1), which would
# make the probe vacuous; at 12 h the luck mass is real (45 multi-
# click purchases inside the sf0.01 boundary). This is exactly the composition the
# cookbook's "safe iff the deduped projection is key-determined" rule
# EXCLUDES, and the probe pins why the rule is necessary:
#
#   WHICH row survives the dedup is micro-batch ARRIVAL order —
#   dropDuplicatesWithinWatermark keeps the first-seen row per key, so
#   a survivor column like click_id flips when the same rows arrive in
#   a different wave order (pinned deterministically in
#   tests/test_streaming_dedup_nonkey.py by staging the SAME two waves
#   in both orders: the surviving click_id set differs, run to run at
#   scale it would be shuffle luck). No hash gate can hold such a
#   column, which is WHY q333 projects to key-determined columns first.
#
# The registered face therefore aggregates ONLY the survivor-INVARIANT
# columns of the deduped stream — n_purchases and id_checksum are
# properties of the surviving KEY SET (one row per joined purchase;
# p_ts is key-determined so window assignment is invariant) — and
# documents the excluded luck mass via a batch-side audit: per window,
# n_multi_purchases (purchases with ≥2 distinct partner clicks — the
# keys whose survivor is arrival luck) and fanout_excess (Σ (partners
# − 1) — the joined rows the dedup discards, each carrying a payload
# the rule says you must not read). n_multi_purchases > 0 at gate SFs
# (pytest-asserted), so the precondition violation is real, not
# hypothetical.
#
# Boundary: identical to q333 (join delays by its horizon, dedup adds
# zero → window emits iff end < W − horizon STRICT); eviction-safety
# clause 2 also unchanged (p_ts ≥ c_ts ≥ the click admission bound).
# ---------------------------------------------------------------------------


@_register(
    "q366_streaming_dedup_nonkey_probe",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id AS cu, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    mx AS (
        SELECT LEAST((SELECT MAX(epoch_us(p_ts)) // 1000 FROM p),
                     (SELECT MAX(epoch_us(c_ts)) // 1000 FROM c))
               - 600000 AS wm
    ),
    per AS (
        SELECT p.purchase_id, p.p_ts,
               COUNT(DISTINCT c.click_id) AS nc
        FROM p JOIN c
          ON p.user_id = c.cu
         AND c.c_ts <= p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 12 HOUR
        GROUP BY p.purchase_id, p.p_ts
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(purchase_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CASE WHEN nc >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_purchases,
           CAST(SUM(nc - 1) AS BIGINT) AS fanout_excess
    FROM per, mx
    WHERE (epoch_us(p_ts) // 3600000000 + 1) * 3600000000
          < (mx.wm - 43200000) * 1000
    GROUP BY 1
    """,
)
def q366_streaming_dedup_nonkey_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q333's join → dedup → window chain with a NON-key-determined
    projection through the dedup: the gate face aggregates only the
    survivor-invariant columns and audits the arrival-luck mass the
    cookbook rule excludes. See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q366_nkd_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    pairs = purchases_with_recent_click(stream, horizon="12 hours",
                                        how="inner")
    # THE probe: click_id rides through the dedup although it is not
    # determined by the key — only invariant columns are aggregated.
    slim = pairs.select("purchase_id", "p_ts", "click_id")
    dd = slim.dropDuplicatesWithinWatermark(["purchase_id"])
    agg = (
        dd.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("purchase_id").cast("long").alias("id_checksum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_purchases", "id_checksum",
        )
    )
    sink = "q366_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    streamed = spark.table(sink)

    # Batch audit of the excluded luck mass, same boundary (driver
    # scalars: the two stream maxima — bounded by construction).
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"), F.col("ts").alias("c_ts"),
    )
    per = (
        p.join(
            c,
            (p["user_id"] == c["cu"])
            & (c["c_ts"] <= p["p_ts"])
            & (c["c_ts"] >= p["p_ts"] - F.expr("INTERVAL 12 HOUR")),
        )
        .groupBy("purchase_id", "p_ts")
        .agg(F.count_distinct("click_id").cast("long").alias("nc"))
    )
    audit = (
        per.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.sum(F.when(F.col("nc") >= 2, 1).otherwise(0))
            .cast("long").alias("n_multi_purchases"),
            F.sum(F.col("nc") - 1).cast("long").alias("fanout_excess"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_multi_purchases", "fanout_excess",
        )
    )
    return streamed.join(audit, "window_start").select(
        "window_start", "n_purchases", "id_checksum",
        "n_multi_purchases", "fanout_excess",
    )


# ---------------------------------------------------------------------------
# q371 — JOIN OF TWO WINDOWED AGGREGATES (the reverse factoring of
# q321's join-then-aggregate): hourly click census ⋈ hourly purchase
# census on WINDOW EQUALITY, the "conversion rate per hour from two
# independently aggregated streams" shape — and the missing row of the
# watermark-delay matrix. All prior rows pinned ops downstream of a
# TIME-INTERVAL join (horizon > 0); this pins that a window-EQUALITY
# equi-join of two completed aggregates contributes ZERO delay:
#
#   emit iff window_end ≤ W NON-STRICT (probe-pinned,
#   tests/test_streaming_agg_join.py: max 05:10 → W = 05:00 and the
#   [04:00, 05:00) window ending exactly AT W is EMITTED — a strict
#   rule would withhold it). The delay rule tracks the join's TIME
#   HORIZON, not join-ness: an equi-join on window structs has
#   horizon 0, so the sum-along-the-path total is 0 and the agg-side
#   non-strict posture survives the join unchanged.
#
# W is the query-GLOBAL watermark min(max click ts, max purchase ts)
# − 10 min (one watermark per query across both inputs). INNER join:
# only hours with BOTH clicks and purchases emit — mirrored in the
# oracle's inner join.
#
# Oracle: the two batch hourly censuses joined at the pinned
# non-strict boundary.
# ---------------------------------------------------------------------------


@_register(
    "q371_streaming_agg_join_exact",
    oracle="""
    WITH c AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h,
               COUNT(*) AS n_clicks,
               SUM(event_id) AS click_checksum
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    p AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h,
               COUNT(*) AS n_purchases,
               SUM(event_id) AS purchase_checksum
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    mx AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) // 1000 FROM events
             WHERE event_type = 'click'),
            (SELECT MAX(epoch_us(ts)) // 1000 FROM events
             WHERE event_type = 'purchase')) - 600000 AS wm
    )
    SELECT make_timestamp(c.h) AS window_start,
           CAST(c.n_clicks AS BIGINT) AS n_clicks,
           CAST(p.n_purchases AS BIGINT) AS n_purchases,
           CAST(c.click_checksum AS BIGINT) AS click_checksum,
           CAST(p.purchase_checksum AS BIGINT) AS purchase_checksum,
           CAST(p.n_purchases * 1000 // c.n_clicks AS BIGINT)
               AS conversion_permil
    FROM c JOIN p ON c.h = p.h, mx
    WHERE c.h + 3600000000 <= mx.wm * 1000
    """,
)
def q371_streaming_agg_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly conversion census from a window-equality join of two
    windowed-aggregate streams, run over the two-wave late-click
    replay and hash-matched against the batch censuses at the pinned
    NON-STRICT boundary (the join adds no delay). See block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q371_aj_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.sum("event_id").cast("long").alias("click_checksum"),
        )
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("event_id").cast("long").alias("purchase_checksum"),
        )
    )
    joined = clicks.join(purchases, "w").select(
        F.col("w.start").alias("window_start"),
        "n_clicks", "n_purchases",
        "click_checksum", "purchase_checksum",
        F.expr("n_purchases * 1000L div n_clicks").cast("long")
        .alias("conversion_permil"),
    )
    sink = "q371_sink"
    try:
        run_to_memory_sink(joined, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q375 — UNION of two differently-delayed streams feeding ONE windowed
# aggregate: the multi-INPUT row of the watermark matrix. Every prior
# row pinned multi-OPERATOR chains (join/dedup/agg upstream of a
# window); this pins how a query with TWO withWatermark nodes — the
# union-of-sources ingest every production topology has (e.g. a
# backfill stream union'd with the live stream, or two regional
# feeds) — derives its ONE query-global watermark:
#
#   W = MIN over branches of (that branch's max event time − that
#   branch's OWN delay)   [default multipleWatermarkPolicy = min]
#
# and the union itself adds NO delay: the downstream window emits iff
# window_end ≤ W NON-STRICT (the agg-upstream posture, q320's rule).
# Probe-pinned (tests/test_streaming_union_wm.py): clicks carry a
# 10-minute delay, purchases 90 minutes; a window inside
# (W_min, W_max] — where the two policies disagree — is WITHHELD,
# discriminating min from max; the window ending exactly AT W_min is
# EMITTED, discriminating non-strict from strict. The slow branch
# therefore GATES the whole union (the documented ops cost of mixed
# delays: a 90-minute backfill feed holds back a 10-minute live feed's
# emissions — to decouple them, run separate queries).
#
# Replay: the standard two-wave late-click staging (clicks with
# event_id % 8 == 0 arrive in wave 1). Branch watermarks are floored
# to ms (Spark tracks event-time stats in ms) exactly as q371's oracle
# does. Oracle: one batch census of the union'd cohorts at the pinned
# min/non-strict boundary.
# ---------------------------------------------------------------------------


@_register(
    "q375_streaming_union_exact",
    oracle="""
    WITH u AS (
        SELECT ts, event_id, event_type FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    mx AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) // 1000 FROM events
             WHERE event_type = 'click') - 600000,
            (SELECT MAX(epoch_us(ts)) // 1000 FROM events
             WHERE event_type = 'purchase') - 5400000) AS wm_ms
    ),
    agg AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h,
               COUNT(*) AS n_rows,
               SUM(CASE WHEN event_type = 'click'
                   THEN 1 ELSE 0 END) AS n_clicks,
               SUM(CASE WHEN event_type = 'purchase'
                   THEN 1 ELSE 0 END) AS n_purchases,
               SUM(event_id) AS checksum
        FROM u GROUP BY 1
    )
    SELECT make_timestamp(h) AS window_start,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_clicks AS BIGINT) AS n_clicks,
           CAST(n_purchases AS BIGINT) AS n_purchases,
           CAST(checksum AS BIGINT) AS checksum
    FROM agg, mx
    WHERE h + 3600000000 <= mx.wm_ms * 1000
    """,
)
def q375_streaming_union_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly census over the UNION of a 10-minute-delay click stream
    and a 90-minute-delay purchase stream, hash-matched against the
    batch census at the pinned min-policy / non-strict boundary. See
    block comment."""
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    late = (F.col("event_type") == "click") & (F.col("event_id") % 8 == 0)
    work = tempfile.mkdtemp(prefix="q375_un_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "staged")
    e.withColumn(
        "__wave", F.when(late, F.lit(1)).otherwise(F.lit(0))
    ).coalesce(1).write.partitionBy("__wave").parquet(tmp)
    for i in range(2):
        _stage_wave_file(tmp, sdir, i)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sdir)
    ).select("ts", "event_id", "event_type")
    clicks = stream.filter(F.col("event_type") == "click").withWatermark(
        "ts", "10 minutes"
    )
    purchases = stream.filter(
        F.col("event_type") == "purchase"
    ).withWatermark("ts", "90 minutes")
    agg = (
        clicks.unionByName(purchases)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum((F.col("event_type") == "click").cast("long"))
            .cast("long").alias("n_clicks"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long").alias("n_purchases"),
            F.sum("event_id").cast("long").alias("checksum"),
        )
        .select(F.col("w.start").alias("window_start"),
                "n_rows", "n_clicks", "n_purchases", "checksum")
    )
    sink = "q375_sink"
    try:
        run_to_memory_sink(agg, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.table(sink)


# ---------------------------------------------------------------------------
# q376 — LEFT SEMI stream-stream interval join: "purchases that HAD a
# click within the prior hour" as an existence test, not a pair
# enumeration. The join-matrix's projection row: q231 pins the INNER
# interval join (n_pairs grain — a purchase with 3 matching clicks
# emits 3 rows), q287/q303/q309 pin the OUTER null-emission timing;
# semi is the third output contract — each matched LEFT row emits
# EXACTLY ONCE however many clicks match, unmatched rows never emit.
# Probe-pinned (tests/test_streaming_semi_join.py): two simultaneous
# wave-0 matches → one output row; a purchase whose ONLY match arrives
# in a later wave emits then (left state retained until the watermark
# proves no admissible click can still match it); a duplicate late
# click re-matching an already-emitted purchase does NOT re-emit.
#
# At 100 TB this is the attribution-filter topology (emit the
# conversion event once, don't fan out per touchpoint): state is the
# same symmetric interval-join store as q231 — bounded by
# watermark + horizon — but the OUTPUT is |matched purchases|, not
# |pairs|, which is what keeps the downstream sink linear when a bot
# user has 10^4 clicks per purchase.
#
# Replay discipline: one availableNow wave (the q231 stance) — the
# watermark never advances mid-run, so no eviction arithmetic enters
# the result and the batch EXISTS is the exact semantics; the
# eviction/late side is the probe's job. Oracle: EXISTS + hourly
# census.
# ---------------------------------------------------------------------------


@_register(
    "q376_streaming_semi_join_exact",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ),
    m AS (
        SELECT p.purchase_id, p.p_ts, p.value
        FROM p
        WHERE EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.c_ts <= p.p_ts
              AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        )
    )
    SELECT make_timestamp((epoch_us(p_ts) // 3600000000) * 3600000000)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
           {val}
    FROM m GROUP BY 1
    """.format(val=_osum("value", "sum_value")),
)
def q376_streaming_semi_join_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hourly census of purchases with ≥1 click in the prior hour, run
    through the real LEFT SEMI state-store join (one availableNow
    wave) and hash-matched against DuckDB's EXISTS. See block
    comment."""
    import glob
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    work = tempfile.mkdtemp(prefix="q376_semi_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "w0")
    e.coalesce(1).write.parquet(tmp)
    shutil.move(
        glob.glob(tmp + "/part-*.parquet")[0],
        os.path.join(sdir, "wave_0.parquet"),
    )
    stream = spark.readStream.schema(e.schema).parquet(sdir)
    p = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("p_ts", "10 minutes")
    c = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    matched = p.join(
        c,
        (F.col("p_uid") == F.col("c_uid"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    sink = "q376_sink"
    try:
        run_to_memory_sink(matched, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(F.date_trunc("hour", F.col("p_ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("purchase_id").cast("long").alias("purchase_checksum"),
            F.sum(F.col("purchase_value").cast("decimal(27,6)"))
            .cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q377 — STREAM ENRICHMENT AGAINST A COMPLETED WINDOWED AGGREGATE: raw
# purchases joined to the PREVIOUS hour's click census (windowed agg →
# equi-join with a raw stream) — the agg-UPSTREAM-of-join row of the
# watermark matrix, and the reverse factoring of q310's join-upstream
# rows. The production topology is real-time decisioning against
# just-closed windows (rate limits from last hour's traffic, fraud
# scores against the prior window's profile).
#
# Two rules pinned (tests/test_streaming_agg_enrich.py):
#   * A stream-stream join REQUIRES an equality predicate
#     (streamJoinStreamWithoutEqualityPredicateUnsupportedError —
#     probed; a pure time-range condition is rejected). The horizon is
#     FOLDED INTO THE KEY: date_trunc(hour, p_ts) − 1h = census window
#     start — an event-time-DERIVED key, generalizing q371's
#     window-struct equality.
#   * Pairs emit at the census's OWN non-strict boundary: purchase p in
#     hour H pairs with census H−1 iff (H−1)-window end = H ≤ W_click
#     NON-STRICT (the 06:10 probe: W = 06:00, the census ending exactly
#     AT W joins and emits). The agg's zero delay propagates through
#     the derived-key equi-join unchanged — horizon 0, path sum 0 — and
#     the RAW side is not additionally gated (all resident purchases
#     pair; probe-observed retention across the agg-flush batch).
#
# The redundant range condition (p_ts ∈ (wt, wt + 1h]) is implied by
# the key equality but stated anyway: it is what lets the engine bound
# the raw side's state at cluster scale instead of retaining every
# purchase forever — the production posture for this topology.
#
# Replay discipline: one availableNow wave (the q231/q376 stance), so
# the batch prev-hour join restricted to W-emitted censuses is exact.
# ---------------------------------------------------------------------------


@_register(
    "q377_streaming_agg_enrich_exact",
    oracle="""
    WITH c AS (
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS h,
               COUNT(*) AS n_clicks,
               SUM(event_id) AS click_checksum
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    mx AS (
        SELECT (SELECT MAX(epoch_us(ts)) // 1000 FROM events
                WHERE event_type = 'click') - 600000 AS wm_ms
    ),
    p AS (
        SELECT event_id AS purchase_id, ts AS p_ts,
               (epoch_us(ts) // 3600000000) * 3600000000 AS ph
        FROM events WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT p.purchase_id, p.ph, c.n_clicks, c.click_checksum
        FROM p JOIN c ON p.ph - 3600000000 = c.h, mx
        WHERE c.h + 3600000000 <= mx.wm_ms * 1000
    )
    SELECT make_timestamp(ph) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(purchase_id) AS BIGINT) AS purchase_checksum,
           CAST(n_clicks AS BIGINT) AS prev_n_clicks,
           CAST(click_checksum AS BIGINT) AS prev_click_checksum
    FROM j GROUP BY ph, n_clicks, click_checksum
    """,
)
def q377_streaming_agg_enrich_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchases enriched with the PREVIOUS hour's click census through
    a real windowed-agg → derived-key stream-stream equi-join, one
    availableNow wave, hash-matched against the batch prev-hour join at
    the census's non-strict boundary. See block comment."""
    import glob
    import os
    import shutil
    import tempfile

    e = load_table(spark, "events", sf_dir)
    work = tempfile.mkdtemp(prefix="q377_enrich_")
    sdir = os.path.join(work, "stream")
    os.makedirs(sdir)
    tmp = os.path.join(work, "w0")
    e.coalesce(1).write.parquet(tmp)
    shutil.move(
        glob.glob(tmp + "/part-*.parquet")[0],
        os.path.join(sdir, "wave_0.parquet"),
    )
    stream = spark.readStream.schema(e.schema).parquet(sdir)
    census = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("prev_n_clicks"),
            F.sum("event_id").cast("long").alias("prev_click_checksum"),
        )
        .select(
            F.col("w.start").alias("cw_start"),
            F.window_time("w").alias("wt"),
            "prev_n_clicks", "prev_click_checksum",
        )
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    ).withWatermark("p_ts", "10 minutes")
    enriched = purchases.join(
        census,
        (
            F.date_trunc("hour", F.col("p_ts")) - F.expr("INTERVAL 1 HOUR")
            == F.col("cw_start")
        )
        & (F.col("p_ts") > F.col("wt"))
        & (F.col("p_ts") <= F.col("wt") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    sink = "q377_sink"
    try:
        run_to_memory_sink(enriched, sink, mode="append",
                           n_rows=table_rows(spark, "events", sf_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy(
            F.date_trunc("hour", F.col("p_ts")).alias("window_start"),
            "prev_n_clicks", "prev_click_checksum",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("purchase_id").cast("long").alias("purchase_checksum"),
        )
        .select("window_start", "n_purchases", "purchase_checksum",
                "prev_n_clicks", "prev_click_checksum")
    )


# ---------------------------------------------------------------------------
# q407 — STREAMING TAMPER-EVIDENT LEDGER (the streaming face of q399's
# hash-chain audit; QLDB-style journals work exactly this way — each
# committed batch extends per-shard chains whose heads attest the whole
# history): the PURCHASE event stream, replayed through the standing
# 3-wave mtime-ordered staging (q230's machinery), maintains 8 shard
# chains (user_id mod 8 — deliberately INDEPENDENT of the event_id-mod
# wave function, so every shard spans every batch and the carried-head
# seeding is genuinely exercised on the gate) across REAL
# micro-batches. Each batch extends every present
# shard's chain — distributed (one applyInPandas group per shard, the
# q399 kernel seeded with the carried head), with only the ≤8 heads on
# the driver between batches (the q346 incremental-maintenance
# pattern). The audit table is (batch, shard) → (rows folded, head
# after) — what a verifier checks per commit.
#
# Determinism: batch order = wave order (mtime staging +
# maxFilesPerTrigger=1, availableNow — house-proven); within a batch a
# shard's rows fold in event_id order; digests are md5 over the typed
# row fields. The oracle replays the identical fold as one recursive
# CTE per shard over the (wave, event_id) total order, reading heads
# at wave boundaries.
# ---------------------------------------------------------------------------


def _register_q407() -> None:
    @_register(
        "q407_streaming_ledger",
        oracle="""
        WITH RECURSIVE mx AS (SELECT MAX(ts) AS m FROM events),
        base AS MATERIALIZED (
            SELECT user_id % 8 AS shard,
                   CASE WHEN event_id % 8 = 4 AND ts <> mx.m THEN 1
                        WHEN event_id % 8 = 0 AND ts <> mx.m THEN 2
                        ELSE 0 END AS wave,
                   event_id,
                   md5('led|' || CAST(event_id AS VARCHAR) || '|'
                       || CAST(user_id AS VARCHAR) || '|' || event_type
                       || '|' || CAST(CAST(FLOOR(value * 100) AS BIGINT)
                                      AS VARCHAR)) AS digest
            FROM events CROSS JOIN mx
            WHERE event_type = 'purchase'
        ),
        idx AS MATERIALIZED (
            SELECT shard, wave, event_id, digest,
                   ROW_NUMBER() OVER (
                       PARTITION BY shard ORDER BY wave, event_id
                   ) AS rn
            FROM base
        ),
        chain AS (
            SELECT shard, rn, wave, md5('genesis' || digest) AS h
            FROM idx WHERE rn = 1
            UNION ALL
            SELECT i.shard, i.rn, i.wave, md5(c.h || i.digest)
            FROM chain c JOIN idx i
              ON i.shard = c.shard AND i.rn = c.rn + 1
        ),
        bounds AS MATERIALIZED (
            SELECT shard, wave, MAX(rn) AS last_rn,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM idx GROUP BY shard, wave
        )
        SELECT CAST(b.wave AS BIGINT) AS batch_id,
               CAST(b.shard AS BIGINT) AS shard,
               b.n_rows,
               c.h AS head
        FROM bounds b
        JOIN chain c ON c.shard = b.shard AND c.rn = b.last_rn
        """,
    )
    def q407_streaming_ledger(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-(batch, shard) ledger heads over a real 3-micro-batch
        purchase-stream replay. See block comment."""
        import os
        import tempfile

        import pandas as pd

        import shutil

        waves = stage_arrival_waves(spark, sf_dir)
        work = tempfile.mkdtemp(prefix="q407_ledger_")
        heads: dict[int, str] = {}
        audit: list[tuple[int, int, int, str]] = []

        def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
            b = (
                batch_df.filter(F.col("event_type") == "purchase")
                .select(
                    (F.col("user_id") % 8).cast("long").alias("shard"),
                    "event_id",
                    F.md5(
                        F.concat_ws(
                            "|", F.lit("led"),
                            F.col("event_id").cast("string"),
                            F.col("user_id").cast("string"),
                            F.col("event_type"),
                            F.floor(F.col("value") * 100).cast("long")
                            .cast("string"),
                        )
                    ).alias("digest"),
                )
            )
            if not heads:
                seed_df = spark.createDataFrame(
                    [(-1, "genesis")], "shard long, seed string"
                )
            else:
                seed_df = spark.createDataFrame(
                    [(s, h) for s, h in heads.items()],
                    "shard long, seed string",
                )
            joined = b.join(F.broadcast(seed_df), "shard", "left")

            def _chain(pdf: pd.DataFrame) -> pd.DataFrame:
                import hashlib

                pdf = pdf.sort_values("event_id")
                seeds = pdf["seed"].dropna()
                h = seeds.iloc[0] if len(seeds) else "genesis"
                for d in pdf["digest"]:
                    h = hashlib.md5((h + d).encode()).hexdigest()
                return pd.DataFrame(
                    {
                        "shard": [int(pdf["shard"].iloc[0])],
                        "n_rows": [len(pdf)],
                        "head": [h],
                    }
                )

            rows = (
                joined.groupBy("shard")
                .applyInPandas(
                    _chain, "shard long, n_rows long, head string"
                )
                .collect()  # ≤ 8 shard heads per batch
            )
            for r in rows:
                heads[r["shard"]] = r["head"]
                audit.append(
                    (batch_id, r["shard"], r["n_rows"], r["head"])
                )

        stream = (
            spark.readStream.schema(waves.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(waves.directory)
        )
        try:
            with scoped_stream_partitions(
                spark, table_rows(spark, "events", sf_dir)
            ):
                q = (
                    stream.writeStream.foreachBatch(fold_batch)
                    .trigger(availableNow=True)
                    .option(
                        "checkpointLocation", os.path.join(work, "ckpt")
                    )
                    .start()
                )
                q.awaitTermination()
        finally:
            # always reap the staged waves and the mkdtemp checkpoint
            # dir, success or raise (ADVICE r9)
            waves.cleanup()
            shutil.rmtree(work, ignore_errors=True)
        return spark.createDataFrame(
            audit, "batch_id long, shard long, n_rows long, head string"
        )


_register_q407()
