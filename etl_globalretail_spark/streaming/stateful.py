"""Custom stateful streaming: applyInPandasWithState.

``session_window``/``window`` cover the standard stateful aggregations with
zero Python in the hot path (streaming/windows.py) — this module is the
escape hatch for state machines Spark has no operator for, shown on a
running per-user accumulator. Pattern notes that matter at scale:

- state is per *group* (here: per user); Spark shuffles each micro-batch by
  the grouping key, so state never migrates — the operator parallelizes to
  exactly the key cardinality;
- the callback receives an ITERATOR of Arrow-batched pandas frames (a large
  group never materializes at once) and must drain it;
- emitted rows are the operator's output stream ("update" semantics here:
  one refreshed total per user per micro-batch the user appears in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", DoubleType()),
    ]
)


def _update_totals(key, pdf_iter, state: GroupState):
    import pandas as pd

    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
    )


def running_user_totals(stream_events: DataFrame) -> DataFrame:
    """Cumulative per-user event count + value total, carried across
    micro-batches in explicit group state. The batch-mode ground truth is a
    plain groupBy aggregation; the parity test drives this through a
    two-file stream so state genuinely crosses a batch boundary."""
    return (
        stream_events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — the Spark 4 arbitrary-state API.
# ---------------------------------------------------------------------------
#
# Same running-totals semantics as `running_user_totals`, expressed through
# the successor API (SPARK-49564). What the newer surface buys at scale:
# typed named state cells (ValueState/ListState/MapState) instead of one
# tuple, per-cell TTLs for state-store hygiene without hand-rolled timeout
# plumbing, and event-time timers for expiry callbacks. The parity test
# drives both implementations over the same two-batch stream and asserts
# identical results — the ground truth stays the batch groupBy.
#
# Environment note: executing TWS needs (a) the RocksDB state store
# provider and (b) the protobuf runtime (the Python state server speaks
# proto to the JVM); this container lacks protobuf, so the parity test
# skips there while the operator remains importable and plannable.


def _make_totals_processor():
    """Factory (class defined lazily): the processor is pickled to workers,
    and defining it inside keeps this module importable on stripped-down
    PySpark builds where the stateful_processor module is absent."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            n, s = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

        def close(self) -> None:
            pass

    return RunningTotalsProcessor()


def running_user_totals_tws(stream_events: DataFrame) -> DataFrame:
    """`running_user_totals` on the transformWithStateInPandas API — the
    operator a new deployment should reach for (named state cells, TTL,
    timers); kept semantically identical to the applyInPandasWithState twin
    so the parity test can hold both to the batch ground truth."""
    return (
        stream_events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_totals_processor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
    )


# ---------------------------------------------------------------------------
# q280 — applyInPandasWithState ON THE HASH GATE (VERDICT r3 item 8):
# running per-(user, event_type) totals with EVENT-TIME EVICTION, driven through the
# real streaming engine over the q230 staged out-of-order waves, and the
# full emission stream (updates + eviction tombstones + post-eviction
# restarts) hash-matched against a DuckDB closed form.
#
# The state machine: per (user, event_type) group, state = (n, cents,
# max_ts_ms). Each batch the group appears in emits an 'update' row with the cumulative totals
# and re-arms an event-time timeout at max_ts_ms + 10 min. A user absent
# from a batch whose timeout fell behind the watermark is EVICTED: the
# timeout callback emits an 'evicted' tombstone with the totals at
# eviction and removes the state — a later wave restarts the user from
# zero (observable: the restart's totals count only the later rows).
#
# Why this is closed-form replayable: wave membership is a pure function
# of the row (event_id mod 8, with global-max-ts rows pinned to wave 0),
# and wave 0 carries the global max timestamp so the watermark is at its
# final value W = max_ts_ms − 30 min from the first batch boundary on.
# Three engine behaviors were pinned EMPIRICALLY (boundary fixtures in
# tests/test_stateful_eviction.py) and are what the oracle replays:
# 1. LATE-INPUT FILTER LAGS ONE BATCH: batch 1 is filtered with the
#    pre-batch-0 watermark (0 — every out-of-order wave-1 row is
#    accepted); batch 2 is filtered with W, keeping only rows with
#    ts STRICTLY above the watermark instant (ts_us > W_ms·1000;
#    ts == W is dropped, W + 500 µs survives).
# 2. TIMEOUTS FIRE STRICTLY: armed timestamp t fires iff t < W.
# 3. ARMING SEES THE EVICTION WATERMARK: getCurrentWatermarkMs inside
#    a batch-1 callback already returns W, so the re-arm clamp
#    (Spark rejects non-future timestamps) pushes any due timeout to
#    W + 1 — and since firing needs t < W while arming needs t > W,
#    NO timeout armed in batch ≥ 1 can ever fire in this replay.
#    Eviction therefore happens exactly once per evicted user, at
#    batch 1, for users armed in batch 0 (wave-0 presence), absent
#    from wave 1, with m0 + 10 min strictly behind W — one CASE leg
#    over per-user per-wave aggregates.
#
# Scale: state is 3 scalars per ACTIVE user and eviction is the
# watermark-driven GC — exactly the bounded-state discipline a 100 TB
# session store needs; the shuffle is one hash partition by user per
# micro-batch (state never migrates).
# ---------------------------------------------------------------------------

from collections.abc import Callable  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import StringType  # noqa: E402

from etl_globalretail_spark.plans.queries import make_query_decorator  # noqa: E402

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)

_EVICT_MARGIN_MS = 600_000  # 10 min idle -> evict
_WATERMARK_DELAY_MS = 1_800_000  # 30 min (matches "30 minutes" below)

EVICT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("kind", StringType()),
        StructField("n", LongType()),
        StructField("cents", LongType()),
    ]
)

EVICT_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("max_ts_ms", LongType()),
    ]
)


def _evicting_totals(key, pdf_iter, state: GroupState):
    import numpy as np
    import pandas as pd

    if state.hasTimedOut:
        n, cents, _ = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_type": [key[1]],
             "kind": ["evicted"], "n": [n], "cents": [cents]}
        )
        return
    n, cents, mx = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        # floor(value*100): the cookbook cents quantization, IEEE-identical
        # to DuckDB's FLOOR(value*100)
        cents += int(
            np.floor(pdf["value"].to_numpy(dtype="float64") * 100).sum()
        )
        # us -> ms truncation matches both Spark's watermark arithmetic
        # and the oracle's epoch_us(ts) // 1000
        ts_ms = pdf["ts"].to_numpy(dtype="datetime64[ms]").astype("int64")
        mx = max(mx, int(ts_ms.max()))
    state.update((n, cents, mx))
    timeout = mx + _EVICT_MARGIN_MS
    wm = state.getCurrentWatermarkMs()
    if timeout <= wm:
        # already-due: Spark rejects non-future timestamps; park it just
        # past the (never-advancing) watermark so it can never fire —
        # bit-identical to the oracle's strict W > t condition
        timeout = wm + 1
    state.setTimeoutTimestamp(timeout)
    yield pd.DataFrame(
        {"user_id": [key[0]], "event_type": [key[1]], "kind": ["update"],
         "n": [n], "cents": [cents]}
    )


def evicting_user_totals(stream_events: DataFrame) -> DataFrame:
    """The eviction state machine as a reusable operator: watermarked
    event time in, (user_id, kind, n, cents) emission stream out."""
    return (
        stream_events.withWatermark("ts", "30 minutes")
        .select("user_id", "event_type", "ts", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _evicting_totals,
            outputStructType=EVICT_OUTPUT_SCHEMA,
            stateStructType=EVICT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


@_register(
    "q280_stateful_eviction_exact",
    oracle=f"""
    WITH mx AS (
        SELECT MAX(epoch_us(ts)) AS m_us FROM events
    ),
    ev AS (
        SELECT e.user_id, e.event_type,
               epoch_us(e.ts) AS us,
               epoch_us(e.ts) // 1000 AS ts_ms,
               CAST(FLOOR(e.value * 100) AS BIGINT) AS cents,
               CASE WHEN epoch_us(e.ts) = mx.m_us THEN 0
                    WHEN e.event_id % 8 = 4 THEN 1
                    WHEN e.event_id % 8 = 0 THEN 2
                    ELSE 0 END AS wave
        FROM events e, mx
    ),
    agg AS (
        -- wave 2 is late-filtered against W (semantics #1): only rows
        -- with ts strictly above the watermark instant reach the state
        -- machine; waves 0 and 1 are unfiltered (lagged watermark = 0)
        SELECT ev.user_id, ev.event_type,
               COUNT(*) FILTER (WHERE wave = 0) AS c0,
               COALESCE(SUM(cents) FILTER (WHERE wave = 0), 0) AS s0,
               COALESCE(MAX(ts_ms) FILTER (WHERE wave = 0), 0) AS m0,
               COUNT(*) FILTER (WHERE wave = 1) AS c1,
               COALESCE(SUM(cents) FILTER (WHERE wave = 1), 0) AS s1,
               COUNT(*) FILTER (WHERE wave = 2
                   AND us > ((mx.m_us // 1000) - {_WATERMARK_DELAY_MS})
                            * 1000) AS c2s,
               COALESCE(SUM(cents) FILTER (WHERE wave = 2
                   AND us > ((mx.m_us // 1000) - {_WATERMARK_DELAY_MS})
                            * 1000), 0) AS s2s
        FROM ev, mx GROUP BY ev.user_id, ev.event_type
    ),
    f2 AS (
        SELECT agg.*,
               (c1 = 0 AND c0 > 0
                AND (mx.m_us // 1000) - {_WATERMARK_DELAY_MS}
                    > m0 + {_EVICT_MARGIN_MS}) AS evict1
        FROM agg, mx
    ),
    em AS (
        SELECT user_id, event_type, 'update' AS kind, c0 AS n, s0 AS cents
        FROM f2 WHERE c0 > 0
        UNION ALL
        SELECT user_id, event_type, 'update', c0 + c1, s0 + s1
        FROM f2 WHERE c1 > 0
        UNION ALL
        SELECT user_id, event_type, 'evicted', c0, s0 FROM f2 WHERE evict1
        UNION ALL
        -- batch-2 update; an evicted group restarts from zero
        SELECT user_id, event_type, 'update',
               CASE WHEN evict1 THEN c2s ELSE c0 + c1 + c2s END,
               CASE WHEN evict1 THEN s2s ELSE s0 + s1 + s2s END
        FROM f2 WHERE c2s > 0
    )
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_emissions,
           CAST(COUNT(*) FILTER (WHERE kind = 'evicted') AS BIGINT)
               AS n_evictions,
           CAST(MAX(n) AS BIGINT) AS max_n,
           CAST(SUM(n) AS BIGINT) AS sum_n,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM em GROUP BY user_id, event_type
    """,
)
def q280_stateful_eviction_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) emission census of the eviction state
    machine run through a real 3-micro-batch out-of-order replay —
    the fine grain makes wave-1 absences (and therefore REAL evictions
    and restarts) common on the fixture; see block comment."""
    from etl_globalretail_spark.streaming.windows import (
        run_to_memory_sink,
        stage_arrival_waves,
    )

    waves = stage_arrival_waves(spark, sf_dir)
    stream = (
        spark.readStream.schema(waves.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(waves.directory)
    )
    sink = "q280_sink"
    # NOTE deliberately NOT scoped_stream_partitions-sized: for
    # applyInPandasWithState the per-batch cost is PYTHON group
    # processing (one pandas round-trip per live group), so partitions
    # buy worker parallelism — shrinking them to cut store instances
    # measured 6 s → 17 s at sf0.1. JVM-state streaming (windows,
    # joins, sinks) sizes down; Python-state does not.
    try:
        run_to_memory_sink(evicting_user_totals(stream), sink, mode="update")
    finally:
        waves.cleanup()
    em = spark.table(sink)
    return em.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_emissions"),
        F.sum((F.col("kind") == "evicted").cast("long")).cast("long")
        .alias("n_evictions"),
        F.max("n").cast("long").alias("max_n"),
        F.sum("n").cast("long").alias("sum_n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
