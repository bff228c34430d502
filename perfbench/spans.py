"""In-memory spans and counters for the traced run.

Everything here wraps the engine from outside: ``install`` replaces
``readers.load_table`` and the star-schema builders with timing wrappers
before the registry is imported (the family modules bind ``load_table``
at import time), a ``StreamingQueryListener`` collects micro-batch
progress, and the JVM's scheduler and status store give job, stage and
task counts. No file of the engine package changes.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from contextlib import contextmanager

from stats import Span

BUILDERS = (
    "build_dim_localidade", "build_dim_cliente", "build_dim_produto",
    "build_dim_fornecedor", "build_dim_tempo", "build_fato_vendas",
)


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory until the run ends.

    Spans and counts are recorded only while ``active`` (the timed loop),
    so set-up and warm-up calls through the same wrappers stay out.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op: int | None = None
        self.active = False
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.op))


def install(tracer: Tracer) -> None:
    """Wrap ``load_table`` and the star-schema builders. Call before the
    registry (``__spark_entry__``) is imported."""
    import etl_globalretail_spark.sources as sources_pkg
    from etl_globalretail_spark.sources import readers

    orig_load = readers.load_table

    def load_table(spark, name, sf_dir=readers.DEFAULT_SF_DIR):
        if tracer.active:
            hit = (sf_dir, name) in readers._PLAN_CACHE.get(spark, {})
            tracer.counts["load_table.calls"] += 1
            tracer.counts["load_table.hits"] += int(hit)
        with tracer.span("sources.load_table"):
            return orig_load(spark, name, sf_dir)

    readers.load_table = load_table
    sources_pkg.load_table = load_table

    from etl_globalretail_spark.plans import star_schema

    for b in BUILDERS:
        setattr(star_schema, b, _wrap(tracer, f"star_schema.{b}", getattr(star_schema, b)))


def _wrap(tracer: Tracer, name: str, fn):
    def wrapped(*args, **kwargs):
        if tracer.active:
            tracer.counts[f"{name}.calls"] += 1
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def make_stream_listener(tracer: Tracer):
    """A listener that adds each micro-batch's progress to ``tracer.counts``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            if not tracer.active:
                return
            p = event.progress
            c = tracer.counts
            c["stream.batches"] += 1
            c["stream.input_rows"] += int(p.numInputRows)
            c["stream.trigger_ms"] += int(p.durationMs.get("triggerExecution", 0))
            ops = p.stateOperators
            c["stream.state_rows_max"] = max(
                c["stream.state_rows_max"], sum(int(o.numRowsTotal) for o in ops))
            c["stream.state_bytes_max"] = max(
                c["stream.state_bytes_max"], sum(int(o.memoryUsedBytes) for o in ops))

    return Listener()


def spark_counts(spark) -> tuple[int, int, int]:
    """``(jobs, stages, tasks)`` submitted so far in this SparkContext.

    Read from the JVM: the DAG scheduler's next job and stage ids count
    every job and stage, including those a streaming query runs under its
    own job group, which ``statusTracker().getJobIdsForGroup()`` omits;
    the status store's executor summaries count finished tasks.
    """
    sc = spark.sparkContext._jsc.sc()
    dag = sc.dagScheduler()
    execs = sc.statusStore().executorList(True)
    tasks = sum(execs.apply(i).totalTasks() for i in range(execs.size()))
    return int(dag.nextJobId()), int(dag.nextStageId()), int(tasks)
