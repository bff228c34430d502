"""Benchmark of the etl_globalretail_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

One client runs one closed loop in this process on ``local[<cores>]``:
each op is a registered query on a fresh seeded input variant, timed
from the query-function call through a write to the ``noop`` sink. After
each op, outside the timed span, its result is collected and compared
with the query's DuckDB oracle on the same variant. The loop stops once
the timed ops add up to ``--seconds``, in whole passes over the
workload's mix, each pass in an order shuffled by the seed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it, prefixed
``REPORT``, holds the details: settings, wall-clock metrics, sample
counts, the tail percentile, failures by op name, per-query times.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen  # noqa: E402
import procfs  # noqa: E402
from stats import self_times, tail  # noqa: E402
from workloads import DRIVING_TABLE, WORKLOADS  # noqa: E402

# Warm-up passes over the mix before timing: the first pays code
# generation and first-use class loading, the later ones the JIT's
# catch-up (an op's CPU time still drops from the second pass to the third).
WARM_PASSES = 3
# Below physical RAM on a small box; a fixed cap also keeps the JVM's
# resident size from wandering with heap-sizing decisions.
DRIVER_MEM = "1g"
OP_TIMEOUT_S = 60.0
# No new pass over the mix starts once the loop (ops, checks and input
# generation) has run this many times --seconds, so a run on a contended
# host stays near a minute (a full schedule of 4 + 22 runs per workload
# must fit in 3,420 s); one pass always runs.
LOOP_WALL_FACTOR = 2.5

# Reported in BENCHMARK.json. Wall-clock op metrics (op_p50_s, op_tail_s,
# rows_per_s) and failed_ratio go to the REPORT line only: on a shared host
# CPU steal moves wall time between runs by more than any allowed bound;
# CPU time per op moves about half as much. failed_ratio is 0 on a passing run.
END_TO_END_UNITS = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}

# Traced-run metrics. ``_s`` and counts are per op unless the name says
# otherwise: set-up parts are single spans of the one set-up, builder times are
# per call, family times per op of that family, streaming figures per
# streaming op (state figures are the run's maximum).
PER_LAYER_UNITS = {
    "registry.import_s": "s", "session.create_s": "s", "session.first_job_s": "s", "session.warm_s": "s",
    "plans.build_s": "s", "plans.build.self_s": "s", "exec.action_s": "s",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.jvm_cpu_s": "s", "exec.pyworker_cpu_s": "s", "driver.cpu_s": "s",
    "sources.load_table.calls": "count", "sources.load_table_s": "s",
    "sources.load_table.self_s": "s", "sources.plan_cache_hit_ratio": "ratio",
    "star_schema.build_dim_localidade_s": "s",
    "operators.dedup.op_s": "s", "operators.similarity.op_s": "s",
    "operators.text.op_s": "s",
    "streaming.trigger_s": "s", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "trace.op_wall_s": "s", "trace.unaccounted_s": "s", "trace.instrument_s": "s",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Pin the engine to this machine and keep every file it writes in ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    }
    os.environ.update(settings)
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return settings


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, settings: dict[str, str]):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.settings = settings
        self.spark_conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={settings['TMPDIR']}",
        }
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.setup: dict[str, float] = {}
        self.instrument_s = 0.0
        self.check_s = 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # -- set-up -----------------------------------------------------------

    def set_up(self):
        """Import the registry, create the session (which launches the JVM),
        run its first job, then run every op of the mix ``WARM_PASSES`` times
        on warm-up variants; returns the session.

        ``setup_s`` is the wall time from process start to the end of this,
        less the time spent writing the warm-up variants.
        """
        t = time.perf_counter()
        if self.tracer:
            from spans import install

            install(self.tracer)
        # The package first: ``__spark_entry__`` puts a fixed development
        # path at the front of sys.path, and this checkout's code must win.
        from etl_globalretail_spark.session import get_spark
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        import_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=self.spark_conf)
        spark.sparkContext.setLogLevel("ERROR")
        create_s = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count() \
            .write.format("noop").mode("overwrite").save()
        first_job_s = time.perf_counter() - t

        t = time.perf_counter()
        gen_s = 0.0
        for p in range(WARM_PASSES):
            g = time.perf_counter()
            warm_dir = gen.make_variant(os.path.join(self.work, "warm"), self.args.seed, -p)
            gen_s += time.perf_counter() - g
            for name in self.wl.ops:
                self.queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
                spark.catalog.clearCache()
        warm_s = time.perf_counter() - t - gen_s

        wall_s = time.perf_counter() - T_START
        self.setup = {
            "registry.import_s": import_s, "session.create_s": create_s,
            "session.first_job_s": first_job_s, "session.warm_s": warm_s,
            "warm_gen_s": gen_s, "wall_s": wall_s, "setup_s": wall_s - gen_s,
        }
        return spark

    # -- timed loop -------------------------------------------------------

    def run(self) -> dict:
        from check import OracleCheck
        from workloads import family_of

        spark = self.set_up()
        self.checker = OracleCheck(ROOT, self.oracles)
        family = family_of(self.wl.ops)
        if self.tracer:
            from spans import make_stream_listener

            spark.streams.addListener(make_stream_listener(self.tracer))
            time.sleep(0.5)  # let warm-up progress events arrive first
            self.tracer.active = True

        rng = random.Random(self.args.seed)
        order = list(self.wl.ops)
        vroot = os.path.join(self.work, "variants")
        ops: list[dict] = []
        timed = 0.0
        k = 0
        peak_rss: dict[str, float] = {}
        host0 = procfs.host_cpu_ticks()
        loop_start = time.perf_counter()
        loop_cap = LOOP_WALL_FACTOR * self.args.seconds
        # Whole passes over the mix, so every run times the same multiset of ops.
        while not ops or (timed < self.args.seconds
                          and time.perf_counter() - loop_start < loop_cap):
            rng.shuffle(order)
            for name in order:
                k += 1
                vdir = gen.make_variant(vroot, self.args.seed, k)
                rec = {"name": name, "family": family[name],
                       "rows": gen.input_rows(vdir, DRIVING_TABLE[family[name]])}
                procfs.reset_peak_rss(os.getpid())
                before = self.snapshot(spark)
                rec.update(self.one_op(spark, k, name, vdir))
                rec["delta"] = self.delta(before, self.snapshot(spark))
                # Read before the check, so DuckDB and collect() do not count.
                peak = procfs.peak_rss_mb(os.getpid())
                if sum(peak.values()) > sum(peak_rss.values()):
                    peak_rss = peak
                self.check(rec, name, vdir)
                timed += rec["wall_s"]
                ops.append(rec)
                spark.catalog.clearCache()
                shutil.rmtree(vdir, ignore_errors=True)

        host1 = procfs.host_cpu_ticks()
        self.host_steal = (host1[0] - host0[0]) / max(1, host1[1] - host0[1])
        if self.tracer:
            time.sleep(0.5)  # let the last streaming progress events arrive
            self.tracer.active = False
        return self.summarize(ops, timed, peak_rss)

    def one_op(self, spark, k: int, name: str, vdir: str) -> dict:
        fn = self.queries[name]
        timer = threading.Timer(OP_TIMEOUT_S, _cancel, (spark,))
        timer.start()
        if self.tracer:
            self.tracer.op = k
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                with self.span("plans.build"):
                    df = fn(spark, vdir)
                t1 = time.perf_counter()
                with self.span("exec.action"):
                    df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # an op that raises is a failed op, not a crash
            t2 = time.perf_counter()
            return {"wall_s": t2 - t0, "ok": False, "error": f"{type(e).__name__}: {e}"[:300]}
        finally:
            timer.cancel()
            if self.tracer:
                self.tracer.op = None
        return {"wall_s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1, "df": df}

    def check(self, rec: dict, name: str, vdir: str) -> None:
        """Compare the op's result with its oracle; untimed."""
        df = rec.pop("df", None)
        if df is None:
            return
        t = time.perf_counter()
        try:
            problems = self.checker.problems(name, vdir, df.collect(), df.columns)
        except Exception as e:  # a check that cannot run fails the op
            problems = [f"check raised {type(e).__name__}: {e}"[:300]]
        self.check_s += time.perf_counter() - t
        rec["ok"] = not problems
        if problems:
            rec["error"] = "; ".join(problems)[:300]

    def snapshot(self, spark):
        """Process-tree CPU, plus Spark's job/stage/task counts when traced."""
        if not self.tracer:
            return None, procfs.tree_cpu(os.getpid())
        from spans import spark_counts

        t = time.perf_counter()
        snap = spark_counts(spark), procfs.tree_cpu(os.getpid())
        self.instrument_s += time.perf_counter() - t
        return snap

    @staticmethod
    def delta(before, after) -> dict:
        (counts0, cpu0), (counts1, cpu1) = before, after
        out = {"driver_cpu_s": cpu1[0] - cpu0[0], "jvm_cpu_s": cpu1[1] - cpu0[1],
               "pyworker_cpu_s": cpu1[2] - cpu0[2]}
        out["cpu_s"] = out["driver_cpu_s"] + out["jvm_cpu_s"] + out["pyworker_cpu_s"]
        if counts0 is not None:
            out.update(jobs=counts1[0] - counts0[0], stages=counts1[1] - counts0[1],
                       tasks=counts1[2] - counts0[2])
        return out

    # -- results ----------------------------------------------------------

    def summarize(self, ops: list[dict], timed: float, peak_rss: dict[str, float]) -> dict:
        attempted = len(ops)
        failed = [o for o in ops if not o["ok"]]
        walls = [o["wall_s"] for o in ops if o["ok"]] or [o["wall_s"] for o in ops]
        tail_v, tail_p, tail_n = tail(walls)
        e2e = {
            "setup_s": self.setup["setup_s"],
            "op_cpu_s": sum(o["delta"]["cpu_s"] for o in ops) / attempted,
            "peak_rss_mb": sum(peak_rss.values()),
        }
        wall = {
            "op_p50_s": (statistics.median(walls), "s"),
            "op_tail_s": (tail_v, "s"),
            "rows_per_s": (sum(o["rows"] for o in ops) / timed, "rows/s"),
            "failed_ratio": (len(failed) / attempted, "ratio"),
        }
        per_query: dict[str, list[float]] = {}
        per_query_cpu: dict[str, list[float]] = {}
        for o in ops:
            per_query.setdefault(o["name"], []).append(round(o["wall_s"], 4))
            per_query_cpu.setdefault(o["name"], []).append(round(o["delta"]["cpu_s"], 3))
        report = {
            "workload": self.wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "settings": {**self.settings, **self.spark_conf,
                         "master": f"local[{self.settings['SPARK_GRAFT_CPUS']}]",
                         "clients": 1, "loop": "closed",
                         "input_scale": "sf0.001-shaped variant per op"},
            "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()},
            "wall_clock": {k: {"value": v, "unit": u} for k, (v, u) in wall.items()},
            "samples": {"ops": attempted, "timed_s": timed, "check_s": self.check_s,
                        "host_steal_share": self.host_steal,
                        "peak_rss_split_mb": peak_rss,
                        "run_wall_s": time.perf_counter() - T_START,
                        "op_tail_percentile": tail_p, "op_tail_n": tail_n,
                        "setup": self.setup},
            "failures": [{"op": o["name"], "error": o.get("error", "")} for o in failed],
            "per_query_s": per_query,
            "per_query_cpu_s": per_query_cpu,
        }
        if self.tracer:
            selfs = self_times(self.tracer.spans)
            metrics = self.layer_metrics(ops, selfs)
            report["spans_file"], report["self_s_per_op"] = self.write_spans(ops, selfs)
        else:
            metrics = report["end_to_end"]
        return {"report": report,
                "result": {"correct": not failed, "attempted": attempted,
                           "failed": len(failed), "metrics": metrics}}

    def write_spans(self, ops: list[dict], selfs: dict[int, float]) -> tuple[str, dict[str, float]]:
        """Write every span with its self time to ``perfbench/_out`` (one JSON
        line each) and return the file and each span name's self time per op."""
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{self.wl.name}-seed{self.args.seed}.jsonl")
        per_name: dict[str, float] = {}
        with open(path, "w") as f:
            for sp in self.tracer.spans:
                f.write(json.dumps({**vars(sp), "self_s": selfs[sp.id]}) + "\n")
                per_name[sp.name] = per_name.get(sp.name, 0.0) + selfs[sp.id]
        return os.path.relpath(path, ROOT), {k: v / len(ops) for k, v in per_name.items()}

    def layer_metrics(self, ops: list[dict], selfs: dict[int, float]) -> dict:
        """Per-layer metrics of a traced run; see ``PER_LAYER_UNITS``."""
        tr = self.tracer
        n = len(ops)
        total: dict[str, float] = {}
        self_total: dict[str, float] = {}
        for s in tr.spans:
            total[s.name] = total.get(s.name, 0.0) + (s.end - s.start)
            self_total[s.name] = self_total.get(s.name, 0.0) + selfs[s.id]
        c = tr.counts
        n_stream = sum(o["family"].startswith("streaming.") for o in ops) or 1
        walls = [o["wall_s"] for o in ops]

        def per_op(key):
            return sum(o["delta"][key] for o in ops) / n

        def family_s(fam):
            xs = [o["wall_s"] for o in ops if o["family"] == fam]
            return sum(xs) / len(xs) if xs else 0.0

        def per_call(span):
            calls = c[f"{span}.calls"]
            return total.get(span, 0.0) / calls if calls else 0.0

        calls = c["load_table.calls"]
        v = {
            "registry.import_s": self.setup["registry.import_s"],
            "session.create_s": self.setup["session.create_s"],
            "session.first_job_s": self.setup["session.first_job_s"],
            "session.warm_s": self.setup["session.warm_s"],
            "plans.build_s": total.get("plans.build", 0.0) / n,
            "plans.build.self_s": self_total.get("plans.build", 0.0) / n,
            "exec.action_s": total.get("exec.action", 0.0) / n,
            "exec.jobs_per_op": per_op("jobs"),
            "exec.stages_per_op": per_op("stages"),
            "exec.tasks_per_op": per_op("tasks"),
            "exec.jvm_cpu_s": per_op("jvm_cpu_s"),
            "exec.pyworker_cpu_s": per_op("pyworker_cpu_s"),
            "driver.cpu_s": per_op("driver_cpu_s"),
            "sources.load_table.calls": calls / n,
            "sources.load_table_s": total.get("sources.load_table", 0.0) / n,
            "sources.load_table.self_s": self_total.get("sources.load_table", 0.0) / n,
            "sources.plan_cache_hit_ratio": c["load_table.hits"] / calls if calls else 0.0,
            "star_schema.build_dim_localidade_s": per_call("star_schema.build_dim_localidade"),
            "operators.dedup.op_s": family_s("operators.dedup"),
            "operators.similarity.op_s": family_s("operators.similarity"),
            "operators.text.op_s": family_s("operators.text"),
            "streaming.trigger_s": c["stream.trigger_ms"] / 1000.0 / n_stream,
            "streaming.batches": c["stream.batches"] / n_stream,
            "streaming.input_rows": c["stream.input_rows"] / n_stream,
            "streaming.state_rows": float(c["stream.state_rows_max"]),
            "streaming.state_mem_mb": c["stream.state_bytes_max"] / 2**20,
            "trace.op_wall_s": statistics.median(walls),
            "trace.unaccounted_s": (sum(walls) - total.get("plans.build", 0.0)
                                    - total.get("exec.action", 0.0)) / n,
            "trace.instrument_s": self.instrument_s / n,
        }
        return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def _cancel(spark) -> None:
    """Op timeout: stop running streams and cancel every Spark job."""
    for q in spark.streams.active:
        q.stop()
    spark.sparkContext.cancelAllJobs()


def stop_engine() -> None:
    """Stop the session, the JVM this process launched and every process
    under it (the PySpark worker daemon and its workers), and wait until
    each has ended. ``SparkContext.stop`` alone leaves the JVM running
    until it notices this process's exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    tree = procfs.descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the JVM is ended below either way
            pass
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            # The gateway exits when its stdin closes.
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    procfs.end_all(tree)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its engine (the ``finally`` below).
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    try:
        settings = pin_environment(work)
        out = Bench(args, work, settings).run()
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    print("REPORT " + json.dumps(out["report"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
