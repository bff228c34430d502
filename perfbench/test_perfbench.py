"""Self-tests of the benchmark's helpers: input generator, statistics,
span arithmetic, the peak-memory reset, metric names and per-family
attribution.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
from stats import Span, covered, iqr_share, self_times, tail, valid_metric_name  # noqa: E402

BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _bytes(d: str) -> dict[str, bytes]:
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in gen.TABLES}


# -- generator ---------------------------------------------------------------


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _bytes(gen.make_variant(str(tmp_path / "a"), 5, 3))
    b = _bytes(gen.make_variant(str(tmp_path / "b"), 5, 3))
    assert a == b


def test_other_seed_or_iteration_gives_other_bytes(tmp_path):
    base = _bytes(gen.make_variant(str(tmp_path / "a"), 5, 3))
    other_seed = _bytes(gen.make_variant(str(tmp_path / "b"), 6, 3))
    other_iter = _bytes(gen.make_variant(str(tmp_path / "c"), 5, 4))
    for t in gen.TABLES:
        if t in ("region", "nation"):  # fixed reference tables
            continue
        assert base[t] != other_seed[t], t
        assert base[t] != other_iter[t], t


def test_layout_one_file_one_row_group(tmp_path):
    d = gen.make_variant(str(tmp_path), 1, 1)
    assert sorted(os.listdir(d)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    for t in gen.TABLES:
        f = pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
        assert f.metadata.num_row_groups == 1, t
        assert f.schema_arrow.equals(gen.SCHEMAS[t]), t
    ts = pq.ParquetFile(os.path.join(d, "events.parquet")).schema.column(1)
    assert ts.physical_type == "INT64"
    assert "timeUnit=microseconds" in str(ts.logical_type)


def test_columns_match_engine_schemas():
    from etl_globalretail_spark.schemas import TESTDATA_SCHEMAS

    assert set(TESTDATA_SCHEMAS) == set(gen.TABLES)
    for t, schema in TESTDATA_SCHEMAS.items():
        assert [f.name for f in schema.fields] == gen.SCHEMAS[t].names, t


def test_layout_matches_test_data_when_present(tmp_path):
    from etl_globalretail_spark.sources.readers import DEFAULT_SF_DIR

    ref = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    if not os.path.isdir(ref):
        pytest.skip("test data not present")
    d = gen.make_variant(str(tmp_path), 1, 1)
    for t in gen.TABLES:
        mine = pq.ParquetFile(os.path.join(d, f"{t}.parquet"))
        theirs = pq.ParquetFile(os.path.join(ref, f"{t}.parquet"))
        assert mine.schema.equals(theirs.schema), t
        assert mine.metadata.num_row_groups == theirs.metadata.num_row_groups == 1, t
        assert mine.metadata.num_rows == theirs.metadata.num_rows, t


# -- statistics --------------------------------------------------------------


@pytest.mark.parametrize("n,index,pct", [(20, 9, 50.0), (30, 19, 100 * 20 / 30),
                                         (100, 89, 90.0), (1000, 989, 99.0)])
def test_tail_leaves_ten_samples_beyond(n, index, pct):
    samples = [float(i) for i in range(n)][::-1]
    value, p, count = tail(samples)
    assert value == float(index)
    assert p == pytest.approx(pct)
    assert count == n
    assert sum(s > value for s in samples) == 10


def test_tail_below_twenty_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    with pytest.raises(ValueError):
        tail([])


def test_iqr_share():
    assert iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_self_time_subtracts_merged_child_union():
    spans = [
        Span(0, "p", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 4.0, 0, 1),
        Span(2, "b", 3.0, 6.0, 0, 1),  # overlaps a: union 1..6
        Span(3, "c", 8.0, 12.0, 0, 1),  # clipped to the parent: 8..10
        Span(4, "g", 2.0, 3.0, 1, 1),  # grandchild: counts against a only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)


def test_covered_handles_disjoint_and_nested():
    assert covered([(0, 1), (2, 3), (2.5, 2.7)], 0, 10) == pytest.approx(2.0)
    assert covered([], 0, 1) == 0.0


def test_tracer_records_parents():
    from spans import Tracer

    tr = Tracer()
    with tr.span("ignored"):  # not recorded before the timed loop
        pass
    tr.active = True
    tr.op = 7
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner, outer = tr.spans
    assert (inner.name, inner.parent, inner.op) == ("inner", outer.id, 7)
    assert outer.parent is None


# -- /proc readings -----------------------------------------------------------


def test_peak_rss_restarts_at_the_current_resident_set():
    import procfs

    block = b"x" * (64 << 20)
    del block
    before = procfs.peak_rss_mb(os.getpid())["driver"]
    procfs.reset_peak_rss(os.getpid())
    after = procfs.peak_rss_mb(os.getpid())["driver"]
    assert after <= before - 48
    block = b"x" * (64 << 20)
    assert procfs.peak_rss_mb(os.getpid())["driver"] >= after + 48
    del block


def test_end_all_kills_what_outlives_the_grace_period():
    import subprocess

    import procfs

    quick = subprocess.Popen(["sleep", "0.1"])
    stuck = subprocess.Popen(["sleep", "60"])
    procfs.end_all([quick.pid, stuck.pid], grace_s=1.0)
    assert quick.wait(timeout=1) == 0
    assert stuck.wait(timeout=1) == -9


# -- metric names and benchmark description ----------------------------------


def test_metric_names_valid_and_match_the_harness():
    from run import END_TO_END_UNITS, PER_LAYER_UNITS

    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == END_TO_END_UNITS
    assert layers == PER_LAYER_UNITS
    for name in [*e2e, *layers, *(w["name"] for w in BENCHMARK["workloads"])]:
        assert valid_metric_name(name), name
    assert not valid_metric_name("bad name")
    assert not valid_metric_name("_leading")
    assert not valid_metric_name("x" * 65)


def test_workloads_match_the_harness():
    from workloads import WORKLOADS

    assert [(w["name"], w["why"]) for w in BENCHMARK["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()]


# -- per-family attribution --------------------------------------------------


def test_every_op_has_exactly_one_family_and_a_driving_table():
    from workloads import DRIVING_TABLE, WORKLOADS, family_of

    import __spark_entry__

    registered = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    for wl in WORKLOADS.values():
        fam = family_of(wl.ops)
        assert set(fam) == set(wl.ops)
        for op, f in fam.items():
            assert op in registered and op in oracles, op
            assert f in DRIVING_TABLE, (op, f)
    assert family_of(("q18_dedup_exact",)) == {"q18_dedup_exact": "operators.dedup"}
    with pytest.raises(LookupError):
        family_of(("no_such_query",))
