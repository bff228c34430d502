"""The session artifact store (``sources/artifacts.session_artifact``).

Artifacts are keyed by the identity of the files under their input
directory, so a file rewritten in place is answered from its new rows;
the store keeps a bounded number of directories and frees the
checkpoint blocks of the ones it evicts; stream replays reuse one
memory-sink name, so the catalog does not grow per run.
"""

from __future__ import annotations

import datetime
import importlib.util
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from etl_globalretail_spark.plans import analytics
from etl_globalretail_spark.plans.registry import ALL_ORACLE, ALL_QUERIES
from etl_globalretail_spark.sources import artifacts, readers

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(_ROOT, "scripts", "check_oracle.py")
)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


def _copy_tables(src: str, dst, names=readers.TABLE_NAMES) -> str:
    os.makedirs(dst, exist_ok=True)
    for t in names:
        shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    return str(dst)


def _stored(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _answer(spark, name: str, sf_dir: str) -> list[str]:
    """Run ``name`` on ``sf_dir``, assert it hash-matches its DuckDB
    oracle there (check_oracle's normalization), return the multiset."""
    df = ALL_QUERIES[name](spark, sf_dir)
    rows, cols = df.collect(), df.columns
    con = duckdb.connect()
    try:
        for t in readers.TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        res = con.execute(ALL_ORACLE[name])
        drows, dcols = res.fetchall(), [d[0].lower() for d in res.description]
    finally:
        con.close()
    got = check_oracle.multiset(rows, cols)
    assert sorted(cols) == sorted(dcols), name
    assert got == check_oracle.multiset(drows, dcols), f"{name} differs from its oracle"
    return got


def _rewrite(path: str, change, **write_options) -> None:
    """Overwrite the parquet file at ``path`` in place (same inode) with
    ``change(table)``."""
    table = change(pq.read_table(path))
    with open(path, "r+b") as f:
        f.truncate()
        pq.write_table(table, f, **write_options)


def test_rewrite_in_place_is_answered_from_new_files(spark, sf_dir, tmp_path):
    d = _copy_tables(sf_dir, tmp_path / "sf")
    q66, q109 = "q66_minhash_pairs_exact", "q109_order_priority"
    before = {q: _answer(spark, q, d) for q in (q66, q109)}

    def docs(t: pa.Table) -> pa.Table:
        # the first 300 documents, the last a copy of the first's text:
        # drops pairs and adds a Jaccard-1 one
        t = t.slice(0, 300)
        text = t.column("text").to_pylist()
        text[-1] = text[0]
        return t.set_column(t.schema.get_field_index("text"), "text",
                            pa.array(text, t.schema.field("text").type))

    def orders(t: pa.Table) -> pa.Table:
        # every order again, dated 45 days later: the file grows, as an
        # append does, past the length a stale scan would still read
        date = t.column("o_orderdate")
        later = pc.add(date, pa.scalar(datetime.timedelta(days=45)))
        return pa.concat_tables([t, t.set_column(
            t.schema.get_field_index("o_orderdate"), "o_orderdate",
            later.cast(date.type))])

    size = os.path.getsize(f"{d}/orders.parquet")
    _rewrite(f"{d}/documents.parquet", docs)
    _rewrite(f"{d}/orders.parquet", orders, row_group_size=250)
    assert os.path.getsize(f"{d}/orders.parquet") > size
    after = {q: _answer(spark, q, d) for q in (q66, q109)}
    for q in (q66, q109):
        assert after[q] != before[q], f"{q}: the rewrite did not change the answer"


def test_store_rebuilds_on_new_stamp_and_evicts_whole_dirs(spark, sf_dir, tmp_path):
    dirs = [_copy_tables(sf_dir, tmp_path / f"d{i}", ("region",))
            for i in range(artifacts.MAX_DIRS + 1)]
    base = _stored(spark)

    def held(d: str, kind: str):
        return artifacts.session_artifact(
            spark, kind, d, lambda: artifacts.materialize(spark.range(10))
        )

    first = held(dirs[0], "a")
    assert held(dirs[0], "a") is first
    held(dirs[0], "b")
    assert len(_stored(spark) - base) == 2

    _rewrite(f"{dirs[0]}/region.parquet", lambda t: t.slice(0, 2))
    again = held(dirs[0], "a")
    assert again is not first  # rebuilt: the stamp changed
    assert len(_stored(spark) - base) == 1  # both old entries released

    held(dirs[0], "b")
    for d in dirs[1:]:
        held(d, "a")  # the last one evicts dirs[0], its two entries together
    store = artifacts._STORE[spark]
    assert dirs[0] not in store.stamps
    assert not [k for k in store if k[0] == dirs[0]]
    assert len(_stored(spark) - base) == artifacts.MAX_DIRS


def test_soak_storage_and_catalog_stay_flat(spark, sf_dir, tmp_path):
    """50 fresh lineitem copies through the memoized edge artifact keep
    JVM storage within the store's bound, and 20 q128 replays leave the
    catalog's table count unchanged."""
    base = _stored(spark)
    for i in range(50):
        d = _copy_tables(sf_dir, tmp_path / f"v{i}", ("lineitem",))
        assert analytics.co_purchase_edges_weighted(spark, d).count() >= 0
        # one checkpointed artifact per directory
        assert len(_stored(spark) - base) <= artifacts.MAX_DIRS

    q128 = ALL_QUERIES["q128_streaming_hourly_exact"]
    first = q128(spark, sf_dir)
    first_rows = sorted(first.collect())
    sizes = []
    for _ in range(20):
        q128(spark, sf_dir).collect()
        sizes.append(len(spark.catalog.listTables()))
    assert len(set(sizes)) == 1, sizes
    # a frame from an earlier run still reads its own run's rows
    assert sorted(first.collect()) == first_rows
