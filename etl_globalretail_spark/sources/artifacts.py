"""Session artifacts: cut lineage once, build once per input, release on eviction.

``materialize`` cuts a frame's lineage with ``localCheckpoint``: its rows
become RDD blocks in executor storage, and every later action starts from
them instead of re-running the producing plan. The blocks are not
replicated, so losing an executor loses the artifact. Dropping the
DataFrame does not free them, and neither does ``DataFrame.unpersist``;
only unpersisting the RDD under the plan's ``LogicalRDD`` leaf does
(``checkpoint_rdds``).

``session_artifact(spark, kind, sf_dir, build)`` builds a derived
artifact of one input directory once per session and hands the same
object to every later call: a scan plan, a checkpointed frame, a row list
or a fitted codebook. The store is one mapping per SparkSession, held
under a weak key, so it goes away with the session.

- **Key.** Entries are keyed ``(sf_dir, kind)``. Each ``sf_dir`` carries a
  stamp: the ``(path, size, mtime_ns)`` of every parquet file under it,
  listed by ``parquet_files``. A call that finds a different stamp drops
  that directory's entries and rebuilds, so a file rewritten in place is
  never answered from the artifacts of its old contents.
- **Bound.** The store keeps the ``MAX_DIRS`` most recently used
  directories.
- **Eviction.** Dropping a directory, by eviction or by a changed stamp,
  releases the checkpointed frames among its entries. It always drops a
  whole directory, never one entry, so an artifact built from another
  artifact of the same directory (the q326 labels from q314's, from
  q236's, from the co-purchase edges) never outlives its input in the
  store.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MAX_DIRS = 4


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage into executor blocks (``localCheckpoint``)."""
    return df.localCheckpoint(eager=eager)


def checkpoint_rdds(df: DataFrame) -> list:
    """The RDDs under ``df``'s ``LogicalRDD`` leaves, which hold the blocks
    of a ``materialize``, as ``JavaRDD`` handles: ``unpersist()`` frees them."""
    out = []
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "LogicalRDD":
            out.append(leaf.rdd().toJavaRDD())
    return out


def parquet_files(path: str) -> list[str]:
    """``path`` itself if it is a file, else every parquet file under it,
    walked as Spark lists a table: names starting with ``_`` or ``.`` are
    skipped. Empty when nothing is there."""
    if os.path.isfile(path):
        return [path]
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d[0] not in "_.")
        files += [os.path.join(root, f) for f in sorted(names)
                  if f.endswith(".parquet") and f[0] not in "_."]
    return files


def _stamp(sf_dir: str) -> tuple:
    out = []
    for f in parquet_files(sf_dir):
        st = os.stat(f)
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


class _Store(dict):
    """One session's ``(sf_dir, kind) → artifact`` entries; ``stamps``
    maps each held ``sf_dir`` to its stamp, least recently used first."""

    def __init__(self) -> None:
        super().__init__()
        self.stamps: dict[str, tuple] = {}

    def drop(self, sf_dir: str) -> None:
        """Forget ``sf_dir`` and free its entries' checkpoint blocks."""
        del self.stamps[sf_dir]
        for key in [k for k in self if k[0] == sf_dir]:
            value = self.pop(key)
            if isinstance(value, DataFrame):
                for rdd in checkpoint_rdds(value):
                    rdd.unpersist()


_STORE: "weakref.WeakKeyDictionary[SparkSession, _Store]" = weakref.WeakKeyDictionary()


def session_artifact(
    spark: SparkSession, kind: Any, sf_dir: str, build: Callable[[], Any]
) -> Any:
    """``build()``'s result for ``(sf_dir, kind)``, built once per session
    while the files under ``sf_dir`` are unchanged (see module docstring)."""
    store = _STORE.setdefault(spark, _Store())
    stamp = _stamp(sf_dir)
    if store.stamps.get(sf_dir, stamp) != stamp:
        store.drop(sf_dir)
    store.stamps.pop(sf_dir, None)
    store.stamps[sf_dir] = stamp
    while len(store.stamps) > MAX_DIRS:
        store.drop(next(iter(store.stamps)))
    key = (sf_dir, kind)
    if key not in store:
        store[key] = build()
    return store[key]
