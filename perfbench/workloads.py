"""Workload mixes, their driving tables, and per-family attribution.

An op is one registered query run on a fresh input variant: the query
function call (planning plus any eager jobs or stream runs it does before
returning) followed by a write to Spark's ``noop`` sink.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "olap_mix",
            "analyst reads (relational, TPC-H, star-schema dimension) on small "
            "data: about 5 short Spark jobs per op, with load_table analysis near "
            "a third of op time",
            (
                "q12_dirty_date_parse", "q14_name_cleansing",
                "q109_order_priority", "q46_dim_localidade",
            ),
        ),
        Workload(
            "corpus_stream",
            "exact dedup, token stats, brute-force ANN and a Structured Streaming "
            "replay on small data: eager jobs inside the operators, twice the JVM "
            "CPU and more shuffle stages per op; no Python workers",
            (
                "q18_dedup_exact", "q20_token_stats", "q27_ann_bruteforce",
                "q128_streaming_hourly_exact",
            ),
        ),
    )
}

# Modules whose QUERIES dict names each op's family. The registry wraps
# every query function, which hides ``__module__``, so the family is read
# from each module's own registration dict.
FAMILY_MODULES = (
    "plans.queries", "plans.tpch", "plans.star_schema",
    "operators.dedup", "operators.similarity", "operators.text",
    "streaming.windows", "streaming.stateful",
)

# The table whose rows an op of each family processes.
DRIVING_TABLE = {
    "plans.queries": "lineitem", "plans.tpch": "lineitem",
    "plans.star_schema": "lineitem",
    "operators.dedup": "documents", "operators.text": "documents",
    "operators.similarity": "embeddings",
    "streaming.windows": "events", "streaming.stateful": "events",
}


def families() -> dict[str, list[str]]:
    """query name -> every family module that registers it."""
    out: dict[str, list[str]] = {}
    for mod in FAMILY_MODULES:
        m = importlib.import_module(f"etl_globalretail_spark.{mod}")
        for name in m.QUERIES:
            out.setdefault(name, []).append(mod)
    return out


def family_of(ops: tuple[str, ...]) -> dict[str, str]:
    """op -> its single family; raises if an op has none or several."""
    fam = families()
    out = {}
    for op in ops:
        found = fam.get(op, [])
        if len(found) != 1:
            raise LookupError(f"{op}: families {found}")
        out[op] = found[0]
    return out
