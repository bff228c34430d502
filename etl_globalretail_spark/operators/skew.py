"""Skew mitigation: salting for hot join keys and hot group keys.

AQE's skew-join splitting (enabled session-wide, session.py) is the first
line of defense — it splits oversized partitions AFTER a shuffle exists.
Salting is the plan-level tool for the two shapes AQE cannot fix:

- **aggregation skew** — a groupBy where a handful of keys own most rows.
  Partial aggregation already combines map-side, so plain `groupBy` is
  usually fine; the salted two-phase form matters when per-key *state* is
  heavy (collect_list / distinct counts), where one reducer would hold a
  hot key's whole payload. Phase 1 aggregates (key, salt) — hot keys spread
  over ``n_salts`` reducers — phase 2 merges the per-salt partials.
- **join skew against a broadcast-too-big, shuffle-too-hot side** —
  replicate the small side ``n_salts``× and scatter the big side's hot rows
  across (key, salt) buckets, so one reducer never sees a hot key's full
  row set.

Both transforms are semantics-preserving for decomposable aggregates
(SUM/COUNT/MIN/MAX and their compositions): proven against the unsalted
plans by the oracle pair (q42) and pytest equality on every table.

The reference has no analog (single-process, no partitions to skew —
SURVEY.md §4); this is part of the 100 TB mandate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.operators.ranks import global_topk
from etl_globalretail_spark.plans.queries import make_query_decorator
from etl_globalretail_spark.sources.readers import load_table, load_table_spread

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)

DEFAULT_SALTS = 16


def with_salt(df: DataFrame, n_salts: int = DEFAULT_SALTS, seed: int = 42) -> DataFrame:
    """Append a uniform __salt ∈ [0, n_salts). ``rand(seed)`` is
    deterministic per (seed, partition layout) — reproducible runs on a
    fixed input, and correctness never depends on WHICH salt a row gets,
    only that rows spread."""
    return df.withColumn(
        "__salt", F.floor(F.rand(seed) * n_salts).cast("int")
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Column]],
    n_salts: int = DEFAULT_SALTS,
    seed: int = 42,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column name → (phase-1 aggregate over raw rows,
    phase-2 aggregate over phase-1 partials); the phase-2 expression must
    reference the phase-1 output by its name (e.g. ``F.sum("n")`` for a
    COUNT partial named ``n``). Phase 1 groups on keys+salt (hot keys fan
    out over n_salts reducers), phase 2 merges ≤ n_salts partial rows per
    key — trivially balanced.
    """
    p1 = with_salt(df, n_salts, seed).groupBy(*keys, "__salt").agg(
        *[expr1.alias(name) for name, (expr1, _) in aggs.items()]
    )
    return p1.groupBy(*keys).agg(
        *[expr2.alias(name) for name, (_, expr2) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    n_salts: int = DEFAULT_SALTS,
    seed: int = 42,
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the small side
    once per salt value (explode of a ``sequence`` literal — n_salts× the
    SMALL side only), join on keys+salt. Each hot key's rows land on
    n_salts reducers instead of one. Output columns = the plain join's.

    For ``how='left'`` the left frame must be the big one (replicating the
    preserved side would duplicate unmatched rows)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_big = with_salt(big, n_salts, seed)
    # sequence of int literals yields array<int>, matching with_salt's type;
    # explode cannot nest inside a cast (UNSUPPORTED_GENERATOR).
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_big.join(replicated, [*on, "__salt"], how).drop("__salt")


@_register(
    "q42_salted_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q42_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase aggregation on lineitem's most skewed grouping
    (l_returnflag, l_linestatus — single-digit distinct keys over the whole
    fact table). The oracle is the PLAIN group-by: salting must be
    invisible in the result, and the hash-match proves it (sum uses exact
    decimal so even ordering can't leak)."""
    l = load_table(spark, "lineitem", sf_dir)
    return salted_aggregate(
        l,
        ["l_returnflag", "l_linestatus"],
        {
            "n_rows": (F.count(F.lit(1)), F.sum("n_rows")),
            "sum_qty": (
                F.sum(F.col("l_quantity").cast("decimal(27,6)")),
                F.sum("sum_qty").cast("double"),
            ),
            "max_price": (
                F.max("l_extendedprice"),
                F.max("max_price").cast("double"),
            ),
        },
    )


# ---------------------------------------------------------------------------
# Skew profiler: the diagnostic that decides WHEN the salting above is
# needed.
# ---------------------------------------------------------------------------


def skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew profile of a prospective join/agg key: total rows,
    distinct keys, and how concentrated the heaviest keys are (top-1 and
    top-10 share, in exact permil). A 100 TB pipeline runs this BEFORE
    choosing a strategy: top1_share ≈ 1000/n_keys ⇒ uniform, plain
    shuffle; top1_share ≫ that ⇒ salt the hot keys (salted_aggregate /
    salted_join above) or rely on AQE skew splitting for sort-merge joins.

    Cost: one hash aggregate to the key grain (the same shuffle the real
    join would pay, but carrying only counters), then a tiny top-k over
    |keys| rows. Integer permils keep the profile oracle-exact.
    """
    per_key = df.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    # Feeds the totals AND the top-k leg. Lifetime is tied to the RETURNED
    # plan (the InMemoryTableScan pair is plan-tested), so it cannot be
    # unpersisted here; the harness releases it via clearCache() after the
    # terminal action, with MEMORY_AND_DISK LRU eviction as the backstop
    # (ADVICE r6).
    ).persist()
    totals = per_key.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    # bounded top-k (TakeOrderedAndProject) instead of ranking ALL keys
    # through a single-task global window — only the 10 heaviest matter
    top = global_topk(per_key, [("cnt", "desc"), ("k", "asc")], 10, out="rnk")
    topagg = top.agg(
        F.max(F.when(F.col("rnk") == 1, F.col("cnt"))).alias("top1_cnt"),
        F.sum("cnt").alias("top10_cnt"),
        F.max(F.when(F.col("rnk") == 1, F.col("k").cast("string"))).alias(
            "top1_key"
        ),
    )
    # 1-row broadcast attach — bounded by construction (INTENTIONAL_CROSS)
    return totals.crossJoin(F.broadcast(topagg)).select(
        "n_rows",
        "n_keys",
        F.expr("(top1_cnt * 1000) div n_rows").alias("top1_share_permil"),
        F.expr("(top10_cnt * 1000) div n_rows").alias("top10_share_permil"),
        "top1_key",
    )


def _q104_oracle() -> str:
    def one(table: str, key: str) -> str:
        return f"""
        SELECT '{table}.{key}' AS keyspace, n_rows, n_keys,
               top1_share_permil, top10_share_permil, top1_key
        FROM (
            WITH per_key AS (
                SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY {key}
            ),
            ranked AS (
                SELECT k, cnt,
                       ROW_NUMBER() OVER (ORDER BY cnt DESC, k ASC) AS rnk
                FROM per_key
            )
            SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   COUNT(*) AS n_keys,
                   CAST((MAX(CASE WHEN rnk = 1 THEN cnt END) * 1000)
                        // SUM(cnt) AS BIGINT) AS top1_share_permil,
                   CAST((SUM(CASE WHEN rnk <= 10 THEN cnt ELSE 0 END) * 1000)
                        // SUM(cnt) AS BIGINT) AS top10_share_permil,
                   MAX(CASE WHEN rnk = 1 THEN CAST(k AS VARCHAR) END)
                       AS top1_key
            FROM ranked
        )
        """

    parts = [
        one("lineitem", "l_orderkey"),
        one("orders", "o_custkey"),
        one("events", "user_id"),
        one("documents", "source"),
    ]
    return "\nUNION ALL\n".join(parts)


def _register_q104() -> None:
    @_register("q104_skew_profile", oracle=_q104_oracle())
    def q104_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Skew profiles of the four join/agg keyspaces this engine
        actually shuffles on — rows, distinct keys, top-1/top-10 key
        concentration in exact permil. The pre-flight diagnostic for the
        salting/AQE decision (module docstring)."""
        specs = [
            ("lineitem", "l_orderkey"),
            ("orders", "o_custkey"),
            ("events", "user_id"),
            ("documents", "source"),
        ]
        out = None
        for table, key in specs:
            prof = skew_profile(load_table(spark, table, sf_dir), key).select(
                F.lit(f"{table}.{key}").alias("keyspace"), "*"
            )
            out = prof if out is None else out.unionByName(prof)
        return out


_register_q104()


# ---------------------------------------------------------------------------
# q281 — rendezvous (highest-random-weight) shard routing + the node-loss
# movement audit. THE routing discipline for a 100 TB corpus spread over
# storage/compute nodes: each key goes to argmax_n md5(key ':' node), so
# when a node dies ONLY its keys move (the HRW invariant) — no global
# reshuffle, no ring metadata. Implemented entirely map-side: the node
# list folds into the plan as an array-of-structs literal, the argmax is
# array_max over (weight, node) structs — zero joins, zero shuffles
# before the final census aggregate. Ties (never in practice) break on
# the node name through the struct comparison, replayed identically by
# the oracle's ORDER BY weight DESC, node DESC.
# ---------------------------------------------------------------------------

_HRW_NODES = tuple(f"node{i}" for i in range(8))
_HRW_DEAD = "node3"


def _hrw_weight_expr(key_col: str, node: str) -> Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"),
                           F.lit(":"), F.lit(node))),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")


def rendezvous_assign(df: DataFrame, key_col: str,
                      nodes: tuple[str, ...] = _HRW_NODES,
                      out_col: str = "node") -> DataFrame:
    """Append the HRW-assigned node for ``key_col`` over ``nodes``."""
    choices = F.array(*[
        F.struct(_hrw_weight_expr(key_col, n).alias("w"),
                 F.lit(n).alias("node"))
        for n in nodes
    ])
    return df.withColumn(out_col, F.array_max(choices).getField("node"))


def _q281_oracle() -> str:
    node_rows = ", ".join(f"('{n}')" for n in _HRW_NODES)
    return f"""
    WITH nodes(node) AS (VALUES {node_rows}),
    w AS (
        SELECT d.doc_id, n.node,
               CAST('0x' || substr(
                   md5(CAST(d.doc_id AS VARCHAR) || ':' || n.node),
                   1, 15) AS BIGINT) AS wt
        FROM documents d, nodes n
    ),
    pick AS (
        SELECT doc_id, node,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, node DESC) AS rn
        FROM w
    ),
    pick2 AS (
        SELECT doc_id, node,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, node DESC) AS rn
        FROM w WHERE node <> '{_HRW_DEAD}'
    ),
    assign AS (
        SELECT a.doc_id, a.node AS before_node, b.node AS after_node
        FROM (SELECT doc_id, node FROM pick WHERE rn = 1) a
        JOIN (SELECT doc_id, node FROM pick2 WHERE rn = 1) b USING (doc_id)
    )
    SELECT after_node AS node,
           CAST(COUNT(*) FILTER (WHERE before_node = after_node) AS BIGINT)
               AS n_stayed,
           CAST(COUNT(*) FILTER (WHERE before_node <> after_node) AS BIGINT)
               AS n_moved_in,
           CAST(COUNT(*) FILTER (WHERE before_node = '{_HRW_DEAD}')
                AS BIGINT) AS n_from_dead
    FROM assign GROUP BY after_node
    """


def _register_q281() -> None:
    @_register("q281_rendezvous_routing", oracle=_q281_oracle())
    def q281_rendezvous_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """HRW-route documents to 8 nodes, kill node3, re-route to the
        surviving 7: per-node stayed/moved-in census. The HRW invariant
        (every moved doc came from the dead node) is visible in the
        output: n_moved_in == n_from_dead on every row."""
        d = load_table_spread(spark, "documents", sf_dir).select("doc_id")
        survivors = tuple(n for n in _HRW_NODES if n != _HRW_DEAD)
        routed = rendezvous_assign(
            rendezvous_assign(d, "doc_id", _HRW_NODES, "before_node"),
            "doc_id", survivors, "after_node",
        )
        return routed.groupBy(F.col("after_node").alias("node")).agg(
            F.sum((F.col("before_node") == F.col("after_node")).cast("long"))
            .alias("n_stayed"),
            F.sum((F.col("before_node") != F.col("after_node")).cast("long"))
            .alias("n_moved_in"),
            F.sum((F.col("before_node") == _HRW_DEAD).cast("long"))
            .alias("n_from_dead"),
        )


_register_q281()


# ---------------------------------------------------------------------------
# q282 — serpentine (boustrophedon) balanced-packing plan: assign keys to
# R reducers by descending load, snaking across passes (pass 0 fills
# 0..R-1, pass 1 fills R-1..0, …) so every reducer gets one key per
# pass and heavy keys pair with light ones. This is the CLOSED-FORM
# member of the LPT family — rank arithmetic instead of a sequential
# greedy loop, so a plain window + projection computes the whole plan
# (and DuckDB replays it exactly; true greedy LPT is oracle-hostile).
# The 100 TB use: a repartition PLAN for a known-skewed keyspace,
# computed in one pass over per-key counts (tiny), applied as a join-
# free routing column on the data.
# ---------------------------------------------------------------------------

_Q282_R = 16  # reducers


def _register_q282() -> None:
    @_register(
        "q282_serpentine_pack_plan",
        oracle=f"""
        WITH counts AS (
            SELECT l_suppkey AS key, COUNT(*) AS load
            FROM lineitem GROUP BY l_suppkey
        ),
        ranked AS (
            SELECT key, load,
                   ROW_NUMBER() OVER (ORDER BY load DESC, key) - 1 AS rk
            FROM counts
        ),
        planned AS (
            SELECT key, load,
                   CASE WHEN (rk // {_Q282_R}) % 2 = 0
                        THEN rk % {_Q282_R}
                        ELSE {_Q282_R} - 1 - (rk % {_Q282_R})
                   END AS reducer
            FROM ranked
        ),
        tot AS (SELECT SUM(load) AS t FROM counts)
        SELECT CAST(reducer AS BIGINT) AS reducer,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(load) AS BIGINT) AS load,
               CAST(SUM(p.load) * 1000 * {_Q282_R} // t.t AS BIGINT)
                   AS load_permil_of_ideal,
               CAST(SUM(p.key) AS BIGINT) AS key_checksum
        FROM planned p, tot t
        GROUP BY reducer, t.t
        """,
    )
    def q282_serpentine_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Serpentine pack plan for lineitem's supplier keyspace over 16
        reducers: per-reducer key count, load, and load as permil of the
        perfectly balanced ideal (1000 = ideal; the serpentine bound
        keeps the spread tight). See block comment."""
        li = load_table(spark, "lineitem", sf_dir)
        counts = li.groupBy(F.col("l_suppkey").alias("key")).agg(
            F.count(F.lit(1)).alias("load")
        )
        rk = F.row_number().over(
            Window.orderBy(F.desc("load"), F.asc("key"))
        ) - 1
        planned = counts.select(
            "key", "load",
            # even pass (rk div R) -> position rk mod R; odd pass -> the
            # mirror R-1-(rk mod R): the serpentine closed form
            F.when(rk % (2 * _Q282_R) < _Q282_R, rk % _Q282_R)
            .otherwise(_Q282_R - 1 - (rk % _Q282_R))
            .alias("reducer"),
        )
        total = counts.agg(F.sum("load").alias("t"))
        per = planned.groupBy("reducer").agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("load").alias("load"),
            F.sum("key").cast("long").alias("key_checksum"),
        )
        return (
            per.crossJoin(F.broadcast(total))  # 1-row scalar attach
            .select(
                F.col("reducer").cast("long").alias("reducer"),
                F.col("n_keys").cast("long").alias("n_keys"),
                F.col("load").cast("long").alias("load"),
                F.expr(f"load * 1000 * {_Q282_R} div t")
                .cast("long").alias("load_permil_of_ideal"),
                "key_checksum",
            )
        )


_register_q282()
