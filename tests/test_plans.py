"""Physical-plan regression guards: the scale-critical plan shapes PLANS.md
documents must survive code changes. Each assertion states the property that
matters at 100 TB, not the whole plan string."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def _plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def test_fact_build_is_broadcast_only(spark, sf_dir, qs):
    """q32: every join is a broadcast hash join (dims are dim-sized by
    construction); the only non-broadcast hash exchanges are the dedup
    groupBy's l_orderkey shuffle and the dim-sized __rk_pid partitionings
    of the two-phase surrogate-key windows (_sk_frame/global_row_number)."""
    plan = _plan(qs["q32_fato_vendas"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 5
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    bad = [
        h.strip() for h in hash_exchanges
        if not (h.strip().startswith("l_orderkey")
                or h.strip().startswith("__rk_pid"))
    ]
    assert not bad, hash_exchanges


def test_filter_pushdown_reaches_scan(spark, sf_dir, qs):
    """q03's predicate must arrive in the parquet scan's PushedFilters, not
    as a post-scan Filter only."""
    plan = _plan(qs["q03_filter_project"](spark, sf_dir))
    # toString truncates the filter list; the leading pushed predicates are
    # enough to prove pushdown happened (vs "PushedFilters: []").
    assert re.search(
        r"PushedFilters: \[IsNotNull\(l_shipdate\), IsNotNull\(l_quantity\),"
        r" GreaterThanOrEqual\(l_shipdate",
        plan,
    )


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A two-column projection reads a two-column schema from parquet."""
    from etl_globalretail_spark.sources.readers import load_table

    l = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = _plan(l)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert sorted(f.split(":")[0] for f in m.group(1).split(",")) == [
        "l_orderkey",
        "l_quantity",
    ]


def test_topk_is_take_ordered(spark, sf_dir, qs):
    """q27: global top-k compiles to TakeOrderedAndProject (O(k) merge),
    never a single-partition window over all scores."""
    plan = _plan(qs["q27_ann_bruteforce"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_star_join_is_broadcast_chain(spark, sf_dir, qs):
    """q01 (flagship): the full star join runs as broadcast hash joins with
    no shuffle join at fixture scale."""
    plan = _plan(qs["q01_revenue_by_region"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_fact_scan_gets_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A star join against the year-partitioned fact with a selective filter
    on the year dimension must plan a dynamicpruning subquery on the fact
    scan — at 100 TB this is the difference between scanning one year's
    directories and scanning the whole fact."""
    from etl_globalretail_spark.plans.star_schema import build_fato_vendas

    out = str(tmp_path / "fato")
    build_fato_vendas(spark, sf_dir, with_ano=True).write.mode(
        "overwrite"
    ).partitionBy("ano").parquet(out)
    fact = spark.read.parquet(out)
    year_dim = spark.createDataFrame(
        [(y, "even" if y % 2 == 0 else "odd") for y in range(1992, 2002)],
        "ano int, parity string",
    )
    joined = fact.join(year_dim.filter(F.col("parity") == "even"), "ano").agg(
        F.sum("valor_final").alias("total")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]


def test_whole_stage_codegen_covers_measures(spark, sf_dir, qs):
    """q07's measure arithmetic stays inside whole-stage codegen. AQE is
    disabled for the assertion only — an AdaptiveSparkPlan's toString hides
    codegen spans until the final plan materializes."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = qs["q07_sales_measures"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen spans print as "*(n) Operator" in toString
    assert re.search(r"\*\(\d+\) Project", plan), plan[:500]


def test_q97_custdist_single_fact_shuffle(spark, sf_dir, qs):
    """Q13 shape: the orders fact is shuffled at most once (join key);
    every other exchange operates on the customer-grain aggregate or
    smaller. No sort-merge of the raw fact against itself."""
    plan = _plan(qs["q97_custdist"](spark, sf_dir))
    fact_exchanges = [
        e for e in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
        if e.strip().startswith("o_custkey")
    ]
    assert len(fact_exchanges) <= 1, plan[:1500]


def test_q100_refresh_never_rejoins_base_with_base(spark, sf_dir, qs):
    """Join-view maintenance: the three delta joins are the ONLY joins —
    exactly 3, each touching a delta side; a 4th join would mean the base
    ⋈ base recompute the delta rule exists to avoid."""
    plan = _plan(qs["q100_incremental_join"](spark, sf_dir))
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    # view_old is itself one join (base ⋈ base happens ONCE to seed the
    # demo view) + 3 delta-rule joins = 4 total; the guard is that adding
    # a 5th (re-deriving the view during refresh) fails here.
    assert n_joins == 4, plan[:1500]


def test_q104_skew_profile_aggregates_before_ranking(spark, sf_dir, qs):
    """The skew profiler must rank KEY-GRAIN counts, not raw rows — and
    only the 10 heaviest keys, via a bounded TakeOrderedAndProject per
    keyspace (never a single-task window over ALL keys). The key-grain
    aggregate is persisted (one InMemoryTableScan pair per keyspace:
    totals leg + top-k leg), and the only join is the 1-row broadcast
    top-k attach."""
    plan = _plan(qs["q104_skew_profile"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") >= 4, plan[:1500]
    assert plan.count("InMemoryTableScan") >= 8, plan[:1500]
    # the residual rank window is limit-bounded (<= 10 rows); the engine-
    # wide partition-less-window lint in test_plan_lint.py asserts that
    assert "CartesianProduct" not in plan


def test_q90_scoring_zero_shuffle_end_to_end(spark, sf_dir, qs):
    """The repetition audit's ONLY exchange is the final per-lang
    aggregate — the bigram scoring itself never shuffles (the map-side
    sorted-run max). One hashpartitioning on lang, nothing else."""
    plan = _plan(qs["q90_repetition_filter"](spark, sf_dir))
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all(e.strip().startswith("lang") for e in exchanges), exchanges


def test_quality_percentile_filter_single_lang_exchange(spark, sf_dir):
    """q121's per-lang rank rides the TWO-PHASE global rank (r7 rewrite:
    a rank window partitioned by ~5 lang codes was a 5-task sort of the
    corpus): the returned plan reads the ONE materialized ranged frame
    (documents scanned once, in the materialize job — never re-scanned
    here) and its rank window is partitioned by the RANGE id, not by the
    low-cardinality lang key alone."""
    from etl_globalretail_spark.operators.text import QUERIES as TQ

    plan = (
        TQ["q121_quality_percentile_filter"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("documents.parquet") == 0, plan
    assert "windowspecdefinition(__rk_pid" in plan, plan


def test_temperature_mixture_map_only_keep(spark, sf_dir):
    """q126's keep decision is a broadcast-joined filter — the corpus is
    never shuffled before the audit aggregate (no Exchange below the
    rate-table join on the doc side beyond the final groupBy)."""
    from etl_globalretail_spark.operators.corpus import QUERIES as CQ

    plan = (
        CQ["q126_temperature_mixture"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # rate table joins onto docs via broadcast, not a sorted shuffle join
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
