"""End-to-end pipeline test (SURVEY.md §5.3): full star-schema build on
sf0.001, row counts, SK properties, measure identities."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from etl_globalretail_spark.plans.star_schema import (
    build_dim_cliente,
    build_dim_fornecedor,
    build_dim_produto,
    build_dim_tempo,
    build_fato_vendas,
    run_full_etl,
)
from etl_globalretail_spark.schemas import TABLE_NAMES


@pytest.fixture(scope="module")
def etl_out(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dw"))
    counts = run_full_etl(spark, sf_dir, out)
    return out, counts


def test_row_counts(etl_out):
    _, counts = etl_out
    assert counts["dim_localidade"] == 25
    assert counts["dim_cliente"] == 150
    assert counts["dim_produto"] == 200
    assert counts["dim_fornecedor"] == 10
    assert counts["dim_tempo"] == 2557  # 1995-01-01..2001-12-31
    assert counts["fato_vendas"] == 5942  # distinct (orderkey, partkey)


def test_fact_after_dims_submits_no_spark_job(spark, sf_dir, tmp_path):
    """The fact looks its keys up in the dims' session artifacts: once the
    three data-sized dims are built, building the fact runs no job."""
    for t in TABLE_NAMES:
        shutil.copy(f"{sf_dir}/{t}.parquet", tmp_path)
    fresh = str(tmp_path)
    for build in (build_dim_cliente, build_dim_produto, build_dim_fornecedor):
        build(spark, fresh)
    spark.range(1).count()  # settle any job a previous test left queued
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    before = jobs.nextJobId()
    build_fato_vendas(spark, fresh)
    assert jobs.nextJobId() == before


def test_surrogate_keys_dense_and_unique(spark, etl_out):
    out, counts = etl_out
    for dim, sk in [
        ("dim_cliente", "sk_cliente"),
        ("dim_produto", "sk_produto"),
        ("dim_tempo", "sk_tempo"),
    ]:
        df = spark.read.parquet(f"{out}/{dim}")
        n = counts[dim]
        agg = df.agg(
            F.countDistinct(sk).alias("d"), F.min(sk).alias("lo"), F.max(sk).alias("hi")
        ).collect()[0]
        assert (agg.d, agg.lo, agg.hi) == (n, 1, n), dim


def test_fact_partitioned_by_year(spark, etl_out):
    """The written fact is hive-partitioned by ano and a year predicate
    prunes to that partition's directory (PartitionFilters, not a scan)."""
    import os

    out, _ = etl_out
    part_dirs = [
        d for d in os.listdir(f"{out}/fato_vendas") if d.startswith("ano=")
    ]
    assert len(part_dirs) >= 5  # 1995-2001 span
    f = spark.read.parquet(f"{out}/fato_vendas")
    pruned = f.filter(F.col("ano") == 1995)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(ano" in plan
    assert pruned.count() > 0


def test_fact_measure_identities(spark, etl_out):
    out, _ = etl_out
    f = spark.read.parquet(f"{out}/fato_vendas")
    bad = f.filter(
        (F.abs(F.col("valor_final") - (F.col("valor_total_item") - F.col("valor_desconto"))) > 1e-6)
        | (F.abs(F.col("lucro_bruto") - (F.col("valor_final") - F.col("custo_total_item"))) > 1e-6)
        | (F.abs(F.col("custo_total_item") - F.col("quantidade_vendida") * F.col("custo_unitario")) > 1e-6)
    ).count()
    assert bad == 0


def test_fact_null_sk_semantics(spark, etl_out):
    out, _ = etl_out
    f = spark.read.parquet(f"{out}/fato_vendas")
    # testdata is referentially intact → no NULL sks; the left-join semantics
    # themselves are covered by test_missing_dim_keeps_null below
    assert f.filter(F.col("sk_cliente").isNull()).count() == 0
    assert f.filter(F.col("sk_tempo").isNull()).count() == 0


def test_missing_dim_match_keeps_null_sk(spark, sf_dir, tmp_path):
    """Reference semantics: rows with missing dim matches keep NULL sk
    (etl_completo.py:637-663); rows with out-of-calendar dates are dropped
    (:629,:635). Simulated by building the fact against a truncated customer
    dim."""
    from etl_globalretail_spark.sources.readers import load_table

    fact = build_fato_vendas(spark, sf_dir)
    # fabricate: join fact rows back to a dim missing half the ids
    cli = build_dim_cliente(spark, sf_dir).filter(F.col("id_cliente") < 75)
    o = load_table(spark, "orders", sf_dir)
    remapped = (
        fact.join(
            o.select("o_orderkey", "o_custkey"),
            F.split("id_venda_item", "_")[0].cast("long") == F.col("o_orderkey"),
        )
        .join(
            cli.select(F.col("id_cliente"), F.col("sk_cliente").alias("sk2")),
            F.col("o_custkey") == F.col("id_cliente"),
            "left",
        )
    )
    assert remapped.filter(F.col("sk2").isNull()).count() > 0
    assert remapped.count() == fact.count()  # left join never drops


def test_dim_tempo_weekend_flags(spark):
    t = build_dim_tempo(spark)
    sample = t.filter(F.col("data_completa") == "1995-01-07").collect()[0]
    assert sample.nome_dia_semana == "Sábado"
    assert sample.eh_fim_semana is True
    n_weekend = t.filter(F.col("eh_fim_semana")).count()
    assert n_weekend == t.filter(F.col("dia_semana") >= 6).count()
