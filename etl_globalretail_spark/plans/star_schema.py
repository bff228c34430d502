"""The warehouse build: dimensions + fact, re-expressed Spark-first.

This is the reference's entire ETL (etl_completo.py:1110-1186) transposed to
the driver's testdata star: nation/region → dim_localidade, customer →
dim_cliente, part → dim_produto, supplier → dim_fornecedor, a generated
calendar → dim_tempo, and orders ⨝ lineitem → fato_vendas with surrogate-key
lookups and the full measure derivation.

Order follows the reference: the dimensions are built first, each keyed
frame kept as a session artifact, and the fact looks its keys up in those
same artifacts instead of re-deriving them. ``run_full_etl`` takes its
summary counts from the written files' parquet footers.

Shape changes vs the reference (each noted at the operator):

- per-row INSERT + point-lookup joins (O(rows) round trips,
  etl_completo.py:637-663) → broadcast hash joins, one job per table;
- SERIAL surrogate keys → ``row_number() over (order by natural key)`` —
  deterministic and testable (SURVEY.md W3); data-sized dims get it from
  the two-phase ``ranks.global_row_number``, bounded ones from a single
  window. The fact table carries a composite natural id instead of a SERIAL
  (sk_venda is never referenced downstream in the reference — SURVEY.md
  §7.4);
- rows with unparseable dates are dropped, rows with missing dim matches
  keep NULL sks — both reference semantics (etl_completo.py:629,635 vs
  :637-663) encoded explicitly via an inner join to dim_tempo (drop) and
  left joins to the other dims (keep-null).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.functions.cleansing import (
    clean_text,
    is_capital,
    standardize_customer_category,
    standardize_product_category,
    standardize_region,
)
from etl_globalretail_spark.operators.ranks import global_row_number
from etl_globalretail_spark.plans.queries import davg, dsum, make_query_decorator
from etl_globalretail_spark.sources.artifacts import session_artifact
from etl_globalretail_spark.sources.readers import (
    calendar_frame,
    load_table,
    parquet_footer,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)

# Calendar span covering every date in the testdata (orders 1995-2001).
CAL_START, CAL_END = "1995-01-01", "2001-12-31"

# The initcap emulation DuckDB-side (no initcap builtin there).
_SQL_INITCAP = (
    "array_to_string(list_transform("
    "regexp_split_to_array(trim(regexp_replace({c}, '\\s+', ' ', 'g')), ' '),"
    " w -> upper(w[1]) || lower(w[2:])), ' ')"
)


def _sk(order_col: str) -> F.Column:
    """W3: deterministic surrogate key for BOUNDED dims only (calendar,
    nation, the 3-row category/promo dims) — the global window is a
    single-partition sort by design at those grains. Data-sized dims
    (customer/part/supplier) go through ``_sk_frame`` instead."""
    return F.row_number().over(Window.orderBy(order_col)).cast("long")


def _sk_frame(
    df: DataFrame, order_col: str, sk_name: str, kind: str, sf_dir: str
) -> DataFrame:
    """W3 surrogate keys for DATA-SIZED dims: ``df`` with ``sk_name`` =
    ``row_number() over (order by order_col)``, assigned by the two-phase
    ``ranks.global_row_number`` (no single-task window at customer/part/
    supplier grain; the natural keys are unique, so the order is total).
    The keyed frame is the session artifact ``(sf_dir, kind)``: the dim is
    built once per session, and the fact load joins that same artifact."""
    return session_artifact(
        df.sparkSession, kind, sf_dir,
        lambda: global_row_number(df, [(order_col, "asc")], sk_name)[0],
    )


# ---------------------------------------------------------------------------
# Dimension builders (callable API — the queries below wrap them).
# ---------------------------------------------------------------------------


def build_dim_localidade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation ⨝ region with cleansing: the dim_localidade analog
    (cria_dw.sql:24-32). eh_capital replicates the reference's latently
    always-false membership test (F4 — compares data-cased names against the
    literal capitals dict; SURVEY.md §7.4)."""
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            _sk("n_nationkey").alias("sk_localidade"),
            F.col("n_nationkey").alias("id_localidade"),
            clean_text(F.col("n_name")).alias("cidade"),
            clean_text(F.col("r_name")).alias("estado"),
            F.col("r_name").alias("regiao"),
            standardize_region(F.col("r_name")).alias("regiao_padronizada"),
            is_capital(F.col("n_name"), F.col("r_name")).alias("eh_capital"),
        )
    )


def build_dim_cliente(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer with snowflake lookup to dim_localidade (J5) + category
    standardization (F5) + name cleansing (F1) + status default (F14)."""
    c = load_table(spark, "customer", sf_dir)
    loc = build_dim_localidade(spark, sf_dir).select(
        "sk_localidade", "id_localidade"
    )
    base = c.join(
        F.broadcast(loc), c.c_nationkey == loc.id_localidade, "left"
    )
    return (
        _sk_frame(base, "c_custkey", "sk_cliente", "dim_cliente", sf_dir)
        .select(
            "sk_cliente",
            F.col("c_custkey").alias("id_cliente"),
            clean_text(F.col("c_name")).alias("nome"),
            standardize_customer_category(F.col("c_mktsegment")).alias(
                "categoria_padronizada"
            ),
            F.col("sk_localidade"),
            F.col("c_acctbal").alias("saldo"),
            F.lit("ATIVO").alias("status"),
        )
    )


def build_dim_produto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part enriched with the decorrelated avg sold price (A1) and margin
    math (F12): custo = 70% of price, margem = (preco−custo)/preco·100."""
    p = load_table(spark, "part", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    avg_sold = l.groupBy("l_partkey").agg(
        davg(F.col("l_extendedprice"), "preco_medio_vendido")
    )
    preco = F.col("p_retailprice")
    custo = preco * F.lit(0.7)
    base = p.join(avg_sold, p.p_partkey == F.col("l_partkey"), "left")
    return (
        _sk_frame(base, "p_partkey", "sk_produto", "dim_produto", sf_dir)
        .select(
            "sk_produto",
            F.col("p_partkey").alias("id_produto"),
            clean_text(F.col("p_name")).alias("nome"),
            standardize_product_category(F.col("p_type")).alias(
                "categoria_padronizada"
            ),
            preco.alias("preco_unitario"),
            custo.alias("custo_unitario"),
            ((preco - custo) / preco * F.lit(100.0)).alias("margem_lucro"),
            F.col("preco_medio_vendido"),
        )
    )


def build_dim_fornecedor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier with localidade snowflake lookup + cleansing + status."""
    s = load_table(spark, "supplier", sf_dir)
    loc = build_dim_localidade(spark, sf_dir).select(
        "sk_localidade", "id_localidade"
    )
    base = s.join(
        F.broadcast(loc), s.s_nationkey == loc.id_localidade, "left"
    )
    return (
        _sk_frame(base, "s_suppkey", "sk_fornecedor", "dim_fornecedor", sf_dir)
        .select(
            "sk_fornecedor",
            F.col("s_suppkey").alias("id_fornecedor"),
            clean_text(F.col("s_name")).alias("nome_padronizado"),
            F.col("sk_localidade"),
            F.lit("ATIVO").alias("status"),
        )
    )


def build_dim_tempo(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Generated calendar covering the data span (S7+F11+W3); identical in
    shape to q15_dim_tempo, parameterized on the testdata's date range."""
    from etl_globalretail_spark.functions.dates import calendar_attributes

    cal = calendar_frame(spark, CAL_START, CAL_END)
    attrs = calendar_attributes(F.col("data_completa"))
    cal = cal.withColumns(
        {
            k: (v.cast("long") if k in (
                "ano", "mes", "dia", "trimestre", "semestre", "dia_semana"
            ) else v)
            for k, v in attrs.items()
        }
    )
    return cal.select(
        _sk("data_completa").alias("sk_tempo"),
        "data_completa",
        "ano", "mes", "dia", "trimestre", "semestre", "dia_semana",
        "nome_dia_semana", "nome_mes", "eh_fim_semana",
    )


def build_fato_vendas(
    spark: SparkSession, sf_dir: str, with_ano: bool = False
) -> DataFrame:
    """The fact assembly (etl_completo.py:590-705 effective loader, plus the
    dead-code loader's promo-discount semantics as the discount column):

    orders ⨝ lineitem (J1) → inner join to dim_tempo on the order date (F9's
    row-drop semantics for dates outside the calendar) → left broadcast
    joins to cliente/produto/fornecedor (J2: missing dim ⇒ NULL sk, P6) →
    measures (F12) with the produto join also carrying custo_unitario (J4:
    one join, two payload columns) → composite id (F15) → dedup on the
    natural key (A3/S5 idempotency).

    The lookups are the built dims, pruned to the columns the fact reads.
    Each sits on its dim's session artifact, so once the dims exist the
    fact plan runs no further surrogate-key job.

    ``with_ano=True`` appends the order year — the physical partition column
    ``run_full_etl`` writes the fact under (the Spark analog of the
    reference's composite temporal indexes, cria_indices_dw.sql:25-26:
    year-ranged queries prune whole directories instead of b-tree probing).
    The default output omits it so the oracle-checked q32 schema is exactly
    the reference fact's column set.
    """
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    tempo = build_dim_tempo(spark).select("sk_tempo", "data_completa")
    cli = build_dim_cliente(spark, sf_dir).select("sk_cliente", "id_cliente")
    prod = build_dim_produto(spark, sf_dir).select(
        "sk_produto", "id_produto", "custo_unitario"
    )
    forn = build_dim_fornecedor(spark, sf_dir).select(
        "sk_fornecedor", "id_fornecedor"
    )

    qty = F.when(F.col("l_quantity") > 0, F.col("l_quantity")).otherwise(F.lit(0.0))
    preco = F.when(F.col("l_extendedprice") > 0, F.col("l_extendedprice")).otherwise(
        F.lit(0.0)
    )
    valor_total = qty * preco
    valor_desconto = valor_total * F.col("l_discount")
    valor_final = valor_total - valor_desconto
    custo_total = qty * F.col("custo_unitario")

    # A3/F15: the reference's fact identity is {id_venda}_{id_produto}
    # (etl_completo.py:686) with ON CONFLICT DO NOTHING keep-first. The
    # synthetic lineitem has genuine duplicate (orderkey, partkey) pairs —
    # and even full-row duplicates — so keep-first is made deterministic by
    # a total order over every remaining column. min(struct) picks the same
    # row as rank-1 of a window, but aggregates with map-side partial
    # combine instead of a full per-partition sort — the cheaper shape when
    # lineitem is the 100 TB table.
    l_dedup = (
        l.groupBy("l_orderkey", "l_partkey")
        .agg(
            F.min(
                F.struct(
                    "l_linenumber", "l_suppkey", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
                )
            ).alias("__first")
        )
        .select("l_orderkey", "l_partkey", "__first.*")
    )
    return (
        l_dedup.join(o, F.col("l_orderkey") == o.o_orderkey)  # J1
        .join(  # F9/P5: inner ⇒ dates outside the calendar are dropped
            F.broadcast(tempo), F.to_date("o_orderdate") == F.col("data_completa")
        )
        .join(F.broadcast(cli), F.col("o_custkey") == F.col("id_cliente"), "left")
        .join(F.broadcast(prod), F.col("l_partkey") == F.col("id_produto"), "left")
        .join(F.broadcast(forn), F.col("l_suppkey") == F.col("id_fornecedor"), "left")
        .select(
            F.concat_ws("_", F.col("l_orderkey"), F.col("l_partkey")).alias(
                "id_venda_item"
            ),
            "sk_tempo",
            "sk_cliente",
            "sk_produto",
            "sk_fornecedor",
            qty.alias("quantidade_vendida"),
            preco.alias("preco_unitario_venda"),
            valor_total.alias("valor_total_item"),
            F.col("custo_unitario"),
            custo_total.alias("custo_total_item"),
            (valor_final - custo_total).alias("lucro_bruto"),
            (F.col("l_discount") * 100.0).alias("percentual_desconto"),
            valor_desconto.alias("valor_desconto"),
            valor_final.alias("valor_final"),
            F.lit("SISTEMA_CRM").alias("origem_dados"),
            *([F.year("data_completa").alias("ano")] if with_ano else []),
        )
    )


def run_full_etl(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """The whole pipeline (reference run_full_etl, etl_completo.py:1110-1186):
    build every dimension, then the fact from the dims' artifacts, write
    each as parquet, and return the summary row counts (A2), read from the
    written files' parquet footers rather than by scanning them back."""
    outputs = {
        "dim_localidade": build_dim_localidade(spark, sf_dir),
        "dim_cliente": build_dim_cliente(spark, sf_dir),
        "dim_produto": build_dim_produto(spark, sf_dir),
        "dim_fornecedor": build_dim_fornecedor(spark, sf_dir),
        "dim_tempo": build_dim_tempo(spark),
        "fato_vendas": build_fato_vendas(spark, sf_dir, with_ano=True),
    }
    counts: dict[str, int] = {}
    for name, df in outputs.items():
        writer = df.write.mode("overwrite")
        if name == "fato_vendas":
            # Hive-style year partitioning: time-ranged fact queries prune
            # whole directories (the DW's dominant predicate — every reference
            # temporal index targets it, cria_indices_dw.sql:25-26). Year
            # granularity bounds partition count (~1 per year, each further
            # split by parallelism) — partitioning by day would produce 2k+
            # tiny files per year of data, the classic small-files failure.
            writer = writer.partitionBy("ano")
        writer.parquet(f"{out_dir}/{name}")
        counts[name] = parquet_footer(f"{out_dir}/{name}")[1]
    return counts


# ---------------------------------------------------------------------------
# Oracle-paired builder queries.
# ---------------------------------------------------------------------------


@_register(
    "q30_dim_cliente",
    oracle=f"""
    WITH loc AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT)
                   AS sk_localidade,
               n_nationkey AS id_localidade
        FROM nation
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS sk_cliente,
           c_custkey AS id_cliente,
           CASE WHEN c_name IS NULL OR c_name = '' THEN 'N/A'
                ELSE {_SQL_INITCAP.format(c="c_name")} END AS nome,
           CASE WHEN c_mktsegment IS NULL OR c_mktsegment = '' THEN 'Não Definido'
                WHEN lower(c_mktsegment) LIKE '%vip%'
                  OR lower(c_mktsegment) LIKE '%premium%' THEN 'Premium'
                WHEN lower(c_mktsegment) LIKE '%gold%'
                  OR lower(c_mktsegment) LIKE '%ouro%' THEN 'Gold'
                WHEN lower(c_mktsegment) LIKE '%silver%'
                  OR lower(c_mktsegment) LIKE '%prata%' THEN 'Silver'
                ELSE 'Padrão' END AS categoria_padronizada,
           loc.sk_localidade,
           c_acctbal AS saldo,
           'ATIVO' AS status
    FROM customer LEFT JOIN loc ON c_nationkey = loc.id_localidade
    """,
)
def q30_dim_cliente(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim_cliente build (§3.2 exemplar): snowflake lookup, cleansing,
    category standardization, deterministic SKs."""
    return build_dim_cliente(spark, sf_dir)


@_register(
    "q31_dim_produto",
    oracle=f"""
    WITH avg_sold AS (
        SELECT l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
                   / COUNT(l_extendedprice) AS preco_medio_vendido
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT) AS sk_produto,
           p_partkey AS id_produto,
           CASE WHEN p_name IS NULL OR p_name = '' THEN 'N/A'
                ELSE {_SQL_INITCAP.format(c="p_name")} END AS nome,
           CASE WHEN p_type IS NULL OR p_type = '' THEN 'Não Definido'
                ELSE {_SQL_INITCAP.format(c="p_type")} END AS categoria_padronizada,
           p_retailprice AS preco_unitario,
           p_retailprice * 0.7 AS custo_unitario,
           (p_retailprice - p_retailprice * 0.7) / p_retailprice * 100.0
               AS margem_lucro,
           a.preco_medio_vendido
    FROM part LEFT JOIN avg_sold a ON p_partkey = a.l_partkey
    """,
)
def q31_dim_produto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim_produto build: A1 enrichment + F12 margin math + F6."""
    return build_dim_produto(spark, sf_dir)


@_register(
    "q32_fato_vendas",
    oracle=f"""
    WITH tempo AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS sk_tempo,
               CAST(d AS DATE) AS data_completa
        FROM (SELECT unnest(generate_series(DATE '{CAL_START}',
                                            DATE '{CAL_END}',
                                            INTERVAL 1 DAY)) AS d)
    ),
    cli AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT)
                   AS sk_cliente, c_custkey AS id_cliente FROM customer
    ),
    prod AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_partkey) AS BIGINT)
                   AS sk_produto, p_partkey AS id_produto,
               p_retailprice * 0.7 AS custo_unitario
        FROM part
    ),
    forn AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS BIGINT)
                   AS sk_fornecedor, s_suppkey AS id_fornecedor FROM supplier
    ),
    dedup AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_orderkey, l_partkey
            ORDER BY l_linenumber, l_suppkey, l_quantity, l_extendedprice,
                     l_discount, l_tax, l_shipdate
        ) AS __rn
        FROM lineitem
    )
    SELECT concat_ws('_', l.l_orderkey, l.l_partkey) AS id_venda_item,
           t.sk_tempo, c.sk_cliente, p.sk_produto, f.sk_fornecedor,
           CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END
               AS quantidade_vendida,
           CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END
               AS preco_unitario_venda,
           (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
               AS valor_total_item,
           p.custo_unitario,
           (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * p.custo_unitario AS custo_total_item,
           ((CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
             - (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
             * l.l_discount)
             - (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
               * p.custo_unitario AS lucro_bruto,
           l.l_discount * 100.0 AS percentual_desconto,
           (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
             * l.l_discount AS valor_desconto,
           (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
             * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
             - (CASE WHEN l.l_quantity > 0 THEN l.l_quantity ELSE 0.0 END)
               * (CASE WHEN l.l_extendedprice > 0 THEN l.l_extendedprice ELSE 0.0 END)
               * l.l_discount AS valor_final,
           'SISTEMA_CRM' AS origem_dados
    FROM dedup l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN tempo t ON CAST(o.o_orderdate AS DATE) = t.data_completa
    LEFT JOIN cli c ON o.o_custkey = c.id_cliente
    LEFT JOIN prod p ON l.l_partkey = p.id_produto
    LEFT JOIN forn f ON l.l_suppkey = f.id_fornecedor
    WHERE l.__rn = 1
    """,
)
def q32_fato_vendas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fact assembly (§3.3) — the flagship ETL parity check."""
    return build_fato_vendas(spark, sf_dir)


@_register(
    "q37_dim_fornecedor",
    oracle=f"""
    WITH loc AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT)
                   AS sk_localidade,
               n_nationkey AS id_localidade
        FROM nation
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS BIGINT)
               AS sk_fornecedor,
           s_suppkey AS id_fornecedor,
           CASE WHEN s_name IS NULL OR s_name = '' THEN 'N/A'
                ELSE {_SQL_INITCAP.format(c="s_name")} END AS nome_padronizado,
           loc.sk_localidade,
           'ATIVO' AS status
    FROM supplier LEFT JOIN loc ON s_nationkey = loc.id_localidade
    """,
)
def q37_dim_fornecedor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim_fornecedor build (cria_dw.sql:63-70): snowflake localidade
    lookup (J5), name cleansing (F1), status default (F14)."""
    return build_dim_fornecedor(spark, sf_dir)


@_register(
    "q38_dim_categoria_cliente",
    oracle="""
    WITH cats AS (SELECT DISTINCT c_mktsegment AS nome FROM customer)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY nome) AS BIGINT)
               AS sk_categoria_cliente,
           nome,
           CASE WHEN nome IS NULL OR nome = '' THEN 'Não Definido'
                WHEN lower(nome) LIKE '%vip%'
                  OR lower(nome) LIKE '%premium%' THEN 'Premium'
                WHEN lower(nome) LIKE '%gold%'
                  OR lower(nome) LIKE '%ouro%' THEN 'Gold'
                WHEN lower(nome) LIKE '%silver%'
                  OR lower(nome) LIKE '%prata%' THEN 'Silver'
                ELSE 'Padrão' END AS categoria_padronizada
    FROM cats
    """,
)
def q38_dim_categoria_cliente(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_categoria_cliente (cria_dw.sql:35-40): DISTINCT projection (P2)
    over the segment column + F5 standardization + deterministic SK (W3) —
    the categoria dimension build of §3.1 step 4."""
    c = load_table(spark, "customer", sf_dir)
    cats = c.select(F.col("c_mktsegment").alias("nome")).distinct()
    return cats.select(
        _sk("nome").alias("sk_categoria_cliente"),
        "nome",
        standardize_customer_category(F.col("nome")).alias(
            "categoria_padronizada"
        ),
    )


@_register(
    "q46_dim_localidade",
    oracle=f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT)
               AS sk_localidade,
           n_nationkey AS id_localidade,
           CASE WHEN n_name IS NULL OR n_name = '' THEN 'N/A'
                ELSE {_SQL_INITCAP.format(c="n_name")} END AS cidade,
           CASE WHEN r_name IS NULL OR r_name = '' THEN 'N/A'
                ELSE {_SQL_INITCAP.format(c="r_name")} END AS estado,
           r_name AS regiao,
           CASE WHEN r_name IS NULL OR r_name = '' THEN 'Não Definido'
                WHEN lower(trim(r_name)) = 'rio de janeiro' THEN 'Rio de Janeiro'
                WHEN lower(trim(r_name)) = 'são paulo' THEN 'São Paulo'
                WHEN lower(trim(r_name)) = 'minas gerais' THEN 'Minas Gerais'
                WHEN lower(trim(r_name)) = 'mato grosso' THEN 'Mato Grosso'
                WHEN lower(trim(r_name)) = 'mato grosso do sul'
                     THEN 'Mato Grosso do Sul'
                WHEN lower(trim(r_name)) = 'rio grande do sul'
                     THEN 'Rio Grande do Sul'
                WHEN lower(trim(r_name)) = 'rio grande do norte'
                     THEN 'Rio Grande do Norte'
                WHEN lower(trim(r_name)) = 'espírito santo' THEN 'Espírito Santo'
                WHEN lower(trim(r_name)) = 'distrito federal'
                     THEN 'Distrito Federal'
                ELSE {_SQL_INITCAP.format(c="r_name")} END AS regiao_padronizada,
           FALSE AS eh_capital
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q46_dim_localidade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_localidade itself (cria_dw.sql:24-32): F1 cleansing, F3's 9-entry
    region map (stated in full in the oracle so the map is differentially
    checked), and F4 is_capital — whose oracle is the literal FALSE because
    the reference compares data-cased city names against a dict keyed by
    Brazilian capitals with 2-letter UF values (etl_completo.py:990-1002);
    the hash-match proves our replication preserves the latent always-false
    behavior exactly (SURVEY.md §7.4)."""
    return build_dim_localidade(spark, sf_dir)


@_register(
    "q44_dim_loja",
    oracle="""
    WITH loc AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_nationkey) AS BIGINT)
                   AS sk_localidade,
               n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
    ),
    lojas AS (
        SELECT s_suppkey, s_name,
               CASE s_suppkey % 4
                   WHEN 0 THEN 'Shopping ' || s_name
                   WHEN 1 THEN 'centro '   || s_name
                   WHEN 2 THEN 'OUTLET '   || s_name
                   ELSE s_name END AS nome,
               CASE s_suppkey % 3
                   WHEN 0 THEN 'maria   da silva'
                   WHEN 1 THEN 'JOÃO DE souza'
                   ELSE 'ana com  santos' END AS gerente_raw,
               upper(n_name) AS cidade, upper(r_name) AS estado
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY s_suppkey) AS BIGINT) AS sk_loja,
           s_suppkey AS id_loja,
           nome,
           CASE s_suppkey % 3
               WHEN 0 THEN 'Maria da Silva'
               WHEN 1 THEN 'João de Souza'
               ELSE 'Ana com Santos' END AS gerente,
           CASE s_suppkey % 4
               WHEN 0 THEN 'Shopping'
               WHEN 1 THEN 'Centro'
               WHEN 2 THEN 'Outlet'
               ELSE 'Loja Padrão' END AS tipo_loja,
           loc.sk_localidade,
           'ATIVA' AS status
    FROM lojas
    LEFT JOIN loc ON lower(trim(lojas.cidade)) = lower(trim(loc.n_name))
                 AND lower(trim(lojas.estado)) = lower(trim(loc.r_name))
    """,
)
def q44_dim_loja(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_loja (cria_dw.sql:96-104; effective loader etl_completo.py:540-588):
    stores manufactured deterministically from supplier (the q12 pattern —
    the testdata has no stores table, so the reference-shaped dirty input is
    derived from keys), then the full build: F2 standardize_name on the
    manager (connector words lowercased), F7 classify_store_type, and J3 —
    the case-insensitive derived-key lookup to localidade on
    lower(trim(cidade)), lower(trim(estado)) — with uppercased city/state on
    the store side so the normalization genuinely does work. The oracle
    states the cleansed outputs as literals, making this a differential test
    of F2/F7 against hand-computed expected values."""
    from etl_globalretail_spark.functions.cleansing import (
        classify_store_type,
        norm_key,
        standardize_name,
    )

    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    k = F.col("s_suppkey")
    raw = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            F.when(k % 4 == 0, F.concat(F.lit("Shopping "), F.col("s_name")))
            .when(k % 4 == 1, F.concat(F.lit("centro "), F.col("s_name")))
            .when(k % 4 == 2, F.concat(F.lit("OUTLET "), F.col("s_name")))
            .otherwise(F.col("s_name"))
            .alias("nome"),
            F.when(k % 3 == 0, F.lit("maria   da silva"))
            .when(k % 3 == 1, F.lit("JOÃO DE souza"))
            .otherwise(F.lit("ana com  santos"))
            .alias("gerente_raw"),
            F.upper("n_name").alias("cidade"),
            F.upper("r_name").alias("estado"),
        )
    )
    loc = (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            _sk("n_nationkey").alias("sk_localidade"),
            norm_key(F.col("n_name")).alias("__kc"),
            norm_key(F.col("r_name")).alias("__ke"),
        )
    )
    base = raw.join(
        F.broadcast(loc),
        (norm_key(F.col("cidade")) == F.col("__kc"))
        & (norm_key(F.col("estado")) == F.col("__ke")),
        "left",
    )
    return (
        _sk_frame(base, "s_suppkey", "sk_loja", "dim_loja", sf_dir)
        .select(
            "sk_loja",
            F.col("s_suppkey").alias("id_loja"),
            "nome",
            standardize_name(F.col("gerente_raw")).alias("gerente"),
            classify_store_type(F.col("nome")).alias("tipo_loja"),
            "sk_localidade",
            F.lit("ATIVA").alias("status"),
        )
    )


_PROMO_CASE_SQL = """
    CASE o_orderpriority
        WHEN '1-URGENT' THEN 'Black Friday 25'
        WHEN '2-HIGH' THEN 'Natal Especial 15.5'
        WHEN '3-MEDIUM' THEN 'liquidação verão 10'
        WHEN '4-NOT SPECIFIED' THEN 'Oferta Relâmpago'
        ELSE 'Desconto 5%' END
"""


@_register(
    "q45_dim_promocao",
    oracle=f"""
    WITH promo AS (
        SELECT DISTINCT {_PROMO_CASE_SQL} AS nome,
               CASE o_orderpriority
                   WHEN '1-URGENT' THEN '2024-11-29'
                   WHEN '2-HIGH' THEN '25/12/2024'
                   WHEN '3-MEDIUM' THEN 'Data Inválida'
                   WHEN '4-NOT SPECIFIED' THEN ''
                   ELSE '01/06/2024' END AS data_inicio_raw
        FROM orders
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY nome) AS BIGINT) AS sk_promocao,
           nome,
           CASE WHEN lower(nome) LIKE '%black%' THEN 'Black Friday'
                WHEN lower(nome) LIKE '%natal%' THEN 'Natal'
                WHEN lower(nome) LIKE '%liquidação%' THEN 'Liquidação'
                ELSE 'Desconto Geral' END AS tipo_promocao,
           COALESCE(TRY_CAST(regexp_extract(nome, '(\\d+(?:\\.\\d+)?)', 1)
                             AS DOUBLE), 0.0) AS percentual_desconto,
           CASE WHEN data_inicio_raw IN ('Data Inválida', 'N/A', 'NULL', '')
                THEN NULL
                ELSE COALESCE(
                    CAST(try_strptime(data_inicio_raw, '%Y-%m-%d') AS DATE),
                    CAST(try_strptime(data_inicio_raw, '%d/%m/%Y') AS DATE))
           END AS data_inicio
    FROM promo
    """,
)
def q45_dim_promocao(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_promocao (cria_dw.sql:107-116; promocao loader
    etl_completo.py:707-801): promotion labels manufactured from the order
    priorities, then F8 classify_promotion_type, F10 regex percentage
    extraction, and F9 multi-format dirty-date parsing with sentinel null-out
    (dims keep the row with a NULL date where the fact loader would drop it —
    both reference semantics, SURVEY.md §7.4)."""
    from etl_globalretail_spark.functions.cleansing import classify_promotion_type
    from etl_globalretail_spark.functions.dates import (
        DATE_SENTINELS,
        parse_multiformat_date,
    )
    from etl_globalretail_spark.functions.numeric import extract_discount_pct

    o = load_table(spark, "orders", sf_dir)
    pr = F.col("o_orderpriority")
    promo = o.select(
        F.when(pr == "1-URGENT", F.lit("Black Friday 25"))
        .when(pr == "2-HIGH", F.lit("Natal Especial 15.5"))
        .when(pr == "3-MEDIUM", F.lit("liquidação verão 10"))
        .when(pr == "4-NOT SPECIFIED", F.lit("Oferta Relâmpago"))
        .otherwise(F.lit("Desconto 5%"))
        .alias("nome"),
        F.when(pr == "1-URGENT", F.lit("2024-11-29"))
        .when(pr == "2-HIGH", F.lit("25/12/2024"))
        .when(pr == "3-MEDIUM", F.lit("Data Inválida"))
        .when(pr == "4-NOT SPECIFIED", F.lit(""))
        .otherwise(F.lit("01/06/2024"))
        .alias("data_inicio_raw"),
    ).distinct()
    return promo.select(
        _sk("nome").alias("sk_promocao"),
        "nome",
        classify_promotion_type(F.col("nome")).alias("tipo_promocao"),
        extract_discount_pct(F.col("nome")).alias("percentual_desconto"),
        F.when(
            F.col("data_inicio_raw").isin(*DATE_SENTINELS), F.lit(None)
        )
        .otherwise(parse_multiformat_date(F.col("data_inicio_raw")))
        .alias("data_inicio"),
    )


@_register(
    "q39_promo_fact",
    oracle="""
    WITH promo AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY nome) AS BIGINT) AS sk_promocao,
               nome,
               COALESCE(TRY_CAST(regexp_extract(nome, '(\\d+(?:\\.\\d+)?)', 1)
                                 AS DOUBLE), 0.0) AS percentual_desconto
        FROM (SELECT DISTINCT o_orderpriority AS nome FROM orders)
    )
    SELECT p.sk_promocao,
           p.nome AS promocao,
           p.percentual_desconto,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(27,6))) AS DOUBLE) AS valor_liquido,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           * p.percentual_desconto / 100.0
                         AS DECIMAL(27,6))) AS DOUBLE) AS valor_desconto_promo
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN promo p ON o_orderpriority = p.nome
    GROUP BY 1, 2, 3
    """,
)
def q39_promo_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — the dead-code promo loader's intent (etl_completo.py:904-911)
    as a live query: a promo dimension derived by DISTINCT (P2) + F10 regex
    pct extraction + SK assignment, left-joined into the measure pipeline,
    with the discount applied to the net value. o_orderpriority ('1-URGENT'
    …) stands in for tipo_desconto ('Desconto 10%' …) — same shape: a label
    whose embedded number is the percentage."""
    from etl_globalretail_spark.functions.numeric import extract_discount_pct

    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    promo = (
        o.select(F.col("o_orderpriority").alias("nome"))
        .distinct()
        .select(
            _sk("nome").alias("sk_promocao"),
            "nome",
            extract_discount_pct(F.col("nome")).alias("percentual_desconto"),
        )
    )
    liquido = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        l.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(promo), F.col("o_orderpriority") == promo.nome)
        .groupBy(
            "sk_promocao",
            F.col("nome").alias("promocao"),
            "percentual_desconto",
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(liquido, "valor_liquido"),
            dsum(
                liquido * F.col("percentual_desconto") / F.lit(100.0),
                "valor_desconto_promo",
            ),
        )
    )
