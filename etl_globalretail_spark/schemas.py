"""Explicit schemas.

The reference declares every table with DDL (fixed schema; see SURVEY.md
§1.4) — we do the same with StructTypes rather than trusting inference,
because the engine's cleansing value-add depends on reading dirty columns as
strings and parsing explicitly (reference parses dates by hand at
etl_completo.py:615-635).

Two schema families:

- TESTDATA_SCHEMAS — the driver's TPC-H-ish parquet tables plus the
  training-data tables (documents, embeddings) and the events stream table.
  This is the read contract: ``readers.load_table`` and
  ``windows.read_event_stream`` read every file with it instead of letting
  Spark infer a schema, and a file whose footer stores a column as another
  type is refused with ``ValueError``. The one thing taken from the footer
  is each timestamp column's type: TIMESTAMP where the footer marks the
  column isAdjustedToUTC (or stores INT96), TIMESTAMP_NTZ where it does not
  (the test data's ``o_orderdate``/``l_shipdate``), and events ``ts`` read
  as raw ``long`` nanos when stored as TIMESTAMP(NANOS).
- star-schema StructTypes for the warehouse the engine builds
  (dims + fact; cf. /root/reference/sql/cria_dw.sql:9-145).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver testdata (TESTDATA.md) — canonical column order matters for tests.
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)

# Per-table primary keys — drive dedup-by-key (idempotent-load semantics; the
# reference's ON CONFLICT DO NOTHING, etl_completo.py:176 et al.).
TESTDATA_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

# ---------------------------------------------------------------------------
# Star-schema (warehouse) types — mirror of /root/reference/sql/cria_dw.sql.
# Money stays DecimalType (exact) exactly as the DW declares it; the oracle
# test surface on driver testdata uses double because that is what the
# parquet carries (SURVEY.md §7.4).
# ---------------------------------------------------------------------------

DIM_TEMPO_SCHEMA = T.StructType(
    [
        T.StructField("sk_tempo", T.LongType(), False),
        T.StructField("data_completa", T.DateType(), False),
        T.StructField("ano", T.IntegerType()),
        T.StructField("mes", T.IntegerType()),
        T.StructField("dia", T.IntegerType()),
        T.StructField("trimestre", T.IntegerType()),
        T.StructField("semestre", T.IntegerType()),
        T.StructField("dia_semana", T.IntegerType()),
        T.StructField("nome_dia_semana", T.StringType()),
        T.StructField("nome_mes", T.StringType()),
        T.StructField("eh_fim_semana", T.BooleanType()),
    ]
)

FATO_VENDAS_MEASURES = (
    "quantidade_vendida",
    "preco_unitario_venda",
    "valor_total_item",
    "custo_unitario",
    "custo_total_item",
    "lucro_bruto",
    "percentual_desconto",
    "valor_desconto",
    "valor_final",
)
