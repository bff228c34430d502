"""Deterministic sampling & corpus-curation operators.

A 100 TB training-data pipeline never uses ``rand()`` for its splits: the
train/val/test assignment of a document must be a pure function of the
document (re-runs, backfills, and incremental loads must all agree, on any
cluster layout). The standard mechanism is hash-bucket assignment — hash a
stable key with a salt, reduce to a bucket, map bucket ranges to splits.
The same primitive gives reproducible downsampling ("keep 1%") and A/B
carve-outs, with no shuffle at all: every operator here is a map-only
filter/projection that composes with scan pruning.

Quota capping (``quota_per_group``) is the other curation staple: cap the
number of documents any one source/domain contributes (a handful of crawler
domains otherwise dominate the corpus). That one is a genuine top-N-per-key
— one shuffle on the group key.

Cross-engine determinism: the bucket is the first 15 hex chars of
``md5(key || salt)`` parsed base-16 (< 2⁶⁰, overflow-free in signed 64-bit)
mod ``n_buckets``. Both Spark (`conv`) and DuckDB (`'0x…'::BIGINT`) compute
it bit-identically, so every operator here is oracle-paired — unlike
``rand(seed)`` sampling, which no two engines agree on.

The reference has no sampling surface (single-shot full-table ETL,
etl_completo.py:1110-1186); this family is part of the 100 TB mandate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.plans.queries import make_query_decorator
from etl_globalretail_spark.sources.readers import load_table, load_table_spread
from etl_globalretail_spark.sources.artifacts import materialize

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)

N_BUCKETS = 1_000_000


def hash_bucket(
    key: Column, n_buckets: int = N_BUCKETS, salt: str = ""
) -> Column:
    """Deterministic bucket ∈ [0, n_buckets) from a stable key.

    15 hex chars of md5 → base-16 parse keeps the value < 2⁶⁰ (signed-64
    safe, ANSI-mode safe). The salt namespaces independent decisions: a
    sampling decision and a split decision on the same key must not
    correlate, so they use different salts.
    """
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % n_buckets


def _sql_bucket(key_expr: str, n_buckets: int = N_BUCKETS, salt: str = "") -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || '{salt}'), 1, 15)"
        f" AS BIGINT) % {n_buckets}"
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "sample",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash — map-only,
    stable across runs/cluster layouts, and disjoint samples compose by
    bucket range (fraction 0.1 with salt s ⊂ fraction 0.2 with salt s)."""
    cut = int(fraction * n_buckets)
    return df.filter(hash_bucket(F.col(key_col), n_buckets, salt) < cut)


def assign_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "split",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Add a ``split`` column ("train"/"val"/…) by hash-bucket ranges.

    Weights are normalized; the last split absorbs rounding so every row
    gets exactly one split. Pure projection — no shuffle, no state.
    """
    total = sum(weights.values())
    b = hash_bucket(F.col(key_col), n_buckets, salt)
    expr: Column | None = None
    hi = 0
    items = list(weights.items())
    for name, w in items[:-1]:
        hi += int(w / total * n_buckets)
        expr = F.when(b < hi, name) if expr is None else expr.when(b < hi, name)
    last = items[-1][0]
    return df.withColumn(
        "split", F.lit(last) if expr is None else expr.otherwise(last)
    )


def quota_per_group(
    df: DataFrame,
    group_col: str,
    quota: int,
    id_col: str,
    salt: str = "quota",
) -> DataFrame:
    """Cap each group at ``quota`` rows, chosen deterministically (by hash
    bucket, id as tiebreak — an unbiased "random but reproducible" pick,
    not head-of-file bias). One shuffle on the group key; a pathologically
    hot group is one window partition, which AQE's skew handling splits for
    the sort but not the rank — for corpus-scale domain caps the group
    cardinality (domains) is high and per-group size bounded by crawl
    policy, which is the regime this targets."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(id_col), salt=salt), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "strat",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ``fractions[stratum]`` of
    each stratum's rows, by key hash — the rebalancing primitive for
    skewed corpora (downsample the over-represented language, keep all of
    the rare one).

    Map-only like ``hash_sample`` (the stratum cut is a chained-when over
    the stratum column — no shuffle, no per-stratum pass, unlike
    ``DataFrame.sampleBy`` which is also non-deterministic under retries).
    Strata absent from ``fractions`` keep ``default_fraction``. Samples at
    different fractions nest: the 5% sample is a subset of the 20% one.
    """
    b = hash_bucket(F.col(key_col), n_buckets, salt)
    cut: Column | None = None
    for stratum, frac in fractions.items():
        thr = F.lit(int(frac * n_buckets))
        cond = F.col(stratum_col) == stratum
        cut = F.when(cond, thr) if cut is None else cut.when(cond, thr)
    cut = (
        F.lit(int(default_fraction * n_buckets))
        if cut is None
        else cut.otherwise(F.lit(int(default_fraction * n_buckets)))
    )
    return df.filter(b < cut)


_Q64_FRACTIONS = {"en": 0.25, "zh": 0.8, "de": 1.0}
_Q64_SQL_CASE = (
    "CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 800000 "
    "WHEN 'de' THEN 1000000 ELSE 100000 END"
)


@_register(
    "q64_stratified_sample",
    oracle=f"""
    WITH kept AS (
        SELECT lang, doc_id FROM documents
        WHERE {_sql_bucket("doc_id", salt="strat")} < {_Q64_SQL_CASE}
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(k.doc_id) AS n_sampled,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_sampled_ids
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.lang
    """,
)
def q64_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalancing sample: 25% of over-represented 'en', 80% of
    'zh', all of 'de', 10% default — audited per language with an id-sum
    pinning exact membership. The sample itself is a map-only filter; only
    this audit aggregates."""
    d = load_table(spark, "documents", sf_dir)
    kept = stratified_sample(
        d, "lang", _Q64_FRACTIONS, "doc_id", default_fraction=0.1
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    s = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_sampled_ids"),
    )
    return totals.join(s, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        F.coalesce("sum_sampled_ids", F.lit(0)).alias("sum_sampled_ids"),
    )


@_register(
    "q47_hash_split",
    oracle=f"""
    WITH assigned AS (
        SELECT lang, doc_id,
               CASE WHEN {_sql_bucket("doc_id", salt="split")} < 900000 THEN 'train'
                    WHEN {_sql_bucket("doc_id", salt="split")} < 950000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM assigned GROUP BY split, lang
    """,
)
def q47_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment of the corpus, audited
    per (split, lang); sum of ids pins exact membership, not just counts."""
    d = load_table(spark, "documents", sf_dir)
    a = assign_split(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return a.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids")
    )


@_register(
    "q48_source_quota",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {_sql_bucket("doc_id", salt="quota")}, doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE rn <= 15) AS n_kept,
           CAST(COALESCE(SUM(doc_id) FILTER (WHERE rn <= 15), 0) AS BIGINT)
               AS sum_kept_ids
    FROM ranked GROUP BY source
    """,
)
def q48_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (≤15 docs/source, hash-ordered): the domain
    cap every crawl-derived corpus applies. sum of kept ids pins the exact
    kept set against the oracle."""
    d = load_table(spark, "documents", sf_dir)
    kept = quota_per_group(d, "source", 15, "doc_id")
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("sum_kept_ids")
    )
    return totals.join(kept_agg, "source", "inner").select(
        "source", "n_docs", "n_kept", "sum_kept_ids"
    )


# ---------------------------------------------------------------------------
# q182 — deterministic training-shard manifest: the LAST step of every
# corpus pipeline (write N shards + a manifest a trainer can trust).
# Shard assignment is the same cross-engine md5 bucket as the splits
# (salt-namespaced); the manifest row per shard carries the doc census,
# token budget, id range, and an order/partition-invariant XOR content
# fingerprint (the q152 anti-entropy device at shard grain) — enough to
# verify a delivered shard without re-reading the corpus.
#
# Scale notes: assignment is map-only; the manifest is ONE aggregate with
# map-side combine (16 groups). The actual shard write is
# formats.write_partitioned(shard) — this query is its verification face.
# A SUM of full-width 60-bit hashes would overflow int64 past ~8 docs;
# XOR is closed on the domain (cookbook q85 note).
# ---------------------------------------------------------------------------

_N_SHARDS = 16


def _q182_oracle() -> str:
    from etl_globalretail_spark.operators.text import _sql_tokens

    return f"""
    SELECT {_sql_bucket("doc_id", _N_SHARDS, "shard")} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_sql_tokens()})) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(BIT_XOR(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
                AS BIGINT) AS content_xor
    FROM documents
    GROUP BY shard
    """


def _register_q182() -> None:
    @_register("q182_shard_manifest", oracle=_q182_oracle())
    def q182_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
        """16-shard manifest over documents: per-shard doc count, token
        budget, doc-id range, and XOR content fingerprint — the
        deliverable-verification face of a sharded corpus write."""
        from etl_globalretail_spark.operators.text import token_count

        docs = load_table(spark, "documents", sf_dir)
        return (
            docs.select(
                hash_bucket(F.col("doc_id"), _N_SHARDS, "shard").alias("shard"),
                "doc_id",
                token_count(F.col("text")).alias("ntok"),
                F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
                .cast("bigint").alias("h"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("ntok").cast("long").alias("sum_tokens"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
                F.bit_xor("h").alias("content_xor"),
            )
        )


_register_q182()


# ---------------------------------------------------------------------------
# q238 — metric uncertainty by DETERMINISTIC bootstrap: 32 half-sample
# replicas of mean order value per priority class, with the CI read off
# the sorted replica means. Every training-data pipeline reports metrics
# off samples; this is the error-bar operator, made reproducible (and
# hash-checkable) by replacing RNG resampling with keyed half-sampling:
# replica r keeps order o iff md5(o_orderkey ∥ "boot" ∥ r) lands in the
# lower half of the bucket space — independent 50% subsamples, stable
# across runs, engines, and cluster layouts (the same device as q47's
# hash split; subsample means are the classic m-out-of-n bootstrap).
#
# Replica means are exact integers (cent sums, floor division), the CI
# bounds are the 2nd and 31st order statistics of the 32 means under a
# (mean, replica) total order — nearest-rank 5%/95%, no interpolation.
#
# Plan: the orders scan explodes ×32 map-side (a projection, not a
# shuffle), aggregates to (priority, replica) partials with map-side
# combine — the exchange carries 5×32 groups regardless of data size —
# then one tiny window picks the order statistics. Full-sample means ride
# the same frame as replica -1 (always-true membership) so the scan runs
# once.
# ---------------------------------------------------------------------------

_Q238_R = 32
_Q238_HALF = N_BUCKETS // 2


def _q238_bucket_sql() -> str:
    return (
        "CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || 'boot'"
        " || CAST(u.r AS VARCHAR)), 1, 15) AS BIGINT)"
        f" % {N_BUCKETS}"
    )


@_register(
    "q238_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS priority, o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    member AS (
        SELECT base.priority, CAST(u.r AS BIGINT) AS r, base.cents
        FROM base, UNNEST(range(-1, {_Q238_R})) AS u(r)
        WHERE u.r = -1 OR {_q238_bucket_sql()} < {_Q238_HALF}
    ),
    rep AS (
        SELECT priority, r,
               COUNT(*) AS n,
               SUM(cents) // COUNT(*) AS mean_cents
        FROM member GROUP BY priority, r
    ),
    ranked AS (
        SELECT priority, r, n, mean_cents,
               ROW_NUMBER() OVER (PARTITION BY priority
                                  ORDER BY mean_cents, r) AS rn
        FROM rep WHERE r >= 0
    )
    SELECT rk.priority,
           CAST({_Q238_R} AS BIGINT) AS n_replicas,
           CAST(MAX(CASE WHEN rk.rn = 2 THEN rk.mean_cents END) AS BIGINT)
               AS lo_cents,
           CAST(MAX(CASE WHEN rk.rn = {_Q238_R - 1} THEN rk.mean_cents END)
               AS BIGINT) AS hi_cents,
           CAST(MAX(f.mean_cents) AS BIGINT) AS full_mean_cents,
           CAST(MAX(f.n) AS BIGINT) AS n_orders
    FROM ranked rk
    JOIN (SELECT priority, n, mean_cents FROM rep WHERE r = -1) f
      ON rk.priority = f.priority
    GROUP BY rk.priority
    """,
)
def q238_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-rank 5%/95% bootstrap CI of mean order value per priority,
    from 32 deterministic keyed half-samples (replica −1 = the full
    sample, sharing the single scan)."""
    o = load_table_spread(spark, "orders", sf_dir)
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    member = (
        base.select(
            "priority", "cents",
            F.explode(F.sequence(F.lit(-1), F.lit(_Q238_R - 1))).alias("r"),
            "o_orderkey",
        )
        .filter(
            (F.col("r") == -1)
            | (
                hash_bucket(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("boot"),
                        F.col("r").cast("string"),
                    )
                )
                < _Q238_HALF
            )
        )
    )
    rep = member.groupBy("priority", F.col("r").cast("long").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_cents"),
    )
    # rep feeds the replica ranking AND the full-sample row — tiny
    # (5 priorities × 33), checkpoint not needed but persist-by-rule:
    rep = rep.transform(materialize)
    wr = Window.partitionBy("priority").orderBy("mean_cents", "r")
    ranked = (
        rep.filter(F.col("r") >= 0)
        .select("priority", "mean_cents", F.row_number().over(wr).alias("rn"))
    )
    full = rep.filter(F.col("r") == -1).select(
        "priority",
        F.col("mean_cents").alias("full_mean_cents"),
        F.col("n").alias("n_orders"),
    )
    ci = ranked.groupBy("priority").agg(
        F.lit(_Q238_R).cast("long").alias("n_replicas"),
        F.max(F.when(F.col("rn") == 2, F.col("mean_cents")))
        .cast("long").alias("lo_cents"),
        F.max(F.when(F.col("rn") == _Q238_R - 1, F.col("mean_cents")))
        .cast("long").alias("hi_cents"),
    )
    return ci.join(full, "priority").select(
        "priority", "n_replicas", "lo_cents", "hi_cents",
        F.col("full_mean_cents").cast("long"),
        F.col("n_orders").cast("long"),
    )


# ---------------------------------------------------------------------------
# q245 — mixture / data-budget planning: given per-source token
# inventories and a total training budget, allocate tokens per source
# toward an equal-share mixture target under a 1-epoch cap (no source is
# upsampled past its inventory), then redistribute the shortfall from
# capped sources to the others proportionally to remaining headroom —
# one unrolled round of water-filling, the allocation every multi-corpus
# pretraining run plans before sharding. The synthetic sources are
# near-uniform, so roughly half sit below the equal-share target and the
# cap genuinely binds.
#
# All-integer arithmetic (token counts, floor divisions); integer-
# division remainders are reported, not hidden (the final fill_permil
# column shows sub-1000 fills on uncapped sources when the leftover
# does not divide evenly). At 100 TB inventories the redistribution
# product (leftover × headroom) exceeds int64 — the same expression
# moves to DECIMAL(38,0) with div unchanged; fixture magnitudes stay
# far inside int64 and both engines multiply in BIGINT here.
#
# Plan shape: one corpus scan → |sources|-row aggregate (persisted — it
# is consumed by both global-total reductions and the final row set);
# the two global totals attach as broadcast 1-row frames (bounded by
# construction, plan-lint whitelisted).
# ---------------------------------------------------------------------------


def _register_q245() -> None:
    @_register(
        "q245_mixture_plan",
        oracle="""
        WITH a AS (
            SELECT source,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                        AS BIGINT) AS avail
            FROM documents GROUP BY source
        ),
        t AS (
            SELECT CAST(SUM(avail) AS BIGINT) AS budget,
                   CAST(COUNT(*) AS BIGINT) AS n_src
            FROM a
        ),
        r1 AS (
            SELECT source, avail, budget // n_src AS target,
                   least(avail, budget // n_src) AS planned1, budget
            FROM a, t
        ),
        t2 AS (
            SELECT CAST(SUM(planned1) AS BIGINT) AS sum1,
                   CAST(SUM(avail - planned1) AS BIGINT) AS headroom
            FROM r1
        )
        SELECT source,
               avail AS avail_tokens,
               CAST(target AS BIGINT) AS target_tokens,
               CAST(planned1 AS BIGINT) AS planned_r1,
               CAST(planned1 + CASE WHEN headroom = 0 THEN 0
                    ELSE (budget - sum1) * (avail - planned1) // headroom
                    END AS BIGINT) AS planned_final,
               CAST((planned1 + CASE WHEN headroom = 0 THEN 0
                    ELSE (budget - sum1) * (avail - planned1) // headroom
                    END) * 1000 // avail AS BIGINT) AS fill_permil
        FROM r1, t2
        """,
    )
    def q245_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Equal-share mixture allocation under a 1-epoch cap with one
        proportional-headroom redistribution round; see block comment."""
        docs = load_table(spark, "documents", sf_dir)
        avail = (
            docs.select(
                "source",
                F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
            )
            .groupBy("source")
            .agg(F.sum("n_tok").cast("long").alias("avail"))
            .persist()  # consumed by both totals and the final row set
        )
        tot = avail.agg(
            F.sum("avail").cast("long").alias("budget"),
            F.count(F.lit(1)).cast("long").alias("n_src"),
        )
        r1 = avail.crossJoin(F.broadcast(tot)).select(
            "source", "avail", "budget",
            F.expr("budget div n_src").alias("target"),
            F.expr("least(avail, budget div n_src)").alias("planned1"),
        )
        tot2 = r1.agg(
            F.sum("planned1").cast("long").alias("sum1"),
            F.sum(F.col("avail") - F.col("planned1")).cast("long")
            .alias("headroom"),
        )
        fin = r1.crossJoin(F.broadcast(tot2)).withColumn(
            "planned_final",
            F.expr(
                "CAST(planned1 + CASE WHEN headroom = 0 THEN 0"
                " ELSE (budget - sum1) * (avail - planned1) div headroom"
                " END AS BIGINT)"
            ),
        )
        return fin.select(
            "source",
            F.col("avail").alias("avail_tokens"),
            F.col("target").cast("long").alias("target_tokens"),
            F.col("planned1").cast("long").alias("planned_r1"),
            "planned_final",
            F.expr("CAST(planned_final * 1000 div avail AS BIGINT)")
            .alias("fill_permil"),
        )


_register_q245()


# ---------------------------------------------------------------------------
# q266 — priority (weighted bottom-k) sampling: a fixed-size sample
# where inclusion probability tracks a per-row weight — the
# fixed-budget companion to weighted_sample's fixed-RATE keep (q88).
# Priority = hash(id)·1000 div weight (u uniform on the 52-bit md5
# space ⇒ P[priority < τ] ≈ τ·w/2⁵²·10⁻³ — proportional to w), sample
# = the k smallest priorities under a (priority, id) total order. All
# integers: u·1000 ≤ 4.5e18 stays in int64.
#
# Bottom-k-by-priority is mergeable exactly like KMV (union partials,
# re-take-k — the q240 device applied to weighted inclusion), which is
# what makes the fixed-size WEIGHTED sample distributable at 100 TB:
# per-shard bottom-k, tiny merge. Spark plan here: map-only priority
# projection + one rank window at the |corpus| grain (the q190
# two-phase device is the stated sort shard at scale).
# ---------------------------------------------------------------------------

_Q266_K = 50


def _register_q266() -> None:
    @_register(
        "q266_priority_sample",
        oracle=f"""
        WITH pri AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                           || 'prio'), 1, 13) AS BIGINT)
                       * 1000 // CAST(n_chars AS BIGINT) AS priority
            FROM documents WHERE n_chars > 0
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority, doc_id)
                    AS BIGINT) AS rank,
               doc_id, w, CAST(priority AS BIGINT) AS priority
        FROM pri
        ORDER BY priority, doc_id LIMIT {_Q266_K}
        """,
    )
    def q266_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The k=50 smallest hash-priorities (weight-proportional
        inclusion); see block comment for the bottom-k merge law."""
        d = load_table(spark, "documents", sf_dir).filter(
            F.col("n_chars") > 0
        )
        pri = d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("w"),
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING),"
                " 'prio')), 1, 13), 16, 10) AS BIGINT) * 1000"
                " div CAST(n_chars AS BIGINT)"
            ).alias("priority"),
        )
        # bounded top-k (TakeOrderedAndProject + rank over <= K rows) —
        # never a single-task global window over the doc-grain frame
        from etl_globalretail_spark.operators.ranks import global_topk

        return global_topk(
            pri, [("priority", "asc"), ("doc_id", "asc")], _Q266_K, out="rank"
        ).select(
            F.col("rank").cast("long").alias("rank"),
            "doc_id", "w", F.col("priority").cast("long").alias("priority"),
        )


_register_q266()


# ---------------------------------------------------------------------------
# q276 — sample-ratio-mismatch (SRM) check: the first thing an
# experimentation platform audits — did the 50/50 hash split actually
# deliver 50/50? A skewed ratio invalidates every downstream readout
# (q224's CUPED included, which uses this exact md5 arm assignment).
# The statistic is the 1-dof chi-square for equal split, kept integer:
# chi2_micro = (o_a − o_b)²·1e6 div n; the 3.84 threshold (p≈0.05)
# becomes the integer comparison chi2_micro > 3841459 — no FP anywhere.
#
# Unit-of-analysis discipline (the classic SRM pitfall, demonstrated on
# purpose): assignment is per USER, so the audit counts DISTINCT USERS
# per arm — per event type and pooled. A '__pooled_events__' row runs
# the same statistic at EVENT grain, where per-user event clustering
# inflates chi-square and falsely flags a perfectly healthy split;
# the pytest pins healthy-at-user-grain AND inflated-at-event-grain.
# ---------------------------------------------------------------------------


def _register_q276() -> None:
    arm_sql = ("CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)"
               " || 'cuped-arm'), 1, 15) AS BIGINT) % 2")

    @_register(
        "q276_srm_check",
        oracle=f"""
        WITH armed AS (
            SELECT DISTINCT event_type, user_id, {arm_sql} AS arm
            FROM events
        ),
        cells AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS o_a,
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS o_b
            FROM armed GROUP BY event_type
            UNION ALL
            SELECT '__pooled_users__',
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
            FROM (SELECT DISTINCT user_id, arm FROM armed)
            UNION ALL
            SELECT '__pooled_events__',
                   CAST(SUM(CASE WHEN {arm_sql} = 0 THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(SUM(CASE WHEN {arm_sql} = 1 THEN 1 ELSE 0 END)
                        AS BIGINT)
            FROM events
        )
        SELECT event_type, o_a, o_b,
               CAST((o_a - o_b) * (o_a - o_b) * 1000000 // (o_a + o_b)
                    AS BIGINT) AS chi2_micro,
               CAST(CASE WHEN (o_a - o_b) * (o_a - o_b) * 1000000
                              // (o_a + o_b) > 3841459
                         THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        FROM cells
        """,
    )
    def q276_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Integer chi-square SRM audit of the md5 50/50 split at USER
        grain (the assignment unit), plus the deliberately-wrong
        event-grain pooled row; see block comment."""
        ev = load_table(spark, "events", sf_dir)
        arm = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"),
                                   F.lit("cuped-arm"))), 1, 15,
                ), 16, 10,
            ).cast("bigint") % 2
        )
        armed = ev.select("event_type", "user_id", arm.alias("arm")).distinct()
        def cells(df, label=None):
            g = df.groupBy("event_type") if label is None else df
            aggs = [
                F.sum((F.col("arm") == 0).cast("long")).cast("long")
                .alias("o_a"),
                F.sum((F.col("arm") == 1).cast("long")).cast("long")
                .alias("o_b"),
            ]
            if label is None:
                return g.agg(*aggs)
            return df.agg(F.lit(label).alias("event_type"), *aggs)
        per = cells(armed)
        pooled_u = cells(
            armed.select("user_id", "arm").distinct(), "__pooled_users__"
        )
        pooled_e = cells(
            ev.select(arm.alias("arm")), "__pooled_events__"
        )
        out = per.unionAll(pooled_u).unionAll(pooled_e)
        chi2 = F.expr(
            "CAST((o_a - o_b) * (o_a - o_b) * 1000000 div (o_a + o_b)"
            " AS BIGINT)"
        )
        return out.select(
            "event_type", "o_a", "o_b",
            chi2.alias("chi2_micro"),
            (chi2 > 3841459).cast("long").alias("srm_flag"),
        )


_register_q276()


# ---------------------------------------------------------------------------
# q305 — deterministic negative sampling for recommender / contrastive
# training: for every user with interactions, propose candidate items by
# salted hash, REJECT the ones the user actually interacted with (the
# correctness step naive random sampling skips — "negatives" that are
# secretly positives poison the loss), and keep the first K survivors
# under the proposal order. The md5 proposal stream makes the whole
# operator a pure function of (user, j): map-side generation, one
# anti-join against the positives, a per-user (PARTITIONED) rank — no
# RNG, no driver state, replayed bit-for-bit by DuckDB.
#
# Duplicate proposals (mod collisions) dedupe to their FIRST proposal
# index before ranking, so the survivor order is well-defined in both
# engines. Up-to-K semantics: a user whose proposals all collide with
# positives yields fewer rows — deterministic, stated.
#
# Scale shape: proposals explode map-side (|users|·(K+pad) rows — K+pad
# is a constant); positives are one distinct aggregate of the fact; the
# anti-join shuffles on (user, item) exactly once; the final rank is
# partitioned by user. The item-domain size is a 1-value driver scalar
# (documented, k-centroid class).
# ---------------------------------------------------------------------------

_Q305_K = 5
_Q305_PROPOSALS = 15  # K + overdraw to absorb positive collisions


def _register_q305() -> None:
    @_register(
        "q305_negative_sampling",
        oracle=f"""
        WITH pos AS (
            SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ),
        dom AS (SELECT MAX(p_partkey) AS n_items FROM part),
        props AS (
            SELECT u.user_id, t.j,
                   CAST('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || ':' || CAST(t.j AS VARCHAR) || 'neg'), 1, 15)
                        AS BIGINT) % d.n_items + 1 AS item
            FROM (SELECT DISTINCT user_id FROM pos) u
            CROSS JOIN dom d
            CROSS JOIN generate_series(1, {_Q305_PROPOSALS}) AS t(j)
        ),
        dedup AS (
            SELECT user_id, item, MIN(j) AS first_j
            FROM props GROUP BY user_id, item
        ),
        neg AS (
            SELECT d.user_id, d.item, d.first_j,
                   ROW_NUMBER() OVER (PARTITION BY d.user_id
                                      ORDER BY d.first_j) AS rnk
            FROM dedup d
            WHERE NOT EXISTS (
                SELECT 1 FROM pos p
                WHERE p.user_id = d.user_id AND p.item = d.item
            )
        )
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(item AS BIGINT) AS neg_item,
               CAST(rnk AS BIGINT) AS neg_rank,
               CAST(first_j AS BIGINT) AS proposal_idx
        FROM neg WHERE rnk <= {_Q305_K}
        """,
    )
    def q305_negative_sampling(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Up to K={_Q305_K} hash-proposed, positives-rejected negative
        items per interacting user; see block comment."""
        from pyspark.sql.window import Window

        o = load_table(spark, "orders", sf_dir)
        li = load_table(spark, "lineitem", sf_dir)
        p = load_table(spark, "part", sf_dir)
        pos = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("user_id"),
                F.col("l_partkey").alias("item"),
            )
            .distinct()
            # Feeds the user list AND the anti-join; tied to the returned
            # plan, released by harness clearCache() (ADVICE r6).
            .persist()
        )
        n_items = p.agg(F.max("p_partkey")).collect()[0][0]  # driver scalar
        users = pos.select("user_id").distinct()
        j = F.explode(
            F.sequence(F.lit(1), F.lit(_Q305_PROPOSALS))
        ).alias("j")
        props = users.select("user_id", j).select(
            "user_id",
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("user_id").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                                F.lit("neg"),
                            )
                        ),
                        1, 15,
                    ),
                    16, 10,
                ).cast("bigint") % F.lit(int(n_items)) + 1
            ).alias("item"),
        )
        dedup = props.groupBy("user_id", "item").agg(
            F.min("j").alias("first_j")
        )
        neg = dedup.join(pos, ["user_id", "item"], "left_anti")
        w = Window.partitionBy("user_id").orderBy("first_j")
        return (
            neg.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _Q305_K)
            .select(
                F.col("user_id").cast("long").alias("user_id"),
                F.col("item").cast("long").alias("neg_item"),
                F.col("rnk").cast("long").alias("neg_rank"),
                F.col("first_j").cast("long").alias("proposal_idx"),
            )
        )


_register_q305()


# ---------------------------------------------------------------------------
# q372 — EXACT weighted sampling WITHOUT replacement (Efraimidis &
# Spirakis 2006, "Weighted random sampling with a reservoir" — the A-ES
# scheme). The sampling family's missing guarantee tier: q88 is a
# weighted fixed-RATE keep, q266 a weighted bottom-k whose linear
# priority u·c div w only APPROXIMATES probability-proportional
# inclusion (Duffield-Lund-Thorup estimator-grade). A-ES is the exact
# law: give row i the key u_i^(1/w_i) (u uniform) and keep the k
# LARGEST keys — the selected set follows exact successive WOR
# sampling, P(first pick = i) = w_i / Σw.
#
# Portability device: u^(1/w) needs pow/ln — NOT cross-engine-portable
# (determinism cookbook). For INTEGER weights there is an exact
# integer-space equivalent: the max of w iid uniforms has CDF
# P(max ≤ x) = x^w — the SAME distribution as u^(1/w). So the key is
#     skey_i = max_{j=1..w_i} md5_52("wsr9:" ‖ doc_id ‖ ":" ‖ j)
# computed identically in both engines (15→13-hex md5 prefix → int64),
# no libm anywhere. Weights here are the doc-length tier
# w = least(8, 1 + n_chars div 300) — an integer curation up-weight
# with a small bound, so the replica fan-out is ≤ 8 and stays inside a
# single array HOF (transform over sequence(1, w) + array_max): the
# key is a MAP-ONLY projection, no explode, no shuffle.
#
# Scale shape: map-only keying, then global top-k via the two-phase
# `operators/ranks.global_topk` (TakeOrderedAndProject — every
# partition keeps a bounded heap; never a partition-less window at
# corpus grain). At 100 TB this is one scan + a P·k-row driver merge;
# the key is also MERGEABLE (bottom/top-k of a max-key union = union
# of per-shard top-k), the same property that makes q240's KMV and
# q266's priority sample distributable.
# ---------------------------------------------------------------------------

_Q372_K = 100
_Q372_WMAX = 8


def _register_q372() -> None:
    @_register(
        "q372_weighted_sample_wor",
        oracle=f"""
        WITH keyed AS (
            SELECT doc_id,
                   least({_Q372_WMAX},
                         1 + coalesce(n_chars, 0) // 300) AS w,
                   list_max([
                       CAST('0x' || substr(md5('wsr9:'
                                || CAST(doc_id AS VARCHAR) || ':'
                                || CAST(j AS VARCHAR)), 1, 13) AS BIGINT)
                       FOR j IN generate_series(
                           1, least({_Q372_WMAX},
                                    1 + coalesce(n_chars, 0) // 300))
                   ]) AS skey
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, w, skey,
                   ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) AS rnk
            FROM keyed
        )
        SELECT CAST(rnk AS BIGINT) AS rnk,
               doc_id,
               CAST(w AS BIGINT) AS w,
               skey
        FROM ranked
        WHERE rnk <= {_Q372_K}
        """,
    )
    def q372_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact A-ES weighted sample without replacement (k=100) over
        documents, weight = doc-length tier ≤ 8; integer max-of-w-replicas
        key ≡ u^(1/w) in distribution. See block comment."""
        from etl_globalretail_spark.operators.ranks import global_topk

        docs = load_table(spark, "documents", sf_dir)
        w = F.least(
            F.lit(_Q372_WMAX),
            F.lit(1) + F.expr("coalesce(n_chars, 0) div 300"),
        ).cast("int")
        keyed = docs.select(F.col("doc_id"), w.alias("w")).withColumn(
            "skey",
            F.array_max(
                F.transform(
                    F.sequence(F.lit(1), F.col("w")),
                    lambda j: F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit("wsr9:"),
                                    F.col("doc_id").cast("string"),
                                    F.lit(":"),
                                    j.cast("string"),
                                )
                            ),
                            1, 13,
                        ),
                        16, 10,
                    ).cast("long"),
                )
            ),
        )
        top = global_topk(
            keyed, [("skey", "desc"), ("doc_id", "asc")], _Q372_K, out="rnk"
        )
        return top.select(
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            F.col("w").cast("long").alias("w"),
            "skey",
        )


_register_q372()


# ---------------------------------------------------------------------------
# q373 — TEMPERATURE-SCALED domain mixture sampling (α = 0.5): the
# multilingual-pretraining standard (mBERT/XLM-R/mT5 "exponentially
# smoothed" sampling — Conneau & Lample 2019 §3.1; Xue et al. 2021
# §3.2): sample domain d with probability ∝ n_d^α, 0 < α < 1, so head
# domains are down-weighted and tail domains up-weighted relative to
# natural frequency. The mixture family's missing interpolation tier:
# q245 plans the α→? equal-share extreme (uniform per-domain budgets),
# q48 caps head domains; α-sampling is the continuous dial between
# natural (α=1) and uniform (α=0).
#
# Portability: α = 0.5 makes n^α = sqrt(n) — the ONE libm function
# that is correctly-rounded and cross-engine-exact (determinism
# cookbook; pow/exp/ln are not, which is why the α here is the
# canonical 0.5 and not a free parameter). The share is then
# quantized to integer space immediately — s_d = floor(sqrt(n_d)·1e6)
# int64 — so the total Σ s_d and the quotas (K·s_d) div Σ s_d are
# associative integer arithmetic, order-free in both engines.
#
# Per-domain selection is the family's seeded-hash rank: the n_sel_d
# smallest md5("mix9:" ‖ doc_id) keys within each domain — a
# PARTITIONED window (|domain| grain), never a global sort. Scale
# shape: one map-side-combinable count, a |domains|-row quota frame
# broadcast back, one rank-filter shuffle on the domain key. At
# 100 TB the quota frame is still |domains| rows; the only data-sized
# exchange is the per-domain rank, which Spark's InferWindowGroupLimit
# rewrites to a per-partition top-n_sel heap (rank filter IS
# partitioned here, unlike the global case q372 routes through
# global_topk).
# ---------------------------------------------------------------------------

_Q373_K = 200


def _register_q373() -> None:
    @_register(
        "q373_temperature_mixture",
        oracle=f"""
        WITH cnt AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY 1
        ),
        shares AS (
            SELECT source, n_docs,
                   CAST(FLOOR(sqrt(n_docs) * 1000000) AS BIGINT) AS s_q
            FROM cnt
        ),
        tot AS (
            SELECT CAST(SUM(s_q) AS BIGINT) AS s_tot FROM shares
        ),
        quota AS (
            SELECT source, n_docs, s_q,
                   CAST(({_Q373_K} * s_q) // s_tot AS BIGINT) AS quota,
                   CAST(least(n_docs, ({_Q373_K} * s_q) // s_tot)
                        AS BIGINT) AS n_sel
            FROM shares, tot
        ),
        keyed AS (
            SELECT doc_id, source,
                   CAST('0x' || substr(md5('mix9:'
                        || CAST(doc_id AS VARCHAR)), 1, 13)
                        AS BIGINT) AS dkey
            FROM documents
        ),
        ranked AS (
            SELECT doc_id, source, dkey,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY dkey, doc_id) AS rnk
            FROM keyed
        )
        SELECT r.source,
               r.doc_id,
               CAST(r.rnk AS BIGINT) AS rnk,
               r.dkey,
               q.n_docs,
               q.quota,
               q.n_sel
        FROM ranked r JOIN quota q USING (source)
        WHERE r.rnk <= q.n_sel
        """,
    )
    def q373_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
        """α=0.5 temperature-sampled cross-domain mixture (K=200):
        integer-quantized √n domain shares → quotas → per-domain seeded
        hash-rank selection. See block comment."""
        docs = load_table(spark, "documents", sf_dir)
        cnt = docs.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        shares = cnt.withColumn(
            "s_q", F.expr("CAST(FLOOR(sqrt(n_docs) * 1000000) AS BIGINT)")
        )
        tot = shares.agg(F.sum("s_q").cast("long").alias("s_tot"))
        # 1-row total broadcast onto the |domains|-row share frame —
        # bounded by construction (INTENTIONAL_CROSS: q373).
        quota = shares.crossJoin(F.broadcast(tot)).select(
            "source", "n_docs", "s_q",
            F.expr(f"CAST(({_Q373_K} * s_q) div s_tot AS BIGINT)")
            .alias("quota"),
            F.expr(
                f"CAST(least(n_docs, ({_Q373_K} * s_q) div s_tot) AS BIGINT)"
            ).alias("n_sel"),
        )
        keyed = docs.select(
            "doc_id", "source",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("mix9:"),
                                   F.col("doc_id").cast("string"))),
                    1, 13,
                ), 16, 10,
            ).cast("long").alias("dkey"),
        )
        w = Window.partitionBy("source").orderBy("dkey", "doc_id")
        ranked = keyed.withColumn("rnk", F.row_number().over(w).cast("long"))
        return (
            ranked.join(F.broadcast(quota), "source")
            .filter(F.col("rnk") <= F.col("n_sel"))
            .select("source", "doc_id", "rnk", "dkey",
                    "n_docs", "quota", "n_sel")
        )


_register_q373()


# ---------------------------------------------------------------------------
# q400 — NEYMAN-ALLOCATION stratified sample (Neyman 1934 — THE
# optimal survey design: sample stratum h in proportion to N_h·σ_h,
# not N_h, so high-variance strata get the budget; the eval-set
# construction every benchmark pipeline should use instead of uniform
# draws). Strata = order priority; target = floor-dollar order value;
# budget n = 500.
#
# Determinism: σ's sqrt is the ONLY non-integer step and it is
# IEEE-correctly-rounded over an identical exactly-computed operand —
# w_h = FLOOR(SQRT(N_h·ΣX² − (ΣX)²)) — the variance numerator is
# computed in DECIMAL(38,0) on the Spark side and HUGEINT in DuckDB
# (int64 overflows past ~10^18; the 10× rehearsal proved it), and both
# engines convert the same exact integer to double. Both engines floor the SAME double, so w_h is the
# same BIGINT even where the floor sits on a rounding boundary.
# Quotas are Hamilton largest-remainder over the ≤5-row stratum frame
# (base = n·w div W, the n − Σbase leftover seats go to the largest
# n·w mod W, tie-break stratum) — so Σ quota = n EXACTLY, no dust.
# The draw is the seeded md5 rank WITHIN each stratum (partitioned
# window — InferWindowGroupLimit territory, never global), keeping
# rank ≤ quota; the drawn set is surfaced as an order-free key-hash
# sum so the gate pins the exact membership.
#
# Plan: one orders scan → 5-row stratum aggregate (driver algebra for
# quotas, q343 class) → one partitioned rank + broadcast quota join.
# ---------------------------------------------------------------------------


def _register_q400() -> None:
    _n = 500

    @_register(
        "q400_neyman_stratified_sample",
        oracle=f"""
        WITH base AS MATERIALIZED (
            SELECT o_orderkey AS k, o_orderpriority AS stratum,
                   CAST(FLOOR(o_totalprice) AS BIGINT) AS x,
                   CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                           || 'ney'), 1, 15) AS BIGINT)
                       AS hk
            FROM orders
        ),
        agg AS MATERIALIZED (
            SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_h,
                   CAST(FLOOR(SQRT(CAST(COUNT(*) * SUM(x * x)
                                        - SUM(x) * SUM(x) AS DOUBLE)))
                        AS BIGINT) AS w
            FROM base GROUP BY stratum
        ),
        tot AS (SELECT SUM(w) AS tw, COUNT(*) AS ns FROM agg),
        seats AS MATERIALIZED (
            SELECT a.stratum, a.n_h, a.w,
                   {_n} * a.w // t.tw AS q_base,
                   {_n} * a.w % t.tw AS rem,
                   {_n} - SUM({_n} * a.w // t.tw) OVER () AS leftover
            FROM agg a CROSS JOIN tot t
        ),
        quota AS MATERIALIZED (
            SELECT stratum, n_h, w,
                   CAST(q_base + CASE WHEN ROW_NUMBER() OVER (
                            ORDER BY rem DESC, stratum) <= leftover
                        THEN 1 ELSE 0 END AS BIGINT) AS quota
            FROM seats
        ),
        ranked AS (
            SELECT b.stratum, b.hk, q.quota,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.stratum ORDER BY b.hk, b.k
                   ) AS rn
            FROM base b JOIN quota q ON q.stratum = b.stratum
        )
        SELECT q.stratum, q.n_h, q.w, q.quota,
               CAST(COUNT(r.rn) AS BIGINT) AS n_drawn,
               CAST(COALESCE(SUM(r.hk % 1000000007), 0) % 1000000007
                    AS BIGINT) AS drawn_key_hashsum
        FROM quota q
        LEFT JOIN (SELECT * FROM ranked WHERE rn <= quota) r
          ON r.stratum = q.stratum
        GROUP BY q.stratum, q.n_h, q.w, q.quota
        """,
    )
    def q400_neyman_stratified_sample(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Neyman-allocated, Hamilton-apportioned, md5-drawn stratified
        sample over orders; per-stratum census with an order-free
        membership hash. See block comment."""
        o = load_table(spark, "orders", sf_dir)
        base = o.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("stratum"),
            F.floor(F.col("o_totalprice")).cast("long").alias("x"),
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("o_orderkey").cast("string"),
                                   F.lit("ney"))),
                    1, 15,
                ),
                16, 10,
            ).cast("bigint").alias("hk"),
        ).transform(materialize)  # feeds the stratum agg AND the draw
        # variance numerator widened to DECIMAL(38,0): N·ΣX² overflows
        # int64 past ~10^18 (the 10× rehearsal hit it under ANSI mode);
        # DuckDB's SUM(BIGINT) is already HUGEINT, so only this side
        # widens — both engines then convert the SAME exact integer to
        # double for the correctly-rounded sqrt.
        agg = base.groupBy("stratum").agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.expr(
                "CAST(FLOOR(SQRT(CAST("
                "CAST(COUNT(*) AS DECIMAL(38,0))"
                " * SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))"
                " - SUM(CAST(x AS DECIMAL(19,0)))"
                "   * SUM(CAST(x AS DECIMAL(19,0)))"
                " AS DOUBLE))) AS BIGINT)"
            ).alias("w"),
        ).collect()  # ≤ 5 stratum rows — driver algebra (q343 class)
        tw = sum(r["w"] for r in agg)
        seats = [
            (r["stratum"], r["n_h"], r["w"],
             _n * r["w"] // tw, _n * r["w"] % tw)
            for r in agg
        ]
        leftover = _n - sum(s[3] for s in seats)
        by_rem = sorted(seats, key=lambda s: (-s[4], s[0]))
        extra = {s[0] for s in by_rem[:leftover]}
        quota_rows = [
            (st, n_h, w, q_base + (1 if st in extra else 0))
            for st, n_h, w, q_base, _rem in seats
        ]
        quota = spark.createDataFrame(
            quota_rows, "stratum string, n_h long, w long, quota long"
        )
        wnd = Window.partitionBy("stratum").orderBy("hk", "k")
        drawn = (
            base.join(F.broadcast(quota.select("stratum", "quota")),
                      "stratum")
            .withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") <= F.col("quota"))
            .groupBy("stratum")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_drawn"),
                (F.sum(F.col("hk") % 1000000007) % 1000000007)
                .cast("long").alias("drawn_key_hashsum"),
            )
        )
        # left join from the quota frame so a quota-0 stratum still
        # emits its row (n_drawn = 0), matching the oracle's LEFT JOIN
        return quota.join(drawn, "stratum", "left").select(
            "stratum", "n_h", "w", "quota",
            F.coalesce(F.col("n_drawn"), F.lit(0)).cast("long")
            .alias("n_drawn"),
            F.coalesce(F.col("drawn_key_hashsum"), F.lit(0)).cast("long")
            .alias("drawn_key_hashsum"),
        )


_register_q400()
