"""Corpus profiling: exact and sketch-based dataset statistics.

Before any 100 TB corpus is trained on, it is profiled: row counts,
cardinalities, value distributions, null rates — per slice. At that scale
the *exact* versions of two of those are shuffle-monsters:

- ``COUNT(DISTINCT x)`` shuffles every distinct value to its reducer;
- exact percentiles need a full sort (or a two-pass count + select).

The sketch forms bound both with fixed memory per partition and a single
map-side-combinable pass:

- **HyperLogLog++** (``approx_count_distinct``) — ~relSD error with a
  few-KB register array, mergeable across partitions/slices;
- **KLL/GK quantile sketch** (``percentile_approx``) — rank-error-bounded
  quantiles, mergeable the same way.

Both are Spark-built-in aggregates (JVM, codegen, partial-merge), so the
profile of a 100 TB table is one scan + a tiny shuffle of sketch states.

q49 is the exact profile (oracle-paired — bit-stable aggregates only);
q50 is the sketch profile (no cross-engine twin — HLL/KLL states are
implementation-defined — so it is a rows-only check, with pytest bounding
its error against the exact profile).

The reference's only statistics surface is COUNT(*) per table
(etl_completo.py:1063-1092, A2 in SURVEY.md §2.4); this family is its
scale-grade generalization under the 100 TB mandate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_globalretail_spark.plans.queries import dsum, make_query_decorator
from etl_globalretail_spark.sources.readers import load_table, load_table_spread

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)


def exact_profile(df: DataFrame, group_col: str, id_col: str, value_col: str) -> DataFrame:
    """Exact per-slice profile with bit-stable aggregates (counts, exact
    distinct, min/max, decimal-exact sum) — the ground truth q50 sketches."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(id_col).alias("n_distinct_ids"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        dsum(F.col(value_col), "sum_value"),
    )


def sketch_profile(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    rsd: float = 0.02,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based per-slice profile: HLL++ cardinality (relative standard
    deviation ``rsd``) + KLL-style approximate quantiles (rank error
    1/``accuracy``). One scan, fixed memory, mergeable partials — the form
    that actually runs on 100 TB."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(id_col, rsd).alias("approx_distinct_ids"),
        F.percentile_approx(
            value_col, F.array(*[F.lit(q) for q in quantiles]), F.lit(accuracy)
        ).alias("value_quantiles"),
    )


def hll_partial(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketch STATE (binary column) for ``value_col`` — the
    mergeable half of incremental distinct-counting.

    The sketch bytes are a durable aggregation state: persist them per
    batch/partition/day and later answers come from ``hll_merge`` over the
    (tiny) sketch table — never from rescanning the corpus. This is how a
    100 TB pipeline keeps "distinct users per day, and overall" without a
    second full pass: the daily job emits one sketch row per group, the
    rollup merges sketches across days and/or groups.

    ``lg_k`` = 12 ⇒ ~1.6% relative standard error, 4 KB per sketch.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_state"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def hll_merge(
    partials: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge sketch states to ``group_cols`` grain (pass ``[]`` for the
    global rollup): exact-union semantics over the binary states, then a
    point estimate. The input is sketch rows — bytes per group, not data —
    so re-grain costs one shuffle of kilobytes regardless of corpus size.
    """
    gb = partials.groupBy(*group_cols) if group_cols else partials.groupBy()
    return gb.agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_state")).alias(
            "distinct_estimate"
        ),
        F.sum("n_rows").alias("n_rows"),
    )


def fixed_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` in [lo, hi): bin index =
    ⌊(v−lo)/width⌋, out-of-range values clamp to the edge bins.

    One hash aggregate on (groups, bin) — the binning is a map-side
    projection, so the shuffle carries n_bins × |groups| counters, not
    data. This is the distribution-profiling primitive next to q50's
    quantile sketches: bounded output, single pass, mergeable across
    batches by adding counts. The bin arithmetic is a single double
    subtract/divide/floor — engine-identical for oracle pairing.
    """
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bin_idx = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("bigint")
    keys = list(group_cols or [])
    return (
        df.groupBy(*keys, bin_idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            "bin",
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            "n",
        )
    )


@_register(
    "q73_value_histogram",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19)
                    AS BIGINT) AS bin
        FROM events
    )
    SELECT event_type, bin,
           CAST(0.0 + bin * 25.0 AS DOUBLE) AS bin_lo,
           COUNT(*) AS n
    FROM binned GROUP BY event_type, bin
    """,
)
def q73_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin fixed-width histogram of event value per event type over
    [0, 500) — the single-pass distribution profile."""
    e = load_table(spark, "events", sf_dir)
    return fixed_histogram(
        e, "value", 0.0, 500.0, 20, group_cols=["event_type"]
    )


MISSING_SENTINELS = ("", "N/A", "NULL")


def null_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column missingness audit: (column, n_rows, n_missing) where
    missing = NULL, or (for strings) blank/sentinel after trim.

    ONE scan: all per-column counters are conditional aggregates in a
    single aggregate node (map-side partials, one tiny shuffle), then the
    1-row result unpivots via ``stack`` into the long audit shape. The
    k-scan formulation (one pass per column, UNION ALL) reads the table k
    times — that is the shape reserved for the DuckDB oracle, not the
    100 TB path.
    """
    string_cols = {
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        bad = F.col(c).isNull()
        if c in string_cols:
            bad = bad | F.trim(F.col(c)).isin(*MISSING_SENTINELS)
        aggs.append(F.sum(bad.cast("long")).alias(f"__bad_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __bad_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column_name, n_missing)",
        "__n AS n_rows",
    ).select("column_name", "n_rows", "n_missing")


@_register(
    "q53_null_audit",
    oracle="""
    WITH dirty AS (
        SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL
                    WHEN c_custkey % 7 = 0 THEN 'N/A'
                    WHEN c_custkey % 11 = 0 THEN '   ' ELSE c_name END AS nome,
               CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS saldo,
               CASE WHEN c_custkey % 4 = 0 THEN '' ELSE c_mktsegment END AS segmento
        FROM customer
    )
    SELECT column_name, n_rows, n_missing FROM (
        SELECT 'nome' AS column_name, COUNT(*) AS n_rows,
               COUNT(*) FILTER (WHERE nome IS NULL
                                OR trim(nome) IN ('', 'N/A', 'NULL')) AS n_missing
        FROM dirty
        UNION ALL
        SELECT 'saldo', COUNT(*),
               COUNT(*) FILTER (WHERE saldo IS NULL) FROM dirty
        UNION ALL
        SELECT 'segmento', COUNT(*),
               COUNT(*) FILTER (WHERE segmento IS NULL
                                OR trim(segmento) IN ('', 'N/A', 'NULL'))
        FROM dirty
    )
    """,
)
def q53_null_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness audit over a deterministically dirtied customer frame
    (nulls + sentinel strings + blanks manufactured by key-mod, the q12
    pattern — the testdata itself ships clean). Single-scan stack-unpivot
    audit; oracle is the k-scan UNION ALL."""
    c = load_table(spark, "customer", sf_dir)
    k = F.col("c_custkey")
    dirty = c.select(
        F.when(k % 5 == 0, F.lit(None))
        .when(k % 7 == 0, F.lit("N/A"))
        .when(k % 11 == 0, F.lit("   "))
        .otherwise(F.col("c_name"))
        .alias("nome"),
        F.when(k % 3 == 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("saldo"),
        F.when(k % 4 == 0, F.lit("")).otherwise(F.col("c_mktsegment")).alias(
            "segmento"
        ),
    )
    return null_audit(dirty, ["nome", "saldo", "segmento"])


@_register(
    "q49_corpus_profile",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_distinct_ids,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q49_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type profile of the events table (A2 generalized:
    counts, user cardinality, value range and exact-decimal sum)."""
    e = load_table(spark, "events", sf_dir)
    return exact_profile(e, "event_type", "user_id", "value")


@_register(
    "q50_sketch_profile",
    # Shape-only oracle (VERDICT r7 item 8): HLL++/KLL sketch VALUES are
    # engine-specific by design, but the profile's grain (one row per
    # event_type) and schema are not — this SQL reproduces both exactly
    # (with DuckDB's own exact distinct count / continuous quantiles in
    # the value slots), so a driver sample records green
    # rows_match/schema_match instead of `err: no_oracle`. The HASH tier
    # for this profile is its exact twin q49 (hash-verified every round);
    # the sketch-vs-exact divergence bound is pytest-pinned.
    oracle="""
    -- SHAPE-ONLY ORACLE: value columns are engine-specific sketch
    -- estimates (HLL++ cardinality, KLL-style quantiles); row count and
    -- schema are exact. Hash-exact twin: q49_corpus_profile. Quantiles
    -- are flattened to SCALAR p50/p95/p99 columns (VERDICT r9 item 1:
    -- the driver's canonicalizer sort_values over a LIST cell raises
    -- `unhashable type: 'list'`, so an array column crashes the
    -- comparator before it can record the green rows/schema).
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS approx_distinct_ids,
           CAST(quantile_cont(value, 0.5)  AS DOUBLE) AS p50,
           CAST(quantile_cont(value, 0.95) AS DOUBLE) AS p95,
           CAST(quantile_cont(value, 0.99) AS DOUBLE) AS p99
    FROM events GROUP BY event_type
    """,
)
def q50_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of q49: HLL++ user cardinality at 2% rsd + p50/p95/p99
    value quantiles at 1e-4 rank error, flattened to scalar columns (the
    driver comparator cannot canonicalize list cells). pytest bounds its
    divergence from the exact profile; shape-only SQL twin (sketch
    internals differ per engine — q49 carries the hash tier)."""
    e = load_table(spark, "events", sf_dir)
    prof = sketch_profile(e, "event_type", "user_id", "value")
    return prof.select(
        "event_type",
        "n_rows",
        "approx_distinct_ids",
        F.col("value_quantiles")[0].cast("double").alias("p50"),
        F.col("value_quantiles")[1].cast("double").alias("p95"),
        F.col("value_quantiles")[2].cast("double").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable heavy-hitter counts.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 1024


def countmin_build(
    df: DataFrame, key_col: str, d: int = _CMS_D, w: int = _CMS_W
) -> DataFrame:
    """Build a count-min sketch over ``key_col``: a (row, bucket) → count
    table of d·w cells, independent of input cardinality.

    Each key increments one bucket per hash row (salted md5 buckets — the
    engine's cross-engine hash, sampling.py); estimate(key) = min over
    rows of its buckets' counts, an upper bound that never underestimates.
    The build is one explode(d structs) + one hash aggregate whose shuffle
    carries at most d·w cells per map task after partial aggregation —
    corpus-size-independent, unlike the exact vocabulary aggregate whose
    shuffle is vocabulary-sized. Sketches MERGE by element-wise cell sum:
    per-day/per-shard sketches roll up without rescanning (the CM analog
    of the HLL partials this module already ships).
    """
    from etl_globalretail_spark.operators.sampling import hash_bucket

    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row"),
                hash_bucket(F.col(key_col), w, f"cms{i}").alias("bucket"),
            )
            for i in range(d)
        ]
    )
    return (
        df.select(F.explode(cells).alias("rb"))
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, d: int = _CMS_D, w: int = _CMS_W
) -> DataFrame:
    """Point-estimate ``key_col`` frequencies from a built sketch: join each
    probe's d (row, bucket) cells against the sketch (d·w rows — always
    broadcastable) and take the min. Estimates never underestimate."""
    from etl_globalretail_spark.operators.sampling import hash_bucket

    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("row"),
                hash_bucket(F.col(key_col), w, f"cms{i}").alias("bucket"),
            )
            for i in range(d)
        ]
    )
    probe_cells = probes.select(
        key_col, F.explode(cells).alias("rb")
    ).select(key_col, "rb.row", "rb.bucket")
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("cms_estimate"))
    )


def _q99_oracle() -> str:
    from etl_globalretail_spark.operators.sampling import _sql_bucket
    from etl_globalretail_spark.operators.text import _sql_tokens

    rows_union = "\n        UNION ALL\n".join(
        f"        SELECT {i} AS row, {_sql_bucket('tok', _CMS_W, f'cms{i}')} AS bucket FROM occ"
        for i in range(_CMS_D)
    )
    probe_union = "\n        UNION ALL\n".join(
        f"        SELECT token, n, pos, {i} AS row,"
        f" {_sql_bucket('token', _CMS_W, f'cms{i}')} AS bucket FROM top"
        for i in range(_CMS_D)
    )
    return f"""
    WITH occ AS (
        SELECT unnest({_sql_tokens("text")}) AS tok FROM documents
    ),
    cells AS (
        SELECT row, bucket, COUNT(*) AS cnt FROM (
{rows_union}
        ) GROUP BY row, bucket
    ),
    counts AS (
        SELECT tok AS token, COUNT(*) AS n FROM occ GROUP BY tok
    ),
    top AS (
        SELECT token, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS pos
        FROM counts QUALIFY pos <= 10
    ),
    probes AS (
{probe_union}
    ),
    est AS (
        SELECT p.token, MIN(c.cnt) AS cms_estimate
        FROM probes p JOIN cells c USING (row, bucket)
        GROUP BY p.token
    )
    SELECT t.token, CAST(t.n AS BIGINT) AS exact_n,
           CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
           e.cms_estimate >= t.n AS never_underestimates,
           CAST(t.pos AS BIGINT) AS pos
    FROM top t JOIN est e USING (token)
    """


def _register_q99() -> None:
    @_register("q99_countmin_tokens", oracle=_q99_oracle())
    def q99_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Count-min sketch audit: build a 4×1024 sketch over corpus
        tokens, estimate the exact top-10 tokens' frequencies from it, and
        hash-check sketch cells' minima (plus the never-underestimates
        invariant) against DuckDB replaying the identical salted-md5
        sketch. The sketch is the mergeable, fixed-size alternative when
        even the vocabulary aggregate is too wide to shuffle."""
        from etl_globalretail_spark.operators.text import q72_top_tokens, tokens

        d = load_table_spread(spark, "documents", sf_dir)
        occ = d.select(F.explode(tokens(F.col("text"))).alias("token"))
        sketch = countmin_build(occ, "token")
        top10 = (
            q72_top_tokens(spark, sf_dir)
            .filter(F.col("pos") <= 10)
            .select("token", F.col("n").alias("exact_n"), "pos")
        )
        est = countmin_estimate(sketch, top10.select("token"), "token")
        return top10.join(est, "token").select(
            "token",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_n")).alias(
                "never_underestimates"
            ),
            "pos",
        )


_register_q99()


# ---------------------------------------------------------------------------
# q180 — HyperLogLog on the hash gate: an md5-based HLL twin whose FULL
# register pipeline (hash → bucket → rank → max-register → harmonic sum →
# raw estimate) is replayed in DuckDB SQL, bit for bit. q50's production
# sketch tier (Spark's HLL++ / approx_count_distinct) is rows-only because
# its register states are engine-private; this twin puts the DESIGN on the
# oracle, exactly as q65/q66 do for SimHash/MinHash.
#
# Construction (m = 256 registers, 60-bit md5 hash):
#   bucket = h div 2^52            (top 8 bits)
#   rho    = position of the first 1-bit in the remaining 52 bits
#            (53 - bitlen(rem); rho = 53 for rem = 0)
#   M_b    = max rho per bucket    -- the register
#   S      = Σ_b 2^(53 - M_b)      -- harmonic sum, SCALED BY 2^53 so every
#                                     term is an exact BIGINT (doubles would
#                                     accumulate order-dependently)
#   E_raw  = α_m·m²·2^53 / S       -- numerator is ONE shared literal
#                                     (python repr, pasted into both
#                                     engines — the q174 constant rule);
#                                     one double division at the end.
# Absent buckets contribute 2^53 each (rho-of-empty convention), counted
# arithmetically as (m − present)·2^53 — no 256-row generator join.
# Production estimators add the linear-counting small-range correction,
# which needs ln() — NOT cross-engine portable (cookbook), so this twin
# reports the raw estimator plus the zero-register count Z the correction
# would key on; q50 remains the production tier.
#
# Scale notes: one partial/final aggregate pair — the shuffle carries at
# most |groups|·m (register, max) cells after map-side combine, corpus-
# size-INDEPENDENT, the same shape as q99's count-min. The exact
# countDistinct companion (the audit column) is the only corpus-sized
# shuffle in the query; at 100 TB you drop that column and keep the sketch.
# ---------------------------------------------------------------------------

_HLL_NUM = "4.2399330249068963e+20"  # 0.7213/(1+1.079/256) * 256^2 * 2^53
_HLL_W = 4503599627370496  # 2^52
_HLL_EMPTY = 9007199254740992  # 2^53


def _q180_oracle() -> str:
    return f"""
    WITH h AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'hll'),
                                   1, 15) AS BIGINT) AS hv,
               user_id
        FROM events
    ),
    rr AS (
        SELECT event_type, hv // {_HLL_W} AS bucket,
               CASE WHEN hv % {_HLL_W} = 0 THEN 53
                    ELSE 53 - length(bin(hv % {_HLL_W})) END AS rho
        FROM h
    ),
    regs AS (
        SELECT event_type, bucket, MAX(rho) AS m
        FROM rr GROUP BY event_type, bucket
    ),
    agg AS (
        SELECT event_type,
               CAST(256 - COUNT(*) AS BIGINT) AS z_buckets,
               CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                    + (256 - COUNT(*)) * {_HLL_EMPTY} AS BIGINT)
                   AS register_sum
        FROM regs GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT a.event_type, ex.n_exact, a.z_buckets, a.register_sum,
           {_HLL_NUM} / CAST(a.register_sum AS DOUBLE) AS hll_estimate
    FROM agg a JOIN ex ON a.event_type = ex.event_type
    """


def _register_q180() -> None:
    @_register("q180_hll_users_exact", oracle=_q180_oracle())
    def q180_hll_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Distinct users per event type, three ways on one row: exact
        countDistinct (the audit), the deterministic md5-HLL raw estimate
        (the sketch, replayed in DuckDB), and the zero-register count the
        small-range correction would key on."""
        e = load_table(spark, "events", sf_dir)
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("hll"))),
                1, 15,
            ), 16, 10,
        ).cast("bigint")
        rr = e.select("event_type", h.alias("hv")).select(
            "event_type",
            F.expr(f"hv div {_HLL_W}").alias("bucket"),
            F.when(F.col("hv") % _HLL_W == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(F.col("hv") % _HLL_W)))
            .alias("rho"),
        )
        regs = rr.groupBy("event_type", "bucket").agg(F.max("rho").alias("m"))
        agg = regs.groupBy("event_type").agg(
            (F.lit(256) - F.count(F.lit(1))).cast("long").alias("z_buckets"),
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)"))
                + (F.lit(256) - F.count(F.lit(1))) * F.lit(_HLL_EMPTY)
            ).cast("long").alias("register_sum"),
        )
        exact = e.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return (
            agg.join(F.broadcast(exact), "event_type")
            .select(
                "event_type", "n_exact", "z_buckets", "register_sum",
                (F.lit(float(_HLL_NUM)) / F.col("register_sum").cast("double"))
                .alias("hll_estimate"),
            )
        )


_register_q180()


# ---------------------------------------------------------------------------
# q190 — distributed contiguous surrogate keys: the scale path for W3
# (SURVEY §7.4 names single-window row_number the 100 TB bottleneck —
# every row through one partition). ranks.global_row_number does the
# classic two-phase assignment: range-partition + in-partition sort,
# tiny per-partition count job, offsets broadcast as a literal map, then
# a PARALLEL per-range window; the 0-based index is its row number - 1.
# The oracle is the textbook global ROW_NUMBER — hash equality proves
# offset+rank ≡ the single window, independent of where the sampled
# range boundaries fall. The star-schema dims key themselves the same way.
# ---------------------------------------------------------------------------


def _register_q190() -> None:
    @_register(
        "q190_global_index",
        oracle="""
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS BIGINT)
                   AS global_idx
        FROM documents
        """,
    )
    def q190_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Contiguous 0-based surrogate keys for documents under the
        doc_id total order, assigned by the two-phase range/offset scheme
        (no single-partition window anywhere in the plan)."""
        from etl_globalretail_spark.operators.ranks import global_row_number

        d = load_table(spark, "documents", sf_dir).select("doc_id")
        rn, _ = global_row_number(d, [("doc_id", "asc")])
        return rn.select("doc_id", (F.col("rn") - 1).alias("global_idx"))


_register_q190()


# ---------------------------------------------------------------------------
# q240 — KMV (k-minimum-values) distinct sketch: the third mergeable
# cardinality device after HLL (q180) and count-min (q99), and the one
# whose state is a plain SET of integers — trivially mergeable (union,
# re-take-k), exactly representable in both engines, and convertible to
# an unbiased estimate with ONE integer division:
#
#   E = (k-1) * H / h_(k)      (h_(k) = k-th smallest distinct hash,
#                               H = hash-space size)
#
# Hash space is 2^52 (13 hex chars of md5) so (k-1)*H = 63*2^52 ≈ 2.8e17
# fits signed-64 and the whole estimator stays in BIGINT in BOTH engines
# (the 60-bit space q180 uses would overflow the numerator; at 100 TB
# cardinalities you widen to 60 bits + decimal numerator — same plan).
#
# Scale plan (the reason KMV exists): the corpus NEVER shuffles.
# An Arrow-batched mapInPandas partial keeps the k smallest DISTINCT
# hashes per (group, batch) — ≤ k rows emitted per group per batch —
# and the final aggregate unions those bounded survivor sets
# (collect_set → sort → slice k). The union of per-batch k-minima is a
# superset of the global k-minima, so the sketch is EXACT, while the
# only corpus-sized aggregation in the query is the n_exact audit
# column (dropped at 100 TB, as in q180). The merge law (sketch(A∪B) =
# take_k(sketch(A) ∪ sketch(B))) is pytest-pinned.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_H = 4503599627370496  # 2^52 hash space (13 hex chars)


def kmv_hash(key: Column, salt: str = "kmv") -> Column:
    """Uniform 52-bit integer hash of a key (md5 prefix, BIGINT-safe)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("bigint")


def kmv_partials(df: DataFrame, group_col: str, hash_col: str, k: int = _KMV_K) -> DataFrame:
    """Per-Arrow-batch KMV partials: the k smallest distinct hashes per
    group per batch. Output is ≤ k·n_batches rows per group — bounded
    state for the final union, no corpus-sized shuffle."""
    import pandas as pd  # noqa: F401 — executor-side

    def part(batches):
        for pdf in batches:
            yield (
                pdf.drop_duplicates([group_col, hash_col])
                .sort_values([group_col, hash_col])
                .groupby(group_col, sort=False)
                .head(k)[[group_col, hash_col]]
            )

    return df.select(group_col, hash_col).mapInPandas(
        part, f"{group_col} string, {hash_col} long"
    )


def kmv_sketch(partials: DataFrame, group_col: str, hash_col: str, k: int = _KMV_K) -> DataFrame:
    """Merge KMV partials into the final per-group sketch: union the
    bounded survivor sets, dedupe, keep the k smallest."""
    return partials.groupBy(group_col).agg(
        F.slice(F.array_sort(F.collect_set(hash_col)), 1, k).alias("mins")
    )


def _register_q240() -> None:
    @_register(
        "q240_kmv_distinct",
        oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'kmv'),
                                       1, 13) AS BIGINT) AS hv
            FROM events
        ),
        r AS (
            SELECT event_type, hv,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk
            FROM h
        ),
        k AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   CAST(MAX(hv) AS BIGINT) AS kth_min
            FROM r WHERE rk <= {_KMV_K} GROUP BY event_type
        ),
        e AS (
            SELECT k.event_type, k.n_kept, k.kth_min,
                   CAST(CASE WHEN k.n_kept < {_KMV_K} THEN k.n_kept
                             ELSE (63 * {_KMV_H}) // k.kth_min END AS BIGINT)
                       AS est_distinct
            FROM k
        ),
        ex AS (
            SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        )
        SELECT e.event_type, e.n_kept, e.kth_min, e.est_distinct, ex.n_exact,
               CAST(abs(e.est_distinct - ex.n_exact) * 1000 // ex.n_exact
                    AS BIGINT) AS err_permil
        FROM e JOIN ex ON e.event_type = ex.event_type
        """,
    )
    def q240_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Distinct users per event type by KMV sketch: bounded per-batch
        partials → union-merge → (k-1)·H div h_(k) estimate, all BIGINT,
        beside the exact audit column. See block comment for the scale
        contract (corpus never shuffles; audit column dropped at 100 TB)."""
        ev = load_table(spark, "events", sf_dir)
        hashed = ev.select(
            "event_type", kmv_hash(F.col("user_id")).alias("hv")
        )
        sk = kmv_sketch(
            kmv_partials(hashed, "event_type", "hv"), "event_type", "hv"
        ).select(
            "event_type",
            F.size("mins").cast("long").alias("n_kept"),
            F.element_at("mins", F.size("mins")).cast("long").alias("kth_min"),
        ).withColumn(
            "est_distinct",
            F.expr(
                f"CAST(CASE WHEN n_kept < {_KMV_K} THEN n_kept"
                f" ELSE (63 * {_KMV_H}) div kth_min END AS BIGINT)"
            ),
        )
        exact = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact")
        )
        return sk.join(exact, "event_type").select(
            "event_type", "n_kept", "kth_min", "est_distinct", "n_exact",
            F.expr("CAST(abs(est_distinct - n_exact) * 1000 div n_exact"
                   " AS BIGINT)").alias("err_permil"),
        )


_register_q240()


# ---------------------------------------------------------------------------
# q253 — CDC snapshot diff ON THE GATE: the added/removed/changed census
# between two dimension snapshots — what `sources/formats.snapshot_diff`
# does for on-disk versions, here as an oracle-checked query over two
# deterministically DERIVED snapshots of customer (v2 = v1 with every
# mod-7 key's balance bumped one dollar, every mod-11 key dropped), so
# both engines build bit-identical inputs without touching disk.
#
# The diff is ONE full-outer join on the key with three disjoint
# predicates — the canonical CDC shape; counts and key checksums ride
# per change class. Scale: key-partitioned join, |keys| rows, map-side
# agg. (Balances compare in exact cents.)
# ---------------------------------------------------------------------------


def _register_q253() -> None:
    @_register(
        "q253_cdc_snapshot_diff",
        oracle="""
        WITH v1 AS (
            SELECT c_custkey AS k,
                   CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS bal
            FROM customer
        ),
        v2 AS (
            SELECT k, CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS bal
            FROM v1 WHERE k % 11 <> 0
            UNION ALL
            SELECT k + 10000000 AS k, bal FROM v1 WHERE k % 13 = 0
        ),
        d AS (
            SELECT COALESCE(a.k, b.k) AS k,
                   CASE WHEN a.k IS NULL THEN 'added'
                        WHEN b.k IS NULL THEN 'removed'
                        WHEN a.bal <> b.bal THEN 'changed'
                        ELSE 'unchanged' END AS op
            FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
        )
        SELECT op, CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(k) AS BIGINT) AS key_checksum
        FROM d GROUP BY op
        """,
    )
    def q253_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Added/removed/changed/unchanged census between two derived
        customer snapshots via one full-outer key join."""
        v1 = load_table(spark, "customer", sf_dir).select(
            F.col("c_custkey").alias("k"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        )
        v2 = v1.filter(F.col("k") % 11 != 0).select(
            "k",
            F.when(F.col("k") % 7 == 0, F.col("bal") + 100)
            .otherwise(F.col("bal")).alias("bal"),
        ).unionAll(
            v1.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 10000000).alias("k"), "bal"
            )
        )
        d = v1.alias("a").join(
            v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer"
        ).select(
            F.coalesce(F.col("a.k"), F.col("b.k")).alias("k"),
            F.when(F.col("a.k").isNull(), "added")
            .when(F.col("b.k").isNull(), "removed")
            .when(F.col("a.bal") != F.col("b.bal"), "changed")
            .otherwise("unchanged").alias("op"),
        )
        return d.groupBy("op").agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("k").cast("long").alias("key_checksum"),
        )


_register_q253()


# ---------------------------------------------------------------------------
# q254 — inclusion-dependency (foreign-key) discovery: which column
# pairs actually satisfy child ⊆ parent on the data? The metadata-
# discovery pass every lakehouse catalog runs before it can trust (or
# propose) join paths — parquet has no FK constraints, so containment
# must be MEASURED (the S1-side twin of quality.check_fk, which
# enforces a declared FK; this one profiles candidate FKs, including a
# deliberately false candidate to prove the audit can fail).
#
# Per candidate (child_col → parent_col): distinct child values, how
# many appear in the parent, containment in permil. Each candidate is
# a distinct-project + left-semi count — key-partitioned, map-side
# combined; candidates run as independent branches of one union job.
# ---------------------------------------------------------------------------

_Q254_CANDS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    # deliberately false candidate: customer keys are not nation keys
    ("customer", "c_custkey", "nation", "n_nationkey"),
)


def _register_q254() -> None:
    sqls = []
    for ct, cc, pt, pc in _Q254_CANDS:
        sqls.append(f"""
        SELECT '{ct}.{cc}->{pt}.{pc}' AS candidate,
               CAST(COUNT(*) AS BIGINT) AS n_child_distinct,
               CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contained,
               CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) * 1000
                    // COUNT(*) AS BIGINT) AS containment_permil
        FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
        LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pt}) p ON c.v = p.v
        """)
    @_register(
        "q254_inclusion_dependencies",
        oracle=" UNION ALL ".join(sqls),
    )
    def q254_inclusion_dependencies(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Containment audit for five candidate FK paths (one false by
        construction); distinct-project + left join per candidate."""
        outs = []
        for ct, cc, pt, pc in _Q254_CANDS:
            c = load_table(spark, ct, sf_dir).select(
                F.col(cc).alias("v")
            ).distinct()
            p = load_table(spark, pt, sf_dir).select(
                F.col(pc).alias("pv")
            ).distinct()
            j = c.join(p, c["v"] == p["pv"], "left")
            outs.append(
                j.agg(
                    F.lit(f"{ct}.{cc}->{pt}.{pc}").alias("candidate"),
                    F.count(F.lit(1)).cast("long")
                    .alias("n_child_distinct"),
                    F.sum(F.col("pv").isNotNull().cast("long"))
                    .cast("long").alias("n_contained"),
                    F.expr(
                        "CAST(SUM(CAST(pv IS NOT NULL AS LONG)) * 1000"
                        " div COUNT(*) AS BIGINT)"
                    ).alias("containment_permil"),
                )
            )
        out = outs[0]
        for o in outs[1:]:
            out = out.unionAll(o)
        return out


_register_q254()


# ---------------------------------------------------------------------------
# q255 — functional-dependency audit: does X determine Y on the data?
# The other half of schema discovery (candidate keys, normalization
# opportunities, denormalization safety). A dependency X→Y holds iff no
# X value maps to two Y values; the audit counts violating X values and
# the rows they cover, per declared candidate — including one
# dependency false by construction (order date does NOT determine
# status). One groupBy(X) with countDistinct(Y) per candidate —
# map-side partial, |X| rows shuffled.
# ---------------------------------------------------------------------------


def _register_q255() -> None:
    @_register(
        "q255_functional_dependencies",
        oracle="""
        SELECT * FROM (
            SELECT 'nation->region' AS dependency,
                   CAST(COUNT(*) AS BIGINT) AS n_lhs,
                   CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_violating_lhs,
                   CAST(SUM(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
                       AS n_rows_in_violation
            FROM (
                SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS nd,
                       COUNT(*) AS nr
                FROM nation GROUP BY n_nationkey
            )
            UNION ALL
            SELECT 'custkey->mktsegment',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
            FROM (
                SELECT c_custkey, COUNT(DISTINCT c_mktsegment) AS nd,
                       COUNT(*) AS nr
                FROM customer GROUP BY c_custkey
            )
            UNION ALL
            SELECT 'orderdate->orderstatus',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN nd > 1 THEN nr ELSE 0 END) AS BIGINT)
            FROM (
                SELECT o_orderdate, COUNT(DISTINCT o_orderstatus) AS nd,
                       COUNT(*) AS nr
                FROM orders GROUP BY o_orderdate
            )
        )
        """,
    )
    def q255_functional_dependencies(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Violation census for three declared FDs (one false by
        construction); one grouped countDistinct per candidate."""
        def fd(table: str, lhs: str, rhs: str, name: str) -> DataFrame:
            g = (
                load_table(spark, table, sf_dir)
                .groupBy(lhs)
                .agg(
                    F.countDistinct(rhs).alias("nd"),
                    F.count(F.lit(1)).alias("nr"),
                )
            )
            return g.agg(
                F.lit(name).alias("dependency"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                F.sum((F.col("nd") > 1).cast("long")).cast("long")
                .alias("n_violating_lhs"),
                F.sum(F.when(F.col("nd") > 1, F.col("nr")).otherwise(0))
                .cast("long").alias("n_rows_in_violation"),
            )

        return (
            fd("nation", "n_nationkey", "n_regionkey", "nation->region")
            .unionAll(
                fd("customer", "c_custkey", "c_mktsegment",
                   "custkey->mktsegment")
            )
            .unionAll(
                fd("orders", "o_orderdate", "o_orderstatus",
                   "orderdate->orderstatus")
            )
        )


_register_q255()


# ---------------------------------------------------------------------------
# q262 — sketch ALGEBRA on the gate: HLL union and intersection
# estimates for every event-type pair, from the same deterministic
# md5-HLL registers q180 pins. Union is the sketch-native operation
# (per-bucket register MAX — exactly how mergeable HLL states compose
# across shards/days); intersection comes by inclusion–exclusion
# (est_a + est_b − est_union), the standard overlap estimator whose
# error the exact audit column exposes. This is the capability that
# lets a 100 TB profile answer "how many users do segments A and B
# share?" from kilobyte states instead of a corpus-sized distinct join.
#
# Cross-engine exactness: registers are integers (q180's construction);
# each estimate is ONE double division of the shared literal numerator;
# the intersection is the fixed chain est_a + est_b − est_union written
# identically in both engines. The |types|²-pair register frame is
# ≤ pairs·256 rows — bounded.
# ---------------------------------------------------------------------------


def _q262_oracle() -> str:
    return f"""
    WITH h AS (
        SELECT event_type,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || 'hll'),
                                   1, 15) AS BIGINT) AS hv
        FROM events
    ),
    rr AS (
        SELECT event_type, hv // {_HLL_W} AS bucket,
               CASE WHEN hv % {_HLL_W} = 0 THEN 53
                    ELSE 53 - length(bin(hv % {_HLL_W})) END AS rho
        FROM h
    ),
    regs AS (
        SELECT event_type, bucket, MAX(rho) AS m
        FROM rr GROUP BY event_type, bucket
    ),
    sums AS (
        SELECT event_type,
               CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                    + (256 - COUNT(*)) * {_HLL_EMPTY} AS BIGINT) AS rsum
        FROM regs GROUP BY event_type
    ),
    tp AS (
        SELECT a.event_type AS t1, b.event_type AS t2
        FROM sums a JOIN sums b ON a.event_type < b.event_type
    ),
    pu AS (
        SELECT tp.t1, tp.t2, r.bucket, MAX(r.m) AS m
        FROM tp JOIN regs r
          ON r.event_type = tp.t1 OR r.event_type = tp.t2
        GROUP BY tp.t1, tp.t2, r.bucket
    ),
    usum AS (
        SELECT t1, t2,
               CAST(SUM(CAST(1 AS BIGINT) << (53 - m))
                    + (256 - COUNT(*)) * {_HLL_EMPTY} AS BIGINT) AS rsum
        FROM pu GROUP BY t1, t2
    ),
    ex AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_exact_inter
        FROM (SELECT DISTINCT event_type, user_id FROM events) a
        JOIN (SELECT DISTINCT event_type, user_id FROM events) b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT u.t1, u.t2,
           {_HLL_NUM} / CAST(sa.rsum AS DOUBLE) AS est_a,
           {_HLL_NUM} / CAST(sb.rsum AS DOUBLE) AS est_b,
           {_HLL_NUM} / CAST(u.rsum AS DOUBLE) AS est_union,
           {_HLL_NUM} / CAST(sa.rsum AS DOUBLE)
             + {_HLL_NUM} / CAST(sb.rsum AS DOUBLE)
             - {_HLL_NUM} / CAST(u.rsum AS DOUBLE) AS est_intersection,
           ex.n_exact_inter
    FROM usum u
    JOIN sums sa ON sa.event_type = u.t1
    JOIN sums sb ON sb.event_type = u.t2
    JOIN ex ON ex.t1 = u.t1 AND ex.t2 = u.t2
    """


def _register_q262() -> None:
    @_register("q262_hll_set_algebra", oracle=_q262_oracle())
    def q262_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pairwise HLL union / inclusion-exclusion intersection
        estimates over event types, beside the exact overlap audit."""
        e = load_table(spark, "events", sf_dir)
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"),
                               F.lit("hll"))), 1, 15,
            ), 16, 10,
        ).cast("bigint")
        rr = e.select("event_type", h.alias("hv")).select(
            "event_type",
            F.expr(f"hv div {_HLL_W}").alias("bucket"),
            F.when(F.col("hv") % _HLL_W == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(F.col("hv") % _HLL_W)))
            .alias("rho"),
        )
        regs = rr.groupBy("event_type", "bucket").agg(
            F.max("rho").alias("m")
        ).persist()  # |types|·256 rows: feeds per-type sums AND pair unions
        rsum = (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)"))
            + (F.lit(256) - F.count(F.lit(1))) * F.lit(_HLL_EMPTY)
        ).cast("long")
        sums = regs.groupBy("event_type").agg(rsum.alias("rsum"))
        tp = (
            sums.select(F.col("event_type").alias("t1"))
            .join(
                sums.select(F.col("event_type").alias("t2")),
                F.col("t1") < F.col("t2"),
            )
        )
        pu = (
            tp.join(regs, regs["event_type"] == tp["t1"])
            .select("t1", "t2", "bucket", "m")
            .unionAll(
                tp.join(regs, regs["event_type"] == tp["t2"])
                .select("t1", "t2", "bucket", "m")
            )
            .groupBy("t1", "t2", "bucket")
            .agg(F.max("m").alias("m"))
        )
        usum = pu.groupBy("t1", "t2").agg(rsum.alias("rsum"))
        du = e.select("event_type", "user_id").distinct()
        ex = (
            du.select(F.col("event_type").alias("t1"),
                      F.col("user_id").alias("u"))
            .join(
                du.select(F.col("event_type").alias("t2"),
                          F.col("user_id").alias("u")),
                ["u"],
            )
            .filter(F.col("t1") < F.col("t2"))
            .groupBy("t1", "t2")
            .agg(F.countDistinct("u").cast("long").alias("n_exact_inter"))
        )
        num = float(_HLL_NUM)
        sa = sums.select(F.col("event_type").alias("t1"),
                         F.col("rsum").alias("ra"))
        sb = sums.select(F.col("event_type").alias("t2"),
                         F.col("rsum").alias("rb"))
        est = lambda c: F.lit(num) / F.col(c).cast("double")  # noqa: E731
        return (
            usum.join(F.broadcast(sa), "t1")
            .join(F.broadcast(sb), "t2")
            .join(F.broadcast(ex), ["t1", "t2"])
            .select(
                "t1", "t2",
                est("ra").alias("est_a"),
                est("rb").alias("est_b"),
                est("rsum").alias("est_union"),
                (est("ra") + est("rb") - est("rsum"))
                .alias("est_intersection"),
                "n_exact_inter",
            )
        )


_register_q262()


# ---------------------------------------------------------------------------
# q270 — dirty-shard census: the incremental-reprocessing planner. A
# release pipeline over a sharded 100 TB corpus must answer "which
# shards changed since the last release?" WITHOUT diffing rows: each
# shard gets an order-free content fingerprint (the SUM of per-row
# md5 integers — commutative, so partition order cannot move it; the
# q152 table-fingerprint device at shard grain), and only shards whose
# fingerprints differ are reprocessed. Here v2 derives from v1
# deterministically (every mod-17 doc's text edited), shards are
# doc_id div 64, and the census reports clean/dirty shards plus the
# exact rows-to-reprocess — the number the scheduler budgets.
# ---------------------------------------------------------------------------


def _register_q270() -> None:
    @_register(
        "q270_dirty_shard_census",
        oracle="""
        WITH v1 AS (
            SELECT doc_id, doc_id // 64 AS shard, text FROM documents
        ),
        v2 AS (
            SELECT doc_id, shard,
                   CASE WHEN doc_id % 17 = 0 THEN text || ' edited'
                        ELSE text END AS text
            FROM v1
        ),
        f1 AS (
            SELECT shard,
                   CAST(SUM(CAST('0x' || substr(md5(text), 1, 13)
                                AS BIGINT)) AS BIGINT) AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM v1 GROUP BY shard
        ),
        f2 AS (
            SELECT shard,
                   CAST(SUM(CAST('0x' || substr(md5(text), 1, 13)
                                AS BIGINT)) AS BIGINT) AS fp
            FROM v2 GROUP BY shard
        ),
        d AS (
            SELECT f1.shard, f1.n_rows,
                   CASE WHEN f1.fp <> f2.fp THEN 1 ELSE 0 END AS dirty
            FROM f1 JOIN f2 ON f1.shard = f2.shard
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
               CAST(SUM(dirty) AS BIGINT) AS n_dirty,
               CAST(SUM(CASE WHEN dirty = 1 THEN n_rows ELSE 0 END)
                    AS BIGINT) AS rows_to_reprocess,
               CAST(SUM(dirty) * 1000 // COUNT(*) AS BIGINT)
                   AS dirty_permil
        FROM d
        """,
    )
    def q270_dirty_shard_census(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Changed-shard census between two corpus versions via
        order-free shard fingerprints; see block comment."""
        d = load_table(spark, "documents", sf_dir)
        # 52-bit per-row hashes (13 hex chars, the q240 convention): the
        # per-shard SUM stays int64-safe to ~2000 rows/shard; wider
        # shards widen the fingerprint to DECIMAL(38,0), same algebra
        fp_of = lambda text_col: F.sum(  # noqa: E731
            F.conv(F.substring(F.md5(text_col), 1, 13), 16, 10)
            .cast("bigint")
        ).cast("long")
        v1 = d.select(
            F.expr("doc_id div 64").alias("shard"), "text"
        )
        v2 = d.select(
            F.expr("doc_id div 64").alias("shard"),
            F.when(
                F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" edited"))
            ).otherwise(F.col("text")).alias("text"),
        )
        f1 = v1.groupBy("shard").agg(
            fp_of(F.col("text")).alias("fp1"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        f2 = v2.groupBy("shard").agg(fp_of(F.col("text")).alias("fp2"))
        dd = f1.join(f2, "shard").select(
            "n_rows",
            (F.col("fp1") != F.col("fp2")).cast("long").alias("dirty"),
        )
        return dd.agg(
            F.count(F.lit(1)).cast("long").alias("n_shards"),
            F.sum("dirty").cast("long").alias("n_dirty"),
            F.sum(F.when(F.col("dirty") == 1, F.col("n_rows")).otherwise(0))
            .cast("long").alias("rows_to_reprocess"),
            F.expr("CAST(SUM(dirty) * 1000 div COUNT(*) AS BIGINT)")
            .alias("dirty_permil"),
        )


_register_q270()


# ---------------------------------------------------------------------------
# q271 — selectivity-estimate audit (optimizer-statistics quality): how
# well does the 20-bin equi-width histogram q73 maintains predict the
# selectivity of range predicates? The question every cost-based
# optimizer implicitly answers at plan time; measuring its error
# against ground truth is how an engine decides its statistics are
# stale. Estimator: full interior bins count whole, the boundary bin
# contributes by linear interpolation — all in integer micro-rows
# (count·1e6 scaled fractions, truncating division), so the audit
# hash-matches. Three predicates probe below-range, interior, and
# wide-range cases.
# ---------------------------------------------------------------------------

_Q271_PREDS = ((0.0, 100.0), (130.0, 310.0), (250.0, 500.0))


def _register_q271() -> None:
    bins = """
        SELECT CAST(least(greatest(floor((value - 0.0) / 25.0), 0), 19)
                    AS BIGINT) AS bin, COUNT(*) AS n
        FROM events GROUP BY 1
    """
    legs = []
    for lo, hi in _Q271_PREDS:
        b_lo, b_hi = int(lo // 25), min(int(hi // 25), 19)
        legs.append(f"""
        SELECT '{lo:g}-{hi:g}' AS predicate,
               CAST((SELECT COALESCE(SUM(
                   CASE
                     WHEN bin > {b_lo} AND bin < {b_hi} THEN n * 1000000
                     WHEN bin = {b_lo} AND bin = {b_hi} THEN
                        n * CAST(FLOOR(({hi} - {lo}) * 40000) AS BIGINT)
                     WHEN bin = {b_lo} THEN
                        n * CAST(FLOOR(((({b_lo} + 1) * 25.0) - {lo}) * 40000) AS BIGINT)
                     WHEN bin = {b_hi} THEN
                        n * CAST(FLOOR(({hi} - ({b_hi} * 25.0)) * 40000) AS BIGINT)
                     ELSE 0
                   END), 0) // 1000000 FROM ({bins})) AS BIGINT) AS est_rows,
               CAST((SELECT COUNT(*) FROM events
                     WHERE value >= {lo} AND value < {hi}) AS BIGINT)
                   AS actual_rows
        """)
    sql = " UNION ALL ".join(legs)

    @_register(
        "q271_selectivity_audit",
        oracle=f"""
        SELECT predicate, est_rows, actual_rows,
               CAST(abs(est_rows - actual_rows) * 1000
                    // greatest(actual_rows, 1) AS BIGINT) AS err_permil
        FROM ({sql})
        """,
    )
    def q271_selectivity_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Histogram-estimated vs actual selectivity for three range
        predicates over event value; integer interpolation. The
        histogram is |bins|-sized state; both the estimate and the
        truth are one aggregate each."""
        e = load_table(spark, "events", sf_dir)
        hist = {
            int(r["bin"]): int(r["n"])
            for r in e.groupBy(
                F.least(
                    F.greatest(
                        F.floor((F.col("value") - 0.0) / 25.0), F.lit(0)
                    ),
                    F.lit(19),
                ).cast("long").alias("bin")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }  # |bins| driver rows — the optimizer's own statistics table
        outs = []
        for lo, hi in _Q271_PREDS:
            b_lo, b_hi = int(lo // 25), min(int(hi // 25), 19)
            est_micro = 0
            for b, n in hist.items():
                if b_lo < b < b_hi:
                    est_micro += n * 1000000
                elif b == b_lo == b_hi:
                    est_micro += n * int((hi - lo) * 40000)
                elif b == b_lo:
                    est_micro += n * int((((b_lo + 1) * 25.0) - lo) * 40000)
                elif b == b_hi:
                    est_micro += n * int((hi - (b_hi * 25.0)) * 40000)
            est = est_micro // 1000000
            actual = e.filter(
                (F.col("value") >= lo) & (F.col("value") < hi)
            ).count()
            outs.append((f"{lo:g}-{hi:g}", est, actual,
                         abs(est - actual) * 1000 // max(actual, 1)))
        return spark.createDataFrame(
            outs,
            "predicate string, est_rows long, actual_rows long,"
            " err_permil long",
        )


_register_q271()


# ---------------------------------------------------------------------------
# q283 — join-cardinality estimation audit: the q271 device (estimate vs
# truth, exact integer error) applied to the OTHER statistic a cost-based
# optimizer lives on. The textbook containment estimator
# |A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k)) is computed from exactly
# the statistics ANALYZE would collect (row counts + distinct key
# counts), the truth is the exact join count, and the output is the
# estimator's signed error in permil — the audit that tells you whether
# the optimizer's join ordering can be trusted on this corpus. Four
# keyspaces: the two FK joins the star schema shuffles on, the
# part-lookup join, and the events⋈customer cross-table key overlap
# (where containment is violated and the estimator degrades — visible
# in the output, which is the point of an audit).
#
# Plan shape: per pair, two tiny stat aggregates (driver scalars — the
# optimizer's own statistics table) and one exact join count; nothing
# wide shuffles. At 100 TB the stats come from ANALYZE metadata instead
# of a scan, and the truth side is the one you sample.
# ---------------------------------------------------------------------------

_Q283_PAIRS = (
    ("orders.o_custkey=customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey=orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey=part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("events.user_id=customer.c_custkey",
     "events", "user_id", "customer", "c_custkey"),
)


def _q283_oracle() -> str:
    legs = []
    for label, ta, ka, tb, kb in _Q283_PAIRS:
        legs.append(f"""
        SELECT '{label}' AS join_key,
               CAST((SELECT COUNT(*) FROM {ta}) AS BIGINT) AS n_left,
               CAST((SELECT COUNT(*) FROM {tb}) AS BIGINT) AS n_right,
               CAST((SELECT COUNT(*) FROM {ta}) * (SELECT COUNT(*) FROM {tb})
                    // GREATEST((SELECT COUNT(DISTINCT {ka}) FROM {ta}),
                                (SELECT COUNT(DISTINCT {kb}) FROM {tb}))
                    AS BIGINT) AS est_rows,
               CAST((SELECT COUNT(*) FROM {ta} a JOIN {tb} b
                     ON a.{ka} = b.{kb}) AS BIGINT) AS actual_rows
        """)
    u = " UNION ALL ".join(legs)
    return f"""
    SELECT join_key, n_left, n_right, est_rows, actual_rows,
           CAST((est_rows - actual_rows) * 1000
                // GREATEST(actual_rows, 1) AS BIGINT) AS err_permil
    FROM ({u})
    """


def _register_q283() -> None:
    @_register("q283_join_cardinality_audit", oracle=_q283_oracle())
    def q283_join_cardinality_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Containment-estimator audit over four join keyspaces:
        est = n_a·n_b div max(ndv_a, ndv_b) vs the exact join count,
        signed error in permil. See block comment.

        All eight (table, key) stat legs union into ONE job and all four
        exact join counts into a SECOND — the sequential 12-job form
        (two collects + a count per pair) paid ~0.4 s driver job
        overhead apiece, 5.5 s of pure scheduling for 12 scalar rows."""
        stat_legs = []
        join_legs = []
        for label, ta, ka, tb, kb in _Q283_PAIRS:
            a = load_table(spark, ta, sf_dir)
            b = load_table(spark, tb, sf_dir)
            for side, t, k, df in (("l", ta, ka, a), ("r", tb, kb, b)):
                stat_legs.append(
                    df.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.countDistinct(k).alias("ndv"),
                    ).select(
                        F.lit(f"{label}|{side}").alias("leg"), "n", "ndv"
                    )
                )
            join_legs.append(
                a.join(b, a[ka] == b[kb])
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.lit(label).alias("leg"), "n")
            )
        stats_df = stat_legs[0]
        for leg in stat_legs[1:]:
            stats_df = stats_df.unionAll(leg)
        joins_df = join_legs[0]
        for leg in join_legs[1:]:
            joins_df = joins_df.unionAll(leg)
        stats = {r["leg"]: r for r in stats_df.collect()}
        actuals = {r["leg"]: r["n"] for r in joins_df.collect()}
        outs = []
        for label, ta, ka, tb, kb in _Q283_PAIRS:
            sa, sb = stats[f"{label}|l"], stats[f"{label}|r"]
            actual = actuals[label]
            est = sa["n"] * sb["n"] // max(sa["ndv"], sb["ndv"])
            # signed permil error, truncating like the oracle's //
            diff = (est - actual) * 1000
            err = abs(diff) // max(actual, 1)
            outs.append(
                (label, sa["n"], sb["n"], est, actual,
                 err if diff >= 0 else -err)
            )
        return spark.createDataFrame(
            outs,
            "join_key string, n_left long, n_right long, est_rows long,"
            " actual_rows long, err_permil long",
        )


_register_q283()


# ---------------------------------------------------------------------------
# q289 — distributed heavy hitters by local-threshold candidate
# generation (the Misra-Gries/Space-Saving communication pattern, made
# deterministic): a token with global share > 1/K must, by pigeonhole,
# exceed the K-threshold in AT LEAST ONE row-shard (if f_s(x) ≤ N_s/K in
# every shard, summing gives f(x) ≤ N/K) — so the union of per-shard
# local heavy hitters is a PROVABLY LOSSLESS candidate set of ≤ K·S
# items, and only candidates ever reach the global aggregation. At
# 100 TB this is the difference between shuffling the full vocabulary
# (billions of keys) and shuffling ≤ K candidates per shard: the
# (shard, token) partials are the map-side combine, the candidate
# semi-join prunes them BEFORE the global exchange, and the final
# answer is exact. Sharding is md5-deterministic over (doc, position)
# (a row property, not a token property — co-locating a token with
# itself would make the local threshold vacuous), so DuckDB replays the
# identical two-phase protocol.
# ---------------------------------------------------------------------------

_HH_K = 100       # heavy hitter ⇔ frequency · K > N  (share > 1%)
_HH_SHARDS = 32   # row shards; candidate set ≤ K per shard by pigeonhole


def _register_q289() -> None:
    from etl_globalretail_spark.operators.sampling import _sql_bucket
    from etl_globalretail_spark.operators.text import _sql_tokens

    shard = _sql_bucket("doc_id || ':' || pos", _HH_SHARDS, "hh")

    @_register(
        "q289_local_heavy_hitters",
        oracle=f"""
        WITH d AS (
            SELECT doc_id, {_sql_tokens("text")} AS arr FROM documents
        ),
        occ AS (
            SELECT doc_id, unnest(generate_series(1, len(arr))) AS pos, arr
            FROM d
        ),
        sh AS (
            SELECT {shard} AS shard, arr[pos] AS token FROM occ
        ),
        part AS (
            SELECT shard, token, COUNT(*) AS n FROM sh GROUP BY shard, token
        ),
        tot AS (SELECT shard, SUM(n) AS ns FROM part GROUP BY shard),
        nn AS (SELECT SUM(n) AS n_total FROM part),
        cand AS (
            SELECT token, COUNT(*) AS n_shards_flagging
            FROM part JOIN tot USING (shard)
            WHERE n * {_HH_K} > ns
            GROUP BY token
        ),
        gfin AS (
            SELECT p.token, c.n_shards_flagging, SUM(p.n) AS n_global
            FROM part p JOIN cand c ON p.token = c.token
            GROUP BY p.token, c.n_shards_flagging
        )
        SELECT token, CAST(n_global AS BIGINT) AS n,
               CAST(n_shards_flagging AS BIGINT) AS n_shards_flagging,
               CAST(n_global * 1000 // n_total AS BIGINT) AS share_permil
        FROM gfin CROSS JOIN nn
        WHERE n_global * {_HH_K} > n_total
        """,
    )
    def q289_local_heavy_hitters(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Exact global heavy hitters (share > 1/K) via per-shard local
        thresholds: candidates are generated where the data lives
        (bounded ≤ K per shard), pruned by broadcast semi-join BEFORE the
        global exchange, and exact-counted from the same partials. See
        block comment for the pigeonhole losslessness argument."""
        from etl_globalretail_spark.operators.sampling import hash_bucket
        from etl_globalretail_spark.operators.text import tokens

        d = load_table(spark, "documents", sf_dir)
        occ = d.select(
            "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token")
        )
        sh = occ.select(
            hash_bucket(
                F.concat_ws(":", F.col("doc_id"), F.col("pos") + 1),
                _HH_SHARDS, "hh",
            ).alias("shard"),
            "token",
        )
        # (shard, token) partial counts feed the shard totals, the
        # candidate filter, AND the final exact counts — one persisted
        # frame, three consumers, never a second scan of raw tokens.
        part = sh.groupBy("shard", "token").agg(
            F.count(F.lit(1)).alias("n")
        ).persist()
        tot = part.groupBy("shard").agg(F.sum("n").alias("ns"))
        nn = part.agg(F.sum("n").alias("n_total"))
        cand = (
            part.join(F.broadcast(tot), "shard")
            .filter(F.col("n") * _HH_K > F.col("ns"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shards_flagging"))
        )
        glob = (
            part.join(F.broadcast(cand), "token")
            .groupBy("token", "n_shards_flagging")
            .agg(F.sum("n").alias("n_global"))
        )
        return (
            glob.crossJoin(F.broadcast(nn))  # 1-row grand total — bounded
            .filter(F.col("n_global") * _HH_K > F.col("n_total"))
            .select(
                "token",
                F.col("n_global").cast("long").alias("n"),
                "n_shards_flagging",
                F.expr("CAST(n_global * 1000 div n_total AS BIGINT)")
                .alias("share_permil"),
            )
        )


_register_q289()


# ---------------------------------------------------------------------------
# q291 — equi-DEPTH histogram selectivity audit: q271's estimator with
# the other classic bucketing rule. Equi-width buckets (q271) go blind
# where mass concentrates; equi-depth buckets (every bucket holds
# ~N/B rows, boundaries at exact ranks) adapt to the distribution —
# the form real optimizers (and ANALYZE ... COMPUTE STATISTICS) keep.
# Same three probe predicates and the same output schema as q271, so
# the two audits read head-to-head.
#
# Scale shape: bucket assignment needs a GLOBAL rank — the classic
# single-window funnel — so it rides q190's range-partitioned
# ranks.global_row_number (repartitionByRange + per-partition ranks +
# driver offsets; no single-partition exchange), whose by-product row
# count is the N of the bucket arithmetic. The bucket summary is
# B driver rows (the optimizer's own statistics table), actuals are ONE
# conditional-aggregation pass (vs q271's filter-per-predicate), and
# the estimator is pure integer math (truncating division) so DuckDB
# replays it bit-for-bit from ROW_NUMBER.
# ---------------------------------------------------------------------------

_Q291_B = 16  # equi-depth buckets


def _register_q291() -> None:
    bk = f"""
        SELECT CAST((rn - 1) * {_Q291_B} // nn AS BIGINT) AS bucket, v
        FROM (
            SELECT CAST(FLOOR(value * 1e6) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (
                       ORDER BY CAST(FLOOR(value * 1e6) AS BIGINT) * 10000000
                                + event_id) AS rn,
                   COUNT(*) OVER () AS nn
            FROM events
        )
    """
    bsum = f"""
        SELECT bucket, MIN(v) AS lo_b, MAX(v) AS hi_b,
               COUNT(*) AS n, MAX(v) - MIN(v) AS w
        FROM ({bk}) GROUP BY bucket
    """
    legs = []
    for lo, hi in _Q271_PREDS:
        lo_m, hi_m = int(lo * 1_000_000), int(hi * 1_000_000)
        legs.append(f"""
        SELECT '{lo:g}-{hi:g}' AS predicate,
               CAST((SELECT COALESCE(SUM(CASE
                   WHEN w = 0 THEN
                       CASE WHEN lo_b >= {lo_m} AND lo_b < {hi_m}
                            THEN n ELSE 0 END
                   ELSE n * GREATEST(LEAST({hi_m}, hi_b)
                                     - GREATEST({lo_m}, lo_b), 0) // w
                   END), 0) FROM ({bsum})) AS BIGINT) AS est_rows,
               CAST((SELECT COUNT(*) FROM events
                     WHERE value >= {lo} AND value < {hi}) AS BIGINT)
                   AS actual_rows
        """)
    sql = " UNION ALL ".join(legs)

    @_register(
        "q291_equidepth_audit",
        oracle=f"""
        SELECT predicate, est_rows, actual_rows,
               CAST(abs(est_rows - actual_rows) * 1000
                    // greatest(actual_rows, 1) AS BIGINT) AS err_permil
        FROM ({sql})
        """,
    )
    def q291_equidepth_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Equi-depth-histogram-estimated vs actual selectivity for the
        q271 predicate triplet; rank-based boundaries via the
        range-partitioned global row number, integer interpolation within
        boundary buckets. See block comment."""
        from etl_globalretail_spark.operators.ranks import global_row_number

        e = load_table(spark, "events", sf_dir)
        keyed = e.select(
            F.floor(F.col("value") * 1e6).cast("long").alias("v"),
            (F.floor(F.col("value") * 1e6).cast("long") * 10_000_000
             + F.col("event_id")).alias("k"),
        )
        # rn = rank under (v, event_id)
        idx, n_rows = global_row_number(keyed, [("k", "asc")])
        summ = (
            idx.select(
                F.expr(f"CAST((rn - 1) * {_Q291_B} div {n_rows} AS BIGINT)")
                .alias("bucket"),
                "v",
            )
            .groupBy("bucket")
            .agg(
                F.min("v").alias("lo_b"), F.max("v").alias("hi_b"),
                F.count(F.lit(1)).alias("n"),
                (F.max("v") - F.min("v")).alias("w"),
            )
            .collect()
        )  # B driver rows — the statistics table itself
        acts = (
            e.agg(*[
                F.sum(
                    ((F.col("value") >= lo) & (F.col("value") < hi))
                    .cast("long")
                ).alias(f"a{i}")
                for i, (lo, hi) in enumerate(_Q271_PREDS)
            ]).collect()[0]
        )
        outs = []
        for i, (lo, hi) in enumerate(_Q271_PREDS):
            lo_m, hi_m = int(lo * 1_000_000), int(hi * 1_000_000)
            est = 0
            for r in summ:
                if r["w"] == 0:
                    if lo_m <= r["lo_b"] < hi_m:
                        est += r["n"]
                else:
                    ov = max(min(hi_m, r["hi_b"]) - max(lo_m, r["lo_b"]), 0)
                    est += r["n"] * ov // r["w"]
            actual = int(acts[f"a{i}"] or 0)
            outs.append(
                (f"{lo:g}-{hi:g}", est, actual,
                 abs(est - actual) * 1000 // max(actual, 1))
            )
        return spark.createDataFrame(
            outs,
            "predicate string, est_rows long, actual_rows long,"
            " err_permil long",
        )


_register_q291()


# ---------------------------------------------------------------------------
# q328 — BLOOM-FILTER membership (the approximate-membership sketch the
# family was missing beside KMV q240, HLL q180, count-min q241): the
# Bloom-join prefilter every distributed engine ships — probe the
# customer table against a filter built over a SELECTIVE order-side
# key slice (customers who ordered in 1996: the date predicate is what
# makes a Bloom prefilter worth building, and it leaves a real
# non-member population at every SF — ~1/4 of customers), pass only
# probes whose k=4 md5-derived bit positions are ALL set, and audit
# the filter's exactness: Bloom admits NO false negatives (every true
# member passes — pytest law) and its false-positive rate is the price
# of the compression (reported as exact integer ppm beside the
# exact-membership ground truth).
#
# Adaptive sizing, replayed in BOTH engines with the q89 integer
# bit-length device (length(bin(n)) — no libm): m = 4 · 2^bitlen(n)
# bits for n members, pinning the occupancy k·n/m to [0.5, 1.0]
# (fill 1−e^−u ∈ [0.39, 0.63]) and the FPR to fill⁴ ≈ 2–16% at ANY
# corpus size — deliberately compact so the audit column is never
# vacuous, and size-stable as SF grows (the q292 adaptive-k stance).
# Positions are md5('bl{j}-' || key) mod m — the portable hash family.
#
# Scale shape: the bits frame is ≤ m rows (∝ members); NO broadcast
# hint — AQE broadcasts it while it fits and falls back to a pos-keyed
# shuffle equi-join beyond that (a real 1e9-member filter is a ~1 GB
# bitmap — the shuffle join IS the scale path). Probe side explodes
# k=4 rows per key, the pass test is one count, the census one
# aggregate.
# ---------------------------------------------------------------------------

_Q328_K = 4


def _register_q328() -> None:
    @_register(
        "q328_bloom_membership",
        oracle=f"""
        WITH mem AS (
            SELECT DISTINCT o_custkey AS k FROM orders
            WHERE YEAR(o_orderdate) = 1996
        ),
        mm AS (
            SELECT CAST(4 * (1 << LENGTH(BIN(COUNT(*)))) AS BIGINT) AS m
            FROM mem
        ),
        bits AS (
            SELECT DISTINCT
                   CAST('0x' || substr(md5('bl' || j.j || '-' || mem.k),
                        1, 15) AS BIGINT) % mm.m AS pos
            FROM mem, (SELECT unnest(range({_Q328_K})) AS j) j, mm
        ),
        probe AS (
            SELECT c.c_custkey AS k, j.j,
                   CAST('0x' || substr(md5('bl' || j.j || '-'
                        || c.c_custkey), 1, 15) AS BIGINT) % mm.m AS pos
            FROM customer c, (SELECT unnest(range({_Q328_K})) AS j) j, mm
        ),
        hits AS (
            SELECT k, COUNT(*) AS nhit
            FROM probe JOIN bits USING (pos) GROUP BY k
        ),
        flags AS (
            SELECT c.c_custkey AS k,
                   CASE WHEN m.k IS NOT NULL THEN 1 ELSE 0 END AS is_m,
                   CASE WHEN COALESCE(h.nhit, 0) = {_Q328_K}
                        THEN 1 ELSE 0 END AS bp
            FROM customer c
            LEFT JOIN mem m ON m.k = c.c_custkey
            LEFT JOIN hits h ON h.k = c.c_custkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(is_m) AS BIGINT) AS n_members,
               CAST(SUM(bp) AS BIGINT) AS n_bloom_positive,
               CAST(SUM(CASE WHEN is_m = 1 AND bp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_positive,
               CAST(SUM(CASE WHEN is_m = 0 AND bp = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_positive,
               CAST(SUM(CASE WHEN is_m = 0 AND bp = 1 THEN 1 ELSE 0 END)
                    * 1000000
                    // GREATEST(SUM(CASE WHEN is_m = 0 THEN 1 ELSE 0 END),
                                1) AS BIGINT) AS fpr_ppm,
               (SELECT CAST(m AS BIGINT) FROM mm) AS m_bits
        FROM flags
        """,
    )
    def q328_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Bloom-join prefilter audit: customers probed against an
        adaptively-sized (m = 8·2^bitlen(n), k = 4) md5-Bloom filter
        over the distinct order custkeys; one census row with the exact
        confusion counts and the integer-ppm false-positive rate. See
        block comment."""
        o = load_table(spark, "orders", sf_dir)
        c = load_table(spark, "customer", sf_dir)
        # members feeds the bits build AND the exact-membership join —
        # persist (lifetime tied to the returned plan). The selective
        # year predicate reaches the orders scan (pushdown).
        mem = (
            o.filter(F.year("o_orderdate") == 1996)
            .select(F.col("o_custkey").alias("k"))
            .distinct()
            .persist()
        )
        n = mem.count()  # driver scalar (1 value) — sizes the filter
        m_bits = 4 << n.bit_length()

        def pos(col, j):
            return F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bl{j}-"), col.cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % F.lit(m_bits).cast("long")

        bits = (
            mem.select(
                F.explode(
                    F.array(*[pos(F.col("k"), j) for j in range(_Q328_K)])
                ).alias("pos")
            )
            .distinct()
        )
        probe = c.select(F.col("c_custkey").alias("k")).select(
            "k",
            F.explode(
                F.array(*[pos(F.col("k"), j) for j in range(_Q328_K)])
            ).alias("pos"),
        )
        # NO broadcast hint: AQE broadcasts the ≤m-row bits frame while
        # it fits and shuffle-joins on pos beyond that (the scale path)
        hits = probe.join(bits, "pos").groupBy("k").agg(
            F.count(F.lit(1)).alias("nhit")
        )
        flags = (
            c.select(F.col("c_custkey").alias("k"))
            .join(mem.withColumn("is_m", F.lit(1)), "k", "left")
            .join(hits, "k", "left")
            .select(
                F.coalesce("is_m", F.lit(0)).alias("is_m"),
                F.when(F.coalesce("nhit", F.lit(0)) == _Q328_K, 1)
                .otherwise(0).alias("bp"),
            )
        )
        return flags.agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("is_m").cast("long").alias("n_members"),
            F.sum("bp").cast("long").alias("n_bloom_positive"),
            F.sum(F.when((F.col("is_m") == 1) & (F.col("bp") == 1), 1)
                  .otherwise(0)).cast("long").alias("n_true_positive"),
            F.sum(F.when((F.col("is_m") == 0) & (F.col("bp") == 1), 1)
                  .otherwise(0)).cast("long").alias("n_false_positive"),
            F.expr(
                "CAST(SUM(CASE WHEN is_m = 0 AND bp = 1 THEN 1 ELSE 0 END)"
                " * 1000000L div GREATEST(SUM(CASE WHEN is_m = 0 THEN 1"
                " ELSE 0 END), 1L) AS BIGINT)"
            ).alias("fpr_ppm"),
            F.lit(m_bits).cast("long").alias("m_bits"),
        )


_register_q328()


# ---------------------------------------------------------------------------
# q341 — HyperLogLog distinct-count sketch (Flajolet et al. 2007), the
# cardinality member of the sketch family (count-min q99, KMV q247,
# Bloom q328). Per order priority, estimate |distinct custkey| from a
# 256-register HLL and audit it against the exact distinct count.
#
# Determinism contract (oracle-exact, no libm anywhere):
# - h = 52-bit md5 integer (13 hex chars, the portable hash family);
#   bucket = h % 256, w = h div 256 (44-bit field, integer shift per
#   the cookbook — never double division).
# - rho = 45 - bitlen(w) via the q89/q328 LENGTH(BIN(w)) device, with
#   the w = 0 edge pinned to 45 in BOTH engines (BIN(0) = '0' would
#   otherwise read as bitlen 1 on both, identically wrong vs the HLL
#   definition).
# - The harmonic sum stays in int64: sum 2^-M[j] is scaled by 2^45 so
#   denom = sum_present 2^(45-M) + V·2^45 <= 256·2^45 = 2^53. The
#   alpha·m² numerator is a PYTHON-computed exact literal C (no engine
#   float ever), est_raw = C div denom — ONE integer division, both
#   engines truncate identically on non-negative operands.
# - Linear-counting small-range correction (V empty registers > 0 and
#   est_raw < 5m/2): m·ln(m/V) depends only on V in 1..256, so the 256
#   corrected values are a Python-precomputed integer table injected
#   into both engines as the SAME literal array (element_at / [V]) —
#   ln never evaluated engine-side.
#
# Scale shape: one pass over orders, groupBy(priority, bucket) MAX —
# map-side combinable, register state is 5·256 rows no matter the
# corpus (the whole point of HLL at 100 TB); the census re-aggregates
# registers, never the fact table. The exact-distinct audit column is
# the only corpus-sized aggregate, and it is the ground truth the
# sketch is graded against. Production note: 52 hash bits saturate
# near 2^26 distinct keys per group; the production path widens to the
# full 15-hex (60-bit) hash with the harmonic sum in decimal(38,0) —
# same plan, wider accumulator (the q217/q175 overflow discipline).
# ---------------------------------------------------------------------------

_Q341_M = 256
# alpha_256 = 0.7213 / (1 + 1.079/256); C = floor(alpha·m²·2^45·1e-6)
_Q341_C = (718327 * _Q341_M * _Q341_M * (1 << 45)) // 10**6
# linear-counting table: floor(m·ln(m/V)) for V = 1..256 (index V)
_Q341_LC = [
    int(_Q341_M * __import__("math").log(_Q341_M / v)) for v in range(1, 257)
]


def _register_q341() -> None:
    lc_sql = "[" + ", ".join(str(x) for x in _Q341_LC) + "]"
    @_register(
        "q341_hll_distinct",
        oracle=f"""
        WITH hashed AS (
            SELECT o_orderpriority AS priority,
                   CAST('0x' || substr(md5('hll-' || o_custkey), 1, 13)
                        AS BIGINT) AS h
            FROM orders
        ),
        regs AS (
            SELECT priority, h % {_Q341_M} AS bucket,
                   MAX(CASE WHEN h // {_Q341_M} = 0 THEN 45
                            ELSE 45 - LENGTH(BIN(h // {_Q341_M}))
                       END) AS m
            FROM hashed GROUP BY priority, h % {_Q341_M}
        ),
        sketch AS (
            SELECT priority,
                   CAST(SUM(1::BIGINT << (45 - m))
                        + ({_Q341_M} - COUNT(*)) * (1::BIGINT << 45)
                        AS BIGINT) AS denom,
                   CAST({_Q341_M} - COUNT(*) AS BIGINT) AS v_empty
            FROM regs GROUP BY priority
        ),
        est AS (
            SELECT priority, v_empty,
                   CASE WHEN v_empty > 0
                             AND {_Q341_C} // denom < {5 * _Q341_M // 2}
                        THEN {lc_sql}[v_empty]
                        ELSE {_Q341_C} // denom END AS est_hll
            FROM sketch
        ),
        exact AS (
            SELECT o_orderpriority AS priority,
                   COUNT(DISTINCT o_custkey) AS n_exact
            FROM orders GROUP BY o_orderpriority
        )
        SELECT e.priority,
               CAST({_Q341_M} AS BIGINT) AS m_buckets,
               CAST(x.n_exact AS BIGINT) AS n_exact,
               CAST(e.v_empty AS BIGINT) AS v_empty,
               CAST(e.est_hll AS BIGINT) AS est_hll,
               CAST(ABS(e.est_hll - x.n_exact) * 1000000 // x.n_exact
                    AS BIGINT) AS err_ppm
        FROM est e JOIN exact x ON e.priority = x.priority
        """,
    )
    def q341_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
        """HyperLogLog distinct-custkey estimate per order priority with
        the exact-count audit column. See block comment for the
        integer-exact estimator contract."""
        o = load_table(spark, "orders", sf_dir)
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hll-"),
                               F.col("o_custkey").cast("string"))),
                1, 13,
            ), 16, 10,
        ).cast("long")
        w = F.expr(f"h div {_Q341_M}")
        rho = F.when(w == 0, F.lit(45)).otherwise(
            F.lit(45) - F.length(F.bin(w))
        )
        regs = (
            o.select(
                F.col("o_orderpriority").alias("priority"), h.alias("h")
            )
            .select(
                "priority", (F.col("h") % _Q341_M).alias("bucket"),
                rho.alias("rho"),
            )
            .groupBy("priority", "bucket")
            .agg(F.max("rho").alias("m"))
        )
        sketch = regs.groupBy("priority").agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 45 - m)"))
                + (F.lit(_Q341_M) - F.count(F.lit(1)))
                * F.lit(1 << 45).cast("long")
            ).cast("long").alias("denom"),
            (F.lit(_Q341_M) - F.count(F.lit(1)))
            .cast("long").alias("v_empty"),
        )
        est = sketch.select(
            "priority", "v_empty",
            F.when(
                (F.col("v_empty") > 0)
                & (F.expr(f"{_Q341_C} div denom") < 5 * _Q341_M // 2),
                F.element_at(
                    F.array(*[F.lit(x) for x in _Q341_LC]),
                    F.col("v_empty").cast("int"),
                ).cast("long"),
            )
            .otherwise(F.expr(f"{_Q341_C} div denom"))
            .alias("est_hll"),
        )
        exact = o.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(F.count_distinct("o_custkey").alias("n_exact"))
        return est.join(exact, "priority").select(
            "priority",
            F.lit(_Q341_M).cast("long").alias("m_buckets"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("v_empty").cast("long").alias("v_empty"),
            F.col("est_hll").cast("long").alias("est_hll"),
            F.expr("abs(est_hll - n_exact) * 1000000L div n_exact")
            .cast("long").alias("err_ppm"),
        )


_register_q341()


# ---------------------------------------------------------------------------
# q345 — QUANTILE SKETCH by deterministic hash-Bernoulli sampling: the
# approximate-order-statistics member of the sketch family (cardinality
# q341/KMV, membership q328, frequency q99). Every row is kept iff its
# 52-bit md5 ≡ 0 (mod S) — a fixed, data-independent coin, so the
# sketch is MERGEABLE by plain union (two shards' sketches concatenate;
# no rescaling, no randomness to reconcile) and identical no matter how
# the corpus is partitioned. Each kept row carries weight S; the
# φ-quantile estimate is the kept value at weighted rank ceil(φN)/S
# under the (cents, id) total order.
#
# Adaptive scale (the q328/q292 stance): S = 2^max(0, bitlen(N) − 11)
# pins the expected sample to ~2^11 rows at ANY corpus size — at 100 TB
# (N ≈ 6·10^11) S = 2^28 and the sample is still ~2k rows. The audit
# reports the RANK error (what sketch guarantees are stated in): the
# estimate's true rank interval [count_lt+1, count_le] vs the target
# rank, in ppm of N — 0 when the target falls inside the tie interval.
#
# Determinism: cents = FLOOR(price·100) int64; the sample order key is
# (cents, id) with id = 10·orderkey + linenumber (unique, both
# engines); N, S and the three target positions are integer-exact;
# the 3 estimate values round-trip through the driver as documented
# scalars (k = 3, the q122 centroid device) so the audit is ONE
# conditional aggregate over the corpus, not a nested-loop join.
#
# Scale shape: one scan → map-side hash filter (the sample never
# shuffles more than ~2k rows into the two-phase rank) → one corpus
# aggregate for the audit. No global window (global_row_number is the
# two-phase helper); no data-sized collect.
# ---------------------------------------------------------------------------

_Q345_PHIS = (500000, 900000, 990000)


def _register_q345() -> None:
    phis_sql = ", ".join(
        f"({p})" for p in _Q345_PHIS
    )

    @_register(
        "q345_quantile_sketch",
        oracle=f"""
        WITH base AS (
            SELECT CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100)
                        AS BIGINT) AS cents,
                   l_orderkey * 10 + l_linenumber AS id,
                   CAST('0x' || substr(md5(l_orderkey || '-'
                        || l_linenumber), 1, 13) AS BIGINT) AS h
            FROM lineitem
        ),
        nn AS (
            SELECT COUNT(*) AS n,
                   CAST(1::BIGINT << GREATEST(0,
                        LENGTH(BIN(COUNT(*))) - 11) AS BIGINT) AS s
            FROM base
        ),
        samp AS (
            SELECT cents, id,
                   ROW_NUMBER() OVER (ORDER BY cents, id) AS rn
            FROM base, nn WHERE h % nn.s = 0
        ),
        sz AS (SELECT COUNT(*) AS sample_n FROM samp),
        phis AS (SELECT * FROM (VALUES {phis_sql}) t(phi_ppm)),
        targets AS (
            SELECT phi_ppm,
                   (phi_ppm * nn.n + 999999) // 1000000 AS target,
                   GREATEST(1, LEAST(sz.sample_n,
                       ((phi_ppm * nn.n + 999999) // 1000000
                        + nn.s - 1) // nn.s)) AS pos
            FROM phis, nn, sz
        ),
        ests AS (
            SELECT t.phi_ppm, t.target, s.cents AS est_cents
            FROM targets t JOIN samp s ON s.rn = t.pos
        ),
        audit AS (
            SELECT e.phi_ppm, e.target, e.est_cents,
                   SUM(CASE WHEN b.cents < e.est_cents
                            THEN 1 ELSE 0 END) AS count_lt,
                   SUM(CASE WHEN b.cents <= e.est_cents
                            THEN 1 ELSE 0 END) AS count_le
            FROM ests e, base b
            GROUP BY e.phi_ppm, e.target, e.est_cents
        )
        SELECT CAST(a.phi_ppm AS BIGINT) AS phi_ppm,
               CAST(nn.n AS BIGINT) AS n_rows,
               CAST(nn.s AS BIGINT) AS scale_s,
               CAST(sz.sample_n AS BIGINT) AS sample_n,
               CAST(a.est_cents AS BIGINT) AS est_cents,
               CAST(a.count_lt AS BIGINT) AS count_lt,
               CAST(a.count_le AS BIGINT) AS count_le,
               CAST(GREATEST(0, GREATEST(a.count_lt + 1 - a.target,
                    a.target - a.count_le)) * 1000000 // nn.n
                    AS BIGINT) AS rank_err_ppm
        FROM audit a, nn, sz
        """,
    )
    def q345_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hash-Bernoulli mergeable quantile sketch over lineitem price
        cents with a rank-error audit at φ = 0.5/0.9/0.99. See block
        comment for the determinism and scale contract."""
        from etl_globalretail_spark.operators.ranks import global_row_number

        li = load_table(spark, "lineitem", sf_dir)
        base = li.select(
            F.expr(
                "CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100)"
                " AS BIGINT)"
            ).alias("cents"),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("long").alias("id"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("-", "l_orderkey", "l_linenumber")),
                    1, 13,
                ), 16, 10,
            ).cast("long").alias("h"),
        )
        # base feeds the count, the sample, and the audit — persist
        base = base.persist()
        try:
            n = base.count()  # driver scalar — sizes the sketch
            s = 1 << max(0, n.bit_length() - 11)
            samp = base.filter(F.col("h") % s == 0).select("cents", "id")
            ranked, sample_n = global_row_number(
                samp, [("cents", "asc"), ("id", "asc")], "rn"
            )  # sample_n bounded ~2^11 by construction
            if sample_n == 0:
                # Degenerate corpus (no row hashes to the sample): the
                # oracle's rn=pos join emits ZERO rows — mirror it
                # instead of KeyError-ing on a missing rank (ADVICE r8).
                return spark.createDataFrame(
                    [],
                    "phi_ppm long, n_rows long, scale_s long,"
                    " sample_n long, est_cents long, count_lt long,"
                    " count_le long, rank_err_ppm long",
                )
            picks = []
            for phi in _Q345_PHIS:
                target = (phi * n + 999999) // 1000000
                pos = max(1, min(sample_n, (target + s - 1) // s))
                picks.append((phi, target, pos))
            pos_map = {p: (phi, t) for phi, t, p in picks}
            est_rows = ranked.filter(
                F.col("rn").isin([p for _, _, p in picks])
            ).collect()  # k = 3 documented driver scalars
            ests = {r["rn"]: r["cents"] for r in est_rows}
            audit_aggs = []
            for phi, target, pos in picks:
                ev = ests[pos]
                audit_aggs += [
                    F.sum(F.when(F.col("cents") < ev, 1).otherwise(0))
                    .alias(f"lt_{phi}"),
                    F.sum(F.when(F.col("cents") <= ev, 1).otherwise(0))
                    .alias(f"le_{phi}"),
                ]
            counts = base.agg(*audit_aggs).collect()[0]
            out = []
            for phi, target, pos in picks:
                ev = ests[pos]
                lt, le = counts[f"lt_{phi}"], counts[f"le_{phi}"]
                err = max(0, max(lt + 1 - target, target - le))
                out.append(
                    (phi, n, s, sample_n, ev, lt, le,
                     err * 1000000 // n)
                )
            return spark.createDataFrame(
                out,
                "phi_ppm long, n_rows long, scale_s long, sample_n long,"
                " est_cents long, count_lt long, count_le long,"
                " rank_err_ppm long",
            )
        finally:
            base.unpersist()


_register_q345()


# ---------------------------------------------------------------------------
# q352 — THETA-SKETCH SET INTERSECTION (Dasgupta et al., the DataSketches
# theta algebra over q240's KMV state): estimate |click-users ∩
# purchase-users| and their Jaccard from the two bottom-k sketches
# ALONE — the set-operation face of the sketch family (q240/q247 do
# union-ish cardinality; real pipelines ask overlap questions: audience
# intersection, cross-corpus contamination mass — from sketch state,
# never rescanning either side).
#
# Estimator: θ = min(kth-min_A, kth-min_B) (H when a side kept < k, i.e.
# is exact); the common sample = hashes below θ present in BOTH
# sketches; est_∩ = n_common·H div θ (n·H ≤ 64·2^52 = 2^58, int64-safe);
# Jaccard_ppm = n_common·10^6 div n_union-below-θ. Exact audit columns
# ride beside (the distinct-user intersection join).
#
# Scale shape: the corpus never shuffles (per-batch Arrow KMV partials,
# the q240 kernel); sketch state is ≤ 2·64 hashes, and the estimator is
# driver algebra over those documented scalars — exactly how a sketch
# consumer works. Audit joins are |distinct users| grain.
# ---------------------------------------------------------------------------


def _register_q352() -> None:
    @_register(
        "q352_theta_intersection",
        oracle=f"""
        WITH ha AS (
            SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                   || 'kmv'), 1, 13) AS BIGINT) AS hv
            FROM events WHERE event_type = 'click'
        ),
        hb AS (
            SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                   || 'kmv'), 1, 13) AS BIGINT) AS hv
            FROM events WHERE event_type = 'purchase'
        ),
        ska AS (
            SELECT hv FROM (
                SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk FROM ha
            ) WHERE rk <= {_KMV_K}
        ),
        skb AS (
            SELECT hv FROM (
                SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk FROM hb
            ) WHERE rk <= {_KMV_K}
        ),
        th AS (
            SELECT LEAST(
                CASE WHEN (SELECT COUNT(*) FROM ska) < {_KMV_K}
                     THEN {_KMV_H} ELSE (SELECT MAX(hv) FROM ska) END,
                CASE WHEN (SELECT COUNT(*) FROM skb) < {_KMV_K}
                     THEN {_KMV_H} ELSE (SELECT MAX(hv) FROM skb) END
            ) AS theta
        ),
        common AS (
            SELECT COUNT(*) AS c FROM ska JOIN skb USING (hv), th
            WHERE hv < th.theta
        ),
        uni AS (
            SELECT COUNT(*) AS c FROM (
                SELECT hv FROM ska UNION SELECT hv FROM skb
            ), th WHERE hv < th.theta
        ),
        exact AS (
            SELECT COUNT(*) AS c FROM ha JOIN hb USING (hv)
        ),
        exact_u AS (
            SELECT COUNT(*) AS c FROM (
                SELECT hv FROM ha UNION SELECT hv FROM hb
            )
        )
        SELECT CAST((SELECT COUNT(*) FROM ska) AS BIGINT) AS n_kept_a,
               CAST((SELECT COUNT(*) FROM skb) AS BIGINT) AS n_kept_b,
               CAST(th.theta AS BIGINT) AS theta,
               CAST(common.c AS BIGINT) AS n_common_sample,
               CAST(uni.c AS BIGINT) AS n_union_sample,
               CAST(common.c * {_KMV_H} // th.theta AS BIGINT)
                   AS est_intersection,
               CAST(exact.c AS BIGINT) AS exact_intersection,
               CAST(common.c * 1000000 // GREATEST(uni.c, 1) AS BIGINT)
                   AS est_jaccard_ppm,
               CAST(exact.c * 1000000 // exact_u.c AS BIGINT)
                   AS exact_jaccard_ppm
        FROM th, common, uni, exact, exact_u
        """,
    )
    def q352_theta_intersection(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Audience-overlap estimate (intersection cardinality +
        Jaccard) of click vs purchase users from two bottom-64 KMV
        sketches, with exact audit columns. See block comment."""
        e = load_table(spark, "events", sf_dir)

        def sketch(etype: str) -> list[int]:
            side = e.filter(F.col("event_type") == etype).select(
                F.lit(etype).alias("g"),
                kmv_hash(F.col("user_id")).alias("hv"),
            )
            sk = kmv_sketch(kmv_partials(side, "g", "hv"), "g", "hv")
            rows = sk.collect()  # ≤ k documented sketch scalars
            return sorted(rows[0]["mins"]) if rows else []

        a, b = sketch("click"), sketch("purchase")
        th_a = a[-1] if len(a) >= _KMV_K else _KMV_H
        th_b = b[-1] if len(b) >= _KMV_K else _KMV_H
        theta = min(th_a, th_b)
        sa = {h for h in a if h < theta}
        sb = {h for h in b if h < theta}
        n_common = len(sa & sb)
        n_union = len(sa | sb)
        est_inter = n_common * _KMV_H // theta
        est_j = n_common * 1000000 // max(n_union, 1)
        ha = (
            e.filter(F.col("event_type") == "click")
            .select(kmv_hash(F.col("user_id")).alias("hv")).distinct()
        )
        hb = (
            e.filter(F.col("event_type") == "purchase")
            .select(kmv_hash(F.col("user_id")).alias("hv")).distinct()
        )
        row = (
            ha.join(hb, "hv")
            .agg(F.count(F.lit(1)).cast("long").alias("i"))
            .crossJoin(
                F.broadcast(
                    ha.unionAll(hb).distinct()
                    .agg(F.count(F.lit(1)).cast("long").alias("u"))
                )
            )
            .collect()[0]
        )  # two 1-row audit scalars in one job
        exact_i, exact_u = int(row["i"]), int(row["u"])
        return spark.createDataFrame(
            [(
                len(a), len(b), theta, n_common, n_union,
                est_inter, exact_i, est_j,
                exact_i * 1000000 // exact_u,
            )],
            "n_kept_a long, n_kept_b long, theta long,"
            " n_common_sample long, n_union_sample long,"
            " est_intersection long, exact_intersection long,"
            " est_jaccard_ppm long, exact_jaccard_ppm long",
        )


_register_q352()


# ---------------------------------------------------------------------------
# q381 — APPROXIMATE FUNCTIONAL-DEPENDENCY audit (data-profiling's FD
# discovery measure: TANE's g3 error, Kivinen-Mannila; the Metanome
# profiling suite's core primitive). A data contract says "X should
# determine Y"; the g3 error is the MINIMUM number of rows you would
# have to remove for the FD X → Y to hold exactly:
#     g3 = Σ over X-groups (group_size − largest single-Y class) .
# Schema-inference, key discovery, and normalization reviews all read
# this table: g3 = 0 certifies the dependency, small g3 flags dirty
# rows (the quarantine cohort), large g3 refutes the contract.
#
# Six candidate FDs across the warehouse (two key-certified, four
# measured): each leg is two map-side-combinable aggregations —
# groupBy(X, Y) count, then per-X total/max/distinct — so the audit is
# shuffle-light at any scale; legs are unioned BY NAME into one job
# (the q283 one-action stance). All-integer outputs.
# ---------------------------------------------------------------------------

_Q381_FDS = [
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("part", "p_brand", "p_type"),
]


def _register_q381() -> None:
    legs = []
    for table, lhs, rhs in _Q381_FDS:
        legs.append(f"""
        SELECT '{table}.{lhs}->{rhs}' AS fd,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_groups,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_groups,
               CAST(SUM(n - mx) AS BIGINT) AS rows_to_fix,
               CAST(SUM(n - mx) * 1000 // SUM(n) AS BIGINT) AS g3_permil
        FROM (
            SELECT {lhs},
                   SUM(c) AS n, MAX(c) AS mx, COUNT(*) AS n_rhs
            FROM (
                SELECT {lhs}, {rhs}, COUNT(*) AS c
                FROM {table} GROUP BY 1, 2
            ) GROUP BY 1
        )""")
    oracle = "\nUNION ALL\n".join(legs)

    @_register("q381_fd_audit", oracle=oracle)
    def q381_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
        """g3 approximate-FD error for six candidate dependencies —
        rows to remove for X → Y to hold, per FD. See block comment."""
        out = None
        for table, lhs, rhs in _Q381_FDS:
            t = load_table(spark, table, sf_dir)
            pair = t.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("c"))
            grp = pair.groupBy(lhs).agg(
                F.sum("c").alias("n"),
                F.max("c").alias("mx"),
                F.count(F.lit(1)).alias("n_rhs"),
            )
            leg = grp.agg(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                F.sum("n").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("n_rhs") > 1).cast("long")).cast("long")
                .alias("n_violating_groups"),
                F.sum(F.col("n") - F.col("mx")).cast("long")
                .alias("rows_to_fix"),
            ).withColumn(
                "g3_permil",
                F.expr("CAST(rows_to_fix * 1000 div n_rows AS BIGINT)"),
            )
            out = leg if out is None else out.unionByName(leg)
        return out


_register_q381()
