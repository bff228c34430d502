"""Corpus-curation statistics: the second tier of training-data operators.

Where ``operators/text.py`` scores documents in isolation (language,
length, fingerprints) and ``operators/sampling.py`` picks subsets by pure
key hashes, this module covers the curation decisions that need *corpus
context* or *weights*:

- ``weighted_sample`` — inclusion probability proportional to a per-row
  weight (chars/tokens), the standard way to sample "by volume" rather
  than "by document" when mixing corpora. Map-only, deterministic
  (md5-bucket vs an integer threshold — no ``rand()``), and nested:
  raising the rate keeps every previously kept row.
- ``rarity_bands`` — a unigram-frequency proxy for perplexity filtering:
  each token's rarity is (corpus-max bit-length − its count's bit-length),
  a doc's band is its floor-average rarity. All-integer arithmetic, so the
  oracle is exact; the expensive join (occurrences ⨝ vocabulary) is the
  frequency-table join every LM-data pipeline runs, shuffling on the token
  or broadcasting the vocab when it fits.
- ``repetition_stats`` — the Gopher-style repetition rule (fraction of the
  doc covered by its most frequent bigram). Computed entirely map-side:
  bigrams are sorted per document and the max run length is found with one
  ``aggregate`` lambda — zero shuffle for the scoring pass, in contrast to
  the naive explode + groupBy(doc, gram) plan whose shuffle carries every
  bigram of a 100 TB corpus.
- ``zscore_outliers`` — per-group statistical outlier flags for numeric
  streams: two-pass (tiny exact-decimal moment aggregate, broadcast back).
- ``tfidf_top_terms`` — corpus-weighted term relevance per language. The
  idf ratio is computed from exact integer aggregates in one deterministic
  double division, so ranks are reproducible across engines and retries.
- ``normalized_text_key`` — canonicalization (lowercase, strip
  non-alphanumerics, collapse whitespace) whose md5 is the cluster key for
  "same text modulo formatting" dedup — the cheap tier between exact-hash
  and MinHash dedup.

The reference has no corpus surface at all (it is a row-at-a-time retail
ETL, etl_completo.py:1110-1186); this family belongs to the 100 TB
training-data mandate, alongside dedup/similarity/sampling.

Cross-engine contract notes: every aggregate the oracles hash is either an
exact integer (counts, id sums, bit-lengths, floor-divided permils) or a
double produced by one correctly-rounded IEEE operation on exact integers
(one division, one sqrt) — both engines are bit-identical on those, unlike
order-dependent double sums (see plans/queries.py ``dsum``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_globalretail_spark.operators.sampling import N_BUCKETS, _sql_bucket, hash_bucket
from etl_globalretail_spark.plans.queries import make_query_decorator
from etl_globalretail_spark.operators.ranks import global_topk
from etl_globalretail_spark.sources.readers import load_table, load_table_spread
from etl_globalretail_spark.sources.artifacts import materialize

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)


# ---------------------------------------------------------------------------
# Shared tokenization for corpus-frequency operators: lowercase pure-alpha
# whitespace tokens. (Whitespace-only tokenization for the repetition rule,
# which must see punctuation-bearing repeats too — each operator states its
# contract, and its oracle mirrors it exactly.)
# ---------------------------------------------------------------------------


def alpha_tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.trim(text)), r"\s+"),
        lambda t: t.rlike("^[a-z]+$"),
    )


_SQL_ALPHA_TOKENS = (
    "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
    " t -> regexp_full_match(t, '[a-z]+'))"
)


# ---------------------------------------------------------------------------
# Weighted (volume-proportional) sampling.
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    rate_per_unit: int,
    salt: str = "wsample",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Keep each row with probability min(weight × rate_per_unit / n_buckets, 1)
    — deterministic Bernoulli sampling proportional to a size weight.

    Sampling "by document" under-represents long documents when the unit of
    interest is tokens; weighting by size makes the expected *volume* of
    each stratum proportional to its corpus share. Pure map-side filter
    (hash bucket < integer threshold): reproducible under retries and
    incremental loads, and monotone in the rate (a higher-rate sample is a
    superset — bucket thresholds only move up).
    """
    thr = F.least(
        F.col(weight_col).cast("bigint") * rate_per_unit, F.lit(n_buckets)
    )
    return df.filter(hash_bucket(F.col(key_col), n_buckets, salt) < thr)


_Q88_RATE = 200  # p = 1 at n_chars ≥ 5000; p = n_chars/5000 below


@_register(
    "q88_weighted_sample",
    oracle=f"""
    WITH kept AS (
        SELECT lang, doc_id, n_chars FROM documents
        WHERE {_sql_bucket("doc_id", salt="wsample")}
              < LEAST(n_chars * {_Q88_RATE}, {N_BUCKETS})
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(k.doc_id) AS n_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids,
           CAST(COALESCE(SUM(k.n_chars), 0) AS BIGINT) AS kept_chars
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.lang
    """,
)
def q88_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-volume-proportional sample of the corpus, audited per language
    (kept ids + kept char volume pin exact membership). The sample is a
    map-only filter; only this audit aggregates."""
    d = load_table(spark, "documents", sf_dir)
    kept = weighted_sample(d, "doc_id", "n_chars", _Q88_RATE)
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    k = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return totals.join(k, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("sum_kept_ids", F.lit(0)).alias("sum_kept_ids"),
        F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# Unigram-frequency rarity bands (perplexity-proxy quality scoring).
# ---------------------------------------------------------------------------


def rarity_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Score each document by the average rarity of its tokens against the
    corpus unigram table, in bands of 0.1 average-rarity.

    rarity(token) = bitlen(max corpus count) − bitlen(count) — an integer
    ≈ log₂(max/count), so the doc score is a scaled negative-log-likelihood
    under a unigram model: exactly the quantity perplexity filters
    threshold, computable without any external LM and without any float.

    band(doc) = (Σ rarity × 10) div n_tokens  (floor tenths of avg rarity).

    Plan shape: explode → vocabulary aggregate → frequency join → per-doc
    aggregate. The vocabulary is orders of magnitude smaller than the
    occurrence stream (Zipf); Spark broadcasts it when it fits, else the
    join shuffles on the token — either way the occurrence stream is
    touched twice and never collected.
    """
    occ = docs.select(
        F.col(id_col).alias("doc"),
        "lang",
        F.explode(alpha_tokens(F.col("text"))).alias("tok"),
    )
    vocab = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    maxlen = vocab.agg(
        F.max(F.length(F.bin(F.col("cnt")))).alias("maxbits")
    )
    scored = (
        occ.join(vocab, "tok")
        .crossJoin(F.broadcast(maxlen))
        .select(
            "doc",
            "lang",
            (F.col("maxbits") - F.length(F.bin(F.col("cnt")))).alias("rarity"),
        )
    )
    return scored.groupBy("doc", "lang").agg(
        F.expr("(sum(rarity) * 10) div count(*)").alias("band"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@_register(
    "q89_rarity_bands",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id AS doc, lang, unnest({_SQL_ALPHA_TOKENS}) AS tok
        FROM documents
    ),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM occ GROUP BY tok),
    mx AS (SELECT MAX(length(bin(cnt))) AS maxbits FROM vocab),
    scored AS (
        SELECT o.doc, o.lang, mx.maxbits - length(bin(v.cnt)) AS rarity
        FROM occ o JOIN vocab v USING (tok) CROSS JOIN mx
    ),
    perdoc AS (
        SELECT doc, lang, (SUM(rarity) * 10) // COUNT(*) AS band
        FROM scored GROUP BY doc, lang
    )
    SELECT lang, CAST(band AS BIGINT) AS band,
           COUNT(*) AS n_docs,
           CAST(SUM(doc) AS BIGINT) AS sum_ids
    FROM perdoc GROUP BY lang, band
    """,
)
def q89_rarity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality histogram: documents per (lang, avg-rarity
    band) with id sums pinning exact band membership. Docs with zero alpha
    tokens are unscored (excluded), matching the oracle."""
    d = load_table(spark, "documents", sf_dir)
    per_doc = rarity_bands(d)
    return per_doc.groupBy("lang", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Repetition rule (Gopher): most-frequent-bigram coverage, map-side only.
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition score: (count of the most frequent word
    bigram × 1000) div (total bigrams) — the permil of the doc its top
    bigram covers. Docs with < 2 whitespace tokens are unscored.

    Zero-shuffle scoring: bigrams are built and *sorted within the row*,
    then the max run length of the sorted array (≡ max multiplicity) is
    found by one ``aggregate`` lambda — all inside whole-stage projection.
    The naive plan (explode → groupBy(doc, bigram) → max) shuffles every
    bigram of the corpus; this one shuffles nothing at all.
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bigrams = F.expr(
        "transform(sequence(0, size(__toks) - 2),"
        " i -> concat(__toks[i], ' ', __toks[i + 1]))"
    )
    max_run = F.expr(
        "aggregate(array_sort(__bg),"
        " struct(cast('' as string) as prev, 0L as run, 0L as best),"
        " (a, x) -> struct(x,"
        "              if(x = a.prev, a.run + 1, 1L),"
        "              greatest(a.best, if(x = a.prev, a.run + 1, 1L))),"
        " a -> a.best)"
    )
    return (
        docs.select(F.col(id_col).alias("doc"), "lang", toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .withColumn("__bg", bigrams)
        .select(
            "doc",
            "lang",
            F.size("__bg").cast("long").alias("n_grams"),
            max_run.alias("max_cnt"),
        )
        .withColumn("rep_permil", F.expr("(max_cnt * 1000) div n_grams"))
    )


_Q90_THRESHOLD = 100  # flag docs whose top bigram covers ≥ 10% of the doc


@_register(
    "q90_repetition_filter",
    oracle=f"""
    WITH base AS (
        SELECT doc_id AS doc, lang,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
        WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 2
    ),
    grams AS (
        SELECT doc, lang,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM base
    ),
    counted AS (
        SELECT doc, lang, bg, COUNT(*) AS c FROM grams GROUP BY doc, lang, bg
    ),
    perdoc AS (
        SELECT doc, lang,
               (MAX(c) * 1000) // SUM(c) AS rep_permil
        FROM counted GROUP BY doc, lang
    )
    SELECT lang,
           COUNT(*) AS n_scored,
           CAST(SUM(CASE WHEN rep_permil >= {_Q90_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(COALESCE(SUM(CASE WHEN rep_permil >= {_Q90_THRESHOLD}
                                  THEN doc END), 0) AS BIGINT)
               AS sum_flagged_ids
    FROM perdoc GROUP BY lang
    """,
)
def q90_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter audit: per language, how many docs
    are flagged for top-bigram coverage ≥ 10%, with id sums pinning the
    flagged set. The scoring pass itself is shuffle-free (see
    repetition_stats); only this audit aggregates."""
    d = load_table_spread(spark, "documents", sf_dir)
    scored = repetition_stats(d)
    flagged = F.col("rep_permil") >= _Q90_THRESHOLD
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
        F.coalesce(
            F.sum(F.when(flagged, F.col("doc"))), F.lit(0)
        ).alias("sum_flagged_ids"),
    )


# ---------------------------------------------------------------------------
# Per-group z-score outliers over a numeric stream.
# ---------------------------------------------------------------------------


def zscore_outliers(
    df: DataFrame, group_col: str, value_col: str, k: float = 3.0
) -> DataFrame:
    """Flag rows whose value is > k standard deviations from their group
    mean. Two passes: the per-group moment aggregate (n, Σv, Σv²) collapses
    to |groups| rows and is broadcast back onto the stream — no window over
    raw rows, no second shuffle of the data.

    Moments are summed as exact decimals (order-independent); mean and
    stddev come out of them via single correctly-rounded double ops, so the
    flags are deterministic and oracle-matchable (population stddev).
    """
    v = F.col(value_col)
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v.cast("decimal(27,6)")).alias("__sv"),
        F.sum((v * v).cast("decimal(27,6)")).alias("__svv"),
    )
    mean = F.col("__sv").cast("double") / F.col("__n")
    meansq = F.col("__svv").cast("double") / F.col("__n")
    enriched = df.join(F.broadcast(stats), group_col).withColumn(
        "__mean", mean
    ).withColumn("__std", F.sqrt(meansq - mean * mean))
    return (
        enriched.withColumn(
            "is_outlier",
            F.abs(v - F.col("__mean")) > F.lit(k) * F.col("__std"),
        )
        .drop("__n", "__sv", "__svv", "__mean", "__std")
    )


@_register(
    "q91_event_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(27,6))) AS sv,
               SUM(CAST(value * value AS DECIMAL(27,6))) AS svv
        FROM events GROUP BY event_type
    ),
    flagged AS (
        SELECT e.event_type, e.event_id,
               ABS(e.value - CAST(s.sv AS DOUBLE) / s.n)
                   > 3.0 * sqrt(CAST(s.svv AS DOUBLE) / s.n
                                - (CAST(s.sv AS DOUBLE) / s.n)
                                  * (CAST(s.sv AS DOUBLE) / s.n))
                   AS is_out
        FROM events e JOIN stats s USING (event_type)
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(COALESCE(SUM(CASE WHEN is_out THEN event_id END), 0) AS BIGINT)
               AS sum_outlier_ids
    FROM flagged GROUP BY event_type
    """,
)
def q91_event_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical anomaly flags on the events stream: per event type,
    count and id-sum of >3σ outliers — the numeric-column face of quality
    filtering (bad sensor rows, corrupted values) before training joins."""
    e = load_table(spark, "events", sf_dir)
    out = zscore_outliers(e, "event_type", "value", 3.0)
    is_out = F.col("is_outlier")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.coalesce(
            F.sum(F.when(is_out, F.col("event_id"))), F.lit(0)
        ).alias("sum_outlier_ids"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per language.
# ---------------------------------------------------------------------------


def tfidf_top_terms(docs: DataFrame, top_k: int = 5) -> DataFrame:
    """Top-k most corpus-distinctive terms per language by TF-IDF.

    score(lang, term) = total_tf(lang, term) × N / df(term), computed as
    exactly two IEEE double ops over exact integer aggregates (product then
    division) — bit-identical across engines and retries, so the ranking
    (score DESC, term ASC) is stable. Document frequency is corpus-wide, so
    terms common everywhere (stopwords) rank low in every language.

    Plan: one explode feeds both the (lang, term) tf aggregate and the
    per-term df aggregate; df is VOCABULARY-sized (sub-linear by Heaps'
    law but unbounded), so no broadcast hint — the equi-join on tok lets
    AQE pick broadcast at small SF and shuffle-hash at corpus scale (the
    ADVICE-r6 stance on data-sized broadcasts); the final rank is a
    window over |vocab × langs| aggregated rows with a rank≤k filter
    Spark rewrites into a per-group heap limit.
    """
    occ = docs.select(
        F.col("doc_id").alias("doc"),
        "lang",
        F.explode(alpha_tokens(F.col("text"))).alias("tok"),
    )
    n_docs = occ.select("doc").distinct().count()
    tf = occ.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("total_tf"))
    df_ = occ.groupBy("tok").agg(F.countDistinct("doc").alias("df"))
    scored = tf.join(df_, "tok").withColumn(
        "score",
        (F.col("total_tf").cast("double") * F.lit(float(n_docs)))
        / F.col("df").cast("double"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("lang", F.col("tok").alias("term"), "total_tf", "df", "score", "rank")
    )


@_register(
    "q92_tfidf_terms",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id AS doc, lang, unnest({_SQL_ALPHA_TOKENS}) AS tok
        FROM documents
    ),
    n AS (SELECT COUNT(DISTINCT doc) AS n_docs FROM occ),
    tf AS (SELECT lang, tok, COUNT(*) AS total_tf FROM occ GROUP BY lang, tok),
    dfreq AS (SELECT tok, COUNT(DISTINCT doc) AS df FROM occ GROUP BY tok),
    scored AS (
        SELECT tf.lang, tf.tok, tf.total_tf, dfreq.df,
               (CAST(tf.total_tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
                   / CAST(dfreq.df AS DOUBLE) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY score DESC, tok ASC) AS rank
        FROM scored
    )
    SELECT lang, tok AS term, CAST(total_tf AS BIGINT) AS total_tf,
           CAST(df AS BIGINT) AS df, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q92_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language — the corpus-relevance face of text
    analysis (which terms characterize each language slice against the
    whole corpus)."""
    d = load_table_spread(spark, "documents", sf_dir)
    return tfidf_top_terms(d, top_k=5)


# ---------------------------------------------------------------------------
# Normalized-text dedup (canonicalization tier between exact and MinHash).
# ---------------------------------------------------------------------------


def normalized_text_key(text: Column) -> Column:
    """Canonical form for formatting-insensitive dedup: lowercase, strip
    every character outside [a-z0-9 ], collapse whitespace runs, trim.
    md5 of this is the cluster key — catches re-encoded/re-wrapped copies
    that exact-hash dedup misses, at zero similarity-join cost."""
    canon = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    canon = F.trim(F.regexp_replace(canon, " +", " "))
    return F.md5(canon)


@_register(
    "q93_normalized_dedup",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS k
        FROM documents
    ),
    clusters AS (
        SELECT lang, k, COUNT(*) AS sz, MIN(doc_id) AS keeper
        FROM keyed GROUP BY lang, k
    )
    SELECT lang,
           COUNT(*) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT)
               AS n_in_dup_clusters,
           CAST(SUM(keeper) AS BIGINT) AS sum_keeper_ids
    FROM clusters GROUP BY lang
    """,
)
def q93_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formatting-insensitive dedup audit: cluster documents per language by
    normalized-text md5; report cluster counts, docs in multi-doc clusters,
    and keeper (min-id) sums pinning the exact clustering."""
    d = load_table(spark, "documents", sf_dir)
    keyed = d.select("lang", "doc_id", normalized_text_key(F.col("text")).alias("k"))
    clusters = keyed.groupBy("lang", "k").agg(
        F.count(F.lit(1)).alias("sz"), F.min("doc_id").alias("keeper")
    )
    return clusters.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
        F.sum(F.when(F.col("sz") > 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_in_dup_clusters"),
        F.sum("keeper").alias("sum_keeper_ids"),
    )


# ---------------------------------------------------------------------------
# Temperature-balanced mixture sampling (α = 0.5 source rebalancing).
# ---------------------------------------------------------------------------

_Q126_BUDGET = 200  # target corpus size after rebalancing (sf0.01 ≈ 40%)


def temperature_mixture_rates(
    docs: DataFrame, source_col: str = "source"
) -> DataFrame:
    """Per-source keep-rates implementing temperature-α=0.5 mixture
    rebalancing: expected kept docs per source ∝ √n_source (rare sources
    upweighted relative to volume, dominant sources downweighted) with a
    total expected budget of ``_Q126_BUDGET``.

    rate_s = B / (√n_s · Σ_t √n_t), capped at 1 (no duplication).

    Cross-engine determinism: √ is IEEE-correctly-rounded (the ONE libm
    function both engines must agree on bit-for-bit — pow/log/exp are
    not), quantized to an exact int (floor·1e6) before the exact-int sum
    Σ√, so no float accumulation order anywhere; the final rate is one
    double division of exactly-representable operands, and the keep
    threshold is its floor against the md5 bucket space.
    """
    spark = docs.sparkSession
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n"))
    qs = counts.withColumn(
        "q", F.floor(F.sqrt(F.col("n")) * F.lit(1000000.0)).cast("long")
    )
    # Σ√ is one exact integer — a driver-side scalar (|sources| rows),
    # the same kilobyte-scale synchronization point as IVF's probe choice.
    s_total = qs.agg(F.sum("q")).collect()[0][0]
    rate = F.least(
        F.lit(float(_Q126_BUDGET) * 1e12)
        / (F.col("q").cast("double") * F.lit(float(s_total))),
        F.lit(1.0),
    )
    return qs.select(
        source_col,
        "n",
        F.floor(rate * F.lit(float(N_BUCKETS))).cast("long").alias("thr"),
    )


@_register(
    "q126_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    qs AS (
        SELECT source, n,
               CAST(FLOOR(SQRT(n) * 1000000.0) AS BIGINT) AS q
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(q) AS BIGINT) AS s FROM qs),
    rates AS (
        SELECT source, n,
               CAST(FLOOR(LEAST(
                   CAST({_Q126_BUDGET} AS DOUBLE) * 1e12
                       / (CAST(q AS DOUBLE) * CAST(s AS DOUBLE)),
                   1.0) * {N_BUCKETS}) AS BIGINT) AS thr
        FROM qs, tot
    ),
    kept AS (
        SELECT d.source, d.doc_id
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {_sql_bucket("d.doc_id", salt="tmix")} < r.thr
    )
    SELECT r.source, CAST(r.n AS BIGINT) AS n_docs, r.thr,
           COUNT(k.doc_id) AS n_kept,
           CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS sum_kept_ids
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    GROUP BY r.source, r.n, r.thr
    """,
)
def q126_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-α=0.5 mixture rebalancing audit: per source, the keep
    threshold and the id-pinned kept set. The policy every multi-source
    training mix needs — q88 samples ∝ volume (bigger docs win), q48 caps
    hard quotas; this SMOOTHS the source distribution toward uniform
    (expected kept ∝ √n) without starving dominant sources entirely.

    Scale notes: the rate table is |sources| rows (broadcast); the keep
    decision is a map-only md5-bucket filter — no shuffle of the corpus;
    only the audit aggregates. The oracle recomputes rates and membership
    independently in SQL.
    """
    d = load_table(spark, "documents", sf_dir)
    rates = temperature_mixture_rates(d, "source")
    kept = d.join(
        F.broadcast(rates.select("source", "thr")), "source"
    ).filter(hash_bucket(F.col("doc_id"), N_BUCKETS, "tmix") < F.col("thr"))
    k = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("sum_kept_ids"),
    )
    return (
        rates.join(k, "source", "left")
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "thr",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("sum_kept_ids", F.lit(0)).alias("sum_kept_ids"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span fraction (exact-substring-dedup signal, Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" approximated at
# fixed word-window granularity, as RefinedWeb/Gopher do for dup_{n-gram}
# quality signals). The reference has no corpus surface (etl_completo.py is
# row-at-a-time retail ETL); this belongs to the 100 TB training-data
# mandate.
# ---------------------------------------------------------------------------

_SPAN_K = 5


def span_hashes(text: Column, k: int = _SPAN_K) -> Column:
    """All OVERLAPPING k-word span md5s of a document, positionally — unlike
    ``word_shingles`` (distinct sets for Jaccard), this keeps one entry per
    position so per-document *coverage* fractions are well-defined."""
    toks = F.split(F.trim(text), r"\s+")
    n = F.size(toks)
    spans = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.md5(F.concat_ws("\x1f", F.slice(toks, i, k))),
    )
    return F.when(n >= k, spans).otherwise(F.array().cast("array<string>"))


def dup_span_stats(docs: DataFrame, id_col: str, text_col: str,
                   k: int = _SPAN_K) -> DataFrame:
    """Per-document duplicated-span statistics: how much of each document is
    covered by k-word spans that ALSO appear in some other document.

    Plan shape (scale-first): explode positional spans → ONE shuffle on the
    span hash where a window min/max-over-partition marks cross-document
    spans (no countDistinct, no second join back to a grouped frame — the
    flag rides the same exchange) → ONE shuffle back to the document grain.
    At 100 TB the span exchange is the cost; it carries (doc_id, 16-byte
    md5) pairs only, never the text.
    """
    spans = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(span_hashes(F.col(text_col), k)).alias("h"),
    )
    w = Window.partitionBy("h")
    flagged = spans.select(
        "doc",
        (F.min("doc").over(w) != F.max("doc").over(w)).cast("long").alias("dup"),
    )
    census = flagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dup").alias("dup_spans"),
    )
    return (
        docs.select(F.col(id_col).alias("doc"))
        .join(census, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0)
            ).otherwise(
                F.expr("(coalesce(dup_spans, 0) * 1000) div n_spans")
            ).cast("long").alias("dup_permil"),
        )
    )


@_register(
    "q139_dup_span_fraction",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    dd AS (SELECT doc_id, len(toks) AS n_toks, toks FROM d),
    pos AS (
        SELECT doc_id, toks,
               unnest(range(1, CAST(n_toks AS BIGINT) - {_SPAN_K - 2})) AS i
        FROM dd
    ),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_SPAN_K - 1}],
                                   chr(31))) AS h
        FROM pos
    ),
    flagged AS (
        SELECT doc_id,
               CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                         <> MAX(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS dup
        FROM spans
    ),
    census AS (
        SELECT doc_id, COUNT(*) AS n_spans, SUM(dup) AS dup_spans
        FROM flagged GROUP BY doc_id
    )
    SELECT dd.doc_id,
           CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(c.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(CASE WHEN COALESCE(c.n_spans, 0) = 0 THEN 0
                     ELSE (COALESCE(c.dup_spans, 0) * 1000) // c.n_spans
                END AS BIGINT) AS dup_permil
    FROM dd LEFT JOIN census c ON dd.doc_id = c.doc_id
    """,
)
def q139_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated {k}-word-span coverage per document: the dup_ngram_frac
    signal of RefinedWeb/Gopher-style filtering, and the fixed-window
    approximation of exact-substring dedup. A span is "duplicated" iff it
    occurs in ≥2 distinct documents; each doc reports span count, duplicated
    span count, and the per-mil coverage (integer floor — portable).

    The oracle replays the identical md5-span pipeline in DuckDB (same
    window-over-hash trick); integer permil via // ≡ Spark's div on
    non-negative ints.
    """
    d = load_table_spread(spark, "documents", sf_dir)
    return dup_span_stats(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# BPE-style adjacent-pair frequency scan: the inner statistic of byte-pair-
# encoding tokenizer training (Sennrich et al. 2016). One merge round =
# "count all adjacent symbol pairs corpus-wide, take the argmax"; this
# operator is that counting pass (top-k, total-ordered), which at 100 TB is
# a classic map-side-explode + one-key-shuffle wordcount shape.
# ---------------------------------------------------------------------------


def adjacent_char_pairs(word: Column) -> Column:
    """All adjacent character bigrams of a word (positional, overlapping).
    1-char and empty words yield no pairs."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(word) - 1, F.lit(1))),
        lambda i: word.substr(i, F.lit(2)),
    )
    return F.filter(pairs, lambda p: F.length(p) == 2)


@_register(
    "q140_bpe_pair_counts",
    oracle="""
    WITH w AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ),
    pos AS (
        SELECT w, unnest(range(1, CAST(length(w) AS BIGINT))) AS i FROM w
    ),
    p AS (SELECT substr(w, CAST(i AS BIGINT), 2) AS pair FROM pos),
    c AS (SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair),
    ranked AS (
        SELECT pair, CAST(cnt AS BIGINT) AS cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
                   AS rank
        FROM c
    )
    SELECT pair, cnt, rank FROM ranked WHERE rank <= 20
    """,
)
def q140_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent character-pair counts, top-20 total-ordered
    (count desc, pair asc) — one BPE merge-selection round. Pure integer
    counts over exact strings: trivially cross-engine.

    Scale notes: the pair explode is map-side; the single shuffle carries
    (2-char key, partial count) thanks to partial aggregation — the
    canonical wordcount shape whose combiner reduces 100 TB of pair
    occurrences to |alphabet|² grouped rows per partition before exchange.
    Top-k via rank over the tiny grouped frame.
    """
    d = load_table_spread(spark, "documents", sf_dir)
    words = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    pairs = words.select(F.explode(adjacent_char_pairs(F.col("w"))).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    # bounded top-k (TakeOrderedAndProject + rank over <= 20 rows)
    return global_topk(
        counts, [("cnt", "desc"), ("pair", "asc")], 20, out="rank"
    ).select(
        "pair",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier detection — the heavy-tail-safe sibling of
# zscore_outliers (q91): mean/stddev are dragged by the very outliers they
# are meant to flag; median ± k·MAD is not. Exact lower-median order
# statistics (the q58 discrete-percentile recipe), so the flags are
# cross-engine deterministic — no interpolation, no FP accumulation.
# ---------------------------------------------------------------------------


def mad_outlier_census(
    df: DataFrame, group_col: str, value_col: str, k: float = 3.0
) -> DataFrame:
    """Per-group robust dispersion census: exact lower median, exact lower
    median of absolute deviations (MAD), and how many rows fall outside
    median ± k·MAD.

    Plan: two window passes partitioned by the group (the second over the
    deviation column), each reduced to a |groups|-row frame broadcast back
    — the grain never leaves the group partitioning, and the only
    arithmetic on doubles is subtraction/comparison (exact) plus the final
    k·MAD product (one correctly-rounded multiply).
    """
    w_ord = Window.partitionBy(group_col).orderBy(value_col)
    w_all = Window.partitionBy(group_col)
    med = (
        df.select(
            group_col,
            F.col(value_col).alias("__v"),
            F.row_number().over(w_ord.orderBy(F.col(value_col))).alias("__rn"),
            F.count(F.lit(1)).over(w_all).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(group_col, F.col("__v").alias("__med"), "__n")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("__med"))
    )
    w_dev = Window.partitionBy(group_col).orderBy("__dev")
    mad = (
        dev.select(
            group_col,
            "__dev",
            F.row_number().over(w_dev).alias("__rn"),
            F.count(F.lit(1)).over(w_all).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(group_col, F.col("__dev").alias("__mad"))
    )
    flagged = dev.join(F.broadcast(mad), group_col).withColumn(
        "__is_out", F.col("__dev") > F.lit(k) * F.col("__mad")
    )
    return flagged.groupBy(group_col).agg(
        F.max("__med").alias("median"),
        F.max("__mad").alias("mad"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__is_out").cast("long")).alias("n_outliers"),
    )


@_register(
    "q146_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, value AS m
        FROM (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT e.event_type, e.value, ABS(e.value - med.m) AS d, med.m
        FROM events e JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, d AS mad
        FROM (
            SELECT event_type, d,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT dev.event_type,
           MAX(dev.m) AS median,
           MAX(mad.mad) AS mad,
           COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN dev.d > 3.0 * mad.mad
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def q146_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier census: median, MAD (both exact lower
    medians — order statistics, not interpolation) and the count of events
    outside median ± 3·MAD. The distribution-skew-proof data-quality gate
    to q91's moment-based z-scores; identical median selection replayed in
    the oracle's window form.
    """
    e = load_table(spark, "events", sf_dir).select("event_type", "value")
    return mad_outlier_census(e, "event_type", "value")


# ---------------------------------------------------------------------------
# q157 — grouped-aggregate pandas UDF (the UDAF surface): exact WEIGHTED
# lower median, an aggregate Spark has no built-in for (percentile_approx
# is unweighted and approximate). Completes the Python-surface taxonomy:
# scalar pandas_udf (clean_text_exact), grouped map (q155), UDTF (q131),
# arbitrary stateful (transformWithState) — and now grouped agg. The
# kernel is order-statistic selection on integer weights, so a window-SQL
# replay certifies it bit-for-bit.
# ---------------------------------------------------------------------------


def weighted_median_udf():
    """pandas GROUPED_AGG UDAF: smallest value v whose cumulative weight
    (values ascending) reaches half the total — the exact weighted lower
    median. Integer weights; ties in v collapse naturally (same v)."""
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: this module uses
    # `from __future__ import annotations`, which stringifies signature
    # annotations and defeats pandas_udf's type inference.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmedian(v, w):
        f = pd.DataFrame({"v": v, "w": w}).sort_values("v")
        cw = f["w"].cumsum()
        tot = int(f["w"].sum())
        hit = f["v"][(2 * cw) >= tot]
        return float(hit.iloc[0])

    return wmedian


@_register(
    "q157_weighted_median_udaf",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS v,
               CAST(FLOOR(l_quantity) AS BIGINT) AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT flag, v, wt,
               SUM(wt) OVER (
                   PARTITION BY flag ORDER BY v
                   ROWS UNBOUNDED PRECEDING
               ) AS cw,
               SUM(wt) OVER (PARTITION BY flag) AS tot
        FROM w
    ),
    med AS (
        SELECT flag, MIN(v) AS wmedian
        FROM cum WHERE 2 * cw >= tot GROUP BY flag
    )
    SELECT m.flag AS l_returnflag,
           (SELECT COUNT(*) FROM w WHERE w.flag = m.flag) AS n_rows,
           CAST((SELECT SUM(wt) FROM w WHERE w.flag = m.flag) AS BIGINT)
               AS total_weight,
           m.wmedian
    FROM med m
    """,
)
def q157_weighted_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag, computed by the
    pandas GROUPED_AGG UDAF and hash-matched against the cumulative-weight
    window SQL. The weighted median answers "the price at which half the
    VOLUME trades" — the unweighted median (q58 machinery) misweights
    multi-unit lines.

    Scale notes: grouped-agg pandas UDFs don't do partial aggregation —
    each group's full column pair crosses to Python. Fine at |groups|
    ≪ rows with bounded group width; the pure-SQL window form (the
    oracle's shape) is the escape hatch when groups are huge. That
    trade-off is the documented cost of the UDAF surface.
    """
    li = load_table(spark, "lineitem", sf_dir)
    wmedian = weighted_median_udf()
    base = li.select(
        F.col("l_returnflag"),
        F.col("l_extendedprice").alias("v"),
        F.floor(F.col("l_quantity")).cast("long").alias("wt"),
    )
    # Grouped-agg pandas UDFs can't share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT): run the two aggregations separately
    # and broadcast-join the |flags|-row results.
    med = base.groupBy("l_returnflag").agg(
        wmedian(F.col("v"), F.col("wt")).alias("wmedian")
    )
    stats = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("wt").cast("long").alias("total_weight"),
    )
    return stats.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "n_rows", "total_weight", "wmedian"
    )


# ---------------------------------------------------------------------------
# q160 — winsorized aggregation: clip each group's values at its exact
# p05/p95 order statistics before summing — the standard way to make a
# revenue/metric total robust to fat-finger outliers without dropping
# rows. Boundaries are ACTUAL data values (q58's discrete-percentile
# recipe: rank ⌈p·n⌉, no interpolation), clipping is pure comparison, and
# the winsorized total uses the exact-decimal sum — everything portable.
# ---------------------------------------------------------------------------


def winsorize_census(
    df: DataFrame, group_col: str, value_col: str,
    lo_pct: int = 5, hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization report: bounds, clipped-row counts, raw and
    winsorized exact-decimal sums. Two passes: one windowed rank pass
    reduced to a |groups|-row bounds frame (broadcast back), one scoring
    pass."""
    w_all = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        F.col(value_col).alias("__v"),
        F.row_number().over(
            Window.partitionBy(group_col).orderBy(F.col(value_col))
        ).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    bounds = (
        ranked.filter(
            (F.col("__rn") == F.expr(f"greatest(({lo_pct} * __n + 99) div 100, 1)"))
            | (F.col("__rn") == F.expr(f"greatest(({hi_pct} * __n + 99) div 100, 1)"))
        )
        .groupBy(group_col)
        .agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    )
    scored = df.join(F.broadcast(bounds), group_col).select(
        group_col,
        F.col(value_col).alias("__v"),
        "__lo", "__hi",
        F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
        .alias("__w"),
    )
    return scored.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("__v") < F.col("__lo")).cast("long")).alias("n_clip_lo"),
        F.sum((F.col("__v") > F.col("__hi")).cast("long")).alias("n_clip_hi"),
        F.max("__lo").alias("lo_bound"),
        F.max("__hi").alias("hi_bound"),
        F.sum(F.col("__v").cast("decimal(27,6)")).cast("double").alias("raw_sum"),
        F.sum(F.col("__w").cast("decimal(27,6)")).cast("double").alias("wins_sum"),
    )


@_register(
    "q160_winsorized_totals",
    oracle="""
    WITH ranked AS (
        SELECT event_type, value AS v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value)
                   AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    bounds AS (
        SELECT event_type, MIN(v) AS lo, MAX(v) AS hi
        FROM ranked
        WHERE rn = GREATEST((5 * n + 99) // 100, 1)
           OR rn = GREATEST((95 * n + 99) // 100, 1)
        GROUP BY event_type
    ),
    scored AS (
        SELECT e.event_type, e.value AS v, b.lo, b.hi,
               LEAST(GREATEST(e.value, b.lo), b.hi) AS w
        FROM events e JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_lo,
           CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_hi,
           MAX(lo) AS lo_bound,
           MAX(hi) AS hi_bound,
           CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE) AS raw_sum,
           CAST(SUM(CAST(w AS DECIMAL(27,6))) AS DOUBLE) AS wins_sum
    FROM scored GROUP BY event_type
    """,
)
def q160_winsorized_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized value totals per event type: p05/p95 exact-order-stat
    clipping with clip censuses and raw-vs-winsorized exact sums."""
    e = load_table(spark, "events", sf_dir).select("event_type", "value")
    return winsorize_census(e, "event_type", "value")


# ---------------------------------------------------------------------------
# q164 — feature hashing (the "hashing trick", Weinberger et al. 2009):
# categorical features → fixed-width index space via a hash, no vocabulary
# pass, no fit/transform state — THE encoder for streaming/100 TB feature
# pipelines where a dictionary would itself be a shuffle + a sync point.
# md5-based slot assignment so the oracle replays the identical encoding;
# signed hashing (±1 by one hash bit) keeps collision bias zero-mean, as
# in the original paper and sklearn's FeatureHasher.
# ---------------------------------------------------------------------------

_FH_DIM = 32


def _fh_slot_sign(c: str, dim: int):
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("=", F.lit(c), F.col(c).cast("string"))), 1, 15
        ),
        16, 10,
    ).cast("bigint")
    slot = h % dim
    # sign bit = (h // dim) % 2, computed with INTEGER bit ops: h/dim as a
    # double loses the low bits of a 60-bit hash and corrupts the parity.
    assert dim & (dim - 1) == 0, "dim must be a power of two"
    bit = dim.bit_length() - 1
    sign = F.when(
        F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return slot, sign


@_register(
    "q164_feature_hashing",
    oracle=f"""
    WITH feats AS (
        SELECT CAST('0x' || substr(md5('event_type=' || event_type), 1, 15)
                    AS BIGINT) AS h
        FROM events
        UNION ALL
        SELECT CAST('0x' || substr(md5('lang=' || lang), 1, 15) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT CAST('0x' || substr(md5('source=' || source), 1, 15) AS BIGINT)
        FROM documents
    )
    SELECT h % {_FH_DIM} AS slot,
           COUNT(*) AS n_hits,
           CAST(SUM(CASE WHEN (h // {_FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END)
                AS BIGINT) AS signed_sum
    FROM feats GROUP BY slot
    """,
)
def q164_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick encoding of three categorical features (event type,
    document language, document source) into a {dim}-slot space: per slot,
    raw occurrence count and the signed (±1) sum — the zero-mean encoding
    actually used downstream. No vocabulary job exists anywhere in the
    plan; the map-side hash IS the encoder."""
    e = load_table(spark, "events", sf_dir)
    d = load_table_spread(spark, "documents", sf_dir)

    def enc(df, col):
        slot, sign = _fh_slot_sign(col, _FH_DIM)
        return df.select(slot.alias("slot"), sign.alias("sign"))

    feats = (
        enc(e.select(F.col("event_type").alias("event_type")), "event_type")
        .unionAll(enc(d.select("lang"), "lang"))
        .unionAll(enc(d.select("source"), "source"))
    )
    return feats.groupBy("slot").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("sign").cast("long").alias("signed_sum"),
    )


# ---------------------------------------------------------------------------
# q165 — group-statistic imputation: fill missing numeric values with
# their group's exact lower median — the robust default for feature
# pipelines (mean imputation drags toward outliers; global stats leak
# across strata). Missingness is synthesized deterministically
# (event_id % 7) because the testdata ships NULL-free; the operator
# itself is the real product.
# ---------------------------------------------------------------------------


def impute_group_median(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Replace NULLs in ``value_col`` with the group's exact lower median
    of the non-null values: one windowed rank pass on the non-null subset
    reduced to |groups| rows, broadcast back — no window over the full
    stream, no approx quantiles."""
    nn = df.filter(F.col(value_col).isNotNull())
    med = (
        nn.select(
            group_col,
            F.col(value_col).alias("__v"),
            F.row_number().over(
                Window.partitionBy(group_col).orderBy(F.col(value_col))
            ).alias("__rn"),
            F.count(F.lit(1)).over(
                Window.partitionBy(group_col)
            ).alias("__n"),
        )
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(group_col, F.col("__v").alias("__med"))
    )
    return (
        df.join(F.broadcast(med), group_col, "left")
        .withColumn(value_col, F.coalesce(F.col(value_col), F.col("__med")))
        .drop("__med")
    )


@_register(
    "q165_median_imputation",
    oracle="""
    WITH holes AS (
        SELECT event_type, event_id,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type, v AS m FROM (
            SELECT event_type, v,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM holes WHERE v IS NOT NULL
        ) WHERE rn = (n + 1) // 2
    )
    SELECT h.event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN h.v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_imputed,
           MAX(med.m) AS fill_value,
           CAST(SUM(CAST(COALESCE(h.v, med.m) AS DECIMAL(27,6))) AS DOUBLE)
               AS imputed_sum
    FROM holes h JOIN med ON h.event_type = med.event_type
    GROUP BY h.event_type
    """,
)
def q165_median_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation census per event type over a deterministically
    holed value column: rows, imputations, the fill value used, and the
    decimal-exact post-imputation sum."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type", "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("v"),
    )
    filled = impute_group_median(e, "event_type", "v")
    missing = F.col("event_id") % 7 == 0
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(missing.cast("long")).alias("n_imputed"),
        F.max(F.when(missing, F.col("v"))).alias("fill_value"),
        F.sum(F.col("v").cast("decimal(27,6)")).cast("double")
        .alias("imputed_sum"),
    )


# ---------------------------------------------------------------------------
# q172 — distribution drift between two strata, exactly: the L1 (total
# variation ×2) distance between normalized histograms, computed in PURE
# INTEGERS by cross-multiplying the counts (|c1·N2 − c2·N1| summed, then
# ONE division by N1·N2 at the very end). The drift gate every ingest
# pipeline wants — "does today's length distribution match yesterday's?"
# — without the non-portable log of KL/PSI.
# ---------------------------------------------------------------------------

_Q172_BIN = 100  # n_chars bin width


def histogram_drift(
    df: DataFrame, stratum_col: str, a, b, value_col: str,
    bin_width: int,
) -> DataFrame:
    """Per-bin drift frame between strata ``a`` and ``b`` of one column:
    counts, the exact integer cross term |c_a·N_b − c_b·N_a|, and the
    scaled L1 total attached to every row (integer window sum; one double
    division). l1 ∈ [0, 2]; 0 = identical distributions."""
    binned = df.select(
        F.col(stratum_col).alias("__s"),
        F.floor(F.col(value_col) / bin_width).cast("long").alias("bin"),
    ).filter(F.col("__s").isin(a, b))
    counts = binned.groupBy("bin").agg(
        F.sum((F.col("__s") == a).cast("long")).alias("c_a"),
        F.sum((F.col("__s") == b).cast("long")).alias("c_b"),
    )
    w = Window.partitionBy()
    na = F.sum("c_a").over(w)
    nb = F.sum("c_b").over(w)
    cross = F.abs(F.col("c_a") * nb - F.col("c_b") * na)
    return counts.select(
        "bin", "c_a", "c_b",
        cross.cast("long").alias("cross_term"),
        (
            F.sum(cross).over(w).cast("double")
            / (na * nb).cast("double")
        ).alias("l1_distance"),
    )


@_register(
    "q172_length_drift",
    oracle=f"""
    WITH binned AS (
        SELECT lang AS s, CAST(FLOOR(n_chars / {_Q172_BIN}) AS BIGINT) AS bin
        FROM documents WHERE lang IN ('en', 'de')
    ),
    counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN s = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        FROM binned GROUP BY bin
    ),
    t AS (
        SELECT bin, c_a, c_b,
               SUM(c_a) OVER () AS na, SUM(c_b) OVER () AS nb,
               ABS(c_a * (SUM(c_b) OVER ()) - c_b * (SUM(c_a) OVER ()))
                   AS cross_term
        FROM counts
    )
    SELECT bin, c_a, c_b,
           CAST(cross_term AS BIGINT) AS cross_term,
           CAST(SUM(cross_term) OVER () AS DOUBLE)
               / CAST(na * nb AS DOUBLE) AS l1_distance
    FROM t
    """,
)
def q172_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution drift between the 'en' and 'de'
    strata: per-100-char-bin counts, integer cross terms, and the exact
    scaled L1 distance (identical on every row)."""
    d = load_table(spark, "documents", sf_dir)
    return histogram_drift(d, "lang", "en", "de", "n_chars", _Q172_BIN)


# ---------------------------------------------------------------------------
# q173 — exact two-sample Kolmogorov-Smirnov statistic, same integer
# discipline as q172: KS = max over the merged support of
# |cum_a·N_b − cum_b·N_a| / (N_a·N_b). Group by distinct value FIRST so
# ties contribute their full mass before the ECDF is compared (the
# classical definition); cumulative sums ride one value-ordered window;
# the division happens once, on the final maximum.
# ---------------------------------------------------------------------------


def ks_statistic(
    df: DataFrame, stratum_col: str, a, b, value_col: str
) -> DataFrame:
    """One-row frame: sample sizes, the integer KS numerator, and the KS
    statistic for strata ``a`` vs ``b`` of one numeric column."""
    counts = (
        df.filter(F.col(stratum_col).isin(a, b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum((F.col(stratum_col) == a).cast("long")).alias("c_a"),
            F.sum((F.col(stratum_col) == b).cast("long")).alias("c_b"),
        )
    )
    # two-phase distributed prefix sums over the value total order (the
    # ECDF grain is value-domain-sized); grand totals ride the carry job
    from etl_globalretail_spark.operators.ranks import global_prefix_sums

    cum0, tot = global_prefix_sums(counts, [("v", "asc")], ["c_a", "c_b"])
    cum = cum0.select(
        F.col("c_a_cum").alias("ca"),
        F.col("c_b_cum").alias("cb"),
        F.lit(tot["c_a"]).cast("long").alias("na"),
        F.lit(tot["c_b"]).cast("long").alias("nb"),
    )
    return cum.groupBy().agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
        .cast("long").alias("ks_numerator"),
    ).select(
        "n_a", "n_b", "ks_numerator",
        (F.col("ks_numerator").cast("double")
         / (F.col("n_a") * F.col("n_b")).cast("double")).alias("ks"),
    )


@_register(
    "q173_length_ks_test",
    oracle="""
    WITH counts AS (
        SELECT n_chars AS v,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_a,
               CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_b
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY v
    ),
    cum AS (
        SELECT SUM(c_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(c_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
               SUM(c_a) OVER () AS na,
               SUM(c_b) OVER () AS nb
        FROM counts
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(MAX(ABS(ca * nb - cb * na)) AS BIGINT) AS ks_numerator,
           CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
               / CAST(MAX(na) * MAX(nb) AS DOUBLE) AS ks
    FROM cum
    """,
)
def q173_length_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KS statistic for document length, 'en' vs 'de' — the
    rank-based drift test that needs no binning choice (q172's L1 needs a
    bin width; KS is its parameter-free sibling). All-integer ECDF cross
    terms; one final division."""
    d = load_table_spread(spark, "documents", sf_dir)
    return ks_statistic(d, "lang", "en", "de", "n_chars")


# ---------------------------------------------------------------------------
# q185 — span SCRUB: the removal face of q139's duplicated-span signal
# (exact-substring dedup à la "Deduplicating Training Data Makes Language
# Models Better" — drop every k-word span that also appears in another
# document, report the surviving token budget). q139 *scores*; this
# *cuts*, which needs the extra step q139 avoids: the union length of
# overlapping duplicated spans per document. That union is computed with
# the islands trick on span START positions — maximal runs of flagged
# starts with inter-start gap ≤ k−1 merge into one covered interval of
# length (last − first + k) — so no per-token explode and no interval
# self-join ever materializes.
#
# Plan shape: ONE shuffle on the span hash (position rides alongside; the
# cross-doc flag is the same min≠max window as q139), ONE shuffle back to
# the document grain for the island windows (doc-sized partitions), then
# a broadcast-sized per-source rollup. The corpus text itself is never
# shuffled. Output is source-grain with exact token conservation
# (kept + covered = total; pytest law).
# ---------------------------------------------------------------------------


@_register(
    "q185_span_scrub",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    dd AS (SELECT doc_id, source, len(toks) AS n_toks, toks FROM d),
    pos AS (
        SELECT doc_id, toks,
               unnest(range(1, CAST(n_toks AS BIGINT) - {_SPAN_K - 2})) AS i
        FROM dd
    ),
    spans AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               md5(array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_SPAN_K - 1}],
                                   chr(31))) AS h
        FROM pos
    ),
    flagged AS (
        SELECT doc_id, i,
               CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                         <> MAX(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS dup
        FROM spans
    ),
    starts AS (
        SELECT doc_id, i,
               CASE WHEN COALESCE(
                        i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i),
                        {_SPAN_K}) > {_SPAN_K - 1}
                    THEN 1 ELSE 0 END AS new_island
        FROM flagged WHERE dup = 1
    ),
    isl AS (
        SELECT doc_id, i,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM starts
    ),
    cov AS (
        SELECT doc_id,
               SUM(mx - mn + {_SPAN_K}) AS covered
        FROM (SELECT doc_id, island, MIN(i) AS mn, MAX(i) AS mx
              FROM isl GROUP BY doc_id, island)
        GROUP BY doc_id
    )
    SELECT dd.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dd.n_toks) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(c.covered), 0) AS BIGINT) AS covered_tokens,
           CAST(SUM(dd.n_toks) - COALESCE(SUM(c.covered), 0) AS BIGINT)
               AS kept_tokens
    FROM dd LEFT JOIN cov c ON dd.doc_id = c.doc_id
    GROUP BY dd.source
    """,
)
def q185_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget after removing every cross-document
    duplicated 5-word span: doc census, total tokens, covered (removed)
    tokens via interval-union islands, and the surviving token count."""
    return span_scrub(load_table_spread(spark, "documents", sf_dir))


def span_scrub(docs: DataFrame) -> DataFrame:
    """The q185 pipeline on any (doc_id, source, text) frame — factored so
    fixtures can exercise the interval-union semantics directly."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", "source", toks.alias("toks"),
                       F.size(toks).cast("long").alias("n_toks"))
    pos = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.col("n_toks") >= _SPAN_K,
                F.transform(
                    F.sequence(F.lit(1), F.col("n_toks") - (_SPAN_K - 1)),
                    lambda i: F.md5(
                        F.concat_ws("\x1f", F.slice(F.col("toks"), i, _SPAN_K))
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("p", "h"),
    ).select("doc_id", (F.col("p") + 1).cast("long").alias("i"), "h")
    wh = Window.partitionBy("h")
    starts = (
        pos.select(
            "doc_id", "i",
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).alias("dup"),
        )
        .filter(F.col("dup"))
    )
    wd = Window.partitionBy("doc_id").orderBy("i")
    isl = starts.select(
        "doc_id", "i",
        F.sum(
            F.when(
                F.coalesce(
                    F.col("i") - F.lag("i").over(wd), F.lit(_SPAN_K)
                ) > _SPAN_K - 1,
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg((F.max("i") - F.min("i") + _SPAN_K).alias("span_len"))
        .groupBy("doc_id")
        .agg(F.sum("span_len").alias("covered"))
    )
    return (
        base.select("doc_id", "source", "n_toks")
        .join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.coalesce(F.sum("covered"), F.lit(0)).cast("long")
            .alias("covered_tokens"),
            (F.sum("n_toks") - F.coalesce(F.sum("covered"), F.lit(0)))
            .cast("long").alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q187 — template-prefix boilerplate census: docs sharing their first
# k words are template instances (scraper boilerplate, form letters,
# generated pages) — a curation signal orthogonal to near-dup (template
# instances differ in the BODY, so MinHash misses them; the prefix key
# catches exactly the shared head). Key = md5 of the first 5 tokens;
# groups with ≥2 docs are "templated". Per-language rollup: group count,
# templated-doc census, id checksum.
#
# Scale notes: map-only key derivation (a 5-token slice — the text never
# leaves the map side), one (lang, key) aggregate, one lang rollup over
# the group-grain frame. The same shape as normalized-dedup (q93) with a
# prefix key instead of a whole-text canonical key.
# ---------------------------------------------------------------------------

_PREFIX_K = 5


@_register(
    "q187_template_prefixes",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang,
               md5(array_to_string(toks[1:{_PREFIX_K}], chr(31))) AS pkey
        FROM d WHERE len(toks) >= {_PREFIX_K}
    ),
    groups AS (
        SELECT lang, pkey, COUNT(*) AS n_docs, SUM(doc_id) AS id_sum
        FROM keyed GROUP BY lang, pkey
    )
    SELECT lang,
           CAST(COUNT(*) FILTER (WHERE n_docs >= 2) AS BIGINT)
               AS n_template_groups,
           CAST(COALESCE(SUM(n_docs) FILTER (WHERE n_docs >= 2), 0) AS BIGINT)
               AS n_templated_docs,
           CAST(COALESCE(SUM(id_sum) FILTER (WHERE n_docs >= 2), 0) AS BIGINT)
               AS templated_id_sum
    FROM groups GROUP BY lang
    """,
)
def q187_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language boilerplate census: how many distinct 5-token prefixes
    are shared by ≥2 documents, how many documents carry one, and the
    id-pinned checksum of those documents."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    keyed = d.select(
        "doc_id", "lang", toks.alias("toks")
    ).filter(F.size("toks") >= _PREFIX_K).select(
        "doc_id", "lang",
        F.md5(F.concat_ws("\x1f", F.slice(F.col("toks"), 1, _PREFIX_K)))
        .alias("pkey"),
    )
    groups = keyed.groupBy("lang", "pkey").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )
    t = F.col("n_docs") >= 2
    return groups.groupBy("lang").agg(
        F.sum(t.cast("long")).cast("long").alias("n_template_groups"),
        F.coalesce(F.sum(F.when(t, F.col("n_docs"))), F.lit(0))
        .cast("long").alias("n_templated_docs"),
        F.coalesce(F.sum(F.when(t, F.col("id_sum"))), F.lit(0))
        .cast("long").alias("templated_id_sum"),
    )


# ---------------------------------------------------------------------------
# q189 — vocabulary-coverage (OOV) audit: given the corpus's own top-K
# token vocabulary, what fraction of each language's token stream falls
# outside it? The go/no-go check before committing a tokenizer vocab —
# high OOV in a language means the vocab under-serves it. All-integer
# permil output; the vocabulary cut is a TOTAL order (count desc, token
# asc), so both engines pick the identical K tokens.
#
# Scale notes: the vocabulary aggregate is the standard Zipf-small
# wordcount (combiner-reduced); its top-K window runs over the
# vocabulary frame, not the corpus. Coverage is ONE pass: explode →
# broadcast-join the K-row vocab → per-language combine. The corpus is
# never shuffled on the token — only (lang, counts) partials move.
# ---------------------------------------------------------------------------

_VOCAB_K = 20


@_register(
    "q189_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    ranked AS (
        SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk FROM cnt
    ),
    vocab AS (SELECT t FROM ranked WHERE rnk <= {_VOCAB_K})
    SELECT tok.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST((SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1000)
                // COUNT(*) AS BIGINT) AS oov_permil
    FROM tok LEFT JOIN vocab v ON tok.t = v.t
    GROUP BY tok.lang
    """,
)
def q189_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary census against the corpus's own
    top-20 token vocabulary (total-ordered cut): token count, OOV count,
    integer OOV permil."""
    d = load_table_spread(spark, "documents", sf_dir)
    tok = d.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    cnt = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    # bounded top-k vocabulary cut (TakeOrderedAndProject, never a
    # single-task window over the whole vocabulary aggregate)
    vocab = global_topk(
        cnt, [("c", "desc"), ("t", "asc")], _VOCAB_K, out="rnk"
    ).select("t", F.lit(1).alias("iv"))
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("iv").isNull().cast("long")).cast("long").alias("n_oov"),
        )
        .select(
            "lang", "n_tokens", "n_oov",
            F.expr("(n_oov * 1000) div n_tokens").cast("long")
            .alias("oov_permil"),
        )
    )


# ---------------------------------------------------------------------------
# q208 — cross-source overlap matrix: for every ordered source pair,
# how many of source A's distinct 5-word spans also appear in source B —
# the "is source B a re-crawl / mirror / subset of source A" question
# every multi-source corpus acquisition asks before paying for dedup.
# Span grain (q139's positional device, deduplicated to per-source
# distinct hashes) rather than whole-doc fingerprints, so partial
# mirroring registers too. Output is |sources|² counts with an exact
# overlap permil — one span-hash shuffle, one source-pair aggregate.
# ---------------------------------------------------------------------------


@_register(
    "q208_source_overlap_matrix",
    oracle=f"""
    WITH d AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    pos AS (
        SELECT source, toks,
               unnest(range(1, CAST(len(toks) AS BIGINT) - {_SPAN_K - 2})) AS i
        FROM d WHERE len(toks) >= {_SPAN_K}
    ),
    spans AS (
        SELECT DISTINCT source,
               md5(array_to_string(toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {_SPAN_K - 1}],
                                   chr(31))) AS h
        FROM pos
    ),
    sizes AS (SELECT source, COUNT(*) AS n_spans FROM spans GROUP BY source),
    ovl AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        FROM spans a JOIN spans b ON a.h = b.h AND a.source <> b.source
        GROUP BY src_a, src_b
    )
    SELECT o.src_a, o.src_b,
           CAST(s.n_spans AS BIGINT) AS n_spans_a,
           CAST(o.shared AS BIGINT) AS shared_spans,
           CAST((o.shared * 1000) // s.n_spans AS BIGINT) AS overlap_permil
    FROM ovl o JOIN sizes s ON o.src_a = s.source
    """,
)
def q208_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered source-pair overlap: distinct 5-word spans of A also seen
    in B, with the exact integer overlap permil of A's span set."""
    docs = load_table_spread(spark, "documents", sf_dir)
    # Checkpoint: the span set feeds sizes AND both self-join sides — the
    # expensive explode+distinct runs once, consumers read executor blocks.
    spans = (
        docs.select(
            "source",
            F.explode(span_hashes(F.col("text"), _SPAN_K)).alias("h"),
        )
        .distinct()
        .transform(materialize)
    )
    sizes = spans.groupBy("source").agg(F.count(F.lit(1)).alias("n_spans"))
    a = spans.select(F.col("source").alias("src_a"), "h")
    b = spans.select(F.col("source").alias("src_b"), "h")
    overlaps = (
        a.join(b, "h")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        overlaps.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     "n_spans")),
            "src_a",
        )
        .select(
            "src_a", "src_b",
            F.col("n_spans").cast("long").alias("n_spans_a"),
            F.col("shared").cast("long").alias("shared_spans"),
            F.expr("(shared * 1000) div n_spans").cast("long")
            .alias("overlap_permil"),
        )
    )


# ---------------------------------------------------------------------------
# q216 — largest-remainder apportionment: split an indivisible budget
# (N = 1000 training-document slots) across sources in proportion to
# their token mass, exactly — floor quotas + the largest-remainder rule
# (Hamilton's method). The integer sibling of q126's temperature
# sampling: where q126 computes RATES, this allocates UNITS, and the
# allocation must sum to N exactly (pytest law). Everything is integer
# cross-multiplication: quota = (N·t) div T, remainder rank = (N·t) mod
# T under a total order (remainder desc, source asc) — no double ever
# appears, so the per-source allocation is bit-identical.
#
# Scale notes: one corpus aggregate (source grain) and one window over
# the |sources| frame — the allocation math never touches corpus rows.
# ---------------------------------------------------------------------------

_Q216_BUDGET = 1000


@_register(
    "q216_budget_apportionment",
    oracle=f"""
    WITH t AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                    AS BIGINT) AS toks
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(toks) AS tt FROM t),
    q AS (
        SELECT t.source, t.toks,
               ({_Q216_BUDGET} * t.toks) // tot.tt AS floor_quota,
               ({_Q216_BUDGET} * t.toks) % tot.tt AS rem
        FROM t, tot
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
               {_Q216_BUDGET} - SUM(floor_quota) OVER () AS leftover
        FROM q
    )
    SELECT source, toks,
           CAST(floor_quota + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocation
    FROM ranked
    """,
)
def q216_budget_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer allocation of a 1000-slot budget across sources
    proportional to token mass, by floor quotas plus largest remainders
    under a total order — sums to the budget exactly."""
    d = load_table(spark, "documents", sf_dir)
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long").alias("toks")
    )
    wall = Window.partitionBy()
    q = t.select(
        "source", "toks",
        F.sum("toks").over(wall).alias("tt"),
    ).select(
        "source", "toks",
        F.expr(f"({_Q216_BUDGET} * toks) div tt").alias("floor_quota"),
        (F.lit(_Q216_BUDGET) * F.col("toks") % F.col("tt")).alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), "source")
    ranked = q.select(
        "*",
        F.row_number().over(wr).alias("rr"),
        (F.lit(_Q216_BUDGET) - F.sum("floor_quota").over(wall))
        .alias("leftover"),
    )
    return ranked.select(
        "source", "toks",
        (F.col("floor_quota")
         + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0))
        .cast("long").alias("allocation"),
    )


# ---------------------------------------------------------------------------
# q221 — pairwise drift matrix: exact L1 distance between every source
# pair's n_chars distributions — q172's two-strata gate generalized to
# the full monitoring matrix (which feeds clustering/alerting over
# sources). The disjoint-support mass needs no outer join: for values
# absent from B, Σ cA·NB = NB·(NA − Σ_shared cA), so ONE inner join on
# the value plus per-source totals yields the exact numerator
#     Σ_shared |cA·NB − cB·NA| + NB·(NA−shA) + NA·(NB−shB)
# and pairs with fully disjoint support fall out as L1 = 2 via the
# totals cross frame (|sources|² — broadcast-class). One division at
# the end; at 100 TB row counts the cross products need per-mil
# normalized counts first (int64 headroom), noted here.
# ---------------------------------------------------------------------------


@_register(
    "q221_source_drift_matrix",
    oracle="""
    WITH cnt AS (
        SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, v
    ),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt
            GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(abs(a.c * tb.n - b.c * ta.n)) AS BIGINT) AS sh_abs,
               CAST(SUM(a.c) AS BIGINT) AS sh_a,
               CAST(SUM(b.c) AS BIGINT) AS sh_b
        FROM cnt a JOIN cnt b ON a.v = b.v AND a.source < b.source
        JOIN tot ta ON a.source = ta.source
        JOIN tot tb ON b.source = tb.source
        GROUP BY src_a, src_b
    )
    SELECT ta.source AS src_a, tb.source AS src_b,
           CAST(COALESCE(s.sh_abs, 0)
                + tb.n * (ta.n - COALESCE(s.sh_a, 0))
                + ta.n * (tb.n - COALESCE(s.sh_b, 0)) AS BIGINT)
               AS l1_numerator,
           CAST(COALESCE(s.sh_abs, 0)
                + tb.n * (ta.n - COALESCE(s.sh_a, 0))
                + ta.n * (tb.n - COALESCE(s.sh_b, 0)) AS DOUBLE)
           / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)) AS l1
    FROM tot ta JOIN tot tb ON ta.source < tb.source
    LEFT JOIN shared s ON s.src_a = ta.source AND s.src_b = tb.source
    """,
)
def q221_source_drift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact L1 distance between every ordered source pair's n_chars
    distributions — one value-keyed inner join plus totals; disjoint
    mass derived arithmetically, never an outer join."""
    d = load_table(spark, "documents", sf_dir)
    # Checkpoint: cnt feeds the totals AND both join sides — the corpus
    # groupBy runs once; consumers read the (source × value)-grain blocks.
    cnt = d.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).transform(materialize)
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = cnt.select(F.col("source").alias("src_a"), "v", F.col("c").alias("ca"))
    b = cnt.select(F.col("source").alias("src_b"), "v", F.col("c").alias("cb"))
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    shared = (
        a.join(b, "v")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")))
            .cast("long").alias("sh_abs"),
            F.sum("ca").cast("long").alias("sh_a"),
            F.sum("cb").cast("long").alias("sh_b"),
        )
    )
    pairs = (
        ta.crossJoin(tb)  # bounded by construction: |sources|² rows
        .filter(F.col("src_a") < F.col("src_b"))
        .join(shared, ["src_a", "src_b"], "left")
    )
    num = (
        F.coalesce("sh_abs", F.lit(0))
        + F.col("nb") * (F.col("na") - F.coalesce("sh_a", F.lit(0)))
        + F.col("na") * (F.col("nb") - F.coalesce("sh_b", F.lit(0)))
    )
    return pairs.select(
        "src_a", "src_b",
        num.cast("long").alias("l1_numerator"),
        (num.cast("double")
         / (F.col("na").cast("double") * F.col("nb").cast("double")))
        .alias("l1"),
    )


# ---------------------------------------------------------------------------
# q226 — keyword search scoring (the retrieval face of the corpus
# tooling): rank documents for a fixed query by Σ_term tf(term, doc) ·
# rarity(term) — a BM25-shaped score with q89's integer bit-length
# rarity standing in for the log-idf (no floating log, oracle-exact).
# Top-10 under a total order. The plan is the inverted-probe shape:
# explode ONLY matching tokens (the filter pushes the query literals
# into the scan side), aggregate per doc, rank the tiny scored frame.
# ---------------------------------------------------------------------------

_Q226_QUERY = ("spark", "join", "window")


@_register(
    "q226_keyword_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
        FROM documents
    ),
    vocab AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t
    ),
    mx AS (SELECT MAX(length(bin(cnt))) AS maxbits FROM vocab),
    qterms AS (
        SELECT v.t, CAST(mx.maxbits - length(bin(v.cnt)) + 1 AS BIGINT)
                   AS rarity
        FROM vocab v, mx
        WHERE v.t IN {_Q226_QUERY!r}
    ),
    scored AS (
        SELECT tok.doc_id,
               CAST(SUM(q.rarity) AS BIGINT) AS score,
               CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM tok JOIN qterms q ON tok.t = q.t
        GROUP BY tok.doc_id
    )
    SELECT doc_id, score, n_hits,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def q226_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for the fixed query terms by tf × integer-rarity
    score (bit-length idf proxy) — inverted-probe plan, total-ordered
    rank."""
    d = load_table(spark, "documents", sf_dir)
    # Checkpoint: tok feeds the vocabulary build AND the probe join —
    # the explode runs once. (At extreme corpus sizes re-scanning can
    # beat materializing the token stream; the inverted-probe shape is
    # unchanged either way.)
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    ).transform(materialize)
    # vocab is vocabulary-sized and consumed by mx AND the query filter.
    vocab = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).transform(materialize)
    mx = vocab.agg(F.max(F.length(F.bin("cnt"))).alias("maxbits"))
    qterms = (
        vocab.filter(F.col("t").isin(*_Q226_QUERY))
        .crossJoin(F.broadcast(mx))  # 1-row corpus-max scalar
        .select(
            "t",
            (F.col("maxbits") - F.length(F.bin("cnt")) + 1).cast("long")
            .alias("rarity"),
        )
    )
    scored = (
        tok.join(F.broadcast(qterms), "t")
        .groupBy("doc_id")
        .agg(
            F.sum("rarity").cast("long").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
    )
    # bounded top-k (TakeOrderedAndProject + rank over <= 10 rows) — the
    # doc-grain score frame never funnels through a single-task window
    return global_topk(
        scored, [("score", "desc"), ("doc_id", "asc")], 10, out="rank"
    ).withColumn("rank", F.col("rank").cast("long"))

# ---------------------------------------------------------------------------
# q232 — bigram language-model document scoring: the conditional-probability
# tier above q89's unigram rarity bands. Every LM-data pipeline scores
# candidate documents under a cheap n-gram model trained on the corpus
# itself (KenLM-style perplexity filtering); this is that operator with the
# model kept in exact integer space so the oracle hash-matches:
#
#   cond(w1,w2) = (1e6 · c(w1,w2)) div c(w1,·)   — conditional prob in ppm
#   score(doc)  = (Σ cond over the doc's bigrams) div n_bigrams
#
# i.e. a floor-average per-bigram likelihood (the monotone twin of mean
# log-prob: the quantity perplexity filters threshold), no log/exp (libm
# is not portable across engines — cookbook), no floats anywhere.
#
# Plan shape: one explode pass produces the bigram stream (checkpointed —
# it feeds BOTH the model build and the scoring join); the model is
# bigram-vocabulary-sized (Zipf: orders smaller than the stream), built by
# two partial-agg groupBys, then the stream joins the model on (w1,w2) and
# collapses to the doc grain. At 100 TB the model join shuffles on the
# bigram key (vocab too big to broadcast is the safe default; AQE
# broadcasts it when it fits) — the stream is never collected and the
# per-doc aggregate is map-side-combinable. Reference has no corpus
# surface (etl_completo.py is row-at-a-time retail ETL); 100 TB mandate.
# ---------------------------------------------------------------------------


@_register(
    "q232_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_ALPHA_TOKENS} AS tk FROM documents
    ),
    bg AS (
        SELECT doc_id, lang,
               tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT)+1] AS w2
        FROM toks, UNNEST(range(1, len(tk))) AS u(i)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(cnt2) AS cnt1 FROM c2 GROUP BY w1),
    model AS (
        SELECT c2.w1, c2.w2,
               CAST((1000000 * c2.cnt2) // c1.cnt1 AS BIGINT) AS cond_ppm
        FROM c2 JOIN c1 USING (w1)
    )
    SELECT bg.doc_id, bg.lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(m.cond_ppm) AS BIGINT) AS sum_cond_ppm,
           CAST(SUM(m.cond_ppm) // COUNT(*) AS BIGINT) AS lm_score_ppm
    FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
    GROUP BY bg.doc_id, bg.lang
    """,
)
def q232_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional probability (ppm, all-integer)
    under the corpus's own bigram model — the n-gram perplexity-filter
    operator. Model and scores are exact integers, so the DuckDB twin
    hash-matches."""
    d = load_table_spread(spark, "documents", sf_dir)
    # Bigram stream: one explode pass, checkpointed — consumed by the
    # model build AND the scoring join (plan-discipline rule).
    bg = (
        d.select("doc_id", "lang", alpha_tokens(F.col("text")).alias("tk"))
        .filter(F.size("tk") >= 2)  # sequence(1,0) would descend — guard
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(element_at(tk, i) AS w1,"
                    "             element_at(tk, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "lang", "b.w1", "b.w2")
        .transform(materialize)
    )
    c2 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cnt2")
    )
    # cnt1 = bigram-prefix count, derived from the (small) model table,
    # NOT by re-aggregating the stream. c2 feeds c1 and the join below —
    # vocabulary-sized, checkpoint.
    c2 = c2.transform(materialize)
    c1 = c2.groupBy("w1").agg(F.sum("cnt2").cast("long").alias("cnt1"))
    model = c2.join(c1, "w1").select(
        "w1", "w2",
        F.expr("(1000000 * cnt2) div cnt1").cast("long").alias("cond_ppm"),
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("cond_ppm").cast("long").alias("sum_cond_ppm"),
            F.expr("sum(cond_ppm) div count(*)").cast("long")
            .alias("lm_score_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q237 — hybrid retrieval fusion by Reciprocal Rank Fusion (Cormack 2009):
# the RAG-stack primitive that merges a LEXICAL ranking (q226's tf×rarity
# keyword probe over documents) with a VECTOR ranking (q27's brute-force
# cosine top-k over embeddings) into one list. RRF is rank-only — immune
# to the two scorers' incomparable scales — and made hash-exact by
# keeping contributions integer: contrib = 1e9 div (60 + rank).
#
# Both inputs are the already-oracle-exact pipelines (same composition
# device as q120's recall audit), joined full-outer on the shared id
# space; the join touches ≤ 2k rows (two top-k lists — bounded by
# construction), so the fusion itself is driver-trivial while the heavy
# legs keep their own distributed plans.
# ---------------------------------------------------------------------------


def _q237_oracle() -> str:
    from etl_globalretail_spark.operators import similarity as _sim

    kw = ORACLE["q226_keyword_search"]
    ann = _sim.ORACLE["q27_ann_bruteforce"]
    return f"""
    WITH kw AS ({kw}),
    ann AS ({ann}),
    fused AS (
        SELECT COALESCE(kw.doc_id, ann.vec_id) AS id,
               COALESCE(kw.rank, -1) AS kw_rank,
               COALESCE(ann.rank, -1) AS ann_rank,
               COALESCE(1000000000 // (60 + kw.rank), 0)
               + COALESCE(1000000000 // (60 + ann.rank), 0) AS rrf_score
        FROM kw FULL JOIN ann ON kw.doc_id = ann.vec_id
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(kw_rank AS BIGINT) AS kw_rank,
           CAST(ann_rank AS BIGINT) AS ann_rank,
           CAST(rrf_score AS BIGINT) AS rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, id) AS BIGINT)
               AS fused_rank
    FROM fused
    """


@_register("q237_rrf_fusion", oracle=_q237_oracle())
def q237_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the keyword top-10 (q226) and the cosine
    top-10 (q27) — integer contributions, total-ordered fused rank."""
    from etl_globalretail_spark.operators.similarity import q27_ann_bruteforce

    kw = q226_keyword_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("kw_rank")
    )
    ann = q27_ann_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("ann_rank")
    )
    fused = kw.join(ann, "id", "full").select(
        "id",
        F.coalesce("kw_rank", F.lit(-1)).cast("long").alias("kw_rank"),
        F.coalesce("ann_rank", F.lit(-1)).cast("long").alias("ann_rank"),
        (
            F.coalesce(F.expr("1000000000 div (60 + kw_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 div (60 + ann_rank)"), F.lit(0))
        ).cast("long").alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), "id")
    return fused.select(
        "*", F.row_number().over(w).cast("long").alias("fused_rank")
    )


# ---------------------------------------------------------------------------
# q239 — cross-document duplicated-span COVERAGE: the positional tier of
# exact-substring dedup (the "ExactSubstr" operator of Lee et al. 2022).
# q139 counts how many of a doc's k-gram spans also occur elsewhere; this
# operator answers the question trimming actually needs — how many TOKEN
# POSITIONS are covered by the UNION of those spans (overlapping spans
# must not double-count). The union is computed with the gap-island
# device, all-integer:
#
#   duplicated span starts, sorted per doc → island break where
#   start − prev_start ≥ k (no overlap) → island covers
#   (max_start − min_start + k) tokens → coverage = Σ islands.
#
# Plan: one positional explode, one span-hash window for the cross-doc
# flag (shuffles on the span hash — the frequency-table exchange every
# dedup tier pays), then per-doc windows on the (much smaller) duplicated
# subset. The oracle replays the identical islands in SQL windows.
# ---------------------------------------------------------------------------


@_register(
    "q239_dup_span_coverage",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    dd AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, toks FROM d),
    pos AS (
        SELECT doc_id, toks,
               unnest(range(1, CAST(n_toks AS BIGINT) - {_SPAN_K - 2})) AS s
        FROM dd
    ),
    spans AS (
        SELECT doc_id, CAST(s AS BIGINT) AS s,
               md5(array_to_string(
                   toks[CAST(s AS BIGINT):CAST(s AS BIGINT) + {_SPAN_K - 1}],
                   chr(31))) AS h
        FROM pos
    ),
    flagged AS (
        SELECT doc_id, s,
               CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                         <> MAX(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS dup
        FROM spans
    ),
    dups AS (
        SELECT doc_id, s,
               CASE WHEN s - LAG(s) OVER w >= {_SPAN_K}
                         OR LAG(s) OVER w IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM flagged WHERE dup = 1
        WINDOW w AS (PARTITION BY doc_id ORDER BY s)
    ),
    isl AS (
        SELECT doc_id, s,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS island
        FROM dups
    ),
    per_island AS (
        SELECT doc_id, island,
               MAX(s) - MIN(s) + {_SPAN_K} AS cov
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT doc_id, SUM(cov) AS covered
        FROM per_island GROUP BY doc_id
    )
    SELECT dd.doc_id, dd.n_toks,
           CAST(COALESCE(p.covered, 0) AS BIGINT) AS covered_tokens,
           CAST((COALESCE(p.covered, 0) * 1000) // dd.n_toks AS BIGINT)
               AS coverage_permil
    FROM dd LEFT JOIN per_doc p ON dd.doc_id = p.doc_id
    """,
)
def q239_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token coverage of the UNION of cross-doc duplicated
    k-gram spans (gap-island interval merge, all-integer) — the
    positional statistic exact-substring trimming thresholds."""
    d = load_table_spread(spark, "documents", sf_dir)
    base = d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_toks"),
        span_hashes(F.col("text")).alias("spans"),
    )
    starts = base.select(
        "doc_id", F.posexplode("spans").alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).cast("long").alias("s"), "h")
    wh = Window.partitionBy("h")
    dups = (
        starts.select(
            "doc_id", "s",
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh))
            .alias("dup"),
        )
        .filter(F.col("dup"))
    )
    wd = Window.partitionBy("doc_id").orderBy("s")
    brk = dups.select(
        "doc_id", "s",
        F.when(
            F.lag("s").over(wd).isNull()
            | (F.col("s") - F.lag("s").over(wd) >= F.lit(_SPAN_K)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("brk"),
    )
    isl = brk.select(
        "doc_id", "s",
        F.sum("brk").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island"),
    )
    per_island = isl.groupBy("doc_id", "island").agg(
        (F.max("s") - F.min("s") + F.lit(_SPAN_K)).alias("cov")
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("cov").cast("long").alias("covered")
    )
    return (
        base.select("doc_id", "n_toks")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_toks",
            F.coalesce("covered", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.expr("(coalesce(covered, 0) * 1000) div n_toks").cast("long")
            .alias("coverage_permil"),
        )
    )


# ---------------------------------------------------------------------------
# q241 — inverted-index build: token → (df, sorted posting-list prefix,
# id checksum). The retrieval-infrastructure face of the corpus family:
# q226 scores queries against an implicit index; this materializes the
# index itself, the artifact a 100 TB search/dedup/contamination stack
# ships to serving.
#
# Plan discipline: the full posting LIST is data-sized per token (the
# fixture's 31-token vocabulary each hits ~80% of documents), so the
# frame returns (a) bounded aggregates over the whole list — df and the
# exact doc-id sum, the delta-encoding checksum — computed with plain
# map-side-combinable aggregates (NO collect_list of the full list:
# unbounded agg state), and (b) the first 20 postings — a window rank
# over (tok, doc) prefix-pruned BEFORE the collect, so the only list
# state built is 20 ids per token. At 100 TB the same plan emits the
# full list sharded: rank div 10_000 becomes a second grouping key and
# each shard is one bounded row (the q190 two-phase device).
# ---------------------------------------------------------------------------

_POSTING_PREFIX = 20


def _register_q241() -> None:
    @_register(
        "q241_inverted_index",
        oracle=f"""
        WITH occ AS (
            SELECT DISTINCT tok, doc_id AS doc
            FROM (
                SELECT doc_id, unnest({_SQL_ALPHA_TOKENS}) AS tok
                FROM documents
            )
        ),
        agg AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
                   CAST(SUM(doc) AS BIGINT) AS doc_checksum
            FROM occ GROUP BY tok
        ),
        pre AS (
            SELECT tok,
                   string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc)
                       AS postings_prefix
            FROM (
                SELECT tok, doc,
                       ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc) AS rk
                FROM occ
            ) WHERE rk <= {_POSTING_PREFIX}
            GROUP BY tok
        )
        SELECT a.tok, a.df, a.doc_checksum, p.postings_prefix
        FROM agg a JOIN pre p ON a.tok = p.tok
        """,
    )
    def q241_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Inverted index over the alpha-token vocabulary: per token, the
        document frequency, exact doc-id checksum of the FULL posting
        list (bounded aggregates), and the sorted first-20 posting
        prefix (rank-pruned before any list is built)."""
        docs = load_table(spark, "documents", sf_dir)
        occ = (
            docs.select(
                F.col("doc_id").alias("doc"),
                F.explode(alpha_tokens(F.col("text"))).alias("tok"),
            )
            .distinct()
        )
        agg = occ.groupBy("tok").agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("doc").cast("long").alias("doc_checksum"),
        )
        w = Window.partitionBy("tok").orderBy("doc")
        pre = (
            occ.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _POSTING_PREFIX)
            .groupBy("tok")
            .agg(
                F.array_join(
                    F.array_sort(F.collect_list("doc")), ","
                ).alias("postings_prefix")
            )
        )
        return agg.join(pre, "tok").select(
            "tok", "df", "doc_checksum", "postings_prefix"
        )


_register_q241()


# ---------------------------------------------------------------------------
# q242 — BPE merge learning (tokenizer training, the Sennrich/GPT-2
# algorithm's core loop): from the corpus-frequency-weighted vocabulary,
# repeatedly (a) count all adjacent symbol pairs, (b) pick the most
# frequent pair under a TOTAL order (count desc, then pair bytes — tie
# luck is a different tokenizer), (c) merge it greedily leftmost-first,
# non-overlapping, everywhere. 3 rounds, fully unrolled in the DuckDB
# oracle (the q212/q236 iterative-twin convention).
#
# Two devices make the cross-engine semantics exact:
# - every merged pair is re-encoded as ONE marker character ('1','2','3'
#   — outside the [a-z] symbol alphabet), so symbols stay single chars
#   and pair extraction stays a uniform substr(word,i,1) in every round;
# - the merge itself is replace(word, l||r, marker): literal
#   (non-regex) replace is leftmost-first non-overlapping in Spark,
#   DuckDB, and Python alike — exactly BPE's greedy rule ("aaa" with
#   pair (a,a) → "1a", one merge, not two).
#
# Plan shape: the corpus is touched ONCE (vocabulary build: token
# explode + count, the q89 shuffle class) and persisted; each learning
# round then runs on the |V|-row vocabulary — pair explode is Σ|word|
# rows over |V| words, NOT over the corpus. The per-round best pair is
# a 1-row driver scalar (the q74-centroid convention: bounded by
# construction, k=3 rounds). At 100 TB |V| is millions of rows — still
# dim-sized; the plan is unchanged.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_pairs(vocab: DataFrame) -> DataFrame:
    """All adjacent symbol pairs with corpus-frequency weights.
    length>=2 guard replicates generate_series(1, len-1) emptiness
    (Spark's sequence(1, 0) would DESCEND)."""
    pos = vocab.filter(F.length("word") >= 2).select(
        "word", "freq",
        F.explode(F.sequence(F.lit(1), F.length("word") - F.lit(1))).alias("i"),
    )
    return (
        pos.select(
            F.expr("substring(word, i, 1)").alias("l"),
            F.expr("substring(word, i + 1, 1)").alias("r"),
            "freq",
        )
        .groupBy("l", "r")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _q242_oracle() -> str:
    vocab = f"""
        SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_SQL_ALPHA_TOKENS}) AS tok FROM documents)
        GROUP BY tok
    """

    def pairs(v: str) -> str:
        return f"""
        SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
               CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT word, freq,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM {v}
        ) GROUP BY 1, 2
        """

    ctes = [f"v1 AS ({vocab})"]
    for rnd in (1, 2, 3):
        ctes.append(f"p{rnd} AS ({pairs(f'v{rnd}')})")
        ctes.append(
            f"b{rnd} AS (SELECT l, r, cnt FROM p{rnd}"
            f" ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        if rnd < 3:
            ctes.append(
                f"v{rnd + 1} AS (SELECT replace(word,"
                f" (SELECT l || r FROM b{rnd}), '{rnd}') AS word, freq"
                f" FROM v{rnd})"
            )
    # Marker-free expansions: e1 is round 1's raw pair; later rounds
    # substitute earlier markers (expansions are pure alpha, so the
    # substitution order cannot cascade).
    sel = """
    , e1 AS (SELECT (SELECT l || r FROM b1) AS m)
    , e2 AS (SELECT replace((SELECT l || r FROM b2), '1', (SELECT m FROM e1)) AS m)
    , e3 AS (SELECT replace(replace((SELECT l || r FROM b3), '2',
                 (SELECT m FROM e2)), '1', (SELECT m FROM e1)) AS m)
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round, l AS left_sym, r AS right_sym,
               (SELECT m FROM e1) AS merged, cnt AS pair_count FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), l, r, (SELECT m FROM e2), cnt FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), l, r, (SELECT m FROM e3), cnt FROM b3
    )
    """
    return "WITH " + ",\n".join(ctes) + sel


def bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> list[tuple[int, str, str, str, int]]:
    """Run the BPE learning loop; returns (round, left, right, expanded
    merged token, weighted pair count) per round. Corpus scanned once
    (vocabulary build); rounds iterate on the persisted |V|-row
    vocabulary; each round's best pair is a 1-row driver scalar
    (bounded by construction, the q74-centroid convention)."""
    docs = load_table_spread(spark, "documents", sf_dir)
    vocab = (
        docs.select(F.explode(alpha_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .persist()
    )
    try:
        vocab.count()
        expansion: dict[str, str] = {}
        out: list[tuple[int, str, str, str, int]] = []
        cur = vocab
        for rnd in range(1, rounds + 1):
            best = (
                _bpe_pairs(cur)
                .orderBy(F.desc("cnt"), "l", "r")
                .first()
            )  # 1-row driver scalar, bounded by construction
            marker = str(rnd)
            merged = best["l"] + best["r"]
            for m, exp in sorted(expansion.items(), reverse=True):
                merged = merged.replace(m, exp)
            expansion[marker] = merged
            out.append((rnd, best["l"], best["r"], merged, int(best["cnt"])))
            cur = cur.select(
                F.expr(
                    "replace(word, "
                    f"'{best['l'] + best['r']}', '{marker}') AS word"
                ),
                "freq",
            )
        return out
    finally:
        vocab.unpersist()


def _register_q242() -> None:
    @_register("q242_bpe_merges", oracle=_q242_oracle())
    def q242_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The first 3 learned BPE merges over the corpus vocabulary:
        (round, pair in marker space, fully-expanded merged token,
        weighted pair count)."""
        return spark.createDataFrame(
            bpe_learn(spark, sf_dir),
            "round long, left_sym string, right_sym string,"
            " merged string, pair_count long",
        )


_register_q242()


# ---------------------------------------------------------------------------
# q244 — BPE tokenizer APPLY: encode the whole corpus with the 3 learned
# merges and report per-source compression. The production split every
# tokenizer pipeline has — LEARN is iterative and vocabulary-sized
# (q242); APPLY is embarrassingly parallel and corpus-sized. Here apply
# is a pure map: the learned patterns are three driver-scalar string
# literals folded into a native replace() chain inside a higher-order
# transform over the token array — no UDF, no join, no shuffle before
# the final |sources|-row aggregate. At 100 TB the encode pass is the
# scan itself; the learned-merge table rides the closure exactly as it
# would ride a broadcast.
#
# Oracle: the learning CTEs are re-unrolled (same trajectory as q242's
# oracle), the three patterns land in a 1-row constants CTE, and the
# encode is the identical replace chain inside list_transform — DuckDB
# lambdas capture the cross-joined 1-row scalars.
# ---------------------------------------------------------------------------


def _q244_oracle() -> str:
    learn = _q242_oracle()
    # reuse the learning CTE prefix: everything up to the final SELECT
    prefix = learn[: learn.index("SELECT * FROM (")]
    return f"""
    {prefix}
    , pat AS (
        SELECT (SELECT l || r FROM b1) AS p1,
               (SELECT l || r FROM b2) AS p2,
               (SELECT l || r FROM b3) AS p3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(before_syms) AS BIGINT) AS symbols_before,
           CAST(SUM(after_syms) AS BIGINT) AS symbols_after,
           CAST(CASE WHEN SUM(before_syms) = 0 THEN 0
                     ELSE (SUM(before_syms) - SUM(after_syms)) * 1000
                          // SUM(before_syms) END AS BIGINT) AS saved_permil
    FROM (
        SELECT source,
               COALESCE(list_sum(list_transform({_SQL_ALPHA_TOKENS},
                   t -> length(t))), 0) AS before_syms,
               COALESCE(list_sum(list_transform({_SQL_ALPHA_TOKENS},
                   t -> length(replace(replace(replace(t, pat.p1, '1'),
                                pat.p2, '2'), pat.p3, '3')))), 0) AS after_syms
        FROM documents, pat
    ) GROUP BY source
    """


def _register_q244() -> None:
    @_register("q244_bpe_encode", oracle=_q244_oracle())
    def q244_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source BPE compression: symbol counts before/after
        applying the 3 learned merges as a map-only native replace chain
        over each document's token array."""
        merges = bpe_learn(spark, sf_dir)
        p1, p2, p3 = (m[1] + m[2] for m in merges)
        docs = load_table_spread(spark, "documents", sf_dir)
        toks = alpha_tokens(F.col("text"))
        enc = (
            f"transform(filter(split(lower(trim(text)), '\\\\s+'),"
            f" t -> t rlike '^[a-z]+$'),"
            f" t -> length(replace(replace(replace(t, '{p1}', '1'),"
            f" '{p2}', '2'), '{p3}', '3')))"
        )
        per_doc = docs.select(
            "source",
            F.coalesce(
                F.aggregate(
                    toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.length(t),
                ),
                F.lit(0),
            ).alias("before_syms"),
            F.coalesce(
                F.expr(f"aggregate({enc}, CAST(0 AS BIGINT),"
                       " (acc, x) -> acc + x)"),
                F.lit(0),
            ).alias("after_syms"),
        )
        return per_doc.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("before_syms").cast("long").alias("symbols_before"),
            F.sum("after_syms").cast("long").alias("symbols_after"),
            F.expr(
                "CAST(CASE WHEN SUM(before_syms) = 0 THEN 0"
                " ELSE (SUM(before_syms) - SUM(after_syms)) * 1000"
                " div SUM(before_syms) END AS BIGINT)"
            ).alias("saved_permil"),
        )


_register_q244()


# ---------------------------------------------------------------------------
# q258 — collocation mining by lift (log-free PMI): which token BIGRAMS
# occur far more often than their unigram frequencies predict? The
# phrase-detection pass (word2vec-style phrase joining, index phrase
# extraction) in exact integers: lift·1e3 = (n_ab · N_bigrams · 1000)
# div (n_a · n_b) — the PMI exponent without the log, same ranking.
# Magnitudes: n_ab·N ≈ 1e5·1e5 = 1e10, ×1000 = 1e13 — int64-safe
# (at 100 TB counts the numerator moves to DECIMAL(38,0), expressions
# unchanged). Top-20 under the (lift desc, pair) total order.
#
# Plan: one bigram explode → (a, b) count; two broadcast joins against
# the |V|-row unigram table; |V|²-bounded matrix, then global top-k on
# that aggregated grain.
# ---------------------------------------------------------------------------


def _register_q258() -> None:
    @_register(
        "q258_collocation_lift",
        oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_SQL_ALPHA_TOKENS} AS t FROM documents
        ),
        bg AS (
            SELECT t[i] AS a, t[i + 1] AS b
            FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t) - 1)) AS i
                  FROM toks)
        ),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
        pair AS (
            SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM bg GROUP BY a, b
        ),
        uni AS (
            SELECT a AS w, CAST(COUNT(*) AS BIGINT) AS n_w
            FROM (SELECT a FROM bg UNION ALL SELECT b FROM bg)
            GROUP BY a
        ),
        lifted AS (
            SELECT p.a, p.b, p.n_ab,
                   CAST(p.n_ab * nb.n * 1000 // (ua.n_w * ub.n_w) AS BIGINT)
                       AS lift_permil
            FROM pair p
            JOIN uni ua ON p.a = ua.w
            JOIN uni ub ON p.b = ub.w
            CROSS JOIN nb
        )
        SELECT a, b, n_ab, lift_permil,
               CAST(rnk AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY lift_permil DESC, a, b) AS rnk
            FROM lifted
        ) WHERE rnk <= 20
        """,
    )
    def q258_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-20 token bigrams by integer lift (log-free PMI); unigram
        counts taken over bigram SLOTS so numerator and denominator
        share one sample space. See block comment."""
        docs = load_table_spread(spark, "documents", sf_dir)
        toks = alpha_tokens(F.col("text"))
        pos = docs.select(toks.alias("t")).filter(F.size("t") >= 2).select(
            "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
        )
        bg = pos.select(
            F.expr("t[i - 1]").alias("a"), F.expr("t[i]").alias("b")
        ).persist()  # feeds the pair count, both unigram slots, and N
        nb = bg.agg(F.count(F.lit(1)).cast("long").alias("n"))
        pair = bg.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("n_ab")
        )
        uni = (
            bg.select(F.col("a").alias("w"))
            .unionAll(bg.select(F.col("b").alias("w")))
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
        )
        ua = uni.select(F.col("w").alias("a"), F.col("n_w").alias("na"))
        ub = uni.select(F.col("w").alias("b"), F.col("n_w").alias("nb_"))
        lifted = (
            pair.join(F.broadcast(ua), "a")
            .join(F.broadcast(ub), "b")
            .crossJoin(F.broadcast(nb))
            .select(
                "a", "b", "n_ab",
                F.expr("CAST(n_ab * n * 1000 div (na * nb_) AS BIGINT)")
                .alias("lift_permil"),
            )
        )
        # bounded top-k (TakeOrderedAndProject + rank over <= 20 rows)
        return global_topk(
            lifted,
            [("lift_permil", "desc"), ("a", "asc"), ("b", "asc")],
            20,
            out="rnk",
        ).select(
            "a", "b", "n_ab", "lift_permil",
            F.col("rnk").cast("long").alias("rank"),
        )


_register_q258()


# ---------------------------------------------------------------------------
# q259 — the dataset card: one row a release pipeline stamps on a
# corpus drop (the quantitative half of a datasheet/model-card data
# section). Everything exact-integer: doc/source/lang counts, token
# totals (whitespace and alpha), character volume, vocabulary size,
# exact-duplicate census (md5 text groups), and derived permil ratios
# via truncating division.
#
# Plan: three independent 1-row aggregates (per-doc stats; md5-group
# dup census at the |distinct texts| grain; |V|-row vocabulary count)
# composed by broadcast 1-row crosses (bounded by construction,
# whitelisted). Each leg is one scan + map-side combine; Spark runs
# the legs as concurrent jobs under the single collecting action.
# ---------------------------------------------------------------------------


def _register_q259() -> None:
    @_register(
        "q259_dataset_card",
        oracle=f"""
        WITH base AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                        AS BIGINT) AS n_tokens,
                   CAST(SUM(len({_SQL_ALPHA_TOKENS})) AS BIGINT)
                       AS n_alpha_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM documents
        ),
        dup AS (
            SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS dup_docs,
                   CAST(COUNT(*) AS BIGINT) AS dup_groups
            FROM (
                SELECT COUNT(*) AS c FROM documents
                GROUP BY md5(text) HAVING COUNT(*) > 1
            )
        ),
        voc AS (
            SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size
            FROM (SELECT unnest({_SQL_ALPHA_TOKENS}) AS tok FROM documents)
        )
        SELECT base.*, dup.dup_docs, dup.dup_groups, voc.vocab_size,
               CAST(base.n_tokens * 1000 // base.n_docs AS BIGINT)
                   AS mean_doc_tokens_milli,
               CAST(dup.dup_docs * 1000 // base.n_docs AS BIGINT)
                   AS dup_permil
        FROM base, dup, voc
        """,
    )
    def q259_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
        """One-row corpus datasheet; see block comment for the legs."""
        d = load_table(spark, "documents", sf_dir)
        base = d.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("long").alias("n_tokens"),
            F.sum(F.size(alpha_tokens(F.col("text"))))
            .cast("long").alias("n_alpha_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        dup = (
            d.groupBy(F.md5("text").alias("h"))
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long")
                .alias("dup_docs"),
                F.count(F.lit(1)).cast("long").alias("dup_groups"),
            )
        )
        voc = (
            d.select(F.explode(alpha_tokens(F.col("text"))).alias("tok"))
            .agg(F.countDistinct("tok").cast("long").alias("vocab_size"))
        )
        return (
            base.crossJoin(F.broadcast(dup))
            .crossJoin(F.broadcast(voc))
            .select(
                "*",
                F.expr("CAST(n_tokens * 1000 div n_docs AS BIGINT)")
                .alias("mean_doc_tokens_milli"),
                F.expr("CAST(dup_docs * 1000 div n_docs AS BIGINT)")
                .alias("dup_permil"),
            )
        )


_register_q259()


# ---------------------------------------------------------------------------
# q261 — greedy decoding from the corpus bigram model: start at the
# most frequent first-slot token and repeatedly emit the argmax
# continuation (count desc, token asc — a total order, so the decode
# is a pure function of the corpus). The generation face of the LM
# family (q232 scores documents under this model; q261 samples its
# mode path), and the loop pattern of every decode stack: per step,
# one bounded argmax against a PERSISTED model artifact — the model is
# built once (the corpus-sized work), steps touch only the |V|²-bounded
# bigram table. Greedy decodes cycle quickly on a small vocabulary —
# expected, deterministic, and exactly what the unrolled DuckDB
# trajectory reproduces.
#
# Scale notes: the 10 per-step argmaxes are driver-scalar decisions
# (the q74-centroid convention) over the persisted model — at 100 TB
# the model build is the only pass over data; serving-side decode would
# hold the (dim-sized) model in a store, exactly this shape.
# ---------------------------------------------------------------------------

_Q261_STEPS = 10


def _q261_oracle() -> str:
    ctes = [f"""
    bg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM (SELECT {_SQL_ALPHA_TOKENS} AS t FROM documents)
        ) GROUP BY 1, 2
    )""",
        """s0 AS (
        SELECT w1 AS tok, CAST(SUM(c) AS BIGINT) AS c
        FROM bg GROUP BY w1 ORDER BY c DESC, tok LIMIT 1
    )""",
    ]
    for i in range(1, _Q261_STEPS + 1):
        ctes.append(f"""s{i} AS (
        SELECT w2 AS tok, c FROM bg
        WHERE w1 = (SELECT tok FROM s{i - 1})
        ORDER BY c DESC, w2 LIMIT 1
    )""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS step, tok, c AS count_used FROM s{i}"
        for i in range(_Q261_STEPS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + sel


def _register_q261() -> None:
    @_register("q261_greedy_decode", oracle=_q261_oracle())
    def q261_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The 11-token greedy mode path of the corpus bigram model
        (step 0 = most frequent first-slot token); see block comment."""
        docs = load_table(spark, "documents", sf_dir)
        toks = alpha_tokens(F.col("text"))
        pos = docs.select(toks.alias("t")).filter(F.size("t") >= 2).select(
            "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
        )
        bg = (
            pos.select(
                F.expr("t[i - 1]").alias("w1"), F.expr("t[i]").alias("w2")
            )
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .persist()  # the model artifact: built once, probed per step
        )
        try:
            start = (
                bg.groupBy("w1")
                .agg(F.sum("c").cast("long").alias("c"))
                .orderBy(F.desc("c"), "w1")
                .first()
            )
            out = [(0, start["w1"], int(start["c"]))]
            cur = start["w1"]
            for step in range(1, _Q261_STEPS + 1):
                nxt = (
                    bg.filter(F.col("w1") == cur)
                    .orderBy(F.desc("c"), "w2")
                    .first()
                )  # 1-row driver scalar per step, bounded by construction
                if nxt is None:
                    break
                out.append((step, nxt["w2"], int(nxt["c"])))
                cur = nxt["w2"]
            return spark.createDataFrame(
                out, "step long, tok string, count_used long"
            )
        finally:
            bg.unpersist()


_register_q261()


# ---------------------------------------------------------------------------
# q277 — retrieval evaluation (MRR / Hits@10): the scorecard of the
# search stack (q226 keyword, q237 fusion) measured the way IR evals
# run — a query set, graded relevance, rank-based metrics. Queries are
# the 10 rarest corpus tokens (rarity is where ranking quality shows);
# qrels are deterministic (doc relevant to q iff tf(q, doc) ≥ 2);
# ranking is tf desc with a doc_id tie-break (total order, cookbook).
# Reciprocal ranks are exact integers (1e6 div first_rel_rank), so MRR
# aggregation upstream is a plain integer mean.
#
# Plan: one (token, doc, tf) aggregate; the 10-row query set broadcast-
# joins it; one per-query rank window over that restricted posting set;
# a |queries|-row metric aggregate.
# ---------------------------------------------------------------------------


def _register_q277() -> None:
    @_register(
        "q277_retrieval_eval",
        oracle=f"""
        WITH occ AS (
            SELECT tok, doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (
                SELECT doc_id, unnest({_SQL_ALPHA_TOKENS}) AS tok
                FROM documents
            ) GROUP BY tok, doc_id
        ),
        qset AS (
            SELECT tok FROM (
                SELECT tok, SUM(tf) AS c FROM occ GROUP BY tok
            ) ORDER BY c, tok LIMIT 10
        ),
        ranked AS (
            SELECT o.tok, o.doc, o.tf,
                   ROW_NUMBER() OVER (PARTITION BY o.tok
                                      ORDER BY o.tf DESC, o.doc) AS rnk
            FROM occ o JOIN qset q ON o.tok = q.tok
        )
        SELECT tok AS query,
               CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_relevant,
               CAST(MIN(CASE WHEN tf >= 2 THEN rnk END) AS BIGINT)
                   AS first_rel_rank,
               CAST(1000000 // MIN(CASE WHEN tf >= 2 THEN rnk END)
                    AS BIGINT) AS rr_ppm,
               CAST(SUM(CASE WHEN tf >= 2 AND rnk <= 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits_at_10
        FROM ranked
        GROUP BY tok
        HAVING SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) > 0
        """,
    )
    def q277_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MRR / Hits@10 for tf-ranked retrieval over the 10 rarest
        query tokens with tf≥2 qrels; see block comment."""
        docs = load_table(spark, "documents", sf_dir)
        occ = (
            docs.select(
                F.col("doc_id").alias("doc"),
                F.explode(alpha_tokens(F.col("text"))).alias("tok"),
            )
            .groupBy("tok", "doc")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            .persist()  # feeds the query-set choice AND the ranking
        )
        qset = (
            occ.groupBy("tok")
            .agg(F.sum("tf").alias("c"))
            .orderBy("c", "tok")
            .limit(10)
            .select("tok")
        )
        wr = Window.partitionBy("tok").orderBy(F.desc("tf"), "doc")
        ranked = occ.join(F.broadcast(qset), "tok").select(
            "tok", "doc", "tf", F.row_number().over(wr).alias("rnk")
        )
        rel = F.col("tf") >= 2
        return (
            ranked.groupBy(F.col("tok").alias("query"))
            .agg(
                F.sum(rel.cast("long")).cast("long").alias("n_relevant"),
                F.min(F.when(rel, F.col("rnk"))).cast("long")
                .alias("first_rel_rank"),
                F.expr(
                    "CAST(1000000 div MIN(CASE WHEN tf >= 2 THEN rnk END)"
                    " AS BIGINT)"
                ).alias("rr_ppm"),
                F.sum((rel & (F.col("rnk") <= 10)).cast("long"))
                .cast("long").alias("hits_at_10"),
            )
            .filter(F.col("n_relevant") > 0)
        )


_register_q277()


# ---------------------------------------------------------------------------
# q294 — DSIR: Data Selection with Importance Resampling (Xie et al.
# 2023). The canonical pretraining-curation recipe: represent documents
# as HASHED n-gram feature counts, fit target and source bag-of-buckets
# models, weight every document by how target-like its features are,
# then keep the top of the ranking. Here the target is the lang='en'
# slice, features are md5-hashed unigram buckets (B=256, the paper's
# hashed-feature trick at toy width), and the per-token importance
# ratio is kept in EXACT integer ppm with Laplace smoothing:
#
#   r(b)      = (1e6 · (c_t(b)+1)) div (c_s(b)+1)
#   raw(doc)  = (Σ r over the doc's tokens) div n_tokens
#   adj(doc)  = (raw · (N_s+B)) div (N_t+B)      — the normalizer fold
#
# A floor-mean of ratios instead of the paper's Σ log-ratio: the
# monotone-twin device q232 documents (log/exp are not portable across
# engines — cookbook); the ranking it induces is the same
# "most-target-like first" ordering DSIR thresholding needs.
#
# Plan shape: ONE explode pass (checkpointed — feeds model and scoring,
# plan-discipline rule), the model is B≤256 rows (broadcast join), the
# doc aggregate is map-side combinable, and the final top-50 is a
# bounded window. At 100 TB: token stream shuffles once for the model
# groupBy, the model broadcast makes scoring map-only — the DSIR pass
# is two linear scans regardless of corpus size.
# ---------------------------------------------------------------------------

_DSIR_B = 256
_DSIR_TOPK = 50


@_register(
    "q294_dsir_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_SQL_ALPHA_TOKENS}) AS tok
        FROM documents
    ),
    tb AS (
        SELECT doc_id, lang, {_sql_bucket("tok", _DSIR_B, "dsir")} AS b
        FROM toks
    ),
    model AS (
        SELECT b, COUNT(*) AS cs,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        FROM tb GROUP BY b
    ),
    mr AS (
        SELECT b, (1000000 * (ct + 1)) // (cs + 1) AS r FROM model
    ),
    nn AS (SELECT SUM(cs) AS ns, SUM(ct) AS nt FROM model),
    ds AS (
        SELECT tb.doc_id, MIN(tb.lang) AS lang,
               COUNT(*) AS n_tokens, SUM(mr.r) // COUNT(*) AS raw_ppm
        FROM tb JOIN mr USING (b) GROUP BY tb.doc_id
    ),
    adj AS (
        SELECT ds.doc_id, ds.lang, ds.n_tokens, ds.raw_ppm,
               (ds.raw_ppm * (nn.ns + {_DSIR_B}))
                   // (nn.nt + {_DSIR_B}) AS adj_ppm
        FROM ds, nn
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(raw_ppm AS BIGINT) AS raw_ppm,
           CAST(adj_ppm AS BIGINT) AS adj_ppm,
           CAST(rnk AS BIGINT) AS rank
    FROM (
        SELECT adj.*, ROW_NUMBER() OVER (
            ORDER BY adj_ppm DESC, doc_id
        ) AS rnk FROM adj
    ) WHERE rnk <= {_DSIR_TOPK}
    """,
)
def q294_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} most target-like documents by DSIR hashed-unigram
    importance ratio (target = lang='en'), exact integer ppm; see block
    comment.""".format(k=_DSIR_TOPK)
    d = load_table_spread(spark, "documents", sf_dir)
    tb = (
        d.select(
            "doc_id", "lang",
            F.explode(alpha_tokens(F.col("text"))).alias("tok"),
        )
        .select(
            "doc_id", "lang",
            hash_bucket(F.col("tok"), _DSIR_B, "dsir").alias("b"),
        )
        .transform(materialize)  # feeds model build AND scoring join
    )
    # The model is B<=256 rows: ONE collect yields totals and ratios as
    # driver scalars (documented pattern), saving a checkpoint job
    mrows = tb.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cs"),
        F.sum((F.col("lang") == "en").cast("long")).cast("long").alias("ct"),
    ).collect()
    ns = sum(r["cs"] for r in mrows)
    nt = sum(r["ct"] for r in mrows)
    mr = spark.createDataFrame(
        [(r["b"], (1_000_000 * (r["ct"] + 1)) // (r["cs"] + 1))
         for r in mrows],
        "b long, r long",
    )
    ds = (
        tb.join(F.broadcast(mr), "b")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.expr("sum(r) div count(*)").cast("long").alias("raw_ppm"),
        )
        .withColumn(
            "adj_ppm",
            F.expr(
                f"(raw_ppm * {ns + _DSIR_B}L) div {nt + _DSIR_B}L"
            ).cast("long"),
        )
    )
    # top-k WITHOUT a global window: orderBy().limit(k) compiles to
    # TakeOrderedAndProject (the _ranked_topk device); the rank window
    # then runs over k rows only
    top = ds.orderBy(F.desc("adj_ppm"), F.asc("doc_id")).limit(_DSIR_TOPK)
    w = Window.orderBy(F.desc("adj_ppm"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "lang", "n_tokens", "raw_ppm", "adj_ppm",
        F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# q301 — unigram-LM Viterbi segmentation (the SentencePiece decode rule,
# Kudo 2018): given a piece inventory with additive costs, segment every
# corpus word into the MINIMUM-cost piece sequence by dynamic
# programming. This is the other half of the tokenizer family — q242/q244
# learn and apply BPE's greedy merges; unigram tokenizers instead pick
# the globally optimal segmentation per word, and THIS DP is the exact
# operator they run at encode time.
#
# Deterministic, integer-exact setup: the inventory is every character
# and every adjacent character bigram observed in the corpus's word
# INSTANCES (so every word is segmentable by construction), with
# cost(piece) = 1_000_000 + 1_000_000_000 div (freq + 1) — the per-piece
# penalty plays −log p, frequency discounts it, and all arithmetic stays
# int64. Because optimal segmentations can TIE, the well-defined outputs
# are the minimum cost itself and the NUMBER of optimal segmentations
# (the path-count DP rides along) — never an arbitrary argmin choice.
#
# Pieces span ≤ 2 characters, so the DP is a linear recurrence —
# best(i) = min(best(i−1) + c1(i), best(i−2) + c2(i−1, i)) — which the
# oracle replays as a LINEAR recursive CTE (one row per (word, position),
# the q67 recursive-join device; no exponential path enumeration).
#
# Scale shape: the corpus-sized work is the two piece-frequency
# aggregates (map-side combinable wordcounts); the inventory is ≤ 26+26²
# rows (a documented driver scalar, the k-centroid class); the DP runs
# once per DISTINCT word (vocabulary grain) in one Arrow-batched map
# pass with the cost dicts folded into the closure.
# ---------------------------------------------------------------------------

_Q301_PENALTY = 1_000_000
_Q301_FREQ_NUM = 1_000_000_000
_Q301_HUGE = 1 << 60


def _q301_dp_kernel(c1: dict, c2: dict):
    def fn(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for w in pdf["word"]:
                best_prev, paths_prev = None, 0      # pos-1 state
                best, paths = 0, 1                   # pos-0 state
                for i in range(1, len(w) + 1):
                    cand1 = best + c1[w[i - 1]]
                    cand2 = (
                        best_prev + c2[w[i - 2:i]]
                        if i >= 2 else _Q301_HUGE
                    )
                    nb = min(cand1, cand2)
                    np_ = (paths if cand1 == nb else 0) + (
                        paths_prev if cand2 == nb else 0
                    )
                    best_prev, paths_prev = best, paths
                    best, paths = nb, np_
                recs.append((w, len(w), best, paths))
            yield pd.DataFrame(
                recs, columns=["word", "len", "min_cost", "n_best_paths"]
            ).astype({"word": "str", "len": "int64",
                      "min_cost": "int64", "n_best_paths": "int64"})

    return fn


def _q301_oracle() -> str:
    cost = f"{_Q301_PENALTY} + {_Q301_FREQ_NUM} // (f + 1)"
    return f"""
    WITH RECURSIVE winst AS (
        SELECT unnest({_SQL_ALPHA_TOKENS}) AS w FROM documents
    ),
    words AS (SELECT DISTINCT w FROM winst WHERE length(w) >= 1),
    chars AS (
        SELECT substr(w, i, 1) AS piece, COUNT(*) AS f
        FROM (SELECT w, unnest(generate_series(1, length(w))) AS i
              FROM winst)
        GROUP BY piece
    ),
    bigs AS (
        SELECT substr(w, i, 2) AS piece, COUNT(*) AS f
        FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM winst WHERE length(w) >= 2)
        GROUP BY piece
    ),
    cost1 AS (SELECT piece, CAST({cost} AS BIGINT) AS c FROM chars),
    cost2 AS (SELECT piece, CAST({cost} AS BIGINT) AS c FROM bigs),
    poscost AS (
        SELECT wp.w, wp.pos, c1.c AS cc1,
               COALESCE(c2.c, {_Q301_HUGE}) AS cc2
        FROM (SELECT w, unnest(generate_series(1, length(w))) AS pos
              FROM words) wp
        LEFT JOIN cost1 c1 ON c1.piece = substr(wp.w, wp.pos, 1)
        LEFT JOIN cost2 c2 ON wp.pos >= 2
                          AND c2.piece = substr(wp.w, wp.pos - 1, 2)
    ),
    dp AS (
        SELECT w, 0 AS pos,
               CAST(0 AS BIGINT) AS best,
               CAST({_Q301_HUGE} AS BIGINT) AS bprev,
               CAST(1 AS BIGINT) AS paths,
               CAST(0 AS BIGINT) AS pprev
        FROM words
        UNION ALL
        SELECT w, pos,
               CASE WHEN cand1 <= cand2 THEN cand1 ELSE cand2 END,
               prev_best,
               CASE WHEN cand1 <= cand2 THEN cur_paths ELSE 0 END
               + CASE WHEN cand2 <= cand1 THEN prev_paths ELSE 0 END,
               cur_paths
        FROM (
            SELECT d.w, d.pos + 1 AS pos,
                   d.best + p.cc1 AS cand1,
                   CASE WHEN d.pos >= 1 THEN d.bprev + p.cc2
                        ELSE {_Q301_HUGE} END AS cand2,
                   d.best AS prev_best,
                   d.paths AS cur_paths,
                   d.pprev AS prev_paths
            FROM dp d JOIN poscost p ON p.w = d.w AND p.pos = d.pos + 1
        ) s(w, pos, cand1, cand2, prev_best, cur_paths, prev_paths)
    )
    SELECT w AS word, CAST(length(w) AS BIGINT) AS len,
           best AS min_cost, paths AS n_best_paths
    FROM dp WHERE pos = length(w)
    """


def _register_q301() -> None:
    @_register("q301_unigram_viterbi", oracle=_q301_oracle())
    def q301_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Minimum-cost unigram segmentation of every distinct corpus
        word (char+bigram inventory, integer costs): (word, len,
        min_cost, number of optimal segmentations). See block comment."""
        d = load_table_spread(spark, "documents", sf_dir)
        winst = d.select(
            F.explode(alpha_tokens(F.col("text"))).alias("w")
        )
        chars = (
            winst.select(
                F.explode(
                    F.expr("transform(sequence(1, length(w)),"
                           " i -> substring(w, i, 1))")
                ).alias("piece")
            )
            .groupBy("piece")
            .agg(F.count(F.lit(1)).alias("f"))
            .collect()
        )
        bigs = (
            winst.filter(F.length("w") >= 2)
            .select(
                F.explode(
                    F.expr("transform(sequence(1, length(w) - 1),"
                           " i -> substring(w, i, 2))")
                ).alias("piece")
            )
            .groupBy("piece")
            .agg(F.count(F.lit(1)).alias("f"))
            .collect()
        )
        # ≤ 26 + 26² cost entries — bounded driver scalars (k-centroid
        # class), folded into the DP kernel's closure
        c1 = {
            r["piece"]: _Q301_PENALTY + _Q301_FREQ_NUM // (r["f"] + 1)
            for r in chars
        }
        c2 = {
            r["piece"]: _Q301_PENALTY + _Q301_FREQ_NUM // (r["f"] + 1)
            for r in bigs
        }
        words = winst.distinct().withColumnRenamed("w", "word")
        return words.mapInPandas(
            _q301_dp_kernel(c1, c2),
            schema="word string, len long, min_cost long,"
                   " n_best_paths long",
        )


_register_q301()


# ---------------------------------------------------------------------------
# q307 — unigram-LM tokenizer TRAINING (Viterbi-EM re-estimation, the
# SentencePiece learn loop, Kudo 2018): the missing half of the unigram
# family — q301 ships the Viterbi DECODE; this trains the piece costs.
# BPE has both halves (q242 learn / q244 apply); now unigram does too.
#
# Deterministic integer EM (no FP, no sampling): the inventory is fixed
# (every corpus character + adjacent bigram, as q301), and each round is
#   E-step  — per DISTINCT word, a forward AND a backward min-cost /
#             path-count DP under the current costs; a piece edge
#             (i→j) lies on an optimal segmentation iff
#             fwd_best(i) + cost + bwd_best(j) == fwd_best(|w|), and the
#             number of optimal paths through it is fwd_paths(i) ×
#             bwd_paths(j). Piece usage u(piece) sums those counts ×
#             word frequency — the exact integer analogue of expected
#             counts, resolving TIES by counting every optimal path
#             (never an arbitrary argmin), the q301 stance.
#   M-step  — cost(piece) = 1e6 + 1e9 div (u + 1), the identical cost
#             transform q301 applies to raw frequencies; unused pieces
#             stay in the inventory at the maximum cost.
# Two unrolled rounds (u1 under the frequency costs, u2 under the
# re-estimated costs), matching the oracle's unrolled CTE chain.
#
# Int64 bounds: path counts ≤ Fib(|w|) (all-ties worst case, ≤ 1.6e6 at
# |w| = 30); fwd×bwd products ≤ the word's total optimal-path count;
# × word frequency ≤ ~1e12 at SF100 — all safely int64.
#
# Scale shape: corpus-sized work is ONE word-frequency aggregate
# (map-side combinable); everything after runs at vocabulary grain (two
# Arrow-batched DP passes over DISTINCT words) or piece grain (≤ 26+26²
# rows — the bounded driver-scalar class for the M-steps, and bounded
# broadcast dims for the final assembly). The oracle unrolls both EM
# rounds as recursive CTEs — forward and backward DPs per round (linear,
# one row per (word, position)) — with materialized piece-cost CTEs so
# DuckDB doesn't re-evaluate the chain per reference (the q212 lesson).
# ---------------------------------------------------------------------------


def _q307_em_kernel(c1: dict, c2: dict):
    """Per-word forward+backward DP under piece costs (c1 1-char, c2
    2-char); emits (piece, u) edge-marginal usage rows, u = Σ over
    optimal-path edge occurrences of fwd_paths × bwd_paths × word freq."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            usage: dict[str, int] = {}
            for w, fw in zip(pdf["word"], pdf["freq"]):
                fw = int(fw)
                L = len(w)
                bf = [0] * (L + 1)
                pf = [0] * (L + 1)
                pf[0] = 1
                for i in range(1, L + 1):
                    cand1 = bf[i - 1] + c1[w[i - 1]]
                    cand2 = (
                        bf[i - 2] + c2[w[i - 2:i]] if i >= 2 else _Q301_HUGE
                    )
                    bf[i] = min(cand1, cand2)
                    pf[i] = (pf[i - 1] if cand1 == bf[i] else 0) + (
                        pf[i - 2] if i >= 2 and cand2 == bf[i] else 0
                    )
                bb = [0] * (L + 1)
                pb = [0] * (L + 1)
                pb[L] = 1
                for i in range(L - 1, -1, -1):
                    cand1 = c1[w[i]] + bb[i + 1]
                    cand2 = (
                        c2[w[i:i + 2]] + bb[i + 2]
                        if i + 2 <= L else _Q301_HUGE
                    )
                    bb[i] = min(cand1, cand2)
                    pb[i] = (pb[i + 1] if cand1 == bb[i] else 0) + (
                        pb[i + 2] if i + 2 <= L and cand2 == bb[i] else 0
                    )
                total = bf[L]
                for i in range(1, L + 1):
                    p1 = w[i - 1]
                    if bf[i - 1] + c1[p1] + bb[i] == total:
                        usage[p1] = usage.get(p1, 0) + pf[i - 1] * pb[i] * fw
                    if i >= 2:
                        p2 = w[i - 2:i]
                        if bf[i - 2] + c2[p2] + bb[i] == total:
                            usage[p2] = (
                                usage.get(p2, 0) + pf[i - 2] * pb[i] * fw
                            )
            yield pd.DataFrame(
                {"piece": list(usage.keys()),
                 "u": [int(v) for v in usage.values()]}
            ).astype({"piece": "str", "u": "int64"})

    return fn


def _q307_dp_pair(rnd: str, c1: str, c2: str) -> str:
    """Forward + backward recursive DPs for one EM round against the
    given 1-char/2-char cost tables, plus the per-word edge-marginal
    usage aggregate. Module-level so q317's oracle can splice the same
    EM rounds ahead of its trained-cost decode DP."""
    return f"""
    fpc{rnd} AS MATERIALIZED (
        SELECT wp.w, wp.pos, c1.c AS cc1,
               COALESCE(c2.c, {_Q301_HUGE}) AS cc2
        FROM wpos wp
        LEFT JOIN {c1} c1 ON c1.piece = substr(wp.w, wp.pos, 1)
        LEFT JOIN {c2} c2 ON wp.pos >= 2
                         AND c2.piece = substr(wp.w, wp.pos - 1, 2)
    ),
    bpc{rnd} AS MATERIALIZED (
        SELECT wp.w, wp.pos, c1.c AS bc1,
               COALESCE(c2.c, {_Q301_HUGE}) AS bc2
        FROM wpos wp
        LEFT JOIN {c1} c1 ON c1.piece = substr(wp.w, wp.pos, 1)
        LEFT JOIN {c2} c2 ON wp.pos + 1 <= length(wp.w)
                         AND c2.piece = substr(wp.w, wp.pos, 2)
    ),
    fwd{rnd} AS (
        SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best,
               CAST({_Q301_HUGE} AS BIGINT) AS bprev,
               CAST(1 AS BIGINT) AS paths, CAST(0 AS BIGINT) AS pprev
        FROM words
        UNION ALL
        SELECT w, pos,
               CASE WHEN cand1 <= cand2 THEN cand1 ELSE cand2 END,
               prev_best,
               CASE WHEN cand1 <= cand2 THEN cur_paths ELSE 0 END
               + CASE WHEN cand2 <= cand1 THEN prev_paths ELSE 0 END,
               cur_paths
        FROM (
            SELECT d.w, d.pos + 1 AS pos,
                   d.best + p.cc1 AS cand1,
                   CASE WHEN d.pos >= 1 THEN d.bprev + p.cc2
                        ELSE {_Q301_HUGE} END AS cand2,
                   d.best AS prev_best, d.paths AS cur_paths,
                   d.pprev AS prev_paths
            FROM fwd{rnd} d JOIN fpc{rnd} p
              ON p.w = d.w AND p.pos = d.pos + 1
        ) s(w, pos, cand1, cand2, prev_best, cur_paths, prev_paths)
    ),
    bwd{rnd} AS (
        SELECT w, length(w) AS pos, CAST(0 AS BIGINT) AS best,
               CAST({_Q301_HUGE} AS BIGINT) AS bnext,
               CAST(1 AS BIGINT) AS paths, CAST(0 AS BIGINT) AS pnext
        FROM words
        UNION ALL
        SELECT w, pos,
               CASE WHEN cand1 <= cand2 THEN cand1 ELSE cand2 END,
               prev_best,
               CASE WHEN cand1 <= cand2 THEN cur_paths ELSE 0 END
               + CASE WHEN cand2 <= cand1 THEN prev_paths ELSE 0 END,
               cur_paths
        FROM (
            SELECT d.w, d.pos - 1 AS pos,
                   p.bc1 + d.best AS cand1,
                   CASE WHEN d.pos + 1 <= length(d.w)
                        THEN p.bc2 + d.bnext
                        ELSE {_Q301_HUGE} END AS cand2,
                   d.best AS prev_best, d.paths AS cur_paths,
                   d.pnext AS prev_paths
            FROM bwd{rnd} d JOIN bpc{rnd} p
              ON p.w = d.w AND p.pos = d.pos
            WHERE d.pos >= 1
        ) s(w, pos, cand1, cand2, prev_best, cur_paths, prev_paths)
    ),
    fwdm{rnd} AS MATERIALIZED (
        SELECT w, pos, best, paths FROM fwd{rnd}
    ),
    bwdm{rnd} AS MATERIALIZED (
        SELECT w, pos, best, paths FROM bwd{rnd}
    ),
    tot{rnd} AS MATERIALIZED (
        SELECT w, best AS total FROM fwdm{rnd} f
        WHERE pos = length(w)
    ),
    use{rnd} AS MATERIALIZED (
        SELECT piece, CAST(SUM(n) AS BIGINT) AS u FROM (
            SELECT substr(f.w, f.pos + 1, 1) AS piece,
                   f.paths * b.paths * wd.fw AS n
            FROM fwdm{rnd} f
            JOIN bwdm{rnd} b ON b.w = f.w AND b.pos = f.pos + 1
            JOIN tot{rnd} t ON t.w = f.w
            JOIN words wd ON wd.w = f.w
            JOIN fpc{rnd} p ON p.w = f.w AND p.pos = f.pos + 1
            WHERE f.pos + 1 <= length(f.w)
              AND f.best + p.cc1 + b.best = t.total
            UNION ALL
            SELECT substr(f.w, f.pos + 1, 2) AS piece,
                   f.paths * b.paths * wd.fw AS n
            FROM fwdm{rnd} f
            JOIN bwdm{rnd} b ON b.w = f.w AND b.pos = f.pos + 2
            JOIN tot{rnd} t ON t.w = f.w
            JOIN words wd ON wd.w = f.w
            JOIN fpc{rnd} p ON p.w = f.w AND p.pos = f.pos + 2
            WHERE f.pos + 2 <= length(f.w)
              AND f.best + p.cc2 + b.best = t.total
        ) GROUP BY piece
    )"""

def _q307_em_chain() -> str:
    """The shared two-round EM CTE chain (corpus → words → inventory →
    round-1 frequency costs → EM round 1 → re-estimated costs → EM
    round 2, ending with ``use2``). q307's oracle appends the usage
    report; q317's appends the trained-cost decode DP."""
    cost = f"{_Q301_PENALTY} + {_Q301_FREQ_NUM} // (COALESCE(u, 0) + 1)"
    cost0 = f"{_Q301_PENALTY} + {_Q301_FREQ_NUM} // (f + 1)"
    return f"""
    WITH RECURSIVE winst AS (
        SELECT unnest({_SQL_ALPHA_TOKENS}) AS w FROM documents
    ),
    words AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS fw FROM winst
        WHERE length(w) >= 1 GROUP BY w
    ),
    wpos AS MATERIALIZED (
        SELECT w, unnest(generate_series(1, length(w))) AS pos FROM words
    ),
    chars0 AS MATERIALIZED (
        SELECT substr(w, pos, 1) AS piece, CAST(SUM(fw) AS BIGINT) AS f
        FROM wpos JOIN words USING (w) GROUP BY piece
    ),
    bigs0 AS MATERIALIZED (
        SELECT substr(w, pos - 1, 2) AS piece, CAST(SUM(fw) AS BIGINT) AS f
        FROM wpos JOIN words USING (w) WHERE pos >= 2 GROUP BY piece
    ),
    inv AS MATERIALIZED (
        SELECT piece, f FROM chars0 UNION ALL SELECT piece, f FROM bigs0
    ),
    c1r1 AS MATERIALIZED (
        SELECT piece, CAST({cost0} AS BIGINT) AS c FROM chars0
    ),
    c2r1 AS MATERIALIZED (
        SELECT piece, CAST({cost0} AS BIGINT) AS c FROM bigs0
    ),
    {_q307_dp_pair('1', 'c1r1', 'c2r1')},
    c1r2 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM chars0 i LEFT JOIN use1 ON use1.piece = i.piece
    ),
    c2r2 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM bigs0 i LEFT JOIN use1 ON use1.piece = i.piece
    ),
    {_q307_dp_pair('2', 'c1r2', 'c2r2')}"""


def _q307_oracle() -> str:
    return f"""{_q307_em_chain()}
    SELECT inv.piece AS piece,
           CAST(length(inv.piece) AS BIGINT) AS piece_len,
           inv.f AS f0,
           CAST(COALESCE(use1.u, 0) AS BIGINT) AS u1,
           CAST(COALESCE(use2.u, 0) AS BIGINT) AS u2,
           CAST({_Q301_PENALTY} + {_Q301_FREQ_NUM}
                // (COALESCE(use2.u, 0) + 1) AS BIGINT) AS cost2
    FROM inv
    LEFT JOIN use1 ON use1.piece = inv.piece
    LEFT JOIN use2 ON use2.piece = inv.piece
    """


def _register_q307() -> None:
    @_register("q307_unigram_em_train", oracle=_q307_oracle())
    def q307_unigram_em_train(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Two Viterbi-EM rounds over the q301 cost model: per-piece
        usage from the forward×backward path-count edge marginals (u1
        under frequency costs, u2 under the round-1 re-estimation) and
        the final re-estimated cost. See block comment."""
        d = load_table_spread(spark, "documents", sf_dir)
        winst = d.select(
            F.explode(alpha_tokens(F.col("text"))).alias("w")
        )
        # The ONLY corpus-sized shuffle: word frequencies (map-side
        # combinable). Consumed by both EM passes → persist; released in
        # the finally after the bounded result materializes (q252 device).
        words = (
            winst.groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .withColumnRenamed("w", "word")
            .persist()
        )
        # Piece inventory with raw frequencies — ≤ 26 + 26² rows; feeds
        # the round-1 costs (collected driver scalars, k-centroid class)
        # AND the final assembly join → persist.
        wexp = words.select(
            "word", "freq",
            F.explode(
                F.expr("transform(sequence(1, length(word)),"
                       " i -> substring(word, i, 1))")
            ).alias("piece"),
        ).groupBy("piece").agg(F.sum("freq").cast("long").alias("f"))
        bexp = (
            words.filter(F.length("word") >= 2)
            .select(
                "word", "freq",
                F.explode(
                    F.expr("transform(sequence(1, length(word) - 1),"
                           " i -> substring(word, i, 2))")
                ).alias("piece"),
            )
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("f"))
        )
        inv = wexp.unionAll(bexp).persist()
        try:
            f0 = {r["piece"]: r["f"] for r in inv.collect()}

            def mstep(u: dict) -> tuple[dict, dict]:
                c1 = {
                    p: _Q301_PENALTY + _Q301_FREQ_NUM // (u.get(p, 0) + 1)
                    for p in f0 if len(p) == 1
                }
                c2 = {
                    p: _Q301_PENALTY + _Q301_FREQ_NUM // (u.get(p, 0) + 1)
                    for p in f0 if len(p) == 2
                }
                return c1, c2

            c1, c2 = mstep(f0)  # round-1 costs ARE the frequency costs
            schema = "piece string, u long"
            u1 = {
                r["piece"]: r["u"]
                for r in words.mapInPandas(_q307_em_kernel(c1, c2), schema)
                .groupBy("piece").agg(F.sum("u").cast("long").alias("u"))
                .collect()  # ≤ 26 + 26² rows — bounded driver scalars
            }
            c1, c2 = mstep(u1)
            u2f = (
                words.mapInPandas(_q307_em_kernel(c1, c2), schema)
                .groupBy("piece").agg(F.sum("u").cast("long").alias("u2"))
            )
            u1f = spark.createDataFrame(
                [(p, int(v)) for p, v in sorted(u1.items())] or
                [("", 0)], "piece string, u1 long",
            ).filter(F.length("piece") >= 1)
            # u1f/u2f are piece-grain — bounded ≤ 26 + 26² by
            # construction → broadcast is safe at any corpus size.
            out = (
                inv.join(F.broadcast(u1f), "piece", "left")
                .join(F.broadcast(u2f), "piece", "left")
                .select(
                    "piece",
                    F.length("piece").cast("long").alias("piece_len"),
                    F.col("f").alias("f0"),
                    F.coalesce("u1", F.lit(0)).cast("long").alias("u1"),
                    F.coalesce("u2", F.lit(0)).cast("long").alias("u2"),
                    (
                        F.lit(_Q301_PENALTY)
                        + F.expr(
                            f"{_Q301_FREQ_NUM} div"
                            " (COALESCE(u2, 0) + 1)"
                        )
                    ).cast("long").alias("cost2"),
                )
            )
            # ≤ 702 rows: materialize so the finally can release the
            # caches without the returned frame recomputing the passes
            return materialize(out)
        finally:
            words.unpersist()
            inv.unpersist()


_register_q307()



# ---------------------------------------------------------------------------
# q308 — TRAINED quality classifier (the fastText-shape discriminative
# sibling of DSIR q294's n-gram ratios): logistic regression over
# hashing-trick features, trained by fixed-iteration FULL-BATCH gradient
# descent entirely in quantized integer space (the q122/q301 determinism
# recipe), scoring documents for curation beside the rule-based q19.
# This is the model-based curation family's missing member — real
# pipelines (fastText quality filters, CCNet) train exactly this shape,
# distilling a labeling rule into a linear model over cheap features.
#
# Deterministic integer setup:
# - label y = q19's signals imply fluent prose: stopword hits·10 ≥
#   tokens AND tokens ≥ 5 (pure int comparisons);
# - features (the q164 md5 slot + sign-bit device, one 32-slot signed
#   space, "name=value" prefixes) + a bias slot 32: lang, source,
#   token-count DIGIT bucket, lexical-diversity decile, stopword-ratio
#   decile — the quantized q19 signals a real quality model consumes
#   (the ratio decile is COARSER than the rule, so the model must
#   genuinely combine it with the length feature to recover the label;
#   pytest pins AUC ≈ 1 as the learnability proof);
# - weights in ppm; z = Σ w·x; σ is the HARD sigmoid p_ppm =
#   clamp(500000 + z div 4, 0, 1e6) — piecewise-linear, integer-exact,
#   the quantized-NN standard; err = p_ppm − 1e6·y;
# - 3 unrolled rounds: grad_j = Σ err·x_j (one 33-row feature-grain
#   aggregate, map-side combinable), update w_j ← w_j − grad_j tdiv 2N
#   (truncation toward zero — Spark div ≡ DuckDB //; N rides the bias
#   slot's count, so no separate count job);
# - output: the (label, score-decile) census under the final weights.
#
# Scale shape: the wide feature frame computes map-side (no vocabulary
# job — the hash IS the encoder) and persists for the 3 gradient passes
# + census; every aggregate is feature-grain (33 rows) or decile-grain
# (≤ 22 rows); weights are driver scalars (k-centroid class). NO
# doc-grain shuffle anywhere: z is a row-wise expression, never a join.
# Bounds: |grad| ≤ N·1e6·6 (int64 to N ~ 1e12 docs), |w| ≤ 1.5e6 after
# 3 half-rate rounds, |z| ≤ 9e6.
# ---------------------------------------------------------------------------

_Q308_DIM = 32
_Q308_BIAS = 32
_Q308_ROUNDS = 3
_Q308_LR_DEN = 2  # step = grad tdiv (LR_DEN · N) — learning rate 1/2
# (name, SQL value expression over the stats CTE) — the Spark side
# builds the same list from the stat columns; names are the hash prefix.
_Q308_FEATS = (
    ("lang", "lang"),
    ("source", "source"),
    ("lenb", "CAST(length(CAST(nt AS VARCHAR)) AS VARCHAR)"),
    ("divb", "CAST(nd * 10 // GREATEST(nt, 1) AS VARCHAR)"),
    ("swrb", "CAST(st * 10 // GREATEST(nt, 1) AS VARCHAR)"),
)


def _q308_tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero division — Spark ``div`` ≡ DuckDB ``//``;
    Python's ``//`` FLOORS and diverges on negative gradients."""
    q = abs(a) // b
    return -q if a < 0 else q


def _q308_oracle_chain() -> str:
    from etl_globalretail_spark.operators.text import (
        _QUALITY_STOPWORDS,
        _sql_stopword_hits,
        _sql_tokens,
    )

    stop = _sql_stopword_hits(_QUALITY_STOPWORDS)
    ntok = f"CAST(len({_sql_tokens()}) AS BIGINT)"
    ndis = f"CAST(len(list_distinct({_sql_tokens()})) AS BIGINT)"
    d = _Q308_DIM
    feat_legs = "\n        UNION ALL\n".join(
        f"""        SELECT doc_id, y,
               CAST('0x' || substr(md5('{name}=' || {expr}), 1, 15)
                    AS BIGINT) AS h
        FROM lab"""
        for name, expr in _Q308_FEATS
    )

    def zp(rnd: int, w: str) -> str:
        return f"""
    z{rnd} AS MATERIALIZED (
        SELECT f.doc_id, f.y,
               CAST(SUM(COALESCE({w}.w, 0) * f.sign) AS BIGINT) AS z
        FROM feats f LEFT JOIN {w} ON {w}.slot = f.slot
        GROUP BY f.doc_id, f.y
    ),
    p{rnd} AS MATERIALIZED (
        SELECT doc_id, y,
               LEAST(1000000, GREATEST(0, 500000 + z // 4)) AS p
        FROM z{rnd}
    )"""

    lr = f"{_Q308_LR_DEN} * (SELECT n FROM nn)"
    return f"""
    WITH lab AS MATERIALIZED (
        SELECT doc_id, lang, source,
               {ntok} AS nt, {ndis} AS nd, {stop} AS st,
               CASE WHEN {stop} * 10 >= {ntok} AND {ntok} >= 5
                    THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    hashed AS MATERIALIZED (
{feat_legs}
    ),
    feats AS MATERIALIZED (
        SELECT doc_id, y, h % {d} AS slot,
               CASE WHEN (h // {d}) % 2 = 0 THEN 1 ELSE -1 END AS sign
        FROM hashed
        UNION ALL
        SELECT doc_id, y, {_Q308_BIAS}, 1 FROM lab
    ),
    g1 AS MATERIALIZED (
        SELECT slot,
               CAST(SUM((500000 - 1000000 * y) * sign) AS BIGINT) AS grad,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM feats GROUP BY slot
    ),
    nn AS MATERIALIZED (SELECT n FROM g1 WHERE slot = {_Q308_BIAS}),
    w1 AS MATERIALIZED (
        SELECT slot, CAST(0 - grad // ({lr}) AS BIGINT) AS w FROM g1
    ),
    {zp(2, 'w1')},
    g2 AS MATERIALIZED (
        SELECT f.slot,
               CAST(SUM((p2.p - 1000000 * f.y) * f.sign) AS BIGINT) AS grad
        FROM feats f JOIN p2 ON p2.doc_id = f.doc_id
        GROUP BY f.slot
    ),
    w2 AS MATERIALIZED (
        SELECT w1.slot,
               CAST(w1.w - g2.grad // ({lr}) AS BIGINT) AS w
        FROM w1 JOIN g2 ON g2.slot = w1.slot
    ),
    {zp(3, 'w2')},
    g3 AS MATERIALIZED (
        SELECT f.slot,
               CAST(SUM((p3.p - 1000000 * f.y) * f.sign) AS BIGINT) AS grad
        FROM feats f JOIN p3 ON p3.doc_id = f.doc_id
        GROUP BY f.slot
    ),
    w3 AS MATERIALIZED (
        SELECT w2.slot,
               CAST(w2.w - g3.grad // ({lr}) AS BIGINT) AS w
        FROM w2 JOIN g3 ON g3.slot = w2.slot
    ),
    {zp(4, 'w3')}
    """


def _q308_oracle() -> str:
    return _q308_oracle_chain() + """
    SELECT CAST(y AS BIGINT) AS label,
           CAST(p // 100000 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM p4 GROUP BY 1, 2
    """


def _q308_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-doc feature frame: y + one (slot_i, sign_i) pair per
    feature in _Q308_FEATS, all computed map-side from the doc scan."""
    from etl_globalretail_spark.operators.text import (
        _QUALITY_STOPWORDS,
        stopword_hits,
        token_count,
        tokens,
    )

    docs = load_table_spread(spark, "documents", sf_dir)
    stats = docs.select(
        "lang", "source",
        token_count(F.col("text")).alias("nt"),
        F.size(F.array_distinct(tokens(F.col("text"))))
        .cast("long").alias("nd"),
        stopword_hits(F.col("text"), _QUALITY_STOPWORDS).alias("st"),
    ).select(
        F.col("lang").cast("string").alias("lang"),
        F.col("source").cast("string").alias("source"),
        F.length(F.col("nt").cast("string")).cast("string").alias("lenb"),
        F.expr("nd * 10 div GREATEST(nt, 1)")
        .cast("string").alias("divb"),
        F.expr("st * 10 div GREATEST(nt, 1)").cast("string").alias("swrb"),
        F.when(
            (F.col("st") * 10 >= F.col("nt")) & (F.col("nt") >= 5),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("y"),
    )
    cols = ["y"]
    out = stats
    for name, _sql in _Q308_FEATS:
        slot, sign = _fh_slot_sign(name, _Q308_DIM)
        out = out.withColumn(f"slot_{name}", slot).withColumn(
            f"sign_{name}", sign
        )
        cols += [f"slot_{name}", f"sign_{name}"]
    return out.select(*cols)


def _q308_train_census(spark, sf_dir, finish):
    """Train the q308 integer-GD classifier and apply ``finish``
    (scored frame with columns y, p [final-round score] plus the
    per-round trajectory p2/p3/p4 -> BOUNDED census frame); the census
    is materialized before the feature cache is released. Shared by
    q308 (label x decile census), q350 (calibration) and q356 (dataset
    cartography over the trajectory)."""
    if True:  # preserve the original body's indentation
        base = _q308_base(spark, sf_dir).persist()
        # ^ feeds 3 gradient passes + the census; the finally releases it
        names = [name for name, _ in _Q308_FEATS]
        try:
            w: dict[int, int] = {}
            snapshots: list[dict[int, int]] = []

            def zcol(wd=None):
                if wd is None:
                    wd = w
                if not wd:
                    return F.lit(0).cast("long")
                wmap = F.create_map(
                    *[
                        F.lit(x)
                        for k in sorted(wd)
                        for x in (int(k), int(wd[k]))
                    ]
                )

                def wat(slot_col):
                    return F.coalesce(
                        wmap[slot_col].cast("long"), F.lit(0)
                    )

                z = F.lit(int(wd.get(_Q308_BIAS, 0))).cast("long")
                for name in names:
                    z = z + wat(F.col(f"slot_{name}")) * F.col(
                        f"sign_{name}"
                    )
                return z.cast("long")

            def pcol():
                return F.least(
                    F.lit(1000000),
                    F.greatest(
                        F.lit(0),
                        F.lit(500000) + F.expr("z div 4").cast("long"),
                    ),
                ).cast("long")

            structs = [
                F.struct(
                    F.col(f"slot_{name}").cast("bigint").alias("slot"),
                    F.col(f"sign_{name}").cast("int").alias("sign"),
                )
                for name in names
            ] + [
                F.struct(
                    F.lit(_Q308_BIAS).cast("bigint").alias("slot"),
                    F.lit(1).cast("int").alias("sign"),
                )
            ]
            for _ in range(_Q308_ROUNDS):
                grads = (
                    base.withColumn("z", zcol())
                    .withColumn("p", pcol())
                    .select(
                        (F.col("p") - F.lit(1000000) * F.col("y"))
                        .alias("err"),
                        F.explode(F.array(*structs)).alias("fx"),
                    )
                    .groupBy(F.col("fx.slot").alias("slot"))
                    .agg(
                        F.sum(F.col("err") * F.col("fx.sign"))
                        .cast("long").alias("grad"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .collect()  # ≤ 33 rows — bounded driver scalars
                )
                n_docs = next(
                    r["n"] for r in grads if r["slot"] == _Q308_BIAS
                )
                for r in grads:
                    w[int(r["slot"])] = w.get(
                        int(r["slot"]), 0
                    ) - _q308_tdiv(
                        int(r["grad"]), _Q308_LR_DEN * int(n_docs)
                    )
                snapshots.append(dict(w))
            scored = base.withColumn("z", zcol()).withColumn("p", pcol())
            # per-round trajectory: p_{r+1} = score under snapshot w_r —
            # the names match the oracle chain's p2/p3/p4 CTEs
            for i, snap in enumerate(snapshots):
                scored = scored.withColumn("__zs", zcol(snap)).withColumn(
                    f"p{i + 2}",
                    F.least(
                        F.lit(1000000),
                        F.greatest(
                            F.lit(0),
                            F.lit(500000)
                            + F.expr("__zs div 4").cast("long"),
                        ),
                    ).cast("long"),
                ).drop("__zs")
            # bounded census: materialize so the finally can release
            # the cache underneath it
            return materialize(finish(scored))
        finally:
            base.unpersist()


def _register_q308() -> None:
    @_register("q308_quality_classifier", oracle=_q308_oracle())
    def q308_quality_classifier(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """(label, score-decile) census of documents under a logistic
        quality classifier trained by 3 integer full-batch GD rounds
        over hashed quantized q19 features. See block comment."""
        return _q308_train_census(
            spark, sf_dir,
            lambda scored: scored.groupBy(
                F.col("y").cast("long").alias("label"),
                F.expr("p div 100000").cast("long").alias("bucket"),
            ).agg(F.count(F.lit(1)).cast("long").alias("n_docs")),
        )


_register_q308()


# ---------------------------------------------------------------------------
# q313 — WordPiece merge learning (Schuster & Nakajima 2012; the BERT
# tokenizer's training criterion): identical loop shape to q242's BPE
# except the pair to merge maximizes the LIKELIHOOD score
# count(ab) / (count(a)·count(b)) — "merge the pair whose co-occurrence
# most exceeds what its parts' frequencies predict" — rather than the
# raw count. Completes the tokenizer-training trio: BPE (q242,
# count-greedy), unigram-LM EM (q307, global likelihood), WordPiece
# (likelihood-ratio-greedy).
#
# Devices inherited from q242: merged pairs re-encode as marker chars
# ('1','2','3') so symbols stay single chars; replace() is
# leftmost-first non-overlapping in both engines. New per round: a
# symbol-frequency frame (one substr explode over the |V|-row vocab,
# |alphabet + markers| rows out). The score is ONE double division with
# each exact integer converted once — count(a)·count(b) multiplies as
# DOUBLES because the int64 product dies at ~3e9 corpus tokens (the sf1
# overflow class); identical operands → identical doubles → identical
# ORDER in both engines, ties broken on (l, r).
#
# Plan shape: corpus touched once (vocab build, persisted); each round
# runs pair- and symbol-aggregates over the |V|-row vocabulary; the best
# pair is a 1-row driver scalar (bounded by construction, 3 rounds).
# ---------------------------------------------------------------------------

_WP_ROUNDS = 3


def _q313_oracle() -> str:
    vocab = f"""
        SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_SQL_ALPHA_TOKENS}) AS tok FROM documents)
        GROUP BY tok
    """

    def pairs(v: str) -> str:
        return f"""
        SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
               CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT word, freq,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM {v}
        ) GROUP BY 1, 2
        """

    def syms(v: str) -> str:
        return f"""
        SELECT substr(word, i, 1) AS s, CAST(SUM(freq) AS BIGINT) AS c
        FROM (
            SELECT word, freq,
                   unnest(generate_series(1, length(word))) AS i
            FROM {v}
        ) GROUP BY 1
        """

    ctes = [f"v1 AS ({vocab})"]
    for rnd in (1, 2, 3):
        ctes.append(f"p{rnd} AS ({pairs(f'v{rnd}')})")
        ctes.append(f"s{rnd} AS ({syms(f'v{rnd}')})")
        ctes.append(
            f"b{rnd} AS (SELECT p.l, p.r, p.cnt,"
            f" CAST(p.cnt AS DOUBLE)"
            f" / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) AS score"
            f" FROM p{rnd} p"
            f" JOIN s{rnd} sa ON p.l = sa.s"
            f" JOIN s{rnd} sb ON p.r = sb.s"
            f" ORDER BY score DESC, p.l, p.r LIMIT 1)"
        )
        if rnd < 3:
            ctes.append(
                f"v{rnd + 1} AS (SELECT replace(word,"
                f" (SELECT l || r FROM b{rnd}), '{rnd}') AS word, freq"
                f" FROM v{rnd})"
            )
    sel = """
    , e1 AS (SELECT (SELECT l || r FROM b1) AS m)
    , e2 AS (SELECT replace((SELECT l || r FROM b2), '1', (SELECT m FROM e1)) AS m)
    , e3 AS (SELECT replace(replace((SELECT l || r FROM b3), '2',
                 (SELECT m FROM e2)), '1', (SELECT m FROM e1)) AS m)
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round, l AS left_sym, r AS right_sym,
               (SELECT m FROM e1) AS merged, cnt AS pair_count, score
        FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), l, r, (SELECT m FROM e2), cnt, score
        FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), l, r, (SELECT m FROM e3), cnt, score
        FROM b3
    )
    """
    return "WITH " + ",\n".join(ctes) + sel


def wordpiece_learn(
    spark: SparkSession, sf_dir: str, rounds: int = _WP_ROUNDS
) -> list[tuple]:
    """Run the WordPiece learning loop; returns (round, left, right,
    expanded merged token, weighted pair count, likelihood score) per
    round — the q242 bpe_learn shape with the likelihood argmax.
    Shared by q313 (the merges themselves) and q316 (the encoder's
    vocabulary)."""
    docs = load_table(spark, "documents", sf_dir)
    vocab = (
        docs.select(F.explode(alpha_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .persist()
    )
    try:
        vocab.count()
        expansion: dict[str, str] = {}
        rows: list[tuple] = []
        cur = vocab
        for rnd in range(1, rounds + 1):
            pos = cur.filter(F.length("word") >= 2).select(
                "word", "freq",
                F.explode(
                    F.sequence(F.lit(1), F.length("word") - F.lit(1))
                ).alias("i"),
            )
            prs = (
                pos.select(
                    F.expr("substring(word, i, 1)").alias("l"),
                    F.expr("substring(word, i + 1, 1)").alias("r"),
                    "freq",
                )
                .groupBy("l", "r")
                .agg(F.sum("freq").cast("long").alias("cnt"))
            )
            sym = (
                cur.select(
                    "word", "freq",
                    F.explode(
                        F.sequence(F.lit(1), F.length("word"))
                    ).alias("i"),
                )
                .select(
                    F.expr("substring(word, i, 1)").alias("s"), "freq"
                )
                .groupBy("s")
                .agg(F.sum("freq").cast("long").alias("c"))
            )
            sa = sym.select(F.col("s").alias("l"), F.col("c").alias("ca"))
            sb = sym.select(F.col("s").alias("r"), F.col("c").alias("cb"))
            score = F.col("cnt").cast("double") / (
                F.col("ca").cast("double") * F.col("cb").cast("double")
            )
            best = (  # 1-row driver scalar, bounded by construction
                prs.join(F.broadcast(sa), "l")
                .join(F.broadcast(sb), "r")
                .select("l", "r", "cnt", score.alias("score"))
                .orderBy(F.desc("score"), "l", "r")
                .first()
            )
            marker = str(rnd)
            merged = best["l"] + best["r"]
            for m, exp in sorted(expansion.items(), reverse=True):
                merged = merged.replace(m, exp)
            expansion[marker] = merged
            rows.append(
                (rnd, best["l"], best["r"], merged,
                 int(best["cnt"]), float(best["score"]))
            )
            cur = cur.select(
                F.expr(
                    "replace(word, "
                    f"'{best['l'] + best['r']}', '{marker}') AS word"
                ),
                "freq",
            )
        return rows
    finally:
        vocab.unpersist()


def _register_q313() -> None:
    @_register("q313_wordpiece_merges", oracle=_q313_oracle())
    def q313_wordpiece_merges(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The first 3 learned WordPiece merges (likelihood-ratio
        criterion) over the corpus vocabulary; see block comment."""
        return spark.createDataFrame(
            wordpiece_learn(spark, sf_dir),
            "round long, left_sym string, right_sym string,"
            " merged string, pair_count long, score double",
        )


_register_q313()


# ---------------------------------------------------------------------------
# q316 — WordPiece ENCODE: greedy longest-match-first segmentation (the
# BERT runtime algorithm — at each position consume the LONGEST
# vocabulary token that prefixes the remainder), applied corpus-wide
# with the q313-learned vocabulary (a–z single chars + the 3 expanded
# merges). Completes the learn/apply split for ALL THREE tokenizer
# families: BPE q242/q244 (merge replay), unigram q307/q301 (Viterbi),
# WordPiece q313/q316 (greedy longest-match) — three genuinely
# different apply algorithms, each oracle-replayed.
#
# Distributed shape: the vocabulary is a driver literal (29 strings);
# segmentation is a pure codegen'd fold per (source, word) row — a
# length-W sequence walk whose step at each position is a longest-first
# when-chain over substr membership (no UDF, no join, no shuffle before
# the |sources|-row aggregate). W (the longest word) is a 1-row driver
# scalar. The oracle replays the same greedy walk as a recursive CTE
# over the distinct-word frame, with the longest match as a correlated
# MAX over the vocab CTE.
# ---------------------------------------------------------------------------


def _q316_oracle() -> str:
    learn = _q313_oracle()
    prefix = learn[: learn.index("SELECT * FROM (")]
    body = f"""
    {prefix}
    , vocab AS (
        SELECT m AS t FROM e1
        UNION ALL SELECT m FROM e2
        UNION ALL SELECT m FROM e3
        UNION ALL SELECT chr(CAST(i AS INT))
          FROM (SELECT unnest(range(97, 123)) AS i)
    ),
    vd AS (SELECT DISTINCT t FROM vocab),
    wfr AS (
        SELECT source, unnest({_SQL_ALPHA_TOKENS}) AS word FROM documents
    ),
    wf AS (
        SELECT source, word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM wfr GROUP BY 1, 2
    ),
    wd AS (SELECT DISTINCT word FROM wf),
    seg AS (
        SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt
        FROM wd
        UNION ALL
        SELECT word,
               pos + (SELECT COALESCE(MAX(length(v.t)), 1) FROM vd v
                      WHERE substr(seg.word, CAST(seg.pos AS INT),
                                   length(v.t)) = v.t),
               cnt + 1
        FROM seg WHERE pos <= length(word)
    ),
    wcnt AS (SELECT word, MAX(cnt) AS tok_cnt FROM seg GROUP BY word)
    SELECT wf.source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
           CAST(SUM(wf.freq) AS BIGINT) AS total_words,
           CAST(SUM(wf.freq * length(wf.word)) AS BIGINT) AS total_chars,
           CAST(SUM(wf.freq * w.tok_cnt) AS BIGINT) AS total_tokens,
           CAST(SUM(wf.freq * w.tok_cnt) * 1000
                // SUM(wf.freq * length(wf.word)) AS BIGINT)
               AS tokens_permil_of_chars
    FROM wf JOIN wcnt w ON wf.word = w.word
    GROUP BY wf.source
    """
    return body.replace("WITH ", "WITH RECURSIVE ", 1)


def _register_q316() -> None:
    @_register("q316_wordpiece_encode", oracle=_q316_oracle())
    def q316_wordpiece_encode(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-source WordPiece encoding census under greedy
        longest-match segmentation with the q313 vocabulary; see block
        comment."""
        merges = wordpiece_learn(spark, sf_dir)
        letters = [chr(c) for c in range(97, 123)]
        vocab = sorted(set(letters + [m[3] for m in merges]))
        by_len: dict[int, list[str]] = {}
        for t in vocab:
            if len(t) >= 2:
                by_len.setdefault(len(t), []).append(t)

        docs = load_table(spark, "documents", sf_dir)
        occ = docs.select(
            "source", F.explode(alpha_tokens(F.col("text"))).alias("word")
        )
        wf = occ.groupBy("source", "word").agg(
            F.count(F.lit(1)).cast("long").alias("freq")
        )
        # W: longest word — a 1-row driver scalar (bounds the fold)
        wmax = int(
            occ.agg(F.max(F.length("word"))).collect()[0][0] or 1
        )

        wcol = F.col("word")

        def step(pos):
            c = None
            for L in sorted(by_len, reverse=True):
                cond = wcol.substr(pos, F.lit(L)).isin(by_len[L])
                c = F.when(cond, F.lit(L)) if c is None else c.when(
                    cond, F.lit(L)
                )
            return c.otherwise(F.lit(1)) if c is not None else F.lit(1)

        acc0 = F.struct(
            F.lit(1).cast("int").alias("pos"),
            F.lit(0).cast("long").alias("cnt"),
        )

        def walk(acc, _):
            inb = acc.getField("pos") <= F.length(wcol)
            adv = step(acc.getField("pos"))
            return F.struct(
                F.when(inb, acc.getField("pos") + adv)
                .otherwise(acc.getField("pos")).cast("int").alias("pos"),
                F.when(inb, acc.getField("cnt") + 1)
                .otherwise(acc.getField("cnt")).alias("cnt"),
            )

        tok_cnt = F.aggregate(
            F.sequence(F.lit(1), F.lit(wmax)), acc0, walk
        ).getField("cnt")
        per = wf.select(
            "source", "freq",
            F.length("word").cast("long").alias("wlen"),
            tok_cnt.alias("tok_cnt"),
        )
        return per.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.sum("freq").cast("long").alias("total_words"),
            F.sum(F.col("freq") * F.col("wlen")).cast("long")
            .alias("total_chars"),
            F.sum(F.col("freq") * F.col("tok_cnt")).cast("long")
            .alias("total_tokens"),
            F.expr(
                "CAST(SUM(freq * tok_cnt) * 1000"
                " div SUM(freq * wlen) AS BIGINT)"
            ).alias("tokens_permil_of_chars"),
        )


_register_q316()


# ---------------------------------------------------------------------------
# q317 — unigram-LM TRAINED decode: Viterbi segmentation of every distinct
# corpus word under q307's EM-trained round-2 piece costs (cost2 = 1e6 +
# 1e9 div (u2 + 1)), completing the unigram learn→apply composition the
# way BPE composes q242 (learn) → q244 (apply). q301 is the decode
# operator under frequency-derived costs; THIS query decodes under the
# costs the EM loop actually produced — the exact artifact handoff a
# SentencePiece pipeline performs (train writes the model file, encode
# loads it), per VERDICT r7 item 3.
#
# Determinism: identical stance to q301 — the well-defined outputs are
# the minimum cost and the NUMBER of optimal segmentations (the
# path-count DP rides along); ties never force an arbitrary argmin. All
# arithmetic is int64 (the q307 bounds argument applies unchanged: the
# trained costs live in the same [1e6, 1e6 + 5e8] range as the
# frequency costs).
#
# Scale shape: the trained model is q307's ≤ 26 + 26² piece rows — a
# bounded driver scalar (the k-centroid class) folded into the DP
# kernel's closure; corpus-sized work is q307's one word-frequency
# aggregate plus the distinct-word pass here; the DP runs once per
# DISTINCT word in one Arrow-batched map pass. Oracle: q307's unrolled
# two-round EM chain (shared `_q307_em_chain`) feeding q301's linear
# recursive decode DP with the round-3 (trained) cost tables.
# ---------------------------------------------------------------------------


def _q317_oracle() -> str:
    cost = f"{_Q301_PENALTY} + {_Q301_FREQ_NUM} // (COALESCE(u, 0) + 1)"
    return f"""{_q307_em_chain()},
    c1r3 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM chars0 i LEFT JOIN use2 u ON u.piece = i.piece
    ),
    c2r3 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM bigs0 i LEFT JOIN use2 u ON u.piece = i.piece
    ),
    poscost3 AS MATERIALIZED (
        SELECT wp.w, wp.pos, c1.c AS cc1,
               COALESCE(c2.c, {_Q301_HUGE}) AS cc2
        FROM wpos wp
        LEFT JOIN c1r3 c1 ON c1.piece = substr(wp.w, wp.pos, 1)
        LEFT JOIN c2r3 c2 ON wp.pos >= 2
                         AND c2.piece = substr(wp.w, wp.pos - 1, 2)
    ),
    dp3 AS (
        SELECT w, 0 AS pos,
               CAST(0 AS BIGINT) AS best,
               CAST({_Q301_HUGE} AS BIGINT) AS bprev,
               CAST(1 AS BIGINT) AS paths,
               CAST(0 AS BIGINT) AS pprev
        FROM words
        UNION ALL
        SELECT w, pos,
               CASE WHEN cand1 <= cand2 THEN cand1 ELSE cand2 END,
               prev_best,
               CASE WHEN cand1 <= cand2 THEN cur_paths ELSE 0 END
               + CASE WHEN cand2 <= cand1 THEN prev_paths ELSE 0 END,
               cur_paths
        FROM (
            SELECT d.w, d.pos + 1 AS pos,
                   d.best + p.cc1 AS cand1,
                   CASE WHEN d.pos >= 1 THEN d.bprev + p.cc2
                        ELSE {_Q301_HUGE} END AS cand2,
                   d.best AS prev_best,
                   d.paths AS cur_paths,
                   d.pprev AS prev_paths
            FROM dp3 d JOIN poscost3 p ON p.w = d.w AND p.pos = d.pos + 1
        ) s(w, pos, cand1, cand2, prev_best, cur_paths, prev_paths)
    )
    SELECT w AS word, CAST(length(w) AS BIGINT) AS len,
           best AS min_cost, paths AS n_best_paths
    FROM dp3 WHERE pos = length(w)
    """


def _register_q317() -> None:
    @_register("q317_unigram_trained_viterbi", oracle=_q317_oracle())
    def q317_unigram_trained_viterbi(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Minimum-cost unigram segmentation of every distinct corpus
        word under q307's TRAINED round-2 costs: (word, len, min_cost,
        n_best_paths) — the unigram family's learn→apply composition.
        See block comment."""
        # The trained model: q307's materialized ≤ 26 + 26² piece rows —
        # bounded driver scalars folded into the decode kernel's closure
        # (exactly how an encode job loads the trained model file).
        trained = QUERIES["q307_unigram_em_train"](spark, sf_dir).select(
            "piece", "cost2"
        ).collect()
        c1 = {r["piece"]: r["cost2"] for r in trained if len(r["piece"]) == 1}
        c2 = {r["piece"]: r["cost2"] for r in trained if len(r["piece"]) == 2}
        d = load_table_spread(spark, "documents", sf_dir)
        words = (
            d.select(F.explode(alpha_tokens(F.col("text"))).alias("w"))
            .distinct()
            .withColumnRenamed("w", "word")
        )
        return words.mapInPandas(
            _q301_dp_kernel(c1, c2),
            schema="word string, len long, min_cost long,"
                   " n_best_paths long",
        )


_register_q317()


# ---------------------------------------------------------------------------
# q322 — unigram-LM vocabulary PRUNING (the SentencePiece prune step,
# Kudo 2018 §3.2: alternate EM with discarding the pieces whose removal
# costs the corpus least), completing the unigram family's full
# train → PRUNE → encode loop beside q307 (EM) and q317 (trained
# decode). For a 2-character piece ab the only piece-free segmentation
# is a·b, so its removal penalty is EXACT, not an approximation:
#   penalty(ab) = u2(ab) × (c1(a) + c1(b) − c2(ab))
# — the corpus-cost increase if every optimal use of ab re-routes
# through its characters. Characters are never pruned (segmentability
# by construction); the TOP-K bigrams by penalty survive, K =
# max(4, ⌈|bigrams|/2⌉) (adaptive, ties to the smaller piece).
#
# Integer exactness: u2 × cost-delta exceeds int64 at corpus scale
# (u2 ~ corpus tokens × path weights), so the penalty is ranked in
# arbitrary-precision space — Python ints on the Spark side (the
# ≤ 26² bigram table is a documented driver scalar), HUGEINT in the
# DuckDB CTE (internal only; never an output column). Both engines
# rank (penalty DESC, piece ASC) — bit-identical keep set.
#
# Output: the q317 decode re-run under the PRUNED vocabulary (pruned
# bigrams' costs → +∞, i.e. removed), at vocabulary grain. The pruned
# optimum can only rise — min_cost(pruned) ≥ min_cost(trained)
# pointwise (pytest law, with the prune measurably biting).
#
# Scale shape: identical to q317 — corpus-sized work is the one
# word-frequency aggregate; prune ranking is ≤ 26² rows; the decode is
# one Arrow-batched DP pass over DISTINCT words.
# ---------------------------------------------------------------------------


def _q322_oracle() -> str:
    cost = f"{_Q301_PENALTY} + {_Q301_FREQ_NUM} // (COALESCE(u, 0) + 1)"
    return f"""{_q307_em_chain()},
    c1r3 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM chars0 i LEFT JOIN use2 u ON u.piece = i.piece
    ),
    c2r3 AS MATERIALIZED (
        SELECT i.piece, CAST({cost} AS BIGINT) AS c
        FROM bigs0 i LEFT JOIN use2 u ON u.piece = i.piece
    ),
    pen AS MATERIALIZED (
        SELECT b2.piece,
               CAST(COALESCE(u.u, 0) AS HUGEINT)
               * (ca.c + cb.c - b2.c) AS penalty
        FROM c2r3 b2
        JOIN c1r3 ca ON ca.piece = substr(b2.piece, 1, 1)
        JOIN c1r3 cb ON cb.piece = substr(b2.piece, 2, 1)
        LEFT JOIN use2 u ON u.piece = b2.piece
    ),
    kept AS MATERIALIZED (
        SELECT piece FROM (
            SELECT piece,
                   ROW_NUMBER() OVER (ORDER BY penalty DESC, piece) AS rn,
                   COUNT(*) OVER () AS nb
            FROM pen
        ) WHERE rn <= GREATEST(4, (nb + 1) // 2)
    ),
    c2r4 AS MATERIALIZED (
        SELECT c.piece, c.c FROM c2r3 c JOIN kept k ON k.piece = c.piece
    ),
    poscost4 AS MATERIALIZED (
        SELECT wp.w, wp.pos, c1.c AS cc1,
               COALESCE(c2.c, {_Q301_HUGE}) AS cc2
        FROM wpos wp
        LEFT JOIN c1r3 c1 ON c1.piece = substr(wp.w, wp.pos, 1)
        LEFT JOIN c2r4 c2 ON wp.pos >= 2
                         AND c2.piece = substr(wp.w, wp.pos - 1, 2)
    ),
    dp4 AS (
        SELECT w, 0 AS pos,
               CAST(0 AS BIGINT) AS best,
               CAST({_Q301_HUGE} AS BIGINT) AS bprev,
               CAST(1 AS BIGINT) AS paths,
               CAST(0 AS BIGINT) AS pprev
        FROM words
        UNION ALL
        SELECT w, pos,
               CASE WHEN cand1 <= cand2 THEN cand1 ELSE cand2 END,
               prev_best,
               CASE WHEN cand1 <= cand2 THEN cur_paths ELSE 0 END
               + CASE WHEN cand2 <= cand1 THEN prev_paths ELSE 0 END,
               cur_paths
        FROM (
            SELECT d.w, d.pos + 1 AS pos,
                   d.best + p.cc1 AS cand1,
                   CASE WHEN d.pos >= 1 THEN d.bprev + p.cc2
                        ELSE {_Q301_HUGE} END AS cand2,
                   d.best AS prev_best,
                   d.paths AS cur_paths,
                   d.pprev AS prev_paths
            FROM dp4 d JOIN poscost4 p ON p.w = d.w AND p.pos = d.pos + 1
        ) s(w, pos, cand1, cand2, prev_best, cur_paths, prev_paths)
    )
    SELECT w AS word, CAST(length(w) AS BIGINT) AS len,
           best AS min_cost, paths AS n_best_paths
    FROM dp4 WHERE pos = length(w)
    """


def _register_q322() -> None:
    @_register("q322_unigram_vocab_prune", oracle=_q322_oracle())
    def q322_unigram_vocab_prune(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Viterbi decode under the PRUNED trained vocabulary: the
        top-half bigrams by exact removal penalty survive (chars always
        kept); (word, len, min_cost, n_best_paths) at vocabulary grain.
        See block comment."""
        trained = QUERIES["q307_unigram_em_train"](spark, sf_dir).collect()
        c1 = {r["piece"]: r["cost2"] for r in trained
              if r["piece_len"] == 1}
        bigs = [(r["piece"], r["cost2"], r["u2"]) for r in trained
                if r["piece_len"] == 2]
        # Exact removal penalties in arbitrary-precision Python ints —
        # the ≤ 26² bigram table is a documented driver scalar; int64
        # would overflow at corpus scale (u2 × cost-delta ~ 1e23).
        ranked = sorted(
            ((u2 * (c1[p[0]] + c1[p[1]] - c), p) for p, c, u2 in bigs),
            key=lambda t: (-t[0], t[1]),
        )
        k = max(4, (len(bigs) + 1) // 2)
        keep = {p for _, p in ranked[:k]}
        c2 = {p: (c if p in keep else _Q301_HUGE) for p, c, _ in bigs}
        d = load_table_spread(spark, "documents", sf_dir)
        words = (
            d.select(F.explode(alpha_tokens(F.col("text"))).alias("w"))
            .distinct()
            .withColumnRenamed("w", "word")
        )
        return words.mapInPandas(
            _q301_dp_kernel(c1, c2),
            schema="word string, len long, min_cost long,"
                   " n_best_paths long",
        )


_register_q322()


# ---------------------------------------------------------------------------
# q327 — LM-score FILTERING (the perplexity filter itself): compose
# q232's bigram-LM document scores into the drop-the-worst-quartile
# retention census every KenLM/CCNet-style pipeline runs — scoring
# (q232) was the model half; THIS is the curation decision half.
#
# Rank-free exact order statistic: the per-lang bottom-quartile
# threshold is the k-th smallest score (k = n div 4), found on the
# per-(lang, score) HISTOGRAM with a cumulative sum over the VALUE
# GRID (the q228 device — the window's partition content is the
# bounded score grid, never data rows; integer ppm scores make the
# grid exact in both engines). The drop rule is "score strictly below
# the threshold" — tie rows at the threshold are kept, so no doc-id
# tie-break enters and the census is bit-deterministic.
#
# Scale shape: q232's score frame is doc-grain (persisted — it feeds
# the histogram AND the census); the histogram/cumulative/threshold
# run at value-grid grain; the ≤|langs|-row threshold frame broadcasts
# back onto the score frame for one map-side-combinable census.
# ---------------------------------------------------------------------------


def _q327_oracle() -> str:
    q232 = ORACLE["q232_bigram_lm_score"]
    return f"""
    WITH scores AS ({q232}),
    hist AS (
        SELECT lang, lm_score_ppm AS sc, COUNT(*) AS c
        FROM scores GROUP BY 1, 2
    ),
    cum AS (
        SELECT lang, sc, c,
               SUM(c) OVER (PARTITION BY lang ORDER BY sc) AS cc,
               SUM(c) OVER (PARTITION BY lang) AS n
        FROM hist
    ),
    thr AS (
        SELECT lang, MIN(sc) AS thr, MIN(n) AS n
        FROM cum WHERE cc >= n // 4 GROUP BY lang
    )
    SELECT s.lang,
           CAST(t.n AS BIGINT) AS n_docs,
           CAST(t.thr AS BIGINT) AS threshold_ppm,
           CAST(SUM(CASE WHEN s.lm_score_ppm < t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN s.lm_score_ppm >= t.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN s.lm_score_ppm >= t.thr
                         THEN s.lm_score_ppm ELSE 0 END)
                AS BIGINT) AS kept_score_sum
    FROM scores s JOIN thr t USING (lang)
    GROUP BY 1, 2, 3
    """


def _register_q327() -> None:
    @_register("q327_lm_score_filter", oracle=_q327_oracle())
    def q327_lm_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-lang retention census after dropping documents whose
        q232 LM score falls strictly below the lang's bottom-quartile
        order statistic (k = n div 4, found rank-free on the integer
        score grid): (lang, n_docs, threshold_ppm, n_dropped, n_kept,
        kept_score_sum). See block comment."""
        from pyspark.sql.window import Window

        s = (
            QUERIES["q232_bigram_lm_score"](spark, sf_dir)
            .select("doc_id", "lang", "lm_score_ppm")
            # doc-grain frame consumed by BOTH the histogram build and
            # the census join — persist (Catalyst never dedupes the
            # subplan); lifetime tied to the returned plan.
            .persist()
        )
        hist = s.groupBy("lang", F.col("lm_score_ppm").alias("sc")).agg(
            F.count(F.lit(1)).alias("c")
        )
        # windows over the VALUE GRID (bounded grain: distinct integer
        # ppm scores), never over data rows — the q228 stance
        wcum = Window.partitionBy("lang").orderBy("sc")
        wall = Window.partitionBy("lang")
        cum = hist.select(
            "lang", "sc", "c",
            F.sum("c").over(wcum).alias("cc"),
            F.sum("c").over(wall).alias("n"),
        )
        thr = (
            cum.filter(F.col("cc") >= F.expr("n div 4"))
            .groupBy("lang")
            .agg(
                F.min("sc").cast("long").alias("threshold_ppm"),
                F.min("n").cast("long").alias("n_docs"),
            )
        )
        kept = F.col("lm_score_ppm") >= F.col("threshold_ppm")
        return (
            s.join(F.broadcast(thr), "lang")  # ≤ |langs| rows
            .groupBy("lang", "n_docs", "threshold_ppm")
            .agg(
                F.sum(F.when(~kept, 1).otherwise(0)).cast("long")
                .alias("n_dropped"),
                F.sum(F.when(kept, 1).otherwise(0)).cast("long")
                .alias("n_kept"),
                F.sum(F.when(kept, F.col("lm_score_ppm")).otherwise(0))
                .cast("long").alias("kept_score_sum"),
            )
            .select("lang", "n_docs", "threshold_ppm", "n_dropped",
                    "n_kept", "kept_score_sum")
        )


_register_q327()


# ---------------------------------------------------------------------------
# q331 — BM25 ranked retrieval (Robertson & Walker 1994): q226's
# keyword scorer upgraded with the two ingredients that make BM25 the
# IR default — TERM-FREQUENCY SATURATION (diminishing returns via k1)
# and DOCUMENT-LENGTH NORMALIZATION (long docs don't win on bulk, via
# b) — kept oracle-exact by clearing denominators of the rational
# constants k1 = 6/5, b = 3/4:
#
#   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
#     ≡ 44·A·tf / (20·A·tf + 6·A + 18·dl)       (×20A, A = avgdl)
#
# quantized to ppm by ONE integer floor-division per (doc, term), then
# weighted by q226's integer bit-length rarity (the log-idf proxy) and
# summed — int64-safe at ANY corpus scale: A and dl are bounded by
# document length, never corpus size, so 1e6·44·A·tf ≲ 4e17 while the
# corpus-sized totals (N, T) only ever appear inside one int64 div.
#
# Plan shape: q226's inverted-probe skeleton — the token stream is
# materialized once (vocabulary build + probe join), the vocabulary
# once (global max-bits + query-term rarities), corpus totals and
# max-bits fold in as 1-row driver scalars (the q252 literal-divisor
# device, no crossJoin), and the doc-grain scored frame funnels through
# the two-phase bounded top-k. Reference has no IR surface; 100 TB
# mandate (retrieval over curated corpora).
# ---------------------------------------------------------------------------

_Q331_QUERY = ("spark", "join", "window")


@_register(
    "q331_bm25_retrieval",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    ds AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
    tot AS (
        SELECT CAST(SUM(dl) // COUNT(*) AS BIGINT) AS a FROM ds
    ),
    tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
    vocab AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY t
    ),
    mx AS (SELECT MAX(length(bin(cnt))) AS maxbits FROM vocab),
    qterms AS (
        SELECT v.t, CAST(mx.maxbits - length(bin(v.cnt)) + 1 AS BIGINT)
                   AS rarity
        FROM vocab v, mx
        WHERE v.t IN {_Q331_QUERY!r}
    ),
    tf AS (
        SELECT tok.doc_id, tok.t, CAST(COUNT(*) AS BIGINT) AS tf,
               MAX(q.rarity) AS rarity
        FROM tok JOIN qterms q ON tok.t = q.t
        GROUP BY tok.doc_id, tok.t
    ),
    scored AS (
        SELECT f.doc_id, MAX(ds.dl) AS dl,
               CAST(SUM(f.rarity *
                        ((1000000 * 44 * tot.a * f.tf)
                         // (20 * tot.a * f.tf + 6 * tot.a + 18 * ds.dl)))
                    AS BIGINT) AS score
        FROM tf f
        JOIN ds ON ds.doc_id = f.doc_id
        CROSS JOIN tot
        GROUP BY f.doc_id
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def q331_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for the fixed query terms under exact-integer
    BM25 (k1=1.2, b=0.75 as cleared rationals, ppm saturation, bit-length
    idf) — inverted-probe plan, total-ordered rank. See block comment."""
    d = load_table(spark, "documents", sf_dir)
    base = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    ds = base.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    ).transform(materialize)  # feeds the totals agg AND the per-doc join
    a_val = int(
        ds.agg(
            F.expr("sum(dl) div count(*)").alias("a")
        ).first()["a"]
    )  # 1-row corpus scalar (avg doclen) — literal divisor, no crossJoin
    tok = base.select(
        "doc_id", F.explode("toks").alias("t")
    ).transform(materialize)  # feeds vocabulary build AND the probe join
    vocab = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).transform(materialize)  # feeds global max-bits AND the term filter
    maxbits = int(
        vocab.agg(F.max(F.length(F.bin("cnt"))).alias("m")).first()["m"]
    )
    qterms = vocab.filter(F.col("t").isin(*_Q331_QUERY)).select(
        "t",
        (F.lit(maxbits) - F.length(F.bin("cnt")) + 1).cast("long")
        .alias("rarity"),
    )
    tf = (
        tok.join(F.broadcast(qterms), "t")
        .groupBy("doc_id", "t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.max("rarity").alias("rarity"),
        )
    )
    sat_ppm = F.expr(
        f"({1000000 * 44 * a_val}L * tf)"
        f" div ({20 * a_val}L * tf + {6 * a_val}L + 18L * dl)"
    )
    scored = (
        tf.join(ds, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("dl").cast("long").alias("dl"),
            F.sum(F.col("rarity") * sat_ppm).cast("long").alias("score"),
        )
    )
    # bounded top-k (TakeOrderedAndProject + rank over <= 10 rows)
    return global_topk(
        scored, [("score", "desc"), ("doc_id", "asc")], 10, out="rank"
    ).select(
        "doc_id", "dl", "score", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# q335 — chi-square feature selection (token × language): the classic
# supervised vocabulary-selection statistic (Yang & Pedersen 1997) —
# for every (token, class) cell of the occurrence contingency table,
# χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)), ranked to the top-5
# most class-indicative tokens per language. The same pipeline selects
# classifier features or audits source/language token leakage.
#
# Numerics (the q313 device): every count is an exact int64; the χ²
# expression converts each operand ONCE and stays in correctly-rounded
# double multiplies/one divide — int64 products die at ~3e9 tokens
# ((ad−bc)² needs N⁴) — with IDENTICAL association order in both
# engines, so values and therefore ranks are bit-equal. Degenerate
# margins (token or class covering the whole corpus) score 0.
#
# Plan shape: one explode feeds the (token, lang) cell aggregate
# (map-side combinable); token margins re-aggregate the CELL frame
# (vocab-sized, never the corpus), class margins and N are ≤|langs|
# driver scalars folded as literals; top-5 per class via a PARTITIONED
# rank (InferWindowGroupLimit pushes the filter into the sort).
# ---------------------------------------------------------------------------


@_register(
    "q335_chi2_features",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest({_SQL_ALPHA_TOKENS}) AS t FROM documents
    ),
    cells AS (
        SELECT t, lang, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY t, lang
    ),
    tm AS (SELECT t, CAST(SUM(a) AS BIGINT) AS tt FROM cells GROUP BY t),
    lm AS (
        SELECT lang, CAST(SUM(a) AS BIGINT) AS lt FROM cells GROUP BY lang
    ),
    nn AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM cells),
    diffs AS (
        SELECT c.lang, c.t, c.a, tm.tt, lm.lt, nn.n,
               CAST(c.a AS DOUBLE)
                   * CAST(nn.n - tm.tt - lm.lt + c.a AS DOUBLE)
               - CAST(tm.tt - c.a AS DOUBLE)
                   * CAST(lm.lt - c.a AS DOUBLE) AS df
        FROM cells c
        JOIN tm ON tm.t = c.t
        JOIN lm ON lm.lang = c.lang
        CROSS JOIN nn
    ),
    scored AS (
        SELECT lang, t, a,
               CASE WHEN n - tt = 0 OR n - lt = 0 THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(n AS DOUBLE) * (df * df)
                         / (CAST(tt AS DOUBLE) * CAST(n - tt AS DOUBLE)
                            * CAST(lt AS DOUBLE) * CAST(n - lt AS DOUBLE))
               END AS chi2
        FROM diffs
    )
    SELECT lang, t AS token, a AS n_occ, chi2,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY chi2 DESC, t) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q335_chi2_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 chi-square class-indicative tokens per language over the
    token×lang occurrence contingency table. See block comment."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "lang", F.explode(alpha_tokens(F.col("text"))).alias("t")
    )
    cells = materialize(  # vocab×lang grain; feeds margins AND scoring
        tok.groupBy("t", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("a")
        )
    )
    tm = cells.groupBy("t").agg(F.sum("a").cast("long").alias("tt"))
    lm_rows = cells.groupBy("lang").agg(
        F.sum("a").cast("long").alias("lt")
    ).collect()  # ≤|langs| driver scalars
    n_val = sum(r["lt"] for r in lm_rows)
    lt_col = F.lit(None).cast("long")
    for r in lm_rows:
        lt_col = F.when(
            F.col("lang") == r["lang"], F.lit(r["lt"])
        ).otherwise(lt_col)
    n = F.lit(n_val).cast("long")
    base = cells.join(tm, "t").withColumn("lt", lt_col).withColumn(
        "n", n
    )
    df = (
        F.col("a").cast("double")
        * (F.col("n") - F.col("tt") - F.col("lt") + F.col("a"))
        .cast("double")
        - (F.col("tt") - F.col("a")).cast("double")
        * (F.col("lt") - F.col("a")).cast("double")
    )
    chi2 = F.when(
        ((F.col("n") - F.col("tt")) == 0) | ((F.col("n") - F.col("lt")) == 0),
        F.lit(0.0),
    ).otherwise(
        F.col("n").cast("double")
        * (df * df)
        / (
            F.col("tt").cast("double")
            * (F.col("n") - F.col("tt")).cast("double")
            * F.col("lt").cast("double")
            * (F.col("n") - F.col("lt")).cast("double")
        )
    )
    scored = base.select(
        "lang", F.col("t").alias("token"),
        F.col("a").alias("n_occ"), chi2.alias("chi2"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("chi2"), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# q342 — SEQUENCE PACKING (GPT-style concat-and-chunk): lay the corpus
# out as one token stream in doc_id order and cut it into fixed-length
# training examples of L = 512 tokens; census the packing — how many
# examples, how many documents straddle an example boundary, how
# crowded examples get. This is the curation-to-training handoff step
# (every LLM pretraining loader runs it) and the natural composition
# target for the dedup/filter/tokenize families upstream.
#
# Determinism: token counts via the portable whitespace device
# (size(split(trim(text),'\s+')) ≡ len(regexp_split_to_array(...)));
# the stream order is the doc_id total order; all offsets are int64
# (integer // on non-negative operands — both engines truncate
# identically). A doc's examples are chunk ids start//L .. (end-1)//L.
#
# Scale shape: the running offset comes from the two-phase
# global_prefix_sums helper (per-partition window + <=16 carry
# scalars), NEVER a partition-less window; the doc->chunk explode is
# bounded by sum(spans) = n_docs + n_boundary_docs <= 2·n_docs rows;
# the chunk-grain groupBy keys on total_tokens/L values (corpus-linear
# but SHORT rows); everything else is one census aggregate. At 100 TB
# the chunk grain is exactly the training-example table a loader
# would write — the census here re-aggregates it instead of sinking.
# ---------------------------------------------------------------------------

_Q342_L = 512


def _register_q342() -> None:
    @_register(
        "q342_sequence_packing",
        oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
            FROM documents
        ),
        offs AS (
            SELECT doc_id, n_tok,
                   SUM(n_tok) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS fin
            FROM d
        ),
        spans AS (
            SELECT doc_id, n_tok, CAST(fin - n_tok AS BIGINT) AS st,
                   CAST(fin AS BIGINT) AS fin,
                   (fin - 1) // {_Q342_L} - (fin - n_tok) // {_Q342_L} + 1
                       AS n_spans
            FROM offs
        ),
        chunks AS (
            SELECT u.chunk, COUNT(*) AS docs_in_chunk
            FROM spans s,
                 unnest(generate_series(s.st // {_Q342_L},
                                        (s.fin - 1) // {_Q342_L})) AS u(chunk)
            GROUP BY u.chunk
        ),
        chunk_census AS (
            SELECT MAX(docs_in_chunk) AS max_docs_per_chunk,
                   SUM(CASE WHEN docs_in_chunk = 1 THEN 1 ELSE 0 END)
                       AS n_singleton_chunks,
                   COUNT(*) AS n_chunks
            FROM chunks
        ),
        doc_census AS (
            SELECT COUNT(*) AS n_docs, SUM(n_tok) AS total_tokens,
                   SUM(CASE WHEN n_spans >= 2 THEN 1 ELSE 0 END)
                       AS n_boundary_docs,
                   MAX(n_spans) AS max_spans
            FROM spans
        )
        SELECT CAST(d.n_docs AS BIGINT) AS n_docs,
               CAST(d.total_tokens AS BIGINT) AS total_tokens,
               CAST(c.n_chunks AS BIGINT) AS n_chunks,
               CAST(d.n_boundary_docs AS BIGINT) AS n_boundary_docs,
               CAST(d.max_spans AS BIGINT) AS max_spans,
               CAST(c.max_docs_per_chunk AS BIGINT) AS max_docs_per_chunk,
               CAST(c.n_singleton_chunks AS BIGINT) AS n_singleton_chunks,
               CAST(d.total_tokens - (c.n_chunks - 1) * {_Q342_L}
                    AS BIGINT) AS last_fill
        FROM doc_census d, chunk_census c
        """,
    )
    def q342_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pack the documents token stream into fixed 512-token training
        examples (doc_id order) and census the packing. See block
        comment for the two-phase offset + bounded-explode shape."""
        from etl_globalretail_spark.operators.ranks import global_prefix_sums

        L = _Q342_L
        d = load_table(spark, "documents", sf_dir).select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("n_tok"),
        )
        cum, _tot = global_prefix_sums(d, [("doc_id", "asc")], ["n_tok"])
        spans = cum.select(
            "n_tok",
            (F.col("n_tok_cum") - F.col("n_tok")).alias("st"),
            F.col("n_tok_cum").alias("fin"),
        ).select(
            "n_tok", "st", "fin",
            (
                F.expr(f"(fin - 1) div {L}") - F.expr(f"st div {L}") + 1
            ).alias("n_spans"),
        )
        # spans feeds the doc census AND the chunk explode — persist so
        # the two-phase prefix sum runs once (lifetime: returned plan).
        spans = spans.persist()
        chunks = (
            spans.select(
                F.explode(
                    F.sequence(
                        F.expr(f"st div {L}"), F.expr(f"(fin - 1) div {L}")
                    )
                ).alias("chunk")
            )
            .groupBy("chunk")
            .agg(F.count(F.lit(1)).alias("docs_in_chunk"))
        )
        chunk_census = chunks.agg(
            F.max("docs_in_chunk").alias("max_docs_per_chunk"),
            F.sum(F.when(F.col("docs_in_chunk") == 1, 1).otherwise(0))
            .alias("n_singleton_chunks"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        doc_census = spans.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.when(F.col("n_spans") >= 2, 1).otherwise(0))
            .alias("n_boundary_docs"),
            F.max("n_spans").alias("max_spans"),
        )
        # 1-row x 1-row join: bounded by construction
        return doc_census.join(F.broadcast(chunk_census)).select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_boundary_docs").cast("long").alias("n_boundary_docs"),
            F.col("max_spans").cast("long").alias("max_spans"),
            F.col("max_docs_per_chunk").cast("long")
            .alias("max_docs_per_chunk"),
            F.col("n_singleton_chunks").cast("long")
            .alias("n_singleton_chunks"),
            (F.col("total_tokens") - (F.col("n_chunks") - 1) * L)
            .cast("long").alias("last_fill"),
        )


_register_q342()


# ---------------------------------------------------------------------------
# q348 — POSTINGS-LIST COMPRESSION census (inverted-index size
# planning): build the PHRASE (word-bigram) → sorted-doc_id postings
# index over the documents corpus (the Lucene shingle-filter phrase
# index — the synthetic corpus's unigram vocabulary is ~31 terms, too
# coarse to band) and measure, per document-frequency band, what
# delta + varint coding (the Lucene/PForDelta baseline) saves over raw
# 8-byte ids. This is the storage-planning half of the retrieval
# family (q226/q331 consume an inverted index; this query prices it).
#
# Exact-integer contract: gap = doc_id − lag(doc_id) under the
# per-token doc_id order (first posting's gap = doc_id + 1, never 0);
# varint_len(g) = (bitlen(g) + 6) // 7 bytes with bitlen via the
# LENGTH(BIN()) device — no logarithm; df band = bitlen(df), so the
# output is ≤ ~20 rows at ANY corpus size.
#
# Scale shape: one explode → (token, doc) distinct → LAG window
# PARTITIONED by token (never global) → band census. The explode is
# the inherent index-build shuffle; everything after is map-side
# arithmetic and a bounded-grain aggregate.
# ---------------------------------------------------------------------------


def _register_q348() -> None:
    @_register(
        "q348_postings_compression",
        oracle="""
        WITH d AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents WHERE len(regexp_split_to_array(trim(text),
                                      '\\s+')) >= 2
        ),
        toks AS (
            SELECT DISTINCT doc_id, w[i] || ' ' || w[i + 1] AS tok
            FROM d, unnest(generate_series(1, len(w) - 1)) t(i)
        ),
        gaps AS (
            SELECT tok, doc_id,
                   COALESCE(doc_id - LAG(doc_id) OVER (
                       PARTITION BY tok ORDER BY doc_id), doc_id + 1)
                       AS gap
            FROM toks
        ),
        per_tok AS (
            SELECT tok, COUNT(*) AS df,
                   SUM((LENGTH(BIN(gap)) + 6) // 7) AS varint_bytes
            FROM gaps GROUP BY tok
        )
        SELECT CAST(LENGTH(BIN(df)) AS BIGINT) AS df_band,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(df) AS BIGINT) AS n_postings,
               CAST(SUM(df) * 8 AS BIGINT) AS raw_bytes,
               CAST(SUM(varint_bytes) AS BIGINT) AS varint_bytes,
               CAST(SUM(varint_bytes) * 1000 // (SUM(df) * 8) AS BIGINT)
                   AS size_permil
        FROM per_tok
        GROUP BY 1
        """,
    )
    def q348_postings_compression(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-df-band census of delta+varint postings size vs raw
        8-byte ids over the documents inverted index. See block
        comment."""
        from pyspark.sql.window import Window

        d = load_table_spread(spark, "documents", sf_dir)
        toks = (
            d.select(
                "doc_id",
                F.split(F.trim(F.col("text")), r"\s+").alias("w"),
            )
            .filter(F.size("w") >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(w) - 2),"
                        " i -> concat(w[i], ' ', w[i + 1]))"
                    )
                ).alias("tok"),
            )
            .distinct()
        )
        w = Window.partitionBy("tok").orderBy("doc_id")
        gaps = toks.withColumn(
            "gap",
            F.coalesce(
                F.col("doc_id") - F.lag("doc_id").over(w),
                F.col("doc_id") + 1,
            ),
        )
        per_tok = gaps.groupBy("tok").agg(
            F.count(F.lit(1)).alias("df"),
            F.sum(
                F.expr("(length(bin(gap)) + 6) div 7")
            ).alias("varint_bytes"),
        )
        return per_tok.groupBy(
            F.length(F.bin(F.col("df"))).cast("long").alias("df_band")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("df").cast("long").alias("n_postings"),
            (F.sum("df") * 8).cast("long").alias("raw_bytes"),
            F.sum("varint_bytes").cast("long").alias("varint_bytes"),
            F.expr(
                "CAST(SUM(varint_bytes) * 1000 div (SUM(df) * 8)"
                " AS BIGINT)"
            ).alias("size_permil"),
        )


_register_q348()


# ---------------------------------------------------------------------------
# q349 — READABILITY scoring by the FORCAST formula (Caylor & Sticht
# 1973): grade = 20 − mono/10 per 150-word sample, where mono counts
# single-syllable words. FORCAST is the readability member built for
# text WITHOUT sentence boundaries (forms, listings, technical prose) —
# exactly this corpus, whose synthetic documents carry no [.!?] at all
# (probed; Flesch/FK would divide by zero sentences). Completes the
# quality-scoring family (length/punct/stopword ratios, Gopher
# repetition, LM score) with the classic education-grade axis.
#
# Determinism: syllables ≈ vowel groups ([aeiouy]+ runs — the standard
# heuristic, identical RE2/ICU semantics on this class); mono = words
# with exactly ONE vowel group via a per-word lambda filter (JVM-side
# HOF in Spark, list_filter in DuckDB — no UDF); grade cleared to
# milli-units: grade_milli = 20000 − (150000·mono) div (10·words) =
# 20000 − (15000·mono) div words, one integer division on non-negative
# operands. Per-doc grades average as Σgrade div n (int).
#
# Scale shape: map-only per-doc arithmetic → one |sources|-row census.
# ---------------------------------------------------------------------------


def _register_q349() -> None:
    @_register(
        "q349_readability_forcast",
        oracle="""
        WITH d AS (
            SELECT source,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS words,
                   len(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       w -> len(regexp_extract_all(w, '[aeiouy]+')) = 1))
                       AS mono
            FROM documents
        ),
        g AS (
            SELECT source, words, mono,
                   20000 - (15000 * mono) // words AS grade_milli
            FROM d WHERE words > 0
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS sum_words,
               CAST(SUM(mono) AS BIGINT) AS sum_mono,
               CAST(20000 - (15000 * SUM(mono)) // SUM(words) AS BIGINT)
                   AS corpus_grade_milli,
               CAST(SUM(grade_milli) // COUNT(*) AS BIGINT)
                   AS mean_doc_grade_milli
        FROM g GROUP BY source
        """,
    )
    def q349_readability_forcast(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-source FORCAST readability census (milli-grade) over the
        documents corpus. See block comment."""
        d = load_table(spark, "documents", sf_dir)
        g = (
            d.select(
                "source",
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
                .cast("long").alias("words"),
                F.expr(
                    "CAST(size(filter(split(trim(lower(text)), '\\\\s+'),"
                    " w -> size(regexp_extract_all(w, '[aeiouy]+', 0))"
                    " = 1)) AS BIGINT)"
                ).alias("mono"),
            )
            .filter(F.col("words") > 0)
            .withColumn(
                "grade_milli",
                F.expr("20000 - (15000 * mono) div words"),
            )
        )
        return g.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("words").cast("long").alias("sum_words"),
            F.sum("mono").cast("long").alias("sum_mono"),
            F.expr(
                "CAST(20000 - (15000 * SUM(mono)) div SUM(words)"
                " AS BIGINT)"
            ).alias("corpus_grade_milli"),
            F.expr(
                "CAST(SUM(grade_milli) div COUNT(*) AS BIGINT)"
            ).alias("mean_doc_grade_milli"),
        )


_register_q349()


# ---------------------------------------------------------------------------
# q350 — classifier CALIBRATION census (reliability diagram + Expected
# Calibration Error): per score-decile of q308's trained quality
# classifier, how far the mean predicted probability sits from the
# observed positive rate — the ML-eval member beside discrimination
# (q167 group AUC) and conformal coverage; a filtering pipeline that
# thresholds q308 scores is only as good as this table says.
#
# Integer-exact: scores are already ppm ints; per-bin gap =
# |Σp − 10^6·pos| div n (ppm of probability mass), and
# ECE_ppm = Σ_bins |Σp_b − 10^6·pos_b| div N — the n_b/N weighting
# cancels into one integer division. The bucket = -1 summary row
# carries the corpus totals and the ECE. Training is the SHARED
# _q308_train_census pipeline (refactored this round): identical
# weights, identical scores — the oracle re-derives the full 3-round
# GD chain and calibrates p4.
#
# Scale shape: training is q308's (33-slot gradient aggregates, no
# doc-grain shuffle); calibration adds one decile-grain aggregate.
# ---------------------------------------------------------------------------


def _register_q350() -> None:
    @_register(
        "q350_classifier_calibration",
        oracle=_q308_oracle_chain() + """
    , bins AS (
        SELECT p // 100000 AS bucket,
               COUNT(*) AS n_docs,
               SUM(y) AS n_pos,
               SUM(p) AS sum_p_ppm
        FROM p4 GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(sum_p_ppm AS BIGINT) AS sum_p_ppm,
           CAST(ABS(sum_p_ppm - 1000000 * n_pos) // n_docs AS BIGINT)
               AS gap_ppm
    FROM bins
    UNION ALL
    SELECT -1,
           CAST(SUM(n_docs) AS BIGINT),
           CAST(SUM(n_pos) AS BIGINT),
           CAST(SUM(sum_p_ppm) AS BIGINT),
           CAST(SUM(ABS(sum_p_ppm - 1000000 * n_pos)) // SUM(n_docs)
                AS BIGINT)
    FROM bins
    """,
    )
    def q350_classifier_calibration(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Reliability diagram (per-decile predicted-vs-observed gap)
        plus the ECE summary row for q308's trained classifier. See
        block comment."""
        def finish(scored: DataFrame) -> DataFrame:
            bins = scored.groupBy(
                F.expr("p div 100000").cast("long").alias("bucket")
            ).agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("y").cast("long").alias("n_pos"),
                F.sum("p").cast("long").alias("sum_p_ppm"),
            )
            # bins is ≤ 11 rows and derives from the CACHED feature
            # frame — recomputing it for the two census faces is two
            # cheap aggregates; a persist here would outlive the query
            # (materialize() returns before any unpersist could run)
            per = bins.select(
                "bucket", "n_docs", "n_pos", "sum_p_ppm",
                F.expr(
                    "CAST(abs(sum_p_ppm - 1000000 * n_pos) div n_docs"
                    " AS BIGINT)"
                ).alias("gap_ppm"),
            )
            tot = bins.agg(
                F.lit(-1).cast("long").alias("bucket"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_pos").cast("long").alias("n_pos"),
                F.sum("sum_p_ppm").cast("long").alias("sum_p_ppm"),
                F.expr(
                    "CAST(SUM(abs(sum_p_ppm - 1000000 * n_pos))"
                    " div SUM(n_docs) AS BIGINT)"
                ).alias("gap_ppm"),
            )
            return per.unionAll(tot)

        return _q308_train_census(spark, sf_dir, finish)


_register_q350()


# ---------------------------------------------------------------------------
# q354 — RAG CHUNKING census (overlapping retrieval windows): split
# every document into token windows of C = 128 with stride S = 96
# (25% overlap) — the chunking stage every retrieval-augmented
# pipeline runs between curation and embedding. The per-doc chunk set
# is windows starting at 0, S, 2S, ... while start < n_tok, with the
# last window right-clipped. Distinct from q342's packing (disjoint,
# corpus-ordered, doc-crossing): chunks here OVERLAP, never cross
# docs, and their count is per-doc arithmetic.
#
# Census: per source — docs, chunks, chunk-token mass, overlap mass
# (tokens counted more than once = mass − n_tok), mean fill permil of
# the C-token budget. Exact integers: n_chunks(d) = 1 +
# max(0, ceil((n_tok − C) / S)) with ceil via (x + S − 1) div S on
# non-negative x; mass = Σ min(C, n_tok − i·S) computed in closed form
# (full windows + the clipped tail), no explode at all.
#
# Scale shape: map-only per-doc arithmetic → |sources|-row census; the
# chunk table itself never materializes (the census is what planning
# needs; the chunk WRITER would be one explode of the same bounds).
# ---------------------------------------------------------------------------

_Q354_C = 128
_Q354_S = 96


def _register_q354() -> None:
    C, S = _Q354_C, _Q354_S

    @_register(
        "q354_rag_chunking",
        oracle=f"""
        WITH d AS (
            SELECT source,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS nt
            FROM documents
        ),
        per AS (
            SELECT source, nt,
                   1 + CASE WHEN nt > {C}
                            THEN (nt - {C} + {S} - 1) // {S}
                            ELSE 0 END AS nc
            FROM d
        ),
        mass AS (
            SELECT source, nt, nc,
                   -- full windows + right-clipped tail, closed form:
                   -- sum_i min(C, nt - i*S) for i in 0..nc-1
                   (nc - 1) * {C}
                   + LEAST({C}, nt - (nc - 1) * {S}) AS m
            FROM per
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(nc) AS BIGINT) AS n_chunks,
               CAST(SUM(m) AS BIGINT) AS chunk_token_mass,
               CAST(SUM(m) - SUM(nt) AS BIGINT) AS overlap_mass,
               CAST(SUM(m) * 1000 // (SUM(nc) * {C}) AS BIGINT)
                   AS mean_fill_permil
        FROM mass GROUP BY source
        """,
    )
    def q354_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source census of 128-token / 96-stride overlapping
        retrieval chunks. See block comment for the closed-form mass."""
        d = load_table(spark, "documents", sf_dir)
        per = d.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("nt"),
        ).withColumn(
            "nc",
            F.lit(1)
            + F.when(
                F.col("nt") > C,
                F.expr(f"(nt - {C} + {S} - 1) div {S}"),
            ).otherwise(F.lit(0)),
        ).withColumn(
            "m",
            (F.col("nc") - 1) * C
            + F.least(F.lit(C).cast("long"),
                      F.col("nt") - (F.col("nc") - 1) * S),
        )
        return per.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chunks"),
            F.sum("m").cast("long").alias("chunk_token_mass"),
            (F.sum("m") - F.sum("nt")).cast("long").alias("overlap_mass"),
            F.expr(
                f"CAST(SUM(m) * 1000 div (SUM(nc) * {C}) AS BIGINT)"
            ).alias("mean_fill_permil"),
        )


_register_q354()


# ---------------------------------------------------------------------------
# q356 — DATASET CARTOGRAPHY (Swayamdipta et al. 2020): map every
# training example by its CONFIDENCE (mean score across training
# rounds) and VARIABILITY (score spread across rounds) under q308's
# integer-GD trajectory — the data-curation device that separates
# easy-to-learn (high conf, low var), hard/mislabeled (low conf, low
# var) and ambiguous (high var) examples; the paper selects training
# subsets by these regions.
#
# Integer contract: the trajectory scores p2/p3/p4 are the ppm scores
# under the post-round-1/2/3 weight snapshots — EXACTLY the oracle
# chain's p2/p3/p4 CTEs (the trainer now exposes them; q308/q350
# re-verified hash-neutral). confidence = (p2+p3+p4) div 3,
# variability = max − min (range — integer-exact, monotone with std).
# Census: (label, conf decile, var decile) cells.
#
# Scale shape: training is q308's (33-slot gradients); the cartography
# is three literal-map projections and one bounded-cell aggregate —
# no new shuffle beyond the census groupBy.
# ---------------------------------------------------------------------------


def _register_q356() -> None:
    @_register(
        "q356_dataset_cartography",
        oracle=_q308_oracle_chain() + """
    , traj AS (
        SELECT p2.doc_id, p2.y,
               (p2.p + p3.p + p4.p) // 3 AS conf,
               GREATEST(p2.p, p3.p, p4.p)
               - LEAST(p2.p, p3.p, p4.p) AS var
        FROM p2 JOIN p3 ON p3.doc_id = p2.doc_id
        JOIN p4 ON p4.doc_id = p2.doc_id
    )
    SELECT CAST(y AS BIGINT) AS label,
           CAST(conf // 100000 AS BIGINT) AS conf_band,
           CAST(var // 100000 AS BIGINT) AS var_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(conf) AS BIGINT) AS sum_conf_ppm,
           CAST(SUM(var) AS BIGINT) AS sum_var_ppm
    FROM traj GROUP BY 1, 2, 3
    """,
    )
    def q356_dataset_cartography(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """(label, confidence decile, variability decile) cartography
        census over q308's training trajectory. See block comment."""
        def finish(scored: DataFrame) -> DataFrame:
            traj = scored.select(
                "y",
                F.expr("(p2 + p3 + p4) div 3").alias("conf"),
                (
                    F.greatest("p2", "p3", "p4")
                    - F.least("p2", "p3", "p4")
                ).alias("var"),
            )
            return traj.groupBy(
                F.col("y").cast("long").alias("label"),
                F.expr("conf div 100000").cast("long").alias("conf_band"),
                F.expr("var div 100000").cast("long").alias("var_band"),
            ).agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("conf").cast("long").alias("sum_conf_ppm"),
                F.sum("var").cast("long").alias("sum_var_ppm"),
            )

        return _q308_train_census(spark, sf_dir, finish)


_register_q356()


# ---------------------------------------------------------------------------
# q364 — DETERMINISTIC EPOCH SHUFFLE (seeded, reproducible,
# shard-interleaved training-data ordering): the step every dataloader
# runs downstream of q342's sequence packing — given the packed
# examples, produce THE epoch-0 read order for a given seed, such that
# (a) rerunning with the same seed reproduces it bit-for-bit on any
# cluster/retry, (b) changing the seed permutes the same example set,
# and (c) consecutive reads round-robin across shards (so no shard's
# I/O is hot while others idle, and examples from one source file are
# spread through the epoch — the standard shard-interleave posture of
# large-scale loaders). VERDICT r8 item 4.
#
# Construction (all engine-portable integer/md5 ops):
#   shard(e)    = example_id % N_SHARDS            (the writer's layout)
#   key(e)      = md5(seed ':' example_id)          (seeded shuffle key)
#   shard_pos   = rank of key within shard          (per-shard shuffle)
#   epoch_pos   = rank under (shard_pos, shard)     (round-robin merge)
# With unequal shards the merge naturally degrades to cycling the
# still-alive shards — exactly what a k-way interleaving reader does.
#
# Scale shape: NO partition-less window and NO per-shard single-task
# sort — both ranks are two-phase `global_row_number`s (the engine-wide
# lint posture); shard offsets are ≤ N_SHARDS driver scalars (bounded
# by construction — a production layout has O(10^4) shards, still
# driver-trivial, and the rank itself never partitions by shard). The
# example table is q342's chunk grain rebuilt (two-phase prefix sum +
# bounded explode); at 100 TB the loader would read the materialized
# example table instead and pay ONLY the two rank passes.
#
# Cross-seed permutation laws (tests/test_round9.py): same-seed
# determinism, cross-seed same-multiset different-order, round-robin
# shard cycling on the full-shards prefix, epoch_pos bijection 1..N.
# ---------------------------------------------------------------------------

_Q364_SEED = "ep0-20260816"
_Q364_SHARDS = 8


def epoch_shuffle(
    examples: DataFrame,
    seed: str,
    n_shards: int,
    id_col: str = "chunk",
) -> DataFrame:
    """Seeded shard-interleaved epoch order over an example table: adds
    ``shard``, ``shard_pos`` (seeded rank within shard) and ``epoch_pos``
    (round-robin merged global position). Deterministic for a fixed
    seed; a permutation of ``examples`` for any seed."""
    from etl_globalretail_spark.operators.ranks import global_row_number

    keyed = examples.select(
        "*",
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        F.md5(
            F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
        ).alias("__k"),
    )
    # Rank 1: total order (shard, key, id) → per-shard ranks fall out as
    # global rank − shard offset (offsets: ≤ n_shards driver scalars).
    g, _n = global_row_number(
        keyed, [("shard", "asc"), ("__k", "asc"), (id_col, "asc")], "__g"
    )
    offs = {
        r["shard"]: r["mn"]
        for r in g.groupBy("shard").agg(F.min("__g").alias("mn")).collect()
    }  # ≤ n_shards rows — bounded by construction
    omap = F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
    ranked = g.withColumn(
        "shard_pos", (F.col("__g") - omap[F.col("shard")] + 1).cast("long")
    ).drop("__k", "__g")
    # Rank 2: the round-robin merge — total order (shard_pos, shard).
    out, _n2 = global_row_number(
        ranked, [("shard_pos", "asc"), ("shard", "asc")], "epoch_pos"
    )
    return out


def _register_q364() -> None:
    L = _Q342_L

    @_register(
        "q364_epoch_shuffle",
        oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
            FROM documents
        ),
        offs AS (
            SELECT doc_id, n_tok,
                   SUM(n_tok) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS fin
            FROM d
        ),
        spans AS (
            SELECT CAST(fin - n_tok AS BIGINT) AS st,
                   CAST(fin AS BIGINT) AS fin
            FROM offs
        ),
        ex AS (
            SELECT u.chunk, COUNT(*) AS docs_in_chunk
            FROM spans s,
                 unnest(generate_series(s.st // {L},
                                        (s.fin - 1) // {L})) AS u(chunk)
            GROUP BY u.chunk
        ),
        keyed AS (
            SELECT chunk, docs_in_chunk,
                   chunk % {_Q364_SHARDS} AS shard,
                   md5('{_Q364_SEED}' || ':' || CAST(chunk AS VARCHAR)) AS k
            FROM ex
        ),
        r AS (
            SELECT chunk, docs_in_chunk, shard,
                   ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY k, chunk) AS shard_pos
            FROM keyed
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY shard_pos, shard)
                    AS BIGINT) AS epoch_pos,
               CAST(chunk AS BIGINT) AS chunk,
               CAST(shard AS BIGINT) AS shard,
               CAST(shard_pos AS BIGINT) AS shard_pos,
               CAST(docs_in_chunk AS BIGINT) AS docs_in_chunk
        FROM r
        """,
    )
    def q364_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Seeded, reproducible, shard-interleaved epoch order over the
        q342 packed-example table. See block comment for the two-phase
        rank shape and the permutation laws."""
        from etl_globalretail_spark.operators.ranks import global_prefix_sums

        d = load_table(spark, "documents", sf_dir).select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("n_tok"),
        )
        cum, _tot = global_prefix_sums(d, [("doc_id", "asc")], ["n_tok"])
        ex = (
            cum.select(
                F.explode(
                    F.sequence(
                        F.expr(f"(n_tok_cum - n_tok) div {L}"),
                        F.expr(f"(n_tok_cum - 1) div {L}"),
                    )
                ).alias("chunk")
            )
            .groupBy("chunk")
            .agg(F.count(F.lit(1)).cast("long").alias("docs_in_chunk"))
        )
        out = epoch_shuffle(ex, _Q364_SEED, _Q364_SHARDS)
        return out.select(
            "epoch_pos", F.col("chunk").cast("long").alias("chunk"),
            "shard", "shard_pos", "docs_in_chunk",
        )


_register_q364()


# ---------------------------------------------------------------------------
# q367 — BOUNDARY-RESPECTING sequence packing census (harmonic
# size-class bins): the SFT-side complement of q342. Pretraining
# concat-and-chunk (q342) SPLITS documents across examples; supervised
# fine-tuning and preference data must NOT — each example holds whole
# documents only (Krell et al. 2021's packing problem). This query
# plans that packing with the HARMONIC size-class algorithm (Lee &
# Lee 1985): docs of token length t (t ≤ L) are binned with peers of
# the same length, m = L div t per bin, bins = ceil(n_t / m) — a
# deterministic, closed-form rule, which is what makes the plan
# oracle-expressible where first-fit-decreasing's sequential loop is
# not. Reported against the fractional lower bound ceil(Σt / L) (no
# packing can beat it), plus the oversize cohort (t > L, must chunk —
# q83/q354's territory) and the waste the class discipline pays.
#
# All-integer: token counts by the portable whitespace device; ceil on
# non-negative ints via (a + b - 1) div b; waste = bins·L − Σt over
# packable docs. Engine-identical by the cookbook's // rules.
#
# Scale shape: one corpus scan → groupBy(token-length) at ≤ L distinct
# packable classes (+1 oversize flag) — the histogram grain is BOUNDED
# BY CONSTRUCTION at L+1 rows regardless of corpus size (the property
# Krell et al. exploit), so the census is a tiny aggregate over it; no
# window, no join. At 100 TB the same histogram feeds the exact
# assembly step (a driver FFD over ≤ L counters if tighter packing is
# wanted — the q365 bounded-grain driver-switch posture).
# ---------------------------------------------------------------------------

_Q367_L = 512


def _register_q367() -> None:
    L = _Q367_L

    @_register(
        "q367_harmonic_packing",
        oracle=f"""
        WITH d AS (
            SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        ),
        hist AS (
            SELECT t, COUNT(*) AS n FROM d WHERE t <= {L} GROUP BY t
        ),
        classes AS (
            SELECT t, n, {L} // t AS m,
                   (n + ({L} // t) - 1) // ({L} // t) AS bins
            FROM hist
        ),
        pack AS (
            SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_packable,
                   CAST(COALESCE(SUM(t * n), 0) AS BIGINT) AS packable_tokens,
                   CAST(COALESCE(SUM(bins), 0) AS BIGINT) AS harmonic_bins,
                   CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_classes
            FROM classes
        ),
        oversize AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_oversize,
                   CAST(COALESCE(SUM(t), 0) AS BIGINT) AS oversize_tokens
            FROM d WHERE t > {L}
        )
        SELECT p.n_packable, o.n_oversize, p.n_classes,
               p.packable_tokens, o.oversize_tokens,
               CAST((p.packable_tokens + {L} - 1) // {L} AS BIGINT)
                   AS lp_lower_bound,
               p.harmonic_bins,
               CAST(p.harmonic_bins * {L} - p.packable_tokens AS BIGINT)
                   AS waste_tokens,
               CAST((p.harmonic_bins * {L} - p.packable_tokens) * 1000
                    // GREATEST(p.harmonic_bins * {L}, 1) AS BIGINT)
                   AS waste_permil
        FROM pack p, oversize o
        """,
    )
    def q367_harmonic_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Boundary-respecting (no document splitting) packing census of
        the documents corpus into L=512-token examples via harmonic
        size-class bins, audited against the fractional lower bound.
        See block comment."""
        d = load_table(spark, "documents", sf_dir).select(
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("t")
        )
        # d feeds the packable histogram AND the oversize census
        d = d.persist()
        try:
            classes = (
                d.filter(F.col("t") <= L)
                .groupBy("t")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .select(
                    "t", "n",
                    F.expr(f"{L} div t").alias("m"),
                    F.expr(f"(n + ({L} div t) - 1) div ({L} div t)")
                    .alias("bins"),
                )
            )
            pack = classes.agg(
                F.coalesce(F.sum("n"), F.lit(0)).cast("long")
                .alias("n_packable"),
                F.coalesce(F.sum(F.col("t") * F.col("n")), F.lit(0))
                .cast("long").alias("packable_tokens"),
                F.coalesce(F.sum("bins"), F.lit(0)).cast("long")
                .alias("harmonic_bins"),
                F.count(F.lit(1)).cast("long").alias("n_classes"),
            )
            oversize = d.filter(F.col("t") > L).agg(
                F.count(F.lit(1)).cast("long").alias("n_oversize"),
                F.coalesce(F.sum("t"), F.lit(0)).cast("long")
                .alias("oversize_tokens"),
            )
            # 1-row × 1-row: bounded by construction (q342 stance)
            out = pack.join(F.broadcast(oversize)).select(
                "n_packable", "n_oversize", "n_classes",
                "packable_tokens", "oversize_tokens",
                F.expr(f"(packable_tokens + {L} - 1) div {L}")
                .cast("long").alias("lp_lower_bound"),
                "harmonic_bins",
                (F.col("harmonic_bins") * L - F.col("packable_tokens"))
                .cast("long").alias("waste_tokens"),
                F.expr(
                    f"(harmonic_bins * {L} - packable_tokens) * 1000 "
                    f"div greatest(harmonic_bins * {L}, 1L)"
                ).cast("long").alias("waste_permil"),
            )
            # materialize before unpersist: the caller's action must not
            # replan the persisted scan after release
            from etl_globalretail_spark.sources.artifacts import materialize
            return materialize(out)
        finally:
            d.unpersist()


_register_q367()


# ---------------------------------------------------------------------------
# q369 — CONSISTENT-HASHING shard rebalance audit (Karger et al. 1997):
# the data-layout question every growing training fleet asks — when the
# shard count goes 8 → 10, HOW MUCH data moves, and does it move ONLY
# to the added shards? Classic hash-mod placement (q364's epoch-shard
# layout, doc % S) reshuffles ~1 − 1/S of the corpus on resize;
# consistent hashing moves only what the new shards claim (expected
# 2/10 here), and the MINIMAL-MOVEMENT LAW — an example never moves
# BETWEEN two shards that exist in both configurations — is what this
# query audits at per-shard grain.
#
# Ring construction (seeded, engine-portable): anchor position
# r_i = 52-bit md5("ring:" ‖ i), example position p = md5("doc:" ‖
# doc_id); owner = the anchor at minimal CLOCKWISE distance
# (r_i − p + 2^52) mod 2^52 — int64-exact, ties (astronomically
# unlikely) broken on shard id. Both configurations share anchors
# 0..7; 8 and 9 are the added ones, so config-B ownership changes iff
# a doc's clockwise-nearest anchor becomes 8 or 9.
#
# Scale shape: the anchor tables are 8/10-row broadcast literals
# (bounded by construction — INTENTIONAL_CROSS class); ownership is
# one doc-partitioned rank per configuration (high-cardinality
# partition key, never global); output is the |shards|-row census. At
# 100 TB the same plan prices a petabyte resize before running it.
# ---------------------------------------------------------------------------

_Q369_OLD, _Q369_NEW = 8, 10
_Q369_MOD = 1 << 52


def _register_q369() -> None:
    mod = _Q369_MOD

    def anchors_sql(n: int) -> str:
        rows = ", ".join(
            f"({i}, CAST('0x' || substr(md5('ring:' || {i}), 1, 13)"
            f" AS BIGINT))"
            for i in range(n)
        )
        return f"(VALUES {rows}) a(shard, r)"

    def owner_sql(n: int, alias: str) -> str:
        return f"""
        {alias} AS MATERIALIZED (
            SELECT doc_id, shard FROM (
                SELECT d.doc_id, a.shard,
                       ROW_NUMBER() OVER (
                           PARTITION BY d.doc_id
                           ORDER BY (a.r - d.p + {mod}) % {mod}, a.shard
                       ) AS rn
                FROM pos d, {anchors_sql(n)}
            ) WHERE rn = 1
        )"""

    @_register(
        "q369_consistent_shard_rebalance",
        oracle=f"""
        WITH pos AS MATERIALIZED (
            SELECT doc_id,
                   CAST('0x' || substr(md5('doc:' || CAST(doc_id
                        AS VARCHAR)), 1, 13) AS BIGINT) AS p
            FROM documents
        ),
        {owner_sql(_Q369_OLD, 'own_a')},
        {owner_sql(_Q369_NEW, 'own_b')},
        j AS MATERIALIZED (
            SELECT a.doc_id, a.shard AS sa, b.shard AS sb
            FROM own_a a JOIN own_b b ON a.doc_id = b.doc_id
        ),
        shards AS (
            SELECT unnest(generate_series(0, {_Q369_NEW - 1})) AS shard
        )
        SELECT CAST(s.shard AS BIGINT) AS shard,
               CAST(COALESCE(SUM(CASE WHEN j.sa = s.shard
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_before,
               CAST(COALESCE(SUM(CASE WHEN j.sb = s.shard
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_after,
               CAST(COALESCE(SUM(CASE WHEN j.sb = s.shard
                                       AND j.sa <> s.shard
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS gained,
               CAST(COALESCE(SUM(CASE WHEN j.sa = s.shard
                                       AND j.sb <> s.shard
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS lost
        FROM shards s LEFT JOIN j ON j.sa = s.shard OR j.sb = s.shard
        GROUP BY s.shard
        """,
    )
    def q369_consistent_shard_rebalance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-shard before/after/gained/lost census of an 8 → 10
        consistent-hash ring resize over the documents corpus; the
        minimal-movement law (gained only by the added shards) is
        pytest-pinned. See block comment."""
        d = load_table(spark, "documents", sf_dir).select(
            "doc_id",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("doc:"),
                                   F.col("doc_id").cast("string"))),
                    1, 13,
                ), 16, 10,
            ).cast("long").alias("p"),
        )
        # pos feeds both configuration ranks — persist (q212 stance)
        d = d.persist()

        def owner(n: int, out: str) -> DataFrame:
            anchors = spark.createDataFrame(
                [
                    (
                        i,
                        int(
                            __import__("hashlib")
                            .md5(f"ring:{i}".encode())
                            .hexdigest()[:13],
                            16,
                        ),
                    )
                    for i in range(n)
                ],
                "shard long, r long",
            )
            w = Window.partitionBy("doc_id").orderBy("dist", "shard")
            return (
                d.crossJoin(F.broadcast(anchors))  # ≤10 rows — bounded
                .select(
                    "doc_id", "shard",
                    ((F.col("r") - F.col("p") + _Q369_MOD) % _Q369_MOD)
                    .alias("dist"),
                )
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("doc_id", F.col("shard").alias(out))
            )

        j = owner(_Q369_OLD, "sa").join(owner(_Q369_NEW, "sb"), "doc_id")
        shards = spark.range(0, _Q369_NEW).select(
            F.col("id").cast("long").alias("shard")
        )
        census = (
            j.select(
                F.explode(
                    F.array_distinct(F.array("sa", "sb"))
                ).alias("shard"),
                "sa", "sb",
            )
            .groupBy("shard")
            .agg(
                F.sum(F.when(F.col("sa") == F.col("shard"), 1)
                      .otherwise(0)).cast("long").alias("n_before"),
                F.sum(F.when(F.col("sb") == F.col("shard"), 1)
                      .otherwise(0)).cast("long").alias("n_after"),
                F.sum(F.when((F.col("sb") == F.col("shard"))
                             & (F.col("sa") != F.col("shard")), 1)
                      .otherwise(0)).cast("long").alias("gained"),
                F.sum(F.when((F.col("sa") == F.col("shard"))
                             & (F.col("sb") != F.col("shard")), 1)
                      .otherwise(0)).cast("long").alias("lost"),
            )
        )
        out = shards.join(census, "shard", "left").select(
            "shard",
            *[
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("n_before", "n_after", "gained", "lost")
            ],
        )
        from etl_globalretail_spark.sources.artifacts import materialize
        res = materialize(out)
        d.unpersist()
        return res


_register_q369()


# ---------------------------------------------------------------------------
# q378 — DSIR, the ADDITIVE LOG-LIKELIHOOD tier. q294 above implements
# DSIR (Xie et al. 2023) with a LENGTH-NORMALIZED linear-ratio mean —
# a monotone twin of the mean importance ratio. The paper's actual
# estimator (its eq. for log importance weights) is the ADDITIVE form
#     log w(doc) = Σ_tokens log p_target(b)/p_source(b) ,
# which is length-SENSITIVE (long on-target documents outrank short
# ones — the behavior resampling needs, since it draws documents, not
# per-token mass) and ranks differently from q294's mean: the two
# tiers are complementary, not duplicates, and a curation pipeline
# typically sweeps both. This query is that additive form.
#
# Integer re-expression (determinism cookbook — pow/log are not
# portable): the per-bucket log-ratio is quantized at LOG2 RESOLUTION
# with the exact bit-length device
#     w_b = LENGTH(BIN(cnt_target(b)+1)) − LENGTH(BIN(cnt_pool(b)+1))
# (= floor(log2)+1 of each add-one count — the q89/q345/q368 integer
# log), and a document's importance is the plain integer SUM of w_b
# over its TOKEN OCCURRENCES — the additive log form q294's floor-mean
# deliberately is not. Selection is the deterministic limit of DSIR's
# Gumbel-top-k: argmax-K under (score DESC, doc_id) — the stochastic
# tier would swap in the q372 A-ES key with weight tiers derived from
# this same score; both are stated so the production choice is a
# one-line swap.
#
# Target = the 'en' cohort, pool = everything else (the cross-lingual
# framing mirrors DSIR's formal setup: importance of raw text toward a
# target domain). 512 hash buckets — the llr table is BOUNDED at 512
# rows by construction and broadcast into the scoring join.
#
# Scale shape: ONE tokenize+hash pass persisted (three consumers:
# target counts, pool counts, candidate scoring — Catalyst will not
# dedupe the explode subplan, and InferFiltersFromGenerate is excluded
# engine-wide so the builder runs once); two 512-row censuses; scoring
# = broadcast equi-join at token grain + one map-side-combinable sum;
# top-K via two-phase global_topk. No data-sized shuffle except the
# doc-grain sum.
# ---------------------------------------------------------------------------

_Q378_B = 512
_Q378_K = 50


def _register_q378() -> None:
    @_register(
        "q378_dsir_selection",
        oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents
        ),
        tb AS (
            SELECT doc_id, lang,
                   CAST('0x' || substr(md5('dsir9:' || t), 1, 13)
                        AS BIGINT) % {_Q378_B} AS b
            FROM tok
        ),
        tcnt AS (
            SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1
        ),
        scnt AS (
            SELECT b, COUNT(*) AS cs FROM tb WHERE lang <> 'en' GROUP BY 1
        ),
        llr AS (
            SELECT COALESCE(tcnt.b, scnt.b) AS b,
                   LENGTH(BIN(COALESCE(ct, 0) + 1))
                   - LENGTH(BIN(COALESCE(cs, 0) + 1)) AS w
            FROM tcnt FULL JOIN scnt ON tcnt.b = scnt.b
        ),
        scored AS (
            SELECT tb.doc_id,
                   CAST(SUM(w) AS BIGINT) AS score,
                   CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM tb JOIN llr USING (b)
            WHERE tb.lang <> 'en'
            GROUP BY 1
        ),
        ranked AS (
            SELECT doc_id, score, n_tok,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
            FROM scored
        )
        SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, score, n_tok
        FROM ranked WHERE rnk <= {_Q378_K}
        """,
    )
    def q378_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-50 raw-pool docs by integer-quantized DSIR importance
        toward the 'en' target (hashed-unigram bit-length log-ratio).
        See block comment."""
        docs = load_table(spark, "documents", sf_dir)
        tb = docs.select(
            "doc_id", "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
        ).select(
            "doc_id", "lang",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("dsir9:"), F.col("t"))), 1, 13
                    ), 16, 10,
                ).cast("long") % _Q378_B
            ).alias("b"),
        ).persist()  # three consumers: target counts, pool counts, scoring
        tcnt = (
            tb.filter(F.col("lang") == "en")
            .groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
        )
        scnt = (
            tb.filter(F.col("lang") != "en")
            .groupBy("b").agg(F.count(F.lit(1)).alias("cs"))
        )
        llr = tcnt.join(scnt, "b", "full_outer").select(
            "b",
            F.expr(
                "LENGTH(BIN(COALESCE(ct, 0) + 1))"
                " - LENGTH(BIN(COALESCE(cs, 0) + 1))"
            ).alias("w"),
        )
        scored = (
            tb.filter(F.col("lang") != "en")
            .join(F.broadcast(llr), "b")  # llr bounded at 512 rows
            .groupBy("doc_id")
            .agg(
                F.sum("w").cast("long").alias("score"),
                F.count(F.lit(1)).cast("long").alias("n_tok"),
            )
        )
        top = global_topk(
            scored, [("score", "desc"), ("doc_id", "asc")], _Q378_K,
            out="rnk",
        )
        return top.select(
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id", "score", "n_tok",
        )


_register_q378()


# ---------------------------------------------------------------------------
# q383 — CORPUS DIVERSITY CENSUS (the data-card vocabulary panel):
# per-source type-token ratio, hapax share, head concentration, and
# the Gini coefficient of the type-frequency distribution — the
# standard "is this source repetitive boilerplate or diverse prose"
# panel a corpus datasheet reports (Gebru et al., Datasheets for
# Datasets; Dodge et al. 2021's C4 analysis reads exactly these).
# Low TTR + high top-10 mass + high Gini = templated/boilerplate
# source (a dedup/filter candidate); high hapax = noisy OCR or rich
# vocabulary (route to the q21/q349 panels to tell which).
#
# Gini in ONE exact integer fraction: with per-type counts c_(1..n)
# ranked ascending (ties on count are order-invariant for Σ i·c_i —
# equal c makes i·c + j·c symmetric — so ANY total order works; we
# still pin (count, token) for plan determinism),
#     gini_permil = (2·Σ i·c_i − (n+1)·T) · 1000 div (n·T),   T = Σc
# — single truncation, no doubles anywhere in the panel.
#
# Plan: one explode pass → (source, type) counts [the only data-sized
# shuffle] → persisted (four consumers: totals, hapax, ranked Gini
# sum, top-10 mass) → SOURCE-partitioned rank windows (vocab grain,
# never global) → one |sources|-row panel.
# ---------------------------------------------------------------------------


def _register_q383() -> None:
    @_register(
        "q383_corpus_diversity",
        oracle=f"""
        WITH tok AS (
            SELECT source, unnest({_SQL_ALPHA_TOKENS}) AS t
            FROM documents
        ),
        tc AS (
            SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2
        ),
        ranked AS (
            SELECT source, t, c,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY c, t) AS ra,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY c DESC, t) AS rd
            FROM tc
        ),
        panel AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hapax,
                   CAST(SUM(ra * c) AS BIGINT) AS gsum,
                   CAST(SUM(CASE WHEN rd <= 10 THEN c ELSE 0 END)
                        AS BIGINT) AS top10
            FROM ranked GROUP BY 1
        )
        SELECT source, n_types, n_tokens, n_hapax,
               CAST(n_types * 1000 // n_tokens AS BIGINT) AS ttr_permil,
               CAST(n_hapax * 1000 // n_types AS BIGINT) AS hapax_permil,
               CAST(top10 * 1000 // n_tokens AS BIGINT)
                   AS top10_mass_permil,
               CAST((2 * gsum - (n_types + 1) * n_tokens) * 1000
                    // (n_types * n_tokens) AS BIGINT) AS gini_permil
        FROM panel
        """,
    )
    def q383_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source vocabulary panel: TTR, hapax share, top-10 mass,
        and exact-integer Gini of the type-frequency distribution. See
        block comment."""
        docs = load_table(spark, "documents", sf_dir)
        tc = (
            docs.select(
                "source", F.explode(alpha_tokens(F.col("text"))).alias("t")
            )
            .groupBy("source", "t")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .persist()  # four panel legs ride the ranked projection
        )
        wa = Window.partitionBy("source").orderBy("c", "t")
        wd = Window.partitionBy("source").orderBy(F.col("c").desc(), "t")
        ranked = tc.withColumn("ra", F.row_number().over(wa)).withColumn(
            "rd", F.row_number().over(wd)
        )
        panel = ranked.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum((F.col("c") == 1).cast("long")).cast("long")
            .alias("n_hapax"),
            F.sum(F.col("ra") * F.col("c")).cast("long").alias("gsum"),
            F.sum(F.when(F.col("rd") <= 10, F.col("c")).otherwise(F.lit(0)))
            .cast("long").alias("top10"),
        )
        return panel.select(
            "source", "n_types", "n_tokens", "n_hapax",
            F.expr("CAST(n_types * 1000 div n_tokens AS BIGINT)")
            .alias("ttr_permil"),
            F.expr("CAST(n_hapax * 1000 div n_types AS BIGINT)")
            .alias("hapax_permil"),
            F.expr("CAST(top10 * 1000 div n_tokens AS BIGINT)")
            .alias("top10_mass_permil"),
            F.expr(
                "CAST((2 * gsum - (n_types + 1) * n_tokens) * 1000"
                " div (n_types * n_tokens) AS BIGINT)"
            ).alias("gini_permil"),
        )


_register_q383()


# ---------------------------------------------------------------------------
# q387 — GREEDY MAX-COVERAGE document selection (Nemhauser/Wolsey/Fisher
# 1978's (1−1/e) greedy over a submodular objective — the
# facility-location/coreset step of data curation: pick K documents
# that together cover the most vocabulary, the "small subset that
# represents the corpus" primitive behind coreset selection and
# seed-set curation; beside q355's MMR, which trades relevance against
# redundancy pairwise, this maximizes a SET objective).
#
# The coverage universe is word BIGRAM types (the q258 slot device) —
# the synthetic corpus has only 31 unigram types, so one document
# covers them all and the greedy would be vacuous; its ~900 bigram
# types give a genuine submodular trajectory (marginal gains strictly
# decay across all 6 rounds at both gate SFs).
#
# Round i: gain(d) = |bigrams(d) \ covered|; pick argmax under the
# (gain DESC, doc_id ASC) total order; covered ∪= bigrams(pick). Exact
# integers end to end, so the whole trajectory hash-matches.
#
# Plan: ONE tokenize+distinct pass materialized at the (doc, type)
# grain; each of the K=6 rounds is one broadcast ANTI-join against the
# covered set (bounded by Σ picked docs' types — thousands at ANY
# corpus size, the q343 driver-scalar class: it is rebuilt from the
# driver each round, so no lineage chain accumulates and no
# localCheckpoint is needed) + one map-side-combinable groupBy whose
# argmax is a TakeOrderedAndProject LIMIT 1 — never a rank window.
# 2K bounded jobs total; the corpus is scanned once.
# ---------------------------------------------------------------------------


def _register_q387() -> None:
    _k = 6
    _sql = [
        """
        WITH pairs AS MATERIALIZED (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] AS t
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS t,
                         unnest(generate_series(
                             1, len(regexp_split_to_array(
                                        trim(text), '\\s+')) - 1)) AS i
                  FROM documents)
        ),
        pick1 AS MATERIALIZED (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
            FROM pairs GROUP BY doc_id
            ORDER BY gain DESC, doc_id LIMIT 1
        ),
        cov1 AS MATERIALIZED (
            SELECT DISTINCT t FROM pairs
            WHERE doc_id = (SELECT doc_id FROM pick1)
        )"""
    ]
    for i in range(2, _k + 1):
        _sql.append(f""",
        pick{i} AS MATERIALIZED (
            SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
            FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM cov{i - 1} c WHERE c.t = p.t)
            GROUP BY p.doc_id
            ORDER BY gain DESC, p.doc_id LIMIT 1
        ),
        cov{i} AS MATERIALIZED (
            SELECT t FROM cov{i - 1}
            UNION
            SELECT t FROM pairs
            WHERE doc_id = (SELECT doc_id FROM pick{i})
        )""")
    _legs = [
        f"""
        SELECT CAST({i} AS BIGINT) AS rnk, doc_id, gain,
               CAST((SELECT COUNT(*) FROM cov{i}) AS BIGINT)
                   AS covered_total
        FROM pick{i}"""
        for i in range(1, _k + 1)
    ]
    oracle = "".join(_sql) + "\n        UNION ALL".join(_legs)

    @_register("q387_greedy_max_coverage", oracle=oracle)
    def q387_greedy_max_coverage(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """K=6 greedy max-coverage picks over vocabulary types with the
        full (pick, marginal gain, cumulative coverage) trajectory.
        See block comment for the bounded-round posture."""
        d = load_table(spark, "documents", sf_dir)
        pos = (
            d.select(
                "doc_id",
                F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
            )
            .filter(F.size("toks") >= 2)
            .select(
                "doc_id", "toks",
                F.explode(
                    F.sequence(F.lit(1), F.size("toks") - 1)
                ).alias("i"),
            )
        )
        pairs = (
            pos.select(
                "doc_id",
                F.concat(
                    F.expr("toks[i - 1]"), F.lit(" "), F.expr("toks[i]")
                ).alias("t"),
            )
            .distinct()
            .transform(materialize)  # feeds all K rounds
        )
        # r10: the covered set stays ENGINE-SIDE, derived from the picked
        # doc ids (covered_i = distinct types of the picked docs — an
        # isin-pushdown filter + distinct over the persisted (doc, type)
        # frame, broadcast into the anti-join). This halves the
        # sequential driver jobs (the per-round winner-types collect is
        # gone: 2K jobs → K) and removes the driver-held type set the
        # ADVICE-r9 note flagged (a pathologically long doc no longer
        # inflates driver memory — only K doc-id literals ever live on
        # the driver). covered_total needs no count job: gain counts
        # exactly the picked doc's NEW types, so |covered| telescopes as
        # the running gain sum.
        picked: list[int] = []
        cum = 0
        out: list[tuple[int, int, int, int]] = []
        for i in range(1, _k + 1):
            if picked:
                cov_df = (
                    pairs.filter(F.col("doc_id").isin(picked))
                    .select("t")
                    .distinct()
                )
                remaining = pairs.join(
                    F.broadcast(cov_df), "t", "left_anti"
                )
            else:
                remaining = pairs
            pick = (
                remaining.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("long").alias("gain"))
                .orderBy(F.desc("gain"), F.asc("doc_id"))
                .limit(1)
                .collect()
            )[0]
            doc, gain = int(pick["doc_id"]), int(pick["gain"])
            picked.append(doc)
            cum += gain
            out.append((i, doc, gain, cum))
        return spark.createDataFrame(
            out, "rnk long, doc_id long, gain long, covered_total long"
        )


_register_q387()


# ---------------------------------------------------------------------------
# q391 — GOOD–TURING frequency spectrum (Good 1953, by way of Gale &
# Sampson 1995's Simple Good-Turing): the counts-of-counts table
# N_r = |{types seen exactly r times}| and the adjusted count
# r* = (r+1)·N_{r+1}/N_r — THE classical LM-smoothing estimator and
# the corpus-QA answer to "how much probability mass belongs to
# bigrams we have NOT seen yet" (P_unseen = N_1/N, read off the r=1
# row). Beside q383 (which reads hapax SHARE and the spectrum's Gini)
# this emits the estimator itself; beside q232's bigram LM it is the
# smoothing tier that would back off its raw counts.
#
# Exact integers: r* is quantized as (r+1)·N_{r+1}·1000 div N_r, one
# truncation; rows where N_{r+1} = 0 (spectrum holes — exactly where
# Gale-Sampson switch to their log-log regression, which is pow/log
# and NOT portable) emit rstar_permil = 0 with the hole visible in
# n_next — the smoothing DECISION stays data, not libm.
#
# Mass conservation (pinned in pytest): Σ_{r≥1} (r+1)·N_{r+1}
# = N − N_1 — the identity that makes Good-Turing a probability
# re-allocation rather than an ad-hoc discount.
#
# Plan: one bigram pass (q258's slot device) → type counts → the
# counts-of-counts aggregate; the spectrum is ≤ O(√N) rows (r values
# are distinct positive integers summing to ≤ N) — a bounded frame,
# self-joined broadcast on r+1. Corpus touched once.
# ---------------------------------------------------------------------------


def _register_q391() -> None:
    @_register(
        "q391_good_turing",
        oracle="""
        WITH bg AS (
            SELECT t[i] || ' ' || t[i + 1] AS b
            FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t,
                         unnest(generate_series(1, len(
                             regexp_split_to_array(trim(text), '\\s+'))
                             - 1)) AS i
                  FROM documents)
        ),
        types AS (SELECT b, COUNT(*) AS r FROM bg GROUP BY b),
        spectrum AS MATERIALIZED (
            SELECT CAST(r AS BIGINT) AS r, CAST(COUNT(*) AS BIGINT) AS n_r
            FROM types GROUP BY r
        )
        SELECT s.r, s.n_r,
               CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_next,
               CAST((s.r + 1) * COALESCE(nx.n_r, 0) * 1000 // s.n_r
                    AS BIGINT) AS rstar_permil
        FROM spectrum s
        LEFT JOIN spectrum nx ON nx.r = s.r + 1
        """,
    )
    def q391_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Counts-of-counts spectrum with exact-permil Good-Turing
        adjusted counts over bigram types. See block comment."""
        d = load_table(spark, "documents", sf_dir)
        pos = (
            d.select(
                F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
            )
            .filter(F.size("toks") >= 2)
            .select(
                "toks",
                F.explode(
                    F.sequence(F.lit(1), F.size("toks") - 1)
                ).alias("i"),
            )
        )
        types = pos.select(
            F.concat(
                F.expr("toks[i - 1]"), F.lit(" "), F.expr("toks[i]")
            ).alias("b")
        ).groupBy("b").agg(F.count(F.lit(1)).alias("r"))
        spectrum = types.groupBy("r").agg(
            F.count(F.lit(1)).cast("long").alias("n_r")
        ).select(F.col("r").cast("long").alias("r"), "n_r").transform(
            materialize
        )  # bounded O(sqrt N) rows — feeds both sides of the r+1 join
        nx = spectrum.select(
            (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
        )
        return (
            spectrum.join(F.broadcast(nx), "r", "left")
            .select(
                "r", "n_r",
                F.coalesce(F.col("n_next"), F.lit(0)).cast("long")
                .alias("n_next"),
                F.expr(
                    "CAST((r + 1) * COALESCE(n_next, 0) * 1000 div n_r"
                    " AS BIGINT)"
                ).alias("rstar_permil"),
            )
        )


_register_q391()


# ---------------------------------------------------------------------------
# q398 — CURRICULUM ORDERING (Bengio et al. 2009; the length-based
# easy-first schedule of practical LLM curricula): the training-order
# composition BETWEEN q364's flat epoch shuffle and a difficulty
# signal — documents are banded by difficulty (token-count bit-length,
# the deterministic length curriculum), bands are consumed easy-first,
# and order WITHIN a band is the seeded md5 shuffle (curriculum
# without within-band shuffling re-introduces source ordering bias —
# the q364 lesson applied per tier).
#
# The schedule is ONE two-phase global rank (operators/ranks) under
# the total order (band, md5(seed‖doc), doc_id) — never a global
# window; band sizes ride back on a broadcast ≤|bands| join so every
# row carries its tier's width (the pacing-function read).
#
# Laws (pytest): bands occupy CONTIGUOUS position ranges; the position
# multiset is exactly 1..n for any seed (a permutation); within-band
# order matches the from-scratch md5 sort.
# ---------------------------------------------------------------------------


def _register_q398() -> None:
    _seed = "cur9"

    @_register(
        "q398_curriculum_order",
        oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(length(bin(len(regexp_split_to_array(
                       trim(text), '\\s+')))) AS BIGINT) AS band,
                   md5('{_seed}:' || CAST(doc_id AS VARCHAR)) AS k
            FROM documents
        ),
        bands AS (
            SELECT band, CAST(COUNT(*) AS BIGINT) AS band_n
            FROM d GROUP BY band
        )
        SELECT d.doc_id, d.band,
               CAST(ROW_NUMBER() OVER (ORDER BY d.band, d.k, d.doc_id)
                    AS BIGINT) AS curriculum_pos,
               b.band_n
        FROM d JOIN bands b ON b.band = d.band
        """,
    )
    def q398_curriculum_order(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Easy-first banded, seeded-within-band training order via one
        two-phase global rank. See block comment."""
        from etl_globalretail_spark.operators.ranks import (
            global_row_number,
        )

        d = load_table(spark, "documents", sf_dir).select(
            "doc_id",
            F.length(
                F.bin(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            ).cast("long").alias("band"),
            F.md5(
                F.concat_ws(
                    ":", F.lit(_seed), F.col("doc_id").cast("string")
                )
            ).alias("k"),
        )
        ranked, _n = global_row_number(
            d, [("band", "asc"), ("k", "asc"), ("doc_id", "asc")],
            out="curriculum_pos",
        )
        bands = d.groupBy("band").agg(
            F.count(F.lit(1)).cast("long").alias("band_n")
        )
        return (
            ranked.join(F.broadcast(bands), "band")
            .select(
                "doc_id", "band",
                F.col("curriculum_pos").cast("long")
                .alias("curriculum_pos"),
                "band_n",
            )
        )


_register_q398()


# ---------------------------------------------------------------------------
# q401 — EXACT SHAPLEY data-source valuation (Shapley 1953 by way of
# Ghorbani & Zou 2019's Data Shapley): what is each source tier's fair
# share of the corpus's vocabulary coverage? The general game needs
# Monte-Carlo; for THREE players the 3! permutations are enumerable,
# so the value is EXACT — the per-player marginal sum over all 6
# orders, carried in SIXTHS so no division ever happens before the
# final share quantization.
#
# Game: players = source tiers (srcN grouped by N mod 3); the
# characteristic function v(S) = # distinct bigram types covered by
# the union of tiers in S — a monotone coverage game, computable for
# ALL 2³ coalitions from ONE pass: each type reduces to a 3-bit
# presence MASK (bit_or over its tiers — both engines have BIT_OR),
# the ≤7 mask-cells census is collected, and every v(S) is a sum over
# intersecting masks (driver algebra, q343 class). Laws pinned:
# efficiency (Σ 6φ_i = 6·v(full)), null-player = 0, and coverage
# monotonicity (φ_i ≥ 0).
#
# Plan: one bigram explode → (type, tier-bit) → BIT_OR groupBy(type)
# → 7-cell mask census. The corpus is touched once.
# ---------------------------------------------------------------------------


def _register_q401() -> None:
    @_register(
        "q401_shapley_source_value",
        oracle="""
        WITH toks AS (
            SELECT CAST(SUBSTRING(source, 4) AS BIGINT) % 3 AS g,
                   t[i] || ' ' || t[i + 1] AS b
            FROM (SELECT source,
                         regexp_split_to_array(trim(text), '\\s+') AS t,
                         unnest(generate_series(1, len(
                             regexp_split_to_array(trim(text), '\\s+'))
                             - 1)) AS i
                  FROM documents)
        ),
        masks AS (
            SELECT b, BIT_OR(CAST(1 << g AS BIGINT)) AS mask
            FROM toks GROUP BY b
        ),
        cells AS MATERIALIZED (
            SELECT mask, CAST(COUNT(*) AS BIGINT) AS n
            FROM masks GROUP BY mask
        ),
        v AS MATERIALIZED (
            SELECT s.s,
                   CAST(COALESCE(SUM(CASE WHEN (c.mask & s.s) <> 0
                                     THEN c.n ELSE 0 END), 0) AS BIGINT)
                       AS v
            FROM (SELECT unnest(generate_series(0, 7)) AS s) s
            LEFT JOIN cells c ON TRUE
            GROUP BY s.s
        ),
        -- 6·phi_i = sum over the 3! orders of the marginal of i
        phi AS (
            SELECT g.g,
                   CAST(2 * ((SELECT v FROM v WHERE s = (1 << g.g))
                             - (SELECT v FROM v WHERE s = 0))
                        + ((SELECT v FROM v
                            WHERE s = ((1 << g.g) | (1 << ((g.g+1)%3))))
                           - (SELECT v FROM v WHERE s = (1 << ((g.g+1)%3))))
                        + ((SELECT v FROM v
                            WHERE s = ((1 << g.g) | (1 << ((g.g+2)%3))))
                           - (SELECT v FROM v WHERE s = (1 << ((g.g+2)%3))))
                        + 2 * ((SELECT v FROM v WHERE s = 7)
                               - (SELECT v FROM v
                                  WHERE s = xor(7, 1 << g.g)))
                        AS BIGINT) AS six_phi
            FROM (SELECT unnest(generate_series(0, 2)) AS g) g
        )
        SELECT p.g AS tier,
               (SELECT v FROM v WHERE s = (1 << p.g)) AS own_coverage,
               p.six_phi,
               CAST(p.six_phi * 1000 // (6 * (SELECT v FROM v WHERE s = 7))
                    AS BIGINT) AS share_permil
        FROM phi p
        """,
    )
    def q401_shapley_source_value(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Exact 3-player Shapley split of bigram-vocabulary coverage
        across source tiers, in sixths. See block comment."""
        d = load_table(spark, "documents", sf_dir)
        pos = (
            d.select(
                (F.substring(F.col("source"), 4, 10).cast("long") % 3)
                .alias("g"),
                F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
            )
            .filter(F.size("toks") >= 2)
            .select(
                "g",
                F.explode(
                    F.sequence(F.lit(1), F.size("toks") - 1)
                ).alias("i"),
                "toks",
            )
        )
        masks = (
            pos.select(
                F.concat(
                    F.expr("toks[i - 1]"), F.lit(" "), F.expr("toks[i]")
                ).alias("b"),
                F.expr("CAST(shiftleft(1L, CAST(g AS INT)) AS BIGINT)")
                .alias("bit"),
            )
            .groupBy("b")
            .agg(F.expr("bit_or(bit)").alias("mask"))
        )
        cells = {
            r["mask"]: r["n"]
            for r in masks.groupBy("mask")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()  # ≤ 7 mask cells — driver algebra (q343 class)
        }

        def v(s: int) -> int:
            return sum(n for m, n in cells.items() if m & s)

        out = []
        vfull = v(7)
        for g in range(3):
            me = 1 << g
            o1, o2 = 1 << ((g + 1) % 3), 1 << ((g + 2) % 3)
            six_phi = (
                2 * (v(me) - v(0))
                + (v(me | o1) - v(o1))
                + (v(me | o2) - v(o2))
                + 2 * (vfull - v(7 ^ me))
            )
            out.append((g, v(me), six_phi, six_phi * 1000 // (6 * vfull)))
        return spark.createDataFrame(
            out,
            "tier long, own_coverage long, six_phi long,"
            " share_permil long",
        )


_register_q401()


# ---------------------------------------------------------------------------
# q403 — QUANTILE NORMALIZATION across sources (Bolstad et al. 2003 —
# the microarray-era distribution equalizer that feature pipelines
# still use: force every source's value distribution onto the common
# reference, so downstream comparisons see rank information only).
# Here: per-source document n_chars distributions are mapped onto the
# cross-source reference.
#
# Exact contract: rank r within source under the TOTAL order
# (n_chars, doc_id); reference value at rank r is the truncating mean
# of the rank-r values over the sources THAT HAVE a rank r —
# ref_r = Σ v div cnt — which reduces to the textbook definition when
# sources are equal-sized (they are here: 25 docs each) and stays
# well-defined when they are not (stated). Post-normalization, every
# equal-sized source has the IDENTICAL value multiset {ref_r} — the
# law the pytest pins via per-source sums.
#
# Plan: one partitioned rank window (by source — never global), one
# groupBy(rank) to the ≤max-source-size reference frame, one equi-join
# back on rank. Doc-grain mapping emitted so the gate pins the entire
# transform.
# ---------------------------------------------------------------------------


def _register_q403() -> None:
    @_register(
        "q403_quantile_normalization",
        oracle="""
        WITH ranked AS MATERIALIZED (
            SELECT doc_id, source,
                   CAST(COALESCE(n_chars, 0) AS BIGINT) AS v,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY COALESCE(n_chars, 0), doc_id
                   ) AS r
            FROM documents
        ),
        ref AS (
            SELECT r, CAST(SUM(v) // COUNT(*) AS BIGINT) AS ref_v
            FROM ranked GROUP BY r
        )
        SELECT k.doc_id, k.source, CAST(k.r AS BIGINT) AS rnk,
               k.v AS v_before, ref.ref_v AS v_after
        FROM ranked k JOIN ref ON ref.r = k.r
        """,
    )
    def q403_quantile_normalization(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Doc-grain quantile-normalization mapping of per-source
        n_chars onto the cross-source reference. See block comment."""
        from pyspark.sql.window import Window

        d = load_table(spark, "documents", sf_dir).select(
            "doc_id", "source",
            F.coalesce(F.col("n_chars"), F.lit(0)).cast("long")
            .alias("v"),
        )
        w = Window.partitionBy("source").orderBy("v", "doc_id")
        ranked = d.withColumn("r", F.row_number().over(w)).transform(
            materialize
        )  # feeds the reference build AND the join back
        ref = ranked.groupBy("r").agg(
            F.expr("CAST(SUM(v) div COUNT(*) AS BIGINT)").alias("ref_v")
        )
        return (
            ranked.join(F.broadcast(ref), "r")
            .select(
                "doc_id", "source",
                F.col("r").cast("long").alias("rnk"),
                F.col("v").alias("v_before"),
                F.col("ref_v").alias("v_after"),
            )
        )


_register_q403()


# ---------------------------------------------------------------------------
# q412 — VARIABLE-LENGTH duplicated-span runs: the exact-substring dedup
# rung the span family stopped short of (VERDICT r9 "what's missing" #3;
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better" — the suffix-array ExactSubstr pass, public). q139 scores
# FIXED 5-word windows; this merges consecutive duplicated windows into
# MAXIMAL runs, recovering the true variable length of every duplicated
# region: a 50-token verbatim quote shows up as ONE run of 50 tokens
# (46 consecutive windows), not as an undifferentiated "46 windows dup"
# count. Per document: run count, the longest duplicated region's token
# length, and the duplicated-window total (which must equal q139's
# dup_spans — a built-in cross-family consistency check).
#
# Suffix arrays don't distribute; the equivalent relational form does:
# a window is duplicated iff its 5-token md5 occurs in ≥2 documents
# (q139's min≠max window over ONE hash-partitioned exchange), and a
# maximal duplicated substring of length ≥ 5 is exactly a maximal run
# of consecutive duplicated window positions (pos − row_number islands,
# the gaps-and-islands device — the per-doc window is PARTITIONED).
# Shuffles: spans on h, islands on doc — both carry (id, hash/pos)
# pairs only, never text. The oracle replays the identical pipeline.
# ---------------------------------------------------------------------------


def _register_q412() -> None:
    from etl_globalretail_spark.operators.corpus import span_hashes

    @_register(
        "q412_dup_span_runs",
        oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ),
        dd AS (SELECT doc_id, len(toks) AS n_toks, toks FROM d),
        pos AS (
            SELECT doc_id, toks,
                   unnest(range(1, CAST(n_toks AS BIGINT) - {_SPAN_K - 2}))
                       AS i
            FROM dd
        ),
        spans AS (
            SELECT doc_id, i,
                   md5(array_to_string(
                       toks[CAST(i AS BIGINT):CAST(i AS BIGINT)
                            + {_SPAN_K - 1}],
                       chr(31))) AS h
            FROM pos
        ),
        flagged AS (
            SELECT doc_id, i,
                   CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                             <> MAX(doc_id) OVER (PARTITION BY h)
                        THEN 1 ELSE 0 END AS dup
            FROM spans
        ),
        isl AS (
            SELECT doc_id, i,
                   i - ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY i) AS grp
            FROM flagged WHERE dup = 1
        ),
        runs AS (
            SELECT doc_id, grp, COUNT(*) AS cnt
            FROM isl GROUP BY doc_id, grp
        ),
        census AS (
            SELECT doc_id,
                   COUNT(*) AS n_runs,
                   MAX(cnt) + {_SPAN_K - 1} AS longest,
                   SUM(cnt) AS dw
            FROM runs GROUP BY doc_id
        )
        SELECT dd.doc_id,
               CAST(COALESCE(c.n_runs, 0) AS BIGINT) AS n_runs,
               CAST(COALESCE(c.longest, 0) AS BIGINT)
                   AS longest_run_tokens,
               CAST(COALESCE(c.dw, 0) AS BIGINT) AS dup_windows
        FROM dd LEFT JOIN census c ON dd.doc_id = c.doc_id
        """,
    )
    def q412_dup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Maximal variable-length duplicated-span runs per document
        (exact-substring dedup, Lee et al. 2022 shape). See block
        comment; dup_windows ≡ q139's dup_spans by construction."""
        d = load_table_spread(spark, "documents", sf_dir)
        spans = d.select(
            F.col("doc_id").alias("doc"),
            F.posexplode(span_hashes(F.col("text"))).alias("pos0", "h"),
        ).select("doc", (F.col("pos0") + 1).alias("i"), "h")
        wh = Window.partitionBy("h")
        dups = spans.select(
            "doc", "i",
            (F.min("doc").over(wh) != F.max("doc").over(wh))
            .alias("dup"),
        ).filter(F.col("dup"))
        wd = Window.partitionBy("doc").orderBy("i")
        runs = (
            dups.select(
                "doc", "i",
                (F.col("i") - F.row_number().over(wd)).alias("grp"),
            )
            .groupBy("doc", "grp")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        census = runs.groupBy("doc").agg(
            F.count(F.lit(1)).alias("n_runs"),
            (F.max("cnt") + F.lit(_SPAN_K - 1)).alias("longest"),
            F.sum("cnt").alias("dw"),
        )
        return (
            d.select(F.col("doc_id").alias("doc"))
            .join(census, "doc", "left")
            .select(
                F.col("doc").alias("doc_id"),
                F.coalesce("n_runs", F.lit(0)).cast("long")
                .alias("n_runs"),
                F.coalesce("longest", F.lit(0)).cast("long")
                .alias("longest_run_tokens"),
                F.coalesce("dw", F.lit(0)).cast("long")
                .alias("dup_windows"),
            )
        )


_register_q412()


# ---------------------------------------------------------------------------
# q413 — ITERATED BPE MERGE LOOP: k successive byte-pair-encoding merges
# (Sennrich et al. 2016 — the actual tokenizer-training loop; VERDICT r9
# "what's missing" #4: q140 ships one pair-count round, this runs the
# chain). Training operates on the VOCABULARY with word frequencies —
# the corpus-sized word stream reduces once to (word, count), and every
# merge round is arithmetic over that vocabulary-sized frame.
#
# Determinism contract (identical in both engines, by construction):
# a word's symbol state is a \\x1f-separated string ("|h|e|r|" for
# "her"); round r counts positional adjacent symbol pairs weighted by
# word count, selects argmax under (count DESC, pair ASC) total order,
# and APPLIES the merge as THREE successive plain-string replaces of
# "|a|b|" → "|ab|" — left-to-right, non-overlapping, no rescan, the
# semantics Spark's replace() and DuckDB's replace() share bit-for-bit
# (probed). Three passes re-catch matches whose leading separator was
# consumed by the previous pass's match; on chains longer than ~8
# identical symbols the pass-bounded result can differ from classic
# greedy BPE in WHICH maximal matching it picks, but both engines pick
# the SAME one — the merge procedure, not "greedy", is the contract.
# If a round finds no pair (all words single-symbol) the loop stops
# and later rounds emit nothing (the oracle's LEFT JOIN + sentinel
# replace mirrors the no-op).
#
# Scale shape: ONE corpus-sized wordcount shuffle builds the vocab;
# each round is a map-side pair explode over the vocab + one tiny
# grouped shuffle + a TakeOrderedAndProject top-1 (driver scalar,
# documented); the merge apply is map-only. Rounds are inherently
# sequential (round r+1's counts depend on round r's merge); the vocab
# frame is re-materialized per round so lineage stays flat (q212
# discipline).
# ---------------------------------------------------------------------------

_Q413_MERGES = 6
_Q413_SEP = "\x1f"


def _bpe_round_ctes(rounds: int) -> str:
    """The shared DuckDB CTE chain for ``rounds`` BPE merges: v0 (the
    \\x1f-separated per-word symbol state with counts, word carried
    through) and per round tk/c/t/v CTEs (t{r} = the selected merge,
    v{r} = the vocabulary after applying it as 3 left-to-right
    replaces). Reused by the q413 merge-table oracle and the q414
    encode oracle."""
    S = "chr(31)"
    parts = [f"""v0 AS MATERIALIZED (
            SELECT w, COUNT(*) AS cnt,
                   {S} || regexp_replace(w, '(.)', '\\1' || {S}, 'g')
                       AS seq
            FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                    AS w
                FROM documents
            )
            WHERE length(w) > 0
            GROUP BY w
        )"""]
    for r in range(1, rounds + 1):
        parts.append(f"""tk{r} AS (
            SELECT cnt,
                   string_split(substr(seq, 2, length(seq) - 2), {S})
                       AS toks
            FROM v{r - 1}
        )""")
        parts.append(f"""c{r} AS (
            SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
                SELECT cnt,
                       toks[CAST(i AS BIGINT)] || {S}
                           || toks[CAST(i AS BIGINT) + 1] AS pair
                FROM (
                    SELECT cnt, toks,
                           unnest(range(1, CAST(len(toks) AS BIGINT)))
                               AS i
                    FROM tk{r}
                )
            ) GROUP BY pair
        )""")
        parts.append(f"""t{r} AS MATERIALIZED (
            SELECT pair, pc FROM c{r} ORDER BY pc DESC, pair LIMIT 1
        )""")
        parts.append(f"""v{r} AS MATERIALIZED (
            SELECT v.w, v.cnt,
                   replace(replace(replace(v.seq,
                       COALESCE(t.pat, chr(30)), COALESCE(t.rep, chr(30))),
                       COALESCE(t.pat, chr(30)), COALESCE(t.rep, chr(30))),
                       COALESCE(t.pat, chr(30)), COALESCE(t.rep, chr(30)))
                       AS seq
            FROM v{r - 1} v LEFT JOIN (
                SELECT {S} || pair || {S} AS pat,
                       {S} || replace(pair, {S}, '') || {S} AS rep
                FROM t{r}
            ) t ON TRUE
        )""")
    return ",".join(parts)


def _bpe_learn(
    spark: SparkSession, sf_dir: str, rounds: int = _Q413_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``rounds`` BPE merges over the documents word vocabulary.
    Returns (merge table rows, final vocabulary frame (w, cnt, seq)).
    Each round's argmax is a 1-row driver scalar (documented); the
    vocab is re-materialized per round so lineage stays flat."""
    SEP = _Q413_SEP
    d = load_table(spark, "documents", sf_dir)
    vocab = (
        d.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.concat(
                F.lit(SEP),
                F.regexp_replace("w", "(.)", "$1" + SEP),
            ).alias("seq"),
        )
    )
    vocab = materialize(vocab)
    out: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        toks = F.split(
            F.expr("substring(seq, 2, length(seq) - 2)"), SEP
        )
        pairs = F.when(
            F.size(toks) > 1,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(
                    F.element_at(toks, i),
                    F.lit(SEP),
                    F.element_at(toks, i + 1),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        counts = (
            vocab.select("cnt", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        pick = (
            counts.orderBy(F.desc("pc"), F.asc("pair"))
            .limit(1)
            .collect()
        )  # 1-row driver scalar per round, documented
        if not pick:
            break
        pair, pc = pick[0]["pair"], int(pick[0]["pc"])
        a, b = pair.split(SEP)
        out.append((r, a, b, a + b, pc))
        pat, rep = SEP + pair + SEP, SEP + a + b + SEP
        seq = F.col("seq")
        for _ in range(3):
            seq = F.replace(seq, F.lit(pat), F.lit(rep))
        vocab = materialize(vocab.select("w", "cnt", seq.alias("seq")))
    return out, vocab


def _register_q413() -> None:
    S = "chr(31)"
    out_legs = " UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS rnk,
               split_part(pair, {S}, 1) AS left_sym,
               split_part(pair, {S}, 2) AS right_sym,
               replace(pair, {S}, '') AS merged,
               pc AS pair_count
        FROM t{r}"""
        for r in range(1, _Q413_MERGES + 1)
    )

    @_register(
        "q413_bpe_merge_loop",
        oracle=f"""
        WITH {_bpe_round_ctes(_Q413_MERGES)}
        {out_legs}
        """,
    )
    def q413_bpe_merge_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
        """k=6 successive BPE merges over the documents word vocabulary:
        the merge TABLE (rank, pair, merged symbol, weighted count at
        selection) — tokenizer training's core artifact. See block
        comment for the cross-engine merge-procedure contract."""
        out, _vocab = _bpe_learn(spark, sf_dir, _Q413_MERGES)
        return spark.createDataFrame(
            out,
            "rnk long, left_sym string, right_sym string, "
            "merged string, pair_count long",
        )


_register_q413()


# ---------------------------------------------------------------------------
# q414 — BPE ENCODE: apply the q413-learned merge table to the corpus
# and report the per-language compression census — the tokenizer
# story's application half (train q140/q413 → ENCODE here), i.e. the
# "how many tokens is my corpus" number every training-data budget
# starts from. Encoding rides the VOCABULARY: each distinct word is
# encoded once (the learner's final symbol state IS the encoding), and
# the corpus-sized word stream just joins the |V|-row symbol-count
# table — no per-occurrence merge replay. Census per language: word
# occurrences, character total, post-merge symbol (token) total, and
# tokens-per-1000-chars (integer div — portable).
#
# Scale shape: the merge learning is q413's (vocab-sized rounds,
# 1-row driver scalar per round); the census is one corpus word
# explode + one shuffle join on the word key + one map-side-combinable
# aggregate. The oracle replays the identical 6-round CTE chain
# (shared builder) and the same join/census.
# ---------------------------------------------------------------------------


def _register_q414() -> None:
    S = "chr(31)"

    @_register(
        "q414_bpe_encode",
        oracle=f"""
        WITH {_bpe_round_ctes(_Q413_MERGES)},
        enc AS (
            SELECT w,
                   CAST(len(string_split(
                       substr(seq, 2, length(seq) - 2), {S}
                   )) AS BIGINT) AS n_syms
            FROM v{_Q413_MERGES}
        ),
        words AS (
            SELECT lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_words,
               CAST(SUM(length(w)) AS BIGINT) AS chars_total,
               CAST(SUM(e.n_syms) AS BIGINT) AS tokens_total,
               CAST(SUM(e.n_syms) * 1000 // SUM(length(w)) AS BIGINT)
                   AS tokens_per_kchar
        FROM words JOIN enc e USING (w)
        WHERE length(w) > 0
        GROUP BY lang
        """,
    )
    def q414_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-language BPE compression census under the 6 learned
        merges (word count, chars, post-merge tokens, tokens per 1000
        chars). See block comment."""
        SEP = _Q413_SEP
        _merges, vocab = _bpe_learn(spark, sf_dir, _Q413_MERGES)
        enc = vocab.select(
            "w",
            F.size(
                F.split(
                    F.expr("substring(seq, 2, length(seq) - 2)"), SEP
                )
            ).cast("long").alias("n_syms"),
        )
        d = load_table(spark, "documents", sf_dir)
        words = d.select(
            "lang",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        ).filter(F.length("w") > 0)
        return (
            words.join(enc, "w")
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum(F.length("w")).alias("chars_total"),
                F.sum("n_syms").alias("tokens_total"),
                F.expr(
                    "CAST(sum(n_syms) * 1000 div sum(length(w))"
                    " AS BIGINT)"
                ).alias("tokens_per_kchar"),
            )
        )


_register_q414()
