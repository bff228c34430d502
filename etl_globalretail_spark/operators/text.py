"""Text-analysis operators for training-data pipelines over ``documents``.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — each a pure Column-expression pipeline (JVM-side,
codegen'd; a 100 TB corpus never touches Python), each with a DuckDB oracle.

Tokenization contract shared by every operator (and mirrored in the oracle
SQL): tokens = regexp-split of trim(text) on ``\\s+``. Empty text → one
empty-string token; the corpus has no empty docs, and the guard is tested.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_globalretail_spark.plans.queries import make_query_decorator
from etl_globalretail_spark.sources.readers import load_table, load_table_spread

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

_register = make_query_decorator(QUERIES, ORACLE)


# Stopword profiles for the n-gram/stopword language heuristic. Public
# knowledge (standard high-frequency function words per language).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "a", "is", "that"),
    "de": ("der", "die", "und", "das", "ein", "ist", "nicht", "mit"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est"),
    "es": ("el", "los", "y", "una", "es", "por", "con", "para"),
    "pt": ("o", "os", "em", "um", "uma", "não", "para", "com"),
}

_QUALITY_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count — the baseline "how big is this doc" stat."""
    return F.size(tokens(text)).cast("long")


def stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in ``words`` — a codegen'd higher-order
    filter over the token array, no UDF."""
    return F.size(F.filter(tokens(text), lambda w: w.isin(*words))).cast("long")


def _sql_tokens(col: str = "text") -> str:
    return f"regexp_split_to_array(trim({col}), '\\s+')"


def _sql_stopword_hits(words: tuple[str, ...], col: str = "text") -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter({_sql_tokens(col)}, w -> w IN ({inlist}))) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Token / length statistics per source.
# ---------------------------------------------------------------------------


@_register(
    "q20_token_stats",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(len({_sql_tokens()}) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               n_chars
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars_calc) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN n_chars_calc = n_chars THEN 1 ELSE 0 END) AS BIGINT)
               AS n_chars_consistent
    FROM tok
    GROUP BY source
    """,
)
def q20_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) rolled up per source, plus a
    consistency audit of the stored n_chars column — integer sums, exact."""
    d = load_table(spark, "documents", sf_dir)
    t = d.select(
        "source",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        "n_chars",
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_calc").alias("total_chars"),
        F.sum(
            F.when(F.col("n_chars_calc") == F.col("n_chars"), 1).otherwise(0)
        ).cast("long").alias("n_chars_consistent"),
    )


# ---------------------------------------------------------------------------
# BPE-ish subword token counting.
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer, minus the trailing-space lookahead (RE2 — the
# oracle's regex engine — has no lookahead; Java and RE2 agree on this
# subset): contractions | space?letters | space?digits | space?punct-run |
# whitespace-run. Each match ≈ one pre-token, the unit BPE merges start
# from — the right denominator for "how many LLM tokens is this corpus".
BPE_PRETOKEN_RE = (
    r"'(?:[sdmt]|ll|ve|re)|"
    r" ?\p{L}+|"
    r" ?\p{N}+|"
    r" ?[^\s\p{L}\p{N}]+|"
    r"\s+"
)


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count: number of GPT-2 pre-tokenizer matches.
    ``regexp_count`` is a codegen'd JVM regex scan — no UDF, no Python."""
    return F.regexp_count(text, F.lit(BPE_PRETOKEN_RE)).cast("long")


@_register(
    "q40_bpe_token_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text,
               '{BPE_PRETOKEN_RE.replace("'", "''")}'))) AS BIGINT)
               AS total_bpe_tokens,
           CAST(SUM(len({_sql_tokens()})) AS BIGINT) AS total_ws_tokens
    FROM documents
    GROUP BY source
    """,
)
def q40_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-token counts next to whitespace counts per source — the
    corpus-sizing stat a training-data pipeline reports (subword tokens,
    not words). The ratio bpe/ws ≈ tokens-per-word fertility."""
    d = load_table(spark, "documents", sf_dir)
    t = d.select(
        "source",
        bpe_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_ws").alias("total_ws_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length/stopword/diversity ratios per document.
# ---------------------------------------------------------------------------


@_register(
    "q19_quality_scores",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               CAST(len({_sql_tokens()}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_sql_tokens()})) AS BIGINT) AS n_distinct_tokens,
               {_sql_stopword_hits(_QUALITY_STOPWORDS)} AS n_stopwords,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT doc_id, lang, n_tokens, n_distinct_tokens, n_stopwords,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS lexical_diversity
    FROM feat
    """,
)
def q19_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, lexical diversity
    (distinct/total), stopword ratio, mean token length (chars incl.
    separators / tokens — cheap and monotone with the true mean). Ratios are
    single double divisions of exact integers — engine-identical."""
    return quality_features(load_table(spark, "documents", sf_dir))


def quality_features(d: DataFrame) -> DataFrame:
    """The q19 feature block as a pure stateless transformation — the SAME
    function serves batch profiling and the streaming ingest quality gate
    (apply to a ``readStream`` frame and filter on the ratios; stateless
    projection ⇒ no watermark, no state store). Parity is test-asserted."""
    tok = tokens(F.col("text"))
    feat = d.select(
        "doc_id",
        "lang",
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct_tokens"),
        stopword_hits(F.col("text"), _QUALITY_STOPWORDS).alias("n_stopwords"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return feat.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_distinct_tokens",
        "n_stopwords",
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("n_stopwords").cast("double") / F.col("n_tokens")).alias(
            "stopword_ratio"
        ),
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias(
            "lexical_diversity"
        ),
    )


# ---------------------------------------------------------------------------
# Language-ID: stopword-profile scores + deterministic argmax.
# ---------------------------------------------------------------------------

_LANGS = tuple(LANG_STOPWORDS)  # fixed priority order for argmax ties


@_register(
    "q21_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS lang_label,
               {", ".join(f"{_sql_stopword_hits(ws)} AS s_{lg}" for lg, ws in LANG_STOPWORDS.items())}
        FROM documents
    ),
    decided AS (
        SELECT doc_id, lang_label,
               CASE
                   WHEN {" + ".join("s_" + lg for lg in _LANGS)} = 0 THEN 'und'
                   {" ".join(
                       "WHEN "
                       + " AND ".join(f"s_{lg} >= s_{other}" for other in _LANGS if other != lg)
                       + f" THEN '{lg}'"
                       for lg in _LANGS
                   )}
                   ELSE 'und'
               END AS lang_pred
        FROM scored
    )
    SELECT lang_label, lang_pred, COUNT(*) AS n_docs
    FROM decided GROUP BY lang_label, lang_pred
    """,
)
def q21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: per-language stopword-hit scores, argmax with a
    fixed priority order for ties (first language in LANG_STOPWORDS wins),
    'und' when no profile hits. Output is the confusion matrix against the
    stored lang label. Integer scores → deterministic decision."""
    d = load_table_spread(spark, "documents", sf_dir)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[
            stopword_hits(F.col("text"), ws).alias(f"s_{lg}")
            for lg, ws in LANG_STOPWORDS.items()
        ],
    )
    total = None
    for lg in _LANGS:
        total = F.col(f"s_{lg}") if total is None else total + F.col(f"s_{lg}")
    decision = F.when(total == 0, F.lit("und"))
    for lg in _LANGS:
        cond = None
        for other in _LANGS:
            if other == lg:
                continue
            c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
            cond = c if cond is None else cond & c
        decision = decision.when(cond, F.lit(lg))
    decision = decision.otherwise(F.lit("und"))
    return (
        scored.withColumn("lang_pred", decision)
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Document fingerprinting.
# ---------------------------------------------------------------------------


@_register(
    "q22_fingerprints",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(array_to_string({_sql_tokens()}, ' ')) AS fingerprint
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT fingerprint) AS n_unique,
           min(fingerprint) AS min_fp
    FROM fp GROUP BY source
    """,
)
def q22_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over the whitespace-normalized token
    stream (so formatting differences don't change the print), rolled up to
    a per-source uniqueness profile. The rolling/shingle hash variant used by
    MinHash lives in operators/dedup.py (xxhash64 — Spark-only, no SQL twin).
    """
    d = load_table(spark, "documents", sf_dir)
    fp = d.select(
        "doc_id",
        "source",
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fingerprint"),
    )
    return fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
        F.min("fingerprint").alias("min_fp"),
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary: exact top-k tokens (distributed wordcount + rank).
# ---------------------------------------------------------------------------


def top_tokens(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Exact top-``k`` tokens by corpus frequency with a total-order rank
    (count desc, token asc — deterministic under ties).

    Scale shape: explode → hash-aggregate is the canonical wordcount; the
    shuffle carries (token, partial count) pairs after map-side combine —
    vocabulary-sized, not corpus-sized. The top-k cut is bounded even for
    huge vocabularies: ``global_topk`` plans TakeOrderedAndProject
    (per-partition heap of k, driver merge) and ranks only the ≤ k
    survivors — never a single-task window over the whole vocabulary."""
    from etl_globalretail_spark.operators.ranks import global_topk

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return global_topk(
        counts, [("n", "desc"), ("token", "asc")], k, out="pos"
    ).select("token", "n", F.col("pos").cast("bigint").alias("pos"))


@_register(
    "q72_top_tokens",
    oracle=f"""
    WITH counts AS (
        SELECT token, COUNT(*) AS n FROM (
            SELECT unnest({_sql_tokens("text")}) AS token FROM documents
        ) GROUP BY token
    )
    SELECT token, n, pos FROM (
        SELECT token, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, token) AS pos
        FROM counts
    ) WHERE pos <= 25
    """,
)
def q72_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-25 vocabulary — wordcount + deterministic rank,
    the vocabulary-audit primitive (stopword discovery, boilerplate
    detection) every text pipeline runs."""
    d = load_table(spark, "documents", sf_dir)
    return top_tokens(d, "text", 25)


# ---------------------------------------------------------------------------
# LLM context prep: overlapping chunking + sequence packing.
# ---------------------------------------------------------------------------

_CHUNK_W, _CHUNK_STRIDE = 50, 40  # 50-token windows, 10-token overlap
_PACK_CAP = 512


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = _CHUNK_W,
    stride: int = _CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-window preparation step of an LLM data pipeline (window <
    stride overlap keeps boundary context in both neighbors).

    One map-side explode of computed starts — no shuffle, no UDF; a short
    document yields one (possibly sub-window) chunk. Chunk identity is
    md5 of the reassembled window (cross-engine), so downstream dedup can
    run at chunk grain.
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("__n"),
        F.col(text_col).alias("__txt"),
        F.posexplode(starts).alias("chunk_pos", "start"),
    )
    tt = tokens(F.col("__txt"))
    length = F.least(F.lit(window), F.col("__n") - F.col("start") + 1)
    chunk = F.concat_ws(" ", F.slice(tt, F.col("start"), length))
    return ex.select(
        "doc_id",
        (F.col("chunk_pos") + 1).cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_token"),
        length.cast("bigint").alias("n_chunk_tokens"),
        F.md5(chunk).alias("chunk_md5"),
    )


@_register(
    "q83_document_chunks",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {_sql_tokens("text")} AS __t FROM documents
    ),
    ex AS (
        SELECT doc_id, __t, len(__t) AS n,
               unnest(range(1, greatest(len(__t), 1) + 1, {_CHUNK_STRIDE}))
                   AS start,
               generate_subscripts(
                   range(1, greatest(len(__t), 1) + 1, {_CHUNK_STRIDE}), 1
               ) AS chunk_idx
        FROM tok
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_token,
           CAST(least({_CHUNK_W}, n - start + 1) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(
               __t[start : start + least({_CHUNK_W}, n - start + 1) - 1],
               ' ')) AS chunk_md5
    FROM ex
    """,
)
def q83_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 50-token chunks (stride 40) of every document, each
    chunk pinned by its cross-engine md5 — the dataset a context-window
    trainer actually consumes, checked chunk-for-chunk."""
    d = load_table(spark, "documents", sf_dir)
    return chunk_documents(d, "doc_id", "text")


def pack_sequences(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_count_col,
    capacity: int = _PACK_CAP,
) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid out in a
    deterministic (hash, id) order per group, concatenated, and split at
    ``capacity``-token boundaries; a document's bin is where its first
    token lands. This is GPT-style "pack then chunk" — bins fill exactly
    (documents straddle boundaries), and the assignment is a prefix sum +
    integer division, no driver loop.

    One shuffle on the group key; the running offset is a window
    cumulative sum of exact BIGINTs.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_count_col).over(w)
    offset = (cum - token_count_col).cast("bigint")
    return df.select(
        F.col(group_col),
        F.col(id_col),
        token_count_col.cast("bigint").alias("n_tokens"),
        F.floor(offset / capacity).cast("bigint").alias("bin"),
    )


@_register(
    "q84_sequence_packing",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id,
               CAST(len({_sql_tokens("text")}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    placed AS (
        SELECT source, doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS off
        FROM sized
    )
    SELECT source,
           CAST(FLOOR(off / {_PACK_CAP}) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids
    FROM placed
    GROUP BY source, bin
    """,
)
def q84_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequence packing into 512-token training bins
    (deterministic hash order, concat-and-split semantics), audited per
    bin with an id-sum pinning exact membership."""
    d = load_table(spark, "documents", sf_dir)
    sized = d.select(
        "source", "doc_id", token_count(F.col("text")).alias("__nt")
    )
    packed = pack_sequences(sized, "source", "doc_id", F.col("__nt"))
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("doc_id").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# Inverted index build (search-index posting lists).
# ---------------------------------------------------------------------------


def inverted_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int = 10_000,
) -> DataFrame:
    """token → sorted posting list of doc ids, for tokens whose document
    frequency lies in [min_df, max_df] — the index-build workload of a
    search/retrieval pipeline.

    Shape: explode → DISTINCT (a doc posts once per token) → collect_list
    per token → sort within the row. The only shuffle carries (token,
    doc_id) pairs — postings-sized. ``collect_list`` order is
    nondeterministic under parallel merge, so the row-local
    ``array_sort`` is what makes the output (and its hash) stable; the
    df band drops both hapax noise (min_df) and stopword megaposts
    (max_df), which is also what bounds the largest collected row at
    scale — an uncapped stopword row would be |corpus|-sized.
    """
    posts = (
        docs.select(
            F.explode(tokens(F.col(text_col))).alias("token"),
            F.col(id_col).alias("doc"),
        )
        .distinct()
    )
    return (
        posts.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_sort(F.collect_list("doc")).alias("postings"),
        )
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )


@_register(
    "q101_inverted_index",
    oracle=f"""
    WITH posts AS (
        SELECT DISTINCT tok AS token, doc_id AS doc FROM (
            SELECT unnest({_sql_tokens("text")}) AS tok, doc_id FROM documents
        )
    ),
    idx AS (
        SELECT token, COUNT(*) AS df,
               list_sort(list(doc)) AS postings
        FROM posts GROUP BY token
        HAVING COUNT(*) BETWEEN 25 AND 500
    )
    SELECT token, CAST(df AS BIGINT) AS df,
           md5(array_to_string(postings, ',')) AS postings_md5
    FROM idx
    """,
)
def q101_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index audit: build posting lists for mid-frequency tokens
    (25 ≤ df ≤ 500) and pin each token's EXACT sorted posting list with an
    md5 over its comma-joined ids — the driver hash then verifies index
    contents, not just token counts."""
    d = load_table(spark, "documents", sf_dir)
    idx = inverted_index(d, "doc_id", "text", min_df=25, max_df=500)
    return idx.select(
        "token",
        "df",
        F.md5(F.concat_ws(",", F.col("postings"))).alias("postings_md5"),
    )


# ---------------------------------------------------------------------------
# Within-group quantile filtering: keep each language's top quality quartile.
# ---------------------------------------------------------------------------


@_register(
    "q121_quality_percentile_filter",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               CAST(len(list_distinct({_sql_tokens()})) AS DOUBLE)
                   / len({_sql_tokens()}) AS ld
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, ld,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY ld DESC, doc_id) AS rnk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM feat
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rnk <= CEIL(n * 0.25) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rnk <= CEIL(n * 0.25) THEN doc_id ELSE 0 END)
                AS BIGINT) AS sum_kept_ids
    FROM ranked
    GROUP BY lang
    """,
)
def q121_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative (within-group) quality filtering: keep each language's top
    quartile by lexical diversity — the curation policy "best 25% per
    language" that an absolute threshold can't express, since quality
    distributions differ per language.

    The kept set is id-pinned (Σ kept doc_ids) so the oracle proves the
    exact membership, not just the counts. Determinism: lexical diversity
    is a single double division of exact integers (engine-identical);
    ties break on doc_id; the quartile cut compares an integer rank
    against CEIL(0.25·n) — no float accumulation anywhere.

    Scale shape: a rank window partitioned by ~10 language codes is a
    10-task sort of the whole corpus (the low-cardinality sibling of the
    banned partition-less windows). The per-language rank instead comes
    from the TWO-PHASE global rank (operators.ranks) over the total
    order (lang, ld desc, doc_id): per-lang rank = global rank − the
    language's exclusive row offset, with the ≤|langs| offset/count maps
    as driver scalars (the documented k-centroid class). Output is
    bit-identical — the unchanged oracle hash-checks it.
    """
    from etl_globalretail_spark.operators.ranks import global_row_number

    d = load_table_spread(spark, "documents", sf_dir)
    tok = tokens(F.col("text"))
    feat = d.select(
        "doc_id",
        "lang",
        (
            F.size(F.array_distinct(tok)).cast("double") / F.size(tok)
        ).alias("ld"),
    )
    ranked, _total = global_row_number(
        feat,
        [("lang", "asc"), ("ld", "desc"), ("doc_id", "asc")],
        out="grn",
    )
    # counts come off the MATERIALIZED ranged frame — reading feat here
    # would re-scan documents.parquet a second time for the same rows
    counts = {
        r["lang"]: r["count"]
        for r in ranked.groupBy("lang").count().collect()
    }
    off, acc = {}, 0
    for lang in sorted(counts):
        off[lang] = acc
        acc += counts[lang]
    off_map = F.create_map(*[F.lit(x) for kv in off.items() for x in kv])
    n_map = F.create_map(*[F.lit(x) for kv in counts.items() for x in kv])
    rnk = F.col("grn") - off_map[F.col("lang")]
    keep = rnk <= F.ceil(n_map[F.col("lang")] * 0.25)
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(keep, F.col("doc_id")).otherwise(0))
        .cast("long")
        .alias("sum_kept_ids"),
    )


# ---------------------------------------------------------------------------
# q155 — grouped-map applyInPandas surface: per-key SEQUENTIAL feature
# extraction, the API tier between pure-SQL windows and custom stateful
# streaming. The kernel receives each user's complete, locally-sorted
# event history as ONE pandas frame — the shape sequence featurizers,
# per-entity model scoring, and sessionized feature vectors need, where
# window functions get awkward. Arithmetic is integer-µs diffs only, so a
# gaps-and-islands SQL replay certifies the Python kernel bit-for-bit
# (the applyInPandas sibling of q131's UDTF-on-the-gate).
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000
_BURST_GAP_US = 60 * 1_000_000


def user_activity_features(events: DataFrame) -> DataFrame:
    """(user_id, n_events, n_sessions, longest_burst, span_minutes) via one
    ``applyInPandas`` pass: sessions split at ≥30-min gaps, a burst is a
    maximal run of consecutive events < 60 s apart (length in events),
    span is floor-minutes first→last. One shuffle on user_id; the kernel
    is O(history) per key with no cross-key state."""
    import pandas as pd

    def one_user(t):
        d = t[1:] - t[:-1] if len(t) > 1 else t[:0]
        n_sessions = 1 + int((d >= _SESSION_GAP_US).sum())
        burst, best = 1, 1
        for gap in d:
            burst = burst + 1 if gap < _BURST_GAP_US else 1
            best = max(best, burst)
        return len(t), n_sessions, best, int((t[-1] - t[0]) // 60_000_000)

    def shard_feats(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "tus", "event_id"])
        rows = []
        for uid, g in pdf.groupby("user_id", sort=False):
            n, ns, nb, span = one_user(g["tus"].to_numpy())
            rows.append((int(uid), n, ns, nb, span))
        return pd.DataFrame(
            rows,
            columns=["user_id", "n_events", "n_sessions",
                     "longest_burst", "span_minutes"],
        )

    base = events.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("tus")
    )
    # Grouped map by a SHARD of keys, not the key: one-row-per-user
    # groups are tiny and numerous, and applyInPandas pays per-invocation
    # Arrow+Python overhead PER GROUP (measured ~5 s for ~1.5k users at
    # sf0.1 → ~2 s sharded). user_id % 32 keeps every user whole within
    # one shard, so semantics are identical; the kernel loops users.
    return base.groupBy((F.col("user_id") % 32).alias("__shard")).applyInPandas(
        shard_feats,
        "user_id long, n_events long, n_sessions long, "
        "longest_burst long, span_minutes long",
    )


@_register(
    "q155_user_activity_features",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap
        FROM events
    ),
    runs AS (
        SELECT user_id, event_id, tus,
               SUM(CASE WHEN gap IS NULL OR gap >= {_BURST_GAP_US}
                        THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY tus, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS burst_id,
               CASE WHEN gap >= {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
        FROM seq
    ),
    bursts AS (
        SELECT user_id, burst_id, COUNT(*) AS blen
        FROM runs GROUP BY user_id, burst_id
    )
    SELECT r.user_id,
           COUNT(*) AS n_events,
           CAST(1 + SUM(r.new_s) AS BIGINT) AS n_sessions,
           CAST((SELECT MAX(blen) FROM bursts b
                 WHERE b.user_id = r.user_id) AS BIGINT) AS longest_burst,
           CAST((MAX(r.tus) - MIN(r.tus)) // 60000000 AS BIGINT)
               AS span_minutes
    FROM runs r GROUP BY r.user_id
    """,
)
def q155_user_activity_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sequential activity features through the grouped-map
    applyInPandas kernel, hash-matched against the gaps-and-islands SQL
    formulation (sessions ≡ q34's rule; bursts ≡ maximal <60 s runs)."""
    return user_activity_features(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# q340 — boilerplate REMOVAL / main-content extraction (the trafilatura
# / jusText stage every web-corpus pipeline runs between crawl and
# curation): documents are wrapped in deterministic synthetic markup
# (title, script block carrying the doc's md5, nav menu, footer — the
# standard boilerplate taxonomy), then the extraction chain recovers
# the main content: (1) drop container tags WITH their boilerplate
# payloads, (2) strip remaining tags, (3) collapse whitespace. The
# census proves the round-trip (extracted ≡ whitespace-normalized
# original) and reports the content ratio — the real pipeline's
# "text density" signal.
#
# Engine notes: the container pattern uses an ALTERNATION on both the
# open and close tag, NOT a backreference — DuckDB's RE2 has no
# backreferences (probed; the \\1 form fails SILENTLY as a no-match),
# Java regex accepts both, so the shared-dialect subset is the
# alternation. Two passes of the container pattern because stripping
# <script> exposes no nesting here but adjacent containers share no
# chars; the pattern set is closed after two passes on this markup
# shape by construction.
#
# Plan shape: pure Column regexp chain — JVM-side, codegen'd, map-only;
# the census is one map-side-combinable groupBy on |sources| rows.
# ---------------------------------------------------------------------------

_Q340_CONTAINER = (
    "<(script|title|nav|footer)[^>]*>[^<]*</(script|title|nav|footer)>"
)


@_register(
    "q340_markup_extraction",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, text,
               '<html><head><title>' || source
               || '</title><script>var k="' || md5(text)
               || '";</script></head><body><nav>home | about | contact'
               || '</nav><p>' || text || '</p><footer>(c) corp</footer>'
               || '</body></html>' AS html
        FROM documents
    ),
    x AS (
        SELECT doc_id, source, text, html,
               trim(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(html,
                       '{_Q340_CONTAINER}', ' ', 'g'),
                       '{_Q340_CONTAINER}', ' ', 'g'),
                       '<[^>]+>', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS extracted
        FROM h
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(html)) AS BIGINT) AS html_chars,
           CAST(SUM(length(extracted)) AS BIGINT) AS extracted_chars,
           CAST(SUM(CASE WHEN extracted =
                    trim(regexp_replace(text, '\\s+', ' ', 'g'))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_exact,
           CAST(SUM(length(extracted)) * 1000 // SUM(length(html))
                AS BIGINT) AS content_permil
    FROM x GROUP BY source
    """,
)
def q340_markup_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of the boilerplate-removal chain over synthetic
    markup: html size, extracted size, exact round-trip count, content
    ratio. See block comment."""
    d = load_table_spread(spark, "documents", sf_dir)
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit('</title><script>var k="'), F.md5(F.encode("text", "UTF-8")),
        F.lit('";</script></head><body><nav>home | about | contact'),
        F.lit("</nav><p>"), F.col("text"),
        F.lit("</p><footer>(c) corp</footer></body></html>"),
    )
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(html, _Q340_CONTAINER, " "),
                    _Q340_CONTAINER, " ",
                ),
                "<[^>]+>", " ",
            ),
            r"\s+", " ",
        )
    )
    normalized = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    x = d.select(
        "source",
        F.length(html).alias("hl"),
        F.length(extracted).alias("el"),
        (extracted == normalized).cast("long").alias("rt"),
    )
    return x.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("hl").cast("long").alias("html_chars"),
        F.sum("el").cast("long").alias("extracted_chars"),
        F.sum("rt").cast("long").alias("n_roundtrip_exact"),
        F.expr("sum(el) * 1000 div sum(hl)").cast("long")
        .alias("content_permil"),
    )


# ---------------------------------------------------------------------------
# q361 — COHEN'S KAPPA agreement (the chance-corrected accuracy every
# labeling/annotation pipeline reports): how much better q21's
# heuristic language-ID agrees with the stored gold label than chance
# would, computed from the SAME confusion matrix q21 emits (oracles
# compose: q21's decision CTE is spliced verbatim).
#
# Integer contract: observed agreement po_ppm = diag·10^6 div N;
# expected agreement from the marginals pe_ppm = (Σ_c rowN_c·colN_c)
# ·10^6 div N² (products ≤ N², ·10^6 int64-safe through the replica;
# the q217 decimal widening applies beyond); kappa_ppm = (po − pe)
# ·10^6 div (10^6 − pe) — three truncating divisions in a fixed order.
#
# Scale shape: the confusion matrix is |langs+1|² cells at ANY corpus
# size; everything here is algebra on that bounded grain (q21 does
# the one corpus pass).
# ---------------------------------------------------------------------------


def _register_q361() -> None:
    q21 = ORACLE["q21_lang_id"]

    @_register(
        "q361_cohens_kappa",
        oracle=f"""
        WITH cm AS ({q21}),
        n AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM cm),
        po AS (
            SELECT CAST(COALESCE(SUM(n_docs), 0) * 1000000 // n.n
                   AS BIGINT) AS po_ppm
            FROM cm, n WHERE lang_label = lang_pred GROUP BY n.n
        ),
        marg AS (
            SELECT COALESCE(r.c, p.c) AS cls,
                   COALESCE(r.rn, 0) AS rn, COALESCE(p.pn, 0) AS pn
            FROM (SELECT lang_label AS c, SUM(n_docs) AS rn
                  FROM cm GROUP BY 1) r
            FULL JOIN (SELECT lang_pred AS c, SUM(n_docs) AS pn
                       FROM cm GROUP BY 1) p ON p.c = r.c
        ),
        pe AS (
            SELECT CAST(SUM(rn * pn) * 1000000 // (n.n * n.n)
                   AS BIGINT) AS pe_ppm
            FROM marg, n GROUP BY n.n
        )
        SELECT n.n AS n_docs, po.po_ppm, pe.pe_ppm,
               CAST((po.po_ppm - pe.pe_ppm) * 1000000
                    // GREATEST(1, 1000000 - pe.pe_ppm)
                    AS BIGINT) AS kappa_ppm
        FROM n, po, pe
        """,
    )
    def q361_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Chance-corrected agreement of the q21 language-ID against
        the gold label, in ppm. See block comment."""
        cm = QUERIES["q21_lang_id"](spark, sf_dir)
        rows = cm.collect()  # |langs+1|² bounded confusion cells
        n = sum(r["n_docs"] for r in rows)
        diag = sum(
            r["n_docs"] for r in rows if r["lang_label"] == r["lang_pred"]
        )
        row_n: dict[str, int] = {}
        col_n: dict[str, int] = {}
        for r in rows:
            row_n[r["lang_label"]] = (
                row_n.get(r["lang_label"], 0) + r["n_docs"]
            )
            col_n[r["lang_pred"]] = (
                col_n.get(r["lang_pred"], 0) + r["n_docs"]
            )
        po = diag * 1000000 // n
        pe = sum(
            rn * col_n.get(c, 0) for c, rn in row_n.items()
        ) * 1000000 // (n * n)
        # truncate toward zero (DuckDB //), NOT Python floor — po < pe
        # (worse-than-chance) would otherwise diverge on the sign.
        # Denominator clamped ≥ 1 in BOTH engines (ADVICE r8): pe_ppm
        # hits 10^6 when the marginals put all mass in one class (then
        # po is 10^6 too and kappa is 0/1 = 0 — the standard degenerate
        # convention), avoiding ZeroDivisionError either side.
        knum, kden = (po - pe) * 1000000, max(1, 1000000 - pe)
        kappa = abs(knum) // kden * (1 if knum >= 0 else -1)
        return spark.createDataFrame(
            [(n, po, pe, kappa)],
            "n_docs long, po_ppm long, pe_ppm long, kappa_ppm long",
        )


_register_q361()


# ---------------------------------------------------------------------------
# q388 — KRIPPENDORFF'S ALPHA (nominal; Krippendorff 1970/2004): the
# inter-annotator agreement metric labeling pipelines actually report
# when there are MORE THAN TWO annotators and MISSING annotations —
# exactly the two cases q361's Cohen's kappa cannot express. The panel
# here is three annotators over every document: the stored gold label,
# q21's heuristic language-ID (same decision CTE, reconstructed from
# the same stopword profiles — oracles compose), and a deterministic
# md5 "second human" who skips every third unit (real missingness) and
# relabels ~20% of the rest as 'und' (real disagreement).
#
# Integer contract (the half-unit device): each ordered pair of
# annotations within a unit contributes 1/(m_u−1) to the coincidence
# matrix; with m_u ∈ {2,3} the weight 2/(m_u−1) ∈ {2,1} is an exact
# integer, so the DOUBLED coincidence matrix O2, its margins n_c2, and
# D_o2 = Σ_{c≠k} O2 are all int64, and
#     α = 1 − 2·(n−1)·D_o2 / Σ_{c≠k} n_c2·n_k2
# is ONE truncating division (toward zero — q361's sign trick on the
# Spark side, DuckDB's native // semantics in the oracle; denominator
# clamped ≥ 1, the ADVICE-r8 q361 discipline). Σ n_c2·n_k2 ≤ (2n)²
# needs the q217 decimal widening past ~1.5e9 annotations; the Spark
# side computes it in driver Python ints (exact at any scale), the
# oracle in DuckDB's 128-bit internals.
#
# Plan: the corpus is touched by exactly one decision pass; the
# annotation frame self-joins on doc_id with fanout ≤ 6 (3 annotators),
# collapses to the ≤(|langs|+1)² coincidence grain, and the alpha
# algebra runs on those bounded driver cells (the q343 class).
# ---------------------------------------------------------------------------


def _register_q388() -> None:
    scored_cols = ", ".join(
        f"{_sql_stopword_hits(ws)} AS s_{lg}"
        for lg, ws in LANG_STOPWORDS.items()
    )
    total = " + ".join("s_" + lg for lg in _LANGS)
    arms = " ".join(
        "WHEN "
        + " AND ".join(
            f"s_{lg} >= s_{other}" for other in _LANGS if other != lg
        )
        + f" THEN '{lg}'"
        for lg in _LANGS
    )

    @_register(
        "q388_krippendorff_alpha",
        oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang AS lang_label, {scored_cols}
            FROM documents
        ),
        decided AS MATERIALIZED (
            SELECT doc_id, lang_label,
                   CASE WHEN {total} = 0 THEN 'und' {arms}
                        ELSE 'und' END AS lang_pred,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                           || 'kra'), 1, 15) AS BIGINT)
                       % 3 AS h_a,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                           || 'krb'), 1, 15) AS BIGINT)
                       % 10 AS h_b
            FROM scored
        ),
        ann AS MATERIALIZED (
            SELECT doc_id, 'gold' AS annot, lang_label AS lab FROM decided
            UNION ALL
            SELECT doc_id, 'model', lang_pred FROM decided
            UNION ALL
            SELECT doc_id, 'human2',
                   CASE WHEN h_b < 8 THEN lang_label ELSE 'und' END
            FROM decided WHERE h_a <> 0
        ),
        m AS (SELECT doc_id, COUNT(*) AS m FROM ann GROUP BY doc_id),
        cells AS MATERIALIZED (
            SELECT a.lab AS c, b.lab AS k,
                   CAST(SUM(2 // (m.m - 1)) AS BIGINT) AS o2
            FROM ann a
            JOIN ann b ON a.doc_id = b.doc_id AND a.annot <> b.annot
            JOIN m ON m.doc_id = a.doc_id
            GROUP BY a.lab, b.lab
        ),
        marg AS MATERIALIZED (
            SELECT c, CAST(SUM(o2) AS BIGINT) AS nc2 FROM cells GROUP BY c
        ),
        sc AS (
            SELECT (SELECT COUNT(*) FROM m) AS n_units,
                   (SELECT SUM(nc2) FROM marg) // 2 AS n_ann,
                   (SELECT COALESCE(SUM(o2), 0) FROM cells
                    WHERE c <> k) AS d_o2,
                   (SELECT GREATEST(1, COALESCE(SUM(a.nc2 * b.nc2), 0))
                    FROM marg a JOIN marg b ON a.c <> b.c) AS s
        )
        SELECT CAST(n_units AS BIGINT) AS n_units,
               CAST(n_ann AS BIGINT) AS n_ann,
               CAST(d_o2 AS BIGINT) AS d_o2,
               CAST((s - 2 * (n_ann - 1) * d_o2) * 1000000 // s
                    AS BIGINT) AS alpha_ppm
        FROM sc
        """,
    )
    def q388_krippendorff_alpha(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Nominal Krippendorff's alpha over a 3-annotator panel with
        genuine missingness, via the exact half-unit coincidence
        matrix. See block comment."""
        d = load_table_spread(spark, "documents", sf_dir)
        scored = d.select(
            "doc_id",
            F.col("lang").alias("lang_label"),
            *[
                stopword_hits(F.col("text"), ws).alias(f"s_{lg}")
                for lg, ws in LANG_STOPWORDS.items()
            ],
        )
        tot = None
        for lg in _LANGS:
            tot = (
                F.col(f"s_{lg}") if tot is None else tot + F.col(f"s_{lg}")
            )
        decision = F.when(tot == 0, F.lit("und"))
        for lg in _LANGS:
            cond = None
            for other in _LANGS:
                if other == lg:
                    continue
                c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
                cond = c if cond is None else cond & c
            decision = decision.when(cond, F.lit(lg))
        decision = decision.otherwise(F.lit("und"))

        def _h(salt: str, mod: int):
            return (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"), F.lit(salt)
                            )
                        ),
                        1, 15,
                    ),
                    16, 10,
                ).cast("bigint") % mod
            )

        decided = scored.select(
            "doc_id", "lang_label", decision.alias("lang_pred"),
            _h("kra", 3).alias("h_a"), _h("krb", 10).alias("h_b"),
        )
        ann = (
            decided.select(
                "doc_id", F.lit("gold").alias("annot"),
                F.col("lang_label").alias("lab"),
            )
            .unionAll(
                decided.select(
                    "doc_id", F.lit("model"),
                    F.col("lang_pred"),
                )
            )
            .unionAll(
                decided.filter(F.col("h_a") != 0).select(
                    "doc_id", F.lit("human2"),
                    F.when(F.col("h_b") < 8, F.col("lang_label"))
                    .otherwise(F.lit("und")),
                )
            )
        )
        from etl_globalretail_spark.sources.artifacts import materialize

        ann = materialize(ann)  # feeds m, both self-join sides
        m = ann.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
        a = ann.select("doc_id", F.col("annot").alias("a1"),
                       F.col("lab").alias("c"))
        b = ann.select("doc_id", F.col("annot").alias("a2"),
                       F.col("lab").alias("k"))
        cells = (
            a.join(b, "doc_id")
            .filter(F.col("a1") != F.col("a2"))
            .join(m, "doc_id")
            .groupBy("c", "k")
            .agg(F.sum(F.expr("2 div (m - 1)")).cast("long").alias("o2"))
        ).collect()  # ≤ (|langs|+1)² bounded coincidence cells
        n_units = m.count()
        o2 = {(r["c"], r["k"]): r["o2"] for r in cells}
        nc2: dict[str, int] = {}
        for (c, _k), v in o2.items():
            nc2[c] = nc2.get(c, 0) + v
        n_ann = sum(nc2.values()) // 2
        d_o2 = sum(v for (c, k), v in o2.items() if c != k)
        s = max(
            1,
            sum(
                va * vb
                for ca, va in nc2.items()
                for cb, vb in nc2.items()
                if ca != cb
            ),
        )
        num = (s - 2 * (n_ann - 1) * d_o2) * 1_000_000
        alpha = abs(num) // s * (1 if num >= 0 else -1)
        return spark.createDataFrame(
            [(n_units, n_ann, d_o2, alpha)],
            "n_units long, n_ann long, d_o2 long, alpha_ppm long",
        )


_register_q388()


# ---------------------------------------------------------------------------
# q405 — RAKE keyphrase extraction (Rose et al. 2010 — Rapid Automatic
# Keyword Extraction, the stopword-delimited co-occurrence scorer that
# is still the zero-shot keyphrase baseline): candidate phrases are
# maximal stopword-free token runs; each word scores
# degree/frequency (degree = Σ phrase length over its occurrences —
# co-occurrence counted within phrases only); a phrase scores the sum
# of its words' scores; top-10 phrases win.
#
# Exact-integer variant (stated): word score is quantized ONCE as
# wscore_permil = deg·1000 div freq, and phrase score is the integer
# sum of member word scores (with multiplicity) — the float original
# sums unquantized ratios; the permil variant is deterministic and
# order-free in both engines. Stopword set = LANG_STOPWORDS['en']
# (the module's shared public profile). Phrase identity includes
# word order; ranking uses the total order (score DESC, phrase ASC).
#
# Plan: one tokenize+posexplode pass → gaps-and-islands runs per doc
# (doc-PARTITIONED windows only) → phrase frame materialized (feeds
# word stats AND phrase scoring) → word stats are a vocab-grain
# groupBy broadcast back → bounded global_topk.
# ---------------------------------------------------------------------------


def _register_q405() -> None:
    stop_sql = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])

    @_register(
        "q405_rake_keyphrases",
        oracle=f"""
        WITH toks AS (
            SELECT doc_id, i AS pos, t[i] AS tok,
                   CASE WHEN t[i] IN ({stop_sql}) THEN 1 ELSE 0 END
                       AS is_stop
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS t,
                         unnest(generate_series(1, len(
                             regexp_split_to_array(trim(text), '\\s+'))))
                             AS i
                  FROM documents)
        ),
        runs AS (
            SELECT doc_id, pos, tok,
                   pos - ROW_NUMBER() OVER (
                       PARTITION BY doc_id, is_stop ORDER BY pos
                   ) AS grp
            FROM toks WHERE is_stop = 0
        ),
        phrases AS MATERIALIZED (
            SELECT doc_id, grp,
                   string_agg(tok, ' ' ORDER BY pos) AS phrase,
                   CAST(COUNT(*) AS BIGINT) AS plen
            FROM runs GROUP BY doc_id, grp
        ),
        words AS MATERIALIZED (
            SELECT r.tok,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(p.plen) AS BIGINT) AS deg
            FROM runs r
            JOIN phrases p ON p.doc_id = r.doc_id AND p.grp = r.grp
            GROUP BY r.tok
        ),
        wscore AS (
            SELECT tok, CAST(deg * 1000 // freq AS BIGINT) AS ws
            FROM words
        ),
        pscore AS (
            SELECT p.phrase,
                   CAST(COUNT(DISTINCT p.doc_id || '#' || p.grp)
                        AS BIGINT) AS n_occ,
                   CAST(SUM(w.ws) // COUNT(DISTINCT p.doc_id || '#'
                                            || p.grp) AS BIGINT)
                       AS score_permil
            FROM phrases p
            JOIN runs r ON r.doc_id = p.doc_id AND r.grp = p.grp
            JOIN wscore w ON w.tok = r.tok
            GROUP BY p.phrase
        )
        SELECT phrase, n_occ, score_permil,
               CAST(rn AS BIGINT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY score_permil DESC, phrase) AS rn
            FROM pscore
        ) WHERE rn <= 10
        """,
    )
    def q405_rake_keyphrases(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Top-10 RAKE keyphrases under the permil-quantized word
        scores. See block comment."""
        from pyspark.sql.window import Window

        from etl_globalretail_spark.operators.ranks import global_topk
        from etl_globalretail_spark.sources.artifacts import materialize

        d = load_table(spark, "documents", sf_dir)
        toks = d.select(
            "doc_id",
            F.posexplode(
                F.split(F.trim(F.col("text")), r"\s+")
            ).alias("pos0", "tok"),
        ).select(
            "doc_id", (F.col("pos0") + 1).alias("pos"), "tok",
            F.when(
                F.col("tok").isin(*LANG_STOPWORDS["en"]), 1
            ).otherwise(0).alias("is_stop"),
        )
        w = Window.partitionBy("doc_id", "is_stop").orderBy("pos")
        runs = (
            toks.filter(F.col("is_stop") == 0)
            .withColumn(
                "grp", F.col("pos") - F.row_number().over(w)
            )
            .select("doc_id", "pos", "tok", "grp")
            .transform(materialize)  # feeds phrases AND word stats
        )
        phrases = (
            runs.groupBy("doc_id", "grp")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda x: x.tok,
                    ),
                    " ",
                ).alias("phrase"),
                F.count(F.lit(1)).cast("long").alias("plen"),
            )
            .transform(materialize)  # feeds word degrees AND scoring
        )
        words = (
            runs.join(phrases, ["doc_id", "grp"])
            .groupBy("tok")
            .agg(
                F.count(F.lit(1)).cast("long").alias("freq"),
                F.sum("plen").cast("long").alias("deg"),
            )
            .select(
                "tok",
                F.expr("CAST(deg * 1000 div freq AS BIGINT)").alias("ws"),
            )
        )
        wscores = words.select(
            F.col("tok").alias("wtok"), "ws"
        )
        pscore = (
            phrases.join(runs, ["doc_id", "grp"])
            .join(F.broadcast(wscores), F.col("tok") == F.col("wtok"))
            .groupBy("phrase")
            .agg(
                F.countDistinct(
                    F.concat_ws("#", F.col("doc_id").cast("string"),
                                F.col("grp").cast("string"))
                ).cast("long").alias("n_occ"),
                F.expr(
                    "CAST(SUM(ws) div COUNT(DISTINCT"
                    " concat_ws('#', CAST(doc_id AS STRING),"
                    " CAST(grp AS STRING))) AS BIGINT)"
                ).alias("score_permil"),
            )
        )
        return global_topk(
            pscore, [("score_permil", "desc"), ("phrase", "asc")], 10,
            out="rnk",
        ).select(
            "phrase", "n_occ", "score_permil",
            F.col("rnk").cast("long").alias("rnk"),
        )


_register_q405()


# ---------------------------------------------------------------------------
# q415 — WINNOWING fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
# MOSS local document-fingerprinting algorithm; public). The span/dedup
# family hashes EVERY k-gram (q139) or a random-looking MinHash subset
# (q24/q66); winnowing instead GUARANTEES a match for any shared run ≥
# w+k−1 tokens while selecting only ~2/(w+1) of positions — the
# fingerprint density every plagiarism/near-dup index actually stores.
#
# Contract (identical both engines): 3-token grams hashed to 48-bit
# md5-prefix ints; every w=4 consecutive gram positions form a window;
# each window selects its MINIMUM hash, RIGHTMOST position on ties (the
# paper's robust-winnowing tie rule); the fingerprint set is the
# distinct selected (position, hash) pairs. Documents with fewer grams
# than w collapse to one whole-doc window (n_starts = max(1, n−w+1)
# makes that uniform). Census per doc: gram count, fingerprint count,
# selection density (permil, integer div), XOR fold of selected hashes
# (order-free), and how many of the doc's fingerprint hashes are
# SHARED with some other doc's fingerprint set (the index-hit signal).
#
# Plan shape: one gram posexplode (shuffle on nothing — map-side), a
# w-way window-membership explode (constant ×4), ONE grouped pass to
# each window's min, one membership-frame re-join to resolve the
# rightmost tie (equi on (doc, start) — no range join), distinct
# fingerprints, then a hash-partitioned min≠max window marks shared
# hashes and one doc-grain aggregate lands the census. All exchanges
# carry (doc, pos, int48) triples; text never shuffles.
# ---------------------------------------------------------------------------

_Q415_K = 3   # tokens per gram
_Q415_W = 4   # grams per winnowing window


def winnow_fps(d: DataFrame, k: int = _Q415_K, w: int = _Q415_W):
    """Winnowing selection at the (doc, position, hash48) grain —
    returns (fps, grams) frames. Shared by q415's census and q416's
    fingerprint-index pair join; see the q415 block comment for the
    selection contract."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n_toks")
    ).filter(F.col("n_toks") >= k)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.col("n_toks") - (k - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", F.slice("toks", i, k))),
                1, 12,
            ),
            16, 10,
        ).cast("long"),
    )
    grams = base.select(
        "doc_id",
        (F.col("n_toks") - F.lit(k - 1)).cast("long").alias("n_grams"),
        F.posexplode(gram_hashes).alias("pos0", "h"),
    ).select(
        "doc_id", "n_grams",
        (F.col("pos0") + 1).cast("long").alias("pos"), "h",
    ).persist()
    # ^ r10: the md5 gram-hash array build is the expensive kernel and
    # every downstream frame forks from `grams` (member feeds wmin AND
    # the tie-break join; the census/gset/gsz legs re-read it) —
    # Catalyst does not dedupe the subplan, so without the persist the
    # HOF+md5 builder ran 3× in q415 and 5× in q416 (the q239 lesson).
    # Cache lifetime is tied to the returned plan (bench clearCache
    # releases it; the cookbook convention for shared query-local
    # frames).
    member = grams.select(
        "doc_id", "pos", "h", "n_grams",
        F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("delta"),
    ).select(
        "doc_id", "pos", "h",
        (F.col("pos") - F.col("delta")).alias("s"),
        F.greatest(
            F.lit(1).cast("long"), F.col("n_grams") - F.lit(w - 1)
        ).alias("n_starts"),
    ).filter(
        (F.col("s") >= 1) & (F.col("s") <= F.col("n_starts"))
    ).select("doc_id", "pos", "h", "s")
    wmin = member.groupBy("doc_id", "s").agg(F.min("h").alias("mh"))
    chosen = (
        member.join(wmin, ["doc_id", "s"])
        .filter(F.col("h") == F.col("mh"))
        .groupBy("doc_id", "s", "mh")
        .agg(F.max("pos").alias("fp_pos"))
    )
    fps = chosen.select(
        "doc_id", "fp_pos", F.col("mh").alias("h")
    ).dropDuplicates().persist()
    # ^ r10: q416 forks fps into the document-frequency census AND the
    # keep-side of the bucket join (two evaluations of the
    # member ⋈ wmin selection without it).
    return fps, grams


def _winnow_cte_chain() -> str:
    """DuckDB CTE chain ending in ``fps(doc_id, fp_pos, h)`` — the
    winnowing selection shared by the q415 census oracle and the q416
    index-join oracle."""
    K, W = _Q415_K, _Q415_W
    return f"""
        d AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ),
        dd AS (SELECT doc_id, len(toks) AS n_toks, toks FROM d),
        grams AS (
            SELECT doc_id,
                   CAST(i AS BIGINT) AS pos,
                   CAST('0x' || substr(md5(array_to_string(
                       toks[CAST(i AS BIGINT):CAST(i AS BIGINT) + {K - 1}],
                       chr(31))), 1, 12) AS BIGINT) AS h,
                   CAST(n_toks - {K - 1} AS BIGINT) AS n_grams
            FROM (
                SELECT doc_id, n_toks, toks,
                       unnest(range(1, CAST(n_toks AS BIGINT) - {K - 2}))
                           AS i
                FROM dd
                WHERE n_toks >= {K}
            )
        ),
        member AS (
            SELECT doc_id, pos, h, pos - CAST(dd2.d AS BIGINT) AS s
            FROM grams,
                 (SELECT unnest(range(0, {W})) AS d) dd2
            WHERE pos - CAST(dd2.d AS BIGINT) >= 1
              AND pos - CAST(dd2.d AS BIGINT)
                  <= GREATEST(1, n_grams - {W - 1})
        ),
        wmin AS (
            SELECT doc_id, s, MIN(h) AS mh FROM member
            GROUP BY doc_id, s
        ),
        chosen AS (
            SELECT m.doc_id, m.s, MAX(m.pos) AS fp_pos, w.mh AS h
            FROM member m JOIN wmin w
              ON m.doc_id = w.doc_id AND m.s = w.s AND m.h = w.mh
            GROUP BY m.doc_id, m.s, w.mh
        ),
        fps AS MATERIALIZED (
            SELECT DISTINCT doc_id, fp_pos, h FROM chosen
        )"""


def _register_q415() -> None:
    K, W = _Q415_K, _Q415_W

    @_register(
        "q415_winnowing_fingerprints",
        oracle=f"""
        WITH {_winnow_cte_chain()},
        marked AS (
            SELECT doc_id, fp_pos, h,
                   CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                             <> MAX(doc_id) OVER (PARTITION BY h)
                        THEN 1 ELSE 0 END AS shared
            FROM fps
        ),
        census AS (
            SELECT doc_id,
                   COUNT(*) AS n_fps,
                   bit_xor(h) AS fp_xor,
                   CAST(SUM(shared) AS BIGINT) AS n_shared
            FROM marked GROUP BY doc_id
        ),
        gc AS (
            SELECT doc_id, MAX(n_grams) AS n_grams FROM grams
            GROUP BY doc_id
        )
        SELECT dd.doc_id,
               CAST(COALESCE(gc.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(COALESCE(c.n_fps, 0) AS BIGINT) AS n_fps,
               CAST(CASE WHEN COALESCE(gc.n_grams, 0) = 0 THEN 0
                         ELSE COALESCE(c.n_fps, 0) * 1000 // gc.n_grams
                    END AS BIGINT) AS density_permil,
               CAST(COALESCE(c.fp_xor, 0) AS BIGINT) AS fp_xor,
               CAST(COALESCE(c.n_shared, 0) AS BIGINT) AS n_shared
        FROM dd
        LEFT JOIN gc ON dd.doc_id = gc.doc_id
        LEFT JOIN census c ON dd.doc_id = c.doc_id
        """,
    )
    def q415_winnowing_fingerprints(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-document winnowing fingerprint census (MOSS selection:
        min hash per w-gram window, rightmost tie) with cross-doc
        shared-hash counts. See block comment."""
        from pyspark.sql.window import Window

        d = load_table(spark, "documents", sf_dir)
        fps, grams = winnow_fps(d)
        wh = Window.partitionBy("h")
        marked = fps.select(
            "doc_id", "h",
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh))
            .cast("long").alias("shared"),
        )
        census = marked.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.bit_xor("h").alias("fp_xor"),
            F.sum("shared").alias("n_shared"),
        )
        gc = grams.groupBy("doc_id").agg(
            F.max("n_grams").alias("n_grams")
        )
        return (
            d.select("doc_id")
            .join(gc, "doc_id", "left")
            .join(census, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_grams", F.lit(0)).cast("long")
                .alias("n_grams"),
                F.coalesce("n_fps", F.lit(0)).cast("long")
                .alias("n_fps"),
                F.when(
                    F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0)
                ).otherwise(
                    F.expr("coalesce(n_fps, 0) * 1000 div n_grams")
                ).cast("long").alias("density_permil"),
                F.coalesce("fp_xor", F.lit(0)).cast("long")
                .alias("fp_xor"),
                F.coalesce("n_shared", F.lit(0)).cast("long")
                .alias("n_shared"),
            )
        )


_register_q415()


# ---------------------------------------------------------------------------
# q416 — winnowing-INDEX near-duplicate pairs: the fingerprint family's
# application half. MOSS-style: candidate pairs share ≥ 2 winnowing
# fingerprint HASHES (bucket join on the selected-hash index — never
# all-pairs), with BOILERPLATE SUPPRESSION first (fingerprints present
# in > 10 docs are dropped before pairing — the paper's common-code
# filter, and what bounds bucket fan-out at corpus scale); survivors
# verify with EXACT distinct-3-gram Jaccard. Winnowing's guarantee
# (any shared run ≥ w+k−1 tokens yields a shared fingerprint) makes
# this a deterministic, recall-characterized blocking tier beside
# MinHash banding (q24/q66): no probability, just run-length.
#
# Plan shape: the q415 selection (see its block comment), one
# (h)-grouped census for the document-frequency filter, a bucket
# self-join on h (bounded by the ≤10-doc cap — Σ|bucket|² ≤ 45·|hashes|),
# a pair groupBy, and verification joins at the DISTINCT-gram grain
# against only the candidate pairs. All exchanges carry ids + int48s.
# ---------------------------------------------------------------------------

_Q416_MAX_DF = 10   # boilerplate cap: drop fingerprints in > this many docs
_Q416_MIN_SHARED = 2


def _register_q416() -> None:
    T, M = _Q416_MAX_DF, _Q416_MIN_SHARED

    @_register(
        "q416_winnowing_neardup_pairs",
        oracle=f"""
        WITH {{chain}},
        fh AS (
            SELECT DISTINCT doc_id, h FROM fps
        ),
        df AS (
            SELECT h, COUNT(*) AS n_docs FROM fh GROUP BY h
        ),
        keep AS (
            SELECT fh.doc_id, fh.h FROM fh JOIN df ON fh.h = df.h
            WHERE df.n_docs BETWEEN 2 AND {T}
        ),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   COUNT(*) AS shared_fps
            FROM keep a JOIN keep b
              ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= {M}
        ),
        gset AS (
            SELECT DISTINCT doc_id, h FROM grams
        ),
        gsz AS (
            SELECT doc_id, COUNT(*) AS n FROM gset GROUP BY doc_id
        ),
        inter AS (
            SELECT c.id_a, c.id_b, c.shared_fps, COUNT(*) AS n_inter
            FROM cand c
            JOIN gset ga ON ga.doc_id = c.id_a
            JOIN gset gb ON gb.doc_id = c.id_b AND gb.h = ga.h
            GROUP BY c.id_a, c.id_b, c.shared_fps
        )
        SELECT i.id_a, i.id_b,
               CAST(i.shared_fps AS BIGINT) AS shared_fps,
               CAST(i.n_inter AS BIGINT) AS inter_grams,
               CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS union_grams,
               CAST(i.n_inter * 1000 // (sa.n + sb.n - i.n_inter)
                    AS BIGINT) AS jaccard_permil
        FROM inter i
        JOIN gsz sa ON sa.doc_id = i.id_a
        JOIN gsz sb ON sb.doc_id = i.id_b
        """.format(chain=_winnow_cte_chain()),
    )
    def q416_winnowing_neardup_pairs(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Candidate near-dup pairs from the winnowing fingerprint
        index (≥2 shared non-boilerplate fingerprints), verified with
        exact distinct-3-gram Jaccard. See block comment."""
        d = load_table(spark, "documents", sf_dir)
        fps, grams = winnow_fps(d)
        fh = fps.select("doc_id", "h").dropDuplicates()
        dfreq = fh.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
        keep = fh.join(
            dfreq.filter(
                (F.col("n_docs") >= 2) & (F.col("n_docs") <= T)
            ).select("h"),
            "h",
        )
        cand = (
            keep.select(F.col("doc_id").alias("id_a"), "h")
            .join(keep.select(F.col("doc_id").alias("id_b"), "h"), "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= M)
        )
        # r10: gset feeds BOTH verification legs and the size census —
        # persist the distinct-gram frame once instead of three
        # dropDuplicates shuffles over the gram explode.
        gset = grams.select("doc_id", "h").dropDuplicates().persist()
        gsz = gset.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        inter = (
            cand.join(
                gset.select(F.col("doc_id").alias("id_a"), "h"), "id_a"
            )
            .join(
                gset.select(F.col("doc_id").alias("id_b"), "h"),
                ["id_b", "h"],
            )
            .groupBy("id_a", "id_b", "shared_fps")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return (
            inter.join(
                gsz.select(F.col("doc_id").alias("id_a"),
                           F.col("n").alias("na")), "id_a"
            )
            .join(
                gsz.select(F.col("doc_id").alias("id_b"),
                           F.col("n").alias("nb")), "id_b"
            )
            .select(
                "id_a", "id_b",
                F.col("shared_fps").cast("long").alias("shared_fps"),
                F.col("n_inter").cast("long").alias("inter_grams"),
                (F.col("na") + F.col("nb") - F.col("n_inter"))
                .cast("long").alias("union_grams"),
                F.expr(
                    "CAST(n_inter * 1000 div (na + nb - n_inter)"
                    " AS BIGINT)"
                ).alias("jaccard_permil"),
            )
        )


_register_q416()
