"""Deterministic-sampling invariants: stability across runs, bucket-range
composition, split totality, quota bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_globalretail_spark.operators.sampling import (
    assign_split,
    hash_bucket,
    hash_sample,
    quota_per_group,
)
from etl_globalretail_spark.sources.readers import load_table


def test_hash_sample_is_deterministic_and_nested(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    s10 = set(r.doc_id for r in hash_sample(d, "doc_id", 0.10).select("doc_id").collect())
    s10_again = set(r.doc_id for r in hash_sample(d, "doc_id", 0.10).select("doc_id").collect())
    s20 = set(r.doc_id for r in hash_sample(d, "doc_id", 0.20).select("doc_id").collect())
    assert s10 == s10_again  # pure function of the key
    assert s10 <= s20  # bucket ranges nest
    n = d.count()
    assert 0 < len(s10) < n


def test_different_salts_decorrelate(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    a = set(r.doc_id for r in hash_sample(d, "doc_id", 0.5, salt="a").select("doc_id").collect())
    b = set(r.doc_id for r in hash_sample(d, "doc_id", 0.5, salt="b").select("doc_id").collect())
    assert a != b


def test_assign_split_total_and_exclusive(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    a = assign_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = d.count()
    per = {r.split: r.n for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(per.values()) == n  # every row exactly one split
    assert set(per) == {"train", "val", "test"}
    assert per["train"] > per["val"] and per["train"] > per["test"]


def test_quota_per_group_bounds_and_subset(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    kept = quota_per_group(d, "source", 3, "doc_id")
    sizes = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    assert sizes.filter(F.col("n") > 3).count() == 0
    # groups smaller than the quota survive whole
    small = d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).filter("n <= 3")
    joined = small.join(sizes.withColumnRenamed("n", "n_kept"), "source")
    assert joined.filter("n != n_kept").count() == 0
    # kept rows are a subset of the input, unmodified
    assert kept.join(d, ["doc_id"], "left_anti").count() == 0


def test_hash_bucket_range(spark, sf_dir):
    d = load_table(spark, "documents", sf_dir)
    mm = d.select(hash_bucket(F.col("doc_id"), 1000).alias("b")).agg(
        F.min("b").alias("lo"), F.max("b").alias("hi")
    ).collect()[0]
    assert 0 <= mm.lo and mm.hi < 1000


def test_stratified_sample_nests_and_respects_strata(spark, sf_dir):
    """Per-stratum fractions nest (smaller ⊂ larger), fraction-1.0 strata
    keep everything, and the sample is a map-only filter (no exchange)."""
    from etl_globalretail_spark.operators.sampling import stratified_sample

    d = load_table(spark, "documents", sf_dir)
    lo = stratified_sample(d, "lang", {"en": 0.2, "de": 1.0}, "doc_id")
    hi = stratified_sample(d, "lang", {"en": 0.6, "de": 1.0}, "doc_id")
    lo_ids = set(r.doc_id for r in lo.select("doc_id").collect())
    hi_ids = set(r.doc_id for r in hi.select("doc_id").collect())
    assert lo_ids <= hi_ids

    n_de = d.filter(F.col("lang") == "de").count()
    assert lo.filter(F.col("lang") == "de").count() == n_de  # frac 1.0 = all
    assert lo.filter(F.col("lang") == "fr").count() == 0  # default 0.0

    # map-only: no exchange beyond what the bare reader already has
    # (none here: load_table spreads a scan only when its row groups are
    # fewer than the splits Spark plans for its bytes)
    def n_exchanges(df):
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        return plan.count("Exchange")

    assert n_exchanges(lo) == n_exchanges(d), "sampling must add no shuffle"
