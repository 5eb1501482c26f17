"""Batch twins of the reference's observability surface (M1-M6,
reference: src/metrics.py, src/service.py:174-253).

In streaming these come from `df.observe` + StreamingQueryListener
(streaming/metrics.py); here the same aggregations are expressed as
oracle-checked batch queries so the semantics are pinned:

- processed vs published counts differ by the drop paths (empty text F4,
  confidence gate F5) — the reference acks-without-publishing
  (src/service.py:106 vs src/nats_client.py:261).
- confidence histogram uses the fixed 0.1-wide buckets of
  src/metrics.py:28-41.
- top-5 topics / sentiment distribution are src/service.py:200-217.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.classify import sentiment_udf, topics_udf
from ..functions.sentiment import confidence_gate
from ..functions.text import non_empty_text
from ..partitioning import spread
from ..registry import register, table
from .enrich import CLASSIFIER_CTE, _S, _T


@register(
    "metrics_pipeline_counters",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT count(*) AS n_processed,
           count(*) FILTER (length(trim(coalesce(text, ''))) = 0) AS n_empty_text,
           count(*) FILTER (length(trim(coalesce(text, ''))) > 0
                            AND {_S['confidence']} < 0.4) AS n_gated,
           count(*) FILTER (length(trim(coalesce(text, ''))) > 0
                            AND {_S['confidence']} >= 0.4) AS n_published
    FROM c
    """,
    tags=("M1", "counters"),
)
def q_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: the processed/published counter split. One pass, conditional
    aggregation — no per-label shuffle."""
    d = spread(table(spark, sf_dir, "documents"))
    s = sentiment_udf(F.coalesce(F.col("text"), F.lit("")))
    df = d.select(
        non_empty_text(F.coalesce(F.col("text"), F.lit(""))).alias("has_text"),
        s.alias("s"),
    )
    return df.agg(
        F.count("*").alias("n_processed"),
        F.count(F.when(~F.col("has_text"), 1)).alias("n_empty_text"),
        F.count(F.when(F.col("has_text") & ~confidence_gate("s"), 1)).alias("n_gated"),
        F.count(F.when(F.col("has_text") & confidence_gate("s"), 1)).alias("n_published"),
    )


@register(
    "metrics_confidence_histogram",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT least(CAST(floor({_S['confidence']} * 10) AS INT), 9) AS bucket,
           round(least(CAST(floor({_S['confidence']} * 10) AS INT), 9) / 10.0, 1)
             AS bucket_lo,
           count(*) AS n
    FROM c GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("M2", "histogram"),
)
def q_conf_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: fixed-bucket confidence histogram (0.1-wide buckets, reference:
    src/metrics.py:28-41). A width_bucket-style CASE over the confidence —
    single aggregation, 10 output rows regardless of input scale."""
    d = spread(table(spark, sf_dir, "documents"))
    conf = sentiment_udf(F.coalesce(F.col("text"), F.lit("")))["confidence"]
    bucket = F.least(F.floor(conf * 10).cast("int"), F.lit(9))
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select("bucket", F.round(F.col("bucket") / 10.0, 1).alias("bucket_lo"), "n")
        .orderBy("bucket")
    )


@register(
    "metrics_top5_topics",
    oracle=f"""
    {CLASSIFIER_CTE},
    exploded AS (
        SELECT unnest({_T['topics_list']}) AS topic
        FROM c WHERE length(trim(coalesce(text, ''))) > 0)
    SELECT topic, count(*) AS n FROM exploded
    GROUP BY topic ORDER BY n DESC, topic LIMIT 5
    """,
    tags=("M4", "topk"),
)
def q_top5_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: global top-5 topics by prediction count (reference:
    src/service.py:205-217). explode -> count -> TakeOrderedAndProject."""
    d = spread(table(spark, sf_dir, "documents"))
    return (
        d.filter(non_empty_text(F.coalesce(F.col("text"), F.lit(""))))
        .select(F.explode(topics_udf(F.col("text"))["topics"]).alias("topic"))
        .groupBy("topic")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("topic"))
        .limit(5)
    )


@register(
    "metrics_sentiment_distribution",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT {_S['sentiment']} AS sentiment, count(*) AS n
    FROM c WHERE length(trim(coalesce(text, ''))) > 0
    GROUP BY 1 ORDER BY 1
    """,
    tags=("M5",),
)
def q_sentiment_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: per-label sentiment counts (reference: src/service.py:200-203)."""
    d = spread(table(spark, sf_dir, "documents"))
    return (
        d.filter(non_empty_text(F.coalesce(F.col("text"), F.lit(""))))
        .select(sentiment_udf(F.col("text"))["sentiment"].alias("sentiment"))
        .groupBy("sentiment")
        .agg(F.count("*").alias("n"))
        .orderBy("sentiment")
    )
