"""Registry entries for the reference's enrichment pipeline (SURVEY.md §2A).

Each Spark query has a DuckDB oracle twin built from the same SQL fragment
generators as the Column expressions (functions/sentiment.py,
functions/topics.py), so values are bit-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.classify import sentiment_udf, topics_udf
from ..functions.sentiment import sentiment_count_sql_defs, sentiment_sql_columns
from ..functions.text import tokens_sql
from ..functions.topics import topic_count_sql_defs, topics_sql_columns
from ..operators.enrich import enrich_posts, enriched_route_counts
from ..partitioning import PY_MIN_SPLIT_BYTES, spread
from ..registry import register, table

# A CTE prelude shared by every classifier oracle: tokenize once, count once.
CLASSIFIER_CTE = (
    "WITH d AS (SELECT *, {toks} AS toks FROM documents), "
    "c AS (SELECT *, {scnt}, {tcnt} FROM d)"
).format(
    toks=tokens_sql("coalesce(text, '')"),
    scnt=sentiment_count_sql_defs("toks"),
    tcnt=topic_count_sql_defs("toks"),
)
_S = sentiment_sql_columns()
_T = topics_sql_columns()


def _docs(spark, sf_dir):
    """The documents scan, spread with the Python-boundary bytes floor
    (partitioning.PY_MIN_SPLIT_BYTES): every query here feeds the text
    straight into an ArrowEvalPython classifier stage, where ~150-row
    partitions pay more in per-partition Python dispatch than the
    extra cores return (a scaling probe ran faster at 8 cores than 32).
    No-op at real scale — the spread gate already is."""
    return spread(table(spark, sf_dir, "documents"),
                  min_bytes_per_partition=PY_MIN_SPLIT_BYTES)


@register(
    "enrich_flagship",
    oracle=f"""
    {CLASSIFIER_CTE},
    enriched AS (
        SELECT {_S['sentiment']} AS sentiment, {_T['top_topic']} AS top_topic,
               {_S['confidence']} AS confidence
        FROM c
        WHERE length(trim(coalesce(text, ''))) > 0 AND {_S['confidence']} >= 0.4
    )
    SELECT sentiment, top_topic, count(*) AS n_posts,
           round(CAST(sum(CAST(confidence AS DECIMAL(10,6))) AS DOUBLE)
                 / count(*), 6) AS avg_confidence
    FROM enriched GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("flagship", "U1", "U2", "F5", "P2", "M4", "M5"),
)
def q_enrich_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enriched_route_counts(_docs(spark, sf_dir), text_col="text")


@register(
    "sentiment_classify",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT doc_id, {_S['sentiment']} AS sentiment, {_S['confidence']} AS confidence,
           {_S['p_negative']} AS p_negative, {_S['p_neutral']} AS p_neutral,
           {_S['p_positive']} AS p_positive
    FROM c ORDER BY doc_id
    """,
    tags=("U1", "U1a", "U1b"),
)
def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", sentiment_udf(F.col("text")).alias("s"))
        .select(
            "doc_id",
            F.col("s.sentiment").alias("sentiment"),
            F.col("s.confidence").alias("confidence"),
            F.col("s.probabilities.negative").alias("p_negative"),
            F.col("s.probabilities.neutral").alias("p_neutral"),
            F.col("s.probabilities.positive").alias("p_positive"),
        )
        .orderBy("doc_id")
    )


@register(
    "topic_classify",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT doc_id, {_T['topics_str']} AS topics_str, {_T['top_topic']} AS top_topic,
           {_T['top_confidence']} AS top_confidence
    FROM c ORDER BY doc_id
    """,
    tags=("U2", "U2a", "U2b", "U2c", "U2d"),
)
def q_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .select("doc_id", topics_udf(F.col("text")).alias("t"))
        .select(
            "doc_id",
            F.array_join(F.col("t.topics"), ",").alias("topics_str"),
            F.col("t.top_topic").alias("top_topic"),
            F.col("t.top_confidence").alias("top_confidence"),
        )
        .orderBy("doc_id")
    )


@register(
    "confidence_gate",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT doc_id, {_S['sentiment']} AS sentiment, {_S['confidence']} AS confidence
    FROM c WHERE {_S['confidence']} >= 0.4 ORDER BY doc_id
    """,
    tags=("F5",),
)
def q_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .withColumn("s", sentiment_udf(F.col("text")))
        .filter(F.col("s.confidence") >= 0.4)
        .select(
            "doc_id",
            F.col("s.sentiment").alias("sentiment"),
            F.col("s.confidence").alias("confidence"),
        )
        .orderBy("doc_id")
    )


@register(
    "route_subject",
    oracle=f"""
    {CLASSIFIER_CTE}
    SELECT doc_id,
           'bluesky.posts.enriched' || '.' || {_S['sentiment']} || '.' || {_T['top_topic']}
             AS route_subject
    FROM c WHERE length(trim(coalesce(text, ''))) > 0 AND {_S['confidence']} >= 0.4
    ORDER BY doc_id
    """,
    tags=("P3",),
)
def q_route_subject(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        enrich_posts(_docs(spark, sf_dir), text_col="text")
        .select("doc_id", "route_subject")
        .orderBy("doc_id")
    )
