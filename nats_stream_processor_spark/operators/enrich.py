"""The reference's end-to-end enrichment pipeline as one declarative
DataFrame expression.

Reference orchestration: src/service.py:100-150 (_process_message), stages
F1..F5, P1..P3, U1, U2, D1 per SURVEY.md §2A. Operator order is semantic:
the confidence gate sits BETWEEN the sentiment and topic stages so the topic
classifier never evaluates gated rows (reference: src/service.py:115-127).
Both classifiers run as ONE fused Arrow kernel (functions/classify.py) that
tokenizes once and applies the gate itself before evaluating topics; the
plan's Filter above that node then drops the gated rows, and the output
structs are assembled in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import (
    OUTPUT_SUBJECT_PREFIX,
    PROCESSOR_NAME,
    SENTIMENT_CONFIDENCE_THRESHOLD,
)
from ..functions.classify import classify_udf, sentiment_of, topics_of
from ..functions.sentiment import confidence_gate
from ..functions.text import extract_text_col, non_empty_text


def route_subject(sentiment: Column, top_topic: Column,
                  prefix: str = OUTPUT_SUBJECT_PREFIX) -> Column:
    """P3: dynamic subject routing ``{prefix}.{sentiment}.{top_topic}``
    (reference: src/nats_client.py:237-240)."""
    return F.concat_ws(".", F.lit(prefix), sentiment, top_topic)


def enrich_posts(
    df: DataFrame,
    text_col: str | None = None,
    id_cols: tuple[str, ...] = (),
    threshold: float = SENTIMENT_CONFIDENCE_THRESHOLD,
    dedup: bool = True,
) -> DataFrame:
    """Full F1→P3 enrichment over any DataFrame with text content.

    - ``text_col=None`` applies the reference's 5-way coalesce (P1) over
      whichever candidate fields exist; otherwise uses the named column.
    - ``id_cols`` are the idempotency key (reference uses (uri, cid),
      src/nats_client.py:248-252); duplicates are dropped when ``dedup``.
    - Rows with empty text (F4) or gated confidence (F5) are dropped, exactly
      like the reference acks-without-publishing.

    Output adds: ``sentiment`` struct, ``topics`` struct, ``processed_at``,
    ``processor``, ``route_subject`` (shape: src/types.py:36-41 +
    FIXTURES.md §2 — note NO topics.probabilities, Discrepancy #1).
    """
    text = F.col(text_col) if text_col else extract_text_col(set(df.columns))
    cls = F.col("__cls")
    out = (
        df.withColumn("__text", text)
        .filter(non_empty_text(F.col("__text")))                       # F1/F4
        .withColumn("__cls", classify_udf(F.col("__text"), threshold))  # U1+U2
        .filter(confidence_gate(cls, threshold))                       # F5
        .withColumn("sentiment", sentiment_of(cls))
        .withColumn("topics", topics_of(cls))
        .withColumn("processed_at", F.current_timestamp())             # P2
        .withColumn("processor", F.lit(PROCESSOR_NAME))
        .withColumn(
            "route_subject",
            route_subject(F.col("sentiment.sentiment"), F.col("topics.top_topic")),
        )
        .drop("__text", "__cls")
    )
    if dedup and id_cols:
        # D1: exact-key dedup; streaming callers use the watermarked variant
        # in streaming/pipeline.py (dropDuplicatesWithinWatermark).
        out = out.dropDuplicates(list(id_cols))
    return out


def enriched_route_counts(df: DataFrame, text_col: str | None = None,
                          id_cols: tuple[str, ...] = ()) -> DataFrame:
    """Flagship query: enrich then count per routing key (sentiment ×
    top_topic) — the reference's M4/M5 distribution snapshot over the
    output stream, ordered for determinism."""
    return (
        enrich_posts(df, text_col=text_col, id_cols=id_cols)
        .groupBy(
            F.col("sentiment.sentiment").alias("sentiment"),
            F.col("topics.top_topic").alias("top_topic"),
        )
        .agg(
            F.count("*").alias("n_posts"),
            # decimal-sum average: confidence is a 6dp-rounded double, so
            # the decimal(10,6) cast recovers the exact value and the sum
            # is order-independent across partitions (a double avg would
            # flip the 6th decimal depending on partial-agg order)
            F.round(
                F.sum(F.col("sentiment.confidence").cast("decimal(10,6)"))
                .cast("double") / F.count("*"), 6,
            ).alias("avg_confidence"),
        )
        .orderBy("sentiment", "top_topic")
    )
