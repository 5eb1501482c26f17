"""The reference's end-to-end streaming pipeline on Structured Streaming.

Batch/streaming symmetry is the design center: the enrichment transform is
the SAME code as the batch path (operators/enrich.enrich_posts) — this
module only adds the streaming-specific pieces:

- JSON decode of raw message payloads (F2: permissive parse, drop nulls —
  reference: src/nats_client.py:192-206);
- event-time watermark + dropDuplicatesWithinWatermark (D1: the JetStream
  600 s duplicate_window, reference: src/nats_client.py:99,244-266 — the
  watermark bounds dedup state exactly like the server-side window);
- the routed idempotent publish (P3/S3/R1, reference:
  src/nats_client.py:220-286). The default sink is the executor-side
  format("nats") DataSource writer (NatsSink below); tests inject a
  callable, which routes through the driver-side debug_sink. Retries are
  safe because the Nats-Msg-Id key makes re-publish idempotent (A0:
  checkpoint replay + idempotent sink = effectively-once, an improvement
  over the reference's ack-after-failed-publish hole, SURVEY.md §3 EP2.7).

At scale: dedup state is partitioned by the key columns and bounded by the
watermark; maxOffsetsPerTrigger (S2) caps micro-batch admission the way
max_ack_pending=100 caps the reference's in-flight messages.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import DEDUP_WINDOW_SECONDS
from ..operators.enrich import enrich_posts

# Declared input schema (RawPost, reference: src/types.py:27-33 + the
# fallback fields of src/service.py:152-172). cid nullable (the mock
# generator omits it, docker-compose.yml:31-32).
RAW_POST_SCHEMA = (
    "uri string, cid string, author string, text string, "
    "record struct<text: string>, content string, body string, "
    "message string, created_at string"
)


def decode_posts(raw: DataFrame, value_col: str = "value",
                 schema: str | StructType = RAW_POST_SCHEMA) -> DataFrame:
    """F1+F2: empty-payload filter, permissive JSON parse, null drop.
    Malformed JSON becomes a NULL struct (PERMISSIVE) and is dropped —
    the reference acks-and-drops the same way."""
    payload = F.col(value_col).cast("string")
    return (
        raw.filter(F.length(F.trim(payload)) > 0)
        .select(F.from_json(payload, schema).alias("p"))
        .filter(F.col("p").isNotNull() & F.col("p.uri").isNotNull())
        .select("p.*")
    )


def enrich_stream(
    posts: DataFrame,
    event_time_col: str | None = None,
    dedup_window_s: int = DEDUP_WINDOW_SECONDS,
) -> DataFrame:
    """Streaming enrichment: the batch transform + watermarked dedup.

    ``event_time_col=None`` stamps processing time (the reference has no
    event-time logic; its dedup window is wall-clock at the broker).
    """
    enriched = enrich_posts(posts, dedup=False)
    ts = F.col(event_time_col) if event_time_col else F.col("processed_at")
    enriched = enriched.withColumn("__event_ts", ts.cast("timestamp"))
    # The reference skips the Nats-Msg-Id header (i.e. does no dedup) when
    # cid is missing (src/nats_client.py:248-252; uri is never null past
    # decode_posts), so a keyed dedup must NOT treat NULL cid as equal —
    # that would collapse distinct posts sharing a uri. Instead of a
    # deduped branch unioned with a NULL-cid passthrough branch (two
    # watermarked branches, two source scans, double state machinery),
    # give each NULL-cid row a unique synthetic key so ONE dedup branch
    # handles both cases. uuid() is unique per row (and, unlike
    # monotonically_increasing_id, supported in streaming plans); the
    # \\x00 prefix cannot collide with a real cid. Replayed NULL-cid rows
    # get fresh keys — exactly the reference's no-dedup-without-msg-id
    # behavior. Empty-string cid counts as missing too: the reference's
    # header guard is truthiness (`if post_uri and post_cid`,
    # src/nats_client.py:248-252), so cid='' must not become a real dedup
    # key (two distinct posts sharing a uri with ''-cids stay distinct).
    dedup_cid = F.coalesce(
        F.nullif(F.col("cid"), F.lit("")),
        F.concat(F.lit("\x00nocid\x00"), F.expr("uuid()")))
    keyed = enriched.withColumn("__dedup_cid", dedup_cid)
    if not keyed.isStreaming:
        return keyed.dropDuplicates(["uri", "__dedup_cid"]).drop(
            "__dedup_cid", "__event_ts")
    return (
        keyed.withWatermark("__event_ts", f"{dedup_window_s} seconds")
        .dropDuplicatesWithinWatermark(["uri", "__dedup_cid"])
        .drop("__dedup_cid", "__event_ts")
    )


Publisher = Callable[[str, str, str | None], None]
"""(subject, json_payload, msg_id) -> None. msg_id is None when uri/cid
are missing (the reference skips the dedup header then,
src/nats_client.py:248-252)."""


@dataclass
class NatsSink:
    """Executor-side publish target: each writer partition opens its own
    connection and publishes directly (sources/nats.py NatsStreamWriter) —
    no micro-batch ever crosses the driver. This is the production sink;
    a bare callable routes through the driver-side debug publisher
    (streaming/debug_sink.py) and is for tests/bespoke sinks only."""

    servers: str
    stream: str
    default_subject: str = "bluesky.posts.enriched"


def start_enrichment_query(
    posts_stream: DataFrame,
    sink: "NatsSink | Publisher",
    checkpoint_dir: str,
    trigger_seconds: float | None = None,
):
    """Wire decode -> enrich -> dedup -> routed publish and start it.

    ``sink`` is a :class:`NatsSink` (default, scale-safe: the format("nats")
    DataSourceStreamWriter publishes from executor workers) or a Publisher
    callable (driver-side foreachBatch — test/debug path)."""
    enriched = enrich_stream(posts_stream)
    if isinstance(sink, NatsSink):
        writer = (
            enriched.writeStream.format("nats")
            .option("servers", sink.servers)
            .option("stream", sink.stream)
            .option("defaultSubject", sink.default_subject)
            .outputMode("append")
        )
    else:
        from .debug_sink import make_publish_batch
        writer = (
            enriched.writeStream.outputMode("append")
            .foreachBatch(make_publish_batch(sink))
        )
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_against_store(
    stream: DataFrame,
    digest_store: DataFrame,
    text_col: str = "text",
    digest_col: str = "k",
    dedup_window_s: int = DEDUP_WINDOW_SECONDS,
) -> DataFrame:
    """Incremental content dedup of a document stream against a static
    digest store — the streaming face of the batch
    ``dedup_incremental_batch`` query (queries/dedup.py): documents
    whose md5 content digest already exists in the store are dropped by a
    stream-static LEFT ANTI join, then within-stream duplicates are
    dropped with watermarked key state.

    Scale shape: the static side carries only the 32-byte digest column
    (in production a persisted digest table); stream-static joins re-read
    it per micro-batch, so a store that grows between batches is picked
    up without restarting the query, and — unlike a stream-stream join —
    the join itself keeps NO state: broadcast or shuffled hash join per
    batch, with the watermark bounding only the within-stream dedup
    state. Works identically on a batch DataFrame (no watermark path),
    which is what the parity test exercises."""
    keyed = stream.withColumn("__k", F.md5(F.col(text_col)))
    store = digest_store.select(F.col(digest_col).alias("__k")).distinct()
    fresh = keyed.join(store, "__k", "left_anti")
    if not fresh.isStreaming:
        return fresh.dropDuplicates(["__k"]).drop("__k")
    return (
        fresh.withColumn("__ingest_ts",
                         F.current_timestamp())
        .withWatermark("__ingest_ts", f"{dedup_window_s} seconds")
        .dropDuplicatesWithinWatermark(["__k"])
        .drop("__k", "__ingest_ts")
    )
