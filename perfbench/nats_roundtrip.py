"""The NATS round trip: the connector path through ``sources.nats``, run as
the last phase of the traced ``stream_service`` run.

A fixed set of posts (the ``stream_service`` mix) is seeded into a
``mem://`` input stream with ``MemStream.publish``. The pass runs
``readStream.format("nats")`` (the partitioned reader) -> ``decode_posts``
-> ``start_enrichment_query(..., NatsSink(...))`` into a fresh output
stream and checkpoint until ``processAllAvailable`` returns.

The output must hold exactly the expected posts, each once, with
``Nats-Msg-Id`` = ``uri:cid`` and subject
``bluesky.posts.enriched.<sentiment>.<top_topic>`` as the batch
``enrich_posts`` computes them.
"""

from __future__ import annotations

from . import datagen
from .harness import Context
from .stats import percentile

POSTS = 1_000
SMOKE_POSTS = 100
INPUT_STREAM = "bluesky-posts"
OUTPUT_STREAM = "bluesky-posts-enriched"
INPUT_SUBJECT = "bluesky.posts.raw"


def run_phase(ctx: Context, spark, texts: list[str], expect: dict,
              progress) -> None:
    """Seed, run one round trip, check it, and report its figures."""
    from nats_stream_processor_spark.config import OUTPUT_SUBJECT_PREFIX
    from nats_stream_processor_spark.sources import nats as nats_src
    from nats_stream_processor_spark.streaming.pipeline import (
        NatsSink, decode_posts, start_enrichment_query)

    res = ctx.result
    server = f"mem://bench-{ctx.seed}"
    nats_src.mem_reset(server)
    nats_src.register(spark)
    mix = datagen.PostMix(ctx.seed, texts, tag="n")
    posts = mix.take(SMOKE_POSTS if ctx.smoke else POSTS, 0.0)
    res.attempted += len(posts)
    inbox = nats_src.mem_stream(server, INPUT_STREAM)
    publish_ms = []
    for p in posts:
        with ctx.tracer.span("source.publish") as s:
            inbox.publish(INPUT_SUBJECT, p.line.encode())
        publish_ms.append(1e3 * s.seconds)

    with ctx.tracer.span("pass", phase="roundtrip") as sp:
        raw = (spark.readStream.format("nats").option("servers", server)
               .option("stream", INPUT_STREAM).load())
        q = start_enrichment_query(decode_posts(raw),
                                   NatsSink(server, OUTPUT_STREAM),
                                   ctx.path("roundtrip_ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    want = {f"{u}:{c}": f"{OUTPUT_SUBJECT_PREFIX}.{expect[t][0]}."
                        f"{expect[t][1]}"
            for (u, c), t in mix.expected_keys(set(expect)).items()}
    _check_output(ctx, nats_src.mem_stream(server, OUTPUT_STREAM), want)
    res.info["roundtrip_posts_s"] = (len(posts) / sp.seconds, "posts/s", 1)
    if not ctx.trace:
        return

    res.put("source.publish_ms_p50", percentile(publish_ms, 50), "ms",
            len(publish_ms))
    with ctx.tracer.span("source.read") as s:
        reader = nats_src.NatsPartitionedStreamReader(
            {"servers": server, "stream": INPUT_STREAM})
        end = reader.latestOffset()
        n_read = sum(sum(1 for _ in reader.read(part)) for part in
                     reader.partitions(reader.initialOffset(), end))
    res.put("source.read_s", s.seconds, "s", n_read)
    events = progress.for_run(str(q.runId))
    for e in events:
        ctx.tracer.add("trigger", e["start"], e["end"], parent=sp.span_id,
                       batch=e["batchId"], rows=e["numInputRows"])

    def total_ms(key):
        return sum(e["durationMs"].get(key, 0) for e in events)

    res.put("roundtrip.add_batch_ms", total_ms("addBatch"), "ms", len(events))
    res.put("roundtrip.latest_offset_ms", total_ms("latestOffset"), "ms",
            len(events))
    res.put("roundtrip.trigger_cover_pct",
            100.0 * total_ms("triggerExecution") / 1e3 / sp.seconds, "%")
    res.put("roundtrip.output_msgs", len(want), "count")


def _check_output(ctx: Context, out, want: dict[str, str]) -> None:
    """Exactly the expected messages, one per Nats-Msg-Id, each on its
    routed subject."""
    res = ctx.result
    msgs = out.messages
    ids = [m.headers.get("Nats-Msg-Id") for m in msgs]
    if len(msgs) != len(want):
        res.fail(f"round trip published {len(msgs)} messages, expected "
                 f"{len(want)}", abs(len(msgs) - len(want)))
    if len(set(ids)) != len(ids):
        res.fail("duplicate Nats-Msg-Id in the round trip output",
                 len(ids) - len(set(ids)))
    wrong = sum(1 for m, i in zip(msgs, ids) if want.get(i) != m.subject)
    if wrong:
        res.fail(f"{wrong} round trip messages with an unexpected id or "
                 f"subject", wrong)
