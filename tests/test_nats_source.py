"""NATS connector tests against the file-backed mem:// JetStream stand-in.

The reader's driver-side offsets and its executor-side partition reads are
driven in-process here and end-to-end through readStream.format("nats");
the writer publishes the pipeline's message shape (subject, value,
msg_id) both in-process and from executor workers through
writeStream.format("nats"). Every process sees the same broker because the
stand-in lives in files.
"""

from __future__ import annotations

import json
import re
import time

import pytest
from pyspark.sql import Row
from pyspark.sql.types import StructType

from nats_stream_processor_spark.sources.nats import (
    NatsCommitMessage,
    NatsDataSource,
    NatsPartitionedStreamReader,
    NatsStreamWriter,
    ensure_output_stream,
    mem_reset,
    mem_stream,
    register,
)
from nats_stream_processor_spark.streaming.pipeline import (
    NatsSink,
    decode_posts,
    enrich_stream,
    nats_message,
    start_enrichment_query,
)


def seed_posts(server: str, stream: str, posts: list[dict]) -> None:
    ms = mem_stream(server, stream)
    for p in posts:
        ms.publish(f"bluesky.posts.{p['uri'].split('/')[-1]}",
                   json.dumps(p).encode(), ts=time.time())


def read_range(r: NatsPartitionedStreamReader, start: dict,
               end: dict) -> list[tuple]:
    """What one micro-batch over [start, end) reads, partition by
    partition, as the executors would."""
    return [row for p in r.partitions(start, end) for row in r.read(p)]


def test_reader_offsets_and_batching():
    server, stream = "mem://offsets", "bluesky-posts"
    mem_reset(server)
    seed_posts(server, stream, [
        {"uri": f"at://t/{i}", "cid": str(i), "text": "great"} for i in range(7)
    ])
    r = NatsPartitionedStreamReader({"servers": server, "stream": stream,
                                     "maxbatchsize": "3"})
    start = r.initialOffset()
    assert start == {"seq": 1}
    end1 = r.latestOffset()
    assert end1 == {"seq": 4}                               # S2 admission cap
    assert [m[2] for m in read_range(r, start, end1)] == [1, 2, 3]
    end2 = r.latestOffset()
    assert end2 == {"seq": 7} and len(read_range(r, end1, end2)) == 3
    end3 = r.latestOffset()
    assert end3 == {"seq": 8} and len(read_range(r, end2, end3)) == 1
    end4 = r.latestOffset()
    assert end4 == {"seq": 8} and read_range(r, end3, end4) == []  # idle
    # deterministic replay of a committed range
    replay = read_range(r, {"seq": 4}, {"seq": 7})
    assert [m[2] for m in replay] == [4, 5, 6]
    assert replay == read_range(r, {"seq": 4}, {"seq": 7})
    r.stop()


def test_restarted_reader_caps_from_the_checkpointed_end():
    """On restart Spark hands the reader its checkpointed end as an empty
    range, partitions(end, end), before the first latestOffset; the cap
    runs from there, not from the start of the stream."""
    server, stream = "mem://restart_cap", "bluesky-posts"
    mem_reset(server)
    seed_posts(server, stream, [
        {"uri": f"at://t/{i}", "cid": str(i), "text": "great"}
        for i in range(10)
    ])
    r = NatsPartitionedStreamReader({"servers": server, "stream": stream,
                                     "maxbatchsize": "3"})
    assert read_range(r, {"seq": 5}, {"seq": 5}) == []
    assert r.latestOffset() == {"seq": 8}
    assert r.latestOffset() == {"seq": 11}
    r.stop()


def test_reader_subject_filter():
    server, stream = "mem://filter", "bluesky-posts"
    mem_reset(server)
    ms = mem_stream(server, stream)
    ms.publish("bluesky.posts.a", b"x")
    ms.publish("other.subject", b"y")
    ms.publish("bluesky.posts.b", b"z")
    r = NatsPartitionedStreamReader({"servers": server, "stream": stream,
                                     "subjectprefix": "bluesky.posts."})
    rows = read_range(r, r.initialOffset(), r.latestOffset())
    assert [m[0] for m in rows] == ["bluesky.posts.a", "bluesky.posts.b"]


def test_writer_idempotent_publish_and_routing():
    server, stream = "mem://writer", "bluesky-posts-enriched"
    mem_reset(server)
    ensure_output_stream(server, stream)
    w = NatsStreamWriter({"servers": server, "stream": stream})
    rows = [
        Row(subject="bluesky.posts.enriched.positive.music",
            value=b'{"uri":"at://t/1"}', msg_id="at://t/1:c1"),
        Row(subject="bluesky.posts.enriched.negative.sports",
            value=b'{"uri":"at://t/2"}', msg_id="at://t/2:c2"),
        Row(subject="bluesky.posts.enriched.positive.music",
            value=b'{"uri":"at://t/1"}', msg_id="at://t/1:c1"),
        Row(subject="bluesky.posts.enriched.neutral.daily_life",
            value=b'{"uri":"at://t/3"}', msg_id=None),
    ]
    msg: NatsCommitMessage = w.write(iter(rows))
    # duplicate (uri:cid) dropped by the msg-id window (D1); rows without
    # a msg id publish without the header (reference skips it then)
    assert msg.n_published == 3 and msg.n_duplicates == 1
    ms = mem_stream(server, stream)
    assert [m.subject for m in ms.messages] == [
        "bluesky.posts.enriched.positive.music",
        "bluesky.posts.enriched.negative.sports",
        "bluesky.posts.enriched.neutral.daily_life",
    ]
    assert [m.headers for m in ms.messages] == [
        {"Nats-Msg-Id": "at://t/1:c1"}, {"Nats-Msg-Id": "at://t/2:c2"}, {}]
    assert ms.messages[1].data == b'{"uri":"at://t/2"}'
    # task-retry simulation: re-publishing the same batch is a no-op
    msg2 = w.write(iter(rows[:2]))
    assert msg2.n_published == 0 and msg2.n_duplicates == 2


def test_writer_requires_the_message_columns():
    """format('nats') refuses, at query start, a frame that is not the
    message shape instead of failing in an executor."""
    ds = NatsDataSource({"servers": "mem://shape"})
    shape = StructType().add("subject", "string").add("value", "binary")
    with pytest.raises(ValueError, match="msg_id"):
        ds.streamWriter(shape, False)
    writer = ds.streamWriter(shape.add("msg_id", "string"), False)
    assert writer.stream == "bluesky-posts-enriched"


def test_format_nats_end_to_end_enrichment(spark, tmp_path):
    """readStream.format('nats') -> decode -> enrich -> routed publish back
    into the mem broker's output stream: the reference's full topology."""
    register(spark)
    server = "mem://e2e"
    mem_reset(server)
    seed_posts(server, "bluesky-posts", [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
    ])
    raw = (
        spark.readStream.format("nats")
        .option("servers", server)
        .option("stream", "bluesky-posts")
        .load()
    )
    posts = decode_posts(raw, value_col="value")
    ensure_output_stream(server, "bluesky-posts-enriched")
    out = mem_stream(server, "bluesky-posts-enriched")

    def publisher(subject, payload, msg_id):
        headers = {"Nats-Msg-Id": msg_id} if msg_id else {}
        out.publish(subject, payload, headers)

    q = start_enrichment_query(posts, publisher, str(tmp_path / "nats_ckpt"))
    q.processAllAvailable()
    q.stop()
    assert len(out.messages) == 2
    subjects = sorted(m.subject for m in out.messages)
    assert subjects[0].startswith("bluesky.posts.enriched.negative.")
    assert subjects[1].startswith("bluesky.posts.enriched.positive.")
    enriched = json.loads(out.messages[0].data)
    assert "sentiment" in enriched and "topics" in enriched
    assert enriched["processor"] == "nats-stream-processor-spark"


def test_writestream_format_nats(spark, tmp_path):
    """writeStream.format('nats'): the DataSourceStreamWriter runs in
    executor python workers and publishes to the (file-backed) broker."""
    register(spark)
    server = "mem://sinktest"
    mem_reset(server)
    seed_posts(server, "bluesky-posts", [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/9", "cid": "c9", "text": "great technology news"},
    ])
    raw = (spark.readStream.format("nats")
           .option("servers", server).option("stream", "bluesky-posts").load())
    enriched = enrich_stream(decode_posts(raw)).select(
        "uri", "cid", "route_subject", "sentiment", "topics")
    q = (nats_message(enriched).writeStream.format("nats")
         .option("servers", server).option("stream", "bluesky-posts-enriched")
         .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    out = mem_stream(server, "bluesky-posts-enriched")
    msgs = out.messages
    assert len(msgs) == 2  # duplicate deduped upstream
    assert all(m.headers.get("Nats-Msg-Id") for m in msgs)
    assert {json.loads(m.data)["uri"] for m in msgs} == {"at://t/1", "at://t/9"}


def test_start_enrichment_query_default_natssink(spark, tmp_path):
    """The production sink path: start_enrichment_query with a NatsSink
    publishes executor-side via format('nats') — no driver collect."""
    register(spark)
    server = "mem://sinkdefault"
    mem_reset(server)
    seed_posts(server, "bluesky-posts", [
        {"uri": "at://t/1", "cid": "c1", "text": "This is a great day!"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
    ])
    raw = (spark.readStream.format("nats")
           .option("servers", server).option("stream", "bluesky-posts").load())
    ensure_output_stream(server, "bluesky-posts-enriched")
    q = start_enrichment_query(
        decode_posts(raw),
        NatsSink(servers=server, stream="bluesky-posts-enriched"),
        str(tmp_path / "sink_default_ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    out = mem_stream(server, "bluesky-posts-enriched")
    msgs = out.messages
    assert len(msgs) == 2  # dup dropped upstream by watermarked dedup
    assert all(m.headers.get("Nats-Msg-Id") for m in msgs)
    assert all(m.subject.startswith("bluesky.posts.enriched.") for m in msgs)
    body = json.loads(msgs[0].data)
    assert "sentiment" in body and "topics" in body


def test_partitioned_reader_seq_ranges():
    """DataSourceStreamReader path: offsets, admission cap, and the split
    of a batch range into multiple InputPartitions (queue-group analog)."""
    from nats_stream_processor_spark.sources.nats import SeqRangePartition

    server, stream = "mem://parts", "bluesky-posts"
    mem_reset(server)
    seed_posts(server, stream, [
        {"uri": f"at://t/{i}", "cid": str(i), "text": "great"}
        for i in range(10)
    ])
    r = NatsPartitionedStreamReader({
        "servers": server, "stream": stream,
        "maxbatchsize": "6", "numpartitions": "4",
    })
    assert r.initialOffset() == {"seq": 1}
    first = r.latestOffset()
    assert first == {"seq": 7}  # the first trigger is capped too
    assert r.latestOffset() == {"seq": 11}  # then the rest of the backlog
    parts = r.partitions({"seq": 1}, {"seq": 11})
    assert len(parts) == 4
    assert parts[0] == SeqRangePartition(1, 4)  # 10 seqs -> 3/3/2/2
    assert parts[-1].end_seq == 11
    # ranges tile the batch exactly
    assert [p.start_seq for p in parts[1:]] == [p.end_seq for p in parts[:-1]]
    rows = [row for p in parts for row in r.read(p)]
    assert [row[2] for row in rows] == list(range(1, 11))
    # admission cap on a new backlog
    seed_posts(server, stream, [
        {"uri": f"at://t/{i}", "cid": str(i), "text": "great"}
        for i in range(10, 30)
    ])
    second = r.latestOffset()
    assert second == {"seq": 17}  # 11 + maxbatchsize
    # idle stream: offset is stable, single empty partition
    r2 = NatsPartitionedStreamReader({"servers": server, "stream": stream})
    empty = r2.partitions({"seq": 31}, {"seq": 31})
    assert len(empty) == 1 and list(r2.read(empty[0])) == []


def test_partitioned_reader_e2e_and_restart(spark, tmp_path):
    """format('nats') now defaults to the partitioned reader: a micro-batch
    over 40 messages runs with numPartitions=4 input partitions, results
    match, and a checkpoint restart replays nothing."""
    register(spark)
    server = "mem://parts_e2e"
    mem_reset(server)
    seed_posts(server, "bluesky-posts", [
        {"uri": f"at://t/{i}", "cid": f"c{i}", "text": "This is a great day!"}
        for i in range(40)
    ])
    ckpt = str(tmp_path / "parts_ckpt")
    seen: list[int] = []

    def run_once():
        raw = (spark.readStream.format("nats")
               .option("servers", server).option("stream", "bluesky-posts")
               .option("numPartitions", "4").load())
        q = (raw.writeStream.foreachBatch(
                lambda df, _bid: seen.extend(
                    r["seq"] for r in df.select("seq").collect()))
             .outputMode("append").option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run_once()
    assert sorted(seen) == list(range(1, 41))
    # restart over the same checkpoint: no replay
    run_once()
    assert len(seen) == 40


def test_first_trigger_of_a_start_and_a_restart_is_capped(spark, tmp_path):
    """maxBatchSize caps every micro-batch, including the first of a new
    query and the first after a checkpoint restart over a backlog."""
    register(spark)
    server = "mem://cap_e2e"
    mem_reset(server)
    ckpt = str(tmp_path / "cap_ckpt")
    sizes: list[int] = []

    def run_once(first):
        seed_posts(server, "bluesky-posts", [
            {"uri": f"at://t/{i}", "cid": f"c{i}", "text": "great"}
            for i in range(first, first + 10)
        ])
        raw = (spark.readStream.format("nats")
               .option("servers", server).option("stream", "bluesky-posts")
               .option("maxBatchSize", "4").load())
        q = (raw.writeStream.foreachBatch(
                lambda df, _bid: sizes.append(df.count()))
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run_once(0)
    assert sizes == [4, 4, 2]
    run_once(10)
    assert sizes == [4, 4, 2, 4, 4, 2]


def test_empty_cid_has_no_msg_id_and_both_sinks_publish_same_bytes(
        spark, tmp_path):
    """One message shape for both sinks: a post with cid='' publishes
    without a Nats-Msg-Id (the reference's `if post_uri and post_cid`,
    src/nats_client.py:248) through format('nats') and through the
    callable, and both sinks publish identical payload bytes for the same
    batch — apart from processed_at, which each query stamps itself."""
    register(spark)
    server = "mem://samebytes"
    mem_reset(server)
    seed_posts(server, "bluesky-posts", [
        {"uri": "at://t/1", "cid": "", "text": "This is a great day!"},
        {"uri": "at://t/2", "cid": "c2", "text": "I hate this weather"},
    ])

    def posts():
        return decode_posts(spark.readStream.format("nats")
                            .option("servers", server)
                            .option("stream", "bluesky-posts").load())

    q = start_enrichment_query(posts(), NatsSink(server, "out"),
                               str(tmp_path / "ckpt_sink"))
    q.processAllAvailable()
    q.stop()
    called: list[tuple] = []
    q = start_enrichment_query(posts(), lambda *m: called.append(m),
                               str(tmp_path / "ckpt_callable"))
    q.processAllAvailable()
    q.stop()

    stamp = re.compile(rb'"processed_at":"[^"]+"')
    out = mem_stream(server, "out").messages
    assert {json.loads(m.data)["uri"]: m.headers for m in out} == {
        "at://t/1": {}, "at://t/2": {"Nats-Msg-Id": "at://t/2:c2"}}
    assert all(stamp.search(m.data) for m in out)
    # the callable got the same (subject, payload, msg_id) triples
    assert sorted((s, stamp.sub(b"", v), i) for s, v, i in called) == \
        sorted((m.subject, stamp.sub(b"", m.data),
                m.headers.get("Nats-Msg-Id")) for m in out)
