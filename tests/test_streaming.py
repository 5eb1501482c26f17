"""Structured Streaming tests: the reference's streaming semantics on a
file source + memory/foreachBatch sinks (the mock-ingest pattern of the
reference's docker-compose smoke loop, SURVEY.md §5).

Covers: JSON decode drops malformed rows (F2), the full enrich transform
running in a stream, watermarked dedup (D1), subject routing + idempotency
keys in the sink (P3/S3), observe()-based counters + listener metrics
(M1/M3), and windowed aggregation in append mode (M3 analog).
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from nats_stream_processor_spark.streaming.metrics import (
    MetricsListener,
    observe_pipeline_counters,
)
from nats_stream_processor_spark.streaming.debug_sink import make_publish_batch
from nats_stream_processor_spark.streaming.pipeline import (
    RAW_POST_SCHEMA,
    decode_posts,
    enrich_stream,
    start_enrichment_query,
)
from nats_stream_processor_spark.streaming.windows import (
    session_counts,
    tumbling_counts,
)

POSTS = [
    {"uri": "at://test/1", "cid": "c1", "text": "This is a great day!"},
    {"uri": "at://test/2", "cid": "c2", "text": "I hate this weather"},
    {"uri": "at://test/3", "cid": "c3", "text": "love hate"},      # gated (F5)
    {"uri": "at://test/4", "cid": "c4", "text": "   "},            # empty (F4)
    {"uri": "at://test/1", "cid": "c1", "text": "This is a great day!"},  # dup (D1)
    {"uri": "at://test/5", "cid": "c5",
     "text": "great technology news on the stream today"},
]


def write_json_lines(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


@pytest.fixture()
def posts_dir(tmp_path):
    d = tmp_path / "in"
    write_json_lines(d / "posts.jsonl", POSTS + ["{not valid json"])
    return d


def test_stream_enrich_dedup_and_routing(spark, posts_dir, tmp_path):
    raw = (
        spark.readStream.format("text")
        .load(str(posts_dir))
        .withColumnRenamed("value", "value")
    )
    posts = decode_posts(raw)
    published: list[tuple] = []

    def publisher(subject, payload, msg_id):
        published.append((subject, json.loads(payload), msg_id))

    q = start_enrichment_query(posts, publisher,
                               str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    by_uri = {p[1]["uri"]: p for p in published}
    # 6 raw + 1 malformed -> malformed dropped (F2), empty dropped (F4),
    # gated dropped (F5), duplicate dropped (D1) => 3 published
    assert len(published) == 3
    assert set(by_uri) == {"at://test/1", "at://test/2", "at://test/5"}
    subject, doc, msg_id = by_uri["at://test/1"]
    assert subject.startswith("bluesky.posts.enriched.positive.")
    assert msg_id == "at://test/1:c1"
    assert doc["sentiment"]["sentiment"] == "positive"
    assert doc["topics"]["top_topic"] in subject
    neg_subject = by_uri["at://test/2"][0]
    assert neg_subject.startswith("bluesky.posts.enriched.negative.")


def test_stream_null_cid_posts_not_collapsed(spark, tmp_path):
    # D1 edge: the reference publishes WITHOUT a Nats-Msg-Id header when
    # cid is missing (src/nats_client.py:248-252) — no dedup. Two distinct
    # null-cid posts sharing a uri must therefore BOTH be published (the
    # synthetic per-row dedup key must never collapse them), while the
    # exact cid-keyed duplicate is still dropped.
    d = tmp_path / "in_nullcid"
    write_json_lines(d / "posts.jsonl", [
        {"uri": "at://n/1", "text": "This is a great day!"},
        {"uri": "at://n/1", "text": "great technology news today"},
        {"uri": "at://n/2", "cid": "c2", "text": "I hate this weather"},
        {"uri": "at://n/2", "cid": "c2", "text": "I hate this weather"},
    ])
    raw = spark.readStream.format("text").load(str(d))
    published: list[tuple] = []

    def publisher(subject, payload, msg_id):
        published.append((json.loads(payload)["uri"], msg_id))

    q = start_enrichment_query(decode_posts(raw), publisher,
                               str(tmp_path / "ckpt_nullcid"))
    q.processAllAvailable()
    q.stop()
    uris = sorted(u for u, _ in published)
    assert uris == ["at://n/1", "at://n/1", "at://n/2"]
    # null-cid rows publish without a msg id (reference parity)
    assert [m for u, m in published if u == "at://n/1"] == [None, None]
    assert [m for u, m in published if u == "at://n/2"] == ["at://n/2:c2"]


def test_stream_restart_does_not_republish(spark, posts_dir, tmp_path):
    # A0: checkpoint replay — restarting the query over the same source
    # publishes nothing new (offsets committed).
    raw = spark.readStream.format("text").load(str(posts_dir))
    posts = decode_posts(raw)
    out: list = []

    def publisher(subject, payload, msg_id):
        out.append(msg_id)

    ckpt = str(tmp_path / "ckpt2")
    q = start_enrichment_query(posts, publisher, ckpt)
    q.processAllAvailable(); q.stop()
    n_first = len(out)
    assert n_first == 3

    q2 = start_enrichment_query(posts, publisher, ckpt)
    q2.processAllAvailable(); q2.stop()
    assert len(out) == n_first  # nothing re-published


def test_observe_counters_and_listener(spark, posts_dir, tmp_path):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        raw = spark.readStream.format("text").load(str(posts_dir))
        posts = decode_posts(raw)
        observed = observe_pipeline_counters(posts, "pipeline")
        q = (observed.writeStream.format("memory")
             .queryName("obs_test").outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt3"))
             .start())
        q.processAllAvailable()
        # listener delivery is async; give it a moment
        for _ in range(40):
            if any(r.observed_metrics.get("pipeline") for r in listener.records):
                break
            time.sleep(0.25)
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    obs = [r.observed_metrics["pipeline"] for r in listener.records
           if "pipeline" in r.observed_metrics]
    assert obs, f"no observed metrics in {listener.records}"
    m = obs[0]
    # 6 decoded posts (malformed dropped before observe)
    assert m["n_processed"] == 6
    assert m["n_empty_text"] == 1
    assert listener.totals()["total_input_rows"] >= 6


def test_streaming_tumbling_window_append(spark, tmp_path):
    rows = [
        {"uri": f"at://w/{i}", "cid": str(i), "text": "great day",
         "created_at": f"2024-01-01T00:00:{i:02d}"}
        for i in range(5)
    ] + [
        {"uri": "at://w/99", "cid": "99", "text": "great day",
         "created_at": "2024-01-01T01:00:00"}  # advances the watermark
    ]
    d = tmp_path / "win_in"
    write_json_lines(d / "rows.jsonl", rows)
    raw = spark.readStream.format("text").load(str(d))
    posts = decode_posts(raw).withColumn(
        "ts", F.to_timestamp("created_at"))
    ticks = tumbling_counts(posts, "ts", "20 seconds", "10 seconds")
    q = (ticks.writeStream.format("memory").queryName("ticks_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt4"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = {r["tick_start"].isoformat(): r["n_processed"]
           for r in spark.sql("SELECT * FROM ticks_test").collect()}
    # first window [00:00:00, 00:00:20) closed by the 01:00 watermark row
    assert got.get("2024-01-01T00:00:00") == 5


def test_streaming_session_window_append(spark, tmp_path):
    """Session windows on a stream: events within the gap merge into one
    session per key, a gap splits them, and the watermark row closes the
    sessions so append mode emits them."""
    rows = (
        # author A: 3 events 5 s apart -> ONE session (gap 30 s)
        [{"uri": f"at://s/a{i}", "cid": f"a{i}", "text": "great day",
          "author": "did:a",
          "created_at": f"2024-01-01T00:00:{5 * i:02d}"} for i in range(3)]
        # author A again 10 min later -> a SECOND session
        + [{"uri": "at://s/a9", "cid": "a9", "text": "great day",
            "author": "did:a", "created_at": "2024-01-01T00:10:00"}]
        # author B: one lone event -> its own session
        + [{"uri": "at://s/b0", "cid": "b0", "text": "great day",
            "author": "did:b", "created_at": "2024-01-01T00:00:07"}]
        # far-future row advances the watermark past everything above
        + [{"uri": "at://s/z", "cid": "z", "text": "great day",
            "author": "did:z", "created_at": "2024-01-01T02:00:00"}]
    )
    d = tmp_path / "sess_in"
    write_json_lines(d / "rows.jsonl", rows)
    raw = spark.readStream.format("text").load(str(d))
    posts = decode_posts(raw).withColumn("ts", F.to_timestamp("created_at"))
    sess = session_counts(posts, "ts", "author", gap="30 seconds",
                          watermark="10 seconds")
    q = (sess.writeStream.format("memory").queryName("sess_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = {(r.author, r.session_start.isoformat()): r.n_events
           for r in spark.sql("SELECT * FROM sess_test").collect()}
    assert got[("did:a", "2024-01-01T00:00:00")] == 3  # merged session
    assert got[("did:a", "2024-01-01T00:10:00")] == 1  # split by the gap
    assert got[("did:b", "2024-01-01T00:00:07")] == 1


def test_enrich_stream_batch_mode_parity(spark):
    # The same enrich_stream function runs on a batch DataFrame (symmetry).
    df = spark.createDataFrame(
        [("at://b/1", "c1", "great day"), ("at://b/1", "c1", "great day")],
        "uri string, cid string, text string",
    )
    out = enrich_stream(df).collect()
    assert len(out) == 1  # batch-mode dedup
    assert out[0]["sentiment"]["sentiment"] == "positive"


def test_rate_source_mock_ingest(spark, tmp_path):
    """The reference's mock-ingest smoke loop (docker-compose.yml:16-34) on
    Spark's rate source: synthesize alternating positive/negative posts at
    a fixed rate, run the full enrichment, check both classes flow through."""
    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", "50").load())
    posts = rate.select(
        F.concat(F.lit("at://mock/"), F.col("value")).alias("uri"),
        F.col("value").cast("string").alias("cid"),
        F.when(F.col("value") % 2 == 0, "This is a great day!")
        .otherwise("I hate this weather").alias("text"),
    )
    out: list = []

    def publisher(subject, payload, msg_id):
        out.append(subject)

    q = start_enrichment_query(posts, publisher, str(tmp_path / "rate_ckpt"))
    deadline = time.time() + 30
    while time.time() < deadline and len(out) < 10:
        time.sleep(0.5)
    q.stop()
    assert len(out) >= 10
    assert any(".positive." in s for s in out)
    assert any(".negative." in s for s in out)


@pytest.mark.env_gated
def test_stateful_running_counts_v2(spark, tmp_path):
    """transformWithStateInPandas twin of test_stateful_running_counts.
    The v2 state protocol serializes via protobuf, which this container
    lacks — the processor/plan construction is still exercised; execution
    runs wherever protobuf is installed."""
    from nats_stream_processor_spark.streaming import stateful

    if stateful.running_label_counts_v2 is None:
        pytest.skip("this PySpark build lacks transformWithStateInPandas "
                    "(needs Spark >= 4.0); unlock by upgrading pyspark")
    # Plan construction must succeed regardless of protobuf.
    raw = (spark.readStream.format("rate").option("rowsPerSecond", "1").load()
           .selectExpr("CAST(value % 2 AS STRING) AS label_in"))
    counts = stateful.running_label_counts_v2(raw, "label_in")
    assert counts.isStreaming and set(counts.columns) == {"label", "n_total", "n_batch"}
    if not stateful.HAVE_PROTOBUF:
        pytest.skip("plan construction verified; EXECUTION needs the v2 "
                    "state protocol's protobuf serializer — unlock with: "
                    "`pip install protobuf` then rerun this test")
    d = tmp_path / "tws_in"
    d.mkdir()
    with open(d / "b1.jsonl", "w") as f:
        for lab in ["pos", "pos", "neg"]:
            f.write(json.dumps({"label_in": lab}) + "\n")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider")
    src = (spark.readStream.format("json").schema("label_in string")
           .option("maxFilesPerTrigger", "1").load(str(d)))
    q = (stateful.running_label_counts_v2(src, "label_in")
         .writeStream.format("memory").queryName("tws_test")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_tws")).start())
    q.processAllAvailable()
    q.stop()
    got = {r["label"]: r["n_total"]
           for r in spark.sql("SELECT * FROM tws_test").collect()}
    assert got == {"pos": 2, "neg": 1}


def test_stream_static_dimension_join(spark, posts_dir, tmp_path):
    """Stream-static join: enrich a post stream against a small static
    dimension (author/uri -> cohort). The standard broadcast-enrichment
    pattern — the static side is re-read per micro-batch, needs no
    watermark, and at scale rides a broadcast hash join instead of
    stateful symmetric hashing (unlike stream-stream joins)."""
    dim = spark.createDataFrame(
        [("at://test/1", "seed"), ("at://test/2", "organic"),
         ("at://test/5", "seed")],
        "uri string, cohort string")
    stream = decode_posts(
        spark.readStream.schema("value string").format("text")
        .load(str(posts_dir)).selectExpr("value"))
    joined = (enrich_stream(stream)
              .join(F.broadcast(dim), "uri", "left")
              .select("uri", "cohort", F.col("sentiment.sentiment")
                      .alias("sentiment")))
    q = (joined.writeStream.format("memory").queryName("dimjoin")
         .option("checkpointLocation", str(tmp_path / "ck_dim"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r.uri: (r.cohort, r.sentiment)
            for r in spark.sql("select * from dimjoin").collect()}
    # enriched survivors join their cohort; un-dimensioned uris keep NULL
    assert rows["at://test/1"][0] == "seed"
    assert rows["at://test/2"][0] == "organic"
    assert rows["at://test/5"][0] == "seed"
    assert all(s in ("positive", "negative", "neutral")
               for _, s in rows.values())


def test_stream_dedup_against_static_store(spark, tmp_path):
    """Incremental streaming dedup: documents whose content digest exists
    in the static store are dropped (stream-static anti join), in-stream
    duplicates collapse to one row (watermarked key state), and fresh
    unique documents pass through."""
    from nats_stream_processor_spark.streaming.pipeline import (
        dedup_against_store,
    )

    d = tmp_path / "docs_in"
    d.mkdir()
    (d / "batch.txt").write_text(
        "already in corpus\n"      # known digest -> dropped
        "brand new document\n"     # fresh -> kept
        "repeated in stream\n"     # fresh, first copy -> kept
        "repeated in stream\n"     # in-stream dup -> dropped
        "another new one\n")
    store = spark.createDataFrame(
        [("already in corpus",), ("some other old doc",)], "text string"
    ).select(F.md5("text").alias("k"))

    stream = (spark.readStream.format("text").load(str(d))
              .select(F.col("value").alias("text")))
    out = dedup_against_store(stream, store)
    q = (out.writeStream.format("memory").queryName("incdedup")
         .option("checkpointLocation", str(tmp_path / "ck_inc"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(r.text for r in spark.sql("select * from incdedup").collect())
    assert got == ["another new one", "brand new document",
                   "repeated in stream"]

    # batch-mode parity: same helper, same semantics, no watermark path
    batch = spark.createDataFrame(
        [("already in corpus",), ("brand new document",),
         ("repeated in stream",), ("repeated in stream",),
         ("another new one",)], "text string")
    got_b = sorted(r.text
                   for r in dedup_against_store(batch, store).collect())
    assert got_b == got


def test_file_sink_exactly_once_across_restart(spark, tmp_path):
    """Streaming into a parquet lake sink: the file sink's transaction
    log gives exactly-once files — restarting over the same (fully
    consumed) source adds no rows, and new source data lands exactly
    once. This is the 'enriched posts to the lakehouse' sink shape; at
    scale the same contract holds per micro-batch epoch."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("alpha\nbeta\n")
    out_dir = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ck_lake")

    def run_once():
        stream = (spark.readStream.format("text").load(str(src))
                  .select(F.col("value").alias("text"),
                          F.length("value").alias("n")))
        q = (stream.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    first = sorted(r.text for r in spark.read.parquet(out_dir).collect())
    assert first == ["alpha", "beta"]

    run_once()  # no new data -> no new rows
    again = sorted(r.text for r in spark.read.parquet(out_dir).collect())
    assert again == first

    (src / "b.txt").write_text("gamma\n")
    run_once()  # new file lands exactly once
    final = sorted(r.text for r in spark.read.parquet(out_dir).collect())
    assert final == ["alpha", "beta", "gamma"]


def test_streaming_cusum_drift_matches_batch(spark, tmp_path):
    """The CUSUM drift monitor on the STREAMING path: daily counts as a
    complete-mode streaming aggregation, the closed-form CUSUM applied
    to each micro-batch snapshot in foreachBatch (window functions are
    not allowed on an unbounded stream, and re-deriving the statistic
    from the complete aggregate each trigger is exactly how a
    production monitor runs it). The final snapshot must equal the
    batch operator row-for-row — same helper, same statistic."""
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import cusum_over_daily

    sf = "/root/testdata/sf0.001"
    src = registry.table(spark, sf, "events").select("event_type", "ts")
    pdir = tmp_path / "cusum_events"
    src.write.parquet(str(pdir))  # normalized us timestamps for streaming
    expect = {(r.event_type, r.day): (r.n, r.cusum, r.is_drift)
              for r in registry.REGISTRY["events_cusum_drift"]
              .fn(spark, sf).collect()}
    registry.release_pins()

    stream = spark.readStream.schema(src.schema).parquet(str(pdir))
    daily = (stream.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("bigint").alias("n")))
    snapshots = {}

    def monitor(bdf, epoch_id):
        snapshots[epoch_id] = {
            (r.event_type, r.day): (r.n, r.cusum, r.is_drift)
            for r in cusum_over_daily(bdf).collect()}

    q = (daily.writeStream.outputMode("complete").foreachBatch(monitor)
         .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert snapshots, "no micro-batch arrived"
    assert snapshots[max(snapshots)] == expect


def test_streaming_hourly_hll_state_matches_batch(spark, tmp_path):
    """The streaming half of the sliding-HLL sketch story
    (streaming/hll.py): per-hour HLL registers as applyInPandasWithState
    managed state, fed one parquet file per micro-batch, must end
    byte-identical to the batch twin's registers over the same rows —
    so every sliding-window union (register-wise max over <= SW_HOURS
    sketch rows, never events) and every estimate agrees exactly
    between the streaming and batch paths, and the estimates sit
    within the batch operator's 5% tolerance of the exact per-window
    distinct counts."""
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import SW_HOURS
    from nats_stream_processor_spark.streaming import hll

    sf = "/root/testdata/sf0.001"
    src = registry.table(spark, sf, "events").select("ts", "user_id")
    pdir = tmp_path / "hll_events"
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1: hours are
    # touched across MULTIPLE batches, so the state genuinely merges.
    src.repartition(4).write.parquet(str(pdir))

    batch = {r.h: r for r in
             hll.hourly_distinct_hll_batch(
                 spark.read.parquet(str(pdir))).collect()}

    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(pdir)))
    latest, touches = {}, []
    def collect(bdf, epoch_id):
        rows = bdf.collect()
        touches.append({r.h for r in rows})
        for r in rows:
            latest[r.h] = r
    q = (hll.hourly_distinct_hll(stream)
         .writeStream.outputMode("update").foreachBatch(collect)
         .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert len([t for t in touches if t]) >= 2, "wanted multiple batches"
    assert any(t1 & t2 for i, t1 in enumerate(touches)
               for t2 in touches[i + 1:]), \
        "no hour was updated across batches — statefulness unexercised"

    # streaming final state == batch kernel, byte for byte
    assert set(latest) == set(batch)
    for h, r in latest.items():
        assert bytes(r.regs) == bytes(batch[h].regs), h
        assert r.estimate == batch[h].estimate, h

    # sliding windows: union of hourly STREAMING sketches == union of
    # hourly BATCH sketches, and estimates within the 5% tolerance of
    # the exact distinct counts the batch operator certifies
    exact = {r.window_hour: r.exact_users for r in
             registry.REGISTRY["events_sliding_distinct_hll"].fn(
                 spark, sf).collect()}
    registry.release_pins()
    hmax = max(latest)
    wins = sorted({w for h in latest
                   for w in range(h, min(h + SW_HOURS - 1, hmax) + 1)})
    assert wins == sorted(exact)
    for w in wins:
        hours = [h for h in latest if w - SW_HOURS + 1 <= h <= w]
        merged_s = merged_b = bytes(hll.HLL_PY_M)
        for h in hours:
            merged_s = hll.hll_merge(merged_s, bytes(latest[h].regs))
            merged_b = hll.hll_merge(merged_b, bytes(batch[h].regs))
        assert merged_s == merged_b, w
        est = hll.hll_estimate(merged_s)
        assert abs(est - exact[w]) / exact[w] <= 0.05, (w, est, exact[w])


def test_streaming_hourly_quantile_hist_state_matches_batch(spark, tmp_path):
    """The streaming half of the mergeable-QUANTILE story
    (streaming/quantile.py), completing the mergeable-summary matrix
    (cardinality: HLL batch+stream; moments: power sums batch+stream;
    quantiles: THIS): per-hour value histograms as
    applyInPandasWithState managed state, fed one parquet file per
    micro-batch, must end byte-identical to the batch twin's canonical
    histogram encoding over the same rows — and sliding-window p50/p95
    composed from the STREAMING state (merge <= SW_HOURS hourly bucket
    dicts, integer k arithmetic) must equal the certified
    events_sliding_quantile_hist operator's estimates EXACTLY, not
    within a tolerance: same buckets, same counts, same `div`
    truncation on both paths."""
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import SQ_W, SW_HOURS
    from nats_stream_processor_spark.streaming import quantile as qh

    sf = "/root/testdata/sf0.001"
    src = registry.table(spark, sf, "events").select("ts", "value")
    pdir = tmp_path / "qh_events"
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1: hours are
    # touched across MULTIPLE batches, so the state genuinely merges.
    src.repartition(4).write.parquet(str(pdir))

    batch = {r.h: r for r in
             qh.hourly_value_hist_batch(
                 spark.read.parquet(str(pdir))).collect()}

    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(pdir)))
    latest, touches = {}, []

    def collect(bdf, epoch_id):
        rows = bdf.collect()
        touches.append({r.h for r in rows})
        for r in rows:
            latest[r.h] = r

    q = (qh.hourly_value_hist(stream)
         .writeStream.outputMode("update").foreachBatch(collect)
         .option("checkpointLocation", str(tmp_path / "ckpt_qh"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert len([t for t in touches if t]) >= 2, "wanted multiple batches"
    assert any(t1 & t2 for i, t1 in enumerate(touches)
               for t2 in touches[i + 1:]), \
        "no hour was updated across batches — statefulness unexercised"

    # streaming final state == batch kernel, byte for byte (canonical
    # sorted-pair encoding, so dict equality <=> byte equality)
    assert set(latest) == set(batch)
    for h, r in latest.items():
        assert bytes(r.hist) == bytes(batch[h].hist), h
        assert (r.n_events, r.est_p50, r.est_p95) == \
            (batch[h].n_events, batch[h].est_p50, batch[h].est_p95), h

    # sliding windows: merging hourly STREAMING histograms reproduces
    # the certified batch operator's window rows EXACTLY
    op = {r.window_hour: r for r in
          registry.REGISTRY["events_sliding_quantile_hist"].fn(
              spark, sf).collect()}
    registry.release_pins()
    hmax = max(latest)
    wins = sorted({w for h in latest
                   for w in range(h, min(h + SW_HOURS - 1, hmax) + 1)})
    assert wins == sorted(op)
    for w in wins:
        merged: dict[int, int] = {}
        for h in latest:
            if w - SW_HOURS + 1 <= h <= w:
                merged = qh.hist_merge(
                    merged, qh.hist_decode(bytes(latest[h].hist)))
        n, est50, est95 = qh.hist_quantiles(merged, SQ_W)
        assert n == op[w].n_events, w
        assert est50 == op[w].est_p50, w
        assert est95 == op[w].est_p95, w
        # and the operator's own theorem holds for the composed state
        assert est50 <= op[w].exact_p50 < est50 + SQ_W, w
        assert est95 <= op[w].exact_p95 < est95 + SQ_W, w


def test_streaming_hourly_topk_summaries_match_batch(spark, tmp_path):
    """The streaming half of the mergeable TOP-K story
    (streaming/topk.py), closing the batch+stream matrix for all four
    mergeable sliding axes: per-hour frequent-items summary state as
    applyInPandasWithState managed state, fed one parquet file per
    micro-batch, must end emitting summaries identical to the batch
    kernel's over the same rows. At this SF every hour fits the width
    (no truncation rows), so summary equality IS full-state equality
    (the canonical encoding's equal-dicts <=> equal-bytes law), and the
    per-window top-T composed from the STREAMING summaries must equal
    the certified events_sliding_topk operator's heads exactly. A
    second, single-hour planted corpus with width+1 users exercises the
    truncation-bound row through the streaming path."""
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import (
        SLT_C,
        SLT_TOP,
        SW_HOURS,
    )
    from nats_stream_processor_spark.streaming import topk as tk

    sf = "/root/testdata/sf0.001"
    src = registry.table(spark, sf, "events").select("ts", "user_id")
    pdir = tmp_path / "tk_events"
    src.repartition(4).write.parquet(str(pdir))

    def run_stream(path, ckpt):
        stream = (spark.readStream.schema(src.schema)
                  .option("maxFilesPerTrigger", "1").parquet(str(path)))
        latest, touches = {}, []

        def collect(bdf, epoch_id):
            rows = bdf.collect()
            touches.append({r.h for r in rows})
            by_h = {}
            for r in rows:
                by_h.setdefault(r.h, []).append((r.user_id, r.cnt))
            latest.update(by_h)

        q = (tk.hourly_topk_summaries(stream)
             .writeStream.outputMode("update").foreachBatch(collect)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return latest, touches

    def assert_state_bytes_match_batch(path, ckpt):
        # DIRECT state-store byte check (the docstring's claim, checked
        # for real): read the final managed state via Spark's statestore
        # data source and compare each hour's blob byte-for-byte against
        # counts_encode() of the hour's full counts recomputed from the
        # same rows — the canonical-encoding law (equal dicts <=> equal
        # bytes) applied to the ACTUAL persisted state, truncation or
        # not, rather than inferred from emitted summaries.
        st = (spark.read.format("statestore")
              .option("path", str(tmp_path / ckpt)).load())
        # key = struct<h>, value = struct<groupState: struct<counts>>
        # (applyInPandasWithState wraps the user state row once)
        got = {int(r.key[0]): bytes(r.value[0][0]) for r in st.collect()}
        pdf = (spark.read.parquet(str(path))
               .selectExpr("unix_micros(ts) div 3600000000 AS h",
                           "cast(user_id AS long) AS user_id")
               .toPandas())
        want: dict = {}
        for (h, u), c in pdf.groupby(["h", "user_id"]).size().items():
            want.setdefault(int(h), {})[int(u)] = int(c)
        assert got == {h: tk.counts_encode(cs) for h, cs in want.items()}

    latest, touches = run_stream(pdir, "ckpt_tk")
    assert_state_bytes_match_batch(pdir, "ckpt_tk")
    assert len([t for t in touches if t]) >= 2, "wanted multiple batches"
    assert any(t1 & t2 for i, t1 in enumerate(touches)
               for t2 in touches[i + 1:]), \
        "no hour was updated across batches — statefulness unexercised"

    batch = {}
    for r in tk.hourly_topk_summaries_batch(
            spark.read.parquet(str(pdir))).collect():
        batch.setdefault(r.h, []).append((r.user_id, r.cnt))
    assert set(latest) == set(batch)
    for h in batch:
        assert sorted(latest[h], key=str) == sorted(batch[h], key=str), h
        # this SF fits the width -> no truncation row -> the summary IS
        # the hour's full state
        assert all(u is not None for u, _ in latest[h]), h

    # per-window heads composed from STREAMING summaries == the
    # certified batch operator (complete summaries -> est is exact)
    op = {}
    for r in registry.REGISTRY["events_sliding_topk"].fn(
            spark, sf).collect():
        op.setdefault(r.window_hour, []).append(
            (r.rank, r.user_id, r.n_occ))
    registry.release_pins()
    hmax = max(latest)
    wu: dict = {}
    for h, rows in latest.items():
        for u, c in rows:
            for w in range(h, min(h + SW_HOURS - 1, hmax) + 1):
                wu.setdefault(w, {})
                wu[w][u] = wu[w].get(u, 0) + c
    assert sorted(wu) == sorted(op)
    for w, counts in wu.items():
        head = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
        expect = [(i + 1, u, c) for i, (u, c) in
                  enumerate(head[:SLT_TOP])]
        assert sorted(op[w]) == expect, w

    # planted truncation: one hour, SLT_C + 1 users -> the streaming
    # path must emit exactly SLT_C kept rows plus the NULL-user bound
    base_us = 1_700_000_000_000_000
    rows = [(base_us + u, u) for u in range(SLT_C + 1)]
    tdir = tmp_path / "tk_trunc"
    spark.createDataFrame(rows, "us long, user_id long") \
        .selectExpr("timestamp_micros(us) AS ts", "user_id") \
        .repartition(2).write.parquet(str(tdir))
    latest2, _ = run_stream(tdir, "ckpt_tk2")
    # here summary != state (one user truncated) — the byte check
    # proves the state kept the FULL dict, not just the emitted head
    assert_state_bytes_match_batch(tdir, "ckpt_tk2")
    (h2,) = latest2
    kept = [r for r in latest2[h2] if r[0] is not None]
    bound = [r for r in latest2[h2] if r[0] is None]
    assert len(kept) == SLT_C
    assert bound == [(None, 1)]  # e_h = the (C+1)-th count


def test_streaming_hourly_power_sums_match_batch_moments(spark, tmp_path):
    """The streaming half of the mergeable-moments story
    (queries/events.hourly_power_sums): the SAME builder that feeds
    events_moments_merge runs as a stateful Structured Streaming
    aggregation (update mode, one parquet file per micro-batch, Spark
    managing the per-(type, hour) sums as aggregation state). Because
    the power sums are exact integers, the final streaming state must
    equal the batch partials EXACTLY — and python-merging the streaming
    partials must reproduce the certified operator's moments to the
    last rounded digit."""
    import math
    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import hourly_power_sums

    sf = "/root/testdata/sf0.001"
    src = registry.table(spark, sf, "events").select(
        "ts", "event_type", "value")
    pdir = tmp_path / "mom_events"
    # 4 files -> 4 micro-batches: (type, hour) cells are updated across
    # multiple batches, so the aggregation state genuinely merges.
    src.repartition(4).write.parquet(str(pdir))

    batch = {(r.event_type, r.h): r for r in
             hourly_power_sums(spark.read.parquet(str(pdir))).collect()}

    stream = (spark.readStream.schema(src.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(pdir)))
    latest, touches = {}, []

    def collect(bdf, epoch_id):
        rows = bdf.collect()
        touches.append({(r.event_type, r.h) for r in rows})
        for r in rows:
            latest[(r.event_type, r.h)] = r

    q = (hourly_power_sums(stream)
         .writeStream.outputMode("update").foreachBatch(collect)
         .option("checkpointLocation", str(tmp_path / "ckpt_mom"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    assert len([t for t in touches if t]) >= 2, "wanted multiple batches"
    assert any(t1 & t2 for i, t1 in enumerate(touches)
               for t2 in touches[i + 1:]), \
        "no (type, hour) cell updated across batches — state unexercised"

    # final streaming state == batch partials, integer for integer
    assert set(latest) == set(batch)
    for k, r in latest.items():
        b = batch[k]
        assert (r.pn, int(r.p1), int(r.p2), int(r.p3)) \
            == (b.pn, int(b.p1), int(b.p2), int(b.p3)), k

    # python-merge of the STREAMING partials == the certified operator
    operator = {r["event_type"]: r for r in registry.REGISTRY[
        "events_moments_merge"].fn(spark, sf).collect()}
    registry.release_pins()
    by_type: dict[str, list] = {}
    for (t, _h), r in latest.items():
        by_type.setdefault(t, []).append(r)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    assert set(by_type) == set(operator)
    for t, rows in by_type.items():
        n = sum(r.pn for r in rows)
        s1 = sum(int(r.p1) for r in rows)
        s2 = sum(int(r.p2) for r in rows)
        s3 = sum(int(r.p3) for r in rows)
        nd = float(n)
        mean = s1 / nd
        ex2 = s2 / nd
        var = s2 / nd - mean * mean
        skew = (s3 / nd - 3.0 * mean * ex2 + 2.0 * mean ** 3) / (
            math.sqrt(var) * var)
        o = operator[t]
        assert o["n_hours"] == len(rows)
        assert o["n_events"] == n
        assert o["mean_value"] == r6(mean)
        assert o["variance"] == r6(var)
        assert o["skewness"] == r6(skew)


def test_streaming_dedup_digest_state_matches_batch(spark, tmp_path):
    """The streaming half of the incremental-dedup story
    (streaming/dedup.py — the FIFTH batch+stream-twinned axis): the
    exact-dedup digest store as sharded applyInPandasWithState managed
    state. Three claims, each checked directly:

    1. fed the sf0.001 documents one parquet file per micro-batch, the
       per-row keep verdicts equal the batch twin's over the same rows
       (keep-first-by-doc_id, digest-routing identical);
    2. the final persisted state is byte-identical to the canonical
       encoding of each shard's digest set — read back through the
       ``statestore`` data source, the topk-twin discipline;
    3. a TWO-PHASE run (history files first, then a resumed query on
       new files from the SAME checkpoint) reproduces the certified
       dedup_incremental_batch operator's output relation on the batch
       slice exactly: its fresh rows with identical keep flags, and
       every batch row it anti-joined away verdicted keep=False by the
       stream.

    Scope note: the sf0.001 fixture's 500 texts are all DISTINCT, so
    no drop verdict fires here and the restored state never collides
    with a phase-2 digest — these claims pin parity and state bytes on
    the real fixture shape. The duplicate-handling claims (drops
    within a micro-batch, across micro-batch files, and against
    RESTORED state across a checkpoint resume) live in
    test_streaming_dedup_planted_duplicates_all_regimes, which plants
    each regime explicitly.
    """
    import zlib

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.streaming import dedup as dd

    sf = "/root/testdata/sf0.001"
    docs = registry.table(spark, sf, "documents").select("doc_id", "text")

    def run_stream(path, ckpt):
        src = (spark.readStream
               .schema("doc_id long, text string")
               .option("maxFilesPerTrigger", "1").parquet(str(path)))
        verdicts = {}

        def collect(bdf, epoch_id):
            for r in bdf.collect():
                verdicts[r.doc_id] = (r.content_key, r.keep)

        q = (dd.dedup_keep_stream(src)
             .writeStream.outputMode("update").foreachBatch(collect)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return verdicts

    # --- single-run parity vs the batch twin + state byte check
    pdir = tmp_path / "dd_docs"
    docs.repartition(4).write.parquet(str(pdir))
    got = run_stream(pdir, "ckpt_dd")
    want = {r.doc_id: (r.content_key, r.keep)
            for r in dd.dedup_keep_batch(
                spark.read.parquet(str(pdir))).collect()}
    assert got == want
    # exactly one keeper per digest, and it is the smallest doc_id
    by_key: dict = {}
    for did, (ck, keep) in got.items():
        by_key.setdefault(ck, []).append((did, keep))
    for ck, rows in by_key.items():
        keepers = [d for d, k in rows if k]
        assert keepers == [min(d for d, _ in rows)], ck

    st = (spark.read.format("statestore")
          .option("path", str(tmp_path / "ckpt_dd")).load())
    got_state = {int(r.key[0]): bytes(r.value[0][0]) for r in st.collect()}
    want_state: dict = {}
    for did, (ck, _) in got.items():
        shard = zlib.crc32(ck.encode()) % dd.DD_SHARDS
        want_state.setdefault(shard, set()).add(bytes.fromhex(ck))
    assert got_state == {s: dd.digests_encode(v)
                         for s, v in want_state.items()}

    # --- two-phase checkpoint-resume vs dedup_incremental_batch
    cut = docs.agg({"doc_id": "max"}).collect()[0][0]
    import math
    cut = math.floor(cut * 0.8)
    ddir = tmp_path / "dd_two_phase"             # ONE source directory:
    docs.filter(f"doc_id <= {cut}").repartition(2) \
        .write.parquet(str(ddir))                # phase 1: history files
    run_stream(ddir, "ckpt_dd2")
    docs.filter(f"doc_id > {cut}").repartition(2) \
        .write.mode("append").parquet(str(ddir))  # phase 2: new files,
    phase2 = run_stream(ddir, "ckpt_dd2")         # resumed checkpoint
    assert phase2 and all(d > cut for d in phase2)
    op = {r.doc_id: (r.content_key, r.keep)
          for r in registry.REGISTRY["dedup_incremental_batch"].fn(
              spark, sf).collect()}
    registry.release_pins()
    # fresh rows (digest unseen in history): identical keep flags
    for did, (ck, keep) in op.items():
        assert phase2[did] == (ck, keep), did
    # rows the batch operator anti-joined away (historical digest):
    # the stream verdicts them keep=False
    for did, (ck, keep) in phase2.items():
        if did not in op:
            assert not keep, did


def test_streaming_dedup_planted_duplicates_all_regimes(spark, tmp_path):
    """Planted-duplicate regimes for the streaming exact-dedup twin —
    the claims the pristine-fixture test above cannot exercise (all
    500 sf0.001 texts are distinct, so it never drops a row):

    - WITHIN one micro-batch: two planted rows share a fresh text in
      the same file — the smaller doc_id keeps, the larger drops;
    - ACROSS micro-batch files: a planted row repeats an earlier
      file's text — dropped in a later trigger of the same run;
    - ACROSS a checkpoint resume (straddling phase 1/phase 2): a
      phase-2 row repeats a phase-1 text — dropped ONLY because the
      restored state still holds the digest.

    Row-exact parity vs dedup_keep_batch (keep-globally-smallest)
    requires micro-batch order to respect doc_id order (the batch
    twin's documented precondition), so the stream input is written as
    doc_id-RANGE chunk files with strictly increasing mtimes — not
    hash-partitioned — and the final state bytes are checked against
    the canonical digest-set encoding, which is order-robust.
    """
    import os
    import shutil
    import zlib
    from pathlib import Path

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.streaming import dedup as dd

    sf = "/root/testdata/sf0.001"
    base = {r.doc_id: r.text
            for r in registry.table(spark, sf, "documents")
            .select("doc_id", "text").collect()}

    # doc_id-range chunks (every id in chunk i < every id in chunk i+1)
    chunk0 = sorted((d, t) for d, t in base.items() if d <= 249)
    chunk1 = sorted((d, t) for d, t in base.items() if d > 249)
    chunk1 += [(501, "planted within-batch dup text"),
               (502, "planted within-batch dup text"),  # dup of 501
               (503, base[5])]  # dup ACROSS files (of chunk0's doc 5)
    chunk2 = [(600, base[250]),  # straddles phase 1/2 (of chunk1's 250)
              (601, "planted within-batch dup text"),  # third occurrence
              (602, "fresh phase-2 text")]

    def write_chunk(dirpath: Path, idx: int, rows) -> None:
        tmp = dirpath.parent / f"_tmp_{dirpath.name}_{idx}"
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(str(tmp))
        dirpath.mkdir(parents=True, exist_ok=True)
        dst = dirpath / f"chunk-{idx:03d}.parquet"
        shutil.copy(next(tmp.glob("part-*.parquet")), dst)
        t = 1_700_000_000 + idx  # strictly increasing mtimes: the
        os.utime(dst, (t, t))    # file-listing order IS the chunk order
        shutil.rmtree(tmp)

    def run_stream(path, ckpt):
        src = (spark.readStream
               .schema("doc_id long, text string")
               .option("maxFilesPerTrigger", "1").parquet(str(path)))
        verdicts = {}

        def collect(bdf, epoch_id):
            for r in bdf.collect():
                verdicts[r.doc_id] = (r.content_key, r.keep)

        q = (dd.dedup_keep_stream(src)
             .writeStream.outputMode("update").foreachBatch(collect)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return verdicts

    # --- single run over all three chunks: row-exact batch parity
    sdir = tmp_path / "pl_docs"
    for i, rows in enumerate((chunk0, chunk1, chunk2)):
        write_chunk(sdir, i, rows)
    got = run_stream(sdir, "ckpt_pl")
    want = {r.doc_id: (r.content_key, r.keep)
            for r in dd.dedup_keep_batch(
                spark.read.parquet(str(sdir))).collect()}
    assert got == want
    # each planted regime actually fired
    assert got[501][1] and not got[502][1]      # within one micro-batch
    assert not got[503][1]                      # across files, one run
    assert not got[600][1] and not got[601][1]  # later-file dups
    assert got[602][1]
    drops = [d for d, (_, k) in got.items() if not k]
    assert sorted(drops) == [502, 503, 600, 601]

    # order-robust laws: one keeper per digest (the smallest doc_id),
    # final state bytes == canonical encoding of the full digest set
    by_key: dict = {}
    for did, (ck, keep) in got.items():
        by_key.setdefault(ck, []).append((did, keep))
    for ck, rows in by_key.items():
        assert [d for d, k in rows if k] == [min(d for d, _ in rows)], ck
    st = (spark.read.format("statestore")
          .option("path", str(tmp_path / "ckpt_pl")).load())
    got_state = {int(r.key[0]): bytes(r.value[0][0]) for r in st.collect()}
    want_state: dict = {}
    for did, (ck, _) in got.items():
        shard = zlib.crc32(ck.encode()) % dd.DD_SHARDS
        want_state.setdefault(shard, set()).add(bytes.fromhex(ck))
    assert got_state == {s: dd.digests_encode(v)
                         for s, v in want_state.items()}

    # --- two-phase resume: the straddling dups drop ONLY because the
    # restored checkpoint state still holds phase-1 digests
    tdir = tmp_path / "pl_two_phase"
    write_chunk(tdir, 0, chunk0)
    write_chunk(tdir, 1, chunk1)
    phase1 = run_stream(tdir, "ckpt_pl2")
    assert not phase1[502][1] and not phase1[503][1]
    write_chunk(tdir, 2, chunk2)
    phase2 = run_stream(tdir, "ckpt_pl2")
    assert set(phase2) == {600, 601, 602}
    assert phase2[600] == got[600] and not phase2[600][1]
    assert phase2[601] == got[601] and not phase2[601][1]
    assert phase2[602] == got[602] and phase2[602][1]


def _near_dup_write_chunk(spark, dirpath, idx, rows):
    """doc_id-range chunk file with controlled mtime (file-listing
    trigger order == chunk order), the planted-duplicates discipline."""
    import os
    import shutil
    tmp = dirpath.parent / f"_tmp_{dirpath.name}_{idx}"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite").parquet(str(tmp))
    dirpath.mkdir(parents=True, exist_ok=True)
    dst = dirpath / f"chunk-{idx:03d}.parquet"
    shutil.copy(next(tmp.glob("part-*.parquet")), dst)
    t = 1_700_000_000 + idx
    os.utime(dst, (t, t))
    shutil.rmtree(tmp)


def _near_dup_run_stream(spark, tmp_path, path, ckpt):
    from nats_stream_processor_spark.streaming import neardup as nd
    src = (spark.readStream
           .schema("doc_id long, text string")
           .option("maxFilesPerTrigger", "1").parquet(str(path)))
    verdicts = {}

    def collect(bdf, epoch_id):
        for r in nd.near_dup_verdicts(bdf).collect():
            verdicts[r.doc_id] = (r.verdict, r.canon_id)

    q = (nd.near_dup_stream(src)
         .writeStream.outputMode("update").foreachBatch(collect)
         .option("checkpointLocation", str(tmp_path / ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return verdicts


def _near_dup_state_check(spark, tmp_path, ckpt, src_dir):
    """The state-byte law, checked directly: every (band, shard)
    group's persisted bytes equal the canonical encoding of the banded
    rows routed to it — i.e. the restored index IS the corpus band
    index, entry for entry."""
    from nats_stream_processor_spark.streaming import neardup as nd
    st = (spark.read.format("statestore")
          .option("path", str(tmp_path / ckpt)).load())
    got = {(int(r.key[0]), int(r.key[1])): bytes(r.value[0][0])
           for r in st.collect()}
    want: dict = {}
    for r in nd.banded(spark.read.parquet(str(src_dir))).collect():
        want.setdefault((int(r.band), int(r.shard)), {})[
            (r.bucket, int(r.doc_id))] = frozenset(int(s) for s in r.sids)
    assert got == {k: nd.entries_encode(v) for k, v in want.items()}


def test_streaming_near_dup_planted_regimes(spark, tmp_path):
    """The streaming near-dup twin (streaming/neardup.py) on the
    planted incremental fixture (the test_llm_ext14 regimes): corpus
    docs 0..15 arrive as two history micro-batches, batch docs 16..19
    (16 = exact text of corpus doc 3 -> dup_corpus; 17/18 mutual
    near-dups of each other only -> one dup_batch component; 19 novel
    -> keep) arrive as ONE micro-batch after a checkpoint RESUME — so
    every corpus match verdict comes from the RESTORED band index.
    Phase-2 verdicts must equal the certified
    dedup_incremental_near_dup operator's rows exactly (its 80% cut on
    max doc_id 19 is 15 — the same corpus/batch split), and the final
    state bytes must equal the canonical band-index encoding."""
    from nats_stream_processor_spark import registry

    def words(tag, n=30):
        return " ".join(f"{tag}{i:02d}" for i in range(n))

    texts = [words(f"c{i}x") for i in range(16)]
    texts.append(texts[3])                    # 16: dup of corpus doc 3
    t17 = words("b17y")
    texts.append(t17)                         # 17: batch-only dup pair
    texts.append(t17 + " extraz00")           # 18: near-dup of 17
    texts.append(words("novelq"))             # 19: novel
    rows = list(enumerate(texts))

    sdir = tmp_path / "nd_docs"
    _near_dup_write_chunk(spark, sdir, 0, rows[:8])
    _near_dup_write_chunk(spark, sdir, 1, rows[8:16])
    phase1 = _near_dup_run_stream(spark, tmp_path, sdir, "ckpt_nd")
    assert set(phase1) == set(range(16))

    _near_dup_write_chunk(spark, sdir, 2, rows[16:])
    phase2 = _near_dup_run_stream(spark, tmp_path, sdir, "ckpt_nd")
    assert set(phase2) == {16, 17, 18, 19}

    # the operator needs a documents.parquet table dir
    op_dir = tmp_path / "nd_table"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(op_dir / "documents.parquet"))
    want = {r.doc_id: (r.verdict, r.canon_id)
            for r in registry.REGISTRY["dedup_incremental_near_dup"]
            .fn(spark, str(op_dir)).collect()}
    registry.release_pins()
    assert phase2 == want
    assert phase2[16] == ("dup_corpus", 3)    # via the RESTORED index
    assert phase2[17] == ("keep", 17)         # component minimum keeps
    assert phase2[18] == ("dup_batch", 17)
    assert phase2[19] == ("keep", 19)

    _near_dup_state_check(spark, tmp_path, "ckpt_nd", sdir)


def test_streaming_near_dup_real_fixture_two_phase(spark, tmp_path):
    """The same two-phase parity on the REAL sf0.001 documents: phase 1
    streams the corpus slice (doc_id <= the 80% cut), phase 2 resumes
    with the batch slice as one micro-batch; phase-2 verdicts must
    equal the certified batch operator's sf0.001 output relation, and
    the state bytes must equal the full band-index encoding."""
    import math

    from nats_stream_processor_spark import registry

    sf = "/root/testdata/sf0.001"
    docs = registry.table(spark, sf, "documents").select("doc_id", "text")
    rows = [(r.doc_id, r.text)
            for r in docs.orderBy("doc_id").collect()]
    cut = math.floor(max(d for d, _ in rows) * 0.8)
    corpus = [(d, t) for d, t in rows if d <= cut]
    batch = [(d, t) for d, t in rows if d > cut]

    sdir = tmp_path / "ndr_docs"
    half = len(corpus) // 2
    _near_dup_write_chunk(spark, sdir, 0, corpus[:half])
    _near_dup_write_chunk(spark, sdir, 1, corpus[half:])
    _near_dup_run_stream(spark, tmp_path, sdir, "ckpt_ndr")
    _near_dup_write_chunk(spark, sdir, 2, batch)
    phase2 = _near_dup_run_stream(spark, tmp_path, sdir, "ckpt_ndr")

    want = {r.doc_id: (r.verdict, r.canon_id)
            for r in registry.REGISTRY["dedup_incremental_near_dup"]
            .fn(spark, sf).collect()}
    registry.release_pins()
    assert phase2 == want

    _near_dup_state_check(spark, tmp_path, "ckpt_ndr", sdir)


def test_streaming_ivf_list_counts_match_batch_index(spark, tmp_path):
    """The streaming IVF list-load monitor (streaming/ivf.py — the
    streaming face of the round-14 insert act): per-list counts as
    per-shard managed state, vectors assigned JVM-side against the
    broadcast trained centroids. Laws checked:

    1. fed the sf0.001 corpus slice (vec_id <= the 80% cut) as two
       micro-batches, the state counts equal a static-frame assignment
       of the same slice, and their max equals sim_ivf_insert's
       max_list_before;
    2. RESUMED from the checkpoint with the batch slice, the updated
       counts equal sim_ivf_list_balance's n_vecs column (the full
       corpus, empty lists aside) and their max equals
       sim_ivf_insert's max_list_after — the monitor IS the live view
       of the certified drift receipt;
    3. state bytes equal the canonical sorted (cent_id, count)
       encoding per shard, read via the statestore source.
    """
    import math
    import os
    import shutil

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.streaming import ivf as si

    sf = "/root/testdata/sf0.001"
    emb = registry.table(spark, sf, "embeddings") \
        .select("vec_id", "embedding")
    cent = si.centroid_table(spark, emb)
    cent.persist().count()
    cut = math.floor(
        emb.agg({"vec_id": "max"}).collect()[0][0] * 0.8)

    def write_chunk(dirpath, idx, df):
        tmp = dirpath.parent / f"_tmp_{dirpath.name}_{idx}"
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        dirpath.mkdir(parents=True, exist_ok=True)
        dst = dirpath / f"chunk-{idx:03d}.parquet"
        shutil.copy(next(tmp.glob("part-*.parquet")), dst)
        t = 1_700_000_000 + idx
        os.utime(dst, (t, t))
        shutil.rmtree(tmp)

    def run_stream(path, ckpt):
        src = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", "1").parquet(str(path)))
        latest = {}

        def collect(bdf, epoch_id):
            for r in bdf.collect():
                latest[r.cent_id] = r.n_vecs

        q = (si.list_counts_stream(src, cent)
             .writeStream.outputMode("update").foreachBatch(collect)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        return latest

    def state_counts(ckpt):
        st = (spark.read.format("statestore")
              .option("path", str(tmp_path / ckpt)).load())
        shard_blobs = {int(r.key[0]): bytes(r.value[0][0])
                       for r in st.collect()}
        merged = {}
        for shard, blob in shard_blobs.items():
            decoded = si.counts_decode(blob)
            # the byte law: canonical re-encode round-trips
            assert si.counts_encode(decoded) == blob
            for c, n in decoded.items():
                assert c % si.IVS_SHARDS == shard  # routed correctly
                merged[c] = n
        return merged

    sdir = tmp_path / "ivf_vecs"
    corpus = emb.filter(f"vec_id <= {cut}")
    half = corpus.count() // 2
    write_chunk(sdir, 0, corpus.filter(f"vec_id < {half}"))
    write_chunk(sdir, 1, corpus.filter(f"vec_id >= {half}"))
    run_stream(sdir, "ckpt_ivf")

    want_pre = {r.cent_id: r.n
                for r in si.assigned(corpus, cent)
                .groupBy("cent_id").agg(F.count("*").alias("n"))
                .collect()}
    got_pre = state_counts("ckpt_ivf")
    assert got_pre == want_pre

    (ins,) = registry.REGISTRY["sim_ivf_insert"].fn(spark, sf).collect()
    registry.release_pins()
    assert max(got_pre.values()) == ins.max_list_before

    write_chunk(sdir, 2, emb.filter(f"vec_id > {cut}"))
    run_stream(sdir, "ckpt_ivf")           # checkpoint RESUME
    got_post = state_counts("ckpt_ivf")
    assert max(got_post.values()) == ins.max_list_after

    balance = {r.cent_id: r.n_vecs
               for r in registry.REGISTRY["sim_ivf_list_balance"]
               .fn(spark, sf).collect()}
    registry.release_pins()
    assert got_post == {c: n for c, n in balance.items() if n > 0}
    cent.unpersist()
