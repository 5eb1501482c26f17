"""Workload ``stream_service``: the enrichment service on a file-source
stream, in two phases of one query.

``decode_posts`` -> ``enrich_stream`` -> a benchmark-owned
``foreachBatch`` sink that Arrow-collects the delivered columns and stamps
the delivery time.

- Catch-up: a seeded backlog is admitted at the service's per-trigger cap
  (``MAX_OFFSETS_PER_TRIGGER`` posts, as a byte cap on the file source).
  Capacity = backlog posts / time from query start to the delivery of the
  last backlog post.
- Steady: an open loop at the reference fleet's peak rate. A generator
  thread writes a file every tick with the posts that fell due, on a
  schedule that does not wait for Spark; each post's due time rides in its
  ``created_at``. Latency = delivery time - due time, per post.

The delivered ``(uri, cid)`` set must equal the expected set exactly once
each, with sentiment and topic equal to the batch ``enrich_posts`` result
for the same text.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

from . import datagen, nats_roundtrip, probes
from .harness import Context
from .stats import median, percentile

CORPUS_DOCS = 5_000
BACKLOG_POSTS = 100_000
FILE_POSTS = 10_000
STEADY_RATE = 270.0          # posts/s, the reference's 9-pod peak
TICK_S = 0.1
LOCAL1_POSTS = 20_000
SMOKE = {"BACKLOG_POSTS": 2_000, "FILE_POSTS": 1_000, "LOCAL1_POSTS": 1_000}
SCRAPE_EVERY_S = 1.0
OUT_COLS = ("uri", "cid", "created_at", "route_subject", "sentiment",
            "top_topic")
PHASE_DURATIONS = (("latest_offset", "latestOffset"),
                   ("query_planning", "queryPlanning"),
                   ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                   ("commit_offsets", "commitOffsets"))


def write_file(directory: str, name: str, posts) -> None:
    """Atomically publish one stream file (hidden while being written)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(p.line for p in posts) + "\n")
    os.rename(tmp, os.path.join(directory, name))


class Deliveries:
    """The sink's record: one entry per non-empty micro-batch."""

    def __init__(self):
        self.batches: list[tuple[int, float, float, dict]] = []
        self._lock = threading.Lock()

    def sink(self, bdf, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t0 = time.time()
        tbl = bdf.select(
            "uri", "cid", "created_at", "route_subject",
            F.col("sentiment.sentiment").alias("sentiment"),
            F.col("topics.top_topic").alias("top_topic")).toArrow()
        t1 = time.time()
        if tbl.num_rows:
            with self._lock:
                self.batches.append((batch_id, t0, t1, tbl.to_pydict()))

    def delivered(self):
        """(uri, cid, row dict, delivery time) per delivered row."""
        with self._lock:
            batches = list(self.batches)
        for _, _, t, cols in batches:
            for i in range(len(cols["uri"])):
                row = {c: cols[c][i] for c in OUT_COLS}
                yield (row["uri"], row["cid"]), row, t


def query_writer(spark, src: str, ckpt: str, sink, max_bytes: int | None):
    """The service pipeline over a file-source stream, ready to start."""
    from nats_stream_processor_spark.streaming.pipeline import (
        decode_posts, enrich_stream)

    reader = spark.readStream.format("text")
    if max_bytes:
        reader = reader.option("maxBytesPerTrigger", str(max_bytes))
    enriched = enrich_stream(decode_posts(reader.load(src)))
    return enriched.writeStream.foreachBatch(sink).option(
        "checkpointLocation", ckpt)


def run(ctx: Context) -> None:
    from nats_stream_processor_spark.config import (
        MAX_OFFSETS_PER_TRIGGER, OUTPUT_SUBJECT_PREFIX)
    from nats_stream_processor_spark.operators.enrich import enrich_posts
    from nats_stream_processor_spark.streaming.health import prometheus_text
    from nats_stream_processor_spark.streaming.metrics import MetricsListener

    size = {k: SMOKE[k] if ctx.smoke else globals()[k] for k in SMOKE}
    res = ctx.result
    texts = datagen.corpus(ctx.seed, CORPUS_DOCS)
    spark = ctx.start_spark()

    # Expected values: the batch transform over every corpus text. It is
    # also the warm-up: the classifier UDFs and Python workers start here
    # (a cold start in the catch-up swung its rate by 10-20%); the
    # streaming plan itself still starts cold, as in a restarted service.
    with ctx.tracer.span("expected.batch_enrich"):
        df = spark.createDataFrame([(t,) for t in sorted(set(texts))],
                                   "text string")
        expect = {r.text: (r.s, r.t) for r in enrich_posts(df).selectExpr(
            "text", "sentiment.sentiment AS s", "topics.top_topic AS t"
        ).collect()}

    # Backlog, due now.
    src = ctx.path("src")
    os.makedirs(src)
    mix = datagen.PostMix(ctx.seed, texts, tag="s")
    max_file = 0
    with ctx.tracer.span("datagen.backlog"):
        t_due = time.time()
        for i in range(size["BACKLOG_POSTS"] // size["FILE_POSTS"]):
            write_file(src, f"backlog-{i:05d}.jsonl",
                       mix.take(size["FILE_POSTS"], t_due))
            max_file = max(max_file, os.path.getsize(
                os.path.join(src, f"backlog-{i:05d}.jsonl")))
    n_backlog = size["BACKLOG_POSTS"] // size["FILE_POSTS"] * size["FILE_POSTS"]
    # whole files of FILE_POSTS posts, MAX_OFFSETS_PER_TRIGGER per trigger
    cap = max_file * max(1, MAX_OFFSETS_PER_TRIGGER // size["FILE_POSTS"])

    progress = probes.make_progress_listener()
    metrics = MetricsListener()
    spark.streams.addListener(progress)
    spark.streams.addListener(metrics)
    out = Deliveries()
    ctx.setup_done()

    scrapes: list[float] = []
    stop_scrape = threading.Event()

    def scraper():
        while not stop_scrape.wait(SCRAPE_EVERY_S):
            t = time.perf_counter()
            prometheus_text(metrics)
            scrapes.append(1e3 * (time.perf_counter() - t))

    scrape_thread = threading.Thread(target=scraper, daemon=True)
    t_q = time.time()
    q = query_writer(spark, src, ctx.path("ckpt"), out.sink, cap).start()
    scrape_thread.start()
    try:
        q.processAllAvailable()
        t_caught = max((b[2] for b in out.batches), default=time.time())
        catchup_s = t_caught - t_q

        t_steady = time.time()
        gen = _SteadyGenerator(src, mix, ctx, t_steady)
        lag_max = 0
        gen.start()
        while gen.is_alive():
            admitted = sum(e["numInputRows"] for e in
                           progress.for_run(str(q.runId))
                           if e["start"] >= t_steady)
            lag_max = max(lag_max, gen.generated - admitted)
            time.sleep(0.25)
        gen.join()
        q.processAllAvailable()
        t_end = time.time()
    finally:
        q.stop()
        stop_scrape.set()
        scrape_thread.join(timeout=10)

    # The connector path, in the traced run only: its cost per pass is
    # mostly fixed (Python writer workers), too long for every run.
    if ctx.trace:
        nats_roundtrip.run_phase(ctx, spark, texts, expect, progress)

    # ------------------------------------------------------------ checks
    res.attempted += n_backlog + gen.generated
    expected = mix.expected_keys(set(expect))
    seen: Counter = Counter()
    lat_ms = []
    due = {p.key: p.due for p in mix.fresh}
    bad_values = 0
    for key, row, t in out.delivered():
        seen[key] += 1
        text = expected.get(key)
        if text is None:
            continue
        s, tp = expect[text]
        if (row["sentiment"], row["top_topic"]) != (s, tp) or \
                row["route_subject"] != f"{OUTPUT_SUBJECT_PREFIX}.{s}.{tp}":
            bad_values += 1
        if due[key] >= t_steady:
            lat_ms.append(1e3 * (t - due[key]))
    dups = sum(c - 1 for c in seen.values() if c > 1)
    unexpected = sum(1 for k in seen if k not in expected)
    missing = sum(1 for k in expected if k not in seen)
    for what, n in (("delivered more than once", dups),
                    ("delivered but not expected", unexpected),
                    ("expected but not delivered", missing),
                    ("wrong sentiment/topic/subject", bad_values)):
        if n:
            res.fail(f"{n} posts {what}", n)

    # ---------------------------------------------------------- end-to-end
    res.put("throughput_per_s", n_backlog / catchup_s, "1/s", n_backlog,
            layer=False)
    if not lat_ms:
        lat_ms = [float("inf")]
        res.fail("no steady-phase post delivered")
    res.put("latency_p50_ms", median(lat_ms), "ms", len(lat_ms),
            layer=False)
    res.put("latency_p90_ms", percentile(lat_ms, 90), "ms", len(lat_ms),
            layer=False)
    events = progress.for_run(str(q.runId))
    steady_batches = [e for e in events
                      if e["start"] >= t_steady and e["numInputRows"] > 0]
    res.info["catchup_posts_s"] = (n_backlog / catchup_s, "posts/s",
                                   n_backlog)
    res.info["steady_batches"] = (len(steady_batches), "count",
                                  len(steady_batches))
    res.info["dedup_redeliveries"] = (mix.counts.get("redelivery", 0),
                                      "count", 1)
    res.samples["latency_ms"] = lat_ms

    # ----------------------------------------------------------- per-layer
    if ctx.trace:
        trigger_spans = _phase_layers(ctx, events, t_q, t_caught, t_steady,
                                      t_end, catchup_s)
        res.put("steady.lag_posts_max", lag_max, "count")
        res.put("gen.late_ms_p99", percentile(gen.late_ms, 99) if gen.late_ms
                else 0.0, "ms", len(gen.late_ms))
        res.put("health.scrape_ms_first", scrapes[0] if scrapes else 0.0,
                "ms", len(scrapes))
        res.put("health.scrape_ms_last", scrapes[-1] if scrapes else 0.0,
                "ms", len(scrapes))
        res.put("listener.records", len(metrics.records), "count")
        for bid, t0, t1, _ in out.batches:
            ctx.tracer.add("sink.batch", t0, t1, trigger_spans.get(bid),
                           batch=bid)
    ctx.stop_spark(keep_jvm=ctx.trace)
    if ctx.trace:
        log = probes.read_event_log(ctx.event_log_dir)
        catchup = [s for s in log["stages"].values()
                   if t_q <= s["submitted"] <= t_caught]
        res.put("catchup.python_wait_s",
                probes.stage_totals(catchup)["python_wait_s"], "s")
        _local1_baseline(ctx, texts, size["LOCAL1_POSTS"])


class _SteadyGenerator(threading.Thread):
    """Open-loop post generator: ``STEADY_RATE`` posts/s, one file per
    tick, each post stamped with its own due time."""

    def __init__(self, src: str, mix, ctx: Context, t0: float):
        super().__init__(daemon=True, name="steady-generator")
        self.src, self.mix, self.ctx, self.t0 = src, mix, ctx, t0
        self.generated = 0
        self.late_ms: list[float] = []

    def run(self) -> None:
        ticks = int(round(self.ctx.seconds / TICK_S))
        for j in range(1, ticks + 1):
            t_tick = self.t0 + j * TICK_S
            delay = t_tick - time.time()
            if delay > 0:
                time.sleep(delay)
            lo = int((j - 1) * TICK_S * STEADY_RATE)
            hi = int(j * TICK_S * STEADY_RATE)
            dues = [self.t0 + k / STEADY_RATE for k in range(lo, hi)]
            with self.ctx.tracer.span("generator.tick", tick=j):
                posts = self.mix.take(len(dues), dues)
                write_file(self.src, f"steady-{j:06d}.jsonl", posts)
            self.late_ms.append(1e3 * (time.time() - t_tick))
            self.generated += len(posts)


def _phase_layers(ctx: Context, events: list[dict], t_q: float,
                  t_caught: float, t_steady: float, t_end: float,
                  catchup_s: float) -> dict[int, int]:
    """Trigger-phase, state-store and coverage metrics per phase, and one
    trace span per trigger; returns batch id -> trigger span id."""
    res = ctx.result
    spans = {}
    phases = {"catchup": (t_q, t_caught), "steady": (t_steady, t_end)}
    for ph, (lo, hi) in phases.items():
        pid = ctx.tracer.add("pass", lo, hi, phase=ph)
        evs = [e for e in events if lo <= e["start"] < hi]
        data = [e for e in evs if e["numInputRows"] > 0]
        for e in evs:
            spans[e["batchId"]] = ctx.tracer.add(
                "trigger", e["start"], e["end"], pid, batch=e["batchId"],
                rows=e["numInputRows"])

        def p50(values):
            return median(values) if values else 0.0

        res.put(f"{ph}.trigger_ms_p50",
                p50([e["durationMs"].get("triggerExecution", 0)
                     for e in data]), "ms", len(data))
        for name, key in PHASE_DURATIONS:
            res.put(f"{ph}.{name}_ms_p50",
                    p50([e["durationMs"].get(key, 0) for e in data]), "ms",
                    len(data))
        res.put(f"{ph}.batches", len(data), "count")
        res.put(f"{ph}.no_data_batches", len(evs) - len(data), "count")
        res.put(f"{ph}.rows_per_batch_p50",
                p50([e["numInputRows"] for e in data]), "count", len(data))
        ops = [[op for op in e.get("stateOperators", [])] for e in data]
        res.put(f"{ph}.state_commit_ms_p50",
                p50([sum(op.get("commitTimeMs", 0) for op in o)
                     for o in ops]), "ms", len(ops))
        last = ops[-1] if ops else []
        res.put(f"{ph}.state_rows_total",
                sum(op.get("numRowsTotal", 0) for op in last), "count")
        res.put(f"{ph}.state_memory_mb",
                sum(op.get("memoryUsedBytes", 0) for op in last) / 2**20,
                "MB")
        res.put(f"{ph}.dedup_dropped",
                sum(op.get("customMetrics", {}).get(
                    "numDroppedDuplicateRows", 0) for o in ops for op in o),
                "count")
        if ph == "catchup":
            covered = sum(e["durationMs"].get("triggerExecution", 0)
                          for e in evs) / 1e3
            res.put("catchup.trigger_cover_pct",
                    100.0 * covered / catchup_s, "%")
    return spans


def _local1_baseline(ctx: Context, texts: list[str], n: int) -> None:
    """Catch-up rate on one core (``local[1]``), the figure comparable to
    the reference's per-pod posts/s."""
    spark = ctx.start_spark(master="local[1]")
    src = ctx.path("local1_src")
    os.makedirs(src)
    mix = datagen.PostMix(ctx.seed, texts, tag="l")
    write_file(src, "warm.jsonl", mix.take(min(n, 1_000), 0.0))
    query_writer(spark, src, ctx.path("local1_warm_ckpt"), Deliveries().sink,
                None).trigger(availableNow=True).start().awaitTermination()
    src2 = ctx.path("local1_src2")
    os.makedirs(src2)
    write_file(src2, "backlog.jsonl", mix.take(n, 0.0))
    t = time.time()
    query_writer(spark, src2, ctx.path("local1_ckpt"), Deliveries().sink,
                None).trigger(availableNow=True).start().awaitTermination()
    ctx.result.put("catchup_posts_s.local1", n / (time.time() - t),
                   "posts/s", n)
    ctx.stop_spark()
