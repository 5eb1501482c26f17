"""Workload ``batch_headline``: the 14 headline queries in a closed loop.

One client builds each query through ``registry.REGISTRY[name].fn`` and
executes it with the noop sink, then moves to the next. An unmeasured warm
pass collects every result for the correctness check. Then at least
``MIN_PASSES`` measured passes run, and more while they fit in
``--seconds``; each query's time is its minimum over the passes (the
noise floor; a single pass on this host swings by 10-20%), and the
headline total is the sum of those minimums. After measuring, every result is
compared with the query's DuckDB oracle (``registry.oracle_sql()``) over
the same generated tables.
"""

from __future__ import annotations

import hashlib
import math
import time

from . import datagen, probes
from .harness import Context
from .stats import median, percentile

# One query per major subsystem; the same set bench.py reports.
HEADLINE = (
    "enrich_flagship", "agg_pricing_summary", "join_revenue_by_region",
    "window_topk_orders_per_segment", "events_tumbling_hourly",
    "dedup_minhash_lsh", "dedup_minhash_lsh_fast", "sim_cosine_topk",
    "sim_ann_ivf", "events_funnel", "dedup_components", "text_token_stats",
    "quality_filter_pipeline", "media_frame_sample",
)
PYTHON_QUERIES = ("enrich_flagship", "media_frame_sample")
SCALE = 0.01
MIN_PASSES = 3
SMOKE_SCALE = 0.001


def canon(v) -> str:
    """Engine-neutral rendering of one value for result hashing."""
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ",
                                                timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest over column-name-sorted rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def run(ctx: Context) -> None:
    from nats_stream_processor_spark import registry

    res = ctx.result
    tables = ctx.path("tables")
    with ctx.tracer.span("datagen.tables"):
        rows = datagen.write_tables(tables, ctx.seed,
                                    SMOKE_SCALE if ctx.smoke else SCALE)
    res.info["lineitem_rows"] = (rows["lineitem"], "rows", 1)
    spark = ctx.start_spark()
    tracker = spark.sparkContext.statusTracker()

    # Warm pass: first execution of each plan pays JIT and codegen; it
    # collects the results the oracle check compares.
    digests: dict[str, tuple[int, str]] = {}
    with ctx.tracer.span("warm"):
        for name in HEADLINE:
            res.attempted += 1
            ctx.job_group(f"warm:{name}")
            try:
                df = registry.REGISTRY[name].fn(spark, tables)
                out = [tuple(r) for r in df.collect()]
                digests[name] = (len(out), table_digest(df.columns, out))
            except Exception as ex:  # one query failing must not end the run
                res.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    ctx.setup_done()

    passes: list[float] = []
    per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in HEADLINE}
    jobs: dict[str, list[int]] = {q: [] for q in HEADLINE}
    t_measure = time.time()
    while len(passes) < MIN_PASSES or (
            time.time() - t_measure + median(passes) <= ctx.seconds):
        p = len(passes)
        with ctx.tracer.span("pass", index=p) as sp:
            for name in HEADLINE:
                res.attempted += 1
                group = f"{name}@{p}"
                ctx.job_group(group)
                try:
                    with ctx.tracer.span("query", query=name):
                        with ctx.tracer.span("registry.build") as b:
                            df = registry.REGISTRY[name].fn(spark, tables)
                        with ctx.tracer.span("exec.write") as x:
                            df.write.mode("overwrite").format("noop").save()
                    per_query[name].append((b.seconds, x.seconds))
                    if ctx.trace:
                        jobs[name].append(
                            len(tracker.getJobIdsForGroup(group)))
                except Exception as ex:
                    res.fail(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
        passes.append(sp.seconds)

    _check_oracles(ctx, registry, tables, digests)

    floor_ms = [1e3 * min(b + x for b, x in per_query[q])
                for q in HEADLINE if per_query[q]]
    total_s = sum(floor_ms) / 1e3
    res.put("throughput_per_s", len(floor_ms) / total_s, "1/s", len(passes),
            layer=False)
    res.put("latency_p50_ms", median(floor_ms), "ms", len(floor_ms),
            layer=False)
    res.put("latency_p90_ms", percentile(floor_ms, 90), "ms", len(floor_ms),
            layer=False)
    res.info["headline_total_s"] = (total_s, "s", len(passes))
    res.info["pass_s"] = (median(passes), "s", len(passes))
    res.samples["latency_ms"] = floor_ms
    for name in HEADLINE:
        t = per_query[name]
        res.put(f"build_s.{name}", median([b for b, _ in t]) if t else 0.0,
                "s", len(t))
        res.put(f"exec_s.{name}", median([x for _, x in t]) if t else 0.0,
                "s", len(t))
        res.put(f"jobs.{name}", median(jobs[name]) if jobs[name] else 0,
                "count", len(jobs[name]))

    ctx.stop_spark()
    if ctx.trace:
        _event_log_layers(ctx, len(passes))


def _check_oracles(ctx: Context, registry, tables: str,
                   digests: dict[str, tuple[int, str]]) -> None:
    """Compare each warm-pass result with its DuckDB oracle; a query
    without an oracle must return at least one row."""
    import duckdb

    res = ctx.result
    with ctx.tracer.span("check.oracle"):
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{tables}/{t}.parquet'")
        for name in HEADLINE:
            if name not in digests:
                continue
            n_rows, digest = digests[name]
            oracle = registry.REGISTRY[name].oracle
            if oracle is None:
                if n_rows == 0:
                    res.fail(f"{name}: no rows")
                continue
            cur = con.execute(oracle)
            cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            if (len(want), table_digest(cols, want)) != (n_rows, digest):
                res.fail(f"{name}: result differs from its DuckDB oracle "
                         f"({n_rows} rows vs {len(want)})")
        con.close()


def _event_log_layers(ctx: Context, n_passes: int) -> None:
    """Per-pass Spark execution totals of the measured passes, and the
    Python-worker wait of the queries that evaluate Arrow UDFs."""
    res = ctx.result
    log = probes.read_event_log(ctx.event_log_dir)
    measured = [s for s in log["stages"].values()
                if s["group"] and not s["group"].startswith("warm:")]
    tot = probes.stage_totals(measured)
    for key, unit in (("stages", "count"), ("tasks", "count"),
                      ("task_run_s", "s"), ("task_cpu_s", "s"),
                      ("gc_s", "s"), ("shuffle_mb", "MB")):
        res.put(f"exec.{key}", tot[key] / n_passes, unit, n_passes)
    for name in PYTHON_QUERIES:
        mine = [s for s in measured if s["group"].split("@")[0] == name]
        res.put(f"python_wait_s.{name}",
                probes.stage_totals(mine)["python_wait_s"] / n_passes, "s",
                n_passes)
