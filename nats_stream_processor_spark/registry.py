"""Query registry: the driver-facing catalog of implemented operators.

Each entry pairs a Spark query (callable (spark, sf_dir) -> DataFrame) with
an equivalent DuckDB oracle SQL string (or None for non-SQL-expressible
ops, which the driver checks rows-only). Keys map 1:1 onto SURVEY.md §2's
operator inventory; every computed column is aliased identically on both
sides so the driver's sorted-column value-hash comparison is meaningful.

Query definitions live in the ``queries`` subpackage, one module per
domain (``DOMAINS``), imported in that order by ``_populate()``.
"""

from __future__ import annotations

import importlib
import itertools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryEntry:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = ()


REGISTRY: dict[str, QueryEntry] = {}

# DataFrames persisted by query builders (minhash/simhash signature tables
# feed multiple plan branches). Harnesses run the whole registry in ONE
# session, so without release the cached partitions would accumulate across
# the full registry; each registry invocation releases the previous query's
# pins, bounding cache residency to one query at a time. (A query can't unpersist
# its own pins — the action happens later, in the caller.)
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist() a shared intermediate, released on the next registry call."""
    df.persist()
    _PINNED.append(df)
    return df


def release_pins() -> None:
    while _PINNED:
        try:
            _PINNED.pop().unpersist()
        except Exception:  # session already stopped — nothing to release
            pass


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_pins()
            return fn(spark, sf_dir)
        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = QueryEntry(fn=wrapped, oracle=oracle, tags=tags)
        return fn
    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver parquet table, normalizing engine-specific quirks.

    Some testdata generations store ``events.ts`` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects by default; for those we read
    nanos as long (session conf, safe to set at runtime) and truncate to
    microsecond timestamps — exactly what DuckDB does when it coerces
    TIMESTAMP_NS to its native microsecond TIMESTAMP, so oracle
    comparisons line up. `ts div 1000` is exact integer division (a double
    roundtrip would lose precision at 2024-epoch nanos). Other generations
    store ``ts`` as a native microsecond timestamp already — detected from
    the loaded schema, passed through untouched (cast to session-local
    TIMESTAMP so event-time windows behave identically either way).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The 14 queries the benchmark times (bench.py, perfbench/batch_headline).
HEADLINE = (
    "enrich_flagship", "agg_pricing_summary", "join_revenue_by_region",
    "window_topk_orders_per_segment", "events_tumbling_hourly",
    "dedup_minhash_lsh", "dedup_minhash_lsh_fast", "sim_cosine_topk",
    "sim_ann_ivf", "events_funnel", "dedup_components", "text_token_stats",
    "quality_filter_pipeline", "media_frame_sample",
)

# Query modules in import order. A module may import only from modules
# before it.
DOMAINS = (
    "enrich", "relational", "advanced", "events", "metrics", "text",
    "graph", "ivf", "similarity", "dedup", "curation", "media", "sketches",
)

# The driver checks the first SAMPLE_SIZE registry entries.
SAMPLE_SIZE = 50


def domain(entry: QueryEntry) -> str:
    """The queries module that registered the entry."""
    return entry.fn.__wrapped__.__module__.rsplit(".", 1)[-1]


def sample_prefix(entries: dict[str, QueryEntry]) -> list[str]:
    """The names that lead the registry: HEADLINE, then the domains take
    turns in DOMAINS order, each giving its next query in definition
    order, until SAMPLE_SIZE names are chosen."""
    queues: dict[str, list[str]] = {d: [] for d in DOMAINS}
    for name, entry in entries.items():
        if name not in HEADLINE:
            queues[domain(entry)].append(name)
    turns = itertools.chain.from_iterable(itertools.zip_longest(*queues.values()))
    rest = [n for n in turns if n is not None]
    return list(HEADLINE) + rest[:SAMPLE_SIZE - len(HEADLINE)]


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: e.oracle for name, e in REGISTRY.items() if e.oracle is not None}


# Population runs from the PACKAGE __init__, never from this module's
# bottom: a Python worker unpickling a module-level UDF helper imports
# that query module first, and Python runs the package __init__ (hence
# the whole import chain, in order) before the requested module, so no
# query module can observe a partially-initialized sibling. Guarded by
# tests/test_oracle_parity.py::test_every_query_module_survives_worker_entry_import.
_POPULATED = False


def _populate() -> None:
    """Import every query module (registration side effects), then move
    sample_prefix() to the front. Idempotent; called from the package
    __init__."""
    global _POPULATED
    if _POPULATED:
        return
    # Set the guard up front (re-entrant imports of the chain must
    # no-op), but reset it if an import raises, so a failed population
    # fails loudly on the next call instead of leaving a partial registry.
    _POPULATED = True
    try:
        for d in DOMAINS:
            importlib.import_module(f"{__package__}.queries.{d}")
    except BaseException:
        _POPULATED = False
        raise
    prefix = sample_prefix(REGISTRY)
    reordered = {n: REGISTRY[n] for n in prefix}
    reordered.update(REGISTRY)
    REGISTRY.clear()
    REGISTRY.update(reordered)
