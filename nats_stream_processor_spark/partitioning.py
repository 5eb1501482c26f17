"""Physical partitioning of query inputs: ``spread()`` fans an
under-partitioned file scan out to the session's cores, deciding from a
memoized file-size estimate of the scan's split count rather than from
physical planning.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession


# Scan estimates are memoized per file set: file sizes are stable for a
# session (testdata is immutable), so an estimate never needs recomputing
# — and the first computation is pure os.stat, no Spark planning at all.
# The memos are LRU-bounded, so a long-lived session scanning many
# distinct file sets holds at most this many entries in each.
SCAN_CACHE_ENTRIES = 128


@functools.lru_cache(maxsize=SCAN_CACHE_ENTRIES)
def _file_sizes(files: tuple[str, ...]) -> tuple[int, ...]:
    """On-disk sizes of a scan's files. Raises ValueError for a non-local
    URI and OSError for a missing file; lru_cache never caches a raise."""
    from urllib.parse import urlparse

    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            raise ValueError(f"not a local file: {f}")
        sizes.append(os.path.getsize(u.path))
    return tuple(sizes)


def _scan_file_sizes(df: DataFrame) -> tuple[int, ...] | None:
    """Memoized sizes of the files behind a file scan; None for non-file
    or non-local sources. ``inputFiles()`` is analysis-only (~2 ms warm)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        return _file_sizes(tuple(sorted(files)))
    except (ValueError, OSError):
        return None


_BYTE_SUFFIX = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40}


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-string conf ('134217728b', '128m', '1g', bare
    number = bytes) — NOT digits-only stripping, which would read '128m'
    as 128 bytes and invert the spread() gate."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
    except Exception:
        return default
    num = raw.rstrip("abcdefghijklmnopqrstuvwxyz")
    suffix = raw[len(num):]
    try:
        return int(float(num)) * _BYTE_SUFFIX.get(suffix, 1)
    except ValueError:
        return default


_WIDE_PLAN_MARKERS = ("Repartition", "Join", "Aggregate", "Sort",
                      "Window", "Deduplicate", "CoalescedPartition",
                      "Coalesce")


def _is_scan_narrow_plan(df: DataFrame) -> bool:
    """True when df is a file scan plus narrow transforms only — the shape
    every spread() call site passes — so the scan's split count IS the
    DataFrame's partition count and the file-size estimate applies. Any
    partitioning-changing operator (repartition/coalesce/join/agg/...)
    falls back to asking the planner. Reads the LOGICAL plan string (a
    cheap py4j toString; no analysis, no physical planning)."""
    try:
        s = df._jdf.queryExecution().logical().toString()
    except Exception:
        return False
    return not any(m in s for m in _WIDE_PLAN_MARKERS)


def _estimated_scan_partitions(spark: SparkSession, df: DataFrame) -> int | None:
    """How many partitions the file scan will yield, estimated from file
    sizes with Spark's own FilePartition packing formula (maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, padded_total /
    defaultParallelism)); partitions ~ ceil(padded_total / maxSplitBytes)).
    Returns None for non-file or non-local sources. Cheap by construction:
    the sizes come from memoized os.stat — unlike ``df.rdd``, which forces
    a full physical planning round-trip (measured 0.16-1.3 s per call on
    the wide dedup plans; with ~30 spread sites that was a ~20% tax on the
    whole bench)."""
    sizes = _scan_file_sizes(df)
    if sizes is None:
        return None
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes",
                         128 * 1024 * 1024)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes",
                            4 * 1024 * 1024)
    # The estimate depends on the split confs and parallelism, so they are
    # part of the memo key — a recreated session with different settings
    # must not inherit another session's count.
    return _packed_partitions(sizes, max_pb, open_cost,
                              spark.sparkContext.defaultParallelism)


@functools.lru_cache(maxsize=SCAN_CACHE_ENTRIES)
def _packed_partitions(sizes: tuple[int, ...], max_pb: int, open_cost: int,
                       par: int) -> int:
    bytes_per_core = (sum(sizes) + len(sizes) * open_cost) // max(par, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    # Replay FilePartition.getFilePartitions: chunk each file into
    # max_split splits, sort descending, greedy-pack with open_cost
    # charged per chunk.
    chunks: list[int] = []
    for s in sizes:
        n_full, rem = divmod(s, max_split)
        chunks.extend([max_split] * int(n_full))
        if rem or not s:
            chunks.append(int(rem))
    chunks.sort(reverse=True)
    est, cur = 1, 0
    for c in chunks:
        if cur and cur + c > max_split:
            est += 1
            cur = 0
        cur += c + open_cost
    return est


# Input-bytes floor for Python-boundary stages (opt-in per call site,
# see spread()): fanning a tiny scan out to every core makes each Arrow
# batch so small that Python-worker dispatch dominates — a scaling
# probe measured enrich_flagship/media_frame_sample FASTER at 8 cores
# than 32 (0.67x / 0.63x) on ~150-row partitions. Partitions never drop
# below this many INPUT bytes, so the fan-out caps at data_size/floor
# locally; at real scale scan splits are >= maxPartitionBytes and the
# spread gate is a no-op anyway, so the floor never binds.
PY_MIN_SPLIT_BYTES = int(os.environ.get(
    "SPARK_GRAFT_PY_MIN_SPLIT_BYTES", str(64 * 1024)))


def _estimated_scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind a file scan (memoized os.stat, same
    cheap discipline as _estimated_scan_partitions); None for non-file
    or non-local sources."""
    sizes = _scan_file_sizes(df)
    return None if sizes is None else sum(sizes)


def spread(df: DataFrame, n: int | None = None,
           min_bytes_per_partition: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism —
    ONLY when the input is under-partitioned.

    The driver's small test tables are single-row-group parquet files, so a
    scan yields ONE input partition and every CPU-heavy per-row stage
    (shingling, signatures, classifier UDFs) runs on one core; here the
    shuffle is what lets local[32] actually use 32 cores. At real scale the
    scan already produces hundreds of splits, and `repartition(n)` would
    shuffle every row — including full document text — for nothing. So the
    repartition is gated: if the plan already yields >= the target number of
    partitions (or the session conf ``spark.nats_spark.spread.enabled`` is
    ``false``), the input is returned untouched, plan identity preserved.
    The partition count comes from a memoized file-size estimate
    (_estimated_scan_partitions); only non-file inputs fall back to asking
    the planner via ``df.rdd``. Apply before CPU-bound per-row work or
    before a PARTIAL aggregate (the round-robin exchange feeds the
    map-side partial agg, which keeps its own hash exchange for the final
    agg — q_pricing_summary's shape); never immediately before joins or
    final aggs that manage their own partitioning.

    ``min_bytes_per_partition`` (opt-in, for Python-boundary stages —
    see PY_MIN_SPLIT_BYTES): cap the fan-out so no partition carries
    fewer input bytes than the floor. Pass it where the downstream work
    is an Arrow/pandas stage whose per-partition dispatch overhead beats
    the parallelism gain on tiny batches; leave unset for JVM-side
    CPU-bound work (shingling, hashing), where full fan-out wins even on
    small inputs.
    """
    import math

    spark = df.sparkSession
    try:
        enabled = spark.conf.get("spark.nats_spark.spread.enabled", "true")
    except Exception:
        enabled = "true"
    if str(enabled).lower() == "false":
        return df
    target = n or spark.sparkContext.defaultParallelism
    if min_bytes_per_partition:
        nbytes = (_estimated_scan_bytes(df)
                  if _is_scan_narrow_plan(df) else None)
        if nbytes is not None:
            target = max(1, min(target,
                                math.ceil(nbytes / min_bytes_per_partition)))
    current = (_estimated_scan_partitions(spark, df)
               if _is_scan_narrow_plan(df) else None)
    if current is None:
        # Non-file source or partitioning-changing plan: ask the planner
        # (physical planning, no job).
        current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target)
