"""Per-hour value-histogram state for streaming quantiles.

The streaming half of the mergeable-quantile story:
``events_sliding_quantile_hist`` (queries/events.py) is the BATCH
twin — one fixed-width value histogram per base hour, sliding-window
p50/p95 as merges over the hourly bucket counts. A streaming job
keeps the same hourly histograms as MANAGED STATE: each micro-batch
folds its rows' bucket counts into the hour's histogram via
``applyInPandasWithState`` (the env-available arbitrary-state API,
exactly the streaming/hll.py pattern) and emits the updated histogram
plus the hour-level quantile estimates per touched hour. Sliding
windows then merge <= SW_HOURS hourly bucket dicts — histogram rows,
never events — the identical fan-out law the batch operator
certifies.

Determinism discipline: bucketing happens JVM-SIDE with the batch
operator's own expression (floor(value / SQ_W), SQ_W a power of two so
the division is exact binary), so the Python kernel only ever counts
integer bucket ids; the state is the canonical byte encoding of the
sorted (bucket, count) pairs, making byte-for-byte equality between
the BATCH and STREAMING paths the proof obligation —
tests/test_streaming.py asserts final streaming state == batch state
computed by the same kernel over the same rows, and that
sliding-window estimates composed from the streaming state equal the
certified batch operator's estimates EXACTLY (integer k arithmetic,
`div` truncation toward zero on both paths).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

HIST_OUT_SCHEMA = ("h long, n_events long, hist binary, "
                   "est_p50 long, est_p95 long")
HIST_STATE_SCHEMA = "hist binary"


def hist_encode(hist: dict[int, int]) -> bytes:
    """Canonical byte form of an integer histogram: sorted (key, count)
    int64 pairs — the mergeable-summary determinism license (equal dicts
    <=> equal bytes). The one state codec of the streaming summaries:
    value buckets here, per-user counts (topk.py), per-list loads
    (ivf.py)."""
    return b"".join(struct.pack(">qq", k, hist[k]) for k in sorted(hist))


def hist_decode(blob: bytes) -> dict[int, int]:
    return dict(struct.iter_unpack(">qq", blob))


def hist_merge(a: dict[int, int], b: dict[int, int]) -> dict[int, int]:
    """Union = per-bucket count addition (the mergeability law)."""
    out = dict(a)
    for bk, cnt in b.items():
        out[bk] = out.get(bk, 0) + cnt
    return out


def hist_quantiles(hist: dict[int, int], sq_w: int) -> tuple[int, int, int]:
    """(n_events, est_p50, est_p95) with the batch operator's exact
    integer k arithmetic: k50 = (n+1) div 2, k95 = (19n+19) div 20,
    estimate = lowest bucket whose cumulative count reaches k, scaled
    back to value units."""
    n = sum(hist.values())
    if n == 0:
        return 0, 0, 0
    k50 = (n + 1) // 2
    k95 = (19 * n + 19) // 20
    cum = 0
    est50 = est95 = None
    for bk in sorted(hist):
        cum += hist[bk]
        if est50 is None and cum >= k50:
            est50 = bk * sq_w
        if est95 is None and cum >= k95:
            est95 = bk * sq_w
    return n, est50, est95


def _hour_bucket_rows(df: DataFrame, ts_col: str, value_col: str,
                      sq_w: int) -> DataFrame:
    # Same hour bucketing and value bucketing as the batch twin
    # (queries/events.q_sliding_quantile_hist): `div` truncates
    # toward zero on both engines; floor(value / SQ_W) is exact for
    # the power-of-two width. Bucketing stays JVM-side so the Python
    # kernel never touches a float.
    return (df.filter(F.col(value_col).isNotNull())
            .select(F.expr(f"unix_micros({ts_col}) div 3600000000")
                    .cast("long").alias("h"),
                    F.floor(F.col(value_col) / sq_w)
                    .cast("long").alias("bk")))


def _update_hour(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    from ..queries.events import SQ_W
    hist = hist_decode(bytes(state.get[0])) if state.exists else {}
    for pdf in pdfs:
        for bk, cnt in pdf["bk"].value_counts().items():
            hist[int(bk)] = hist.get(int(bk), 0) + int(cnt)
    state.update((hist_encode(hist),))
    n, est50, est95 = hist_quantiles(hist, SQ_W)
    yield pd.DataFrame({
        "h": [key[0]], "n_events": [n],
        "hist": [hist_encode(hist)],
        "est_p50": [est50], "est_p95": [est95],
    })


def hourly_value_hist(df: DataFrame, ts_col: str = "ts",
                      value_col: str = "value") -> DataFrame:
    """STREAMING: per-hour value-histogram state. Each micro-batch
    emits the updated (histogram, running total, hour-level p50/p95
    estimates) for every hour it touched (update mode); the last emit
    per hour is the final histogram. State is partitioned by the hour
    key — horizontal scale is |hours| x |occupied buckets| pairs,
    never event volume — and survives restarts via the checkpoint."""
    from ..queries.events import SQ_W
    return (_hour_bucket_rows(df, ts_col, value_col, SQ_W)
            .groupBy("h")
            .applyInPandasWithState(
                _update_hour,
                outputStructType=HIST_OUT_SCHEMA,
                stateStructType=HIST_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def _batch_hour(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..queries.events import SQ_W
    hist: dict[int, int] = {}
    for bk, cnt in pdf["bk"].value_counts().items():
        hist[int(bk)] = hist.get(int(bk), 0) + int(cnt)
    n, est50, est95 = hist_quantiles(hist, SQ_W)
    return pd.DataFrame({
        "h": [int(pdf["h"].iloc[0])], "n_events": [n],
        "hist": [hist_encode(hist)],
        "est_p50": [est50], "est_p95": [est95],
    })


def hourly_value_hist_batch(df: DataFrame, ts_col: str = "ts",
                            value_col: str = "value") -> DataFrame:
    """BATCH twin: the identical kernel over a static frame — the
    determinism oracle for the streaming path (and the shape a
    backfill job uses to seed the state store)."""
    from ..queries.events import SQ_W
    return (_hour_bucket_rows(df, ts_col, value_col, SQ_W)
            .groupBy("h")
            .applyInPandas(_batch_hour, HIST_OUT_SCHEMA))
