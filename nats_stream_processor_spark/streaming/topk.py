"""Per-hour frequent-items summary state for streaming top-k.

The streaming half of the mergeable TOP-K story, completing the
batch+stream matrix for every mergeable sliding-window axis
(cardinality: streaming/hll.py; quantiles: streaming/quantile.py;
moments: the stateful power-sum aggregation; top-k: THIS):
``events_sliding_topk`` (queries/events.py) is the BATCH twin —
per-hour top-C (user, count) summaries plus the hour's truncation
bound, sliding windows merging summary rows under the frequent-items
containment prune. A streaming job maintains the same per-hour
summaries as MANAGED STATE: the state is the hour's FULL (user, count)
dict (a user outside today's top-C can rise in a later micro-batch, so
the summary itself is not sufficient state — per-hour scoping keeps the
state bounded by one hour's cardinality, never event volume), and each
micro-batch emits the hour's CURRENT top-C summary rows plus the
truncation-bound row (NULL user carrying e_h), exactly the relation the
batch operator's window layer consumes.

Determinism discipline: counting happens on integer user ids grouped
JVM-side per hour; the state is the canonical byte encoding of the
sorted (user, count) pairs (the streaming/quantile.py law: equal dicts
<=> equal bytes); the emitted summary applies the batch operator's own
ordering (count desc, user asc) and width. tests/test_streaming.py
asserts final streaming state byte-identical to the batch kernel over
the same rows — DIRECTLY, by reading the persisted state back through
Spark's ``statestore`` data source and comparing each hour's blob to
``hist_encode`` of the hour's recomputed full counts (checked on the
truncated planted corpus too, where the emitted summary alone could
not prove it) — AND that the emitted summaries match the batch
operator's kept/error relation exactly — so any window-layer consumer
(prune, verify, fallback) sees identical inputs from either path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .quantile import hist_decode, hist_encode

TK_OUT_SCHEMA = "h long, user_id long, cnt long"
TK_STATE_SCHEMA = "counts binary"


def summary_rows(h: int, counts: dict[int, int],
                 c_width: int) -> pd.DataFrame:
    """The batch operator's summary relation for one hour: top-c_width
    (user, count) rows ordered (count desc, user asc), plus — when the
    hour was truncated — one NULL-user row carrying e_h (the
    c_width+1-th count), the freq-items error-bound convention."""
    ordered = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    rows = [(h, u, c) for u, c in ordered[:c_width]]
    if len(ordered) > c_width:
        rows.append((h, None, ordered[c_width][1]))
    return pd.DataFrame(rows, columns=["h", "user_id", "cnt"])


def _hour_user_rows(df: DataFrame, ts_col: str, id_col: str) -> DataFrame:
    # Same hour bucketing as the batch twin (`div` truncates toward
    # zero on both engines — tests/test_engine_semantics.py).
    return df.select(
        F.expr(f"unix_micros({ts_col}) div 3600000000")
        .cast("long").alias("h"),
        F.col(id_col).cast("long").alias("user_id"))


def _update_hour(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    from ..queries.events import SLT_C
    counts = hist_decode(bytes(state.get[0])) if state.exists else {}
    for pdf in pdfs:
        for u, c in pdf["user_id"].value_counts().items():
            counts[int(u)] = counts.get(int(u), 0) + int(c)
    state.update((hist_encode(counts),))
    yield summary_rows(int(key[0]), counts, SLT_C)


def hourly_topk_summaries(df: DataFrame, ts_col: str = "ts",
                          id_col: str = "user_id") -> DataFrame:
    """STREAMING: per-hour frequent-items summary state. Each
    micro-batch emits the touched hour's current top-C summary plus its
    truncation-bound row (update mode); the last emit per hour is the
    final summary — the exact relation events_sliding_topk's window
    layer (merge, prune, verify, fallback) consumes. State is
    partitioned by the hour key and bounded by one hour's user
    cardinality; it survives restarts via the checkpoint."""
    return (_hour_user_rows(df, ts_col, id_col)
            .groupBy("h")
            .applyInPandasWithState(
                _update_hour,
                outputStructType=TK_OUT_SCHEMA,
                stateStructType=TK_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def _batch_hour(pdf: pd.DataFrame) -> pd.DataFrame:
    from ..queries.events import SLT_C
    counts: dict[int, int] = {}
    for u, c in pdf["user_id"].value_counts().items():
        counts[int(u)] = counts.get(int(u), 0) + int(c)
    return summary_rows(int(pdf["h"].iloc[0]), counts, SLT_C)


def hourly_topk_summaries_batch(df: DataFrame, ts_col: str = "ts",
                                id_col: str = "user_id") -> DataFrame:
    """BATCH twin: the identical kernel over a static frame — the
    determinism oracle for the streaming path (and the shape a backfill
    job uses to seed the state store)."""
    return (_hour_user_rows(df, ts_col, id_col)
            .groupBy("h")
            .applyInPandas(_batch_hour, TK_OUT_SCHEMA))
