"""Streaming exact-dedup twin: the corpus digest set as managed state.

The streaming half of the incremental-dedup story, making dedup the
FIFTH batch+stream-twinned axis (after cardinality: streaming/hll.py;
quantiles: streaming/quantile.py; moments: the stateful power-sum
aggregation; top-k: streaming/topk.py): ``dedup_incremental_batch``
(queries/dedup.py) is the BATCH shape — dedup an incoming batch
against a persisted digest store, keep one canonical copy per fresh
digest. A streaming job maintains the digest store itself as MANAGED
STATE: rows are sharded by a digest-prefix key (the state distributes —
at 100 TB the shard count scales out and each shard holds
|digests| / shards * 16 bytes, the irreducible memory of exact dedup),
each shard's state is the canonical byte encoding of its digest set
(the streaming/quantile.py law: equal sets <=> equal bytes — 16-byte
md5 digests, sorted, concatenated), and each micro-batch emits one
(doc_id, content_key, keep) row per input row — keep mirroring the
batch operator's semantics exactly: a digest seen in ANY earlier
micro-batch drops (the batch operator's historical anti-join), and
within a micro-batch the smallest doc_id keeps (its ``row_number ...
ORDER BY doc_id`` tie-break).

This mirrors the reference's own dedup window (a recent-content set
consulted per message, /root/reference/src/nats_client.py:99) — here
with exact corpus-lifetime semantics, restart-safe via the checkpoint.

Determinism discipline: digests are computed JVM-side (F.md5 over the
raw text — the Python kernel never sees text, only 32-hex keys); the
kernel sorts each micro-batch's rows by doc_id before the keep scan, so
emission is independent of Arrow batch arrival order; the state bytes
are canonical. tests/test_streaming.py asserts (a) the final state
byte-identical to the batch kernel's digest sets — directly, via the
``statestore`` data source; (b) a two-phase run (history files, then a
NEW batch resumed from the same checkpoint — state restore exercised)
whose phase-2 emissions reproduce ``dedup_incremental_batch``'s
certified output relation exactly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DD_OUT_SCHEMA = "doc_id long, content_key string, keep boolean"
DD_STATE_SCHEMA = "digests binary"
DD_SHARDS = 8


def digests_encode(seen: set[bytes]) -> bytes:
    """Canonical byte form: sorted 16-byte digests, concatenated."""
    return b"".join(sorted(seen))


def digests_decode(blob: bytes) -> set[bytes]:
    return {blob[i:i + 16] for i in range(0, len(blob), 16)}


def _keep_scan(seen: set[bytes], pdf: pd.DataFrame) -> pd.DataFrame:
    """One pass over a micro-batch's rows (sorted by doc_id — emission
    must not depend on Arrow batch arrival order): keep = digest unseen,
    and a kept digest joins the set so later rows (and later batches)
    drop. Mutates ``seen``."""
    pdf = pdf.sort_values("doc_id")
    keeps = []
    for ck in pdf["content_key"]:
        dg = bytes.fromhex(ck)
        if dg in seen:
            keeps.append(False)
        else:
            seen.add(dg)
            keeps.append(True)
    return pd.DataFrame({"doc_id": pdf["doc_id"].astype("int64"),
                         "content_key": pdf["content_key"],
                         "keep": keeps})


def _update_shard(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    seen = digests_decode(bytes(state.get[0])) if state.exists else set()
    batch = pd.concat(list(pdfs), ignore_index=True)
    out = _keep_scan(seen, batch)
    state.update((digests_encode(seen),))
    yield out


def _keyed(df: DataFrame, id_col: str, text_col: str,
           shards: int) -> DataFrame:
    # Digest + shard computed JVM-side; the Python kernel never ships
    # text. crc32 % shards spreads digests uniformly (md5 is already
    # uniform; crc32 of the hex is a cheap JVM-side mix).
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("content_key"),
    ).withColumn("shard",
                 (F.crc32(F.col("content_key")) % shards).cast("long"))


def dedup_keep_stream(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      shards: int = DD_SHARDS) -> DataFrame:
    """STREAMING: exact-dedup keep/drop verdicts with the digest store
    as per-shard managed state (module comment above). Update mode; one
    output row per input row; state survives restarts via the
    checkpoint — a resumed query dedups against everything any earlier
    run saw.

    Precondition for ROW-EXACT parity with dedup_keep_batch (which
    keeps the globally-smallest id per digest): micro-batch arrival
    order must respect ``id_col`` order — e.g. doc_id-range source
    files with increasing mtimes. Hash-partitioned or unordered input
    still satisfies the order-robust laws (exactly one keeper per
    digest, identical state bytes), but the keeper CHOICE may differ
    from the batch twin's (it keeps the first seen, r14 advice)."""
    return (_keyed(df, id_col, text_col, shards)
            .groupBy("shard")
            .applyInPandasWithState(
                _update_shard,
                outputStructType=DD_OUT_SCHEMA,
                stateStructType=DD_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def _batch_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    return _keep_scan(set(), pdf)


def dedup_keep_batch(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     shards: int = DD_SHARDS) -> DataFrame:
    """BATCH twin: the identical kernel over a static frame — the
    determinism oracle for the streaming path (a single-pass corpus
    dedup, keep-first-by-doc_id; equals exact dedup because digest
    routing is deterministic per shard).

    Row-exact parity precondition: this twin keeps the GLOBALLY
    smallest doc_id per digest, while the stream keeps the first-SEEN
    occurrence (smallest doc_id within the first micro-batch that
    carries the digest). The two verdicts coincide exactly when
    micro-batch boundaries partition the doc_id order — i.e. every
    doc_id in batch i is smaller than every doc_id in batch i+1.
    Hash-partitioned parquet files do NOT guarantee that;
    tests/test_streaming.py's planted-duplicates test writes its
    stream input as doc_id-RANGE files with increasing mtimes so the
    file-listing trigger order respects it. When batch order is
    arbitrary, the order-robust laws still hold (and are what the
    state checks assert): one keeper per digest, and the final state
    bytes equal the canonical encoding of the full digest set."""
    return (_keyed(df, id_col, text_col, shards)
            .groupBy("shard")
            .applyInPandas(_batch_shard, DD_OUT_SCHEMA))
