"""NATS JetStream connector via the Python DataSource API —
`spark.readStream.format("nats")` / `df.writeStream.format("nats")`.

Reference parity (all citations into /root/reference):

- Source (S1): the reference push-subscribes a durable consumer with a
  queue group (src/nats_client.py:123-168). Spark replays micro-batches
  from checkpointed offsets, so we instead FETCH BY STREAM SEQUENCE:
  offset = {"seq": n} (JetStream's monotonically increasing per-stream
  sequence), giving deterministic replay — the property the reference's
  at-least-once ack protocol (A0, src/nats_client.py:170-218) only
  approximates. Each micro-batch's sequence range splits into N
  InputPartitions read in parallel executor workers — the deterministic
  analog of the reference's queue-group fan-out across pods
  (README.md:505-517). Per-message ORDER within a batch is not total
  across partitions (neither is the queue group's); pipelines needing
  order sort on `seq`. For multi-stream topologies, register one source
  per stream/subject-filter.
- Admission control (S2): option("maxBatchSize") caps messages per
  micro-batch — the analog of max_ack_pending (src/config.py:24).
- Sink (S3/P3/D1/R1): publishes the columns `subject`, `value` and
  `msg_id` (streaming/pipeline.nats_message builds them in the JVM);
  msg_id becomes the Nats-Msg-Id idempotency header
  (src/nats_client.py:237-252), so JetStream's duplicate_window drops
  re-publishes after task retries — retries are therefore safe (R1
  without the sleep loop).
- Sink DDL (S4): ensure_output_stream mirrors _ensure_output_stream
  (src/nats_client.py:81-102): LIMITS retention, discard OLD, max_msgs
  5M, file storage, 600 s duplicate window.

Broker client: `broker(server)` is the one place that looks at the URL.
`mem://<name>` selects the file-backed stand-in below (the streaming e2e
tests drive it); any other URL goes through nats_transport.py, a real
nats-py client (sequence-range pull fetch, idempotent publish, stream DDL)
exercised in tests against a scripted fake `nats` module. Both expose
last_seq / fetch / publish_many / ensure_stream, so the reader, the writer
and the DDL never branch on the transport.
"""

from __future__ import annotations

import base64
import datetime
import fcntl
import json
import os
import shutil
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import (
    INPUT_STREAM,
    MAX_OFFSETS_PER_TRIGGER,
    OUTPUT_STREAM,
    OUTPUT_SUBJECT_PREFIX,
)

try:  # pragma: no cover - not installed in this environment
    import nats  # noqa: F401
    HAVE_NATS = True
except ImportError:
    HAVE_NATS = False

NATS_SCHEMA = StructType([
    StructField("subject", StringType()),
    StructField("value", BinaryType()),
    StructField("seq", LongType()),
    StructField("ts", TimestampType()),
    StructField("headers", MapType(StringType(), StringType())),
])

# The sink's input: the source's own names for a message's parts.
MESSAGE_COLUMNS = ("subject", "value", "msg_id")


# ------------------------------------------------------------- file-backed
# JetStream stand-in: enough of the semantics to drive the connector in
# tests — per-stream sequence numbers, subject filters, duplicate window.
# File-backed (one jsonl per stream) because Spark runs Python data sources
# in separate worker processes: the registered DataSource is pickled into a
# source-runner process, so an in-process dict would be invisible there.


@dataclass
class MemMessage:
    subject: str
    data: bytes
    seq: int
    ts: float
    headers: dict


MEM_BROKER_DIR = os.environ.get(
    "SPARK_GRAFT_MEM_BROKER_DIR", "/tmp/spark_graft_mem_broker")


def _subject_matches(subject: str, subject_filter: str | None) -> bool:
    """JetStream filter semantics for the one form the reader builds:
    "a.b.>" matches every subject under "a.b."."""
    return not subject_filter or subject.startswith(subject_filter[:-1])


@dataclass
class MemStream:
    path: str

    def _lines(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    @property
    def messages(self) -> list[MemMessage]:
        return [
            MemMessage(d["subject"], base64.b64decode(d["data"]), d["seq"],
                       d["ts"], d["headers"])
            for d in self._lines()
        ]

    def publish(self, subject: str, data: bytes, headers: dict | None = None,
                ts: float = 0.0) -> bool:
        """One message; of its headers the stand-in keeps Nats-Msg-Id."""
        msg_id = (headers or {}).get("Nats-Msg-Id")
        return self.publish_many([(subject, data, msg_id)], ts) == (1, 0)

    def publish_many(self, items, ts: float = 0.0) -> tuple[int, int]:
        """Append (subject, payload, msg_id) triples; returns (published,
        duplicates). The nats sink runs one writer per partition in
        parallel Python worker processes; one exclusive flock around a
        single read + append keeps the per-stream sequence monotonic and
        the Nats-Msg-Id duplicate scan race-free (the real broker
        serializes publishes server-side)."""
        n_dup = 0
        with open(self.path + ".lock", "w") as lockf:
            fcntl.flock(lockf, fcntl.LOCK_EX)
            try:
                existing = self._lines()
                # duplicate_window dedup (reference: src/nats_client.py:99);
                # the file-backed window is unbounded, fine for tests
                seen = {d["headers"].get("Nats-Msg-Id") for d in existing}
                seq = existing[-1]["seq"] if existing else 0
                lines = []
                for subject, data, msg_id in items:
                    if msg_id and msg_id in seen:
                        n_dup += 1
                        continue
                    seen.add(msg_id)
                    seq += 1
                    lines.append(json.dumps({
                        "subject": subject,
                        "data": base64.b64encode(data).decode(),
                        "seq": seq, "ts": ts,
                        "headers": {"Nats-Msg-Id": msg_id} if msg_id else {},
                    }) + "\n")
                with open(self.path, "a") as f:
                    f.writelines(lines)
            finally:
                fcntl.flock(lockf, fcntl.LOCK_UN)
        return len(lines), n_dup

    def fetch(self, start_seq: int, max_msgs: int,
              subject_filter: str | None = None) -> list[MemMessage]:
        out = []
        for m in self.messages:
            if m.seq < start_seq or not _subject_matches(m.subject,
                                                         subject_filter):
                continue
            out.append(m)
            if len(out) >= max_msgs:
                break
        return out

    def last_seq(self) -> int:
        lines = self._lines()
        return lines[-1]["seq"] if lines else 0


def mem_stream(server: str, stream: str) -> MemStream:
    d = os.path.join(MEM_BROKER_DIR, server.removeprefix("mem://"))
    os.makedirs(d, exist_ok=True)
    return MemStream(os.path.join(d, f"{stream}.jsonl"))


def mem_reset(server: str) -> None:
    """Drop all streams of a mem:// broker (test isolation)."""
    d = os.path.join(MEM_BROKER_DIR, server.removeprefix("mem://"))
    if os.path.isdir(d):
        shutil.rmtree(d)


@dataclass
class MemBroker:
    """The mem:// broker behind JetStreamTransport's surface."""

    server: str

    def connect(self) -> "MemBroker":
        return self

    def close(self) -> None:
        pass

    def __enter__(self) -> "MemBroker":
        return self

    def __exit__(self, *exc) -> None:
        pass

    def ensure_stream(self, stream: str, subject_prefix: str) -> None:
        mem_stream(self.server, stream)

    def last_seq(self, stream: str) -> int:
        return mem_stream(self.server, stream).last_seq()

    def fetch(self, stream: str, start_seq: int, max_msgs: int,
              subject_filter: str | None = None) -> list[MemMessage]:
        return mem_stream(self.server, stream).fetch(
            start_seq, max_msgs, subject_filter)

    def publish_many(self, stream: str, items) -> tuple[int, int]:
        return mem_stream(self.server, stream).publish_many(items)


def broker(server: str):
    """The one broker client for a server URL, not yet connected: the
    mem:// stand-in, or JetStreamTransport (which needs nats-py). Use it
    as a context manager, or call connect() and close()."""
    if server.startswith("mem://"):
        return MemBroker(server)
    if not HAVE_NATS:
        raise ImportError(
            "nats-py is required for a real NATS connection "
            "(pip install nats-py); use servers='mem://<name>' for the "
            "file-backed broker"
        )
    from .nats_transport import JetStreamTransport
    return JetStreamTransport(server)


def ensure_output_stream(server: str, stream: str,
                         subject_prefix: str = OUTPUT_SUBJECT_PREFIX) -> None:
    """S4: CREATE-STREAM-IF-NOT-EXISTS. Mirrors the reference's stream DDL
    (src/nats_client.py:81-102): LIMITS retention, discard OLD, max_msgs
    5M, FILE storage, 600 s duplicate window."""
    with broker(server) as client:
        client.ensure_stream(stream, subject_prefix)


def _msgs_to_rows(msgs: list) -> list[tuple]:
    """Map fetched messages onto NATS_SCHEMA tuples."""
    return [
        (
            m.subject,
            m.data,
            m.seq,
            datetime.datetime.fromtimestamp(m.ts, tz=datetime.timezone.utc)
            .replace(tzinfo=None),
            m.headers,
        )
        for m in msgs
    ]


@dataclass
class SeqRangePartition(InputPartition):
    """One executor-read slice of a micro-batch: stream sequences
    [start_seq, end_seq)."""

    start_seq: int
    end_seq: int


class NatsPartitionedStreamReader(DataSourceStreamReader):
    """Offsets are JetStream stream sequences: {"seq": <next unread>}.

    Each micro-batch's sequence range splits into N `SeqRangePartition`s
    fetched in parallel executor workers — the Spark analog of the
    reference's queue-group fan-out across pods (reference
    README.md:505-517), but deterministic: a partition is a seq RANGE, so
    replay after failure re-reads exactly the same messages (queue groups
    give no such guarantee).

    Driver-side: initialOffset/latestOffset/partitions (one cheap
    stream-info call per trigger over one long-lived connection).
    Executor-side: read(partition) opens its own connection per task.
    """

    def __init__(self, options: dict):
        self.server = options.get("servers", "mem://default")
        self.stream = options.get("stream", INPUT_STREAM)
        # option subjectPrefix="bluesky.posts." -> JetStream filter
        # "bluesky.posts.>" (the reference subscribes "<subject>.>",
        # src/nats_client.py:137)
        prefix = options.get("subjectprefix")
        self.subject_filter = prefix.rstrip(".") + ".>" if prefix else None
        self.max_batch = int(options.get("maxbatchsize",
                                         MAX_OFFSETS_PER_TRIGGER))
        self.num_partitions = int(options.get("numpartitions", 8))
        self._client = None
        self._prev_end: int | None = None

    def __getstate__(self):
        # The reader ships to executor workers for read(); the driver's
        # connection (event-loop thread + socket) stays on the driver.
        state = self.__dict__.copy()
        state["_client"] = None
        return state

    def initialOffset(self) -> dict:  # noqa: N802
        return {"seq": 1}  # DeliverPolicy.ALL (reference: src/nats_client.py:152)

    def latestOffset(self) -> dict:  # noqa: N802
        # Admission control (S2): advance at most max_batch sequences per
        # trigger past the last end this reader knows — its previous
        # answer, the checkpointed end partitions() received on restart,
        # or initialOffset on a new query.
        if self._client is None:
            self._client = broker(self.server).connect()
        prev = self._prev_end or self.initialOffset()["seq"]
        end = min(self._client.last_seq(self.stream) + 1,
                  prev + self.max_batch)
        self._prev_end = max(end, prev)
        return {"seq": self._prev_end}

    def partitions(self, start: dict, end: dict) -> list[SeqRangePartition]:
        s, e = start["seq"], end["seq"]
        if self._prev_end is None:
            # A restarted query hands the reader its checkpointed end
            # (Spark's setLatestSeenOffset plans the range [end, end))
            # before the first latestOffset.
            self._prev_end = e
        total = e - s
        if total <= 0:
            return [SeqRangePartition(s, s)]
        n = min(self.num_partitions, total)
        step, rem = divmod(total, n)
        parts, cur = [], s
        for i in range(n):
            size = step + (1 if i < rem else 0)
            parts.append(SeqRangePartition(cur, cur + size))
            cur += size
        return parts

    def read(self, partition: SeqRangePartition) -> Iterator[tuple]:
        lo, hi = partition.start_seq, partition.end_seq
        if hi <= lo:
            return iter([])
        with broker(self.server) as client:
            msgs = client.fetch(self.stream, lo, hi - lo, self.subject_filter)
        return iter(_msgs_to_rows([m for m in msgs if m.seq < hi]))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the Spark checkpoint (A0)

    def stop(self) -> None:
        if self._client is not None:
            self._client.close()
            self._client = None


@dataclass
class NatsCommitMessage(WriterCommitMessage):
    n_published: int = 0
    n_duplicates: int = 0


class NatsStreamWriter(DataSourceStreamWriter):
    """Publishes each row's `value` to its `subject`, with `msg_id` (when
    set) as the Nats-Msg-Id header."""

    def __init__(self, options: dict):
        self.server = options.get("servers", "mem://default")
        self.stream = options.get("stream", OUTPUT_STREAM)

    def write(self, iterator) -> NatsCommitMessage:
        """Executor-side publish: this runs in each writer partition's
        Python worker with its own connection — no data crosses the driver
        (the queue-group fan-out analog, reference README.md:505-517)."""
        items = [(r.subject, bytes(r.value), r.msg_id) for r in iterator]
        with broker(self.server) as client:
            n_pub, n_dup = client.publish_many(self.stream, items)
        return NatsCommitMessage(n_published=n_pub, n_duplicates=n_dup)

    def commit(self, messages, batch_id) -> None:
        pass

    def abort(self, messages, batch_id) -> None:
        # Safe: partial publishes are deduped on retry via Nats-Msg-Id.
        pass


class NatsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "nats"

    def schema(self) -> StructType:
        return NATS_SCHEMA

    def streamReader(self, schema: StructType) -> NatsPartitionedStreamReader:  # noqa: N802
        return NatsPartitionedStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> NatsStreamWriter:  # noqa: N802
        missing = [c for c in MESSAGE_COLUMNS if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"format('nats') publishes the columns {MESSAGE_COLUMNS} "
                f"(streaming.pipeline.nats_message builds them); missing "
                f"{missing}")
        return NatsStreamWriter(self.options)


def register(spark) -> None:
    """spark.dataSource.register — then format("nats") resolves."""
    spark.dataSource.register(NatsDataSource)
