"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from ``--seed``:

- ``write_tables`` writes the ten parquet tables the registry queries read
  (TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column names and parquet types the queries
  expect, at a chosen scale factor;
- ``corpus`` makes the post texts (the ``documents`` text distribution:
  random words of a small technical vocabulary, about 5% near-duplicates
  marked with a trailing ``dup``);
- ``PostMix`` turns corpus texts into raw post payloads with the
  reference firehose's mix: fresh posts, redeliveries of earlier posts,
  malformed or empty payloads, posts that carry their text in a fallback
  field and posts with no text at all.

The same seed gives byte-identical inputs; nothing here reads the clock
unless the caller passes a timestamp.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "hot", "large", "red", "green", "steel", "ring",
              "bolt", "nut", "gear", "plate", "pipe")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EMBED_DIM = 64
DUP_SHARE = 0.05


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a table or a
    column never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def corpus(seed: int, n: int) -> list[str]:
    """``n`` document texts: 10-100 uniform words from ``VOCAB``; about
    ``DUP_SHARE`` of them copy an earlier text and append ``dup``."""
    rng = _rng(seed, "corpus")
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    is_dup = rng.random(n) < DUP_SHARE
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    texts: list[str] = []
    pos = 0
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[src[i]] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + lens[i]]))
        pos += lens[i]
    return texts


def _timestamps(rng, n: int, start: str, end: str, unit: str) -> np.ndarray:
    lo = np.datetime64(start, unit).astype(np.int64)
    hi = np.datetime64(end, unit).astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype(f"datetime64[{unit}]")


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    cols: dict[str, dict[str, np.ndarray | list]] = {}

    cols["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                      "r_name": list(REGIONS)}
    cols["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                      "n_name": [f"NATION_{i}" for i in range(25)],
                      "n_regionkey": np.arange(25, dtype=np.int32) % 5}

    r = _rng(seed, "customer")
    k = n["customer"]
    cols["customer"] = {
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)],
    }

    r = _rng(seed, "supplier")
    k = n["supplier"]
    cols["supplier"] = {
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, k), 2),
    }

    r = _rng(seed, "part")
    k = n["part"]
    w = r.integers(0, len(PART_WORDS), (k, 2))
    cols["part"] = {
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 2),
    }

    r = _rng(seed, "orders")
    k = n["orders"]
    cols["orders"] = {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, k)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, k), 2),
        "o_orderdate": _timestamps(r, k, "1995-01-01", "2001-08-01", "D")
        .astype("datetime64[us]"),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, k)],
    }

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    cols["lineitem"] = {
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, k), 2),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, k)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, k)],
        "l_shipdate": _timestamps(r, k, "1995-01-02", "2001-11-04", "D")
        .astype("datetime64[us]"),
    }

    r = _rng(seed, "events")
    k = n["events"]
    cols["events"] = {
        "event_id": np.arange(k, dtype=np.int64),
        "ts": np.sort(_timestamps(r, k, "2024-01-01T00:00:00",
                                  "2024-01-30T23:59:59", "us")),
        "user_id": r.integers(0, max(1, int(15_000 * sf)), k).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, k)],
        "value": np.round(np.minimum(r.exponential(50.0, k), 560.0), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
    }

    k = n["documents"]
    texts = corpus(seed, k)
    r = _rng(seed, "documents")
    cols["documents"] = {
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    v = r.standard_normal((k, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(v), type=pa.list_(pa.float32()))
    cols["embeddings"] = {
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": emb,
        "label": r.integers(0, 10, k).astype(np.int32),
    }

    for name, c in cols.items():
        pq.write_table(pa.table(c), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(c.values()))) for name, c in cols.items()}


# ------------------------------------------------------------------ posts

FALLBACK_FIELDS = ("content", "body", "message")
REDELIVER_SHARE = 0.05   # the reference consumer's max_deliver=3 replays
MALFORMED_SHARE = 0.01   # truncated JSON, empty or whitespace payloads
FALLBACK_SHARE = 0.08    # text in record.text / content / body / message
NO_TEXT_SHARE = 0.01     # no usable text field at all


@dataclass
class Post:
    """One generated payload and what the generator knows about it."""

    line: str                 # the raw payload, one line of a stream file
    kind: str                 # fresh | redelivery | malformed | empty
    key: tuple[str, str] | None = None   # (uri, cid) of a well-formed post
    text: str | None = None   # the text the program should classify
    due: float = 0.0          # epoch seconds the post was due to be sent


@dataclass
class PostMix:
    """Deterministic post stream over ``texts``. ``take(n, due)`` returns
    the next ``n`` payloads; keys never repeat except as redeliveries."""

    seed: int
    texts: list[str]
    tag: str = "p"
    rng: np.random.Generator = field(init=False)
    fresh: list[Post] = field(default_factory=list, init=False)
    counts: dict[str, int] = field(default_factory=dict, init=False)

    def __post_init__(self):
        self.rng = _rng(self.seed, f"posts-{self.tag}")
        self._quoted = [json.dumps(t) for t in self.texts]
        self._iso = (None, "")

    def _created(self, due: float) -> str:
        if self._iso[0] != due:
            self._iso = (due, dt.datetime.fromtimestamp(
                due, dt.timezone.utc).isoformat())
        return self._iso[1]

    def _fresh(self, due: float) -> Post:
        i = len(self.fresh)
        uri = f"at://did:plc:bench{i % 97}/app.bsky.feed.post/{self.tag}{i}"
        cid = f"bafy{self.seed}{self.tag}{i}"
        k = int(self.rng.integers(0, len(self.texts)))
        text, quoted = self.texts[k], self._quoted[k]
        u = self.rng.random()
        if u < NO_TEXT_SHARE:
            text, field_json = None, ""
        elif u < NO_TEXT_SHARE + FALLBACK_SHARE:
            slot = int(self.rng.integers(0, 1 + len(FALLBACK_FIELDS)))
            field_json = (f', "record": {{"text": {quoted}}}' if slot == 0
                          else f', "{FALLBACK_FIELDS[slot - 1]}": {quoted}')
        else:
            field_json = f', "text": {quoted}'
        line = (f'{{"uri": "{uri}", "cid": "{cid}", '
                f'"author": "did:plc:bench{i % 97}", '
                f'"created_at": "{self._created(due)}"{field_json}}}')
        post = Post(line, "fresh", (uri, cid), text, due)
        self.fresh.append(post)
        return post

    def take(self, n: int, due: float | list[float]) -> list[Post]:
        dues = due if isinstance(due, list) else [due] * n
        out = []
        for d in dues:
            u = self.rng.random()
            if u < MALFORMED_SHARE + REDELIVER_SHARE and self.fresh:
                # an earlier post from the recent past (the last 2,000)
                lo = max(0, len(self.fresh) - 2000)
                src = self.fresh[int(self.rng.integers(lo, len(self.fresh)))]
            if u < MALFORMED_SHARE:
                if self.rng.random() < 0.5 and self.fresh:
                    post = Post(src.line[: len(src.line) // 2], "malformed",
                                due=d)
                else:
                    post = Post(("", "   ")[int(self.rng.integers(0, 2))],
                                "empty", due=d)
            elif u < MALFORMED_SHARE + REDELIVER_SHARE and self.fresh:
                post = Post(src.line, "redelivery", src.key, src.text, d)
            else:
                post = self._fresh(d)
            self.counts[post.kind] = self.counts.get(post.kind, 0) + 1
            out.append(post)
        return out

    def expected_keys(self, passes_gate: set[str]) -> dict[tuple[str, str], str]:
        """(uri, cid) -> text for every fresh post whose text is non-empty
        and whose text is in ``passes_gate`` (the batch enrichment's
        surviving texts)."""
        return {p.key: p.text for p in self.fresh
                if p.text and p.text in passes_gate}
