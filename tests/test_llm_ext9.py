"""Correctness of the mergeable frequent-items workflow
(queries/sketches.py): fixture replication against a plain-Python
exact count, a synthetic high-cardinality corpus that forces the
PRUNING regime (the fixtures' 31-token vocabulary never truncates a
summary), a flat-distribution corpus that forces the exactness-guard
FALLBACK, and a hypothesis property test of the summary-merge-prune-
guard algebra at small widths over arbitrary batchings."""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.events import SW_HOURS
from nats_stream_processor_spark.queries.curation import WR_K, _pf_batch
from nats_stream_processor_spark.queries.sketches import (
    FI_TOP,
    _fi_batch_summary,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _exact_topk(tokens, t):
    c = Counter(tokens)
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:t]


def _tokenize(text):
    import re

    return re.findall("[a-z0-9]+", (text or "").lower())


def test_freq_items_matches_exact_on_fixture(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tokens = [t for r in docs for t in _tokenize(r.text)]
    expect = [(i + 1, tok, n)
              for i, (tok, n) in enumerate(_exact_topk(tokens, FI_TOP))]
    got = [(r.rank, r.token, r.n_occ)
           for r in registry.REGISTRY["sketch_freq_items_topk"].fn(
               spark, SF).collect()]
    assert got == expect


def _write_docs(spark, tmp_path, texts):
    d = tmp_path / "sf_synth"
    spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    return str(d)


def test_freq_items_pruning_regime_is_exact(spark, tmp_path):
    """A Zipf-ish corpus with ~1500 distinct tokens and Arrow batches
    capped at 400 rows: every batch holds far more than FI_K distinct
    keys, so summaries truncate (D > 0) and the candidate prune does
    real work — and the head must still be the exact top-FI_TOP. The
    test also proves the regime fired: the deployed summary kernel,
    run over the same stream, emits truncation-error rows, and the
    exactness guard's floor clears the summed error (i.e. the SKETCH
    path produced this output, not the fallback)."""
    rng = __import__("random").Random(42)
    vocab = [f"tok{i:04d}" for i in range(1500)]
    texts = []
    for _ in range(600):
        # Zipf head: token rank r drawn with weight ~ 1/(r+1)
        words = rng.choices(vocab,
                            weights=[1.0 / (r + 1)
                                     for r in range(len(vocab))],
                            k=40)
        texts.append(" ".join(words))
    sf_dir = _write_docs(spark, tmp_path, texts)
    tokens = [t for txt in texts for t in _tokenize(txt)]
    expect = [(i + 1, tok, n)
              for i, (tok, n) in enumerate(_exact_topk(tokens, FI_TOP))]
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "400")
    try:
        got = [(r.rank, r.token, r.n_occ)
               for r in registry.REGISTRY["sketch_freq_items_topk"].fn(
                   spark, sf_dir).collect()]
        assert got == expect
        # Prove the pruning regime fired in this configuration: replay
        # the deployed kernel over the same 400-row batching.
        errs, ests = 0, {}
        for i in range(0, len(tokens), 400):
            kept, err = _fi_batch_summary(
                pd.Series(tokens[i:i + 400]).value_counts())
            errs += err
            for tok, est in kept.items():
                ests[tok] = ests.get(tok, 0) + int(est)
        assert errs > 0, "vocabulary never exceeded FI_K per batch"
        assert expect[-1][2] > errs, (
            "guard boundary hit: floor_T <= D, the e2e run above "
            "would have taken the fallback path")
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)


def test_freq_items_fallback_on_flat_distribution(spark, tmp_path):
    """Adversarial flat corpus: thousands of tokens, every count == 1.
    Summaries truncate almost everything, floor_T (= 1) can never
    clear D, so the runtime guard must reject the sketch result and
    the fallback must still deliver the exact (lexicographic) head."""
    texts = [" ".join(f"w{i * 50 + j:05d}" for j in range(50))
             for i in range(60)]  # 3000 distinct tokens, one occurrence each
    sf_dir = _write_docs(spark, tmp_path, texts)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        got = [(r.rank, r.token, r.n_occ)
               for r in registry.REGISTRY["sketch_freq_items_topk"].fn(
                   spark, sf_dir).collect()]
        expect = [(i + 1, f"w{i:05d}", 1) for i in range(FI_TOP)]
        assert got == expect
        # The guard really is on the fallback side of the boundary:
        # every 100-row batch truncates 100-64 keys with error 1 each.
        assert 1 <= sum(
            _fi_batch_summary(pd.Series([f"t{j}" for j in
                                            range(100)]).value_counts())[1]
            for _ in range(1)), "flat batches must truncate"
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)


def _fi_reference(batches, k, t):
    """Plain-Python replica of the operator's dataflow, driven through
    the DEPLOYED summary kernel at width k: per-batch summaries,
    merge, est_T prune, candidate-exact reconciliation, runtime
    exactness guard, exact fallback."""
    merged, derr = {}, 0
    for batch in batches:
        if not batch:
            continue
        kept, err = _fi_batch_summary(pd.Series(batch).value_counts(),
                                         k=k)
        derr += err
        for key, est in kept.items():
            merged[key] = merged.get(key, 0) + int(est)
    full = Counter(tok for b in batches for tok in b)
    head = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))[:t]
    est_t = min((est for _, est in head), default=0)
    cand = [key for key, est in merged.items() if est + derr >= est_t]
    exact = {key: full[key] for key in cand}
    out = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:t]
    floor_t = min((n for _, n in out), default=0)
    guard = (len(out) > 0 and floor_t > derr
             and (len(out) == t or derr == 0))
    if not guard:
        out = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:t]
    return out


@settings(max_examples=300, deadline=None)
@given(st.lists(st.lists(st.integers(0, 40), max_size=60), max_size=8),
       st.integers(2, 6), st.integers(1, 4))
def test_freq_items_algebra_always_exact(batches, k, t):
    """For ANY key stream, ANY batching, and small summary widths where
    truncation is constant, the summary-merge-prune-guard-fallback
    dataflow must return exactly the true top-t (count desc, key asc).
    This is the containment/guard argument from the module comment,
    hammered at widths where every branch (prune survivors, missing
    keys, guard failure -> fallback) is reachable."""
    all_keys = [tok for b in batches for tok in b]
    expect = sorted(Counter(all_keys).items(),
                    key=lambda kv: (-kv[1], kv[0]))[:t]
    assert _fi_reference(batches, k, t) == expect


# ------------------------------------------------- Pareto frontier


def _brute_skyline(points):
    """Exact skyline by definition: p survives iff no q dominates it
    (q >= p on both axes, > on at least one)."""
    return sorted(
        (i, x, y) for (i, x, y) in points
        if not any((qx >= x and qy >= y and (qx > x or qy > y))
                   for (_, qx, qy) in points))


def test_pareto_frontier_matches_brute_force_on_fixture(spark):
    import re as _re
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    pts = []
    for r in docs:
        toks = _tokenize(r.text)
        pts.append((r.doc_id, len(toks), len(set(toks))))
    expect = sorted(_brute_skyline(pts),
                    key=lambda p: (-p[1], -p[2], p[0]))
    got = [(r.doc_id, r.n_tokens, r.n_distinct_tokens)
           for r in registry.REGISTRY["curation_pareto_frontier"].fn(
               spark, SF).collect()]
    assert got == expect
    # every frontier point must be non-dominated and every excluded
    # point dominated (sanity on the definition itself)
    assert 0 < len(got) < len(pts)


def test_pareto_frontier_ties_duplicates_multibatch(spark, tmp_path):
    """Hand-built corpus with known frontier: duplicate frontier
    points must BOTH survive, a same-x lower-y point must die, a
    same-y lower-x point must die, and an incomparable pair must
    coexist — across many small Arrow batches so survival must hold
    through the local-skyline merge."""
    texts = {
        0: "a b c d e",        # (5, 5) frontier
        1: "a b c d e",        # duplicate of 0 -> also frontier
        2: "a b c d d",        # (5, 4) dominated by 0 (same x, lower y)
        3: "a b c d",          # (4, 4) dominated by 0
        4: "a a a a a a",      # (6, 1) frontier (longest, low diversity)
        5: "a b",              # (2, 2) dominated
        6: "a a b b c c",      # (6, 3) frontier; dominates 4? same x=6,
                               # y 3>1 -> yes, 4 is dominated
    }
    d = tmp_path / "sf_pareto"
    spark.createDataFrame(list(texts.items()),
                          "doc_id long, text string") \
        .repartition(4).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = [(r.doc_id, r.n_tokens, r.n_distinct_tokens)
               for r in registry.REGISTRY["curation_pareto_frontier"].fn(
                   spark, str(d)).collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)
    assert got == [(6, 6, 3), (0, 5, 5), (1, 5, 5)]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 8), st.integers(0, 8)),
                max_size=40),
       st.integers(1, 5))
def test_pareto_local_merge_law(points, n_batches):
    """skyline(S) == skyline(union of per-batch local skylines) for
    ANY batching — the merge law the distributed plan rests on, driven
    through the DEPLOYED batch kernel."""
    pts = [(i, x, y) for i, (x, y) in enumerate(points)]
    expect = _brute_skyline(pts)
    survivors = []
    for b in range(n_batches):
        chunk = pts[b::n_batches]
        if not chunk:
            continue
        pdf = pd.DataFrame(chunk, columns=["doc_id", "x", "y"])
        survivors.extend(
            tuple(r) for r in _pf_batch(pdf).itertuples(index=False))
    assert _brute_skyline(survivors) == expect


# -------------------------------------------- weighted reservoir


def _py_reservoir(docs, k):
    """Plain-Python replica of the A-ES selection (hash32 uniforms,
    micro-quantized ln(u)/w keys)."""
    import hashlib
    import math

    rows = []
    for doc_id, text in docs:
        w = len(_tokenize(text))
        if w <= 0:
            continue
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        key = math.floor(math.log((h + 1) / 4294967296.0) / w * 1e6)
        rows.append((doc_id, w, key))
    rows.sort(key=lambda r: (-r[2], r[0]))
    return [(i + 1, d, w, key) for i, (d, w, key) in enumerate(rows[:k])]


def test_weighted_reservoir_matches_python_reference(spark):
    docs = [(r.doc_id, r.text) for r in
            spark.read.parquet(f"{SF}/documents.parquet").collect()]
    expect = _py_reservoir(docs, WR_K)
    got = [(r.rank, r.doc_id, r.weight, r.key_micro)
           for r in registry.REGISTRY["sample_weighted_reservoir"].fn(
               spark, SF).collect()]
    assert got == expect


def test_weighted_reservoir_pulls_heavy_weights(spark, tmp_path):
    """The statistical point of A-ES: E[key] rises with weight, so a
    4000-token document must out-sample 10-token documents at any
    plausible draw, zero-token documents must never appear, and the
    sample must be exactly WR_K when enough positive-weight docs
    exist."""
    texts = [("t " * 4000).strip() if i < 5
             else ("" if i % 7 == 3 else "a b c d e f g h i j")
             for i in range(200)]
    sf_dir = _write_docs(spark, tmp_path, texts)
    rows = registry.REGISTRY["sample_weighted_reservoir"].fn(
        spark, sf_dir).collect()
    assert len(rows) == WR_K
    got_ids = {r.doc_id for r in rows}
    assert set(range(5)) <= got_ids, (
        "a 400x-weight doc missed the sample")
    assert all(r.weight > 0 for r in rows)
    assert [r.rank for r in rows] == list(range(1, WR_K + 1))


# -------------------------------------- sliding-window HLL distinct


def test_sliding_distinct_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from nats_stream_processor_spark.registry import table

    ev = table(spark, SF, "events").select(
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        "user_id").collect()
    by_hour = {}
    for r in ev:
        by_hour.setdefault(r.h, set()).add(r.user_id)
    hmax = max(by_hour)
    expect = []
    wins = sorted({w for h in by_hour
                   for w in range(h, min(h + SW_HOURS - 1, hmax) + 1)})
    for w in wins:
        hrs = [h for h in by_hour if w - (SW_HOURS - 1) <= h <= w]
        users = set().union(*(by_hour[h] for h in hrs))
        expect.append((w, len(hrs), len(users), True))
    got = [(r.window_hour, r.n_hours, r.exact_users,
            r.estimate_within_5pct)
           for r in registry.REGISTRY["events_sliding_distinct_hll"].fn(
               spark, SF).collect()]
    assert got == expect
    # the sketch estimate held the 5% contract on every window (the
    # boolean is computed Spark-side; the oracle pins it TRUE)
    assert all(r[3] for r in got)
    assert all(1 <= r[1] <= SW_HOURS for r in got)
