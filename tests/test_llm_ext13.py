"""Correctness of the IVF balance, gate agreement, incremental SCD2 and
sliding top-k operators:

- sim_ivf_list_balance: numpy replication of the whole report from the
  same trained centroids (assignment argmax with the operator's
  cosine/tie-break, sizes, ppm/load integer arithmetic), totals
  conservation, and a planted-skew corpus where the overload verdict
  must fire.
- quality_gate_agreement: plain-Python composition against all three
  certified parent operators (quality_filter_pipeline verdicts,
  quality_gopher_rules keep, score_quality_logreg probabilities) —
  confusion counts, agreement ppm, kappa — plus the kappa lattice
  (symmetric bounds) and the degenerate constant-gates NULL case on a
  planted corpus.
"""

from __future__ import annotations

import math

import pytest

from nats_stream_processor_spark import registry
from tests.conftest import SF_SMOKE


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _r6(x):
    return math.floor(x * 1e6 + 0.5) / 1e6


def test_ivf_list_balance_matches_numpy_reference(spark):
    import numpy as np
    import duckdb
    from nats_stream_processor_spark.operators import kmeans as km
    from nats_stream_processor_spark.operators import similarity as sim
    from nats_stream_processor_spark.queries.ivf import IVF_NLIST
    from pyspark.sql import functions as F

    out = {r.cent_id: r for r in registry.REGISTRY[
        "sim_ivf_list_balance"].fn(spark, SF_SMOKE).collect()}
    registry.release_pins()
    assert set(out) == set(range(IVF_NLIST))

    e = registry.table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    cents = np.array(km.train_ivf_centroids(e, IVF_NLIST))
    raw = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"'{SF_SMOKE}/embeddings.parquet' ORDER BY vec_id").fetchall()
    V = np.array([[float(x) for x in emb] for _, emb in raw])
    cos = (V @ cents.T) / (
        np.linalg.norm(V, axis=1)[:, None]
        * np.linalg.norm(cents, axis=1)[None, :])
    # operator tie-break: highest cosine, then lowest cent_id — argmax
    # on ties returns the first (lowest) index, matching row_number
    assign = cos.argmax(axis=1)
    sizes = {c: int((assign == c).sum()) for c in range(IVF_NLIST)}
    n = len(V)
    assert sum(r.n_vecs for r in out.values()) == n
    for c, r in out.items():
        assert r.n_vecs == sizes[c], c
        assert r.share_ppm == r.n_vecs * 1000000 // n
        assert r.load_x1000 == r.n_vecs * IVF_NLIST * 1000 // n
        assert r.overloaded == (r.load_x1000 >= 2000)


def test_ivf_list_balance_flags_planted_skew(spark, tmp_path):
    """Planted skew that k-means CANNOT balance away: 90% of vectors
    are exact duplicates of one vector (the duplicate-heavy corpus a
    dedup-less embedding pipeline produces). Even if training parks
    several centroids on the duplicate point, every copy's
    centroid-cosine ties resolve to the same lowest centroid id
    (row_number tie-break), so one list absorbs the whole mass — the
    overload verdict must fire, totals conserve, and every centroid
    row is present (empty lists included via the left join). A merely
    DENSE (not duplicate) cluster is balanced by the trainer — that
    is k-means doing its job, and an earlier draft of this test
    proved it empirically."""
    import numpy as np
    from nats_stream_processor_spark.queries.ivf import IVF_NLIST

    rng = np.random.RandomState(11)
    dim = 8
    hub = rng.randn(dim)
    dense = np.tile(hub, (360, 1))  # exact duplicates
    sparse = rng.randn(40, dim)
    V = np.vstack([dense, sparse])
    spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<float>") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "embeddings.parquet"))
    out = registry.REGISTRY["sim_ivf_list_balance"].fn(
        spark, str(tmp_path)).collect()
    assert len(out) == IVF_NLIST
    assert sum(r.n_vecs for r in out) == len(V)
    assert any(r.overloaded for r in out), [
        (r.cent_id, r.load_x1000) for r in out]


def test_gate_agreement_composes_parent_operators(spark):
    from nats_stream_processor_spark.queries.curation import GATE_PAIRS

    out = {(r.gate_a, r.gate_b): r for r in registry.REGISTRY[
        "quality_gate_agreement"].fn(spark, SF_SMOKE).collect()}
    registry.release_pins()
    assert set(out) == set(GATE_PAIRS)

    c4 = {r.doc_id: 1 if r.verdict == "keep" else 0
          for r in registry.REGISTRY["quality_filter_pipeline"].fn(
              spark, SF_SMOKE).collect()}
    registry.release_pins()
    gopher = {r.doc_id: r.keep
              for r in registry.REGISTRY["quality_gopher_rules"].fn(
                  spark, SF_SMOKE).collect()}
    registry.release_pins()
    logreg = {r.doc_id: 1 if int(round(r.p_en * 1e6)) >= 500000 else 0
              for r in registry.REGISTRY["score_quality_logreg"].fn(
                  spark, SF_SMOKE).collect()}
    registry.release_pins()
    flags = {"c4": c4, "gopher": gopher, "logreg": logreg}
    docs = sorted(c4)
    assert sorted(gopher) == docs and sorted(logreg) == docs

    for (a, b), r in out.items():
        ka, kb = flags[a], flags[b]
        n11 = sum(1 for d in docs if ka[d] and kb[d])
        n10 = sum(1 for d in docs if ka[d] and not kb[d])
        n01 = sum(1 for d in docs if not ka[d] and kb[d])
        n00 = sum(1 for d in docs if not ka[d] and not kb[d])
        n = len(docs)
        assert (r.n_both, r.n_a_only, r.n_b_only, r.n_neither,
                r.n_docs) == (n11, n10, n01, n00, n), (a, b)
        assert r.agree_ppm == (n11 + n00) * 1000000 // n
        pa, pb = (n11 + n10) / n, (n11 + n01) / n
        pe = pa * pb + (1.0 - pa) * (1.0 - pb)
        if (n11 + n10 == n and n11 + n01 == n) or \
                (n11 + n10 == 0 and n11 + n01 == 0):
            assert r.kappa6 is None, (a, b)
        else:
            po = (n11 + n00) / n
            assert r.kappa6 == _r6((po - pe) / (1.0 - pe)), (a, b)
            assert r.kappa6 <= 1.0


def test_gate_agreement_constant_gates_yield_null_kappa(spark, tmp_path):
    """Planted corpus where C4 and Gopher both keep EVERY document
    (clean natural-English texts inside every threshold): the
    (c4, gopher) pair is the degenerate both-constant-and-equal case —
    kappa must be NULL (chance agreement is 1, the correction is
    undefined), agreement must be exactly 1e6 ppm, and the operator
    must not divide by zero on either engine (oracle run included)."""
    import duckdb
    stop = ("the and is of to a in that it with for on as are this be "
            "or an at by from")
    rows = []
    for i in range(40):
        body = " ".join(f"word{i}item{j}" for j in range(30))
        rows.append((i, f"{stop} {body} {stop}",
                     "en" if i % 2 == 0 else "fr"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "documents.parquet"))
    entry = registry.REGISTRY["quality_gate_agreement"]
    out = {(r.gate_a, r.gate_b): r for r in
           entry.fn(spark, str(tmp_path)).collect()}
    r = out[("c4", "gopher")]
    assert (r.n_both, r.n_a_only, r.n_b_only, r.n_neither) == \
        (40, 0, 0, 0)
    assert r.agree_ppm == 1000000
    assert r.kappa6 is None
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    orc = {(a, b): k for a, b, *_rest, k in con.sql(entry.oracle).fetchall()}
    assert orc[("c4", "gopher")] is None


# ----------------------------------------- scd2_incremental_apply


def _py_scd2_runs(events):
    """Plain-Python SCD2 fold: events = [(user, event_id, state, us)]
    -> {user: [(version, state, valid_from, n_events)]}."""
    out = {}
    by_user = {}
    for u, eid, st, us in sorted(events, key=lambda r: (r[0], r[3], r[1])):
        by_user.setdefault(u, []).append((st, us))
    for u, seq in by_user.items():
        runs = []
        for st, us in seq:
            if runs and runs[-1][1] == st:
                v, s_, vf, n = runs[-1]
                runs[-1] = (v, s_, vf, n + 1)
            else:
                runs.append((len(runs) + 1, st, us, 1))
        out[u] = runs
    return out


def test_scd2_incremental_theorem_holds_on_fixture(spark):
    out = registry.REGISTRY["scd2_incremental_apply"].fn(
        spark, SF_SMOKE).collect()
    assert out, "no checked users"
    assert all(r.inc_eq_full for r in out)
    # composition: version counts must equal the certified full build's
    hist = registry.REGISTRY["scd2_build_intervals"].fn(
        spark, SF_SMOKE).collect()
    registry.release_pins()
    import collections
    nv = collections.Counter(r.user_id for r in hist)
    assert {r.user_id: r.n_versions for r in out} == dict(nv)
    for r in out:
        assert r.n_closed == r.n_versions - 1  # exactly one open run


def test_scd2_incremental_planted_straddle_flip_and_new_user(spark,
                                                             tmp_path):
    """Planted regimes around the mid-range cut: user 0's run STRADDLES
    the cut with the same state (the merge path — n_events must add and
    the run must NOT split), user 10 FLIPS state exactly at the cut
    (the close path), user 20 appears only AFTER the cut (new-user
    path), user 30 only BEFORE (no-delta path). The theorem flag must
    hold for all four, and versions/counts must match the plain-Python
    fold of the full sequence."""
    rows = []
    base_us = 1_700_000_000_000_000
    hour = 3_600_000_000

    def ts(k):
        return base_us + k * hour

    # span 0..10 hours -> cut = (min+max)/2 = ts(5)
    ev = [
        # user 0: same state across the cut (ts3..ts7)
        (0, 1, "a", ts(0)), (0, 2, "b", ts(3)), (0, 3, "b", ts(4)),
        (0, 4, "b", ts(6)), (0, 5, "b", ts(7)),
        # user 10: state flips at the cut
        (10, 6, "x", ts(1)), (10, 7, "x", ts(4)), (10, 8, "y", ts(5)),
        (10, 9, "y", ts(8)),
        # user 20: new after the cut
        (20, 10, "z", ts(6)), (20, 11, "w", ts(9)),
        # user 30: only before the cut; pin the global span to ts(10)
        (30, 12, "q", ts(0)), (30, 13, "q", ts(2)),
        (30, 14, "q", ts(10)),
    ]
    # wait: user 30 must stay pre-cut; give the span-pinning event to
    # user 20 instead (already post-cut)
    ev[-1] = (20, 14, "w", ts(10))
    rows = [(u, e, st, us) for (u, e, st, us) in ev]
    spark.createDataFrame(
        [(u, e, st, us) for u, e, st, us in rows],
        "user_id long, event_id long, event_type string, us long") \
        .selectExpr("user_id", "event_id", "event_type",
                    "timestamp_micros(us) AS ts") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    out = {r.user_id: r for r in registry.REGISTRY[
        "scd2_incremental_apply"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 10, 20, 30}
    assert all(r.inc_eq_full for r in out.values())
    py = _py_scd2_runs([(u, e, st, us) for u, e, st, us in rows
                        if u % 10 == 0])
    for u, r in out.items():
        assert r.n_versions == len(py[u]), u
    # the straddling run must have merged: user 0 has versions a, b
    assert out[0].n_versions == 2
    assert out[0].n_delta_events == 2   # ts6, ts7
    assert out[10].n_versions == 2      # x | y split at the cut
    assert out[20].n_versions == 2 and out[20].n_closed == 1
    assert out[30].n_delta_events == 0


# ----------------------------------------- events_sliding_topk


def _py_sliding_topk(cells, sw, top):
    """cells = {(h, user): cnt} -> exact {(w, rank): (user, n_occ)}."""
    hmax = max(h for h, _ in cells)
    wu = {}
    for (h, u), c in cells.items():
        for w in range(h, min(h + sw - 1, hmax) + 1):
            wu[(w, u)] = wu.get((w, u), 0) + c
    out = {}
    byw = {}
    for (w, u), c in wu.items():
        byw.setdefault(w, []).append((u, c))
    for w, lst in byw.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        for i, (u, c) in enumerate(lst[:top], 1):
            out[(w, i)] = (u, c)
    return out


def test_sliding_topk_matches_python_reference(spark):
    import duckdb
    from nats_stream_processor_spark.queries.events import SLT_TOP, SW_HOURS

    sf = "/root/testdata/sf0.001"
    out = {(r.window_hour, r.rank): r for r in registry.REGISTRY[
        "events_sliding_topk"].fn(spark, sf).collect()}
    raw = duckdb.sql(
        f"SELECT epoch_us(ts) // 3600000000 AS h, user_id, count(*) "
        f"FROM '{sf}/events.parquet' GROUP BY 1, 2").fetchall()
    cells = {(int(h), int(u)): int(c) for h, u, c in raw}
    expect = _py_sliding_topk(cells, SW_HOURS, SLT_TOP)
    assert set(out) == set(expect)
    for k, r in out.items():
        assert (r.user_id, r.n_occ) == expect[k], k


def test_sliding_topk_truncation_and_fallback_regimes(spark, tmp_path,
                                                      monkeypatch):
    """Force the summary width BELOW the per-hour cardinality
    (SLT_C = 4) on planted corpora:

    - skewed counts: heavy users clear the prune (est_T > D_w), heads
      come off the SUMMARY path and must still be exact;
    - flat counts: every user ties, est_T <= D_w, the window-scoped
      FALLBACK arm fires and the head must still be exact.

    Exactness in both regimes is asserted against the plain-Python
    reference — the operator's output contract is 'exact top-T for any
    input and any summary width'."""
    from nats_stream_processor_spark.queries import events as q_events
    from nats_stream_processor_spark.queries.events import SLT_TOP, SW_HOURS
    monkeypatch.setattr(q_events, "SLT_C", 4)

    base_us = 1_700_000_000_000_000
    hour = 3_600_000_000

    def write(rows, name):
        d = tmp_path / name
        spark.createDataFrame(rows, "us long, user_id long") \
            .selectExpr("timestamp_micros(us) AS ts", "user_id",
                        "'e' AS event_type", "0.0 AS value",
                        "monotonically_increasing_id() AS event_id") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(d / "events.parquet"))
        return str(d)

    # skewed: per hour, user u has (10 - u) events for u in 0..7 —
    # 8 users > SLT_C=4, clear separation
    skew = [(base_us + h * hour, u)
            for h in range(4) for u in range(8)
            for _ in range(10 - u)]
    sfd = write(skew, "skew")
    out = {(r.window_hour, r.rank): (r.user_id, r.n_occ)
           for r in registry.REGISTRY["events_sliding_topk"].fn(
               spark, sfd).collect()}
    registry.release_pins()
    cells = {}
    for us, u in skew:
        h = us // hour
        cells[(h, u)] = cells.get((h, u), 0) + 1
    expect = {k: v for k, v in _py_sliding_topk(
        cells, SW_HOURS, SLT_TOP).items()}
    assert out == expect

    # flat: per hour, 12 users with ONE event each — ties everywhere,
    # est_T <= D_w, the fallback arm must produce the exact
    # (tie-broken) head
    flat = [(base_us + h * hour, u) for h in range(3) for u in range(12)]
    sfd2 = write(flat, "flat")
    out2 = {(r.window_hour, r.rank): (r.user_id, r.n_occ)
            for r in registry.REGISTRY["events_sliding_topk"].fn(
                spark, sfd2).collect()}
    registry.release_pins()
    cells2 = {}
    for us, u in flat:
        h = us // hour
        cells2[(h, u)] = cells2.get((h, u), 0) + 1
    expect2 = _py_sliding_topk(cells2, SW_HOURS, SLT_TOP)
    assert out2 == expect2
