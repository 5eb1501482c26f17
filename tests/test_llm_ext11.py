"""Correctness of the moments, IVM, SCD2, bootstrap, calibration and tagging operators:

- events_moments_merge: plain-Python replication at sf0.001 (quantize ->
  exact integer power sums -> the same IEEE op sequence), a planted
  known-moments fixture (explicit mean/variance/skewness of a hand
  analyzable value set), and the merge theorem itself — per-hour partials
  merged must equal a direct single-group computation bit-for-bit because
  the sums are integers.
- ivm_agg_delta: the equality flag must be TRUE for every group (it is a
  theorem of the exact-decimal discipline, asserted at sf0.001), the
  base/delta decomposition must cover the table, and a planted fixture
  pins the watermark boundary (an order AT the watermark timestamp is
  delta, one microsecond before is base).
- events_theil_sen_trend: plain-Python pairwise-slope-median replication,
  plus the robustness claim itself (a planted linear series with one wild
  burst day keeps slope exactly 2.0).
- scd2_build_intervals: plain-Python run-length fold replication (bounds
  chain, version numbering, is_current), plus a hand-built A A B A
  changelog with explicit interval bounds.
- corpus_bootstrap_ci: full plain-Python replication (md5 uniforms ->
  Poisson CDF weights -> replica means -> order-statistic CI picks).
- score_calibration_report: must equal the plain-Python rebinning of
  score_quality_logreg's certified per-document probabilities; bin
  invariants (totals, in-bin means, gap bounds).
- sim_mutual_nn_pairs: reciprocity against the kNN graph's rn=1 edges
  (both directions of the iff), planted-cluster alignment.
- text_gazetteer_mentions: plain-Python positional-match replication,
  order-sensitivity ('join hash' does not match 'hash join'), and the
  sub-phrase-length fence (Spark sequence(1, n<1) counts down).
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


# ------------------------------------------------ events_moments_merge


def _py_moments(values):
    """The module's documented estimator, replicated in plain Python:
    unit-grid quantization, exact integer power sums, then the pinned
    IEEE op sequence."""
    vs = [math.floor(v + 0.5) for v in values]
    n = len(vs)
    s1, s2, s3 = sum(vs), sum(v * v for v in vs), sum(v ** 3 for v in vs)
    nd = float(n)
    mean = s1 / nd
    ex2 = s2 / nd
    var = s2 / nd - mean * mean
    skew = (s3 / nd - 3.0 * mean * ex2 + 2.0 * mean ** 3) / (
        math.sqrt(var) * var)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    return n, r6(mean), r6(var), r6(skew)


def test_moments_merge_matches_python_reference(spark):
    import duckdb
    rows = {r["event_type"]: r for r in registry.REGISTRY[
        "events_moments_merge"].fn(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT event_type, value FROM '{SF_SMOKE}/events.parquet' "
        "WHERE value IS NOT NULL").fetchall()
    by_type: dict[str, list[float]] = {}
    for t, v in raw:
        by_type.setdefault(t, []).append(v)
    assert set(rows) == set(by_type)
    for t, vals in by_type.items():
        n, mean, var, skew = _py_moments(vals)
        r = rows[t]
        assert r["n_events"] == n
        assert r["mean_value"] == pytest.approx(mean, abs=1e-9)
        assert r["variance"] == pytest.approx(var, abs=1e-9)
        assert r["skewness"] == pytest.approx(skew, abs=1e-9)
        assert r["n_hours"] >= 1


def test_moments_merge_planted_known_values(spark, tmp_path):
    """Values {0, 0, 0, 12} per type: mean 3, variance 27,
    skewness (E[x^3] - 3 m E[x^2] + 2 m^3) / var^1.5
    = (432 - 3*3*36 + 54) / 27^1.5 = 162 / 140.296... = 2/sqrt(3)."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i, v in enumerate([0.0, 0.0, 0.0, 12.0]):
        # spread across two hours -> n_hours == 2, so the asserted
        # equality exercises an actual merge of unequal partials
        rows.append((i, base + dt.timedelta(hours=i % 2), 1, "t", v, "{}"))
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    out = registry.REGISTRY["events_moments_merge"].fn(
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hours"] == 2 and r["n_events"] == 4
    assert r["mean_value"] == 3.0
    assert r["variance"] == 27.0
    expected_skew = math.floor(2 / math.sqrt(3) * 1e6 + 0.5) / 1e6
    assert r["skewness"] == expected_skew


def test_moments_partials_merge_exactly_to_direct(spark):
    """The merge theorem: because power sums are exact integers, the
    hourly-partial route must equal a direct per-type aggregate not
    approximately but on the ROUNDED 6-dp outputs exactly."""
    from pyspark.sql import functions as F
    from nats_stream_processor_spark.operators import similarity as sim
    from nats_stream_processor_spark.registry import table

    merged = {r["event_type"]: r for r in registry.REGISTRY[
        "events_moments_merge"].fn(spark, SF_SMOKE).collect()}
    ev = table(spark, SF_SMOKE, "events")
    q = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("v"))
    dec = "decimal(38,0)"
    direct = (q.groupBy("event_type")
              .agg(F.count("*").alias("n"),
                   F.sum(F.col("v").cast(dec)).alias("s1"),
                   F.sum((F.col("v") * F.col("v")).cast(dec)).alias("s2"),
                   F.sum((F.col("v") * F.col("v") * F.col("v")).cast(dec))
                    .alias("s3"))
              .select("event_type", "n",
                      (F.col("s1").cast("double") / F.col("n").cast("double"))
                      .alias("mean"),
                      (F.col("s2").cast("double") / F.col("n").cast("double"))
                      .alias("ex2"),
                      F.col("s3").cast("double").alias("s3d"),
                      F.col("n").cast("double").alias("nd")))
    for r in direct.collect():
        mean = r["mean"]
        var = r["ex2"] - mean * mean
        skew = (r["s3d"] / r["nd"] - 3.0 * mean * r["ex2"]
                + 2.0 * mean * mean * mean) / (math.sqrt(var) * var)

        def r6(x):
            return math.floor(x * 1e6 + 0.5) / 1e6

        m = merged[r["event_type"]]
        assert m["mean_value"] == r6(mean)
        assert m["variance"] == r6(var)
        assert m["skewness"] == r6(skew)


# ------------------------------------------------------- ivm_agg_delta


def test_ivm_equality_flag_is_always_true(spark):
    out = registry.REGISTRY["ivm_agg_delta"].fn(spark, SF_SMOKE).collect()
    assert len(out) == 5  # one per o_orderpriority
    for r in out:
        assert r["merged_eq_full"] is True
        assert r["n_base"] + r["n_delta"] == r["n_total"]
    # the watermark must actually split the table, or the proof is vacuous
    assert sum(r["n_base"] for r in out) > 0
    assert sum(r["n_delta"] for r in out) > 0


def test_ivm_planted_watermark_boundary(spark, tmp_path):
    """An order AT the watermark instant belongs to the delta; one
    microsecond earlier belongs to the base (>= semantics, pinned)."""
    import datetime as dt
    from nats_stream_processor_spark.queries.relational import IVM_WATERMARK
    wm = dt.datetime.fromisoformat(IVM_WATERMARK)
    rows = [
        (1, 1, "O", 10.0, wm, "1-URGENT"),                    # delta
        (2, 1, "O", 20.0, wm - dt.timedelta(microseconds=1),  # base
         "1-URGENT"),
        (3, 1, "O", 40.0, wm + dt.timedelta(days=1), "5-LOW"),  # delta
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "orders.parquet"))
    out = {r["o_orderpriority"]: r for r in registry.REGISTRY[
        "ivm_agg_delta"].fn(spark, str(tmp_path)).collect()}
    assert out["1-URGENT"]["n_base"] == 1
    assert out["1-URGENT"]["n_delta"] == 1
    assert out["1-URGENT"]["revenue_total"] == 30.0
    assert out["5-LOW"]["n_base"] == 0
    assert out["5-LOW"]["n_delta"] == 1
    assert all(r["merged_eq_full"] for r in out.values())


# ------------------------------------------------ events_theil_sen_trend


def test_theil_sen_matches_python_reference(spark):
    import duckdb
    rows = {r["event_type"]: r for r in registry.REGISTRY[
        "events_theil_sen_trend"].fn(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        "SELECT event_type, epoch_us(ts) // 86400000000 AS d, "
        f"count(*) AS c FROM '{SF_SMOKE}/events.parquet' "
        "GROUP BY 1, 2").fetchall()
    series: dict[str, dict[int, int]] = {}
    for t, d, c in raw:
        series.setdefault(t, {})[d] = c
    assert set(rows) == set(series)
    for t, dc in series.items():
        days = sorted(dc)
        slopes = sorted(
            ((dc[d2] - dc[d1]) / float(d2 - d1), d1, d2)
            for i, d1 in enumerate(days) for d2 in days[i + 1:])
        med = slopes[(len(slopes) + 1) // 2 - 1][0]
        r = rows[t]
        assert r["n_days"] == len(days)
        assert r["n_pairs"] == len(slopes)
        assert r["slope_per_day"] == math.floor(med * 1e6 + 0.5) / 1e6


def test_theil_sen_robust_to_planted_outlier(spark, tmp_path):
    """A linearly growing series (slope 2/day) with one wild burst day:
    the Theil-Sen slope must stay 2.0 while the OLS slope would not."""
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(11):
        n = 1000 if day == 5 else 10 + 2 * day   # burst at day 5
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=day), 1,
                         "grow", 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    out = registry.REGISTRY["events_theil_sen_trend"].fn(
        spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 11 and r["n_pairs"] == 55
    assert r["slope_per_day"] == 2.0


# ------------------------------------------------ scd2_build_intervals


def test_scd2_matches_python_reference(spark):
    import duckdb
    out = registry.REGISTRY["scd2_build_intervals"].fn(
        spark, SF_SMOKE).collect()
    raw = duckdb.sql(
        "SELECT user_id, event_id, event_type, epoch_us(ts) AS us "
        f"FROM '{SF_SMOKE}/events.parquet' WHERE user_id % 10 = 0 "
        "ORDER BY user_id, us, event_id").fetchall()
    # plain-Python run-length fold
    expected = []
    cur = None  # (user, version, state, from, n)
    prev_user = None
    version = 0
    for u, _e, st, us in raw:
        if u != prev_user:
            if cur:
                expected.append(cur)
            prev_user, version = u, 1
            cur = [u, 1, st, us, 1]
        elif st != cur[2]:
            expected.append(cur)
            version += 1
            cur = [u, version, st, us, 1]
        else:
            cur[4] += 1
    if cur:
        expected.append(cur)
    assert len(out) == len(expected)
    by_key = {(r["user_id"], r["version"]): r for r in out}
    # half-open chain: valid_to == next version's valid_from; last NULL
    for i, (u, v, st, frm, n) in enumerate(expected):
        r = by_key[(u, v)]
        assert r["state"] == st
        assert r["valid_from_us"] == frm
        assert r["n_events"] == n
        nxt = expected[i + 1] if i + 1 < len(expected) else None
        if nxt and nxt[0] == u:
            assert r["valid_to_us"] == nxt[3]
            assert r["is_current"] is False
        else:
            assert r["valid_to_us"] is None
            assert r["is_current"] is True


def test_scd2_planted_changelog(spark, tmp_path):
    """Hand-built changelog: A A B A -> three versions with exact
    bounds; equal-timestamp events break ties by event_id."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)

    def us(minutes):
        return int((t0 + dt.timedelta(minutes=minutes)).timestamp() * 1e6)

    rows = [
        (1, t0 + dt.timedelta(minutes=0), 10, "A", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=1), 10, "A", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=2), 10, "B", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=3), 10, "A", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "events.parquet"))
    out = registry.REGISTRY["scd2_build_intervals"].fn(
        spark, str(tmp_path)).collect()
    assert [(r["version"], r["state"], r["n_events"]) for r in out] \
        == [(1, "A", 2), (2, "B", 1), (3, "A", 1)]
    assert out[0]["valid_from_us"] == us(0)
    assert out[0]["valid_to_us"] == us(2)
    assert out[1]["valid_to_us"] == us(3)
    assert out[2]["valid_to_us"] is None and out[2]["is_current"] is True


# ------------------------------------------------- corpus_bootstrap_ci


def test_bootstrap_ci_matches_python_reference(spark):
    import duckdb
    import hashlib
    from nats_stream_processor_spark.queries.text import (
        BOOT_B,
        _POIS_CDF_MICRO,
    )

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def pois_w(u):
        for i, t in enumerate(_POIS_CDF_MICRO):
            if u < t:
                return i
        return len(_POIS_CDF_MICRO)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    out = {r["source"]: r for r in registry.REGISTRY[
        "corpus_bootstrap_ci"].fn(spark, SF_SMOKE).collect()}
    raw = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()
    by_src: dict[str, list[tuple[int, int]]] = {}
    for did, src, nc in raw:
        by_src.setdefault(src, []).append((did, nc))
    assert set(out) == set(by_src)
    for src, docs in by_src.items():
        means = []
        for rep in range(BOOT_B):
            sw = swc = 0
            for did, nc in docs:
                w = pois_w(h32(f"{did}-{rep}") % 1000000)
                sw += w
                swc += w * nc
            if sw > 0:
                means.append((swc / float(sw), rep))
        means.sort()
        nb = len(means)
        lo = means[(nb + 19) // 20 - 1][0]
        hi = means[(19 * nb + 19) // 20 - 1][0]
        r = out[src]
        assert r["n_docs"] == len(docs)
        assert r["n_replicas"] == nb
        assert r["point_mean"] == r6(sum(nc for _, nc in docs)
                                     / float(len(docs)))
        assert r["ci_lo"] == r6(lo)
        assert r["ci_hi"] == r6(hi)
        assert r["ci_lo"] <= r["ci_hi"]


# -------------------------------------------- score_calibration_report


def test_calibration_composes_scored_probabilities(spark):
    """The report must be exactly the binned view of the per-document
    probabilities score_quality_logreg certifies: rebin that query's
    output in plain Python and compare every column."""
    out = {r["bin"]: r for r in registry.REGISTRY[
        "score_calibration_report"].fn(spark, SF_SMOKE).collect()}
    registry.release_pins()
    scored = registry.REGISTRY["score_quality_logreg"].fn(
        spark, SF_SMOKE).collect()
    import duckdb
    langs = dict(duckdb.sql(
        f"SELECT doc_id, lang FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall())

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    bins: dict[int, list[tuple[int, int]]] = {}
    for r in scored:
        pi = int(round(r["p_en"] * 1e6))  # p_en IS floor(p*1e6+.5)/1e6
        b = min(pi // 100000, 9)
        y = 1 if langs[r["doc_id"]] == "en" else 0
        bins.setdefault(b, []).append((pi, y))
    assert set(out) == set(bins)
    for b, rows in bins.items():
        n = len(rows)
        mp = sum(p for p, _ in rows) / (float(n) * 1e6)
        fp = sum(y for _, y in rows) / float(n)
        assert out[b]["n_docs"] == n
        assert out[b]["mean_pred"] == r6(mp)
        assert out[b]["frac_pos"] == r6(fp)
        assert out[b]["abs_gap"] == r6(abs(mp - fp))


def test_calibration_multibin_tail_and_bin9_clamp(spark):
    """(r12, for the r11 advice item) The multi-bin path and the
    least(pi div 100000, 9) clamp, driven through the operator's REAL
    tail on BOTH engines. The shipped trainer provably cannot produce
    the clamp's operand: each round moves each weight by at most
    LR * max|x| * max|p-y| = 0.5, so after ROUNDS=5 rounds
    |w_j| <= 2.5 and the margin over [0,1] features is <= 10 —
    sigmoid(10) quantizes to pi = 999,955 < 1e6 on ANY corpus (and the
    adversarially-separable planted corpora tried empirically stay
    within ~one bin of 0.5). So the clamp is exercised the only honest
    way: a planted scored(y, pi) table spanning bins 0, 3 and 9 —
    including pi = 1e6 exactly, which must land in bin 9, not a
    phantom bin 10 — through calibration_from_scored (Spark) and
    _cal_tail_sql (DuckDB), with every column replicated in plain
    Python."""
    import duckdb
    from nats_stream_processor_spark.queries.text import (
        _cal_tail_sql,
        calibration_from_scored,
    )

    rows = [(1, 1000000), (1, 1000000), (0, 999999), (1, 950000),
            (0, 300000), (1, 349999), (0, 399999),
            (0, 0), (0, 49999), (1, 99999)]
    scored = spark.createDataFrame(rows, "y long, pi long")
    out = {r.bin: r for r in
           calibration_from_scored(scored).collect()}
    assert set(out) == {0, 3, 9}

    con = duckdb.connect()
    con.sql("CREATE TABLE sc (y BIGINT, pi BIGINT)")
    con.executemany("INSERT INTO sc VALUES (?, ?)", rows)
    oracle_rows = con.sql(
        "WITH scored AS (SELECT * FROM sc)" + _cal_tail_sql()
    ).fetchall()
    spark_rows = sorted(tuple(r) for r in
                        calibration_from_scored(scored).collect())
    assert spark_rows == sorted(oracle_rows)

    def _r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    def expect(bin_rows):
        n = len(bin_rows)
        mp = sum(p for _, p in bin_rows) / (float(n) * 1e6)
        fp = sum(y for y, _ in bin_rows) / float(n)
        return n, _r6(mp), _r6(fp), _r6(abs(mp - fp))

    by_bin: dict[int, list] = {}
    for y, pi in rows:
        by_bin.setdefault(min(pi // 100000, 9), []).append((y, pi))
    assert set(by_bin) == {0, 3, 9}
    assert len(by_bin[9]) == 4  # pi = 1e6 absorbed by the clamp
    for b, r in out.items():
        n, mp, fp, gap = expect(by_bin[b])
        assert (r.n_docs, r.mean_pred, r.frac_pos, r.abs_gap) == \
            (n, mp, fp, gap), b


def test_calibration_trained_margin_stays_under_clamp_threshold(spark):
    """The reachability bound behind the clamp theorem above, pinned
    empirically: train the real logreg on the driver fixture and
    assert the learned weights respect the per-round update bound
    (|w_j| <= ROUNDS * LR), hence every score satisfies pi < 1e6 —
    the clamp cannot bind through the shipped trainer; it guards
    future hyperparameter changes."""
    from nats_stream_processor_spark.operators import logreg as lg
    from nats_stream_processor_spark.functions.text import tokens_col  # noqa: F401
    from pyspark.sql import functions as F
    d = registry.table(spark, SF_SMOKE, "documents")
    fcols = lg.feature_cols(F.col("text"))
    feat = registry.pin(d.select(
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()]))
    weights = lg.train_logreg(feat)
    assert all(abs(w) <= lg.ROUNDS * lg.LR for w in weights), weights
    # margin bound over [0,1] features -> sigmoid -> micro-units
    bound = sum(abs(w) for w in weights)
    pi_max = math.floor(1.0 / (1.0 + math.exp(-bound)) * 1e6 + 0.5)
    assert pi_max < 1000000, (bound, pi_max)


def test_calibration_bins_are_consistent(spark):
    out = registry.REGISTRY["score_calibration_report"].fn(
        spark, SF_SMOKE).collect()
    total = sum(r["n_docs"] for r in out)
    import duckdb
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchone()[0]
    assert total == n_docs
    for r in out:
        # mean predicted probability must lie inside its bin (bin 9
        # also absorbs pi == 1e6 exactly)
        assert r["bin"] / 10.0 <= r["mean_pred"] <= (r["bin"] + 1) / 10.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert r["abs_gap"] <= 1.0


# --------------------------------------------------- sim_mutual_nn_pairs


def test_mutual_nn_pairs_are_reciprocal_best(spark):
    """Every emitted pair must be reciprocal top-1 in the kNN graph,
    and every reciprocal top-1 in the graph must be emitted."""
    from nats_stream_processor_spark.queries.graph import _knn_graph_df
    g = _knn_graph_df(spark, SF_SMOKE).filter("rn = 1").collect()
    registry.release_pins()
    best = {r["src"]: r["dst"] for r in g}
    expected = sorted(
        (a, b) for a, b in best.items()
        if a < b and best.get(b) == a)
    out = registry.REGISTRY["sim_mutual_nn_pairs"].fn(
        spark, SF_SMOKE).collect()
    got = sorted((r["vec_a"], r["vec_b"]) for r in out)
    assert got == expected
    assert len(got) > 0
    for r in out:
        assert r["same_label"] == (r["label_a"] == r["label_b"])


def test_mutual_nn_pairs_planted_clusters_align(spark, tmp_path):
    """Two tight synthetic clusters (base direction + small per-vector
    jitter): every reciprocal best match must stay inside its cluster
    — the hubness-rejection property the operator exists for. (The
    driver corpus's labels are NOT cosine-clustered, so the alignment
    claim is asserted on a planted corpus.)"""
    import random
    rng = random.Random(11)
    dim = 16
    rows = []
    for vid in range(24):
        label = vid % 2
        base = [1.0 if (i % 2 == label) else 0.05 for i in range(dim)]
        vec = [b + rng.uniform(-0.02, 0.02) for b in base]
        rows.append((vid, vec, label))
    d = tmp_path / "emb"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    out = registry.REGISTRY["sim_mutual_nn_pairs"].fn(
        spark, str(d)).collect()
    assert len(out) > 0
    assert all(r["same_label"] for r in out)


# ----------------------------------------------- text_gazetteer_mentions


def test_gazetteer_matches_python_reference(spark):
    import duckdb
    import re
    from nats_stream_processor_spark.queries.text import GAZETTEER
    out = {r["term_id"]: r for r in registry.REGISTRY[
        "text_gazetteer_mentions"].fn(spark, SF_SMOKE).collect()}
    texts = [t for (t,) in duckdb.sql(
        f"SELECT text FROM '{SF_SMOKE}/documents.parquet'").fetchall()]
    assert set(out) == {tid for tid, _ in GAZETTEER}
    for tid, phrase in GAZETTEER:
        ph = phrase.split(" ")
        nd = nm = 0
        for t in texts:
            toks = re.findall("[a-z0-9]+", t.lower())
            hits = sum(1 for i in range(len(toks) - len(ph) + 1)
                       if toks[i:i + len(ph)] == ph)
            nd += 1 if hits else 0
            nm += hits
        r = out[tid]
        assert r["n_words"] == len(ph)
        assert r["n_docs"] == nd
        assert r["n_mentions"] == nm


def test_gazetteer_positional_not_bag_and_short_doc_fence(spark, tmp_path):
    """'hash join' must match only contiguously in order ('join hash'
    does not count); a doc shorter than the phrase contributes zero
    instead of tripping Spark's descending sequence(1, n<1)."""
    texts = [
        "hash join hash join",   # 2 mentions
        "join hash",             # 0 (wrong order)
        "hash",                  # 0 (short doc, 1 token vs 2-word phrase)
        "",                      # 0 (empty)
        "sort merge join",       # trigram + its two bigram prefixes
    ]
    d = tmp_path / "g"
    spark.createDataFrame([(i, t, "en", "s", len(t))
                           for i, t in enumerate(texts)],
                          "doc_id long, text string, lang string, "
                          "source string, n_chars long") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    out = {r["term_id"]: r for r in registry.REGISTRY[
        "text_gazetteer_mentions"].fn(spark, str(d)).collect()}
    assert out["hash_join"]["n_mentions"] == 2
    assert out["hash_join"]["n_docs"] == 1
    assert out["sort_merge_join"]["n_mentions"] == 1
    assert out["sort_merge"]["n_mentions"] == 1
    assert out["window_agg"]["n_mentions"] == 0
    assert out["window_agg"]["n_docs"] == 0
