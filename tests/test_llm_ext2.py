"""Invariants of similarity, curation and dedup queries the
oracle hash cannot express: power-iteration PCA must actually recover a
planted dominant direction, PSI must be ~0 on identical distributions and
positive under drift, and the cascade funnel must account every document
exactly once per stage on a constructed corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nats_stream_processor_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _run(spark, name, sf=SF):
    return registry.REGISTRY[name].fn(spark, sf)


def test_pca_recovers_planted_direction(spark, tmp_path):
    """Embeddings = strong +/- e0 component plus small deterministic noise
    in other dims: after 3 power-iteration rounds the per-vector scores
    must align with the e0 coordinate (sign-agnostic correlation > 0.99),
    and scores must be centered (mean ~ 0, since PCA centers first)."""
    import math

    dim = 64
    rows = []
    for i in range(60):
        sign = 1.0 if i % 2 == 0 else -1.0
        v = [0.0] * dim
        v[0] = sign * (1.0 + (i % 7) * 0.1)        # dominant axis
        v[1] = ((i * 37) % 11 - 5) * 0.02          # small noise dims
        v[2] = ((i * 53) % 13 - 6) * 0.02
        rows.append((i, [float(x) for x in v], i % 3))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    got = {r.vec_id: r.pc1_score
           for r in _run(spark, "embed_pca_power_iteration", sf).collect()}
    assert len(got) == 60
    x = [rows[i][1][0] for i in range(60)]          # true e0 coordinate
    y = [got[i] for i in range(60)]
    mx, my = sum(x) / 60, sum(y) / 60
    cov = sum((a - mx) * (b - my) for a, b in zip(x, y))
    sx = math.sqrt(sum((a - mx) ** 2 for a in x))
    sy = math.sqrt(sum((b - my) ** 2 for b in y))
    corr = cov / (sx * sy)
    assert abs(corr) > 0.99, corr
    assert abs(my) < 0.05, my  # centered projection


def test_psi_zero_on_identical_and_positive_on_drift(spark, tmp_path):
    """Same-length docs in both splits -> every bucket contributes ~0 ppm.
    The real-corpus run must produce a finite total equal to the sum of
    its per-bucket contributions (the column contract)."""
    rows = []
    for i in range(400):
        # identical length distribution in train (95%) and val (5%):
        # length depends only on i % 20, independent of the split hash
        rows.append((i, "tok " * (8 + (i % 20)), "en", "s0", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = _run(spark, "corpus_psi_drift", sf).collect()
    total = out[0].psi_total_ppm
    assert total == sum(r.psi_contrib_ppm for r in out)
    # identical distributions: PSI well under the 0.1 alarm (100000 ppm);
    # smoothing + finite-sample wobble keeps it near zero, not exactly 0
    assert abs(total) < 20000, total

    real = _run(spark, "corpus_psi_drift").collect()
    assert len(real) >= 2
    assert real[0].psi_total_ppm == sum(r.psi_contrib_ppm for r in real)


def test_cascade_counts_constructed(spark, tmp_path):
    """Constructed corpus: 2 byte-dups, 1 normalized-only dup, 2 near-dups
    (high shingle overlap), 2 unique. Every stage's n_out must equal the
    next stage's n_in, and the removal counts must match the plant."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base),
        (2, base),                       # byte-dup of 1 -> removed at exact
        (3, base.upper() + "!!!"),       # normalized-dup of 1 -> stage 2
        (4, base + " extra tail words"), # near-dup of 1 -> stage 3
        (5, "completely different content about oranges and apples here "
            "with many extra unrelated tokens filling the document"),
        (6, "another unique document that shares nothing with the rest "
            "of this tiny corpus at all in any shingle"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = {r.stage: r for r in _run(spark, "dedup_cascade_report", sf).collect()}
    assert out["exact"].n_in == 6
    assert out["exact"].n_removed == 1          # doc 2
    assert out["exact"].n_out == out["normalized"].n_in == 5
    assert out["normalized"].n_removed == 1     # doc 3
    assert out["normalized"].n_out == out["near_dup"].n_in == 4
    assert out["near_dup"].n_removed == 1       # doc 4
    assert out["near_dup"].n_out == 3


def test_threshold_sweep_monotone_and_consistent(spark):
    """Pair/doc counts must be non-increasing in the threshold, and the
    0.5 row must agree with dedup_minhash_lsh's pair count (same pipeline,
    fixed threshold)."""
    sweep = {r.threshold_pct: r
             for r in _run(spark, "dedup_minhash_threshold_sweep").collect()}
    ts = sorted(sweep)
    for a, b in zip(ts, ts[1:]):
        assert sweep[a].n_pairs >= sweep[b].n_pairs
        assert sweep[a].n_docs >= sweep[b].n_docs
    registry.release_pins()
    n50 = _run(spark, "dedup_minhash_lsh").count()
    if 50 in sweep:
        assert sweep[50].n_pairs == n50


def test_span_removal_union_of_overlapping_spans(spark, tmp_path):
    """Two docs share a 21-token run -> 6 overlapping 16-token dup spans
    per doc whose UNION covers exactly 21 tokens; a third unique doc must
    report zero coverage."""
    shared = " ".join(f"tok{i}" for i in range(21))
    rows = [
        (1, shared + " unique one ending here alpha beta gamma delta"),
        (2, shared + " other tail entirely different words epsilon zeta"),
        (3, "no overlap with anything else at all " * 3),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in _run(spark, "dedup_span_removal_plan", sf).collect()}
    assert out[1].n_dup_spans == 6 and out[1].tokens_covered == 21
    assert out[2].n_dup_spans == 6 and out[2].tokens_covered == 21
    assert out[3].n_dup_spans == 0 and out[3].tokens_covered == 0
    assert out[1].coverage_ppm == 21 * 1_000_000 // out[1].n_tokens


def test_kcenter_greedy_picks_extremes(spark, tmp_path):
    """On a crafted set — tight cluster at the origin plus three distant
    outliers — greedy k-center must select all outliers before any
    cluster member, and selection distances must be non-increasing (the
    farthest-point invariant)."""
    dim = 64
    rows = []
    for i in range(20):  # tight cluster near origin
        v = [0.0] * dim
        v[3] = (i % 5) * 0.01
        rows.append((i, v, 0))
    for j, (axis, mag) in enumerate([(0, 50.0), (1, 40.0), (2, 30.0)]):
        v = [0.0] * dim
        v[axis] = mag
        rows.append((100 + j, v, 1))  # outliers, ids 100-102
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    out = _run(spark, "sample_coreset_kcenter", sf).collect()
    picked = [r.vec_id for r in out]
    assert picked[0] == 0                       # seed = min vec_id
    assert set(picked[1:4]) == {100, 101, 102}  # outliers first
    dists = [r.sel_dist6 for r in out[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))


def test_waterfill_budget_exact_and_caps_largest(spark):
    """sum(allocated) must equal the integer budget EXACTLY; uncapped
    sources are taken whole; capped allocations differ by at most one
    token (even split + remainder); and every capped source is at least
    as large as every uncapped one."""
    rows = _run(spark, "curation_mixture_waterfill").collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * 50 // 100
    assert sum(r.allocated for r in rows) == budget
    capped = [r for r in rows if r.capped]
    uncapped = [r for r in rows if not r.capped]
    for r in uncapped:
        assert r.allocated == r.n_tokens
    if capped:
        allocs = [r.allocated for r in capped]
        assert max(allocs) - min(allocs) <= 1
        if uncapped:
            assert min(r.n_tokens for r in capped) >= max(
                r.n_tokens for r in uncapped)


def test_session_paths_constructed(spark, tmp_path):
    """Two users, one with a session split by a >30min gap: paths must be
    the leading event types per session in (ts, event_id) order, capped
    at 4."""
    from datetime import datetime as dt
    base = dt(2024, 1, 1, 12, 0, 0)
    from datetime import timedelta as td
    ev = [
        # user 1, one session of 5 events -> path = first 4
        (1, base, 1, "view"), (2, base + td(seconds=10), 1, "click"),
        (3, base + td(seconds=20), 1, "cart"),
        (4, base + td(seconds=30), 1, "purchase"),
        (5, base + td(seconds=40), 1, "view"),
        # user 2: two sessions split by 31 min
        (6, base, 2, "view"), (7, base + td(seconds=5), 2, "click"),
        (8, base + td(minutes=40), 2, "view"),
    ]
    df = spark.createDataFrame(
        [(e, t, u, ty, 1.0, "{}") for e, t, u, ty in ev],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {r.path: r.n_sessions
           for r in _run(spark, "events_session_paths", sf).collect()}
    assert got == {"view>click>cart>purchase": 1, "view>click": 1, "view": 1}


def test_pq_distortion_positive_and_complete(spark):
    """One row per subspace, every distortion strictly positive (the
    synthetic corpus is not degenerate), vector count = corpus size."""
    rows = _run(spark, "sim_pq_distortion_report").collect()
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert [r.subspace for r in rows] == list(range(1, 9))
    for r in rows:
        assert r.n_vectors == n_vec
        assert r.mean_distortion6 > 0


def test_doremi_weights_normalize_and_follow_excess(spark):
    """Weights must normalize to ~1 (ppm rounding slack), token-weighted
    excess must center near zero, and the hardest source (max excess)
    must gain weight relative to its token-share baseline."""
    rows = _run(spark, "curation_doremi_weights").collect()
    total_w = sum(r.weight_ppm for r in rows)
    assert abs(total_w - 1_000_000) <= len(rows)
    tot_tokens = sum(r.n_tokens for r in rows)
    weighted_excess = sum(r.excess6 * r.n_tokens for r in rows) / tot_tokens
    assert abs(weighted_excess) < 1e-3
    hardest = max(rows, key=lambda r: r.excess6)
    share_ppm = hardest.n_tokens * 1_000_000 // tot_tokens
    assert hardest.weight_ppm >= share_ppm


def test_percentile_approx_within_tolerance_and_ordered(spark):
    """The GK sketch must sit within the 5% tolerance band at every
    probed quantile, and exact percentiles must be monotone in p."""
    rows = {r.p_pct: r
            for r in _run(spark, "agg_percentile_approx_check").collect()}
    assert sorted(rows) == [50, 90, 99]
    assert all(rows[p].approx_ok for p in rows)
    assert rows[50].exact6 <= rows[90].exact6 <= rows[99].exact6


def test_pii_rates_consistent(spark):
    """Counts must be bounded by doc counts, rates by the ppm scale, and
    the total doc count must match the corpus."""
    rows = _run(spark, "text_pii_rate_by_source").collect()
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert 0 <= r.n_with_email <= r.n_docs
        assert 0 <= r.n_with_url <= r.n_docs
        assert 0 <= r.email_rate_ppm <= 1_000_000
        assert 0 <= r.url_rate_ppm <= 1_000_000


def test_hubness_conserves_nodes_and_edges(spark):
    """The in-degree histogram must cover every vector exactly once and
    its degree-weighted total must equal the directed edge count of the
    kNN graph."""
    hist = _run(spark, "graph_knn_hubness").collect()
    registry.release_pins()
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r.n_nodes for r in hist) == n_vec
    n_edges = _run(spark, "sim_knn_graph").count()
    assert sum(r.in_degree * r.n_nodes for r in hist) == n_edges


def test_nprobe_sweep_recall_monotone(spark):
    """Recall@5 must be non-decreasing in nprobe (probing more lists can
    only add candidates), bounded by 1.0, and strictly above zero by
    nprobe=8 (half the 16 lists probed)."""
    rows = {r.nprobe: r for r in _run(spark, "sim_ann_nprobe_sweep").collect()}
    assert sorted(rows) == [1, 2, 4, 8]
    rs = [rows[p].recall_ppm for p in (1, 2, 4, 8)]
    assert all(a <= b for a, b in zip(rs, rs[1:]))
    assert all(0 <= r <= 1_000_000 for r in rs)
    assert rs[-1] > 0


def test_ffd_packing_quality_and_conservation(spark):
    """FFD must conserve docs and tokens vs doc-intact packing on the same
    inputs, respect the 2048 capacity for every multi-doc bin, and meet the
    any-fit quality guarantee: among a shard's regular (<= capacity) bins,
    at most ONE may end at most half full — if two did, the later-opened
    bin's first (largest remaining, <= 1024) doc would have fit in the
    earlier bin, contradicting first-fit. (A direct <=-doc-intact bin-count
    comparison is NOT a valid invariant: doc-intact bins are start//2048
    groups that may overflow capacity, so two 1200-token docs legally give
    1 intact bin vs 2 FFD bins.)"""
    ffd = _run(spark, "pack_sequences_first_fit").collect()
    registry.release_pins()
    intact = _run(spark, "pack_sequences_doc_intact").collect()
    assert sum(r.n_docs for r in ffd) == sum(r.n_docs for r in intact)
    assert sum(r.n_tokens for r in ffd) == sum(r.n_tokens for r in intact)
    from collections import Counter
    half_empty = Counter()
    for r in ffd:
        if r.n_docs > 1:
            # only a single oversize doc may exceed capacity
            assert r.n_tokens <= 2048
        if r.n_tokens <= 1024:
            half_empty[r.shard] += 1
    for sh, n in half_empty.items():
        assert n <= 1, (sh, n)


def test_quality_vs_dup_bins_partition_and_r_bounded(spark):
    """Quartile bins must partition the corpus exactly; Pearson r must be
    a valid correlation (|r| <= 1) and identical on every row; per-bin
    mean coverage must be bounded by the ppm scale."""
    rows = _run(spark, "curation_quality_vs_dup").collect()
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    rs = {r.pearson_r6 for r in rows}
    assert len(rs) == 1
    assert abs(rs.pop()) <= 1.0
    for r in rows:
        assert 0 <= r.mean_cov_ppm <= 1_000_000


def test_heavy_hitters_match_exact_topk(spark):
    """The sharded candidate path must reproduce the exact global top-10
    (count, ordering, and tie-breaks) on the real events table."""
    got = [(r.rank, r.user_id, r.n_events)
           for r in _run(spark, "events_heavy_hitters").collect()]
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = (ev.groupBy("user_id").count()
             .orderBy(F.col("count").desc(), "user_id").limit(10).collect())
    want = [(i + 1, r.user_id, r["count"]) for i, r in enumerate(exact)]
    assert got == want
