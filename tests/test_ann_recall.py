"""ANN quality: recall of the approximate paths against brute force.

Oracle parity proves each ANN query computes ITS OWN definition correctly;
this asserts the definitions are *good* — the approximate neighbor sets
actually recover most of the exact top-k.

Two corpora:

- The driver's synthetic embeddings are i.i.d. (no cluster structure), so
  distance concentration caps what ANY space-partitioning index can do —
  the floors there guard machinery, not literature numbers. (r1's
  IVF ≈ 0.92 on this corpus was an artifact of the first-16-vectors
  centroid stand-in: queries 0-9 WERE centroids 0-9, so each query's
  neighbors landed in its own list. k-means-trained centroids remove the
  artifact; honest i.i.d. recall at nprobe=2/nlist=16 measures ≈ 0.72.)
- A deterministic CLUSTERED corpus (64 planted clusters), where training
  must discover structure: trained centroids/codebooks must beat the
  untrained first-K stand-ins and clear literature-grade floors.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.operators import kmeans as km
from nats_stream_processor_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE

SF = "/root/testdata/sf0.01"


def pairs(spark, name):
    return {(r.query_id, r.neighbor_id)
            for r in registry.REGISTRY[name].fn(spark, SF).collect()}


@pytest.mark.parametrize("name,min_recall", [
    ("sim_ann_ivf", 0.6),   # nprobe=2/nlist=16, i.i.d. corpus: ~0.72 measured
    ("sim_ann_lsh", 0.5),   # L=8 tables x 4 planes, union of collisions
])
def test_ann_recall_vs_brute_force(spark, name, min_recall):
    exact = pairs(spark, "sim_cosine_topk")
    approx = pairs(spark, name)
    recall = len(approx & exact) / len(exact)
    assert recall >= min_recall, f"{name} recall {recall:.2f} < {min_recall}"


def test_pq_recall_vs_exact_l2(spark):
    """PQ ranks by L2 (not cosine), so its floor is measured against the
    exact squared-L2 top-5. ~0.2 measured on the i.i.d. embeddings; the
    floor guards against machinery regressions — the clustered-corpus test
    below is where codebook quality is asserted."""
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    exact = set()
    for qid in range(10):
        q = vecs[qid]
        d = sorted(((sum((a - b) ** 2 for a, b in zip(q, vecs[v])), v)
                    for v in vecs if v != qid))
        exact |= {(qid, v) for _, v in d[:5]}
    approx = pairs(spark, "sim_ann_pq")
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.1, f"pq recall {recall:.2f}"


# ------------------------------------------------- clustered-corpus training


N_VECS, N_CLUSTERS, DIM, NOISE = 400, 64, 64, 0.2


@pytest.fixture(scope="module")
def clustered(spark):
    """Deterministic corpus with planted cluster structure + its exact
    neighbor sets."""
    rng = np.random.RandomState(7)
    centers = rng.randn(N_CLUSTERS, DIM)
    cl = rng.randint(0, N_CLUSTERS, size=N_VECS)
    V = centers[cl] + NOISE * rng.randn(N_VECS, DIM)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(N_VECS)],
        "vec_id long, demb array<double>",
    )
    return V, df


def _exact_cosine_top5(V):
    c = (V @ V.T) / (np.linalg.norm(V, axis=1)[:, None]
                     * np.linalg.norm(V, axis=1)[None, :])
    np.fill_diagonal(c, -9)
    return {(q, v) for q in range(10) for v in np.argsort(-c[q])[:5]}, c


def _ivf_recall(V, cents, nprobe):
    cents = np.asarray(cents)
    exact, cos_all = _exact_cosine_top5(V)
    cosc = (V @ cents.T) / (np.linalg.norm(V, axis=1)[:, None]
                            * np.linalg.norm(cents, axis=1)[None, :])
    assign = cosc.argmax(1)
    hit = 0
    for q in range(10):
        probes = np.argsort(-cosc[q])[:nprobe]
        cand = [v for v in range(len(V)) if v != q and assign[v] in probes]
        top = sorted(cand, key=lambda v: -cos_all[q][v])[:5]
        hit += len({(q, v) for v in top} & exact)
    return hit / len(exact)


def test_ivf_kmeans_training_beats_untrained(clustered):
    """On clustered data, trained coarse centroids put each query's
    neighbors in its probed list at nprobe=1 — the untrained first-K
    stand-in misses clusters that no early vector happens to cover."""
    V, df = clustered
    trained = km.train_ivf_centroids(df, 16)
    untrained = [list(map(float, V[i])) for i in range(16)]
    r_trained = _ivf_recall(V, trained, nprobe=1)
    r_untrained = _ivf_recall(V, untrained, nprobe=1)
    # 16 coarse centroids over 64 planted clusters (~4 clusters/list):
    # 0.90 measured at nprobe=1; untrained first-16 measures lower.
    assert r_trained >= 0.85, f"trained IVF recall {r_trained:.2f}"
    assert r_trained > r_untrained, (
        f"training gave no lift: {r_trained:.2f} <= {r_untrained:.2f}")


def _pq_recall(V, cb):
    cbn = np.array(cb)
    m, _, sub = cbn.shape
    d2 = ((V[:, None, :] - V[None, :, :]) ** 2).sum(-1)
    np.fill_diagonal(d2, np.inf)
    exact = {(q, v) for q in range(10) for v in np.argsort(d2[q])[:5]}
    codes = np.empty((len(V), m), dtype=int)
    for s in range(m):
        sl = V[:, s * sub:(s + 1) * sub]
        codes[:, s] = ((sl[:, None, :] - cbn[s][None, :, :]) ** 2).sum(-1).argmin(1)
    hit = 0
    for q in range(10):
        adc = np.zeros(len(V))
        for s in range(m):
            lut = ((V[q, s * sub:(s + 1) * sub][None, :] - cbn[s]) ** 2).sum(-1)
            adc += lut[codes[:, s]]
        adc[q] = np.inf
        hit += len({(q, int(v)) for v in np.argsort(adc)[:5]} & exact)
    return hit / len(exact)


def test_pq_kmeans_training_beats_untrained(clustered):
    """Trained per-subspace codebooks separate the 64 planted clusters
    (recall ~0.76 measured); the first-16-vectors codebook measures ~0.68.
    Floors sit below measurement with slack for corpus regeneration."""
    V, df = clustered
    cb_trained = km.train_pq_codebook(df)
    cb_untrained = sim.pq_codebook_from(
        [[float(x) for x in V[i]] for i in range(sim.PQ_K)])
    r_trained = _pq_recall(V, cb_trained)
    r_untrained = _pq_recall(V, cb_untrained)
    assert r_trained >= 0.65, f"trained PQ recall {r_trained:.2f}"
    assert r_trained > r_untrained, (
        f"training gave no lift: {r_trained:.2f} <= {r_untrained:.2f}")


def test_trained_centroids_are_deterministic(clustered):
    """Training must be replayable (the DuckDB oracle re-derives it):
    two runs produce bit-identical centroids."""
    _, df = clustered
    a = km.train_ivf_centroids(df, 8, iters=1, sample_n=128)
    b = km.train_ivf_centroids(df, 8, iters=1, sample_n=128)
    assert a == b


def test_inprocess_and_distributed_trainers_agree(clustered):
    """The in-process default trainer and the all-Spark distributed twin
    must be fold-for-fold arithmetic-identical (bit-equal floats), so the
    oracle CTE replay covers both."""
    _, df = clustered
    assert (km.train_ivf_centroids(df, 8, iters=2, sample_n=128)
            == km.train_ivf_centroids_distributed(df, 8, iters=2,
                                                  sample_n=128))
    assert (km.train_pq_codebook(df, iters=1, sample_n=128)
            == km.train_pq_codebook_distributed(df, iters=1, sample_n=128))


def test_ivf_sizing_functions():
    """The production sizing (nlist ~ sqrt(N/39), pow2-snapped) floors at
    the pinned registry constant for every tested corpus, and grows at
    real scale — so pinned oracles and auto-sized training agree at test
    sf while a 100 TB corpus still gets a sane quantizer."""
    from nats_stream_processor_spark.queries.ivf import IVF_NLIST
    assert km.IVF_NLIST_FLOOR == IVF_NLIST
    for n in (0, 500, 5_000, 38_000):  # every tested sf lands on the floor
        assert km.ivf_nlist_for(n) == km.IVF_NLIST_FLOOR
    assert km.ivf_nlist_for(1_000_000) == 128
    assert km.ivf_nlist_for(1_000_000_000) == 4096
    assert km.ivf_nlist_for(40_000_000_000) == 16384
    assert km.ivf_nlist_for(10**14) == 1 << 16  # capped
    # sample bound: >= 39 per centroid, floored and capped
    assert km.train_sample_for(km.IVF_NLIST_FLOOR) == km.TRAIN_SAMPLE_N
    assert km.train_sample_for(km.IVF_NLIST_FLOOR) == km.TRAIN_SAMPLE_N
    assert km.train_sample_for(128) == 39 * 128
    assert km.train_sample_for(1 << 16) == km.TRAIN_SAMPLE_CAP


def test_ivf_auto_sizing_matches_pinned_at_test_scale(clustered):
    """train_ivf_centroids with k=None must reproduce the pinned-k result
    on a test-scale corpus (the floor region), so registry queries and the
    production auto-sized path are the same index here."""
    _, df = clustered
    auto = km.train_ivf_centroids(df)
    pinned = km.train_ivf_centroids(df, km.IVF_NLIST_FLOOR)
    assert auto == pinned


def test_ivf_int8_recall_vs_exact_dot(spark):
    """The IVF+int8 composition ranks by (dequantized) inner product
    inside the probed lists; its top-5 must recover most of the exact
    float-dot brute-force top-5. Measured ~0.72 on the i.i.d. corpus
    (the loss is IVF probing, not quantization — int8 alone holds >=0.8
    vs float dot, test_llm_ext); floor guards the machinery."""
    approx = pairs(spark, "sim_ann_ivf_int8")
    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}
    exact = set()
    for q in range(10):
        dots = sorted(
            ((sum(a * b for a, b in zip(emb[q], v)), vid)
             for vid, v in emb.items() if vid != q),
            key=lambda t: (-t[0], t[1]))
        exact.update((q, vid) for _, vid in dots[:5])
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"ivf-int8 recall {recall:.2f}"


# ----------------------------------------------- graph-search recall


@pytest.fixture(scope="module")
def clustered_sf(spark, tmp_path_factory):
    """The planted-cluster corpus written as a driver-style embeddings
    table (one dir usable as an sf_dir), shared by the graph-ANN
    recall tests; returns (sf_dir, duckdb_connection)."""
    import duckdb

    d = tmp_path_factory.mktemp("clustered_sf")
    rng = np.random.RandomState(7)
    centers = rng.randn(N_CLUSTERS, DIM)
    cl = rng.randint(0, N_CLUSTERS, size=N_VECS)
    V = centers[cl] + NOISE * rng.randn(N_VECS, DIM)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]], int(cl[i]))
         for i in range(N_VECS)],
        "vec_id long, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet"))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"'{d}/embeddings.parquet/*.parquet'")
    return str(d), con


def _run_vs_oracle(spark, con, sf_dir, name):
    entry = registry.REGISTRY[name]
    rows = sorted(tuple(r) for r in entry.fn(spark, sf_dir).collect())
    oracle_rows = sorted(tuple(r) for r in con.sql(entry.oracle).fetchall())
    assert rows == oracle_rows, name
    return rows


def test_graph_search_recall_on_clustered_corpus(spark, clustered_sf):
    """Greedy beam search over the NN-Descent graph must NAVIGATE when
    the corpus has neighborhood structure: on the planted-cluster
    corpus (run through the real registry query AND its DuckDB
    oracle), recall@10 must clear 0.5 while visiting well under the
    full corpus, and must beat the visited-fraction baseline (what
    blind random visiting would score). On the i.i.d. driver
    embeddings the same operator honestly reports near-baseline
    recall — distance concentration again, see the module docstring —
    so the navigation claim is asserted HERE, where the data can
    support it. Measured: recall 0.75, visited ~52%, baseline 0.52."""
    sf_dir, con = clustered_sf
    rows = _run_vs_oracle(spark, con, sf_dir, "graph_greedy_search")
    n_q = len(rows)
    recall = sum(r[2] for r in rows) / (10 * n_q)
    visited_frac = sum(r[1] for r in rows) / (n_q * N_VECS)
    assert recall >= 0.5, f"clustered-corpus recall {recall:.2f}"
    assert visited_frac < 0.7, f"visited {visited_frac:.2f} of corpus"
    assert recall > visited_frac, (
        f"no navigation lift: recall {recall:.2f} <= "
        f"visited baseline {visited_frac:.2f}")


def test_beam_sweep_curve_on_clustered_corpus(spark, clustered_sf):
    """The beam sweep must expose a genuine cost/recall CURVE where the
    data supports navigation: on the planted-cluster corpus recall
    rises strictly with the beam (measured 0.20 -> 0.32 -> 0.67 ->
    0.78) and the widest beam clears 0.6, while visited cost rises
    with every step. Engine parity asserted against the oracle."""
    sf_dir, con = clustered_sf
    rows = _run_vs_oracle(spark, con, sf_dir, "graph_beam_sweep")
    rows = sorted(rows)
    rec = [r[3] for r in rows]
    vis = [r[1] for r in rows]
    assert all(b > a for a, b in zip(rec, rec[1:])), rec
    assert all(b > a for a, b in zip(vis, vis[1:])), vis
    assert rec[-1] >= 600000, f"max-beam recall {rec[-1]} ppm"


def test_knn_insert_quality_on_clustered_corpus(spark, clustered_sf):
    """HNSW-style insertion must CONNECT WELL where the data supports
    navigation: each held-out vector's searched edges recover most of
    its true base top-K on the planted-cluster corpus (measured
    aggregate recall 0.625 vs a 0.52 visited baseline), while visiting
    strictly under the base corpus. Engine parity asserted against the
    oracle."""
    sf_dir, con = clustered_sf
    rows = _run_vs_oracle(spark, con, sf_dir, "graph_knn_insert")
    from nats_stream_processor_spark.queries.graph import GI_M, ND_K
    nb = N_VECS - GI_M
    recall = sum(r[2] for r in rows) / (ND_K * len(rows))
    visited_frac = sum(r[1] for r in rows) / (len(rows) * nb)
    assert len(rows) == GI_M
    assert recall >= 0.5, f"insert recall {recall:.2f}"
    assert all(r[1] < nb for r in rows)
    assert recall > visited_frac, (
        f"no navigation lift: {recall:.2f} <= {visited_frac:.2f}")


def test_rebuild_decision_curve_on_clustered_corpus(spark, clustered_sf):
    """Successive insertion must stay USEFUL where the data supports
    navigation: on the planted-cluster corpus every insert batch's
    connected-edge recall clears a floor, and the second batch — which
    searches the graph grown by the first — does not collapse (the
    drift the operator exists to measure stays modest at two batches).
    Engine parity asserted against the oracle."""
    sf_dir, con = clustered_sf
    rows = sorted(_run_vs_oracle(
        spark, con, sf_dir, "graph_rebuild_decision"))
    from nats_stream_processor_spark.queries.graph import GR_B
    assert [r[0] for r in rows] == list(range(1, GR_B + 1))
    assert rows[0][5] == 0  # drop measured from batch 1
    for r in rows:
        recall = r[3] / 1e6
        assert recall >= 0.4, f"batch {r[0]} insert recall {recall:.2f}"
    # grown-graph batch keeps at least half of batch 1's recall
    assert rows[-1][3] * 2 >= rows[0][3], rows


def test_rebuild_execute_regains_recall_on_clustered_corpus(
        spark, clustered_sf):
    """The ACT step must pay off where the data supports navigation: on
    the planted-cluster corpus the full rebuild's re-search recall
    strictly exceeds the insertion-time edge recall (measured 0.49 ->
    0.56, +66,666 ppm regained — the receipt that the policy's edge
    budget buys recall back), the rebuild emits exactly the budgeted
    |corpus| x K edges (candidate sets are supersets of the K-edge
    stride init here, so every node fills its K slots), and the
    post-rebuild recall clears the same floor the fresh-build search
    clears. Engine parity asserted against the oracle (deterministic:
    seeded fixture, integer ppm arithmetic on both engines)."""
    sf_dir, con = clustered_sf
    rows = _run_vs_oracle(spark, con, sf_dir, "graph_rebuild_execute")
    from nats_stream_processor_spark.queries.graph import GR_B, GR_M, ND_K
    (r,) = rows
    assert r[0] == GR_B * GR_M              # n_inserted
    assert r[7] == N_VECS * ND_K               # budget = |corpus| x K
    assert r[6] == r[7]                           # built == budget here
    assert r[4] >= 400000, f"post-rebuild recall {r[4]} ppm"
    assert r[5] > 0, f"rebuild regained {r[5]} ppm (must be positive)"


def test_rrf_matches_python_fusion_of_ranker_outputs(spark):
    """Recompute the fusion in Python from the two ranker outputs (BM25's
    query is itself value-certified against its oracle; the dense pool is
    re-derived exactly via the shared left-fold/ppm helpers in
    test_llm_ext4) and compare the fused rows exactly."""
    from nats_stream_processor_spark.queries.similarity import (
        MMR_QNORM,
        MMR_QUERY,
        RRF_K,
        RRF_POOL,
        RRF_TOPK,
    )
    sf = SF_SMOKE
    bm = {r.doc_id: r.rank for r in
          registry.REGISTRY["text_bm25_topk"].fn(spark, sf).collect()}
    registry.release_pins()
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rel = {}
    for v, e in vecs.items():
        nrm = math.sqrt(dot(e, e))
        rel[v] = math.floor(dot(MMR_QUERY, e)
                            / (MMR_QNORM * nrm) * 1e6 + 0.5)
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:RRF_POOL]
    dn = {v: i + 1 for i, v in enumerate(pool)}
    scores = {}
    for d in set(bm) | set(dn):
        s = 0
        if d in bm:
            s += 1_000_000_000 // (RRF_K + bm[d])
        if d in dn:
            s += 1_000_000_000 // (RRF_K + dn[d])
        scores[d] = s
    expect = [(d, bm.get(d, 0), dn.get(d, 0), scores[d])
              for d in sorted(scores, key=lambda d: (-scores[d], d))
              [:RRF_TOPK]]
    got = [(r.doc_id, r.rank_bm25, r.rank_dense, r.rrf_score)
           for r in registry.REGISTRY["sim_rrf_fusion"].fn(spark, sf)
           .collect()]
    registry.release_pins()
    assert got == expect
    # docs in BOTH pools must outrank equal-rank single-pool docs
    both = [g for g in got if g[1] > 0 and g[2] > 0]
    assert got, "fusion returned nothing"
    if both:
        assert got[0][3] >= max(g[3] for g in got)
