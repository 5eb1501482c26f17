"""Eval/tuning receipts (queries/similarity.py, dedup.py, ivf.py):

- sim_eval_rank_quality: metric-range invariants on the real fixture,
  the PERFECT-retrieval regime on a planted clustered corpus (every
  query's brute head lives in its own probed list, so hits@K, MRR and
  nDCG must all saturate), and DuckDB oracle parity on that corpus.
- sim_ivf_drift_psi: per-list structure + exact-total law on the
  real fixture, the planted skewed-batch regime blowing the PSI > 0.1
  alarm with the hot list on top, and DuckDB oracle parity.
- dedup_lsh_band_efficiency: structural invariants on the real
  fixture, the identical-docs regime (exact duplicates match in ALL
  bands with the theoretical expectation saturated at
  LSH_BANDS * 1e6 ppm), and DuckDB oracle parity on the planted
  corpus.
"""

from __future__ import annotations

import duckdb

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.operators import similarity as sim
from nats_stream_processor_spark.operators.dedup import LSH_BANDS
from nats_stream_processor_spark.operators.kmeans import TRAIN_SAMPLE_N
from nats_stream_processor_spark.queries.ivf import IVR_NQ, IVR_TOPK

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf_dir):
    rows = registry.REGISTRY[name].fn(spark, sf_dir).collect()
    registry.release_pins()
    return rows


# ------------------------------------------- sim_eval_rank_quality

def test_rank_quality_metric_ranges_on_fixture(spark):
    """One row per panel query; every metric inside its domain; the
    rank/MRR identity holds (mrr_ppm = 1e6 // true_nn_rank, 0 when
    missed); a query whose ANN list contains zero brute hits cannot
    score any nDCG."""
    rows = _run(spark, "sim_eval_rank_quality", SF)
    assert [r.query_id for r in rows] == list(range(IVR_NQ))
    for r in rows:
        assert 0 <= r.ann_hits <= IVR_TOPK
        assert 0 <= r.true_nn_rank <= IVR_TOPK
        assert 0 <= r.ndcg_ppm <= 1_000_000
        if r.true_nn_rank > 0:
            assert r.mrr_ppm == 1_000_000 // r.true_nn_rank
        else:
            assert r.mrr_ppm == 0
        if r.ann_hits == 0:
            assert r.ndcg_ppm == 0


def _planted_clustered_embeddings(spark, tmp_path):
    """16 spread-out anchors (the whole k-means init/sample window —
    centroids stay put) plus, for each of the first IVR_NQ anchors, a
    tight 6-member cluster on its axis (vec_id >= 256). Every panel
    query's brute top-IVR_TOPK therefore lives in its OWN list, which
    nprobe >= 1 always probes — ANN head == brute head, metrics
    saturate."""
    dim = sim.EMBED_DIM
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[(i * 3) % dim] = 1.0
        rows.append((i, v))
    nxt = TRAIN_SAMPLE_N
    for qi in range(IVR_NQ):
        for m in range(6):
            v = [0.0] * dim
            v[(qi * 3) % dim] = 1.0
            v[50 + (m % 4)] = 0.01 * (m + 1)
            rows.append((nxt, v))
            nxt += 1
    d = tmp_path / "sf_emb_cl"
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_rank_quality_saturates_on_clustered_corpus(spark, tmp_path):
    """The perfect-retrieval regime: each query's whole brute head is
    inside its own probed list, so every row must report full hits,
    the true NN at rank 1, MRR = 1e6 and nDCG = 1e6."""
    sf_dir = _planted_clustered_embeddings(spark, tmp_path)
    rows = _run(spark, "sim_eval_rank_quality", sf_dir)
    assert len(rows) == IVR_NQ
    for r in rows:
        assert r.ann_hits == IVR_TOPK, r
        assert r.true_nn_rank == 1, r
        assert r.mrr_ppm == 1_000_000, r
        assert r.ndcg_ppm == 1_000_000, r


def test_rank_quality_oracle_parity_on_planted_corpus(spark, tmp_path):
    sf_dir = _planted_clustered_embeddings(spark, tmp_path)
    got = [tuple(r) for r in _run(spark, "sim_eval_rank_quality",
                                  sf_dir)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
    want = con.execute(
        registry.REGISTRY["sim_eval_rank_quality"].oracle).fetchall()
    assert got == want


# ---------------------------------------- dedup_lsh_band_efficiency

def test_band_efficiency_structural_on_fixture(spark):
    """Every summary row is a verified pair group: bands in 1..B, the
    Jaccard bin at/above the threshold bin, expectation inside
    (0, B*1e6]; the fixture carries at least one verified pair (the
    corpus's near-dups exist — 7 groups at sf0.001)."""
    from nats_stream_processor_spark.queries.dedup import NEAR_DUP_JACCARD
    rows = _run(spark, "dedup_lsh_band_efficiency", SF)
    assert rows, "fixture unexpectedly free of verified near-dups"
    for r in rows:
        assert 1 <= r.bands_matched <= LSH_BANDS
        assert r.jac_bin >= int(NEAR_DUP_JACCARD * 20)
        assert r.n_pairs >= 1
        assert 0 < r.avg_exp_bands_ppm <= LSH_BANDS * 1_000_000


def _planted_dup_docs(spark, tmp_path):
    """4 exact copies of one doc (6 identical pairs: every band
    matches, j = 1.0) plus distinct fillers so the group structure is
    non-trivial."""
    def words(tag, n=30):
        return " ".join(f"{tag}{i:02d}" for i in range(n))
    texts = [words("dupx")] * 4 + [words(f"f{i}y") for i in range(6)]
    d = tmp_path / "sf_docs_be"
    spark.createDataFrame(list(enumerate(texts)),
                          "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    return str(d)


def test_band_efficiency_identical_docs_saturate(spark, tmp_path):
    """Exact duplicates share every band bucket: the (j=1.0 bin,
    bands=B) group holds all C(4,2)=6 pairs with the theoretical
    expectation saturated at B * 1e6 ppm."""
    sf_dir = _planted_dup_docs(spark, tmp_path)
    rows = _run(spark, "dedup_lsh_band_efficiency", sf_dir)
    assert len(rows) == 1
    r = rows[0]
    assert r.jac_bin == 20                    # floor(1.0 * 20)
    assert r.bands_matched == LSH_BANDS
    assert r.n_pairs == 6
    assert r.avg_exp_bands_ppm == LSH_BANDS * 1_000_000


def test_band_efficiency_oracle_parity_on_planted_corpus(spark,
                                                        tmp_path):
    sf_dir = _planted_dup_docs(spark, tmp_path)
    got = [tuple(r) for r in _run(spark, "dedup_lsh_band_efficiency",
                                  sf_dir)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    want = con.execute(
        registry.REGISTRY["dedup_lsh_band_efficiency"].oracle).fetchall()
    assert got == want


# ------------------------------------------------- sim_ivf_drift_psi

def test_ivf_drift_psi_structure_on_fixture(spark):
    """One row per trained list (empty lists included), counts split
    the corpus at the 80% cut, every contribution is non-negative
    (PSI terms are (p-q)ln(p/q) >= 0), and the total is the exact
    integer sum of the contributions on every row."""
    from nats_stream_processor_spark.queries.ivf import IVF_NLIST
    rows = _run(spark, "sim_ivf_drift_psi", SF)
    assert [r.cent_id for r in rows] == list(range(IVF_NLIST))
    assert sum(r.n_corpus for r in rows) == 400
    assert sum(r.n_batch for r in rows) == 100
    tot = sum(r.psi_contrib_ppm for r in rows)
    for r in rows:
        assert r.psi_contrib_ppm >= 0
        assert r.psi_total_ppm == tot


def test_ivf_drift_psi_flags_planted_shape_drift(spark, tmp_path):
    """The regime the receipt exists for: a batch aimed entirely at
    one list (the test_llm_ext15 skewed-batch fixture) is a textbook
    distribution shift — the total PSI must blow through the
    conventional 0.1 alarm, with the hot list carrying the largest
    contribution."""
    from test_llm_ext15 import _planted_skewed_batch_embeddings
    sf_dir = _planted_skewed_batch_embeddings(spark, tmp_path)
    rows = _run(spark, "sim_ivf_drift_psi", sf_dir)
    assert rows[0].psi_total_ppm > 100_000       # PSI > 0.1
    hot = max(rows, key=lambda r: r.psi_contrib_ppm)
    assert hot.cent_id == 0                      # the planted target
    assert hot.n_batch == 100 and hot.psi_contrib_ppm > 0


def test_ivf_drift_psi_oracle_parity_on_planted_corpus(spark,
                                                      tmp_path):
    from test_llm_ext15 import _planted_skewed_batch_embeddings
    sf_dir = _planted_skewed_batch_embeddings(spark, tmp_path)
    got = [tuple(r) for r in _run(spark, "sim_ivf_drift_psi", sf_dir)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
    want = con.execute(
        registry.REGISTRY["sim_ivf_drift_psi"].oracle).fetchall()
    assert got == want
