"""IVF lifecycle operators (queries/ivf.py):

- sim_ivf_insert: structural receipts on the real fixture (batch
  vectors only ever ADD to lists; recall staleness is visible), the
  training-scope precondition (the k-means sample sits inside the 80%
  corpus cut at every shipped SF), the genuinely-drifting regime on a
  planted skewed batch (all inserts land on one list — the overload
  count flips from 0 to >= 1), and DuckDB oracle parity on that
  planted corpus.
- sim_ivf_lifecycle: the decision receipt on the real fixture (hold —
  the index is balanced, so the post index IS the pre index), the
  split and merge branches on the planted corpora where the fused
  receipt must match the standalone acts' own columns number-for-
  number, and DuckDB oracle parity for both acted branches (the
  regimes the driver's shipped-fixture certification never enters).
- the refactor law: the parameterized act-CTE builders with default
  ``out=""`` must render EXACTLY the oracle text sim_ivf_rebalance /
  sim_ivf_merge certified in round 13 (md5-pinned).
"""

from __future__ import annotations

import hashlib

import duckdb

from test_llm_ext14 import _planted_overloaded_embeddings

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.operators import similarity as sim
from nats_stream_processor_spark.operators.kmeans import TRAIN_SAMPLE_N

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf_dir):
    rows = registry.REGISTRY[name].fn(spark, sf_dir).collect()
    registry.release_pins()
    return rows


def _duck(sf_dir, name):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')")
    return con.execute(registry.REGISTRY[name].oracle).fetchall()


# ------------------------------------------------------ refactor law

def test_ivf_act_cte_generators_render_certified_oracles():
    """The r14 refactor law, pinned: factoring the split/merge act CTE
    chains into prefix-parameterized builders must leave the round-13
    certified oracle texts BYTE-IDENTICAL at the default ``out=""`` —
    the md5s below are the pre-refactor values captured from the r13
    tip, so any drift in the shared builders fails here instead of
    surfacing in the round artifact."""
    pins = {"sim_ivf_rebalance": "5abc98f1fe2be13bc715b1a797e26407",
            "sim_ivf_merge": "0f5ca3fd9fcc832f431e89a2a4851626"}
    for name, want in pins.items():
        got = hashlib.md5(
            registry.REGISTRY[name].oracle.encode()).hexdigest()
        assert got == want, f"{name} oracle text drifted"


# ----------------------------------------------------- sim_ivf_insert

def test_insert_receipts_structural_invariants(spark):
    """On the real fixture: the 80% cut splits 500 vectors into
    400 corpus + 100 batch; inserts only ever ADD to lists (max list
    never shrinks); the post-insert index returns at least every
    corpus hit the stale one did plus the batch vectors, so candidate
    rows and recall are monotone non-decreasing — pre-recall < 1.0
    quantifies the staleness the insert repairs."""
    (r,) = _run(spark, "sim_ivf_insert", SF)
    assert r.n_lists == 16
    assert r.n_corpus == 400 and r.n_batch == 100
    assert r.max_list_after >= r.max_list_before
    assert r.post_cand_rows >= r.pre_cand_rows
    assert r.post_recall_ppm >= r.pre_recall_ppm
    assert 0 < r.pre_recall_ppm <= 1_000_000


def test_insert_training_sample_inside_corpus():
    """The training-scope precondition (module note): the k-means
    sample bound sits at or below the 80% cut at every shipped SF, so
    centroids 'trained on the full table' are bit-identical to
    corpus-only training and the insert semantics hold exactly."""
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        con = duckdb.connect()
        (mx,) = con.execute(
            f"SELECT max(vec_id) FROM "
            f"'/root/testdata/{sf}/embeddings.parquet'").fetchone()
        assert int(mx * 0.8) >= TRAIN_SAMPLE_N, sf


def _planted_skewed_batch_embeddings(spark, tmp_path):
    """16 spread-out anchors (vec_id 0..15 — the whole k-means init and
    training sample, so centroids stay put) plus a balanced corpus
    filler OUTSIDE the sample window (vec_id 256..355, ~6 per list)
    and a batch slice (vec_id 401..500, above the cut floor(500*0.8) =
    400) aimed entirely at anchor 0's list — the insert-caused-drift
    regime: balanced before, one hot list after."""
    dim = sim.EMBED_DIM
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[(i * 3) % dim] = 1.0
        rows.append((i, v))
    for j in range(100):                     # corpus filler, balanced
        v = [0.0] * dim
        v[((j % 16) * 3) % dim] = 1.0
        v[40 + (j % 3)] = 0.1
        rows.append((TRAIN_SAMPLE_N + j, v))
    for j in range(100):                     # the skewed batch
        v = [0.0] * dim
        v[0] = 1.0
        v[30 + (j % 2)] = 0.2
        rows.append((401 + j, v))
    d = tmp_path / "sf_emb_ins"
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_insert_planted_skewed_batch_flags_drift(spark, tmp_path):
    """The drift regime the receipt exists for: a balanced corpus
    (no overload) takes a batch aimed at one list — the receipt must
    show the flip (0 overloaded before, >= 1 after) and the hot list's
    growth, i.e. the exact signal that tells the maintainer to run
    sim_ivf_rebalance next."""
    sf_dir = _planted_skewed_batch_embeddings(spark, tmp_path)
    (r,) = _run(spark, "sim_ivf_insert", sf_dir)
    assert r.n_corpus == 116 and r.n_batch == 100
    assert r.n_overloaded_before == 0
    assert r.n_overloaded_after >= 1
    assert r.max_list_after >= r.max_list_before + 100
    assert r.max_load_x1000_after > r.max_load_x1000_before


def test_insert_oracle_parity_on_planted_corpus(spark, tmp_path):
    """The registered oracle replays the insert receipt value-for-value
    on the planted skewed-batch corpus (the drifting regime the real
    fixtures never enter)."""
    sf_dir = _planted_skewed_batch_embeddings(spark, tmp_path)
    (got,) = _run(spark, "sim_ivf_insert", sf_dir)
    (want,) = _duck(sf_dir, "sim_ivf_insert")
    assert tuple(got) == want


# -------------------------------------------------- sim_ivf_lifecycle

def test_lifecycle_holds_on_real_fixture(spark):
    """k-means balances the shipped fixture, so the fused decision is
    HOLD: nothing acted, the post index IS the pre index, and both
    probe passes return identical candidate counts and recall."""
    (r,) = _run(spark, "sim_ivf_lifecycle", SF)
    assert r.act == "hold"
    assert r.n_overloaded == 0 and r.n_underloaded == 0
    assert r.n_acted == 0
    assert r.n_lists_after == r.n_lists_before == 16
    assert r.max_load_x1000_after == r.max_load_x1000_before
    assert r.min_load_x1000_after == r.min_load_x1000_before
    assert r.post_cand_rows == r.pre_cand_rows
    assert r.post_recall_ppm == r.pre_recall_ppm


def test_lifecycle_split_matches_standalone_rebalance(spark, tmp_path):
    """On the planted overloaded corpus the fused decision is SPLIT,
    and because the lifecycle applies the standalone act's exact
    construction, its receipt must match sim_ivf_rebalance's own row
    number-for-number: same split count, list counts, post max load,
    and post recall/candidate receipts."""
    sf_dir = _planted_overloaded_embeddings(spark, tmp_path)
    (lc,) = _run(spark, "sim_ivf_lifecycle", sf_dir)
    (rb,) = _run(spark, "sim_ivf_rebalance", sf_dir)
    assert lc.act == "split"
    assert lc.n_overloaded == rb.n_overloaded >= 1
    assert lc.n_acted == rb.n_split
    assert lc.n_lists_after == rb.n_lists_after
    assert lc.max_load_x1000_before == rb.max_load_x1000_before
    assert lc.max_load_x1000_after == rb.max_load_x1000_after
    assert lc.pre_cand_rows == rb.pre_cand_rows
    assert lc.post_cand_rows == rb.post_cand_rows
    assert lc.pre_recall_ppm == rb.pre_recall_ppm
    assert lc.post_recall_ppm == rb.post_recall_ppm


def _planted_merge_only_embeddings(spark, tmp_path):
    """16 anchors plus 200 filler vectors spread over only 12 of the
    lists (~18 each, load ~1290 — under the 2x overload bar): the four
    remaining lists hold a single vector (load ~74, far under the
    merge floor), so the balance verdict is underloaded-but-NOT-
    overloaded — the regime where the lifecycle decision must be
    MERGE. (llm_ext14's underloaded fixture piles ~201 vectors on one
    list, which is ALSO 2x-overloaded, so the split rule fires first
    there — by design.)"""
    dim = sim.EMBED_DIM
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[(i * 3) % dim] = 1.0
        rows.append((i, v))
    for j in range(200):
        v = [0.0] * dim
        v[((j % 12) * 3) % dim] = 1.0
        v[40 + (j % 3)] = 0.1
        rows.append((TRAIN_SAMPLE_N + j, v))
    d = tmp_path / "sf_emb_mo"
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_lifecycle_merge_matches_standalone_merge(spark, tmp_path):
    """On the planted merge-only corpus the fused decision is MERGE
    (nothing is overloaded), and the receipt must match
    sim_ivf_merge's own row on every shared column."""
    sf_dir = _planted_merge_only_embeddings(spark, tmp_path)
    (lc,) = _run(spark, "sim_ivf_lifecycle", sf_dir)
    (mg,) = _run(spark, "sim_ivf_merge", sf_dir)
    assert lc.act == "merge"
    assert lc.n_overloaded == 0
    assert lc.n_underloaded == mg.n_under >= 1
    assert lc.n_acted == mg.n_merged
    assert lc.n_lists_after == mg.n_lists_after
    assert lc.min_load_x1000_before == mg.min_load_x1000_before
    assert lc.min_load_x1000_after == mg.min_load_x1000_after
    assert lc.pre_cand_rows == mg.pre_cand_rows
    assert lc.post_cand_rows == mg.post_cand_rows
    assert lc.pre_recall_ppm == mg.pre_recall_ppm
    assert lc.post_recall_ppm == mg.post_recall_ppm


def test_lifecycle_oracle_parity_on_acted_branches(spark, tmp_path):
    """The registered oracle replays the fused decision AND the chosen
    act value-for-value on both planted regimes — the branches the
    shipped-fixture driver certification (hold) never enters. The
    oracle's CASE-guarded branch CTEs must therefore agree with the
    Spark side's driver-side branch choice on both corpora."""
    acts = []
    for build in (_planted_overloaded_embeddings,
                  _planted_merge_only_embeddings):
        sf_dir = build(spark, tmp_path)
        (got,) = _run(spark, "sim_ivf_lifecycle", sf_dir)
        (want,) = _duck(sf_dir, "sim_ivf_lifecycle")
        assert tuple(got) == want, got.act
        acts.append(got.act)
    assert acts == ["split", "merge"]
