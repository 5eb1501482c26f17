"""Invariants of the corpus-curation queries added in round 2:
sequence packing, decontamination, Gopher rules, unpivot. These are
structural properties the oracle hash cannot express (conservation,
exclusivity, monotonicity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import nats_stream_processor_spark.queries  # noqa: F401  (populate registry)
from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.dedup import EVAL_SET_MAX_ID
from nats_stream_processor_spark.queries.curation import (
    PACK_SEQ_LEN,
    PACK_SHARDS,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _run(spark, name):
    return registry.REGISTRY[name].fn(spark, SF)


def test_pack_sequences_conserves_tokens(spark):
    """Every document lands in exactly one (shard, seq) bin: the bin-level
    token/doc totals must equal the corpus totals."""
    out = _run(spark, "pack_sequences").agg(
        F.sum("n_docs").alias("docs"), F.sum("sum_tokens").alias("toks")
    ).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exp_docs = docs.count()
    exp_toks = docs.select(
        F.coalesce(F.ceil(F.length("text") / 4.0).cast("long"), F.lit(0))
        .alias("t")).agg(F.sum("t")).collect()[0][0]
    assert out.docs == exp_docs
    assert out.toks == exp_toks


def test_pack_sequences_bins_are_dense_per_shard(spark):
    """Start-offset binning: each shard's seq ids start at 0 and a bin
    can only be skipped if some document alone spans multiple bins
    (doc tokens > seq_len) — with our corpus, ids must be contiguous
    unless a doc exceeds PACK_SEQ_LEN estimated tokens."""
    rows = _run(spark, "pack_sequences").collect()
    max_doc_tok = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.max(F.ceil(F.length("text") / 4.0).cast("long")))
        .collect()[0][0])
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.seq_id)
    assert set(by_shard) == set(range(PACK_SHARDS))
    for shard, ids in by_shard.items():
        ids.sort()
        assert ids[0] == 0, f"shard {shard} does not start at seq 0"
        if max_doc_tok <= PACK_SEQ_LEN:
            assert ids == list(range(len(ids))), f"gap in shard {shard}"


def test_decontaminate_eval_docs_excluded_and_overlap_bounded(spark):
    rows = _run(spark, "decontaminate_ngram_overlap").collect()
    assert rows, "no corpus docs scored"
    for r in rows:
        assert r.doc_id >= EVAL_SET_MAX_ID
        if r.n_grams is not None:
            assert 0 <= r.n_overlap <= r.n_grams
            assert r.contaminated == (1 if r.n_overlap > 0 else 0)


def test_decontaminate_planted_duplicate_is_flagged(spark, tmp_path):
    """A corpus doc that *is* an eval doc's text must be contaminated."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_text = (docs.filter((F.col("doc_id") < EVAL_SET_MAX_ID)
                             & (F.length("text") > 80))
                 .orderBy("doc_id").select("text").first()[0])
    planted = docs.unionByName(
        spark.createDataFrame(
            [(99999, eval_text, "en", "planted", len(eval_text))],
            docs.schema))
    out_dir = str(tmp_path / "docs")
    planted.write.parquet(f"{out_dir}/documents.parquet")
    # the query reads <sf_dir>/documents.parquet
    flagged = {
        r.doc_id: r.contaminated
        for r in registry.REGISTRY["decontaminate_ngram_overlap"]
        .fn(spark, out_dir).collect()
    }
    assert flagged[99999] == 1


def test_gopher_keep_is_conjunction_of_flags(spark):
    for r in _run(spark, "quality_gopher_rules").collect():
        flags = (r.flag_length, r.flag_mean_len, r.flag_symbol,
                 r.flag_stopword)
        if any(f is None for f in flags):
            assert r.keep is None
        else:
            assert r.keep == (1 if not any(flags) else 0)


def test_unpivot_matches_wide_aggregate(spark):
    long = {(r.l_returnflag, r.metric): r.value
            for r in _run(spark, "unpivot_pricing_metrics").collect()}
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    from nats_stream_processor_spark.operators.relational import dsum
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc")).collect()
    for r in wide:
        for m in ("sum_qty", "sum_price", "sum_disc"):
            assert long[(r.l_returnflag, m)] == r[m]


def test_export_training_shards_layout_and_determinism(spark, tmp_path):
    """Export writes shard=N dirs; every row lands in the shard its id
    hashes to; within-shard read order is the id order (so pack_sequences
    replays the same packing); a re-export round-trips identically."""
    from nats_stream_processor_spark.operators.export import (
        DEFAULT_SHARDS,
        export_training_shards,
        with_shard,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "shards")
    export_training_shards(docs, out)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # shard dirs exist and ids hash to their dir
    import os
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(DEFAULT_SHARDS)]
    expected = {r.doc_id: r.shard for r in
                with_shard(docs).select("doc_id", "shard").collect()}
    for r in back.select("doc_id", "shard").collect():
        assert r.shard == expected[r.doc_id]
    # within-file order == id order (read each shard dir alone)
    one = spark.read.parquet(f"{out}/shard=3")
    ids = [r.doc_id for r in one.select("doc_id").collect()]
    assert ids == sorted(ids)
    # deterministic re-export: same rows, same shard assignment
    out2 = str(tmp_path / "shards2")
    export_training_shards(docs, out2)
    a = {(r.doc_id, r.shard) for r in
         spark.read.parquet(out).select("doc_id", "shard").collect()}
    b = {(r.doc_id, r.shard) for r in
         spark.read.parquet(out2).select("doc_id", "shard").collect()}
    assert a == b
