"""Invariants of dedup, similarity, text and events queries that
the oracle hash cannot express: JL cosine preservation, sketch-vs-exact
tracking, normalization collapse on constructed variants, quartile
partition/ordering, MAD outlier bounds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import nats_stream_processor_spark.queries  # noqa: F401  (populate registry)
from nats_stream_processor_spark import registry

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _run(spark, name, sf=SF):
    return registry.REGISTRY[name].fn(spark, sf)


def test_random_projection_preserves_cosine(spark):
    """JL property at k=16: the per-pair cosine estimate has std ~1/sqrt(k)
    = 0.25, so the mean |error| over many pairs must sit near E|N(0,.25)|
    ~ 0.2 (we allow 0.31 = 1.25/sqrt(k)) and the projected similarities
    must correlate positively with the originals — the statistical
    contract that makes the projection a usable ANN pre-filter, sized to
    the theory rather than wishful tightness (measured on this corpus:
    mean_err 0.201, corr 0.50)."""
    rows = _run(spark, "embed_random_projection").collect()
    # r5 reshape: components are scalar columns rp_00..rp_15 (driver-canon
    # safe), reassembled into vectors here.
    rp_cols = sorted(c for c in rows[0].asDict() if c.startswith("rp_"))
    proj = {r.vec_id: [r[c] for c in rp_cols] for r in rows}
    orig = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    ids = sorted(orig)[:40]
    xs, ys = [], []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            xs.append(cos(orig[a], orig[b]))
            ys.append(cos(proj[a], proj[b]))
    assert xs, "no pairs sampled"
    n = len(xs)
    mean_err = sum(abs(x - y) for x, y in zip(xs, ys)) / n
    assert mean_err < 1.25 / math.sqrt(16), f"mean cosine distortion {mean_err:.3f}"
    mx, my = sum(xs) / n, sum(ys) / n
    sx = math.sqrt(sum((x - mx) ** 2 for x in xs) / n)
    sy = math.sqrt(sum((y - my) ** 2 for y in ys) / n)
    corr = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (n * sx * sy)
    assert corr > 0.3, f"projected similarities uncorrelated (r={corr:.3f})"


def test_source_similarity_sketch_tracks_exact(spark):
    """The merged-sketch estimate is an unbiased 32-sample estimator of
    the exact distinct-shingle Jaccard: per-pair deviation is bounded by
    the binomial std (~0.09 at j=0.5) and the mean deviation over all
    pairs must be well inside it."""
    rows = _run(spark, "corpus_source_similarity").collect()
    assert rows, "no source pairs"
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
    errs = [abs(r.est_jaccard - r.exact_jaccard) for r in rows]
    assert sum(errs) / len(errs) < 0.08, "sketch estimate biased vs exact"


def test_dedup_normalized_collapses_variants(spark, tmp_path):
    """Case / punctuation / whitespace variants of one text collapse into
    a single normalized group whose canonical id is the minimum doc_id and
    whose n_raw_variants counts the byte-distinct forms; a different text
    stays in its own group."""
    docs = spark.createDataFrame(
        [
            (1, "Hello, World!", "en", "s0", 13),
            (2, "hello world", "en", "s0", 11),
            (3, "HELLO   WORLD?!", "en", "s1", 15),
            (4, "hello world", "en", "s1", 11),  # byte-dup of doc 2
            (5, "entirely different", "en", "s0", 18),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = {r.canonical_doc_id: r
           for r in _run(spark, "dedup_normalized_exact", sf).collect()}
    assert set(out) == {1, 5}
    assert out[1].n_docs == 4
    assert out[1].n_raw_variants == 3  # docs 2 and 4 are byte-identical
    assert out[5].n_docs == 1 and out[5].n_raw_variants == 1


def test_quality_quartiles_partition_documents(spark):
    """Bins partition the corpus exactly (no doc dropped or double-binned)
    and bin score ranges are ordered: max of q_i <= min of q_{i+1}."""
    rows = {r.bin: r for r in _run(spark, "curation_quality_quartiles").collect()}
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_docs for r in rows.values()) == total
    present = [rows[b] for b in ("q1", "q2", "q3", "q4") if b in rows]
    for lo, hi in zip(present, present[1:]):
        assert lo.max_q <= hi.min_q
        assert lo.min_q <= lo.mean_q <= lo.max_q


def test_gram_matrix_matches_numpy_and_is_symmetric(spark):
    """The distributed quantized accumulation equals a single-process
    NumPy E^T E on the same quantization grid (partition independence),
    and the result is a valid Gram matrix: symmetric with non-negative
    diagonal."""
    import numpy as np

    rows = _run(spark, "embed_gram_matrix").collect()
    dim = 64
    G = np.zeros((dim, dim))
    for r in rows:
        G[r.i, r.j] = r.gram
    assert np.array_equal(G, G.T), "Gram matrix not symmetric"
    assert (np.diag(G) >= 0).all()

    E = np.stack([
        np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ])
    expected = np.floor(E[:, :, None] * E[:, None, :] * 1e9 + 0.5).sum(0) / 1e9
    expected = np.floor(expected * 1e6 + 0.5) / 1e6  # round6_stable
    assert np.abs(G - expected).max() == 0.0


def test_shipping_priority_topk_is_ordered_and_bounded(spark):
    rows = registry.REGISTRY["join_shipping_priority"].fn(spark, SF).collect()
    assert 0 < len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_temperature_weights_flatten_shares(spark):
    """alpha=0.5 compresses the mixture: weights sum to 1, preserve the
    share ordering, and the weight/share ratio is strictly larger for
    smaller sources (up-weighting the tail is the whole point)."""
    rows = _run(spark, "sample_temperature_by_source").collect()
    assert len(rows) > 1
    assert abs(sum(r.sample_weight for r in rows) - 1.0) < 2e-6 * len(rows)
    by_share = sorted(rows, key=lambda r: r.token_share)
    weights = [r.sample_weight for r in by_share]
    assert weights == sorted(weights), "weights must preserve share order"
    lo, hi = by_share[0], by_share[-1]
    if lo.token_share < hi.token_share:
        assert (lo.sample_weight / lo.token_share
                > hi.sample_weight / hi.token_share)


def test_ewma_matches_python_replay(spark):
    """Decay-0.5 EWMA is exact dyadic arithmetic: the distributed ordered
    fold must equal a single-threaded Python replay bit-for-bit (after
    the shared 6-dp emit rounding)."""
    from collections import defaultdict

    rows = {r.event_type: r for r in _run(spark, "events_rate_ewma").collect()}
    counts: dict = defaultdict(lambda: defaultdict(int))
    for r in spark.read.parquet(f"{SF}/events.parquet").collect():
        counts[r.event_type][r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    for et, per_hour in counts.items():
        series = [float(per_hour[h]) for h in sorted(per_hour)]
        acc = series[0]
        for x in series[1:]:
            acc = 0.5 * x + 0.5 * acc
        import math
        expected = math.floor(acc * 1e6 + 0.5) / 1e6
        assert rows[et].ewma_rate == expected
        assert rows[et].n_hours == len(series)


def test_js_divergence_bounds(spark):
    """JS divergence is bounded: 0 <= JS <= ln 2 (in nats), and every
    source with tokens gets a row."""
    rows = _run(spark, "text_js_divergence_by_source").collect()
    n_sources = (spark.read.parquet(f"{SF}/documents.parquet")
                 .select("source").distinct().count())
    assert len(rows) == n_sources
    for r in rows:
        assert -1e-9 <= r.js_nats <= math.log(2) + 1e-9, r
        assert r.n_tokens > 0


def test_logreg_training_learns(spark):
    """5 GD rounds must actually move the weights off the zero init, and
    the emitted metrics must be internally consistent."""
    from nats_stream_processor_spark.operators.logreg import FEATURES

    rows = sorted(_run(spark, "train_quality_logreg").collect(),
                  key=lambda r: r.pos)
    assert [r.feature for r in rows] == list(FEATURES)
    assert any(abs(r.weight) > 1e-6 for r in rows), "weights never moved"
    n = spark.read.parquet(f"{SF}/documents.parquet").count()
    for r in rows:
        assert r.n_docs == n
        assert 0.0 <= r.accuracy <= 1.0
        assert abs(r.weight) < 10.0, "weights diverged"


def test_bpe_train_merge_table(spark):
    """BPE invariants: one merge per round, merged symbol is the pair
    concatenation, and winning counts are non-increasing (a later round's
    best pair either existed before — whose count merging can only shrink
    — or involves the merged symbol, bounded by its occurrence count)."""
    rows = sorted(_run(spark, "tokenizer_bpe_train").collect(),
                  key=lambda r: r.merge_round)
    assert [r.merge_round for r in rows] == [1, 2, 3]
    for r in rows:
        assert r.merged == r.left_sym + r.right_sym
        assert r.n_occ > 0
    counts = [r.n_occ for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_dsir_weights_favor_target_slice(spark):
    """The importance weights must do their one job: documents from the
    target slice (lang='en') score higher on average than the rest."""
    rows = _run(spark, "curation_dsir_weights").collect()
    langs = {r.doc_id: r.lang for r in
             spark.read.parquet(f"{SF}/documents.parquet")
             .select("doc_id", "lang").collect()}
    en = [r.dsir_logw for r in rows if langs[r.doc_id] == "en"]
    rest = [r.dsir_logw for r in rows if langs[r.doc_id] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    for r in rows:
        if r.n_bigrams == 0:
            assert r.dsir_logw == 0.0


def test_dsir_zero_token_document_survives(spark, tmp_path):
    """A document whose text has no [a-z0-9] tokens must yield a zero
    weight, not a slice(-1) runtime error (regression: the bigram build
    needs greatest(size-1, 0))."""
    docs = spark.createDataFrame(
        [(1, "hello world hello", "en", "s0", 17),
         (2, "!!! ??? ***", "xx", "s1", 11),
         (3, "", "xx", "s1", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    rows = {r.doc_id: r for r in _run(spark, "curation_dsir_weights", sf).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].n_bigrams == 0 and rows[2].dsir_logw == 0.0
    assert rows[3].n_bigrams == 0 and rows[3].dsir_logw == 0.0
    assert rows[1].n_bigrams == 2


def test_outliers_mad_bounds(spark):
    """MAD is the median of deviations, so at most half the rows can sit
    beyond any multiple > 1 of it; rates and counts must be consistent."""
    for r in _run(spark, "events_outliers_mad").collect():
        assert r.mad_value >= 0.0
        assert 0 <= r.n_outliers <= r.n_events
        assert r.outlier_rate <= 0.5
        assert abs(r.outlier_rate - round(r.n_outliers / r.n_events, 6)) < 1e-9


def test_chunking_covers_every_token_exactly(spark):
    """Structural contract of the sliding chunker: per doc, chunk_idx is
    0..k-1 with starts on the stride grid, every chunk is non-empty and
    at most CHUNK_LEN long, the last chunk ends exactly at n_tokens, and
    consecutive full chunks overlap by CHUNK_LEN - CHUNK_STRIDE."""
    from nats_stream_processor_spark.queries.dedup import (
        CHUNK_LEN,
        CHUNK_STRIDE,
    )

    rows = _run(spark, "chunk_sliding_tokens").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc, "chunker produced nothing"
    for doc_id, ch in by_doc.items():
        ch.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in ch] == list(range(len(ch)))
        for c in ch:
            assert c.chunk_start == c.chunk_idx * CHUNK_STRIDE
            assert 1 <= c.chunk_len <= CHUNK_LEN
        # the final chunk reaches the end of the token stream, and only
        # the final chunk may be short
        for c in ch[:-1]:
            assert (c.chunk_len == CHUNK_LEN
                    or c.chunk_start + c.chunk_len
                    == ch[-1].chunk_start + ch[-1].chunk_len)


def test_chunk_dedup_finds_shared_passage(spark, tmp_path):
    """Two documents sharing an identical CHUNK_LEN-token opening produce
    a duplicated full-length chunk; a third unrelated document does not
    appear in any duplicate group."""
    from nats_stream_processor_spark.queries.dedup import CHUNK_LEN

    shared = " ".join(f"tok{i}" for i in range(CHUNK_LEN))
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta", "en", "s0", 0),
            (2, shared + " gamma delta", "en", "s1", 0),
            (3, " ".join(f"other{i}" for i in range(CHUNK_LEN)), "en", "s0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = _run(spark, "dedup_chunk_level", sf).collect()
    assert len(out) == 1
    assert out[0].n_docs == 2 and out[0].first_doc == 1


def test_int8_quantization_reconstruction_bound(spark):
    """Quantization contract: codes lie in [-127, 127], the max-|x|
    element maps to +/-127 for every nonzero vector, and dequantized
    values sit within half a quantization step of the originals."""
    out = {r.vec_id: r for r in _run(spark, "embed_quantize_int8").collect()}
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding").limit(50).collect()
    }
    from nats_stream_processor_spark.queries.similarity import INT8_MAX

    assert set(emb) <= set(out)
    for vid, vec in emb.items():
        r = out[vid]
        assert -INT8_MAX <= r.q_min and r.q_max <= INT8_MAX
        mx = max(abs(x) for x in vec)
        if mx == 0:
            assert r.q_min == r.q_max == 0
            continue
        scale = mx / INT8_MAX
        assert abs(r.scale6 - scale) < 1e-6
        codes = [math.floor(x * INT8_MAX / mx + 0.5) for x in vec]
        assert max(abs(c) for c in codes) == INT8_MAX
        assert r.q_sum == sum(codes)
        assert r.q_norm2 == sum(c * c for c in codes)
        for x, c in zip(vec, codes):
            assert abs(x - c * scale) <= scale / 2 + 1e-12


def test_int8_topk_matches_float_dot_ranking(spark):
    """The int8 scan is a drop-in for the float inner-product scan: its
    top-5 per query must overlap the exact float-dot top-5 at >= 0.8
    average recall (127-level quantization perturbs dots by well under
    1%, so only genuine near-ties may reorder)."""
    got: dict[int, list[int]] = {}
    for r in _run(spark, "sim_ann_int8_topk").collect():
        got.setdefault(r.query_id, []).append(r.neighbor_id)
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    hits = total = 0
    for qid, nbrs in got.items():
        dots = sorted(
            ((sum(a * b for a, b in zip(emb[qid], v)), vid)
             for vid, v in emb.items() if vid != qid),
            key=lambda t: (-t[0], t[1]))
        exact = {vid for _, vid in dots[:5]}
        hits += len(exact & set(nbrs))
        total += 5
    assert total == 50
    assert hits / total >= 0.8, f"int8 recall {hits}/{total}"


def test_bigram_lm_penalizes_shuffled_word_order(spark, tmp_path):
    """The interpolated bigram LM captures word order: a token-shuffled
    copy of a fluent document scores a strictly higher NLL, while the
    unigram LM (same token multiset) cannot tell them apart."""
    fluent = "the quick brown fox jumps over the lazy dog"
    shuffled = "dog the over fox quick lazy jumps brown the"
    rows = [(i, fluent, "en", "s0", 0) for i in range(20)]
    rows += [(100, shuffled, "en", "s0", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    bi = {r.doc_id: r.lm2_nll
          for r in _run(spark, "text_bigram_lm_score", sf).collect()}
    uni = {r.doc_id: r.lm_nll
           for r in _run(spark, "text_unigram_lm_score", sf).collect()}
    assert bi[100] > bi[0], (bi[100], bi[0])
    assert uni[100] == uni[0], (uni[100], uni[0])


def test_tfidf_and_pmi_surface_planted_signal(spark, tmp_path):
    """A term unique to one document becomes that document's top TF-IDF
    keyword, and a bigram that always co-occurs (and each word occurs
    ONLY in that bigram) tops the PMI collocation ranking."""
    filler = "the data value row column table batch stream merge join"
    rows = [(i, filler, "en", "s0", 0) for i in range(10)]
    # 6 copies of the planted collocation embedded in filler context
    rows += [(100 + i, f"{filler} zork quux", "en", "s0", 0)
             for i in range(6)]
    rows += [(200, filler + " uniqueterm", "en", "s0", 0)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")

    tf = [r for r in _run(spark, "text_tfidf_topk", sf).collect()
          if r.doc_id == 200]
    assert tf[0].term == "uniqueterm" and tf[0].rn == 1

    pmi = _run(spark, "text_collocations_pmi", sf).collect()
    assert (pmi[0].w1, pmi[0].w2) == ("zork", "quux")
    assert pmi[0].c12 == 6


def test_containment_flags_excerpt_but_not_overlap(spark, tmp_path):
    """A short excerpt whose tokens are a subset of a long document is
    flagged with the contained side identified; two documents with only
    partial overlap stay below the containment threshold."""
    long_doc = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(10, 40))      # fully contained
    partial = " ".join(f"w{i}" for i in range(50, 80))      # tail overlap only
    docs = spark.createDataFrame(
        [(1, long_doc, "en", "s0", 0), (2, excerpt, "en", "s0", 0),
         (3, partial, "en", "s0", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = {(r.doc_a, r.doc_b): r
           for r in _run(spark, "dedup_containment", sf).collect()}
    assert (1, 2) in out
    assert out[(1, 2)].direction == "b_in_a"  # doc 2 contained in doc 1
    assert out[(1, 2)].containment == 1.0
    assert (1, 3) not in out and (2, 3) not in out


def test_hourly_zscore_is_standardized_per_type(spark):
    """Within each event type the hourly z-scores must be standardized:
    mean ~ 0 and (population) variance ~ 1 whenever more than one hour
    exists and counts vary — the property that makes a fixed |z|
    threshold meaningful across types with different base rates."""
    rows = _run(spark, "events_hourly_zscore").collect()
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.z6)
    assert by_type
    for etype, zs in by_type.items():
        if len(zs) < 2 or all(z == 0.0 for z in zs):
            continue
        m = sum(zs) / len(zs)
        v = sum(z * z for z in zs) / len(zs) - m * m
        assert abs(m) < 1e-3, (etype, m)
        assert abs(v - 1.0) < 1e-3, (etype, v)


def test_salted_event_family_matches_plain_join(spark):
    """The salted fact-dim join query must return exactly what the plain
    join returns — salting is physical, not semantic."""
    from nats_stream_processor_spark.registry import table as _table

    out = {r.family: (r.n_events, r.n_users)
           for r in _run(spark, "join_salted_event_family").collect()}
    e = _table(spark, SF, "events")
    plain = (
        e.groupBy(F.when(F.col("event_type").isin("view", "click"),
                         "engagement").otherwise("conversion")
                  .alias("family"))
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users")))
    expect = {r.family: (r.n_events, r.n_users) for r in plain.collect()}
    assert out == expect


def test_lang_rebalance_budget_is_binding_and_feasible(spark):
    """Rebalance contract: every sampling rate is in (0, 1], at least one
    language is binding (rate 1.0 — the budget can't grow further), and
    planned tokens are proportional to the target shares."""
    rows = {r.lang: r for r in _run(spark, "curation_lang_rebalance").collect()}
    active = [r for r in rows.values() if r.target_share > 0]
    assert active
    assert all(0 < r.sample_rate <= 1.0 + 1e-9 for r in active)
    assert any(abs(r.sample_rate - 1.0) < 1e-6 for r in active), \
        "no binding language — budget not maximal"
    base = active[0]
    for r in active[1:]:
        lhs = r.planned_tokens * base.target_share
        rhs = base.planned_tokens * r.target_share
        assert abs(lhs - rhs) <= 1e-3 * max(abs(lhs), 1.0)


def test_pagerank_conserves_mass_and_rewards_in_degree(spark):
    """PageRank invariants on the knn graph: total mass stays 1 (dangling
    redistribution works), every rank is at least the teleport floor,
    and the maximum-in-degree node outranks the graph's minimum."""
    rows = _run(spark, "graph_pagerank_knn").collect()
    n = len(rows)
    assert n == spark.read.parquet(f"{SF}/embeddings.parquet").count()
    total = sum(r.pagerank6 for r in rows)
    assert abs(total - 1.0) < 5e-6 * n, total
    floor = 0.15 / n
    assert all(r.pagerank6 >= floor - 1e-9 for r in rows)

    indeg: dict[int, int] = {}
    for e in _run(spark, "sim_knn_graph").collect():
        indeg[e.dst] = indeg.get(e.dst, 0) + 1
    ranks = {r.vec_id: r.pagerank6 for r in rows}
    hub = max(indeg, key=lambda v: (indeg[v], -v))
    assert ranks[hub] > min(ranks.values())
