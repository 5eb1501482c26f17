"""Invariants of retrieval, sketch, curation and analytics queries that
the oracle hash cannot express: the Bloom filter's one-sided error, the
Count-Min overestimate contract, BM25 ranking against a hand-scored
fixture, Gini bounds, curriculum-phase partitioning, attribution
conservation, and the CMS/bloom parameter invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.relational import (
    Q19_BRACKETS,
    Q6_DISC_HI,
    Q6_DISC_LO,
    Q6_MAX_QTY,
    Q6_YEAR,
)
from nats_stream_processor_spark.queries.events import (
    BOT_CV2_MAX,
    BOT_MIN_EVENTS,
    RFM_NTILES,
)
from nats_stream_processor_spark.queries.text import (
    BM25_B,
    BM25_K1,
    BM25_TERMS,
    BM25_TOPK,
    BOILER_MIN_DOCS,
)
from nats_stream_processor_spark.queries.graph import (
    BFS_MAX_DEPTH,
    BFS_SEED_MAX,
)
from nats_stream_processor_spark.queries.similarity import (
    MRL_PANEL,
    MRL_PREFIXES,
    NORM_OUTLIER_FACTOR,
)
from nats_stream_processor_spark.queries.dedup import (
    BLOOM_K,
    BLOOM_M,
    EDIT_MAX_RATIO_PPM,
    EDIT_PREFIX,
)
from nats_stream_processor_spark.queries.curation import (
    ANNEAL_FRAC_DEN,
    CONTAM_BENCHES,
    CURRICULUM_CUTS,
    EPOCH_MAX,
)
from nats_stream_processor_spark.queries.sketches import CMS_D, CMS_W

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _run(spark, name, sf=SF):
    return registry.REGISTRY[name].fn(spark, sf)


def test_bloom_filter_no_false_negatives(spark):
    """One-sided error contract: a true containment hit must ALWAYS be a
    bloom hit (n_false_pos >= 0 on every row and bloom >= true), and the
    FP count must be exactly bloom - true."""
    rows = _run(spark, "decontaminate_bloom_filter").collect()
    assert rows
    for r in rows:
        assert r.n_bloom_hits >= r.n_true_hits, r
        assert r.n_false_pos == r.n_bloom_hits - r.n_true_hits
        assert 0 <= r.n_bloom_hits <= r.n_grams


def test_cms_overestimates_and_matches_exact_ranks(spark):
    """CMS estimate >= exact count on every reported key (the sketch's
    one-sided guarantee); ranks are 1..10 by exact count."""
    rows = _run(spark, "sketch_cms_heavy_hitters").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    ns = [r.exact_n for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert r.overestimate >= 0, r
        assert r.cms_est == r.exact_n + r.overestimate


def test_bm25_ranks_match_reference_formula(spark):
    """Re-score BM25 in pure Python from raw tokens and compare the ppm
    scores and the ranking for every returned doc."""
    docs = {r.doc_id: r.text.lower().split()
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    N = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / N
    df = {t: sum(1 for toks in docs.values() if t in toks)
          for t in BM25_TERMS}
    expect = {}
    for d, toks in docs.items():
        s = 0
        for t in BM25_TERMS:
            tf = toks.count(t)
            if not tf or not df[t]:
                continue
            idf = math.log((N - df[t] + 0.5) / (df[t] + 0.5) + 1)
            dl = len(toks)
            term = idf * tf * (BM25_K1 + 1) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
            s += math.floor(term * 1e6 + 0.5)
        if s:
            expect[d] = s
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_TOPK]
    got = [(r.doc_id, r.bm25_ppm)
           for r in _run(spark, "text_bm25_topk").collect()]
    assert got == top


def test_gini_bounds_and_uniform_case(spark, tmp_path):
    """Gini in [0, 1) on real data; exactly (n-1)/(3n) -> 0-ish for a
    constructed uniform corpus (all docs equal length gives G = 0 up to
    the discrete correction, which the rank formula makes exactly 0)."""
    for r in _run(spark, "corpus_token_gini").collect():
        assert -1e-6 <= r.gini < 1.0, r
    rows = [(i, "alpha beta gamma delta", "en", "s0", 22) for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    sf = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf}/documents.parquet")
    out = _run(spark, "corpus_token_gini", sf).collect()
    assert len(out) == 1
    assert abs(out[0].gini) < 1e-9  # equal shares -> zero concentration


def test_curriculum_phases_partition_corpus(spark):
    """Phase rows must partition the corpus (docs and tokens), cum_tokens
    must be the running sum in phase order, and shares must total ~1e6."""
    rows = _run(spark, "curation_curriculum_schedule").collect()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = d.count()
    assert sum(r.n_docs for r in rows) == n_docs
    run = 0
    for r in sorted(rows, key=lambda r: r.phase):
        run += r.n_tokens
        assert r.cum_tokens == run
    total = sum(r.n_tokens for r in rows)
    assert total == rows[-1].cum_tokens
    share = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000


def test_attribution_conserves_conversions(spark):
    """Every purchase is attributed exactly once; shares total ~1e6; the
    'none' channel only appears when a user's first event is a purchase."""
    rows = _run(spark, "events_attribution_last_touch").collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert sum(r.n_conversions for r in rows) == n_purch
    assert all(r.channel != "purchase" for r in rows)
    share = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000


def test_rfm_segments_partition_users(spark):
    """Segment rows partition the user base; every code digit is a valid
    quartile index."""
    rows = _run(spark, "events_rfm_segments").collect()
    n_users = (spark.read.parquet(f"{SF}/events.parquet")
               .select("user_id").distinct().count())
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        code = r.rfm_code
        rq, fq, mq = code // 100, (code // 10) % 10, code % 10
        for q in (rq, fq, mq):
            assert 1 <= q <= RFM_NTILES, code


def test_ablation_counts_consistent_with_gopher(spark):
    """Rule-level flag totals must equal the per-doc flag sums of
    quality_gopher_rules (same formulas, different aggregation), and
    n_flagged_only <= n_flagged."""
    ab = {r.rule: r for r in _run(spark, "quality_rule_ablation").collect()}
    registry.release_pins()
    g = _run(spark, "quality_gopher_rules").collect()
    assert ab["length"].n_flagged == sum(r.flag_length for r in g)
    assert ab["mean_len"].n_flagged == sum(r.flag_mean_len for r in g)
    assert ab["symbol"].n_flagged == sum(r.flag_symbol for r in g)
    assert ab["stopword"].n_flagged == sum(r.flag_stopword for r in g)
    for r in ab.values():
        assert 0 <= r.n_flagged_only <= r.n_flagged


def test_two_hop_reach_bounds(spark):
    """Reach is bounded by k + k^2 (k=3 -> 12) and covers every node that
    has at least one edge."""
    from nats_stream_processor_spark.queries.graph import KNN_GRAPH_K
    rows = _run(spark, "graph_knn_two_hop").collect()
    cap = KNN_GRAPH_K + KNN_GRAPH_K * KNN_GRAPH_K
    for r in rows:
        assert 1 <= r.reach <= cap, r
    registry.release_pins()
    n_nodes = (_run(spark, "sim_knn_graph").select("src").distinct().count())
    assert sum(r.n_nodes for r in rows) == n_nodes


def test_band_stats_account_all_docs_and_pairs(spark):
    """Each band sees every document exactly once; candidate_pairs is
    non-negative and consistent with C(max_bucket, 2) <= pairs."""
    rows = _run(spark, "dedup_lsh_band_stats").collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    from nats_stream_processor_spark.operators.dedup import LSH_BANDS
    assert len(rows) == LSH_BANDS
    for r in rows:
        assert r.n_docs == n_docs
        mx = r.max_bucket
        assert r.candidate_pairs >= mx * (mx - 1) // 2
        assert r.n_buckets <= n_docs


def test_market_share_bounded_and_conserved(spark):
    """Share in [0,1]; the nation's revenue never exceeds the market's."""
    rows = _run(spark, "join_market_share").collect()
    assert rows
    for r in rows:
        assert 0 <= r.nation_rev_micro <= r.total_rev_micro
        assert 0.0 <= r.mkt_share <= 1.0


def test_compact_latest_is_max_ts_per_user(spark):
    """The kept row per user carries that user's max (ts, event_id)."""
    got = {r.user_id: r for r in _run(spark, "compact_latest_per_key").collect()}
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    from collections import defaultdict
    best, counts = {}, defaultdict(int)
    for e in ev:
        counts[e.user_id] += 1
        k = (e.ts, e.event_id)
        if e.user_id not in best or k > best[e.user_id]:
            best[e.user_id] = k
    assert set(got) == set(best)
    for u, (ts, eid) in best.items():
        assert got[u].last_event_id == eid
        assert got[u].n_superseded == counts[u] - 1


def test_param_invariants():
    """Constant relationships the operators' exactness arguments rely on."""
    assert BLOOM_M & (BLOOM_M - 1) == 0  # power of two
    assert 1 <= BLOOM_K <= 8
    assert CMS_D >= 2 and CMS_W >= 64
    assert BOILER_MIN_DOCS >= 2
    assert len(CURRICULUM_CUTS) == len(set(CURRICULUM_CUTS))
    assert list(CURRICULUM_CUTS) == sorted(CURRICULUM_CUTS, reverse=True)


def test_dataset_card_cross_checks_other_queries(spark):
    """The fused card must agree with the standalone operators it
    summarizes: token totals with text_token_stats' corpus, dup counts
    with dedup_rate_by_source."""
    card = {r.source: r for r in _run(spark, "curation_dataset_card").collect()}
    registry.release_pins()
    dup = {r.source: r for r in _run(spark, "dedup_rate_by_source").collect()}
    assert set(card) == set(dup)
    for s, c in card.items():
        assert c.n_exact_dups == dup[s].n_docs - dup[s].n_unique
        assert 0 <= c.dup_ppm <= 1_000_000
        assert 0.0 <= c.mean_quality <= 1.0
        assert c.n_langs >= 1


def test_norm_outliers_integer_cut_is_exact(spark):
    """Recompute the outlier cut in Python ints from the raw embeddings
    and compare counts per label."""
    import math as m
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    nsq = {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        d = sum((a * b for a, b in zip(v, v)))
        nsq.setdefault(r.label, []).append(m.floor(d * 1e6 + 0.5))
    n_all = sum(len(v) for v in nsq.values())
    s_all = sum(sum(v) for v in nsq.values())
    got = {r.label: r for r in _run(spark, "embed_norm_outliers").collect()}
    assert set(got) == set(nsq)
    for lab, vals in nsq.items():
        expect_out = sum(1 for x in vals
                         if x * n_all > NORM_OUTLIER_FACTOR * s_all)
        assert got[lab].n_vecs == len(vals)
        assert got[lab].n_outliers == expect_out, lab


def test_seasonality_covers_all_events(spark):
    rows = _run(spark, "events_seasonality_profile").collect()
    n = spark.read.parquet(f"{SF}/events.parquet").count()
    assert sum(r.n_events for r in rows) == n
    for r in rows:
        assert 1 <= r.dow <= 7 and 0 <= r.hod <= 23
    share = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000


def test_q6_matches_python_filter(spark):
    import datetime
    import math as m
    li = spark.read.parquet(f"{SF}/lineitem.parquet").collect()
    lo = datetime.datetime(Q6_YEAR, 1, 1)
    hi = datetime.datetime(Q6_YEAR + 1, 1, 1)
    keep = [r for r in li
            if lo <= r.l_shipdate < hi
            and Q6_DISC_LO <= r.l_discount <= Q6_DISC_HI
            and r.l_quantity < Q6_MAX_QTY]
    rev = sum(m.floor(r.l_extendedprice * r.l_discount * 1e6 + 0.5)
              for r in keep)
    got = _run(spark, "agg_revenue_q6").collect()[0]
    assert got.n_rows == len(keep)
    assert got.revenue_micro == rev


def test_knn_components_conserve_vectors(spark):
    """Component sizes (including singletons) must account for every
    vector exactly once, and sizes must be >= 1."""
    rows = _run(spark, "graph_knn_components").collect()
    n_vec = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r.component_size * r.n_components for r in rows) == n_vec
    assert all(r.component_size >= 1 and r.n_components >= 1 for r in rows)


def test_phash_signature_matches_python_reference(spark):
    """The distributed signatures must equal a direct Python evaluation
    of phash_signature over the same payloads, and banding must find
    every pair within the Hamming radius that shares a chunk."""
    from nats_stream_processor_spark.operators.multimodal import (
        PHASH_BITS,
        phash_signature,
    )
    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    expect = {r.doc_id: phash_signature(r.text.encode("utf-8")) for r in docs}
    from nats_stream_processor_spark.operators.multimodal import (
        media_phash,
        with_payload,
    )
    d = with_payload(spark.read.parquet(f"{SF}/documents.parquet"))
    got = {r.doc_id: r.phash for r in media_phash(d).collect()}
    assert got == expect
    for s in got.values():
        assert 0 <= s < (1 << PHASH_BITS)


def test_phash_near_dup_pairs_are_within_radius(spark):
    from nats_stream_processor_spark.operators.multimodal import PHASH_MAX_DIST
    rows = _run(spark, "media_phash_near_dup").collect()
    for r in rows:
        assert 0 <= r.hamming <= PHASH_MAX_DIST
        assert r.doc_a < r.doc_b


def test_audio_windows_cover_head_with_overlap(spark):
    """Window offsets follow the hop grid, energy sums equal direct byte
    sums, and the window count honors the cap."""
    from nats_stream_processor_spark.operators.multimodal import (
        AUDIO_HOP,
        AUDIO_MAX_WINS,
        AUDIO_WIN,
    )
    docs = {r.doc_id: r.text.encode("utf-8")
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    rows = _run(spark, "media_audio_windows").collect()
    from collections import defaultdict
    per = defaultdict(list)
    for r in rows:
        per[r.doc_id].append(r)
    assert set(per) == set(docs)
    for did, ws in per.items():
        p = docs[did]
        n_exp = min(AUDIO_MAX_WINS, 1 + max(0, len(p) - AUDIO_WIN) // AUDIO_HOP)
        assert len(ws) == n_exp, did
        for r in ws:
            assert r.byte_offset == r.win_idx * AUDIO_HOP
            assert r.energy_sum == sum(p[r.byte_offset:r.byte_offset + AUDIO_WIN])


def test_rake_top_phrase_matches_python_reference(spark):
    """Re-run RAKE in pure Python (stopword runs, degree/freq ppm
    scoring) and compare the winning phrase and score for every doc."""
    import re as _re
    from nats_stream_processor_spark.operators.textstats import STOPWORDS
    docs = {r.doc_id: _re.findall(r"[a-z0-9]+", r.text.lower())
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    expect = {}
    for did, toks in docs.items():
        runs, cur = [], []
        for t in toks:
            if t in STOPWORDS:
                if cur:
                    runs.append(cur)
                cur = []
            else:
                cur.append(t)
        if cur:
            runs.append(cur)
        if not runs:
            continue
        freq, degree = {}, {}
        for run in runs:
            for t in run:
                freq[t] = freq.get(t, 0) + 1
                degree[t] = degree.get(t, 0) + len(run)
        wppm = {t: degree[t] * 1_000_000 // freq[t] for t in freq}
        scored = [(sum(wppm[t] for t in run), " ".join(run)) for run in runs]
        best = max(scored, key=lambda sv: (sv[0], [-ord(c) for c in sv[1]]))
        # max by score, tie-break LOWEST phrase lexicographically:
        top_score = max(s for s, _ in scored)
        best_phrase = min(p for s, p in scored if s == top_score)
        expect[did] = (best_phrase, top_score, len(runs))
    got = {r.doc_id: (r.top_phrase, r.score_ppm, r.n_phrases)
           for r in _run(spark, "text_keyphrases_rake").collect()}
    assert got == expect


def test_annealing_budgets_conserve_and_upweight_quality(spark):
    """Pretrain + anneal allocations stay within their phase budgets;
    anneal share sums to ~1e6; a source's anneal share can differ from
    its raw-size share only via quality weighting."""
    rows = _run(spark, "curation_annealing_mixture").collect()
    t_all = sum(r.n_tokens for r in rows)
    ab = t_all // ANNEAL_FRAC_DEN
    assert sum(r.pretrain_tokens for r in rows) <= t_all - ab
    assert sum(r.anneal_tokens for r in rows) <= ab
    share = sum(r.anneal_share_ppm for r in rows)
    # anneal_tokens are floored BEFORE the ppm share, so the total can
    # fall short by up to 1 token per source, i.e. ~1e6/ab ppm each.
    slack = len(rows) * (1 + 1_000_000 // max(ab, 1))
    assert 1_000_000 - slack <= share <= 1_000_000


def test_cohort_ltv_cumulative_and_conserved(spark):
    """cum_value_micro is the running sum per cohort; total value across
    the matrix equals the corpus total (quantized)."""
    import math as m
    rows = _run(spark, "events_cohort_ltv").collect()
    from collections import defaultdict
    per = defaultdict(list)
    for r in rows:
        per[r.cohort_week].append(r)
    for wk, rs in per.items():
        rs.sort(key=lambda r: r.age_weeks)
        run = 0
        for r in rs:
            run += r.value_micro
            assert r.cum_value_micro == run, (wk, r.age_weeks)
    ev = spark.read.parquet(f"{SF}/events.parquet").collect()
    total = sum(m.floor(e.value * 1e6 + 0.5) for e in ev)
    assert sum(r.value_micro for r in rows) == total


def test_novelty_decay_monotone_accounting(spark):
    """Every decile's new grams <= distinct grams; decile 0 is 100%
    novel by construction; total new grams equal the corpus-wide
    distinct gram count."""
    rows = sorted(_run(spark, "corpus_novelty_decay").collect(),
                  key=lambda r: r.decile)
    assert rows[0].n_new_grams == rows[0].n_distinct_grams
    assert rows[0].novelty_ppm == 1_000_000
    for r in rows:
        assert 0 <= r.n_new_grams <= r.n_distinct_grams
        assert 0 <= r.novelty_ppm <= 1_000_000


def test_bot_flags_only_on_active_regular_users(spark):
    rows = _run(spark, "events_bot_regularity_flags").collect()
    for r in rows:
        assert r.cv2 >= -1e-6 or r.n_events < 2
        if r.flag_regular:
            assert r.n_events >= BOT_MIN_EVENTS
            assert r.cv2 < BOT_CV2_MAX


def test_bfs_levels_bounded_and_rooted(spark):
    """Level 0 counts exactly the seeds present; levels are within the
    hop cap; counts are positive."""
    rows = sorted(_run(spark, "graph_knn_bfs_recursive").collect(),
                  key=lambda r: r.lvl)
    n_seeds = (spark.read.parquet(f"{SF}/embeddings.parquet")
               .filter(F.col("vec_id") < BFS_SEED_MAX).count())
    assert rows[0].lvl == 0 and rows[0].n_first_reached == n_seeds
    for r in rows:
        assert 0 <= r.lvl <= BFS_MAX_DEPTH
        assert r.n_first_reached >= 1


def test_thumbnail_matches_python_resample(spark):
    """Thumbnails must equal the direct nearest-neighbor byte resample of
    every payload, fixed width, empty payloads handled."""
    from nats_stream_processor_spark.operators.multimodal import THUMB_K
    docs = {r.doc_id: r.text.encode("utf-8")
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    got = {r.doc_id: (r.n_bytes, r.thumb_hex)
           for r in _run(spark, "media_resize_thumbnail").collect()}
    assert set(got) == set(docs)
    for did, p in docs.items():
        n = len(p)
        exp = (bytes(p[(i * n) // THUMB_K] for i in range(THUMB_K)).hex()
               if n else "")
        assert got[did] == (n, exp), did


def test_q19_brackets_match_python_filter(spark):
    import math as m
    parts = {r.p_partkey: r
             for r in spark.read.parquet(f"{SF}/part.parquet").collect()}
    n, rev = 0, 0
    for r in spark.read.parquet(f"{SF}/lineitem.parquet").collect():
        p = parts[r.l_partkey]
        if any(p.p_brand == b and slo <= p.p_size <= shi
               and qlo <= r.l_quantity <= qhi
               for b, slo, shi, qlo, qhi in Q19_BRACKETS):
            n += 1
            rev += m.floor(r.l_extendedprice * (1 - r.l_discount) * 1e6 + 0.5)
    got = _run(spark, "join_disjunctive_brackets").collect()[0]
    assert (got.n_rows, got.revenue_micro) == (n, rev)


def test_edit_distance_pairs_symmetric_reference(spark):
    """Every surviving pair must satisfy the ratio cut when recomputed
    in Python (difflib-free classic Levenshtein on the same prefixes)."""
    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    docs = {r.doc_id: r.text[:EDIT_PREFIX]
            for r in spark.read.parquet(f"{SF}/documents.parquet").collect()}
    rows = _run(spark, "dedup_edit_distance_verify").collect()
    for r in rows:
        d = lev(docs[r.doc_a], docs[r.doc_b])
        mx = max(len(docs[r.doc_a]), len(docs[r.doc_b]), 1)
        assert r.lev == d, (r.doc_a, r.doc_b)
        assert r.ratio_ppm == d * 1_000_000 // mx
        assert r.ratio_ppm <= EDIT_MAX_RATIO_PPM


def test_epoch_decay_effective_bounded_by_target(spark):
    """Effective tokens <= target tokens (decay only reduces), >= fresh
    tokens when the source repeats at all, and full_epochs respects the
    clamp."""
    rows = _run(spark, "curation_epoch_decay_schedule").collect()
    for r in rows:
        assert 0 <= r.full_epochs <= EPOCH_MAX
        assert r.effective_tokens <= r.target_tokens + 1e-6
        if r.target_tokens >= r.n_tokens:
            assert r.effective_tokens >= r.n_tokens - 1e-6


def test_matryoshka_recall_monotone_in_prefix(spark):
    """Recall must not decrease with more dims, stay in [0, 1e6], and
    cover the full query panel; the 64-dim baseline is by definition
    recall 1.0 (so every prefix is <= 1e6)."""
    rows = sorted(_run(spark, "sim_matryoshka_recall").collect(),
                  key=lambda r: r.prefix_len)
    assert [r.prefix_len for r in rows] == sorted(MRL_PREFIXES)
    n_q = min(MRL_PANEL,
              spark.read.parquet(f"{SF}/embeddings.parquet").count())
    recalls = []
    for r in rows:
        assert r.n_queries == n_q
        assert 0 <= r.mean_recall_ppm <= 1_000_000
        recalls.append(r.mean_recall_ppm)
    assert recalls == sorted(recalls)


def test_longest_streak_matches_python(spark):
    """Streaks recomputed directly from distinct active days."""
    from collections import defaultdict
    days = defaultdict(set)
    for r in spark.read.parquet(f"{SF}/events.parquet").collect():
        days[r.user_id].add(r.ts.date())
    got = {r.user_id: r for r in _run(spark, "events_longest_streak").collect()}
    assert set(got) == set(days)
    for u, ds in days.items():
        sd = sorted(ds)
        streaks, cur = [], 1
        for a, b in zip(sd, sd[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        r = got[u]
        assert r.n_active_days == len(ds)
        assert r.longest_streak == max(streaks)
        assert r.n_streaks == len(streaks)


def test_contamination_grid_complete_and_bounded(spark):
    """Every (source, bench) cell exists; contaminated <= n_docs; per-
    source totals agree across benches."""
    rows = _run(spark, "curation_contamination_by_benchmark").collect()
    from collections import defaultdict
    per = defaultdict(dict)
    for r in rows:
        per[r.source][r.bench] = r
    for s, cells in per.items():
        assert sorted(cells) == list(range(CONTAM_BENCHES))
        nd = {c.n_docs for c in cells.values()}
        assert len(nd) == 1
        for c in cells.values():
            assert 0 <= c.n_contaminated <= c.n_docs
            assert 0 <= c.contaminated_ppm <= 1_000_000
