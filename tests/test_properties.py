"""Property-based invariants (hypothesis) for the classifier batch
functions — the Python halves of the U1/U2 pandas UDFs. These run without
a SparkSession, so hypothesis can hammer them with arbitrary unicode:
the invariants the reference guarantees per message
(src/sentiment.py:124-174, src/topic_classifier.py:130-200) must hold for
EVERY input, not just the corpus.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nats_stream_processor_spark.functions.classify import (
    classify_batch,
    sentiment_batch,
    topics_batch,
)
from nats_stream_processor_spark.functions.topics import LABELS

texts = st.lists(
    st.one_of(st.none(), st.text(max_size=200)), min_size=1, max_size=20)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_sentiment_invariants(batch):
    out = sentiment_batch(pd.Series(batch))
    assert len(out) == len(batch)
    for _, row in out.iterrows():
        p = row["probabilities"]
        probs = [p["negative"], p["neutral"], p["positive"]]
        # rounded to 6dp per element -> sum within 2e-6 of 1
        assert math.isclose(sum(probs), 1.0, abs_tol=2e-6)
        assert all(0.0 <= x <= 1.0 for x in probs)
        # label is the argmax, confidence is the max prob
        labels = ["negative", "neutral", "positive"]
        assert row["sentiment"] == labels[probs.index(max(probs))]
        assert row["confidence"] == max(probs)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_topics_invariants(batch):
    out = topics_batch(pd.Series(batch))
    assert len(out) == len(batch)
    for _, row in out.iterrows():
        # U2d: the top topic is ALWAYS in the published set (reference:
        # src/topic_classifier.py:179-182) — the routing subject invariant
        assert row["top_topic"] in row["topics"]
        assert row["top_topic"] in LABELS
        assert set(row["topics"]) <= set(LABELS)
        assert 0.0 < row["top_confidence"] < 1.0


@settings(max_examples=200, deadline=None)
@given(texts)
def test_classifiers_deterministic(batch):
    s = pd.Series(batch)
    a, b = sentiment_batch(s), sentiment_batch(s)
    pd.testing.assert_frame_equal(a, b)
    ta, tb = topics_batch(s), topics_batch(s)
    pd.testing.assert_frame_equal(ta, tb)


@settings(max_examples=200, deadline=None)
@given(texts, st.sampled_from([0.0, 0.4, 0.5, 0.7, 1.0, 1.01]))
def test_fused_classifier_equals_separate_kernels(batch, threshold):
    """The fused kernel (one tokenization, gate inside) equals
    sentiment_batch plus topics_batch row for row, bit for bit; rows
    below the gate carry no topics."""
    s = pd.Series(batch)
    out = classify_batch(s, threshold)
    sent, top = sentiment_batch(s), topics_batch(s)
    assert len(out) == len(batch)
    for i, row in enumerate(out.itertuples(index=False)):
        p = sent["probabilities"][i]
        assert row.sentiment == sent["sentiment"][i]
        assert row.confidence == sent["confidence"][i]
        assert (row.p_negative, row.p_neutral, row.p_positive) == (
            p["negative"], p["neutral"], p["positive"])
        if row.confidence >= threshold:
            assert list(row.topics) == list(top["topics"][i])
            assert row.top_topic == top["top_topic"][i]
            assert row.top_confidence == top["top_confidence"][i]
        else:
            assert row.topics is None and row.top_topic is None
            assert math.isnan(row.top_confidence)


def test_fused_classifier_empty_and_fully_gated_batches():
    assert len(classify_batch(pd.Series([], dtype=object), 0.4)) == 0
    out = classify_batch(pd.Series(["great day", None, ""]), 1.01)
    assert out["topics"].isna().all() and out["top_topic"].isna().all()
    assert list(out["sentiment"]) == ["positive", "neutral", "neutral"]


# --- round6_stable cross-engine contract -------------------------------

# Values whose shortest decimal repr terminates with a 5 in the 7th place
# but whose double is just BELOW the decimal boundary — the class where
# Spark round(x, 6) (HALF_UP on shortest repr -> rounds up) and DuckDB
# round(x, 6) (scaled-double -> rounds down) disagree. 0.0313375 is the
# centroid mean that exposed this in production; the others are int
# ratios of the 2^7*5^j-denominator family.
BOUNDARY_VALUES = [
    0.0313375,       # observed k-means centroid-mean divergence
    1.0 / 640.0,     # 0.0015625
    3.0 / 640.0,     # 0.0046875
    7.0 / 3200.0,    # 0.0021875
    1.0 / 128.0,     # 0.0078125 (binary-exact: engines agree either way)
    -0.0313375,      # negative side of the tie rule
    0.1234561,       # non-boundary control
    0.25, 0.0,       # exactly-representable controls
]


def test_round6_stable_matches_duckdb(spark):
    """The floor-based stable rounding must produce bit-identical doubles
    in Spark and DuckDB for the half-boundary values where the engines'
    native round() builtins diverge."""
    import duckdb

    from nats_stream_processor_spark.operators.similarity import (
        round6_stable,
        round6_stable_sql,
    )

    df = spark.createDataFrame([(v,) for v in BOUNDARY_VALUES], "x double")
    got_spark = [r.y for r in
                 df.select(round6_stable(F.col("x")).alias("y")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {round6_stable_sql(repr(v))}").fetchone()[0]
        for v in BOUNDARY_VALUES
    ]
    assert got_spark == got_duck
    # and the observed production case lands on the DuckDB-native side
    assert got_spark[0] == 0.031337


def test_round6_stable_matches_python_twin():
    """kmeans._round6_stable (the in-process trainer's rounding) is the
    same function."""
    from nats_stream_processor_spark.operators.kmeans import _round6_stable

    for v in BOUNDARY_VALUES:
        assert _round6_stable(v) == math.floor(v * 1e6 + 0.5) / 1e6


# --- cross-engine dot-product contract: the three SQL forms and the
# in-process fold must produce bit-identical doubles (the LSH buckets,
# cosine thresholds, and k-means replays all assume this).

vectors = st.lists(
    st.floats(min_value=-10.0, max_value=10.0,
              allow_nan=False, allow_infinity=False, width=64),
    min_size=1, max_size=16)


@settings(max_examples=60, deadline=None)
@given(vectors, vectors)
def test_dot_sql_forms_bit_identical(a, b):
    import duckdb

    from nats_stream_processor_spark.operators.kmeans import _dot_py
    from nats_stream_processor_spark.operators.similarity import (
        dot_sql,
        dot_unrolled_sql,
        dot_weights_sql,
    )
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    # String-parse each element: bare numeric literals type as DECIMAL in
    # DuckDB, and the DECIMAL->DOUBLE cast is NOT correctly rounded (two
    # 1-ulp divergences this test found); CAST('<repr>' AS DOUBLE) is the
    # correctly-rounded parse, which is what real DOUBLE columns hold.
    lit = lambda v: ("[" + ", ".join(  # noqa: E731
        f"CAST('{x!r}' AS DOUBLE)" for x in v) + "]")
    con = duckdb.connect()
    lam, unr, wtd = con.execute(
        f"SELECT {dot_sql(lit(a), lit(b), n)},"
        f"       {dot_unrolled_sql(lit(a), lit(b), n)},"
        f"       {dot_weights_sql(a, lit(b))}"
    ).fetchone()
    py = _dot_py(a, b)
    # bit-identical, not approximately equal: all four are the same
    # left-associated IEEE fold
    assert lam == unr == wtd == py


# --------------------------------------------- normalization parity

@settings(max_examples=25, deadline=None)
@given(batch=st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=(
                "Lu", "Ll", "Nd", "Po", "Zs", "Sm", "So", "Pd")),
        max_size=60),
    min_size=1, max_size=8))
def test_normalized_key_matches_duckdb(spark, batch):
    """dedup_normalized_exact's group key must be engine-independent for
    arbitrary unicode, not just the ASCII-ish corpus: the strip-then-
    lower chain and the DuckDB twin must produce the same digest for the
    same input, or normalized dedup groups would differ between engine
    and oracle. The strip runs BEFORE lower() on purpose — lowercasing
    first would route non-ASCII uppercase through each engine's own
    Unicode case mapping (this sweep found U+0130 'I-with-dot-above':
    Java lowercases to i + combining dot, DuckDB differently), while
    ASCII-only lower() is identical everywhere."""
    import duckdb

    import pyspark.sql.functions as SF
    from nats_stream_processor_spark.queries.dedup import _NORM_RE

    df = spark.createDataFrame([(t,) for t in batch], "text string")
    norm = SF.lower(SF.trim(SF.regexp_replace(SF.col("text"), _NORM_RE, " ")))
    got_spark = [r.k for r in df.select(SF.md5(norm).alias("k")).collect()]

    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT md5(lower(trim(regexp_replace(?, '{_NORM_RE}', ' ', 'g'))))",
            [t],
        ).fetchone()[0]
        for t in batch
    ]
    assert got_spark == got_duck


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=1, max_value=500))
def test_chunk_grid_covers_all_tokens(n):
    """Pure-arithmetic twin of the chunker's stride grid (llm_ext
    CHUNK_LEN/CHUNK_STRIDE): for any token count the generated
    (start, len) windows cover every token index, starts sit on the
    stride grid, only the final chunk may be short, and overlap between
    consecutive full chunks is exactly CHUNK_LEN - CHUNK_STRIDE."""
    from nats_stream_processor_spark.queries.dedup import (
        CHUNK_LEN,
        CHUNK_STRIDE,
    )

    starts = list(range(0, n, CHUNK_STRIDE))
    lens = [min(CHUNK_LEN, n - s) for s in starts]
    covered = set()
    for s, ln in zip(starts, lens):
        assert ln >= 1
        covered.update(range(s, s + ln))
    assert covered == set(range(n))
    for (s1, l1), (s2, _) in zip(zip(starts, lens), zip(starts[1:], lens[1:])):
        if l1 == CHUNK_LEN:
            assert (s1 + l1) - s2 == CHUNK_LEN - CHUNK_STRIDE


@settings(max_examples=150, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000_000),
                min_size=1, max_size=12),
       st.integers(min_value=1, max_value=99))
def test_waterfill_sql_invariants(sizes, pct):
    """The water-filling allocation SQL (queries/curation.
    waterfill_alloc_sql — the exact text the registered oracle uses) must
    satisfy, for ANY per-source token profile and target percentage:
    sum(allocated) == budget exactly; uncapped sources are taken whole;
    capped allocations differ by at most one token; every capped source
    is at least as large as every uncapped one; and no allocation is
    negative or above its source size... except capped == no cap ceiling
    (a capped source may receive less than its size, never more).
    Hammered through DuckDB over VALUES tables — no Spark needed, so
    hypothesis can afford adversarial shapes (all-zero corpora, single
    source, ties everywhere) that the parquet fixtures never produce."""
    import duckdb

    from nats_stream_processor_spark.queries.curation import (
        waterfill_alloc_sql,
    )

    vals = ", ".join(f"('s{i:02d}', {n})" for i, n in enumerate(sizes))
    n_cte = (f"SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens "
             f"FROM (VALUES {vals}) v(source, n_tokens)")
    con = duckdb.connect()
    rows = con.execute(waterfill_alloc_sql(n_cte, pct)).fetchall()
    con.close()
    total = sum(sizes)
    budget = total * pct // 100
    by = {r[0]: {"n": r[1], "a": r[2], "capped": r[3]} for r in rows}
    assert len(by) == len(sizes)
    assert sum(v["a"] for v in by.values()) == budget
    capped = [v for v in by.values() if v["capped"]]
    uncapped = [v for v in by.values() if not v["capped"]]
    for v in uncapped:
        assert v["a"] == v["n"]
    for v in by.values():
        assert 0 <= v["a"] <= v["n"]
    if capped:
        allocs = [v["a"] for v in capped]
        assert max(allocs) - min(allocs) <= 1
        if uncapped:
            assert min(v["n"] for v in capped) >= max(
                v["n"] for v in uncapped)


def _swap_table(oracle: str, table: str, values_sql: str) -> str:
    """Point a registered oracle at a VALUES-backed relation. Asserts the
    table is referenced exactly once so the swap is total."""
    needle = f"FROM {table}"
    assert oracle.count(needle) == 1, oracle.count(needle)
    return oracle.replace(needle, f"FROM ({values_sql}) AS {table}")


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.sampled_from(
    ["the", "a", "of", "data", "spark", "query", "fast", "row", "x9"]),
    min_size=0, max_size=24), min_size=1, max_size=8))
def test_rake_oracle_matches_python_reference(docs):
    """The registered RAKE oracle must equal a from-scratch Python RAKE
    (stopword runs, degree/freq integer-ppm scores, lexicographic ties)
    for ARBITRARY token sequences — including all-stopword docs, empty
    docs and repeated words the corpus fixtures never produce."""
    import duckdb

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.operators.textstats import STOPWORDS

    texts = [" ".join(words) for words in docs]
    vals = ", ".join(
        f"({i}, '{t}')" for i, t in enumerate(texts))
    values_sql = f"SELECT * FROM (VALUES {vals}) v(doc_id, text)"
    oracle = _swap_table(
        registry.REGISTRY["text_keyphrases_rake"].oracle, "documents",
        values_sql)
    con = duckdb.connect()
    got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(oracle).fetchall()}
    con.close()

    expect = {}
    for did, toks in enumerate(docs):
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
        top_score = max(s for s, _ in scored)
        best = min(p for s, p in scored if s == top_score)
        expect[did] = (best, top_score, len(runs))
    assert got == expect


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=30),
                min_size=1, max_size=200))
def test_cms_oracle_overestimate_guarantee(user_ids):
    """The Count-Min oracle's one-sided contract (estimate >= exact, rank
    order by exact count) must hold for ANY key multiset — including the
    all-same-key and all-distinct extremes."""
    import duckdb

    from nats_stream_processor_spark import registry

    vals = ", ".join(f"({u})" for u in user_ids)
    values_sql = f"SELECT * FROM (VALUES {vals}) v(user_id)"
    oracle = _swap_table(
        registry.REGISTRY["sketch_cms_heavy_hitters"].oracle, "events",
        values_sql)
    con = duckdb.connect()
    rows = con.execute(oracle).fetchall()
    con.close()
    assert rows, "top-k must be non-empty for non-empty input"
    from collections import Counter
    exact = Counter(user_ids)
    prev = None
    for rank, uid, n, est, over in rows:
        assert n == exact[uid]
        assert est >= n and over == est - n
        if prev is not None:
            assert prev >= n
        prev = n


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=2),
                          st.integers(min_value=0, max_value=10**7)),
                min_size=1, max_size=60))
def test_bot_flags_oracle_matches_python_moments(events):
    """Bot-regularity oracle vs Python: capped integer gap moments and
    the rounded cv^2 cut for arbitrary (user, second-offset) events —
    including same-timestamp ties, where the event_id tiebreak pins the
    lag order."""
    import duckdb
    import math

    from nats_stream_processor_spark import registry
    from nats_stream_processor_spark.queries.events import (
        BOT_CV2_MAX,
        BOT_GAP_CAP_S,
        BOT_MIN_EVENTS,
    )

    rows = [(eid, u, s) for eid, (u, s) in enumerate(events)]
    vals = ", ".join(
        f"({eid}, {u}, TIMESTAMP '2024-01-01 00:00:00' "
        f"+ INTERVAL ({s}) SECOND)" for eid, u, s in rows)
    values_sql = (f"SELECT * FROM (VALUES {vals}) v(event_id, user_id, ts)")
    oracle = _swap_table(
        registry.REGISTRY["events_bot_regularity_flags"].oracle, "events",
        values_sql)
    con = duckdb.connect()
    got = {r[0]: r for r in con.execute(oracle).fetchall()}
    con.close()

    from collections import defaultdict
    per = defaultdict(list)
    for eid, u, s in rows:
        per[u].append((s * 1_000_000, eid))
    for u, evs in per.items():
        evs.sort()
        gaps = [min((b[0] - a[0]) // 1_000_000, BOT_GAP_CAP_S)
                for a, b in zip(evs, evs[1:])]
        n_ev, n_g = len(evs), len(gaps)
        sg, sg2 = sum(gaps), sum(g * g for g in gaps)
        r = got[u]
        assert r[1] == n_ev
        def r6(x):
            return math.floor(x * 1e6 + 0.5) / 1e6
        mean = r6(sg / n_g) if n_g else 0.0
        assert r[2] == mean, (u, r[2], mean)
        cv2 = r6(n_g * sg2 / (sg * sg) - 1) if (n_g > 1 and sg > 0) else 0.0
        assert r[3] == cv2
        exp_flag = int(n_ev >= BOT_MIN_EVENTS and n_g > 1 and sg > 0
                       and cv2 < BOT_CV2_MAX)
        assert r[4] == exp_flag


# ---------------------------- pure-Python kernels (test_llm_ext4)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=2_000_000),
                min_size=1, max_size=10))
def test_burst_dp_optimal_for_any_gap_sequence(gaps):
    """For EVERY small gap sequence, the integer Viterbi must return the
    exact brute-force minimum path cost, with its stats achievable by
    an optimal path (exhaustive 2^n enumeration, n <= 10)."""
    from itertools import product as iproduct

    from nats_stream_processor_spark.queries.events import (
        BURST_S,
        _burst_decode,
    )
    n = len(gaps)
    T = max(sum(gaps), 1)
    lam0, lam1 = n / T, BURST_S * n / T
    lnl0, lnl1 = math.log(lam0), math.log(lam1)
    trans = math.floor(math.log(n) * 1e6 + 0.5)
    k = [(math.floor((lam0 * float(g) - lnl0) * 1e6 + 0.5),
          math.floor((lam1 * float(g) - lnl1) * 1e6 + 0.5))
         for g in gaps]
    best, stats = None, set()
    for path in iproduct((0, 1), repeat=n):
        cost, prev, bursts = 0, 0, 0
        for qi, (k0, k1) in zip(path, k):
            if qi == 1 and prev == 0:
                cost += trans
                bursts += 1
            cost += k1 if qi else k0
            prev = qi
        if best is None or cost < best:
            best, stats = cost, {(bursts, sum(path))}
        elif cost == best:
            stats.add((bursts, sum(path)))
    gn, gb, gr, gc = _burst_decode(gaps)
    assert gn == n and gc == best and (gb, gr) in stats


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from("abcd"), min_size=0, max_size=40))
def test_mtld_automaton_invariants(toks):
    """MTLD invariants for arbitrary token streams: factor count is
    bounded by n/2 (a factor needs >= 2 tokens to drop TTR below 0.72
    over alphabet >= 1), the score is nonnegative, and repeating the
    stream never RAISES the per-token diversity."""
    from nats_stream_processor_spark.queries.text import _mtld_of
    n, w, ppm = _mtld_of(toks)
    assert n == len(toks)
    assert 0 <= w <= max(n // 2, 0) or (w <= n)
    assert ppm >= 0
    if toks:
        n2, w2, ppm2 = _mtld_of(toks + toks)
        # doubling a stream adds at least as many completed factors
        assert w2 >= w


@settings(max_examples=200, deadline=None)
@given(st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]),
                min_size=7, max_size=30),
       st.integers(min_value=0, max_value=20))
def test_winnowing_shared_run_guarantee(shared, offset):
    """Winnowing's core guarantee, property-tested: any two streams
    sharing a contiguous run of >= W + K - 1 tokens share at least one
    fingerprint, regardless of surrounding context."""
    from tests.test_llm_ext4 import _winnow_fps
    prefix_a = [f"x{i}" for i in range(offset % 5)]
    prefix_b = [f"y{i}" for i in range(offset % 3)]
    a = prefix_a + shared + ["zz1"]
    b = prefix_b + shared + ["qq2", "qq3"]
    assert _winnow_fps(a) & _winnow_fps(b)


# ---------------------------------------------- round-9 pure helpers


@settings(max_examples=300, deadline=None)
@given(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1))
def test_zorder_interleave_is_bijective(x, y):
    """The Morton interleave used by layout_zorder_report must be a
    bijection from (16-bit, 16-bit) onto 32 bits: both inputs recover
    exactly from their even/odd bit positions, and the z-value stays
    inside the 2^32 file-bucketing domain the operator divides by.

    The z-value under test is the DEPLOYED generator, rendered through
    _duck_shift and evaluated by DuckDB — not a Python re-derivation.
    Both engines render from the same generator, so a generator bug
    would be identical cross-engine (parity stays green); only an
    independent reimplementation (the pure-Python recovery below)
    can catch it."""
    from nats_stream_processor_spark.queries.media import (
        ZL_BITS,
        _duck_shift,
        _interleave_expr,
    )

    z = _ZORDER_DUCK.execute(
        f"SELECT {_interleave_expr('x', 'y', _duck_shift)} "
        f"FROM (SELECT CAST(? AS BIGINT) AS x, CAST(? AS BIGINT) AS y)",
        [x, y]).fetchone()[0]
    assert 0 <= z < (1 << (2 * ZL_BITS))
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(ZL_BITS))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(ZL_BITS))
    assert (rx, ry) == (x, y)


# One shared in-memory connection: the bijectivity property evaluates the
# deployed SQL per hypothesis example, and a per-example connect() would
# dominate the test's runtime.
_ZORDER_DUCK = duckdb.connect()


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=4096))
def test_scene_frame_features_bounds(payload):
    """The stub frame sampler shared by media_scene_cuts and
    media_shot_curation: always exactly SCENE_FRAMES frames in index
    order, every feature an int in [0, 255 * SCENE_SAMPLES], and
    deterministic — for ANY payload, including empty and
    shorter-than-window ones."""
    from nats_stream_processor_spark.queries.media import (
        SCENE_FRAMES,
        SCENE_SAMPLES,
        scene_frame_features,
    )

    out = scene_frame_features(payload)
    assert [j for j, _ in out] == list(range(SCENE_FRAMES))
    for _, f in out:
        assert isinstance(f, int)
        assert 0 <= f <= 255 * SCENE_SAMPLES
    assert out == scene_frame_features(payload)


# ---------------------- round-11 wave-2 pure-kernel properties


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 10 ** 6),
                          st.integers(0, 1)),
                min_size=2, max_size=120))
def test_auc_integer_identity_matches_float_reference(pairs):
    """score_auc_report's integer rank algebra (2U = Σ cp·(2R+c+1) −
    np(np+1) over distinct scores) must equal the direct float
    definition of tie-averaged AUC — P(pos > neg) + 0.5·P(pos == neg)
    over all positive×negative pairs — for ANY score/label multiset
    with both classes present."""
    from hypothesis import assume
    np_ = sum(y for _, y in pairs)
    nn = len(pairs) - np_
    assume(np_ > 0 and nn > 0)
    # integer identity (the operator's formula)
    from collections import Counter
    cnt, pos = Counter(), Counter()
    for s, y in pairs:
        cnt[s] += 1
        pos[s] += y
    below = 0
    r2 = 0
    for s in sorted(cnt):
        r2 += pos[s] * (2 * below + cnt[s] + 1)
        below += cnt[s]
    u2 = r2 - np_ * (np_ + 1)
    auc_int = u2 / (2.0 * (float(np_) * float(nn)))
    # direct pairwise definition
    wins = ties = 0
    for sp, yp in pairs:
        if yp != 1:
            continue
        for sn, yn in pairs:
            if yn != 0:
                continue
            if sp > sn:
                wins += 1
            elif sp == sn:
                ties += 1
    auc_direct = (wins + 0.5 * ties) / (np_ * nn)
    assert math.isclose(auc_int, auc_direct, rel_tol=0, abs_tol=1e-12)
    assert 0.0 <= auc_int <= 1.0


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from("ABC"), min_size=1, max_size=80))
def test_scd2_fold_is_runlength_encoding(states):
    """The SCD2 lag-compare -> running-change-count fold must produce
    exactly the run-length encoding of the state sequence: versions
    1..k, one per maximal run, event counts summing to n, half-open
    bounds chaining with no gaps."""
    # replay the fold the operator performs
    versions = []
    ver = 0
    prev = None
    for i, s in enumerate(states):
        if prev is None or s != prev:
            ver += 1
            versions.append([ver, s, i, 1])  # [version, state, start, n]
        else:
            versions[-1][3] += 1
        prev = s
    # run-length reference
    import itertools
    rle = [(k, len(list(g))) for k, g in itertools.groupby(states)]
    assert len(versions) == len(rle)
    assert [(v[1], v[3]) for v in versions] == rle
    assert [v[0] for v in versions] == list(range(1, len(rle) + 1))
    assert sum(v[3] for v in versions) == len(states)
    # bounds chain: each version starts where the previous ended
    for a, b in zip(versions, versions[1:]):
        assert b[2] == a[2] + a[3]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 999_999), min_size=1, max_size=300))
def test_poisson_weight_kernel_properties(uniforms):
    """corpus_bootstrap_ci's CASE-ladder Poisson(1) inverse CDF: weights
    in 0..5, monotone in the uniform, and the breakpoints are exactly
    the pinned micro-unit CDF literals."""
    from nats_stream_processor_spark.queries.text import _POIS_CDF_MICRO

    def w(u):
        for i, t in enumerate(_POIS_CDF_MICRO):
            if u < t:
                return i
        return len(_POIS_CDF_MICRO)

    ws = [w(u) for u in uniforms]
    assert all(0 <= x <= 5 for x in ws)
    su = sorted(uniforms)
    assert [w(u) for u in su] == sorted(w(u) for u in su)  # monotone
    # breakpoints exact: one below vs at each threshold
    for i, t in enumerate(_POIS_CDF_MICRO):
        assert w(t - 1) == i and w(t) == i + 1


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-500, 500), min_size=1, max_size=60),
       st.integers(2, 7))
def test_power_sum_merge_invariance_under_any_partitioning(vals, k):
    """events_moments_merge's merge theorem in miniature: splitting the
    value multiset into ANY k chunks, summing per-chunk integer power
    sums, then merging must equal the direct sums exactly — and the
    derived moments (the same IEEE op sequence) must match the direct
    computation bit for bit."""
    direct = (len(vals), sum(vals), sum(v * v for v in vals),
              sum(v ** 3 for v in vals))
    chunks = [vals[i::k] for i in range(k)]
    merged = tuple(
        sum(x) for x in zip(*[
            (len(c), sum(c), sum(v * v for v in c),
             sum(v ** 3 for v in c)) for c in chunks]))
    assert merged == direct
    n, s1, s2, s3 = direct
    if n and (s2 / float(n) - (s1 / float(n)) ** 2) > 0:
        def moments(n_, s1_, s2_, s3_):
            nd = float(n_)
            mean = s1_ / nd
            ex2 = s2_ / nd
            var = s2_ / nd - mean * mean
            return (mean, var,
                    (s3_ / nd - 3.0 * mean * ex2 + 2.0 * mean ** 3)
                    / (math.sqrt(var) * var))
        assert moments(*direct) == moments(*merged)


# ------------------- round-12 mergeable-summary kernels (pure Python)


@settings(max_examples=200, deadline=None)
@given(st.dictionaries(st.integers(-2**40, 2**40),
                       st.integers(1, 2**40), max_size=30))
def test_hist_codec_roundtrip_and_canonical(hist):
    """streaming/quantile.py codec: decode(encode(d)) == d, and the
    encoding is CANONICAL — equal dicts give equal bytes regardless of
    insertion order (the equal-dicts <=> equal-bytes law the streaming
    parity test leans on)."""
    from nats_stream_processor_spark.streaming import quantile as qh
    blob = qh.hist_encode(hist)
    assert qh.hist_decode(blob) == hist
    reordered = dict(sorted(hist.items(), reverse=True))
    assert qh.hist_encode(reordered) == blob


@settings(max_examples=200, deadline=None)
@given(st.lists(st.dictionaries(st.integers(-100, 100),
                                st.integers(1, 1000), max_size=10),
                min_size=1, max_size=6))
def test_hist_merge_is_partition_invariant(parts):
    """Merging per-part histograms in ANY order/grouping equals the
    histogram of the concatenated data (the mergeability law that makes
    per-hour summaries window-composable)."""
    from nats_stream_processor_spark.streaming import quantile as qh
    total: dict = {}
    for p in parts:
        for bk, c in p.items():
            total[bk] = total.get(bk, 0) + c
    left: dict = {}
    for p in parts:
        left = qh.hist_merge(left, p)
    right: dict = {}
    for p in reversed(parts):
        right = qh.hist_merge(p, right)
    assert left == total and right == total


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-10_000, 10_000), min_size=1, max_size=300))
def test_hist_quantile_containment_theorem(values):
    """The estimator's theorem, on arbitrary data: for each quantile,
    est <= exact < est + SQ_W, where exact is the k-th smallest value
    (k = the operator's integer ceil arithmetic) — the claim the batch
    oracle pins to literal TRUE."""
    from nats_stream_processor_spark.queries.events import SQ_W
    from nats_stream_processor_spark.streaming import quantile as qh
    hist: dict = {}
    for v in values:
        bk = v // SQ_W  # python floor div == F.floor(v / SQ_W) for ints
        hist[bk] = hist.get(bk, 0) + 1
    n, est50, est95 = qh.hist_quantiles(hist, SQ_W)
    assert n == len(values)
    s = sorted(values)
    k50 = (n + 1) // 2
    k95 = (19 * n + 19) // 20
    for est, k in ((est50, k50), (est95, k95)):
        exact = s[k - 1]
        assert est <= exact < est + SQ_W, (est, exact)


@settings(max_examples=200, deadline=None)
@given(st.dictionaries(st.integers(0, 2**40), st.integers(1, 2**40),
                       max_size=40))
def test_topk_counts_codec_roundtrip_and_canonical(counts):
    from nats_stream_processor_spark.streaming import topk as tk
    blob = tk.counts_encode(counts)
    assert tk.counts_decode(blob) == counts
    reordered = dict(sorted(counts.items(), reverse=True))
    assert tk.counts_encode(reordered) == blob


@settings(max_examples=200, deadline=None)
@given(st.dictionaries(st.integers(0, 1000), st.integers(1, 1000),
                       min_size=1, max_size=40),
       st.integers(1, 12))
def test_topk_summary_error_bound_guarantee(counts, width):
    """The freq-items truncation invariant for ANY hour and ANY width:
    the summary keeps the top `width` by (count desc, user asc); every
    user ABSENT from the summary has true count <= the emitted bound
    e_h; kept counts are exact; and the kept set is a prefix of the
    deterministic ordering (re-run stable)."""
    from nats_stream_processor_spark.streaming import topk as tk
    pdf = tk.summary_rows(7, counts, width)
    assert (pdf["h"] == 7).all()
    # raw pandas renders the NULL-user marker as NaN (Arrow converts it
    # to a real NULL on the Spark path — the streaming test covers that)
    kept = {int(u): int(c) for u, c in
            zip(pdf["user_id"], pdf["cnt"]) if pd.notna(u)}
    bounds = [int(c) for u, c in zip(pdf["user_id"], pdf["cnt"])
              if pd.isna(u)]
    ordered = sorted(counts.items(), key=lambda t: (-t[1], t[0]))
    assert kept == dict(ordered[:width])
    if len(counts) > width:
        assert bounds == [ordered[width][1]]
        e_h = bounds[0]
        for u, c in ordered[width:]:
            assert c <= e_h, (u, c, e_h)
    else:
        assert bounds == []


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 30),
                          st.integers(1, 50)),
                min_size=1, max_size=60),
       st.integers(1, 8))
def test_sliding_topk_prune_containment_for_any_width(cells_list, width):
    """The per-window containment argument behind events_sliding_topk,
    hammered on arbitrary (hour, user, count) data and ANY summary
    width: whenever a window passes the guard (D_w = 0, or a FULL
    merged head with est_T > D_w), the candidate set {est + D_w >=
    est_T} provably contains the window's true top-T — so the exact
    candidate-only verify returns the exact head."""
    TOP = 3
    SW = 3
    cells: dict = {}
    for h, u, c in cells_list:
        cells[(h, u)] = cells.get((h, u), 0) + c
    hmax = max(h for h, _ in cells)
    # per-hour summaries
    kept: dict = {}
    e_h: dict = {}
    by_h: dict = {}
    for (h, u), c in cells.items():
        by_h.setdefault(h, []).append((u, c))
    for h, lst in by_h.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        for u, c in lst[:width]:
            kept[(h, u)] = c
        e_h[h] = lst[width][1] if len(lst) > width else 0
    # window layer
    wu_true: dict = {}
    est: dict = {}
    dw: dict = {}
    for (h, u), c in cells.items():
        for w in range(h, min(h + SW - 1, hmax) + 1):
            wu_true.setdefault(w, {})
            wu_true[w][u] = wu_true[w].get(u, 0) + c
    for (h, u), c in kept.items():
        for w in range(h, min(h + SW - 1, hmax) + 1):
            est.setdefault(w, {})
            est[w][u] = est[w].get(u, 0) + c
    for h, e in e_h.items():
        for w in range(h, min(h + SW - 1, hmax) + 1):
            dw[w] = dw.get(w, 0) + e
    for w, true_counts in wu_true.items():
        merged = est.get(w, {})
        head = sorted(merged.items(), key=lambda t: (-t[1], t[0]))[:TOP]
        d = dw.get(w, 0)
        if not head:
            continue
        est_t = head[-1][1]
        passes = d == 0 or (len(head) == TOP and est_t > d)
        if not passes:
            continue
        cand = {u for u, e in merged.items() if e + d >= est_t}
        true_head = sorted(true_counts.items(),
                           key=lambda t: (-t[1], t[0]))[:TOP]
        for u, _c in true_head:
            assert u in cand, (w, u, d, est_t)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 2)),
                min_size=1, max_size=80),
       st.integers(1, 10))
def test_scd2_incremental_merge_equals_full_fold(seq, cut_frac):
    """The run-algebra theorem behind scd2_incremental_apply, on
    arbitrary state sequences and ANY cut position: fold the pre-cut
    events, apply the post-cut events via the merge-or-close rule
    (same-state first delta run merges into the open run; otherwise the
    open run closes), and the assembled runs equal the full fold."""
    def fold(events):
        runs = []
        for st_, us in events:
            if runs and runs[-1][1] == st_:
                v, s_, vf, n = runs[-1]
                runs[-1] = (v, s_, vf, n + 1)
            else:
                runs.append((len(runs) + 1, st_, us, 1))
        return runs

    events = [(st_, i) for i, (st_, _u) in enumerate(seq)]
    cut = (len(events) * cut_frac) // 10
    base, delta = events[:cut], events[cut:]
    b_runs, d_runs = fold(base), fold(delta)
    if not b_runs:
        assembled = d_runs
    elif not d_runs:
        assembled = b_runs
    else:
        closed = b_runs[:-1]
        ov, os_, ovf, on = b_runs[-1]
        f_v, f_s, f_vf, f_n = d_runs[0]
        if f_s == os_:
            open_adj = [(ov, os_, ovf, on + f_n)]
            tail = [(ov + v - 1, s_, vf, n)
                    for v, s_, vf, n in d_runs[1:]]
        else:
            open_adj = [(ov, os_, ovf, on)]
            tail = [(ov + v, s_, vf, n) for v, s_, vf, n in d_runs]
        assembled = closed + open_adj + tail
    assert assembled == fold(events)


# ---------------------- pure kernels (queries/dedup.py / streaming.dedup)


@given(st.data())
@settings(max_examples=60, deadline=None)
def test_streaming_dedup_fold_equals_single_scan(data):
    """streaming/dedup.py's kernel laws, off Spark: (1) canonical digest
    bytes roundtrip (equal sets <=> equal bytes); (2) folding any
    micro-batch split of a row sequence through _keep_scan yields the
    same verdicts AND the same final state as one single-batch scan —
    the streaming/batch twin equality, on arbitrary duplicate
    structures and split points; (3) exactly the smallest doc_id per
    digest keeps."""
    from nats_stream_processor_spark.streaming import dedup as dd

    n = data.draw(st.integers(min_value=0, max_value=30))
    texts = [data.draw(st.sampled_from(["a", "b", "c", "d", "e"]))
             for _ in range(n)]
    doc_ids = data.draw(st.permutations(list(range(n))))
    rows = pd.DataFrame({"doc_id": list(doc_ids),
                         "content_key": [__import__("hashlib").md5(
                             t.encode()).hexdigest() for t in texts]})
    # single scan
    seen_one: set = set()
    one = dd._keep_scan(seen_one, rows) if n else pd.DataFrame(
        {"doc_id": [], "content_key": [], "keep": []})
    # arbitrary micro-batch split, folded through the same state
    n_cuts = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(data.draw(st.lists(
        st.integers(min_value=0, max_value=n), min_size=n_cuts,
        max_size=n_cuts)))
    seen_fold: set = set()
    parts = []
    for lo, hi in zip([0] + cuts, cuts + [n]):
        if hi > lo:
            parts.append(dd._keep_scan(seen_fold, rows.iloc[lo:hi]))
    assert dd.digests_encode(seen_fold) == dd.digests_encode(seen_one)
    assert dd.digests_decode(dd.digests_encode(seen_one)) == seen_one
    if n:
        folded = pd.concat(parts).sort_values("doc_id") if parts \
            else one.iloc[:0]
        one_s = one.sort_values("doc_id")
        # within-batch order is doc_id-sorted either way, but ACROSS
        # batches the fold keeps the earliest batch's first occurrence —
        # identical verdicts only when batches partition the doc_id
        # order; the guaranteed law is on the KEEPER SET per digest
        keep_one = {r.content_key: r.doc_id
                    for r in one_s.itertuples() if r.keep}
        keep_fold = {}
        for p in parts:
            for r in p.itertuples():
                if r.keep:
                    keep_fold.setdefault(r.content_key, r.doc_id)
        assert set(keep_one) == set(keep_fold)
        for ck, did in keep_one.items():
            grp = rows[rows.content_key == ck].doc_id
            assert did == grp.min()


def _cap_relative_drop_and_recount(toks, k, cap):
    """Pure-python reference of dedup_drop_plan_execute with a
    PARAMETERIZED span-DF cap: compute the cap-relative full-containment
    drop set, apply it, recount full containments on the survivor corpus
    (cap re-applied to survivor DF). Returns (dropped, recount)."""
    def full_pairs(ids):
        spans = {i: [tuple(toks[i][p:p + k])
                     for p in range(len(toks[i]) - k + 1)]
                 for i in ids if len(toks[i]) >= k}
        df: dict = {}
        for i, sp in spans.items():
            for s in set(sp):
                df[s] = df.get(s, 0) + 1
        hot = {s for s, d in df.items() if d > cap}
        pairs = set()
        for a in spans:
            for b in spans:
                if a >= b:
                    continue
                sa, sb = spans[a], spans[b]
                best, run = 0, {}
                for pa in range(len(sa)):
                    nxt = {}
                    for pb in range(len(sb)):
                        if sa[pa] == sb[pb] and sa[pa] not in hot:
                            r = run.get(pb - 1, 0) + 1
                            nxt[pb] = r
                            best = max(best, r)
                    run = nxt
                if best and best == min(len(sa), len(sb)):
                    pairs.add((a, b))
        return pairs, spans
    pairs, spans = full_pairs(list(range(len(toks))))
    dropped = set()
    for a, b in pairs:
        small = a if len(spans[a]) < len(spans[b]) else b
        if len(spans[a]) == len(spans[b]):
            small = b  # equal content: the larger id drops
        dropped.add(small)
    recount, _ = full_pairs([i for i in range(len(toks))
                             if i not in dropped])
    return dropped, len(recount)


@given(st.data())
@settings(max_examples=40, deadline=None)
def test_drop_execute_recount_zero_is_cap_robust(data):
    """The incremental near-dup cap-robustness theorem, hammered with a TINY cap so
    masking is common: random corpora of base slices (containment
    chains, equal docs) plus shared-boilerplate plants; whatever the cap
    masks, dropping the visible containments never reveals a masked one
    — the survivor recount is 0 on every generated corpus."""
    k = data.draw(st.integers(min_value=2, max_value=4))
    cap = data.draw(st.integers(min_value=1, max_value=3))
    n_base = data.draw(st.integers(min_value=k, max_value=16))
    base = [data.draw(st.sampled_from(["x", "y"])) for _ in range(n_base)]
    boiler = [data.draw(st.sampled_from(["p", "q"])) for _ in range(k)]
    n_docs = data.draw(st.integers(min_value=2, max_value=7))
    toks = []
    for _ in range(n_docs):
        lo = data.draw(st.integers(min_value=0,
                                   max_value=max(0, n_base - k)))
        hi = data.draw(st.integers(min_value=lo + k, max_value=n_base))
        doc = base[lo:hi]
        if data.draw(st.booleans()):       # plant shared boilerplate
            doc = boiler + doc
        toks.append(doc)
    dropped, recount = _cap_relative_drop_and_recount(toks, k, cap)
    assert recount == 0, (toks, k, cap, dropped)
