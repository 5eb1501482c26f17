"""Correctness of the span-run, leakage, sliding-quantile and looping operators:

- dedup_max_duplicated_run: a planted nested/partial-overlap fixture
  replicated by a plain-Python diagonal scan (token-level, no
  hashing — an independent formulation of the same quantity), explicit
  expected values for the planted regimes, and the full-containment
  flag's semantics on both sides of its boundary.
- dedup_containment_drop_plan: raw-token containment reference,
  exact-duplicate tie-breaks, and the A>B>C chain (kept_in must be a
  surviving doc, never the dropped middle link).
- split_leakage_report: planted near-dup families across the split
  boundary (all three classes surfaced, is_leak only on train-val),
  plus the composition check against its two certified parents."""

from __future__ import annotations

import itertools
import random

import pytest

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.events import SQ_W
from nats_stream_processor_spark.queries.text import LP_D, MR_K


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _write_docs(spark, tmp_path, texts):
    d = tmp_path / "sf_synth"
    spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                          "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    return str(d)


def _toks(text):
    import re
    return re.findall("[a-z0-9]+", text.lower())


def _max_common_run(xs, ys):
    """Longest common token run via the diagonal scan — the O(n*m)
    independent reference for what the span islands compute."""
    best = 0
    for d in range(-(len(ys) - 1), len(xs)):
        run = 0
        for i in range(max(0, d), min(len(xs), len(ys) + d)):
            if xs[i] == ys[i - d]:
                run += 1
                best = max(best, run)
            else:
                run = 0
    return best


def _shared_positions(xs, ys, k):
    """Number of (pa, pb) K-gram position matches (the n_shared_positions
    column), from raw token K-grams."""
    ga = [tuple(xs[i:i + k]) for i in range(len(xs) - k + 1)]
    gb = [tuple(ys[j:j + k]) for j in range(len(ys) - k + 1)]
    return sum(1 for a in ga for b in gb if a == b)


def _vocab_texts():
    """The planted regimes. Token vocabulary is synthetic (wNNN) so no
    accidental cross-doc repeats occur outside the plants."""
    rng = random.Random(7)
    base = [f"w{i:03d}" for i in range(60)]           # doc 0
    nested = base[10:41]                              # doc 1: 31 tokens, contiguous in 0
    partial = base[40:] + [f"p{i:03d}" for i in range(20)]  # doc 2: 20-token suffix overlap
    # doc 3: copy of 0 with ONE token changed mid-run -> two runs (29 / 30)
    mutated = list(base)
    mutated[29] = "zzz"
    novel = [f"n{i:03d}" for i in range(40)]          # doc 4: no overlap
    short = [f"s{i:03d}" for i in range(MR_K - 1)]  # doc 5: sub-K, excluded
    rng.shuffle(novel)
    return [" ".join(t) for t in
            (base, nested, partial, mutated, novel, short)]


def test_max_run_matches_diagonal_scan_reference(spark, tmp_path):
    texts = _vocab_texts()
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {(r.doc_a, r.doc_b): r for r in
           registry.REGISTRY["dedup_max_duplicated_run"].fn(
               spark, sf_dir).collect()}
    toks = [_toks(t) for t in texts]
    k = MR_K
    expect = {}
    for a, b in itertools.combinations(range(len(toks)), 2):
        if len(toks[a]) < k or len(toks[b]) < k:
            continue  # sub-K docs carry no spans
        run = _max_common_run(toks[a], toks[b])
        if run >= k:
            expect[(a, b)] = run
    assert set(got) == set(expect)
    for (a, b), run in expect.items():
        r = got[(a, b)]
        assert r.max_run_tokens == run, (a, b)
        assert r.max_run_spans == run - k + 1, (a, b)
        assert r.n_shared_positions == _shared_positions(
            toks[a], toks[b], k), (a, b)
        n_sp_small = min(len(toks[a]), len(toks[b])) - k + 1
        assert r.full_containment == (r.max_run_spans == n_sp_small), (a, b)


def test_planted_regimes_explicit_values(spark, tmp_path):
    texts = _vocab_texts()
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {(r.doc_a, r.doc_b): r for r in
           registry.REGISTRY["dedup_max_duplicated_run"].fn(
               spark, sf_dir).collect()}
    # nested: doc 1 is a verbatim 31-token extract of doc 0
    nested = got[(0, 1)]
    assert nested.max_run_tokens == 31
    assert nested.full_containment  # run covers ALL of doc 1's spans
    # partial: docs 0 and 2 share a 20-token suffix/prefix overlap only
    partial = got[(0, 2)]
    assert partial.max_run_tokens == 20
    assert not partial.full_containment
    # one mid-run mutation splits doc 0 vs doc 3 into runs of 29 and 30
    mutated = got[(0, 3)]
    assert mutated.max_run_tokens == 30
    assert not mutated.full_containment
    # doc 4 (novel) and doc 5 (sub-K) pair with nothing
    assert not any(4 in p or 5 in p for p in got)
    # the nested extract also overlaps the mutated copy (tokens 10..28
    # run of 19, 30..40 run of 11 -> max 19 < 31: mutation landed inside)
    assert got[(1, 3)].max_run_tokens == 19


def test_span_df_cap_drops_boilerplate_pairs(spark, tmp_path):
    """Planted hot span (the r11 verdict's weak marker): 80 documents
    share ONE 16-token boilerplate sentence (span DF 80 > SPAN_DF_CAP)
    but are otherwise disjoint; docs 80/81 are a genuine containment
    pair through sub-cap spans. The capped pair join must emit ONLY the
    genuine pair — the uncapped join would emit 80*79/2 = 3160
    boilerplate pairs, the single-key quadratic the cap exists to
    prevent — and dedup_span_df_stats must report the hot span's
    dropped occurrence mass and avoided pair mass (no silent caps)."""
    from nats_stream_processor_spark.operators.dedup import SPAN_DF_CAP
    k = MR_K
    boiler = " ".join(f"bw{j}" for j in range(k))
    texts = [boiler + " " + " ".join(f"u{i}x{j}" for j in range(8))
             for i in range(80)]
    xs = [f"xt{j}" for j in range(30)]
    texts.append(" ".join(xs))        # doc 80: the container
    texts.append(" ".join(xs[:24]))   # doc 81: contained prefix
    assert 80 > SPAN_DF_CAP
    sf_dir = _write_docs(spark, tmp_path, texts)

    runs = registry.REGISTRY["dedup_max_duplicated_run"].fn(
        spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in runs} == {(80, 81)}
    assert runs[0].full_containment

    cont = registry.REGISTRY["dedup_containment"].fn(
        spark, sf_dir).collect()
    assert {(r.doc_a, r.doc_b) for r in cont} == {(80, 81)}
    assert cont[0].containment == 1.0

    stats = {(r.df_bits, r.capped): r for r in registry.REGISTRY[
        "dedup_span_df_stats"].fn(spark, sf_dir).collect()}
    hot = stats[(7, True)]  # DF 80 -> 7 bits, above the cap
    assert hot.n_spans == 1
    assert hot.n_occurrences == 80          # the dropped span mass
    assert hot.pair_mass == 80 * 79 // 2    # the avoided quadratic
    assert stats[(1, False)].n_spans > 0    # the unique-span bulk
    # every surviving bucket is below the cap
    assert all(bits <= 7 for bits, capped in stats if not capped)


def test_fixture_corpus_has_planted_duplicate_runs(spark):
    """The driver fixtures contain planted near-duplicates — the formal
    row must be non-vacuous (the operator reports real runs there, not
    an empty relation)."""
    rows = registry.REGISTRY["dedup_max_duplicated_run"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "no duplicated runs found at sf0.001 — vacuous row"
    assert all(r.max_run_tokens >= MR_K for r in rows)
    assert all(r.max_run_spans <= r.n_shared_positions for r in rows)


def _expected_drop_plan(toks, k):
    """Independent drop-plan reference off raw tokens: doc d drops iff
    its whole span sequence appears contiguously in a doc with more
    spans, or an equal-content doc with smaller id."""
    n_spans = {i: len(t) - k + 1 for i, t in enumerate(toks)
               if len(t) >= k}
    def contained(small, big):
        s, g = toks[small], toks[big]
        return any(g[i:i + len(s)] == s for i in range(len(g) - len(s) + 1))
    plan = {}
    for d in n_spans:
        containers = []
        for o in n_spans:
            if o == d:
                continue
            if (n_spans[o] > n_spans[d] or (n_spans[o] == n_spans[d]
                                            and o < d)) \
                    and contained(d, o):
                containers.append(o)
        if containers:
            best = max(containers, key=lambda o: (n_spans[o], -o))
            plan[d] = (best, n_spans[d], n_spans[d] + k - 1)
    return plan


def test_drop_plan_matches_containment_reference(spark, tmp_path):
    texts = _vocab_texts()
    # add an exact duplicate of doc 0 (id 6) and a chain link: doc 7 is
    # an extract of doc 1 (which is itself an extract of doc 0)
    toks0 = _toks(texts[0])
    toks1 = _toks(texts[1])
    texts = texts + [" ".join(toks0), " ".join(toks1[5:25])]
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {r.doc_id: (r.kept_in, r.n_spans, r.tokens_saved) for r in
           registry.REGISTRY["dedup_containment_drop_plan"].fn(
               spark, sf_dir).collect()}
    toks = [_toks(t) for t in texts]
    expect = _expected_drop_plan(toks, MR_K)
    assert got == expect
    # the planted regimes land as designed: the nested extract (1), the
    # exact duplicate (6, kept in 0 by the id tie-break), and the chain
    # tail (7) are dropped; every container is a SURVIVOR
    assert {1, 6, 7} <= set(got)
    assert got[6][0] == 0
    # doc 7's containers are 1 (16 spans), 0 and 6 (45 spans each); the
    # best-container rule (most spans, tie on smaller id) picks 0 — not
    # the dropped middle link 1
    assert got[7][0] == 0
    survivors = set(range(len(texts))) - set(got)
    assert all(kept in survivors for kept, _, _ in got.values())


def test_drop_plan_chain_kept_in_is_transitive_survivor(spark, tmp_path):
    """A -> B -> C extraction chain: B and C both drop, and C's kept_in
    must be A (the transitivity argument — the argmax container is
    never itself dropped), not the dropped middle link B."""
    base = [f"c{i:03d}" for i in range(50)]
    texts = [" ".join(base),           # A (doc 0)
             " ".join(base[5:40]),     # B = extract of A (doc 1)
             " ".join(base[10:30])]    # C = extract of B and A (doc 2)
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {r.doc_id: r.kept_in for r in
           registry.REGISTRY["dedup_containment_drop_plan"].fn(
               spark, sf_dir).collect()}
    assert got == {1: 0, 2: 0}


def _h32(s):
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _split(doc_id):
    return "train" if _h32(str(doc_id)) % 100 < 95 else "val"


def test_split_leakage_planted_all_three_classes(spark, tmp_path):
    """Planted near-dup families across the split boundary (ids 20/30/37
    hash into val under the md5 %100 rule; 0/1/2 into train): one
    train-train pair, one train-val LEAK, one val-val pair — the
    report must surface exactly the three classes with is_leak set
    only on train-val."""
    assert [_split(i) for i in (0, 1, 2, 20, 30, 37)] == \
        ["train", "train", "train", "val", "val", "val"]
    fam1 = " ".join(f"a{i:03d}" for i in range(30))
    fam2 = " ".join(f"b{i:03d}" for i in range(30))
    fam3 = " ".join(f"c{i:03d}" for i in range(30))
    docs = [(0, fam1), (1, fam1 + " extra1"),
            (2, fam2), (20, fam2 + " extra2"),
            (30, fam3), (37, fam3 + " extra3")]
    d = tmp_path / "sf_leak"
    spark.createDataFrame(docs, "doc_id long, text string") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(d / "documents.parquet"))
    rows = {r.split_pair: r for r in
            registry.REGISTRY["split_leakage_report"].fn(
                spark, str(d)).collect()}
    assert set(rows) == {"train-train", "train-val", "val-val"}
    for sp_name, r in rows.items():
        assert r.n_pairs == 1, sp_name
        assert 0.5 <= r.min_jaccard <= r.max_jaccard <= 1.0, sp_name
        assert r.is_leak == (sp_name == "train-val"), sp_name


def test_split_leakage_composes_lsh_pairs_and_split_labels(spark):
    """On the driver fixture the report must equal the composition of
    its two certified parents: dedup_minhash_lsh's verified pairs,
    classified by train_val_split's hash-mod membership rule — the
    operator invents no third definition."""
    sf = "/root/testdata/sf0.001"
    pairs = registry.REGISTRY["dedup_minhash_lsh"].fn(spark, sf).collect()
    registry.release_pins()
    from collections import defaultdict
    expect = defaultdict(list)
    for p in pairs:
        lo, hi = sorted([_split(p.doc_a), _split(p.doc_b)])
        expect[f"{lo}-{hi}"].append(p.jaccard)
    got = {r.split_pair: r for r in
           registry.REGISTRY["split_leakage_report"].fn(
               spark, sf).collect()}
    assert set(got) == set(expect)
    assert got, "no near-dup pairs at sf0.001 — vacuous report"
    for k, jacs in expect.items():
        assert got[k].n_pairs == len(jacs), k
        assert got[k].min_jaccard == min(jacs), k
        assert got[k].max_jaccard == max(jacs), k


from hypothesis import given, settings
from hypothesis import strategies as st

_tok = st.sampled_from(["x", "y", "z"])  # tiny alphabet -> rich overlaps


def _islands_max_run(xs, ys, k):
    """The operator's formulation, in pure Python: K-gram position
    matches grouped by diagonal; islands of consecutive positions;
    answer = max island + k - 1 (None when no K-gram matches)."""
    ga = [tuple(xs[i:i + k]) for i in range(len(xs) - k + 1)]
    gb = [tuple(ys[j:j + k]) for j in range(len(ys) - k + 1)]
    from collections import defaultdict
    diags = defaultdict(list)
    for i, a in enumerate(ga):
        for j, b in enumerate(gb):
            if a == b:
                diags[i - j].append(i)
    if not diags:
        return None
    best = 0
    for pos in diags.values():
        pos.sort()
        run = 1
        for p, q in zip(pos, pos[1:]):
            run = run + 1 if q == p + 1 else 1
            best = max(best, run)
        best = max(best, run if len(pos) > 1 else 1)
    return best + k - 1


@settings(max_examples=300, deadline=None)
@given(st.lists(_tok, max_size=14), st.lists(_tok, max_size=14), 
       st.integers(min_value=2, max_value=4))
def test_islands_theorem_equals_diagonal_scan(xs, ys, k):
    """The equivalence dedup_max_duplicated_run is built on, verified
    over random inputs at small K: a maximal common token run of
    length L >= K is exactly an island of L-K+1 consecutive K-gram
    position matches on one diagonal — so the islands answer equals
    the direct longest-common-run scan whenever any K-gram matches,
    and no K-gram matches iff the longest common run is < K."""
    direct = _max_common_run(xs, ys)
    via_islands = _islands_max_run(xs, ys, k)
    if direct >= k:
        assert via_islands == direct
    else:
        assert via_islands is None


def test_sliding_quantile_hist_matches_python_reference(spark):
    """Full plain-Python replication over the events fixture: hourly
    bucketing, window membership, histogram k-th-bucket estimates and
    exact order statistics — plus the bucket-containment theorem
    (est <= exact < est + SQ_W) on every window and both quantiles."""
    import math

    rows = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet").collect()
    from nats_stream_processor_spark.queries.events import SW_HOURS
    from collections import defaultdict
    by_hour = defaultdict(list)
    for r in rows:
        if r.value is None:
            continue
        # nanos-stored fixtures load as long; normalize like the table()
        # helper (micros truncation)
        us = (r.ts // 1000 if isinstance(r.ts, int)
              else int(r.ts.timestamp() * 1_000_000))
        by_hour[int(us // 3_600_000_000)].append(float(r.value))
    hmax = max(by_hour)
    wins = defaultdict(list)
    n_hours = defaultdict(int)
    for h, vals in by_hour.items():
        for w in range(h, min(h + SW_HOURS - 1, hmax) + 1):
            wins[w].extend(vals)
            n_hours[w] += 1

    def expect_row(w):
        vals = sorted(wins[w])
        n = len(vals)
        k50, k95 = (n + 1) // 2, (19 * n + 19) // 20
        out = {"n_hours": n_hours[w], "n_events": n}
        for tag, k in (("p50", k50), ("p95", k95)):
            exact = vals[k - 1]
            hist = defaultdict(int)
            for v in wins[w]:
                hist[math.floor(v / SQ_W)] += 1
            cum, est_b = 0, None
            for b in sorted(hist):
                cum += hist[b]
                if cum >= k:
                    est_b = b
                    break
            out[f"est_{tag}"] = est_b * SQ_W
            out[f"exact_{tag}"] = exact
        return out

    got = registry.REGISTRY["events_sliding_quantile_hist"].fn(
        spark, "/root/testdata/sf0.001").collect()
    registry.release_pins()
    assert sorted(r.window_hour for r in got) == sorted(wins)
    for r in got:
        e = expect_row(r.window_hour)
        assert r.n_hours == e["n_hours"], r.window_hour
        assert r.n_events == e["n_events"], r.window_hour
        for tag in ("p50", "p95"):
            assert getattr(r, f"est_{tag}") == e[f"est_{tag}"], \
                (r.window_hour, tag)
            assert getattr(r, f"exact_{tag}") == e[f"exact_{tag}"], \
                (r.window_hour, tag)
            # the containment theorem, independently re-checked
            assert e[f"est_{tag}"] <= e[f"exact_{tag}"] \
                < e[f"est_{tag}"] + SQ_W
            assert getattr(r, f"within_w_{tag}") is True


def _loop_reference(toks, k, dmax):
    """Plain-Python reference for the looping-run report: best
    (run_len, period, start) by (run desc, period asc, start asc),
    plus the total shifted-match count."""
    grams = [tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    best, total = None, 0
    for d in range(1, dmax + 1):
        run = 0
        for i in range(len(grams) - d):
            if grams[i] == grams[i + d]:
                total += 1
                run += 1
                start = i - run + 1
                cand = (-run, d, start)
                if best is None or cand < best:
                    best = cand
            else:
                run = 0
    if best is None:
        return None
    run, d, start = -best[0], best[1], best[2]
    return (run, run + k - 1, d, start, total)


def test_looping_run_planted_periods(spark, tmp_path):
    """Planted loop regimes: a 20-token phrase repeated 4x (period 20,
    run = region minus one period), a period-1 degenerate token loop
    (tie-break must pick the SHORTEST period), and clean text (absent
    from the report). Full agreement with the plain-Python reference."""
    phrase = [f"q{i:02d}" for i in range(20)]
    looped = phrase * 4 + [f"t{i:03d}" for i in range(10)]
    degenerate = ["ha"] * 50
    clean = [f"c{i:03d}" for i in range(40)]
    texts = [" ".join(looped), " ".join(degenerate), " ".join(clean)]
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {r.doc_id: r for r in
           registry.REGISTRY["text_looping_run_report"].fn(
               spark, sf_dir).collect()}
    toks = [_toks(t) for t in texts]
    for i, t in enumerate(toks):
        e = _loop_reference(t, MR_K, LP_D)
        if e is None:
            assert i not in got, i
            continue
        r = got[i]
        assert (r.max_run_spans, r.max_run_tokens, r.period_tokens,
                r.run_start_pos, r.n_loop_positions) == e, i
    # the planted shapes landed as designed
    assert got[0].period_tokens == 20
    assert got[0].max_run_tokens == 60  # 80-token region minus 1 period
    assert got[1].period_tokens == 1    # shortest period wins the tie
    assert 2 not in got


def test_looping_run_binned_join_equals_unbinned(spark, tmp_path):
    """The position-binned self-match (the O(n x LP_D) scale shape)
    must produce exactly the unbinned quadratic join's matches — run
    the operator against a brute-force pair count per doc computed
    off raw grams, over a corpus whose loops straddle bucket
    boundaries (periods near LP_D and runs crossing pos = LP_D)."""
    near = [f"w{i:02d}" for i in range(LP_D - 2)]
    texts = [" ".join(near * 3),                      # period 62 runs
             " ".join(["z"] * (LP_D * 2 + 30))]   # period 1, long
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {r.doc_id: r for r in
           registry.REGISTRY["text_looping_run_report"].fn(
               spark, sf_dir).collect()}
    for i, t in enumerate(_toks(x) for x in texts):
        e = _loop_reference(t, MR_K, LP_D)
        r = got[i]
        assert (r.max_run_spans, r.max_run_tokens, r.period_tokens,
                r.run_start_pos, r.n_loop_positions) == e, i


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_drop_plan_kept_in_is_always_a_survivor_property(data):
    """The survivor theorem behind dedup_containment_drop_plan, hammered
    on random slice-of-a-base corpora (rich containment chains, equal
    slices, partial overlaps) at small K: in the reference plan, every
    dropped doc's chosen container is itself NEVER dropped — the
    transitivity argument holds on arbitrary inputs, including
    equal-content groups and multi-level chains."""
    k = data.draw(st.integers(min_value=2, max_value=5))
    n_base = data.draw(st.integers(min_value=k, max_value=25))
    base = [data.draw(st.sampled_from(["x", "y"])) for _ in range(n_base)]
    n_docs = data.draw(st.integers(min_value=2, max_value=8))
    toks = []
    for _ in range(n_docs):
        lo = data.draw(st.integers(min_value=0, max_value=max(0, n_base - k)))
        hi = data.draw(st.integers(min_value=lo + k, max_value=n_base))
        toks.append(base[lo:hi])
    plan = _expected_drop_plan(toks, k)
    dropped = set(plan)
    for d, (kept_in, n_spans, tokens_saved) in plan.items():
        assert kept_in not in dropped, (d, kept_in, toks)
        assert kept_in != d
        assert n_spans == len(toks[d]) - k + 1
        assert tokens_saved == len(toks[d])
    # and every dropped doc really is a contiguous sublist of its
    # container (the semantic the operator reports)
    for d, (kept_in, _, _) in plan.items():
        s, g = toks[d], toks[kept_in]
        assert any(g[i:i + len(s)] == s
                   for i in range(len(g) - len(s) + 1)), (d, kept_in)
