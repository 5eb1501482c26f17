"""Plain-Python replication and cross-operator consistency for
media_shot_curation (queries/media.py)."""

from __future__ import annotations

import re

import pytest

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.media import (
    SCENE_THRESH,
    scene_frame_features,
)
from nats_stream_processor_spark.queries.relational import (
    IOV_CHUNK_US,
    IOV_TYPE_GAP_US,
    IOV_USER_GAP_US,
    _sessionize,
    _sessionize_chunked,
)
from nats_stream_processor_spark.queries.events import COHORT_EPOCH
from nats_stream_processor_spark.queries.media import (
    SHOT_MIN_DOC_TOKENS,
    SHOT_MIN_FEAT,
    SHOT_MIN_FRAMES,
    ZL_BITS,
    ZL_FILES,
    ZL_PROBES,
    ZL_PROBE_W,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _python_shot_curation(docs):
    """Replica of q_media_shot_curation: utf-8 payload, the scene-cut
    frame sampler, lag deltas, running-sum sessionization, per-shot
    aggregates and the three-gate keep decision."""
    out = []
    for doc_id, text in docs:
        p = text.encode("utf-8")
        toks = len(re.findall(r"[a-z0-9]+", text.lower()))
        feats = [f for _j, f in scene_frame_features(p)]
        shots = {}
        shot = 0
        prev = None
        for f in feats:
            ad = 0 if prev is None else abs(f - prev)
            if ad >= SCENE_THRESH:
                shot += 1
            st = shots.setdefault(shot, [0, 0, 0])
            st[0] += 1       # n_frames
            st[1] += f       # feat sum
            st[2] += ad      # shot delta
            prev = f
        for s in sorted(shots):
            nf, fs, sd = shots[s]
            fm = fs // nf    # nonneg: truncation == floor
            keep = int(nf >= SHOT_MIN_FRAMES
                       and fm >= SHOT_MIN_FEAT
                       and toks >= SHOT_MIN_DOC_TOKENS)
            out.append((doc_id, s, nf, fm, sd, toks, keep))
    return sorted(out)


def test_shot_curation_matches_python_reference(spark):
    docs = [(r.doc_id, r.text) for r in
            spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").collect()]
    expect = _python_shot_curation(docs)
    got = [tuple(r) for r in
           registry.REGISTRY["media_shot_curation"].fn(spark, SF).collect()]
    assert sorted(got) == expect


def test_shot_curation_agrees_with_scene_cuts(spark):
    """The per-shot table must roll up to exactly media_scene_cuts'
    per-video report: shot count, longest shot, and total delta agree
    doc for doc (same sampler, same sessionization — asserted, not
    assumed)."""
    shots = registry.REGISTRY["media_shot_curation"].fn(spark, SF).collect()
    per_doc = {}
    for r in shots:
        st = per_doc.setdefault(r.doc_id, [0, 0, 0])
        st[0] += 1
        st[1] = max(st[1], r.n_frames)
        st[2] += r.shot_delta
    cuts = registry.REGISTRY["media_scene_cuts"].fn(spark, SF).collect()
    assert len(cuts) == len(per_doc)
    for r in cuts:
        n_shots, max_frames, total_delta = per_doc[r.doc_id]
        assert n_shots == r.n_shots, r.doc_id
        assert max_frames == r.max_shot_frames, r.doc_id
        assert total_delta == r.total_delta, r.doc_id


def test_shot_curation_decision_genuinely_splits(spark):
    """The keep gate must be a real decision on the fixtures — some
    shots kept, some dropped, and every gate individually responsible
    for at least one drop (otherwise a threshold is dead code at the
    shipped constants)."""
    rows = registry.REGISTRY["media_shot_curation"].fn(spark, SF).collect()
    kept = [r for r in rows if r.keep == 1]
    dropped = [r for r in rows if r.keep == 0]
    assert kept and dropped
    assert any(r.n_frames < SHOT_MIN_FRAMES for r in dropped)
    assert any(r.n_frames >= SHOT_MIN_FRAMES
               and r.feat_mean < SHOT_MIN_FEAT for r in dropped)
    assert any(r.n_frames >= SHOT_MIN_FRAMES
               and r.feat_mean >= SHOT_MIN_FEAT
               and r.doc_tokens < SHOT_MIN_DOC_TOKENS for r in dropped)
    for r in kept:
        assert r.n_frames >= SHOT_MIN_FRAMES
        assert r.feat_mean >= SHOT_MIN_FEAT
        assert r.doc_tokens >= SHOT_MIN_DOC_TOKENS


# ---------------------------------------------------- cohort retention


def test_cohort_retention_matches_python_reference(spark):
    import datetime

    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("user_id", "ts").collect())
    epoch = datetime.date.fromisoformat(COHORT_EPOCH)
    uw = {(r.user_id, (r.ts.date() - epoch).days // 7) for r in ev}
    cohort = {}
    for u, w in uw:
        cohort[u] = min(cohort.get(u, w), w)
    sizes = {}
    for u, cw in cohort.items():
        sizes[cw] = sizes.get(cw, 0) + 1
    act = {}
    for u, w in uw:
        key = (cohort[u], w - cohort[u])
        act[key] = act.get(key, 0) + 1
    expect = sorted(
        (cw, off, sizes[cw], n, n * 1000000 // sizes[cw])
        for (cw, off), n in act.items())
    got = [(r.cohort_week, r.week_offset, r.n_cohort, r.n_active,
            r.retention_ppm)
           for r in registry.REGISTRY["events_cohort_retention"].fn(
               spark, SF).collect()]
    assert got == expect
    # offset-0 retention is 1.0 by construction (everyone is active in
    # their own first week)
    assert all(r[4] == 1000000 for r in got if r[1] == 0)


# ------------------------------------------------------- VARIANT path


def test_props_variant_matches_python_reference(spark):
    import json

    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("event_type", "props").collect())
    agg = {}
    for r in ev:
        k = json.loads(r.props)["k"]
        st = agg.setdefault(r.event_type, [0, set(), None, None, 0])
        st[0] += 1
        st[1].add(k)
        st[2] = k if st[2] is None else min(st[2], k)
        st[3] = k if st[3] is None else max(st[3], k)
        st[4] += 1 if k % 2 == 0 else 0
    expect = sorted((t, s[0], len(s[1]), s[2], s[3], s[4])
                    for t, s in agg.items())
    got = [(r.event_type, r.n_events, r.n_distinct_k, r.min_k, r.max_k,
            r.n_even_k)
           for r in registry.REGISTRY["events_props_variant"].fn(
               spark, SF).collect()]
    assert got == expect


# ------------------------------------------------- Z-order layout


def test_zorder_report_matches_python_reference(spark):
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select("l_partkey", "l_suppkey").collect())
    ps = [(r.l_partkey, r.l_suppkey) for r in li]
    minp, maxp = min(p for p, _ in ps), max(p for p, _ in ps)
    mins, maxs = min(s for _, s in ps), max(s for _, s in ps)
    g = (1 << ZL_BITS) - 1
    fdiv = (1 << ZL_BITS) // ZL_FILES
    zdiv = (1 << (2 * ZL_BITS)) // ZL_FILES

    def interleave(x, y):
        z = 0
        for i in range(ZL_BITS):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    st = {}
    for p, s in ps:
        x = (p - minp) * g // max(maxp - minp, 1)
        y = (s - mins) * g // max(maxs - mins, 1)
        for strat, f in (("linear", x // fdiv),
                         ("zorder", interleave(x, y) // zdiv)):
            k = (strat, f)
            if k not in st:
                st[k] = [x, x, y, y]
            else:
                b = st[k]
                b[0] = min(b[0], x)
                b[1] = max(b[1], x)
                b[2] = min(b[2], y)
                b[3] = max(b[3], y)
    probes = [((1 << ZL_BITS) // ZL_PROBES * i
               + (1 << ZL_BITS) // (2 * ZL_PROBES))
              for i in range(ZL_PROBES)]
    expect = {}
    for strat in ("linear", "zorder"):
        boxes = [b for (s2, _), b in st.items() if s2 == strat]
        xh = sum(1 for b in boxes for lo in probes
                 if lo + ZL_PROBE_W - 1 >= b[0] and lo <= b[1])
        yh = sum(1 for b in boxes for lo in probes
                 if lo + ZL_PROBE_W - 1 >= b[2] and lo <= b[3])
        expect[strat] = (len(boxes), xh, yh)
    got = {r.strategy: (r.n_files, r.x_probe_file_hits,
                        r.y_probe_file_hits)
           for r in registry.REGISTRY["layout_zorder_report"].fn(
               spark, SF).collect()}
    assert got == expect


def test_zorder_actually_beats_linear_on_the_other_column(spark):
    """The whole point of the layout report: the linear layout reads
    (nearly) every file for probes on the non-clustered column, while
    Z-order prunes BOTH columns to a fraction — and pays only a
    bounded factor on the clustered one."""
    rows = {r.strategy: r for r in
            registry.REGISTRY["layout_zorder_report"].fn(
                spark, SF).collect()}
    lin, zo = rows["linear"], rows["zorder"]
    assert zo.y_probe_file_hits < lin.y_probe_file_hits // 2
    assert lin.x_probe_file_hits <= zo.x_probe_file_hits
    assert zo.x_probe_file_hits + zo.y_probe_file_hits < \
        lin.x_probe_file_hits + lin.y_probe_file_hits


# ----------------------------------------------- mergeable HLL sketch


def test_hll_sketch_union_exact_and_tolerances(spark):
    """Exact distincts replicated in plain Python; every tolerance
    boolean must be TRUE (lgK=14 keeps HLL within a fraction of a
    percent at fixture cardinalities), and the merged row must carry
    the global exact distinct — proving the union path aggregated all
    per-type sketches."""
    ev = (spark.read.parquet(f"{SF}/events.parquet")
          .select("event_type", "user_id").collect())
    per = {}
    for r in ev:
        per.setdefault(r.event_type, set()).add(r.user_id)
    expect = sorted([(t, len(u), True) for t, u in per.items()]
                    + [("__merged__",
                        len(set().union(*per.values())), True)])
    got = [(r.event_type, r.exact_users, r.estimate_within_5pct)
           for r in registry.REGISTRY["agg_hll_sketch_union"].fn(
               spark, SF).collect()]
    assert got == expect


# --------------------------------------------- expectations suite


def test_expectations_all_pass_on_fixtures(spark):
    rows = registry.REGISTRY["quality_expectations_report"].fn(
        spark, SF).collect()
    assert len(rows) == 12
    assert all(r.passed == 1 and r.violations == 0 for r in rows), rows


def test_expectations_fire_on_corrupted_tables(spark, tmp_path):
    """The checks must actually DETECT violations, not just pass on
    clean data: a corrupted warehouse (duplicate order key, orphan
    custkey, out-of-range quantity, null name, stale event, empty
    text) flips exactly the right checks to failed with the right
    counts, Spark and oracle agreeing."""
    import duckdb

    spark.createDataFrame(
        [(1, 10, "O", 5.0, "1996-01-02", "1-URGENT"),
         (1, 10, "O", 6.0, "1996-01-03", "1-URGENT"),   # dup orderkey
         (3, 999, "F", 7.0, "1996-01-04", "2-HIGH")],   # orphan custkey
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, None, "BUILDING")],                        # null name
        "c_custkey long, c_name string, c_mktsegment string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 1, 99.0, 100.0, 0.05, 0.01, "N", "O", "1996-01-02"),
         (1, 2, 2, 2, 10.0, 100.0, 0.05, 0.01, "N", "O", "1996-01-02")],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_linenumber long, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet"))       # one qty out of range
    spark.sql(
        "SELECT 1L AS event_id, TIMESTAMP '2023-06-01 00:00:00' AS ts, "
        "7L AS user_id, 'click' AS event_type, 1.0D AS value, "
        "'{}' AS props"                            # stale event
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [(0, "  ", "web"), (1, "real text here", "web")],  # empty text
        "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    entry = registry.REGISTRY["quality_expectations_report"]
    rows = {(r.table_name, r.check_name): (r.violations, r.passed)
            for r in entry.fn(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    for t in ("orders", "customer", "lineitem", "events", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{tmp_path}/{t}.parquet/*.parquet'")
    oracle = {(r[0], r[1]): (r[2], r[3])
              for r in con.sql(entry.oracle).fetchall()}
    assert rows == oracle
    assert rows[("orders", "duplicate_orderkey")] == (1, 0)
    assert rows[("orders", "orphan_custkey")] == (1, 0)
    assert rows[("lineitem", "quantity_out_of_range")] == (1, 0)
    assert rows[("customer", "null_name")] == (1, 0)
    assert rows[("events", "ts_out_of_window")] == (1, 0)
    assert rows[("documents", "empty_text")] == (1, 0)
    # untouched constraints stay green even on the corrupted warehouse
    assert rows[("lineitem", "null_extendedprice")] == (0, 1)
    assert rows[("events", "null_user_id")] == (0, 1)


# ------------------------------------------- interval-overlap join


def test_interval_overlap_matches_python_reference(spark):
    """Full replication: both sessionizations (gaps-and-islands over
    exact microseconds), the bucket-binned overlap join, pair dedup,
    and the per-type rollup."""
    ev = (registry.table(spark, SF, "events")
          .selectExpr("user_id", "event_type", "unix_micros(ts) as us")
          .collect())

    def sessions(key_fn, gap):
        by = {}
        for r in ev:
            by.setdefault(key_fn(r), []).append(r.us)
        out = []
        for k, ts in by.items():
            ts.sort()
            start = prev = ts[0]
            for u in ts[1:]:
                if u - prev >= gap:
                    out.append((k, start, prev))
                    start = u
                prev = u
            out.append((k, start, prev))
        return out

    us = sessions(lambda r: r.user_id, IOV_USER_GAP_US)
    tb = sessions(lambda r: r.event_type, IOV_TYPE_GAP_US)
    pairs = set()
    for (u, s1, e1) in us:
        for (t, s2, e2) in tb:
            if s1 <= e2 and s2 <= e1:
                # binning can only FIND overlapping pairs (any true
                # overlap shares at least one bucket), so plain overlap
                # is the reference
                pairs.add((u, s1, t, s2))
    expect = {}
    for (t, _s, _e) in tb:
        expect[t] = [expect.get(t, [0, set(), 0])[0] + 1,
                     expect.get(t, [0, set(), 0])[1],
                     expect.get(t, [0, set(), 0])[2]]
    for (u, s1, t, s2) in pairs:
        expect[t][1].add((u, s1))
        expect[t][2] += 1
    want = sorted((t, v[0], len(v[1]), v[2]) for t, v in expect.items())
    got = [(r.event_type, r.n_bursts, r.n_overlapping_user_sessions,
            r.n_overlap_pairs)
           for r in registry.REGISTRY["join_interval_overlap_binned"].fn(
               spark, SF).collect()]
    assert got == want


def test_chunked_sessionize_equals_single_pass(spark):
    """The chunked (de-skewed) sessionizer must be bit-identical to the
    single-pass form for ANY chunk width — including a pathological
    chunk SMALLER than the gap, where nearly every island touches a
    boundary and the merge pass does almost all the work. Checked on
    the real events table for both sides' keys."""
    ev = registry.table(spark, SF, "events")
    for key, gap in (("event_type", IOV_TYPE_GAP_US),
                     ("user_id", IOV_USER_GAP_US)):
        single = sorted(
            (r[0], r.start_us, r.end_us)
            for r in _sessionize(ev, key, gap, key).collect())
        for chunk_us in (IOV_CHUNK_US, gap // 3 + 1):
            chunked = sorted(
                (r[0], r.start_us, r.end_us)
                for r in _sessionize_chunked(
                    ev, key, gap, key, chunk_us).collect())
            assert chunked == single, (key, chunk_us)
