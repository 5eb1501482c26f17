"""Python-reference replication and invariants for the graph-ANN
family in queries/graph.py: graph_nn_descent (the full stride-init
+ 2-round NN-Descent loop recomputed in plain Python over the sf0.001
embeddings, plus the per-node dominance invariant),
graph_greedy_search / graph_beam_sweep / graph_knn_insert (the full
build + multi-entry beam-search loops recomputed in plain Python via
shared helpers, plus output-shape invariants and fixture-labeled curve
properties). Navigation-quality floors live in test_ann_recall's
planted-cluster tests."""

from __future__ import annotations

import math

import pytest

from nats_stream_processor_spark import registry
from nats_stream_processor_spark.queries.graph import (
    GI_M,
    GRP_DROP_FLOOR_PPM,
    GR_B,
    GR_M,
    GS_BEAM,
    GS_ENTRIES,
    GS_HOPS,
    GS_NQ,
    GS_QOFF,
    GS_QSTRIDE,
    GS_SWEEP_BEAMS,
    GS_TOPK,
    ND_K,
    ND_ROUNDS,
    ND_STRIDE,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release():
    yield
    registry.release_pins()


def _python_nn_descent(vecs):
    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = {u: math.sqrt(fold_dot(v, v)) for u, v in vecs.items()}

    def ppm(u, w):
        return math.floor(fold_dot(vecs[u], vecs[w])
                          / (norms[u] * norms[w]) * 1e6 + 0.5)

    n = len(vecs)
    init = set()
    for u in vecs:
        for j in range(1, ND_K + 1):
            w = (u + j * ND_STRIDE) % n
            w = (w + (1 if w == u else 0)) % n
            if w != u:
                init.add((u, w))
    edges = {(u, w): ppm(u, w) for u, w in init}
    stats = []

    def stat(r, ed):
        # Truncate toward zero (exact int arithmetic) to mirror Spark's
        # `div` and DuckDB's `//` — plain Python // floors, which would
        # diverge from both engines on a negative sim_ppm sum.
        tot, n = sum(ed.values()), len(ed)
        q = abs(tot) // n
        stats.append((r, n, q if tot >= 0 else -q))

    stat(0, edges)
    for t in range(1, ND_ROUNDS + 1):
        by_u = {}
        for (u, w) in edges:
            by_u.setdefault(u, set()).add(w)
        cand = set(edges)
        for u, ws in by_u.items():
            for w in ws:
                for w2 in by_u.get(w, ()):
                    if u != w2:
                        cand.add((u, w2))
        for (u, w) in list(edges):
            if w != u:
                cand.add((w, u))
        scored = {}
        for (u, w) in cand:
            scored.setdefault(u, []).append((-ppm(u, w), w))
        edges = {}
        for u, lst in scored.items():
            for negppm, w in sorted(lst)[:ND_K]:
                edges[(u, w)] = -negppm
        stat(t, edges)
    return stats


def test_nn_descent_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}
    expect = _python_nn_descent(vecs)
    got = [(r.round, r.n_edges, r.mean_sim_ppm)
           for r in registry.REGISTRY["graph_nn_descent"].fn(
               spark, SF).collect()]
    assert got == expect


def test_nn_descent_mean_similarity_rises_on_fixture(spark):
    """FIXTURE PROPERTY, not an invariant: on the shipped sf0.001
    embeddings every node's list stays full, so the global mean rises.
    (A node holding fewer than ND_K edges — stride self-collisions on
    adversarial corpus sizes — tops up with lower-similarity edges that
    can legally pull the global mean down; the true invariant is
    per-node dominance, asserted below.) The mean must also strictly
    improve at least once here, or the refinement is vacuous."""
    rows = registry.REGISTRY["graph_nn_descent"].fn(spark, SF).collect()
    means = [r.mean_sim_ppm for r in sorted(rows, key=lambda r: r.round)]
    assert len(means) == ND_ROUNDS + 1
    assert all(b >= a for a, b in zip(means, means[1:])), means
    assert means[-1] > means[0], "no refinement happened at all"


def test_nn_descent_per_node_dominance_invariant(spark):
    """The TRUE invariant: each round's candidate set contains the
    previous round's edges, so for every node the j-th best kept
    similarity never falls (for j up to the previous list length).
    Replayed in plain Python over the sf0.001 embeddings."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = {u: math.sqrt(fold_dot(v, v)) for u, v in vecs.items()}

    def ppm(u, w):
        return math.floor(fold_dot(vecs[u], vecs[w])
                          / (norms[u] * norms[w]) * 1e6 + 0.5)

    n = len(vecs)
    edges = set()
    for u in vecs:
        for j in range(1, ND_K + 1):
            w = (u + j * ND_STRIDE) % n
            w = (w + (1 if w == u else 0)) % n
            if w != u:
                edges.add((u, w))

    def by_node(ed):
        d = {}
        for (u, w) in ed:
            d.setdefault(u, []).append(ppm(u, w))
        return {u: sorted(v, reverse=True) for u, v in d.items()}

    prev = by_node(edges)
    for _t in range(1, ND_ROUNDS + 1):
        by_u = {}
        for (u, w) in edges:
            by_u.setdefault(u, set()).add(w)
        cand = set(edges)
        for u, ws in by_u.items():
            for w in ws:
                for w2 in by_u.get(w, ()):
                    if u != w2:
                        cand.add((u, w2))
        for (u, w) in list(edges):
            cand.add((w, u))
        scored = {}
        for (u, w) in cand:
            scored.setdefault(u, []).append((-ppm(u, w), w))
        edges = set()
        for u, lst in scored.items():
            for negppm, w in sorted(lst)[:ND_K]:
                edges.add((u, w))
        cur = by_node(edges)
        for u, old in prev.items():
            new = cur[u]
            for j, old_sim in enumerate(old[:len(new)]):
                assert new[j] >= old_sim, (u, j, old, new)
        prev = cur


# ------------------------------------------------- greedy beam search


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _ppm_fn(vecs):
    norms = {u: math.sqrt(_fold_dot(v, v)) for u, v in vecs.items()}

    def ppm(u, w):
        return math.floor(_fold_dot(vecs[u], vecs[w])
                          / (norms[u] * norms[w]) * 1e6 + 0.5)
    return ppm


def _python_graph_und(vecs, ppm):
    """NN-Descent build (same loop as _python_nn_descent) over a vec
    dict with contiguous ids 0..n-1, returning the SEARCHED graph:
    symmetrized refined+init union as an adjacency dict."""
    n = len(vecs)
    init = set()
    for u in vecs:
        for j in range(1, ND_K + 1):
            w = (u + j * ND_STRIDE) % n
            w = (w + (1 if w == u else 0)) % n
            if w != u:
                init.add((u, w))
    edges = set(init)
    for _t in range(1, ND_ROUNDS + 1):
        by_u = {}
        for (u, w) in edges:
            by_u.setdefault(u, set()).add(w)
        cand = set(edges)
        for u, ws in by_u.items():
            for w in ws:
                for w2 in by_u.get(w, ()):
                    if u != w2:
                        cand.add((u, w2))
        for (u, w) in list(edges):
            cand.add((w, u))
        scored = {}
        for (u, w) in cand:
            scored.setdefault(u, []).append((-ppm(u, w), w))
        edges = set()
        for u, lst in scored.items():
            for _s, w in sorted(lst)[:ND_K]:
                edges.add((u, w))
    und = {}
    for (u, w) in edges | init:
        und.setdefault(u, set()).add(w)
        und.setdefault(w, set()).add(u)
    return und


def _python_beam(und, qs, entries, qid, beam, hops):
    """The hop loop: visited dict {node: sim} after `hops` beam rounds
    from the scored entry set, `qid` excluded everywhere."""
    seen = {e: qs(e) for e in set(entries) if e != qid}
    frontier = sorted(seen, key=lambda k: (-seen[k], k))[:beam]
    for _h in range(hops):
        new = set()
        for f in frontier:
            for w in und.get(f, ()):
                if w not in seen and w != qid:
                    new.add(w)
        for w in new:
            seen[w] = qs(w)
        frontier = sorted(seen, key=lambda k: (-seen[k], k))[:beam]
    return seen


def _trunc_div(tot, n):
    q = abs(tot) // n
    return q if tot >= 0 else -q


def _python_greedy_search(vecs):
    """Plain-Python replica of q_graph_greedy_search."""
    ppm = _ppm_fn(vecs)
    und = _python_graph_und(vecs, ppm)
    n = len(vecs)
    qids = [(GS_QOFF + GS_QSTRIDE * i) % n for i in range(GS_NQ)]
    entries = [j * (n // GS_ENTRIES) for j in range(GS_ENTRIES)]
    out = []
    for q, qid in enumerate(qids):
        seen = _python_beam(und, lambda w: ppm(qid, w), entries, qid,
                            GS_BEAM, GS_HOPS)
        found = set(sorted(seen, key=lambda k: (-seen[k], k))[:GS_TOPK])
        exact = set(sorted((u for u in vecs if u != qid),
                           key=lambda u: (-ppm(qid, u), u))[:GS_TOPK])
        hits = len(found & exact)
        out.append((q, len(seen), hits,
                    hits * 1000000 // GS_TOPK, max(seen.values())))
    return out


def test_greedy_search_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}
    expect = _python_greedy_search(vecs)
    got = [(r.query_id, r.n_visited, r.n_hits, r.recall_ppm, r.best_sim_ppm)
           for r in registry.REGISTRY["graph_greedy_search"].fn(
               spark, SF).collect()]
    assert got == expect


def test_greedy_search_output_invariants(spark):
    """Shape invariants that hold on ANY corpus: one row per query,
    visiting strictly sub-corpus (the whole point of a graph index is
    not scoring everything), recall bounded by [0, 1e6] and consistent
    with n_hits, and the best similarity reached at most the exact
    global best."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    n = len(embs)
    rows = registry.REGISTRY["graph_greedy_search"].fn(spark, SF).collect()
    assert [r.query_id for r in rows] == list(range(GS_NQ))
    for r in rows:
        assert 0 < r.n_visited < n
        assert 0 <= r.n_hits <= GS_TOPK
        assert r.recall_ppm == r.n_hits * 1000000 // GS_TOPK


# --------------------------------------------------- beam-width sweep


def test_beam_sweep_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}
    ppm = _ppm_fn(vecs)
    und = _python_graph_und(vecs, ppm)
    n = len(vecs)
    qids = [(GS_QOFF + GS_QSTRIDE * i) % n for i in range(GS_NQ)]
    entries = [j * (n // GS_ENTRIES) for j in range(GS_ENTRIES)]
    expect = []
    for beam in GS_SWEEP_BEAMS:
        visited = hits = 0
        for qid in qids:
            seen = _python_beam(und, lambda w: ppm(qid, w), entries, qid,
                                beam, GS_HOPS)
            found = set(sorted(seen,
                               key=lambda k: (-seen[k], k))[:GS_TOPK])
            exact = set(sorted((u for u in vecs if u != qid),
                               key=lambda u: (-ppm(qid, u), u))
                        [:GS_TOPK])
            visited += len(seen)
            hits += len(found & exact)
        expect.append((beam, visited, hits,
                       hits * 1000000 // (GS_NQ * GS_TOPK)))
    got = [(r.beam, r.n_visited, r.n_hits, r.recall_ppm)
           for r in registry.REGISTRY["graph_beam_sweep"].fn(
               spark, SF).collect()]
    assert got == expect


def test_beam_sweep_curve_shape_on_fixture(spark):
    """FIXTURE PROPERTY: widening the beam visits (strictly) more nodes
    and never loses recall on the shipped embeddings — the cost/recall
    trade the sweep exists to expose. (Beam-search recall is not
    monotone in general; the invariant asserted everywhere is only
    visited > 0 and recall consistency.)"""
    rows = sorted(registry.REGISTRY["graph_beam_sweep"].fn(
        spark, SF).collect(), key=lambda r: r.beam)
    assert [r.beam for r in rows] == list(GS_SWEEP_BEAMS)
    vis = [r.n_visited for r in rows]
    rec = [r.recall_ppm for r in rows]
    assert all(b > a for a, b in zip(vis, vis[1:])), vis
    assert all(b >= a for a, b in zip(rec, rec[1:])), rec
    for r in rows:
        assert r.recall_ppm == r.n_hits * 1000000 // (
            GS_NQ * GS_TOPK)


# ---------------------------------------------- incremental insertion


def test_knn_insert_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}
    nf = len(vecs)
    base = {u: v for u, v in vecs.items() if u < nf - GI_M}
    ppm = _ppm_fn(vecs)  # norms over the FULL table (queries included)
    und = _python_graph_und(base, ppm)
    nb = len(base)
    entries = [j * (nb // GS_ENTRIES) for j in range(GS_ENTRIES)]
    expect = []
    for qid in sorted(u for u in vecs if u >= nf - GI_M):
        seen = _python_beam(und, lambda w: ppm(qid, w), entries, qid,
                            GS_BEAM, GS_HOPS)
        edges = sorted(seen, key=lambda k: (-seen[k], k))[:ND_K]
        exact = set(sorted(base, key=lambda u: (-ppm(qid, u), u))
                    [:ND_K])
        hits = len(set(edges) & exact)
        expect.append((qid, len(seen), hits,
                       hits * 1000000 // ND_K,
                       _trunc_div(sum(seen[e] for e in edges),
                                  len(edges))))
    got = [(r.vec_id, r.n_visited, r.n_hits, r.recall_ppm,
            r.mean_edge_sim_ppm)
           for r in registry.REGISTRY["graph_knn_insert"].fn(
               spark, SF).collect()]
    assert got == expect


def test_knn_insert_invariants(spark):
    """One row per held-out vector, visiting strictly under the base
    corpus, edge quality bounded by the exact best."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    nf = len(embs)
    rows = registry.REGISTRY["graph_knn_insert"].fn(spark, SF).collect()
    assert len(rows) == GI_M
    assert [r.vec_id for r in rows] == list(range(nf - GI_M, nf))
    for r in rows:
        assert 0 < r.n_visited < nf - GI_M
        assert 0 <= r.n_hits <= ND_K
        assert r.recall_ppm == r.n_hits * 1000000 // ND_K


# ------------------------------------------------- rebuild decision


def _python_rebuild_decision(vecs):
    """Plain-Python replica of q_graph_rebuild_decision: GR_B
    successive insert batches, each searching the graph as grown by
    its predecessors, with the scoring table growing too."""
    nf = len(vecs)
    base = {u: v for u, v in vecs.items()
            if u < nf - GR_B * GR_M}
    ppm = _ppm_fn(vecs)  # norms over the FULL table
    und = _python_graph_und(base, ppm)
    cur_nodes = set(base)
    rows = []
    for b in range(1, GR_B + 1):
        lo, hi = GR_B - b + 1, GR_B - b
        batch = sorted(u for u in vecs
                       if nf - lo * GR_M <= u < nf - hi * GR_M)
        n_cur = len(cur_nodes)
        entries = [j * (n_cur // GS_ENTRIES)
                   for j in range(GS_ENTRIES)]
        visited = hits = sim_sum = edge_cnt = 0
        new_edges = []
        for qid in batch:
            seen = _python_beam(und, lambda w: ppm(qid, w), entries,
                                qid, GS_BEAM, GS_HOPS)
            edges = sorted(seen, key=lambda k: (-seen[k], k))[:ND_K]
            exact = set(sorted(cur_nodes,
                               key=lambda u: (-ppm(qid, u), u))
                        [:ND_K])
            visited += len(seen)
            hits += len(set(edges) & exact)
            sim_sum += sum(seen[e] for e in edges)
            edge_cnt += len(edges)
            new_edges += [(qid, e) for e in edges]
        rows.append((b, visited, hits,
                     hits * 1000000 // (GR_M * ND_K),
                     _trunc_div(sim_sum, edge_cnt)))
        if b < GR_B:
            for (u, w) in new_edges:
                und.setdefault(u, set()).add(w)
                und.setdefault(w, set()).add(u)
            cur_nodes |= set(batch)
    first = rows[0][3]
    return [(b, v, h, r, m, first - r) for (b, v, h, r, m) in rows]


def test_rebuild_decision_matches_python_reference(spark):
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in embs}
    expect = _python_rebuild_decision(vecs)
    got = [(r.batch, r.n_visited, r.n_hits, r.recall_ppm,
            r.mean_edge_sim_ppm, r.recall_drop_ppm)
           for r in registry.REGISTRY["graph_rebuild_decision"].fn(
               spark, SF).collect()]
    assert got == expect


def test_rebuild_decision_invariants(spark):
    """One row per batch in order; recall and drop internally
    consistent (drop is measured FROM batch 1, so row 1's drop is 0);
    visited bounded by the batch's current corpus."""
    embs = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    nf = len(embs)
    rows = registry.REGISTRY["graph_rebuild_decision"].fn(
        spark, SF).collect()
    assert [r.batch for r in rows] == list(range(1, GR_B + 1))
    first = rows[0].recall_ppm
    assert rows[0].recall_drop_ppm == 0
    for i, r in enumerate(rows):
        n_cur = nf - (GR_B - i) * GR_M
        assert 0 < r.n_visited < GR_M * n_cur
        assert 0 <= r.n_hits <= GR_M * ND_K
        assert r.recall_ppm == r.n_hits * 1000000 // (
            GR_M * ND_K)
        assert r.recall_drop_ppm == first - r.recall_ppm


def test_rebuild_policy_matches_curve(spark):
    """The policy row must be exactly the decision the curve determines:
    first batch whose drop crosses GRP_DROP_FLOOR_PPM (NULL when the
    curve never does), index vectors at that point, and the rebuild
    edge budget (vectors x ND_K) — recomputed here from the collected
    curve rows, independent of the operator's join/agg plumbing."""
    curve = registry.REGISTRY["graph_rebuild_decision"].fn(
        spark, SF).collect()
    nf = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    crossing = [r.batch for r in curve
                if r.recall_drop_ppm >= GRP_DROP_FLOOR_PPM]
    rb = min(crossing) if crossing else None
    vecs = None if rb is None else nf - (GR_B - rb) * GR_M
    rows = registry.REGISTRY["graph_rebuild_policy"].fn(
        spark, SF).collect()
    assert len(rows) == 1
    p = rows[0]
    assert p.drop_floor_ppm == GRP_DROP_FLOOR_PPM
    assert p.max_drop_ppm == max(r.recall_drop_ppm for r in curve)
    assert p.rebuild_after_batch == rb
    assert p.index_vectors_at_decision == vecs
    assert p.rebuild_edge_budget == (None if vecs is None
                                     else vecs * ND_K)
    # the sf0.001 fixture actually crosses the floor — the decision row
    # is exercised non-vacuously (the flat-curve NULL regime is covered
    # at sf0.01 by the oracle-parity sweep)
    assert rb is not None
