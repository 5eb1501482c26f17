"""Sketch queries (``sketch_``): mergeable HyperLogLog,
count-min and quantile sketches with their exact-error receipts."""

from __future__ import annotations

import pandas as pd

from collections.abc import Iterator
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import pin, register, release_pins, table
from ..partitioning import spread
from ..functions.hashing import hash32_col, hash32_sql_duck
from ..functions.text import tokens_col, tokens_sql
from ..operators import similarity as sim

from .relational import HLL_LG_K


# --------------------------------------- Count-Min Sketch validation

CMS_D = 4    # sketch rows (hash functions)
CMS_W = 256  # counters per row
CMS_TOP = 10


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
    WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1),
    pos AS (SELECT user_id, n, i - 1 AS i,
                   ([{', '.join(
                       hash32_sql_duck(f"'{i}_' || CAST(user_id AS VARCHAR)")
                       + f' % {CMS_W}' for i in range(CMS_D))}])[i] AS p
            FROM u CROSS JOIN (SELECT unnest(range(1, {CMS_D} + 1)) AS i) x),
    counters AS (SELECT i, p, CAST(sum(n) AS BIGINT) AS cnt
                 FROM pos GROUP BY 1, 2),
    top AS (SELECT user_id, n,
                   row_number() OVER (ORDER BY n DESC, user_id) AS rk
            FROM u QUALIFY rk <= {CMS_TOP}),
    est AS (SELECT t.user_id, t.n, t.rk, min(c.cnt) AS cms_est
            FROM top t JOIN pos ON pos.user_id = t.user_id
                       JOIN counters c ON c.i = pos.i AND c.p = pos.p
            GROUP BY 1, 2, 3)
    SELECT CAST(rk AS BIGINT) AS rank, user_id,
           n AS exact_n, cms_est,
           cms_est - n AS overestimate
    FROM est ORDER BY rank
    """,
    tags=("events", "sketch", "count-min"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation validated against exact
    counts for the top-10 keys. The sketch (D=4 x W=256 int64 counters)
    is the mergeable, fixed-memory structure streaming frequency
    estimation uses when per-key state is impossible; its one-sided
    error contract (estimate >= truth) is emitted as `overestimate` and
    the oracle re-derives the whole sketch, so the contract is
    value-checked, not asserted.

    Scale shape: counters are a (D*W)-cell aggregate with map-side
    partial sums — constant memory regardless of key cardinality; the
    exact top-10 comes from the keyed count (one shuffle); the estimate
    join touches 10 keys x D positions against a 1024-row broadcast."""
    ev = spread(table(spark, sf_dir, "events"))
    u = pin(ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n")))
    pos = u.select(
        "user_id", "n",
        F.posexplode(F.array(*[
            (hash32_col(F.concat(F.lit(f"{i}_"),
                                 F.col("user_id").cast("string"))) % CMS_W)
            for i in range(CMS_D)])).alias("i", "p"))
    counters = pos.groupBy("i", "p").agg(F.sum("n").cast("bigint").alias("cnt"))
    w = Window.orderBy(F.col("n").desc(), "user_id")
    top = (u.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= CMS_TOP))
    est = (top.join(pos, ["user_id", "n"])
           .join(F.broadcast(counters), ["i", "p"])
           .groupBy("user_id", "n", "rk")
           .agg(F.min("cnt").alias("cms_est")))
    return (est.select(F.col("rk").cast("bigint").alias("rank"),
                       "user_id",
                       F.col("n").alias("exact_n"), "cms_est",
                       (F.col("cms_est") - F.col("n")).alias("overestimate"))
            .orderBy("rank"))


# ------------------------------------ mergeable frequent-items top-K

# Exact top-FI_TOP tokens by occurrence count, computed WITHOUT ever
# shuffling or hash-aggregating the full key domain:
#
#   pass 1  per Arrow batch: exact within-batch counts (bounded by the
#           batch size), keep the FI_K largest as the batch summary,
#           and record the batch's (FI_K+1)-th count as its truncation
#           error e_b (every pruned item's batch count is <= e_b);
#   merge   one groupBy over the summary rows (<= batches x FI_K rows)
#           sums per-key estimates; D = sum(e_b) bounds every key's
#           global undercount (est(x) <= f(x) <= est(x) + D);
#   prune   keep candidates with est + D >= est_T (the FI_TOP-th
#           largest merged estimate). For any true top-T key x that
#           appears in SOME summary: f(x) >= f_T >= est_T (T keys hold
#           est >= est_T and every est underestimates), so
#           est(x) >= f(x) - D >= est_T - D — such keys always survive
#           the prune, for ANY batching.
#   pass 2  exact counts for the candidates only: a second scan
#           semi-joined against the broadcast candidate list, so the
#           reconciliation groupBy's key domain is candidate-bounded.
#   verify  a key absent from EVERY summary has f <= D (each batch
#           count <= that batch's e_b), and a pruned candidate has
#           f <= est + D < est_T <= f_T — so when floor_T (the
#           FI_TOP-th exact candidate count) exceeds D, NO non-candidate
#           can displace the head and the sketch result is PROVABLY the
#           exact top-T. That guard is checked at runtime on two
#           1-row candidate-bounded aggregates; if it ever fails
#           (adversarially flat key distribution — every key's count
#           within the summary error), the operator falls back to the
#           full exact aggregation, so the OUTPUT is exact top-T for
#           any input and any batching, never silently approximate.
#
# The final report is therefore EXACT (oracle: plain SQL top-T), while
# on the sketch path no stage ever holds more than max(batch,
# summaries, candidates) keys — the groupBy-the-world plan
# text_vocab_topk uses is the right call when the key domain fits the
# executors; this is the workflow for when it does not (n-grams, URLs,
# user ids at 100 TB). On the fixtures the guard sits far from the
# boundary (vocabulary 31 < FI_K, so summaries are exact and D = 0);
# both the pruning regime and the fallback are exercised by
# synthetic-corpus and hypothesis tests.
FI_K = 64    # per-batch summary width
FI_TOP = 15  # report head


def _fi_batch_summary(counts: pd.Series,
                      k: int = FI_K) -> tuple[pd.Series, int]:
    """Pure summary step: given exact within-batch counts (index = key),
    return (kept top-k, truncation error bound). Deterministic order
    (count desc, key asc) so the kept set is stable under re-runs.
    `k` is parameterized only so property tests can hammer the merge
    algebra at small widths; the operator always passes FI_K."""
    if len(counts) <= k:
        return counts, 0
    ordered = counts.sort_index().sort_values(ascending=False,
                                              kind="stable")
    return ordered.iloc[:k], int(ordered.iloc[k])


def _fi_summaries(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one bounded summary per Arrow batch — FI_K
    (key, est) rows plus, when the batch was truncated, one NULL-key
    row carrying the batch's error bound."""
    for pdf in it:
        if pdf.empty:
            continue
        kept, err = _fi_batch_summary(pdf["token"].value_counts())
        out = pd.DataFrame({"token": kept.index.astype(str),
                            "est": kept.to_numpy("int64")})
        if err:
            out = pd.concat(
                [out, pd.DataFrame({"token": [None], "est": [err]})],
                ignore_index=True)
        yield out


def _fi_tokens(d: DataFrame) -> DataFrame:
    return d.select(F.explode(tokens_col(F.col("text"))).alias("token"))


def _fi_pass1(d: DataFrame) -> DataFrame:
    """Pass 1: the bounded per-batch summaries — narrow from the scan
    (no exchange may ever touch raw token volume; plan-audited)."""
    return _fi_tokens(d).mapInPandas(_fi_summaries, "token string, est long")


def _fi_candidates(summ: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Merge + prune: (derr 1-row total error, pruned candidate keys).
    The merge groupBy sees only summary rows; D and est_T ride as
    broadcast 1-row bounds."""
    merged = (summ.filter(F.col("token").isNotNull())
              .groupBy("token")
              .agg(F.sum("est").cast("long").alias("est")))
    derr = summ.filter(F.col("token").isNull()).agg(
        F.coalesce(F.sum("est"), F.lit(0)).cast("long").alias("derr"))
    est_t = (merged.orderBy(F.col("est").desc(), "token").limit(FI_TOP)
             .agg(F.min("est").cast("long").alias("est_t")))
    cand = (merged.crossJoin(F.broadcast(derr))
            .crossJoin(F.broadcast(est_t))
            .filter(F.col("est") + F.col("derr")
                    >= F.coalesce(F.col("est_t"), F.lit(0)))
            .select("token"))
    return derr, cand


def _fi_reconcile(d: DataFrame, cand: DataFrame) -> DataFrame:
    """Pass 2: exact counts for the broadcast candidate keys only —
    the semi-join runs BEFORE the groupBy, so the aggregate's hash
    tables and exchange are candidate-bounded."""
    return (_fi_tokens(d).join(F.broadcast(cand), "token", "left_semi")
            .groupBy("token")
            .agg(F.count("*").cast("long").alias("n_occ")))


@register(
    "sketch_freq_items_topk",
    oracle=f"""
    WITH t AS (SELECT unnest({tokens_sql('text')}) AS token
               FROM documents),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ
          FROM t GROUP BY token)
    SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS BIGINT)
               AS rank,
           token, n_occ
    FROM c ORDER BY n_occ DESC, token LIMIT {FI_TOP}
    """,
    tags=("llm", "sketch", "frequent-items", "mergeable"),
)
def q_freq_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus top-{FI_TOP} tokens via the mergeable frequent-items
    workflow (module comment above): bounded per-batch summaries, one
    summary-sized merge, provably-containing candidate prune, and an
    exact candidate-only reconciliation pass. The oracle is the plain
    exact top-T SQL — the containment argument is what makes the sketch
    path oracle-checkable.

    Scale shape: pass 1 is narrow (scan -> explode -> mapInPandas; no
    exchange touches raw token volume — asserted by the plan audit);
    the merge shuffles only summary rows; D / est_T ride as broadcast
    1-row bounds; the reconciliation scan semi-joins against the
    broadcast pruned candidates BEFORE its groupBy, so the exact
    count's hash tables and exchange carry candidate keys only; the
    final head is TakeOrderedAndProject over candidate-bounded rows.
    The one driver action is the 1-row exactness-guard collect (the
    same K-bounded-state license the k-means trainers use); the
    reconciled candidate counts are pinned so the guard and the
    returned head share one pass-2 scan."""
    d = spread(table(spark, sf_dir, "documents"))
    derr, cand = _fi_candidates(_fi_pass1(d))
    exact = pin(_fi_reconcile(d, cand))
    topk = exact.orderBy(F.col("n_occ").desc(), "token").limit(FI_TOP)
    g = (topk.agg(F.min("n_occ").alias("floor_t"),
                  F.count("*").alias("n_out"))
         .crossJoin(F.broadcast(derr)).collect()[0])
    # Exactness guard (module comment): the head is provably exact when
    # it is full and clears the summary error, or when no summary was
    # ever truncated (D = 0 -> merged holds every key exactly).
    if not (g.n_out and g.floor_t > g.derr
            and (g.n_out == FI_TOP or g.derr == 0)):
        # The guard already consumed the pinned candidate-bounded pass —
        # nothing downstream reads it on this branch, so release it now
        # rather than letting it sit in cache until the next registry
        # call (the release protocol's backstop).
        release_pins()
        exact = (_fi_tokens(d).groupBy("token")
                 .agg(F.count("*").cast("long").alias("n_occ")))
        topk = exact.orderBy(F.col("n_occ").desc(), "token").limit(FI_TOP)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("n_occ").desc(), "token")
    return (topk.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "token", "n_occ")
            .orderBy("rank"))


# ----------------------------- HLL overlap matrix (sketch algebra)

# agg_hll_sketch_union proves sketches re-aggregate along one axis
# (merge per-type sketches into a global estimate); this operator is
# the INTERSECTION face of the same algebra: HLL sketches union
# natively but never intersect, so pairwise audience overlap comes
# from inclusion-exclusion — |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) —
# computed ENTIRELY from the per-type sketches (the union estimate is
# hll_union over two stored sketch binaries; raw events are scanned
# once, to build the sketches and the eval-only exact sides). The
# estimate's absolute error is driven by est(A ∪ B)'s relative error
# (~0.8% at lgK=14), which the 10% relative bound on these overlap
# magnitudes absorbs with wide margin (empirically <= 2% across all
# three SFs); like the HLL union row, the boolean is the only place
# the estimate surfaces — exact values ride the hash comparison.


@register(
    "sketch_hll_overlap_matrix",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
          FROM du GROUP BY event_type),
    ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS BIGINT) AS exact_overlap
           FROM du a JOIN du b
             ON b.user_id = a.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2),
    pr AS (SELECT da.event_type AS type_a, db.event_type AS type_b,
                  da.nd AS exact_a, db.nd AS exact_b,
                  CAST(coalesce(ov.exact_overlap, 0) AS BIGINT)
                      AS exact_overlap
           FROM d da JOIN d db ON da.event_type < db.event_type
                LEFT JOIN ov ON ov.type_a = da.event_type
                            AND ov.type_b = db.event_type)
    SELECT type_a, type_b, exact_a, exact_b,
           exact_a + exact_b - exact_overlap AS exact_union,
           exact_overlap,
           {sim.round6_stable_sql(
               'exact_overlap / CAST(exact_a + exact_b - exact_overlap'
               ' AS DOUBLE)')} AS jaccard,
           TRUE AS overlap_within_10pct
    FROM pr
    ORDER BY type_a, type_b
    """,
    tags=("events", "sketch", "mergeable", "overlap"),
)
def q_hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types (module comment
    above): one row per unordered type pair — INCLUDING disjoint
    pairs, which surface as overlap 0 / jaccard 0 via the left join —
    with both exact cardinalities, the exact union and overlap, the
    exact Jaccard, and the pinned boolean that the sketch-only
    inclusion-exclusion estimate lands within 10% of the exact overlap
    (of the union, for the zero-overlap case).

    Scale shape: ONE partial+final aggregate builds a constant-size
    sketch plus the exact distinct per type (|types| rows); the pair
    layer is a self-join over those |types| summary rows — sketch
    binaries union pairwise WITHOUT touching events again, which is
    the whole point: a production job stores per-partition sketches
    and answers any of the O(|types|²) overlap questions later. The
    exact overlap join rides deduplicated (type, user) id pairs (an
    EVAL cost, like every exact side in the sketch family)."""
    ev = table(spark, sf_dir, "events")
    du = pin(ev.select("event_type", "user_id").distinct())
    d = pin(du.groupBy("event_type")
            .agg(F.expr(f"hll_sketch_agg(user_id, {HLL_LG_K})").alias("sk"),
                 F.count("*").cast("long").alias("nd")))
    da = d.select(F.col("event_type").alias("type_a"),
                  F.col("sk").alias("sk_a"), F.col("nd").alias("exact_a"))
    db = d.select(F.col("event_type").alias("type_b"),
                  F.col("sk").alias("sk_b"), F.col("nd").alias("exact_b"))
    pairs = da.crossJoin(db).filter(F.col("type_a") < F.col("type_b"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    ov = (a.join(b, "user_id")
          .filter(F.col("type_a") < F.col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(F.count("*").cast("long").alias("exact_overlap")))
    est_overlap = (F.expr("hll_sketch_estimate(sk_a)")
                   + F.expr("hll_sketch_estimate(sk_b)")
                   - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
    # LEFT join + coalesce(0): a DISJOINT type pair is a real matrix
    # row (overlap 0, jaccard 0), not a silent omission (r11 advice
    # item). The union is >= each side's nd >= 1, so the jaccard
    # division is safe; the 10% bound switches to the UNION scale for
    # the zero-overlap case (relative-to-zero is undefined, and the
    # inclusion-exclusion estimate's absolute error is driven by
    # est(A ∪ B)'s error — union-relative is the honest tolerance).
    exact_union = (F.col("exact_a") + F.col("exact_b")
                   - F.col("exact_overlap"))
    return (pairs.join(ov, ["type_a", "type_b"], "left")
            .withColumn("exact_overlap",
                        F.coalesce("exact_overlap", F.lit(0))
                        .cast("long"))
            .select(
                "type_a", "type_b", "exact_a", "exact_b",
                exact_union.alias("exact_union"),
                "exact_overlap",
                sim.round6_stable(
                    F.col("exact_overlap")
                    / exact_union.cast("double")).alias("jaccard"),
                F.when(F.col("exact_overlap") == 0,
                       F.abs(est_overlap)
                       <= F.lit(0.10) * exact_union.cast("double"))
                 .otherwise(
                     F.abs(est_overlap - F.col("exact_overlap"))
                     / F.col("exact_overlap") <= F.lit(0.10))
                .alias("overlap_within_10pct"))
            .orderBy("type_a", "type_b"))
