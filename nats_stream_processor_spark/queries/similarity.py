"""Vector-similarity queries (``sim_``, ``embed_``): exact and
approximate top-k (LSH, IVF, IVF-PQ, int8), range search, rank fusion and
retrieval-quality metrics, and embedding transforms (projection,
quantization, Gram matrices)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..operators import kmeans as km
from ..operators import similarity as sim

from .text import BM25_B, BM25_K1, BM25_TERMS, BM25_TOPK
from .graph import _KNN_CTE, _knn_graph_df
from .ivf import (
    IVF_NLIST,
    IVR_NPROBE,
    IVR_NQ,
    IVR_TOPK,
    _PPM,
    _ivf_base_ctes_sql,
    _ivf_base_frames,
    _ppm_rank_col,
    _ppm_rank_sql,
)


# --------------------------------------------------------------- similarity

_EMB_CTE = f"""
WITH e AS (SELECT vec_id, label, {sim.as_double_sql('embedding')} AS demb
           FROM embeddings),
n AS (SELECT vec_id, label, demb, {sim.norm_sql('demb')} AS nrm FROM e)
"""


@register(
    "sim_cosine_topk",
    oracle=f"""
    {_EMB_CTE},
    q AS (SELECT * FROM n WHERE vec_id < 10),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({sim.dot_unrolled_sql('q.demb', 'c.demb')} / (q.nrm * c.nrm), 6) AS cosine
        FROM q JOIN n c ON c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-brute-force"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: broadcast the query
    set, fold dot products JVM-side, rank per query. The corpus never
    shuffles — the plan is broadcast-join + window on the (tiny) scored
    set, which is exactly the exact-kNN baseline you run at any scale."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"))
    q = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"))
    scored = (
        F.broadcast(q).crossJoin(n)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                       F.col("q_nrm"), F.col("nrm")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


@register(
    "sim_ann_lsh",
    oracle=f"""
    {_EMB_CTE},
    b AS (SELECT vec_id, demb, nrm,
                 {sim.lsh_buckets_multi_sql('demb')} AS buckets FROM n),
    x AS (SELECT vec_id, demb, nrm, i AS tbl, buckets[i + 1] AS bucket
          FROM b CROSS JOIN (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
    q AS (SELECT * FROM x WHERE vec_id < 10),
    scored AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({sim.dot_unrolled_sql('q.demb', 'c.demb')} / (q.nrm * c.nrm), 6) AS cosine
        FROM q JOIN x c ON c.tbl = q.tbl AND c.bucket = q.bucket
                       AND c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-lsh"),
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN: L={sim.LSH_TABLES} sign-random-projection hash
    tables of {sim.LSH_PLANES} planes each; candidates = collision in any
    table (posexplode -> equi-join on (table, bucket) -> distinct), exact
    cosine rerank on candidates only. Recall ~0.65 at the test corpus vs
    0.14 single-table (asserted in test_ann_recall); the shuffle unit is
    the (table, bucket) row, never the corpus pairwise.

    The exploded signature table ``x`` feeds BOTH join sides (query probe
    and corpus), so it is pinned: without the persist each side recomputes
    the L x P hyperplane sign folds over the whole corpus — the dominant
    cost of this query (observed ~15 s -> ~2 s at sf0.01)."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"),
                 sim.lsh_buckets_multi(F.col("demb")).alias("buckets"))
    x = pin(n.select("vec_id", "demb", "nrm",
                     F.posexplode("buckets").alias("tbl", "bucket")))
    q = x.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"), F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"))
    scored = (
        F.broadcast(q)
        .join(x, (F.col("tbl") == F.col("q_tbl"))
              & (F.col("bucket") == F.col("q_bucket"))
              & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                       F.col("q_nrm"), F.col("nrm")).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )

IVF_NPROBE = 2   # lists probed per query

_IVF_CTE = f"""
WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
           FROM embeddings),
n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
{km.ivf_train_cte_sql(IVF_NLIST)},
cent AS (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
         FROM tcent),
assign AS (
    SELECT vec_id, demb, nrm, cent_id
    FROM (SELECT n.vec_id, n.demb, n.nrm, cent.cent_id,
                 row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                              / (n.nrm * cent.c_nrm) DESC, cent.cent_id) AS rc
          FROM n CROSS JOIN cent)
    WHERE rc = 1),
probes AS (
    SELECT vec_id AS query_id, demb AS q_demb, nrm AS q_nrm, cent_id
    FROM (SELECT n.vec_id, n.demb, n.nrm, cent.cent_id,
                 row_number() OVER (
                     PARTITION BY n.vec_id
                     ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                              / (n.nrm * cent.c_nrm) DESC, cent.cent_id) AS rc
          FROM n CROSS JOIN cent)
    WHERE rc <= {IVF_NPROBE} AND vec_id < 10)
"""


@register(
    "sim_ann_ivf",
    oracle=f"""
    {_IVF_CTE},
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round({sim.dot_sql('p.q_demb', 'a.demb')} / (p.q_nrm * a.nrm), 6)
                 AS cosine
        FROM probes p JOIN assign a
          ON a.cent_id = p.cent_id AND a.vec_id != p.query_id)
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM (SELECT DISTINCT query_id, neighbor_id, cosine FROM scored))
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-ivf"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into nlist=16 inverted
    lists (nearest centroid by cosine; centroids trained by deterministic
    sampled k-means, operators/kmeans.py — the oracle replays the training
    CTE-for-CTE so the index itself is value-checked), probe the query's
    nprobe=2 nearest lists, exact cosine inside the probed lists only.

    Scale shape: training touches a bounded sample and only K centroids
    reach the driver; trained centroids broadcast everywhere; the corpus
    shuffles ONCE on its assigned list id (the inverted index build); each
    query touches nprobe/nlist of the data. This is the standard
    billion-vector layout (IVF-Flat) — swap the exact inner scan for PQ
    codes to go further."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"))
    cents = km.train_ivf_centroids(e, IVF_NLIST)
    cent = spark.createDataFrame(
        [(i, cents[i]) for i in range(IVF_NLIST)],
        "cent_id int, c_demb array<double>",
    ).withColumn("c_nrm", sim.norm(F.col("c_demb")))
    # NOTE (r16, losing A/B — do not retry): replacing this rank-1
    # window with a lexicographic struct-max groupBy (max(struct(c_cos,
    # -cent_id, cent_id, demb, nrm))) measured CONSISTENTLY slower
    # (1.62-1.66 s vs 1.28 s in adjacent driver windows at sf0.1): an
    # aggregation buffer holding the 64-dim array is not a mutable
    # fixed-width type, so HashAggregate's fast path is unavailable and
    # the agg plans as a SortAggregate — i.e. it still sorts, but now
    # shuffles struct-wrapped vectors through partial+final too. The
    # streaming twin uses the struct-max shape because streaming cannot
    # run a non-time window at all, not because it is faster.
    scored_cent = (
        n.crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "demb", "nrm", "cent_id",
            (sim.dot(F.col("demb"), F.col("c_demb"))
             / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), "cent_id")
    ranked = scored_cent.withColumn("rc", F.row_number().over(w))
    assign = ranked.filter(F.col("rc") == 1).select("vec_id", "demb", "nrm", "cent_id")
    probes = (ranked.filter((F.col("rc") <= IVF_NPROBE) & (F.col("vec_id") < 10))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("demb").alias("q_demb"),
                      F.col("nrm").alias("q_nrm"),
                      F.col("cent_id").alias("p_cent_id")))
    scored = (
        F.broadcast(probes)
        .join(assign, (F.col("cent_id") == F.col("p_cent_id"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine"))
        .distinct()
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


@register(
    "sim_ann_pq",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    {km.pq_train_cb_cte_sql()},
    c AS (SELECT vec_id, {sim.pq_codes_sql('demb')} AS codes
          FROM e CROSS JOIN cbrow),
    q AS (SELECT vec_id AS query_id, demb FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, x.vec_id AS neighbor_id,
               {sim.pq_adc_dist_sql('q.demb', 'x.codes')} AS adist
        FROM c x CROSS JOIN q CROSS JOIN cbrow
        WHERE x.vec_id != q.query_id)
    SELECT query_id, neighbor_id, adist, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-pq"),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (PQ-Flat with ADC): corpus vectors encoded
    once into 8 4-bit codes (nearest codebook centroid per 8-dim
    subspace), queries scored against CODES via per-query lookup tables —
    the scan touches 8 small ints per vector, never the floats. This is
    the memory layout that makes billion-vector scans feasible; compose
    with sim_ann_ivf's inverted lists for IVF-PQ. Codebooks are trained by
    deterministic per-subspace sampled k-means (operators/kmeans.py); the
    oracle replays the training CTE-for-CTE, so the trained index is
    value-checked, and after training the codebook is the usual tiny
    driver-side constant broadcast into the encode expression.

    Measured recall@5 vs exact L2 is ~0.2 on this corpus because the
    synthetic embeddings are i.i.d. (distance concentration); on a
    clustered corpus the trained codebook reaches ~0.76 and beats the
    untrained first-16 stand-in (asserted in test_ann_recall.py)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    cb = km.train_pq_codebook(e)
    corpus = spread(e).select(
        "vec_id", sim.pq_codes("demb", cb).alias("codes"))
    luts = sim.pq_lut_cols("demb", cb)
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 *[luts[s].alias(f"lut{s}") for s in range(sim.PQ_M)]))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.pq_adc_dist(
                F.col("codes"),
                [F.col(f"lut{s}") for s in range(sim.PQ_M)]).alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# Shared IVF-PQ candidate stage (training + coarse lists + 4-bit codes +
# ADC scoring) — the common prefix of the plain top-k query below and the
# exact-re-rank variant (sim_ann_ivf_pq_refine).
IVF_PQ_SCORED_CTE = f"""
{_IVF_CTE},
{km.pq_train_cb_cte_sql()},
codes AS (SELECT vec_id, {sim.pq_codes_sql('demb')} AS codes
          FROM e CROSS JOIN cbrow),
scored AS (
    SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
           {sim.pq_adc_dist_sql('p.q_demb', 'x.codes')} AS adist
    FROM probes p
    JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id != p.query_id
    JOIN codes x ON x.vec_id = a.vec_id
    CROSS JOIN cbrow)
"""


def ivf_pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of IVF_PQ_SCORED_CTE: (query_id, neighbor_id, adist)
    candidates from probing the query's IVF lists and ADC-scoring their
    PQ codes. Training is memoized per corpus (operators/kmeans.py), so
    sharing this between queries retrains nothing."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"))
    cents = km.train_ivf_centroids(e, IVF_NLIST)
    cent = spark.createDataFrame(
        [(i, cents[i]) for i in range(IVF_NLIST)],
        "cent_id int, c_demb array<double>",
    ).withColumn("c_nrm", sim.norm(F.col("c_demb")))
    ranked = (
        n.crossJoin(F.broadcast(cent))
        .select("vec_id", "demb", "nrm", "cent_id",
                (sim.dot(F.col("demb"), F.col("c_demb"))
                 / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos"))
        .withColumn("rc", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), "cent_id")))
    )
    cb = km.train_pq_codebook(e)
    assign = (ranked.filter(F.col("rc") == 1)
              .select("vec_id", "cent_id",
                      sim.pq_codes("demb", cb).alias("codes")))
    luts = sim.pq_lut_cols("q_demb", cb)
    probes = (ranked.filter((F.col("rc") <= IVF_NPROBE) & (F.col("vec_id") < 10))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("demb").alias("q_demb"),
                      F.col("cent_id").alias("p_cent_id"))
              .select("query_id", "p_cent_id",
                      *[luts[s].alias(f"lut{s}") for s in range(sim.PQ_M)]))
    return (
        F.broadcast(probes)
        .join(assign, (F.col("cent_id") == F.col("p_cent_id"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.pq_adc_dist(
                    F.col("codes"),
                    [F.col(f"lut{s}") for s in range(sim.PQ_M)]).alias("adist"))
        .distinct()
    )


@register(
    "sim_ann_ivf_pq",
    oracle=f"""
    {IVF_PQ_SCORED_CTE}
    SELECT query_id, neighbor_id, adist, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-ivf-pq"),
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the complete billion-vector ANN layout: coarse-quantize
    into nlist inverted lists (sim_ann_ivf's assignment), store 4-bit PQ
    codes per vector (sim_ann_pq's encoding), and answer a query by
    probing its nprobe nearest lists and ADC-scoring only the CODES in
    those lists. Per query the scan touches nprobe/nlist of the corpus at
    8 small ints per vector — centroids and the query's lookup tables are
    the only floats in flight. Both approximations are value-checked by
    the composed oracle."""
    scored = ivf_pq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# ------------------------------------------------------- LSH range search

RANGE_SEARCH_TAU = 0.3  # cosine radius, sized to the test corpus's


# similarity spread (max pairwise cosine ~0.4) so results are non-empty


@register(
    "sim_ann_range_search",
    oracle=f"""
    {_EMB_CTE},
    b AS (SELECT vec_id, demb, nrm,
                 {sim.lsh_buckets_multi_sql('demb')} AS buckets FROM n),
    x AS (SELECT vec_id, demb, nrm, i AS tbl, buckets[i + 1] AS bucket
          FROM b CROSS JOIN (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
    q AS (SELECT * FROM x WHERE vec_id < 10),
    hits AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({sim.dot_unrolled_sql('q.demb', 'c.demb')}
                     / (q.nrm * c.nrm), 6) AS cosine
        FROM q JOIN x c ON c.tbl = q.tbl AND c.bucket = q.bucket
                       AND c.vec_id != q.vec_id)
    SELECT query_id, neighbor_id, cosine FROM hits
    WHERE cosine >= {RANGE_SEARCH_TAU}
    ORDER BY query_id, neighbor_id
    """,
    tags=("llm", "ann-range"),
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search — the other half of a similarity-search API
    next to top-k: ALL candidates within cosine >= tau of each query,
    however many there are. Same multi-table LSH candidate generation as
    sim_ann_lsh (pinned signature relation feeding both join sides, the
    (table, bucket) equi-join as the shuffle unit), but the rerank is a
    plain filter — no window, no K: result size is data-driven, which is
    what dedup-style callers (find EVERYTHING near this vector) need."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"),
                 sim.lsh_buckets_multi(F.col("demb")).alias("buckets"))
    x = pin(n.select("vec_id", "demb", "nrm",
                     F.posexplode("buckets").alias("tbl", "bucket")))
    q = x.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"), F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"))
    hits = (
        F.broadcast(q)
        .join(x, (F.col("tbl") == F.col("q_tbl"))
              & (F.col("bucket") == F.col("q_bucket"))
              & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                       F.col("q_nrm"), F.col("nrm")).alias("cosine"),
        )
        .distinct()
    )
    return (
        hits.filter(F.col("cosine") >= RANGE_SEARCH_TAU)
        .orderBy("query_id", "neighbor_id")
    )


# ------------------------------------------------- JL random projection

RP_DIM = 16  # 64 -> 16 dims; distortion ~ sqrt(log n / k) (JL lemma)


def _rp_weights(j: int, dim: int = sim.EMBED_DIM) -> list[float]:
    """Rademacher row j of the projection matrix, pre-scaled by 1/sqrt(k).

    Signs derive from md5 parity (pinned, engine-independent); the scale
    1/sqrt(16) = 0.25 is an exact power of two, so every weight is the
    exactly-representable double +/-0.25 and the projection arithmetic is
    bit-identical across engines."""
    return [
        (0.25 if sim._h32(f"rp_{j}_{d}") % 2 == 0 else -0.25)
        for d in range(dim)
    ]


@register(
    "embed_random_projection",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings)
    SELECT vec_id,
           {', '.join(
               sim.round6_stable_sql(sim.dot_weights_sql(_rp_weights(j), 'demb'))
               + f' AS rp_{j:02d}'
               for j in range(RP_DIM))}
    FROM e ORDER BY vec_id
    """,
    tags=("llm", "embedding", "random-projection"),
)
def q_embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection, 64 -> 16 dims.

    The standard cheap pre-step before ANN indexing / clustering at corpus
    scale: a pinned Rademacher matrix (+/-1 scaled by 1/sqrt(k)) preserves
    pairwise cosine within ~sqrt(log n / k) while cutting the vector bytes
    4x. Map-only plan — one scan, no shuffle, whole-stage codegen; the
    projection matrix is baked into the plan as literals (nothing to
    broadcast), so at 100 TB this runs at scan speed. Weight rows are
    embedded in the oracle from the same Python constants, so the projected
    vectors are value-checked bit-for-bit.

    Output shape: the 16 components are emitted as SCALAR columns
    rp_00..rp_15 (not one array column) — the harness canonicalizes
    results through a pandas sort over every output column, and a
    list-valued column is unhashable there (the r4 driver red)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    comps = [
        sim.round6_stable(sim.dot(sim.plane_lit(_rp_weights(j)), F.col("demb")))
           .alias(f"rp_{j:02d}")
        for j in range(RP_DIM)
    ]
    return e.select("vec_id", *comps).orderBy("vec_id")


# ------------------------------------------------- distributed Gram matrix

# Products are quantized to a 1e-9 grid and accumulated as int64, making
# every partial sum EXACT and order-independent — the float-sum analog of
# operators/relational.dsum for a Python-side accumulation. 1e9 is a double
# both engines parse identically (e-notation -> DOUBLE in DuckDB too).
# Bounds: |v| <= ~0.53 in this corpus, so a quantized product is < 2^29 and
# an int64 partial holds ~2^34 rows before overflow; the cross-partition
# final sum widens through Spark's long aggregate (document scale: at 1e9+
# rows per partition, widen the partial dtype or shrink the grid).
GRAM_QUANT = 1e9


def _gram_partials(iterator):
    """Per-partition partial Gram: O(n_p * d^2) local flops, emits d^2
    int64 sums — the vectors themselves never shuffle."""
    import numpy as np
    import pandas as pd

    dim = sim.EMBED_DIM
    acc = np.zeros((dim, dim), dtype=np.int64)
    seen = False
    for pdf in iterator:
        if not len(pdf):
            continue
        E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["demb"]])
        for s in range(0, len(E), 256):  # bound the n*d*d intermediate
            C = E[s:s + 256]
            acc += (np.floor(C[:, :, None] * C[:, None, :] * GRAM_QUANT + 0.5)
                    .astype(np.int64).sum(axis=0))
        seen = True
    if seen:
        ii, jj = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
        yield pd.DataFrame({
            "i": ii.ravel().astype("int32"),
            "j": jj.ravel().astype("int32"),
            "s": acc.ravel(),
        })


@register(
    "embed_gram_matrix",
    oracle=f"""
    WITH e AS (SELECT {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    idx AS (SELECT unnest(range(1, {sim.EMBED_DIM + 1})) AS ii),
    p AS (SELECT a.ii AS oi, b.ii AS oj,
                 sum(CAST(floor(e.demb[a.ii] * e.demb[b.ii] * {GRAM_QUANT!r}
                                + 0.5) AS BIGINT)) AS s
          FROM e CROSS JOIN idx a CROSS JOIN idx b GROUP BY 1, 2)
    SELECT CAST(oi - 1 AS INT) AS i, CAST(oj - 1 AS INT) AS j,
           {sim.round6_stable_sql(f'CAST(s AS DOUBLE) / {GRAM_QUANT!r}')}
             AS gram
    FROM p ORDER BY i, j
    """,
    tags=("llm", "embedding", "gram-matrix"),
)
def q_embed_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed d x d Gram matrix (uncentered covariance) of the
    embedding corpus — the one-pass reduction behind PCA / whitening /
    low-rank analysis of an embedding table. At 100 TB this is THE way to
    do PCA on Spark: each partition computes its local E^T E with
    vectorized NumPy (Arrow batches via mapInPandas), the shuffle carries
    only d^2 = 4096 numbers per partition, and the driver-side
    eigendecomposition of a 64x64 matrix is trivial. Quantized int64
    accumulation (see GRAM_QUANT) makes the result independent of both row
    order and partitioning, so the distributed sum is value-checked
    bit-for-bit against DuckDB's single-threaded replay."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        sim.as_double(F.col("embedding")).alias("demb"))
    partials = e.mapInPandas(_gram_partials, "i int, j int, s long")
    return (
        partials.groupBy("i", "j").agg(F.sum("s").alias("s"))
        .select("i", "j",
                sim.round6_stable(
                    F.col("s").cast("double") / F.lit(GRAM_QUANT)).alias("gram"))
        .orderBy("i", "j")
    )


# ----------------------------------------------- IVF-PQ + exact re-rank

REFINE_C = 16  # ADC candidates kept per query before the exact re-rank


@register(
    "sim_ann_ivf_pq_refine",
    oracle=f"""
    {IVF_PQ_SCORED_CTE},
    topc AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adist, neighbor_id) AS ra
            FROM scored)
        WHERE ra <= {REFINE_C}),
    exact AS (
        SELECT t.query_id, t.neighbor_id,
               {sim.round6_stable_sql(
                   sim.dot_sql('nq.demb', 'nc.demb')
                   + ' / (nq.nrm * nc.nrm)')} AS cos6
        FROM topc t
        JOIN n nq ON nq.vec_id = t.query_id
        JOIN n nc ON nc.vec_id = t.neighbor_id)
    SELECT query_id, neighbor_id, cos6, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos6 DESC, neighbor_id) AS rn
        FROM exact)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-ivf-pq-refine"),
)
def q_ann_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank — the last stage of the production ANN
    stack: ADC-score the probed lists' 4-bit codes (cheap, approximate),
    keep the top REFINE_C candidates per query, then re-rank ONLY those
    against the raw vectors with exact cosine and emit the top 5. The
    expensive float reads drop from |probed lists| to C per query, which
    is what makes billion-vector refine affordable; the quantization
    error that ADC introduces is corrected where it matters (the head).

    Plan: the shared scored stage (ivf_pq_scored — memoized
    training, broadcast probes), a WindowGroupLimit top-C, then an
    id-equi-join back to the raw vectors for the C survivors only."""
    scored = ivf_pq_scored(spark, sf_dir)
    wa = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    topc = (scored.withColumn("ra", F.row_number().over(wa))
            .filter(F.col("ra") <= REFINE_C)
            .select("query_id", "neighbor_id"))
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"))
    q = n.select(F.col("vec_id").alias("query_id"),
                 F.col("demb").alias("q_demb"), F.col("nrm").alias("q_nrm"))
    c = n.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("demb").alias("c_demb"), F.col("nrm").alias("c_nrm"))
    exact = (
        topc.join(q, "query_id").join(c, "neighbor_id")
        .select("query_id", "neighbor_id",
                sim.round6_stable(
                    sim.dot(F.col("q_demb"), F.col("c_demb"))
                    / (F.col("q_nrm") * F.col("c_nrm"))).alias("cos6"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos6").desc(), "neighbor_id")
    return (
        exact.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# ---------------------------------------- int8 embedding quantization

# Symmetric per-vector scalar quantization: code_i = round(x_i * 127 /
# max|x|). At 100 TB this is the difference between a 256-byte and a
# 64-byte vector — the memory-bound ANN scan goes 4x faster, and the
# integer dot products downstream are EXACT (order-independent, no
# floating-point summation hazards at all).
INT8_MAX = 127

_INT8_CTE = f"""
WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
           FROM embeddings),
m AS (SELECT vec_id, demb,
             list_max(list_transform(demb, x -> abs(x))) AS mx FROM e),
qc AS (SELECT vec_id, mx,
              CASE WHEN mx = 0
                   THEN list_transform(demb, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(demb,
                        x -> CAST(floor((x * CAST({INT8_MAX} AS DOUBLE)) / mx
                                        + 0.5) AS BIGINT))
              END AS codes
       FROM m)
"""


def _int8_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, mx, codes): per-vector max-abs and the int8 code array.

    Every step is exact IEEE double arithmetic (widen, multiply, divide,
    floor) that Spark and DuckDB perform bit-identically, so the codes —
    and everything integer derived from them — hash-match by
    construction. Zero vectors quantize to all-zero codes (the mx = 0
    guard avoids a NaN-producing divide)."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    m = e.select(
        "vec_id", "demb",
        F.array_max(F.transform(F.col("demb"),
                                lambda x: F.abs(x))).alias("mx"))
    zeros = F.transform(F.col("demb"), lambda x: F.lit(0).cast("long"))
    quant = F.transform(
        F.col("demb"),
        lambda x: F.floor((x * F.lit(float(INT8_MAX))) / F.col("mx")
                          + F.lit(0.5)).cast("long"))
    return m.select(
        "vec_id", "mx",
        F.when(F.col("mx") == 0, zeros).otherwise(quant).alias("codes"))


@register(
    "embed_quantize_int8",
    oracle=f"""
    {_INT8_CTE}
    SELECT vec_id,
           {sim.round6_stable_sql(f'mx / CAST({INT8_MAX} AS DOUBLE)')}
             AS scale6,
           CAST(list_aggregate(codes, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(codes, 'max') AS BIGINT) AS q_max,
           CAST(list_sum(codes) AS BIGINT) AS q_sum,
           CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT)
             AS q_norm2
    FROM qc ORDER BY vec_id
    """,
    tags=("llm", "quantization"),
)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column with per-vector
    summary stats (the dequant scale, code range, exact integer sum and
    squared norm). Map-only — each vector quantizes independently, no
    shuffle; the value-checked integer norm is the invariant an ANN scan
    over the codes depends on."""
    qc = _int8_codes_df(spark, sf_dir)
    return (
        qc.select(
            "vec_id",
            sim.round6_stable(F.col("mx") / F.lit(float(INT8_MAX)))
               .alias("scale6"),
            F.array_min("codes").alias("q_min"),
            F.array_max("codes").alias("q_max"),
            F.aggregate("codes", F.lit(0).cast("long"),
                        lambda a, x: a + x).alias("q_sum"),
            F.aggregate("codes", F.lit(0).cast("long"),
                        lambda a, x: a + x * x).alias("q_norm2"))
        .orderBy("vec_id")
    )


@register(
    "sim_ann_int8_topk",
    oracle=f"""
    {_INT8_CTE},
    q AS (SELECT vec_id AS query_id, mx AS q_mx, codes AS qcodes
          FROM qc WHERE vec_id < 10),
    idot AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, q.q_mx, c.mx,
               CAST({sim.dot_unrolled_sql('q.qcodes', 'c.codes')} AS BIGINT)
                 AS score_int
        FROM q CROSS JOIN qc c WHERE c.vec_id != q.query_id),
    scored AS (
        SELECT query_id, neighbor_id, score_int,
               {sim.round6_stable_sql(
                   f'(CAST(score_int AS DOUBLE)'
                   f' * (q_mx / CAST({INT8_MAX} AS DOUBLE)))'
                   f' * (mx / CAST({INT8_MAX} AS DOUBLE))')} AS score6
        FROM idot)
    SELECT query_id, neighbor_id, score_int, score6, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score6 DESC, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-int8"),
)
def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k inner-product scan over the int8 CODES — the
    quantized scan that replaces the float brute force at scale (4x less
    memory traffic per vector). The integer dot is exact int64 (no
    summation-order hazards); ranking uses the DEQUANTIZED score
    score_int * scale_q * scale_c — raw code dots are not comparable
    across neighbors because each vector carries its own scale. The
    dequant product is three exact IEEE ops on bit-identical inputs, so
    cross-engine ranking is still deterministic; ties break by
    neighbor_id. Query set broadcast (vec_id < 10); one pass over the
    corpus codes; the codes relation feeds both sides, so it is pinned
    (same pattern as sim_ann_lsh)."""
    x = pin(_int8_codes_df(spark, sf_dir).select("vec_id", "mx", "codes"))
    q = x.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("mx").alias("q_mx"),
        F.col("codes").alias("qcodes"))
    idot = (
        x.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            "q_mx", "mx",
            F.aggregate(F.zip_with("qcodes", "codes",
                                   lambda a, b: a * b),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v).alias("score_int"))
    )
    scored = idot.select(
        "query_id", "neighbor_id", "score_int",
        sim.round6_stable(
            (F.col("score_int").cast("double")
             * (F.col("q_mx") / F.lit(float(INT8_MAX))))
            * (F.col("mx") / F.lit(float(INT8_MAX)))).alias("score6"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# ------------------------------------------------ k-NN graph construction


@register(
    "sim_knn_graph",
    oracle=f"""
    {_KNN_CTE}
    SELECT src, dst, cosine, rn FROM knn ORDER BY src, rn
    """,
    tags=("llm", "knn-graph"),
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction over the WHOLE corpus (top-{KNN_GRAPH_K}
    approximate neighbors for every vector, not just a query set) — the
    primitive semantic-dedup, graph-clustering and diversity-sampling
    pipelines consume. Candidates come from the multi-table LSH bucket
    self-join (collision in any of the {sim.LSH_TABLES} tables), are
    deduplicated UNDIRECTED FIRST — so each pair's exact cosine is
    computed once, not once per colliding table or direction — then
    mirrored into both directions for the per-node top-k.

    Scale shape: shuffles carry (table, bucket, vec_id) and pair ids;
    the pairwise work is bucket-bounded (never corpus x corpus) and the
    per-node window is k-bounded. The bucket relation is pinned — it
    feeds both sides of the self-join."""
    return _knn_graph_df(spark, sf_dir).orderBy("src", "rn")


# --------------------------------------------- IVF + int8 composition


@register(
    "sim_ann_ivf_int8",
    oracle=f"""
    {_IVF_CTE},
    m8 AS (SELECT vec_id,
                  list_max(list_transform(demb, x -> abs(x))) AS mx
           FROM e),
    qc AS (SELECT e.vec_id, m8.mx,
                  CASE WHEN m8.mx = 0
                       THEN list_transform(e.demb, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(e.demb,
                            x -> CAST(floor((x * CAST({INT8_MAX} AS DOUBLE))
                                            / m8.mx + 0.5) AS BIGINT))
                  END AS codes
           FROM e JOIN m8 USING (vec_id)),
    idot AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, cq.mx AS q_mx,
               ca.mx,
               CAST({sim.dot_unrolled_sql('cq.codes', 'ca.codes')} AS BIGINT)
                 AS score_int
        FROM probes p JOIN assign a
          ON a.cent_id = p.cent_id AND a.vec_id != p.query_id
        JOIN qc cq ON cq.vec_id = p.query_id
        JOIN qc ca ON ca.vec_id = a.vec_id),
    scored AS (
        SELECT query_id, neighbor_id, score_int,
               {sim.round6_stable_sql(
                   f'(CAST(score_int AS DOUBLE)'
                   f' * (q_mx / CAST({INT8_MAX} AS DOUBLE)))'
                   f' * (mx / CAST({INT8_MAX} AS DOUBLE))')} AS score6
        FROM idot)
    SELECT query_id, neighbor_id, score_int, score6, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score6 DESC, neighbor_id) AS rn
        FROM scored)
    WHERE rn <= 5 ORDER BY query_id, rn
    """,
    tags=("llm", "ann-ivf-int8"),
)
def q_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + int8 composed ANN: probe the query's {_IVF_NPROBE} nearest
    trained inverted lists (same value-checked k-means coarse quantizer
    as sim_ann_ivf), then score ONLY the probed lists' vectors with
    exact int64 code dots and dequantized ranking (sim_ann_int8_topk's
    scan). This is the memory-lean billion-vector layout when PQ's
    lossy codes are too coarse: 64 bytes/vector, nprobe/nlist of the
    corpus touched per query, and integer scoring with no
    summation-order hazards.

    Scale shape: centroids broadcast; the corpus shuffles once on its
    list id; the probe join is list-bucketed (never corpus-wide); the
    code table joins on vec_id within probed lists only."""

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm"))
    cents = km.train_ivf_centroids(e, IVF_NLIST)
    cent = spark.createDataFrame(
        [(i, cents[i]) for i in range(IVF_NLIST)],
        "cent_id int, c_demb array<double>",
    ).withColumn("c_nrm", sim.norm(F.col("c_demb")))
    scored_cent = (
        n.crossJoin(F.broadcast(cent))
        .select("vec_id", "cent_id",
                (sim.dot(F.col("demb"), F.col("c_demb"))
                 / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos")))
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(),
                                             "cent_id")
    ranked = scored_cent.withColumn("rc", F.row_number().over(w))
    qc = pin(_int8_codes_df(spark, sf_dir))  # vec_id, mx, codes
    assign = (ranked.filter(F.col("rc") == 1)
              .select("vec_id", "cent_id")
              .join(qc, "vec_id"))
    probes = (ranked.filter((F.col("rc") <= IVF_NPROBE)
                            & (F.col("vec_id") < 10))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("cent_id").alias("p_cent_id"))
              .join(qc.select(F.col("vec_id").alias("query_id"),
                              F.col("mx").alias("q_mx"),
                              F.col("codes").alias("qcodes")),
                    "query_id"))
    idot = (
        F.broadcast(probes)
        .join(assign, (F.col("cent_id") == F.col("p_cent_id"))
              & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            "q_mx", "mx",
            F.aggregate(F.zip_with("qcodes", "codes",
                                   lambda a, b: a * b),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v).alias("score_int")))
    scored = idot.select(
        "query_id", "neighbor_id", "score_int",
        sim.round6_stable(
            (F.col("score_int").cast("double")
             * (F.col("q_mx") / F.lit(float(INT8_MAX))))
            * (F.col("mx") / F.lit(float(INT8_MAX)))).alias("score6"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score6").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 5)
        .orderBy("query_id", "rn")
    )


# ------------------------------------------- index quality (recall) report


@register(
    "sim_index_recall_report",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    qn AS (SELECT * FROM n WHERE vec_id < 10),
    bs AS (SELECT qn.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round({sim.dot_unrolled_sql('qn.demb', 'c.demb')}
                        / (qn.nrm * c.nrm), 6) AS cosine
           FROM qn JOIN n c ON c.vec_id != qn.vec_id),
    bt AS (SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC,
                                                     neighbor_id) AS rn
               FROM bs) WHERE rn <= 5),
    bb AS (SELECT vec_id, demb, nrm,
                  {sim.lsh_buckets_multi_sql('demb')} AS buckets FROM n),
    x AS MATERIALIZED (
        SELECT vec_id, demb, nrm, i AS tbl, buckets[i + 1] AS bucket
        FROM bb CROSS JOIN
             (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
    lq AS (SELECT * FROM x WHERE vec_id < 10),
    ls AS (SELECT DISTINCT lq.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round({sim.dot_unrolled_sql('lq.demb', 'c.demb')}
                        / (lq.nrm * c.nrm), 6) AS cosine
           FROM lq JOIN x c ON c.tbl = lq.tbl AND c.bucket = lq.bucket
                           AND c.vec_id != lq.vec_id),
    lt AS (SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC,
                                                     neighbor_id) AS rn
               FROM ls) WHERE rn <= 5)
    SELECT bt.query_id, count(*) AS n_exact,
           CAST(sum(CASE WHEN lt.neighbor_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           {sim.round6_stable_sql(
               'sum(CASE WHEN lt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)'
               ' / CAST(count(*) AS DOUBLE)')} AS recall6
    FROM bt LEFT JOIN lt ON lt.query_id = bt.query_id
                        AND lt.neighbor_id = bt.neighbor_id
    GROUP BY bt.query_id ORDER BY bt.query_id
    """,
    tags=("llm", "index-quality"),
)
def q_index_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality report computed IN the engine: per-query recall@5
    of the multi-table LSH index against the exact brute-force cosine
    top-5 — the health metric an ANN deployment monitors continuously
    (recall decay signals drifted data or an undersized index, time to
    retrain/re-bucket). Both pipelines are the already-verified query
    plans (sim_cosine_topk, sim_ann_lsh) joined on (query, neighbor);
    the report is query-cardinality. At 100 TB you run this on a
    sampled query set — the plan shape is unchanged."""
    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(e.select("vec_id", "demb",
                     sim.norm(F.col("demb")).alias("nrm")))
    qn = n.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"))
    bs = (n.crossJoin(F.broadcast(qn))
          .filter(F.col("vec_id") != F.col("query_id"))
          .select("query_id", F.col("vec_id").alias("neighbor_id"),
                  sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                             F.col("q_nrm"), F.col("nrm")).alias("cosine")))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    bt = (bs.withColumn("rn", F.row_number().over(wq))
          .filter(F.col("rn") <= 5).select("query_id", "neighbor_id"))
    x = pin(n.select(
        "vec_id", "demb", "nrm",
        F.posexplode(sim.lsh_buckets_multi(F.col("demb")))
         .alias("tbl", "bucket")))
    lq = x.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("demb").alias("q_demb"),
        F.col("nrm").alias("q_nrm"), F.col("tbl").alias("q_tbl"),
        F.col("bucket").alias("q_bucket"))
    ls = (F.broadcast(lq)
          .join(x, (F.col("tbl") == F.col("q_tbl"))
                & (F.col("bucket") == F.col("q_bucket"))
                & (F.col("vec_id") != F.col("query_id")))
          .select("query_id", F.col("vec_id").alias("neighbor_id"),
                  sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                             F.col("q_nrm"), F.col("nrm")).alias("cosine"))
          .distinct())
    lt = (ls.withColumn("rn", F.row_number().over(wq))
          .filter(F.col("rn") <= 5)
          .select(F.col("query_id").alias("l_query"),
                  F.col("neighbor_id").alias("l_neighbor")))
    joined = bt.join(
        lt, (F.col("query_id") == F.col("l_query"))
        & (F.col("neighbor_id") == F.col("l_neighbor")), "left")
    hit = F.when(F.col("l_neighbor").isNotNull(), 1).otherwise(0)
    return (
        joined.groupBy("query_id")
        .agg(F.count("*").alias("n_exact"),
             F.sum(hit).cast("bigint").alias("n_hit"),
             sim.round6_stable(
                 F.sum(hit) / F.count("*").cast("double")).alias("recall6"))
        .orderBy("query_id")
    )


# --------------------------------------------- PCA via power iteration

PCA_ROUNDS = 3  # power-iteration rounds; error ~ (lambda2/lambda1)^rounds
_DIM = sim.EMBED_DIM


def _pca_v0(dim: int = _DIM) -> list[float]:
    """Pinned start direction: signs from md5 parity, magnitude
    1/sqrt(64) = 0.125 — an exact power of two, so every component is an
    exactly-representable double and round-1 arithmetic is bit-identical
    across engines (same trick as the JL projection weights)."""
    return [0.125 if sim._h32(f"pca0_{d}") % 2 == 0 else -0.125
            for d in range(dim)]


def _qsum_spark(expr) -> F.Column:
    """Exact distributed sum of a per-row double quantized to the 1e-6
    grid: floor(x*1e6+0.5) -> int64 -> order-free integer SUM. The same
    grid the Gram-matrix / logreg / PageRank oracles use — float addition
    order never enters the aggregate."""
    return F.sum(F.floor(expr * F.lit(1e6) + F.lit(0.5)).cast("long"))


def _qsum_duck(expr: str) -> str:
    # outer BIGINT cast: DuckDB sum(BIGINT) is HUGEINT (the r3 lesson)
    return f"CAST(sum(CAST(floor({expr} * 1e6 + 0.5) AS BIGINT)) AS BIGINT)"


def _pca_oracle(dim: int = _DIM, rounds: int = PCA_ROUNDS) -> str:
    """DuckDB replay of the whole training loop: mean -> center ->
    `rounds` x (dot, quantized per-dim sums, normalize) -> final scoring.
    Every v-CTE is MATERIALIZED — referenced once per element access, an
    inlined copy per reference would re-run the corpus aggregation 64x
    (the PageRank-oracle lesson)."""
    idx = range(1, dim + 1)
    ms = ", ".join(_qsum_duck(f"emb[{i}]") for i in idx)
    parts = [f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
    m AS MATERIALIZED (
        SELECT CAST(count(*) AS DOUBLE) AS n, [{ms}] AS ms FROM e),
    ce AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}),
                              i -> e.emb[i] - CAST(m.ms[i] AS DOUBLE) / 1e6 / m.n)
                 AS cemb
        FROM e CROSS JOIN m)"""]
    for r in range(1, rounds + 1):
        if r == 1:
            dt = sim.dot_weights_sql(_pca_v0(dim), "cemb")
            src = "ce"
        else:
            dt = sim.dot_sql("cemb", "vv", dim)
            src = f"ce CROSS JOIN v{r - 1}"
        sv = ", ".join(_qsum_duck(f"dt * cemb[{i}]") for i in idx)
        ssq = "CAST(0.0 AS DOUBLE)"
        for i in idx:
            ssq = f"({ssq} + CAST(sv[{i}] AS DOUBLE) * CAST(sv[{i}] AS DOUBLE))"
        parts.append(f""",
    d{r} AS MATERIALIZED (SELECT vec_id, cemb, {dt} AS dt FROM {src}),
    s{r} AS MATERIALIZED (SELECT [{sv}] AS sv FROM d{r}),
    v{r} AS MATERIALIZED (
        SELECT list_transform(sv, x -> CAST(x AS DOUBLE) / nrm) AS vv
        FROM (SELECT sv, sqrt({ssq}) AS nrm FROM s{r}))""")
    parts.append(f"""
    SELECT vec_id,
           {sim.round6_stable_sql(sim.dot_sql('cemb', 'vv', dim))} AS pc1_score
    FROM ce CROSS JOIN v{rounds} ORDER BY vec_id""")
    return "".join(parts)


@register(
    "embed_pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("llm", "pca", "iterative"),
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: first principal component by power iteration,
    Gram-free — each round computes w = sum_x (x.v) x as ONE pass over the
    corpus (map-side partial aggregation of 64 int64 quantized partials),
    the driver carries only the 64 sums and renormalizes. Output is every
    vector's projection onto the learned component (the 1-D semantic
    coordinate used for diversity binning / coverage plots).

    Scale shape: per round one scan of the cached centered corpus and one
    64-value aggregate — no shuffle wider than the partial-agg combine, no
    driver-side data beyond 64 ints (same skeleton as operators/logreg.py
    training). The quantized grid keeps the distributed float-sum order
    out of the result, so the DuckDB oracle replays the ENTIRE loop —
    mean, centering, all 3 rounds, final scores — value-for-value.
    At 1e9+ rows the 1e-6 grid keeps |sum| < 2^63 for |contrib| <= 1e3;
    rescale the grid with corpus size if vectors are unnormalized."""
    e = pin(spread(table(spark, sf_dir, "embeddings"))
            .select("vec_id", sim.as_double(F.col("embedding")).alias("emb")))
    mr = e.agg(F.count("*").alias("n"),
               *[_qsum_spark(F.element_at("emb", i)).alias(f"s{i}")
                 for i in range(1, _DIM + 1)]).collect()[0]
    n = float(mr["n"])
    mean = [(float(mr[f"s{i}"]) / 1e6) / n for i in range(1, _DIM + 1)]
    mean_arr = F.array(*[F.lit(x) for x in mean])
    ce = pin(e.select(
        "vec_id", F.zip_with("emb", mean_arr, lambda a, b: a - b).alias("cemb")))

    v = _pca_v0()
    for _ in range(PCA_ROUNDS):
        varr = F.array(*[F.lit(x) for x in v])
        row = (ce.select("cemb", sim.dot(F.col("cemb"), varr).alias("dt"))
               .agg(*[_qsum_spark(F.col("dt") * F.element_at("cemb", i))
                      .alias(f"s{i}") for i in range(1, _DIM + 1)])
               .collect()[0])
        sv = [row[f"s{i}"] for i in range(1, _DIM + 1)]
        ss = 0.0
        for s in sv:
            ss = ss + float(s) * float(s)
        nrm = math.sqrt(ss)
        v = [float(s) / nrm for s in sv]

    varr = F.array(*[F.lit(x) for x in v])
    return (ce.select("vec_id",
                      sim.round6_stable(sim.dot(F.col("cemb"), varr))
                      .alias("pc1_score"))
            .orderBy("vec_id"))


# ------------------------------------- PQ quantization distortion report


def _pq_distortion_oracle() -> str:
    from ..operators import kmeans as km
    from ..operators.similarity import PQ_K, PQ_M, PQ_SUB, _l2_expr_sql
    r6 = sim.round6_stable_sql
    errs = []
    for s in range(PQ_M):
        sl = f"list_slice(demb, {s * PQ_SUB + 1}, {(s + 1) * PQ_SUB})"
        dists = (f"list_transform(range(1, {PQ_K + 1}), "
                 f"k -> {_l2_expr_sql(sl, f'cb3[{s + 1}][k]')})")
        errs.append(f"list_min({dists}) AS e{s}")
    qs = ", ".join(
        f"CAST(sum(CAST(floor(e{s} * 1e6 + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS q{s}" for s in range(PQ_M))
    rows = "\n        UNION ALL ".join(
        f"SELECT {s + 1} AS subspace, n AS n_vectors, "
        f"{r6(f'CAST(q{s} AS DOUBLE) / 1e6 / n')} AS mean_distortion6 "
        f"FROM a" for s in range(PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    {km.pq_train_cb_cte_sql()},
    d AS (SELECT vec_id, {', '.join(errs)} FROM e CROSS JOIN cbrow),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n, {qs} FROM d)
    SELECT * FROM ({rows}) ORDER BY subspace
    """


@register(
    "sim_pq_distortion_report",
    oracle=_pq_distortion_oracle(),
    tags=("llm", "ann-pq", "calibration"),
)
def q_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index-quality report: mean squared reconstruction distortion
    per subspace — the number that says whether the trained codebook
    actually fits the data (a subspace whose distortion dwarfs the others
    is under-trained or hides correlated dimensions, and is why OPQ-style
    rotations exist). Read next to sim_ann_pq's recall: distortion is the
    cause, recall the symptom.

    Per vector the distortion IS the assignment distance (min over the 16
    centroids of the subspace L2), so no codes are materialized — one
    scan against the broadcast codebook, per-(vector, subspace) errors
    quantized to an int64 grid, 8 exact sums + a count. The oracle
    replays codebook training CTE-for-CTE like the other PQ queries."""
    from ..operators import kmeans as km
    from ..operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUB,
        _arr_lit,
        _l2_fold_expr,
    )

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    cb = km.train_pq_codebook(e)
    errs = []
    for s in range(PQ_M):
        sl = f"slice(demb, {s * PQ_SUB + 1}, {PQ_SUB})"
        dists = "array(" + ", ".join(
            _l2_fold_expr(sl, _arr_lit(cb[s][c])) for c in range(PQ_K)) + ")"
        errs.append(F.expr(f"array_min({dists})").alias(f"e{s}"))
    d = e.select("vec_id", *errs)
    a = d.agg(
        F.count("*").alias("n"),
        *[F.sum(F.floor(F.col(f"e{s}") * F.lit(1e6) + F.lit(0.5))
                .cast("long")).alias(f"q{s}") for s in range(PQ_M)])
    rows = [
        a.select(F.lit(s + 1).alias("subspace"),
                 F.col("n").alias("n_vectors"),
                 sim.round6_stable(
                     F.expr(f"CAST(q{s} AS DOUBLE) / 1e6 / n"))
                 .alias("mean_distortion6"))
        for s in range(PQ_M)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("subspace")


# ------------------------------------------ IVF nprobe recall sweep

NPROBE_SWEEP = (1, 2, 4, 8)
_SWEEP_NQ = 10  # query vectors (vec_id < 10, matching sim_ann_ivf)


def _nprobe_sweep_oracle() -> str:
    from ..operators import kmeans as km
    nps = ", ".join(str(x) for x in NPROBE_SWEEP)
    maxp = max(NPROBE_SWEEP)
    return f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    {km.ivf_train_cte_sql(IVF_NLIST)},
    cent AS (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
             FROM tcent),
    ranked AS MATERIALIZED (
        SELECT n.vec_id, n.demb, n.nrm, cent.cent_id,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                            / (n.nrm * cent.c_nrm) DESC, cent.cent_id) AS rc
        FROM n CROSS JOIN cent),
    assign AS (SELECT vec_id, demb, nrm, cent_id FROM ranked WHERE rc = 1),
    probes AS (SELECT vec_id AS query_id, demb AS q_demb, nrm AS q_nrm,
                      cent_id, rc AS prc
               FROM ranked WHERE rc <= {maxp} AND vec_id < {_SWEEP_NQ}),
    cand AS MATERIALIZED (
        SELECT p.query_id, p.prc, a.vec_id AS neighbor_id,
               round({sim.dot_sql('p.q_demb', 'a.demb')}
                     / (p.q_nrm * a.nrm), 6) AS cosine
        FROM probes p JOIN assign a
          ON a.cent_id = p.cent_id AND a.vec_id != p.query_id),
    np AS (SELECT unnest([{nps}]) AS nprobe),
    topk AS (SELECT nprobe, query_id, neighbor_id FROM (
                 SELECT np.nprobe, c.query_id, c.neighbor_id,
                        row_number() OVER (
                            PARTITION BY np.nprobe, c.query_id
                            ORDER BY c.cosine DESC, c.neighbor_id) AS rn
                 FROM cand c CROSS JOIN np WHERE c.prc <= np.nprobe)
             WHERE rn <= 5),
    brute AS MATERIALIZED (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({sim.dot_sql('q.demb', 'x.demb')}
                                      / (q.nrm * x.nrm), 6) DESC,
                                x.vec_id) AS rn
            FROM n q JOIN n x ON x.vec_id != q.vec_id
            WHERE q.vec_id < {_SWEEP_NQ})
        WHERE rn <= 5),
    hits AS (SELECT t.nprobe, CAST(count(*) AS BIGINT) AS n_hits
             FROM topk t JOIN brute b USING (query_id, neighbor_id)
             GROUP BY 1),
    qs AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM brute)
    SELECT np.nprobe, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) * 1000000 // (5 * qs.nq) AS recall_ppm
    FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe CROSS JOIN qs
    ORDER BY np.nprobe
    """


@register(
    "sim_ann_nprobe_sweep",
    oracle=_nprobe_sweep_oracle(),
    tags=("llm", "ann-ivf", "calibration"),
)
def q_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cost/recall calibration: recall@5 against brute force at
    nprobe in {1,2,4,8} — the curve that fixes the production probe count
    (each step doubles scan cost for diminishing recall). The ANN
    counterpart of dedup_minhash_threshold_sweep.

    One index build serves every sweep point: candidates carry the PROBE
    RANK of their list, so "nprobe = p" is a filter (prc <= p) over one
    materialized candidate table — the corpus is scanned once for all
    sweep points, and the brute-force reference once. recall_ppm is
    integer arithmetic over exact hit counts."""
    from ..operators import kmeans as km

    maxp = max(NPROBE_SWEEP)
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(e.select("vec_id", "demb", sim.norm(F.col("demb")).alias("nrm")))
    cents = km.train_ivf_centroids(e, IVF_NLIST)
    cent = spark.createDataFrame(
        [(i, cents[i]) for i in range(IVF_NLIST)],
        "cent_id int, c_demb array<double>",
    ).withColumn("c_nrm", sim.norm(F.col("c_demb")))
    w = Window.partitionBy("vec_id").orderBy(
        (sim.dot(F.col("demb"), F.col("c_demb"))
         / (F.col("nrm") * F.col("c_nrm"))).desc(), "cent_id")
    ranked = (n.crossJoin(F.broadcast(cent))
              .withColumn("rc", F.row_number().over(w)))
    assign = ranked.filter(F.col("rc") == 1).select(
        "vec_id", "demb", "nrm", "cent_id")
    probes = (ranked.filter((F.col("rc") <= maxp)
                            & (F.col("vec_id") < _SWEEP_NQ))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("demb").alias("q_demb"),
                      F.col("nrm").alias("q_nrm"),
                      F.col("cent_id").alias("p_cent_id"),
                      F.col("rc").alias("prc")))
    cand = pin(
        F.broadcast(probes)
        .join(assign, (F.col("cent_id") == F.col("p_cent_id"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "prc", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine")))
    wnp = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id")
    topk = (cand.select(
                "*", F.explode(F.array(*[F.lit(p) for p in NPROBE_SWEEP]))
                .alias("nprobe"))
            .filter(F.col("prc") <= F.col("nprobe"))
            .withColumn("rn", F.row_number().over(wnp))
            .filter(F.col("rn") <= 5)
            .select("nprobe", "query_id", "neighbor_id"))
    q = (n.filter(F.col("vec_id") < _SWEEP_NQ)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("demb").alias("q_demb"),
                 F.col("nrm").alias("q_nrm")))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id")
    brute = pin(
        F.broadcast(q)
        .join(n, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 5)
        .select("query_id", "neighbor_id"))
    hits = (topk.join(brute, ["query_id", "neighbor_id"])
            .groupBy("nprobe").agg(F.count("*").alias("n_hits")))
    nps = spark.createDataFrame([(p,) for p in NPROBE_SWEEP], "nprobe int")
    qs = brute.agg(F.count_distinct("query_id").alias("nq"))
    return (nps.join(hits, "nprobe", "left")
            .crossJoin(F.broadcast(qs))
            .select("nprobe",
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
                    F.expr("coalesce(n_hits, 0) * 1000000 div (5 * nq)")
                    .alias("recall_ppm"))
            .orderBy("nprobe"))


# --------------------------------------- per-label centroid drift

DRIFT_Q = 1_000_000  # per-component micro quantization


@register(
    "embed_centroid_drift",
    oracle=f"""
    WITH e AS (SELECT label, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    q AS (SELECT label, i,
                 CAST(floor(demb[i] * {DRIFT_Q} + 0.5) AS BIGINT) AS qv
          FROM e CROSS JOIN (SELECT unnest(range(1, {sim.EMBED_DIM + 1}))
                             AS i) u),
    s AS (SELECT label, i, CAST(sum(qv) AS BIGINT) AS sv,
                 CAST(count(*) AS BIGINT) AS n
          FROM q GROUP BY 1, 2),
    g AS (SELECT label, i, sv, n,
                 CAST(sum(sv) OVER (PARTITION BY i) AS BIGINT) AS gv,
                 CAST(sum(n) OVER (PARTITION BY i) AS BIGINT) AS gn
          FROM s),
    t AS (SELECT label, n,
                 CAST(floor(
                     power((sv / CAST(n AS DOUBLE)
                            - gv / CAST(gn AS DOUBLE)) / {DRIFT_Q}.0, 2)
                     * 1e12 + 0.5) AS BIGINT) AS term_pico
          FROM g)
    SELECT label, n AS n_vecs,
           {sim.round6_stable_sql('sum(term_pico) / 1e12')} AS l2sq_to_global
    FROM t GROUP BY 1, 2 ORDER BY label
    """,
    tags=("llm", "embedding", "drift"),
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift: squared L2 distance between
    each label's centroid and the corpus centroid — the shift/imbalance
    diagnostic run before clustering-based curation (a label far from
    the global mean dominates coarse quantizers and skews IVF lists).

    Determinism: components are int64-quantized per vector BEFORE any
    aggregation, centroids are exact integer-sum ratios, and each dim's
    squared diff is re-quantized to an int64 pico grid before the final
    sum — every value that crosses a shuffle or group is an integer, so
    FP accumulation order cannot flip a bit. (power(x, 2) evaluates as
    x*x exactly for these magnitudes on both engines.)

    Scale shape: ONE wide aggregate with map-side partial sums (64 sum
    expressions grouped by label — no row explosion in the Spark plan;
    the oracle's unnest rendering is semantically identical); the global
    centroid is a window over the |labels| result rows."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", sim.as_double(F.col("embedding")).alias("demb"))
    qcols = [F.floor(F.element_at("demb", i + 1) * DRIFT_Q + F.lit(0.5))
             .cast("bigint").alias(f"q{i}") for i in range(sim.EMBED_DIM)]
    per = (spread(e).select("label", *qcols)
           .groupBy("label")
           .agg(F.count("*").cast("bigint").alias("n"),
                *[F.sum(f"q{i}").cast("bigint").alias(f"s{i}")
                  for i in range(sim.EMBED_DIM)]))
    wall = Window.partitionBy()
    # One projection for all 65 window columns — a withColumn loop would
    # re-analyze the full plan per call (O(dim^2) driver work).
    per = per.select(
        "*",
        *[F.sum(f"s{i}").over(wall).cast("bigint").alias(f"g{i}")
          for i in range(sim.EMBED_DIM)],
        F.sum("n").over(wall).cast("bigint").alias("gn"))
    total = None
    for i in range(sim.EMBED_DIM):
        d = (F.col(f"s{i}") / F.col("n").cast("double")
             - F.col(f"g{i}") / F.col("gn").cast("double")) / float(DRIFT_Q)
        term = F.floor(F.pow(d, F.lit(2)) * F.lit(1e12) + F.lit(0.5)) \
                .cast("bigint")
        total = term if total is None else total + term
    return (per.select("label", F.col("n").alias("n_vecs"),
                       sim.round6_stable(total / F.lit(1e12))
                       .alias("l2sq_to_global"))
            .orderBy("label"))


# --------------------------------------- embedding norm hygiene

NORM_OUTLIER_FACTOR = 2  # ||v||^2 > factor * corpus mean -> outlier


@register(
    "embed_norm_outliers",
    oracle=f"""
    WITH e AS (SELECT label, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT label,
                 CAST(floor({sim.dot_unrolled_sql('demb', 'demb')} * 1e6
                            + 0.5) AS BIGINT) AS nsq_micro
          FROM e),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
                   CAST(sum(nsq_micro) AS BIGINT) AS s_all FROM n)
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           {sim.round6_stable_sql(
               'sum(nsq_micro) / (count(*) * 1e6)')} AS mean_norm_sq,
           CAST(sum(CASE WHEN nsq_micro * tot.n_all
                              > {NORM_OUTLIER_FACTOR} * tot.s_all
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM n CROSS JOIN tot GROUP BY label, tot.n_all, tot.s_all
    ORDER BY label
    """,
    tags=("llm", "embedding", "hygiene"),
)
def q_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm hygiene per label: mean squared norm and the count
    of vectors whose ||v||^2 exceeds {NORM_OUTLIER_FACTOR}x the corpus
    mean — the pre-flight check before cosine/IVF work (zero and huge
    norms are what poison normalized similarity and centroid training).

    Exactness: squared norms are micro-quantized int64 per vector; the
    outlier comparison is the integer cross-multiplication
    nsq * N > factor * S (no division, no doubles), so the cut is
    bit-exact on both engines. One scan + a broadcast 1-row total."""
    e = table(spark, sf_dir, "embeddings").select(
        "label", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(spread(e).select(
        "label",
        F.floor(sim.dot(F.col("demb"), F.col("demb")) * 1e6 + F.lit(0.5))
        .cast("bigint").alias("nsq_micro")))
    tot = n.agg(F.count("*").cast("bigint").alias("n_all"),
                F.sum("nsq_micro").cast("bigint").alias("s_all"))
    return (n.crossJoin(F.broadcast(tot))
            .groupBy("label", "n_all", "s_all")
            .agg(F.count("*").cast("bigint").alias("n_vecs"),
                 F.sum("nsq_micro").cast("bigint").alias("_s"),
                 F.sum(F.when(F.col("nsq_micro") * F.col("n_all")
                              > NORM_OUTLIER_FACTOR * F.col("s_all"), 1)
                       .otherwise(0)).cast("bigint").alias("n_outliers"))
            .select("label", "n_vecs",
                    sim.round6_stable(F.col("_s")
                                      / (F.col("n_vecs") * F.lit(1e6)))
                    .alias("mean_norm_sq"),
                    "n_outliers")
            .orderBy("label"))


# --------------------------------------- Matryoshka prefix-dim recall

MRL_PANEL = 20        # query panel: vec_id < 20 (bounded at any scale)
MRL_PREFIXES = (16, 32)
MRL_TOPK = 5


@register(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    p AS (SELECT a.vec_id AS q, b.vec_id AS c,
          {', '.join(
              sim.round6_stable_sql(
                  sim.dot_sql('a.demb', 'b.demb', dim=L)
                  + f" / greatest({sim.norm_sql('a.demb', dim=L)}"
                  + f" * {sim.norm_sql('b.demb', dim=L)}, 1e-12)")
              + f' AS cos{L}'
              for L in (*MRL_PREFIXES, sim.EMBED_DIM))}
          FROM e a JOIN e b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < {MRL_PANEL}),
    base AS (SELECT q, c FROM (
          SELECT q, c, row_number() OVER (PARTITION BY q
                       ORDER BY cos{sim.EMBED_DIM} DESC, c) AS rk FROM p)
          WHERE rk <= {MRL_TOPK}),
    rec AS (
        {' UNION ALL '.join(f'''
        SELECT {L} AS prefix_len, t.q,
               CAST(count(base.c) AS BIGINT) AS hits
        FROM (SELECT q, c FROM (
              SELECT q, c, row_number() OVER (PARTITION BY q
                           ORDER BY cos{L} DESC, c) AS rk FROM p)
              WHERE rk <= {MRL_TOPK}) t
        LEFT JOIN base ON base.q = t.q AND base.c = t.c
        GROUP BY t.q''' for L in MRL_PREFIXES)}
    )
    SELECT prefix_len, CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(hits) * 1000000 // (count(*) * {MRL_TOPK}) AS BIGINT)
             AS mean_recall_ppm
    FROM rec GROUP BY prefix_len ORDER BY prefix_len
    """,
    tags=("llm", "similarity", "matryoshka"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (truncated-dimension) retrieval evaluation: recall@5 of
    cosine top-k using only the first 16/32 embedding dims against the
    full 64-dim ranking — the measurement that decides how far MRL-style
    prefix truncation can cut ANN memory before recall pays.

    One pair table (bounded query panel x corpus) carries the prefix
    dots as three columns from a single pass — the corpus is scanned
    once, not once per prefix; rankings are windows over the panel
    partitions; recall joins stay on (query, candidate) ids. Prefix
    norms use the same fold order on both engines, so the 6-dp cosine
    ranking ties cannot diverge."""
    e = pin(spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb")))
    q = e.filter(F.col("vec_id") < MRL_PANEL).select(
        F.col("vec_id").alias("q"), F.col("demb").alias("qv"))
    c = e.select(F.col("vec_id").alias("c"), F.col("demb").alias("cv"))
    cols = []
    for L in (*MRL_PREFIXES, sim.EMBED_DIM):
        qs_, cs_ = F.slice("qv", 1, L), F.slice("cv", 1, L)
        cos = sim.round6_stable(
            sim.dot(qs_, cs_)
            / F.greatest(F.sqrt(sim.dot(qs_, qs_))
                         * F.sqrt(sim.dot(cs_, cs_)), F.lit(1e-12)))
        cols.append(cos.alias(f"cos{L}"))
    p = pin(q.join(c, F.col("c") != F.col("q"))
            .select("q", "c", *cols))

    def topk(col: str):
        w = Window.partitionBy("q").orderBy(F.col(col).desc(), "c")
        return (p.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= MRL_TOPK).select("q", "c"))

    # base's key columns are RENAMED before the join: both sides descend
    # from the same pair table p, so joining on same-named attributes
    # would resolve to the identical Column instance and degrade to a
    # trivially-true predicate (Spark warns "Constructing trivially true
    # equals predicate 'q == q'").
    base = topk(f"cos{sim.EMBED_DIM}") \
        .select(F.col("q").alias("bq"), F.col("c").alias("bc"),
                F.lit(1).alias("hit"))
    parts = []
    for L in MRL_PREFIXES:
        t = topk(f"cos{L}")
        rec = (t.join(F.broadcast(base),
                      (F.col("q") == F.col("bq"))
                      & (F.col("c") == F.col("bc")), "left")
               .groupBy("q")
               .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("bigint")
                    .alias("hits"))
               .select(F.lit(L).alias("prefix_len"), "hits"))
        parts.append(rec)
    rec = parts[0]
    for x in parts[1:]:
        rec = rec.unionAll(x)
    return (rec.groupBy("prefix_len")
            .agg(F.count("*").cast("bigint").alias("n_queries"),
                 F.expr(f"sum(hits) * 1000000 div (count(*) * {MRL_TOPK})")
                 .cast("bigint").alias("mean_recall_ppm"))
            .orderBy("prefix_len"))


# ------------------------------------------------ MMR diverse rerank

# Maximal Marginal Relevance (Carbonell & Goldstein): greedy selection
# maximizing lambda*relevance - (1-lambda)*max-similarity-to-selected.
# lambda = 0.7 is applied as integer weights 7/3 on ppm-quantized
# cosines, so the greedy argmax is exact integer comparison on both
# engines (ties break on vec_id).
# Constants live in operators/similarity (a leaf module) so sibling
# query modules can embed the same literals without importing THIS
# module at import time (worker re-import safety; see the note above
# PINNED_QUERY_VEC). Aliased here for this module's queries and tests.
MMR_QUERY = sim.PINNED_QUERY_VEC
MMR_QNORM = sim.PINNED_QUERY_NORM
MMR_CAND = 24   # relevance-pruned rerank pool
MMR_K = 8       # selections

MMR_SCHEMA = StructType([
    StructField("step", LongType()),
    StructField("vec_id", LongType()),
    StructField("rel_ppm", LongType()),
    StructField("mmr_score", LongType()),
])


@register(
    "sim_mmr_diverse_topk",
    oracle=None,  # set below
    tags=("llm", "similarity", "mmr", "rerank"),
)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: score the corpus against a pinned
    query vector, prune to the MMR_CAND most relevant, then greedily
    select MMR_K results maximizing 7*rel_ppm - 3*max_sim_ppm (MMR,
    lambda=0.7 in integer ppm arithmetic). The greedy runs over the
    bounded candidate pool in a single cogrouped applyInPandas — the
    standard retrieve-then-rerank shape, where stage 1 is distributed
    and exact and stage 2 touches only O(CAND^2) integers.

    Scale shape: the relevance scan broadcasts one literal vector and
    never shuffles the corpus; the prune is TakeOrdered (top-CAND);
    pairwise sims exist only among the 24 survivors (a broadcast
    nested-loop over the bounded pool — Catalyst folds the constant
    join key; never a corpus cartesian); the greedy is driver-free and
    engine-exact because every compared quantity is an int64. The
    oracle replays the identical greedy via a recursive CTE carrying
    the selected-id list."""
    import pandas as pd

    e = spread(table(spark, sf_dir, "embeddings"))
    demb = sim.as_double(F.col("embedding"))
    scored = e.select(
        "vec_id", demb.alias("demb"),
        sim.norm(demb).alias("nrm"),
        F.floor(
            (sim.dot(sim.plane_lit(MMR_QUERY), demb)
             / (F.lit(MMR_QNORM) * sim.norm(demb)))
            * F.lit(1e6) + F.lit(0.5)).cast("long").alias("rel_ppm"))
    cand = pin(scored.orderBy(F.col("rel_ppm").desc(), "vec_id")
               .limit(MMR_CAND))
    a = cand.select(F.lit(1).alias("g"), F.col("vec_id").alias("va"),
                    F.col("demb").alias("da"), F.col("nrm").alias("na"))
    b = cand.select(F.lit(1).alias("g"), F.col("vec_id").alias("vb"),
                    F.col("demb").alias("db"), F.col("nrm").alias("nb"))
    pairs = (a.join(b, "g")
             .filter(F.col("va") != F.col("vb"))
             .select(
                 F.lit(1).alias("g"), "va", "vb",
                 F.floor(
                     (sim.dot(F.col("da"), F.col("db"))
                      / (F.col("na") * F.col("nb")))
                     * F.lit(1e6) + F.lit(0.5)).cast("long")
                 .alias("sim_ppm")))
    cg = cand.select(F.lit(1).alias("g"), "vec_id", "rel_ppm")

    def greedy(cand_pdf: pd.DataFrame, pair_pdf: pd.DataFrame) -> pd.DataFrame:
        rel = {int(v): int(r)
               for v, r in zip(cand_pdf["vec_id"], cand_pdf["rel_ppm"])}
        sm = {(int(x), int(y)): int(s)
              for x, y, s in zip(pair_pdf["va"], pair_pdf["vb"],
                                 pair_pdf["sim_ppm"])}
        selected: list[int] = []
        rows = []
        for step in range(1, min(MMR_K, len(rel)) + 1):
            best = None
            for u in sorted(rel):
                if u in selected:
                    continue
                mx = max((sm[(u, s)] for s in selected), default=0)
                score = 7 * rel[u] - 3 * mx
                if best is None or score > best[0]:
                    best = (score, u)
            selected.append(best[1])
            rows.append((step, best[1], rel[best[1]], best[0]))
        return pd.DataFrame(rows, columns=[f.name for f in MMR_SCHEMA.fields])

    return (cg.groupBy("g")
            .cogroup(pairs.groupBy("g"))
            .applyInPandas(lambda lk, rk: greedy(lk, rk), MMR_SCHEMA)
            .orderBy("step"))


def _mmr_oracle() -> str:
    qdot = sim.dot_weights_sql(MMR_QUERY, "demb")
    vnorm = f"sqrt({sim.dot_sql('demb', 'demb')})"
    return f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
          FROM embeddings),
    scored AS (
        SELECT vec_id, demb, {vnorm} AS nrm,
               CAST(floor(
                   ({qdot} / (CAST('{MMR_QNORM!r}' AS DOUBLE) * {vnorm}))
                   * 1e6 + 0.5) AS BIGINT) AS rel_ppm
        FROM e),
    cand AS (SELECT vec_id, demb, nrm, rel_ppm FROM scored
             ORDER BY rel_ppm DESC, vec_id LIMIT {MMR_CAND}),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(floor(
                   ({sim.dot_sql('a.demb', 'b.demb')} / (a.nrm * b.nrm))
                   * 1e6 + 0.5) AS BIGINT) AS sim_ppm
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    sel(step, vec_id, rel_ppm, mmr_score, ids) AS (
        (SELECT 1, vec_id, rel_ppm, 7 * rel_ppm, [vec_id] FROM cand
         ORDER BY rel_ppm DESC, vec_id LIMIT 1)
        UNION ALL
        (SELECT s.step + 1, nxt.vec_id, nxt.rel_ppm, nxt.score,
                list_append(s.ids, nxt.vec_id)
         FROM sel s, LATERAL (
            SELECT c.vec_id, c.rel_ppm,
                   7 * c.rel_ppm - 3 * max(p.sim_ppm) AS score
            FROM cand c JOIN pairs p
              ON p.va = c.vec_id AND list_contains(s.ids, p.vb)
            WHERE NOT list_contains(s.ids, c.vec_id)
            GROUP BY c.vec_id, c.rel_ppm
            ORDER BY score DESC, c.vec_id LIMIT 1) nxt
         WHERE s.step < {MMR_K}))
    SELECT CAST(step AS BIGINT) AS step, CAST(vec_id AS BIGINT) AS vec_id,
           CAST(rel_ppm AS BIGINT) AS rel_ppm,
           CAST(mmr_score AS BIGINT) AS mmr_score
    FROM sel ORDER BY step
    """


REGISTRY["sim_mmr_diverse_topk"].oracle = _mmr_oracle()


# ------------------------------------------ reciprocal-rank fusion

# Hybrid retrieval: fuse a sparse (BM25) and a dense (cosine) ranking
# with Reciprocal Rank Fusion (Cormack et al.): score(d) = sum over
# rankers of 1/(K + rank_d). The 1/(K+r) terms are integer-quantized
# (1e9 // (K + r)) so fusion scores and the final ordering are exact
# int64 arithmetic on both engines.
RRF_K = 60        # the canonical RRF constant
RRF_TOPK = 10     # fused results returned
RRF_POOL = 20     # per-ranker pool (== text.BM25_TOPK)


@register(
    "sim_rrf_fusion",
    oracle=None,  # set below
    tags=("llm", "retrieval", "hybrid", "rrf"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-20 (text_bm25_topk's pinned term query) fused
    with dense cosine top-20 (sim_mmr_diverse_topk's pinned query vector, doc_id
    aligned with vec_id as in the other cross-modal queries) via
    Reciprocal Rank Fusion — the standard zero-tuning combiner behind
    production hybrid retrieval. A doc absent from one pool contributes
    0 from that ranker.

    Scale shape: each ranker is its own already-audited pipeline
    (term-pruned postings + TakeOrdered for BM25; broadcast query
    vector + TakeOrdered for dense); fusion touches only the two
    bounded top-K pools (full outer join of 20-row sides), so the
    combiner adds no corpus-scale work at any data size. The rank
    windows over the pools order <= 20 rows each."""

    MMR_QUERY, MMR_QNORM = sim.PINNED_QUERY_VEC, sim.PINNED_QUERY_NORM
    bm25 = (REGISTRY["text_bm25_topk"].fn.__wrapped__(spark, sf_dir)
            .select(F.col("doc_id"), F.col("rank").alias("rank_bm25")))
    e = spread(table(spark, sf_dir, "embeddings"))
    demb = sim.as_double(F.col("embedding"))
    scored = e.select(
        F.col("vec_id").alias("doc_id"),
        F.floor(
            (sim.dot(sim.plane_lit(MMR_QUERY), demb)
             / (F.lit(MMR_QNORM) * sim.norm(demb)))
            * F.lit(1e6) + F.lit(0.5)).cast("long").alias("rel_ppm"))
    top = scored.orderBy(F.col("rel_ppm").desc(), "doc_id").limit(RRF_POOL)
    # rank window over the bounded 20-row pool (not the corpus)
    dense = top.select(
        "doc_id",
        F.row_number().over(
            Window.orderBy(F.col("rel_ppm").desc(), "doc_id"))
        .cast("bigint").alias("rank_dense"))
    fused = (bm25.join(dense, "doc_id", "full_outer")
             .select(
                 "doc_id",
                 F.coalesce("rank_bm25", F.lit(0)).cast("bigint")
                 .alias("rank_bm25"),
                 F.coalesce("rank_dense", F.lit(0)).cast("bigint")
                 .alias("rank_dense"),
                 (F.when(F.col("rank_bm25").isNotNull(),
                         F.expr(f"1000000000 div ({RRF_K} + rank_bm25)"))
                  .otherwise(F.lit(0))
                  + F.when(F.col("rank_dense").isNotNull(),
                           F.expr(f"1000000000 div ({RRF_K} + rank_dense)"))
                  .otherwise(F.lit(0))).cast("bigint").alias("rrf_score")))
    if BM25_TOPK != RRF_POOL:  # pools must stay aligned with text.BM25_TOPK
        raise ValueError(f"RRF_POOL {RRF_POOL} != BM25_TOPK {BM25_TOPK}")
    return (fused.orderBy(F.col("rrf_score").desc(), "doc_id")
            .limit(RRF_TOPK).orderBy(F.col("rrf_score").desc(), "doc_id"))


def _rrf_oracle() -> str:
    # Sibling value imports are safe since the registration chain moved
    # to the package __init__ (every entry point completes the chain
    # top-down — registry._populate's note); the pinned query vector
    # still lives in operators/similarity as leaf-module hygiene.
    from ..functions.text import TOKEN_RE
    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    qdot = sim.dot_weights_sql(sim.PINNED_QUERY_VEC, "demb")
    vnorm = f"sqrt({sim.dot_sql('demb', 'demb')})"
    return f"""
    WITH d AS (SELECT doc_id, {toks} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM d),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
           WHERE tok IN ({', '.join(f"'{t}'" for t in BM25_TERMS)})
           GROUP BY 1, 2),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc_id,
               CAST(floor(
                   ln((stats.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                   * (tf.tf * ({BM25_K1} + 1)) /
                     (tf.tf + {BM25_K1} * (1 - {BM25_B}
                        + {BM25_B} * dl.dl * stats.n_docs
                          / CAST(stats.sum_dl AS DOUBLE)))
                   * 1e6 + 0.5) AS BIGINT) AS term_ppm
        FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id)
                CROSS JOIN stats),
    agg AS (SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS bm25_ppm
            FROM scored GROUP BY 1),
    bm25 AS (SELECT doc_id,
                    CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id)
                         AS BIGINT) AS rank_bm25
             FROM agg ORDER BY bm25_ppm DESC, doc_id LIMIT {BM25_TOPK}),
    emb AS (SELECT vec_id AS doc_id,
                   {sim.as_double_sql('embedding')} AS demb
            FROM embeddings),
    rel AS (SELECT doc_id,
                   CAST(floor(({qdot}
                        / (CAST('{sim.PINNED_QUERY_NORM!r}' AS DOUBLE) * {vnorm}))
                        * 1e6 + 0.5) AS BIGINT) AS rel_ppm
            FROM emb),
    pool AS (SELECT doc_id, rel_ppm FROM rel
             ORDER BY rel_ppm DESC, doc_id LIMIT {RRF_POOL}),
    dense AS (SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY rel_ppm DESC, doc_id)
                          AS BIGINT) AS rank_dense
              FROM pool),
    fused AS (
        SELECT coalesce(b.doc_id, s.doc_id) AS doc_id,
               CAST(coalesce(b.rank_bm25, 0) AS BIGINT) AS rank_bm25,
               CAST(coalesce(s.rank_dense, 0) AS BIGINT) AS rank_dense,
               CAST(CASE WHEN b.rank_bm25 IS NOT NULL
                         THEN 1000000000 // ({RRF_K} + b.rank_bm25)
                         ELSE 0 END
                    + CASE WHEN s.rank_dense IS NOT NULL
                           THEN 1000000000 // ({RRF_K} + s.rank_dense)
                           ELSE 0 END AS BIGINT) AS rrf_score
        FROM bm25 b FULL OUTER JOIN dense s ON s.doc_id = b.doc_id)
    SELECT doc_id, rank_bm25, rank_dense, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOPK}
    """


REGISTRY["sim_rrf_fusion"].oracle = _rrf_oracle()


# --------------------------------------- cross-modal retrieval recall

# Text-query -> image-doc retrieval evaluation in an aligned embedding
# space (the CLIP-style setup; the embeddings table plays the encoded
# image side, and the pinned query vectors play text-encoder outputs —
# same alignment framing as sim_rrf_fusion / sim_mmr_diverse_topk).
# For each query: exact cosine top-K, multi-table sign-LSH candidate
# retrieval re-ranked by the same exact cosine, and recall@K of the
# ANN set against the exact set. Query buckets and norms are computed
# at Python build time with the engines' exact left-fold order and
# embedded as LITERALS in both plans, so no query-side arithmetic runs
# in-engine at all; doc-side buckets use the audited
# lsh_buckets_multi / lsh_buckets_multi_sql pair.
XM_NQ = 6       # pinned query panel size
XM_TOPK = 10    # recall@K


def _pinned_qvec(q: int) -> list[float]:
    return [((sim._h32(f"xmodal_q{q}_{d}") % 2001) - 1000) / 1000.0
            for d in range(sim.EMBED_DIM)]


def _fold_norm(v: list[float]) -> float:
    acc = 0.0
    for w in v:
        acc = acc + w * w
    return math.sqrt(acc)


def _fold_dot(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _qbuckets(v: list[float]) -> list[int]:
    planes = sim.hyperplanes(sim.LSH_TABLES * sim.LSH_PLANES)
    out = []
    for t in range(sim.LSH_TABLES):
        b = 0
        for p in range(sim.LSH_PLANES):
            if _fold_dot(planes[t * sim.LSH_PLANES + p], v) >= 0.0:
                b += 1 << p
        out.append(b)
    return out


XM_QVECS = [_pinned_qvec(q) for q in range(XM_NQ)]
XM_QNORMS = [_fold_norm(v) for v in XM_QVECS]
XM_QBUCKETS = [_qbuckets(v) for v in XM_QVECS]


@register(
    "sim_crossmodal_recall",
    oracle=None,  # set below
    tags=("llm", "similarity", "crossmodal", "recall"),
)
def q_crossmodal_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal retrieval eval: for each of XM_NQ pinned text-side
    queries against the image-side embedding corpus, recall@K of
    multi-table LSH-bucketed ANN (collision in ANY of LSH_TABLES
    tables, re-ranked by exact cosine) versus the exact cosine top-K,
    plus the candidate-set size — the per-query recall/cost report an
    index-sizing decision reads.

    Scale shape: the corpus scans ONCE (buckets + norm computed per
    row, then the bounded query panel explodes against it); ranking is
    the scalable two-phase top-K — per-(query, input-partition) rank
    first (Q x P parallel keys, never Q-partition skew), then a global
    rank over the surviving Q x P x K rows. Everything that shuffles is
    (int, int) rows; the recall join touches only two Q x K sets.
    Cosine is ppm-quantized before ranking (ties broken on vec_id), so
    both rankings are exact-integer on both engines."""
    e = spread(table(spark, sf_dir, "embeddings"))
    base = pin(
        e.select("vec_id", sim.as_double(F.col("embedding")).alias("demb"))
        .select("vec_id", "demb",
                sim.lsh_buckets_multi(F.col("demb")).alias("bks"),
                sim.norm(F.col("demb")).alias("nrm")))
    panel = F.explode(F.array(*[
        F.struct(
            F.lit(q).cast("bigint").alias("query_id"),
            sim.plane_lit(XM_QVECS[q]).alias("qvec"),
            F.lit(XM_QNORMS[q]).alias("qnorm"),
            F.array(*[F.lit(b) for b in XM_QBUCKETS[q]]).alias("qb"))
        for q in range(XM_NQ)]))
    cand_cond = None
    for t in range(sim.LSH_TABLES):
        c = (F.element_at("bks", t + 1) == F.element_at(F.col("p.qb"), t + 1))
        cand_cond = c if cand_cond is None else (cand_cond | c)
    scored = pin(
        base.select("vec_id", "demb", "bks", "nrm", panel.alias("p"))
        .select("vec_id",
                F.col("p.query_id").alias("query_id"),
                F.floor((sim.dot(F.col("p.qvec"), F.col("demb"))
                         / (F.col("p.qnorm") * F.col("nrm")))
                        * F.lit(1e6) + F.lit(0.5)).cast("long")
                .alias("rel_ppm"),
                cand_cond.alias("cand")))

    def topk(df: DataFrame) -> DataFrame:
        w1 = (Window.partitionBy("query_id", "pid")
              .orderBy(F.col("rel_ppm").desc(), "vec_id"))
        w2 = (Window.partitionBy("query_id")
              .orderBy(F.col("rel_ppm").desc(), "vec_id"))
        return (df.withColumn("pid", F.spark_partition_id())
                .withColumn("r1", F.row_number().over(w1))
                .filter(F.col("r1") <= XM_TOPK)
                .withColumn("rnk", F.row_number().over(w2))
                .filter(F.col("rnk") <= XM_TOPK)
                .select("query_id", "vec_id"))

    exact = topk(scored)
    ann = topk(scored.filter(F.col("cand")))
    nc = (scored.filter(F.col("cand")).groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_candidates")))
    hits = (exact.join(ann, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    qs = spark.range(XM_NQ).select(F.col("id").alias("query_id"))
    return (qs.join(nc, "query_id", "left").join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_candidates", F.lit(0)).cast("bigint")
                    .alias("n_candidates"),
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {XM_TOPK} as bigint)").alias("recall_ppm"))
            .orderBy("query_id"))


def _crossmodal_oracle() -> str:
    per_query = []
    for q in range(XM_NQ):
        cand = " OR ".join(
            f"bks[{t + 1}] = {XM_QBUCKETS[q][t]}"
            for t in range(sim.LSH_TABLES))
        per_query.append(f"""
        SELECT CAST({q} AS BIGINT) AS query_id, vec_id,
               CAST(floor(({sim.dot_weights_sql(XM_QVECS[q], 'demb')}
                    / (CAST('{XM_QNORMS[q]!r}' AS DOUBLE) * nrm))
                    * 1e6 + 0.5) AS BIGINT) AS rel_ppm,
               ({cand}) AS cand
        FROM base""")
    union = "\n        UNION ALL".join(per_query)
    return f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    base AS MATERIALIZED (
        SELECT vec_id, demb,
               {sim.lsh_buckets_multi_sql('demb')} AS bks,
               sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM e),
    scored AS MATERIALIZED ({union}),
    exact AS (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel_ppm DESC, vec_id)
                       AS rnk
              FROM scored QUALIFY rnk <= {XM_TOPK}),
    ann AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel_ppm DESC, vec_id) AS rnk
            FROM scored WHERE cand QUALIFY rnk <= {XM_TOPK}),
    nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_candidates
           FROM scored WHERE cand GROUP BY 1),
    hits AS (SELECT e2.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM exact e2 JOIN ann a
               ON a.query_id = e2.query_id AND a.vec_id = e2.vec_id
             GROUP BY 1),
    qs AS (SELECT CAST(unnest(range(0, {XM_NQ})) AS BIGINT) AS query_id)
    SELECT qs.query_id,
           CAST(coalesce(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {XM_TOPK} AS BIGINT)
             AS recall_ppm
    FROM qs LEFT JOIN nc USING (query_id) LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """

REGISTRY["sim_crossmodal_recall"].oracle = _crossmodal_oracle()


# ------------------------------- mutual nearest-neighbor alignment


# The bitext-mining / cross-corpus alignment primitive: a pair (a, b)
# is a MUTUAL nearest neighbor when a's best match is b AND b's best
# match is a — the reciprocal-best-match filter that kills the hubness
# false positives a one-directional top-1 keeps (a hub vector is
# "best" for many queries, but the hub's own best points elsewhere,
# so the mutuality test rejects those pairs). Built entirely on the
# already-certified approximate kNN graph (LSH-bucketed candidates,
# never all-pairs): mutual pairs are the rn=1 edge set self-joined on
# its own reversal — two id-keyed joins over k-bounded rows.


@register(
    "sim_mutual_nn_pairs",
    oracle=f"""
    {_KNN_CTE},
    best AS (SELECT src, dst, cosine FROM knn WHERE rn = 1),
    mutual AS (SELECT a.src AS vec_a, a.dst AS vec_b, a.cosine
               FROM best a JOIN best b
                 ON b.src = a.dst AND b.dst = a.src
               WHERE a.src < a.dst)
    SELECT m.vec_a, m.vec_b, m.cosine,
           la.label AS label_a, lb.label AS label_b,
           la.label = lb.label AS same_label
    FROM mutual m
    JOIN embeddings la ON la.vec_id = m.vec_a
    JOIN embeddings lb ON lb.vec_id = m.vec_b
    ORDER BY vec_a
    """,
    tags=("llm", "similarity", "alignment", "mutual-nn"),
)
def q_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs over the embedding corpus (module
    comment above): one row per reciprocal-best-match pair with the
    cosine and both sides' labels — same_label is the alignment-quality
    signal (a planted-cluster corpus should pair within clusters).

    Scale shape: candidates come from the certified multi-table LSH
    bucket join (_knn_graph_df — shuffles carry bucket/pair ids, the
    pairwise work is bucket-bounded); the mutuality test is the rn=1
    edge set (|V| rows) joined once on its own reversal, and the label
    decoration is two id-keyed joins that never move the vectors."""
    g = _knn_graph_df(spark, sf_dir)
    best = pin(g.filter(F.col("rn") == 1).select("src", "dst", "cosine"))
    rev = best.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    mutual = (best.join(rev, ["src", "dst"])
              .filter(F.col("src") < F.col("dst"))
              .select(F.col("src").alias("vec_a"),
                      F.col("dst").alias("vec_b"), "cosine"))
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = emb.select(F.col("vec_id").alias("vec_a"),
                    F.col("label").alias("label_a"))
    lb = emb.select(F.col("vec_id").alias("vec_b"),
                    F.col("label").alias("label_b"))
    return (mutual.join(la, "vec_a").join(lb, "vec_b")
            .select("vec_a", "vec_b", "cosine", "label_a", "label_b",
                    (F.col("label_a") == F.col("label_b"))
                    .alias("same_label"))
            .orderBy("vec_a"))


# --------------------------------- hard-negative mining (contrastive)

# Contrastive/embedding training needs NEGATIVE pairs, and random
# negatives are too easy — the gradient signal comes from HARD
# negatives: different-label vectors that the current embedding space
# nevertheless places close. The LSH-bucket structure that blocks the
# kNN build IS the hard-negative sieve: a different-label vector
# sharing any of the 8 sign-projection buckets is, by construction,
# one the space confuses. This operator emits the top-HN_K hardest
# (highest-cosine) different-label candidates per anchor — the mining
# pass a contrastive fine-tune consumes — using the same bucket
# candidates, exact cosine verify, and per-anchor k-bounded window as
# the certified kNN builder, with one label-inequality filter before
# the ranking.
HN_K = 3  # hardest negatives kept per anchor


def _hard_negatives_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, {sim.as_double_sql('embedding')}
                          AS demb
               FROM embeddings),
    n AS (SELECT vec_id, label, demb, {sim.norm_sql('demb')} AS nrm
          FROM e),
    b AS (SELECT vec_id, {sim.lsh_buckets_multi_sql('demb')} AS buckets
          FROM n),
    x AS (SELECT vec_id, i AS tbl, buckets[i + 1] AS bucket
          FROM b CROSS JOIN
               (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
    cand AS (SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
             FROM x a JOIN x c ON c.tbl = a.tbl AND c.bucket = a.bucket
                              AND a.vec_id < c.vec_id),
    sc AS MATERIALIZED (
        SELECT cand.va, cand.vb,
               round({sim.dot_unrolled_sql('na.demb', 'nb.demb')}
                     / (na.nrm * nb.nrm), 6) AS cosine
        FROM cand JOIN n na ON na.vec_id = cand.va
                  JOIN n nb ON nb.vec_id = cand.vb
        WHERE na.label <> nb.label),
    dir AS (SELECT va AS anchor, vb AS negative, cosine FROM sc
            UNION ALL
            SELECT vb AS anchor, va AS negative, cosine FROM sc),
    ranked AS (SELECT anchor, negative, cosine,
                      row_number() OVER (PARTITION BY anchor
                                         ORDER BY cosine DESC, negative)
                          AS rk
               FROM dir)
    SELECT r.anchor, r.rk, r.negative, r.cosine,
           la.label AS anchor_label, lb.label AS negative_label
    FROM ranked r
    JOIN embeddings la ON la.vec_id = r.anchor
    JOIN embeddings lb ON lb.vec_id = r.negative
    WHERE r.rk <= {HN_K}
    ORDER BY anchor, rk
    """


@register(
    "sim_hard_negatives",
    oracle=_hard_negatives_oracle(),
    tags=("llm", "similarity", "contrastive", "hard-negatives"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (module comment
    above): up to {HN_K} highest-cosine different-label candidates per
    anchor from the LSH-bucket sieve, with both labels decorated.

    Scale shape: identical to the certified kNN builder — bucket
    shuffles carry (table, bucket, vec_id), the pairwise cosine work
    is bucket-bounded and computed once per undirected pair, the
    label-inequality filter cuts candidates BEFORE the per-anchor
    window, and that window is k-bounded. The label decoration joins
    prune the embedding column."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(e.select("vec_id", "label", "demb",
                     sim.norm(F.col("demb")).alias("nrm")))
    x = pin(n.select(
        "vec_id",
        F.posexplode(sim.lsh_buckets_multi(F.col("demb")))
         .alias("tbl", "bucket")).select("vec_id", "tbl", "bucket"))
    a = x.select(F.col("vec_id").alias("va"), "tbl", "bucket")
    c = x.select(F.col("vec_id").alias("vb"), "tbl", "bucket")
    cand = (a.join(c, ["tbl", "bucket"])
            .filter(F.col("va") < F.col("vb"))
            .select("va", "vb").distinct())
    na = n.select(F.col("vec_id").alias("va"),
                  F.col("label").alias("label_a"),
                  F.col("demb").alias("demb_a"), F.col("nrm").alias("nrm_a"))
    nb = n.select(F.col("vec_id").alias("vb"),
                  F.col("label").alias("label_b"),
                  F.col("demb").alias("demb_b"), F.col("nrm").alias("nrm_b"))
    sc = (cand.join(na, "va").join(nb, "vb")
          .filter(F.col("label_a") != F.col("label_b"))
          .select("va", "vb",
                  sim.cosine(sim.dot(F.col("demb_a"), F.col("demb_b")),
                             F.col("nrm_a"), F.col("nrm_b"))
                     .alias("cosine")))
    directed = (
        sc.select(F.col("va").alias("anchor"),
                  F.col("vb").alias("negative"), "cosine")
        .unionAll(sc.select(F.col("vb").alias("anchor"),
                            F.col("va").alias("negative"), "cosine")))
    w = W.partitionBy("anchor").orderBy(F.col("cosine").desc(), "negative")
    ranked = (directed.withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= HN_K))
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = lab.select(F.col("vec_id").alias("anchor"),
                    F.col("label").alias("anchor_label"))
    lb = lab.select(F.col("vec_id").alias("negative"),
                    F.col("label").alias("negative_label"))
    return (ranked.join(la, "anchor").join(lb, "negative")
            .select("anchor", "rk", "negative", "cosine",
                    "anchor_label", "negative_label")
            .orderBy("anchor", "rk"))


# Per-rank DCG discounts 1/log2(rank+1), Python-computed once and
# injected as LITERALS on both engines (see module comment).
_DISCOUNTS = ((1, 1.0), (2, 0.6309297535714575), (3, 0.5),
              (4, 0.43067655807339306), (5, 0.38685280723454163))
assert len(_DISCOUNTS) == IVR_TOPK


def _rank_quality_oracle() -> str:
    disc_rows = ", ".join(f"({r}, {d!r})" for r, d in _DISCOUNTS)
    return _ivf_base_ctes_sql() + f""",
    disc(rnk, d) AS (SELECT * FROM (VALUES {disc_rows})),
    qv AS (SELECT vec_id AS query_id, demb AS q_demb, nrm AS q_nrm
           FROM n WHERE vec_id < {IVR_NQ}),
    prb AS (SELECT query_id, cent_id FROM (
                SELECT q.query_id, c.cent_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_ppm_rank_sql(
                               sim.dot_sql('q.q_demb', 'c.c_demb'),
                               'q.q_nrm * c.c_nrm')} DESC,
                           c.cent_id) AS r
                FROM qv q CROSS JOIN cent c)
             WHERE r <= {IVR_NPROBE}),
    ann AS MATERIALIZED (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY round({sim.dot_sql('q.q_demb', 'a.demb')}
                                      / (q.q_nrm * a.nrm), 6) DESC,
                                a.vec_id) AS rn
            FROM prb p JOIN qv q ON q.query_id = p.query_id
                 JOIN asg a ON a.cent_id = p.cent_id
                           AND a.vec_id != p.query_id)
        WHERE rn <= {IVR_TOPK}),
    brute AS MATERIALIZED (
        SELECT query_id, neighbor_id, bn FROM (
            SELECT q.query_id, x.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round({sim.dot_sql('q.q_demb', 'x.demb')}
                                      / (q.q_nrm * x.nrm), 6) DESC,
                                x.vec_id) AS rn
            FROM qv q JOIN n x ON x.vec_id != q.query_id) t(query_id,
                                                            neighbor_id,
                                                            bn)
        WHERE bn <= {IVR_TOPK}),
    terms AS (SELECT a.query_id,
                     CAST(a.rn AS BIGINT) AS rn, b.bn,
                     CAST(floor(coalesce({IVR_TOPK} + 1 - b.bn, 0)
                                * disc.d * 1e6 + 0.5) AS BIGINT)
                         AS term
              FROM ann a
              LEFT JOIN brute b ON b.query_id = a.query_id
                               AND b.neighbor_id = a.neighbor_id
              JOIN disc ON disc.rnk = a.rn),
    dcg AS (SELECT query_id,
                   CAST(sum(term) AS BIGINT) AS dcg_i,
                   CAST(sum(CAST(bn IS NOT NULL AS BIGINT)) AS BIGINT)
                       AS ann_hits,
                   CAST(coalesce(min(CASE WHEN bn = 1 THEN rn END), 0)
                        AS BIGINT) AS true_nn_rank
            FROM terms GROUP BY query_id),
    idcg AS (SELECT b.query_id,
                    CAST(sum(CAST(floor(({IVR_TOPK} + 1 - b.bn)
                                        * disc.d * 1e6 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS idcg_i
             FROM brute b JOIN disc ON disc.rnk = b.bn
             GROUP BY b.query_id)
    SELECT q.query_id,
           coalesce(d.ann_hits, 0) AS ann_hits,
           coalesce(d.true_nn_rank, 0) AS true_nn_rank,
           CASE WHEN coalesce(d.true_nn_rank, 0) > 0
                THEN {_PPM} // d.true_nn_rank
                ELSE CAST(0 AS BIGINT) END AS mrr_ppm,
           CASE WHEN coalesce(i.idcg_i, 0) > 0
                THEN coalesce(d.dcg_i, 0) * {_PPM} // i.idcg_i
                ELSE CAST(0 AS BIGINT) END AS ndcg_ppm
    FROM qv q
    LEFT JOIN dcg d ON d.query_id = q.query_id
    LEFT JOIN idcg i ON i.query_id = q.query_id
    ORDER BY q.query_id
    """


@register(
    "sim_eval_rank_quality",
    oracle=None,  # set below (renders the shared training CTEs)
    tags=("llm", "ann-ivf", "evaluation"),
)
def q_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query rank-sensitive retrieval quality of the IVF index vs
    brute truth (module comment above): one row per panel query with
    hits@{IVR_TOPK}, the true nearest neighbor's rank in the ANN list
    (0 = missed), MRR and nDCG@{IVR_TOPK} in ppm.

    Scale shape: the audited shared assignment (one corpus scan,
    pinned) feeds both the probed candidates (list-id-keyed join,
    broadcast {IVR_NQ}-query panel) and the brute reference (broadcast
    panel against the pinned corpus — the eval cost is one pass, and
    on a real corpus the panel is a sample, not every query); metric
    layers join K-bounded rank rows only. Determinism: discount
    literals shared across engines, integer-quantized DCG terms,
    integer-division ppm."""
    n, cent, asg, sz, tot, ld = _ivf_base_frames(spark, sf_dir)
    disc = spark.createDataFrame(list(_DISCOUNTS), "rnk int, d double")
    qv = (n.filter(F.col("vec_id") < IVR_NQ)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("demb").alias("q_demb"),
                  F.col("nrm").alias("q_nrm")))
    wp = Window.partitionBy("query_id").orderBy(
        F.col("qppm").desc(), "cent_id")
    prb = (qv.crossJoin(F.broadcast(cent))
           .select("query_id", "q_demb", "q_nrm", "cent_id",
                   _ppm_rank_col(
                       sim.dot(F.col("q_demb"), F.col("c_demb")),
                       F.col("q_nrm") * F.col("c_nrm")).alias("qppm"))
           .withColumn("r", F.row_number().over(wp))
           .filter(F.col("r") <= IVR_NPROBE)
           .select("query_id", "q_demb", "q_nrm", "cent_id"))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id")
    ann = pin(
        F.broadcast(prb)
        .join(asg.withColumnRenamed("cent_id", "a_cent"),
              (F.col("a_cent") == F.col("cent_id"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= IVR_TOPK)
        .select("query_id", "neighbor_id",
                F.col("rn").cast("long").alias("rn")))
    brute = pin(
        F.broadcast(qv)
        .join(n, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                sim.cosine(sim.dot(F.col("q_demb"), F.col("demb")),
                           F.col("q_nrm"), F.col("nrm")).alias("cosine"))
        .withColumn("bn", F.row_number().over(wr))
        .filter(F.col("bn") <= IVR_TOPK)
        .select("query_id", "neighbor_id",
                F.col("bn").cast("long").alias("bn")))
    terms = (ann
             .join(brute, ["query_id", "neighbor_id"], "left")
             .join(F.broadcast(disc), ann["rn"] == disc["rnk"])
             .select("query_id", "rn", "bn",
                     F.floor(F.coalesce(F.lit(IVR_TOPK + 1) - F.col("bn"),
                                        F.lit(0))
                             * F.col("d") * F.lit(1e6) + F.lit(0.5))
                     .cast("long").alias("term")))
    dcg = (terms.groupBy("query_id")
           .agg(F.sum("term").cast("long").alias("dcg_i"),
                F.sum(F.col("bn").isNotNull().cast("long"))
                .cast("long").alias("ann_hits"),
                F.coalesce(
                    F.min(F.when(F.col("bn") == 1, F.col("rn"))),
                    F.lit(0)).cast("long").alias("true_nn_rank")))
    idcg = (brute.join(F.broadcast(disc), brute["bn"] == disc["rnk"])
            .groupBy("query_id")
            .agg(F.sum(F.floor((F.lit(IVR_TOPK + 1) - F.col("bn"))
                               * F.col("d") * F.lit(1e6) + F.lit(0.5))
                       .cast("long")).cast("long").alias("idcg_i")))
    return (qv.select("query_id")
            .join(dcg, "query_id", "left")
            .join(idcg, "query_id", "left")
            .select("query_id",
                    F.coalesce("ann_hits", F.lit(0)).cast("long")
                    .alias("ann_hits"),
                    F.coalesce("true_nn_rank", F.lit(0)).cast("long")
                    .alias("true_nn_rank"),
                    F.when(F.coalesce("true_nn_rank", F.lit(0)) > 0,
                           F.expr(f"{_PPM} div true_nn_rank"))
                    .otherwise(F.lit(0)).cast("long").alias("mrr_ppm"),
                    F.when(F.coalesce("idcg_i", F.lit(0)) > 0,
                           F.expr(f"coalesce(dcg_i, 0) * {_PPM}"
                                  " div idcg_i"))
                    .otherwise(F.lit(0)).cast("long").alias("ndcg_ppm"))
            .orderBy("query_id"))


def _render_rank_quality_oracle() -> None:
    REGISTRY["sim_eval_rank_quality"].oracle = _rank_quality_oracle()


_render_rank_quality_oracle()
