"""Data-curation queries: quality filters and gates, sampling and
mixing, packing and chunking, train/eval splits, clustering, and the
fused curation pipelines (``curation_``, ``sample_``, ``quality_``,
``pack_``, ``train_``, ``split_``, ``chunk_``, ``doc_``, ``cluster_``)."""

from __future__ import annotations

import pandas as pd

from collections.abc import Iterator
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..functions.hashing import hash32_col, hash32_sql_duck
from ..functions.text import tokens_col, tokens_sql
from ..operators import kmeans as km
from ..operators import logreg as lg
from ..operators import similarity as sim
from ..operators.textstats import (
    fingerprint_col,
    fingerprint_sql,
    quality_cols,
    quality_sql,
    token_stats_cols,
    token_stats_sql,
)

from .text import DECON_NGRAM, EMAIL_RE, _CAL_FEAT_CTE, _TOKS
from .ivf import IVF_NLIST
from .similarity import _DIM
from .dedup import (
    EVAL_SET_MAX_ID,
    NEAR_DUP_JACCARD,
    _CHUNKS_CTE,
    _SH_CTE,
    _chunks_df,
    _minhash_pairs,
    _span_cov_ctes,
    _span_coverage_df,
)


@register(
    "quality_filter_pipeline",
    oracle=(lambda ts, qs: f"""
    SELECT doc_id,
           CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 'empty'
                WHEN {ts['n_re_tokens']} < 5 THEN 'too_short'
                WHEN {qs['punct_ratio']} > 0.3 THEN 'too_noisy'
                WHEN {qs['stopword_ratio']} < 0.05 THEN 'not_natural'
                ELSE 'keep' END AS verdict
    FROM documents ORDER BY doc_id
    """)(token_stats_sql("text"), quality_sql("text")),
    tags=("llm", "quality-filter"),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality-filter chain with per-document verdicts: empty →
    too-short → too-noisy (punctuation ratio) → not-natural (stopword
    ratio) → keep, first matching reason wins. Ratios compared after the
    same 6-dp rounding on both engines so threshold decisions can't
    diverge. One scan, pure JVM expressions — the shape of a curation
    pass over every document at 100 TB."""
    d = spread(table(spark, sf_dir, "documents"))
    ts = token_stats_cols(F.col("text"))
    qs = quality_cols(F.col("text"))
    verdict = (
        F.when(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0, "empty")
        .when(ts["n_re_tokens"] < 5, "too_short")
        .when(qs["punct_ratio"] > 0.3, "too_noisy")
        .when(qs["stopword_ratio"] < 0.05, "not_natural")
        .otherwise("keep")
    )
    return d.select("doc_id", verdict.alias("verdict")).orderBy("doc_id")


@register(
    "train_val_split",
    oracle="""
    WITH s AS (
        SELECT source,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 100 < 95
                    THEN 'train' ELSE 'val' END AS split
        FROM documents)
    SELECT source, split, count(*) AS n_docs
    FROM s GROUP BY 1, 2 ORDER BY source, split
    """,
    tags=("llm", "split"),
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 95/5 train/val split by id hash (md5(doc_id) % 100),
    summarized per source. Hash-mod splitting — never rand() — is the
    reproducible-at-any-scale pattern: membership is a pure function of
    the id, stable across reruns, engines, and partitionings, and new
    documents land in a split without reshuffling old ones."""
    from ..functions.hashing import hash32_col
    d = table(spark, sf_dir, "documents")
    split = F.when(
        hash32_col(F.col("doc_id").cast("string")) % 100 < 95, "train"
    ).otherwise("val")
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split").agg(F.count("*").alias("n_docs"))
        .orderBy("source", "split")
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id, {fingerprint_sql('text')} AS fingerprint
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "fingerprint"),
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial (Rabin-Karp) fingerprint over the token stream."""
    return (
        spread(table(spark, sf_dir, "documents"))
        .select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


# ------------------------------------------- corpus clustering & curation


@register(
    "cluster_kmeans_embeddings",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    {km.ivf_train_cte_sql(IVF_NLIST)},
    cent AS (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
             FROM tcent),
    assign AS (
        SELECT vec_id, cent_id,
               {sim.round6_stable_sql(
                   sim.dot_sql('demb', 'c_demb') + ' / (nrm * c_nrm)')}
                 AS cos6
        FROM (SELECT n.vec_id, n.demb, n.nrm, cent.cent_id, cent.c_demb,
                     cent.c_nrm,
                     row_number() OVER (
                         PARTITION BY n.vec_id
                         ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                                  / (n.nrm * cent.c_nrm) DESC,
                                  cent.cent_id) AS rc
              FROM n CROSS JOIN cent)
        WHERE rc = 1)
    SELECT cent_id AS cluster_id, count(*) AS n_vectors,
           min(vec_id) AS min_vec_id,
           {sim.round6_stable_sql(
               'CAST(round(sum(CAST(cos6 AS DECIMAL(25,6))), 4) AS DOUBLE)'
               ' / count(*)')} AS mean_cosine
    FROM assign GROUP BY cent_id ORDER BY cent_id
    """,
    tags=("llm", "clustering"),
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering by deterministic sampled k-means
    (operators/kmeans.py) — the curation primitive behind semantic
    dedup, topic-balanced mixing, and diversity sampling of a training
    corpus. The oracle replays training CTE-for-CTE, so cluster
    membership AND the per-cluster mean cosine-to-centroid (cluster
    tightness) are value-checked, not just counted.

    Scale shape: training touches a bounded sample (only K centroids
    ever reach the driver); assignment is a broadcast crossJoin against
    K literal centroids (JVM expressions, no Python); the only shuffle
    of the full corpus is the final groupBy(cluster_id) with map-side
    partial aggregation. Mean tightness uses the dsum decimal
    discipline, so it is partition-order independent."""
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
        .select("vec_id", "cent_id",
                (sim.dot(F.col("demb"), F.col("c_demb"))
                 / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos"))
        .withColumn("rc", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(),
                                                 "cent_id")))
    )
    assigned = ranked.filter(F.col("rc") == 1).select(
        "vec_id", "cent_id", sim.round6_stable(F.col("c_cos")).alias("cos6"))
    return (
        assigned.groupBy(F.col("cent_id").alias("cluster_id"))
        .agg(F.count("*").alias("n_vectors"),
             F.min("vec_id").alias("min_vec_id"),
             sim.round6_stable(
                 F.round(F.sum(F.col("cos6").cast("decimal(25,6)")), 4)
                 .cast("double") / F.count("*")).alias("mean_cosine"))
        .orderBy("cluster_id")
    )


# Per-language target sampling rates (permille) — an English-heavy
# training-mix downsampling policy, the usual shape of corpus curation.
STRATA_RATES = {"en": 800, "de": 400, "fr": 400, "es": 300, "zh": 200}
STRATA_DEFAULT = 100


@register(
    "sample_stratified",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               CASE lang
                   {' '.join(f"WHEN '{k}' THEN {v}" for k, v in STRATA_RATES.items())}
                   ELSE {STRATA_DEFAULT} END AS rate_permille,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 1000 AS bucket
        FROM documents)
    SELECT lang, count(*) AS n_total,
           count(CASE WHEN bucket < rate_permille THEN 1 END) AS n_sampled,
           round(max(rate_permille) / 1000.0, 6) AS target_rate,
           {sim.round6_stable_sql(
               'count(CASE WHEN bucket < rate_permille THEN 1 END)'
               ' / CAST(count(*) AS DOUBLE)')} AS achieved_rate
    FROM s GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sampling"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling by language — the
    corpus-mixing step that rebalances a raw crawl toward a target
    distribution. Membership is hash-mod of the document id (never
    rand()): reproducible across reruns, engines, and partitionings,
    and adding documents never resamples old ones (train_val_split uses
    the same discipline).

    Scale shape: a pure per-row predicate (md5-hash compare against a
    per-stratum literal) followed by one groupBy(lang) with map-side
    combine — no shuffle of the raw corpus, no driver participation."""
    from ..functions.hashing import hash32_col
    d = table(spark, sf_dir, "documents")
    rate = F.lit(STRATA_DEFAULT)
    for k, v in STRATA_RATES.items():
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    bucket = hash32_col(F.col("doc_id").cast("string")) % 1000
    s = d.select("lang", rate.alias("rate_permille"), bucket.alias("bucket"))
    return (
        s.groupBy("lang")
        .agg(F.count("*").alias("n_total"),
             F.count(F.when(F.col("bucket") < F.col("rate_permille"), 1))
             .alias("n_sampled"),
             F.round(F.max("rate_permille") / 1000.0, 6).alias("target_rate"),
             sim.round6_stable(
                 F.count(F.when(F.col("bucket") < F.col("rate_permille"), 1))
                 / F.count("*").cast("double")).alias("achieved_rate"))
        .orderBy("lang")
    )


GOPHER_MIN_TOKENS = 10
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_PUNCT = 0.2
GOPHER_MIN_STOP = 0.02


@register(
    "quality_gopher_rules",
    oracle=(lambda ts, qs: f"""
    WITH g AS (
        SELECT doc_id,
               {ts['n_re_tokens']} AS n_tokens,
               {sim.round6_stable_sql(
                   "coalesce(list_sum(list_transform("
                   "regexp_extract_all(lower(text), '[a-z0-9]+'),"
                   " t -> length(t))), 0)"
                   f" / CAST(greatest({ts['n_re_tokens']}, 1) AS DOUBLE)")}
                 AS mean_tok_len,
               {qs['punct_ratio']} AS punct_ratio,
               {qs['stopword_ratio']} AS stopword_ratio
        FROM documents)
    SELECT doc_id, n_tokens, mean_tok_len,
           CAST(n_tokens < {GOPHER_MIN_TOKENS}
                OR n_tokens > {GOPHER_MAX_TOKENS} AS INT) AS flag_length,
           CAST(mean_tok_len < {GOPHER_MIN_MEAN_LEN}
                OR mean_tok_len > {GOPHER_MAX_MEAN_LEN} AS INT) AS flag_mean_len,
           CAST(punct_ratio > {GOPHER_MAX_PUNCT} AS INT) AS flag_symbol,
           CAST(stopword_ratio < {GOPHER_MIN_STOP} AS INT) AS flag_stopword,
           CAST(NOT (n_tokens < {GOPHER_MIN_TOKENS}
                     OR n_tokens > {GOPHER_MAX_TOKENS}
                     OR mean_tok_len < {GOPHER_MIN_MEAN_LEN}
                     OR mean_tok_len > {GOPHER_MAX_MEAN_LEN}
                     OR punct_ratio > {GOPHER_MAX_PUNCT}
                     OR stopword_ratio < {GOPHER_MIN_STOP}) AS INT) AS keep
    FROM g ORDER BY doc_id
    """)(token_stats_sql("text"), quality_sql("text")),
    tags=("llm", "quality-gopher"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-free quality rules as independent boolean
    flags (token-count bounds, mean token length in [3,10], symbol
    ratio, stopword floor) plus the conjunction `keep` — the rule-based
    filter family every pre-training corpus pass applies. All ratios are
    6-dp-rounded BEFORE threshold comparison on both engines so boundary
    decisions cannot diverge. One scan, pure JVM expressions."""
    from ..operators.textstats import tokens_col
    d = spread(table(spark, sf_dir, "documents"))
    ts = token_stats_cols(F.col("text"))
    qs = quality_cols(F.col("text"))
    toks = tokens_col(F.col("text"))
    n_tok = ts["n_re_tokens"]
    mean_len = sim.round6_stable(
        F.coalesce(
            F.aggregate(F.transform(toks, F.length),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x),
            F.lit(0).cast("long"))
        / F.greatest(n_tok, F.lit(1)).cast("double"))
    g = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_len.alias("mean_tok_len"),
        qs["punct_ratio"].alias("punct_ratio"),
        qs["stopword_ratio"].alias("stopword_ratio"),
    )
    flag_length = (F.col("n_tokens") < GOPHER_MIN_TOKENS) | (
        F.col("n_tokens") > GOPHER_MAX_TOKENS)
    flag_mean = (F.col("mean_tok_len") < GOPHER_MIN_MEAN_LEN) | (
        F.col("mean_tok_len") > GOPHER_MAX_MEAN_LEN)
    flag_symbol = F.col("punct_ratio") > GOPHER_MAX_PUNCT
    flag_stop = F.col("stopword_ratio") < GOPHER_MIN_STOP
    return g.select(
        "doc_id", "n_tokens", "mean_tok_len",
        flag_length.cast("int").alias("flag_length"),
        flag_mean.cast("int").alias("flag_mean_len"),
        flag_symbol.cast("int").alias("flag_symbol"),
        flag_stop.cast("int").alias("flag_stopword"),
        (~(flag_length | flag_mean | flag_symbol | flag_stop))
        .cast("int").alias("keep"),
    ).orderBy("doc_id")


PACK_SEQ_LEN = 2048   # training sequence length (tokens)
PACK_SHARDS = 8       # writer shards (≈ #output files; 100k+ at 100 TB)


@register(
    "pack_sequences",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % {PACK_SHARDS} AS shard,
               coalesce(CAST(ceil(length(text) / 4.0) AS BIGINT), 0) AS tok
        FROM documents),
    c AS (
        SELECT shard, doc_id, tok,
               CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum
        FROM b)
    SELECT shard, (cum - tok) // {PACK_SEQ_LEN} AS seq_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1, 2 ORDER BY shard, seq_id
    """,
    tags=("llm", "packing"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chop): deterministically shard the
    corpus (hash-mod), order each shard by doc_id, and assign every
    document to the 2048-token training sequence its first token lands in
    (running token count // seq_len) — the GPT-style packing layout that
    turns a document corpus into fixed-length training examples.

    Scale shape: the window is PARTITIONED by shard (at 100 TB you run
    ~100k shards, one per output file), so each cumulative sum is an
    independent partition-local scan — no global ordering, no single-
    partition window. Integer arithmetic only, exact on both engines.

    Oracle note: the windowed ``sum(tok)`` MUST be cast to BIGINT —
    DuckDB's sum over integers is HUGEINT (int128), so the derived
    ``seq_id`` surfaces as float64 in pandas/arrow fetches and a
    dtype-faithful hasher sees "3.0" vs Spark's int64 "3" (the r3
    driver hash mismatch on this query)."""
    from ..functions.hashing import hash32_col
    d = spread(table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        (hash32_col(F.col("doc_id").cast("string")) % PACK_SHARDS)
        .alias("shard"),
        F.coalesce(F.ceil(F.length("text") / 4.0).cast("long"), F.lit(0))
        .alias("tok"),
    )
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = b.withColumn("cum", F.sum("tok").over(w))
    return (
        c.groupBy("shard",
                  F.expr(f"(cum - tok) div {PACK_SEQ_LEN}").alias("seq_id"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("tok").alias("sum_tokens"))
        .orderBy("shard", "seq_id")
    )


SAMPLE_K_PER_SOURCE = 25


@register(
    "sample_fixed_k_per_source",
    oracle=f"""
    WITH r AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents)
    SELECT source, doc_id FROM r WHERE rn <= {SAMPLE_K_PER_SOURCE}
    ORDER BY source, doc_id
    """,
    tags=("llm", "sampling"),
)
def q_sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k-per-stratum sample (inspection sets, eval
    slices): order each source's docs by a content-independent hash and
    take the first k — a reproducible uniform draw with an exact size
    guarantee, unlike rate-based sampling. Per-group top-k plans as
    WindowGroupLimit (per-partition heaps), never a global sort."""
    d = spread(table(spark, sf_dir, "documents"))
    w = (Window.partitionBy("source")
         .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= SAMPLE_K_PER_SOURCE)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


# --------------------------------------- quality-weighted deterministic sample

@register(
    "sample_importance_by_quality",
    oracle=(lambda qs: f"""
    WITH q AS (SELECT doc_id, source,
                      {qs['quality_score']} AS quality_score,
                      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                           AS BIGINT) % 1000 AS bucket
               FROM documents)
    SELECT doc_id, source, quality_score,
           (bucket < CAST(floor(quality_score * 1000.0 + 0.5) AS BIGINT))
             AS sampled
    FROM q ORDER BY doc_id
    """)(quality_sql("text")),
    tags=("llm", "sampling"),
)
def q_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling: each document's acceptance
    probability IS its quality score (the standard soft alternative to a
    hard C4 cut — keep some low-quality text, upweight clean text).
    Membership is hash-mod of doc_id against a per-row threshold, never
    rand(): reproducible across engines/partitionings, and adding
    documents never resamples old ones. quality_score is stable-rounded
    to 6 dp on both engines, so threshold = floor(score*1000 + 0.5) is
    the same integer on both sides — the sampled bit is deterministic.

    Scale shape: a pure per-row projection (hash + compare), no shuffle
    at all; the sampled subset feeds downstream pipelines as a filter."""
    from ..functions.hashing import hash32_col
    d = spread(table(spark, sf_dir, "documents"))
    qc = quality_cols(F.col("text"))
    bucket = hash32_col(F.col("doc_id").cast("string")) % 1000
    thresh = F.floor(qc["quality_score"] * 1000.0 + 0.5).cast("bigint")
    return (
        d.select(
            "doc_id", "source",
            qc["quality_score"].alias("quality_score"),
            (bucket < thresh).alias("sampled"))
        .orderBy("doc_id")
    )


# -------------------------------------- cross-modal: quality x semantic cluster

@register(
    "curation_quality_by_cluster",
    oracle=(lambda qs: f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    {km.ivf_train_cte_sql(IVF_NLIST)},
    cent AS (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
             FROM tcent),
    assign AS (
        SELECT vec_id, cent_id
        FROM (SELECT n.vec_id, cent.cent_id,
                     row_number() OVER (
                         PARTITION BY n.vec_id
                         ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                                  / (n.nrm * cent.c_nrm) DESC,
                                  cent.cent_id) AS rc
              FROM n CROSS JOIN cent)
        WHERE rc = 1),
    q AS (SELECT doc_id, {qs['quality_score']} AS quality_score
          FROM documents)
    SELECT a.cent_id AS cluster_id,
           count(*) AS n_docs,
           min(a.vec_id) AS min_doc_id,
           {sim.round6_stable_sql(
               'CAST(round(sum(CAST(q.quality_score AS DECIMAL(25,6))), 4)'
               ' AS DOUBLE) / count(*)')} AS mean_quality
    FROM assign a JOIN q ON q.doc_id = a.vec_id
    GROUP BY 1 ORDER BY 1
    """)(quality_sql("text")),
    tags=("llm", "curation", "clustering"),
)
def q_quality_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation rollup: text-side quality scores aggregated
    by embedding-side semantic cluster — the table that drives
    topic-aware mixing decisions (which semantic regions of the corpus
    are high/low quality, where to spend the dedup/filter budget).
    Joins the two modalities on document id (embeddings cover the
    embedded subset of the corpus).

    Scale shape: assignment is a broadcast crossJoin against K literal
    trained centroids (JVM-only); the id-equi-join ships only (id,
    cluster) against (id, score) — neither text nor vectors cross the
    shuffle; the final groupBy(cluster) reduces K rows. Mean quality
    uses the dsum decimal discipline (partition-order independent)."""
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
        .select("vec_id", "cent_id",
                (sim.dot(F.col("demb"), F.col("c_demb"))
                 / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos"))
        .withColumn("rc", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(),
                                                 "cent_id")))
    )
    assign = ranked.filter(F.col("rc") == 1).select("vec_id", "cent_id")
    d = spread(table(spark, sf_dir, "documents"))
    q = d.select("doc_id",
                 quality_cols(F.col("text"))["quality_score"]
                 .alias("quality_score"))
    return (
        assign.join(q, assign.vec_id == q.doc_id)
        .groupBy(F.col("cent_id").alias("cluster_id"))
        .agg(F.count("*").alias("n_docs"),
             F.min("vec_id").alias("min_doc_id"),
             sim.round6_stable(
                 F.round(F.sum(F.col("quality_score").cast("decimal(25,6)")),
                         4).cast("double") / F.count("*"))
             .alias("mean_quality"))
        .orderBy("cluster_id")
    )


# ------------------------------------------------- quality quantile bins

_QS = quality_sql("text")["quality_score"]


@register(
    "curation_quality_quartiles",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_QS} AS q FROM documents),
    b AS (SELECT {sim.round6_stable_sql('quantile_cont(q, 0.25)')} AS b1,
                 {sim.round6_stable_sql('quantile_cont(q, 0.5)')} AS b2,
                 {sim.round6_stable_sql('quantile_cont(q, 0.75)')} AS b3
          FROM d)
    SELECT CASE WHEN q <= b1 THEN 'q1' WHEN q <= b2 THEN 'q2'
                WHEN q <= b3 THEN 'q3' ELSE 'q4' END AS bin,
           count(*) AS n_docs,
           CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / count(*)
             AS mean_q,
           min(q) AS min_q, max(q) AS max_q
    FROM d CROSS JOIN b
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "curation", "quantile-bins"),
)
def q_quality_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile-binned quality curation: exact interpolated quartile
    boundaries of the deterministic quality score, then per-bin counts and
    means — the "keep the top quartile / downsample the bottom" knob every
    mixture pipeline has.

    Two passes over the scored projection: a 3-number percentile aggregate
    (broadcast back via cross join — Catalyst plans it as a broadcast
    nested loop over a 1-row side) and one group-by on the 4-value bin
    key. At 100 TB the exact percentile becomes percentile_approx (GK
    sketch, bounded memory; same plan shape) — kept exact here so the
    boundaries, and therefore the bin assignment itself, are
    oracle-checkable. Boundaries are round6_stable'd before comparison so
    the bin decision sees identical doubles in both engines; the mean uses
    an exact decimal sum (order-independent) like operators/relational
    dsum."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", quality_cols(F.col("text"))["quality_score"].alias("q"))
    b = d.agg(
        sim.round6_stable(F.expr("percentile(q, 0.25D)")).alias("b1"),
        sim.round6_stable(F.expr("percentile(q, 0.5D)")).alias("b2"),
        sim.round6_stable(F.expr("percentile(q, 0.75D)")).alias("b3"))
    binned = d.crossJoin(F.broadcast(b)).withColumn(
        "bin",
        F.when(F.col("q") <= F.col("b1"), "q1")
        .when(F.col("q") <= F.col("b2"), "q2")
        .when(F.col("q") <= F.col("b3"), "q3")
        .otherwise("q4"))
    return (
        binned.groupBy("bin")
        .agg(F.count("*").alias("n_docs"),
             (F.sum(F.col("q").cast("decimal(18,6)")).cast("double")
              / F.count("*")).alias("mean_q"),
             F.min("q").alias("min_q"),
             F.max("q").alias("max_q"))
        .orderBy("bin")
    )


# --------------------------------------- temperature-scaled source sampling

# Temperature alpha = 0.5 -> weight = sqrt(share). sqrt is IEEE
# correctly-rounded in both engines (unlike pow/exp/ln), so the weights
# are bit-identical — the one temperature that needs no transcendental
# tolerance. The denominator (a sum of 20 doubles) folds in sorted source
# order on BOTH sides: Spark's unordered partial aggregation would
# otherwise sum in a partition-dependent order and drift ulps from the
# single-threaded oracle.


@register(
    "sample_temperature_by_source",
    oracle=f"""
    WITH s AS (SELECT source,
                      CAST(sum({token_stats_sql('text')['est_bpe_tokens']})
                        AS BIGINT) AS n_tokens
               FROM documents GROUP BY 1),
    t AS (SELECT source, n_tokens,
                 n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share,
                 sqrt(n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE)) AS w
          FROM s),
    d AS (SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                                list(w ORDER BY source)),
                   (acc, x) -> acc + x) AS denom
          FROM t)
    SELECT source, n_tokens,
           {sim.round6_stable_sql('share')} AS token_share,
           {sim.round6_stable_sql('w / denom')} AS sample_weight
    FROM t CROSS JOIN d ORDER BY source
    """,
    tags=("llm", "curation", "temperature-sampling"),
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (alpha = 0.5): the standard
    up/down-weighting rule for unbalanced corpora — sampling weight
    proportional to share^alpha flattens the source distribution so big
    crawls stop drowning small high-quality feeds (the mT5/XLM-R mixing
    rule, here at the one alpha whose power function is exact in IEEE
    arithmetic).

    One token-count aggregate (exact int sums), then all weight math runs
    on a ~|sources|-row intermediate: the share divides by an exact int
    total, the weight is a correctly-rounded sqrt, and the normalizing
    denominator is an ordered fold over the sorted source list so both
    engines add the same doubles in the same order. The fact scan is the
    only full-corpus cost at any scale."""
    d = table(spark, sf_dir, "documents")
    est = token_stats_cols(F.col("text"))["est_bpe_tokens"]
    s = d.groupBy("source").agg(F.sum(est).cast("long").alias("n_tokens"))
    w_all = Window.partitionBy()
    t = s.select(
        "source", "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w_all).cast("double")
         ).alias("share"))
    t = t.withColumn("w", F.sqrt(F.col("share")))
    denom = t.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("denom"))
    return (
        t.crossJoin(F.broadcast(denom))
        .select("source", "n_tokens",
                sim.round6_stable(F.col("share")).alias("token_share"),
                sim.round6_stable(F.col("w") / F.col("denom"))
                .alias("sample_weight"))
        .orderBy("source")
    )


# --------------------------------------- logistic-regression training


_LG_FEAT_CTE = (
    "feat AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
    + ", ".join(f"{sql} AS x_{name}"
                for name, sql in lg.feature_sql("text").items())
    + " FROM documents)"
)


@register(
    "train_quality_logreg",
    oracle=f"""
    WITH {_LG_FEAT_CTE},
    {lg.logreg_train_cte_sql()},
    acc AS (SELECT count(*) AS n_docs,
                   {sim.round6_stable_sql(
                       "count(*) FILTER (WHERE ("
                       + lg.margin_sql('w')
                       + " >= 0) = (f.y = 1.0)) / CAST(count(*) AS DOUBLE)")}
                     AS accuracy
            FROM feat f CROSS JOIN w{lg.ROUNDS} w)
    SELECT pos, feature, weight, n_docs, accuracy
    FROM {lg.weights_rows_sql()} CROSS JOIN acc
    ORDER BY pos
    """,
    tags=("llm", "train-logreg", "iterative"),
)
def q_train_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (full-batch GD, 5 rounds,
    lr=0.5): learn to predict `lang == 'en'` from the deterministic
    quality signals — the weak-label quality-classifier bootstrap every
    curation pipeline runs, expressed Spark-first. Each round is ONE pass
    over the cached feature projection producing |w| exact quantized
    gradient sums (operators/logreg.py); only the 4-number gradient
    reaches the driver. The DuckDB oracle replays training CTE-for-CTE,
    so the LEARNED WEIGHTS themselves are value-checked, like the k-means
    index training. Accuracy is margin-sign based (no sigmoid at the
    decision boundary)."""
    import math

    d = table(spark, sf_dir, "documents")
    fcols = lg.feature_cols(F.col("text"))
    feat = d.select(
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
        .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()])
    feat = pin(feat)
    weights = lg.train_logreg(feat)

    # lg._margin is the fold-order contract with the oracle — reuse it
    # rather than re-deriving the fold here.
    m = lg._margin(weights)
    acc = feat.agg(
        F.count("*").alias("n_docs"),
        sim.round6_stable(
            F.count(F.when((m >= 0) == (F.col("y") == 1.0), 1))
            / F.count("*").cast("double")).alias("accuracy"))
    wdf = spark.createDataFrame(
        [(i, name, math.floor(w * 1e6 + 0.5) / 1e6)
         for i, (name, w) in enumerate(zip(lg.FEATURES, weights))],
        "pos int, feature string, weight double")
    return (
        wdf.crossJoin(F.broadcast(acc))
        .select("pos", "feature", "weight", "n_docs", "accuracy")
        .orderBy("pos")
    )


# ------------------------------------- DSIR-style importance weighting

# Hashed-bigram importance resampling weights (Xie et al., "Data
# Selection for Language Models via Importance Resampling"): score each
# document by how much more likely its hashed n-gram profile is under a
# TARGET distribution than under the RAW corpus distribution. Target
# here: the lang='en' slice. B buckets keep both distributions as tiny
# broadcastable tables at any corpus size.
DSIR_BUCKETS = 1024
# Per-gram quantization grid. Coarser than JS_QUANT on purpose: the
# per-DOC sum must stay inside int64 for pathological documents —
# |ln ratio| < ~35, so a gram term is < 3.5e10 and a 100M-bigram
# document still sums to < 2^62. (A 1-ulp ln() difference flips a grid
# cell only within ~3.5e-6 of a boundary; the 6-dp emit absorbs it.)
DSIR_QUANT = 1e9


@register(
    "curation_dsir_weights",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    bg AS (SELECT doc_id, lang,
                  unnest(list_transform(range(1, len(toks)),
                         i -> {hash32_sql_duck("toks[i] || '_' || toks[i+1]")}
                              % {DSIR_BUCKETS})) AS b
           FROM t),
    ct AS (SELECT b, count(*) FILTER (WHERE lang = 'en') AS n_t,
                  count(*) AS n_r
           FROM bg GROUP BY 1),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS nt,
                   CAST(sum(n_r) AS BIGINT) AS nr FROM ct),
    terms AS (
        SELECT bg.doc_id,
               CAST(floor(ln(((ct.n_t + 1) / CAST(tot.nt + {DSIR_BUCKETS}
                                              AS DOUBLE))
                            / ((ct.n_r + 1) / CAST(tot.nr + {DSIR_BUCKETS}
                                               AS DOUBLE)))
                          * {DSIR_QUANT!r} + 0.5) AS BIGINT) AS lw_q
        FROM bg JOIN ct USING (b) CROSS JOIN tot)
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           {sim.round6_stable_sql(
               f'coalesce(s.slw, 0) / {DSIR_QUANT!r}')} AS dsir_logw
    FROM documents d
    LEFT JOIN (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(sum(lw_q) AS BIGINT) AS slw
               FROM terms GROUP BY 1) s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "curation", "dsir"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance log-weights per document: hashed token
    bigrams -> B-bucket target (lang='en') and raw distributions with
    add-1 smoothing -> per-doc sum of log likelihood ratios. Documents
    that look like the target get positive weights; the weights drive
    importance RESAMPLING of a raw crawl toward a quality domain.

    Scale shape: one (doc, bucket) explode, one B-row aggregate
    (broadcast back — B=1024 regardless of corpus size), and a per-doc
    sum of quantized-int terms (order-independent; same exactness
    discipline as the JS-divergence query). The corpus scans once."""
    from ..functions.hashing import hash32_col
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", "lang", tokens_col(F.col("text")).alias("toks"))
    bg = t.select(
        "doc_id", "lang",
        F.explode(F.zip_with(
            F.slice("toks", F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
            F.slice("toks", F.lit(2), F.greatest(F.size("toks") - 1, F.lit(0))),
            lambda a, b: hash32_col(F.concat(a, F.lit("_"), b))
            % DSIR_BUCKETS,
        )).alias("b"))
    bg = pin(bg)
    ct = bg.groupBy("b").agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_t"),
        F.count("*").alias("n_r"))
    tot = ct.agg(F.sum("n_t").alias("nt"), F.sum("n_r").alias("nr"))
    j = bg.join(F.broadcast(ct), "b").crossJoin(F.broadcast(tot))
    p_t = (F.col("n_t") + 1) / (F.col("nt") + F.lit(DSIR_BUCKETS)).cast("double")
    p_r = (F.col("n_r") + 1) / (F.col("nr") + F.lit(DSIR_BUCKETS)).cast("double")
    lw_q = F.floor(F.log(p_t / p_r) * F.lit(DSIR_QUANT) + F.lit(0.5)).cast("long")
    s = (j.select("doc_id", lw_q.alias("lw_q"))
         .groupBy("doc_id")
         .agg(F.count("*").alias("n_bigrams"), F.sum("lw_q").alias("slw")))
    return (
        d.select("doc_id").join(s, "doc_id", "left")
        .select("doc_id",
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                sim.round6_stable(
                    F.coalesce("slw", F.lit(0)) / F.lit(DSIR_QUANT))
                .alias("dsir_logw"))
        .orderBy("doc_id")
    )


@register(
    "chunk_sliding_tokens",
    oracle=f"""
    {_CHUNKS_CTE}
    SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
    tags=("llm", "chunking"),
)
def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: every document split into
    {CHUNK_LEN}-token chunks starting every {CHUNK_STRIDE} tokens (16-token
    overlap), each chunk identified by the md5 of its space-joined token
    slice. The chunk table is what an embedding/retrieval index ingests;
    the hash doubles as the chunk's content key for chunk-level dedup
    (see dedup_chunk_level). Entirely map-side: tokenize, explode the
    stride grid, slice, hash — no shuffle before the presentation sort."""
    return _chunks_df(spark, sf_dir).orderBy("doc_id", "chunk_idx")


# ------------------------------------------ end-to-end curation pipeline


@register(
    "curation_end_to_end",
    oracle=(lambda ts, qs: f"""
    WITH k AS (SELECT doc_id, text, lang,
                      row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
               FROM documents),
    dd AS (SELECT doc_id, text, lang FROM k WHERE rn = 1),
    q AS (SELECT doc_id, lang, {ts['n_re_tokens']} AS n_toks
          FROM dd
          WHERE length(trim(coalesce(text, ''))) > 0
            AND {ts['n_re_tokens']} >= 5
            AND {qs['punct_ratio']} <= 0.3
            AND {qs['stopword_ratio']} >= 0.05),
    s AS (SELECT lang, n_toks,
                 CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8) AS BIGINT) % 100 < 95
                      THEN 'train' ELSE 'val' END AS split
          FROM q),
    agg AS (SELECT split, lang, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM s GROUP BY 1, 2),
    tot AS (SELECT split, CAST(sum(n_tokens) AS BIGINT) AS split_tokens
            FROM agg GROUP BY 1)
    SELECT agg.split, agg.lang, agg.n_docs, agg.n_tokens,
           {sim.round6_stable_sql(
               'agg.n_tokens / CAST(tot.split_tokens AS DOUBLE)')}
             AS token_share
    FROM agg JOIN tot USING (split)
    ORDER BY split, lang
    """)(token_stats_sql("text"), quality_sql("text")),
    tags=("llm", "curation-pipeline"),
)
def q_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE declarative plan: exact dedup
    (keep-first per content digest) -> C4-style quality gate -> hash-mod
    train/val split -> per-(split, lang) doc and token budgets with
    within-split token shares. This is the composition story: every
    stage is the same building block the standalone queries verify
    (dedup_exact, quality_filter_pipeline, train_val_split,
    corpus_mix_stats), fused so Catalyst pipelines the scan, the dedup
    window and the filters into one pass — no materialization between
    stages, one digest-keyed shuffle plus one tiny group-by. At 100 TB
    this single plan replaces a 4-job pipeline with 3 intermediate
    tables on disk."""
    from ..operators.textstats import quality_cols, token_stats_cols

    d = spread(table(spark, sf_dir, "documents"))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dd = (d.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1))
    ts = token_stats_cols(F.col("text"))
    qs = quality_cols(F.col("text"))
    q = (dd.filter(
            (F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
            & (ts["n_re_tokens"] >= 5)
            & (qs["punct_ratio"] <= 0.3)
            & (qs["stopword_ratio"] >= 0.05))
         .select("doc_id", "lang", ts["n_re_tokens"].alias("n_toks")))
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 8), 16, 10).cast("long") % 100)
    s = q.select(
        "lang", "n_toks",
        F.when(bucket < 95, "train").otherwise("val").alias("split"))
    agg = s.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"))
    tot = agg.groupBy("split").agg(
        F.sum("n_tokens").cast("bigint").alias("split_tokens"))
    return (
        agg.join(tot, "split")
        .select("split", "lang", "n_docs", "n_tokens",
                sim.round6_stable(
                    F.col("n_tokens")
                    / F.col("split_tokens").cast("double"))
                   .alias("token_share"))
        .orderBy("split", "lang")
    )


# ----------------------------------------- language-mix rebalancing

# Target token shares for the training mix (a deliberate policy, not the
# crawl's accident): downsample English, hold the rest at parity.
LANG_TARGETS = {"en": "0.4", "zh": "0.15", "es": "0.15", "de": "0.15",
                "fr": "0.15"}
_LT_SQL = ("CASE " + " ".join(
    f"WHEN lang = '{k}' THEN CAST('{v}' AS DOUBLE)"
    for k, v in LANG_TARGETS.items()) + " ELSE CAST('0.0' AS DOUBLE) END")


@register(
    "curation_lang_rebalance",
    oracle=f"""
    WITH t AS (SELECT lang,
                      CAST(sum(len(regexp_extract_all(lower(text),
                                                      '[a-z0-9]+')))
                           AS BIGINT) AS n_tokens
               FROM documents GROUP BY 1),
    w AS (SELECT lang, n_tokens, {_LT_SQL} AS target FROM t),
    b AS (SELECT min(n_tokens / target) AS budget
          FROM w WHERE target > 0)
    SELECT w.lang, w.n_tokens, w.target AS target_share,
           {sim.round6_stable_sql(
               'CASE WHEN w.target > 0'
               ' THEN ((b.budget * w.target) / w.n_tokens)'
               ' ELSE 0.0 END')} AS sample_rate,
           {sim.round6_stable_sql(
               'CASE WHEN w.target > 0 THEN (b.budget * w.target)'
               ' ELSE 0.0 END')} AS planned_tokens
    FROM w CROSS JOIN b ORDER BY w.lang
    """,
    tags=("llm", "mix-rebalance"),
)
def q_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing: given target token shares, compute the
    largest total budget achievable WITHOUT oversampling any language
    (budget = min over languages of available/target — the binding
    language gets rate 1.0) and each language's resulting sampling rate
    and planned token count. This is the arithmetic behind every 'fix
    the language mix' downsampling pass; the rates feed the same
    hash-mod sampler as sample_stratified.

    Scale shape: one token-count aggregate (map-side partials over the
    corpus scan), then language-cardinality arithmetic — the budget min
    is a 1-row aggregate broadcast back by cross join. All inputs to the
    float chain are exact ints and short decimal literals parsed
    identically in both engines."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = (d.groupBy("lang")
         .agg(F.sum(F.size(tokens_col(F.col("text"))))
               .cast("bigint").alias("n_tokens")))
    w = t.select("lang", "n_tokens", F.expr(_LT_SQL).alias("target"))
    w = pin(w)
    b = (w.filter(F.col("target") > 0)
         .agg(F.min(F.col("n_tokens") / F.col("target")).alias("budget")))
    rate = (F.col("budget") * F.col("target")) / F.col("n_tokens")
    return (
        w.crossJoin(F.broadcast(b))
        .select(
            "lang", "n_tokens", F.col("target").alias("target_share"),
            sim.round6_stable(
                F.when(F.col("target") > 0, rate).otherwise(F.lit(0.0)))
               .alias("sample_rate"),
            sim.round6_stable(
                F.when(F.col("target") > 0,
                       F.col("budget") * F.col("target"))
                .otherwise(F.lit(0.0))).alias("planned_tokens"))
        .orderBy("lang")
    )


# ----------------------------------- diversity coreset (cluster medoids)


@register(
    "sample_cluster_medoids",
    oracle=f"""
    WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings),
    n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
    {km.ivf_train_cte_sql(IVF_NLIST)},
    cent AS (SELECT cent_id, c_demb, {sim.norm_sql('c_demb')} AS c_nrm
             FROM tcent),
    assign AS (
        SELECT vec_id, cent_id,
               {sim.round6_stable_sql(
                   sim.dot_sql('demb', 'c_demb') + ' / (nrm * c_nrm)')}
                 AS cos6
        FROM (SELECT n.vec_id, n.demb, n.nrm, cent.cent_id, cent.c_demb,
                     cent.c_nrm,
                     row_number() OVER (
                         PARTITION BY n.vec_id
                         ORDER BY {sim.dot_sql('n.demb', 'cent.c_demb')}
                                  / (n.nrm * cent.c_nrm) DESC,
                                  cent.cent_id) AS rc
              FROM n CROSS JOIN cent)
        WHERE rc = 1)
    SELECT cluster_id, medoid_vec_id, medoid_cos, n_vectors FROM (
        SELECT cent_id AS cluster_id, vec_id AS medoid_vec_id,
               cos6 AS medoid_cos,
               count(*) OVER (PARTITION BY cent_id) AS n_vectors,
               row_number() OVER (PARTITION BY cent_id
                                  ORDER BY cos6 DESC, vec_id) AS rm
        FROM assign)
    WHERE rm = 1 ORDER BY cluster_id
    """,
    tags=("llm", "diversity-sampling"),
)
def q_cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset: one representative per semantic cluster — the
    member closest to its trained centroid (medoid proxy). This is the
    'cover the distribution with K exemplars' sampling pass (dataset
    cards, eval-seed selection, prototype browsing), the selection dual
    of SemDeDup's within-cluster redundancy removal. Same deterministic
    sampled k-means as cluster_kmeans_embeddings; the oracle replays
    training and picks the same argmax, so the chosen exemplars are
    value-checked.

    Scale shape: K centroids broadcast against one corpus scan; the
    per-cluster argmax is a K-bounded window on the assignment table
    (shuffle carries vec_id, cluster id, one rounded cosine)."""
    from ..operators import kmeans as km

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
        .select("vec_id", "cent_id",
                (sim.dot(F.col("demb"), F.col("c_demb"))
                 / (F.col("nrm") * F.col("c_nrm"))).alias("c_cos"))
        .withColumn("rc", F.row_number().over(
            Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(),
                                                 "cent_id")))
    )
    assigned = ranked.filter(F.col("rc") == 1).select(
        "vec_id", "cent_id", sim.round6_stable(F.col("c_cos")).alias("cos6"))
    wm = Window.partitionBy("cent_id").orderBy(F.col("cos6").desc(),
                                               "vec_id")
    wc = Window.partitionBy("cent_id")
    return (
        assigned
        .withColumn("n_vectors", F.count("*").over(wc))
        .withColumn("rm", F.row_number().over(wm))
        .filter(F.col("rm") == 1)
        .select(F.col("cent_id").alias("cluster_id"),
                F.col("vec_id").alias("medoid_vec_id"),
                F.col("cos6").alias("medoid_cos"), "n_vectors")
        .orderBy("cluster_id")
    )


# ------------------------------------- perplexity-bucket mixing stats

_PPL_SCORE_CTE = f"""
WITH t AS (SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS tok
           FROM documents),
lm AS (SELECT tok, count(*) AS n_tok FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM lm),
sc AS (SELECT t.doc_id, count(*) AS n_tokens,
              sum(ln(CAST(tot.n_total AS DOUBLE))
                  - ln(CAST(lm.n_tok AS DOUBLE))) AS nll_sum
       FROM t JOIN lm USING (tok) CROSS JOIN tot
       GROUP BY t.doc_id),
scored AS (SELECT d.doc_id,
                  coalesce(sc.n_tokens, 0) AS n_tokens,
                  {sim.round6_stable_sql(
                      'CASE WHEN sc.n_tokens > 0'
                      ' THEN sc.nll_sum / sc.n_tokens ELSE 0.0 END')}
                    AS nll6
           FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
bnd AS (SELECT quantile_cont(nll6, 0.2) AS b1,
               quantile_cont(nll6, 0.4) AS b2,
               quantile_cont(nll6, 0.6) AS b3,
               quantile_cont(nll6, 0.8) AS b4
        FROM scored)
"""


@register(
    "curation_perplexity_buckets",
    oracle=f"""
    {_PPL_SCORE_CTE},
    lab AS (SELECT CASE WHEN nll6 <= bnd.b1 THEN 'q1'
                        WHEN nll6 <= bnd.b2 THEN 'q2'
                        WHEN nll6 <= bnd.b3 THEN 'q3'
                        WHEN nll6 <= bnd.b4 THEN 'q4'
                        ELSE 'q5' END AS bucket,
                   n_tokens
            FROM scored CROSS JOIN bnd),
    agg AS (SELECT bucket, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens
            FROM lab GROUP BY 1),
    tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM agg)
    SELECT bucket, n_docs, n_tokens,
           {sim.round6_stable_sql('n_tokens / CAST(tt.total AS DOUBLE)')}
             AS token_share
    FROM agg CROSS JOIN tt ORDER BY bucket
    """,
    tags=("llm", "perplexity-buckets"),
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucket mixing stats: quintile-bin every document by
    its corpus-LM mean NLL (text_unigram_lm_score) and report each
    bucket's document count and token budget — the CCNet-style 'mix by
    perplexity band' stage (head/middle/tail sampling runs off exactly
    this table). Boundaries are exact interpolated percentiles of the
    6-dp-stable scores, so the binning comparisons happen on
    bit-identical doubles in both engines.

    Scale shape: the LM and scoring joins are the unigram-LM plan; the
    four boundaries are a 1-row aggregate broadcast back (at 100 TB,
    swap the exact percentile for percentile_approx — the rest of the
    plan is unchanged). Final rollup is bucket-cardinality."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    lm = t.groupBy("tok").agg(F.count("*").alias("n_tok"))
    tot = lm.agg(F.sum("n_tok").cast("bigint").alias("n_total"))
    sc = (t.join(lm, "tok").crossJoin(F.broadcast(tot))
          .groupBy("doc_id")
          .agg(F.count("*").alias("n_tokens"),
               F.sum(F.log(F.col("n_total").cast("double"))
                     - F.log(F.col("n_tok").cast("double")))
                .alias("nll_sum")))
    scored = (
        d.select("doc_id").join(sc, "doc_id", "left")
        .select(
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            sim.round6_stable(
                F.when(F.col("n_tokens") > 0,
                       F.col("nll_sum") / F.col("n_tokens"))
                .otherwise(F.lit(0.0))).alias("nll6")))
    scored = pin(scored)
    bnd = scored.agg(
        F.expr("percentile(nll6, 0.2D)").alias("b1"),
        F.expr("percentile(nll6, 0.4D)").alias("b2"),
        F.expr("percentile(nll6, 0.6D)").alias("b3"),
        F.expr("percentile(nll6, 0.8D)").alias("b4"))
    lab = (scored.crossJoin(F.broadcast(bnd))
           .select(
               F.when(F.col("nll6") <= F.col("b1"), "q1")
               .when(F.col("nll6") <= F.col("b2"), "q2")
               .when(F.col("nll6") <= F.col("b3"), "q3")
               .when(F.col("nll6") <= F.col("b4"), "q4")
               .otherwise("q5").alias("bucket"),
               "n_tokens"))
    agg = lab.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"))
    tt = agg.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tt))
        .select("bucket", "n_docs", "n_tokens",
                sim.round6_stable(
                    F.col("n_tokens") / F.col("total").cast("double"))
                   .alias("token_share"))
        .orderBy("bucket")
    )


# ------------------------------------------------- shard balance report

SHARD_N = 8  # == operators.export.DEFAULT_SHARDS (asserted below)


@register(
    "curation_shard_balance",
    oracle=f"""
    WITH s AS (SELECT {hash32_sql_duck('CAST(doc_id AS VARCHAR)')}
                        % {SHARD_N} AS shard,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS n_toks
               FROM documents),
    agg AS (SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM s GROUP BY 1),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                   count(*) AS n_shards FROM agg)
    SELECT shard, n_docs, n_tokens,
           {sim.round6_stable_sql(
               'n_docs / (CAST(tot.td AS DOUBLE) / tot.n_shards)')}
             AS doc_skew6
    FROM agg CROSS JOIN tot ORDER BY shard
    """,
    tags=("llm", "shard-balance"),
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance report for the training-data export layout
    (operators/export.py export_training_shards): per-shard document
    and token counts plus the skew ratio vs a perfectly even spread —
    the check a pipeline runs before handing shards to a trainer
    (a hot shard stalls the data-parallel epoch exactly like a hot
    partition stalls a stage). Uses the SAME md5 hash-mod shard id as
    the writer, so the report predicts the real layout without writing
    it. One scan, shard-cardinality aggregate."""
    from ..functions.hashing import hash32_col as _h32c
    from ..operators.export import DEFAULT_SHARDS
    from ..functions.text import tokens_col

    assert DEFAULT_SHARDS == SHARD_N
    d = spread(table(spark, sf_dir, "documents"))
    s = d.select(
        (_h32c(F.col("doc_id").cast("string")) % SHARD_N).alias("shard"),
        F.size(tokens_col(F.col("text"))).alias("n_toks"))
    agg = s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"))
    tot = agg.agg(F.sum("n_docs").cast("bigint").alias("td"),
                  F.count("*").alias("n_shards"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select("shard", "n_docs", "n_tokens",
                sim.round6_stable(
                    F.col("n_docs")
                    / (F.col("td").cast("double") / F.col("n_shards")))
                   .alias("doc_skew6"))
        .orderBy("shard")
    )


# ----------------------------------------- document-intact packing


@register(
    "pack_sequences_doc_intact",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               {hash32_sql_duck('CAST(doc_id AS VARCHAR)')}
                 % {PACK_SHARDS} AS shard,
               coalesce(CAST(ceil(length(text) / 4.0) AS BIGINT), 0) AS tok
        FROM documents),
    c AS (
        SELECT shard, doc_id, tok,
               -- BIGINT cast: DuckDB's windowed sum is HUGEINT -> float64
               -- in pandas fetches; bin_id must stay integral for
               -- dtype-faithful hashers (same class as pack_sequences' r3
               -- driver red)
               CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum
        FROM b),
    asg AS (SELECT shard, (c.cum - c.tok) // {PACK_SEQ_LEN} AS bin_id,
                   doc_id, tok
            FROM c)
    SELECT shard, bin_id, count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(tok) > {PACK_SEQ_LEN} AS BOOLEAN) AS overflow
    FROM asg GROUP BY 1, 2 ORDER BY shard, bin_id
    """,
    tags=("llm", "packing-intact"),
)
def q_pack_doc_intact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-INTACT sequence packing: same deterministic shard and
    ordering as pack_sequences, but a document is assigned whole to the
    bin its FIRST token lands in and is never split — the layout used
    when training must not cross document boundaries (contrastive
    pairs, retrieval chunks, instruction examples). The per-bin summary
    reports the resulting fill and the overflow flag (the price of
    intactness: a doc straddling a boundary makes its bin run long —
    downstream either pads the next bin or truncates the tail).
    Per-shard windows only — identical shuffle shape to pack_sequences,
    reduced to a bin-cardinality rollup."""
    from ..functions.hashing import hash32_col as _h32c
    from ..operators.textstats import token_stats_cols

    d = spread(table(spark, sf_dir, "documents"))
    tok = F.coalesce(F.ceil(F.length("text") / 4.0).cast("bigint"), F.lit(0))
    b = d.select(
        "doc_id",
        (_h32c(F.col("doc_id").cast("string")) % PACK_SHARDS).alias("shard"),
        tok.alias("tok"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = b.withColumn("cum", F.sum("tok").over(w))
    asg = c.select(
        "shard",
        F.expr(f"CAST((cum - tok) DIV {PACK_SEQ_LEN} AS BIGINT)")
         .alias("bin_id"),
        "tok")
    return (
        asg.groupBy("shard", "bin_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("tok").cast("bigint").alias("n_tokens"),
             (F.sum("tok") > PACK_SEQ_LEN).alias("overflow"))
        .orderBy("shard", "bin_id")
    )


# ------------------------------- excess-loss source reweighting (DoReMi)

DOREMI_ETA = 1.0  # multiplicative-weights step on excess loss


@register(
    "curation_doremi_weights",
    oracle=f"""
    WITH t AS (SELECT source,
                      unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS tok
               FROM documents),
    lm AS (SELECT tok, count(*) AS n_tok FROM t GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM lm),
    s AS (SELECT t.source,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CAST(floor((ln(CAST(tot.n_total AS DOUBLE))
                                      - ln(CAST(lm.n_tok AS DOUBLE)))
                                     * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                   AS nllq
          FROM t JOIN lm USING (tok) CROSS JOIN tot
          GROUP BY 1),
    g AS (SELECT source, n_tokens, nllq,
                 CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens,
                 CAST(sum(nllq) OVER () AS BIGINT) AS tot_nllq
          FROM s),
    x AS (SELECT source, n_tokens,
                 CAST(nllq AS DOUBLE) / 1e6 / n_tokens AS mean_nll,
                 CAST(nllq AS DOUBLE) / 1e6 / n_tokens
                   - CAST(tot_nllq AS DOUBLE) / 1e6 / tot_tokens AS excess,
                 CAST(n_tokens AS DOUBLE) / tot_tokens AS share
          FROM g),
    w AS (SELECT source, n_tokens, mean_nll, excess,
                 CAST(floor(share * exp({DOREMI_ETA!r} * excess) * 1e9
                            + 0.5) AS BIGINT) AS wq
          FROM x)
    SELECT source, n_tokens,
           {sim.round6_stable_sql('mean_nll')} AS mean_nll6,
           {sim.round6_stable_sql('excess')} AS excess6,
           wq * 1000000 // CAST(sum(wq) OVER () AS BIGINT) AS weight_ppm
    FROM w ORDER BY source
    """,
    tags=("llm", "mixture-doremi"),
)
def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored mixture reweighting: upweight the sources the
    corpus LM finds HARD (positive excess mean NLL vs the corpus mean),
    starting from token-share baselines — w_s ∝ share_s·exp(η·excess_s),
    reported as normalized ppm. The static one-step form of the
    multiplicative-weights update (the full method re-trains between
    steps; the update rule and its exactness story are identical).

    Exactness: per-token ln() contributions quantize to an int64 grid
    BEFORE the per-source sum (order-free; the same discipline as the
    JS-divergence query), means/excesses are then doubles derived from
    exact integers, exp() is quantized per SOURCE (bounded rows), and
    the final normalization is integer ppm division. Scale shape: one
    token-keyed LM aggregate + one (source, token)-keyed scoring join —
    both map-side partial; windows run over the source table only."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
    lm = t.groupBy("tok").agg(F.count("*").alias("n_tok"))
    tot = lm.agg(F.sum("n_tok").cast("bigint").alias("n_total"))
    nll_q = F.floor(
        (F.log(F.col("n_total").cast("double"))
         - F.log(F.col("n_tok").cast("double"))) * F.lit(1e6)
        + F.lit(0.5)).cast("long")
    s = (t.join(lm, "tok").crossJoin(F.broadcast(tot))
         .groupBy("source")
         .agg(F.count("*").alias("n_tokens"),
              F.sum(nll_q).alias("nllq")))
    wall = Window.partitionBy()
    g = s.select(
        "source", "n_tokens", "nllq",
        F.sum("n_tokens").over(wall).alias("tot_tokens"),
        F.sum("nllq").over(wall).alias("tot_nllq"))
    mean_nll = F.expr("CAST(nllq AS DOUBLE) / 1e6 / n_tokens")
    excess = F.expr("CAST(nllq AS DOUBLE) / 1e6 / n_tokens"
                    " - CAST(tot_nllq AS DOUBLE) / 1e6 / tot_tokens")
    x = g.select("source", "n_tokens",
                 mean_nll.alias("mean_nll"), excess.alias("excess"),
                 F.expr("CAST(n_tokens AS DOUBLE) / tot_tokens")
                 .alias("share"))
    w = x.select(
        "source", "n_tokens", "mean_nll", "excess",
        F.floor(F.col("share") * F.exp(F.lit(DOREMI_ETA) * F.col("excess"))
                * F.lit(1e9) + F.lit(0.5)).cast("long").alias("wq"))
    return (w.select(
                "source", "n_tokens",
                sim.round6_stable(F.col("mean_nll")).alias("mean_nll6"),
                sim.round6_stable(F.col("excess")).alias("excess6"),
                F.expr("wq * 1000000 div sum(wq) OVER ()")
                .alias("weight_ppm"))
            .orderBy("source"))


# ----------------------------- first-fit-decreasing sequence packing


def _ffd_oracle() -> str:
    from ..functions.hashing import hash32_sql_duck
    cap, sh = PACK_SEQ_LEN, PACK_SHARDS
    return f"""
    WITH RECURSIVE b AS (
        SELECT doc_id,
               {hash32_sql_duck('CAST(doc_id AS VARCHAR)')} % {sh} AS shard,
               coalesce(CAST(ceil(length(text) / 4.0) AS BIGINT), 0) AS tok
        FROM documents),
    o AS (SELECT shard, doc_id, tok,
                 CAST(row_number() OVER (PARTITION BY shard
                                         ORDER BY tok DESC, doc_id)
                      AS BIGINT) AS rn
          FROM b),
    rec AS (
        SELECT shard, CAST(0 AS BIGINT) AS rn,
               CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS nd
        FROM (SELECT DISTINCT shard FROM o)
        UNION ALL
        SELECT o.shard, o.rn,
               CASE WHEN p IS NULL OR p = 0
                    THEN rec.fills || [o.tok]
                    ELSE list_transform(range(1, len(rec.fills) + 1),
                                        i -> CASE WHEN i = p
                                                  THEN rec.fills[i] + o.tok
                                                  ELSE rec.fills[i] END)
               END,
               CASE WHEN p IS NULL OR p = 0
                    THEN rec.nd || [CAST(1 AS BIGINT)]
                    ELSE list_transform(range(1, len(rec.nd) + 1),
                                        i -> CASE WHEN i = p
                                                  THEN rec.nd[i] + 1
                                                  ELSE rec.nd[i] END)
               END
        FROM rec JOIN o ON o.shard = rec.shard AND o.rn = rec.rn + 1
        CROSS JOIN LATERAL (
            SELECT list_position(
                list_transform(rec.fills, f -> f + o.tok <= {cap}),
                true) AS p) l),
    last AS (SELECT shard, max(rn) AS mrn FROM rec GROUP BY 1),
    fin AS (SELECT rec.shard, rec.fills, rec.nd
            FROM rec JOIN last ON rec.shard = last.shard
                              AND rec.rn = last.mrn),
    u AS (SELECT shard,
                 unnest(list_transform(range(1, len(fills) + 1),
                        i -> {{'b': i, 'f': fills[i], 'n': nd[i]}})) AS x
          FROM fin)
    SELECT shard, CAST(x.b AS BIGINT) AS bin_id, x.n AS n_docs,
           x.f AS n_tokens,
           x.f * 1000000 // {cap} AS fill_ppm
    FROM u ORDER BY shard, bin_id
    """


@register(
    "pack_sequences_first_fit",
    oracle=_ffd_oracle(),
    tags=("llm", "packing-ffd", "pandas-udf"),
)
def q_pack_first_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing per shard — the HIGH-FILL layout
    for document-intact sequence packing (pack_sequences_doc_intact keeps
    arrival order and leaves holes; FFD sorts by size and back-fills, the
    classic 11/9-OPT guarantee). Inherently sequential within a shard, so
    this is the designed showcase for the custom-operator escape hatch:
    an applyInPandas (Arrow-batched) FFD per shard, NOT a window trick.

    Scale shape: one shuffle on the shard key, then each shard's packing
    runs independently in a single pandas batch (at 100 TB: ~100k shards,
    each a bounded-size group — the same layout the parquet writer
    produces). The DuckDB oracle replays the per-shard sequential loop as
    a recursive CTE over (rank, bin-fill-list) state, so even the greedy
    placement decisions are value-checked. Integer-exact throughout."""
    import pandas as pd

    from ..functions.hashing import hash32_col

    cap = PACK_SEQ_LEN
    d = spread(table(spark, sf_dir, "documents"))
    b = d.select(
        "doc_id",
        (hash32_col(F.col("doc_id").cast("string")) % PACK_SHARDS)
        .alias("shard"),
        F.coalesce(F.ceil(F.length("text") / 4.0).cast("long"), F.lit(0))
        .alias("tok"))

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
        fills: list[int] = []
        ndocs: list[int] = []
        for tok in pdf["tok"]:
            t = int(tok)
            for i, f in enumerate(fills):
                if f + t <= cap:
                    fills[i] = f + t
                    ndocs[i] += 1
                    break
            else:
                fills.append(t)
                ndocs.append(1)
        shard = int(pdf["shard"].iloc[0])
        return pd.DataFrame({
            "shard": [shard] * len(fills),
            "bin_id": list(range(1, len(fills) + 1)),
            "n_docs": ndocs,
            "n_tokens": fills,
        })

    packed = b.groupBy("shard").applyInPandas(
        ffd, schema="shard long, bin_id long, n_docs long, n_tokens long")
    return (packed.select(
                "shard", "bin_id", "n_docs", "n_tokens",
                F.expr(f"n_tokens * 1000000 div {cap}").alias("fill_ppm"))
            .orderBy("shard", "bin_id"))


# ----------------------------- quality x duplication cross-diagnostic


def _quality_vs_dup_oracle() -> str:
    from ..operators.textstats import quality_sql
    qs = quality_sql("text")["quality_score"]
    r6 = sim.round6_stable_sql
    num = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    vx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vy = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    return f"""
    {_span_cov_ctes()},
    cov AS (SELECT h.doc_id,
                   coalesce(a.tokens_covered, 0) * 1000000
                     // greatest(CAST(len(hs) AS BIGINT), 1) AS cov_ppm
            FROM h LEFT JOIN a USING (doc_id)),
    q AS (SELECT doc_id,
                 CAST(floor(({qs}) * 1e6 + 0.5) AS BIGINT) AS qx
          FROM documents),
    j AS (SELECT q.doc_id, qx, cov_ppm FROM q JOIN cov USING (doc_id)),
    b AS (SELECT {r6('quantile_cont(qx, 0.25)')} AS b1,
                 {r6('quantile_cont(qx, 0.5)')} AS b2,
                 {r6('quantile_cont(qx, 0.75)')} AS b3
          FROM j),
    mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(qx) AS BIGINT) AS sx,
                  CAST(sum(cov_ppm) AS BIGINT) AS sy,
                  CAST(sum(qx * cov_ppm) AS BIGINT) AS sxy,
                  CAST(sum(qx * qx) AS BIGINT) AS sxx,
                  CAST(sum(cov_ppm * cov_ppm) AS BIGINT) AS syy
           FROM j),
    r AS (SELECT CASE WHEN {vx} * {vy} = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE {r6(f'{num} / sqrt({vx} * {vy})')} END
                   AS pearson_r6
          FROM mo)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(cov_ppm) AS BIGINT) // count(*) AS mean_cov_ppm,
           pearson_r6
    FROM (SELECT j.*, CASE WHEN qx <= b1 THEN 'q1' WHEN qx <= b2 THEN 'q2'
                           WHEN qx <= b3 THEN 'q3' ELSE 'q4' END AS bin
          FROM j CROSS JOIN b) CROSS JOIN r
    GROUP BY bin, pearson_r6 ORDER BY bin
    """


@register(
    "curation_quality_vs_dup",
    oracle=_quality_vs_dup_oracle(),
    tags=("llm", "curation", "cross-signal"),
)
def q_quality_vs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal diagnostic: does LOW quality predict HIGH duplication?
    Joins the per-doc quality score (ppm grid) with the duplicated-span
    coverage (dedup_span_removal_plan's cov_ppm) and reports mean coverage
    per quality quartile plus the corpus-wide Pearson correlation — the
    table that decides whether one gate can stand in for the other (a
    strong negative r means the quality cut already removes most dup mass).

    Exactness: both signals are int64 grids, so the five moment sums are
    exact order-free integers; the correlation is then assembled in double
    FROM those exact sums (n*sxy etc. would overflow int64 past ~sf0.1,
    and products of exactly-represented doubles are correctly rounded
    identically in both engines). Quartile boundaries follow the
    curation_quality_quartiles broadcast-percentile pattern. At 1e9+ docs
    shrink the grids (1e3) to keep the moment sums under 2^53."""
    from ..operators.textstats import quality_cols

    d = spread(table(spark, sf_dir, "documents"))
    q = d.select(
        "doc_id",
        F.floor(quality_cols(F.col("text"))["quality_score"] * F.lit(1e6)
                + F.lit(0.5)).cast("long").alias("qx"))
    cov = _span_coverage_df(spark, sf_dir).select(
        "doc_id", F.col("coverage_ppm").alias("cov_ppm"))
    j = pin(q.join(cov, "doc_id"))
    b = j.agg(
        sim.round6_stable(F.expr("percentile(qx, 0.25D)")).alias("b1"),
        sim.round6_stable(F.expr("percentile(qx, 0.5D)")).alias("b2"),
        sim.round6_stable(F.expr("percentile(qx, 0.75D)")).alias("b3"))
    mo = j.agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("cov_ppm").alias("sy"),
        F.sum(F.col("qx") * F.col("cov_ppm")).alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
        F.sum(F.col("cov_ppm") * F.col("cov_ppm")).alias("syy"))
    num = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
           " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    vx = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    vy = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")
    r = mo.select(
        F.when(F.expr(f"{vx} * {vy}") == 0, F.lit(0.0).cast("double"))
        .otherwise(sim.round6_stable(F.expr(f"{num} / sqrt({vx} * {vy})")))
        .alias("pearson_r6"))
    binned = (j.crossJoin(F.broadcast(b))
              .withColumn("bin",
                          F.when(F.col("qx") <= F.col("b1"), "q1")
                          .when(F.col("qx") <= F.col("b2"), "q2")
                          .when(F.col("qx") <= F.col("b3"), "q3")
                          .otherwise("q4"))
              .crossJoin(F.broadcast(r)))
    return (binned.groupBy("bin", "pearson_r6")
            .agg(F.count("*").alias("n_docs"),
                 F.expr("CAST(sum(cov_ppm) AS BIGINT) div count(*)")
                 .alias("mean_cov_ppm"))
            .select("bin", "n_docs", "mean_cov_ppm", "pearson_r6")
            .orderBy("bin"))


# ------------------------------------------ greedy k-center coreset

KCENTER_K = 8  # centers; selection cost is K corpus passes


def _kcenter_oracle(k: int = KCENTER_K, dim: int = _DIM) -> str:
    """Replay the greedy farthest-point loop: seed = min vec_id, then
    round r picks argmax of the running min squared distance (ties to the
    lower vec_id). Center CTEs are MATERIALIZED — each is referenced per
    element by the next round's distance expression."""
    parts = [f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings),
    b AS MATERIALIZED (
        SELECT vec_id, emb, {sim.dot_sql('emb', 'emb', dim)} AS sq FROM e),
    c1 AS MATERIALIZED (
        SELECT vec_id AS cid, emb AS cemb, sq AS csq FROM b
        ORDER BY vec_id LIMIT 1),
    m1 AS MATERIALIZED (
        SELECT b.vec_id, b.emb, b.sq,
               b.sq - 2 * {sim.dot_sql('b.emb', 'c1.cemb', dim)} + c1.csq AS md
        FROM b CROSS JOIN c1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
    c{r} AS MATERIALIZED (
        SELECT vec_id AS cid, emb AS cemb, sq AS csq, md AS seldist
        FROM m{r - 1} ORDER BY md DESC, vec_id LIMIT 1),
    m{r} AS MATERIALIZED (
        SELECT m.vec_id, m.emb, m.sq,
               least(m.md,
                     m.sq - 2 * {sim.dot_sql('m.emb', 'c.cemb', dim)} + c.csq)
                 AS md
        FROM m{r - 1} m CROSS JOIN c{r} c)""")
    sel = ["SELECT 1 AS center_rank, cid AS vec_id, "
           "CAST(0.0 AS DOUBLE) AS sel_dist6 FROM c1"]
    for r in range(2, k + 1):
        sel.append(f"SELECT {r}, cid, {sim.round6_stable_sql('seldist')} "
                   f"FROM c{r}")
    parts.append("\n    " + "\n    UNION ALL ".join(sel)
                 + "\n    ORDER BY center_rank")
    return "".join(parts)


@register(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(),
    tags=("llm", "coreset", "iterative"),
)
def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset by greedy k-center (farthest-point traversal):
    seed with the lowest vec_id, then repeatedly add the vector farthest
    (squared L2) from every chosen center — the classic 2-approximation
    that picks a maximally-spread exemplar set for eval panels / seed
    pools, complementing sample_cluster_medoids (which picks TYPICAL
    members; k-center picks EXTREME ones, covering the corpus hull).

    Scale shape: K corpus passes, each a map-only distance update against
    ONE new broadcast center plus a 1-row argmax reduce (TakeOrdered);
    the driver carries one 64-float center per round. The running min
    distance folds incrementally — round r computes ONE new dot product
    per row, not r of them. Exact IEEE doubles end to end (dot folds are
    order-pinned), so the oracle replays every selection decision."""
    e = pin(spread(table(spark, sf_dir, "embeddings"))
            .select("vec_id", sim.as_double(F.col("embedding")).alias("emb")))
    b = pin(e.select("vec_id", "emb",
                     sim.dot(F.col("emb"), F.col("emb")).alias("sq")))

    seed = b.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, seed["vec_id"], 0.0)]
    cemb, csq = list(seed["emb"]), float(seed["sq"])

    cur = b.select(
        "vec_id", "emb", "sq",
        (F.col("sq")
         - F.lit(2.0) * sim.dot(F.col("emb"),
                                F.array(*[F.lit(x) for x in cemb]))
         + F.lit(csq)).alias("md"))
    for r in range(2, KCENTER_K + 1):
        cur = pin(cur)
        far = cur.orderBy(F.col("md").desc(), "vec_id").limit(1).collect()[0]
        centers.append((r, far["vec_id"], float(far["md"])))
        cemb, csq = list(far["emb"]), float(far["sq"])
        cur = cur.select(
            "vec_id", "emb", "sq",
            F.least(
                F.col("md"),
                F.col("sq")
                - F.lit(2.0) * sim.dot(F.col("emb"),
                                       F.array(*[F.lit(x) for x in cemb]))
                + F.lit(csq)).alias("md"))

    spark_rows = [(r, int(v), d) for r, v, d in centers]
    out = spark.createDataFrame(
        spark_rows, "center_rank int, vec_id long, sel_dist double")
    return (out.select("center_rank", "vec_id",
                       sim.round6_stable(F.col("sel_dist")).alias("sel_dist6"))
            .orderBy("center_rank"))


# --------------------------------------- water-filling mixture allocation

WF_TARGET_PCT = 50  # global token budget = 50% of the corpus


def waterfill_alloc_sql(n_cte: str, target_pct: int = WF_TARGET_PCT) -> str:
    """The water-filling allocation over any ``n(source, n_tokens)``
    relation — parameterized so the hypothesis property test can hammer
    the SAME SQL over adversarial VALUES tables (tests/test_properties).

    Allocation keys off the RANK relative to the break point (rk >=
    first_capped), not off each row's own ``fits`` flag: for ranks below
    the break the fits chain guarantees cum <= budget, and the capped
    suffix then splits budget - cum_full exactly, so sum(allocated) ==
    budget holds BY CONSTRUCTION — even if integer-floor effects ever
    produced a non-monotone fits column, which the real-division
    monotonicity argument doesn't strictly cover."""
    return f"""
    WITH n AS ({n_cte}),
    t AS (SELECT source, n_tokens,
                 CAST(sum(n_tokens) OVER () * {target_pct} // 100
                      AS BIGINT) AS budget,
                 CAST(count(*) OVER () AS BIGINT) AS m,
                 CAST(row_number() OVER (ORDER BY n_tokens, source)
                      AS BIGINT) AS rk,
                 CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
                                          ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS cum
          FROM n),
    f AS (SELECT *,
                 n_tokens <= (budget - (cum - n_tokens)) // (m - rk + 1)
                   AS fits
          FROM t),
    brk AS (SELECT coalesce(min(rk) FILTER (WHERE NOT fits), max(m) + 1)
                     AS first_capped
            FROM f),
    lvl AS (SELECT b.first_capped,
                   coalesce((SELECT max(cum) FROM f
                             WHERE rk < b.first_capped), 0) AS cum_full,
                   (SELECT budget FROM f LIMIT 1) AS budget,
                   (SELECT m FROM f LIMIT 1) AS m
            FROM brk b),
    a AS (SELECT f.source, f.n_tokens, f.rk,
                 f.rk >= l.first_capped AS capped,
                 CASE WHEN f.rk < l.first_capped THEN f.n_tokens
                      ELSE (l.budget - l.cum_full) // (l.m - l.first_capped + 1)
                           + CASE WHEN f.rk - l.first_capped
                                       < (l.budget - l.cum_full)
                                         % (l.m - l.first_capped + 1)
                                  THEN 1 ELSE 0 END
                 END AS allocated
          FROM f CROSS JOIN lvl l)
    SELECT source, n_tokens, allocated, capped,
           allocated * 1000000 // greatest(n_tokens, 1) AS fill_ppm
    FROM a ORDER BY source
    """


_WF_N_CTE = """SELECT source,
                      CAST(sum(CAST(ceil(length(text) / 4.0) AS BIGINT))
                           AS BIGINT) AS n_tokens
               FROM documents GROUP BY 1"""


@register(
    "curation_mixture_waterfill",
    oracle=waterfill_alloc_sql(_WF_N_CTE),
    tags=("llm", "mixture-waterfill"),
)
def q_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources by WATER-FILLING: small
    sources are taken whole, large ones are capped at a common level
    chosen so the allocations sum exactly to the global budget (50% of
    corpus tokens) — the standard "cap the dominant crawl, keep the long
    tail" mixing rule, solved in closed form (no iteration): sort sources
    by size ascending; source i fits whole iff n_i <= (remaining budget)/
    (remaining sources) — a monotone condition, so the first failure
    marks the capped suffix, which splits the remaining budget evenly
    with the integer remainder going to the lowest-ranked capped sources.
    Every step is integer window arithmetic; sum(allocated) == budget is
    asserted by a property test.

    Scale shape: one corpus scan to the per-source token table (bounded
    cardinality), then windows over that tiny table — the allocation is
    O(sources) regardless of corpus size."""
    d = spread(table(spark, sf_dir, "documents"))
    n = d.groupBy("source").agg(
        F.sum(F.ceil(F.length("text") / 4.0).cast("long")).alias("n_tokens"))
    wall = Window.partitionBy()
    word = Window.partitionBy().orderBy("n_tokens", "source")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = n.select(
        "source", "n_tokens",
        F.expr(f"sum(n_tokens) OVER () * {WF_TARGET_PCT} div 100")
        .alias("budget"),
        F.count(F.lit(1)).over(wall).alias("m"),
        F.row_number().over(word).cast("long").alias("rk"),
        F.sum("n_tokens").over(wcum).alias("cum"))
    f = t.withColumn(
        "fits",
        F.col("n_tokens")
        <= F.expr("(budget - (cum - n_tokens)) div (m - rk + 1)"))
    # the capped suffix starts at the first rank that does not fit; the
    # 1-row boundary aggregate broadcasts back over the source table, and
    # cum_full (cumulative tokens BEFORE the break) is computed from rk <
    # first_capped in a second tiny pass — the exact expression the oracle
    # uses, sidestepping any reliance on fits-monotonicity under floors
    brk = f.agg(
        F.coalesce(F.min(F.when(~F.col("fits"), F.col("rk"))),
                   F.max("m") + 1).alias("first_capped"))
    fb = f.crossJoin(F.broadcast(brk))
    cumf = fb.agg(
        F.coalesce(F.max(F.when(F.col("rk") < F.col("first_capped"),
                                F.col("cum"))), F.lit(0)).alias("cum_full"))
    # allocation keys off rank-vs-break, not per-row fits — see
    # waterfill_alloc_sql: sum(allocated) == budget by construction
    a = (fb.crossJoin(F.broadcast(cumf))
         .withColumn(
             "allocated",
             F.when(F.col("rk") < F.col("first_capped"), F.col("n_tokens"))
             .otherwise(F.expr(
                 "(budget - cum_full) div (m - first_capped + 1)"
                 " + CASE WHEN rk - first_capped <"
                 " (budget - cum_full) % (m - first_capped + 1)"
                 " THEN 1 ELSE 0 END"))))
    return (a.select(
                "source", "n_tokens", "allocated",
                (F.col("rk") >= F.col("first_capped")).alias("capped"),
                F.expr("allocated * 1000000 div greatest(n_tokens, 1)")
                .alias("fill_ppm"))
            .orderBy("source"))


# --------------------------------------------- quality-rule ablation

def _gopher_flags_sql() -> str:
    """Doc-level Gopher flags CTE — the same formulas quality_gopher_rules
    pins (q_gopher_rules), re-emitted here for rule attribution."""
    from ..operators.textstats import quality_sql
    ts = token_stats_sql("text")
    qs = quality_sql("text")
    mean_len = sim.round6_stable_sql(
        "coalesce(list_sum(list_transform("
        f"{_TOKS}, t -> length(t))), 0)"
        f" / CAST(greatest({ts['n_re_tokens']}, 1) AS DOUBLE)")
    return f"""
    WITH g AS (
        SELECT doc_id,
               CAST({ts['n_re_tokens']} < {GOPHER_MIN_TOKENS}
                    OR {ts['n_re_tokens']} > {GOPHER_MAX_TOKENS} AS INT)
                 AS f_length,
               CAST({mean_len} < {GOPHER_MIN_MEAN_LEN}
                    OR {mean_len} > {GOPHER_MAX_MEAN_LEN} AS INT)
                 AS f_mean_len,
               CAST({qs['punct_ratio']} > {GOPHER_MAX_PUNCT} AS INT)
                 AS f_symbol,
               CAST({qs['stopword_ratio']} < {GOPHER_MIN_STOP} AS INT)
                 AS f_stopword
        FROM documents),
    t AS (SELECT *, f_length + f_mean_len + f_symbol + f_stopword AS nf
          FROM g),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM t)
    """


@register(
    "quality_rule_ablation",
    oracle=_gopher_flags_sql() + """
    SELECT rule,
           CAST(n_flagged AS BIGINT) AS n_flagged,
           CAST(n_only AS BIGINT) AS n_flagged_only,
           CAST(n_only AS BIGINT) * 1000000 // n_corpus AS solely_ppm
    FROM (
        SELECT 'length' AS rule, sum(f_length) AS n_flagged,
               sum(CASE WHEN f_length = 1 AND nf = 1 THEN 1 ELSE 0 END)
                 AS n_only FROM t
        UNION ALL
        SELECT 'mean_len', sum(f_mean_len),
               sum(CASE WHEN f_mean_len = 1 AND nf = 1 THEN 1 ELSE 0 END)
          FROM t
        UNION ALL
        SELECT 'symbol', sum(f_symbol),
               sum(CASE WHEN f_symbol = 1 AND nf = 1 THEN 1 ELSE 0 END)
          FROM t
        UNION ALL
        SELECT 'stopword', sum(f_stopword),
               sum(CASE WHEN f_stopword = 1 AND nf = 1 THEN 1 ELSE 0 END)
          FROM t
    ) CROSS JOIN tot
    ORDER BY rule
    """,
    tags=("llm", "quality-ablation"),
)
def q_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule ablation of the Gopher quality filter: how many docs each
    rule flags, and how many it flags ALONE (its marginal removal — the
    number you lose by keeping the rule, gain by dropping it). The
    standard report before tightening/loosening any filter cascade.

    One scan computes all four flags; a single-row aggregate holds the 8
    sums; the 4-row output is unpivoted from that row — no second pass,
    no per-rule scans. solely_ppm is exact integer arithmetic."""
    from ..operators.textstats import quality_cols
    d = spread(table(spark, sf_dir, "documents"))
    ts = token_stats_cols(F.col("text"))
    qs = quality_cols(F.col("text"))
    toks = tokens_col(F.col("text"))
    n_tok = ts["n_re_tokens"]
    mean_len = sim.round6_stable(
        F.coalesce(
            F.aggregate(F.transform(toks, F.length),
                        F.lit(0).cast("long"), lambda a, x: a + x),
            F.lit(0).cast("long"))
        / F.greatest(n_tok, F.lit(1)).cast("double"))
    flags = d.select(
        ((n_tok < GOPHER_MIN_TOKENS) | (n_tok > GOPHER_MAX_TOKENS))
        .cast("int").alias("f_length"),
        ((mean_len < GOPHER_MIN_MEAN_LEN) | (mean_len > GOPHER_MAX_MEAN_LEN))
        .cast("int").alias("f_mean_len"),
        (qs["punct_ratio"] > GOPHER_MAX_PUNCT).cast("int").alias("f_symbol"),
        (qs["stopword_ratio"] < GOPHER_MIN_STOP).cast("int").alias("f_stopword"),
    ).withColumn("nf", F.col("f_length") + F.col("f_mean_len")
                 + F.col("f_symbol") + F.col("f_stopword"))
    one = flags.agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        *[F.sum(f).cast("bigint").alias(f"n_{f}")
          for f in ("f_length", "f_mean_len", "f_symbol", "f_stopword")],
        *[F.sum(((F.col(f) == 1) & (F.col("nf") == 1)).cast("int"))
          .cast("bigint").alias(f"o_{f}")
          for f in ("f_length", "f_mean_len", "f_symbol", "f_stopword")])
    rows = [
        one.select(F.lit(rule).alias("rule"),
                   F.col(f"n_f_{col}").alias("n_flagged"),
                   F.col(f"o_f_{col}").alias("n_flagged_only"),
                   F.expr(f"o_f_{col} * 1000000 div n_corpus")
                   .cast("bigint").alias("solely_ppm"))
        for rule, col in (("length", "length"), ("mean_len", "mean_len"),
                          ("symbol", "symbol"), ("stopword", "stopword"))
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("rule")


# --------------------------------------- curriculum schedule

CURRICULUM_CUTS = (0.75, 0.65, 0.55, 0.45)  # quality floors, easy -> hard


@register(
    "curation_curriculum_schedule",
    oracle=(lambda qs: f"""
    WITH q AS (SELECT {qs['quality_score']} AS qs,
                      len({_TOKS}) AS n_tok
               FROM documents),
    p AS (SELECT CASE {' '.join(
        f"WHEN qs >= {c} THEN {i + 1}"
        for i, c in enumerate(CURRICULUM_CUTS))}
                 ELSE {len(CURRICULUM_CUTS) + 1} END AS phase, n_tok
          FROM q),
    g AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens
          FROM p GROUP BY 1)
    SELECT phase, n_docs, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY phase) AS BIGINT) AS cum_tokens,
           CAST(n_tokens * 1000000 // greatest(sum(n_tokens) OVER (), 1)
                AS BIGINT) AS share_ppm
    FROM g ORDER BY phase
    """)(quality_sql("text")),
    tags=("llm", "curriculum"),
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning data schedule: documents bucketed into phases
    by quality score (highest-quality first — the standard easy-to-hard
    ramp), with per-phase token mass, the cumulative token budget through
    each phase, and corpus share. This is the table a training loop's
    data loader consumes to know where each phase's token budget ends.

    One scan + a 5-row aggregate; the running total is a window over the
    5 phase rows (bounded cardinality — WindowExec warnings are benign).
    Phase assignment uses 6-dp-rounded scores on both engines, so
    boundary docs cannot land in different phases."""
    from ..operators.textstats import quality_cols
    d = spread(table(spark, sf_dir, "documents"))
    qs = quality_cols(F.col("text"))["quality_score"]
    expr = None
    for i, c in enumerate(CURRICULUM_CUTS):
        cond = qs >= c
        expr = F.when(cond, i + 1) if expr is None else expr.when(cond, i + 1)
    phase = expr.otherwise(len(CURRICULUM_CUTS) + 1)
    g = (d.select(phase.alias("phase"),
                  F.size(tokens_col(F.col("text"))).alias("n_tok"))
         .groupBy("phase")
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum("n_tok").cast("bigint").alias("n_tokens")))
    wcum = Window.orderBy("phase").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return (g.select(
        "phase", "n_docs", "n_tokens",
        F.sum("n_tokens").over(wcum).cast("bigint").alias("cum_tokens"),
        F.greatest(F.sum("n_tokens").over(wall), F.lit(1))
        .cast("bigint").alias("_tot"))
        .select("phase", "n_docs", "n_tokens", "cum_tokens",
                F.expr("n_tokens * 1000000 div _tot").cast("bigint")
                .alias("share_ppm"))
        .orderBy("phase"))


# --------------------------------------- per-source dataset card

@register(
    "curation_dataset_card",
    oracle=(lambda qs: f"""
    WITH d AS (SELECT source, lang,
                      md5(lower(trim(text))) AS ck,
                      len({_TOKS}) AS n_tok,
                      CAST(floor({qs['quality_score']} * 1e6 + 0.5)
                           AS BIGINT) AS q_ppm,
                      CAST(len(regexp_extract_all(text,
                           '{EMAIL_RE}')) > 0 AS INT) AS has_email
               FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           {sim.round6_stable_sql('sum(q_ppm) / (count(*) * 1e6)')}
             AS mean_quality,
           CAST(count(*) - count(DISTINCT ck) AS BIGINT) AS n_exact_dups,
           CAST((count(*) - count(DISTINCT ck)) * 1000000 // count(*)
                AS BIGINT) AS dup_ppm,
           CAST(sum(has_email) * 1000000 // count(*) AS BIGINT)
             AS email_ppm,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM d GROUP BY source ORDER BY source
    """)(quality_sql("text")),
    tags=("llm", "dataset-card"),
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the one-scan publication stats block a
    curated corpus ships with: volume (docs, tokens), mean quality,
    exact-dup mass, PII (email) exposure, language spread. Everything is
    fused into ONE aggregation over one scan (content digests and flags
    computed inline); quality is ppm-quantized per doc BEFORE the sum so
    the mean is an exact integer ratio. The two count-distincts ride
    Spark's expand + partial-agg path — still a single shuffle keyed by
    source."""
    from ..operators.dedup import normalized_key
    from ..operators.textstats import quality_cols
    d = spread(table(spark, sf_dir, "documents"))
    qs = quality_cols(F.col("text"))["quality_score"]
    base = d.select(
        "source", "lang",
        normalized_key(F.col("text")).alias("ck"),
        F.size(tokens_col(F.col("text"))).alias("n_tok"),
        F.floor(qs * 1e6 + F.lit(0.5)).cast("bigint").alias("q_ppm"),
        (F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)) > 0)
        .cast("int").alias("has_email"))
    g = base.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum("q_ppm").cast("bigint").alias("_q_sum"),
        F.count_distinct("ck").cast("bigint").alias("_n_keys"),
        F.sum("has_email").cast("bigint").alias("_n_email"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"))
    return (g.select(
        "source", "n_docs", "n_tokens",
        sim.round6_stable(F.col("_q_sum") / (F.col("n_docs") * F.lit(1e6)))
        .alias("mean_quality"),
        (F.col("n_docs") - F.col("_n_keys")).cast("bigint")
        .alias("n_exact_dups"),
        F.expr("(n_docs - _n_keys) * 1000000 div n_docs")
        .cast("bigint").alias("dup_ppm"),
        F.expr("_n_email * 1000000 div n_docs").cast("bigint")
        .alias("email_ppm"),
        "n_langs")
        .orderBy("source"))


# --------------------------------------- two-phase annealing mixture

ANNEAL_FRAC_DEN = 10  # anneal budget = total // 10


@register(
    "curation_annealing_mixture",
    oracle=(lambda qs: f"""
    WITH d AS (SELECT source,
                      len({_TOKS}) AS n_tok,
                      CAST(floor({qs['quality_score']} * 1e6 + 0.5)
                           AS BIGINT) AS q_ppm
               FROM documents),
    s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok,
                 CAST(sum(q_ppm * n_tok) AS BIGINT) AS qtok
          FROM d GROUP BY source),
    g AS (SELECT *, CAST(sum(tok) OVER () AS BIGINT) AS t_all,
                 CAST(sum(qtok) OVER () AS BIGINT) AS qt_all
          FROM s)
    SELECT source, tok AS n_tokens,
           CAST(CAST(t_all - t_all // {ANNEAL_FRAC_DEN} AS HUGEINT) * tok
                // t_all AS BIGINT) AS pretrain_tokens,
           CAST(CAST(t_all // {ANNEAL_FRAC_DEN} AS HUGEINT) * qtok
                // greatest(qt_all, 1) AS BIGINT) AS anneal_tokens,
           CAST(CAST(t_all // {ANNEAL_FRAC_DEN} AS HUGEINT) * qtok
                // greatest(qt_all, 1)
                * 1000000 // greatest(t_all // {ANNEAL_FRAC_DEN}, 1)
                AS BIGINT) AS anneal_share_ppm
    FROM g ORDER BY source
    """)(quality_sql("text")),
    tags=("llm", "curation", "annealing"),
)
def q_annealing_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase training mixture: the pretrain phase allocates 90% of
    the token budget proportional to raw source size; the anneal phase
    (final 10%) reallocates proportional to QUALITY-WEIGHTED tokens —
    the standard end-of-training upweighting of high-quality sources.
    Per-doc quality is ppm-quantized before the weighted sum, so every
    allocation is exact integer arithmetic; totals are windows over the
    ~|sources|-row aggregate (bounded cardinality)."""
    from ..operators.textstats import quality_cols
    d = spread(table(spark, sf_dir, "documents"))
    qs = quality_cols(F.col("text"))["quality_score"]
    s = (d.select("source",
                  F.size(tokens_col(F.col("text"))).alias("n_tok"),
                  F.floor(qs * 1e6 + F.lit(0.5)).cast("bigint")
                  .alias("q_ppm"))
         .groupBy("source")
         .agg(F.sum("n_tok").cast("bigint").alias("tok"),
              F.sum(F.col("q_ppm") * F.col("n_tok")).cast("bigint")
              .alias("qtok")))
    wall = Window.partitionBy()
    g = (s.withColumn("t_all", F.sum("tok").over(wall).cast("bigint"))
         .withColumn("qt_all", F.sum("qtok").over(wall).cast("bigint")))
    # All allocations via integer `div` so Spark matches the oracle's //
    # exactly (no double round-trip). The products multiply two
    # corpus-scale int64s (t_all-scale x qtok ~ 1e6*t_all), so the first
    # operand is widened to DECIMAL(38,0) — Spark's exact 128-bit path,
    # mirrored by HUGEINT in the oracle; `div` lands back in BIGINT.
    # Plain int64 would overflow past a ~2-10M-token corpus.
    den = ANNEAL_FRAC_DEN
    return (g.select(
        "source", F.col("tok").alias("n_tokens"),
        F.expr(f"CAST(t_all - t_all div {den} AS DECIMAL(38,0)) "
               "* tok div t_all")
        .cast("bigint").alias("pretrain_tokens"),
        F.expr(f"CAST(t_all div {den} AS DECIMAL(38,0)) * qtok "
               "div greatest(qt_all, 1)")
        .cast("bigint").alias("anneal_tokens"),
        F.expr(f"CAST(CAST(t_all div {den} AS DECIMAL(38,0)) * qtok "
               "div greatest(qt_all, 1) AS DECIMAL(38,0)) "
               f"* 1000000 div greatest(t_all div {den}, 1)")
        .cast("bigint").alias("anneal_share_ppm"))
        .orderBy("source"))


# --------------------------------------- multi-epoch decay schedule

EPOCH_BUDGET_X = 2    # token budget = 2x the corpus
EPOCH_DECAY = 0.7     # value multiplier per repeated epoch (pinned)
EPOCH_MAX = 8         # decay table depth (repeats clamp here)
# Pinned power table: identical double literals in both plans, so the
# decay application is bit-exact without trusting cross-engine pow().
_DECAY_POW = [EPOCH_DECAY ** e for e in range(EPOCH_MAX + 1)]


@register(
    "curation_epoch_decay_schedule",
    oracle=(lambda qs: f"""
    WITH d AS (SELECT source,
                      len({_TOKS}) AS n_tok,
                      CAST(floor({qs['quality_score']} * 1e6 + 0.5)
                           AS BIGINT) AS q_ppm
               FROM documents),
    s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok,
                 CAST(sum(q_ppm * n_tok) AS BIGINT) AS qtok
          FROM d GROUP BY source),
    g AS (SELECT *, CAST(sum(tok) OVER () AS BIGINT) AS t_all,
                 CAST(sum(qtok) OVER () AS BIGINT) AS qt_all
          FROM s),
    a AS (SELECT source, tok,
                 CAST(CAST({EPOCH_BUDGET_X} AS HUGEINT) * t_all * qtok
                      // greatest(qt_all, 1) AS BIGINT) AS target
          FROM g WHERE tok > 0),
    e AS (SELECT source, tok, target,
                 least(CAST(target // tok AS BIGINT), {EPOCH_MAX})
                   AS full_epochs,
                 CASE WHEN target // tok >= {EPOCH_MAX}
                      THEN CAST(0 AS BIGINT)
                      ELSE target % tok END AS partial
          FROM a)
    SELECT source, tok AS n_tokens, target AS target_tokens, full_epochs,
           {sim.round6_stable_sql(
               f"tok * (1 - ([{', '.join(repr(x) for x in _DECAY_POW)}]"
               f")[full_epochs + 1]) / {1 - EPOCH_DECAY!r}"
               f" + partial * ([{', '.join(repr(x) for x in _DECAY_POW)}]"
               f")[full_epochs + 1]")} AS effective_tokens
    FROM e ORDER BY source
    """)(quality_sql("text")),
    tags=("llm", "curation", "epoch-decay"),
)
def q_epoch_decay_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch repetition-decay accounting: a 2x-corpus token budget
    allocated by quality weight forces small high-quality sources to
    repeat; repeated epochs are worth EPOCH_DECAY^e of fresh tokens
    (the diminishing-returns rule from data-constrained scaling
    studies), so the schedule reports each source's EFFECTIVE token
    value next to its raw allocation.

    Exactness: allocations/epoch splits are pure integer arithmetic
    (128-bit intermediates for the corpus-scale products);
    the decay powers are a pinned literal table baked into BOTH plans
    (no cross-engine pow()), and the geometric-sum application is the
    same fixed expression over those literals."""
    from ..operators.textstats import quality_cols
    d = spread(table(spark, sf_dir, "documents"))
    qs = quality_cols(F.col("text"))["quality_score"]
    s = (d.select("source",
                  F.size(tokens_col(F.col("text"))).alias("n_tok"),
                  F.floor(qs * 1e6 + F.lit(0.5)).cast("bigint")
                  .alias("q_ppm"))
         .groupBy("source")
         .agg(F.sum("n_tok").cast("bigint").alias("tok"),
              F.sum(F.col("q_ppm") * F.col("n_tok")).cast("bigint")
              .alias("qtok")))
    wall = Window.partitionBy()
    g = (s.withColumn("t_all", F.sum("tok").over(wall).cast("bigint"))
         .withColumn("qt_all", F.sum("qtok").over(wall).cast("bigint"))
         .filter(F.col("tok") > 0))
    # budget * t_all * qtok multiplies two corpus-scale int64s (qtok ~
    # 1e6*t_all): widen to DECIMAL(38,0) (HUGEINT in the oracle) so the
    # product stays exact at any corpus size; `div` lands back in BIGINT.
    a = g.withColumn(
        "target",
        F.expr(f"CAST({EPOCH_BUDGET_X} AS DECIMAL(38,0)) * t_all * qtok "
               "div greatest(qt_all, 1)")
        .cast("bigint"))
    e = (a.withColumn("full_epochs",
                      F.least(F.expr("target div tok"),
                              F.lit(EPOCH_MAX)).cast("bigint"))
         .withColumn("partial",
                     F.when(F.expr("target div tok") >= EPOCH_MAX,
                            F.lit(0))
                     .otherwise(F.expr("target % tok")).cast("bigint")))
    pow_arr = F.array(*[F.lit(x) for x in _DECAY_POW])
    decay_f = F.element_at(pow_arr, (F.col("full_epochs") + 1).cast("int"))
    eff = (F.col("tok") * (1 - decay_f) / (1 - EPOCH_DECAY)
           + F.col("partial") * decay_f)
    return (e.select("source", F.col("tok").alias("n_tokens"),
                     F.col("target").alias("target_tokens"), "full_epochs",
                     sim.round6_stable(eff).alias("effective_tokens"))
            .orderBy("source"))


# --------------------------------------- contamination by benchmark

CONTAM_BENCHES = 2  # eval docs split into pseudo-benchmarks by doc_id % 2


@register(
    "curation_contamination_by_benchmark",
    oracle=None,  # set below
    tags=("llm", "decontamination", "per-benchmark"),
)
def q_contamination_by_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark contamination report: the eval suite (doc_id < 20)
    split into pseudo-benchmarks (doc_id % 2), and for every (source,
    benchmark) cell the count and ppm of corpus documents sharing at
    least one 8-gram with THAT benchmark — the per-suite breakdown a
    release report publishes (aggregate overlap says 'contaminated',
    this says by what).

    Eval grams broadcast with their benchmark tag; corpus grams flow
    map-side into the distinct (doc, bench) hit set; per-source totals
    join at |sources| x |benchmarks| cardinality. Shuffles carry int64
    shingle ids and doc ids, never text."""
    from ..operators.dedup import shingle_ids_tok_col, token_hashes_32_col

    d = spread(table(spark, sf_dir, "documents"))
    sh = pin(d.select(
        "source", "doc_id",
        shingle_ids_tok_col(
            token_hashes_32_col(F.col("text")).alias("hs"),
            n=DECON_NGRAM).alias("sids")))
    ev_grams = (sh.filter(F.col("doc_id") < EVAL_SET_MAX_ID)
                .select((F.col("doc_id") % CONTAM_BENCHES).cast("int")
                        .alias("bench"),
                        F.explode("sids").alias("sid")).distinct())
    corpus = (sh.filter(F.col("doc_id") >= EVAL_SET_MAX_ID)
              .select("source", "doc_id", F.explode("sids").alias("sid")))
    hits = (corpus.join(F.broadcast(ev_grams), "sid")
            .select("source", "doc_id", "bench").distinct()
            .groupBy("source", "bench")
            .agg(F.count("*").cast("bigint").alias("n_contaminated")))
    totals = (sh.filter(F.col("doc_id") >= EVAL_SET_MAX_ID)
              .groupBy("source")
              .agg(F.count("*").cast("bigint").alias("n_docs")))
    benches = totals.sparkSession.range(CONTAM_BENCHES) \
        .select(F.col("id").cast("int").alias("bench"))
    grid = totals.crossJoin(F.broadcast(benches))
    return (grid.join(hits, ["source", "bench"], "left")
            .select("source", "bench", "n_docs",
                    F.coalesce("n_contaminated", F.lit(0)).cast("bigint")
                    .alias("n_contaminated"))
            .withColumn("contaminated_ppm",
                        F.expr("n_contaminated * 1000000 div n_docs")
                        .cast("bigint"))
            .orderBy("source", "bench"))


def _contam_bench_oracle() -> str:
    from ..operators.dedup import shingle_ids_tok_sql, token_hashes_32_duck_sql
    return f"""
    WITH t AS (SELECT source, doc_id, {_TOKS} AS toks FROM documents),
    h AS (SELECT source, doc_id, {token_hashes_32_duck_sql('toks')} AS hs
          FROM t),
    s AS (SELECT source, doc_id, {shingle_ids_tok_sql('hs', n=DECON_NGRAM)}
                 AS sids
          FROM h),
    ev AS (SELECT DISTINCT CAST(doc_id % {CONTAM_BENCHES} AS INT) AS bench,
                  unnest(sids) AS sid
           FROM s WHERE doc_id < {EVAL_SET_MAX_ID}),
    corpus AS (SELECT source, doc_id, unnest(sids) AS sid
               FROM s WHERE doc_id >= {EVAL_SET_MAX_ID}),
    hits AS (SELECT source, bench, CAST(count(*) AS BIGINT)
                    AS n_contaminated
             FROM (SELECT DISTINCT c.source, c.doc_id, ev.bench
                   FROM corpus c JOIN ev USING (sid))
             GROUP BY 1, 2),
    totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM s WHERE doc_id >= {EVAL_SET_MAX_ID} GROUP BY 1),
    grid AS (SELECT source, n_docs, CAST(b AS INT) AS bench
             FROM totals CROSS JOIN
                  (SELECT unnest(range(0, {CONTAM_BENCHES})) AS b) u)
    SELECT g.source, g.bench, g.n_docs,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(h.n_contaminated, 0) * 1000000 // g.n_docs
                AS BIGINT) AS contaminated_ppm
    FROM grid g LEFT JOIN hits h
         ON h.source = g.source AND h.bench = g.bench
    ORDER BY g.source, g.bench
    """


REGISTRY["curation_contamination_by_benchmark"].oracle = _contam_bench_oracle()


# ------------------------------------------- Neyman-allocated sampling

# Neyman (optimal) allocation for stratified sampling: sample budget per
# stratum proportional to N_h * S_h (stratum size x within-stratum std
# of the measured variable) — the variance-minimizing allocation, vs the
# size-proportional allocation sample_stratified uses.
NEYMAN_BUDGET = 200   # total docs to sample


@register(
    "sample_neyman_allocation",
    oracle=None,  # set below
    tags=("llm", "sampling", "neyman"),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocated stratified sample over sources: per-source doc
    count, exact integer variance of n_chars (n*sum(v^2) - sum(v)^2 in
    DECIMAL(38,0) — v up to 1e6 chars at 1e10 docs needs ~1e32, far
    past int64), allocation = budget * N_h*std_h / sum, capped at N_h,
    then a realized deterministic hash-ordered sample per source with
    its achieved mean length.

    Exactness: the variance numerator is exact 128-bit integer; it
    reaches double via a VARCHAR round-trip (string->double parse is
    correctly rounded in both engines where DECIMAL->DOUBLE is not —
    see dot_weights_sql's note); sqrt is IEEE-correctly-rounded by
    mandate; the remaining /, *, + sequence is pinned. Allocations are
    integer div on DECIMAL(38,0). Scale shape: one groupBy(source)
    with map-side partials, totals via a window over the ~|sources|-row
    aggregate, and a per-source rank window for the realized draw —
    all source-partitioned, no global sort."""
    d = spread(table(spark, sf_dir, "documents"))
    v = F.col("n_chars").cast("bigint")
    s = (d.select("source", v.alias("v"))
         .groupBy("source")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum("v").cast("bigint").alias("sv"),
              F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)"))
              .cast("decimal(38,0)").alias("svv")))
    s = s.withColumn(
        "std_micro",
        F.expr("CAST(floor(sqrt(CAST(CAST("
               "CAST(n AS DECIMAL(38,0)) * svv"
               " - CAST(sv AS DECIMAL(38,0)) * sv"
               " AS STRING) AS DOUBLE)) / n * 1e6 + 0.5) AS BIGINT)"))
    s = s.withColumn(
        "weight", F.expr("CAST(n AS DECIMAL(38,0)) * std_micro"))
    wall = Window.partitionBy()
    g = s.withColumn("tw", F.sum("weight").over(wall))
    alloc = g.select(
        "source", F.col("n").alias("n_docs"), "std_micro",
        F.least(
            F.col("n"),
            F.expr(f"CAST(CAST({NEYMAN_BUDGET} AS DECIMAL(38,0)) * weight"
                   " div greatest(tw, 1) AS BIGINT)"))
        .cast("bigint").alias("alloc_docs"))
    rnw = Window.partitionBy("source").orderBy(
        hash32_col(F.concat(F.lit("neyman_"),
                            F.col("doc_id").cast("string"))), "doc_id")
    picked = (d.select("source", "doc_id", v.alias("v"))
              .withColumn("rn", F.row_number().over(rnw))
              .join(alloc.select("source", "alloc_docs"), "source")
              .filter(F.col("rn") <= F.col("alloc_docs"))
              .groupBy("source")
              .agg(F.count("*").cast("bigint").alias("n_sampled"),
                   F.sum("v").cast("bigint").alias("ssum")))
    return (alloc.join(picked, "source", "left")
            .select(
                "source", "n_docs", "std_micro", "alloc_docs",
                F.coalesce("n_sampled", F.lit(0)).cast("bigint")
                .alias("n_sampled"),
                F.expr("CAST(coalesce(ssum, 0) * 1000000"
                       " div greatest(coalesce(n_sampled, 0), 1)"
                       " AS BIGINT)").alias("sample_mean_chars_ppm"))
            .orderBy("source"))


def _neyman_oracle() -> str:
    hkey = hash32_sql_duck("'neyman_' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sv,
               sum(CAST(n_chars AS HUGEINT) * n_chars) AS svv
        FROM documents GROUP BY 1),
    w AS (SELECT source, n, sv, svv,
                 CAST(floor(sqrt(CAST(CAST(
                     CAST(n AS HUGEINT) * svv
                     - CAST(sv AS HUGEINT) * sv
                     AS VARCHAR) AS DOUBLE)) / n * 1e6 + 0.5) AS BIGINT)
                   AS std_micro
          FROM s),
    g AS (SELECT *, CAST(n AS HUGEINT) * std_micro AS weight,
                 sum(CAST(n AS HUGEINT) * std_micro) OVER () AS tw
          FROM w),
    alloc AS (SELECT source, n AS n_docs, std_micro,
                     CAST(least(CAST(n AS HUGEINT),
                          CAST({NEYMAN_BUDGET} AS HUGEINT) * weight
                          // greatest(tw, 1)) AS BIGINT) AS alloc_docs
              FROM g),
    rnk AS (SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY {hkey}, doc_id) AS rn
            FROM documents),
    picked AS (SELECT r.source,
                      CAST(count(*) AS BIGINT) AS n_sampled,
                      CAST(sum(r.v) AS BIGINT) AS ssum
               FROM rnk r JOIN alloc a ON a.source = r.source
               WHERE r.rn <= a.alloc_docs GROUP BY 1)
    SELECT a.source, a.n_docs, a.std_micro, a.alloc_docs,
           CAST(coalesce(p.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(coalesce(p.ssum, 0) * 1000000
                // greatest(coalesce(p.n_sampled, 0), 1) AS BIGINT)
             AS sample_mean_chars_ppm
    FROM alloc a LEFT JOIN picked p ON p.source = a.source
    ORDER BY a.source
    """


REGISTRY["sample_neyman_allocation"].oracle = _neyman_oracle()


# ------------------------------------ data-quality expectations suite

# The Deequ / Great-Expectations-shaped contract validator an ingest
# pipeline gates on: a declarative suite of constraints (uniqueness,
# completeness, value ranges, referential integrity, freshness window)
# evaluated as VIOLATION COUNTS — one row per check, passed = zero
# violations. Every check on a table folds into ONE multi-column
# aggregate over a single scan (then unpivots to rows), so the suite
# costs one pass per table at any scale; the referential check is one
# anti-join keyed on the foreign key.
EXPECT_TS_LO = "2024-01-01"  # events freshness window (TESTDATA.md)
EXPECT_TS_HI = "2025-01-01"


@register(
    "quality_expectations_report",
    oracle=f"""
    SELECT table_name, check_name, violations,
           CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INT)
               AS passed
    FROM (
    SELECT 'orders' AS table_name, 'duplicate_orderkey' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS violations
    FROM orders
    UNION ALL
    SELECT 'orders', 'null_custkey',
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders', 'nonpositive_totalprice',
           CAST(count(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders', 'orphan_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'lineitem', 'quantity_out_of_range',
           CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'discount_out_of_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
                AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'null_extendedprice',
           CAST(count(*) FILTER (WHERE l_extendedprice IS NULL) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'customer', 'duplicate_custkey',
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'customer', 'null_name',
           CAST(count(*) FILTER (WHERE c_name IS NULL) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'events', 'ts_out_of_window',
           CAST(count(*) FILTER (WHERE ts < TIMESTAMP '{EXPECT_TS_LO}'
                                    OR ts >= TIMESTAMP '{EXPECT_TS_HI}')
                AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'events', 'null_user_id',
           CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents', 'empty_text',
           CAST(count(*) FILTER (WHERE text IS NULL
                                    OR length(trim(text)) = 0) AS BIGINT)
    FROM documents) t
    ORDER BY table_name, check_name
    """,
    tags=("quality", "expectations", "contract"),
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract expectations over the warehouse tables: key
    uniqueness, null completeness, value ranges, an events freshness
    window, and orders->customer referential integrity — one row per
    check with its violation count and pass flag, the gate an ingest
    job reads before publishing a batch.

    Scale shape: ALL checks on a table fold into one multi-column
    conditional aggregate over a single scan (count_if map-side
    partials), unpivoted to rows via Expand on the tiny 1-row result;
    the referential check is one LeftAnti join keyed on the foreign
    key. Adding a check adds a column to an existing pass, never
    another scan."""
    def checks(tname: str, df: DataFrame, cols: dict) -> DataFrame:
        agg = df.agg(*[expr.cast("bigint").alias(name)
                       for name, expr in cols.items()])
        return (agg.withColumn("table_name", F.lit(tname))
                .unpivot(["table_name"], list(cols),
                         "check_name", "violations"))

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")
    d = table(spark, sf_dir, "documents")
    parts = [
        checks("orders", o, {
            "duplicate_orderkey":
                F.count("*") - F.count_distinct("o_orderkey"),
            "null_custkey": F.count_if(F.col("o_custkey").isNull()),
            "nonpositive_totalprice":
                F.count_if(F.col("o_totalprice") <= 0),
        }),
        checks("lineitem", li, {
            "quantity_out_of_range":
                F.count_if((F.col("l_quantity") < 1)
                           | (F.col("l_quantity") > 50)),
            "discount_out_of_range":
                F.count_if((F.col("l_discount") < 0)
                           | (F.col("l_discount") > 0.1)),
            "null_extendedprice":
                F.count_if(F.col("l_extendedprice").isNull()),
        }),
        checks("customer", c, {
            "duplicate_custkey":
                F.count("*") - F.count_distinct("c_custkey"),
            "null_name": F.count_if(F.col("c_name").isNull()),
        }),
        checks("events", ev, {
            "ts_out_of_window":
                F.count_if((F.col("ts") < F.lit(EXPECT_TS_LO)
                            .cast("timestamp"))
                           | (F.col("ts") >= F.lit(EXPECT_TS_HI)
                              .cast("timestamp"))),
            "null_user_id": F.count_if(F.col("user_id").isNull()),
        }),
        checks("documents", d, {
            "empty_text":
                F.count_if(F.col("text").isNull()
                           | (F.length(F.trim(F.col("text"))) == 0)),
        }),
        (o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
         .agg(F.count("*").cast("bigint").alias("violations"))
         .select(F.lit("orders").alias("table_name"),
                 F.lit("orphan_custkey").alias("check_name"),
                 "violations")),
    ]
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    return (out.select("table_name", "check_name", "violations",
                       F.when(F.col("violations") == 0, 1).otherwise(0)
                       .cast("int").alias("passed"))
            .orderBy("table_name", "check_name"))


# ----------------------------------- Pareto-frontier data selection

# Multi-objective curation: when two quality axes pull against each
# other (here: document length vs lexical diversity), the principled
# keep-set is the PARETO FRONTIER — documents no other document beats
# on both axes at once (q dominates p iff q >= p on both and > on at
# least one; equal pairs never dominate each other). The distributed
# shape exploits that skylines are MERGEABLE: skyline(S1 ∪ S2) =
# skyline(skyline(S1) ∪ skyline(S2)) (dominance is transitive — p's
# dominator is itself dominated only by another dominator of p), so a
# per-Arrow-batch local skyline prunes the dominated mass in a pure
# map pass, and only the bounded survivor set rides the single
# exchange into the exact global pass. The global pass and the oracle
# share one relational formulation: sorted by x, a point survives iff
# no strictly-greater-x point reaches its y (RANGE-frame running max)
# and no >=-x point exceeds its y. Generalizes to more axes by
# swapping the frame trick for the NOT EXISTS form; 2 axes keep both
# engines on the O(n log n) window plan.


def _pf_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact skyline of one batch (keep = non-dominated rows,
    duplicates of a frontier point all kept)."""
    p = pdf.sort_values(["x", "y"], ascending=False, kind="mergesort")
    keep = []
    best_strict = -1  # max y among rows with strictly greater x
    gx, gmax = None, -1
    for t in p.itertuples():
        if t.x != gx:
            best_strict = max(best_strict, gmax)
            gx, gmax = t.x, t.y  # group head carries the group's max y
        if t.y > best_strict and t.y == gmax:
            keep.append(t.Index)
    return pdf.loc[keep]


def _pf_local(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if not pdf.empty:
            yield _pf_batch(pdf)


def _pf_metrics(d: DataFrame) -> DataFrame:
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("x"),
        F.size(F.array_distinct("toks")).cast("long").alias("y"))


def _pf_global_skyline(df: DataFrame) -> DataFrame:
    """The exact skyline as a relational plan (the oracle's twin):
    explicit single-partition windows — input is the bounded local-
    skyline survivor set, so one partition is the point, not a
    hazard."""
    w1 = (Window.partitionBy(F.lit(0)).orderBy("x")
          .rangeBetween(1, Window.unboundedFollowing))
    w2 = (Window.partitionBy(F.lit(0)).orderBy("x")
          .rangeBetween(Window.currentRow, Window.unboundedFollowing))
    return (df.withColumn("m1", F.max("y").over(w1))
            .withColumn("m2", F.max("y").over(w2))
            .filter((F.col("m1").isNull() | (F.col("m1") < F.col("y")))
                    & (F.col("m2") <= F.col("y")))
            .drop("m1", "m2"))


@register(
    "curation_pareto_frontier",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks
               FROM documents),
    m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS x,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS y
          FROM t),
    s AS (SELECT doc_id, x, y,
                 max(y) OVER (ORDER BY x RANGE BETWEEN 1 FOLLOWING
                              AND UNBOUNDED FOLLOWING) AS m1,
                 max(y) OVER (ORDER BY x RANGE BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING) AS m2
          FROM m)
    SELECT doc_id, x AS n_tokens, y AS n_distinct_tokens
    FROM s
    WHERE (m1 IS NULL OR m1 < y) AND m2 <= y
    ORDER BY n_tokens DESC, n_distinct_tokens DESC, doc_id
    """,
    tags=("llm", "curation", "pareto", "skyline", "mergeable"),
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-frontier document selection over (token count, distinct
    token count) — the multi-objective keep-set when length and
    lexical diversity trade off (module comment above). One row per
    non-dominated document; duplicate-metric frontier documents all
    kept.

    Scale shape: metrics are map-side integer expressions; the local
    skyline is a pure map pass (mapInPandas per Arrow batch — no
    exchange touches per-document volume; plan-audited), and only its
    bounded survivor union crosses the single exchange into the exact
    global window pass (explicit one-partition windows over survivors
    only — the two-phase top-K discipline applied to a mergeable
    summary that happens to be a skyline)."""
    d = spread(table(spark, sf_dir, "documents"))
    local = (_pf_metrics(d)
             .mapInPandas(_pf_local, "doc_id long, x long, y long"))
    return (_pf_global_skyline(local)
            .select("doc_id",
                    F.col("x").alias("n_tokens"),
                    F.col("y").alias("n_distinct_tokens"))
            .orderBy(F.col("n_tokens").desc(),
                     F.col("n_distinct_tokens").desc(), "doc_id"))


# ------------------------------ weighted reservoir sample (A-ES)

# Weighted sampling without replacement is how a mixing pipeline draws
# a quality-weighted subset in ONE distributed pass: A-ES / A-ExpJ
# (Efraimidis & Spirakis) assigns each row the key u^(1/w) for uniform
# u and keeps the global top-K keys — provably equivalent to drawing K
# items sequentially without replacement with probability proportional
# to weight. Determinism and engine parity: u derives from the audited
# md5 hash32 of the doc id ((h+1)/2^32, never 0), the key rides as
# ln(u)/w scaled to int64 micro-units (monotone in u^(1/w); floor is
# toward -inf in both engines; the only cross-engine hazard is a libm
# ln() 1-ulp difference landing exactly on a quantization boundary —
# probability ~1e-15 per row, the same accepted exposure as the ppm
# cosine quantization used throughout), ties broken on doc_id. The
# top-K is orderBy().limit(K) — TakeOrderedAndProject's per-partition
# K-row heaps then a K x partitions driver merge, never a global sort:
# the selection is one scan + one bounded gather at any corpus size.
WR_K = 20  # sample size


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH m AS (SELECT doc_id,
                      CAST(len({tokens_sql('text')}) AS BIGINT) AS weight
               FROM documents),
    k AS (SELECT doc_id, weight,
                 CAST(floor(ln((({hash32_sql_duck("CAST(doc_id AS VARCHAR)")})
                                + 1) / 4294967296.0)
                            / weight * 1000000) AS BIGINT) AS key_micro
          FROM m WHERE weight > 0)
    SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, weight, key_micro
    FROM k ORDER BY key_micro DESC, doc_id LIMIT {WR_K}
    """,
    tags=("llm", "sampling", "weighted", "reservoir"),
)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass weighted reservoir sample (A-ES, module comment above):
    token count as the quality weight, hash-derived uniforms, global
    top-{WR_K} by the quantized exponential key — the deterministic,
    engine-checkable form of "sample K documents proportional to
    weight, without replacement".

    Scale shape: weight and key are map-side expressions over the scan
    (one md5 per row); the only 'shuffle' is TakeOrderedAndProject's
    K-row-per-partition gather; no full sort, no full-key aggregation
    anywhere."""
    from ..functions.hashing import hash32_col

    d = spread(table(spark, sf_dir, "documents"))
    m = d.select("doc_id",
                 F.size(tokens_col(F.col("text"))).cast("long")
                 .alias("weight"))
    k = (m.filter(F.col("weight") > 0)
         .select("doc_id", "weight",
                 F.floor(F.log((hash32_col(F.col("doc_id").cast("string"))
                                + 1).cast("double") / F.lit(4294967296.0))
                         / F.col("weight") * 1e6).cast("long")
                 .alias("key_micro")))
    topk = k.orderBy(F.col("key_micro").desc(), "doc_id").limit(WR_K)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("key_micro").desc(), "doc_id")
    return (topk.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "doc_id", "weight", "key_micro")
            .orderBy("rank"))


# ------------------------------- split leakage report (dedup x split)

# Dedup and splitting interact: a hash-mod train/val split
# (train_val_split) is reproducible, but if two NEAR-DUPLICATE
# documents land on opposite sides of the boundary, the val set leaks
# into training and every eval on it is contaminated — the standard
# failure mode dedup-aware splitting exists to prevent. This operator
# classifies every verified near-dup pair (the audited
# dedup_minhash_lsh pipeline, identical banding + Jaccard verify) by
# the split memberships of its two sides and reports one row per
# class: train-train / val-val (benign) and train-val (the leak),
# with pair counts and the Jaccard range. The split label is the same
# pure id-hash function train_val_split certifies, so the report
# composes two already-certified definitions rather than inventing a
# third.


def _split_leakage_oracle() -> str:
    from ..operators.dedup import jaccard_sql
    from ..functions.hashing import hash32_sql_duck

    jac = jaccard_sql("sa.sids", "sb.sids")
    def lab(col: str) -> str:
        return (f"CASE WHEN {hash32_sql_duck(f'CAST({col} AS VARCHAR)')}"
                f" % 100 < 95 THEN 'train' ELSE 'val' END")
    return f"""
    {_SH_CTE},
    pairs AS (SELECT doc_a, doc_b, {jac} AS jaccard
              FROM cand JOIN s sa ON sa.doc_id = doc_a
                        JOIN s sb ON sb.doc_id = doc_b
              WHERE {jac} >= {NEAR_DUP_JACCARD}),
    lab AS (SELECT {lab('doc_a')} AS la, {lab('doc_b')} AS lb, jaccard
            FROM pairs),
    norm AS (SELECT least(la, lb) AS lo, greatest(la, lb) AS hi, jaccard
             FROM lab)
    SELECT lo || '-' || hi AS split_pair,
           lo <> hi AS is_leak,
           CAST(count(*) AS BIGINT) AS n_pairs,
           min(jaccard) AS min_jaccard,
           max(jaccard) AS max_jaccard
    FROM norm GROUP BY lo, hi
    ORDER BY split_pair
    """


@register(
    "split_leakage_report",
    oracle=None,  # set below (composes dedup.py's shared CTE chain)
    tags=("llm", "split", "dedup-minhash-lsh", "leakage"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/val split (module comment
    above): every verified MinHash-LSH near-dup pair classified by its
    sides' split memberships — one row per class with the pair count
    and Jaccard range; ``is_leak`` marks the train-val class whose
    count a dedup-aware split drives to zero.

    Scale shape: the pair pipeline is dedup_minhash_lsh's audited plan
    verbatim (banded candidates, id-keyed verify joins, int-signature
    shuffles); the split labels are map-side md5 expressions over the
    pair ids (no join against a membership table — membership is a
    pure function of the id, the property train_val_split certifies);
    the report is a partial+final aggregate onto <= 3 class rows."""
    from ..functions.hashing import hash32_col

    def lab(col: str):
        return F.when(
            hash32_col(F.col(col).cast("string")) % 100 < 95, "train"
        ).otherwise("val")

    pairs = _minhash_pairs(spark, sf_dir, fast=False)
    norm = (pairs.select(
        F.least(lab("doc_a"), lab("doc_b")).alias("lo"),
        F.greatest(lab("doc_a"), lab("doc_b")).alias("hi"),
        "jaccard"))
    return (norm.groupBy("lo", "hi")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.min("jaccard").alias("min_jaccard"),
                 F.max("jaccard").alias("max_jaccard"))
            .select(F.concat_ws("-", "lo", "hi").alias("split_pair"),
                    (F.col("lo") != F.col("hi")).alias("is_leak"),
                    "n_pairs", "min_jaccard", "max_jaccard")
            .orderBy("split_pair"))


REGISTRY["split_leakage_report"].oracle = _split_leakage_oracle()


# --------------------------- dedup-aware splitting (the leakage FIX)

# split_leakage_report MEASURES the failure mode of hashing
# documents to train/val independently — near-duplicate pairs straddle
# the boundary and contaminate every eval. This operator is the fix:
# hash the near-dup CLUSTER CANON (the component's minimum doc_id, the
# same canon dedup_components certifies; singletons are their own
# canon), so every member of a cluster lands on the same side BY
# CONSTRUCTION. The report emits per-split doc/cluster budgets plus
# the theorem column: the count of verified near-dup pairs crossing
# the boundary, provably zero for ANY corpus (both endpoints of a
# pair share a component, hence a canon, hence a side) — the oracle
# recomputes it from the recursive-CTE closure and gets 0 the hard way.


def _dedup_split_oracle() -> str:
    from ..operators.dedup import jaccard_sql
    from ..functions.hashing import hash32_sql_duck

    def lab(col: str) -> str:
        return (f"CASE WHEN {hash32_sql_duck(f'CAST({col} AS VARCHAR)')}"
                f" % 100 < 95 THEN 'train' ELSE 'val' END")

    return f"""
    {_SH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand JOIN s sa ON sa.doc_id = doc_a
                  JOIN s sb ON sb.doc_id = doc_b
        WHERE {jaccard_sql('sa.sids', 'sb.sids')} >= {NEAR_DUP_JACCARD}),
    nodes AS (SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION SELECT doc_b AS doc_id FROM pairs)),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, min(dst) AS comp
             FROM reach GROUP BY src),
    canon AS (SELECT d.doc_id,
                     coalesce(c.comp, d.doc_id) AS canon
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
    lab AS (SELECT doc_id, canon, {lab('canon')} AS split FROM canon),
    leak AS (SELECT CAST(count(*) AS BIGINT) AS n
             FROM pairs p
             JOIN lab la ON la.doc_id = p.doc_a
             JOIN lab lb ON lb.doc_id = p.doc_b
             WHERE la.split <> lb.split)
    SELECT l.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT l.canon) AS BIGINT) AS n_clusters,
           leak.n AS leak_pairs_global
    FROM lab l CROSS JOIN leak
    GROUP BY l.split, leak.n
    ORDER BY split
    """


@register(
    "curation_dedup_aware_split",
    oracle=None,  # set below (renders the shared CTE chain)
    tags=("llm", "split", "dedup-components", "leakage", "action"),
)
def q_dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-canon train/val split (module comment above): one row
    per split with document and cluster budgets, plus the global count
    of near-dup pairs crossing the boundary — zero by construction,
    recomputed (not assumed) on both engines.

    Scale shape: the pair pipeline and min-label components are the
    audited dedup_components plan verbatim; the canon decoration is
    one id-keyed LEFT join from the corpus to the (pair-graph-sized)
    component table; split labels are map-side md5 expressions over
    the canon; the report is a partial+final aggregate onto 2 keys
    with a 1-row leak count broadcast in."""
    from ..operators.dedup import connected_components
    from ..functions.hashing import hash32_col

    pairs = pin(_minhash_pairs(spark, sf_dir, fast=False)
                .select("doc_a", "doc_b"))
    comp = connected_components(pairs)
    d = table(spark, sf_dir, "documents").select("doc_id")
    canon = (d.join(comp, "doc_id", "left")
             .select("doc_id",
                     F.coalesce("comp", "doc_id").alias("canon")))
    lab = canon.select(
        "doc_id", "canon",
        F.when(hash32_col(F.col("canon").cast("string")) % 100 < 95,
               "train").otherwise("val").alias("split"))
    lab = pin(lab)
    la = lab.select(F.col("doc_id").alias("doc_a"),
                    F.col("split").alias("split_a"))
    lb = lab.select(F.col("doc_id").alias("doc_b"),
                    F.col("split").alias("split_b"))
    leak = (pairs.join(la, "doc_a").join(lb, "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .agg(F.count("*").cast("long").alias("leak_pairs_global")))
    return (lab.groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.count_distinct("canon").cast("long").alias("n_clusters"))
            .crossJoin(F.broadcast(leak))
            .select("split", "n_docs", "n_clusters", "leak_pairs_global")
            .orderBy("split"))


def _render_dedup_split_oracle() -> None:
    REGISTRY["curation_dedup_aware_split"].oracle = _dedup_split_oracle()


_render_dedup_split_oracle()


# ------------------------------ quality-gate agreement (Cohen kappa)

# The three certified gates, as 0/1 keep flags over one scan:
#   c4     — quality_filter_pipeline's verdict == 'keep'
#   gopher — quality_gopher_rules' conjunction
#   logreg — trained quality score at the p >= 0.5 operating point
#            (pi >= 500000 on the micro-unit grid score_quality_logreg
#            certifies)
GATE_PAIRS = (("c4", "gopher"), ("c4", "logreg"), ("gopher", "logreg"))


def _gate_flags_sql() -> str:
    """flags(doc_id, k_c4, k_gopher, k_logreg) — each gate's keep flag
    rendered from the SAME expression families its certified operator
    uses (6-dp-rounded ratios before thresholds, trained weights via
    the replayed GD CTE chain)."""
    ts = token_stats_sql("text")
    qs = quality_sql("text")
    c4 = (f"CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0 "
          f"WHEN {ts['n_re_tokens']} < 5 THEN 0 "
          f"WHEN {qs['punct_ratio']} > 0.3 THEN 0 "
          f"WHEN {qs['stopword_ratio']} < 0.05 THEN 0 "
          f"ELSE 1 END")
    mean_len = sim.round6_stable_sql(
        "coalesce(list_sum(list_transform("
        "regexp_extract_all(lower(text), '[a-z0-9]+'),"
        " t -> length(t))), 0)"
        f" / CAST(greatest({ts['n_re_tokens']}, 1) AS DOUBLE)")
    gopher = (f"CAST(NOT ({ts['n_re_tokens']} < {GOPHER_MIN_TOKENS}"
              f" OR {ts['n_re_tokens']} > {GOPHER_MAX_TOKENS}"
              f" OR {mean_len} < {GOPHER_MIN_MEAN_LEN}"
              f" OR {mean_len} > {GOPHER_MAX_MEAN_LEN}"
              f" OR {qs['punct_ratio']} > {GOPHER_MAX_PUNCT}"
              f" OR {qs['stopword_ratio']} < {GOPHER_MIN_STOP})"
              f" AS INT)")
    return f"""
    WITH {_CAL_FEAT_CTE},
    {lg.logreg_train_cte_sql()},
    lrf AS (SELECT f.doc_id,
                   CAST(CAST(floor(1.0 / (1.0 + exp(-({lg.margin_sql('w')})))
                                   * 1e6 + 0.5) AS BIGINT) >= 500000
                        AS INT) AS k_logreg
            FROM feat f CROSS JOIN w{lg.ROUNDS} w),
    flags AS (SELECT d.doc_id,
                     {c4} AS k_c4,
                     {gopher} AS k_gopher,
                     lrf.k_logreg
              FROM documents d JOIN lrf ON lrf.doc_id = d.doc_id)"""


def _gate_agreement_oracle() -> str:
    arms = []
    for a, b in GATE_PAIRS:
        arms.append(f"""
    SELECT '{a}' AS gate_a, '{b}' AS gate_b,
           CAST(sum(k_{a} * k_{b}) AS BIGINT) AS n_both,
           CAST(sum(k_{a} * (1 - k_{b})) AS BIGINT) AS n_a_only,
           CAST(sum((1 - k_{a}) * k_{b}) AS BIGINT) AS n_b_only,
           CAST(sum((1 - k_{a}) * (1 - k_{b})) AS BIGINT) AS n_neither,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST((sum(k_{a} * k_{b}) + sum((1 - k_{a}) * (1 - k_{b})))
                * 1000000 // count(*) AS BIGINT) AS agree_ppm,
           CASE WHEN (CAST(sum(k_{a}) AS BIGINT) = count(*)
                      AND CAST(sum(k_{b}) AS BIGINT) = count(*))
                     OR (sum(k_{a}) = 0 AND sum(k_{b}) = 0)
                THEN NULL
                ELSE {sim.round6_stable_sql(
                    f"((CAST(sum(k_{a} * k_{b}) "
                    f"+ sum((1 - k_{a}) * (1 - k_{b})) AS DOUBLE)"
                    f" / count(*))"
                    f" - ((CAST(sum(k_{a}) AS DOUBLE) / count(*))"
                    f"    * (CAST(sum(k_{b}) AS DOUBLE) / count(*))"
                    f"  + (1.0 - CAST(sum(k_{a}) AS DOUBLE) / count(*))"
                    f"    * (1.0 - CAST(sum(k_{b}) AS DOUBLE) / count(*))))"
                    f" / (1.0"
                    f" - ((CAST(sum(k_{a}) AS DOUBLE) / count(*))"
                    f"    * (CAST(sum(k_{b}) AS DOUBLE) / count(*))"
                    f"  + (1.0 - CAST(sum(k_{a}) AS DOUBLE) / count(*))"
                    f"    * (1.0 - CAST(sum(k_{b}) AS DOUBLE) / count(*))))")}
           END AS kappa6
    FROM flags""")
    return (_gate_flags_sql()
            + "\n    SELECT * FROM ("
            + "\n    UNION ALL".join(arms)
            + ") ORDER BY gate_a, gate_b")


@register(
    "quality_gate_agreement",
    oracle=None,  # set below (renders the gate expression families)
    tags=("llm", "quality-filter", "agreement", "diagnostic"),
)
def q_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise agreement between the three certified quality gates
    (module comment above): one row per unordered gate pair with the
    2x2 confusion counts, raw agreement in ppm, and Cohen's kappa at
    6 dp (NULL for the degenerate both-gates-constant-and-equal case,
    decided by the same integer predicate on both engines).

    Scale shape: the gate flags are ONE scan — C4 and Gopher are pure
    JVM expressions, the logreg gate inlines the trained weights as
    literals (training is the certified bounded-sample loop) — and
    each pair row is a partial+final aggregate of 0/1 products; the
    kappa arithmetic happens on <= 3 summary rows. Nothing beyond the
    flag scan grows with the corpus."""
    d = spread(table(spark, sf_dir, "documents"))
    ts = token_stats_cols(F.col("text"))
    qs = quality_cols(F.col("text"))
    c4 = (F.when(F.length(F.trim(F.coalesce(F.col("text"),
                                            F.lit("")))) == 0, 0)
          .when(ts["n_re_tokens"] < 5, 0)
          .when(qs["punct_ratio"] > 0.3, 0)
          .when(qs["stopword_ratio"] < 0.05, 0)
          .otherwise(1))
    from ..operators.textstats import tokens_col
    toks = tokens_col(F.col("text"))
    n_tok = ts["n_re_tokens"]
    mean_len = sim.round6_stable(
        F.coalesce(
            F.aggregate(F.transform(toks, F.length),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x),
            F.lit(0).cast("long"))
        / F.greatest(n_tok, F.lit(1)).cast("double"))
    gopher = (~((n_tok < GOPHER_MIN_TOKENS) | (n_tok > GOPHER_MAX_TOKENS)
                | (mean_len < GOPHER_MIN_MEAN_LEN)
                | (mean_len > GOPHER_MAX_MEAN_LEN)
                | (qs["punct_ratio"] > GOPHER_MAX_PUNCT)
                | (qs["stopword_ratio"] < GOPHER_MIN_STOP))).cast("int")
    fcols = lg.feature_cols(F.col("text"))
    feat = pin(d.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()]))
    weights = lg.train_logreg(feat)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-lg._margin(weights)))
    lrf = feat.select(
        "doc_id",
        (F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long")
         >= 500000).cast("int").alias("k_logreg"))
    flags = pin(
        d.select("doc_id", c4.alias("k_c4"), gopher.alias("k_gopher"))
        .join(lrf, "doc_id"))
    out = None
    for a, b in GATE_PAIRS:
        ka, kb = F.col(f"k_{a}"), F.col(f"k_{b}")
        agg = flags.agg(
            F.sum(ka * kb).cast("long").alias("n_both"),
            F.sum(ka * (1 - kb)).cast("long").alias("n_a_only"),
            F.sum((1 - ka) * kb).cast("long").alias("n_b_only"),
            F.sum((1 - ka) * (1 - kb)).cast("long").alias("n_neither"),
            F.count("*").cast("long").alias("n_docs"))
        po = ((F.col("n_both") + F.col("n_neither")).cast("double")
              / F.col("n_docs").cast("double"))
        pa = ((F.col("n_both") + F.col("n_a_only")).cast("double")
              / F.col("n_docs").cast("double"))
        pb = ((F.col("n_both") + F.col("n_b_only")).cast("double")
              / F.col("n_docs").cast("double"))
        pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
        degenerate = (
            ((F.col("n_both") + F.col("n_a_only") == F.col("n_docs"))
             & (F.col("n_both") + F.col("n_b_only") == F.col("n_docs")))
            | ((F.col("n_both") + F.col("n_a_only") == 0)
               & (F.col("n_both") + F.col("n_b_only") == 0)))
        row = agg.select(
            F.lit(a).alias("gate_a"), F.lit(b).alias("gate_b"),
            "n_both", "n_a_only", "n_b_only", "n_neither", "n_docs",
            F.expr("cast((n_both + n_neither) * 1000000 div n_docs"
                   " as bigint)").alias("agree_ppm"),
            F.when(degenerate, F.lit(None).cast("double"))
             .otherwise(sim.round6_stable(
                 (po - pe) / (F.lit(1.0) - pe))).alias("kappa6"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gate_a", "gate_b")


def _render_gate_agreement_oracle() -> None:
    REGISTRY["quality_gate_agreement"].oracle = _gate_agreement_oracle()


_render_gate_agreement_oracle()
