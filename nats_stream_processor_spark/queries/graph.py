"""Graph queries over the embedding k-NN graph: the shared k-NN graph
builder (Spark frame + DuckDB CTE), PageRank, components, BFS, NN-descent,
greedy/beam search, incremental insert and the rebuild policy
(``graph_``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..operators import similarity as sim


# The shared k-NN graph (sim_knn_graph, graph_pagerank_knn,
# graph_knn_hubness and the graph_knn_* family): the Spark builder and
# its DuckDB CTE twin.
KNN_GRAPH_K = 3


_KNN_CTE = f"""
WITH e AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
           FROM embeddings),
n AS (SELECT vec_id, demb, {sim.norm_sql('demb')} AS nrm FROM e),
b AS (SELECT vec_id, {sim.lsh_buckets_multi_sql('demb')} AS buckets
      FROM n),
x AS (SELECT vec_id, i AS tbl, buckets[i + 1] AS bucket
      FROM b CROSS JOIN
           (SELECT unnest(range(0, {sim.LSH_TABLES})) AS i) u),
cand AS (SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb
         FROM x a JOIN x c ON c.tbl = a.tbl AND c.bucket = a.bucket
                          AND a.vec_id < c.vec_id),
sc AS MATERIALIZED (SELECT cand.va, cand.vb,
              round({sim.dot_unrolled_sql('na.demb', 'nb.demb')}
                    / (na.nrm * nb.nrm), 6) AS cosine
       FROM cand JOIN n na ON na.vec_id = cand.va
                 JOIN n nb ON nb.vec_id = cand.vb),
dir AS (SELECT va AS src, vb AS dst, cosine FROM sc
        UNION ALL
        SELECT vb AS src, va AS dst, cosine FROM sc),
knn AS MATERIALIZED (SELECT src, dst, cosine, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                                         ORDER BY cosine DESC, dst) AS rn
            FROM dir)
        WHERE rn <= {KNN_GRAPH_K})
"""


def _knn_graph_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cosine, rn<=K): the directed approximate k-NN graph —
    shared by sim_knn_graph, the PageRank centrality query and the
    hubness histogram."""

    e = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("demb"))
    n = pin(e.select("vec_id", "demb",
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
                  F.col("demb").alias("demb_a"), F.col("nrm").alias("nrm_a"))
    nb = n.select(F.col("vec_id").alias("vb"),
                  F.col("demb").alias("demb_b"), F.col("nrm").alias("nrm_b"))
    sc = (cand.join(na, "va").join(nb, "vb")
          .select("va", "vb",
                  sim.cosine(sim.dot(F.col("demb_a"), F.col("demb_b")),
                             F.col("nrm_a"), F.col("nrm_b"))
                     .alias("cosine")))
    directed = (
        sc.select(F.col("va").alias("src"), F.col("vb").alias("dst"),
                  "cosine")
        .unionAll(sc.select(F.col("vb").alias("src"),
                            F.col("va").alias("dst"), "cosine")))
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), "dst")
    return (
        directed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_GRAPH_K)
    )


# --------------------------------- PageRank centrality on the kNN graph

PR_ROUNDS = 3
PR_DAMP = "CAST(0.85 AS DOUBLE)"
PR_TELE = "CAST(0.15 AS DOUBLE)"
PR_QUANT = 1e12


def _pagerank_ctes(rounds: int = PR_ROUNDS) -> str:
    """CTE chain for power iteration over the knn edge set: per-edge
    contributions quantized to a 1e-12 int grid and summed as int64
    (order-independent, same discipline as the JS/LM queries); dangling
    mass redistributed uniformly each round."""
    parts = [
        "edges AS (SELECT src, dst FROM knn)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        "nodes AS (SELECT vec_id FROM e)",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "r0 AS (SELECT vec_id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(
            f"c{t} AS (SELECT ed.dst, CAST(sum(CAST(floor("
            f"(r.r / deg.deg) * {PR_QUANT!r} + 0.5) AS BIGINT)) AS BIGINT)"
            f" AS cq"
            f" FROM edges ed JOIN r{p} r ON r.vec_id = ed.src"
            f" JOIN deg ON deg.src = ed.src GROUP BY ed.dst)")
        parts.append(
            f"d{t} AS (SELECT CAST(coalesce(sum(CAST(floor("
            f"r.r * {PR_QUANT!r} + 0.5) AS BIGINT)), 0) AS BIGINT) AS dq"
            f" FROM r{p} r LEFT JOIN deg ON deg.src = r.vec_id"
            f" WHERE deg.src IS NULL)")
        parts.append(
            f"r{t} AS (SELECT no.vec_id,"
            f" (({PR_TELE} / nn.n)"
            f" + {PR_DAMP} * (coalesce(c.cq, 0) / {PR_QUANT!r}))"
            f" + {PR_DAMP} * ((d.dq / {PR_QUANT!r}) / nn.n) AS r"
            f" FROM nodes no LEFT JOIN c{t} c ON c.dst = no.vec_id"
            f" CROSS JOIN d{t} d CROSS JOIN nn)")
    return ",\n".join(parts)


@register(
    "graph_pagerank_knn",
    oracle=f"""
    {_KNN_CTE},
    {_pagerank_ctes()}
    SELECT vec_id, {sim.round6_stable_sql('r')} AS pagerank6
    FROM r{PR_ROUNDS} ORDER BY vec_id
    """,
    tags=("llm", "graph-pagerank", "iterative"),
)
def q_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the approximate k-NN similarity graph —
    a representativeness weight for data selection: vectors that many
    other vectors point to as a nearest neighbor are central to the
    corpus distribution; tail/outlier items score near the teleport
    floor. {PR_ROUNDS} power-iteration rounds with damping 0.85 and
    uniform redistribution of dangling mass (nodes with no outgoing
    edges keep the total mass conserved).

    Exactness: every edge contribution r/deg quantizes to a 1e-12 int64
    grid before summation (partition-order independent; the same
    discipline as the JS-divergence and LM queries), the dangling sum is
    one quantized scalar, and the per-round update is one fixed IEEE op
    sequence — so ranks stay bit-identical to the oracle's CTE replay
    round for round.

    Scale shape: the edge list is corpus x k; each round is one join on
    src (edges x current ranks, both partitioned by the key), one
    dst-keyed aggregate, and a 1-row dangling scalar broadcast back —
    the standard distributed PageRank plan. The driver never sees data,
    only the loop index; rank lineage is truncated per round with an
    eager localCheckpoint (same pattern as connected_components)."""
    knn = _knn_graph_df(spark, sf_dir)
    edges = pin(knn.select("src", "dst"))
    deg = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    nodes = table(spark, sf_dir, "embeddings").select("vec_id")
    nn = nodes.agg(F.count("*").cast("bigint").alias("n"))
    qf = F.lit(PR_QUANT)
    damp, tele = F.expr(PR_DAMP), F.expr(PR_TELE)

    r = (nodes.crossJoin(F.broadcast(nn))
         .select("vec_id", (F.lit(1.0) / F.col("n")).alias("r"))
         .localCheckpoint(eager=True))
    for _t in range(PR_ROUNDS):
        contrib = (
            edges.join(r.withColumnRenamed("vec_id", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.floor((F.col("r") / F.col("deg")) * qf
                               + F.lit(0.5)).cast("long"))
                  .cast("bigint").alias("cq")))
        dang = (
            r.join(deg.withColumnRenamed("src", "vec_id"), "vec_id",
                   "left_anti")
            .agg(F.coalesce(
                F.sum(F.floor(F.col("r") * qf + F.lit(0.5)).cast("long")),
                F.lit(0)).cast("bigint").alias("dq")))
        r = (
            nodes.join(contrib.withColumnRenamed("dst", "vec_id"),
                       "vec_id", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(nn))
            .select(
                "vec_id",
                (((tele / F.col("n"))
                  + damp * (F.coalesce("cq", F.lit(0)) / qf))
                 + damp * ((F.col("dq") / qf) / F.col("n"))).alias("r"))
            .localCheckpoint(eager=True))
    return (
        r.select("vec_id", sim.round6_stable(F.col("r")).alias("pagerank6"))
        .orderBy("vec_id")
    )


# ------------------------------------------- kNN hubness diagnostic


def _hubness_oracle() -> str:
    return f"""
    {_KNN_CTE},
    ind AS (SELECT e.vec_id,
                   coalesce(k.c, 0) AS in_degree
            FROM (SELECT vec_id FROM embeddings) e
            LEFT JOIN (SELECT dst, CAST(count(*) AS BIGINT) AS c
                       FROM knn GROUP BY 1) k ON k.dst = e.vec_id)
    SELECT in_degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM ind GROUP BY 1 ORDER BY in_degree
    """


@register(
    "graph_knn_hubness",
    oracle=_hubness_oracle(),
    tags=("llm", "knn-graph", "hubness"),
)
def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostic over the k-NN graph: the IN-degree histogram
    (out-degree is K by construction; in-degree is not). A heavy tail
    here is the classic high-dimensional ANN failure mode — a few hub
    vectors appear in everyone's neighbor list and drag retrieval
    quality — and the fix (re-centering, cosine vs dot) is chosen from
    this table. Nodes nobody points at (in-degree 0) are included via
    the left join.

    Scale shape: reuses the bucket-bounded kNN build (one pinned LSH
    bucket self-join), then two small aggregates on ids only."""

    knn = _knn_graph_df(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    indeg = knn.groupBy("dst").agg(F.count("*").alias("c"))
    ind = (e.join(indeg, e["vec_id"] == indeg["dst"], "left")
           .select(F.coalesce("c", F.lit(0)).alias("in_degree")))
    return (ind.groupBy("in_degree").agg(F.count("*").alias("n_nodes"))
            .orderBy("in_degree"))


# --------------------------------------- two-hop kNN reach

@register(
    "graph_knn_two_hop",
    oracle=None,  # set below (imports the shared kNN CTE lazily)
    tags=("llm", "graph", "two-hop"),
)
def q_knn_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size over the approximate kNN graph — the
    expansion statistic that predicts label-propagation / graph-dedup
    fan-out (hub-heavy graphs explode at hop 2). reach(v) = |{u != v :
    dist(v,u) <= 2 hops}|, reported as a histogram.

    Scale shape: one self-join of a k-bounded edge list on the hop key —
    each node contributes at most k^2 candidate second hops (k=3), so
    the join output is k^2 * |V|, never |V|^2; the distinct and the two
    aggregations are keyed shuffles on node ids."""

    g = pin(_knn_graph_df(spark, sf_dir).select("src", "dst"))
    a, b = g.alias("a"), g.alias("b")
    two = (a.join(b, F.col("a.dst") == F.col("b.src"))
           .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst")))
    reach = (g.unionAll(two)
             .filter(F.col("dst") != F.col("src"))
             .distinct()
             .groupBy("src").agg(F.count("*").cast("bigint").alias("reach")))
    return (reach.groupBy("reach")
            .agg(F.count("*").cast("bigint").alias("n_nodes"))
            .orderBy("reach"))


def _two_hop_oracle() -> str:
    return f"""
    {_KNN_CTE},
    g AS (SELECT src, dst FROM knn),
    two AS (SELECT a.src, b.dst FROM g a JOIN g b ON a.dst = b.src),
    r AS (SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS reach
          FROM (SELECT * FROM g UNION ALL SELECT * FROM two)
          WHERE dst <> src GROUP BY src)
    SELECT reach, CAST(count(*) AS BIGINT) AS n_nodes
    FROM r GROUP BY reach ORDER BY reach
    """


REGISTRY["graph_knn_two_hop"].oracle = _two_hop_oracle()


# --------------------------------------- kNN semantic components

@register(
    "graph_knn_components",
    oracle=None,  # set below
    tags=("llm", "graph", "components", "iterative"),
)
def q_knn_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the kNN similarity graph — semantic
    grouping WITHOUT training a quantizer (the graph-native alternative
    to k-means clustering): mutual-reachability components of the
    LSH-built kNN edges, reported as a component-size histogram.

    Reuses the shared banded kNN builder and the iterative min-label
    propagation operator (one shuffle + localCheckpoint per round,
    driver carries a convergence count only); the oracle replays the
    fixpoint as a recursive transitive-closure CTE. Isolated vectors
    (no edges at this k) are counted as singleton components via the
    left anti side."""
    from ..operators.dedup import connected_components

    g = pin(_knn_graph_df(spark, sf_dir).select("src", "dst"))
    # The kNN graph is DIRECTED (dst in src's top-k does not imply the
    # reverse); canonicalize every edge with least/greatest — filtering
    # src < dst would silently drop edges present only as (big -> small).
    edges = (g.select(F.least("src", "dst").alias("doc_a"),
                      F.greatest("src", "dst").alias("doc_b"))
             .distinct())
    comp = connected_components(edges)
    sizes = comp.groupBy("comp").agg(F.count("*").cast("bigint").alias("sz"))
    e = table(spark, sf_dir, "embeddings").select("vec_id")
    n_iso = (e.join(comp.select(F.col("doc_id").alias("vec_id")),
                    "vec_id", "left_anti")
             .agg(F.count("*").cast("bigint").alias("n_iso")))
    hist = (sizes.groupBy("sz")
            .agg(F.count("*").cast("bigint").alias("n_components")))
    iso_row = (n_iso.filter(F.col("n_iso") > 0)
               .select(F.lit(1).cast("bigint").alias("sz"),
                       F.col("n_iso").alias("n_components")))
    return (hist.unionAll(iso_row)
            .groupBy("sz")
            .agg(F.sum("n_components").cast("bigint").alias("n_components"))
            .select(F.col("sz").alias("component_size"), "n_components")
            .orderBy("component_size"))


def _knn_components_oracle() -> str:
    return f"""
    {_KNN_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
    ed AS (SELECT src AS a, dst AS b FROM knn
           UNION SELECT dst AS a, src AS b FROM knn),
    nodes AS (SELECT DISTINCT a AS v FROM ed),
    reach(src, dst) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN ed e ON r.dst = e.a),
    comp AS (SELECT src AS v, min(dst) AS comp FROM reach GROUP BY src),
    sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
              FROM comp GROUP BY comp),
    iso AS (SELECT CAST(count(*) AS BIGINT) AS n_iso
            FROM embeddings WHERE vec_id NOT IN (SELECT v FROM comp))
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(sum(n_components) AS BIGINT) AS n_components
    FROM (
        SELECT sz, count(*) AS n_components FROM sizes GROUP BY sz
        UNION ALL
        SELECT 1, n_iso FROM iso WHERE n_iso > 0
    ) GROUP BY sz ORDER BY component_size
    """


REGISTRY["graph_knn_components"].oracle = _knn_components_oracle()


# --------------------------------------- native recursive-CTE BFS

BFS_SEED_MAX = 5   # seed set: vec_id < 5
BFS_MAX_DEPTH = 3  # hop cap (bounds recursive work at any scale)

_BFS_SQL = f"""
WITH RECURSIVE walk(v, lvl) AS (
    SELECT vec_id AS v, 0 AS lvl FROM {{emb}} WHERE vec_id < {BFS_SEED_MAX}
    UNION ALL
    SELECT e.dst AS v, w.lvl + 1 AS lvl
    FROM walk w JOIN {{edges}} e ON e.src = w.v
    WHERE w.lvl < {BFS_MAX_DEPTH}
)
SELECT CAST(lvl AS INT) AS lvl,
       CAST(count(*) AS BIGINT) AS n_first_reached
FROM (SELECT v, min(lvl) AS lvl FROM walk GROUP BY v)
GROUP BY lvl ORDER BY lvl
"""


@register(
    "graph_knn_bfs_recursive",
    oracle=None,  # set below
    tags=("llm", "graph", "recursive-cte"),
)
def q_knn_bfs_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS from a seed set over the kNN graph via Spark's
    NATIVE recursive CTE (WITH RECURSIVE, Spark 4.x) — nodes first
    reached at each hop level. The relational face of iterative graph
    traversal: where connected_components hand-rolls the driver loop,
    this lets Catalyst plan the fixpoint (UnionLoop), the same SQL text
    both engines execute.

    Scale: work per recursion step is seed-frontier x k (k=3 out-edges),
    capped at {BFS_MAX_DEPTH} hops — bounded regardless of graph size;
    the min-level dedup is one keyed aggregate over at most
    |seeds| * k^depth path rows."""

    g = pin(_knn_graph_df(spark, sf_dir).select("src", "dst"))
    g.createOrReplaceTempView("knn_edges_bfs")
    table(spark, sf_dir, "embeddings").select("vec_id") \
        .createOrReplaceTempView("emb_bfs")
    return spark.sql(_BFS_SQL.format(emb="emb_bfs", edges="knn_edges_bfs"))


def _bfs_oracle() -> str:
    # Same recursive SQL; the kNN edge list comes from the shared CTE.
    body = _BFS_SQL.format(emb="embeddings", edges="ed")
    if not body.startswith("\nWITH RECURSIVE "):
        # Load-bearing format check (the splice below depends on it); an
        # assert would vanish under `python -O`.
        raise ValueError("_BFS_SQL must open with a recursive CTE")
    inner = body[len("\nWITH RECURSIVE "):]
    return f"""
    {_KNN_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
    ed AS (SELECT src, dst FROM knn),
    {inner}
    """


REGISTRY["graph_knn_bfs_recursive"].oracle = _bfs_oracle()


# ------------------------------------------ NN-Descent kNN-graph build

# NN-Descent (Dong et al.): build an approximate kNN graph WITHOUT an
# index by iterating "a neighbor of my neighbor is probably my
# neighbor" — start from a cheap arbitrary graph, then each round score
# every node against its neighbors' neighbors (and reverse neighbors)
# and keep the best K. This is the graph-construction workhorse behind
# HNSW-class indexes and graph-based dedup at corpus scale, and its
# distributed shape is pure relational algebra: one self-join (2-hop
# candidates), one union (reverse edges), one scoring join against the
# vector table, one rank-window top-K per node — repeated a fixed
# number of rounds. Determinism: the initial graph is a pinned stride
# sample over the contiguous vec_id space (w = (u + j*ND_STRIDE) mod N,
# self-collisions shifted by 1); similarities are ppm-quantized int64
# cosines (the audited dot/dot_sql fold pair), ties broken on neighbor
# id; rounds are unrolled identically in both engines (the same
# fixed-round discipline as the PageRank replay). The output is the
# per-round convergence report (edge count, mean neighbor similarity)
# a graph-index build reads. The true per-round invariant is PER-NODE
# top-m dominance: each round's candidate set contains the previous
# round's edges, so for every node the j-th best kept similarity can
# never fall (j <= previous list length). The GLOBAL mean is only
# nondecreasing when every node's list stays full — a node holding
# fewer than ND_K edges (stride self-collisions on adversarial corpus
# sizes, e.g. n % ND_STRIDE == 0) tops up with lower-similarity edges
# that can pull the mean down. The tests assert per-node dominance as
# the invariant and the rising mean only as a property of the shipped
# fixtures.
ND_K = 5        # neighbors kept per node
ND_ROUNDS = 2   # refinement rounds (unrolled in both engines)
ND_STRIDE = 97  # init-graph stride over the contiguous vec_id space


def _embeddings_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned (vec_id, demb, nrm) — the scoring table both graph
    operators join their id-keyed candidate sets against."""
    e = spread(table(spark, sf_dir, "embeddings"))
    return pin(e.select("vec_id",
                        sim.as_double(F.col("embedding")).alias("demb"))
               .select("vec_id", "demb",
                       sim.norm(F.col("demb")).alias("nrm")))


def _score_pairs(en: DataFrame, cand: DataFrame) -> DataFrame:
    """ppm-quantized cosine for each candidate (u, w) pair; vectors
    ride only these two id-keyed joins."""
    a = en.select(F.col("vec_id").alias("u"),
                  F.col("demb").alias("da"), F.col("nrm").alias("na"))
    b = en.select(F.col("vec_id").alias("w"),
                  F.col("demb").alias("db"), F.col("nrm").alias("nb"))
    return (cand.join(a, "u").join(b, "w")
            .select("u", "w",
                    F.floor((sim.dot(F.col("da"), F.col("db"))
                             / (F.col("na") * F.col("nb")))
                            * F.lit(1e6) + F.lit(0.5)).cast("long")
                    .alias("sim_ppm")))


def _nn_descent_rounds(en: DataFrame) -> list[DataFrame]:
    """[edges_0, ..., edges_ND_ROUNDS]: the stride-init graph and each
    refinement round's kept edges (u, w, sim_ppm), every round
    checkpoint-truncated (eager localCheckpoint — the PageRank /
    connected-components lineage pattern), so the driver holds only
    the loop index."""
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    init = (en.select("vec_id").crossJoin(F.broadcast(nn))
            .select(F.col("vec_id").alias("u"),
                    F.explode(F.array(*[
                        F.lit(j) for j in range(1, ND_K + 1)])).alias("j"),
                    "n")
            .select("u",
                    F.expr(f"((u + j * {ND_STRIDE}) % n"
                           f" + if((u + j * {ND_STRIDE}) % n = u, 1, 0))"
                           f" % n").alias("w"))
            .filter(F.col("u") != F.col("w")).distinct())
    rounds = [_score_pairs(en, init).localCheckpoint(eager=True)]
    wtop = Window.partitionBy("u").orderBy(F.col("sim_ppm").desc(), "w")
    for _t in range(1, ND_ROUNDS + 1):
        cur = rounds[-1].select("u", "w")
        twohop = (cur.alias("a")
                  .join(cur.alias("b"), F.col("a.w") == F.col("b.u"))
                  .select(F.col("a.u").alias("u"), F.col("b.w").alias("w")))
        rev = cur.select(F.col("w").alias("u"), F.col("u").alias("w"))
        cand = (cur.unionByName(twohop).unionByName(rev)
                .filter(F.col("u") != F.col("w")).distinct())
        rounds.append(_score_pairs(en, cand)
                      .withColumn("rk", F.row_number().over(wtop))
                      .filter(F.col("rk") <= ND_K)
                      .select("u", "w", "sim_ppm")
                      .localCheckpoint(eager=True))
    return rounds


@register(
    "graph_nn_descent",
    oracle=None,  # set below
    tags=("llm", "graph", "nn-descent", "iterative"),
)
def q_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent kNN-graph construction: pinned stride-sample init
    graph, then ND_ROUNDS rounds of candidate generation (current
    edges + 2-hop neighbors-of-neighbors + reverse edges), exact
    ppm-cosine scoring, and per-node top-ND_K selection. Emits one row
    per round (including round 0 = the init graph): edge count and
    mean neighbor similarity — the convergence curve that tells an
    index build when to stop.

    Scale shape: each round is ONE self-join on the (u, w) edge list
    (corpus x K rows, never corpus x corpus), one union, two id-keyed
    joins against the (id, vector, norm) table to score, and one
    rank window partitioned by node — all shuffles carry ids and int
    scores; vectors ride only the two scoring joins. Edge lineage is
    truncated per round with an eager localCheckpoint (the PageRank /
    connected-components pattern), so the driver holds only the loop
    index."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    # Spark `div` vs the oracle's `//`: both truncate toward zero (NOT
    # floor), so the mean agrees between engines even for a negative
    # sim_ppm sum — pinned by tests/test_engine_semantics.py. Same
    # convention at the two sibling mean-sim sites below.
    stats = [
        edges.agg(F.lit(t).cast("bigint").alias("round"),
                  F.count("*").cast("bigint").alias("n_edges"),
                  F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
                  .alias("mean_sim_ppm"))
        for t, edges in enumerate(rounds)]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


def _graph_ctes(where: str = "", tag: str = "", lead: bool = True) -> str:
    """The construction CTE chain shared by the graph oracles:
    embeddings -> en (vectors + norms) -> stride init -> e0 ..
    e{ND_ROUNDS} (scored, per-node top-K kept edges). Unrolled fixed
    rounds (recursive CTEs cannot aggregate in the recursive term; same
    discipline as the PageRank replay). The pair-scoring dot uses the
    UNROLLED fold — flat CTEs, plain column references — because the
    interpreted lambda form costs ~12 us per element and the candidate
    table is corpus x ~K^2 pairs. ``where`` restricts the graph's node
    table (the insert oracle builds on the base slice only; the others
    pass nothing, their text unchanged). ``tag`` suffixes every CTE
    name and ``lead=False`` drops the WITH keyword, so the
    rebuild-execute oracle can run a SECOND, full-corpus build inside
    the same query; defaults render byte-identically to the untagged
    form."""
    ppm = (f"CAST(floor(({sim.dot_unrolled_sql('a.demb', 'b.demb')}"
           f" / (a.nrm * b.nrm)) * 1e6 + 0.5) AS BIGINT)")
    kw = "WITH " if lead else ""
    parts = [f"""
    {kw}e{tag} AS (SELECT vec_id, {sim.as_double_sql('embedding')} AS demb
               FROM embeddings{where}),
    en{tag} AS MATERIALIZED (
        SELECT vec_id, demb, sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM e{tag}),
    nn{tag} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM en{tag}),
    init{tag} AS (
        SELECT DISTINCT u, w FROM (
            SELECT a.vec_id AS u,
                   ((a.vec_id + j.j * {ND_STRIDE}) % nn{tag}.n
                    + CASE WHEN (a.vec_id + j.j * {ND_STRIDE}) % nn{tag}.n
                                = a.vec_id THEN 1 ELSE 0 END) % nn{tag}.n AS w
            FROM en{tag} a CROSS JOIN nn{tag},
                 LATERAL (SELECT unnest(range(1, {ND_K} + 1)) AS j) j)
        WHERE u != w),
    e0{tag} AS MATERIALIZED (SELECT i.u, i.w, {ppm} AS sim_ppm
           FROM init{tag} i JOIN en{tag} a ON a.vec_id = i.u
                       JOIN en{tag} b ON b.vec_id = i.w)"""]
    for t in range(1, ND_ROUNDS + 1):
        p = t - 1
        parts.append(f"""
    c{t}{tag} AS (
        SELECT DISTINCT u, w FROM (
            SELECT u, w FROM e{p}{tag}
            UNION ALL
            SELECT x.u, y.w FROM e{p}{tag} x JOIN e{p}{tag} y ON x.w = y.u
            UNION ALL
            SELECT w AS u, u AS w FROM e{p}{tag})
        WHERE u != w),
    s{t}{tag} AS (SELECT c.u, c.w, {ppm} AS sim_ppm
             FROM c{t}{tag} c JOIN en{tag} a ON a.vec_id = c.u
                         JOIN en{tag} b ON b.vec_id = c.w),
    e{t}{tag} AS MATERIALIZED (SELECT u, w, sim_ppm FROM (
                 SELECT u, w, sim_ppm,
                        row_number() OVER (PARTITION BY u
                                           ORDER BY sim_ppm DESC, w) AS rk
                 FROM s{t}{tag})
             WHERE rk <= {ND_K})""")
    return ",".join(parts)


def _nn_descent_oracle() -> str:
    rounds_union = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({t} AS BIGINT) AS round,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(sim_ppm) // count(*) AS BIGINT) AS mean_sim_ppm
    FROM e{t}""" for t in range(ND_ROUNDS + 1))
    return _graph_ctes() + "\n" + rounds_union + "\n    ORDER BY round"


REGISTRY["graph_nn_descent"].oracle = _nn_descent_oracle()


# --------------------------------- greedy beam search over the graph

# The query half of the graph-ANN story: HNSW-class indexes answer a
# query by GREEDY NAVIGATION — start at an entry node, repeatedly hop
# to the neighbor closest to the query, stop when no neighbor improves.
# The batch-distributed form is beam search with fixed hop rounds
# unrolled: a per-query frontier of the B best visited nodes, expanded
# each hop through the SYMMETRIZED union of the refined kNN edges and
# the stride-init edges (HNSW links are bidirectional, and NSW-style
# navigability needs the long-range links the init graph provides — a
# pure kNN graph fragments into clusters greedy search cannot leave),
# scored against the query vector, with a visited set so no node is
# scored twice. Everything is relational: per hop, one frontier-edges
# join, one anti-join against the visited set, one id-keyed scoring
# join, one rank window. Three operators share this machinery:
#
# - graph_greedy_search  — the navigability report (per-query visited
#   count + recall@K vs exact);
# - graph_beam_sweep     — the cost/recall curve over frontier widths
#   (the graph-search analog of sim_ann_nprobe_sweep);
# - graph_knn_insert     — HNSW-style INCREMENTAL insertion: held-out
#   vectors search the base graph and connect to the best nodes found,
#   with the connection quality measured against their true base top-K
#   (the maintenance path that avoids full index rebuilds at scale).
#
# NOTE the fixture corpus is deliberately adversarial for graph ANN:
# its embeddings are near-uniform random (within-label cosine ==
# cross-label cosine == ~0), so the similarity surface is flat and NO
# graph navigates it much better than random visiting — the honest
# reports here show recall modestly above the visited-fraction
# baseline, and the tests assert exactly that (plus sub-linear
# visiting) on these fixtures, with the real navigation floors
# asserted on a planted-cluster corpus in test_ann_recall.
#
# Determinism: query ids and entry ids are modular-arithmetic functions
# of the corpus size computed identically in both engines;
# similarities are ppm-quantized int64, all ranks tie-broken on node
# id; hops are unrolled identically in both engines.
GS_NQ = 6        # pinned query panel size
GS_BEAM = 8      # frontier width per query
GS_HOPS = 4      # unrolled hop rounds
GS_TOPK = 10     # answer size / recall@K
GS_ENTRIES = 8   # stride-pinned entry points per query
GS_QOFF = 17     # query id stride sample: (GS_QOFF + GS_QSTRIDE*i) % n
GS_QSTRIDE = 131


def _wq():
    return Window.partitionBy("query_id").orderBy(
        F.col("sim_ppm").desc(), "node")


def _sym_edges(rounds: list[DataFrame]) -> DataFrame:
    """Symmetrized union of the final refined edges and the stride-init
    long links (the searched graph), checkpoint-truncated."""
    return (rounds[-1].select("u", "w")
            .unionByName(rounds[0].select("u", "w"))
            .unionByName(rounds[-1].select(F.col("w").alias("u"),
                                           F.col("u").alias("w")))
            .unionByName(rounds[0].select(F.col("w").alias("u"),
                                          F.col("u").alias("w")))
            .distinct().localCheckpoint(eager=True))


def _make_score(en: DataFrame, qpanel: DataFrame):
    """score((query_id, node)) -> + ppm cosine vs that query's vector;
    the panel is broadcast, vectors ride only the id-keyed join."""
    def score(nodes: DataFrame) -> DataFrame:
        return (nodes
                .join(en.select(F.col("vec_id").alias("node"),
                                "demb", "nrm"), "node")
                .join(F.broadcast(qpanel.select("query_id", "qvec",
                                                "qnorm")), "query_id")
                .select("query_id", "node",
                        F.floor((sim.dot(F.col("qvec"), F.col("demb"))
                                 / (F.col("qnorm") * F.col("nrm")))
                                * F.lit(1e6) + F.lit(0.5)).cast("long")
                        .alias("sim_ppm")))
    return score


def _entry_nodes(spark: SparkSession, nn: DataFrame) -> DataFrame:
    """GS_ENTRIES stride-pinned entry nodes over the graph's contiguous
    id space (nn = 1-row count of the GRAPH's node table)."""
    return (spark.range(GS_ENTRIES)
            .select(F.col("id").cast("bigint").alias("j"))
            .crossJoin(F.broadcast(nn))
            .select(F.expr(f"j * (n div {GS_ENTRIES})")
                    .cast("bigint").alias("node"))
            .distinct())


def _query_panel(spark: SparkSession, en: DataFrame,
                 nn: DataFrame) -> DataFrame:
    """The GS_NQ stride-pinned query panel (query_id, qid, qvec,
    qnorm) over the corpus's contiguous id space — shared by
    graph_greedy_search and graph_beam_sweep (one construction site;
    the insert operators build theirs from the held-out slice
    instead)."""
    return (spark.range(GS_NQ)
            .select(F.col("id").cast("bigint").alias("query_id"))
            .crossJoin(F.broadcast(nn))
            .select("query_id",
                    F.expr(f"({GS_QOFF} + {GS_QSTRIDE} * query_id) % n")
                    .cast("bigint").alias("qid"))
            .join(en, F.col("qid") == F.col("vec_id"))
            .select("query_id", "qid",
                    F.col("demb").alias("qvec"),
                    F.col("nrm").alias("qnorm")))


def _search_seen(seen0: DataFrame, und: DataFrame, qpanel: DataFrame,
                 score, beam: int, hops: int) -> DataFrame:
    """The beam-search hop loop: visited set after `hops` rounds from
    the scored entry set, per-hop checkpoint-truncated. Self-exclusion
    rides the broadcast (query_id, qid) panel columns."""
    seen = seen0
    frontier = (seen.withColumn("rk", F.row_number().over(_wq()))
                .filter(F.col("rk") <= beam)
                .select("query_id", "node"))
    for _h in range(hops):
        nbrs = (frontier.join(und, frontier["node"] == und["u"])
                .select("query_id", F.col("w").alias("node"))
                .distinct()
                .join(F.broadcast(qpanel.select("query_id", "qid")),
                      "query_id")
                .filter(F.col("node") != F.col("qid"))
                .select("query_id", "node"))
        new = nbrs.join(seen.select("query_id", "node"),
                        ["query_id", "node"], "left_anti")
        seen = (seen.unionByName(score(new))
                .localCheckpoint(eager=True))
        frontier = (seen.withColumn("rk", F.row_number().over(_wq()))
                    .filter(F.col("rk") <= beam)
                    .select("query_id", "node"))
    return seen


def _topk_nodes(df: DataFrame, k: int) -> DataFrame:
    return (df.withColumn("rk", F.row_number().over(_wq()))
            .filter(F.col("rk") <= k)
            .select("query_id", "node"))


def _exact_topk(base: DataFrame, qpanel: DataFrame, k: int) -> DataFrame:
    """Exact per-query cosine top-k over `base`: the corpus scans ONCE
    against the broadcast panel and ranks via the two-phase top-K
    ((query, input-partition) rank, then global), so ranking never
    collapses to |Q| partitions (the sim_crossmodal_recall
    discipline)."""
    scored_all = (base.crossJoin(F.broadcast(qpanel))
                  .filter(F.col("vec_id") != F.col("qid"))
                  .select("query_id", "vec_id",
                          F.floor((sim.dot(F.col("qvec"), F.col("demb"))
                                   / (F.col("qnorm") * F.col("nrm")))
                                  * F.lit(1e6) + F.lit(0.5)).cast("long")
                          .alias("sim_ppm")))
    w1 = (Window.partitionBy("query_id", "pid")
          .orderBy(F.col("sim_ppm").desc(), "vec_id"))
    return (scored_all.withColumn("pid", F.spark_partition_id())
            .withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= k)
            .withColumn("rk", F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim_ppm").desc(), "vec_id")))
            .filter(F.col("rk") <= k)
            .select("query_id", F.col("vec_id").alias("node")))


@register(
    "graph_greedy_search",
    oracle=None,  # set below
    tags=("llm", "graph", "similarity", "ann", "recall"),
)
def q_graph_greedy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy beam search over the NN-Descent kNN graph: for each of
    GS_NQ stride-pinned corpus-node queries, navigate GS_HOPS hops from
    GS_ENTRIES stride-pinned entry points through the symmetrized
    (refined + init long-link) edge list, keeping the GS_BEAM best
    visited nodes as the frontier, then report nodes visited, hits@K
    and recall@K of the search's top-GS_TOPK against the exact cosine
    top-GS_TOPK (self excluded on both sides), plus the best similarity
    reached — the navigability report that sizes a graph index (and the
    consumer that makes graph_nn_descent's build output usable).

    Scale shape: the graph build is the audited NN-Descent plan; the
    search itself is query-panel-bounded — per hop, the frontier is
    Q x GS_BEAM rows joined against the (u, w) edge list (id-int rows
    only), anti-joined against the visited set, and only NEW nodes ride
    the one id-keyed scoring join against the vector table (the query
    panel itself is Q rows, broadcast). The exact baseline scans the
    corpus ONCE against the broadcast panel with two-phase top-K
    ranking. Visited state is checkpoint-truncated per hop and bounded
    by Q x (GS_ENTRIES + GS_BEAM x degree x GS_HOPS) rows."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = _query_panel(spark, en, nn)
    score = _make_score(en, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
    found = _topk_nodes(seen, GS_TOPK)
    exact = _exact_topk(en, qpanel, GS_TOPK)
    nv = (seen.groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_visited"),
               F.max("sim_ppm").cast("bigint").alias("best_sim_ppm")))
    hits = (found.join(exact, ["query_id", "node"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    return (nv.join(hits, "query_id", "left")
            .select("query_id", "n_visited",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {GS_TOPK} as bigint)")
                    .alias("recall_ppm"),
                    "best_sim_ppm")
            .orderBy("query_id"))


# Shared oracle fragments. Scoring reuses the lambda-fold dot_sql so
# the add sequence matches Spark's F.aggregate fold bit-for-bit;
# query/entry ids are the same modular expressions over the graph's
# node count. Hops unrolled; NOT EXISTS is the anti-join twin. Heavy /
# multiply-referenced CTEs are MATERIALIZED (DuckDB otherwise
# re-inlines the hop chain exponentially — observed minutes -> 0.3 s).
_SCORE_SQL = (f"CAST(floor(({sim.dot_sql('p.qvec', 'b.demb')}"
              f" / (p.qnorm * b.nrm)) * 1e6 + 0.5) AS BIGINT)")


def _und_cte(tag: str = "") -> str:
    return f"""
    und{tag} AS MATERIALIZED (SELECT DISTINCT u, w FROM (
                SELECT u, w FROM e{ND_ROUNDS}{tag}
                UNION ALL
                SELECT u, w FROM e0{tag}
                UNION ALL
                SELECT w AS u, u AS w FROM e{ND_ROUNDS}{tag}
                UNION ALL
                SELECT w AS u, u AS w FROM e0{tag}))"""


def _entries_seen0_ctes(qp: str = "qp", tag: str = "",
                        en_cte: str = "en", nn_cte: str = "nn") -> str:
    """ent{tag} (stride entry nodes over the graph's node count) and
    gs0{tag} (entries scored per query, self excluded). The node table
    and its count are parameterized so the rebuild-decision oracle can
    run successive insert batches against the GROWN graph."""
    return f"""
    ent{tag} AS MATERIALIZED (SELECT DISTINCT
                CAST(j.j * (nn.n // {GS_ENTRIES}) AS BIGINT) AS node
            FROM (SELECT unnest(range(0, {GS_ENTRIES})) AS j) j
                 CROSS JOIN {nn_cte} nn),
    gs0{tag} AS MATERIALIZED (SELECT p.query_id, t.node, {_SCORE_SQL}
                AS sim_ppm
            FROM {qp} p CROSS JOIN ent{tag} t
                 JOIN {en_cte} b ON b.vec_id = t.node
            WHERE t.node != p.qid)"""


def _beam_hops_ctes(tag: str, beam: int, hops: int,
                    qp: str = "qp", seen0: str = "gs0",
                    und_cte: str = "und", en_cte: str = "en") -> str:
    """The unrolled hop chain gn/gc/gs/gf with names suffixed by `tag`
    (so several sweeps can share one construction + gs0); the final
    visited state is gs{hops}{tag}. Edge list and scoring table are
    parameterized for the rebuild-decision oracle's grown graph."""
    parts = [f"""
    gf0{tag} AS MATERIALIZED (SELECT query_id, node FROM (
                SELECT query_id, node,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim_ppm DESC, node)
                           AS rk
                FROM {seen0})
            WHERE rk <= {beam})"""]
    for h in range(1, hops + 1):
        prev = seen0 if h == 1 else f"gs{h - 1}{tag}"
        parts.append(f"""
    gn{h}{tag} AS MATERIALIZED (SELECT DISTINCT f.query_id, u2.w AS node
              FROM gf{h - 1}{tag} f JOIN {und_cte} u2 ON u2.u = f.node
                   JOIN {qp} q2 ON q2.query_id = f.query_id
              WHERE u2.w != q2.qid
                AND NOT EXISTS (SELECT 1 FROM {prev} s
                                WHERE s.query_id = f.query_id
                                  AND s.node = u2.w)),
    gc{h}{tag} AS (SELECT g.query_id, g.node, {_SCORE_SQL} AS sim_ppm
              FROM gn{h}{tag} g JOIN {en_cte} b ON b.vec_id = g.node
                           JOIN {qp} p ON p.query_id = g.query_id),
    gs{h}{tag} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM gc{h}{tag}),
    gf{h}{tag} AS MATERIALIZED (SELECT query_id, node FROM (
                  SELECT query_id, node,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{h}{tag})
              WHERE rk <= {beam})""")
    return ",".join(parts)


def _found_cte(final_state: str, k: int, tag: str = "") -> str:
    """found{tag}: the search's per-query top-k over a visited-state
    CTE. Split from the exact baseline (below) so each oracle emits
    only the CTEs its tail actually reads — the insert oracle ranks
    its own `edges` CTE and needs no `found` at all."""
    return f"""
    found{tag} AS (SELECT query_id, node FROM (
                  SELECT query_id, node,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM {final_state})
              WHERE rk <= {k})"""


def _exact_ctes(k: int, qp: str = "qp", en_cte: str = "en",
                tag: str = "") -> str:
    """allsc{tag} + exact{tag}: the shared brute-force per-query top-k
    baseline over `en_cte` (one corpus scan, MATERIALIZED so every
    sweep point reuses it)."""
    return f"""
    allsc{tag} AS MATERIALIZED (SELECT p.query_id, b.vec_id, {_SCORE_SQL}
                  AS sim_ppm
              FROM {qp} p CROSS JOIN {en_cte} b
              WHERE b.vec_id != p.qid),
    exact{tag} AS MATERIALIZED (SELECT query_id, vec_id AS node FROM (
                  SELECT query_id, vec_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, vec_id)
                             AS rk
                  FROM allsc{tag})
              WHERE rk <= {k})"""


def _qp_cte() -> str:
    """The stride-pinned query-panel CTE — the SQL twin of
    _query_panel, shared by the greedy-search and beam-sweep
    oracles."""
    return f"""
    qp AS MATERIALIZED (SELECT CAST(i.i AS BIGINT) AS query_id,
                  CAST(({GS_QOFF} + {GS_QSTRIDE} * i.i) % nn.n AS BIGINT)
                      AS qid,
                  b.demb AS qvec, b.nrm AS qnorm
           FROM (SELECT unnest(range(0, {GS_NQ})) AS i) i
                CROSS JOIN nn
                JOIN en b
                  ON b.vec_id = ({GS_QOFF} + {GS_QSTRIDE} * i.i) % nn.n)"""


def _greedy_search_oracle() -> str:
    tail = f"""
    nv AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited,
                  CAST(max(sim_ppm) AS BIGINT) AS best_sim_ppm
           FROM gs{GS_HOPS} GROUP BY query_id),
    hits AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM found f JOIN exact e ON e.query_id = f.query_id
                                      AND e.node = f.node
             GROUP BY f.query_id)
    SELECT nv.query_id, nv.n_visited,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {GS_TOPK} AS BIGINT)
               AS recall_ppm,
           nv.best_sim_ppm
    FROM nv LEFT JOIN hits h ON h.query_id = nv.query_id
    ORDER BY nv.query_id"""
    return (_graph_ctes() + "," + _und_cte() + "," + _qp_cte() + ","
            + _entries_seen0_ctes()
            + "," + _beam_hops_ctes("", GS_BEAM, GS_HOPS)
            + "," + _found_cte(f"gs{GS_HOPS}", GS_TOPK)
            + "," + _exact_ctes(GS_TOPK)
            + "," + tail)


REGISTRY["graph_greedy_search"].oracle = _greedy_search_oracle()


# ------------------------------------------ beam-width cost/recall sweep

GS_SWEEP_BEAMS = (2, 4, 8, 16)


@register(
    "graph_beam_sweep",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "calibration"),
)
def q_graph_beam_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-search cost/recall calibration: recall@GS_TOPK and total
    nodes visited at frontier widths {2, 4, 8, 16} — the curve that
    fixes the production beam width, the graph-ANN counterpart of
    sim_ann_nprobe_sweep (each doubling of the beam roughly doubles
    scoring cost for diminishing recall).

    One graph build, one entry scoring, and ONE exact brute-force
    reference serve every sweep point; only the hop loops re-run per
    beam (each is query-panel-bounded and checkpoint-truncated, so the
    sweep adds |beams| x GS_HOPS bounded stages, never another corpus
    scan)."""
    en = _embeddings_en(spark, sf_dir)
    rounds = _nn_descent_rounds(en)
    nn = en.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = _query_panel(spark, en, nn)
    score = _make_score(en, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    exact = _exact_topk(en, qpanel, GS_TOPK).localCheckpoint(eager=True)
    out = None
    for beam in GS_SWEEP_BEAMS:
        seen = _search_seen(seen0, und, qpanel, score, beam, GS_HOPS)
        found = _topk_nodes(seen, GS_TOPK)
        row = (seen.agg(F.count("*").cast("bigint").alias("n_visited"))
               .crossJoin(found.join(exact, ["query_id", "node"])
                          .agg(F.count("*").cast("bigint")
                               .alias("n_hits")))
               .select(F.lit(beam).cast("bigint").alias("beam"),
                       "n_visited", "n_hits",
                       F.expr(f"cast(n_hits * 1000000"
                              f" div {GS_NQ * GS_TOPK} as bigint)")
                       .alias("recall_ppm")))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("beam")


def _beam_sweep_oracle() -> str:
    chains, selects = [], []
    for beam in GS_SWEEP_BEAMS:
        tag = f"b{beam}"
        chains.append(_beam_hops_ctes(tag, beam, GS_HOPS))
        chains.append(_found_cte(f"gs{GS_HOPS}{tag}", GS_TOPK, tag))
        selects.append(f"""
    SELECT CAST({beam} AS BIGINT) AS beam,
           (SELECT CAST(count(*) AS BIGINT) FROM gs{GS_HOPS}{tag})
               AS n_visited,
           (SELECT CAST(count(*) AS BIGINT)
            FROM found{tag} f JOIN exact e
              ON e.query_id = f.query_id AND e.node = f.node) AS n_hits,
           (SELECT CAST(count(*) * 1000000 // {GS_NQ * GS_TOPK} AS BIGINT)
            FROM found{tag} f JOIN exact e
              ON e.query_id = f.query_id AND e.node = f.node)
               AS recall_ppm""")
    # exact baseline shared across sweep points (one corpus scan)
    return (_graph_ctes() + "," + _und_cte() + "," + _qp_cte() + ","
            + _entries_seen0_ctes() + "," + _exact_ctes(GS_TOPK) + ","
            + ",".join(chains)
            + "\n    UNION ALL\n".join(selects)
            + "\n    ORDER BY beam")


REGISTRY["graph_beam_sweep"].oracle = _beam_sweep_oracle()


# --------------------------------------- incremental insertion (HNSW)

# At 100 TB an embedding index is never rebuilt from scratch for each
# ingest batch: new vectors are INSERTED — each one beam-searches the
# existing graph for its neighborhood and connects to the best nodes
# found (exactly HNSW's insertion algorithm, batch-expressed: the
# whole new batch searches in parallel as one query panel). This
# operator holds out the last GI_M vectors as the insert batch, builds
# the NN-Descent graph on the base slice only, runs the insertion
# search, and reports per inserted vector: scoring cost (nodes
# visited), the quality of its new edges — overlap of the ND_K
# connected nodes with its TRUE base top-ND_K — and the mean edge
# similarity. The maintenance-quality report that decides when
# incremental insertion has degraded enough to warrant a rebuild.
GI_M = 24  # held-out insert batch (an eval panel, pinned)


@register(
    "graph_knn_insert",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental"),
)
def q_graph_knn_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW-style incremental insertion eval: the last GI_M vectors
    (by vec_id) are held out, the NN-Descent graph is built on the
    remaining base slice (same audited plan — the base id space stays
    contiguous, so the stride init is unchanged), and each held-out
    vector beam-searches the base graph (GS_BEAM/GS_HOPS, stride entry
    points) and connects to the top-ND_K nodes found. Emits one row
    per inserted vector: nodes visited, hits = |found edges ∩ true
    base top-ND_K|, recall_ppm over ND_K, and the mean similarity of
    the connected edges (truncating int division).

    Scale shape: identical to graph_greedy_search — the insert batch
    is the broadcast query panel (at real scale the batch shards into
    panels; each is independent), the base graph builds once, per-hop
    state is checkpoint-truncated, and the exact reference (only
    needed because this is an EVAL — production inserts skip it) scans
    the base once with two-phase top-K ranking."""
    en = _embeddings_en(spark, sf_dir)
    nfull = en.agg(F.count("*").cast("bigint").alias("nf"))
    base = pin(en.crossJoin(F.broadcast(nfull))
               .filter(F.col("vec_id") < F.col("nf") - GI_M)
               .select("vec_id", "demb", "nrm"))
    rounds = _nn_descent_rounds(base)
    nb = base.agg(F.count("*").cast("bigint").alias("n"))
    und = _sym_edges(rounds)
    qpanel = (en.crossJoin(F.broadcast(nfull))
              .filter(F.col("vec_id") >= F.col("nf") - GI_M)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("vec_id").alias("qid"),
                      F.col("demb").alias("qvec"),
                      F.col("nrm").alias("qnorm")))
    score = _make_score(base, qpanel)
    seen0 = score(qpanel.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nb)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
    edges = (seen.withColumn("rk", F.row_number().over(_wq()))
             .filter(F.col("rk") <= ND_K)
             .select("query_id", "node", "sim_ppm"))
    exact = _exact_topk(base, qpanel, ND_K)
    nv = (seen.groupBy("query_id")
          .agg(F.count("*").cast("bigint").alias("n_visited")))
    eq = (edges.groupBy("query_id")
          # `div` == oracle `//`: both truncate toward zero (engine-
          # semantics pin; see q_nn_descent's note)
          .agg(F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
               .alias("mean_edge_sim_ppm")))
    hits = (edges.select("query_id", "node")
            .join(exact, ["query_id", "node"])
            .groupBy("query_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    return (nv.join(eq, "query_id")
            .join(hits, "query_id", "left")
            .select(F.col("query_id").alias("vec_id"), "n_visited",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.expr(f"cast(coalesce(n_hits, 0) * 1000000"
                           f" div {ND_K} as bigint)").alias("recall_ppm"),
                    "mean_edge_sim_ppm")
            .orderBy("vec_id"))


def _knn_insert_oracle() -> str:
    where = (f" CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf"
             f" WHERE vec_id < nf.nf - {GI_M}")
    qp = f"""
    enq AS MATERIALIZED (
        SELECT e2.vec_id, {sim.as_double_sql('e2.embedding')} AS demb
        FROM embeddings e2
             CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf2
        WHERE e2.vec_id >= nf2.nf - {GI_M}),
    qp AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS query_id,
                  CAST(vec_id AS BIGINT) AS qid,
                  demb AS qvec,
                  sqrt({sim.dot_sql('demb', 'demb')}) AS qnorm
           FROM enq)"""
    tail = f"""
    edges AS MATERIALIZED (SELECT query_id, node, sim_ppm FROM (
                  SELECT query_id, node, sim_ppm,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{GS_HOPS})
              WHERE rk <= {ND_K}),
    nv AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_visited
           FROM gs{GS_HOPS} GROUP BY query_id),
    eq AS (SELECT query_id,
                  CAST(sum(sim_ppm) // count(*) AS BIGINT)
                      AS mean_edge_sim_ppm
           FROM edges GROUP BY query_id),
    hits AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_hits
             FROM edges f JOIN exact e ON e.query_id = f.query_id
                                      AND e.node = f.node
             GROUP BY f.query_id)
    SELECT nv.query_id AS vec_id, nv.n_visited,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 1000000 // {ND_K} AS BIGINT)
               AS recall_ppm,
           eq.mean_edge_sim_ppm
    FROM nv JOIN eq ON eq.query_id = nv.query_id
            LEFT JOIN hits h ON h.query_id = nv.query_id
    ORDER BY vec_id"""
    return (_graph_ctes(where) + "," + _und_cte() + "," + qp + ","
            + _entries_seen0_ctes()
            + "," + _beam_hops_ctes("", GS_BEAM, GS_HOPS)
            + "," + _exact_ctes(ND_K)
            + "," + tail)


REGISTRY["graph_knn_insert"].oracle = _knn_insert_oracle()


# ------------------------------- rebuild decision (insertion drift)

# graph_knn_insert shows ONE batch's insertion quality; the operational
# question an index maintainer actually asks is the TREND: as batch
# after batch is inserted without a rebuild, how fast does insertion
# recall degrade (inserted nodes search a graph whose edges were never
# re-refined around them)? This operator unrolls GR_B successive insert
# batches — each one beam-searches the graph AS GROWN by its
# predecessors (base edges + every previously inserted node's connected
# edges, symmetrized) and connects to the top-ND_K nodes found — and
# reports the per-batch recall-vs-exact curve plus each batch's drop
# from the first batch: the degradation curve a rebuild trigger reads.
GR_M = 12  # vectors per insert batch
GR_B = 2   # successive batches (unrolled in both engines)


def _insert_replay(spark: SparkSession, sf_dir: str):
    """Replay the GR_B successive insert batches over the growing
    graph; returns (per_batch_stat_rows, per_batch_inserts) where
    per_batch_inserts is [(qpanel, edges)] — the panel each batch
    searched with and the top-ND_K edges it connected. Shared by
    _rebuild_curve (the drift report) and graph_rebuild_execute (the
    act step, which re-measures those same edges against a full
    rebuild)."""
    en = _embeddings_en(spark, sf_dir)
    nfull = en.agg(F.count("*").cast("bigint").alias("nf"))
    base = pin(en.crossJoin(F.broadcast(nfull))
               .filter(F.col("vec_id") < F.col("nf") - GR_B * GR_M)
               .select("vec_id", "demb", "nrm"))
    und = _sym_edges(_nn_descent_rounds(base))
    cur_en = base
    rows = []
    inserts = []
    for b in range(1, GR_B + 1):
        lo, hi = GR_B - b + 1, GR_B - b
        qpanel = (en.crossJoin(F.broadcast(nfull))
                  .filter((F.col("vec_id") >= F.col("nf") - lo * GR_M)
                          & (F.col("vec_id") < F.col("nf") - hi * GR_M))
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("vec_id").alias("qid"),
                          F.col("demb").alias("qvec"),
                          F.col("nrm").alias("qnorm")))
        nb = cur_en.agg(F.count("*").cast("bigint").alias("n"))
        score = _make_score(cur_en, qpanel)
        seen0 = score(qpanel.select("query_id", "qid")
                      .crossJoin(F.broadcast(_entry_nodes(spark, nb)))
                      .filter(F.col("node") != F.col("qid"))
                      .select("query_id", "node")
                      ).localCheckpoint(eager=True)
        seen = _search_seen(seen0, und, qpanel, score, GS_BEAM, GS_HOPS)
        edges = (seen.withColumn("rk", F.row_number().over(_wq()))
                 .filter(F.col("rk") <= ND_K)
                 .select("query_id", "node", "sim_ppm"))
        inserts.append((qpanel, edges))
        exact = _exact_topk(cur_en, qpanel, ND_K)
        rows.append(
            seen.agg(F.count("*").cast("bigint").alias("n_visited"))
            .crossJoin(edges.select("query_id", "node")
                       .join(exact, ["query_id", "node"])
                       .agg(F.count("*").cast("bigint").alias("n_hits")))
            .crossJoin(edges.agg(
                # `div` == oracle `//`: both truncate toward zero
                # (engine-semantics pin; see q_nn_descent's note)
                F.expr("cast(sum(sim_ppm) div count(*) as bigint)")
                .alias("mean_edge_sim_ppm")))
            .select(F.lit(b).cast("bigint").alias("batch"),
                    "n_visited", "n_hits",
                    F.expr(f"cast(n_hits * 1000000"
                           f" div {GR_M * ND_K} as bigint)")
                    .alias("recall_ppm"),
                    "mean_edge_sim_ppm"))
        if b < GR_B:
            newe = edges.select(F.col("query_id").alias("u"),
                                F.col("node").alias("w"))
            und = (und.unionByName(newe)
                   .unionByName(newe.select(F.col("w").alias("u"),
                                            F.col("u").alias("w")))
                   .distinct().localCheckpoint(eager=True))
            cur_en = pin(cur_en.unionByName(
                qpanel.select(F.col("qid").alias("vec_id"),
                              F.col("qvec").alias("demb"),
                              F.col("qnorm").alias("nrm"))))
    return rows, inserts


def _rebuild_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The successive-insertion drift curve shared by
    graph_rebuild_decision (which reports it) and graph_rebuild_policy
    (which reads the actionable decision off it): one row per insert
    batch with visited/hit counts, recall vs the batch's exact top-K,
    mean edge similarity, and the recall drop vs batch 1."""
    rows, _ = _insert_replay(spark, sf_dir)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    wfirst = (Window.partitionBy(F.lit(0)).orderBy("batch")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (out.withColumn(
        "recall_drop_ppm",
        (F.first("recall_ppm").over(wfirst) - F.col("recall_ppm"))
        .cast("bigint"))
        .orderBy("batch"))


@register(
    "graph_rebuild_decision",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance"),
)
def q_graph_rebuild_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive-insertion drift report: hold out the last GR_B x GR_M
    vectors, build the NN-Descent graph on the base slice, then insert
    GR_B batches in id order — each batch beam-searches the CURRENT
    graph (base + all edges added by earlier batches, symmetrized; the
    scoring table grows with the inserted vectors) and connects to its
    top-ND_K found nodes. One row per batch: nodes visited, hits and
    recall of the connected edges against the exact top-ND_K over the
    batch's CURRENT corpus, mean edge similarity, and the recall drop
    vs batch 1 — the curve that decides when accumulated insertions
    warrant a full rebuild.

    Scale shape: identical per batch to graph_knn_insert (broadcast
    query panel, id-keyed scoring joins, per-hop checkpoint-truncated
    state); between batches the graph grows by a batch x ND_K edge
    list (union + distinct + localCheckpoint, the same lineage
    discipline as the build rounds) and the scoring table by GR_M
    rows. The exact reference re-scans the current corpus once per
    batch — an EVAL cost only, as in graph_knn_insert."""
    return _rebuild_curve(spark, sf_dir)


# The drop threshold the policy face acts on: rebuild once any batch's
# insertion recall has degraded >= this many ppm below batch 1's. On
# the shipped fixtures both regimes are exercised across SFs (sf0.001
# crosses the floor at batch 2; sf0.01's curve is flat, so the policy
# row reports no-rebuild NULLs there).
GRP_DROP_FLOOR_PPM = 50000


@register(
    "graph_rebuild_policy",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance", "policy"),
)
def q_graph_rebuild_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable face of graph_rebuild_decision: given the recall-
    degradation floor (GRP_DROP_FLOOR_PPM), emit the ONE-row decision
    the curve already determines — the first insert batch whose recall
    drop crosses the floor (NULL when none does), the index size in
    vectors at that decision point, and the edge budget a full rebuild
    would process there (vectors x ND_K, the NN-Descent target edge
    count). Closes the lifecycle loop: build -> search -> sweep ->
    insert -> decide -> act.

    Scale shape: the curve is the whole cost (audited in
    graph_rebuild_decision); the policy adds two 1-row aggregates over
    the GR_B-row curve, a 1-row embeddings count, and broadcast
    crossJoins of those bounds — nothing here grows with the corpus."""
    curve = _rebuild_curve(spark, sf_dir)
    nfq = (_embeddings_en(spark, sf_dir)
           .agg(F.count("*").cast("bigint").alias("nf")))
    dec = (curve.filter(F.col("recall_drop_ppm") >= GRP_DROP_FLOOR_PPM)
           .agg(F.min("batch").cast("bigint").alias("rb")))
    vec_expr = f"nf - ({GR_B} - rb) * {GR_M}"
    return (curve.agg(F.max("recall_drop_ppm").cast("bigint")
                      .alias("max_drop_ppm"))
            .crossJoin(F.broadcast(dec))
            .crossJoin(F.broadcast(nfq))
            .select(F.lit(GRP_DROP_FLOOR_PPM).cast("bigint")
                    .alias("drop_floor_ppm"),
                    "max_drop_ppm",
                    F.col("rb").alias("rebuild_after_batch"),
                    F.expr(f"cast({vec_expr} as bigint)")
                    .alias("index_vectors_at_decision"),
                    F.expr(f"cast(({vec_expr}) * {ND_K} as bigint)")
                    .alias("rebuild_edge_budget")))


# ------------------------------- rebuild execute (the act step)

# graph_rebuild_policy DECIDES when accumulated insertions warrant a
# full rebuild; this operator EXECUTES one and measures what the edge
# budget buys. After all GR_B insert batches, rebuild the whole index
# from scratch (full-corpus NN-Descent — the certified graph_nn_descent
# plan over base + every inserted vector) and compare, against ONE
# fixed baseline (the exact top-ND_K over the FINAL corpus), the
# inserted nodes' answers BEFORE vs AFTER: "before" is the edges each
# batch connected at insert time — handicapped both by graph staleness
# (batch 1 searched a graph that had never seen batch 2's vectors) and
# by baseline drift (its true neighbors may not have existed yet) —
# exactly the degradation the drift curve tracks; "after" is the SAME
# beam search re-run over the freshly rebuilt, fully-symmetrized graph
# (the query path a production index serves after maintenance — a
# rebuilt index is judged by what its searches return, not by its raw
# out-edge lists). The report is the 1-row receipt: hits and recall on
# both sides, the regained ppm, the edges the rebuild actually built,
# and the policy's edge budget at full index size. Closes the
# lifecycle: build -> search -> sweep -> insert -> decide -> ACT.


@register(
    "graph_rebuild_execute",
    oracle=None,  # set below
    tags=("llm", "graph", "ann", "incremental", "maintenance", "action"),
)
def q_graph_rebuild_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the full rebuild the policy's budget pays for (module
    comment above): one row with the inserted-node count, the
    insertion-time hits/recall and the post-rebuild re-search
    hits/recall vs the final-corpus exact top-ND_K, the recall
    regained in ppm, the rebuilt edge count, and the edge budget
    (|corpus| x ND_K).

    Scale shape: the insert replay, the full-corpus NN-Descent, and
    the beam re-search are the three already-audited plans (per-batch
    broadcast panels + id-keyed scoring joins; per-round edge
    self-joins and per-hop visited state with checkpoint-truncated
    lineage); the act layer adds one broadcast panel for the exact
    baseline (GR_B x GR_M queries, corpus scanned once with two-phase
    top-K), two id-keyed hit joins against the pinned exact set, and
    broadcast crossJoins of 1-row bounds."""
    _, inserts = _insert_replay(spark, sf_dir)
    en_full = _embeddings_en(spark, sf_dir)
    nfull = en_full.agg(F.count("*").cast("bigint").alias("nf"))
    qpall = inserts[0][0]
    pre = inserts[0][1].select("query_id", "node")
    for qp, e in inserts[1:]:
        qpall = qpall.unionByName(qp)
        pre = pre.unionByName(e.select("query_id", "node"))
    qpall = pin(qpall)
    rounds_f = _nn_descent_rounds(en_full)
    rebuilt = rounds_f[-1]
    # the act's answer path: re-run the SAME beam search over the
    # rebuilt, symmetrized graph and answer with its top-ND_K
    und_f = _sym_edges(rounds_f)
    score = _make_score(en_full, qpall)
    nn_f = nfull.select(F.col("nf").alias("n"))
    seen0 = score(qpall.select("query_id", "qid")
                  .crossJoin(F.broadcast(_entry_nodes(spark, nn_f)))
                  .filter(F.col("node") != F.col("qid"))
                  .select("query_id", "node")
                  ).localCheckpoint(eager=True)
    seen = _search_seen(seen0, und_f, qpall, score, GS_BEAM, GS_HOPS)
    post = _topk_nodes(seen, ND_K)
    exact = pin(_exact_topk(en_full, qpall, ND_K))
    pre_h = (pre.join(exact, ["query_id", "node"])
             .agg(F.count("*").cast("bigint").alias("pre_hits")))
    post_h = (post.join(exact, ["query_id", "node"])
              .agg(F.count("*").cast("bigint").alias("post_hits")))
    built = rebuilt.agg(F.count("*").cast("bigint")
                        .alias("rebuild_edges_built"))
    denom = GR_B * GR_M * ND_K
    # `div` == oracle `//`: both truncate toward zero, including the
    # possibly-negative regained column (engine-semantics pin)
    return (pre_h.crossJoin(F.broadcast(post_h))
            .crossJoin(F.broadcast(built))
            .crossJoin(F.broadcast(nfull))
            .select(
                F.lit(GR_B * GR_M).cast("bigint").alias("n_inserted"),
                "pre_hits",
                F.expr(f"cast(pre_hits * 1000000 div {denom} as bigint)")
                .alias("pre_recall_ppm"),
                "post_hits",
                F.expr(f"cast(post_hits * 1000000 div {denom} as bigint)")
                .alias("post_recall_ppm"),
                F.expr(f"cast((post_hits - pre_hits) * 1000000"
                       f" div {denom} as bigint)")
                .alias("recall_regained_ppm"),
                "rebuild_edges_built",
                F.expr(f"cast(nf * {ND_K} as bigint)")
                .alias("rebuild_edge_budget")))


def _rebuild_curve_ctes() -> str:
    where = (f" CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf"
             f" WHERE vec_id < nf.nf - {GR_B * GR_M}")
    parts = [_graph_ctes(where), _und_cte()]
    # Per-batch CTE families: qp{b} (the insert panel), entries + hop
    # chain over the batch's current graph/scoring table, edges{b}
    # (connected top-ND_K), exact baseline, and — between batches —
    # the grown en/nn/und for the next one.
    und_cte, en_cte, nn_cte = "und", "en", "nn"
    for b in range(1, GR_B + 1):
        lo, hi = GR_B - b + 1, GR_B - b
        parts.append(f"""
    enq{b} AS MATERIALIZED (
        SELECT e2.vec_id, {sim.as_double_sql('e2.embedding')} AS demb
        FROM embeddings e2
             CROSS JOIN (SELECT count(*) AS nf FROM embeddings) nf2
        WHERE e2.vec_id >= nf2.nf - {lo * GR_M}
          AND e2.vec_id < nf2.nf - {hi * GR_M}),
    qp{b} AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS query_id,
                  CAST(vec_id AS BIGINT) AS qid,
                  demb AS qvec,
                  sqrt({sim.dot_sql('demb', 'demb')}) AS qnorm
           FROM enq{b})""")
        tag = f"i{b}"
        parts.append(_entries_seen0_ctes(
            qp=f"qp{b}", tag=tag, en_cte=en_cte, nn_cte=nn_cte))
        parts.append(_beam_hops_ctes(
            tag, GS_BEAM, GS_HOPS, qp=f"qp{b}", seen0=f"gs0{tag}",
            und_cte=und_cte, en_cte=en_cte))
        parts.append(f"""
    edges{b} AS MATERIALIZED (SELECT query_id, node, sim_ppm FROM (
                  SELECT query_id, node, sim_ppm,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY sim_ppm DESC, node)
                             AS rk
                  FROM gs{GS_HOPS}{tag})
              WHERE rk <= {ND_K})""")
        parts.append(_exact_ctes(ND_K, qp=f"qp{b}", en_cte=en_cte,
                                 tag=tag))
        if b < GR_B:
            parts.append(f"""
    en{b + 1} AS MATERIALIZED (
        SELECT vec_id, demb, nrm FROM {en_cte}
        UNION ALL
        SELECT vec_id, demb, sqrt({sim.dot_sql('demb', 'demb')}) AS nrm
        FROM enq{b}),
    nn{b + 1} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM en{b + 1}),
    und{b + 1} AS MATERIALIZED (SELECT DISTINCT u, w FROM (
        SELECT u, w FROM {und_cte}
        UNION ALL
        SELECT query_id AS u, node AS w FROM edges{b}
        UNION ALL
        SELECT node AS u, query_id AS w FROM edges{b}))""")
            und_cte, en_cte = f"und{b + 1}", f"en{b + 1}"
            nn_cte = f"nn{b + 1}"
    batch_rows = "\n    UNION ALL\n".join(f"""
    SELECT CAST({b} AS BIGINT) AS batch,
           (SELECT CAST(count(*) AS BIGINT) FROM gs{GS_HOPS}i{b})
               AS n_visited,
           (SELECT CAST(count(*) AS BIGINT)
            FROM edges{b} f JOIN exacti{b} e
              ON e.query_id = f.query_id AND e.node = f.node) AS n_hits,
           (SELECT CAST(count(*) * 1000000 // {GR_M * ND_K} AS BIGINT)
            FROM edges{b} f JOIN exacti{b} e
              ON e.query_id = f.query_id AND e.node = f.node)
               AS recall_ppm,
           (SELECT CAST(sum(sim_ppm) // count(*) AS BIGINT)
            FROM edges{b}) AS mean_edge_sim_ppm""" for b in range(1, GR_B + 1))
    parts.append(f"""
    batch_rows AS ({batch_rows})""")
    return ",".join(parts)


REGISTRY["graph_rebuild_decision"].oracle = _rebuild_curve_ctes() + """
    SELECT batch, n_visited, n_hits, recall_ppm, mean_edge_sim_ppm,
           CAST((SELECT recall_ppm FROM batch_rows WHERE batch = 1)
                - recall_ppm AS BIGINT) AS recall_drop_ppm
    FROM batch_rows ORDER BY batch"""


REGISTRY["graph_rebuild_policy"].oracle = _rebuild_curve_ctes() + f""",
    curve AS (SELECT batch,
                     CAST((SELECT recall_ppm FROM batch_rows
                           WHERE batch = 1) - recall_ppm AS BIGINT)
                         AS drop_ppm
              FROM batch_rows),
    nfq AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM embeddings),
    dec AS (SELECT CAST(min(batch) AS BIGINT) AS rb
            FROM curve WHERE drop_ppm >= {GRP_DROP_FLOOR_PPM})
    SELECT CAST({GRP_DROP_FLOOR_PPM} AS BIGINT) AS drop_floor_ppm,
           (SELECT CAST(max(drop_ppm) AS BIGINT) FROM curve)
               AS max_drop_ppm,
           dec.rb AS rebuild_after_batch,
           CAST(nfq.nf - ({GR_B} - dec.rb) * {GR_M} AS BIGINT)
               AS index_vectors_at_decision,
           CAST((nfq.nf - ({GR_B} - dec.rb) * {GR_M}) * {ND_K} AS BIGINT)
               AS rebuild_edge_budget
    FROM dec CROSS JOIN nfq"""


def _rebuild_execute_oracle() -> str:
    """The insert-replay chain (edges1..edges{GR_B}, qp1..qp{GR_B})
    plus a SECOND, full-corpus NN-Descent chain (tag 'f'), the beam
    re-search over the rebuilt symmetrized graph (the act's answer
    path), and the final-corpus exact baseline (tag 'x') — the SQL
    twin of q_graph_rebuild_execute."""
    qpall = " UNION ALL ".join(
        f"SELECT * FROM qp{b}" for b in range(1, GR_B + 1))
    pre = "\n              UNION ALL\n              ".join(
        f"SELECT query_id, node FROM edges{b}"
        for b in range(1, GR_B + 1))
    denom = GR_B * GR_M * ND_K
    return (_rebuild_curve_ctes()
            + ","
            + _graph_ctes("", tag="f", lead=False)
            + ","
            + _und_cte(tag="f")
            + f""",
    qpall AS MATERIALIZED ({qpall}),
    pre AS ({pre}),"""
            + _entries_seen0_ctes(qp="qpall", tag="f",
                                  en_cte="enf", nn_cte="nnf")
            + ","
            + _beam_hops_ctes("f", GS_BEAM, GS_HOPS, qp="qpall",
                              seen0="gs0f", und_cte="undf",
                              en_cte="enf")
            + ","
            + _found_cte(f"gs{GS_HOPS}f", ND_K, tag="f")
            + ","
            + _exact_ctes(ND_K, qp="qpall", en_cte="enf", tag="x")
            + f""",
    nfq AS (SELECT CAST(count(*) AS BIGINT) AS nf FROM embeddings),
    post AS (SELECT query_id, node FROM foundf),
    preh AS (SELECT CAST(count(*) AS BIGINT) AS pre_hits
             FROM pre p JOIN exactx e
               ON e.query_id = p.query_id AND e.node = p.node),
    posth AS (SELECT CAST(count(*) AS BIGINT) AS post_hits
              FROM post p JOIN exactx e
                ON e.query_id = p.query_id AND e.node = p.node),
    built AS (SELECT CAST(count(*) AS BIGINT) AS rebuild_edges_built
              FROM e{ND_ROUNDS}f)
    SELECT CAST({GR_B * GR_M} AS BIGINT) AS n_inserted,
           preh.pre_hits,
           CAST(pre_hits * 1000000 // {denom} AS BIGINT)
               AS pre_recall_ppm,
           posth.post_hits,
           CAST(post_hits * 1000000 // {denom} AS BIGINT)
               AS post_recall_ppm,
           CAST((post_hits - pre_hits) * 1000000 // {denom} AS BIGINT)
               AS recall_regained_ppm,
           built.rebuild_edges_built,
           CAST(nfq.nf * {ND_K} AS BIGINT) AS rebuild_edge_budget
    FROM preh CROSS JOIN posth CROSS JOIN built CROSS JOIN nfq""")


REGISTRY["graph_rebuild_execute"].oracle = _rebuild_execute_oracle()
