"""Text analysis queries: token statistics, language-model and
readability scores, tokenizers (BPE, WordPiece, unigram Viterbi), corpus
drift and diversity measures, and per-document scores (``text_``,
``tokenizer_``, ``corpus_``, ``score_``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..registry import REGISTRY, pin, register, table
from ..partitioning import spread
from ..functions.hashing import hash32_col, hash32_sql_duck
from ..functions.text import TOKEN_RE, tokens_col, tokens_sql
from ..operators import logreg as lg
from ..operators import similarity as sim
from ..operators.dedup import (
    MINHASH_K,
    minhash_signature_col,
    minhash_signature_sql,
    shingle_ids_tok_col,
    shingle_ids_tok_sql,
    token_hashes_32_col,
    token_hashes_32_duck_sql,
)
from ..operators.dedup import MERSENNE_P as _MERSENNE_P
from ..operators.dedup import SHINGLE_COMB as _SHINGLE_COMB
from ..operators.textstats import (
    lang_id_cols,
    lang_id_sql,
    quality_cols,
    quality_sql,
    token_stats_cols,
    token_stats_sql,
)
from ..operators.textstats import STOPWORDS as _STOP


# ------------------------------------------------------------ text analysis


@register(
    "text_token_stats",
    oracle=(lambda ts: f"""
    SELECT doc_id, {ts['n_chars']} AS n_chars, {ts['n_ws_tokens']} AS n_ws_tokens,
           {ts['n_re_tokens']} AS n_re_tokens, {ts['est_bpe_tokens']} AS est_bpe_tokens,
           {ts['n_punct']} AS n_punct
    FROM documents ORDER BY doc_id
    """)(token_stats_sql("text")),
    tags=("llm", "token-count"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, regex word tokens, chars, a
    BPE-ish estimate (~4 chars/token). Pure JVM expressions — this is the
    shape of a corpus-stats pass that must run over every document at
    100 TB, so no Python in the loop."""
    d = spread(table(spark, sf_dir, "documents"))
    tc = token_stats_cols(F.col("text"))
    return d.select("doc_id", *[tc[k].alias(k) for k in
                                ["n_chars", "n_ws_tokens", "n_re_tokens",
                                 "est_bpe_tokens", "n_punct"]]).orderBy("doc_id")


@register(
    "text_quality_scores",
    oracle=(lambda qs: f"""
    SELECT doc_id, {qs['punct_ratio']} AS punct_ratio,
           {qs['stopword_ratio']} AS stopword_ratio,
           {qs['quality_score']} AS quality_score,
           {qs['quality_bucket']} AS quality_bucket
    FROM documents ORDER BY doc_id
    """)(quality_sql("text")),
    tags=("llm", "quality"),
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (length/punctuation/stopword mix). Rational
    arithmetic only, so the oracle matches bit-for-bit."""
    d = spread(table(spark, sf_dir, "documents"))
    qc = quality_cols(F.col("text"))
    return d.select("doc_id", *[qc[k].alias(k) for k in
                                ["punct_ratio", "stopword_ratio",
                                 "quality_score", "quality_bucket"]]).orderBy("doc_id")


@register(
    "corpus_mix_stats",
    oracle=(lambda ts: f"""
    WITH s AS (SELECT source, lang, count(*) AS n_docs,
                      CAST(sum({ts['est_bpe_tokens']}) AS BIGINT) AS sum_est_tokens
               FROM documents GROUP BY 1, 2)
    SELECT source, lang, n_docs, sum_est_tokens,
           {sim.round6_stable_sql(
               'sum_est_tokens / CAST(sum(sum_est_tokens) OVER () AS DOUBLE)')}
             AS token_share
    FROM s ORDER BY source, lang
    """)(token_stats_sql("text")),
    tags=("llm", "corpus-mix"),
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix accounting: per (source, lang) document and estimated
    token counts plus each cell's share of the global token budget — the
    table every data-mixture decision reads. The global-share window runs
    over the already-aggregated source×lang grid (tens of rows at any
    corpus size), so the empty-frame window is not a scale hazard."""
    d = table(spark, sf_dir, "documents")
    est = token_stats_cols(F.col("text"))["est_bpe_tokens"]
    s = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(est).alias("sum_est_tokens"),
    )
    w = Window.partitionBy()
    return s.select(
        "source", "lang", "n_docs", "sum_est_tokens",
        sim.round6_stable(F.col("sum_est_tokens")
                          / F.sum("sum_est_tokens").over(w).cast("double"))
        .alias("token_share"),
    ).orderBy("source", "lang")


@register(
    "text_repetition_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    h AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t),
    g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(hs)),
                        i -> (hs[i] * {_SHINGLE_COMB} + hs[i+1]) % {_MERSENNE_P}))
                   AS gram
          FROM h WHERE len(hs) >= 2),
    c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
    r AS (SELECT doc_id,
                 {sim.round6_stable_sql('max(n) / CAST(sum(n) AS DOUBLE)')}
                   AS top_bigram_share,
                 CAST(sum(n) AS BIGINT) AS n_bigrams
          FROM c GROUP BY 1)
    SELECT d.doc_id, coalesce(r.top_bigram_share, 0.0) AS top_bigram_share,
           coalesce(r.n_bigrams, 0) AS n_bigrams
    FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "repetition"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/spam signal: share of the most frequent token bigram
    among all bigram occurrences (high = repeated template text). Uses
    NON-distinct numeric bigram ids, exploded and counted — the
    explode -> partial-count -> per-doc max/sum shape that distributes:
    the shuffle key is (doc_id, gram), never the document text.

    Oracle note: ``sum(n)`` MUST be cast to BIGINT — DuckDB's sum over
    integers returns HUGEINT (int128), which converts to float64 in
    pandas/arrow fetches, so a dtype-faithful hasher sees "1234.0" vs
    Spark's int64 "1234" (the r3 driver hash mismatch on this query)."""
    d = spread(table(spark, sf_dir, "documents"))
    hs = token_hashes_32_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(hs) - 1),
        lambda i: (F.element_at(hs, i) * _SHINGLE_COMB
                   + F.element_at(hs, i + 1)) % _MERSENNE_P,
    )
    g = (d.select("doc_id", F.explode(
            F.when(F.size(hs) >= 2, grams).otherwise(F.array())).alias("gram")))
    r = (g.groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
         .groupBy("doc_id")
         .agg(sim.round6_stable(F.max("n") / F.sum("n").cast("double"))
              .alias("top_bigram_share"),
              F.sum("n").alias("n_bigrams")))
    return (
        d.select("doc_id").join(r, "doc_id", "left")
        .select("doc_id",
                F.coalesce("top_bigram_share", F.lit(0.0)).alias("top_bigram_share"),
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"))
        .orderBy("doc_id")
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS tok
               FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2),
    e AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                 count(*) AS n_distinct, sum(n * ln(n)) AS s
          FROM c GROUP BY 1)
    SELECT d.doc_id,
           coalesce(e.n_tokens, 0) AS n_tokens,
           coalesce(e.n_distinct, 0) AS n_distinct,
           {sim.round6_stable_sql('''CASE WHEN e.n_tokens > 0
                      THEN ln(e.n_tokens) - e.s / e.n_tokens
                      ELSE 0.0 END''')} AS token_entropy
    FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "text-entropy"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document — the cheap perplexity proxy
    curation pipelines use for gibberish and boilerplate detection (low
    entropy = repeated tokens/templates, anomalously high = random
    strings). Computed as H = ln(N) - (sum n*ln(n))/N from per-(doc,
    token) counts, so the corpus shuffles only (doc_id, token) pairs
    with map-side partial counting and the per-doc reduce carries three
    numbers. Rounded with round6_stable on both sides: ln() results are
    transcendental, but libm implementations aren't required to be
    correctly rounded, so a 1-ulp Java-vs-DuckDB log() difference landing
    within an ulp of a 6-dp half-boundary could still diverge under the
    engines' differing round() builtins — the stable rounding makes the
    post-rounding path identical regardless."""
    d = spread(table(spark, sf_dir, "documents"))
    from ..functions.text import tokens_col
    t = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    c = t.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    e = c.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("n") * F.log(F.col("n"))).alias("s"))
    return (
        d.select("doc_id").join(e, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            sim.round6_stable(
                F.when(F.col("n_tokens") > 0,
                       F.log(F.col("n_tokens"))
                       - F.col("s") / F.col("n_tokens"))
                .otherwise(F.lit(0.0))).alias("token_entropy"))
        .orderBy("doc_id")
    )


EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
URL_RE = "https?://[^\\s]+"


@register(
    "text_redact_pii",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{URL_RE}')) AS INT) AS n_urls,
           md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{URL_RE}', '<URL>', 'g')) AS redacted_md5
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "redact"),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern scrubbing (emails, URLs) with per-document match counts
    and a hash of the redacted text (the hash keeps the oracle row narrow
    while still value-checking every byte of the rewrite). Pure JVM regex —
    the shape of a full-corpus redaction pass."""
    d = spread(table(spark, sf_dir, "documents"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        URL_RE, "<URL>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0))
        .cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(URL_RE), 0))
        .cast("int").alias("n_urls"),
        F.md5(redacted).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "text_lang_id",
    oracle=(lambda ls: f"""
    SELECT {ls['pred_lang']} AS pred_lang, count(*) AS n_docs
    FROM documents GROUP BY 1 ORDER BY 1
    """)(lang_id_sql("text")),
    tags=("llm", "lang-id"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID, aggregated to a per-language census."""
    d = spread(table(spark, sf_dir, "documents"))
    lc = lang_id_cols(F.col("text"))
    return (
        d.select(lc["pred_lang"].alias("pred_lang"))
        .groupBy("pred_lang").agg(F.count("*").alias("n_docs"))
        .orderBy("pred_lang")
    )


VOCAB_TOPK = 50


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS token
               FROM documents),
    c AS (SELECT token, count(*) AS n_occ,
                 count(DISTINCT doc_id) AS n_docs
          FROM t GROUP BY token)
    SELECT token, n_occ, n_docs, rnk FROM (
        SELECT token, n_occ, n_docs,
               row_number() OVER (ORDER BY n_occ DESC, token) AS rnk
        FROM c)
    WHERE rnk <= {VOCAB_TOPK} ORDER BY rnk
    """,
    tags=("llm", "vocab"),
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary census (the Zipf head): top-K tokens by
    occurrence count with document frequency — the first pass of
    tokenizer training / stopword discovery over a training corpus.

    Scale shape: explode -> groupBy(token) is canonical wordcount; the
    shuffle key is the token with map-side partial aggregation, so the
    head tokens' skew is absorbed before the exchange. The top-K is
    orderBy().limit(K) — TakeOrderedAndProject, per-partition K-row
    heaps then a driver merge of K rows per partition — NOT a global
    row_number() window, which would sort the entire distinct-token
    vocabulary (which grows with the corpus) on a single partition.
    The rank is derived on the K surviving rows only."""
    from ..functions.text import tokens_col
    d = spread(table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("token"))
    c = toks.groupBy("token").agg(
        F.count("*").alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs"))
    topk = c.orderBy(F.col("n_occ").desc(), "token").limit(VOCAB_TOPK)
    # Constant partition key: the window sees only the K surviving rows, so
    # single-partition execution is the point, not a hazard (and an explicit
    # key avoids the global-window WindowExec warning).
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("n_occ").desc(), "token")
    return topk.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


DECON_NGRAM = 8   # token n-gram width for eval-overlap (GPT-3 used 13)


# ------------------------------------------------- corpus LM quality score

@register(
    "text_unigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS tok
               FROM documents),
    lm AS (SELECT tok, count(*) AS n_tok FROM t GROUP BY 1),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM lm),
    scored AS (
        SELECT t.doc_id, count(*) AS n_tokens,
               sum(ln(CAST(tot.n_total AS DOUBLE))
                   - ln(CAST(lm.n_tok AS DOUBLE))) AS nll_sum
        FROM t JOIN lm USING (tok) CROSS JOIN tot
        GROUP BY t.doc_id)
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           {sim.round6_stable_sql(
               'CASE WHEN s.n_tokens > 0 THEN s.nll_sum / s.n_tokens '
               'ELSE 0.0 END')} AS lm_nll
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "lm-score"),
)
def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality score: train a unigram LM over the
    corpus itself (token -> count / total), then score each document by
    its mean negative log-likelihood under that LM. Low = head-heavy
    boilerplate, anomalously high = gibberish/random strings — the
    standard two-sided cut for crawl filtering (per-doc entropy in
    text_token_entropy is the within-doc analog).

    Scale shape: the LM is a token-keyed aggregate with map-side partial
    counting; the grand total is a 1-row aggregate broadcast by
    crossJoin; scoring joins exploded tokens to the LM on the token key
    (AQE skew-join splits the stopword head), then one per-doc reduce of
    three numbers. No driver-side state — the 'model' never leaves the
    cluster."""
    from ..functions.text import tokens_col
    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    lm = t.groupBy("tok").agg(F.count("*").alias("n_tok"))
    tot = lm.agg(F.sum("n_tok").cast("bigint").alias("n_total"))
    scored = (
        t.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log(F.col("n_total").cast("double"))
                  - F.log(F.col("n_tok").cast("double"))).alias("nll_sum"),
        )
    )
    return (
        d.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            sim.round6_stable(
                F.when(F.col("n_tokens") > 0,
                       F.col("nll_sum") / F.col("n_tokens"))
                .otherwise(F.lit(0.0))).alias("lm_nll"))
        .orderBy("doc_id")
    )


# ------------------------------------------------ token-length histogram

@register(
    "text_length_histogram",
    oracle="""
    WITH n AS (SELECT doc_id,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS n_tok
               FROM documents),
    b AS (SELECT CASE WHEN n_tok <= 0 THEN -1
                      ELSE length(bin(n_tok)) - 1 END AS bucket,
                 n_tok
          FROM n)
    SELECT bucket,
           CASE WHEN bucket < 0 THEN 0
                ELSE CAST(2 ** bucket AS BIGINT) END AS lo_tokens,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM b GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "length-histogram"),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — the distribution every
    sequence-packing and mixture plan reads first (how much of the corpus
    is short-tail, where does the budget concentrate). Buckets are exact
    integer math (bit length via bin(), never float log2, whose libm
    results at exact powers of two are engine-dependent): bucket b holds
    docs with 2^b <= n_tokens < 2^(b+1); empty docs land in bucket -1.
    One scan, one tiny aggregate — no joins, no windows."""
    from ..functions.text import tokens_col
    d = spread(table(spark, sf_dir, "documents"))
    n_tok = F.size(tokens_col(F.col("text")))
    b = d.select(
        F.when(n_tok <= 0, F.lit(-1))
        .otherwise(F.length(F.bin(n_tok.cast("bigint"))) - 1)
        .alias("bucket"),
        n_tok.alias("n_tok"),
    )
    return (
        b.groupBy("bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("sum_tokens"))
        .select(
            "bucket",
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket")).cast("bigint"))
            .alias("lo_tokens"),
            "n_docs", "sum_tokens")
        .orderBy("bucket")
    )


# -------------------------------------------- tokenizer training: BPE pass

BPE_TOP_MERGES = 20


@register(
    "tokenizer_bpe_top_merges",
    oracle=f"""
    WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                 AS tok
               FROM documents),
    p AS (SELECT unnest(list_transform(range(1, length(tok)),
                     i -> substr(tok, i, 1) || '|' || substr(tok, i + 1, 1)))
                 AS pair
          FROM t WHERE length(tok) >= 2),
    c AS (SELECT pair, count(*) AS n_occ FROM p GROUP BY pair),
    k AS (SELECT pair, n_occ FROM c
          ORDER BY n_occ DESC, pair LIMIT {BPE_TOP_MERGES})
    SELECT pair, n_occ,
           row_number() OVER (ORDER BY n_occ DESC, pair) AS rnk
    FROM k ORDER BY rnk
    """,
    tags=("llm", "tokenizer"),
)
def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first pass of BPE tokenizer training: corpus-weighted adjacent
    character-pair frequencies inside word tokens — the argmax pair IS
    the first merge rule, and the top-K table seeds the merge loop
    (full BPE iterates this counting step after each merge; every
    iteration is this same shuffle shape over a rewritten symbol
    stream).

    Scale shape: per-word fan-out is bounded by word length; the pair
    key gets map-side partial counting before one token-keyed exchange;
    the head selection is TakeOrderedAndProject like text_vocab_topk
    (the pair alphabet grows with the corpus's script diversity)."""
    from ..functions.text import tokens_col
    d = spread(table(spark, sf_dir, "documents"))
    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("tok")) \
            .filter(F.length("tok") >= 2)
    pairs = toks.select(F.explode(F.expr(
        "transform(sequence(1, length(tok) - 1), "
        "i -> concat(substr(tok, i, 1), '|', substr(tok, i + 1, 1)))"
    )).alias("pair"))
    c = pairs.groupBy("pair").agg(F.count("*").alias("n_occ"))
    topk = c.orderBy(F.col("n_occ").desc(), "pair").limit(BPE_TOP_MERGES)
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("n_occ").desc(), "pair")
    return topk.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


# ------------------------------------ source-level similarity (sketch merge)

_SRC_CTE = f"""
WITH t AS (SELECT source, doc_id,
                  regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
           FROM documents),
h AS (SELECT source, doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t),
s AS (SELECT source, doc_id, {shingle_ids_tok_sql('hs')} AS sids FROM h),
sig AS (SELECT source, {minhash_signature_sql('sids')} AS sig FROM s),
ssig AS (SELECT source,
                [{', '.join(f'min(sig[{j + 1}])' for j in range(MINHASH_K))}]
                  AS ssig
         FROM sig GROUP BY source),
ex AS (SELECT DISTINCT source, unnest(sids) AS sid FROM s),
cnt AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
inter AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS ni
          FROM ex a JOIN ex b ON a.sid = b.sid AND a.source < b.source
          GROUP BY 1, 2)
"""


@register(
    "corpus_source_similarity",
    oracle=f"""
    {_SRC_CTE}
    SELECT p.source_a, p.source_b,
           {sim.round6_stable_sql(
               'len(list_filter(range(1, ' + str(MINHASH_K + 1) + '), '
               'i -> a.ssig[i] = b.ssig[i])) / CAST(' + str(MINHASH_K)
               + ' AS DOUBLE)')} AS est_jaccard,
           {sim.round6_stable_sql(
               'coalesce(i.ni, 0) / CAST(greatest('
               'ca.n + cb.n - coalesce(i.ni, 0), 1) AS DOUBLE)')}
             AS exact_jaccard
    FROM (SELECT a.source AS source_a, b.source AS source_b,
                 a.ssig AS ssig FROM ssig a JOIN ssig b
          ON a.source < b.source) p
    JOIN ssig a ON a.source = p.source_a
    JOIN ssig b ON b.source = p.source_b
    LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
    JOIN cnt ca ON ca.source = p.source_a
    JOIN cnt cb ON cb.source = p.source_b
    ORDER BY p.source_a, p.source_b
    """,
    tags=("llm", "corpus-analytics", "minhash-merge"),
)
def q_corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-Jaccard between SOURCES via merged MinHash sketches.

    The corpus-diagnostics rollup behind mixture design: which crawl/feed
    pairs overlap enough that cross-source dedup matters. MinHash sketches
    merge by component-wise min (min over a union = min of the mins), so
    each source collapses to a K=32 vector no matter how many documents it
    has: the pairwise stage compares S^2/2 tiny sketches, never documents.

    Scale shape: per-doc signatures (map-only after one text scan), one
    partial-agg shuffle of K longs per source, then an S x S sketch join —
    at 100 TB the only full-corpus cost is the scan. The exact_jaccard
    column (distinct-shingle intersection over union) is the verification
    twin the estimate is judged against; it shuffles (source, shingle_id)
    pairs and would be dropped at real scale — kept here because it makes
    the sketch error visible and the whole query oracle-checkable."""
    d = spread(table(spark, sf_dir, "documents"))
    sh = (d.select("source", "doc_id",
                   token_hashes_32_col(F.col("text")).alias("hs"))
          .select("source", "doc_id",
                  shingle_ids_tok_col(F.col("hs")).alias("sids")))
    sh = pin(sh)

    sig = sh.select(
        "source", minhash_signature_col(F.col("sids")).alias("sig"))
    ssig = sig.groupBy("source").agg(
        F.array(*[F.min(F.element_at("sig", j + 1)) for j in range(MINHASH_K)]
                ).alias("ssig"))

    ex = sh.select("source", F.explode("sids").alias("sid")).distinct()
    cnt = ex.groupBy("source").agg(F.count("*").alias("n"))
    ea, eb = ex.alias("ea"), ex.alias("eb")
    inter = (
        ea.join(eb, (F.col("ea.sid") == F.col("eb.sid"))
                & (F.col("ea.source") < F.col("eb.source")))
        .groupBy(F.col("ea.source").alias("source_a"),
                 F.col("eb.source").alias("source_b"))
        .agg(F.count("*").alias("ni"))
    )

    a, b = ssig.alias("a"), ssig.alias("b")
    pairs = (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("source_a"),
                F.col("b.source").alias("source_b"),
                F.col("a.ssig").alias("ssig_a"),
                F.col("b.ssig").alias("ssig_b"))
    )
    matches = F.size(F.filter(
        F.zip_with("ssig_a", "ssig_b", lambda x, y: x == y), lambda v: v))
    ca = cnt.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    ni = F.coalesce(F.col("ni"), F.lit(0))
    union = F.greatest(F.col("n_a") + F.col("n_b") - ni, F.lit(1))
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .join(ca, "source_a").join(cb, "source_b")
        .select(
            "source_a", "source_b",
            sim.round6_stable(
                matches / F.lit(MINHASH_K).cast("double")).alias("est_jaccard"),
            sim.round6_stable(ni / union.cast("double")).alias("exact_jaccard"))
        .orderBy("source_a", "source_b")
    )


# --------------------------------------- source-vs-corpus JS divergence

# Per-token JS terms involve ln(), whose libm implementations may differ
# by 1 ulp across engines; summing thousands of such doubles in Spark's
# partition-dependent order would drift further. Each term is therefore
# quantized to a 1e-12 grid and accumulated as int64 (the transcendental
# analog of the Gram-matrix trick): the sum is exact and
# order-independent, a 1-ulp ln() difference moves the total by at most
# n_tokens * 1e-12 — absorbed by the final 6-dp rounding. Term magnitude
# < 1 and vocab < ~1e6, so the int64 never overflows.
JS_QUANT = 1e12


@register(
    "text_js_divergence_by_source",
    oracle=f"""
    WITH tok AS (SELECT source,
                        unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                          AS tok
                 FROM documents),
    st AS (SELECT source, tok, count(*) AS n_st FROM tok GROUP BY 1, 2),
    tt AS (SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM tt),
    ns AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s
           FROM st GROUP BY 1),
    terms AS (
        SELECT st.source,
               CAST(floor(
                 (0.5 * (st.n_st / CAST(ns.n_s AS DOUBLE))
                      * ln((st.n_st / CAST(ns.n_s AS DOUBLE))
                           / (0.5 * (st.n_st / CAST(ns.n_s AS DOUBLE)
                                     + tt.n_t / CAST(tot.n AS DOUBLE))))
                  + 0.5 * (tt.n_t / CAST(tot.n AS DOUBLE))
                      * ln((tt.n_t / CAST(tot.n AS DOUBLE))
                           / (0.5 * (st.n_st / CAST(ns.n_s AS DOUBLE)
                                     + tt.n_t / CAST(tot.n AS DOUBLE)))))
                 * {JS_QUANT!r} + 0.5) AS BIGINT) AS term_q,
               CAST(floor((tt.n_t / CAST(tot.n AS DOUBLE))
                          * {JS_QUANT!r} + 0.5) AS BIGINT) AS cov_q
        FROM st JOIN tt USING (tok) JOIN ns USING (source) CROSS JOIN tot)
    SELECT source, ns.n_s AS n_tokens,
           {sim.round6_stable_sql(
               f'(sum(term_q) / {JS_QUANT!r})'
               f' + 0.5 * ln(2) * (1 - sum(cov_q) / {JS_QUANT!r})')}
             AS js_nats
    FROM terms JOIN ns USING (source)
    GROUP BY source, ns.n_s ORDER BY source
    """,
    tags=("llm", "text-divergence"),
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the corpus distribution — the standard domain-shift / mixture
    diagnostic (which feeds look nothing like the rest of the corpus).
    Tokens absent from a source contribute 0.5*q*ln2 to its JS; that tail
    is folded in analytically via the source's corpus-mass coverage
    (1 - sum of q over the source's own vocabulary), so the join stays on
    (source, token) pairs that EXIST — never the |sources| x |vocab|
    cross product.

    Shuffles: (source, token) partial counts, a token-keyed join to the
    corpus token table, then a per-source reduce of two exact int64 sums
    (see JS_QUANT). One corpus scan; everything after the first aggregate
    is vocabulary-sized."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    tok = d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
    st = tok.groupBy("source", "tok").agg(F.count("*").alias("n_st"))
    st = pin(st)
    tt = st.groupBy("tok").agg(F.sum("n_st").alias("n_t"))
    ns = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    tot = tt.agg(F.sum("n_t").alias("n"))

    j = (st.join(tt, "tok")
         .join(F.broadcast(ns), "source")
         .crossJoin(F.broadcast(tot)))
    p = F.col("n_st") / F.col("n_s").cast("double")
    q = F.col("n_t") / F.col("n").cast("double")
    m = F.lit(0.5) * (p + q)
    term = (F.lit(0.5) * p * F.log(p / m)
            + F.lit(0.5) * q * F.log(q / m))
    qf = F.lit(JS_QUANT)
    terms = j.select(
        "source",
        F.floor(term * qf + F.lit(0.5)).cast("long").alias("term_q"),
        F.floor(q * qf + F.lit(0.5)).cast("long").alias("cov_q"))
    agg = terms.groupBy("source").agg(
        F.sum("term_q").alias("sum_term"), F.sum("cov_q").alias("sum_cov"))
    return (
        agg.join(F.broadcast(ns), "source")
        .select(
            "source", F.col("n_s").alias("n_tokens"),
            sim.round6_stable(
                (F.col("sum_term") / qf)
                + F.lit(0.5) * F.log(F.lit(2.0))
                * (F.lit(1) - F.col("sum_cov") / qf)).alias("js_nats"))
        .orderBy("source")
    )


# ------------------------------------------------- iterative BPE training

BPE_ROUNDS = 3


def _bpe_merge_syms(syms, a: str, b: str):
    """Apply one BPE merge (a,b)->ab greedily left-to-right (leftmost,
    non-overlapping — 'bbb' under (b,b) becomes ['bb','b']). try_element_at
    returns NULL on the empty accumulator, matching DuckDB's acc[-1]."""
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(F.lit(a + b))),
        ).otherwise(F.concat(acc, F.array(x))))


def _bpe_ctes(rounds: int = BPE_ROUNDS, apply_all: bool = False) -> list[str]:
    """Shared CTE chain for the BPE queries: word freqs -> per-round pair
    counts, argmax merge, greedy re-fold. With ``apply_all`` the final
    round's merge is applied too (training doesn't need it; tokenizer
    APPLICATION does)."""
    pair_cte = (
        "p{r} AS (SELECT p.a AS a, p.b AS b, CAST(sum(n) AS BIGINT) AS cnt"
        " FROM (SELECT n, unnest(list_transform(range(1, len(syms)),"
        " i -> {{'a': syms[i], 'b': syms[i+1]}})) AS p"
        " FROM v{prev}) GROUP BY 1, 2)")
    best_cte = ("b{r} AS (SELECT a, b, a || b AS m, cnt FROM p{r}"
                " ORDER BY cnt DESC, a, b LIMIT 1)")
    merge_cte = (
        "v{r} AS (SELECT n, list_reduce("
        "list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),"
        " (acc, x) -> CASE WHEN acc[-1] = b{r}.a AND x[1] = b{r}.b"
        " THEN list_append(acc[:-2], b{r}.m)"
        " ELSE list_append(acc, x[1]) END) AS syms"
        " FROM v{prev} CROSS JOIN b{r})")
    parts = [
        "w0 AS (SELECT w, count(*) AS n FROM ("
        "SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w"
        " FROM documents) GROUP BY 1)",
        "v0 AS (SELECT n, string_split(w, '') AS syms FROM w0)",
    ]
    for r in range(1, rounds + 1):
        parts.append(pair_cte.format(r=r, prev=r - 1))
        parts.append(best_cte.format(r=r))
        if apply_all or r < rounds:
            parts.append(merge_cte.format(r=r, prev=r - 1))
    return parts


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    parts = _bpe_ctes(rounds)
    final = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, a AS left_sym, b AS right_sym,"
        f" m AS merged, cnt AS n_occ FROM b{r}"
        for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(parts) + f"\n{final} ORDER BY merge_round"


@register(
    "tokenizer_bpe_train",
    oracle=_bpe_oracle(),
    tags=("llm", "bpe-train", "iterative"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training, rounds 1..3: count adjacent
    symbol pairs over the WORD-FREQUENCY table (not the corpus — classic
    BPE trains on the vocabulary, so per-round cost is vocab-sized and
    corpus-size independent after the first count), pick the most
    frequent pair (ties: lexicographic), apply the merge greedily
    left-to-right everywhere, repeat. Extends tokenizer_bpe_top_merges
    (the first-pass counts) into the actual training loop; the merge
    table IS the tokenizer artifact.

    All arithmetic is integer counting and string concatenation — no
    float anywhere — so the oracle's CTE-chain replay is exact by
    construction. The driver collects ONE row per round (the winning
    pair); merges are applied executor-side via an array fold."""
    d = spread(table(spark, sf_dir, "documents"))
    from ..functions.text import tokens_col

    words = (d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("n")))
    cur = pin(words.select("n", F.split("w", "").alias("syms")))
    merges = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = cur.select(
            "n",
            F.explode(F.zip_with(
                F.slice("syms", F.lit(1), F.size("syms") - 1),
                F.slice("syms", F.lit(2), F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )).alias("p"))
        pc = (pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
              .agg(F.sum("n").alias("cnt")))
        best = pc.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()[0]
        merges.append((r, best.a, best.b, best.a + best.b, int(best.cnt)))
        if r < BPE_ROUNDS:
            cur = cur.select(
                "n", _bpe_merge_syms(F.col("syms"), best.a, best.b)
                .alias("syms"))
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string,"
        " merged string, n_occ long",
    ).orderBy("merge_round")


# --------------------------------------- interpolated bigram LM score

# p(w2|w1) = LAMBDA * c(w1,w2)/c_first(w1) + (1-LAMBDA) * c(w2)/N —
# Jelinek-Mercer interpolation with the corpus unigram model, the
# cheapest LM upgrade over text_unigram_lm_score that actually captures
# local word order (shuffled gibberish scores high here, identically to
# its unshuffled source under a unigram LM).
LM2_LAMBDA = "CAST(0.7 AS DOUBLE)"
LM2_UNI = "CAST(0.3 AS DOUBLE)"
LM2_QUANT = 1e12


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    uni AS (SELECT tok, count(*) AS n_w FROM tok GROUP BY 1),
    tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT doc_id, toks,
                        unnest(range(1, len(toks))) AS i
                 FROM t WHERE len(toks) >= 2)),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    cf AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
    terms AS (
        SELECT bg.doc_id,
               CAST(floor(
                 ln(({LM2_LAMBDA} * (big.c12 / CAST(cf.c1 AS DOUBLE)))
                    + ({LM2_UNI} * (uni.n_w / CAST(tot.n_total AS DOUBLE))))
                 * {LM2_QUANT!r} + 0.5) AS BIGINT) AS tq
        FROM bg JOIN big USING (w1, w2) JOIN cf USING (w1)
                JOIN uni ON uni.tok = bg.w2 CROSS JOIN tot),
    scored AS (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(sum(tq) AS BIGINT) AS s FROM terms GROUP BY 1)
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           {sim.round6_stable_sql(
               'CASE WHEN s.n_bigrams > 0 '
               f'THEN -((s.s / {LM2_QUANT!r}) / s.n_bigrams) '
               'ELSE 0.0 END')} AS lm2_nll
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "lm-score"),
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score: train bigram + unigram
    corpus LMs, score each document by mean negative log-likelihood of
    its bigrams under p(w2|w1) = 0.7 * ML_bigram + 0.3 * ML_unigram. The
    unigram floor keeps every probability positive without smoothing
    hyperparameters, and word order now matters — the filter that
    separates fluent text from bag-of-frequent-words spam.

    Scale shape: two vocabulary-keyed aggregates (bigram counts, first-
    token counts) with map-side partials, then the doc's bigram stream
    joins them on their natural keys (AQE splits the stopword-head skew);
    the per-doc reduce carries one exact int64. Each ln() term is
    quantized to a 1e-12 grid and summed as int64 (same discipline as
    text_js_divergence_by_source) so partition order can't move the sum
    and a 1-ulp libm difference is absorbed by the 6-dp rounding."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    tok = t.select("doc_id", F.explode("toks").alias("tok"))
    uni = tok.groupBy("tok").agg(F.count("*").alias("n_w"))
    tot = uni.agg(F.sum("n_w").cast("bigint").alias("n_total"))
    bg = (t.filter(F.size("toks") >= 2)
          .select("doc_id", "toks",
                  F.explode(F.sequence(F.lit(1),
                                       F.size("toks") - 1)).alias("i"))
          .select("doc_id",
                  F.element_at("toks", F.col("i")).alias("w1"),
                  F.element_at("toks", F.col("i") + 1).alias("w2")))
    bg = pin(bg)
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cf = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    lam, unl = F.expr(LM2_LAMBDA), F.expr(LM2_UNI)
    term = F.log((lam * (F.col("c12") / F.col("c1").cast("double")))
                 + (unl * (F.col("n_w") / F.col("n_total").cast("double"))))
    terms = (
        bg.join(big, ["w1", "w2"])
        .join(cf, "w1")
        .join(uni, bg.w2 == uni.tok)
        .crossJoin(F.broadcast(tot))
        .select("doc_id",
                F.floor(term * F.lit(LM2_QUANT) + F.lit(0.5))
                 .cast("long").alias("tq")))
    scored = terms.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("tq").cast("bigint").alias("s"))
    return (
        d.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            sim.round6_stable(
                F.when(F.col("n_bigrams") > 0,
                       -((F.col("s") / F.lit(LM2_QUANT))
                         / F.col("n_bigrams")))
                .otherwise(F.lit(0.0))).alias("lm2_nll"))
        .orderBy("doc_id")
    )


# ------------------------------------------------ TF-IDF keyword terms

TFIDF_K = 3  # keywords kept per document


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                          AS tok
                 FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
               {sim.round6_stable_sql(
                   'tf.tf * ln(nd.n_docs / CAST(df.df AS DOUBLE))')}
                 AS tfidf6
        FROM tf JOIN df USING (tok) CROSS JOIN nd)
    SELECT doc_id, term, tf, df, tfidf6, rn FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf6 DESC, term) AS rn
        FROM scored)
    WHERE rn <= {TFIDF_K} ORDER BY doc_id, rn
    """,
    tags=("llm", "tfidf"),
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-{TFIDF_K} terms per document by
    tf * ln(N/df). The document-frequency table is a vocabulary-keyed
    aggregate (map-side partials); scoring joins each document's term
    counts to it on the token key and the per-doc top-k is a bounded
    window (k rows survive per doc). Ranking uses the 6-dp-stable score
    with a lexical tiebreak, so a 1-ulp ln() difference cannot reorder
    the cut. Corpus-size-independent state: nothing global except the
    1-row document count, broadcast."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    tok = pin(tok)
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    nd = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", F.col("tok").alias("term"), "tf", "df",
            sim.round6_stable(
                F.col("tf") * F.log(F.col("n_docs")
                                    / F.col("df").cast("double")))
               .alias("tfidf6")))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf6").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_K)
        .orderBy("doc_id", "rn")
    )


# -------------------------------------------- PMI collocation mining

PMI_MIN_COUNT = 5  # bigram support floor (PMI is unstable below it)
PMI_TOP = 20


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH t AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    tok AS (SELECT unnest(toks) AS tok FROM t),
    uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                 FROM t WHERE len(toks) >= 2)),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2
            HAVING count(*) >= {PMI_MIN_COUNT}),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bg),
    scored AS (
        SELECT big.w1, big.w2, big.c12,
               {sim.round6_stable_sql(
                   'ln((big.c12 / CAST(nb.n AS DOUBLE))'
                   ' / ((u1.c / CAST(nu.n AS DOUBLE))'
                   '    * (u2.c / CAST(nu.n AS DOUBLE))))')} AS pmi6
        FROM big JOIN uni u1 ON u1.tok = big.w1
                 JOIN uni u2 ON u2.tok = big.w2
                 CROSS JOIN nu CROSS JOIN nb)
    SELECT w1, w2, c12, pmi6, rn FROM (
        SELECT *, row_number() OVER (ORDER BY pmi6 DESC, w1, w2) AS rn
        FROM scored)
    WHERE rn <= {PMI_TOP} ORDER BY rn
    """,
    tags=("llm", "collocations"),
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: the {PMI_TOP} strongest two-word
    collocations (bigrams whose joint probability most exceeds the
    product of their marginals), with a support floor of
    {PMI_MIN_COUNT} occurrences — the classic phrase-discovery pass a
    tokenizer or phrase-vocab builder runs over a corpus.

    Scale shape: everything is vocabulary-sized after the first
    aggregates (bigram counts with map-side partials, HAVING applied in
    the same reduce). The global top-{PMI_TOP} is orderBy().limit() —
    TakeOrderedAndProject with per-partition heaps, never a global
    row_number() window over the collocation table (which grows with
    vocabulary); the rank is derived on the {PMI_TOP} surviving rows.
    The 6-dp-stable PMI plus lexical tiebreak keeps the cut
    deterministic cross-engine."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select(tokens_col(F.col("text")).alias("toks"))
    tok = t.select(F.explode("toks").alias("tok"))
    uni = tok.groupBy("tok").agg(F.count("*").alias("c"))
    nu = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bg = pin(
        t.filter(F.size("toks") >= 2)
        .select("toks", F.explode(F.sequence(F.lit(1),
                                             F.size("toks") - 1)).alias("i"))
        .select(F.element_at("toks", F.col("i")).alias("w1"),
                F.element_at("toks", F.col("i") + 1).alias("w2")))
    big = (bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .filter(F.col("c12") >= PMI_MIN_COUNT))
    nb = bg.agg(F.count("*").cast("bigint").alias("nb"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    scored = (
        big.join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c12",
            sim.round6_stable(
                F.log((F.col("c12") / F.col("nb").cast("double"))
                      / ((F.col("c1") / F.col("n").cast("double"))
                         * (F.col("c2") / F.col("n").cast("double")))))
               .alias("pmi6")))
    topk = scored.orderBy(F.col("pmi6").desc(), "w1", "w2").limit(PMI_TOP)
    # Constant partition key: the window sees only the PMI_TOP surviving
    # rows, so single-partition execution is the point, not a hazard.
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("pmi6").desc(), F.col("w1"), F.col("w2"))
    return topk.withColumn("rn", F.row_number().over(w)).orderBy("rn")

CONTAIN_SPAN_K = 16


# --------------------------------- train-then-apply classifier inference

_LG_FEAT_ID_CTE = (
    "feat AS (SELECT doc_id, "
    "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, "
    + ", ".join(f"{sql} AS x_{name}"
                for name, sql in lg.feature_sql("text").items())
    + " FROM documents)"
)


@register(
    "score_quality_logreg",
    oracle=f"""
    WITH {_LG_FEAT_ID_CTE},
    {lg.logreg_train_cte_sql()}
    SELECT f.doc_id,
           ({lg.margin_sql('w')} >= 0) AS predicted_en,
           {sim.round6_stable_sql(
               f'1.0 / (1.0 + exp(-({lg.margin_sql("w")})))')} AS p_en
    FROM feat f CROSS JOIN w{lg.ROUNDS} w
    ORDER BY f.doc_id
    """,
    tags=("llm", "score-logreg"),
)
def q_score_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply: the full classifier loop in one query — train
    the quality logistic regression (train_quality_logreg's 5 GD rounds,
    weights value-checked there) and immediately SCORE every document
    with the learned model: sigmoid probability and the margin-sign
    prediction. This is how a bootstrapped quality classifier is
    actually consumed by a curation pipeline (score -> threshold ->
    filter/sample).

    Scale shape: training is R passes over the pinned feature projection
    (only 4-number gradients reach the driver); inference is one
    map-only pass with the weights inlined as literals — the 100 TB
    plan is scan -> project, no shuffle at all past the presentation
    sort. The oracle replays training AND scoring, so the per-document
    probabilities are value-checked end-to-end."""
    d = spread(table(spark, sf_dir, "documents"))
    fcols = lg.feature_cols(F.col("text"))
    feat = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()])
    feat = pin(feat)
    weights = lg.train_logreg(feat)
    m = lg._margin(weights)
    return (
        feat.select(
            "doc_id",
            (m >= 0).alias("predicted_en"),
            sim.round6_stable(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-m))).alias("p_en"))
        .orderBy("doc_id")
    )


# ---------------------------------------- tokenizer application (BPE)

BPE_VOCAB_TOP = 20


@register(
    "tokenizer_bpe_apply",
    oracle=("WITH " + ",\n".join(_bpe_ctes(apply_all=True)) + f""",
    vocab AS (SELECT sym, CAST(sum(n) AS BIGINT) AS n_occ
              FROM (SELECT n, unnest(syms) AS sym FROM v{BPE_ROUNDS})
              GROUP BY 1)
    SELECT sym, n_occ, rn FROM (
        SELECT *, row_number() OVER (ORDER BY n_occ DESC, sym) AS rn
        FROM vocab)
    WHERE rn <= {BPE_VOCAB_TOP} ORDER BY rn
    """),
    tags=("llm", "bpe-apply", "iterative"),
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: train the {BPE_ROUNDS}-merge BPE tokenizer
    (same loop as tokenizer_bpe_train) and then actually tokenize the
    corpus with it, reporting the top-{BPE_VOCAB_TOP} symbols of the
    resulting corpus-weighted vocabulary — the segmentation a data
    pipeline would hand the model. Application happens on the WORD
    table, weighted by word frequency, so tokenizing cost is
    vocab-sized, corpus-size independent (the classic BPE trick); the
    corpus is touched once for word counts. Integer counts end to end;
    the oracle replays training AND application CTE-for-CTE. Top-K is
    orderBy().limit() (TakeOrderedAndProject), rank derived on the K
    survivors."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    words = (d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("n")))
    cur = pin(words.select("n", F.split("w", "").alias("syms")))
    for _r in range(1, BPE_ROUNDS + 1):
        pairs = cur.select(
            "n",
            F.explode(F.zip_with(
                F.slice("syms", F.lit(1), F.size("syms") - 1),
                F.slice("syms", F.lit(2), F.size("syms") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )).alias("p"))
        pc = (pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
              .agg(F.sum("n").alias("cnt")))
        best = pc.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()[0]
        cur = cur.select(
            "n", _bpe_merge_syms(F.col("syms"), best.a, best.b)
            .alias("syms"))
    vocab = (cur.select("n", F.explode("syms").alias("sym"))
             .groupBy("sym").agg(F.sum("n").cast("bigint").alias("n_occ")))
    topk = vocab.orderBy(F.col("n_occ").desc(), "sym").limit(BPE_VOCAB_TOP)
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("n_occ").desc(), "sym")
    return topk.withColumn("rn", F.row_number().over(w)).orderBy("rn")


# --------------------------------------------- per-document novelty


@register(
    "text_novelty_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                        AS toks
               FROM documents),
    h AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t),
    g AS (SELECT doc_id,
                 {shingle_ids_tok_sql('hs', CONTAIN_SPAN_K)} AS spans
          FROM h),
    sp AS (SELECT doc_id, unnest(spans) AS span FROM g),
    df AS (SELECT span, count(DISTINCT doc_id) AS n_docs
           FROM sp GROUP BY 1),
    per AS (SELECT sp.doc_id, count(*) AS n_spans,
                   CAST(sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_unique
            FROM sp JOIN df USING (span) GROUP BY 1)
    SELECT doc_id, n_spans, n_unique,
           {sim.round6_stable_sql(
               'n_unique / CAST(n_spans AS DOUBLE)')} AS novelty6
    FROM per ORDER BY doc_id
    """,
    tags=("llm", "novelty"),
)
def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    {CONTAIN_SPAN_K}-token spans that occur in NO other document — the
    inverse-redundancy signal soft-dedup weighting and mixture design
    consume (novelty 1.0 = entirely original; near 0 = assembled from
    corpus boilerplate). Same span relation as dedup_substring_spans /
    dedup_containment, so the shuffles carry (span_id, doc_id) and a
    span-keyed doc-frequency — never text. Docs shorter than the span
    width carry one whole-text span, so a verbatim short dup scores 0
    novelty against its copy."""
    d = spread(table(spark, sf_dir, "documents"))
    hs = token_hashes_32_col(F.col("text"))
    g = d.select("doc_id",
                 shingle_ids_tok_col(hs, CONTAIN_SPAN_K).alias("spans"))
    sp = pin(g.select("doc_id", F.explode("spans").alias("span")))
    df = sp.groupBy("span").agg(F.countDistinct("doc_id").alias("n_docs"))
    per = (sp.join(df, "span")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_spans"),
                F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_unique")))
    return (
        per.select("doc_id", "n_spans", "n_unique",
                   sim.round6_stable(
                       F.col("n_unique") / F.col("n_spans").cast("double"))
                      .alias("novelty6"))
        .orderBy("doc_id")
    )


# ------------------------------------------------- Zipf-law diagnostics

ZIPF_HEAD = 50   # tokens fitted (the head is where Zipf holds)
ZIPF_QUANT = 1e12


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (SELECT unnest(regexp_extract_all(lower(text),
                                                  '[a-z0-9]+')) AS tok
                 FROM documents),
    c AS (SELECT tok, count(*) AS n_occ FROM tok GROUP BY 1),
    head AS (SELECT n_occ,
                    row_number() OVER (ORDER BY n_occ DESC, tok) AS rnk
             FROM c ORDER BY n_occ DESC, tok LIMIT {ZIPF_HEAD}),
    pts AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * {ZIPF_QUANT!r}
                              + 0.5) AS BIGINT) AS xq,
                   CAST(floor(ln(CAST(n_occ AS DOUBLE)) * {ZIPF_QUANT!r}
                              + 0.5) AS BIGINT) AS yq
            FROM head),
    s AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(xq) AS BIGINT) AS sx,
                 CAST(sum(yq) AS BIGINT) AS sy,
                 CAST(sum(CAST(floor(((xq / {ZIPF_QUANT!r})
                                      * (yq / {ZIPF_QUANT!r}))
                                     * {ZIPF_QUANT!r} + 0.5) AS BIGINT))
                      AS BIGINT) AS sxy,
                 CAST(sum(CAST(floor(((xq / {ZIPF_QUANT!r})
                                      * (xq / {ZIPF_QUANT!r}))
                                     * {ZIPF_QUANT!r} + 0.5) AS BIGINT))
                      AS BIGINT) AS sxx
          FROM pts)
    SELECT k AS n_points,
           {sim.round6_stable_sql(
               '((k * (sxy / ' + repr(ZIPF_QUANT) + ')'
               ' - (sx / ' + repr(ZIPF_QUANT) + ')'
               ' * (sy / ' + repr(ZIPF_QUANT) + '))'
               ' / (k * (sxx / ' + repr(ZIPF_QUANT) + ')'
               ' - (sx / ' + repr(ZIPF_QUANT) + ')'
               ' * (sx / ' + repr(ZIPF_QUANT) + ')))')} AS zipf_slope6,
           {sim.round6_stable_sql(
               '((sy / ' + repr(ZIPF_QUANT) + ') / k'
               ' - (((k * (sxy / ' + repr(ZIPF_QUANT) + ')'
               ' - (sx / ' + repr(ZIPF_QUANT) + ')'
               ' * (sy / ' + repr(ZIPF_QUANT) + '))'
               ' / (k * (sxx / ' + repr(ZIPF_QUANT) + ')'
               ' - (sx / ' + repr(ZIPF_QUANT) + ')'
               ' * (sx / ' + repr(ZIPF_QUANT) + ')))'
               ' * ((sx / ' + repr(ZIPF_QUANT) + ') / k)))')}
             AS intercept6
    FROM s
    """,
    tags=("llm", "zipf"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the vocabulary head: least-squares slope of
    ln(freq) on ln(rank) for the top-{ZIPF_HEAD} tokens — the corpus
    health diagnostic (natural language sits near slope -1; template/
    machine-generated corpora deviate sharply, which is why curation
    dashboards track it). The head comes from a TakeOrdered top-K (no
    global window over the vocabulary); the regression runs on K points
    with ln() values quantized to an int64 grid before the closed-form
    sums, so the slope matches the oracle bit-for-bit despite the
    transcendental inputs."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    tok = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    c = tok.groupBy("tok").agg(F.count("*").alias("n_occ"))
    topk = c.orderBy(F.col("n_occ").desc(), "tok").limit(ZIPF_HEAD)
    wr = Window.partitionBy(F.lit(0)).orderBy(F.col("n_occ").desc(), "tok")
    head = topk.withColumn("rnk", F.row_number().over(wr))
    qf = F.lit(ZIPF_QUANT)
    pts = head.select(
        F.floor(F.log(F.col("rnk").cast("double")) * qf + F.lit(0.5))
         .cast("long").alias("xq"),
        F.floor(F.log(F.col("n_occ").cast("double")) * qf + F.lit(0.5))
         .cast("long").alias("yq"))
    s = pts.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("xq").cast("bigint").alias("sx"),
        F.sum("yq").cast("bigint").alias("sy"),
        F.sum(F.floor(((F.col("xq") / qf) * (F.col("yq") / qf)) * qf
                      + F.lit(0.5)).cast("long")).cast("bigint").alias("sxy"),
        F.sum(F.floor(((F.col("xq") / qf) * (F.col("xq") / qf)) * qf
                      + F.lit(0.5)).cast("long")).cast("bigint").alias("sxx"))
    k = F.col("k")
    sx, sy = F.col("sx") / qf, F.col("sy") / qf
    sxy, sxx = F.col("sxy") / qf, F.col("sxx") / qf
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    intercept = (sy / k) - (slope * (sx / k))
    return s.select(
        k.alias("n_points"),
        sim.round6_stable(slope).alias("zipf_slope6"),
        sim.round6_stable(intercept).alias("intercept6"))


# ---------------------------------------- conditional bigram entropy

CBE_QUANT = 1e12


@register(
    "text_conditional_entropy_by_source",
    oracle=f"""
    WITH t AS (SELECT source,
                      regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    bg AS (SELECT source, toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
                 FROM t WHERE len(toks) >= 2)),
    c12 AS (SELECT source, w1, w2, count(*) AS n12
            FROM bg GROUP BY 1, 2, 3),
    c1 AS (SELECT source, w1, CAST(sum(n12) AS BIGINT) AS n1
           FROM c12 GROUP BY 1, 2),
    nb AS (SELECT source, CAST(sum(n12) AS BIGINT) AS n
           FROM c12 GROUP BY 1),
    terms AS (
        SELECT c12.source,
               CAST(floor((c12.n12 * ln(CAST(c1.n1 AS DOUBLE) / c12.n12))
                          * {CBE_QUANT!r} + 0.5) AS BIGINT) AS tq
        FROM c12 JOIN c1 USING (source, w1))
    SELECT terms.source, nb.n AS n_bigrams,
           {sim.round6_stable_sql(
               f'(sum(tq) / {CBE_QUANT!r}) / nb.n')} AS cond_entropy6
    FROM terms JOIN nb USING (source)
    GROUP BY terms.source, nb.n ORDER BY terms.source
    """,
    tags=("llm", "cond-entropy"),
)
def q_cond_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(w2|w1) per source — how predictable
    the next token is given the current one. Templated/boilerplate
    feeds collapse toward 0 (each word forces the next); natural prose
    sits well above. Completes the corpus information-theory panel next
    to per-doc unigram entropy (text_token_entropy), domain-shift JS
    divergence, and the Zipf slope. Computed as
    (1/N) * sum over bigrams of n12 * ln(n1/n12) with each ln term
    quantized to an int64 grid before summation (the established
    transcendental-sum discipline), so partial-aggregation order can't
    move the result. Shuffles carry (source, w1, w2) counts — map-side
    partials over one corpus scan."""
    from ..functions.text import tokens_col

    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("source", tokens_col(F.col("text")).alias("toks"))
    bg = (t.filter(F.size("toks") >= 2)
          .select("source", "toks",
                  F.explode(F.sequence(F.lit(1),
                                       F.size("toks") - 1)).alias("i"))
          .select("source",
                  F.element_at("toks", F.col("i")).alias("w1"),
                  F.element_at("toks", F.col("i") + 1).alias("w2")))
    c12 = pin(bg.groupBy("source", "w1", "w2")
              .agg(F.count("*").alias("n12")))
    c1 = c12.groupBy("source", "w1").agg(
        F.sum("n12").cast("bigint").alias("n1"))
    nb = c12.groupBy("source").agg(F.sum("n12").cast("bigint").alias("n"))
    qf = F.lit(CBE_QUANT)
    terms = (c12.join(c1, ["source", "w1"])
             .select("source",
                     F.floor((F.col("n12")
                              * F.log(F.col("n1").cast("double")
                                      / F.col("n12"))) * qf + F.lit(0.5))
                      .cast("long").alias("tq")))
    return (
        terms.join(F.broadcast(nb), "source")
        .groupBy("source", "n")
        .agg(sim.round6_stable(
            (F.sum("tq") / qf) / F.col("n")).alias("cond_entropy6"))
        .select("source", F.col("n").alias("n_bigrams"), "cond_entropy6")
        .orderBy("source")
    )


# ------------------------------------------------- PSI drift diagnostic

_SPLIT_PCT = 95  # hash-mod train share, matching train_val_split


@register(
    "corpus_psi_drift",
    oracle=f"""
    WITH n AS (SELECT doc_id,
                      len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                        AS n_tok,
                      {hash32_sql_duck('CAST(doc_id AS VARCHAR)')} % 100
                        < {_SPLIT_PCT} AS is_train
               FROM documents),
    b AS (SELECT CASE WHEN n_tok <= 0 THEN -1
                      ELSE length(bin(n_tok)) - 1 END AS bucket,
                 is_train
          FROM n),
    c AS (SELECT bucket,
                 CAST(count(*) FILTER (WHERE is_train) AS BIGINT) AS n_train,
                 CAST(count(*) FILTER (WHERE NOT is_train) AS BIGINT) AS n_val
          FROM b GROUP BY 1),
    t AS (SELECT bucket, n_train, n_val,
                 CAST(sum(n_train) OVER () AS BIGINT) AS tot_train,
                 CAST(sum(n_val) OVER () AS BIGINT) AS tot_val,
                 CAST(count(*) OVER () AS BIGINT) AS nb
          FROM c),
    p AS (SELECT bucket, n_train, n_val,
                 CAST(floor(((n_train + 1) / CAST(tot_train + nb AS DOUBLE)
                             - (n_val + 1) / CAST(tot_val + nb AS DOUBLE))
                            * ln((n_train + 1) / CAST(tot_train + nb AS DOUBLE)
                                 / ((n_val + 1) / CAST(tot_val + nb AS DOUBLE)))
                            * 1e6 + 0.5) AS BIGINT) AS psi_contrib_ppm
          FROM t)
    SELECT bucket, n_train, n_val, psi_contrib_ppm,
           CAST(sum(psi_contrib_ppm) OVER () AS BIGINT) AS psi_total_ppm
    FROM p ORDER BY bucket
    """,
    tags=("llm", "drift-psi"),
)
def q_corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the deterministic train/val
    splits over the power-of-two token-length histogram — the standard
    "did my split (or my new crawl) change the distribution" gate; PSI >
    0.1 total is the conventional drift alarm. Laplace-smoothed shares
    ((n+1)/(tot+n_buckets)) keep empty buckets finite.

    Scale shape: one scan -> one aggregate on a bit-length bucket key
    (bounded cardinality ~60 at any corpus size), windows run over the
    bucket table only. The ln() contributions are quantized to an int64
    ppm grid per BUCKET (not per doc) so cross-engine libm skew has one
    chance per bucket to land on a grid edge, and the TOTAL is an exact
    integer sum of the quantized contributions — order-free."""
    d = spread(table(spark, sf_dir, "documents"))
    n_tok = F.size(tokens_col(F.col("text")))
    is_train = (hash32_col(F.col("doc_id").cast("string")) % 100
                < F.lit(_SPLIT_PCT))
    bucket = (F.when(n_tok <= 0, F.lit(-1))
              .otherwise(F.length(F.bin(n_tok.cast("bigint"))) - 1))
    c = (d.select(bucket.alias("bucket"), is_train.alias("is_train"))
         .groupBy("bucket")
         .agg(F.count_if("is_train").alias("n_train"),
              F.count_if(~F.col("is_train")).alias("n_val")))
    w = Window.partitionBy()
    t = c.select(
        "bucket", "n_train", "n_val",
        F.sum("n_train").over(w).alias("tot_train"),
        F.sum("n_val").over(w).alias("tot_val"),
        F.count(F.lit(1)).over(w).alias("nb"))
    p_tr = (F.col("n_train") + 1) / (F.col("tot_train") + F.col("nb")).cast("double")
    p_va = (F.col("n_val") + 1) / (F.col("tot_val") + F.col("nb")).cast("double")
    contrib = F.floor((p_tr - p_va) * F.log(p_tr / p_va) * F.lit(1e6)
                      + F.lit(0.5)).cast("long")
    p = t.select("bucket", "n_train", "n_val",
                 contrib.alias("psi_contrib_ppm"))
    return (p.select("bucket", "n_train", "n_val", "psi_contrib_ppm",
                     F.sum("psi_contrib_ppm").over(w).alias("psi_total_ppm"))
            .orderBy("bucket"))


# --------------------------------------------- PII compliance report


def _pii_oracle() -> str:
    return f"""
    WITH f AS (SELECT source,
                      len(regexp_extract_all(text, '{EMAIL_RE}')) > 0 AS he,
                      len(regexp_extract_all(text, '{URL_RE}')) > 0 AS hu
               FROM documents)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE he) AS BIGINT) AS n_with_email,
           CAST(count(*) FILTER (WHERE hu) AS BIGINT) AS n_with_url,
           CAST(count(*) FILTER (WHERE he) AS BIGINT) * 1000000
             // count(*) AS email_rate_ppm,
           CAST(count(*) FILTER (WHERE hu) AS BIGINT) * 1000000
             // count(*) AS url_rate_ppm
    FROM f GROUP BY source ORDER BY source
    """


@register(
    "text_pii_rate_by_source",
    oracle=_pii_oracle(),
    tags=("llm", "pii-report"),
)
def q_pii_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure report: how many documents carry emails /
    URLs and at what rate — the compliance table a redaction rollout is
    planned from (text_redact_pii is the ACTION; this is the audit).
    One scan, counts aggregate on the source key; rates are integer ppm."""

    d = spread(table(spark, sf_dir, "documents"))
    has_email = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(EMAIL_RE), 0)) > 0
    has_url = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(URL_RE), 0)) > 0
    return (d.select("source", has_email.alias("he"), has_url.alias("hu"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.count_if("he").alias("n_with_email"),
                 F.count_if("hu").alias("n_with_url"))
            .select("source", "n_docs", "n_with_email", "n_with_url",
                    F.expr("n_with_email * 1000000 div n_docs")
                    .alias("email_rate_ppm"),
                    F.expr("n_with_url * 1000000 div n_docs")
                    .alias("url_rate_ppm"))
            .orderBy("source"))


_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"


# ------------------------------------------------------- BM25 retrieval

# Pinned query terms (drawn from the corpus vocabulary). At serving scale
# the term list is the small side by construction — a query has O(10)
# terms regardless of corpus size.
BM25_TERMS = ("spark", "query", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
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
        FROM tf JOIN dft USING (tok) JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats),
    agg AS (SELECT doc_id, CAST(sum(term_ppm) AS BIGINT) AS bm25_ppm
            FROM scored GROUP BY 1)
    SELECT CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, bm25_ppm
    FROM agg ORDER BY bm25_ppm DESC, doc_id LIMIT {BM25_TOPK}
    """,
    tags=("llm", "retrieval", "bm25"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a pinned term query — the scoring core of
    every corpus search / RAG-recall pipeline.

    Scale shape: the term filter prunes the exploded token stream BEFORE
    any shuffle (only postings for the ~4 query terms survive, a ~1e-4
    selectivity at web scale); document frequencies and the corpus length
    stats are tiny aggregates broadcast to the scoring join; the final
    top-k is a TakeOrderedAndProject, never a global sort. Per-term
    scores are quantized to int64 ppm BEFORE the per-doc sum, so the
    aggregation is order-independent and bit-identical cross-engine (the
    one ln() per term is the only libm call, applied pre-quantization)."""
    d = pin(spread(table(spark, sf_dir, "documents"))
            .select("doc_id", tokens_col(F.col("text")).alias("toks")))
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(F.count("*").cast("bigint").alias("n_docs"),
                   F.sum("dl").cast("bigint").alias("sum_dl"))
    tf = (d.select("doc_id", F.explode("toks").alias("tok"))
          .filter(F.col("tok").isin(*BM25_TERMS))
          .groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf")))
    dft = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    scored = (tf.join(F.broadcast(dft), "tok")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats)))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = (F.col("tf")
             + BM25_K1 * (1 - BM25_B
                          + BM25_B * F.col("dl") * F.col("n_docs")
                          / F.col("sum_dl").cast("double")))
    term_ppm = F.floor(idf * (F.col("tf") * (BM25_K1 + 1)) / denom
                       * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    agg = (scored.select("doc_id", term_ppm.alias("term_ppm"))
           .groupBy("doc_id").agg(F.sum("term_ppm").cast("bigint")
                                  .alias("bm25_ppm")))
    w = Window.orderBy(F.col("bm25_ppm").desc(), "doc_id")
    return (agg.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select("rank", "doc_id", "bm25_ppm")
            .orderBy(F.col("bm25_ppm").desc(), "doc_id").limit(BM25_TOPK))


# ------------------------------------------- tokenizer fertility by lang

@register(
    "tokenizer_fertility_by_lang",
    oracle=(lambda ts: f"""
    WITH s AS (SELECT lang,
                      {ts['n_ws_tokens']} AS ws,
                      {ts['n_re_tokens']} AS re,
                      {ts['est_bpe_tokens']} AS bpe
               FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS n_words,
           CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
           {sim.round6_stable_sql(
               'sum(bpe) / CAST(greatest(sum(ws), 1) AS DOUBLE)')}
             AS fertility_bpe,
           {sim.round6_stable_sql(
               'sum(re) / CAST(greatest(sum(ws), 1) AS DOUBLE)')}
             AS fertility_re
    FROM s GROUP BY lang ORDER BY lang
    """)(token_stats_sql("text")),
    tags=("llm", "tokenizer", "fertility"),
)
def q_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) per
    language — the standard multilingual-tokenizer health metric: a lang
    whose fertility is 2x the corpus mean pays 2x the compute per word
    and starves in a token-budgeted mixture. Int sums only (map-side
    partial agg), ratios formed once per group — one scan, one tiny
    shuffle on lang."""
    d = spread(table(spark, sf_dir, "documents"))
    ts = token_stats_cols(F.col("text"))
    s = d.select("lang", ts["n_ws_tokens"].alias("ws"),
                 ts["n_re_tokens"].alias("re"),
                 ts["est_bpe_tokens"].alias("bpe"))
    g = s.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ws").cast("bigint").alias("n_words"),
        F.sum("bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("re").cast("bigint").alias("_re"))
    wsafe = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    return (g.select(
        "lang", "n_docs", "n_words", "n_bpe_tokens",
        sim.round6_stable(F.col("n_bpe_tokens") / wsafe).alias("fertility_bpe"),
        sim.round6_stable(F.col("_re") / wsafe).alias("fertility_re"))
        .orderBy("lang"))


# --------------------------------------------- token-share Gini by source

@register(
    "corpus_token_gini",
    oracle=f"""
    WITH n AS (SELECT source, doc_id, len({_TOKS}) AS x FROM documents),
    r AS (SELECT source, x,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY x, doc_id) AS i
          FROM n),
    g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(x) AS BIGINT) AS total_tokens,
                 CAST(sum(i * x) AS BIGINT) AS s_ix
          FROM r GROUP BY source)
    SELECT source, n_docs, total_tokens,
           {sim.round6_stable_sql(
               '(2.0 * s_ix) / (n_docs * CAST(greatest(total_tokens, 1) '
               'AS DOUBLE)) - (n_docs + 1.0) / n_docs')} AS gini
    FROM g ORDER BY source
    """,
    tags=("llm", "corpus-concentration", "gini"),
)
def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across documents, per source — the
    concentration diagnostic for mixture design (a source whose tokens
    sit in 1% of its docs dedups/filters very differently from a uniform
    one). Uses the rank formulation G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n
    over docs sorted by token count: everything that crosses the
    aggregation is an exact int64 sum, the two divisions happen once per
    source row. The per-source sort is windowed (partition-local at
    scale); ties are broken by doc_id so ranks are engine-identical."""
    d = spread(table(spark, sf_dir, "documents"))
    n = d.select("source", "doc_id",
                 F.size(tokens_col(F.col("text"))).alias("x"))
    w = Window.partitionBy("source").orderBy("x", "doc_id")
    r = n.withColumn("i", F.row_number().over(w))
    g = r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("x").cast("bigint").alias("total_tokens"),
        F.sum(F.col("i").cast("bigint") * F.col("x")).cast("bigint")
        .alias("s_ix"))
    gini = (2.0 * F.col("s_ix"))
    gini = gini / (F.col("n_docs")
                   * F.greatest(F.col("total_tokens"), F.lit(1)).cast("double"))
    gini = gini - (F.col("n_docs") + 1.0) / F.col("n_docs")
    return (g.select("source", "n_docs", "total_tokens",
                     sim.round6_stable(gini).alias("gini"))
            .orderBy("source"))


# --------------------------------------------- language-ID confusion

@register(
    "text_langid_confusion",
    oracle=(lambda ls: f"""
    SELECT lang, {ls['pred_lang']} AS pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(lang = {ls['pred_lang']} AS INT) AS is_correct
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """)(lang_id_sql("text")),
    tags=("llm", "lang-id", "evaluation"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language classifier against the
    corpus's labeled lang column — the evaluation face of text_lang_id
    (which reports only the predicted census). |langs| x |langs+und| rows;
    one scan, one tiny shuffle on the (label, prediction) pair."""
    d = spread(table(spark, sf_dir, "documents"))
    lc = lang_id_cols(F.col("text"))
    return (d.select("lang", lc["pred_lang"].alias("pred_lang"))
            .groupBy("lang", "pred_lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .withColumn("is_correct",
                        (F.col("lang") == F.col("pred_lang")).cast("int"))
            .select("lang", "pred_lang", "n_docs", "is_correct")
            .orderBy("lang", "pred_lang"))


# --------------------------------------- boilerplate n-gram report

BOILER_N = 8       # tokens per phrase shingle
BOILER_MIN_DOCS = 5  # distinct docs (same source) for "boilerplate"


@register(
    "text_boilerplate_ngrams",
    oracle=None,  # set below
    tags=("llm", "boilerplate"),
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source boilerplate phrase detection — the C4-style pass
    that finds templated 8-token phrases repeated across many documents
    of one source (navigation chrome, legal footers) so they can be
    stripped before dedup inflates their weight. A phrase is boilerplate
    when it appears in >= {BOILER_MIN_DOCS} distinct docs of the source.

    Scale shape: phrases travel as int64 shingle ids (never text); the
    count is one (source, phrase_id) shuffle — the same blocking key the
    removal pass would use; the affected-docs rollup re-joins doc ids
    against the boilerplate ids per source. Output is one row per
    source: phrase count, affected docs, affected ppm."""
    from ..operators.dedup import shingle_ids_tok_col, token_hashes_32_col

    d = spread(table(spark, sf_dir, "documents"))
    ex = pin(d.select(
        "source", "doc_id",
        F.explode(shingle_ids_tok_col(
            token_hashes_32_col(F.col("text")).alias("hs"),
            n=BOILER_N)).alias("sid")))
    boiler = (ex.groupBy("source", "sid")
              .agg(F.count_distinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= BOILER_MIN_DOCS)
              .select("source", "sid"))
    affected = (ex.join(boiler, ["source", "sid"])
                .select("source", "doc_id").distinct()
                .groupBy("source")
                .agg(F.count("*").cast("bigint").alias("n_docs_affected")))
    nb = (boiler.groupBy("source")
          .agg(F.count("*").cast("bigint").alias("n_boiler_phrases")))
    totals = d.groupBy("source").agg(F.count("*").cast("bigint")
                                     .alias("n_docs"))
    return (totals.join(nb, "source", "left").join(affected, "source", "left")
            .select(
                "source", "n_docs",
                F.coalesce("n_boiler_phrases", F.lit(0)).cast("bigint")
                .alias("n_boiler_phrases"),
                F.coalesce("n_docs_affected", F.lit(0)).cast("bigint")
                .alias("n_docs_affected"),
                F.expr("coalesce(n_docs_affected, 0) * 1000000 "
                       "div n_docs")
                .cast("bigint").alias("affected_ppm"))
            .orderBy("source"))


def _boilerplate_oracle() -> str:
    from ..operators.dedup import shingle_ids_tok_sql, token_hashes_32_duck_sql
    return f"""
    WITH t AS (SELECT source, doc_id, {_TOKS} AS toks FROM documents),
    h AS (SELECT source, doc_id, {token_hashes_32_duck_sql('toks')} AS hs
          FROM t),
    ex AS (SELECT source, doc_id,
                  unnest({shingle_ids_tok_sql('hs', n=BOILER_N)}) AS sid
           FROM h),
    boiler AS (SELECT source, sid
               FROM ex GROUP BY 1, 2
               HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}),
    affected AS (SELECT source,
                        CAST(count(*) AS BIGINT) AS n_docs_affected
                 FROM (SELECT DISTINCT e.source, e.doc_id
                       FROM ex e JOIN boiler b
                            ON b.source = e.source AND b.sid = e.sid)
                 GROUP BY source),
    nb AS (SELECT source, CAST(count(*) AS BIGINT) AS n_boiler_phrases
           FROM boiler GROUP BY source),
    totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source)
    SELECT t.source, t.n_docs,
           CAST(coalesce(nb.n_boiler_phrases, 0) AS BIGINT)
             AS n_boiler_phrases,
           CAST(coalesce(a.n_docs_affected, 0) AS BIGINT)
             AS n_docs_affected,
           CAST(coalesce(a.n_docs_affected, 0) * 1000000 // t.n_docs
                AS BIGINT) AS affected_ppm
    FROM totals t LEFT JOIN nb ON nb.source = t.source
                  LEFT JOIN affected a ON a.source = t.source
    ORDER BY t.source
    """


REGISTRY["text_boilerplate_ngrams"].oracle = _boilerplate_oracle()


# --------------------------------------- RAKE keyphrase extraction


_STOP_SQL = ", ".join(f"'{w}'" for w in _STOP)


@register(
    "text_keyphrases_rake",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id,
                 CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
                 unnest(toks) AS tok,
                 CAST(unnest(toks) IN ({_STOP_SQL}) AS INT) AS is_stop
          FROM d),
    r AS (SELECT *, CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
          FROM t),
    nw AS (SELECT doc_id, run_id, pos, tok FROM r WHERE is_stop = 0),
    ph AS (SELECT doc_id, run_id,
                  string_agg(tok, ' ' ORDER BY pos) AS phrase,
                  CAST(count(*) AS BIGINT) AS plen
           FROM nw GROUP BY 1, 2),
    wf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS freq
           FROM nw GROUP BY 1, 2),
    dg AS (SELECT nw.doc_id, nw.tok, CAST(sum(ph.plen) AS BIGINT) AS degree
           FROM nw JOIN ph ON ph.doc_id = nw.doc_id
                          AND ph.run_id = nw.run_id
           GROUP BY 1, 2),
    ws AS (SELECT wf.doc_id, wf.tok,
                  CAST(dg.degree * 1000000 // wf.freq AS BIGINT) AS w_ppm
           FROM wf JOIN dg ON dg.doc_id = wf.doc_id AND dg.tok = wf.tok),
    ps AS (SELECT nw.doc_id, nw.run_id,
                  CAST(sum(ws.w_ppm) AS BIGINT) AS score_ppm
           FROM nw JOIN ws ON ws.doc_id = nw.doc_id AND ws.tok = nw.tok
           GROUP BY 1, 2),
    top AS (SELECT ps.doc_id, ph.phrase, ps.score_ppm,
                   row_number() OVER (PARTITION BY ps.doc_id
                                      ORDER BY ps.score_ppm DESC, ph.phrase)
                     AS rk,
                   CAST(count(*) OVER (PARTITION BY ps.doc_id) AS BIGINT)
                     AS n_phrases
            FROM ps JOIN ph ON ph.doc_id = ps.doc_id
                           AND ph.run_id = ps.run_id)
    SELECT doc_id, phrase AS top_phrase, score_ppm, n_phrases
    FROM top WHERE rk = 1 ORDER BY doc_id
    """,
    tags=("llm", "keyphrase", "rake"),
)
def q_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction — stopword-delimited candidate phrases
    scored by summed word degree/frequency, top phrase per document. The
    unsupervised keyword tagger corpus indexing and topic labeling run
    before anything model-based.

    Exactness: word scores are integer-divided ppm (degree*1e6 // freq),
    phrase scores are int64 sums — the ranking is integer-exact on both
    engines, ties broken lexicographically. Plan shape: every shuffle is
    keyed by doc_id (positions, phrases, word stats all co-partition),
    so at 100 TB this is per-document work with no cross-document state;
    phrase strings are assembled from sorted (pos, tok) structs, never
    relying on collect order."""
    d = spread(table(spark, sf_dir, "documents"))
    t = (d.select("doc_id", F.posexplode(tokens_col(F.col("text")))
                  .alias("pos", "tok"))
         .withColumn("is_stop", F.col("tok").isin(*_STOP).cast("int")))
    wrun = (Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0))
    nw = (t.withColumn("run_id", F.sum("is_stop").over(wrun).cast("bigint"))
          .filter(F.col("is_stop") == 0)
          .select("doc_id", "run_id", "pos", "tok"))
    nw = pin(nw)
    ph = (nw.groupBy("doc_id", "run_id")
          .agg(F.concat_ws(
                  " ",
                  F.transform(F.sort_array(F.collect_list(
                      F.struct("pos", "tok"))), lambda s: s["tok"]))
               .alias("phrase"),
               F.count("*").cast("bigint").alias("plen")))
    ph = pin(ph)
    wf = nw.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint")
                                         .alias("freq"))
    dg = (nw.join(ph.select("doc_id", "run_id", "plen"),
                  ["doc_id", "run_id"])
          .groupBy("doc_id", "tok")
          .agg(F.sum("plen").cast("bigint").alias("degree")))
    ws = (wf.join(dg, ["doc_id", "tok"])
          .select("doc_id", "tok",
                  F.expr("degree * 1000000 div freq")
                  .cast("bigint").alias("w_ppm")))
    ps = (nw.join(ws, ["doc_id", "tok"])
          .groupBy("doc_id", "run_id")
          .agg(F.sum("w_ppm").cast("bigint").alias("score_ppm")))
    scored = ps.join(ph.select("doc_id", "run_id", "phrase"),
                     ["doc_id", "run_id"])
    wtop = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), "phrase")
    wcnt = Window.partitionBy("doc_id")
    return (scored
            .withColumn("rk", F.row_number().over(wtop))
            .withColumn("n_phrases", F.count("*").over(wcnt).cast("bigint"))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("phrase").alias("top_phrase"),
                    "score_ppm", "n_phrases")
            .orderBy("doc_id"))


# --------------------------------------- corpus novelty decay (Heaps)

NOVELTY_DECILES = 10


@register(
    "corpus_novelty_decay",
    oracle=None,  # set below
    tags=("llm", "novelty-decay", "heaps"),
)
def q_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve over ingestion order: the
    corpus is cut into 10 doc-id deciles; per decile, how many distinct
    8-gram shingles appear at all vs appear for the FIRST time. The
    decay of first-time grams is the saturation diagnostic that tells a
    crawl when additional data stops adding novel content.

    Shuffles carry int64 shingle ids keyed by sid (first-decile = min
    aggregate) — never text; the decile histogram is a 10-row result."""
    from ..operators.dedup import shingle_ids_tok_col, token_hashes_32_col

    d = spread(table(spark, sf_dir, "documents"))
    mx = d.agg(F.max("doc_id").alias("max_id"))
    # Integer `div`, matching the oracle's `//` floor exactly — the
    # double-division-then-cast shape diverges past 2^53-scale ids.
    ex = (d.crossJoin(F.broadcast(mx))
          .select(F.least(F.lit(NOVELTY_DECILES - 1),
                          F.expr(f"doc_id * {NOVELTY_DECILES} "
                                 "div (max_id + 1)").cast("int"))
                  .alias("decile"),
                  F.explode(shingle_ids_tok_col(
                      token_hashes_32_col(F.col("text")).alias("hs"),
                      n=DECON_NGRAM)).alias("sid")))
    ex = pin(ex.distinct())
    per = ex.groupBy("decile").agg(F.count("*").cast("bigint")
                                   .alias("n_distinct_grams"))
    first = (ex.groupBy("sid").agg(F.min("decile").alias("decile"))
             .groupBy("decile").agg(F.count("*").cast("bigint")
                                    .alias("n_new_grams")))
    return (per.join(first, "decile", "left")
            .select("decile", "n_distinct_grams",
                    F.coalesce("n_new_grams", F.lit(0)).cast("bigint")
                    .alias("n_new_grams"))
            .withColumn("novelty_ppm",
                        F.expr("n_new_grams * 1000000 "
                               "div greatest(n_distinct_grams, 1)")
                        .cast("bigint"))
            .orderBy("decile"))


def _novelty_oracle() -> str:
    from ..operators.dedup import shingle_ids_tok_sql, token_hashes_32_duck_sql
    return f"""
    WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
    t AS (SELECT least({NOVELTY_DECILES - 1},
                       CAST(doc_id * {NOVELTY_DECILES} // (mx.max_id + 1)
                            AS INT)) AS decile,
                 {_TOKS} AS toks
          FROM documents CROSS JOIN mx),
    h AS (SELECT decile, {token_hashes_32_duck_sql('toks')} AS hs FROM t),
    ex AS (SELECT DISTINCT decile,
                  unnest({shingle_ids_tok_sql('hs', n=DECON_NGRAM)}) AS sid
           FROM h),
    per AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_distinct_grams
            FROM ex GROUP BY 1),
    fst AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_new_grams
            FROM (SELECT sid, min(decile) AS decile FROM ex GROUP BY sid)
            GROUP BY 1)
    SELECT per.decile, per.n_distinct_grams,
           CAST(coalesce(fst.n_new_grams, 0) AS BIGINT) AS n_new_grams,
           CAST(coalesce(fst.n_new_grams, 0) * 1000000
                // greatest(per.n_distinct_grams, 1) AS BIGINT)
             AS novelty_ppm
    FROM per LEFT JOIN fst ON fst.decile = per.decile
    ORDER BY per.decile
    """


REGISTRY["corpus_novelty_decay"].oracle = _novelty_oracle()


# ------------------------------------------ Kneser-Ney bigram scoring

# Interpolated Kneser-Ney — the smoothing used by the KenLM-style models
# that production quality filters (CCNet et al.) score documents with.
# Upgrade over text_bigram_lm_score's Jelinek-Mercer mix: absolute
# discounting plus a CONTINUATION unigram (how many distinct contexts a
# word follows), which stops high-frequency-but-context-bound words
# ("francisco") inflating backoff mass.
KN_D = "CAST(0.75 AS DOUBLE)"   # absolute discount, pinned
KN_QUANT = 1e12                 # per-term ln() quantization grid


@register(
    "text_kneser_ney_bigram",
    oracle=None,  # set below
    tags=("llm", "lm-score", "kneser-ney"),
)
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring: train corpus bigram
    counts, per-context distinct-follower counts, and continuation
    counts; score each doc by mean negative log-likelihood of its
    bigrams under p(w2|w1) = (c12 - D)/c1 + D*(N1+(w1,*)/c1) *
    (N1+(*,w2)/|bigram types|). Every bigram observed in a doc is in
    the corpus counts, so c12 >= 1 > D keeps all probabilities
    positive without extra flooring.

    Scale shape: three vocabulary-keyed aggregates with map-side
    partials (bigram counts, context stats, continuation counts), then
    the doc's bigram stream joins them on natural keys (AQE splits the
    stopword-head skew); the per-doc reduce carries one exact int64.
    Each ln() term is quantized to a 1e-12 grid and summed as int64
    (same discipline as text_bigram_lm_score) so partition order can't
    move the sum and a 1-ulp libm difference is absorbed by the 6-dp
    rounding."""
    d = spread(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    bg = (t.filter(F.size("toks") >= 2)
          .select("doc_id", "toks",
                  F.explode(F.sequence(F.lit(1),
                                       F.size("toks") - 1)).alias("i"))
          .select("doc_id",
                  F.element_at("toks", F.col("i")).alias("w1"),
                  F.element_at("toks", F.col("i") + 1).alias("w2")))
    bg = pin(bg)
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    big = pin(big)
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"),
                                F.count("*").alias("nf"))
    cont = big.groupBy("w2").agg(F.count("*").alias("nb"))
    types = big.agg(F.count("*").cast("bigint").alias("n_types"))
    disc = F.expr(KN_D)
    term = F.log(
        ((F.col("c12").cast("double") - disc) / F.col("c1"))
        + ((disc * (F.col("nf") / F.col("c1").cast("double")))
           * (F.col("nb") / F.col("n_types").cast("double"))))
    terms = (bg.join(big, ["w1", "w2"])
             .join(ctx, "w1")
             .join(cont, "w2")
             .crossJoin(F.broadcast(types))
             .select("doc_id",
                     F.floor(term * F.lit(KN_QUANT) + F.lit(0.5))
                     .cast("long").alias("tq")))
    scored = terms.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("tq").cast("bigint").alias("s"))
    return (d.select("doc_id").join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                .alias("n_bigrams"),
                sim.round6_stable(
                    F.when(F.col("n_bigrams") > 0,
                           -((F.col("s") / F.lit(KN_QUANT))
                             / F.col("n_bigrams")))
                    .otherwise(F.lit(0.0))).alias("kn_nll"))
            .orderBy("doc_id"))


def _kn_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM t WHERE len(toks) >= 2)),
    big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    ctx AS (SELECT w1, sum(c12) AS c1, count(*) AS nf
            FROM big GROUP BY 1),
    cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY 1),
    types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM big),
    terms AS (
        SELECT bg.doc_id,
               CAST(floor(
                 ln(((CAST(big.c12 AS DOUBLE) - {KN_D}) / ctx.c1)
                    + (({KN_D} * (ctx.nf / CAST(ctx.c1 AS DOUBLE)))
                       * (cont.nb / CAST(types.n_types AS DOUBLE))))
                 * {KN_QUANT!r} + 0.5) AS BIGINT) AS tq
        FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1)
                JOIN cont USING (w2) CROSS JOIN types),
    scored AS (SELECT doc_id, count(*) AS n_bigrams,
                      CAST(sum(tq) AS BIGINT) AS s FROM terms GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           {sim.round6_stable_sql(
               'CASE WHEN s.n_bigrams > 0 '
               f'THEN -((s.s / {KN_QUANT!r}) / s.n_bigrams) '
               'ELSE 0.0 END')} AS kn_nll
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


REGISTRY["text_kneser_ney_bigram"].oracle = _kn_oracle()


# ------------------------------------------------ MTLD lexical diversity

# MTLD (McCarthy & Jarvis 2010): scan tokens, count "factors" — maximal
# prefixes whose type-token ratio stays above 0.720 — plus a partial
# credit for the unfinished tail; MTLD = tokens / factors. The scan is
# inherently sequential PER DOCUMENT (the reset depends on every prior
# token in the factor), so it runs as an Arrow-batched per-doc Python
# loop; the oracle replays the same automaton as a recursive CTE
# carrying the current factor's type list.
MTLD_THR_NUM = 720    # factor completes when types/tokens <= 0.720
MTLD_THR_DEN = 1000

MTLD_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_tokens", LongType()),
    StructField("n_factors", LongType()),
    StructField("mtld_ppm", LongType()),
])


def _mtld_of(toks: list[str]) -> tuple[int, int, int]:
    """(n_tokens, whole_factors, mtld_ppm) — exact integer arithmetic;
    shared by the Spark UDF and the unit-test reference."""
    w, cur, cur_n = 0, set(), 0
    for tok in toks:
        cur.add(tok)
        cur_n += 1
        if len(cur) * MTLD_THR_DEN <= cur_n * MTLD_THR_NUM:
            w, cur, cur_n = w + 1, set(), 0
    n = len(toks)
    rem = MTLD_THR_DEN - MTLD_THR_NUM  # 280: 1 - threshold, scaled
    denom = w * rem * cur_n + MTLD_THR_DEN * (cur_n - len(cur))
    if cur_n > 0 and denom > 0:
        ppm = n * rem * cur_n * 1_000_000 // denom
    elif cur_n == 0 and w > 0:
        ppm = n * 1_000_000 // w
    else:
        ppm = 0
    return n, w, ppm


@register(
    "text_mtld_diversity",
    oracle=None,  # set below
    tags=("llm", "text-quality", "mtld"),
)
def q_mtld_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTLD lexical diversity per document — the length-robust
    vocabulary-richness score (plain TTR collapses as docs grow; MTLD's
    factor count does not), a standard text-quality feature next to the
    LM scores. Forward pass only; all arithmetic is integer-exact
    (threshold comparison as types*1000 <= tokens*720, the final
    division as one int64 ratio in ppm), so both engines agree
    bit-for-bit.

    Scale shape: embarrassingly parallel map-only plan — one Arrow
    batch iterator, no shuffle at all; the sequential dependency is
    confined to a single document. The oracle replays the automaton as
    a recursive CTE (bounded by max tokens/doc) carrying the factor's
    type list."""
    import re as _re

    import pandas as pd

    d = spread(table(spark, sf_dir, "documents"))

    def score(batches):
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _re.findall("[a-z0-9]+", (text or "").lower())
                n, w, ppm = _mtld_of(toks)
                rows.append((int(did), n, w, ppm))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MTLD_SCHEMA.fields])

    return (d.select("doc_id", "text")
            .mapInPandas(score, MTLD_SCHEMA)
            .orderBy("doc_id"))


def _mtld_oracle() -> str:
    rem = MTLD_THR_DEN - MTLD_THR_NUM
    return f"""
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id, {_TOKS} AS toks FROM documents),
    st(doc_id, i, n, cur_list, cur_n, w) AS (
        SELECT doc_id, 0, len(toks), CAST([] AS VARCHAR[]), 0, 0 FROM t
        UNION ALL
        SELECT doc_id, i + 1, n,
               CASE WHEN done THEN CAST([] AS VARCHAR[]) ELSE nl END,
               CASE WHEN done THEN 0 ELSE nn END,
               CASE WHEN done THEN w + 1 ELSE w END
        FROM (
            SELECT s.doc_id, s.i, s.n, s.w, nl, nn,
                   len(nl) * {MTLD_THR_DEN} <= nn * {MTLD_THR_NUM} AS done
            FROM (
                SELECT st.*, 
                       CASE WHEN list_contains(st.cur_list,
                                               t.toks[st.i + 1])
                            THEN st.cur_list
                            ELSE list_append(st.cur_list,
                                             t.toks[st.i + 1]) END AS nl,
                       st.cur_n + 1 AS nn
                FROM st JOIN t USING (doc_id) WHERE st.i < st.n) s)),
    fin AS (SELECT * FROM st WHERE i = n)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(w AS BIGINT) AS n_factors,
           CAST(CASE
             WHEN cur_n > 0 AND (w * {rem} * cur_n
                  + {MTLD_THR_DEN} * (cur_n - len(cur_list))) > 0
             THEN CAST(n AS BIGINT) * {rem} * cur_n * 1000000
                  // (w * {rem} * cur_n
                      + {MTLD_THR_DEN} * (cur_n - len(cur_list)))
             WHEN cur_n = 0 AND w > 0
             THEN CAST(n AS BIGINT) * 1000000 // w
             ELSE 0 END AS BIGINT) AS mtld_ppm
    FROM fin ORDER BY doc_id
    """


REGISTRY["text_mtld_diversity"].oracle = _mtld_oracle()


# --------------------------------- unigram tokenizer Viterbi segmentation

# SentencePiece-style unigram-LM segmentation: a piece vocabulary scored
# by corpus frequency, and per-word Viterbi decoding that picks the
# max-likelihood split. This is the E-step / apply-step of unigram
# tokenizer training — the missing member next to the BPE train/apply
# operators. All scores are ln(count/total) quantized to an int64 ppm
# grid, so the DP argmax is exact integer comparison on both engines
# (ties: longer piece wins, pinned in both DPs). Residual cross-engine
# risk, documented rather than claimed away: the ln() itself comes from
# each engine's libm (JVM Math.log / DuckDB / CPython math.log), none
# guaranteed identically rounded; a 1-ulp difference landing exactly on
# a floor(x*1e6+0.5) grid boundary would flip one quantized score by 1
# and could change a decoded path discretely. Never observed at any
# tested SF; the quantization makes it a measure-zero boundary event,
# not an impossibility.
UNI_MAX_PIECE = 4     # max piece length (chars)
UNI_VOCAB_K = 64      # multi-char pieces kept (all single chars always kept)
UNI_WORDS_K = 50      # words segmented (top by corpus frequency)
UNI_WORD_MAXLEN = 16  # DP depth cap

UNI_SCHEMA = StructType([
    StructField("word", StringType()),
    StructField("n_pieces", LongType()),
    StructField("seg", StringType()),
    StructField("score_ppm", LongType()),
])


@register(
    "tokenizer_unigram_viterbi",
    oracle=None,  # set below
    tags=("llm", "tokenizer", "unigram", "viterbi"),
)
def q_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer segmentation: build a piece vocabulary
    (every corpus character plus the UNI_VOCAB_K most frequent 2-4 char
    substrings, counts weighted by word frequency), score pieces by
    quantized ln(count/total), then Viterbi-decode the UNI_WORDS_K most
    frequent words into their max-likelihood piece sequences. Single
    chars in the vocabulary guarantee every word segments.

    Scale shape: vocabulary training is two corpus-wide vocabulary-keyed
    aggregates with map-side partials (word counts, then piece counts —
    the explode is bounded by 4 x word length); the piece total is a
    broadcast single row; decoding runs on the bounded word panel in one
    cogrouped applyInPandas against the broadcast vocabulary — exactly
    how a tokenizer trainer distributes counting and localizes decoding.
    The oracle replays the identical DP as a recursive CTE carrying the
    per-prefix best-score and segmentation lists."""
    import pandas as pd

    d = spread(table(spark, sf_dir, "documents"))
    wc = pin(d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").cast("bigint").alias("c")))
    pieces = (wc.select(
        "tok", "c",
        F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"))
        .select("tok", "c", "i",
                F.explode(F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNI_MAX_PIECE),
                            F.length("tok") - F.col("i") + 1))).alias("l"))
        .select(F.expr("substring(tok, i, l)").alias("piece"), "c")
        .groupBy("piece").agg(F.sum("c").cast("bigint").alias("cnt")))
    pieces = pin(pieces)
    chars = pieces.filter(F.length("piece") == 1)
    multi = (pieces.filter(F.length("piece") >= 2)
             .orderBy(F.col("cnt").desc(), "piece").limit(UNI_VOCAB_K))
    vocab = pin(chars.unionByName(multi))
    tot = vocab.agg(F.sum("cnt").cast("bigint").alias("tot"))
    scored = (vocab.crossJoin(F.broadcast(tot))
              .select(F.lit(1).alias("g"), "piece",
                      F.floor(F.log(F.col("cnt").cast("double")
                                    / F.col("tot")) * F.lit(1e6)
                              + F.lit(0.5)).cast("bigint")
                      .alias("s")))
    words = (wc.filter(F.length("tok") <= UNI_WORD_MAXLEN)
             .orderBy(F.col("c").desc(), "tok").limit(UNI_WORDS_K)
             .select(F.lit(1).alias("g"), F.col("tok").alias("word")))

    def decode(words_pdf: pd.DataFrame, vocab_pdf: pd.DataFrame) -> pd.DataFrame:
        sc = {p: int(s) for p, s in zip(vocab_pdf["piece"], vocab_pdf["s"])}
        rows = []
        for word in words_pdf["word"]:
            n = len(word)
            best = [None] * (n + 1)
            seg = [""] * (n + 1)
            best[0] = 0
            for i in range(1, n + 1):
                # longer piece wins ties: iterate l descending, keep
                # strictly-greater values (matches the oracle's
                # ORDER BY val DESC, l DESC LIMIT 1)
                for l in range(min(UNI_MAX_PIECE, i), 0, -1):
                    j = i - l
                    piece = word[j:i]
                    if best[j] is None or piece not in sc:
                        continue
                    val = best[j] + sc[piece]
                    if best[i] is None or val > best[i]:
                        best[i] = val
                        seg[i] = piece if j == 0 else seg[j] + "|" + piece
            rows.append((word, seg[n].count("|") + 1, seg[n], best[n]))
        return pd.DataFrame(
            rows, columns=[f.name for f in UNI_SCHEMA.fields])

    return (words.groupBy("g")
            .cogroup(scored.groupBy("g"))
            .applyInPandas(lambda w, v: decode(w, v), UNI_SCHEMA)
            .orderBy("word"))


def _unigram_oracle() -> str:
    # NO "AS MATERIALIZED" anywhere in this chain: in this DuckDB build,
    # materializing ANY CTE inside this WITH RECURSIVE silently empties the
    # recursion's output (0 rows, no error — observed on wc/pieces and on
    # the full chain). The un-materialized form is <1 s at sf0.1, so the
    # usual inline-reevaluation concern does not bite here.
    return f"""
    WITH RECURSIVE
    wc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({_TOKS}) AS tok FROM documents) GROUP BY 1),
    pieces AS (
        SELECT substr(tok, i, l) AS piece, CAST(sum(c) AS BIGINT) AS cnt
        FROM (SELECT tok, c, i.i, l.l
              FROM wc,
                   LATERAL (SELECT unnest(range(1, length(tok) + 1))
                            AS i) i,
                   LATERAL (SELECT unnest(range(1, least({UNI_MAX_PIECE},
                                length(tok) - i.i + 1) + 1)) AS l) l)
        GROUP BY 1),
    vocab0 AS (
        SELECT piece, cnt FROM pieces WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt FROM pieces WHERE length(piece) >= 2
            ORDER BY cnt DESC, piece LIMIT {UNI_VOCAB_K})),
    vocab AS (
        -- score column deliberately NOT named "s": the recursive alias
        -- below is `st s`, and DuckDB's binder resolves `s.bests` against
        -- a same-named COLUMN in scope first (observed Binder Error).
        SELECT piece,
               CAST(floor(ln(CAST(cnt AS DOUBLE)
                             / (SELECT sum(cnt) FROM vocab0)) * 1e6
                          + 0.5) AS BIGINT) AS sc
        FROM vocab0),
    words AS (
        SELECT tok AS word FROM wc WHERE length(tok) <= {UNI_WORD_MAXLEN}
        ORDER BY c DESC, tok LIMIT {UNI_WORDS_K}),
    lens(x) AS (SELECT unnest(range(1, {UNI_MAX_PIECE} + 1))),
    st(word, i, n, bests, segs) AS (
        SELECT word, 0, length(word), [CAST(0 AS BIGINT)],
               [CAST('' AS VARCHAR)]
        FROM words
        UNION ALL
        SELECT s.word, s.i + 1, s.n,
               list_append(s.bests, nxt.val),
               list_append(s.segs, nxt.seg)
        FROM st s, LATERAL (
            SELECT s.bests[s.i + 2 - t.x] + v.sc AS val,
                   CASE WHEN s.i + 1 - t.x = 0 THEN v.piece
                        ELSE s.segs[s.i + 2 - t.x] || '|' || v.piece
                   END AS seg
            FROM lens t, vocab v
            WHERE s.i + 1 - t.x >= 0
              AND v.piece = substr(s.word, s.i + 2 - t.x, t.x)
            ORDER BY val DESC, t.x DESC LIMIT 1) nxt
        WHERE s.i < s.n)
    SELECT word,
           CAST(length(segs[n + 1])
                - length(replace(segs[n + 1], '|', '')) + 1 AS BIGINT)
             AS n_pieces,
           segs[n + 1] AS seg,
           bests[n + 1] AS score_ppm
    FROM st WHERE i = n ORDER BY word
    """


REGISTRY["tokenizer_unigram_viterbi"].oracle = _unigram_oracle()


# ------------------------------------------------ Flesch reading ease

# Flesch reading ease = 206.835 - 1.015*(words/sentences)
#                               - 84.6*(syllables/word).
# Syllables are approximated deterministically: the number of vowel-run
# matches ([aeiouy]+) in the lower-cased token, minus one when the token
# ends in 'e' with >= 2 runs (silent-e heuristic), floored at 1. The
# score is computed entirely in int64 micro-units with truncating
# integer division — identical on both engines at every boundary, so
# the banding CASE below can never flip cross-engine (no ln(), no
# doubles anywhere in this operator).
FLESCH_BANDS = (  # (min flesch_micro, label) — descending
    (90_000_000, "very_easy"),
    (70_000_000, "easy"),
    (50_000_000, "medium"),
    (30_000_000, "difficult"),
)

_SENT_RE = "[.!?]+"
_VOWEL_RE = "[aeiouy]+"


def _syllables_col(toks: F.Column) -> F.Column:
    """Summed per-token syllable approximation (int64, JVM-side)."""
    def syl(w):
        runs = F.size(F.regexp_extract_all(w, F.lit(_VOWEL_RE), 0))
        silent_e = F.when(w.endswith("e") & (runs >= 2), F.lit(1)) \
                    .otherwise(F.lit(0))
        return F.greatest(F.lit(1), runs - silent_e).cast("long")
    return F.aggregate(F.transform(toks, syl), F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


@register(
    "text_flesch_readability",
    oracle=None,  # set below
    tags=("llm", "text-quality", "readability"),
)
def q_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, integer-exact: word count
    (shared [a-z0-9]+ tokenizer), sentence count ([.!?]+ runs, floored
    at 1), syllable approximation (vowel runs with a silent-e rule),
    and the classic score in int64 micro-units with a readability band.
    The surface-quality feature next to the Gopher/C4 curation filters.

    Scale shape: map-only over documents — tokenize, two regexp
    extractions, one in-array fold; ZERO shuffles before the output
    sort. Every quantity is an int64 and both divisions are truncating
    integer division, so score and band are engine-exact by
    construction (no libm calls at all)."""
    d = spread(table(spark, sf_dir, "documents"))
    m = d.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(_SENT_RE), 0)).cast("long")
        .alias("n_sentences"),
        _syllables_col(tokens_col(F.col("text"))).alias("n_syllables"))
    w = F.greatest(F.col("n_words"), F.lit(1))
    s = F.greatest(F.col("n_sentences"), F.lit(1))
    scored = m.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        w.alias("w"), s.alias("s"))
    band = F.lit("very_difficult")
    expr = None
    for lo, label in reversed(FLESCH_BANDS):
        cond = F.col("flesch_micro") >= lo
        expr = F.when(cond, F.lit(label)).otherwise(
            expr if expr is not None else band)
    return (scored
            .withColumn("flesch_micro", F.expr(
                "cast(206835000 - (1015000 * w) div s"
                " - (84600000 * n_syllables) div w as bigint)"))
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    "flesch_micro", expr.alias("band"))
            .orderBy("doc_id"))


def _flesch_oracle() -> str:
    bands = " ".join(
        f"WHEN flesch_micro >= {lo} THEN '{label}'"
        for lo, label in FLESCH_BANDS)
    syl = (f"CAST(greatest(1, len(regexp_extract_all(w, '{_VOWEL_RE}'))"
           f" - CASE WHEN w LIKE '%e' AND"
           f" len(regexp_extract_all(w, '{_VOWEL_RE}')) >= 2"
           f" THEN 1 ELSE 0 END) AS BIGINT)")
    return f"""
    WITH t AS (SELECT doc_id, {tokens_sql('text')} AS toks,
                      CAST(len(regexp_extract_all(text, '{_SENT_RE}'))
                           AS BIGINT) AS n_sentences
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 n_sentences,
                 CAST(list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                                  list_transform(toks, w -> {syl})),
                     (acc, x) -> acc + x) AS BIGINT) AS n_syllables,
                 greatest(CAST(len(toks) AS BIGINT), 1) AS w,
                 greatest(n_sentences, 1) AS s
          FROM t),
    f AS (SELECT doc_id, n_words, n_sentences, n_syllables,
                 CAST(206835000 - (1015000 * w) // s
                      - (84600000 * n_syllables) // w AS BIGINT)
                   AS flesch_micro
          FROM m)
    SELECT doc_id, n_words, n_sentences, n_syllables, flesch_micro,
           CASE {bands} ELSE 'very_difficult' END AS band
    FROM f ORDER BY doc_id
    """


# ------------------------------------ WordPiece greedy segmentation

# The BERT-family tokenizer, completing the family next to BPE
# (train/apply/top-merges) and the unigram-LM Viterbi: TWO vocabularies
# — word-initial pieces and '##'-marked continuation pieces, each all
# single chars plus the WP_VOCAB_K most frequent 2-4 char substrings of
# its position class (counts weighted by word frequency) — and GREEDY
# longest-match-first decoding (no scores, no DP: at each position take
# the longest vocabulary piece, the classic WordPiece rule). Single
# chars per class guarantee every word segments without UNK: any char
# at a continuation position of a top word occurs at i>1 in that very
# word, so it is in the continuation vocabulary by construction.
WP_MAX_PIECE = 4     # max piece length (chars)
WP_VOCAB_K = 64      # multi-char pieces kept PER CLASS (initial/cont)
WP_WORDS_K = 50      # words segmented (top by corpus frequency)
WP_WORD_MAXLEN = 16  # greedy depth cap

WP_SCHEMA = StructType([
    StructField("word", StringType()),
    StructField("n_pieces", LongType()),
    StructField("seg", StringType()),
    StructField("n_cont", LongType()),
])


@register(
    "tokenizer_wordpiece_apply",
    oracle=None,  # set below
    tags=("llm", "tokenizer", "wordpiece", "greedy"),
)
def q_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy segmentation: train position-class vocabularies
    (word-initial vs '##'-continuation substrings, weighted by corpus
    word frequency, top-WP_VOCAB_K multi-char per class plus all single
    chars), then decode the WP_WORDS_K most frequent words by the
    classic longest-match-first rule. Deliberately DIFFERENT semantics
    from tokenizer_unigram_viterbi: greedy local choice vs global
    max-likelihood, and a split initial/continuation vocabulary.

    Scale shape: vocabulary training is two corpus-wide aggregates with
    map-side partials (word counts, then class-keyed piece counts — the
    explode is bounded by 4 x word length); per-class top-K is one rank
    window over the bounded multi-char piece table; decoding runs on
    the bounded word panel in one cogrouped applyInPandas against the
    broadcast vocabulary. The oracle replays the greedy loop as a
    recursive CTE with a LATERAL longest-match pick."""
    import pandas as pd

    d = spread(table(spark, sf_dir, "documents"))
    wc = pin(d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count("*").cast("bigint").alias("c")))
    sub = (wc.select(
        "tok", "c",
        F.explode(F.sequence(F.lit(1), F.length("tok"))).alias("i"))
        .select("tok", "c", "i",
                F.explode(F.sequence(
                    F.lit(1),
                    F.least(F.lit(WP_MAX_PIECE),
                            F.length("tok") - F.col("i") + 1))).alias("l"))
        .select(F.expr("substring(tok, i, l)").alias("piece"),
                F.when(F.col("i") == 1, F.lit(0)).otherwise(F.lit(1))
                .cast("int").alias("is_cont"),
                "c"))
    pieces = pin(sub.groupBy("piece", "is_cont")
                 .agg(F.sum("c").cast("bigint").alias("cnt")))
    chars = pieces.filter(F.length("piece") == 1).select("piece", "is_cont")
    wrank = (Window.partitionBy("is_cont")
             .orderBy(F.col("cnt").desc(), "piece"))
    multi = (pieces.filter(F.length("piece") >= 2)
             .withColumn("r", F.row_number().over(wrank))
             .filter(F.col("r") <= WP_VOCAB_K).select("piece", "is_cont"))
    vocab = (chars.unionByName(multi)
             .select(F.lit(1).alias("g"), "piece", "is_cont"))
    words = (wc.filter(F.length("tok") <= WP_WORD_MAXLEN)
             .orderBy(F.col("c").desc(), "tok").limit(WP_WORDS_K)
             .select(F.lit(1).alias("g"), F.col("tok").alias("word")))

    def decode(words_pdf: pd.DataFrame, vocab_pdf: pd.DataFrame) -> pd.DataFrame:
        init, cont = set(), set()
        for p, ic in zip(vocab_pdf["piece"], vocab_pdf["is_cont"]):
            (cont if ic else init).add(p)
        rows = []
        for word in words_pdf["word"]:
            pos, segs, ncont = 0, [], 0
            while pos < len(word):
                v = init if pos == 0 else cont
                l = min(WP_MAX_PIECE, len(word) - pos)
                while l > 1 and word[pos:pos + l] not in v:
                    l -= 1
                piece = word[pos:pos + l]
                segs.append(piece if pos == 0 else "##" + piece)
                ncont += 0 if pos == 0 else 1
                pos += l
            rows.append((word, len(segs), "|".join(segs), ncont))
        return pd.DataFrame(
            rows, columns=[f.name for f in WP_SCHEMA.fields])

    return (words.groupBy("g")
            .cogroup(vocab.groupBy("g"))
            .applyInPandas(lambda w, v: decode(w, v), WP_SCHEMA)
            .orderBy("word"))


def _wordpiece_oracle() -> str:
    # Same recursive-CTE discipline as _unigram_oracle: no MATERIALIZED
    # anywhere (silently empties the recursion in this DuckDB build),
    # uncorrelated lens table + WHERE guard instead of a correlated
    # range, and no column named like a recursive alias.
    return f"""
    WITH RECURSIVE
    wc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest({tokens_sql('text')}) AS tok FROM documents)
        GROUP BY 1),
    sub AS (
        SELECT substr(tok, i.i, l.l) AS piece,
               CASE WHEN i.i = 1 THEN 0 ELSE 1 END AS is_cont, c
        FROM wc,
             LATERAL (SELECT unnest(range(1, length(tok) + 1)) AS i) i,
             LATERAL (SELECT unnest(range(1, least({WP_MAX_PIECE},
                          length(tok) - i.i + 1) + 1)) AS l) l),
    pieces AS (SELECT piece, is_cont, CAST(sum(c) AS BIGINT) AS cnt
               FROM sub GROUP BY 1, 2),
    vocab AS (
        SELECT piece, is_cont FROM pieces WHERE length(piece) = 1
        UNION ALL
        SELECT piece, is_cont FROM (
            SELECT piece, is_cont,
                   row_number() OVER (PARTITION BY is_cont
                                      ORDER BY cnt DESC, piece) AS r
            FROM pieces WHERE length(piece) >= 2) WHERE r <= {WP_VOCAB_K}),
    words AS (
        SELECT tok AS word FROM wc WHERE length(tok) <= {WP_WORD_MAXLEN}
        ORDER BY c DESC, tok LIMIT {WP_WORDS_K}),
    lens(x) AS (SELECT unnest(range(1, {WP_MAX_PIECE} + 1))),
    st(word, i, n, seg, np, nc) AS (
        SELECT word, 0, length(word), CAST('' AS VARCHAR),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM words
        UNION ALL
        SELECT s.word, s.i + nxt.len, s.n,
               CASE WHEN s.i = 0 THEN nxt.pc ELSE s.seg || '|##' || nxt.pc
               END,
               s.np + 1,
               s.nc + CASE WHEN s.i = 0 THEN 0 ELSE 1 END
        FROM st s, LATERAL (
            SELECT t.x AS len, v.piece AS pc
            FROM lens t, vocab v
            WHERE t.x <= s.n - s.i
              AND v.is_cont = CASE WHEN s.i = 0 THEN 0 ELSE 1 END
              AND v.piece = substr(s.word, s.i + 1, t.x)
            ORDER BY t.x DESC LIMIT 1) nxt
        WHERE s.i < s.n)
    SELECT word, CAST(np AS BIGINT) AS n_pieces, seg,
           CAST(nc AS BIGINT) AS n_cont
    FROM st WHERE i = n ORDER BY word
    """


REGISTRY["text_flesch_readability"].oracle = _flesch_oracle()

REGISTRY["tokenizer_wordpiece_apply"].oracle = _wordpiece_oracle()


# ----------------------------- maximal duplicated run per doc pair

# Same span construction as dedup_substring_spans (K consecutive token
# hashes folded by the exact-int64 rolling polynomial), but keeping the
# span's POSITION: span p of doc d covers tokens [p, p + MR_K). Two
# docs sharing spans at positions (pa, pb) and (pa+1, pb+1) share a
# K+1-token run — consecutive matches on the diagonal pa - pb — so the
# maximal duplicated run in TOKENS is (longest island of consecutive pa
# per (pair, diagonal)) + K - 1. Docs shorter than MR_K tokens carry no
# spans and cannot participate (a sub-K duplicate is below the
# granularity this operator is defined at — dedup_ngram_jaccard covers
# that regime).
MR_K = 16  # tokens per span (= SUBSTR_SPAN_K; same dedup granularity)


def _positioned_spans(d: DataFrame) -> DataFrame:
    """(doc_id, pos, span_id): the rolling-hash span at each 0-based
    token position — the shared relation every operator in this module
    matches on."""
    hs = token_hashes_32_col(F.col("text"))
    k = MR_K
    grams = F.transform(
        F.sequence(F.lit(1), F.size(hs) - k + 1),
        lambda i: F.aggregate(
            F.slice(hs, i, k), F.lit(0).cast("long"),
            lambda acc, x: (acc * _SHINGLE_COMB + x) % _MERSENNE_P),
    )
    return d.select(
        "doc_id",
        F.posexplode(F.when(F.size(hs) >= k, grams).otherwise(F.array()))
        .alias("pos", "span_id"))


# --------------------------- intra-document looping-run report

# Degenerate looping text ("the the the...", a phrase stuck on repeat,
# an n-gram cycle from a sampling failure) is a repetition mode the
# bigram-share score (text_repetition_score) underestimates when the
# loop UNIT is long. At run granularity it is the INTRA-document twin
# of the max-run operator: a region that repeats with period d <= LP_D
# is exactly an island of consecutive positions p where span(p) ==
# span(p + d) — the same diagonal islands, with the two sides being
# the SAME document shifted. The period is bounded (LP_D) for the same
# reason join_interval_overlap_binned bins its intervals: an unbounded
# intra-doc self-join is quadratic in a degenerate all-same-token
# document, while the position-binned form (bucket = pos div LP_D;
# the shifted side emits its bucket and its predecessor, the equi-join
# matches each qualifying pair exactly once) bounds candidates to
# O(n_tokens x LP_D) for ANY input. Far-apart (period > LP_D)
# duplicated regions are dedup_substring_spans' regime, not a loop.
LP_D = 64  # max period, in token positions


def _looping_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
               FROM documents),
    h AS (SELECT doc_id, {token_hashes_32_duck_sql('toks')} AS hs FROM t
          WHERE len(toks) >= {MR_K}),
    g AS (SELECT doc_id,
                 list_transform(
                     range(1, len(hs) - {MR_K} + 2),
                     i -> list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                                      list_slice(hs, i, i + {MR_K} - 1)),
                         (acc, x) -> (acc * {_SHINGLE_COMB} + x) % {_MERSENNE_P})) AS spans
          FROM h),
    sp AS (SELECT doc_id, unnest(range(0, len(spans))) AS pos,
                  unnest(spans) AS span_id
           FROM g),
    lhs AS (SELECT doc_id, span_id, pos, pos // {LP_D} AS bkt FROM sp),
    rhs AS (SELECT doc_id, span_id, pos, pos // {LP_D} AS bkt FROM sp
            UNION ALL
            SELECT doc_id, span_id, pos, pos // {LP_D} - 1 AS bkt FROM sp),
    m AS (SELECT a.doc_id, a.pos AS pa, b.pos - a.pos AS diag
          FROM lhs a JOIN rhs b
            ON b.doc_id = a.doc_id AND b.span_id = a.span_id
               AND b.bkt = a.bkt
          WHERE b.pos - a.pos BETWEEN 1 AND {LP_D}),
    r AS (SELECT doc_id, diag,
                 pa - row_number() OVER (PARTITION BY doc_id, diag
                                         ORDER BY pa) AS isl,
                 pa
          FROM m),
    runs AS (SELECT doc_id, diag, isl, count(*) AS run_len,
                    min(pa) AS start
             FROM r GROUP BY doc_id, diag, isl),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_loop_positions
            FROM m GROUP BY doc_id),
    best AS (SELECT doc_id, run_len, diag, start,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY run_len DESC, diag, start)
                        AS rk
             FROM runs)
    SELECT b.doc_id, CAST(b.run_len AS BIGINT) AS max_run_spans,
           CAST(b.run_len + {MR_K} - 1 AS BIGINT) AS max_run_tokens,
           CAST(b.diag AS BIGINT) AS period_tokens,
           CAST(b.start AS BIGINT) AS run_start_pos,
           tot.n_loop_positions
    FROM best b JOIN tot ON tot.doc_id = b.doc_id
    WHERE b.rk = 1
    ORDER BY b.doc_id
    """


@register(
    "text_looping_run_report",
    oracle=None,  # set below
    tags=("llm", "text-quality", "repetition", "gaps-and-islands"),
)
def q_looping_run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest intra-document periodic run (module comment above): one
    row per document containing any region that repeats itself at a
    period of 1..{LP_D} token positions — the run length in spans and
    tokens, the period and start of the maximal run (ties: shortest
    period, earliest start), and the total count of shifted span
    matches (the doc's overall "loopiness" mass).

    Scale shape: the shifted self-match is the position-BINNED
    equi-join (bucket = pos div LP_D; the shifted side emits two
    bucket keys, each qualifying pair matches exactly once), so
    candidates are O(n_tokens x LP_D) even for an all-identical-token
    document — never the quadratic unbinned self-join; islands ride a
    (doc, diag) window whose partition mass is bounded by one doc's
    span count; everything shuffled is (doc_id, span_id, pos) ints."""
    d = spread(table(spark, sf_dir, "documents"))
    sp = _positioned_spans(d)
    lhs = sp.select("doc_id", "span_id", "pos",
                    F.expr(f"pos div {LP_D}").alias("bkt"))
    rhs = lhs.unionByName(
        sp.select("doc_id", "span_id", "pos",
                  F.expr(f"pos div {LP_D} - 1").alias("bkt")))
    m = (lhs.alias("a").join(
            rhs.alias("b"),
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.span_id") == F.col("a.span_id"))
            & (F.col("b.bkt") == F.col("a.bkt")))
         .filter((F.col("b.pos") - F.col("a.pos")).between(1, LP_D))
         .select(F.col("a.doc_id").alias("doc_id"),
                 F.col("a.pos").alias("pa"),
                 (F.col("b.pos") - F.col("a.pos")).alias("diag")))
    w = Window.partitionBy("doc_id", "diag").orderBy("pa")
    runs = (m.withColumn("isl", F.col("pa") - F.row_number().over(w))
            .groupBy("doc_id", "diag", "isl")
            .agg(F.count("*").alias("run_len"), F.min("pa").alias("start")))
    tot = m.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_loop_positions"))
    wb = Window.partitionBy("doc_id").orderBy(
        F.col("run_len").desc(), "diag", "start")
    best = (runs.withColumn("rk", F.row_number().over(wb))
            .filter(F.col("rk") == 1))
    return (best.join(tot, "doc_id")
            .select("doc_id",
                    F.col("run_len").cast("long").alias("max_run_spans"),
                    (F.col("run_len") + MR_K - 1).cast("long")
                    .alias("max_run_tokens"),
                    F.col("diag").cast("long").alias("period_tokens"),
                    F.col("start").cast("long").alias("run_start_pos"),
                    "n_loop_positions")
            .orderBy("doc_id"))


REGISTRY["text_looping_run_report"].oracle = _looping_oracle()


# ------------------------------------ Poisson-bootstrap confidence CI

# The distributed bootstrap: classic resampling draws n docs WITH
# replacement per replica — impossible to coordinate across executors —
# but the multinomial replica-membership vector is asymptotically a
# vector of independent Poisson(1) counts, so each (doc, replica) pair
# can draw its own weight from a hash of (doc_id, replica) with NO
# coordination at all (the standard streaming/Poisson bootstrap).
# Determinism discipline: the uniform is an integer (md5-derived
# hash32 mod 1e6) compared against the Poisson(1) CDF in fixed
# micro-unit literals (P[X<=0]=.367879, <=1 .735759, <=2 .919699,
# <=3 .981012, <=4 .996340, else 5), so weights are integer CASE
# arithmetic; replica means are integer-sum ratios (one IEEE division);
# CI bounds are type-1 order statistics over the replica means with a
# (mean, replica) total order. Replicas whose weight mass is zero
# (possible for tiny strata) are EXCLUDED from the order statistics on
# both engines and reported via n_replicas.
BOOT_B = 40  # bootstrap replicas
_POIS_CDF_MICRO = (367879, 735759, 919699, 981012, 996340)


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {i}"
        for i, t in enumerate(_POIS_CDF_MICRO))
    return f"(CASE {cases} ELSE {len(_POIS_CDF_MICRO)} END)"


def _pois_w_col(u) -> "F.Column":
    w = F.lit(len(_POIS_CDF_MICRO))
    for i, t in reversed(list(enumerate(_POIS_CDF_MICRO))):
        w = F.when(u < t, F.lit(i)).otherwise(w)
    return w


def _bootstrap_oracle() -> str:
    from ..functions.hashing import hash32_sql_duck
    u = (hash32_sql_duck(
        "CAST(doc_id AS VARCHAR) || '-' || CAST(r AS VARCHAR)")
        + " % 1000000")
    return f"""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    fan AS (SELECT source, n_chars,
                   {_pois_w_sql(f'({u})')} AS w, r
            FROM d CROSS JOIN
                 (SELECT unnest(range(0, {BOOT_B})) AS r) reps),
    rep AS (SELECT source, r,
                   CAST(sum(w * n_chars) AS BIGINT) AS sw_chars,
                   CAST(sum(w) AS BIGINT) AS sw
            FROM fan GROUP BY source, r),
    means AS (SELECT source, r,
                     sw_chars / CAST(sw AS DOUBLE) AS m
              FROM rep WHERE sw > 0),
    ranked AS (SELECT source, m,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY m, r) AS rn,
                      count(*) OVER (PARTITION BY source) AS nb
               FROM means),
    pt AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n_chars) AS BIGINT) AS t_chars
           FROM d GROUP BY source)
    SELECT p.source, p.n_docs,
           {sim.round6_stable_sql('p.t_chars / CAST(p.n_docs AS DOUBLE)')}
               AS point_mean,
           {sim.round6_stable_sql(
               'max(CASE WHEN r.rn = (r.nb + 19) // 20 THEN r.m END)')}
               AS ci_lo,
           {sim.round6_stable_sql(
               'max(CASE WHEN r.rn = (19 * r.nb + 19) // 20 THEN r.m END)')}
               AS ci_hi,
           CAST(max(r.nb) AS BIGINT) AS n_replicas
    FROM pt p JOIN ranked r ON r.source = p.source
    GROUP BY p.source, p.n_docs, p.t_chars
    ORDER BY p.source
    """


@register(
    "corpus_bootstrap_ci",
    oracle=None,  # set below (renders the hash expression)
    tags=("llm", "statistics", "bootstrap", "resampling"),
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean-document-length with a Poisson-bootstrap 90%
    confidence interval (module comment above): one row per source
    with the doc count, the point mean, the 5th/95th-percentile
    replica means as CI bounds, and the surviving replica count.

    Scale shape: the fan-out is a map-side explode of {BOOT_B} weight
    rows per doc (ints only — the text never rides); replica sums are
    one partial+final aggregate onto (source, replica) keys; the CI
    pick is a per-source window over <= {BOOT_B} replica rows. No
    coordination between executors, no second pass over the corpus —
    the reason the Poisson bootstrap is THE resampling scheme that
    survives 100 TB (a classical with-replacement resample would need
    a global multinomial draw per replica)."""
    from ..functions.hashing import hash32_col

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "n_chars")
    fan = d.select(
        "doc_id", "source", "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("r"))
    u = hash32_col(
        F.concat(F.col("doc_id").cast("string"), F.lit("-"),
                 F.col("r").cast("string"))) % 1000000
    fan = fan.select("source", "n_chars", "r", _pois_w_col(u).alias("w"))
    rep = (fan.groupBy("source", "r")
           .agg(F.sum(F.col("w") * F.col("n_chars")).cast("long")
                .alias("sw_chars"),
                F.sum("w").cast("long").alias("sw")))
    means = (rep.filter(F.col("sw") > 0)
             .select("source", "r",
                     (F.col("sw_chars") / F.col("sw").cast("double"))
                     .alias("m")))
    wrk = Window.partitionBy("source").orderBy("m", "r")
    wall = Window.partitionBy("source")
    ranked = (means.withColumn("rn", F.row_number().over(wrk))
              .withColumn("nb", F.count("*").over(wall)))
    pt = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("t_chars"))
    picks = (ranked.groupBy("source")
             .agg(sim.round6_stable(
                     F.max(F.when(F.col("rn") == F.expr("(nb + 19) div 20"),
                                  F.col("m")))).alias("ci_lo"),
                  sim.round6_stable(
                     F.max(F.when(
                         F.col("rn") == F.expr("(19 * nb + 19) div 20"),
                         F.col("m")))).alias("ci_hi"),
                  F.max("nb").cast("long").alias("n_replicas")))
    return (pt.join(picks, "source")
            .select("source", "n_docs",
                    sim.round6_stable(
                        F.col("t_chars") / F.col("n_docs").cast("double"))
                    .alias("point_mean"),
                    "ci_lo", "ci_hi", "n_replicas")
            .orderBy("source"))


def _render_bootstrap_oracle() -> None:
    REGISTRY["corpus_bootstrap_ci"].oracle = _bootstrap_oracle()


_render_bootstrap_oracle()


# ----------------------------------- classifier calibration report


# A quality/language classifier that FILTERS a corpus is consumed
# through its probability threshold, so what matters operationally is
# CALIBRATION: within documents scored ~0.8, do ~80% actually carry the
# label? This is the reliability-diagram / Expected-Calibration-Error
# face of the already-certified logreg pipeline (train_quality_logreg
# learns the weights, score_quality_logreg value-checks per-doc
# probabilities; this operator buckets those probabilities into 10
# fixed-width bins and compares mean predicted probability against the
# observed positive rate per bin). Determinism discipline: the sigmoid
# is quantized to integer MICRO-units first (floor(p*1e6+0.5), the
# round6_stable kernel), so bin ids are integer division and every
# per-bin statistic is a ratio of exact integer sums — the one
# libm-boundary exposure (exp at a micro-unit tie) is the same accepted
# class score_quality_logreg carries.

_CAL_FEAT_CTE = (
    "feat AS (SELECT doc_id, "
    "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, "
    + ", ".join(f"{sql} AS x_{name}"
                for name, sql in lg.feature_sql("text").items())
    + " FROM documents)"
)


def _cal_tail_sql() -> str:
    """The binning/aggregation tail of the calibration oracle, over a
    `scored(y, pi)` CTE — split out so the planted multi-bin test can
    drive the IDENTICAL SQL (bin-9 clamp included) with pi values the
    shipped trainer provably cannot produce (see the r12 test note in
    tests/test_llm_ext11.py: five lr=0.5 rounds over [0,1] features
    bound the margin by 10, so pi <= 999,955 < 1e6 on ANY corpus)."""
    return f""",
    binned AS (SELECT least(pi // 100000, 9) AS bin, y, pi FROM scored),
    agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(pi) AS BIGINT) AS spi,
                   CAST(sum(y) AS BIGINT) AS sy
            FROM binned GROUP BY bin),
    stats AS (SELECT bin, n_docs,
                     CAST(spi AS DOUBLE)
                         / (CAST(n_docs AS DOUBLE) * 1e6) AS mp,
                     CAST(sy AS DOUBLE) / CAST(n_docs AS DOUBLE) AS fp
              FROM agg)
    SELECT bin, n_docs,
           {sim.round6_stable_sql('mp')} AS mean_pred,
           {sim.round6_stable_sql('fp')} AS frac_pos,
           {sim.round6_stable_sql('abs(mp - fp)')} AS abs_gap
    FROM stats ORDER BY bin
    """


@register(
    "score_calibration_report",
    oracle=f"""
    WITH {_CAL_FEAT_CTE},
    {lg.logreg_train_cte_sql()},
    scored AS (SELECT f.y,
                      CAST(floor(1.0 / (1.0 + exp(-({lg.margin_sql('w')})))
                                 * 1e6 + 0.5) AS BIGINT) AS pi
               FROM feat f CROSS JOIN w{lg.ROUNDS} w){_cal_tail_sql()}""",
    tags=("llm", "score-logreg", "calibration"),
)
def q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration report for the trained quality
    logreg (module comment above): one row per occupied fixed-width
    probability bin with the doc count, mean predicted probability,
    observed positive rate, and the absolute calibration gap (the
    per-bin ECE term; ECE itself is the n-weighted sum over this
    table).

    Scale shape: training is the certified R-pass loop over the pinned
    feature projection (4-number gradients to the driver); scoring +
    micro-unit quantization + binning are one map-only pass with the
    weights inlined as literals; the report is a partial+final
    aggregate onto <= 10 bin keys. Same 100 TB plan as
    score_quality_logreg with one aggregate appended."""
    d = spread(table(spark, sf_dir, "documents"))
    fcols = lg.feature_cols(F.col("text"))
    feat = pin(d.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()]))
    weights = lg.train_logreg(feat)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-lg._margin(weights)))
    scored = feat.select(
        F.col("y").cast("long").alias("y"),
        F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long").alias("pi"))
    return calibration_from_scored(scored)


def calibration_from_scored(scored: DataFrame) -> DataFrame:
    """The binning/aggregation tail over a (y, pi) frame — the Spark
    twin of _cal_tail_sql, split out so the planted multi-bin/clamp
    test drives the operator's REAL tail (see _cal_tail_sql's note)."""
    agg = (scored
           .select(F.least(F.expr("pi div 100000"), F.lit(9)).alias("bin"),
                   "y", "pi")
           .groupBy("bin")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("pi").cast("long").alias("spi"),
                F.sum("y").cast("long").alias("sy")))
    stats = agg.select(
        "bin", "n_docs",
        (F.col("spi").cast("double")
         / (F.col("n_docs").cast("double") * F.lit(1e6))).alias("mp"),
        (F.col("sy").cast("double") / F.col("n_docs").cast("double"))
        .alias("fp"))
    return (stats.select(
        "bin", "n_docs",
        sim.round6_stable(F.col("mp")).alias("mean_pred"),
        sim.round6_stable(F.col("fp")).alias("frac_pos"),
        sim.round6_stable(F.abs(F.col("mp") - F.col("fp"))).alias("abs_gap"))
        .orderBy("bin"))


# ------------------------------------- gazetteer phrase tagging


# Dictionary-driven span tagging — the blocklist / domain-term /
# entity-gazetteer pass every curation pipeline runs (flag documents
# mentioning benchmark names, brands, PII terms...). The dictionary is
# a FIXED side input, so the scale shape is the broadcast pattern: the
# phrase list rides to every executor (inlined literals here — the
# broadcast equivalent for a table-valued dictionary), and matching is
# a pure map-side scan per document — multi-token phrases match by
# comparing the token-array slice at each start position against the
# phrase array (contiguous, order-sensitive — a phrase, not a bag),
# the same positional-adjacency semantics an Aho-Corasick tagger
# would produce, expressed as one higher-order-function expression
# with no join and no shuffle until the <= |terms|-row report.
GAZETTEER = (
    ("spark", "spark"),
    ("customer", "customer"),
    ("table_scan", "table scan"),
    ("hash_join", "hash join"),
    ("sort_merge", "sort merge"),
    ("data_stream", "data stream"),
    ("window_agg", "window agg"),
    ("sort_merge_join", "sort merge join"),
)


@register(
    "text_gazetteer_mentions",
    oracle=f"""
    WITH gaz(term_id, phrase) AS (VALUES {", ".join(
        f"('{tid}', {{'p': string_split('{p}', ' ')}}.p)"
        for tid, p in GAZETTEER)}),
    t AS (SELECT doc_id, {tokens_sql('text')} AS toks FROM documents),
    m AS (SELECT g.term_id, len(g.phrase) AS n_words, t.doc_id,
                 CASE WHEN len(t.toks) >= len(g.phrase) THEN
                 len(list_filter(range(1, len(t.toks) - len(g.phrase) + 2),
                                 i -> t.toks[i:i + len(g.phrase) - 1]
                                      = g.phrase)) ELSE 0 END AS n_hits
          FROM t CROSS JOIN gaz g)
    SELECT term_id, CAST(max(n_words) AS BIGINT) AS n_words,
           CAST(count(*) FILTER (n_hits > 0) AS BIGINT) AS n_docs,
           CAST(sum(n_hits) AS BIGINT) AS n_mentions
    FROM m GROUP BY term_id
    ORDER BY term_id
    """,
    tags=("llm", "text-analysis", "gazetteer", "broadcast"),
)
def q_gazetteer_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mention counts (module comment above): one row per
    dictionary term — unigrams up to trigrams — with the phrase
    length, the number of documents mentioning it, and the total
    (overlapping) mention count across the corpus.

    Scale shape: the dictionary is a broadcast cross join (8 literal
    rows); per-(doc, term) counting is one map-side higher-order
    expression over the token array (slice-compare at each start
    position — contiguous positional match, not a bag-of-words test);
    the only exchange is the final partial+final aggregate onto
    |terms| keys. Raw text never shuffles; a larger dictionary swaps
    the literals for an F.broadcast() dimension join on the first
    token with identical downstream shape."""
    d = spread(table(spark, sf_dir, "documents"))
    gaz = spark.createDataFrame(
        [(tid, p.split(" ")) for tid, p in GAZETTEER],
        "term_id string, phrase array<string>")
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    m = (t.crossJoin(F.broadcast(gaz))
         .select("term_id",
                 F.size("phrase").alias("n_words"),
                 # sub-phrase-length docs: 0 hits explicitly — Spark's
                 # sequence(1, n) COUNTS DOWN for n < 1 (DuckDB range()
                 # is empty), so the guard is a correctness fence, not
                 # an optimization
                 F.expr("CASE WHEN size(toks) >= size(phrase) THEN "
                        "size(filter(sequence(1, size(toks) - size(phrase)"
                        " + 1), i -> slice(toks, i, size(phrase))"
                        " == phrase)) ELSE 0 END").alias("n_hits")))
    return (m.groupBy("term_id")
            .agg(F.max("n_words").cast("long").alias("n_words"),
                 F.count(F.when(F.col("n_hits") > 0, 1)).cast("long")
                  .alias("n_docs"),
                 F.sum("n_hits").cast("long").alias("n_mentions"))
            .orderBy("term_id"))


# ------------------------------- classifier discrimination (AUC/Gini)

# score_calibration_report answers "are the probabilities
# honest?"; this answers the complementary question a gate-threshold
# decision needs: "do the scores RANK positives above negatives?" —
# ROC-AUC, computed exactly as the Mann-Whitney U statistic with the
# standard average-rank tie treatment. Exactness discipline: scores are
# the same micro-unit integers the calibration report bins, so with
# per-distinct-score counts c (cp positives, below-count R = rows with
# a strictly smaller score), twice the positive rank sum is the integer
# Σ cp·(2R + c + 1), and 2U = that − n_pos·(n_pos+1) — AUC and Gini are
# single IEEE divisions of exact integers. 100 TB shape: one map-only
# scoring pass, one partial+final aggregate onto distinct scores
# (<= 1e6+1 keys by construction — the micro-unit grid bounds the
# state no matter the corpus), one bounded cumulative window, one
# 1-row reduction.


@register(
    "score_auc_report",
    oracle=f"""
    WITH {_CAL_FEAT_CTE},
    {lg.logreg_train_cte_sql()},
    scored AS (SELECT f.y,
                      CAST(floor(1.0 / (1.0 + exp(-({lg.margin_sql('w')})))
                                 * 1e6 + 0.5) AS BIGINT) AS pi
               FROM feat f CROSS JOIN w{lg.ROUNDS} w),
    per AS (SELECT pi, CAST(count(*) AS BIGINT) AS c,
                   CAST(sum(y) AS BIGINT) AS cp
            FROM scored GROUP BY pi),
    cum AS (SELECT pi, c, cp,
                   CAST(sum(c) OVER (ORDER BY pi
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - c AS BIGINT) AS below
            FROM per),
    tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
                   CAST(sum(c - cp) AS BIGINT) AS nn,
                   CAST(sum(cp * (2 * below + c + 1)) AS BIGINT) AS r2
            FROM cum),
    u AS (SELECT np, nn, r2 - np * (np + 1) AS u2 FROM tot)
    SELECT np AS n_pos, nn AS n_neg,
           {sim.round6_stable_sql(
               'CAST(u2 AS DOUBLE)'
               ' / (2.0 * (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)))')}
               AS auc,
           {sim.round6_stable_sql(
               'CAST(u2 AS DOUBLE)'
               ' / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) - 1.0')}
               AS gini
    FROM u
    """,
    tags=("llm", "score-logreg", "auc", "discrimination"),
)
def q_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney with average-rank ties) and Gini of
    the trained quality logreg against the language label (module
    comment above): one row with the class sizes and both statistics.

    Scale shape: the certified training loop, a map-only scoring pass
    (weights as literals), a partial+final aggregate onto the bounded
    micro-unit score grid, one cumulative window over those summary
    rows, and a 1-row total — the integer rank algebra means no
    sort of raw rows is ever needed."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    fcols = lg.feature_cols(F.col("text"))
    feat = pin(d.select(
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0))
         .alias("y"),
        *[c.alias(f"x_{name}") for name, c in fcols.items()]))
    weights = lg.train_logreg(feat)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-lg._margin(weights)))
    scored = feat.select(
        F.col("y").cast("long").alias("y"),
        F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("long").alias("pi"))
    per = (scored.groupBy("pi")
           .agg(F.count("*").cast("long").alias("c"),
                F.sum("y").cast("long").alias("cp")))
    cw = (W.orderBy("pi")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    cum = per.withColumn(
        "below", (F.sum("c").over(cw) - F.col("c")).cast("long"))
    tot = cum.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum(F.col("c") - F.col("cp")).cast("long").alias("nn"),
        F.sum(F.col("cp") * (2 * F.col("below") + F.col("c") + 1))
         .cast("long").alias("r2"))
    u = tot.select("np", "nn",
                   (F.col("r2") - F.col("np") * (F.col("np") + 1))
                   .alias("u2"))
    return u.select(
        F.col("np").alias("n_pos"), F.col("nn").alias("n_neg"),
        sim.round6_stable(
            F.col("u2").cast("double")
            / (F.lit(2.0) * (F.col("np").cast("double")
                             * F.col("nn").cast("double")))).alias("auc"),
        sim.round6_stable(
            F.col("u2").cast("double")
            / (F.col("np").cast("double") * F.col("nn").cast("double"))
            - F.lit(1.0)).alias("gini"))
