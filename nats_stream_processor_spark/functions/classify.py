"""Arrow-vectorized classifier UDFs — the production execution path for the
sentiment/topic stages (U1/U2).

Why pandas UDFs and not pure Column expressions: the stand-in classifiers
are expressible as built-in expressions (sentiment.py / topics.py hold
their lexicons and SQL oracle twins), but Catalyst duplicates
projection expressions into downstream filters and grouping keys
(PushDownPredicate / CollapseProject do not share heavy subtrees), which
multiplies the ~20 keyword-count subexpressions per reference — measured
>100x slowdown on the composed pipeline. A pandas UDF evaluates ONCE per
row in an ArrowEvalPython node whose outputs are plain attributes, so the
plan stays small and the work stays linear. This also mirrors the reference
architecture, where both models are opaque per-message functions
(reference: src/sentiment.py:91-174, src/topic_classifier.py:100-200) — the
Spark mapping called for in SURVEY.md §2A (U1/U2: per-executor state inside
a pandas_udf, Arrow batches replacing per-message calls).

Values are bit-identical to the SQL twins (floats rounded to
FLOAT_ROUND_DP on every path), which the oracle parity checks assert.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..config import FLOAT_ROUND_DP
from .sentiment import LABELS as SENTIMENT_LABELS
from .sentiment import NEGATIVE_WORDS, NEUTRAL_BIAS, POSITIVE_WORDS
from .text import TOKEN_RE
from .topics import LABELS, SCORE_OFFSET, TOPIC_KEYWORDS

SENTIMENT_SCHEMA = StructType([
    StructField("sentiment", StringType()),
    StructField("confidence", DoubleType()),
    StructField("probabilities", StructType([
        StructField("negative", DoubleType()),
        StructField("neutral", DoubleType()),
        StructField("positive", DoubleType()),
    ])),
])

TOPICS_SCHEMA = StructType([
    StructField("topics", ArrayType(StringType())),
    StructField("top_topic", StringType()),
    StructField("top_confidence", DoubleType()),
])

# The fused classifier's flat output; sentiment_of / topics_of assemble
# the two structs above from it in the JVM.
CLASSIFY_SCHEMA = StructType([
    StructField("sentiment", StringType()),
    StructField("confidence", DoubleType()),
    StructField("p_negative", DoubleType()),
    StructField("p_neutral", DoubleType()),
    StructField("p_positive", DoubleType()),
    *TOPICS_SCHEMA.fields,
])

_TOKEN = re.compile(TOKEN_RE)
_NEG = frozenset(NEGATIVE_WORDS)
_POS = frozenset(POSITIVE_WORDS)
# keyword -> topic-label index (keywords are disjoint across labels)
_KW2LABEL: dict[str, int] = {
    w: i for i, lab in enumerate(LABELS) for w in TOPIC_KEYWORDS[lab]
}
_NLAB = len(LABELS)
_LABELS = np.array(LABELS, dtype=object)
_SENTIMENTS = np.array(SENTIMENT_LABELS, dtype=object)


def _exploded_tokens(texts: pd.Series) -> pd.Series:
    """One row per token occurrence, indexed by source-row position.

    pandas `.str` tokenization + explode keeps the whole batch in C loops;
    the previous per-row `re.findall` Python loop was the hottest Python in
    the streaming path (VERDICT r1 #7)."""
    return (
        texts.reset_index(drop=True).fillna("")
        .str.lower().str.findall(_TOKEN).explode().dropna()
    )


def _token_table(texts: pd.Series):
    """The batch's tokens, tokenized once: per token occurrence its
    source-row position, whether it is a negative / positive lexicon word,
    and its topic-label index (-1 for none). Each distinct token is looked
    up in the vocabularies once."""
    ex = _exploded_tokens(texts)
    codes, uniq = pd.factorize(ex)
    neg = np.array([u in _NEG for u in uniq], dtype=bool)
    pos = np.array([u in _POS for u in uniq], dtype=bool)
    lab = np.array([_KW2LABEL.get(u, -1) for u in uniq], dtype=np.int64)
    return ex.index.to_numpy(dtype=np.int64), neg[codes], pos[codes], lab[codes]


def _sentiment_kernel(rows, neg_tok, pos_tok, n: int, dp: int):
    """Sentiment from a token table: (label index, n x 3 rounded
    probabilities in label order); same math as the SQL twin."""
    neg = np.bincount(rows[neg_tok], minlength=n).astype(np.float64)
    pos = np.bincount(rows[pos_tok], minlength=n).astype(np.float64)
    neu = np.full(n, NEUTRAL_BIAS)
    logits = np.stack([neg, neu, pos], axis=1)  # index order = label ids
    mx = logits.max(axis=1, keepdims=True)
    e = np.exp(logits - mx)
    probs = np.round(e / e.sum(axis=1, keepdims=True), dp)
    idx = logits.argmax(axis=1)  # first max wins, like np.argmax in reference
    return idx, probs


def _topics_kernel(rows, lab_tok, n: int, dp: int):
    """Topics from a token table: (object array of topic lists, top label
    index, rounded top confidence); same math as the SQL twin."""
    # n x n_labels keyword-occurrence matrix in one counting pass
    hit = lab_tok >= 0
    counts = np.bincount(
        rows[hit] * _NLAB + lab_tok[hit], minlength=n * _NLAB,
    ).reshape(n, _NLAB)
    mx = counts.max(axis=1)
    top_idx = counts.argmax(axis=1)  # first max = alphabetical tie-break
    # Labels with a hit, plus the top label (U2d: top always included), in
    # LABELS order — which is sorted, so each list comes out sorted. Rows
    # with the same label set share one list, built once per distinct set.
    member = counts >= 1
    member[np.arange(n), top_idx] = True
    keys = member @ (np.int64(1) << np.arange(_NLAB, dtype=np.int64))
    uniq, inv = np.unique(keys, return_inverse=True)
    sets = np.empty(len(uniq), dtype=object)
    for i, k in enumerate(uniq):
        sets[i] = [lab for j, lab in enumerate(LABELS) if k >> j & 1]
    topics = sets[inv]
    conf = np.round(1.0 / (1.0 + np.exp(SCORE_OFFSET - mx.astype(np.float64))), dp)
    return topics, top_idx, conf


def sentiment_batch(texts: pd.Series, dp: int = FLOAT_ROUND_DP) -> pd.DataFrame:
    """Vectorized sentiment over a batch."""
    rows, neg, pos, _ = _token_table(texts)
    idx, probs = _sentiment_kernel(rows, neg, pos, len(texts), dp)
    return pd.DataFrame({
        "sentiment": _SENTIMENTS[idx],
        "confidence": probs.max(axis=1),
        "probabilities": [
            {"negative": p[0], "neutral": p[1], "positive": p[2]} for p in probs
        ],
    })


def topics_batch(texts: pd.Series, dp: int = FLOAT_ROUND_DP) -> pd.DataFrame:
    """Vectorized topics over a batch."""
    rows, _, _, lab = _token_table(texts)
    topics, top_idx, conf = _topics_kernel(rows, lab, len(texts), dp)
    return pd.DataFrame(
        {"topics": topics, "top_topic": _LABELS[top_idx], "top_confidence": conf}
    )


def classify_batch(texts: pd.Series, threshold: float,
                   dp: int = FLOAT_ROUND_DP) -> pd.DataFrame:
    """Sentiment, the F5 confidence gate and topics in one pass: the batch
    is tokenized once, and topics are evaluated only on rows whose
    confidence clears ``threshold`` (reference: src/service.py:115-127).
    Gated rows carry null topic columns. Flat columns (CLASSIFY_SCHEMA);
    values equal sentiment_batch and topics_batch row for row."""
    n = len(texts)
    rows, neg, pos, lab = _token_table(texts)
    idx, probs = _sentiment_kernel(rows, neg, pos, n, dp)
    conf = probs.max(axis=1)
    keep = conf >= threshold
    # The passing rows' tokens, renumbered to positions 0..k-1.
    rank = np.cumsum(keep) - 1
    kept = keep[rows]
    topics_k, top_k, tconf_k = _topics_kernel(
        rank[rows[kept]], lab[kept], int(keep.sum()), dp)
    topics = np.full(n, None, dtype=object)
    topics[keep] = topics_k
    top = np.full(n, None, dtype=object)
    top[keep] = _LABELS[top_k]
    tconf = np.full(n, np.nan)
    tconf[keep] = tconf_k
    return pd.DataFrame({
        "sentiment": _SENTIMENTS[idx],
        "confidence": conf,
        "p_negative": probs[:, 0],
        "p_neutral": probs[:, 1],
        "p_positive": probs[:, 2],
        "topics": topics,
        "top_topic": top,
        "top_confidence": tconf,
    })


@F.pandas_udf(SENTIMENT_SCHEMA)
def _sentiment_udf_raw(texts: pd.Series) -> pd.DataFrame:
    return sentiment_batch(texts)


@F.pandas_udf(TOPICS_SCHEMA)
def _topics_udf_raw(texts: pd.Series) -> pd.DataFrame:
    return topics_batch(texts)


@F.pandas_udf(CLASSIFY_SCHEMA)
def _classify_udf_raw(texts: pd.Series, threshold: pd.Series) -> pd.DataFrame:
    return classify_batch(texts, float(threshold.iloc[0]) if len(threshold) else 0.0)


# Marked non-deterministic as an OPTIMIZER FENCE, not because values vary.
# The enrichment plan is one ArrowEvalPython node (classify_udf) with the F5
# confidence gate filtering its output. Were the UDF deterministic, Catalyst
# could push that gate below the node as a second evaluation of the UDF
# (the classifiers would then run twice per row, once on the filter path)
# and collapse the struct-building projections into copies of the call.
# Non-deterministic expressions are never duplicated or moved across
# Filter/Exchange boundaries, so the kernel runs exactly once per row and
# the gate stays above it — the reference's stage ordering (service.py
# short-circuit) preserved by construction. The standalone classifiers
# carry the same fence.
sentiment_udf = _sentiment_udf_raw.asNondeterministic()
topics_udf = _topics_udf_raw.asNondeterministic()
_classify_udf = _classify_udf_raw.asNondeterministic()


def classify_udf(text: Column, threshold: float) -> Column:
    """The fused classifier over ``text`` (flat CLASSIFY_SCHEMA struct)."""
    return _classify_udf(text, F.lit(float(threshold)))


def sentiment_of(c: Column) -> Column:
    """The ``sentiment`` struct (SENTIMENT_SCHEMA) from a classify_udf
    result, assembled in the JVM."""
    return _nullable(F.struct(
        c["sentiment"].alias("sentiment"),
        c["confidence"].alias("confidence"),
        F.struct(
            c["p_negative"].alias("negative"),
            c["p_neutral"].alias("neutral"),
            c["p_positive"].alias("positive"),
        ).alias("probabilities"),
    ), c, SENTIMENT_SCHEMA)


def topics_of(c: Column) -> Column:
    """The ``topics`` struct (TOPICS_SCHEMA) from a classify_udf result,
    assembled in the JVM."""
    return _nullable(F.struct(
        c["topics"].alias("topics"),
        c["top_topic"].alias("top_topic"),
        c["top_confidence"].alias("top_confidence"),
    ), c, TOPICS_SCHEMA)


def _nullable(s: Column, c: Column, schema: StructType) -> Column:
    # F.struct is never null; the standalone UDFs' structs are nullable at
    # every level. The cast restores nested nullability and the guard the
    # outer one, so the output schema equals the standalone UDFs'.
    return F.when(c.isNotNull(), s.cast(schema))
