"""Scalar function library.

The classifiers are deterministic stand-ins for the reference's ONNX models
(lexicon/keyword scoring with identical output shape and gating semantics;
see SURVEY.md §7 and FIXTURES.md §4). Each exists in two forms built from
one set of lexicons and rules:

- an Arrow-batched pandas UDF (``classify.py``) — the one Python step in
  the enrichment hot path, evaluated once per row in a single fused node;
- an ANSI-SQL fragment builder (DuckDB dialect) used for oracle checking.

The text helpers (``text.py``) are JVM-side Column builders.
"""

from .sentiment import sentiment_sql_columns  # noqa: F401
from .topics import topics_sql_columns  # noqa: F401
from .text import tokens_col, tokens_sql, extract_text_col  # noqa: F401
