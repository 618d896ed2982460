"""The pinned tokenizer — the semantic contract every component shares.

The reference (pisa-engine/ciff) contains NO tokenizer: CIFF terms arrive
pre-tokenized/stemmed from Anserini (/root/reference/tests/toy.rs:38 shows
Porter-stemmed terms "simpl", "veri"; the toy header cites an Anserini export).
So the tokenizer is OURS to pin, and rank-identity is defined against our own
oracle. We pin the simplest semantics that four independent implementations
can reproduce byte-identically:

    tokens(text) = all maximal runs of [a-z0-9] in lower(text)

The four implementations (all in this module or generated from it):
  1. ``tokenize_expr``     — Spark built-in expression (JVM, whole-stage codegen;
                             the fast path used by the build pipeline),
  2. ``tokenize_pandas_udf`` — Arrow-vectorized pandas UDF (kept for the
                             north-rule's "pandas-on-Arrow UDF" surface and as
                             the extension point for richer tokenizers),
  3. ``tokenize_py``       — pure-Python (the pytest oracle),
  4. ``TOKENIZE_SQL``      — an ANSI/DuckDB SQL fragment (the driver oracle).

ASCII-only is a deliberate pin: Python ``re`` lacks ``\\p{L}`` (the ``regex``
module is not available here), and rank-identity across Java regex, RE2
(DuckDB) and Python ``re`` must be exact. A ``unicode_letters`` variant exists
for the Spark path only and is documented as not oracle-checked.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The single pinned pattern. All implementations derive from it.
TOKEN_PATTERN = "[a-z0-9]+"

#: Unicode variant (Spark/Java + DuckDB/RE2 only — NOT the pinned contract).
TOKEN_PATTERN_UNICODE = "[\\p{L}\\p{N}]+"

_PY_RE = re.compile(TOKEN_PATTERN)


def tokenize_py(text: str | None) -> list[str]:
    """Pure-Python pinned tokenizer (oracle side)."""
    if not text:
        return []
    return _PY_RE.findall(text.lower())


def tokenize_expr(col: Column | str, unicode_letters: bool = False) -> Column:
    """Spark built-in tokenizer: array<string> of pinned tokens.

    Stays entirely JVM-side (regexp_extract_all is codegen'd) — faster than
    any UDF and semantically identical to ``tokenize_py``.
    """
    c = F.col(col) if isinstance(col, str) else col
    pat = TOKEN_PATTERN_UNICODE if unicode_letters else TOKEN_PATTERN
    return F.regexp_extract_all(F.lower(c), F.lit(pat), 0)


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_pandas_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized pandas UDF tokenizer.

    Identical semantics to ``tokenize_expr``; provided as the pandas-on-Arrow
    surface mandated by the project contract ("no per-row Python" — this is
    batch-vectorized via pandas ``str`` ops) and as the hook where a heavier
    tokenizer (stemming, BPE) would plug in without touching the pipeline.
    """
    return texts.str.lower().str.findall(TOKEN_PATTERN)


def tokenize_sql(text_expr: str) -> str:
    """DuckDB/ANSI SQL fragment producing the pinned token array."""
    return f"regexp_extract_all(lower({text_expr}), '{TOKEN_PATTERN}')"


#: Convenience constant for oracle SQL over a column literally named ``text``.
TOKENIZE_SQL = tokenize_sql("text")
