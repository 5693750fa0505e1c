"""Text-analysis operators: sentiment, language-ID, quality, tokens, fingerprint.

Replaces the reference's external Azure AI Language call
(``FunctionApp2/process_data/__init__.py:62-82``) with a deterministic,
horizontally-scalable lexicon scorer. Two implementations with IDENTICAL
semantics:

* ``sentiment_components_expr`` (or ``sentiment_components_on_tokens``
  over a pre-tokenized column) feeding ``sentiment_label_expr`` and
  ``sentiment_confidence_expr`` — pure JVM expressions (regexp + array
  lambdas) that stay inside WholeStageCodegen;
* ``sentiment_pandas_udf`` — Arrow-vectorized pandas UDF; models the
  reference's batched-remote-enrichment operator shape (S11): batches
  arrive as Arrow record batches instead of the reference's serial
  10-doc loop, so throughput scales with executors x batch size.

Every JVM lexicon score (sentiment, language-ID, stopword ratio) counts
through ONE function, ``lexicon_count_on_tokens``: ``size(filter(toks,
t -> t IN (<words>)))``, where Catalyst turns a literal list longer than
ten words into a hash ``InSet``. Its DuckDB twin is ``_hits_sql`` in
plans/queries.py, and the oracle's label, confidence and language-ID
fragments there are built from the same word lists and thresholds.

Scale: all the expr-based paths are embarrassingly parallel scans —
no shuffle, no state; they run at 100 TB as fast as parquet can be read.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Deterministic lexicon. Includes the synthetic corpus vocabulary
# (fast/slow/small/big...) so scores are non-degenerate on testdata.
POSITIVE_WORDS = (
    "fast", "good", "great", "small", "value", "best", "win", "clean",
    "nice", "quick", "easy", "fresh", "smooth", "bright", "happy",
    "love", "like", "fine", "cool", "super",
)
NEGATIVE_WORDS = (
    "slow", "bad", "big", "error", "worst", "fail", "dirty", "poor",
    "broken", "late", "hard", "rough", "dark", "sad", "hate", "wrong",
    "bug", "crash", "noisy", "cold",
)

# Tokenizer shared by every text op (and by the DuckDB oracle twins).
TOKEN_RE = "[a-z]+"
WORD_RE = "[A-Za-z0-9]+"

# Decision thresholds on r = pos/(pos+neg):
#   tot==0 -> neutral; r>=0.625 -> positive; r<=0.375 -> negative; else mixed
POS_THRESHOLD = 0.625
NEG_THRESHOLD = 0.375

STOPWORDS_EN = ("the", "and", "of", "to", "a", "is", "in", "it")


def _sql_word_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _tokens_sql(col: str) -> str:
    return f"regexp_extract_all(lower({col}), '{TOKEN_RE}', 0)"


def tokens_expr(col: str = "text") -> Column:
    """Lowercased alpha tokens (JVM-side, no UDF)."""
    return F.expr(_tokens_sql(col))


def lexicon_count_on_tokens(toks: str, words: tuple[str, ...]) -> Column:
    """Hits of ``words`` among the tokens ``toks`` — a token column name
    or a SQL array expression.

    When a query needs several counts over the same text, tokenize once
    into a column and count many times over it: CollapseProject keeps a
    materialized token column evaluated once, because a non-cheap alias
    referenced more than once is not inlined.
    """
    return F.expr(f"size(filter({toks}, t -> t IN ({_sql_word_list(words)})))")


def sentiment_components_expr(col: str = "text") -> tuple[Column, Column]:
    """(pos_count, neg_count) as JVM columns."""
    return sentiment_components_on_tokens(_tokens_sql(col))


def sentiment_components_on_tokens(toks: str) -> tuple[Column, Column]:
    """(pos_count, neg_count) over a pre-tokenized array column."""
    return (
        lexicon_count_on_tokens(toks, POSITIVE_WORDS),
        lexicon_count_on_tokens(toks, NEGATIVE_WORDS),
    )


def sentiment_label_expr(pos: Column, neg: Column) -> Column:
    tot = pos + neg
    r = pos.cast("double") / tot  # guarded: only evaluated when tot > 0
    return (
        F.when(tot == 0, F.lit("neutral"))
        .when(r >= POS_THRESHOLD, F.lit("positive"))
        .when(r <= NEG_THRESHOLD, F.lit("negative"))
        .otherwise(F.lit("mixed"))
    )


def sentiment_confidence_expr(pos: Column, neg: Column) -> Column:
    """confidenceScores.positive — the one score the reference keeps
    (reference ``FunctionApp2/process_data/__init__.py:93``)."""
    tot = pos + neg
    return F.round(
        F.when(tot == 0, F.lit(0.5)).otherwise(pos.cast("double") / tot), 6
    )


# ---------------------------------------------------------------------
# pandas-UDF path (the S11 operator shape: Arrow batch in, scores out)
# ---------------------------------------------------------------------

_POS_SET = frozenset(POSITIVE_WORDS)
_NEG_SET = frozenset(NEGATIVE_WORDS)
_TOKEN_PAT = re.compile(TOKEN_RE)

# StructType object (not a DDL string): lets the UDF be declared at
# import time, before any SparkSession exists.
SENTIMENT_STRUCT = T.StructType(
    [
        T.StructField("sentiment", T.StringType()),
        T.StructField(
            "confidenceScores",
            T.StructType(
                [
                    T.StructField("positive", T.DoubleType()),
                    T.StructField("neutral", T.DoubleType()),
                    T.StructField("negative", T.DoubleType()),
                ]
            ),
        ),
    ]
)


def _score_series(texts: pd.Series) -> pd.DataFrame:
    out = []
    for t in texts:
        toks = _TOKEN_PAT.findall((t or "").lower())
        pos = sum(1 for w in toks if w in _POS_SET)
        neg = sum(1 for w in toks if w in _NEG_SET)
        tot = pos + neg
        if tot == 0:
            label, cp, cn, cz = "neutral", 0.5, 0.25, 0.25
        else:
            r = pos / tot
            cp, cn, cz = round(r, 6), round(neg / tot, 6), 0.0
            if r >= POS_THRESHOLD:
                label = "positive"
            elif r <= NEG_THRESHOLD:
                label = "negative"
            else:
                label = "mixed"
        out.append((label, {"positive": cp, "neutral": cz, "negative": cn}))
    return pd.DataFrame(out, columns=["sentiment", "confidenceScores"])


@F.pandas_udf(SENTIMENT_STRUCT)
def sentiment_pandas_udf(texts: pd.Series) -> pd.DataFrame:
    """Vectorized sentiment scorer (Arrow-batched; no external service)."""
    return _score_series(texts)


# ---------------------------------------------------------------------
# other text ops
# ---------------------------------------------------------------------

def token_count_expr(col: str = "text") -> Column:
    return F.expr(f"size(regexp_extract_all({col}, '{WORD_RE}', 0))")


def alpha_ratio_expr(col: str = "text") -> Column:
    """Fraction of characters that are ASCII letters (quality signal)."""
    n = F.length(F.col(col))
    alpha = F.length(F.regexp_replace(F.col(col), "[^A-Za-z]", ""))
    return F.round(
        F.when(n == 0, F.lit(0.0)).otherwise(alpha.cast("double") / n), 6
    )


# Language-ID stopword lexicons (checked by hits with fixed priority).
LANG_LEXICONS = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "que", "los", "una"),
    "de": ("der", "die", "und", "das", "ein"),
    "fr": ("le", "les", "des", "une", "est"),
}
_CJK_RANGE = f"[{chr(0x4E00)}-{chr(0x9FFF)}]"  # literal chars: valid in Java re + RE2


def lang_id_on_tokens(text_col: str, toks_col: str) -> Column:
    """Heuristic language ID over a pre-tokenized array column: CJK
    chars -> zh, else argmax stopword hits with fixed priority
    en > es > de > fr, else 'und' (the CJK probe reads the raw text)."""
    en, es, de, fr = (
        lexicon_count_on_tokens(toks_col, LANG_LEXICONS[k])
        for k in ("en", "es", "de", "fr")
    )
    return (
        F.when(F.col(text_col).rlike(_CJK_RANGE), F.lit("zh"))
        .when((en >= es) & (en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((es >= de) & (es >= fr) & (es > 0), F.lit("es"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def fingerprint_expr(col: str = "text") -> Column:
    """Normalized document fingerprint: md5 of the space-joined token
    stream (lowercase, punctuation/whitespace collapsed)."""
    return F.md5(F.concat_ws(" ", F.expr(
        f"regexp_extract_all(lower({col}), '[a-z0-9]+', 0)"
    )))
