"""Text extraction + canonicalization + text-analysis column functions.

The reference folds canonicalization into its scan: FASTA reading
uppercases and randomly replaces unknown letters
(pcluster/src/pcluster/read_proteins.cpp:27-33) — the random fallback is
a nondeterminism defect (SURVEY.md §2.12). Our canonicalization is a
pure function of the input bytes, so extracted text is byte-identical
per url across runs and cluster sizes (BASELINE.json per-row invariant).

Everything here except html extraction is built-in Column functions
(JVM-side, whole-stage codegen); extraction is the one place a pandas
UDF is warranted (input_hint point 1).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Matches the reference's alphabet reduction role (util.hpp:103-105):
# shrink the symbol space deterministically before hashing.
_WS_RE = re.compile(r"\s+")
_TAG_RE = re.compile(rb"<script\b.*?</script\s*>|<style\b.*?</style\s*>|<[^>]*>", re.S | re.I)


def canonicalize_text_col(col: Column) -> Column:
    """lowercase + collapse whitespace + trim — pure Column ops.

    Spark-side twin of `_canonicalize_py` below; both must agree
    byte-for-byte (tested in tests/test_text.py).
    """
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _canonicalize_py(s: str) -> str:
    return _WS_RE.sub(" ", s.lower()).strip()


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Deterministic html(binary) -> canonical text. Vectorized per Arrow batch.

    Replaces the reference's FASTA scan normalization
    (read_proteins.cpp:6-41) with a pure function: strip script/style
    blocks and tags, decode utf-8 (errors replaced deterministically),
    canonicalize. No randomness (contrast read_proteins.cpp:31).
    """

    def one(b) -> str:
        if b is None:
            return ""
        raw = bytes(b)
        stripped = _TAG_RE.sub(b" ", raw)
        return _canonicalize_py(stripped.decode("utf-8", errors="replace"))

    return html.map(one)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> docs(doc_id, url, text, lang).

    doc_id = xxhash64(url): stable 64-bit id independent of row order /
    partitioning (the reference's positional uint32 row ids,
    read_proteins.hpp:28-32, are order-dependent — not reproducible on a
    cluster). If a pre-extracted `text` column exists it wins (trusted
    upstream extraction); else extract from html.
    """
    has_text = "text" in pages.columns
    text_col = (
        canonicalize_text_col(F.col("text"))
        if has_text
        else extract_text_udf(F.col("html"))
    )
    return pages.select(
        F.xxhash64(F.col("url")).alias("doc_id"),
        F.col("url"),
        text_col.alias("text"),
        *([F.col("lang")] if "lang" in pages.columns else []),
    )


# ---------------- text-analysis columns (training-pipeline ops) -------------
# All built-in Column fns — zero Python on the hot path.

_STOPWORDS = (
    "the,a,an,and,or,of,to,in,is,it,that,for,on,as,with,was,at,by,be,this,"
    "are,from,has,had,not,but,we,you,they,he,she,his,her,its,our,their"
)


def token_count_col(text: Column) -> Column:
    """Whitespace token count (training-data token budgeting)."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.size(F.split(text, r"\s+"))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features.

    Heuristic quality scoring (C4/Gopher-style rules) over canonical text.
    """
    t = F.col(text_col)
    toks = F.split(F.lower(t), r"\s+")
    stop_arr = F.split(F.lit(_STOPWORDS), ",")
    n_tok = token_count_col(t)
    return (
        df.withColumn("n_chars_c", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_token_len",
            F.when(n_tok > 0, F.length(F.regexp_replace(t, r"\s+", "")) / n_tok),
        )
        .withColumn(
            "punct_ratio",
            F.when(
                F.length(t) > 0,
                (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", "")))
                / F.length(t),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "stopword_ratio",
            F.when(
                n_tok > 0,
                F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
                / F.size(F.array_distinct(toks)),
            ).otherwise(F.lit(0.0)),
        )
    )


# n-gram profiles for a tiny language-ID heuristic: most frequent trigrams
# per language (hand-picked, deterministic; real systems use fasttext —
# not available in-sandbox, this is the documented stand-in).
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " is ", " that "),
    "de": (" der ", " die ", " und ", " ist ", " das "),
    "fr": (" le ", " la ", " et ", " les ", " des "),
    "es": (" el ", " los ", " que ", " y ", " las "),
}


def lang_id_col(text: Column) -> Column:
    """Marker-n-gram language ID: argmax over per-language marker hits."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = [
        F.struct(
            sum(
                (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit(""))))
                / F.length(F.lit(m))
                for m in markers
            ).cast("double").alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in _LANG_MARKERS.items()
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def lang_id_frame(
    df: DataFrame, text_col: str = "text", pred_col: str = "model_lang"
) -> DataFrame:
    """Language-ID with an external-model escape hatch.

    Adds `pred_lang`. When the input already carries a model prediction
    column (`pred_col` — e.g. fasttext scores joined in upstream, which
    is not installable in-sandbox), non-null predictions pass through
    verbatim and the marker heuristic only fills the gaps; otherwise the
    marker heuristic decides alone. This keeps the operator's contract
    stable the day a real LID model is deployed: same output column,
    same downstream queries, better labels.
    """
    base = lang_id_col(F.col(text_col))
    out = (
        F.coalesce(F.col(pred_col), base) if pred_col in df.columns else base
    )
    return df.withColumn("pred_lang", out)


def fingerprint_col(text: Column) -> Column:
    """64-bit document fingerprint of canonical text (exact-dup key).

    PRODUCTION fingerprint: xxhash64 — a cheap 64-bit shuffle key that
    joins/aggregates as a long. The contract queries in
    __spark_entry__.py deliberately use md5 INSTEAD, because the DuckDB
    oracle has md5() but no xxhash64 — two fingerprints by design; do
    not unify them in either direction.
    """
    return F.xxhash64(text)
