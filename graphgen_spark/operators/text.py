"""Text-extraction and normalization operators (Arrow-vectorized).

``html_to_text`` is the deterministic byte-stable HTML→text kernel the
BASELINE.json per-row invariant hangs on: same url (same html bytes)
always yields the same text.  Runs as a Series→Series pandas UDF so the
plan stays whole-stage-codegen outside the UDF and Arrow-batched inside.

Reference points: the reader validation/decode path
(``graphgen/models/reader/txt_reader.py:11-36``) and language detection
(``graphgen/utils/detect_lang.py:1-29``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from graphgen_spark.textkit import count_tokens, detect_main_language

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script\b.*?</script>", re.S | re.I)
_STYLE_RE = re.compile(r"<style\b.*?</style>", re.S | re.I)
_HEAD_RE = re.compile(r"<head\b.*?</head>", re.S | re.I)
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|h[1-6]|br|hr|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    r"section|article|aside|nav|header|footer|blockquote|pre|figure|"
    r"figcaption|form|fieldset)\b[^>]*>",
    re.I,
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")
_PARA_SPLIT_RE = re.compile(r"\n\s*\n")


def html_to_text(raw_html: str) -> str:
    """Deterministic HTML→text: drop head/script/style/comments, block
    tags become paragraph breaks, inline tags vanish, entities are
    unescaped, intra-paragraph whitespace collapses to single spaces."""
    import html as _html

    s = _COMMENT_RE.sub("", raw_html)
    s = _SCRIPT_RE.sub("", s)
    s = _STYLE_RE.sub("", s)
    s = _HEAD_RE.sub("", s)
    s = _BLOCK_TAG_RE.sub("\n\n", s)
    s = _TAG_RE.sub("", s)
    s = _html.unescape(s)
    paras = [
        _WS_RE.sub(" ", p).strip() for p in _PARA_SPLIT_RE.split(s)
    ]
    return "\n\n".join(p for p in paras if p)


def page_text(html) -> str:
    """One page's html (bytes, str or null) -> its text.  Bytes decode
    as UTF-8 with replacement; a null page has no text, like ``b""``."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    return html_to_text(str(html))


@pandas_udf(T.StringType())
def extract_text_udf(html_bytes: pd.Series) -> pd.Series:
    return html_bytes.map(page_text)


@pandas_udf(T.StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: detect_main_language(t or ""))


@pandas_udf(T.IntegerType())
def count_tokens_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: count_tokens(t or "")).astype("int32")


def with_extracted_text(pages: DataFrame, out_col: str = "extracted_text") -> DataFrame:
    """pages(url, warc_ts, html, ...) -> + extracted_text column."""
    return pages.withColumn(out_col, extract_text_udf(F.col("html")))


def with_language(df: DataFrame, text_col: str = "text", out_col: str = "language") -> DataFrame:
    return df.withColumn(out_col, detect_lang_udf(F.col(text_col)))


def doc_trace_id(text_col: Column) -> Column:
    """Deterministic content-hash trace id (reference md5-of-row ids,
    ``graphgen/utils/hash.py:12-14``) as a native expression."""
    return F.concat(F.lit("doc-"), F.md5(text_col))
