"""Text analysis operators for pretraining-data curation.

- token counting: whitespace + BPE-ish regex tokenizer

Plus the reference's QA evaluators re-expressed:
- MTLD lexical diversity (``models/evaluator/qa/mtld_evaluator.py``):
  order-dependent forward+backward factor scan -> per-row pandas UDF
- token-length metric (``length_evaluator.py``)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def whitespace_token_count(text_col: Column) -> Column:
    """Pure-SQL token count (matches the DuckDB oracle exactly)."""
    return F.size(F.split(F.trim(text_col), r"\s+"))


# GPT-2-style pretokenizer classes, restricted to constructs shared by
# Java regex (Spark) and RE2 (DuckDB): no lookarounds, no \p classes —
# contractions, letter runs, digit runs, non-space punctuation runs.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text_col: Column) -> Column:
    """Token-budget estimator: counts BPE-ish pretokens (the unit a
    byte-pair tokenizer would merge within).  A native regexp over the
    text — engine-portable, so corpus token budgets computed here and
    by a DuckDB/warehouse audit agree exactly."""
    return F.size(
        F.regexp_extract_all(text_col, F.lit(BPE_ISH_PATTERN), 0)
    )


def mtld(text: str, ttr_threshold: float = 0.72) -> float:
    """MTLD lexical diversity — reference-parity factor scan
    (``mtld_evaluator.py:49-73``; tokenizer is whitespace+alnum here
    instead of NLTK, cf. SURVEY §7.0 tokenizer equivalence class).
    Partial last segment adds 1 - (ttr - thr)/(1 - thr); zero factors
    fall back to the token count; forward+backward averaged."""
    tokens = [t for t in str(text or "").split() if t.isalnum()]
    if not tokens:
        return 0.0

    def factors_of(seq) -> float:
        factors = 0.0
        segment = 0
        types: set = set()
        for tok in seq:
            segment += 1
            types.add(tok)
            ttr = len(types) / segment
            if ttr <= ttr_threshold:
                factors += 1
                segment = 0
                types = set()
        if segment > 0:
            ttr = len(types) / segment
            if ttr <= ttr_threshold:
                factors += 1
            else:
                factors += 1 - (ttr - ttr_threshold) / (1 - ttr_threshold)
        return len(seq) / factors if factors > 0 else float(len(seq))

    fwd = factors_of(tokens)
    bwd = factors_of(tokens[::-1])
    return (fwd + bwd) / 2


@pandas_udf(T.DoubleType())
def mtld_udf(text: pd.Series) -> pd.Series:
    return text.map(mtld)


def mtld_oracle_sql(
    table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB SQL replaying the MTLD factor scan EXACTLY — the
    order-dependent metric previously documented as non-SQL.  A
    recursive CTE carries (position, running type list, segment
    length, factor count) per (doc, direction) and steps one token at
    a time; every arithmetic op mirrors ``mtld`` above in the same
    IEEE-double order (thresholds written as the same literals), so
    the micro-scaled result hash-matches the pandas UDF.  Oracle-side
    only: the engine path stays the vectorized per-row UDF — the
    recursion's O(max_tokens) iterations over all docs is an oracle
    tool, not a 100 TB plan."""
    # \p{L}\p{N} mirrors Python str.isalnum for the synthetic corpora
    return f"""
        WITH RECURSIVE tk AS (
            SELECT {id_col} AS doc_id,
                   list_filter(
                       regexp_split_to_array(trim({text_col}), '\\s+'),
                       t -> regexp_full_match(t, '[\\p{{L}}\\p{{N}}]+')
                   ) AS toks
            FROM {table}
        ),
        seqs AS (
            SELECT doc_id, 'f' AS dir, toks AS seq FROM tk
            UNION ALL
            SELECT doc_id, 'b', list_reverse(toks) FROM tk
        ),
        scan(doc_id, dir, seq, i, types, seg, factors) AS (
            SELECT doc_id, dir, seq, 0,
                   CAST([] AS VARCHAR[]), 0, 0.0
            FROM seqs
            UNION ALL
            SELECT doc_id, dir, seq, i + 1,
                   CASE WHEN ttr <= 0.72
                        THEN CAST([] AS VARCHAR[]) ELSE types2 END,
                   CASE WHEN ttr <= 0.72 THEN 0 ELSE seg + 1 END,
                   CASE WHEN ttr <= 0.72
                        THEN factors + 1 ELSE factors END
            FROM (
                SELECT doc_id, dir, seq, i, factors, seg, types2,
                       len(types2)::DOUBLE / (seg + 1) AS ttr
                FROM (
                    SELECT *,
                           CASE WHEN list_contains(types, seq[i + 1])
                                THEN types
                                ELSE list_append(types, seq[i + 1])
                           END AS types2
                    FROM scan WHERE i < len(seq)
                )
            )
        ),
        fin AS (
            SELECT doc_id, dir, seq,
                   CASE
                     WHEN seg > 0
                          AND len(types)::DOUBLE / seg <= 0.72
                         THEN factors + 1
                     WHEN seg > 0
                         THEN factors
                              + (1 - (len(types)::DOUBLE / seg - 0.72)
                                     / (1 - 0.72))
                     ELSE factors
                   END AS f2
            FROM scan WHERE i = len(seq)
        ),
        vals AS (
            SELECT doc_id, dir,
                   CASE
                     WHEN len(seq) = 0 THEN 0.0
                     WHEN f2 > 0 THEN len(seq)::DOUBLE / f2
                     ELSE len(seq)::DOUBLE
                   END AS val
            FROM fin
        ),
        res AS (
            SELECT doc_id,
                   (max(CASE WHEN dir = 'f' THEN val END)
                    + max(CASE WHEN dir = 'b' THEN val END)) / 2 AS m
            FROM vals GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(round(1000000 * m) AS BIGINT) AS mtld_micro
        FROM res ORDER BY doc_id
    """
