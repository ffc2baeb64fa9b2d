"""Document deduplication at scale.

Five strategies, cheapest-first:

- exact:        one hash-aggregate shuffle (md5 of text)
- fingerprint:  prefix/rolling-hash fingerprint grouping
- n-gram Jaccard: shingle explode -> self-join on shingle -> pairwise
  Jaccard (pure relational, SQL-oracle-checkable)
- MinHash+LSH:  vectorized numpy signatures -> band buckets -> bucket
  join -> verified Jaccard -> CC grouping (the 100 TB path: candidate
  generation is linear in corpus size, never quadratic)
- SimHash:      64-bit signature, banded for Hamming-distance blocking
- embedding cosine: random-hyperplane LSH buckets -> in-bucket cosine

All outputs share the contract: a ``dup_groups`` frame
(group_key, doc_id, keep) or a ``pairs`` frame (a, b, score).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from graphgen_spark.operators.components import connected_components_long
from graphgen_spark.session import widen_narrow

# Persisted intermediates (shingle postings, signature tables, LSH
# buckets) are registered here so long-lived sessions can release the
# cached blocks once the consuming action has run — repeated dedup
# calls must not accumulate disk blocks until session end.
_CACHE_HANDLES: list[DataFrame] = []


def _persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    h = df.persist(level)
    _CACHE_HANDLES.append(h)
    return h


def release_dedup_caches(blocking: bool = False) -> int:
    """Unpersist every intermediate cached by dedup calls so far.
    Call after the final action that consumes a dedup result (the
    returned frames are lazy, so the caller owns the action)."""
    n = len(_CACHE_HANDLES)
    for h in _CACHE_HANDLES:
        try:
            h.unpersist(blocking=blocking)
        except Exception:
            pass
    _CACHE_HANDLES.clear()
    return n


# ------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(text_hash, doc_id, keep): keep=True for the min-id copy."""
    w = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), id_col)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("keep", F.col("rn") == 1)
        .drop("rn")
    )


# ------------------------------------------------------ n-gram Jaccard


def _doc_grams(text, n: int) -> list[str]:
    """One doc's DISTINCT non-empty word n-grams, first-occurrence
    order: ``str.split()`` tokens, a gram per start position, a doc
    shorter than ``n`` tokens as one gram of all its tokens, a
    token-less doc as no gram.  The one gram builder behind the MinHash
    hop (``_sig_sets``) and the shingle kernel (``_gram_sets_df``).

    ``str.split()`` agrees with the SQL ``split(trim(text), '\\s+')``
    on ASCII-whitespace corpora, the documented assumption behind every
    minhash/ngram oracle."""
    toks = str(text or "").split()
    if not toks:
        return []
    return list(dict.fromkeys(
        " ".join(toks[i: i + n]) for i in range(max(len(toks) - n, 0) + 1)
    ))


def _gram_sets_df(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, hs array<string>): each doc's ``_doc_grams`` set.

    r7: the SQL formulation (split + sequence + per-index slice +
    concat_ws + array_distinct) costs ~50 ms/doc of interpreted
    higher-order-function evaluation on 600-token docs — it was the
    dominant cold cost of BOTH shingle consumers (ngram postings 29 s,
    minhash verification doc-set build 46 s at 50k docs).  The same
    gram construction in plain Python is ~100x faster.  A differential
    test pins this kernel to the SQL formulation per doc."""
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("hs", T.ArrayType(T.StringType()), False),
    ])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": [int(d) for d in pdf[id_col]],
                "hs": [_doc_grams(t, n) for t in pdf[text_col]],
            })

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=out_schema
    )


def shingles(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, exploded to postings —
    gram construction in the vectorized Python kernel (see
    ``_gram_sets_df``), explode in the JVM."""
    return _gram_sets_df(docs, text_col, id_col, n).select(
        "doc_id", F.explode("hs").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, threshold: float = 0.8, df_cap: int | None = None,
) -> DataFrame:
    """(a, b, jaccard) for doc pairs with Jaccard >= threshold over
    word n-grams.  Shingle self-join: candidate generation touches only
    docs that SHARE a shingle (linear in shingle postings, not |D|²);
    AQE skew-join splits hot shingles.

    ``df_cap``: drop shingles whose document frequency exceeds the cap
    BEFORE the self-join (standard stop-shingle filter).  Without it a
    boilerplate phrase shared by 10^6 docs generates ~10^12 candidate
    pairs no matter how AQE splits the partition — the cap bounds the
    per-shingle pair contribution at df_cap², and Jaccard is computed
    over the filtered shingle sets on both sides of the ratio (exactly
    what the DuckDB oracle mirrors).  Recall loss on genuinely similar
    pairs is what MinHash banding (minhash_pairs) covers."""
    # the postings table feeds three plan branches (sizes + both join
    # sides) — materialize it once instead of re-running the explode
    # per branch (at scale this is the landed shingle-postings table)
    sh = _persist(shingles(docs, text_col, id_col, n))
    if df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        # hot is tiny by construction (heavy tail above the cap) —
        # AQE turns this anti-join into a broadcast at runtime.  No
        # eager count here: logging the hot-set size would cost a full
        # extra pass over the persisted postings table on the scale
        # path; the anti-join consumes the set lazily.
        sh = _persist(sh.join(hot, "shingle", "left_anti"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sza = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sza, "a").join(szb, "b")
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------- MinHash/LSH

_MERSENNE = (1 << 61) - 1
_COEF_MAX = 1 << 31  # keep h(32b) * a(31b) + b(31b) inside int64


def _minhash_params(num_perm: int, seed: int = 42):
    """Permutation coefficients, drawn small enough that the whole
    sig computation (h*a + b) mod p stays in EXACT signed-64 range:
    h < 2^32 (md5 prefix), a,b < 2^31, so h*a + b < 2^63.  No wrapping
    arithmetic anywhere — the same recurrence evaluated in any engine
    (numpy int64, DuckDB BIGINT) yields identical signatures, which is
    what makes the minhash pair table SQL-oracle-checkable."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _COEF_MAX, size=num_perm, dtype=np.int64)
    b = rng.randint(0, _COEF_MAX, size=num_perm, dtype=np.int64)
    return a, b


def _sig_sets(
    docs: DataFrame, text_col: str, id_col: str, n: int, num_perm: int,
    seed: int,
) -> DataFrame:
    """(doc_id, sig array<long>, hs array<string>): the one Python hop
    of the MinHash path.  Per doc it builds the ``_doc_grams`` set once
    and emits both its MinHash signature (banded into candidates) and
    the set itself (scored by ``minhash_verified_pairs``), so no doc is
    tokenized twice.  A token-less doc has ``hs = []`` but signs the
    one empty gram, as the oracle's ``greatest(len(toks) - n + 1, 1)``
    range does.

    A narrow input (a small parquet corpus arrives as ONE split) would
    run the whole hop in one task: ``widen_narrow`` spreads it over the
    session's cores by doc-id hash, the rule ``run_kg_pipeline``
    applies to pages."""
    a_coef, b_coef = _minhash_params(num_perm, seed)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("sig", T.ArrayType(T.LongType()), False),
            T.StructField("hs", T.ArrayType(T.StringType()), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            sets = [_doc_grams(text, n) for text in pdf[text_col]]
            signed = [hs or [""] for hs in sets]
            # 32-bit md5 prefix: engine-portable (DuckDB:
            # ('0x'||substr(md5(g),1,8))::BIGINT), unlike crc32.
            # Dedup-corpus batches share most grams across docs, so
            # hash each DISTINCT gram once per batch (factorize), not
            # per occurrence — same trick as the SimHash kernel.
            flat = [g for gl in signed for g in gl]
            rows = []
            if flat:
                inv, uniq = pd.factorize(np.array(flat, dtype=object))
                uniq_h = np.fromiter(
                    (
                        int.from_bytes(md5(g.encode()).digest()[:4],
                                       "big")
                        for g in uniq
                    ),
                    dtype=np.int64, count=len(uniq),
                )
                hv_all = uniq_h[inv]
                off = 0
                for did, gl, hs in zip(pdf[id_col], signed, sets):
                    hv = hv_all[off : off + len(gl)]
                    off += len(gl)
                    # sig_j = min_i (a_j*h_i + b_j) mod p — exact int64
                    sig = (
                        (hv[:, None] * a_coef[None, :]
                         + b_coef[None, :]) % _MERSENNE
                    ).min(axis=0)
                    rows.append((int(did), sig.tolist(), hs))
            yield pd.DataFrame(rows, columns=["doc_id", "sig", "hs"])

    src = widen_narrow(docs.select(id_col, text_col), F.xxhash64(id_col))
    return src.mapInPandas(gen, schema=out_schema)


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, num_perm: int = 64, seed: int = 42,
) -> DataFrame:
    """(doc_id, sig array<long>): vectorized numpy MinHash over word
    n-gram shingles (Arrow-batched; one pass per batch)."""
    return _sig_sets(docs, text_col, id_col, n, num_perm, seed).select(
        "doc_id", "sig"
    )


# The config runner's default hot-bucket cap (``bucket_cap: auto``).
# Measured on the synthetic web corpus (BENCH_SCALING.jsonl, BASELINE.md
# r5): at 160k pages / bands=4 one (band,bucket) group held 1 423 docs
# and cost 1 147 s uncapped vs 117 s at cap=100, while every genuine
# near-dup cluster stayed far below 100 members.  A cap ~100 keeps the
# per-bucket candidate term <= C(100,2) regardless of corpus size; what
# it drops is exact-duplicate mass (exact_dedup's job) or degenerate
# boilerplate.  Library functions keep ``bucket_cap=None`` defaults so
# explicit callers and the oracle-checked queries are unchanged.
AUTO_BUCKET_CAP = 100


def _lsh_candidates(
    sigs: DataFrame, num_perm: int, bands: int, bucket_cap: int | None,
) -> DataFrame:
    """Band buckets over a (doc_id, sig) frame -> (optional hot-bucket
    cap) -> distinct candidate (a, b) pairs.  The caller persists
    ``sigs``: the cap's hot-bucket aggregate and its anti-join each read
    it, and a re-read would re-run the Python hop."""
    rows_per_band = num_perm // bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    "sig", bidx * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    if bucket_cap is not None:
        # the hot set is tiny by construction (heavy tail above the
        # cap) — AQE broadcasts the anti-join; consumed lazily, no
        # eager count (same shape as the ngram df_cap filter)
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("m"))
            .where(F.col("m") > bucket_cap)
            .select("band", "bucket")
        )
        banded = banded.join(hot, ["band", "bucket"], "left_anti")

    # both sides of the self-join scan the banded table — without
    # this persist each side re-ran the 16-band slice/hash transform
    # over the cached signatures (r7)
    banded = _persist(banded)
    left = banded.select(
        F.col("doc_id").alias("a"), "band", "bucket"
    )
    right = banded.select(
        F.col("doc_id").alias("b"), "band", "bucket"
    )
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, num_perm: int = 64, bands: int = 16, seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """The candidate-generation half of ``minhash_verified_pairs``:
    signatures -> band buckets -> (optional hot-bucket cap) -> distinct
    candidate (a, b) pairs.  Exposed so the candidate VOLUME — the
    quantity every cap/banding policy actually controls, and the term
    the verification join multiplies by each doc's shingle list — is
    measurable on its own (tools/dfcap_run.py ``candonly`` mode);
    ``minhash_verified_pairs`` bands through the same ``_lsh_candidates``
    so the capped/uncapped plan shape stays one code path."""
    sigs = _persist(minhash_signatures(
        docs, text_col, id_col, n, num_perm, seed
    ))
    return _lsh_candidates(sigs, num_perm, bands, bucket_cap)


def minhash_verified_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, num_perm: int = 64, bands: int = 16,
    threshold: float = 0.8, seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Signatures -> band buckets -> candidate pairs -> exact
    shingle-Jaccard verification.  Returns (a, b, jaccard_micro) with
    jaccard_micro = (1e6 * |A∩B|) DIV |A∪B| and the threshold applied
    as an exact integer cross-multiplication — the whole stage is
    engine-portable and hash-matches a DuckDB oracle (the grouping
    that follows in minhash_lsh_dedup is the only non-SQL part).

    Scale shape: the only joins are (bucket self-join) and (pair
    verification vs each doc's gram-set array, one row per doc); both
    are hash joins on bounded keys — candidate generation is linear in
    corpus size PROVIDED no band bucket degenerates.

    ``bucket_cap``: drop (band, bucket) groups holding more than this
    many docs before the self-join — the LSH twin of the ngram
    ``df_cap``.  A bucket of m docs contributes C(m,2) candidates and
    each candidate then multiplies by its docs' full shingle lists in
    the verification join, so one hot bucket is an n² term twice over.
    Hot buckets on web corpora come from degenerate docs (near-empty
    shingle sets, boilerplate clusters): measured on the 160k-page
    synthetic corpus, one bucket held 1 423 docs and pushed the
    uncapped wall to ~19 min (BENCH_SCALING.jsonl dfcap lines).  What
    a cap drops is either an exact-duplicate cluster (exact_dedup's
    job, one hash shuffle) or degenerate — the same recall argument as
    df_cap.

    Cache: the hop output (every doc's signature AND gram set, on
    local disk) and the banded table stay persisted until
    ``release_dedup_caches``.  The gram sets are ~3.5x the corpus
    parquet (160k synthetic pages: 389 MB of hop output for a 111 MB
    corpus; 640k: 1.57 GB)."""
    # one Python hop per doc: its signatures feed the bands, its gram
    # sets the scoring joins below — both read the persisted output.
    # DISK_ONLY: a cached partition holds a whole input split's gram
    # sets, and re-reading spilled MEMORY_AND_DISK blocks of that size
    # ran a 4 GB driver out of heap at 640k pages (4 cores), where the
    # member-pruned design this replaced passed (191 s); on disk the
    # same run passed in 150 s with 40 MB of memory cache, and a warm
    # 2k-doc call costs the same as in memory.
    hop = _persist(
        _sig_sets(docs, text_col, id_col, n, num_perm, seed),
        StorageLevel.DISK_ONLY,
    )
    candidates = _lsh_candidates(
        hop.select("doc_id", "sig"), num_perm, bands, bucket_cap
    )

    # verify candidates with exact n-gram Jaccard: each side joins its
    # doc's gram-set array from the persisted hop, scored with
    # array_intersect.  AQE broadcasts the small candidate table into
    # the first join, so only the second shuffles the hop's gram sets.
    # No semi-join prunes the doc side to candidate members first:
    # unpersisted, the member list re-runs the candidate DAG (2k docs:
    # 36 jobs instead of 14, ~0.7 s more per call); with `candidates`
    # persisted, the pruned scoring still took 76-90 s at 160k pages
    # against 46 s unpruned (hop cached in memory in both runs).  Sizes
    # are longs: the cross-multiplications below overflow int past
    # 2 147 shared grams.
    def side(s: str) -> DataFrame:
        return hop.select(
            F.col("doc_id").alias(s), F.col("hs").alias(f"hs_{s}"),
            F.size("hs").cast("long").alias(f"sz_{s}"),
        )

    thr_micro = int(round(threshold * 1_000_000))
    return (
        candidates.join(side("a"), "a").join(side("b"), "b")
        # exact Jaccard length bound: |A∩B| <= min and |A∪B| >= max,
        # so J <= min/max — drops only pairs the threshold would
        .where(
            F.least("sz_a", "sz_b") * 1_000_000
            >= thr_micro * F.greatest("sz_a", "sz_b")
        )
        .withColumn(
            "common", F.size(F.array_intersect("hs_a", "hs_b")).cast("long")
        )
        # the oracle scores only pairs sharing a shingle (its com join)
        .where(F.col("common") > 0)
        .withColumn(
            "uni", F.col("sz_a") + F.col("sz_b") - F.col("common")
        )
        # integer cross-multiplied threshold: no float ever compared
        .where(F.col("common") * 1_000_000 >= thr_micro * F.col("uni"))
        .select(
            "a", "b",
            F.expr("(1000000 * common) div uni")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


def _minhash_chain_sql(
    table: str, text_col: str, id_col: str, n: int, num_perm: int,
    bands: int, seed: int,
) -> str:
    """The shared DuckDB CTE chain (no WITH keyword) reproducing
    minhash_verified_pairs up to ``scored``: gram sets, md5-prefix
    hashes, the (h*a+b) mod p signature recurrence (coefficients
    inlined as VALUES — deterministic from the seed), band buckets,
    candidate join, exact integer Jaccard terms."""
    a_coef, b_coef = _minhash_params(num_perm, seed)
    rows_per_band = num_perm // bands
    perm_rows = ", ".join(
        f"({j}, {int(a_coef[j])}, {int(b_coef[j])})"
        for j in range(num_perm)
    )
    return rf"""perms(j, pa, pb) AS (VALUES {perm_rows}),
        t AS (
            SELECT {id_col} AS doc_id,
                   regexp_split_to_array(trim({text_col}), '\s+')
                       AS toks
            FROM {table}
        ),
        idx AS (
            SELECT doc_id, toks,
                   unnest(generate_series(
                       1, greatest(len(toks) - {n} + 1, 1))) AS i
            FROM t
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(toks[i:i + {n} - 1], ' ') AS gram
            FROM idx
        ),
        hv AS (
            SELECT doc_id,
                   ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h
            FROM grams
        ),
        sig AS (
            SELECT doc_id, j,
                   min((h * pa + pb) % {_MERSENNE}) AS sv
            FROM hv CROSS JOIN perms
            GROUP BY doc_id, j
        ),
        bandkey AS (
            SELECT doc_id, j // {rows_per_band} AS band,
                   string_agg(sv::VARCHAR, ',' ORDER BY j) AS bucket
            FROM sig GROUP BY doc_id, band
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bandkey x
            JOIN bandkey y ON x.band = y.band
                AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        ),
        sh AS (
            SELECT doc_id, gram FROM grams WHERE len(gram) > 0
        ),
        sz AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ),
        com AS (
            SELECT c.a, c.b, count(*) AS common
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.a
            JOIN sh sb ON sb.doc_id = c.b AND sb.gram = sa.gram
            GROUP BY c.a, c.b
        ),
        scored AS (
            SELECT com.a, com.b, com.common,
                   za.sz + zb.sz - com.common AS uni
            FROM com
            JOIN sz za ON za.doc_id = com.a
            JOIN sz zb ON zb.doc_id = com.b
        )"""


def minhash_pairs_oracle_sql(
    table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id", n: int = 3, num_perm: int = 64,
    bands: int = 16, threshold: float = 0.8, seed: int = 42,
) -> str:
    """DuckDB SQL reproducing minhash_verified_pairs end to end.
    Assumes ASCII-whitespace text (Python str.split vs regex \\s+
    agree), which holds for the synthetic corpora."""
    thr_micro = int(round(threshold * 1_000_000))
    chain = _minhash_chain_sql(
        table, text_col, id_col, n, num_perm, bands, seed
    )
    return f"""
        WITH {chain}
        SELECT a, b,
               CAST((1000000 * common) // uni AS BIGINT)
                   AS jaccard_micro
        FROM scored
        WHERE 1000000 * common >= {thr_micro} * uni
        ORDER BY a, b
    """


def minhash_groups_oracle_sql(
    table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id", n: int = 3, num_perm: int = 64,
    bands: int = 16, threshold: float = 0.8, seed: int = 42,
) -> str:
    """DuckDB SQL reproducing minhash_lsh_dedup END TO END, including
    the connected-components grouping (the stage previously documented
    as 'not SQL-expressible'): a recursive min-label transitive
    closure over the verified pair graph.  State space is bounded by
    (component size)² per component, fine at oracle scale — the
    distributed large/small-star fixpoint remains the engine path."""
    thr_micro = int(round(threshold * 1_000_000))
    chain = _minhash_chain_sql(
        table, text_col, id_col, n, num_perm, bands, seed
    )
    return f"""
        WITH RECURSIVE {chain},
        pairs AS (
            SELECT a, b FROM scored
            WHERE 1000000 * common >= {thr_micro} * uni
        ),
        und AS (
            SELECT a AS x, b AS y FROM pairs
            UNION ALL
            SELECT b, a FROM pairs
        ),
        comp(node, root) AS (
            SELECT doc_id, doc_id FROM t
            UNION
            SELECT u.y, c.root
            FROM comp c JOIN und u ON u.x = c.node
        )
        SELECT node AS doc_id,
               CAST(min(root) AS BIGINT) AS group_id,
               (node = min(root)) AS keep
        FROM comp
        GROUP BY node
        ORDER BY doc_id
    """


def minhash_lsh_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, num_perm: int = 64, bands: int = 16,
    threshold: float = 0.8, seed: int = 42,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: minhash_verified_pairs -> CC grouping.

    ``bucket_cap`` passes through to the pair stage (drop hot LSH
    buckets — the measured 160k-page hot-bucket blowup, BASELINE.md
    round 5); default ``None`` keeps the oracle-checked behavior.

    Returns (doc_id, group_id, keep)."""
    # persisted (r7): the CC gate's count and collect (or the
    # fixpoint's reads, past the gate) each read one cached droplet
    # instead of re-running the candidates x gram-set scoring joins per
    # action, and repeated dedup calls in one session reuse it via the
    # plan cache, exactly like the signature/bucket intermediates above
    verified = _persist(minhash_verified_pairs(
        docs, text_col, id_col, n, num_perm, bands, threshold, seed,
        bucket_cap=bucket_cap,
    ))

    # group verified pairs into components over the long doc ids:
    # component = min member doc_id, the group representative
    groups = connected_components_long(
        verified.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        assume_materialized=True,
    ).select(
        F.col("id").alias("doc_id"), F.col("component").alias("group_id")
    )
    all_docs = docs.select(F.col(id_col).alias("doc_id"))
    return (
        all_docs.join(groups, "doc_id", "left")
        .withColumn("group_id", F.coalesce("group_id", F.col("doc_id")))
        .withColumn("keep", F.col("doc_id") == F.col("group_id"))
    )


# ------------------------------------------------------------ SimHash


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash over whitespace tokens.

    Vectorized kernel, bit-identical to the per-token/per-bit loop
    (parity-tested):

    - tokens deduplicated per Arrow batch via ``pd.factorize`` —
      the token hash runs once per DISTINCT token, not per occurrence
      (md5 8-byte prefix, big-endian — engine-portable: DuckDB
      reproduces it as ('0x'||substr(md5(tok),1,16))::UBIGINT, which
      is what makes simhash_dup_pairs SQL-oracle-checkable)
    - one ``np.unpackbits`` turns all occurrence hashes into an
      (n_occurrences, 64) uint8 bit matrix (column i == (h >> i) & 1)
    - per doc, the vote is a single segment sum of ones; bit i of the
      signature is set iff 2*ones_i > n_tokens (== sum(2b-1) > 0),
      packed back with ``np.packbits``

    36x over the per-token formulation on 600-token docs with a
    realistic repeated-token mix; ~3x when every token is distinct
    (then blake2b dominates)."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def h64(tok: str) -> int:
            return int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "big"
            )

        for pdf in batches:
            tok_lists = [str(t or "").split() for t in pdf[text_col]]
            flat = [t for toks in tok_lists for t in toks]
            if flat:
                inv, uniq = pd.factorize(np.array(flat, dtype=object))
                uniq_h = np.fromiter(
                    (h64(t) for t in uniq),
                    dtype=np.uint64, count=len(uniq),
                )
                bits = np.unpackbits(
                    np.ascontiguousarray(uniq_h[inv])
                    .view(np.uint8).reshape(-1, 8),
                    axis=1, bitorder="little",
                )
            rows = []
            off = 0
            for did, toks in zip(pdf[id_col], tok_lists):
                n = len(toks)
                if n:
                    ones = bits[off : off + n].sum(
                        axis=0, dtype=np.int64
                    )
                    off += n
                    sig = int(
                        np.packbits(
                            (2 * ones > n).astype(np.uint8),
                            bitorder="little",
                        ).view(np.uint64)[0]
                    )
                else:
                    sig = 0
                if sig >= 1 << 63:  # store as signed int64
                    sig -= 1 << 64
                rows.append((int(did), sig))
            yield pd.DataFrame(rows, columns=["doc_id", "simhash"])

    return docs.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def simhash_dup_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
) -> DataFrame:
    """(a, b, hamming): banded SimHash blocking (pigeonhole: any pair
    within Hamming distance < bands shares at least one exact band),
    then exact Hamming verification.

    A band self-join would materialize every in-bucket candidate pair
    as a join output row before the Hamming filter — 19M rows / ~5 s
    at 50k docs, because real corpora concentrate band values
    (majority votes correlate across docs) into hot buckets whose
    C(m,2) terms dominate, and the filter keeps ~nothing.  Instead the
    banded table is hash-repartitioned and sorted by (band, key) and
    a ``mapInPandas`` kernel scores the in-bucket pairs with a
    vectorized XOR + popcount-LUT sweep, emitting ONLY pairs with
    hamming <= max_hamming.  Output equals the join formulation's
    (``test_kernel_matches_join_formulation``).

    Memory is bounded by construction:

    - the repartition carries no partition count, so AQE sizes and
      coalesces the shuffle; hash partitioning keeps each bucket in
      one partition under coalescing;
    - the kernel streams its sorted partition: each Arrow batch scores
      its complete buckets and carries only the open last bucket into
      the next batch (scored once the batches run out);
    - the upper-triangle pairs of a batch's buckets are scored
      512 x 512 at a time, many small buckets in one numpy pass (a
      pass holds at least one row's partners, so only a bucket of
      more than 512 x 512 members makes a pass larger).

    Per-task memory is one batch, plus the largest bucket, plus one
    512 x 512 block of pairs."""
    sigs = simhash_signatures(docs, text_col, id_col)
    width = 64 // bands
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for i in range(bands)
    ]
    banded = sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    arranged = banded.repartition("band", "key").sortWithinPartitions(
        "band", "key"
    )

    out_schema = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("hamming", T.IntegerType(), False),
    ])
    max_h = int(max_hamming)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lut = np.array(
            [bin(i).count("1") for i in range(256)], dtype=np.uint8
        )
        blk = 512

        def score(pdf, bounds):
            # every pair of rows r < r2 in one bucket
            # [bounds[k], bounds[k+1]): row r has cnt[r] partners
            # after it; a pass takes rows while their partners total
            # at most blk * blk (and at least one row)
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            sig = pdf["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
            n = bounds[-1]
            cnt = np.repeat(bounds[1:], np.diff(bounds)) - np.arange(n) - 1
            cum = np.cumsum(cnt)
            out_a, out_b, out_h = [], [], []
            r0 = 0
            while r0 < n:
                done = cum[r0 - 1] if r0 else 0
                r1 = max(r0 + 1, int(np.searchsorted(
                    cum, done + blk * blk, side="right"
                )))
                c = cnt[r0:r1]
                ii = np.repeat(np.arange(r0, r1), c)
                jj = ii + 1 + np.arange(len(ii)) - np.repeat(
                    np.cumsum(c) - c, c
                )
                h = lut[
                    (sig[ii] ^ sig[jj]).view(np.uint8).reshape(-1, 8)
                ].sum(axis=1, dtype=np.int64)
                keep = (h <= max_h) & (ids[ii] != ids[jj])
                a, b = ids[ii[keep]], ids[jj[keep]]
                out_a.append(np.minimum(a, b))
                out_b.append(np.maximum(a, b))
                out_h.append(h[keep].astype(np.int32))
                r0 = r1
            if out_a:
                yield pd.DataFrame({
                    "a": np.concatenate(out_a),
                    "b": np.concatenate(out_b),
                    "hamming": np.concatenate(out_h),
                })

        # rows arrive sorted by (band, key); a batch's last bucket may
        # continue in the next batch, so it is carried, not scored
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            band = pdf["band"].to_numpy()
            key = pdf["key"].to_numpy()
            bounds = np.concatenate((
                [0],
                np.flatnonzero(
                    (band[1:] != band[:-1]) | (key[1:] != key[:-1])
                ) + 1,
                [len(pdf)],
            ))
            carry = pdf.iloc[bounds[-2]:]
            yield from score(pdf, bounds[:-1])
        if carry is not None:
            yield from score(carry, np.array([0, len(carry)]))

    pairs = arranged.mapInPandas(gen, schema=out_schema)
    # a pair can collide in several bands — dedupe the (tiny) survivor
    # set; hamming is a pure function of (a, b) so the triple is
    # distinct exactly when the pair is
    return pairs.distinct()


def simhash_pairs_oracle_sql(
    table: str = "documents", text_col: str = "text",
    id_col: str = "doc_id", max_hamming: int = 3, bands: int = 4,
) -> str:
    """DuckDB SQL reproducing simhash_dup_pairs end to end: md5-prefix
    token hashes, per-bit majority votes (2*ones > n), banded blocking,
    exact bit_count(xor) Hamming verification.  Signature arithmetic
    runs in UBIGINT and is converted to signed int64 at the end to
    match the Spark LongType column."""
    width = 64 // bands
    return rf"""
        WITH t AS (
            SELECT {id_col} AS doc_id,
                   regexp_split_to_array(trim({text_col}), '\s+')
                       AS toks
            FROM {table}
        ),
        tok AS (
            SELECT doc_id, unnest(toks) AS tok FROM t
        ),
        occ AS (
            -- str.split() never yields '' tokens; regexp_split does
            -- for blank text — drop them to mirror the kernel
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
            FROM tok WHERE tok <> ''
        ),
        n_tok AS (
            SELECT doc_id, count(*) AS n FROM occ GROUP BY doc_id
        ),
        votes AS (
            SELECT o.doc_id, b.b,
                   sum(CASE WHEN (o.h >> b.b) & 1 = 1
                            THEN 1 ELSE 0 END) AS ones
            FROM occ o
            CROSS JOIN (
                SELECT unnest(generate_series(0, 63)) AS b
            ) b
            GROUP BY o.doc_id, b.b
        ),
        sigs AS (
            SELECT v.doc_id,
                   sum(CASE WHEN 2 * v.ones > n.n
                            THEN (1::UBIGINT << v.b)
                            ELSE 0::UBIGINT END) AS sig_u
            FROM votes v JOIN n_tok n ON v.doc_id = n.doc_id
            GROUP BY v.doc_id
        ),
        banded AS (
            SELECT doc_id, sig_u, b.band,
                   (sig_u >> (b.band * {width}))
                       & {(1 << width) - 1} AS key
            FROM sigs
            CROSS JOIN (
                SELECT unnest(generate_series(0, {bands - 1})) AS band
            ) b
        ),
        pairs AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                   bit_count(xor(x.sig_u, y.sig_u)) AS hamming
            FROM banded x
            JOIN banded y ON x.band = y.band AND x.key = y.key
                AND x.doc_id < y.doc_id
        )
        SELECT a, b, CAST(hamming AS INT) AS hamming
        FROM pairs WHERE hamming <= {max_hamming}
        ORDER BY a, b
    """


def embedding_neardup_oracle_sql(
    table: str = "embeddings", vec_col: str = "embedding",
    id_col: str = "vec_id", threshold: float = 0.95,
    n_planes: int = 10, n_tables: int = 3, seed: int = 42,
    dim: int = 64, plant_neardups: bool = False,
) -> str:
    """DuckDB SQL reproducing embedding_neardup_pairs: the literal
    plane matrices (deterministic from the seed) are inlined, buckets
    re-derived as sign-bit sums, candidates joined per table, cosine
    verified and emitted at the same x10k integer rounding the topk
    oracle uses.  Requires the caller to compare against a Spark run
    over DOUBLE-cast embeddings (float32 kernels differ per engine)."""
    from graphgen_spark.datapipe.similarity import _planes

    def bucket_expr(planes) -> str:
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(float(x)) for x in p)
            terms.append(
                f"(CASE WHEN list_inner_product(emb, [{lits}]) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    tbls = []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed + 1000 * t)
        tbls.append(
            f"SELECT {id_col} AS id, emb, {t} AS tbl, "
            f"{bucket_expr(planes)} AS bucket FROM dbl"
        )
    union = " UNION ALL ".join(tbls)
    return f"""
        WITH raw AS (
            SELECT {id_col},
                   list_transform({vec_col},
                                  x -> CAST(x AS DOUBLE)) AS emb
            FROM {table}
        ),
        dbl AS (
            SELECT {id_col}, emb FROM raw
            {f'''UNION ALL
            -- planted near-dups, mirroring the Spark-side derived
            -- frame: every 10th vector, first coordinate +0.05
            SELECT {id_col} + 100000 AS {id_col},
                   list_prepend(emb[1] + 0.05, emb[2:{dim}]) AS emb
            FROM raw WHERE {id_col} % 10 = 0''' if plant_neardups
            else ''}
        ),
        allb AS ({union}),
        cand AS (
            SELECT DISTINCT x.id AS a, y.id AS b
            FROM allb x
            JOIN allb y ON x.tbl = y.tbl AND x.bucket = y.bucket
                AND x.id < y.id
        ),
        scored AS (
            SELECT c.a, c.b,
                   list_cosine_similarity(da.emb, db.emb) AS cos_raw
            FROM cand c
            JOIN dbl da ON da.{id_col} = c.a
            JOIN dbl db ON db.{id_col} = c.b
        )
        SELECT a, b,
               CAST(round(cos_raw * 10000) AS BIGINT) AS cosine_x10k
        FROM scored WHERE cos_raw >= {threshold}
        ORDER BY a, b
    """


# --------------------------------------------------- embedding near-dup


def embedding_neardup_pairs(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95, n_planes: int = 10, n_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(a, b, cosine): multi-table random-hyperplane LSH (candidate if
    the pair collides in ANY of ``n_tables`` independent plane sets —
    OR-amplification recovers the recall a single table loses when one
    plane happens to split a near-identical pair), then exact cosine
    verification via native array expressions (zip_with/aggregate).

    r7 shape: the bucket self-join and the pair dedup operate on IDS
    ONLY (guide §2.3 "shuffle keys and metadata instead of payloads" /
    §8) — the old plan carried both 64-dim vectors through the join
    AND through a dropDuplicates that planned as two SortAggregates
    with first(array) exchanges.  Vectors are re-attached to the
    deduped pairs with two broadcast joins against the (small)
    id -> vector side, with each vector's norm computed once; the
    cosine arithmetic (dot / (na * nb)) is unchanged, so the output is
    bit-identical."""
    from graphgen_spark.datapipe.similarity import (
        _dot_sql,
        _norm_sql,
        _planes,
        hyperplane_buckets_kernel,
    )

    base = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    # r7b: all n_tables bucket signatures in ONE Arrow strict-fold
    # kernel pass (bit-identical to the per-table _bucket_sql
    # expressions — see the kernel block in similarity.py; the
    # interpreted folds cost ~2.8 s alone at the 22k-vector bench
    # scale).  posexplode's position IS the old lit(t) table id, and
    # the kernel replicates the expression's NULL/ragged-row semantics
    # exactly (bucket 0, never NULL — see the kernel block).
    bucket_udf = hyperplane_buckets_kernel(
        [_planes(64, n_planes, seed + 1000 * t) for t in range(n_tables)],
        64,
    )
    bucketed = base.select(
        "id", bucket_udf(F.col("v")).alias("bs")
    ).select(
        "id",
        F.posexplode(F.col("bs")).alias("tbl", "bucket"),
    ).select("id", "tbl", "bucket")
    # the kernel's input is NOT widened like the MinHash hop's: the
    # vector shuffle costs more than it saves (2k 64-d vectors, 4
    # cores, Python workers from the repo daemon: a warm call's median
    # went from 0.71 s to 0.90 s widened, slower in 5 of 6 blocks)
    bucketed = _persist(bucketed)  # both sides of the bucket self-join
    left = bucketed.select(F.col("id").alias("a"), "tbl", "bucket")
    right = bucketed.select(F.col("id").alias("b"), "tbl", "bucket")
    candidates = (
        left.join(right, ["tbl", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # no broadcast hint: the planner broadcasts the vector side while
    # it fits the threshold (it does at bench scale) and falls back to
    # a shuffled join keyed on id at corpus scale — either way the
    # vectors cross at most one exchange, never the pair-dedup one
    vecs = base.selectExpr("id", "v", f"{_norm_sql('v')} AS n")
    return (
        candidates
        .join(
            vecs.selectExpr("id AS a", "v AS va", "n AS na"), "a"
        )
        .join(
            vecs.selectExpr("id AS b", "v AS vb", "n AS nb"), "b"
        )
        .selectExpr(
            "a", "b",
            f"{_dot_sql('va', 'vb')} / (na * nb) AS cosine",
        )
        .where(F.col("cosine") >= threshold)
    )
