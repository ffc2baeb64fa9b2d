"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of every query against the
  corpus — broadcast the (small) query set, native ``zip_with`` +
  ``aggregate`` dot products (JVM-side, no Python), window top-k.
- ``lsh_topk``: the scale path — random-hyperplane signatures bucket
  both sides; only same-bucket candidates are scored.  Probing several
  buckets (multi-probe via reduced plane count) trades recall/cost.
- ``ivf_topk``: IVF-style — k seeded centroids (deterministic), every
  vector assigned to its nearest centroid, queries probe ``nprobe``
  nearest centroid cells only.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _planes(dim: int, n_planes: int, seed: int) -> list:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


# The one JVM definition of the dot product, the norm and the
# hyperplane bucket: SQL text, so a whole projection is ONE parsed
# expression (r7b: query-build latency is py4j round-trip-bound —
# ~1000 socket round trips ≈ 0.4-0.6 s per embedding-query build,
# paid on every bench rep; a selectExpr string is one round trip).
# Every fold is a left fold from 0D (double 0.0) in element order —
# the order the Arrow kernels below replicate bit for bit (pinned by
# tests/test_similarity_kernels.py against ``F.expr`` of this text).
# Lambda variables avoid single-letter names that could shadow value
# columns.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
        "(acc, t) -> acc + t)"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (acc, t) -> acc + t * t))"


def _bucket_sql(vec: str, n_planes: int, seed: int,
                dim: int = 64) -> str:
    pmat = "array(" + ",".join(
        _vec_sql(r) for r in _planes(dim, n_planes, seed)
    ) + ")"
    return (
        f"aggregate(transform({pmat}, (p, i) -> CASE WHEN "
        f"{_dot_sql(vec, 'p')} >= 0 THEN "
        "CAST(pow(2.0D, CAST(i AS DOUBLE)) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), "
        "(acc, t) -> acc + t)"
    )


def _vec_sql(vals) -> str:
    """SQL text for an array<double> literal.  repr() is the shortest
    round-trip form, and Java's Double.parseDouble of that form yields
    the identical IEEE-754 value — so the parsed literal is
    bit-identical to what ``F.lit`` element-wise would build."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


# --------------------------------------------------------------------
# Arrow strict-fold kernels (r7).
#
# Spark's higher-order functions (zip_with / aggregate / transform
# lambdas) are CodegenFallback: every element of every fold is an
# interpreted expression-tree walk.  Measured at the 20k-vector bench
# scale, the 16-centroid IVF cell assignment costs ~2.1 s and the
# 3-table hyperplane bucketing ~2.8 s — ~100 µs/row for what is
# arithmetically a few thousand flops (guide §1.2/§4.2: vectorize the
# kernel, keep the boundary narrow).  Unrolling the folds into plain
# left-associated arithmetic was measured FIRST and is slower: janino
# refuses the 64-deep expression (codegen falls back to interpreting a
# 64-node Add chain per term).
#
# These kernels move the folds into numpy with the EXACT SQL
# evaluation order — products elementwise, then a sequential
# left-fold ``acc = acc + term_i`` starting from 0.0 (one vectorized
# numpy add per dimension, never np.sum/np.dot, which use pairwise
# summation) — so every produced double is bit-identical to the
# ``aggregate(zip_with(...))`` fold, and every derived sign/bucket/
# cell/norm is too (pinned by tests/test_similarity_kernels.py, and
# by the frozen DuckDB oracles end to end).
#
# Boundary semantics replicated from the SQL expressions (note the
# transform/fold iterate the LITERAL plane/centroid matrix, never the
# vector, so a NULL or ragged vector does NOT null the result):
# - NULL vector: every dot is NULL -> per-plane CASE-else 0 -> bucket
#   0; every IVF sim NULL -> max-struct tie-break -> LARGEST cell id;
#   the norm (a fold over the vector itself) IS NULL.
# - ragged vector (len != dim): zip_with pads with NULL -> NULL dot
#   -> same as above, except the norm still folds the row's own
#   elements.  (Scalar fallback path; exercised by tests.)
# - NaN doubles compare as larger-than-everything (Spark's ordering
#   semantics for >= and for struct max) — the kernels use
#   ``(dot >= 0) | isnan(dot)`` and argmax-over-reversed-cells to
#   match, test-pinned on NaN/±inf rows.
# - Documented assumption (same class as the tokenizer-parity note in
#   dedup.py): vectors carry no NULL *elements* — Arrow hands inner
#   nulls to pandas as NaN, which SQL would treat as NULL-propagating
#   instead of NaN-comparing.  Every caller feeds parquet float
#   arrays (non-null by construction) or arithmetic thereof.


def _strict_dots(M: np.ndarray, P: np.ndarray) -> np.ndarray:
    """(n, dim) x (k, dim) -> (n, k) dot products with the SQL fold's
    exact IEEE op order: per-element product, then sequential adds
    from 0.0."""
    n = M.shape[0]
    out = np.empty((n, P.shape[0]), dtype=np.float64)
    for j in range(P.shape[0]):
        p = P[j]
        acc = np.zeros(n, dtype=np.float64)
        for i in range(M.shape[1]):
            acc = acc + M[:, i] * p[i]
        out[:, j] = acc
    return out


def _strict_norms(M: np.ndarray) -> np.ndarray:
    """sqrt of the strict left-fold sum of squares (``_norm_sql``)."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for i in range(M.shape[1]):
        acc = acc + M[:, i] * M[:, i]
    return np.sqrt(acc)


def _clean_rows(series: pd.Series, dim: int):
    """Split a pandas Series of Arrow list values into a dense
    (n_clean, dim) float64 matrix + index arrays.  Rows that are None
    or whose length != dim take the scalar fallback."""
    vals = series.to_numpy(dtype=object)
    n = len(vals)
    clean = np.empty(n, dtype=bool)
    for i in range(n):
        v = vals[i]
        clean[i] = v is not None and len(v) == dim
    idx = np.nonzero(clean)[0]
    if len(idx):
        M = np.empty((len(idx), dim), dtype=np.float64)
        for r, i in enumerate(idx):
            M[r, :] = vals[i]
    else:
        M = np.empty((0, dim), dtype=np.float64)
    return vals, M, idx, np.nonzero(~clean)[0]


def _py_fold_dot(v, p) -> float | None:
    """Scalar replica of aggregate(zip_with(v, p, x*y), 0.0, acc+v):
    zip_with pads the shorter side with NULL; a NULL product makes the
    fold NULL from that point on (so the result is NULL)."""
    ln = max(len(v), len(p))
    acc = 0.0
    for i in range(ln):
        if i >= len(v) or i >= len(p):
            return None
        x, y = v[i], p[i]
        if x is None or y is None:
            return None
        acc = acc + float(x) * float(y)
    return acc


def _py_fold_norm(v) -> float | None:
    acc = 0.0
    for x in v:
        if x is None:
            return None
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _gte_zero(dot: float | None) -> bool:
    """CASE WHEN dot >= 0 with Spark double semantics: NULL -> else
    branch; NaN compares larger than everything."""
    if dot is None:
        return False
    return math.isnan(dot) or dot >= 0.0


def hyperplane_buckets_kernel(
    plane_sets: list, dim: int = 64
):
    """pandas UDF: vector -> array<long> of one sign-bit bucket per
    plane set, bit-identical to ``_bucket_sql`` per table."""
    mats = [np.asarray(p, dtype=np.float64) for p in plane_sets]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def k(series: pd.Series) -> pd.Series:
        vals, M, idx, odd = _clean_rows(series, dim)
        out = np.empty(len(vals), dtype=object)
        per_table = []
        for P in mats:
            dots = _strict_dots(M, P)
            signs = (dots >= 0) | np.isnan(dots)
            weights = (1 << np.arange(P.shape[0], dtype=np.int64))
            per_table.append(signs @ weights)
        for r, i in enumerate(idx):
            out[i] = [int(b[r]) for b in per_table]
        for i in odd:
            # the transform/fold iterate the LITERAL plane matrix, so
            # a NULL vector still folds n_planes CASE-else zeros into
            # bucket 0 — never a NULL bucket (test-pinned)
            v = vals[i]
            row = []
            for P in mats:
                b = 0
                for pi in range(P.shape[0]):
                    d = None if v is None else _py_fold_dot(v, P[pi])
                    if _gte_zero(d):
                        b += 1 << pi
                row.append(b)
            out[i] = row
        return pd.Series(list(out))

    return k


def ivf_cell_kernel(cents: np.ndarray, dim: int = 64):
    """pandas UDF: vector -> nearest-centroid cell id (max over
    struct(sim, cell): sim DESC, cell DESC tie-break), bit-identical
    to the expression path (sim = strict_dot / (strict_norm *
    cn_lit), where cn_lit is the same folded-norm literal
    ``ivf_topk`` inlines).  The vector's own norm is NOT returned:
    Arrow's pandas serializer nulls NaN doubles on the way back, so a
    NaN norm (NaN-polluted vector) could not round-trip faithfully —
    callers keep ``_norm_sql`` for the norm column (one fold per row,
    the cheap part; the 16-dot cell score is what the kernel
    replaces)."""
    C = np.asarray(cents, dtype=np.float64)
    cn_lits = np.array([_py_fold_norm(C[i]) for i in range(len(C))])

    @F.pandas_udf(T.IntegerType())
    def k(series: pd.Series) -> pd.Series:
        vals, M, idx, odd = _clean_rows(series, dim)
        cell_out = np.empty(len(vals), dtype=object)
        if len(idx):
            dots = _strict_dots(M, C)
            vn = _strict_norms(M)
            den = vn[:, None] * cn_lits[None, :]
            # ANSI divide parity: the expression path raises
            # DIVIDE_BY_ZERO on a zero-norm vector (divisor == 0.0 is
            # checked before the numerator) — fail just as loudly
            if np.any(den == 0.0):
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] zero-norm vector in IVF cell "
                    "assignment (ANSI-divide parity with the "
                    "expression path)"
                )
            with np.errstate(invalid="ignore", over="ignore"):
                sims = dots / den
            # max struct(sim, cell): NaN largest, ties -> larger cell.
            # argmax over the column-reversed matrix returns the first
            # max (or first NaN) in reversed order = the LARGEST cell.
            rev = sims[:, ::-1]
            cells = (C.shape[0] - 1) - np.argmax(rev, axis=1)
            for r, i in enumerate(idx):
                cell_out[i] = int(cells[r])
        for i in odd:
            # transform iterates the LITERAL centroid array, so a NULL
            # vector still yields 16 (sim=NULL, cell) structs; the
            # max-struct tie-break then picks the LARGEST cell id —
            # never a NULL cell (test-pinned)
            v = vals[i]
            vn_i = None if v is None else _py_fold_norm(v)
            best_sim, best_cell = None, None
            for ci in range(C.shape[0]):
                d = None if v is None else _py_fold_dot(v, C[ci])
                den = None if vn_i is None else vn_i * cn_lits[ci]
                # ANSI divide checks the numerator first: NULL dot ->
                # NULL sim with no divisor-zero error
                if d is not None and den is not None and den == 0.0:
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-norm vector in IVF "
                        "cell assignment (ANSI-divide parity)"
                    )
                sim = None if d is None or den is None else d / den
                if best_cell is None or _struct_gte(sim, best_sim):
                    best_sim, best_cell = sim, ci
            cell_out[i] = best_cell
        return pd.Series(list(cell_out))

    return k


def _struct_gte(sim, best) -> bool:
    """sim >= best under Spark's double ordering (NULL smallest, NaN
    largest, -0.0 == 0.0) — used ascending-cell so ties keep the
    larger cell, matching max(struct(sim, cell))."""
    if sim is None:
        return best is None
    if best is None:
        return True
    a_nan, b_nan = math.isnan(sim), math.isnan(best)
    if a_nan:
        return True
    if b_nan:
        return False
    return sim >= best


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): exact baseline.
    The query side is broadcast — at 100 TB the corpus side streams
    through executors once; cost is |Q| dot products per corpus row."""
    q = F.broadcast(
        queries.selectExpr(
            f"{id_col} AS query_id", f"{vec_col} AS qv",
            f"{_norm_sql(vec_col)} AS qn",
        )
    )
    # per-side norms computed once (r7): |Q| x |C| pairs each paid 3
    # aggregate folds; now each row pays its norm once and each pair
    # one dot — same dot/(na*nb) arithmetic, float-identical
    c = corpus.selectExpr(
        f"{id_col} AS neighbor_id", f"{vec_col} AS cv",
        f"{_norm_sql(vec_col)} AS cn",
    )
    scored = q.crossJoin(c).where(
        F.col("query_id") != F.col("neighbor_id")
    ).selectExpr(
        "query_id", "neighbor_id",
        f"{_dot_sql('qv', 'cv')} / (qn * cn) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    n_planes: int = 8, seed: int = 42,
) -> DataFrame:
    """Approximate top-k: only same-LSH-bucket candidates are scored."""
    # the join keys are wrapped in coalesce(key, side-sentinel) to make
    # them provably non-nullable: otherwise the planner infers an
    # IsNotNull(bucket) filter on the corpus side and — because the
    # bucket is a derived expression, not a stored column — evaluates
    # the whole n_planes-dot bucket computation TWICE per row (once in
    # the inferred filter, once in the project; the §4.4 filter-
    # duplication pathology, measured 2x the corpus-side stage).  The
    # sentinels differ per side, so a NULL vector still matches
    # nothing — exactly the inner-join-on-NULL behavior of the old
    # plan.
    # r7b: corpus-side bucket via the Arrow strict-fold kernel (the
    # interpreted per-plane folds were the scan's dominant cost); the
    # tiny broadcast query side keeps the expression path (built as
    # ONE parsed SQL string — see the _dot_sql block comment) — safe
    # because kernel and expression are bit-identical per vector.
    bucket_udf = hyperplane_buckets_kernel(
        [_planes(64, n_planes, seed)], 64
    )
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.expr(_norm_sql(vec_col)).alias("cn"),
        F.coalesce(
            F.element_at(bucket_udf(F.col(vec_col)), 1),
            F.lit(-1).cast("long"),
        ).alias("bucket"),
    )
    qb = F.broadcast(
        queries.selectExpr(
            f"{id_col} AS query_id", f"{vec_col} AS qv",
            f"{_norm_sql(vec_col)} AS qn",
            "coalesce({b}, CAST(-2 AS BIGINT)) AS bucket".format(
                b=_bucket_sql(vec_col, n_planes, seed)
            ),
        )
    )
    scored = qb.join(cb, "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    ).selectExpr(
        "query_id", "neighbor_id",
        f"{_dot_sql('qv', 'cv')} / (qn * cn) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_topk_oracle_sql(
    table: str = "embeddings", vec_col: str = "embedding",
    id_col: str = "vec_id", k: int = 10, n_planes: int = 8,
    seed: int = 42, dim: int = 64, max_query_id: int = 20,
) -> str:
    """DuckDB SQL reproducing lsh_topk for queries with
    id < max_query_id: inlined plane matrix -> sign-bit buckets ->
    in-bucket cosine ranking, cosine emitted at x10k rounding."""
    terms = []
    for i, p in enumerate(_planes(dim, n_planes, seed)):
        lits = ", ".join(repr(float(x)) for x in p)
        terms.append(
            f"(CASE WHEN list_inner_product(emb, [{lits}]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
        WITH dbl AS (
            SELECT {id_col} AS id,
                   list_transform({vec_col},
                                  x -> CAST(x AS DOUBLE)) AS emb
            FROM {table}
        ),
        b AS (SELECT id, emb, {bucket} AS bucket FROM dbl),
        scored AS (
            SELECT q.id AS query_id, c.id AS neighbor_id,
                   list_cosine_similarity(q.emb, c.emb) AS cos_raw,
                   row_number() OVER (
                       PARTITION BY q.id
                       ORDER BY list_cosine_similarity(q.emb, c.emb)
                           DESC, c.id ASC
                   ) AS rank
            FROM b q JOIN b c ON q.bucket = c.bucket
                AND q.id < {max_query_id} AND q.id != c.id
        )
        SELECT query_id, neighbor_id, rank,
               CAST(round(cos_raw * 10000) AS BIGINT) AS cosine_x10k
        FROM scored WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def ivf_topk_oracle_sql(
    table: str = "embeddings", vec_col: str = "embedding",
    id_col: str = "vec_id", k: int = 10, n_cells: int = 16,
    nprobe: int = 4, seed: int = 7, dim: int = 64,
    max_query_id: int = 20,
) -> str:
    """DuckDB SQL reproducing ivf_topk with the deterministic
    'random' centroids (seeded unit normals, inlined as literals):
    nearest-cell assignment (ties -> larger cell, matching the
    reverse(array_sort) order), nprobe probing, in-cell cosine
    ranking, x10k cosine contract."""
    rng = np.random.RandomState(seed)
    cents = rng.randn(n_cells, dim)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ", ".join(
        "({}, [{}])".format(
            ci, ", ".join(repr(float(x)) for x in cents[ci])
        )
        for ci in range(n_cells)
    )
    return f"""
        WITH dbl AS (
            SELECT {id_col} AS id,
                   list_transform({vec_col},
                                  x -> CAST(x AS DOUBLE)) AS emb
            FROM {table}
        ),
        cents(ci, c) AS (VALUES {rows}),
        scores AS (
            SELECT d.id, d.emb, c.ci,
                   list_cosine_similarity(d.emb, c.c) AS sim
            FROM dbl d CROSS JOIN cents c
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY id ORDER BY sim DESC, ci DESC
            ) AS r
            FROM scores
        ),
        cells AS (SELECT id, emb, ci AS cell FROM ranked WHERE r = 1),
        probes AS (
            SELECT id, emb, ci AS cell FROM ranked
            WHERE r <= {nprobe} AND id < {max_query_id}
        ),
        scored AS (
            SELECT p.id AS query_id, t.id AS neighbor_id,
                   list_cosine_similarity(p.emb, t.emb) AS cos_raw,
                   row_number() OVER (
                       PARTITION BY p.id
                       ORDER BY list_cosine_similarity(p.emb, t.emb)
                           DESC, t.id ASC
                   ) AS rank
            FROM probes p
            JOIN cells t ON p.cell = t.cell AND p.id != t.id
        )
        SELECT query_id, neighbor_id, rank,
               CAST(round(cos_raw * 10000) AS BIGINT) AS cosine_x10k
        FROM scored WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def kmeans_centroids(
    corpus: DataFrame, n_cells: int = 16,
    vec_col: str = "embedding", seed: int = 7, max_iter: int = 10,
) -> np.ndarray:
    """Real k-means centroids for IVF, JVM-side via Spark MLlib
    (distributed Lloyd's; only the k×dim centroid matrix reaches the
    driver — the scale-correct shape for a 100 TB corpus)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("fv")
    )
    model = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="fv"
    ).fit(feats)
    cents = np.array(model.clusterCenters(), dtype=float)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return cents / norms


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10,
    n_cells: int = 16, nprobe: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    dim: int = 64, seed: int = 7,
    centroids: str | np.ndarray = "kmeans",
) -> DataFrame:
    """IVF ANN: corpus partitioned by nearest cell, queries probe
    ``nprobe`` cells.  ``centroids``: 'kmeans' (MLlib, default),
    'random' (deterministic unit normals — the cheap stand-in), or a
    precomputed (n_cells, dim) array (the production path: centroids
    are a periodically-refreshed asset, not recomputed per query)."""
    if isinstance(centroids, np.ndarray):
        cents = centroids
    elif centroids == "kmeans":
        cents = kmeans_centroids(corpus, n_cells, vec_col, seed)
    elif centroids == "random":
        rng = np.random.RandomState(seed)
        cents = rng.randn(n_cells, dim)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    else:
        raise ValueError(f"unknown centroids mode: {centroids}")
    n_cells = len(cents)

    # ONE nested-array literal + ONE transform lambda for all cells:
    # the previous per-cell loop built n_cells independent
    # cosine_exprs (each with its own higher-order lambdas) — measured
    # 1.7 s of driver-side expression construction per call at
    # n_cells=16.  Sort semantics unchanged: struct(sim, cell) default
    # ordering reversed = sim DESC, cell DESC.
    #
    # r7: per-row norm computed ONCE and each centroid's norm folded
    # in as a literal (the exact sqrt-of-left-fold value the SQL
    # aggregate produces — verified bit-identical), so a cell score is
    # one dot + one divide instead of three aggregate folds; the
    # corpus-side argmax is array_max (same struct ordering as
    # reverse(array_sort)[0]: max (sim, cell) == sim DESC, cell DESC
    # tie-break) instead of a full 16-element sort per row.
    # one parsed SQL literal for the whole centroid table (element-wise
    # F.lit cost ~1 s of py4j round trips per query build at
    # n_cells=16).  Centroid norms via the single
    # module-level strict-fold implementation (_py_fold_norm) — the
    # SAME function ivf_cell_kernel folds into cn_lits, so the two
    # sides cannot drift.
    cells_sql = "array(" + ",".join(
        "named_struct('c', {}, 'cn', {!r}D, 'cell', {})".format(
            _vec_sql(cents[i]), float(_py_fold_norm(cents[i])), i
        )
        for i in range(n_cells)
    ) + ")"

    # coalesce(cell, -1) makes the join key non-nullable so the planner
    # does not infer an IsNotNull(cell) filter that would re-evaluate
    # the whole 16-dot cell expression a second time per corpus row
    # (guide §4.4 duplication; measured ~2x this stage).  A NULL
    # vector's cell becomes -1, which no query probe (always a literal
    # cell id) can match — identical inner-join semantics.
    #
    # r7b: the corpus-side cell assignment runs in the Arrow
    # strict-fold kernel — the interpreted transform/aggregate chain
    # cost ~2.1 s alone at the 20k-vector bench scale (~100 µs/row;
    # projection collapse also re-inlined the norm fold into each of
    # the 16 cell lambdas).  The kernel emits the identical cell id
    # (see the kernel-block comment + tests); the norm stays a JVM
    # fold evaluated once per row, and the tiny query side keeps the
    # expression path — safe because kernel and expression are
    # bit-identical on the same vector.
    cell_udf = ivf_cell_kernel(cents, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        F.expr(_norm_sql(vec_col)).alias("cn"),
        F.coalesce(cell_udf(F.col(vec_col)), F.lit(-1)).alias("cell"),
    )
    # query side and pair scoring built as whole selectExpr strings
    # (one py4j round trip each — see the _dot_sql block comment)
    probe_sql = (
        "explode(slice(reverse(array_sort(transform({cells}, s -> "
        "named_struct('sim', {dot} / (qn * s.cn), 'cell', s.cell)"
        "))), 1, {np}))"
    ).format(cells=cells_sql, dot=_dot_sql("qv", "s.c"), np=nprobe)
    q = F.broadcast(
        queries.selectExpr(
            f"{id_col} AS query_id", f"{vec_col} AS qv",
            f"{_norm_sql(vec_col)} AS qn",
        ).selectExpr(
            "query_id", "qv", "qn", f"{probe_sql} AS probe",
        ).selectExpr("query_id", "qv", "qn", "probe.cell AS cell")
    )
    # every corpus row lives in exactly one cell and a query's nprobe
    # probes are distinct cells, so a (query, neighbor) pair matches
    # at most once — the old groupBy/max dedup aggregate was a no-op
    # shuffle and is dropped (r7; output rows identical)
    scored = q.join(c, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    ).selectExpr(
        "query_id", "neighbor_id",
        f"{_dot_sql('qv', 'cv')} / (qn * cn) AS cosine",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
