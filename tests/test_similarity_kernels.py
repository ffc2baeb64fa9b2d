"""Differential tests: the Arrow strict-fold kernels
(hyperplane_buckets_kernel, ivf_cell_kernel) must be
BIT-identical to ``F.expr`` of the SQL text they replace
(``_bucket_sql`` / the ivf cell-score max-struct over ``_dot_sql`` and
``_norm_sql``), including on adversarial rows: zero vectors, -0.0
vectors, denormals, huge values, NaN and ±inf elements, NULL vectors
and ragged (len != dim) vectors.

The SQL text is the ground truth — it is the one JVM definition
``lsh_topk`` and ``ivf_topk`` run, and what the frozen DuckDB oracles
replay — so any divergence here is a red row waiting to happen."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphgen_spark.datapipe.similarity import (
    _bucket_sql,
    _dot_sql,
    _norm_sql,
    _planes,
    _vec_sql,
    hyperplane_buckets_kernel,
    ivf_cell_kernel,
)


@pytest.fixture(scope="module")
def adversarial_df(spark):
    dim = 64
    rng = np.random.RandomState(3)
    rows = []
    vecs = rng.randn(200, dim)
    vecs[0, :] = 0.0
    vecs[1, :] = -0.0
    vecs[2, 0] = 5e-324          # denormal
    vecs[3, 0] = 1e308           # near overflow
    vecs[4, :] = rng.randn(dim) * 1e-160   # products underflow
    for i in range(len(vecs)):
        rows.append((i, [float(x) for x in vecs[i]]))
    nxt = len(vecs)
    rows.append((nxt, [float("nan")] * dim))            # all-NaN
    rows.append((nxt + 1, [float("inf")] + [1.0] * (dim - 1)))
    rows.append((nxt + 2, [float("inf"), float("-inf")] + [0.0] * (dim - 2)))
    rows.append((nxt + 3, None))                        # NULL vector
    rows.append((nxt + 4, [1.0] * (dim - 1)))           # ragged short
    rows.append((nxt + 5, [1.0] * (dim + 3)))           # ragged long
    rows.append((nxt + 6, []))                          # empty
    return spark.createDataFrame(rows, "id long, v array<double>").cache()


def test_bucket_kernel_bit_identical(spark, adversarial_df):
    # three 10-plane tables in one kernel pass, then the 6-plane
    # single table lsh_topk's query side runs as text
    for n_planes, seeds in ((10, [42, 1042, 2042]), (6, [42])):
        expr_cols = [
            F.expr(_bucket_sql("v", n_planes, seed)).alias(f"b{t}")
            for t, seed in enumerate(seeds)
        ]
        exp = {
            r["id"]: [r[f"b{t}"] for t in range(len(seeds))]
            for r in adversarial_df.select("id", *expr_cols).collect()
        }
        udf = hyperplane_buckets_kernel(
            [_planes(64, n_planes, seed) for seed in seeds], 64
        )
        got = {
            r["id"]: r["bs"]
            for r in adversarial_df.select(
                "id", udf(F.col("v")).alias("bs")
            ).collect()
        }
        assert set(exp) == set(got)
        for i in exp:
            assert got[i] == exp[i], (n_planes, i, exp[i], got[i])


def test_ivf_cell_norm_kernel_bit_identical(spark, adversarial_df):
    # zero-norm vectors raise on BOTH paths (ANSI divide) — covered by
    # test_ivf_zero_norm_raises_both_paths; exclude them here
    adversarial_df = adversarial_df.where(~F.col("id").isin(0, 1))
    rng = np.random.RandomState(7)
    cents = rng.randn(16, 64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    # the expression path exactly as ivf_topk builds it
    def _fold_norm(row):
        acc = 0.0
        for v in row:
            acc = acc + float(v) * float(v)
        return math.sqrt(acc)

    cells_sql = "array(" + ",".join(
        "named_struct('c', {}, 'cn', {!r}D, 'cell', {})".format(
            _vec_sql(cents[i]), float(_fold_norm(cents[i])), i
        )
        for i in range(16)
    ) + ")"
    best_sql = (
        f"array_max(transform({cells_sql}, s -> named_struct("
        f"'sim', {_dot_sql('v', 's.c')} / ({_norm_sql('v')} * s.cn), "
        "'cell', s.cell))).cell"
    )
    exp = {
        r["id"]: r["cell"]
        for r in adversarial_df.select(
            "id", F.expr(best_sql).alias("cell")
        ).collect()
    }
    udf = ivf_cell_kernel(cents, 64)
    got = {
        r["id"]: r["cc"]
        for r in adversarial_df.select(
            "id", udf(F.col("v")).alias("cc")
        ).collect()
    }
    assert set(exp) == set(got)
    for i in exp:
        assert got[i] == exp[i], (i, exp[i], got[i])


def test_ivf_zero_norm_raises_both_paths(spark):
    """ANSI divide parity: a zero-norm vector raises DIVIDE_BY_ZERO in
    the expression path and the kernel fails just as loudly."""
    rng = np.random.RandomState(7)
    cents = rng.randn(4, 64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(0, [0.0] * 64)], "id long, v array<double>"
    )

    cn = float(np.sqrt((cents[0] * cents[0]).sum()))
    expr_sim = F.expr(
        f"{_dot_sql('v', _vec_sql(cents[0]))} / ({_norm_sql('v')} "
        f"* {cn!r}D)"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(expr_sim.alias("s")).collect()

    udf = ivf_cell_kernel(cents, 64)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(udf(F.col("v")).alias("cc")).collect()


def test_bucket_kernel_clean_bulk(spark):
    """Bulk random vectors (the vectorized path, no adversarial rows):
    buckets equal the SQL text's for every table."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(3000, 64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "id long, v array<double>",
    )
    plane_sets = [_planes(64, 6, 42)]
    exp = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.expr(_bucket_sql("v", 6, 42)).alias("b")
        ).collect()
    }
    udf = hyperplane_buckets_kernel(plane_sets, 64)
    got = {
        r["id"]: r["bs"][0]
        for r in df.select("id", udf(F.col("v")).alias("bs")).collect()
    }
    assert got == exp
