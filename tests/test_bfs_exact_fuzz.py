"""Differential fuzz of the shipped BFS-membership replay SQL.

``_bfs_walk_sql`` is the ONE copy of the recursive-CTE walk that the
driver's ``kg_communities_bfs_exact`` oracle runs — this test feeds
the very same fragment synthetic random graphs and checks every
community (id, member lists, token sum) against the pure-Python
kernel ``_greedy_partition_pdf`` the Spark side executes.

Why this exists: the walk was ORIGINALLY written order-carrying
(``list(... ORDER BY)`` + positional ``rem[1]``/``rem[2:]`` reads)
and matched Python on every small case — then silently diverged at
threads=8 above ~4k units, because DuckDB's parallel list()
aggregation does not guarantee element order and positional reads of
>2048-element (multi-vector) lists are unreliable under parallel
execution.  The shipped walk is order-independent by construction
(min-by-skey ``list_reduce`` seed pick, ``list_sort`` at use); these
shapes pin that property.  The >2048-unit reproduction lives in the
round notes (it costs ~2 min of wall, too slow for the suite); the
structural defense is that no positional read of an aggregate-built
list remains in the SQL.
"""

import pickle
import random
import signal
import subprocess
import sys

import pandas as pd
import pytest

from graphgen_spark.operators.partitioners import _greedy_partition_pdf

from __spark_entry__ import _bfs_walk_sql


def _case(seed: int, n: int, extra: int):
    """Random connected-ish core + isolated tail, unit lengths 1-29."""
    rng = random.Random(seed)
    names = [f"N{i:04d}" for i in range(n)]
    pairs = set()
    core = max(3, int(n * 0.75))
    for i in range(1, core):
        pairs.add(tuple(sorted((names[i], names[rng.randrange(i)]))))
    for _ in range(extra):
        a, b = rng.sample(names[:core], 2)
        if a != b:
            pairs.add(tuple(sorted((a, b))))
    pairs = sorted(pairs)
    nlen = {m: rng.randrange(1, 30) for m in names}
    elen = {p: rng.randrange(1, 30) for p in pairs}
    return names, pairs, nlen, elen


def _python_rows(names, pairs, nlen, elen, mu, mt, strategy="bfs"):
    pdf = pd.DataFrame(
        [{"kind": "n", "a": m, "b": None, "length": nlen[m],
          "loss": None} for m in names]
        + [{"kind": "e", "a": a, "b": b, "length": elen[(a, b)],
            "loss": None} for a, b in pairs]
    )
    rows = _greedy_partition_pdf(
        pdf, strategy, mu, 1, mt, "min_loss", None
    )
    return sorted(
        (cid, ",".join(ns),
         ",".join(f"{e['src']}|{e['dst']}" for e in es), nu, tok)
        for cid, ns, es, nu, tok in rows
    )


# DuckDB runs in a child process, one per query and one at a time:
# DuckDB 1.0.0 once segfaulted inside this walk and took the whole
# pytest process with it.  A crashed child fails only its own test.
# The rows go back on the child's original stdout; its fd 1 points at
# stderr so that DuckDB's progress bar cannot corrupt the pickle.
_DUCKDB_CHILD = """
import os, pickle, sys
import duckdb
out = os.fdopen(os.dup(1), "wb")
os.dup2(2, 1)
tables, threads, sql = pickle.load(sys.stdin.buffer)
con = duckdb.connect()
con.execute(f"PRAGMA threads={threads}")
for name, pdf in tables.items():
    con.register(name, pdf)
pickle.dump(con.execute(sql).fetchall(), out)
out.close()
"""
DUCKDB_CHILD_TIMEOUT_S = 300


def _duckdb_child(tables, threads, sql):
    proc = subprocess.run(
        [sys.executable, "-c", _DUCKDB_CHILD],
        input=pickle.dumps((tables, threads, sql)),
        capture_output=True,
        timeout=DUCKDB_CHILD_TIMEOUT_S,
    )
    if proc.returncode:
        how = (f"killed by {signal.Signals(-proc.returncode).name}"
               if proc.returncode < 0 else f"exit code {proc.returncode}")
        stderr = proc.stderr.decode(errors="replace")[-2000:]
        pytest.fail(f"DuckDB child process {how}\n{stderr}")
    return pickle.loads(proc.stdout)


def _duckdb_rows(names, pairs, nlen, elen, mu, mt, threads=8,
                 strategy="bfs"):
    tables = {
        "t_nodes": pd.DataFrame(
            {"name": names, "len": [nlen[m] for m in names]}
        ),
        "t_edges": pd.DataFrame(
            {
                "src": [a for a, _ in pairs],
                "tgt": [b for _, b in pairs],
                "len": [elen[p] for p in pairs],
            }
        ),
    }
    sql = (
        "WITH RECURSIVE "
        "bnodes AS MATERIALIZED (SELECT name, CAST(len AS BIGINT) AS len"
        " FROM t_nodes), "
        "bedges AS MATERIALIZED (SELECT src, tgt,"
        " CAST(len AS BIGINT) AS len FROM t_edges),"
        + _bfs_walk_sql(mu, mt, strategy)
    )
    return sorted(tuple(r) for r in _duckdb_child(tables, threads, sql))


# (seed, n_nodes, extra_edges, max_units, max_tokens): budget-bound,
# size-bound, unbounded, dense, mu=1 and mt=1 degenerates, edge-free
CASES = [
    (1, 30, 10, 5, 40),
    (2, 50, 40, 7, 60),
    (3, 60, 5, 10, 10240),
    (4, 25, 60, 3, 25),
    (6, 40, 0, 7, 60),
    (7, 45, 30, 1, 60),
    (8, 45, 30, 7, 1),
]


@pytest.mark.parametrize("seed,n,extra,mu,mt", CASES)
def test_walk_matches_kernel(seed, n, extra, mu, mt):
    names, pairs, nlen, elen = _case(seed, n, extra)
    py = _python_rows(names, pairs, nlen, elen, mu, mt)
    db = _duckdb_rows(names, pairs, nlen, elen, mu, mt)
    assert db == py


@pytest.mark.parametrize("seed,n,extra,mu,mt", CASES[:4])
def test_walk_matches_kernel_dfs(seed, n, extra, mu, mt):
    """Same walk fragment with the stack (tail-pop) frontier — the
    only delta between the BFS and DFS kernels."""
    names, pairs, nlen, elen = _case(seed, n, extra)
    py = _python_rows(names, pairs, nlen, elen, mu, mt, "dfs")
    db = _duckdb_rows(names, pairs, nlen, elen, mu, mt,
                      strategy="dfs")
    assert db == py


def test_walk_matches_kernel_realistic_scale():
    """~400-unit shape, the size class the production oracle runs at,
    with the oracle's own budgets (both stop conditions bind)."""
    names, pairs, nlen, elen = _case(21, 300, 120)
    py = _python_rows(names, pairs, nlen, elen, 7, 200)
    db = _duckdb_rows(names, pairs, nlen, elen, 7, 200)
    assert db == py
    n_units = [r[3] for r in db]
    assert max(n_units) >= 3  # growth actually happened
