"""Hypothesis property fuzzes for the pure-Python kernels that back
distributed operators — the places where a subtle driver-side bug
would silently skew a whole partitioner/CC result without any Spark
involvement.  All tests here are Spark-free and fast.

Reference semantics: leiden split contract
``models/partitioner/leiden_partitioner.py:63-117``; CC min-label
contract matches the distributed large/small-star fixpoint
(operators/components.py).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from graphgen_spark.operators.components import _driver_union_find
from graphgen_spark.operators.partitioners import (
    _louvain,
    _membership_to_rows,
)

# -- strategies -------------------------------------------------------

N_MAX = 24


@st.composite
def graphs(draw):
    """(n_nodes, edge list over range(n))."""
    n = draw(st.integers(min_value=1, max_value=N_MAX))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(0, n - 1), st.integers(0, n - 1)
            ),
            max_size=3 * N_MAX,
        )
    )
    return n, edges


# -- _driver_union_find vs brute-force closure ------------------------


def _brute_components(pairs):
    """BFS closure; label = min member id (the fixpoint contract)."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            nxt = []
            for x in frontier:
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        nxt.append(y)
            frontier = nxt
        rep = min(seen)
        for x in seen:
            label[x] = rep
    return sorted(label.items())


@settings(max_examples=80, deadline=None)
@given(graphs())
def test_union_find_matches_bfs_closure(g):
    n, edges = g
    assert sorted(_driver_union_find(edges)) == _brute_components(edges)
    # the driver gate feeds names too: min-name representative
    named = [(f"n{a}", f"n{b}") for a, b in edges]
    assert sorted(_driver_union_find(named)) == _brute_components(named)


# -- _membership_to_rows conservation laws ---------------------------


@st.composite
def memberships(draw):
    n = draw(st.integers(min_value=1, max_value=N_MAX))
    names = [f"N{i:03d}" for i in range(n)]
    membership = draw(
        st.lists(
            st.integers(0, 5), min_size=n, max_size=n
        )
    )
    edge_pairs = draw(
        st.lists(
            st.tuples(
                st.sampled_from(names), st.sampled_from(names)
            ),
            max_size=3 * N_MAX,
        )
    )
    max_size = draw(st.integers(min_value=1, max_value=8))
    return membership, names, edge_pairs, max_size


@settings(max_examples=80, deadline=None)
@given(memberships())
def test_membership_rows_conservation(case):
    membership, names, edge_pairs, max_size = case
    rows = _membership_to_rows(
        membership, names, edge_pairs, max_size, tag="t"
    )
    # every node exactly once, chunks respect max_size
    seen = [n for (_cid, chunk, _e, _units, _d) in rows for n in chunk]
    assert sorted(seen) == sorted(names)
    assert all(len(chunk) <= max_size for (_c, chunk, _e, _u, _d) in rows)
    # induced edges == exactly the pairs whose endpoints share a chunk
    chunk_of = {}
    for cid, chunk, _e, _u, _d in rows:
        for n in chunk:
            chunk_of[n] = cid
    expect = sorted(
        (a, b) for a, b in edge_pairs if chunk_of[a] == chunk_of[b]
    )
    got = sorted(
        (e["src"], e["dst"])
        for (_c, _chunk, es, _u, _d) in rows
        for e in es
    )
    assert got == expect
    # unit count = nodes + induced edges per row
    for _cid, chunk, es, units, _d in rows:
        assert units == len(chunk) + len(es)


# -- _louvain output contract ----------------------------------------


@settings(max_examples=60, deadline=None)
@given(graphs())
def test_louvain_membership_valid_and_deterministic(g):
    n, edges = g
    m1 = _louvain(n, edges, resolution=1.0)
    m2 = _louvain(n, edges, resolution=1.0)
    assert m1 == m2  # bit-deterministic, no RNG
    assert len(m1) == n
    assert all(0 <= c < n for c in m1)
    # two nodes in one community must be in the same connected
    # component (communities never span components)
    comp = dict(_brute_components([(a, b) for a, b in edges if a != b]))
    by_comm: dict = {}
    for node, c in enumerate(m1):
        by_comm.setdefault(c, []).append(node)
    for members in by_comm.values():
        comps = {comp.get(x, x) for x in members}
        assert len(comps) == 1
