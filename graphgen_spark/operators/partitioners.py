"""Graph partitioners: communities from the nodes/edges tables.

The reference runs these as a single-process whole-graph barrier
(``engine.py:245-255`` repartition(1)); communities can never span
connected components (BFS cannot cross them), so the Spark build keys
the SAME greedy algorithms by CC label and runs them per-component in
parallel via ``applyInPandas`` — a semantic refinement, not a change:

- BFS/DFS   (``models/partitioner/bfs_partitioner.py:20-73``, dfs:20-74)
- ECE       (``models/partitioner/ece_partitioner.py:56-157``): sort
  units by comprehension loss (min/max/random), BFS-grow under unit +
  token budgets, drop communities under min size
- AnchorBFS (``anchor_bfs_partitioner.py:33-120``): grow only from
  anchor-typed seeds
- Quintuple (``quintuple_partitioner.py:18-74``): pair unused edges
  around a center -> (v1, u, v2) paths
- Triple    (``triple_partitioner.py:18-58``): one community per edge —
  pure DataFrame projection, no Python at all
- Leiden    (``leiden_partitioner.py:16-117``): igraph+leidenalg per
  component when installed; BFS size-split fallback otherwise

Unlike the reference's unseeded ``random.shuffle`` (nondeterministic),
every RNG here is seeded per component — results are reproducible at
any parallelism.
"""

from __future__ import annotations

import math
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphgen_spark.operators.components import connected_components

DEFAULT_LOSS = -math.log(0.1)

COMMUNITY_SCHEMA = T.StructType(
    [
        T.StructField("community_id", T.StringType(), False),
        T.StructField("nodes", T.ArrayType(T.StringType()), False),
        T.StructField(
            "edges",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("src", T.StringType(), False),
                        T.StructField("dst", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("n_units", T.IntegerType(), False),
        T.StructField("token_sum", T.LongType(), False),
    ]
)


def units_with_components(
    nodes: DataFrame, edges: DataFrame, loss_nodes: DataFrame | None = None
) -> DataFrame:
    """Long-format unit table keyed by CC component:
    (component, kind, a, b, length, loss) — node units have b NULL."""
    labels = connected_components(edges).select(
        F.col("name").alias("entity_name"), "component"
    )
    node_units = (
        nodes.join(labels, "entity_name", "left")
        .select(
            F.coalesce(
                "component", F.xxhash64("entity_name")
            ).alias("component"),  # isolated nodes: own singleton
            F.lit("n").alias("kind"),
            F.col("entity_name").alias("a"),
            F.lit(None).cast("string").alias("b"),
            F.col("length").cast("long").alias("length"),
            (
                F.col("loss") if "loss" in nodes.columns else F.lit(None)
            ).cast("double").alias("loss"),
        )
    )
    lab_src = labels.select(
        F.col("entity_name").alias("src_id"), "component"
    )
    edge_units = edges.join(lab_src, "src_id").select(
        "component",
        F.lit("e").alias("kind"),
        F.col("src_id").alias("a"),
        F.col("tgt_id").alias("b"),
        F.col("length").cast("long").alias("length"),
        (
            F.col("loss") if "loss" in edges.columns else F.lit(None)
        ).cast("double").alias("loss"),
    )
    return node_units.unionByName(edge_units)


def _greedy_partition_pdf(
    pdf: pd.DataFrame,
    strategy: str,
    max_units: int,
    min_units: int,
    max_tokens: int,
    unit_sampling: str,
    anchor_nodes: set | None,
) -> List[tuple]:
    """Reference-shaped greedy growth inside one component.

    strategy: 'bfs' | 'dfs' | 'ece' | 'quintuple'
    unit_sampling: 'random' | 'min_loss' | 'max_loss'
    """
    import hashlib

    nodes = {}
    edges = {}
    adj: dict[str, set] = {}
    for row in pdf.itertuples(index=False):
        length = int(row.length or 0)
        loss = float(row.loss) if row.loss is not None and not pd.isna(row.loss) else DEFAULT_LOSS
        if row.kind == "n":
            nodes[row.a] = (length, loss)
            adj.setdefault(row.a, set())
        else:
            key = tuple(sorted((row.a, row.b)))
            edges[key] = (length, loss)
            adj.setdefault(row.a, set()).add(row.b)
            adj.setdefault(row.b, set()).add(row.a)

    comp_seed = int.from_bytes(
        hashlib.blake2b(
            str(sorted(nodes) + sorted(edges)).encode(), digest_size=8
        ).digest(),
        "big",
    )

    def sort_units(units: list) -> list:
        if unit_sampling == "random":
            import random

            rng = random.Random(comp_seed)
            units = list(units)
            rng.shuffle(units)
            return units
        reverse = unit_sampling == "max_loss"
        return sorted(
            units, key=lambda u: (u[2][1], str(u[1])), reverse=reverse
        )

    all_units = [("n", nid, d) for nid, d in sorted(nodes.items())] + [
        ("e", key, d) for key, d in sorted(edges.items())
    ]
    all_units = sort_units(all_units)

    used_n: set = set()
    used_e: set = set()
    out: List[tuple] = []

    if strategy == "quintuple":
        # pair unused neighbor edges around each center
        for center in sorted(adj):
            nbrs = sorted(adj[center])
            free = [
                v for v in nbrs if tuple(sorted((center, v))) not in used_e
            ]
            for i in range(0, len(free) - 1, 2):
                v1, v2 = free[i], free[i + 1]
                e1 = tuple(sorted((center, v1)))
                e2 = tuple(sorted((center, v2)))
                used_e.update((e1, e2))
                tok = sum(
                    nodes.get(x, (0, 0))[0] for x in (v1, center, v2)
                ) + edges[e1][0] + edges[e2][0]
                out.append(
                    (
                        f"quint-{center}-{v1}-{v2}",
                        [v1, center, v2],
                        [
                            {"src": e1[0], "dst": e1[1]},
                            {"src": e2[0], "dst": e2[1]},
                        ],
                        5,
                        tok,
                    )
                )
        return out

    def grow(seed_unit):
        comm_n: dict = {}
        comm_e: dict = {}
        token_sum = 0
        frontier = [seed_unit]

        def add(u):
            nonlocal token_sum
            kind, key, d = u
            if kind == "n":
                if key in used_n or key in comm_n:
                    return False
                comm_n[key] = d
                used_n.add(key)
            else:
                if key in used_e or key in comm_e:
                    return False
                comm_e[key] = d
                used_e.add(key)
            token_sum += d[0]
            return True

        add(seed_unit)
        while frontier:
            if (
                len(comm_n) + len(comm_e) >= max_units
                or token_sum >= max_tokens
            ):
                break
            cur = frontier.pop(0) if strategy != "dfs" else frontier.pop()
            kind, key, _ = cur
            nbrs = []
            if kind == "n":
                for nb in sorted(adj.get(key, ())):
                    ek = tuple(sorted((key, nb)))
                    if ek in edges and ek not in used_e and ek not in comm_e:
                        nbrs.append(("e", ek, edges[ek]))
            else:
                for nid in key:
                    if nid in nodes and nid not in used_n and nid not in comm_n:
                        nbrs.append(("n", nid, nodes[nid]))
            nbrs = sort_units(nbrs)
            for nb in nbrs:
                if (
                    len(comm_n) + len(comm_e) >= max_units
                    or token_sum >= max_tokens
                ):
                    break
                if add(nb):
                    frontier.append(nb)

        if len(comm_n) + len(comm_e) < min_units:
            return None
        seed_name = (
            seed_unit[1] if seed_unit[0] == "n" else "-".join(seed_unit[1])
        )
        return (
            f"comm-{seed_name}",
            sorted(comm_n),
            [{"src": a, "dst": b} for a, b in sorted(comm_e)],
            len(comm_n) + len(comm_e),
            token_sum,
        )

    for unit in all_units:
        kind, key, _ = unit
        if kind == "n" and key in used_n:
            continue
        if kind == "e" and key in used_e:
            continue
        if anchor_nodes is not None:
            if kind != "n" or key not in anchor_nodes:
                continue
        comm = grow(unit)
        if comm:
            out.append(comm)
    return out


# One task's pandas frame holds one component's units.  On web-scale
# graphs the giant connected component is a constant hazard — above
# this gate a component is deterministically hash-bucketed into
# bounded sub-frames before the greedy growth (each sub-frame grows
# communities over its own units only; greedy growth can't cross a
# bucket exactly like it can't cross a component).  Mirrors the
# size gate on the CC driver union-find (components.py), and like it
# is read at call time, not passed in.
COMPONENT_UNIT_GATE = 200_000


def _partition_with(
    units: DataFrame,
    strategy: str,
    max_units: int = 10,
    min_units: int = 1,
    max_tokens: int = 10240,
    unit_sampling: str = "random",
    anchor_type: str | None = None,
    anchor_names: DataFrame | None = None,
) -> DataFrame:
    from pyspark.sql import Window

    # Anchor marking stays distributed: a left join tags anchor node
    # units instead of collecting the anchor name set to the driver
    # (anchors are "every node whose type contains X" — O(|nodes|) at
    # web scale, far too big for a Python-set broadcast).  Seeds are
    # only ever checked against node units IN the task's frame, so a
    # frame-local set rebuilt from the tag is equivalent to the old
    # global set.
    has_anchors = anchor_names is not None
    if has_anchors:
        marked = anchor_names.select(
            F.col(anchor_names.columns[0]).alias("a"),
            F.lit(True).alias("_is_anchor"),
        ).distinct()
        units = units.join(marked, "a", "left")

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        anchors = None
        if has_anchors:
            mask = (pdf["kind"] == "n") & pdf["_is_anchor"].fillna(False)
            anchors = set(pdf.loc[mask, "a"])
            pdf = pdf.drop(columns=["_is_anchor"])
        rows = _greedy_partition_pdf(
            pdf.drop(columns=["_bucket"]), strategy, max_units, min_units,
            max_tokens, unit_sampling, anchors,
        )
        return pd.DataFrame(
            rows,
            columns=[
                "community_id", "nodes", "edges", "n_units", "token_sum",
            ],
        )

    # window count reuses the component shuffle partitioning; oversized
    # components split into ceil(size/gate) hash buckets — deterministic
    # at any parallelism (xxhash64 of the unit key, not a task id)
    w = Window.partitionBy("component")
    n_buckets = F.ceil(
        F.count(F.lit(1)).over(w) / F.lit(COMPONENT_UNIT_GATE)
    )
    bucketed = units.withColumn(
        "_bucket",
        F.when(n_buckets <= 1, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("kind", "a", "b"), n_buckets)
        ),
    )
    return bucketed.groupBy("component", "_bucket").applyInPandas(
        apply_fn, schema=COMMUNITY_SCHEMA
    )


def bfs_partition(nodes, edges, max_units=10, min_units=1,
                  max_tokens=10240,
                  unit_sampling: str = "random") -> DataFrame:
    units = units_with_components(nodes, edges)
    return _partition_with(units, "bfs", max_units, min_units,
                           max_tokens, unit_sampling)


def dfs_partition(nodes, edges, max_units=10, min_units=1,
                  max_tokens=10240,
                  unit_sampling: str = "random") -> DataFrame:
    units = units_with_components(nodes, edges)
    return _partition_with(units, "dfs", max_units, min_units,
                           max_tokens, unit_sampling)


def ece_partition(nodes, edges, max_units=20, min_units=5,
                  max_tokens=10240, unit_sampling="max_loss") -> DataFrame:
    """nodes/edges must carry a ``loss`` column (from the judge stage);
    missing losses default to -log(0.1) like the reference."""
    units = units_with_components(nodes, edges)
    return _partition_with(
        units, "bfs", max_units, min_units, max_tokens, unit_sampling
    )


def anchor_bfs_partition(nodes, edges, anchor_type: str, max_units=10,
                         min_units=1, max_tokens=10240,
                         unit_sampling: str = "random") -> DataFrame:
    anchors = nodes.where(
        F.lower("entity_type").contains(anchor_type.lower())
    ).select("entity_name")
    units = units_with_components(nodes, edges)
    return _partition_with(
        units, "bfs", max_units, min_units, max_tokens, unit_sampling,
        anchor_names=anchors,
    )


def quintuple_partition(nodes, edges) -> DataFrame:
    units = units_with_components(nodes, edges)
    return _partition_with(units, "quintuple")


def triple_partition(edges: DataFrame) -> DataFrame:
    """One community per edge — the (subj, pred, obj) unit emitter
    (reference ``triple_partitioner.py:18-58``); pure DataFrame."""
    return edges.select(
        F.concat_ws("::", "src_id", "tgt_id").alias("community_id"),
        F.array("src_id", "tgt_id").alias("nodes"),
        F.array(
            F.struct(
                F.col("src_id").alias("src"), F.col("tgt_id").alias("dst")
            )
        ).alias("edges"),
        F.lit(3).alias("n_units"),
        F.col("length").cast("long").alias("token_sum"),
    )


def star_partition(
    edges: DataFrame, max_objects: int = 50,
    stars_per_community: int = 4,
) -> DataFrame:
    """Subject-star communities, hash-grouped a few stars per
    community — the community family that de-vacuates the
    multi_answer generation mode (VERDICT r5 #2): a star contributes
    >=2 true neighbors for its hub, the OTHER stars in the group
    contribute non-adjacent distractor names.  (A pure single star is
    vacuous for that mode: every non-hub node is adjacent to the hub,
    so no distractors exist.)  Reference community batch shape:
    ``bases/base_partitioner.py:22-53``; the mode itself:
    ``models/generator/multi_answer_generator.py``.

    Pure DataFrame ops, DuckDB-replayable end to end:

    - star hub = ``src_id`` (the lexicographically smaller endpoint of
      the canonicalized merged edge);
    - a per-hub window keeps the ``max_objects`` smallest objects —
      the same Zipf-hot cap idiom as merge.MAX_MERGED_VALUES, so a
      100 TB hub cannot blow up one community payload;
    - the number of communities scales with count(DISTINCT hub)
      (roughly ``stars_per_community`` stars each) via a scalar
      aggregate cross-join (no driver action, broadcast by AQE), and
      stars land in communities by the engine-portable md5-prefix
      hash of the hub name;
    - one hash shuffle (the groupBy); the window is per-hub, not
      global.

    NOTE (ADVICE r6): ``token_sum`` here sums the CAPPED EDGE lengths
    only — unlike the greedy partitioners, whose token budgets count
    node + edge gated lengths.  Star/triple community token sums are
    therefore not comparable with greedy-family token sums, and node
    description mass is invisible to downstream batch sizing for this
    family.  (Changing it would change the hash-checked
    kg_qa_multi_answer_star oracle; documented instead.)
    """
    from pyspark.sql import Window

    star = (
        edges.select("src_id", "tgt_id", F.col("length").cast("long")
                     .alias("_len"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("src_id").orderBy("tgt_id")
            ),
        )
        .where(F.col("_rn") <= max_objects)
        .drop("_rn")
    )
    # from edges, not star: the cap keeps >=1 row per hub, so the
    # distinct-hub count is identical — and aggregating the capped
    # frame would re-run the per-hub window shuffle a second time
    n_hubs = edges.agg(
        F.countDistinct("src_id").alias("_n_hubs")
    )
    bucketed = star.crossJoin(F.broadcast(n_hubs)).withColumn(
        "_bucket",
        F.pmod(
            F.conv(F.substring(F.md5("src_id"), 1, 8), 16, 10)
            .cast("long"),
            F.greatest(
                F.lit(1),
                F.floor(F.col("_n_hubs") / stars_per_community),
            ),
        ),
    )
    return (
        bucketed.groupBy(
            F.format_string("star_%06d", "_bucket").alias("community_id")
        )
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(F.array("src_id", "tgt_id"))
                    )
                )
            ).alias("nodes"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("src_id").alias("src"),
                        F.col("tgt_id").alias("dst"),
                    )
                )
            ).alias("edges"),
            F.sum("_len").alias("token_sum"),
        )
        .select(
            "community_id", "nodes", "edges",
            (F.size("nodes") + F.size("edges")).cast("int")
            .alias("n_units"),
            "token_sum",
        )
    )


def _louvain(n_nodes: int, edge_idx: list, resolution: float,
             max_levels: int = 10, weights: list | None = None) -> list:
    """Deterministic pure-Python Louvain (modularity optimization —
    the algorithm family Leiden refines; Blondel et al. 2008): local
    moves in sorted node order with smallest-community tie-breaks,
    then graph aggregation, until no level improves.  Returns a
    community index per node.  Used when leidenalg/igraph is not
    installed — same output contract, fully seeded-free deterministic.

    ``weights``: optional per-edge weights parallel to ``edge_idx``.
    A weighted self-loop carries a super-node's internal mass (the
    convention this function's own aggregation step uses), so the
    coarse pass over a contracted fragment graph optimizes exactly
    the original graph's modularity restricted to fragment-respecting
    partitions.  Unweighted input drops self-loops (a raw graph's
    self-loop is a data artifact, not aggregated mass)."""
    labels = list(range(n_nodes))  # node -> community over all levels
    if weights is None:
        cur_edges = [(a, b, 1.0) for a, b in edge_idx if a != b]
    else:
        cur_edges = [
            (a, b, float(w)) for (a, b), w in zip(edge_idx, weights)
        ]
    cur_n = n_nodes
    node_map = list(range(n_nodes))  # original node -> current super-node

    for _ in range(max_levels):
        # adjacency (weights) of the current graph; self-loops carry
        # the internal mass of aggregated communities (2w of degree)
        adj: list = [dict() for _ in range(cur_n)]
        selfw = [0.0] * cur_n
        two_m = 0.0
        for a, b, w in cur_edges:
            if a == b:
                selfw[a] += w
            else:
                adj[a][b] = adj[a].get(b, 0.0) + w
                adj[b][a] = adj[b].get(a, 0.0) + w
            two_m += 2 * w
        if two_m == 0:
            break
        deg = [
            sum(nb.values()) + 2 * selfw[i]
            for i, nb in enumerate(adj)
        ]
        comm = list(range(cur_n))
        tot = deg[:]  # sum of degrees per community
        improved_level = False
        moved = True
        while moved:
            moved = False
            for v in range(cur_n):
                cv = comm[v]
                # weights from v to neighboring communities
                to_comm: dict = {}
                for u, w in adj[v].items():
                    to_comm[comm[u]] = to_comm.get(comm[u], 0.0) + w
                tot[cv] -= deg[v]
                best_c, best_gain = cv, to_comm.get(cv, 0.0) - (
                    resolution * tot[cv] * deg[v] / two_m
                )
                for c in sorted(to_comm):
                    gain = to_comm[c] - (
                        resolution * tot[c] * deg[v] / two_m
                    )
                    if gain > best_gain + 1e-12:
                        best_c, best_gain = c, gain
                tot[best_c] += deg[v]
                if best_c != cv:
                    comm[v] = best_c
                    moved = True
                    improved_level = True
        if not improved_level:
            break
        # renumber communities densely (sorted for determinism)
        remap = {c: i for i, c in enumerate(sorted(set(comm)))}
        comm = [remap[c] for c in comm]
        # push down to original nodes
        node_map = [comm[m] for m in node_map]
        labels = node_map[:]
        # aggregate graph; intra-community weight becomes a self-loop
        # (otherwise super-nodes lose their internal mass and every
        # bridged pair would merge at the next level)
        agg: dict = {}
        for a, b, w in cur_edges:
            ca, cb = comm[a], comm[b]
            key = (min(ca, cb), max(ca, cb))
            agg[key] = agg.get(key, 0.0) + w
        cur_edges = [(a, b, w) for (a, b), w in sorted(agg.items())]
        cur_n = len(remap)
        if all(a == b for a, b, _ in cur_edges):
            break
    return labels


def _leiden_index(pdf: pd.DataFrame):
    """Backend-independent pre-processing of one component's units:
    sorted node names, dense index, and the edge list in both index
    and name form.  Shared by the leidenalg and Louvain branches so
    the branch-specific code is only the membership call."""
    names = sorted(pdf[pdf["kind"] == "n"]["a"])
    idx = {n: i for i, n in enumerate(names)}
    epdf = pdf[pdf["kind"] == "e"]
    edge_pairs = [
        (a, b) for a, b in zip(epdf["a"], epdf["b"])
        if a in idx and b in idx
    ]
    edge_idx = [(idx[a], idx[b]) for a, b in edge_pairs]
    return names, edge_idx, edge_pairs


def _detect_membership(
    n_nodes: int, edge_idx: list, resolution: float, seed: int,
    have_leiden: bool, weights: list | None = None,
) -> list:
    """One community-detection call, backend-selected: leidenalg when
    importable (reference parity), else the deterministic pure-Python
    Louvain.  Shared by the ungated whole-component pass, the gated
    per-bucket fragment pass, and the gated coarse pass (where
    ``weights`` carries the contracted fragment graph's edge mass)."""
    if have_leiden:
        import igraph as ig
        import leidenalg as la

        g = ig.Graph(n=n_nodes, edges=edge_idx)
        part = la.find_partition(
            g, la.RBConfigurationVertexPartition,
            resolution_parameter=resolution, seed=seed,
            weights=weights,
        )
        return part.membership
    return _louvain(n_nodes, edge_idx, resolution, weights=weights)


def _membership_to_rows(
    membership, names, edge_pairs, max_size: int, tag: str
) -> list:
    """Backend-independent post-processing: membership vector ->
    max_size-split community rows with induced edges (reference
    ``leiden_partitioner.py:63-117`` split semantics).

    Edges are bucketed by their endpoints' (community, chunk) key in
    ONE pass over ``edge_pairs`` — the old per-chunk rescan was
    O(chunks x |E|) per component, quadratic on big communities."""
    by_comm: dict = {}
    for i, c in enumerate(membership):
        by_comm.setdefault(c, []).append(names[i])
    node_chunk: dict = {}
    chunks: dict = {}
    for ci in sorted(by_comm):
        mnames = sorted(by_comm[ci])
        for s in range(0, len(mnames), max_size):
            key = (ci, s // max_size)
            chunk = mnames[s : s + max_size]
            chunks[key] = chunk
            for name in chunk:
                node_chunk[name] = key
    edges_by_chunk: dict = {}
    for a, b in edge_pairs:
        ka = node_chunk.get(a)
        if ka is not None and ka == node_chunk.get(b):
            edges_by_chunk.setdefault(ka, []).append(
                {"src": a, "dst": b}
            )
    rows = []
    for (ci, k), chunk in chunks.items():
        cedges = edges_by_chunk.get((ci, k), [])
        rows.append(
            (
                f"{tag}-{ci}-{k}-{chunk[0]}",
                chunk, cedges, len(chunk) + len(cedges), 0,
            )
        )
    return rows


def leiden_partition(nodes, edges, max_size=20, resolution=1.0,
                     seed=42) -> DataFrame:
    """Community detection per connected component: leidenalg+igraph
    when importable (reference parity,
    ``models/partitioner/leiden_partitioner.py:16-117``), else the
    deterministic pure-Python Louvain above (same modularity
    objective, same output contract).

    NOT lazy (ADVICE r6): constructing the returned frame eagerly
    runs the CC-join/window pipeline once (localCheckpoint) and
    probes the gate — callers that build but never consume the plan
    still pay that materialization, the accepted trade for not
    running the whole units pipeline twice in the common
    nothing-gated case.  localCheckpoint lineage is not recoverable
    if executors are lost mid-session in cluster mode.

    Giant-component gate (same hazard the greedy partitioners gate in
    ``_partition_with``): a web-scale giant component must not land in
    one task's pandas frame running the pure-Python modularity search.
    Components above ``COMPONENT_UNIT_GATE`` units are split into
    deterministic hash buckets of their node units BEFORE the groupBy;
    an edge unit rides with its ``a`` endpoint's bucket and survives
    only when both endpoints share the bucket (``_leiden_index``
    already drops dangling edges), so every node is partitioned
    exactly once and community quality within a bucket degrades
    gracefully — the same refinement argument as per-component
    detection itself (communities never span components / buckets).
    Hashing by endpoint (not by the (kind,a,b) unit key) keeps the
    expected 1/n_buckets of intra-bucket edges instead of ~none."""
    from pyspark.sql import Window

    try:
        import igraph  # noqa: F401
        import leidenalg  # noqa: F401
        have_leiden = True
    except ImportError:
        have_leiden = False

    tag = "leiden" if have_leiden else "louvain"
    units = units_with_components(nodes, edges)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        names, edge_idx, edge_pairs = _leiden_index(pdf)
        membership = _detect_membership(
            len(names), edge_idx, resolution, seed, have_leiden
        )
        rows = _membership_to_rows(
            membership, names, edge_pairs, max_size, tag
        )
        return pd.DataFrame(
            rows,
            columns=[
                "community_id", "nodes", "edges", "n_units", "token_sum",
            ],
        )

    w = Window.partitionBy("component")
    n_buckets = F.ceil(
        F.count(F.lit(1)).over(w) / F.lit(COMPONENT_UNIT_GATE)
    )
    # ONE materialization of the CC-join + window-count pipeline: the
    # gated branch probes it with isEmpty() at call time and the
    # ungated branch consumes it later — uncheckpointed, the whole
    # units pipeline ran twice in the common nothing-gated case.
    # localCheckpoint (not persist): blocks are freed by ContextCleaner
    # once the returned frame is dropped, instead of pinning the cache
    # for the session.
    bucketed = units.withColumn("_nb", n_buckets).withColumn(
        "_bucket",
        F.when(F.col("_nb") <= 1, F.lit(0)).otherwise(
            F.pmod(F.xxhash64("a"), F.col("_nb"))
        ),
    ).localCheckpoint(eager=True)
    ungated = (
        bucketed.where(F.col("_nb") <= 1)
        .groupBy("component", "_bucket")
        .applyInPandas(apply_fn, schema=COMMUNITY_SCHEMA)
    )
    gated = _gated_leiden_rows(
        bucketed.where(F.col("_nb") > 1), max_size, resolution, seed,
        have_leiden, COMPONENT_UNIT_GATE,
    )
    return ungated.unionByName(gated)


MAX_COARSEN_LEVELS = 4


def _coarsen_to_membership(
    mem: DataFrame, cgraph: DataFrame, e: DataFrame, gate: int,
    resolution: float, seed: int, have_leiden: bool,
) -> DataFrame:
    """Iterative distributed Louvain coarsening: given a fragment
    membership ``mem`` (component, entity_name, frag) and its
    contracted weighted graph ``cgraph`` (component, fa, fb, w —
    self-loops carry intra-fragment mass), repeatedly

    - finalize every component whose contracted graph fits ``gate``
      units with ONE weighted detection task (the coarse pass), and
    - for components still above the gate, hash-bucket the FRAGMENTS,
      merge locally (weighted detection per bucket over intra-bucket
      contracted edges), re-contract, and go again —

    until everything is finalized or ``MAX_COARSEN_LEVELS`` is hit
    (community-free graphs — long chains — contract slowly; those
    keep their fragments as communities, loudly).  Every pandas frame
    anywhere in the loop is bounded by ``gate`` rows-of-units, and
    each level is one applyInPandas + one groupBy contraction.
    Returns (component, entity_name, coarse:long)."""
    from pyspark.sql import Window

    final_schema = T.StructType(
        [
            T.StructField("component", T.LongType(), False),
            T.StructField("frag", T.StringType(), False),
            T.StructField("coarse", T.LongType(), False),
        ]
    )
    relabel_schema = T.StructType(
        [
            T.StructField("component", T.LongType(), False),
            T.StructField("frag", T.StringType(), False),
            T.StructField("newfrag", T.StringType(), False),
        ]
    )

    def _index_edges(pdf: pd.DataFrame):
        fnames = sorted(pdf[pdf["fb"].isna()]["fa"])
        idx = {f: i for i, f in enumerate(fnames)}
        epdf = pdf[pdf["fb"].notna()]
        edge_idx, weights = [], []
        for a, b, wt in zip(epdf["fa"], epdf["fb"], epdf["w"]):
            if a in idx and b in idx:
                edge_idx.append((idx[a], idx[b]))
                weights.append(float(wt))
        return fnames, edge_idx, weights

    def final_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (component,) = key
        fnames, edge_idx, weights = _index_edges(pdf)
        membership = _detect_membership(
            len(fnames), edge_idx, resolution, seed, have_leiden,
            weights=weights,
        )
        return pd.DataFrame(
            {
                "component": component,
                "frag": fnames,
                "coarse": [int(c) for c in membership],
            }
        )

    def merge_fn_for(level: int):
        def merge_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
            component, bucket = key
            fnames, edge_idx, weights = _index_edges(pdf)
            membership = _detect_membership(
                len(fnames), edge_idx, resolution, seed, have_leiden,
                weights=weights,
            )
            return pd.DataFrame(
                {
                    "component": component,
                    "frag": fnames,
                    "newfrag": [
                        f"{level}-{bucket}-{c}" for c in membership
                    ],
                }
            )

        return merge_fn

    finished: list = []
    for level in range(MAX_COARSEN_LEVELS + 1):
        # cut lineage per level: cgraph/mem are each referenced by
        # several consumers below, and the next level builds on both —
        # uncut, the logical plan grows multiplicatively per level
        cgraph = cgraph.localCheckpoint(eager=True)
        flist = mem.select("component", "frag").distinct()
        sizes = (
            flist.groupBy("component")
            .agg(F.count(F.lit(1)).alias("nf"))
            .join(
                cgraph.groupBy("component")
                .agg(F.count(F.lit(1)).alias("ne")),
                "component", "left",
            )
            .fillna(0, ["ne"])
            .withColumn("nu", F.col("nf") + F.col("ne"))
            .localCheckpoint(eager=True)
        )
        big = sizes.where(F.col("nu") > gate).select("component", "nu")
        small = sizes.where(F.col("nu") <= gate).select("component")

        frag_rows = flist.select(
            "component", F.col("frag").alias("fa"),
            F.lit(None).cast("string").alias("fb"),
            F.lit(0.0).alias("w"),
        )
        small_in = (
            frag_rows.join(small, "component", "left_semi")
            .unionByName(cgraph.join(small, "component", "left_semi"))
        )
        labels = small_in.groupBy("component").applyInPandas(
            final_fn, schema=final_schema
        )
        finished.append(
            mem.join(labels, ["component", "frag"]).select(
                "component", "entity_name", "coarse"
            )
        )

        if big.limit(1).count() == 0:
            break
        if level == MAX_COARSEN_LEVELS:
            import logging

            logging.getLogger("graphgen_spark.partitioners").warning(
                "leiden gate: component(s) still above gate=%d after "
                "%d coarsening levels — keeping their fragments as "
                "communities (no community structure to contract into)",
                gate, level,
            )
            wfrag = Window.partitionBy("component").orderBy("frag")
            ident = (
                flist.join(
                    big.select("component"), "component", "left_semi"
                )
                .withColumn(
                    "coarse",
                    (F.row_number().over(wfrag) - 1).cast("long"),
                )
            )
            finished.append(
                mem.join(ident, ["component", "frag"]).select(
                    "component", "entity_name", "coarse"
                )
            )
            break

        # bucket the FRAGMENTS of still-giant components and merge
        # locally; cross-bucket contracted edges re-aggregate at the
        # next level's contraction, so mass is deferred, never lost
        nb = F.ceil(F.col("nu") / F.lit(gate))
        b_frag = (
            frag_rows.join(big, "component")
            .withColumn("_bucket", F.pmod(F.xxhash64("fa"), nb))
        )
        b_edge = (
            cgraph.join(big, "component")
            .withColumn("_ba", F.pmod(F.xxhash64("fa"), nb))
            .where(F.col("_ba") == F.pmod(F.xxhash64("fb"), nb))
            .withColumn("_bucket", F.col("_ba"))
        )
        merge_in = b_frag.select(
            "component", "_bucket", "fa", "fb", "w"
        ).unionByName(
            b_edge.select("component", "_bucket", "fa", "fb", "w")
        )
        relabel = merge_in.groupBy("component", "_bucket").applyInPandas(
            merge_fn_for(level), schema=relabel_schema
        )
        # inner joins restrict mem (and therefore the re-contraction)
        # to the still-unfinished components
        mem = (
            mem.join(relabel, ["component", "frag"])
            .select(
                "component", "entity_name",
                F.col("newfrag").alias("frag"),
            )
            .localCheckpoint(eager=True)
        )
        cgraph = (
            e.join(
                mem.select(
                    "component", F.col("entity_name").alias("a"),
                    F.col("frag").alias("fa"),
                ),
                ["component", "a"],
            )
            .join(
                mem.select(
                    "component", F.col("entity_name").alias("b"),
                    F.col("frag").alias("fb"),
                ),
                ["component", "b"],
            )
            .groupBy("component", "fa", "fb")
            .agg(F.count(F.lit(1)).cast("double").alias("w"))
        )

    out = finished[0]
    for f in finished[1:]:
        out = out.unionByName(f)
    return out


def _gated_leiden_rows(
    gunits: DataFrame, max_size: int, resolution: float, seed: int,
    have_leiden: bool, gate: int,
) -> DataFrame:
    """Community rows for GATED giant components, via one level of
    distributed Louvain coarsening (Blondel et al. 2008 §2's
    aggregation step, distributed):

    1. fragment pass — per (component, hash-bucket) detection exactly
       as before, but emitting a node->fragment membership instead of
       final rows;
    2. contraction — every edge unit of the component (INCLUDING the
       cross-bucket edges the fragment pass never saw) is mapped to a
       (frag_a, frag_b) pair and weight-aggregated: one groupBy, size
       ~ |fragments| + distinct fragment pairs, orders of magnitude
       smaller than the component;
    3. coarse pass — iterative weighted detection over the contracted
       graph (``_coarsen_to_membership``): components whose contracted
       graph fits ``gate`` finalize in one weighted task (self-loops
       carry intra-fragment mass, so this optimizes the original
       graph's modularity restricted to fragment-respecting
       partitions — fragments of one true community, split by the
       hash gate, are re-merged by the cross-bucket edge mass);
       still-giant contracted graphs are re-bucketed BY FRAGMENT and
       locally merged, level by level, until they fit (community-free
       graphs — e.g. long chains — contract slowly and keep their
       fragments as communities after ``MAX_COARSEN_LEVELS``, loudly);
    4. row build — fully distributed: deterministic max_size chunking
       by rank-over-(community, name) window, induced edges re-joined
       by endpoint chunk keys.  The window sort is per final
       community (not per component); a community is Louvain-bounded,
       orders of magnitude smaller than a gated component.

    Measured on the 301k-unit planted-partition probe
    (tools/louvain_gate_probe.py, K=1000 S=100 gate=80k -> 4 buckets):
    pre-coarsening gated modularity was 0.2504 vs 0.9955 ungated
    (fragments never re-merged); the coarse pass recovers it — see
    BASELINE.md round-6 table."""
    from pyspark.sql import Window

    tag = "leiden" if have_leiden else "louvain"
    # gunits is a filter over the caller's checkpointed bucketed
    # frame, so the probe and every downstream consumer read cached
    # blocks — no persist needed here (a session-lifetime persist
    # leaked one gated-units frame per call)
    if gunits.isEmpty():
        # common case below web scale: nothing gated — skip the
        # coarsening loop's per-level count actions entirely
        return gunits.sparkSession.createDataFrame(
            [], schema=COMMUNITY_SCHEMA
        )

    frag_schema = T.StructType(
        [
            T.StructField("component", T.LongType(), False),
            T.StructField("entity_name", T.StringType(), False),
            T.StructField("frag", T.StringType(), False),
        ]
    )

    def frag_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        component, bucket = key
        names, edge_idx, _ = _leiden_index(pdf)
        membership = _detect_membership(
            len(names), edge_idx, resolution, seed, have_leiden
        )
        return pd.DataFrame(
            {
                "component": component,
                "entity_name": names,
                "frag": [f"{bucket}-{c}" for c in membership],
            }
        )

    # localCheckpoint (not persist): the coarsening loop re-joins
    # this frame level after level — without cutting lineage the
    # logical plan grows multiplicatively per level and the driver
    # OOMs rendering it (same pattern as components.py fixpoint)
    frags = (
        gunits.groupBy("component", "_bucket")
        .applyInPandas(frag_fn, schema=frag_schema)
        .localCheckpoint(eager=True)
    )

    # contracted fragment graph: EVERY edge of the component rides in,
    # cross-bucket ones included — they are exactly the mass that lets
    # the coarse pass re-merge a community the hash gate split
    e = gunits.where(F.col("kind") == "e").select("component", "a", "b")
    contracted = (
        e.join(
            frags.select(
                "component", F.col("entity_name").alias("a"),
                F.col("frag").alias("fa"),
            ),
            ["component", "a"],
        )
        .join(
            frags.select(
                "component", F.col("entity_name").alias("b"),
                F.col("frag").alias("fb"),
            ),
            ["component", "b"],
        )
        .groupBy("component", "fa", "fb")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    mem = _coarsen_to_membership(
        frags, contracted, e, gate, resolution, seed, have_leiden
    )

    # distributed row build: rank-chunking + induced-edge re-join
    wcomm = Window.partitionBy("component", "coarse").orderBy(
        "entity_name"
    )
    # localCheckpoint (not persist): two consumers below, and the
    # blocks must be reclaimable when the result frame is dropped —
    # a bare persist pinned this membership for the session lifetime
    node_chunk = mem.withColumn(
        "k",
        ((F.row_number().over(wcomm) - 1) / max_size).cast("int"),
    ).localCheckpoint(eager=True)
    node_rows = node_chunk.groupBy("component", "coarse", "k").agg(
        F.sort_array(F.collect_list("entity_name")).alias("nodes")
    )
    edge_rows = (
        e.join(
            node_chunk.select(
                "component", F.col("entity_name").alias("a"),
                "coarse", "k",
            ),
            ["component", "a"],
        )
        .join(
            node_chunk.select(
                "component", F.col("entity_name").alias("b"),
                F.col("coarse").alias("cb"), F.col("k").alias("kb"),
            ),
            ["component", "b"],
        )
        .where((F.col("coarse") == F.col("cb")) & (F.col("k") == F.col("kb")))
        .groupBy("component", "coarse", "k")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("a").alias("src"), F.col("b").alias("dst")
                    )
                )
            ).alias("edges")
        )
    )
    empty_edges = F.array().cast(
        "array<struct<src:string,dst:string>>"
    )
    return (
        node_rows.join(edge_rows, ["component", "coarse", "k"], "left")
        .withColumn("edges", F.coalesce("edges", empty_edges))
        .select(
            F.concat_ws(
                "-", F.lit(tag), F.col("coarse"), F.col("k"),
                F.element_at("nodes", 1),
            ).alias("community_id"),
            "nodes",
            "edges",
            (F.size("nodes") + F.size("edges")).cast("int").alias(
                "n_units"
            ),
            F.lit(0).cast("long").alias("token_sum"),
        )
    )


def community_to_batches(
    communities: DataFrame, nodes: DataFrame, edges: DataFrame
) -> DataFrame:
    """Re-attach node/edge payloads to community ids and drop
    self-loops (reference ``bases/base_partitioner.py:22-53``):
    explode + join instead of per-id actor lookups."""
    node_payload = (
        communities.select(
            "community_id", F.explode("nodes").alias("entity_name")
        )
        .join(nodes, "entity_name")
        .groupBy("community_id")
        .agg(
            F.collect_list(
                F.struct("entity_name", "entity_type", "description")
            ).alias("node_data")
        )
    )
    edge_payload = (
        communities.select(
            "community_id", F.explode("edges").alias("e")
        )
        .where(F.col("e.src") != F.col("e.dst"))
        .join(
            edges,
            (F.col("e.src") == edges.src_id)
            & (F.col("e.dst") == edges.tgt_id),
        )
        .groupBy("community_id")
        .agg(
            F.collect_list(
                F.struct("src_id", "tgt_id", "description")
            ).alias("edge_data")
        )
    )
    return (
        communities.select("community_id", "n_units", "token_sum")
        .join(node_payload, "community_id", "left")
        .join(edge_payload, "community_id", "left")
    )
