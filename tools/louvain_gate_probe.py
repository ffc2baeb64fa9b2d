"""Quantify the giant-component gate's community-quality cost
(VERDICT r5 #3): ``leiden_partition`` hash-buckets components above
``COMPONENT_UNIT_GATE`` so no single task runs the pure-Python
modularity search over a web-scale component.  "Degrades gracefully"
was argued, not measured; this probe turns it into a number.

Measured history (K=1000 S=100 gate=80k -> 4 buckets, local[8]):
pre-coarsening (r5 code: per-bucket fragments WERE the communities,
cross-bucket edges dropped) retention_vs_ungated = 0.2515 — i.e. the
graceful-degradation claim was false.  With the r6 iterative
coarsening pass (fragments contracted to super-nodes, weighted
detection over the contracted graph re-merges fragments via the
cross-bucket edge mass) retention_vs_ungated = 0.9994, and the gated
run is FASTER than ungated (49.4 s vs 60.3 s: bucket tasks
parallelize the Python detection).

Setup: a planted-partition graph in ONE connected component —
``K`` communities of ``S`` nodes (ring + chord intra-edges, so each
community is locally dense), chained by single bridge edges.  At the
default K=1000, S=100 that is 100k nodes + 200k intra + 999 bridge
edges ~= 301k units, comfortably above the 200k gate default.

Measured: Newman modularity over the FULL edge set (bridges and
cross-bucket edges included — the honest quality metric) of
  - the planted ground-truth partition (the ceiling),
  - the ungated Louvain partition (one pandas frame),
  - the gated partition at ~4 hash buckets (gate=80k),
plus wall times.  Prints one JSON line; record the table in
BASELINE.md.

Usage: spark-submit --master local[8] tools/louvain_gate_probe.py \
           [K] [S] [gate] [family: planted|hier|heavytail]
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators import partitioners

K = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
S = int(sys.argv[2]) if len(sys.argv) > 2 else 100
GATE = int(sys.argv[3]) if len(sys.argv) > 3 else 80_000
# r7 (VERDICT r6 #6): graph families beyond the original planted
# ring+chord chain, chosen where greedy modularity is KNOWN to
# struggle —
#   planted    K communities of S (ring + chord), bridge-chained
#   hier       nested: K/5 macro-communities x 5 sub-communities of S
#              each; dense intra-sub, 10 cross-sub edges per adjacent
#              sub pair inside a macro, single bridges between macros.
#              Ground truth = the SUB level; greedy methods tend to
#              merge subs into macros (resolution limit).
#   heavytail  K hub-and-spoke communities (hub degree ~S, members
#              ring-connected), hubs chained, PLUS 10 super-hubs of
#              degree K/10 attached to hubs — a heavy-tailed degree
#              profile where hub attraction misleads greedy moves.
FAMILY = sys.argv[4] if len(sys.argv) > 4 else "planted"

spark = SparkSession.builder.appName("louvain_gate_probe").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

n_nodes = K * S


def _ids_to_edges(pairs):
    return pairs.select(
        F.format_string("n%07d", F.col("u")).alias("src_id"),
        F.format_string("n%07d", F.col("v")).alias("tgt_id"),
        F.lit("r").alias("description"),
        F.lit(4).cast("long").alias("length"),
    )


base = spark.range(n_nodes).select(
    (F.col("id") / S).cast("long").alias("c"),
    (F.col("id") % S).alias("i"),
    F.col("id"),
)

if FAMILY == "planted":
    # intra-community ring (i -> i+1 mod S) + chords (i -> i+5 mod
    # S): locally dense; bridge chain c -> c+1 keeps one component
    ring = base.select(
        F.col("id").alias("u"),
        (F.col("c") * S + (F.col("i") + 1) % S).alias("v"),
    )
    chord = base.select(
        F.col("id").alias("u"),
        (F.col("c") * S + (F.col("i") + 5) % S).alias("v"),
    )
    bridge = spark.range(K - 1).select(
        (F.col("id") * S).alias("u"),
        ((F.col("id") + 1) * S).alias("v"),
    )
    id_pairs = ring.unionByName(chord).unionByName(bridge)
elif FAMILY == "hier":
    G = 5                      # subs per macro; K must divide by G
    ring = base.select(
        F.col("id").alias("u"),
        (F.col("c") * S + (F.col("i") + 1) % S).alias("v"),
    )
    chord = base.select(
        F.col("id").alias("u"),
        (F.col("c") * S + (F.col("i") + 5) % S).alias("v"),
    )
    # 10 cross-sub edges between adjacent subs of the same macro:
    # node i of sub c <-> node i of sub c+1, i < 10 (skipping the
    # last sub of each macro)
    cross = base.where(
        (F.col("i") < 10) & ((F.col("c") % G) != G - 1)
    ).select(
        F.col("id").alias("u"),
        ((F.col("c") + 1) * S + F.col("i")).alias("v"),
    )
    # single bridge between consecutive macros (node 0 of each
    # macro's first sub)
    bridge = spark.range(K // G - 1).select(
        (F.col("id") * G * S).alias("u"),
        ((F.col("id") + 1) * G * S).alias("v"),
    )
    id_pairs = (
        ring.unionByName(chord).unionByName(cross).unionByName(bridge)
    )
elif FAMILY == "heavytail":
    N_SUPER = 10
    hub_star = base.where(F.col("i") > 0).select(
        (F.col("c") * S).alias("u"), F.col("id").alias("v")
    )
    ring = base.select(
        F.col("id").alias("u"),
        (F.col("c") * S + (F.col("i") + 1) % S).alias("v"),
    )
    hub_chain = spark.range(K - 1).select(
        (F.col("id") * S).alias("u"), ((F.col("id") + 1) * S).alias("v")
    )
    # super-hub s (ids n_nodes..n_nodes+9) attached to the hub of
    # every community c with c % N_SUPER == s: degree K/N_SUPER
    super_edges = spark.range(K).select(
        (F.lit(n_nodes) + F.col("id") % N_SUPER).alias("u"),
        (F.col("id") * S).alias("v"),
    )
    id_pairs = (
        hub_star.unionByName(ring).unionByName(hub_chain)
        .unionByName(super_edges)
    )
    n_nodes = n_nodes + N_SUPER
else:
    raise SystemExit(f"unknown family: {FAMILY}")

nodes = spark.range(n_nodes).select(
    F.format_string("n%07d", F.col("id")).alias("entity_name"),
    F.lit("ORG").alias("entity_type"),
    F.lit("d").alias("description"),
    F.lit(3).cast("long").alias("length"),
)
edges = _ids_to_edges(id_pairs).localCheckpoint(eager=True)
nodes = nodes.localCheckpoint(eager=True)
n_edges = edges.count()
n_units = n_nodes + n_edges


def modularity(membership):
    """Newman modularity of (entity_name, comm) over the full
    unweighted edge set: Q = sum_c [e_c/m - (d_c/2m)^2]."""
    e = (
        edges.select("src_id", "tgt_id")
        .join(membership.withColumnRenamed("entity_name", "src_id")
              .withColumnRenamed("comm", "cs"), "src_id")
        .join(membership.withColumnRenamed("entity_name", "tgt_id")
              .withColumnRenamed("comm", "ct"), "tgt_id")
    ).persist()
    m = e.count()
    intra = (
        e.where(F.col("cs") == F.col("ct"))
        .groupBy("cs").count()
        .withColumnRenamed("cs", "comm")
        .withColumnRenamed("count", "e_c")
    )
    deg = (
        e.select(F.col("cs").alias("comm"))
        .unionAll(e.select(F.col("ct").alias("comm")))
        .groupBy("comm").count()
        .withColumnRenamed("count", "d_c")
    )
    per = deg.join(intra, "comm", "left").fillna(0, ["e_c"]).select(
        (F.col("e_c") / m
         - (F.col("d_c") / (2.0 * m)) ** 2).alias("q")
    ).agg(F.sum("q")).collect()[0][0]
    e.unpersist()
    return float(per)


def detected_membership(gate):
    # max_size huge: chunk-splitting is a batching concern, not a
    # quality one — measure the raw detected communities
    partitioners.COMPONENT_UNIT_GATE = gate
    comms = partitioners.leiden_partition(nodes, edges, max_size=10**9)
    return comms.select(
        F.col("community_id").alias("comm"),
        F.explode("nodes").alias("entity_name"),
    ).localCheckpoint(eager=True)


# planted ground truth is nid/S for ALL families: planted sub-level
# communities for `planted`/`hier` (the hier macro level would be
# nid/(G*S) — deliberately NOT used: the probe measures against the
# finest planted structure), and for `heavytail` the member
# communities with the 10 super-hub ids lumping into one extra comm.
planted = nodes.select(
    "entity_name",
    F.substring("entity_name", 2, 8).cast("long").alias("nid"),
).select("entity_name", (F.col("nid") / S).cast("long").alias("comm"))
q_planted = modularity(planted)

t0 = time.time()
mem_ungated = detected_membership(gate=n_units + 1)
wall_ungated = time.time() - t0
q_ungated = modularity(mem_ungated)

t0 = time.time()
mem_gated = detected_membership(gate=GATE)
wall_gated = time.time() - t0
q_gated = modularity(mem_gated)

import math

print(json.dumps({
    "probe": "louvain_gate", "family": FAMILY,
    "K": K, "S": S, "n_units": n_units, "gate": GATE,
    "n_buckets": math.ceil(n_units / GATE),
    "q_planted": round(q_planted, 4),
    "q_ungated": round(q_ungated, 4),
    "q_gated": round(q_gated, 4),
    "retention_vs_ungated": round(q_gated / q_ungated, 4),
    "wall_ungated": round(wall_ungated, 1),
    "wall_gated": round(wall_gated, 1),
}), flush=True)
