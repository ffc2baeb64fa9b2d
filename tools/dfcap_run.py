"""One cold measurement of the dedup df_cap scale claim (VERDICT r4
#7): on a web corpus the n-gram shingle self-join is only linear if
stop-shingles are dropped first — a boilerplate shingle shared by d
docs contributes d^2 candidate pairs, so the uncapped join grows
super-linearly in corpus size while the capped join (pair contribution
bounded at df_cap^2 per shingle) tracks the postings volume.

Usage:
  spark-submit --master local[N] tools/dfcap_run.py <n_pages> \
      <ngram_cap|none|skip> [minhash|nominhash] [bands] [bucket_cap|none]

``bands`` (default 8) sizes the MinHash LSH banding: rows_per_band =
64 // bands.  On this corpus (heavy shared filler => typical cross-doc
Jaccard ~0.2-0.4) 16 bands x 4 rows collides on moderately-similar
pairs at ~n^2 volume — the banding depth must match the corpus
similarity profile, which is itself part of the scale story.

Prints one JSON line per op: {"probe": "dfcap", "op": ..., "n_pages":
..., "df_cap": ..., "wall": ..., "n_pairs": ...}.  The corpus is the
same deterministic synthetic page set the scaling matrix uses (heavy
shared filler — exactly the boilerplate profile that motivates the
cap), cached in /dev/shm across runs.
"""

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphgen_spark import synth
from graphgen_spark.datapipe.dedup import (
    minhash_verified_pairs,
    ngram_jaccard_pairs,
)

n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 10000
cap_arg = sys.argv[2] if len(sys.argv) > 2 else "100"
mh_mode = sys.argv[3] if len(sys.argv) > 3 else "nominhash"
do_minhash = mh_mode == "minhash"
do_sigonly = mh_mode == "sigonly"
do_candonly = mh_mode == "candonly"
bands = int(sys.argv[4]) if len(sys.argv) > 4 else 8
bucket_cap_arg = sys.argv[5] if len(sys.argv) > 5 else "none"
bucket_cap = None if bucket_cap_arg == "none" else int(bucket_cap_arg)

spark = SparkSession.builder.appName("dfcap_run").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

n_ent = synth.n_entities_for(n_pages)
corpus_dir = f"/dev/shm/scaling_pages_{n_pages}"
if not os.path.exists(corpus_dir):
    synth.pages_df(spark, n_pages, n_ent).repartition(64).write.mode(
        "overwrite"
    ).parquet(corpus_dir)

docs = (
    spark.read.parquet(corpus_dir)
    .select(F.xxhash64("url").alias("doc_id"), "text")
)


def report(op, df_cap, wall, n_pairs, **extra):
    print(json.dumps({
        "probe": "dfcap", "op": op,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_pages": n_pages, "df_cap": df_cap,
        "wall": round(wall, 2), "n_pairs": n_pairs, **extra,
    }), flush=True)


if cap_arg != "skip":
    cap = None if cap_arg == "none" else int(cap_arg)
    t0 = time.time()
    n = ngram_jaccard_pairs(
        docs, n=3, threshold=0.5, df_cap=cap
    ).count()
    report("ngram_jaccard_pairs", cap, time.time() - t0, n)

if do_minhash:
    t0 = time.time()
    n = minhash_verified_pairs(docs, n=3, num_perm=64, bands=bands,
                               threshold=0.5,
                               bucket_cap=bucket_cap).count()
    report("minhash_verified_pairs", None, time.time() - t0, n,
           bands=bands, bucket_cap=bucket_cap)

if do_sigonly:
    # attribute the policy-independent linear base: the Python MinHash
    # hop alone (no banding, no joins) — cap/banding policy can only
    # shrink what sits ABOVE this floor.  The hop also emits each doc's
    # gram set for verification, which this count drops: the floor
    # includes shipping those sets out of Python (160k pages, 4 cores:
    # ~18 s signing alone -> ~20 s with the sets)
    from graphgen_spark.datapipe.dedup import minhash_signatures

    t0 = time.time()
    n = minhash_signatures(docs, "text", "doc_id", 3, 64, 42).count()
    report("minhash_signatures_only", None, time.time() - t0, n)

if do_candonly:
    # candidate VOLUME under a policy — the quantity the verification
    # join multiplies by each doc's shingle list; scanning policies on
    # volume is ~5x cheaper than full verification walls
    from graphgen_spark.datapipe.dedup import lsh_candidate_pairs

    t0 = time.time()
    n = lsh_candidate_pairs(docs, "text", "doc_id", 3, 64, bands, 42,
                            bucket_cap).count()
    report("lsh_candidate_pairs", None, time.time() - t0, n,
           bands=bands, bucket_cap=bucket_cap)
