"""Evidence for the BASELINE.md skew gate: "no single straggler task
> 4x median task time in the linking stage".

Runs the JVM-broadcast-join linking + salted merge path (the stages the
Zipf-skewed entity distribution stresses) on a synthetic corpus with
the Spark UI enabled, then reads per-task durations from the status
REST API and reports, for every completed stage with enough tasks, the
max/median task-duration ratio.  Exit code 1 if any heavy stage
violates the 4x gate.

Usage: python tools/skew_probe.py [n_pages]
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
MIN_TASKS = 8          # stages smaller than this are all-overhead
MIN_STAGE_MS = 1_000   # ignore trivial stages: ratio of 30ms vs 10ms
GATE = 4.0


def main() -> None:
    from graphgen_spark import synth
    from graphgen_spark.session import get_spark
    from graphgen_spark.pipelines import kg_pipeline, run_kg_pipeline

    spark = get_spark(
        master="local[8]",
        app_name="skew_probe",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl

    n_ent = synth.n_entities_for(N_PAGES)
    pages = synth.pages_df(spark, N_PAGES, n_ent)
    alias = synth.alias_dictionary_df(spark, n_ent)
    # a zero label-map guard keeps linking out of the extraction hop:
    # linking is the explicit JVM broadcast join in canonicalize, merge
    # is the salted two-phase aggregate — the stages under test
    kg_pipeline.LABEL_MAP_MAX_ROWS = 0
    out = run_kg_pipeline(
        spark, pages, alias_dict=alias, chunk_size=512, chunk_overlap=64,
    )
    out["edges"].count()  # executes link + both merges

    app_id = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        stages = json.load(r)

    report, violations = [], []
    for st in stages:
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages/"
            f"{st['stageId']}/{st['attemptId']}/taskSummary"
            "?quantiles=0.0,0.5,1.0"
        ) as r:
            q = json.load(r)
        lo, med, hi = q["executorRunTime"]
        n = st["numCompleteTasks"]
        if n < MIN_TASKS or hi < MIN_STAGE_MS:
            continue
        ratio = hi / med if med > 0 else float("inf")
        row = {
            "stage": st["stageId"],
            "name": st["name"].split("\n")[0][:60],
            "tasks": n,
            "median_ms": med,
            "max_ms": hi,
            "ratio": round(ratio, 2),
        }
        report.append(row)
        if ratio > GATE:
            violations.append(row)

    print(json.dumps({
        "n_pages": N_PAGES,
        "gate": GATE,
        "stages_checked": len(report),
        "worst_ratio": max((r["ratio"] for r in report), default=None),
        "stages": sorted(report, key=lambda r: -r["ratio"])[:10],
        "violations": violations,
    }, indent=1))
    sys.exit(1 if violations else 0)


if __name__ == "__main__":
    main()
