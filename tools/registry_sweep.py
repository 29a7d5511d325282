"""Full-registry profiling sweep (optimization guide §1): time EVERY
registered query at $SPARK_GRAFT_SF_DIR — construction (plan build)
vs execution (noop sink) wall, min over reps — and count the plan
nodes that matter for the 100 TB posture (Exchange, join strategies,
Python-boundary nodes, Sorts).

The r11 verdict flagged that only the 8 re-measured outliers of the
r11 sweep were committed; this tool makes the full sweep reproducible
and its output committable (plans/rNN/registry_sweep.json).

Usage: python tools/registry_sweep.py [--reps N] [--out FILE] [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from rsyslog_spark import get_spark

NODES = ("Exchange", "BroadcastHashJoin", "SortMergeJoin",
         "ShuffledHashJoin", "BroadcastNestedLoopJoin",
         "CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
         "MapInPandas", "MapInArrow", "Sort", "Window",
         "HashAggregate", "ObjectHashAggregate", "SortAggregate")

#: a plan line's operator name: after the tree drawing ("+- ", ":  ")
#: and an optional whole-stage-codegen marker ("*(3) ")
_NODE_RE = re.compile(r"^[ \t:|+-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)", re.M)


def node_counts(plan: str) -> dict[str, int]:
    """Count the NODES in a plan string by whole operator name, so
    ObjectHashAggregate is not also a HashAggregate, BroadcastExchange
    not an Exchange, SortMergeJoin not a Sort."""
    names = Counter(_NODE_RE.findall(plan))
    return {n: names[n] for n in NODES if names[n]}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    reps = 3
    out_path = None
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i:i + 2]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i:i + 2]
    only = set(args)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("registry_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = entrymod.queries()

    sweep: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        best_c = best_e = float("inf")
        plan_counts: dict[str, int] = {}
        err = None
        for rep in range(reps):
            sc.setJobDescription(f"sweep:{name}#{rep}")
            try:
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            except Exception as e:  # noqa: BLE001 — record and move on
                err = f"{type(e).__name__}: {e}"[:300]
                break
            best_c = min(best_c, t1 - t0)
            best_e = min(best_e, t2 - t1)
            if rep == 0:
                plan_counts = node_counts(
                    df._jdf.queryExecution().executedPlan().toString())
        sc.setJobDescription(None)
        entry: dict = {"err": err} if err else {
            "construct_s": round(best_c, 3),
            "exec_s": round(best_e, 3),
            "nodes": plan_counts,
        }
        sweep[name] = entry
        print(f"{name}: {json.dumps(entry)}", flush=True)

    total_c = sum(e.get("construct_s", 0) for e in sweep.values())
    total_e = sum(e.get("exec_s", 0) for e in sweep.values())
    doc = {
        "sf_dir": sf_dir, "reps": reps, "n_queries": len(sweep),
        "total_construct_s": round(total_c, 2),
        "total_exec_s": round(total_e, 2),
        "queries": sweep,
    }
    if out_path:
        with open(out_path, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(sweep)} entries -> {out_path}")
    else:
        print(json.dumps({k: v for k, v in doc.items()
                          if k != "queries"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
