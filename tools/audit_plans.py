"""Physical-plan audit: one line per registered query with the plan
properties the 100 TB design depends on.

Columns:
- scans:      parquet FileScan count (subplan duplication shows up here)
- pushed:     scans with non-empty PushedFilters
- prunedcols: True when no scan reads all columns of a wide table
- bcast/smj/shj: join strategy mix in the INITIAL plan (AQE may demote)
- exch:       shuffle exchanges (each is a full network pass)
- codegen:    WholeStageCodegen span count (HOF-heavy plans fall back)
- python:     any Python UDF / mapInPandas boundary in the plan

Usage: python tools/audit_plans.py [sf_dir] [prefix]
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cati_database_feeder_spark.session import get_session
from cati_database_feeder_spark import queryset


def audit(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"FileScan parquet [^\n]*", plan)
    pushed = [s for s in scans if re.search(r"PushedFilters: \[[^\]]", s)]
    # FORCED join strategies (hints) live in the analyzed logical plan
    # as ResolvedHint nodes — the executedPlan's BroadcastHashJoin rows
    # can't distinguish "Catalyst chose broadcast from sizes" (fine)
    # from "a hint forces broadcast regardless of size" (the 100 TB
    # hazard the round-5/6 verdicts flagged). BROADCAST hints on
    # scaling frames are the ones to hunt; shuffle_hash/merge hints
    # only pick among shuffle strategies and cannot OOM anything.
    analyzed = df._jdf.queryExecution().analyzed().toString()
    hints = re.findall(r"ResolvedHint \(strategy=(\w+)", analyzed)
    return {
        "scans": len(scans),
        "pushed": len(pushed),
        "bcast": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "exch": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": bool(re.search(
            r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
            r"|BatchEvalPython|AggregateInPandas|ArrowAggregatePython", plan)),
        "forced_bcast": sum(1 for h in hints if "broadcast" in h.lower()),
        "forced_other": sum(1 for h in hints if "broadcast" not in h.lower()),
        # O(n*m) shapes: fine for a deliberate bounded baseline
        # (brute-force cosine), a scale-killer anywhere else
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_session("audit")
    spark.sparkContext.setLogLevel("ERROR")
    hdr = (f"{'query':34s} {'scans':>5} {'push':>4} {'bcast':>5} {'smj':>3} "
           f"{'shj':>3} {'exch':>4} {'cg':>3} py {'hintB':>5} {'hintS':>5} "
           f"{'cart':>4}")
    print(hdr)
    print("-" * len(hdr))
    for name, fn in queryset.QUERIES.items():
        if not name.startswith(prefix):
            continue
        try:
            a = audit(fn(spark, sf_dir))
            print(f"{name:34s} {a['scans']:>5} {a['pushed']:>4} {a['bcast']:>5} "
                  f"{a['smj']:>3} {a['shj']:>3} {a['exch']:>4} {a['codegen']:>3} "
                  f"{'Y' if a['python'] else '-'} "
                  f"{a['forced_bcast'] or '-':>5} {a['forced_other'] or '-':>5} "
                  f"{a['cartesian'] or '-':>4}")
        except Exception as exc:  # pragma: no cover
            print(f"{name:34s} ERROR {type(exc).__name__}: {exc}")


if __name__ == "__main__":
    main()
