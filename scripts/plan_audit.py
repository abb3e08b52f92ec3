"""Registry-wide physical-plan audit (run once per round, like
scripts/ratio_capture.py).

Builds every registered entry's executed plan at a small sf and counts
the operators that experience says go wrong silently:

- inline Python kernel nodes (``ArrowEvalPython``/``BatchEvalPython``):
  a deterministic pandas UDF gets INLINED into every downstream
  reference — across Filter/Project/Generate boundaries; a repartition
  does NOT fence it (round-7 finds: minhash signature kernel x5,
  decontaminate shingles x4, IVF assign x2, pHash x4). Counts above
  the entry's number of distinct kernels × distinct inputs are
  duplication. Fixes: ``asNondeterministic()`` as a pure optimizer
  fence (lazy), or a lazy ``localCheckpoint`` of a small derived frame
  gating a large pipeline (+ bench E2E_REBUILD membership).
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: fine ONLY for
  1-row scalar attaches and bounded pools — anything data-sized is a
  quadratic bomb.

Usage:
    python3 scripts/plan_audit.py                      # sf0.001, all entries
    python3 scripts/plan_audit.py --only name1 name2
Exit code is 0 always — this is a reporting tool; judgment (which
counts are legitimate) stays with the reader. Compare against the
previous round's committed output to spot regressions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scout_spark.measure import load_entry_module  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    m = load_entry_module()
    from scout_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=args.cpus)
    report: dict[str, dict] = {}
    for name, fn in sorted(m.queries().items()):
        if args.only and name not in args.only:
            continue
        try:
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec = {
                # MapInPandas added r09: the keyframe/shot/audio
                # kernels run as mapInPandas stages, which the
                # ArrowEvalPython count (pandas_udf only) missed
                "python_kernels": plan.count("ArrowEvalPython")
                + plan.count("BatchEvalPython")
                + plan.count("MapInPandas"),
                "nested_loop_joins": plan.count(
                    "BroadcastNestedLoopJoin"
                ),
                "cartesian": plan.count("CartesianProduct"),
            }
        except Exception as ex:  # pragma: no cover — diagnostic tool
            rec = {"err": str(ex)[:160]}
        if any(v for v in rec.values()):
            report[name] = rec
            print(name, rec, flush=True)
    print(f"flagged {len(report)} entries", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
