"""Per-entry Spark-vs-DuckDB ratio capture → RATIOS_r{N}.json.

The repo's strongest perf claim (r06: 0.756× DuckDB aggregate over all
oracle-backed entries at sf0.1) previously lived in /tmp and PLANS.md
prose; VERDICT r06 item 3 asked for it as a first-class, re-runnable
artifact. On this ±1.6× wall-variance box the per-query oracle RATIO is
the only load-robust round-over-round signal — absolute walls are not.

Methodology (PLANS.md "Round-6: FULL-table ratio capture"):
- per entry: warm pass then timed pass, each a FRESH
  ``queries()[name](spark, sf)`` build — re-collecting the same
  DataFrame object reuses AQE-materialized shuffle stages and
  understates the honest wall (simhash looked 2.5 s, was 17.7 s).
- ``.collect()`` on the Spark side vs ``fetchall()`` on DuckDB: both
  pay full result materialization, apples-to-apples. Caveat recorded
  in the output: collect overstates large-output entries vs the
  bench's noop-write timing — the bench number is the graded wall;
  this file is for RATIOS.
- DuckDB guarded by an interrupt watchdog (quadratic oracles like
  dedup_containment_shingle exceed any budget at sf0.1 by design —
  recorded as ``duck_timeout``).
- the entry loader, the warm-then-timed wall, the DuckDB watchdog and
  the load waits are scout_spark.measure's, shared with bench.py and
  scripts/floor_capture.py; the thresholds below are this capture's.
- load_avg recorded at start and end; a capture taken above ~1.0
  start load is not comparable round-over-round. A long sequential
  capture self-loads the box ~2-3×: re-measure flagged entries ALONE,
  idle, median≥3 before acting on any single number.

Usage:
    python3 scripts/ratio_capture.py --round 7            # → RATIOS_r07.json
    python3 scripts/ratio_capture.py --round 7 --only dedup_simhash_hamming_pairs
    python3 scripts/ratio_capture.py --sf-dir /root/testdata/sf0.01 --out /tmp/r.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scout_spark.measure import (  # noqa: E402
    DUCK_TIMEOUT_S,
    duck_wall,
    load_entry_module,
    median_wall,
    wait_for_load,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--timeout", type=float, default=DUCK_TIMEOUT_S)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    out = args.out or (
        os.path.join(REPO, f"RATIOS_r{args.round:02d}.json")
        if args.round
        else "/tmp/ratios.json"
    )

    from scout_spark.session import get_spark
    from scout_spark.testing import oracle_connection

    m = load_entry_module()
    spark = get_spark("ratio-capture", cpus=args.cpus)
    con = oracle_connection(args.sf_dir)
    q, o = m.queries(), m.oracle_sql()
    names = [n for n in sorted(q) if not args.only or n in args.only]

    # idle start gate (VERDICT r08 item 4): RATIOS_r08's 0.945x
    # headline was a hot-capture number rescued by prose triage — the
    # committed artifact must stand on its own. Refuse to start above
    # load 2.0 (wait up to 10 min for decay, then abort), and pace the
    # sequential sweep: if self-load pushes past the threshold, pause
    # until it decays before measuring the next entry, so hot rows
    # stay the rare exception (<10%) instead of the norm.
    waited = wait_for_load(2.0, 600, 30)
    if os.getloadavg()[0] > 2.0:
        sys.exit(
            f"abort: box not idle after {waited}s "
            f"(load {os.getloadavg()[0]:.2f} > 2.0) — rerun later"
        )

    load_start = os.getloadavg()
    wall0 = time.time()
    entries: dict[str, dict] = {}
    spark_total = duck_total = 0.0
    timeouts, errors = [], []

    pace_budget = 1200.0  # total pacing across the sweep, seconds

    for name in names:
        fn = q[name]
        # between-entries cache hygiene (r11): a 342-entry sequential
        # capture otherwise accumulates every bare .persist() the
        # entries create; session-shared frames re-persist on their
        # next use, in the entry's untimed warm pass
        spark.catalog.clearCache()
        # pacing: let self-load decay before the next measurement —
        # bounded per entry AND by a global budget so pacing can never
        # dominate the sweep (past the budget, rows self-label hot)
        if pace_budget > 0:
            pace_budget -= wait_for_load(6.0, min(90, pace_budget), 10)
        # per-entry load sample: rows still captured hot after the
        # pacing wait are self-labeling (VERDICT r07 item 5).
        # Threshold 6.0, recalibrated r09 with evidence: a paced
        # sequential capture's OWN work holds 1-min load at ~2-3 on
        # this 32-core box (r09 first capture: median 2.79), and rows
        # above the old 2.0 threshold were statistically
        # indistinguishable from cold rows (geomean ratio-of-ratios
        # vs r07: hot 0.93, cold 1.01 — PLANS.md round-9). 6.0 still
        # catches r08-style external corruption (load 10-33.9).
        load_1m = round(os.getloadavg()[0], 2)
        rec: dict = {"load_1m": load_1m}
        if load_1m > 6.0:
            rec["hot_capture"] = True
        try:
            # one warm then one timed collect, each a fresh build
            rec["spark_s"] = round(
                median_wall(
                    lambda: fn(spark, args.sf_dir).collect(),
                    passes=1,
                    warm=1,
                ),
                3,
            )
        except Exception as ex:  # pragma: no cover - diagnostic path
            rec["err"] = f"spark: {str(ex)[:160]}"
            errors.append(name)
            entries[name] = rec
            print(name, rec, flush=True)
            continue
        if name in o:
            dt = duck_wall(
                con, o[name], passes=1, warm=1, timeout_s=args.timeout
            )
            if dt is None:
                rec["duck_timeout"] = args.timeout
                timeouts.append(name)
            elif isinstance(dt, str):
                rec["duck_err"] = dt
                errors.append(name)
            else:
                rec["duck_s"] = round(dt, 3)
                rec["ratio"] = round(rec["spark_s"] / dt, 3) if dt > 0 else None
                spark_total += rec["spark_s"]
                duck_total += dt
        entries[name] = rec
        print(name, rec, flush=True)

    result = {
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "wall_sec": round(time.time() - wall0, 1),
        "n_entries": len(entries),
        "n_oracle_timed": sum(1 for v in entries.values() if "ratio" in v),
        "spark_total_sec": round(spark_total, 1),
        "duck_total_sec": round(duck_total, 1),
        "aggregate_ratio": round(spark_total / duck_total, 3)
        if duck_total
        else None,
        # VERDICT r10 item 7: the aggregate is a SUM ratio, dominated
        # by the longest walls; the per-entry median tells the other
        # half of the story — it sits near the ~0.25 s Spark job
        # floor divided by a millisecond DuckDB wall, i.e. it
        # measures per-query launch overhead a real cluster
        # amortizes, NOT plan slack. Carry both so the floor-shaped
        # tail stays visible without reading every row.
        "median_entry_ratio": (
            round(
                statistics.median(
                    v["ratio"] for v in entries.values()
                    if v.get("ratio")
                ),
                2,
            )
            if any(v.get("ratio") for v in entries.values())
            else None
        ),
        "duck_timeouts": timeouts,
        "errors": errors,
        "notes": (
            "ratio = spark_collect / duckdb_fetchall over fresh builds, "
            "warm-then-timed; aggregate excludes rows-only entries and "
            "duck timeouts; collect overstates large-output entries vs "
            "the bench's noop wall — bench is the graded absolute, this "
            "file is the load-robust ratio signal. median_entry_ratio "
            "is job-floor-dominated (sub-second Spark walls over "
            "millisecond DuckDB walls) — read it as per-query launch "
            "overhead, not plan slack"
        ),
        "entries": entries,
    }
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(
        f"TOTAL spark {result['spark_total_sec']} duck "
        f"{result['duck_total_sec']} ratio {result['aggregate_ratio']} "
        f"→ {out}",
        flush=True,
    )


if __name__ == "__main__":
    main()
