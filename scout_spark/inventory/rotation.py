"""Driver correctness-window rotation.

The driver's per-round DuckDB differential (CORRECTNESS_r{N}.json)
records only the first ~50 entries of ``queries()`` in iteration order.
With >100 registered operators, a static order leaves a permanent
unchecked tail (round 1: 52 entries — the whole TPC-H wave, temporal,
vector/dedup — had no driver entry).

Fix: order the registry so names that already earned a driver
correctness record in a prior round rotate to the BACK and
never-checked entries move to the FRONT. The records are read from
every CORRECTNESS_r{N}.json in the repo root, so the order maintains
itself as the driver writes new rounds.
"""

from __future__ import annotations

def _scan_driver_records() -> tuple[
    frozenset[str], frozenset[str], dict, frozenset[str], dict, int
]:
    """(all recorded names, names whose LATEST record was red, name ->
    latest round it appeared in) across every CORRECTNESS_r*.json the
    driver has written to the repo root — self-maintaining across
    rounds. A red record (any of rows/schema/hash
    false, or an error) marks the name for priority re-verification: it
    sorts right behind never-checked entries so the fix actually
    re-enters the next driver window. The per-name latest round drives
    staleness-aware green rotation: the longest-unverified greens
    re-enter the window first instead of a fixed registration prefix
    re-checking forever."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    names: set[str] = set()
    red: set[str] = set()
    last_round: dict[str, int] = {}
    hash_green: set[str] = set()
    n_records: dict[str, int] = {}
    max_round = 0
    paths = sorted(
        glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    for path in paths:
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rec, dict):
            continue
        max_round = max(max_round, rnd)
        for k, v in rec.items():
            if not isinstance(k, str):
                continue
            names.add(k)
            last_round[k] = max(rnd, last_round.get(k, 0))
            n_records[k] = n_records.get(k, 0) + 1
            red.discard(k)  # a newer record supersedes an older red
            if isinstance(v, dict):
                # red = an oracle comparison that FAILED or an execution
                # error; rows-only-by-design records carry err='no_oracle'
                # with all match fields None — weaker signal, not a failure
                failed = (
                    v.get("rows_match") is False
                    or v.get("schema_match") is False
                    or v.get("hash_match") is False
                    or v.get("err") not in (None, "no_oracle")
                )
                if failed:
                    red.add(k)
                if v.get("hash_match") is True:
                    hash_green.add(k)
    return (
        frozenset(names),
        frozenset(red),
        last_round,
        frozenset(hash_green),
        n_records,
        max_round,
    )


(
    CHECKED_PRIOR_ROUNDS,
    FAILED_PRIOR_ROUNDS,
    LAST_CHECKED_ROUND,
    ORACLE_GREEN_EVER,
    N_RECORDS,
    MAX_RECORDED_ROUND,
) = _scan_driver_records()


def rotation_key(name: str, has_oracle: bool):
    """Sort key tiers; within a tier, ties break on the entry name, so
    the window depends only on the registry's contents and the driver
    records, never on the order modules register their entries:

    0. previously-red — a fixed failure MUST re-enter the window; it
       sorts ahead of everything so no volume of newly registered
       queries can push a red re-check past the ~50 cutoff
    1. never-checked — an entry with no driver record yet, or one that
       is oracle-backed NOW but has never earned a hash-green driver
       record (every prior record was rows-only): an in-place rows-only
       → oracle conversion has a brand-new oracle comparison the driver
       has never run, so it re-enters the window like a new entry.
    2. second exposure — an entry whose ONLY driver record is from the
       latest recorded round re-checks once more on the next round's
       regenerated corpus before joining the green rotation (a
       first-exposure green can be corpus-shape luck).
       Self-maintaining: each round's new entries automatically claim
       second-exposure slots the following round.
    3. checked-green — rotate to the back, ordered by last-checked
       round, so the STALEST green (the one whose latest driver record
       is oldest) re-verifies first and every green cycles through the
       ~50-slot window on a steady cadence."""
    if name in FAILED_PRIOR_ROUNDS:
        return (0, 0, name)
    if name not in CHECKED_PRIOR_ROUNDS or (
        has_oracle and name not in ORACLE_GREEN_EVER
    ):
        return (1, 0, name)
    if (
        N_RECORDS.get(name, 0) == 1
        and LAST_CHECKED_ROUND.get(name, 0) == MAX_RECORDED_ROUND
    ):
        return (2, 0, name)
    return (3, LAST_CHECKED_ROUND.get(name, 0), name)


def ordered_names(registry) -> list[str]:
    """Registry names in driver-window priority order."""
    return sorted(
        registry, key=lambda n: rotation_key(n, registry[n].oracle is not None)
    )
