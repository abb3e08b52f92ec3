"""Timing core of the measurement harnesses: ``bench.py``,
``scripts/ratio_capture.py``, ``scripts/floor_capture.py`` and
``scripts/plan_audit.py``.

Only what two or more harnesses use lives here: loading the driver's
entry file, the warm-then-median wall of any callable, the noop sink,
the DuckDB wall under an interrupt watchdog, and the wait for the box's
1-minute load to decay. Pass counts, load thresholds, sinks and
artifact keys stay with each harness.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import threading
import time
from collections.abc import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-execution DuckDB budget: quadratic oracles (dedup_containment_
# shingle at sf0.1) exceed any budget by design and are recorded as
# ``duck_timeout`` instead of stalling a capture.
DUCK_TIMEOUT_S = 120.0


def load_entry_module():
    """Import ``__spark_entry__.py`` by path, exactly as the driver does
    (not ``import scout_spark``: the driver loads the file)."""
    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def median_wall(run: Callable[[], object], passes: int, warm: int) -> float:
    """Median ``perf_counter`` wall of ``passes`` calls of ``run`` after
    ``warm`` untimed calls (codegen, parquet footers, JIT). Seconds,
    unrounded."""
    for _ in range(warm):
        run()
    walls = []
    for _ in range(passes):
        t0 = time.perf_counter()
        run()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def noop(df) -> None:
    """Execute ``df`` in full through the noop sink: no driver collect."""
    df.write.format("noop").mode("overwrite").save()


def duck_wall(con, sql: str, passes: int, warm: int, timeout_s: float):
    """``median_wall`` of ``con.execute(sql).fetchall()`` with every
    execution bounded by ``timeout_s``. Returns seconds, ``None`` when
    the watchdog interrupted an execution, or an ``"err: ..."`` string
    for a genuine SQL error.

    The watchdog is one thread per call that interrupts ``con`` once the
    running execution passes its deadline, so no thread start lands in a
    timed wall. It can fire in the gap between an execution finishing
    and the deadline being cleared; the drain at the end keeps that
    stale interrupt from failing the connection's next query."""
    import duckdb

    never = float("inf")
    deadline = [never]
    stop, fired = threading.Event(), threading.Event()

    def watchdog() -> None:
        while not stop.wait(0.05):
            if time.monotonic() > deadline[0]:
                fired.set()
                con.interrupt()
                return

    def run() -> None:
        deadline[0] = time.monotonic() + timeout_s
        try:
            con.execute(sql).fetchall()
        finally:
            deadline[0] = never

    dog = threading.Thread(target=watchdog, daemon=True)
    dog.start()
    try:
        return median_wall(run, passes, warm)
    except duckdb.InterruptException:
        return None
    except duckdb.Error as ex:
        return f"err: {str(ex)[:160]}"
    finally:
        stop.set()
        dog.join()
        if fired.is_set():
            try:
                con.execute("SELECT 1").fetchall()
            except duckdb.Error:
                pass


def wait_for_load(max_load: float, max_wait_s: float, step_s: float) -> float:
    """Sleep in ``step_s`` steps while the 1-minute load average exceeds
    ``max_load``, for at most about ``max_wait_s``. Returns the seconds
    waited; the caller reads the load again to decide what a row that
    is still hot means."""
    waited = 0
    while (load := os.getloadavg()[0]) > max_load and waited < max_wait_s:
        print(f"waiting for load {load:.2f} to fall to {max_load}", flush=True)
        time.sleep(step_s)
        waited += step_s
    return waited
