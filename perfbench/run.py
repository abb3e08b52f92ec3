"""scout-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve_selective --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The seed makes the inputs (gazetteer,
request batteries and the pipeline tables), written by every run under
``.perfbench/<workload>-seed<n>/``; the program runs in its own process
(``worker.py``) with ``session.get_spark()`` defaults; this process
generates load, checks every output and prints the metrics. With
``--trace 0`` it prints the end-to-end metrics of the workload, scaled to a
reference machine speed by ``probe.Meter``; with ``--trace 1`` the
per-layer ones, unscaled: a traced run of either workload drives every
layer. The last stdout line is the result; the line before it holds
input statistics, sample counts and the output digest.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
import loadgen  # noqa: E402
import pipeline_inputs  # noqa: E402
import probe  # noqa: E402

REQUESTS_PER_SECOND = 1.25  # serve_selective sends round(this * seconds) requests
PASS_SECONDS = 4.5  # nominal pipeline pass; a run makes max(4, round(seconds / this)) passes
WARM_PASSES = 4  # untimed pipeline passes in set-up
COMPARE = 2  # served requests re-run in-process to compare hits
# A traced run sets up and drives every layer, so it is kept small to end
# well inside the 180 s run limit when the machine runs slow.
TRACE_REQUESTS = 8  # serve_selective requests of the traced run
TRACE_WARMUP = 1  # served warm-up requests of the traced run (4 otherwise)
TRACE_BATCH = 150  # batch requests of the traced forward_geocode_batch pass
DEADLINE = 170.0  # seconds; the worker is killed after this
WORKLOADS = ("serve_selective", "pipeline_ops")


def descendants(pid: int) -> list[int]:
    """The children of ``pid``, their children, and so on."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def hwm_kb(pids: list[int]) -> int:
    """Sum of the peak resident memory (VmHWM) of ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                total += sum(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except OSError:
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` so far."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class WorkerProc:
    """The worker process and its line protocol."""

    def __init__(self, workload: str, work: Path, trace: int):
        self.work = work
        self.log = open(work / "worker.log", "w")
        self.scratch = work / "scratch"
        self.scratch.mkdir(exist_ok=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT), str(HERE)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
        # keep Spark's block files and the JVM's and Python's temp files in
        # the checkout
        env["SPARK_LOCAL_DIRS"] = env["TMPDIR"] = str(self.scratch)
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.scratch}"
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), "--workload", workload,
             "--work", str(work), "--tables", str(work / "tables"),
             "--trace", str(trace), "--t0", repr(time.monotonic())],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=str(ROOT), env=env, text=True,
        )
        self.watchdog = threading.Timer(DEADLINE, self.proc.kill)
        self.watchdog.start()

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"worker exited (code {self.proc.poll()}); see {self.log.name}")
        return json.loads(line)

    def call(self, cmd: str, **kwargs) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kwargs}) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def close(self) -> None:
        """Stop the worker and wait until it and every process it started
        (the JVM, Spark's Python workers) have ended."""
        kids = descendants(self.proc.pid)
        try:
            if self.proc.poll() is None:
                self.call("quit")
                self.proc.wait(timeout=30)
        except (RuntimeError, OSError, subprocess.TimeoutExpired):
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            deadline = time.monotonic() + 30
            while any(_alive(k) for k in kids) and time.monotonic() < deadline:
                time.sleep(0.2)
            for k in kids:
                if _alive(k):
                    os.kill(k, signal.SIGKILL)
            self.watchdog.cancel()
            self.log.close()
            for name in ("scratch", "gazetteer", "tables"):
                shutil.rmtree(self.work / name, ignore_errors=True)
            (self.work / "raw.parquet").unlink(missing_ok=True)


def prepare(args) -> tuple[inputs.Inputs | None, Path, list[list[str]], dict]:
    """Write the run's inputs into a fresh work directory: the raw
    gazetteer and request batteries when the geocode layers run, the
    pipeline tables and entry orders when the pipeline entries run."""
    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    inp, orders, stats, reqs = None, [], {"seed": args.seed}, {}
    if args.workload == "serve_selective" or args.trace:
        inp = inputs.generate(args.seed)
        inputs.write_raw(inp, str(work / "raw.parquet"))
        warmup = inp.batteries["warmup"][:TRACE_WARMUP] if args.trace else inp.batteries["warmup"]
        reqs["warmup"] = [r["body"] for r in warmup]
        stats.update(inp.stats)
    if args.workload == "pipeline_ops" or args.trace:
        stats["tables"] = pipeline_inputs.write_tables(args.seed, str(work / "tables"))
        orders = pipeline_inputs.entry_orders(args.seed, WARM_PASSES + pipeline_passes(args.seconds))
        reqs["pipeline_warm"] = orders[:WARM_PASSES]
    with open(work / "requests.json", "w") as fh:
        json.dump(reqs, fh)
    return inp, work, orders[WARM_PASSES:], stats


def pipeline_passes(seconds: int) -> int:
    return max(4, round(seconds / PASS_SECONDS))


def _key(body: dict) -> str:
    return json.dumps([list(body["candidates"]), body.get("country"),
                       body.get("city_hint"), body.get("limit", 5)])


def _norms(body: dict) -> list[str]:
    return [n for n in (inputs.norm(t) for t in body["candidates"]) if n]


def served_failures(samples, reqs, inp) -> dict:
    bad = {}
    for s, req in zip(samples, reqs):
        p = checks.check_served(s.status, s.payload, req, inp.poi_names, inp.poi_latlon)
        if p:
            bad[req["id"]] = p
    return bad


def compare_inproc(w: WorkerProc, samples, reqs, bad: dict) -> None:
    """Re-run the first COMPARE requests with tokens in-process; HTTP hits
    must equal them."""
    picked = [(s, r) for s, r in zip(samples, reqs) if r["toks"] and s.payload][:COMPARE]
    got = w.call("inproc", bodies=[r["body"] for _, r in picked])["results"]
    for (s, r), res in zip(picked, got):
        if "hits" not in res or not checks.same_hits(s.payload["hits"], res["hits"]):
            bad.setdefault(r["id"], []).append("HTTP hits differ from in-process hits")


def _ok_ms(samples) -> list[float]:
    return [s.latency * 1e3 for s in samples if s.status == 200]


def run_serve(w, inp, args, detail, meter) -> tuple[dict, int, int]:
    n = round(REQUESTS_PER_SECOND * args.seconds)
    reqs = inp.batteries["serve_selective"][:n]
    port = w.call("serve")["port"]
    send = loadgen.http_sender(port, [r["body"] for r in reqs])

    def probed(i):
        meter.tick()
        return send(i)

    samples = loadgen.closed_loop(probed, n)
    lat = _ok_ms(samples)
    metrics = {"latency_p50_ms": statistics.median(lat),
               "latency_p75_ms": loadgen.percentile(lat, 75)}
    bad = served_failures(samples, reqs, inp)
    compare_inproc(w, samples, reqs, bad)
    detail["requests"] = inputs.battery_stats(
        reqs, lambda r: "city_hint" in r["body"] or "country" in r["body"])
    detail["samples"] = len(samples)
    detail["latency_ms"] = [round(s.latency * 1e3, 1) for s in samples]
    detail["digest"] = checks.digest(
        [(s.index, s.payload["hits"]) for s in samples if s.payload and "hits" in s.payload])
    detail["problems"] = dict(list(bad.items())[:5])
    return metrics, len(samples), len(bad)


def run_pipeline(w, orders, detail, meter) -> tuple[dict, int, int]:
    """Timed passes, one entry per worker call; a pass's time is the sum
    of its entries' times."""
    walls, rows, entry_ms, persisted, cpu = [], [], [], [], []
    for order in orders:
        ms, r = {}, {}
        tree = [w.proc.pid] + descendants(w.proc.pid)
        c0 = cpu_seconds(tree)
        for name in order:
            meter.tick()
            e = w.call("entry", name=name)
            ms[name], r[name] = e["secs"] * 1e3, e["rows"]
        cpu.append(cpu_seconds(tree) - c0)
        walls.append(sum(ms.values()))
        rows.append(r)
        entry_ms.append({k: round(v, 1) for k, v in ms.items()})
        persisted.append(e["persisted"])
    warm_rows = detail["setup"]["parts"]["pipeline_warm_rows"]
    bad = checks.check_entry_rows(rows, warm_rows)
    metrics = {"latency_p50_ms": statistics.median(walls),
               "latency_p75_ms": loadgen.percentile(walls, 75)}
    detail["passes"] = len(orders)
    detail["pass_ms"] = [round(x, 1) for x in walls]
    detail["entry_ms"] = entry_ms
    detail["pass_cpu_s"] = cpu
    detail["persisted_rdds"] = persisted
    detail["digest"] = checks.digest_rows(warm_rows)
    detail["problems"] = bad[:5]
    return metrics, len(rows) * len(pipeline_inputs.ENTRIES), len(bad)


def trace_serving(w, inp, detail) -> tuple[dict, list, dict]:
    """Serve the first TRACE_REQUESTS serve_selective requests and the
    broad probe over HTTP with the worker's tracing on. The selective
    requests give the per-request layer numbers; the broad ones give the
    candidate and scoring numbers, and their own latency."""
    sel = inp.batteries["serve_selective"][:TRACE_REQUESTS]
    broad = inp.batteries["broad"]
    reqs = sel + broad
    port = w.call("serve")["port"]
    w.call("trace_on", keys={_key(r["body"]): str(r["id"]) for r in reqs})
    samples = loadgen.closed_loop(loadgen.http_sender(port, [r["body"] for r in reqs]), len(reqs))
    hits = {r["id"]: len(s.payload["hits"]) for s, r in zip(samples, reqs)
            if s.payload and "hits" in s.payload}
    sample = [
        {"id": str(r["id"]), "toks": r["toks"], "norms": _norms(r["body"]),
         "expected": min(r["candidates"], inputs.LIMIT_SCAN), "hits": hits.get(r["id"], 0),
         "scored": r in broad}
        for r in reqs if r["toks"]
    ]
    report = w.call("trace_report", timed=[str(r["id"]) for r in sel], sample=sample)
    bad = served_failures(samples, reqs, inp)
    for rid in report["mismatched"]:
        rid = int(rid) if rid.isdigit() else rid
        bad.setdefault(rid, []).append("candidate count differs from the generator's")
    compare_inproc(w, samples, reqs, bad)
    ok = [s for s in samples[:len(sel)] if s.status == 200 and s.server_ms is not None]
    metrics = {
        **report["metrics"],
        "http.server_ms": statistics.median(s.server_ms for s in ok),
        "http.overhead_ms": statistics.median(s.latency * 1e3 - s.server_ms for s in ok),
        "trace.latency_p50_ms": statistics.median(_ok_ms(samples[:len(sel)])),
        "broad.latency_ms": statistics.median(_ok_ms(samples[len(sel):])),
    }
    detail["broad"] = [{"toks": r["toks"], "candidates": r["candidates"]} for r in broad]
    return metrics, reqs, bad


def trace_batch(w, inp, bad: dict) -> tuple[dict, int]:
    """One traced forward_geocode_batch pass over the batch battery. The
    pair and in-box counts are the program's own (executed-plan row
    counts); the generator's counts check them."""
    battery = inp.batteries["batch_geocode"][:TRACE_BATCH]
    bt = w.call("batch_trace", rows=[(r["id"], r["query"], r["country"]) for r in battery])
    for rid, p in checks.check_batch(bt["rows"], battery, 5, inp.poi_names,
                                     inp.poi_latlon).items():
        bad[f"batch{rid}"] = p
    want = {"pairs": sum(r["pairs"] for r in battery),
            "in_box": sum(r["candidates"] for r in battery)}
    for k, n in want.items():
        if bt[k] != n:
            bad[f"batch.{k}"] = [f"executed plan counts {bt[k]}, generator {n}"]
    sp = bt["spark"]
    metrics = {
        "index.build_s": bt["index_build_s"],
        "index.postings": bt["postings"],
        "batch.plan_ms": bt["plan_ms"],
        "batch.execute_s": bt["execute_s"],
        "batch.candidate_pairs": bt["pairs"] or 0,
        "batch.hit_yield": len(bt["rows"]) / bt["in_box"] if bt["in_box"] else 0.0,
        "batch.jobs": sp["jobs"],
        "batch.executor_cpu_ms": sp["executor_cpu_ms"],
        "batch.shuffle_write_bytes": sp["shuffle_write_bytes"],
        "batch.task_skew": sp["task_skew"],
    }
    return metrics, len(battery)


def trace_pipeline(w, orders, detail) -> tuple[dict, int]:
    """One traced pass over the pipeline entries, the session's first."""
    pt = w.call("pipeline_trace", order=orders[0])
    metrics = {"inventory.pass_ms": pt["wall"] * 1e3,
               "inventory.persisted_rdds": pt["persisted"]}
    for name, e in pt["entries"].items():
        for k in ("build_ms", "execute_ms", "jobs"):
            metrics[f"inventory.{name}.{k}"] = e[k]
    detail["pipeline_rows"] = {name: e["rows"] for name, e in pt["entries"].items()}
    return metrics, len(pt["entries"])


def run_traced(w, inp, orders, detail) -> tuple[dict, int, int]:
    metrics, reqs, bad = trace_serving(w, inp, detail)
    batch, n_batch = trace_batch(w, inp, bad)
    pipe, n_entries = trace_pipeline(w, orders, detail)
    detail["problems"] = dict(list(bad.items())[:5])
    return {**metrics, **batch, **pipe}, len(reqs) + n_batch + n_entries, len(bad)


def setup_layers(ready: dict) -> dict:
    parts = ready["parts"]
    return {
        "session.start_s": parts["session_start_s"],
        "gazetteer.build_s": parts["gazetteer_build_s"],
        "gazetteer.pois_rows": parts["pois_rows"],
        "gazetteer.bytes_written": parts["gazetteer_bytes"],
        "gazetteer.cached_bytes": parts["cached_bytes"],
        "inventory.load_all_s": parts["load_all_s"],
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "scout_spark" / "__init__.py").is_file():
        print(f"no scout_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    inp, work, orders, stats = prepare(args)
    detail = {"workload": args.workload, "seed": args.seed, "inputs": stats}
    w = WorkerProc(args.workload, work, args.trace)
    try:
        ready = w.read()
        detail["setup"] = ready
        if args.trace:
            metrics, attempted, failed = run_traced(w, inp, orders, detail)
        else:
            meter = probe.Meter()
            if args.workload == "serve_selective":
                metrics, attempted, failed = run_serve(w, inp, args, detail, meter)
            else:
                metrics, attempted, failed = run_pipeline(w, orders, detail, meter)
            detail["speed"] = meter.report()
        rss_kb = hwm_kb([w.proc.pid] + descendants(w.proc.pid))
    finally:
        w.close()
    if args.trace:
        metrics.update(setup_layers(ready))
        metrics["process.rss_mb"] = rss_kb / 1024
    else:
        metrics["setup_s"] = ready["setup_s"]
        detail["unscaled"] = dict(metrics)
        metrics = {k: v * detail["speed"]["factor"] for k, v in metrics.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": with_units(metrics, "per_layer" if args.trace else "end_to_end"),
    }))
    return 0


def with_units(metrics: dict, kind: str) -> dict:
    """``metrics`` in BENCHMARK.json's order and units; the names must be
    exactly the ones BENCHMARK.json lists under ``kind``."""
    with open(ROOT / "BENCHMARK.json") as fh:
        declared = json.load(fh)[kind]
    names = [m["name"] for m in declared]
    if sorted(names) != sorted(metrics):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {names}")
    return {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared}


if __name__ == "__main__":
    sys.exit(main())
