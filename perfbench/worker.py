"""The program under test, in its own process.

Started by ``run.py``; it sets up once and reports the set-up time, then
answers one JSON command per stdin line with one JSON line on the protocol
channel (the original stdout; file descriptor 1 is pointed at stderr so
Spark and the JVM cannot write into the protocol).

Set-up depends on what the run needs. The geocode part is the session,
the gazetteer build from the raw parquet, the engine and a warm-up of
served requests. The pipeline part is the session, ``inventory.load_all()``
and untimed passes over the pipeline entries. A traced run sets up both,
without the pipeline pass: its one traced pass is the session's first.

Commands: ``serve`` (start the HTTP service), ``inproc`` (run requests
through ``api.forward_geocode`` in this process), ``entry`` (one timed
pipeline entry), ``trace_on`` / ``trace_report`` (span
and Spark job recording around the serving layers' public functions),
``batch_trace`` (one traced ``forward_geocode_batch`` pass),
``pipeline_trace`` (one traced pass over the pipeline entries), ``quit``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

def _protocol_channel():
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


def _hits(resp) -> list[dict]:
    return [{k: h[k] for k in ("osm_id", "score", "lat", "lon", "name")} for h in resp.hits]


class Worker:
    def __init__(self, args, reqs: dict):
        self.args = args
        self.reqs = reqs
        self.spark = None
        self.server = None
        self.tracer = None
        self.part: dict = {}
        self.warm_rows: dict[str, int] = {}
        self.persisted_warm = 0

    # -- set-up ----------------------------------------------------------
    def setup(self, started: float) -> float:
        """Session start, then the geocode and/or pipeline set-up; returns
        seconds since ``started``, the process's spawn time."""
        from scout_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("perfbench")
        self.part = {"launch_s": t0 - started, "session_start_s": time.monotonic() - t0}
        if self.args.workload == "serve_selective" or self.args.trace:
            self._setup_geocode()
        if self.args.workload == "pipeline_ops" or self.args.trace:
            self._setup_pipeline()
        return time.monotonic() - started

    def _setup_geocode(self) -> None:
        from scout_spark.etl.gazetteer import build_gazetteer, poi_view
        from scout_spark.plans.geocode import ScoutEngine

        t1 = time.monotonic()
        raw = self.spark.read.parquet(os.path.join(self.args.work, "raw.parquet"))
        gaz = os.path.join(self.args.work, "gazetteer")
        paths = build_gazetteer(self.spark, raw, gaz)
        t2 = time.monotonic()
        self.pois = poi_view(self.spark, paths["pois"]).cache()
        pois_rows = self.pois.count()
        self.admin = self.spark.read.parquet(paths["admin"])
        self.engine = ScoutEngine(self.spark, self.pois, self.admin)
        t3 = time.monotonic()
        self.inproc(self.reqs["warmup"])
        t4 = time.monotonic()
        self.part.update({
            "gazetteer_build_s": t2 - t1, "engine_s": t3 - t2, "warmup_s": t4 - t3,
            "pois_rows": pois_rows, "gazetteer_bytes": _dir_bytes(gaz),
            "cached_bytes": self.cached_bytes(),
        })

    def _setup_pipeline(self) -> None:
        from scout_spark.inventory import load_all

        t1 = time.monotonic()
        self.registry = load_all()
        t2 = time.monotonic()
        if not self.args.trace:
            for order in self.reqs["pipeline_warm"]:
                self.warm_rows = self._pass(order)
            self.persisted_warm = self.persisted_rdds()
        self.part.update({
            "load_all_s": t2 - t1, "pipeline_warm_s": time.monotonic() - t2,
            "pipeline_warm_rows": self.warm_rows, "persisted_warm": self.persisted_warm,
        })

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    # -- serving ---------------------------------------------------------
    def serve(self) -> dict:
        from scout_spark.plans.http_service import serve

        self.server = serve(self.engine)
        return {"port": self.server.server_address[1]}

    def inproc(self, bodies: list[dict]) -> dict:
        from scout_spark.plans.api import forward_geocode
        from scout_spark.plans.openapi import validate_forward

        out = []
        for body in bodies:
            req, errors = validate_forward(body)
            if errors:
                out.append({"error": errors})
                continue
            out.append({"hits": _hits(forward_geocode(self.engine, req))})
        return {"results": out}

    # -- pipeline --------------------------------------------------------
    def _run_entry(self, name: str) -> tuple[int, float, float]:
        """A fresh ``registry[name].spark()`` and a noop write of it;
        returns (rows written, build seconds, write seconds). The row count
        comes from an ``Observation`` on the written frame."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        df = self.registry[name].spark(self.spark, self.args.tables)
        t1 = time.perf_counter()
        obs = Observation(name)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite").save()
        t2 = time.perf_counter()
        return obs.get["rows"], t1 - t0, t2 - t1

    def _pass(self, order: list[str]) -> dict[str, int]:
        return {name: self._run_entry(name)[0] for name in order}

    def entry(self, name: str) -> dict:
        """One timed entry run, and the persisted RDDs after it."""
        rows, build_s, write_s = self._run_entry(name)
        return {"rows": rows, "secs": build_s + write_s, "persisted": self.persisted_rdds()}

    def pipeline_trace(self, order: list[str]) -> dict:
        """One pass with each entry's jobs in a job group of its own; the
        first pass of the session, so it includes the shared-cache builds."""
        from tracing import SparkStats

        stats = SparkStats(self.spark)
        entries, t = {}, time.perf_counter()
        for name in order:
            tag = f"perfbench/entry/{name}"
            stats.tag(tag)
            rows, build_s, write_s = self._run_entry(name)
            entries[name] = {
                "rows": rows, "build_ms": build_s * 1e3, "execute_ms": write_s * 1e3,
                "jobs": len(stats.sc.statusTracker().getJobIdsForGroup(tag)),
            }
        wall = time.perf_counter() - t
        stats.clear()
        return {"wall": wall, "entries": entries, "persisted": self.persisted_rdds()}

    # -- tracing ---------------------------------------------------------
    def trace_on(self, keys: dict) -> dict:
        from tracing import SparkStats, SpanRecorder

        self.tracer = Tracer(self, SpanRecorder(), SparkStats(self.spark), keys)
        self.tracer.install()
        return {}

    def trace_report(self, timed: list[str], sample: list[dict]) -> dict:
        return self.tracer.report(timed, sample)

    def batch_trace(self, rows: list) -> dict:
        """One traced batch pass, plus the token index built on its own.
        The candidate pair count and the in-box candidate count come from
        the executed plan's row counts."""
        from scout_spark.operators.inverted_index import build_token_index
        from scout_spark.plans.batch_geocode import forward_geocode_batch
        from tracing import SparkStats, SpanRecorder, plan_nodes

        requests = self.spark.createDataFrame(
            [tuple(r) for r in rows], "req_id long, query string, country string")
        stats, rec = SparkStats(self.spark), SpanRecorder()
        stats.tag("perfbench/index")
        with rec.span("index.build"):
            postings = build_token_index(self.pois).count()
        stats.tag("perfbench/batch")
        w0 = time.time()
        with rec.span("batch.pass"):
            with rec.span("batch.plan"):
                df = forward_geocode_batch(requests, self.pois, self.admin, limit=5)
            with rec.span("batch.execute"):
                out = [r.asDict() for r in df.collect()]
        spark = stats.group(["perfbench/batch"], (w0, time.time()))
        stats.clear()
        nodes = plan_nodes(df)
        rec.write(os.path.join(self.args.work, "spans-batch.json"))
        return {
            "spark": spark, "rows": out, "postings": postings,
            "pairs": _topmost_rows(nodes, "_matched"),
            "in_box": _topmost_rows(nodes, "importance"),
            "index_build_s": rec.durations("index.build")[0],
            "plan_ms": rec.durations("batch.plan")[0] * 1e3,
            "execute_s": rec.durations("batch.execute")[0],
        }

    def quit(self) -> dict:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        if self.spark is not None:
            self.spark.stop()
        return {}


def _topmost_rows(nodes: list, column: str) -> int | None:
    """Output rows of the highest plan node that has a row count and still
    carries ``column``: ``_matched`` marks the covering-AND output (the
    candidate pairs), ``importance`` the POI columns joined to the
    request and its hint box (the in-box candidates that get scored)."""
    for _, names, rows in nodes:
        if rows is not None and column in names:
            return rows
    return None


class Tracer:
    """Wraps the serving layers' public functions on this process's
    engine and HTTP module, tags each request's Spark jobs with its own job
    group, and turns the recorded spans into per-layer numbers."""

    def __init__(self, worker: Worker, rec, stats, keys: dict):
        self.w = worker
        self.rec = rec
        self.stats = stats
        self.keys = keys  # request key -> request id
        self.walls: dict[str, tuple[float, float]] = {}
        self.area: dict[str, tuple | None] = {}

    def install(self) -> None:
        from scout_spark.plans import http_service

        eng, rec = self.w.engine, self.rec
        fwd, validate = http_service.forward_geocode, http_service.validate_forward
        area_fn = eng.resolve_area_bbox

        def forward_geocode(engine, req):
            rid = self.keys.get(_key(req.candidates, req.country, req.city_hint, req.limit), "?")
            rec.request = rid
            self.stats.tag(rid)
            w0 = time.time()
            try:
                with rec.span("api.forward"):
                    return fwd(engine, req)
            finally:
                self.walls[rid] = (w0, time.time())

        def resolve_area_bbox(city_hint, country):
            rid = rec.request
            self.stats.tag(rid + "/area")
            try:
                with rec.span("geocode.area"):
                    bbox = area_fn(city_hint, country)
            finally:
                self.stats.tag(rid)
            self.area[rid] = bbox
            return bbox

        http_service.forward_geocode = forward_geocode
        http_service.validate_forward = rec.wrap("openapi.validate", validate)
        eng.forward = rec.wrap("geocode.forward", eng.forward)
        eng.resolve_area_bbox = resolve_area_bbox

    def report(self, timed: list[str], sample: list[dict]) -> dict:
        """Per-request layer numbers over the requests ``timed`` names;
        ``sample`` lists requests (id, tokens, query texts, expected
        candidates, hits, ``scored``) whose candidate sets are collected
        again, untimed: every size is checked against the generator's
        count, and those marked ``scored`` give the candidate and fuzzy
        scoring numbers."""
        from scout_spark.functions.wratio import wratio

        rec, out, timed_set = self.rec, {}, set(timed)
        spark_rows, area_jobs = [], []
        for rid in timed:
            if rid in self.walls:
                spark_rows.append(self.stats.group([rid, rid + "/area"], self.walls[rid]))
                area_jobs.append(len(
                    self.stats.sc.statusTracker().getJobIdsForGroup(rid + "/area")))
        for key in spark_rows[0] if spark_rows else []:
            out["spark." + key] = statistics.median(r[key] for r in spark_rows)
        out["api.forward_ms"] = _med_ms(rec.durations("api.forward", timed_set))
        # validation runs before the request id is known; the timed requests
        # are sent first, so theirs are the first validation spans
        validate = sorted((s.start, s.end - s.start) for s in rec.spans
                          if s.name == "openapi.validate")[:len(timed)]
        out["openapi.validate_us"] = _med_ms([d for _, d in validate]) * 1e3
        out["geocode.area_ms"] = _med_ms(rec.durations("geocode.area", timed_set))
        out["geocode.area_jobs"] = statistics.median(area_jobs) if area_jobs else 0
        out["geocode.plan_ms"] = _med_ms(rec.self_times("geocode.forward", timed_set))
        out["geocode.execute_ms"] = _med_ms(rec.self_times("api.forward", timed_set))
        self.stats.tag("perfbench/candidates")
        cands, pairs, wr_us, yields, capped, mismatched = [], [], [], [], 0, []
        for s in sample:
            bbox = self.area.get(s["id"])
            rows = self.w.engine.fetch_candidates(s["toks"], bbox).select(
                "name_local_norm", "name_en_norm").collect() if s["toks"] else []
            n = len(rows)
            if n != s["expected"]:
                mismatched.append(s["id"])
            if not s["scored"]:
                continue
            cands.append(n)
            capped += n >= self.w.engine.settings.limit_scan
            if n:
                yields.append(s["hits"] / n)
            real = [(q, t) for r in rows for t in (r[0], r[1]) if t for q in s["norms"]]
            pairs.append(len(real))
            if real:
                t = time.perf_counter()
                for q, tgt in real[:2000]:
                    wratio(q, tgt)
                wr_us.append((time.perf_counter() - t) / len(real[:2000]) * 1e6)
        self.stats.clear()
        out["geocode.candidates"] = statistics.median(cands) if cands else 0
        out["geocode.cap_share"] = capped / len(cands) if cands else 0.0
        out["geocode.hit_yield"] = statistics.median(yields) if yields else 0.0
        out["fuzzy.pairs"] = statistics.median(pairs) if pairs else 0
        out["fuzzy.wratio_us"] = statistics.median(wr_us) if wr_us else 0.0
        rec.write(os.path.join(self.w.args.work, "spans-serve.json"))
        return {"metrics": out, "mismatched": mismatched}


def _key(candidates, country, city_hint, limit) -> str:
    return json.dumps([list(candidates), country, city_hint, limit])


def _med_ms(durs: list[float]) -> float:
    return statistics.median(durs) * 1e3 if durs else 0.0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--tables", required=True, help="directory of the pipeline tables")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() at spawn")
    args = p.parse_args()
    proto = _protocol_channel()
    with open(os.path.join(args.work, "requests.json")) as fh:
        reqs = json.load(fh)
    w = Worker(args, reqs)
    setup_s = w.setup(args.t0)
    proto.write(json.dumps({"setup_s": setup_s, "parts": w.part}) + "\n")
    for line in sys.stdin:
        cmd = json.loads(line)
        name = cmd.pop("cmd")
        reply = getattr(w, name)(**cmd)
        proto.write(json.dumps(reply) + "\n")
        if name == "quit":
            break
    return 0


if __name__ == "__main__":
    sys.exit(main())
