"""Engine-verb benchmark: import and export request latency over seeded
CSV workloads.

    python3 perfbench/run.py --workload import_small --seed 1 --seconds 15 --trace 0

One closed-loop client sends the workload's requests through the public
``Engine`` verbs for ``--seconds`` seconds and checks every reply against
the generator's ground truth. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
run (see perfbench/README.md). Everything the run writes lives under
``.perfbench/`` in the checkout; span traces stay in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
from spans import (LayerWrappers, SparkCounters, Tracer, call_counters,  # noqa: E402
                   dir_bytes_files)

# measured requests per run even when --seconds is short: two flows, or
# export_mixed's whole ten-request cycle (five filtered pages, four
# unfiltered exports, one media upsert), so every run measures the same mix
MIN_REQUESTS = {"import_small": 2, "export_mixed": 10}
# a traced run sends every request twice, so it needs fewer: one flow, or
# the whole cycle and one export more, so a read after the upsert is traced
TRACE_REQUESTS = {"import_small": 1, "export_mixed": 11}
# storage roots the engine loads from the preload during set-up: "run"
# serves warm-up and stream, "replay" the traced replay
ROOTS = {False: ("run",), True: ("run", "replay")}
# request kind whose latency is request_p50_s, and the verb whose rows and
# seconds make rows_per_s. The unfiltered export, not the 1,000-row page,
# sets export_mixed's latency: page medians moved twice as much between
# runs (quartile spread 0.04-0.17 against 0.02-0.08 over ten seeds)
PRIMARY = {"import_small": "flow", "export_mixed": "export_full"}
THROUGHPUT = {"import_small": "import_csv", "export_mixed": "export_csv"}


class Bench:
    def __init__(self, workload: str, seed: int, work: Path):
        self.workload = workload
        self.work = work
        self.gen = gen.Generator(workload, seed, str(work / "inputs"))
        self.preload = work / "preload"
        self.gen.write_preload(str(self.preload))
        self.ct = self.gen.spec.ct
        self.spark = None
        self.calls: list[dict] = []
        self.tracer: Tracer | None = None
        self.counters: SparkCounters | None = None
        self.wrappers: LayerWrappers | None = None
        self.engines: dict = {}
        self.layer_setup: dict = {}
        self.warmed: list[gen.Request] = []
        self.pass_tag: str | None = None     # "A" untraced, "B" traced replay

    # -- session and storage ---------------------------------------------
    def start_session(self) -> None:
        from advanced_strapi_import_spark.session import get_spark

        tmp = self.work / "tmp"
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None

    def load_root(self, name: str):
        """An engine on a fresh storage root, with every preloaded table
        read from the generated parquet and written by the engine itself."""
        from advanced_strapi_import_spark.api import Engine
        from advanced_strapi_import_spark.schema import Registry

        engine = Engine(spark=self.spark, registry=Registry.from_dict(gen.REGISTRY),
                        storage_root=str(self.work / "store" / name))
        for table in sorted(os.listdir(self.preload)):
            engine.write_table(table, self.spark.read.parquet(str(self.preload / table)))
        return engine

    # -- one verb call ----------------------------------------------------
    def call(self, verb: str, req: gen.Request, fn, check=None) -> tuple[object, dict]:
        counters = self.counters if self.tracer else None
        mark = counters.last_execution_id() if counters else None
        gc0 = counters.gc_ms() if counters else None
        first_span = len(self.tracer.spans) if self.tracer else 0
        span = self.tracer.span(f"api.{verb}") if self.tracer else contextlib.nullcontext()
        out = err = None
        start = time.time()
        t0 = time.perf_counter()
        with span:
            try:
                out = fn()
            except Exception as exc:  # a failed call is counted, not fatal
                err = exc
        dt = time.perf_counter() - t0
        rec = {"verb": verb, "req": req.index, "kind": req.kind, "pass": self.pass_tag,
               "s": dt, "start": start, "end": start + dt, "problems": []}
        if self.wrappers:
            self.wrappers.release()
        if counters:
            execs = counters.executions_since(mark)
            gc1 = counters.gc_ms()
            if execs is not None:
                rec.update(call_counters(execs, start, start + dt))
                if self.tracer:
                    self.tracer.attribute(execs, first_span)
            rec["gc_s"] = (gc1 - gc0) / 1000.0 if None not in (gc0, gc1) else None
        if self.counters:
            rec["cached"] = self.counters.cached_relations()
            if rec["cached"]:
                rec["problems"].append(f"{rec['cached']} cached relations after call")
        if err is not None:
            rec["problems"].append("".join(traceback.format_exception_only(err)).strip())
        elif check is not None:
            rec["problems"] += check(out)
        self.calls.append(rec)
        return (None if err else out), rec

    # -- requests -----------------------------------------------------------
    def run_request(self, engine, req: gen.Request) -> None:
        if self.tracer:
            self.tracer.req = req.index
        g, ct = self.gen, self.ct
        if req.kind.startswith("export"):
            out_dir = str(self.work / "export")
            kw = ({"filters": req.export_filter, "order_by": "name", "limit": gen.EXPORT_PAGE}
                  if req.kind == "export_page" else {"limit": gen.EXPORT_FULL_LIMIT})
            _, rec = self.call("export_csv", req, lambda: engine.export_csv(ct, out_dir, **kw))
            if not rec["problems"]:
                problems, rec["rows"] = checks.exported(
                    out_dir, req, g.model, g.country.display, g.tag.display)
                rec["problems"] += problems
            return
        if req.kind == "flow":
            attrs = list(engine.registry.get(ct).attributes)
            self.call("preview_csv", req, lambda: engine.preview_csv(req.csv_path, ct),
                      lambda o: checks.preview(o, req, attrs))
            self.call("validate_csv", req, lambda: engine.validate_csv(req.csv_path, ct),
                      lambda o: checks.validate(o, req))
        kw = {"upsert": True, "upsert_field": "id"}
        if req.kind == "media_upsert":
            self.call("ingest_media_zip", req,
                      lambda: engine.ingest_media_zip(req.zip_path, ct, gen.MATCH_FIELD))
            kw["media_match_field"] = gen.MATCH_FIELD
        out, rec = self.call("import_csv", req,
                             lambda: engine.import_csv(req.csv_path, ct, **kw),
                             lambda o: checks.imported(o, req))
        if out is not None:
            g.model.apply_upsert(req.batch)
            rec["rows"] = len(req.batch)
            rec["invalid"], rec["total"] = out.get("invalidRows"), req.total_rows
            rec["fk"] = (req.fk_values, req.fk_resolved, req.fk_distinct)
            rec["csv_bytes"] = req.csv_bytes
            rec["table_bytes"], rec["table_files"] = dir_bytes_files(engine._path(ct))
            rec["problems"] += checks.read_back(engine, ct, req, g.model)

    def warm_up(self, engine) -> None:
        """The warm-up requests (ids -1, -2, ...), checked but not measured;
        the stream that follows runs on the table they left."""
        for j, kind in enumerate(self.gen.warm_up_kinds()):
            self.warmed.append(self.gen.request(-1 - j, kind))
            self.run_request(engine, self.warmed[-1])

    def stream(self, send, seconds: float, at_least: int) -> None:
        """``send`` requests 0, 1, ... until ``seconds`` have passed and at
        least ``at_least`` requests were sent."""
        deadline = time.perf_counter() + seconds
        i = 0
        while i < at_least or time.perf_counter() < deadline:
            send(self.gen.request(i))
            i += 1

    def setup(self, traced: bool) -> float:
        """Session start (JVM launch included), then the engine loads the
        preload into each root the mode uses, then the warm-up on the run
        root. Returns the session start plus the run root's load plus the
        warm-up."""
        t0 = time.perf_counter()
        self.start_session()
        start_s = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        loads = []
        for name in ROOTS[traced]:
            t0 = time.perf_counter()
            self.engines[name] = self.load_root(name)
            loads.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.warm_up(self.engines["run"])
        warmup_s = time.perf_counter() - t0
        self.layer_setup = {"session.start_s": (start_s, "s"),
                            "session.load_s": (loads[0], "s"),
                            "session.warmup_s": (warmup_s, "s")}
        self.warmup_calls, self.calls = self.calls, []
        return start_s + loads[0] + warmup_s

    # -- metrics ------------------------------------------------------------
    def _failed(self) -> tuple[int, int]:
        bad = [c for c in self.warmup_calls + self.calls if c["problems"]]
        for c in bad[:5]:
            print(f"# FAILED req {c['req']} {c['verb']}: {c['problems'][:3]}", file=sys.stderr)
        return len(self.warmup_calls) + len(self.calls), len(bad)

    def request_seconds(self, kind: str) -> list[float]:
        per: dict[int, float] = {}
        for c in self.calls:
            if c["kind"] == kind:
                per[c["req"]] = per.get(c["req"], 0.0) + c["s"]
        return list(per.values())

    def end_to_end(self, setup_s: float, engine) -> dict:
        lat = self.request_seconds(PRIMARY[self.workload])
        moving = [c for c in self.calls if c["verb"] == THROUGHPUT[self.workload]]
        table_bytes, _ = dir_bytes_files(engine._path(self.ct))
        print(f"# set-up {[(k, round(v, 2)) for k, (v, _) in self.layer_setup.items()]}; "
              f"{len(lat)} {PRIMARY[self.workload]} requests {[round(x, 3) for x in lat]}; "
              f"calls {[(c['verb'][:6], round(c['s'], 2)) for c in self.calls]}",
              file=sys.stderr)
        return {
            "request_p50_s": (statistics.median(lat), "s"),
            "rows_per_s": (sum(c.get("rows", 0) for c in moving)
                           / sum(c["s"] for c in moving), "rows/s"),
            "setup_s": (setup_s, "s"),
            "stored_bytes_per_row": (table_bytes / len(self.gen.model.rows), "B/row"),
        }

    def run(self, seconds: float, traced: bool) -> dict:
        setup_s = self.setup(traced)
        if not traced:
            self.stream(lambda req: self.run_request(self.engines["run"], req),
                        seconds, MIN_REQUESTS[self.workload])
            metrics = self.end_to_end(setup_s, self.engines["run"])
        else:
            metrics = {**self.traced(seconds), **self.layer_setup,
                       "session.peak_rss_mib": (self.counters.peak_rss_mib(), "MiB")}
        attempted, failed = self._failed()
        # a figure that could not be read is missing, never 0
        return {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                        if v is not None},
        }

    def traced(self, seconds: float) -> dict:
        """Each request of the stream (at least TRACE_REQUESTS) is sent
        twice: untraced to the run root, with per-call Spark counters read
        between calls (pass A), then with layer spans to the replay root,
        which holds the same table (pass B). Interleaving the passes keeps
        JIT warm-up from leaking into the tracing overhead."""
        self.tracer = Tracer()
        for req in self.warmed:     # the replay root gets the warm-up's writes
            if not req.kind.startswith("export"):
                self.run_request(self.engines["replay"], req)
        span0 = len(self.tracer.spans)

        def send_twice(req: gen.Request) -> None:
            self.pass_tag = "A"
            self.run_request(self.engines["run"], req)
            self.pass_tag = "B"
            with LayerWrappers(self.tracer) as self.wrappers:
                self.run_request(self.engines["replay"], req)
            self.wrappers = self.pass_tag = None

        self.stream(send_twice, seconds, TRACE_REQUESTS[self.workload])
        calls_a = [c for c in self.calls if c["pass"] == "A"]
        calls_b = [c for c in self.calls if c["pass"] == "B"]
        out = layers.metrics(self, calls_a, calls_b, span0)
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{self.workload}-seed{self.gen.seed}.json", "w") as f:
            json.dump({"calls": self.calls, "spans": self.tracer.dump(),
                       "metrics": {k: v for k, (v, _) in out.items()}}, f, default=str)
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.SPECS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "advanced_strapi_import_spark" / "api.py").is_file():
        print("perfbench: engine sources not found beside perfbench/", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # The engine's 24g default heap is sized for local[32] on a 128 GiB
    # host. At local[4] on a 16 GiB host the JVM grows lazily to a 10 GiB
    # peak resident set under it; at 4g it peaks at 5 GiB, spends ~0.05 s
    # of GC per verb call, and every verb latency stays within run-to-run
    # noise of the 24g figures. Set SPARK_GRAFT_DRIVER_MEM to override.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))
    t0 = time.perf_counter()
    bench = Bench(args.workload, args.seed, work)
    t1 = time.perf_counter()
    try:
        result = bench.run(args.seconds, bool(args.trace))
    finally:
        t2 = time.perf_counter()
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(f"# wall s: generate {t1 - t0:.1f}, run {t2 - t1:.1f}, "
          f"stop {time.perf_counter() - t2:.1f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
