"""Span recorder, Spark counter collector and layer wrappers.

The recorder keeps spans in memory (name, wall start/end, parent span,
request id) and the benchmark writes them out when the run ends. Spark
counters come from the session's status store: SQL executions are
identified by execution id (never by list position — the store evicts
old executions) and attributed to the innermost span whose wall interval
contains the execution's submission time.

:class:`LayerWrappers` patches the layer entry points exactly as
``advanced_strapi_import_spark.api`` reaches them (``api.csv_scan``, the
``V R C M Z U X`` module functions, ``Engine.write_table``) so that each
call records a span. A wrapper persists and counts the layer's output,
so the span covers that layer's own execution and the next layer reads
the cached result; the persisted frames are released after each verb.
Layer spans do not nest: a layer called from inside another layer runs
unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import os
import resource
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    req: int
    parent: int | None
    start: float                   # time.time() seconds
    end: float = 0.0
    layer: bool = False
    stats: dict = field(default_factory=dict)
    executions: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.req = -1

    @contextlib.contextmanager
    def span(self, name: str, *, layer: bool = False):
        s = Span(name, self.req, self._stack[-1] if self._stack else None,
                 time.time(), layer=layer)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def in_layer(self) -> bool:
        return bool(self._stack) and self.spans[self._stack[-1]].layer

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, idx: int) -> float:
        """Span time minus the part of it its child spans cover."""
        s = self.spans[idx]
        covered, last = 0.0, s.start
        for c in sorted(self.children(idx), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return s.seconds - covered

    def attribute(self, executions: list[dict], first_span: int) -> None:
        """Give each execution to the innermost span (from ``first_span`` on)
        whose interval holds its submission time."""
        spans = self.spans[first_span:]
        for ex in executions:
            t = ex["submit_ms"] / 1000.0
            best = None
            for s in spans:
                # Spark stamps whole milliseconds; widen by one either side
                if s.start - 0.001 <= t <= s.end + 0.001:
                    if best is None or s.start >= best.start:
                        best = s
            if best is not None:
                best.executions.append(ex)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "req": s.req, "parent": s.parent,
             "start": s.start, "end": s.end,
             "self_s": self.self_seconds(i), "stats": s.stats,
             "executions": [e["id"] for e in s.executions]}
            for i, s in enumerate(self.spans)
        ]


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class SparkCounters:
    """Reads the session's status store. Never raises: a store that cannot
    be read yields ``None`` (reported as missing), never 0."""

    def __init__(self, spark) -> None:
        self.spark = spark

    def _drain(self) -> None:
        # metrics arrive on the asynchronous listener bus; a query can
        # return before its stage metrics are in the store
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(2000)
        except Exception:
            pass

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_execution_id(self) -> int | None:
        """Highest SQL execution id so far; -1 for an empty store."""
        try:
            self._drain()
            store = self._sql_store()
            n = store.executionsCount()
            return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        except Exception:
            return None

    def executions_since(self, mark: int | None) -> list[dict] | None:
        """Every SQL execution with id > ``mark``, with its jobs and the
        metrics of the stages that ran."""
        if mark is None:
            return None
        try:
            self._drain()
            store = self._sql_store()
            app = self.spark.sparkContext._jsc.sc().statusStore()
            found, off = [], store.executionsCount()
            while off > 0:        # newest first, until ids reach the mark
                k = min(64, off)
                off -= k
                seq = store.executionsList(off, k)
                batch = [seq.apply(j) for j in range(seq.size())]
                newer = [e for e in batch if e.executionId() > mark]
                found = newer + found
                if len(newer) < len(batch):
                    break
            return [self._execution(app, e) for e in found]
        except Exception:
            return None

    @staticmethod
    def _execution(app, e) -> dict:
        jobs = []
        it = e.jobs().keysIterator()
        while it.hasNext():
            jd = app.job(it.next())
            s, c = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if s is not None and c is not None:
                jobs.append((s, c))
        stages = []
        it = e.stages().iterator()
        while it.hasNext():
            sd = app.lastStageAttempt(it.next())
            if str(sd.status()) != "COMPLETE":
                continue          # skipped (reused exchange) or failed
            stages.append({
                "id": sd.stageId(), "attempt": sd.attemptId(),
                "tasks": sd.numTasks(), "run_ms": sd.executorRunTime(),
                "gc_ms": sd.jvmGcTime(), "shuffle_write": sd.shuffleWriteBytes(),
                "first_task_ms": _opt_ms(sd.firstTaskLaunchedTime()),
                "end_ms": _opt_ms(sd.completionTime()),
            })
        return {"id": e.executionId(), "submit_ms": e.submissionTime(),
                "jobs": jobs, "stages": stages}

    def max_task_share(self, stage: dict) -> float | None:
        """Longest task over the stage's wall time (first launch to end)."""
        try:
            app = self.spark.sparkContext._jsc.sc().statusStore()
            it = app.taskList(stage["id"], stage["attempt"], 100_000).iterator()
            longest = 0
            while it.hasNext():
                d = it.next().duration()
                if d.isDefined():
                    longest = max(longest, d.get())
            wall = stage["end_ms"] - stage["first_task_ms"]
            return longest / wall if wall > 0 else None
        except Exception:
            return None

    def gc_ms(self) -> int | None:
        """JVM-wide collection time so far (driver and executors share the
        JVM in local mode)."""
        try:
            beans = self.spark._jvm.java.lang.management.ManagementFactory \
                .getGarbageCollectorMXBeans()
            return sum(b.getCollectionTime() for b in beans)
        except Exception:
            return None

    def cached_relations(self) -> int | None:
        try:
            return self.spark._jsparkSession.sharedState().cacheManager() \
                .cachedData().size()
        except Exception:
            return None

    def peak_rss_mib(self) -> float | None:
        """Peak resident set of the driver JVM plus this Python process."""
        try:
            pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            with open(f"/proc/{pid}/status") as f:
                kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except Exception:
            return None
        return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def call_counters(execs: list[dict], start: float, end: float) -> dict:
    """Totals of one verb call from its executions: jobs, stages, tasks,
    task busy seconds, shuffle bytes written, and seconds of the call in
    which no Spark job ran."""
    jobs = sorted(j for e in execs for j in e["jobs"])
    covered, last = 0.0, start * 1000.0
    for s, c in jobs:
        lo, hi = max(s, last), min(c, end * 1000.0)
        if hi > lo:
            covered += hi - lo
            last = hi
    stages = [s for e in execs for s in e["stages"]]
    return {
        "jobs": len(jobs), "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "task_busy_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "shuffle_bytes": sum(s["shuffle_write"] for s in stages),
        "driver_s": max(0.0, (end - start) - covered / 1000.0),
    }


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) of a table directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class LayerWrappers:
    """Context manager that wraps the engine's layer entry points."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._persisted: list = []
        self._restore: list[tuple[object, str, object]] = []

    # -- materialization -------------------------------------------------
    def _keep(self, df):
        df.persist()
        self._persisted.append(df)
        return df, df.count()

    def release(self) -> None:
        """Unpersist everything the wrappers cached (call after each verb)."""
        while self._persisted:
            self._persisted.pop().unpersist()

    # -- patching ----------------------------------------------------------
    def _patch(self, owner, attr: str, name: str, after) -> None:
        fn = getattr(owner, attr)
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.in_layer():
                return fn(*args, **kwargs)
            with tracer.span(name, layer=True) as span:
                out = fn(*args, **kwargs)
                if after is not None:
                    out = after(out, span, args, kwargs)
            return out

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def __enter__(self):
        from advanced_strapi_import_spark import api
        from pyspark.sql import functions as F

        def frame(out, span, args, kwargs):
            out, span.stats["rows"] = self._keep(out)
            return out

        def validated(res, span, args, kwargs):
            _, span.stats["rows"] = self._keep(res.all)
            return res

        def merged(res, span, args, kwargs):
            _, span.stats["rows_rewritten"] = self._keep(res.merged)
            span.stats["batch_rows"] = args[1].count()
            return res

        def media(out, span, args, kwargs):
            out, rows = self._keep(out)
            col = kwargs.get("out_col", "media_ids")
            match_col = args[2]
            with_value = args[0].where(
                F.col(match_col).isNotNull() & (F.col(match_col) != "")).count()
            agg = out.agg(
                F.count(F.col(col)).alias("rows"),
                F.coalesce(F.sum(F.size(F.col(col))), F.lit(0)).alias("pairs"),
            ).collect()[0]
            span.stats.update(rows=rows, pairs_compared=with_value * args[1].count(),
                              matched_pairs=agg["pairs"], matched_rows=agg["rows"])
            return out

        self._patch(api, "csv_scan", "sources.csv_source", frame)
        self._patch(api.V, "validate_df", "operators.validate", validated)
        self._patch(api.R, "resolve_all_relations", "operators.resolve", frame)
        self._patch(api.C, "build_single_component", "operators.components", frame)
        self._patch(api.M, "match_media", "operators.media", media)
        self._patch(api.U, "merge", "operators.upsert", merged)
        for fn in ("zip_entries", "hygiene_filter", "media_files"):
            self._patch(api.Z, fn, "sources.zip_source", frame)
        for fn in ("flatten_scalar_relation", "flatten_multi_relation",
                   "flatten_single_component", "flatten_repeatable_component"):
            self._patch(api.X, fn, "operators.export.flatten", frame)
        self._patch(api.X, "drop_metadata", "operators.export.flatten", None)
        self._patch(api.X, "write_csv", "operators.export.write_csv", None)
        self._patch(api.Engine, "write_table", "api.write_table", None)
        return self

    def __exit__(self, *exc) -> None:
        self.release()
        while self._restore:
            owner, attr, fn = self._restore.pop()
            setattr(owner, attr, fn)
