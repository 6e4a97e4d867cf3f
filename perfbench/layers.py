"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Pass A (untraced, Spark counters read between calls) gives the
``session`` counters, the ``api`` write and cache figures and the
untraced verb latencies; pass B (layer spans) gives every layer's time.
A layer time is the median, over the verb calls that reach the layer, of
the layer's span seconds within the call; 0 means no call of this
workload reaches the layer. Ratios are sums over the run. The README
lists which end-to-end metric each one should move.
"""

from __future__ import annotations

import os
import statistics

VERB_LATENCIES = {"preview_csv": "api.preview_p50_s", "validate_csv": "api.validate_p50_s",
                  "import_csv": "api.import_p50_s", "ingest_media_zip": "api.media_zip_p50_s",
                  "export_csv": "api.export_p50_s"}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def metrics(bench, calls_a: list[dict], calls_b: list[dict], span0: int) -> dict:
    tracer = bench.tracer
    spans = tracer.spans[span0:]

    def per_call(*names: str) -> list[float]:
        per: dict[int, float] = {}
        for s in spans:
            if s.name in names:
                per[s.parent] = per.get(s.parent, 0.0) + s.seconds
        return list(per.values())

    def total(name: str, key: str | None = None) -> float:
        return sum(s.stats.get(key, 0) if key else s.seconds
                   for s in spans if s.name == name)

    counted = [c for c in calls_a if "jobs" in c]

    def mean(key: str):
        vals = [c[key] for c in counted if c.get(key) is not None]
        return sum(vals) / len(vals) if vals else None

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    # pass A sends its first request of a kind the warm-up did not send
    # cold, so tracing overhead compares only the warmed kinds
    warm = set(bench.gen.warm_up_kinds())
    wall = sum(c["s"] for c in counted)
    imports_b = [c for c in calls_b if "total" in c]
    fk = [c["fk"] for c in imports_b]
    cached = [c["cached"] for c in calls_a if c.get("cached") is not None]

    validate_shares = []
    for s in spans:
        stages = [st for ex in s.executions for st in ex["stages"]
                  if st["first_task_ms"] is not None and st["end_ms"] is not None]
        if s.name == "operators.validate" and stages:
            longest = max(stages, key=lambda st: st["end_ms"] - st["first_task_ms"])
            share = bench.counters.max_task_share(longest)
            if share is not None:
                validate_shares.append(share)

    export_s = total("operators.export.flatten") + total("operators.export.write_csv")
    out = {
        "session.jobs_per_call": (mean("jobs"), "count"),
        "session.stages_per_call": (mean("stages"), "count"),
        "session.tasks_per_call": (mean("tasks"), "count"),
        "session.task_busy_s": (mean("task_busy_s"), "s"),
        "session.shuffle_bytes": (mean("shuffle_bytes"), "B"),
        "session.jvm_gc_s": (mean("gc_s"), "s"),
        "session.idle_core_ratio": (
            1 - sum(c["task_busy_s"] for c in counted) / (wall * cores) if counted else None,
            "ratio"),
        "api.driver_s": (mean("driver_s"), "s"),
        "api.write_table_s": (_median(per_call("api.write_table")), "s"),
        "api.write_bytes_per_input_byte": (
            _ratio(sum(c["table_bytes"] for c in imports_b),
                   sum(c["csv_bytes"] for c in imports_b)), "ratio"),
        "api.files_written": (
            _ratio(sum(c["table_files"] for c in imports_b), len(imports_b)), "count"),
        "api.cached_relations_after_call": (max(cached) if cached else None, "count"),
        "sources.csv_source.scan_s": (_median(per_call("sources.csv_source")), "s"),
        "sources.csv_source.rows_per_s": (
            _ratio(total("sources.csv_source", "rows"), total("sources.csv_source")), "rows/s"),
        "operators.validate.validate_s": (_median(per_call("operators.validate")), "s"),
        "operators.validate.invalid_ratio": (
            _ratio(sum(c["invalid"] for c in imports_b), sum(c["total"] for c in imports_b)),
            "ratio"),
        "operators.validate.max_task_share": (_median(validate_shares), "ratio"),
        "operators.resolve.resolve_s": (_median(per_call("operators.resolve")), "s"),
        "operators.resolve.resolved_ratio": (
            _ratio(sum(f[1] for f in fk), sum(f[0] for f in fk)), "ratio"),
        "operators.resolve.distinct_value_ratio": (
            _ratio(sum(f[2] for f in fk), sum(f[0] for f in fk)), "ratio"),
        "operators.components.components_s": (
            _median(per_call("operators.components")), "s"),
        "sources.zip_source.zip_s": (_median(per_call("sources.zip_source")), "s"),
        "sources.zip_source.entries_per_s": (
            _ratio(total("sources.zip_source", "rows"), total("sources.zip_source")),
            "entries/s"),
        "operators.media.media_s": (_median(per_call("operators.media")), "s"),
        "operators.media.pairs_compared": (
            _ratio(total("operators.media", "pairs_compared"), len(imports_b)), "count"),
        "operators.media.match_yield": (
            _ratio(total("operators.media", "matched_pairs"),
                   total("operators.media", "pairs_compared")), "ratio"),
        "operators.media.matched_row_ratio": (
            _ratio(total("operators.media", "matched_rows"),
                   total("operators.media", "rows")), "ratio"),
        "operators.upsert.merge_s": (_median(per_call("operators.upsert")), "s"),
        "operators.upsert.rows_rewritten_per_batch_row": (
            _ratio(total("operators.upsert", "rows_rewritten"),
                   total("operators.upsert", "batch_rows")), "ratio"),
        "operators.export.flatten_s": (_median(per_call("operators.export.flatten")), "s"),
        "operators.export.csv_write_s": (
            _median(per_call("operators.export.write_csv")), "s"),
        "operators.export.rows_per_s": (
            _ratio(sum(c.get("rows", 0) for c in calls_b if c["verb"] == "export_csv"),
                   export_s), "rows/s"),
        "trace.overhead_ratio": (
            _ratio(sum(c["s"] for c in calls_b if c["kind"] in warm),
                   sum(c["s"] for c in calls_a if c["kind"] in warm)) - 1, "ratio"),
    }
    for verb, name in VERB_LATENCIES.items():
        out[name] = (_median([c["s"] for c in calls_a if c["verb"] == verb]), "s")
    return out
