"""Per-layer metrics of the traced run.

``instrument`` wraps the public functions of the layers a workload
calls into, and registers a streaming progress listener. ``report``
turns the recorded spans, the Spark event log and the listener's
progress records into the per-layer metrics. Totals are per pass, so a
run that fits two passes reports the same figures as one that fits one.
A layer the workload never reaches reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

import trace
import workloads


class StreamingProbe:
    """Keeps each micro-batch's ``durationMs`` breakdown."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self.merges: list[tuple] = []  # (path, version) of every merge_files commit
        self.plans: list[tuple] = []  # (path, col, values, plan) of every point_lookup_plan
        spark.streams.addListener(Listener())

    def settle(self) -> None:
        """Progress events arrive asynchronously; give the last ones a moment."""
        time.sleep(1.0)


def instrument(spark, tracer: trace.Tracer) -> StreamingProbe:
    from pim_etl_spark import orchestrator
    from pim_etl_spark.pipeline import registry
    from pim_etl_spark.pipeline import versioned as V

    probe = StreamingProbe(spark)

    def on_merge(span, a, out):
        span.attrs.update({k: out.get(k, 0) for k in ("files_rewritten", "files_kept", "files_skipped")})
        probe.merges.append((a["path"], out["version"], span))

    def on_plan(span, a, out):
        values = a["values"]
        probe.plans.append((a["path"], a["col"], list(values) if isinstance(values, (list, tuple, set)) else [values], out))

    tracer.wrap(orchestrator, "run_sync", "orchestrator.run_sync")
    tracer.wrap(orchestrator, "run_status", "orchestrator.run_status")
    tracer.wrap(orchestrator, "load_supplier_feeds", "orchestrator.load_supplier_feeds")
    tracer.wrap(registry, "run_sync", "pipeline.registry.run_sync")
    tracer.wrap(V, "merge_files", "pipeline.versioned.merge_files", on_merge)
    tracer.wrap(V, "read_version", "pipeline.versioned.read_version")
    tracer.wrap(V, "point_lookup", "pipeline.versioned.point_lookup")
    tracer.wrap(V, "point_lookup_plan", "pipeline.versioned.point_lookup_plan", on_plan)
    return probe


def names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = []
    for g in workloads.CATALOG_GROUPS:
        out += [(f"{g}.plan_s", "s"), (f"{g}.driver_s", "s"), (f"{g}.jobs", "count"),
                (f"{g}.task_cpu_s", "s"), (f"{g}.shuffle_mb", "MB"), (f"{g}.gc_s", "s")]
        if g in workloads.LLM_GROUPS:
            out.append((f"{g}.python_mb", "MB"))
    out += [
        ("session.get_spark.wall_s", "s"),
        ("orchestrator.run_sync.full_s", "s"),
        ("orchestrator.run_sync.delta_p50_s", "s"),
        ("orchestrator.run_sync.self_s", "s"),
        ("orchestrator.run_sync.jobs", "count"),
        ("orchestrator.run_sync.task_cpu_s", "s"),
        ("orchestrator.run_sync.shuffle_mb", "MB"),
        ("orchestrator.run_sync.gc_s", "s"),
        ("orchestrator.load_supplier_feeds.wall_s", "s"),
        ("orchestrator.run_status.wall_s", "s"),
        ("pipeline.registry.run_sync.wall_s", "s"),
        ("pipeline.versioned.merge_files.wall_s", "s"),
        ("pipeline.versioned.merge_files.self_s", "s"),
        ("pipeline.versioned.merge_files.jobs", "count"),
        ("pipeline.versioned.merge_files.files_rewritten", "count"),
        ("pipeline.versioned.merge_files.files_kept", "count"),
        ("pipeline.versioned.merge_files.files_skipped", "count"),
        ("pipeline.versioned.merge_files.bytes_written_mb", "MB"),
        ("pipeline.versioned.merge_files.rewrite_amp", "ratio"),
        ("pipeline.versioned.read_version.jobs", "count"),
        ("pipeline.versioned.point_lookup.wall_s", "s"),
        ("pipeline.versioned.point_lookup.files_scanned_ratio", "ratio"),
        ("pipeline.versioned.point_lookup.bloom_fp_ratio", "ratio"),
        ("pipeline.versioned.stored_mb", "MB"),
        ("streaming.triggers", "count"),
        ("streaming.query_planning_s", "s"),
        ("streaming.add_batch_s", "s"),
        ("streaming.wal_commit_s", "s"),
        ("spark.spill_mb", "MB"),
        ("trace.total_s", "s"),
    ]
    return out


def _snapshot(path: str, version: int | None = None) -> list[str]:
    from pim_etl_spark.pipeline import versioned as V

    return V.snapshot_files(path, version)


def report(tracer: trace.Tracer, probe: StreamingProbe, wl, log_dir: str, app_id: str, session_s: float) -> dict:
    spans = tracer.spans
    jobs = trace.read_event_log(log_dir, app_id)
    trace.attribute(spans, [j for j in jobs if j["t0"] >= min((s.t0 for s in spans), default=0)])
    passes = max(1, len(wl.pass_walls))
    v = {n: 0.0 for n, _ in names()}

    def per_pass(x: float) -> float:
        return x / passes

    ops = [s for s in spans if s.parent is None]
    by_name: dict[str, list[trace.Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    selfs = trace.self_times(spans)

    for op in ops:
        kind = op.name.removeprefix("op.")
        if kind not in workloads.CATALOG_GROUPS:
            continue
        r = trace.rollup(spans, op)
        plan = sum(s.wall for s in spans if s.parent == op.id and s.name == "plan")
        v[f"{kind}.plan_s"] += per_pass(plan)
        v[f"{kind}.driver_s"] += per_pass(op.wall - r["job_s"])
        v[f"{kind}.jobs"] += per_pass(r["jobs"])
        v[f"{kind}.task_cpu_s"] += per_pass(r["cpu_s"])
        v[f"{kind}.shuffle_mb"] += per_pass(r["shuffle_mb"])
        v[f"{kind}.gc_s"] += per_pass(r["gc_s"])
        if kind in workloads.LLM_GROUPS:
            v[f"{kind}.python_mb"] += per_pass(r["python_mb"])

    v["session.get_spark.wall_s"] = session_s
    full = [s.wall for s in by_name.get("op.sync_full", [])]
    delta = [s.wall for s in by_name.get("orchestrator.run_sync", []) if wl.ops[s.op]["kind"] == "round"]
    v["orchestrator.run_sync.full_s"] = statistics.median(full) if full else 0.0
    v["orchestrator.run_sync.delta_p50_s"] = statistics.median(delta) if delta else 0.0
    v["orchestrator.run_sync.self_s"] = per_pass(selfs.get("orchestrator.run_sync", 0.0))
    v["pipeline.versioned.merge_files.self_s"] = per_pass(selfs.get("pipeline.versioned.merge_files", 0.0))
    for s in by_name.get("orchestrator.run_sync", []):
        r = trace.rollup(spans, s)
        v["orchestrator.run_sync.jobs"] += per_pass(r["jobs"])
        v["orchestrator.run_sync.task_cpu_s"] += per_pass(r["cpu_s"])
        v["orchestrator.run_sync.shuffle_mb"] += per_pass(r["shuffle_mb"])
        v["orchestrator.run_sync.gc_s"] += per_pass(r["gc_s"])
    for name in ("orchestrator.load_supplier_feeds", "orchestrator.run_status", "pipeline.registry.run_sync",
                 "pipeline.versioned.merge_files"):
        v[f"{name}.wall_s"] = per_pass(sum(s.wall for s in by_name.get(name, [])))
    for s in by_name.get("pipeline.versioned.merge_files", []):
        v["pipeline.versioned.merge_files.jobs"] += per_pass(trace.rollup(spans, s)["jobs"])
        for k in ("files_rewritten", "files_kept", "files_skipped"):
            v[f"pipeline.versioned.merge_files.{k}"] += per_pass(s.attrs.get(k, 0))
    v["pipeline.versioned.read_version.jobs"] = per_pass(
        sum(len(s.jobs) for s in by_name.get("pipeline.versioned.read_version", []))
    )
    lookups = [s.wall for s in by_name.get("pipeline.versioned.point_lookup", [])]
    v["pipeline.versioned.point_lookup.wall_s"] = statistics.median(lookups) if lookups else 0.0

    # counters read back from the stores after the timed passes
    written_mb = rows_written = delta_rows = 0.0
    for path, version, span in probe.merges:
        if not os.path.isdir(path) or version < 2:
            continue
        new = set(_snapshot(path, version)) - set(_snapshot(path, version - 1))
        written_mb += sum(os.path.getsize(f) for f in new) / 1e6
        op = wl.ops[span.op] if span.op is not None else {}
        if op.get("kind") == "round":
            rnd = wl.feeds.rounds[int(op["name"].removeprefix("delta")) - 1][0]
            rows_written += sum(pq.read_metadata(f).num_rows for f in new)
            delta_rows += len(rnd.masters)
    v["pipeline.versioned.merge_files.bytes_written_mb"] = per_pass(written_mb)
    v["pipeline.versioned.merge_files.rewrite_amp"] = rows_written / delta_rows if delta_rows else 0.0

    scanned = total = fp = negatives = 0
    for path, col, values, plan in probe.plans:
        scanned += len(plan["candidates"])
        total += plan["files_total"]
        if not os.path.isdir(path):
            continue
        wanted = set(values)
        cands = {os.path.basename(c) for c in plan["candidates"]}
        for f in _snapshot(path, plan["version"]):
            if not wanted & set(pq.read_table(f, columns=[col]).column(0).to_pylist()):
                negatives += 1
                fp += os.path.basename(f) in cands
    v["pipeline.versioned.point_lookup.files_scanned_ratio"] = scanned / total if total else 0.0
    v["pipeline.versioned.point_lookup.bloom_fp_ratio"] = fp / negatives if negatives else 0.0
    v["pipeline.versioned.stored_mb"] = wl.workload_metrics().get("stored_mb", (0.0,))[0]

    v["streaming.triggers"] = per_pass(len(probe.progress))
    for key, name in (("queryPlanning", "query_planning_s"), ("addBatch", "add_batch_s"), ("walCommit", "wal_commit_s")):
        v[f"streaming.{name}"] = per_pass(sum(p.get(key, 0) for p in probe.progress) / 1000)
    v["spark.spill_mb"] = per_pass(sum(j["spill_mb"] for s in spans for j in s.jobs))
    v["trace.total_s"] = statistics.median(wl.pass_walls)
    units = dict(names())
    return {n: {"value": v[n], "unit": units[n]} for n in units}

