#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload pim_sync --seed 1 --seconds 15 --trace 0

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``pim_sync``: full versioned PIM sync, then delta syncs, point lookups
  and status queries on the same gold table, over seeded feeds;
- ``catalog_batch``: one pinned entry per layer group of the read-only
  analyst catalog (operators, llm_ops, expectations) over seeded tables;
- ``catalog_stateful``: one pinned entry per layer group of the multi-job
  entries (streaming, entity resolution, versioned store).

The run starts one Spark session at ``local[<cpus>]``, generates its
inputs from ``--seed`` inside ``perfbench/_work``, runs the workload's
op sequence in a closed loop for ``--seconds``, checks every output, and
prints one ``name value unit`` line per metric, then a JSON object as
the last line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same ops with spans around calls into each layer's public functions,
the Spark event log and a streaming progress listener, and reports the
per-layer metrics instead. Every run also writes a self-describing
artifact under ``perfbench/results/<workload>/<shape>/``.

Exits non-zero, printing no result line, when the program under test
cannot be imported or set-up fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Point every scratch write of the program and of Spark inside the
    run's work directory, and let Python workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM that assembles the spark-submit command writes perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pim_etl_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_rev() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this driver plus its JVM."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    pids = [proc.pid]
    while pids:  # spark-submit may wrap the JVM in a shell
        pid = pids.pop(0)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as fh:
                pids += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return None


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, read from ``/proc``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    kids = [int(c) for c in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def _stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session (``None`` if it never started), end its JVM and
    every process it started (launcher shell, Python workers), and wait
    until each has ended."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    except Exception as exc:  # the JVM may already be gone; end it below either way
        print(f"perfbench: spark.stop failed: {exc}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes; closing the py4j
        # gateway from this side instead can hang on a callback connection
        if proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    pids += _descendants(os.getpid())
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def _session(work: str, traced: bool):
    from pim_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _bench_control(spark, data_dir: str) -> float:
    """Host-speed reading: median of three runs of the catalog's
    constant-work ``bench_control`` entry."""
    from pim_etl_spark.catalog import get_queries

    fn = get_queries()["bench_control"]
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(spark, data_dir).write.mode("overwrite").format("noop").save()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        import pim_etl_spark
        import workloads
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pim_etl_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pim_etl_spark was imported from {pim_etl_spark.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(work, "tmp"))

    import layers
    import trace

    # a SIGTERM unwinds through the ``finally`` below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    traced = bool(args.trace)
    t_start = time.perf_counter()
    spark = None
    try:
        spark, session_s = _session(work, traced)
        tracer = trace.Tracer(spark, enabled=False)
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)
        t0 = time.perf_counter()
        wl.setup()
        # inputs are generated several times; their median stands for
        # one set-up, the rest of set-up (session, one-time program
        # work) happens once per run
        setup_s = session_s + (time.perf_counter() - t0) - sum(wl.setup_reps) + statistics.median(wl.setup_reps)
        control_s = _bench_control(spark, wl.data)
        probe = None
        if traced:
            probe = layers.instrument(spark, tracer)
            tracer.enabled = True
        t_run = time.perf_counter()
        wl.run(args.seconds)
        run_s = time.perf_counter() - t_run
        tracer.enabled = False
        wl.verify()
        jvm = _jvm_pid(spark)
        rss_mb = _peak_rss_mb(jvm)
        e2e = wl.metrics()
        e2e["setup_s"] = (setup_s, "s")
        e2e["peak_rss_mb"] = (rss_mb, "MB")
        extra = wl.workload_metrics()
        per_layer = None
        if traced:
            probe.settle()
            app_id = spark.sparkContext.applicationId
            spark.stop()  # flushes the event log
            per_layer = layers.report(tracer, probe, wl, os.path.join(work, "events"), app_id, session_s)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(wl.ops)
    failed = sum(1 for o in wl.ops if not o["ok"])
    correct = failed == 0 and not wl.checks
    shape = f"{wl.shape}-c{_cpus()}-{'traced' if traced else 'untraced'}"
    out_dir = os.path.join(HERE, "results", args.workload, shape)
    os.makedirs(out_dir, exist_ok=True)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "traced": traced,
        "shape": wl.shape, "sf": wl.sf, "cpus": _cpus(), "passes": len(wl.pass_walls), "git_rev": _git_rev(),
        "source_digest": _source_digest(), "bench_control_s": control_s,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], "python": sys.version.split()[0],
        "setup_reps_s": wl.setup_reps, "session_s": session_s, "run_s": run_s,
        "wall_s": time.perf_counter() - t_start,
        "correct": correct, "attempted": attempted, "failed": failed,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "checks_failed": wl.checks,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        "per_layer": per_layer,
        "ops": wl.ops,
    }
    if traced:
        tracer.dump(os.path.join(out_dir, f"seed{args.seed}.spans.jsonl"))
    with open(os.path.join(out_dir, f"seed{args.seed}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)

    shown = per_layer if traced else artifact["end_to_end"]
    for k, m in {**shown, **({} if traced else artifact["workload_metrics"])}.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"fail_ratio {artifact['fail_ratio']:.6g} ({failed}/{attempted} ops); bench_control {control_s:.4f} s")
    for c in wl.checks:
        print(f"CHECK FAILED {c}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
