"""The three workloads. Each is a closed loop with one client: an op
starts only after the previous one returned.

A *pass* is the workload's fixed op sequence. The first pass always
runs; another starts only while, at the pace so far, it would end
within the requested seconds. The work in a pass never depends on host
speed, and ``total_s`` is the median pass wall.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from pyspark.sql import functions as F

import check
import feeds
import tables
import trace

# Layer groups for the per-layer metrics: one per catalog module, the
# smallest modules of a package merged into ``<package>.other``.
GROUPS = {
    "operators.tpch2": "operators.tpch", "operators.tpch3": "operators.tpch",
    "operators.windows": "operators.other", "operators.nested": "operators.other",
    "operators.scalar": "operators.other", "operators.graph": "operators.other",
    "operators.strings_dates": "operators.other", "operators.pim_queries": "operators.other",
    "llm_ops.multimodal": "llm_ops.other", "llm_ops.membership": "llm_ops.other",
    "llm_ops.modeling": "llm_ops.other",
}
CATALOG_GROUPS = (
    "operators.relational", "operators.advanced", "operators.analytics", "operators.warehouse",
    "operators.tpch", "operators.other", "operators.entity_resolution",
    "llm_ops.dedup", "llm_ops.corpus", "llm_ops.similarity", "llm_ops.text", "llm_ops.other",
    "pipeline.expectations", "pipeline.versioned", "streaming.queries",
)
LLM_GROUPS = tuple(g for g in CATALOG_GROUPS if g.startswith("llm_ops."))
# The catalog samples: one entry per layer group, the middle one by
# name; in the llm_ops groups the middle one among the entries that
# exchange data with Python workers (read off the event log's "data
# sent to Python workers" over every entry), so catalog_batch crosses
# the Arrow/Python boundary. Pinned here, so that a change to the
# catalog cannot silently change the workload. llm_ops.similarity has
# two such entries; embedding_lsh_neardup_buckets is left out because
# its recall floor fails its oracle on some generated embeddings.
BATCH_ENTRIES = (
    "udtf_chunk_spans", "incremental_neardup_gate", "image_patchify_grid", "embedding_group_pca",
    "feature_hashing_bow", "lateral_top2_per_customer", "largest_remainder_allocation",
    "max_qty_item_per_order", "multi_hop_enrich_join", "q20_excess_shipment_suppliers",
    "late_arriving_dimension", "expectations_audit",
)
STATEFUL_ENTRIES = ("er_incremental_link", "versioned_column_drop", "stream_latest_event_per_user")


def group_of(module: str) -> str:
    short = module.removeprefix("pim_etl_spark.")
    return GROUPS.get(short, short)


class Workload:
    """Shared loop: set up, run passes for ``seconds``, verify."""

    name = ""
    sf = 0.0

    def __init__(self, spark, tracer: trace.Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.ops: list[dict] = []  # {"kind", "name", "pass", "s", "ok"}
        self.pass_walls: list[float] = []
        self.setup_reps: list[float] = []
        self.checks: list[str] = []  # what failed verification, human readable

    def op(self, kind: str, name: str, n_pass: int, fn):
        """Time one op; a raised error is a failed op, never fatal."""
        self.tracer.op = len(self.ops)
        rec = {"kind": kind, "name": name, "pass": n_pass, "ok": True}
        out = None
        with self.tracer.span(f"op.{kind}", entry=name):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # counted in failed; the loop goes on
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
                print(f"FAILED {kind} {name}: {rec['error']}", file=sys.stderr)
            rec["s"] = time.perf_counter() - t0
        self.tracer.op = None
        self.ops.append(rec)
        return out

    def run(self, seconds: float) -> None:
        t_start = time.perf_counter()
        while not self.pass_walls or (
            time.perf_counter() - t_start + statistics.mean(self.pass_walls) <= seconds
        ):
            t0 = time.perf_counter()
            self.one_pass(len(self.pass_walls))
            self.pass_walls.append(time.perf_counter() - t0)

    def metrics(self) -> dict[str, tuple[float, str]]:
        return {"total_s": (statistics.median(self.pass_walls), "s")}

    def workload_metrics(self) -> dict[str, tuple[float, str]]:
        """Reported beside the end-to-end metrics, without a bound: the
        median op latency spreads more than 0.25 from run to run on the
        stateful workload, whose median op is one of three entries."""
        return {"op_p50_s": (statistics.median(o["s"] for o in self.ops), "s")}

    @property
    def shape(self) -> str:
        """Input size, for the artifact path: runs of one shape never
        overwrite another shape's artifacts."""
        return f"sf{self.sf:g}"

    def one_pass(self, n: int) -> None:
        raise NotImplementedError

    def verify(self) -> None:
        raise NotImplementedError


class CatalogWorkload(Workload):
    """Pinned catalog entries, each run cold (the catalog clears the
    Spark cache as an entry starts) with its rows collected to the
    driver; the rows each op returned are compared with the entry's
    DuckDB oracle after timing."""

    entries: tuple[str, ...] = ()
    sf = 0.01

    def setup(self) -> None:
        from pim_etl_spark.catalog import get_queries

        self.data = os.path.join(self.work, f"sf{self.sf:g}")
        for _ in range(3):
            t0 = time.perf_counter()
            tables.generate(self.data, self.sf, self.seed)
            self.setup_reps.append(time.perf_counter() - t0)
        queries = get_queries()
        self.queries = {n: queries[n] for n in self.entries}  # a missing entry aborts the run
        self.outputs = {}  # op index -> the rows it returned
        # the one-time session work bench.py does before timing: a warm
        # scan and the Python worker daemons
        from pim_etl_spark.sources import load_table

        load_table(self.spark, self.data, "lineitem").count()
        self.spark.range(10_000, numPartitions=self.spark.sparkContext.defaultParallelism).mapInPandas(
            lambda it: it, schema="id long"
        ).write.mode("overwrite").format("noop").save()

    def one_pass(self, n: int) -> None:
        for name in self.entries:
            fn = self.queries[name]

            def call(fn=fn):
                with self.tracer.span("plan"):
                    df = fn(self.spark, self.data)
                with self.tracer.span("collect"):
                    return df.toPandas()

            rows = self.op(group_of(fn.__module__), name, n, call)
            if rows is not None:
                self.outputs[len(self.ops) - 1] = rows

    def verify(self) -> None:
        from pim_etl_spark.catalog import get_oracles

        oracles = get_oracles()
        con = check.duck(self.data, tables.TABLES)
        wanted = {}
        planted = False
        for i, got in self.outputs.items():
            name = self.ops[i]["name"]
            try:
                if name not in wanted:
                    wanted[name] = con.execute(oracles[name]).fetchdf() if name in oracles else None
                want = wanted[name]
                problem = check.compare(got, want)
                if problem is None and not planted and want is not None and len(want):
                    planted = True
                    if check.compare(check.plant_wrong(got), want) is None:
                        self.checks.append(f"self-test: a planted wrong row in {name} was not caught")
            except Exception as exc:
                problem = f"oracle raised {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            if problem is not None:
                self.ops[i]["ok"] = False
                self.checks.append(f"{name}: {problem}")
        if not planted:
            self.checks.append("self-test: no verified entry to plant a wrong answer in")


class CatalogBatch(CatalogWorkload):
    name = "catalog_batch"
    entries = BATCH_ENTRIES


class CatalogStateful(CatalogWorkload):
    name = "catalog_stateful"
    entries = STATEFUL_ENTRIES


class PimSync(Workload):
    """The PIM write path on one versioned gold table: a full sync, then
    one op per delta round — a delta sync, a point lookup of the
    products the round touched and a status query, timed one by one
    inside the op."""

    name = "pim_sync"
    n_masters = 1000
    rounds = 2

    @property
    def shape(self) -> str:
        return f"m{self.n_masters}-r{self.rounds}"

    def setup(self) -> None:
        for rep in range(3):
            t0 = time.perf_counter()
            self.feeds = feeds.PimFeeds(self.seed, self.n_masters, self.rounds)
            self.feeds.land(os.path.join(self.work, f"feeds{rep}"))
            self.setup_reps.append(time.perf_counter() - t0)
        self.data = os.path.join(self.work, "control")
        tables.generate(self.data, 0.001, self.seed)
        self.golds: list[str] = []
        self.results: list[tuple] = []  # (op index, kind, result, expected)

    def one_pass(self, n: int) -> None:
        from pim_etl_spark import orchestrator
        from pim_etl_spark.pipeline import versioned as V

        gold = os.path.join(self.work, f"gold{n}")
        self.golds.append(gold)
        pf = self.feeds
        res = self.op("sync_full", "base", n,
                      lambda: orchestrator.run_sync(self.spark, pf.base_dir, gold, versioned=True))
        self.results.append((len(self.ops) - 1, "sync", res, pf.base_counts))
        for r, (rnd, _) in enumerate(pf.rounds, 1):
            parts: dict[str, float] = {}

            def timed(part, fn):
                t0 = time.perf_counter()
                out = fn()
                parts[part] = time.perf_counter() - t0
                return out

            def round_op():
                synced = timed("sync_delta", lambda: orchestrator.run_sync(
                    self.spark, rnd.feeds_dir, gold, versioned=True))
                rows = timed("lookup", lambda: V.point_lookup(
                    self.spark, gold, "product_id", sorted(rnd.expected_values)
                ).select(
                    "product_id", "status", "base_price",
                    F.transform("variants", lambda v: F.struct(
                        v["sku"].alias("sku"), F.try_element_at(v["prices"], F.lit(1))["amount"].alias("amount")
                    )).alias("prices"),
                ).collect())
                status = timed("status", lambda: orchestrator.run_status(self.spark, gold))
                return synced, rows, status

            out = self.op("round", f"delta{r}", n, round_op)
            self.ops[-1]["parts"] = parts
            if out is not None:
                i = len(self.ops) - 1
                self.results += [(i, "sync", out[0], rnd.expected_counts), (i, "lookup", out[1], rnd.expected_values),
                                 (i, "status", out[2], rnd.expected_counts)]

    def verify(self) -> None:
        planted = False
        for i, kind, got, want in self.results:
            if got is None:
                continue  # the op itself failed and is already counted
            problem = {"sync": check.sync_result, "lookup": check.lookup_rows,
                       "status": check.status_result}[kind](got, want)
            if problem is None and kind == "lookup" and not planted:
                planted = True
                if check.lookup_rows(got, check.plant_wrong_lookup(want)) is None:
                    self.checks.append("self-test: a planted wrong lookup value was not caught")
            if problem is not None:
                self.ops[i]["ok"] = False
                self.checks.append(f"op {i} {kind}: {problem}")

    def workload_metrics(self) -> dict[str, tuple[float, str]]:
        def p50(part):
            return statistics.median(o["parts"][part] for o in self.ops if part in o.get("parts", {}))

        return {
            **super().workload_metrics(),
            "sync_full_s": (statistics.median(o["s"] for o in self.ops if o["kind"] == "sync_full"), "s"),
            "sync_p50_s": (p50("sync_delta"), "s"),
            "lookup_p50_s": (p50("lookup"), "s"),
            "stored_mb": (check.dir_bytes(self.golds[-1]) / 1e6, "MB"),
        }


WORKLOADS = {w.name: w for w in (PimSync, CatalogBatch, CatalogStateful)}
