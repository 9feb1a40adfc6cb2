"""SparkSession factory.

Configured for correctness parity with the DuckDB oracle (UTC session
time zone, nanos-as-long so INT64-nanosecond parquet timestamps read as
bigint instead of erroring — a no-op for micro-precision files) and
for scale (AQE with coalescing + skew-join handling, broadcast joins for
dimension tables). The same builder settings are what we would ship to a
1000-executor cluster; only ``master`` / shuffle-partition counts change.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "pim-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    At 100 TB the same knobs hold: AQE coalesces the statically-sized
    shuffle down to data-proportional partitions, skew-join splits hot
    keys, and the 64 MiB advisory partition size keeps reducers within
    executor memory. ``nanosAsLong`` lets INT64-nanosecond parquet
    timestamps (a pandas/arrow option some testdata generations used)
    scan as bigint instead of erroring; ``sources.normalize_event_ts``
    handles the unit conditionally either way.
    """
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Runtime bloom-filter join pruning
        # (spark.sql.optimizer.runtime.bloomFilter.enabled) is ON by
        # default in Spark 4 — at 100 TB it prunes fact-scan rows that
        # the join would drop, before they reach the shuffle. We rely
        # on the default rather than re-setting it; the old
        # runtimeFilter.semiJoinReduction conf no longer exists in 4.x
        # (setting it hangs the first job — verified locally).
        # --- shuffle sizing: local default; a real cluster overrides ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)),
        )
        # Whole-stage codegen field cap: the MinHash signature aggregate
        # carries 145 columns (144 coordinates + doc_id), which falls
        # back to interpreted evaluation at the default maxFields=100 —
        # measured ~17% slower on the LSH family at sf0.1. 400 keeps the
        # aggregate inside codegen; the setting is scale- and
        # core-count-independent (it caps generated-code width, not
        # parallelism), so the same value ships to a cluster.
        .config("spark.sql.codegen.maxFields", "400")
        # --- python<->jvm transfer is Arrow-batched everywhere ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark wraps every DataFrame/Column API call to capture its
        # Python call site (~4 py4j round trips per call): building the
        # 9-dialect sync plan made 24.6k round trips. Off, the registry
        # plan build fell from 5.4-5.7 s to 3.6-3.7 s (4 cores). The
        # cost: Spark errors no longer carry the Python "DataFrame
        # context" (the user line that built the failing expression).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows: Sequence[Sequence], schema: str | Sequence[str]) -> DataFrame:
    """A driver-built table (lookup/decode tables, manifest stats) as a
    ``LocalTableScan``. ``spark.createDataFrame(list)`` plans a
    ``parallelize`` + ``map`` PythonRDD whose stage starts a Python
    worker on every core; the Arrow table below ships to the JVM as
    one batch and never leaves it. ``schema`` is a DDL string, or
    column names whose types Arrow infers from the values (the same
    Spark types list inference gives for scalars)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else None
    names = struct.names if struct else list(schema)
    columns = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    if struct is None:
        return spark.createDataFrame(pa.Table.from_pydict(columns), names)
    return spark.createDataFrame(
        pa.Table.from_pydict(columns, schema=to_arrow_schema(struct)), struct
    )
