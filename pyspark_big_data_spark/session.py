"""SparkSession factory with scale-minded defaults.

The reference builds bare sessions per script (``src/query1.py:150-152``);
here session construction is centralized so every entry point gets the
same tuned configuration:

- AQE on (runtime partition coalescing + skew-join splitting) so plans
  re-optimize at 100 TB without hand-tuned shuffle partition counts.
- UTC session time zone: event-time semantics are deterministic and
  identical to the DuckDB oracle's naive timestamps.
- ``nanosAsLong``: the test parquet stores TIMESTAMP(NANOS), which the
  vectorized reader otherwise rejects; io.read_table converts the long
  back to a proper timestamp column.
- Arrow enabled for any pandas_udf / toPandas path.
- A codegen cache of 1000 classes instead of Spark's 100. Warm passes
  of the benchmark's ``olap_reads`` queries (sf0.05, local[4]) use
  about 110 generated classes (about 600 KB of bytecode), so the
  default cache evicted them before reuse and each warm pass compiled
  about 73 classes (0.65-0.70 s of Janino time per ~5.5 s pass). At
  1000, warm passes compile none; the cold pass still compiles its 111.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that CORRECTNESS depends on. These are also
# (re)applied to externally-created sessions via ensure_session_confs().
# Performance confs (AQE etc.) live in _PERF_CONFS and are only set at
# session build time — callers may legitimately toggle the runtime ones
# per query.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Static: the JVM builds its one codegen cache when it first compiles,
    # so this holds only if the first session in the JVM set it, and no
    # caller can toggle it later. Sized from the warm working set in the
    # module docstring (about 110 classes) with room for other queries.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "pyspark-big-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count: on a real
    cluster this would instead be sized to ~2-3x total executor cores,
    or simply left to AQE's coalescing with a high initial value.
    """
    par = shuffle_partitions or _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_default_parallelism()}]")
        .config("spark.sql.shuffle.partitions", str(par))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR",
                os.path.join(tempfile.gettempdir(), "pyspark_big_data_warehouse"),
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in {**_RUNTIME_CONFS, **_PERF_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to an existing session.

    The verification driver owns its own SparkSession; queries() entry
    points call this defensively so reads of TIMESTAMP(NANOS) parquet
    and UTC event-time semantics hold there too.
    """
    import warnings

    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # possibly immutable in this deployment; verified below
        # these confs are CORRECTNESS-critical (TIMESTAMP(NANOS) reads,
        # UTC event-time): never fail silently if the set didn't stick
        effective = spark.conf.get(k, None)
        if effective != v:
            warnings.warn(
                f"session conf {k}={effective!r} (wanted {v!r}): "
                "TIMESTAMP(NANOS) parquet reads / event-time semantics may be wrong",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark
