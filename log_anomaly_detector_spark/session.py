"""SparkSession factory tuned for the validation workload.

Local mode is a single JVM; on a real cluster the same config block applies
unchanged except ``master`` (spark-submit supplies it). AQE is on so skewed
shuffles re-plan at runtime; Arrow is on for the vectorized UDF path.

Also home to ``local_frame``, the one way the package turns driver-held rows
into a DataFrame.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession


def default_driver_memory(host_bytes: int) -> str:
    """Half the host's RAM in whole GiB (at least 1g). In local mode the
    driver JVM is also the only executor, and the other half is left for the
    Python workers, the OS and its page cache."""
    return f"{max(1, host_bytes // 2 // 2**30)}g"


def get_spark(
    app_name: str = "log_anomaly_detector_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` default: ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` default: the local core count — the 200 default
    over-parallelizes small local runs and under-parallelizes big ones.
    ``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY``, else derived from host
    RAM (``default_driver_memory``).
    """
    # cap BLAS threading in the Python workers BEFORE the JVM (and therefore
    # the workers) inherit this environment: task-level parallelism already
    # uses every core, and 32 workers × an N-thread GEMM pool oversubscribes
    # the box exactly when the Arrow kernels go hot. Workers import numpy
    # fresh, so the env caps them; setdefault keeps a caller's explicit
    # sizing. (Driver-side numpy may already be loaded — its tiny dim-sized
    # math doesn't care.)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] or cluster → cpu hint
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("", "*") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local_frame tables above 1 MB become a JVM-side Arrow RDD instead
        # of a LocalTableScan, whose per-action cost grows ~3x faster with
        # rows (4 cores: 400k two-long rows, 2.1 s vs 0.8 s per aggregate;
        # at the dedup fast path's 2M output rows, 6-7 s vs 1.3-2.2 s)
        .config("spark.sql.execution.arrow.localRelationThreshold", "1MB")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # idempotent per-partition rewrite (the engine's upsert analogue):
        # only partitions present in the written DataFrame are replaced.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema`` order;
    ``schema`` is a DDL string), built as an Arrow local relation.

    ``spark.createDataFrame(<list>, schema)`` pickles the rows into a Python
    RDD (``Scan ExistingRDD``) that every action over the frame re-runs as
    Python tasks: a cold Python worker start on first use, Python tasks on
    every action after. An Arrow table is shipped to the JVM once and
    planned as a ``LocalTableScan`` (a JVM-side Arrow RDD above
    ``spark.sql.execution.arrow.localRelationThreshold``), whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Schema (nullability
    included) and values match the list path; naive datetimes are read as
    local time, as the list path reads them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, TimestampType

    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    cols = []
    for i, (field, arrow_field) in enumerate(zip(struct, arrow_schema)):
        vals = [r[i] for r in rows]
        if isinstance(field.dataType, TimestampType):
            vals = [v if v is None else v.astimezone(timezone.utc) for v in vals]
        cols.append(pa.array(vals, type=arrow_field.type))
    table = pa.Table.from_arrays(cols, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def quiesce(spark: SparkSession, timeout_s: float = 30.0) -> None:
    """Wait (bounded) for stray async jobs before ``spark.stop()``.

    AQE submits broadcast-stage futures speculatively during planning; when
    the final plan goes another way, the abandoned future keeps running for a
    few seconds after the action returns. Stopping the session mid-task kills
    its Python workers and spews 'Python worker exited unexpectedly (crashed)'
    ERRORs into CLI output — harmless, but indistinguishable from a real
    crash to a reader. CLIs call this between the last action and stop().
    """
    import time

    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if not tracker.getActiveJobsIds():
            return
        time.sleep(0.2)
