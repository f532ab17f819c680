"""SparkSession construction with scale-ready defaults.

The reference's "environment open" (database.rs:48-77) maps to building the
one process-wide SparkSession (SURVEY.md §1.4). Config keys use the
``spark.valentinus.*`` namespace (reference env vars README.md:26-32).

Defaults are chosen for the 100 TB design point and are all safe on
local[32]:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (every pandas UDF crossing is vectorized)
- shuffle partitions sized by env (driver bench uses 32 locally; a real
  cluster overrides via ``--conf`` — AQE coalescing makes the static value
  non-critical)
"""

from __future__ import annotations

import atexit
import os
import shutil
import socket
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# spark.valentinus.* conf keys (reference env vars, README.md:26-32)
CONF_WAREHOUSE = "spark.valentinus.warehouse"  # ≈ LMDB_USER/VALENTINUS_LMDB_ENV
CONF_DIM = "spark.valentinus.dim"  # ≈ VALENTINUS_CUSTOM_DIM (onnx.rs:23)
CONF_EMBED_BATCH = "spark.valentinus.embedBatchSize"  # ≈ BATCH_SIZE (onnx.rs:17)

DEFAULT_DIM = 384  # reference onnx.rs:20
DEFAULT_EMBED_BATCH = 100  # reference onnx.rs:17


def get_spark(app_name: str = "valentinus-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session with engine defaults applied.

    Python tasks start under ``valentinus_spark._daemon`` (set as
    ``spark.python.daemon.module``), which keeps a worker from re-reading
    every zip archive on its path before each task (~200 ms a task on
    CPython < 3.13). Executors must therefore be able to import
    ``valentinus_spark``, as the embedding UDF already requires: a local
    session puts the source checkout it was loaded from on its workers'
    PYTHONPATH; on a cluster, ship the package with the job.

    A new local session connects its Python workers over a Unix socket
    in a private directory under ``/tmp`` (a one-task Python job: median
    68 ms against 112 ms over loopback TCP, ``local[4]`` on 4 vCPUs).
    Spark's default place for the socket, ``java.io.tmpdir``, can be deep
    enough that the socket's path exceeds the 108-byte limit of a socket
    address. The directory is removed when the session stops, or else
    when the process exits."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_AQE=0 pins the static planner — a correctness shake
    # (dev_compare --no-aqe): results must be identical in both plan
    # spaces, so an operator relying on an AQE-specific physical shape
    # (coalesced partition order, skew-split join) fails the sweep
    aqe = "false" if os.environ.get("SPARK_GRAFT_AQE") == "0" else "true"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark's
        # vectorized reader rejects; read as int64 nanos and convert
        # explicitly (see __spark_entry__._events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # PySpark 4.1 wraps every F.* and Column call to record its Python
        # call site for DataFrame error messages: a session lookup, a conf
        # read and two JVM calls each, ~1.2 ms of a 1.5 ms F.col. Queries
        # build their plans per request, so this is off: DataFrame errors
        # lose the Python line, every plan-building call gets ~5x cheaper.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # stock pyspark.daemon minus the per-task zip re-reads (_daemon.py)
        .config("spark.python.daemon.module", "valentinus_spark._daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = (master or "").startswith("local")
    if local and os.path.basename(root) not in ("site-packages", "dist-packages"):
        # local workers start in the driver's working directory: let them
        # import this source checkout (and so the daemon) from anywhere
        builder = builder.config("spark.executorEnv.PYTHONPATH", root)
    sock_dir = None
    if local and SparkContext._active_spark_context is None and hasattr(socket, "AF_UNIX"):
        sock_dir = tempfile.mkdtemp(prefix="vs-", dir="/tmp")
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", sock_dir
        )
    spark = builder.getOrCreate()
    if sock_dir is not None:
        _remove_on_stop(spark, sock_dir)
    return spark


def _remove_on_stop(spark: SparkSession, path: str) -> None:
    """Remove ``path`` once ``spark`` stops, or at exit if it never does."""
    def remove() -> None:
        shutil.rmtree(path, ignore_errors=True)

    atexit.register(remove)
    stop = spark.stop

    def stop_and_remove() -> None:
        try:
            stop()
        finally:
            remove()
            atexit.unregister(remove)

    spark.stop = stop_and_remove


def warehouse_dir(spark: SparkSession) -> str:
    """Collection storage root (≈ LMDB env dir, database.rs:63-67)."""
    default = os.path.join(os.path.expanduser("~"), ".valentinus_spark")
    return spark.conf.get(CONF_WAREHOUSE, default)


def embedding_dim(spark: SparkSession) -> int:
    return int(spark.conf.get(CONF_DIM, str(DEFAULT_DIM)))
