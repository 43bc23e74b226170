"""SparkSession factory with 100 TB-minded defaults.

The reference engine hand-tunes parallelism/partitions/spill via
``dampr/settings.py:5-27`` (CPU-count workers, 91 partitions, 512 MB
watermark).  On Spark all of that is the shuffle machinery + AQE; the only
knobs we own are the ones below.  They are chosen so the same code runs on
``local[32]`` for tests and on a 1000-executor cluster unchanged:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's static 91-partition choice with runtime re-planning.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces
  down.  On a real cluster this should be ~2-3x total cores; at 100 TB you'd
  raise ``initialPartitionNum`` instead of this code changing.
- Arrow enabled so pandas-UDF operators (the custom-operator escape hatch) use
  vectorized batch transfer rather than row-at-a-time pickling.

Python workers start through a bootstrap, ``dampr_spark/_daemon.py``
(``spark.python.daemon.module``). Spark puts ``pyspark.zip``, the py4j zip
and the spark-core jar at the front of the workers' path, and every task's
``importlib.invalidate_caches()`` makes each cached zip importer re-read its
archive's directory. When the same pyspark is installed as a directory (its
``pyspark/version.py`` byte-identical to the zip's, py4j next to it), the
bootstrap takes those archives off the path, and pyspark loads from the
directory. Otherwise it leaves the path as Spark set it (the fallback is
Spark's stock behaviour). Measured on a 4-vCPU host with Spark 4.1.2 and
Python 3.11, for trivial tasks on a reused worker: 0.069-0.081 s of worker
CPU per task with the stock path, 0.008-0.009 s with the bootstrap. The
package's parent directory goes on the workers' ``PYTHONPATH`` so they can
import the bootstrap from any working directory. A plain ``SparkSession``
(such as one handed to ``__spark_entry__.py``'s ``entry``/``queries``) does
not get the bootstrap unless it sets the same two confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The directory that holds the ``dampr_spark`` package: put on the workers'
# path so they can run the bootstrap whatever the working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dampr-spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (the driver's contract) or
    ``local[*]``.  All configs are safe no-ops when an existing session is
    reused (Spark ignores conf on getOrCreate of a live session).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    extra_conf = dict(extra_conf or {})
    worker_pythonpath = [_PACKAGE_ROOT, extra_conf.pop("spark.executorEnv.PYTHONPATH", "")]
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing + skew-join handling. At 100 TB the skew
        # splitter is what keeps a hot join key from stalling a stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Initial shuffle parallelism; AQE coalesces small outputs.
        .config("spark.sql.shuffle.partitions", "64")
        # Deterministic timestamp semantics for the duckdb oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Vectorized Python<->JVM transfer for pandas UDF operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep broadcast joins aggressive: dimension tables (region, nation,
        # supplier, ...) stay far below this even at large SF.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader refuses; read as long and convert in the reader
        # (sources/readers.py) — DuckDB truncates nanos→micros the same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reliable-checkpoint hygiene (operators/pinning.py): when the
        # spark.dampr.checkpointDir knob routes iterative pins through
        # DataFrame.checkpoint, let the ContextCleaner GC checkpoint
        # files of collected frames. Read ONCE at SparkContext
        # construction — it cannot be enabled later at runtime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Python workers start through the bootstrap (dampr_spark/_daemon.py),
        # which takes Spark's archives off their import path.
        .config("spark.python.daemon.module", "dampr_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(p for p in worker_pythonpath if p))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
