"""SparkSession helpers — one place for engine-relevant configs.

Scale posture (SURVEY.md §4.2, BASELINE scaling rule): AQE on
(runtime re-plan + skew-join), Arrow batches for every pandas UDF
stage, shuffle partitions sized for the local harness but overridable
for cluster runs via SPARK_GRAFT_* env vars.

Python workers of a local session run under geospark._daemon, which
hands over to pyspark's own daemon after one change to `sys.path`.
Spark puts pyspark.zip and the spark-core jar first on the workers'
path, and every task's `importlib.invalidate_caches()` makes each
zipimporter re-read its archive's directory: 134-229 ms of CPU per
task, more than the flagship kernel itself (38-49 ms for an 87k-row
task), on every partition of every Python stage.  The daemon swaps
pyspark.zip for the same distribution's source tree and drops archives
that hold no Python (see its docstring); per-task invalidation then
costs 0.3-0.4 ms.  The daemon is set only on a local[...] master, the
same fact io/gpkg.py's placement reads: it needs `geospark` importable
before any task ships it, so the directory holding the package goes on
the executors' PYTHONPATH, and a driver-local path means nothing to a
remote executor.  Other masters keep pyspark.daemon.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_master(master: str) -> bool:
    """Do executors run on the driver's machine, so that a path the
    driver names is the same file for them?"""
    return master.startswith("local")


def build_session(
    app: str = "geospark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured sweep at 32-way (round-6 flagship profile, 16M pages):
        # 16384→1.18M, 65536→1.94M, 262144→2.43M, 524288→2.26M pages/s —
        # one Arrow batch per ~128k-row task partition minimizes the
        # per-batch JVM↔python round-trip overhead that capped scaling
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "262144"),
        )
        # Spark 4 defaults spark.sql.execution.arrow.maxBytesPerBatch to
        # 64MB, and any finite value makes BatchedPythonArrowInput call
        # arrowWriter.sizeInBytes() PER ROW while feeding python workers
        # (underBatchSizeLimit, PythonArrowInput.scala) — measured ~7µs/row
        # of pure JVM overhead: a consume-only mapInPandas over 112M
        # 24-byte rows cost 34.5s vs 12.8s with the Int.MaxValue sentinel,
        # which short-circuits the check.  Batch memory stays bounded by
        # maxRecordsPerBatch above (262144 rows), which is the right cap
        # for this engine's python stages: every kernel input is either
        # narrow numerics (flagship/joins/knn) or documents whose row
        # width the corpus bounds.  Deployments feeding multi-MB rows to
        # python stages should restore a finite cap via this env knob.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", "2147483647"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # timestamps format and bucket in UTC whatever the host's zone:
        # hourly windows formatted after the aggregate (events_hourly)
        # would otherwise repeat or skip an hour across DST changes
        .config("spark.sql.session.timeZone", "UTC")
        # saveAsTable targets (bucketed tables, ops/bucketing.py) must
        # never land in the launch cwd; uid-scoped so two users on one
        # host don't collide on a sticky-bit /tmp directory
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(
                    tempfile.gettempdir(),
                    f"geospark_warehouse_{getattr(os, 'getuid', lambda: 0)()}",
                ),
            ),
        )
    )
    if local_master(master):
        b = b.config("spark.python.daemon.module", "geospark._daemon").config(
            "spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT
        )
    return b.getOrCreate()
