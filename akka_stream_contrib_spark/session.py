"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]``; the same configuration keys are the ones
that matter on a 1000-executor cluster: AQE (runtime re-planning, skew-join
splitting, partition coalescing), broadcast thresholds for star-schema joins,
and Arrow for the pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "akka-stream-contrib-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-minded defaults.

    - AQE on: coalesces post-shuffle partitions and splits skewed joins at
      runtime, which is what makes a fixed ``shuffle.partitions`` safe at any SF.
    - Arrow on: every pandas-UDF operator (minhash, ANN, multimodal) moves data
      via Arrow record batches instead of pickled rows.
    - UTC session timezone: event-time semantics must not depend on the host.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (and coalesce) the materialization of persisted
        # frames: pipeline_cache is the repo-wide shared-subtree discipline,
        # and with the default (false) a cached range/hash shuffle keeps all
        # `shuffle.partitions` slices — every cache consumer then runs one
        # task per slice (measured 10 → 134 tasks on the global_order
        # operators when their range cache moved from localCheckpoint to
        # persist)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default codegen cache is 100 compiled classes; a session running the
        # full query manifest (~45 multi-stage plans) evicts hot entries and
        # re-pays javac+JIT per run — measured 3× on the wide-agg simhash plan
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        # driver fixtures store events.ts as TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long, convert in tables.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed (bucketed) tables live outside the repo tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # every Python task re-read pyspark.zip's central directory through
        # importlib.invalidate_caches(): ~0.2 s per task, the floor of every
        # pandas-UDF stage and of each stateful micro-batch. The daemon
        # keeps an unchanged archive's cached directory (see pydaemon.py).
        # A worker's path is its cwd plus Spark's zips, not this process's
        # sys.path: without the package's parent on PYTHONPATH, a session
        # started from another directory fails every Python stage
        .config("spark.python.daemon.module", "akka_stream_contrib_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
