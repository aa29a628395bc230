"""SparkSession factory with scale-aware defaults.

Defaults chosen for the 100 TB design point, scaled down for local mode:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every comparator
UDF crosses the Python boundary in Arrow batches), shuffle partitions sized
to the local core count (on a real cluster this is set to ~2-3x total cores
via spark-submit conf, AQE coalesces down). PySpark's DataFrame-debugging
call-site capture is off: it costs about five extra Py4J round trips per
Column function, and the linkage plans build about a thousand Column
expressions per job (about 0.9 s of driver time per nightly delta job on
4 vCPUs); Spark errors still carry the JVM-side plan context. The
compiled-code cache holds 1000 classes instead of Spark's 100, and the
generated class names leave out the codegen stage id, so one stage's code
compiles once wherever it sits in a plan: a nightly delta job generates
about 190 distinct classes, and with the defaults every repeat of the job
in a long-lived driver recompiled 50-190 of them (about 1-3 s a job).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bigmatch_utilities_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # Shuffle/spill dirs: prefer RAM-backed tmpfs in LOCAL mode only. On a
    # real cluster every executor brings its own local disks, so aggregate
    # shuffle bandwidth scales with the cluster; a single box has ONE disk
    # — an artificial serial resource that would otherwise cap scaling
    # measurements. Gated on local masters because tmpfs is typically capped
    # at 50% of RAM: a cluster job spilling into /dev/shm would trade disk
    # spill for memory pressure / no-space failures. Honors SPARK_LOCAL_DIRS
    # when the operator sets it; SPARK_GRAFT_TMPFS=0 opts out entirely.
    if (
        master.startswith("local")
        and not os.environ.get("SPARK_LOCAL_DIRS")
        and os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0"
        and os.path.isdir("/dev/shm")
    ):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
