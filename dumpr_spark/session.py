"""SparkSession factory.

UTC session timezone is a hard requirement inherited from the reference
("Make sure your MySQL server is using UTC", /root/reference/README.md:36;
JDBC timestamp normalization at src/dumpr/query.clj:32-43) and also what makes
results comparable with DuckDB's UTC-naive timestamps.

Scale posture: AQE on (runtime re-planning, skew-join splitting, dynamic
coalescing of shuffle partitions), Arrow on (vectorized pandas-UDF transfer),
shuffle partitions sized to the local core count — on a real cluster this is
overridden to ~2-3x total executor cores.

Python workers: the JVM forks them from `dumpr_spark.worker_daemon`
(`spark.python.daemon.module`) instead of `pyspark.daemon`. Every Python
task calls `importlib.invalidate_caches()`, and on CPython 3.11 each
zipimporter then re-reads its archive's whole central directory: 16-18
importers over pyspark.zip (1,328 entries), the spark-core jar (5,359) and
the py4j zip. Measured on a 4-vCPU host, that call took 115-274 ms CPU
per task (0.06-0.14 ms stat-checked), where the streaming tx-filter fold
takes 2-3 ms per group. The daemon re-reads an archive only when its stat
stamp (mtime_ns, size, inode) changed, so a rewritten or newly added
`addPyFile` archive still imports its new contents. The daemon has to be
importable from wherever the JVM runs Python, so the package's parent
directory goes on the workers' path through `spark.executorEnv.PYTHONPATH`,
merged with a caller-supplied value. On a cluster whose executors get the
package only per task (`--py-files` on a standalone master), the daemon
cannot import it at start: pass `spark.python.daemon.module=pyspark.daemon`
in `extra_conf` there.

Codegen cache: Spark keeps the classes janino compiles for generated code
in one JVM-wide cache, an LRU split into 4 segments, of
`spark.sql.codegen.cache.maxEntries` classes (a static conf, default 100,
so it settles at 96-97). A session that re-runs a set of queries touches
their classes in a cycle, and a cycle larger than an LRU misses on every
access: each entry is evicted just before its next use. The 8-query
benchmark mix generates 112 distinct classes, so at the default 59-86 of
them, those hashed into a segment the cycle overflows, were recompiled on
every warm pass (190-560 ms of compile time per pass on a 4-vCPU host); all
284 registry queries at sf0.001 generate 3,588-3,600. Holding 3,600 classes
costs about 110 MB heap plus 34 MB non-heap, about 40 KB per entry, so 4096
holds the whole registry for about 2% of the 8 GB driver heap, and a
working set as small as the mix costs only what it uses.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory `dumpr_spark` is imported from, for the worker path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dumpr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Local mode for tests/bench; on a cluster the master/deploy settings come
    from spark-submit and only the semantic confs below matter.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")  # testdata events.ts is TIMESTAMP(NANOS)
        # performance
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.python.daemon.module", "dumpr_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
