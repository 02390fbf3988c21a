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
per task (0.06-0.14 ms stat-checked), against 2-3 ms per group for the
fold of a pandas stateful operator (measured on the tx filter's). The
daemon re-reads an archive only when its stat stamp (mtime_ns, size,
inode) changed, so a rewritten or newly added
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

Engine jar: `engine_jar` compiles the Java sources in `dumpr_spark/jvm`
into one jar on the driver classpath, which in `local[N]` is the executors'
too: the `file:` filesystem classes (below) and `TxFilter`, the streaming
transaction filter as a `flatMapGroupsWithState` fold
(`streaming.state.streaming_tx_filter`), so a CDC micro-batch's rows stay
in the JVM instead of crossing to a Python worker and back through Arrow.
The compiler is the Janino that Spark ships in `$SPARK_HOME/jars`, run by
the `java` that launches the session (`$JAVA_HOME/bin/java`, else `java`
on `PATH`, spark-class's rule), so the jar builds wherever a session can
start, with or without a JDK. It is compiled once per version of its
sources and of the jar names in `$SPARK_HOME/jars`, its classpath, into
`$XDG_CACHE_HOME/dumpr_spark` (default `~/.cache`; the first build takes
about a second). A build that fails raises with the compiler's message.
On a non-local master the executors do not see the driver classpath: pass
the jar (`engine_jar()`) with `--jars` or `spark.jars`, or the filter's
tasks fail to load `TxFilter`.

Local files: without libhadoop (the session logs "Unable to load
native-hadoop library"), Hadoop's `file:` filesystem forks a `chmod`
process on every create, mkdir and setPermission, and a `readlink` on
every link-status lookup, several per FileContext rename. A streaming
micro-batch commits its offset, commit and source logs, the RocksDB state
upload and the sink's files through it: in a `cdc_replicate` tail on a
4-vCPU host that was 95 forks per batch, about 1.8 ms of CPU each, 0.17 s
per batch that shows only in the JVM's reaped-children time. `get_spark`
points the scheme at the jar's three filesystem classes, which make the
same `chmod(2)` and `lstat(2)` calls in-process and are Hadoop's classes
otherwise (`.crc` sidecars, file modes, a FileContext rename that refuses
an existing target). The tail then forks only Spark's `rm -rf` of
RocksDB's local checkpoint dirs, 4-5 per batch, 0.010 s. An `extra_conf`
value for `spark.hadoop.fs.file.impl` wins over the engine's.

Call sites: PySpark 4.1 wraps `F.col` and every classic `Column` method
(`alias`, `cast`, `isin`, the operators) in `_with_origin`
(`pyspark/errors/utils.py`) while
`spark.python.sql.dataFrameDebugging.enabled` is on, its default. Each
wrapped call then walks the Python stack for the first frame outside
pyspark and makes about four extra py4j round trips (looking up the JVM's
`PySparkCurrentOrigin`, reading `spark.sql.stackTracesInDataFrameContext`,
setting and clearing the origin). Over 2,000 calls on a warm `local[2]`
session on a 4-vCPU host, `F.col` took 578 µs of wall time per call with it
and 186 µs without, `col * col` 479 and 49 µs, `.cast` 492 and 101 µs.
Every query and every merge micro-batch builds its plan from Python anew,
so `session_conf` turns it off. What is lost is the Python line in the
DataFrame query context of analysis and runtime errors: the
`== DataFrame ==` section of, say, a failed ANSI cast no longer names the
line that built the expression. To get it back, pass
`extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`;
PySpark reads the flag once per Python process, at the first wrapped call
with an active session.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile
import zipfile

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the directory `dumpr_spark` is imported from, for the worker path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sources of the engine jar, and the Hadoop keys its `file:` classes serve
_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS = {
    "spark.hadoop.fs.file.impl": "dumpr_spark.jvm.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "dumpr_spark.jvm.NoForkLocalFs",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def engine_jar() -> str:
    """The jar of the engine's JVM classes (`dumpr_spark/jvm`: the `file:`
    filesystem classes and the streaming tx filter), compiled by Spark's
    Janino once per version of their sources and of the jar names in
    `$SPARK_HOME/jars`, their classpath, into the user cache dir (not
    TMPDIR, which a caller may delete). Raises RuntimeError, with the
    compiler's message, when the sources do not compile."""
    classpath = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    sources = sorted(glob.glob(os.path.join(_JVM_SRC, "*.java")))
    digest = hashlib.sha256()
    for lib in classpath:
        digest.update(os.path.basename(lib).encode() + b"\0")
    for src in sources:
        with open(src, "rb") as f:
            digest.update(os.path.basename(src).encode() + b"\0" + f.read())
    cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
                         "dumpr_spark")
    jar = os.path.join(cache, f"engine-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    java_home = os.environ.get("JAVA_HOME")  # spark-class's rule for its `java`
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    janino = [p for p in classpath
              if os.path.basename(p).startswith(("janino-", "commons-compiler-"))]
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        # Janino's one command-line entry point; its -classpath is a plain
        # path list, with no `*` wildcard
        built = subprocess.run(
            [java, "-cp", os.pathsep.join(janino),
             "org.codehaus.commons.compiler.samples.CompilerDemo",
             "-d", classes, "-classpath", os.pathsep.join(classpath), *sources],
            capture_output=True, text=True)
        if built.returncode:
            raise RuntimeError(f"cannot compile the engine's JVM classes in {_JVM_SRC}: "
                               + built.stderr.strip())
        part = os.path.join(tmp, "engine.jar")
        with zipfile.ZipFile(part, "w") as z:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


def _prepend(conf: dict[str, str], key: str, entry: str) -> None:
    """Put `entry` first on the path-list conf `key`, keeping a caller's value."""
    conf[key] = os.pathsep.join(p for p in (entry, conf.get(key)) if p)


def session_conf(
    cpus: int,
    shuffle_partitions: int,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Every conf `get_spark` sets besides the master and app name:
    `extra_conf` wins over the engine's values, and the two path lists are
    merged with it."""
    conf = {
        # semantics
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
        "spark.sql.legacy.parquet.nanosAsLong": "true",  # testdata events.ts is TIMESTAMP(NANOS)
        # performance
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.python.sql.dataFrameDebugging.enabled": "false",  # see "Call sites"
        "spark.ui.enabled": "false",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.python.daemon.module": "dumpr_spark.worker_daemon",
        **_LOCAL_FS,
        **(extra_conf or {}),
    }
    _prepend(conf, "spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    # the master is local[N], so the driver's classpath is the executors' too
    _prepend(conf, "spark.driver.extraClassPath", engine_jar())
    return conf


def get_spark(
    app_name: str = "dumpr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    Local mode for tests/bench; on a cluster the master/deploy settings come
    from spark-submit and only the semantic confs of `session_conf` matter.
    """
    cpus = cpus or default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in session_conf(cpus, shuffle_partitions or cpus, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
