"""Session settings that only show over many queries in one JVM or per
Column call, and the engine jar `get_spark` builds: its `file:` filesystem
classes and the streaming tx filter."""

from __future__ import annotations

import glob
import logging
import os
import shutil
import zipfile

import pytest
from pyspark.sql import functions as F

from dumpr_spark import session


def test_codegen_cache_holds_a_cyclic_query_set(spark):
    """150 distinct plans, each run twice in order: the second pass must
    compile nothing. At Spark's default cache size (100) a cycle this long
    evicts every class just before its next use."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    plans = [spark.range(3).select((F.col("id") + i).alias("x"))
             for i in range(150)]
    for df in plans:
        df.collect()
    before = compiled.getCount()
    for df in plans:
        df.collect()
    assert compiled.getCount() - before == 0


# --- call-site capture (spark.python.sql.dataFrameDebugging.enabled) ---------

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_conf_turns_call_site_capture_off():
    assert session.session_conf(2, 2)[DEBUGGING] == "false"
    assert session.session_conf(2, 2, {DEBUGGING: "true"})[DEBUGGING] == "true"


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """A Column op in an engine session walks no Python stack for its call
    site. PySpark caches the flag per process, so the cache is cleared
    first and re-read from the session."""
    from pyspark.errors import utils

    assert spark.conf.get(DEBUGGING) == "false"
    calls = []
    capture = utils._capture_call_site
    monkeypatch.setattr(utils, "_capture_call_site",
                        lambda depth: calls.append(depth) or capture(depth))
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    (F.col("x") * F.col("y")).cast("long").alias("z")
    assert calls == []


# --- the engine jar (dumpr_spark/jvm) -----------------------------------------

ENGINE_FS = "dumpr_spark.jvm.NoForkLocalFileSystem"
ENGINE_FC = "dumpr_spark.jvm.NoForkLocalFs"
ENGINE_CLASSES = {f"dumpr_spark/jvm/{name}.class" for name in (
    "TxFilter", "TxFilter$BySeq", "NoForkLocalFileSystem", "NoForkRawLocalFileSystem",
    "NoForkLocalFs", "NoForkLocalFs$Raw")}


@pytest.fixture(scope="module")
def local_fs(spark):
    """The `file:` (FileSystem, FileContext) pair of the session and the
    same pair built from Hadoop's stock classes, by name."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(hconf)
    stock_conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    uri = jvm.java.net.URI("file:///")
    fs, fc = jvm.org.apache.hadoop.fs.FileSystem, jvm.org.apache.hadoop.fs.FileContext
    stock = fs.newInstance(uri, stock_conf)
    yield {"engine": (fs.get(uri, hconf), fc.getFileContext(hconf)),
           "stock": (stock, fc.getFileContext(stock_conf))}
    stock.close()


def test_file_scheme_runs_the_engine_classes(spark, local_fs):
    hconf = spark._jsc.hadoopConfiguration()
    assert hconf.get("fs.file.impl") == ENGINE_FS
    fs, fc = local_fs["engine"]
    assert fs.getClass().getName() == ENGINE_FS
    assert fc.getDefaultFileSystem().getClass().getName() == ENGINE_FC
    stock_fs, stock_fc = local_fs["stock"]
    assert stock_fs.getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"
    assert stock_fc.getDefaultFileSystem().getClass().getName() == \
        "org.apache.hadoop.fs.local.LocalFs"


def _local_fs_ops(spark, fs, fc, root):
    """Modes, sidecars, a refused rename and link statuses after the same
    operations, with `root` written as ROOT."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    P, perm = hfs.Path, hfs.permission.FsPermission
    no_opts = spark.sparkContext._gateway.new_array(hfs.Options.CreateOpts, 0)
    no_rename = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 0)

    def mode(name):
        return oct(os.stat(os.path.join(root, name)).st_mode & 0o7777)

    out = {}
    fs.mkdirs(P(f"file:{root}/fs_dir"), perm("750"))
    fc.mkdir(P(f"file:{root}/fc_dir"), perm.getDirDefault(), True)
    fs.create(P(f"file:{root}/fs_file")).close()
    fc.create(P(f"file:{root}/fc_file"),
              jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE), no_opts).close()
    out["modes"] = {n: mode(n) for n in ("fs_dir", "fc_dir", "fs_file", "fc_file")}
    fs.setPermission(P(f"file:{root}/fs_file"), perm("640"))
    out["mode_640"] = mode("fs_file")
    out["files"] = sorted(os.listdir(root))
    try:
        fc.rename(P(f"file:{root}/fc_file"), P(f"file:{root}/fs_file"), no_rename)
        out["rename"] = "renamed"
    except Exception as e:  # py4j's Py4JJavaError
        out["rename"] = e.java_exception.getClass().getName()
    os.symlink(os.path.join(root, "fs_file"), os.path.join(root, "link"))
    for path in (f"file:{root}/link", f"{root}/link"):
        for via, api in (("fs", fs), ("fc", fc)):
            st = api.getFileLinkStatus(P(path))
            out[via, path.replace(root, "ROOT")] = (
                st.isSymlink(), st.isFile(), st.getLen(), st.getPath().toString(),
                st.getSymlink().toString() if st.isSymlink() else None,
            )
    return {k: str(v).replace(root, "ROOT") for k, v in out.items()}


def test_engine_local_fs_matches_stock_hadoop(spark, local_fs, tmp_path):
    got = {}
    for name, (fs, fc) in local_fs.items():
        os.mkdir(tmp_path / name)
        got[name] = _local_fs_ops(spark, fs, fc, str(tmp_path / name))
    assert got["engine"] == got["stock"]
    engine = got["engine"]
    assert engine["mode_640"] == "0o640"
    assert engine["rename"] == "org.apache.hadoop.fs.FileAlreadyExistsException"
    for name in ("fs_file", "fc_file"):  # one checksum sidecar per create
        assert f".{name}.crc" in engine["files"]
    # the link branch is exercised: the unqualified path reads as a link
    assert engine["fs", "ROOT/link"].startswith("(True,")


def test_engine_local_fs_forks_no_process(spark, local_fs, tmp_path):
    """100 rounds of create + setPermission + FileContext rename: Hadoop's
    stock classes fork a chmod or readlink process for most calls, whose CPU
    the JVM collects as reaped-children time; the engine's fork none."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    no_rename = spark.sparkContext._gateway.new_array(hfs.Options.Rename, 0)
    perm = hfs.permission.FsPermission("640")
    stat = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/stat"

    def reaped_ticks():
        with open(stat) as f:
            v = f.read().rsplit(")", 1)[1].split()
        return int(v[13]) + int(v[14])  # cutime + cstime (fields 16, 17 of proc(5))

    grew = {}
    for name, (fs, fc) in local_fs.items():
        root = tmp_path / name
        os.mkdir(root)
        before = reaped_ticks()
        for i in range(100):
            p = hfs.Path(f"file:{root}/a{i}")
            fs.create(p).close()
            fs.setPermission(p, perm)
            fc.rename(p, hfs.Path(f"file:{root}/b{i}"), no_rename)
        grew[name] = reaped_ticks() - before
    assert grew["engine"] <= 2, grew
    assert grew["stock"] > 20, grew


@pytest.fixture(scope="module")
def jar_cache(tmp_path_factory):
    """A user cache dir holding a fresh build of the engine's jar."""
    cache = str(tmp_path_factory.mktemp("xdg_cache"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", cache)
        jar = session.engine_jar()
    assert jar.startswith(cache) and os.path.isfile(jar)
    return cache, jar


def _jar_classes(jar):
    with zipfile.ZipFile(jar) as z:
        return set(z.namelist())


def test_engine_jar_holds_the_tx_filter(jar_cache):
    assert _jar_classes(jar_cache[1]) == ENGINE_CLASSES
    with zipfile.ZipFile(jar_cache[1]) as z:
        head = z.read("dumpr_spark/jvm/TxFilter.class")[:8]
    assert head[:4] == b"\xca\xfe\xba\xbe" and head[6:] == b"\x00\x32"  # class version 50: Janino


def _renamed_spark_home(tmp_path, old, new):
    """A Spark home whose jars are the real ones, with `old` in a name read as `new`."""
    real = os.path.join(session._find_spark_home(), "jars")
    jars = tmp_path / f"spark_{new}" / "jars"
    jars.mkdir(parents=True)
    for name in os.listdir(real):
        os.symlink(os.path.join(real, name), jars / name.replace(old, new))
    assert any(n.startswith(new) for n in os.listdir(jars))
    return str(jars.parent)


def test_engine_jar_is_reused_and_keyed_by_its_sources(jar_cache, tmp_path, monkeypatch,
                                                       caplog):
    cache, jar = jar_cache
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    src = tmp_path / "jvm"
    shutil.copytree(session._JVM_SRC, src)
    with open(src / "NoForkLocalFileSystem.java", "a") as f:
        f.write("// edited\n")
    with monkeypatch.context() as mp:
        mp.setattr(session, "_JVM_SRC", str(src))
        edited = session.engine_jar()
    assert edited != jar and os.path.isfile(edited)

    # every jar in $SPARK_HOME/jars is the compile classpath: TxFilter compiles
    # against Spark SQL, and Janino's version shapes the bytecode
    built = {jar, edited}
    for old, new in (("spark-sql_", "spark-sql_next-"), ("janino-", "janino-next-")):
        home = _renamed_spark_home(tmp_path, old, new)
        with monkeypatch.context() as mp:
            mp.setattr(session, "_find_spark_home", lambda: home)
            respun = session.engine_jar()
        assert respun not in built and os.path.isfile(respun)
        built.add(respun)

    # no java reachable: the cached jar comes back, and no compiler runs
    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.setenv("PATH", str(empty))
    monkeypatch.setenv("JAVA_HOME", str(empty))
    monkeypatch.setattr(session.subprocess, "run", None)
    with caplog.at_level(logging.DEBUG, logger="dumpr_spark"):
        assert session.engine_jar() == jar
    assert not caplog.records


def test_session_conf_merges_the_jar_with_the_callers_classpath(jar_cache, monkeypatch):
    cache, jar = jar_cache
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    conf = session.session_conf(2, 2, {"spark.driver.extraClassPath": "lib/extra.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join([jar, "lib/extra.jar"])
    assert conf["spark.hadoop.fs.file.impl"] == ENGINE_FS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == ENGINE_FC
    stock = "org.apache.hadoop.fs.LocalFileSystem"
    conf = session.session_conf(2, 2, {"spark.hadoop.fs.file.impl": stock})
    assert conf["spark.hadoop.fs.file.impl"] == stock
    assert conf["spark.driver.extraClassPath"] == jar


def test_engine_jar_builds_without_javac(tmp_path, monkeypatch):
    """A JRE is enough: with only `java` in `$JAVA_HOME/bin` and on PATH,
    Spark's Janino builds the whole jar, and the session runs its classes."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    cache = tmp_path / "cache"
    bin_dir = tmp_path / "jre" / "bin"
    bin_dir.mkdir(parents=True)
    os.symlink(os.path.realpath(java), bin_dir / "java")
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.setenv("JAVA_HOME", str(bin_dir.parent))
    monkeypatch.setenv("PATH", str(bin_dir))
    conf = session.session_conf(2, 2)
    jar = conf["spark.driver.extraClassPath"]
    assert jar.startswith(str(cache)) and _jar_classes(jar) == ENGINE_CLASSES
    assert conf["spark.hadoop.fs.file.impl"] == ENGINE_FS
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == ENGINE_FC


def test_engine_jar_build_failure_raises_and_writes_no_jar(tmp_path, monkeypatch):
    src = tmp_path / "jvm"
    shutil.copytree(session._JVM_SRC, src)
    with open(src / "TxFilter.java", "a") as f:
        f.write("class Broken {\n")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(session, "_JVM_SRC", str(src))
    with pytest.raises(RuntimeError, match=r"CompileException: File '.*TxFilter\.java'"):
        session.engine_jar()
    assert glob.glob(str(tmp_path / "cache" / "**" / "*.jar"), recursive=True) == []
