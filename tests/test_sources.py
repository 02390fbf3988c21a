"""Batch source coverage (SURVEY §2.2-A): CSV and JSON scans round-trip the
parquet testdata losslessly when a schema is supplied, and the JDBC module's
non-DB helpers behave. The live-MySQL paths (snapshot_table against a real
server) are interface-pinned here and exercised only where a server exists —
the reference has the same split (CI spins up mysql:8.0.35)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dumpr_spark.sources.files import load_table, read_csv, read_json


def _nation(spark, sf_dir):
    return load_table(spark, sf_dir, "nation")


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_csv")
    src.write.option("header", "true").csv(path)
    back = read_csv(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert sorted(back.collect()) == sorted(src.collect())


def test_csv_infer_schema(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_csv2")
    src.write.option("header", "true").csv(path)
    back = read_csv(spark, path)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)


def test_json_roundtrip_with_schema(spark, sf_dir, tmp_path):
    src = _nation(spark, sf_dir)
    path = str(tmp_path / "nation_json")
    src.write.json(path)
    back = read_json(spark, path, schema=src.schema)
    assert back.schema == src.schema
    assert sorted(back.collect()) == sorted(src.collect())


def test_events_nanos_normalized(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    assert ev.where(F.col("ts").isNull()).count() == 0


def _jobs_of(spark, group, fn):
    """Run `fn()` under a fresh job group; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_parquet(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_parquet_schema_inferred_once_per_file_version(spark, tmp_path):
    _write_parquet(tmp_path / "tbl.parquet", k=[1, 2, 3], b=[b"x", b"y", b"z"])
    read = lambda: load_table(spark, str(tmp_path), "tbl")  # noqa: E731
    first, n_first = _jobs_of(spark, "memo_first", read)
    second, n_second = _jobs_of(spark, "memo_second", read)
    assert n_first >= 1  # inference runs a job...
    assert n_second == 0  # ...once per file version
    assert second.schema == first.schema
    assert second.count() == 3

    # a rewrite of the same path is a new version
    _write_parquet(tmp_path / "tbl.parquet", k=[1, 2], b=[b"x", b"y"], extra=[7, 8])
    assert read().columns == ["k", "b", "extra"]
    assert sorted(r.extra for r in read().collect()) == [7, 8]

    # so is a conf that changes what inference returns
    assert dict(read().dtypes)["b"] == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert dict(read().dtypes)["b"] == "string"
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(read().dtypes)["b"] == "binary"


def test_parquet_directory_table_restamped_when_it_gains_a_file(spark, tmp_path):
    path = str(tmp_path / "dir.parquet")
    spark.range(5).write.parquet(path)
    read = lambda: load_table(spark, str(tmp_path), "dir")  # noqa: E731
    read()
    df, n = _jobs_of(spark, "memo_dir_warm", read)
    assert n == 0 and df.count() == 5
    spark.range(5, 8).write.mode("append").parquet(path)
    df, n = _jobs_of(spark, "memo_dir_grown", read)
    assert n >= 1  # the new file changed the stamp: inferred again
    assert df.count() == 8


def test_memoized_reads_self_join_unambiguously(spark, sf_dir):
    from dumpr_spark.queries.base import t

    n1, n2 = t(spark, sf_dir, "nation"), t(spark, sf_dir, "nation")
    pairs = (
        n1.join(n2, n1["n_regionkey"] == n2["n_regionkey"])
        .where(n1["n_name"] < n2["n_name"])
        .select(n1["n_name"].alias("a"), n2["n_name"].alias("b"))
    )
    per_region = [r["c"] for r in n1.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("c")).collect()]
    assert pairs.count() == sum(c * (c - 1) // 2 for c in per_region) > 0


def test_jdbc_helpers_no_server():
    from dumpr_spark.sources.jdbc import mysql_url

    url = mysql_url("h", 3306, "db")
    assert url.startswith("jdbc:mysql://h:3306/db")
    # reference-mandated connection semantics (query.clj:15, README.md:146-147)
    assert "zeroDateTimeBehavior=convertToNull" in url
    assert "tinyInt1isBit=false" in url


def test_jdbc_snapshot_requires_server(spark):
    from dumpr_spark.sources.jdbc import snapshot_table

    with pytest.raises(Exception):
        snapshot_table(
            spark, "jdbc:mysql://127.0.0.1:1/nope", "t",
            user="u", password="p", num_partitions=2,
        ).collect()


def test_jdbc_partitioned_snapshot_against_embedded_derby(spark, tmp_path):
    """REAL JDBC round-trip (R1) against the Derby engine bundled with Spark:
    partitioned parallel range scan, remote predicate pushdown, and the
    snapshot -> envelope path. MySQL-specific bits (information_schema, SHOW
    MASTER STATUS) remain server-gated; the generic scan contract is live."""
    import json

    from dumpr_spark.cdc.envelope import snapshot_to_changes
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.sources.jdbc import snapshot_table

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE widgets (id INT PRIMARY KEY, name VARCHAR(50), mfg_id INT)")
    ps = conn.prepareStatement("INSERT INTO widgets VALUES (?, ?, ?)")
    for i in range(1, 101):
        ps.setInt(1, i)
        ps.setString(2, f"w{i}")
        ps.setInt(3, i % 7)
        ps.addBatch()
    ps.executeBatch()
    conn.close()

    df = snapshot_table(
        spark, url, "widgets", user="APP", password="any",  # Derby: user == default schema
        partition_column="ID", lower_bound=1, upper_bound=100, num_partitions=4,
    )
    assert df.count() == 100
    assert df.rdd.getNumPartitions() == 4  # parallel range scan, not 1 connection

    filtered = df.where(F.col("MFG_ID") == 3).select("ID", "NAME")
    plan = explain_str(filtered, "formatted")
    assert "PushedFilters" in plan and "MFG_ID" in plan  # filter reaches remote SQL
    assert filtered.count() == sum(1 for i in range(1, 101) if i % 7 == 3)

    changes = snapshot_to_changes(df, "widgets", "ID")
    row = changes.where(F.col("id") == "42").first()
    assert row["op"] == "upsert" and json.loads(row["content"])["NAME"] == "w42"


def test_corrupt_json_routes_to_dead_letter(spark, tmp_path):
    """PERMISSIVE scan with columnNameOfCorruptRecord: malformed lines land in
    the corrupt column with the raw text preserved (the batch analog of the
    in-band error channel R20) instead of failing the scan or silently
    vanishing — one bad line in a 100 TB feed must not kill the job."""
    import os

    src = str(tmp_path / "feed")
    os.makedirs(src)
    with open(os.path.join(src, "data.json"), "w") as f:
        f.write('{"a": 1, "b": "ok"}\n')
        f.write('{"a": oops not json\n')
        f.write('{"a": 3, "b": "fine"}\n')

    df = (
        spark.read.schema("a long, b string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(src)
    ).cache()  # Spark disallows filtering on ONLY the corrupt column uncached
    try:
        good = df.where(F.col("_corrupt_record").isNull())
        bad = df.where(F.col("_corrupt_record").isNotNull())
        assert {r["a"] for r in good.collect()} == {1, 3}
        bad_rows = bad.collect()
        assert len(bad_rows) == 1
        assert "oops" in bad_rows[0]["_corrupt_record"]  # raw line preserved
    finally:
        df.unpersist()


def _pyds_feed(path, name, events):
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_pyds_batch_read_matches_jvm_source_and_resumes(spark, tmp_path):
    """The dumpr_cdc Python data source reads the same rows the JVM JSON
    source reads (same EVENT_SCHEMA), one task per feed file, and
    start_seq resumes past a stored position (R13)."""
    from dumpr_spark.sources.cdc_json import read_events_json
    from dumpr_spark.sources.pyds import CdcFeedDataSource

    spark.dataSource.register(CdcFeedDataSource)
    src = str(tmp_path / "feed")
    evs = [
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1", "v": "a"}], "seq": 1},
        {"event_type": "rotate", "rotate_file": "bin.000002", "next_position": 4, "seq": 2},
        {"event_type": "update", "db": "s", "tbl": "w", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "1", "v": "b"}], "seq": 3},
    ]
    _pyds_feed(src, "f0.json", evs[:2])
    _pyds_feed(src, "f1.json", evs[2:])

    py = spark.read.format("dumpr_cdc").option("path", src).load()
    jvm = read_events_json(spark, src)
    # same names+types; JSON relaxes nullability, the python DS keeps the
    # declared not-null markers — both are the engine's EVENT_SCHEMA
    assert [(f.name, f.dataType) for f in py.schema.fields] == [
        (f.name, f.dataType) for f in jvm.schema.fields
    ]
    key = lambda r: r["seq"]  # noqa: E731
    assert sorted(py.collect(), key=key) == sorted(jvm.collect(), key=key)
    # one input partition per feed file (parallel decode, R17)
    assert py.rdd.getNumPartitions() == 2
    resumed = (
        spark.read.format("dumpr_cdc").option("path", src).option("start_seq", "2").load()
    )
    assert [r["seq"] for r in resumed.collect()] == [3]


def test_pyds_stream_offset_is_position_not_file_identity(spark, tmp_path):
    """The streaming offset of dumpr_cdc is the binlog position (seq): after
    the feed files are REWRITTEN (compaction destroys file identity — the
    case where file-tracking offsets re-read or lose data), a checkpointed
    restart still resumes exactly past the last processed position."""
    from dumpr_spark.sources.pyds import CdcFeedDataSource

    spark.dataSource.register(CdcFeedDataSource)
    src = str(tmp_path / "pfeed")
    ckpt = str(tmp_path / "pckpt")
    out = str(tmp_path / "pout")
    _pyds_feed(src, "f0.json", [
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1"}], "seq": 1},
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "2"}], "seq": 2},
    ])

    def run():
        s = spark.readStream.format("dumpr_cdc").option("path", src).load()
        q = (
            s.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    assert sorted(r["seq"] for r in spark.read.parquet(out).collect()) == [1, 2]
    # compact the feed: old events vanish, file names reused — position survives
    _pyds_feed(src, "f0.json", [])
    _pyds_feed(src, "f1.json", [
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:02:00Z",
         "next_position": 30, "rows": [{"id": "3"}], "seq": 3},
    ])
    run()
    assert sorted(r["seq"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_pyds_empty_feed_dir_reads_empty(spark, tmp_path):
    """A fully-compacted/rotated-away feed dir (zero *.json files) must read
    as an empty DataFrame — Spark substitutes a single None partition for an
    empty partition list, which the reader must tolerate."""
    import os

    from dumpr_spark.sources.pyds import CdcFeedDataSource

    spark.dataSource.register(CdcFeedDataSource)
    src = str(tmp_path / "empty_feed")
    os.makedirs(src)
    assert spark.read.format("dumpr_cdc").option("path", src).load().count() == 0


def test_pyds_offset_carries_latest_rotate_file(spark, tmp_path):
    """When a rotate event lands mid-batch, the stream offset's `file` must
    be the rotated-TO name even though the max-seq row is a later row event
    with rotate_file=None — otherwise the checkpoint pairs a pre-rotate
    filename with a post-rotate position, a (file,pos) that never existed."""
    from dumpr_spark.sources.pyds import CdcFeedStreamReader

    src = str(tmp_path / "rot_feed")
    _pyds_feed(src, "f0.json", [
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1"}], "seq": 1},
        {"event_type": "rotate", "rotate_file": "bin.000002", "next_position": 4, "seq": 2},
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:01:00Z",
         "next_position": 30, "rows": [{"id": "2"}], "seq": 3},
    ])
    r = CdcFeedStreamReader({"path": src})
    rows, end = r.read(r.initialOffset())
    assert len(list(rows)) == 3
    assert end == {"seq": 3, "file": "bin.000002", "pos": 30}
    # replay of a purged uncommitted interval raises (invalid position, R14)
    _pyds_feed(src, "f0.json", [])
    import pytest

    with pytest.raises(RuntimeError, match="no longer present"):
        list(r.readBetweenOffsets({"seq": 1}, {"seq": 3}))


def test_pyds_stream_caps_events_per_batch(spark, tmp_path):
    """max_events_per_batch (the JVM path's maxFilesPerTrigger analog, R16):
    a backlog bigger than the cap drains over SEVERAL micro-batches — each
    read returns the next N events in seq order and advances the offset
    incrementally — instead of one giant driver-memory batch; with no cap
    the whole backlog comes in one read (the old behavior, preserved)."""
    from dumpr_spark.sources.pyds import CdcFeedStreamReader

    src = str(tmp_path / "cap_feed")
    _pyds_feed(src, "f0.json", [
        {"event_type": "write", "db": "s", "tbl": "w",
         "ts": "2026-01-01T00:00:%02dZ" % i, "next_position": 10 * i,
         "rows": [{"id": str(i)}], "seq": i}
        for i in range(1, 8)  # 7-event backlog
    ])
    r = CdcFeedStreamReader({"path": src, "max_events_per_batch": "3"})
    seq_i = [i for i, f in enumerate(
        __import__("dumpr_spark.sources.pyds", fromlist=["_FIELDS"])._FIELDS
    ) if f == "seq"][0]
    seen, off = [], r.initialOffset()
    for _ in range(4):
        rows, off = r.read(off)
        seen.append(sorted(row[seq_i] for row in rows))
        if not seen[-1]:
            break
    assert seen[:3] == [[1, 2, 3], [4, 5, 6], [7]]
    # drained: a further read is empty and does not move the offset
    rows, off2 = r.read(off)
    assert list(rows) == [] and off2 == off
    # uncapped reader still takes everything at once
    rows, _ = CdcFeedStreamReader({"path": src}).read(
        CdcFeedStreamReader({"path": src}).initialOffset()
    )
    assert sorted(row[seq_i] for row in rows) == [1, 2, 3, 4, 5, 6, 7]


def test_pyds_wire_writer_run_namespaced_temps(tmp_path):
    """Two writer runs sharing one output path must not sweep each other's
    in-flight task temps: each run's temps live under _tmp/<run_id>/ and
    commit sweeps only its own subtree (ADVICE r4)."""
    import os

    from dumpr_spark.sources.pyds import CdcWireStreamWriter, _WireCommit

    out = str(tmp_path / "wire_out")
    os.makedirs(out)
    w1 = CdcWireStreamWriter({"path": out})
    w2 = CdcWireStreamWriter({"path": out})
    assert w1.run_id != w2.run_id
    # simulate run-2's in-flight task temp while run-1 commits a batch
    other_dir = os.path.join(out, "_tmp", w2.run_id)
    os.makedirs(other_dir)
    other_tmp = os.path.join(other_dir, "task-0-deadbeef.jsonl")
    with open(other_tmp, "w") as f:
        f.write('{"payload": {"op": "u"}}\n')
    own_dir = os.path.join(out, "_tmp", w1.run_id)
    os.makedirs(own_dir)
    own_tmp = os.path.join(own_dir, "task-0-cafe.jsonl")
    with open(own_tmp, "w") as f:
        f.write('{"payload": {"op": "d"}}\n')
    w1.commit([_WireCommit(tmp_path=own_tmp, n_rows=1)], batchId=0)
    committed = os.path.join(out, "batch-0000000000.jsonl")
    assert os.path.exists(committed)
    assert open(committed).read() == '{"payload": {"op": "d"}}\n'
    assert not os.path.exists(own_tmp)        # own temp swept
    assert os.path.exists(other_tmp)          # concurrent run's temp intact


def test_pyds_wire_writer_sweeps_stale_run_dirs(tmp_path):
    """A crashed run's temp subtree must not leak forever: commit removes
    OTHER runs' dirs older than stale_temp_ttl_sec, while fresh concurrent
    dirs survive (a live run touches its dir every batch)."""
    import os

    from dumpr_spark.sources.pyds import CdcWireStreamWriter, _WireCommit

    out = str(tmp_path / "wire_ttl")
    os.makedirs(out)
    # ttl -1 => cutoff is in the future => any other run dir counts stale
    w = CdcWireStreamWriter({"path": out, "stale_temp_ttl_sec": "-1"})
    dead_dir = os.path.join(out, "_tmp", "deadrun")
    os.makedirs(dead_dir)
    with open(os.path.join(dead_dir, "task-0-x.jsonl"), "w") as f:
        f.write("{}\n")
    own_dir = os.path.join(out, "_tmp", w.run_id)
    os.makedirs(own_dir)
    own_tmp = os.path.join(own_dir, "task-0-y.jsonl")
    with open(own_tmp, "w") as f:
        f.write('{"payload": {"op": "u"}}\n')
    w.commit([_WireCommit(tmp_path=own_tmp, n_rows=1)], batchId=0)
    assert not os.path.exists(dead_dir)  # stale run swept
    # default TTL (1 day): a fresh foreign dir survives
    w2 = CdcWireStreamWriter({"path": out})
    fresh_dir = os.path.join(out, "_tmp", "freshrun")
    os.makedirs(fresh_dir)
    own2 = os.path.join(out, "_tmp", w2.run_id)
    os.makedirs(own2)
    t2 = os.path.join(own2, "task-0-z.jsonl")
    with open(t2, "w") as f:
        f.write('{"payload": {"op": "d"}}\n')
    w2.commit([_WireCommit(tmp_path=t2, n_rows=1)], batchId=1)
    assert os.path.exists(fresh_dir)


def test_pyds_capped_read_skips_drained_files_and_survives_rewrite(tmp_path):
    """The capped drain's per-file max-seq cache must (a) skip fully-
    committed files without changing results and (b) invalidate when a
    file is rewritten (compaction adds new events under an old name)."""
    from dumpr_spark.sources.pyds import CdcFeedStreamReader, _FIELDS

    src = str(tmp_path / "skip_feed")
    mk = lambda i: {  # noqa: E731
        "event_type": "write", "db": "s", "tbl": "w",
        "ts": "2026-01-01T00:00:%02dZ" % (i % 60), "next_position": 10 * i,
        "rows": [{"id": str(i)}], "seq": i,
    }
    _pyds_feed(src, "f0.json", [mk(1), mk(2), mk(3)])
    _pyds_feed(src, "f1.json", [mk(4), mk(5), mk(6)])
    r = CdcFeedStreamReader({"path": src, "max_events_per_batch": "2"})
    seq_i = _FIELDS.index("seq")
    seen, off = [], r.initialOffset()
    for _ in range(3):
        rows, off = r.read(off)
        seen.extend(sorted(row[seq_i] for row in rows))
    assert seen == [1, 2, 3, 4, 5, 6]
    # f0 is now fully drained and cached; rewrite it with NEW events
    # (compaction reuses the name) — the cache must invalidate and the
    # next capped read must surface them
    _pyds_feed(src, "f0.json", [mk(7), mk(8), mk(9)])
    rows, off = r.read(off)
    assert sorted(row[seq_i] for row in rows) == [7, 8]
    rows, off = r.read(off)
    assert sorted(row[seq_i] for row in rows) == [9]


def test_pyds_stream_cap_end_to_end_multiple_batches(spark, tmp_path):
    """max_events_per_batch through the REGISTERED source: a continuous
    (processingTime) run over a 5-event backlog with cap 2 drains it across
    >= 3 micro-batches with no loss/dup, and the checkpointed offset lands
    on the final seq. (Trigger.AvailableNow snapshots the FIRST capped end
    offset as the run's target, so one availableNow run drains one capped
    batch — the cap is for continuous tailing; see the reader docstring.)"""
    import glob
    import json as _json
    import time

    from dumpr_spark.sources.pyds import CdcFeedDataSource

    spark.dataSource.register(CdcFeedDataSource)
    src = str(tmp_path / "e2e_cap_feed")
    ckpt = str(tmp_path / "e2e_cap_ckpt")
    out = str(tmp_path / "e2e_cap_out")
    _pyds_feed(src, "f0.json", [
        {"event_type": "write", "db": "s", "tbl": "w",
         "ts": "2026-01-01T00:00:%02dZ" % i, "next_position": 10 * i,
         "rows": [{"id": str(i)}], "seq": i}
        for i in range(1, 6)
    ])
    q = (
        spark.readStream.format("dumpr_cdc")
        .option("path", src).option("max_events_per_batch", "2").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds").start()
    )
    try:
        deadline = time.time() + 90
        seqs = []
        while time.time() < deadline:
            try:
                seqs = sorted(r["seq"] for r in spark.read.parquet(out).collect())
            except Exception:
                seqs = []
            if seqs == [1, 2, 3, 4, 5]:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert seqs == [1, 2, 3, 4, 5]
    offsets = sorted(glob.glob(ckpt + "/offsets/*"))
    assert len(offsets) >= 3  # 5 events / cap 2 => at least 3 data triggers
    committed = [
        _json.loads(open(f).read().splitlines()[-1]).get("seq") for f in offsets
    ]
    assert max(c for c in committed if c is not None) == 5
