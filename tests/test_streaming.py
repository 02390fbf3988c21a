"""Structured Streaming semantics: ingest -> envelope -> merge sink, windows,
watermark, streaming dedup, stateful tx filter, checkpoint resume.

Mirrors SURVEY §5.2.4. All tests use file sources + availableNow triggers so
they run bounded, and memory/parquet sinks for assertions.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dumpr_spark.streaming import state as tx_state

pytestmark = pytest.mark.streaming


def write_events(path, events, file_name="part-000.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, file_name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def write_json_batch(src, name, rows, names, mtime):
    """One micro-batch feed file: tuples zipped to `names` as JSONL, with
    an explicit mtime so maxFilesPerTrigger replays batches in order."""
    fp = os.path.join(src, name)
    with open(fp, "w") as f:
        for r in rows:
            f.write(json.dumps(dict(zip(names, r))) + "\n")
    os.utime(fp, (mtime, mtime))
    return fp


def test_stream_ingest_to_merge_sink_and_resume(spark, tmp_path):
    """End-to-end live path: JSON event feed -> envelope -> foreachBatch merge
    -> state table; then new events arrive and the SAME checkpoint resumes
    incrementally (R13/R14 resume semantics, batch-atomic)."""
    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1", "v": "a"}, {"id": "2", "v": "b"}], "seq": 1},
        {"event_type": "update", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "1", "v": "a2"}], "seq": 2},
    ])
    changes = stream_changes(spark, feed, {"widgets": "id"}, db="shop")
    q = start_merge_stream(changes, state, ckpt)
    q.awaitTermination(120)

    sink = MergeSink(spark, state)
    got = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert got == {"1": "a2", "2": "b"}

    # second wave: delete id=1, insert id=3 — resume from checkpoint
    write_events(feed, [
        {"event_type": "delete", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:02:00Z",
         "next_position": 30, "rows": [{"id": "1", "v": "a2"}], "seq": 3},
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:03:00Z",
         "next_position": 40, "rows": [{"id": "3", "v": "c"}], "seq": 4},
    ], file_name="part-001.json")
    q2 = start_merge_stream(stream_changes(spark, feed, {"widgets": "id"}, db="shop"), state, ckpt)
    q2.awaitTermination(120)

    got2 = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert got2 == {"2": "b", "3": "c"}


def test_merge_sink_file_compaction_between_streams(spark, tmp_path):
    """Operational tail of the merge sink (SCALE.md cadence): after a stream
    run, compact_files() shrinks the per-partition file count while
    preserving state AND the tbl= layout, and a subsequent stream run still
    carries untouched tables forward by hardlink (the r2-advice hazard —
    a layout-flattening compactor would silently drop them)."""
    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "cfeed")
    state = str(tmp_path / "cstate")
    ckpt = str(tmp_path / "cckpt")

    # wave 1 touches two tables so one can sit untouched later
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": str(i), "v": f"w{i}"} for i in range(50)], "seq": 1},
        {"event_type": "write", "db": "shop", "tbl": "gadgets", "ts": "2026-01-01T00:00:01Z",
         "next_position": 20, "rows": [{"id": str(i), "v": f"g{i}"} for i in range(50)], "seq": 2},
    ])
    ids = {"widgets": "id", "gadgets": "id"}
    q = start_merge_stream(stream_changes(spark, feed, ids, db="shop"), state, ckpt)
    q.awaitTermination(120)

    sink = MergeSink(spark, state)
    before = {(r["tbl"], r["id"], r["content"]) for r in sink.read_state().collect()}

    def data_files():
        n = 0
        for root, _d, files in os.walk(state):
            n += sum(1 for f in files if not f.startswith(("_", ".")))
        return n

    files_before = data_files()
    n_after = sink.compact_files()
    assert n_after <= files_before
    assert sorted(d for d in os.listdir(state) if d.startswith("tbl=")) == [
        "tbl=gadgets", "tbl=widgets"]
    assert {(r["tbl"], r["id"], r["content"]) for r in sink.read_state().collect()} == before

    # wave 2 touches ONLY widgets; gadgets must survive via hardlink carry
    write_events(feed, [
        {"event_type": "update", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:01:00Z",
         "next_position": 30, "rows": [{"id": "0", "v": "w0b"}], "seq": 3},
    ], file_name="part-001.json")
    q2 = start_merge_stream(stream_changes(spark, feed, ids, db="shop"), state, ckpt)
    q2.awaitTermination(120)

    got = {(r["tbl"], r["id"]): json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert got[("widgets", "0")] == "w0b"
    assert len([k for k in got if k[0] == "gadgets"]) == 50  # carried, not dropped
    assert got[("gadgets", "7")] == "g7"


def test_stream_ingest_kafka_shaped_records(spark, tmp_path):
    """The Kafka-wire variant of ingest (R2 prod shape): records carry the
    event as a JSON string in `value` plus broker metadata — same envelope,
    same merge/resume semantics as the direct file feed."""
    from dumpr_spark.streaming.ingest import stream_changes_kafka_shaped
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "kfeed")
    state = str(tmp_path / "kstate")
    ckpt = str(tmp_path / "kckpt")

    def kafka_rec(event, offset):
        return {
            "key": event.get("tbl"), "value": json.dumps(event), "topic": "cdc.shop",
            "partition": 0, "offset": offset, "timestamp": event.get("ts"),
            "timestampType": 0,
        }

    events = [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1", "v": "a"}, {"id": "2", "v": "b"}], "seq": 1},
        {"event_type": "update", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "1", "v": "a2"}], "seq": 2},
        {"event_type": "noise", "db": "other", "tbl": "x", "ts": None,
         "next_position": None, "rows": None, "seq": 99},  # other-db event filtered out
    ]
    write_events(feed, [kafka_rec(e, i) for i, e in enumerate(events)])
    # conn_params plumbed through the same validation as the live variant
    changes = stream_changes_kafka_shaped(
        spark, feed, {"widgets": "id"}, db="shop",
        conn_params={"stream_keepalive_interval": 30_000},
    )
    q = start_merge_stream(changes, state, ckpt)
    q.awaitTermination(120)

    sink = MergeSink(spark, state)
    got = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert got == {"1": "a2", "2": "b"}

    # resume from the same checkpoint with a second wave of records
    write_events(feed, [
        kafka_rec({"event_type": "delete", "db": "shop", "tbl": "widgets",
                   "ts": "2026-01-01T00:02:00Z", "next_position": 30,
                   "rows": [{"id": "1", "v": "a2"}], "seq": 3}, 10),
    ], file_name="part-001.json")
    q2 = start_merge_stream(
        stream_changes_kafka_shaped(spark, feed, {"widgets": "id"}, db="shop"), state, ckpt
    )
    q2.awaitTermination(120)
    got2 = {r["id"] for r in sink.read_state().collect()}
    assert got2 == {"2"}


def test_stream_ingest_debezium_wire_format(spark, tmp_path):
    """Debezium-envelope adapter (SURVEY §1.4/§4.2 production feed): records
    carry the documented Debezium MySQL wire shape in `value`
    (payload.before/after/op/ts_ms/source.{db,table,file,pos,row}); the
    adapter maps c/u/r -> upsert, d -> delete (row image from `before`),
    reifies (file, pos, row) into the monotone seq, and drops tombstone /
    foreign-db records. Same merge/resume semantics as the engine-JSON feed —
    including order across a binlog file rotation."""
    from dumpr_spark.streaming.ingest import stream_changes_debezium
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "dbz_feed")
    state = str(tmp_path / "dbz_state")
    ckpt = str(tmp_path / "dbz_ckpt")

    def dbz(op, table, before, after, file, pos, row=0, db="shop", ts_ms=1700000000000):
        return {
            "key": None, "value": json.dumps({"payload": {
                "before": before, "after": after, "op": op, "ts_ms": ts_ms,
                "source": {"db": db, "table": table, "file": file, "pos": pos,
                           "row": row, "snapshot": "false"},
            }}), "topic": "shop.cdc", "partition": 0, "offset": pos,
            "timestamp": None, "timestampType": 0,
        }

    recs = [
        # snapshot read + insert + update, multi-row event (row ordinals)
        dbz("r", "widgets", None, {"id": "1", "v": "snap"}, "mysql-bin.000003", 100),
        dbz("c", "widgets", None, {"id": "2", "v": "b"}, "mysql-bin.000003", 200, row=0),
        dbz("c", "widgets", None, {"id": "3", "v": "c"}, "mysql-bin.000003", 200, row=1),
        dbz("u", "widgets", {"id": "1", "v": "snap"}, {"id": "1", "v": "up"},
            "mysql-bin.000003", 300),
        # delete: after is null, image comes from before
        dbz("d", "widgets", {"id": "3", "v": "c"}, None, "mysql-bin.000003", 400),
        # file rotation: pos RESETS below earlier positions; file number must
        # keep this ordered after seq packing
        dbz("u", "widgets", {"id": "2", "v": "b"}, {"id": "2", "v": "b2"},
            "mysql-bin.000004", 50),
        # foreign db + foreign table: filtered out
        dbz("c", "widgets", None, {"id": "9", "v": "x"}, "mysql-bin.000004", 60,
            db="other"),
        dbz("c", "gadgets", None, {"id": "9", "v": "x"}, "mysql-bin.000004", 70),
        # Debezium tombstone (null value after a delete): dropped, not an error
        {"key": "3", "value": None, "topic": "shop.cdc", "partition": 0,
         "offset": 99, "timestamp": None, "timestampType": 0},
    ]
    write_events(feed, recs)
    changes = stream_changes_debezium(
        spark, feed, {"widgets": "id"}, db="shop", tables=["widgets"],
        conn_params={"stream_keepalive_interval": 30_000},
    )
    q = start_merge_stream(changes, state, ckpt)
    q.awaitTermination(120)

    sink = MergeSink(spark, state)
    got = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert got == {"1": "up", "2": "b2"}  # 3 deleted, rotation order held

    # position/filename capture survives the adapter (R5/R13 analogs)
    raw = {r["id"]: (r["next_file"], r["next_position"])
           for r in sink._read_raw().collect()}
    assert raw["2"] == ("mysql-bin.000004", 50)

    # resume from the same checkpoint: a second wave replays nothing
    write_events(feed, [
        dbz("d", "widgets", {"id": "1", "v": "up"}, None, "mysql-bin.000004", 500),
    ], file_name="part-001.json")
    q2 = start_merge_stream(
        stream_changes_debezium(spark, feed, {"widgets": "id"}, db="shop"), state, ckpt
    )
    q2.awaitTermination(120)
    assert {r["id"] for r in sink.read_state().collect()} == {"2"}


def test_debezium_seq_packing_monotone_at_bounds(spark):
    """r4 review regression: the (file, pos, row) -> seq packing must stay
    positive and ordered up to MySQL's real bounds — 6-digit binlog suffixes
    (999999) and positions near 4 GiB. The old 44-bit file shift flipped the
    int64 sign at file >= 2^19, ordering new events BEFORE old ones (the
    max-by-seq fold would then keep stale rows forever). Out-of-contract
    values saturate instead of inverting."""
    from dumpr_spark.sources.cdc_json import debezium_to_changes, parse_debezium_lines

    def rec(i, file, pos, row):
        return (json.dumps({"payload": {
            "before": None, "after": {"id": str(i)}, "op": "c", "ts_ms": 0,
            "source": {"db": "d", "table": "t", "file": file, "pos": pos,
                       "row": row, "snapshot": "false"},
        }}),)

    cases = [
        ("mysql-bin.000001", 100, 0),
        ("mysql-bin.000001", 100, 1),            # row ordinal orders within event
        ("mysql-bin.524288", 10, 0),             # 2^19: the old sign-flip point
        ("mysql-bin.999999", 5, 0),              # max real suffix, tiny pos
        ("mysql-bin.999999", (1 << 32) - 1, 3),  # pos at the 4 GiB budget edge
        ("mysql-bin.999999", (1 << 40), 4),      # out-of-contract pos: saturates
    ]
    df = spark.createDataFrame([rec(i, *c) for i, c in enumerate(cases)], "value string")
    rows = debezium_to_changes(parse_debezium_lines(df), {"t": "id"}).collect()
    by_case = {int(r["id"]): r["seq"] for r in rows}
    seqs = [by_case[i] for i in range(len(cases))]
    assert all(s > 0 for s in seqs), seqs
    # strictly increasing through the real-bounds cases
    assert seqs[:5] == sorted(seqs[:5]) and len(set(seqs[:5])) == 5, seqs
    # the out-of-contract position saturates at the budget edge: ties with
    # the at-the-edge case on (file, pos) bits, never goes negative/smaller
    assert seqs[5] >= seqs[4], seqs


def test_kafka_conn_options_mapping():
    """R2/R15 parity: the reference's conn-param knobs (core.clj:16-20 —
    keepalive interval/timeout, initial connect timeout) map onto the Kafka
    consumer's reconnect/timeout settings, defaults preserved; unknown keys
    fail fast like the reference's config schema validation."""
    import pytest as _pytest

    from dumpr_spark.streaming.ingest import kafka_conn_options

    # reference defaults carried verbatim; keepalive timeout maps to the
    # RECONNECT connect-budget ceiling, not request.timeout.ms (which would
    # impose a 3s expiry on every in-flight fetch, 10x below Kafka's default)
    assert kafka_conn_options() == {
        "kafka.reconnect.backoff.max.ms": "60000",
        "kafka.socket.connection.setup.timeout.max.ms": "3000",
        "kafka.socket.connection.setup.timeout.ms": "3000",
    }
    # overrides land on the mapped option
    got = kafka_conn_options({"stream_keepalive_interval": 15_000})
    assert got["kafka.reconnect.backoff.max.ms"] == "15000"
    assert got["kafka.socket.connection.setup.timeout.max.ms"] == "3000"
    with _pytest.raises(ValueError, match="unknown conn_params"):
        kafka_conn_options({"stream_keepalive_intervall": 1})


def test_stream_materialize_throughput_floor(spark, tmp_path):
    """CDC throughput parity (BASELINE.md): the reference's implied floor is
    60 ops/s (600 row-events < 10 s, core_test.clj:216-221). The streaming
    materialization path must sustain >= 10x that even on the small test JVM;
    in practice micro-batches do orders of magnitude more."""
    import time

    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "tp_feed")
    n_events, rows_per = 40, 300  # 12,000 row-changes across multi-row events
    for f in range(4):
        write_events(feed, [
            {"event_type": "write", "db": "shop", "tbl": "widgets",
             "ts": "2026-01-01T00:00:00Z", "next_position": e * 10,
             "rows": [{"id": str((e * rows_per + r) % 5000), "v": f"v{e}"}
                      for r in range(rows_per)],
             "seq": e}
            for e in range(f * n_events // 4, (f + 1) * n_events // 4)
        ], file_name=f"part-{f:03d}.json")

    t0 = time.time()
    q = start_merge_stream(
        stream_changes(spark, feed, {"widgets": "id"}, db="shop"),
        str(tmp_path / "tp_state"), str(tmp_path / "tp_ckpt"),
    )
    q.awaitTermination(300)
    elapsed = time.time() - t0

    total_ops = n_events * rows_per
    rate = total_ops / elapsed
    assert rate >= 600, f"{rate:.0f} ops/s below 10x reference floor"
    state = MergeSink(spark, str(tmp_path / "tp_state")).read_state()
    assert state.count() == 5000  # 12k changes fold to 5k live keys


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    """Tumbling 5-min window counts with a 10-min watermark over a file stream."""
    src = str(tmp_path / "ev")
    rows = [
        {"ts": "2026-01-01T00:01:00Z", "k": "a"},
        {"ts": "2026-01-01T00:02:00Z", "k": "a"},
        {"ts": "2026-01-01T00:06:00Z", "k": "a"},
        {"ts": "2026-01-01T00:07:00Z", "k": "b"},
    ]
    write_events(src, rows)
    stream = (
        spark.readStream.schema("ts timestamp, k string").json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "k", "n")
    )
    q = (
        stream.writeStream.format("memory").queryName("tumbling_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(str(r["w_start"]), r["k"]): r["n"] for r in spark.sql("SELECT * FROM tumbling_test").collect()}
    assert got == {
        ("2026-01-01 00:00:00", "a"): 2,
        ("2026-01-01 00:05:00", "a"): 1,
        ("2026-01-01 00:05:00", "b"): 1,
    }


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """dropDuplicates on (k, seq) across a stream (R identity dedup,
    row_format.clj:7-13)."""
    src = str(tmp_path / "dedup_src")
    write_events(src, [
        {"ts": "2026-01-01T00:00:00Z", "k": "a", "seq": 1},
        {"ts": "2026-01-01T00:00:30Z", "k": "a", "seq": 1},  # duplicate delivery
        {"ts": "2026-01-01T00:01:00Z", "k": "a", "seq": 2},
    ])
    stream = (
        spark.readStream.schema("ts timestamp, k string, seq long").json(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["k", "seq"])
    )
    q = (
        stream.writeStream.format("memory").queryName("dedup_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT k, seq FROM dedup_test ORDER BY seq").collect()
    assert [(r["k"], r["seq"]) for r in rows] == [("a", 1), ("a", 2)]


TX_FEED_SCHEMA = "source string, event_type string, tbl string, payload string, seq long"
TX_FIELDS = ["source", "event_type", "tbl", "payload", "seq"]


def _run_tx_filter(spark, src, out, ckpt, schema=TX_FEED_SCHEMA, one_file_per_batch=False):
    """Run `streaming_tx_filter` over the JSON feed in `src` into parquet
    at `out` until the feed is drained; returns the stopped query."""
    reader = spark.readStream.schema(schema)
    if one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    q = (tx_state.streaming_tx_filter(reader.json(src)).writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None
    return q


def test_streaming_tx_filter_across_batches(spark, tmp_path):
    """Stateful tx filter: a transaction spanning two micro-batches commits in
    the second — its rows must be released then (state store carries the
    buffer across batches)."""
    from dumpr_spark.streaming.state import streaming_tx_filter

    src = str(tmp_path / "tx_src")
    # batch 1 file: begin + one row (no commit yet)
    write_events(src, [
        {"source": "s1", "event_type": "tx-begin", "tbl": None, "payload": None, "seq": 1},
        {"source": "s1", "event_type": "write", "tbl": "w", "payload": "r1", "seq": 2},
    ], file_name="b1.json")
    # batch 2 file: second row + commit; then a rolled-back tx
    write_events(src, [
        {"source": "s1", "event_type": "write", "tbl": "w", "payload": "r2", "seq": 3},
        {"source": "s1", "event_type": "tx-commit", "tbl": None, "payload": None, "seq": 4},
        {"source": "s1", "event_type": "tx-begin", "tbl": None, "payload": None, "seq": 5},
        {"source": "s1", "event_type": "write", "tbl": "w", "payload": "r3", "seq": 6},
        {"source": "s1", "event_type": "tx-rollback", "tbl": None, "payload": None, "seq": 7},
    ], file_name="b2.json")

    events = (
        spark.readStream.schema(TX_FEED_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force two micro-batches
        .json(src)
    )
    out = streaming_tx_filter(events)
    assert out.schema == tx_state.TX_OUT_SCHEMA
    q = (
        out.writeStream.format("memory").queryName("tx_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT payload, seq FROM tx_test ORDER BY seq").collect()
    assert [(r["payload"], r["seq"]) for r in rows] == [("r1", 2), ("r2", 3)]


def test_streaming_tx_filter_random_sources_match_fold(spark, tmp_path):
    """20 sources, each a seeded random marker/row sequence split over 3
    feed files (one micro-batch each, lines shuffled within a file, `seq`
    read as int): the stream releases exactly the rows `_fold_tx_rows`
    releases batch by batch, field for field. Source s0 is scripted to
    carry an out-of-tx row, a transaction spanning files, a nested begin,
    a rollback and an open tail."""
    import random

    import pandas as pd

    from dumpr_spark.streaming.state import _fold_tx_rows

    rng = random.Random(20261019)
    kinds = ["tx-begin", "tx-commit", "tx-rollback", "write", "update", "delete"]
    scripts = {"s0": [["write", "tx-begin", "write"],
                      ["tx-begin", "update", "tx-commit", "tx-begin", "write"],
                      ["tx-rollback", "delete", "tx-begin", "write"]]}
    for s in range(1, 20):
        scripts[f"s{s}"] = [rng.choices(kinds, weights=[3, 2, 1, 4, 3, 1],
                                        k=rng.randint(0, 12)) for _ in range(3)]
    src = str(tmp_path / "src")
    os.makedirs(src)
    seq, batches = 0, []
    for f in range(3):
        rows = []
        for source, script in scripts.items():
            for et in script[f]:
                marker = et.startswith("tx-")
                rows.append((source, et, None if marker else "w",
                             None if marker else f"{source}-{seq}", seq))
                seq += 1
        batches.append(rows)
        rng.shuffle(rows)
        write_json_batch(src, f"f{f}.json", rows, TX_FIELDS, 1_000_000 + 100 * f)

    expected, state = [], {}
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=TX_FIELDS)
        for source, group in pdf.groupby("source"):
            out, in_tx, buf = _fold_tx_rows(group, *state.get(source, (False, [])))
            state[source] = (in_tx, buf)
            expected += [tuple(r.values()) for r in out]
    s0 = [r[1] for r in expected if r[0] == "s0"]
    assert s0 == ["write", "write", "update", "delete"]  # nested begin kept the buffer
    assert state["s0"][0] and len(state["s0"][1]) == 1  # the open tail

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = _run_tx_filter(spark, src, out, ckpt, schema=TX_FEED_SCHEMA.replace("seq long", "seq int"),
                       one_file_per_batch=True)
    assert len(q.recentProgress) == 3
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == len(state)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == sorted(expected)
    assert len(expected) > 40


def test_streaming_tx_filter_plan_runs_no_python(spark, tmp_path):
    """The filter is a `FlatMapGroupsWithState` node: no pandas state
    operator and no other Python node in the micro-batch plan, so a batch
    starts no Python worker."""
    import re

    src = str(tmp_path / "src")
    os.makedirs(src)
    write_json_batch(src, "f0.json", [("s1", "tx-begin", None, None, 1),
                                      ("s1", "write", "w", "r1", 2),
                                      ("s1", "tx-commit", None, None, 3)], TX_FIELDS, 1_000_000)
    q = _run_tx_filter(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    plan = q._jsq.explainInternal(False)
    assert "FlatMapGroupsWithState" in plan, plan
    assert not re.search(r"Pandas|Python|Arrow", plan), plan


def test_streaming_tx_filter_names_the_engine_jar_when_its_class_is_missing():
    """A JVM without the engine jar (its `TxFilter` is no class, only a py4j
    package name) gets an error naming the jar, not a fallback fold."""
    from types import SimpleNamespace

    from py4j.java_gateway import JavaPackage

    jvm = SimpleNamespace(dumpr_spark=SimpleNamespace(jvm=SimpleNamespace(
        TxFilter=JavaPackage("dumpr_spark.jvm.TxFilter", None))))
    events = SimpleNamespace(sparkSession=SimpleNamespace(_jvm=jvm))
    with pytest.raises(RuntimeError, match=r"engine_jar\(\) with --jars"):
        tx_state.streaming_tx_filter(events)


def test_tx_filter_checkpoint_restart_releases_buffered_rows_once(spark, tmp_path):
    """A transaction opens in file 1, the query stops, and a restart from
    its checkpoint reads file 2, which commits it: the buffered rows come
    back from the state store and are released exactly once."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    write_json_batch(src, "f1.json", [
        ("s1", "write", "w", "pre", 1),  # outside any tx
        ("s1", "tx-begin", None, None, 2), ("s1", "write", "w", "r1", 3),
        ("s2", "tx-begin", None, None, 4), ("s2", "write", "w", "gone", 5),
    ], TX_FIELDS, 1_000_000)
    _run_tx_filter(spark, src, out, ckpt)
    write_json_batch(src, "f2.json", [
        ("s1", "write", "w", "r2", 6), ("s1", "tx-commit", None, None, 7),
        ("s2", "tx-rollback", None, None, 8), ("s2", "write", "w", "post", 9),
    ], TX_FIELDS, 1_000_100)
    q = _run_tx_filter(spark, src, out, ckpt)
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 2
    rows = spark.read.parquet(out).orderBy("seq").collect()
    assert [(r["source"], r["payload"], r["seq"]) for r in rows] == [
        ("s1", "pre", 1), ("s1", "r1", 3), ("s1", "r2", 6), ("s2", "post", 9)]


def test_tx_filter_merge_stream_warm_batches_compile_no_code(spark, tmp_path):
    """Two warm micro-batches of a tx-filter -> `MergeSink` stream, each of
    the same shape as the last, add nothing to Spark's codegen compile
    count: the per-batch plans hit the codegen cache, and what the JIT
    compiles in a long tail is warm-up, not classes generated per batch."""
    from dumpr_spark.streaming.sink import KeyBucket, start_merge_stream
    from dumpr_spark.streaming.state import streaming_tx_filter

    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    os.makedirs(src)
    changes = streaming_tx_filter(spark.readStream.schema(TX_FEED_SCHEMA).json(src)).select(
        F.when(F.col("event_type") == "delete", "delete").otherwise("upsert").alias("op"),
        "tbl", F.get_json_object("payload", "$.id").alias("id"),
        F.col("payload").alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("next_file"),
        F.col("seq").alias("next_position"), "seq")
    q = start_merge_stream(changes, state, ckpt, trigger_available_now=False,
                           output_mode="append", key_bucket=KeyBucket(width=10))
    seq = 0

    def land(i):
        nonlocal seq
        rows = []
        for s in ("s0", "s1"):
            rows.append((s, "tx-begin", None, None, seq))
            for k in range(5):
                seq += 1
                rows.append((s, "update", "a", json.dumps({"id": k, "v": seq}), seq))
            rows.append((s, "tx-commit", None, None, seq + 1))
            seq += 2
        write_json_batch(src, f"f{i}.json", rows, TX_FIELDS, 1_000_000 + 100 * i)
        q.processAllAvailable()

    try:
        for i in range(3):
            land(i)
        before = compiled.getCount()
        for i in range(3, 5):
            land(i)
        assert compiled.getCount() - before == 0
        assert q.lastProgress["batchId"] == 4
    finally:
        q.stop()
    assert q.exception() is None


@pytest.mark.parametrize("kind", ["merge_plain", "merge_bucketed",
                                  "history_plain", "history_bucketed"])
def test_sink_computes_tx_filter_batch_once(spark, tmp_path, kind):
    """A foreachBatch action re-runs the upstream micro-batch plan, state
    store included, so a sink that ran two actions on an unpersisted batch
    folded the tx filter twice: the stateful operator's numRowsTotal read
    2 x sources. The sink entry persists the batch once and always
    unpersists it — also when the merge raises."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink, start_history_stream
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink, start_merge_stream
    from dumpr_spark.streaming.state import streaming_tx_filter

    def persisted_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    sources = ["s1", "s2", "s3"]
    events, seq = [], 0
    for i, s in enumerate(sources):
        for et, payload in [("tx-begin", None), ("write", {"id": 2 * i}),
                            ("write", {"id": 2 * i + 1}), ("tx-commit", None)]:
            seq += 1
            events.append({"source": s, "event_type": et,
                           "tbl": "w" if payload else None,
                           "payload": json.dumps(payload) if payload else None,
                           "seq": seq})
    src = str(tmp_path / "feed")
    write_events(src, events)
    changes = streaming_tx_filter(
        spark.readStream.schema(
            "source string, event_type string, tbl string, payload string, seq long"
        ).json(src)
    ).select(
        F.lit("upsert").alias("op"), "tbl",
        F.get_json_object("payload", "$.id").alias("id"),
        F.col("payload").alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("next_file"),
        F.col("seq").alias("next_position"), "seq",
    )
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    before = persisted_rdds()
    sink_kind, layout = kind.split("_")
    kb = KeyBucket(width=4) if layout == "bucketed" else None
    sink_cls, start = ((HistorySink, start_history_stream) if sink_kind == "history"
                       else (MergeSink, start_merge_stream))
    sink = sink_cls(spark, state, key_bucket=kb)
    q = start(changes, state, ckpt, output_mode="append", key_bucket=kb)
    q.awaitTermination(120)
    assert q.exception() is None
    progress = json.loads(q.lastProgress.json)
    assert progress["numInputRows"] == len(events)
    assert progress["stateOperators"][0]["numRowsTotal"] == len(sources)
    assert persisted_rdds() == before
    assert sink.read_state().count() == 2 * len(sources)

    bad = spark.createDataFrame(
        [("upsert", "", "9", "{}", None, "f1", 99, 99)], ENVELOPE_SCHEMA)
    with pytest.raises(ValueError, match="unrepresentable table name"):
        sink(bad, 1)
    assert persisted_rdds() == before


@pytest.mark.parametrize("kind", ["merge_bucketed", "history_bucketed",
                                  "history_plain"])
def test_bucketed_sink_batch_is_one_pass_and_one_shuffle(spark, tmp_path,
                                                         monkeypatch, kind):
    """A bucketed sink call runs one pass over the batch (the observed
    `noop` write that names the touched slices) and one shuffle that
    folds and writes them: at most 3 jobs, one Exchange in the written
    plan, and one data file in every touched slice dir. An empty batch
    and a zero-partition batch write nothing and return. The plain
    history fold also runs on one shuffle, its window's."""
    import re
    import threading
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    sc = spark.sparkContext
    state = str(tmp_path / "state")
    bucketed = kind.endswith("bucketed")
    sink = (HistorySink if kind.startswith("history") else MergeSink)(
        spark, state, key_bucket=KeyBucket(width=10) if bucketed else None)

    def env(op, tbl, i, seq):
        return (op, tbl, str(i), json.dumps({"id": i, "v": seq}), None, "f1", seq, seq)

    sink(spark.createDataFrame(
        [env("upsert", t, i, i) for t in ("a", "b") for i in range(40)],
        ENVELOPE_SCHEMA), 0)

    written = []
    parquet = DataFrameWriter.parquet

    def record(self, path, *args, **kwargs):
        # planned as written, while the sink holds the batch cached
        written.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)

    def call(df, batch_id):
        """Run one sink call under its own job group and return its job
        count; in a thread, so a call that never returns fails here
        instead of hanging the suite."""
        group, errors = f"{kind}-{batch_id}-{uuid.uuid4().hex}", []

        def run():
            sc.setJobGroup(group, group)
            try:
                sink(df, batch_id)
            except Exception as e:  # re-raised on the test thread
                errors.append(e)

        t = threading.Thread(target=run)
        t.start()
        t.join(120)
        assert not t.is_alive(), f"batch {batch_id} did not return"
        if errors:
            raise errors[0]
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs = call(spark.createDataFrame(
        [env("upsert", "a", i, 100 + i) for i in (1, 12, 25)]
        + [env("delete", "b", 3, 200)], ENVELOPE_SCHEMA), 1)
    assert jobs <= 3
    assert len(written) == 1
    assert len(re.findall(r"\bExchange\b", written[0])) == 1, written[0]
    for tbl, kb in [("a", 0), ("a", 1), ("a", 2), ("b", 0)] if bucketed else []:
        d = os.path.join(state, f"tbl={tbl}", f"_kb={kb}")
        assert len([f for f in os.listdir(d)
                    if not f.startswith((".", "_"))]) == 1, d
    expected = {("a", str(i)): i for i in range(40)}
    expected.update({("b", str(i)): i for i in range(40) if i != 3})
    expected.update({("a", str(i)): 100 + i for i in (1, 12, 25)})
    assert {(r["tbl"], r["id"]): r["seq"]
            for r in sink.read_state().collect()} == expected

    def tree():
        return sorted((root, f, os.stat(os.path.join(root, f)).st_ino)
                      for root, _dirs, files in os.walk(state) for f in files)

    before = tree()
    written.clear()
    empty = spark.createDataFrame(sc.parallelize([], 2), ENVELOPE_SCHEMA)
    zero = spark.createDataFrame(sc.emptyRDD(), ENVELOPE_SCHEMA)
    assert zero.rdd.getNumPartitions() == 0
    for batch_id, df in ((2, empty), (3, zero)):
        call(df, batch_id)
    assert written == []
    assert tree() == before


def test_stream_static_join(spark, tmp_path):
    """Stream-static join — the schema-enrichment shape (R9): streaming events
    joined to a static dimension."""
    src = str(tmp_path / "ss_src")
    write_events(src, [
        {"tbl": "widgets", "seq": 1},
        {"tbl": "gadgets", "seq": 2},
        {"tbl": "unknown", "seq": 3},
    ])
    static_dim = spark.createDataFrame(
        [("widgets", "id"), ("gadgets", "gid")], "tbl string, pk string"
    )
    stream = spark.readStream.schema("tbl string, seq long").json(src)
    joined = stream.join(F.broadcast(static_dim), "tbl", "left")
    q = (
        joined.writeStream.format("memory").queryName("ss_join_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["seq"]: r["pk"] for r in spark.sql("SELECT seq, pk FROM ss_join_test").collect()}
    assert got == {1: "id", 2: "gid", 3: None}


def test_stream_stream_join_watermarked(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides and a time-bound
    join condition (SURVEY §2.2-C): impressions joined to clicks within 1h."""
    imp_src = str(tmp_path / "imp_src")
    clk_src = str(tmp_path / "clk_src")
    write_events(imp_src, [
        {"ts": "2026-01-01T00:00:00Z", "ad": "a1"},
        {"ts": "2026-01-01T00:10:00Z", "ad": "a2"},
        {"ts": "2026-01-01T02:00:00Z", "ad": "a3"},
    ])
    write_events(clk_src, [
        {"cts": "2026-01-01T00:30:00Z", "ad": "a1"},   # within 1h of a1 impression
        {"cts": "2026-01-01T05:00:00Z", "ad": "a2"},   # too late for a2
    ])
    imps = (
        spark.readStream.schema("ts timestamp, ad string").json(imp_src)
        .withWatermark("ts", "2 hours")
    )
    clicks = (
        spark.readStream.schema("cts timestamp, ad string").json(clk_src)
        .withWatermark("cts", "2 hours")
        .withColumnRenamed("ad", "c_ad")
    )
    joined = imps.join(
        clicks,
        (F.col("ad") == F.col("c_ad"))
        & (F.col("cts") >= F.col("ts"))
        & (F.col("cts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("ad", "ts", "cts")
    q = (
        joined.writeStream.format("memory").queryName("ssj_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [r["ad"] for r in spark.sql("SELECT ad FROM ssj_test").collect()]
    assert got == ["a1"]


def test_session_window_streaming(spark, tmp_path):
    """session_window in a real stream (gap 10 min)."""
    src = str(tmp_path / "sess_src")
    write_events(src, [
        {"ts": "2026-01-01T00:00:00Z", "u": 1},
        {"ts": "2026-01-01T00:05:00Z", "u": 1},   # same session
        {"ts": "2026-01-01T01:00:00Z", "u": 1},   # new session
        {"ts": "2026-01-01T00:00:00Z", "u": 2},
    ])
    stream = (
        spark.readStream.schema("ts timestamp, u int").json(src)
        .withWatermark("ts", "1 hour")
        .groupBy("u", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("u", F.col("w.start").alias("start"), "n")
    )
    q = (
        stream.writeStream.format("memory").queryName("sess_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["u"], str(r["start"])): r["n"] for r in spark.sql("SELECT * FROM sess_test").collect()}
    assert got == {
        (1, "2026-01-01 00:00:00"): 2,
        (1, "2026-01-01 01:00:00"): 1,
        (2, "2026-01-01 00:00:00"): 1,
    }


def test_merge_sink_survives_all_keys_deleted(spark, tmp_path):
    """Regression: a batch that deletes every live key leaves a data-file-less
    partitioned state dir; read_state must come back with the pinned envelope
    schema (not schema inference) and the next upsert batch must succeed.
    Also covers the stale-.bak recovery path."""
    import os
    import shutil

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "ms_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda i, seq: ("delete", "w", str(i), None, None, "f1", seq, seq)  # noqa: E731

    sink(batch([up(1, 1), up(2, 2)]), 0)
    assert sink.read_state().count() == 2
    sink(batch([dele(1, 3), dele(2, 4)]), 1)
    assert sink.read_state().count() == 0  # empty state readable
    # stale .bak from a crashed swap must not wedge the next batch
    shutil.copytree(state, state + ".bak", dirs_exist_ok=True)
    sink(batch([up(3, 5)]), 2)
    got = sink.read_state().collect()
    assert [r["id"] for r in got] == ["3"]
    assert not os.path.exists(state + ".bak")


def test_stream_two_tables_routed_and_materialized(spark, tmp_path):
    """Two tables in one feed (the reference's widgets/manufacturers model,
    test_util.clj:16-29): per-table id columns, state partitioned by tbl,
    tables don't cross-contaminate."""
    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "two_feed")
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "manufacturers", "ts": "2026-01-01T00:00:00Z",
         "next_position": 1, "rows": [{"mid": "7", "mname": "acme"}], "seq": 1},
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:01Z",
         "next_position": 2, "rows": [{"id": "1", "mfg": "7"}, {"id": "2", "mfg": "7"}], "seq": 2},
        {"event_type": "delete", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:02Z",
         "next_position": 3, "rows": [{"id": "2", "mfg": "7"}], "seq": 3},
    ])
    changes = stream_changes(
        spark, feed, {"widgets": "id", "manufacturers": "mid"}, db="shop",
        tables=["widgets", "manufacturers"],
    )
    state_path = str(tmp_path / "two_state")
    q = start_merge_stream(changes, state_path, str(tmp_path / "two_ckpt"))
    q.awaitTermination(120)

    state = MergeSink(spark, state_path).read_state()
    got = {(r["tbl"], r["id"]) for r in state.collect()}
    assert got == {("manufacturers", "7"), ("widgets", "1")}


def test_streaming_sliding_window(spark, tmp_path):
    """Sliding 10-min window every 5 min in a real stream — each event lands
    in two overlapping windows."""
    src = str(tmp_path / "slide_src")
    write_events(src, [
        {"ts": "2026-01-01T00:02:00Z", "k": "a"},
        {"ts": "2026-01-01T00:07:00Z", "k": "a"},
    ])
    stream = (
        spark.readStream.schema("ts timestamp, k string").json(src)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    q = (
        stream.writeStream.format("memory").queryName("slide_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {str(r["w_start"]): r["n"] for r in spark.sql("SELECT * FROM slide_test").collect()}
    assert got == {
        "2025-12-31 23:55:00": 1,  # [23:55, 00:05) <- 00:02
        "2026-01-01 00:00:00": 2,  # [00:00, 00:10) <- both
        "2026-01-01 00:05:00": 1,  # [00:05, 00:15) <- 00:07
    }


def test_streaming_error_dead_letter(spark, tmp_path):
    """In-band error channel, durable (R20): a row violating the envelope
    preconditions (NULL id, row_format.clj:8) is routed to the dead-letter
    table; valid rows still materialize."""
    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream

    feed = str(tmp_path / "dl_feed")
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 1, "rows": [{"id": "1", "v": "ok"}, {"wrong_key": "no-id"}], "seq": 1},
    ])
    errors_path = str(tmp_path / "dl_errors")
    q = start_merge_stream(
        stream_changes(spark, feed, {"widgets": "id"}, db="shop"),
        str(tmp_path / "dl_state"), str(tmp_path / "dl_ckpt"),
        errors_path=errors_path,
    )
    q.awaitTermination(120)

    state = MergeSink(spark, str(tmp_path / "dl_state")).read_state()
    assert [r["id"] for r in state.collect()] == ["1"]
    errors = spark.read.parquet(errors_path)
    err_rows = errors.collect()
    assert len(err_rows) == 1
    assert err_rows[0]["op"] == "error"
    assert err_rows[0]["batch_id"] == 0


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Real watermark semantics: after batch 1 advances the watermark past a
    window, a batch-2 event for that window is LATE and must be dropped (in
    append mode the finalized window emits once, without the late row)."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out = str(tmp_path / "late_out")

    def run_query():
        stream = (
            spark.readStream.schema("ts timestamp, k string").json(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # run 1: events up to 01:00 -> watermark persists at 01:00 - 10min = 00:50
    write_events(src, [
        {"ts": "2026-01-01T00:01:00Z", "k": "a"},
        {"ts": "2026-01-01T00:02:00Z", "k": "a"},
        {"ts": "2026-01-01T01:00:00Z", "k": "a"},
    ], file_name="b1.json")
    run_query()
    # run 2 (same checkpoint): an event for [00:00, 00:05) — below the watermark
    write_events(src, [
        {"ts": "2026-01-01T00:03:00Z", "k": "a"},
    ], file_name="b2.json")
    run_query()

    got = {str(r["w_start"]): r["n"] for r in spark.read.parquet(out).collect()}
    # the 00:00 window finalized with n=2; the late 00:03 event did NOT bump it
    assert got.get("2026-01-01 00:00:00") == 2, got


def test_merge_sink_rewrites_only_touched_partitions(spark, tmp_path):
    """Scale contract: a micro-batch must do O(touched state) work, not
    O(state) — a batch touching only table B leaves table A's partition files
    byte-identical and un-rewritten (carried by hardlink, so inode and mtime
    survive)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "tp_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    sink(batch([up("aaa", 1, 1), up("bbb", 2, 2)]), 0)

    def part_files(tbl):
        d = os.path.join(state, f"tbl={tbl}")
        return {
            f: (os.stat(os.path.join(d, f)).st_mtime_ns, os.stat(os.path.join(d, f)).st_ino)
            for f in sorted(os.listdir(d))
        }

    before_a = part_files("aaa")
    sink(batch([up("bbb", 3, 3)]), 1)  # touches only bbb
    assert part_files("aaa") == before_a  # same files, same inodes, same mtime
    got = {(r["tbl"], r["id"]) for r in sink.read_state().collect()}
    assert got == {("aaa", "1"), ("bbb", "2"), ("bbb", "3")}


def test_merge_sink_key_bucketed_equals_plain(spark, tmp_path):
    """key_bucket mode: identical read_state as the plain layout through a
    multi-batch fold with updates, deletes, out-of-order replay, and
    tombstone compaction — the layout is an implementation detail."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    plain = MergeSink(spark, str(tmp_path / "p_state"))
    bucketed = MergeSink(
        spark, str(tmp_path / "b_state"),
        key_bucket=lambda c: (c.cast("long") / F.lit(3)).cast("int"),
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i, "s": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731
    batches = [
        [up("aaa", i, i) for i in range(1, 10)] + [up("bbb", 1, 3)],
        [up("aaa", 2, 20), dele("aaa", 5, 21)],
        [up("aaa", 5, 15)],          # stale replay after the delete
        [dele("bbb", 1, 30), up("aaa", 11, 31)],
    ]
    for i, rows in enumerate(batches):
        plain(batch(rows), i)
        bucketed(batch(rows), i)

    def snap(sink):
        return {
            (r["tbl"], r["id"], r["seq"], r["content"])
            for r in sink.read_state().collect()
        }

    assert snap(bucketed) == snap(plain) and snap(plain)
    assert "_kb" not in bucketed.read_state().columns
    # layout really is subpartitioned
    kb_dirs = os.listdir(os.path.join(str(tmp_path / "b_state"), "tbl=aaa"))
    assert any(d.startswith("_kb=") for d in kb_dirs)
    # tombstone purge respects the bucketed layout too
    plain.compact()
    bucketed.compact()
    assert snap(bucketed) == snap(plain)
    assert bucketed._read_raw().where("op = 'delete'").count() == 0


def test_merge_sink_key_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """The point of the bucketed layout: a batch with key locality leaves
    every untouched (tbl, bucket) slice carried by hardlink — same inode,
    same mtime — so per-batch merge work is O(touched slices), not
    O(table). (With range bucketing on an autoincrement key this is the
    normal CDC shape: recent writes land in the top bucket.)"""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    state = str(tmp_path / "kb_state")
    sink = MergeSink(
        spark, state,
        key_bucket=lambda c: (c.cast("long") / F.lit(100)).cast("int"),
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    # backfill spread over buckets 0-3
    sink(batch([up(i, i) for i in range(0, 400, 7)]), 0)

    def bucket_files(kb):
        d = os.path.join(state, "tbl=orders", f"_kb={kb}")
        return {
            f: (os.stat(os.path.join(d, f)).st_mtime_ns,
                os.stat(os.path.join(d, f)).st_ino)
            for f in sorted(os.listdir(d))
        }

    before = {kb: bucket_files(kb) for kb in (0, 1, 2)}
    # "recent" batch: keys 300-399 only -> bucket 3 touched
    sink(batch([up(i, 1000 + i) for i in range(300, 400, 5)]), 1)
    for kb in (0, 1, 2):
        assert bucket_files(kb) == before[kb], f"bucket {kb} was rewritten"
    got = {r["id"] for r in sink.read_state().collect()}
    assert {str(i) for i in range(300, 400, 5)} <= got


@pytest.mark.parametrize("layout", ["plain", "bucketed"])
@pytest.mark.parametrize("rewrite", ["compact", "prune"])
def test_maintenance_rewrite_links_slices_without_matching_rows(
        spark, tmp_path, rewrite, layout):
    """`MergeSink.compact` and `HistorySink.prune_closed_before` rewrite
    only the slices holding rows to drop: every other slice keeps the same
    files, inodes and mtimes (hardlink carry-forward), and the live state
    is unchanged. A rewritten bucketed slice is one data file, also when
    the slice was read from several: the rewrite clusters by slice."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    state = str(tmp_path / "state")
    kb = KeyBucket(width=10) if layout == "bucketed" else None
    sink = (MergeSink if rewrite == "compact" else HistorySink)(
        spark, state, key_bucket=kb)

    def env(op, tbl, i, seq):
        return (op, tbl, str(i), json.dumps({"id": i, "v": seq}), None, "f1", seq, seq)

    sink(spark.createDataFrame(
        [env("upsert", t, i, i) for t in ("a", "b") for i in range(40)],
        ENVELOPE_SCHEMA), 0)
    # keys 10-14 of table a (bucket 1): tombstones for compact, closed
    # versions for prune — the only rows the rewrite may drop
    op = "delete" if rewrite == "compact" else "upsert"
    sink(spark.createDataFrame(
        [env(op, "a", i, 100 + i) for i in range(10, 15)], ENVELOPE_SCHEMA), 1)

    depth = 1 if kb is None else 2
    if kb is not None:
        # fragment the slice the rewrite hits into two files of the same
        # rows, alternating, so its scan has two partitions that both keep
        # rows, to be clustered back into one file
        import pyarrow.parquet as pq

        hit_dir = os.path.join(state, "tbl=a", "_kb=1")
        (data,) = [f for f in os.listdir(hit_dir) if not f.startswith((".", "_"))]
        t = pq.ParquetFile(os.path.join(hit_dir, data)).read()
        for f in os.listdir(hit_dir):
            os.remove(os.path.join(hit_dir, f))
        for j in (0, 1):
            pq.write_table(t.take(list(range(j, t.num_rows, 2))),
                           os.path.join(hit_dir, f"part-{j}.parquet"),
                           use_deprecated_int96_timestamps=True)

    def slices():
        out: dict = {}
        for root, _dirs, files in os.walk(state):
            rel = os.path.relpath(root, state).split(os.sep)
            if len(rel) < depth or not rel[0].startswith("tbl="):
                continue
            for f in files:
                st = os.stat(os.path.join(root, f))
                out.setdefault("/".join(rel[:depth]), {})[
                    os.path.join(*rel[depth:], f)] = (st.st_ino, st.st_mtime_ns)
        return out

    def live():
        return sorted(tuple(r) for r in sink.read_state().collect())

    hit = "tbl=a" if kb is None else "tbl=a/_kb=1"
    before, live_before = slices(), live()
    assert len(before) == (2 if kb is None else 8)
    if rewrite == "compact":
        sink.compact()
        assert sink._read_raw().where(F.col("op") == "delete").count() == 0
    else:
        sink.prune_closed_before(1000)
        assert sink.read_history().where(F.col("valid_to").isNotNull()).count() == 0
    after = slices()
    assert after.keys() == before.keys()
    for name in before:
        if name != hit:
            assert after[name] == before[name], f"{name} was rewritten"
    assert after[hit] != before[hit]
    if kb is not None:
        assert len(before[hit]) == 2
        assert len([f for f in after[hit]
                    if not os.path.basename(f).startswith((".", "_"))]) == 1
    assert live() == live_before


def test_history_sink_key_bucketed_equals_plain(spark, tmp_path):
    """HistorySink with key_bucket: identical history (intervals), state,
    and retention behavior as the plain layout — a key's whole history
    shares one bucket, so the lead() interval window never spans
    buckets."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from pyspark.sql import functions as F

    plain = HistorySink(spark, str(tmp_path / "hp_state"))
    bucketed = HistorySink(
        spark, str(tmp_path / "hb_state"),
        key_bucket=lambda c: (c.cast("long") / F.lit(3)).cast("int"),
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i, "v": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda i, seq: ("delete", "w", str(i), None, None, "f1", seq, seq)  # noqa: E731
    batches = [
        [up(i, i) for i in range(1, 9)],
        [up(2, 20), dele(5, 21)],
        [up(2, 25), up(9, 26)],
    ]
    for i, rows in enumerate(batches):
        plain(batch(rows), i)
        bucketed(batch(rows), i)

    def hist(sink):
        return {
            (r["tbl"], r["id"], r["seq"], r["valid_to"], r["is_current"])
            for r in sink.read_history().collect()
        }

    def state(sink):
        return {(r["tbl"], r["id"], r["seq"]) for r in sink.read_state().collect()}

    assert hist(bucketed) == hist(plain) and hist(plain)
    assert state(bucketed) == state(plain)
    assert "_kb" not in bucketed.read_history().columns
    kb_dirs = os.listdir(os.path.join(str(tmp_path / "hb_state"), "tbl=w"))
    assert any(d.startswith("_kb=") for d in kb_dirs)
    # retention prunes the same rows under both layouts
    plain.prune_closed_before(21)
    bucketed.prune_closed_before(21)
    assert hist(bucketed) == hist(plain)
    assert state(bucketed) == state(plain)


def test_merge_sink_key_bucketed_randomized_sequence(spark, tmp_path):
    """Seeded randomized fold: 6 batches x 40 ops (upserts, deletes,
    exact replays, out-of-order seqs, multi-table, skewed keys) must
    leave the bucketed and plain layouts with IDENTICAL live state AND
    identical raw tombstone sets — the property test behind the
    hand-picked equivalence cases."""
    import random

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    rng = random.Random(1031)
    plain = MergeSink(spark, str(tmp_path / "rp_state"))
    bucketed = MergeSink(
        spark, str(tmp_path / "rb_state"),
        key_bucket=lambda c: (c.try_cast("long") / F.lit(4)).cast("int"),
    )
    seqs = list(range(1, 400))
    rng.shuffle(seqs)  # out-of-order delivery baked in
    emitted = []

    def op(seq):
        tbl = rng.choice(["aaa", "bbb"])
        key = str(rng.choice([1, 1, 1, 2, 3, 5, 8, 13, 21, 34]))  # skew on 1
        if rng.random() < 0.25:
            return ("delete", tbl, key, None, None, "f1", seq, seq)
        return ("upsert", tbl, key, json.dumps({"k": key, "s": seq}),
                None, "f1", seq, seq)

    for b in range(6):
        rows = [op(seqs.pop()) for _ in range(40)]
        if emitted and rng.random() < 0.5:  # exact replay of an old event
            rows.append(rng.choice(emitted))
        emitted += rows
        batch = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
        plain(batch, b)
        bucketed(batch, b)

    def live(sink):
        return {(r["tbl"], r["id"], r["op"], r["seq"], r["content"])
                for r in sink.read_state().collect()}

    def tombs(sink):
        raw = sink._read_raw().where(F.col("op") == "delete")
        return {(r["tbl"], r["id"], r["seq"]) for r in raw.collect()}

    assert live(bucketed) == live(plain) and live(plain)
    assert tombs(bucketed) == tombs(plain)
    # and the fold itself is the ground truth: replaying every emitted
    # event through batch materialize() gives the same live state
    from dumpr_spark.cdc.materialize import materialize

    all_df = spark.createDataFrame(emitted, ENVELOPE_SCHEMA)
    truth = {
        (r["tbl"], r["id"], r["op"], r["seq"], r["content"])
        for r in materialize(all_df).collect()
    }
    assert live(plain) == truth


def test_merge_sink_key_bucketed_survives_file_compaction(spark, tmp_path):
    """compact_files on a BUCKETED layout: the hive-partition detection
    must preserve the two-level tbl/_kb directory structure (and with it
    the pair-predicate pruning and hardlink carry-forward), state must
    read back identically, and a post-compaction batch must still fold."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    state = str(tmp_path / "kbc_state")
    sink = MergeSink(
        spark, state,
        key_bucket=lambda c: (c.cast("long") / F.lit(50)).cast("int"),
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    for b in range(3):  # several batches -> several files per bucket
        sink(batch([up(i, 100 * b + i) for i in range(0, 150, 7)]), b)
    before = {(r["tbl"], r["id"], r["seq"]) for r in sink.read_state().collect()}

    n_files = sink.compact_files()
    kb_dirs = os.listdir(os.path.join(state, "tbl=orders"))
    assert all(d.startswith(("_kb=", ".", "_")) for d in kb_dirs), kb_dirs
    # one data file per slice, and the returned count is their total
    per_slice = [
        len([f for f in os.listdir(os.path.join(state, "tbl=orders", d))
             if not f.startswith((".", "_"))])
        for d in kb_dirs if d.startswith("_kb=")
    ]
    assert per_slice and set(per_slice) == {1}
    assert n_files == len(per_slice)
    assert {(r["tbl"], r["id"], r["seq"]) for r in sink.read_state().collect()} == before

    sink(batch([up(1, 999)]), 99)  # fold still works on the compacted layout
    got = {r["id"]: r["seq"] for r in sink.read_state().collect()}
    assert got["1"] == 999
    # and the UNTOUCHED buckets' keys all survived the fold's
    # carry-forward (the data-loss mode a flattened layout causes)
    assert set(got) == {r[1] for r in before} | {"1"}


def test_key_bucket_null_bucket_rejected_before_any_write(spark, tmp_path):
    """A bucket function that yields NULL for some id (try_cast on a
    non-numeric key — exactly what ANSI-mode error messages steer users
    toward) must fail LOUDLY before any state mutates: a NULL bucket
    would persist as __HIVE_DEFAULT_PARTITION__, the read-side
    isin([None]) would never match it (open intervals never close,
    deleted keys resurrect), and the carry-forward/fresh-write collision
    wedges checkpoint replay. Both sinks; state dir must stay absent."""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    kb = lambda c: (c.try_cast("long") / F.lit(3)).cast("int")  # noqa: E731

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    rows = [
        ("upsert", "w", "user_42", json.dumps({"k": 1}), None, "f1", 1, 1),
        ("upsert", "w", "7", json.dumps({"k": 2}), None, "f1", 2, 2),
    ]
    for cls, sub in ((MergeSink, "m"), (HistorySink, "h")):
        state = str(tmp_path / f"{sub}_nullkb")
        sink = cls(spark, state, key_bucket=kb)
        with pytest.raises(ValueError, match="NULL bucket"):
            sink(batch(rows), 0)
        assert not os.path.exists(state)  # nothing written, nothing poisoned
        # a TOTAL bucket function over the same ids works
        total = cls(
            spark, str(tmp_path / f"{sub}_totkb"),
            key_bucket=lambda c: F.coalesce(
                (c.try_cast("long") / F.lit(3)).cast("int"), F.lit(-1)
            ),
        )
        total(batch(rows), 0)
        assert {r["id"] for r in total.read_state().collect()} == {"user_42", "7"}


def test_empty_or_null_tbl_rejected_before_any_write(spark, tmp_path):
    """NULL / empty-string table names are unrepresentable in the Hive
    partition layout (both write as __HIVE_DEFAULT_PARTITION__ and read
    back NULL, so the touched-slice filter — isin(['']) in plain mode,
    the tbl= disjunct in bucketed mode — can never match the persisted
    rows; the slice reads as empty and _commit's carry-forward vs
    fresh-write rename collision wedges every checkpoint replay). The
    r12 advice traced the bucketed hand-built-path variant
    (quote('') == '' slipped past _read_touched's identity guard); the
    fix is a loud pre-write raise in BOTH layouts, before any state
    mutates."""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    # NULL tbl is already structurally impossible (ENVELOPE_SCHEMA pins the
    # field non-nullable, so it cannot enter a batch); empty string is the
    # live hazard this pins
    rows = [
        ("upsert", "", "1", json.dumps({"k": 1}), None, "f1", 1, 1),
        ("upsert", "w", "2", json.dumps({"k": 2}), None, "f1", 2, 2),
    ]
    for kb in (None, KeyBucket(width=10)):
        state = str(tmp_path / f"tbl_empty_{'kb' if kb else 'plain'}")
        sink = MergeSink(spark, state, key_bucket=kb)
        with pytest.raises(ValueError, match="unrepresentable table name"):
            sink(batch(rows), 0)
        assert not os.path.exists(state)  # nothing written, nothing wedged


def test_key_bucket_layout_flip_refused_both_directions(spark, tmp_path):
    """Enabling key_bucket over an existing PLAIN state directory must be
    refused before any read or write: legacy files would read back with
    _kb=NULL (the pair filter never matches them — deletes resurrect,
    updates vanish) and _commit's carry-forward links only _kb= subdirs,
    dropping every legacy data file of a touched table in one batch. The
    reverse flip (plain sink over a bucketed directory) would leave a
    mixed layout. Both directions raise, point at migrate_key_bucket,
    and leave the state byte-untouched."""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink
    from pyspark.sql import functions as F

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    kb = lambda c: F.coalesce((c.try_cast("long") / F.lit(3)).cast("int"), F.lit(-1))  # noqa: E731

    def tree(path):
        return {
            (root, f, os.stat(os.path.join(root, f)).st_ino)
            for root, _d, files in os.walk(path) for f in files
        }

    # plain state + bucketed sink -> refused (read AND merge paths)
    plain_state = str(tmp_path / "flip_p")
    MergeSink(spark, plain_state)(batch([up("orders", i, i) for i in range(6)]), 0)
    before = tree(plain_state)
    flipped = MergeSink(spark, plain_state, key_bucket=kb)
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        flipped.read_state()
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        flipped(batch([up("orders", 99, 99)]), 1)
    assert tree(plain_state) == before  # nothing rewritten, nothing dropped

    # bucketed state + plain sink -> refused
    b_state = str(tmp_path / "flip_b")
    MergeSink(spark, b_state, key_bucket=kb)(batch([up("orders", i, i) for i in range(6)]), 0)
    before_b = tree(b_state)
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        MergeSink(spark, b_state)(batch([up("orders", 99, 99)]), 1)
    assert tree(b_state) == before_b


def test_migrate_key_bucket_roundtrip_preserves_state(spark, tmp_path):
    """The sanctioned layout-change path: plain -> bucketed -> plain via
    full rewrite. The live view AND the tombstones survive both hops
    (the fold stays incremental across the migration), the migrated
    layout folds subsequent batches normally, and the untouched-bucket
    hardlink carry-forward works on the migrated directory."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, migrate_key_bucket,
    )

    state = str(tmp_path / "mig_state")
    plain = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i, "s": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731
    plain(batch([up("orders", i, i) for i in range(20)] + [up("parts", 1, 5)]), 0)
    plain(batch([dele("orders", 7, 50)]), 1)

    def snap(sink):
        return {
            (r["tbl"], r["id"], r["seq"], r["content"])
            for r in sink.read_state().collect()
        }

    want = snap(plain)
    kb = KeyBucket(width=8, origin=0)
    migrate_key_bucket(spark, state, kb)
    bucketed = MergeSink(spark, state, key_bucket=kb)
    assert snap(bucketed) == want
    # tombstone survived the rewrite: the stale replay still loses
    bucketed(batch([up("orders", 7, 30)]), 2)
    assert ("orders", "7", 30) not in {
        (r["tbl"], r["id"], r["seq"]) for r in bucketed.read_state().collect()
    }
    # bucketed layout on disk + untouched-bucket carry-forward by inode
    kb0 = os.path.join(state, "tbl=orders", "_kb=0")
    assert os.path.isdir(kb0)
    inodes = {f: os.stat(os.path.join(kb0, f)).st_ino for f in os.listdir(kb0)}
    bucketed(batch([up("orders", 18, 60)]), 3)  # touches bucket 2 only
    assert {f: os.stat(os.path.join(kb0, f)).st_ino
            for f in os.listdir(kb0)} == inodes
    want2 = snap(bucketed)
    # and back to plain: same view, _kb gone from the directory layout
    migrate_key_bucket(spark, state, None)
    back = MergeSink(spark, state)
    assert snap(back) == want2
    assert not any(
        e.startswith("_kb=")
        for e in os.listdir(os.path.join(state, "tbl=orders"))
    )


def test_key_bucket_policy_drift_refused(spark, tmp_path):
    """A CHANGED bucket function over a same-shape bucketed layout is the
    mode-flip hazard's quieter sibling: _pair_filter would prune to the
    wrong bucket dirs (deletes resurrect, updates fork). With the
    KeyBucket policy object the identity (width, origin) is stamped into
    the state at commit time and a drifted sink is refused before any
    read or write; migrate_key_bucket re-stamps, after which the new
    policy is accepted. (Opaque lambdas carry no identity — no drift
    check is possible for them, which the docstring says.)"""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, migrate_key_bucket,
    )

    state = str(tmp_path / "drift_state")

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    MergeSink(spark, state, key_bucket=KeyBucket(width=50))(
        batch([up(i, i) for i in range(0, 200, 3)]), 0)
    assert os.path.exists(os.path.join(state, "_kb_policy.json"))
    # same policy: accepted (fresh instance, equal identity)
    ok = MergeSink(spark, state, key_bucket=KeyBucket(width=50))
    assert ok.read_state().count() == 67
    # drifted width: refused before any read or write
    drifted = MergeSink(spark, state, key_bucket=KeyBucket(width=80))
    with pytest.raises(ValueError, match="changed bucket function"):
        drifted.read_state()
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        drifted(batch([up(999, 999)]), 1)
    # the sanctioned path: migrate, then the new policy is accepted
    migrate_key_bucket(spark, state, KeyBucket(width=80))
    after = MergeSink(spark, state, key_bucket=KeyBucket(width=80))
    after(batch([up(999, 999)]), 1)
    assert after.read_state().count() == 68
    # out-of-band file compaction drops root-level extras; the marker is
    # re-stamped so the drift guard has no unprotected window
    after.compact_files()
    assert os.path.exists(os.path.join(state, "_kb_policy.json"))
    with pytest.raises(ValueError, match="changed bucket function"):
        MergeSink(spark, state, key_bucket=KeyBucket(width=50)).read_state()


def test_suggest_key_bucket_policy(spark, tmp_path):
    """suggest_key_bucket derives (width, origin) from observed density:
    ~target rows per bucket over the observed id span, origin at the min
    so buckets start at 0. Deterministic, persistable (two ints), TOTAL
    over ids via the KeyBucket wrapper, and it refuses non-numeric key
    domains (where range bucketing is meaningless) and empty state."""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink, suggest_key_bucket

    state = str(tmp_path / "sug_state")
    sink = MergeSink(spark, state)
    rows = [
        ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", i, i)
        for i in range(100, 300)
    ]
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)

    kb = suggest_key_bucket(sink.read_state(), target_rows_per_bucket=50)
    # 200 rows / 50 per bucket = 4 buckets over span [100, 299] -> width 50
    assert (kb.width, kb.origin) == (50, 100)
    # TOTAL: a non-numeric id lands in bucket -1, never NULL
    probe = spark.createDataFrame(
        [("100",), ("299",), ("user_x",)], "id string"
    ).select(kb(F.col("id")).alias("b"))
    assert [r["b"] for r in probe.collect()] == [0, 3, -1]
    # the policy is usable directly as the sink's key_bucket
    b2 = MergeSink(spark, str(tmp_path / "sug_b"), key_bucket=kb)
    b2(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)
    assert b2.read_state().count() == 200

    with pytest.raises(ValueError, match="not integer-castable"):
        suggest_key_bucket(
            spark.createDataFrame([("a_1",), ("2",)], "id string")
        )
    with pytest.raises(ValueError, match="empty"):
        suggest_key_bucket(spark.createDataFrame([], "id string"))


def test_suggest_hash_bucket_count_policy(spark, tmp_path):
    """suggest_hash_bucket_count (r13) derives HashKeyBucket.n_buckets
    from observed state: exact-integer ceil(n / target) clamped by
    max_buckets — the two measured failure-mode bounds (rewrite
    blanketing vs the O(n_buckets) metadata floors). Deterministic,
    persistable (one int), usable directly as the sink's key_bucket,
    and it refuses empty state like its range sibling."""
    import pytest

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, MergeSink, suggest_hash_bucket_count,
    )

    ids = spark.createDataFrame(
        [(f"user-{i:04d}",) for i in range(200)], "id string"
    )
    kb = suggest_hash_bucket_count(ids, target_rows_per_bucket=50)
    assert kb == HashKeyBucket(n_buckets=4)  # ceil(200/50), under the cap
    # the cap clamps (the O(n_buckets) listing/link floor bound)
    capped = suggest_hash_bucket_count(ids, target_rows_per_bucket=1,
                                       max_buckets=16)
    assert capped.n_buckets == 16
    # exact ceiling, not float: 201 rows at target 50 -> 5 buckets
    ids201 = spark.createDataFrame(
        [(f"user-{i:04d}",) for i in range(201)], "id string"
    )
    assert suggest_hash_bucket_count(
        ids201, target_rows_per_bucket=50).n_buckets == 5
    # the batch-aware floor (r13): rows/slice targeting alone cannot
    # prevent batch-blanketing — 200 rows at target 50 gives 4 buckets,
    # but a 100-key batch would rewrite the whole table; the floor
    # sizes against the batch (ceil(100 / 0.125) = 800, under the cap)
    batched = suggest_hash_bucket_count(
        ids, target_rows_per_bucket=50, expected_keys_per_batch=100)
    assert batched.n_buckets == 800
    # ...and the metadata cap still wins over the floor
    assert suggest_hash_bucket_count(
        ids, target_rows_per_bucket=50, expected_keys_per_batch=100,
        max_buckets=256).n_buckets == 256
    # usable directly as the sink's key_bucket (policy stamped + refused
    # on drift is covered by the HashKeyBucket drift test)
    rows = [
        ("upsert", "profiles", f"user-{i:04d}", json.dumps({"i": i}),
         None, "f1", i, i)
        for i in range(200)
    ]
    sink = MergeSink(spark, str(tmp_path / "hsug"), key_bucket=kb)
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)
    assert sink.read_state().count() == 200
    with pytest.raises(ValueError, match="empty"):
        suggest_hash_bucket_count(spark.createDataFrame([], "id string"))


def test_compact_every_n_batches_equivalence(spark, tmp_path):
    """The small-files cadence as a sink option (r12 verdict item 5): a
    compaction-interleaved replay must be value-identical to the plain
    run — same live state (MergeSink), same intervals + terminators
    (HistorySink) — while actually compacting (fewer-or-equal data
    files), and a replayed batch landing right after a cadence fire must
    still be a no-op. Covers both layouts (plain + key-bucketed)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(b):
        rows = [
            ("upsert", "orders", str(i), json.dumps({"i": i, "b": b}),
             None, "f1", b * 100 + i, b * 100 + i)
            for i in range(b * 5, b * 5 + 20)
        ] + ([("delete", "orders", str(b * 5), None, None, "f1",
               b * 100 + 99, b * 100 + 99)] if b % 2 else [])
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    def data_files(path):
        return sum(
            1 for root, _d, files in os.walk(path)
            for f in files if f.endswith(".parquet")
        )

    for cls, kb in ((MergeSink, None), (MergeSink, KeyBucket(width=7)),
                    (HistorySink, KeyBucket(width=7))):
        tag = f"{cls.__name__}_{'kb' if kb else 'plain'}"
        plain = cls(spark, str(tmp_path / f"{tag}_plain"), key_bucket=kb)
        auto = cls(spark, str(tmp_path / f"{tag}_auto"), key_bucket=kb,
                   compact_every_n_batches=2)
        for b in range(6):
            plain(batch(b), b)
            auto(batch(b), b)
        # replay the last batch (checkpoint restart right after a cadence
        # fire at b=5): must stay a no-op
        auto(batch(5), 5)
        want = {tuple(r) for r in plain.read_state().collect()}
        got = {tuple(r) for r in auto.read_state().collect()}
        assert got == want, tag
        if cls is HistorySink:
            wh = {tuple(r) for r in plain.read_history().collect()}
            gh = {tuple(r) for r in auto.read_history().collect()}
            assert gh == wh, tag
        assert data_files(auto.state_path) <= data_files(plain.state_path), tag


def test_merge_sink_delete_tombstone_blocks_resurrection(spark, tmp_path):
    """A delete must defeat a lower-seq upsert arriving in a LATER batch
    (replay / out-of-order delivery): the tombstone persists across batches.
    compact() then purges tombstones without changing the live view."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "tomb_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i, "seq": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda i, seq: ("delete", "w", str(i), None, None, "f1", seq, seq)  # noqa: E731

    sink(batch([up(1, 5)]), 0)
    sink(batch([dele(1, 10)]), 1)
    sink(batch([up(1, 7)]), 2)  # stale upsert replayed AFTER the delete
    assert sink.read_state().count() == 0  # tombstone wins; key stays dead
    # a genuinely newer upsert does revive the key
    sink(batch([up(1, 11)]), 3)
    assert [r["id"] for r in sink.read_state().collect()] == ["1"]
    sink(batch([dele(1, 12)]), 4)
    assert sink._read_raw().where("op = 'delete'").count() == 1
    sink.compact()
    assert sink._read_raw().count() == 0
    assert sink.read_state().count() == 0


def test_merge_sink_recovers_from_crash_between_renames(spark, tmp_path):
    """Regression: a crash AFTER state->bak but BEFORE tmp->state leaves .bak
    holding the only copy; the replayed batch must restore it, not fold
    against an empty state (silent total loss) nor delete the backup."""
    import os
    import shutil

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "cr_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    sink(batch([up(1, 1), up(2, 2)]), 0)

    # simulate the torn swap: state renamed to .bak, new state never arrived
    os.rename(state, state + ".bak")
    assert not os.path.exists(state)

    # checkpoint replay of the next batch must see the recovered state
    sink(batch([up(3, 3)]), 1)
    got = sorted(r["id"] for r in sink.read_state().collect())
    assert got == ["1", "2", "3"]
    shutil.rmtree(state, ignore_errors=True)


def test_migrate_key_bucket_crash_recovery(spark, tmp_path):
    """A migration crash at any of its three windows must not lose state:
    (a) after .migrate-tmp is written but before the swap — the stale tmp
    is garbage-collected and the original state is intact; (b) between
    the two swap renames — .migrate-bak holds the only copy and the next
    sink touch restores it; (c) a stale .migrate-bak COEXISTING with
    state (the swap completed, only cleanup was lost) is deleted, never
    restored over newer state."""
    import shutil

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    state = str(tmp_path / "mcr_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    sink(batch([up(1, 1), up(2, 2)]), 0)

    def snap():
        return sorted(r["id"] for r in MergeSink(spark, state).read_state().collect())

    want = snap()
    # (a) crash after the tmp write, before any rename
    shutil.copytree(state, state + ".migrate-tmp")
    assert snap() == want
    assert not os.path.exists(state + ".migrate-tmp")  # GC'd by _recover
    # (b) crash between the two renames: bak holds the only copy
    os.rename(state, state + ".migrate-bak")
    assert snap() == want  # restored
    assert not os.path.exists(state + ".migrate-bak")
    # (c) stale bak coexisting with state: swap completed — bak must die,
    # state must win (fold a new row first so state is strictly newer)
    shutil.copytree(state, state + ".migrate-bak")
    MergeSink(spark, state)(batch([up(3, 3)]), 1)
    assert snap() == ["1", "2", "3"]
    assert not os.path.exists(state + ".migrate-bak")
    # and a bucketed sink's recovery path honors the same discipline
    bstate = str(tmp_path / "mcr_b")
    bsink = MergeSink(spark, bstate, key_bucket=KeyBucket(width=2))
    bsink(batch([up(1, 1), up(2, 2)]), 0)
    os.rename(bstate, bstate + ".migrate-bak")
    got = sorted(r["id"] for r in MergeSink(
        spark, bstate, key_bucket=KeyBucket(width=2)).read_state().collect())
    assert got == ["1", "2"]


def test_torn_compact_files_and_migration_restore_prior_state(
        spark, tmp_path, monkeypatch):
    """`compact_files` and `migrate_key_bucket` swap through `_commit`, so
    a crash between its two renames (state moved to .bak, the next
    version not yet in place) is recovered like a torn batch: a fresh
    sink reads exactly the state from before the call, with no backup or
    staging dir left behind."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HISTORY_SCHEMA, HistorySink
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink, migrate_key_bucket

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i, "s": seq}), None, "f1", seq, seq)  # noqa: E731
    rename = os.rename

    def tear_second_rename(state):
        moved = []

        def flaky(src, dst):
            if moved:
                moved.clear()
                raise OSError("torn swap")
            rename(src, dst)
            if src == state and dst == state + ".bak":
                moved.append(src)

        monkeypatch.setattr(os, "rename", flaky)

    kb = KeyBucket(width=4)
    for cls, schema in ((MergeSink, ENVELOPE_SCHEMA), (HistorySink, HISTORY_SCHEMA)):
        state = str(tmp_path / f"torn_{cls.__name__}")
        sink = cls(spark, state, key_bucket=kb)
        for b in range(3):
            sink(batch([up(i, 10 * b + i) for i in range(0, 12, 1 + b)]), b)

        def snap():
            fresh = cls(spark, state, key_bucket=kb)
            rows = fresh.read_history() if cls is HistorySink else fresh.read_state()
            return sorted(tuple(r) for r in rows.collect())

        want = snap()
        for op in (sink.compact_files,
                   lambda: migrate_key_bucket(spark, state, None, schema=schema)):
            tear_second_rename(state)
            with pytest.raises(OSError, match="torn swap"):
                op()
            monkeypatch.undo()
            assert not os.path.exists(state)
            assert snap() == want
            # no backup or staging dir (.bak, .next-*) is left behind
            assert [d for d in os.listdir(tmp_path) if "." in d] == []


def test_migrate_key_bucket_null_bucket_leaves_state_unchanged(spark, tmp_path):
    """A migration to a bucket function that is not total over the ids
    refuses with the merge path's NULL-bucket message before anything is
    written: the state tree (files and inodes) and its parent dir are
    unchanged."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink, migrate_key_bucket
    from pyspark.sql import functions as F

    state = str(tmp_path / "nullmig")
    rows = [("upsert", "w", i, json.dumps({"k": n}), None, "f1", n, n)
            for n, i in enumerate(["1", "user_42", "7"])]
    MergeSink(spark, state)(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)

    def tree():
        return (sorted(os.listdir(tmp_path)),
                sorted((root, f, os.stat(os.path.join(root, f)).st_ino)
                       for root, _dirs, files in os.walk(state) for f in files))

    before = tree()
    with pytest.raises(ValueError, match="NULL bucket"):
        migrate_key_bucket(spark, state,
                           lambda c: (c.try_cast("long") / F.lit(3)).cast("int"))
    assert tree() == before


def test_streaming_incremental_rollup(spark, tmp_path):
    """Streaming minute rollup maintained incrementally across restarts:
    batch 2 revises a window batch 1 already wrote (late-but-in-watermark
    data), adds a new day, and the persisted state equals the batch
    recomputation at minute AND hour grain. Only the touched day partitions
    are rewritten by batch 2."""
    import os

    from dumpr_spark.streaming.rollup import read_rollup, start_rollup_stream

    src = str(tmp_path / "ev")
    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).json(src)
        q, sink = start_rollup_stream(spark, stream, state, ckpt)
        q.awaitTermination(120)
        return sink

    write_events(src, [
        {"ts": "2026-01-01T00:01:10Z", "event_type": "click", "value": 1.0},
        {"ts": "2026-01-01T00:01:40Z", "event_type": "click", "value": 2.0},
        {"ts": "2026-01-01T00:02:05Z", "event_type": "view", "value": 5.0},
    ])
    sink = run()
    got1 = {(r["event_type"], str(r["bucket"])): (r["n"], r["sv"])
            for r in read_rollup(sink, "minute").collect()}
    assert got1[("click", "2026-01-01 00:01:00")] == (2, 3.0)
    assert got1[("view", "2026-01-01 00:02:00")] == (1, 5.0)
    assert [d for d in os.listdir(state) if d.startswith("tbl=")] == ["tbl=rollup_20260101"]

    # batch 2: revise the 00:01 click window (+4.0) and open a new day
    write_events(src, [
        {"ts": "2026-01-01T00:01:55Z", "event_type": "click", "value": 4.0},
        {"ts": "2026-01-02T09:30:10Z", "event_type": "click", "value": 7.0},
    ], file_name="part-001.json")
    sink = run()

    got2 = {(r["event_type"], str(r["bucket"])): (r["n"], r["sv"])
            for r in read_rollup(sink, "minute").collect()}
    assert got2[("click", "2026-01-01 00:01:00")] == (3, 7.0)  # revised, not doubled
    assert got2[("view", "2026-01-01 00:02:00")] == (1, 5.0)   # untouched window carried
    assert got2[("click", "2026-01-02 09:30:00")] == (1, 7.0)  # new day partition
    assert set(os.listdir(state)) >= {"tbl=rollup_20260101", "tbl=rollup_20260102"}

    hour = {(r["event_type"], str(r["bucket"])): (r["n"], r["sv"])
            for r in read_rollup(sink, "hour").collect()}
    assert hour[("click", "2026-01-01 00:00:00")] == (3, 7.0)
    assert hour[("view", "2026-01-01 00:00:00")] == (1, 5.0)
    assert hour[("click", "2026-01-02 09:00:00")] == (1, 7.0)


def test_streaming_ewma_anomaly_state_across_batches(spark, tmp_path):
    """Per-key EWMA state carries across micro-batches (maxFilesPerTrigger=1
    forces one batch per file): a flat series then a spike in a LATER batch
    flags exactly once, and the streamed fold equals a sequential replay."""
    from dumpr_spark.streaming.state import ewma_anomalies

    src = str(tmp_path / "ev")
    batch1 = [{"user_id": 1, "seq": i, "value": 10.0 + (i % 2) * 0.2} for i in range(6)]
    batch1 += [{"user_id": 2, "seq": i, "value": 5.0} for i in range(4)]
    write_events(src, batch1, file_name="b1.json")
    # batch 2: user 1 spikes; user 2 stays flat - state must have persisted
    write_events(src, [
        {"user_id": 1, "seq": 10, "value": 500.0},
        {"user_id": 1, "seq": 11, "value": 10.0},
        {"user_id": 2, "seq": 10, "value": 5.0},
    ], file_name="b2.json")

    stream = (
        spark.readStream.schema("user_id long, seq long, value double")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        ewma_anomalies(stream)
        .writeStream.format("memory").queryName("ewma_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["seq"]): (r["ewma"], r["is_anomaly"])
        for r in spark.sql("SELECT * FROM ewma_t").collect()
    }
    assert len(got) == 13
    flat_keys = [(1, i) for i in range(6)] + [(2, i) for i in range(4)]
    assert not any(got[k][1] for k in flat_keys)  # flat series: nothing flags
    assert got[(1, 10)][1] is True      # the spike flags
    assert got[(2, 10)][1] is False     # flat user unaffected
    # python replay oracle for user 1 ewma after the spike
    mean, n = 0.0, 0
    for v in [10.0, 10.2, 10.0, 10.2, 10.0, 10.2, 500.0, 10.0]:
        mean = v if n == 0 else 0.3 * v + 0.7 * mean
        n += 1
    assert abs(got[(1, 11)][0] - mean) < 1e-9


def test_streaming_curation_dedup_quality_gate(spark, tmp_path):
    """Streaming curation path: a document stream is quality-gated (narrow
    filter), exact-deduped on content hash with watermarked state
    (dropDuplicates survives across micro-batches), and sunk append-only —
    the streaming twin of pipeline_curation. A duplicate arriving in a LATER
    micro-batch must be dropped by state, not re-emitted."""
    src = str(tmp_path / "docs")
    long_text = "a sufficiently long document body " * 4
    write_events(src, [
        {"doc_id": 1, "ts": "2026-01-01T00:00:01Z", "text": long_text + "one"},
        {"doc_id": 2, "ts": "2026-01-01T00:00:02Z", "text": "too short"},
        {"doc_id": 3, "ts": "2026-01-01T00:00:03Z", "text": long_text + "three"},
    ], file_name="b1.json")
    write_events(src, [
        # exact duplicate of doc 1's text in a later batch: state must drop it
        {"doc_id": 10, "ts": "2026-01-01T00:05:00Z", "text": long_text + "one"},
        {"doc_id": 11, "ts": "2026-01-01T00:05:01Z", "text": long_text + "eleven"},
    ], file_name="b2.json")

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    curated = (
        stream.where(F.length("text") >= 50)                      # quality gate
        .withColumn("h", F.md5("text"))
        .withWatermark("ts", "30 minutes")
        .dropDuplicates(["h"])                                    # streaming exact dedup
    )
    q = (
        curated.writeStream.format("memory").queryName("curated_docs")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM curated_docs").collect()}
    assert kept == {1, 3, 11}  # 2 failed quality, 10 was a cross-batch dup


def test_jdbc_merge_sink_dialect_templates():
    """The sink's set-based SQL per dialect (pure template check — the live
    Derby test below covers the ansi path end-to-end; MySQL has no MERGE so
    its form is a DELETE-join + INSERT..SELECT..ON DUPLICATE KEY UPDATE,
    backtick-quoted staging refs, CHAR casts)."""
    import pytest as _pytest

    from dumpr_spark.streaming.jdbc_sink import JdbcMergeSink

    args = (None, "jdbc:x", "idx", "id", ["name", "score"])

    ansi = JdbcMergeSink(*args).merge_statements(str_cols={"name", "op"})
    assert len(ansi) == 1
    m = ansi[0]
    assert m.startswith("MERGE INTO idx t USING idx_STAGING s ON t.id = s.\"id\"")
    assert "WHEN MATCHED AND CAST(s.\"op\" AS VARCHAR(4000)) = 'delete' THEN DELETE" in m
    assert "name = CAST(s.\"name\" AS VARCHAR(4000))" in m
    assert "score = s.\"score\"" in m  # non-string: no cast

    my = JdbcMergeSink(*args, dialect="mysql").merge_statements(str_cols={"name", "op"})
    assert len(my) == 2
    delete, upsert = my
    assert delete.startswith("DELETE t FROM idx t JOIN idx_STAGING s ON t.id = s.`id`")
    assert "CAST(s.`op` AS CHAR(4000)) = 'delete'" in delete
    assert upsert.startswith("INSERT INTO idx (id, name, score) SELECT")
    assert "WHERE CAST(s.`op` AS CHAR(4000)) <> 'delete'" in upsert
    assert "ON DUPLICATE KEY UPDATE name = CAST(s.`name` AS CHAR(4000)), score = s.`score`" in upsert
    assert '"' not in delete and '"' not in upsert  # no ansi quoting leaks

    with _pytest.raises(ValueError, match="dialect"):
        JdbcMergeSink(*args, dialect="oracle8")


def test_streaming_jdbc_merge_sink_against_derby(spark, tmp_path):
    """Live JDBC MERGE sink (the reference's populate-a-live-view use case):
    a CDC file stream upserts/deletes into an embedded Derby table via the
    staging-table + set-based MERGE pattern; a second batch revises state
    incrementally, and a manual replay of the same fold is idempotent."""
    from dumpr_spark.streaming.jdbc_sink import JdbcMergeSink, start_jdbc_merge_stream

    url = f"jdbc:derby:{tmp_path}/sinkdb;create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    conn = jvm.java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
        "CREATE TABLE search_index (id INT PRIMARY KEY, name VARCHAR(50))"
    )
    conn.close()

    src = str(tmp_path / "feed")
    write_events(src, [
        {"op": "upsert", "id": 1, "name": "alpha", "seq": 1},
        {"op": "upsert", "id": 2, "name": "beta", "seq": 2},
        {"op": "upsert", "id": 1, "name": "alpha2", "seq": 3},  # same-batch revision
    ], file_name="b1.json")
    write_events(src, [
        {"op": "upsert", "id": 3, "name": "gamma", "seq": 4},
        {"op": "delete", "id": 2, "name": None, "seq": 5},
        {"op": "upsert", "id": 1, "name": "alpha3", "seq": 6},
    ], file_name="b2.json")

    # properties exercise the Properties-based driver connection too
    sink = JdbcMergeSink(spark, url, "search_index", "id", ["name"],
                         properties={"user": "APP"})

    def fold(batch):
        # one action per key: winner by seq
        return (
            batch.groupBy("id")
            .agg(F.max_by(F.struct("op", "name"), F.col("seq")).alias("w"))
            .select("id", F.col("w.op").alias("op"), F.col("w.name").alias("name"))
        )

    stream = (
        spark.readStream.schema("op string, id int, name string, seq long")
        .option("maxFilesPerTrigger", "1").json(src)
    )
    q = start_jdbc_merge_stream(stream, sink, str(tmp_path / "ckpt"), fold=fold)
    q.awaitTermination(120)

    def index_state():
        return {
            (r["ID"], r["NAME"])
            for r in spark.read.jdbc(url, "search_index").collect()
        }

    expected = {(1, "alpha3"), (3, "gamma")}
    assert index_state() == expected

    # replay idempotence: re-merging the folded batch 2 changes nothing
    replay = fold(spark.read.schema("op string, id int, name string, seq long")
                  .json(f"{src}/b2.json"))
    sink(replay, batch_id=99)
    assert index_state() == expected


def test_history_sink_scd2_end_to_end_and_resume(spark, tmp_path):
    """Temporal sink: two waves through the SCD2 history stream; intervals
    chain across the checkpoint resume, the current view matches MergeSink
    semantics, and point-in-time reads reconstruct past states."""
    from dumpr_spark.streaming.history import HistorySink, start_history_stream
    from dumpr_spark.streaming.ingest import stream_changes

    feed = str(tmp_path / "feed")
    hist = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")

    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1", "v": "a"}, {"id": "2", "v": "b"}], "seq": 1},
        {"event_type": "update", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "1", "v": "a2"}], "seq": 2},
    ])
    q = start_history_stream(stream_changes(spark, feed, {"widgets": "id"}, db="shop"), hist, ckpt)
    q.awaitTermination(120)

    sink = HistorySink(spark, hist)
    cur = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert cur == {"1": "a2", "2": "b"}
    # id=1 has a closed first version chained into an open second (the ingest
    # path assigns its own seq space, so assert interval STRUCTURE, not values)
    h1 = sorted(
        sink.read_history().where(F.col("id") == "1").collect(),
        key=lambda r: r["valid_from"],
    )
    assert len(h1) == 2
    assert h1[0]["valid_to"] == h1[1]["valid_from"]
    assert h1[1]["valid_to"] is None
    assert json.loads(h1[0]["content"])["v"] == "a"
    assert json.loads(h1[1]["content"])["v"] == "a2"

    # wave 2 resumes the same checkpoint: delete id=1, re-insert it later
    write_events(feed, [
        {"event_type": "delete", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:02:00Z",
         "next_position": 30, "rows": [{"id": "1", "v": "a2"}], "seq": 3},
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:03:00Z",
         "next_position": 40, "rows": [{"id": "1", "v": "a3"}], "seq": 4},
    ], file_name="part-001.json")
    q2 = start_history_stream(stream_changes(spark, feed, {"widgets": "id"}, db="shop"), hist, ckpt)
    q2.awaitTermination(120)

    # delete closed the second version; resurrection opened a third interval
    # AFTER a gap (the delete's seq is visible as the prior version's
    # valid_to, not as a history row)
    h1b = sorted(
        sink.read_history().where(F.col("id") == "1").collect(),
        key=lambda r: r["valid_from"],
    )
    assert [json.loads(r["content"])["v"] for r in h1b] == ["a", "a2", "a3"]
    assert h1b[0]["valid_to"] == h1b[1]["valid_from"]
    delete_seq = h1b[1]["valid_to"]
    assert delete_seq is not None and delete_seq < h1b[2]["valid_from"]  # gap = deleted span
    assert h1b[2]["valid_to"] is None
    cur2 = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert cur2 == {"1": "a3", "2": "b"}

    # point-in-time: state as of the delete seq (before the re-insert) —
    # id=1 must be absent, id=2 present
    asof = sink.read_history().where(
        (F.col("valid_from") <= delete_seq)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > delete_seq))
    )
    assert {r["id"] for r in asof.collect()} == {"2"}


def test_history_sink_replay_is_idempotent(spark, tmp_path):
    """Checkpoint-replay discipline: folding the identical batch twice yields
    byte-identical history (dropDuplicates on the (tbl,id,seq) change
    identity), so restart-after-commit cannot duplicate versions."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink

    hist = str(tmp_path / "hist")
    rows = [
        ("upsert", "w", "1", '{"v":"a"}', None, None, None, 1),
        ("upsert", "w", "1", '{"v":"b"}', None, None, None, 2),
        ("delete", "w", "2", None, None, None, None, 3),
    ]
    batch = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    sink = HistorySink(spark, hist)
    sink(batch, 0)
    first = sorted(map(tuple, sink._read_raw().collect()))
    sink(batch, 0)  # replay
    assert sorted(map(tuple, sink._read_raw().collect())) == first


def test_history_sink_matches_batch_scd2_form(spark, tmp_path):
    """Streaming fold ≡ batch lead()-window SCD2 over the full log, for any
    split of the log into micro-batches (here: an adversarial split that
    cuts a key's versions across the boundary)."""
    from pyspark.sql import Window

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink

    log = [
        ("upsert", "w", "1", '{"v":1}', None, None, None, 1),
        ("upsert", "w", "2", '{"v":2}', None, None, None, 2),
        ("upsert", "w", "1", '{"v":3}', None, None, None, 4),
        ("delete", "w", "2", None, None, None, None, 5),
        ("upsert", "w", "1", '{"v":4}', None, None, None, 7),
        ("upsert", "w", "2", '{"v":5}', None, None, None, 8),
    ]
    hist = str(tmp_path / "hist")
    sink = HistorySink(spark, hist)
    sink(spark.createDataFrame(log[:3], ENVELOPE_SCHEMA), 0)
    sink(spark.createDataFrame(log[3:], ENVELOPE_SCHEMA), 1)

    full = spark.createDataFrame(log, ENVELOPE_SCHEMA)
    w = Window.partitionBy("tbl", "id").orderBy("seq")
    batch_form = full.withColumn("valid_to", F.lead("seq").over(w))
    cols = ["op", "tbl", "id", "content", "seq", "valid_to"]  # partitioned
    # read reorders columns — compare on an explicit projection
    got = sorted(map(tuple, sink._read_raw().select(*cols).collect()))
    want = sorted(map(tuple, batch_form.select(*cols).collect()))
    assert got == want


def test_history_sink_prune_retention(spark, tmp_path):
    """prune_closed_before drops only intervals closed before the horizon;
    open intervals and the current view survive."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink

    hist = str(tmp_path / "hist")
    rows = [
        ("upsert", "w", "1", '{"v":"a"}', None, None, None, 1),
        ("upsert", "w", "1", '{"v":"b"}', None, None, None, 5),
        ("upsert", "w", "2", '{"v":"c"}', None, None, None, 2),
    ]
    sink = HistorySink(spark, hist)
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)
    sink.prune_closed_before(horizon_seq=6)  # [1,5) closed before 6 -> dropped
    left = {(r["id"], r["seq"], r["valid_to"]) for r in sink._read_raw().collect()}
    assert left == {("1", 5, None), ("2", 2, None)}
    cur = {r["id"]: json.loads(r["content"])["v"] for r in sink.read_state().collect()}
    assert cur == {"1": "b", "2": "c"}


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _hist_op = st.tuples(
        st.sampled_from(["upsert", "upsert", "upsert", "delete"]),
        st.sampled_from(["widgets", "manufacturers"]),
        st.integers(min_value=1, max_value=8),  # small key space => churn
        st.integers(min_value=0, max_value=10**6),
    )

    @given(
        ops=st.lists(_hist_op, min_size=1, max_size=60),
        split_frac=st.floats(min_value=0.0, max_value=1.0),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_history_sink_fold_property(spark, tmp_path_factory, ops, split_frac):
        """Generative port of the reference's split-stream property
        (core_test.clj:175-187) for the TEMPORAL sink: for ANY op sequence
        split at ANY point into two micro-batches, the streamed SCD2 fold
        equals the batch lead()-window form over the whole log, and the
        open intervals equal the entity-map fold's surviving keys."""
        import json as _json

        from pyspark.sql import Window

        from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
        from dumpr_spark.streaming.history import HistorySink

        log = [
            (op, tbl, str(k), _json.dumps({"id": k, "v": v}) if op == "upsert" else None,
             None, None, None, seq)
            for seq, (op, tbl, k, v) in enumerate(ops)
        ]
        cut = int(len(log) * split_frac)
        hist = str(tmp_path_factory.mktemp("hist"))
        sink = HistorySink(spark, hist)
        if log[:cut]:
            sink(spark.createDataFrame(log[:cut], ENVELOPE_SCHEMA), 0)
        if log[cut:]:
            sink(spark.createDataFrame(log[cut:], ENVELOPE_SCHEMA), 1)

        full = spark.createDataFrame(log, ENVELOPE_SCHEMA)
        w = Window.partitionBy("tbl", "id").orderBy("seq")
        want_hist = full.withColumn("valid_to", F.lead("seq").over(w))
        cols = ["op", "tbl", "id", "content", "seq", "valid_to"]
        got = sorted(map(tuple, sink._read_raw().select(*cols).collect()))
        want = sorted(map(tuple, want_hist.select(*cols).collect()))
        assert got == want

        # open upsert intervals == last-op-is-upsert keys of the pure fold
        state = {}
        for op, tbl, k, content, *_rest in log:
            if op == "upsert":
                state[(tbl, k)] = content
            else:
                state.pop((tbl, k), None)
        got_cur = {
            (r["tbl"], r["id"]): r["content"] for r in sink.read_state().collect()
        }
        assert got_cur == state

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def test_history_sink_untouched_table_carries_forward(spark, tmp_path):
    """HistorySink inherits MergeSink's touched-partition discipline: a batch
    touching only one table must carry the other table's history forward
    (hardlink, not rewrite) with intervals intact."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink

    hist = str(tmp_path / "hist")
    sink = HistorySink(spark, hist)
    wave1 = [
        ("upsert", "widgets", "1", '{"v":"a"}', None, None, None, 1),
        ("upsert", "gadgets", "9", '{"v":"g"}', None, None, None, 2),
        ("upsert", "widgets", "1", '{"v":"b"}', None, None, None, 3),
    ]
    sink(spark.createDataFrame(wave1, ENVELOPE_SCHEMA), 0)
    g_dir = os.path.join(hist, "tbl=gadgets")
    mtime_before = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(g_dir) for f in fs if not f.startswith(("_", "."))
    )

    wave2 = [("upsert", "widgets", "2", '{"v":"c"}', None, None, None, 4)]
    sink(spark.createDataFrame(wave2, ENVELOPE_SCHEMA), 1)

    # gadgets data files were carried (hardlink preserves mtime), not rewritten
    mtime_after = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _d, fs in os.walk(g_dir) for f in fs if not f.startswith(("_", "."))
    )
    assert mtime_after == mtime_before
    g = sink.read_history().where(F.col("tbl") == "gadgets").collect()
    assert [(r["id"], r["valid_from"], r["valid_to"]) for r in g] == [("9", 2, None)]
    w1 = sorted(
        (r["id"], r["valid_from"], r["valid_to"])
        for r in sink.read_history().where(F.col("tbl") == "widgets").collect()
    )
    assert w1 == [("1", 1, 3), ("1", 3, None), ("2", 4, None)]


def test_history_sink_drops_error_rows_from_intervals(spark, tmp_path):
    """op='error' rows must never enter the lead() window: without the
    filter, an error row would close the key's live upsert interval at the
    error's seq and read_state would silently drop the key (r3 review
    finding)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink

    hist = str(tmp_path / "hist")
    rows = [
        ("upsert", "w", "1", '{"v":"a"}', None, None, None, 1),
        ("error", "w", "1", None, None, None, None, 2),  # in-band error (R20)
        ("upsert", "w", "2", '{"v":"b"}', None, None, None, 3),
    ]
    sink = HistorySink(spark, hist)  # errors_path=None: errors dropped
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)
    h = {(r["id"], r["valid_from"], r["valid_to"]) for r in sink.read_history().collect()}
    assert h == {("1", 1, None), ("2", 3, None)}  # id=1 still current/open
    assert {r["id"] for r in sink.read_state().collect()} == {"1", "2"}


def test_compact_files_preserves_numeric_looking_table_names(spark, tmp_path):
    """compact_files must pin the envelope schema through the rewrite:
    unpinned partition-value inference re-types tbl='007' to int 7 and
    rewrites the dir as tbl=7, silently splitting keys (r3 review finding,
    confirmed by repro before the fix)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "state")
    sink = MergeSink(spark, state)
    rows = [
        ("upsert", "007", "1", '{"v":"bond"}', None, None, None, 1),
        ("upsert", "2024-01-01", "2", '{"v":"date"}', None, None, None, 2),
    ]
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)
    sink.compact_files()
    dirs = sorted(d for d in os.listdir(state) if d.startswith("tbl="))
    assert dirs == ["tbl=007", "tbl=2024-01-01"]
    got = {(r["tbl"], r["id"]) for r in sink.read_state().collect()}
    assert got == {("007", "1"), ("2024-01-01", "2")}


def test_merge_sink_recovers_from_crash_mid_compaction(spark, tmp_path):
    """A crash between compact_small_files' two swap renames leaves state
    only in .compact-bak. The sink's _recover must restore it — otherwise
    the next stream restart folds into EMPTY state and a later compaction
    deletes the only backup (r3 review finding)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "state")
    sink = MergeSink(spark, state)
    rows = [("upsert", "w", "1", '{"v":"a"}', None, None, None, 1)]
    sink(spark.createDataFrame(rows, ENVELOPE_SCHEMA), 0)

    # simulate the torn compaction swap: state moved aside, new dir never landed
    os.rename(state, state + ".compact-bak")
    assert not os.path.exists(state)

    # ANY sink read/fold must restore from the compaction backup first
    got = {r["id"] for r in sink.read_state().collect()}
    assert got == {"1"}
    assert os.path.exists(state) and not os.path.exists(state + ".compact-bak")

    # and the next micro-batch folds into the RESTORED state, not empty
    sink(spark.createDataFrame(
        [("upsert", "w", "2", '{"v":"b"}', None, None, None, 2)], ENVELOPE_SCHEMA), 1)
    got2 = {r["id"] for r in sink.read_state().collect()}
    assert got2 == {"1", "2"}


def test_merge_sink_stale_bak_does_not_mask_newer_compact_bak(spark, tmp_path):
    """r3 advice regression: a stale .bak (crash between _commit's final
    rename and its rmtree) followed by a torn compaction swap must restore
    the NEWER .compact-bak, not the older .bak — restoring the older one
    silently drops every batch committed between the two crashes. Also: a
    backup that coexists with state is stale by construction and must be
    deleted, and leftover .compact-tmp staging dirs are cleaned."""
    import shutil
    import time as _time

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink

    state = str(tmp_path / "sb_state")
    sink = MergeSink(spark, state)

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "w", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    sink(batch([up(1, 1)]), 0)
    v1 = str(tmp_path / "v1_copy")
    shutil.copytree(state, v1)  # sideline the v1 state for the stale backup
    sink(batch([up(2, 2)]), 1)  # state is now v2 (ids 1,2)

    # crash #1 (in _commit of batch 1, after the final rename, before the
    # rmtree) left a stale .bak holding ONLY v1; crash #2 (torn compaction)
    # then moved v2 aside into .compact-bak and left a .compact-tmp staging
    # dir. State is absent; the only full copy is the NEWER .compact-bak.
    shutil.copytree(v1, state + ".bak")
    old = _time.time() - 100
    os.utime(state + ".bak", (old, old))
    os.rename(state, state + ".compact-bak")
    os.makedirs(state + ".compact-tmp")

    got = sorted(r["id"] for r in sink.read_state().collect())
    assert got == ["1", "2"]  # the NEWER backup won; id=2 not silently dropped
    assert not os.path.exists(state + ".bak")
    assert not os.path.exists(state + ".compact-bak")
    assert not os.path.exists(state + ".compact-tmp")

    # and a backup that coexists with state is stale by construction: deleted
    shutil.copytree(v1, state + ".bak")
    sink(batch([up(3, 3)]), 2)
    assert not os.path.exists(state + ".bak")
    assert sorted(r["id"] for r in sink.read_state().collect()) == ["1", "2", "3"]


def test_streaming_ohlc_bars_with_watermark(spark, tmp_path):
    """The streaming twin of rollup_ohlc: min_by/max_by on the (ts, event_id)
    tick order under a tumbling window + watermark. maxFilesPerTrigger=1
    forces the two files into SEPARATE micro-batches, with the event-time-
    earliest tick arriving in the second batch — so the final bar is only
    right if the state store's partial-aggregate merge picks open/close by
    EVENT TIME, not arrival order (the property that makes the aggregate
    safe under Structured Streaming's unordered delivery)."""
    src = str(tmp_path / "ohlc_src")
    write_events(src, [
        {"ts": "2026-01-01T00:02:00Z", "k": "x", "event_id": 2, "value": 50.0},
        {"ts": "2026-01-01T00:04:00Z", "k": "x", "event_id": 4, "value": 10.0},
    ], file_name="b0.json")
    # second file: an event-time EARLIER tick (00:01) and a LATER one
    # (00:04:30) arrive in a later micro-batch
    write_events(src, [
        {"ts": "2026-01-01T00:01:00Z", "k": "x", "event_id": 1, "value": 99.0},
        {"ts": "2026-01-01T00:04:30Z", "k": "x", "event_id": 5, "value": 70.0},
    ], file_name="b1.json")
    stream = (
        spark.readStream.schema("ts timestamp, k string, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(F.col("w.start").alias("w_start"), "k", "open", "high", "low", "close", "n_ticks")
    )
    q = (
        stream.writeStream.format("memory").queryName("ohlc_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert q.lastProgress is not None  # at least one batch ran
    r = spark.sql("SELECT * FROM ohlc_test").collect()
    assert len(r) == 1
    bar = r[0]
    assert str(bar["w_start"]) == "2026-01-01 00:00:00"
    # open = event-time-first tick (00:01 value 99), close = 00:04:30 value 70
    assert bar["open"] == 99.0 and bar["close"] == 70.0
    assert bar["high"] == 99.0 and bar["low"] == 10.0 and bar["n_ticks"] == 4


def test_streaming_quantile_sketch_partials_merge(spark, tmp_path):
    """Streaming twin of agg_quantile_mergeable: the fixed-bin histogram is
    a streaming-safe aggregate (count per (event_type, bin) commutes with
    micro-batching), so the state-store-merged bins after two out-of-order
    micro-batches must equal the single-pass batch histogram over the union
    — the same losslessness the batch test pins, here across the
    Structured Streaming state path."""
    src = str(tmp_path / "qs_src")
    b0 = [
        {"ts": "2026-01-01T00:01:00Z", "k": "a", "value": 3.0},
        {"ts": "2026-01-01T00:02:00Z", "k": "a", "value": 7.0},
        {"ts": "2026-01-01T00:03:00Z", "k": "b", "value": 12.0},
    ]
    b1 = [
        {"ts": "2026-01-01T00:01:30Z", "k": "a", "value": 4.0},   # same bin as 3.0
        {"ts": "2026-01-01T00:00:30Z", "k": "b", "value": 497.0},  # clamped bin 99
    ]
    write_events(src, b0, file_name="b0.json")
    write_events(src, b1, file_name="b1.json")
    from dumpr_spark.functions.sketches import bin_index

    bin_col = bin_index("value", 5.0, 100)
    streamed = (
        spark.readStream.schema("ts timestamp, k string, value double")
        .option("maxFilesPerTrigger", 1)  # force two micro-batches
        .json(src)
        .withWatermark("ts", "10 minutes")
        .groupBy("k", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        streamed.writeStream.format("memory").queryName("qsketch_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["bin"]): r["c"]
        for r in spark.sql("SELECT * FROM qsketch_test").collect()
    }
    # 3.0, 4.0 -> bin 0; 7.0 -> bin 1; 12.0 -> bin 2; 497.0 -> clamped bin 99
    expected = {("a", 0): 2, ("a", 1): 1, ("b", 2): 1, ("b", 99): 1}
    batch = spark.createDataFrame(
        [(e["k"], e["value"]) for e in b0 + b1], "k string, value double"
    ).groupBy("k", bin_col.alias("bin")).agg(F.count(F.lit(1)).alias("c"))
    assert {(r["k"], r["bin"]): r["c"] for r in batch.collect()} == expected
    assert got == expected


def test_streaming_rollup_quantiles_from_persisted_bins(spark, tmp_path):
    """Continuous-aggregate percentiles: a bins-enabled minute rollup is
    maintained incrementally (second batch revises a window the first
    already persisted), then hour-grain p50/p95 are read from the PERSISTED
    histogram vectors alone — and must equal the reference computed from
    the raw union, because window recomputation is total and sketch merge
    is lossless. No raw event is re-read on the query path."""
    from dumpr_spark.streaming.rollup import (
        read_rollup,
        read_rollup_quantiles,
        start_rollup_stream,
    )
    from tests.sketch_ref import ref_quantile as _ref_quantile

    src = str(tmp_path / "ev")
    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).json(src)
        q, sink = start_rollup_stream(spark, stream, state, ckpt, with_bins=True)
        q.awaitTermination(120)
        return sink

    b0 = [
        {"ts": "2026-01-01T00:01:10Z", "event_type": "click", "value": 1.0},
        {"ts": "2026-01-01T00:01:40Z", "event_type": "click", "value": 12.0},
        {"ts": "2026-01-01T00:02:05Z", "event_type": "click", "value": 33.0},
        {"ts": "2026-01-01T00:02:30Z", "event_type": "view", "value": 7.0},
    ]
    write_events(src, b0)
    run()
    b1 = [  # revises the 00:01 click window and extends 00:02
        {"ts": "2026-01-01T00:01:55Z", "event_type": "click", "value": 49.0},
        {"ts": "2026-01-01T00:02:45Z", "event_type": "view", "value": 488.0},
    ]
    write_events(src, b1, file_name="part-001.json")
    sink = run()

    got = {
        (r["event_type"], str(r["bucket"]), r["q"]): r["est"]
        for r in read_rollup_quantiles(sink, [0.5, 0.95], grain="hour").collect()
    }

    union = b0 + b1
    for etype in ("click", "view"):
        vals = [e["value"] for e in union if e["event_type"] == etype]
        for q in (0.5, 0.95):
            key = (etype, "2026-01-01 00:00:00", q)
            assert got[key] == pytest.approx(_ref_quantile(vals, q), abs=1e-9), key

    # plain counts still read back alongside the sketch columns
    hour = {(r["event_type"], str(r["bucket"])): r["n"]
            for r in read_rollup(sink, "hour").collect()}
    assert hour == {("click", "2026-01-01 00:00:00"): 4,
                    ("view", "2026-01-01 00:00:00"): 2}


def test_streaming_rollup_distinct_from_persisted_sketches(spark, tmp_path):
    """Continuous-aggregate distinct counts: an HLL-enabled rollup persists
    a per-minute user sketch; hour-grain distincts come from unioning the
    PERSISTED sketches (never re-reading events) and must equal the exact
    distinct count here (small cardinalities stay in the sketch's exact
    small-count mode). A user appearing in several minutes must count once
    at hour grain — the property a per-minute COUNT(DISTINCT) sum gets
    wrong and sketch union gets right."""
    from dumpr_spark.streaming.rollup import (
        read_rollup_distinct,
        start_rollup_stream,
    )

    src = str(tmp_path / "ev")
    state = str(tmp_path / "rollup_state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(
            "ts timestamp, event_type string, value double, user_id long"
        ).json(src)
        q, sink = start_rollup_stream(
            spark, stream, state, ckpt, distinct_col="user_id"
        )
        q.awaitTermination(120)
        return sink

    write_events(src, [
        {"ts": "2026-01-01T00:01:10Z", "event_type": "click", "value": 1.0, "user_id": 1},
        {"ts": "2026-01-01T00:01:40Z", "event_type": "click", "value": 2.0, "user_id": 2},
        {"ts": "2026-01-01T00:02:05Z", "event_type": "click", "value": 3.0, "user_id": 1},
    ])
    run()
    write_events(src, [  # revision: user 3 joins the 00:01 window; user 1 again at 00:03
        {"ts": "2026-01-01T00:01:55Z", "event_type": "click", "value": 4.0, "user_id": 3},
        {"ts": "2026-01-01T00:03:20Z", "event_type": "click", "value": 5.0, "user_id": 1},
    ], file_name="part-001.json")
    sink = run()

    minute = {
        str(r["bucket"]): r["est_distinct"]
        for r in read_rollup_distinct(sink, "minute").collect()
    }
    assert minute == {
        "2026-01-01 00:01:00": 3,  # users 1,2,3 after the revision
        "2026-01-01 00:02:00": 1,
        "2026-01-01 00:03:00": 1,
    }
    hour = {
        str(r["bucket"]): r["est_distinct"]
        for r in read_rollup_distinct(sink, "hour").collect()
    }
    # users {1,2,3}: 1 appears in three minutes but counts once
    assert hour == {"2026-01-01 00:00:00": 3}


def test_rollup_quantiles_empty_state_returns_empty(spark, tmp_path):
    """A reader polling quantiles before any micro-batch commits must get an
    EMPTY result, not a width-probe error (the ValueError is reserved for
    genuinely mixed persisted widths / missing-width legacy state)."""
    import os

    from dumpr_spark.streaming.rollup import read_rollup_quantiles, start_rollup_stream

    src = str(tmp_path / "ev")
    os.makedirs(src, exist_ok=True)  # source exists but holds no files yet
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).json(src)
    q, sink = start_rollup_stream(
        spark, stream, str(tmp_path / "state"), str(tmp_path / "ckpt"), with_bins=True
    )
    q.awaitTermination(120)
    assert read_rollup_quantiles(sink, [0.5]).count() == 0


def test_streaming_heavy_hitters_misra_gries(spark, tmp_path):
    """Bounded-memory streaming heavy hitters: two micro-batches of a
    heavy-plus-tail stream through Misra-Gries state. The final summary
    must (a) hold at most k counters despite 22 distinct keys, (b) contain
    every key whose true count exceeds n/(k+1), and (c) never overcount —
    stored counts are lower bounds within n/(k+1) of truth."""
    from dumpr_spark.streaming.state import streaming_heavy_hitters_mg

    src = str(tmp_path / "hh_src")
    # batch 0: 30x hot1, 14x hot2, tail t0..t9 once each
    b0 = [{"seq": i, "key": "hot1"} for i in range(30)]
    b0 += [{"seq": 100 + i, "key": "hot2"} for i in range(14)]
    b0 += [{"seq": 200 + i, "key": f"t{i}"} for i in range(10)]
    # batch 1: 20x hot1, 16x hot2, tail t10..t21 once each
    b1 = [{"seq": 300 + i, "key": "hot1"} for i in range(20)]
    b1 += [{"seq": 400 + i, "key": "hot2"} for i in range(16)]
    b1 += [{"seq": 500 + i, "key": f"t{10 + i}"} for i in range(12)]
    write_events(src, b0, file_name="b0.json")
    write_events(src, b1, file_name="b1.json")

    k = 8
    stream = spark.readStream.schema("seq long, key string").option(
        "maxFilesPerTrigger", 1
    ).json(src)
    q = (
        streaming_heavy_hitters_mg(stream, key_col="key", k=k, shards=1)
        .writeStream.format("memory").queryName("mg_test")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT * FROM mg_test WHERE n_seen = (SELECT MAX(n_seen) FROM mg_test)"
    ).collect()
    n_total = len(b0) + len(b1)
    assert rows and rows[0]["n_seen"] == n_total
    summary = {r["key"]: r["count_lb"] for r in rows}
    true = {"hot1": 50, "hot2": 30, **{f"t{i}": 1 for i in range(22)}}

    assert len(summary) <= k                                   # (a) bounded
    bound = n_total / (k + 1)
    for key, cnt in true.items():
        if cnt > bound:
            assert key in summary, (key, summary)              # (b) no heavy miss
    for key, lb in summary.items():
        assert lb <= true[key]                                 # (c) lower bound...
        assert lb >= true[key] - bound                         # ...within n/(k+1)


def test_streaming_heavy_hitters_sharded_union(spark, tmp_path):
    """Sharded MG: with 4 parallel shards each key lands wholly in one
    shard, so the union of per-shard summaries still surfaces every heavy
    key (mergeable-summaries shape — disjoint domains union trivially)."""
    from dumpr_spark.streaming.state import streaming_heavy_hitters_mg

    src = str(tmp_path / "hh4_src")
    rows = [{"seq": i, "key": "hot1"} for i in range(40)]
    rows += [{"seq": 100 + i, "key": "hot2"} for i in range(25)]
    rows += [{"seq": 200 + i, "key": f"t{i}"} for i in range(15)]
    write_events(src, rows)
    stream = spark.readStream.schema("seq long, key string").json(src)
    q = (
        streaming_heavy_hitters_mg(stream, key_col="key", k=4, shards=4)
        .writeStream.format("memory").queryName("mg4_test")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT shard, key, count_lb FROM mg4_test").collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["key"], set()).add(r["shard"])
    assert "hot1" in by_key and "hot2" in by_key
    # a key never spans shards (hash-sharded)
    assert all(len(shards) == 1 for shards in by_key.values())
    # no shard holds more than k counters
    from collections import Counter

    per_shard = Counter(r["shard"] for r in got)
    assert max(per_shard.values()) <= 4


def test_streaming_heavy_hitters_resume_from_checkpoint(spark, tmp_path):
    """MG counters must survive a query restart: batch 0 runs under a
    checkpoint, the query stops, batch 1 arrives, and a NEW query on the
    same checkpoint resumes the state store — the final summary must equal
    the pure one-shot fold of both batches (mg_fold is the reference),
    proving the counters persisted rather than restarting from zero."""
    from dumpr_spark.streaming.state import mg_fold, streaming_heavy_hitters_mg

    src = str(tmp_path / "hhr_src")
    ckpt = str(tmp_path / "hhr_ckpt")
    b0 = [{"seq": i, "key": "hot1"} for i in range(20)]
    b0 += [{"seq": 100 + i, "key": f"t{i}"} for i in range(6)]
    b1 = [{"seq": 200 + i, "key": "hot1"} for i in range(10)]
    b1 += [{"seq": 300 + i, "key": "hot2"} for i in range(12)]

    def run():
        emitted = []
        stream = spark.readStream.schema("seq long, key string").json(src)
        q = (
            streaming_heavy_hitters_mg(stream, key_col="key", k=4, shards=1)
            .writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)  # memory sink can't recover; foreachBatch can
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return emitted

    write_events(src, b0, file_name="b0.json")
    run()
    write_events(src, b1, file_name="b1.json")
    emitted = run()  # resumes state; processes ONLY b1

    max_n = max(r["n_seen"] for r in emitted)
    rows = [r for r in emitted if r["n_seen"] == max_n]
    stream_summary = {r["key"]: r["count_lb"] for r in rows}
    expected, n = mg_fold({}, [e["key"] for e in b0 + b1], 4)
    assert rows and rows[0]["n_seen"] == n == len(b0) + len(b1)
    assert stream_summary == expected


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER join: an unmatched left row may only emit its
    null-extended result once BOTH watermarks pass its join window (before
    that the engine must hold it in state — a match could still arrive).
    maxFilesPerTrigger=1 forces multiple micro-batches so the watermark
    actually advances mid-query instead of jumping once at the end."""
    imp_src = str(tmp_path / "lo_imp")
    clk_src = str(tmp_path / "lo_clk")
    write_events(imp_src, [
        {"ts": "2026-01-01T00:00:00Z", "ad": "a1"},
        {"ts": "2026-01-01T00:10:00Z", "ad": "a2"},   # never clicked
    ], file_name="f0.json")
    write_events(imp_src, [
        {"ts": "2026-01-01T06:00:00Z", "ad": "a9"},   # watermark advancer
    ], file_name="f1.json")
    write_events(clk_src, [
        {"cts": "2026-01-01T00:30:00Z", "ad": "a1"},
    ], file_name="f0.json")
    write_events(clk_src, [
        {"cts": "2026-01-01T06:00:00Z", "ad": "a9"},  # advances click watermark
    ], file_name="f1.json")
    imps = (
        spark.readStream.schema("ts timestamp, ad string")
        .option("maxFilesPerTrigger", 1).json(imp_src)
        .withWatermark("ts", "1 hour")
    )
    clicks = (
        spark.readStream.schema("cts timestamp, ad string")
        .option("maxFilesPerTrigger", 1).json(clk_src)
        .withWatermark("cts", "1 hour")
        .withColumnRenamed("ad", "c_ad")
    )
    joined = imps.join(
        clicks,
        (F.col("ad") == F.col("c_ad"))
        & (F.col("cts") >= F.col("ts"))
        & (F.col("cts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select("ad", "ts", "cts")
    q = (
        joined.writeStream.format("memory").queryName("lo_join_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {r["ad"]: r["cts"] for r in spark.sql("SELECT ad, cts FROM lo_join_test").collect()}
    assert got["a1"] is not None          # matched within the hour
    assert got["a9"] is not None          # advancer matched itself
    assert "a2" in got and got["a2"] is None   # expired unmatched -> null-extended row


def test_drop_duplicates_within_watermark_evicts_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark is the bounded-state streaming dedup:
    a duplicate inside the watermark horizon is dropped, but once the
    watermark passes, the key's state is EVICTED and a later recurrence
    emits again — unlike plain dropDuplicates, whose state (and memory)
    grows with the key domain forever. This eviction is what makes exact
    streaming dedup viable over an unbounded key stream at 100 TB."""
    src = str(tmp_path / "ddww_src")
    write_events(src, [
        {"ts": "2026-01-01T00:00:00Z", "k": "A"},
        {"ts": "2026-01-01T00:05:00Z", "k": "A"},   # dup within horizon -> dropped
    ], file_name="f0.json")
    write_events(src, [
        {"ts": "2026-01-01T02:00:00Z", "k": "B"},   # advances watermark past A's horizon
    ], file_name="f1.json")
    write_events(src, [
        {"ts": "2026-01-01T04:00:00Z", "k": "C"},   # extra batch: eviction is applied lazily
    ], file_name="f2.json")
    write_events(src, [
        {"ts": "2026-01-01T04:10:00Z", "k": "A"},   # A's state evicted -> emits again
    ], file_name="f3.json")
    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", 1).json(src)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory").queryName("ddww_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["k"], str(r["ts"])) for r in spark.sql("SELECT k, ts FROM ddww_test").collect()
    )
    ks = [k for k, _ in got]
    assert ks == ["A", "A", "B", "C"]     # A emitted twice (pre- and post-eviction), dup dropped
    assert ("A", "2026-01-01 00:05:00") not in got


def test_pyds_wire_sink_roundtrip_and_replay_idempotence(spark, tmp_path):
    """Full wire-boundary loop through registered Spark sources: the
    dumpr_cdc reader ingests the event feed, the envelope is adapted to
    Debezium-wire JSON, and the dumpr_cdc STREAM WRITER publishes it as
    batch-id-named JSONL — which the Debezium ingest adapter then re-reads
    to the same entities. A replayed commit (same batchId) is a no-op, so
    checkpoint replay cannot duplicate wire records."""
    from dumpr_spark.sources.cdc_json import (
        changes_to_debezium, debezium_to_changes, events_to_changes,
        parse_debezium_lines,
    )
    from dumpr_spark.sources.pyds import CdcFeedDataSource, CdcWireStreamWriter, _WireCommit

    spark.dataSource.register(CdcFeedDataSource)
    src = str(tmp_path / "wire_src")
    out = str(tmp_path / "wire_out")
    ckpt = str(tmp_path / "wire_ckpt")
    write_events(src, [
        {"event_type": "write", "db": "s", "tbl": "w", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": "1", "v": "a"}], "seq": 1},
        {"event_type": "delete", "db": "s", "tbl": "w", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "1", "v": "a"}], "seq": 2},
    ])
    events = spark.readStream.format("dumpr_cdc").option("path", src).load()
    wire = changes_to_debezium(events_to_changes(events, {"w": "id"}), db="s")
    q = (
        wire.writeStream.format("dumpr_cdc").option("path", out)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    import glob

    files = sorted(glob.glob(out + "/batch-*.jsonl"))
    assert len(files) == 1 and "_tmp" not in files[0]
    back = debezium_to_changes(
        parse_debezium_lines(spark.read.text(files[0])), id_cols={"w": "id"}
    )
    rows = sorted(back.collect(), key=lambda r: r["seq"])
    assert [r["op"] for r in rows] == ["upsert", "delete"]
    assert [r["tbl"] for r in rows] == ["w", "w"]
    assert [r["id"] for r in rows] == ["1", "1"]  # entity identity survives the wire

    # replayed commit with the same batchId: exactly-once no-op
    import json
    import os

    w = CdcWireStreamWriter({"path": out})
    batch_id = int(files[0].split("batch-")[1].split(".")[0])
    # temps are namespaced per writer run (_tmp/<run_id>/): commit sweeps
    # only its own subtree, so the replay temp goes in THIS writer's dir
    dup = os.path.join(out, "_tmp", w.run_id, "replay.jsonl")
    os.makedirs(os.path.dirname(dup), exist_ok=True)
    with open(dup, "w") as f:
        f.write(json.dumps({"payload": None}) + "\n")
    before = open(files[0]).read()
    w.commit([_WireCommit(tmp_path=dup, n_rows=1)], batch_id)
    assert open(files[0]).read() == before          # content untouched
    assert not os.path.exists(dup)                  # temp cleaned either way


def test_streaming_gapfill_matches_batch_twin(spark, tmp_path):
    """Streaming LOCF gap-fill == the batch events_gapfill query on the same
    (in-order) data, fed across three micro-batches: gap hours emit with the
    carried value the moment a later observation closes them, and state per
    entity stays two scalars."""
    import pandas as pd

    from dumpr_spark.streaming.state import streaming_gapfill_locf

    evs = [  # (event_id, iso_ts, user_id, value) — per-user in-order
        (1, "2026-01-01T00:10:00Z", 1, 10.0),
        (2, "2026-01-01T01:20:00Z", 2, 5.0),
        (3, "2026-01-01T03:05:00Z", 1, 30.0),   # user 1: gap at 01:00, 02:00
        (4, "2026-01-01T03:40:00Z", 2, 7.5),    # user 2: gap at 02:00
        (5, "2026-01-01T04:30:00Z", 1, 40.0),   # no gap
        (6, "2026-01-01T06:00:00Z", 2, 9.0),    # gaps at 04:00, 05:00
    ]
    batches = [evs[:2], evs[2:4], evs[4:]]
    src = str(tmp_path / "gf_src")
    import time

    now = time.time()
    for i, chunk in enumerate(batches):
        write_events(src, [
            {"event_id": e, "ts": ts, "user_id": u, "value": v}
            for e, ts, u, v in chunk
        ], file_name=f"b{i}.json")
        # distinct mtimes: the file source orders ties arbitrarily, and the
        # in-order contract would (correctly) drop a batch delivered late
        os.utime(os.path.join(src, f"b{i}.json"), (now + i, now + i))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        streaming_gapfill_locf(stream)
        .writeStream.format("memory").queryName("gf_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["h"]): (round(r["value_filled"], 4), r["is_gap"])
        for r in spark.sql("SELECT * FROM gf_stream").collect()
    }

    # batch twin over the identical events written as an events.parquet table
    sf = str(tmp_path / "gf_sf")
    os.makedirs(sf)
    pd.DataFrame(
        [
            (e, pd.Timestamp(ts).tz_localize(None), u, "t", v, "{}")
            for e, ts, u, v in [(e, ts.replace("Z", ""), u, v) for e, ts, u, v in evs]
        ],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).to_parquet(sf + "/events.parquet")
    from dumpr_spark.queries import REGISTRY

    want = {
        (r["user_id"], int(r["h"].timestamp())): (round(r["value_filled"], 4), r["is_gap"])
        for r in REGISTRY["events_gapfill"].fn(spark, sf).collect()
    }
    assert got == want
    # sanity: the gaps are where the scenario says they are
    assert got[(1, int(pd.Timestamp("2026-01-01T01:00:00").timestamp()))] == (10.0, True)
    assert got[(2, int(pd.Timestamp("2026-01-01T05:00:00").timestamp()))] == (7.5, True)


def test_streaming_interval_merge_matches_batch_twin(spark, tmp_path):
    """Streaming interval coalescing == the batch merge_intervals operator
    on the same (in-order) data across three micro-batches: an island is
    emitted the moment a later interval proves it closed, cross-batch
    merges extend the open island (including backwards while unpublished),
    and the final still-open island stays in state (documented append-mode
    contract)."""
    import json as _json
    import time

    ivs = [  # (user_id, s, e) — per-user nondecreasing starts across batches
        (1, 0, 10),
        (2, 100, 110),
        (1, 5, 20),      # merges with (0,10) -> open island (0,20) n=2
        (2, 120, 130),   # s>110: publishes (100,110,1), opens (120,130)
        (1, 40, 50),     # s>20: publishes (0,20,2), opens (40,50)
        (2, 125, 140),   # overlaps: open island (120,140) n=2 (never closes)
        (1, 50, 60),     # touching: merges (closed-interval) -> (40,60) n=2
        (1, 90, 95),     # publishes (40,60,2); (90,95) stays open
    ]
    batches = [ivs[:2], ivs[2:5], ivs[5:]]
    src = str(tmp_path / "iv_src")
    os.makedirs(src)
    now = time.time()
    for i, chunk in enumerate(batches):
        fp = os.path.join(src, f"b{i}.json")
        with open(fp, "w") as f:
            for u, s, e in chunk:
                f.write(_json.dumps({"user_id": u, "s": s, "e": e}) + "\n")
        os.utime(fp, (now + i, now + i))

    from dumpr_spark.streaming.state import streaming_interval_merge

    stream = (
        spark.readStream.schema("user_id long, s long, e long")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        streaming_interval_merge(stream)
        .writeStream.format("memory").queryName("iv_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["key"], r["merged_start"]): (r["merged_end"], r["n_intervals"])
        for r in spark.sql("SELECT * FROM iv_stream").collect()
    }
    assert got == {
        (1, 0): (20, 2),
        (1, 40): (60, 2),
        (2, 100): (110, 1),
    }  # (1, 90..95) and (2, 120..140) are still open: correctly unpublished

    # batch twin on the full data: the closed islands match, plus the opens
    from dumpr_spark.operators.intervals import merge_intervals

    df = spark.createDataFrame(ivs, "user_id long, s long, e long")
    want = {
        (r["user_id"], r["merged_start"]): (r["merged_end"], r["n_intervals"])
        for r in merge_intervals(df, ["user_id"], "s", "e").collect()
    }
    assert want == {**got, (1, 90): (95, 1), (2, 120): (140, 2)}


def test_streaming_interval_merge_state_survives_restart(spark, tmp_path):
    """The open island must survive a query restart: batch 0 opens island
    (0,20) under a checkpoint, the query STOPS, batch 1 arrives with an
    interval that first EXTENDS the restored island and a later one that
    closes it — a fresh query on the same checkpoint must publish the
    fully-merged (0,25,3), proving the state store carried (start, end, n)
    across the restart instead of reopening from scratch."""
    import json as _json
    import time

    from dumpr_spark.streaming.state import streaming_interval_merge

    src = str(tmp_path / "ivr_src")
    ckpt = str(tmp_path / "ivr_ckpt")
    os.makedirs(src)

    def write_batch(name, rows, mtime):
        fp = os.path.join(src, name)
        with open(fp, "w") as f:
            for u, s, e in rows:
                f.write(_json.dumps({"user_id": u, "s": s, "e": e}) + "\n")
        os.utime(fp, (mtime, mtime))

    def run():
        emitted = []
        stream = (
            spark.readStream.schema("user_id long, s long, e long")
            .option("maxFilesPerTrigger", 1).json(src)
        )
        q = (
            streaming_interval_merge(stream)
            .writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .option("checkpointLocation", ckpt)  # memory sink can't recover; foreachBatch can
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        return emitted

    now = time.time()
    write_batch("b0.json", [(1, 0, 10), (1, 5, 20)], now)
    assert run() == []  # island (0,20,2) open in state, nothing published
    write_batch("b1.json", [(1, 18, 25), (1, 100, 110)], now + 1)
    emitted = run()  # restored island extends to (0,25,3), then (100,..) closes it
    got = [
        (r["key"], r["merged_start"], r["merged_end"], r["n_intervals"])
        for r in emitted
    ]
    assert got == [(1, 0, 25, 3)]


def test_streaming_interval_merge_fence_types_and_nulls(spark, tmp_path):
    """Review-finding pins for the streaming interval merge contract:
    (a) a late interval straddling a PUBLISHED island drops instead of
    merging (merging would emit output overlapping an already-published
    interval, which append mode cannot retract); (b) the key column's
    type passes through (string keys work); (c) null-bounded intervals
    drop before the fold; (d) non-integer start/end is rejected at build
    time with a unit hint."""
    import json as _json
    import time

    import pytest as _pytest

    from dumpr_spark.streaming.state import streaming_interval_merge

    src = str(tmp_path / "fence_src")
    os.makedirs(src)
    now = time.time()
    b0 = [("sym", 0, 20), ("sym", 40, 60)]          # publishes (0,20)
    b1 = [("sym", 10, 45), ("sym", None, 70), ("sym", 100, 110)]
    # (10,45) straddles published (0,20): must DROP, so the open island
    # stays (40,60) and is published unchanged when (100,110) closes it;
    # the null-start row drops silently
    for i, chunk in enumerate([b0, b1]):
        fp = os.path.join(src, f"b{i}.json")
        with open(fp, "w") as f:
            for k, s_, e_ in chunk:
                f.write(_json.dumps({"sym": k, "s": s_, "e": e_}) + "\n")
        os.utime(fp, (now + i, now + i))

    stream = (
        spark.readStream.schema("sym string, s long, e long")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        streaming_interval_merge(stream, key_col="sym")
        .writeStream.format("memory").queryName("fence_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = [
        (r["key"], r["merged_start"], r["merged_end"], r["n_intervals"])
        for r in spark.sql("SELECT * FROM fence_stream ORDER BY merged_start").collect()
    ]
    assert got == [("sym", 0, 20, 1), ("sym", 40, 60, 1)]

    # (d) timestamp start/end rejected with the unix_millis hint
    ts_df = spark.createDataFrame(
        [("a",)], "k string"
    ).select("k", F.current_timestamp().alias("s"), F.current_timestamp().alias("e"))
    with _pytest.raises(TypeError, match="unix_millis"):
        streaming_interval_merge(ts_df, key_col="k")


def test_streaming_interval_merge_out_of_order_below_open_island(spark, tmp_path):
    """Advisor-found corruption pin: a cross-batch arrival strictly
    DISJOINT BELOW the open island must NOT merge into it. Key 1: batch 0
    opens (100,110) with no published fence, batch 1 brings (50,60) —
    the broken merge branch produced state (50,110,2); correct behavior
    emits (50,60,1) as its own closed island (the open island proves it
    closed) and leaves (100,110) untouched, matching the batch twin.
    Key 2 exercises the same path WITH a fence already published below,
    and checks the fence advances monotonically: after emitting (50,60)
    the fence is 60, so a later (55,58) drops as late."""
    import json as _json
    import time

    from dumpr_spark.operators.intervals import merge_intervals
    from dumpr_spark.streaming.state import streaming_interval_merge

    src = str(tmp_path / "ooo_src")
    os.makedirs(src)
    now = time.time()
    b0 = [(1, 100, 110), (2, 0, 10), (2, 100, 110)]  # key2 publishes (0,10)
    b1 = [(1, 50, 60), (2, 50, 60)]   # disjoint below each open island
    b2 = [(1, 55, 58), (2, 55, 58)]   # at-or-below the advanced fence: drop
    b3 = [(1, 200, 210), (2, 200, 210)]  # closes the (100,110) islands
    for i, chunk in enumerate([b0, b1, b2, b3]):
        fp = os.path.join(src, f"b{i}.json")
        with open(fp, "w") as f:
            for u, s_, e_ in chunk:
                f.write(_json.dumps({"user_id": u, "s": s_, "e": e_}) + "\n")
        os.utime(fp, (now + i, now + i))

    stream = (
        spark.readStream.schema("user_id long, s long, e long")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        streaming_interval_merge(stream)
        .writeStream.format("memory").queryName("ooo_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["key"], r["merged_start"]): (r["merged_end"], r["n_intervals"])
        for r in spark.sql("SELECT * FROM ooo_stream").collect()
    }
    assert got == {
        (1, 50): (60, 1),
        (1, 100): (110, 1),
        (2, 0): (10, 1),
        (2, 50): (60, 1),
        (2, 100): (110, 1),
    }  # (55,58) dropped late on both keys; (200,210) still open

    # batch twin agreement on everything except the documented divergences:
    # still-open islands and fence-dropped late rows ((55,58) merges into
    # (50,60) in batch — n_intervals differs by design; spans agree)
    all_rows = [r for ch in [b0, b1, b2, b3] for r in ch]
    df = spark.createDataFrame(all_rows, "user_id long, s long, e long")
    want_spans = {
        (r["user_id"], r["merged_start"]): r["merged_end"]
        for r in merge_intervals(df, ["user_id"], "s", "e").collect()
    }
    for (k, s_), (e_, _n) in got.items():
        assert want_spans[(k, s_)] == e_


def test_streaming_asof_enrich_matches_batch_twin(spark, tmp_path):
    """Streaming as-of enrichment == the batch asof_join on the same
    per-key-in-order data split across three micro-batches: each trade
    gets the latest quote with quote_time <= trade_time, the carried
    quote survives micro-batch boundaries in state, a trade before any
    quote enriches NULL, and an exact-timestamp quote wins (<=)."""
    import json as _json
    import time

    from dumpr_spark.operators.asof import asof_join
    from dumpr_spark.streaming.asof import streaming_asof_enrich

    quotes = [  # (sym, q_t, px)
        ("A", 10, 1.0), ("B", 5, 9.0),
        ("A", 20, 2.0),
        ("A", 30, 3.0), ("B", 40, 8.0),
    ]
    trades = [  # (sym, t_t, qty)
        ("A", 5, 100),            # before any A quote -> NULL px
        ("A", 10, 110),           # exact match -> 1.0
        ("A", 25, 120),           # latest <= 25 is (20, 2.0)
        ("B", 50, 130),           # cross-batch carry -> 8.0
        ("A", 35, 140),           # -> 3.0
    ]
    qb = [quotes[:2], quotes[2:3], quotes[3:]]
    tb = [trades[:2], trades[2:3], trades[3:]]
    qsrc, tsrc = str(tmp_path / "q_src"), str(tmp_path / "t_src")
    os.makedirs(qsrc), os.makedirs(tsrc)
    now = time.time()
    for i in range(3):
        for src, rows, names in ((qsrc, qb[i], ("sym", "q_t", "px")),
                                 (tsrc, tb[i], ("sym", "t_t", "qty"))):
            fp = os.path.join(src, f"b{i}.json")
            with open(fp, "w") as f:
                for r in rows:
                    f.write(_json.dumps(dict(zip(names, r))) + "\n")
            os.utime(fp, (now + i, now + i))

    q_stream = (
        spark.readStream.schema("sym string, q_t long, px double")
        .option("maxFilesPerTrigger", 1).json(qsrc)
    )
    t_stream = (
        spark.readStream.schema("sym string, t_t long, qty long")
        .option("maxFilesPerTrigger", 1).json(tsrc)
    )
    q = (
        streaming_asof_enrich(t_stream, q_stream, "sym", "t_t", "q_t")
        .writeStream.format("memory").queryName("asof_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        (r["sym"], r["t_t"]): (r["qty"], r["px"])
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }
    assert got == {
        ("A", 5): (100, None),
        ("A", 10): (110, 1.0),
        ("A", 25): (120, 2.0),
        ("B", 50): (130, 8.0),
        ("A", 35): (140, 3.0),
    }

    # batch twin on the full data agrees row-for-row
    tdf = spark.createDataFrame(trades, "sym string, t_t long, qty long")
    qdf = spark.createDataFrame(quotes, "sym string, q_t long, px double")
    want = {
        (r["sym"], r["t_t"]): (r["qty"], r["px"])
        for r in asof_join(tdf, qdf, "sym", "t_t", "q_t").collect()
    }
    assert want == got


def test_streaming_asof_enrich_out_of_order_repair_path(spark, tmp_path):
    """The documented divergence, REPAIRED: a left row arriving after a
    newer right update has advanced the single-payload state enriches as
    NULL (never wrongly with the newer payload). The docstring names the
    batch twin at rest as the repair path — this demonstrates it: run a
    disordered feed, take the streamed output, re-enrich exactly the
    NULL-enriched rows through operators/asof.asof_join against the full
    right table at rest, and assert the union equals the all-batch
    answer (same split-stream-equivalence philosophy as the reference's
    stream/snapshot split tests). A row that is NULL in the all-batch
    answer too (trade before any quote) rides along to prove the repair
    does not fabricate an enrichment."""
    import json as _json
    import time

    from dumpr_spark.operators.asof import asof_join
    from dumpr_spark.streaming.asof import streaming_asof_enrich

    quotes = [  # (sym, q_t, px) — per-key IN-order
        ("A", 10, 1.0), ("B", 5, 9.0),
        ("A", 30, 3.0),
    ]
    trades = [  # (sym, t_t, qty)
        ("A", 12, 100),  # batch 0: in-order -> 1.0
        ("B", 3, 90),    # batch 0: before any B quote -> NULL everywhere
        ("B", 7, 110),   # batch 1: -> 9.0
        ("A", 15, 120),  # batch 2, LATE: state already at q_t=30 -> NULL
        ("A", 35, 130),  # batch 2: in-order -> 3.0
    ]
    qb = [quotes[:2], quotes[2:3], []]
    tb = [trades[:2], trades[2:3], trades[3:]]
    qsrc, tsrc = str(tmp_path / "qr_src"), str(tmp_path / "tr_src")
    os.makedirs(qsrc), os.makedirs(tsrc)
    now = time.time()
    for i in range(3):
        for src, rows, names in ((qsrc, qb[i], ("sym", "q_t", "px")),
                                 (tsrc, tb[i], ("sym", "t_t", "qty"))):
            fp = os.path.join(src, f"b{i}.json")
            with open(fp, "w") as f:
                for r in rows:
                    f.write(_json.dumps(dict(zip(names, r))) + "\n")
            os.utime(fp, (now + i, now + i))

    q_stream = (
        spark.readStream.schema("sym string, q_t long, px double")
        .option("maxFilesPerTrigger", 1).json(qsrc)
    )
    t_stream = (
        spark.readStream.schema("sym string, t_t long, qty long")
        .option("maxFilesPerTrigger", 1).json(tsrc)
    )
    q = (
        streaming_asof_enrich(t_stream, q_stream, "sym", "t_t", "q_t")
        .writeStream.format("memory").queryName("asof_repair_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    streamed = spark.sql("SELECT * FROM asof_repair_stream").collect()
    got = {(r["sym"], r["t_t"]): (r["qty"], r["px"]) for r in streamed}
    # the late row enriched NULL, not wrongly with the newer 3.0 payload
    assert got[("A", 15)] == (120, None)
    assert got[("B", 3)] == (90, None)

    # repair at rest: re-enrich ONLY the NULL-enriched rows via the batch
    # twin against the full right table, union with the streamed non-NULLs
    qdf = spark.createDataFrame(quotes, "sym string, q_t long, px double")
    null_left = spark.createDataFrame(
        [(s, t, qty) for (s, t), (qty, px) in got.items() if px is None],
        "sym string, t_t long, qty long",
    )
    repaired = {
        (r["sym"], r["t_t"]): (r["qty"], r["px"])
        for r in asof_join(null_left, qdf, "sym", "t_t", "q_t").collect()
    }
    union = {k: v for k, v in got.items() if v[1] is not None} | repaired

    tdf = spark.createDataFrame(trades, "sym string, t_t long, qty long")
    want = {
        (r["sym"], r["t_t"]): (r["qty"], r["px"])
        for r in asof_join(tdf, qdf, "sym", "t_t", "q_t").collect()
    }
    assert union == want
    assert union[("A", 15)] == (120, 1.0)  # the discarded version, recovered
    assert union[("B", 3)] == (90, None)   # genuinely quote-less stays NULL


def test_streaming_asof_enrich_tolerance_restart_and_guards(spark, tmp_path):
    """(a) tolerance_ms nulls out a stale carried quote; (b) the carried
    state survives a query restart on the same checkpoint; (c) build-time
    guards: non-integer time rejected with the unix_millis hint, colliding
    right columns rejected."""
    import json as _json
    import time

    import pytest as _pytest

    from dumpr_spark.streaming.asof import streaming_asof_enrich

    qsrc, tsrc = str(tmp_path / "qg_src"), str(tmp_path / "tg_src")
    ckpt = str(tmp_path / "asof_ckpt")
    os.makedirs(qsrc), os.makedirs(tsrc)

    write = write_json_batch

    def run():
        emitted = []
        q_stream = (
            spark.readStream.schema("sym string, q_t long, px double")
            .option("maxFilesPerTrigger", 1).json(qsrc)
        )
        t_stream = (
            spark.readStream.schema("sym string, t_t long, qty long")
            .option("maxFilesPerTrigger", 1).json(tsrc)
        )
        q = (
            streaming_asof_enrich(
                t_stream, q_stream, "sym", "t_t", "q_t", tolerance_ms=15
            )
            .writeStream.foreachBatch(
                lambda batch, _id: emitted.extend(batch.collect())
            )
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)
        return emitted

    now = time.time()
    write(qsrc, "b0.json", [("A", 10, 1.5)], ("sym", "q_t", "px"), now)
    write(tsrc, "b0.json", [("A", 12, 100)], ("sym", "t_t", "qty"), now)
    first = run()
    assert [(r["t_t"], r["px"]) for r in first] == [(12, 1.5)]

    # restart: state must still carry the (10, 1.5) quote. Trade at 20 is
    # within tolerance (20-10=10 <= 15) -> 1.5; trade at 40 is stale
    # (40-10=30 > 15) -> NULL even though a quote exists in state.
    write(tsrc, "b1.json", [("A", 20, 110), ("A", 40, 120)],
          ("sym", "t_t", "qty"), now + 1)
    second = run()
    got = sorted((r["t_t"], r["px"]) for r in second)
    assert got == [(20, 1.5), (40, None)]

    # (c) guards
    ts_left = spark.readStream.schema("sym string, t_t timestamp, qty long").json(tsrc)
    ok_right = spark.readStream.schema("sym string, q_t long, px double").json(qsrc)
    with _pytest.raises(TypeError, match="unix_millis"):
        streaming_asof_enrich(ts_left, ok_right, "sym", "t_t", "q_t")
    clash_right = spark.readStream.schema("sym string, q_t long, qty double").json(qsrc)
    ok_left = spark.readStream.schema("sym string, t_t long, qty long").json(tsrc)
    with _pytest.raises(ValueError, match="collide"):
        streaming_asof_enrich(ok_left, clash_right, "sym", "t_t", "q_t")


def test_streaming_asof_enrich_stale_right_update_does_not_regress(spark, tmp_path):
    """An out-of-order RIGHT arrival older than the carried state must not
    regress it: batch 0 carries quote (30, 3.0); batch 1 delivers a LATE
    quote (10, 1.0) plus trades at 20 and 40. The late quote may serve
    in-batch time-travel (trade at 20 predates the carried quote, so with
    only-latest state it would otherwise be NULL), but the state must
    still answer the trade at 40 with the NEWER (30, 3.0) — a max-time
    regression would wrongly hand it 1.0."""
    import json as _json
    import time

    from dumpr_spark.streaming.asof import streaming_asof_enrich

    qsrc, tsrc = str(tmp_path / "qs_src"), str(tmp_path / "ts_src")
    os.makedirs(qsrc), os.makedirs(tsrc)
    now = time.time()

    write = write_json_batch

    write(qsrc, "b0.json", [("A", 30, 3.0)], ("sym", "q_t", "px"), now)
    write(tsrc, "b0.json", [], ("sym", "t_t", "qty"), now)
    write(qsrc, "b1.json", [("A", 10, 1.0)], ("sym", "q_t", "px"), now + 1)
    write(tsrc, "b1.json", [("A", 20, 100), ("A", 40, 110)],
          ("sym", "t_t", "qty"), now + 1)

    q_stream = (
        spark.readStream.schema("sym string, q_t long, px double")
        .option("maxFilesPerTrigger", 1).json(qsrc)
    )
    t_stream = (
        spark.readStream.schema("sym string, t_t long, qty long")
        .option("maxFilesPerTrigger", 1).json(tsrc)
    )
    q = (
        streaming_asof_enrich(t_stream, q_stream, "sym", "t_t", "q_t")
        .writeStream.format("memory").queryName("stale_right_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["t_t"]: r["px"]
        for r in spark.sql("SELECT * FROM stale_right_stream").collect()
    }
    assert got[40] == 3.0, f"state regressed to the stale quote: {got}"
    assert got[20] in (1.0, None)  # in-batch time-travel may or may not land


def test_streaming_asof_enrich_null_payload_loses_tie(spark, tmp_path):
    """Review pin: a NULL right payload must LOSE a timestamp tie to a
    non-null one (batch tie-break = greatest struct, nulls first in asc),
    and the non-null payload must be what state carries forward — pandas'
    default NaN-last sort had nulls winning both."""
    import json as _json
    import time

    from dumpr_spark.streaming.asof import streaming_asof_enrich

    qsrc, tsrc = str(tmp_path / "qn_src"), str(tmp_path / "tn_src")
    os.makedirs(qsrc), os.makedirs(tsrc)
    now = time.time()

    write = write_json_batch

    # two quotes tied at t=10: px NULL and px=5.0 -> 5.0 must win
    write(qsrc, "b0.json", [("A", 10, None), ("A", 10, 5.0)],
          ("sym", "q_t", "px"), now)
    write(tsrc, "b0.json", [("A", 15, 100)], ("sym", "t_t", "qty"), now)
    # next batch: no new quotes; the carried state must still be 5.0
    write(qsrc, "b1.json", [], ("sym", "q_t", "px"), now + 1)
    write(tsrc, "b1.json", [("A", 25, 110)], ("sym", "t_t", "qty"), now + 1)

    q_stream = (
        spark.readStream.schema("sym string, q_t long, px double")
        .option("maxFilesPerTrigger", 1).json(qsrc)
    )
    t_stream = (
        spark.readStream.schema("sym string, t_t long, qty long")
        .option("maxFilesPerTrigger", 1).json(tsrc)
    )
    q = (
        streaming_asof_enrich(t_stream, q_stream, "sym", "t_t", "q_t")
        .writeStream.format("memory").queryName("nulltie_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["t_t"]: r["px"]
        for r in spark.sql("SELECT * FROM nulltie_stream").collect()
    }
    assert got == {15: 5.0, 25: 5.0}, got

    # reserved-tag guard fires at build time
    import pytest as _pytest

    bad_left = spark.readStream.schema("sym string, t_t long, _t long").json(tsrc)
    ok_right = spark.readStream.schema("sym string, q_t long, px double").json(qsrc)
    with _pytest.raises(ValueError, match="reserved"):
        streaming_asof_enrich(bad_left, ok_right, "sym", "t_t", "q_t")


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_streaming_asof_enrich_randomized_batch_equivalence(spark, tmp_path, seed):
    """Property pin for the documented contract: with time-ordered feeds
    (every row in batch i predates every row in batch i+1 — the CDC/binlog
    shape), streaming as-of enrichment equals the batch asof_join row for
    row, across random data and random batch cut points, including
    same-timestamp left/right ties."""
    import json as _json
    import random
    import time

    from dumpr_spark.operators.asof import asof_join
    from dumpr_spark.streaming.asof import streaming_asof_enrich

    rng = random.Random(seed)
    quotes = sorted(
        ((rng.choice(["A", "B", "C"]), rng.randint(0, 99), float(rng.randint(1, 9)))
         for _ in range(40)),
        key=lambda r: r[1],
    )
    trades = sorted(
        ((rng.choice(["A", "B", "C"]), rng.randint(0, 99), i)
         for i in range(40)),
        key=lambda r: r[1],
    )
    cuts = sorted(rng.sample(range(1, 99), 2))  # three time bands

    def band(t):
        return sum(t >= c for c in cuts)

    qsrc, tsrc = str(tmp_path / f"qr{seed}"), str(tmp_path / f"tr{seed}")
    os.makedirs(qsrc), os.makedirs(tsrc)
    now = time.time()
    for i in range(3):
        for src, rows, names in (
            (qsrc, [r for r in quotes if band(r[1]) == i], ("sym", "q_t", "px")),
            (tsrc, [r for r in trades if band(r[1]) == i], ("sym", "t_t", "qty")),
        ):
            fp = os.path.join(src, f"b{i}.json")
            with open(fp, "w") as f:
                for r in rows:
                    f.write(_json.dumps(dict(zip(names, r))) + "\n")
            os.utime(fp, (now + i, now + i))

    q_stream = (
        spark.readStream.schema("sym string, q_t long, px double")
        .option("maxFilesPerTrigger", 1).json(qsrc)
    )
    t_stream = (
        spark.readStream.schema("sym string, t_t long, qty long")
        .option("maxFilesPerTrigger", 1).json(tsrc)
    )
    q = (
        streaming_asof_enrich(t_stream, q_stream, "sym", "t_t", "q_t")
        .writeStream.format("memory").queryName(f"rand_asof_{seed}")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["qty"]: (r["sym"], r["t_t"], r["px"])
        for r in spark.sql(f"SELECT * FROM rand_asof_{seed}").collect()
    }
    tdf = spark.createDataFrame(trades, "sym string, t_t long, qty long")
    qdf = spark.createDataFrame(quotes, "sym string, q_t long, px double")
    want = {
        r["qty"]: (r["sym"], r["t_t"], r["px"])
        for r in asof_join(tdf, qdf, "sym", "t_t", "q_t").collect()
    }
    assert got == want, {
        k: (got.get(k), want.get(k)) for k in want if got.get(k) != want.get(k)
    }


@pytest.mark.parametrize("seed", [5, 17])
def test_streaming_interval_merge_adversarial_order_invariants(spark, tmp_path, seed):
    """Under FULLY SHUFFLED arrival order (no in-order contract at all),
    the published output must still satisfy the append-mode safety
    invariants: per key, published islands are pairwise disjoint and
    non-touching (append can never retract, so overlap = corruption —
    exactly what the r6 disjoint-below bug produced), and every published
    span lies inside some batch-twin island (streaming may split or drop
    late data, but must never invent a span batch doesn't contain)."""
    import json as _json
    import random
    import time

    from dumpr_spark.operators.intervals import merge_intervals
    from dumpr_spark.streaming.state import streaming_interval_merge

    rng = random.Random(seed)
    ivs = []
    for k in (1, 2):
        for _ in range(30):
            s_ = rng.randint(0, 500)
            ivs.append((k, s_, s_ + rng.randint(1, 40)))
    rng.shuffle(ivs)
    batches = [ivs[i::5] for i in range(5)]

    src = str(tmp_path / f"adv{seed}")
    os.makedirs(src)
    now = time.time()
    for i, chunk in enumerate(batches):
        fp = os.path.join(src, f"b{i}.json")
        with open(fp, "w") as f:
            for u, s_, e_ in chunk:
                f.write(_json.dumps({"user_id": u, "s": s_, "e": e_}) + "\n")
        os.utime(fp, (now + i, now + i))

    stream = (
        spark.readStream.schema("user_id long, s long, e long")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = (
        streaming_interval_merge(stream)
        .writeStream.format("memory").queryName(f"adv_stream_{seed}")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    published = [
        (r["key"], r["merged_start"], r["merged_end"])
        for r in spark.sql(f"SELECT * FROM adv_stream_{seed}").collect()
    ]

    # (a) per key: disjoint, non-touching (closed-interval convention)
    by_key: dict = {}
    for k, s_, e_ in published:
        by_key.setdefault(k, []).append((s_, e_))
    for k, spans in by_key.items():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1, f"key {k}: published spans overlap/touch: {(s1,e1)} {(s2,e2)}"

    # (b) containment in the batch twin's islands
    df = spark.createDataFrame(ivs, "user_id long, s long, e long")
    islands: dict = {}
    for r in merge_intervals(df, ["user_id"], "s", "e").collect():
        islands.setdefault(r["user_id"], []).append(
            (r["merged_start"], r["merged_end"])
        )
    for k, s_, e_ in published:
        assert any(a <= s_ and e_ <= b for a, b in islands[k]), (
            f"key {k}: published ({s_},{e_}) outside every batch island {islands[k]}"
        )


def test_streaming_image_dedup_cross_batch(spark, tmp_path):
    """Cross-batch image near-dup detection — the streaming composition of
    the r8 multimodal pieces: each micro-batch fingerprints its images
    (ahash_images, payload bytes never leave the batch), bands the NEW
    fingerprints against the ACCUMULATED store (ahash_near_dup_pairs over
    store+batch, restricted to pairs touching the batch), then appends the
    batch's fingerprints to the store. A duplicate image arriving batches
    LATER must still be flagged — the image analog of dedup_cross_corpus'
    incremental contract. 16-hex fingerprints are the only cross-batch
    state (payloads stay in their batch), so the store is metadata-sized
    at any corpus scale."""
    import os as _os

    from dumpr_spark.functions.multimodal import (
        ahash_images, ahash_near_dup_pairs,
    )

    src = tmp_path / "assets"
    src.mkdir()
    store_dir = str(tmp_path / "fp_store")

    def write_batch(sub, rows, mtime):
        spark.createDataFrame(
            rows, "asset_id long, media_type string, payload binary"
        ).coalesce(1).write.parquet(str(src / sub))
        for f in (src / sub).iterdir():
            _os.utime(f, (mtime, mtime))

    # batch A: two distinct images + an intra-batch exact duplicate pair
    write_batch("a", [
        (1, "image", bytearray(b"cat-bytes")),
        (2, "image", bytearray(b"dog-bytes")),
        (3, "image", bytearray(b"cat-bytes")),   # intra-batch dup of 1
    ], 1_700_000_000)
    # batch B: a cross-batch duplicate of 2, plus a fresh image
    write_batch("b", [
        (10, "image", bytearray(b"dog-bytes")),  # dup of 2 (batch A)
        (11, "image", bytearray(b"bird-bytes")),
    ], 1_700_000_100)

    flagged: list[tuple[int, int, int]] = []

    def sink(batch_df, batch_id):
        fps = ahash_images(batch_df).localCheckpoint(eager=True)
        if _os.path.isdir(store_dir):
            store = spark.read.parquet(store_dir)
            universe = store.unionByName(fps)
        else:
            store, universe = None, fps
        batch_ids = {r["asset_id"] for r in fps.select("asset_id").collect()}
        pairs = ahash_near_dup_pairs(universe, max_hamming=0).collect()
        flagged.extend(
            (r["a"], r["b"], batch_id) for r in pairs
            if r["a"] in batch_ids or r["b"] in batch_ids
        )
        fps.write.mode("append").parquet(store_dir)

    q = (
        spark.readStream.schema("asset_id long, media_type string, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = {(a, b) for a, b, _ in flagged}
    assert got == {(1, 3), (2, 10)}
    # the cross-batch pair was found in batch B (store lookup), the
    # intra-batch pair in batch A
    by_pair = {(a, b): bid for a, b, bid in flagged}
    assert by_pair[(1, 3)] == 0 and by_pair[(2, 10)] == 1


def test_key_bucket_exact_integral_arithmetic(spark):
    """KeyBucket and suggest_key_bucket past 2^53 (r11 advice): the
    bucket quotient and the ceil arithmetic must be EXACT integer
    operations — double division blurs bucket boundaries for
    snowflake/epoch-composed 64-bit keys (floor((2^62+7)/10) through a
    double is off by 25), and float math.ceil mis-sizes the width, which
    would make cdc_key_bucket_policy's self-check raise. Negatives take
    the floor (not truncation toward zero), matching the documented
    floor((id - origin) / width) contract."""
    from dumpr_spark.streaming.sink import KeyBucket, suggest_key_bucket

    # the decisive case: id one below a bucket boundary, with the offset
    # from origin past 2^53 — as a DOUBLE the id rounds UP onto the
    # boundary (ULP at 3.3e18 is 512), so floor(double-div) lands in the
    # WRONG bucket (k, not k-1) while the exact integral form stays put
    k = 3_000_000
    width = 2 ** 40
    edge = k * width - 1  # ~3.3e18, true bucket k-1
    assert float(edge) == float(k * width)  # the double really does round up
    cases = [
        (KeyBucket(width=width, origin=0), [edge, k * width, 3, -3, -1]),
        (KeyBucket(width=width, origin=-(2 ** 61)), [edge - 2 ** 61 - 1]),
        (KeyBucket(width=7, origin=2 ** 62), [2 ** 62 + 13, 2 ** 62 - 13]),
    ]
    for kb, ids in cases:
        df = spark.createDataFrame([(str(i),) for i in ids], "id string")
        got = {r["id"]: r["b"] for r in df.select("id", kb(F.col("id")).alias("b")).collect()}
        for i in ids:
            want = (i - kb.origin) // kb.width
            assert -(2 ** 31) <= want < 2 ** 31  # buckets stay int32-valid
            assert got[str(i)] == want, (kb, i)
    # non-numeric id still lands in -1, never NULL
    df = spark.createDataFrame([("user_9",)], "id string")
    assert df.select(KeyBucket(width=10)(F.col("id")).alias("b")).collect()[0]["b"] == -1

    # suggest_key_bucket at a 2^62-wide span: width must be the exact
    # integer ceil of span / n_buckets (float ceil disagrees here)
    lo, hi = 3, 2 ** 62 + 3
    ids = spark.createDataFrame(
        [(str(lo),), (str(hi),), (str(2 ** 61),)], "id string"
    )
    kb = suggest_key_bucket(ids, target_rows_per_bucket=1)
    n_buckets = max(1, (3 + 1 - 1) // 1)
    want_width = max(1, (hi - lo + 1 + n_buckets - 1) // n_buckets)
    assert (kb.width, kb.origin) == (want_width, lo)
    assert isinstance(kb.width, int)


def test_hash_key_bucket_recipe_for_string_keys(spark, tmp_path):
    """The shipped non-numeric-domain recipe (r11 verdict item 5):
    HashKeyBucket projects any string key through first-8-hex-of-md5 to
    a pinned pmod bucket — total (NULL id -> -1), deterministic, and it
    works end-to-end as the sink's key_bucket where suggest_key_bucket
    refuses (UUID-ish keys). Its identity persists in the policy marker,
    so a drifted n_buckets is refused exactly like a drifted range
    policy; and the suggest refusal message points at it."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, MergeSink, suggest_key_bucket,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, k, seq: ("upsert", tbl, k, json.dumps({"k": k, "s": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, k, seq: ("delete", tbl, k, None, None, "f1", seq, seq)  # noqa: E731

    keys = [f"user-{i:04d}" for i in range(30)]
    kb = HashKeyBucket(n_buckets=8)
    # deterministic + total + in-range on the projected domain
    df = spark.createDataFrame([(k,) for k in keys] + [(None,)], "id string")
    got = [r["b"] for r in df.select(kb(F.col("id")).alias("b")).collect()]
    assert got[-1] == -1  # NULL id
    assert all(0 <= b < 8 for b in got[:-1])
    again = [r["b"] for r in df.select(kb(F.col("id")).alias("b")).collect()]
    assert got == again

    state = str(tmp_path / "hash_kb")
    sink = MergeSink(spark, state, key_bucket=kb)
    sink(batch([up("users", k, i) for i, k in enumerate(keys)]), 0)
    sink(batch([up("users", keys[0], 100), dele("users", keys[1], 101)]), 1)
    live = {r["id"]: r["seq"] for r in sink.read_state().collect()}
    assert live[keys[0]] == 100 and keys[1] not in live
    assert len(live) == len(keys) - 1
    # the marker carries the hash identity; a drifted n_buckets is refused
    with open(os.path.join(state, "_kb_policy.json")) as f:
        assert json.load(f) == {"hash": "md5_8", "n_buckets": 8}
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        MergeSink(spark, state, key_bucket=HashKeyBucket(n_buckets=16)).read_state()
    # same policy object (fresh instance) is accepted
    assert MergeSink(
        spark, state, key_bucket=HashKeyBucket(n_buckets=8)
    ).read_state().count() == len(keys) - 1

    # the range helper refuses this domain and names the recipe
    with pytest.raises(ValueError, match="HashKeyBucket"):
        suggest_key_bucket(
            spark.createDataFrame([(k,) for k in keys], "id string")
        )


def test_opaque_callable_over_policy_marker_refused(spark, tmp_path):
    """The drift check's blind spot, closed (r11 advice, medium): a state
    directory whose _kb_policy.json proves it was cut by a policy object
    must refuse an OPAQUE callable sink — same tbl=/_kb= shape, no
    identity to compare, so a DIFFERENT bucket function would otherwise
    merge with mismatched pruning (deletes resurrect, updates fork). A
    properly migrated opaque-callable state has no marker and keeps
    working."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, migrate_key_bucket,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    opaque = lambda c: F.coalesce(  # same MATH as KeyBucket(3), no identity  # noqa: E731
        F.call_function(
            "div",
            c.try_cast("long") - F.pmod(c.try_cast("long"), F.lit(3).cast("long")),
            F.lit(3).cast("long"),
        ), F.lit(-1),
    ).cast("int")

    state = str(tmp_path / "opq_state")
    MergeSink(spark, state, key_bucket=KeyBucket(width=3))(
        batch([up("orders", i, i) for i in range(9)]), 0
    )
    assert os.path.exists(os.path.join(state, "_kb_policy.json"))
    opq = MergeSink(spark, state, key_bucket=opaque)
    with pytest.raises(ValueError, match="opaque"):
        opq.read_state()
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        opq(batch([up("orders", 99, 99)]), 1)
    # the sanctioned path: migrate to the opaque callable — the fresh
    # layout carries no marker, and the opaque sink then operates
    migrate_key_bucket(spark, state, opaque)
    assert not os.path.exists(os.path.join(state, "_kb_policy.json"))
    after = MergeSink(spark, state, key_bucket=opaque)
    after(batch([up("orders", 99, 99)]), 1)
    assert {r["id"] for r in after.read_state().collect()} == {str(i) for i in range(9)} | {"99"}


def test_history_sink_policy_migration_parity(spark, tmp_path):
    """The r11 policy/migration surface works end-to-end on an SCD2 state
    directory too (r11 verdict item 6): HistorySink shares MergeSink's
    `_validate_layout`/_kb_policy.json/`migrate_key_bucket` machinery,
    but until now no test exercised a HISTORY migration (extra valid_to
    column, delete rows as interval terminators rather than tombstones).
    Covers: flip refusal both directions, policy-drift refusal, the
    opaque-callable-over-marker refusal, migration with HISTORY_SCHEMA
    preserving every interval (including terminator rows), continued
    folding + untouched-bucket carry-forward after migration, and crash
    recovery of a torn history migration."""
    import shutil

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HISTORY_SCHEMA, HistorySink
    from dumpr_spark.streaming.sink import KeyBucket, migrate_key_bucket

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i, "v": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731

    state = str(tmp_path / "hist_mig")
    plain = HistorySink(spark, state)
    plain(batch([up("w", i, i) for i in range(1, 13)] + [up("x", 1, 3)]), 0)
    plain(batch([up("w", 2, 20), dele("w", 5, 21)]), 1)

    def hist(sink):
        return {
            (r["tbl"], r["id"], r["seq"], r["valid_to"], r["is_current"])
            for r in sink.read_history().collect()
        }

    def raw(sink):
        return {
            (r["tbl"], r["id"], r["op"], r["seq"], r["valid_to"])
            for r in sink._read_raw().drop("_kb").collect()
        }

    want_hist, want_raw = hist(plain), raw(plain)
    assert any(op == "delete" for _t, _i, op, _s, _v in want_raw)

    # flip refusal: bucketed sink over the plain SCD2 directory
    kb = KeyBucket(width=4)
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        HistorySink(spark, state, key_bucket=kb).read_history()
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        HistorySink(spark, state, key_bucket=kb)(batch([up("w", 99, 99)]), 2)

    # sanctioned migration with the HISTORY schema: every interval AND
    # the delete terminator rows survive byte-identically
    migrate_key_bucket(spark, state, kb, schema=HISTORY_SCHEMA)
    bucketed = HistorySink(spark, state, key_bucket=kb)
    assert hist(bucketed) == want_hist
    assert raw(bucketed) == want_raw
    assert os.path.exists(os.path.join(state, "_kb_policy.json"))

    # drift + opaque refusals hold on the history directory
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        HistorySink(spark, state, key_bucket=KeyBucket(width=9)).read_history()
    with pytest.raises(ValueError, match="opaque"):
        HistorySink(
            spark, state, key_bucket=lambda c: (c.try_cast("long") % 4).cast("int")
        ).read_history()
    # ...and the reverse flip (plain sink over the bucketed directory)
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        HistorySink(spark, state)(batch([up("w", 99, 99)]), 2)

    # continued folding: a later change closes the right interval, and
    # untouched buckets carry forward by hardlink (inode-stable)
    kb0 = os.path.join(state, "tbl=w", "_kb=0")
    inodes = {f: os.stat(os.path.join(kb0, f)).st_ino for f in os.listdir(kb0)}
    bucketed(batch([up("w", 9, 30)]), 2)  # id 9 -> bucket 2; bucket 0 untouched
    assert {f: os.stat(os.path.join(kb0, f)).st_ino
            for f in os.listdir(kb0)} == inodes
    rows9 = sorted(
        (r["seq"], r["valid_to"]) for r in bucketed.read_history()
        .where((F.col("tbl") == "w") & (F.col("id") == "9")).collect()
    )
    assert rows9 == [(9, 30), (30, None)]

    # torn migration crash: only .migrate-bak holds the data — the next
    # sink touch restores it (shared _recover discipline, history schema)
    shutil.move(state, state + ".migrate-bak")
    recovered = HistorySink(spark, state, key_bucket=kb)
    got = hist(recovered)
    assert ("w", "9", 30, None, True) in got and len(got) == len(want_hist) + 1
    assert os.path.exists(state) and not os.path.exists(state + ".migrate-bak")


def test_read_touched_fast_path_matches_full_read(spark, tmp_path):
    """The r12 touched-dirs scan (`_read_touched`): the bucketed merge
    path lists only the touched (tbl, bucket) slice dirs — O(touched)
    driver listing instead of spark.read's O(all bucket dirs) partition
    discovery (measured ~1.7 ms/dir, 3.5 s of a 5.6 s batch at 2048
    dirs). Must be ROW-IDENTICAL to the full pruned read, including
    tombstones, for any pair list — touched-only, a not-yet-existing
    bucket, a missing table — and must FALL BACK to the full read for a
    table name that is not identity under URL quoting, so hand-built
    paths can never diverge from Spark's own dir escaping."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink, _pair_filter

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731

    kb = KeyBucket(width=3)
    state = str(tmp_path / "rt_state")
    sink = MergeSink(spark, state, key_bucket=kb)
    sink(batch([up("orders", i, i) for i in range(12)]
               + [up("parts", 2, 2), dele("orders", 4, 40)]), 0)

    def rows(df):
        return {
            (r["tbl"], r["id"], r["op"], r["seq"], r["_kb"]) for r in df.collect()
        }

    cases = [
        [("orders", 0), ("orders", 1)],           # touched subset
        [("orders", 0), ("orders", 99)],           # bucket dir that never existed
        [("parts", 0), ("orders", 2)],             # cross-table
        [("nope", 0)],                             # missing table entirely
    ]
    for pairs in cases:
        fast = rows(sink._read_touched(pairs).where(_pair_filter(pairs)))
        full = rows(sink._read_raw().where(_pair_filter(pairs)))
        assert fast == full, pairs
    # tombstones flow through the fast path (the fold depends on them)
    t = rows(sink._read_touched([("orders", 1)]).where(
        _pair_filter([("orders", 1)])))
    assert ("orders", "4", "delete", 40, 1) in t

    # exotic table name (space: not identity under URL quoting) exercises
    # the fallback end-to-end through the merge path — two batches so the
    # second one READS the escaped dir it wrote
    ex = MergeSink(spark, str(tmp_path / "rt_exotic"), key_bucket=kb)
    ex(batch([up("a b", 1, 1), up("a b", 7, 2)]), 0)
    ex(batch([up("a b", 1, 10)]), 1)
    live = {(r["tbl"], r["id"], r["seq"]) for r in ex.read_state().collect()}
    assert live == {("a b", "1", 10), ("a b", "7", 2)}


def test_merge_sink_auto_layout_numeric_seeds_range_policy(spark, tmp_path):
    """key_bucket="auto" (r13 verdict item 3): a fresh sink derives its
    policy from the FIRST non-empty batch via the certified rule —
    numeric ids dispatch to a RANGE policy — stamps it, folds
    identically to the plain layout, and a RESTART in auto mode adopts
    exactly the stamped policy (the layout is pinned for the stream's
    lifetime, never re-derived as state grows)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, derive_auto_policy,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731

    seed = [up("orders", i, i) for i in range(1, 40)]
    state = str(tmp_path / "auto_num")
    auto = MergeSink(spark, state, key_bucket="auto")
    plain = MergeSink(spark, str(tmp_path / "auto_num_plain"))
    auto(batch(seed), 0)
    plain(batch(seed), 0)

    # the derived policy IS the shipped rule's, run on the same
    # observation — and the arithmetic is pinned explicitly: 39 rows,
    # 39 distinct keys -> n_buckets = min(max(ceil(39/250000)=1,
    # ceil(39/0.125)=312), 4096) = 312; span 39 -> width
    # ceil(39/312) -> 1, origin = min id = 1
    expect = derive_auto_policy(batch(seed).select("id"))
    assert isinstance(auto.key_bucket, KeyBucket)
    assert auto.key_bucket == expect == KeyBucket(width=1, origin=1)
    # stamped for drift refusal, exactly like a caller-passed policy
    with open(os.path.join(state, "_kb_policy.json")) as f:
        assert json.load(f) == expect.kb_identity()

    # restart in auto mode: adopts the stamped identity, keeps folding
    auto2 = MergeSink(spark, state, key_bucket="auto")
    follow = [up("orders", 2, 100), dele("orders", 5, 101), up("orders", 77, 102)]
    auto2(batch(follow), 1)
    plain(batch(follow), 1)
    assert auto2.key_bucket == expect

    def snap(sink):
        return {(r["tbl"], r["id"], r["seq"]) for r in sink.read_state().collect()}

    assert snap(auto2) == snap(plain) and snap(plain)
    assert "_kb" not in auto2.read_state().columns
    # drift is refused exactly as with an explicit policy
    drifted = MergeSink(spark, state, key_bucket=KeyBucket(width=expect.width + 1,
                                                           origin=expect.origin))
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        drifted.read_state()


def test_merge_sink_auto_layout_string_seeds_hash_policy(spark, tmp_path):
    """Non-numeric ids dispatch to suggest_hash_bucket_count with the
    observed batch's distinct-key count as the anti-blanketing floor —
    the full production derivation, not just the rows/slice ceiling."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, MergeSink, suggest_hash_bucket_count,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, f"user-{i:05d}", json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    seed = [up("profiles", i, i) for i in range(1, 25)]
    state = str(tmp_path / "auto_str")
    auto = MergeSink(spark, state, key_bucket="auto")
    auto(batch(seed), 0)

    expect = suggest_hash_bucket_count(
        batch(seed).select("id"), expected_keys_per_batch=24,
    )
    assert isinstance(auto.key_bucket, HashKeyBucket)
    assert auto.key_bucket == expect
    with open(os.path.join(state, "_kb_policy.json")) as f:
        assert json.load(f) == expect.kb_identity()
    # restart adopts it; the fold keeps working across the restart
    auto2 = MergeSink(spark, state, key_bucket="auto")
    auto2(batch([up("profiles", 3, 99)]), 1)
    assert auto2.key_bucket == expect
    live = {(r["id"], r["seq"]) for r in auto2.read_state().collect()}
    assert ("user-00003", 99) in live and len(live) == 24


def test_auto_layout_empty_seed_and_refusals(spark, tmp_path):
    """Auto-mode edges: an empty first batch leaves the sink unresolved
    and writes nothing (the next non-empty batch seeds); auto over an
    existing PLAIN state is a migration event, refused; auto over a
    bucketed state cut by an OPAQUE callable (no policy marker) is
    refused — auto cannot reconstruct an identity the layout never
    stamped; and migrate_key_bucket refuses the string outright."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import MergeSink, migrate_key_bucket
    from pyspark.sql import functions as F

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    # empty seed: unresolved, no state dir; then a real batch seeds
    state = str(tmp_path / "auto_empty")
    sink = MergeSink(spark, state, key_bucket="auto")
    sink(batch([]), 0)
    assert sink.key_bucket == "auto" and not os.path.exists(state)
    sink(batch([up("orders", 1, 1)]), 1)
    assert sink.key_bucket != "auto"
    assert {r["id"] for r in sink.read_state().collect()} == {"1"}

    # plain state + auto -> migration refusal (state untouched)
    plain_state = str(tmp_path / "auto_plain")
    MergeSink(spark, plain_state)(batch([up("orders", i, i) for i in range(5)]), 0)
    with pytest.raises(ValueError, match="migrate_key_bucket"):
        MergeSink(spark, plain_state, key_bucket="auto")(batch([up("orders", 9, 9)]), 1)

    # opaque-callable bucketed state (no marker) + auto -> refused
    opaque_state = str(tmp_path / "auto_opaque")
    kb = lambda c: F.coalesce((c.try_cast("long") / F.lit(3)).cast("int"), F.lit(-1))  # noqa: E731
    MergeSink(spark, opaque_state, key_bucket=kb)(batch([up("orders", i, i) for i in range(5)]), 0)
    with pytest.raises(ValueError, match="opaque"):
        MergeSink(spark, opaque_state, key_bucket="auto").read_state()

    with pytest.raises(ValueError, match="SEED-TIME"):
        migrate_key_bucket(spark, plain_state, "auto")


def test_history_sink_auto_layout_equals_plain(spark, tmp_path):
    """HistorySink supports key_bucket="auto" with the same seed/restart
    discipline: identical intervals and current state as the plain
    layout, policy equal to the shipped rule's derivation."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import derive_auto_policy

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i, "s": seq}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda tbl, i, seq: ("delete", tbl, str(i), None, None, "f1", seq, seq)  # noqa: E731

    seed = [up("orders", i, i) for i in range(1, 20)]
    follow = [up("orders", 3, 50), dele("orders", 7, 51)]
    auto = HistorySink(spark, str(tmp_path / "h_auto"), key_bucket="auto")
    plain = HistorySink(spark, str(tmp_path / "h_plain"))
    for i, rows in enumerate([seed, follow]):
        auto(batch(rows), i)
        plain(batch(rows), i)
    assert auto.key_bucket == derive_auto_policy(batch(seed).select("id"))

    def hist(sink):
        return {
            (r["tbl"], r["id"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in sink.read_history().collect()
        }

    assert hist(auto) == hist(plain) and hist(plain)
    cur_a = {(r["id"], r["seq"]) for r in auto.read_state().collect()}
    cur_p = {(r["id"], r["seq"]) for r in plain.read_state().collect()}
    assert cur_a == cur_p and ("7", 51) not in cur_a


def test_hash_bucket_helper_dial_validation(spark):
    """suggest_hash_bucket_count / suggest_key_bucket refuse broken dials
    up front (r13 ADVICE): max_buckets=0 would mint a pmod-by-zero policy
    whose NULL buckets only explode much later in _pair_filter; a
    non-positive rows target breaks the ceiling; a share outside (0, 1]
    is a ZeroDivisionError or a negative floor."""
    from dumpr_spark.streaming.sink import (
        suggest_hash_bucket_count, suggest_key_bucket,
    )

    ids = spark.createDataFrame([("u1",), ("u2",)], "id string")
    nids = spark.createDataFrame([("1",), ("2",)], "id string")
    with pytest.raises(ValueError, match="max_buckets"):
        suggest_hash_bucket_count(ids, max_buckets=0)
    with pytest.raises(ValueError, match="target_rows_per_bucket"):
        suggest_hash_bucket_count(ids, target_rows_per_bucket=0)
    with pytest.raises(ValueError, match="target_rewrite_share"):
        suggest_hash_bucket_count(ids, expected_keys_per_batch=5,
                                  target_rewrite_share=0.0)
    with pytest.raises(ValueError, match="target_rewrite_share"):
        suggest_hash_bucket_count(ids, expected_keys_per_batch=5,
                                  target_rewrite_share=1.5)
    with pytest.raises(ValueError, match="target_rows_per_bucket"):
        suggest_key_bucket(nids, target_rows_per_bucket=0)


def test_derive_auto_policy_range_floor_and_cap(spark):
    """The r15 range-leg guard (r14 ADVICE item 1): a small seed batch
    spanning a wide key range no longer derives a degenerate 1-bucket
    range layout — BOTH dispatch legs now share the three-term count
    rule min(max(ceil(n/target), ceil(k/share)), max_buckets), with the
    distinct-key anti-blanketing floor and the metadata cap pinned here
    arithmetically."""
    from dumpr_spark.streaming.sink import KeyBucket, derive_auto_policy

    # 20 keys spread over a ~9.5M-wide domain (a mid-stream trickle
    # seed, NOT a snapshot): rows target alone says 1 bucket — the
    # pre-r15 degenerate pin; the floor says ceil(20 / 0.125) = 160,
    # so width = ceil(9_500_001 / 160) = 59_376, origin = 0
    wide = spark.createDataFrame(
        [(str(i * 500_000),) for i in range(20)], "id string"
    )
    assert derive_auto_policy(wide) == KeyBucket(width=59_376, origin=0)

    # the metadata cap still binds the floor: 1000 keys at target 1
    # asks for max(1000, 8000) buckets, capped to 50 -> width 20
    dense = spark.createDataFrame([(str(i),) for i in range(1000)], "id string")
    assert derive_auto_policy(
        dense, target_rows_per_bucket=1, max_buckets=50
    ) == KeyBucket(width=20, origin=0)

    # dial refusals moved inline with the arithmetic (same messages as
    # the sizing helpers')
    with pytest.raises(ValueError, match="target_rows_per_bucket"):
        derive_auto_policy(dense, target_rows_per_bucket=0)
    with pytest.raises(ValueError, match="max_buckets"):
        derive_auto_policy(dense, max_buckets=0)
    with pytest.raises(ValueError, match="target_rewrite_share"):
        derive_auto_policy(dense, target_rewrite_share=2.0)


def test_auto_dial_constants_pin_helper_defaults():
    """The AUTO_* module constants are the single source the oracle SQL
    f-strings (r14 ADVICE item 4: a silent default drift must surface as
    a reviewable diff / red test, not a runtime self-check assertion) —
    so the sizing helpers' own signature defaults, kept as literals to
    leave the certified helper source untouched, are pinned EQUAL here."""
    import inspect

    from dumpr_spark.streaming import sink as S

    kb = inspect.signature(S.suggest_key_bucket).parameters
    hb = inspect.signature(S.suggest_hash_bucket_count).parameters
    da = inspect.signature(S.derive_auto_policy).parameters
    assert kb["target_rows_per_bucket"].default == S.AUTO_TARGET_ROWS_PER_BUCKET
    assert hb["target_rows_per_bucket"].default == S.AUTO_TARGET_ROWS_PER_BUCKET
    assert hb["max_buckets"].default == S.AUTO_MAX_BUCKETS
    assert hb["target_rewrite_share"].default == S.AUTO_TARGET_REWRITE_SHARE
    assert da["target_rows_per_bucket"].default == S.AUTO_TARGET_ROWS_PER_BUCKET
    assert da["max_buckets"].default == S.AUTO_MAX_BUCKETS
    assert da["target_rewrite_share"].default == S.AUTO_TARGET_REWRITE_SHARE
    # the growth threshold default derives from the same target, on the
    # sink AND on both stream starters (API parity with the compaction
    # cadence dial)
    from dumpr_spark.streaming.history import start_history_stream

    want = S.GROWTH_WARN_FACTOR * S.AUTO_TARGET_ROWS_PER_BUCKET
    for fn in (S.MergeSink.__init__, S.start_merge_stream,
               start_history_stream):
        p = inspect.signature(fn).parameters
        assert p["growth_warn_rows_per_bucket"].default == want, fn


def test_bucket_growth_warning_fires_once_past_threshold(spark, tmp_path):
    """The seed-pinned layout's growth signal (r14 verdict item 2): a
    bucketed sink whose slice outgrows `growth_warn_rows_per_bucket`
    warns ONCE, naming the migration path; below the threshold it stays
    silent."""
    import warnings

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    # width 1000 over ids < 1000: every row lands in bucket 0
    sink = MergeSink(spark, str(tmp_path / "growth"),
                     key_bucket=KeyBucket(width=1000, origin=0),
                     growth_warn_rows_per_bucket=50)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sink(batch([up(i, i) for i in range(30)]), 0)  # 30 rows: below
        assert [x for x in w if "growth threshold" in str(x.message)] == []
        sink(batch([up(i, i) for i in range(30, 80)]), 1)  # 80 rows: past
        hits = [x for x in w if "growth threshold" in str(x.message)]
        assert len(hits) == 1
        assert "suggest_migration" in str(hits[0].message)
        assert "migrate_key_bucket" in str(hits[0].message)
        sink(batch([up(99, 999)]), 2)  # still outgrown: warns only once
        assert len([x for x in w if "growth threshold" in str(x.message)]) == 1

    # disabled signal stays silent at any size
    off = MergeSink(spark, str(tmp_path / "growth_off"),
                    key_bucket=KeyBucket(width=1000, origin=0),
                    growth_warn_rows_per_bucket=None)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        off(batch([up(i, i) for i in range(80)]), 0)
        assert [x for x in w if "growth threshold" in str(x.message)] == []


def test_suggest_migration_rederives_when_outgrown(spark, tmp_path):
    """suggest_migration (r14 verdict item 2): None while every LIVE
    slice fits growth_factor x target; past it, the policy a fresh auto
    seed would derive from today's live state — tombstones excluded
    (they are compact()-able, not growth). Plain sinks are refused."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    dele = lambda i, seq: ("delete", "orders", str(i), None, None, "f1", seq, seq)  # noqa: E731

    sink = MergeSink(spark, str(tmp_path / "outgrown"),
                     key_bucket=KeyBucket(width=10_000, origin=0),
                     growth_warn_rows_per_bucket=None)
    sink(batch([up(i, i) for i in range(100)]), 0)  # all in bucket 0

    # 100 live rows vs threshold 4 x 30 = 120: still fits
    assert sink.suggest_migration(target_rows_per_bucket=30) is None
    # vs threshold 4 x 20 = 80: outgrown -> re-derived policy = what a
    # fresh auto seed would pin on the live ids (100 keys, span 100:
    # n_buckets = min(max(ceil(100/20), ceil(100/0.125)), 4096) = 800,
    # width = ceil(100/800) -> 1)
    pol = sink.suggest_migration(target_rows_per_bucket=20)
    assert pol == KeyBucket(width=1, origin=0)

    # tombstones are not growth: delete 30 keys -> 70 live <= 80
    sink(batch([dele(i, 1000 + i) for i in range(30)]), 1)
    assert sink.suggest_migration(target_rows_per_bucket=20) is None

    plain = MergeSink(spark, str(tmp_path / "outgrown_plain"))
    plain(batch([up(1, 1)]), 0)
    with pytest.raises(ValueError, match="no resolved bucket policy"):
        plain.suggest_migration()


def test_compactor_preserves_policy_marker_through_swap(spark, tmp_path,
                                                    monkeypatch):
    """r14 ADVICE item 2 (the compaction crash window): the generic
    compactor itself carries root-level underscore marker files into its
    rewrite BEFORE the swap, and MergeSink.compact_files commits through
    `_commit`, which stamps the marker into the next state version before
    its swap — so there is no instant at which bucketed state exists
    without its _kb_policy.json, and no crash can strand an auto
    restart."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.operators.scale import compact_small_files
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    state = str(tmp_path / "marker")
    sink = MergeSink(spark, state, key_bucket=KeyBucket(width=10, origin=0))
    sink(batch([up(i, i) for i in range(25)]), 0)
    marker = os.path.join(state, "_kb_policy.json")
    assert os.path.exists(marker)

    # the compactor DIRECTLY (no sink-side re-stamp): marker survives
    compact_small_files(spark, state, schema=sink._ext_schema())
    assert os.path.exists(marker)
    # and an auto restart over the freshly compacted state adopts it
    auto = MergeSink(spark, state, key_bucket="auto")
    auto(batch([up(3, 99)]), 1)
    assert auto.key_bucket == KeyBucket(width=10, origin=0)
    # the sink's own compact_files stamps the marker into the next state
    # version before its swap, so it survives that rewrite too
    swapped_in = []
    rename = os.rename

    def watch(src, dst):
        if dst == state:
            swapped_in.append(os.path.exists(os.path.join(src, "_kb_policy.json")))
        rename(src, dst)

    monkeypatch.setattr(os, "rename", watch)
    auto.compact_files()
    monkeypatch.undo()
    assert swapped_in == [True]
    assert os.path.exists(marker)
    again = MergeSink(spark, state, key_bucket="auto")
    again(batch([up(4, 100)]), 2)
    assert again.key_bucket == KeyBucket(width=10, origin=0)


def test_stream_restart_into_auto_adopts_seeded_policy(spark, tmp_path):
    """The r13 verdict item 3 "Done" clause at STREAM level (the sink-level
    twins above restart the sink object; this restarts the QUERY from its
    checkpoint): a start_merge_stream(key_bucket="auto") run seeds the
    layout from its first batch, a SECOND stream started later in auto
    mode over the same state + checkpoint adopts the stamped policy —
    equal to the helper's derivation on the seed observation — and the
    fold stays correct across the restart."""
    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, derive_auto_policy, start_merge_stream,
    )

    feed = str(tmp_path / "a_feed")
    state = str(tmp_path / "a_state")
    ckpt = str(tmp_path / "a_ckpt")

    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:00:00Z",
         "next_position": 10, "rows": [{"id": str(i), "v": "a"} for i in range(1, 13)], "seq": 1},
    ])
    q = start_merge_stream(stream_changes(spark, feed, {"widgets": "id"}, db="shop"),
                           state, ckpt, key_bucket="auto")
    q.awaitTermination(120)

    # the stamped policy equals the shipped rule's derivation on the seed ids
    seed_ids = spark.createDataFrame([(str(i),) for i in range(1, 13)], "id string")
    expect = derive_auto_policy(seed_ids)
    with open(os.path.join(state, "_kb_policy.json")) as f:
        assert json.load(f) == expect.kb_identity()

    write_events(feed, [
        {"event_type": "update", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:01:00Z",
         "next_position": 20, "rows": [{"id": "3", "v": "b"}], "seq": 2},
        {"event_type": "delete", "db": "shop", "tbl": "widgets", "ts": "2026-01-01T00:02:00Z",
         "next_position": 30, "rows": [{"id": "7", "v": "a"}], "seq": 3},
    ], file_name="part-001.json")
    q2 = start_merge_stream(stream_changes(spark, feed, {"widgets": "id"}, db="shop"),
                            state, ckpt, key_bucket="auto")
    q2.awaitTermination(120)

    reader = MergeSink(spark, state, key_bucket="auto")
    got = {r["id"]: json.loads(r["content"])["v"] for r in reader.read_state().collect()}
    assert got == {str(i): ("b" if i == 3 else "a") for i in range(1, 13) if i != 7}
    assert isinstance(reader.key_bucket, KeyBucket)
    assert reader.key_bucket == expect


def test_compact_files_before_any_state_is_a_noop(spark, tmp_path):
    """Maintenance against a not-yet-seeded stream (cron firing early)
    compacts nothing and returns 0 — for plain, explicit-policy, and
    unresolved-auto sinks alike — instead of surfacing the compactor's
    FileNotFoundError from its size walk."""
    from dumpr_spark.streaming.sink import HashKeyBucket, MergeSink

    for name, kb in (("plain", None), ("bucketed", HashKeyBucket(8)),
                     ("auto", "auto")):
        sink = MergeSink(spark, str(tmp_path / f"nostate_{name}"), key_bucket=kb)
        assert sink.compact_files() == 0
        assert not os.path.exists(sink.state_path)


def test_auto_layout_ignores_error_rows_in_seed_batch(spark, tmp_path):
    """r14 review finding: with errors_path=None, in-band op='error' rows
    are still in the batch at resolve time (materialize drops them later)
    — an error row's NULL id must not flip the dispatch to hash and pin
    the wrong layout for the stream's lifetime. Both sinks derive from
    DATA rows only."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import (
        KeyBucket, MergeSink, derive_auto_policy,
    )

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda tbl, i, seq: ("upsert", tbl, str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731
    err = ("error", "orders", "", json.dumps({"reason": "bad row"}), None, "f1", 99, 99)

    seed = [up("orders", i, i) for i in range(1, 20)] + [err]
    data_ids = spark.createDataFrame([(str(i),) for i in range(1, 20)], "id string")
    expect = derive_auto_policy(data_ids)

    for cls, name in ((MergeSink, "m"), (HistorySink, "h")):
        sink = cls(spark, str(tmp_path / f"auto_err_{name}"), key_bucket="auto")
        sink(batch(seed), 0)
        assert isinstance(sink.key_bucket, KeyBucket), (
            f"{cls.__name__}: error row flipped auto dispatch to "
            f"{sink.key_bucket!r}"
        )
        assert sink.key_bucket == expect
        assert sink.read_state().count() == 19


def test_bucket_growth_check_skips_exotic_table_names(spark, tmp_path):
    """The growth check is advisory and must never break a merge: a table
    name that is not identity under URL quoting (space -> %20 dirs) is
    skipped by the footer walk (same guard as _read_touched's fallback),
    so the batch commits fine and no spurious warning fires even past the
    threshold."""
    import warnings

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "a b", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    sink = MergeSink(spark, str(tmp_path / "exotic_growth"),
                     key_bucket=KeyBucket(width=1000, origin=0),
                     growth_warn_rows_per_bucket=5)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        sink(batch([up(i, i) for i in range(20)]), 0)  # 20 rows >> 5
        assert [x for x in w if "growth threshold" in str(x.message)] == []
    assert sink.read_state().count() == 20


def test_suggest_migration_density_fallback_on_clustered_domain(spark, tmp_path):
    """r15 verdict item 2 (what's-wrong 3): on a CLUSTERED numeric domain
    (key islands), the re-derived equal-width RANGE layout concentrates
    whole islands into single buckets and would be outgrown the moment it
    is adopted — suggest_migration must detect that (census under the
    candidate layout) and fall back to HashKeyBucket at the same
    three-term count, whose md5 spread is density-independent."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import HashKeyBucket, KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    # ten 30-key islands spaced 1e9 apart: span ~9e9, n = k = 300
    ids = [i * 1_000_000_000 + j for i in range(10) for j in range(30)]
    sink = MergeSink(spark, str(tmp_path / "clustered"),
                     key_bucket=KeyBucket(width=10_000_000_000, origin=0),
                     growth_warn_rows_per_bucket=None)
    sink(batch([up(v, n) for n, v in enumerate(ids)]), 0)  # all in bucket 0

    # threshold 4 x 5 = 20; pinned layout worst = 300 -> outgrown. The
    # range candidate (three-term count capped at 64 -> width ~1.4e8)
    # holds each 30-row island inside ONE bucket: 30 > 20, still
    # outgrown -> hash fallback at the same capped count.
    pol = sink.suggest_migration(target_rows_per_bucket=5, max_buckets=64)
    assert pol == HashKeyBucket(n_buckets=64)

    # same state, generous threshold: fits -> None (fallback never
    # overrides the keep verdict)
    assert sink.suggest_migration(target_rows_per_bucket=300) is None


def test_suggest_migration_keeps_range_on_capbound_uniform_domain(spark, tmp_path):
    """The r16 30M measurement catch: on a UNIFORM domain with the bucket
    count cap-bound (a tight target at volume), the range candidate's
    censused worst EQUALS the ceil(n / nb) spread md5 hashing guarantees
    — no nb-bucket layout can fit the threshold, the binding constraint
    is the dials, and hash would only destroy key locality. The fallback
    must NOT fire: the range candidate is returned (hash requires the
    candidate to be worse than the uniform spread, not just over the
    threshold)."""
    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    # 3000 DENSE ids 0..2999 in one pinned bucket -> outgrown at target 5
    sink = MergeSink(spark, str(tmp_path / "capbound"),
                     key_bucket=KeyBucket(width=10**9, origin=0),
                     growth_warn_rows_per_bucket=None)
    sink(batch([up(i, i) for i in range(3000)]), 0)

    # three-term count: max(ceil(3000/5), ceil(3000/share)) caps at 64;
    # width = ceil(3000/64) = 47 -> candidate worst 47 > threshold 20,
    # but unif spread ceil(3000/64) = 47 too -> keep RANGE
    pol = sink.suggest_migration(target_rows_per_bucket=5, max_buckets=64)
    assert pol == KeyBucket(width=47, origin=0)


def test_growth_check_skips_unreadable_footers_and_never_raises(spark, tmp_path):
    """r15 advice item 1: the growth signal runs AFTER _commit swapped the
    batch in, so it must never throw — an unreadable (zero-byte / torn
    leftover) file in a slice is skipped, and the warning still fires
    from the readable footers."""
    import warnings

    from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA
    from dumpr_spark.streaming.sink import KeyBucket, MergeSink

    def batch(rows):
        return spark.createDataFrame(rows, ENVELOPE_SCHEMA)

    up = lambda i, seq: ("upsert", "orders", str(i), json.dumps({"id": i}), None, "f1", seq, seq)  # noqa: E731

    state = str(tmp_path / "torn")
    seed = MergeSink(spark, state, key_bucket=KeyBucket(width=1000, origin=0),
                     growth_warn_rows_per_bucket=None)
    seed(batch([up(i, i) for i in range(80)]), 0)  # 80 rows in bucket 0

    # a zero-byte parquet-named leftover in the slice: pq.ParquetFile raises
    slice_dir = os.path.join(state, "tbl=orders", "_kb=0")
    open(os.path.join(slice_dir, "zz-torn.parquet"), "wb").close()

    snk = MergeSink(spark, state, key_bucket=KeyBucket(width=1000, origin=0),
                    growth_warn_rows_per_bucket=50)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        snk._check_bucket_growth([("orders", 0)])  # must not raise
    hits = [x for x in w if "growth threshold" in str(x.message)]
    assert len(hits) == 1  # 80 readable rows > 50: signal intact


def test_ceil_div_share_exact_integer_arithmetic():
    """r15 advice item 3: the anti-blanketing floor's ceil(k / share) is
    exact integer arithmetic over the share's binary value — agrees with
    a rational reference for ANY share/k, and with the float path (the
    oracle's CEIL) at the power-of-two default where double is exact."""
    import math
    from fractions import Fraction

    from dumpr_spark.streaming.sink import (
        AUTO_TARGET_REWRITE_SHARE, _ceil_div_share,
    )

    for k in (0, 1, 7, 8, 1000, 2**53 + 1, 10**16, 10**18):
        for share in (0.125, 0.5, 1.0, 0.1, 0.3, 0.0078125):
            assert _ceil_div_share(k, share) == math.ceil(
                Fraction(k) / Fraction(share)
            ), (k, share)
    # oracle parity at the certified default (power-of-two): identical to
    # the float CEIL the DuckDB oracle computes while k is exactly
    # representable in a double (every driver-scale k by ~10 orders)
    for k in list(range(0, 2049)) + [10**12, 2**53 - 1]:
        assert (_ceil_div_share(k, AUTO_TARGET_REWRITE_SHARE)
                == math.ceil(k / AUTO_TARGET_REWRITE_SHARE))
    # the motivating drifts: float ceil disagrees off power-of-two shares,
    # and past 2^53 even at the default (k itself rounds in double)
    assert _ceil_div_share(10**16, 0.1) != math.ceil(10**16 / 0.1)
    assert _ceil_div_share(2**53 + 1, 0.125) == 2**56 + 8  # float: 2**56


def test_grow_warn_migrate_auto_restart_journey(spark, tmp_path):
    """r15 verdict item 3 — the full operator journey at STREAM level, one
    test: (1) auto seeds a range layout from a small first batch; (2) a
    later stream grows one slice past the warn threshold and the growth
    signal fires in-stream; (3) with the stream stopped, suggest_migration
    re-derives — and on this clustered-by-construction state falls back to
    a hash policy — and migrate_key_bucket re-cuts; (4) a restart with
    key_bucket="auto" adopts the MIGRATED policy, state is value-identical
    across the migration, and the warn latch is RE-ARMED (a fresh instance
    warns again when a slice of the new layout crosses its threshold)."""
    import hashlib
    import warnings

    from dumpr_spark.streaming.ingest import stream_changes
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, KeyBucket, MergeSink, derive_auto_policy,
        migrate_key_bucket, start_merge_stream,
    )

    feed = str(tmp_path / "j_feed")
    state = str(tmp_path / "j_state")
    ckpt = str(tmp_path / "j_ckpt")

    def changes():
        return stream_changes(spark, feed, {"widgets": "id"}, db="shop")

    # (1) seed: two ids spanning 1e6 -> auto pins a coarse range layout
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets",
         "ts": "2026-01-01T00:00:00Z", "next_position": 10,
         "rows": [{"id": "0", "v": "a"}, {"id": "1000000", "v": "a"}],
         "seq": 1},
    ])
    q1 = start_merge_stream(changes(), state, ckpt, key_bucket="auto",
                            growth_warn_rows_per_bucket=50)
    q1.awaitTermination(120)
    seed_ids = spark.createDataFrame([("0",), ("1000000",)], "id string")
    seeded = derive_auto_policy(seed_ids)
    assert isinstance(seeded, KeyBucket)
    with open(os.path.join(state, "_kb_policy.json")) as f:
        assert json.load(f) == seeded.kb_identity()

    # (2) growth: 80 keys land in the seeded layout's bucket 0 -> the
    # in-stream post-commit signal fires (once) on the restarted query
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets",
         "ts": "2026-01-01T00:01:00Z", "next_position": 20,
         "rows": [{"id": str(i), "v": "b"} for i in range(2, 82)],
         "seq": 2},
    ], file_name="part-001.json")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        q2 = start_merge_stream(changes(), state, ckpt, key_bucket="auto",
                                growth_warn_rows_per_bucket=50)
        q2.awaitTermination(120)
        assert len([x for x in w
                    if "growth threshold" in str(x.message)]) == 1

    # (3) stream stopped: re-derive + migrate. 82 live keys, 81 of them
    # clustered at the bottom of a 1e6 span -> the range candidate is
    # still outgrown -> hash fallback
    sink = MergeSink(spark, state, key_bucket="auto")
    pol = sink.suggest_migration(target_rows_per_bucket=10)
    assert isinstance(pol, HashKeyBucket)
    before = sorted(
        (r["id"], r["content"]) for r in sink.read_state().collect()
    )
    migrate_key_bucket(spark, state, pol)

    # (4a) auto restart adopts the MIGRATED policy; state value-identical
    adopted = MergeSink(spark, state, key_bucket="auto")
    after = sorted(
        (r["id"], r["content"]) for r in adopted.read_state().collect()
    )
    assert after == before
    assert adopted.key_bucket == pol

    # (4b) warn re-arming: a new stream instance over the new layout warns
    # again when one of ITS slices crosses the (tiny) threshold — drive a
    # second key into id "3"'s md5 bucket so that slice holds 2 rows
    nb = pol.n_buckets

    def bucket_of(s):
        return int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16) % nb

    collider = next(i for i in range(2_000_000, 3_000_000)
                    if bucket_of(i) == bucket_of("3"))
    write_events(feed, [
        {"event_type": "write", "db": "shop", "tbl": "widgets",
         "ts": "2026-01-01T00:02:00Z", "next_position": 30,
         "rows": [{"id": str(collider), "v": "c"}], "seq": 3},
    ], file_name="part-002.json")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        q3 = start_merge_stream(changes(), state, ckpt, key_bucket="auto",
                                growth_warn_rows_per_bucket=1)
        q3.awaitTermination(120)
        assert len([x for x in w
                    if "growth threshold" in str(x.message)]) == 1

    final = MergeSink(spark, state, key_bucket="auto")
    got = {r["id"] for r in final.read_state().collect()}
    assert str(collider) in got and len(got) == 83
