"""CDC core semantics: envelope, materializer fold, filters, positions.

Property tests mirror the reference's own strategy (SURVEY §5.1): random op
sequences folded by a pure-Python oracle (`into_entity_map`, a port of
test/dumpr/test_util.clj:110-123) must equal the engine's materialization.
"""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA, snapshot_to_changes, validate_envelope
from dumpr_spark.cdc.filters import filter_committed_txs, filter_database, filter_tables
from dumpr_spark.cdc.materialize import into_entity_map, materialize, merge_batch
from dumpr_spark.cdc.positions import next_position, stamp_binlog_filename, valid_binlog_pos


def make_changes(spark, rows):
    """rows: list of (op, tbl, id, content_dict_or_None, seq)."""
    data = [
        (op, tbl, str(id_), json.dumps(content) if content is not None else None,
         None, "binlog.000001", 1000 + seq, seq)
        for (op, tbl, id_, content, seq) in rows
    ]
    return spark.createDataFrame(data, ENVELOPE_SCHEMA)


def gen_ops(rng, n, tables=("widgets", "manufacturers"), keys=range(1, 30)):
    """Random legal op sequence, modeled on core_test.clj:16-127: upserts and
    deletes over two tables; deletes allowed for any key (fold drops no-ops)."""
    ops = []
    for seq in range(n):
        tbl = rng.choice(tables)
        key = rng.choice(list(keys))
        if rng.random() < 0.25:
            ops.append(("delete", tbl, key, {"id": key}, seq))
        else:
            ops.append(("upsert", tbl, key, {"id": key, "v": rng.randint(0, 10**6)}, seq))
    return ops


@pytest.mark.parametrize("test_seed", [7, 42, 1337])
def test_materialize_matches_fold_oracle(spark, test_seed):
    rng = random.Random(test_seed)
    ops = gen_ops(rng, 400)
    df = make_changes(spark, ops)
    got = {
        (r["tbl"], r["id"]): json.loads(r["content"])
        for r in materialize(df).collect()
    }
    want = into_entity_map(
        {"op": op, "tbl": t, "id": str(k), "content": c}
        for (op, t, k, c, _) in sorted(ops, key=lambda o: o[4])
    )
    assert got == {k: v for k, v in want.items()}


@pytest.mark.parametrize("test_seed", [3, 99])
def test_snapshot_plus_stream_split_equals_full_fold(spark, test_seed):
    """Port of the split-point property (core_test.clj:175-187): fold(prefix
    applied as snapshot) + fold(suffix as stream) == fold(whole sequence)."""
    rng = random.Random(test_seed)
    ops = gen_ops(rng, 300)
    split = rng.randint(50, 250)
    prefix, suffix = ops[:split], ops[split:]
    # snapshot = materialized prefix (as the DB state would be), re-emitted as upserts
    snap_state = into_entity_map(
        {"op": op, "tbl": t, "id": str(k), "content": c} for (op, t, k, c, _) in prefix
    )
    snap_rows = [
        ("upsert", tbl, id_, content, i)  # snapshot seqs precede stream seqs
        for i, ((tbl, id_), content) in enumerate(sorted(snap_state.items(), key=lambda kv: kv[0]))
    ]
    stream_rows = [(op, t, k, c, split + s) for (op, t, k, c, s) in suffix]
    df = make_changes(spark, snap_rows + [(op, t, str(k), c, s) for (op, t, k, c, s) in stream_rows])
    got = {(r["tbl"], r["id"]): json.loads(r["content"]) for r in materialize(df).collect()}
    want = into_entity_map(
        {"op": op, "tbl": t, "id": str(k), "content": c}
        for (op, t, k, c, _) in sorted(ops, key=lambda o: o[4])
    )
    assert got == want


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _op = st.tuples(
        st.sampled_from(["upsert", "upsert", "upsert", "delete"]),  # 3:1 like the ref generator
        st.sampled_from(["widgets", "manufacturers"]),
        st.integers(min_value=1, max_value=12),  # small key space => churn
        st.integers(min_value=0, max_value=10**6),
    )

    @given(
        ops=st.lists(_op, min_size=1, max_size=120),
        table_filter=st.sampled_from([None, ("widgets",), ("widgets", "manufacturers"), ()]),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_materialize_fold_property(spark, ops, table_filter):
        """Generative port of the reference property (core_test.clj:163-187,
        incl. the table-filter variation at :177): for ANY op sequence and ANY
        table filter, engine materialization == pure fold of the filtered ops."""
        rows = [
            (op, tbl, key, {"id": key, "v": v} if op == "upsert" else {"id": key}, seq)
            for seq, (op, tbl, key, v) in enumerate(ops)
        ]
        df = filter_tables(make_changes(spark, rows), table_filter)
        got = {
            (r["tbl"], r["id"]): json.loads(r["content"]) for r in materialize(df).collect()
        }
        allowed = set(table_filter) if table_filter else None
        want = into_entity_map(
            {"op": op, "tbl": t, "id": str(k), "content": c}
            for (op, t, k, c, _) in rows
            if allowed is None or t in allowed
        )
        assert got == want

except ImportError:  # pragma: no cover - hypothesis is in the container
    pass


def test_multirow_bulk_update_delete(spark):
    """Mirror of streaming-multirow-updates (core_test.clj:190-226): bulk
    upserts then a bulk update + bulk delete; all updates seen, deletes applied."""
    n = 300
    inserts = [("upsert", "widgets", i, {"id": i, "v": 0}, i) for i in range(1, n + 1)]
    updates = [("upsert", "widgets", i, {"id": i, "v": 1}, n + i) for i in range(1, n + 1)]
    deletes = [("delete", "widgets", i, {"id": i}, 2 * n + i) for i in range(1, n // 2 + 1)]
    df = make_changes(spark, inserts + updates + deletes)
    out = materialize(df).collect()
    assert len(out) == n - n // 2
    assert all(json.loads(r["content"])["v"] == 1 for r in out)


def test_merge_batch_idempotent(spark):
    """Replaying a batch must be a no-op (exactly-once resume contract)."""
    base = make_changes(spark, [("upsert", "w", 1, {"id": 1, "v": 0}, 0)])
    batch = make_changes(
        spark,
        [("upsert", "w", 1, {"id": 1, "v": 5}, 10), ("delete", "w", 2, {"id": 2}, 11)],
    )
    once = merge_batch(materialize(base), batch)
    twice = merge_batch(once, batch)
    assert sorted(map(tuple, once.select("tbl", "id", "content", "seq").collect())) == sorted(
        map(tuple, twice.select("tbl", "id", "content", "seq").collect())
    )


def test_snapshot_to_changes_shape_and_order(engine):
    """Snapshot rows: op=upsert, NULL meta (row_format.clj:10); multi-table
    order reified in seq (core.clj:85-89)."""
    ch = engine.snapshot_changes({"region": "r_regionkey", "nation": "n_nationkey"})
    assert [(f.name, f.dataType) for f in ch.schema.fields] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA.fields
    ]
    rows = ch.collect()
    assert all(r["op"] == "upsert" and r["ts"] is None and r["next_file"] is None for r in rows)
    max_region_seq = max(r["seq"] for r in rows if r["tbl"] == "region")
    min_nation_seq = min(r["seq"] for r in rows if r["tbl"] == "nation")
    assert max_region_seq < min_nation_seq
    region = engine.table("region")
    got_names = {
        json.loads(r["content"])["r_name"] for r in rows if r["tbl"] == "region"
    }
    assert got_names == {r["r_name"] for r in region.collect()}


def test_validate_envelope_routes_errors_in_band(spark):
    data = [
        ("upsert", "w", None, json.dumps({"id": 1}), None, None, None, 0),  # null id
        ("delete", "w", "2", None, None, None, None, 1),  # delete w/o meta
        ("upsert", "w", "3", json.dumps({"id": 3}), None, None, None, 2),  # fine
    ]
    df = spark.createDataFrame(
        data,
        "op string, tbl string, id string, content string, ts timestamp, "
        "next_file string, next_position long, seq long",
    )
    out = validate_envelope(df).collect()
    by_seq = {r["seq"]: r for r in out}
    assert by_seq[0]["op"] == "error"
    assert by_seq[1]["op"] == "error"
    assert by_seq[2]["op"] == "upsert"
    # errors never reach materialized state
    assert materialize(validate_envelope(df)).count() == 1


def test_filter_database_and_tables(spark):
    df = spark.createDataFrame(
        [("db1", "a", 0), ("db2", "a", 1), ("db1", "b", 2), ("db1", None, 3)],
        "db string, tbl string, seq long",
    )
    assert {r["seq"] for r in filter_database(df, "db1").collect()} == {0, 2, 3}
    assert {r["seq"] for r in filter_tables(df, ["a"]).collect()} == {0, 1, 3}
    assert filter_tables(df, None).count() == 4
    assert filter_tables(df, []).count() == 4


def test_tx_filter_commit_rollback(spark):
    """R4 semantics (stream.clj:22-54): committed tx rows pass, rolled-back
    dropped, markers stripped."""
    rows = [
        ("tx-begin", 0), ("write", 1), ("write", 2), ("tx-commit", 3),
        ("tx-begin", 4), ("write", 5), ("tx-rollback", 6),
        ("tx-begin", 7), ("write", 8), ("tx-commit", 9),
    ]
    df = spark.createDataFrame(rows, "event_type string, seq long")
    out = sorted(r["seq"] for r in filter_committed_txs(df).collect())
    assert out == [1, 2, 8]


def _jvm_fold_rows(df):
    """The rows the JVM tx fold (`dumpr_spark/jvm/TxFilter.java`) releases
    from the batch frame `df`, as tuples in seq order."""
    from dumpr_spark.streaming.state import streaming_tx_filter

    return sorted((tuple(r) for r in streaming_tx_filter(df).collect()), key=lambda t: t[-1])


def test_tx_filter_passes_out_of_tx_rows_like_streaming(spark):
    """Rows BETWEEN transactions (after a commit/rollback, before the next
    begin) pass straight through — the reference releases out-of-tx input
    immediately (stream.clj:52, `(rf result input)`; non-transactional
    binlog events like DDL must survive). The batch form, the reference
    fold (`_fold_tx_rows`) and the JVM one agree."""
    import pandas as pd

    from dumpr_spark.streaming.state import _fold_tx_rows

    rows = [
        ("s1", "tx-begin", None, None, 0), ("s1", "write", "w", "r1", 1),
        ("s1", "tx-commit", None, None, 2),
        ("s1", "write", "w", "orphan", 3),  # outside any tx
        ("s1", "tx-begin", None, None, 4), ("s1", "write", "w", "r2", 5),
        ("s1", "tx-commit", None, None, 6),
    ]
    df = spark.createDataFrame(rows, "source string, event_type string, tbl string, payload string, seq long")
    batch_seqs = sorted(r["seq"] for r in filter_committed_txs(df).collect())
    pdf = pd.DataFrame(rows, columns=["source", "event_type", "tbl", "payload", "seq"])
    released, _, _ = _fold_tx_rows(pdf, False, [])
    stream_seqs = sorted(r["seq"] for r in released)
    assert batch_seqs == stream_seqs == [1, 3, 5]
    assert _jvm_fold_rows(df) == [tuple(r.values()) for r in released]


def test_tx_filter_batch_equals_streaming_fold_property(spark):
    """Property (r2 VERDICT #8): on RANDOM marker/row sequences the batch
    window form (`filter_committed_txs`), the reference fold
    (`_fold_tx_rows`) and the JVM one (`TxFilter`, run over the same batch
    frame) release exactly the same row set — commits release,
    rollbacks discard, rows outside any tx pass straight through, a nested
    re-begin keeps the open buffer (reference start-tx only flips the flag),
    and a trailing open tx releases nothing (the streaming side keeps it
    buffered; the batch side sees no commit). Reference semantics:
    stream.clj:22-54."""
    import pandas as pd
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from dumpr_spark.cdc.filters import _TX_MARKERS
    from dumpr_spark.streaming.state import _fold_tx_rows

    cols = ["source", "event_type", "tbl", "payload", "seq"]
    markers = set(_TX_MARKERS)

    @settings(max_examples=40, deadline=None)
    @example(types=["tx-begin", "write", "tx-begin", "tx-commit"])  # nested begin
    @given(
        types=st.lists(
            st.sampled_from(["tx-begin", "tx-commit", "tx-rollback", "write", "update"]),
            max_size=30,
        )
    )
    def check(types):
        rows = [
            ("s1", et, "w" if et not in markers else None,
             f"p{i}" if et not in markers else None, i)
            for i, et in enumerate(types)
        ]
        df = spark.createDataFrame(
            rows, "source string, event_type string, tbl string, payload string, seq long"
        )
        batch_seqs = sorted(r["seq"] for r in filter_committed_txs(df).collect())
        released, in_tx, buf = _fold_tx_rows(pd.DataFrame(rows, columns=cols), False, [])
        stream_seqs = sorted(r["seq"] for r in released)
        assert batch_seqs == stream_seqs, (types, batch_seqs, stream_seqs)
        # the JVM fold releases the reference fold's rows, field for field
        jvm_rows = _jvm_fold_rows(df)
        assert jvm_rows == sorted((tuple(r.values()) for r in released),
                                  key=lambda t: t[-1]), (types, jvm_rows)
        # the streaming buffer only ever holds rows of the one open tx
        assert in_tx or buf == []

    check()


def test_binlog_filename_stamping_many_rotates_carry(spark):
    """r17 prefix-scan internals: with MORE rotates than the parallelism,
    the bucket bounds are a strict subsample of the rotate seqs (step > 1),
    so buckets hold several rotates each and cross-bucket stamps exercise
    the carry literal — data events at bucket fronts (before their
    bucket's first in-bucket rotate), at rotate seqs exactly (rotate wins
    the tie), and before the first rotate anywhere (init fallback). The
    reference is a pure-Python bisect."""
    import bisect

    rot_seqs = list(range(10, 4010, 10))  # 400 rotates >> 32-ish parallelism
    rotates = [(s, f"binlog.{i:06d}") for i, s in enumerate(rot_seqs, start=2)]
    # events: one right below / at / right above every 37th rotate seq,
    # plus a run before the first rotate
    ev_seqs = [1, 2, 9]
    for s in rot_seqs[::37]:
        ev_seqs += [s - 1, s, s + 1]
    rows = [(f, None, s) for s, f in rotates] + [(None, "write", s) for s in ev_seqs]
    df = spark.createDataFrame(rows, "rotate_file string, event_type string, seq long")
    got = {r["seq"]: r["next_file"]
           for r in stamp_binlog_filename(df, "init.000001").collect()}
    assert len(got) == len(set(ev_seqs))
    for s in ev_seqs:
        i = bisect.bisect_right(rot_seqs, s)
        want = rotates[i - 1][1] if i else "init.000001"
        assert got[s] == want, (s, got[s], want)


def test_binlog_filename_stamping(spark):
    """R5 (stream.clj:56-74): rotate events consumed, filename carried."""
    rows = [
        (None, "write", 0), ("binlog.000002", "rotate", 1), (None, "write", 2),
        (None, "write", 3), ("binlog.000003", "rotate", 4), (None, "write", 5),
    ]
    df = spark.createDataFrame(rows, "rotate_file string, event_type string, seq long")
    out = {r["seq"]: r["next_file"] for r in stamp_binlog_filename(df, "binlog.000001").collect()}
    assert out == {0: "binlog.000001", 2: "binlog.000002", 3: "binlog.000002", 5: "binlog.000003"}


def test_next_position_and_validation(spark):
    df = spark.createDataFrame(
        [
            ("upsert", "w", "1", None, None, "binlog.000001", 100, 0),
            ("upsert", "w", "2", None, None, "binlog.000002", 50, 5),
            ("upsert", "w", "3", None, None, "binlog.000001", 999, 3),
        ],
        ENVELOPE_SCHEMA,
    )
    pos = next_position(df)
    assert pos == {"file": "binlog.000002", "position": 50}
    logs = [{"log_name": "binlog.000002", "file_size": 60}]
    assert valid_binlog_pos(pos, logs)
    assert not valid_binlog_pos({"file": "binlog.000009", "position": 1}, logs)
    assert not valid_binlog_pos({"file": "binlog.000002", "position": 100}, logs)


def test_custom_id_fn_expression_and_udf(spark):
    """Custom id-fns (core.clj:59-64): a composite-key expression and an
    arbitrary Python UDF, both as id derivations over the row image."""
    from pyspark.sql.types import StringType

    from dumpr_spark.sources.cdc_json import EVENT_SCHEMA, events_to_changes

    events = spark.createDataFrame(
        [
            ("write", "shop", "pairs", None, 10, None, None,
             [{"a": "x", "b": "1"}, {"a": "y", "b": "2"}], 1),
            ("write", "shop", "weird", None, 20, None, None, [{"k": "abc"}], 2),
        ],
        EVENT_SCHEMA,
    )
    rev = F.udf(lambda s: s[::-1] if s else None, StringType())
    changes = events_to_changes(
        events,
        {
            "pairs": F.concat(F.col("row")["a"], F.lit("/"), F.col("row")["b"]),
            "weird": rev(F.col("row")["k"]),
        },
    )
    got = {r["tbl"]: set() for r in changes.collect()}
    for r in changes.collect():
        got[r["tbl"]].add(r["id"])
    assert got == {"pairs": {"x/1", "y/2"}, "weird": {"cba"}}


def test_parse_event_lines_raw_feed_to_state(spark):
    """R3 raw-feed path: kafka-value-shaped strings -> from_json parse (bad
    records drop, nil => removed, events.clj:70-71) -> envelope -> fold."""
    from dumpr_spark.sources.cdc_json import events_to_changes, parse_event_lines

    lines = [
        json.dumps({"event_type": "write", "db": "shop", "tbl": "w",
                    "ts": "2026-01-01T00:00:00Z", "next_position": 1,
                    "rows": [{"id": "1", "v": "a"}], "seq": 1}),
        "not json at all {{",
        json.dumps({"no_event_type_field": True}),
        json.dumps({"event_type": "delete", "db": "shop", "tbl": "w",
                    "ts": "2026-01-01T00:01:00Z", "next_position": 2,
                    "rows": [{"id": "1", "v": "a"}], "seq": 2}),
        json.dumps({"event_type": "write", "db": "shop", "tbl": "w",
                    "ts": "2026-01-01T00:02:00Z", "next_position": 3,
                    "rows": [{"id": "2", "v": "b"}], "seq": 3}),
    ]
    raw = spark.createDataFrame([(x,) for x in lines], "value STRING")
    events = parse_event_lines(raw)
    assert events.count() == 3  # two malformed records dropped at parse

    state = materialize(events_to_changes(events, {"w": "id"}))
    got = {r["id"]: json.loads(r["content"])["v"] for r in state.collect()}
    assert got == {"2": "b"}  # id=1 deleted by seq 2


def test_debezium_egress_roundtrip(spark):
    """changes_to_debezium is the inverse of the Debezium ingest path:
    envelope -> wire JSON -> parse_debezium_lines -> debezium_to_changes
    reproduces op/tbl/id/row-image/ts, and the re-packed seq preserves the
    original feed order (position order survives the round-trip even though
    the engine-internal seq value itself is re-derived)."""
    import datetime as dt

    from dumpr_spark.sources.cdc_json import (
        changes_to_debezium, debezium_to_changes, parse_debezium_lines,
    )

    rows = [
        ("upsert", "users", "1", '{"pk":"1","name":"ann"}',
         dt.datetime(2026, 1, 1, 0, 0, 0), "bin.000001", 100, (1 << 42) + (100 << 10) + 0),
        ("upsert", "users", "2", '{"pk":"2","name":"bob"}',
         dt.datetime(2026, 1, 1, 0, 0, 1), "bin.000001", 200, (1 << 42) + (200 << 10) + 1),
        ("delete", "users", "1", '{"pk":"1","name":"ann"}',
         dt.datetime(2026, 1, 1, 0, 0, 2), "bin.000002", 50, (2 << 42) + (50 << 10) + 0),
    ]
    env = spark.createDataFrame(
        rows,
        "op string, tbl string, id string, content string, ts timestamp, "
        "next_file string, next_position long, seq long",
    )
    wire = changes_to_debezium(env, db="appdb")
    back = debezium_to_changes(
        parse_debezium_lines(wire), id_cols={"users": "pk"}
    ).orderBy("seq").collect()

    assert [r["op"] for r in back] == ["upsert", "upsert", "delete"]
    assert [r["id"] for r in back] == ["1", "2", "1"]
    assert [r["tbl"] for r in back] == ["users"] * 3
    assert [r["ts"] for r in back] == [r[4] for r in rows]
    # row image survives (delete carries its before-image)
    import json

    assert [json.loads(r["content"]) for r in back] == [json.loads(r[3]) for r in rows]
    # re-derived seqs are distinct and strictly increasing in the original
    # feed order (the orderBy("seq") id check above is the order assertion;
    # this pins that no two events collapsed to a tie)
    back_seqs = [r["seq"] for r in back]
    assert len(set(back_seqs)) == 3 and back_seqs == sorted(back_seqs)


def test_debezium_egress_oversized_event_never_inverts_order(spark):
    """events_to_changes packs the row ordinal into seq's low 16 bits while
    the Debezium wire budget is 10 bits: rows past 1023 must degrade to a
    TIE at the clamp after the round-trip, never re-order BEFORE earlier
    rows (a wrap to 0 would make the materialize fold keep a stale image)."""
    import datetime as dt

    from dumpr_spark.sources.cdc_json import (
        changes_to_debezium, debezium_to_changes, parse_debezium_lines,
    )

    ts = dt.datetime(2026, 1, 1)
    mk = lambda row_idx, v: (  # noqa: E731 - one 1500-row event, seq = e<<16 | row
        "upsert", "users", "9", '{"pk":"9","v":"%s"}' % v, ts,
        "bin.000001", 77, (5 << 16) + row_idx,
    )
    env = spark.createDataFrame(
        [mk(1023, "old"), mk(1024, "new")],
        "op string, tbl string, id string, content string, ts timestamp, "
        "next_file string, next_position long, seq long",
    )
    back = (
        debezium_to_changes(
            parse_debezium_lines(changes_to_debezium(env, db="appdb")),
            id_cols={"users": "pk"},
        )
        .select("seq", "content")
        .collect()
    )
    s = {r["content"]: r["seq"] for r in back}
    old_seq, new_seq = s['{"pk":"9","v":"old"}'], s['{"pk":"9","v":"new"}']
    assert new_seq >= old_seq  # tie at the clamp is fine; inversion is not


def test_debezium_roundtrip_fold_equality_past_clamp(spark):
    """Property (VERDICT r4 #6): for events whose row count EXCEEDS the wire
    adapter's 1024-row seq budget, the documented degrade path is a tie at
    the clamp — never an inversion — so the entity-map fold over the
    round-tripped envelope must equal the fold over the original whenever
    each key appears at most once per event (the bulk-insert/update shape;
    intra-event re-writes of one key are the only information the clamp can
    lose). Randomized event sizes straddling 1024, overlapping key ranges
    across events so inter-event last-write-wins is exercised too."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dumpr_spark.sources.cdc_json import (
        changes_to_debezium, debezium_to_changes, parse_debezium_lines,
    )

    schema = (
        "op string, tbl string, id string, content string, ts timestamp, "
        "next_file string, next_position long, seq long"
    )

    @settings(
        max_examples=3, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(sizes=st.lists(st.integers(1000, 1300), min_size=2, max_size=3))
    def prop(sizes):
        ts = dt.datetime(2026, 1, 1)
        rows = []
        for e, n in enumerate(sizes, start=1):
            for i in range(n):  # one row per distinct key per event
                rows.append((
                    "upsert", "users", str(i),
                    '{"pk":"%d","v":"e%dr%d"}' % (i, e, i), ts,
                    "bin.000001", 100 * e, (e << 16) + i,
                ))
        env = spark.createDataFrame(rows, schema)
        back = debezium_to_changes(
            parse_debezium_lines(changes_to_debezium(env, db="appdb")),
            id_cols={"users": "pk"},
        )
        folded = {
            r["id"]: json.loads(r["content"])["v"]
            for r in materialize(back).collect()
        }
        # pure-Python expected fold: per key, the image from the LAST event
        # containing it (intra-event each key occurs once, so the clamp tie
        # cannot change the winner)
        expected = {}
        for e, n in enumerate(sizes, start=1):
            for i in range(n):
                expected[str(i)] = f"e{e}r{i}"
        assert folded == expected
        # and fold(original) == fold(roundtrip), column-for-column values
        orig = {
            r["id"]: json.loads(r["content"])["v"]
            for r in materialize(env).collect()
        }
        assert folded == orig

    prop()


def test_debezium_row_ordinal_carry_is_lossless(spark):
    """ADVICE r4: re-deriving source.row from seq is only faithful for
    events_to_changes-packed seqs. The lossless path — debezium_to_changes
    (carry_row_ordinal=True) -> changes_to_debezium — must republish the
    ORIGINAL wire row ordinal even for Debezium-origin seqs whose low bits
    are position data, and the default (no carry) keeps the canonical
    8-column envelope."""
    import datetime as dt  # noqa: F401

    from dumpr_spark.sources.cdc_json import (
        changes_to_debezium, debezium_to_changes, parse_debezium_lines,
    )

    wire_in = spark.createDataFrame(
        [(json.dumps({"payload": {
            "before": None, "after": {"pk": "7", "v": "x"}, "op": "u",
            "ts_ms": 1767225600000,
            # pos=333 has low bits set: the seq-derived row would be bogus
            "source": {"db": "appdb", "table": "users", "file": "bin.000009",
                        "pos": 333, "row": 5},
        }}),)],
        "value string",
    )
    env = debezium_to_changes(
        parse_debezium_lines(wire_in), id_cols={"users": "pk"},
        carry_row_ordinal=True,
    )
    assert env.columns[-1] == "row_ordinal"
    republished = parse_debezium_lines(
        changes_to_debezium(env, db="appdb")
    ).select("source.row").first()
    assert republished["row"] == 5  # original ordinal, not (pos&63)<<10|row
    # default shape unchanged: canonical envelope, derived-row path
    env8 = debezium_to_changes(parse_debezium_lines(wire_in), id_cols={"users": "pk"})
    assert "row_ordinal" not in env8.columns and len(env8.columns) == 8


def test_binlog_filename_stamping_random_layouts(spark):
    """Property: the unrolled binary-search literal as-of lookup equals a
    pure-Python bisect over random rotate/event layouts — duplicate event
    seqs, events at a rotate's seq +/- 1, all events before the first
    rotate, a single rotate (probe-count edge), and perfect-square counts
    (boundary edges). Pins the ceil(log2 n) probe arithmetic the
    single-fixture test cannot reach."""
    import bisect
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.integers(0, 2**32 - 1))
    def check(seed):
        rng = random.Random(seed)
        n_rot = rng.choice([0, 1, 2, 4, 9, 16, 23])
        rot_seqs = sorted(rng.sample(range(0, 10_000, 2), n_rot)) if n_rot else []
        rotates = [(s, f"binlog.{i:06d}") for i, s in enumerate(rot_seqs, start=2)]
        n_ev = rng.randint(1, 60)
        ev_seqs = [rng.randrange(0, 10_000) for _ in range(n_ev)]
        # adversarial placements: duplicates and rotate-adjacent seqs
        if rotates:
            ev_seqs += [rotates[0][0] - 1, rotates[0][0] + 1, rotates[-1][0] + 1]
        ev_seqs += [ev_seqs[0]] * 2

        rows = [(f, None, s) for s, f in rotates] + [
            (None, "write", s) for s in ev_seqs
        ]
        rng.shuffle(rows)
        df = spark.createDataFrame(
            rows, "rotate_file string, event_type string, seq long"
        )
        got = [
            (r["seq"], r["next_file"])
            for r in stamp_binlog_filename(df, "init.000001").collect()
        ]
        assert len(got) == len(ev_seqs)
        for s, f in got:
            i = bisect.bisect_right(rot_seqs, s)
            want = rotates[i - 1][1] if i else "init.000001"
            assert f == want, (seed, s, f, want, rot_seqs)

    check()
