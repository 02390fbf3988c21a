"""Arbitrary stateful streaming ops (SURVEY §2.2-H). First the transaction
filter, the streaming twin of the reference's stateful transducer (R4,
stream.clj:22-54).

State per source key: (in_tx, buffered rows). tx-begin opens a buffer,
tx-commit releases it downstream, tx-rollback discards it, markers are
stripped; rows OUTSIDE any transaction pass straight through (reference
boolean semantics, stream.clj:22-54) — and a transaction that spans
micro-batches survives in the state store (the reference's channel
transducer gets this for free from ordering; here the state store +
checkpoint make it restart-safe).

The filter is `dumpr_spark.jvm.TxFilter`, from the engine jar
(`session.engine_jar`), a `flatMapGroupsWithState` plan node with state
`(in_tx boolean, buffer binary)`: a micro-batch runs scan, shuffle by
source, fold and sink in the JVM and starts no Python worker. (The buffer
is bytes, not an `array<struct>`, because Spark re-resolves the state
deserializer every micro-batch and an array in it compiles a new
projection class each time.) `_fold_tx_rows` is the same state machine in
Python, the reference the tests hold `TxFilter` to. Migration: in a
session without a JDK, earlier builds ran that fold as a pandas state
operator (`FlatMapGroupsInPandasWithState`). Spark refuses to restart such
a checkpoint under `TxFilter`
(STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA: the operator
names differ), so a stream checkpointed by the pandas fold needs a fresh
checkpoint.

Scale note: the filter is keyed by `source` (connection/shard id). One key is
inherently serial — exactly as serial as the binlog itself; many sources
parallelize across keys. With a Debezium-shaped (commit-filtered) feed this
operator disappears entirely (SURVEY §4.2.3).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

TX_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType(), True),
        StructField("event_type", StringType(), True),
        StructField("tbl", StringType(), True),
        StructField("payload", StringType(), True),
        StructField("seq", LongType(), True),
    ]
)


def streaming_tx_filter(events: DataFrame) -> DataFrame:
    """events: streaming frame with (source, event_type, tbl, payload, seq).
    Returns rows of committed transactions PLUS rows arriving outside any
    transaction (non-transactional events pass straight through, matching
    the reference transducer and the batch form); markers stripped.

    The fold is the engine jar's `TxFilter`, declared in append mode. A
    session whose JVM cannot load it (one not built by `get_spark`) raises:
    put `session.engine_jar()` on its classpath, with `--jars` on a
    cluster."""
    spark = events.sparkSession
    fold = spark._jvm.dumpr_spark.jvm.TxFilter
    if not isinstance(fold, JavaClass):
        raise RuntimeError(
            "dumpr_spark.jvm.TxFilter does not load in this session's JVM: start the "
            "session with get_spark, or pass dumpr_spark.session.engine_jar() with --jars")
    return DataFrame(fold.apply(events._jdf), spark)


def _fold_tx_rows(rows: pd.DataFrame, in_tx: bool, buf: list[dict]):
    """The tx fold over one source's rows in seq order: returns
    (released, in_tx, buf)."""
    out: list[dict] = []
    for r in rows.sort_values("seq").itertuples(index=False):
        et = r.event_type
        if et == "tx-begin":
            # reference start-tx only sets the flag (stream.clj:36) — a
            # nested begin keeps the already-buffered rows
            in_tx = True
        elif et == "tx-commit":
            out.extend(buf)
            in_tx, buf = False, []
        elif et == "tx-rollback":
            in_tx, buf = False, []
        else:
            row = {"source": r.source, "event_type": et, "tbl": r.tbl,
                   "payload": r.payload, "seq": int(r.seq)}
            if in_tx:
                buf.append(row)
            else:
                # out-of-tx events (DDL, non-transactional tables) pass
                # straight through, mirroring (rf result input) stream.clj:52
                out.append(row)
    return out, in_tx, buf


# --------------------------------------------------------------------------
# Stateful EWMA anomaly scoring
# --------------------------------------------------------------------------

EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("value", DoubleType(), True),
        StructField("ewma", DoubleType(), True),
        StructField("is_anomaly", BooleanType(), True),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("mean", DoubleType(), True),
        StructField("n", LongType(), True),
    ]
)


def ewma_anomalies(
    events: DataFrame, alpha: float = 0.3, threshold: float = 3.0, warmup: int = 3
) -> DataFrame:
    """Per-key streaming EWMA anomaly flagging (`applyInPandasWithState`).

    State per user is TWO scalars (running EWMA + count) — constant memory
    per key no matter the stream length, the property that makes arbitrary
    stateful ops survive at key cardinality x stream length scale. Rows are
    folded in `seq` order within each micro-batch; a value deviating from
    the pre-update EWMA by more than `threshold` x the EWMA's magnitude
    (after `warmup` observations) flags. Pure-python fold over Arrow
    batches; deterministic given per-key ordered seq, so the batch oracle
    in tests is an exact replay."""

    def fold(key, pdfs, state):
        mean, n = (state.get if state.exists else (0.0, 0))
        rows = pd.concat(list(pdfs)).sort_values("seq")
        out = []
        for r in rows.itertuples(index=False):
            v = float(r.value)
            anomalous = bool(n >= warmup and abs(v - mean) > threshold * max(abs(mean), 1e-9))
            mean = v if n == 0 else alpha * v + (1 - alpha) * mean
            n += 1
            out.append((int(r.user_id), int(r.seq), v, mean, anomalous))
        state.update((mean, n))
        yield pd.DataFrame(out, columns=[f.name for f in EWMA_OUT_SCHEMA.fields])

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming heavy hitters (Misra-Gries) — bounded memory over an unbounded
# key domain
# --------------------------------------------------------------------------

MG_OUT_SCHEMA = StructType(
    [
        StructField("shard", LongType(), True),
        StructField("key", StringType(), True),
        StructField("count_lb", LongType(), True),
        StructField("n_seen", LongType(), True),
    ]
)

_MG_STATE_SCHEMA = StructType(
    [
        StructField("keys", StringType(), True),   # JSON array of keys
        StructField("counts", StringType(), True), # JSON array of counts
        StructField("n", LongType(), True),
    ]
)


def mg_fold(counters: dict, keys, k: int) -> tuple[dict, int]:
    """The Misra-Gries step, factored out of the Spark closure so property
    tests can drive it at high example counts without a SparkSession:
    returns (updated counters, rows consumed). Increment a tracked key,
    insert while below capacity, else decrement ALL counters and drop the
    zeros (the step that buys the n/(k+1) undercount bound)."""
    n = 0
    for kv in keys:
        n += 1
        if kv in counters:
            counters[kv] += 1
        elif len(counters) < k:
            counters[kv] = 1
        else:
            counters = {x: v - 1 for x, v in counters.items() if v > 1}
    return counters, n


def streaming_heavy_hitters_mg(
    events: DataFrame,
    key_col: str = "key",
    k: int = 8,
    shards: int = 8,
    order_col: str = "seq",
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: at most `k` counters per shard
    no matter how many distinct keys the stream carries — the bounded-memory
    property `stream_heavy_hitters`' exact batch form does not have (an
    exact count table grows with the key domain; this state never does).

    Keys are hash-sharded so the `shards` summaries build in parallel and a
    key's events all land in ONE shard — the per-shard MG guarantee (every
    key with true count > n_shard/(k+1) is present; stored count
    undercounts by at most n_shard/(k+1)) therefore applies per key
    globally, and the union of shard summaries is the distributed summary
    (mergeable-summaries shape: disjoint key domains union trivially).
    Each micro-batch emits the shard's CURRENT summary stamped with
    `n_seen`; readers take the rows with each shard's max n_seen. Rows fold
    in `order_col` order within a batch for cross-run determinism (MG's
    guarantee is order-free, but the exact counter values are not)."""

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            keys_j, counts_j, n = state.get
            c = dict(zip(json.loads(keys_j), json.loads(counts_j)))
        else:
            c, n = {}, 0
        rows = pd.concat(list(pdfs)).sort_values(order_col)
        c, seen = mg_fold(c, rows[key_col].astype(str), k)
        n += seen
        state.update((json.dumps(sorted(c)), json.dumps([c[x] for x in sorted(c)]), n))
        shard_id = int(key[0])
        yield pd.DataFrame(
            [(shard_id, x, int(v), int(n)) for x, v in c.items()],
            columns=[f.name for f in MG_OUT_SCHEMA.fields],
        )

    sharded = events.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(shards))
    )
    return sharded.groupBy("_shard").applyInPandasWithState(
        fold,
        outputStructType=MG_OUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GAPFILL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("h", LongType(), True),  # hour epoch seconds
        StructField("value_filled", DoubleType(), True),
        StructField("is_gap", BooleanType(), True),
    ]
)

_GAPFILL_STATE_SCHEMA = StructType(
    [
        StructField("last_h", LongType(), True),   # last emitted hour (epoch s)
        StructField("last_v", DoubleType(), True),
    ]
)

_HOUR = 3600


def streaming_gapfill_locf(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = "event_id",
) -> DataFrame:
    """Streaming twin of the `events_gapfill` batch query: per entity,
    last-observation-carried-forward over an hourly grid, with gap hours
    emitted as `is_gap=True` rows the moment a later observation proves the
    gap closed. State per entity is two scalars (last emitted hour + last
    value) — constant memory per entity regardless of stream length, and a
    gap of G hours emits G rows without buffering them.

    In-order contract: observations must arrive per-entity in event-time
    order (the CDC feed's per-key guarantee; enforce upstream with a
    watermark + sorted feed otherwise). A late row older than the entity's
    last emitted hour is DROPPED — the batch twin, which sees all data,
    is the replay/repair path, exactly like the reference's snapshot-vs-
    stream split. Equal-ts observations are ordered by `tiebreak_col`
    (matching the batch twin's max_by(value, struct(ts, event_id)) total
    order); pass tiebreak_col=None only when timestamps are unique per
    entity — without a tiebreak, which equal-ts row wins depends on
    arrival order."""

    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    sel_cols = [entity_col] + sort_cols + [value_col]

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        last_h, last_v = state.get if state.exists else (None, None)
        rows = pd.concat(list(pdfs)).sort_values(sort_cols)
        # pin ns resolution before the epoch cast: astype(int64) on a
        # datetime64[us] column silently yields MICROseconds
        ts_ns = rows[ts_col].astype("datetime64[ns]").astype("int64")
        hours = (ts_ns // 10**9 // _HOUR) * _HOUR
        out = []
        uid = int(key[0])
        for h, v in zip(hours, rows[value_col].astype(float)):
            h = int(h)
            if last_h is not None and h <= last_h:
                if h == last_h:
                    # multiple observations in one hour: last by ts wins.
                    # Replace only a row still unpublished (this batch);
                    # append mode cannot retract an earlier batch's row, so
                    # a cross-batch same-hour update adjusts last_v (future
                    # gap fills carry it) without re-emitting the hour.
                    if any(r[1] == h for r in out):
                        out = [r for r in out if r[1] != h] + [(uid, h, v, False)]
                    last_v = v
                continue  # late data older than the grid head: batch repairs
            if last_h is not None:
                for g in range(last_h + _HOUR, h, _HOUR):
                    out.append((uid, g, last_v, True))
            out.append((uid, h, v, False))
            last_h, last_v = h, v
        state.update((last_h, last_v))
        yield pd.DataFrame(out, columns=[f.name for f in GAPFILL_OUT_SCHEMA.fields])

    return events.select(*sel_cols).groupBy(entity_col).applyInPandasWithState(
        fold,
        outputStructType=GAPFILL_OUT_SCHEMA,
        stateStructType=_GAPFILL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _interval_merge_schemas(key_type):
    out = StructType(
        [
            StructField("key", key_type, True),
            StructField("merged_start", LongType(), True),
            StructField("merged_end", LongType(), True),
            StructField("n_intervals", LongType(), True),
        ]
    )
    state = StructType(
        [
            StructField("open_start", LongType(), True),
            StructField("open_end", LongType(), True),
            StructField("open_n", LongType(), True),
            # end of the last PUBLISHED island: the late-row fence — rows
            # starting at-or-before it predate published territory and drop
            StructField("published_end", LongType(), True),
        ]
    )
    return out, state


def streaming_interval_merge(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Streaming twin of `operators/intervals.merge_intervals` (the batch
    `events_interval_merge` shape): per key, maintain the ONE currently
    open island — (start, max end, member count) plus the last published
    end, four scalars of state regardless of stream length — and emit a
    merged interval the moment a later interval starts strictly past the
    open island's end (proving the island closed). An arriving interval
    that overlaps/touches the open island merges into it, including one
    that starts BEFORE the open start (merged_start extends backwards
    while unpublished — but never at-or-before the published fence). A
    cross-batch arrival strictly disjoint BELOW the open island (e < open
    start) is emitted immediately as its own closed island — the open
    island proves it closed — and advances the fence; it never merges.

    Contracts: start/end must be INTEGER columns (epoch millis by
    convention — cast timestamps with unix_millis explicitly; a raw
    cast('long') on a timestamp yields SECONDS and would disagree with the
    millis-based batch twin, so non-integer types are rejected here).
    Null-bounded intervals are dropped before the fold. The key column's
    type passes through to the output. A row starting at-or-before the
    last PUBLISHED island's end is DROPPED as late (merging it would emit
    an interval overlapping already-published output, which append mode
    cannot retract) — the batch twin, which sees all data, is the
    replay/repair path. The final still-open island per key is
    intentionally NOT emitted; it surfaces when a later interval closes it
    or from the batch twin at rest."""
    from pyspark.sql.types import ByteType, IntegerType, ShortType

    for c in (start_col, end_col):
        dt = intervals.schema[c].dataType
        if not isinstance(dt, (LongType, IntegerType, ShortType, ByteType)):
            raise TypeError(
                f"streaming_interval_merge: {c} must be an integer column "
                f"(epoch ms), got {dt.simpleString()} — cast with unix_millis"
            )
    out_schema, state_schema = _interval_merge_schemas(
        intervals.schema[key_col].dataType
    )

    def fold(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        o_s, o_e, o_n, pub_e = (
            state.get if state.exists else (None, None, None, None)
        )
        rows = pd.concat(list(pdfs)).sort_values([start_col, end_col])
        out = []
        k = key[0]
        for s_, e_ in zip(
            rows[start_col].astype("int64"), rows[end_col].astype("int64")
        ):
            s_, e_ = int(s_), int(e_)
            if pub_e is not None and s_ <= pub_e:
                continue  # at-or-before published territory: late; batch repairs
            if o_s is None:
                o_s, o_e, o_n = s_, e_, 1
            elif s_ > o_e:
                out.append((k, o_s, o_e, o_n))  # closed: publish
                pub_e = o_e
                o_s, o_e, o_n = s_, e_, 1
            elif e_ < o_s:
                # Strictly disjoint BELOW the open island: a cross-batch
                # out-of-order arrival past the fence (in-batch rows are
                # sorted, so only carried state can sit above it). The open
                # island itself proves this one closed — emit it as its own
                # island and advance the fence; merging it would corrupt
                # the open island's span (the batch twin keeps them apart).
                out.append((k, s_, e_, 1))
                pub_e = e_ if pub_e is None else max(pub_e, e_)
            else:
                o_s, o_e, o_n = min(o_s, s_), max(o_e, e_), o_n + 1
        state.update((o_s, o_e, o_n, pub_e))
        yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return (
        intervals.select(
            F.col(key_col).alias("key"),
            F.col(start_col),
            F.col(end_col),
        )
        .where(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
        .groupBy("key")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
