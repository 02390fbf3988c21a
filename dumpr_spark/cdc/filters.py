"""Event-stream filters: database, table set, transaction atomicity.

Reference operators R4/R7/R8 (/root/reference/src/dumpr/stream.clj:22-54,
108-112, 114-125). These run on the *raw event* DataFrame (pre-envelope) —
the same early placement the reference hand-codes (filters upstream of the
expensive schema enrichment, stream.clj:275-280); in Spark, Catalyst's
predicate pushdown makes placement automatic.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Window, functions as F

# Event-type markers for the transaction filter (reference classifies BEGIN /
# COMMIT / ROLLBACK query-events + xid at events.clj:81-92; xid => commit).
TX_BEGIN = "tx-begin"
TX_COMMIT = "tx-commit"
TX_ROLLBACK = "tx-rollback"
_TX_MARKERS = (TX_BEGIN, TX_COMMIT, TX_ROLLBACK)


def filter_database(events: DataFrame, db: str) -> DataFrame:
    """Keep only events of the configured db — exactly one db per stream
    (R7, stream.clj:108-112; one-db contract core.clj:45). Events with no db
    attribution (e.g. rotate) pass through, mirroring the reference's
    keep-if-nil behavior."""
    return events.where(F.col("db").isNull() | (F.col("db") == db))


def filter_tables(events: DataFrame, tables: Iterable[str] | None) -> DataFrame:
    """Keep only events of the given table set; table-less events pass;
    nil/empty set => allow-all (R8, stream.clj:114-125)."""
    tables = list(tables or [])
    if not tables:
        return events
    return events.where(F.col("tbl").isNull() | F.col("tbl").isin(tables))


def filter_committed_txs(events: DataFrame, seq_col: str = "seq", type_col: str = "event_type") -> DataFrame:
    """Batch transaction filter (R4, stream.clj:22-54).

    The reference keeps a BOOLEAN ``ongoing?`` flag: :tx-begin sets it (a
    nested begin neither resets the buffer nor deepens anything), :tx-commit
    releases the buffered rows and clears the flag, :tx-rollback discards
    them, and rows arriving OUTSIDE a transaction pass straight through
    (``(rf result input)`` — non-transactional binlog events like DDL must
    survive). Batch re-expression of that state machine:

    - a data row is in-tx iff the LAST marker before it is a begin;
    - tx groups are delimited by terminators (commit/rollback): group id =
      count of terminators strictly before the row, so each group contains
      at most one terminator — the one that ends it;
    - an in-tx row survives iff its group's terminator is a commit (a
      trailing open tx has no terminator in-group and is dropped, matching
      the streaming fold which keeps it buffered);
    - out-of-tx rows always survive; markers are stripped.

    The streaming fold (`dumpr_spark/jvm/TxFilter.java`) and the tests'
    Python reference fold (`streaming.state._fold_tx_rows`) must agree
    with it on every event sequence — pinned by a hypothesis property test.

    Scale shape (r4: replaced the single-partition global windows): the two
    running quantities over the total order — last-marker-strictly-before
    and terminators-strictly-before — are a distributed PREFIX SCAN, the
    same two-phase form as operators.ntile: (1) approxQuantile range-buckets
    of `seq` (a stable pure projection, embedded as literals); (2) one tiny
    per-bucket summary row (terminator count + last in-bucket marker)
    collected to the driver; (3) the driver folds the B-row prefix
    (metadata-sized) and broadcasts per-bucket offsets/carry back; (4)
    per-bucket PARTITIONED windows finish the scan locally. No global-order
    window remains; the tx-group vote stays keyed by _tx_id as before. At
    scale the CDC feed is commit-filtered at the source (Debezium-shaped)
    anyway, making this whole filter a no-op (SURVEY §4.2.3).
    """
    spark = events.sparkSession
    # r17: the scan below makes THREE passes over `events` (approxQuantile
    # range bounds, per-bucket summaries, the final windowed pass). When
    # the feed arrives as a compact file-backed scan (locally: a derived
    # explode riding a one-row-group file, so every pass is one task),
    # fan it out on seq ONCE and pin it — each pass then reads the 32-way
    # cached partitions instead of re-deriving the feed single-threaded.
    # On a cluster-wide scan fan_out is a no-op and nothing is pinned.
    from dumpr_spark.operators.scale import fan_out

    fanned = fan_out(events, seq_col)
    if fanned is not events:
        events = fanned.localCheckpoint(eager=False)
    seqc = F.col(seq_col)
    is_marker = F.col(type_col).isin(*_TX_MARKERS)
    is_end_b = F.col(type_col).isin(TX_COMMIT, TX_ROLLBACK)
    is_end = F.when(is_end_b, 1).otherwise(0)

    n_part = max(2, spark.sparkContext.defaultParallelism)
    bounds = events.stat.approxQuantile(
        seq_col, [i / n_part for i in range(1, n_part)], 0.001
    )
    if bounds:
        bucket = F.aggregate(
            F.lit(bounds), F.lit(0), lambda a, b: a + F.when(seqc > b, 1).otherwise(0)
        )
    else:  # empty input: one bucket; the scan below is a no-op
        bucket = F.lit(0)
    ev = events.withColumn("_b", bucket)

    # per-bucket summaries: one row per bucket, metadata-sized at any scale
    summaries = (
        ev.groupBy("_b")
        .agg(
            F.sum(is_end).alias("_n_end"),
            # max of (seq, marker) struct over marker rows = last in-bucket
            # marker; max() skips the NULLs from non-marker rows
            F.max(
                F.when(is_marker, F.struct(seqc.alias("s"), F.col(type_col).alias("m")))
            ).alias("_last"),
        )
        .collect()
    )
    off, carry, offsets = 0, None, []
    for r in sorted(summaries, key=lambda r: r["_b"]):
        offsets.append((r["_b"], off, carry))
        off += r["_n_end"] or 0
        if r["_last"] is not None:
            carry = r["_last"]["m"]
    if not offsets:
        offsets = [(0, 0, None)]
    off_df = spark.createDataFrame(offsets, "_b INT, _end_off LONG, _carry STRING")

    wb_prev = Window.partitionBy("_b").orderBy(seq_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local_last = F.last(
        F.when(is_marker, F.col(type_col)), ignorenulls=True
    ).over(wb_prev)
    local_ends = F.coalesce(F.sum(is_end).over(wb_prev), F.lit(0))
    with_tx = (
        ev.join(F.broadcast(off_df), "_b")
        # coalesce chain: in-bucket marker, else earlier-bucket carry, else
        # out-of-tx (rows before any marker anywhere)
        .withColumn(
            "_in_tx",
            F.coalesce(
                F.coalesce(local_last, F.col("_carry")) == TX_BEGIN, F.lit(False)
            ),
        )
        .withColumn("_tx_id", F.col("_end_off") + local_ends)
    )
    w_tx = Window.partitionBy("_tx_id")
    committed = with_tx.withColumn(
        "_committed",
        F.max(F.when(F.col(type_col) == TX_COMMIT, 1).otherwise(0)).over(w_tx),
    )
    return (
        committed.where(
            ~F.col(type_col).isin(*_TX_MARKERS)
            & (~F.col("_in_tx") | (F.col("_committed") == 1))
        )
        .drop("_b", "_end_off", "_carry", "_tx_id", "_committed", "_in_tx")
    )
