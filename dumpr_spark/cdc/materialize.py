"""Last-write-wins materialization — the entity-map fold.

Reference contract: folding the change stream yields current state — upsert =>
put(table,id)->content, delete => remove(table,id). Codified in the reference's
own test oracle ``into-entity-map`` (/root/reference/test/dumpr/test_util.clj:110-123)
and asserted stream-fold == DB state (test/dumpr/core_test.clj:163-187).

Spark re-expression (batch): a per-key top-1 by ``seq`` then drop deletes.
Expressed with ``max_by`` aggregation rather than window+row_number: an
aggregation gets Catalyst's partial (map-side) combine, so at 100 TB each
input partition reduces to one candidate row per key BEFORE the shuffle,
whereas a window function must shuffle every change row. Same result, far
less shuffle I/O on high-churn keys (the skew case AQE handles poorest).

The streaming merge sink (streaming/sink.py) runs the same fold through
`_materialize_by`, keyed by ``(tbl, _kb, id)`` in its bucketed layout, on
input it has already hash-partitioned by slice ``(tbl, _kb)``: that
clustering satisfies the fold's grouping, so the fold adds no exchange of
its own, and its partial aggregate runs after the shuffle (no map-side
combine). That costs little there: a batch plus the slices it touches is
bounded by the bucket policy's rows per slice.

The struct-valued max_by buffer forces SortAggregate (hash aggregation
needs mutable fixed-width buffers). The r18 measured attempt at a
hash-aggregable form — groupBy max(seq) (HashAggregate) + join the
winner seqs back — was REJECTED with numbers: 0.83 vs 0.61 s at sf0.1
and 4.61 vs 1.88 s at sf1 (interleaved, min-of-4). The join-back pays
two SMJ sorts over payload rows and re-evaluates the envelope subtree
per leg, where the fold pays one sort and keeps its map-side candidate
reduction; it also breaks merge_batch's replay idempotence when the
same (tbl, id, seq) row appears twice. Do not retry.

Error rows (op='error', row_format.clj:15) never contribute state; they are
routed out-of-band by ``split_errors``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dumpr_spark.cdc.envelope import OP_DELETE, OP_ERROR


def _unpack_winner(winner: DataFrame, keep_tombstones: bool,
                   extra_keys: tuple = ()) -> DataFrame:
    """Shared tail of both folds: tombstone policy + envelope-shaped
    unpack of the max_by winner struct — one place to evolve the envelope
    so the plain and salted folds can never drift apart. Grouping keys
    beyond ``(tbl, id)`` (`extra_keys`) follow the envelope columns."""
    if not keep_tombstones:
        winner = winner.where(F.col("w.op") != OP_DELETE)
    return winner.select(
        F.col("w.op").alias("op"),
        F.col("tbl"),
        F.col("id"),
        F.col("w.content").alias("content"),
        F.col("w.ts").alias("ts"),
        F.col("w.next_file").alias("next_file"),
        F.col("w.next_position").alias("next_position"),
        F.col("w.seq").alias("seq"),
        *extra_keys,
    )


def materialize(changes: DataFrame, keep_tombstones: bool = False) -> DataFrame:
    """Fold envelope rows into current state: one row per live (tbl, id).

    Returns envelope-shaped rows (op is the *winning* op's columns) for live
    keys only — the DataFrame analog of the entity map keyed "table/id"
    (test_util.clj:107-108).

    With ``keep_tombstones=True`` a key whose winning op is delete is KEPT
    (op='delete', content NULL) instead of dropped. The streaming merge sink
    folds incrementally across micro-batches, so it must remember deletes:
    without the tombstone, a replayed/out-of-order upsert with a lower seq in
    a later batch would silently resurrect the key.
    """
    return _materialize_by(changes, ("tbl", "id"), keep_tombstones)


def _materialize_by(changes: DataFrame, keys: tuple,
                    keep_tombstones: bool) -> DataFrame:
    """`materialize`'s fold grouped by `keys`, which hold ``tbl`` and ``id``
    and may add columns that are a function of them (the merge sink's
    ``_kb`` bucket); the extra keys are carried into the output."""
    winner = (
        changes.where(F.col("op") != OP_ERROR)
        .groupBy(*keys)
        .agg(
            F.max_by(
                F.struct("op", "content", "ts", "next_file", "next_position", "seq"), F.col("seq")
            ).alias("w")
        )
    )
    extra = tuple(k for k in keys if k not in ("tbl", "id"))
    return _unpack_winner(winner, keep_tombstones, extra)


def materialize_asof(changes: DataFrame, seq_cutoff: int) -> DataFrame:
    """Time travel: current state AS OF a stream position — the same
    last-write-wins fold restricted to seq <= cutoff. Any saved resume
    coordinate (R13, core.clj:105-131) maps to a seq cutoff, so the state at
    that moment is reconstructible from the log alone. The cutoff predicate
    pushes into the scan (on a seq-sorted log layout it prunes whole files)
    and the fold keeps its map-side partial combine."""
    return materialize(changes.where(F.col("seq") <= F.lit(seq_cutoff)))


def scd2_history(changes: DataFrame) -> DataFrame:
    """SCD Type-2 view of the change stream: every upsert version with a
    validity interval [valid_from = seq, valid_to = the key's next change's
    seq); valid_to NULL marks the current version, and a key whose latest
    change is a delete has no current row. One lead() window keyed by
    (tbl, id) — co-partitioned with materialize's fold, no global order.
    Streaming twin: streaming/history.HistorySink (identical semantics,
    incremental per-batch recompute of touched partitions)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tbl", "id").orderBy("seq")
    return (
        changes.where(F.col("op") != OP_ERROR)
        .withColumn("valid_to", F.lead("seq").over(w))
        .where(F.col("op") != OP_DELETE)
        .withColumn("valid_from", F.col("seq"))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def split_errors(changes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """In-band error channel (R20, stream.clj:179-191) -> dead-letter split."""
    return (
        changes.where(F.col("op") != OP_ERROR),
        changes.where(F.col("op") == OP_ERROR),
    )


def into_entity_map(rows) -> dict:
    """Pure-Python reference fold for property tests — a faithful port of the
    oracle at test/dumpr/test_util.clj:110-123 (NOT used in the data path).

    rows: iterable of dicts with keys op/tbl/id/content ordered by seq.
    """
    state: dict = {}
    for r in rows:
        key = (r["tbl"], r["id"])
        if r["op"] == "upsert":
            state[key] = r["content"]
        elif r["op"] == OP_DELETE:
            state.pop(key, None)
        elif r["op"] == OP_ERROR:
            continue
        else:
            raise ValueError(f"unknown op {r['op']!r}")
    return state


def merge_batch(current: DataFrame, batch: DataFrame) -> DataFrame:
    """One micro-batch step of the streaming materializer: current state +
    new envelope rows -> next state. Used by the foreachBatch sink
    (dumpr_spark.streaming.sink). Idempotent for replayed batches because the
    fold is keyed by (tbl, id) with max-by-seq — re-applying rows whose seq is
    already reflected is a no-op, which is what makes checkpoint resume
    exactly-once (reference hazard README.md:218-221 does not apply)."""
    return materialize(current.unionByName(batch))


def materialize_salted(
    changes: DataFrame, salt: int = 16, keep_tombstones: bool = False
) -> DataFrame:
    """`materialize` with a two-phase salted fold for hot keys — the remedy
    the `cdc_key_hotspots` diagnostic hands off to.

    The plain fold's map-side combine already reduces each input partition
    to <= 1 candidate per key, but every partition's candidate for a hot
    key still converges on ONE reducer — O(input partitions) wide rows
    (content payloads ride in the max_by struct) through a single task at
    100 TB. Salting splits phase one into (tbl, id, salt) cells, so the
    final per-key reduce sees at most `salt` candidates regardless of how
    many partitions the hot key spans.

    The salt is xxhash64 of `seq` (unique, content-derived upstream) —
    deterministic under stage retry, unlike rand(). max_by over a unique
    seq is associative+commutative, so two-phase == one-phase exactly;
    equivalence is pinned against `materialize` in
    tests/test_scale_ops.py::test_hotspot_diagnostic_drives_salted_materialize.
    """
    winner = (
        changes.where(F.col("op") != OP_ERROR)
        .withColumn("_salt", F.pmod(F.xxhash64("seq"), F.lit(salt)))
        .groupBy("tbl", "id", "_salt")
        .agg(
            F.max_by(
                F.struct("op", "content", "ts", "next_file", "next_position", "seq"), F.col("seq")
            ).alias("w")
        )
        .groupBy("tbl", "id")
        .agg(F.max_by(F.col("w"), F.col("w.seq")).alias("w"))
    )
    return _unpack_winner(winner, keep_tombstones)
