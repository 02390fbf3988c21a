"""Streaming SCD Type-2 history sink: the temporal twin of MergeSink.

Where MergeSink folds the change stream to CURRENT state (the entity-map
fold, test_util.clj:110-123), HistorySink preserves every version with a
validity interval: each upsert becomes a row valid over [valid_from =
its seq, valid_to = the key's next change's seq); an open interval
(valid_to IS NULL) marks the current version, and a key whose latest change
is a delete has no open row. This is the point-in-time view the reference's
"live views of data for caching or analytics" use case (README.md:14-21)
needs when the consumer asks "what did this row look like at position P?" —
the batch-query twin is `cdc_scd2_history` / `cdc_time_travel`
(queries/cdc.py).

HistorySink supplies only the fold step of MergeSink's slice path (see the
`streaming/sink.py` module docstring): it inherits the touched-slice read,
the hardlink carry-forward of untouched slices, the atomic swap, crash
recovery, both layouts (plain ``tbl=`` and bucketed ``tbl=/_kb=``; a key's
whole history shares one bucket, since the bucket is a function of id, so
the interval window never spans slices) and the maintenance rewrite that
`prune_closed_before` runs. History rows are the key's change log with the
lead(seq) interval precomputed, so re-deriving a touched slice is one
keyed lead() window over (persisted versions ∪ batch) that also drops
duplicate (tbl, id, seq) change rows (keyed by the slice columns too, so
in the bucketed layout the input's clustering by slice is its only
exchange, and in the plain layout the window's own is) —
O(touched state) per batch, and deterministic, which makes
checkpoint-replay idempotent (a replayed batch re-derives byte-identical
intervals). Delete events persist as terminator rows (op='delete'): they
close the prior version's interval and mark the deletion seq; they are *data*
here, not tombstones — their seq is visible as the closing ``valid_to`` of
the prior version (`read_history` returns upsert versions only; the
terminator rows themselves live in `_read_raw`), and `read_state` excludes
deleted keys. Error rows (op='error', the in-band channel R20) NEVER enter
the interval window — routed to the dead-letter sink when `errors_path` is
set, dropped otherwise (same contract as MergeSink, whose materialize()
filters OP_ERROR). On an ACID table format the same fold becomes MERGE over
the touched keys only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from dumpr_spark.cdc.envelope import ENVELOPE_SCHEMA, OP_ERROR, OP_UPSERT
from dumpr_spark.streaming.sink import (
    AUTO_TARGET_ROWS_PER_BUCKET, GROWTH_WARN_FACTOR, MergeSink,
    _start_sink_stream,
)

HISTORY_SCHEMA = StructType(
    list(ENVELOPE_SCHEMA.fields) + [StructField("valid_to", LongType(), nullable=True)]
)


class HistorySink(MergeSink):
    """foreachBatch target maintaining an SCD2 history table at `state_path`.

    Persisted rows = the envelope columns plus ``valid_to`` (seq of the key's
    next change; NULL = still current). ``seq`` doubles as ``valid_from``.
    """

    _schema = HISTORY_SCHEMA

    def read_history(self) -> DataFrame:
        """All versions with intervals: one row per upsert version carrying
        [valid_from, valid_to) and is_current; delete terminators excluded
        (their seq is visible as the closing valid_to of the prior row)."""
        return (
            self._read_raw()
            .where(F.col("op") == OP_UPSERT)
            .withColumn("valid_from", F.col("seq"))
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop("_kb")
        )

    def read_state(self) -> DataFrame:
        """The live current-state view — open upsert intervals only. Matches
        MergeSink.read_state()/materialize() on the same change stream."""
        return (
            self._read_raw()
            .where((F.col("op") == OP_UPSERT) & F.col("valid_to").isNull())
            .drop("valid_to", "_kb")
        )

    def compact(self) -> None:  # pragma: no cover - guard, exercised in tests
        raise NotImplementedError(
            "HistorySink keeps deletes as interval terminators (data, not "
            "tombstones); there is nothing to compact away. Retention policy "
            "(dropping intervals closed before a horizon) is a deliberate, "
            "caller-owned truncation — see prune_closed_before()."
        )

    def prune_closed_before(self, horizon_seq: int) -> None:
        """Retention: drop upsert versions whose interval closed before
        `horizon_seq`, and delete-terminator rows with seq < horizon (open
        or closed — safe under the same feed guarantee as MergeSink.compact:
        no event with a lower seq can still arrive, so the terminator's
        resurrection-blocking job is over). Point-in-time queries earlier
        than the horizon become unanswerable — an explicit, caller-owned
        trade. Only slices that actually contain prunable rows are
        rewritten; the rest carry forward by hardlink (the same
        `_drop_rows` rewrite as MergeSink.compact)."""
        self._drop_rows(
            (F.col("valid_to").isNotNull() & (F.col("valid_to") < F.lit(horizon_seq)))
            | ((F.col("op") != OP_UPSERT) & (F.col("seq") < F.lit(horizon_seq))),
            f"prune-{horizon_seq}",
        )

    def _merge(self, batch: DataFrame, batch_id: int) -> None:
        # error rows must never enter the interval window: a persisted error
        # row would close the key's live upsert interval at the error's seq
        # (MergeSink gets this for free because materialize() filters
        # OP_ERROR; the lead() fold has no such built-in filter)
        super()._merge(batch.where(F.col("op") != OP_ERROR), batch_id)

    def _fold(self, rows: DataFrame) -> DataFrame:
        """Re-derive the touched slices' versions from `rows`, their
        persisted change rows (valid_to is derived state, recomputed here)
        ∪ the batch, in one window over the key ordered by seq: a row
        whose next row has the same seq is a duplicate of the change
        identity (tbl, id, seq) and is dropped, so replayed batches
        collapse; every other row's valid_to is that next row's seq.
        ``lead(struct(seq))`` keeps "no next row" (NULL struct) apart from
        "next seq is NULL", and the null-safe comparison collapses NULL
        seqs as ``dropDuplicates`` would. The window also keys on `_kb` in
        the bucketed layout (a function of id), which the slice-clustered
        input already satisfies; in the plain layout it is the fold's one
        exchange."""
        key = [*self._slice_cols(), "id"]
        nxt = F.lead(F.struct("seq")).over(Window.partitionBy(*key).orderBy("seq"))
        return (
            rows.withColumn("_next", nxt)
            .where(F.col("_next").isNull() | ~F.col("_next.seq").eqNullSafe(F.col("seq")))
            .withColumn("valid_to", F.col("_next.seq"))
            .drop("_next")
        )


def start_history_stream(
    changes: DataFrame,
    history_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
    errors_path: str | None = None,
    output_mode: str = "update",
    key_bucket=None,
    compact_every_n_batches: int | None = None,
    growth_warn_rows_per_bucket: int | None =
    GROWTH_WARN_FACTOR * AUTO_TARGET_ROWS_PER_BUCKET,
):
    """Start the SCD2-materializing stream (R18/R19 lifecycle, temporal).
    output_mode: same contract as start_merge_stream — foreachBatch itself
    is mode-agnostic, but an upstream stateful operator declared in append
    mode (the streaming tx filter) requires output_mode="append".
    key_bucket: optional (tbl, bucket)-sliced layout — a policy object,
    or "auto" to derive one from the first non-empty batch via the
    certified sizing helpers; see MergeSink.
    compact_every_n_batches: optional small-files auto-cadence — see
    MergeSink._maybe_compact_files.
    growth_warn_rows_per_bucket: the seed-pinned layout's growth-signal
    threshold (None disables) — see MergeSink._check_bucket_growth (a
    history slice's footer count includes closed versions, which is the
    honest unit: the rewrite term pays every persisted row)."""
    return _start_sink_stream(HistorySink, changes, history_path,
                              checkpoint_path, trigger_available_now,
                              errors_path, output_mode, key_bucket,
                              compact_every_n_batches,
                              growth_warn_rows_per_bucket)
