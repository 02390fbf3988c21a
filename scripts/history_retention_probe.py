#!/usr/bin/env python
"""HistorySink retention x bucketed layout — the last unmeasured
sink-maintenance combination (r13 verdict item 4): r11 measured
`prune_closed_before` on the PLAIN layout, r13 measured the bucketed SCD2
trickle WITHOUT pruning; this probe runs the r13 trickle shape on the
bucketed layout WITH cadenced pruning AND the r13 compaction cadence
armed, against the same trickle with no maintenance.

Variants (identical batch series, helper-derived bucket count):
  A `bucketed`        — r13 baseline: no prune, no compaction cadence.
  B `bucketed_maint`  — prune_closed_before fired every PRUNE_EVERY
    batches (horizon = the seq floor of the batch two back, so the last
    two batches' closed intervals always survive) + compact_every_n_batches
    on the same sink.

Equivalence contract (asserted in-run, not eyeballed): B's OPEN-interval
state checksum equals A's, and B's FULL surviving history checksum equals
A's history filtered by the same final horizon predicate
(valid_to IS NULL OR valid_to >= final_horizon) — pruning is a retention
TRUNCATION, so equality is defined over what retention promises to keep.

Usage: python scripts/history_retention_probe.py [state_rows] [batches]
       [keys_per_batch] [prune_every] [compact_every]
Prints one JSON line with per-batch ms series (fire batches flagged),
maintenance-fire costs, and the checksums.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import functions as F

    from dumpr_spark.session import get_spark
    from dumpr_spark.streaming.history import HistorySink
    from dumpr_spark.streaming.sink import suggest_hash_bucket_count

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    prune_every = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    compact_every = int(sys.argv[5]) if len(sys.argv) > 5 else 6
    if prune_every > n_batches:
        # no fire would ever happen: final_horizon stays None and the
        # surviving-history comparison below would filter A on a NULL
        # predicate (dropping every closed row) and abort spuriously on
        # two identical states — refuse the meaningless config up front
        raise SystemExit(
            f"prune_every ({prune_every}) > batches ({n_batches}): no "
            "prune would fire; this probe measures the retention x "
            "bucketed interplay, run with prune_every <= batches"
        )

    spark = get_spark("history_retention_probe")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/history_retention_probe"
    shutil.rmtree(work, ignore_errors=True)

    def env(ids_df, seq_base):
        return ids_df.select(
            F.lit("upsert").alias("op"),
            F.lit("profiles").alias("tbl"),
            F.format_string("user-%07d", F.col("k")).alias("id"),
            F.to_json(F.struct(F.col("k"), (F.col("k") + seq_base).alias("v")))
                .alias("content"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit("f1").alias("next_file"),
            F.lit(None).cast("long").alias("next_position"),
            (F.col("k") + F.lit(seq_base)).cast("long").alias("seq"),
        )

    seed = env(spark.range(n_rows).select(F.col("id").alias("k")), 0)
    kb = suggest_hash_bucket_count(
        seed.select("id"), expected_keys_per_batch=per_batch
    )
    print(f"helper-derived n_buckets={kb.n_buckets}", file=sys.stderr)
    stride = n_rows // per_batch

    def trickle(b):
        ks = spark.range(per_batch).select(
            (F.lit(b) + F.col("id") * stride).alias("k")
        )
        return env(ks, (b + 1) * n_rows)

    # batch b's seqs live in [(b+1)*n_rows, (b+2)*n_rows); the horizon at a
    # fire in batch b keeps everything closed by batches b-1 and b
    def horizon_at(b):
        return (b - 1 + 1) * n_rows  # = seq floor of batch b-1

    final_horizon = None
    results = {}
    for name, maint in (("bucketed", False), ("bucketed_maint", True)):
        state = os.path.join(work, name)
        sink = HistorySink(
            spark, state, key_bucket=kb,
            compact_every_n_batches=compact_every if maint else None,
        )
        t0 = time.monotonic()
        sink(seed, 0)
        sink.compact_files()
        seed_s = time.monotonic() - t0
        per, fires = [], {}
        for b in range(1, n_batches + 1):
            t1 = time.monotonic()
            sink(trickle(b), b)
            per.append(round((time.monotonic() - t1) * 1000))
            if maint and b % prune_every == 0:
                t2 = time.monotonic()
                h = horizon_at(b)
                sink.prune_closed_before(h)
                fires[b] = {"horizon": h,
                            "prune_ms": round((time.monotonic() - t2) * 1000)}
                final_horizon = h
        hist = sink.read_history()
        results[name] = {
            "seed_s": round(seed_s, 1),
            "per_batch_ms": per,
            # a compaction cadence fire lands INSIDE the batch whose
            # (batch_id + 1) % compact_every == 0 (see
            # _maybe_compact_files) — exclude exactly those; prune fires
            # are timed separately so their batches stay in the mean
            "mean_nonfire_ms": round(
                sum(ms for i, ms in enumerate(per, 1)
                    if not (maint and (i + 1) % compact_every == 0))
                / max(1, sum(1 for i in range(1, n_batches + 1)
                             if not (maint and (i + 1) % compact_every == 0)))),
            "fires": fires,
            "history_rows": hist.count(),
            "open_rows": sink.read_state().count(),
        }

    def cksum(df):
        return df.agg(
            F.sum(F.xxhash64("id", "content", "seq",
                             F.coalesce(F.col("valid_to"), F.lit(-1)))
                  .cast("decimal(38,0)")).cast("string")
        ).collect()[0][0]

    a = HistorySink(spark, os.path.join(work, "bucketed"), key_bucket=kb)
    m = HistorySink(spark, os.path.join(work, "bucketed_maint"), key_bucket=kb)
    open_a = cksum(a.read_history().where(F.col("valid_to").isNull()))
    open_m = cksum(m.read_history().where(F.col("valid_to").isNull()))
    surv_a = cksum(a.read_history().where(
        F.col("valid_to").isNull() | (F.col("valid_to") >= F.lit(final_horizon))))
    surv_m = cksum(m.read_history())
    assert open_a == open_m, f"open-state diverged: {open_a} != {open_m}"
    assert surv_a == surv_m, f"surviving history diverged: {surv_a} != {surv_m}"

    print(json.dumps({
        "metric": "history_retention_probe",
        "state_rows": n_rows, "batches": n_batches,
        "keys_per_batch": per_batch, "n_buckets": kb.n_buckets,
        "prune_every": prune_every, "compact_every": compact_every,
        "final_horizon": final_horizon,
        "open_checksum": open_a, "surviving_checksum": surv_a,
        **results,
    }))


if __name__ == "__main__":
    main()
