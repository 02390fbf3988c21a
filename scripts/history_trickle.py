#!/usr/bin/env python
"""Measure HistorySink (SCD2) on the stable-key trickle workload — the
second sink's at-volume evidence (r13; the r10-r12 crossover/trickle
story measured MergeSink only, and HistorySink's per-batch work is
HEAVIER per touched row: prior versions re-enter the lead() interval
window, not just a max_by fold, so the O(touched-slices) claim is worth
its own wall-clock).

Shape: a large string-keyed profile table (one open interval per key)
receives point-update batches revisiting existing keys; each update
closes the key's open interval and opens a new one, so history grows by
keys_per_batch rows per batch. Plain layout re-windows and rewrites the
WHOLE table per batch; the bucketed layout touches only the slices the
batch's keys hash into. The bucket count comes from the shipped sizing
helper WITH the r13 batch-aware floor (expected_keys_per_batch), so the
probe exercises the derivation a production caller would use.

Both variants must end with IDENTICAL history (intervals AND current
rows — asserted by checksum).

Usage: python scripts/history_trickle.py [state_rows] [batches] [keys_per_batch]
Prints one JSON line: per-batch ms for both variants + the win ratio.
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

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    # 4th arg "auto": run the bucketed variant with key_bucket="auto" —
    # the sink derives the policy from the SEED batch itself (r14), so
    # this leg measures exactly what a zero-config production caller gets
    use_auto = len(sys.argv) > 4 and sys.argv[4] == "auto"

    spark = get_spark("history_trickle")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/history_trickle"
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
    # in auto mode the SINK derives the count from the seed batch itself;
    # running the helper here would waste an aggregate and mislabel the
    # run's JSON with a count the run never used
    kb = None if use_auto else suggest_hash_bucket_count(
        seed.select("id"), expected_keys_per_batch=per_batch
    )
    if kb is not None:
        print(f"helper-derived n_buckets={kb.n_buckets} "
              f"(rows target + batch-aware floor)", file=sys.stderr)
    stride = n_rows // per_batch

    def trickle(b):
        ks = spark.range(per_batch).select(
            (F.lit(b) + F.col("id") * stride).alias("k")
        )
        return env(ks, (b + 1) * n_rows)

    results = {}
    for name, policy in (("plain", None),
                         ("hash_bucketed", "auto" if use_auto else kb)):
        state = os.path.join(work, name)
        sink = HistorySink(spark, state, key_bucket=policy)
        t0 = time.monotonic()
        sink(seed, 0)
        sink.compact_files()
        seed_s = time.monotonic() - t0
        per = []
        for b in range(1, n_batches + 1):
            t1 = time.monotonic()
            sink(trickle(b), b)
            per.append(round((time.monotonic() - t1) * 1000))
        hist = sink.read_history()
        results[name] = {
            # auto resolves at the seed batch; record what it derived
            **({"derived_n_buckets": sink.key_bucket.n_buckets}
               if policy == "auto" else {}),
            "seed_s": round(seed_s, 1),
            "per_batch_ms": per,
            "mean_ms": round(sum(per) / len(per)),
            "history_rows": hist.count(),
            "open_rows": sink.read_state().count(),
            "checksum": hist.agg(
                F.sum(F.xxhash64("id", "content", "seq",
                                 F.coalesce(F.col("valid_to"), F.lit(-1)))
                      .cast("decimal(38,0)")).cast("string")
            ).collect()[0][0],
        }
    assert results["plain"]["checksum"] == results["hash_bucketed"]["checksum"], \
        "variants diverged"
    print(json.dumps({
        "metric": "history_trickle",
        "state_rows": n_rows, "batches": n_batches,
        # in auto mode the run's real count is what the sink derived
        "keys_per_batch": per_batch,
        "n_buckets": (results["hash_bucketed"].get("derived_n_buckets")
                      if use_auto else kb.n_buckets),
        "plain": results["plain"], "hash_bucketed": results["hash_bucketed"],
        "win": round(results["plain"]["mean_ms"]
                     / results["hash_bucketed"]["mean_ms"], 2),
    }))


if __name__ == "__main__":
    main()
