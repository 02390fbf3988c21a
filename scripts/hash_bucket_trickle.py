#!/usr/bin/env python
"""Measure HashKeyBucket on its STATED workload (r12 — the recipe's
docstring claims it pays for stable-key-population tables where state >>
batch; this probe puts a number on that claim, on the key domain the
recipe exists for: NON-NUMERIC string keys, where range bucketing is
impossible and `suggest_key_bucket` refuses).

Shape: a large string-keyed reference table receives a TRICKLE of small
update batches (point updates revisiting existing keys — the CDC shape of
a dimension/profile table). The plain tbl-partitioned sink rewrites the
WHOLE table every batch (O(state)); HashKeyBucket(n_buckets) touches only
the <= batch_keys slices the batch's md5 projection lands in, each
~1/n_buckets of the table, so per-batch work is O(state * touched /
n_buckets) + metadata-sized hardlink carry-forward of untouched slices.

Determinism: seed ids user-0000000..user-(N-1); batch b updates the 200
keys congruent to b under a fixed stride, so every run touches the same
slices. Both variants must end with IDENTICAL live state (asserted).

The bucket count is a REAL dial with a measured failure mode on EVERY
side (r12 smokes + a stage profile): too few buckets and a batch's keys
blanket them (rewrite share -> 100%); uncompacted dirs make the hardlink
carry-forward O(total data files) (4096 x 32-file dirs read 6x SLOWER
than plain); and even compacted, each batch pays a DRIVER-side partition
discovery floor of ~1.7 ms per bucket dir (spark.read lists every dir
before pruning — 3.5 s of a 5.6 s batch at 2048 dirs). So the recipe
wins only where plain's O(state) rewrite dwarfs that listing floor:
state_rows must be large. On a metastore/ACID table format the listing
floor is O(touched) instead — the local-fs number is the WORST case.

Usage: python scripts/hash_bucket_trickle.py [state_rows] [batches] [keys_per_batch] [n_buckets]
n_buckets defaults to the shipped sizing helper (suggest_hash_bucket_count)
so the probe exercises the derivation a production caller would use.
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
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, MergeSink, suggest_hash_bucket_count,
    )

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    # 4th arg: an explicit count, or "auto" to run the bucketed variant
    # with key_bucket="auto" (the sink derives the policy from the seed
    # batch itself, r14 — the zero-config production path)
    use_auto = len(sys.argv) > 4 and sys.argv[4] == "auto"
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 and not use_auto else None

    spark = get_spark("hash_bucket_trickle")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/hash_bucket_trickle"
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
    if n_buckets is None and not use_auto:
        # the shipped sizing helper (r13) — the FULL production
        # derivation incl. the batch-aware floor (without
        # expected_keys_per_batch the default 2M/250k run derives just 8
        # buckets and measures the rewrite-blanketing regime, not the
        # layout the helper would actually recommend for these 200-key
        # batches); pass an explicit 4th arg to pin a count (the
        # committed r12/r13 configs pin 1024). In auto mode the SINK
        # derives the count from the seed batch itself — running the
        # helper here would both waste an aggregate and mislabel the
        # run's JSON with a count the run never used
        n_buckets = suggest_hash_bucket_count(
            seed.select("id"), expected_keys_per_batch=per_batch,
        ).n_buckets
        print(f"n_buckets derived by suggest_hash_bucket_count: {n_buckets}",
              file=sys.stderr)
    stride = n_rows // per_batch

    def trickle(b):
        # batch b point-updates `per_batch` keys spread across the key
        # space (k = b + i*stride): zero range locality by construction —
        # the workload where a range policy buys nothing even if the
        # domain were numeric
        ks = spark.range(per_batch).select(
            (F.lit(b) + F.col("id") * stride).alias("k")
        )
        return env(ks, (b + 1) * n_rows)

    # TRICKLE_CADENCE=N runs the BUCKETED variant with the shipped
    # compact_every_n_batches option active (r13) — the auto-cadence
    # fires inside the timed batches, so fire-batch cost is visible in
    # the per-batch series (each pass is a full O(state) rewrite; see
    # MergeSink._maybe_compact_files' cost model)
    cadence = int(os.environ.get("TRICKLE_CADENCE", "0")) or None

    results = {}
    bucketed_kb = "auto" if use_auto else HashKeyBucket(n_buckets)
    for name, kb in (("plain", None), ("hash_bucketed", bucketed_kb)):
        state = os.path.join(work, name)
        sink = MergeSink(spark, state, key_bucket=kb,
                         compact_every_n_batches=cadence if kb else None)
        t0 = time.monotonic()
        sink(seed, 0)  # seed batch; env() already emits ENVELOPE_SCHEMA
        # the documented small-files cadence BEFORE the trickle starts:
        # the seed's partitionBy write leaves ~shuffle-partition files per
        # bucket dir, and the carry-forward hardlinks EVERY untouched data
        # file each batch — at 2048 buckets x 32 files that metadata term
        # alone dwarfs the rewrite it saves (measured in the r12 smoke:
        # 8.8 s/batch at 4096 uncompacted dirs vs 1.4 s plain). One
        # compact_files pass -> 1 file/dir, links become O(n_buckets).
        sink.compact_files()
        seed_s = time.monotonic() - t0
        per = []
        for b in range(1, n_batches + 1):
            t1 = time.monotonic()
            sink(trickle(b), b)
            per.append(round((time.monotonic() - t1) * 1000))
        live = sink.read_state()
        results[name] = {
            # auto resolves at the seed batch; record what it derived
            **({"derived_n_buckets": sink.key_bucket.n_buckets}
               if kb == "auto" else {}),
            "seed_s": round(seed_s, 1),
            "per_batch_ms": per,
            "mean_ms": round(sum(per) / len(per)),
            "state_rows": live.count(),
            # decimal accumulator: a long sum of 2M xxhash64 values
            # overflows (ANSI raises)
            "checksum": live.agg(
                F.sum(F.xxhash64("id", "content", "seq")
                      .cast("decimal(38,0)")).cast("string")
            ).collect()[0][0],
        }
    assert results["plain"]["checksum"] == results["hash_bucketed"]["checksum"], \
        "variants diverged"
    print(json.dumps({
        "metric": "hash_bucket_trickle",
        "state_rows": n_rows, "batches": n_batches,
        # in auto mode the run's real count is what the sink derived
        "keys_per_batch": per_batch,
        "n_buckets": (results["hash_bucketed"].get("derived_n_buckets")
                      if use_auto else n_buckets),
        "cadence": cadence,
        "plain": results["plain"], "hash_bucketed": results["hash_bucketed"],
        "win": round(results["plain"]["mean_ms"]
                     / results["hash_bucketed"]["mean_ms"], 2),
    }))


if __name__ == "__main__":
    main()
