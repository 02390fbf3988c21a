#!/usr/bin/env python
"""Measure the RANGE leg of ``key_bucket="auto"`` at volume (r14 verdict
item 4: the 30M auto trickle exercised the hash dispatch — string keys;
the numeric -> range dispatch is certified value-level
(cdc_auto_layout_policy) but had no at-volume run under auto).

Shape: a large NUMERIC-keyed table (autoincrement ids 0..N-1, the
reference's primary-key shape) receives a trickle of small update
batches with KEY LOCALITY — batch b point-updates `per_batch`
CONSECUTIVE keys inside the top of the domain (disjoint blocks walking
up, the recent-rows clustering a real CDC feed exhibits). This is the
workload the range layout exists for: under the r15 three-term auto
rule the seed derives ~max_buckets range slices (the distinct-key floor
drives into the metadata cap exactly as on the hash leg), and a
200-consecutive-key batch lands in 1-2 slices of ~N/4096 rows — versus
the hash layout's ~200 touched slices for the same batch (md5 spreading)
and versus plain's O(N) full-table fold+rewrite per batch.

Determinism: ids and update blocks are pure arithmetic; both variants
must end with IDENTICAL live state (asserted by checksum). The bucketed
variant runs with ``key_bucket="auto"`` — no helper call in the harness
— so the run measures exactly what a zero-config production caller gets,
including the derived-policy stamp and the r15 post-commit growth check
(which must stay SILENT here: slices hold ~N/4096 rows, far under the
1M-row default threshold).

Usage: python scripts/range_bucket_trickle.py [state_rows] [batches] [keys_per_batch]
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
    from dumpr_spark.streaming.sink import MergeSink

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    spark = get_spark("range_bucket_trickle")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/range_bucket_trickle"
    shutil.rmtree(work, ignore_errors=True)

    def env(ids_df, seq_base):
        return ids_df.select(
            F.lit("upsert").alias("op"),
            F.lit("orders").alias("tbl"),
            F.col("k").cast("string").alias("id"),
            F.to_json(F.struct(F.col("k"), (F.col("k") + seq_base).alias("v")))
                .alias("content"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit("f1").alias("next_file"),
            F.lit(None).cast("long").alias("next_position"),
            (F.col("k") + F.lit(seq_base)).cast("long").alias("seq"),
        )

    seed = env(spark.range(n_rows).select(F.col("id").alias("k")), 0)
    # trickle blocks: disjoint CONSECUTIVE key runs inside the top
    # n_batches*per_batch keys of the domain (locality by construction)
    base = n_rows - n_batches * per_batch

    def trickle(b):
        ks = spark.range(per_batch).select(
            (F.lit(base + (b - 1) * per_batch) + F.col("id")).alias("k")
        )
        return env(ks, (b + 1) * n_rows)

    results = {}
    for name, kb in (("plain", None), ("range_bucketed", "auto")):
        state = os.path.join(work, name)
        sink = MergeSink(spark, state, key_bucket=kb)
        t0 = time.monotonic()
        sink(seed, 0)
        # one compact pass before the trickle, same discipline as the
        # hash probe: 1 file/slice keeps the carry-forward O(n_buckets)
        sink.compact_files()
        seed_s = time.monotonic() - t0
        per = []
        for b in range(1, n_batches + 1):
            t1 = time.monotonic()
            sink(trickle(b), b)
            per.append(round((time.monotonic() - t1) * 1000))
        live = sink.read_state()
        results[name] = {
            **({"derived_policy": sink.key_bucket.kb_identity()} if kb else {}),
            "seed_s": round(seed_s, 1),
            "per_batch_ms": per,
            "mean_ms": round(sum(per) / len(per)),
            "state_rows": live.count(),
            "checksum": live.agg(
                F.sum(F.xxhash64("id", "content", "seq")
                      .cast("decimal(38,0)")).cast("string")
            ).collect()[0][0],
        }
    assert results["plain"]["checksum"] == results["range_bucketed"]["checksum"], \
        "variants diverged"
    ms = results["range_bucketed"]["per_batch_ms"]
    third = max(1, len(ms) // 3)
    print(json.dumps({
        "metric": "range_bucket_trickle",
        "state_rows": n_rows, "batches": n_batches,
        "keys_per_batch": per_batch,
        "plain": results["plain"],
        "range_bucketed": results["range_bucketed"],
        "win": round(results["plain"]["mean_ms"]
                     / results["range_bucketed"]["mean_ms"], 2),
        "bucketed_late_over_early": round(
            (sum(ms[-third:]) / third) / (sum(ms[:third]) / third), 2),
    }))


if __name__ == "__main__":
    main()
