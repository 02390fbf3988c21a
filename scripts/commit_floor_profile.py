#!/usr/bin/env python
"""Decompose the bucketed sink's per-batch FLOOR (r15: the 30M range
trickle measured a flat ~2.25 s/batch on the auto-derived 4096-bucket
layout — state-independent, so it is the cost that bounds the win ratio
at any state size; the win clause MISSed on it). What fraction of that
floor is the O(n_buckets) carry-forward metadata walk (`_commit`'s
listdir + per-file hardlink over every untouched slice), versus the
Spark-side work (the touched-slice fold jobs, the clustered write, the
distinct-collect)? The answer decides whether a manifest-based commit
(slice->file map per version; commit = touched writes + one manifest,
O(touched) metadata — what ACID table formats do) is worth building, or
whether the floor is job-overhead-dominated and a manifest would buy
little on local FS.

Method: seed a bucketed state under ``key_bucket="auto"``, compact to
1 file/slice, then run trickle batches with ``os.link`` / ``os.listdir``
/ ``os.scandir`` wrapped by counting timers for the duration of each
sink call. Wall inside the wrappers = the carry-forward + validation
metadata term; the rest of the batch wall is Spark jobs + commit
bookkeeping. The wrappers are process-wide but the driver is the only
caller of these during a sink call (executors are JVM threads).

Usage: python scripts/commit_floor_profile.py [state_rows] [batches] [keys_per_batch]
Prints one JSON line with per-batch wall vs metadata-term series.
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
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 200

    spark = get_spark("commit_floor_profile")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/commit_floor_profile"
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

    sink = MergeSink(spark, os.path.join(work, "state"), key_bucket="auto")
    sink(env(spark.range(n_rows).select(F.col("id").alias("k")), 0), 0)
    sink.compact_files()

    # wrap the metadata syscalls with counting timers
    meta = {"s": 0.0, "link": 0, "listdir": 0, "scandir": 0}
    real_link, real_listdir, real_scandir = os.link, os.listdir, os.scandir

    def timed(name, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                meta["s"] += time.perf_counter() - t0
                meta[name] += 1
        return wrapper

    os.link = timed("link", real_link)
    os.listdir = timed("listdir", real_listdir)
    os.scandir = timed("scandir", real_scandir)

    # r16: time the growth signal's own post-commit footer walk
    # (_check_bucket_growth — O(touched files) parquet-footer reads; the
    # r15 verdict item 4 asked for its measured share of the floor)
    growth = {"s": 0.0}
    real_check = sink._check_bucket_growth

    def timed_check(pairs):
        t0 = time.perf_counter()
        try:
            return real_check(pairs)
        finally:
            growth["s"] += time.perf_counter() - t0

    sink._check_bucket_growth = timed_check
    try:
        base = n_rows - n_batches * per_batch
        walls, metas, links, growths = [], [], [], []
        for b in range(1, n_batches + 1):
            ks = spark.range(per_batch).select(
                (F.lit(base + (b - 1) * per_batch) + F.col("id")).alias("k")
            )
            meta.update(s=0.0, link=0, listdir=0, scandir=0)
            growth["s"] = 0.0
            t0 = time.monotonic()
            sink(env(ks, (b + 1) * n_rows), b)
            walls.append(round((time.monotonic() - t0) * 1000))
            metas.append(round(meta["s"] * 1000))
            links.append(meta["link"])
            growths.append(round(growth["s"] * 1000, 2))
    finally:
        os.link, os.listdir, os.scandir = real_link, real_listdir, real_scandir

    pol = sink.key_bucket.kb_identity()
    print(json.dumps({
        "metric": "commit_floor_profile",
        "state_rows": n_rows, "keys_per_batch": per_batch,
        "derived_policy": pol,
        "per_batch_wall_ms": walls,
        "per_batch_metadata_ms": metas,
        "per_batch_links": links,
        "per_batch_growth_check_ms": growths,
        "mean_wall_ms": round(sum(walls) / len(walls)),
        "mean_metadata_ms": round(sum(metas) / len(metas)),
        "metadata_share": round(sum(metas) / max(1, sum(walls)), 3),
        "growth_check_share": round(sum(growths) / max(1, sum(walls)), 4),
    }))


if __name__ == "__main__":
    main()
