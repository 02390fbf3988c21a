#!/usr/bin/env python
"""Exercise the density-aware migration loop AT VOLUME on a clustered
domain (SCALE.md r16 prediction 5): ten 3M-key islands spaced 1e12
apart, seeded under ``key_bucket="auto"`` with default dials. The
equal-width range layout the seed derives concentrates one whole island
per bucket (worst live slice ~3M rows >> the 1M default warn
threshold), so the post-commit growth warn fires on the seed batch
itself; `suggest_migration()` then censuses the re-derived range
candidate (still island-concentrated) against both the threshold and
the ceil(n/nb) uniform spread and returns the hash fallback; and
`migrate_key_bucket` to that policy lands the worst slice at ~the
uniform spread — the drift the warn reported is actually fixed. This is
the at-volume twin of the certified 'clustered' scenario in
queries/cdc.cdc_bucket_growth_policy and of the r15 sf1-local lesson.

Usage: python scripts/clustered_fallback_volume.py
Prints one JSON line (seed/suggest/migrate walls, warn flag, censuses).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import functions as F

    from dumpr_spark.session import get_spark
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, MergeSink, migrate_key_bucket,
    )

    spark = get_spark("clustered_fallback_volume")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/clustered_fallback_volume"
    shutil.rmtree(work, ignore_errors=True)
    state = os.path.join(work, "state")

    def env(ids_df, seq_base):
        return ids_df.select(
            F.lit("upsert").alias("op"), F.lit("orders").alias("tbl"),
            F.col("k").cast("string").alias("id"),
            F.to_json(F.struct(F.col("k"))).alias("content"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit("f1").alias("next_file"),
            F.lit(None).cast("long").alias("next_position"),
            (F.col("k") + F.lit(seq_base)).cast("long").alias("seq"),
        )

    n = 30_000_000
    ids = spark.range(n).select(
        ((F.col("id") % 10) * F.lit(1_000_000_000_000)
         + (F.col("id") / 10).cast("long")).alias("k"))

    out = {"metric": "clustered_fallback_volume", "state_rows": n}
    sink = MergeSink(spark, state, key_bucket="auto")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        t0 = time.monotonic()
        sink(env(ids, 0), 0)
        out["auto_seed_s"] = round(time.monotonic() - t0, 1)
    hits = [str(x.message) for x in w if "growth threshold" in str(x.message)]
    out["seed_warn_fired"] = len(hits) == 1
    out["seed_policy"] = sink.key_bucket.kb_identity()

    t0 = time.monotonic()
    pol = sink.suggest_migration()
    out["suggest_s"] = round(time.monotonic() - t0, 1)
    out["suggested"] = {"kind": type(pol).__name__,
                        **(pol.kb_identity() if pol is not None else {})}
    assert isinstance(pol, HashKeyBucket), pol

    t0 = time.monotonic()
    migrate_key_bucket(spark, state, pol)
    out["migrate_s"] = round(time.monotonic() - t0, 1)

    # auto restart adopts the migrated policy (resolved on first read)
    post = MergeSink(spark, state, key_bucket="auto")
    live = post.read_state()
    assert post.key_bucket == pol, (post.key_bucket, pol)
    worst = (live.groupBy(pol(F.col("id")).alias("b"))
             .agg(F.count(F.lit(1)).alias("rows"))
             .agg(F.max("rows").alias("w")).collect()[0]["w"])
    out["post_migration_worst_slice"] = int(worst)
    out["uniform_spread"] = -(-n // pol.n_buckets)
    out["n_rows_ok"] = live.count() == n
    assert out["n_rows_ok"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
