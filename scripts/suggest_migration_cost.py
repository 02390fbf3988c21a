#!/usr/bin/env python
"""Measure `MergeSink.suggest_migration`'s own maintenance-scan cost at
volume (SCALE.md r16 prediction 3) — the call is documented as "one
full-state per-slice census + (when outgrown) the observation aggregate
and one candidate census, a deliberate maintenance scan, never
per-batch", and this times both verdict paths on an auto-seeded
bucketed state.

The first 30M run of this harness (pre-refinement) caught a RULE
wrinkle, not a timing surprise: on the uniform 0..n domain with a tight
target the three-term count is CAP-bound, the range candidate's
censused worst equals ceil(n / nb) — exactly the spread md5 hashing
guarantees — and the old single-conjunct fallback (cand_max >
threshold) returned HashKeyBucket even though hash could not do better
and would destroy the key locality the trickle workload depends on.
The shipped rule now requires cand_max > threshold AND cand_max >
ceil(n / nb); this harness asserts the migrate verdict matches
`derive_auto_policy` on the live ids (rule parity).

Usage: python scripts/suggest_migration_cost.py [state_rows]
Prints one JSON line with seed wall + per-path walls (x2 each).
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
        KeyBucket, MergeSink, derive_auto_policy,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000_000

    spark = get_spark("suggest_migration_cost")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/suggest_migration_cost"
    shutil.rmtree(work, ignore_errors=True)
    state = os.path.join(work, "state")

    def env(ids_df, seq_base):
        return ids_df.select(
            F.lit("upsert").alias("op"), F.lit("orders").alias("tbl"),
            F.col("k").cast("string").alias("id"),
            F.to_json(F.struct(F.col("k"), (F.col("k") % 97).alias("v")))
                .alias("content"),
            F.lit(None).cast("timestamp").alias("ts"),
            F.lit("f1").alias("next_file"),
            F.lit(None).cast("long").alias("next_position"),
            (F.col("k") + F.lit(seq_base)).cast("long").alias("seq"),
        )

    t0 = time.monotonic()
    sink = MergeSink(spark, state, key_bucket="auto")
    sink(env(spark.range(n).select(F.col("id").alias("k")), 0), 0)
    out = {"metric": "suggest_migration_cost", "state_rows": n,
           "auto_seed_s": round(time.monotonic() - t0, 1),
           "policy": sink.key_bucket.kb_identity()}

    # KEEP path (generous target: worst slice <= 4x target) — the pure
    # per-slice census, twice for a warm repeat
    for i in (1, 2):
        t0 = time.monotonic()
        r = sink.suggest_migration(target_rows_per_bucket=n)
        out[f"keep_s_{i}"] = round(time.monotonic() - t0, 1)
        assert r is None, r

    # MIGRATE path (tight target) — census + observation + candidate
    # census; on this uniform cap-bound domain the refined rule keeps
    # the RANGE candidate (hash would be no better)
    for i in (1, 2):
        t0 = time.monotonic()
        r = sink.suggest_migration(target_rows_per_bucket=1000)
        out[f"migrate_s_{i}"] = round(time.monotonic() - t0, 1)
    want = derive_auto_policy(sink.read_state().select("id"),
                              target_rows_per_bucket=1000)
    assert isinstance(r, KeyBucket) and r == want, (r, want)
    out["migrate_policy"] = r.kb_identity()
    out["rule_parity"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
