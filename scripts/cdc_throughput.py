#!/usr/bin/env python
"""Measured CDC streaming throughput (r9, per the r8 verdict's item 5).

BASELINE.md's ">= 60 ops/s, expect orders of magnitude more" was DERIVED
from the reference's test timeout (core_test.clj:216-221: 60 events must
land within a second-scale timeout), not measured. This script measures the
real number for the full streaming path on the sf1-local change stream:

    file-feed ingest (maxFilesPerTrigger pacing)
      -> streaming_tx_filter (flatMapGroupsWithState, per-source state)
      -> envelope shaping -> MergeSink materialize (foreachBatch)

Feed construction (from .sf1_local/orders.parquet — run
scripts/make_sf1_local.py first): every order row becomes one row-level
change event (write/update/delete by the usual %5/%7 residues), payload =
the row JSON; rows wrap in ~TX_ROWS-row transactions per source with
tx-begin/tx-commit markers; S sources interleave (one source is inherently
as serial as its binlog — sources are the parallelism unit). Transactions
are wholly contained in one feed file (hash-partitioned by tx id), so file
arrival order across micro-batches cannot reorder a commit before its rows
— the cross-batch spanning case is a correctness test
(test_streaming_tx_filter_across_batches), not a throughput variable.

Reported numbers (one JSON line):
  - wall_sec_total + row_ops_per_sec_total / events_per_sec_total:
    end-to-end including session + first batch
  - sustained_events_per_sec: feed events through the tx filter divided
    by trigger execution time, EXCLUDING the first micro-batch
    (JVM/codegen warmup); numInputRows counts EVENTS including the
    2-per-transaction markers the filter strips (~2% at TX_ROWS=100)
  - sustained_row_ops_per_sec: the same rate scaled by the known row
    share — the steady-state ROW throughput a long-running ingest sees
  - per_batch events + ms for the curve

Usage: python scripts/cdc_throughput.py [n_rows] [files_per_trigger]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SOURCES = 8
TX_ROWS = 100          # target rows per transaction (per source)
N_FILES = 48           # feed files; txs are wholly contained in one file


def main(n_rows: int, files_per_trigger: int) -> None:
    from pyspark.sql import functions as F

    from dumpr_spark.session import get_spark
    from dumpr_spark.streaming.sink import MergeSink, start_merge_stream
    from dumpr_spark.streaming.state import streaming_tx_filter

    spark = get_spark("cdc_throughput")
    spark.sparkContext.setLogLevel("ERROR")

    sf1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1_local")
    if not os.path.isdir(sf1):
        raise SystemExit("run scripts/make_sf1_local.py first (.sf1_local missing)")

    work = "/tmp/cdc_throughput"
    shutil.rmtree(work, ignore_errors=True)
    feed, state, ckpt = (os.path.join(work, d) for d in ("feed", "state", "ckpt"))

    # ---- feed generation (not timed) ------------------------------------
    o = (
        spark.read.parquet(os.path.join(sf1, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(n_rows)
    )
    key = F.col("o_orderkey")
    src = F.concat(F.lit("s"), (key % N_SOURCES).cast("string"))
    txid = (key / (N_SOURCES * TX_ROWS)).cast("long")  # ~TX_ROWS rows/source
    etype = (
        F.when(key % 7 == 0, "delete").when(key % 5 == 0, "update")
        .otherwise("write")
    )
    rows = o.select(
        src.alias("source"),
        etype.alias("event_type"),
        F.lit("orders").alias("tbl"),
        F.to_json(F.struct("o_orderkey", "o_custkey", "o_totalprice"))
            .alias("payload"),
        (key * 4 + 1).alias("seq"),
        txid.alias("txid"),
    )
    spans = rows.groupBy("source", "txid").agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi")
    )
    markers = spans.select(
        "source",
        F.explode(
            F.array(
                F.struct(
                    F.lit("tx-begin").alias("event_type"),
                    (F.col("lo") - 1).alias("seq"),
                ),
                F.struct(
                    F.lit("tx-commit").alias("event_type"),
                    (F.col("hi") + 1).alias("seq"),
                ),
            )
        ).alias("m"),
        "txid",
    ).select(
        "source", F.col("m.event_type").alias("event_type"),
        F.lit(None).cast("string").alias("tbl"),
        F.lit(None).cast("string").alias("payload"),
        F.col("m.seq").alias("seq"), "txid",
    )
    feed_df = rows.unionByName(markers)
    n_ops = rows.count()
    n_events = n_ops + markers.count()
    (
        feed_df.repartition(N_FILES, F.col("txid"))
        .drop("txid")
        .write.mode("overwrite").json(feed)
    )

    # ---- the timed stream ------------------------------------------------
    events = (
        spark.readStream
        .schema("source string, event_type string, tbl string, payload string, seq long")
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .json(feed)
    )
    filtered = streaming_tx_filter(events)
    changes = filtered.select(
        F.when(F.col("event_type") == "delete", "delete")
            .otherwise("upsert").alias("op"),
        F.col("tbl"),
        F.get_json_object("payload", "$.o_orderkey").alias("id"),
        F.col("payload").alias("content"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("next_file"),
        F.col("seq").alias("next_position"),
        F.col("seq"),
    )
    t0 = time.time()
    q = start_merge_stream(changes, state, ckpt, output_mode="append")
    q.awaitTermination()
    wall = time.time() - t0

    progress = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        progress.append(
            (int(d["numInputRows"]), int(d["durationMs"]["triggerExecution"]))
        )
    progress = [p for p in progress if p[0] > 0]
    steady = progress[1:] if len(progress) > 1 else progress
    st_events = sum(r for r, _ in steady)
    st_ms = sum(ms for _, ms in steady)
    # numInputRows counts feed EVENTS (incl. the 2-per-tx markers the
    # filter strips, ~2% at TX_ROWS=100) — report both the event rate and
    # the row-op rate (events scaled by the known row share), so neither
    # label overstates (r9 review finding)
    row_share = n_ops / n_events
    st_eps = st_events / (st_ms / 1000.0) if st_ms else None
    n_state = MergeSink(spark, state).read_state().count()
    print(json.dumps({
        "metric": "cdc_streaming_throughput",
        "row_ops": n_ops,
        "feed_events": n_events,
        "n_sources": N_SOURCES,
        "files": N_FILES,
        "files_per_trigger": files_per_trigger,
        "batches": len(progress),
        "wall_sec_total": round(wall, 2),
        "row_ops_per_sec_total": round(n_ops / wall, 1),
        "events_per_sec_total": round(n_events / wall, 1),
        "sustained_events_per_sec": round(st_eps, 1) if st_eps else None,
        "sustained_row_ops_per_sec": round(st_eps * row_share, 1)
            if st_eps else None,
        "per_batch": [{"events": r, "ms": ms} for r, ms in progress],
        "state_rows": n_state,
    }))


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    fpt = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    main(n, fpt)
