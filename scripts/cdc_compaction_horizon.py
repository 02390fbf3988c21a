#!/usr/bin/env python
"""Throughput x compaction interaction (r9 verdict item 6): a >= 50-batch
ingest horizon over which materialized state grows ~10x between the early
and late batches, run twice from the same feed —

  A (control):  60 one-file micro-batches, no maintenance;
  B (cadenced): the same 60 batches in 5 segments of 12, with the
                documented out-of-band cadence between segments (stream
                stopped -> MergeSink.compact() tombstone purge +
                compact_files() small-file rewrite -> resume from the
                same checkpoint).

Reported: per-batch triggerExecution ms for both variants, early/late
means, state rows + data-file count at the end, and per-segment
compaction wall time. The question the r9 throughput note deferred:
does the documented cadence keep per-batch cost flat as state grows, or
does the touched-partition merge term (rewrite of tbl=orders per batch)
dominate regardless?

Usage: python scripts/cdc_compaction_horizon.py [n_rows] [mode]
  mode = compaction (default) | buckets | crossover | history
  crossover (r11): replicate the feed 4x (>= 5M row-ops) so the plain
  sink's O(table) per-batch rewrite separates from the per-batch floor
  in wall-clock; bucket policy derived via suggest_key_bucket.
  history (r11): multi-version feed into the SCD2 HistorySink, cadenced
  prune_closed_before retention between segments.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SOURCES = 8
TX_ROWS = 100
# HORIZON_FILES extends the batch COUNT without touching the per-batch
# size (r12: the >=2x crossover separation needs state to outgrow the
# per-batch floor, and the floor scales with batch size — so a longer
# horizon at the same batch size is the lever, not a denser feed)
N_FILES = int(os.environ.get("HORIZON_FILES", "60"))
SEGMENT = 12  # files (= batches) per segment; cadence boundary for B


def build_feed(spark, staging: str, n_rows: int,
               layout: str = "hash", replicate: int = 1,
               id_mod: int | None = None) -> tuple[int, int]:
    """replicate: union `replicate` key-offset copies of the base rows —
    the r11 crossover probe's way to grow state past the ~2 s per-batch
    floor (>= 5M row-ops) without new source data. id_mod: fold the key
    space onto `id_mod` distinct ids so each id receives ~replicate *
    n_rows/id_mod VERSIONS spread across the key-ordered arrival — the
    multi-version feed the HistorySink retention horizon needs (a
    single-version feed never closes an interval)."""
    from pyspark.sql import functions as F

    sf1 = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1_local"
    )
    if not os.path.isdir(sf1):
        raise SystemExit("run scripts/make_sf1_local.py first (.sf1_local missing)")
    o = (
        spark.read.parquet(os.path.join(sf1, "orders.parquet"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(n_rows)
    )
    if replicate > 1:
        # max sf1 o_orderkey is 2,079,149,999 < 2^31: offset copies never
        # collide, and seq = key*4+1 stays unique and arrival-ordered
        base = o
        parts = [base]
        for i in range(1, replicate):
            parts.append(base.withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(i * 2_147_483_648)
            ))
        o = parts[0]
        for p in parts[1:]:
            o = o.unionByName(p)
    key = F.col("o_orderkey")
    src = F.concat(F.lit("s"), (key % N_SOURCES).cast("string"))
    txid = (key / (N_SOURCES * TX_ROWS)).cast("long")
    etype = (
        F.when(key % 7 == 0, "delete").when(key % 5 == 0, "update")
        .otherwise("write")
    )
    ent_id = (key % id_mod) if id_mod else key
    rows = o.select(
        src.alias("source"), etype.alias("event_type"),
        F.lit("orders").alias("tbl"),
        F.to_json(F.struct(ent_id.alias("o_orderkey"),
                           "o_custkey", "o_totalprice"))
            .alias("payload"),
        (key * 4 + 1).alias("seq"), txid.alias("txid"),
    )
    spans = rows.groupBy("source", "txid").agg(
        F.min("seq").alias("lo"), F.max("seq").alias("hi")
    )
    markers = spans.select(
        "source",
        F.explode(F.array(
            F.struct(F.lit("tx-begin").alias("event_type"),
                     (F.col("lo") - 1).alias("seq")),
            F.struct(F.lit("tx-commit").alias("event_type"),
                     (F.col("hi") + 1).alias("seq")),
        )).alias("m"),
        "txid",
    ).select(
        "source", F.col("m.event_type").alias("event_type"),
        F.lit(None).cast("string").alias("tbl"),
        F.lit(None).cast("string").alias("payload"),
        F.col("m.seq").alias("seq"), "txid",
    )
    feed_df = rows.unionByName(markers)
    n_ops, n_events = rows.count(), feed_df.count()
    if layout == "range":
        # key-ordered arrival (the real binlog shape for autoincrement
        # PKs: each batch carries a contiguous key range) — txs still
        # wholly contained per file (equal txids stay together)
        shaped = feed_df.repartitionByRange(N_FILES, F.col("txid"))
    else:
        shaped = feed_df.repartition(N_FILES, F.col("txid"))
    shaped.drop("txid").write.mode("overwrite").json(staging)
    return n_ops, n_events


def stream_segment(spark, feed, state, ckpt,
                   key_bucket=None, history=False) -> list[tuple[int, int]]:
    """availableNow run over whatever is in `feed`; returns (events, ms)
    per micro-batch. history=True streams into the SCD2 HistorySink
    instead of the current-state MergeSink."""
    from pyspark.sql import functions as F

    from dumpr_spark.streaming.history import start_history_stream
    from dumpr_spark.streaming.sink import start_merge_stream
    from dumpr_spark.streaming.state import streaming_tx_filter

    events = (
        spark.readStream
        .schema("source string, event_type string, tbl string, "
                "payload string, seq long")
        .option("maxFilesPerTrigger", "1")
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
    if history:
        q = start_history_stream(changes, state, ckpt, output_mode="append",
                                 key_bucket=key_bucket)
    else:
        q = start_merge_stream(changes, state, ckpt, output_mode="append",
                               key_bucket=key_bucket)
    q.awaitTermination()
    out = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if int(d["numInputRows"]) > 0:
            out.append((int(d["numInputRows"]),
                        int(d["durationMs"]["triggerExecution"])))
    return out


def count_data_files(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def run_variant(spark, staging, work, compact_between: bool,
                key_bucket=None):
    from dumpr_spark.streaming.sink import MergeSink

    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(feed, exist_ok=True)
    batches, compact_secs = [], []
    files = sorted(f for f in os.listdir(staging) if f.endswith(".json"))
    assert len(files) >= N_FILES, files
    for seg_start in range(0, N_FILES, SEGMENT):
        for f in files[seg_start:seg_start + SEGMENT]:
            shutil.copy(os.path.join(staging, f), os.path.join(feed, f))
        batches += stream_segment(spark, feed, state, ckpt,
                                  key_bucket=key_bucket)
        if compact_between and seg_start + SEGMENT < N_FILES:
            t0 = time.time()
            sink = MergeSink(spark, state, key_bucket=key_bucket)
            sink.compact()
            sink.compact_files()
            compact_secs.append(round(time.time() - t0, 2))
    sink = MergeSink(spark, state, key_bucket=key_bucket)
    return {
        "batches": len(batches),
        "per_batch_ms": [ms for _, ms in batches],
        "early_mean_ms": round(
            sum(ms for _, ms in batches[2:10]) / 8.0, 1),
        "late_mean_ms": round(
            sum(ms for _, ms in batches[-8:]) / 8.0, 1),
        "state_rows": sink.read_state().count(),
        "state_files": count_data_files(os.path.join(work, "state")),
        "compact_secs": compact_secs,
    }


def run_history_variant(spark, staging, work, prune_between: bool,
                        key_bucket=None, retention_segments: int = 2):
    """N batches into a HistorySink; with prune_between, the documented
    out-of-band retention cadence runs between segments: drop intervals
    closed more than `retention_segments` segments of seq-space ago
    (stream stopped -> prune_closed_before -> compact_files -> resume)."""
    from pyspark.sql import functions as F

    from dumpr_spark.streaming.history import HistorySink

    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(feed, exist_ok=True)
    batches, prune_secs = [], []
    files = sorted(f for f in os.listdir(staging) if f.endswith(".json"))
    assert len(files) >= N_FILES, files
    seg_span = None
    for seg_start in range(0, N_FILES, SEGMENT):
        for f in files[seg_start:seg_start + SEGMENT]:
            shutil.copy(os.path.join(staging, f), os.path.join(feed, f))
        batches += stream_segment(spark, feed, state, ckpt,
                                  key_bucket=key_bucket, history=True)
        if prune_between and seg_start + SEGMENT < N_FILES:
            t0 = time.time()
            sink = HistorySink(spark, state, key_bucket=key_bucket)
            lo, hi = sink._read_raw().agg(
                F.min("seq"), F.max("seq")).collect()[0]
            if seg_span is None:
                # seq-space one segment covers (key-ordered feed; seqs
                # need not start anywhere near 0 — sf1 orderkeys don't)
                seg_span = hi - lo
            horizon = hi - retention_segments * seg_span
            if horizon > lo:
                sink.prune_closed_before(horizon)
            sink.compact_files()
            prune_secs.append(round(time.time() - t0, 2))
    sink = HistorySink(spark, state, key_bucket=key_bucket)
    return {
        "batches": len(batches),
        "per_batch_ms": [ms for _, ms in batches],
        "early_mean_ms": round(
            sum(ms for _, ms in batches[2:10]) / 8.0, 1),
        "late_mean_ms": round(
            sum(ms for _, ms in batches[-8:]) / 8.0, 1),
        "state_rows": sink.read_state().count(),
        "history_rows": sink.read_history().count(),
        "state_files": count_data_files(os.path.join(work, "state")),
        "prune_secs": prune_secs,
    }


def main(n_rows: int, mode: str) -> None:
    from pyspark.sql import functions as F

    from dumpr_spark.session import get_spark

    spark = get_spark("cdc_compaction_horizon")
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/cdc_compaction_horizon"
    shutil.rmtree(work, ignore_errors=True)
    staging = os.path.join(work, "staging")

    if mode == "crossover":
        # r10 verdict item 3: grow state to >= 5M rows so the plain
        # sink's O(table) per-batch rewrite SEPARATES from the ~2 s
        # per-batch floor in wall-clock; key_bucket derived with the
        # shipped suggest_key_bucket policy helper (r10 verdict item 4).
        # Optional argv[3] extends the replication factor past the r11
        # default 4 (r12: the two narrowly-missed >=2x thresholds were
        # measured on a floor-inflated box — a longer horizon grows the
        # merge term past the floor regardless of box state).
        from dumpr_spark.streaming.sink import suggest_key_bucket

        replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        n_ops, n_events = build_feed(spark, staging, n_rows,
                                     layout="range", replicate=replicate)
        # JVM/codegen warmup before EITHER variant measures (r12: three
        # scored runs showed the first variant's committed early window
        # — batches 3-10 — reading ~1.3x the session's steady per-batch
        # floor: JIT/codegen transients land inside it and inflate the
        # late/early denominator for whichever variant runs first, while
        # the second variant opens warm. One throwaway segment into a
        # scratch state burns the transient; same basis as bench.py's
        # cold_run/steady split.)
        warm_work = os.path.join(work, "WARM")
        warm_feed = os.path.join(warm_work, "feed")
        os.makedirs(warm_feed, exist_ok=True)
        warm_files = sorted(
            f for f in os.listdir(staging) if f.endswith(".json")
        )[:SEGMENT]
        for f in warm_files:
            shutil.copy(os.path.join(staging, f), os.path.join(warm_feed, f))
        stream_segment(spark, warm_feed, os.path.join(warm_work, "state"),
                       os.path.join(warm_work, "ckpt"))
        shutil.rmtree(warm_work, ignore_errors=True)
        ids = (
            spark.read.json(staging).where("tbl IS NOT NULL")
            .select(F.get_json_object("payload", "$.o_orderkey").alias("id"))
        )
        kb = suggest_key_bucket(ids, target_rows_per_bucket=250_000)
        p = run_variant(spark, staging, os.path.join(work, "P"), False)
        k = run_variant(spark, staging, os.path.join(work, "K"), False,
                        key_bucket=kb)
        print(json.dumps({
            "metric": "cdc_key_bucket_crossover",
            "row_ops": n_ops, "feed_events": n_events,
            "files": N_FILES,
            "key_bucket": {"width": kb.width, "origin": kb.origin},
            "plain_sink": p, "key_bucketed_sink": k,
        }))
        return

    if mode == "history":
        # r10 verdict item 5: the SCD2 sink through the same horizon
        # discipline — multi-version feed (each id sees ~4 versions, so
        # intervals actually close), cadenced prune_closed_before
        # retention, per-batch cost + files recorded
        id_mod = max(1, n_rows // 4)
        n_ops, n_events = build_feed(spark, staging, n_rows,
                                     layout="range", id_mod=id_mod)
        kb = lambda c: (c.cast("long") / F.lit(max(1, id_mod // 24))).cast("int")  # noqa: E731
        h = run_history_variant(spark, staging, os.path.join(work, "H"), False)
        hp = run_history_variant(spark, staging, os.path.join(work, "HP"), True)
        hkp = run_history_variant(spark, staging, os.path.join(work, "HKP"),
                                  True, key_bucket=kb)
        print(json.dumps({
            "metric": "cdc_history_retention_horizon",
            "row_ops": n_ops, "feed_events": n_events,
            "files": N_FILES, "id_mod": id_mod,
            "no_retention": h, "cadenced_retention": hp,
            "key_bucketed_cadenced_retention": hkp,
        }))
        return

    if mode == "compaction":
        n_ops, n_events = build_feed(spark, staging, n_rows)
        a = run_variant(spark, staging, os.path.join(work, "A"), False)
        b = run_variant(spark, staging, os.path.join(work, "B"), True)
        print(json.dumps({
            "metric": "cdc_compaction_horizon",
            "row_ops": n_ops, "feed_events": n_events,
            "files": N_FILES, "segment": SEGMENT,
            "no_compaction": a, "cadenced_compaction": b,
        }))
        return

    # mode == "buckets": key-ordered arrival (the autoincrement-PK binlog
    # shape), plain tbl-partitioned sink vs the key_bucket-sliced layout —
    # the r10 remedy for the O(table-state) per-batch merge term
    n_ops, n_events = build_feed(spark, staging, n_rows, layout="range")
    kb = lambda c: (c.cast("long") / F.lit(2_000_000)).cast("int")  # noqa: E731
    p = run_variant(spark, staging, os.path.join(work, "P"), False)
    k = run_variant(spark, staging, os.path.join(work, "K"), False,
                    key_bucket=kb)
    # bucketed + the documented maintenance cadence: exercises
    # compact()'s per-slice tombstone purge AND compact_files' two-level
    # layout preservation at horizon scale
    kc = run_variant(spark, staging, os.path.join(work, "KC"), True,
                     key_bucket=kb)
    print(json.dumps({
        "metric": "cdc_key_bucket_horizon",
        "row_ops": n_ops, "feed_events": n_events,
        "files": N_FILES,
        "plain_sink": p, "key_bucketed_sink": k,
        "key_bucketed_cadenced": kc,
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 600_000,
         sys.argv[2] if len(sys.argv) > 2 else "compaction")
