"""The `cdc_replicate` workload: the paper's two operations back to back.

1. Snapshot: `Engine.snapshot_changes` over `orders` + `customer`, committed
   as batch 0 by a `MergeSink` with a bucketed (range) state layout.
2. Tail, closed loop: binlog segments, each a JSON feed file holding ten
   transactions (`tx-begin` ... `tx-commit`) from each of four sources,
   800 row-ops, landed one at a time; the next lands when the sink has
   committed the last, as a replicator catching up on a binlog does.
   Inserts take new autoincrement keys; updates and deletes are skewed to the
   newest live keys. The stream is `streaming_tx_filter` ->
   `start_merge_stream(trigger_available_now=False)`.

Every timed micro-batch so holds exactly one segment, whatever the host's
speed. In an open loop (a file every 0.2 s on a fixed schedule) a slower
host made fewer, larger batches, which spread the per-batch cost over more
rows: CPU per row-op read 3.3-4.7 ms across ten runs of the same code.

Lag of a segment runs from its landing to the end of the micro-batch that
committed it: the file-to-batch map comes from the checkpoint's source log,
batch end from the progress `timestamp` plus `triggerExecution`.

The state layout is a fixed `KeyBucket(width=1000)` rather than `"auto"`:
on these inputs auto derives a width of 4 (about 3,800 bucket dirs for
15k orders) and the snapshot commit alone takes over a minute on 4 cores,
more than a whole run may last. The fixed width keeps the bucketed path
(touched-slice fold, hard-link carry-forward) with 17 buckets of at most
1,000 rows; the tail touches the newest one or two of each table.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

from spans import STATEFUL_TX_FILTER_NODE

FEED_SCHEMA = "source string, event_type string, tbl string, payload string, seq long"
PKS = {"orders": "o_orderkey", "customer": "c_custkey"}
SOURCES = 4
TX_PER_SEGMENT = 10        # per source
ROWS_PER_TX = 20           # 4 x 10 x 20 = 800 row-ops per segment
MAX_SEGMENTS = 50          # made before the tail starts; a run lands 10-15
NEWEST_KEY_MEAN = 50       # mean distance of an update/delete from the newest key
TAIL_SEQ0 = 1 << 60        # above every snapshot seq (table_seq * 2^53 + ...)
COMMIT_TIMEOUT_S = 60
# Untimed segments first: the first pays the stream's start (planning, state
# store creation), and batch times fall while the JVM compiles the per-batch
# code paths. A count, not a time, so a slow host does not start timing
# with less compiled.
WARMUP_SEGMENTS = 4
# per-layer metric -> (unit, what it should move on cdc_replicate: end-to-end
# metrics, then wall-clock times from the report)
LAYERS = {
    "sources.list_ms": ("ms", "cpu_ms_per_op; lag"),
    "streaming.state.commit_ms": ("ms", "cpu_ms_per_op; batch and lag times"),
    "streaming.state.update_ms": ("ms", "cpu_ms_per_op; batch time"),
    "streaming.state.memory_bytes": ("bytes", "cpu_ms_per_op; batch time"),
    "streaming.state.rows_total": ("count", "cpu_ms_per_op; batch time"),
    "streaming.state.stage_runs_per_batch": ("count", "cpu_ms_per_op; batch and lag times"),
    "streaming.sink.add_batch_ms": ("ms", "cpu_ms_per_op; batch and lag times"),
    "streaming.sink.jobs_per_batch": ("count", "cpu_ms_per_op; batch and lag times"),
    "streaming.sink.tasks_per_batch": ("count", "cpu_ms_per_op; batch and lag times"),
    "streaming.sink.narrow_stages_per_batch": ("count", "cpu_ms_per_op; batch and lag times"),
    "streaming.sink.files_written_per_batch": ("count", "cpu_ms_per_op; batch time"),
    "streaming.sink.files_linked_per_batch": ("count", "cpu_ms_per_op; batch time"),
    "streaming.sink.write_amp": ("ratio", "cpu_ms_per_op; batch time"),
    "streaming.sink.snapshot_s": ("s", "setup_s"),
    "streaming.sink.state_dirs": ("count", "setup_s"),
    "cdc.envelope.snapshot_build_s": ("s", "setup_s"),
    "stream.planning_ms": ("ms", "cpu_ms_per_op; batch time"),
    "stream.wal_ms": ("ms", "cpu_ms_per_op; batch time"),
}


class TailGenerator:
    """Makes every segment from the seed before the tail starts, so the
    timed loop only writes files; keeps each row op for the reference
    fold."""

    def __init__(self, rng, live: dict[str, list[int]], n_files: int):
        self.records: list[dict] = []   # row ops, in feed order
        self.files: list[list[str]] = []
        seq = TAIL_SEQ0
        nxt = {t: (ks[-1] + 1 if ks else 1) for t, ks in live.items()}
        for _ in range(n_files):
            lines = []
            for s in list(range(SOURCES)) * TX_PER_SEGMENT:
                src = f"s{s}"
                lines.append(self._event(src, "tx-begin", None, None, seq))
                seq += 1
                for _ in range(ROWS_PER_TX):
                    tbl = "customer" if rng.random() < 0.1 else "orders"
                    keys, u = live[tbl], rng.random()
                    if u < 0.3 or not keys:
                        etype, key = "write", nxt[tbl]
                        nxt[tbl] += 1
                        keys.append(key)
                    else:
                        idx = len(keys) - 1 - min(
                            int(rng.expovariate(1 / NEWEST_KEY_MEAN)), len(keys) - 1)
                        key = keys[idx]
                        etype = "delete" if u < 0.45 else "update"
                        if etype == "delete":
                            keys.pop(idx)
                    payload = json.dumps(self._row(rng, tbl, key, seq))
                    lines.append(self._event(src, etype, tbl, payload, seq))
                    self.records.append({
                        "op": "delete" if etype == "delete" else "upsert",
                        "tbl": tbl, "id": str(key), "content": payload})
                    seq += 1
                lines.append(self._event(src, "tx-commit", None, None, seq))
                seq += 1
            self.files.append(lines)

    @staticmethod
    def _event(source, etype, tbl, payload, seq) -> str:
        return json.dumps({"source": source, "event_type": etype, "tbl": tbl,
                           "payload": payload, "seq": seq})

    @staticmethod
    def _row(rng, tbl, key, seq) -> dict:
        if tbl == "orders":
            return {"o_orderkey": key, "o_custkey": rng.randint(1, 1500),
                    "o_orderstatus": rng.choice("OFP"),
                    "o_totalprice": round(rng.uniform(900, 500_000), 2),
                    "o_comment": f"rev {seq}"}
        return {"c_custkey": key, "c_acctbal": round(rng.uniform(-999, 9999), 2),
                "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"]),
                "c_comment": f"rev {seq}"}

    def land(self, feed_dir: str, i: int) -> str:
        """Write file i atomically: the file source ignores dot-files, and
        the rename makes the whole file appear at once."""
        name = f"f{i:06d}.json"
        tmp = os.path.join(feed_dir, f".f{i:06d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(self.files[i]) + "\n")
        os.rename(tmp, os.path.join(feed_dir, name))
        return name


def source_log(ckpt: str) -> dict[str, int]:
    """Feed file name -> micro-batch id, from the file source's log."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def committed_batches(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


def _wait_committed(ckpt: str, names: list[str], q, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if q.exception() is not None:
            return False
        log, done = source_log(ckpt), committed_batches(ckpt)
        if all(log.get(n) in done for n in names):
            return True
        time.sleep(0.05)
    return False


def _parquet_files(root: str) -> dict[int, int]:
    """inode -> size of every data file under the state dir."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dp, f))
                out[st.st_ino] = st.st_size
    return out


def _median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2] if xs else 0.0


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from dumpr_spark.cdc.materialize import into_entity_map
    from dumpr_spark.engine import Engine
    from dumpr_spark.sources.files import load_table
    from dumpr_spark.streaming import sink as sink_mod
    from dumpr_spark.streaming.state import streaming_tx_filter

    spark, tracer = ctx.spark, ctx.tracer
    policy = sink_mod.KeyBucket(width=1000)
    feed, state, ckpt = (os.path.join(ctx.work_dir, d) for d in ("feed", "state", "ckpt"))
    os.makedirs(feed)

    engine = Engine(spark)
    for t in PKS:
        engine.register(t, load_table(spark, ctx.data_dir, t))
    t0 = time.perf_counter()
    with tracer.span("cdc.envelope.snapshot_build"):
        snap = engine.snapshot_changes(PKS)
    snapshot_build_s = time.perf_counter() - t0
    # the generator's record of the snapshot: the envelope rows it feeds
    snap_rows = [r.asDict() for r in snap.select("op", "tbl", "id", "content").collect()]
    live = {t: sorted(int(r["id"]) for r in snap_rows if r["tbl"] == t) for t in PKS}
    gen = TailGenerator(ctx.rng, live, MAX_SEGMENTS)

    attempted, failed = 1, 0
    t0 = time.perf_counter()
    with tracer.span("streaming.sink.snapshot"):
        sink_mod.MergeSink(spark, state, key_bucket=policy)(snap, 0)
    snapshot_s = time.perf_counter() - t0
    state_dirs = sum(len(ds) for _, ds, _ in os.walk(state))

    batches: list[dict] = []  # per sink call, traced run only

    class TracedSink(sink_mod.MergeSink):
        def __call__(self, batch, batch_id):
            before = _parquet_files(self.state_path)
            with tracer.span("streaming.sink.add_batch"):
                super().__call__(batch, batch_id)
            after = _parquet_files(self.state_path)
            new = [i for i in after if i not in before]
            batches.append({"batch": batch_id, "written": len(new),
                            "linked": sum(i in before for i in after),
                            "written_bytes": sum(after[i] for i in new)})

    events = spark.readStream.schema(FEED_SCHEMA).json(feed)
    pk = F.coalesce(*[F.when(F.col("tbl") == t, F.get_json_object("payload", f"$.{c}"))
                      for t, c in PKS.items()])
    changes = streaming_tx_filter(events).select(
        F.when(F.col("event_type") == "delete", "delete").otherwise("upsert").alias("op"),
        F.col("tbl"), pk.alias("id"), F.col("payload").alias("content"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("string").alias("next_file"),
        F.col("seq").alias("next_position"), F.col("seq"))
    plain_sink = sink_mod.MergeSink
    if tracer.enabled:  # same entry point, with the sink wrapped
        sink_mod.MergeSink = TracedSink
    try:
        q = sink_mod.start_merge_stream(
            changes, state, ckpt, trigger_available_now=False,
            output_mode="append", key_bucket=policy)
    finally:
        sink_mod.MergeSink = plain_sink

    landed: dict[str, float] = {}  # segment file -> wall time it landed

    def replay(seconds: float, names: list[str], count: int = MAX_SEGMENTS) -> bool:
        """Land segments one at a time, for `seconds` or `count` segments,
        each once the last is committed; this thread is the only client."""
        end = time.perf_counter() + seconds
        while (time.perf_counter() < end and len(names) < count
               and len(landed) < MAX_SEGMENTS):
            name = gen.land(feed, len(landed))
            landed[name] = time.time()
            names.append(name)
            if not _wait_committed(ckpt, [name], q, COMMIT_TIMEOUT_S):
                return False
        return True

    warm, names = [], []
    ok = replay(float("inf"), warm, WARMUP_SEGMENTS)
    setup_s = time.time() - ctx.t_start  # the snapshot commit included
    cpu0, t0 = ctx.tree_cpu_s(), time.perf_counter()
    ok = ok and replay(ctx.seconds, names)
    cpu_s, timed_s = ctx.tree_cpu_s() - cpu0, time.perf_counter() - t0
    q.stop()
    if q.exception() is not None or not ok:
        failed += 1

    # lag per segment, batch time per timed batch
    progress = {p.batchId: json.loads(p.json) for p in q.recentProgress}
    log = source_log(ckpt)

    def batch_end_s(b: int) -> float:
        p = progress[b]
        ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = (ts - datetime(1970, 1, 1)).total_seconds()
        return start + p["durationMs"]["triggerExecution"] / 1e3

    lag_ms = [(batch_end_s(log[n]) - landed[n]) * 1e3
              for n in names if log.get(n) in progress]
    timed = [progress[b] for b in sorted({log[n] for n in names if n in log})
             if b in progress]
    attempted += len(timed)
    batch_ms = [p["durationMs"]["triggerExecution"] for p in timed]

    # the replicated state must equal the reference fold of everything fed
    attempted += 1
    fed = gen.records[:len(landed) * SOURCES * TX_PER_SEGMENT * ROWS_PER_TX]
    expected = into_entity_map(snap_rows + fed)
    got = {(r["tbl"], r["id"]): r["content"] for r in
           plain_sink(spark, state, key_bucket=policy).read_state()
           .select("tbl", "id", "content").collect()}
    wrong_keys = len(set(expected) ^ set(got)) + sum(
        got[k] != v for k, v in expected.items() if k in got)
    if wrong_keys:
        failed += 1

    feed_bytes: dict[int, int] = {}
    for n, b in log.items():
        feed_bytes[b] = feed_bytes.get(b, 0) + os.path.getsize(os.path.join(feed, n))

    def per_layer(ev) -> dict:
        ids = [p["batchId"] for p in timed]

        def med(key):
            return _median([key(p) for p in timed])

        def op(p, k):
            return (p.get("stateOperators") or [{}])[0].get(k, 0)

        per_batch = {b: ev.stages_where(lambda s: s["batch"] == str(b)) for b in ids}
        sink_rows = [r for r in batches if r["batch"] in ids]
        return {
            "sources.list_ms": med(lambda p: p["durationMs"].get("latestOffset", 0)
                                   + p["durationMs"].get("getBatch", 0)),
            "streaming.state.commit_ms": med(lambda p: op(p, "commitTimeMs")),
            "streaming.state.update_ms": med(lambda p: op(p, "allUpdatesTimeMs")),
            "streaming.state.memory_bytes": med(lambda p: op(p, "memoryUsedBytes")),
            "streaming.state.rows_total": med(lambda p: op(p, "numRowsTotal")),
            "streaming.state.stage_runs_per_batch": _median(
                [sum(STATEFUL_TX_FILTER_NODE in s["scopes"] for s in st)
                 for st in per_batch.values()]),
            "streaming.sink.add_batch_ms": med(lambda p: p["durationMs"].get("addBatch", 0)),
            "streaming.sink.jobs_per_batch": _median(
                [len(ev.jobs_where(lambda j: j["batch"] == str(b))) for b in ids]),
            "streaming.sink.tasks_per_batch": _median(
                [sum(s["tasks"] for s in st) for st in per_batch.values()]),
            "streaming.sink.narrow_stages_per_batch": _median(
                [sum(s["tasks"] < ctx.cpus for s in st) for st in per_batch.values()]),
            "streaming.sink.files_written_per_batch": _median([r["written"] for r in sink_rows]),
            "streaming.sink.files_linked_per_batch": _median([r["linked"] for r in sink_rows]),
            "streaming.sink.write_amp": (
                sum(r["written_bytes"] for r in sink_rows)
                / max(1, sum(feed_bytes.get(b, 0) for b in ids))),
            "streaming.sink.snapshot_s": snapshot_s,
            "streaming.sink.state_dirs": state_dirs,
            "cdc.envelope.snapshot_build_s": snapshot_build_s,
            "stream.planning_ms": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
            "stream.wal_ms": med(lambda p: p["durationMs"].get("walCommit", 0)
                                 + p["durationMs"].get("commitOffsets", 0)),
        }

    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "cpu_s": cpu_s,
        "ops": len(names) * SOURCES * TX_PER_SEGMENT * ROWS_PER_TX,
        "latency_ms": lag_ms,
        "cycle_ms": batch_ms,
        "info": {
            "snapshot_rows": len(snap_rows), "snapshot_s": snapshot_s,
            "snapshot_rows_per_s": len(snap_rows) / snapshot_s,
            "segments": len(names), "warmup_segments": len(warm),
            "row_ops_per_s": len(names) * SOURCES * TX_PER_SEGMENT * ROWS_PER_TX / timed_s,
            "batches": len(timed), "batch_ms": batch_ms,
            "files_per_batch": [sum(b == p["batchId"] for b in log.values()) for p in timed],
            "state_keys": len(got), "wrong_keys": wrong_keys,
        },
        "per_layer": per_layer,
    }
