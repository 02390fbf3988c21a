"""The repository's benchmark: one command, two workloads, one process.

    python3 perfbench/run.py --workload {cdc_replicate,queries}
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It starts a local Spark session with
`SPARK_GRAFT_CPUS` cores (default 2, see DEFAULT_CPUS), warms it up, runs
the workload for S seconds, checks the program's outputs, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics`.

Workloads (see `cdc_workload.py` and `query_mix.py`):
  cdc_replicate  snapshot + closed-loop binlog replay through the streaming sink
  queries        closed-loop mix of analytics and LLM-data curation queries

With `--trace 0` the metrics are the end-to-end ones, named alike on every
workload so each run reports all of them:
  setup_s         process start to the first timed operation: JVM start,
                  inputs, warm-up; on cdc_replicate also the snapshot
                  commit, as the timed part is the tail
  cpu_ms_per_op   CPU time of the process tree (this process, the JVM,
                  Python workers) over the timed part, per operation:
                  cdc_replicate, per row-op of the timed segments;
                  queries, per query execution (build + noop write). Its
                  inverse is the ops per second one core sustains.
Wall-clock times are in the report, not among the metrics: lag per segment
from its landing to the end of the batch that committed it, and time per
batch (cdc_replicate); time per query execution and per pass over the mix
(queries). On a shared host they follow the neighbours: two queries runs
of the same code, with 17 and 55 CPU-s of host steal, read 531 and 728 ms
of median query time, and 570 and 665 ms of CPU per query.

With `--trace 1` every call into a layer gets a span and a Spark job group,
Spark's event log is on, and the metrics are the per-layer ones: the same
names on every workload, 0 for a layer the workload does not run. They
include `session.peak_rss_mb`, the peak resident memory of the process tree
(this process, the JVM, Python workers) sampled every second; JVM heap
growth makes it vary too much between runs to bound.

The line before the result is a report: run metadata (cores, versions,
loadavg, host CPU time by kind including steal, commit, seed), sample counts,
`failed_share` and workload details.

Inputs are fixed tables under `perfbench/data/sf0.01` (a byte copy of the
sf0.01 test tables the oracle gate reads, see TESTDATA.md) and whatever the
seed generates: the CDC tail, and the query order of each pass. Everything
the run writes goes under `perfbench/out/` (reports, spans) and a scratch
dir it removes at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from types import SimpleNamespace

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("cdc_replicate", "queries")
# Spark task slots unless SPARK_GRAFT_CPUS says otherwise. Two leave the
# other cores of a small box to what runs beside the tasks: JIT compiler and
# GC threads, the Python workers, this process.
DEFAULT_CPUS = 2
# Compiler threads keep their own CPU time only while they live, so the JVM
# keeps a fixed set of them (see tree_cpu_s).
JIT_FLAGS = "-XX:-UseDynamicNumberOfCompilerThreads"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
SESSION_LAYERS = {
    "session.jvm_start_s": ("s", "setup_s"),
    "session.peak_rss_mb": ("MB", "none: memory, reported for itself"),
    "trace.overhead_s": ("s", "traced minus untraced end-to-end metrics"),
}


def tree_pids() -> list[int]:
    """This process and all its descendants: the JVM it started and the
    Python workers the JVM started."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) the process tree has spent running the
    program so far: the JVM's compiler threads are left out, as compiling
    is the JVM's warm-up, not the program's work, and how much of it lands
    in a run varies. A live process counts its own time, one that has
    exited counts in its parent's time for reaped children, so each counts
    once. Time the host gave other guests while this one waited (steal) is
    not in it."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, v = f.read().split("(", 1)[1].rsplit(")", 1)
                if name.startswith(JIT_THREADS):
                    total -= sum(int(x) for x in v.split()[11:13])
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop_evt.wait(1.0)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak_kb


def percentile(xs: list[float], pct: int) -> float:
    """Percentile with linear interpolation between samples."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def cpu_times() -> dict:
    """Host CPU seconds by kind since boot; on a VM `steal` is time another
    guest held this one's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    tick = os.sysconf("SC_CLK_TCK")
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq",
                     "softirq", "steal"), (x / tick for x in v)))


def run_metadata(args, cpus: int) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": cpus, "spark": pyspark.__version__,
        "python": platform.python_version(), "git_commit": git_commit(),
        "loadavg_before": os.getloadavg(), "cpu_s_before": cpu_times(),
    }


def start_session(work_dir: str, cpus: int, trace: bool, ev_dir: str):
    # Python workers are started by the JVM, not by this interpreter: they
    # find `dumpr_spark` only through PYTHONPATH, which must be set before
    # the JVM starts. Spark's scratch space stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # every JVM, the short-lived spark-submit launcher included; see JIT_FLAGS
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData {JIT_FLAGS} -Djava.io.tmpdir={os.environ['TMPDIR']}")
    from dumpr_spark.session import get_spark

    conf = {
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + ev_dir,
        })
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it started)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import dumpr_spark  # noqa: F401 - fail before any set-up without the program

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or min(DEFAULT_CPUS, len(os.sched_getaffinity(0))))
    out_dir = os.path.join(HERE, "out")
    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    ev_dir = os.path.join(work_dir, "eventlog")
    os.makedirs(ev_dir)
    os.makedirs(out_dir, exist_ok=True)
    meta = run_metadata(args, cpus)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work_dir, cpus, bool(args.trace), ev_dir)
        jvm_start_s = time.perf_counter() - t0
        from spans import EventLog, Tracer

        tracer = Tracer(spark.sparkContext, bool(args.trace))
        ctx = SimpleNamespace(
            spark=spark, workload=args.workload, seconds=args.seconds,
            rng=random.Random(args.seed), tracer=tracer, cpus=cpus, repo=REPO,
            data_dir=os.path.join(HERE, "data", "sf0.01"), work_dir=work_dir,
            t_start=T_START, tree_cpu_s=tree_cpu_s)
        if args.workload == "cdc_replicate":
            import cdc_workload as workload
        else:
            import query_mix as workload
        res = workload.run(ctx)
        stop_session(spark)
        spark = None
        peak_rss_mb = rss.stop() / 1024
        meta["loadavg_after"] = os.getloadavg()
        before = meta.pop("cpu_s_before")
        meta["cpu_s_during"] = {k: v - before[k] for k, v in cpu_times().items()}

        lat, cyc = res["latency_ms"], res["cycle_ms"]
        e2e = {
            "setup_s": (res["setup_s"], "s"),
            "cpu_ms_per_op": (res["cpu_s"] * 1e3 / res["ops"], "ms"),
        }
        report = {"meta": meta, "info": res["info"], "peak_rss_mb": peak_rss_mb,
                  "failed_share": res["failed"] / res["attempted"],
                  "end_to_end": {k: v for k, (v, _) in e2e.items()},
                  "ops": res["ops"], "cpu_s": res["cpu_s"],
                  "wall_clock": {"latency_ms_p50": percentile(lat, 50),
                                 "latency_ms_p75": percentile(lat, 75),
                                 "latency_ms_p90": percentile(lat, 90),
                                 "cycle_ms_p50": percentile(cyc, 50),
                                 "samples": {"latency_ms": len(lat),
                                             "cycle_ms": len(cyc)}}}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if args.trace:
            import cdc_workload
            import query_mix

            known = {**SESSION_LAYERS,
                     **{k: (u, f"{m} on cdc_replicate")
                        for k, (u, m) in cdc_workload.LAYERS.items()},
                     **{k: (u, f"{m} on queries")
                        for k, (u, m) in query_mix.LAYERS.items()}}
            layers = dict.fromkeys(known, 0.0)
            (log,) = os.listdir(ev_dir)
            measured = res["per_layer"](EventLog(os.path.join(ev_dir, log)))
            if set(measured) - set(known):
                raise KeyError(f"unlisted per-layer metrics: {set(measured) - set(known)}")
            layers.update(measured)
            layers["session.jvm_start_s"] = jvm_start_s
            layers["session.peak_rss_mb"] = peak_rss_mb
            layers["trace.overhead_s"] = tracer.overhead_s
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            tracer.write(spans_path, meta)
            report["spans"] = os.path.relpath(spans_path, REPO)
            report["per_layer"] = layers
            report["per_layer_moves"] = {k: m for k, (_, m) in known.items()}
            metrics = {k: {"value": v, "unit": known[k][0]} for k, v in layers.items()}
        with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report))
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    finally:
        if spark is not None:  # a workload raised: still end the JVM
            stop_session(spark)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
