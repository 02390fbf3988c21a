"""The `queries` workload: one client runs a fixed mix of registered queries
in a closed loop, each execution a call of the query's function plus a
`noop` write of the DataFrame it returns.

The mix takes one or two queries from each layer group of the read side and
of the LLM-data operators: relational and window queries, the as-of
operator, the `cdc.materialize` fold as a batch read, `functions.dedup`,
`functions.similarity`, and `functions.text` with the `operators.scale`
fan-out. None of these plans has a Python UDF node (`python_eval_s` reads
0); the pandas boundary runs in the tx filter on `cdc_replicate`.

Every query takes 0.3-1 s warm at local[2], so the pooled percentiles move
smoothly instead of jumping between one slow query and the rest
(`dedup_lsh_scaled`, 2-4 s, stays out for that reason). One warm pass takes
3.5-5 s. Per-layer metrics keep the groups apart, so a change aimed at one
group can be checked against the others; `cdc_replicate` runs none of this
code.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from spans import PYTHON_EVAL_NODES, task_skew

HERE = os.path.dirname(os.path.abspath(__file__))
WARMUP_PASSES = 2

# query name -> the layer group whose code it mainly runs
MIX = {
    "q1_pricing_summary": "queries.relational",
    "join_inner_star": "queries.relational",
    "win_topk_per_group": "queries.windows",
    # join_asof is a window formulation; this one runs operators.asof
    "join_asof_union": "operators.asof",
    "cdc_materialize": "queries.cdc",
    "dedup_exact": "functions.dedup",
    "sim_topk_bruteforce": "functions.similarity",
    "text_quality": "functions.text",
}
GROUPS = ("queries.relational", "queries.windows", "queries.cdc",
          "operators.asof", "functions.dedup", "functions.similarity",
          "functions.text")
GROUP_METRICS = ("build_s", "eager_jobs", "exec_s", "jobs", "tasks",
                 "narrow_stages", "executor_s", "task_skew", "shuffle_mb",
                 "spill_mb", "python_eval_s")
_UNITS = {"build_s": "s", "exec_s": "s", "executor_s": "s", "python_eval_s": "s",
          "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio"}
LAYERS = {f"{g}.{m}": (_UNITS.get(m, "count"),
                        "cpu_ms_per_op; query and pass times")
          for g in GROUPS for m in GROUP_METRICS}


def result_digest(pdf) -> str:
    """Order-insensitive digest of a result, in the canonical form the
    repository's oracle gate compares (`scripts/check_oracle.normalize`)."""
    from check_oracle import normalize

    canon = [sorted(pdf.columns), [list(r) for r in normalize(pdf)]]
    return hashlib.sha256(json.dumps(canon).encode()).hexdigest()


def run(ctx) -> dict:
    sys.path.insert(0, os.path.join(ctx.repo, "scripts"))
    from dumpr_spark.queries import REGISTRY

    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    names = sorted(MIX)
    attempted = failed = 0
    mismatched = []

    # Check pass, outside the timed loop. It is also the warm-up: the first
    # execution of each plan pays JIT and Python-worker start-up.
    order = names[:]
    ctx.rng.shuffle(order)
    for name in order:
        attempted += 1
        try:
            pdf = REGISTRY[name].fn(ctx.spark, ctx.data_dir).toPandas()
            ok = result_digest(pdf) == golden[name]
        except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
            print(f"check {name}: {e!r}"[:500], file=sys.stderr)
            ok = False
        if not ok:
            failed += 1
            mismatched.append(name)
    # Untimed passes in the timed form: pass times fall while the JVM
    # compiles the hot paths. A count, not a time, so a slow host does not
    # start timing with less compiled.
    for _ in range(WARMUP_PASSES):
        for name in order:
            REGISTRY[name].fn(ctx.spark, ctx.data_dir).write.format("noop").mode(
                "overwrite").save()
    setup_s = time.time() - ctx.t_start

    samples, passes = [], []
    cpu0 = ctx.tree_cpu_s()
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:  # whole passes only
        order = names[:]
        ctx.rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            attempted += 1
            group = MIX[name]
            try:
                with ctx.tracer.span(f"query:{name}"):
                    t0 = time.perf_counter()
                    with ctx.tracer.span(f"{group}.build") as bs:
                        df = REGISTRY[name].fn(ctx.spark, ctx.data_dir)
                    t1 = time.perf_counter()
                    with ctx.tracer.span(f"{group}.exec") as es:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                print(f"query {name}: {e!r}"[:500], file=sys.stderr)
                failed += 1
                continue
            samples.append({"name": name, "group": group, "build_s": t1 - t0,
                            "exec_s": t2 - t1, "build_span": bs,
                            "exec_span": es})
        passes.append(time.perf_counter() - p0)

    cpu_s = ctx.tree_cpu_s() - cpu0

    def per_layer(log) -> dict:
        return group_metrics(log, samples, ctx.cpus)

    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "cpu_s": cpu_s,
        "ops": len(samples),
        "latency_ms": [(s["build_s"] + s["exec_s"]) * 1e3 for s in samples],
        "cycle_ms": [p * 1e3 for p in passes],
        "info": {"passes": len(passes), "query_executions": len(samples),
                 "checked": len(names), "mismatched": mismatched,
                 "query_s_by_name": _by_name(samples)},
        "per_layer": per_layer,
    }


def _by_name(samples) -> dict:
    out: dict = {}
    for s in samples:
        out.setdefault(s["name"], []).append(round(s["build_s"] + s["exec_s"], 4))
    return out


def group_metrics(log, samples, cpus: int) -> dict:
    """Per-execution means of each layer group's counters; 0 for a group
    the workload does not run."""
    out = {f"{g}.{m}": 0.0 for g in GROUPS for m in GROUP_METRICS}
    for g in GROUPS:
        mine = [s for s in samples if s["group"] == g]
        if not mine:
            continue
        acc = {m: 0.0 for m in GROUP_METRICS}
        skews = []
        for s in mine:
            spans = (s["build_span"], s["exec_span"])
            stages = log.stages_where(lambda st: st["group"] in spans)
            acc["build_s"] += s["build_s"]
            acc["exec_s"] += s["exec_s"]
            acc["eager_jobs"] += len(log.jobs_where(
                lambda j: j["group"] == s["build_span"]))
            acc["jobs"] += len(log.jobs_where(lambda j: j["group"] in spans))
            acc["tasks"] += sum(st["tasks"] for st in stages)
            acc["narrow_stages"] += sum(st["tasks"] < cpus for st in stages)
            acc["executor_s"] += sum(st["exec_ms"] for st in stages) / 1e3
            acc["shuffle_mb"] += sum(st["shuffle_bytes"] for st in stages) / 1e6
            acc["spill_mb"] += sum(st["spill_bytes"] for st in stages) / 1e6
            acc["python_eval_s"] += sum(
                st["exec_ms"] for st in stages
                if any(n in st["scopes"] for n in PYTHON_EVAL_NODES)) / 1e3
            skews.append(task_skew(stages))
        for m in GROUP_METRICS:
            out[f"{g}.{m}"] = acc[m] / len(mine)
        out[f"{g}.task_skew"] = sorted(skews)[len(skews) // 2]
    return out
