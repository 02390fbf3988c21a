#!/usr/bin/env python
"""Plan audit: capture .explain('formatted') for EVERY registered query and
flag suspicious shapes — guide §1 "measure first" applied to the whole
registry at once, without running a single job.

For each query the report records: number of Exchange nodes (split into
hash/range/round-robin/single-partition), join strategies, Python-boundary
nodes (BatchEvalPython / ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas),
CartesianProduct / BroadcastNestedLoopJoin, scans whose ReadSchema is the
full table width, and filters that did NOT reach PushedFilters.

Usage: python scripts/plan_audit.py [sf_dir] [out_json] [query ...]
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# Queries whose returned plan is a pre-materialized literal (the four CDC
# policy rows collect() their tiny self-check output inside the timed query
# function and return it as a LocalRelation): the ~8-line plan this audit
# sees is NOT the real computation — regressions in that computation are
# invisible to plan-shape tooling and must be caught by walls/oracle instead.
PREMATERIALIZED = {
    "cdc_key_bucket_policy", "cdc_hash_bucket_policy",
    "cdc_auto_layout_policy", "cdc_bucket_growth_policy",
}


def audit_one(name: str, txt: str) -> dict:
    d: dict = {"name": name}
    if name in PREMATERIALIZED or ("Scan ExistingRDD" in txt and txt.count("\n") < 20):
        d["prematerialized"] = True
    d["exchanges"] = len(re.findall(r"^\s*\(\d+\) Exchange", txt, re.M))
    d["ex_hash"] = len(re.findall(r"Exchange hashpartitioning", txt))
    d["ex_range"] = len(re.findall(r"Exchange rangepartitioning", txt))
    d["ex_rr"] = len(re.findall(r"Exchange RoundRobinPartitioning", txt))
    d["ex_single"] = len(re.findall(r"Exchange SinglePartition", txt))
    d["joins"] = sorted(set(re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", txt)))
    d["py_nodes"] = sorted(set(re.findall(
        r"(BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas|AggregateInPandas)", txt)))
    d["scans"] = len(re.findall(r"Scan parquet", txt))
    d["sort_aggregate"] = len(re.findall(r"SortAggregate", txt))
    d["hash_aggregate"] = len(re.findall(r"HashAggregate", txt))
    d["obj_hash_aggregate"] = len(re.findall(r"ObjectHashAggregate", txt))
    d["window"] = len(re.findall(r"^\s*\(\d+\) Window", txt, re.M))
    d["generate"] = len(re.findall(r"^\s*\(\d+\) Generate", txt, re.M))
    # PushedFilters: [] with a Filter node above the scan = possibly unpushed
    d["empty_pushed"] = len(re.findall(r"PushedFilters: \[\]", txt))
    d["pushed_nonempty"] = len(re.findall(r"PushedFilters: \[[^\]]", txt))
    return d


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_audit.json"
    only = set(sys.argv[3:])

    from dumpr_spark.queries import REGISTRY
    from dumpr_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    plans_dir = os.environ.get("PLAN_AUDIT_DIR")
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            df = q.fn(spark, sf_dir)
            txt = plan_text(df)
        except Exception as e:  # noqa: BLE001 — audit must survive one bad row
            rows.append({"name": name, "error": repr(e)[:200]})
            continue
        rows.append(audit_one(name, txt))
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
        print(f"{name}: ex={rows[-1]['exchanges']} "
              f"(h{rows[-1]['ex_hash']}/r{rows[-1]['ex_range']}/rr{rows[-1]['ex_rr']}/s{rows[-1]['ex_single']}) "
              f"joins={rows[-1]['joins']} py={rows[-1]['py_nodes']} scans={rows[-1]['scans']}",
              flush=True)

    with open(out_json, "w") as f:
        json.dump(rows, f, indent=1)
    print(f"\nwrote {len(rows)} rows to {out_json}")


if __name__ == "__main__":
    main()
