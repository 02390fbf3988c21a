"""Regenerate `golden.json`: one result digest per mix query, from the
query's DuckDB oracle over the benchmark's fixed input tables.

    python3 perfbench/make_golden.py

Needs `duckdb`. Run it only when the inputs or the mix change; the benchmark
compares the Spark result of every mix query against these digests.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> None:
    sys.path[:0] = [REPO, os.path.join(REPO, "scripts")]
    import duckdb
    from check_oracle import register_views

    from dumpr_spark.queries import REGISTRY
    from query_mix import MIX, result_digest

    con = duckdb.connect()
    register_views(con, os.path.join(HERE, "data", "sf0.01"))
    golden = {name: result_digest(con.sql(REGISTRY[name].oracle).df())
              for name in sorted(MIX)}
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
