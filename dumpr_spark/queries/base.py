"""Query-registry plumbing shared by all query modules.

Contract notes (driver harness):
- every computed column is aliased IDENTICALLY in Spark and oracle SQL;
- every query carries a total ORDER BY for deterministic hashing;
- doubles that aggregate floating-point sums are rounded on BOTH sides
  (cross-engine summation order differs in the low bits);
- integer SUMs are cast to BIGINT in the oracle (DuckDB widens to HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from dumpr_spark.sources.files import TPCH_TABLES, load_table

# Cross-engine rounding stabilizer. Spark rounds the double's shortest decimal
# repr HALF_UP; DuckDB rounds x*10^d in binary. They disagree exactly when the
# value's repr lands on a .xx5 boundary — which happens systematically for
# averages/ratios of low-decimal data. Adding a sub-lattice epsilon on BOTH
# sides moves the boundary to a point the data lattice cannot hit, while
# engine-to-engine float noise (~1e-12) stays far below it.
EPS = 1e-9


def eps_round(col, d: int, eps: float = EPS):
    return F.round(col + F.lit(eps), d)


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder with its oracle."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = Query(name, fn, oracle, tags, doc or (fn.__doc__ or ""))
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (type-normalized)."""
    return load_table(spark, sf_dir, name)


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register temp views for SQL-form queries (GROUPING SETS etc.)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every builder, in the driver's walk order (see ``queries.walk``)."""
    from dumpr_spark.queries.walk import walk

    return {name: REGISTRY[name].fn for name in walk()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
