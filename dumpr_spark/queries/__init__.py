"""Declared query inventory — the t2 correctness contract (SURVEY §2.2).

Every operator the engine claims is registered here as a (Spark builder,
DuckDB oracle SQL) pair; the driver runs both at sf0.01 and compares
row-count + schema + order-insensitive value hash. Registration happens on
import of the submodules below, and ``REGISTRY`` keeps registration order.
``queries()`` returns the builders in the driver's walk order, computed
from source fingerprints when it is called (``dumpr_spark.queries.walk``).
"""

from dumpr_spark.queries.base import REGISTRY, oracle_sql, queries
from dumpr_spark.queries import (  # noqa: F401  (importing registers the queries)
    cdc, llm, multimodal, relational, scalars, streaming_batch, training, udfs, windows,
)

__all__ = ["REGISTRY", "queries", "oracle_sql"]
