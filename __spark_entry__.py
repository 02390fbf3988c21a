"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The actual inventory lives in ``dumpr_spark.queries`` (one module per operator
family, SURVEY.md §2.2); this file is the thin adapter the driver imports.

``queries()`` is in walk order, because the driver checks only a prefix of
it each round: first the names whose source fingerprint has no green driver
row in ``dumpr_spark/queries/verified.json`` (new, red, or edited since),
then the rest, oldest green round first. ``dumpr_spark/queries/walk.py``
computes that order and folds each round's CORRECTNESS_r{N}.json back in.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: CDC snapshot+change-stream
    materialization feeding a star-schema revenue rollup (the reference's
    stated use case: CDC into live analytics, README.md:14-21)."""
    # The driver's session may lack the nanos conf; set it before any read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from dumpr_spark.queries.relational import join_inner_star

    return join_inner_star(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.2, in walk order."""
    from dumpr_spark import queries as q

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in q.queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checkable query."""
    from dumpr_spark import queries as q

    return q.oracle_sql()
