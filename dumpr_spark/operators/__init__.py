"""Scale toolkit (salted joins, bucketing, partitioned writes, fan-out)."""

from dumpr_spark.operators.scale import (
    bucketed_table,
    explain_str,
    salted_join,
    write_bucketed,
    write_partitioned,
)

__all__ = [
    "bucketed_table",
    "explain_str",
    "salted_join",
    "write_bucketed",
    "write_partitioned",
]
