"""JDBC upsert sink — the reference's stated use case ("populating a search
index live", /root/reference/README.md:14-21) as a foreachBatch target
against any MERGE-capable SQL store.

The scale-correct shape is two-phase:

1. executors write the micro-batch to a STAGING table through Spark's
   parallel JDBC writer (one connection per partition, batched inserts) —
   the data never funnels through the driver;
2. the driver issues ONE set-based ``MERGE INTO target USING staging``
   statement — upserts and deletes resolve inside the database, which is
   what scales (and what a row-at-a-time executor-side upsert loop does
   not: per-row round-trips, no transactional batch boundary).

Exactly-once composition: Structured Streaming replays a failed batch with
the same rows; staging is overwritten and MERGE is deterministic by key, so
a replay converges to the same target state (idempotent upsert, same
argument as MergeSink's max-by-seq fold). The caller folds the batch to one
row per key first (cdc.materialize with tombstones) so MERGE sees at most
one action per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


class JdbcMergeSink:
    """foreachBatch target: MERGE a folded micro-batch into `table`.

    Expects batches with `key_col`, `value_cols`, and an `op` column
    (op='delete' rows delete the key; anything else upserts). Identifiers
    are interpolated into DDL/MERGE strings — they come from code, not
    data; values always travel via the staging table, never via SQL text.

    `dialect` picks the set-based upsert syntax: ``ansi`` (Derby, Postgres
    15+, SQL Server, Oracle — one MERGE statement) or ``mysql`` (no MERGE:
    a DELETE-join plus INSERT ... SELECT ... ON DUPLICATE KEY UPDATE, which
    requires a PRIMARY/UNIQUE key on `key_col` — the same precondition MERGE
    matching has). Both forms act on the folded one-row-per-key batch, so a
    key sees exactly one action and the two-statement MySQL form is
    order-independent and replay-idempotent like the single MERGE.
    """

    DIALECTS = ("ansi", "mysql")

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        key_col: str,
        value_cols: list[str],
        staging: str | None = None,
        properties: dict[str, str] | None = None,
        string_cast_len: int = 4000,
        dialect: str = "ansi",
    ):
        if dialect not in self.DIALECTS:
            raise ValueError(f"dialect must be one of {self.DIALECTS}, got {dialect!r}")
        self.spark = spark
        self.url = url
        self.table = table
        self.key_col = key_col
        self.value_cols = list(value_cols)
        self.staging = staging or f"{table}_STAGING"
        self.properties = properties or {}
        # string staging refs are CAST to VARCHAR(string_cast_len) in the
        # MERGE; values longer than this raise/truncate per the dialect —
        # size it to the widest string column the target carries
        self.string_cast_len = string_cast_len
        self.dialect = dialect

    def _exec_update(self, sql: str) -> None:
        """Driver-side statement on a connection built with the SAME
        properties as the staging write (credentials, driver options)."""
        jvm = self.spark._jvm
        props = jvm.java.util.Properties()
        for k, v in self.properties.items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        cols = [self.key_col, *self.value_cols, "op"]
        staged = batch.select(*cols)
        # the emptiness probe and the staging write are two actions: persist
        # so the micro-batch is computed once (streaming/sink.py docstring)
        staged.persist()
        try:
            if staged.isEmpty():
                return
            # phase 1: executor-parallel staging write (overwrite =>
            # replay-safe). The staging table keeps the JDBC dialect's own
            # type mapping — on Derby that is CLOB for strings, and fighting
            # it breaks NULL writes (the dialect's setNull type must match
            # the column). The MERGE below CASTs string references instead.
            staged.write.mode("overwrite").jdbc(self.url, self.staging,
                                                properties=self.properties)
        finally:
            staged.unpersist()
        str_cols = {
            f.name for f in staged.schema.fields if f.dataType.simpleString() == "string"
        }
        # phase 2: set-based statement(s) on the driver connection.
        for sql in self.merge_statements(str_cols):
            self._exec_update(sql)

    def merge_statements(self, str_cols: set[str]) -> list[str]:
        """The dialect's set-based upsert statement(s), as strings (pure —
        unit-testable without a live database). Staging columns are quoted
        with the dialect's identifier quote: Spark's JDBC writer creates
        them as quoted (case-exact) identifiers, so unquoted references
        would case-fold away from them; the target table's identifiers are
        the caller's own and pass through verbatim. String (Derby: CLOB;
        MySQL: TEXT) references are CAST so comparisons and assignments
        type-check everywhere."""
        k = self.key_col
        qc = "`" if self.dialect == "mysql" else '"'
        cast_ty = (
            f"CHAR({self.string_cast_len})" if self.dialect == "mysql"
            else f"VARCHAR({self.string_cast_len})"
        )

        def s(c):
            ref = f"s.{qc}{c}{qc}"
            if c in str_cols:
                return f"CAST({ref} AS {cast_ty})"
            return ref

        ins_cols = ", ".join([k, *self.value_cols])
        ins_vals = ", ".join(s(c) for c in [k, *self.value_cols])
        if self.dialect == "mysql":
            # MySQL has no MERGE: delete-join the tombstones, then
            # INSERT..SELECT..ON DUPLICATE KEY UPDATE the upserts (ODKU may
            # reference the SELECT's table alias directly; requires a
            # PRIMARY/UNIQUE key on key_col)
            odku = ", ".join(f"{c} = {s(c)}" for c in self.value_cols)
            return [
                f"DELETE t FROM {self.table} t JOIN {self.staging} s "
                f"ON t.{k} = {s(k)} WHERE {s('op')} = 'delete'",
                f"INSERT INTO {self.table} ({ins_cols}) "
                f"SELECT {ins_vals} FROM {self.staging} s WHERE {s('op')} <> 'delete' "
                f"ON DUPLICATE KEY UPDATE {odku}",
            ]
        sets = ", ".join(f"{c} = {s(c)}" for c in self.value_cols)
        return [
            f"MERGE INTO {self.table} t USING {self.staging} s ON t.{k} = {s(k)} "
            f"WHEN MATCHED AND {s('op')} = 'delete' THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED AND {s('op')} <> 'delete' THEN INSERT ({ins_cols}) "
            f"VALUES ({ins_vals})"
        ]


def start_jdbc_merge_stream(
    changes: DataFrame,
    sink: JdbcMergeSink,
    checkpoint: str,
    fold=None,
):
    """Wire a change stream into a JDBC MERGE sink. `fold` maps each raw
    micro-batch to the one-row-per-key shape (default: pass-through)."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        sink(fold(batch) if fold is not None else batch, batch_id)

    return (
        changes.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
