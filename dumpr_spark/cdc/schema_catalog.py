"""Schema catalog with DDL-triggered invalidation (R9).

The reference caches per-table schemas and wholesale-clears the cache when a
binlog query event matches the DDL regex (cache clear stream.clj:204-212;
classification regex events.clj:88: ``(?i)^\\s*(alter table|create table|
drop table)``), so the next row event for that table re-fetches from
information_schema (query.clj:66-73).

Spark re-expression: the envelope carries the row image as JSON (late-bound
typing), so a schema change only affects *decoding*, not ingestion — rows
written before the DDL still parse (missing new columns => NULL, the same
tolerance from_json gives by construction). The catalog caches per-table
StructTypes; each micro-batch first routes any DDL events through
``invalidate_for_ddl`` and then decodes with ``schema_for``, which re-fetches
lazily. Invalidation granularity is per-table (finer than the reference's
whole-cache clear — same observable behavior, less refetching).

Scale note: the catalog lives on the driver and is consulted once per
(micro-batch, table) — O(tables) tiny metadata fetches, never per-row work.
The fetched StructType ships to executors inside the from_json expression.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

# events.clj:88 — the reference's DDL classifier, case-insensitive, anchored.
DDL_RE = re.compile(r"(?i)^\s*(alter table|create table|drop table)\s+(\S+)")


def classify_ddl(sql: str | None) -> tuple[str, str] | None:
    """(kind, table) for a DDL statement, else None. Table name is the first
    token after the verb, unquoted ('`db`.`t`' / 'db.t' => 't')."""
    if not sql:
        return None
    m = DDL_RE.match(sql)
    if not m:
        return None
    kind = m.group(1).lower().replace(" table", "-table")
    table = m.group(2).strip("`\"'；;").split(".")[-1].strip("`\"'")
    return (kind, table)


class SchemaCatalog:
    """Lazy per-table schema cache over a user-provided fetch function.

    fetch: table name -> StructType (e.g. built from information_schema via
    sources.jdbc.fetch_information_schema, or from a registry file).
    """

    def __init__(self, fetch: Callable[[str], StructType]):
        self._fetch = fetch
        self._cache: dict[str, StructType] = {}

    def schema_for(self, table: str) -> StructType:
        if table not in self._cache:
            self._cache[table] = self._fetch(table)
        return self._cache[table]

    def invalidate(self, table: str | None = None) -> None:
        """Drop one table's cached schema, or everything (the reference's
        wholesale clear, stream.clj:204-212)."""
        if table is None:
            self._cache.clear()
        else:
            self._cache.pop(table, None)

    def invalidate_for_ddl(self, events: DataFrame) -> list[str]:
        """Scan one micro-batch of events for DDL and invalidate affected
        tables. Returns the invalidated table names.

        Recognizes pre-classified ``event_type='alter-table'`` events (tbl
        column set) and raw ``event_type='query'`` events whose ``query`` text
        matches the DDL regex — both shapes the reference handles
        (events.clj:84-89).
        """
        cols = events.columns
        pre = (
            [r["tbl"] for r in events.where(F.col("event_type") == "alter-table")
             .select("tbl").distinct().collect() if r["tbl"]]
            if "tbl" in cols else []
        )
        raw = []
        if "query" in cols:
            for r in (
                events.where(F.col("event_type") == "query")
                .select("query").distinct().collect()
            ):
                hit = classify_ddl(r["query"])
                if hit:
                    raw.append(hit[1])
        touched = sorted(set(pre) | set(raw))
        for t in touched:
            self.invalidate(t)
        return touched


class TypedViewSink:
    """foreachBatch sink: envelope batches -> per-table TYPED parquet appends,
    decoding each table's JSON content against the catalog's current schema.

    The R9 integration point: DDL events in the batch invalidate the catalog
    BEFORE decoding, so a column added mid-stream is visible to every
    subsequent batch (and to post-DDL rows in the same batch — the JSON decode
    is schema-tolerant in both directions).
    """

    def __init__(self, catalog: SchemaCatalog, out_dir: str,
                 events_of_batch: Callable[[DataFrame], DataFrame] | None = None,
                 id_cols: dict[str, str] | None = None):
        self.catalog = catalog
        self.out_dir = out_dir
        # how to recover raw events (for DDL detection) from the batch; by
        # default the batch IS the raw event frame pre-envelope
        self.events_of_batch = events_of_batch or (lambda b: b)
        # per-table id-column map for events_to_changes; tables absent here
        # fall back to default id extraction
        self.id_cols = id_cols or {}

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from dumpr_spark.cdc.envelope import typed_view
        from dumpr_spark.sources.cdc_json import events_to_changes

        events = self.events_of_batch(batch)
        # the DDL scan, the table list and one write per table are each an
        # action: persist so the micro-batch is computed once, not N+2 times
        # (streaming/sink.py docstring)
        events.persist()
        try:
            self.catalog.invalidate_for_ddl(events)
            changes = events_to_changes(events, self.id_cols)
            tables = [r["tbl"] for r in changes.select("tbl").distinct().collect()]
            for table in tables:
                schema = self.catalog.schema_for(table)
                typed = typed_view(changes, table, schema)
                typed.write.mode("append").parquet(f"{self.out_dir}/{table}")
        finally:
            events.unpersist()
