"""CDC semantics as oracle-checked queries.

The envelope is derived *deterministically from the testdata* inside each
query (both engines derive the identical stream), so the driver's DuckDB
oracle can check the reference semantics end-to-end:

synthetic change stream over `orders`:
  - seq = o_orderkey*3      : initial upsert (snapshot image)
  - seq = o_orderkey*3+1    : update (price *2 — integer-exact on both
                              engines, no round-boundary noise) for
                              orderkey % 5 == 0
  - seq = o_orderkey*3+2    : delete for orderkey % 7 == 0
Expected state: orders minus the %7 deletes, with %5 (and not %7) updated.
This mirrors the reference generator model (insert→update→delete sequences,
core_test.clj:86-113) at table scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dumpr_spark.cdc.envelope import snapshot_to_changes
from dumpr_spark.cdc.materialize import materialize
from dumpr_spark.operators.scale import fan_out
from dumpr_spark.queries.base import eps_round, query, t

# The auto-layout dial constants — f-strung into the oracle SQL below so
# a dial edit surfaces as a reviewable oracle diff + driver re-cert, not
# a runtime self-check assertion (r14 advice item 4).
from dumpr_spark.streaming.sink import (  # noqa: E402
    AUTO_MAX_BUCKETS as _CAP,
    AUTO_TARGET_REWRITE_SHARE as _SHARE,
    GROWTH_WARN_FACTOR as _GROW,
)

# DuckDB-side synthetic stream (identical derivation; content carried as
# typed columns — the JSON content column is exercised by cdc_envelope_shape).
_CHANGES_CTE = """
    WITH changes AS (
      SELECT 'upsert' AS op, CAST(o_orderkey AS VARCHAR) AS id, o_orderkey,
             o_totalprice, o_orderstatus, CAST(o_orderkey * 3 AS BIGINT) AS seq
      FROM orders
      UNION ALL
      SELECT 'upsert', CAST(o_orderkey AS VARCHAR), o_orderkey,
             o_totalprice * 2, o_orderstatus, CAST(o_orderkey * 3 + 1 AS BIGINT)
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT 'delete', CAST(o_orderkey AS VARCHAR), o_orderkey,
             NULL, NULL, CAST(o_orderkey * 3 + 2 AS BIGINT)
      FROM orders WHERE o_orderkey % 7 = 0
    )
"""


def _synthetic_changes(spark, sf_dir) -> DataFrame:
    """Spark side of the identical synthetic stream, in envelope shape
    (content = JSON row image, as the real CDC path produces).

    Built from ONE scan of orders: each row emits its 1-3 envelope variants
    (base upsert / %5 update / %7 delete) as an array a single explode
    flattens. Row-multiset-identical to the previous three-scan
    union-of-`snapshot_to_changes` formulation (that true snapshot path is
    still exercised by `cdc_envelope_shape` and the engine tests) but reads
    and JSON-encodes the table once instead of three times."""
    # the sf-dir table is one compact parquet file = one input partition;
    # fan rows across the cluster BEFORE the per-row JSON encoding and
    # 1-3x explode (same pre-multiplication repartition as minhash shingling).
    # CONDITIONAL: only when the scan under-parallelizes — a 100 TB input is
    # already ~800k splits, and an unconditional repartition there is a full-
    # table shuffle for nothing (r3 interleaved A/B: the shuffle costs ~10%
    # at sf0.1 even against a page-cached triple scan; skipping it when the
    # scan is wide makes this the strictly-cheapest form: one scan, zero
    # extra shuffles).
    # r17: the fan-out hashes on the envelope `id` (projected BEFORE the
    # exchange) instead of round-robin, and `tbl`/`id` ride as top-level
    # columns through the explode rather than inside the variant structs.
    # HashPartitioning([id]) satisfies ClusteredDistribution([tbl, id]) and
    # survives Project/Generate (id is a pass-through attribute), so every
    # downstream groupBy("tbl", "id") / Window.partitionBy("id") REUSES this
    # exchange: cdc_materialize drops from 3 exchanges + 2 SortAggregate
    # sorts to 2 exchanges + 1 sort, and the shuffle moves the narrow
    # pre-explode rows (~3 columns), not the JSON-bearing envelope. Hashing
    # also avoids round-robin's sort-before-repartition pass and is
    # deterministic under stage retry (guide §2.5).
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    k = F.col("o_orderkey")
    pre = o.select(
        F.col("o_orderkey"), F.col("o_totalprice"), F.col("o_orderstatus"),
        k.cast("string").alias("id"),
    )
    pre = fan_out(pre, "id")

    def env(op, content, ts, nfile, npos, seq):
        return F.struct(
            op.alias("op"),
            content.alias("content"),
            ts.alias("ts"),
            nfile.alias("next_file"),
            npos.alias("next_position"),
            seq.cast("long").alias("seq"),
        )

    null_ts = F.lit(None).cast("timestamp")
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    base = env(
        F.lit("upsert"),
        F.to_json(F.struct(k, F.col("o_totalprice"), F.col("o_orderstatus"))),
        null_ts, null_s, null_l, k * 3,
    )
    # *2 keeps the price on the 2-decimal lattice => cross-engine ROUND is
    # boundary-free (a 1.1 multiplier would create .xx5 values where Spark's
    # decimal-repr HALF_UP and DuckDB's binary round can disagree)
    update = F.when(
        k % 5 == 0,
        env(
            F.lit("upsert"),
            F.to_json(F.struct(
                k, (F.col("o_totalprice") * 2).alias("o_totalprice"), F.col("o_orderstatus")
            )),
            null_ts, null_s, null_l, k * 3 + 1,
        ),
    )
    delete = F.when(
        k % 7 == 0,
        env(
            F.lit("delete"), null_s,
            F.lit("2024-01-01 00:00:00").cast("timestamp"),
            F.lit("binlog.000001"), (k * 3 + 2).cast("long"), k * 3 + 2,
        ),
    )
    variants = F.filter(F.array(base, update, delete), lambda x: x.isNotNull())
    return pre.select(F.col("id"), F.explode(variants).alias("e")).select(
        F.col("e.op").alias("op"),
        F.lit("orders").alias("tbl"),
        F.col("id"),
        F.col("e.content").alias("content"),
        F.col("e.ts").alias("ts"),
        F.col("e.next_file").alias("next_file"),
        F.col("e.next_position").alias("next_position"),
        F.col("e.seq").alias("seq"),
    )


@query(
    "cdc_materialize",
    _CHANGES_CTE
    + """
    , latest AS (
      SELECT id, arg_max(o_orderkey, seq) AS o_orderkey,
             arg_max(o_totalprice, seq) AS o_totalprice,
             arg_max(op, seq) AS last_op, MAX(seq) AS seq
      FROM changes GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS order_id, ROUND(o_totalprice, 2) AS price, seq
    FROM latest WHERE last_op <> 'delete'
    ORDER BY order_id
    """,
    tags=("cdc", "flagship"),
)
def cdc_materialize(spark, sf_dir):
    """End-to-end last-write-wins materialization (entity-map fold,
    test_util.clj:110-123) over the synthetic change stream."""
    state = materialize(_synthetic_changes(spark, sf_dir))
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    return (
        state.withColumn("row", row)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.round(F.col("row.o_totalprice"), 2).alias("price"),
            F.col("seq"),
        )
        .orderBy("order_id")
    )


@query(
    "cdc_dedup_latest_window",
    _CHANGES_CTE
    + """
    , ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
      FROM changes
    )
    SELECT CAST(id AS BIGINT) AS order_id, ROUND(o_totalprice, 2) AS price
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    ORDER BY order_id
    """,
    tags=("cdc", "window"),
)
def cdc_dedup_latest_window(spark, sf_dir):
    """The window formulation of materialize (dedup-latest, SURVEY §2.2-E) —
    declared alongside the max_by form to pin both shapes."""
    from pyspark.sql import Window

    ch = _synthetic_changes(spark, sf_dir)
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    w = Window.partitionBy("id").orderBy(F.desc("seq"))
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "delete"))
        .withColumn("row", row)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.round(F.col("row.o_totalprice"), 2).alias("price"),
        )
        .orderBy("order_id")
    )


@query(
    "cdc_filter_tables",
    _CHANGES_CTE
    + """
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n
    FROM changes
    WHERE 'orders' IN ('orders', 'lineitem')  -- tbl filter allows 'orders'
    GROUP BY op ORDER BY op
    """,
    tags=("cdc",),
)
def cdc_filter_tables(spark, sf_dir):
    """Table-set filter over the envelope (R8) + op histogram."""
    from dumpr_spark.cdc.filters import filter_tables

    ch = filter_tables(_synthetic_changes(spark, sf_dir), ["orders", "lineitem"])
    return ch.groupBy("op").agg(F.count(F.lit(1)).alias("n")).orderBy("op")


@query(
    "cdc_next_position",
    _CHANGES_CTE
    + """
    SELECT arg_max(seq, seq) AS position
    FROM changes WHERE op = 'delete'
    """,
    tags=("cdc",),
)
def cdc_next_position(spark, sf_dir):
    """Resume-coordinate capture (R13): max-by-seq over rows that carry binlog
    meta (here: the deletes, which embed seq as next_position)."""
    ch = _synthetic_changes(spark, sf_dir)
    return (
        ch.where(F.col("next_position").isNotNull())
        .agg(F.max_by("next_position", "seq").alias("position"))
    )


@query(
    "cdc_envelope_shape",
    _CHANGES_CTE
    + """
    SELECT CAST(id AS BIGINT) AS order_id,
           CAST(o_orderkey AS BIGINT) AS content_key,
           o_orderstatus AS content_status
    FROM changes WHERE op = 'upsert' AND seq % 3 = 0 AND o_orderkey <= 100
    ORDER BY order_id, content_key
    """,
    tags=("cdc",),
)
def cdc_envelope_shape(spark, sf_dir):
    """Round-trip through the JSON content column: row image serialized at
    ingest, recovered typed via from_json (late binding, stream.clj:233-244)."""
    ch = _synthetic_changes(spark, sf_dir)
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    return (
        ch.where((F.col("op") == "upsert") & (F.col("seq") % 3 == 0))
        .withColumn("row", row)
        .where(F.col("row.o_orderkey") <= 100)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.col("row.o_orderkey").alias("content_key"),
            F.col("row.o_orderstatus").alias("content_status"),
        )
        .orderBy("order_id", "content_key")
    )


@query(
    "cdc_tx_filter",
    """
    WITH k AS (
      SELECT o_orderkey AS k, o_orderkey % 11 AS m, o_orderkey * 10 AS s
      FROM orders
    )
    SELECT CAST(seq AS BIGINT) AS seq, payload FROM (
      SELECT s + 1 AS seq, 'p' || k || '-1' AS payload FROM k WHERE m BETWEEN 1 AND 5
      UNION ALL SELECT s,     'p' || k || '-0' FROM k WHERE m = 6
      UNION ALL SELECT s + 1, 'p' || k || '-1' FROM k WHERE m = 7
      UNION ALL SELECT s + 3, 'p' || k || '-3' FROM k WHERE m = 7
      UNION ALL SELECT s + 1, 'p' || k || '-1' FROM k WHERE m = 9
      UNION ALL SELECT s + 2, 'p' || k || '-2' FROM k WHERE m = 9
    ) ORDER BY seq
    """,
    tags=("cdc", "tx"),
)
def cdc_tx_filter(spark, sf_dir):
    """Transaction filter (R4, stream.clj:22-54) under the value-level oracle.

    A deterministic marker stream is derived from orders (one independent
    mini-sequence per orderkey at seq = key*10+offset, every sequence closed
    so group outcomes are state-independent), covering every R4 behavior:
    commit releases (m 1-5, and the two-write m=9), rollback discards (m=0),
    out-of-tx rows pass straight through (m=6), a NESTED begin keeps the
    buffer (m=7: both writes survive one commit), an orphan commit is a
    stripped no-op (m=8), and an empty rollback emits nothing (m=10).

    The Spark side runs the real `filter_committed_txs` window state machine
    over the generated stream; the oracle derives the survivor set from
    first principles per case — an independent derivation, not a mirrored
    fold. The total-order window is the declared single-binlog parity path
    (a binlog is a serial log; the streaming twin is keyed state)."""
    from dumpr_spark.cdc.filters import filter_committed_txs

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    m = k % 11
    s = (k * 10).cast("long")

    def ev(et, off, with_payload=False):
        payload = (
            F.concat(F.lit("p"), k.cast("string"), F.lit(f"-{off}"))
            if with_payload
            else F.lit(None).cast("string")
        )
        return F.struct(
            F.lit(et).alias("event_type"),
            payload.alias("payload"),
            (s + off).alias("seq"),
        )

    begin, commit, rollback = "tx-begin", "tx-commit", "tx-rollback"
    arr = (
        F.when(m == 0, F.array(ev(begin, 0), ev("write", 1, True), ev(rollback, 2)))
        .when(m <= 5, F.array(ev(begin, 0), ev("write", 1, True), ev(commit, 2)))
        .when(m == 6, F.array(ev("write", 0, True)))
        .when(
            m == 7,
            F.array(
                ev(begin, 0), ev("write", 1, True), ev(begin, 2),
                ev("write", 3, True), ev(commit, 4),
            ),
        )
        .when(m == 8, F.array(ev(commit, 0)))
        .when(m == 9, F.array(ev(begin, 0), ev("write", 1, True), ev("write", 2, True), ev(commit, 3)))
        .otherwise(F.array(ev(begin, 0), ev(rollback, 1)))
    )
    events = o.select(F.explode(arr).alias("e")).select("e.event_type", "e.payload", "e.seq")
    return filter_committed_txs(events).select("seq", "payload").orderBy("seq")


@query(
    "cdc_stamp_filename",
    """
    WITH ev AS (
      SELECT o_orderkey * 2 + 1 AS seq, CAST(o_orderkey AS VARCHAR) AS id,
             CAST(NULL AS VARCHAR) AS rotate_file
      FROM orders
      UNION ALL
      SELECT o_orderkey * 2, NULL, 'binlog.' || o_orderkey
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    st AS (
      SELECT seq, id, rotate_file,
             COALESCE(
               last_value(rotate_file IGNORE NULLS) OVER (
                 ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               'binlog.000001') AS next_file
      FROM ev
    )
    SELECT CAST(seq AS BIGINT) AS seq, id, next_file
    FROM st WHERE rotate_file IS NULL ORDER BY seq
    """,
    tags=("cdc", "position"),
)
def cdc_stamp_filename(spark, sf_dir):
    """Binlog filename stamping (R5, stream.clj:56-74) under the value-level
    oracle: rotate events (every orderkey % 13 == 0, at seq just before that
    order's data event) set the current file; every data event is stamped
    with the latest rotate filename at-or-before it (initial file before the
    first rotate), and rotates themselves are consumed. Runs the real
    `stamp_binlog_filename` last_value(ignorenulls) window — the declared
    single-binlog parity path of the streaming filename tracker."""
    from dumpr_spark.cdc.positions import stamp_binlog_filename

    o = t(spark, sf_dir, "orders").select("o_orderkey")
    k = F.col("o_orderkey")
    data = o.select(
        (k * 2 + 1).cast("long").alias("seq"),
        k.cast("string").alias("id"),
        F.lit(None).cast("string").alias("rotate_file"),
    )
    rotates = o.where(k % 13 == 0).select(
        (k * 2).cast("long").alias("seq"),
        F.lit(None).cast("string").alias("id"),
        F.concat(F.lit("binlog."), k.cast("string")).alias("rotate_file"),
    )
    stamped = stamp_binlog_filename(data.unionByName(rotates), "binlog.000001")
    return stamped.select("seq", "id", "next_file").orderBy("seq")


@query(
    "cdc_scd2_history",
    _CHANGES_CTE
    + """
    , versions AS (
      SELECT id, op, o_totalprice, seq,
             lead(seq) OVER (PARTITION BY id ORDER BY seq) AS valid_to
      FROM changes
    )
    SELECT CAST(id AS BIGINT) AS order_id,
           ROUND(o_totalprice, 2) AS price,
           seq AS valid_from,
           valid_to,
           (valid_to IS NULL) AS is_current
    FROM versions WHERE op = 'upsert'
    ORDER BY order_id, valid_from
    """,
    tags=("cdc", "window", "temporal"),
)
def cdc_scd2_history(spark, sf_dir):
    """SCD Type-2 history from the change stream: every upsert version gets a
    validity interval [valid_from, valid_to), closed by the NEXT change of the
    same key (upsert or delete); an open interval marks the current version,
    and a key whose last change is a delete has no current row — the temporal-
    table view of the entity-map fold (test_util.clj:110-123), which is what
    'building live views of data for analytics' (README.md:14-21) needs for
    point-in-time correctness downstream.

    Scale shape: one lead() window partitioned BY KEY (tbl, id) — the same
    hash the materializer's fold uses, no global order anywhere; at 100 TB
    this co-partitions with materialize so AQE reuses the exchange when both
    run in one job. Runs the canonical `cdc.materialize.scd2_history`
    (HistorySink's batch twin), not a reimplementation."""
    from dumpr_spark.cdc.materialize import scd2_history

    ch = _synthetic_changes(spark, sf_dir)
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    return (
        scd2_history(ch)
        .withColumn("row", row)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.round(F.col("row.o_totalprice"), 2).alias("price"),
            F.col("valid_from"),
            F.col("valid_to"),
            F.col("is_current"),
        )
        .orderBy("order_id", "valid_from")
    )


@query(
    "cdc_time_travel",
    _CHANGES_CTE
    + """
    , cutoff AS (SELECT MAX(seq) // 2 AS s FROM changes),
    state_asof AS (
      SELECT id, arg_max(o_totalprice, seq) AS o_totalprice,
             arg_max(op, seq) AS last_op, MAX(seq) AS seq
      FROM changes WHERE seq <= (SELECT s FROM cutoff)
      GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS order_id, ROUND(o_totalprice, 2) AS price, seq
    FROM state_asof WHERE last_op <> 'delete'
    ORDER BY order_id
    """,
    tags=("cdc", "temporal"),
)
def cdc_time_travel(spark, sf_dir):
    """Time travel: materialized state AS OF a stream position — the same
    last-write-wins fold restricted to seq <= cutoff (here max(seq)/2, a
    mid-stream coordinate both engines derive identically). This is the
    reference's resume-coordinate semantics (core.clj:105-131) turned into a
    query: any saved {file, position} maps to a seq cutoff and the state at
    that moment is reconstructible from the log alone.

    Scale shape: the cutoff is a scalar broadcast; the seq filter pushes into
    the scan (on a seq-sorted log layout it prunes whole files), then the
    identical max_by partial-agg fold as cdc_materialize."""
    ch = _synthetic_changes(spark, sf_dir)
    cutoff = ch.agg((F.max("seq") / 2).cast("long").alias("s"))
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    state = materialize(ch.join(F.broadcast(cutoff), ch["seq"] <= F.col("s"), "inner"))
    return (
        state.withColumn("row", row)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.round(F.col("row.o_totalprice"), 2).alias("price"),
            F.col("seq"),
        )
        .orderBy("order_id")
    )


@query(
    "cdc_churn_stats",
    _CHANGES_CTE
    + """
    , per_key AS (
      SELECT id, COUNT(*) AS n_versions,
             SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS n_deletes
      FROM changes GROUP BY id
    )
    SELECT n_versions, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_deletes) AS BIGINT) AS deletes
    FROM per_key GROUP BY n_versions ORDER BY n_versions
    """,
    tags=("cdc", "agg"),
)
def cdc_churn_stats(spark, sf_dir):
    """Change-stream churn histogram: how many keys saw 1, 2, 3... versions,
    and how many deletes each cohort carries — the observability query a CDC
    operator runs to size state stores and spot hot keys before they skew the
    materialize shuffle. Two partial-combining aggregations; the second runs
    over |distinct versions| rows."""
    ch = _synthetic_changes(spark, sf_dir)
    per_key = ch.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
    )
    return (
        per_key.groupBy("n_versions")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_deletes").alias("deletes"),
        )
        .orderBy("n_versions")
    )


@query(
    "cdc_consistency_check",
    _CHANGES_CTE
    + """
    , latest AS (
      SELECT id, arg_max(o_totalprice, seq) AS o_totalprice,
             arg_max(op, seq) AS last_op
      FROM changes GROUP BY id
    ),
    state AS (
      SELECT id, o_totalprice FROM latest WHERE last_op <> 'delete'
    ),
    expected AS (
      -- the source-of-truth replica: the same fold, independently recomputed
      SELECT id, arg_max(o_totalprice, seq) AS o_totalprice
      FROM changes GROUP BY id
      HAVING arg_max(op, seq) <> 'delete'
    )
    SELECT
      CAST((SELECT COUNT(*) FROM state) AS BIGINT) AS state_rows,
      CAST((SELECT COUNT(*) FROM expected) AS BIGINT) AS expected_rows,
      (SELECT CAST(bit_xor(('0x' || substring(md5(id || ':' ||
          CAST(ROUND(o_totalprice + 1e-9, 2) AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
       FROM state) AS state_checksum,
      (SELECT CAST(bit_xor(('0x' || substring(md5(id || ':' ||
          CAST(ROUND(o_totalprice + 1e-9, 2) AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
       FROM expected) AS expected_checksum,
      (SELECT COUNT(*) FROM state) = (SELECT COUNT(*) FROM expected) AS rows_match,
      (SELECT CAST(bit_xor(('0x' || substring(md5(id || ':' ||
          CAST(ROUND(o_totalprice + 1e-9, 2) AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
       FROM state)
      = (SELECT CAST(bit_xor(('0x' || substring(md5(id || ':' ||
          CAST(ROUND(o_totalprice + 1e-9, 2) AS VARCHAR)), 1, 15))::BIGINT) AS BIGINT)
       FROM expected) AS checksums_match
    """,
    tags=("cdc", "ops"),
)
def cdc_consistency_check(spark, sf_dir):
    """State-drift detection — the operational CDC question 'does my
    materialized table still equal what the change log implies?': fold the
    log through the engine's materializer, independently recompute the
    expected state, and compare row counts plus an order-insensitive
    XOR-of-row-hashes checksum. In production the 'expected' side is a
    fresh source snapshot (or a per-table source checksum query) and a
    mismatch triggers re-snapshot; here both sides derive from the same
    log, so the check MUST pass — which makes it oracle-checkable while
    exercising the full comparison machinery.

    Scale shape: each side is the max_by fold (partial-combining) followed
    by ONE agg row — the checksum is a commutative XOR, so it partial-
    aggregates map-side and never sorts; comparing two tables costs two
    scans and two 1-row aggregates, no join of the states."""
    changes = _synthetic_changes(spark, sf_dir)
    state = materialize(changes)
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    # eps-before-round on BOTH engines (the repo-wide rounded-metric
    # discipline): a 1-ulp half-way wobble between DuckDB's and Spark's
    # rounding would flip the whole XOR checksum otherwise.
    shaped = state.withColumn("row", row).select(
        "id", eps_round(F.col("row.o_totalprice"), 2).alias("price")
    )
    # independent recompute of the expected fold (in production: snapshot)
    exp_row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    expected = (
        changes.withColumn("row", exp_row)
        .groupBy("id")
        .agg(
            F.max_by(eps_round(F.col("row.o_totalprice"), 2), "seq").alias("price"),
            F.max_by("op", "seq").alias("last_op"),
        )
        .where(F.col("last_op") != "delete")
        .select("id", "price")
    )

    def checksum(df):
        h = F.md5(F.concat(F.col("id"), F.lit(":"), F.col("price").cast("string")))
        cell = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        return df.select(cell.alias("c")).agg(
            F.count(F.lit(1)).cast("long").alias("rows"),
            F.bit_xor("c").cast("long").alias("checksum"),
        )

    s = checksum(shaped).select(
        F.col("rows").alias("state_rows"), F.col("checksum").alias("state_checksum")
    )
    x = checksum(expected).select(
        F.col("rows").alias("expected_rows"),
        F.col("checksum").alias("expected_checksum"),
    )
    return s.crossJoin(x).select(
        "state_rows",
        "expected_rows",
        "state_checksum",
        "expected_checksum",
        (F.col("state_rows") == F.col("expected_rows")).alias("rows_match"),
        (F.col("state_checksum") == F.col("expected_checksum")).alias("checksums_match"),
    )


@query(
    "cdc_op_rollup",
    _CHANGES_CTE
    + """
    SELECT 'orders' AS tbl, op,
           CAST(COUNT(*) AS BIGINT) AS n_changes,
           CAST(COUNT(DISTINCT id) AS BIGINT) AS n_keys,
           CAST(MIN(seq) AS BIGINT) AS min_seq,
           CAST(MAX(seq) AS BIGINT) AS max_seq
    FROM changes GROUP BY op ORDER BY op
    """,
    tags=("cdc", "ops", "agg"),
)
def cdc_op_rollup(spark, sf_dir):
    """Change-stream operations rollup: per (table, op) — change count,
    distinct keys touched, and the seq range covered — the first
    observability panel a CDC operator reads (is the stream all-deletes?
    did a bulk update touch every key? how far has seq advanced per
    table?). Complements cdc_churn_stats (per-key version histogram) at
    the per-table grain the reference's progress reporting works at
    (stream position tracking, core.clj:105-131).

    Scale shape: one partial-combining aggregate keyed by (tbl, op) — the
    distinct-keys term shuffles key hashes within each group once; output
    is |tables| x 2 rows."""
    ch = _synthetic_changes(spark, sf_dir)
    return (
        ch.groupBy("tbl", "op")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_changes"),
            F.count_distinct("id").cast("long").alias("n_keys"),
            F.min("seq").cast("long").alias("min_seq"),
            F.max("seq").cast("long").alias("max_seq"),
        )
        .orderBy("op")
    )


@query(
    "cdc_key_hotspots",
    _CHANGES_CTE
    + """
    , per_key AS (
      SELECT id, COUNT(*) AS n FROM changes GROUP BY id
    ),
    tot AS (SELECT COUNT(*)::DOUBLE AS total FROM changes)
    SELECT id, CAST(n AS BIGINT) AS n_changes,
           ROUND(n / total + 1e-9, 6) AS share
    FROM per_key, tot
    ORDER BY n_changes DESC, CAST(id AS BIGINT) LIMIT 20
    """,
    tags=("cdc", "ops", "agg"),
)
def cdc_key_hotspots(spark, sf_dir):
    """Hot-key detection: the 20 most-changed keys with their share of total
    change volume — the skew diagnostic that decides whether the
    materialize fold needs salting/AQE skew handling BEFORE the shuffle
    falls over (a single entity absorbing 5% of a 100 TB change stream is
    one reducer's death). Numeric-id tiebreak for determinism.

    Scale shape: per-key count with map-side combine (hashes shuffle, not
    payloads), 1-row total broadcast (allowlisted scalar BNLJ), TakeOrdered
    top-20 — no global sort."""
    ch = _synthetic_changes(spark, sf_dir)
    per_key = ch.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    tot = ch.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "id",
            F.col("n").cast("long").alias("n_changes"),
            eps_round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_changes"), F.col("id").cast("long"))
        .limit(20)
    )


@query(
    "cdc_materialize_salted",
    _CHANGES_CTE
    + """
    , latest AS (
      SELECT id, arg_max(o_orderkey, seq) AS o_orderkey,
             arg_max(o_totalprice, seq) AS o_totalprice,
             arg_max(op, seq) AS last_op, MAX(seq) AS seq
      FROM changes GROUP BY id
    )
    SELECT CAST(id AS BIGINT) AS order_id, ROUND(o_totalprice, 2) AS price, seq
    FROM latest WHERE last_op <> 'delete'
    ORDER BY order_id
    """,
    tags=("cdc", "scale"),
)
def cdc_materialize_salted(spark, sf_dir):
    """The two-phase SALTED entity-map fold (cdc/materialize.py:
    materialize_salted) against the SAME oracle as cdc_materialize — the
    driver gate itself proves salted == plain on real data, closing the
    skew handoff loop that cdc_key_hotspots opens (SCALE.md round-6:
    diagnostic -> salt factor -> equivalent fold). Phase one reduces
    (tbl, id, salt) cells with salt = pmod(xxhash64(seq), 8); phase two
    reduces the <= 8 surviving candidates per key; max_by over the unique
    seq is associative + commutative, so the result is exact.

    Scale shape: same map-side combine as the plain fold, plus one tiny
    extra shuffle of per-cell winners; the hot-key reducer fan-in drops
    from O(input partitions) to O(salt)."""
    from dumpr_spark.cdc.materialize import materialize_salted

    state = materialize_salted(_synthetic_changes(spark, sf_dir), salt=8)
    row = F.from_json("content", "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING")
    return (
        state.withColumn("row", row)
        .select(
            F.col("id").cast("long").alias("order_id"),
            F.round(F.col("row.o_totalprice"), 2).alias("price"),
            F.col("seq"),
        )
        .orderBy("order_id")
    )


@query(
    "cdc_seq_gap_audit",
    _CHANGES_CTE
    + """,
    seqs AS (SELECT DISTINCT seq, seq // 4096 AS file_id FROM changes),
    deltas AS (
      SELECT file_id, seq,
             seq - LAG(seq) OVER (PARTITION BY file_id ORDER BY seq) AS delta
      FROM seqs
    ),
    per_file AS (
      SELECT file_id, COUNT(*) AS n_seq, MIN(seq) AS seq_min,
             MAX(seq) AS seq_max,
             SUM(CASE WHEN delta > 1 THEN 1 ELSE 0 END) AS n_gaps,
             SUM(CASE WHEN delta > 1 THEN delta - 1 ELSE 0 END) AS n_missing,
             MAX(delta) AS max_gap
      FROM deltas GROUP BY file_id
    )
    SELECT f.file_id, CAST(f.n_seq AS BIGINT) AS n_seq,
           CAST(f.seq_min AS BIGINT) AS seq_min,
           CAST(f.seq_max AS BIGINT) AS seq_max,
           CAST(f.n_gaps AS BIGINT) AS n_gaps,
           CAST(f.n_missing AS BIGINT) AS n_missing,
           CAST(f.max_gap AS BIGINT) AS max_gap,
           ROUND(f.n_seq / (f.seq_max - f.seq_min + 1.0) + 1e-9, 6) AS density,
           CAST(f.seq_min - p.seq_max AS BIGINT) AS gap_to_prev
    FROM per_file f LEFT JOIN per_file p ON p.file_id = f.file_id - 1
    ORDER BY f.file_id
    """,
    tags=("cdc", "audit"),
)
def cdc_seq_gap_audit(spark, sf_dir):
    """Sequence-continuity audit of the change stream — the monitoring
    twin of position validation (R14): a replication pipeline that drops
    binlog events shows up as HOLES in the seq domain long before any
    row-level diff can catch it. Per binlog file (synthetic id =
    seq DIV 4096 here; a real feed keys on the R5 filename), reports
    distinct-seq count, seq range, intra-file gap count / missing
    positions / largest gap (delta > 1 between consecutive seqs), density,
    and the boundary delta to the PREVIOUS file (NULL for the first file —
    file-to-file continuity otherwise rides the R13/R14 position chain).
    The synthetic stream has gaps by construction (only %5 keys emit
    updates, %7 deletes), so the audit's positive path runs at every
    scale; on a lossless feed the contract inverts (density 1.0, gaps 0).

    Scale shape: the distinct-seq projection partial-combines before any
    window; the lag window partitions BY FILE — each partition is one
    file's bounded seq range, never a global order (the r4 rule; the
    two-phase prefix machinery is not needed because binlog files bound
    the partition by construction). Cross-file boundaries are an
    equi-join on file_id - 1 (dense ids join without ordering). Output is
    file-count-sized."""
    from pyspark.sql import Window

    ch = _synthetic_changes(spark, sf_dir)
    seqs = (
        ch.select("seq").distinct()
        .select("seq", F.expr("seq DIV 4096").alias("file_id"))
    )
    w = Window.partitionBy("file_id").orderBy("seq")
    deltas = seqs.select(
        "file_id", "seq", (F.col("seq") - F.lag("seq").over(w)).alias("delta")
    )
    # per_file is read twice (own row + the predecessor equi-join);
    # pin it so the synthetic-stream explode chain runs once
    per_file = deltas.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seq"),
        F.min("seq").cast("bigint").alias("seq_min"),
        F.max("seq").cast("bigint").alias("seq_max"),
        F.sum(F.when(F.col("delta") > 1, 1).otherwise(0)).cast("bigint")
            .alias("n_gaps"),
        F.sum(F.when(F.col("delta") > 1, F.col("delta") - 1).otherwise(0))
            .cast("bigint").alias("n_missing"),
        F.max("delta").cast("bigint").alias("max_gap"),
    ).localCheckpoint(eager=False)
    prev = per_file.select(
        (F.col("file_id") + 1).alias("file_id"),
        F.col("seq_max").alias("_prev_end"),
    )
    density = F.col("n_seq") / (
        F.col("seq_max") - F.col("seq_min") + F.lit(1)
    ).cast("double")
    return (
        per_file.join(prev, "file_id", "left")
        .select(
            "file_id", "n_seq", "seq_min", "seq_max", "n_gaps", "n_missing",
            "max_gap",
            eps_round(density, 6).alias("density"),
            (F.col("seq_min") - F.col("_prev_end")).cast("bigint")
                .alias("gap_to_prev"),
        )
        .orderBy("file_id")
    )


@query(
    "cdc_schema_evolution",
    """
    WITH state AS (
      SELECT c_custkey, c_name, c_acctbal,
             CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END AS seg,
             CASE WHEN c_custkey % 3 = 0 THEN 2 ELSE 1 END AS epoch
      FROM customer WHERE c_custkey % 11 <> 0
    )
    SELECT c_custkey AS cust_id, c_name AS name,
           ROUND(c_acctbal, 2) AS acctbal, seg AS segment,
           CAST(epoch AS INT) AS epoch,
           CAST(CASE WHEN epoch = 2 THEN 4 ELSE 3 END AS INT) AS decoded_cols
    FROM state ORDER BY cust_id
    """,
    tags=("cdc", "schema", "ddl"),
)
def cdc_schema_evolution(spark, sf_dir):
    """Mid-stream schema widening, end to end — R9 as a first-class
    registry row, not just a unit test: the reference treats DDL as a
    live hazard (cache clear on DDL, stream.clj:204-212; 'schema changes
    mid-stream invalidate position' README.md:213), and this query runs
    the full two-epoch lifecycle through the real SchemaCatalog.

    Epoch 1: every customer arrives as an upsert whose JSON row image has
    3 columns; the catalog serves the cached pre-DDL StructType. Then the
    source applies ``ALTER TABLE customer ADD COLUMN`` — the catalog
    keeps serving the STALE v1 schema (asserted) until the DDL event
    itself flows through ``invalidate_for_ddl``, which triggers exactly
    one re-fetch (asserted: 2 fetches total). Epoch 2: every
    custkey%3==0 row re-arrives with the 4-column image and decodes
    against v2; custkey%11==0 keys are deleted. The last-write-wins fold
    (the materialize() entity-map contract on the TYPED rows) yields a
    state where never-updated keys carry NULL for the new column — JSON
    late binding makes old rows forward-compatible by construction —
    and `decoded_cols` (derived from len(schema.fields) actually used
    per batch) pins the two-epoch decode into the value hash.

    Scale shape: catalog work is O(tables) driver metadata per batch —
    never per-row; both decode legs are narrow maps over the scan; the
    fold is the standard keyed max_by. The oracle replays the two-epoch
    outcome directly from the customer table."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from dumpr_spark.cdc.schema_catalog import SchemaCatalog

    v1 = StructType([
        StructField("c_custkey", LongType()),
        StructField("c_name", StringType()),
        StructField("c_acctbal", DoubleType()),
    ])
    v2 = StructType(v1.fields + [StructField("c_mktsegment", StringType())])
    upstream = {"customer": v1}
    fetches = {"n": 0}

    def fetch(table):
        fetches["n"] += 1
        return upstream[table]

    catalog = SchemaCatalog(fetch)
    s_pre = catalog.schema_for("customer")
    assert len(s_pre.fields) == 3 and fetches["n"] == 1

    # the DDL lands at the SOURCE first: information_schema now serves v2,
    # but the catalog must keep the v1 snapshot until the DDL event reaches
    # this point of the stream (decoding epoch-1 rows with a future schema
    # would be wrong the moment a column is renamed rather than added)
    upstream["customer"] = v2
    assert len(catalog.schema_for("customer").fields) == 3  # cached v1
    assert fetches["n"] == 1

    ddl = spark.createDataFrame(
        [("query", "ALTER TABLE customer ADD COLUMN c_mktsegment VARCHAR(10)")],
        "event_type string, query string",
    )
    touched = catalog.invalidate_for_ddl(ddl)
    assert touched == ["customer"]
    s_post = catalog.schema_for("customer")
    assert len(s_post.fields) == 4 and fetches["n"] == 2

    c = t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    e1 = c.select(
        k.cast("string").alias("id"),
        (k * 2).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
        F.to_json(F.struct(k, F.col("c_name"), F.col("c_acctbal")))
            .alias("content"),
        F.lit(1).alias("epoch"),
    )
    e2_up = c.where(k % 3 == 0).select(
        k.cast("string").alias("id"),
        (k * 2 + 1).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
        F.to_json(F.struct(
            k, F.col("c_name"), F.col("c_acctbal"), F.col("c_mktsegment")
        )).alias("content"),
        F.lit(2).alias("epoch"),
    )
    e2_del = c.where(k % 11 == 0).select(
        k.cast("string").alias("id"),
        (k * 2 + 2).cast("long").alias("seq"),
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("content"),
        F.lit(2).alias("epoch"),
    )

    def decode(batch, schema):
        # decoded_cols comes from the schema the batch ACTUALLY used, so a
        # catalog bug (stale v2, premature refetch) changes hashed values
        return batch.select(
            "id", "seq", "op", "epoch",
            F.lit(len(schema.fields)).alias("decoded_cols"),
            F.from_json("content", schema).alias("row"),
        )

    typed = (
        decode(e1, s_pre)
        .withColumn("row", F.col("row").withField(
            "c_mktsegment", F.lit(None).cast("string")))
        .unionByName(decode(e2_up, s_post))
        .unionByName(decode(e2_del, s_post))
    )
    latest = (
        typed.groupBy("id")
        .agg(F.max_by(
            F.struct("op", "row", "decoded_cols", "epoch"), F.col("seq")
        ).alias("w"))
        .where(F.col("w.op") != "delete")
    )
    return latest.select(
        F.col("w.row.c_custkey").alias("cust_id"),
        F.col("w.row.c_name").alias("name"),
        F.round(F.col("w.row.c_acctbal"), 2).alias("acctbal"),
        F.col("w.row.c_mktsegment").alias("segment"),
        F.col("w.epoch").cast("int").alias("epoch"),
        F.col("w.decoded_cols").cast("int").alias("decoded_cols"),
    ).orderBy("cust_id")


@query(
    "cdc_key_bucket_policy",
    """
    WITH ids AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(TRY_CAST(id AS BIGINT)) AS BIGINT) AS lo,
             CAST(MAX(TRY_CAST(id AS BIGINT)) AS BIGINT) AS hi
      FROM ids
    ),
    nb AS (
      SELECT n, lo, hi,
             GREATEST(CAST(1 AS BIGINT), (n + 5000 - 1) // 5000) AS n_buckets
      FROM m
    )
    SELECT n, lo AS origin, hi,
           n_buckets,
           GREATEST(CAST(1 AS BIGINT),
                    (hi - lo + 1 + n_buckets - 1) // n_buckets) AS width
    FROM nb
    """,
    tags=("cdc", "streaming", "policy"),
)
def cdc_key_bucket_policy(spark, sf_dir):
    """The key-bucket sizing policy for the subpartitioned sink state
    (streaming/sink.suggest_key_bucket, r10 verdict item 4), certified
    value-level: derive the pinned (width, origin) range policy from the
    CDC key domain (`orders` primary keys, the stream the cdc_* family
    materializes) at ~5000 live rows per (tbl, bucket) slice. The policy
    is what makes the MergeSink/HistorySink `key_bucket` layout O(touched
    slices) per batch without the caller guessing a width; this query is
    the helper's declarative twin — the SAME arithmetic as one Spark
    aggregate + integer expressions (ceil via (a+b-1) div b, exact), and
    the builder ALSO runs suggest_key_bucket itself and RAISES on any
    disagreement, so the driver's gate certifies the helper's collected
    path and the declarative path against DuckDB in one row.

    Scale shape: one map-side-combined 3-scalar aggregate over the key
    column — metadata-sized output, no shuffle of rows; exactly the cost
    class of the prefix-scan bucket collects."""
    from dumpr_spark.streaming.sink import suggest_key_bucket

    target = 5_000
    ids = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("id")
    )
    m = ids.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.col("id").try_cast("long")).cast("long").alias("lo"),
        F.max(F.col("id").try_cast("long")).cast("long").alias("hi"),
    )
    out = m.select(
        "n", F.col("lo").alias("origin"), "hi",
        F.greatest(F.lit(1).cast("long"),
                   F.expr(f"(n + {target} - 1) div {target}")).alias("n_buckets"),
    ).select(
        "n", "origin", "hi", "n_buckets",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(hi - origin + 1 + n_buckets - 1) div n_buckets"),
        ).alias("width"),
    )
    # self-check: the shipped helper (its own 4-scalar collect) must agree
    # with the declarative twin the oracle checks — a drifted helper fails
    # the gate loudly instead of silently suggesting a different layout
    kb = suggest_key_bucket(ids, target_rows_per_bucket=target)
    rows_c = out.collect()
    row = rows_c[0]
    if (kb.width, kb.origin) != (row["width"], row["origin"]):
        raise AssertionError(
            f"suggest_key_bucket ({kb.width}, {kb.origin}) != declarative "
            f"twin ({row['width']}, {row['origin']})"
        )
    # r17: the self-check above already materialized every output row —
    # return them as a literal (same values, same schema) instead of a
    # plan the consumer's action would re-evaluate end to end
    return spark.createDataFrame(rows_c, out.schema)


@query(
    "cdc_hash_bucket_policy",
    """
    WITH ids AS (
      SELECT 'user-' || CAST(o_orderkey AS VARCHAR) AS id FROM orders
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ids),
    raw AS (
      SELECT n,
             GREATEST(CAST(1 AS BIGINT), (n + 1000 - 1) // 1000) AS raw_buckets
      FROM m
    )
    SELECT n, raw_buckets,
           LEAST(raw_buckets, CAST(4096 AS BIGINT)) AS n_buckets,
           LEAST(raw_buckets, CAST(8 AS BIGINT)) AS n_buckets_capped,
           (n + LEAST(raw_buckets, CAST(8 AS BIGINT)) - 1)
             // LEAST(raw_buckets, CAST(8 AS BIGINT)) AS rows_per_slice_capped
    FROM raw
    """,
    tags=("cdc", "streaming", "policy"),
)
def cdc_hash_bucket_policy(spark, sf_dir):
    """The hash-bucket sizing policy for NON-NUMERIC key domains
    (streaming/sink.suggest_hash_bucket_count, r12 verdict item 4),
    certified value-level exactly like its range sibling
    cdc_key_bucket_policy: derive n_buckets from the observed key
    population (`orders` keys rendered as 'user-<pk>' strings — the
    UUID/composite-key shape `suggest_key_bucket` refuses and
    HashKeyBucket exists for) at ~1000 live rows per slice, with BOTH
    sides of the dial's measured failure modes visible in the output —
    the rows-per-slice target (too few buckets: rewrite blankets) as
    raw_buckets, and the metadata-floor cap (too many: O(n_buckets)
    listing/link terms, SCALE.md r12) as the LEAST() clamp, exercised
    here at cap=8 so the clamp is live at sf0.01 data sizes next to the
    default 4096 cap that is not. rows_per_slice_capped shows the cost
    of the clamp: the slice the rewrite term actually pays under the
    capped count. The builder ALSO runs suggest_hash_bucket_count at
    both caps and RAISES on any disagreement, so the driver's gate
    certifies the helper's collected path and the declarative path
    against DuckDB in one row.

    Scale shape: one map-side-combined COUNT over the key column —
    metadata-sized output, no shuffle of rows; the policy itself needs
    no min/max (the md5 projection spreads keys uniformly by
    construction, so rows/slice ~= n/n_buckets for any key
    distribution)."""
    from dumpr_spark.streaming.sink import suggest_hash_bucket_count

    target = 1_000
    ids = t(spark, sf_dir, "orders").select(
        F.concat(F.lit("user-"), F.col("o_orderkey").cast("string")).alias("id")
    )
    m = ids.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = m.select(
        "n",
        F.greatest(F.lit(1).cast("long"),
                   F.expr(f"(n + {target} - 1) div {target}")).alias("raw_buckets"),
    ).select(
        "n", "raw_buckets",
        F.least(F.col("raw_buckets"), F.lit(4096).cast("long")).alias("n_buckets"),
        F.least(F.col("raw_buckets"), F.lit(8).cast("long")).alias("n_buckets_capped"),
    ).select(
        "n", "raw_buckets", "n_buckets", "n_buckets_capped",
        F.expr("(n + n_buckets_capped - 1) div n_buckets_capped")
        .alias("rows_per_slice_capped"),
    )
    # self-check: the shipped helper (its own count collect) must agree
    # with the declarative twin the oracle checks — a drifted helper
    # fails the gate loudly instead of silently suggesting a different
    # layout (the cdc_key_bucket_policy discipline)
    kb = suggest_hash_bucket_count(ids, target_rows_per_bucket=target)
    kbc = suggest_hash_bucket_count(ids, target_rows_per_bucket=target,
                                    max_buckets=8)
    rows_c = out.collect()
    row = rows_c[0]
    if (kb.n_buckets, kbc.n_buckets) != (row["n_buckets"],
                                         row["n_buckets_capped"]):
        raise AssertionError(
            f"suggest_hash_bucket_count ({kb.n_buckets}, {kbc.n_buckets}) "
            f"!= declarative twin ({row['n_buckets']}, "
            f"{row['n_buckets_capped']})"
        )
    # r17: the self-check already materialized the output — return it as
    # a literal rather than a plan the consumer re-evaluates
    return spark.createDataFrame(rows_c, out.schema)


@query(
    "cdc_auto_layout_policy",
    f"""
    WITH num AS (SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders),
    strs AS (SELECT 'user-' || CAST(o_orderkey AS VARCHAR) AS id FROM orders),
    small AS (SELECT CAST(o_orderkey AS VARCHAR) AS id FROM orders
              WHERE o_orderkey % 97 = 1),
    obs AS (
      SELECT 'numeric' AS scenario, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(CASE WHEN TRY_CAST(id AS BIGINT) IS NULL
                         THEN 1 END) AS BIGINT) AS bad,
             CAST(COUNT(DISTINCT id) AS BIGINT) AS k,
             CAST(MIN(TRY_CAST(id AS BIGINT)) AS BIGINT) AS lo,
             CAST(MAX(TRY_CAST(id AS BIGINT)) AS BIGINT) AS hi
      FROM num
      UNION ALL
      SELECT 'strings', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN TRY_CAST(id AS BIGINT) IS NULL
                         THEN 1 END) AS BIGINT),
             CAST(COUNT(DISTINCT id) AS BIGINT),
             CAST(MIN(TRY_CAST(id AS BIGINT)) AS BIGINT),
             CAST(MAX(TRY_CAST(id AS BIGINT)) AS BIGINT)
      FROM strs
      UNION ALL
      SELECT 'numeric_small', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN TRY_CAST(id AS BIGINT) IS NULL
                         THEN 1 END) AS BIGINT),
             CAST(COUNT(DISTINCT id) AS BIGINT),
             CAST(MIN(TRY_CAST(id AS BIGINT)) AS BIGINT),
             CAST(MAX(TRY_CAST(id AS BIGINT)) AS BIGINT)
      FROM small
    ),
    nb AS (
      SELECT *, GREATEST(CAST(1 AS BIGINT), (n + 2000 - 1) // 2000) AS rawb
      FROM obs
    ),
    sized AS (
      SELECT *, LEAST(GREATEST(rawb, CAST(CEIL(k / {_SHARE}) AS BIGINT)),
                      CAST({_CAP} AS BIGINT)) AS n_buckets
      FROM nb
    )
    SELECT scenario,
           CASE WHEN bad = 0 THEN 'range' ELSE 'hash' END AS kind,
           n, k, n_buckets,
           CASE WHEN bad = 0
                THEN GREATEST(CAST(1 AS BIGINT),
                              (hi - lo + 1 + n_buckets - 1) // n_buckets)
           END AS width,
           CASE WHEN bad = 0 THEN lo END AS origin
    FROM sized
    """,
    tags=("cdc", "streaming", "policy"),
)
def cdc_auto_layout_policy(spark, sf_dir):
    """The seed-time auto-layout dispatch for the sinks
    (streaming/sink.derive_auto_policy behind ``key_bucket="auto"``, r13
    verdict item 3; r15 closes the range leg's degenerate-seed failure
    mode), certified value-level like its two parents: given an observed
    FIRST BATCH, which policy does auto stamp? Three scenarios over the
    `orders` key population. Rendered as digit strings the batch is
    integer-castable (bad = 0) and dispatches RANGE; as 'user-<pk>'
    strings (the UUID/composite shape the range helper refuses) it
    dispatches HASH. BOTH legs now size the bucket count by the same
    three-term rule — min(max(ceil(n/target), ceil(k/share)), cap) —
    with every term LIVE somewhere in this row at sf0.01: the
    rows-per-bucket target as rawb, the distinct-key anti-blanketing
    floor (ceil(k / share), exact here because the default share is a
    power of two) visible UNCAPPED in the 'numeric_small' scenario (a
    ~150-key spread sample of the domain — the small non-snapshot seed
    that pre-r15 derived a degenerate 1-bucket range layout, r14 ADVICE
    item 1), and the metadata cap binding in both full-population
    scenarios (the floor alone would ask for ~30x the cap). The range
    width divides the observed span by the FINAL count. The share / cap
    literals in the oracle SQL are f-strung from the sink module's
    AUTO_* constants (r14 ADVICE item 4: a dial edit must surface as a
    reviewable oracle diff, not a runtime assertion). The builder ALSO
    runs derive_auto_policy itself on all three batches and RAISES on
    any disagreement in dispatch or values, so the driver's gate
    certifies the shipped seed path and the declarative twin against
    DuckDB in one row.

    Scale shape: one map-side-combined 5-scalar aggregate per scenario
    (count / bad-count / distinct-keys / min / max) — metadata-sized
    output, no shuffle of rows; paid once at stream seed time, never
    per batch."""
    from dumpr_spark.streaming.sink import (
        HashKeyBucket, KeyBucket, derive_auto_policy,
    )

    target = 2_000
    orders = t(spark, sf_dir, "orders")
    num = orders.select(F.col("o_orderkey").cast("string").alias("id"))
    strs = orders.select(
        F.concat(F.lit("user-"), F.col("o_orderkey").cast("string")).alias("id")
    )
    small = orders.where(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").cast("string").alias("id")
    )

    def observe(df, scen):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count(F.when(F.col("id").try_cast("long").isNull(), 1))
            .cast("long").alias("bad"),
            F.count_distinct(F.col("id")).cast("long").alias("k"),
            F.min(F.col("id").try_cast("long")).cast("long").alias("lo"),
            F.max(F.col("id").try_cast("long")).cast("long").alias("hi"),
        ).select(F.lit(scen).alias("scenario"), "*")

    nb = (
        observe(num, "numeric")
        .unionByName(observe(strs, "strings"))
        .unionByName(observe(small, "numeric_small"))
        .withColumn(
            "rawb",
            F.expr(f"greatest(cast(1 as bigint), (n + {target} - 1) div {target})"),
        )
        .withColumn(
            "n_buckets",
            F.expr(f"least(greatest(rawb, cast(ceil(k / {_SHARE}) as bigint)), "
                   f"cast({_CAP} as bigint))"),
        )
    )
    out = nb.select(
        "scenario",
        F.when(F.col("bad") == 0, F.lit("range"))
        .otherwise(F.lit("hash")).alias("kind"),
        "n", "k", "n_buckets",
        F.when(
            F.col("bad") == 0,
            F.expr("greatest(cast(1 as bigint), "
                   "(hi - lo + 1 + n_buckets - 1) div n_buckets)"),
        ).alias("width"),
        F.when(F.col("bad") == 0, F.col("lo")).alias("origin"),
    )
    # self-check: the shipped seed path (derive_auto_policy's single
    # observation aggregate + inline arithmetic) must agree with the
    # declarative twin the oracle checks, in DISPATCH and in values —
    # a drifted rule fails the gate loudly (the cdc_key_bucket_policy
    # discipline)
    rows_c = out.collect()
    rows = {r["scenario"]: r for r in rows_c}
    for scen, df, want_cls in (("numeric", num, KeyBucket),
                               ("numeric_small", small, KeyBucket),
                               ("strings", strs, HashKeyBucket)):
        pol = derive_auto_policy(df, target_rows_per_bucket=target)
        r = rows[scen]
        twin = (want_cls(width=r["width"], origin=r["origin"])
                if want_cls is KeyBucket
                else want_cls(n_buckets=r["n_buckets"]))
        if pol != twin:
            raise AssertionError(
                f"derive_auto_policy({scen}) = {pol!r} != declarative "
                f"twin {twin!r}"
            )
    # r17: the self-check already materialized the output — return it as
    # a literal rather than a plan the consumer re-evaluates
    return spark.createDataFrame(rows_c, out.schema)


@query(
    "cdc_bucket_growth_policy",
    f"""
    WITH uids AS (SELECT CAST(o_orderkey AS BIGINT) AS id FROM orders),
    cids AS (SELECT (CAST(o_orderkey AS BIGINT) % 10) * 10000000000
                    + CAST(o_orderkey AS BIGINT) AS id FROM orders),
    allids AS (
      SELECT 'uniform' AS dom, id FROM uids
      UNION ALL
      SELECT 'clustered', id FROM cids
    ),
    doms AS (
      SELECT dom, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT id) AS BIGINT) AS k,
             CAST(MIN(id) AS BIGINT) AS lo,
             CAST(MAX(id) AS BIGINT) AS hi,
             CAST(MAX(id) - MIN(id) + 1 AS BIGINT) AS span
      FROM allids GROUP BY dom
    ),
    pol AS (
      SELECT 'outgrown' AS scenario, dom, CAST(100 AS BIGINT) AS target,
             span AS width, lo AS origin
      FROM doms WHERE dom = 'uniform'
      UNION ALL
      SELECT 'fits', dom, n, (span + 7) // 8, lo
      FROM doms WHERE dom = 'uniform'
      UNION ALL
      SELECT 'clustered', dom, GREATEST(CAST(1 AS BIGINT), n // 400),
             span, lo
      FROM doms WHERE dom = 'clustered'
    ),
    per AS (
      SELECT p.scenario, p.target, p.dom,
             (i.id - p.origin) // p.width AS b,
             CAST(COUNT(*) AS BIGINT) AS rows_in_b
      FROM allids i JOIN pol p ON i.dom = p.dom
      GROUP BY p.scenario, p.target, p.dom, (i.id - p.origin) // p.width
    ),
    worst AS (
      SELECT scenario, target, dom, MAX(rows_in_b) AS max_rows_per_bucket
      FROM per GROUP BY scenario, target, dom
    ),
    dec AS (
      SELECT w.scenario, w.target, w.dom, w.max_rows_per_bucket,
             CAST({_GROW} AS BIGINT) * w.target AS threshold,
             w.max_rows_per_bucket > CAST({_GROW} AS BIGINT) * w.target
               AS migrate,
             d.n, d.k, d.lo, d.span,
             LEAST(GREATEST(GREATEST(CAST(1 AS BIGINT),
                                     (d.n + w.target - 1) // w.target),
                            CAST(CEIL(d.k / {_SHARE}) AS BIGINT)),
                   CAST({_CAP} AS BIGINT)) AS nb
      FROM worst w JOIN doms d ON w.dom = d.dom
    ),
    cand AS (
      SELECT *, GREATEST(CAST(1 AS BIGINT), (span + nb - 1) // nb) AS cwidth
      FROM dec
    ),
    cper AS (
      SELECT c.scenario, (i.id - c.lo) // c.cwidth AS b,
             CAST(COUNT(*) AS BIGINT) AS rows_in_b
      FROM allids i JOIN cand c ON i.dom = c.dom
      GROUP BY c.scenario, (i.id - c.lo) // c.cwidth
    ),
    cworst AS (
      SELECT scenario, MAX(rows_in_b) AS cand_max FROM cper GROUP BY scenario
    ),
    fin AS (
      SELECT c.*, cw.cand_max
      FROM cand c JOIN cworst cw ON c.scenario = cw.scenario
    )
    SELECT scenario, target, max_rows_per_bucket, threshold, migrate,
           CASE WHEN migrate THEN cand_max END AS cand_max_rows_per_bucket,
           CASE WHEN migrate THEN (n + nb - 1) // nb
           END AS unif_max_rows_per_bucket,
           CASE WHEN migrate THEN
             CASE WHEN cand_max > threshold
                       AND cand_max > (n + nb - 1) // nb
                  THEN 'hash' ELSE 'range' END
           END AS new_kind,
           CASE WHEN migrate THEN nb END AS new_n_buckets,
           CASE WHEN migrate AND NOT (cand_max > threshold
                                      AND cand_max > (n + nb - 1) // nb)
                THEN cwidth END AS new_width,
           CASE WHEN migrate AND NOT (cand_max > threshold
                                      AND cand_max > (n + nb - 1) // nb)
                THEN lo END AS new_origin
    FROM fin
    """,
    tags=("cdc", "streaming", "policy"),
)
def cdc_bucket_growth_policy(spark, sf_dir):
    """The seed-pinned layout's growth/migration decision rule
    (streaming/sink.MergeSink.suggest_migration, r14 verdict item 2; the
    r15 verdict item 2 density fallback), certified value-level like the
    other three policy rows: the auto layout is pinned at seed by design
    — never re-derived as state grows — so the sink needs a principled
    answer to "has the state OUTGROWN its policy, and what policy would
    auto derive today?". The rule: a layout is outgrown when any live
    bucket holds more than GROWTH_WARN_FACTOR x target_rows_per_bucket
    rows; the remedy is the SAME three-term derivation a fresh auto seed
    would run on today's live ids (cdc_auto_layout_policy's arithmetic)
    — EXCEPT that a re-derived RANGE candidate is first censused against
    the same threshold (equal-width range bucketing concentrates rows
    wherever keys cluster, so on a clustered numeric domain the candidate
    is outgrown the moment it is adopted — the exact condition that
    triggered the call), and the rule falls back to HashKeyBucket at the
    same three-term count ONLY when the censused candidate worst exceeds
    BOTH the threshold AND the ceil(n / nb) uniform spread md5 hashing
    guarantees regardless of density (emitted as
    unif_max_rows_per_bucket). The second conjunct is the r16 30M
    measurement catch: on a cap-bound UNIFORM domain (tight target at
    volume) the range worst EQUALS the uniform spread — no nb-bucket
    layout can fit the threshold, the binding constraint is the dials,
    and hash would only destroy the key locality the trickle workload
    depends on — so the range candidate is kept there. Handed to
    migrate_key_bucket.

    Three scenarios, each bucketing live ids under a pinned range policy
    derived in-query (scale-robust): 'outgrown' pins the whole UNIFORM
    `orders` key span as ONE bucket against a target of 100 rows/bucket
    — max rows/bucket = n >> 4 x 100, migrate fires, the range candidate
    (cap-bound count over a dense domain: <= ~40 rows/bucket at sf0.1)
    passes the density census, and the re-derived (range, n_buckets,
    width, origin) is emitted; 'fits' pins an 8-bucket layout (the
    multi-bucket census stays live) against target = n — a threshold
    generous BY CONSTRUCTION (max rows/bucket <= n <= 4n) at any scale
    AND any key density, so the verdict is keep (all policy columns
    NULL, including the candidate census: fallback never overrides
    keep); 'clustered' maps the same keys onto ten 1e10-spaced islands
    (id = (key % 10) * 1e10 + key — each island's extent ~n << the
    candidate width ~2.2e7, so a whole island lands in one candidate
    bucket) against target = n/400 — migrate fires AND the candidate
    census exceeds both the threshold (~n/10 > 4n/400) and the uniform
    spread (~n/10 > ceil(n/4096)), so new_kind is 'hash' with the
    three-term count and NULL width/origin. This is the
    sf1-local lesson of r15 (key-shifted islands concentrating under
    equal-width buckets) made a certified scenario. The factor / share /
    cap literals are f-strung from the sink module's constants (the r14
    advice-4 discipline). The builder ALSO runs derive_auto_policy on
    both migrate scenarios' live ids and RAISES on any disagreement with
    the emitted candidate arithmetic (and, for 'clustered', on the
    fallback count vs the shipped _three_term_count), so the driver's
    gate certifies the shipped decision path — census, candidate,
    fallback — end to end; suggest_migration's own end-to-end behavior
    on a clustered domain is pinned by
    tests/test_streaming.py::test_suggest_migration_density_fallback_on_clustered_domain.

    Scale shape: both censuses are hash aggregates keyed by (scenario,
    bucket) — the bucket id from exact integer arithmetic, never a
    window; the 3-row policy frame rides a broadcast (the 1-row
    scalar-broadcast class, plan-lint allowlisted); everything after the
    censuses is metadata-sized. The sink's own suggest_migration pays
    the same shape — per-slice census, then (only when outgrown) one
    observation aggregate and one candidate census — as a maintenance
    call, never per-batch."""
    from dumpr_spark.streaming.sink import (
        KeyBucket, _three_term_count, derive_auto_policy,
    )

    uids = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id")
    )
    cids = t(spark, sf_dir, "orders").select(
        F.expr("(cast(o_orderkey as bigint) % 10) * 10000000000 "
               "+ cast(o_orderkey as bigint)").alias("id")
    )
    allids = (
        uids.select(F.lit("uniform").alias("dom"), "id")
        .unionByName(cids.select(F.lit("clustered").alias("dom"), "id"))
    )
    doms = allids.groupBy("dom").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct(F.col("id")).cast("long").alias("k"),
        F.min("id").cast("long").alias("lo"),
        F.max("id").cast("long").alias("hi"),
    ).withColumn("span", F.expr("hi - lo + 1"))
    uni = doms.where(F.col("dom") == "uniform")
    clu = doms.where(F.col("dom") == "clustered")
    pol = (
        uni.select(
            F.lit("outgrown").alias("scenario"), "dom",
            F.lit(100).cast("long").alias("target"),
            F.col("span").alias("width"), F.col("lo").alias("origin"),
        )
        .unionByName(uni.select(
            F.lit("fits").alias("scenario"), "dom",
            F.col("n").alias("target"),
            F.expr("(span + 7) div 8").alias("width"),
            F.col("lo").alias("origin"),
        ))
        .unionByName(clu.select(
            F.lit("clustered").alias("scenario"), "dom",
            F.expr("greatest(cast(1 as bigint), n div 400)").alias("target"),
            F.col("span").alias("width"), F.col("lo").alias("origin"),
        ))
    )
    per = (
        allids.join(F.broadcast(pol), "dom")
        .groupBy("scenario", "target", "dom",
                 F.expr("(id - origin) div width").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("rows_in_b"))
    )
    worst = per.groupBy("scenario", "target", "dom").agg(
        F.max("rows_in_b").alias("max_rows_per_bucket")
    )
    dec = (
        worst.join(F.broadcast(doms), "dom")
        .withColumn("threshold", F.expr(f"cast({_GROW} as bigint) * target"))
        .withColumn("migrate", F.expr("max_rows_per_bucket > threshold"))
        .withColumn(
            "nb",
            F.expr(f"least(greatest(greatest(cast(1 as bigint), "
                   f"(n + target - 1) div target), "
                   f"cast(ceil(k / {_SHARE}) as bigint)), "
                   f"cast({_CAP} as bigint))"),
        )
        .withColumn(
            "cwidth",
            F.expr("greatest(cast(1 as bigint), (span + nb - 1) div nb)"),
        )
    )
    cworst = (
        allids.join(
            F.broadcast(dec.select("scenario", "dom", "lo", "cwidth")), "dom")
        .groupBy("scenario", F.expr("(id - lo) div cwidth").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("rows_in_b"))
        .groupBy("scenario").agg(F.max("rows_in_b").alias("cand_max"))
    )
    fin = (
        dec.join(F.broadcast(cworst), "scenario")
        .withColumn("unif_max", F.expr("(n + nb - 1) div nb"))
        .withColumn("fall_hash",
                    F.expr("cand_max > threshold AND cand_max > unif_max"))
    )
    out = fin.select(
        "scenario", "target", "max_rows_per_bucket", "threshold", "migrate",
        F.when(F.col("migrate"), F.col("cand_max"))
        .alias("cand_max_rows_per_bucket"),
        F.when(F.col("migrate"), F.col("unif_max"))
        .alias("unif_max_rows_per_bucket"),
        F.when(
            F.col("migrate"),
            F.when(F.col("fall_hash"), F.lit("hash"))
            .otherwise(F.lit("range")),
        ).alias("new_kind"),
        F.when(F.col("migrate"), F.col("nb")).alias("new_n_buckets"),
        F.when(F.col("migrate") & ~F.col("fall_hash"),
               F.col("cwidth")).alias("new_width"),
        F.when(F.col("migrate") & ~F.col("fall_hash"),
               F.col("lo")).alias("new_origin"),
    )
    # self-check: verdicts are the committed ones at every shipped scale,
    # and the emitted candidate/fallback arithmetic IS what the shipped
    # rule derives from the same live ids
    rows_c = out.collect()
    rows = {r["scenario"]: r for r in rows_c}
    if (not rows["outgrown"]["migrate"] or rows["fits"]["migrate"]
            or not rows["clustered"]["migrate"]):
        raise AssertionError(
            f"growth verdicts drifted: {rows['outgrown']['migrate']=} "
            f"{rows['fits']['migrate']=} {rows['clustered']['migrate']=}"
        )
    if (rows["outgrown"]["new_kind"] != "range"
            or rows["clustered"]["new_kind"] != "hash"):
        raise AssertionError(
            f"density fallback verdicts drifted: "
            f"{rows['outgrown']['new_kind']=} {rows['clustered']['new_kind']=}"
        )
    pol_re = derive_auto_policy(uids, target_rows_per_bucket=100)
    twin = KeyBucket(width=rows["outgrown"]["new_width"],
                     origin=rows["outgrown"]["new_origin"])
    if pol_re != twin:
        raise AssertionError(
            f"derive_auto_policy(uniform live ids) = {pol_re!r} != emitted "
            f"remedy {twin!r}"
        )
    clu_row = rows["clustered"]
    cand_re = derive_auto_policy(
        cids, target_rows_per_bucket=int(clu_row["target"]))
    clu_dom = clu.collect()[0]
    count_re = _three_term_count(
        int(clu_dom["n"]), int(clu_dom["k"]), int(clu_row["target"]),
        _CAP, _SHARE)
    cw_re = max(1, (int(clu_dom["span"]) + count_re - 1) // count_re)
    unif_re = -(-int(clu_dom["n"]) // count_re)
    if (cand_re != KeyBucket(width=cw_re, origin=int(clu_dom["lo"]))
            or count_re != clu_row["new_n_buckets"]
            or unif_re != clu_row["unif_max_rows_per_bucket"]):
        raise AssertionError(
            f"clustered fallback arithmetic drifted: candidate {cand_re!r} "
            f"vs re-derived ({cw_re}, {clu_dom['lo']}), _three_term_count "
            f"= {count_re} != emitted {clu_row['new_n_buckets']}, uniform "
            f"spread {unif_re} != emitted {clu_row['unif_max_rows_per_bucket']}"
        )
    # r17: the self-check already materialized the output — return it as
    # a literal rather than a plan the consumer re-evaluates
    return spark.createDataFrame(rows_c, out.schema)
