"""Relational operator surface: projection/filter, joins, aggregation,
sort/limit, set ops (SURVEY §2.2 B/C/D/F).

Spark side is DataFrame-API-first (Catalyst plans broadcast vs sort-merge,
partial aggregation, TakeOrderedAndProject); SQL passthrough is used only for
surfaces Python lacks (GROUPING SETS).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from dumpr_spark.queries.base import eps_round, query, register_views, t


# --------------------------------------------------------------------------
# Aggregation (§2.2 D)
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS sum_disc_price,
           CAST(ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))) AS BIGINT) AS sum_charge,
           ROUND(AVG(l_quantity) + 1e-9, 4) AS avg_qty,
           ROUND(AVG(l_extendedprice) + 1e-9, 4) AS avg_price,
           ROUND(AVG(l_discount) + 1e-9, 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: multi-agg groupBy with arithmetic, filter pushed to scan."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price)).cast("long").alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax")))).cast("long").alias("sum_charge"),
            eps_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            eps_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            eps_round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_global",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(l_quantity) AS n_qty,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(AVG(l_discount) + 1e-9, 6) AS avg_disc
    FROM lineitem
    """,
    tags=("agg",),
)
def agg_global(spark, sf_dir):
    """Ungrouped global aggregate (reference analog: row-count reduce, query.clj:54-62)."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        eps_round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@query(
    "agg_having",
    """
    SELECT l_suppkey, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100
    ORDER BY l_suppkey
    """,
    tags=("agg",),
)
def agg_having(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
        .where(F.col("n") > 100)
        .orderBy("l_suppkey")
    )


@query(
    "agg_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg",),
)
def agg_count_distinct(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_rollup",
    """
    SELECT n_name, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST
    """,
    tags=("agg",),
)
def agg_rollup(spark, sf_dir):
    cust, nat = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_acctbal"), 2).alias("bal"))
        .orderBy(F.asc_nulls_first("n_name"), F.asc_nulls_first("c_mktsegment"))
    )


@query(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("agg",),
)
def agg_cube(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


@query(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("agg", "sql"),
)
def agg_grouping_sets(spark, sf_dir):
    """SQL passthrough — GROUPING SETS has no DataFrame-API equivalent."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


@query(
    "agg_max_by",
    """
    SELECT o_custkey,
           arg_max(o_orderkey, epoch_ms(o_orderdate) * 100000 + o_orderkey) AS latest_order,
           arg_min(o_orderkey, epoch_ms(o_orderdate) * 100000 + o_orderkey) AS first_order
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
    tags=("agg", "cdc-analog"),
)
def agg_max_by(spark, sf_dir):
    """max_by/min_by — the primitive behind last-write-wins materialization
    (reference entity-map fold, test_util.clj:110-123). Sort key made unique
    (date then orderkey) so ties are deterministic across engines."""
    o = t(spark, sf_dir, "orders")
    sort_key = (
        F.unix_millis(F.col("o_orderdate").cast("timestamp")) * 100000 + F.col("o_orderkey")
    )
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max_by("o_orderkey", sort_key).alias("latest_order"),
            F.min_by("o_orderkey", sort_key).alias("first_order"),
        )
        .orderBy("o_custkey")
    )


@query(
    "agg_collect_sorted",
    """
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg",),
)
def agg_collect_sorted(spark, sf_dir):
    """collect_set -> sorted -> joined (deterministic array agg)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25) + 1e-9, 4) AS p25,
           ROUND(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75) + 1e-9, 4) AS p75,
           ROUND(stddev_samp(l_extendedprice) + 1e-9, 2) AS sd_price,
           ROUND(var_samp(l_discount) + 1e-9, 6) AS var_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg",),
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles + sample stddev/variance.

    r18 (§5): ONE array-fraction percentile aggregate instead of three
    scalar ones. Exact Percentile's buffer is a value->count map of EVERY
    value in the group; three scalar calls build and shuffle three
    identical copies of that map per group per partition — the array form
    builds one and reads the three interpolation points from it. Same
    sorted-counts interpolation per fraction, identical doubles."""
    q = F.percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            q.alias("_q"),
            eps_round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
            eps_round(F.var_samp("l_discount"), 6).alias("var_disc"),
        )
        .select(
            "l_returnflag",
            eps_round(F.col("_q")[0], 4).alias("p25"),
            eps_round(F.col("_q")[1], 4).alias("p50"),
            eps_round(F.col("_q")[2], 4).alias("p75"),
            "sd_price",
            "var_disc",
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HLL++). The sketch estimate is engine-specific,
    so the hash-checkable output is the DETERMINISTIC part: the exact count
    plus `within_bound` — whether the estimate landed inside 3x the default
    relative standard deviation (rsd=0.05 => 15%), far looser than observed
    (~1-2%) so it only flips if the sketch is actually broken. The oracle
    asserts TRUE; a sketch regression turns the row red."""
    est = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
        )
    )
    err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col("exact_parts")
    return est.select(
        "l_returnflag", "exact_parts", (err <= 0.15).alias("within_bound")
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Projection / filter / predicates (§2.2 B)
# --------------------------------------------------------------------------

@query(
    "filter_predicates",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus <> 'P'
      AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '2005-12-31 00:00:00'
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    ORDER BY o_orderkey
    """,
    tags=("filter",),
)
def filter_predicates(spark, sf_dir):
    """Comparison + boolean + BETWEEN + LIKE + null predicates, pushed to scan."""
    o = t(spark, sf_dir, "orders")
    return (
        o.where(
            (F.col("o_totalprice") > 150000)
            & (F.col("o_orderstatus") != "P")
            & F.col("o_orderdate").between(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2005-12-31 00:00:00").cast("timestamp_ntz"),
            )
            & F.col("o_orderpriority").like("%URGENT%")
            & F.col("o_custkey").isNotNull()
        )
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@query(
    "filter_in_set",
    """
    SELECT n_name, n_nationkey FROM nation
    WHERE n_name IN ('FRANCE', 'GERMANY', 'JAPAN') OR n_regionkey = 0
    ORDER BY n_nationkey
    """,
    tags=("filter", "cdc-analog"),
)
def filter_in_set(spark, sf_dir):
    """isin — the table-filter primitive (R8, stream.clj:114-125)."""
    n = t(spark, sf_dir, "nation")
    return (
        n.where(F.col("n_name").isin("FRANCE", "GERMANY", "JAPAN") | (F.col("n_regionkey") == 0))
        .select("n_name", "n_nationkey")
        .orderBy("n_nationkey")
    )


@query(
    "project_distinct",
    "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",
    tags=("filter",),
)
def project_distinct(spark, sf_dir):
    return t(spark, sf_dir, "customer").select("c_mktsegment").distinct().orderBy("c_mktsegment")


# --------------------------------------------------------------------------
# Joins (§2.2 C)
# --------------------------------------------------------------------------

@query(
    "join_inner_star",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("join", "flagship"),
)
def join_inner_star(spark, sf_dir):
    """Star-schema inner joins; small dims broadcast (Catalyst auto < threshold)."""
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(r.r_name == "ASIA")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("n_name")
    )


@query(
    "join_left_outer",
    """
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_left_outer(spark, sf_dir):
    """r17 aggregate-before-join shape (guide §2.3): orders is reduced to one
    row per custkey BEFORE the join, so the join moves aggregates, not fact
    rows — at volume the shuffled/broadcast side shrinks from every order to
    one row per customer, and the post-join groupBy disappears (c_custkey is
    the customer key, one row each). Row-identical to the old
    left-join-then-groupBy: customers without orders take the coalesce
    defaults exactly as an empty COUNT/SUM group did."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    pre = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n"), F.sum("o_totalprice").alias("_s")
    )
    return (
        c.join(pre, c.c_custkey == pre.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.coalesce(F.col("_s"), F.lit(0.0)), 2).alias("spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_right_outer",
    """
    SELECT s_suppkey, s_name, CAST(COUNT(l_orderkey) AS BIGINT) AS n_items
    FROM lineitem RIGHT JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_suppkey, s_name ORDER BY s_suppkey
    """,
    tags=("join",),
)
def join_right_outer(spark, sf_dir):
    li, s = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "supplier")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_items"))
        .orderBy("s_suppkey")
    )


@query(
    "join_full_outer",
    """
    WITH b AS (SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_acctbal < 0),
         o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n FROM orders
               WHERE o_totalprice > 300000 GROUP BY o_custkey)
    SELECT COALESCE(b.k, o.k) AS custkey,
           ROUND(COALESCE(c_acctbal, 0), 2) AS acctbal,
           COALESCE(n, 0) AS big_orders
    FROM b FULL JOIN o ON b.k = o.k
    ORDER BY custkey
    """,
    tags=("join",),
)
def join_full_outer(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    b = c.where(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("k"), "c_acctbal")
    ob = (
        o.where(F.col("o_totalprice") > 300000)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        b.join(ob, "k", "full")
        .select(
            F.col("k").alias("custkey"),
            F.round(F.coalesce(F.col("c_acctbal"), F.lit(0.0)), 2).alias("acctbal"),
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("big_orders"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_semi(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    tags=("join",),
)
def join_anti(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "join_cross",
    """
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    ORDER BY r1, r2
    """,
    tags=("join",),
)
def join_cross(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    a = r.select(F.col("r_name").alias("r1"))
    b = r.select(F.col("r_name").alias("r2"))
    return a.crossJoin(b).orderBy("r1", "r2")


@query(
    "join_theta_range",
    """
    SELECT b.bucket, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(p_retailprice) + 1e-9, 2) AS avg_price
    FROM part p
    JOIN (VALUES ('small', 0, 15), ('medium', 15, 35), ('large', 35, 100)) AS b(bucket, lo, hi)
      ON p.p_size > b.lo AND p.p_size <= b.hi
    GROUP BY b.bucket ORDER BY b.bucket
    """,
    tags=("join",),
)
def join_theta_range(spark, sf_dir):
    """Non-equi (range) join against a tiny bucket dim — broadcast nested loop."""
    p = t(spark, sf_dir, "part")
    buckets = spark.createDataFrame(
        [("small", 0, 15), ("medium", 15, 35), ("large", 35, 100)], "bucket string, lo int, hi int"
    )
    return (
        p.join(F.broadcast(buckets), (p.p_size > buckets.lo) & (p.p_size <= buckets.hi))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_parts"), eps_round(F.avg("p_retailprice"), 2).alias("avg_price"))
        .orderBy("bucket")
    )


@query(
    "join_multikey",
    """
    WITH pairs AS (
      SELECT l_orderkey, l_partkey, CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_orderkey, l_partkey HAVING COUNT(*) > 1
    )
    SELECT p.l_orderkey, p.l_partkey, p.n, ROUND(SUM(l.l_extendedprice), 2) AS price
    FROM pairs p JOIN lineitem l
      ON p.l_orderkey = l.l_orderkey AND p.l_partkey = l.l_partkey
    GROUP BY p.l_orderkey, p.l_partkey, p.n
    ORDER BY p.l_orderkey, p.l_partkey
    """,
    tags=("join",),
)
def join_multikey(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pairs = (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return (
        pairs.join(li, ["l_orderkey", "l_partkey"])
        .groupBy("l_orderkey", "l_partkey", "n")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("price"))
        .orderBy("l_orderkey", "l_partkey")
    )


@query(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS F,
           CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS O,
           CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("agg",),
)
def agg_pivot(spark, sf_dir):
    """Pivot (cross-tab): status columns per priority. Explicit value list =>
    single-pass aggregation, no extra distinct-values job (the scale form —
    an unlisted pivot first scans for the value domain)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


@query(
    "join_skew_salted",
    """
    SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o.o_totalprice) + 1e-9, 2) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    tags=("join", "scale"),
)
def join_skew_salted(spark, sf_dir):
    """Salted skew join (operators/scale.salted_join) checked against the
    plain-join oracle: salting N-ways then joining on (key, salt) must be
    result-identical to the plain equi-join — the rewrite only changes the
    shuffle layout (a hot l_orderkey becomes N parallel tasks instead of one
    straggler)."""
    from dumpr_spark.operators.scale import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    return (
        salted_join(li, o, "l_orderkey", salt=8)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            eps_round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops (§2.2 F)
# --------------------------------------------------------------------------

@query(
    "sort_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort",),
)
def sort_topk(spark, sf_dir):
    """Global top-k => Catalyst TakeOrderedAndProject (no full sort at scale)."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "sort_multi_nulls",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE ROUND(c_acctbal, 2) END AS bal
    FROM customer
    ORDER BY bal DESC NULLS LAST, c_custkey
    LIMIT 100
    """,
    tags=("sort",),
)
def sort_multi_nulls(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.round("c_acctbal", 2)).alias("bal"),
        )
        .orderBy(F.desc_nulls_last("bal"), F.asc("c_custkey"))
        .limit(100)
    )


@query(
    "set_union_all",
    """
    SELECT k, src FROM (
      SELECT c_custkey AS k, 'neg_bal' AS src FROM customer WHERE c_acctbal < -900
      UNION ALL
      SELECT o_custkey AS k, 'big_order' AS src FROM orders WHERE o_totalprice > 450000
    ) ORDER BY k, src
    """,
    tags=("set",),
)
def set_union_all(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    a = c.where(F.col("c_acctbal") < -900).select(F.col("c_custkey").alias("k"), F.lit("neg_bal").alias("src"))
    b = o.where(F.col("o_totalprice") > 450000).select(F.col("o_custkey").alias("k"), F.lit("big_order").alias("src"))
    return a.unionByName(b).orderBy("k", "src")


@query(
    "set_intersect",
    """
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    ORDER BY k
    """,
    tags=("set",),
)
def set_intersect(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    a = c.where(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("k"))
    b = o.where(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("k"))
    return a.intersect(b).orderBy("k")


@query(
    "set_except",
    """
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey FROM orders
    ORDER BY k
    """,
    tags=("set",),
)
def set_except(spark, sf_dir):
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return (
        c.select(F.col("c_custkey").alias("k"))
        .exceptAll(o.select(F.col("o_custkey").alias("k")))
        .distinct()
        .orderBy("k")
    )


@query(
    "set_union_distinct",
    """
    SELECT n_regionkey AS k FROM nation
    UNION
    SELECT r_regionkey FROM region
    ORDER BY k
    """,
    tags=("set",),
)
def set_union_distinct(spark, sf_dir):
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        n.select(F.col("n_regionkey").alias("k"))
        .union(r.select(F.col("r_regionkey").alias("k")))
        .distinct()
        .orderBy("k")
    )


@query(
    "join_broadcast_hint",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
           ROUND(SUM(c_acctbal) + 1e-9, 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("join", "scale"),
)
def join_broadcast_hint(spark, sf_dir):
    """Explicit broadcast hint (SURVEY §2.2-C): pin the dimension to the
    build side regardless of size estimates — the knob for when statistics
    mislead Catalyst (post-filter dims at 100 TB)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            eps_round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "agg_bool",
    """
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_bool(spark, sf_dir):
    """Boolean aggregates (every/any) per group."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# TPC-H classics (adapted to the testdata's column subset)
# --------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "tpch"),
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (o_orderpriority stands in for o_shippriority): two FK
    joins with selective filters on both fact and dims, aggregate, top-10.
    Catalyst broadcasts the filtered customer dim; the orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heap, no full sort)."""
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier",
    """
    SELECT n_name,
           CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q5_local_supplier(spark, sf_dir):
    """TPC-H Q5: six-table star with the customer-nation == supplier-nation
    constraint. The region/nation/supplier dims broadcast; the only big
    shuffle is lineitem->orders, and the final n_name aggregate combines
    map-side to |nations| rows."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(l_extendedprice * l_discount)) AS BIGINT) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "tpch"),
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-aggregate — every predicate pushes to the
    parquet scan, the aggregate is a single partial+final pair, zero joins.
    The canonical 'is the scan path efficient' probe."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")))
            .cast("long").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "agg_stats_moments",
    """
    WITH s AS (
      SELECT l_returnflag, COUNT(*)::DOUBLE AS n,
             SUM(l_quantity) AS s1, SUM(l_quantity * l_quantity) AS s2,
             SUM(l_quantity * l_quantity * l_quantity) AS s3,
             ROUND(stddev_samp(l_quantity) + 1e-9, 4) AS sd_qty,
             ROUND(var_samp(l_quantity) + 1e-9, 4) AS var_qty,
             ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 4) AS corr_qty_price,
             ROUND(covar_samp(l_quantity, l_discount) + 1e-9, 6) AS covar_qty_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, sd_qty, var_qty, corr_qty_price, covar_qty_disc,
           ROUND((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / pow(s2/n - (s1/n)*(s1/n), 1.5) + 1e-9, 4) AS skew_qty
    FROM s ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_stats_moments(spark, sf_dir):
    """Statistical-moment aggregate family: stddev/variance/corr/covar via
    the identical-definition builtins, skewness via raw power sums (Spark's
    and DuckDB's skewness/kurtosis builtins apply different bias
    corrections, so the moment algebra is spelled out — same single-pass
    partial+final aggregation either way)."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    grouped = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        eps_round(F.stddev_samp(q), 4).alias("sd_qty"),
        eps_round(F.var_samp(q), 4).alias("var_qty"),
        eps_round(F.corr(q, F.col("l_extendedprice")), 4).alias("corr_qty_price"),
        eps_round(F.covar_samp(q, F.col("l_discount")), 6).alias("covar_qty_disc"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3) * mu * (s2 / n) + F.lit(2) * mu * mu * mu
    return grouped.select(
        "l_returnflag", "sd_qty", "var_qty", "corr_qty_price", "covar_qty_disc",
        eps_round(m3 / F.pow(m2, 1.5), 4).alias("skew_qty"),
    ).orderBy("l_returnflag")


@query(
    "agg_hll_mergeable",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS merge_consistent,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "sketch"),
)
def agg_hll_mergeable(spark, sf_dir):
    """Mergeable HLL sketch rollup: per-day distinct-user sketches are built
    ONCE, then the month estimate comes from `hll_union_agg` over the day
    sketches — never re-scanning raw data. This is the 100 TB pattern for
    distinct counts: daily jobs persist tiny sketches, any time range unions
    them. Sketch bits are engine-specific, so the hash-checkable output is
    the DETERMINISTIC part: the exact count, `merge_consistent` (the union
    of daily sketches estimates within 1% of the single-pass sketch — NOT
    bit-identity: once sketches leave small-count mode, datasketches union
    preserves the error bound but not the exact register state; measured
    0.4% apart at sf0.1), and `within_bound` (|est-exact|/exact < 5%,
    ~3 sigma for the default lgConfigK=12 sketch). The oracle asserts both
    booleans TRUE; a sketch or merge regression turns the row red."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users")
    )
    single = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("sp_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    err = F.abs(F.col("est_users") - F.col("exact_users")) / F.col("exact_users")
    merge_gap = F.abs(F.col("est_users") - F.col("sp_users")) / F.col("exact_users")
    return (
        merged.join(single, "event_type")
        .select(
            "event_type",
            "exact_users",
            (merge_gap < 0.01).alias("merge_consistent"),
            (err < 0.05).alias("within_bound"),
        )
        .orderBy("event_type")
    )


@query(
    "scalar_try_errors",
    """
    SELECT p_partkey,
           TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN 'x' || p_partkey::VARCHAR
                         ELSE p_partkey::VARCHAR END AS BIGINT) AS parsed,
           ROUND(CASE WHEN p_partkey % 5 = 0 THEN NULL
                      ELSE 100.0 / (p_partkey % 5) END + 1e-9, 4) AS ratio,
           CASE WHEN p_partkey % 2 = 1 THEN NULL
                ELSE 9223372036854775807 END AS sum_guarded
    FROM part WHERE p_partkey <= 300 ORDER BY p_partkey
    """,
    tags=("scalar", "errors"),
)
def scalar_try_errors(spark, sf_dir):
    """Error-safe scalar family (`try_*`): malformed parses, division by
    zero, and int64 overflow become NULL instead of task failures — the
    difference between one bad row killing a 100 TB job and a NULL you can
    route to the dead-letter channel (R20's batch-scalar analog). The
    oracle spells out the equivalent guards DuckDB needs explicitly."""
    p = t(spark, sf_dir, "part").where(F.col("p_partkey") <= 300)
    numstr = F.when(
        F.col("p_partkey") % 3 == 0, F.concat(F.lit("x"), F.col("p_partkey").cast("string"))
    ).otherwise(F.col("p_partkey").cast("string"))
    return p.select(
        "p_partkey",
        F.try_to_number(numstr, F.lit("999999")).cast("long").alias("parsed"),
        eps_round(F.try_divide(F.lit(100.0), F.col("p_partkey") % 5), 4).alias("ratio"),
        F.try_add(F.lit(9223372036854775807), F.col("p_partkey") % 2).alias("sum_guarded"),
    ).orderBy("p_partkey")


# one string, used verbatim as BOTH the Spark SQL and the DuckDB oracle —
# the query is pure ANSI, so a single source prevents one-sided edits
_LATERAL_TOPK_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey <= 500
    ORDER BY c_custkey, o_orderkey
    """


@query(
    "join_lateral_topk",
    _LATERAL_TOPK_SQL,
    tags=("join", "lateral"),
)
def join_lateral_topk(spark, sf_dir):
    """Correlated LATERAL join (per-customer top-2 orders by price): the SQL
    idiom for dependent per-row subqueries. Catalyst decorrelates it into a
    ranked window join — same physical plan family as `win_topk_per_group`,
    no per-row re-execution — which is exactly why the declarative form is
    safe at 100 TB where a nested-loop lateral would not be. Deterministic
    tie-break on o_orderkey keeps the LIMIT stable across engines."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_LATERAL_TOPK_SQL)


@query(
    "reshape_unpivot",
    """
    SELECT c_custkey, metric, val
    FROM (
      UNPIVOT (SELECT c_custkey,
                      CAST(c_acctbal AS DOUBLE) AS acctbal,
                      CAST(c_nationkey AS DOUBLE) AS nationkey
               FROM customer WHERE c_custkey <= 500)
      ON acctbal, nationkey INTO NAME metric VALUE val
    )
    ORDER BY c_custkey, metric
    """,
    tags=("reshape", "unpivot"),
)
def reshape_unpivot(spark, sf_dir):
    """UNPIVOT/melt (wide -> long), the inverse of `agg_pivot`: each input
    row fans to one row per measure column. Narrow generate op (an explode
    over column literals, no shuffle) — the standard pre-step before
    per-metric windowing or plotting exports."""
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 500)
    wide = c.select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        ["c_custkey"], ["acctbal", "nationkey"], "metric", "val"
    ).orderBy("c_custkey", "metric")


@query(
    "agg_mode_deterministic",
    """
    WITH counts AS (
      SELECT l_returnflag, l_quantity, count(*)::BIGINT AS c
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    ranked AS (
      SELECT l_returnflag, l_quantity, c,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY c DESC, l_quantity) AS rnk
      FROM counts
    )
    SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_count
    FROM ranked WHERE rnk = 1 ORDER BY l_returnflag
    """,
    tags=("agg", "mode"),
)
def agg_mode_deterministic(spark, sf_dir):
    """Deterministic MODE (most frequent value, smallest-value tiebreak).
    Built as count-then-pick instead of the engines' mode() builtins, whose
    tie behavior is unspecified and engine-divergent — the same reason
    skewness is spelled out in agg_stats_moments. Two partial-combining
    aggregations; the window runs over the tiny (group, value) count
    table."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_quantity"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("c").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem GROUP BY bucket ORDER BY bucket
    """,
    tags=("agg", "histogram"),
)
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram: bucket = floor(value / width). One partial-
    combining aggregation whose shuffle is |buckets| rows — the way to
    histogram 100 TB (never a sort, never a collect); the lo/hi per bucket
    double as a sanity check that bucketing and values agree."""
    li = t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000).cast("long")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("join", "agg", "tpch"),
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS -> left-semi join, then a tiny
    priority rollup (predicate adapted to this dataset's columns —
    l_shipdate > o_orderdate stands in for commitdate < receiptdate).
    The semi join keeps each order at most once WITHOUT a distinct pass,
    and its build side carries only join keys; the aggregate combines
    map-side to |priorities| rows. The EXISTS decorrelation is Catalyst's,
    not hand-rolled — the declarative form survives optimizer upgrades."""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    rs AS (
      SELECT c.l_partkey, c.cost, s.s_name
      FROM costs c
      JOIN supplier s ON c.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    m AS (SELECT l_partkey, MIN(cost) AS mincost FROM rs GROUP BY l_partkey)
    SELECT p.p_partkey, rs.s_name, ROUND(rs.cost + 1e-9, 4) AS cost4
    FROM rs
    JOIN m ON rs.l_partkey = m.l_partkey AND rs.cost = m.mincost
    JOIN part p ON p.p_partkey = rs.l_partkey
    WHERE p.p_size = 30
    ORDER BY p_partkey, s_name
    """,
    tags=("join", "agg", "tpch"),
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: the cheapest supplier(s) per part within a region
    (unit cost stands in for ps_supplycost — this dataset has no partsupp).
    The classic correlated MIN subquery is expressed as a window min over
    the per-part group — one shuffle on l_partkey, no self-join, no
    decorrelation gamble; ties keep every minimal supplier, deterministic.

    Scale shape: the big side (lineitem) aggregates to (part, supp) unit
    costs FIRST (map-side combine), then every dimension join is a
    broadcast — supplier/nation/region are orders of magnitude smaller, and
    the p_size filter prunes part before its broadcast. The only wide
    exchange is the partkey window."""
    li = t(spark, sf_dir, "lineitem")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rs = (
        costs.join(F.broadcast(s), costs["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .select("l_partkey", "cost", "s_name")
    )
    w = Window.partitionBy("l_partkey")
    p = t(spark, sf_dir, "part").where(F.col("p_size") == 30)
    return (
        rs.withColumn("mincost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("mincost"))
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .select("p_partkey", "s_name", eps_round(F.col("cost"), 4).alias("cost4"))
        .orderBy("p_partkey", "s_name")
    )


@query(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_orderkey
    """,
    tags=("join", "agg", "tpch"),
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume orders): aggregate the fact table FIRST
    (sum_qty per order, map-side combine), prune with HAVING, then join the
    tiny survivor set back to orders and customer. The filter-early order
    matters at 100 TB: the HAVING keeps ~0.2% of orders, so both joins move
    survivor-sized streams — AQE converts them to broadcasts at runtime.
    sum(l_quantity) is integer-valued doubles, exact on both engines."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "sum_qty")
        .orderBy("o_orderkey")
    )


@query(
    "q10_returned_items",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    SELECT c_custkey, c_name, n_name, ROUND(revenue + 1e-9, 2) AS revenue
    FROM rev
    ORDER BY ROUND(revenue + 1e-9, 2) DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "tpch"),
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (top returned-item revenue by customer): filter the
    fact table to returns in a 6-month window, join the order/customer
    chain, aggregate per customer, top-20.

    Scale shape: the returnflag + orderdate filters push into the scans
    (footer-stat pruning on a date-sorted layout); nation broadcasts;
    the per-customer aggregate combines map-side; the top-20 compiles to
    TakeOrderedAndProject (per-partition heap, never a full sort). The
    ORDER BY uses the ROUNDED revenue so cross-engine sub-cent float noise
    cannot reorder the limit boundary."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev_raw")
        )
        .select(
            "c_custkey", "c_name", "n_name",
            eps_round(F.col("rev_raw"), 2).alias("revenue"),
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


@query(
    "q12_priority_lines",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    tags=("join", "agg", "tpch"),
)
def q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (l_linestatus stands in for l_shipmode, absent from
    this dataset): conditional-sum pivot of order priority per line status
    over a one-year ship window. The CASE WHEN sums evaluate inside the
    partial aggregate — the shuffle carries |linestatus| rows of two
    counters, nothing else; the shipdate filter prunes the fact scan."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
                   / SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4
           ) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    tags=("join", "agg", "tpch"),
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion revenue share): conditional-aggregation
    ratio over a one-month window. part is dimension-sized at every scale
    factor => broadcast join; the month filter prunes the fact scan; the
    global aggregate reduces to one row before the division."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp_ntz"))
    )
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            eps_round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "q19_discount_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    tags=("join", "agg", "tpch"),
)
def q19_discount_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    clauses across both join sides. Catalyst extracts the common-key
    equi-join and evaluates the OR as a post-join filter while pushing the
    derivable single-side predicates (brand/size union bound) into the
    part scan — the declarative form gets the pruning without hand-written
    unions. One-row global aggregate; n_lines pins the matched-row set
    beyond the rounded sum."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    clause = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#7") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .where(clause)
        .agg(
            eps_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "agg", "tpch"),
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): a 5-way join
    where BOTH nation filters cross join sides as a disjunction. The two
    nation dims filter to one row each and broadcast; supplier and customer
    broadcast too, so the fact table joins everything without shuffling —
    only orders-lineitem is big-big, and the year rollup combines
    map-side to |2×2×years| rows."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    n1 = t(spark, sf_dir, "nation").withColumnRenamed("n_name", "supp_nation")
    n2 = t(spark, sf_dir, "nation").withColumnRenamed("n_name", "cust_nation")
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == n1["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == n2["n_nationkey"])
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            eps_round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q9_product_profit",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity) + 1e-9, 2) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
    tags=("join", "agg", "tpch"),
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year): profit =
    revenue - cost with 0.6*p_retailprice*quantity standing in for
    ps_supplycost (no partsupp table in this dataset). The p_name LIKE
    filter prunes part BEFORE its broadcast; part/supplier/nation all
    broadcast, so the only shuffle ahead of the rollup is orders-lineitem.
    The 0.6 multiplier keeps cost on a coarse decimal lattice (retailprice
    has 2 decimals) so the rounded SUM is boundary-free cross-engine."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").withColumnRenamed("n_name", "nation")
    o = t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(eps_round(F.sum(profit), 2).alias("profit"))
        .orderBy("nation", "o_year")
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 2)
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    tags=("join", "agg", "tpch"),
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape (top supplier by quarterly revenue): the view +
    correlated MAX is a global max over the per-supplier aggregate —
    expressed as a one-row global aggregate broadcast back onto the
    |suppliers|-sized rollup — NO window, so nothing ever moves to a single
    partition (the same scalar-broadcast shape as cdc_time_travel's cutoff).
    The max equality compares EPS-ROUNDED revenues on both engines — an
    unrounded float tie can split on a 1-ulp summation-order difference and
    change the row count cross-engine. Ties keep every maximal supplier.
    The quarter filter prunes the fact scan; supplier broadcasts."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy("l_suppkey").agg(
        eps_round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_rev")
    )
    s = t(spark, sf_dir, "supplier")
    mx = rev.agg(F.max("total_rev").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev["total_rev"] == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@query(
    "join_nullsafe",
    """
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS nk
      FROM supplier
    )
    SELECT c.nk AS nation_key,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
    FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    GROUP BY c.nk
    ORDER BY nation_key NULLS FIRST
    """,
    tags=("join", "nulls"),
)
def join_nullsafe(spark, sf_dir):
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    each other instead of vanishing — the semantics CDC id-columns need when
    a nullable business key groups 'unknown' rows together. Catalyst plans
    <=> as a hash join on a null-safe-wrapped key (still an equi-join, no
    nested loop); the NULL bucket is a deliberate hot key — at scale,
    pre-split it (salting) or pre-filter NULLs when match-nulls isn't
    wanted."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_nationkey")).alias("nk"),
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 5 == 0, None).otherwise(F.col("s_nationkey")).alias("nk"),
    )
    return (
        c.join(s, c["nk"].eqNullSafe(s["nk"]))
        .groupBy(c["nk"].alias("nation_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("c_custkey").alias("n_cust"),
        )
        .orderBy(F.asc_nulls_first("nation_key"))
    )


@query(
    "agg_filter_clause",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
           ROUND(SUM(l_extendedprice) FILTER (WHERE l_discount > 0.05) + 1e-9, 2)
             AS discounted_rev,
           ROUND(AVG(l_extendedprice) FILTER (WHERE l_tax = 0) + 1e-9, 2)
             AS avg_untaxed,
           CAST(COUNT(*) AS BIGINT) AS n_all
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "filter"),
)
def agg_filter_clause(spark, sf_dir):
    """FILTER-clause aggregates (per-aggregate predicates in one pass):
    declared via when()-guarded aggregates, which Catalyst evaluates inside
    the partial HashAggregate — one scan, one shuffle of |groups| rows with
    four accumulators, versus the naive four filtered self-aggregations and
    a join. AVG's null-guard matters: when() without otherwise yields NULL,
    which avg() skips — exactly FILTER semantics (a 0 default would skew
    the mean)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
            eps_round(
                F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))), 2
            ).alias("discounted_rev"),
            eps_round(
                F.avg(F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))), 2
            ).alias("avg_untaxed"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# TPC-H completion set (r4): q8/q11/q13/q16/q17/q20/q21/q22 shapes.
# Adaptations for this dataset (documented per query): no partsupp table
# (lineitem (partkey, suppkey) pairs stand in), no comment/phone columns
# (priority / acctbal / nationkey stand-ins), no commit/receipt dates
# (shipdate-vs-orderdate lag stands in for Q21's lateness).
# --------------------------------------------------------------------------

@query(
    "q8_market_share",
    """
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                 / SUM(volume) + 1e-9, 6) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
    tags=("join", "agg", "tpch"),
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): NATION_2's share of ASIA's PROMO
    part volume per order year. Seven-table star: the fact scan (lineitem)
    shuffles once for the year rollup; every dimension — orders included at
    this ratio's filtered side? no: orders is fact-sized, it sort-merge
    joins on orderkey; customer/supplier/nation/region/part all broadcast.
    The share is one conditional-sum / sum pair in the SAME partial
    aggregate (no second pass, no self-join)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = t(spark, sf_dir, "supplier")
    p = t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == n1["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(0.0)
    ) / F.sum("volume")
    return (
        base.groupBy("o_year")
        .agg(eps_round(share, 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "q11_important_parts",
    """
    WITH vals AS (
      SELECT l.l_partkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey
    ),
    total AS (SELECT SUM(value) AS tot, COUNT(*) AS n_parts FROM vals)
    SELECT v.l_partkey AS p_key, ROUND(v.value + 1e-9, 2) AS value
    FROM vals v CROSS JOIN total
    WHERE v.value > 3.0 * total.tot / total.n_parts
    ORDER BY value DESC, p_key
    """,
    tags=("join", "agg", "tpch"),
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock): parts whose supplied value from
    one nation exceeds a fraction of that nation's total (lineitem revenue
    stands in for ps_supplycost*ps_availqty — this dataset has no partsupp).
    The correlated scalar subquery (SUM over the same view) is a one-row
    global aggregate CROSS-broadcast onto the per-part rollup — the
    broadcast-scalar pattern, NO unpartitioned window. Supplier/nation
    broadcast; the only wide exchange is the partkey rollup. The threshold
    is 3x the MEAN per-part value — scale-free, unlike TPC-H's official
    0.0001/SF fraction which must be re-tuned per scale (a fixed fraction
    of a growing total selects nothing as the part count grows). Unrounded
    sums feed the comparison on both engines (same fold order); rounding
    applies only to the projected value."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    vals = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"))
    )
    total = vals.agg(F.sum("value").alias("tot"), F.count(F.lit(1)).alias("n_parts"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("value") > 3.0 * F.col("tot") / F.col("n_parts"))
        .select(
            F.col("l_partkey").alias("p_key"), eps_round(F.col("value"), 2).alias("value")
        )
        .orderBy(F.desc("value"), F.asc("p_key"))
    )


@query(
    "q13_order_counts",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("join", "agg", "tpch"),
)
def q13_order_counts(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): how many customers
    placed 0, 1, 2, ... orders — the double aggregation over a LEFT join
    whose extra predicate lives in the JOIN CONDITION (priority stands in
    for the comment filter; pushing it to WHERE would silently drop the
    zero-order customers the query exists to count). COUNT(o_orderkey)
    counts non-NULL only, so the null-extended rows become c_count = 0.
    Orders shuffles on custkey; the second aggregate is |distinct counts|
    rows — metadata-sized."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q16_parts_suppliers",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok AS (
      SELECT ps.l_partkey, ps.l_suppkey FROM ps
      WHERE ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ok JOIN part p ON ok.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("join", "agg", "tpch"),
)
def q16_parts_suppliers(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per (brand, type, size) for parts outside one brand/type, from
    non-complaint suppliers. Adaptations: the observed lineitem
    (partkey, suppkey) pairs stand in for partsupp, and negative acctbal
    stands in for the 'Customer Complaints' comment filter. The NOT IN is
    a broadcast ANTI join (the excluded-supplier list is tiny); the pair
    dedup and the count-distinct share one shuffle on partkey after the
    part filter broadcasts and prunes."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(F.broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_qty_revenue",
    """
    WITH avgq AS (
      SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0 + 1e-9, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN avgq a ON l.l_partkey = a.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.half_avg
    """,
    tags=("join", "agg", "tpch"),
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    below-half-average-quantity orders stopped (0.5 threshold instead of
    0.2 so the filter selects rows at this data's uniform quantity range;
    brand filter stands in for brand+container). The correlated per-part
    AVG subquery decorrelates into a partkey rollup joined back to the
    fact — both sides shuffle on partkey once; the per-part average table
    is |parts|-sized and broadcastable. Global single-row aggregate output
    (no window)."""
    li = t(spark, sf_dir, "lineitem")
    avgq = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(avgq), li["l_partkey"] == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("half_avg"))
        .agg(eps_round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q20_part_promotion",
    """
    WITH prefix_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    sq AS (
      SELECT l.l_partkey, l.l_suppkey, SUM(l.l_quantity) AS qty
      FROM lineitem l JOIN prefix_parts pp ON l.l_partkey = pp.p_partkey
      WHERE year(l.l_shipdate) = 1997
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    thr AS (
      SELECT l_partkey, 0.5 * SUM(qty) AS half_total FROM sq GROUP BY l_partkey
    ),
    qualifying AS (
      SELECT DISTINCT sq.l_suppkey
      FROM sq JOIN thr ON sq.l_partkey = thr.l_partkey
      WHERE sq.qty > thr.half_total
    )
    SELECT s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (SELECT l_suppkey FROM qualifying)
    ORDER BY s_name
    """,
    tags=("join", "agg", "tpch"),
)
def q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): NATION_3 suppliers who
    dominated the 1997 supply of a name-prefix part (shipped more than half
    of that part's total — the availqty-vs-half-shipped test re-expressed
    on shipped quantities; this dataset has no partsupp). The part-prefix
    list broadcasts and prunes the fact scan; the (part, supplier) rollup
    and per-part halves share one partkey shuffle; the final IN is a
    broadcast SEMI join against the tiny qualifying-supplier set."""
    p = t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    li = t(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1997)
    sq = (
        li.join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    thr = sq.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.5 * F.sum("qty")).alias("half_total")
    )
    qualifying = (
        sq.join(F.broadcast(thr), sq["l_partkey"] == F.col("t_partkey"))
        .where(F.col("qty") > F.col("half_total"))
        .select("l_suppkey")
        .distinct()
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(qualifying), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH base AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
      FROM base GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM base b
    JOIN per_order po ON b.l_orderkey = po.l_orderkey
    JOIN supplier s ON b.l_suppkey = s.s_suppkey
    WHERE b.late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    """,
    tags=("join", "agg", "tpch"),
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting): late lineitems in
    finalized multi-supplier orders where this supplier was the ONLY late
    one. Lateness = shipped more than 60 days after the order date (this
    dataset has no commit/receipt dates). The EXISTS / NOT EXISTS pair
    decorrelates into ONE per-order aggregate (supplier count + late
    supplier count) joined back to the late rows — two orderkey-partitioned
    passes over data already co-located by the fact join, no correlated
    re-scans. Supplier broadcasts for the name."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    ).cast("int")
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_order = base.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    s = t(spark, sf_dir, "supplier")
    return (
        base.where(F.col("late") == 1)
        .join(per_order, F.col("l_orderkey") == F.col("po_orderkey"))
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q22_sales_opportunity",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_nationkey IN (0, 3, 7, 12, 17, 21, 24)
    ),
    cutoff AS (SELECT AVG(c_acctbal) AS avg_bal FROM pool WHERE c_acctbal > 0),
    rich AS (
      SELECT p.c_custkey, p.c_nationkey, p.c_acctbal
      FROM pool p CROSS JOIN cutoff WHERE p.c_acctbal > cutoff.avg_bal
    )
    SELECT r.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(r.c_acctbal) + 1e-9, 2) AS totacctbal
    FROM rich r
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = r.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY r.c_nationkey ORDER BY r.c_nationkey
    """,
    tags=("join", "agg", "tpch"),
)
def q22_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): above-average-balance customers
    in a country set with no RECENT orders (nationkey stands in for the
    phone country code, and a date cutoff for Q22's dormant-for-7-years
    intent — at this density every customer has SOME order, so the pure
    never-ordered form is vacuous). The correlated AVG subquery is the
    broadcast-scalar pattern (one-row aggregate cross-joined back); the NOT
    EXISTS is an ANTI join against orders' date-pruned custkey projection —
    at scale that anti join shuffles only (custkey) pairs, and the final
    rollup is |nations|-sized."""
    pool = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(0, 3, 7, 12, 17, 21, 24))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    cutoff = pool.where(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, pool["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            eps_round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_quantile_mergeable",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             greatest(least(CAST(floor(value / 5) AS BIGINT), 99), 0) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, day, bin
    ),
    merged AS (
      SELECT event_type, bin, CAST(SUM(c) AS BIGINT) AS c
      FROM daily GROUP BY event_type, bin
    ),
    cum AS (
      SELECT event_type, bin, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM merged
    ),
    picked AS (
      SELECT event_type, q, bin, c, cum, n,
             row_number() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
      FROM cum CROSS JOIN (SELECT unnest([0.5, 0.95]) AS q) qs
      WHERE cum >= q * n
    )
    SELECT event_type,
           ROUND(MAX(CASE WHEN q = 0.5
                          THEN bin * 5 + 5 * (q * n - (cum - c)) / c END) + 1e-9, 4)
             AS p50_est,
           ROUND(MAX(CASE WHEN q = 0.95
                          THEN bin * 5 + 5 * (q * n - (cum - c)) / c END) + 1e-9, 4)
             AS p95_est,
           TRUE AS within_bin
    FROM picked WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("agg", "sketch", "quantile"),
)
def agg_quantile_mergeable(spark, sf_dir):
    """Mergeable quantile sketch via fixed-bin histograms — the companion to
    agg_hll_mergeable for percentiles at 100 TB: per-day jobs persist a
    100-bin histogram (bin = floor(value/5), clamped to [0, 99]); any time
    range merges by SUMMING bin counts (associative + commutative, the
    mergeability contract), and the quantile is interpolated inside the
    first bin whose cumulative count crosses q*n. Unlike GK/KLL sketches,
    fixed-bin merge is DETERMINISTIC, so the estimates themselves are
    hash-checked against the oracle (not just a bound boolean). The daily
    pre-agg shrinks the shuffle to |event_type|x|day|x|bins| rows no matter
    how many raw events feed it. The STRUCTURAL guarantee is that the
    estimate lies in the bin containing the ceil(q*n)-th order statistic;
    closeness to the INTERPOLATED exact percentile additionally needs the
    crossing bin's neighborhood to be populated (a sparse tail can place
    the interpolated value many empty bins away). This data's bins are
    dense there, so `within_bin` pins a two-bin-width (10.0) empirical
    bound vs percentile_cont — a regression in bin math or merge turns the
    row red; the bound is a property of this distribution, not of the
    sketch in general."""
    from dumpr_spark.functions import sketches as sk

    e = t(spark, sf_dir, "events")
    daily = sk.histogram_bins(
        e, "value", ["event_type"], bin_width=5.0, n_bins=100,
        extra_keys=[F.date_trunc("day", F.col("ts")).alias("day")],
    )
    merged = sk.merge_bins(daily, ["event_type"])
    ests = sk.histogram_quantiles(merged, [0.5, 0.95], ["event_type"], bin_width=5.0)
    sketch = ests.groupBy("event_type").agg(
        eps_round(F.max(F.when(F.col("q") == 0.5, F.col("est"))), 4).alias("p50_est"),
        eps_round(F.max(F.when(F.col("q") == 0.95, F.col("est"))), 4).alias("p95_est"),
    )
    exact = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50_x"),
        F.percentile("value", F.lit(0.95)).alias("p95_x"),
    )
    return (
        sketch.join(exact, "event_type")
        .select(
            "event_type",
            "p50_est",
            "p95_est",
            (
                (F.abs(F.col("p50_est") - F.col("p50_x")) <= 10.0)
                & (F.abs(F.col("p95_est") - F.col("p95_x")) <= 10.0)
            ).alias("within_bin"),
        )
        .orderBy("event_type")
    )


@query(
    "profile_columns",
    """
    SELECT * FROM (
      SELECT 'l_discount' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
             ROUND(MIN(l_discount) + 1e-9, 4) AS min_num,
             ROUND(MAX(l_discount) + 1e-9, 4) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
             ROUND(MIN(l_quantity) + 1e-9, 4), ROUND(MAX(l_quantity) + 1e-9, 4),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(l_returnflag), MAX(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_linestatus',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(l_linestatus), MAX(l_linestatus)
      FROM lineitem
    ) ORDER BY col_name
    """,
    tags=("relational", "profile"),
)
def profile_columns(spark, sf_dir):
    """Column profiling (the ANALYZE / data-quality-observability op): per
    profiled column, row count, null count, exact distinct count, and
    min/max (numeric or lexicographic). The long output shape is what a
    pipeline-health dashboard or an optimizer-stats collector consumes.

    Scale shape: one independent single-column aggregate per profiled
    column, unioned — each leg's parquet scan reads ONLY its column
    (column pruning), and the union legs run as parallel stages. This is
    deliberately NOT one agg with many COUNT(DISTINCT)s: multiple exact
    distincts in one aggregate force Catalyst's Expand (input multiplied
    by the number of distinct aggs). At 100 TB swap the exact distinct for
    approx_count_distinct / the HLL sketch twin (`agg_hll_mergeable`) —
    same plan, no full-width shuffle."""
    li = t(spark, sf_dir, "lineitem")
    null_str = F.lit(None).cast("string")
    null_num = F.lit(None).cast("double")

    def leg(col, numeric):
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).cast("long").alias("n_nulls"),
            F.count_distinct(F.col(col)).cast("long").alias("n_distinct"),
        ]
        if numeric:
            aggs += [
                eps_round(F.min(col).cast("double"), 4).alias("min_num"),
                eps_round(F.max(col).cast("double"), 4).alias("max_num"),
            ]
        sel = li.agg(*aggs)
        if numeric:
            return sel.select(
                F.lit(col).alias("col_name"), "n_rows", "n_nulls", "n_distinct",
                "min_num", "max_num", null_str.alias("min_str"), null_str.alias("max_str"),
            )
        mm = li.agg(*aggs, F.min(col).alias("mn"), F.max(col).alias("mx"))
        return mm.select(
            F.lit(col).alias("col_name"), "n_rows", "n_nulls", "n_distinct",
            null_num.alias("min_num"), null_num.alias("max_num"),
            F.col("mn").alias("min_str"), F.col("mx").alias("max_str"),
        )

    out = (
        leg("l_discount", True)
        .unionByName(leg("l_quantity", True))
        .unionByName(leg("l_returnflag", False))
        .unionByName(leg("l_linestatus", False))
    )
    return out.orderBy("col_name")


@query(
    "sql_recursive_cte",
    """
    WITH RECURSIVE up(start, node, depth) AS (
      SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= 50
      UNION ALL
      SELECT start, node // 2, depth + 1 FROM up WHERE node > 1
    )
    SELECT start,
           CAST(MAX(depth) AS BIGINT) AS root_depth,
           CAST(SUM(node) AS BIGINT) AS path_sum
    FROM up GROUP BY start ORDER BY start
    """,
    tags=("relational", "sql", "recursive"),
)
def sql_recursive_cte(spark, sf_dir):
    """WITH RECURSIVE (Spark 4 SQL surface): ancestor walk over the
    implicit binary-tree hierarchy parent(p) = p DIV 2 — the transitive-
    closure / BOM-expansion query family that previously required the
    engine's Python iteration helpers (connected components, PageRank) now
    expressible directly in SQL. Each of the 50 start nodes walks at most
    log2(max_key) levels; the aggregate folds path depth and path sum.

    Scale shape: Catalyst executes the recursion as iterative UnionLoop
    steps — each iteration is a narrow filter+project over the previous
    frontier, so the work per level is the frontier size, not the table
    size; termination is data-driven (empty frontier). The same guardrails
    as the Python-loop operators apply (bounded depth by construction
    here; levels are log2 of the key domain)."""
    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        """
        WITH RECURSIVE up(start, node, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey <= 50
          UNION ALL
          SELECT start, node DIV 2, depth + 1 FROM up WHERE node > 1
        )
        SELECT start,
               CAST(MAX(depth) AS BIGINT) AS root_depth,
               CAST(SUM(node) AS BIGINT) AS path_sum
        FROM up GROUP BY start ORDER BY start
        """
    )


@query(
    "agg_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT flag,
           ROUND(MIN(CASE WHEN cum >= total / 2.0 THEN price END) + 1e-9, 2)
             AS w_median_price,
           CAST(MAX(total) AS BIGINT) AS total_qty
    FROM w GROUP BY flag ORDER BY flag
    """,
    tags=("agg", "stats"),
)
def agg_weighted_median(spark, sf_dir):
    """Weighted median (quantity-weighted median price per return flag):
    sort by value within each group, running-sum the weights, and take the
    first value whose cumulative weight crosses half the group total — the
    weighted-quantile primitive metrics systems need (a plain median treats
    a 1-unit and a 50-unit line item alike). Tie-broken by the total
    (price, orderkey, linenumber) order for cross-engine determinism.

    Scale shape: one keyed window per group. l_returnflag is a 3-value
    DEMO grain — at this grain the window is 3 skewed partitions, which is
    fine at bench scale but NOT the 100 TB shape; production groups on a
    high-cardinality stratum (user/entity/day), and a genuinely giant
    group takes the two-phase distributed prefix scan (operators/ntile,
    the batch tx filter) exactly like any other huge running sum. The
    weighted SKETCH twin at volume is the histogram quantile family
    (`agg_quantile_mergeable`) with weight-summed bins — mergeable, no
    sort at all.

    r18 (§2.3 aggregate-before-shuffle): weights pre-aggregate to ONE row
    per (flag, price) before the window. The (orderkey, linenumber)
    tie-break only ever decided WHICH ROW crossed the half-total — never
    the resulting PRICE, because the crossing price is determined by the
    per-price cumulative totals alone — so lumping equal prices is
    result-identical. Sum reassociation is exact here: l_quantity is
    whole-numbered (TPC-H spec, 1..50) and every partial sum stays far
    below 2^53, so hash-agg partials, the window's sequential cum, and
    the oracle's row-ordered cum all produce the same doubles
    (oracle-certified at 3 SFs). The groupBy gets map-side combine — the
    shuffle and the per-flag window sort now scale with the DISTINCT
    price domain, not the row count (sf1-local: 6M rows -> 594k)."""
    from dumpr_spark.functions.stats import weighted_median

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        "l_extendedprice",
        "l_quantity",
    )
    g = li.groupBy("flag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("_w")
    )
    wm = weighted_median(g, ["flag"], "l_extendedprice", "_w")
    return wm.select(
        "flag",
        eps_round(F.col("w_median"), 2).alias("w_median_price"),
        F.col("total_weight").cast("long").alias("total_qty"),
    ).orderBy("flag")


@query(
    "agg_countmin_sketch",
    """
    WITH buck AS (
      SELECT user_id, j.j AS j,
             ('0x' || substring(md5('cm' || j.j || ':' || user_id), 1, 8))::BIGINT % 256
               AS bucket
      FROM events, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j
    ),
    sketch AS (
      SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM buck GROUP BY j, bucket
    ),
    keys AS (SELECT DISTINCT user_id FROM events),
    kb AS (
      SELECT k.user_id, j.j AS j,
             ('0x' || substring(md5('cm' || j.j || ':' || k.user_id), 1, 8))::BIGINT % 256
               AS bucket
      FROM keys k, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j
    ),
    est AS (
      SELECT kb.user_id, CAST(MIN(s.c) AS BIGINT) AS cm_est
      FROM kb JOIN sketch s ON s.j = kb.j AND s.bucket = kb.bucket
      GROUP BY kb.user_id
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events GROUP BY user_id
    )
    SELECT e.user_id, exact_n, cm_est,
           CAST(cm_est - exact_n AS BIGINT) AS overcount,
           cm_est >= exact_n AS never_undercounts
    FROM exact e JOIN est ON est.user_id = e.user_id
    ORDER BY e.user_id
    """,
    tags=("agg", "sketch"),
)
def agg_countmin_sketch(spark, sf_dir):
    """Count-Min sketch frequency estimation (d=4 rows x w=256 buckets) —
    the fourth mergeable-sketch family next to HLL (distinct), fixed-bin
    histograms (quantiles), and Misra-Gries (heavy hitters). The sketch is
    d*w counters regardless of key cardinality; estimate(key) = min over
    its d bucket counters, which NEVER undercounts (asserted per key) and
    overcounts by at most the collisions in its least-collided row. The
    md5-derived hash family makes every counter deterministic, so the
    estimates themselves hash-check against the oracle — no rows-only
    escape hatch.

    Scale shape: the sketch build is ONE scan of events — a single
    projection computes all d=4 (row, bucket) hashes as an array and
    posexplodes it (the r4 form unioned four per-hash-row projections of
    the same table: free locally under page cache, 4x the one-column I/O
    at 100 TB) — then one groupBy over (row, bucket): 1024 cells total,
    partial-combining, perfectly mergeable across partitions or time
    windows (cell-wise sum, like the HLL/histogram rollups); the estimate
    join broadcasts the 1024-cell sketch."""
    e = t(spark, sf_dir, "events")

    def bucket(j, key_col):
        h = F.md5(F.concat(F.lit(f"cm{j}:"), F.col(key_col).cast("string")))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 256

    def with_buckets(df, key_col):
        # All four (j, bucket) pairs in one projection: posexplode emits
        # (pos, value) so the array index IS the hash-row id j.
        arr = F.array(*[bucket(j, key_col) for j in range(4)])
        return df.select(key_col, F.posexplode(arr).alias("j", "bucket"))

    sketch = (
        with_buckets(e, "user_id")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )

    # The exact-count rollup doubles as the probe-key list (same subtree,
    # so the scan + groupBy exchange is shared, not recomputed): 2 scans
    # of the one-column projection total — sketch build + exact counts.
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    est = (
        with_buckets(exact.select("user_id"), "user_id")
        .join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").cast("long").alias("cm_est"))
    )
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cm_est",
            (F.col("cm_est") - F.col("exact_n")).cast("long").alias("overcount"),
            (F.col("cm_est") >= F.col("exact_n")).alias("never_undercounts"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Round-5 additions (_R5_NEW): regression/association aggregates, category
# diagnostics, Pareto classification, calendar analytics
# ---------------------------------------------------------------------------


@query(
    "agg_regr_linear",
    """
    WITH s AS (
      SELECT n_name,
             COUNT(*)::DOUBLE AS n,
             SUM(l_quantity) AS sx, SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_extendedprice) AS sxy,
             SUM(l_quantity * l_quantity) AS sxx,
             SUM(l_extendedprice * l_extendedprice) AS syy
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_lines,
           ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx) + 1e-9, 4) AS slope,
           ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n + 1e-9, 2)
             AS intercept,
           ROUND(((n*sxy - sx*sy) * (n*sxy - sx*sy))
                 / ((n*sxx - sx*sx) * (n*syy - sy*sy)) + 1e-9, 4) AS r2
    FROM s ORDER BY n_name
    """,
    tags=("agg", "stats"),
)
def agg_regr_linear(spark, sf_dir):
    """Grouped least-squares regression (price vs quantity per supplier
    nation): slope, intercept and R^2 computed from the five power sums —
    the regr_slope/regr_intercept/regr_r2 family, written out as explicit
    sums so both engines evaluate the IDENTICAL closed form (no reliance
    on either engine's regr_* null/edge conventions).

    Scale shape: one partial-combining aggregate per group — the five sums
    are constant-size per partition and mergeable (same contract as
    corr/stddev partials); the supplier->nation dims broadcast, and the
    final arithmetic runs over 25 rows."""
    li, s, n = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "supplier"), t(spark, sf_dir, "nation")
    joined = li.join(
        F.broadcast(s), li["l_suppkey"] == s["s_suppkey"]
    ).join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    sums = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
    )
    n_, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n_ * sxy - sx * sy) / (n_ * sxx - sx * sx)
    return sums.select(
        "n_name",
        n_.cast("long").alias("n_lines"),
        eps_round(slope, 4).alias("slope"),
        eps_round((sy - slope * sx) / n_, 2).alias("intercept"),
        eps_round(
            ((n_ * sxy - sx * sy) * (n_ * sxy - sx * sy))
            / ((n_ * sxx - sx * sx) * (n_ * syy - sy * sy)),
            4,
        ).alias("r2"),
    ).orderBy("n_name")


@query(
    "agg_corr_covar",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_quantity, l_extendedprice) + 1e-9, 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_extendedprice) + 1e-9, 2) AS qty_price_covs,
           ROUND(covar_pop(l_quantity, l_discount) + 1e-9, 6) AS qty_disc_covp
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_corr_covar(spark, sf_dir):
    """Association aggregates per group: Pearson correlation plus sample and
    population covariance — the built-in co-moment family (Spark and DuckDB
    both implement the single-pass co-moment recurrences, so the values
    agree to rounding). Partial-combining: each partition carries the
    (n, mean_x, mean_y, C_xy) tuple, merged pairwise — mergeable at any
    cluster width, no sort, no window."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            eps_round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            eps_round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covs"),
            eps_round(F.covar_pop("l_quantity", "l_discount"), 6).alias("qty_disc_covp"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_entropy_gini",
    """
    WITH dist AS (
      SELECT n_name, o_orderpriority, COUNT(*)::DOUBLE AS c
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name, o_orderpriority
    ),
    tot AS (
      SELECT n_name, SUM(c) AS total FROM dist GROUP BY n_name
    )
    SELECT d.n_name,
           CAST(SUM(c) AS BIGINT) AS n_orders,
           ROUND(-SUM((c / total) * log2(c / total)) + 1e-9, 6) AS priority_entropy,
           ROUND(1 - SUM((c / total) * (c / total)) + 1e-9, 6) AS priority_gini
    FROM dist d JOIN tot USING (n_name)
    GROUP BY d.n_name, total ORDER BY d.n_name
    """,
    tags=("agg", "stats"),
)
def agg_entropy_gini(spark, sf_dir):
    """Categorical-distribution diagnostics per group: Shannon entropy and
    Gini impurity of the order-priority mix per customer nation — the
    balance/skew measure a data curator reads before stratifying (a
    near-zero entropy nation is one-priority-dominated; max entropy
    log2(5) ~ 2.32 is uniform).

    Scale shape: first aggregate to |nation| x |priority| cells (tiny,
    map-side combined from the fact scan with broadcast dims), second
    aggregate folds the ~125 cells — the probability normalization happens
    on the cell table, never on raw rows."""
    o, c, n = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    dist = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    w_tot = dist.groupBy("n_name").agg(F.sum("c").alias("total"))
    p = F.col("c") / F.col("total")
    return (
        dist.join(w_tot, "n_name")
        .groupBy("n_name", "total")
        .agg(
            F.sum("c").cast("long").alias("n_orders"),
            eps_round(-F.sum(p * F.log2(p)), 6).alias("priority_entropy"),
            eps_round(F.lit(1) - F.sum(p * p), 6).alias("priority_gini"),
        )
        .select("n_name", "n_orders", "priority_entropy", "priority_gini")
        .orderBy("n_name")
    )


@query(
    "agg_pareto_abc",
    """
    WITH rev AS (
      SELECT n_name, l_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)) + 1e-9, 4)
               AS revenue
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, l_partkey
    ),
    ranked AS (
      SELECT n_name, l_partkey, revenue,
             SUM(revenue) OVER (PARTITION BY n_name ORDER BY revenue DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum_rev
      FROM rev
    ),
    classed AS (
      -- total = MAX(cum_rev): the LAST value of the ORDER-PINNED running
      -- sum (revenue > 0 so cum_rev is increasing) — an order-free
      -- SUM() OVER (PARTITION BY) would re-add the rounded addends in
      -- each engine's own arrival order, and its last ulp is what
      -- flipped a boundary part's class between runs (r13 flake hunt)
      SELECT n_name,
             CASE WHEN ROUND(cum_rev / MAX(cum_rev) OVER (PARTITION BY n_name)
                            + 1e-9, 9) <= 0.7 THEN 'A'
                  WHEN ROUND(cum_rev / MAX(cum_rev) OVER (PARTITION BY n_name)
                             + 1e-9, 9) <= 0.9 THEN 'B'
                  ELSE 'C' END AS cls,
             revenue
      FROM ranked
    )
    -- class_revenue folds EXACTLY: the addends are 4dp-QUANTIZED, so the
    -- exact class sum lands on a .xx50 half-cent boundary with prob
    -- ~1/100 per group (one group at sf0.01 sits EXACTLY on one:
    -- NATION_13/B = 11572169.1050), and at ~1e7-1e8 magnitudes one
    -- double ulp (1.9e-9..1.5e-8) exceeds the 1e-9 nudge — a float
    -- SUM's fold-order wobble then rounds .10 or .11 run-to-run (the
    -- r15 flake catch, third live instance of the class). DECIMAL(38,4)
    -- addition is exact in any fold order; ROUND half-up on the exact
    -- decimal is deterministic and engine-identical.
    SELECT n_name, cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(38,4))), 2) AS DOUBLE)
             AS class_revenue
    FROM classed GROUP BY n_name, cls ORDER BY n_name, cls
    """,
    tags=("agg", "window"),
)
def agg_pareto_abc(spark, sf_dir):
    """ABC/Pareto classification: per supplier nation, parts whose running
    revenue share reaches 70% are class A, to 90% class B, the tail C —
    the inventory-analytics split ("which 20% of parts carry 80% of
    revenue"). Cumulative share via a window over the part-level revenue
    rollup, with the part-level revenue eps-rounded BEFORE the window,
    the share eps-rounded before classification, and (r13) the partition
    TOTAL taken as MAX(cum_rev) — the last value of the order-pinned
    running sum — instead of an order-free SUM() OVER (PARTITION BY), so
    the hard class boundary cannot flip on a 1-ulp sum-order difference
    — across engines or across Spark runs (r7 flake: unrounded ADDENDS;
    r13 flake: the total's free fold order — both caught live by the
    sweep-repetition discipline).

    Scale shape: the raw fact scan reduces to |nation| x |part| BEFORE any
    window; the running sum partitions by nation over that rollup. At the
    25-nation DEMO grain each partition is one task's sort — production
    grains partition finer (nation x category) or take the two-phase
    distributed prefix scan (operators/ntile.py's pattern) exactly like
    the other giant-running-sum ops; the class counts that leave the
    window are 3 rows per nation."""
    li, s, n = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "supplier"), t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "l_partkey")
        # eps-round the part-level revenue BEFORE the running-sum window:
        # the raw double sum's last ulp varies with aggregation order —
        # across engines AND across Spark runs (shuffle arrival order) —
        # and the cumulative share inherits it, so a part sitting exactly
        # on the 0.7/0.9 class edge could flip class between runs (one
        # flaky driver-gate mismatch observed r7). Rounded addends summed
        # in the window's DETERMINISTIC (revenue DESC, partkey) order make
        # cum_rev bit-identical everywhere.
        .agg(eps_round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"))
    )
    w_cum = (
        Window.partitionBy("n_name")
        .orderBy(F.desc("revenue"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.select(
        "n_name", "revenue", F.sum("revenue").over(w_cum).alias("cum_rev")
    )
    # total = MAX(cum_rev), the LAST value of the order-pinned running sum
    # (revenue > 0 so cum_rev is increasing): bit-identical on every
    # engine and every run because its addends fold in the window's
    # deterministic order. The previous SUM() OVER (PARTITION BY) total
    # re-added the rounded addends in ARRIVAL order — an order-free
    # parallel fold whose last ulp wiggled run-to-run, and one boundary
    # part's 9dp-rounded share sat exactly where that ulp decides the
    # 0.7 class edge (caught by the r13 flake hunt: 1 mismatch in 2
    # sweeps, 0 in 10 on a fresh session — the r7 fix rounded the
    # ADDENDS but left the total's fold order free).
    w_tot = Window.partitionBy("n_name")
    share = eps_round(F.col("cum_rev") / F.max("cum_rev").over(w_tot), 9)
    classed = ranked.select(
        "n_name",
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").alias("cls"),
        "revenue",
    )
    return (
        classed.groupBy("n_name", "cls")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            # EXACT decimal fold (r15 — the class's third live catch):
            # the 4dp-quantized addends put exact class sums on a .xx50
            # half-cent boundary with prob ~1/100 per group, and at
            # ~1e7-1e8 sums one double ulp exceeds the eps_round nudge,
            # so a float SUM's arrival-order wobble flipped the 2dp
            # rounding run-to-run (NATION_13/B's exact sum is
            # 11572169.1050 at sf0.01 — caught by a 1-in-2-sweeps hash
            # mismatch, confirmed by the boundary audit in SCALE.md r15).
            # decimal(38,4) addition is fold-order-exact; the half-up
            # round on the exact decimal matches DuckDB's bit-for-bit.
            F.round(F.sum(F.col("revenue").cast("decimal(38,4)")), 2)
            .cast("double").alias("class_revenue"),
        )
        .orderBy("n_name", "cls")
    )


@query(
    "rollup_mom_growth",
    """
    WITH monthly AS (
      SELECT n_name, date_trunc('month', o_orderdate) AS month,
             ROUND(SUM(o_totalprice) + 1e-9, 2) AS revenue
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
      GROUP BY n_name, date_trunc('month', o_orderdate)
    )
    SELECT n_name, month, revenue,
           ROUND((revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY month))
                 / lag(revenue) OVER (PARTITION BY n_name ORDER BY month) + 1e-9, 4)
             AS mom_growth
    FROM monthly ORDER BY n_name, month
    """,
    tags=("rollup", "window", "timeseries"),
)
def rollup_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per nation: the period-comparison
    rollup every metrics dashboard ships (this period vs last, as a
    ratio). Revenue is eps-rounded BEFORE the lag/divide so the growth
    ratio is a pure function of the published monthly figures — a
    cross-engine sum wobble cannot leak into the derived metric.

    Scale shape: the fact scan reduces to |nation| x |month| rows first
    (map-side combine, broadcast dims, partition-prunable date filter);
    the lag window runs over that tiny rollup — window input is the
    AGGREGATE, never raw orders."""
    o, c, n = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    monthly = (
        o.where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(eps_round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "n_name", "month", "revenue",
        eps_round((F.col("revenue") - prev) / prev, 4).alias("mom_growth"),
    ).orderBy("n_name", "month")


@query(
    "customer_rfm_scores",
    """
    WITH rfm AS (
      SELECT c_custkey,
             CAST(MAX(epoch_ms(o_orderdate)) / 86400000 AS DOUBLE) AS recency_day,
             COUNT(*)::DOUBLE AS frequency,
             ROUND(SUM(o_totalprice) + 1e-9, 2) AS monetary
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_custkey
    ),
    scored AS (
      SELECT c_custkey,
             ntile(5) OVER (ORDER BY recency_day DESC, c_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS m_score,
             monetary
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(monetary) + 1e-9, 2) AS segment_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    tags=("agg", "window", "analytics"),
)
def customer_rfm_scores(spark, sf_dir):
    """RFM segmentation: every ordering customer scored 1-5 on Recency
    (days-since-epoch of last order, later = score 1), Frequency (order
    count) and Monetary (total spend), then rolled into segment cells —
    the classic marketing-analytics cube (a (1,1,1) cell is the
    best-customer segment).

    Scale shape: each NTILE is a GLOBAL-order statistic, which is exactly
    the shape the plan lint bans as a naive window — so all three scores
    run through operators/ntile.global_ntile (approxQuantile range-bucket
    + per-bucket rank + broadcast offsets; see that module's cost model).
    The per-customer rollup is lazily localCheckpoint-pinned across the
    three scoring passes' six EAGER jobs (per pass: one approxQuantile,
    one bucket-count) and the returned plan — without it each would
    recompute the orders scan + join + groupBy from scratch. r17: the
    passes score INDEPENDENT 2-column projections of the rollup and the
    (c_custkey, score) frames join back, instead of each pass stacking on
    the previous pass's output (whose eager jobs then re-executed every
    earlier rank window). Monetary is eps-rounded before scoring so the
    tile boundary is a function of the published figure on both
    engines."""
    from dumpr_spark.operators.ntile import global_ntile

    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    rfm = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey")
        .agg(
            (F.max(F.unix_millis(F.col("o_orderdate").cast("timestamp")))
             / F.lit(86400000.0)).alias("recency_day"),
            F.count(F.lit(1)).cast("double").alias("frequency"),
            eps_round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        # lazy pin (the repo-standard localCheckpoint-inside-a-query form,
        # released by the ContextCleaner like every other query-internal
        # pin): 7 readers — the three scoring passes' six eager jobs plus
        # the returned plan's reads
        .localCheckpoint(eager=False)
    )
    # r17: score the three axes INDEPENDENTLY on 2-column projections
    # of the pinned rollup and join the (c_custkey, score) frames back.
    # The old stacked form (ntile over the output of the previous
    # ntile) made pass N's two eager jobs re-execute every earlier
    # pass's rank window + offset join — quadratic re-evaluation for
    # zero information: each score depends only on (its value, id).
    # Same scores, same cells; the join-back keys are unique.
    scores = [
        global_ntile(
            rfm.select("c_custkey", val), 5, val, "c_custkey", out_col=out
        ).select("c_custkey", out)
        for val, out in (
            ("recency_day", "r_score"),
            ("frequency", "f_score"),
            ("monetary", "m_score"),
        )
    ]
    scored = rfm.select("c_custkey", "monetary")
    for s in scores:
        scored = scored.join(s, "c_custkey")
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            eps_round(F.sum("monetary"), 2).alias("segment_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "agg_assoc_lift",
    """
    WITH n AS (SELECT COUNT(*)::DOUBLE AS total FROM part),
    joint AS (
      SELECT p_brand, p_type, COUNT(*)::DOUBLE AS cbc
      FROM part GROUP BY p_brand, p_type
    ),
    mb AS (SELECT p_brand, SUM(cbc) AS cb FROM joint GROUP BY p_brand),
    mc AS (SELECT p_type, SUM(cbc) AS cc FROM joint GROUP BY p_type)
    SELECT p_brand, p_type,
           CAST(cbc AS BIGINT) AS n_joint,
           ROUND(cbc * total / (cb * cc) + 1e-9, 4) AS lift
    FROM joint JOIN mb USING (p_brand) JOIN mc USING (p_type), n
    WHERE cbc >= 15
    ORDER BY lift DESC, p_brand, p_type LIMIT 15
    """,
    tags=("agg", "stats", "analytics"),
)
def agg_assoc_lift(spark, sf_dir):
    """Association lift (market-basket style) between part brand and
    type: lift = P(brand, type) / (P(brand) * P(type)) —
    > 1 means the pair co-occurs more than independence predicts. Support
    floor (joint count >= 15) before ranking, the standard
    min-support/top-lift mining output.

    Scale shape: ONE aggregate to the |brand| x |type| cell table;
    both margins derive from the cells (no second fact scan), the 1-row
    total broadcasts (allowlisted scalar BNLJ), and the top-15 is
    TakeOrdered over the cells."""
    p = t(spark, sf_dir, "part")
    joint = p.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).cast("double").alias("cbc")
    )
    mb = joint.groupBy("p_brand").agg(F.sum("cbc").alias("cb"))
    mc = joint.groupBy("p_type").agg(F.sum("cbc").alias("cc"))
    n = p.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        joint.join(F.broadcast(mb), "p_brand")
        .join(F.broadcast(mc), "p_type")
        .crossJoin(F.broadcast(n))
        .where(F.col("cbc") >= 15)
        .select(
            "p_brand",
            "p_type",
            F.col("cbc").cast("long").alias("n_joint"),
            eps_round(F.col("cbc") * F.col("total") / (F.col("cb") * F.col("cc")), 4).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p_brand", "p_type")
        .limit(15)
    )


@query(
    "sql_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(AVG(o_totalprice) + 1e-9, 2) AS avg_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 100
    ORDER BY o_orderpriority
    """,
    tags=("sql", "spark4"),
)
def sql_pipe_syntax(spark, sf_dir):
    """Spark 4 SQL pipe syntax (|> operators): the same
    filter -> aggregate -> having -> order pipeline written as a linear
    pipe chain — a declared-surface check that the engine's SQL front end
    accepts the 4.x pipe dialect and compiles it to the IDENTICAL plan the
    clause form produces (the oracle is the clause form). Catalyst sees
    one logical plan either way: filter pushdown, partial aggregation and
    TakeOrdered all apply unchanged."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql("""
        FROM orders
        |> WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     ROUND(AVG(o_totalprice) + 1e-9, 2) AS avg_price
           GROUP BY o_orderpriority
        |> WHERE n_orders > 100
        |> ORDER BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, avg_price
    """)


@query(
    "agg_string_agg",
    """
    SELECT n_name,
           string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey % 10 = 0
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("agg", "spark4"),
)
def agg_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP): concatenate
    each nation's supplier names in a deterministic order — the
    report-formatting aggregate (and the ONLY safe way to use listagg
    cross-engine: without the WITHIN GROUP order the concatenation order
    is partition-arbitrary on both engines).

    Scale shape: grouped collect with an in-group sort; output size is the
    group's payload (bounded here by the %10 filter) — at volume the
    discipline is a capped collect_list slice, same as the posting-list
    caps in index_inverted."""
    s, n = t(spark, sf_dir, "supplier"), t(spark, sf_dir, "nation")
    return (
        s.where(F.col("s_suppkey") % 10 == 0)
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.expr("listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name)").alias("suppliers"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


@query(
    "orders_seasonality_index",
    """
    WITH monthly AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS moy,
             COUNT(*)::DOUBLE AS n,
             SUM(o_totalprice) AS rev
      FROM orders GROUP BY moy
    ),
    overall AS (SELECT SUM(rev) / SUM(n) AS avg_order FROM monthly)
    SELECT moy, CAST(n AS BIGINT) AS n_orders,
           ROUND(rev / n + 1e-9, 2) AS avg_order_value,
           ROUND((rev / n) / avg_order + 1e-9, 4) AS seasonality_index
    FROM monthly, overall ORDER BY moy
    """,
    tags=("rollup", "timeseries", "analytics"),
)
def orders_seasonality_index(spark, sf_dir):
    """Month-of-year seasonality index: each calendar month's average order
    value relative to the all-months average (index 1.0 = no seasonality)
    — the normalization step behind seasonal adjustment and staffing
    forecasts. The overall average derives FROM the 12-row monthly rollup
    (sum of sums / sum of counts — exactly the global mean), not a second fact
    scan.

    Scale shape: one map-side-combining aggregate to 12 cells; the 1-row
    overall mean broadcasts back (the allowlisted scalar-BNLJ shape —
    Catalyst constant-folds a literal join key on both sides and
    degenerates such an equi-join to a nested loop anyway, so the explicit
    crossJoin is the honest spelling)."""
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.month("o_orderdate").cast("long").alias("moy")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("o_totalprice").alias("rev"),
    )
    overall = monthly.agg((F.sum("rev") / F.sum("n")).alias("avg_order"))
    return (
        monthly.crossJoin(F.broadcast(overall))
        .select(
            "moy",
            F.col("n").cast("long").alias("n_orders"),
            eps_round(F.col("rev") / F.col("n"), 2).alias("avg_order_value"),
            eps_round((F.col("rev") / F.col("n")) / F.col("avg_order"), 4).alias("seasonality_index"),
        )
        .orderBy("moy")
    )


@query(
    "agg_hhi_concentration",
    """
    WITH cells AS (
      SELECT p_type, p_brand, COUNT(*)::DOUBLE AS n
      FROM part GROUP BY p_type, p_brand
    ),
    tot AS (SELECT p_type, SUM(n) AS tn, COUNT(*) AS k FROM cells GROUP BY p_type)
    SELECT c.p_type,
           CAST(t.k AS BIGINT) AS n_brands,
           ROUND(SUM((100.0 * c.n / t.tn) * (100.0 * c.n / t.tn)) + 1e-9, 4) AS hhi,
           ROUND((SUM((100.0 * c.n / t.tn) * (100.0 * c.n / t.tn)) - 10000.0 / t.k)
                 / (10000.0 - 10000.0 / t.k) + 1e-9, 6) AS hhi_normalized
    FROM cells c JOIN tot t USING (p_type)
    GROUP BY c.p_type, t.k
    ORDER BY c.p_type
    """,
    tags=("agg", "stats", "analytics"),
)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index per part type: the sum
    of squared percentage brand shares (10000 = monopoly, 10000/k = evenly
    split across k brands), plus the normalized form in [0, 1] — the
    antitrust/market-structure statistic, here measuring how concentrated
    each type's catalog is across brands.

    Scale shape: the fact scan collapses to |type| x |brand| cells with
    map-side combine before any share math; per-type totals come from the
    cell table itself (no second fact scan), and the squared-share rollup
    runs over the tiny cell table."""
    cells = (
        t(spark, sf_dir, "part")
        .groupBy("p_type", "p_brand")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    tot = cells.groupBy("p_type").agg(
        F.sum("n").alias("tn"), F.count(F.lit(1)).alias("k")
    )
    share2 = (F.lit(100.0) * F.col("n") / F.col("tn")) ** 2
    return (
        cells.join(tot, "p_type")
        .groupBy("p_type", "k")
        .agg(F.sum(share2).alias("_hhi"))
        .select(
            "p_type",
            F.col("k").cast("long").alias("n_brands"),
            eps_round(F.col("_hhi"), 4).alias("hhi"),
            eps_round(
                (F.col("_hhi") - F.lit(10000.0) / F.col("k"))
                / (F.lit(10000.0) - F.lit(10000.0) / F.col("k")),
                6,
            ).alias("hhi_normalized"),
        )
        .orderBy("p_type")
    )


@query(
    "agg_gmean_hmean",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(l_extendedprice) + 1e-9, 4) AS amean,
           ROUND(EXP(AVG(LN(l_extendedprice))) + 1e-9, 4) AS gmean,
           ROUND(COUNT(*) / SUM(1.0 / l_extendedprice) + 1e-9, 4) AS hmean
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_gmean_hmean(spark, sf_dir):
    """Pythagorean mean family per return flag: arithmetic, geometric
    (exp-mean-log — the overflow-safe product form), and harmonic
    (n / sum of reciprocals — the rate-averaging mean). AM >= GM >= HM is
    asserted by construction on positive prices; the strictly-positive
    filter guards the log/reciprocal domain on both engines.

    Scale shape: one scan, three partial-combining aggregates over the
    same grouping — a single shuffle of |flags| x 4 cells."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice") > 0)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            eps_round(F.avg("l_extendedprice"), 4).alias("amean"),
            eps_round(F.exp(F.avg(F.log("l_extendedprice"))), 4).alias("gmean"),
            eps_round(
                F.count(F.lit(1)) / F.sum(F.lit(1.0) / F.col("l_extendedprice")), 4
            ).alias("hmean"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "orders_backlog_timeseries",
    """
    WITH closes AS (
      SELECT l_orderkey AS okey, date_trunc('month', MAX(l_shipdate)) AS m
      FROM lineitem GROUP BY l_orderkey
    ),
    deltas AS (
      SELECT o_orderpriority AS prio, date_trunc('month', o_orderdate) AS m,
             COUNT(*)::BIGINT AS d
      FROM orders GROUP BY 1, 2
      UNION ALL
      SELECT o.o_orderpriority, c.m, -COUNT(*)::BIGINT
      FROM closes c JOIN orders o ON c.okey = o.o_orderkey
      GROUP BY 1, 2
    ),
    net AS (SELECT prio, m, SUM(d) AS net FROM deltas GROUP BY prio, m)
    SELECT prio, m AS month, CAST(net AS BIGINT) AS net_change,
           CAST(SUM(net) OVER (PARTITION BY prio ORDER BY m) AS BIGINT) AS backlog
    FROM net ORDER BY prio, month
    """,
    tags=("window", "analytics", "timeseries"),
)
def orders_backlog_timeseries(spark, sf_dir):
    """Open-order backlog over time by priority — the event-differencing
    rollup: each order contributes +1 at its placement month and -1 at its
    close month (latest lineitem shipment), the monthly net folds both, and
    a running sum turns net flow into standing backlog. The inventory/
    WIP-over-time shape that a point-in-time join cannot express without
    scanning per-month.

    Scale shape: both event legs collapse to |priority| x |month| cells
    with map-side combine before the union; the running sum runs over that
    tiny rollup, partitioned by priority (never a raw-fact window, never a
    global one)."""
    o, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    closes = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.date_trunc("month", F.max("l_shipdate")).alias("m")
    )
    opens = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("month", "o_orderdate").alias("m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("d"))
    closed = (
        closes.join(o, closes["okey"] == o["o_orderkey"])
        .groupBy(F.col("o_orderpriority").alias("prio"), "m")
        .agg((-F.count(F.lit(1))).cast("long").alias("d"))
    )
    net = (
        opens.unionByName(closed)
        .groupBy("prio", "m")
        .agg(F.sum("d").alias("net"))
    )
    w = Window.partitionBy("prio").orderBy("m")
    return net.select(
        "prio",
        F.col("m").alias("month"),
        F.col("net").cast("long").alias("net_change"),
        F.sum("net").over(w).cast("long").alias("backlog"),
    ).orderBy("prio", "month")


@query(
    "join_bloom_prefilter",
    """
    WITH rk AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 480000
    ),
    rpos AS (
      SELECT DISTINCT ((h % 268435456) + i * ((h // 268435456) * 2 + 1)) % 65536 AS p
      FROM (SELECT ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 14))::BIGINT AS h
            FROM rk),
           (SELECT unnest(range(5)) AS i)
    ),
    lkeys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    lkpos AS (
      SELECT k, ((h % 268435456) + i * ((h // 268435456) * 2 + 1)) % 65536 AS p
      FROM (SELECT k, ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 14))::BIGINT AS h
            FROM lkeys),
           (SELECT unnest(range(5)) AS i)
    ),
    pass AS (
      SELECT k FROM lkpos JOIN rpos USING (p) GROUP BY k HAVING COUNT(*) = 5
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           ROUND(SUM(l_quantity) + 1e-9, 2) AS sum_qty
    FROM lineitem JOIN pass ON l_orderkey = pass.k
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("join", "scale", "sketch"),
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom pre-filter as a first-class query: lineitem rows surviving a
    bloom built from high-value orders' keys (operators/bloom.py — the
    zero-shuffle semi-join), rolled up per return flag. The bloom is
    DETERMINISTIC (md5 double-hash positions), so the oracle replays the
    exact same bit membership — false positives and all — as a
    position-set join: a left key passes iff all 5 of its positions are
    set by some right key. Candidate counts therefore hash-match exactly
    even though the filter is approximate by design (no false negatives;
    extras at the filter's fpp, eliminated by the exact join a real
    pipeline runs next).

    Scale shape: the build folds 5 positions per right key into m/64=1024
    longs with bit_or map-side combine (driver traffic is the 8 KB
    artifact); the probe is a narrow map over the lineitem scan with NO
    Exchange (plan test-pinned in test_scale_ops) — contrast the shuffle
    a semi-join would pay on the full fact table."""
    from dumpr_spark.operators.bloom import bloom_semi_join, build_bloom

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    hot = o.where(F.col("o_totalprice") > 480000).select("o_orderkey")
    bloom = build_bloom(hot, "o_orderkey", m_bits=1 << 16, k=5)
    survivors = bloom_semi_join(li, bloom, "l_orderkey")
    return (
        survivors.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
            eps_round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_bootstrap_ci",
    """
    WITH base AS (
      SELECT o_orderpriority AS pri, o_totalprice AS x,
             ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 14))::BIGINT AS h
      FROM orders
    ),
    coef AS (
      SELECT unnest(range(40)) AS b,
             unnest([1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23, 25, 27, 29, 31, 33, 35, 37, 39, 41, 43, 45, 47, 49, 51, 53, 55, 57, 59, 61, 63, 65, 67, 69, 71, 73, 75, 77, 79]) AS a,
             unnest([1024421277861575701, 895921051116304426, 767420824371033151, 638920597625761876, 510420370880490601, 381920144135219326, 253419917389948051, 124919690644676776, 1149340968506252477, 1020840741760981202, 892340515015709927, 763840288270438652, 635340061525167377, 506839834779896102, 378339608034624827, 249839381289353552, 121339154544082277, 1145760432405657978, 1017260205660386703, 888759978915115428, 760259752169844153, 631759525424572878, 503259298679301603, 374759071934030328, 246258845188759053, 117758618443487778, 1142179896305063479, 1013679669559792204, 885179442814520929, 756679216069249654, 628178989323978379, 499678762578707104, 371178535833435829, 242678309088164554, 114178082342893279, 1138599360204468980, 1010099133459197705, 881598906713926430, 753098679968655155, 624598453223383880]) AS c
    ),
    reps AS (
      SELECT pri, x, b,
             ((a * h + c) % 2305843009213693951)::DOUBLE / 2305843009213693951.0 AS u
      FROM base CROSS JOIN coef
    ),
    wgt AS (
      SELECT pri, b, x,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238463 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  WHEN u < 0.999916758850712 THEN 6
                  ELSE 7 END AS w
      FROM reps
    ),
    means AS (
      SELECT pri, b, ROUND(SUM(w * x) / SUM(w) + 1e-9, 6) AS mean_b
      FROM wgt GROUP BY pri, b HAVING SUM(w) > 0
    ),
    ci AS (SELECT pri, list_sort(list(mean_b)) AS arr FROM means GROUP BY pri),
    stats AS (
      SELECT o_orderpriority AS pri, COUNT(*) AS n_orders,
             ROUND(AVG(o_totalprice) + 1e-9, 4) AS mean_price
      FROM orders GROUP BY pri
    )
    SELECT s.pri AS o_orderpriority, CAST(s.n_orders AS BIGINT) AS n_orders,
           s.mean_price,
           ROUND(arr[2] + 1e-9, 4) AS ci_lo,
           ROUND(arr[39] + 1e-9, 4) AS ci_hi,
           ROUND(arr[39] - arr[2] + 1e-9, 4) AS ci_width
    FROM stats s JOIN ci USING (pri) ORDER BY pri
    """,
    tags=("agg", "stats", "resampling"),
)
def agg_bootstrap_ci(spark, sf_dir):
    """Bootstrap 95% confidence interval of the mean order value per
    priority — DETERMINISTIC Poisson bootstrap: replicate b reweights row
    r by Poisson(1)-inverse-CDF(u(r, b)), where u(r, b) is a
    Carter-Wegman affine map (the MinHash family trick) of the row's ONE
    md5 base hash: u = ((a_b*h + c_b) mod P) / P with the 40 (a_b, c_b)
    pairs precomputed as plan literals. No RNG state — every engine (and
    every re-run) draws the IDENTICAL 40 resamples; the md5-per-(row x
    replicate) form measured 5x slower (6M digests where 150k suffice;
    the affine fan-out is integer ops on the shared hash). The CI is the
    2nd/39th order statistic of the 40 replicate means (2.5%/97.5%
    without interpolation — order stats are engine-exact where quantile
    interpolation conventions are not).

    Scale shape: one digest per ROW rides the scan; the replicate
    fan-out posexplodes a constant-folded 40-long literal (narrow); the
    replicate means partial-combine to |priority| x 40 cells before the
    shuffle — the Poisson trick is WHY bootstrap distributes: true
    with-replacement resampling needs global row indexing, Poisson
    weights need only the row itself. The order-stat fold then runs over
    40 doubles per group. At 100 TB: same plan, B stays 40, the fan-out
    rides the scan."""
    from dumpr_spark.functions.dedup import minhash_base_hash

    o = t(spark, sf_dir, "orders")
    a_lit = F.split(F.lit("1,3,5,7,9,11,13,15,17,19,21,23,25,27,29,31,33,35,37,39,41,43,45,47,49,51,53,55,57,59,61,63,65,67,69,71,73,75,77,79"), ",").cast("array<long>")
    c_lit = F.split(F.lit("1024421277861575701,895921051116304426,767420824371033151,638920597625761876,510420370880490601,381920144135219326,253419917389948051,124919690644676776,1149340968506252477,1020840741760981202,892340515015709927,763840288270438652,635340061525167377,506839834779896102,378339608034624827,249839381289353552,121339154544082277,1145760432405657978,1017260205660386703,888759978915115428,760259752169844153,631759525424572878,503259298679301603,374759071934030328,246258845188759053,117758618443487778,1142179896305063479,1013679669559792204,885179442814520929,756679216069249654,628178989323978379,499678762578707104,371178535833435829,242678309088164554,114178082342893279,1138599360204468980,1010099133459197705,881598906713926430,753098679968655155,624598453223383880"), ",").cast("array<long>")
    base = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("x"),
        minhash_base_hash(F.col("o_orderkey").cast("string")).alias("h"),
    )
    reps = base.select(
        "pri", "x", "h", F.posexplode(a_lit).alias("b", "a")
    )
    u = (
        (F.col("a") * F.col("h") + F.element_at(c_lit, F.col("b") + 1))
        % F.lit(2305843009213693951)
    ).cast("double") / F.lit(2305843009213693951.0)
    thresholds = [
        0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
        0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
        0.999916758850712,
    ]
    w = F.lit(7)
    for j in reversed(range(7)):
        w = F.when(u < F.lit(thresholds[j]), F.lit(j)).otherwise(w)
    wgt = reps.select("pri", "b", "x", w.alias("w"))
    means = (
        wgt.groupBy("pri", "b")
        .agg(
            F.sum(F.col("w") * F.col("x")).alias("_swx"),
            F.sum("w").alias("_sw"),
        )
        .where(F.col("_sw") > 0)
        .select(
            "pri",
            eps_round(F.col("_swx") / F.col("_sw"), 6).alias("mean_b"),
        )
    )
    ci = means.groupBy("pri").agg(
        F.array_sort(F.collect_list("mean_b")).alias("arr")
    )
    stats = o.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        eps_round(F.avg("o_totalprice"), 4).alias("mean_price"),
    )
    return (
        stats.join(ci, "pri")
        .select(
            F.col("pri").alias("o_orderpriority"),
            "n_orders", "mean_price",
            eps_round(F.element_at("arr", 2), 4).alias("ci_lo"),
            eps_round(F.element_at("arr", 39), 4).alias("ci_hi"),
            eps_round(F.element_at("arr", 39) - F.element_at("arr", 2), 4)
                .alias("ci_width"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_ks_test",
    """
    WITH pts AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS nb
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY v
    ),
    cum AS (
      SELECT v,
             SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
      FROM pts
    ),
    tot AS (SELECT SUM(na)::DOUBLE AS n1, SUM(nb)::DOUBLE AS n2 FROM pts),
    d AS (
      SELECT MAX(ABS(c.ca / t.n1 - c.cb / t.n2)) AS raw_d
      FROM cum c, tot t
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
           ROUND(d.raw_d + 1e-9, 6) AS ks_d,
           ROUND(1.358 * sqrt((t.n1 + t.n2) / (t.n1 * t.n2)) + 1e-9, 6)
             AS crit_05,
           ROUND(d.raw_d + 1e-9, 6)
             > ROUND(1.358 * sqrt((t.n1 + t.n2) / (t.n1 * t.n2)) + 1e-9, 6)
             AS reject_05
    FROM d, tot t
    """,
    tags=("agg", "stats", "distribution"),
)
def agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov test — distribution-shift detection
    as a first-class aggregate: D = max |F1(x) - F2(x)| between the
    empirical CDFs of urgent vs low-priority order totals, with the
    alpha=0.05 critical value c(a) * sqrt((n1+n2)/(n1*n2)) and the
    reject verdict. The drift-monitoring complement to
    text_js_divergence (which compares discrete distributions); KS works
    on CONTINUOUS values with no binning choice to defend.

    Scale shape: the raw scan collapses to one row per DISTINCT value
    (map-side combining), and the CDF prefix sums run through
    operators/ntile.global_prefix_sums — the three-pass quantile-bucket
    prefix SCAN, not a single-task `SUM() OVER (ORDER BY v)` (the plan
    lint rejects that shape at analysis time). Counts are exact
    integers, so every engine computes identical CDF steps; the max
    gap and critical value are eps-rounded before the hard reject
    decision on both sides (the r7 float-determinism rule)."""
    from dumpr_spark.operators.ntile import global_prefix_sums

    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pts = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
            .alias("na"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0))
            .alias("nb"),
    ).localCheckpoint(eager=False)  # 3 consumers: quantiles, bucket
    # totals, the prefix-scan window — unpinned, the orders scan+groupBy
    # would re-execute per consumer. (The former 4th consumer — a
    # separate n1/n2 rollup — is gone: the operator's with_totals ships
    # the exact grand totals as folded literals off the bucket-totals
    # collect it already pays, r9 fixed-cost shave.)
    cum = global_prefix_sums(
        pts, "v", ["na", "nb"], check_distinct=False, with_totals=True
    )
    n1d = F.col("na_tot").cast("double")
    n2d = F.col("nb_tot").cast("double")
    gaps = cum.select(
        F.abs(F.col("na_cum") / n1d - F.col("nb_cum") / n2d).alias("gap"),
        "na_tot", "nb_tot",
    )
    d = gaps.groupBy("na_tot", "nb_tot").agg(F.max("gap").alias("raw_d"))
    crit = eps_round(F.lit(1.358) * F.sqrt((n1d + n2d) / (n1d * n2d)), 6)
    return d.select(
        F.col("na_tot").cast("bigint").alias("n1"),
        F.col("nb_tot").cast("bigint").alias("n2"),
        eps_round(F.col("raw_d"), 6).alias("ks_d"),
        crit.alias("crit_05"),
        (eps_round(F.col("raw_d"), 6) > crit).alias("reject_05"),
    )


@query(
    "agg_chi2_independence",
    """
    WITH banded AS (
      SELECT lang,
             CASE WHEN n_chars < 180 THEN 'short'
                  WHEN n_chars < 300 THEN 'mid'
                  WHEN n_chars < 420 THEN 'long'
                  ELSE 'xlong' END AS band
      FROM documents
    ),
    cells AS (
      SELECT lang, band, COUNT(*)::DOUBLE AS o FROM banded GROUP BY lang, band
    ),
    rows_t AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY lang),
    cols_t AS (SELECT band, SUM(o) AS ct FROM cells GROUP BY band),
    n_t AS (SELECT SUM(o) AS n FROM cells),
    terms AS (
      SELECT c.lang, c.band, c.o, r.rt * col.ct / t.n AS e
      FROM cells c
      JOIN rows_t r ON c.lang = r.lang
      JOIN cols_t col ON c.band = col.band
      CROSS JOIN n_t t
    ),
    agg AS (
      SELECT SUM((o - e) * (o - e) / e) AS chi2,
             (SELECT COUNT(*) FROM rows_t) AS nr,
             (SELECT COUNT(*) FROM cols_t) AS nc,
             (SELECT n FROM n_t) AS n
      FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(nr AS INT) AS n_langs, CAST(nc AS INT) AS n_bands,
           CAST((nr - 1) * (nc - 1) AS INT) AS dof,
           ROUND(chi2 + 1e-9, 4) AS chi2,
           ROUND(sqrt(chi2 / (n * LEAST(nr - 1, nc - 1))) + 1e-9, 4)
             AS cramers_v
    FROM agg
    """,
    tags=("agg", "stats", "independence"),
)
def agg_chi2_independence(spark, sf_dir):
    """Chi-squared test of independence for two categoricals — is
    document LENGTH BAND independent of LANGUAGE? The contingency-table
    complement to agg_corr_covar (numeric-numeric) and agg_welch_ttest
    (numeric-vs-two-groups): corpus curation uses it to catch a sampling
    bug where one language's documents run systematically long/short.
    Reports chi2 from the classic sum of (O-E)^2/E and Cramér's V
    (the [0,1] effect size, chi2 normalized by n*min(r-1, c-1)) — V is
    comparable across corpus sizes where raw chi2 is not. Length bands
    are FIXED literals (not quantiles) so the cell grid is stable across
    engines and scales.

    Scale shape: the scan collapses to |langs| x |bands| cells with
    map-side combine; marginals and expected counts are joins over that
    tiny cell table; every observed/expected value derives from exact
    integer counts, so each cell term is bit-identical cross-engine and
    only the final ~20-term sum is eps-rounded at output (no hard
    decision reads it — the r7 rule's scalar-output case)."""
    d = t(spark, sf_dir, "documents")
    band = (
        F.when(F.col("n_chars") < 180, "short")
        .when(F.col("n_chars") < 300, "mid")
        .when(F.col("n_chars") < 420, "long")
        .otherwise("xlong")
    )
    cells = (
        d.select("lang", band.alias("band"))
        .groupBy("lang", "band")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
        .localCheckpoint(eager=False)  # feeds marginals + terms
    )
    rows_t = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_t = cells.groupBy("band").agg(F.sum("o").alias("ct"))
    n_t = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("lang").alias("nr"),
        F.count_distinct("band").alias("nc"),
    )
    terms = (
        cells.join(rows_t, "lang")
        .join(cols_t, "band")
        .crossJoin(F.broadcast(n_t))
        .select(
            ((F.col("o") - F.col("rt") * F.col("ct") / F.col("n")) ** 2
             / (F.col("rt") * F.col("ct") / F.col("n"))).alias("term"),
            "n", "nr", "nc",
        )
    )
    chi2 = F.sum("term")
    return terms.groupBy("n", "nr", "nc").agg(
        chi2.alias("_chi2")
    ).select(
        F.col("n").cast("bigint").alias("n"),
        F.col("nr").cast("int").alias("n_langs"),
        F.col("nc").cast("int").alias("n_bands"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("int").alias("dof"),
        eps_round(F.col("_chi2"), 4).alias("chi2"),
        eps_round(
            F.sqrt(F.col("_chi2")
                   / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))),
            4,
        ).alias("cramers_v"),
    )


@query(
    "agg_gini_lorenz",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS v
      FROM orders GROUP BY o_custkey
    ),
    pts AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(v * COUNT(*) AS BIGINT) AS amt
      FROM spend GROUP BY v
    ),
    cum AS (
      SELECT v, cnt, amt,
             SUM(amt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS amt_cum
      FROM pts
    ),
    tot AS (SELECT SUM(cnt)::DOUBLE AS n, SUM(amt)::DOUBLE AS t FROM pts)
    SELECT CAST(tot.n AS BIGINT) AS n_customers,
           ROUND(tot.t / tot.n / 100.0 + 1e-9, 2) AS mean_spend,
           ROUND(1 - SUM((cnt / tot.n)
                         * ((2 * amt_cum - amt) / tot.t)) + 1e-9, 6) AS gini
    FROM cum, tot GROUP BY tot.n, tot.t
    """,
    tags=("agg", "stats", "distribution"),
)
def agg_gini_lorenz(spark, sf_dir):
    """Gini COEFFICIENT of customer spend — Lorenz-curve inequality of a
    continuous quantity, the companion to agg_hhi_concentration (share-
    of-squares) and distinct from agg_entropy_gini's categorical
    IMPURITY. Curation reads this as concentration: gini 0 = every
    customer (domain, source) contributes equally, ->1 = a few dominate;
    the trapezoid form over grouped distinct values handles ties exactly
    (G = 1 - sum f_i * (F_i + F_{i-1}) with F the cumulative amount
    share — written as (2*amt_cum - amt)/T).

    Scale shape: per-customer rollup, collapse to DISTINCT spend values
    (cnt, amt cells), and the cumulative amounts come from
    operators/ntile.global_prefix_sums — the same three-pass distributed
    CDF scan agg_ks_test rides, generalizing here from counts to
    weighted sums. Determinism: spend is summed in CENTS (round(x*100)
    is unambiguous — the 2dp lattice puts x*100 within ~1e-9 of an
    integer, never near .5 — and Spark's truncating long cast never
    sees a fraction), so every cumulative value is an exact integer on
    both engines; only the final ~|distinct| -term float sum is
    eps-rounded at output (no hard decision reads it)."""
    from dumpr_spark.operators.ntile import global_prefix_sums

    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("v")
        )
    )
    pts = (
        spend.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("v", "cnt", (F.col("v") * F.col("cnt")).alias("amt"))
        .localCheckpoint(eager=False)  # consumers: quantile pass, bucket
        # totals, prefix window (agg_ks_test pattern; the n/t rollup now
        # rides the operator's with_totals literals, r9 fixed-cost shave)
    )
    cum = global_prefix_sums(
        pts, "v", ["amt", "cnt"], check_distinct=False, with_totals=True
    )
    n = F.col("cnt_tot").cast("double")
    tt = F.col("amt_tot").cast("double")
    term = (F.col("cnt") / n) * ((2 * F.col("amt_cum") - F.col("amt")) / tt)
    return (
        cum.groupBy("cnt_tot", "amt_tot")
        .agg(F.sum(term).alias("_s"))
        .select(
            F.col("cnt_tot").cast("bigint").alias("n_customers"),
            eps_round(
                F.col("amt_tot").cast("double")
                / F.col("cnt_tot").cast("double") / 100.0,
                2,
            ).alias("mean_spend"),
            eps_round(1 - F.col("_s"), 6).alias("gini"),
        )
    )


@query(
    "agg_mann_whitney",
    """
    WITH pts AS (
      SELECT o_totalprice AS v,
             SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS nb
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      GROUP BY v
    ),
    cum AS (
      SELECT v, na, nb, na + nb AS cnt,
             SUM(na + nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cnt_cum
      FROM pts
    ),
    tot AS (
      SELECT SUM(na)::DOUBLE AS n1, SUM(nb)::DOUBLE AS n2,
             SUM(na + nb)::DOUBLE AS n,
             SUM((na + nb) * (na + nb) * (na + nb) - (na + nb))::DOUBLE AS ties
      FROM pts
    ),
    r AS (
      SELECT SUM(na * (cnt_cum - (cnt - 1) / 2.0)) AS ra FROM cum
    ),
    stat AS (
      SELECT t.n1, t.n2, t.n,
             r.ra - t.n1 * (t.n1 + 1) / 2.0 AS u,
             t.n1 * t.n2 / 2.0 AS mu,
             sqrt((t.n1 * t.n2 / 12.0)
                  * ((t.n + 1) - t.ties / (t.n * (t.n - 1)))) AS sd
      FROM r, tot t
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ROUND(u + 1e-9, 4) AS u_stat,
           ROUND((u - mu) / sd + 1e-9, 6) AS z,
           ABS(ROUND((u - mu) / sd + 1e-9, 6)) > 1.96 AS reject_95
    FROM stat
    """,
    tags=("agg", "stats", "distribution"),
)
def agg_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test — the NONPARAMETRIC complement to
    agg_welch_ttest on the same question agg_ks_test asks (do urgent and
    low-priority order totals come from one distribution?): U from
    midranks with the tie-corrected normal approximation z and the 95%
    reject verdict. Curation reads it as a robust distribution-shift
    alarm that no outlier can saturate (ranks are bounded).

    Scale shape: the scan collapses to one row per DISTINCT value, and
    the global midranks come from the SAME operators/ntile
    .global_prefix_sums pass as agg_ks_test — midrank of a value with
    count c at inclusive cumulative count C is C - (c-1)/2, so the rank
    sum needs only the distinct-value CDF, never a per-row global rank.
    with_totals ships n1/n2/n/tie-term as folded literals off the bucket
    collect (no extra rollup job, no crossJoin). This caller ENABLES the
    folded check_distinct guard — it is free as of r9 and the upstream
    groupBy contract is worth asserting once per run here.

    Determinism: counts and the tie term are exact integers; midranks
    are exact half-integers; the rank sum is a float sum of exactly-
    representable halves below 2^52 (order-independent); z is computed
    from identical doubles on both engines and eps-rounded 6dp BEFORE
    the hard |z| > 1.96 verdict (the r7 float-determinism rule)."""
    from dumpr_spark.operators.ntile import global_prefix_sums

    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    pts = (
        o.groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                  .otherwise(0)).alias("na"),
            F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1)
                  .otherwise(0)).alias("nb"),
        )
        .select(
            "v", "na", "nb",
            (F.col("na") + F.col("nb")).alias("cnt"),
            ((F.col("na") + F.col("nb")) * (F.col("na") + F.col("nb"))
             * (F.col("na") + F.col("nb"))
             - (F.col("na") + F.col("nb"))).alias("tie3"),
        )
        .localCheckpoint(eager=False)  # consumers: quantile pass + bucket
        # totals + prefix window (the agg_ks_test pattern)
    )
    # only cnt needs a RUNNING sum (the midrank CDF); na/nb/tie3 need just
    # their grand totals — extra_total_cols rides the same bucket collect
    # without paying three unused window aggregates (r9 review finding)
    cum = global_prefix_sums(
        pts, "v", ["cnt"],
        check_distinct=True, with_totals=True,
        extra_total_cols=("na", "nb", "tie3"),
    )
    midrank = F.col("cnt_cum") - (F.col("cnt") - 1) / 2.0
    n1 = F.col("na_tot").cast("double")
    n2 = F.col("nb_tot").cast("double")
    n = F.col("cnt_tot").cast("double")
    ties = F.col("tie3_tot").cast("double")
    ra = (
        cum.groupBy("na_tot", "nb_tot", "cnt_tot", "tie3_tot")
        .agg(F.sum(F.col("na") * midrank).alias("ra"))
    )
    u = F.col("ra") - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    sd = F.sqrt((n1 * n2 / 12.0) * ((n + 1) - ties / (n * (n - 1))))
    z = eps_round((u - mu) / sd, 6)
    return ra.select(
        F.col("na_tot").cast("bigint").alias("n1"),
        F.col("nb_tot").cast("bigint").alias("n2"),
        eps_round(u, 4).alias("u_stat"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("reject_95"),
    )


@query(
    "agg_spearman_corr",
    """
    WITH li AS (
      SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ),
    rx AS (
      SELECT v, 2 * cnt_cum - (cnt - 1) AS mr2 FROM (
        SELECT v, cnt,
               SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cnt_cum
        FROM (SELECT x AS v, COUNT(*) AS cnt FROM li GROUP BY x)
      )
    ),
    ry AS (
      SELECT v, 2 * cnt_cum - (cnt - 1) AS mr2 FROM (
        SELECT v, cnt,
               SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cnt_cum
        FROM (SELECT y AS v, COUNT(*) AS cnt FROM li GROUP BY y)
      )
    ),
    joined AS (
      SELECT CAST(r1.mr2 AS HUGEINT) AS rx2, CAST(r2.mr2 AS HUGEINT) AS ry2
      FROM li JOIN rx r1 ON li.x = r1.v JOIN ry r2 ON li.y = r2.v
    ),
    s AS (
      SELECT COUNT(*)::DOUBLE AS n,
             CAST(SUM(rx2) AS DOUBLE) AS sx, CAST(SUM(ry2) AS DOUBLE) AS sy,
             CAST(SUM(rx2 * rx2) AS DOUBLE) AS sxx,
             CAST(SUM(ry2 * ry2) AS DOUBLE) AS syy,
             CAST(SUM(rx2 * ry2) AS DOUBLE) AS sxy
      FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 6)
             AS spearman_rho
    FROM s
    """,
    tags=("agg", "stats", "correlation"),
)
def agg_spearman_corr(spark, sf_dir):
    """Spearman rank correlation of quantity vs extended price — the
    monotonic-association complement to agg_corr_covar's Pearson (which
    only sees LINEAR association): Pearson over tie-averaged midranks.
    Curation uses it to sanity-check derived columns (a near-1 rho says
    one column is a monotone function of the other — drop one).

    Scale shape: each column's midranks come from its own distinct-value
    CDF through operators/ntile.global_prefix_sums (never a per-row
    global rank window); the fact table then equi-joins the two small
    rank maps back by value — quantity's map is tiny (50 distinct) and
    price's is bounded by distinct prices, both shuffle-joins on value
    with the fact rows, the same two-phase shape the TPC-H queries use.

    Determinism: DOUBLED midranks (2C - (c-1)) are exact INTEGERS typed
    decimal(38,0) at the source, so ALL five moment sums — the plain sums
    included, not just the products — accumulate in DECIMAL(38,0) (Spark)
    / HUGEINT (DuckDB): exact 128-bit integer arithmetic on BOTH engines
    (an int64 sum of (2n)^2 products would silently wrap just above sf0.1
    on the Spark side while DuckDB auto-promotes — the r9 review's
    divergence trap; the r9 ADVICE follow-up widened the plain sums from
    their implicit decimal(29,0) so every accumulator shares the 38-digit
    headroom: sum of n products each < 4n^2 stays inside 38 digits to
    n ~ 10^12 rows, far past any real corpus). Rho is then computed from
    identical doubles, eps-rounded 6dp at output (no hard decision reads
    it)."""
    from dumpr_spark.operators.ntile import global_prefix_sums

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def rank_map(col: str, out: str):
        pts = li.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("cnt")
        ).localCheckpoint(eager=False)  # 3 consumers inside the prefix
        # scan — unpinned, the lineitem scan+groupBy re-executes per pass
        # (the agg_ks_test pattern; r9 review finding)
        cum = global_prefix_sums(pts, "v", ["cnt"], check_distinct=False)
        return cum.select(
            F.col("v").alias(col),
            (2 * F.col("cnt_cum") - (F.col("cnt") - 1))
                .cast("decimal(38,0)").alias(out),
        )

    joined = (
        li.join(rank_map("x", "rx2"), "x")
        .join(rank_map("y", "ry2"), "y")
        .select("rx2", "ry2")
    )
    s = joined.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx2").cast("double").alias("sx"),
        F.sum("ry2").cast("double").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("double").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("double").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        n.cast("bigint").alias("n"),
        eps_round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "agg_kendall_tau",
    """
    WITH li AS (
      SELECT l_quantity AS x, CAST(ROUND(l_discount * 100, 0) AS INT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    ),
    cells AS (
      SELECT x, y, CAST(COUNT(*) AS HUGEINT) AS c FROM li GROUP BY x, y
    ),
    grid AS (
      SELECT gx.x, gy.y, COALESCE(c.c, CAST(0 AS HUGEINT)) AS c
      FROM (SELECT DISTINCT x FROM li) gx
      CROSS JOIN (SELECT DISTINCT y FROM li) gy
      LEFT JOIN cells c ON c.x = gx.x AND c.y = gy.y
    ),
    cum AS (
      SELECT x, y, c,
             COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS lt_y,
             COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS gt_y
      FROM grid
    ),
    pq AS (
      SELECT c,
             COALESCE(SUM(lt_y) OVER (PARTITION BY y ORDER BY x ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS p,
             COALESCE(SUM(gt_y) OVER (PARTITION BY y ORDER BY x ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS q
      FROM cum
    ),
    tots AS (
      SELECT SUM(c) AS n, SUM(c * p) AS conc, SUM(c * q) AS disc FROM pq
    ),
    tx AS (
      SELECT SUM(m * (m - 1) // 2) AS t FROM (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM li GROUP BY x)
    ),
    ty AS (
      SELECT SUM(m * (m - 1) // 2) AS t FROM (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM li GROUP BY y)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(tx.t AS BIGINT) AS ties_x,
           CAST(ty.t AS BIGINT) AS ties_y,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) // 2 - tx.t AS DOUBLE)
                        * CAST(n * (n - 1) // 2 - ty.t AS DOUBLE))
                 + 1e-9, 6) AS tau_b
    FROM tots, tx, ty
    """,
    tags=("agg", "stats", "correlation"),
)
def agg_kendall_tau(spark, sf_dir):
    """Kendall tau-b of quantity vs discount — completes the rank-
    statistics family (Pearson agg_corr_covar / Spearman
    agg_spearman_corr / Mann-Whitney agg_mann_whitney): the
    concordant-vs-discordant pair fraction with the tie correction,
    the robust effect-size a curation pipeline reads when both columns
    are coarse ordinals (quality bands, star ratings, bucketed scores)
    where Spearman's midranks compress badly.

    Implementation is functions/stats.kendall_tau_b — the contingency-
    grid form: ONE map-side-combined groupBy collapses the scan to
    |X| x |Y| cells (50 quantities x 11 discount points = 550 here),
    then two cascaded PARTITIONED cumulative windows over the dense
    grid give every cell its strictly-less/strictly-greater quadrant
    totals, so the pair counts come out without ever forming a pair —
    O(n) scan + O(grid) windows, vs the textbook O(n^2) pairwise or
    O(n log n) merge-sort form that would need a single-task global
    order. All counts exact integers in decimal(38,0)/HUGEINT (the
    spearman headroom discipline); tau is the one eps-rounded double.

    Oracle: DuckDB replays the identical grid + quadrant prefix sums."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("int").alias("y"),
    )
    from dumpr_spark.functions.stats import kendall_tau_b

    return kendall_tau_b(li, "x", "y")


@query(
    "agg_kendall_mergeable",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             greatest(least(CAST(floor(value / 5) AS BIGINT), 99), 0) AS x,
             CAST(hour(ts) AS BIGINT) AS y,
             CAST(COUNT(*) AS HUGEINT) AS c
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY day, x, y
    ),
    cells AS (
      SELECT x, y, CAST(SUM(c) AS HUGEINT) AS c FROM daily GROUP BY x, y
    ),
    grid AS (
      SELECT gx.x, gy.y, COALESCE(c.c, CAST(0 AS HUGEINT)) AS c
      FROM (SELECT DISTINCT x FROM cells) gx
      CROSS JOIN (SELECT DISTINCT y FROM cells) gy
      LEFT JOIN cells c ON c.x = gx.x AND c.y = gy.y
    ),
    cum AS (
      SELECT x, y, c,
             COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS lt_y,
             COALESCE(SUM(c) OVER (PARTITION BY x ORDER BY y DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS gt_y
      FROM grid
    ),
    pq AS (
      SELECT c,
             COALESCE(SUM(lt_y) OVER (PARTITION BY y ORDER BY x ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS p,
             COALESCE(SUM(gt_y) OVER (PARTITION BY y ORDER BY x ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               CAST(0 AS HUGEINT)) AS q
      FROM cum
    ),
    tots AS (
      SELECT SUM(c) AS n, SUM(c * p) AS conc, SUM(c * q) AS disc FROM pq
    ),
    tx AS (
      SELECT SUM(m * (m - 1) // 2) AS t FROM (
        SELECT CAST(SUM(c) AS HUGEINT) AS m FROM cells GROUP BY x)
    ),
    ty AS (
      SELECT SUM(m * (m - 1) // 2) AS t FROM (
        SELECT CAST(SUM(c) AS HUGEINT) AS m FROM cells GROUP BY y)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           CAST(tx.t AS BIGINT) AS ties_x,
           CAST(ty.t AS BIGINT) AS ties_y,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n * (n - 1) // 2 - tx.t AS DOUBLE)
                        * CAST(n * (n - 1) // 2 - ty.t AS DOUBLE))
                 + 1e-9, 6) AS tau_b
    FROM tots, tx, ty
    """,
    tags=("agg", "sketch", "stats", "correlation"),
)
def agg_kendall_mergeable(spark, sf_dir):
    """Kendall tau-b over MERGED per-day contingency grids — the rank
    statistic joins the mergeable-sketch family (agg_hll_mergeable,
    agg_quantile_mergeable, agg_countmin_sketch): cell counts are
    associative + commutative under summation, so per-day jobs persist a
    |X| x |Y| grid each (here 100 value-bins x 24 hours, the
    time-of-day-vs-magnitude association) and ANY time range answers tau
    by SUMMING the covered days' cells — incremental maintenance at
    100 TB scale: each new day contributes one grid-sized sketch and no
    historical rescan, and because the merge is EXACT (unlike KLL/GK),
    the merged tau is hash-checked against the oracle, not bounded.

    Spark computes through the merge path (daily grids -> summed cells
    -> functions/stats.kendall_tau_from_cells); the oracle replays the
    same two stages in SQL — so a broken merge (the r10 compact_files
    lesson: aggregation identity bugs hide in the second stage) turns
    the row red rather than shifting tau quietly."""
    from dumpr_spark.functions.stats import kendall_tau_from_cells

    e = t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.greatest(F.least(F.floor(F.col("value") / 5).cast("long"),
                           F.lit(99).cast("long")),
                   F.lit(0).cast("long")).alias("_x"),
        F.hour(F.col("ts")).cast("long").alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    merged = daily.groupBy("_x", "_y").agg(F.sum("_c").alias("_c"))
    return kendall_tau_from_cells(merged)


def _zorder_sql_terms() -> str:
    """The 32-term bit-interleave as SQL (oracle twin of the Spark
    expression in layout_zorder)."""
    return " + ".join(
        f"(((pk >> {i}) & 1) << {2 * i + 1}) + (((sk >> {i}) & 1) << {2 * i})"
        for i in range(16)
    )


@query(
    "layout_zorder",
    f"""
    WITH base AS (
      -- BIGINT casts (r9 review): the interleave shifts a masked bit up
      -- to position 31; in INT32 typing `(bit << 31)` overflows as soon
      -- as a key reaches 32768 (>= ~sf0.2), while the Spark side is long
      SELECT CAST(l_partkey & 65535 AS BIGINT) AS pk,
             CAST(l_suppkey & 65535 AS BIGINT) AS sk,
             l_orderkey * 10 + l_linenumber AS rid
      FROM lineitem
    ),
    zv AS (
      SELECT pk, sk, rid, {_zorder_sql_terms()} AS z FROM base
    ),
    tiles AS (
      SELECT pk, sk,
             CAST(NTILE(64) OVER (ORDER BY z, rid) AS INT) AS file_id
      FROM zv
    )
    SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(pk) AS BIGINT) AS pk_min, CAST(MAX(pk) AS BIGINT) AS pk_max,
           CAST(MIN(sk) AS BIGINT) AS sk_min, CAST(MAX(sk) AS BIGINT) AS sk_max
    FROM tiles GROUP BY file_id ORDER BY file_id
    """,
    tags=("layout", "optimization", "scan"),
)
def layout_zorder(spark, sf_dir):
    """Z-order (Morton-curve) data layout — the multi-column file-
    skipping story Delta/Iceberg OPTIMIZE ZORDER implements: interleave
    the bits of two scan keys (part, supplier as 16-bit grid cells),
    bucket rows into 64 'files' by Z-value order, and report each file's
    per-key min/max — the zone-map row a format's footer stats would
    carry. Unlike a single-key sort (perfect pruning on one key, none on
    the other), the Z-curve keeps BOTH keys' per-file spans narrow, so
    point/range predicates on either column prune most files.

    Scale shape: the interleave is a 32-term constant bit expression
    inside whole-stage codegen (one narrow projection); the global
    Z-ordering uses operators/ntile.global_ntile — the three-pass
    distributed NTILE, never a single-task global sort (exactly how the
    real table-layout job would range-partition before writing files);
    the zone-map rollup map-side-combines to 64 rows. Everything is
    integer arithmetic — engine-exact by construction; the (z, rid)
    order is total, so tile assignment is deterministic."""
    from dumpr_spark.operators.ntile import global_ntile

    from dumpr_spark.operators.scale import fan_out

    li = fan_out(
        t(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").cast("long").bitwiseAND(F.lit(65535)).alias("pk"),
            F.col("l_suppkey").cast("long").bitwiseAND(F.lit(65535)).alias("sk"),
            (F.col("l_orderkey").cast("long") * 10 + F.col("l_linenumber"))
                .alias("rid"),
        ),
        "rid",  # r17: the checkpointed zed below otherwise materializes as
        # ONE cached partition on a compact scan — every global_ntile pass
        # (quantile, counts, ranked join) then ran single-task; hash on the
        # unique rid spreads the interleave + all three passes, no-op on a
        # wide scan
    )
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(F.col("pk"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftrightunsigned(F.col("sk"), i).bitwiseAND(F.lit(1)),
                2 * i,
            )
        )
    zed = li.select("pk", "sk", "rid", z.alias("z")).localCheckpoint(
        eager=False
    )  # 3 consumers inside global_ntile (quantile pass, bucket counts,
    # ranked join) — unpinned, the scan + the 32-term interleave would
    # re-execute per pass; unlike the CDF siblings this input is the FULL
    # fact table, not a distinct-value rollup, so the pin matters
    tiled = global_ntile(
        zed, k=64, val_col="z", id_col="rid", out_col="file_id",
        descending=False,
    )
    return (
        tiled.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pk").alias("pk_min"), F.max("pk").alias("pk_max"),
            F.min("sk").alias("sk_min"), F.max("sk").alias("sk_max"),
        )
        .orderBy("file_id")
    )


@query(
    "join_bucketed_colocated",
    """
    SELECT o.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY status ORDER BY status
    """,
    tags=("join", "layout", "bucketing"),
)
def join_bucketed_colocated(spark, sf_dir):
    """Co-bucketed zero-shuffle join — the table-LAYOUT join strategy the
    other C-family entries don't cover: both sides are written as
    bucketed tables hash-partitioned on the join key at WRITE time
    (operators/scale.ensure_bucketed_layout), so the SortMergeJoin reads
    co-located buckets with ZERO Exchange — at 100 TB this converts the
    fact-to-fact join's full network shuffle (the single largest cost in
    a star-join pipeline) into a per-bucket local merge, paid ONCE at
    layout time and amortized over every subsequent keyed join/agg.

    r10 (verdict item 4 + both advice items): the layout is now
    build-once — keyed to the source data's fingerprint and reused when
    present — so what this query measures after the first call is the
    amortized READ-side join the operator exists to sell, not the write
    (scripts/bench_bucketed_read.py measures the split: layout build vs
    bucketed read vs plain shuffled join). The join carries an explicit
    merge hint, so the EXECUTED plan is the same bucketed SortMergeJoin
    the builder asserts — no conf toggling that could let the actual run
    re-plan a broadcast join after the assert passed. Table names are
    per-dataset-version (never fixed names mutated in place) and cleanup
    is catalog-mediated, so concurrent builders cannot race a
    drop/rewrite window.

    r11 (r10 advice): generation GC is OUT of the query path — DROP
    TABLE deletes a managed table's files immediately, so a query-time
    `gc_layouts` could fail a concurrent session still mid-scan on the
    previous generation, contradicting the reader-undisturbed discipline
    the fingerprint-per-generation naming buys. Stale generations now
    rotate out on the maintenance cadence (`gc_layouts`, run out-of-band
    with compact_files — see its docstring), where a drained-readers
    precondition is actually enforceable.

    The builder RAISES (not asserts — must hold under python -O) on all
    three documented invariants: SMJ chosen, bucketed scans read, no
    hashpartitioning Exchange — the same invariant
    test_bucketed_join_has_no_exchange pins; the returned aggregate is
    value-checked against the plain-join oracle, proving layout changes
    results not at all. Revenue is summed in exact integer cents."""
    import os

    from dumpr_spark.operators.scale import (
        dataset_fingerprint, ensure_bucketed_layout, explain_str,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    import hashlib

    # two-level layout key: the NAME carries the source LINEAGE (path
    # hash — distinct datasets keep distinct live layouts side by side),
    # the fingerprint carries the content VERSION (size+mtime — a
    # rewritten source gets a fresh generation and gc_layouts rotates
    # the old one out of the lineage it belongs to, never out of
    # another dataset's)
    dsid = hashlib.md5(sf_dir.encode()).hexdigest()[:4]
    fp = dataset_fingerprint(
        os.path.join(sf_dir, "lineitem.parquet"),
        os.path.join(sf_dir, "orders.parquet"),
    )
    li_tbl = ensure_bucketed_layout(
        spark, f"jbc_li_{dsid}", li, "l_orderkey", fp, num_buckets=8
    )
    o_tbl = ensure_bucketed_layout(
        spark, f"jbc_o_{dsid}", o, "l_orderkey", fp, num_buckets=8
    )
    # the merge hint pins SortMergeJoin in the EXECUTED plan (broadcast
    # would be value-identical but unbucketed — the r9 advice's gap
    # between the certified plan and the run)
    joined = (
        spark.table(li_tbl).hint("merge").join(spark.table(o_tbl), "l_orderkey")
    )
    plan = explain_str(joined, "simple")
    if "SortMergeJoin" not in plan:
        raise AssertionError(f"expected SortMergeJoin:\n{plan}")
    if "Bucketed: true" not in plan:
        raise AssertionError(f"scans are not bucketed:\n{plan}")
    if "Exchange hashpartitioning" in plan:
        raise AssertionError(f"co-bucketed join still shuffles:\n{plan}")
    return (
        joined.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("status")
    )


@query(
    "agg_theil_decomposed",
    """
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY o_custkey
    ),
    by_cust AS (
      SELECT c.c_nationkey AS nation, s.x
      FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(x) AS BIGINT) AS s_g
      FROM by_cust GROUP BY nation
    ),
    tot AS (
      SELECT SUM(n_g)::DOUBLE AS n, SUM(s_g)::DOUBLE AS s FROM g
    ),
    terms AS (
      SELECT b.nation,
             (b.x / (g.s_g::DOUBLE / g.n_g))
               * ln(b.x / (g.s_g::DOUBLE / g.n_g)) AS w_term
      FROM by_cust b JOIN g ON b.nation = g.nation
    ),
    within AS (
      SELECT nation, SUM(w_term) AS sw FROM terms GROUP BY nation
    )
    SELECT g.nation AS c_nationkey,
           g.n_g AS n_cust,
           ROUND(g.s_g::DOUBLE / g.n_g / 100.0 + 1e-9, 2) AS mean_spend,
           ROUND(w.sw / g.n_g + 1e-9, 6) AS theil_within,
           ROUND((g.n_g / t.n) * ((g.s_g::DOUBLE / g.n_g) / (t.s / t.n))
                 * ln((g.s_g::DOUBLE / g.n_g) / (t.s / t.n)) + 1e-9, 6)
             AS between_term
    FROM g JOIN within w ON g.nation = w.nation CROSS JOIN tot t
    ORDER BY c_nationkey
    """,
    tags=("agg", "stats", "distribution"),
)
def agg_theil_decomposed(spark, sf_dir):
    """Theil-T inequality DECOMPOSED by group — the property Gini lacks
    and the reason mixture analysis wants Theil: total inequality of
    customer spend splits EXACTLY into a within-nation term per group
    plus a between-nation term (T = sum_g share_g*T_g + T_between), so
    curation can read where corpus concentration lives — inside domains
    or across them. Completes the inequality family: agg_gini_lorenz
    (rank-based), agg_hhi_concentration (share-of-squares),
    agg_entropy_gini (categorical), and now the decomposable one.

    Scale shape: per-customer cents rollup, broadcast-join the customer
    dim for the group key, collapse to |nations| cells; the per-row
    within terms re-aggregate map-side to the same cells; the global
    scalars ride a 1-row broadcast. Determinism: spend is exact integer
    cents; every mean is an exact-int ratio (identical IEEE division on
    both engines), ln diverges at most 1 ulp on identical inputs (the
    text_perplexity precedent), and the within sums are eps-rounded 6dp
    at output — no hard decision reads any of it."""
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
             .alias("x"))
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_nationkey").alias("nation")
    )
    by_cust = (
        spend.join(F.broadcast(cust), "o_custkey")
        .select("nation", "x")
        .localCheckpoint(eager=False)  # consumers: the cell rollup AND the
        # per-row terms — unpinned, the orders rollup+join re-executes
        # per branch (the r9 convention)
    )
    g = by_cust.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("x").alias("s_g")
    ).localCheckpoint(eager=False)  # consumers: tot, the terms broadcast,
    # and the final join — |nations| rows, pin is free
    tot = g.agg(
        F.sum("n_g").cast("double").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
    )
    mu_g = F.col("s_g").cast("double") / F.col("n_g")
    terms = (
        by_cust.join(F.broadcast(g), "nation")
        .select(
            "nation",
            ((F.col("x") / mu_g) * F.log(F.col("x") / mu_g)).alias("w_term"),
        )
    )
    within = terms.groupBy("nation").agg(F.sum("w_term").alias("sw"))
    mu = F.col("s") / F.col("n")
    return (
        g.join(within, "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("nation").alias("c_nationkey"),
            F.col("n_g").alias("n_cust"),
            eps_round(mu_g / 100.0, 2).alias("mean_spend"),
            eps_round(F.col("sw") / F.col("n_g"), 6).alias("theil_within"),
            eps_round(
                (F.col("n_g") / F.col("n")) * (mu_g / mu) * F.log(mu_g / mu),
                6,
            ).alias("between_term"),
        )
        .orderBy("c_nationkey")
    )
