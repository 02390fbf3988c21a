"""Scale-toolkit tests: results match the naive formulation AND the physical
plan has the intended shape (no shuffle where bucketing should remove it,
broadcast where the dim is small, pruning where the data is partitioned)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dumpr_spark.operators.scale import (
    explain_str,
    salted_join,
    write_bucketed,
    write_partitioned,
)
from dumpr_spark.sources.files import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    r = o.withColumnRenamed("o_orderkey", "l_orderkey")

    plain = li.join(r, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    salted = salted_join(li, r, "l_orderkey", salt=8).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    assert plain.collect() == salted.collect()


def test_salted_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], "k INT, v STRING")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, w STRING")
    out = salted_join(left, right, "k", salt=4, how="left")
    rows = {r["k"]: r["w"] for r in out.collect()}
    assert rows == {1: "x", 2: "y", 99: None}


def test_salted_join_rejects_outer():
    with pytest.raises(ValueError):
        salted_join(None, None, "k", how="full")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for tbl in ("li_b", "o_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # at test scale Catalyst would just broadcast the small side; force the
    # sort-merge path to show bucketing removes the shuffle
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(li, "li_b", "l_orderkey", num_buckets=8)
        write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "o_b", "l_orderkey", num_buckets=8
        )
        joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        # co-bucketed join: SortMergeJoin reading bucketed scans, ZERO shuffles
        plan = explain_str(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for tbl in ("li_b", "o_b"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(f"{wh}/{tbl}", ignore_errors=True)


def test_ensure_bucketed_layout_builds_once(spark, sf_dir):
    """The amortization contract: the first call writes the layout, a
    second call with the same fingerprint REUSES it (no rewrite — file
    mtimes untouched), and a new fingerprint gets a new generation which
    gc_layouts then reaps — all catalog-mediated, no raw deletes of live
    tables."""
    import os
    from urllib.parse import urlparse

    from dumpr_spark.operators.scale import ensure_bucketed_layout, gc_layouts

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def layout_mtimes(table):
        d = os.path.join(wh, table)
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d) if not f.startswith((".", "_"))
        }

    try:
        t1 = ensure_bucketed_layout(spark, "ebl_t", li, "l_orderkey", "aaaa1111",
                                    num_buckets=4)
        assert t1 == "ebl_t_aaaa1111" and spark.catalog.tableExists(t1)
        first = layout_mtimes(t1)
        assert first, "layout wrote no files"
        t2 = ensure_bucketed_layout(spark, "ebl_t", li, "l_orderkey", "aaaa1111",
                                    num_buckets=4)
        assert t2 == t1 and layout_mtimes(t1) == first  # reused, not rewritten
        t3 = ensure_bucketed_layout(spark, "ebl_t", li, "l_orderkey", "bbbb2222",
                                    num_buckets=4)
        assert t3 == "ebl_t_bbbb2222" and t3 != t1
        assert gc_layouts(spark, "ebl_t", "bbbb2222") == 1
        assert not spark.catalog.tableExists(t1) and spark.catalog.tableExists(t3)
    finally:
        for tbl in ("ebl_t_aaaa1111", "ebl_t_bbbb2222"):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_ensure_bucketed_layout_validates_reuse(spark, sf_dir):
    """The fingerprint tracks SOURCE data, not the caller's projection —
    reusing a generation under a changed projection or bucket spec must
    fail loudly (silently serving the stale table would change values or
    reintroduce the Exchange)."""
    import pytest

    from dumpr_spark.operators.scale import ensure_bucketed_layout

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    try:
        t1 = ensure_bucketed_layout(spark, "eblv_t", li, "l_orderkey",
                                    "cafe0001", num_buckets=4)
        # same request: reuse passes validation
        assert ensure_bucketed_layout(spark, "eblv_t", li, "l_orderkey",
                                      "cafe0001", num_buckets=4) == t1
        # changed projection, same fingerprint
        li2 = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        with pytest.raises(ValueError, match="does not match"):
            ensure_bucketed_layout(spark, "eblv_t", li2, "l_orderkey",
                                   "cafe0001", num_buckets=4)
        # changed bucket count, same fingerprint
        with pytest.raises(ValueError, match="Num Buckets"):
            ensure_bucketed_layout(spark, "eblv_t", li, "l_orderkey",
                                   "cafe0001", num_buckets=8)
        # changed bucket COLUMN under an identical schema, same
        # fingerprint — must trip the Bucket Columns branch specifically,
        # not the schema compare
        with pytest.raises(ValueError, match="Bucket Columns"):
            ensure_bucketed_layout(spark, "eblv_t", li, "l_quantity",
                                   "cafe0001", num_buckets=4)
    finally:
        spark.sql("DROP TABLE IF EXISTS eblv_t_cafe0001")


def test_dataset_fingerprint_tracks_source_changes(tmp_path):
    from dumpr_spark.operators.scale import dataset_fingerprint

    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a.write_bytes(b"x" * 10)
    b.write_bytes(b"y" * 10)
    fp1 = dataset_fingerprint(str(a), str(b))
    assert fp1 == dataset_fingerprint(str(b), str(a))  # order-insensitive
    assert len(fp1) == 8
    import os

    os.utime(a, ns=(1, 1))  # same bytes, new version stamp
    assert dataset_fingerprint(str(a), str(b)) != fp1


def test_dataset_fingerprint_recurses_into_directories(tmp_path):
    """A directory-shaped parquet dataset fingerprints by its CONTAINED
    files (r10 advice): rewriting a same-named part file in place does
    not reliably move the directory inode's own size/mtime, so the
    directory-stat identity could silently serve a stale layout over
    changed data. The recursive form moves on any contained rewrite,
    add, or remove."""
    import os

    from dumpr_spark.operators.scale import dataset_fingerprint

    ds = tmp_path / "ds.parquet"
    (ds / "k=1").mkdir(parents=True)
    p0, p1 = ds / "part-0.parquet", ds / "k=1" / "part-1.parquet"
    p0.write_bytes(b"a" * 16)
    p1.write_bytes(b"b" * 16)
    os.utime(ds, ns=(7, 7))  # pin the dir inode stat
    fp1 = dataset_fingerprint(str(ds))
    assert fp1 == dataset_fingerprint(str(ds))  # deterministic
    # in-place rewrite of a part file, dir inode stat pinned unchanged
    p1.write_bytes(b"c" * 16)
    os.utime(ds, ns=(7, 7))
    fp2 = dataset_fingerprint(str(ds))
    assert fp2 != fp1
    # adding a file moves it too
    (ds / "part-2.parquet").write_bytes(b"d")
    os.utime(ds, ns=(7, 7))
    assert dataset_fingerprint(str(ds)) != fp2
    # and a file + directory mix stays order-insensitive
    lone = tmp_path / "lone.parquet"
    lone.write_bytes(b"z")
    assert (dataset_fingerprint(str(ds), str(lone))
            == dataset_fingerprint(str(lone), str(ds)))
    # an EMPTY directory is not its own absence, and two empty dirs differ
    e1, e2 = tmp_path / "empty1.parquet", tmp_path / "empty2.parquet"
    e1.mkdir()
    e2.mkdir()
    assert dataset_fingerprint(str(e1), str(lone)) != dataset_fingerprint(str(lone))
    assert dataset_fingerprint(str(e1)) != dataset_fingerprint(str(e2))


def test_dataset_fingerprint_identity_hook():
    """Object-store identity hook: the version token replaces the stat
    tuple, so a changed etag moves the fingerprint with no local stat at
    all, a stable etag pins it, and the record encoding is injective —
    tokens carrying the delimiter characters must not alias a
    differently-split dataset (length-prefixed, mode-tagged records)."""
    from dumpr_spark.operators.scale import dataset_fingerprint

    etags = {"s3://b/a.parquet": "etag-1", "s3://b/b.parquet": "etag-2"}
    fp_a = dataset_fingerprint(*etags, identity=etags.__getitem__)
    assert fp_a == dataset_fingerprint(*reversed(list(etags)),
                                       identity=etags.__getitem__)
    etags["s3://b/b.parquet"] = "etag-3"
    assert dataset_fingerprint(*etags, identity=etags.__getitem__) != fp_a
    # injective under delimiter-bearing composite tokens
    assert (dataset_fingerprint("p", identity=lambda _: "t;q|u")
            != dataset_fingerprint("p", "q",
                                   identity={"p": "t", "q": "u"}.__getitem__))


def test_ensure_bucketed_layout_orphan_in_nondefault_database(spark, sf_dir):
    """The cold-catalog orphan path must resolve the managed-table
    location THROUGH the catalog (r10 advice): when the session's
    current database is not `default`, saveAsTable writes under
    <wh>/<db>.db/<table>, so a warehouse.dir+name join would miss the
    orphan and the rebuild would die with LOCATION_ALREADY_EXISTS."""
    import os
    import shutil
    from urllib.parse import urlparse

    from dumpr_spark.operators.scale import ensure_bucketed_layout

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("CREATE DATABASE IF NOT EXISTS ebl_nd")
    try:
        spark.catalog.setCurrentDatabase("ebl_nd")
        dbloc = urlparse(spark.catalog.getDatabase("ebl_nd").locationUri).path
        # simulate the cold catalog: table files on disk, no catalog entry
        orphan = os.path.join(dbloc, "eblnd_t_feed0001")
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "part-stale.parquet"), "wb") as f:
            f.write(b"stale")
        t1 = ensure_bucketed_layout(spark, "eblnd_t", li, "l_orderkey",
                                    "feed0001", num_buckets=4)
        assert spark.catalog.tableExists(t1)
        assert not os.path.exists(os.path.join(orphan, "part-stale.parquet"))
        assert spark.table(t1).count() == li.count()
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP TABLE IF EXISTS ebl_nd.eblnd_t_feed0001")
        spark.sql("DROP DATABASE IF EXISTS ebl_nd CASCADE")
        shutil.rmtree(
            urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
            + "/ebl_nd.db",
            ignore_errors=True,
        )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(o, path, ["o_orderstatus"])
    back = spark.read.parquet(path).where(F.col("o_orderstatus") == "F")
    plan = explain_str(back, "formatted")
    # partition filter reaches the scan: only the o_orderstatus=F directory read
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1].split("\n")[0]
    expected = o.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected


def test_asof_join_union_form_matches_naive(spark):
    """The one-shuffle union/carry-forward as-of join must equal the naive
    range-join + row_number formulation, including no-match nulls and
    equal-timestamp ties (right row at exactly t matches)."""
    from pyspark.sql import Window

    from dumpr_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 20, 101.0), ("A", 5, 99.0), ("B", 15, 50.0), ("C", 9, 1.0)],
        "sym STRING, t LONG, px DOUBLE",
    )
    quotes = spark.createDataFrame(
        [("A", 8, 9.8), ("A", 10, 10.0), ("A", 19, 10.9), ("B", 30, 5.1)],
        "sym STRING, qt LONG, bid DOUBLE",
    )

    got = {
        (r["sym"], r["t"]): r["bid"]
        for r in asof_join(trades, quotes, "sym", "t", "qt").collect()
    }

    j = trades.join(quotes, "sym", "left").where(F.col("qt") <= F.col("t"))
    w = Window.partitionBy("sym", "t").orderBy(F.desc("qt"))
    naive = j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    want = {(r["sym"], r["t"]): r["bid"] for r in naive.collect()}
    want[("A", 5)] = None   # no quote <= 5 for A (naive drops the row)
    want[("B", 15)] = None  # no quote <= 15 for B
    want[("C", 9)] = None   # key absent from quotes entirely

    assert got == want
    assert got[("A", 10)] == 10.0  # tie: quote at exactly t=10 wins


def test_asof_join_tolerance(spark):
    from dumpr_spark.operators.asof import asof_join

    from datetime import datetime

    trades = spark.createDataFrame(
        [("A", datetime(2026, 1, 1, 10, 0), 1.0)], "sym STRING, t TIMESTAMP, px DOUBLE"
    )
    quotes = spark.createDataFrame(
        [("A", datetime(2026, 1, 1, 8, 0), 9.9)], "sym STRING, qt TIMESTAMP, bid DOUBLE"
    )
    loose = asof_join(trades, quotes, "sym", "t", "qt").first()
    tight = asof_join(trades, quotes, "sym", "t", "qt", tolerance="1 HOUR").first()
    assert loose["bid"] == 9.9
    assert tight["bid"] is None  # 2h-old quote outside the 1h tolerance


def test_compact_small_files_preserves_data(spark, tmp_path):
    import os

    from dumpr_spark.operators.scale import compact_small_files

    path = str(tmp_path / "frag")
    spark.range(10_000).withColumn("v", F.col("id") * 2).repartition(64).write.parquet(path)
    files_before = sum(
        1 for f in os.listdir(path) if f.endswith(".parquet")
    )
    assert files_before >= 32
    n = compact_small_files(spark, path, target_file_mb=128)
    assert n == 1
    files_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert files_after == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).first()[0] == 2 * (9999 * 10_000 // 2)


def test_compact_small_files_preserves_hive_partitions(spark, tmp_path):
    """Regression (r2 advice): compacting a Hive-partitioned directory (e.g.
    MergeSink state's tbl= layout) must keep the col=value dirs — flattening
    them would break partition pruning AND MergeSink's per-table hardlink
    carry-forward."""
    import os

    from dumpr_spark.operators.scale import compact_small_files

    path = str(tmp_path / "part")
    df = spark.range(2000).withColumn("tbl", F.concat(F.lit("t"), (F.col("id") % 3).cast("string")))
    df.repartition(16).write.partitionBy("tbl").parquet(path)
    before_dirs = sorted(d for d in os.listdir(path) if d.startswith("tbl="))
    assert before_dirs == ["tbl=t0", "tbl=t1", "tbl=t2"]
    per_dir_before = sum(
        1 for f in os.listdir(os.path.join(path, "tbl=t0")) if f.endswith(".parquet")
    )
    assert per_dir_before > 1

    n = compact_small_files(spark, path, target_file_mb=128)

    after_dirs = sorted(d for d in os.listdir(path) if d.startswith("tbl="))
    assert after_dirs == before_dirs  # layout survives
    assert n == 3  # one file per partition value
    for d in after_dirs:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert sorted(r["tbl"] for r in back.select("tbl").distinct().collect()) == ["t0", "t1", "t2"]
    # partition pruning still works on the compacted layout
    assert back.where(F.col("tbl") == "t1").count() == df.where(F.col("tbl") == "t1").count()


def test_salted_join_salt_is_deterministic(spark):
    """Regression (r2 advice): the salt must not derive from a nondeterministic
    expression — a stage retry would re-salt rows differently and corrupt the
    shuffle. Assert the plan carries no nondeterministic source."""
    left = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k INT, v STRING")
    right = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k INT, w DOUBLE")
    out = salted_join(left, right, "k", salt=4)
    plan = explain_str(out, "extended")
    assert "monotonically_increasing_id" not in plan
    assert "rand(" not in plan
    # and it still equals the plain join
    assert sorted((r["k"], r["v"], r["w"]) for r in out.collect()) == sorted(
        (r["k"], r["v"], r["w"]) for r in left.join(right, "k").collect()
    )


def test_plan_shapes_training_ops(spark, sf_dir):
    """Plan-shape assertions for the training ops' scale claims: chunking is
    shuffle-free; the curation pipeline has exactly one data shuffle (the
    dedup groupBy) before its presentation sort; the bucketed range join
    contains no nested-loop join."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY
    from dumpr_spark.sources.files import load_table

    from dumpr_spark.functions.chunking import chunk_documents

    chunk_plan = explain_str(
        chunk_documents(load_table(spark, sf_dir, "documents")), "simple"
    )
    assert "Exchange" not in chunk_plan

    pipe_plan = explain_str(REGISTRY["pipeline_curation"].fn(spark, sf_dir), "simple")
    data_exchanges = pipe_plan.count("Exchange hashpartitioning")
    assert data_exchanges == 1, pipe_plan

    rj_plan = explain_str(REGISTRY["join_range_bucketed"].fn(spark, sf_dir), "simple")
    assert "NestedLoop" not in rj_plan, rj_plan


def test_win_ntile_has_no_single_partition_window(spark, sf_dir):
    """win_ntile's two-phase form must never funnel the table through one
    task: an unpartitioned global window would show as Exchange
    SinglePartition feeding the WindowExec."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["win_ntile"].fn(spark, sf_dir), "simple")
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan  # the per-partition rank is still a window


def test_plan_shapes_broadcast_claims(spark, sf_dir):
    """The contamination and unigram-LM docstrings claim the big side joins
    against a BROADCAST of the small set — assert the plans agree."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    cont = explain_str(REGISTRY["contamination_ngrams"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in cont, cont

    lm = explain_str(REGISTRY["text_unigram_logprob"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in lm, lm
    # the doc-side scan must not sort-merge against the freq table
    assert "SortMergeJoin" not in lm, lm


def test_plan_shapes_round3_queries(spark, sf_dir):
    """Round-3 plan claims: q2's dimension joins and the bigram-LM model
    joins broadcast (the corpus side must not sort-merge against a
    Zipf-small model table); the frame-dedup explode is narrow — the only
    Exchange is the fingerprint groupBy."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    q2 = explain_str(REGISTRY["q2_min_cost_supplier"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in q2, q2

    bg = explain_str(REGISTRY["text_bigram_logprob"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in bg, bg
    assert "SortMergeJoin" not in bg, bg

    fd = explain_str(REGISTRY["multimodal_frame_dedup"].fn(spark, sf_dir), "simple")
    # one Exchange for the groupBy (plus its partial-agg pair collapses into
    # it) — the generate/explode must not force its own shuffle
    assert fd.count("Exchange") <= 2, fd


def test_events_funnel_strict_reengagement_case(spark):
    """The case that separates the strict staged funnel from the one-pass
    conditional-min form: click BEFORE the first view plus a later
    qualifying click. One-pass stalls at stage 1 (global first_click <
    first_view); the staged form converts fully."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), et, 10 + i)
        for i, et in enumerate(["click", "view", "click", "purchase"])
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string, event_id long")

    from pyspark.sql import functions as F

    from dumpr_spark.queries.streaming_batch import staged_funnel

    # the REAL query builder (not a private copy): a regression in the query
    # body fails here too
    staged = staged_funnel(df.select("user_id", "event_type", "ts")).first()
    assert staged["stage"] == 3 and staged["first_qual_click"] is not None

    # one-pass conditional-min on the same data stalls at stage 1
    first = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))  # noqa: E731
    onep = df.groupBy("user_id").agg(
        first("view").alias("fv"), first("click").alias("fc"), first("purchase").alias("fp")
    ).first()
    assert onep["fc"] < onep["fv"]  # the approximation's blind spot


def test_plan_shapes_new_tpch_and_text_queries(spark, sf_dir):
    """Round-3 additions' plan claims: q10's top-20 compiles to
    TakeOrderedAndProject (never a full sort); q14/q19 broadcast the part
    dimension; tfidf broadcasts the vocab-sized df table against the
    corpus-side tf; bpe-pairs is narrow until its single pair aggregation
    (explode must not force its own shuffle)."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    q10 = explain_str(REGISTRY["q10_returned_items"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in q10, q10

    for name in ("q14_promo_revenue", "q19_discount_revenue"):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    tfidf = explain_str(REGISTRY["text_tfidf_topk"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in tfidf, tfidf

    bpe = explain_str(REGISTRY["text_bpe_pairs"].fn(spark, sf_dir), "simple")
    # partial+final pair agg => one Exchange, plus the top-50 driver fetch;
    # the token-array zip/explode stays in the scan stage
    assert bpe.count("Exchange") <= 1, bpe
    assert "TakeOrderedAndProject" in bpe, bpe


def test_cdc_scd2_intervals_consistent(spark, sf_dir):
    """SCD2 invariants on the synthetic stream: per key, intervals chain
    (each valid_to equals the next version's valid_from or the key's delete
    seq), exactly one open interval per surviving key, and the open
    intervals reproduce the materialized state."""
    from pyspark.sql import functions as F

    from dumpr_spark.queries import REGISTRY

    hist = REGISTRY["cdc_scd2_history"].fn(spark, sf_dir).cache()
    state = REGISTRY["cdc_materialize"].fn(spark, sf_dir)

    open_rows = hist.where(F.col("is_current"))
    per_key_open = open_rows.groupBy("order_id").count().where(F.col("count") > 1)
    assert per_key_open.count() == 0

    # open intervals == current state keys (delete-terminated keys excluded)
    open_ids = {r["order_id"] for r in open_rows.select("order_id").collect()}
    state_ids = {r["order_id"] for r in state.select("order_id").collect()}
    assert open_ids == state_ids

    # chained: valid_to of a closed row equals the NEXT change's seq; verify
    # via self-join on (key, valid_to == next valid_from) for upsert chains
    closed = hist.where(~F.col("is_current")).alias("a")
    nxt = hist.alias("b")
    chained = closed.join(
        nxt,
        (F.col("a.order_id") == F.col("b.order_id"))
        & (F.col("a.valid_to") == F.col("b.valid_from")),
        "left",
    )
    # rows whose successor is missing must be delete-terminated (seq%3==2)
    dangling = chained.where(F.col("b.valid_from").isNull())
    bad = dangling.where(F.col("a.valid_to") % 3 != 2)
    assert bad.count() == 0


def test_plan_shapes_round4_wave3(spark, sf_dir):
    """Plan pins for the wave-3 operators — the shapes their docstrings
    claim must survive optimizer changes:
    - sim_ann_hyperplane: equi-join on the signature (BroadcastHashJoin),
      never a cartesian/cross product, and the per-query top-k is rank-
      pushed (WindowGroupLimit) so no full bucket sort materializes;
    - text_bm25_topk: top-20 via TakeOrdered (no global Sort node) and at
      most 3 parquet scans (one tokenize pass + two narrow length scans —
      a 4th would mean df regained its own tokenize branch);
    - rollup_ohlc: pure aggregation — no Window over raw ticks."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    ann = explain_str(REGISTRY["sim_ann_hyperplane"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in ann, ann
    assert "Cartesian" not in ann and "NestedLoop" not in ann, ann
    assert "WindowGroupLimit" in ann, ann

    bm25 = explain_str(REGISTRY["text_bm25_topk"].fn(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in bm25, bm25
    assert bm25.count("Scan parquet") <= 3, bm25

    ohlc = explain_str(REGISTRY["rollup_ohlc"].fn(spark, sf_dir), "simple")
    # the trailing orderBy sorts |bars| rows; no Window node may appear
    assert "Window" not in ohlc, ohlc


def test_pushdown_and_pruning_canaries(spark, sf_dir):
    """Scan-efficiency canaries: q6's predicates must reach the parquet
    scan (PushedFilters) and its ReadSchema must carry only the four
    referenced lineitem columns — a plan regression that drops pushdown
    turns the 'pure pushdown probe' into a full scan at 100 TB. BM25's
    scans must never read the unreferenced documents columns."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    q6 = explain_str(REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir), "formatted")
    assert "GreaterThanOrEqual(l_shipdate" in q6, q6
    assert "GreaterThanOrEqual(l_discount" in q6, q6
    schemas = [ln for ln in q6.splitlines() if "ReadSchema" in ln]
    assert schemas
    for ln in schemas:
        for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
            assert col in ln, ln
        assert "l_orderkey" not in ln and "l_comment" not in ln, ln

    bm25 = explain_str(REGISTRY["text_bm25_topk"].fn(spark, sf_dir), "formatted")
    for ln in bm25.splitlines():
        if "ReadSchema" in ln:
            assert "lang" not in ln and "source" not in ln and "n_chars" not in ln, ln


def test_plan_shapes_r4_late_queries(spark, sf_dir):
    """Round-4 late-wave plan claims: the Gopher rule battery is a pure
    narrow projection (zero Exchange); passage dedup's canonical election is
    a partial-combining HashAggregate (not a window over the hash — a
    window could not be AQE-split on a hot boilerplate hash); the shard
    manifest's prefix sum never funnels through a single partition."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    gr = explain_str(REGISTRY["text_gopher_rules"].fn(spark, sf_dir), "simple")
    # presentation orderBy is a rangepartitioning Exchange; no data shuffle
    assert "Exchange hashpartitioning" not in gr, gr

    dp = explain_str(REGISTRY["dedup_paragraphs"].fn(spark, sf_dir), "simple")
    assert "HashAggregate" in dp, dp
    # the hash-keyed stats side must join, not window, over md5(para)
    assert "SortMergeJoin" in dp or "BroadcastHashJoin" in dp or "ShuffledHashJoin" in dp, dp

    sm = explain_str(REGISTRY["export_shard_manifest"].fn(spark, sf_dir), "simple")
    assert "Exchange SinglePartition" not in sm, sm
    assert "Window" in sm, sm


def test_compact_with_order_by_gives_disjoint_file_ranges(spark, tmp_path):
    """order_by compaction lays files out as zone maps: every output file's
    [min, max] of the sort key is disjoint from every other's, so a reader
    filtering on the key can prune whole files from the footer stats alone.
    The pre-compaction layout (hash-shuffled writes) has overlapping ranges
    in every file — the worst case for skipping."""
    import itertools

    import pyarrow.parquet as pq

    from dumpr_spark.operators.scale import compact_small_files

    path = str(tmp_path / "zone")
    n = 200_000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        .repartition(8)  # hash-spread: every file spans ~the full k domain
    )
    df.write.parquet(path)

    def file_ranges(p):
        import os

        out = []
        for root, _d, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    md = pq.read_metadata(os.path.join(root, f))
                    mins, maxs = [], []
                    for rg in range(md.num_row_groups):
                        col = md.row_group(rg).column(0)  # k is the first column
                        mins.append(col.statistics.min)
                        maxs.append(col.statistics.max)
                    out.append((min(mins), max(maxs)))
        return out

    before = file_ranges(path)
    assert len(before) >= 4
    overlaps = sum(
        1 for a, b in itertools.combinations(before, 2) if a[0] <= b[1] and b[0] <= a[1]
    )
    assert overlaps > 0  # hash layout: ranges interleave

    n_out = compact_small_files(spark, path, target_file_mb=1, order_by=["k"])
    after = file_ranges(path)
    assert len(after) == n_out >= 2
    for a, b in itertools.combinations(after, 2):
        assert a[1] < b[0] or b[1] < a[0], (a, b)  # pairwise disjoint
    got = spark.read.parquet(path)
    assert got.count() == n and got.agg(F.sum("k")).first()[0] == n * (n - 1) // 2


def test_plan_shapes_r4_late_wave2(spark, sf_dir):
    """Plan pins for the newest late-wave ops: VARIANT extraction is a pure
    narrow projection; the gap-fill spine/LOCF never collapses to a single
    partition; triangle counting's degree-rank joins broadcast (one row per
    vertex) and nothing degenerates to a cartesian product."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    sv = explain_str(REGISTRY["scalar_variant"].fn(spark, sf_dir), "simple")
    assert "Exchange hashpartitioning" not in sv, sv

    gf = explain_str(REGISTRY["events_gapfill"].fn(spark, sf_dir), "simple")
    assert "Exchange SinglePartition" not in gf, gf
    assert "Window" in gf, gf

    tc = explain_str(REGISTRY["graph_triangle_count"].fn(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in tc, tc
    assert "CartesianProduct" not in tc and "BroadcastNestedLoopJoin" not in tc, tc


def test_plan_shapes_r5_wave(spark, sf_dir):
    """Plan pins for the round-5 additions: Count-Min builds from ONE scan
    of events for the sketch (plus one shared exact-count subtree — never
    the old 4-way union); the autocorr lag window partitions by
    (event_type, chunk), not event_type alone; the regression/entropy dims
    broadcast; the RFM plan contains no unpartitioned window (the lint
    covers it registry-wide, this pins the specific query); the time-range
    frame window partitions per user."""
    import re

    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    cm = explain_str(REGISTRY["agg_countmin_sketch"].fn(spark, sf_dir), "formatted")
    assert len(re.findall(r"Scan parquet.*events", cm)) <= 3, cm
    assert "Union" not in cm, cm  # the 4-way per-hash-row union is gone

    ac = explain_str(REGISTRY["events_autocorr"].fn(spark, sf_dir), "simple")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", ac)
    assert specs and all("chunk" in s for s in specs if "event_type#" in s), ac

    for name in ("agg_regr_linear", "agg_entropy_gini"):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir), "simple")
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)

    rfm = explain_str(REGISTRY["customer_rfm_scores"].fn(spark, sf_dir), "simple")
    assert "Exchange SinglePartition" not in rfm, rfm

    tr = explain_str(REGISTRY["win_time_range_frame"].fn(spark, sf_dir), "simple")
    assert "specifiedwindowframe(RangeFrame" in tr, tr
    assert "Exchange SinglePartition" not in tr, tr


def test_merge_intervals_matches_python_fold_randomized(spark):
    """operators/intervals.merge_intervals vs a pure-Python sweep-line fold
    on randomized inputs (fixed seeds): duplicate intervals, containment,
    exact-touch chains, singletons, and multi-key isolation — the edge mix
    one oracle query at one scale cannot pin."""
    import random

    from dumpr_spark.operators.intervals import merge_intervals

    def py_merge(ivs):
        out = {}
        by_key = {}
        for k, s, e in ivs:
            by_key.setdefault(k, []).append((s, e))
        for k, pairs in by_key.items():
            pairs.sort()
            merged = []
            for s, e in pairs:
                if merged and s <= merged[-1][1]:
                    ps, pe, n = merged[-1]
                    merged[-1] = (ps, max(pe, e), n + 1)
                else:
                    merged.append((s, e, 1))
            for s, e, n in merged:
                out[(k, s)] = (e, n)
        return out

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        ivs = []
        for k in range(4):
            for _ in range(rng.randint(1, 40)):
                s = rng.randint(0, 200)
                ivs.append((k, s, s + rng.randint(0, 50)))
        # adversarial shapes: duplicates, containment, exact touch
        ivs += [(0, 10, 30), (0, 10, 30), (0, 12, 15), (0, 30, 31)]
        df = spark.createDataFrame(ivs, "k long, s long, e long")
        got = {
            (r["k"], r["merged_start"]): (r["merged_end"], r["n_intervals"])
            for r in merge_intervals(df, ["k"], "s", "e").collect()
        }
        assert got == py_merge(ivs), f"seed {seed}"


def test_hotspot_diagnostic_drives_salted_materialize(spark):
    """The full skew handoff (SURVEY §2.3's named scale-killer): build a
    deliberately hot-keyed change log (one entity takes ~60% of all
    changes), run the cdc_key_hotspots-style diagnostic over it, use its
    top share to PICK a salt factor, and assert the salted two-phase
    materialize fold is row-for-row identical to the plain fold — in both
    live-rows and tombstone modes, with the hot key's final state (highest
    seq wins) intact."""
    import random

    from dumpr_spark.cdc.materialize import materialize, materialize_salted

    rng = random.Random(7)
    rows = []
    for seq in range(2000):
        eid = "hot" if rng.random() < 0.6 else f"cold{rng.randint(0, 99)}"
        op = "delete" if rng.random() < 0.1 else "upsert"
        rows.append(
            ("t1", eid, op, f'{{"v": {seq}}}', 1700000000 + seq,
             "binlog.000001", seq * 10, seq)
        )
    log = spark.createDataFrame(
        rows,
        "tbl string, id string, op string, content string, ts long,"
        " next_file string, next_position long, seq long",
    )

    # diagnostic: per-key share of change volume (the cdc_key_hotspots shape)
    per_key = log.groupBy("id").count()
    total = log.count()
    top = per_key.orderBy(F.desc("count")).first()
    top_share = top["count"] / total
    assert top["id"] == "hot" and top_share > 0.5  # the diagnostic fires

    # handoff: a key spanning every input partition needs at most
    # O(parallelism) candidates split salt-ways; share-scaled and clamped
    salt = max(2, min(32, int(top_share * spark.sparkContext.defaultParallelism)))

    for tombstones in (False, True):
        plain = {
            (r["tbl"], r["id"]): (r["op"], r["content"], r["seq"])
            for r in materialize(log, keep_tombstones=tombstones).collect()
        }
        salted = {
            (r["tbl"], r["id"]): (r["op"], r["content"], r["seq"])
            for r in materialize_salted(
                log, salt=salt, keep_tombstones=tombstones
            ).collect()
        }
        assert salted == plain, f"tombstones={tombstones}: diverged"
    # the hot key's winner is the max-seq change exactly
    last_hot = max((r for r in rows if r[1] == "hot"), key=lambda r: r[7])
    if last_hot[2] != "delete":
        assert plain[("t1", "hot")] == (last_hot[2], last_hot[3], last_hot[7])


def test_bloom_semi_join_no_false_negatives_and_fpp(spark):
    """Bloom pre-filter contract over random keys: every true match
    survives (false negatives = data loss, never acceptable), the false
    positive rate stays within ~3x the theoretical (1-e^{-kn/m})^k, and
    the artifact is deterministic (bit-identical across rebuilds)."""
    import math
    import random

    from dumpr_spark.operators.bloom import bloom_semi_join, build_bloom

    rng = random.Random(3)
    right_keys = rng.sample(range(1_000_000), 2000)
    right = spark.createDataFrame([(k,) for k in right_keys], "k long")
    left = spark.range(0, 50_000).select(F.col("id").alias("k"))

    m, kh = 1 << 16, 5
    bloom = build_bloom(right, "k", m_bits=m, k=kh)
    assert bloom == build_bloom(right, "k", m_bits=m, k=kh)  # deterministic

    got = {r["k"] for r in bloom_semi_join(left, bloom, "k").collect()}
    exact = {r["k"] for r in left.join(right, "k", "left_semi").collect()}
    assert exact <= got, f"false negatives: {sorted(exact - got)[:5]}"

    n_neg = 50_000 - len(exact)
    fp_rate = len(got - exact) / n_neg
    theo = (1 - math.exp(-kh * len(right_keys) / m)) ** kh
    assert fp_rate <= 3 * theo + 1e-3, f"fpp {fp_rate} vs theoretical {theo}"


def test_bloom_semi_join_probe_has_no_shuffle(spark):
    """The probe side must stay a narrow map: the physical plan of the
    filtered left contains NO Exchange (that is the whole point vs a
    shuffle semi-join) and the key filter reaches the scan."""
    from dumpr_spark.operators.bloom import bloom_semi_join, build_bloom
    from dumpr_spark.operators.scale import explain_str

    right = spark.range(0, 100).select((F.col("id") * 3).alias("k"))
    left = spark.range(0, 10_000).select(F.col("id").alias("k"))
    bloom = build_bloom(right, "k", m_bits=1 << 12)
    plan = explain_str(bloom_semi_join(left, bloom, "k"))
    assert "Exchange" not in plan, plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 64"):
        build_bloom(right, "k", m_bits=100)
    with _pytest.raises(ValueError, match="multiple of 64"):
        build_bloom(right, "k", m_bits=0)
    with _pytest.raises(ValueError, match="k must be"):
        build_bloom(right, "k", k=0)
    # artifact carries k: a probe never needs (and cannot mismatch) it
    assert bloom.k == 5 and bloom.m_bits == 1 << 12
    # the probe is a single filter expression — no scaffolding columns, so
    # an input named like old scaffolding passes through untouched
    probed = bloom_semi_join(left.withColumn("_bloom", F.lit(1)), bloom, "k")
    assert probed.columns == ["k", "_bloom"]
    # ONE digest per row: the md5 appears exactly once in the physical plan
    # (the let-binding idiom — k naive position trees would carry ~3k
    # copies; zero would mean the probe stopped hashing at all)
    assert explain_str(probed).lower().count("md5") == 1


def test_bloom_arrow_probe_matches_literal_probe(spark):
    """The broadcast+Arrow probe and the literal-array probe implement ONE
    membership function: same filter, same left side, identical surviving
    rows (both false-positive sets included — the digests must agree bit
    for bit, not just the true matches)."""
    from dumpr_spark.operators.bloom import (
        bloom_semi_join,
        bloom_semi_join_arrow,
        build_bloom,
    )

    right = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    left = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    bloom = build_bloom(right, "k", m_bits=1 << 12, k=4)
    lit_rows = sorted(
        (r["k"], r["v"]) for r in bloom_semi_join(left, bloom, "k").collect()
    )
    arrow_rows = sorted(
        (r["k"], r["v"]) for r in bloom_semi_join_arrow(left, bloom, "k").collect()
    )
    assert lit_rows == arrow_rows
    # schema passes through unchanged (helper column dropped)
    assert bloom_semi_join_arrow(left, bloom, "k").schema == left.schema


def test_bloom_arrow_probe_large_filter(spark):
    """Above the literal cap the literal probe refuses loudly and the Arrow
    probe carries on: a 2^22-bit filter (64k words — far too many plan
    literals) still admits every true match and stays fpp-tight."""
    import math

    from dumpr_spark.operators.bloom import (
        bloom_semi_join,
        bloom_semi_join_arrow,
        build_bloom,
    )

    right = spark.range(0, 3000).select((F.col("id") * 11 + 5).alias("k"))
    left = spark.range(0, 40_000).select(F.col("id").alias("k"))
    m, kh = 1 << 22, 5
    bloom = build_bloom(right, "k", m_bits=m, k=kh)

    with pytest.raises(ValueError, match="bloom_semi_join_arrow"):
        bloom_semi_join(left, bloom, "k")

    got = {r["k"] for r in bloom_semi_join_arrow(left, bloom, "k").collect()}
    exact = {r["k"] for r in left.join(right, "k", "left_semi").collect()}
    assert exact <= got, f"false negatives: {sorted(exact - got)[:5]}"
    n_neg = 40_000 - len(exact)
    theo = (1 - math.exp(-kh * 3000 / m)) ** kh
    assert len(got - exact) / n_neg <= 3 * theo + 1e-3

    with pytest.raises(ValueError, match="reserved"):
        bloom_semi_join_arrow(left.withColumn("_bloom_key_str", F.lit("x")),
                              bloom, "k")


def test_bloom_probe_on_stream(spark, tmp_path):
    """The literal probe is a stateless narrow map, so it composes with
    Structured Streaming unchanged: a file stream filtered by a bloom
    built from a static key set drops non-members (minus fpp slack) and
    keeps every member — the stream-side pre-filter for a later
    stream-static join."""
    from dumpr_spark.operators.bloom import bloom_semi_join, build_bloom

    src = tmp_path / "in"
    src.mkdir()
    spark.range(0, 2000).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src))

    right = spark.range(0, 2000, 4).select(F.col("id").alias("k"))
    bloom = build_bloom(right, "k", m_bits=1 << 14, k=5)

    from dumpr_spark.operators.bloom import bloom_semi_join_arrow

    stream = spark.readStream.schema("k long").parquet(str(src))
    results = {}
    for label, probe in (("lit", bloom_semi_join),
                         ("arrow", bloom_semi_join_arrow)):
        out = probe(stream, bloom, "k")
        q = (
            out.writeStream.format("memory")
            .queryName(f"bloom_stream_probe_{label}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        results[label] = {
            r["k"]
            for r in spark.sql(f"select * from bloom_stream_probe_{label}").collect()
        }
    got = results["lit"]
    exact = set(range(0, 2000, 4))
    assert exact <= got
    # fpp slack only: the stream was not passed through unfiltered
    assert len(got - exact) <= 0.1 * 1500 + 10
    # the Arrow probe (mapInPandas) composes with streams identically
    assert results["arrow"] == got


def test_bloom_rebuild_and_swap_on_dim_refresh(spark, tmp_path):
    """The reusable-artifact claim under its intended lifecycle: ONE
    streaming query, maxFilesPerTrigger=1, where the dim refreshes
    BETWEEN micro-batches. RefreshingBloom must probe batch 0 with the
    v1 bloom, detect the version bump, rebuild exactly once, and probe
    batch 1 with the v2 bloom — the foreachBatch analog of the schema
    catalog's DDL invalidation (R9)."""
    import os

    from dumpr_spark.operators.bloom import (
        RefreshingBloom, bloom_semi_join, build_bloom,
    )

    dim_dir, ver = tmp_path / "dim", tmp_path / "ver.txt"
    v1, v2 = set(range(0, 1000, 4)), set(range(1000, 2000, 5))

    def write_dim(keys, version):
        spark.createDataFrame([(k,) for k in sorted(keys)], "k long") \
            .coalesce(1).write.mode("overwrite").parquet(str(dim_dir))
        ver.write_text(str(version))

    write_dim(v1, 1)
    holder = RefreshingBloom(
        build_fn=lambda: build_bloom(
            spark.read.parquet(str(dim_dir)), "k", m_bits=1 << 14, k=5
        ),
        version_fn=lambda: ver.read_text(),
    )

    src = tmp_path / "in"
    src.mkdir()
    # file A: keys 0..999 (v1 members live here); file B: keys 1000..1999
    # (v2 members live here). Distinct mtimes pin the batch order.
    spark.createDataFrame([(k,) for k in range(1000)], "k long") \
        .coalesce(1).write.parquet(str(src / "a"))
    spark.createDataFrame([(k,) for k in range(1000, 2000)], "k long") \
        .coalesce(1).write.parquet(str(src / "b"))
    now = 1_700_000_000
    for i, sub in enumerate(("a", "b")):
        for f in (src / sub).iterdir():
            os.utime(f, (now + i * 100, now + i * 100))

    seen: list[tuple[int, set]] = []

    def sink(batch_df, batch_id):
        bloom = holder.current()
        kept = {r["k"] for r in bloom_semi_join(batch_df, bloom, "k").collect()}
        seen.append((batch_id, kept))
        if batch_id == 0:
            write_dim(v2, 2)  # dim refresh lands between micro-batches

    q = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    assert [b for b, _ in seen] == [0, 1]
    batch0, batch1 = seen[0][1], seen[1][1]
    # batch 0 (file A) was probed with the v1 bloom: every v1 member kept,
    # fpp slack only beyond that, and no sign of the v2 key set
    assert v1 <= batch0
    assert len(batch0 - v1) <= 0.1 * 1000 + 10
    # batch 1 (file B) was probed with the REBUILT v2 bloom
    assert v2 <= batch1
    assert len(batch1 - v2) <= 0.1 * 1000 + 10
    assert holder.builds == 2  # one initial build + exactly one rebuild


def test_expr_let_semantics(spark):
    """functions/expr.let: the bound value reaches the body exactly, NULL
    binds as NULL and propagates, and nesting works (the idiom the bloom
    probe, the filename carry, and remove_direction all build on)."""
    from dumpr_spark.functions.expr import let

    df = spark.createDataFrame([(2,), (None,)], "x INT")
    out = df.select(
        let(F.col("x") + 1, lambda v: v * v).alias("sq"),
        let(F.col("x"), lambda a: let(a + 10, lambda b: a + b)).alias("nested"),
    ).collect()
    got = {r["sq"]: r["nested"] for r in out}
    assert got == {9: 14, None: None}


def test_bloom_probes_agree_on_adversarial_keys(spark):
    """Randomized probe equivalence on hostile key types: negative longs,
    unicode strings, empty strings — the JVM literal probe and the
    Python/numpy Arrow probe must keep/drop identical rows (the md5 is
    computed from the same UTF-8 bytes on both sides)."""
    import random

    from dumpr_spark.operators.bloom import (
        bloom_semi_join,
        bloom_semi_join_arrow,
        build_bloom,
    )

    rng = random.Random(11)
    longs = [rng.randint(-(2**62), 2**62) for _ in range(300)]
    right_l = spark.createDataFrame([(x,) for x in longs[:150]], "k long")
    left_l = spark.createDataFrame([(x,) for x in longs], "k long")
    bl = build_bloom(right_l, "k", m_bits=1 << 12, k=4)
    a = sorted(r["k"] for r in bloom_semi_join(left_l, bl, "k").collect())
    b = sorted(r["k"] for r in bloom_semi_join_arrow(left_l, bl, "k").collect())
    assert a == b and set(longs[:150]) <= set(a)

    words = ["", "héllo", "κόσμε", "naïve café", "line\nbreak", "tab\tsep",
             "日本語テキスト", "emoji 🎉🚀", "a,b|c\x01d"] + [
        f"w{i}·{i**2}" for i in range(200)
    ]
    right_s = spark.createDataFrame([(x,) for x in words[:100]], "k string")
    left_s = spark.createDataFrame([(x,) for x in words], "k string")
    bs = build_bloom(right_s, "k", m_bits=1 << 12, k=4)
    a = sorted(r["k"] for r in bloom_semi_join(left_s, bs, "k").collect())
    b = sorted(r["k"] for r in bloom_semi_join_arrow(left_s, bs, "k").collect())
    assert a == b and set(words[:100]) <= set(a)


def test_bloom_build_is_partitioning_invariant(spark):
    """The BloomFilter artifact is DETERMINISTIC data, not an execution
    accident: building from the same key set under different input
    partitionings, duplicated keys, or a shuffled row order yields a
    bit-identical words array (bit_or is commutative/idempotent and the
    positions are pure functions of the key) — the property that makes
    a cached artifact reusable across queries and engines."""
    from dumpr_spark.operators.bloom import build_bloom

    keys = spark.range(0, 4000, 3).select(F.col("id").alias("k"))
    base = build_bloom(keys, "k", m_bits=1 << 14, k=5)
    variants = [
        keys.repartition(17),
        keys.coalesce(1),
        keys.union(keys),                       # duplicates are no-ops
        keys.orderBy(F.desc("k")),
    ]
    for i, v in enumerate(variants):
        assert build_bloom(v, "k", m_bits=1 << 14, k=5) == base, i


def test_multi_consumer_rollups_scan_once(spark, sf_dir):
    """Plan pins for the r7 scan-reuse fixes: Catalyst re-expands a
    logical subtree per consumer (ReuseExchange does not fire across
    separately-planned aggregations), so a rollup feeding several
    downstream aggregates must be pinned or the corpus is re-scanned per
    consumer. text_js_divergence's (lang, tok) rollup feeds THREE
    consumers and previously scanned+exploded documents 4x — the pinned
    plan must show zero direct parquet scans of documents (the one real
    scan happens inside the checkpointed subtree). Same pin, weaker form,
    for agg_bootstrap_ci: the whole query computes exactly ONE md5 per
    row (the Carter-Wegman fan-out exists so the digest count does not
    scale with the replicate count)."""
    from dumpr_spark.operators.scale import explain_str
    from dumpr_spark.queries import REGISTRY

    jsd = REGISTRY["text_js_divergence"].fn(spark, sf_dir)
    plan = jsd._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 0, (
        "text_js_divergence re-grew a per-consumer corpus scan"
    )

    boot = explain_str(REGISTRY["agg_bootstrap_ci"].fn(spark, sf_dir))
    assert boot.count("md5") == 1, (
        f"agg_bootstrap_ci should digest once per row, plan shows "
        f"{boot.count('md5')} md5 calls"
    )


def test_refreshing_bloom_torn_read_guard():
    """r7 review: a dim refresh landing BETWEEN the version read and the
    build must not stamp the mixed-snapshot artifact as current.
    current() re-reads the version AFTER building; if it moved, it
    rebuilds against the settled version (exactly one extra build), and
    under sustained churn it serves the freshest build but leaves the
    artifact marked stale so the next call rebuilds. Pure driver-side
    lifecycle — no Spark needed (build_fn is a stub artifact factory)."""
    from dumpr_spark.operators.bloom import BloomFilter, RefreshingBloom

    state = {"version": 1, "data": 1, "flip_on_build": False}
    builds: list[int] = []

    def build():
        builds.append(state["data"])
        if state["flip_on_build"]:
            # refresh lands mid-build: data already new, version bumps now
            state["flip_on_build"] = False
            state["version"] += 1
            state["data"] += 1
            return BloomFilter(words=[builds[-1]], k=1)
        return BloomFilter(words=[state["data"]], k=1)

    holder = RefreshingBloom(build_fn=build, version_fn=lambda: state["version"])
    assert holder.stale  # nothing certified yet
    assert holder.current().words == [1] and holder.builds == 1
    assert not holder.stale  # certified against a settled version (r9)
    assert holder.current().words == [1] and holder.builds == 1  # cached

    # torn case: the version bump lands DURING the rebuild-triggering call
    state["version"] += 1
    state["data"] += 1          # v2 published (data first, then version...)
    state["flip_on_build"] = True  # ...but v3 lands while v2's build runs
    got = holder.current()
    # the guard saw the post-build version move and rebuilt once more —
    # the served artifact is v3's, not the torn v2-stamped build
    assert got.words == [3] and holder.builds == 3
    assert holder.current().words == [3] and holder.builds == 3  # settled

    # sustained churn: version moves on EVERY read -> bounded retries,
    # freshest build served, artifact left stale so next call rebuilds
    class Churn:
        n = 100

        def __call__(self):
            Churn.n += 1
            return Churn.n

    churn = RefreshingBloom(
        build_fn=lambda: BloomFilter(words=[Churn.n], k=1),
        version_fn=Churn(),
    )
    first = churn.current()
    assert churn.builds == churn._MAX_REBUILDS_PER_CALL
    assert first.words == [Churn.n - 1]  # freshest completed build
    # r9 (r8 advice): the exhausted-retry path is now VISIBLE to the
    # caller — .stale says this batch's bloom may be torn vs the settled
    # dim, so a snapshot-consistent caller can skip the prefilter
    assert churn.stale
    churn.current()
    assert churn.builds > churn._MAX_REBUILDS_PER_CALL  # still marked stale
    assert churn.stale


def test_build_bloom_arrow_collect_matches_row_collect_and_cap_build(spark):
    """r8 swap of build_bloom's driver collect from py4j Row objects to
    Arrow (toPandas + one vectorized scatter): (1) the produced words are
    BIT-IDENTICAL to an in-test replica of the old Row-collect fold, and
    (2) a cap-sized build (m_bits=2^27 -> 2^21 words, the case whose Row
    overhead motivated the swap) completes and probes correctly through
    the Arrow probe (the literal probe is capped at 2^20 by design)."""
    from dumpr_spark.operators.bloom import (
        _positions, bloom_semi_join_arrow, build_bloom,
    )

    keys = spark.range(0, 3000, 7).select(F.col("id").alias("k"))
    bloom = build_bloom(keys, "k", m_bits=1 << 14, k=5)

    rows = (
        keys.select(F.explode(_positions(F.col("k"), 5, 1 << 14)).alias("p"))
        .select(
            F.expr("p DIV 64 AS w"),
            F.expr("shiftleft(CAST(1 AS LONG), CAST(p % 64 AS INT)) AS mask"),
        )
        .groupBy("w").agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    expected = [0] * (1 << 8)
    for r in rows:
        expected[r["w"]] = r["bits"]
    assert bloom.words == expected

    big = build_bloom(keys, "k", m_bits=1 << 27, k=5)
    assert len(big.words) == (1 << 21)
    assert all(isinstance(w, int) for w in big.words[:4])
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))
    kept = {r["k"] for r in bloom_semi_join_arrow(probe, big, "k").collect()}
    members = set(range(0, 3000, 7))
    assert members <= kept
    # 429 keys in a 2^27-bit filter: fpp is ~0 — allow a whisker of slack
    assert len(kept - members) <= 3


def test_global_prefix_sums_matches_serial_scan(spark):
    """The three-pass prefix SCAN must equal a serial cumulative sum over
    the same order — on arbitrary (hash-shuffled) input placement, for
    several sum columns at once, with the offsets crossing every bucket
    boundary. Also pins the distinctness contract (ties raise)."""
    import random

    from dumpr_spark.operators.ntile import global_prefix_sums

    rnd = random.Random(8)
    rows = [(float(v), rnd.randint(0, 5), rnd.randint(0, 3))
            for v in rnd.sample(range(10_000), 700)]
    df = spark.createDataFrame(rows, "v double, a long, b long").repartition(13)
    got = {
        r["v"]: (r["a_cum"], r["b_cum"])
        for r in global_prefix_sums(df, "v", ["a", "b"]).collect()
    }
    ca = cb = 0
    for v, a, b in sorted(rows):
        ca, cb = ca + a, cb + b
        assert got[v] == (ca, cb), v

    import pytest

    dup = spark.createDataFrame([(1.0, 1), (1.0, 2)], "v double, a long")
    with pytest.raises(ValueError, match="distinct"):
        global_prefix_sums(dup, "v", ["a"])


def test_global_prefix_sums_with_totals_are_exact_literals(spark):
    """with_totals must attach the exact GLOBAL sum of every sum column as
    a constant (the same value on every row, equal to an independent
    aggregate, including rows parked in the NULL bucket), and the folded
    check_distinct guard must still raise on ties when totals are on."""
    import pytest

    from dumpr_spark.operators.ntile import global_prefix_sums

    rows = [(float(v), v % 7, 2 * v) for v in range(0, 400, 3)]
    rows.append((None, 5, 9))  # null-bucket row still counts toward totals
    df = spark.createDataFrame(rows, "v double, a long, b long").repartition(9)
    got = global_prefix_sums(
        df, "v", ["a", "b"], check_distinct=True, with_totals=True
    ).collect()
    exp_a = sum(r[1] for r in rows)
    exp_b = sum(r[2] for r in rows)
    assert {r["a_tot"] for r in got} == {exp_a}
    assert {r["b_tot"] for r in got} == {exp_b}
    # the final cum of the last non-null value + null bucket = the total
    last = max((r for r in got if r["v"] is not None), key=lambda r: r["v"])
    null_row = [r for r in got if r["v"] is None][0]
    assert last["a_cum"] + null_row["a"] == exp_a
    assert null_row["a_cum"] == exp_a

    dup = spark.createDataFrame([(1.0, 1), (1.0, 2)], "v double, a long")
    with pytest.raises(ValueError, match="distinct"):
        global_prefix_sums(dup, "v", ["a"], with_totals=True)


def test_global_prefix_sums_extra_total_cols(spark):
    """extra_total_cols must emit ONLY the exact grand-total literal (no
    <c>_cum column, no per-bucket window work), accumulate across every
    bucket including the NULL bucket, and reject the two caller bugs:
    extras without with_totals, and extras overlapping sum_cols."""
    import pytest

    from dumpr_spark.operators.ntile import global_prefix_sums

    rows = [(float(v), v % 5, 3 * v + 1) for v in range(0, 300, 7)]
    rows.append((None, 2, 11))
    df = spark.createDataFrame(rows, "v double, a long, b long").repartition(7)
    got = global_prefix_sums(
        df, "v", ["a"], with_totals=True, extra_total_cols=("b",)
    )
    assert "b_tot" in got.columns and "b_cum" not in got.columns
    out = got.collect()
    assert {r["b_tot"] for r in out} == {sum(r[2] for r in rows)}
    assert {r["a_tot"] for r in out} == {sum(r[1] for r in rows)}

    with pytest.raises(ValueError, match="with_totals"):
        global_prefix_sums(df, "v", ["a"], extra_total_cols=("b",))
    with pytest.raises(ValueError, match="overlaps"):
        global_prefix_sums(
            df, "v", ["a"], with_totals=True, extra_total_cols=("a",)
        )


def test_global_prefix_sums_rejects_malformed_args(spark):
    """r9 ADVICE item 3: sum_cols=[] used to build the malformed schema
    '_pid INT, ' and die inside createDataFrame; an input column named
    like an internal alias used to collide with the folded
    check_distinct guards. Both now fail loudly at argument time —
    BEFORE any plan is built, so valid calls' plans are untouched
    (A/B-diffed byte-identical across all four registered consumers)."""
    import pytest

    from dumpr_spark.operators.ntile import global_prefix_sums

    df = spark.createDataFrame(
        [(1.0, 2, 3)], "v double, a long, b long"
    )
    with pytest.raises(ValueError, match="non-empty"):
        global_prefix_sums(df, "v", [], with_totals=True,
                           extra_total_cols=("b",))
    bad = df.withColumnRenamed("a", "_nd")
    with pytest.raises(ValueError, match="collide"):
        global_prefix_sums(bad, "v", ["_nd"])
    bad2 = df.withColumnRenamed("b", "_pid")
    with pytest.raises(ValueError, match="collide"):
        global_prefix_sums(bad2, "v", ["a"], extra_total_cols=("_pid",),
                           with_totals=True)


def test_ivfpq_serving_invariants(spark, sf_dir):
    """The IVF-PQ read path must behave like a serving index: 5 results
    per query (32 queries), exact re-ranked sims non-increasing within a
    query, every served neighbor drawn from the ADC shortlist (adc_d2
    present), and the registered recall row consistent with an
    independent join of the served top-5 against brute force."""
    from dumpr_spark.functions import similarity as sim
    from dumpr_spark.queries.base import t
    from dumpr_spark.queries.llm import sim_ivfpq_recall, sim_ivfpq_topk

    top = sim_ivfpq_topk(spark, sf_dir).collect()
    assert len(top) == 160
    per = {}
    for r in top:
        per.setdefault(r["q_id"], []).append(r)
    for q_id, rows in per.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        sims = [r["sim"] for r in rows]
        assert sims == sorted(sims, reverse=True), q_id
        assert all(r["adc_d2"] is not None for r in rows)

    e = t(spark, sf_dir, "embeddings")
    exact = {
        (r["q_id"], r["n_id"])
        for r in sim.brute_force_topk(
            e, e.where("vec_id < 32"), k=5, round_eps=1e-9
        ).collect()
    }
    hits = sum((r["q_id"], r["n_id"]) in exact for r in top)
    rows = {(r["method"], r["dial"]): r
            for r in sim_ivfpq_recall(spark, sf_dir).collect()}
    base = rows[("ivfpq", 2)]
    assert base["n_exact"] == len(exact)
    assert 0.0 < base["recall"] < 1.0  # lossy by design, never empty
    # r11: the SERVED path runs at the calibrated dial (nprobe=4,
    # shortlist = max(32, ceil(n / cells))) — a shortlist superset of
    # the sweep's (nprobe=4, shortlist=32) leg at every sf, so served
    # recall must be >= that leg's (recall is monotone in shortlist at
    # fixed nprobe: a longer ADC shortlist only ADDS re-rank candidates)
    # compare the exact integers, not the eps-rounded recall (round-up
    # slack is ~5e-5, enough to flip the bound on benign data changes)
    leg = rows[("ivfpq", 4)]
    assert hits / len(exact) >= leg["hits"] / leg["n_exact"], (hits, leg)


def test_image_ahash_stub_and_packing():
    """Average-hash packing is the real algorithm on the stubbed grid:
    bit_i = 64*p_i >= sum (no float mean), big-endian nibbles, 16 hex
    chars. Pure-python checks against an independent reimplementation."""
    from dumpr_spark.functions.multimodal import _ahash_of, _ahash_stub

    # uniform grid: every 64*p == sum -> all bits set
    h, bits, mean = _ahash_of([7] * 64, 15.0)
    assert h == "f" * 16 and bits == 64 and mean == round(7 / 15 + 1e-9, 4)
    # one bright pixel: only it clears the threshold
    h, bits, _ = _ahash_of([15] + [0] * 63, 15.0)
    assert h == "8" + "0" * 15 and bits == 1

    a1 = _ahash_stub(b"payload-bytes")
    assert a1 == _ahash_stub(b"payload-bytes")      # deterministic
    assert a1 != _ahash_stub(b"payload-bytes2")     # sensitive
    assert len(a1[0]) == 16 and 0 <= a1[1] <= 64


def test_refreshing_bloom_aba_version_flip_rebuilds():
    """Review-caught ABA hole: version A -> (build from mid-churn data,
    version flips to B then back to A) must NOT let the stale
    (_fresh, _seen=A) pair from a previous call certify the torn
    artifact — the guard invalidates before every build, so the loop's
    next iteration rebuilds against the settled A."""
    from dumpr_spark.operators.bloom import BloomFilter, RefreshingBloom

    state = {"version": "A", "data": "clean-A", "aba": False}

    def build():
        if state["aba"]:
            # the rollback storyline: data was mid-overwrite during this
            # build, and the version lands back on A right after
            state["aba"] = False
            art = BloomFilter(words=[999], k=1)  # torn build
            state["version"] = "A"
            state["data"] = "clean-A"
            return art
        return BloomFilter(words=[len(state["data"])], k=1)

    holder = RefreshingBloom(build_fn=build, version_fn=lambda: state["version"])
    first = holder.current()
    assert holder.builds == 1

    # refresh starts: version B published, then rolls back mid-build
    state["version"] = "B"
    state["aba"] = True
    got = holder.current()
    # the torn build (words=[999]) was rebuilt once the version settled
    assert got.words != [999] and got.words == first.words
    assert holder.builds == 3  # torn build + settled rebuild
    assert holder.current() is got and holder.builds == 3  # now cached


def test_asof_join_nearest_null_left_time_yields_null(spark):
    """A NULL left timestamp has no |dt| to minimize: right columns come
    back NULL (review-caught: the forward carry's DESC ordering would
    otherwise hand the MIN-timestamp right row to the NULL-t left)."""
    from datetime import datetime

    from dumpr_spark.operators.asof import asof_join_nearest

    ldf = spark.createDataFrame(
        [(1, None, 1.0), (1, datetime(2026, 1, 1, 0, 0, 4), 2.0)],
        "k int, t timestamp, qty double",
    )
    rdf = spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 0, 0, 1), 10.0),
         (1, datetime(2026, 1, 1, 0, 0, 5), 50.0)],
        "k int, rt timestamp, px double",
    )
    got = {r["qty"]: r["px"]
           for r in asof_join_nearest(ldf, rdf, "k", "t", "rt",
                                      right_cols=["px"]).collect()}
    assert got[1.0] is None   # NULL t -> no match
    assert got[2.0] == 50.0   # |4-5|=1 < |4-1|=3


def test_ahash_near_dup_pairs_banded_recall(spark):
    """Image near-dup search composes the aHash fingerprints with the
    SimHash banding: (1) the hex->long signature conversion is exact
    two's-complement for ALL 64-bit patterns (a single conv() parse
    would NULL out on the top bit — pinned here); (2) pairs within
    hamming<=3 are found (pigeonhole recall), farther pairs are not;
    (3) exact-duplicate payloads pair at hamming 0 end-to-end through
    ahash_images."""
    from dumpr_spark.functions.multimodal import (
        ahash_near_dup_pairs, ahash_sig64, ahash_images,
    )

    # (1) conversion exactness, incl. sign-bit patterns
    hexes = ["ffffffffffffffff", "8000000000000000", "0000000000000001",
             "f0a1b2c3d4e5f607"]
    df = spark.createDataFrame([(h,) for h in hexes], "h string")
    got = {r["h"]: r["s"] for r in df.select("h", ahash_sig64(F.col("h")).alias("s")).collect()}
    for h in hexes:
        v = int(h, 16)
        assert got[h] == (v - (1 << 64) if v >= (1 << 63) else v), h

    # (2) banded recall: base hash, 2-bit-away twin (found), scrambled (not)
    base = int("00ff00ff00ff00ff", 16)
    near = base ^ 0b101          # 2 bits flipped, same high bands
    far = int("f00f0ff0aa55cc33", 16)
    fps = spark.createDataFrame(
        [(1, f"{base:016x}"), (2, f"{near:016x}"), (3, f"{far:016x}")],
        "asset_id long, ahash string",
    )
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in ahash_near_dup_pairs(fps, max_hamming=3).collect()}
    assert pairs == {(1, 2): 2}

    # (3) end-to-end: duplicate payloads -> identical ahash -> hamming-0 pair
    assets = spark.createDataFrame(
        [(0, "image", bytearray(b"same-bytes")),
         (3, "image", bytearray(b"same-bytes")),
         (6, "image", bytearray(b"other-bytes"))],
        "asset_id long, media_type string, payload binary",
    )
    fp = ahash_images(assets)
    dup_pairs = ahash_near_dup_pairs(fp, max_hamming=0).collect()
    assert {(r["a"], r["b"]) for r in dup_pairs} == {(0, 3)}


def test_global_prefix_sums_null_vals_isolated_last(spark):
    """NULL val_col rows sort LAST in their own bucket: their cumulative
    values include every non-null row's contribution, and non-null rows'
    prefix sums are unaffected by the NULLs' presence (contract from the
    docstring; the +1 bucket id keeps them out of the top value bucket)."""
    from dumpr_spark.operators.ntile import global_prefix_sums

    rows = [(1.0, 10), (2.0, 20), (None, 1), (3.0, 30)]
    df = spark.createDataFrame(rows, "v double, a long").repartition(3)
    got = global_prefix_sums(df, "v", ["a"], check_distinct=True).collect()
    by_v = {r["v"]: r["a_cum"] for r in got if r["v"] is not None}
    assert by_v == {1.0: 10, 2.0: 30, 3.0: 60}
    nulls = [r["a_cum"] for r in got if r["v"] is None]
    assert nulls == [61]  # after ALL non-null rows

    # two NULLs still pass the distinctness guard (one null key allowed)...
    dfn = spark.createDataFrame([(1.0, 1), (None, 2), (None, 3)],
                                "v double, a long")
    import pytest
    with pytest.raises(ValueError, match="distinct"):
        global_prefix_sums(dfn, "v", ["a"])


def test_ahash_real_decode_when_pillow_present(spark):
    """r9 (r8 verdict item 7): the REAL-decode aHash path
    (functions/multimodal._ahash_image_real) has never executed in this
    container (Pillow absent -> skip); in any environment where Pillow
    imports, this proves the path instead of trusting it: a real PNG
    flows through the SAME Spark mapInPandas plumbing (ahash_images),
    produces the stub-identical schema, matches an in-test replica of
    the packing over Pillow's own 8x8 luma grid (version-tolerant — no
    hardcoded hash), and is demonstrably NOT the sha256 stub."""
    import pytest as _pytest

    PIL_Image = _pytest.importorskip("PIL.Image")
    import io

    from dumpr_spark.functions.multimodal import (
        AHASH_SCHEMA, _ahash_of, _ahash_stub, ahash_images,
    )

    buf = io.BytesIO()
    img = PIL_Image.new("L", (16, 16))
    img.putdata([(x * 16 + y * 3) % 256 for x in range(16) for y in range(16)])
    img.save(buf, format="PNG")
    png = buf.getvalue()

    assets = spark.createDataFrame(
        [(1, "image", bytearray(png))],
        "asset_id long, media_type string, payload binary",
    )
    got = ahash_images(assets).collect()
    assert len(got) == 1
    row = got[0]
    assert [f.name for f in AHASH_SCHEMA.fields] == list(row.asDict().keys())
    # replica: Pillow's own grayscale 8x8 grid through the shared packing
    with PIL_Image.open(io.BytesIO(png)) as im:
        px = list(im.convert("L").resize((8, 8)).getdata())
    exp_hash, exp_bits, exp_luma = _ahash_of(px, 255.0)
    assert (row["ahash"], row["bits_set"], row["mean_luma"]) == (
        exp_hash, exp_bits, exp_luma
    )
    # and it is the REAL decode, not the hash stub
    assert row["ahash"] != _ahash_stub(png)[0]


def test_compactor_marker_copy_fallback_without_hardlinks(spark, tmp_path, monkeypatch):
    """r15 advice item 5: compact_small_files is a GENERIC operator — on a
    filesystem that refuses hardlinks, the root-level marker carry falls
    back to a plain copy instead of aborting the compaction pre-swap."""
    import json
    import os

    from dumpr_spark.operators.scale import compact_small_files

    path = str(tmp_path / "nolink")
    spark.range(1000).withColumn("k", F.col("id") % 4).repartition(16) \
        .write.partitionBy("k").parquet(path)
    marker = os.path.join(path, "_my_policy.json")
    with open(marker, "w") as f:
        json.dump({"width": 7, "origin": 0}, f)

    def no_link(src, dst, *a, **kw):
        raise OSError(95, "Operation not supported")

    monkeypatch.setattr("os.link", no_link)
    compact_small_files(spark, path, target_file_mb=128)
    with open(marker) as f:
        assert json.load(f) == {"width": 7, "origin": 0}
    assert spark.read.parquet(path).count() == 1000
