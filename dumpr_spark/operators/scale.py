"""Scale toolkit: the partitioning/shuffle strategies that keep the declared
operators viable at 100 TB (SURVEY §2.3, §4.2).

These are composition helpers over public DataFrame APIs — no custom Catalyst
rules. Each encodes one decision Catalyst cannot make for you:

- `salted_join`: a hot key floods one shuffle partition in an equi-join; AQE
  skew-split handles sort-merge spills but not the straggler task reading one
  giant build side. Salting N-ways makes the skewed key N parallel tasks.
- `write_bucketed`/`bucketed_table`: pre-shuffle a fact table ONCE on its join
  key so every later join/aggregation on that key is shuffle-free (the
  repeated-join amortization Catalyst can't infer across jobs).
- `write_partitioned`: directory partitioning for partition pruning — a time
  or tenant predicate then prunes whole files at planning time.
- `fan_out`: the one fan-out rule — repartition to the session parallelism
  before a heavy per-row stage, only when the file scan under-parallelizes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: explode `right` `salt`-ways, scatter `left`
    randomly across the salts, join on (key, salt).

    Use when `left` has heavy hitters on `on` and `right` is too big to
    broadcast. Cost: `right` is replicated `salt` times — pick the smaller
    side as `right`. Result equals a plain `left.join(right, on, how)`.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (replication-safe)")
    # Deterministic salt: hash of the full row content. A nondeterministic
    # source (rand/monotonically_increasing_id) feeding a shuffle key is the
    # classic stage-retry hazard — recomputed tasks re-salt rows differently
    # and the join silently duplicates/loses rows. Content-hashing is
    # retry-stable; the residual caveat (many *identical* rows share one salt)
    # only matters for exact-duplicate-heavy inputs, which exact-dedup first.
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int")
    l_salted = left.withColumn("_salt", salt_col)
    r_salted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return l_salted.join(r_salted, [on, "_salt"], how).drop("_salt")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned write => partition pruning on read.

    At 100 TB, pair with a sort within partitions on the secondary filter
    column so min/max footer stats prune row groups too.
    """
    (
        df.sortWithinPartitions(*partition_cols)
        .write.format(fmt)
        .partitionBy(*partition_cols)
        .mode(mode)
        .save(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows hash-partitioned into `num_buckets` files
    by `bucket_col` at write time. Joins/aggregations keyed on `bucket_col`
    between tables with the SAME bucketing skip the shuffle entirely
    (SortMergeJoin with zero Exchange)."""
    writer = df.write.format("parquet").bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.mode(mode).saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def dataset_fingerprint(
    *paths: str, identity: Callable[[str], str] | None = None
) -> str:
    """Deterministic 8-hex version stamp for a set of source files: md5
    over each path plus its (size, mtime_ns). A DIRECTORY path (the
    normal shape of a parquet dataset) is fingerprinted by recursing
    over its contained files (sorted relative name + size + mtime_ns
    each): the directory inode's own size/mtime does NOT reliably move
    when a same-named part file is rewritten in place, so hashing the
    directory stat alone could silently serve a stale layout over
    changed data. Any rewrite of the inputs moves the fingerprint, so
    layouts keyed by it rebuild exactly when the data they were cut
    from changes.

    Object stores (the local-FS assumption, made swappable): size+
    mtime_ns identity is a LOCAL filesystem contract. On an object
    store, mtime is the upload time of whatever copy landed last (a
    same-bytes re-upload moves it, a multipart race may not), so the
    identity source there is the store's own version metadata. Pass
    `identity` — a callable `path -> str` returning the store's version
    token for one object (S3 etag/version-id via HeadObject, GCS
    generation) — and the same sorted-md5 fold runs over those tokens
    instead of stat tuples; directory recursion stays local-FS-only (an
    object-store "directory" is a listing the identity callable's
    owner resolves — pass the object keys as `paths`). Call sites don't
    change: only the identity probe is store-specific."""
    import hashlib
    import os

    h = hashlib.md5()
    for p in sorted(paths):
        if identity is not None:
            # length-prefixed + mode-tagged record: a token containing
            # the `|`/`;` delimiters (composite etag|generation forms)
            # must not alias a differently-split dataset, and an
            # identity record must never collide with a stat record
            tok = identity(p)
            h.update(f"<id>{len(p)}|{p}{len(tok)}|{tok};".encode())
        elif os.path.isdir(p):
            # the path itself always hashes: an EMPTY directory (a wiped
            # dataset) must not alias its own absence or another empty dir
            h.update(f"{p}|<dir>;".encode())
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    rel = os.path.relpath(fp, p)
                    fst = os.stat(fp)
                    h.update(
                        f"{p}|{rel}|{fst.st_size}|{fst.st_mtime_ns};".encode()
                    )
        else:
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{st.st_mtime_ns};".encode())
    return h.hexdigest()[:8]


def ensure_bucketed_layout(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    bucket_col: str,
    fingerprint: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
) -> str:
    """Build-once bucketed layout: write `df` as the bucketed managed
    table `{name}_{fingerprint}` unless that table already exists, and
    return the table name. The ONE-TIME layout cost this encodes is the
    whole point of bucketing — every subsequent join/aggregation keyed on
    `bucket_col` reads the existing buckets shuffle-free, so callers must
    NOT pay the write on every query (the r9-review finding against
    join_bucketed_colocated's original drop-and-rewrite form).

    Versioning: the fingerprint (see `dataset_fingerprint`) keys the
    layout to the exact source-data version — new data means a new table
    name, never an in-place mutation, so a reader of the old layout is
    undisturbed (the RefreshingBloom discipline). A reused table is
    VALIDATED against the request (column names/types, bucket column,
    bucket count): the fingerprint tracks the SOURCE data, not the
    caller's projection, so a code change with unchanged inputs must
    fail loudly rather than silently serve the stale layout.

    Concurrency: with a persistent shared metastore (any real
    deployment), `tableExists` serializes builders through the catalog —
    a lost `saveAsTable` race surfaces as the writer's own error after
    which the winner's identical table is validated and reused. With a
    session-scoped embedded catalog (local/test), bucket METADATA dies
    with the process while the warehouse directory survives; such a
    cold-catalog orphan is unreferenced in THIS catalog and
    re-registering it as an external table would silently LOSE the
    bucketed-scan property, so on a local filesystem it is removed and
    rebuilt (content is pinned by the fingerprint). That rebuild assumes
    ONE writer per shared local warehouse — embedded catalogs cannot see
    each other's registrations, so nothing stronger is possible without
    a real metastore. On a non-local warehouse no orphan handling is
    attempted (a persistent metastore is assumed; if an orphan somehow
    exists, the writer's LOCATION_ALREADY_EXISTS surfaces as-is rather
    than this helper guessing at remote deletes).

    Stale generations are dropped through the catalog with DROP TABLE by
    `gc_layouts` — never a raw directory delete of a live table."""
    table = f"{name}_{fingerprint}"
    if not spark.catalog.tableExists(table):
        import os
        import shutil
        from urllib.parse import urlparse

        # resolve the location saveAsTable would use THROUGH the catalog
        # (the current database's locationUri + table name) — joining
        # warehouse.dir with the bare table name is wrong whenever the
        # session's current database is not `default` (<wh>/<db>.db/<t>)
        # or the database was created with a custom LOCATION
        db = urlparse(
            spark.catalog.getDatabase(spark.catalog.currentDatabase()).locationUri
        )
        loc = os.path.join(db.path, table)
        if db.scheme in ("", "file") and os.path.exists(loc):
            shutil.rmtree(loc)  # cold-catalog orphan (see docstring)
        try:
            write_bucketed(df, table, bucket_col,
                           num_buckets=num_buckets, sort_col=sort_col)
        except Exception:
            # a concurrent builder may have won the metastore race; if
            # the table is now live it is validated below and reused,
            # otherwise the writer's error stands
            if not spark.catalog.tableExists(table):
                raise
    _validate_layout(spark, table, df, bucket_col, num_buckets)
    return table


def _validate_layout(spark, table, df, bucket_col, num_buckets) -> None:
    """Raise if an existing layout generation does not match the request
    (schema, bucket column, bucket count) — a same-fingerprint mismatch
    means the CALLER changed (projection or bucketing), and serving the
    stale table would silently change results or reintroduce the
    Exchange the layout exists to remove."""
    got = spark.table(table)
    want_schema = [(f.name, f.dataType.simpleString()) for f in df.schema]
    got_schema = [(f.name, f.dataType.simpleString()) for f in got.schema]
    desc = {
        r["col_name"]: (r["data_type"] or "").strip()
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    got_buckets = desc.get("Num Buckets", "")
    got_bucket_cols = desc.get("Bucket Columns", "")
    problems = []
    if got_schema != want_schema:
        problems.append(f"schema {got_schema} != requested {want_schema}")
    if got_buckets != str(num_buckets):
        problems.append(f"Num Buckets {got_buckets!r} != {num_buckets}")
    if f"`{bucket_col}`" not in got_bucket_cols:
        problems.append(
            f"Bucket Columns {got_bucket_cols!r} missing `{bucket_col}`")
    if problems:
        raise ValueError(
            f"bucketed layout {table} exists but does not match the "
            f"request ({'; '.join(problems)}). The caller's projection or "
            "bucketing changed without the source data changing — use a "
            "new layout name, or DROP TABLE the stale generation."
        )


def gc_layouts(spark: SparkSession, name: str, keep_fingerprint: str) -> int:
    """Drop every `{name}_<fingerprint>` layout GENERATION except the
    current one — catalog-mediated cleanup (DROP TABLE removes a managed
    table's files), never a raw directory delete. Only names matching
    the exact generation shape (`{name}_` + 8 hex chars) are touched, so
    a user table that merely shares the prefix (`{name}_backup`) is
    never dropped. Returns the number dropped.

    This is an OUT-OF-BAND maintenance step, not a query step (r10
    advice): DROP TABLE deletes a managed table's files immediately, so
    under a shared metastore a concurrent session still mid-scan on an
    old generation would fail — which is exactly the disturbance the
    fingerprint-per-generation discipline exists to avoid. Run it on the
    maintenance cadence (with compact_files and the sink compaction),
    after in-flight readers of the previous generation have drained;
    `ensure_bucketed_layout` never calls it."""
    import re

    pat = re.compile(re.escape(name) + r"_[0-9a-f]{8}$")
    dropped = 0
    for tbl in spark.catalog.listTables():
        if pat.fullmatch(tbl.name) and tbl.name != f"{name}_{keep_fingerprint}":
            spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")
            dropped += 1
    return dropped


def scan_splits(df: DataFrame) -> int:
    """Estimated scan-partition count of a file-backed scan, from file
    metadata only. `df.rdd.getNumPartitions()` answers the same question but
    converts the plan to an RDD and runs a job (~1 s of driver/JVM work PER
    CALL on a fresh DataFrame) — far too expensive for a planning-time
    heuristic that gates a repartition. File listing + sizes is O(files)
    metadata.

    Mirrors Spark's FilePartition packing (FilePartition.maxSplitBytes):
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / defaultParallelism)) where totalBytes pads each file with
    openCostInBytes; partitions ~= ceil(totalBytes / maxSplitBytes). The
    bytes-per-core term matters: one 1 GB file on a 32-core session scans
    as ~32 partitions, not ceil(1GB/128MB)=8, and the open-cost padding
    keeps many-tiny-files estimates honest (they bin-pack into few
    partitions).

    Multi-source caveat: `df.inputFiles()` sums files over the WHOLE plan,
    so for a multi-source df (e.g. a join whose other side is also
    file-backed) the estimate includes the other side's bytes — it can
    only OVER-estimate splits, i.e. suppress a fan-out, never add one.
    That errs on the safe side (no blind shuffle), but callers probing a
    specific heavy leg should pass that leg's base DataFrame, not the
    joined plan."""
    import math
    import os

    spark = df.sparkSession

    def _conf_bytes(key: str, default: int) -> int:
        try:
            v = spark.conf.get(key)
        except Exception:
            return default
        try:
            v = v.strip().lower().rstrip("b")
            for suf, mult in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
                if v.endswith(suf):
                    return int(float(v[:-1]) * mult)
            return int(v)
        except (ValueError, AttributeError):
            return default

    max_partition_bytes = _conf_bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _conf_bytes("spark.sql.files.openCostInBytes", 4 << 20)
    parallelism = spark.sparkContext.defaultParallelism

    total = 0
    for f in df.inputFiles():
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.path.getsize(path) + open_cost
        except OSError:  # non-local / unreadable: count the open cost alone
            total += open_cost
    if total == 0:
        return 0
    max_split = min(max_partition_bytes, max(open_cost, total // max(parallelism, 1)))
    return math.ceil(total / max(max_split, 1))


def fan_out(df: DataFrame, *cols: str, by_range: bool = False) -> DataFrame:
    """Scale-adaptive fan-out before a heavy per-row stage (guide §2 posture):
    repartition to the session parallelism ONLY when the file-backed scan
    under-parallelizes (fewer estimated splits than half the cores) — the
    compact-single-file regime of the local testdata. On a cluster-scale
    input the scan is already wide and this is a zero-cost no-op, so the
    shuffle is never paid where it buys nothing.

    Modes:
    - no `cols`: round-robin (pure parallelism; pays the sort-before-
      repartition of keyless round-robin, use for cheap narrow inputs).
    - `cols`, by_range=False: hash on `cols` — downstream groupBy/window
      keyed on a superset of `cols` then REUSES this exchange (hash
      partitioning on a subset of the clustering keys satisfies
      ClusteredDistribution), collapsing two shuffles into one.
    - `cols`, by_range=True: range on `cols` — additionally a trailing
      global orderBy whose sort keys extend `cols` needs NO further
      exchange (RangePartitioning prefix-satisfies OrderedDistribution);
      costs one extra sampling pass over the (narrow, local-only) input.
    """
    splits = scan_splits(df)
    if splits == 0 or splits >= df.sparkSession.sparkContext.defaultParallelism // 2:
        # 0 = not file-backed (in-memory/derived input): its distribution is
        # whatever the producing stage chose — don't shuffle blind.
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if not cols:
        return df.repartition(n)
    if by_range:
        return df.repartitionByRange(n, *[F.col(c) for c in cols])
    return df.repartition(n, *[F.col(c) for c in cols])


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (for tests that assert plan shape)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
    schema=None,
    order_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a table directory into
    ceil(bytes / target) files and atomically swap it in. Returns the new
    file count.

    The operational tail of any streaming-written table: micro-batches
    accumulate many small files, and at 100 TB scan cost is driven by file
    count (footer reads, task scheduling) as much as bytes. Run
    out-of-band, same swap discipline as MergeSink (write aside, rename,
    drop old) including torn-swap recovery: a crash between the two
    renames leaves only the .compact-bak copy, restored here before
    anything reads. Local-FS rename
    semantics — on an object store use a rename-free committer / table
    format, same caveat as MergeSink (SCALE.md).

    Hive-partitioned directories (``col=value`` subdirs, incl. MergeSink
    state's ``tbl=`` layout) are detected and re-written with the SAME
    ``partitionBy``, so downstream partition pruning — and MergeSink's
    per-table hardlink carry-forward — keep working. Rows are repartitioned
    on the partition columns, so each partition value compacts to one file
    (a single value larger than ``target_file_mb`` stays one file; split it
    upstream if that ever matters).

    Pass ``schema`` (a StructType covering data AND partition columns) to
    pin the read: without it, partition-value inference re-TYPES
    numeric-looking directory values — a table named '007' (``tbl=007``)
    reads back as int 7 and rewrites as ``tbl=7``, silently splitting keys.
    The merge sinks do not call this: `MergeSink.compact_files` rewrites
    sink state through the sink's own `_commit`. Pointed at a sink
    directory by hand, pass the sink's `_ext_schema()`; the sink's
    `_recover` restores this function's ``.compact-bak``.

    Pass ``order_by`` to lay the rewrite out for data skipping (zone maps):
    unpartitioned data is range-repartitioned on those columns so output
    FILES carry narrow, pairwise-disjoint min/max footer stats — a reader
    filtering on the sort key prunes whole files, not just row groups;
    partitioned data keeps one-file-per-partition and sorts WITHIN each
    file so row-group stats line up instead. At 100 TB this is the
    difference between scanning a key's one file and scanning the table."""
    import math
    import os
    import shutil

    bak0 = path.rstrip("/") + ".compact-bak"
    if not os.path.exists(path) and os.path.exists(bak0):
        os.rename(bak0, path)

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    part_cols = _hive_partition_cols(path)
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(path)
    tmp = path.rstrip("/") + ".compact-tmp"
    bak = path.rstrip("/") + ".compact-bak"
    shutil.rmtree(tmp, ignore_errors=True)
    if part_cols:
        shaped = df.repartition(n_files, *[F.col(c) for c in part_cols])
        if order_by:
            shaped = shaped.sortWithinPartitions(*part_cols, *order_by)
        shaped.write.format(fmt).partitionBy(*part_cols).mode("overwrite").save(tmp)
    else:
        if order_by:
            shaped = df.repartitionByRange(n_files, *order_by).sortWithinPartitions(
                *order_by
            )
        else:
            shaped = df.repartition(n_files)
        shaped.write.format(fmt).mode("overwrite").save(tmp)
    # carry root-level underscore marker FILES (e.g. the _kb_policy.json
    # of a sink directory this is pointed at) into the rewrite BEFORE the
    # swap: otherwise the swap leaves state that was cut by a known policy
    # with no marker, and a later key_bucket="auto" restart is refused as
    # if the layout were opaque (r14 advice item 2). Hardlink, same
    # immutability argument as the sink's carry-forward; _SUCCESS is the
    # writer's own and stays fresh.
    # This is a GENERIC operator (not sink-only), so a filesystem that
    # refuses hardlinks (or a marker living on another device) falls back
    # to a plain copy — markers are small metadata files, and aborting
    # the whole compaction pre-swap over a link refusal would be a new
    # failure mode for non-sink callers (r15 advice item 5).
    for f in os.listdir(path):
        src = os.path.join(path, f)
        if (f.startswith("_") and f != "_SUCCESS" and os.path.isfile(src)
                and not os.path.exists(os.path.join(tmp, f))):
            try:
                os.link(src, os.path.join(tmp, f))
            except OSError:
                shutil.copy2(src, os.path.join(tmp, f))
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
    n_out = 0
    for root, _dirs, files in os.walk(path):
        n_out += sum(1 for f in files if not f.startswith(("_", ".")))
    return n_out


def _hive_partition_cols(path: str) -> list[str]:
    """Partition column names from a directory's ``col=value`` structure
    (outermost first), [] for an unpartitioned layout.

    Underscore-PREFIXED partition dirs are real partitions, not metadata:
    Spark's own partition discovery accepts them (MergeSink's bucketed
    layout is ``tbl=X/_kb=N``), and the staging/metadata names this skip
    exists for (``_temporary``, ``_SUCCESS``, ``.spark-staging``) never
    contain ``=`` — requiring the ``=`` is the correct filter. (Skipping
    them flattened a bucketed state's _kb level on compaction, which
    would then drop untouched buckets at the next fold's carry-forward —
    caught by test_merge_sink_key_bucketed_survives_file_compaction.)"""
    import os

    cols: list[str] = []
    cur = path
    while True:
        nxt = None
        for d in sorted(os.listdir(cur)):
            full = os.path.join(cur, d)
            if os.path.isdir(full) and "=" in d and not d.startswith("."):
                nxt = (d.split("=", 1)[0], full)
                break
        if nxt is None:
            return cols
        cols.append(nxt[0])
        cur = nxt[1]
