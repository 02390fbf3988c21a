"""Deduplication operators: exact, MinHash-LSH near-dup, SimHash, n-gram
Jaccard (SURVEY §2.2-J; the north-star training-data pipeline surface).

Scale design:
- exact dedup = hash-groupBy: one shuffle on the content hash; at 100 TB the
  hash (16 bytes) shuffles, never the document bodies.
- MinHash-LSH = shingle explode -> per-doc signature (one shuffle) -> band
  bucket join (shuffle on short band keys). Candidate verification touches
  only bucket-colliding pairs — O(n·sig) not O(n²).
- hashes are md5-based so the DuckDB oracle can recompute them bit-for-bit
  (xxhash64 would be faster but is not oracle-checkable; swap via `hash_fn`
  at deployment if cross-engine checkability is not needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text. Window form (keeps full rows);
    for key-only output prefer groupBy(min) which gets map-side combine."""
    w = Window.partitionBy(text_col).orderBy(F.asc(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def content_hash(col, bits: int = 256):
    """Content hash for exact dedup at scale — here md5 for oracle parity;
    sha2-256 for adversarial settings."""
    return F.md5(col)


def shingles(col, k: int = 3):
    """k-word shingles as strings ('w1 w2 w3')."""
    toks = F.split(col, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)])),
    ).otherwise(F.array(col))


# Carter-Wegman minhash family over a 56-bit md5-derived base hash.
# One md5 per shingle; family member i is (A[i]*h + B[i]) mod P — 8x fewer
# digest computations than md5-per-seed, same collision behavior, and still
# bit-reproducible in the DuckDB oracle (('0x'||substr(md5,1,14))::BIGINT).
# Overflow-safe in BOTH engines' int64: A[i] < 64, h < 2^56, B[i] < 2^60
# => A[i]*h + B[i] < 2^63.
MINHASH_P = (1 << 61) - 1
_GOLDEN = 0x9E3779B97F4A7C15


def minhash_family(num_hashes: int) -> list[tuple[int, int]]:
    if not 0 < num_hashes <= 32:
        # a = 2h+1 must stay < 64 for the overflow bound above to hold
        raise ValueError(f"num_hashes must be in 1..32, got {num_hashes}")
    return [(2 * h + 1, ((h + 1) * _GOLDEN) % (1 << 60)) for h in range(num_hashes)]


def minhash_base_hash(col):
    """56-bit integer base hash of a shingle: first 14 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("long")


def minhash_signature(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 8, k: int = 3,
                      pre_partitioned: bool = False) -> DataFrame:
    """Per-doc MinHash signature: num_hashes columns mh0..mh{n-1}, each the
    min over the doc's shingles of family hash i (see minhash_family).

    One explode + one groupBy(id) — partial min combines map-side, so the
    shuffle carries one row per (doc, hash), not per shingle. Duplicate
    shingles need no dedup: min over a multiset equals min over its set.

    The pre-explode fan-out matters: a compact corpus file arrives in few
    input partitions, and the explode multiplies rows ~100x — fan the rows
    out across the cluster BEFORE the multiplication so shingling
    parallelizes. r17: the fan-out is CONDITIONAL (operators.scale.fan_out)
    — on a cluster-scale input the scan is already many splits and the old
    unconditional repartition was a full round-robin shuffle of the corpus
    for nothing. Callers whose input is already the product of a shuffle
    (e.g. the scaled path's rep election) pass ``pre_partitioned=True`` to
    skip the file-metadata probe entirely."""
    proj = df.select(id_col, text_col)
    if not pre_partitioned:
        from dumpr_spark.operators.scale import fan_out

        proj = fan_out(proj)
    sh = (
        proj
        .select(F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("sh"))
        .select(F.col(id_col), minhash_base_hash(F.col("sh")).alias("h"))
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_family(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """Banding: hash each band of `band_size` signature slots to a bucket key.
    Output: (id, band_idx, band_key) — long-thin, ideal shuffle shape."""
    bands = []
    for b in range(num_hashes // band_size):
        cols = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        bands.append(F.struct(F.lit(b).alias("band_idx"), F.md5(F.concat_ws("|", *cols)).alias("band_key")))
    return (
        sig.select(F.col(id_col), F.explode(F.array(*bands)).alias("b"))
        .select(id_col, F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key"))
    )


def lsh_candidate_pairs(bands: DataFrame, id_col: str = "doc_id",
                        max_bucket_size: int | None = None) -> DataFrame:
    """Bucket grouping -> distinct candidate pairs (a < b).

    max_bucket_size guards against degenerate buckets: a bucket of c docs
    yields c(c-1)/2 pairs, and on duplicate-heavy corpora identical docs
    share ALL bands — one 10k-copy document is 50M pairs per band. Buckets
    over the cap are dropped (their members still pair via their other,
    smaller buckets, or should have been collapsed by the exact pre-pass —
    see minhash_lsh_pairs_scaled). None = no cap (exact oracle parity)."""
    # Grouped-bucket pair generation, NOT a bucket self-join: a self-join
    # evaluates the whole corpus->signature->bands subtree twice (broadcast
    # side is its own plan; ReuseExchange does not fire across the join's two
    # shuffles in practice — measured 2x on the flagship query) and shuffles
    # the bands twice. Collecting each bucket's members into ONE sorted array
    # shuffles the bands once, evaluates the subtree once, and emits each
    # bucket's c(c-1)/2 pairs with pure array transforms. The collected
    # array is safe because over-cap buckets are COUNT-filtered out first
    # (below) — production corpora use the capped scaled path
    # (minhash_lsh_pairs_scaled); uncapped is the oracle-parity mode whose
    # memory profile is the pair blowup itself.
    if max_bucket_size is not None:
        # Pre-filter over-cap buckets with a COUNT aggregate BEFORE any
        # collect_list: counting is a cheap partial agg, while collecting a
        # degenerate bucket would materialize its whole member array on one
        # reducer — the exact blowup the cap exists to prevent. The
        # checkpoint keeps the bands subtree from evaluating twice for the
        # count pass and the semi-join.
        bands = bands.localCheckpoint(eager=False)
        ok = (
            bands.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
        bands = bands.join(ok, ["band_idx", "band_key"], "left_semi")
    grouped = bands.groupBy("band_idx", "band_key").agg(
        F.sort_array(F.collect_list(id_col)).alias("_ids")
    )
    ids = F.col("_ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.where(F.size("_ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        # strict < : duplicate (id, band) input rows sit adjacent in the
        # sorted array and would otherwise emit a self-pair (x, x)
        .where(F.col("p.a") < F.col("p.b"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 8, band_size: int = 2, k: int = 3,
                      max_bucket_size: int | None = None,
                      pre_partitioned: bool = False) -> DataFrame:
    sig = minhash_signature(df, id_col, text_col, num_hashes, k, pre_partitioned)
    return lsh_candidate_pairs(lsh_bands(sig, id_col, num_hashes, band_size), id_col,
                               max_bucket_size)


def exact_prepass_edges(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Collapse exact copies before LSH: returns (edges, rep_ids) where edges
    are (member, representative) pairs linking each copy to the min-id doc
    with identical content, and rep_ids is one id per distinct text.

    One hash-groupBy (16-byte md5 shuffle keys, never the bodies)."""
    h = df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_h"))
    reps = h.groupBy("_h").agg(F.min(id_col).alias("_rep"))
    joined = h.join(reps, "_h")
    edges = (
        joined.where(F.col(id_col) != F.col("_rep"))
        .select(F.col(id_col).alias("a"), F.col("_rep").alias("b"))
    )
    return edges, reps.select(F.col("_rep").alias(id_col))


def minhash_lsh_pairs_scaled(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                             num_hashes: int = 8, band_size: int = 2, k: int = 3,
                             max_bucket_size: int | None = 1000) -> DataFrame:
    """Duplicate-heavy-safe LSH pair generation — the 100 TB shape.

    Identical documents collide on EVERY band, so a c-copy document makes the
    plain bucket self-join quadratic in c. Here exact copies are collapsed to
    one representative first (linear hash-groupBy), LSH runs over distinct
    texts only, and a bucket-size cap bounds any residual near-dup blowup.
    Output edges span the ORIGINAL ids: (copy -> representative) edges unioned
    with representative-level LSH candidate pairs — connected_components over
    them yields the same clusters as the naive form, without the c² pairs.

    r17/r18 shape: the rep election is ONE hash-groupBy (min id + min_by
    text — map-side partial combine: one candidate text per distinct hash
    per input partition crosses the wire, on a duplicate-heavy corpus LESS
    than one full-corpus pass), and the copy->rep edges come from a
    SEPARATE narrow leg: project (id, 16-byte md5), one hash exchange of
    those 24-byte rows, and a min-over-partition WINDOW. The window's row
    buffer spills (ExternalAppendOnlyUnsafeRowContainer), so a hot
    duplicate class — one boilerplate page copied 10M times — costs disk,
    not an executor OOM; the r17 form collected every member id of a class
    into ONE collect_list aggregation buffer, the exact §5 blowup this
    operator exists to avoid. The price is a second corpus read (the edge
    leg re-derives (id, md5) from the scan); the rejected alternatives are
    strictly worse at volume: collect_list = unbounded memory, and a
    single shared window over (id, text, md5) would shuffle EVERY copy's
    text where the groupBy ships one candidate per partition (guide §8:
    re-reading beats moving payload bytes). Grouping/partitioning by the
    md5 (never the raw text) keeps both shuffle keys narrow and matches
    the oracle's hmap/reps CTEs bit-for-bit.

    (`exact_prepass_edges` keeps the join-based shape for payloads that must
    NOT ride a shuffle or an aggregation buffer — the multimodal twin's
    binary payloads — where re-scanning beats moving the bytes.)"""
    from dumpr_spark.operators.scale import fan_out

    # NO checkpoint on grp, deliberately: since r18 it has ONE consumer
    # (the LSH leg; edges moved to their own narrow window leg below), and
    # the r17 A/B already measured an explicit localCheckpoint SLOWER
    # (interleaved at sf0.1: 2.09 s no-ckpt vs 2.42 s ckpt vs 3.19 s
    # pre-r17 three-leg prepass) because the RDD cache pays serialization
    # of the text payloads. (The bands checkpoint below this path stays:
    # its consumers' exchanges are NOT identical — count-filter vs
    # collect — so reuse cannot fire there.)
    grp = (
        df.select(F.col(id_col), F.col(text_col), content_hash(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("_rep"),
            F.min_by(F.col(text_col), F.col(id_col)).alias(text_col),
        )
    )
    # Edge leg: narrow (id, md5) rows, one exchange, spillable window —
    # never an aggregation-buffer array of member ids (docstring above).
    hn = df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_h"))
    edges = (
        hn.select(
            F.col(id_col),
            F.min(id_col).over(Window.partitionBy("_h")).alias("_rep"),
        )
        .where(F.col(id_col) != F.col("_rep"))
        .select(F.col(id_col).alias("a"), F.col("_rep").alias("b"))
    )
    reps_df = grp.select(F.col("_rep").alias(id_col), F.col(text_col))
    # Re-fan the rep table before the ~100x shingle explode when the CORPUS
    # scan is narrow (file-metadata probe, no job): on tiny local inputs AQE
    # coalesces the rep-election shuffle to ~1 partition, and without this
    # the whole signature stage runs on one task (measured 2x regression).
    # On a cluster-wide scan the rep table keeps advisory-sized partitions
    # and no re-shuffle is paid — the input width is the cheap, faithful
    # proxy (a narrow-input corpus can only produce a narrow rep table).
    reps_df = fan_out(reps_df)
    lsh = minhash_lsh_pairs(reps_df, id_col, text_col, num_hashes, band_size, k,
                            max_bucket_size, pre_partitioned=True)
    return edges.unionByName(lsh)


def subset_candidate_pairs(cands: DataFrame,
                           sample_frac: float | None = None,
                           max_pairs: int | None = None) -> DataFrame:
    """Deterministic subsetting of an (a, b) candidate-pair list — the
    shared volume dial for every exact-rescoring leg (the only
    super-linear growers in the engine: shingle_overlap_pairs behind
    minhash_accuracy_audit and dedup_jaccard_containment).

    - ``sample_frac``: keep a pair iff its md5 hash-bucket falls under
      the fraction (`functions/sampling.hash_bucket` discipline) —
      stable across runs/engines, unbiased in the pair population.
    - ``max_pairs``: deterministic top-N by the pair's md5 key, compiled
      to TakeOrderedAndProject (per-partition heap, never a full sort) —
      a hard output bound when candidate volume is unknown.

    Both default to None: the FULL population (the driver-gate-checked
    path). Filters land on the pair list itself, BEFORE the expensive
    exact leg joins shingle sets, so the subset is what gets rescored."""
    if sample_frac is not None:
        if not 0.0 < sample_frac <= 1.0:
            raise ValueError(f"sample_frac must be in (0, 1], got {sample_frac}")
        from dumpr_spark.functions.sampling import hash_bucket
        cands = cands.where(
            hash_bucket(F.concat_ws("|", "a", "b"), 1_000_000)
            < int(round(sample_frac * 1_000_000))
        )
    if max_pairs is not None:
        cands = cands.orderBy(
            F.md5(F.concat_ws("|", "a", "b")), "a", "b"
        ).limit(max_pairs)
    return cands


def minhash_accuracy_audit(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_hashes: int = 8,
                           band_size: int = 2, k: int = 3,
                           sample_frac: float | None = None,
                           max_pairs: int | None = None) -> DataFrame:
    """Sketch-calibration table: for each LSH candidate pair, the
    signature-agreement Jaccard ESTIMATE (fraction of the num_hashes
    components that agree) beside the EXACT k-gram-set Jaccard. Returns
    (a, b, est_j, exact_j) as raw doubles — callers round/alias.

    The exact leg joins the two docs' distinct shingle-hash sets, which
    grows with candidate volume (~3x at 10x rows measured at sf0.1 —
    SCALE.md round-6 curve, the engine's only super-linear entry). The
    estimate-vs-exact error curve needs thousands of pairs, not billions,
    so at volume subset the CANDIDATES before either audit leg via
    ``sample_frac``/``max_pairs`` (see `subset_candidate_pairs` — the
    shared dial, also threaded through dedup_jaccard_containment). Both
    default to None: the FULL population, the driver-gate-checked path
    (query ``dedup_minhash_accuracy``)."""
    sig = minhash_signature(df, id_col, text_col, num_hashes, k)
    cands = subset_candidate_pairs(
        lsh_candidate_pairs(
            lsh_bands(sig, id_col, num_hashes, band_size), id_col
        ),
        sample_frac, max_pairs,
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    agree = sum(
        (F.col(f"sa.mh{i}") == F.col(f"sb.mh{i}")).cast("int")
        for i in range(num_hashes)
    )
    est = (
        cands.join(sa, F.col("a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("b") == F.col(f"sb.{id_col}"))
        .select("a", "b", (agree / F.lit(float(num_hashes))).alias("est_j"))
    )
    ov = shingle_overlap_pairs(df, cands, id_col, text_col, k)
    exact = F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni"))
    return est.join(ov, ["a", "b"]).select(
        "a", "b", "est_j", exact.alias("exact_j")
    )


def shingle_overlap_pairs(df: DataFrame, pairs: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          k: int = 3) -> DataFrame:
    """Exact k-gram-set overlap for CANDIDATE pairs (a, b): returns
    (a, b, ni, na, nb) — intersection size and the two set sizes, the
    common core of every exact set-similarity coefficient (Jaccard
    ni/(na+nb-ni), containment ni/min(na,nb), Dice 2ni/(na+nb)).

    One distinct (doc, shingle-hash) projection, one size rollup, and a
    pair-restricted hash equi-join — never all-pairs: cost scales with
    candidate volume x document length, so at 100 TB it runs behind an
    LSH/banding candidate generator (and, for audit use, behind a
    deterministic pair sample — see minhash_accuracy_audit's knobs).

    r18 (guide §8, decide with small rows): (ni, na, nb) depend only on
    the two TEXTS, and the duplicate-heavy corpora this runs on make the
    same text pair recur across many candidate id pairs (every copy of A
    x every copy of B collides in the same LSH buckets). So the exact leg
    now computes once per DISTINCT (content-hash, content-hash) pair over
    one representative text per hash, and the id pairs re-attach by a
    narrow (16-byte md5) join — the shingle explode + intersection join
    volume tracks distinct CONTENT pairs, not id pairs (sf1-local: 1.67M
    id pairs -> 33.8k content pairs, a 49x cut on the heavy legs). Equal
    md5 => equal text => identical (ni, na, nb); on a duplicate-free
    corpus the mapping is 1:1 and only the narrow key joins are added.

    Pair contract: `pairs` holds each unordered pair once, as `a < b` (what
    lsh_candidate_pairs and minhash_lsh_pairs emit). The content-pair key
    (_ha, _hb) keeps that orientation and is not normalized, so a caller
    passing both (a, b) and (b, a) pays the shingle and intersection legs
    for both orientations of the same content pair."""
    # r17: conditional fan-out before the ~100x shingle explode + per-
    # shingle md5 (the same single-task-scan hazard minhash_signature
    # guards against); hashing on the content hash means the distinct's
    # (_ch, h) grouping and the sizes rollup both REUSE this exchange
    # (hash on a subset of the clustering keys satisfies
    # ClusteredDistribution).
    from dumpr_spark.operators.scale import fan_out

    hm = df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_ch"))
    keyed = (
        pairs.join(hm.select(F.col(id_col).alias("a"), F.col("_ch").alias("_ha")), "a")
        .join(hm.select(F.col(id_col).alias("b"), F.col("_ch").alias("_hb")), "b")
    )
    upairs = keyed.select("_ha", "_hb").distinct()
    # one representative text per distinct hash (min over identical copies
    # — deterministic, and every member IS the same text)
    reps = (
        df.select(content_hash(F.col(text_col)).alias("_ch"), F.col(text_col))
        .groupBy("_ch")
        .agg(F.min(text_col).alias(text_col))
    )
    shset = fan_out(reps, "_ch").select(
        F.col("_ch"),
        F.explode(F.array_distinct(
            F.transform(shingles(F.col(text_col), k), minhash_base_hash)
        )).alias("h"),
    ).distinct()
    sizes = shset.groupBy("_ch").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    xa, xb = shset.alias("xa"), shset.alias("xb")
    inter = (
        upairs.join(xa, F.col("_ha") == F.col("xa._ch"))
        .join(xb, (F.col("_hb") == F.col("xb._ch")) & (F.col("xa.h") == F.col("xb.h")))
        .groupBy("_ha", "_hb")
        .agg(F.count(F.lit(1)).cast("double").alias("ni"))
    )
    za = sizes.select(F.col("_ch").alias("_za"), F.col("n").alias("na"))
    zb = sizes.select(F.col("_ch").alias("_zb"), F.col("n").alias("nb"))
    per_pair = (
        upairs.join(inter, ["_ha", "_hb"], "left")
        .join(za, F.col("_ha") == F.col("_za"))
        .join(zb, F.col("_hb") == F.col("_zb"))
        .select(
            "_ha", "_hb",
            F.coalesce(F.col("ni"), F.lit(0.0)).alias("ni"),
            "na", "nb",
        )
    )
    return keyed.join(per_pair, ["_ha", "_hb"]).select("a", "b", "ni", "na", "nb")


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair graph (a, b) by iterative
    min-label propagation: every node's label becomes the min label among
    itself and its neighbors, to fixpoint. Returns (n, comp) where comp is
    the minimum node id in the component — the canonical-doc assignment step
    after LSH candidate generation in a dedup pipeline.

    Scale: each iteration is ONE shuffle (groupBy n); iterations needed =
    graph diameter, and near-dup graphs are shallow (tight clusters), so this
    converges in a handful of rounds. localCheckpoint truncates the lineage
    each round (else the plan doubles per iteration); the per-round
    convergence check is a count on a limit-1 anti-condition, not a collect
    of the labels.

    Node ids must be integral (or strings of integers): labels ARE ids, and
    min-label needs a total order stable under the long cast. Non-castable
    ids raise rather than silently becoming NULL (which would collapse the
    graph into one null node); hash string ids to long upstream
    (e.g. F.xxhash64) if needed."""
    edges = pairs.select(
        F.col("a").try_cast("long").alias("x"), F.col("b").try_cast("long").alias("y")
    )
    # checkpoint the symmetrized edge list ONCE: sym joins into every
    # iteration, and without this its lineage — the ENTIRE upstream
    # candidate-generation subtree (LSH banding, embedding pair scoring)
    # — re-evaluates per round (measured at sf0.1 warm:
    # dedup_semantic_clusters 19.3 s -> 9.3 s, dedup_clusters -> 2.7 s;
    # the r7 census catch). r17: the null-id guard probes the CHECKPOINTED
    # sym instead of the raw edges — before, the guard's limit-1 collect
    # was itself a full evaluation of the upstream subtree, paid before
    # the checkpoint existed (the "one paid scoring pass" residual).
    # Deliberate error-path tradeoff: the loud non-castable-id TypeError
    # now fires only AFTER the eager checkpoint has materialized the whole
    # upstream subtree once — a contract failure costs one full pipeline
    # evaluation. The old fail-before-checkpoint order made every GOOD run
    # pay that evaluation twice instead; failures are the rare path.
    sym = edges.union(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).localCheckpoint(eager=True)
    bad = sym.where(F.col("x").isNull() | F.col("y").isNull()).limit(1).count()
    if bad:
        raise TypeError(
            "connected_components needs integral (long-castable) node ids; a pair "
            "failed the cast — hash string ids to long (e.g. F.xxhash64) first"
        )
    labels = (
        sym.select(F.col("x").alias("n")).distinct().select("n", F.col("n").alias("comp"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # r17: keep the OLD label alongside the propagated min (left join
        # against the per-node neighbor min — F.least skips the null of an
        # isolated... node never arises here since every n has an edge, but
        # a node whose neighbors all carry larger labels keeps comp) so the
        # convergence probe reads the checkpointed result instead of
        # re-joining new-vs-old labels — one shuffle-join job per round
        # gone, same labels, same fixpoint.
        nbr_min = (
            sym.join(labels, sym.y == labels.n)
            .groupBy(F.col("x").alias("n"))
            .agg(F.min("comp").alias("_nmin"))
        )
        propagated = (
            labels.withColumnRenamed("comp", "_old")
            .join(nbr_min, "n", "left")
            .select("n", "_old", F.least("_old", "_nmin").alias("comp"))
        )
        # pointer jumping: comp <- comp's comp. Labels are node ids, so the
        # chain n -> comp -> comp(comp) halves every round — convergence in
        # O(log diameter) instead of O(diameter), which is what keeps long
        # weak-link chains (low-threshold similarity graphs) tractable.
        jump = propagated.select(F.col("n").alias("_jn"), F.col("comp").alias("_jc"))
        new_labels = (
            propagated.join(jump, propagated.comp == jump._jn, "left")
            .select(
                "n", "_old",
                F.coalesce(F.col("_jc"), F.col("comp")).alias("comp"),
            )
        ).localCheckpoint(eager=False)
        # r18 (§5): ONE job materializes the round AND probes convergence —
        # the full count over the lazily-checkpointed frame computes every
        # partition (completing the checkpoint; a limit-style early-stop
        # action would leave it partial) and returns the changed count in
        # the same pass. The old shape paid an eager-checkpoint job plus a
        # separate limit-1 probe job per round. Interleaved sf1 A/B over
        # the semantic-cluster edge list: 6.36 -> 5.94 s min-of-4.
        changed = new_labels.where(F.col("comp") != F.col("_old")).count()
        labels = new_labels.select("n", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(component diameter exceeds max_iter — raise max_iter; iterations "
        "needed = graph diameter)"
    )


def jaccard_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3) -> DataFrame:
    """Exact k-shingle Jaccard for the given candidate (a, b) pairs.
    Set-join formulation: |A∩B| via shingle equi-join, |A∪B| = |A|+|B|-|A∩B|.
    Only candidate docs' shingles are exploded — the verification cost tracks
    the candidate set, not the corpus."""
    from dumpr_spark.operators.scale import fan_out

    ids = pairs.select(F.col("a").alias("_id")).union(pairs.select("b")).distinct()
    sh = (
        fan_out(df.join(F.broadcast(ids), df[id_col] == ids._id).select(id_col, text_col))
        .select(F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("a"), F.col("sh"))
    sh_b = sh.select(F.col(id_col).alias("b"), F.col("sh"))
    inter = (
        pairs.join(sh_a, "a")
        .join(sh_b, ["b", "sh"])  # equi-join on (b, shingle): intersection, not cross-filter
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        pairs.join(inter, ["a", "b"], "left")
        .join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a", "b",
            (F.coalesce(F.col("n_inter"), F.lit(0)) /
             (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)))).alias("jaccard"),
        )
    )


def simhash64(col, k: int = 3):
    """64-bit SimHash over k-word shingles as a single column expression.

    For each shingle, its md5's first 16 hex chars give 64 bits; the simhash
    bit j is 1 iff the majority of shingles have bit j set.

    NOTE: convenience form for small/ad-hoc inputs — the 64 array folds make
    a huge codegen'd expression. The corpus-scale path is
    `simhash_signatures` (identical values, explode + aggregate shape)."""
    sh = F.array_distinct(shingles(col, k))
    n = F.size(sh)

    def bit(h, j):
        # j-th bit of the 64-bit value encoded in the first 16 hex chars
        nibble = F.conv(F.substring(h, 1 + (j // 4), 1), 16, 10).cast("int")
        return F.shiftright(nibble, 3 - (j % 4)) % 2

    hashes = F.transform(sh, lambda s: F.md5(s))
    total = F.lit(0).cast("long")
    for j in range(64):
        cnt = F.aggregate(hashes, F.lit(0), lambda acc, h: acc + bit(h, j))
        maj = F.when(cnt * 2 >= n, F.lit(1)).otherwise(F.lit(0)).cast("long")
        # shiftleft wraps into the sign bit for j=0 — intended (full 64-bit value)
        total = total.bitwiseOR(F.shiftleft(maj, 63 - j))
    return total


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       k: int = 3) -> DataFrame:
    """Corpus-scale SimHash: (id, sh64) per document, value-identical to
    `simhash64` but shaped for volume — explode shingles, md5 ONCE per
    shingle (vs 64 re-folds in the expression form), split the digest into
    two 32-bit halves, and bit-count via 64 cheap sum aggregates with
    map-side partial combine. One shuffle on id; scales like
    minhash_signature."""
    from dumpr_spark.operators.scale import fan_out

    sh = (
        fan_out(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), k))).alias("sh"))
    )
    h = F.md5(F.col("sh"))
    hashed = sh.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    aggs = [
        F.sum(F.shiftright(F.col("hi" if j < 32 else "lo"), 31 - (j % 32)) % 2).alias(f"c{j}")
        for j in range(64)
    ] + [F.count(F.lit(1)).alias("n")]
    per_doc = hashed.groupBy(id_col).agg(*aggs)
    total = F.lit(0).cast("long")
    for j in range(64):
        maj = F.when(F.col(f"c{j}") * 2 >= F.col("n"), F.lit(1)).otherwise(F.lit(0)).cast("long")
        total = total.bitwiseOR(F.shiftleft(maj, 63 - j))
    return per_doc.select(F.col(id_col), total.alias("sh64"))


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_tokens: int = 10,
) -> DataFrame:
    """Passage-level exact dedup (CCNet / RefinedWeb paragraph dedup): split
    each document into fixed `para_tokens`-token passages and mark every
    passage occurrence with a `keep` flag — True iff its content is unique
    corpus-wide OR this is the canonical first occurrence (min (id, pos)).

    Returns one row per passage occurrence: (id, pos, para, n_toks, keep).
    Callers recompose documents (array_sort over kept (pos, para)) or roll
    survivors up; the registry query `dedup_paragraphs` does both.

    Scale: the canonical election is a groupBy on the 16-byte md5 with
    count + min(struct) — both partial-aggregate map-side, so a passage
    duplicated a million times reduces inside each input partition before
    the wire. The join back is an equi-join on the hash, splittable by AQE
    skew-join when boilerplate hashes run hot (a window over the hash
    partition would not be)."""
    from dumpr_spark.functions.chunking import chunk_documents

    paras = (
        chunk_documents(
            df.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            chunk_tokens=para_tokens,
            stride=para_tokens,
        )
        .select(
            id_col,
            ((F.col("start") - 1) / F.lit(para_tokens) + 1).cast("long").alias("pos"),
            F.col("chunk_text").alias("para"),
            F.col("n_tokens").alias("n_toks"),
        )
        .withColumn("h", F.md5("para"))
    )
    stats = paras.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct(id_col, "pos")).alias("canon"),
    )
    keep = (F.col("cnt") == 1) | (
        (F.col(id_col) == F.col("canon." + id_col)) & (F.col("pos") == F.col("canon.pos"))
    )
    return (
        paras.join(stats, "h")
        .select(id_col, "pos", "para", "n_toks", keep.alias("keep"))
    )


def simhash_band_candidates(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "sh64", max_hamming: int = 3
) -> DataFrame:
    """SimHash candidate pairs via 4 x 16-bit band buckets: any pair within
    hamming distance 3 shares at least one band EXACTLY (pigeonhole over 4
    bands), so the equi-join on (band, value) has perfect recall at the
    <=3 threshold; the quadratic verify (bit_count of xor) runs on
    candidates only. Returns (a, b, hamming) with a < b, filtered to
    max_hamming.

    Scale: signatures shuffle once on (band, value); a constant-banded
    boilerplate cluster concentrates one bucket — cap with the
    grouped-bucket machinery of minhash_lsh_pairs_scaled if that arises.
    Sign-extension is immaterial: the 16-bit mask lands below any
    arithmetic-shift fill bits.

    r17: `sigs` is pinned — the band self-join's two legs otherwise each
    evaluate the whole signature subtree (the corpus-wide shingle explode
    + 64-sum aggregate; ReuseExchange does not fire across a join's two
    shuffles in practice — the lsh_candidate_pairs measurement). The
    pinned table is (id, 16-byte sig): the operator's decision table,
    cheap to hold at any scale."""
    sigs = sigs.localCheckpoint(eager=False)
    bands = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(sig_col, 48 - 16 * j).bitwiseAND(F.lit(65535))
                    for j in range(4)
                ]
            )
        ).alias("band", "val"),
    )
    a = bands.select(
        F.col(id_col).alias("a"), F.col(sig_col).alias("ha"), "band", "val"
    )
    b = bands.select(
        F.col(id_col).alias("b"), F.col(sig_col).alias("hb"), "band", "val"
    )
    cand = (
        a.join(b, ["band", "val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    ham = hamming64(F.col("ha"), F.col("hb")).cast("int")
    return (
        cand.select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_band_candidates_scaled(
    sigs: DataFrame, id_col: str = "doc_id", sig_col: str = "sh64",
    max_hamming: int = 3, max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Duplicate-heavy-safe SimHash banding — `simhash_band_candidates`
    with the grouped-bucket CAP of the MinHash scaled path: band values
    are reshaped into `lsh_candidate_pairs`' (band_idx, band_key) schema,
    which drops over-cap buckets with a COUNT pre-filter and emits each
    surviving bucket's pairs from ONE sorted array (bands shuffle once,
    never a bucket self-join), then the hamming verify joins the two
    signatures back per candidate. Same (a, b, hamming) contract as the
    plain form; identical output whenever no bucket exceeds the cap.

    Callers MUST still collapse exact copies first (identical signatures
    collide on every band — a c-copy group is C(c,2) pairs per band that
    no per-band cap should be asked to absorb): see
    `multimodal.ahash_near_dup_pairs_scaled`, the image-side mirror of
    `minhash_lsh_pairs_scaled`."""
    bands = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(sig_col, 48 - 16 * j).bitwiseAND(F.lit(65535))
                    for j in range(4)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    pairs = lsh_candidate_pairs(bands, id_col=id_col,
                                max_bucket_size=max_bucket_size)
    sa = sigs.select(F.col(id_col).alias("a"), F.col(sig_col).alias("ha"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col(sig_col).alias("hb"))
    ham = hamming64(F.col("ha"), F.col("hb")).cast("int")
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
