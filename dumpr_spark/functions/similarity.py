"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(n·q); right up to ~10^6 docs
per query batch when the query side is broadcast. Scale path: IVF-style
coarse quantization (assign to nearest centroid, search only the probed
cells) — turns the cross join into an equi-join on cell id.

All vector math is built-in (`transform`/`aggregate` fold, JVM-side, no
Python). Double accumulation for cross-engine reproducibility.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window, functions as F


def _dbl(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def l2_norm(a):
    return F.sqrt(F.aggregate(_dbl(a), F.lit(0.0), lambda s, x: s + x * x))


def cosine(a, b):
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    round_eps: float = 0.0,
) -> DataFrame:
    """Exact cosine top-k of `vectors` for each row of `queries`.

    The query side is broadcast (small batch against a huge corpus is THE
    shape at scale); ranking uses the rounded similarity with id tie-break so
    results are reproducible bit-for-bit across engines. `round_eps` lets a
    caller match the eps-rounding of ivf_topk/lsh_topk exactly (their
    degenerate configurations must reproduce this function bit-for-bit);
    the default 0.0 preserves parity with the sim_topk_bruteforce oracle.
    Output: (q_id, n_id, sim, rank).
    """
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    # r17: conditional fan-out of the corpus side — the cosine scoring is
    # the heavy stage and runs ON the scan, single-threaded when the corpus
    # arrives as one compact file; a no-op on cluster-wide scans. The
    # per-partition WindowGroupLimit (top-k per query per partition) then
    # also runs in parallel, so the window shuffle stays tiny.
    from dumpr_spark.operators.scale import fan_out

    v = fan_out(vectors.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")))
    sim = cosine(F.col("q_vec"), F.col("n_vec"))
    if round_digits is not None:
        sim = F.round(sim + F.lit(round_eps), round_digits)
    scored = (
        v.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
    n_cells: int = 1,
) -> DataFrame:
    """IVF coarse assignment: each vector -> its `n_cells` nearest centroids
    (by cosine). Corpus vectors use n_cells=1 (each lives in ONE cell);
    queries probe several (nprobe>1) for recall.

    Centroids are broadcast; assignment is a narrow map over the corpus scan.
    Downstream ANN search equi-joins on cell, probing only matching cells —
    the 100 TB path that replaces the brute-force cross join.
    Output: vectors + (cell, cell_sim), one row per assigned cell.

    r17: the norms are hoisted out of the per-pair cosine — ||v|| is
    computed once per corpus row (below the join) and ||c|| once per
    centroid (in the broadcast build) instead of once per (row x centroid)
    pair. The division dot/(||v||*||c||) multiplies/divides the SAME double
    values in the SAME order as `cosine`, so every _csim is bit-identical;
    only the k-fold recomputation of the two array folds goes away (the
    per-pair work drops from ~4 array traversals to the dot's 2). The
    Projects sit under the join node, so projection collapse cannot
    re-inline the folds into the per-pair expression.
    """
    c = centroids.select(
        F.col(cent_id).alias("_cid"),
        F.col(cent_vec).alias("_cvec"),
        l2_norm(F.col(cent_vec)).alias("_cn"),
    )
    v = vectors.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_vn")
    )
    sim = dot(F.col(vec_col), F.col("_cvec")) / (F.col("_vn") * F.col("_cn"))
    scored = v.join(F.broadcast(c)).select(
        F.col(id_col), F.col(vec_col), F.col("_cid"), sim.alias("_csim")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("_cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_cells)
        .select(F.col(id_col), F.col(vec_col), F.col("_cid").alias("cell"), F.col("_csim").alias("cell_sim"))
    )


def train_centroids(
    vectors: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> DataFrame:
    """Train IVF centroids with distributed k-means (pyspark.ml KMeans).

    Returns (cent_id, cent_vec) shaped for `ivf_assign`/`ivf_topk`. At 100 TB
    train on a sample (k-means cost is per-point; a few million sampled
    vectors pin the same cell structure), then assign the full corpus with
    the broadcast centroids — training is one-off, assignment is a narrow map."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(array_to_vector(_dbl(F.col(vec_col))).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    spark = vectors.sparkSession
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(cents, "cent_id INT, cent_vec ARRAY<DOUBLE>")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k: probe the query's `nprobe` nearest cells. Recall rises with
    nprobe (nprobe=num_cells degenerates to exact brute force); cost is
    proportional to the probed fraction of the corpus. Corpus vectors live in
    exactly one cell, so probed cells are disjoint — no candidate dedup
    needed. Approximate — recall depends on centroid quality; exactness is
    NOT claimed (hence no SQL oracle; tests assert recall against brute
    force and recall monotonicity in nprobe)."""
    v_cells = ivf_assign(vectors, centroids, id_col, vec_col)
    q_cells = ivf_assign(queries, centroids, id_col, vec_col, n_cells=nprobe).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), F.col("cell")
    )
    # eps-round (x + 1e-9) before ranking: a plain round at an exact .5
    # decimal boundary can split across engines when an oracle replays this
    sim = F.round(cosine(F.col("q_vec"), F.col("n_vec")) + 1e-9, 6)
    scored = (
        v_cells.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"), "cell")
        .join(F.broadcast(q_cells), "cell")
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def hyperplane_weights(n_planes: int, dim: int, offset: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane family (no RNG state): integer
    LCG over the flattened (plane, dim) index, centered to [-1000, 1000].
    Pure integer arithmetic -> any engine (or a SQL oracle) regenerates the
    identical planes from (n_planes, dim) alone. `offset` shifts the plane
    index, giving independent families for multi-table LSH (table f uses
    planes [f*n_planes, (f+1)*n_planes))."""
    return [
        [
            float(((1103515245 * ((p + offset) * dim + d) + 12345) % 2001) - 1000)
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_signature(vec_col, n_planes: int, dim: int, offset: int = 0):
    """Random-hyperplane LSH signature (SimHash for dense vectors): bit p is
    the sign of <v, w_p>; cosine-similar vectors agree on most bits, so the
    integer signature is a locality-sensitive bucket key. The dot is rounded
    to 6dp before the sign test so the bit (and thus the bucket) is
    engine-reproducible even when the fold's last double ulp differs.

    Each plane ships as ONE split+cast string literal that Catalyst
    constant-folds into a shared ArrayType constant — `F.array(*lits)`
    (the original form) re-CONSTRUCTS the dim-element array PER ROW per
    plane (landmine #1, SCALE.md round-6; the weights are integral floats,
    so repr round-trips exactly)."""
    ws = hyperplane_weights(n_planes, dim, offset)
    sig = F.lit(0)
    for p, w in enumerate(ws):
        packed = ",".join(repr(float(x)) for x in w)
        plane = F.split(F.lit(packed), ",").cast("array<double>")
        d = F.aggregate(
            F.zip_with(_dbl(vec_col), plane, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        sig = sig + F.when(F.round(d, 6) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig.cast("long")


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH tables: candidates are the
    query's own signature bucket (expected corpus/2^n_planes of the data)
    in EACH of `n_tables` independent plane families, deduplicated, then
    exact cosine ranks within the candidate set. The corpus is hashed ONCE
    per table (narrow projection, no shuffle); each candidate join is an
    equi-join on the signature, so at 100 TB the cost is n_tables hash
    joins keyed on an 8-byte bucket id instead of a cross join. Recall
    comes from bucket collision probability (miss ~ (1-(1-theta/pi)^p)^T);
    `n_tables` is the recall/cost dial, same role as IVF's nprobe — the
    candidate set is a superset of every smaller-T run, so recall is
    MONOTONE in n_tables (property-tested). Like sim_topk_ivf, the output
    is DETERMINISTIC given the fixed plane families, rounded sims, and id
    tie-breaks, so an exact SQL oracle can replay it."""
    pairs = None
    for f in range(max(1, n_tables)):
        sig = lambda c: hyperplane_signature(c, n_planes, dim, offset=f * n_planes)  # noqa: B023,E731
        v = vectors.select(
            F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"),
            sig(F.col(vec_col)).alias("sig"),
        )
        q = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
            sig(F.col(vec_col)).alias("sig"),
        )
        cand = (
            v.join(F.broadcast(q), "sig")
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", "q_vec", "n_id", "n_vec")
        )
        pairs = cand if pairs is None else pairs.unionByName(cand)
    if n_tables > 1:
        # a pair found by several tables scores once; (q_id, n_id) determines
        # the vectors, so the dedup key is just the id pair
        pairs = pairs.dropDuplicates(["q_id", "n_id"])
    sim = F.round(cosine(F.col("q_vec"), F.col("n_vec")) + 1e-9, 6)
    scored = pairs.select("q_id", "n_id", sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "n_id", "sim", "rank")
    )


def train_centroids_lloyd(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 4,
    eps: float = 0.01,
) -> tuple[DataFrame, list, int, bool]:
    """Deterministic Lloyd iteration to convergence — the engine-replayable
    twin of `train_centroids` (whose pyspark.ml KMeans internals no oracle
    can reproduce). Seeds are the k lowest-id vectors cast to double
    (exact, no rounding ambiguity); each iteration assigns every vector to
    its highest-cosine centroid (`ivf_assign`, broadcast centroids) and
    recomputes per-cluster elementwise means EPS-ROUNDED to 6dp in-engine
    — so iteration i+1's inputs are bit-identical on any engine that
    follows the same recipe, and a SQL oracle can replay the whole loop
    exactly. Stops when the max centroid movement (L2, eps-rounded 6dp)
    drops below `eps`, or at `max_iter`. Since r17 the movement is
    computed ON THE DRIVER from the same 6dp-rounded means the engine
    produced (they are already collected for the next broadcast), via
    decimal HALF_UP so the rounding is a bit-exact twin of the JVM's
    F.round (BigDecimal HALF_UP) that an oracle replaying the loop with
    ROUND would apply. An emptied cluster keeps its previous centroid.

    Returns (centroids_df, per_cluster_stats, n_iters, converged) where
    per_cluster_stats is [(cid, n_assigned)] from the LAST executed
    assignment and centroids_df is (cent_id, cent_vec) shaped for
    `ivf_assign`/`ivf_topk` — this IS the IVF index-training primitive.

    Scale shape: per iteration, centroids broadcast (k x dim doubles),
    assignment is a narrow map over the corpus scan, and the mean/movement
    shuffles collapse to k x dim cells regardless of corpus size
    (posexplode before groupBy -> map-side partials). Driver traffic is
    k x dim rounded doubles per iteration — metadata-sized by design.
    """
    spark = vectors.sparkSession
    # r17 (guide §2/§5 iterative pattern): the corpus is the loop invariant
    # — the guard, the seeds, and every Lloyd iteration re-read it. When it
    # arrives as a compact file-backed scan (the local regime: one row
    # group = one task, so the O(n x k) assignment fold would run
    # single-threaded max_iter times), fan it out on the id ONCE — the
    # per-iteration assignment window (partitionBy id) then reuses the
    # hash clustering, no further exchange — and pin it so iterations read
    # the 32-way cached partitions instead of replaying scan + exchange.
    # On a cluster-wide scan (or the at-volume sampled trainer input,
    # already pinned by the caller) fan_out is a no-op and nothing is
    # pinned — the shape is unchanged from the r16-certified one.
    from dumpr_spark.operators.scale import fan_out

    fanned = fan_out(vectors, id_col)
    if fanned is not vectors:
        vectors = fanned.localCheckpoint(eager=False)
    # Contract guard (one tiny pre-scan): ids non-null, DISTINCT, and
    # int-castable; vectors a uniform non-zero dimension. Ragged/empty
    # arrays would silently undercount members in the posexplode rollup
    # below, a null id would seed a None centroid key, and a duplicate id
    # would be silently collapsed to one assignment row by ivf_assign's
    # row_number-over-id dedup (undercounting cluster members/means with
    # no error the oracle could catch) — fail loudly on all three.
    shape = (
        vectors.where(F.col(id_col).isNotNull())
        .agg(
            F.min(F.size(F.col(vec_col))).alias("dmin"),
            F.max(F.size(F.col(vec_col))).alias("dmax"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(id_col)).alias("n_ids"),
        )
        .collect()[0]
    )
    if not shape["n"]:
        raise ValueError("train_centroids_lloyd: empty corpus, nothing to seed")
    if shape["dmin"] != shape["dmax"] or not shape["dmin"]:
        raise ValueError(
            f"train_centroids_lloyd: {vec_col} must be a fixed non-zero "
            f"dimension, got sizes {shape['dmin']}..{shape['dmax']}"
        )
    if shape["n_ids"] != shape["n"]:
        raise ValueError(
            f"train_centroids_lloyd: {id_col} must be unique per vector — "
            f"{shape['n']} rows but only {shape['n_ids']} distinct ids"
        )
    # seeds: the k lowest-id vectors, ordered by the RAW id (matching any
    # SQL oracle ordering by the stored value — ordering by the int cast
    # would diverge on ids past int range)
    seeds = (
        vectors.where(F.col(id_col).isNotNull())
        .orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).cast("int").alias("cent_id"), _dbl(F.col(vec_col)).alias("cent_vec")
        )
        .collect()
    )
    cents = {r["cent_id"]: list(r["cent_vec"]) for r in seeds}
    if None in cents or len(cents) != len(seeds):
        raise ValueError(
            f"train_centroids_lloyd: {id_col} must cast to distinct ints "
            f"for the {len(seeds)} seed rows"
        )
    dim = len(next(iter(cents.values())))
    n_iters, converged, counts = 0, False, []
    for _ in range(max_iter):
        cdf = spark.createDataFrame(
            sorted(cents.items()), "cent_id INT, cent_vec ARRAY<DOUBLE>"
        )
        assigned = ivf_assign(vectors, cdf, id_col=id_col, vec_col=vec_col, n_cells=1)
        # per-(cell, pos) rounded mean + member count (c is identical across
        # a cell's pos rows — each member contributes one row per dim),
        # collected straight to the driver: k x dim rows, metadata-sized by
        # construction. r17: the previous-centroid join and the per-cell
        # movement rollup moved to the DRIVER — the old centroids already
        # live here as `cents`, so the parallelize + join + second shuffle
        # bought nothing; each iteration is now exactly ONE job (assign +
        # mean + collect). The movement arithmetic replays the same
        # expression on the same 6dp-rounded means (sqrt of the pos-ordered
        # sum of squares, +1e-9, ROUND half-up to 6dp — the eps-rounding
        # discipline that already absorbed the JVM's nondeterministic
        # shuffle-order sum), so the stop decision is unchanged.
        dims = (
            assigned.select("cell", F.posexplode(_dbl(F.col(vec_col))).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.round(F.avg("x") + 1e-9, 6).alias("m"),
                F.count(F.lit(1)).alias("c"),
            )
            .collect()
        )
        percell: dict[int, list] = {}
        ncell: dict[int, int] = {}
        for r in dims:
            percell.setdefault(r["cell"], []).append((r["pos"], r["m"]))
            ncell[r["cell"]] = r["c"]
        counts = sorted(ncell.items())
        new_cents = dict(cents)  # emptied clusters keep their centroid
        movement = 0.0
        for cell, pm in percell.items():
            vec = [m for _, m in sorted(pm)]
            s = 0.0
            for mnew, mold in zip(vec, cents[cell]):
                d = mnew - mold
                s += d * d
            # ROUND-half-up twin of F.round(F.sqrt(..) + 1e-9, 6): decimal
            # quantize over the shortest decimal repr mirrors BigDecimal
            # HALF_UP exactly — the old *1e6+0.5 double arithmetic could
            # flip the 6th decimal at representation boundaries and change
            # the stop decision vs an oracle replaying the loop with ROUND.
            # This assumes Java's Double.toString gives the shortest
            # round-trip digits, as Python's repr does; that holds from
            # JDK 19 on, and an older JDK can print a longer string, so an
            # exact half at the 6th decimal could still round differently
            # (the +1e-9 nudge makes that very unlikely)
            move = float(
                Decimal(repr(math.sqrt(s) + 1e-9)).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
            )
            new_cents[cell] = vec
            movement = max(movement, move)
        cents = new_cents
        n_iters += 1
        if movement < eps:
            converged = True
            break
    cdf = spark.createDataFrame(
        sorted(cents.items()), "cent_id INT, cent_vec ARRAY<DOUBLE>"
    )
    assert all(len(v) == dim for v in cents.values())
    return cdf, counts, n_iters, converged


def power_iteration_steps(
    vectors: DataFrame,
    vec_col: str = "embedding",
    iters: int = 3,
    start: float = 0.125,
):
    """Eps-rounded power iteration v <- normalize(A'Av) from the exact-double
    uniform start `start` per dim: the engine-replayable trainer behind
    embed_pca_power / embed_debias_topdir / remove_direction. Per step,
    per-dim w is rounded to 6dp and the norm to 8dp IN-ENGINE, so every
    step's inputs are bit-identical across engines and an unrolled SQL
    oracle replays the loop exactly (the `_pca_iter_sql` CTE is the DuckDB
    twin of one step).

    Returns (v_in, w, nrm): the rounded direction FED INTO the last step
    (a Python list) plus the last step's UNCOLLECTED per-dim sum and norm
    DataFrames — lazy consumers (embed_pca_power) read w/nrm directly
    without spending a corpus scan on a direction they never use;
    collected consumers call power_iteration_topdir.

    Scale shape: each step is one narrow map (a dim-float dot against a
    broadcast literal) + a dim-cell partial-combining sum; the norm is a
    1-row rollup of those cells; driver traffic is dim rounded doubles
    per step.
    """
    if iters < 1:
        raise ValueError("power_iteration_steps: iters must be >= 1")
    # dim probe: ONE row, not a corpus scan (review pin — the trainer's
    # callers exist to avoid wasted passes). Raggedness is guarded per
    # row below instead: a mismatched vector would silently null out
    # zip_with elements in the fold, so it raises in-engine at first touch.
    head = (
        vectors.where(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .limit(1)
        .collect()
    )
    if not head:
        raise ValueError("power_iteration_steps: empty corpus, no direction")
    dim = head[0]["d"]
    if not dim:
        raise ValueError(
            f"power_iteration_steps: {vec_col} must be a fixed non-zero "
            f"dimension, first row has size {dim}"
        )
    dbl = F.when(
        F.col(vec_col).isNull(), F.lit(None).cast("array<double>")
    ).when(
        F.size(F.col(vec_col)) == dim, _dbl(F.col(vec_col))
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"power_iteration_steps: {vec_col} must be a fixed "
                      f"non-zero dimension, got size "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" != {dim}"),
            )
        ).cast("array<double>")
    )
    v = [start] * dim
    w = nrm = None
    for it in range(iters):
        # one ArrayType Literal (shared per row), not CreateArray (per-row
        # construction) — see operators/bloom.py for the measured gap
        vlit = F.lit([float(x) for x in v]).cast("array<double>")
        s = F.aggregate(
            F.zip_with(dbl, vlit, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
        )
        dims = vectors.select(s.alias("s"), F.posexplode(dbl).alias("pos", "x"))
        w = dims.groupBy("pos").agg(
            F.round(F.sum(F.col("s") * F.col("x")) + 1e-9, 6).alias("w")
        )
        nrm = w.agg(
            F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))) + 1e-9, 8).alias("nrm")
        )
        if it == iters - 1:
            break  # the last step's direction is the caller's choice
        v = _collect_direction(w, nrm)
    return v, w, nrm


def _collect_direction(w: DataFrame, nrm: DataFrame) -> list:
    """Normalize-and-collect one power step's direction: the 6dp
    eps-rounding here IS the cross-engine replay contract — it exists
    exactly once so the intermediate and final directions can never
    diverge."""
    rows = (
        w.crossJoin(F.broadcast(nrm))
        .select(
            "pos",
            F.col("nrm"),
            # try_divide: under ANSI mode a plain / raises DIVIDE_BY_ZERO
            # mid-collect for the all-zero corpus, masking the real-cause
            # guard below with a generic arithmetic error
            F.round(F.try_divide(F.col("w"), F.col("nrm")) + 1e-9, 6).alias("vc"),
        )
        .collect()
    )
    # An all-zero corpus rounds nrm to exactly 0.0 (round(1e-9, 8) == 0),
    # making every component w/nrm a NULL — fail here with the real cause
    # instead of letting a consumer hit float(None) later.
    if not rows or not rows[0]["nrm"]:
        raise ValueError(
            "power iteration: direction norm is 0 — the corpus projects to "
            "zero (all-zero vectors?); no principal direction exists"
        )
    return [r["vc"] for r in sorted(rows, key=lambda r: r["pos"])]


def power_iteration_topdir(
    vectors: DataFrame,
    vec_col: str = "embedding",
    iters: int = 2,
    start: float = 0.125,
) -> list:
    """The collected rounded top direction after `iters` eps-rounded power
    steps — dim floats of driver traffic, ready to inline as a literal in
    a narrow-map consumer (remove_direction, a cosine diagnostic)."""
    _, w, nrm = power_iteration_steps(vectors, vec_col, iters, start)
    return _collect_direction(w, nrm)


def remove_direction(
    vectors: DataFrame,
    direction: list,
    vec_col: str = "embedding",
    out_col: str = "debiased",
    renormalize: bool = True,
) -> DataFrame:
    """All-but-the-top APPLY step (Mu & Viswanath 2018): subtract each
    vector's projection onto `direction` — x' = x - (x.u / u.u) u — and
    optionally rescale x' to unit length. Removing the dominant common
    direction measurably improves cosine retrieval; pair with
    power_iteration_topdir (the trainer) and the embed_debias_topdir
    diagnostic (how much anisotropy the removal deletes).

    Adds `out_col` (array<double>) next to the input columns. NULL
    vectors stay NULL; zero vectors and vectors exactly parallel to u
    renormalize to NULL (0/0) rather than fabricating a direction; a
    vector whose dimension differs from `direction`'s raises in-engine
    (silent zip_with null-padding would corrupt every element).

    Scale shape: `direction` inlines as a dim-double literal, so the whole
    op is a narrow map over the scan — no join, no shuffle; at 100 TB
    this composes with predicate pushdown upstream and costs one
    projection. The projection and residual norm are let-bound
    (functions/expr.let): a helper column would be re-inlined into the
    per-element lambdas by projection collapse and the dot fold
    re-evaluated dim times per row.
    """
    from dumpr_spark.functions.expr import let

    if out_col in vectors.columns:
        raise ValueError(f"remove_direction: column {out_col!r} already exists")
    n_dim = len(direction)
    ulit = F.lit([float(x) for x in direction]).cast("array<double>")
    uu = sum(float(x) * float(x) for x in direction)
    if uu == 0.0:
        raise ValueError("remove_direction: direction must be non-zero")
    vec = F.col(vec_col)

    def resid_of(pv):
        return F.zip_with(_dbl(vec), ulit, lambda x, u: x - pv * u)

    proj = dot(vec, ulit) / F.lit(uu)
    if not renormalize:
        out = let(proj, resid_of)
    else:
        out = let(proj, lambda pv: let(resid_of(pv), lambda rv: let(
            l2_norm(rv),
            lambda nv: F.when(nv > 0, F.transform(rv, lambda x: x / nv)),
        )))
    guarded = (
        F.when(vec.isNull(), F.lit(None).cast("array<double>"))
        .when(F.size(vec) == n_dim, out)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"remove_direction: {vec_col} has dimension "),
                    F.size(vec).cast("string"),
                    F.lit(f" != direction dimension {n_dim}"),
                )
            ).cast("array<double>")
        )
    )
    return vectors.withColumn(out_col, guarded)
