"""LLM-data-pipeline queries: dedup, similarity, text analysis (SURVEY §2.2-J).

The testdata `documents` corpus has no exact duplicates, so dedup queries
derive a corpus-with-dups deterministically IN BOTH ENGINES: every doc with
doc_id % 10 == 0 gets a near-duplicate twin (id + 100000) whose text drops
the first word (exact twin for exact-dedup queries). Hashes are md5 so DuckDB
recomputes them identically.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import functions as F

from dumpr_spark.functions import dedup as dd
from dumpr_spark.functions import similarity as sim
from dumpr_spark.functions import text as tx
from dumpr_spark.queries.base import eps_round, query, t

# corpus with EXACT twins (same text, new id)
_DUP_CORPUS_CTE = """
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
    )
"""

# corpus with NEAR twins (first word dropped)
_NEAR_CORPUS_CTE = """
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 100000, substr(text, strpos(text, ' ') + 1), lang
      FROM documents WHERE doc_id % 10 = 0
    )
"""

_SIMHASH_SIG_CTES = """
    , toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM corpus),
    sh AS (
      SELECT DISTINCT doc_id,
             COALESCE(tk[i]||' '||tk[i+1]||' '||tk[i+2], array_to_string(tk,' ')) AS s
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-2,1))) AS i) g
    ),
    hx AS (
      SELECT doc_id,
             ('0x'||substring(md5(s),1,8))::BIGINT AS hi,
             ('0x'||substring(md5(s),9,8))::BIGINT AS lo
      FROM sh
    ),
    bits AS (
      SELECT doc_id, j,
             CASE WHEN j < 32 THEN (hi >> (31 - j)) & 1
                  ELSE (lo >> (63 - j)) & 1 END AS bit
      FROM hx, LATERAL (SELECT unnest(generate_series(0,63)) AS j) jj
    ),
    maj AS (
      SELECT doc_id, j,
             CASE WHEN 2*SUM(bit) >= COUNT(*) THEN 1 ELSE 0 END AS m
      FROM bits GROUP BY doc_id, j
    ),
    sig AS (
      -- SUM widens to HUGEINT; CAST back so xor/bit_count stay 64-bit
      SELECT doc_id,
             CAST(SUM(CASE WHEN j = 0 THEN 0
                           ELSE m * (1::BIGINT << (63 - j)) END)
                  + CASE WHEN MAX(CASE WHEN j = 0 THEN m END) = 1
                         THEN (-9223372036854775807 - 1) ELSE 0 END
                  AS BIGINT) AS sh64
      FROM maj GROUP BY doc_id
    )
"""



def _dup_corpus(spark, sf_dir, near: bool = False):
    """Documents plus an exact/near twin for every %10 doc.

    r17: built from ONE scan — each row emits 1-2 variants as an array a
    single explode flattens (same shape as cdc._synthetic_changes), instead
    of the old two-branch union whose twin leg re-scanned the table. Halves
    the read cost of every corpus evaluation; row-multiset identical."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    twin_text = (
        F.expr("substr(text, instr(text, ' ') + 1)") if near else F.col("text")
    )
    base = F.struct(
        F.col("doc_id"), F.col("text").alias("text"), F.col("lang")
    )
    twin = F.when(
        F.col("doc_id") % 10 == 0,
        F.struct(
            (F.col("doc_id") + 100000).alias("doc_id"),
            twin_text.alias("text"),
            F.col("lang"),
        ),
    )
    variants = F.filter(F.array(base, twin), lambda x: x.isNotNull())
    return d.select(F.explode(variants).alias("c")).select("c.*")


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------

@query(
    "dedup_exact",
    _DUP_CORPUS_CTE
    + """
    , kept AS (
      SELECT text, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM corpus GROUP BY text
    )
    SELECT keep_id, n_copies FROM kept ORDER BY keep_id
    """,
    tags=("llm", "dedup", "flagship"),
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by full text: hash-groupBy keeping min id. At 100 TB the
    groupBy key is md5(text) (16B shuffle keys); here text itself keeps the
    oracle trivially equivalent."""
    corpus = _dup_corpus(spark, sf_dir)
    return (
        corpus.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


@query(
    "dedup_exact_hash",
    _DUP_CORPUS_CTE
    + """
    SELECT md5(text) AS h, MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
    ORDER BY keep_id
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_hash(spark, sf_dir):
    """Content-hash dedup (envelope: sha2/md5 of canonical row image)."""
    corpus = _dup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(dd.content_hash(F.col("text")).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .orderBy("keep_id")
    )


@query(
    "dedup_fingerprint",
    """
    SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
    FROM documents
    ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def dedup_fingerprint(spark, sf_dir):
    """Normalized-text fingerprint (lower/strip/collapse -> md5)."""
    from dumpr_spark.operators.scale import fan_out

    # r17: conditional range fan-out (see text_quality) — the heavy per-row
    # stage parallelizes off the compact single-file scan, the trailing
    # orderBy("doc_id") rides the range partitioning exchange-free; no-op
    # on cluster-wide scans.
    d = fan_out(t(spark, sf_dir, "documents"), "doc_id", by_range=True)
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


def _minhash_bands_cte(num_hashes: int = 8, band_size: int = 2, corpus: str = "corpus") -> str:
    """DuckDB replica of dedup.minhash_signature/lsh_bands over the named
    corpus CTE: one md5 per shingle -> 56-bit base hash -> Carter-Wegman
    family mins -> banded keys. Yields CTEs toks/sh/sig/bands."""
    fam = dd.minhash_family(num_hashes)
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {dd.MINHASH_P}) AS mh{i}" for i, (a, b) in enumerate(fam)
    )
    band_rows = []
    for bi in range(num_hashes // band_size):
        cols = " || '|' || ".join(
            f"mh{bi * band_size + j}::VARCHAR" for j in range(band_size)
        )
        band_rows.append(f"SELECT doc_id, {bi} AS band_idx, md5({cols}) AS band_key FROM sig")
    bands = "\n      UNION ALL ".join(band_rows)
    return f"""
    , toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM {corpus}
    ),
    sh AS (
      SELECT doc_id,
             ('0x' || substr(md5(COALESCE(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], array_to_string(tk, ' '))), 1, 14))::BIGINT AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i) g
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )"""


_PAIR_SELECT = """
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bands x JOIN bands y
      ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ORDER BY a, b
    """


def _minhash_oracle(num_hashes: int = 8, band_size: int = 2) -> str:
    return _NEAR_CORPUS_CTE + _minhash_bands_cte(num_hashes, band_size) + _PAIR_SELECT


_MINHASH_ORACLE = _minhash_oracle()


def _cluster_oracle() -> str:
    """Recursive-CTE connected components over the minhash candidate pairs —
    the SQL fixpoint mirrors the engine's iterative min-label propagation."""
    pair_sql = _minhash_oracle().rsplit("ORDER BY a, b", 1)[0]
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    reach(n, l) AS (
      SELECT a, a FROM sym
      UNION
      SELECT r.n, s.b FROM reach r JOIN sym s ON r.l = s.a
    )
    SELECT n AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY n
    ORDER BY doc_id
    """


@query(
    "text_winnow_fingerprints",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents WHERE doc_id < 500
    ),
    sh AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(COALESCE(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], array_to_string(tk, ' '))), 1, 14))::BIGINT AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i) g
    ),
    hl AS (
      SELECT doc_id, list(h ORDER BY i) AS hs FROM sh GROUP BY doc_id
    ),
    wins AS (
      SELECT doc_id, list_aggregate(hs[i:i+3], 'min') AS fp
      FROM hl, LATERAL (SELECT unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS i) g
    )
    SELECT DISTINCT doc_id, fp FROM wins ORDER BY doc_id, fp
    """,
    tags=("llm", "text", "dedup"),
)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (MOSS): k-gram hashes -> sliding-window minima
    -> distinct selected set. Guarantees any shared >= w+k-1 token run between
    docs shares a fingerprint — the substring-robust dedup/clone-detection
    primitive (functions.text.winnow_fingerprints_df)."""
    from dumpr_spark.operators.scale import fan_out

    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    fps = tx.winnow_fingerprints_df(fan_out(d), k=3, w=4)
    return (
        # explode_outer, deliberately: plain explode makes InferFiltersFromGenerate
        # add size(fps)>0, which predicate-pushdown rewrites into a filter that
        # re-evaluates the whole winnow expression per row a second time (8x
        # slower); fps is never empty (min-of-all fallback) so the outer form
        # is value-identical.
        fps.select("doc_id", F.explode_outer("fps").alias("fp"))
        .distinct()
        .orderBy("doc_id", "fp")
    )


@query(
    "dedup_winnow_pairs",
    _NEAR_CORPUS_CTE
    + """
    , toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM corpus
    ),
    sh AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(COALESCE(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], array_to_string(tk, ' '))), 1, 14))::BIGINT AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i) g
    ),
    hl AS (
      SELECT doc_id, list(h ORDER BY i) AS hs FROM sh GROUP BY doc_id
    ),
    wins AS (
      SELECT DISTINCT doc_id, list_aggregate(hs[i:i+3], 'min') AS fp
      FROM hl, LATERAL (SELECT unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS i) g
    ),
    ok AS (
      SELECT fp FROM wins GROUP BY fp HAVING count(*) BETWEEN 2 AND 50
    ),
    p AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM wins x JOIN wins y ON x.fp = y.fp AND x.doc_id < y.doc_id
      JOIN ok ON ok.fp = x.fp
    )
    SELECT a, b, count(*)::BIGINT AS n_shared
    FROM p GROUP BY a, b HAVING count(*) >= 3 ORDER BY a, b
    """,
    tags=("llm", "dedup", "winnow"),
)
def dedup_winnow_pairs(spark, sf_dir):
    """Clone detection over winnowing fingerprints: docs sharing >= 3
    selected fingerprints are near-dup candidates (MOSS's match criterion,
    substring-robust where MinHash is whole-doc). Same grouped-bucket shape
    as LSH: explode (fp, doc) thin rows, ONE groupBy per fp collects the
    sorted member array (hot fps capped at 50 — a stop-phrase fingerprint
    would otherwise emit c^2 pairs), array transforms emit intra-bucket
    pairs, then a (a, b) count keeps strong matches."""
    from dumpr_spark.operators.scale import fan_out

    corpus = _dup_corpus(spark, sf_dir, near=True)
    fps = tx.winnow_fingerprints_df(fan_out(corpus), k=3, w=4)
    # A doc with no fingerprints explodes to one null-fp row; dropping it
    # before the count window keeps those rows from forming one hot
    # partition, and changes no result: a null "bucket" could only pair
    # docs on that one fp, below the >= 3 shared-fp cut.
    flat = fps.select("doc_id", F.explode_outer("fps").alias("fp")).where(
        F.col("fp").isNotNull())
    # r18 (§5, the minhash_lsh_pairs_scaled discipline): cap the bucket
    # BEFORE collect_list. The old shape collected every fp bucket's
    # member array into one aggregation buffer and size-filtered after —
    # a stop-phrase fingerprint shared corpus-wide would land its whole
    # membership in a single buffer. The count-over-partition window is
    # spillable (disk, never an agg-buffer blowup), evaluates the
    # fingerprint subtree ONCE, and its fp exchange is the same hash
    # clustering the collect's groupBy needs — no extra shuffle. (doc_id,
    # fp) rows are unique per doc (winnow emits a set), so the window
    # count equals the old post-collect size exactly.
    from pyspark.sql import Window

    flat = (
        flat.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("_n").between(2, 50))
        .drop("_n")
    )
    grouped = flat.groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("_ids")
    )
    ids = F.col("_ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
        .orderBy("a", "b")
    )


# corpus with BOTH exact copies (+100000) and near twins (+200000): the
# duplicate-heavy shape the scaled LSH pipeline exists for
_SCALED_CORPUS_CTE = """
    WITH corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1), lang
      FROM documents WHERE doc_id % 10 = 0
    )
"""

_SCALED_ORACLE = (
    _SCALED_CORPUS_CTE
    + """
    , hmap AS (SELECT doc_id, md5(text) AS h FROM corpus),
    reps AS (SELECT h, MIN(doc_id) AS rep FROM hmap GROUP BY h),
    rep_corpus AS (
      SELECT c.doc_id, c.text FROM corpus c JOIN reps r ON c.doc_id = r.rep
    )
"""
    + _minhash_bands_cte(corpus="rep_corpus")
    + """
    , lsh AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    exact_edges AS (
      SELECT m.doc_id AS a, r.rep AS b FROM hmap m JOIN reps r ON m.h = r.h
      WHERE m.doc_id <> r.rep
    )
    SELECT a, b FROM exact_edges
    UNION ALL
    SELECT a, b FROM lsh
    ORDER BY a, b
    """
)


@query("dedup_lsh_scaled", _SCALED_ORACLE, tags=("llm", "dedup"))
def dedup_lsh_scaled(spark, sf_dir):
    """Duplicate-heavy-safe LSH pair generation (dedup.minhash_lsh_pairs_scaled):
    exact copies collapse to a representative BEFORE banding (identical docs
    share all bands — the O(c²) bucket case), then rep-level LSH with a
    bucket-size cap. Edges = (copy -> rep) ∪ rep-level candidate pairs."""
    # r17: the corpus is built from ONE documents scan (each row emits its
    # 1-3 variants as an array, one explode flattens) instead of a 3-branch
    # union that read the table three times per corpus evaluation.
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    is_ten = F.col("doc_id") % 10 == 0
    base = F.struct(F.col("doc_id"), F.col("text").alias("text"), F.col("lang"))
    copy = F.when(
        is_ten,
        F.struct((F.col("doc_id") + 100000).alias("doc_id"),
                 F.col("text").alias("text"), F.col("lang")),
    )
    near = F.when(
        is_ten,
        F.struct((F.col("doc_id") + 200000).alias("doc_id"),
                 F.expr("substr(text, instr(text, ' ') + 1)").alias("text"),
                 F.col("lang")),
    )
    variants = F.filter(F.array(base, copy, near), lambda x: x.isNotNull())
    corpus = d.select(F.explode(variants).alias("c")).select("c.*")
    return dd.minhash_lsh_pairs_scaled(corpus).orderBy("a", "b")


@query("dedup_clusters", _cluster_oracle(), tags=("llm", "dedup", "iterative"))
def dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the MinHash-LSH
    candidate-pair graph (iterative min-label propagation; the canonicalize
    step of a production dedup pipeline — keep cluster_id == doc_id, drop the
    rest). Oracle is the recursive-CTE transitive closure of the same graph."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    pairs = dd.minhash_lsh_pairs(corpus, num_hashes=8, band_size=2, k=3)
    comps = dd.connected_components(pairs)
    return comps.select(
        F.col("n").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


@query(
    "text_fingerprint_rolling",
    f"""
    SELECT doc_id,
           list_reduce(
             list_transform(string_split(text, ' '),
                            t -> ('0x' || substr(md5(t), 1, 14))::BIGINT),
             (acc, h) -> (acc * {tx.ROLL_B} + h) % {tx.ROLL_P}) AS fp
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def text_fingerprint_rolling(spark, sf_dir):
    """Rabin-Karp rolling-hash fingerprint per document (order-sensitive,
    incremental — the chunk-fingerprint primitive for content-defined
    dedup). Pure JVM fold (transform + aggregate), no shuffle."""
    from dumpr_spark.operators.scale import fan_out

    # r17: conditional range fan-out (see text_quality) — the heavy per-row
    # stage parallelizes off the compact single-file scan, the trailing
    # orderBy("doc_id") rides the range partitioning exchange-free; no-op
    # on cluster-wide scans.
    d = fan_out(t(spark, sf_dir, "documents"), "doc_id", by_range=True)
    return d.select("doc_id", tx.rolling_fingerprint(F.col("text")).alias("fp")).orderBy("doc_id")


@query("dedup_minhash_lsh", _MINHASH_ORACLE, tags=("llm", "dedup", "flagship"))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8)+LSH(4 bands of 2) candidate pairs over 3-word shingles.
    Near-twins (Jaccard ≈ (n-3)/n) collide in ≥1 band w.h.p.; unrelated docs
    don't. md5-based hash family => bit-identical DuckDB oracle.

    AT-VOLUME GUIDANCE (measured, SCALE.md round-8): this PLAIN form is the
    textbook shape and stays registered for it, but its bucket self-join
    emits c^2 pairs per c-copy document — on the duplicate-heavy sf1-local
    corpus it missed its power-law prediction by 4.4-5.4x, because real
    crawl corpora are exactly that duplicate-heavy. The form to run at
    100 TB is `dedup_lsh_scaled` (exact-copy prepass collapses identical
    texts to one representative, then capped LSH buckets) — it tracked
    prediction at 1.17x on the same data, is the `Engine.dedup_near_pairs`
    facade default (engine.py), and is benchmarked alongside this row in
    bench.py."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    return dd.minhash_lsh_pairs(corpus, num_hashes=8, band_size=2, k=3).orderBy("a", "b")


@query(
    "dedup_ngram_jaccard",
    _NEAR_CORPUS_CTE
    + """
    , pairs AS (
      SELECT doc_id AS a, doc_id + 100000 AS b FROM documents WHERE doc_id % 10 = 0
    ),
    sh AS (
      SELECT DISTINCT doc_id, COALESCE(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2], array_to_string(tk, ' ')) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus) toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i) g
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.a, p.b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM pairs p
      JOIN sh sa ON sa.doc_id = p.a
      JOIN sh sb ON sb.doc_id = p.b AND sb.sh = sa.sh
      GROUP BY p.a, p.b
    )
    SELECT p.a, p.b,
           ROUND(COALESCE(n_inter, 0) * 1.0 / (na.n_sh + nb.n_sh - COALESCE(n_inter, 0)) + 1e-9, 4) AS jac
    FROM pairs p
    LEFT JOIN inter USING (a, b)
    JOIN sizes na ON na.doc_id = p.a
    JOIN sizes nb ON nb.doc_id = p.b
    ORDER BY a, b
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-shingle Jaccard for the known near-dup pairs."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    d = t(spark, sf_dir, "documents")
    pairs = d.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 100000).alias("b")
    )
    out = dd.jaccard_pairs(corpus, pairs)
    return out.select("a", "b", eps_round(F.col("jaccard"), 4).alias("jac")).orderBy("a", "b")


@query(
    "dedup_simhash",
    _NEAR_CORPUS_CTE
    + _SIMHASH_SIG_CTES
    + """
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.sh64, b.sh64)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id + 100000 = b.doc_id
    ORDER BY a, b
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash + hamming distance of the known near-dup pairs.
    Value-level oracle: the signature is md5-derived and therefore engine-
    reproducible — the oracle recomputes the identical distinct-shingle ->
    per-bit majority -> packed-64-bit pipeline in SQL (the HUGEINT cast
    guard matters: DuckDB's SUM widens, and a sign-extended 128-bit xor
    counts 64 phantom bits). Bit-twiddling edge cases additionally pinned by
    tests/test_llm_ops.py simhash properties."""
    # r17: pinned — the twin-pair self-join's two legs otherwise each
    # evaluate the corpus-wide signature subtree (the simhash_band_candidates
    # finding); the pinned table is (id, 16-byte sig)
    sigs = dd.simhash_signatures(
        _dup_corpus(spark, sf_dir, near=True)
    ).localCheckpoint(eager=False)
    a = sigs.select(F.col("doc_id").alias("a"), F.col("sh64").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("b"), F.col("sh64").alias("hb"))
    return (
        a.join(b, a.a + 100000 == b.b)
        .select("a", "b", dd.hamming64(F.col("ha"), F.col("hb")).alias("hamming"))
        .orderBy("a", "b")
    )


def _blocked_cosine_pairs(e):
    """Shared twin-injection + label-blocked pair scoring for the two
    embedding near-dup queries (dedup_embedding_cosine threshold 0.3,
    dedup_semantic_clusters threshold 0.35 -> CC). ONE edit point on
    purpose: each query's oracle hash pins this block bit-for-bit, so a
    tweak applied to one copy but not the other would silently diverge
    their semantics while both still pass their own gates (review pin).

    Norms precompute per ROW before the blocking join — the join boundary
    materializes them where projection collapse cannot re-inline the
    fold, leaving one dot fold per candidate pair (SCALE.md round-6).
    Returns (pairs_df with a/b/ea/eb/na/nb, cosine Column).

    r18 (§2): the blocking join is a BroadcastHashJoin (b side broadcast),
    so the O(sum of block^2) pair generation + cosine folds all execute in
    the STREAM side's stage — on a compact local scan that is ~1 task for
    every pair in the corpus. Conditional fan_out on the probe side spreads
    the quadratic work across the session's cores; at cluster scale the
    scan is already wide and no shuffle is paid. Hash on vec_id (no
    round-robin pre-sort); the probe side needs no particular clustering
    for a broadcast join, and the per-pair doubles are untouched."""
    from dumpr_spark.operators.scale import fan_out

    twins = e.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = e.select("vec_id", "embedding", "label").unionByName(twins)
    # fan the PROBE leg only — the b leg is the broadcast build and must
    # not pay (or wait on) an exchange under its BroadcastExchange
    a = fan_out(corpus, "vec_id").select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea"), "label",
        sim.l2_norm(F.col("embedding")).alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb"), "label",
        sim.l2_norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(b, "label").where(F.col("a") < F.col("b"))
    cos = sim.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return pairs, cos


@query(
    "dedup_embedding_cosine",
    """
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    scored AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             ROUND(list_dot_product(a.e, b.e) /
                   (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) + 1e-9, 6) AS sim
      FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT a, b, sim FROM scored WHERE sim >= 0.3 ORDER BY a, b
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label.

    The blocking key turns the O(n^2) self-cross-join into a per-label
    equi-join — the 100 TB shape (blocking = coarse clustering; here the
    `label` column, in production an IVF cell or LSH bucket, see
    similarity.ivf_assign). Exact twins (vec_id % 25 == 0, id + 100000)
    are injected so true duplicates (sim = 1.0) exist. Pair construction
    and scoring shared with dedup_semantic_clusters via
    _blocked_cosine_pairs (per-row norm precompute — same doubles, same
    oracle)."""
    pairs, cos = _blocked_cosine_pairs(t(spark, sf_dir, "embeddings"))
    return (
        pairs.select("a", "b", eps_round(cos, 6).alias("sim"))
        .where(F.col("sim") >= 0.3)
        .orderBy("a", "b")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

@query(
    "sim_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id < 5),
         v AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
               FROM embeddings),
         scored AS (
           SELECT q_id, n_id, ROUND(list_dot_product(qv, nv) /
                  (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))), 6) AS sim
           FROM q CROSS JOIN v WHERE q_id <> n_id
         ),
         ranked AS (
           SELECT q_id, n_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
           FROM scored
         )
    SELECT q_id, n_id, sim, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
    ORDER BY q_id, rank
    """,
    tags=("llm", "similarity", "flagship"),
)
def sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-3 for a 5-vector query batch (broadcast) against the
    corpus; ranking on rounded sim + id tie-break => engine-reproducible."""
    e = t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=3).orderBy("q_id", "rank")


@query(
    "sim_topk_ivf",
    """
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cvec FROM corpus WHERE vec_id < 8
    ),
    assigned AS (
      SELECT c.vec_id, c.v, ct.cent_id,
             list_dot_product(c.v, ct.cvec) /
               (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ct.cvec, ct.cvec)))
               AS csim
      FROM corpus c CROSS JOIN cents ct
    ),
    cells AS (
      SELECT vec_id, v, cent_id AS cell FROM (
        SELECT vec_id, v, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rn
        FROM assigned) WHERE rn = 1
    ),
    qcells AS (SELECT vec_id AS q_id, v AS qv, cell FROM cells WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, n.vec_id AS n_id,
             ROUND(list_dot_product(q.qv, n.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(n.v, n.v)))
                   + 1e-9, 6) AS sim
      FROM qcells q JOIN cells n USING (cell)
      WHERE q.q_id <> n.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    )
    SELECT q_id, n_id, sim, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
    ORDER BY q_id, rank
    """,
    tags=("llm", "similarity", "approx"),
)
def sim_topk_ivf(spark, sf_dir):
    """IVF(nprobe=1) ANN top-3 using the first 8 vectors as centroids.

    Approximate relative to brute force (recall asserted in
    tests/test_llm_ops.py), but DETERMINISTIC given its inputs: centroids are
    the fixed first-8 vectors, candidate sims are rounded to 6 digits, and
    every row_number has an id tie-break — so the oracle replays the same
    assign -> probe -> rank pipeline in SQL and the match is exact. Both
    engines fold the dot product left-to-right in IEEE double, so the
    unrounded assignment argmax agrees too."""
    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    return sim.ivf_topk(e, e.where(F.col("vec_id") < 5), cents, k=3).orderBy("q_id", "rank")


@query(
    "sim_embedding_stats",
    """
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                           list_transform(embedding, x -> CAST(x AS DOUBLE))))), 4) AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    tags=("llm", "similarity"),
)
def sim_embedding_stats(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(sim.l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@query(
    "text_lang_stats",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars) + 1e-9, 2) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))) + 1e-9, 2) AS avg_tokens
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    tags=("llm", "text"),
)
def text_lang_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            eps_round(F.avg("n_chars"), 2).alias("avg_chars"),
            eps_round(F.avg(tx.token_count(F.col("text"))), 2).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


@query(
    "text_quality",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]')) AS BIGINT) AS n_tokens_re,
           ROUND(list_sum(list_transform(string_split(text, ' '), x -> CAST(length(x) AS DOUBLE)))
                 / len(string_split(text, ' ')) + 1e-9, 4) AS mean_tok_len,
           ROUND(len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) + 1e-9, 4) AS distinct_ratio,
           CAST(len(list_intersect(string_split(text, ' '), ['the', 'of', 'and', 'a', 'to'])) AS BIGINT) AS stop_hits,
           CASE WHEN len(list_distinct(string_split(text, ' '))) * 1.0 / len(string_split(text, ' ')) < 0.2
                THEN 'low' ELSE 'ok' END AS quality
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "text", "flagship"),
)
def text_quality(spark, sf_dir):
    """Quality-signal battery: token counts (whitespace + BPE-ish regex),
    mean token length, lexical diversity, stopword hits, quality class."""
    # r17: the tokenizer battery is the heavy stage and it used to run ON
    # the scan — single-threaded when the corpus arrives as one compact
    # file. Conditional range fan-out on doc_id moves the heavy Project
    # ABOVE the exchange (32-way parallel) and the trailing orderBy needs
    # no further exchange (range prefix) — same 1-exchange plan, parallel
    # compute. At cluster scale the scan is wide and fan_out is a no-op.
    from dumpr_spark.operators.scale import fan_out

    d = fan_out(t(spark, sf_dir, "documents"), "doc_id", by_range=True)
    c = F.col("text")
    toks = tx.tokens(c)
    stop_arr = F.array(*[F.lit(w) for w in tx.LANG_MARKERS["en"]])
    return d.select(
        "doc_id",
        tx.token_count(c).alias("n_tokens"),
        tx.regex_token_count(c).alias("n_tokens_re"),
        eps_round(tx.mean_token_length(c), 4).alias("mean_tok_len"),
        eps_round(tx.distinct_token_ratio(c), 4).alias("distinct_ratio"),
        F.size(F.array_intersect(toks, stop_arr)).cast("long").alias("stop_hits"),
        F.when(tx.distinct_token_ratio(c) < 0.2, "low").otherwise("ok").alias("quality"),
    ).orderBy("doc_id")


@query(
    "text_lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['der','die','und','das','ist'])) AS BIGINT) AS s_de,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['the','of','and','a','to'])) AS BIGINT) AS s_en,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['el','los','las','una','y'])) AS BIGINT) AS s_es,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['le','la','et','les','des'])) AS BIGINT) AS s_fr
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_lang_id(spark, sf_dir):
    """Stopword-marker language ID (n-gram heuristic family). Tie-break:
    alphabetical language order, matching predict_lang()."""
    from dumpr_spark.operators.scale import fan_out

    # r17: conditional range fan-out (see text_quality) — the heavy per-row
    # stage parallelizes off the compact single-file scan, the trailing
    # orderBy("doc_id") rides the range partitioning exchange-free; no-op
    # on cluster-wide scans.
    d = fan_out(t(spark, sf_dir, "documents"), "doc_id", by_range=True)
    return d.select("doc_id", "lang", tx.predict_lang(F.col("text")).alias("pred_lang")).orderBy(
        "doc_id"
    )


@query(
    "text_pii_scrub",
    """
    WITH tainted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or +1-555-01' ||
             lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS clean,
           CAST(length(text) - length(regexp_replace(text, '@', '', 'g')) AS BIGINT) AS n_at
    FROM tainted ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing (training-data hygiene): regex redaction of emails and
    phone numbers, JVM-side regexp_replace (no UDF). The corpus is salted
    with synthetic PII IN BOTH ENGINES so the redaction is actually
    exercised; `n_at` counts pre-scrub markers as a sanity signal."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tainted = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    phone_re = "\\+?[0-9][0-9()\\-\\s]{6,}[0-9]"
    clean = F.regexp_replace(
        F.regexp_replace(tainted, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    n_at = (F.length(tainted) - F.length(F.regexp_replace(tainted, "@", ""))).cast("long")
    return d.select("doc_id", clean.alias("clean"), n_at.alias("n_at")).orderBy("doc_id")


@query(
    "text_repetition",
    """
    WITH sh AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
      FROM (
        -- NO short-doc fallback here, deliberately: the Spark side excludes
        -- the whole-text fallback shingle (size == 3 filter), so sub-3-token
        -- docs are absent from BOTH engines
        SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i) s
      ) grams
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(1.0 - n_distinct * 1.0 / n_grams + 1e-9, 4) AS dup_gram_ratio,
           CASE WHEN 1.0 - n_distinct * 1.0 / n_grams > 0.2 THEN 'repetitive'
                ELSE 'ok' END AS rep_class
    FROM sh ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_repetition(spark, sf_dir):
    """Repetition quality signal (Gopher-style): duplicate 3-gram fraction
    per document — the standard filter for boilerplate/looping text in
    training corpora. Explode + count/count-distinct aggregation: one
    shuffle on doc_id, partial combine map-side."""
    from dumpr_spark.operators.scale import fan_out

    d = t(spark, sf_dir, "documents")
    grams = (
        fan_out(d.select("doc_id", "text"))
        .select(F.col("doc_id"), F.explode(dd.shingles(F.col("text"), 3)).alias("g"))
        .where(F.size(F.split(F.col("g"), " ")) == 3)  # exclude short-doc fallback shingle
    )
    sh = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
    )
    ratio = 1.0 - F.col("n_distinct") / F.col("n_grams")
    return sh.select(
        "doc_id",
        "n_grams",
        eps_round(ratio, 4).alias("dup_gram_ratio"),
        F.when(ratio > 0.2, "repetitive").otherwise("ok").alias("rep_class"),
    ).orderBy("doc_id")


_EMB_PAIR_SQL = """
    WITH ecorpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000, label, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 25 = 0
    ),
    escored AS (
      SELECT a.vec_id AS a, b.vec_id AS b,
             list_dot_product(a.e, b.e) /
             (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS sim
      FROM ecorpus a JOIN ecorpus b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT a, b FROM escored WHERE ROUND(sim + 1e-9, 6) >= 0.35
"""


@query(
    "dedup_semantic_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_EMB_PAIR_SQL}),
    sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
    reach(n, l) AS (
      SELECT a, a FROM sym
      UNION
      SELECT r.n, s.b FROM reach r JOIN sym s ON r.l = s.a
    )
    SELECT n AS vec_id, MIN(l) AS cluster_id FROM reach GROUP BY n
    ORDER BY vec_id
    """,
    tags=("llm", "dedup", "similarity", "iterative"),
)
def dedup_semantic_clusters(spark, sf_dir):
    """Semantic (embedding-space) dedup clusters: blocked cosine near-dup
    pairs -> connected components -> canonical cluster ids. The full
    100 TB semantic-dedup pipeline in one composition: blocking key (label /
    IVF cell) bounds the pair generation, CC canonicalizes, and at scale the
    keep-rule is cluster_id == vec_id. Threshold 0.35: low thresholds turn
    random within-block similarity into a dense weak-link graph whose giant
    components make both CC and any transitive oracle quadratic — a real
    semantic-dedup tuning concern, not just a test artifact.

    Pair construction and scoring shared with dedup_embedding_cosine via
    _blocked_cosine_pairs (per-row norm precompute — one dot fold per
    candidate pair instead of three folds + four array casts; measured
    40.7 s -> ~14 s at sf0.1, same doubles, same oracle)."""
    scored, cos = _blocked_cosine_pairs(t(spark, sf_dir, "embeddings"))
    pairs = scored.where(eps_round(cos, 6) >= 0.35).select("a", "b")
    comps = dd.connected_components(pairs)
    return comps.select(
        F.col("n").alias("vec_id"), F.col("comp").alias("cluster_id")
    ).orderBy("vec_id")


@query(
    "text_lang_confusion",
    """
    WITH scored AS (
      SELECT lang,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['der','die','und','das','ist'])) AS BIGINT) AS s_de,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['the','of','and','a','to'])) AS BIGINT) AS s_en,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['el','los','las','una','y'])) AS BIGINT) AS s_es,
             CAST(len(list_intersect(list_distinct(string_split(text, ' ')), ['le','la','et','les','des'])) AS BIGINT) AS s_fr
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored
    )
    SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
    tags=("llm", "text", "eval"),
)
def text_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix (label x prediction counts) — the
    evaluation aggregate every classifier-in-the-pipeline needs. One narrow
    scoring projection + one tiny groupBy (|langs|^2 cells after map-side
    combine); at 100 TB the matrix is the cheap byproduct of the scoring
    scan, not a second pass."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", tx.predict_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


@query(
    "sim_centroid_by_label",
    """
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(v) + 1e-9, 6) AS centroid_v
    FROM ex GROUP BY label, pos ORDER BY label, pos
    """,
    tags=("llm", "similarity", "embedding"),
)
def sim_centroid_by_label(spark, sf_dir):
    """Per-label embedding centroids — the M-step of distributed k-means and
    the class-prototype statistic of every embedding-quality report.

    posexplode is a narrow 64x fanout (no shuffle); the (label, pos) groupBy
    partially aggregates map-side, so the shuffle carries |labels| x dims
    (sum, count) cells per input partition — constant in corpus size. That is
    the 100 TB shape: centroid cost ~= one scan, however many vectors."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            eps_round(F.avg(F.col("v").cast("double")), 6).alias("centroid_v"),
        )
        .select("label", "pos", "n", "centroid_v")
        .orderBy("label", "pos")
    )


@query(
    "embed_quantize_int8",
    """
    WITH xs AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, x,
             GREATEST(list_aggregate(list_transform(x, v -> abs(v)), 'max'), 1e-12) / 127.0 AS scale
      FROM xs
    ),
    qs AS (
      SELECT vec_id, x, scale,
             list_transform(x, v -> CAST(FLOOR(v / scale + 0.5) AS BIGINT)) AS q
      FROM sc
    )
    SELECT vec_id,
           ROUND(scale + 1e-9, 6) AS scale6,
           ROUND(list_aggregate(list_transform(q, (v, i) -> abs(x[i] - v * scale)), 'max') + 1e-9, 6)
             AS max_err6,
           CAST(list_sum(list_transform(q, v -> v * v)) AS BIGINT) AS q_sq_sum
    FROM qs ORDER BY vec_id
    """,
    tags=("llm", "embedding", "quantize"),
)
def embed_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (scale = amax/127) with
    reconstruction-error audit — the storage/serving compression step of an
    embedding pipeline (4x smaller than float32, cheap int dot products).

    Pure narrow array expressions (transform/aggregate/zip_with): fuses into
    the scan, zero shuffles, zero Python — at 100 TB this is I/O-bound, the
    only acceptable cost for a full-corpus rewrite. FLOOR(x+0.5) instead of
    round() pins identical half-way behavior across engines; q_sq_sum is an
    integer-exact cross-engine checksum of the quantized vectors themselves
    (not just their rounded stats)."""
    e = t(spark, sf_dir, "embeddings")
    d = (
        e.select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        .withColumn(
            "amax",
            F.aggregate("x", F.lit(0.0), lambda a, v: F.greatest(a, F.abs(v))),
        )
        .withColumn("scale", F.greatest("amax", F.lit(1e-12)) / F.lit(127.0))
        .withColumn(
            "q",
            F.transform("x", lambda v: F.floor(v / F.col("scale") + 0.5).cast("long")),
        )
    )
    return d.select(
        "vec_id",
        eps_round(F.col("scale"), 6).alias("scale6"),
        eps_round(
            F.aggregate(
                F.zip_with("x", "q", lambda xv, qv: F.abs(xv - qv * F.col("scale"))),
                F.lit(0.0),
                lambda a, v: F.greatest(a, v),
            ),
            6,
        ).alias("max_err6"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, qv: a + qv * qv
        ).alias("q_sq_sum"),
    ).orderBy("vec_id")


@query(
    "text_tfidf_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1e-9, 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    tags=("llm", "text", "tfidf"),
)
def text_tfidf_topk(spark, sf_dir):
    """TF-IDF top-3 terms per document — the classic relevance/keyword
    extractor a curation pipeline runs to label shards. All built-ins:
    explode -> two partial-combining aggregations (tf keyed by (doc, term),
    df keyed by term) -> broadcast the term-level df table (vocab-sized, tiny
    vs the corpus) -> per-doc top-3 window over ≤|vocab| rows per doc.
    The corpus-sized side shuffles once, on (doc_id, term). Scores are
    eps-rounded BEFORE ranking so cross-engine float noise in ln() cannot
    flip rank order (term asc breaks exact ties identically)."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()  # scalar, driver-side by design (one long)
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        eps_round(
            F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", "rnk")
    )


@query(
    "text_bpe_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos
      FROM toks
    ),
    pairs AS (
      SELECT doc_id, tok,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
      FROM pos
    )
    SELECT tok || ' ' || nxt AS pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs WHERE nxt IS NOT NULL
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
    tags=("llm", "text", "tokenizer"),
)
def text_bpe_pairs(spark, sf_dir):
    """Adjacent-token-pair frequencies — the inner loop of BPE/WordPiece
    tokenizer training (count all symbol bigrams, merge the most frequent).
    Spark side builds pairs WITHOUT a window or second shuffle: a zip of the
    token array with itself shifted one (arrays_zip + slice), exploded and
    counted — narrow until the single |vocab|² -bounded pair aggregation,
    then TakeOrderedAndProject for the top-50. The oracle spells the same
    pairs via lead() to prove the array form ≡ the window form."""
    docs = t(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(tk) >= 2,
                F.zip_with(
                    F.slice(tk, 1, F.size(tk) - 1),
                    F.slice(tk, 2, F.size(tk) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
    )


@query(
    "index_inverted",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    postings AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             array_to_string(list_sort(list(doc_id))[1:10], ',') AS first_docs
      FROM toks GROUP BY term
    )
    SELECT term, df, first_docs FROM postings
    ORDER BY df DESC, term
    LIMIT 100
    """,
    tags=("llm", "text", "index"),
)
def index_inverted(spark, sf_dir):
    """Inverted-index build (term -> document-frequency + capped posting
    list) — the search-index-population use case the reference names
    (README.md:14-21) expressed over the materialized corpus. distinct
    (doc, term) pairs -> a per-term rank window caps the posting list to the
    10 smallest doc_ids BEFORE any collect_list (a stopword-like term must
    never accumulate a corpus-sized array in the aggregation buffer — the
    capped-rows-then-collect shape, same discipline as the LSH bucket cap);
    df is the same window partition's count, so the whole query is ONE
    shuffle on term (the post-filter groupBy reuses the window's hash
    partitioning — no second Exchange)."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc_id")
    wall = Window.partitionBy("term")
    ranked = toks.withColumn("rn", F.row_number().over(w)).withColumn(
        "df", F.count(F.lit(1)).over(wall)
    )
    return (
        ranked.where(F.col("rn") <= 10)
        .groupBy("term")
        .agg(
            F.first("df").alias("df"),
            F.concat_ws(
                ",",
                F.transform(F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")),
            ).alias("first_docs"),
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


@query(
    "dedup_suffix_containment",
    _NEAR_CORPUS_CTE
    + """
    , keyed AS (
      SELECT doc_id, text,
             array_to_string(string_split(text, ' ')[-5:], ' ') AS tail_key,
             len(string_split(text, ' ')) AS n_tok
      FROM corpus
    ),
    ok_tails AS (
      SELECT tail_key FROM keyed GROUP BY tail_key HAVING COUNT(*) <= 64
    ),
    capped AS (
      SELECT k.* FROM keyed k JOIN ok_tails USING (tail_key)
    )
    SELECT b.doc_id AS contained_id, a.doc_id AS container_id
    FROM capped a JOIN capped b
      ON a.tail_key = b.tail_key
     AND a.doc_id <> b.doc_id
     AND a.n_tok > b.n_tok
     AND strpos(a.text, b.text) > 0
    ORDER BY contained_id, container_id
    """,
    tags=("llm", "dedup", "containment"),
)
def dedup_suffix_containment(spark, sf_dir):
    """Substring-containment dedup (a doc fully contained in a longer one —
    the truncated-page / quoted-article case crawl curation must drop).
    Candidates come from an equi-join on the LAST-5-token key — a contained
    suffix necessarily shares its container's tail — then the exact
    `instr` containment check runs only on candidate pairs. At 100 TB the
    shuffle carries (tail_key, doc) pairs and the quadratic check is
    confined to same-tail buckets, HARD-capped at 64 members (a COUNT
    prefilter drops boilerplate tails — shared footers/disclaimers — before
    any pairing, the same discipline as the LSH bucket cap; at this corpus
    no tail hits the cap so the oracle is exact). The synthetic near-twins
    (first word dropped) are true suffixes, so every twin pair must
    appear."""
    c = _dup_corpus(spark, sf_dir, near=True)
    tk = F.split("text", " ")
    # slice(-5, 5) returns EMPTY for arrays shorter than 5 (unlike DuckDB's
    # clamping [-5:]) — clamp explicitly so short docs keep their full text
    # as the tail key on both engines instead of colliding into one bucket
    tail = F.when(F.size(tk) >= 5, F.slice(tk, -5, 5)).otherwise(tk)
    keyed = c.select(
        "doc_id",
        "text",
        F.concat_ws(" ", tail).alias("tail_key"),
        F.size(tk).alias("n_tok"),
    )
    ok_tails = keyed.groupBy("tail_key").agg(F.count(F.lit(1)).alias("_n")).where(
        F.col("_n") <= 64
    ).select("tail_key")
    keyed = keyed.join(ok_tails, "tail_key")
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tail_key") == F.col("b.tail_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("a.n_tok") > F.col("b.n_tok"))
            & (F.instr(F.col("a.text"), F.col("b.text")) > 0),
        )
        .select(
            F.col("b.doc_id").alias("contained_id"),
            F.col("a.doc_id").alias("container_id"),
        )
        .orderBy("contained_id", "container_id")
    )


@query(
    "text_concordance",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    pos AS (
      SELECT doc_id, tk, unnest(tk) AS tok, generate_subscripts(tk, 1) AS p
      FROM toks
    )
    SELECT doc_id, CAST(p AS BIGINT) AS p,
           array_to_string(tk[greatest(p - 2, 1):least(p + 2, len(tk))], ' ')
             AS context
    FROM pos WHERE tok = 'merge' AND doc_id < 100
    ORDER BY doc_id, p
    """,
    tags=("llm", "text", "search"),
)
def text_concordance(spark, sf_dir):
    """Keyword-in-context (KWIC) concordance: every occurrence of a term
    with ±2 words of context — the classic corpus-inspection query behind a
    search index (README.md:14-21 use case). Pure narrow plan: the token
    array is built once per row, posexplode yields positions, and context
    is a slice of the SAME array — no join back, no shuffle at all before
    the output sort."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    tk = F.split("text", " ")
    pos = docs.select(
        "doc_id", tk.alias("tk"), F.posexplode(tk).alias("p0", "tok")
    ).withColumn("p", F.col("p0") + 1)  # 1-based to match SQL subscripts
    start = F.greatest(F.col("p") - 2, F.lit(1))
    stop = F.least(F.col("p") + 2, F.size("tk"))
    return (
        pos.where(F.col("tok") == "merge")
        .select(
            "doc_id",
            F.col("p").cast("long").alias("p"),
            F.concat_ws(" ", F.slice("tk", start, stop - start + 1)).alias("context"),
        )
        .orderBy("doc_id", "p")
    )


@query(
    "graph_pagerank_3iter",
    """
    WITH edges AS (
      SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey % 20 = 0
      UNION ALL
      SELECT DISTINCT 's' || l.l_suppkey, 'c' || o.o_custkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey % 20 = 0
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS cnt FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT cnt FROM n) AS rank FROM nodes),
    r1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT cnt FROM n)
               + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT cnt FROM n)
               + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT cnt FROM n)
               + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )
    SELECT node, ROUND(rank * 1000 + 1e-9, 6) AS rank_k
    FROM r3
    ORDER BY ROUND(rank * 1000 + 1e-9, 6) DESC, node
    LIMIT 50
    """,
    tags=("graph", "iterative"),
)
def graph_pagerank_3iter(spark, sf_dir):
    """Fixed-iteration PageRank (3 steps, d=0.85) over the symmetrized
    customer-supplier trade graph — the second iterative-algorithm family
    next to connected components (dedup_clusters). Each iteration is one
    equi-join of the rank vector against the edge list + a partial-combining
    groupBy on dst: rank mass moves WITHOUT materializing the graph on the
    driver, and the edge list partitioning is reusable across iterations
    (at 100 TB: co-partition edges and ranks on src — iterations then
    shuffle only the thin rank vector). Fixed iteration count keeps it
    SQL-expressible so the oracle can pin exact values; convergence-driven
    variants change only the Python loop condition."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    li = t(spark, sf_dir, "lineitem")
    base = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    edges = (
        base.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(base.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        # r17: the docstring's at-scale shape, implemented — co-partition
        # the edge list on src ONCE and pin it. Before, the join+distinct
        # edge subtree re-evaluated for nodes/deg/every iteration's join
        # (7+ evaluations in the final plan); now degrees, the node
        # distinct, and each iteration's src-join all reuse the pinned
        # hash(src) partitioning, so iterations shuffle only the thin
        # rank vector.
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    # symmetric graph => every node appears as a src; degree never zero
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = nodes.count()  # scalar (driver-side by design: one long)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(3):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("m"))
        )
        ranks = (
            contrib.groupBy("dst")
            .agg((F.lit(0.15 / n_nodes) + 0.85 * F.sum("m")).alias("rank"))
            .withColumnRenamed("dst", "node")
        )
    scored = ranks.select("node", eps_round(F.col("rank") * 1000, 6).alias("rank_k"))
    return scored.orderBy(F.desc("rank_k"), F.asc("node")).limit(50)


@query(
    "text_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(lower(text), '')) AS ch FROM documents
    ),
    cc AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars WHERE ch <> '' GROUP BY doc_id, ch
    ),
    n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY doc_id),
    ent AS (
      SELECT cc.doc_id, n.n AS n_chars,
             ROUND(-SUM((cc.c * 1.0 / n.n) * ln(cc.c * 1.0 / n.n) / ln(2.0))
                   + 1e-9, 4) AS entropy
      FROM cc JOIN n ON cc.doc_id = n.doc_id
      GROUP BY cc.doc_id, n.n
    )
    SELECT doc_id, n_chars, entropy, entropy < 3.0 AS low_entropy
    FROM ent ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the gibberish /
    boilerplate / encoding-noise quality signal (low-entropy text is
    repeated characters or markup soup; the Gopher-style rule flags
    entropy < 3 bits). H = -sum(p * log2 p) over lowercased characters.

    Scale shape: the char explode emits (doc_id, char) pairs — wide in rows
    but 2 tiny columns, and the per-(doc, char) count partial-aggregates
    map-side down to at most |alphabet| rows per doc per partition before
    the doc_id shuffle; the second rollup reuses the same key so AQE keeps
    it co-partitioned. Both engines sum the per-char terms in arbitrary
    order — a 1-ulp float wobble killed by the 4-digit eps round, with the
    flag computed from the ROUNDED value so it cannot split across engines."""
    d = t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    cc = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = cc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c") / F.col("n")
    ent = (
        cc.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(eps_round(-F.sum(p * F.log(p) / F.log(F.lit(2.0))), 4).alias("entropy"))
    )
    return ent.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "entropy",
        (F.col("entropy") < 3.0).alias("low_entropy"),
    ).orderBy("doc_id")


@query(
    "embed_pq_codes",
    """
    WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
    sub AS (
      SELECT e.vec_id, ms.m,
             list_transform(list_slice(e.embedding, ms.m * 16 + 1, ms.m * 16 + 16),
                            x -> CAST(x AS DOUBLE)) AS sv
      FROM embeddings e CROSS JOIN ms
    ),
    cents AS (SELECT vec_id AS cid, m, sv AS cv FROM sub WHERE vec_id < 4),
    dists AS (
      SELECT s.vec_id, s.m, c.cid,
             ROUND(list_dot_product(s.sv, s.sv)
                   - 2 * list_dot_product(s.sv, c.cv)
                   + list_dot_product(c.cv, c.cv) + 1e-9, 6) AS d2
      FROM sub s JOIN cents c ON s.m = c.m
    ),
    best AS (
      SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        FROM dists) WHERE rn = 1
    )
    SELECT vec_id, array_to_string(list(cid ORDER BY m), ',') AS pq_code
    FROM best GROUP BY vec_id ORDER BY vec_id
    """,
    tags=("llm", "similarity", "quantization"),
)
def embed_pq_codes(spark, sf_dir):
    """Product-quantization codebook assignment (the FAISS-style ANN
    compression): the 64-dim embedding splits into 4 sub-vectors of 16 dims;
    each sub-vector maps to its nearest of 4 sub-centroids (the first 4
    corpus vectors' sub-slices — fixed, like sim_topk_ivf's centroids), and
    the document compresses to a 4-byte code string. Complements
    embed_quantize_int8 (scalar quantization) with the vector-codebook form.

    Deterministic cross-engine: distances use the dot-product expansion
    (x.x - 2x.c + c.c) so both engines fold in the same order, rounded to 6
    digits before ranking with a centroid-id tie-break. Scale shape: the
    sub-centroid table is 16 rows — broadcast; the sub-vector explode is a
    narrow 4x row map fused into the scan; ranking windows partition by
    (vec_id, m) and the final code assembly is one groupBy on vec_id —
    nothing global, everything keyed."""
    e = t(spark, sf_dir, "embeddings")
    sub = e.select(
        "vec_id",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("m"),
        "embedding",
    ).select(
        "vec_id",
        "m",
        F.transform(
            F.slice("embedding", F.col("m") * 16 + 1, F.lit(16)),
            lambda x: x.cast("double"),
        ).alias("sv"),
    )
    cents = sub.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("m").alias("cm"), F.col("sv").alias("cv")
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )

    from pyspark.sql import Window

    sv, cv = F.col("sv"), F.col("cv")
    # eps_round discipline: ranking happens ON the rounded value, and a
    # plain round at an exact .5 decimal boundary can split across engines
    d2 = eps_round(dot(sv, sv) - 2 * dot(sv, cv) + dot(cv, cv), 6)
    dists = sub.join(F.broadcast(cents), F.col("m") == F.col("cm")).select(
        "vec_id", "m", "cid", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
    best = (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    code = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "cid"))),
            lambda x: x["cid"].cast("string"),
        ),
        ",",
    )
    return (
        best.groupBy("vec_id")
        .agg(code.alias("pq_code"))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Round-4 wave 2: BM25 ranking, hyperplane-LSH ANN, matryoshka truncation
# --------------------------------------------------------------------------

_BM25_TERMS = ("customer", "merge", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75
# interpolated into the oracle SQL so editing _BM25_TERMS can never desync
# the two engines (the k1/b constants are interpolated the same way)
_BM25_IN = ", ".join(f"'{w}'" for w in _BM25_TERMS)


# shared oracle fragment producing bm25(doc_id, score) — used by both the
# plain top-k query and the hybrid-RRF pipeline so the scorer can't drift
_BM25_SCORED_CTES = f"""docs AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM docs),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tk) AS tok FROM docs)
      WHERE tok IN ({_BM25_IN})
      GROUP BY doc_id, tok
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    bm25 AS (
      SELECT t.doc_id,
             ROUND(SUM(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
               * (t.tf * ({_BM25_K1} + 1))
               / (t.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl))
             ) + 1e-9, 4) AS score
      FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id) CROSS JOIN stats s
      GROUP BY t.doc_id
    )"""


@query(
    "text_bm25_topk",
    f"""
    WITH {_BM25_SCORED_CTES}
    SELECT doc_id, score FROM bm25
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    tags=("llm", "text", "search", "ranking"),
)
def text_bm25_topk(spark, sf_dir):
    """BM25 document ranking (k1=1.2, b=0.75) for a 3-term query — the
    retrieval scorer that sits on top of index_inverted. The plan never
    materializes the full index: tokens are filtered to the QUERY terms
    right after the explode (predicate before the first shuffle, so the
    groupBy carries only matching (doc, term) pairs); df comes from a
    window over the already-tiny tf table (NOT a second tokenize branch —
    Catalyst doesn't dedup common subplans, so a separate df aggregate
    would re-scan and re-explode the whole corpus); the corpus stats
    (N, avgdl) are a scalar broadcast; the final per-doc score is one
    partial-combining aggregation over <= |terms| rows per doc, and top-20
    is TakeOrdered (no global sort materialized). At 100 TB: one tokenize
    pass for tf/df plus one pruned 2-column scan for doc lengths,
    everything after is query-term-sized."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


def _bm25_scored(spark, sf_dir):
    """(doc_id, score) BM25 table for _BM25_TERMS — shared by the plain
    top-k query and the hybrid-RRF retrieval pipeline."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    dl = docs.select("doc_id", F.size("tk").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    from pyspark.sql import Window

    tf = (
        docs.select("doc_id", F.explode("tk").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfdf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    tf_term = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tfdf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(eps_round(F.sum(idf * tf_term), 4).alias("score"))
    )


def _hyperplane_sig_sql(n_planes: int = 4, dim: int = 64, offset: int = 0,
                        vcol: str = "v") -> str:
    """Render the deterministic hyperplane family as SQL CASE terms (same
    integer LCG as similarity.hyperplane_weights — the oracle regenerates
    identical planes). `offset` selects the independent family of LSH
    table f (planes [f*n_planes, (f+1)*n_planes)), mirroring lsh_topk's
    multi-table loop."""
    ws = sim.hyperplane_weights(n_planes, dim, offset)
    terms = [
        f"(CASE WHEN ROUND(list_dot_product({vcol}, "
        f"[{', '.join(repr(x) for x in w)}]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(ws)
    ]
    return " + ".join(terms)


@query(
    "sim_ann_hyperplane",
    f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    sigs AS (
      SELECT vec_id, v, {{sig_expr}} AS sig FROM corpus
    ),
    q AS (SELECT vec_id AS q_id, v AS qv, sig FROM sigs WHERE vec_id < 16),
    scored AS (
      SELECT q.q_id, n.vec_id AS n_id,
             ROUND(list_dot_product(q.qv, n.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(n.v, n.v)))
                   + 1e-9, 6) AS sim
      FROM q JOIN sigs n USING (sig)
      WHERE q.q_id <> n.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM scored
    )
    SELECT q_id, n_id, sim, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
    ORDER BY q_id, rank
    """.replace("{sig_expr}", _hyperplane_sig_sql()),
    tags=("llm", "similarity", "approx", "lsh"),
)
def sim_ann_hyperplane(spark, sf_dir):
    """Random-hyperplane LSH ANN top-3 for a 16-vector query batch — the
    second scale path next to IVF: no trained centroids, the bucket key is
    the 4-bit sign signature under a fixed pseudo-random plane family, so
    the candidate join is an equi-join on an 8-byte signature (expected
    bucket = corpus/16). Approximate by bucketing, but DETERMINISTIC given
    the fixed planes, rounded sims, and id tie-breaks — the oracle replays
    the identical hash -> bucket-join -> rank pipeline in SQL. Recall vs
    brute force is asserted in tests/test_llm_ops.py."""
    e = t(spark, sf_dir, "embeddings")
    return sim.lsh_topk(
        e, e.where(F.col("vec_id") < 16), k=3, n_planes=4, dim=64
    ).orderBy("q_id", "rank")


@query(
    "embed_matryoshka",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(v, v)) + 1e-9, 6) AS norm_full,
           ROUND(sqrt(list_dot_product(v[1:16], v[1:16])) + 1e-9, 6) AS norm_16,
           ROUND(sqrt(list_dot_product(v[1:16], v[1:16]))
                 / sqrt(list_dot_product(v, v)) + 1e-9, 6) AS energy_16,
           ROUND(v[1] / sqrt(list_dot_product(v[1:16], v[1:16])) + 1e-9, 6) AS u0_16
    FROM v WHERE vec_id < 200 ORDER BY vec_id
    """,
    tags=("llm", "embedding"),
)
def embed_matryoshka(spark, sf_dir):
    """Matryoshka-style embedding truncation: keep the first 16 of 64 dims
    and re-normalize — the storage/recall dial modern embedding models are
    trained for (MRL). Reports full/truncated norms, retained energy, and
    the first re-normalized component. Pure narrow projection (slice + two
    JVM-side fold norms, no shuffle at all) — at 100 TB this is the cheap
    pre-pass that shrinks every downstream ANN/dedup shuffle 4x."""
    e = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    v = sim._dbl(F.col("embedding"))
    head = F.slice(v, 1, 16)
    return e.select(
        "vec_id",
        eps_round(sim.l2_norm(v), 6).alias("norm_full"),
        eps_round(sim.l2_norm(head), 6).alias("norm_16"),
        eps_round(sim.l2_norm(head) / sim.l2_norm(v), 6).alias("energy_16"),
        eps_round(F.element_at(head, 1) / sim.l2_norm(head), 6).alias("u0_16"),
    ).orderBy("vec_id")


@query(
    "search_hybrid_rrf",
    f"""
    WITH {_BM25_SCORED_CTES},
    cands AS (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rb
      FROM bm25
    ),
    top AS (SELECT * FROM cands WHERE rb <= 20),
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    qv AS (SELECT v FROM emb WHERE vec_id = 0),
    scored AS (
      SELECT t.doc_id, t.rb,
             ROUND(list_dot_product(e.v, q.v) /
                   (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)))
                   + 1e-9, 6) AS sim
      FROM top t JOIN emb e ON e.vec_id = t.doc_id CROSS JOIN qv q
    ),
    ranked AS (
      SELECT doc_id, rb,
             ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rc
      FROM scored
    )
    SELECT doc_id, CAST(rb AS INT) AS bm25_rank, CAST(rc AS INT) AS cos_rank,
           ROUND(1.0 / (60 + rb) + 1.0 / (60 + rc) + 1e-9, 6) AS rrf
    FROM ranked ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("llm", "search", "ranking", "pipeline"),
)
def search_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (k=60): BM25 selects 20
    lexical candidates, an embedding rerank scores them against a fixed
    query vector (doc_id aligns with vec_id in this corpus), and RRF fuses
    the two rank lists — the standard hybrid-search shape for RAG corpora.
    Scale: candidate generation is the BM25 plan (one tokenize pass,
    TakeOrdered top-20); everything after operates on the 20-row candidate
    set — the rerank join probes 20 keys against the embedding table, and
    both ranks are broadcast self-join counts over the capped set (no
    window operator anywhere on the fused path; the oracle's ROW_NUMBER is
    the same rank spelled out in ANSI SQL). Deterministic: rounded
    scores/sims + doc_id tie-breaks at every rank."""
    scored = _bm25_scored(spark, sf_dir)
    # limit-20 FIRST (TakeOrdered), then rank the 20 survivors. Rank is a
    # broadcast self-join count (1 + #candidates strictly better by
    # (key desc, doc_id)) rather than an unpartitioned row_number window:
    # identical result on the unique-keyed 20-row set, but no global
    # WindowExec — the repo's no-single-partition-window invariant stays
    # grep-clean, and the join is O(20^2) pairs.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)

    def rank_by(df, key, rank_name):
        o = df.select(F.col("doc_id").alias("o_id"), F.col(key).alias("o_key"))
        beats = (F.col("o_key") > F.col(key)) | (
            (F.col("o_key") == F.col(key)) & (F.col("o_id") < F.col("doc_id"))
        )
        return (
            df.join(F.broadcast(o), beats, "left")
            .groupBy(*df.columns)
            .agg((F.count("o_id") + 1).cast("int").alias(rank_name))
        )

    top = rank_by(top, "score", "rb")
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec")
    )
    cand = top.join(emb, top["doc_id"] == emb["vec_id"]).crossJoin(F.broadcast(qv))
    sim_c = F.round(sim.cosine(F.col("embedding"), F.col("q_vec")) + 1e-9, 6)
    scored2 = cand.select("doc_id", "rb", sim_c.alias("sim"))
    ranked = rank_by(scored2, "sim", "rc")
    return (
        ranked.select(
            "doc_id",
            F.col("rb").cast("int").alias("bm25_rank"),
            F.col("rc").cast("int").alias("cos_rank"),
            eps_round(1.0 / (60 + F.col("rb")) + 1.0 / (60 + F.col("rc")), 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "dedup_paragraphs",
    """
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS tks FROM documents
    ),
    par AS (
      SELECT doc_id, p.pos AS pos,
             array_to_string(tks[((p.pos - 1) * 10 + 1):(p.pos * 10)], ' ') AS para,
             CAST(len(tks[((p.pos - 1) * 10 + 1):(p.pos * 10)]) AS BIGINT) AS n_toks
      FROM tk, UNNEST(range(1, CAST(ceil(len(tks) / 10.0) AS BIGINT) + 1)) AS p(pos)
    ),
    j AS (
      SELECT doc_id, pos, para, n_toks,
             COUNT(*) OVER (PARTITION BY md5(para)) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
      FROM par
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN cnt = 1 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN cnt = 1 OR rn = 1 THEN n_toks ELSE 0 END) AS BIGINT)
             AS kept_tokens,
           md5(COALESCE(string_agg(CASE WHEN cnt = 1 OR rn = 1 THEN para END,
                                   ' ' ORDER BY pos), '')) AS new_text_md5
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_paragraphs(spark, sf_dir):
    """Passage-level exact dedup (the CCNet / RefinedWeb paragraph-dedup
    shape): split every document into fixed 10-token passages, drop every
    passage whose content appears elsewhere in the corpus EXCEPT its
    canonical first occurrence (min (doc_id, pos)), and report per doc what
    survives plus an md5 of the recomposed text.

    Scale shape: passages groupBy a 16-byte content hash with min(struct)
    canonical election — partial aggregation combines map-side, so the
    count of a boilerplate passage duplicated a million times reduces
    inside each input partition before the wire. The join back to passages
    is an equi-join on the hash, so AQE skew-join can split the hot
    boilerplate hashes (a window over the hash partition could not be
    split). Shuffles carry the hash + the passage once each; the final
    per-doc rollup re-keys by doc_id.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    j = dd.paragraph_dedup(d, id_col="doc_id", text_col="text", para_tokens=10)
    keep = F.col("keep")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(keep.cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(keep, F.col("n_toks")).otherwise(0)).cast("long").alias("kept_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.when(keep, F.struct("pos", "para")))),
                        lambda x: x["para"],
                    ),
                    " ",
                )
            ).alias("new_text_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_gopher_rules",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             ROUND(list_sum(list_transform(string_split(text, ' '),
                                           x -> CAST(length(x) AS DOUBLE)))
                   / len(string_split(text, ' ')) + 1e-9, 4) AS mean_word_len,
             CAST(len(list_intersect(string_split(text, ' '),
                                     ['the', 'of', 'and', 'a', 'to'])) AS BIGINT) AS stop_hits,
             ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) + 1e-9, 4) AS distinct_ratio,
             ROUND(list_max(list_transform(list_distinct(string_split(text, ' ')),
                            w -> len(list_filter(string_split(text, ' '), x -> x = w)))) * 1.0
                   / len(string_split(text, ' ')) + 1e-9, 4) AS top_word_ratio
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, stop_hits, distinct_ratio, top_word_ratio,
           (n_words BETWEEN 30 AND 1000) AS r_words,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS r_wordlen,
           (stop_hits >= 2) AS r_stop,
           (distinct_ratio >= 0.1) AS r_distinct,
           (top_word_ratio <= 0.1) AS r_topword,
           ((n_words BETWEEN 30 AND 1000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND stop_hits >= 2 AND distinct_ratio >= 0.1 AND top_word_ratio <= 0.1) AS pass
    FROM m ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_gopher_rules(spark, sf_dir):
    """Gopher-style repetition/quality rule battery (Rae et al. 2021, Dolma's
    filter set): word-count bounds, mean-word-length bounds, minimum stopword
    evidence, lexical-diversity floor, and a top-word-coverage cap (the
    "most common word covers too much of the doc" repetition rule). Each
    rule is a boolean on a ROUNDED metric (the established cross-engine
    discipline — a threshold on an unrounded float can split engines on a
    1-ulp wobble), plus the conjunction `pass` flag.

    Scale shape: a pure narrow projection over the scan — per-doc array
    expressions, zero shuffle, whole-stage codegen end to end. The
    top-word count is O(distinct x tokens) per doc inside the row, which is
    bounded by document length, not corpus size.
    """
    from dumpr_spark.operators.scale import fan_out

    # r17: conditional range fan-out (see text_quality) — the heavy per-row
    # stage parallelizes off the compact single-file scan, the trailing
    # orderBy("doc_id") rides the range partitioning exchange-free; no-op
    # on cluster-wide scans.
    d = fan_out(t(spark, sf_dir, "documents"), "doc_id", by_range=True)
    c = F.col("text")
    tks = F.split(c, " ")
    n_words = F.size(tks).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in tx.LANG_MARKERS["en"]])
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(tks),
            lambda w: F.size(F.filter(tks, lambda x: x == w)),
        )
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        eps_round(tx.mean_token_length(c), 4).alias("mean_word_len"),
        F.size(F.array_intersect(tks, stop_arr)).cast("long").alias("stop_hits"),
        eps_round(tx.distinct_token_ratio(c), 4).alias("distinct_ratio"),
        eps_round(top_cnt * F.lit(1.0) / F.size(tks), 4).alias("top_word_ratio"),
    )
    r_words = F.col("n_words").between(30, 1000)
    r_wordlen = F.col("mean_word_len").between(3.0, 10.0)
    r_stop = F.col("stop_hits") >= 2
    r_distinct = F.col("distinct_ratio") >= 0.1
    r_topword = F.col("top_word_ratio") <= 0.1
    return m.select(
        "doc_id", "n_words", "mean_word_len", "stop_hits", "distinct_ratio",
        "top_word_ratio",
        r_words.alias("r_words"),
        r_wordlen.alias("r_wordlen"),
        r_stop.alias("r_stop"),
        r_distinct.alias("r_distinct"),
        r_topword.alias("r_topword"),
        (r_words & r_wordlen & r_stop & r_distinct & r_topword).alias("pass"),
    ).orderBy("doc_id")


@query(
    "graph_triangle_count",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 200
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    part AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM part GROUP BY node ORDER BY node
    """,
    tags=("llm", "graph"),
)
def graph_triangle_count(spark, sf_dir):
    """Distributed triangle counting (node-iterator form) over the part
    co-purchase graph — the third graph-analytics family next to connected
    components and PageRank; triangle participation is the classic
    clustering/community-strength signal. Edges = distinct part pairs
    co-occurring in an order, canonicalized u < v so each triangle
    (x < y < z) is found exactly once; per-node counts explode each
    triangle to its three corners.

    Scale shape: the wedge join is the quadratic-in-degree step, so the
    Spark plan runs the REAL degree-ordering algorithm: every undirected
    edge is oriented from its lower-(degree, id) endpoint to its higher
    one, and wedges are generated only at a vertex's OUT-arcs. A hub's
    out-degree under this orientation is bounded by the graph's degeneracy
    (its in-arcs, however many, generate nothing), which is what actually
    tames the d^2 blowup at 100 TB — id-canonical edges alone would not
    (a hub with a small id keeps all its edges outgoing). The rank join is
    a broadcast (one row per vertex); the wedge/closing joins are plain
    equi-joins (AQE-splittable); the corner explode shuffles 3 longs per
    triangle. Orientation changes join sizes only — the triangle SET is
    orientation-invariant, so the id-ordered DuckDB oracle checks the same
    answer."""
    li = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 200)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    # total order by (degree, id): orient each edge low -> high so every
    # vertex's out-degree is degeneracy-bounded
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = edges.join(
        F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))), "u"
    ).join(
        F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    arcs = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.struct("du", F.col("u").alias("i"))).otherwise(
            F.struct(F.col("dv").alias("du"), F.col("v").alias("i"))
        ).alias("src_key"),
        F.when(u_first, F.struct(F.col("dv").alias("du"), F.col("v").alias("i"))).otherwise(
            F.struct("du", F.col("u").alias("i"))
        ).alias("dst_key"),
    )
    # wedges at the smallest vertex of each triangle: two out-arcs, the pair
    # ordered by the same (degree, id) key so the closing arc's direction is
    # known to be b -> c
    w1 = arcs.alias("w1")
    w2 = arcs.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (
            (F.col("w1.dst_key.du") < F.col("w2.dst_key.du"))
            | (
                (F.col("w1.dst_key.du") == F.col("w2.dst_key.du"))
                & (F.col("w1.dst") < F.col("w2.dst"))
            )
        ),
    ).select(
        F.col("w1.src").alias("x"), F.col("w1.dst").alias("y"), F.col("w2.dst").alias("z")
    )
    closing = arcs.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("node")
    )


@query(
    "dedup_simhash_banded",
    _NEAR_CORPUS_CTE
    + _SIMHASH_SIG_CTES
    + """
    , bands AS (
      SELECT doc_id, sh64, j AS band,
             (sh64 >> (48 - 16 * j)) & 65535 AS val
      FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.sh64 AS ha, b.sh64 AS hb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY a, b
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash_banded(spark, sf_dir):
    """Corpus-wide SimHash near-dup PAIR SEARCH — the candidate-generation
    step `dedup_simhash` (which only scores already-known pairs) leaves
    out, completing the SimHash family to the same shape as MinHash-LSH:
    the 64-bit signature splits into 4 x 16-bit bands; by pigeonhole, any
    pair within hamming distance 3 shares at least one band EXACTLY, so
    the band-bucket equi-join has perfect recall at the <=3 threshold and
    the quadratic verify (bit_count of xor) runs on candidates only.

    Scale shape: identical to LSH banding — signatures shuffle once on
    (band, value); bucket sizes concentrate on near-duplicate clusters
    (cap with the same grouped-bucket machinery as minhash_lsh_pairs_scaled
    if a constant-banded boilerplate cluster appears); the verify is a
    narrow projection per candidate. Arithmetic-vs-logical shift is
    immaterial: sign-extension bits land above the 16-bit mask on both
    engines."""
    sigs = dd.simhash_signatures(_dup_corpus(spark, sf_dir, near=True))
    return dd.simhash_band_candidates(sigs, max_hamming=3).orderBy("a", "b")


# ---------------------------------------------------------------------------
# Round-5 additions (_R5_NEW): sentence stats, corpus stopwords, norm outliers
# ---------------------------------------------------------------------------


@query(
    "text_sentence_stats",
    """
    WITH sent AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '[.!?]+'),
                         s -> length(trim(s)) > 0) AS sents
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id, lang,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           ROUND(list_sum(list_transform(sents, s -> CAST(length(trim(s)) AS DOUBLE)))
                 / len(sents) + 1e-9, 2) AS avg_sentence_chars
    FROM sent WHERE len(sents) > 0 ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def text_sentence_stats(spark, sf_dir):
    """Sentence-level shape statistics: sentence count and mean trimmed
    sentence length per document — the granularity quality filters like
    Gopher's mean-words-per-sentence rule operate at (text_gopher_rules
    works on words; this is the char-level sentence profile). Sentences
    split on terminal-punctuation runs, whitespace-only fragments dropped
    on both engines.

    Scale shape: pure narrow projection with higher-order array functions
    (split/filter/transform/aggregate) — evaluates inside the scan stage,
    zero shuffle, zero Python."""
    from dumpr_spark.operators.scale import fan_out

    # r17: conditional range fan-out (see text_quality) — the heavy per-row
    # stage parallelizes off the compact single-file scan, the trailing
    # orderBy("doc_id") rides the range partitioning exchange-free; no-op
    # on cluster-wide scans.
    d = fan_out(
        t(spark, sf_dir, "documents"), "doc_id", by_range=True
    ).where(F.col("doc_id") % 5 == 0)
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    sum_chars = F.aggregate(
        F.col("sents"),
        F.lit(0.0),
        lambda acc, s: acc + F.length(F.trim(s)).cast("double"),
    )
    return (
        d.select("doc_id", "lang", sents.alias("sents"))
        .where(F.size("sents") > 0)
        .select(
            "doc_id",
            "lang",
            F.size("sents").cast("long").alias("n_sentences"),
            eps_round(sum_chars / F.size("sents"), 2).alias("avg_sentence_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_stopword_docfreq",
    """
    WITH n_docs AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS docfreq
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> '' GROUP BY tok
    )
    SELECT tok, CAST(docfreq AS BIGINT) AS docfreq,
           ROUND(docfreq / nd + 1e-9, 4) AS doc_ratio
    FROM df, n_docs
    WHERE docfreq / nd > 0.6
    ORDER BY docfreq DESC, tok
    """,
    tags=("llm", "text", "vocab"),
)
def text_stopword_docfreq(spark, sf_dir):
    """Corpus-derived stopword discovery: tokens appearing in more than 60%
    of documents by DOCUMENT frequency (not term frequency) — the
    data-driven stopword list IDF weighting and index pruning start from
    (a token in every document carries no retrieval signal).

    Scale shape: explode -> distinct (doc, tok) -> token groupBy, all
    map-side combining; the 1-row corpus count broadcasts (allowlisted
    scalar BNLJ); output is bounded by the stopword band, not the
    vocabulary."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("docfreq"))
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    return (
        df.crossJoin(F.broadcast(nd))
        .where(F.col("docfreq") / F.col("nd") > 0.6)
        .select(
            "tok",
            F.col("docfreq").cast("long").alias("docfreq"),
            eps_round(F.col("docfreq") / F.col("nd"), 4).alias("doc_ratio"),
        )
        .orderBy(F.desc("docfreq"), "tok")
    )


@query(
    "embed_norm_outliers",
    """
    WITH norms AS (
      SELECT vec_id, label,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
      FROM embeddings
    ),
    stats AS (
      SELECT label, AVG(l2) AS mu, stddev_samp(l2) AS sigma,
             COUNT(*) AS n FROM norms GROUP BY label
    )
    SELECT vec_id, norms.label, ROUND(l2 + 1e-9, 4) AS l2_norm,
           ROUND((l2 - mu) / sigma + 1e-9, 4) AS z
    FROM norms JOIN stats ON norms.label = stats.label
    WHERE abs(ROUND((l2 - mu) / sigma + 1e-9, 4)) >= 1.5
    ORDER BY vec_id
    """,
    tags=("llm", "embedding", "quality"),
)
def embed_norm_outliers(spark, sf_dir):
    """Embedding-norm outlier detection: vectors whose L2 norm sits >= 1.5
    label-conditional standard deviations from their label mean — the
    embedding-hygiene screen (degenerate/truncated vectors have collapsed
    norms; un-normalized stragglers inflated ones) run before any
    cosine-based dedup or ANN stage trusts the geometry. The z-score is
    eps-rounded BEFORE thresholding so the cut cannot flip on a 1-ulp
    cross-engine aggregate difference.

    Scale shape: the norm is an ordered array fold inside the scan stage
    (identical summation order on both engines); per-label mean/std is a
    tiny mergeable aggregate broadcast back against the norms — the
    embedding payload itself never shuffles."""
    e = t(spark, sf_dir, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = e.select("vec_id", "label", l2.alias("l2"))
    stats = norms.groupBy("label").agg(
        F.avg("l2").alias("mu"), F.stddev_samp("l2").alias("sigma")
    )
    z = eps_round((F.col("l2") - F.col("mu")) / F.col("sigma"), 4)
    return (
        norms.join(F.broadcast(stats), "label")
        .select(
            "vec_id", "label", eps_round(F.col("l2"), 4).alias("l2_norm"), z.alias("z")
        )
        .where(F.abs(F.col("z")) >= 1.5)
        .orderBy("vec_id")
    )


@query(
    "embed_kmeans_step",
    """
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (SELECT vec_id AS cid, v AS cvec FROM corpus WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_dot_product(c.v, ct.cvec) /
                          (sqrt(list_dot_product(c.v, c.v)) *
                           sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC, ct.cid
               ) AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    dims AS (
      -- parallel unnests zip positionally in DuckDB: x walks the vector,
      -- pos walks 0..len-1 in lockstep
      SELECT cid, pos, AVG(x) AS m FROM (
        SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assigned
      ) GROUP BY cid, pos
    )
    SELECT cid, CAST(n_assigned AS BIGINT) AS n_assigned,
           ROUND(new_norm + 1e-9, 6) AS new_centroid_norm
    FROM (SELECT cid, COUNT(*) AS n_assigned FROM assigned GROUP BY cid) a
    JOIN (SELECT cid, sqrt(SUM(m * m)) AS new_norm FROM dims GROUP BY cid) d
    USING (cid)
    ORDER BY cid
    """,
    tags=("llm", "embedding", "clustering"),
)
def embed_kmeans_step(spark, sf_dir):
    """One distributed (spherical) k-means iteration, k=8 deterministic
    seeds (vec_id < 8): assign every vector to its highest-cosine centroid
    (the IVF coarse assignment, functions/similarity.ivf_assign), then
    recompute each centroid as the elementwise mean of its members — the
    Lloyd step IVF index training iterates. Output per cluster: member
    count and the L2 norm of the new centroid (a scalar fingerprint of all
    64 recomputed dimensions, so the oracle value-checks the full mean
    vector without comparing float arrays).

    Scale shape: centroids broadcast (8 x 64 floats), assignment is a
    narrow map over the corpus scan; the mean shuffles (cluster, dim)
    partial sums — 8 x 64 cells regardless of corpus size (posexplode
    before the groupBy so partials combine map-side)."""
    from dumpr_spark.functions.similarity import ivf_assign

    e = t(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    assigned = ivf_assign(e, cents, id_col="vec_id", vec_col="embedding", n_cells=1)
    dims = (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
    )
    norms = dims.groupBy("cell").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("new_norm")
    )
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n_assigned"))
    return (
        counts.join(norms, "cell")
        .select(
            F.col("cell").alias("cid"),
            "n_assigned",
            eps_round(F.col("new_norm"), 6).alias("new_centroid_norm"),
        )
        .orderBy("cid")
    )


def _materialize_ctes(sql: str, names: tuple) -> str:
    """Gate-cost hygiene for the unrolled exact-replay oracles (r13
    verdict item 6): annotate the named CTEs ``AS MATERIALIZED`` so DuckDB
    evaluates each shared stage ONCE instead of re-inlining its whole
    upstream (the Lloyd unroll, the exact top-5, the corpus cast) into
    every consumer — the same fix the r9 pass applied to the IVF-PQ
    trainer CTEs by hand, applied here as a post-processing step scoped
    to a single query's composed SQL so the SHARED helper text (and
    therefore other consumers' oracle identities) stays untouched.
    Values are unchanged by construction (materialization only pins
    evaluation count; every CTE here is deterministic — ROW_NUMBER with
    full tie-breaks, eps-rounded folds) and were A/B-verified identical
    at sf0.1; only gate wall-clock moves (SCALE.md r14: the recall curve
    53.6 -> 0.8 s, the ivfpq pair 11.9/13.2 -> 2.4/1.6 s DuckDB-side).

    Each name must match EXACTLY ONCE — a CTE rename/reformat that
    silently stopped matching would quietly revert the measured win, so
    drift raises at import time instead (the module's loud-failure
    discipline)."""
    for n in names:
        sql, count = re.subn(r"\b" + n + r" AS \(", n + " AS MATERIALIZED (", sql)
        if count == 0 and re.search(r"\b" + n + r" AS MATERIALIZED \(", sql):
            continue  # already annotated at source (the r9/r13 hand passes)
        if count != 1:
            raise AssertionError(
                f"_materialize_ctes: CTE '{n}' matched {count} definitions "
                "(expected exactly 1) — the composed SQL drifted from the "
                "annotation list; update the names tuple"
            )
    return sql


def _kmeans_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration for the embed_kmeans_converged oracle:
    assign against cents c{i-1} (unrounded cosine, cid tie-break — the
    ivf_assign contract), per-dim means eps-rounded 6dp (bit-identical to
    the Spark side's in-engine rounding), emptied clusters keep their
    previous centroid, and the movement scalar mv{i} is the max per-cluster
    L2 shift, eps-rounded 6dp."""
    p = i - 1
    return f"""
    a{i} AS (
      SELECT vec_id, v, cid FROM (
        SELECT c.vec_id, c.v, ct.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_dot_product(c.v, ct.cvec) /
                          (sqrt(list_dot_product(c.v, c.v)) *
                           sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC, ct.cid
               ) AS rn
        FROM corpus c CROSS JOIN c{p} ct
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT cid, list(m ORDER BY pos) AS mvec FROM (
        SELECT cid, pos, ROUND(AVG(x) + 1e-9, 6) AS m FROM (
          SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS pos FROM a{i}
        ) GROUP BY cid, pos
      ) GROUP BY cid
    ),
    c{i} AS (
      SELECT p.cid, COALESCE(m.mvec, p.cvec) AS cvec
      FROM c{p} p LEFT JOIN m{i} m USING (cid)
    ),
    mv{i} AS (
      SELECT MAX(ROUND(sqrt(list_sum(list_transform(
               range(1, len(n.cvec) + 1),
               j -> (n.cvec[j] - p.cvec[j]) * (n.cvec[j] - p.cvec[j])
             ))) + 1e-9, 6)) AS mv
      FROM c{i} n JOIN c{p} p USING (cid)
    )"""


@query(
    "embed_kmeans_converged",
    """
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cvec FROM corpus
          WHERE vec_id IS NOT NULL ORDER BY vec_id LIMIT 8),
    """
    + ",".join(_kmeans_iter_sql(i) for i in (1, 2, 3, 4))
    + """,
    sel AS (
      SELECT CASE WHEN mv1.mv < 0.06 THEN 1 WHEN mv2.mv < 0.06 THEN 2
                  WHEN mv3.mv < 0.06 THEN 3 ELSE 4 END AS n_iters,
             (mv1.mv < 0.06 OR mv2.mv < 0.06 OR mv3.mv < 0.06
              OR mv4.mv < 0.06) AS converged
      FROM mv1, mv2, mv3, mv4
    ),
    counts_all AS (
      SELECT 1 AS it, cid, COUNT(*) AS n FROM a1 GROUP BY cid
      UNION ALL SELECT 2, cid, COUNT(*) FROM a2 GROUP BY cid
      UNION ALL SELECT 3, cid, COUNT(*) FROM a3 GROUP BY cid
      UNION ALL SELECT 4, cid, COUNT(*) FROM a4 GROUP BY cid
    ),
    norms_all AS (
      SELECT 1 AS it, cid, ROUND(sqrt(list_dot_product(cvec, cvec)) + 1e-9, 6) AS nrm FROM c1
      UNION ALL SELECT 2, cid, ROUND(sqrt(list_dot_product(cvec, cvec)) + 1e-9, 6) FROM c2
      UNION ALL SELECT 3, cid, ROUND(sqrt(list_dot_product(cvec, cvec)) + 1e-9, 6) FROM c3
      UNION ALL SELECT 4, cid, ROUND(sqrt(list_dot_product(cvec, cvec)) + 1e-9, 6) FROM c4
    )
    SELECT ca.cid, CAST(ca.n AS BIGINT) AS n_assigned, na.nrm AS centroid_norm,
           CAST(s.n_iters AS INT) AS n_iters, s.converged
    FROM counts_all ca JOIN norms_all na ON ca.it = na.it AND ca.cid = na.cid, sel s
    WHERE ca.it = s.n_iters
    ORDER BY ca.cid
    """,
    tags=("llm", "embedding", "clustering"),
)
def embed_kmeans_converged(spark, sf_dir):
    """Lloyd's k-means iterated to a FIXED POINT (max centroid movement
    < 0.06, hard cap 4 iterations) — the full IVF index-training loop
    that embed_kmeans_step takes one step of. Deterministic seeds
    (the 8 lowest-id vectors, exact float->double casts) and per-iteration 6dp
    eps-rounding of the means make every iteration's inputs bit-identical
    across engines, so the DuckDB oracle replays the complete loop
    exactly (unrolled, with the same first-crossing stop rule). Output
    per cluster: member count of the final assignment, final centroid L2
    norm (a scalar fingerprint of all 64 trained dims), iterations run,
    and whether the loop converged before the cap.

    Scale shape: per iteration, one broadcast-centroid narrow-map
    assignment over the corpus scan plus a (cluster, dim)-cell mean and
    movement rollup — k x 64 cells regardless of corpus size; driver
    traffic is the rounded centroid matrix per iteration, metadata-sized.
    The trained (cent_id, cent_vec) frame feeds ivf_assign/ivf_topk
    directly (recall-vs-brute-force pinned in tests/test_llm_ops.py)."""
    e = t(spark, sf_dir, "embeddings")
    cdf, counts, n_iters, converged = sim.train_centroids_lloyd(
        e, k=8, max_iter=4, eps=0.06
    )
    cnt = spark.createDataFrame(
        [(int(c), int(n)) for c, n in counts], "cid INT, n_assigned BIGINT"
    )
    norms = cdf.select(
        F.col("cent_id").alias("cid"),
        eps_round(
            F.sqrt(F.aggregate(F.col("cent_vec"), F.lit(0.0), lambda s, x: s + x * x)),
            6,
        ).alias("centroid_norm"),
    )
    return (
        cnt.join(norms, "cid")
        .select(
            "cid", "n_assigned", "centroid_norm",
            F.lit(n_iters).cast("int").alias("n_iters"),
            F.lit(converged).alias("converged"),
        )
        .orderBy("cid")
    )


def _overlap_ctes() -> str:
    """DuckDB replica of functions/dedup.shingle_overlap_pairs over the
    bands/sh CTEs from _minhash_bands_cte: LSH candidate pairs + distinct
    shingle-hash sets + per-doc sizes + pair intersections. Shared by the
    MinHash accuracy audit and the containment query — mirroring the
    Python-side sharing, so a change to the shingle/hash convention edits
    ONE string."""
    return """,
    cands AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    ),
    shset AS (SELECT DISTINCT doc_id, h FROM sh),
    sizes AS (SELECT doc_id, COUNT(*)::DOUBLE AS n FROM shset GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, COUNT(*)::DOUBLE AS ni
      FROM cands c JOIN shset xa ON xa.doc_id = c.a
                   JOIN shset xb ON xb.doc_id = c.b AND xa.h = xb.h
      GROUP BY c.a, c.b
    )"""


@query(
    "dedup_minhash_accuracy",
    _NEAR_CORPUS_CTE
    + _minhash_bands_cte()
    + _overlap_ctes()
    + """,
    est AS (
      SELECT c.a, c.b,
             ((sa.mh0 = sb.mh0)::INT + (sa.mh1 = sb.mh1)::INT +
              (sa.mh2 = sb.mh2)::INT + (sa.mh3 = sb.mh3)::INT +
              (sa.mh4 = sb.mh4)::INT + (sa.mh5 = sb.mh5)::INT +
              (sa.mh6 = sb.mh6)::INT + (sa.mh7 = sb.mh7)::INT) / 8.0 AS est_j
      FROM cands c JOIN sig sa ON c.a = sa.doc_id JOIN sig sb ON c.b = sb.doc_id
    )
    SELECT e.a, e.b,
           ROUND(e.est_j + 1e-9, 4) AS est_jaccard,
           ROUND(COALESCE(i.ni, 0) / (za.n + zb.n - COALESCE(i.ni, 0)) + 1e-9, 4) AS exact_jaccard,
           ROUND(ABS(e.est_j - COALESCE(i.ni, 0) / (za.n + zb.n - COALESCE(i.ni, 0))) + 1e-9, 4) AS abs_err
    FROM est e
    LEFT JOIN inter i ON e.a = i.a AND e.b = i.b
    JOIN sizes za ON e.a = za.doc_id
    JOIN sizes zb ON e.b = zb.doc_id
    ORDER BY e.a, e.b
    """,
    tags=("llm", "dedup", "sketch"),
)
def dedup_minhash_accuracy(spark, sf_dir):
    """Sketch-accuracy audit for the MinHash pipeline: for every LSH
    candidate pair, the signature-agreement Jaccard ESTIMATE (fraction of
    the 8 Carter-Wegman components that agree — the quantity banding
    implicitly thresholds) side by side with the EXACT 3-gram-set Jaccard
    and the absolute error. This is the calibration table that justifies
    the band/threshold choice: E[est] = J, sd = sqrt(J(1-J)/8).

    Scale shape: the estimate is a signature-row join over CANDIDATE pairs
    only (never all pairs); the exact leg joins the two docs' distinct
    shingle-hash sets — at 100 TB this audit runs on a SAMPLED slice of
    candidates via `functions/dedup.minhash_accuracy_audit`'s
    sample_frac/max_pairs knobs (the estimate-vs-exact curve needs
    thousands of pairs, not billions) while the production path trusts the
    signatures. The gate-checked default here is the FULL population."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    audit = dd.minhash_accuracy_audit(corpus)
    return (
        audit.select(
            "a", "b",
            eps_round(F.col("est_j"), 4).alias("est_jaccard"),
            eps_round(F.col("exact_j"), 4).alias("exact_jaccard"),
            eps_round(F.abs(F.col("est_j") - F.col("exact_j")), 4).alias("abs_err"),
        )
        .orderBy("a", "b")
    )


@query(
    "text_pmi_cooccurrence",
    """
    WITH n_docs AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
    toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ),
    df AS (SELECT tok, COUNT(*)::DOUBLE AS n FROM toks GROUP BY tok),
    vocab AS (
      SELECT tok, n FROM df, n_docs WHERE n / nd >= 0.05 AND n / nd <= 0.9
    ),
    vt AS (SELECT t.doc_id, t.tok FROM toks t JOIN vocab v USING (tok)),
    pairs AS (
      SELECT x.tok AS tok_a, y.tok AS tok_b, COUNT(*)::DOUBLE AS n_ab
      FROM vt x JOIN vt y ON x.doc_id = y.doc_id AND x.tok < y.tok
      GROUP BY x.tok, y.tok
    )
    SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_together,
           ROUND(LN(n_ab * nd / (va.n * vb.n)) + 1e-9, 4) AS pmi
    FROM pairs
    JOIN vocab va ON tok_a = va.tok
    JOIN vocab vb ON tok_b = vb.tok, n_docs
    WHERE n_ab >= 10
    ORDER BY pmi DESC, tok_a, tok_b LIMIT 25
    """,
    tags=("llm", "text", "stats"),
)
def text_pmi_cooccurrence(spark, sf_dir):
    """Pointwise mutual information between word pairs at DOCUMENT level:
    PMI = ln(P(a,b) / (P(a)P(b))) over document co-occurrence — the
    collocation/topic-signal statistic (positive = the pair travels
    together more than independence predicts; unlike agg_assoc_lift this
    is set-valued per document, not one category per row). Vocabulary is
    pre-banded to tokens in 5%-90% of documents so stopwords (no signal)
    and hapaxes (unstable PMI) never reach the pair join; support floor
    n_ab >= 10 before ranking.

    Scale shape: the vocab band is THE scale lever — the per-doc self-join
    explodes quadratically in tokens-per-doc, so it runs only on each
    doc's banded-vocab subset (bounded by the band width, not vocabulary);
    distinct (doc, tok) and all counts combine map-side; the 1-row corpus
    count broadcasts (allowlisted scalar BNLJ)."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("n"))
    vocab = (
        df.crossJoin(F.broadcast(nd))
        .where((F.col("n") / F.col("nd") >= 0.05) & (F.col("n") / F.col("nd") <= 0.9))
        .select("tok", "n")
    )
    vt = toks.join(F.broadcast(vocab.select("tok")), "tok").select("doc_id", "tok")
    x, y = vt.alias("x"), vt.alias("y")
    pairs = (
        x.join(y, (F.col("x.doc_id") == F.col("y.doc_id")) & (F.col("x.tok") < F.col("y.tok")))
        .groupBy(F.col("x.tok").alias("tok_a"), F.col("y.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("n_ab"))
        .where(F.col("n_ab") >= 10)
    )
    va = vocab.select(F.col("tok").alias("tok_a"), F.col("n").alias("na"))
    vb = vocab.select(F.col("tok").alias("tok_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(va), "tok_a")
        .join(F.broadcast(vb), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a", "tok_b",
            F.col("n_ab").cast("long").alias("n_together"),
            eps_round(
                F.log(F.col("n_ab") * F.col("nd") / (F.col("na") * F.col("nb"))), 4
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(25)
    )


def _pca_iter_sql(i: int) -> str:
    """One unrolled power iteration for the embed_pca_power oracle:
    s = x . v{i-1} per row (sequential list_dot_product — bit-identical to
    Spark's sequential aggregate fold over identical inputs), per-dim
    w = sum(s * x) eps-rounded 6dp, norm eps-rounded 8dp, next v = w/norm
    eps-rounded 6dp — every iteration's inputs are engine-identical."""
    p = i - 1
    return f"""
    s{i} AS (
      SELECT list_dot_product(c.v, (SELECT vec FROM vv{p})) AS s, c.v FROM corpus c
    ),
    w{i} AS (
      SELECT pos, ROUND(SUM(s * x) + 1e-9, 6) AS w FROM (
        SELECT s, unnest(v) AS x, unnest(range(len(v))) AS pos FROM s{i}
      ) GROUP BY pos
    ),
    n{i} AS (SELECT ROUND(sqrt(SUM(w * w)) + 1e-9, 8) AS nrm FROM w{i}),
    vv{i} AS (
      SELECT list(ROUND(w / nrm + 1e-9, 6) ORDER BY pos) AS vec FROM w{i}, n{i}
    )"""


@query(
    "embed_pca_power",
    """
    WITH corpus AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    vv0 AS (SELECT list_transform(range(64), i -> 0.125) AS vec),
    """
    + ",".join(_pca_iter_sql(i) for i in (1, 2, 3))
    + """
    SELECT CAST(pos AS INT) AS pos,
           ROUND(w / nrm + 1e-9, 6) AS loading,
           (SELECT nrm FROM n3) AS sigma_sq
    FROM w3, n3
    ORDER BY pos
    """,
    tags=("llm", "embedding", "stats"),
)
def embed_pca_power(spark, sf_dir):
    """Top principal direction of the embedding corpus by POWER ITERATION
    (3 unrolled steps of v <- normalize(A'Av) from the exact-double
    uniform start 1/8 per dim): the dominant-variance axis that drives
    whitening, anisotropy diagnostics ("all-but-the-top"), and
    matryoshka-style dim ordering. Uncentered (top singular direction —
    document-level centering is a one-pass pre-step when needed).
    sigma_sq is ||A'Av|| at the last step — the Rayleigh estimate of the
    top eigenvalue of the (uncentered) second-moment matrix. Per-step
    6dp/8dp eps-rounding of w, the norm, and v makes every iteration's
    inputs bit-identical across engines, so the DuckDB oracle replays the
    loop exactly (same discipline as embed_kmeans_converged).

    Scale shape: each step is one narrow map (a 64-float dot against a
    broadcast literal) + a (dim)-cell partial-combining sum — 64 cells
    regardless of corpus size; the norm is a 1-row rollup of those cells
    (allowlisted scalar broadcast); driver traffic is 64 rounded doubles
    per step."""
    from dumpr_spark.functions.similarity import power_iteration_steps

    e = t(spark, sf_dir, "embeddings")
    # the shared trainer (functions/similarity) returns the LAST step's
    # w/nrm uncollected — the plan below reads them lazily; collecting the
    # final direction would waste a corpus scan on a vector never used
    _, w, nrm = power_iteration_steps(e, "embedding", iters=3)
    return (
        w.crossJoin(F.broadcast(nrm))
        .select(
            F.col("pos").cast("int").alias("pos"),
            F.round(F.col("w") / F.col("nrm") + 1e-9, 6).alias("loading"),
            F.col("nrm").alias("sigma_sq"),
        )
        .orderBy("pos")
    )


@query(
    "embed_debias_topdir",
    """
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    vv0 AS (SELECT list_transform(range(64), i -> 0.125) AS vec),
    """
    + ",".join(_pca_iter_sql(i) for i in (1, 2))
    + """,
    per AS (
      SELECT c.label,
             list_dot_product(c.v, d.vec) /
             (sqrt(list_dot_product(c.v, c.v)) *
              sqrt(list_dot_product(d.vec, d.vec))) AS cosv
      FROM corpus c, (SELECT vec FROM vv2) d
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(ABS(cosv)) + 1e-9, 4) AS mean_abs_cos,
           ROUND(AVG(sqrt(greatest(0.0, 1.0 - cosv * cosv))) + 1e-9, 4)
             AS mean_resid_ratio
    FROM per GROUP BY label ORDER BY label
    """,
    tags=("llm", "embedding", "stats"),
)
def embed_debias_topdir(spark, sf_dir):
    """All-but-the-top diagnostic (Mu & Viswanath 2018): embeddings share
    a dominant common direction that inflates every cosine similarity;
    removing the projection onto it measurably improves retrieval. This
    query quantifies the debias per label: mean |cos(x, v_top)| (the
    anisotropy the top direction explains — what a debias would remove)
    and the mean residual norm ratio sqrt(1 - cos^2) (what survives).
    v_top comes from TWO power-iteration steps with the same per-step
    eps-rounding as embed_pca_power, so the oracle replays the direction
    bit-identically and the group means match to 4dp.

    Scale shape: the direction is 64 rounded doubles trained once (two
    cell-bounded passes, see embed_pca_power); the diagnostic itself is a
    narrow map over the corpus scan (a literal-array dot per row — no
    join, no shuffle beyond the |label|-cell aggregate)."""
    from dumpr_spark.functions.similarity import power_iteration_topdir

    e = t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = power_iteration_topdir(e, "embedding", iters=2)
    vlit = F.lit([float(x) for x in v]).cast("array<double>")
    proj = F.aggregate(
        F.zip_with(dbl, vlit, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
    )
    xnorm = F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda acc, z: acc + z * z))
    vnorm = F.sqrt(F.aggregate(vlit, F.lit(0.0), lambda acc, z: acc + z * z))
    cosv = proj / (xnorm * vnorm)
    return (
        e.select("label", cosv.alias("cosv"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            eps_round(F.avg(F.abs(F.col("cosv"))), 4).alias("mean_abs_cos"),
            eps_round(
                F.avg(F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("cosv") * F.col("cosv")))),
                4,
            ).alias("mean_resid_ratio"),
        )
        .orderBy("label")
    )


@query(
    "embed_debias_apply",
    """
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    vv0 AS (SELECT list_transform(range(64), i -> 0.125) AS vec),
    """
    + ",".join(_pca_iter_sql(i) for i in (1, 2))
    + """,
    per AS (
      SELECT c.vec_id, c.label, c.v, u.vec AS uv,
             list_dot_product(c.v, u.vec) / list_dot_product(u.vec, u.vec) AS proj
      FROM corpus c, (SELECT vec FROM vv2) u
    ),
    res AS (
      SELECT vec_id, label, v, uv,
             list_transform(range(len(v)), i -> v[i+1] - proj * uv[i+1]) AS r
      FROM per
    )
    SELECT vec_id, label,
           CASE WHEN sqrt(list_dot_product(r, r)) > 0 THEN
             ROUND(list_dot_product(r, uv) /
                   (sqrt(list_dot_product(r, r)) * sqrt(list_dot_product(uv, uv)))
                   + 1e-9, 4) END AS resid_cos,
           CASE WHEN sqrt(list_dot_product(v, v)) > 0 THEN
             ROUND(sqrt(list_dot_product(r, r)) / sqrt(list_dot_product(v, v))
                   + 1e-9, 4) END AS norm_ratio
    FROM res ORDER BY vec_id
    """,
    tags=("llm", "embedding", "transform"),
)
def embed_debias_apply(spark, sf_dir):
    """All-but-the-top APPLY (Mu & Viswanath 2018) under the correctness
    gate: subtract each embedding's projection onto the power-iteration
    top direction (functions/similarity.remove_direction — the operator
    embed_debias_topdir only diagnoses) and emit per-vector proof that the
    removal did what it claims: resid_cos = cos(x', v_top) — 0.0000 for
    every row, orthogonality is exact to 4dp — and norm_ratio = |x'|/|x|,
    the energy the vector keeps (the diagnostic's mean_resid_ratio is the
    per-label mean of exactly this column). The direction is trained by
    the SAME two eps-rounded power steps as embed_debias_topdir, so the
    DuckDB oracle replays training bit-identically and every per-row
    double matches. Degenerate rows (a zero embedding, or one exactly
    parallel to v_top) yield NULL instead of a 0/0 — both engines guard
    the denominators identically.

    Scale shape: training is two cell-bounded passes (64 cells, see
    embed_pca_power); the apply is ONE narrow map over the corpus scan —
    the direction inlines as a 64-double literal, projection and residual
    are per-row folds, no join, no shuffle. At 100 TB the debias costs a
    single projection pass and composes with column pruning (only the
    vector column is read)."""
    from dumpr_spark.functions.similarity import (
        dot,
        l2_norm,
        power_iteration_topdir,
        remove_direction,
    )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    u = power_iteration_topdir(e, "embedding", iters=2)
    ulit = F.lit([float(x) for x in u]).cast("array<double>")
    deb = remove_direction(e, u, vec_col="embedding", out_col="r",
                           renormalize=False)
    # the canonical folds (similarity.dot/l2_norm) — four hand-rolled
    # copies of the determinism-critical fold order is how replay breaks
    r_norm = l2_norm(F.col("r"))
    x_norm = l2_norm(F.col("embedding"))
    return deb.select(
        "vec_id", "label",
        F.when(
            r_norm > 0,
            eps_round(dot(F.col("r"), ulit) / (r_norm * l2_norm(ulit)), 4),
        ).alias("resid_cos"),
        F.when(x_norm > 0, eps_round(r_norm / x_norm, 4)).alias("norm_ratio"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# ANN recall/cost calibration (the dial table for IVF nprobe and LSH tables)
# --------------------------------------------------------------------------

def _ivf_recall_sql(d: int) -> str:
    """Recall row for IVF at nprobe=d: probe the query's d nearest cells
    (qassign rn <= d), rank candidates by eps-rounded cosine with id
    tie-break (the ivf_topk contract), top-5, count hits against exact."""
    return f"""
    ivf{d} AS (
      SELECT 'ivf' AS method, {d} AS dial, COUNT(*) AS hits FROM (
        SELECT q_id, n_id FROM (
          SELECT qa.q_id, va.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY qa.q_id ORDER BY
                   ROUND(list_dot_product(qa.qv, va.v) /
                     (sqrt(list_dot_product(qa.qv, qa.qv)) *
                      sqrt(list_dot_product(va.v, va.v))) + 1e-9, 6) DESC,
                   va.vec_id) AS rank
          FROM (SELECT * FROM qassign WHERE rn <= {d}) qa
          JOIN vassign va USING (cell)
          WHERE qa.q_id <> va.vec_id
        ) WHERE rank <= 5
      ) t JOIN exact e ON t.q_id = e.q_id AND t.n_id = e.n_id
    )"""


def _lsh_recall_sql(n_tables: int) -> str:
    """Recall row for multi-table hyperplane LSH at T=n_tables: union the
    per-table signature-bucket candidates, dedup pairs (a pair found by
    several tables scores once — sim is pair-determined so DISTINCT on the
    scored row is the dedup), rank, top-5, count hits against exact."""
    unions = " UNION ALL ".join(
        f"SELECT q.q_id, q.qv, n.vec_id AS n_id, n.v AS nv "
        f"FROM qsig{f} q JOIN vsig{f} n USING (sig) WHERE q.q_id <> n.vec_id"
        for f in range(n_tables)
    )
    return f"""
    lsh{n_tables} AS (
      SELECT 'lsh' AS method, {n_tables} AS dial, COUNT(*) AS hits FROM (
        SELECT q_id, n_id FROM (
          SELECT q_id, n_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY sim DESC, n_id) AS rank
          FROM (
            SELECT DISTINCT q_id, n_id,
                   ROUND(list_dot_product(qv, nv) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(nv, nv))) + 1e-9, 6) AS sim
            FROM ({unions})
          )
        ) WHERE rank <= 5
      ) t JOIN exact e ON t.q_id = e.q_id AND t.n_id = e.n_id
    )"""


def _lsh_sig_tables_sql(tables: tuple = (0, 1, 2, 3)) -> str:
    """Per-table signature CTEs: table f hashes with the independent plane
    family at offset f*4 (lsh_topk's convention). Queries are a corpus
    subset, so qsig derives from vsig."""
    parts = []
    for f in tables:
        sig = _hyperplane_sig_sql(4, 64, offset=f * 4)
        parts.append(f"""
    vsig{f} AS (SELECT vec_id, v, {sig} AS sig FROM corpus),
    qsig{f} AS (SELECT vec_id AS q_id, v AS qv, sig FROM vsig{f}
                WHERE vec_id < 32)""")
    return ",".join(parts)


@query(
    "sim_ann_recall_curve",
    _materialize_ctes("""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cvec FROM corpus
          WHERE vec_id IS NOT NULL ORDER BY vec_id LIMIT 8),
    """
    + ",".join(_kmeans_iter_sql(i) for i in (1, 2, 3, 4))
    + """,
    sel AS (
      SELECT CASE WHEN mv1.mv < 0.06 THEN 1 WHEN mv2.mv < 0.06 THEN 2
                  WHEN mv3.mv < 0.06 THEN 3 ELSE 4 END AS n_iters
      FROM mv1, mv2, mv3, mv4
    ),
    cents AS (
      SELECT u.cid, u.cvec FROM (
        SELECT 1 AS it, cid, cvec FROM c1
        UNION ALL SELECT 2, cid, cvec FROM c2
        UNION ALL SELECT 3, cid, cvec FROM c3
        UNION ALL SELECT 4, cid, cvec FROM c4
      ) u, sel s WHERE u.it = s.n_iters
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < 32),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.q_id, c.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                 ROUND(list_dot_product(q.qv, c.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(c.v, c.v))) + 1e-9, 6) DESC,
                 c.vec_id) AS rank
        FROM q CROSS JOIN corpus c WHERE q.q_id <> c.vec_id
      ) WHERE rank <= 5
    ),
    n_exact AS (SELECT COUNT(*)::DOUBLE AS tot FROM exact),
    vassign AS (
      SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, ct.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, ct.cvec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC,
                 ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    qassign AS (
      SELECT q_id, qv, cell, rn FROM (
        SELECT q.q_id, q.qv, ct.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                 list_dot_product(q.qv, ct.cvec) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC,
                 ct.cid) AS rn
        FROM q CROSS JOIN cents ct
      )
    ),
    """
    + ",".join(_ivf_recall_sql(d) for d in (1, 2, 4, 8))
    + ","
    + _lsh_sig_tables_sql()
    + ","
    + ",".join(_lsh_recall_sql(T) for T in (1, 2, 4))
    + """
    SELECT r.method, CAST(r.dial AS INT) AS dial, CAST(r.hits AS BIGINT) AS hits,
           CAST(n.tot AS BIGINT) AS n_exact,
           ROUND(r.hits / n.tot + 1e-9, 4) AS recall
    FROM (SELECT * FROM ivf1 UNION ALL SELECT * FROM ivf2
          UNION ALL SELECT * FROM ivf4 UNION ALL SELECT * FROM ivf8
          UNION ALL SELECT * FROM lsh1 UNION ALL SELECT * FROM lsh2
          UNION ALL SELECT * FROM lsh4) r, n_exact n
    ORDER BY method, dial
    """, (
        "corpus", "q", "exact", "vassign", "qassign", "cents",
        "c1", "c2", "c3", "c4",
        "vsig0", "vsig1", "vsig2", "vsig3",
        "qsig0", "qsig1", "qsig2", "qsig3",
    )),
    tags=("llm", "similarity", "approx", "calibration"),
)
def sim_ann_recall_curve(spark, sf_dir):
    """ANN recall-vs-cost calibration table — the companion to the MinHash
    accuracy table (dedup_minhash_accuracy): for each (method, dial) the
    measured recall@5 against exact brute force over a fixed 32-query
    batch. Methods x dials: IVF over Lloyd-trained centroids (k=8,
    max_iter=4, eps=0.06 — the exact embed_kmeans_converged recipe) at
    nprobe in {1, 2, 4, 8}, and multi-table random-hyperplane LSH
    (4 planes, fixed LCG families) at n_tables in {1, 2, 4}. nprobe=8
    probes every cell, so its recall is exactly 1.0 — the built-in sanity
    anchor. Everything is exact-replay deterministic (trained centroids
    via the eps-rounded Lloyd loop, integer-LCG planes, rounded sims, id
    tie-breaks), so the oracle replays training AND both search paths and
    the driver hash-match is exact, like embed_kmeans_converged before it.

    Scale shape: this is a CALIBRATION query — it runs the dial sweep on a
    fixture-sized query batch (32 queries), not the corpus x corpus
    product — and a SWEEP amortizes its shared stages instead of calling
    the per-dial operator 7 times (the naive form re-assigned the corpus
    per IVF dial and re-hashed it per LSH dial: 57 s at sf0.1, ~3x this
    plan). Computed ONCE and lazily checkpointed: the exact brute-force
    leg, the corpus cell assignment, the query top-8 cell ranking, and
    each LSH table's scored candidate set. Each IVF dial is then a
    filter (probe rank <= d) + cell equi-join; each LSH dial a union of
    the first T scored tables + dedup + rank — identical semantics to
    ivf_topk/lsh_topk (same rounding, same tie-breaks), proven by the
    unchanged oracle. At 100 TB the identical query runs on a sampled
    corpus slice: the recall estimate needs thousands of vectors, and
    the dial chosen here then configures the full-corpus ANN path."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 32)
    exact = (
        sim.brute_force_topk(e, q, k=5, round_eps=1e-9)
        .select("q_id", "n_id")
        .localCheckpoint(eager=False)
    )
    tot = exact.agg(F.count(F.lit(1)).cast("double").alias("_tot"))
    cdf, _counts, _n_iters, _conv = sim.train_centroids_lloyd(
        e, k=8, max_iter=4, eps=0.06
    )

    rank_w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    simv = F.round(sim.cosine(F.col("q_vec"), F.col("n_vec")) + 1e-9, 6)

    # IVF shared stages: corpus cells once (n_cells=1), query cells once at
    # the MAX nprobe with their probe rank reified (the re-rank below uses
    # ivf_assign's own (cell_sim desc, cell) order, so rank <= d slices the
    # same cells ivf_topk(nprobe=d) would probe)
    v_cells = (
        sim.ivf_assign(e, cdf)
        .select(F.col("vec_id").alias("n_id"),
                F.col("embedding").alias("n_vec"), "cell")
        .localCheckpoint(eager=False)
    )
    probe_w = Window.partitionBy("q_id").orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    q_cells = (
        sim.ivf_assign(q, cdf, n_cells=8)
        .select(F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"), "cell", "cell_sim")
        .withColumn("_probe_rn", F.row_number().over(probe_w))
        .localCheckpoint(eager=False)
    )

    def ivf_ann(d):
        qc = q_cells.where(F.col("_probe_rn") <= d).select(
            "q_id", "q_vec", "cell"
        )
        return (
            v_cells.join(F.broadcast(qc), "cell")
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", simv.alias("sim"))
            .withColumn("rank", F.row_number().over(rank_w))
            .where(F.col("rank") <= 5)
        )

    # LSH shared stages: one scored candidate set per table (the T=4 dial's
    # tables are supersets of the smaller dials' — score each table once)
    def lsh_scored(f):
        def sig(c):
            return sim.hyperplane_signature(c, 4, 64, offset=f * 4)

        v = e.select(F.col("vec_id").alias("n_id"),
                     F.col("embedding").alias("n_vec"),
                     sig(F.col("embedding")).alias("sig"))
        qq = q.select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec"),
                      sig(F.col("embedding")).alias("sig"))
        return (
            v.join(F.broadcast(qq), "sig")
            .where(F.col("q_id") != F.col("n_id"))
            .select("q_id", "n_id", simv.alias("sim"))
            .localCheckpoint(eager=False)
        )

    tables = [lsh_scored(f) for f in range(4)]

    def lsh_ann(n_tables):
        cand = tables[0]
        for tbl in tables[1:n_tables]:
            cand = cand.unionByName(tbl)
        if n_tables > 1:
            # a pair found by several tables scores once; sim is
            # pair-determined, so any surviving row is the right one
            cand = cand.dropDuplicates(["q_id", "n_id"])
        return (
            cand.withColumn("rank", F.row_number().over(rank_w))
            .where(F.col("rank") <= 5)
        )

    def recall_row(method, dial, ann):
        hits = (
            ann.select("q_id", "n_id")
            .join(exact, ["q_id", "n_id"])
            .agg(F.count(F.lit(1)).alias("_hits"))
        )
        return hits.crossJoin(F.broadcast(tot)).select(
            F.lit(method).alias("method"),
            F.lit(dial).cast("int").alias("dial"),
            F.col("_hits").cast("bigint").alias("hits"),
            F.col("_tot").cast("bigint").alias("n_exact"),
            eps_round(F.col("_hits") / F.col("_tot"), 4).alias("recall"),
        )

    parts = [recall_row("ivf", d, ivf_ann(d)) for d in (1, 2, 4, 8)]
    parts += [recall_row("lsh", T, lsh_ann(T)) for T in (1, 2, 4)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method", "dial")


# --------------------------------------------------------------------------
# Round 8: IVF-PQ serving — train -> calibrate -> SERVE, closing §2.2-J
# --------------------------------------------------------------------------

# The index configuration. M=8 subspaces of 8 dims with a 16-codeword
# codebook compress a 512-byte vector to 8 bytes. Since r13 the coarse
# cell count is DERIVED from corpus size — cells = max(1, floor(sqrt(n)
# + 0.5)), the standard IVF heuristic every serving docstring states and
# the r12 probe measured dominating the old pin of 8 at two corpus sizes
# (better recall probing 2.8% of the corpus vs 50%, with a 17.6x smaller
# exact re-rank; SCALE.md r12) — identical double arithmetic in
# _ivfpq_derive_cells and the oracle's ncells CTE. nprobe=2/shortlist=32
# are the r9 dial the RECALL SWEEP keeps as its baseline legs; since r11
# the registered SERVE path runs at the dial the r10 sweep measured and
# recommends: nprobe=4 and shortlist DERIVED from corpus size
# (~ n/cells, floor 32) so the shortlist keeps a constant fraction of
# each probed cell as the corpus grows — the fixed-32 shortlist was the
# measured recall cliff (.369 at sf0.1 vs .681 at the swept dial).
_IVFPQ_NPROBE = 2     # baseline sweep leg (serving default is _SERVE_NPROBE)
_IVFPQ_M = 8          # PQ subspaces
_IVFPQ_SUB = 8        # dims per subspace (M * SUB = embedding dim 64)
_IVFPQ_KC = 16        # codewords per subspace (vec_id < KC residual SEEDS)
_IVFPQ_SHORTLIST = 32 # baseline sweep-leg shortlist (and the serve floor)
_IVFPQ_TRAIN_ITERS = 2  # per-subspace Lloyd rounds refining the seeds (r9)
_IVFPQ_CELLS = 8      # the r8-r12 registered PIN — kept as the probes'
                      # comparison baseline (scripts/ivfpq_cells_probe.py)
                      # and _ivfpq_index's explicit-arg default; the
                      # REGISTERED rows derive cells via _ivfpq_derive_cells
_IVFPQ_SERVE_NPROBE = 4  # serving nprobe: the r10 sweep's measured pick


def _ivfpq_derive_cells(n: int) -> int:
    """THE coarse-cell rule — cells = max(1, floor(sqrt(n) + 0.5)), i.e.
    round-half-up of sqrt(corpus size). Shared by the registered builders
    and the probe scripts so a measurement always exercises the rule the
    registered path serves at; the oracle's `ncells` CTE is its SQL twin
    (GREATEST/FLOOR/SQRT over the same double arithmetic — floor(x + .5)
    rather than a round() builtin because Python round() is banker's
    rounding while SQL ROUND is half-away-from-zero; sqrt of an integer
    below 2^52 is correctly rounded on both engines, so the composition
    is bit-identical). Why sqrt: per-cell lists grow only as sqrt(n), so
    the derived shortlist (~ n/cells, also ~ sqrt(n)) keeps a constant
    fraction of each probed cell while the probed CORPUS fraction
    (nprobe/cells) shrinks — the serve-cost shape the r12 cells probe
    measured (SCALE.md r12)."""
    return max(1, int(math.floor(math.sqrt(n) + 0.5)))


def _ivfpq_train_sample_mod(n: int, cells: int) -> int | None:
    """THE trainer-sample rule (r13, corrected by a scored miss): sample
    budget = max(5000, 100 * cells) — the PQ codebooks' absolute
    saturation floor OR ~100 training points per estimated coarse
    centroid, whichever binds (see _ivfpq_index's train_sample_mod
    docstring for the measurement trail) — and the deterministic hash
    dial is mod = n // budget, engaged only when the thinning is worth
    its own overhead: mod >= 4 (None = train on the full corpus). The
    threshold is MEASURED, not guessed: at mod=2 (283 cells, 80k
    corpus, SCALE.md r13 run 2b) the sampled trainer cost MORE than the
    full one (76.3 vs 68.4 s — the sample pin's materialization plus
    convergence-iteration variance eat a 2x thinning) while paying the
    same recall trade, so a 2-3x dial is all cost and no benefit.
    Shared by the probe scripts so a measurement always exercises the
    rule the docstrings state."""
    mod = n // max(5000, 100 * cells)
    return mod if mod >= 4 else None


def _pq_train_iter_sql(i: int) -> str:
    """One unrolled per-subspace Lloyd round of the PQ codebook trainer
    (oracle side, mirroring the Spark loop in _ivfpq_reranked): assign
    every corpus sub-residual to its nearest codeword under the SAME
    eps-rounded d2 + ccid tie-break the encoder uses, recompute each
    codeword as the per-component mean (eps-rounded 6dp — identical
    inputs each round, the exact-replay discipline), and keep the
    previous codeword when a cell receives no points."""
    prev = "cb0" if i == 1 else f"cbt{i - 1}"
    s = _IVFPQ_SUB
    return f"""
    pqa{i} AS (
      SELECT vec_id, m, sv, ccid FROM (
        SELECT su.vec_id, su.m, su.sv, c.ccid,
               ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.m ORDER BY
                 ROUND(list_dot_product(su.sv, su.sv)
                       - 2 * list_dot_product(su.sv, c.cv)
                       + list_dot_product(c.cv, c.cv) + 1e-9, 6), c.ccid) AS rn
        FROM sub su JOIN {prev} c ON su.m = c.m
      ) WHERE rn = 1
    ),
    pqu{i} AS (
      SELECT m, ccid, list(x ORDER BY i) AS ucv FROM (
        SELECT a.m, a.ccid, g.i, ROUND(AVG(a.sv[g.i]) + 1e-9, 6) AS x
        FROM pqa{i} a, LATERAL (SELECT unnest(generate_series(1, {s})) AS i) g
        GROUP BY a.m, a.ccid, g.i
      ) GROUP BY m, ccid
    ),
    cbt{i} AS MATERIALIZED (
      SELECT p.ccid, p.m, COALESCE(u.ucv, p.cv) AS cv
      FROM {prev} p LEFT JOIN pqu{i} u ON p.m = u.m AND p.ccid = u.ccid
    )"""


def _ivfpq_base_ctes() -> str:
    """Oracle CTEs replaying the IVF-PQ TRAIN + ENCODE stages (shared by
    every serving dial): Lloyd training (shared `_kmeans_iter_sql`
    unroll), coarse assignment, RESIDUAL encoding (classic IVF-PQ
    quantizes v - centroid(cell(v)), which has ~half the variance of raw
    v), and per-subspace Lloyd TRAINING of the PQ codebooks from the
    first-KC residual seeds (`_pq_train_iter_sql` unroll, r9). Ends with
    the encoded corpus (vcode) and the query batch (q); the per-dial
    serve legs come from `_ivfpq_serve_ctes`."""
    s = _IVFPQ_SUB
    return (
        """
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    -- the derived coarse-cell rule (r13): cells = max(1, floor(sqrt(n)
    -- + .5)) — the SQL twin of _ivfpq_derive_cells, same double sqrt
    ncells AS (
      SELECT GREATEST(1, CAST(FLOOR(SQRT(COUNT(*)) + 0.5) AS INT)) AS k
      FROM corpus
    ),
    c0 AS (
      SELECT CAST(vec_id AS INT) AS cid, v AS cvec
      FROM corpus, ncells
      WHERE vec_id IS NOT NULL
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= k
    ),
    """
        + ",".join(_kmeans_iter_sql(i) for i in (1, 2, 3, 4))
        + f""",
    sel AS (
      SELECT CASE WHEN mv1.mv < 0.06 THEN 1 WHEN mv2.mv < 0.06 THEN 2
                  WHEN mv3.mv < 0.06 THEN 3 ELSE 4 END AS n_iters
      FROM mv1, mv2, mv3, mv4
    ),
    cents AS MATERIALIZED (
      SELECT u.cid, u.cvec FROM (
        SELECT 1 AS it, cid, cvec FROM c1
        UNION ALL SELECT 2, cid, cvec FROM c2
        UNION ALL SELECT 3, cid, cvec FROM c3
        UNION ALL SELECT 4, cid, cvec FROM c4
      ) u, sel s WHERE u.it = s.n_iters
    ),
    ms AS (SELECT unnest(range({_IVFPQ_M})) AS m),
    vassign AS (
      SELECT vec_id, v, cell FROM (
        SELECT c.vec_id, c.v, ct.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 list_dot_product(c.v, ct.cvec) /
                   (sqrt(list_dot_product(c.v, c.v)) *
                    sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC,
                 ct.cid) AS rn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE rn = 1
    ),
    vres AS MATERIALIZED (
      -- MATERIALIZED (r9): vres sits on top of the whole Lloyd unroll and
      -- is read by cb0, sub, and vcode — inlined, DuckDB would re-run the
      -- kmeans chain per reference, which the PQ-training layers below
      -- turned from slow into combinatorial
      SELECT va.vec_id, va.cell,
             [CAST(p[1] - p[2] AS DOUBLE) for p in list_zip(va.v, ct.cvec)] AS r
      FROM vassign va JOIN cents ct ON va.cell = ct.cid
    ),
    cb0 AS MATERIALIZED (
      SELECT CAST(vr.vec_id AS INT) AS ccid, ms.m,
             list_transform(list_slice(vr.r, ms.m * {s} + 1, ms.m * {s} + {s}),
                            x -> ROUND(CAST(x AS DOUBLE) + 1e-9, 6)) AS cv
      FROM vres vr CROSS JOIN ms WHERE vr.vec_id < {_IVFPQ_KC}
    ),
    sub AS MATERIALIZED (
      SELECT vr.vec_id, ms.m,
             list_slice(vr.r, ms.m * {s} + 1, ms.m * {s} + {s}) AS sv
      FROM vres vr CROSS JOIN ms
    ),
    """
        + ",".join(_pq_train_iter_sql(i) for i in range(1, _IVFPQ_TRAIN_ITERS + 1))
        + f""",
    cb AS (SELECT ccid, m, cv FROM cbt{_IVFPQ_TRAIN_ITERS}),
    vcode AS (
      SELECT n_id, cell, m, ccid FROM (
        SELECT s.vec_id AS n_id, s.cell, s.m, c.ccid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 ROUND(list_dot_product(s.sv, s.sv)
                       - 2 * list_dot_product(s.sv, c.cv)
                       + list_dot_product(c.cv, c.cv) + 1e-9, 6), c.ccid) AS rn
        FROM (
          SELECT vr.vec_id, vr.cell, ms.m,
                 list_slice(vr.r, ms.m * {s} + 1, ms.m * {s} + {s}) AS sv
          FROM vres vr CROSS JOIN ms
        ) s JOIN cb c ON s.m = c.m
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < 32)
    """
    )


def _ivfpq_serve_ctes(nprobe: int, shortlist, sfx: str = "") -> str:
    """Oracle CTEs for ONE serving dial against the base index: the
    per-query per-probed-cell ADC lookup table, the fixed-order ADC sum,
    the shortlist cut, and the exact cosine re-rank — ending in
    final{sfx}. Every ranked value is eps-rounded with an id tie-break;
    the ADC sum is written as M positionally-fixed terms so neither
    engine's aggregation order can wiggle an ulp. `shortlist` is an int
    literal (the sweep legs) or a scalar-subquery string (the serving
    default's corpus-derived dial)."""
    adc_sum = "\n                 + ".join(
        f"MAX(CASE WHEN l.m = {i} THEN l.d2 END)" for i in range(_IVFPQ_M)
    )
    s = _IVFPQ_SUB
    return f"""
    qprobe{sfx} AS (
      SELECT q_id, qv, cell FROM (
        SELECT q.q_id, q.qv, ct.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                 list_dot_product(q.qv, ct.cvec) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC,
                 ct.cid) AS rn
        FROM q CROSS JOIN cents ct
      ) WHERE rn <= {nprobe}
    ),
    qlut{sfx} AS (
      SELECT s.q_id, s.cell, s.m, c.ccid,
             ROUND(list_dot_product(s.sv, s.sv)
                   - 2 * list_dot_product(s.sv, c.cv)
                   + list_dot_product(c.cv, c.cv) + 1e-9, 6) AS d2
      FROM (
        SELECT qp.q_id, qp.cell, ms.m,
               list_slice([CAST(p[1] - p[2] AS DOUBLE)
                           for p in list_zip(qp.qv, ct.cvec)],
                          ms.m * {s} + 1, ms.m * {s} + {s}) AS sv
        FROM qprobe{sfx} qp JOIN cents ct ON qp.cell = ct.cid CROSS JOIN ms
      ) s JOIN cb c ON s.m = c.m
    ),
    adc{sfx} AS (
      SELECT l.q_id, vc.n_id,
             ROUND({adc_sum} + 1e-9, 6) AS adc_d2
      FROM vcode vc
      JOIN qlut{sfx} l ON vc.cell = l.cell AND vc.m = l.m AND vc.ccid = l.ccid
      WHERE l.q_id <> vc.n_id
      GROUP BY l.q_id, vc.n_id
    ),
    shortlist{sfx} AS (
      SELECT q_id, n_id, adc_d2 FROM (
        SELECT q_id, n_id, adc_d2,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_d2, n_id) AS srn
        FROM adc{sfx}) WHERE srn <= {shortlist}
    ),
    rerank{sfx} AS (
      SELECT sl.q_id, sl.n_id, sl.adc_d2,
             ROUND(list_dot_product(qq.qv, c.v) /
               (sqrt(list_dot_product(qq.qv, qq.qv)) *
                sqrt(list_dot_product(c.v, c.v))) + 1e-9, 6) AS sim
      FROM shortlist{sfx} sl
      JOIN q qq ON sl.q_id = qq.q_id
      JOIN corpus c ON sl.n_id = c.vec_id
    ),
    final{sfx} AS (
      SELECT q_id, n_id, adc_d2, sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
      FROM rerank{sfx}
    )
    """


def _ivfpq_ctes() -> str:
    """The default-dial oracle pyramid (train + encode + one serve leg
    ending in `final`) — what sim_ivfpq_topk's oracle cuts. Since r11
    the serve leg runs at the CALIBRATED dial: nprobe=_IVFPQ_SERVE_NPROBE
    and shortlist derived from corpus size exactly as the Spark side
    derives it (GREATEST(floor, ceil(n / cells)) — the sim_ivfpq_recall
    scaling rule, with cells itself derived by the ncells CTE since
    r13), so the replay stays bit-for-bit at every scale."""
    dial = f"""
    serve_dial AS (
      SELECT GREATEST({_IVFPQ_SHORTLIST},
                      CAST(CEIL((SELECT COUNT(*) FROM corpus) * 1.0 / k)
                           AS BIGINT)) AS sl
      FROM ncells
    )"""
    return (
        _ivfpq_base_ctes()
        + ","
        + dial
        + ","
        + _ivfpq_serve_ctes(_IVFPQ_SERVE_NPROBE, "(SELECT sl FROM serve_dial)")
    )


def _ivfpq_index(spark, sf_dir, train_sample_mod=None, cells=_IVFPQ_CELLS,
                 stage_timings=None):
    """Spark side of the IVF-PQ TRAIN + ENCODE stages, shared by every
    serving dial: returns (e, q, cdf, cents, cb, vcode) with the trained
    codebook and the encoded corpus pinned, so a dial sweep
    (sim_ivfpq_recall) pays for training and encoding exactly once.

    train_sample_mod: the at-volume trainer dial — when set, BOTH
    trainers (the coarse Lloyd since r13, and the per-subspace PQ Lloyd
    rounds) read only the deterministic hash sample
    `xxhash64(vec_id) % mod == 0` of the corpus (the
    embed_cosine_histogram sampling discipline: stable across runs,
    unbiased in the population), cutting trainer input ~mod-fold; the
    ENCODE stage still assigns and codes every vector against the
    resulting centroids/codebooks. Seeds are forced into the sample on
    both trainers (vec_id < cells for the coarse seeds, vec_id < KC for
    the codeword seeds) so the seeded starting point is identical to the
    full-corpus trainer's. Centroid/codebook estimation saturates on
    thousands of points per estimated mean, so a 100 TB corpus never
    needs (or wants) the full scan in either trainer — and the coarse
    Lloyd is the one k-DEPENDENT stage (O(n_train x cells x dim)
    assignment), which at the derived cells ~ sqrt(n) is exactly the
    cost the sample bounds (the r12 train-cost MISS's named cause;
    SCALE.md r13 measures the dial closing it). Default None = full
    corpus (the registered, oracle-replayed path — at testdata scale
    the corpus IS the sample). The sample BUDGET is cells-dependent
    (r13 — a scored miss taught this): the PQ codebooks saturate on an
    absolute few thousand residuals (SCALE.md round-10: recall
    noise-flat at ~5k, -5% near ~2.5k for M x KC = 128 codewords), but
    the COARSE quantizer estimates `cells` means and needs ~100 points
    per cell (the standard k-means-for-IVF training band is ~40-256
    points per centroid): at 20k vectors and 141 cells a 5k sample
    (35/cell) measured recall@5 .7625 vs the full trainer's .8812
    (SCALE.md r13). So budget = max(5000, 100 * cells) and
    mod = n // budget, engaged at mod >= 4 (`_ivfpq_train_sample_mod`)
    — still a vanishing sampling RATE at volume (at n = 10^9,
    cells = sqrt(n) ~ 31.6k, the budget is ~3.2M vectors, 0.3% of the
    corpus and shrinking as 100/sqrt(n)). THE MEASURED TRADE, two-point
    envelope: at the rule's OWN engagement point (SCALE.md r14 —
    250k-vector natural-cluster corpus, derived cells=500, rule-derived
    mod=5 = 100 sampled points/cell) the sampled trainer costs 0.24x
    the full trainer's wall and the recall trade is -0.025 at the
    registered nprobe=4 (.9750 vs 1.0000 full-trained) — the scored
    PASS at epsilon .05; FORCING the dial below its threshold or
    starving cells below ~100 points costs -0.09..-0.12 (SCALE.md r13
    run 2b: mod=2-forced on the unusually clustered 40-rotation-family
    80k corpus read .8875 vs .9812, nprobe buying about half back at
    shortlist-fixed serve cost). The registered path stays on the FULL
    trainer (at testdata scale the corpus is the sample); turn this
    dial at volume when the train budget binds — at mod >= 4 with the
    100/cell budget it is measured cheap and near-lossless.

    Scale shape, stage by stage:
    - coarse training: `train_centroids_lloyd` (broadcast k x dim
      centroids, k x dim-cell shuffles, metadata-sized driver traffic);
    - PQ training (r9): per-subspace Lloyd refines the first-KC residual
      seeds for _IVFPQ_TRAIN_ITERS rounds — all M subspaces in one plan
      per round (an assignment join against the broadcast KC x M
      codebook + one narrow posexplode aggregate), no per-m driver loop;
      empty cells keep their previous codeword; at volume the trainer
      reads a deterministic hash sample instead of the full corpus;
    - encoding: coarse assignment and residual PQ codes are narrow maps
      over the corpus scan (centroids and the KC x M codebook broadcast);
      per vector the stored index state is one cell id + M code bytes —
      the 64x compression that lets a 100 TB corpus's index fit hot.
    The SERVE stages (per-query ADC lookup table, shortlist, exact
    re-rank) live in `_ivfpq_query`, parameterized by the two dials.
    Determinism: Lloyd centroids eps-rounded per iteration (exact replay),
    codebook entries eps-rounded 6dp, every ranked value eps-rounded with
    id tie-breaks, and the ADC sum assembled as M positionally-fixed
    terms (max-per-m pivot) so shuffle arrival order cannot move an ulp
    into the shortlist cut (the r7 flake-class rule).

    stage_timings: pass a dict to receive per-stage wall seconds
    (coarse_train_s / corpus_assign_s / pq_train_s / encode_s) — the
    measurement hook the r13 train-cost scoring needed, because a single
    build wall CONFLATES the trainer (what train_sample_mod bounds) with
    the unavoidable O(n x cells) full-corpus assignment and the
    O(n x M x KC) encode (per-vector map work that scales out with
    executors, sample-independent by design). When set, the pinned
    stages checkpoint EAGERLY at the stage boundaries — identical
    values and plans, only materialization timing moves; default None
    keeps the registered lazy pinning."""
    from pyspark.sql import Window

    timed = stage_timings is not None
    if timed:
        import time as _time

        _t0 = _time.monotonic()

    e = t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 32)
    coarse_src = e
    if train_sample_mod is not None:
        # deterministic hash sample for the COARSE trainer (r13 — the
        # k-dependent Lloyd assignment is the train cost that grows with
        # the derived cells); seeds (the k lowest ids, vec_id < cells on
        # this corpus) are forced in so the seeded start matches the
        # full trainer's
        coarse_src = e.where(
            (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(train_sample_mod)) == 0)
            | (F.col("vec_id") < cells)
        # pin the sample: Lloyd re-reads its input every iteration, and
        # an unpinned sample would re-scan (and re-filter) the FULL
        # corpus 4x — the sample exists so the trainer never touches
        # corpus-sized data more than once
        ).localCheckpoint(eager=False)
    cdf, _counts, _iters, _conv = sim.train_centroids_lloyd(
        coarse_src, k=cells, max_iter=4, eps=0.06
    )
    if timed:
        # train_centroids_lloyd iterates eagerly (per-iteration movement
        # collects), so the call wall IS the coarse-trainer stage
        stage_timings["coarse_train_s"] = _time.monotonic() - _t0
        _t0 = _time.monotonic()
    cents = cdf.select(
        F.col("cent_id").alias("cell"), F.col("cent_vec").alias("cvec")
    )

    def residual(vec_col):
        return F.zip_with(
            F.transform(vec_col, lambda x: x.cast("double")),
            F.col("cvec"),
            lambda x, y: x - y,
        )

    ms = F.explode(F.array(*[F.lit(i) for i in range(_IVFPQ_M)])).alias("m")

    def sub_slice(rcol):
        return F.slice(rcol, F.col("m") * _IVFPQ_SUB + 1, F.lit(_IVFPQ_SUB))

    # pinned: feeds both the codebook and every vector's encoding
    vres = (
        sim.ivf_assign(e, cdf)
        .join(F.broadcast(cents), "cell")
        .select("vec_id", "cell", residual(F.col("embedding")).alias("r"))
        .localCheckpoint(eager=timed)
    )
    if timed:
        # the full-corpus coarse assignment + residuals: O(n x cells)
        # per-vector map work — unavoidable index-construction cost,
        # NOT bounded by train_sample_mod (every vector must be filed)
        stage_timings["corpus_assign_s"] = _time.monotonic() - _t0
        _t0 = _time.monotonic()
    sv, cv = F.col("sv"), F.col("cv")
    # ||c||^2 is a per-codeword constant and ||s||^2 a per-(row, m)
    # constant: both are computed ONCE below the candidate join (their
    # Project sits under the join node, so projection collapse cannot
    # re-inline the fold into the per-pair expression) — only the cross
    # term pays per (row x codeword). Same arithmetic, same values, so
    # the oracle's inline three-dot form still matches bit-for-bit.
    d2 = eps_round(
        F.col("_svv") - 2 * sim.dot(sv, cv) + F.col("_cvv"), 6
    )
    # TRAINED codebooks (r9, per the r8 verdict): the first-KC residual
    # slices are now only the SEED; _IVFPQ_TRAIN_ITERS rounds of
    # per-subspace Lloyd (the standard PQ trainer) refine each of the M
    # codebooks — assign every corpus sub-residual to its nearest
    # codeword (same eps-rounded d2 + ccid tie-break as the encoder),
    # recompute each codeword as the per-component mean of its assigned
    # sub-vectors (eps-rounded 6dp, the exact-replay discipline
    # train_centroids_lloyd established), keep the old codeword when a
    # cell goes empty. All M subspaces train in ONE plan — the iteration
    # is vectorized over m, so each round is one assignment join + one
    # 64x-narrow posexplode aggregate, never a per-m driver loop. At
    # volume the trainer input would be a deterministic hash sample of
    # the corpus (the embed_cosine_histogram pattern); at testdata scale
    # the full corpus IS the sample.
    train_src = vres
    if train_sample_mod is not None:
        # deterministic hash sample for the trainer ONLY (see docstring);
        # seeds (vec_id < KC) are forced in so every codeword keeps its
        # seed even when the hash drops that row from the sample
        train_src = vres.where(
            (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(train_sample_mod)) == 0)
            | (F.col("vec_id") < _IVFPQ_KC)
        )
    sub_all = (
        train_src.select("vec_id", ms, "r")
        .select("vec_id", "m", sub_slice(F.col("r")).alias("sv"))
        .withColumn("_svv", sim.dot(sv, sv))
    )
    cbk_seed = (
        vres.where(F.col("vec_id") < _IVFPQ_KC)
        .select(F.col("vec_id").cast("int").alias("ccid"), ms, "r")
        .select(
            "ccid", "m",
            F.transform(sub_slice(F.col("r")),
                        lambda x: eps_round(x, 6)).alias("cv"),
        )
    )
    # r17: the codebook is metadata-sized by construction (M x KC = 128
    # rows of SUB eps-rounded doubles) — keep it on the DRIVER between
    # rounds. Before, `cbk` stayed a lazy plan, so round i's broadcast
    # build REPLAYED rounds 1..i-1 (assignment join + window + rollup)
    # inside the build, and the final codebook needed its own checkpoint
    # pin. Now each round collects the <=128 updated codewords (the same
    # rows the old left-join/coalesce merged: a (m, ccid) absent from
    # `upd` received no points and keeps its previous codeword) and the
    # next round broadcasts a literal 128-row table. Values are exact
    # doubles either way — collect/createDataFrame round-trips IEEE
    # doubles bit-for-bit, and the merge rule is the coalesce rule.
    cwords = {(r["m"], r["ccid"]): list(r["cv"]) for r in cbk_seed.collect()}

    def _cbk_df():
        return spark.createDataFrame(
            [(m, c, v) for (m, c), v in sorted(cwords.items())],
            "m INT, ccid INT, cv ARRAY<DOUBLE>",
        )

    train_w = Window.partitionBy("vec_id", "m").orderBy("d2", "ccid")
    for _ in range(_IVFPQ_TRAIN_ITERS):
        assigned = (
            sub_all.join(F.broadcast(_cbk_df().withColumn("_cvv", sim.dot(cv, cv))), "m")
            .select("vec_id", "m", "ccid", "sv", d2.alias("d2"))
            .withColumn("_rn", F.row_number().over(train_w))
            .where(F.col("_rn") == 1)
        )
        upd = (
            assigned.select("m", "ccid", F.posexplode("sv").alias("i", "x"))
            .groupBy("m", "ccid", "i")
            .agg(eps_round(F.avg("x"), 6).alias("x"))
            .groupBy("m", "ccid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "x"))),
                    lambda s: s["x"],
                ).alias("ucv")
            )
        )
        for r in upd.collect():
            cwords[(r["m"], r["ccid"])] = list(r["ucv"])
    # the trained codebook is a literal 128-row frame — nothing to pin
    # (the r16 checkpoint guarded against replaying the Lloyd rounds,
    # which now live on the driver)
    cb = _cbk_df().withColumn("_cvv", sim.dot(cv, cv))
    if timed:
        stage_timings["pq_train_s"] = _time.monotonic() - _t0
        _t0 = _time.monotonic()
    code_w = Window.partitionBy("n_id", "m").orderBy("d2", "ccid")
    vcode = (
        vres.select(F.col("vec_id").alias("n_id"), "cell", ms, "r")
        .select("n_id", "cell", "m", sub_slice(F.col("r")).alias("sv"))
        .withColumn("_svv", sim.dot(sv, sv))
        .join(F.broadcast(cb), "m")
        .select("n_id", "cell", "m", "ccid", d2.alias("d2"))
        .withColumn("_rn", F.row_number().over(code_w))
        .where(F.col("_rn") == 1)
        .select("n_id", "cell", "m", "ccid")
        # pinned like cb: the encoded corpus is read once per serve leg
        # (4 legs in the recall sweep + the topk cut) — unpinned, each
        # leg would replay the corpus-wide encode join and its
        # (n_id, m) window (the review's 4-5x redundant-encode finding)
        .localCheckpoint(eager=timed)
    )
    if timed:
        stage_timings["encode_s"] = _time.monotonic() - _t0
    return e, q, cdf, cents, cb, vcode


def _ivfpq_scored(q, cdf, cents, cb, vcode, max_nprobe):
    """ADC-score every candidate of the `max_nprobe` nearest cells, with
    each candidate's CELL PROBE RANK reified (r17): a candidate's adc_d2
    is independent of nprobe — its n_id lives in exactly one cell — so a
    (nprobe, shortlist) dial over this one table is a probe-rank FILTER
    plus its own shortlist cut (`_ivfpq_cut`). The probe rank replays
    ivf_assign's own n_cells slicing (cell_sim desc, cell asc), so
    `_prn <= d` selects bit-for-bit the cells ivf_assign(n_cells=d)
    would return; sim_ivfpq_recall's sweep shares ONE scored table where
    it used to re-join and re-aggregate the codes per dial.
    Returns (q_id, n_id, adc_d2, _prn)."""
    from pyspark.sql import Window

    def residual(vec_col):
        return F.zip_with(
            F.transform(vec_col, lambda x: x.cast("double")),
            F.col("cvec"),
            lambda x, y: x - y,
        )

    ms = F.explode(F.array(*[F.lit(i) for i in range(_IVFPQ_M)])).alias("m")

    def sub_slice(rcol):
        return F.slice(rcol, F.col("m") * _IVFPQ_SUB + 1, F.lit(_IVFPQ_SUB))

    sv, cv = F.col("sv"), F.col("cv")
    d2 = eps_round(
        F.col("_svv") - 2 * sim.dot(sv, cv) + F.col("_cvv"), 6
    )
    probe_w = Window.partitionBy("q_id").orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    qlut = (
        sim.ivf_assign(q, cdf, n_cells=max_nprobe)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding"),
                "cell", "cell_sim")
        .withColumn("_prn", F.row_number().over(probe_w))
        .join(F.broadcast(cents), "cell")
        .select("q_id", "cell", "_prn", residual(F.col("embedding")).alias("r"))
        .select("q_id", "cell", "_prn", ms, "r")
        .select("q_id", "cell", "_prn", "m", sub_slice(F.col("r")).alias("sv"))
        .withColumn("_svv", sim.dot(sv, sv))
        .join(F.broadcast(cb), "m")
        .select("q_id", "cell", "_prn", "m", "ccid", d2.alias("d2"))
    )
    # fixed-order ADC sum: pivot the M per-subspace cells to columns, add
    # them in one expression — a groupBy SUM would re-order the float adds
    # with shuffle arrival and wiggle the shortlist edge (r7 flake class)
    pivots = [
        F.max(F.when(F.col("m") == i, F.col("d2"))).alias(f"_d{i}")
        for i in range(_IVFPQ_M)
    ]
    adc_sum = F.col("_d0")
    for i in range(1, _IVFPQ_M):
        adc_sum = adc_sum + F.col(f"_d{i}")
    return (
        vcode.join(F.broadcast(qlut), ["cell", "m", "ccid"])
        .where(F.col("q_id") != F.col("n_id"))
        # a candidate's M code rows all carry its single cell's probe
        # rank — max() just surfaces that constant through the rollup
        .groupBy("q_id", "n_id")
        .agg(*pivots, F.max("_prn").alias("_prn"))
        .select("q_id", "n_id", eps_round(adc_sum, 6).alias("adc_d2"), "_prn")
    )


def _ivfpq_cut(scored, e, q, nprobe, shortlist):
    """One serving dial over a `_ivfpq_scored` table: keep the `nprobe`
    nearest cells' candidates, cut the `shortlist` on ADC distance,
    exact-re-rank the shortlist. Returns (q_id, n_id, adc_d2, sim, rank).

    Scale shape: only the SHORTLIST (nq x `shortlist` rows, broadcast)
    joins back to the full vectors for exact cosine, so the one stage
    that reads an embedding has its candidate count bounded by
    construction."""
    from pyspark.sql import Window

    short_w = Window.partitionBy("q_id").orderBy("adc_d2", "n_id")
    short = (
        scored.where(F.col("_prn") <= nprobe)
        .select("q_id", "n_id", "adc_d2")
        .withColumn("_srn", F.row_number().over(short_w))
        .where(F.col("_srn") <= shortlist)
        .select("q_id", "n_id", "adc_d2")
    )
    qv = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    nv = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_vec"))
    simv = eps_round(sim.cosine(F.col("q_vec"), F.col("n_vec")), 6)
    rank_w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        nv.join(F.broadcast(short.join(F.broadcast(qv), "q_id")), "n_id")
        .select("q_id", "n_id", "adc_d2", simv.alias("sim"))
        .withColumn("rank", F.row_number().over(rank_w))
    )


def _ivfpq_query(e, q, cdf, cents, cb, vcode,
                 nprobe=_IVFPQ_NPROBE, shortlist=_IVFPQ_SHORTLIST):
    """Spark side of the IVF-PQ SERVE stage against a built index: probe
    the query's `nprobe` nearest cells, ADC-score the probed cells' codes
    from the per-query LUT (`_ivfpq_scored`), cut the `shortlist`,
    exact-re-rank it (`_ivfpq_cut`). Returns the re-ranked frame
    (q_id, n_id, adc_d2, sim, rank). The two serving knobs are exactly
    the ones that recover recall as the corpus grows (see
    sim_ivfpq_recall): nprobe buys back the cell-miss term, shortlist
    the ADC-precision term.

    Scale shape: the ADC lookup table is nq x nprobe x M x KC tiny rows,
    broadcast into an equi-join against the probed cells' codes — the
    scan touches only code columns, never the vectors; only the
    shortlist joins back to the full vectors for exact cosine."""
    return _ivfpq_cut(
        _ivfpq_scored(q, cdf, cents, cb, vcode, max_nprobe=nprobe),
        e, q, nprobe, shortlist,
    )


def _ivfpq_reranked(spark, sf_dir):
    """The CALIBRATED-dial IVF-PQ serving path (train + encode + serve) —
    what sim_ivfpq_topk registers. Split into _ivfpq_index/_ivfpq_query
    in r10 so sim_ivfpq_recall's dial sweep shares one trained index;
    since r11 the serve dial follows the sweep's scaling rule instead of
    the fixed r9 (2, 32): nprobe=4 and shortlist = max(32, ceil(n /
    cells)), where n is the corpus count — one metadata-sized count()
    action (the only driver traffic), so the shortlist keeps a constant
    fraction of each probed cell as the corpus grows. Since r13 the
    INDEX is derived the same way — cells = _ivfpq_derive_cells(n), the
    sqrt rule the r12 probe measured dominating the old 8-cell pin at
    two corpus sizes (SCALE.md r12), so every dial of the registered
    path now follows the corpus. Measured at sf0.1 the fixed (2, 32)
    dial had decayed to recall@5 .369 while (4, 128) measures .681
    (SCALE.md round-10); the derived shortlist at the old pin measured
    .750 there (SCALE.md round-11), and the fully derived index's rows
    are re-measured in SCALE.md r13."""
    n = t(spark, sf_dir, "embeddings").count()
    cells = _ivfpq_derive_cells(n)
    index = _ivfpq_index(spark, sf_dir, cells=cells)
    return _ivfpq_query(*index, nprobe=_IVFPQ_SERVE_NPROBE,
                        shortlist=_ivfpq_serve_shortlist(n, cells=cells))


# the certified dial ladder: the actual testdata corpus sizes plus the
# at-volume points the docstrings reason about (1e6; 1e9 ~ the 100 TB
# corpus) and the two probe corpora, so the driver's gate re-certifies
# the rule arithmetic at every scale the docs cite — not just at the
# n the testdata happens to have
_ANN_POLICY_NS = (500, 2_000, 20_000, 80_000, 1_000_000, 1_000_000_000)


@query(
    "sim_ann_dial_policy",
    f"""
    WITH ns AS (
      SELECT DISTINCT n FROM (
        SELECT CAST(unnest({list(_ANN_POLICY_NS)}) AS BIGINT) AS n
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
      )
    ),
    d AS (
      SELECT n,
             GREATEST(1, CAST(FLOOR(SQRT(n) + 0.5) AS BIGINT)) AS cells
      FROM ns
    ),
    b AS (
      SELECT n, cells,
             GREATEST(CAST(5000 AS BIGINT), 100 * cells) AS train_budget
      FROM d
    )
    SELECT n, cells,
           GREATEST(CAST(32 AS BIGINT),
                    CAST(CEIL(n * 1.0 / cells) AS BIGINT)) AS shortlist,
           train_budget,
           CASE WHEN n // train_budget >= 4 THEN n // train_budget
                ELSE CAST(1 AS BIGINT) END AS train_mod
    FROM b ORDER BY n
    """,
    tags=("llm", "similarity", "policy"),
)
def sim_ann_dial_policy(spark, sf_dir):
    """The ANN serving/training dial derivations as a certified policy
    row — the cdc_key_bucket_policy discipline applied to §2.2-J: for a
    ladder of corpus sizes (the testdata corpora, the r12/r13 probe
    corpora, and the at-volume points the docstrings reason about, plus
    the ACTUAL embeddings count of the sf under test) derive, in pure
    engine expressions, cells = max(1, floor(sqrt(n) + .5)), shortlist
    = max(32, ceil(n / cells)), the trainer sample budget
    max(5000, 100 * cells), and the engagement-gated sampling mod
    (n // budget when >= 4, else 1 = train on the full corpus). The
    builder ALSO runs the shipped Python helpers (_ivfpq_derive_cells /
    _ivfpq_serve_shortlist / _ivfpq_train_sample_mod) on every ladder
    row and RAISES on any disagreement, so the driver's gate certifies
    the rules the registered IVF-PQ paths serve at — including their
    behavior at 1e9 vectors, where no testdata can reach — in one
    hash-compared row set. (The rules' measurement trail: cells r12
    probe + r13 registered derivation; shortlist r10 sweep; budget and
    mod >= 4 threshold SCALE.md r13 runs 1-2b.)

    Scale shape: one metadata-sized COUNT plus constant-folded
    arithmetic over a 7-row literal ladder — the cheapest row in the
    registry, certifying the arithmetic the most expensive ones rely
    on."""
    n_actual = t(spark, sf_dir, "embeddings").count()
    rows = sorted(set(_ANN_POLICY_NS) | {int(n_actual)})
    df = spark.createDataFrame([(int(n),) for n in rows], "n long")
    cells = F.greatest(
        F.lit(1).cast("long"),
        F.expr("CAST(FLOOR(SQRT(n) + 0.5) AS BIGINT)"),
    )
    out = (
        df.select("n", cells.alias("cells"))
        .select(
            "n", "cells",
            F.greatest(F.lit(32).cast("long"),
                       F.expr("CAST(CEIL(n * 1.0 / cells) AS BIGINT)"))
            .alias("shortlist"),
            F.greatest(F.lit(5000).cast("long"),
                       F.expr("100 * cells")).alias("train_budget"),
        )
        .select(
            "n", "cells", "shortlist", "train_budget",
            F.expr("CASE WHEN n div train_budget >= 4 THEN n div train_budget "
                   "ELSE CAST(1 AS BIGINT) END").alias("train_mod"),
        )
        .orderBy("n")
    )
    # self-check: the declarative twin must agree with the shipped
    # helpers on every ladder row — helper drift fails the gate loudly
    for r in out.collect():
        want = (
            _ivfpq_derive_cells(r["n"]),
            _ivfpq_serve_shortlist(r["n"], cells=_ivfpq_derive_cells(r["n"])),
            max(5000, 100 * _ivfpq_derive_cells(r["n"])),
            _ivfpq_train_sample_mod(r["n"], _ivfpq_derive_cells(r["n"])) or 1,
        )
        got = (r["cells"], r["shortlist"], r["train_budget"], r["train_mod"])
        if got != want:
            raise AssertionError(
                f"dial policy twin disagrees with helpers at n={r['n']}: "
                f"declarative {got} != helpers {want}"
            )
    return out


def _ivfpq_serve_shortlist(n: int, cells: int = _IVFPQ_CELLS) -> int:
    """THE serving-dial shortlist rule — shared by _ivfpq_reranked and
    scripts/ivfpq_dial_probe.py so the probe always measures the dial
    the registered path actually serves at (a hand-copy would silently
    keep certifying a stale rule); the oracle's serve_dial CTE is its
    SQL twin (GREATEST/CEIL over the same arithmetic). `cells` defaults
    to the historical 8-cell pin for the probes' baseline legs; the
    registered path passes _ivfpq_derive_cells(n) (r13) so the rule and
    the index agree at every corpus size."""
    return max(_IVFPQ_SHORTLIST, math.ceil(n / cells))


@query(
    "sim_ivfpq_topk",
    _materialize_ctes(
        _ivfpq_ctes()
        + """
    SELECT q_id, CAST(rank AS INT) AS rank, n_id, sim, adc_d2
    FROM final WHERE rank <= 5 ORDER BY q_id, rank
    """,
        ("corpus", "q", "cents", "cb", "vcode", "ms", "ncells",
         "c1", "c2", "c3", "c4"),
    ),
    tags=("llm", "similarity", "approx", "serving"),
)
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ serving top-k — the industry-standard at-scale ANN read
    path, composed end-to-end: Lloyd-trained IVF cells prune the corpus
    (cells = round(sqrt(n)) since r13 — the at-volume rule the r12 probe
    measured dominating the 8-cell pin; nprobe=4 since r11 — the dial
    the r10 recall sweep measured and recommends), product quantization
    compresses each pruned
    candidate to M=8 one-byte codes over RESIDUALS (v - cell centroid —
    classic IVF-PQ, ~half the variance of quantizing raw vectors) with
    codebooks TRAINED by per-subspace Lloyd from deterministic seeds
    (r9 — the standard PQ trainer, not sampled codewords),
    asymmetric-distance scoring ranks candidates from a per-query lookup
    table without touching any stored vector, and only the shortlist
    pays for exact cosine. The shortlist FOLLOWS the corpus since r11:
    max(32, ceil(n / cells)) per the sweep's scaling rule (a fixed 32
    was the measured recall cliff — .369 at sf0.1; the calibrated dial
    measures .681 at (4, 128) and the derived shortlist only adds
    re-rank candidates beyond that). Closes §2.2-J's similarity story:
    train (embed_kmeans_converged) -> calibrate (sim_ann_recall_curve +
    sim_ivfpq_recall) -> serve at the calibrated dial (this).

    Output: top-5 per query with both the ADC estimate and the exact
    re-ranked similarity, so the quantization error is visible per row.
    Exact-replay deterministic (eps-rounded centroids/codebooks/scores,
    id tie-breaks, positionally-fixed ADC sum), so the DuckDB oracle
    replays training, encoding, and both search stages bit-for-bit."""
    return (
        _ivfpq_reranked(spark, sf_dir)
        .where(F.col("rank") <= 5)
        .select("q_id", F.col("rank").cast("int").alias("rank"),
                "n_id", "sim", "adc_d2")
        .orderBy("q_id", "rank")
    )


# The r10 dial sweep (r9 verdict item 3): (nprobe, shortlist) legs sharing
# one trained index. method family 'ivfpq' is the default shortlist (32);
# 'ivfpq_sl128' quadruples the ADC shortlist; dial stays the nprobe axis,
# so every row UNIONs into the sim_ann_recall_curve table unchanged.
_IVFPQ_SWEEP = (
    ("ivfpq", 2, 32), ("ivfpq", 4, 32),
    ("ivfpq_sl128", 2, 128), ("ivfpq_sl128", 4, 128),
)


def _ivfpq_recall_oracle() -> str:
    legs = ",".join(
        _ivfpq_serve_ctes(np, sl, sfx=f"_{m}_{np}")
        for m, np, sl in _IVFPQ_SWEEP
    )
    hit_ctes = ",".join(
        f"""
    h_{m}_{np} AS (
      SELECT COUNT(*)::DOUBLE AS hits FROM final_{m}_{np} f JOIN exact e
      ON f.q_id = e.q_id AND f.n_id = e.n_id AND f.rank <= 5
    )"""
        for m, np, sl in _IVFPQ_SWEEP
    )
    rows = "\n    UNION ALL ".join(
        f"""SELECT '{m}' AS method, CAST({np} AS INT) AS dial,
           CAST(h.hits AS BIGINT) AS hits, CAST(n.tot AS BIGINT) AS n_exact,
           ROUND(h.hits / n.tot + 1e-9, 4) AS recall
    FROM h_{m}_{np} h, n_exact n"""
        for m, np, sl in _IVFPQ_SWEEP
    )
    return (
        _ivfpq_base_ctes()
        + ","
        + legs
        + """,
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT qq.q_id, c.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY qq.q_id ORDER BY
                 ROUND(list_dot_product(qq.qv, c.v) /
                   (sqrt(list_dot_product(qq.qv, qq.qv)) *
                    sqrt(list_dot_product(c.v, c.v))) + 1e-9, 6) DESC,
                 c.vec_id) AS rank
        FROM q qq CROSS JOIN corpus c WHERE qq.q_id <> c.vec_id
      ) WHERE rank <= 5
    ),
    n_exact AS (SELECT COUNT(*)::DOUBLE AS tot FROM exact),
    """
        + hit_ctes
        + f"""
    SELECT method, dial, hits, n_exact, recall FROM (
    {rows}
    ) ORDER BY method, dial
    """
    )


@query(
    "sim_ivfpq_recall",
    _materialize_ctes(
        _ivfpq_recall_oracle(),
        ("corpus", "q", "exact", "n_exact", "cents", "cb", "vcode", "ms",
         "ncells", "c1", "c2", "c3", "c4"),
    ),
    tags=("llm", "similarity", "approx", "calibration"),
)
def sim_ivfpq_recall(spark, sf_dir):
    """The IVF-PQ serving path's recall rows — since r10 a (nprobe,
    shortlist) DIAL SWEEP sharing one trained index, each row
    schema-compatible with sim_ann_recall_curve so the whole sweep UNIONs
    straight into the dial table. The r9 single row (nprobe=2,
    shortlist=32) measured recall@5 degrading with corpus size (.54 at
    sf0.01 -> .37 at sf0.1) against a flat ~.59 exact-scoring IVF ceiling
    — which says the loss lives in the ADC+shortlist stage, not the cell
    probe: at 10x the vectors per cell, a FIXED 32-row shortlist keeps a
    10x-smaller fraction of each probed cell, so ADC quantization noise
    evicts true neighbors before the exact re-rank can see them.

    SCALING RULE (what the sweep demonstrates — measured at sf0.1,
    SCALE.md round-10: nprobe=2 .369 -> shortlist=128 .531 -> both dials
    .681, vs .537/.587/.838 at sf0.01 where 32 rows already cover 3% of
    the corpus): hold shortlist/candidates roughly constant, i.e. scale
    SHORTLIST ~ n/cells with corpus size (the sl128 rows recover the
    recall the fixed-32 rows lose — at sf0.1 the shortlist dial alone
    crosses .5, which nprobe alone cannot: .45 at nprobe=4), and size
    the coarse quantizer cells ~ sqrt(n) (the standard IVF heuristic) so
    per-cell lists — and with them the constant-shortlist fraction —
    grow only as sqrt(n); nprobe then buys back the cell-miss term
    toward the exact-IVF ceiling. The serving cost of shortlist is
    linear and small (only the shortlist pays exact cosine), which is
    why it is the cheap dial to turn first.

    The measured rows are what justify — or veto — swapping brute-force
    re-scoring for ADC at volume, exactly like the MinHash accuracy
    table does for signature Jaccard. Since r13 the shared index is
    built at the DERIVED cells (= _ivfpq_derive_cells(n), the sqrt rule
    this docstring has always stated), so the sweep's legs measure the
    dial space of the index the registered serve path actually uses."""
    n = t(spark, sf_dir, "embeddings").count()
    e, q, cdf, cents, cb, vcode = _ivfpq_index(
        spark, sf_dir, cells=_ivfpq_derive_cells(n)
    )
    exact = (
        sim.brute_force_topk(e, q, k=5, round_eps=1e-9)
        .select("q_id", "n_id")
        .localCheckpoint(eager=False)
    )
    tot = exact.agg(F.count(F.lit(1)).cast("double").alias("_tot"))

    # r17: ONE ADC-scored candidate table at the sweep's max nprobe, each
    # candidate's cell probe rank reified — a dial leg is then a filter +
    # shortlist cut over this pinned table instead of re-joining and
    # re-aggregating the encoded corpus per leg (see _ivfpq_scored)
    scored = _ivfpq_scored(
        q, cdf, cents, cb, vcode,
        max_nprobe=max(np for _m, np, _sl in _IVFPQ_SWEEP),
    ).localCheckpoint(eager=False)

    def recall_row(method, nprobe, shortlist):
        hits = (
            _ivfpq_cut(scored, e, q, nprobe, shortlist)
            .where(F.col("rank") <= 5)
            .select("q_id", "n_id")
            .join(exact, ["q_id", "n_id"])
            .agg(F.count(F.lit(1)).cast("double").alias("_hits"))
        )
        return hits.crossJoin(F.broadcast(tot)).select(
            F.lit(method).alias("method"),
            F.lit(nprobe).cast("int").alias("dial"),
            F.col("_hits").cast("bigint").alias("hits"),
            F.col("_tot").cast("bigint").alias("n_exact"),
            eps_round(F.col("_hits") / F.col("_tot"), 4).alias("recall"),
        )

    parts = [recall_row(m, np, sl) for m, np, sl in _IVFPQ_SWEEP]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method", "dial")


@query(
    "dedup_jaccard_containment",
    _NEAR_CORPUS_CTE
    + _minhash_bands_cte()
    + _overlap_ctes()
    + """,
    scored AS (
      SELECT c.a, c.b,
             COALESCE(i.ni, 0) AS ni, za.n AS na, zb.n AS nb
      FROM cands c
      LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
      JOIN sizes za ON c.a = za.doc_id
      JOIN sizes zb ON c.b = zb.doc_id
    )
    SELECT a, b,
           ROUND(ni / (na + nb - ni) + 1e-9, 4) AS jaccard,
           ROUND(ni / LEAST(na, nb) + 1e-9, 4) AS containment,
           CASE WHEN ni / (na + nb - ni) >= 0.7 THEN 'near_dup'
                WHEN ni / LEAST(na, nb) >= 0.9 THEN 'contains'
                ELSE 'related' END AS verdict
    FROM scored ORDER BY a, b
    """,
    tags=("llm", "dedup"),
)
def dedup_jaccard_containment(spark, sf_dir, sample_frac=None,
                              max_pairs=None):
    """Symmetric vs ASYMMETRIC set similarity for every LSH candidate
    pair: exact 3-gram Jaccard next to the containment coefficient
    ni/min(na, nb), with a verdict — `near_dup` (Jaccard >= 0.7: the two
    docs are mostly the same text), `contains` (containment >= 0.9 but
    Jaccard below the bar: one doc essentially INSIDE a longer one — the
    truncated-page / quoted-article case Jaccard alone under-scores,
    because the length difference dilutes the union), else `related`.
    Curation drops near_dups and keeps the LONGER side of a `contains`.

    Scale shape: candidates come from the banded LSH join (never
    all-pairs); the exact leg is `functions/dedup.shingle_overlap_pairs`
    — one distinct (doc, shingle-hash) projection, a size rollup, and a
    pair-restricted hash equi-join, shared verbatim with
    dedup_minhash_accuracy's audit. Cost scales with candidate volume x
    doc length; at 100 TB it runs behind the capped candidate generator
    (minhash_lsh_pairs_scaled) like every other exact-rescoring pass —
    and, for audit/monitoring use, behind the same deterministic
    ``sample_frac``/``max_pairs`` dial its minhash_accuracy_audit
    sibling got in r7 (`functions/dedup.subset_candidate_pairs`; the
    subset lands on the pair list BEFORE the exact leg joins shingle
    sets). Both default to None — the full population is the registered
    driver-gate path."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    cands = dd.subset_candidate_pairs(
        dd.minhash_lsh_pairs(corpus), sample_frac, max_pairs
    )
    ov = dd.shingle_overlap_pairs(corpus, cands)
    ni, na, nb = F.col("ni"), F.col("na"), F.col("nb")
    jac = ni / (na + nb - ni)
    cont = ni / F.least(na, nb)
    return ov.select(
        "a", "b",
        eps_round(jac, 4).alias("jaccard"),
        eps_round(cont, 4).alias("containment"),
        F.when(jac >= 0.7, F.lit("near_dup"))
        .when(cont >= 0.9, F.lit("contains"))
        .otherwise(F.lit("related"))
        .alias("verdict"),
    ).orderBy("a", "b")


@query(
    "text_zipf_fit",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (
      SELECT lang, tok, COUNT(*)::DOUBLE AS n_tok FROM toks
      WHERE tok <> '' GROUP BY lang, tok
    ),
    ranked AS (
      SELECT lang, n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_tok DESC, tok) AS r
      FROM freq
    ),
    pts AS (SELECT lang, LN(r) AS x, LN(n_tok) AS y FROM ranked WHERE r <= 100),
    s AS (
      SELECT lang, COUNT(*)::DOUBLE AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts GROUP BY lang HAVING COUNT(*) >= 3
    )
    SELECT lang, CAST(n AS BIGINT) AS n_top,
           ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx) + 1e-9, 4) AS zipf_slope,
           ROUND((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n + 1e-9, 4)
             AS log_c,
           CASE WHEN (n*syy - sy*sy) > 0
                THEN ROUND(((n*sxy - sx*sy) * (n*sxy - sx*sy))
                           / ((n*sxx - sx*sx) * (n*syy - sy*sy)) + 1e-9, 4)
                END AS r2
    FROM s ORDER BY lang
    """,
    tags=("llm", "text", "stats"),
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit per language: OLS slope of log(freq) vs log(rank)
    over the top-100 vocabulary — natural text sits near slope -1, and a
    corpus slice that deviates hard (too flat: templated/boilerplate
    spam; too steep: degenerate repetition) fails the quality screen.
    Reports the slope, the log-intercept, and R^2 from the same five
    power sums as agg_regr_linear (explicit closed form, no reliance on
    either engine's regr_* edge conventions; R^2 NULL when the top-100
    frequencies are all equal).

    Scale shape: one token explode -> (lang, tok) count (partial-combining
    hash agg — the shuffle carries distinct tokens, not token instances),
    a lang-PARTITIONED rank window over the distinct vocabulary, and a
    five-sum rollup over <= 100 points per lang. Nothing global: the
    top-100 cut happens inside each lang partition."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_tok"), F.asc("tok"))
    pts = (
        freq.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 100)
        .select("lang", F.log(F.col("r")).alias("x"), F.log("n_tok").alias("y"))
    )
    s = (
        pts.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .where(F.col("n") >= 3)
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    vary = n * syy - sy * sy
    return s.select(
        "lang",
        n.cast("bigint").alias("n_top"),
        eps_round(slope, 4).alias("zipf_slope"),
        eps_round((sy - slope * sx) / n, 4).alias("log_c"),
        F.when(
            vary > 0,
            eps_round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * vary), 4),
        ).alias("r2"),
    ).orderBy("lang")


@query(
    "text_js_divergence",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    lt AS (
      SELECT lang, tok, COUNT(*)::DOUBLE AS n FROM toks
      WHERE tok <> '' GROUP BY lang, tok
    ),
    lang_tot AS (SELECT lang, SUM(n) AS tn FROM lt GROUP BY lang),
    corp AS (SELECT tok, SUM(n) AS cn FROM lt GROUP BY tok),
    corp_tot AS (SELECT SUM(cn) AS ct FROM corp),
    cells AS (
      SELECT l.lang, l.tok,
             l.n / t.tn AS p,
             c.cn / ct.ct AS q
      FROM lt l
      JOIN lang_tot t USING (lang)
      JOIN corp c USING (tok), corp_tot ct
    ),
    kl AS (
      SELECT lang,
             SUM(0.5 * p * LN(p / ((p + q) / 2))
                 + 0.5 * q * LN(q / ((p + q) / 2))) AS jsd_part,
             SUM(q) AS sum_q,
             COUNT(*) AS n_terms
      FROM cells GROUP BY lang
    )
    SELECT lang, CAST(n_terms AS BIGINT) AS n_terms,
           ROUND(jsd_part / 0.6931471805599453
                 + 0.5 * (1 - sum_q) + 1e-9, 6) AS jsd_bits
    FROM kl ORDER BY lang
    """,
    tags=("llm", "text", "stats"),
)
def text_js_divergence(spark, sf_dir):
    """Distribution-shift diagnostic: Jensen-Shannon divergence (in bits)
    between each language slice's unigram distribution P and the corpus
    distribution Q — the standard domain-mix monitor for a training-data
    pipeline (a slice drifting from the blend shows up here before
    downstream evals move). JSD = 0.5*KL(P||M) + 0.5*KL(Q||M) with
    M = (P+Q)/2, summed per present term; corpus terms ABSENT from the
    slice (p = 0) each contribute exactly 0.5*q*ln2, and since
    sum(q) = 1 over the whole vocabulary the absent tail is the CLOSED
    FORM 0.5*ln2*(1 - sum(q over present cells)) — computed from the
    present-cell aggregate itself, no vocab cross join, no anti-join
    (the first draft's lang x vocab crossJoin was exactly the
    nested-loop shape the plan lint rejects — it caught it). Bounded
    [0, 1] bits — cross-engine-safe without clamping, unlike raw KL's
    infinities; ln2 inlined as one shared literal on both engines.

    Scale shape: one token explode -> (lang, tok) counts (shuffle carries
    the distinct vocabulary per lang, partial-combined), two rollups
    derived FROM the cell table (lang totals, corpus totals — no second
    corpus scan), a vocab-sized probability join, one 1-row corpus-total
    broadcast (allowlisted scalar), and a per-lang fold. Nothing scales
    with token instances after the first aggregation."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    # lt feeds three consumers (lang totals, corpus totals, the cells
    # join); without pinning, Catalyst re-expands the subtree per consumer
    # — the physical plan scanned+exploded the corpus 4x (measured, 0
    # ReusedExchange). The lazy checkpoint makes "derived from the cell
    # table" true PHYSICALLY: one scan, one explode, one agg.
    lt = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    ).localCheckpoint(eager=False)
    lang_tot = lt.groupBy("lang").agg(F.sum("n").alias("tn"))
    corp = lt.groupBy("tok").agg(F.sum("n").alias("cn"))
    corp_tot = corp.agg(F.sum("cn").alias("ct"))
    cells = (
        lt.join(lang_tot, "lang")
        .join(corp, "tok")
        .crossJoin(F.broadcast(corp_tot))
        .select(
            "lang", "tok",
            (F.col("n") / F.col("tn")).alias("p"),
            (F.col("cn") / F.col("ct")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    kl = cells.groupBy("lang").agg(
        F.sum(
            0.5 * F.col("p") * F.log(F.col("p") / m)
            + 0.5 * F.col("q") * F.log(F.col("q") / m)
        ).alias("jsd_part"),
        F.sum("q").alias("sum_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    ln2 = F.lit(0.6931471805599453)
    return (
        kl.select(
            "lang", "n_terms",
            eps_round(
                F.col("jsd_part") / ln2 + 0.5 * (1 - F.col("sum_q")), 6
            ).alias("jsd_bits"),
        )
        .orderBy("lang")
    )


@query(
    "embed_norm_clip",
    """
    WITH v AS (
      SELECT label,
             ROUND(sqrt(list_dot_product(dv, dv)) + 1e-9, 6) AS nr
      FROM (SELECT label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
            FROM embeddings)
    ),
    p AS (SELECT label, ROUND(quantile_cont(nr, 0.99) + 1e-9, 6) AS p99
          FROM v GROUP BY label)
    SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(p.p99 + 1e-9, 4) AS p99_norm,
           CAST(SUM(CASE WHEN v.nr > p.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped,
           ROUND(AVG(v.nr) + 1e-9, 4) AS avg_norm,
           ROUND(AVG(LEAST(v.nr, p.p99)) + 1e-9, 4) AS avg_norm_clipped
    FROM v JOIN p USING (label)
    GROUP BY v.label, p.p99 ORDER BY v.label
    """,
    tags=("llm", "embedding", "preprocessing"),
)
def embed_norm_clip(spark, sf_dir):
    """Embedding-norm winsorization audit per label: the p99 norm clip
    threshold (exact interpolated percentile over 6dp-rounded norms —
    rounding BEFORE the quantile, and the interpolated threshold itself
    eps-rounded 6dp before any comparison, make the clip set
    engine-identical at boundaries), how many vectors it clips, and the mean norm before vs
    after clipping. Norm outliers dominate dot products and distort
    ANN/centroid geometry (embed_norm_outliers flags them; this prices
    the standard remedy — rescale to the p99 cap before indexing).

    Scale shape: one narrow norm projection, a per-label exact percentile
    (the audit wants the true threshold; the 100 TB pipeline swaps in
    approx_percentile's fixed-error sketch, same plan shape), and one
    equi-join of the 8-row threshold table back onto the norm cells —
    broadcast, no second corpus shuffle. The apply step (rescale vectors
    above cap) is a narrow map riding any later pass."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select(
        "label", eps_round(sim.l2_norm(F.col("embedding")), 6).alias("nr")
    )
    # the threshold is eps-rounded 6dp BEFORE any comparison: the
    # interpolated percentile's last ulp may differ between engines'
    # lerp formulas, and an unrounded `nr > p99` at a run of equal
    # rounded norms would flip the clip set cross-engine (review pin)
    p = v.groupBy("label").agg(
        eps_round(F.percentile("nr", F.lit(0.99)), 6).alias("p99")
    )
    return (
        v.join(F.broadcast(p), "label")
        .groupBy("label", "p99")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("nr") > F.col("p99"), 1).otherwise(0))
                .cast("bigint").alias("n_clipped"),
            eps_round(F.avg("nr"), 4).alias("avg_norm"),
            eps_round(F.avg(F.least(F.col("nr"), F.col("p99"))), 4)
                .alias("avg_norm_clipped"),
        )
        .select(
            "label", "n_vecs",
            eps_round(F.col("p99"), 4).alias("p99_norm"),
            "n_clipped", "avg_norm", "avg_norm_clipped",
        )
        .orderBy("label")
    )


@query(
    "text_boilerplate_share",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             COALESCE(tk[i]||' '||tk[i+1]||' '||tk[i+2],
                      array_to_string(tk, ' ')) AS s
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(tk)-2, 1)))
                    AS i) g
    ),
    df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
    bank AS (SELECT s FROM df ORDER BY df DESC, s LIMIT 200),
    per AS (
      SELECT sh.doc_id, COUNT(*) AS ns,
             SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS nb
      FROM sh LEFT JOIN bank b ON sh.s = b.s
      GROUP BY sh.doc_id
    )
    SELECT doc_id, CAST(ns AS BIGINT) AS n_shingles,
           CAST(nb AS BIGINT) AS n_boiler,
           ROUND(nb / CAST(ns AS DOUBLE) + 1e-9, 4) AS boiler_share,
           ROUND(nb / CAST(ns AS DOUBLE) + 1e-9, 4) >= 0.2 AS is_boilerplate
    FROM per ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_boilerplate_share(spark, sf_dir):
    """Boilerplate detector — per-doc share of 3-gram shingles that land
    in the corpus's TOP-200 most frequent shingles (the 'boilerplate
    bank'): navbars, legal footers, and cookie banners dominate the bank
    in a real crawl, so a high share marks a templated page whose unique
    content is thin. A fixed-size bank (top-K by docfreq, id tie-break)
    instead of a docfreq THRESHOLD on purpose: thresholds are corpus-
    density-relative (this testdata's 31-word vocab saturates absolute
    dfs at sf0.1 and starves relative ones), while top-K is well-defined
    and bounded at every corpus size — at 100 TB the bank is still 200
    strings, broadcast.

    Scale shape: one shingle explode -> distinct (doc, shingle)
    projection (the shuffle carries distinct pairs, not token
    instances), a docfreq rollup, TakeOrderedAndProject for the bank
    (per-partition top-k heap — NOT a global-order window), and a
    broadcast left-semi-style join back. The hard is_boilerplate verdict
    compares the eps-ROUNDED share on both engines (r7 rule); the share
    itself is a ratio of exact integers."""
    from dumpr_spark.operators.scale import fan_out

    d = t(spark, sf_dir, "documents")
    # r17: conditional fan-out on doc_id before the shingle explode — the
    # explode otherwise runs single-task on the compact scan, and hashing
    # on doc_id lets BOTH the (doc_id, s) distinct and the per-doc rollup
    # below reuse this exchange (subset clustering), so the plan loses the
    # two exchanges they each paid before
    sh = fan_out(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(dd.shingles(F.col("text"), 3)).alias("s")
    ).distinct().localCheckpoint(eager=False)  # feeds the docfreq/bank
    # subtree AND the join probe side — unpinned, the explode+distinct
    # shuffle runs twice in one action
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    bank = df.orderBy(F.desc("df"), F.asc("s")).limit(200).select(
        "s", F.lit(1).alias("_in_bank")
    )
    per = (
        sh.join(F.broadcast(bank), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_in_bank"), F.lit(0))).alias("n_boiler"),
        )
    )
    share = eps_round(
        F.col("n_boiler") / F.col("n_shingles").cast("double"), 4
    )
    return per.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_boiler").cast("bigint").alias("n_boiler"),
        share.alias("boiler_share"),
        (share >= 0.2).alias("is_boilerplate"),
    ).orderBy("doc_id")


@query(
    "embed_cosine_histogram",
    """
    WITH sample AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE ('0x' || substr(md5(vec_id::VARCHAR), 1, 14))::BIGINT % 1000 < 100
    ),
    pairs AS (
      SELECT ROUND(list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(b.v, b.v))) + 1e-9, 6) AS sim
      FROM sample a JOIN sample b ON a.vec_id < b.vec_id
    ),
    binned AS (
      SELECT LEAST(GREATEST(CAST(floor((sim + 1.0) * 10) AS INT), 0), 19)
               AS bin
      FROM pairs
    ),
    tot AS (SELECT COUNT(*)::DOUBLE AS n FROM binned)
    SELECT bin, ROUND(bin / 10.0 - 1.0 + 1e-9, 1) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(COUNT(*) / t.n + 1e-9, 4) AS pct
    FROM binned, tot t GROUP BY bin, t.n ORDER BY bin
    """,
    tags=("llm", "similarity", "diagnostics"),
)
def embed_cosine_histogram(spark, sf_dir):
    """Pairwise-cosine histogram over a deterministic 10% corpus sample —
    the embedding-space ISOTROPY diagnostic: a healthy embedding space
    piles pair similarity in a narrow band near 0; a distribution shifted
    far right means anisotropy / a collapsed space (the condition
    embed_debias_topdir treats), and a heavy >=0.9 tail predicts how much
    near-dup work dedup_embedding_cosine will find. 20 bins of width 0.1
    over [-1, 1); the binning floor reads the eps-ROUNDED cosine so no
    pair can straddle a bin edge differently across engines.

    Scale shape: the all-pairs product runs ONLY inside the hash-stable
    sample (md5-bucket of vec_id — the repo's sampling idiom, same rows
    on any engine or run); a fixed sampling fraction bounds the quadratic
    term at fixture scale, and at 100 TB the knob drops to a fixed-SIZE
    sample (metadata argument) so the pair count is constant while the
    estimate's precision is set by sample size, not corpus size. The
    histogram itself is a 20-cell groupBy — nothing global."""
    from dumpr_spark.functions.sampling import hash_bucket

    e = t(spark, sf_dir, "embeddings")
    sample = (
        e.where(hash_bucket(F.col("vec_id"), 1000) < 100)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a = sample.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
    b = sample.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"))
    simv = eps_round(sim.cosine(F.col("a_vec"), F.col("b_vec")), 6)
    pairs = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(simv.alias("sim"))
    )
    binned = pairs.select(
        F.least(
            F.greatest(F.floor((F.col("sim") + 1.0) * 10).cast("int"), F.lit(0)),
            F.lit(19),
        ).alias("bin")
    )
    tot = binned.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            eps_round(F.col("bin") / 10.0 - 1.0, 1).alias("bin_lo"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            eps_round(F.col("n_pairs") / F.col("n"), 4).alias("pct"),
        )
        .orderBy("bin")
    )
