"""Similarity search over embedding columns (array<float>).

Two tiers:
- ``cosine_topk`` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, cosine via JVM-side ``zip_with`` +
  ``aggregate`` folds (no Python, no UDF), window top-k. Exact
  baseline; at scale the corpus side stays partitioned and only the
  query set broadcasts.
- ``lsh_ann_topk`` — multi-table random-hyperplane LSH: per hash
  table, each vector gets a small bucket id from the sign pattern of
  dot products with fixed hyperplanes; candidates meet by bucket
  equality in ANY table (a union of shuffle joins on the bucket key,
  never a cross join); exact cosine re-ranks the candidate union.
  Multiple independent tables are the standard recall lever — with T
  tables of P planes, a neighbor whose per-bit agreement is p is
  found with probability 1-(1-p^P)^T. This is the 100 TB path: bucket
  cardinality scales with the plane count, and planes are plain
  literals so the whole plan is codegen-able.

The hyperplanes are generated from a fixed seed and embedded as
literals so the identical computation runs in the DuckDB oracle.

Constant matrices (hyperplanes, centroids, codebooks, the JL rows)
and the hot kNN-graph expressions are Spark SQL text, prepared once at
import where they are constant: every Column-API call is at least one
py4j round trip, so the 16×64 planes literal spelled out with 1,024
``F.lit`` calls made building a kNN-graph plan ~6,500 round trips; as
text it is ~200.

Internal persists (bucketed vectors, scored kNN edges) are SQL cache
entries, and the ContextCleaner does NOT reclaim those: an entry stays
until ``unpersist`` (or ``spark.catalog.clearCache()``), whether or
not the returned DataFrame is still referenced. A repeated identical
call reuses the entry through plan matching instead of adding one;
long-lived sessions issuing many different calls should
``spark.catalog.clearCache()`` between unrelated pipelines (bench.py
does).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lynx_spark.operators._util import (
    banded_self_pairs,
    double_array_sql,
    ensure_parallelism,
    explode_bands,
)

EMBED_DIM = 64
NUM_TABLES = 4  # independent LSH hash tables (recall lever)
PLANES_PER_TABLE = 4  # 2^4 = 16 buckets per table

_rng = random.Random(20240601)
# HYPERPLANES[t] = the PLANES_PER_TABLE planes of hash table t
HYPERPLANES: list[list[list[float]]] = [
    [
        [_rng.uniform(-1.0, 1.0) for _ in range(EMBED_DIM)]
        for _ in range(PLANES_PER_TABLE)
    ]
    for _ in range(NUM_TABLES)
]


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product: zip_with multiply + left-fold sum (double).
    Same sequential accumulation order as the SQL oracle's positional
    unnest, so results match bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot_sql(a: str, b: str) -> str:
    """``dot`` as SQL text: the same product and left fold, from a
    DOUBLE zero (``0D``; a bare ``0.0`` would be a DECIMAL)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x)"
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _plane_literal(plane: list[float]) -> Column:
    return F.array(*[F.lit(v) for v in plane])


def bucket_expr(vec: Column, table: int = 0) -> Column:
    """LSH bucket id for one hash table: bit i set iff
    dot(vec, plane_i) > 0."""
    bits = [
        F.when(dot(vec, _plane_literal(p)) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, p in enumerate(HYPERPLANES[table])
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


#: every hyperplane of every table as ONE array<array<double>> SQL
#: literal, ordered [t*PLANES_PER_TABLE + i] — the single-transform
#: bucket path
_PLANES_SQL = double_array_sql([p for table in HYPERPLANES for p in table])
#: table t's bucket id from the ``_dots`` slots: bit i set iff the
#: dot product with plane i is > 0
_BUCKETS_SQL = [
    "CAST("
    + " + ".join(
        f"CASE WHEN _dots[{t * PLANES_PER_TABLE + i}] > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(PLANES_PER_TABLE)
    )
    + f" AS BIGINT) AS bucket{t}"
    for t in range(NUM_TABLES)
]
_BUCKET_COLS = [f"bucket{t}" for t in range(NUM_TABLES)]


def with_buckets(df: DataFrame, vec_col: str = "v") -> DataFrame:
    """Add ``bucket0..bucket{NUM_TABLES-1}`` in one pass: all
    NUM_TABLES×PLANES_PER_TABLE dot products come from a single
    ``transform`` over one planes literal (small generated code that
    the JIT actually compiles — 16 independently-unrolled fold
    expressions were ~2× slower for identical results, the same
    lesson as the IVF centroid literal), materialized once in a
    ``_dots`` column so the per-table bit packing reads array slots
    instead of recomputing folds. Fold order per plane is unchanged,
    so bucket ids stay bit-identical to ``bucket_expr`` (asserted in
    tests) and to the SQL oracle."""
    dots = f"transform({_PLANES_SQL}, p -> {_dot_sql(f'`{vec_col}`', 'p')})"
    return (
        df.selectExpr("*", f"{dots} AS _dots")
        .selectExpr("*", *_BUCKETS_SQL)
        .drop("_dots")
    )


def cosine_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Embedding-based near-duplicate pairs: (a, b) with cosine
    similarity >= threshold. Candidates meet by LSH bucket equality in
    any hash table (same multi-table machinery as ANN — near-identical
    vectors agree on every sign bit, so recall at dedup thresholds is
    ~1), then the exact cosine filters. No cross join at any scale;
    ``max_bucket`` guards the remaining quadratic hole (a corpus of
    near-identical embeddings collapses every table into one bucket)
    with banded_self_pairs' star pattern, which keeps the duplicate
    cluster connected — exactly what dedup needs."""
    vecs = with_buckets(
        ensure_parallelism(df).select(
            F.col(id_col).cast("long").alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).withColumn("nrm", norm(F.col("v")))
    vecs = vecs.persist()  # no eager count (r15): see lsh_ann_topk
    cands = banded_self_pairs(
        vecs, "nid", _BUCKET_COLS, max_bucket
    )
    va = vecs.select(
        F.col("nid").alias("a_id"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = vecs.select(
        F.col("nid").alias("b_id"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cands.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 5
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector with
    id < max_query_id. Ranking uses the rounded similarity with id
    tie-break so it is deterministic across engines."""
    from pyspark.sql.window import Window

    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", norm(F.col("v")))
    queries = vecs.filter(F.col("nid") < max_query_id).select(
        F.col("nid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # norms fold ONCE per vector (corpus side) and once per query
    # (rides the broadcast); a pair costs one dot fold, not three —
    # bit-identical to cosine(): the norm is the same double either way
    scored = (
        vecs.join(F.broadcast(queries), F.col("qid") != F.col("nid"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 5
            ),
        )
        .select("qid", "nid", "cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cos_sim", "rnk")
    )


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int,
    k: int = 3,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing the query's LSH
    bucket in at least one hash table; exact cosine re-ranks the
    candidate union.

    ``multiprobe`` (the DEFAULT since r10) additionally probes every
    bucket at Hamming distance 1 from the query's (flip each sign bit
    once) — the standard recall lever WITHOUT growing the index (Lv
    et al., VLDB 2007): a near neighbor that disagrees on exactly one
    hyperplane still meets the query. Query-side only: the corpus
    layout, the index and the per-table bucket ids are unchanged;
    candidate volume grows ≤ (1 + PLANES_PER_TABLE)× on the probe
    side, and only for the (small) query set. Measured by the
    q105/q106 recall audits: 0.47-0.67 single-probe → 0.95 mean
    recall@3 — too large a quality gap for single-probe to be the
    default; pass ``multiprobe=False`` for the cheapest probe when
    recall is secondary."""
    from pyspark.sql.window import Window

    vecs = with_buckets(
        ensure_parallelism(df).select(
            F.col(id_col).cast("long").alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).withColumn("nrm", norm(F.col("v")))
    # the bucketed table feeds NUM_TABLES join branches + the re-rank
    # join; persist so the hyperplane transform + norm run once per
    # vector. No eager count (r15): every branch evaluates inside the
    # one output action and block locks fill the cache exactly once
    # (A/B at sf0.1: min 2.27 -> 2.15, median 2.44 -> 2.27)
    vecs = vecs.persist()
    queries = vecs.filter(F.col("nid") < max_query_id).select(
        F.col("nid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        *[F.col(f"bucket{t}").alias(f"qbucket{t}") for t in range(NUM_TABLES)],
    )
    # one join on the exploded (table, bucket) key instead of
    # NUM_TABLES separate joins + union: candidates meet when they
    # share a bucket in ANY table, and the composite key keeps tables
    # independent
    corpus_b = explode_bands(vecs, "nid", _BUCKET_COLS)
    queries_b = explode_bands(
        queries, "qid", [f"qbucket{t}" for t in range(NUM_TABLES)]
    )
    if multiprobe:
        # each (band, bucket) probe row fans out to itself + the
        # PLANES_PER_TABLE Hamming-1 buckets (bit flips of bh)
        probes = F.array(
            F.col("bh"),
            *[
                F.col("bh").bitwiseXOR(F.lit(1 << i))
                for i in range(PLANES_PER_TABLE)
            ],
        )
        queries_b = queries_b.select(
            "qid", "band_no", F.explode(probes).alias("bh")
        )
    cands = (
        corpus_b.join(F.broadcast(queries_b), ["band_no", "bh"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    scored = (
        cands.join(vecs.select("nid", "v", "nrm"), "nid")
        .join(F.broadcast(queries.select("qid", "qv", "qn")), "qid")
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 5
            ),
        )
        .select("qid", "nid", "cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cos_sim", "rnk")
    )


# ------------------------------------------------------------------ IVF

IVF_K = 8  # coarse-quantizer centroids
IVF_ITERS = 2  # fixed Lloyd iterations (determinism > convergence)
IVF_NPROBE = 2  # centroids probed per query

def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-fold (position order),
    the same accumulation order as the oracle's list_sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _centroids_lit(centroids: list[list[float]]) -> Column:
    """The k×dim model as ONE array<array<double>> literal. Distances
    are then computed by a runtime ``transform`` loop over it — the
    generated code stays small and compiles fast, instead of k
    unrolled fold expressions per row."""
    return F.expr(double_array_sql(centroids))


def _ivf_dist_pairs(v: Column, centroids: list[list[float]]) -> Column:
    """array of (rounded distance, cid) structs — array_sort on them is
    a deterministic total order (8dp distance, then id) both engines
    share, so argmin/probe choices match the SQL oracle even at
    FP-noise boundaries."""
    return F.transform(
        _centroids_lit(centroids),
        lambda cv, i: F.struct(
            F.round(_l2sq(v, cv), 8).alias("d"),
            i.cast("long").alias("cid"),
        ),
    )


def _ivf_assign(v: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id (rounded-distance argmin, id tie-break)."""
    return F.array_sort(_ivf_dist_pairs(v, centroids))[0].getField("cid")


def _ivf_probe_cids(
    v: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """Array of the nprobe nearest centroid ids."""
    return F.slice(
        F.array_sort(_ivf_dist_pairs(v, centroids)), 1, nprobe
    ).getField("cid")


def train_ivf_centroids(
    vecs: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_ITERS,
) -> list[list[float]]:
    """Deterministic k-means coarse quantizer: seeds = the k vectors
    with the lowest ids; a fixed number of Lloyd iterations; centroid
    means via SORTED sums rounded to 6dp — summation order is the one
    thing two engines can disagree on, and sorting removes it, so the
    DuckDB oracle trains the bit-identical model. The k×dim model is
    the only thing collected to the driver (it IS the model — the same
    shape MLlib would give); every per-vector step stays distributed."""
    centroids = [
        list(r["v"]) for r in vecs.orderBy("nid").limit(k).collect()
    ]
    for _ in range(iters):
        assigned = vecs.withColumn("cid", _ivf_assign(F.col("v"), centroids))
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.expr(
                    "round(aggregate(array_sort(collect_list(val)), "
                    "cast(0 as double), (a, x) -> a + x) / count(*), 6)"
                ).alias("m")
            )
        )
        new = {c: list(old) for c, old in enumerate(centroids)}
        for r in means.collect():  # k*dim scalars: model-sized, tiny
            new[r["cid"]][r["pos"]] = r["m"]
        centroids = [new[c] for c in range(k)]
    return centroids


def save_ivf_index(spark, path: str, centroids: list[list[float]]) -> None:
    """Persist a trained IVF coarse quantizer as parquet (cid,
    centroid) rows — train once on a corpus sample, reuse across every
    later query batch and session (the FAISS write_index analogue, and
    the similarity-tier twin of the dedup fingerprint/signature
    stores). The model is k×dim scalars; the parquet is bytes."""
    rows = [(cid, list(map(float, c))) for cid, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cid INT, centroid ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> list[list[float]]:
    """Load a persisted IVF quantizer back into the literal-embeddable
    centroid list (sorted by cid — the order is part of the model:
    cell ids must mean the same cell across sessions)."""
    rows = spark.read.parquet(path).orderBy("cid").collect()
    assert [r["cid"] for r in rows] == list(range(len(rows))), (
        "IVF index corrupt: non-contiguous cell ids"
    )
    return [list(r["centroid"]) for r in rows]


def ivf_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int,
    k: int = 3,
    n_centroids: int = IVF_K,
    iters: int = IVF_ITERS,
    nprobe: int = IVF_NPROBE,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k — the trained-quantizer alternative to the
    hyperplane LSH path: vectors partition into centroid cells, a query
    scans only its nprobe nearest cells, exact cosine re-ranks. At
    corpus scale the cell assignment is one codegen'd projection and
    candidates meet by cell-id equality — never a cross join; recall
    is tuned by n_centroids/nprobe exactly like FAISS's IVF.

    Pass ``centroids`` (e.g. from ``load_ivf_index``) to skip
    training and query against a persisted quantizer — assignment and
    probing are pure functions of the centroid list, so a loaded
    model reproduces the trained-inline results exactly."""
    from pyspark.sql.window import Window

    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if centroids is None:
        centroids = train_ivf_centroids(vecs, n_centroids, iters)
    # cell assignment feeds the candidate join and the re-rank
    vecs = (
        vecs.withColumn("cid", _ivf_assign(F.col("v"), centroids))
        .withColumn("nrm", norm(F.col("v")))
        .persist()
    )
    vecs.count()
    queries = vecs.filter(F.col("nid") < max_query_id).select(
        F.col("nid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(
            _ivf_probe_cids(F.col("v"), centroids, nprobe)
        ).alias("cid"),
    )
    # norms fold once per vector (see lsh_ann_topk) — a candidate
    # costs one dot fold, bit-identical to cosine()
    scored = (
        vecs.select("cid", "nid", "v", "nrm")
        .join(F.broadcast(queries), "cid")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 5
            ),
        )
        .select("qid", "nid", "cos_sim")
        .distinct()  # a pair may meet in several probed cells
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "cos_sim", "rnk")
    )


# ----------------------------------------------------- embedding stats


def normalize_vectors(
    df: DataFrame, vec_col: str = "v", out_col: str = "v_unit"
) -> DataFrame:
    """L2-normalize an embedding column (the preprocessing step every
    cosine-metric pipeline runs once at ingest so downstream similarity
    reduces to a dot product). Pure per-row array expressions — zero
    shuffle, codegen'd. Zero vectors normalize to NULL rather than NaN
    so downstream dot products skip them via null semantics."""
    n = norm(F.col(vec_col).cast("array<double>"))
    unit = F.when(
        n > 0,
        F.transform(F.col(vec_col).cast("array<double>"), lambda x: x / n),
    )
    return df.withColumn(out_col, unit)


def embedding_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-vector sanity statistics — dimension, L2 norm, component
    mean, and the first normalized component — the ingest-time audit
    that catches the classic embedding-pipeline failures (zero vectors
    from an encoder crash, unnormalized mixes of model versions,
    truncated dimensions) before they poison similarity search.
    Per-row array folds in index order (the same sequential
    accumulation the SQL oracle's list functions use) — zero shuffle,
    embarrassingly parallel at any corpus size."""
    e = F.col(vec_col).cast("array<double>")
    sq = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
    l2 = F.sqrt(sq)
    total = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x)
    unit = normalize_vectors(df, vec_col, "_unit")
    # + 0.0 folds IEEE negative zero to positive zero (round() of a
    # tiny negative mean renders "-0.0" vs "0.0" across engines)
    return unit.select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(label_col).cast("long").alias(label_col),
        F.size(e).cast("long").alias("dim"),
        F.round(l2, 4).alias("l2_norm"),
        (F.round(total / F.size(e), 4) + 0.0).alias("mean_val"),
        (F.round(F.element_at("_unit", 1), 4) + 0.0).alias("unit0"),
    )


# ------------------------------------------------------------ SemDeDup


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.25,
    n_centroids: int = IVF_K,
    iters: int = IVF_ITERS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pairs via cluster-then-compare — k-means the
    embeddings (the SAME deterministic trainer the IVF index uses),
    then compare cosine similarity only WITHIN each cluster and keep
    pairs at or above ``threshold``. The published recipe for
    web-scale semantic dedup: clustering makes the pairwise step
    tractable because high-similarity pairs land in the same Voronoi
    cell.

    Scale shape: training collects only the k×dim model; assignment
    is one codegen'd projection; the pairwise step is a self-join on
    the cell id — quadratic IN THE CELL, linear in the corpus when
    ``n_centroids`` grows with it (SemDeDup's published configs use
    tens of thousands of clusters precisely so cells stay
    bounded-size; here k=8 matches the IVF demo scale). Compare
    cosine_dedup_pairs (q37): same verify step, LSH-bucket candidates
    instead of trained-cluster candidates."""
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    centroids = train_ivf_centroids(vecs, n_centroids, iters)
    assigned = vecs.withColumn(
        "cid", _ivf_assign(F.col("v"), centroids)
    ).withColumn("nrm", norm(F.col("v"))).persist()
    # no eager count (r15): both self-join sides evaluate inside the
    # one output action; block locks fill the cache once
    a = assigned.select(
        F.col("cid"), F.col("nid").alias("a_id"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cid"), F.col("nid").alias("b_id"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 5
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("a_id", "b_id", "cos_sim")
    )


# ----------------------------------------------------- centroid audit


def label_centroid_audit(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """Per-class embedding-quality audit: for every label, the class
    centroid's L2 norm plus the average and minimum cosine of the
    class's vectors to their centroid — the standard check for class
    collapse (avg ≈ 1: embeddings degenerate onto one direction) and
    mislabeled outliers (min ≪ avg) before training on labeled
    embeddings.

    Determinism WITHOUT per-group folds: float summation order is the
    one thing two engines disagree on, and the usual fix (sort the
    terms, fold sequentially) builds an O(group)-sized array — fine
    per document, wrong per LABEL, whose groups grow with the corpus.
    Instead every summed term is rounded first and accumulated as a
    DECIMAL: decimal addition is exact, hence order-independent, so
    any partial-aggregation schedule in either engine produces the
    identical total. Shapes: one explode to (label, pos) granularity
    for the centroid means (bounded by labels × dim — model-sized),
    centroids broadcast back, one final label-granular aggregate."""
    vecs = ensure_parallelism(df).select(
        F.col(label_col).alias("label"),
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).persist()
    # no eager count (r15): the centroid build is the first consumer
    # and fills the cache; the scoring join reads it
    elems = vecs.select(
        "label", "nid", F.posexplode("v").alias("pos", "val")
    )
    cent_elems = elems.groupBy("label", "pos").agg(
        (
            F.sum(F.round(F.col("val"), 6).cast("decimal(28,6)"))
            .cast("double")
            / F.count("*")
        ).alias("_m")
    )
    centroids = cent_elems.groupBy("label").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("_m")))
            ),
            lambda s: F.round(s.getField("_m"), 6),
        ).alias("c")
    )
    scored = vecs.join(F.broadcast(centroids), "label").withColumn(
        "_cos", F.round(cosine(F.col("v"), F.col("c")), 5)
    )
    dec = F.sum(F.col("_cos").cast("decimal(28,5)"))
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(norm(F.first("c")), 4).alias("centroid_norm"),
            F.round(dec.cast("double") / F.count("*"), 4).alias(
                "avg_cos_to_centroid"
            ),
            F.round(F.min("_cos"), 5).alias("min_cos_to_centroid"),
        )
    )

# ------------------------------------------------------- kNN graph


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    max_bucket: int | None = 200,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: every vector's top-k
    most-cosine-similar neighbors among vectors sharing an LSH bucket
    with it in at least one hash table. The corpus-wide variant of
    ``lsh_ann_topk`` (there: a small query set probes the index; here:
    every vector is a query) — the building block for kNN-graph
    curation steps (graph-based density pruning, SemDeDup-style
    neighborhood audits, label propagation over embeddings).

    Scale shape: candidates come from ``banded_self_pairs`` — ONE
    shuffle groups the exploded (table, bucket) rows, pairs are
    emitted by codegen array expressions with the star-pattern cap
    guarding oversized buckets (``max_bucket`` — above it, members
    pair only with the bucket representative, trading neighbor recall
    for linear cost exactly where a degenerate embedding distribution
    would otherwise go quadratic), so candidate count is linear in
    the corpus for bounded buckets and NEVER all-pairs. The undirected
    pairs are then symmetrized (each edge scored once, read twice)
    and a per-source window keeps the top k. No cross join, no
    driver-side data, one window shuffle keyed by the source vector.
    Recall lever = NUM_TABLES × PLANES_PER_TABLE, exactly as in
    ``lsh_ann_topk``."""
    # persist WITHOUT an eager count (r15): every consumer (pair-gen
    # exchange + the two scoring-join broadcast builds) executes inside
    # the first downstream action, and block-level locks fill the cache
    # exactly once there — the separate count was one full extra pass
    # (A/B at sf0.1: medians 4.10 -> 3.85). The expressions are SQL
    # text (see the module docstring).
    vecs = with_buckets(
        ensure_parallelism(df).selectExpr(
            f"CAST(`{id_col}` AS BIGINT) AS nid",
            f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS v",
        )
    ).selectExpr(
        "*", "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) AS nrm"
    ).persist()
    pairs = banded_self_pairs(vecs, "nid", _BUCKET_COLS, max_bucket)
    # each vector's norm is computed ONCE above, so scoring a pair is
    # one dot-product fold instead of three (cosine() would refold
    # both norms per candidate) — bit-identical: the norm is the same
    # double either way, ~3x less work on the quadratic-ish stage
    scored = (
        pairs.join(
            vecs.selectExpr("nid AS a_id", "v AS va", "nrm AS na"), "a_id"
        )
        .join(vecs.selectExpr("nid AS b_id", "v AS vb", "nrm AS nb"), "b_id")
        .selectExpr(
            "a_id",
            "b_id",
            f"round({_dot_sql('va', 'vb')} / (na * nb), 5) AS cos_sim",
        )
    ).persist()
    # each undirected candidate edge scored ONCE, used for both ends:
    # the persist makes the union below read the cached scored rows
    # instead of re-executing the scoring joins + dot folds under each
    # branch (exchange reuse deduped the pair-gen shuffle but not the
    # post-exchange map work). r15 A/B at sf0.1, bench methodology:
    # min 4.17 -> 3.11, median 4.41 -> 3.38. The r14 explode rewrite
    # measured in between (3.71) — the union + cache keeps the
    # per-branch WindowGroupLimit pushdown AND single scoring. No
    # eager count: the window action's two union branches fill the
    # cache under block locks, one compute + one read. Lifetime (like
    # `vecs` above): the SQL cache entry stays until unpersist — the
    # ContextCleaner does not reclaim it — and an identical later
    # call reuses it through plan matching.
    edges = scored.selectExpr(
        "a_id AS src", "b_id AS nbr", "cos_sim"
    ).unionAll(scored.selectExpr("b_id AS src", "a_id AS nbr", "cos_sim"))
    return edges.selectExpr(
        "src",
        "nbr",
        "cos_sim",
        "CAST(row_number() OVER (PARTITION BY src "
        "ORDER BY cos_sim DESC, nbr ASC) AS BIGINT) AS rnk",
    ).where(f"rnk <= {int(k)}")


# --------------------------------------------- scalar quantization


def quantization_audit(
    df: DataFrame, id_col: str, vec_col: str, bits: int = 8
) -> DataFrame:
    """Scalar (per-dimension affine) quantization audit: quantize each
    embedding to ``bits``-bit integer codes against corpus-wide
    per-dimension [min, max] ranges, dequantize, and report the
    per-vector reconstruction error — the go/no-go check before
    storing a 100 TB embedding corpus at 4× compression (the FAISS
    ``SQ8`` recipe: code = round((x - min_d) / (max_d - min_d) *
    (2^bits - 1))).

    Scale shape: the per-dimension ranges aggregate the posexploded
    corpus to DIM rows (a model-sized frame, like the IVF centroids)
    and come back as one literal via a driver collect of 2×DIM
    scalars; quantize/dequantize/error are then pure per-row array
    expressions — zero further shuffle. Quantization uses
    floor(x + 0.5) (not round()) so banker's-rounding differences
    between engines cannot flip a code; constant dimensions
    (max == min) quantize to code 0 and reconstruct to the constant.

    Output: one row per vector — exact integer code checksum plus
    rounded mean-squared and max-absolute reconstruction error."""
    levels = (1 << bits) - 1
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    dims = (
        vecs.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .orderBy("pos")
        .collect()
    )  # 2×DIM scalars — the same model-sized collect as IVF training
    mn_lit = F.expr(double_array_sql([r["mn"] for r in dims]))
    mx_lit = F.expr(double_array_sql([r["mx"] for r in dims]))
    with_rng = vecs.withColumn(
        "_z",
        F.zip_with(
            F.zip_with("v", mn_lit, lambda x, lo: F.struct(x.alias("x"), lo.alias("lo"))),
            mx_lit,
            lambda s, hi: F.struct(
                s.getField("x").alias("x"),
                s.getField("lo").alias("lo"),
                hi.alias("hi"),
            ),
        ),
    )
    code = lambda s: F.when(  # noqa: E731
        s.getField("hi") > s.getField("lo"),
        F.floor(
            (s.getField("x") - s.getField("lo"))
            / (s.getField("hi") - s.getField("lo"))
            * levels
            + F.lit(0.5)
        ),
    ).otherwise(F.lit(0))
    deq = lambda s: F.when(  # noqa: E731
        s.getField("hi") > s.getField("lo"),
        code(s).cast("double")
        / levels
        * (s.getField("hi") - s.getField("lo"))
        + s.getField("lo"),
    ).otherwise(s.getField("lo"))
    err = lambda s: deq(s) - s.getField("x")  # noqa: E731
    quant = with_rng.select(
        "vec_id",
        F.aggregate(
            F.col("_z"), F.lit(0).cast("long"), lambda acc, s: acc + code(s).cast("long")
        ).alias("code_sum"),
        F.round(
            F.aggregate(
                F.col("_z"), F.lit(0.0), lambda acc, s: acc + err(s) * err(s)
            )
            / F.size("_z"),
            10,
        ).alias("mse"),
        F.round(
            F.aggregate(
                F.col("_z"), F.lit(0.0),
                lambda acc, s: F.greatest(acc, F.abs(err(s))),
            ),
            8,
        ).alias("max_abs_err"),
    )
    return quant


def dimension_stats(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-dimension embedding distribution audit: mean, standard
    deviation, min/max and a zero-variance flag for every dimension —
    the whitening/anisotropy pre-check (a dead dimension means a
    truncated encoder; wildly uneven variances mean the corpus needs
    whitening before cosine retrieval; a non-zero mean vector is the
    classic anisotropy symptom that inflates all cosines).

    Shape: ONE aggregation of the posexploded corpus to DIM rows —
    model-sized output, map-side partials absorb the explosion.
    Means/variances accumulate rounded DECIMAL terms (exact,
    order-independent addition — the q78 trick), so any
    partial-aggregation schedule in either engine matches bit-for-bit;
    variance uses the two-pass-free E[x²]−E[x]² form on those exact
    sums."""
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    elems = vecs.select(F.posexplode("v").alias("pos", "x"))
    sx = F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).cast("double")
    sxx = F.sum(
        F.round(F.col("x") * F.col("x"), 10).cast("decimal(28,10)")
    ).cast("double")
    n = F.count("*")
    mean = sx / n
    var = sxx / n - mean * mean
    return (
        elems.groupBy(F.col("pos").cast("long").alias("dim"))
        .agg(
            n.cast("long").alias("n"),
            F.round(mean, 6).alias("mean"),
            # tiny negative var from rounding folds to 0 before sqrt
            F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std"),
            F.round(F.min("x"), 6).alias("min_val"),
            F.round(F.max("x"), 6).alias("max_val"),
            (F.max("x") == F.min("x")).alias("is_constant"),
        )
    )


# ------------------------------------------- persisted kNN edge store


def write_knn_graph_store(edges: DataFrame, path: str) -> None:
    """Materialize a kNN edge list (``knn_graph`` output: src, nbr,
    cos_sim, rnk) as a parquet edge store — the graph tier's analogue
    of the ANN/index/fingerprint stores. The whole graph family
    (PageRank, triangles, weighted PR, label propagation, HITS)
    consumes the SAME edges, and at 100 TB the banded self-join that
    builds them is the expensive stage (an ANN sweep of the corpus)
    while every downstream centrality/labeling pass is join-light on
    k·N rows. Build once at ingest cadence, read many at query
    cadence; identical results by construction (the edge list is the
    algorithms' only data input)."""
    edges.write.mode("overwrite").parquet(path)


def read_knn_graph_store(spark, path: str) -> DataFrame:
    """The stored edge list, ready for graph.pagerank / hits_scores /
    label_propagation / triangle_stats."""
    return spark.read.parquet(path)


# ------------------------------------------------ on-disk ANN store


def write_ann_store(df: DataFrame, id_col: str, vec_col: str, path: str) -> None:
    """Materialize the corpus as an on-disk ANN store: vectors +
    precomputed norms written as parquet PARTITIONED BY the first
    hash table's LSH bucket (hive ``bucket0=`` directories). At
    100 TB this is the serving layout: a query computes its own
    bucket ids driver-side (pure arithmetic on the query vector) and
    the scan prunes to the matching directories — candidate
    generation becomes PartitionFilters, no shuffle, no index
    server. The remaining tables' buckets ride along as columns for
    cheap post-scan refinement."""
    vecs = with_buckets(
        df.select(
            F.col(id_col).cast("long").alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).withColumn("nrm", norm(F.col("v")))
    vecs.write.mode("overwrite").partitionBy("bucket0").parquet(path)


def query_ann_store(
    spark, path: str, query_vec: list[float], k: int = 5,
    multiprobe: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors for one query vector against the
    partitioned store: the query's bucket0 is computed DRIVER-SIDE
    (the same sign-pattern arithmetic as with_buckets, on k×dim
    scalars), the scan filters ``bucket0 = <id>`` — Catalyst turns
    that into PartitionFilters, reading one directory of the store —
    and exact cosine re-ranks the pruned candidates. The plan is
    asserted shuffle-free up to the final top-k."""
    qb = 0
    for i, plane in enumerate(HYPERPLANES[0]):
        d = sum(a * b for a, b in zip(query_vec, plane))
        if d > 0:
            qb |= 1 << i
    qn = sum(x * x for x in query_vec) ** 0.5
    qv = F.expr(double_array_sql(query_vec))
    probes = [qb] + (
        [qb ^ (1 << i) for i in range(PLANES_PER_TABLE)] if multiprobe else []
    )
    # one directory per probe — multiprobe reads 1+PLANES_PER_TABLE
    # partitions instead of 1, still PartitionFilters-pruned
    store = spark.read.parquet(path).filter(F.col("bucket0").isin(probes))
    return (
        store.withColumn(
            "cos_sim",
            F.round(dot(qv, F.col("v")) / (F.lit(float(qn)) * F.col("nrm")), 5),
        )
        .select("nid", "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc("nid"))
        .limit(k)
    )


def ann_recall_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int = 20,
    k: int = 3,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN recall@k audit: for each query, how many of the EXACT top-k
    cosine neighbors the LSH index actually returned — the
    retrieval-side twin of the dedup recall audit (q81): q81 audits
    the near-dup candidate generator, this audits the ANN index, the
    number a retrieval deployment watches when tuning
    NUM_TABLES/PLANES_PER_TABLE. Truth = brute force over the query
    set (affordable on a query SAMPLE at corpus scale, exactly like
    q81's pair sample).

    Output: one row — n_queries, mean recall@k, worst per-query
    recall. Per-query recalls aggregate exactly (hit counts are
    integers; the two ratios divide exact sums)."""
    truth = cosine_topk(df, id_col, vec_col, max_query_id, k).select(
        "qid", "nid"
    ).persist()
    truth.count()  # eager: the hit join + per-query totals share the
    # cache — without it the brute-force truth subplan (the expensive
    # BroadcastNestedLoop scan) executes once per consumer
    found = lsh_ann_topk(
        df, id_col, vec_col, max_query_id, k, multiprobe=multiprobe
    ).select("qid", "nid")
    hits = truth.join(found, ["qid", "nid"]).groupBy("qid").agg(
        F.count("*").alias("_h")
    )
    per_q = (
        truth.groupBy("qid")
        .agg(F.count("*").alias("_t"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("_h", F.lit(0)).alias("_h"),
            "_t",
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.sum("_h") / F.sum("_t"), 4).alias("mean_recall"),
        F.round(F.min(F.col("_h") / F.col("_t")), 4).alias("worst_recall"),
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    max_query_id: int,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the k OTHER-label vectors closest in cosine space — the
    negatives that actually teach a contrastive/retrieval model
    something (random negatives are trivially separable; the hard
    ones sit just across the decision boundary). The cosine_topk
    plan with the label inequality pushed into the join condition:
    only the model-sized anchor sample broadcasts, the corpus streams
    once, ranking is per-anchor windows.

    At 100 TB the anchor set is the lever (mine per training shard);
    the corpus side is never collected or sorted globally."""
    from pyspark.sql.window import Window

    vecs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).cast("long").alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col(label_col).cast("long").alias("n_label"),
        )
        .withColumn("nrm", norm(F.col("v")))
    )
    anchors = vecs.filter(F.col("nid") < max_query_id).select(
        F.col("nid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("n_label").alias("q_label"),
    )
    scored = (
        vecs.join(
            F.broadcast(anchors), F.col("q_label") != F.col("n_label")
        )
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")),
                5,
            ),
        )
        .select("qid", "q_label", "nid", "n_label", "cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "q_label", "nid", "n_label", "cos_sim", "rnk")
    )


def pca_whiten(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """Distributed PCA whitening of an embedding column — the
    standard preprocessing before ANN indexing or SemDeDup-style
    clustering (decorrelates dimensions, equalizes variance, often
    recovers recall an anisotropic space loses).

    100 TB shape — the tree-aggregate of outer products every
    distributed PCA uses (Spark MLlib's RowMatrix does the same):

    1. ONE mapInPandas pass emits per-batch moment partials
       (n, Σx, flattened ΣxxT) — d + d² + 1 floats per batch, data
       never leaves the executors;
    2. the driver sums those model-sized partials (batches × d²
       floats — the only collect) and eigendecomposes the d×d
       covariance with numpy (model-sized, same as the IVF k-means
       precedent);
    3. projection back on the executors: a pandas_udf matmul against
       the broadcast (d × k) whitening matrix.

    Eigenvector SIGN is pinned (largest-|component| coordinate made
    positive) so results are deterministic across runs. Genuinely
    non-relational (eigendecomposition), so this operator is
    tests-only — verified against numpy's PCA on the same data —
    rather than DuckDB-oracled."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    src = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def moments(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate across the WHOLE partition and emit once: the
        # driver collect then scales with partition count, not with
        # corpus size (one row per Arrow batch would be corpus-bound)
        n_acc, s_acc, ss_acc = 0.0, None, None
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy())
            n_acc += float(len(X))
            s_b = X.sum(axis=0)
            ss_b = X.T @ X
            s_acc = s_b if s_acc is None else s_acc + s_b
            ss_acc = ss_b if ss_acc is None else ss_acc + ss_b
        if s_acc is not None:
            yield pd.DataFrame(
                {
                    "n": [n_acc],
                    "s": [s_acc.tolist()],
                    "ss": [ss_acc.ravel().tolist()],
                }
            )

    parts = src.select("v").mapInPandas(
        moments, "n double, s array<double>, ss array<double>"
    ).collect()
    if not parts:
        raise ValueError("pca_whiten: empty input")
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    ss = np.sum([p["ss"] for p in parts], axis=0)
    d = len(s)
    mean = s / n
    cov = ss.reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    k = n_components or d
    evals, evecs = evals[:k], evecs[:, :k]
    # pin sign: the largest-|coordinate| entry of each vector positive
    for j in range(k):
        i = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[i, j] < 0:
            evecs[:, j] = -evecs[:, j]
    W = evecs / np.sqrt(np.maximum(evals, 0.0) + eps)  # d x k whitener
    W_b = [row.tolist() for row in W]
    mean_b = mean.tolist()

    def project(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Wl = np.array(W_b)
        ml = np.array(mean_b)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy())
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"].astype("int64"),
                    "whitened": list((X - ml) @ Wl),
                }
            )

    return src.mapInPandas(
        project, "vid long, whitened array<double>"
    ).select(F.col("vid").alias(id_col), "whitened")


# --------------------------------------------- product quantization

PQ_M = 4  # subspaces
PQ_K = 8  # codebook entries per subspace
PQ_ITERS = 1  # fixed Lloyd iterations per subspace


def pq_train_codebooks(
    vecs: DataFrame,
    dim: int = EMBED_DIM,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector splits into ``m``
    contiguous subspaces and each gets its own k-means codebook —
    trained with the SAME deterministic trainer math as the IVF
    coarse quantizer (lowest-id seeds, fixed Lloyd iterations,
    sorted-sum rounded means), so the DuckDB twin can train the
    bit-identical model per subspace. PQ completes the FAISS
    quantization trio here (IVF = coarse cells, SQ8 = per-dim scalar,
    PQ = per-subspace vector codebooks): m·k·(dim/m) floats replace
    dim floats per vector — with the defaults, 64 doubles become 4
    byte-sized codes.

    r14 optimization (guide §1.2 step 1): the m subspace trainings
    previously ran SEQUENTIALLY — m seed collects plus m collect jobs
    per Lloyd round, each rescanning the input — for what is one
    independent k-means per subspace. The subspaces now train in
    FUSED jobs: one TakeOrdered collect seeds all m codebooks (the
    seeds are slices of the same k lowest-id vectors), and each Lloyd
    round is one job that assigns every (vector, subspace) slice
    against its own codebook (explode to (j, slice), argmin vs the
    j-th literal) and aggregates means grouped by (j, cid, pos).
    Groups are disjoint per subspace, so every per-group sorted-sum
    rounded mean is bit-identical to the sequential trainer's
    (pinned by test); job count drops from m*(1+iters) to 1+iters."""
    sub = dim // m
    seed_rows = vecs.orderBy("nid").limit(k).collect()
    books = [
        [list(r["v"])[j * sub : (j + 1) * sub] for r in seed_rows]
        for j in range(m)
    ]
    for _ in range(iters):
        books_lit = F.expr(double_array_sql(books))
        sliced = vecs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.slice(
                                F.col("v"), j * sub + 1, sub
                            ).alias("sv"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("e")
        ).select(F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
        # the j-th codebook's (rounded distance, cid) pairs — the
        # _ivf_dist_pairs expression parameterized by the row's j
        dist_pairs = F.transform(
            F.element_at(books_lit, (F.col("j") + 1).cast("int")),
            lambda cv, i: F.struct(
                F.round(_l2sq(F.col("sv"), cv), 8).alias("d"),
                i.cast("long").alias("cid"),
            ),
        )
        assigned = sliced.select(
            "j",
            F.array_sort(dist_pairs)[0].getField("cid").alias("cid"),
            "sv",
        )
        means = (
            assigned.select(
                "j", "cid", F.posexplode("sv").alias("pos", "val")
            )
            .groupBy("j", "cid", "pos")
            .agg(
                F.expr(
                    "round(aggregate(array_sort(collect_list(val)), "
                    "cast(0 as double), (a, x) -> a + x) / count(*), 6)"
                ).alias("m")
            )
        )
        new = [[list(c) for c in b] for b in books]
        for r in means.collect():  # m*k*sub scalars: model-sized
            new[r["j"]][r["cid"]][r["pos"]] = r["m"]
        books = new
    return books


def pq_audit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = EMBED_DIM,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Assign PQ codes and audit the reconstruction error: per
    vector, the m codebook indices and the mean squared
    reconstruction error of the quantized representation — the
    accuracy-vs-compression report read before deploying a PQ index
    (the q88 SQ8 audit's vector-codebook sibling).

    100 TB shape: training collects only the m·k·(dim/m) codebook
    scalars (model-sized, the IVF precedent); assignment and the
    error fold are per-row literal-codebook expressions — one scan,
    zero shuffle, fully codegen."""
    sub = dim // m
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    books = pq_train_codebooks(vecs, dim=dim, m=m, k=k, iters=iters)
    slices = [F.slice(F.col("v"), j * sub + 1, sub) for j in range(m)]
    best = [
        F.array_sort(_ivf_dist_pairs(slices[j], books[j]))[0]
        for j in range(m)
    ]
    codes = F.array(*[b.getField("cid") for b in best])
    sq_err = best[0].getField("d")
    for b in best[1:]:
        sq_err = sq_err + b.getField("d")
    return vecs.select(
        F.col("nid").alias(id_col),
        codes.alias("codes"),
        F.round(sq_err / F.lit(float(dim)), 6).alias("recon_mse"),
    )


# ------------------------------------- random projection (JL lemma)

JL_OUT_DIM = 16

_jl_rng = random.Random(20240915)
#: dense Rademacher projection rows, scaled 1/sqrt(out_dim) — data-
#: independent (Johnson-Lindenstrauss), so unlike PCA the exact same
#: matrix is a literal in both engines and the oracle needs no training
JL_ROWS: list[list[float]] = [
    [
        (1.0 if _jl_rng.random() < 0.5 else -1.0) / (JL_OUT_DIM ** 0.5)
        for _ in range(EMBED_DIM)
    ]
    for _ in range(JL_OUT_DIM)
]
_JL_ROWS_SQL = double_array_sql(JL_ROWS)


def jl_project(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16: the cheap,
    data-independent dimensionality reduction used as an ANN
    pre-filter or sketch (pairwise distances preserved within 1±ε
    with high probability). One transform over the row-literal
    matrix — per-row codegen folds, zero shuffle, no training, no
    collect; the projection matrix is part of the code, so results
    are reproducible everywhere forever."""
    return ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias(id_col),
        F.transform(
            F.expr(_JL_ROWS_SQL),
            lambda r: dot(F.col(vec_col).cast("array<double>"), r),
        ).alias("projected"),
    )


def jl_distortion_audit(
    df: DataFrame, id_col: str, vec_col: str, max_sample_id: int = 20
) -> DataFrame:
    """Pairwise-distance distortion of the JL projection on a fixed
    sample: per pair, original and projected squared L2 distance and
    their ratio — the empirical check of the 1±ε guarantee before
    trusting the sketch for candidate generation. The sample
    broadcasts (model-sized); the corpus is only scanned to build
    it."""
    proj = jl_project(df, id_col, vec_col)
    src = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).join(proj, id_col)
    sample = src.filter(F.col(id_col) < max_sample_id)
    a = sample.select(
        F.col(id_col).alias("a_id"),
        F.col("v").alias("va"),
        F.col("projected").alias("pa"),
    )
    b = sample.select(
        F.col(id_col).alias("b_id"),
        F.col("v").alias("vb"),
        F.col("projected").alias("pb"),
    )
    d_orig = _l2sq(F.col("va"), F.col("vb"))
    d_proj = _l2sq(F.col("pa"), F.col("pb"))
    return (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.round(d_orig, 6).alias("d_orig"),
            F.round(d_proj, 6).alias("d_proj"),
            F.round(d_proj / d_orig, 6).alias("distortion"),
        )
        # identical-vector pairs would divide by zero; both engines
        # drop them on the same rounded predicate
        .filter(F.col("d_orig") > 0)
    )


def ivfpq_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int = 20,
    k: int = 3,
    nprobe: int = IVF_NPROBE,
    dim: int = EMBED_DIM,
    m: int = PQ_M,
    pq_k: int = PQ_K,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the FAISS IndexIVFPQ
    composition of the two quantizers here: the coarse IVF quantizer
    routes vectors to cells, each vector's RESIDUAL (v − centroid)
    is product-quantized, and queries score candidates in their
    ``nprobe`` nearest cells by asymmetric distance (exact query
    residual vs the candidate's codebook entries) — no full-vector
    math on the database side at query time, which is the entire
    point at 100 TB: the index holds m small codes per vector.

    Plan shape: both trainings collect only model scalars (IVF k×dim
    + PQ m·k·(dim/m)); encoding is a per-row literal-codebook
    projection; the query side explodes to (query, probed cell) and
    meets candidates by CELL EQUALITY — never a cross join — with
    ADC folds per subspace and a per-query top-k window. Every
    arithmetic step (8dp-rounded argmins, fixed-order subspace sums)
    is mirrored bit-for-bit by the SQL oracle, which trains both
    models in SQL."""
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cents, books, encoded = _ivfpq_train_encode(
        vecs, dim=dim, m=m, pq_k=pq_k, release_input=False
    )
    return _ivfpq_query(
        vecs, cents, books, encoded,
        max_query_id=max_query_id, k=k, nprobe=nprobe, dim=dim, m=m,
    )


def _ivfpq_train_encode(
    vecs: DataFrame, dim: int, m: int, pq_k: int,
    release_input: bool = True,
) -> tuple:
    """Build cadence of IVF-PQ: train the coarse quantizer, product-
    quantize residuals, and encode every database vector to (nid,
    cid, code0..code{m-1}) — the index content FAISS would persist.
    Returns (centroids, codebooks, encoded_df).

    r14: the raw vector frame persists across the IVF training jobs —
    the coarse trainer's seed collect and Lloyd rounds each rescanned
    (and re-repartitioned) the input otherwise. r15: released only
    when ``release_input`` — ivfpq_ann_topk passes False because its
    QUERY side probes the same frame after training (the r14 comment
    'every downstream consumer reads res now' missed that rescan;
    ADVICE r14); the entry then stays until unpersisted (SQL cache
    entries are not reclaimed by the ContextCleaner). The eager
    res.count() is gone too: the PQ seed collect is the first consumer
    and fills the cache; the separate materialization pass was pure
    extra work."""
    sub = dim // m
    vecs = vecs.persist()
    cents = train_ivf_centroids(vecs)
    cl = _centroids_lit(cents)
    res = vecs.withColumn("cid", _ivf_assign(F.col("v"), cents)).withColumn(
        "rv",
        F.zip_with(
            F.col("v"),
            F.element_at(cl, (F.col("cid") + 1).cast("int")),
            lambda a, b: a - b,
        ),
    )
    res = res.persist()
    if release_input:
        vecs.unpersist()  # training consumers read `res` from here on
    books = pq_train_codebooks(
        res.select("nid", F.col("rv").alias("v")),
        dim=dim,
        m=m,
        k=pq_k,
        iters=PQ_ITERS,
    )
    encoded = res.select(
        "nid",
        "cid",
        *[
            F.array_sort(
                _ivf_dist_pairs(
                    F.slice(F.col("rv"), j * sub + 1, sub), books[j]
                )
            )[0]
            .getField("cid")
            .alias(f"code{j}")
            for j in range(m)
        ],
    )
    return cents, books, encoded


def _ivfpq_query(
    vecs: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    encoded: DataFrame,
    max_query_id: int,
    k: int,
    nprobe: int,
    dim: int,
    m: int,
) -> DataFrame:
    """Query cadence of IVF-PQ: probe nprobe cells per query, meet
    encoded candidates by cell equality, fold asymmetric distances
    against literal codebooks, take the per-query top-k."""
    sub = dim // m
    cl = _centroids_lit(cents)
    probes = (
        vecs.filter(F.col("nid") < max_query_id)
        .select(
            F.col("nid").alias("qid"),
            F.col("v").alias("qv"),
            F.explode(
                _ivf_probe_cids(F.col("v"), cents, nprobe)
            ).alias("cid"),
        )
        .withColumn(
            "rq",
            F.zip_with(
                F.col("qv"),
                F.element_at(cl, (F.col("cid") + 1).cast("int")),
                lambda a, b: a - b,
            ),
        )
    )
    book_lits = [_centroids_lit(books[j]) for j in range(m)]
    cand = probes.join(encoded, "cid").filter(F.col("qid") != F.col("nid"))
    adc = None
    for j in range(m):
        dj = F.round(
            _l2sq(
                F.slice(F.col("rq"), j * sub + 1, sub),
                F.element_at(
                    book_lits[j], (F.col(f"code{j}") + 1).cast("int")
                ),
            ),
            8,
        )
        adc = dj if adc is None else adc + dj
    from pyspark.sql.window import Window

    # no dedup needed: a DB vector lives in exactly one cell and the
    # probed cells are distinct, so (qid, nid) appears at most once
    scored = cand.select("qid", "nid", F.round(adc, 6).alias("adc_dist"))
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", "nid", "adc_dist", "rnk")
    )


def save_ivfpq_index(
    spark,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    dim: int = EMBED_DIM,
    m: int = PQ_M,
    pq_k: int = PQ_K,
) -> None:
    """Persist a full IVF-PQ index: the coarse centroids, the m
    per-subspace codebooks, and — the part that matters at 100 TB —
    the ENCODED database (nid, cid, code0..m), so query batches never
    re-train or re-touch raw vectors (the FAISS write_index analogue;
    save_ivf_index persists only the coarse model). Training runs
    once at build cadence; the three parquet datasets are the whole
    serving state."""
    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cents, books, encoded = _ivfpq_train_encode(
        vecs, dim=dim, m=m, pq_k=pq_k
    )
    save_ivf_index(spark, f"{path}/centroids", cents)
    book_rows = [
        (j, cid, list(map(float, c)))
        for j, book in enumerate(books)
        for cid, c in enumerate(book)
    ]
    spark.createDataFrame(
        book_rows, "sub INT, cid INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    encoded.write.mode("overwrite").parquet(f"{path}/encoded")


def ivfpq_ann_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_query_id: int = 20,
    k: int = 3,
    nprobe: int = IVF_NPROBE,
    dim: int = EMBED_DIM,
    m: int = PQ_M,
) -> DataFrame:
    """Query-cadence IVF-PQ search against a persisted index: load
    the model scalars (centroids + codebooks — model-sized collects),
    scan the encoded parquet, probe and score. Identical results to
    the inline ivfpq_ann_topk by construction (deterministic
    training), without its per-call training cost."""
    cents = load_ivf_index(spark, f"{path}/centroids")
    brows = (
        spark.read.parquet(f"{path}/codebooks")
        .orderBy("sub", "cid")
        .collect()
    )
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in brows:
        books[r["sub"]].append(list(r["centroid"]))
    encoded = spark.read.parquet(f"{path}/encoded")
    vecs = ensure_parallelism(queries).select(
        F.col(id_col).cast("long").alias("nid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    return _ivfpq_query(
        vecs, cents, books, encoded,
        max_query_id=max_query_id, k=k, nprobe=nprobe, dim=dim, m=m,
    )


def kcenter_sample(
    df: DataFrame, id_col: str, vec_col: str, k: int = 6
) -> DataFrame:
    """Greedy farthest-point (Gonzalez k-center) diversity sampling:
    seed with the lowest id, then repeatedly select the vector whose
    distance to its NEAREST already-selected center is largest —
    the classic coverage-maximizing sampler for picking maximally
    diverse training exemplars.

    Returns (sel_rank, vec_id, dist): dist is the point's min
    cosine distance to the previously selected set at the moment it
    was chosen (NULL for the seed) — the k-center radius trajectory.

    Determinism across engines: every distance is quantized to the
    8dp integer-safe grid (floor(x*1e8+0.5)/1e8 — distances are
    non-negative) BEFORE the argmax, ties break on vec_id, and the
    running min-distance state carries only quantized values, so the
    selection sequence is bit-reproducible and the unrolled SQL
    oracle replays it exactly.

    Scale shape: the classic streaming k-center — each of the k
    iterations is ONE broadcast of the single new center and one
    linear scan updating the running min-distance column (no
    pairwise blowup, no per-iteration shuffle); superseded state
    frames are released each round (the graph-loop discipline), so
    memory stays bounded at any k."""
    from lynx_spark.operators.graph import _release_frame

    def q8(col: Column) -> Column:
        return F.floor(col * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)

    v = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    )
    seed = (
        v.orderBy("vec_id").limit(1).localCheckpoint(eager=True)
    )
    picks = [
        seed.select(
            F.lit(1).cast("long").alias("sel_rank"),
            "vec_id",
            F.lit(None).cast("double").alias("dist"),
        )
    ]
    center = seed.select(F.col("e").alias("ce"))
    state = (
        v.crossJoin(F.broadcast(center))
        .select(
            "vec_id",
            "e",
            q8(F.lit(1.0) - cosine(F.col("e"), F.col("ce"))).alias(
                "mind"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for t in range(2, k + 1):
        nxt = (
            state.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            nxt.select(
                F.lit(t).cast("long").alias("sel_rank"),
                "vec_id",
                F.col("mind").alias("dist"),
            )
        )
        if t == k:
            break
        new_center = nxt.select(F.col("e").alias("ce"))
        new_state = (
            state.crossJoin(F.broadcast(new_center))
            .select(
                "vec_id",
                "e",
                F.least(
                    F.col("mind"),
                    q8(
                        F.lit(1.0) - cosine(F.col("e"), F.col("ce"))
                    ),
                ).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
        _release_frame(state)
        state = new_state
    _release_frame(state)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def embedding_split_leakage(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    test_mod: int = 5,
    n_probes: int = 64,
    threshold: float = 0.95,
) -> DataFrame:
    """Train/test split-leakage audit in EMBEDDING space: split the
    corpus deterministically by the md5-uniform device (~1/test_mod
    held out), then for a fixed md5-ordered sample of ``n_probes``
    test vectors find each probe's max cosine against the ENTIRE
    train split — a probe whose nearest train vector clears
    ``threshold`` is semantic leakage that n-gram decontamination
    (q67/q187's surface) cannot see, the embedding counterpart of
    split-leakage checks on text.

    Scale shape: the probe set is capped at ``n_probes`` (a literal),
    so the scored frame is n_probes x train — LINEAR in the corpus,
    never test x train quadratic; probes broadcast, the per-probe
    argmax is a map-side-combinable max(struct) aggregation (no
    window over the scored stream). Determinism: cosine rounds to
    5dp (the q24 convention), ties break to the smallest train id
    via max(struct(cos, -nid)).
    """
    from pyspark.sql import functions as F  # noqa: N812

    vecs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).cast("long").alias("nid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn(
            "h",
            F.md5(F.concat(F.lit("leak-"), F.col("nid").cast("string"))),
        )
        .withColumn(
            "is_test",
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
            % F.lit(test_mod)
            == 0,
        )
    )
    probes = (
        vecs.filter(F.col("is_test"))
        .orderBy("h", "nid")
        .limit(n_probes)
        .select(F.col("nid").alias("qid"), F.col("v").alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
    )
    train = vecs.filter(~F.col("is_test")).select("nid", "v").withColumn(
        "nrm", norm(F.col("v"))
    )
    scored = train.crossJoin(F.broadcast(probes)).select(
        "qid",
        "nid",
        F.round(
            dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 5
        ).alias("cos_sim"),
    )
    best = scored.groupBy("qid").agg(
        F.max(F.struct(F.col("cos_sim"), (-F.col("nid")).alias("negid"))).alias(
            "b"
        )
    )
    return best.select(
        "qid",
        (-F.col("b.negid")).cast("long").alias("train_nid"),
        F.col("b.cos_sim").alias("max_cos"),
        F.when(F.col("b.cos_sim") >= F.lit(threshold), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_leak"),
    )


def power_iteration_pca(
    df: DataFrame, id_col: str, vec_col: str, n_iters: int = 3
) -> DataFrame:
    """Top principal direction of the (uncentered) embedding second-
    moment matrix by DISTRIBUTED power iteration — the anisotropy
    audit (Ethayarajh 2019: contextual embeddings concentrate in a
    narrow cone; a dominant component soaking up most of the energy
    degrades cosine contrast) and the from-scratch counterpart of the
    q88/q129 quantization audits.

    Never materializes the d x d Gram matrix: each iteration computes
    v <- X^T (X v) as two fused passes over ONE persisted corpus scan
    — a per-row dot fold (d = <x, v>, array expressions) and a
    posexplode aggregation to the d-row weighted sum (map-side
    combinable, d keys). At 100 TB that is O(n*d) work per iteration
    with a d-row shuffle, vs the O(n*d^2) explode a covariance
    materialization costs.

    Exact cross-engine arithmetic: embeddings quantize once onto the
    1e-6 integer grid; per-doc dots are then exact int64 and the
    d-row accumulations exact DECIMAL(38) — so the data-sized sums
    are order-free. The iterate renormalizes driver-side on the
    d-row collect (the bounded-aggregate device): w/max|w| and
    u*1e6/sqrt(sum u^2) with explicit float() casts mirroring the
    oracle's CAST(.. AS DOUBLE) operand-by-operand, then re-snaps to
    the 1e-6 grid so the next iteration is integer-exact again.
    Output: one row per dimension (1-based) with the unit loading,
    plus the explained-energy ratio v^T X^T X v / sum ||x||^2 (both
    exact integer aggregates). Sign follows the all-positive start
    vector; degenerate all-zero inputs are the caller's problem."""
    import math

    from pyspark.sql import functions as F  # noqa: N812

    x6df = (
        ensure_parallelism(df)
        .select(
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(
                    "long"
                ),
            ).alias("x6")
        )
        .persist()  # n_iters + 1 aggregation passes read it
    )
    spark = df.sparkSession
    dim = len(df.select(F.col(vec_col)).first()[0])
    v6 = [int(math.floor(1e6 / math.sqrt(float(dim)) + 0.5))] * dim
    dec = "decimal(38,0)"
    for _ in range(n_iters):
        varr = F.array(*[F.lit(c).cast("long") for c in v6])
        dcol = F.aggregate(
            F.zip_with(F.col("x6"), varr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = (
            x6df.select(
                dcol.alias("d"), F.posexplode("x6").alias("i", "xi")
            )
            .groupBy("i")
            .agg(F.sum(F.col("xi").cast(dec) * F.col("d")).alias("w"))
            .collect()
        )
        wv = {int(r["i"]): int(r["w"]) for r in w}
        wmax = max(abs(x) for x in wv.values()) or 1
        u6 = {
            i: int(
                math.floor(float(wv[i]) / float(wmax) * 1e6 + 0.5)
            )
            for i in wv
        }
        n2 = sum(u * u for u in u6.values()) or 1
        v6 = [
            int(
                math.floor(
                    float(u6[i]) * 1e6 / math.sqrt(float(n2)) + 0.5
                )
            )
            for i in range(dim)
        ]
    varr = F.array(*[F.lit(c).cast("long") for c in v6])
    dcol = F.aggregate(
        F.zip_with(F.col("x6"), varr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    en = x6df.select(
        dcol.alias("d"),
        F.aggregate(
            F.transform(F.col("x6"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("xx"),
    ).agg(
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("num"),
        F.sum(F.col("xx").cast(dec)).alias("den"),
    )
    vals = ", ".join(f"({i + 1}, {v6[i]})" for i in range(dim))
    loadings = spark.sql(f"SELECT * FROM VALUES {vals} AS t(dim, v6)")
    return (
        loadings.crossJoin(F.broadcast(en))
        .select(
            F.col("dim").cast("long").alias("dim"),
            (F.col("v6").cast("double") / F.lit(1e6)).alias("loading"),
            # d carries the 1e6 grids of BOTH operands (x6 and v6), so
            # num/den is 1e12x the physical energy ratio — rescale
            (
                F.floor(
                    F.col("num").cast("double")
                    / F.col("den").cast("double")
                    / F.lit(1e12)
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("explained_ratio"),
        )
    )


def two_nn_intrinsic_dim(
    df: DataFrame, id_col: str, vec_col: str, n_probes: int = 64
) -> DataFrame:
    """Two-NN intrinsic-dimension estimate (Facco et al. 2017,
    "Estimating the intrinsic dimension of datasets by a minimal
    neighborhood information"): for a probe point, the ratio
    mu = d2/d1 of its second- to first-nearest-neighbor distance
    follows a Pareto(1/id) law, giving the MLE
    id_hat = n / sum(ln mu). A high intrinsic dimension warns that
    distance-based curation (SemDeDup q70, kNN selection q83/q127)
    is operating in a regime where neighbors are barely closer than
    strangers; a low one justifies it.

    Scale shape (the q250 recipe): probes are a fixed md5-ordered
    ``n_probes`` literal sample, so the scored frame is probes x
    corpus — LINEAR, never all-pairs; the probe side broadcasts and
    the two nearest neighbors come from two map-side-combinable
    min(struct) aggregations (never a window over the scored
    stream — the second pass re-aggregates with the argmin excluded
    via the broadcast 64-row first-pass result).

    Exactness: embeddings quantize to the 1e-6 integer grid (the
    q251 device), so squared distances are exact int64 (diff <=
    2e6, squared 4e12, x dim — fits comfortably) and the min/ratio
    selections are bit-stable; zero distances (self + exact
    duplicates) are excluded on both engines. Per-probe ln(mu)
    terms snap to 1e-9 and sum as DECIMAL(38,9) (the q128 device,
    order-free); outputs snap to 1e-6."""
    from pyspark.sql import functions as F  # noqa: N812

    vecs = ensure_parallelism(df).select(
        F.col(id_col).cast("long").alias("nid"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).alias("x6"),
    )
    probes = (
        vecs.withColumn(
            "h",
            F.md5(F.concat(F.lit("id-"), F.col("nid").cast("string"))),
        )
        .orderBy("h", "nid")
        .limit(n_probes)
        .select(F.col("nid").alias("qid"), F.col("x6").alias("q6"))
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("q6"), F.col("x6"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        vecs.crossJoin(F.broadcast(probes))
        .select("qid", "nid", d2.alias("d2"))
        .filter(F.col("d2") > 0)
        .persist()  # two nearest-neighbor passes read it
    )
    f1 = scored.groupBy("qid").agg(
        F.min(F.struct("d2", "nid")).alias("m1")
    )
    f2 = (
        scored.join(F.broadcast(f1), "qid")
        .filter(
            (F.col("d2") > F.col("m1.d2"))
            | (
                (F.col("d2") == F.col("m1.d2"))
                & (F.col("nid") > F.col("m1.nid"))
            )
        )
        .groupBy("qid")
        .agg(
            F.min("m1.d2").alias("d1"),
            F.min(F.struct("d2", "nid")).alias("m2"),
        )
    )
    terms = f2.select(
        (
            F.round(
                F.lit(0.5)
                * F.log(
                    F.col("m2.d2").cast("double")
                    / F.col("d1").cast("double")
                ),
                9,
            )
        )
        .cast("decimal(38,9)")
        .alias("t9")
    )
    fl6 = lambda c_: F.floor(c_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    # degenerate guard (r12): a corpus of exact-duplicate clusters
    # makes every probe's d1 == d2 (the nearest DISTINCT vector
    # appears at both ranks), so sum ln(mu) = 0 — the estimator's
    # "neighbors are equidistant, id -> infinity" regime. NULLIF on
    # both engines: id_hat NULL instead of an ANSI divide error
    # (found by the r12 sf1 sweep on replicated identical vectors).
    return terms.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("t9").cast("double").alias("_s"),
    ).select(
        "n_probes",
        fl6(F.col("_s")).alias("sum_ln_mu"),
        fl6(
            F.col("n_probes").cast("double")
            / F.nullif(F.col("_s"), F.lit(0.0))
        ).alias("id_hat"),
    )
