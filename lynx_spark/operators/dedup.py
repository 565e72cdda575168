"""Deduplication operators for training-data pipelines.

Four tiers, each a pure DataFrame transformation designed for the
100 TB case (no driver-side loops, no cross joins — every candidate
generation is a key-equality shuffle join Catalyst can plan):

- exact:   hash-groupBy on the full text (md5 group key)
- n-gram Jaccard: shingle -> inverted-index self-join -> count common
  shingles -> Jaccard threshold. The join key is the shingle, so only
  documents sharing a shingle ever meet — the standard scalable
  candidate-pair pattern.
- MinHash + LSH: per-document minhash signature (md5-string minima, so
  the identical computation is expressible in ANSI SQL for the oracle),
  banded into LSH buckets; only bucket collisions become candidates,
  then candidates are verified with true Jaccard. At scale this is the
  classic shingle->minhash->band->bucket-join pipeline.
- SimHash: 64-bit signature via a vectorized pandas UDF (bit ops are
  the one part Spark exprs can't express cleanly); near-dup candidates
  pair by identical 16-bit bands, verified by Hamming distance.

The reference engine has no dedup surface; these are the BASELINE.json
north-star extensions.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from lynx_spark.operators._util import (
    banded_self_pairs,
    broadcast_if_counted,
    ensure_parallelism,
)

SHINGLE_N = 3  # word n-gram size
MINHASH_NUM = 12  # number of minhash functions
MINHASH_BANDS = 4  # LSH bands (rows per band = 12/4 = 3)
#: default document-frequency cap: shingles shared by more documents
#: than this are boilerplate (stop-phrases, headers) and are dropped
#: before any shingle-keyed self-join — one hot shingle otherwise
#: yields df²/2 candidate pairs (10⁶ docs sharing "all rights
#: reserved." = 5·10¹¹ pairs from a single key). Chosen above the
#: max observed df at the test scales (25 at sf0.1) so small-data
#: results are unchanged; at corpus scale it binds by design and the
#: recall loss is exactly "pairs whose ONLY overlap is boilerplate".
MAX_SHINGLE_DF = 100
#: default LSH bucket-size cap for banded_self_pairs' star fallback
MAX_BAND_BUCKET = 200

#: modulus of the minhash affine family: the Mersenne prime 2^31-1.
#: With base reduced mod P first, a*x+b stays under 2^62 — no 64-bit
#: overflow in either engine.
MINHASH_PRIME = 2147483647

_coef_rng = __import__("random").Random(20240613)
#: the affine 'permutation' coefficients h_s(x) = (a_s*x + b_s) mod P —
#: fixed literals so the DuckDB oracle runs the byte-identical family
MINHASH_A = [_coef_rng.randrange(1, MINHASH_PRIME) for _ in range(MINHASH_NUM)]
MINHASH_B = [_coef_rng.randrange(0, MINHASH_PRIME) for _ in range(MINHASH_NUM)]
#: per-function 60-bit XOR mixers applied to the RAW base BEFORE the
#: mod-P reduction: without them every h_s is affine in (base mod P),
#: so two shingles colliding mod P would collide in ALL functions at
#: once; xor-ing a distinct constant into the 60-bit base first makes
#: the reductions per-function independent (identical bases still
#: collide everywhere — that's the md5 prefix, not the family)
MINHASH_K = [_coef_rng.randrange(0, 1 << 60) for _ in range(MINHASH_NUM)]


def base_hash_expr(col: F.Column) -> F.Column:
    """60-bit integer content hash: the first 15 hex digits of md5 as
    a long. Portable bit-for-bit: Spark ``conv(substr(md5,1,15),16,10)``
    equals DuckDB ``('0x' || substr(md5,1,15))::BIGINT`` (asserted in
    tests). ONE md5 per distinct shingle replaces the r1 family's
    MINHASH_NUM md5s per (doc, shingle) row — the minhash functions
    are then integer affine transforms of this base."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def cap_doc_freq(
    sh: DataFrame,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
    key_col: str = "shingle",
) -> DataFrame:
    """Drop keys whose document frequency exceeds the cap: a count
    window over the key, fused into whatever pass computes ``sh`` (no
    extra job), leaving the output hash-partitioned by the key — which
    the inverted-index self-joins downstream consume with no further
    exchange. Used by the winnowing overlap join (functions/text.py);
    the shingle pipeline instead fuses the cap into its collect_set
    build (_grouped_shingles), which subsumes the distinct."""
    if max_doc_freq is None:
        return sh
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col)
    return (
        sh.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )


def _grouped_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    with_base: bool = True,
) -> DataFrame:
    """Df-capped shingle groups: one row per distinct shingle with the
    SORTED set of documents containing it and the shingle's 60-bit
    base hash.

    ONE exchange builds it: the raw exploded shingles group by
    ``shingle`` into ``collect_set(doc)``, which fuses the distinct
    (set semantics), the document-frequency count (set size) and the
    cap filter into a single aggregation — no separate distinct
    exchange, no count window sort. Map-side partial aggregation
    dedups within partitions before the shuffle. The per-shingle doc
    set is bounded in expectation (boilerplate shingles are the
    outliers and they are exactly what the cap drops right after the
    aggregate); a 10⁶-doc stop-shingle is an ~8 MB array on one key —
    large but transient, and only until the filter discards it.

    ``base`` is computed here — below the explode that downstream
    consumers apply — so the md5 runs once per DISTINCT shingle, not
    once per (doc, shingle) occurrence. Callers that never hash
    (jaccard/containment: pair counts + set sizes only) pass
    ``with_base=False`` — the grouped frame is persisted there, so an
    unused column is not pruned away but materialized for every
    distinct shingle (r15: one md5 per 238k shingles at sf0.1,
    ~0.25s off the build)."""
    d = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), _words_col(text_col).alias("w")
    ).filter(F.size("w") >= n)
    raw = d.select("doc", F.explode(_shingle_expr(F.col("w"), n)).alias("shingle"))
    grouped = raw.groupBy("shingle").agg(
        F.array_sort(F.collect_set("doc")).alias("docs")
    )
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("docs") <= max_doc_freq)
    if not with_base:
        return grouped
    return grouped.withColumn("base", base_hash_expr(F.col("shingle")))


def _exploded_shingles(grouped: DataFrame) -> DataFrame:
    """(doc, shingle[, base]) rows from the grouped table. The Generate
    node evaluates its input row once, so ``base`` is NOT recomputed
    per emitted row."""
    cols = ["shingle"] + (["base"] if "base" in grouped.columns else [])
    return grouped.select(F.explode("docs").alias("doc"), *cols)


def _words_col(text_col: str) -> F.Column:
    from lynx_spark.operators._util import words_col

    return words_col(text_col)


def _shingle_expr(w: F.Column, n: int) -> F.Column:
    """Word n-gram array from a word array: zip_with-folding n shifted
    slices (lambdas reference only their own arguments, so nothing
    falls back to the interpreted outer-reference path). THE single
    definition of shingling — shingle_table and the fused capped
    build both use it, so the n-gram construction can never diverge
    from the DuckDB oracles' shared CTE."""
    length = F.size(w) - (n - 1)
    shingle = F.slice(w, 1, length)
    for k in range(1, n):
        shingle = F.zip_with(
            shingle,
            F.slice(w, k + 1, length),
            lambda acc, nxt: F.concat(acc, F.lit(" "), nxt),
        )
    return shingle


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct text with the
    surviving (minimum) id and the copy count. Map-side partial
    aggregation makes this one shuffle of (fingerprint, partials)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("long").alias("survivor_id"),
            F.count("*").alias("copies"),
        )
    )


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N
) -> DataFrame:
    """Distinct (id, shingle) pairs where shingle = space-joined word
    n-gram. Documents with fewer than n words are dropped (no shingle).

    The n-grams are built JVM-side (_shingle_expr); no Python runs
    per row."""
    df = ensure_parallelism(df)
    df = df.select(
        F.col(id_col).alias("doc"), _words_col(text_col).alias("w")
    ).filter(F.size("w") >= n)
    return df.select(
        "doc", F.explode(_shingle_expr(F.col("w"), n)).alias("shingle")
    ).distinct()


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.6,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    candidate generation = the inverted index itself: the df-capped
    shingle groups already hold, per shingle, the sorted set of
    documents containing it — all i<j pairs come straight out of those
    arrays (sorted_pairs_expr: codegen array exprs, NO self-join, no
    per-partition hash build over the exploded table). Shingles hotter
    than ``max_doc_freq`` are dropped in the same aggregation — the
    fix for the one quadratic hole in the inverted-index shape; with
    the cap the per-shingle pair array is bounded by cap²/2. A pair
    appears once per SHARED shingle, so |A ∩ B| is just the pair
    count: one groupBy over the pair stream, then two joins against
    the (tiny, broadcastable) per-doc size table finish the Jaccard.
    Every candidate's verification work rides in that single
    aggregation — intersecting per-doc shingle sets per pair instead
    (the q23 shape) costs candidates × doc-length here, because the
    inverted index yields EVERY overlapping pair as a candidate, not
    an LSH-filtered subset. The ratio lives entirely in the capped
    shingle space, so the documented trade-off is that a pair
    overlapping ONLY in boilerplate shingles is no longer reported —
    at the cap default that changes nothing at test scale.

    The grouped shingle table feeds two branches (pair arrays +
    per-doc sizes); one internal persist (a SQL cache entry: it stays
    until unpersisted — the ContextCleaner does not reclaim it; at
    100 TB this becomes a checkpoint to storage)."""
    from lynx_spark.operators._util import sorted_pairs_expr

    grouped = _grouped_shingles(
        df, id_col, text_col, n, max_doc_freq, with_base=False
    ).persist()
    # no eager count (r15): block locks fill the cache once inside the
    # first consuming action; the separate pass was pure extra work
    sh = _exploded_shingles(grouped)
    if max_doc_freq is None:
        # uncapped: a hot shingle's pair ARRAY would be one quadratic
        # in-memory value; the exploded self-join streams it instead
        a = sh.select(F.col("doc").alias("a_id"), "shingle")
        b = sh.select(F.col("doc").alias("b_id"), "shingle")
        pair_stream = (
            a.join(b, "shingle")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
        )
    else:
        # capped: per-shingle doc arrays are <= max_doc_freq, so the
        # i<j pair arrays are bounded by cap²/2 — pure codegen exprs.
        # Most shingles are singletons (no pair); filtering them FIRST
        # keeps the nested-transform machinery off the vast majority
        # of rows
        pair_stream = (
            grouped.filter(F.size("docs") >= 2)
            .select(F.explode(sorted_pairs_expr("docs", None)).alias("p"))
            .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        )
    common = pair_stream.groupBy("a_id", "b_id").agg(
        F.count("*").alias("n_common")
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.8,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """DIRECTIONAL near-duplicate pairs by n-gram containment
    C(src→dst) = |S(src) ∩ S(dst)| / |S(src)| — the asymmetric
    sibling of ``jaccard_pairs`` that Jaccard structurally misses: a
    short document quoted verbatim inside a long one has tiny Jaccard
    (union is dominated by the long side) but containment ≈ 1 from
    the short side. This is the quote/verbatim-inclusion detector a
    curation pipeline runs alongside symmetric near-dup (Broder's
    containment, the A-contains-B half of resemblance).

    Same one-aggregation inverted-index candidate generation as
    jaccard_pairs (df-capped shingle groups → i<j pair arrays →
    count(*) = |∩|); each unordered candidate then emits BOTH
    directions against the per-doc size table, so the extra cost over
    Jaccard is one projection, not a second shuffle. Scale shape is
    identical to q22's: bounded by cap²/2 pairs per shingle, never
    all-pairs."""
    from lynx_spark.operators._util import sorted_pairs_expr

    grouped = _grouped_shingles(
        df, id_col, text_col, n, max_doc_freq, with_base=False
    ).persist()
    # no eager count (r15): see jaccard_pairs
    sh = _exploded_shingles(grouped)
    pair_stream = (
        grouped.filter(F.size("docs") >= 2)
        .select(F.explode(sorted_pairs_expr("docs", None)).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
    )
    common = pair_stream.groupBy("a_id", "b_id").agg(
        F.count("*").cast("long").alias("n_common")
    )
    # both directions of every unordered candidate: src's own size is
    # the denominator, so the pair (short, long) scores high exactly
    # when short is included in long
    directed = common.select(
        F.col("a_id").alias("src_id"),
        F.col("b_id").alias("dst_id"),
        "n_common",
    ).unionByName(
        common.select(
            F.col("b_id").alias("src_id"),
            F.col("a_id").alias("dst_id"),
            "n_common",
        )
    )
    sizes = sh.groupBy("doc").agg(F.count("*").cast("long").alias("n_sh"))
    ssrc = sizes.select(
        F.col("doc").alias("src_id"), F.col("n_sh").alias("n_src")
    )
    return (
        directed.join(ssrc, "src_id")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.col("n_src"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "n_common", "containment")
    )


def _jaccard_verify(
    cands: DataFrame,
    docsets: DataFrame,
    left: str,
    right: str,
    threshold: float,
) -> DataFrame:
    """(left, right, jaccard) for candidate pairs passing the exact
    Jaccard threshold, computed from per-document shingle sets via
    array_intersect — two key-equality joins (AQE broadcasts the
    small side; the candidate set after LSH/banding is ≪ corpus) and
    zero further aggregation."""
    sa = docsets.select(F.col("doc").alias(left), F.col("shset").alias("_sa"))
    sb = docsets.select(F.col("doc").alias(right), F.col("shset").alias("_sb"))
    n_common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    jac = n_common / (F.size("_sa") + F.size("_sb") - n_common)
    return (
        cands.join(sa, left)
        .join(sb, right)
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(left, right, "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """Set-similarity join by PREFIX FILTERING (the PPJoin family,
    Xiao et al., WWW'08) at Jaccard >= t_num/t_den over word n-gram
    shingle sets — the exact, NO-false-negative alternative to
    MinHash/LSH banding (minhash_lsh_pairs can miss a qualifying
    pair; this cannot).

    The filter: order the shingle universe by ascending document
    frequency (rarest first, shingle string as the total-order tie
    break), and index each document's first
    ``n_sh - ceil(t*n_sh) + 1`` shingles only. Any pair with Jaccard
    >= t MUST share a prefix shingle (pigeonhole on the overlap lower
    bound), so the candidate equi-join runs over globally RARE keys —
    boilerplate/stopword shingles sit at the back of every prefix and
    never join, which is exactly the quadratic hole a naive
    inverted-index join has. All threshold arithmetic stays in
    integers (ceil(t*n) as (t_num*n + t_den - 1) // t_den; the final
    gate as t_den*inter >= t_num*union) so engines agree exactly.

    Shape: one shuffle to build distinct (doc, shingle); one
    aggregation each for per-doc sizes and shingle df; one per-doc
    rank window (partition = doc, so no global sort); a rare-key
    self-equi-join for candidates; verification by array_intersect on
    the two candidates' shingle sets — candidate pairs only, never
    all pairs. The shingle table feeds four consumers, hence the one
    internal persist (kept until unpersisted; a checkpoint at
    100 TB)."""
    sh = shingle_table(df, id_col, text_col, n).persist()
    # no eager count (r15): the pfx materialization below is the first
    # action and fills the cache; the separate pass was pure extra work
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rnk = F.row_number().over(
        Window.partitionBy("doc").orderBy("df", "shingle")
    )
    prefix_len = (
        F.col("n_sh")
        - F.floor(
            (F.lit(t_num) * F.col("n_sh") + F.lit(t_den - 1))
            / F.lit(t_den)
        )
        + F.lit(1)
    )
    # r14: pfx keeps n_sh (it already joined sizes for prefix_len) and
    # PERSISTS — the self-join below references it twice, and the two
    # physical subtrees re-ran the df join + rank window + sizes join
    # per side (exchange reuse dedups shuffles, not the window/join
    # compute between them; measured ~1.2s of the q170 wall)
    pfx = (
        sh.join(dfc, "shingle")
        .withColumn("rnk", rnk)
        .join(sizes, "doc")
        .filter(F.col("rnk") <= prefix_len)
        .select("doc", "shingle", "n_sh")
        .persist()
    )
    pfx.count()
    # r14: PPJoin's LENGTH filter joins the candidate generation —
    # Jaccard >= t requires the two set sizes within t of each other
    # (ni <= min(n_a, n_b), so t_den*min >= t_num*(n_a+n_b-min) is a
    # NECESSARY condition of the final gate: every pair it drops would
    # fail verification anyway — zero false negatives, pure integer
    # arithmetic). Measured: 202k -> 104k candidates before the
    # distinct and the array_intersect verification at sf0.1.
    _min_n = F.least(F.col("a.n_sh"), F.col("b.n_sh"))
    cand = (
        pfx.alias("a")
        .join(
            pfx.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (
                F.lit(t_den) * _min_n
                >= F.lit(t_num)
                * (F.col("a.n_sh") + F.col("b.n_sh") - _min_n)
            ),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
        .persist()  # two consumers (cand_ids + the verify join) —
        # unpersisted, the rare-key self-join would compute twice
    )
    n_cand = cand.count()
    pfx.unpersist()  # sole consumer (the self-join) materialized
    # materialize full shingle arrays ONLY for docs that appear in a
    # candidate pair (prefix filtering bounds candidates, so this set
    # is output-sized): without the semi-join the collect_list
    # aggregation builds a sorted array for EVERY corpus document —
    # corpus-sized array state for a candidate-sized verify (r8 fix)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # candidate count is data-dependent (a high-duplication corpus can
    # make it arbitrarily large), so the broadcast hint for the semi-
    # join is gated on the count the persist already paid for: 2*pairs
    # bounds the distinct-id set; past the ceiling the hint is dropped
    # and AQE picks the join strategy from real sizes (r10 guard)
    docsets = (
        sh.join(broadcast_if_counted(cand_ids, 2 * n_cand), "doc", "left_semi")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("shingle")).alias("shset"))
    )
    sa = docsets.select(
        F.col("doc").alias("doc_a"),
        F.col("shset").alias("_sa"),
        F.size("shset").cast("long").alias("n_a"),
    )
    sb = docsets.select(
        F.col("doc").alias("doc_b"),
        F.col("shset").alias("_sb"),
        F.size("shset").cast("long").alias("n_b"),
    )
    ni = F.size(F.array_intersect(F.col("_sa"), F.col("_sb"))).cast("long")
    un = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_inter", ni)
        .filter(F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * un)
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            (
                F.floor(
                    (F.col("n_inter").cast("double") / un) * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("jaccard"),
        )
    )


def _minhash_aggs() -> list[F.Column]:
    """MINHASH_NUM min-aggregations over the decorrelated affine
    family h_s(base) = (a_s * ((base XOR k_s) mod P) + b_s) mod P —
    integer-only per row (the one md5 behind ``base`` ran once per
    DISTINCT shingle in the grouped build). The XOR mixes the function
    index into the raw 60-bit base BEFORE the mod-P reduction, so a
    base collision mod P does not collide in every function (see
    MINHASH_K). All intermediates stay under 2^62 — no 64-bit overflow
    in either engine. A uniform permutation surrogate whose twin
    exists in any SQL dialect (minhash_sql_exprs); the oracle runs the
    byte-identical computation in DuckDB. r1 used
    min(md5(seed || shingle)) per function — MINHASH_NUM string hashes
    per (doc, shingle) row, which dominated the whole q23 profile at
    sf0.1."""
    return [
        F.min(
            (
                MINHASH_A[s]
                * (F.col("base").bitwiseXOR(F.lit(MINHASH_K[s])) % MINHASH_PRIME)
                + MINHASH_B[s]
            )
            % MINHASH_PRIME
        ).alias(f"mh{s}")
        for s in range(MINHASH_NUM)
    ]


def minhash_sql_exprs() -> list[str]:
    """The DuckDB twin of _minhash_aggs, bit-for-bit: one
    ``min(...) AS mh{s}`` SQL expression per function over a ``base``
    column — THE single source the oracle CTE generators interpolate,
    so the SQL family can never drift from the Spark family."""
    return [
        f"min(({MINHASH_A[s]} * (xor(base, {MINHASH_K[s]}::BIGINT) "
        f"% {MINHASH_PRIME}) + {MINHASH_B[s]}) % {MINHASH_PRIME}) AS mh{s}"
        for s in range(MINHASH_NUM)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    shingles: DataFrame | None = None,
    with_shingle_sets: bool = False,
) -> DataFrame:
    """Per-document MinHash signature + banded LSH bucket hashes.
    Pass a precomputed (doc, shingle, base) table to share the build
    with the verification stage; ``with_shingle_sets`` folds the
    per-doc shingle set into the SAME aggregation (the Jaccard
    verification consumes it via array_intersect — no second pass
    over the shingle table, no verification joins against it)."""
    if shingles is not None:
        sh = shingles
    else:
        sh = shingle_table(df, id_col, text_col, n)
    if "base" not in sh.columns:
        sh = sh.withColumn("base", base_hash_expr(F.col("shingle")))
    # n_sh rides along in the same aggregate: the Jaccard verification
    # needs per-doc shingle counts, and folding them here saves a
    # whole separate groupBy pass over the shingle table
    extra = (
        [F.collect_set("shingle").alias("shset")] if with_shingle_sets else []
    )
    sig = sh.groupBy("doc").agg(
        *_minhash_aggs(), F.count("*").alias("n_sh"), *extra
    )
    rows_per_band = MINHASH_NUM // MINHASH_BANDS
    for band in range(MINHASH_BANDS):
        cols = [f"mh{band * rows_per_band + r}" for r in range(rows_per_band)]
        sig = sig.withColumn(f"band{band}", F.md5(F.concat_ws("|", *cols)))
    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """MinHash-LSH candidate pairs, verified with true Jaccard.

    Candidates = documents agreeing on at least one LSH band — a
    key-equality self-join per band (shuffle on the band hash), unioned
    and deduped. Only candidates pay the exact-Jaccard verification.

    Two scale caps close the shape's quadratic holes:
    - ``max_doc_freq`` drops boilerplate shingles in the grouped
      build, so one stop-phrase never dominates either stage;
      signatures over the capped space are what the oracle computes
      too.
    - ``max_bucket`` bounds candidate fan-out when one LSH bucket
      holds many near-identical documents (star pattern in
      banded_self_pairs keeps the cluster connected).

    ONE persisted table (sig) carries everything downstream of the
    shingle build: minhash minima, band hashes AND the per-doc shingle
    set, all folded into a single aggregation — the verification stage
    is then two joins on the candidate ids with an array_intersect,
    never touching the shingle table again. Per-doc sets are bounded
    by document length, so sig rows stay executor-sized at any corpus
    scale (this IS the signature store an incremental pipeline would
    persist)."""
    sig, cands = _sig_and_candidates(
        df, id_col, text_col, n, max_doc_freq, max_bucket
    )
    return _jaccard_verify(
        cands, sig.select("doc", "shset"), "a_id", "b_id", threshold
    )


def _sig_and_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
    max_bucket: int | None = MAX_BAND_BUCKET,
):
    """THE shared candidate generator: the persisted signature table
    (minhash minima + band hashes + capped shingle sets, one
    aggregation) and its banded candidate pairs. minhash_lsh_pairs
    and the sketch audit both consume this single build, so an audit
    always audits the REAL candidate set and a change to candidate
    generation can never diverge between them (r5 review: the audit
    previously copy-pasted this stage)."""
    grouped = _grouped_shingles(df, id_col, text_col, n, max_doc_freq)
    sig = minhash_signatures(
        df, id_col, text_col, n,
        shingles=_exploded_shingles(grouped),
        with_shingle_sets=True,
    ).persist()
    # no eager count (r15): the first consuming action fills the cache
    # under block locks; the separate pass was pure extra work
    cands = banded_self_pairs(
        sig, "doc", [f"band{b}" for b in range(MINHASH_BANDS)], max_bucket
    )
    return sig, cands


def minhash_pairs_from_sig(
    sig: DataFrame,
    threshold: float = 0.5,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Verified near-dup pairs from an ALREADY-BUILT signature table
    (build_signature_store / _sig_and_candidates output): banded
    candidates + true-Jaccard verification, skipping the signature
    build — for callers that computed signatures anyway (the
    streaming cluster tier builds them as the store delta)."""
    cands = banded_self_pairs(
        sig, "doc", [f"band{b}" for b in range(MINHASH_BANDS)], max_bucket
    )
    return _jaccard_verify(
        cands, sig.select("doc", "shset"), "a_id", "b_id", threshold
    )


# ------------------------------------------------------ incremental dedup
#
# The store tier: fingerprints (exact) and minhash signatures + capped
# shingle sets (near-dup) persist as parquet so a later batch loads the
# "seen" side instead of recomputing it. At 100 TB the store is the
# operational heart of continuous ingestion — append-only parquet,
# hash-distributed on its join key (fingerprint / doc), with each
# batch's survivors appended as the next delta.


def write_fingerprint_store(
    fps: DataFrame, path: str, mode: str = "append"
) -> None:
    """Append a batch's fingerprint delta to the parquet store. The
    delta fed here is incremental_exact_survivors' output (already
    anti-joined against the store), so the store stays duplicate-free
    without a rewrite — append-only, the only write pattern that
    scales to continuous ingestion."""
    fps.select("fingerprint").write.mode(mode).parquet(path)


def read_fingerprint_store(spark, path: str) -> DataFrame:
    """The fingerprint store as a DataFrame (one ``fingerprint``
    column) — the ``seen_fps`` side of incremental_exact_survivors."""
    return spark.read.parquet(path).select("fingerprint")


def build_signature_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """The near-dup store rows for a batch: per-doc minhash minima,
    LSH band hashes AND the df-capped shingle set, all folded into one
    aggregation (the same single-pass build minhash_lsh_pairs uses).
    Rows are bounded by document length, so the store is O(corpus
    docs), never O(shingles). Columns: doc, mh0..mh{N-1}, n_sh,
    shset, band0..band{B-1}."""
    d = df.select(
        F.col(id_col).cast("long").alias("_uid"), F.col(text_col).alias("_t")
    )
    grouped = _grouped_shingles(d, "_uid", "_t", n, max_doc_freq)
    return minhash_signatures(
        d, "_uid", "_t", n,
        shingles=_exploded_shingles(grouped),
        with_shingle_sets=True,
    )


def write_signature_store(
    sig: DataFrame, path: str, mode: str = "append"
) -> None:
    """Append a batch's signature rows to the parquet store."""
    sig.write.mode(mode).parquet(path)


def read_signature_store(spark, path: str) -> DataFrame:
    """The signature store as a DataFrame — the ``seen`` side of
    incremental_minhash_matches_from_store."""
    return spark.read.parquet(path)


def incremental_minhash_matches_from_store(
    new_df: DataFrame,
    seen_sig: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """(new_id, seen_id, jaccard) against a PERSISTED signature store:
    the operational form of incremental_minhash_matches — the seen
    side's signatures and shingle sets are loaded, never recomputed,
    so each batch's cost is O(batch) + the bipartite band join.

    ``new_sig`` lets a caller that already built the batch's
    signature rows (the streaming tier builds them anyway as the
    store's next delta) pass them in instead of paying the build
    twice; the caller owns that frame's persistence.

    Semantics note: the document-frequency cap is evaluated per batch
    here (the store's rows were capped against THEIR batch), while the
    recompute path caps against the union. The cap is a boilerplate
    guard orders of magnitude above ordinary document frequencies, so
    the two agree except on shingles crossing the cap exactly at a
    batch boundary — the price of never rescanning the corpus."""
    from lynx_spark.operators._util import explode_bands

    if new_sig is None:
        new_sig = build_signature_store(
            new_df, id_col, text_col, n, max_doc_freq
        ).persist()
        new_sig.count()  # eager: band join + verification both read it
    band_cols = [f"band{b}" for b in range(MINHASH_BANDS)]
    nb = explode_bands(new_sig, "doc", band_cols)
    sb = explode_bands(seen_sig, "doc", band_cols)
    cands = (
        nb.select(F.col("doc").alias("new_id"), "band_no", "bh")
        .join(
            sb.select(F.col("doc").alias("seen_id"), "band_no", "bh"),
            ["band_no", "bh"],
        )
        .select("new_id", "seen_id")
        .distinct()
    )
    docsets = new_sig.select("doc", "shset").unionByName(
        seen_sig.select("doc", "shset")
    )
    return _jaccard_verify(cands, docsets, "new_id", "seen_id", threshold)


def incremental_exact_survivors(
    new_df: DataFrame,
    seen_fps: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact-tier incremental dedup: the continuous-ingestion shape.
    ``seen_fps`` is the fingerprint store of everything already
    ingested (one ``fingerprint`` column); the incoming batch dedups
    within itself (min id per fingerprint) and then anti-joins the
    store — survivors are exactly the rows to append, and their
    fingerprints are the store's next delta. Both steps are one
    shuffle on the fingerprint; when the store fits the broadcast
    threshold AQE turns the anti-join map-side."""
    fp = new_df.select(
        F.md5(F.col(text_col)).alias("fingerprint"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    batch = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("survivor_id")
    )
    return batch.join(seen_fps, "fingerprint", "left_anti")


def incremental_minhash_matches(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-dup tier of incremental dedup: (new_id, seen_id, jaccard)
    for incoming documents that near-duplicate the already-ingested
    corpus — the cross-run twin of minhash_lsh_pairs. Signatures come
    from ONE capped shingle table over the union (so document
    frequencies — and the cap — see the whole corpus, exactly what a
    persisted signature store would hold); candidates meet by band
    equality ACROSS the two sets only (a bipartite join on the
    composite (band_no, bh) key — never new×new or seen×seen), and
    true Jaccard verifies. incremental_minhash_matches_from_store is
    the operational form — the seen side loaded from the persisted
    parquet signature store instead of recomputed; this recompute
    variant is its oracle-checkable twin (identical join shapes, df
    cap over the union instead of per batch)."""
    from lynx_spark.operators._util import explode_bands

    union = new_df.select(
        F.col(id_col).cast("long").alias("_uid"), F.col(text_col).alias("_t")
    ).unionByName(
        seen_df.select(
            F.col(id_col).cast("long").alias("_uid"),
            F.col(text_col).alias("_t"),
        )
    )
    grouped = _grouped_shingles(union, "_uid", "_t", n, max_doc_freq)
    sig = minhash_signatures(
        union, "_uid", "_t", n,
        shingles=_exploded_shingles(grouped),
        with_shingle_sets=True,
    ).persist()
    sig.count()
    new_ids = new_df.select(F.col(id_col).cast("long").alias("doc")).distinct()
    seen_ids = seen_df.select(F.col(id_col).cast("long").alias("doc")).distinct()
    band_cols = [f"band{b}" for b in range(MINHASH_BANDS)]
    # membership via semi join — no broadcast hint: the seen corpus is
    # unbounded at scale, and AQE picks broadcast when a side is small
    nb = explode_bands(
        sig.join(new_ids, "doc", "left_semi"), "doc", band_cols
    )
    sb = explode_bands(
        sig.join(seen_ids, "doc", "left_semi"), "doc", band_cols
    )
    cands = (
        nb.select(F.col("doc").alias("new_id"), "band_no", "bh")
        .join(
            sb.select(F.col("doc").alias("seen_id"), "band_no", "bh"),
            ["band_no", "bh"],
        )
        .select("new_id", "seen_id")
        .distinct()
    )
    docsets = sig.select("doc", "shset")
    return _jaccard_verify(cands, docsets, "new_id", "seen_id", threshold)


# ---------------------------------------------------------------- simhash

_SIMHASH_BITS = 64


def _simhash_one(text: str) -> int:
    """64-bit SimHash over whitespace words, md5-based (deterministic
    across processes — no Python hash randomization). Per-row scalar
    reference implementation — the UDF runs the vectorized
    _simhash_batch; tests assert they agree bit-for-bit."""
    weights = [0] * _SIMHASH_BITS
    for word in text.split():
        h = int.from_bytes(hashlib.md5(word.encode("utf-8")).digest()[:8], "big")
        for bit in range(_SIMHASH_BITS):
            weights[bit] += 1 if (h >> bit) & 1 else -1
    out = 0
    for bit in range(_SIMHASH_BITS):
        if weights[bit] > 0:
            out |= 1 << bit
    # fold into signed 64-bit for Spark LongType
    return out - (1 << 64) if out >= (1 << 63) else out


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized SimHash: the md5-per-word digests are the only
    per-item Python left; the 64-bit majority vote is numpy
    (unpackbits over byte-reversed digests -> column sums -> sign ->
    packbits), replacing the 64-iteration inner loop per word."""
    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts.fillna("")):
        words = t.split()
        if not words:
            continue
        buf = b"".join(
            hashlib.md5(w.encode("utf-8")).digest()[:8] for w in words
        )
        digs = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 8)
        # byte-reverse + little bitorder => column k == bit k of the
        # big-endian uint64, matching _simhash_one's (h >> k) & 1
        bits = np.unpackbits(digs[:, ::-1], axis=1, bitorder="little")
        pos = bits.sum(axis=0, dtype=np.int64)
        sign = (2 * pos) > len(words)  # weights = 2*pos - n > 0
        packed = np.packbits(sign, bitorder="little")
        out[i] = np.frombuffer(packed.tobytes(), dtype="<i8")[0]
    return pd.Series(out)


@F.pandas_udf(LongType())
def _simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) — Arrow-batched pandas UDF; bit-twiddling is the
    genuinely non-SQL part, everything around it stays JVM-side."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _simhash_udf(F.col(text_col)).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance <= max_hamming.

    Candidates pair on identical 16-bit bands (pigeonhole: any pair
    within Hamming distance 3 agrees on at least one of 4 bands), so
    candidate generation is again an equality join, not a cross join —
    shared with the MinHash path via banded_self_pairs, including its
    ``max_bucket`` star-pattern cap (a corpus of near-identical pages
    collapses into one giant band bucket exactly like a hot LSH
    bucket)."""
    sig = simhash_signatures(df, id_col, text_col)
    for i in range(4):
        sig = sig.withColumn(
            f"sb{i}",
            F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(
                F.lit(0xFFFF)
            ),
        )
    # feeds the banded self-join (both sides) plus the two signature
    # lookups below — persist so the pandas-UDF signatures run once
    sig = sig.persist()
    sig.count()
    cands = banded_self_pairs(
        sig, "doc_id", [f"sb{i}" for i in range(4)], max_bucket
    )
    ha = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    hb = sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cands.join(ha, "a_id")
        .join(hb, "b_id")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def minhash_estimate_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = SHINGLE_N,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Sketch-accuracy audit: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (fraction of agreeing signature
    components — the only similarity a sketch-only pipeline ever
    sees) next to the TRUE n-gram Jaccard, with the absolute error.
    The operational check that the sketch family is calibrated before
    trusting it at a scale where exact verification is unaffordable
    (run on a sample; the estimator's error bound is
    O(1/sqrt(num_hashes))).

    Shares _sig_and_candidates with minhash_lsh_pairs — the audit
    audits the REAL candidate set by construction, not a re-created
    one. Zero-overlap candidates (band collision without shared
    shingles) stay in the output with true_jaccard 0: those are
    exactly the estimator's worst case."""
    sig, cands = _sig_and_candidates(
        df, id_col, text_col, n, max_doc_freq, max_bucket
    )
    mh_arr = F.array(*[F.col(f"mh{s}") for s in range(MINHASH_NUM)])
    side = lambda tag: sig.select(  # noqa: E731
        F.col("doc").alias(f"{tag}_id"),
        mh_arr.alias(f"_{tag}mh"),
        F.col("shset").alias(f"_{tag}sh"),
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(
                    F.col("_amh"), F.col("_bmh"), lambda x, y: x == y
                ),
                lambda m: m,
            )
        )
        / F.lit(float(MINHASH_NUM)),
        4,
    )
    n_common = F.size(F.array_intersect(F.col("_ash"), F.col("_bsh")))
    true_j = F.round(
        n_common
        / (F.size(F.col("_ash")) + F.size(F.col("_bsh")) - n_common),
        4,
    )
    return (
        cands.join(side("a"), "a_id")
        .join(side("b"), "b_id")
        .withColumn("est_jaccard", est)
        .withColumn("true_jaccard", true_j)
        .select(
            "a_id",
            "b_id",
            "est_jaccard",
            "true_jaccard",
            F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 4)
            .alias("abs_err"),
        )
    )


def lsh_recall_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH recall audit: one row comparing the exhaustive n-gram
    Jaccard pairs (ground truth — affordable on a SAMPLE, which is
    how this runs at corpus scale) against what MinHash-LSH banding
    found at the same threshold. Because LSH candidates are verified
    with true Jaccard over the same capped shingles, found ⊆ truth —
    precision is 1 by construction and RECALL is the metric: pairs
    the banding missed are near-dups that slip through dedup.
    Companion to the sketch-accuracy audit (estimator calibration);
    this one audits the CANDIDATE GENERATOR.

    Output: (n_true_pairs, n_found_pairs, recall). Three single-row
    aggregates broadcast-joined — the pair frames never leave the
    executors."""
    truth = jaccard_pairs(
        df, id_col, text_col, threshold=threshold
    ).select("a_id", "b_id").persist()
    truth.count()  # eager: the hit join + count branch share the cache
    found = minhash_lsh_pairs(
        df, id_col, text_col, threshold=threshold
    ).select("a_id", "b_id").persist()
    found.count()  # eager, ditto (see lsh_ann_topk)
    hit = truth.join(found, ["a_id", "b_id"])
    return (
        truth.agg(F.count("*").alias("n_true_pairs"))
        .join(F.broadcast(found.agg(F.count("*").alias("n_found_pairs"))))
        .join(F.broadcast(hit.agg(F.count("*").alias("_n_hit"))))
        .select(
            "n_true_pairs",
            "n_found_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(1.0))
            .otherwise(
                F.round(F.col("_n_hit") / F.col("n_true_pairs"), 4)
            )
            .alias("recall"),
        )
    )


def per_source_dedup_stats(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    domain_col: str,
) -> DataFrame:
    """Per-domain duplication report: for each source, how many
    documents, how many sit in a multi-document near-dup cluster,
    and the duplication rate — the reporting layer pipelines publish
    after a dedup pass (which domains are flooding the corpus with
    copies). Cluster sizes are computed globally (a cluster may span
    sources — each member still counts as duplicated in ITS source);
    one window on the cluster assignment plus one domain-granular
    aggregate."""
    from pyspark.sql.window import Window

    sized = clusters.withColumn(
        "_sz", F.count("*").over(Window.partitionBy("cluster_id"))
    )
    joined = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(domain_col).alias("domain"),
    ).join(sized, "doc_id")
    dup = F.sum((F.col("_sz") > 1).cast("long"))
    return joined.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        dup.alias("n_dup_docs"),
        F.round(dup / F.count("*"), 4).alias("dup_rate"),
    )


def _bloom_positions(fp_hex: str, m_bits: int) -> tuple[int, ...]:
    """k=4 Bloom probe positions for an md5-hex fingerprint, derived
    from the digest's own 128 bits (4 independent 32-bit slices) —
    the fingerprint IS the hash family, no re-hashing needed."""
    return tuple(
        int(fp_hex[i * 8 : (i + 1) * 8], 16) % m_bits for i in range(4)
    )


def _or_bytes(a: bytes, b: bytes) -> bytes:
    """Bitwise-OR of two equal-length filters via big-int OR — one
    C-level op instead of a per-byte Python loop (review finding:
    the generator form did 10⁶ interpreted ops per merge)."""
    return (int.from_bytes(a, "big") | int.from_bytes(b, "big")).to_bytes(
        len(a), "big"
    )


def build_fingerprint_bloom(seen_fps: DataFrame, m_bits: int = 1 << 23) -> bytes:
    """Distributed Bloom-filter build over the fingerprint store:
    each partition folds its fingerprints into a local bitset
    (executor-side), and the driver only OR-merges the m/8-byte
    filters — the store's DATA never reaches the driver, just filter
    bytes (1 MiB at the default 2²³ bits; size m ≈ 10·n for ~1% fpp
    with k=4); merges combine in a tree, so the driver sees
    O(log partitions) filters, not all of them sequentially."""
    assert m_bits % 8 == 0, "m_bits must be a multiple of 8"
    m = m_bits

    def fold(it):
        bits = bytearray(m // 8)
        for row in it:
            fp = row["fingerprint"]
            if fp is None:
                continue
            for pos in _bloom_positions(fp, m):
                bits[pos >> 3] |= 1 << (pos & 7)
        yield bytes(bits)

    parts = seen_fps.select("fingerprint").rdd.mapPartitions(fold)
    if parts.getNumPartitions() == 0:
        return bytes(m // 8)
    return parts.treeReduce(_or_bytes)


def bloom_prefiltered_survivors(
    new_df: DataFrame,
    seen_fps: DataFrame,
    id_col: str,
    text_col: str,
    m_bits: int = 1 << 23,
) -> DataFrame:
    """Exact-tier incremental dedup with a Bloom prefilter — the
    Common-Crawl-scale shape of ``incremental_exact_survivors``: a
    Bloom filter built distributed over the store's fingerprints
    (``build_fingerprint_bloom``) broadcasts to the batch scan, and
    only rows whose fingerprint MIGHT be in the store reach the
    anti-join. At 100 TB the store anti-join's probe volume drops
    from the whole batch to ~(dup_rate + fpp) of it — new content
    short-circuits map-side without shuffling against the store.

    Correctness is UNCHANGED from the plain path (asserted in tests):
    a Bloom filter has no false negatives, so every true duplicate
    still reaches the anti-join that removes it; false positives are
    simply anti-joined away."""
    fp = new_df.select(
        F.md5(F.col(text_col)).alias("fingerprint"),
        F.col(id_col).cast("long").alias("doc_id"),
    )
    batch = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("survivor_id")
    )
    bits = build_fingerprint_bloom(seen_fps, m_bits)
    spark = new_df.sparkSession
    bc = spark.sparkContext.broadcast(bits)
    m = m_bits

    @F.pandas_udf("boolean")
    def _might_be_seen(fps: pd.Series) -> pd.Series:
        # Arrow-batched membership probe (UDFs-are-the-slow-path rule:
        # when Python is unavoidable, batch it)
        b = bc.value

        def chk(fp_hex) -> bool:
            if fp_hex is None:
                # a NULL fingerprint can't be in the store; matches
                # the plain path, where NULL never joins and survives
                return False
            return all(
                b[pos >> 3] & (1 << (pos & 7))
                for pos in _bloom_positions(fp_hex, m)
            )

        return fps.map(chk)

    # probe ONCE: flag on a persisted frame, then split — two naive
    # filter() branches would re-run the md5 scan, the fingerprint
    # shuffle and the Python probe per branch (review finding)
    flagged = batch.withColumn(
        "_maybe", _might_be_seen("fingerprint")
    ).persist()
    flagged.count()  # eager: both split branches read the cache
    fresh = flagged.filter(~F.col("_maybe")).drop("_maybe")
    # only the maybe-dups pay the store join; fresh rows pass through
    confirmed_new = flagged.filter(F.col("_maybe")).drop("_maybe").join(
        seen_fps, "fingerprint", "left_anti"
    )
    return fresh.unionByName(confirmed_new)
