"""Shared operator utilities."""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words_col(text_col: str) -> Column:
    """THE canonical whitespace tokenization, shared by every text
    operator (dedup shingles, corpus signals, quality entropy) and
    mirrored by each DuckDB oracle's string_split_regex — one
    definition so word boundaries can never silently diverge between
    operator families."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def double_sql(x: float) -> str:
    """Exact SQL text of one double: ``repr`` is the shortest decimal
    that parses back to the same IEEE value, and the ``D`` suffix makes
    Spark read it as a DOUBLE (a bare ``0.5`` is a DECIMAL). NaN and
    the infinities have no literal form, so they go through a cast."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"


def double_array_sql(values: Sequence) -> str:
    """A (nested) list of floats as ONE ``array(array(...), ...)`` SQL
    literal, every element exact (see ``double_sql``). Constant
    matrices (LSH hyperplanes, centroids, codebooks, projections) go
    into plans this way: the text crosses to the JVM in one call,
    where every per-element ``F.lit`` costs at least one py4j round
    trip."""
    return "array(" + ", ".join(
        double_array_sql(v) if isinstance(v, (list, tuple)) else double_sql(v)
        for v in values
    ) + ")"


def explode_bands(df: DataFrame, id_col: str, band_cols: list[str]) -> DataFrame:
    """(id, band_no, bh) rows from one row per id with N band/bucket
    columns — the shared candidate-generation shape for every LSH
    operator (MinHash bands, hyperplane buckets): candidates then meet
    by equality on the composite (band_no, bh) key, one join instead
    of one join per band."""
    bands = ", ".join(
        f"named_struct('band_no', {i}, 'bh', `{c}`)"
        for i, c in enumerate(band_cols)
    )
    return df.selectExpr(
        f"`{id_col}` AS _id", f"explode(array({bands})) AS bb"
    ).selectExpr(f"_id AS `{id_col}`", "bb.band_no", "bb.bh")


def banded_self_pairs(
    df: DataFrame,
    id_col: str,
    band_cols: list[str],
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (a_id, b_id) pairs (a < b) agreeing on at least one
    band — the candidate-generation step of every LSH dedup operator.

    Shape: ONE shuffle. Banded rows group by (band_no, bh) into a
    sorted id set per bucket; pairs are then emitted by array
    expressions (codegen, JVM-side) — all i<j combinations for normal
    buckets, and for buckets larger than ``max_bucket`` the star
    pattern: every member pairs with the bucket's minimum id only.
    The star keeps a duplicate cluster connected (any member reaches
    any other through the representative) at linear instead of
    quadratic cost — the guard against the LSH hole where a bucket of
    k near-identical documents yields k²/2 pairs (10⁶ copies of one
    boilerplate page → 5·10¹¹ pairs from a single bucket). The
    ``when`` picks the generator per bucket, so the quadratic branch
    is never evaluated for oversized buckets.

    Earlier revisions did a self-JOIN on the bucket key plus a
    broadcast of oversized keys — two more exchanges and a broadcast
    build per call for the same output. The one cost of the grouped
    form is the transient per-bucket id array (a 10⁶-member bucket is
    an ~8 MB aggregation buffer on one key, discarded at the explode);
    per-bucket output stays bounded by min(k², max_bucket²)/2.

    With ``max_bucket=None`` the quadratic pair array of a hot bucket
    would materialize as ONE in-memory value (k²/2 structs — an OOM or
    the 2³¹ array-element limit for k ~ 10⁵), so the uncapped case
    keeps the old join form, which streams the quadratic output
    instead of buffering it."""
    banded = explode_bands(df, id_col, band_cols)
    if max_bucket is None:
        a = banded.select(F.col(id_col).alias("a_id"), "band_no", "bh")
        b = banded.select(F.col(id_col).alias("b_id"), "band_no", "bh")
        return (
            a.join(b, ["band_no", "bh"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
    buckets = banded.groupBy("band_no", "bh").agg(
        F.expr(f"array_sort(collect_set(`{id_col}`)) AS ids")
    )
    return (
        buckets.select(
            F.explode(sorted_pairs_expr("ids", max_bucket)).alias("p")
        )
        .selectExpr("p.a AS a_id", "p.b AS b_id")
        .distinct()
    )


def sorted_pairs_expr(ids: str, max_size: int | None) -> Column:
    """array<struct<a,b>> of i<j pairs from the SORTED id array in
    column ``ids`` — all combinations for arrays within ``max_size``,
    else the star pattern (every member paired with the minimum id),
    which keeps a duplicate cluster connected at linear instead of
    quadratic cost. Pure array expressions: JVM-side, codegen, no
    join. Shared by the LSH bucket pair generation and the
    inverted-index (shingle-group) pair generation. The ``CASE`` picks
    the generator per array, so the quadratic branch is never
    evaluated for oversized arrays."""
    c = f"`{ids}`"
    allpairs = (
        f"flatten(transform({c}, (x, i) -> transform("
        f"slice({c}, i + 2, size({c})), y -> named_struct('a', x, 'b', y))))"
    )
    if max_size is None:
        return F.expr(allpairs)
    star = (
        f"transform(slice({c}, 2, size({c})), "
        f"y -> named_struct('a', {c}[0], 'b', y))"
    )
    return F.expr(
        f"CASE WHEN size({c}) <= {int(max_size)} THEN {allpairs} "
        f"ELSE {star} END"
    )


# Row-count ceiling under which a KNOWN-small frame may carry an
# explicit broadcast hint.  2M two-column long rows is ~32 MB on the
# driver — comfortably inside a default 1g driver heap, an order of
# magnitude above the sf0.1 frames that want the hint, and far below
# anything corpus-shaped.  Module-level (read at call time, not bound
# as a default arg) so tests can force the shuffle regime.
_BROADCAST_MAX_ROWS = 2_000_000


def broadcast_if_counted(
    df: DataFrame, known_rows: int | None, max_rows: int | None = None
) -> DataFrame:
    """Broadcast hint gated on a row count the caller ALREADY knows.

    A forced ``F.broadcast()`` bypasses Spark's size check, so a hint
    on a data-dependent frame (candidate-id sets, node->label maps) is
    a driver-OOM at 100 TB even though it is the right plan at every
    test SF.  The contract here: hint ONLY when the caller has a real
    count (or a proven upper bound) from work it already did, and that
    count is under the ceiling; otherwise return the frame un-hinted
    and let AQE convert the shuffle join to broadcast from runtime
    stats when it genuinely fits.  Never count a frame just to call
    this — an un-hinted join costs at most one avoidable shuffle,
    which AQE usually removes anyway."""
    limit = _BROADCAST_MAX_ROWS if max_rows is None else max_rows
    if known_rows is not None and known_rows <= limit:
        return F.broadcast(df)
    return df


def _parse_bytes(v: str) -> int:
    """Spark size-conf string ('134217728b', '128m', '1g', plain
    int) -> bytes."""
    v = v.strip().lower()
    units = {
        "k": 1 << 10,
        "m": 1 << 20,
        "g": 1 << 30,
        "t": 1 << 40,
        "p": 1 << 50,
    }
    if v.endswith("b"):
        v = v[:-1]
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives under-partitioned (e.g. one small parquet file).

    Operators that EXPAND data per row (shingle explode, hyperplane
    folds, signature hashing) do their heavy work in the stage that
    reads the input; if that stage has one partition the whole cluster
    waits on one core.

    The under-partitioned check is SIZE-based, from the optimizer's
    logical statistics (for file scans: the files' byte total, already
    known from listing — no job, no physical planning). The previous
    ``df.rdd.getNumPartitions()`` probe forced physical planning plus
    an RDD DAG build on the driver per call — cheap at sf0.1,
    measurable at 100 TB plan sizes. A frame whose estimated size is
    at least defaultParallelism * maxPartitionBytes already splits
    into >= defaultParallelism scan partitions, so the repartition
    would be a no-op there and is skipped without any probe job;
    anything smaller repartitions, a shuffle bounded by that same
    product (a few GB) — trivial next to the expansion work it
    parallelizes."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        max_pb = _parse_bytes(
            spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728b"
            )
        )
    except ValueError:
        max_pb = 128 * (1 << 20)
    size = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if size < target * max_pb:
        return df.repartition(target)
    return df
