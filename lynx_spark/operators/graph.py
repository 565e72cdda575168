"""Connected components — dedup-cluster resolution.

The dedup operators (q22/q23/q30/q37) emit near-duplicate PAIRS; what
a curation pipeline actually needs is the partition of the corpus into
duplicate CLUSTERS (connected components of the pair graph) and one
survivor per cluster. The reference engine has no graph surface; this
is a BASELINE.json north-star extension.

Algorithm: min-label propagation to fixpoint — every vertex starts
labeled with its own id; each round, every vertex takes the minimum
label among itself and its neighbors; at fixpoint the label is the
minimum vertex id of the component (the canonical cluster id, the same
convention the star-pattern pair capping already uses). Each round is
ONE shuffle: a join of the symmetrized edge list against the current
labels on the edge source, then a min-aggregation over the
destination. Rounds needed = graph diameter, which for dedup graphs
is small by construction: LSH bucket pairs form near-cliques, and the
``max_bucket`` star fallback links members directly to the bucket
minimum (diameter <= 2 per bucket, so a handful of rounds even across
chained buckets). For adversarial long-chain graphs whose diameter
exhausts MAX_CC_ITERS, the loop hands off to
``star_connected_components`` — the large-star/small-star variant
(Kiveris et al., "Connected Components in MapReduce and Beyond") that
converges in O(log n) rounds with the same key-equality-shuffle
building blocks.

Convergence detection without a compare-join: labels only ever
DECREASE, so the fixpoint is reached exactly when sum(labels) stops
changing — one scalar aggregate per round (summed as DECIMAL(38,0) so
a 10^12-vertex corpus cannot overflow the check). Each round's labels
are eagerly localCheckpoint-ed and the previous round's checkpoint
released — the standard iterative driver loop (GraphX/GraphFrames do
the same); the frame-lifetime helpers live in ``_util``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from lynx_spark.operators._util import (
    _collect_then_release,
    _finalize_iterative,
    _release_frame,
    _truncate_round,
    _truncates,
    broadcast_if_counted,
    double_sql,
)

#: propagation-round guard; diameter of dedup pair graphs is tiny, so
#: hitting this indicates a pathological chain — the loop then hands
#: off to the O(log n) large-star/small-star variant instead of
#: burning a round per hop of diameter
MAX_CC_ITERS = 30
#: round guard for the star variant (rounds ~ log(diameter); 50 covers
#: any graph that fits in an exabyte)
MAX_STAR_ITERS = 50


def _q12(col: Column) -> Column:
    """floor(x·1e12 + 0.5) as an exact integer — the tie-safe
    cross-engine quantizer (multimodal's floor device lifted to the
    graph trajectories). round() on IDENTICAL doubles can disagree
    between engines when the value sits exactly on a decimal tie
    (Spark rounds the shortest decimal representation half-up, DuckDB
    rounds x·10^d whose product can land a hair below the tie) —
    observed on q127 at sf0.1. multiply/add/floor are IEEE-identical
    on identical inputs, and the integer domain then sums exactly.
    DECIMAL(38,0) so no in-degree at any scale overflows the sum."""
    return F.floor(col * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")


def _unq12(agg: Column) -> Column:
    """Back to double: an exact integer sum / 1e12 — the same two
    IEEE ops in both engines."""
    return agg.cast("double") / F.lit(1e12)


def _round8(col: Column) -> Column:
    """Tie-safe 8dp output rounding: floor(x·1e8 + 0.5)/1e8 (scores
    here are non-negative, so the floor device IS half-up)."""
    return F.floor(col * F.lit(1e8) + F.lit(0.5)) / F.lit(1e8)


def _dsum_sql(x: str) -> str:
    """SQL text of ``_unq12(sum(_q12(x)))``, double literals only."""
    return (
        f"CAST(sum(CAST(floor({x} * 1e12D + 0.5D) AS DECIMAL(38,0))) "
        "AS DOUBLE) / 1e12D"
    )


def _round8_sql(x: str) -> str:
    """SQL text of ``_round8(x)``."""
    return f"floor({x} * 1e8D + 0.5D) / 1e8D"


def _canonical_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (min, max) orientation, self
    loops dropped, deduplicated — the representation both star
    operations consume and emit."""
    return (
        e.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_stats(e: DataFrame) -> tuple:
    """(count, order-independent hash-sum) of a canonical edge set —
    one scalar aggregate, the same trick as the label-sum convergence
    check (DECIMAL(38,0) so no corpus overflows it)."""
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def star_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
    max_iter: int = MAX_STAR_ITERS,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log n) rounds regardless of diameter, where
    min-label propagation needs a round per hop. Each round is two
    window-min passes + two dedups — all key-equality shuffles.

    - large-star: every vertex attaches its LARGER neighbors to the
      minimum of its closed neighborhood (long tails fold in half);
    - small-star: every vertex and its SMALLER neighbors attach to
      that minimum (stars flatten onto the true minimum).

    At the fixpoint the edge set is exactly the star forest linking
    each vertex to its component's minimum id, detected by an
    order-independent (count, hash-sum) pair going stable — both star
    ops are idempotent on star forests. Output schema matches
    connected_components: (id, component), singletons labeled by
    themselves."""
    from pyspark.sql.window import Window

    e = _canonical_edges(
        edges.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
        )
    ).localCheckpoint(eager=True)
    stats = _edge_stats(e)
    for _ in range(max_iter):
        # large-star: symmetrize so every vertex is a center once per
        # incident edge; m = min(center, min neighbor); larger
        # neighbors re-attach to m
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m_large = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
        large = (
            sym.withColumn("m", m_large)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("d"))
        )
        e1 = _canonical_edges(large)
        # small-star: canonical orientation means the center's smaller
        # neighbors are exactly the "a" side grouped by "b"; both the
        # center and each smaller neighbor attach to the minimum
        m_small = F.min("a").over(Window.partitionBy("b"))
        small = (
            e1.withColumn("m", m_small)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("s"), F.col("m").alias("d")),
                        F.struct(F.col("b").alias("s"), F.col("m").alias("d")),
                    )
                ).alias("p")
            )
            .select("p.s", "p.d")
        )
        e2 = _canonical_edges(small).localCheckpoint(eager=True)
        new_stats = _edge_stats(e2)
        # the old round's checkpoint is dead: its only consumers (sym
        # -> large -> small) just materialized into e2
        _release_frame(e)
        e = e2
        if new_stats == stats:
            break
        stats = new_stats
    else:
        raise RuntimeError(
            f"star_connected_components did not converge in {max_iter} rounds"
        )
    comp = e.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("component"))
    v = vertices.select(F.col(id_col).cast("long").alias("id"))
    return v.join(comp, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
    max_iter: int = MAX_CC_ITERS,
) -> DataFrame:
    """(id, component) for every vertex; ``component`` is the minimum
    vertex id in the vertex's connected component (vertices absent
    from ``edges`` form singleton components labeled by themselves).

    ``vertices`` needs an ``id_col`` column; ``edges`` is undirected —
    each (src, dst) row links both ways."""
    labels = vertices.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(id_col).cast("long").alias("component"),
    ).persist()
    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]

    e = (
        edges.select(
            F.col(src_col).cast("long").alias("s"),
            F.col(dst_col).cast("long").alias("d"),
        )
        .unionByName(
            edges.select(
                F.col(dst_col).cast("long").alias("s"),
                F.col(src_col).cast("long").alias("d"),
            )
        )
        .persist()
    )

    for _ in range(max_iter):
        # neighbor labels flow along edges; a vertex keeps the min of
        # its own label and everything received — one shuffle on id.
        # localCheckpoint truncates the round's lineage: without it the
        # logical plan doubles every round and Catalyst re-analyzes the
        # whole history each iteration (on a production cluster with
        # executor loss concerns this would be a reliable checkpoint to
        # storage — same call shape, GraphFrames does exactly this)
        msgs = e.join(
            labels.withColumnRenamed("id", "s"), "s"
        ).select(F.col("d").alias("id"), "component")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_sum = new_labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        _release_frame(labels)  # consumers materialized into new_labels
        labels = new_labels
        if new_sum == prev_sum:  # labels are monotone non-increasing
            e.unpersist()
            return labels
        prev_sum = new_sum
    # diameter > max_iter: a pathological chain graph. Hand off to the
    # O(log n) star variant instead of raising — propagation already
    # shrank labels toward component minima, but the star algorithm
    # restarts from the raw edges (its convergence proof needs them)
    e.unpersist()
    _release_frame(labels)  # the star restart reads raw edges, not labels
    return star_connected_components(
        vertices, edges, id_col, src_col, dst_col
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "a_id",
    dst_col: str = "b_id",
) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: near-dup pairs become
    connected components; documents in no pair are their own cluster.
    cluster_id = the minimum doc id of the cluster — the survivor
    under keep-first semantics."""
    cc = connected_components(docs, pairs, id_col, src_col, dst_col)
    return cc.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def dedup_corpus_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per duplicate cluster: the surviving document id plus
    the cluster size — the materialized output of near-dedup (filter
    the corpus to ``survivor_id`` to get the deduplicated dataset).
    Cluster sizes come from one count over the cluster assignment."""
    clusters = dedup_clusters(docs, pairs, id_col)
    return clusters.groupBy(F.col("cluster_id").alias("survivor_id")).agg(
        F.count("*").alias("cluster_size")
    )


def cluster_best_survivors(
    clusters: DataFrame, scores: DataFrame, score_col: str
) -> DataFrame:
    """Quality-aware dedup survivors: given cluster assignments
    (``doc_id``, ``cluster_id``) and per-document quality scores,
    keep the highest-scoring document of each cluster (doc-id
    tiebreak) — real pipelines keep the BEST copy of a duplicate
    cluster, not the first-seen one (keep-first is what
    dedup_corpus_survivors' min-id convention gives).

    One join on doc_id plus one window keyed by cluster_id — both
    shuffles on high-cardinality keys; clusters are near-cliques from
    LSH buckets, so no window partition outgrows a task.

    Scores LEFT-join (r5 review: an inner join made unscored
    documents unable to survive and undercounted cluster_size):
    cluster sizes come from the assignment alone, unscored members
    rank after scored ones (desc puts nulls last in both engines,
    made explicit via desc_nulls_last), and a fully-unscored cluster
    still emits its min-id survivor with a null score."""
    from pyspark.sql.window import Window

    sized = clusters.withColumn(
        "cluster_size",
        F.count("*").over(Window.partitionBy("cluster_id")).cast("long"),
    )
    j = sized.join(scores, "doc_id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(score_col), F.asc("doc_id")
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            score_col,
            "cluster_size",
        )
    )


def update_clusters(
    assignments: DataFrame,
    new_docs: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "new_id",
    dst_col: str = "seen_id",
) -> DataFrame:
    """Incremental cluster maintenance: fold a new batch into an
    existing (doc_id, cluster_id) assignment without re-running
    connected components over the whole corpus's pair graph. The
    prior assignment collapses to one edge per already-clustered
    document (doc → its cluster id — the transitive closure of
    everything seen so far); union those with the batch's new pairs
    (from the incremental near-dup tier: new×seen and new×new) and
    one CC pass over THAT graph re-resolves labels. Cost per batch:
    O(existing docs + batch pairs) edges through the O(log n) star
    CC — never a re-derivation of historical pairs, which is the
    part that would re-scan the corpus.

    ``new_pairs`` uses the incremental tier's column names
    (new_id/seen_id). A cluster id stays stable unless the batch
    bridges it to a lower-id cluster — min-label semantics, same as
    the batch path, so a full recompute over all pairs yields the
    IDENTICAL assignment (pinned by test)."""
    prior_edges = assignments.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(
        F.col("doc_id").alias("a_id"), F.col("cluster_id").alias("b_id")
    )
    batch_edges = new_pairs.select(
        F.col(src_col).alias("a_id"), F.col(dst_col).alias("b_id")
    )
    vertices = assignments.select("doc_id").unionByName(
        new_docs.select(F.col(id_col).cast("long").alias("doc_id"))
    ).distinct()
    return dedup_clusters(
        vertices,
        prior_edges.unionByName(batch_edges),
        "doc_id",
        "a_id",
        "b_id",
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "vec_id",
    n_iters: int = 3,
    damping: float = 0.85,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank centrality over a directed edge list — on a kNN
    embedding graph this is a prototypicality score (high-centrality
    documents sit in dense, well-connected regions; the
    graph-density signal herding/graph-pruning selection methods
    rank by). Fixed-iteration power method:

        r_v ← (1−d)/N + d · Σ_{u→v} r_u / outdeg(u)

    Dangling mass is not redistributed (the score variant — ranking
    is unaffected, and the update stays a pure relational join).

    100 TB shape: each iteration is one edges⋈ranks join + one
    aggregation keyed by the destination — the textbook distributed
    PR data flow, nothing driver-side, lineage bounded by the fixed
    iteration count. Per-edge contributions quantize to exact 1e-12
    integers (the tie-safe _q12 floor device) and sum exactly, so
    ranks are bit-identical across partitionings AND in the unrolled
    SQL oracle — round() would diverge at decimal ties (sf0.1 q127
    incident)."""
    n_df = nodes.agg(F.count("*").cast("double").alias("_n"))
    base = nodes.select(F.col(node_col).cast("long").alias("_v"))
    sel = [
        F.col(edges.columns[0]).cast("long").alias("_src"),
        F.col(edges.columns[1]).cast("long").alias("_dst"),
    ]
    if weight_col:
        # WEIGHTED variant: rank flows proportional to edge weight
        # (on a similarity graph: cosine) instead of 1/outdeg. The
        # per-node weight normalizer is an exact DECIMAL sum of the
        # (already-rounded) weights, so it is order-free like every
        # other moment here.
        sel.append(F.col(weight_col).cast("double").alias("_w"))
    e = edges.select(*sel)
    if weight_col:
        outw = e.groupBy("_src").agg(
            F.sum(F.col("_w").cast("decimal(18,5)"))
            .cast("double")
            .alias("_outw")
        )
        e = e.join(outw, "_src")
    else:
        outdeg = e.groupBy("_src").agg(F.count("*").alias("_outdeg"))
        e = e.join(outdeg, "_src")
    # (r14 probe: persisting e + eagerly checkpointing the final
    # ranks measured 2.3s -> 7.2s on q127 — AQE exchange reuse
    # already dedups e's subtree across the n_iters references, so
    # both materialization passes were pure added work. Lazy stays.)
    ranks = base.crossJoin(F.broadcast(n_df)).select(
        "_v", (F.lit(1.0) / F.col("_n")).alias("_r")
    )
    _ckpt: DataFrame | None = None
    for _it in range(n_iters):
        # _outw can sum to 0 if every edge weight from a node is 0 —
        # those edges carry no rank (share 0) instead of NaN/ANSI-
        # throwing; _outdeg >= 1 by construction and needs no guard
        share = (
            F.when(
                F.col("_outw") != 0,
                F.col("_r") * F.col("_w") / F.col("_outw"),
            ).otherwise(F.lit(0.0))
            if weight_col
            else F.col("_r") / F.col("_outdeg")
        )
        contribs = (
            e.join(ranks, e["_src"] == ranks["_v"])
            .select("_dst", _q12(share).alias("_c"))
            .groupBy("_dst")
            .agg(_unq12(F.sum("_c")).alias("_s"))
        )
        ranks = (
            base.join(contribs, base["_v"] == contribs["_dst"], "left")
            .crossJoin(F.broadcast(n_df))
            .select(
                "_v",
                (
                    F.lit(1.0 - damping) / F.col("_n")
                    + F.lit(damping) * F.coalesce("_s", F.lit(0.0))
                ).alias("_r"),
            )
        )
        ranks, _ckpt = _truncate_round(ranks, _it + 1, _ckpt)
    return _finalize_iterative(
        ranks.select(
            F.col("_v").alias(node_col),
            _round8(F.col("_r")).alias("pagerank"),
        ),
        _ckpt,
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    an undirected edge list — on a kNN embedding graph the clustering
    coefficient is a manifold-density signal (prototypical regions
    triangulate heavily; isolated/noisy points don't), the
    graph-native cousin of the q127 PageRank score.

    The canonical distributed triangle enumeration: canonicalize
    edges to a<b (each triangle then materializes EXACTLY once as
    a<b<c), build wedges by joining the edge list with itself on the
    lower endpoint, and close them with a third equality join — all
    shuffle joins on node keys, no cross join, the MapReduce
    triangle-count shape. Per-node counts explode each triangle to
    its three corners (3 rows per triangle — triangle-bounded, not
    quadratic). Skew note for 100 TB: the wedge join fans out with
    deg²; on power-law graphs the standard fix is ordering wedges by
    degree (count from the lowest-degree corner) — kNN graphs are
    degree-capped at k by construction, so the cap IS the guard."""
    e = (
        edges.select(
            F.least(F.col(edges.columns[0]), F.col(edges.columns[1])).alias(
                "a"
            ),
            F.greatest(
                F.col(edges.columns[0]), F.col(edges.columns[1])
            ).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    e.count()  # eager — and KEEP it eager (r15 probe): the wedge and
    # closing joins consume e as BROADCAST sides, and AQE builds
    # broadcast relations on concurrent threads, so a lazy persist let
    # several build jobs race into e's (kNN-expensive) lineage at once
    # — q136 min 4.7 -> 9.6s with reps to 48s. One serial fill first.
    e2 = e.select(F.col("a").alias("a2"), F.col("b").alias("c"))
    wedges = e.join(
        e2, (F.col("a2") == F.col("a")) & (F.col("c") > F.col("b"))
    ).select("a", "b", "c")
    e3 = e.select(F.col("a").alias("b3"), F.col("b").alias("c3"))
    tri = wedges.join(
        e3, (F.col("b3") == F.col("b")) & (F.col("c3") == F.col("c"))
    ).select("a", "b", "c")
    # r14: corners via ONE explode instead of a 3-way unionAll of
    # `tri` — the union's branches are separate physical subtrees, so
    # the wedge join + closing join (broadcast joins here: no exchange
    # between them for AQE to reuse) executed THREE times per run.
    # The explode emits the three corners from one triangle row in
    # the same stage: one triangle enumeration, identical rows.
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    tn = corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    coeff = (F.lit(2.0) * F.col("n_triangles").cast("double")) / (
        F.col("degree") * (F.col("degree") - 1)
    ).cast("double")
    return (
        deg.join(tn, "node", "left")
        .withColumn("n_triangles", F.coalesce("n_triangles", F.lit(0)))
        .select(
            "node",
            "degree",
            "n_triangles",
            F.when(F.col("degree") > 1, F.round(coeff, 6))
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    labels: DataFrame,
    node_col: str,
    label_col: str,
    seed_pred: Column,
    n_rounds: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation over a (kNN) graph — the
    weak-supervision labeling step: seed nodes (``seed_pred``) keep
    their true labels; every other node takes the MAJORITY label of
    its neighbors, iterated ``n_rounds`` times. On an embedding kNN
    graph this is the classic transductive label-spreading baseline
    (labels flow along the manifold), used to bootstrap classifier
    training sets from a small annotated seed.

    Deterministic by construction: majority = argmax on (count desc,
    label asc) — pure integer votes, no floats anywhere — so the SQL
    oracle replays the rounds exactly. Per round: one edges⋈labels
    join + one (node, label) count + one per-node argmax window;
    unreached nodes stay NULL. Output: node, is_seed, true label,
    propagated label after the final round."""
    from pyspark.sql.window import Window

    sym = (
        edges.select(
            F.col(edges.columns[0]).cast("long").alias("u"),
            F.col(edges.columns[1]).cast("long").alias("v"),
        )
        .unionAll(
            edges.select(
                F.col(edges.columns[1]).cast("long").alias("u"),
                F.col(edges.columns[0]).cast("long").alias("v"),
            )
        )
        .distinct()
        .persist()
    )
    base = labels.select(
        F.col(node_col).cast("long").alias("node"),
        F.col(label_col).cast("long").alias("true_label"),
        seed_pred.alias("is_seed"),
    ).persist()
    current = base.select(
        "node",
        F.when(F.col("is_seed"), F.col("true_label")).alias("label"),
    )
    w = Window.partitionBy("u").orderBy(
        F.desc("votes"), F.asc("label")
    )
    _ckpt: DataFrame | None = None
    for _rd in range(n_rounds):
        votes = (
            sym.join(
                current.select(
                    F.col("node").alias("v"), F.col("label")
                ).filter(F.col("label").isNotNull()),
                "v",
            )
            .groupBy("u", "label")
            .agg(F.count("*").alias("votes"))
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("node"), F.col("label").alias("maj"))
        )
        current = (
            base.join(winner, "node", "left")
            .select(
                "node",
                F.when(F.col("is_seed"), F.col("true_label"))
                .otherwise(F.col("maj"))
                .alias("label"),
            )
        )
        current, _ckpt = _truncate_round(current, _rd + 1, _ckpt)
    return _finalize_iterative(
        base.join(current, "node").select(
            "node",
            "is_seed",
            "true_label",
            F.col("label").alias("propagated_label"),
        ),
        _ckpt,
        sym,
        base,
    )


def hits_scores(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "vec_id",
    n_iters: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) over a directed edge
    list — PageRank's sibling: a node is a good AUTHORITY if good
    hubs point at it, a good HUB if it points at good authorities.
    On a kNN query graph the hub score marks vectors whose neighbor
    lists reach central regions — a complementary prototypicality
    lens to q127.

    Fixed mutual-recursion iterations with L1 normalization each
    half-step; every cross-row sum (the in/out aggregations AND the
    normalizers) quantizes terms to exact 1e-12 integers (_q12, the
    tie-safe floor device) and sums exactly — order-free and
    bit-matched by the unrolled SQL oracle. Round expressions cross to
    the JVM as SQL text."""
    base = nodes.selectExpr(f"CAST(`{node_col}` AS BIGINT) AS _v")
    # the edge list feeds 2 joins per iteration: persist, or the
    # whole upstream edge construction (a kNN build, typically)
    # re-runs per occurrence (measured 70s -> 9s at sf0.01). No eager
    # count (r15): the first half-step's checkpoint job fills the
    # cache — a separate materialization pass was pure extra work.
    src, dst = edges.columns[:2]
    e = edges.selectExpr(
        f"CAST(`{src}` AS BIGINT) AS _src", f"CAST(`{dst}` AS BIGINT) AS _dst"
    ).persist()

    # live half-step checkpoints, oldest first. Half-step t is read
    # only by half-step t+1, so once checkpoint t+2 exists, t is dead
    # and its blocks are released: at most three sets are live at
    # once, whatever n_iters. The final hubs/auths leaves stay alive
    # under the returned lazy frame.
    ckpts: list[DataFrame] = []

    def half_step(
        scores: DataFrame, x: str, frm: str, to: str, y: str
    ) -> DataFrame:
        """One half-step: ``y`` at each ``to`` end is the exact sum
        of ``x`` over its edges' ``frm`` ends, then L1 normalized.

        r15 shape: eagerly checkpoint the RAW half-step scores (one
        node-sized materialization that also truncates lineage to a
        leaf — the plan would otherwise double per half-step and
        Catalyst analysis goes exponential past a handful of
        iterations), then divide LAZILY by the 1-scalar L1 normalizer
        as a literal. The pre-r15 form ran the normalizer aggregate as
        a broadcast build and then re-read + re-wrote the whole frame
        into a SECOND materialization (the normalized checkpoint);
        dividing on read costs one multiply per consumer row instead
        of a full extra pass. A/B at sf0.1 (q140): 4.70/5.02 ->
        4.01/4.23 min/median. The normalizer is observed on the
        checkpoint's own job rather than collected by a separate
        aggregate (two more jobs per half-step): the same exact
        decimal sum, so the result is bit-identical."""
        raw = (
            e.join(scores, F.expr(f"{frm} = _v"))
            .groupBy(to)
            .agg(F.expr(f"{_dsum_sql(x)} AS {y}"))
        )
        total = Observation()
        ckpt = (
            base.join(raw, F.expr(f"_v = {to}"), "left")
            .selectExpr("_v", f"coalesce({y}, 0.0D) AS {y}")
            .observe(total, F.expr(f"{_dsum_sql(y)} AS _t"))
            .localCheckpoint(eager=True)
        )
        ckpts.append(ckpt)
        if len(ckpts) > 2:
            _release_frame(ckpts.pop(0))
        t = total.get["_t"]
        # an empty edge list (or all-zero scores) makes the L1 total
        # 0 (or NULL on an empty node set) — keep the scores 0.0
        # instead of NaN-poisoning every node
        if t:
            return ckpt.selectExpr("_v", f"{y} / {double_sql(t)} AS {y}")
        return ckpt.selectExpr("_v", f"0.0D AS {y}")

    hubs = base.selectExpr("_v", "1.0D AS h")
    auths = None
    for _ in range(n_iters):
        auths = half_step(hubs, "h", "_src", "_dst", "a")
        hubs = half_step(auths, "a", "_dst", "_src", "h")
    # the returned frame reads only the two final leaves, so e is dead
    e.unpersist()
    return hubs.join(auths, "_v").selectExpr(
        f"_v AS `{node_col}`",
        f"{_round8_sql('h')} AS hub",
        f"{_round8_sql('a')} AS authority",
    )


def directed_modularity(
    edges: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    weight_col: str = "cos_sim",
) -> DataFrame:
    """Per-community directed weighted modularity contributions —
    the partition-quality audit for any community assignment over a
    weighted graph (here: how well a label column explains the kNN
    similarity structure). For community c with total edge weight W:

        Q_c = w_cc / W  -  (w_out_c / W) * (w_in_c / W)

    (Leicht & Newman 2008 directed modularity, per-community terms;
    sum of Q_c over communities is the partition's modularity.)

    Exactness: edge weights arrive 5dp-rounded (the kNN graph
    contract), so they are quantized onto the 1e5 integer grid and
    every aggregation sums exact BIGINTs — the Q arithmetic then
    runs on identical doubles in both engines and is emitted through
    the tie-safe 8dp floor rounding.

    Scale shape: the (node -> label) map joins onto the edge list
    twice — broadcast when the counted node total is under the guard
    ceiling, key-equality shuffle (linear) otherwise — then three
    label-granular aggregations (within / out / in) and one 1-scalar
    total broadcast back. Nothing is ever node-quadratic; community
    count bounds every frame."""
    # NOT persisted despite four consumers (count, two edge joins,
    # the label roster): the map is a trivial column-pruned projection
    # of the caller's labels frame, so re-deriving it per consumer
    # costs three cheap scans — while a persist here has no release
    # hook (the result is lazy; the caller materializes later) and
    # leaks one CacheManager entry per call for the session. Callers
    # holding an EXPENSIVE labels frame should persist that frame
    # themselves, where its lifetime is theirs to manage.
    lab = labels.select(
        F.col(id_col).cast("long").alias("node"),
        F.col(label_col).cast("long").alias("lab"),
    )
    # the count gates the broadcast hints (r10 guard)
    n_nodes = lab.count()
    e5 = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("nbr").cast("long").alias("nbr"),
        F.floor(F.col(weight_col) * F.lit(1e5) + F.lit(0.5))
        .cast("long")
        .alias("w5"),
    )
    # the node->label map is CORPUS-sized for a kNN graph, so the
    # broadcast hint is gated on the counted node total (r10 guard):
    # under the ceiling both label joins broadcast the cached map;
    # past it the hints are dropped and the joins run as key-equality
    # shuffles (linear — edges are already keyed by src/nbr), with
    # AQE free to re-promote to broadcast from runtime stats
    tagged = (
        e5.join(
            broadcast_if_counted(
                lab.withColumnRenamed("node", "src"), n_nodes
            ).withColumnRenamed("lab", "src_lab"),
            "src",
        )
        .join(
            broadcast_if_counted(
                lab.withColumnRenamed("node", "nbr"), n_nodes
            ).withColumnRenamed("lab", "nbr_lab"),
            "nbr",
        )
    )
    within = (
        tagged.filter(F.col("src_lab") == F.col("nbr_lab"))
        .groupBy(F.col("src_lab").alias("lab"))
        .agg(F.sum("w5").alias("w_in5"))
    )
    outw = tagged.groupBy(F.col("src_lab").alias("lab")).agg(
        F.sum("w5").alias("out5")
    )
    inw = tagged.groupBy(F.col("nbr_lab").alias("lab")).agg(
        F.sum("w5").alias("in5")
    )
    total = e5.agg(F.sum("w5").alias("tot5"))
    all_labs = lab.select("lab").distinct()
    j = (
        all_labs.join(within, "lab", "left")
        .join(outw, "lab", "left")
        .join(inw, "lab", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "lab",
            F.coalesce("w_in5", F.lit(0)).alias("w_in5"),
            F.coalesce("out5", F.lit(0)).alias("out5"),
            F.coalesce("in5", F.lit(0)).alias("in5"),
            "tot5",
        )
    )
    qc = (
        F.col("w_in5") / F.col("tot5").cast("double")
        - (F.col("out5") / F.col("tot5").cast("double"))
        * (F.col("in5") / F.col("tot5").cast("double"))
    )
    return j.select(
        F.col("lab").alias("label"),
        (F.col("w_in5") / F.lit(1e5)).alias("w_within"),
        (F.col("out5") / F.lit(1e5)).alias("w_out"),
        (F.col("in5") / F.lit(1e5)).alias("w_in"),
        _round8(qc).alias("q_contrib"),
    )


def kcore_peel(
    edges: DataFrame, k: int = 3, n_rounds: int = 3
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list — the
    standard graph-based corpus-pruning device (drop weakly-connected
    boilerplate/outlier nodes, keep the densely-linked core that
    near-dup and citation graphs concentrate on). Each round removes
    every vertex whose degree among SURVIVING vertices is < k; the
    fixpoint of that process is the k-core. Rounds are FIXED (like
    ``pagerank``'s power iterations) so the unrolled SQL oracle can
    replay the identical trajectory stage by stage.

    Returns one row per round (0 = the input graph): ``round``,
    ``survivors`` (vertices alive after that round's peel),
    ``n_edges`` (edges with both endpoints alive).

    100 TB shape: per round, one degree aggregation keyed by vertex +
    two semi-joins restricting the edge list — all key-equality
    shuffles, no driver round-trips, lineage bounded by the fixed
    round count; the per-round edge and survivor frames are released
    together once the n_rounds+1-row result is collected. The
    reference engine has no graph surface (SURVEY §2 extension)."""
    e = (
        edges.select(
            F.col(edges.columns[0]).cast("long").alias("_a"),
            F.col(edges.columns[1]).cast("long").alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
    )
    # symmetrize once: degree = count of half-edges per endpoint
    sym = e.select("_a", "_b").union(
        e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    )
    alive = sym.select(F.col("_a").alias("_v")).distinct()
    cur = sym.persist()
    held = [cur]
    rows = [
        cur.agg(
            (F.count("*") / 2).cast("long").alias("n_edges"),
        )
        .crossJoin(alive.agg(F.count("*").alias("survivors")))
        .select(F.lit(0).cast("long").alias("round"), "survivors", "n_edges")
    ]
    for r in range(1, n_rounds + 1):
        deg = cur.groupBy("_a").agg(F.count("*").alias("_deg"))
        # the survivor set is referenced twice below AND derives from
        # cur — left lazy, each round's plan embeds cur THREE times
        # (3^rounds subtree copies: a 7-round peel on a 12-row toy
        # spent >9 min in Catalyst analysis). The eager checkpoint is
        # one vertex-sized job per round and makes plan growth linear
        nxt_alive = (
            deg.filter(F.col("_deg") >= k)
            .select(F.col("_a").alias("_v"))
            .localCheckpoint(eager=True)
        )
        held.append(nxt_alive)
        nxt = cur.join(
            nxt_alive, cur["_a"] == nxt_alive["_v"], "semi"
        ).join(
            nxt_alive.select(F.col("_v").alias("_v2")),
            F.col("_b") == F.col("_v2"),
            "semi",
        )
        # a truncation round checkpoints instead (lineage cut)
        if _truncates(r):
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.persist()
        held.append(nxt)
        rows.append(
            nxt.agg((F.count("*") / 2).cast("long").alias("n_edges"))
            .crossJoin(nxt_alive.agg(F.count("*").alias("survivors")))
            .select(
                F.lit(r).cast("long").alias("round"),
                "survivors",
                "n_edges",
            )
        )
        cur = nxt
    out = rows[0]
    for frame in rows[1:]:
        out = out.unionByName(frame)
    return _collect_then_release(out, *held)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "vec_id",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: the exact hop distance (shortest unweighted
    path, capped at ``max_hops``) from each seed to every node it can
    reach, summarized as a per-(seed, hop) frontier-size histogram —
    the reachability / expansion profile of the graph around chosen
    anchors (on a kNN embedding graph: how fast a neighborhood grows
    is a local-density signal, and hop-bounded reach IS the candidate
    pool of graph-walk selection methods).

    The textbook distributed BFS dataflow: per hop, ONE
    frontier⋈edges shuffle join keyed by the source node + a
    DISTINCT, then an anti-join against the visited set so each node
    keeps its FIRST (minimum) hop. The frontier never re-expands
    visited nodes, so total work is O(edges reached) per seed
    regardless of ``max_hops``. Seeds are caller-bounded (a literal
    anchor set), so the seed tag rides the frontier as a plain
    column — one BFS pass covers all seeds at once.

    Lifecycle: every round's new-nodes frame is eagerly
    localCheckpoint-ed, NOT persisted — measured at sf0.1, the
    persist variant grew each round's plan through the accumulated
    union/anti-join history (rounds 0.8→3.9s, final aggregate 16s
    from cache-lookup misses on the deepening plans) while the
    checkpoint variant holds every round at ~0.4s with a 0.2s
    aggregate. The edge frame checkpoints too: an expensive upstream
    (a kNN-graph build) would otherwise re-run per round — invisible
    to live-plan audits because the result is collected (caught by
    the q255 10x scale probe). The seeds x hops histogram is collected
    and then every checkpoint is released (``_collect_then_release``).
    Round expressions cross to the JVM as SQL text.

    Output: (seed_id, hop, n_nodes) with hop 0 = the seed itself.
    """
    src, dst = edges.columns[:2]
    e = edges.selectExpr(
        f"CAST(`{src}` AS BIGINT) AS _s", f"CAST(`{dst}` AS BIGINT) AS _d"
    ).localCheckpoint()
    visited = seeds.selectExpr(
        f"CAST(`{node_col}` AS BIGINT) AS _seed",
        f"CAST(`{node_col}` AS BIGINT) AS _node",
        "CAST(0 AS BIGINT) AS _hop",
    ).localCheckpoint()
    held: list[DataFrame] = [visited, e]
    frontier = visited.select("_seed", "_node")
    for t in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, F.expr("_node = _s"))
            .selectExpr("_seed", "_d AS _node")
            .distinct()
        )
        # eager checkpoint: materialized here, so the visited union
        # below is a flat union of LogicalRDDs (depth-1 plans); the
        # hop's row count is observed on that same job, so an empty
        # frontier costs no separate probe job
        reached = Observation()
        new = (
            nxt.join(visited, ["_seed", "_node"], "left_anti")
            .selectExpr("_seed", "_node", f"CAST({t} AS BIGINT) AS _hop")
            .observe(reached, F.expr("count(1) AS n"))
            .localCheckpoint()
        )
        if reached.get["n"] == 0:
            _release_frame(new)
            break
        held.append(new)
        visited = visited.unionByName(new)
        frontier = new.select("_seed", "_node")
    out = visited.groupBy(
        F.expr("_seed AS seed_id"), F.expr("_hop AS hop")
    ).agg(F.expr("CAST(count(*) AS BIGINT) AS n_nodes"))
    return _collect_then_release(out.orderBy("seed_id", "hop"), *held)
