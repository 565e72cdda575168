"""Connected-components / dedup-cluster resolution tests."""

import random

import pytest

from lynx_spark.operators import graph as gr


def _cc(spark, vertex_ids, edge_pairs, **kw):
    verts = spark.createDataFrame([(v,) for v in vertex_ids], ["id"])
    edges = spark.createDataFrame(edge_pairs, "a_id: long, b_id: long")
    out = gr.connected_components(verts, edges, "id", **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def _union_find(vertex_ids, edge_pairs):
    parent = {v: v for v in vertex_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min id per component
    comp = {}
    for v in vertex_ids:
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


def test_chain_propagates_min_across_diameter(spark):
    """1-2-3-4-5 chain: min label must travel 4 hops."""
    got = _cc(spark, [1, 2, 3, 4, 5], [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_components_and_singletons(spark):
    got = _cc(
        spark,
        [1, 2, 3, 10, 11, 20],
        [(2, 3), (1, 3), (10, 11)],
    )
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_empty_edges_all_singletons(spark):
    got = _cc(spark, [5, 6, 7], [])
    assert got == {5: 5, 6: 6, 7: 7}


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(20240813)
    verts = list(range(60))
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(45)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, verts, edges) == _union_find(verts, edges)


def test_exhausted_propagation_falls_back_to_star(spark):
    """A chain whose diameter exceeds max_iter no longer raises: the
    loop hands off to the large-star/small-star variant and still
    returns the correct labeling."""
    n = 40
    got = _cc(
        spark,
        list(range(n)),
        [(i, i + 1) for i in range(n - 1)],
        max_iter=2,
    )
    assert got == {v: 0 for v in range(n)}


def _star_cc(spark, vertex_ids, edge_pairs, **kw):
    verts = spark.createDataFrame([(v,) for v in vertex_ids], ["id"])
    edges = spark.createDataFrame(edge_pairs, "a_id: long, b_id: long")
    out = gr.star_connected_components(verts, edges, "id", **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_star_chain_converges_in_log_rounds(spark):
    """64-vertex chain (diameter 63): the star variant must finish
    within 10 rounds — O(log n), where min-label propagation would
    need 63. max_iter doubles as the round budget, so converging
    under it IS the round-count assertion."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _star_cc(spark, list(range(n)), edges, max_iter=10)
    assert got == {v: 0 for v in range(n)}


def test_star_matches_union_find_on_random_graph(spark):
    rng = random.Random(20250813)
    verts = list(range(50))
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(35)]
    edges = [(a, b) for a, b in edges if a != b]
    assert _star_cc(spark, verts, edges) == _union_find(verts, edges)


def test_star_handles_empty_edges_and_singletons(spark):
    assert _star_cc(spark, [3, 7, 9], []) == {3: 3, 7: 7, 9: 9}
    with pytest.raises(RuntimeError, match="did not converge"):
        _star_cc(spark, list(range(20)), [(i, i + 1) for i in range(19)], max_iter=1)


def test_dedup_corpus_survivors(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 4)], ["a_id", "b_id"]
    )
    out = {
        r["survivor_id"]: r["cluster_size"]
        for r in gr.dedup_corpus_survivors(docs, pairs).collect()
    }
    assert out == {0: 3, 1: 2, 2: 1}


def test_update_clusters_matches_full_recompute(spark):
    """Two-batch incremental cluster maintenance == full recompute:
    the prior assignment's doc->cluster edges carry the old closure,
    so only the batch's pairs are new work."""
    from lynx_spark.operators import graph as gr
    from pyspark.sql import functions as F

    b1_docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    b1_pairs = spark.createDataFrame([(0, 1), (2, 3)], ["a_id", "b_id"])
    assign1 = gr.dedup_clusters(b1_docs, b1_pairs, "doc_id")

    b2_docs = spark.createDataFrame([(10,), (11,), (12,)], ["doc_id"])
    # 10 bridges clusters {0,1} and {2,3}; 11-12 form a new pair
    b2_pairs = spark.createDataFrame(
        [(10, 1), (10, 2), (11, 12)], ["new_id", "seen_id"]
    )
    inc = gr.update_clusters(assign1, b2_docs, b2_pairs)

    all_docs = b1_docs.unionByName(b2_docs)
    all_pairs = b1_pairs.unionByName(
        b2_pairs.select(
            F.col("new_id").alias("a_id"), F.col("seen_id").alias("b_id")
        )
    )
    full = gr.dedup_clusters(all_docs, all_pairs, "doc_id")
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    got = {r["doc_id"]: r["cluster_id"] for r in inc.collect()}
    assert got[10] == got[0] == got[3] == 0  # bridge merged both into 0
    assert got[11] == got[12] == 11
    assert got[4] == 4 and got[5] == 5  # untouched singletons stay


def test_pagerank_matches_networkless_reference(spark):
    """Fixed-iteration PR on a hand graph equals a sequential Python
    power method with the same rounding, a hub out-scores leaves, an
    isolated node keeps only teleport mass, and partitioning does
    not change ranks (decimal contribution sums)."""
    from decimal import Decimal

    from lynx_spark.operators.graph import pagerank

    # star into 1: 2,3,4 -> 1; 1 -> 2; node 9 isolated
    edge_rows = [(2, 1), (3, 1), (4, 1), (1, 2)]
    node_rows = [(1,), (2,), (3,), (4,), (9,)]
    edges = spark.createDataFrame(edge_rows, ["src", "nbr"])
    nodes = spark.createDataFrame(node_rows, ["vec_id"])
    got = {
        r["vec_id"]: r["pagerank"]
        for r in pagerank(edges, nodes, "vec_id", n_iters=3).collect()
    }
    # sequential reference with identical arithmetic
    n = 5.0
    outdeg = {1: 1, 2: 1, 3: 1, 4: 1}
    r = {v: 1.0 / n for v, in node_rows}
    for _ in range(3):
        contrib: dict = {}
        for s, d in edge_rows:
            contrib.setdefault(d, []).append(
                Decimal(str(round(r[s] / outdeg[s], 12)))
            )
        r = {
            v: (1.0 - 0.85) / n + 0.85 * float(sum(contrib.get(v, [Decimal(0)])))
            for v, in node_rows
        }
    for v, in node_rows:
        assert abs(got[v] - round(r[v], 8)) < 1e-8, v
    assert got[1] == max(got.values())
    assert got[9] == min(got.values())
    repart = {
        r2["vec_id"]: r2["pagerank"]
        for r2 in pagerank(
            edges.repartition(5), nodes.repartition(3), "vec_id", n_iters=3
        ).collect()
    }
    assert repart == got


def test_triangle_stats_hand_graph(spark):
    """Known graph: K4 plus a pendant — per-node triangle counts,
    degrees and clustering coefficients match hand arithmetic; each
    triangle counted exactly once per corner; duplicate/reversed
    input edges collapse."""
    from lynx_spark.operators.graph import triangle_stats

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = k4 + [(4, 5)] + [(2, 1), (3, 1)]  # reversed dups
    df = spark.createDataFrame(edges, ["u", "v"])
    out = {r["node"]: r for r in triangle_stats(df).collect()}
    # K4: every node in 3 triangles, degree 3, coeff 1.0
    for n in (1, 2, 3):
        assert out[n]["degree"] == 3
        assert out[n]["n_triangles"] == 3
        assert out[n]["clustering_coeff"] == 1.0
    assert out[4]["degree"] == 4 and out[4]["n_triangles"] == 3
    assert abs(out[4]["clustering_coeff"] - 0.5) < 1e-9  # 2*3/(4*3)
    assert out[5]["degree"] == 1 and out[5]["n_triangles"] == 0
    assert out[5]["clustering_coeff"] == 0.0


def test_weighted_pagerank_follows_weights(spark):
    """With all mass flowing 1->2 via a heavy edge vs 1->3 via a
    light one, node 2 out-ranks node 3; uniform weights reproduce the
    unweighted ranks exactly."""
    from lynx_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.1), (2, 1, 0.5), (3, 1, 0.5)],
        ["src", "nbr", "w"],
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], ["vec_id"])
    got = {
        r["vec_id"]: r["pagerank"]
        for r in pagerank(
            edges, nodes, "vec_id", n_iters=3, weight_col="w"
        ).collect()
    }
    assert got[2] > got[3]
    uniform = spark.createDataFrame(
        [(1, 2, 1.0), (1, 3, 1.0), (2, 1, 1.0), (3, 1, 1.0)],
        ["src", "nbr", "w"],
    )
    wref = {
        r["vec_id"]: r["pagerank"]
        for r in pagerank(
            uniform, nodes, "vec_id", n_iters=3, weight_col="w"
        ).collect()
    }
    plain = {
        r["vec_id"]: r["pagerank"]
        for r in pagerank(
            uniform.select("src", "nbr"), nodes, "vec_id", n_iters=3
        ).collect()
    }
    assert wref == plain


def test_label_propagation_fills_clusters(spark):
    """Two fully-connected clusters with one seed each: every member
    inherits its cluster's seed label in round 1; seeds never change;
    an isolated node stays NULL."""
    from pyspark.sql import functions as F

    from lynx_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edges = spark.createDataFrame(c1 + c2, ["u", "v"])
    nodes = [(i, 7) for i in range(5)] + [(i, 3) for i in range(10, 15)]
    nodes.append((99, 5))  # isolated
    labels = spark.createDataFrame(nodes, ["vec_id", "label"])
    out = {
        r["node"]: r
        for r in label_propagation(
            edges,
            labels,
            "vec_id",
            "label",
            F.col("vec_id").isin(0, 10),
            n_rounds=2,
        ).collect()
    }
    for i in range(5):
        assert out[i]["propagated_label"] == 7
    for i in range(10, 15):
        assert out[i]["propagated_label"] == 3
    assert out[0]["is_seed"] and out[10]["is_seed"]
    assert out[99]["propagated_label"] is None  # unreachable


def test_hits_bipartite_hand_values(spark):
    """Perfect bipartite hubs->authorities: symmetric L1-normalized
    scores; isolated node gets zero; hub and authority roles don't
    bleed."""
    from lynx_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4)], ["src", "nbr"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], ["vec_id"])
    out = {
        r["vec_id"]: r
        for r in hits_scores(edges, nodes, "vec_id", n_iters=2).collect()
    }
    for hub in (1, 2):
        assert abs(out[hub]["hub"] - 0.5) < 1e-9
        assert out[hub]["authority"] == 0.0
    for auth in (3, 4):
        assert abs(out[auth]["authority"] - 0.5) < 1e-9
        assert out[auth]["hub"] == 0.0
    assert out[5]["hub"] == 0.0 and out[5]["authority"] == 0.0


def test_hits_persisted_frames_bounded_at_depth(spark):
    """Production iteration counts must not accumulate state (the r06
    leak: 4 persisted frames per iteration, never unpersisted) or
    lineage (normalize references its input twice, so without the
    eager localCheckpoint the logical plan DOUBLES per half-step and
    Catalyst analysis goes exponential — n_iters=20 would simply hang
    this test). Three assertions: n_iters=20 finishes in bounded wall
    time, superseded checkpoint blocks are reclaimable (persistent-
    RDD count drops to a small constant once the driver GCs), and the
    bipartite fixed point — reached by iteration 2 — is returned
    unchanged at depth 20."""
    import time

    from lynx_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4)], ["src", "nbr"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], ["vec_id"])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    start = time.perf_counter()
    result = hits_scores(edges, nodes, "vec_id", n_iters=20)
    out = {r["vec_id"]: r for r in result.collect()}
    assert time.perf_counter() - start < 120, (
        "n_iters=20 took minutes — lineage truncation regressed"
    )
    # deterministic release bookkeeping: only the edge list (already
    # unpersisted) and the final hubs/auths checkpoints may remain —
    # the 38 superseded half-step checkpoints must be freed (the r06
    # leak kept every one; Spark never reclaims local-checkpoint
    # blocks on its own)
    leaked = jsc.getPersistentRDDs().size() - before
    assert leaked <= 3, (
        f"{leaked} new persistent RDDs after n_iters=20 — superseded "
        "half-step checkpoints are accumulating again"
    )
    for hub in (1, 2):
        assert abs(out[hub]["hub"] - 0.5) < 1e-9
    for auth in (3, 4):
        assert abs(out[auth]["authority"] - 0.5) < 1e-9
    assert out[5]["hub"] == 0.0 and out[5]["authority"] == 0.0


def test_hits_live_checkpoints_bounded_during_loop(spark, monkeypatch):
    """Half-step checkpoint t is read only by half-step t+1, so it is
    released once checkpoint t+2 exists: however many iterations run,
    at most three half-step block sets are live at once (the edge
    cache makes the fourth persistent RDD). Releasing them only after
    the loop kept 2·n_iters sets live at the peak."""
    from lynx_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4)], ["src", "nbr"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], ["vec_id"])
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    live: list[int] = []
    frame_cls = type(edges)
    checkpoint = frame_cls.localCheckpoint

    def counting(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        live.append(jsc.getPersistentRDDs().size() - before)
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", counting)
    result = hits_scores(edges, nodes, "vec_id", n_iters=20)
    monkeypatch.undo()
    assert len(live) == 40
    assert max(live) <= 4, f"peak of {max(live)} live persistent RDDs"
    out = {r["vec_id"]: r for r in result.collect()}
    for hub in (1, 2):
        assert abs(out[hub]["hub"] - 0.5) < 1e-9


def test_hits_empty_edges_all_zero_not_nan(spark):
    """An empty edge list leaves every score 0.0 — the L1 normalizer
    total is 0 and the division guard must keep NaN out."""
    from lynx_spark.operators.graph import hits_scores

    edges = spark.createDataFrame([], "src long, nbr long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["vec_id"])
    out = hits_scores(edges, nodes, "vec_id", n_iters=2).collect()
    assert len(out) == 4
    for r in out:
        assert r["hub"] == 0.0 and r["authority"] == 0.0


def test_knn_graph_store_round_trip(spark, tmp_path):
    """The persisted edge store feeds the whole graph family with
    results identical to the directly-built edges — the operational
    build-once/read-many tier for q127/q136/q137/q138/q140."""
    from lynx_spark.operators.graph import hits_scores, pagerank
    from lynx_spark.operators.similarity import (
        knn_graph,
        read_knn_graph_store,
        write_knn_graph_store,
    )
    from lynx_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    edges = knn_graph(emb, "vec_id", "embedding", k=5)
    store = str(tmp_path / "knn_edges")
    write_knn_graph_store(edges, store)
    stored = read_knn_graph_store(spark, store)
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, edges.collect())
    )
    nodes = emb.select("vec_id")
    direct_pr = pagerank(
        edges.select("src", "nbr"), nodes, "vec_id", n_iters=2
    )
    stored_pr = pagerank(
        stored.select("src", "nbr"), nodes, "vec_id", n_iters=2
    )
    assert sorted(map(tuple, stored_pr.collect())) == sorted(
        map(tuple, direct_pr.collect())
    )
    stored_hits = hits_scores(
        stored.select("src", "nbr"), nodes, "vec_id", n_iters=1
    )
    assert stored_hits.count() == nodes.count()


def test_ivfpq_stored_index_matches_inline(spark, tmp_path):
    """save_ivfpq_index + ivfpq_ann_topk_stored == the inline
    ivfpq_ann_topk on the same corpus: training is deterministic, so
    the persisted index (centroids + codebooks + encoded codes) must
    reproduce the exact ranked results without retraining."""
    from lynx_spark.operators.similarity import (
        ivfpq_ann_topk,
        ivfpq_ann_topk_stored,
        save_ivfpq_index,
    )
    from lynx_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    inline = ivfpq_ann_topk(emb, "vec_id", "embedding", max_query_id=10)
    path = str(tmp_path / "ivfpq")
    save_ivfpq_index(spark, emb, "vec_id", "embedding", path)
    stored = ivfpq_ann_topk_stored(
        spark, path, emb, "vec_id", "embedding", max_query_id=10
    )
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_weighted_pagerank_zero_weight_node(spark):
    """A node whose outgoing weights all sum to 0 contributes no rank
    (guarded share), and every output stays finite."""
    import math

    from lynx_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 0.0), (1, 3, 0.0), (2, 3, 1.0)], ["src", "nbr", "w"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3)], ["vec_id"])
    out = {
        r["vec_id"]: r["pagerank"]
        for r in pagerank(
            edges, nodes, "vec_id", n_iters=2, weight_col="w"
        ).collect()
    }
    assert all(math.isfinite(v) for v in out.values())
    # node 1 receives nothing and sends nothing: teleport mass only
    assert abs(out[1] - 0.15 / 3) < 1e-9
    # node 3 gets node 2's full share; node 2 only teleport mass
    assert out[3] > out[2] > 0.0


def test_kcore_peel_pendant_dies_core_survives(spark):
    """Triangle {1,2,3} + pendant 4-1, k=2: round 1 peels the pendant
    (degree 1) and drops its edge; node 1's degree falls 3->2 but
    stays >= k, so rounds 2+ are stable at the triangle."""
    from lynx_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], ["src", "dst"]
    )
    rows = {
        r["round"]: (r["survivors"], r["n_edges"])
        for r in kcore_peel(edges, k=2, n_rounds=2).collect()
    }
    assert rows == {0: (4, 4), 1: (3, 3), 2: (3, 3)}


def test_kcore_peel_chain_collapses_fully(spark):
    """A path 1-2-3-4 has no 2-core: endpoints die round 1, the
    middle pair dies round 2, empty thereafter — and empty rounds
    produce 0-rows, not errors."""
    from lynx_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    rows = {
        r["round"]: (r["survivors"], r["n_edges"])
        for r in kcore_peel(edges, k=2, n_rounds=3).collect()
    }
    assert rows == {0: (4, 3), 1: (2, 1), 2: (0, 0), 3: (0, 0)}
