"""Permanent F.broadcast() allowlist audit (VERDICT r10 task 2).

A forced ``F.broadcast()`` bypasses Spark's size check, so a hint on a
data-dependent frame is a driver OOM at 100 TB even when it is the
right plan at every test SF. Rounds 9-10 removed that hazard class
three times (dedup.py candidate ids, graph.py label maps, q125's
near-dup pair frame) — each time because a NEW site slipped in
unaudited. This test makes the audit structural: every
``F.broadcast(`` call site in the package must appear in the
allowlist below, keyed by (module, enclosing function) with its exact
site count and an annotated bound class:

  DIM      a dimension table (region/nation/supplier/part-brand...)
  SCALAR   a 1-to-few-row aggregate (count, median, fit coefficients)
  ROSTER   a literal frame of named constants (<= ~10 rows: lags,
           bins, thresholds, percentile targets)
  CALENDAR a day/month-bounded frame (bounded by the time domain)
  DOMAIN   a value/domain-grain map (bounded by the value domain or
           the source/label roster, never by corpus row count)
  GATED    hint applied inside _util.broadcast_if_counted, behind a
           row count the caller already paid for

Adding a new ``F.broadcast(`` anywhere fails this test until the site
is classified here — if it does not fit one of the classes above, it
must go through ``broadcast_if_counted`` instead (the GATED path).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "lynx_spark"

# (module-relative-path, enclosing function) -> (site count, class)
ALLOWLIST: dict[tuple[str, str], tuple[int, str]] = {
    # the gate itself — the only site allowed to hint conditionally
    ("operators/_util.py", "broadcast_if_counted"): (1, "GATED"),
    # operators: mixture/selection planners broadcast per-source
    # weight tables (source roster grain) and scalar totals
    ("operators/corpus.py", "mixture_weights"): (1, "DOMAIN"),
    ("operators/corpus.py", "ngram_decontaminate"): (1, "DOMAIN"),
    ("operators/corpus.py", "temperature_mixture"): (1, "DOMAIN"),
    ("operators/corpus.py", "token_budget_select"): (2, "DOMAIN"),
    ("operators/corpus.py", "pps_sample"): (1, "SCALAR"),
    ("operators/corpus.py", "curriculum_interleave"): (2, "DOMAIN"),
    ("operators/corpus.py", "materialize_mixture"): (1, "DOMAIN"),
    ("operators/corpus.py", "repetition_plan"): (1, "SCALAR"),
    # audit operator: the planted-duplicate probe set (caller-sized)
    ("operators/dedup.py", "lsh_recall_audit"): (2, "ROSTER"),
    # graph: dangling-mass / normalization scalars; modularity's
    # 1-row total (the label-map joins are GATED at graph.py:831+)
    ("operators/graph.py", "pagerank"): (2, "SCALAR"),
    ("operators/graph.py", "directed_modularity"): (1, "SCALAR"),
    # 4-scalar min/max quantization stats
    ("operators/layout.py", "zorder_audit"): (1, "SCALAR"),
    # lm: vocabulary-grain score maps (value domain), query rosters,
    # per-language priors (label roster), BPE's merged-pair row
    ("operators/lm.py", "unigram_scores"): (1, "DOMAIN"),
    ("operators/lm.py", "dsir_weights"): (1, "DOMAIN"),
    ("operators/lm.py", "tfidf_top_terms"): (1, "SCALAR"),
    ("operators/lm.py", "bm25_topk"): (2, "ROSTER"),
    ("operators/lm.py", "nb_langid_confusion"): (3, "DOMAIN"),
    ("operators/lm.py", "stupid_backoff_scores"): (1, "DOMAIN"),
    # _bpe_learn's broadcast-argmax site was removed in r14: the merge
    # loop now collects its 1-row argmax (model-sized) and embeds it
    # as a replace literal — one job per merge instead of three
    ("operators/lm.py", "phrase_search_top_bigram"): (1, "SCALAR"),
    ("operators/lm.py", "pmi_collocations"): (2, "SCALAR"),
    # quality: histogram/drift/sketch audits — bin edges, scalar
    # counts, per-bucket reference distributions (bin-grain)
    ("operators/quality.py", "length_histogram"): (1, "SCALAR"),
    ("operators/quality.py", "vocab_coverage"): (2, "DOMAIN"),
    ("operators/quality.py", "approx_percent_rank"): (1, "DOMAIN"),
    ("operators/quality.py", "category_drift_psi"): (1, "DOMAIN"),
    ("operators/quality.py", "binned"): (1, "SCALAR"),
    ("operators/quality.py", "numeric_drift_ks"): (1, "SCALAR"),
    ("operators/quality.py", "classifier_eval_curve"): (1, "SCALAR"),
    ("operators/quality.py", "countmin_audit"): (1, "DOMAIN"),
    ("operators/quality.py", "hll_audit"): (1, "SCALAR"),
    ("operators/quality.py", "kmv_set_ops_audit"): (6, "SCALAR"),
    ("operators/quality.py", "heavy_hitters_exact"): (1, "SCALAR"),
    # similarity: query rosters (caller-sized probe sets), centroid
    # tables (k-grain), JL projection seeds
    ("operators/similarity.py", "cosine_topk"): (1, "ROSTER"),
    ("operators/similarity.py", "lsh_ann_topk"): (2, "ROSTER"),
    ("operators/similarity.py", "ivf_ann_topk"): (1, "DOMAIN"),
    ("operators/similarity.py", "label_centroid_audit"): (1, "DOMAIN"),
    ("operators/similarity.py", "hard_negatives"): (1, "ROSTER"),
    ("operators/similarity.py", "jl_distortion_audit"): (1, "SCALAR"),
    ("operators/similarity.py", "kcenter_sample"): (2, "ROSTER"),
    # r11: the 64-probe literal sample; the d-row energy scalar
    ("operators/similarity.py", "embedding_split_leakage"): (1, "ROSTER"),
    ("operators/similarity.py", "power_iteration_pca"): (1, "SCALAR"),
    # the operator's contract: caller asserts the right side is
    # dimension-sized (it exists to salt a skewed dim join)
    ("operators/skew.py", "salted_broadcast_join"): (1, "DIM"),
    # streaming: the merged per-batch state frame (state-store grain)
    ("streaming/incremental.py", "body"): (1, "DOMAIN"),
    # analytics registry sites (audited by the r10 judge, then here):
    ("plans/analytics.py", "q05"): (3, "DIM"),
    ("plans/analytics.py", "q107"): (3, "DOMAIN"),
    # q125: the 7-row threshold roster + its <=7-row aggregate + the
    # 1-row corpus total — the pair frame itself is NEVER hinted
    ("plans/analytics.py", "q125"): (3, "ROSTER"),
    ("plans/analytics.py", "q152"): (2, "ROSTER"),
    ("plans/analytics.py", "q162"): (2, "SCALAR"),
    ("plans/analytics.py", "q165"): (1, "ROSTER"),
    ("plans/analytics.py", "q167"): (1, "SCALAR"),
    ("plans/analytics.py", "q176"): (4, "SCALAR"),
    ("plans/analytics.py", "q177"): (1, "SCALAR"),
    ("plans/analytics.py", "q178"): (4, "CALENDAR"),
    ("plans/analytics.py", "q179"): (1, "SCALAR"),
    ("plans/analytics.py", "q180"): (2, "ROSTER"),
    ("plans/analytics.py", "q181"): (1, "SCALAR"),
    ("plans/analytics.py", "q182"): (1, "ROSTER"),
    ("plans/analytics.py", "q186"): (2, "SCALAR"),
    ("plans/analytics.py", "q192"): (1, "SCALAR"),
    ("plans/analytics.py", "q194"): (3, "SCALAR"),
    ("plans/analytics.py", "q199"): (2, "SCALAR"),
    ("plans/analytics.py", "q200"): (4, "SCALAR"),
    ("plans/analytics.py", "q203"): (1, "SCALAR"),
    ("plans/analytics.py", "q204"): (1, "SCALAR"),
    ("plans/analytics.py", "q206"): (1, "SCALAR"),
    ("plans/analytics.py", "q207"): (1, "SCALAR"),
    ("plans/analytics.py", "q208"): (2, "SCALAR"),
    # midrank maps: value-domain grain, not corpus grain
    ("plans/analytics.py", "q209"): (2, "DOMAIN"),
    ("plans/analytics.py", "q210"): (1, "SCALAR"),
    ("plans/analytics.py", "q211"): (1, "SCALAR"),
    ("plans/analytics.py", "q216"): (2, "SCALAR"),
    ("plans/analytics.py", "q217"): (3, "SCALAR"),
    ("plans/analytics.py", "q218"): (1, "SCALAR"),
    ("plans/analytics.py", "q221"): (3, "DOMAIN"),
    ("plans/analytics.py", "q222"): (1, "DIM"),
    ("plans/analytics.py", "q224"): (1, "SCALAR"),
    ("plans/analytics.py", "q225"): (2, "DIM"),
    ("plans/analytics.py", "q226"): (1, "SCALAR"),
    ("plans/analytics.py", "q227"): (2, "DOMAIN"),
    ("plans/analytics.py", "q229"): (1, "ROSTER"),
    ("plans/analytics.py", "q232"): (1, "SCALAR"),
    ("plans/analytics.py", "q234"): (1, "ROSTER"),
    ("plans/analytics.py", "q239"): (5, "SCALAR"),
    # per-source vocabulary z-sets: source-roster grain
    ("plans/analytics.py", "q242"): (2, "DOMAIN"),
    ("plans/analytics.py", "q244"): (1, "ROSTER"),
    # r11 cohort: q247 broadcasts the group-grain median frame;
    # q248 the q178-style calendar scalars/day frame; q252 the 1-row
    # reciprocity count; q254 the supplier dimension
    ("plans/analytics.py", "q247"): (1, "DOMAIN"),
    ("plans/analytics.py", "q248"): (3, "CALENDAR"),
    ("plans/analytics.py", "q252"): (1, "SCALAR"),
    ("plans/analytics.py", "q254"): (1, "DIM"),
    # r11 second batch: q257's per-feature helper broadcasts the
    # 1-row (P,Q) totals and the 1-row IV fold; q259 broadcasts the
    # event-type-grain model/quantile/count frames (label roster,
    # <=5 rows) through every join
    ("plans/analytics.py", "one"): (2, "SCALAR"),
    ("plans/analytics.py", "q259"): (7, "DOMAIN"),
    # q261: the 1-row (n, S) scalar twice + the <=10-row k roster
    ("plans/analytics.py", "q261"): (3, "SCALAR"),
    # two-NN: the 64-probe literal sample + its 64-row argmin frame
    ("operators/similarity.py", "two_nn_intrinsic_dim"): (2, "ROSTER"),
    # q262: the 1-row split-pair counter frame
    ("plans/analytics.py", "q262"): (1, "SCALAR"),
    # q256's PAV core (factored to _isotonic_fit_rates in r12): the
    # <=101-row score-grain side of the (j,k) inequality self-join
    ("plans/analytics.py", "_isotonic_fit_rates"): (1, "DOMAIN"),
    # q263: contingency-grain marginals (cluster/label rosters) and
    # the 1-row metric aggregates; `ent` is its nested entropy helper
    # (1-row corpus-size scalar)
    ("plans/analytics.py", "q263"): (9, "DOMAIN"),
    ("plans/analytics.py", "ent"): (1, "SCALAR"),
    # q264: per-type Walsh-weight totals + the <=5-row HL medians
    ("plans/analytics.py", "q264"): (2, "DOMAIN"),
    # q265: the 1-row (N,P,m) totals + the 1-row BH kstar
    ("plans/analytics.py", "q265"): (2, "SCALAR"),
    # q266: the 1-row censor-horizon scalar
    ("plans/analytics.py", "q266"): (1, "SCALAR"),
    # q268 (r12 densify): the min..max day calendar frame
    ("plans/analytics.py", "q268"): (1, "CALENDAR"),
    # q267: the 1-row balance-cutoff scalar
    ("plans/analytics.py", "q267"): (1, "SCALAR"),
    # q270: the order-count-grain control frame + the 1-row control
    # totals
    ("plans/analytics.py", "q270"): (2, "DOMAIN"),
    # q271: the 1-row tie term + the 1-row (H, tie_corr) scalars
    ("plans/analytics.py", "q271"): (2, "SCALAR"),
}

VALID_CLASSES = {"DIM", "SCALAR", "ROSTER", "CALENDAR", "DOMAIN", "GATED"}

# The same hazard class has a second spelling (VERDICT r11): a plain
# ``a.crossJoin(b)`` with a data-dependent operand is a cartesian
# blowup at 100 TB even though no broadcast hint appears anywhere.
# Sites whose ARGUMENT is directly ``F.broadcast(...)`` are already
# certified by the F.broadcast allowlist above (the hinted frame's
# bound class covers the cartesian: |out| = |left| * |hinted|); every
# OTHER crossJoin site must be classified here, keyed like the
# broadcast list, with the bound class of its unhinted operand.
CROSSJOIN_ALLOWLIST: dict[tuple[str, str], tuple[int, str]] = {
    # q261: broadcast(kf <= 10 rows).crossJoin(idx) — idx is the
    # day-indexed series, calendar-bounded; the cartesian is
    # 10 x n_days
    ("plans/analytics.py", "q261"): (1, "CALENDAR"),
    # kcore peel rounds: the per-round 1-row survivor-count aggregate
    # stapled onto the summary row
    ("operators/graph.py", "kcore_peel"): (2, "SCALAR"),
    # eval curve: broadcast(threshold roster <= ~9 rows) x buckets
    # (score-value grain — bounded by the score domain, not the
    # corpus)
    ("operators/quality.py", "classifier_eval_curve"): (1, "DOMAIN"),
}


def _walk_sites(match_call) -> dict[tuple[str, str], int]:
    found: dict[tuple[str, str], int] = {}
    for mod in sorted(PKG.rglob("*.py")):
        rel = mod.relative_to(PKG).as_posix()
        tree = ast.parse(mod.read_text())
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def _fn(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_FunctionDef = _fn
            visit_AsyncFunctionDef = _fn

            def visit_Call(self, node):
                if match_call(node):
                    key = (rel, stack[-1] if stack else "<module>")
                    found[key] = found.get(key, 0) + 1
                self.generic_visit(node)

        V().visit(tree)
    return found


def _is_f_broadcast(node: ast.expr) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "broadcast"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _broadcast_sites() -> dict[tuple[str, str], int]:
    return _walk_sites(lambda node: _is_f_broadcast(node))


def _unhinted_crossjoin_sites() -> dict[tuple[str, str], int]:
    """crossJoin call sites whose argument is NOT directly an
    F.broadcast(...) call (those are certified by the broadcast
    allowlist)."""

    def match(node: ast.Call) -> bool:
        f = node.func
        if not (isinstance(f, ast.Attribute) and f.attr == "crossJoin"):
            return False
        return not (len(node.args) == 1 and _is_f_broadcast(node.args[0]))

    return _walk_sites(match)


def test_every_broadcast_site_is_allowlisted():
    found = _broadcast_sites()
    new = {k: v for k, v in found.items() if k not in ALLOWLIST}
    assert not new, (
        "Unaudited F.broadcast() sites (classify in "
        f"tests/test_broadcast_allowlist.py or route through "
        f"broadcast_if_counted): {new}"
    )


def test_allowlist_counts_exact():
    """A count drift in an ALREADY-allowlisted function is still a new
    (or removed) site — re-audit, don't inherit the old class."""
    found = _broadcast_sites()
    drift = {
        k: (found.get(k, 0), exp)
        for k, (exp, _) in ALLOWLIST.items()
        if found.get(k, 0) != exp
    }
    assert not drift, f"(found, expected) count drift: {drift}"


def test_allowlist_classes_valid():
    bad = {k: c for k, (_, c) in ALLOWLIST.items() if c not in VALID_CLASSES}
    bad |= {
        k: c
        for k, (_, c) in CROSSJOIN_ALLOWLIST.items()
        if c not in VALID_CLASSES
    }
    assert not bad, f"unknown bound classes: {bad}"


def test_every_unhinted_crossjoin_site_is_allowlisted():
    found = _unhinted_crossjoin_sites()
    new = {k: v for k, v in found.items() if k not in CROSSJOIN_ALLOWLIST}
    assert not new, (
        "Unaudited plain .crossJoin() sites (classify in "
        "CROSSJOIN_ALLOWLIST with the unhinted operand's bound class, "
        f"or hint a provably bounded operand): {new}"
    )


def test_crossjoin_allowlist_counts_exact():
    found = _unhinted_crossjoin_sites()
    drift = {
        k: (found.get(k, 0), exp)
        for k, (exp, _) in CROSSJOIN_ALLOWLIST.items()
        if found.get(k, 0) != exp
    }
    assert not drift, f"(found, expected) crossJoin count drift: {drift}"
