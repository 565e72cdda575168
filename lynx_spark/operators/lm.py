"""Corpus-level unigram language-model scoring: per-document log
probability under the corpus's own word distribution, and DSIR-style
importance weights against a target domain.

The reference engine (jdockerty/lynx) has no corpus surface — these
extend the training-data operator family (SURVEY §2 extensions) with
the two standard *model-based* quality signals that need CROSS-document
state (unlike the per-row signals in operators/corpus.py and
operators/quality.py):

- ``unigram_scores``: how (a)typical each document is for the corpus —
  the language-model-perplexity filter of CCNet/RefinedWeb pipelines,
  with the corpus's own unigram distribution standing in for the
  external KenLM model (swap the vocab DataFrame to use one).
- ``dsir_weights``: Data Selection via Importance Resampling (Xie et
  al., 2023, arXiv:2302.03169) — per-document log importance ratio
  log p_target(doc) − log p_corpus(doc) under smoothed unigram models;
  documents resembling the target domain get positive weights and are
  preferentially sampled.

Shape at 100 TB — two aggregation trees plus one join, no collect:

1. ``(doc, word) -> n`` counts: explode + groupBy. Partial (map-side)
   aggregation absorbs within-document repetition before the shuffle.
2. Vocabulary ``word -> count``: a second groupBy over (1) — rides the
   same hash partitioning on ``word`` is NOT possible (``(doc, word)``
   keys hash differently), but the input to this shuffle is already
   one row per (doc, word), far smaller than the token stream.
3. Model totals (N, |V|): single-row aggregate, broadcast.
4. Score join ``counts ⋈ vocab`` on ``word``: the build side has ONE
   row per word, so a hot stopword skews probe volume only — AQE's
   skew-join split handles it without salting (no row multiplication
   can occur with a unique build key). In production the standard knob
   is vocabulary truncation to top-V words + OOV smoothing, which
   makes the build side broadcastable; kept out of the default path so
   the DuckDB oracle is exact.

Determinism: per-document log terms fold in sorted word order (the
q53 trick) so Spark and DuckDB sum bit-identically; outputs round to
4 decimals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lynx_spark.operators._util import (
    _finalize_iterative,
    _release_frame,
    _truncate_round,
    ensure_parallelism,
)
from lynx_spark.operators._util import words_col as _words

#: add-k smoothing for the DSIR models — keeps words absent from the
#: target corpus at a finite (negative) log ratio instead of -inf
DSIR_ALPHA = 0.5


def doc_word_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(doc_id, word, n)`` — per-document word multiplicities.

    The shared first pass of every corpus-LM operator: explode the
    whitespace tokens (the canonical ``words_col`` tokenization) and
    count per (doc, word). Map-side partial aggregation collapses
    within-partition repeats, so the shuffle carries one row per
    (doc, word), not one per token."""
    return (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(_words(text_col)).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )


def _fold_sorted(terms: Column) -> Column:
    """Left-fold sum over an array<struct<word,lp>> SORTED by word —
    the deterministic float summation both engines reproduce."""
    return F.aggregate(
        F.transform(terms, lambda x: x["lp"]),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def unigram_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document log probability under the corpus's own unigram
    model: ``logprob = Σ_w n_w · ln(c_w / N)`` and its per-token mean
    (the quantity thresholded by perplexity filters; perplexity =
    exp(−avg_logprob)).

    Output: ``(doc_id, n_tokens, logprob, avg_logprob)`` — one row per
    document with ≥1 token.

    No smoothing: every scored word is in the vocabulary by
    construction (the model is trained on the same corpus). To score
    against an EXTERNAL model, join ``doc_word_counts`` to your own
    ``(word, logp)`` table instead."""
    # one internal persist (the MLlib pattern the dedup/similarity
    # families use): counts feeds the vocab, the totals AND the score
    # join — without it Catalyst rebuilds the explode+groupBy subtree
    # per consumer and the corpus is scanned three times
    counts = doc_word_counts(df, id_col, text_col).persist()
    vocab = counts.groupBy("word").agg(F.sum("n").alias("c")).persist()
    stats = vocab.agg(F.sum("c").alias("total"))
    lp = F.col("n") * F.log(F.col("c") / F.col("total"))
    per_doc = (
        counts.join(vocab, "word")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("word"), lp.alias("lp")))
            ).alias("_terms"),
        )
    )
    total_lp = _fold_sorted(F.col("_terms"))
    # + 0.0 folds IEEE negative zero to positive zero (a round() result
    # of -0.0 renders as "-0.0" in one engine and "0.0" in the other)
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.round(total_lp, 4) + 0.0).alias("logprob"),
        (F.round(total_lp / F.col("n_tokens"), 4) + 0.0).alias("avg_logprob"),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    alpha: float = DSIR_ALPHA,
) -> DataFrame:
    """DSIR importance weights (Xie et al., 2023, arXiv:2302.03169,
    with unigram features): for each document,

        log_ratio = Σ_w n_w · [ ln p̂_t(w) − ln p̂_c(w) ]

    where p̂_t / p̂_c are add-``alpha``-smoothed unigram models of the
    ``target``-filtered subset and the full corpus, both smoothed over
    the CORPUS vocabulary (so target-absent words stay finite).
    Positive ``avg_log_ratio`` ⇒ the document looks more like the
    target domain than the corpus at large ⇒ upsample.

    Output: ``(doc_id, n_tokens, log_ratio, avg_log_ratio)``.

    Same two-aggregation + unique-build-key-join shape as
    ``unigram_scores``; the target model is a filtered second
    aggregate over the same (doc, word) counts, NOT a second pass over
    the text."""
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("_text"),
        target.alias("_is_target"),
    )
    # persist: counts feeds the model aggregation AND the score join
    # (see unigram_scores); corpus_v feeds totals and the join
    counts = doc_word_counts(base, "doc_id", "_text").persist()
    flagged = counts.join(base.select("doc_id", "_is_target"), "doc_id")
    corpus_v = flagged.groupBy("word").agg(
        F.sum("n").alias("cc"),
        F.sum(F.when(F.col("_is_target"), F.col("n")).otherwise(F.lit(0))).alias("ct"),
    ).persist()
    stats = corpus_v.agg(
        F.sum("cc").alias("nc"),
        F.sum("ct").alias("nt"),
        F.count("*").alias("v"),
    )
    a = F.lit(float(alpha))
    lp = F.col("n") * (
        F.log((F.col("ct") + a) / (F.col("nt") + a * F.col("v")))
        - F.log((F.col("cc") + a) / (F.col("nc") + a * F.col("v")))
    )
    per_doc = (
        counts.join(corpus_v, "word")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("word"), lp.alias("lp")))
            ).alias("_terms"),
        )
    )
    total = _fold_sorted(F.col("_terms"))
    # + 0.0: normalize IEEE negative zero (see unigram_scores)
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.round(total, 4) + 0.0).alias("log_ratio"),
        (F.round(total / F.col("n_tokens"), 4) + 0.0).alias("avg_log_ratio"),
    )


def ccnet_buckets(
    df: DataFrame, id_col: str, text_col: str, lang_col: str
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019,
    arXiv:1911.00359): per language, rank documents by their
    unigram-LM score and split into head/middle/tail tertiles — the
    published Common-Crawl curation step where "head" (lowest
    perplexity = highest avg log prob) feeds training and "tail" is
    dropped or down-weighted.

    Buckets are per-LANGUAGE because perplexities are not comparable
    across languages (each language's model sees different token
    statistics) — same reasoning as the per-domain percentile gate
    (quality.top_fraction). ntile(3) over a (avg_logprob desc,
    doc_id) total order is deterministic and engine-portable; one
    window shuffle keyed by language on a model-sized per-doc frame,
    languages rank in parallel."""
    scores = unigram_scores(df, id_col, text_col)
    langs = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(lang_col).alias("lang"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    tert = F.ntile(3).over(w)
    return (
        scores.join(langs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(tert == 1, "head")
            .when(tert == 2, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Per-document top-``k`` terms by tf-idf (the keyword-extraction
    / topic-tagging step): tf = in-document count, idf =
    ln(N / df_word) with document frequency over the corpus.

    Shape: the (doc, word) counts aggregate once (the same frame the
    unigram LM builds); document frequencies aggregate that frame to
    vocabulary granularity — bounded by the vocabulary, not the
    corpus — and join back on the word (unique build key, the q60
    shape: AQE broadcasts when the vocab fits, skew-splits the hot
    stopwords when it doesn't). Top-k per document is one window over
    the per-doc term lists; scores round before ranking so both
    engines rank the same values (term tiebreak makes the order
    total)."""
    counts = doc_word_counts(df, id_col, text_col)
    dfreq = counts.groupBy("word").agg(
        F.countDistinct("doc_id").alias("_df")
    )
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_n")
    )
    scored = (
        counts.join(dfreq, "word")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.round(F.col("n") * F.log(F.col("_n") / F.col("_df")), 4) + 0.0),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            F.col("word").alias("term"),
            "tfidf",
            "rnk",
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query-term set — the
    sparse-retrieval primitive training pipelines use for
    decontamination lookups and retrieval-augmented data curation
    (idf = ln(1 + (N − df + ½)/(df + ½)), the Robertson/Sparck-Jones
    form; k1/b at the canonical 1.2/0.75).

    Scale shape: the exploded token stream is filtered to the query
    terms BEFORE any shuffle, so the term-frequency aggregation's
    input is |terms|-bounded per document, not corpus-sized; document
    length and the (N, avgdl) model totals are one aggregate each
    (single-row broadcast — the q60 shape); per-term document
    frequencies aggregate the tiny tf frame. Per-document scores sum
    rounded DECIMAL terms (exact, order-independent — the q78 trick),
    and the final top-k is an orderBy+limit that Catalyst executes as
    TakeOrderedAndProject (no global sort materializes).

    Output: the k highest-scoring documents with rank, matched-term
    count, and score."""
    terms_arr = F.array(*[F.lit(t) for t in query_terms])
    d = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        _words(text_col).alias("w"),
    )
    lens = d.select("doc_id", F.size("w").cast("long").alias("dl"))
    totals = lens.agg(
        F.count("*").cast("long").alias("n_corpus"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        d.select(
            "doc_id",
            F.explode(
                F.filter(F.col("w"), lambda x: F.array_contains(terms_arr, x))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df_t")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(totals))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_corpus") - F.col("df_t") + F.lit(0.5))
                / (F.col("df_t") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B)
                        * F.col("dl")
                        / (F.col("sum_dl") / F.col("n_corpus"))
                    )
                ),
                6,
            ).cast("decimal(28,6)"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        F.round(F.sum("term_score").cast("double"), 4).alias("bm25"),
    )
    topk = per_doc.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return topk.withColumn("rnk", F.row_number().over(w).cast("long")).select(
        "doc_id", "n_terms_matched", "bm25", "rnk"
    )


RRF_K = 60  # the canonical reciprocal-rank-fusion constant


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two
    ranked candidate lists — the standard hybrid-retrieval combiner
    (sparse BM25 ⊕ dense embedding ranks): score(d) = Σ 1/(rrf_k +
    rank_i(d)) over the lists containing d. Rank-based, so the two
    systems' incomparable score scales never mix.

    Inputs carry (``id_col``, ``rnk``) — the shape every top-k
    operator here emits. A full outer join on the id aligns the
    lists (both sides are top-k results — model-sized, the join is
    trivially broadcastable at any corpus scale); absent ranks
    contribute zero. Deterministic: doubles 1/(k+r) are exact
    functions of integer ranks, identical in both engines; final
    order by (score desc, id)."""
    a = ranked_a.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col("rnk").alias("_ra"),
    )
    b = ranked_b.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col("rnk").alias("_rb"),
    )
    fused = (
        a.join(b, "_id", "full_outer")
        .select(
            F.col("_id").alias(id_col),
            F.col("_ra").alias("rank_sparse"),
            F.col("_rb").alias("rank_dense"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("_ra")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(rrf_k) + F.col("_rb")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    topk = fused.orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    ).limit(k)
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return topk.withColumn("rnk", F.row_number().over(w).cast("long"))


def train_logreg(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 2.0,
) -> DataFrame:
    """Distributed full-batch logistic-regression TRAINING — the
    supervised twin of the IVF k-means trainer (similarity.py): the
    corpus never leaves the executors; each gradient-descent
    iteration is ONE aggregation whose model-sized result (one
    gradient component per feature, plus the loss) is collected and
    folded into the next iteration's literal weights. The pattern
    every from-the-corpus quality-classifier bootstrap (fastText-
    style filters trained on heuristic labels) runs at 100 TB: d+2
    scalars cross the driver per iteration, nothing else.

    Bit-identical in SQL by construction (the q68 decimal device,
    pushed one level deeper): per-row gradient terms x_j·(σ(w·x)−y)
    round to 12 decimals and sum as DECIMAL(38,12) — exact and
    order-independent — so both engines derive the same weights; all
    remaining arithmetic (int→double, ·, ÷, −, and exp at equal
    arguments) is identically rounded. Returns one row per iteration:
    the average log-loss BEFORE that iteration's update and the
    weights AFTER it (bias first, then feature_cols order).

    Features should be pre-scaled to O(1) magnitudes (the caller owns
    scaling, as with any GD); labels are 0/1."""
    spark = df.sparkSession
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    y = F.col(label_col).cast("double")
    # n rides the first iteration's aggregation instead of a dedicated
    # count() job (that was a full extra corpus scan at scale)
    n: float | None = None
    w = [0.0] * len(xs)
    rows = []
    for it in range(1, iters + 1):
        z = F.lit(w[0])
        for wj, xj in zip(w[1:], xs[1:]):
            z = z + F.lit(wj) * xj
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # loss guard: exp(-z) saturates p to exactly 0.0/1.0 for
        # |z| >~ 745, where ln() goes NULL and sum() would silently
        # drop the row, underreporting avg_loss; clamp INSIDE the
        # loss only — the gradient terms x·(p−y) are fine saturated.
        # 1.0 - 1e-12 is COMPUTED (identical IEEE subtraction both
        # engines), never a decimal literal that could round apart
        pc = F.greatest(
            F.lit(1e-12), F.least(F.lit(1.0) - F.lit(1e-12), p)
        )
        aggs = [
            F.sum(
                F.round(xj * (p - y), 12).cast("decimal(38,12)")
            ).alias(f"g{j}")
            for j, xj in enumerate(xs)
        ]
        aggs.append(
            F.sum(
                F.round(
                    -(
                        y * F.log(pc)
                        + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc)
                    ),
                    9,
                ).cast("decimal(38,9)")
            ).alias("l")
        )
        aggs.append(F.count("*").alias("_n"))
        got = df.agg(*aggs).collect()[0]
        if n is None:
            if not got["_n"]:
                raise ValueError("train_logreg: empty input")
            n = float(got["_n"])
        w = [
            wj - lr * (float(got[f"g{j}"]) / n)
            for j, wj in enumerate(w)
        ]
        rows.append((it, float(got["l"]) / n) + tuple(w))
    names = ["iteration", "avg_loss"] + [
        f"w_{c}" for c in ["bias"] + list(feature_cols)
    ]
    out = spark.createDataFrame(rows, names)
    # rounding happens ENGINE-side (Spark round = half-up, matching
    # the oracle's) — Python's round() is half-even and would be the
    # one place the two could disagree
    return out.select(
        F.col("iteration").cast("long"),
        *[
            F.round(F.col(c).cast("double"), 6).alias(c)
            for c in names[1:]
        ],
    )


def nb_langid_confusion(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes language-ID, trained AND evaluated
    relationally: even ids train, odd ids test, output = the
    confusion matrix (true label × predicted label × count). The
    classic supervised eval loop — fit on half, measure on the held
    half — expressed without leaving the engine, so the whole loop is
    auditable by the SQL oracle.

    The smoothing decomposition keeps it join-shaped: with add-one
    smoothing, log P(w|l) = ln(c_lw + 1) − ln(T_l + V), and unseen
    (l, w) pairs contribute ln(1) = 0 to the first term — so the
    per-document score needs only the JOIN HITS against the
    (label, word) count table plus the closed-form penalty
    n_words · ln(T_l + V):

        score(d, l) = ln P(l) − n_words(d)·ln(T_l + V)
                      + Σ_{hits} ln(c_lw + 1)

    100 TB shape: training is two aggregations (label×word counts,
    label totals); scoring is one words⋈counts join and a
    (doc, label) aggregation with decimal-summed hit terms (exact,
    order-free); argmax is a per-doc window over |labels| rows. The
    1-ulp-sensitive prior/penalty terms are rounded to 6dp before
    ranking so the argmax is engine-portable."""
    base = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.col(label_col).alias("lbl"),
        F.explode(_words(text_col)).alias("word"),
    ).filter(F.col("word") != "")
    train = base.filter(F.col("doc") % 2 == 0)
    # persists (the unigram_scores pattern): counts feeds totals,
    # vocab AND the hits join; the exploded test side feeds lengths
    # and hits — without them Catalyst re-runs the corpus explode per
    # consumer (measured 5.5x at the 10x scale check; 1.5x with)
    test = base.filter(F.col("doc") % 2 == 1).persist()

    counts = train.groupBy("lbl", "word").agg(
        F.count("*").cast("long").alias("c")
    ).persist()
    totals = counts.groupBy("lbl").agg(
        F.sum("c").cast("long").alias("t_words")
    )
    vocab = counts.select("word").distinct().agg(
        F.count("*").cast("long").alias("v_size")
    )
    doc_labels = (
        df.select(
            F.col(id_col).cast("long").alias("doc"),
            F.col(label_col).alias("lbl"),
        )
        .filter(F.col("doc") % 2 == 0)
    )
    priors = doc_labels.groupBy("lbl").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    priors = priors.crossJoin(
        F.broadcast(priors.agg(F.sum("n_docs").cast("long").alias("n_all")))
    )

    test_len = test.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_words"),
        # min, not first: first() is partition-order dependent and the
        # oracle's min(lbl) would diverge on duplicate-id inputs
        F.min("lbl").alias("true_lbl"),
    )
    # join hits: test word occurrences (WITH multiplicity) x counts
    hits = (
        test.join(counts.withColumnRenamed("lbl", "cand"), "word")
        .select(
            "doc",
            "cand",
            F.round(F.log(F.col("c") + 1), 9)
            .cast("decimal(38,9)")
            .alias("term"),
        )
        .groupBy("doc", "cand")
        .agg(F.sum("term").cast("double").alias("hit_sum"))
    )
    cand = (
        test_len.crossJoin(
            F.broadcast(
                priors.join(totals, "lbl").crossJoin(F.broadcast(vocab))
            )
        )
        .withColumnRenamed("lbl", "cand")
        .join(hits, ["doc", "cand"], "left")
        .select(
            "doc",
            "true_lbl",
            "cand",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("n_all"))
                - F.col("n_words")
                * F.log((F.col("t_words") + F.col("v_size")).cast("double"))
                + F.coalesce("hit_sum", F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("cand"))
    preds = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc", "true_lbl", F.col("cand").alias("pred_lbl"))
    )
    return (
        preds.groupBy("true_lbl", "pred_lbl")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def stupid_backoff_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.4,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Bigram language-model scoring with STUPID BACKOFF (Brants et
    al. 2007, "Large Language Models in Machine Translation") — the
    backoff scheme built FOR distributed corpora: no discounting
    normalization (which needs global renormalization passes), just

        S(w2|w1) = C(w1 w2)/C(w1)     if the bigram was seen,
                   α · C(w2)/N        otherwise (α = 0.4)

    Per document: Σ ln S over its bigrams and the per-bigram mean —
    one step up the n-gram ladder from the unigram q60 scorer, and
    the mechanism CCNet-style KenLM filters use at order 5.

    Plan: bigram and unigram counts are two aggregations with
    map-side partials; scoring joins the document's bigram stream
    against the bigram table (unique build key) with the unigram
    fallbacks joined alongside; per-doc log terms round to 9dp and
    sum as DECIMAL (exact, order-free).

    ``train_df`` (optional) separates the TRAIN corpus (count tables)
    from the SCORED corpus ``df`` — the held-out evaluation shape,
    and the only way the backoff branch can actually fire: scoring a
    corpus against its own counts means every bigram is seen via
    itself (cb >= 1, never NULL). Without ``train_df`` the counts
    come from ``df`` (in-corpus typicality scoring, the q139 shape).
    OOV policy under a held-out score: bigrams whose words are
    outside the train vocabulary drop from the stream (the inner
    unigram joins), so n_bigrams counts train-vocab bigrams only."""

    def _bigram_stream(frame: DataFrame, with_id: bool) -> DataFrame:
        cols = (
            [F.col(id_col).cast("long").alias("doc_id")] if with_id else []
        )
        w = frame.select(*cols, _words(text_col).alias("w")).filter(
            F.size("w") >= 2
        )
        out_cols = (["doc_id"] if with_id else []) + [
            F.col("bg.w1").alias("w1"),
            F.col("bg.w2").alias("w2"),
        ]
        return (
            w.select(
                *(["doc_id"] if with_id else []),
                F.explode(
                    F.expr(
                        "transform(slice(w, 1, size(w) - 1), (x, i) -> "
                        "struct(x AS w1, w[i + 1] AS w2))"
                    )
                ).alias("bg"),
            )
            .select(*out_cols)
            .filter((F.col("w1") != "") & (F.col("w2") != ""))
        )

    def _uni_counts(frame: DataFrame) -> DataFrame:
        return (
            frame.select(F.explode(_words(text_col)).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("cu"))
            .persist()
        )

    bigrams = _bigram_stream(df, with_id=True).persist()
    if train_df is None:
        # self-scoring: the count table reuses the persisted scoring
        # stream instead of re-deriving it
        bg_counts = bigrams.groupBy("w1", "w2").agg(
            F.count("*").cast("long").alias("cb")
        )
        uni = _uni_counts(df)
    else:
        bg_counts = (
            _bigram_stream(train_df, with_id=False)
            .groupBy("w1", "w2")
            .agg(F.count("*").cast("long").alias("cb"))
        )
        uni = _uni_counts(train_df)
    total = uni.agg(F.sum("cu").cast("long").alias("n_total"))
    s = F.when(
        F.col("cb").isNotNull(),
        F.col("cb").cast("double") / F.col("cu1").cast("double"),
    ).otherwise(
        F.lit(alpha) * F.col("cu2").cast("double")
        / F.col("n_total").cast("double")
    )
    term = F.round(F.log(s), 9).cast("decimal(38,9)")
    scored = (
        bigrams.join(bg_counts, ["w1", "w2"], "left")
        .join(
            uni.select(F.col("word").alias("w1"), F.col("cu").alias("cu1")),
            "w1",
        )
        .join(
            uni.select(F.col("word").alias("w2"), F.col("cu").alias("cu2")),
            "w2",
        )
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(term).cast("double").alias("_lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_lp"), 4).alias("logscore"),
        F.round(F.col("_lp") / F.col("n_bigrams").cast("double"), 4).alias(
            "avg_logscore"
        ),
    )


def _bpe_learn(
    df: DataFrame, text_col: str, n_merges: int, track_sizes: bool
) -> tuple:
    """Full byte-pair-encoding merge-loop training (Sennrich et al.
    2016, arXiv:1508.07909) — the iterated completion of the q112
    first-merge pair statistics: N real merges learned greedily, each
    returning (merge_rank, lhs, rhs, merged, pair_count,
    vocab_tokens_after), where vocab_tokens_after re-tokenizes the
    whole corpus with the merges learned so far (exact token counts,
    the compression trajectory a tokenizer budget is planned on).

    Training runs on lowercase [a-z0-9_]+ words only — the modeling
    vocabulary — which both pins cross-engine string comparisons to
    ASCII and frees '.' as a symbol separator.

    Spark-first shape at 100 TB: the corpus is touched ONCE (the word
    frequency aggregation); every merge iteration is VOCABULARY-
    granular — ONE job computing the pair-count argmax. Symbol
    sequences use a doubled-separator string encoding ('..a..b..'):
    merging pair (a,b) is then the plain non-overlapping left-to-
    right replace of '.a..b.' with '.ab.', which handles adjacent
    repeats correctly (each occurrence donates one dot to its
    neighbor) and has IDENTICAL semantics in Spark's and DuckDB's
    `replace` — no lookaround regex, which RE2 lacks.

    r14 optimization (guide §1.2 step 1 — fewer passes): the loop
    previously ran THREE blocking jobs per merge (argmax checkpoint,
    crossJoin-rewrite checkpoint, token-total checkpoint) — ~60 jobs
    of pure scheduling overhead on a vocabulary-granular frame. Now
    each merge is ONE aggregation job whose 1-row result (the argmax
    pair — MODEL-sized, the train_ivf_centroids precedent for
    collecting model scalars) is collected and embedded as a replace
    LITERAL, so the merge rewrite fuses into the next round's scan
    instead of materializing. The exact re-tokenized corpus size
    falls out of the SAME aggregate via an integer identity: every
    word with k symbols contributes k-1 pairs, so
    sum(pair_count) = sum(c*(k-1)) over multi-symbol words and
    tokens = sum(pair_count) + total_word_count exactly (1-symbol
    words contribute c*1 through the word-count term). All sums stay
    BIGINT — bit-identical to the per-frame token aggregation it
    replaces. The replace chain re-materializes through the shared
    ``_truncate_round`` cadence, so recompute depth and plan size stay
    bounded at any n_merges."""
    sep = r"\.\."
    # r14: the one corpus pass (word counts) splits/filters every
    # document in the scan stage — spread it when the input arrives
    # under-partitioned (guide §2.5; a single small parquet file is
    # one scan task otherwise)
    wc = (
        ensure_parallelism(df)
        .select(F.explode(_words(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9_]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    vocab = wc.select(
        "word",
        "c",
        F.concat(
            F.lit(".."),
            F.array_join(
                F.regexp_extract_all(F.col("word"), F.lit("."), 0), ".."
            ),
            F.lit(".."),
        ).alias("s"),
    ).localCheckpoint(eager=True)

    n_words = None
    if track_sizes:
        n_words = vocab.agg(F.sum("c").cast("long").alias("n")).collect()[
            0
        ]["n"]

    # picks[t-1] = (lhs, rhs, pre-merge pair_count) of merge t;
    # toks[t-1] = exact corpus tokens BEFORE merge t (== after t-1)
    picks: list[tuple] = []
    toks: list[int] = []
    cur = vocab
    ckpt = vocab
    best = None
    for t in range(1, n_merges + 1):
        if best is not None:
            lhs, rhs, _ = best
            cur = cur.select(
                "word",
                "c",
                F.replace(
                    F.col("s"),
                    F.lit(f".{lhs}..{rhs}."),
                    F.lit(f".{lhs}{rhs}."),
                ).alias("s"),
            )
            # cadence counts APPLIED merges: the rewrite at merge t
            # applies pick t-1, so round t-1 truncates after every N
            # applied replaces (ADVICE r14)
            cur, ckpt = _truncate_round(cur, t - 1, ckpt)
        base = cur.select("c", F.split("s", sep).alias("a")).filter(
            F.size("a") >= 4  # at least two symbols -> has a pair
        )
        pc = (
            base.select(
                "c",
                "a",
                F.explode(
                    F.sequence(F.lit(2), F.size("a") - 2)
                ).alias("i"),
            )
            .select(
                F.element_at("a", F.col("i")).alias("pa"),
                F.element_at("a", F.col("i") + 1).alias("pb"),
                "c",
            )
            .groupBy("pa", "pb")
            .agg(F.sum("c").cast("long").alias("pair_count"))
        )
        # one job: the argmax pair (count desc, pa asc, pb asc — the
        # struct-min device, same total order as the orderBy/limit it
        # replaces) plus the pair-count total for the token identity
        stats = pc.agg(
            F.min(
                F.struct(
                    (-F.col("pair_count")).alias("_nc"),
                    F.col("pa"),
                    F.col("pb"),
                )
            ).alias("best"),
            F.sum("pair_count").cast("long").alias("sum_pc"),
        ).collect()[0]
        if stats["best"] is None:
            # vocabulary fully merged: no pair left to count. Clear
            # `best` so the post-loop apply doesn't re-run the
            # previous pick's replace — it was already applied at the
            # top of this iteration (ADVICE r14: the re-apply was a
            # provable no-op, but only via the break invariant)
            best = None
            break
        if track_sizes:
            toks.append(stats["sum_pc"] + n_words)
        best = (
            stats["best"]["pa"],
            stats["best"]["pb"],
            -stats["best"]["_nc"],
        )
        picks.append(best)
    # final vocabulary: apply the last merge and materialize — the
    # checkpoint makes it a leaf both for bpe_tokenize_docs' join and
    # for the final token total, and lets callers release it
    if best is not None:
        lhs, rhs, _ = best
        cur = cur.select(
            "word",
            "c",
            F.replace(
                F.col("s"),
                F.lit(f".{lhs}..{rhs}."),
                F.lit(f".{lhs}{rhs}."),
            ).alias("s"),
        )
    final_vocab = _finalize_iterative(cur, ckpt)
    if track_sizes and picks:
        final_tokens = final_vocab.agg(
            F.sum(F.col("c") * (F.size(F.split("s", sep)) - 2))
            .cast("long")
            .alias("t")
        ).collect()[0]["t"]
        # toks[i] is the count BEFORE merge i+1; shift to AFTER
        toks = toks[1:] + [final_tokens]
    rows = [
        (t + 1, lhs, rhs, lhs + rhs, int(n), int(toks[t]))
        for t, (lhs, rhs, n) in enumerate(picks)
    ] if track_sizes else [
        (t + 1, lhs, rhs, lhs + rhs, int(n), None)
        for t, (lhs, rhs, n) in enumerate(picks)
    ]
    return rows, final_vocab


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 20
) -> DataFrame:
    """The learned merge table: (merge_rank, lhs, rhs, merged,
    pair_count, vocab_tokens_after) — one row per greedy merge, with
    the exact re-tokenized corpus size after it (the compression
    trajectory). See _bpe_learn for the algorithm and scale shape;
    the merge table is MODEL-sized (n_merges rows of collected
    scalars), so it returns as a literal frame — the kcore_peel /
    bfs_hops convention for iteration summaries."""
    rows, vocab = _bpe_learn(df, text_col, n_merges, track_sizes=True)
    _release_frame(vocab)  # per-merge token stats already collected
    return df.sparkSession.createDataFrame(
        rows,
        "merge_rank long, lhs string, rhs string, merged string, "
        "pair_count long, vocab_tokens_after long",
    )


def bpe_tokenize_docs(
    df: DataFrame, id_col: str, text_col: str, n_merges: int = 20
) -> DataFrame:
    """Apply a freshly-trained BPE tokenizer to every document — the
    exact token accounting a packing/budget plan runs on: per doc,
    the word count, the EXACT BPE token count under the learned
    merges (out-of-vocabulary words — anything outside [a-z0-9_]+ —
    cost one whole-word token), and tokens-per-word.

    Scale shape: training is vocabulary-granular (see bpe_train);
    application is one token-count projection on the final vocabulary
    plus ONE doc-words ⋈ vocabulary join on a unique build key (a hot
    stopword skews probe volume only; AQE splits it), then a per-doc
    aggregation."""
    rows, vocab = _bpe_learn(df, text_col, n_merges, track_sizes=False)
    sep = r"\.\."
    wtok = vocab.select(
        "word", (F.size(F.split("s", sep)) - 2).cast("long").alias("wt")
    )
    words = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(_words(text_col)).alias("word"),
    ).filter(F.col("word") != "")
    per_doc = (
        words.join(wtok, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.coalesce(F.col("wt"), F.lit(1)))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("n_words").cast("double"), 4
        ).alias("tokens_per_word"),
    )


def phrase_search_top_bigram(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Positional-index phrase retrieval: build the inverted
    positional index (doc, position, word), find the corpus's most
    frequent bigram (count DESC, then lexicographic — deterministic),
    and return every document containing that exact phrase with its
    occurrence count and first match position.

    This is index-based retrieval, not a text rescan: the phrase
    match is an equality self-join of the positional index on
    (doc, pos+1) — co-partitioned by doc, one shuffle builds the
    index and every downstream join reuses it. At 100 TB the index
    is the persisted artifact; the per-phrase query touches only the
    two posting lists (word-equality filters reach the scan).

    The 1-row phrase argmax broadcasts (the BPE-trainer pattern) —
    no driver collect."""
    pos = (
        df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(_words(text_col)).alias("pos0", "word"),
        )
        .filter(F.col("word") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
        # the index IS the reused artifact: it feeds the bigram
        # count, both sides of its own self-join, and both posting-
        # list probes — materialize once instead of re-splitting the
        # corpus four times (the shared-subtree scale killer)
        .localCheckpoint(eager=True)
    )
    # bigram statistics never need the index self-join: adjacency is
    # array-local, so enumerate (w[i], w[i+1]) inside each row — zero
    # shuffle until the vocabulary-granular count (same semantics as
    # the positional join: original positions, blank tokens excluded)
    top = (
        df.select(_words(text_col).alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2), "
                    "i -> struct(w[i] AS w1, w[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
        .limit(1)
        .select("w1", "w2")
        .localCheckpoint(eager=True)
    )
    p1 = pos.alias("p1").join(
        F.broadcast(top), F.col("p1.word") == F.col("w1")
    )
    p2 = pos.alias("p2")
    matches = p1.join(
        p2,
        (F.col("p1.doc_id") == F.col("p2.doc_id"))
        & (F.col("p1.pos") + 1 == F.col("p2.pos"))
        & (F.col("p2.word") == F.col("w2")),
    )
    return matches.groupBy(F.col("p1.doc_id").alias("doc_id")).agg(
        F.first(F.concat_ws(" ", "w1", "w2")).alias("phrase"),
        F.count("*").cast("long").alias("n_matches"),
        F.min(F.col("p1.pos")).cast("long").alias("first_pos"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual
    information — the phrase-detection statistic word2vec's
    phrase-merge pass and every collocation extractor rank by:
    PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) ) with P(a,b) from adjacent
    bigram counts and P(·) from unigram counts.

    Plan shape (all exact-integer until the single ln): one bigram
    aggregation and one unigram aggregation over the corpus (two
    map-side-partial shuffles at vocabulary grain), two unique-build-
    key joins of the bigram table against the unigram table, one
    2-scalar broadcast of the grand totals, then per-row
    closed-form PMI and a TakeOrderedAndProject top-k — no global
    sort. The ln argument is assembled with an explicit
    parenthesization mirrored in the DuckDB oracle so both engines
    evaluate the identical double before the single transcendental,
    which is then rounded to 1e-6 (the q116 PSI convention)."""
    w = df.select(_words(text_col).alias("w")).filter(F.size("w") >= 2)
    uni = (
        df.select(F.explode(_words(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n_w"))
    )
    bg = (
        w.select(
            F.explode(
                F.expr(
                    "transform(slice(w, 1, size(w) - 1), (x, i) -> "
                    "struct(x AS w1, w[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    totals = uni.agg(
        F.sum("n_w").cast("long").alias("n_uni")
    ).crossJoin(
        F.broadcast(
            df.select(_words(text_col).alias("w"))
            .filter(F.size("w") >= 2)
            .agg(
                F.sum(F.size("w") - F.lit(1)).cast("long").alias("n_bi")
            )
        )
    )
    ua = uni.select(F.col("word").alias("w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("n_w").alias("n_b"))
    # (n_ab * n_uni * n_uni) / (n_bi * n_a * n_b), parenthesized
    # identically in the oracle — one double ratio, one ln, one round
    ratio = (
        F.col("n_ab").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
    ) / (
        F.col("n_bi").cast("double")
        * F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
    )
    return (
        bg.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(F.log(ratio), 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def textrank_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
    min_len: int = 4,
    n_iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the word co-occurrence graph — nodes are content words
    (length >= ``min_len``, which already excludes every STOPWORDS
    entry), edges connect ADJACENT content words with weight =
    corpus-wide co-occurrence count, undirected. The graph-centrality
    alternative to q76's TF-IDF term ranking: TextRank rewards words
    that glue many contexts together, not just frequent-here ones.

    Scale shape: tokenize + bigram explode is one corpus scan; the
    edge aggregation collapses to VOCABULARY^2-bounded (in practice
    co-occurrence-sparse) keys with map-side combine; everything
    after runs at vocab grain. Word ids come from one vocab-grain
    row_number window (single partition over the bounded vocabulary
    — never the corpus), then the exact q127/q137 weighted-PageRank
    recurrence (decimal-summed contributions, bit-stable across
    partitionings). Top-k ties break on the 8dp-snapped score, then
    the word."""
    from lynx_spark.operators import graph as _gr

    fw = F.filter(
        _words(text_col), lambda w: F.length(w) >= min_len
    )
    d = docs.select(fw.alias("fw")).filter(F.size("fw") >= 2)
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(fw) - 1), "
                "i -> struct(least(fw[i-1], fw[i]) AS u, "
                "greatest(fw[i-1], fw[i]) AS v))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    ew = (
        pairs.filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("w"))
    )
    vocab = (
        docs.select(F.explode(fw).alias("word")).distinct()
    )
    # vocab-grain id map: bounded by the vocabulary, not the corpus.
    # persisted — PageRank's per-iteration contribution join re-plans
    # its edge input every round, and without the cache each round
    # (plus the final word join) would re-run the corpus tokenize
    ids = vocab.select(
        "word",
        F.row_number().over(Window.orderBy("word")).cast("long").alias("wid"),
    ).persist()
    a = ids.select(F.col("word").alias("u"), F.col("wid").alias("src"))
    b = ids.select(F.col("word").alias("v"), F.col("wid").alias("nbr"))
    half = ew.join(a, "u").join(b, "v").select(
        "src", "nbr", F.col("w").cast("double").alias("w")
    )
    edges = half.unionByName(
        half.select(
            F.col("nbr").alias("src"),
            F.col("src").alias("nbr"),
            "w",
        )
    ).persist()  # co-occurrence grain; read once per PR iteration
    ranks = _gr.pagerank(
        edges.select("src", "nbr", "w"),
        ids.select("wid"),
        "wid",
        n_iters=n_iters,
        damping=damping,
        weight_col="w",
    )
    scored = ranks.join(ids, ranks["wid"] == ids["wid"]).select(
        "word", F.col("pagerank").alias("score")
    )
    wtop = Window.orderBy(F.desc("score"), "word")
    return (
        scored.select(
            "word",
            "score",
            F.row_number().over(wtop).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= top_k)
        .orderBy("rank")
    )
