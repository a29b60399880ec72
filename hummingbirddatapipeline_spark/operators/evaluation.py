"""In-engine model evaluation over classifier outputs — the metrics
half of the classifier lifecycle the repo already trains in-engine
(pipelines/curation.logreg_quality_train, distill_quality_stump): a
quality filter is only trustworthy if its discrimination (AUC) and its
calibration (reliability bins) are measured ON THE CORPUS, at corpus
scale, without exporting scores to a driver-side sklearn.

Everything here follows the repo's exactness regimes: AUC is PURE
INTEGER rank arithmetic (tie-aware average ranks carried as the exact
integer rank_min + rank_max, summed as DECIMAL so any partitioning
agrees), calibration means quantize their summation terms (10dp ->
DECIMAL accumulators, the r13 rounding rule), and the hashing-trick
featurizer is the repo's 52-bit-md5 content hash — every output is
bit-reproducible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def auc_by_group(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "label",
    group_col: str = "source",
) -> DataFrame:
    """Exact ROC-AUC per group via the Mann–Whitney U statistic —
    tie-aware, no curve interpolation, no sampling: AUC ==
    P(score_pos > score_neg) + 0.5 * P(tie), computed from rank sums.

    Ties use average ranks, carried EXACTLY: for a row in a tie group,
    avg_rank = (rank_min + rank_max) / 2, so ``2 * avg_rank`` =
    rank_min + rank_max is an integer — rank_min is RANK() ascending,
    rank_max = n_group - RANK() descending + 1 (both windows share ONE
    group exchange; the descending rank reuses it with a re-sort).
    Per group::

        AUC = (S2 - P * (P + 1)) / (2 * P * N)

    with S2 = sum of (rank_min + rank_max) over positives, summed as
    DECIMAL(38,0) (exact, associative, no BIGINT overflow at any
    corpus size), P/N the positive/negative counts. Groups with P = 0
    or N = 0 report NULL auc. The one division is the final op,
    rounded 6dp on identical integer inputs.

    Returns (group, n_pos, n_neg, auc).

    Scale shape: ONE group-keyed exchange shared by both rank windows
    and the final aggregate; state is (group, score, label) skinny
    rows. The 100 TB eval is a shuffle of scores, never a collect.
    """
    wg = Window.partitionBy(group_col)
    wa = Window.partitionBy(group_col).orderBy(F.col(score_col).asc())
    wd = Window.partitionBy(group_col).orderBy(F.col(score_col).desc())
    r2 = (
        F.rank().over(wa)
        + (F.count("*").over(wg) - F.rank().over(wd) + F.lit(1))
    ).cast("long")
    lab = F.col(label_col).cast("boolean")
    # keep the group column UN-aliased through the aggregate: renaming
    # it between the rank windows and the groupBy makes Catalyst plan
    # a second exchange instead of reusing the window partitioning
    per = scored.select(
        F.col(group_col),
        lab.alias("__y"),
        r2.alias("__r2"),
    )
    agg = per.groupBy(group_col).agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1))
        .cast("long")
        .alias("n_neg"),
        F.sum(
            F.when(F.col("__y"), F.col("__r2")).otherwise(F.lit(0)).cast(
                "decimal(38,0)"
            )
        ).alias("__s2"),
    )
    p, n = F.col("n_pos"), F.col("n_neg")
    auc = F.round(
        (
            F.col("__s2") - p.cast("decimal(38,0)") * (p + F.lit(1))
        ).cast("double")
        / (F.lit(2.0) * p.cast("double") * n.cast("double")),
        6,
    )
    return agg.select(
        F.col(group_col).alias("group"),
        "n_pos",
        "n_neg",
        F.when((p > 0) & (n > 0), auc).alias("auc"),
    )


def calibration_bins(
    scored: DataFrame,
    prob_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins — the calibration half of classifier
    eval: bucket predicted probabilities into ``n_bins`` equal-width
    bins and compare each bin's mean prediction against its observed
    positive rate. A filter whose 0.9-bin is only 60% positive is
    overconfident, and its threshold cannot be trusted as a rate.

    bin = min(n_bins - 1, floor(p * n_bins)) — row-local IEEE on
    identical doubles, so both engines bucket identically (p == 1.0
    folds into the top bin). Per bin::

        (bin, n, n_pos, mean_prob, frac_pos)

    mean_prob sums 10dp-rounded terms as DECIMAL(20,10) before the
    divide (the r13 rounding rule: quantize ONLY where summation order
    varies), frac_pos is one exact count division; both round 6dp.

    Returns one row per non-empty bin. Scale shape: one map-side bin
    tag + ONE hash aggregate to <= n_bins rows.
    """
    p = F.col(prob_col).cast("double")
    b = F.least(
        F.lit(n_bins - 1), F.floor(p * F.lit(n_bins)).cast("int")
    )
    lab = F.col(label_col).cast("boolean")
    agg = (
        scored.select(
            b.alias("bin"),
            F.round(p, 10).cast("decimal(20,10)").alias("__p10"),
            lab.alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum("__p10").alias("__ps"),
        )
    )
    return agg.select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_pos",
        F.round(F.col("__ps").cast("double") / F.col("n"), 6).alias(
            "mean_prob"
        ),
        F.round(
            F.col("n_pos").cast("double") / F.col("n"), 6
        ).alias("frac_pos"),
    )


def hash_ngram_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 256,
    use_bigrams: bool = True,
) -> DataFrame:
    """Hashing-trick n-gram featurizer (Weinberger et al. 2009; the
    fastText input layer): every lowercased token unigram (and
    bigram) hashes into one of ``n_features`` buckets via the repo's
    52-bit-md5 content hash, and the document's feature vector is the
    bucket count map — the fixed-width, vocabulary-free input a linear
    quality classifier (logreg_quality_train) consumes at corpus
    scale, with no vocab table to build, ship, or limit.

    Grams are namespaced (``1:<tok>`` / ``2:<w1> <w2>``) so a unigram
    and a bigram with equal text cannot collide by construction;
    bucket = 52-bit md5 mod n_features — deterministic, rerun- and
    partitioning-stable, identical in ANSI SQL.

    Returns the EXPLODED sparse form (id, feature_idx, count) — one
    row per non-zero feature, integer counts, the layout a downstream
    trainer aggregates or pivots as it pleases.

    Scale shape: one token explode + one map-side hash + ONE
    (id, feature) hash aggregate; output is bounded by tokens, not by
    n_features * docs. Zero joins, zero model state.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    toks = docs.select(
        F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("__t")
    )
    # unigrams and bigrams generate inside ONE array expression and
    # explode once — a unionByName of two explodes re-inlines the text
    # scan per branch (scan_audit catch; the repetition-battery
    # single-tagged-explode idiom)
    uni_arr = "transform(__t, t -> concat('1:', t))"
    if use_bigrams:
        gram_arr = (
            f"concat({uni_arr}, CASE WHEN size(__t) >= 2 THEN "
            "transform(sequence(0, size(__t) - 2),"
            " i -> concat('2:', __t[i], ' ', __t[i + 1])) "
            "ELSE array() END)"
        )
    else:
        gram_arr = uni_arr
    grams = toks.select(id_col, F.explode(F.expr(gram_arr)).alias("__g"))
    fidx = (
        F.conv(F.substring(F.md5(F.col("__g")), 1, 13), 16, 10)
        .cast("long")
        % n_features
    )
    return (
        grams.select(id_col, fidx.alias("feature_idx"))
        .groupBy(id_col, "feature_idx")
        .agg(F.count("*").cast("long").alias("count"))
    )


def gate_agreement_kappa(
    docs: DataFrame,
    quality_threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Cohen's kappa between two independent document quality GATES —
    the inter-rater agreement report that completes the evaluation arc
    (AUC ranks a scorer against labels, calibration bins check its
    probabilities; kappa answers the question a pipeline owner asks
    BEFORE labels exist: do my two cheap filters even agree beyond
    chance, per source?). Rater A is the C4 keep verdict (word-count
    floor + lorem/brace/javascript markers — the exact expressions the
    text_c4_filters row oracles); rater B is the composite quality
    score at ``quality_threshold``.

    Per stratum: the full 2x2 contingency (exact BIGINTs), observed
    agreement po, chance agreement pe from the marginals, and
    kappa = (po - pe) / (1 - pe); a stratum where pe = 1 (both gates
    constant and equal) is perfect agreement by convention
    (kappa = 1.0). po/pe/kappa are fixed-order IEEE chains over the
    exact counts — identical on any engine; the 6dp rounding is
    display-only on already-identical doubles.

    Scale shape: both gates are map-side column expressions; ONE
    stratum-keyed hash aggregate (map-side combined) — a zero-join,
    one-exchange scan at any corpus size.
    """
    from hummingbirddatapipeline_spark.functions.text import (
        quality_score,
        ws_token_count,
    )

    t = F.col(text_col)
    low = F.lower(t)
    n_words = ws_token_count(t).cast("long")
    a = (
        (n_words >= 5)
        & ~low.contains("lorem ipsum")
        & ~(t.contains("{") | t.contains("}"))
        & ~low.contains("javascript")
    )
    b = F.round(quality_score(t), 2) >= F.lit(quality_threshold)
    flagged = docs.select(
        F.col(strata_col),
        a.cast("int").alias("__a"),
        b.cast("int").alias("__b"),
    )
    agg = flagged.groupBy(strata_col).agg(
        F.count("*").alias("n"),
        F.sum((F.col("__a") * F.col("__b"))).cast("long").alias("n11"),
        F.sum((F.col("__a") * (1 - F.col("__b"))))
        .cast("long")
        .alias("n10"),
        F.sum(((1 - F.col("__a")) * F.col("__b")))
        .cast("long")
        .alias("n01"),
        F.sum(((1 - F.col("__a")) * (1 - F.col("__b"))))
        .cast("long")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (nd * nd)
    return agg.select(
        strata_col,
        F.col("n").cast("long").alias("n"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe == 1.0, F.lit(1.0))
        .otherwise(F.round((po - pe) / (1.0 - pe), 6))
        .alias("kappa"),
    )
