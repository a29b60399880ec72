"""Corpus-statistics retrieval and scoring over ``documents``
(north-star extension alongside the similarity/search family):

- ``bm25_topk``: classic Okapi/Lucene BM25 ranked retrieval for a
  literal query — the standard lexical-search baseline a training-data
  platform runs next to embedding search (hybrid retrieval), and the
  scorer behind "find documents about X" curation pulls.
- ``unigram_logprob``: corpus-unigram language-model surprisal per
  document — the shape of CCNet/Gopher-style perplexity filtering with
  the n-gram LM reduced to its unigram core so the whole scorer stays
  native Spark expressions (no external model). High mean NLL = the
  doc's tokens are rare for this corpus = outlier/noise candidate; low
  = boilerplate-like.

Scale notes: both are explode -> hash-aggregate plans. BM25's query
side is a literal term list (filter + broadcastable per-term df row
set, never a corpus-side shuffle beyond the (doc, term) aggregation);
the unigram LM joins token occurrences to a vocabulary-sized count
table (broadcast here; at real-vocab scale an equi-join on the token —
still O(total tokens), no n^2 anywhere). Corpus scalars (N, avgdl,
total tokens) ride a single-row crossJoin, the repo's standard scalar
combine — no driver-side .count() actions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hummingbirddatapipeline_spark.functions.text import ws_tokens


def _doc_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token) occurrence rows, lowercase whitespace tokenization
    (identical to the catalog's DuckDB token fragment)."""
    return docs.select(
        F.col(id_col),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for ``query_terms`` under BM25 (Robertson &
    Zaragoza 2009; Lucene's non-negative idf variant
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``).

    Returns (id, score, rank); score rounded to 6dp BEFORE ranking and
    ties broken by id, so the cut is deterministic and cross-engine
    stable. Plan (r11 single-scan shape): ONE corpus text scan feeds
    one explode + one per-doc hash aggregate computing dl AND every
    per-term tf together (map-side combined — ~1 skinny row per doc on
    the wire); the checkpointed per-doc frame then serves the corpus
    stats, the long-form tf stream, and the term-level df aggregation
    (broadcast back — at most |query| rows); corpus scalars ride the
    single-row crossJoin; one per-doc sum scores.
    """
    terms = sorted(set(t.lower() for t in query_terms))
    # ONE corpus text scan: explode_outer keeps zero-token docs (they
    # count toward n_docs/avgdl with dl = 0), and a single per-doc hash
    # aggregate produces BOTH the doc length and the per-term tfs —
    # partial aggregation ships ~1 skinny row per doc regardless of
    # token volume. The pre-r11 shape built toks, dl, and stats as
    # three separate lineages, which Catalyst re-inlined into THREE
    # corpus text scans (flagged by tools/scan_audit.py; fix move per
    # PLANS.md "Deferred to r11").
    occ = docs.select(
        F.col(id_col),
        F.explode_outer(ws_tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    per_doc = occ.groupBy(id_col).agg(
        F.count("w").cast("double").alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0))
            .cast("double")
            .alias(f"__tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # skinny (id, dl, tf...) frame consumed by the corpus stats, the
    # long-form tf stream, AND (through it) the df table — checkpoint
    # so the scan+explode+aggregate lineage runs once, not per consumer
    per_doc = per_doc.localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        per_doc.select(
            F.col(id_col),
            F.col("dl"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("w"),
                            F.col(f"__tf_{i}").alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("p"),
        )
        .select(id_col, "dl", "p.w", "p.tf")
        .filter(F.col("tf") > 0)
    )
    df_t = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), 6).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009):
    ``fused(d) = sum over rankers of 1 / (c + rank_r(d))``, the
    standard score-free combiner for hybrid (lexical + embedding)
    retrieval. Each input must carry (id_col, rank); items missing
    from a ranker contribute nothing for it.

    Returns (id, rrf_score, rank); the fused score is rounded to 6dp
    BEFORE the final ranking (ties broken by id) so the cut is
    cross-engine deterministic. Plan shape: the ranked lists are tiny
    (top-N each), so the fusion is an outer join of k-row frames —
    negligible next to the rankers themselves.
    """
    contribs = [
        r.select(
            id_col, (1.0 / (c + F.col("rank"))).alias(f"__rrf_{i}")
        )
        for i, r in enumerate(rankings)
    ]
    fused = contribs[0]
    for nxt in contribs[1:]:
        fused = fused.join(nxt, id_col, "outer")
    score = F.round(
        sum(
            (F.coalesce(F.col(f"__rrf_{i}"), F.lit(0.0)) for i in range(len(contribs))),
            F.lit(0.0),
        ),
        6,
    )
    w = Window.orderBy(F.desc("rrf_score"), F.col(id_col))
    return (
        fused.select(id_col, score.alias("rrf_score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.9,
) -> DataFrame:
    """Per-document mean surprisal under an interpolated bigram LM
    trained on the corpus itself — one fidelity step up from
    :func:`unigram_logprob` toward the KenLM n-gram filters of
    CCNet/Gopher, still entirely native expressions:

        P(w2 | w1) = lam * c(w1 w2) / c(w1) + (1 - lam) * c(w2) / T

    (fixed-weight Jelinek–Mercer interpolation; the unigram backoff
    term keeps every probability > 0 because each observed token has
    corpus count >= 1). ``mean_nll`` averages ``-ln P`` over the doc's
    bigram positions, rounded 4dp; docs with < 2 tokens report
    n_bigrams = 0 and NULL mean_nll.

    Plan shape: one explode for unigram counts and ONE bigram explode
    (array ``transform`` over token positions — no self-join) that
    immediately aggregates to the per-(doc, bigram) tf table;
    everything downstream — corpus bigram counts, the per-bigram NLL
    (computed once on the distinct-bigram table), and the tf-weighted
    per-doc mean — reuses that table instead of re-exploding the
    corpus. All joins are equi-joins on token/bigram keys — O(total
    tokens), nothing quadratic; the corpus total rides the single-row
    crossJoin.
    """
    # Tokenize the corpus ONCE (r16, guide §1.2 — the r15 trigram
    # treatment applied here): the token-array stream feeds BOTH the
    # unigram count branch and the bigram explode, and Catalyst inlines
    # the reference — without truncation the corpus is tokenized twice
    # per pass. The checkpoint is the tokenized stream at rest, exactly
    # what a production LM pipeline persists beside the count tables.
    toks_arr = docs.select(
        F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("t")
    ).localCheckpoint(eager=False)
    occ = toks_arr.select(id_col, F.explode("t").alias("w"))
    # The vocabulary count table is consumed three times (w1 side, w2
    # side, corpus total); without materialization Spark re-runs the
    # corpus explode for each branch (no exchange reuse across the
    # differently-pruned subplans). It is vocabulary-sized — tiny next
    # to the corpus at any scale — so localCheckpoint it once.
    uni = (
        occ.groupBy("w")
        .agg(F.count("*").cast("double").alias("c"))
        .localCheckpoint()
    )
    total = uni.agg(F.sum("c").alias("t_occ"))
    big = (
        toks_arr.filter(F.size("t") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.w1", "p.w2")
    )
    dtf = big.groupBy(id_col, "w1", "w2").agg(
        F.count("*").cast("double").alias("tf")
    )
    # corpus bigram count as a window sum over the (doc, bigram) tf
    # table: dtf is consumed ONCE — no second corpus explode to build
    # a separate bigram-count table. Sums of integer-valued doubles
    # are exact, so cb is bit-identical to a groupBy formulation.
    wb = Window.partitionBy("w1", "w2")
    uni1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    uni2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        dtf.withColumn("cb", F.sum("tf").over(wb))
        .join(uni1, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "nll",
            -F.log(
                F.lit(lam) * F.col("cb") / F.col("c1")
                + F.lit(1.0 - lam) * F.col("c2") / F.col("t_occ")
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.round(F.sum(F.col("tf") * F.col("nll")) / F.sum("tf"), 4).alias(
            "mean_nll"
        ),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "mean_nll",
        )
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram surprisal against the corpus itself:
    ``mean_nll = avg over token occurrences of -ln(count(w) / T)``
    where T is total corpus token occurrences.

    Returns (id, n_tokens, mean_nll rounded 4dp); docs with no tokens
    get NULL mean_nll. Every token the corpus contains has count >= 1,
    so the log never sees zero. The unigram reduction keeps the scorer
    in native expressions; a real KenLM-style n-gram filter slots in
    behind the same (id, n_tokens, mean_nll) contract.
    """
    # Tokenize once (r16, guide §1.2): ``toks`` feeds both the count
    # table build and the scoring join, and Catalyst inlines the
    # reference — checkpoint the token-ARRAY stream (smaller at rest
    # than the exploded occurrences) so each consumer re-explodes
    # cheap checkpoint blocks instead of re-tokenizing the corpus.
    arr = docs.select(
        F.col(id_col), ws_tokens(F.lower(F.col(text_col))).alias("t")
    ).localCheckpoint(eager=False)
    toks = arr.select(id_col, F.explode("t").alias("w"))
    counts = toks.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    per_doc = (
        toks.join(F.broadcast(counts), "w")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("t"))), 4).alias(
                "mean_nll"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "mean_nll",
        )
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lam: float = 0.9,
) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020 §4.3): score
    every document with the interpolated bigram LM
    (:func:`bigram_logprob`) and split EACH LANGUAGE into equal
    perplexity thirds — ``head`` (lowest NLL: fluent/common),
    ``middle``, ``tail`` (highest: noise/outliers). CCNet keeps head+
    middle or trains on buckets separately; per-language ranking is
    what stops a low-resource language from being graded against
    English fluency.

    Buckets come from percent_rank over (mean_nll, id) within each
    language — exact integer rank arithmetic with an id tiebreak, so
    the labeling is engine-deterministic even where 4dp NLLs tie.
    Docs with < 2 tokens (no bigrams) get bucket ``none``.

    Returns (id, lang, n_bigrams, mean_nll, bucket).

    NULL-NLL docs must stay OUT of the percent_rank population: Spark
    orders NULLS FIRST by default where DuckDB orders NULLS LAST,
    which would shift every other doc's rank differently per engine.
    A filter + union branch per population would make Catalyst
    re-inline the whole LM subtree under each union arm (2 bigram
    explodes, 2x corpus work — observed before this shape); instead
    ONE window ordered nulls-LAST gives non-null docs row_number
    1..m, and percent_rank is re-derived as (rn-1)/(m-1) with m =
    count(mean_nll) over the same partition — identical to both
    engines' (rank-1)/(n-1) definition because the id tiebreak makes
    rank == row_number, computed in one pass.

    Scale shape: the LM scoring is bigram_logprob's audited plan (one
    unigram + ONE bigram explode, equi-joins only); the bucketing adds
    ONE language-keyed exchange shared by the rank window and the
    count window (same partitioning). At 100 TB languages are few and
    large — percentile-per-group is the same shape as
    curation_quality_percentile. Plan-contract-pinned in
    tests/test_plan_contracts.py.
    """
    from pyspark.sql.window import Window

    nll = bigram_logprob(docs, text_col=text_col, id_col=id_col, lam=lam)
    lang = docs.select(id_col, lang_col)
    scored = nll.join(lang, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("mean_nll").asc_nulls_last(), id_col
    )
    wl = Window.partitionBy(lang_col)
    rn = F.row_number().over(w)
    m = F.count("mean_nll").over(wl)  # non-null docs in this language
    pr = (rn - F.lit(1)).cast("double") / (m - F.lit(1)).cast("double")
    third = F.lit(1.0) / F.lit(3.0)
    return scored.select(
        id_col,
        lang_col,
        "n_bigrams",
        "mean_nll",
        F.when(F.col("mean_nll").isNull(), F.lit("none"))
        .when(m == 1, F.lit("head"))  # percent_rank of a lone row is 0
        .when(pr < third, F.lit("head"))
        .when(pr < third * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def trigram_logprob_heldout(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    holdout_hex: str = "3333",
    seed: str = "lm0",
) -> DataFrame:
    """Held-out trigram surprisal under Stupid Backoff (Brants et al.
    2007) — the LM-fidelity step above :func:`bigram_logprob` and the
    methodologically honest one: the corpus splits by content hash
    into TRAIN (~80%) and HELD-OUT; the trigram/bigram/unigram count
    tables come from train only, and only held-out docs are scored —
    so unseen n-grams actually occur and every backoff tier fires
    (scoring a corpus under its own counts never backs off; that
    degenerate regime is what this operator exists to avoid).

    Stupid Backoff score for position (w1, w2, w3)::

        S = c3(w1w2w3) / c2(w1w2)            if c3 > 0
          = alpha * c2b(w2w3) / c1(w2)       elif c2b > 0
          = alpha^2 * c1(w3) / T             elif c1 > 0
          = alpha^2 * 1 / T                  otherwise (OOV floor — a
                                             documented deviation so
                                             -ln stays finite)

    (unnormalized, as published). ``mean_nll`` = mean of -ln S over
    the doc's trigram positions, rounded 4dp (the bigram_logprob
    regime); docs with < 3 tokens report n_trigrams = 0 and NULL.

    Returns (id, n_trigrams, mean_nll) for HELD-OUT docs only.

    Scale shape: three train-side explodes (uni/bi/tri) each
    immediately hash-aggregated to count tables; the held-out side
    explodes once into trigram positions and equi-joins the three
    skinny tables (left joins — misses ARE the signal); the corpus
    total rides a single-row crossJoin. Nothing quadratic.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    # Tokenize ONCE (guide §1.2): the (id, token-array, held) stream
    # feeds four consumers (bi/tri count builds, the held probe, the
    # held roster) and Catalyst inlines each reference — without the
    # cut every pass re-scans and re-tokenizes the corpus four times
    # (SQL-tab audit at sf0.1). The checkpoint is the tokenized corpus
    # — at scale exactly the frame a pipeline persists between the
    # count-table fit and the scoring pass (the DSIR gram-stream move).
    toks = docs.select(
        F.col(id_col),
        ws_tokens(F.lower(F.col(text_col))).alias("t"),
        (
            F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(":" + seed)
                    )
                ),
                1,
                4,
            )
            < holdout_hex
        ).alias("__held"),
    ).localCheckpoint(eager=False)
    train = toks.filter(~F.col("__held"))
    held = toks.filter(F.col("__held"))

    uni = (
        train.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("c1"))
        .localCheckpoint()
    )
    total = uni.agg(F.sum("c1").alias("t_occ"))
    bi = (
        train.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count("*").cast("double").alias("c2"))
        # consumed twice below (the c2 and c2b probe sides) — same
        # model-state materialization rule as ``uni``
        .localCheckpoint(eager=False)
    )
    tri = (
        train.filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2,"
                    " t[i + 2] AS w3))"
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2", "p.w3")
        .agg(F.count("*").cast("double").alias("c3"))
    )
    pos = (
        held.filter(F.size("t") >= 3)
        .select(
            id_col,
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> struct(t[i] AS w1, t[i + 1] AS w2,"
                    " t[i + 2] AS w3))"
                )
            ).alias("p"),
        )
        .select(id_col, "p.w1", "p.w2", "p.w3")
    )
    j = (
        pos.join(tri, ["w1", "w2", "w3"], "left")
        .join(bi.select("w1", "w2", "c2"), ["w1", "w2"], "left")
        .join(
            bi.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("c2b"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1m")), "w2", "left")
        .join(uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1l")), "w3", "left")
        .crossJoin(F.broadcast(total))
    )
    a = F.lit(float(alpha))
    score = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2"))
        .when(
            F.col("c2b").isNotNull(), a * F.col("c2b") / F.col("c1m")
        )
        .when(
            F.col("c1l").isNotNull(),
            a * a * F.col("c1l") / F.col("t_occ"),
        )
        .otherwise(a * a * F.lit(1.0) / F.col("t_occ"))
    )
    per_doc = j.select(id_col, (-F.log(score)).alias("__nll")).groupBy(
        id_col
    ).agg(
        F.count("*").cast("long").alias("n_trigrams"),
        F.round(F.avg("__nll"), 4).alias("mean_nll"),
    )
    counted = held.select(
        id_col, F.size("t").alias("__nt")
    ).join(per_doc, id_col, "left")
    return counted.select(
        F.col(id_col),
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        F.col("mean_nll"),
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keyword extraction by smoothed TF-IDF — the
    classic corpus-profiling op (what is each document ABOUT), feeding
    topic routing, near-dup triage ("same keywords, different hosts"),
    and dataset cards. Scoring is sklearn's smoothed variant::

        score = tf * (ln((1 + N) / (1 + df)) + 1)

    (never a division by zero, never log of zero; N counts ALL corpus
    docs including empty ones). Scores round 6dp BEFORE ranking and
    ties break (score desc, term asc), so the per-doc top-k cut is
    engine-deterministic.

    Returns (id, term, tf, df, score, rank), rank 1..k per doc; docs
    with no tokens emit nothing.

    Scale shape: one explode -> (doc, term) tf hash aggregate
    (map-side combined); the per-term df table derives from tf and
    joins back BROADCAST (vocabulary-sized); N rides the single-row
    crossJoin from an id-only column-pruned scan; one per-doc rank
    window. The tf subtree evaluates twice (df build + scoring join) —
    the documented two-pass corpus-LM shape; re-reading beats
    materializing the corpus-gram-scale tf table.
    """
    toks = _doc_tokens(docs, text_col, id_col)
    # the (doc, term) tf table feeds BOTH the df build and the scoring
    # join; the lineage cut keeps Catalyst from re-running the text
    # explode per consumer — the registered bm25_topk's r11 fix applied
    # to its tfidf sibling (scan_audit catch)
    tf = (
        toks.groupBy(id_col, "w")
        .agg(F.count("*").cast("double").alias("tf"))
        .localCheckpoint(eager=False)
    )
    dft = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    n_docs = docs.select(id_col).agg(
        F.count("*").cast("double").alias("n_docs")
    )
    score = F.round(
        F.col("tf")
        * (
            F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
            + F.lit(1.0)
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(dft), "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            F.col("w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY — the diversity-contribution score a
    curation pipeline uses to prefer documents that add new phrasing to
    the corpus over ones whose n-grams are already everywhere (the
    mirror image of the duplication filters: dedup removes what repeats
    verbatim, novelty scoring ranks what remains by how much it
    contributes). For each document: the count of its distinct word
    n-grams, the count of those that are corpus-UNIQUE (document
    frequency exactly 1 — no other doc contains them), and the novelty
    fraction. Zero-gram documents (fewer than ``n`` tokens) are kept
    with novelty 0.0 so the output is one row per input doc.

    Returns (id, n_grams, n_novel, novelty_frac) — exact BIGINTs plus
    one 6dp row-local division, so the result hashes identically on
    any engine and any partitioning.

    Scale shape: ONE corpus text scan explodes per-doc DISTINCT grams
    to a skinny (id, gram) frame, checkpointed because it feeds BOTH
    the df aggregate and the probe join (the documented store+probe
    corpus-LM shape — without the lineage cut Catalyst re-inlines the
    tokenizer per consumer). The df aggregate is map-side combined on
    the gram key; the probe is a gram-keyed equi-join back to the same
    frame; the final per-doc aggregate ships two longs per doc.
    Boilerplate grams concentrate df mass but never create quadratic
    work — everything is aggregate/join on (gram) or (id).
    """
    from hummingbirddatapipeline_spark.functions.text import word_gram_array

    grams = docs.select(
        F.col(id_col),
        F.explode_outer(
            F.array_distinct(word_gram_array(F.lower(F.col(text_col)), n))
        ).alias("g"),
    ).localCheckpoint(eager=False)
    df_g = (
        grams.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count("*").alias("df"))
    )
    per_doc = (
        grams.join(df_g, "g", "left")
        .groupBy(id_col)
        .agg(
            F.count("g").alias("n_grams"),
            F.coalesce(
                F.sum((F.col("df") == 1).cast("int")), F.lit(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_novel",
        F.when(
            F.col("n_grams") > 0,
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty_frac"),
    )


def quality_borda(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Borda rank-fusion of three independent per-document quality
    signals into one consensus ordering, WITHIN each stratum (source):
    the multi-signal generalization of single-score gating
    (curation_source_gate ranks by one score; real pipelines fuse
    several weakly-correlated signals, and rank fusion is robust to
    their different scales — the same reason search uses RRF, see
    :func:`rrf_fuse`; Borda is its exhaustive-ranking cousin for
    corpus curation, where every doc gets a rank, not just a top-k).

    Signals (each ranked by row_number with doc-id tiebreak, so ranks
    are dense, integer, and deterministic):
      - composite quality score (desc — higher is better)
      - whitespace token count (desc — longer docs favored)
      - duplicate-token fraction ``1 - distinct/total`` (asc — less
        internal repetition is better)

    borda = r_quality + r_length + r_rep (lower = better consensus);
    borda_rank is the final per-stratum consensus position with doc-id
    tiebreak. Output is pure integers + the stratum string — no float
    reaches the result, so the row set hashes identically on any
    engine (the float SIGNALS are row-local IEEE arithmetic both
    engines replay exactly, per the catalog's cross-engine rule).

    Scale shape: signals are one map-side pass (no aggregate); all
    four windows share Window.partitionBy(strata) — ONE hash exchange
    on the stratum key, then per-partition sorts (contract-pinned).
    Per-stratum ranking is also the statistically right pool (signals
    are only comparable within a source) AND what keeps the window
    parallel at 100 TB — the global-window variant is the documented
    single-partition anti-pattern (see curation_score_distill's
    per-stratum note).
    """
    from hummingbirddatapipeline_spark.functions.text import (
        quality_score,
        ws_tokens,
    )

    toks = F.col("__toks")
    sig = docs.select(
        F.col(id_col),
        F.col(strata_col),
        # 2dp to match the catalog's _QUALITY oracle fragment exactly
        # (the score is a sum of 0.1-multiples, so 2dp is lossless)
        F.round(quality_score(F.col(text_col)), 2).alias("__q"),
        ws_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(
        id_col,
        strata_col,
        "__q",
        F.size(toks).cast("long").alias("__n_tok"),
        F.when(
            F.size(toks) > 0,
            F.round(
                1.0
                - F.size(F.array_distinct(toks)).cast("double")
                / F.size(toks).cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("__rep"),
    )
    part = Window.partitionBy(strata_col)
    r_q = F.row_number().over(
        part.orderBy(F.col("__q").desc(), F.col(id_col))
    )
    r_len = F.row_number().over(
        part.orderBy(F.col("__n_tok").desc(), F.col(id_col))
    )
    r_rep = F.row_number().over(
        part.orderBy(F.col("__rep").asc(), F.col(id_col))
    )
    ranked = sig.select(
        id_col,
        strata_col,
        r_q.alias("r_quality"),
        r_len.alias("r_length"),
        r_rep.alias("r_rep"),
    ).withColumn(
        "borda",
        (F.col("r_quality") + F.col("r_length") + F.col("r_rep")).cast(
            "long"
        ),
    )
    w_final = part.orderBy(F.col("borda").asc(), F.col(id_col))
    return ranked.withColumn("borda_rank", F.row_number().over(w_final))


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k word-bigram COLLOCATIONS by pointwise mutual information —
    the classic phrase-mining signal (Church & Hanks 1990): bigrams
    whose components co-occur far more than independence predicts
    ('new york', not 'of the'). PMI = ln( (c_ab/N_big) /
    ((c_a/N_uni) * (c_b/N_uni)) ), with the ``min_count`` floor that
    keeps the measure from crowning one-off pairs (its textbook
    failure mode). The corpus-level companion of the per-doc LM rows
    (text_bigram_logprob shares the same count tables but answers a
    different question).

    Returns top-k rows (bigram, c_ab, c_a, c_b, pmi, rank) — counts
    exact BIGINTs; pmi is one fixed-order IEEE chain ending in the
    single ln, 6dp-rounded BEFORE the (pmi desc, bigram asc) rank, so
    the cut is deterministic cross-engine.

    Scale shape: ONE corpus text scan tokenizes into a checkpointed
    per-doc array frame; bigram and unigram streams both explode from
    it (the two-pass-LM shape with the text scan paid once); counts
    are map-side-combined hash aggregates; scalars ride broadcast
    1-row crossJoins; the rank window runs on the >= min_count
    collocation table (vocabulary-bounded, not corpus-bounded).
    """
    from hummingbirddatapipeline_spark.functions.text import (
        word_gram_array,
        ws_tokens,
    )

    base = docs.select(
        word_gram_array(F.lower(F.col(text_col)), 2).alias("__bg"),
        ws_tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).localCheckpoint(eager=False)
    big = base.select(F.explode("__bg").alias("bigram"))
    uni = base.select(F.explode("__toks").alias("w"))
    c_ab = big.groupBy("bigram").agg(F.count("*").alias("c_ab"))
    c_w = uni.groupBy("w").agg(F.count("*").alias("c_w"))
    n_big = big.agg(F.count("*").cast("double").alias("n_big"))
    n_uni = uni.agg(F.count("*").cast("double").alias("n_uni"))
    parts = F.split("bigram", " ")
    cand = (
        c_ab.filter(F.col("c_ab") >= min_count)
        .withColumn("__w1", parts.getItem(0))
        .withColumn("__w2", parts.getItem(1))
        .join(
            F.broadcast(
                c_w.select(
                    F.col("w").alias("__w1"), F.col("c_w").alias("c_a")
                )
            ),
            "__w1",
        )
        .join(
            F.broadcast(
                c_w.select(
                    F.col("w").alias("__w2"), F.col("c_w").alias("c_b")
                )
            ),
            "__w2",
        )
        .crossJoin(F.broadcast(n_big))
        .crossJoin(F.broadcast(n_uni))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("n_big"))
            / (
                (F.col("c_a").cast("double") / F.col("n_uni"))
                * (F.col("c_b").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    w = Window.orderBy(F.desc("pmi"), F.col("bigram"))
    return (
        cand.select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            pmi.alias("pmi"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def source_unigram_kl(
    docs: DataFrame,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    KL(P_source || P_corpus) — the domain-shift diagnostic behind
    data-mixing decisions (a source far from the mixture is the one
    temperature-mixing up/down-weights; DSIR's importance weights are
    the per-document view of the same quantity). Support is always
    well-defined: every source token occurs in the corpus, so q > 0
    wherever p > 0.

    Cross-engine exactness by the scaled-long trick (the
    dedup_pagerank lesson applied to a float-valued aggregate): each
    (source, word) contribution p*ln(p/q) is row-local IEEE (one ln),
    quantized to an e9 long, then summed EXACTLY — the sum is
    partitioning-invariant by construction, where a float sum over an
    unordered vocabulary is not. Returns (source, n_tokens, n_types,
    kl_e9) — all BIGINTs.

    Scale shape: ONE corpus explode -> one (source, word) map-side-
    combined aggregate; every later table (global word counts,
    per-source totals, the scalar N) derives from THAT vocab-sized
    table, so the corpus is read once and never re-shuffled; the
    1-row N attaches via the documented broadcast crossJoin.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    occ = docs.select(
        F.col(strata_col),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    sw = occ.groupBy(strata_col, "w").agg(
        F.count("*").alias("c_sw")
    ).localCheckpoint(eager=False)
    n_s = sw.groupBy(strata_col).agg(
        F.sum("c_sw").alias("n_s"), F.count("*").alias("n_types")
    )
    c_w = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    n_tot = sw.agg(F.sum("c_sw").cast("double").alias("n_tot"))
    joined = (
        sw.join(F.broadcast(n_s), strata_col)
        .join(c_w, "w")
        .crossJoin(F.broadcast(n_tot))
    )
    p = F.col("c_sw").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_w").cast("double") / F.col("n_tot")
    term_e9 = F.round(F.lit(1e9) * p * F.log(p / q)).cast("long")
    return (
        joined.select(strata_col, "n_s", "n_types", term_e9.alias("__t"))
        .groupBy(strata_col)
        .agg(
            F.first("n_s").alias("n_tokens"),
            F.first("n_types").alias("n_types"),
            F.sum("__t").alias("kl_e9"),
        )
    )


def source_signature_ngrams(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 5,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Per-source SIGNATURE words — the top-k most source-
    characteristic terms by lift ``(c_sw/N_s) / (c_w/N)`` (how much
    more frequent the word is in this source than in the mixture),
    with a ``min_count`` floor against one-off flukes. The qualitative
    companion of :func:`source_unigram_kl`: KL says HOW far a source
    is from the mixture, this says WHICH words carry the difference —
    the pair a mixing decision actually reads. Pure rational
    arithmetic (no libm at all): lift is one row-local IEEE division
    chain over exact counts, 6dp-rounded BEFORE the (lift desc,
    c_sw desc, word asc) rank.

    Returns top-k rows per source: (source, word, c_sw, c_w, lift,
    rank).

    Scale shape: identical to the KL row — ONE corpus explode, all
    later tables derive from the vocab-sized (source, word)
    aggregate; the rank window partitions BY SOURCE (parallel, never
    a global sort); the scalar N rides the broadcast 1-row crossJoin.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    occ = docs.select(
        F.col(strata_col),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    sw = occ.groupBy(strata_col, "w").agg(
        F.count("*").alias("c_sw")
    ).localCheckpoint(eager=False)
    n_s = sw.groupBy(strata_col).agg(F.sum("c_sw").alias("n_s"))
    c_w = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    n_tot = sw.agg(F.sum("c_sw").cast("double").alias("n_tot"))
    lift = F.round(
        (F.col("c_sw").cast("double") / F.col("n_s").cast("double"))
        / (F.col("c_w").cast("double") / F.col("n_tot")),
        6,
    )
    scored = (
        sw.filter(F.col("c_sw") >= min_count)
        .join(F.broadcast(n_s), strata_col)
        .join(c_w, "w")
        .crossJoin(F.broadcast(n_tot))
        .select(
            strata_col,
            F.col("w").alias("word"),
            "c_sw",
            "c_w",
            lift.alias("lift"),
        )
    )
    win = Window.partitionBy(strata_col).orderBy(
        F.col("lift").desc(), F.col("c_sw").desc(), F.col("word")
    )
    return scored.withColumn(
        "rank", F.row_number().over(win)
    ).filter(F.col("rank") <= k)
