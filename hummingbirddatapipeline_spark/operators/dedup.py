"""Deduplication operators for large-scale training-data pipelines.

Four families, each designed scale-first:

- exact: hash-groupBy on a normalized fingerprint — one shuffle, no UDF.
- MinHash + LSH banding: shingle -> K minhashes (xxhash64 native) ->
  band -> bucket self-join. At 100 TB the bucket join replaces the
  O(n^2) cross join; skewed buckets are capped.
- SimHash: 64-bit hash via per-bit weighted majority over token hashes,
  computed with native bit ops; near-dups = identical simhash (or
  banded Hamming refinement).
- n-gram Jaccard: exact verification join over shared shingles (used
  as the verify stage after LSH candidate generation).

The reference's nearest analogue is composite-key anti-join dedup
(append_priorities.py:222-243); these generalize it to content dedup.

Shared set-similarity kernels — each rule has one home, and every
operator below calls it:

- band keys: :func:`_minhash_banded` (MinHash slice hashes through
  ``operators.setsim.band_explode``, the explode every LSH family
  shares), so :func:`lsh_dropped_buckets` audits exactly the buckets
  :func:`minhash_lsh_candidates` drops;
- bucket pairs: :func:`_bucket_pair_rows` over
  ``operators.setsim.sorted_pairs`` (also the basket pair generator);
- term index: :func:`_term_index`, the collected sorted vocabulary as
  a broadcast ``(term, __idx)`` frame for the bitmask and dense-TF-IDF
  regimes; its one bounded ``limit(L+1)`` collect per vocabulary also
  decides the regime, so no operator counts the vocabulary first;
- bitmask sets: :func:`_term_masks` (token sets as ``ceil(v/64)``
  int64 words over the term index) and :func:`_mask_inter` (the
  popcount-AND intersect), behind the dense all-pairs regime and the
  mask verify of :func:`jaccard_pairs_prefix` (both
  :func:`_jaccard_pairs_masked`) and the dense regime of
  :func:`incremental_jaccard_dedup`;
- prefix bound: :func:`_prefix_tokens`, the AllPairs
  ``n - floor(t*n) + 1`` rarest-token prefix;
- Jaccard ratio: :func:`_jaccard_at_least` (``inter / (n_a + n_b -
  inter) >= t``) and :func:`_jaccard_pairs` (plus the 6dp
  ``(id_a, id_b, jaccard)`` tail), for every exact engine and for
  :func:`jaccard_verify`;
- hashed verify: :func:`_hashed_set` and the :func:`_size_ratio_ok`
  prefilter, shared by :func:`jaccard_verify` (the batch MinHash
  verify) and :func:`incremental_minhash_dedup`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hummingbirddatapipeline_spark.functions.text import fingerprint, word_shingles
from hummingbirddatapipeline_spark.operators.setsim import band_explode, sorted_pairs
from hummingbirddatapipeline_spark.tables import cpu_bound, inline_rows


def _check_banding(num_hashes: int, bands: int) -> None:
    """Banding precondition shared by the LSH pair and cluster paths.

    bands > num_hashes would index past the signature array at runtime
    (Spark 4 ANSI INVALID_ARRAY_INDEX); a non-divisible split would
    silently drop the trailing num_hashes % bands hash values from
    every band key, weakening recall with no signal. Fail loudly at
    plan time instead.
    """
    if bands < 1 or bands > num_hashes:
        raise ValueError(
            f"minhash banding: need 1 <= bands <= num_hashes, got "
            f"bands={bands}, num_hashes={num_hashes}"
        )
    if num_hashes % bands != 0:
        raise ValueError(
            f"minhash banding: num_hashes={num_hashes} is not divisible "
            f"by bands={bands}; the trailing {num_hashes % bands} hashes "
            "would be silently ignored — pick bands dividing num_hashes"
        )


def _minhash_banded(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    num_hashes: int,
    id_alias: str | None = None,
) -> DataFrame:
    """(id, band, bucket) over a MinHash ``signature`` column: band b's
    bucket is the xxhash64 of its ``num_hashes // bands`` signature
    slots. The one band-key rule of candidate generation, the
    dropped-bucket audit, the boilerplate clusters and the persisted
    band index."""
    _check_banding(num_hashes, bands)
    r = num_hashes // bands
    keys = [
        "xxhash64("
        + ", ".join(f"element_at(signature, {b * r + j + 1})" for j in range(r))
        + ")"
        for b in range(bands)
    ]
    return band_explode(signatures, id_col, keys, id_alias)


def _bucket_pair_rows(buckets: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) pairs from each bucket's sorted ``ids``
    array."""
    return (
        buckets.select(F.explode(sorted_pairs("ids")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _term_index(
    terms: DataFrame, col: str, limit: int | None = None
) -> tuple[list[str], DataFrame | None]:
    """Collect the distinct one-column vocabulary frame ``terms`` and
    return it sorted, with the broadcast ``(col, __idx)`` frame that
    maps each term to its position (the bit or vector slot of the
    bitmask and dense-vector regimes). With ``limit`` the collect is
    bounded to ``limit + 1`` terms, so one action both picks the
    caller's regime and, under the cap, holds the whole vocabulary;
    over the cap the frame is ``None``."""
    if limit is not None:
        terms = terms.limit(limit + 1)
    vocab = sorted(r[col] for r in terms.collect())
    if limit is not None and len(vocab) > limit:
        return vocab, None
    idx = F.broadcast(
        inline_rows(
            terms.sparkSession,
            [(t, i) for i, t in enumerate(vocab)],
            f"{col} string, __idx int",
        )
    )
    return vocab, idx


def _prefix_tokens(
    tok: DataFrame,
    id_col: str,
    n_col: str,
    threshold: float,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """AllPairs prefix (Bayardo et al., WWW'07): keep each set's first
    ``n - floor(t*n) + 1`` tokens under the global ascending
    ``(df_w, w)`` order. Two sets with ``J >= t`` share a token inside
    both prefixes; ``floor`` under-estimates ``t*n``, so float rounding
    only lengthens a prefix. ``tok`` carries (id, w, df_w); the set
    size ``n_col`` rides ``tok`` or, when given, joins from ``sizes``
    on the id after ranking."""
    ranked = tok.withColumn(
        "__pos",
        F.row_number().over(Window.partitionBy(id_col).orderBy("df_w", "w")),
    )
    if sizes is not None:
        ranked = ranked.join(sizes, id_col)
    n = F.col(n_col)
    return ranked.filter(
        F.col("__pos") <= n - F.floor(F.lit(float(threshold)) * n) + 1
    )


def _jaccard_at_least(
    frame: DataFrame,
    n_a: Column,
    n_b: Column,
    threshold: float,
    inter: Column | None = None,
) -> DataFrame:
    """``jaccard = inter / (n_a + n_b - inter)`` kept at ``>= threshold``,
    from exact integer set sizes and intersection count. ``inter`` is
    computed into the ``inter`` column when given, else read from it.
    Two empty sets have no ratio: ``try_divide`` makes it NULL and the
    filter drops the pair, where an ANSI ``/`` would raise."""
    if inter is not None:
        frame = frame.withColumn("inter", inter)
    return frame.withColumn(
        "jaccard", F.try_divide(F.col("inter"), n_a + n_b - F.col("inter"))
    ).filter(F.col("jaccard") >= threshold)


def _jaccard_pairs(
    frame: DataFrame,
    n_a: Column,
    n_b: Column,
    threshold: float,
    inter: Column | None = None,
) -> DataFrame:
    """:func:`_jaccard_at_least` with the exact pair engines' output
    tail: ``(id_a, id_b, jaccard)``, jaccard rounded 6dp."""
    return _jaccard_at_least(frame, n_a, n_b, threshold, inter).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _size_ratio_ok(n_a: Column, n_b: Column, threshold: float) -> Column:
    """Size-ratio prefilter (guide §3.2, r16): J = |A∩B|/|A∪B| ≥ t
    forces min(|A|,|B|)/max(|A|,|B|) ≥ t (|A∩B| ≤ min, |A∪B| ≥ max),
    so pairs failing the ratio cannot pass the threshold and skip the
    per-pair intersect entirely — the hashed verify stages' dominant
    CPU. The 1e-9 slack absorbs double rounding so the bound is
    strictly conservative (no false drops)."""
    return F.least(n_a, n_b) >= (threshold - 1e-9) * F.greatest(n_a, n_b)


def _hashed_set(sh: Column) -> Column:
    """A shingle array as a distinct xxhash64 bigint array: set
    semantics up to negligible 64-bit collisions, and intersects run
    on 8-byte longs instead of strings (the LSH verify trade)."""
    return F.array_distinct(F.transform(sh, lambda s: F.xxhash64(s)))


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep one row (lowest id) per exact normalized-text fingerprint.

    Adds ``dup_count`` (group size). Single shuffle on the fingerprint.
    """
    fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        fp.withColumn("dup_count", F.count("*").over(Window.partitionBy("__fp")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_size: int = 3,
    shingle_col: str | None = None,
) -> DataFrame:
    """id + minhash signature array + (distinct) shingle count.

    Shape matters here: explode shingles to rows, hash each string to a
    long ONCE, then compute the K hash functions as ``min(xxhash64(h,
    seed))`` hash-aggregates. Array ``transform`` lambdas are
    interpreted per element; this form keeps everything inside
    whole-stage codegen, and the doc_id shuffle ships only K longs per
    doc thanks to map-side partial aggregation.

    ``shingle_col`` (r15): use an ALREADY-COMPUTED distinct-shingle
    array column instead of re-tokenizing ``text_col`` — the sharing
    hook for pipelines that materialize the shingle frame once (the
    persisted-store regime). Semantically identical: ``word_shingles``
    is deterministic, so exploding a stored copy of it yields the same
    multiset.
    """
    shingles = (
        F.col(shingle_col)
        if shingle_col is not None
        else word_shingles(F.col(text_col), shingle_size)
    )
    tok = df.select(
        F.col(id_col),
        F.explode(shingles).alias("__s"),
    )
    hashed = tok.select(F.col(id_col), F.xxhash64("__s").alias("__h"))
    # The K-wide lists go to the JVM as SQL text (one call per
    # expression, not per Column node); constant folding makes the
    # plan the same as the Column-built one.
    agg = hashed.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(__h, {i})) AS __m{i}") for i in range(num_hashes)],
        F.count("*").alias("n_shingles"),
    )
    sigs = agg.selectExpr(
        f"`{id_col}`",
        f"array({', '.join(f'__m{i}' for i in range(num_hashes))}) AS signature",
        "n_shingles",
    )
    # docs with no shingles vanish at explode; restore them with an
    # all-NULL signature so the contract (one row per input id) holds
    empty = df.select(F.col(id_col)).join(
        sigs.select(id_col), id_col, "left_anti"
    ).selectExpr(
        f"`{id_col}`",
        f"array({', '.join(['CAST(NULL AS BIGINT)'] * num_hashes)}) AS signature",
        "0 AS n_shingles",
    )
    return sigs.unionByName(empty)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    num_hashes: int = 32,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands, hash each
    band to a bucket, emit all within-bucket pairs (id_a < id_b).

    One shuffle total: explode band keys -> groupBy(band, bucket) with
    collect_list -> generate pairs from each bucket's (bounded) id
    array. This beats the textbook bucket self-join, which shuffles the
    banded table twice more and re-evaluates the signature plan per
    branch.

    ``max_bucket`` caps pathological buckets (boilerplate skew) — the
    standard guard at web scale; oversize buckets are dropped, trading
    recall for bounded work, and also bounds the collected arrays so
    no executor materializes an unbounded group. Candidates are
    distinct pairs.
    """
    banded = _minhash_banded(signatures, id_col, bands, num_hashes)

    # cpu_bound (r16): collect_list + array_sort over every bucket
    # profiled as a 1.4 s single-task stage at sf0.1.
    buckets = (
        cpu_bound(banded, "band", "bucket")
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"), F.collect_list(id_col).alias("ids"))
        .filter((F.col("sz") >= 2) & (F.col("sz") <= max_bucket))
        .select(F.array_sort("ids").alias("ids"))
        # identical membership across bands collapses before pair-gen,
        # trimming duplicate pair structs at the source
        .distinct()
    )
    return _bucket_pair_rows(buckets)


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_size: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (the verify stage).

    Joins shingle sets onto the pair list and computes
    |A ∩ B| / |A ∪ B| with native array ops on hashed sets
    (:func:`_hashed_set`) — the right trade in a verify stage fed by
    LSH candidates.
    """
    shingles = _hashed_set(word_shingles(F.col(text_col), shingle_size))
    # Lineage cut (r15, guide §1.2): the shingle frame feeds BOTH pair
    # sides of the candidate join, and Catalyst inlines the reference —
    # without truncation the corpus is tokenized twice per verify.
    # (id, shingle-array) is the frame production would persist next to
    # the candidate index anyway; one pass, both probes read blocks.
    sh = df.select(F.col(id_col), shingles.alias("sh")).localCheckpoint(
        eager=False
    )
    # cpu_bound (r15): dedup_minhash_pairs ran its per-pair verify on
    # 8 tasks behind a 1-task candidate exchange.
    candidates = cpu_bound(candidates)
    return _jaccard_pairs(
        candidates.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        # measured at sf0.1: 1.29M LSH candidates → 643k intersects
        .filter(_size_ratio_ok(F.size("sh_a"), F.size("sh_b"), threshold)),
        F.size("sh_a"),
        F.size("sh_b"),
        threshold,
        inter=F.size(F.array_intersect("sh_a", "sh_b")),
    )


def near_dup_pairs_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> exact Jaccard verification at ``threshold``.

    Empty documents are dropped before banding: their signatures are
    all-NULL, which would otherwise collide into one degenerate bucket.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size).filter(
        F.col("n_shingles") > 0
    )
    cands = minhash_lsh_candidates(sigs, id_col, bands, num_hashes)
    return jaccard_verify(df, cands, text_col, id_col, threshold, shingle_size)


def lsh_dropped_buckets(
    signatures: DataFrame,
    id_col: str,
    bands: int = 8,
    num_hashes: int = 32,
    max_bucket: int = 1000,
) -> DataFrame:
    """The no-silent-caps audit companion to
    :func:`minhash_lsh_candidates`: one row per (band, bucket) the
    ``max_bucket`` cap DROPS, with the bucket size and its minimum
    member id (the natural cluster representative for routing the
    bucket to :func:`boilerplate_clusters`). An empty result means the
    cap was a no-op; a non-empty result is the loud record of exactly
    what candidate coverage was traded for bounded work — log it, ship
    it to the DQ tables, or feed the representatives to the
    mega-cluster treatment.

    Same band keys as candidate generation (both call
    :func:`_minhash_banded`), then one hash aggregate; run it against
    the SAME cached signature DataFrame so the scan is shared. Kept as
    a separate audit pass rather than a flag on the candidate path: at
    100 TB the pair pipeline should not pay a mandatory extra
    aggregate-and-collect when nobody reads the audit, and the audit
    should not force the pair output to materialize early.
    """
    return (
        _minhash_banded(signatures, id_col, bands, num_hashes)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("sz"), F.min(id_col).alias("rep"))
        .filter(F.col("sz") > max_bucket)
    )


def jaccard_pairs_all(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_size: int = 1,
) -> DataFrame:
    """All-pairs n-gram Jaccard via the inverted-index join (no LSH):
    explode distinct shingles -> self-join on shingle -> pair
    intersection counts -> |A∩B| / (|A|+|B|-|A∩B|) >= threshold.

    This is the exact, SQL-expressible form; a shingle present in
    every doc makes a quadratic posting list, which is why
    :func:`jaccard_pairs_prefix` is the scale form.
    """
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_size).alias("__sh")
    )
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("n"))
    tok = sh.select(F.col(id_col), F.explode("__sh").alias("w"))
    a = tok.select(F.col(id_col).alias("id_a"), "w")
    b = tok.select(F.col(id_col).alias("id_b"), "w")
    pairs = (
        a.join(b, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return _jaccard_pairs(
        pairs.join(sa, "id_a").join(sb, "id_b"),
        F.col("n_a"),
        F.col("n_b"),
        threshold,
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_size: int = 1,
    dense_vocab_limit: int = 64,
    mask_vocab_limit: int = 1024,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via prefix filtering (the
    AllPairs technique of Bayardo, Ma & Srikant, WWW'07).

    Under any global total order on tokens, two sets with
    ``J >= t`` must share a token among each set's first
    ``n - floor(t*n) + 1`` tokens. Ordering tokens by ascending
    document frequency makes each document index only its RAREST
    tokens, so corpus-wide stopwords never enter the candidate join:
    the inverted-index volume drops from ``sum(freq(w)^2)`` over every
    token to roughly the true near-dup neighborhoods. Candidates are
    then verified on the full token sets with the same integer
    arithmetic as ``jaccard_pairs_all`` — output is identical, this is
    a plan optimization, not an approximation. (``floor`` deliberately
    under-estimates the ``t*n`` overlap bound, so float rounding can
    only ever LENGTHEN the prefix — never drop a true pair.)

    Degenerate tiny vocabularies (<= ``dense_vocab_limit`` <= 64
    distinct shingles — where every posting list is ~corpus-length
    and prefix pruning is structurally impossible) switch to the
    int64-bitmask regime: each shingle set packs into one long, exact
    Jaccard is two native ``bit_count`` ops per pair, and the
    unavoidable all-pairs probe runs at codegen speed (the shared
    sf0.1 pair-set build: 31 s -> 6.5 s measured). Identical output —
    the mask arithmetic is the set arithmetic. The all-pairs form is
    quadratic in N, but the r10 scale probe measured it as STILL the
    best exact strategy at vocab <= 64 (50k docs / 1.25G probes:
    396 s dense vs >12 min for prefix candidates, whose posting lists
    are ~corpus-length at that vocabulary) — on a tiny-vocab corpus
    the true pair set is itself near-quadratic, so the work is
    output-bound, not a plan defect.

    Two r10-probe hardenings on the prefix path: candidates carry the
    PPJoin length filter (J >= t forces min(n)/max(n) >= t; the
    floor() form under-estimates so float rounding can only ADMIT a
    candidate, never drop a true pair), and when the vocabulary fits
    ``mask_vocab_limit`` the verify runs on multi-word int64 bitmasks
    (ceil(v/64) longs per doc, popcount-AND per word) instead of
    string-array intersections — same integer counts, same 6dp
    jaccard, string verify remains the open-vocabulary fallback.
    """
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_size).alias("__sh")
    ).filter(F.size("__sh") > 0)

    vocab, idx_df = [], None
    if 0 < max(dense_vocab_limit, mask_vocab_limit):
        vocab, idx_df = _term_index(
            sh.select(F.explode("__sh").alias("w")).distinct(),
            "w",
            max(dense_vocab_limit, mask_vocab_limit),
        )
        if 0 < len(vocab) <= min(dense_vocab_limit, 64):
            return _jaccard_pairs_masked(sh, idx_df, len(vocab), id_col, threshold)
    sizes = sh.select(F.col(id_col), F.size("__sh").alias("n"))
    tok = sh.select(F.col(id_col), F.explode("__sh").alias("w"))
    freq = tok.groupBy("w").agg(F.count("*").alias("df_w"))
    pref = _prefix_tokens(
        tok.join(freq, "w"), id_col, "n", threshold, sizes=sizes
    ).select(F.col(id_col), "w", "n")
    # PPJoin length filter: J >= t forces min(n)/max(n) >= t, so only
    # size-compatible docs can pair; floor() under-estimates t*n, so
    # float rounding can only admit extra candidates, never drop a
    # true pair. Applied inside the join, BEFORE the distinct shuffle.
    t = F.lit(float(threshold))
    cands = (
        pref.select(
            F.col(id_col).alias("id_a"), "w", F.col("n").alias("__na")
        )
        .join(
            pref.select(
                F.col(id_col).alias("id_b"), "w", F.col("n").alias("__nb")
            ),
            "w",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__na") >= F.floor(t * F.col("__nb")))
            & (F.col("__nb") >= F.floor(t * F.col("__na")))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    if idx_df is not None and 0 < len(vocab) <= mask_vocab_limit:
        return _jaccard_pairs_masked(
            sh, idx_df, len(vocab), id_col, threshold, cands
        )
    # full-set verify on the string shingles (no hashing: the counts —
    # and therefore the rounded jaccard — must equal the all-pairs form
    # bit for bit)
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    return _jaccard_pairs(
        cands.join(sa, "id_a").join(sb, "id_b"),
        F.size("sh_a"),
        F.size("sh_b"),
        threshold,
        inter=F.size(F.array_intersect("sh_a", "sh_b")),
    )


def _term_masks(
    tok: DataFrame,
    idx_df: DataFrame,
    keys: list[str],
    n_words: int,
    how: str = "inner",
) -> DataFrame:
    """``(keys…, __m0…__m{n_words-1})``: each key group's ``w`` tokens
    as bits of ``n_words`` int64 words, term ``__idx`` at bit
    ``__idx % 64`` of word ``__idx DIV 64`` (bit 63 is the sign bit).
    ``idx_df`` is a :func:`_term_index` frame; a token outside its
    vocabulary sets no bit, and under ``how="left"`` a group with no
    token inside it still gets a row of zero words."""
    # bit_or, not sum: OR is idempotent, so a repeated token sets its
    # bit once where a sum would carry into the next bit
    return (
        tok.join(idx_df, "w", how)
        .groupBy(*keys)
        .agg(
            *[
                F.expr(
                    f"bit_or(CASE WHEN __idx DIV 64 = {j} THEN "
                    "shiftleft(CAST(1 AS BIGINT), __idx % 64) "
                    f"ELSE CAST(0 AS BIGINT) END) AS __m{j}"
                )
                for j in range(n_words)
            ]
        )
    )


def _mask_inter(a: str, b: str, n_words: int) -> Column:
    """|A ∩ B| of two sides' :func:`_term_masks` words ``{a}{j}`` and
    ``{b}{j}``: the popcount of their AND, summed over the words."""
    return F.expr(" + ".join(f"bit_count({a}{j} & {b}{j})" for j in range(n_words)))


def _jaccard_pairs_masked(
    sh: DataFrame,
    idx_df: DataFrame,
    n_terms: int,
    id_col: str,
    threshold: float,
    cands: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard of :func:`jaccard_pairs_prefix` on
    :func:`_term_masks` bitmasks over ``idx_df``'s ``n_terms``
    collected terms: ceil(v/64) longs per doc and the same integer
    counts, so the same 6dp jaccard, as the string-array verify.

    With ``cands`` it verifies those prefix candidates. Without, it is
    the dense regime (v <= 64, one word): every pair is probed as a
    broadcast product of two skinny (id, n, mask) frames. At a truly
    huge corpus that regime would tile block x block like
    cosine_pairs_blocked; a 64-token vocabulary makes all-pairs work
    irreducible either way."""
    n_words = (n_terms + 63) // 64
    masked = _term_masks(
        sh.select(
            F.col(id_col), F.size("__sh").alias("__n"), F.explode("__sh").alias("w")
        ),
        idx_df,
        [id_col, "__n"],
        n_words,
    )

    def side(frame: DataFrame, s: str) -> DataFrame:
        return frame.selectExpr(
            f"`{id_col}` AS id_{s}",
            f"__n AS __n{s}",
            *[f"__m{j} AS __{s}{j}" for j in range(n_words)],
        )

    if cands is None:
        # cpu_bound the probe side BEFORE the broadcast product: the sf0.1
        # shared pair build spent ~7-12 s in a single-task 25M-probe stage.
        pairs = (
            side(cpu_bound(masked), "a")
            .crossJoin(F.broadcast(side(masked, "b")))
            .filter(F.col("id_a") < F.col("id_b"))
        )
    else:
        pairs = cands.join(side(masked, "a"), "id_a").join(side(masked, "b"), "id_b")
    return _jaccard_pairs(
        pairs,
        F.col("__na"),
        F.col("__nb"),
        threshold,
        inter=_mask_inter("__a", "__b", n_words),
    )


def simhash64(text: Column, shingle_size: int = 2) -> Column:
    """64-bit SimHash over word shingles, all native bit ops.

    For each bit position, sum +1/-1 votes from each shingle's xxhash64
    bit; the sign of the sum gives the output bit. Single pass over the
    shingle array: the accumulator is a 64-slot vote array, updated with
    ``zip_with`` — not 64 separate array traversals.
    """
    # bit 63 as a Python literal overflows signed long; same bit pattern
    # as the negative value
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])

    sh = word_shingles(text, shingle_size)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            mask_arr,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, mask_arr, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_dedup(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int = 2
) -> DataFrame:
    """Group rows by identical SimHash (strong near-dup signal); keep the
    lowest id per group, annotate group size."""
    h = df.withColumn("simhash", simhash64(F.col(text_col), shingle_size))
    w = Window.partitionBy("simhash").orderBy(id_col)
    return (
        h.withColumn("dup_count", F.count("*").over(Window.partitionBy("simhash")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def boilerplate_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    min_bucket: int = 1000,
    threshold: float = 0.8,
    shingle_size: int = 3,
) -> DataFrame:
    """Mega-cluster (boilerplate) treatment for the buckets the pair
    pipeline's ``max_bucket`` cap drops: an LSH bucket larger than
    ``min_bucket`` is a boilerplate CLUSTER, and each member is
    verified LINEARLY against the cluster representative (min id) by
    exact Jaccard — O(cluster size) work instead of the O(size^2)
    pairwise enumeration that is semantically useless for clusters
    ("every pair says: same cluster").

    Returns (doc_id, cluster_id, jaccard) for verified members (the
    representative maps to itself with jaccard 1.0). A doc colliding
    into several mega-buckets keeps its smallest representative.
    Membership is the representative's threshold-BALL, not the
    transitive closure — exact transitive clusters need iterative
    connected components, which is a different (multi-pass) job; for
    boilerplate removal the ball around a canonical representative is
    the standard, bounded-cost contract. Together with
    ``near_dup_pairs_minhash`` this covers both regimes: bounded
    buckets -> exact pair graph; boilerplate floods -> cluster
    assignment. Both are one-shuffle banding plans.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size).filter(
        F.col("n_shingles") > 0
    )
    banded = _minhash_banded(sigs, id_col, bands, num_hashes)
    big = lsh_dropped_buckets(
        sigs, id_col, bands, num_hashes, max_bucket=min_bucket
    ).select("band", "bucket", "rep")
    members = (
        banded.join(big, ["band", "bucket"])
        .groupBy(id_col)
        .agg(F.min("rep").alias("cluster_id"))
    )
    pairs = members.select(
        F.col("cluster_id").alias("id_a"), F.col(id_col).alias("id_b")
    ).filter(F.col("id_a") != F.col("id_b"))
    verified = jaccard_verify(
        df, pairs, text_col, id_col, threshold, shingle_size
    ).select(
        F.col("id_b").alias(id_col),
        F.col("id_a").alias("cluster_id"),
        "jaccard",
    )
    reps = members.filter(F.col(id_col) == F.col("cluster_id")).select(
        id_col, "cluster_id", F.lit(1.0).alias("jaccard")
    )
    return verified.unionByName(reps)


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    dense_vocab_limit: int = 4096,
) -> DataFrame:
    """Near-dup pairs by TF-IDF-weighted cosine over the token
    inverted index — the weighted complement to set-based Jaccard:
    rare shared terms count for more, so length-skewed duplicates
    (a doc embedded in a longer one) that dilute Jaccard still score
    high. The classic sparse-vector formulation (Salton; Bayardo
    WWW'07 §2 uses exactly this weighting for all-pairs similarity).

    Returns (id_a, id_b, cosine) for pairs with cosine >= threshold,
    id_a < id_b, cosine rounded 6dp BEFORE the threshold compare (the
    repo's cross-engine float rule).

    Scale shape — TWO regimes, picked by measured vocabulary size:

    - sparse (the normal text regime, Zipfian vocab): one explode, a
      (doc, term) tf aggregate, a term df aggregate, and ONE
      posting-list self-join on the term — candidate volume is sum
      over terms of df^2 (a stopword's postings pair every doc with
      every doc; IDF weights them near zero but they still join).
      Weights and norms are plain doubles; the dot product is a hash
      aggregate over shared terms.
    - dense (vocab <= ``dense_vocab_limit``): when the vocabulary is
      tiny, EVERY posting list is ~corpus-length, pruning is
      impossible, and the posting join degenerates to |V| * n^2 rows
      through a shuffle (measured 138 s at sf0.1 on the 31-term
      synthetic corpus). The honest cost is exact all-pairs, so the
      vectors are densified over the term dictionary and handed to
      :func:`~hummingbirddatapipeline_spark.operators.similarity.cosine_pairs_blocked`
      — tiled numpy GEMM, same rounded-cosine results, ~100x the
      throughput. The regime probe is one bounded
      ``limit(V+1).collect()`` of the term aggregate, which is also
      the dense regime's term dictionary.

    Both regimes emit identical results (densification adds exact
    zeros to the dot products); the oracle differential gates them at
    every SF.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    occ = df.select(
        F.col(id_col), F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("t")
    )
    tf = occ.groupBy(id_col, "t").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df_t"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    weighted = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "t",
            (
                F.col("tf")
                * F.log(F.col("n_docs") / F.col("df_t").cast("double"))
            ).alias("w"),
        )
    )

    vocab, idx_df = _term_index(dfreq.select("t"), "t", dense_vocab_limit)
    if idx_df is not None:
        # materialize the (doc, term, weight) frame once — the dense
        # branch otherwise re-runs the tokenize+tf scan for the term
        # dictionary collect AND the vector assembly (three corpus
        # scans total, measured ~12 s -> ~7 s cold at sf0.1); at
        # n_docs x |V| <= 4096 rows per doc the checkpoint is tiny
        weighted = weighted.localCheckpoint()
        return _tfidf_pairs_dense(weighted, idx_df, len(vocab), id_col, threshold)

    norms = weighted.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = weighted.select(
        F.col(id_col).alias("id_a"), F.col("t"), F.col("w").alias("wa")
    )
    b = weighted.select(
        F.col(id_col).alias("id_b"), F.col("t"), F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _tfidf_pairs_dense(
    weighted: DataFrame,
    idx_df: DataFrame,
    n_terms: int,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Dense regime of :func:`tfidf_cosine_pairs`: scatter each doc's
    (term, weight) entries into a dense vector over the (small, sorted)
    term dictionary and run the tiled-GEMM exact all-pairs join."""
    from hummingbirddatapipeline_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    entries = (
        weighted.join(idx_df, "t")
        .groupBy(id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__idx", "w"))
            ).alias("__m")
        )
    )
    dense = entries.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_terms - 1)),
            # try_element_at: a doc missing a term reads NULL -> 0.0
            # (plain element_at raises under ANSI mode on absent keys)
            lambda i: F.coalesce(F.try_element_at("__m", i), F.lit(0.0)),
        ).alias("__vec"),
    )
    return cosine_pairs_blocked(
        dense, threshold, item_id=id_col, item_vec="__vec"
    ).select(
        F.col("id_a"), F.col("id_b"), F.col("sim").alias("cosine")
    )


# ---------------------------------------------------------------------------
# Incremental corpus dedup: new-batch-vs-index (never rescan the corpus)
# ---------------------------------------------------------------------------
def build_jaccard_store(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int = 1,
) -> DataFrame:
    """The persisted exact-dedup index over the ACCEPTED corpus: one
    row per doc — (id, shingle set, set size). Production writes this
    once as parquet (postings exploded from it should be bucketed by
    token so incremental probes co-locate) and appends each batch's
    survivors via :func:`incremental_jaccard_dedup`'s output — the
    100 TB corpus is never rescanned, only its index grown.

    Mirrors the reference's append+resume contract
    (chat_acreage_bot.py:793-801 — process only what the persisted
    state hasn't seen) at corpus scale.
    """
    return docs.select(
        F.col(id_col).alias("store_id"),
        word_shingles(F.col(text_col), shingle_size).alias("store_sh"),
    ).withColumn("store_n", F.size("store_sh"))


def incremental_jaccard_dedup(
    batch: DataFrame,
    store: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_size: int = 1,
    dense_vocab_limit: int = 64,
) -> DataFrame:
    """Dedup today's batch against the existing corpus index WITHOUT
    rescanning the corpus: every batch doc is annotated ``accepted``
    (no near-dup in the store), plus its minimum-id store match and
    that match's exact Jaccard when rejected.

    EXACT, not approximate — the symmetric AllPairs prefix filter
    (Bayardo WWW'07), in its bipartite form: under ANY global token
    order, the EARLIEST shared token of two sets with ``J >= t`` sits
    within the first ``n - floor(t*n) + 1`` tokens of BOTH (the other
    ``|A∩B| - 1`` shared tokens all rank after it), so batch PREFIX
    tokens join store PREFIX postings — never full posting lists on
    either side. The order is ascending STORE document frequency
    (new tokens = df 0, rarest; the order is the store's FROZEN
    ranking, versioned with the index, so prefixes stay mutually
    consistent as the store grows — interleaved new tokens cannot
    break the position bound, which only counts shared tokens).
    Candidates verify on full shingle sets with the same integer
    arithmetic as ``jaccard_pairs_prefix`` — identical decisions to a
    from-scratch exact join, at probe cost proportional to the
    batch's true neighborhood. (Production persists the store's
    prefix postings and df stats alongside the shingle rows, bucketed
    by token; here they derive from the store frame.)

    Replay-idempotent by construction: append the survivors to the
    store and re-run the same batch — every doc now matches itself
    (J = 1.0) and ``accepted`` is uniformly false, the anti-join
    resume contract (S7) at corpus scale.

    Within-batch duplicates are out of scope by design: run the batch
    through the batch-level pipeline (exact/MinHash pair-gen ->
    connected components -> representatives) before or after; this
    operator answers only "is it already in the corpus".
    """
    bsh = batch.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_size).alias("__sh"),
    ).withColumn("__n", F.size("__sh"))

    store_df = (
        store.select(F.explode("store_sh").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("df_w"))
    )

    # Dense-bitmask regime (same measured switch as tfidf_cosine_pairs):
    # a store vocabulary of <= 64 tokens means prefix filtering CANNOT
    # prune (every posting list is ~corpus-length, candidates are
    # provably ~all pairs), but every token set fits ONE int64 bitmask
    # and exact Jaccard collapses to two native bit_counts per pair —
    # cheap enough that the unavoidable all-pairs probe runs at codegen
    # speed (measured 63 s -> ~4 s at sf0.1 on the 31-term corpus).
    # The probe is a broadcast nested-loop over two skinny (id, mask)
    # frames; at a truly huge batch and store it would tile like
    # cosine_pairs_blocked, but a 64-token vocabulary over billions of
    # docs is all-pairs work no algorithm can prune, only reorganize.
    idx_df = None
    if 0 < dense_vocab_limit <= 64:
        _, idx_df = _term_index(store_df.select("w"), "w", dense_vocab_limit)
    btok = bsh.filter(F.col("__n") > 0).select(
        F.col(id_col), F.explode("__sh").alias("w"), "__n"
    )
    stok = store.select(
        "store_id", F.explode("store_sh").alias("w"), "store_n"
    )
    if idx_df is not None:
        # __n counts every batch token, so |A∪B| stays exact; the left
        # join keeps a doc whose tokens all miss the store vocabulary
        bmask = _term_masks(btok, idx_df, [id_col, "__n"], 1, "left")
        smask = _term_masks(
            stok, idx_df, ["store_id", "store_n"], 1
        ).selectExpr("store_id", "store_n", "__m0 AS __s0")
        verified = _jaccard_at_least(
            bmask.crossJoin(F.broadcast(smask)),
            F.col("__n"),
            F.col("store_n"),
            threshold,
            inter=_mask_inter("__m", "__s", 1),
        ).select(id_col, "store_id", "jaccard")
        return _attach_best_match(batch, verified, id_col, threshold)

    probe = _prefix_tokens(
        btok.join(store_df, "w", "left").withColumn(
            "df_w", F.coalesce("df_w", F.lit(0))
        ),
        id_col,
        "__n",
        threshold,
    ).select(F.col(id_col), "w")
    store_pref = _prefix_tokens(
        stok.join(store_df, "w"), "store_id", "store_n", threshold
    ).select("store_id", "w")
    cands = (
        probe.join(store_pref, "w")
        .select(F.col(id_col), "store_id")
        .distinct()
    )
    verified = _jaccard_at_least(
        cands.join(bsh.select(id_col, "__sh"), id_col).join(
            store.select("store_id", "store_sh", "store_n"), "store_id"
        ),
        F.size("__sh"),
        F.col("store_n"),
        threshold,
        inter=F.size(F.array_intersect("__sh", "store_sh")),
    )
    return _attach_best_match(batch, verified, id_col, threshold)


def _attach_best_match(
    batch: DataFrame, verified: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared tail of the incremental dedup paths: min-id store match
    + its rounded Jaccard, left-joined back onto the full batch roster
    so unmatched (accepted) docs keep NULL match columns.

    One aggregate, not agg + self-join (r16, guide §1.2): ``verified``
    referenced twice made Catalyst re-execute the entire candidate-
    verify subtree per reference per pass (profiled as two ~8 s twin
    stages reading the same exchange). min(struct(store_id, jaccard))
    picks the identical row — store_id is unique per (id, store_id)
    pair, so jaccard never participates in the comparison — with the
    subtree executed once."""
    best_j = (
        verified.groupBy(id_col)
        .agg(F.min(F.struct("store_id", "jaccard")).alias("__best"))
        .select(
            id_col,
            F.col("__best.store_id").alias("match_store_id"),
            F.round("__best.jaccard", 6).alias("match_jaccard"),
        )
    )
    return (
        batch.select(id_col)
        .join(best_j, id_col, "left")
        .select(
            F.col(id_col),
            F.col("match_store_id").isNull().alias("accepted"),
            "match_store_id",
            "match_jaccard",
        )
    )


def minhash_band_index(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 1,
    shingle_col: str | None = None,
) -> DataFrame:
    """The persistable MinHash-LSH index of the accepted corpus:
    (store_id, band, bucket) — what production keeps at rest (bucketed
    by (band, bucket)) so incremental probes are pure equi-joins
    against it. The approximate sibling of :func:`build_jaccard_store`
    for the recall-contract regime. ``shingle_col`` derives the
    signatures from a materialized shingle-array column instead of
    re-tokenizing (see :func:`minhash_signatures`)."""
    sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_size,
        shingle_col=shingle_col,
    ).filter(F.col("n_shingles") > 0)
    return _minhash_banded(sigs, id_col, bands, num_hashes, "store_id")


def incremental_minhash_dedup(
    batch: DataFrame,
    band_index: DataFrame,
    store: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 1,
    max_bucket: int = 1000,
) -> DataFrame:
    """Approximate-candidate incremental dedup: the batch's band
    buckets probe the persisted ``band_index`` (equi-join on
    (band, bucket) — sub-linear in store size when the index is
    bucketed at rest), candidates verify by exact Jaccard against the
    store's shingle rows, and the output matches
    :func:`incremental_jaccard_dedup`'s shape. Same recall contract as
    the batch MinHash pipeline (banding tuned for the threshold;
    borderline pairs can be missed — the exact operator is the
    oracle-grade form, this is the cheaper probe at 100 TB).

    ``max_bucket`` is the standard boilerplate guard on the PROBE
    join: a mega-cluster's bucket appears on both sides, so its probe
    product is |batch∩cluster| x |store∩cluster| rows that all say
    "same boilerplate family" (measured 44 s at sf0.1 uncapped, where
    one cluster spans 53% of docs). Oversize index buckets are
    dropped from candidate generation — at scale such batches route
    to the cluster-label treatment (``boilerplate_clusters``), not
    per-doc store matching.

    The candidate verify hashes shingles to xxhash64 longs first —
    the same trade ``near_dup_pairs_minhash`` makes (set semantics up
    to negligible 64-bit collisions; 8-byte intersects instead of
    string compares — measured 6.9 s -> warm cost halved at sf0.1).
    The exact sibling keeps string shingles for oracle-grade parity.
    """
    # Tokenize the batch ONCE (r15, guide §1.2): the shingle arrays
    # feed both the probe signatures and the verify's hashed sets —
    # without the cut each consumer re-runs the tokenizer (two full
    # batch text passes per probe). The checkpoint is the batch-sized
    # (id, shingle-array) frame — bounded by arrival volume, never by
    # store size.
    batch_sh = batch.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_size).alias("__sh0"),
    ).localCheckpoint(eager=False)
    probe = minhash_band_index(
        batch_sh, text_col, id_col, num_hashes, bands, shingle_size,
        shingle_col="__sh0",
    ).withColumnRenamed("store_id", "__batch_id")
    bucket_sz = band_index.groupBy("band", "bucket").agg(
        F.count("*").alias("__sz")
    )
    bounded = band_index.join(
        bucket_sz.filter(F.col("__sz") <= max_bucket).select("band", "bucket"),
        ["band", "bucket"],
    )
    cands = (
        probe.join(bounded, ["band", "bucket"])
        .select(F.col("__batch_id").alias(id_col), "store_id")
        .distinct()
    )
    # cpu_bound (r15): the per-pair verify ran as two 1-task ~2.5 s
    # stages at sf0.1.
    cands = cpu_bound(cands)

    bsh = batch_sh.select(
        F.col(id_col), _hashed_set(F.col("__sh0")).alias("__sh")
    )
    store_hashed = store.select(
        "store_id", _hashed_set(F.col("store_sh")).alias("store_hsh")
    )
    verified = _jaccard_at_least(
        cands.join(bsh, id_col)
        .join(store_hashed, "store_id")
        .filter(_size_ratio_ok(F.size("__sh"), F.size("store_hsh"), threshold)),
        F.size("__sh"),
        F.size("store_hsh"),
        threshold,
        inter=F.size(F.array_intersect("__sh", "store_hsh")),
    )
    return _attach_best_match(batch, verified, id_col, threshold)


def strip_boilerplate_chunks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 2,
    window: int = 8,
    divisor: int = 8,
) -> DataFrame:
    """Chunk-level boilerplate removal — the CCNet paragraph-dedup rule
    (Wenzek et al. 2020, arXiv:1911.00359 §3: drop paragraphs whose
    hash repeats across the corpus) re-based on content-defined chunks
    (functions/text.cdc_chunks), since token-stream corpora have no
    paragraph marks and CDC boundaries are the insertion-robust
    equivalent: a chunk is BOILERPLATE when its hash occurs in more
    than ``max_docs`` distinct documents, and every occurrence is
    dropped.

    This is the transformation the r12 `text_cdc_chunks` candidate
    stream exists to feed: whole-doc dedup misses a shared header or
    license block pasted into thousands of otherwise-distinct pages;
    chunk-frequency removal excises exactly the shared block.

    Per-document report (the oracled surface)::

        (id, n_chunks, n_chunks_dropped, n_tokens, n_tokens_kept)

    Scale shape: chunking is zero-exchange per doc (pure expressions);
    the chunk-frequency table needs one hash aggregate, but the
    BOILERPLATE SET — hashes with > max_docs distinct docs — is small
    by Zipf (only repeated content survives the filter), so the
    drop-marking is a broadcast left join and the corpus never
    shuffles at chunk width. Docs with zero chunks (empty text) report
    all-zero rows rather than disappearing.
    """
    from hummingbirddatapipeline_spark.functions.text import cdc_chunks

    # the skinny chunk stream feeds BOTH the boilerplate roster and the
    # per-doc recount; without a lineage cut Catalyst re-inlines the
    # full text scan + chunking expressions under each consumer (the
    # r11 banking-time scan-audit lesson — caught by
    # tools/scan_audit.py)
    chunks = (
        docs.select(
            F.col(id_col),
            F.explode_outer(
                cdc_chunks(F.col(text_col), window=window, divisor=divisor)
            ).alias("__c"),
        )
        .select(
            id_col,
            F.col("__c.chunk_hash").alias("__h"),
            F.col("__c.n_tokens").alias("__nt"),
        )
        .localCheckpoint(eager=False)
    )
    boiler = (
        chunks.filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") > max_docs)
        .select("__h", F.lit(1).alias("__drop"))
    )
    marked = chunks.join(F.broadcast(boiler), "__h", "left")
    return marked.groupBy(id_col).agg(
        F.count("__h").alias("n_chunks"),
        F.coalesce(F.sum(F.col("__drop")), F.lit(0)).cast("long").alias(
            "n_chunks_dropped"
        ),
        F.coalesce(F.sum("__nt"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("__drop").isNull(), F.col("__nt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_tokens_kept"),
    )


def dup_span_extract(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated-span extraction — the actionable completion
    of the Lee et al. 2022 substring-dedup family: where
    ``text_substring_dup(_stride1)`` reports per-doc duplication
    COUNTS, this emits the actual token spans a dedup pass would CUT.

    Every full ``k``-token window (stride 1) is hashed; windows whose
    hash occurs >= ``min_occurrences`` times corpus-wide are
    duplicated; per document, duplicated windows whose covered
    intervals overlap or touch (next_start <= prev_start + k) merge
    into one maximal span. Output one row per span::

        (id, span_seq, start_token, span_tokens, n_dup_windows)

    with 0-based token offsets, ``span_tokens`` the covered length
    (max_start + k - start), and ``span_seq`` the 1-based per-doc span
    ordinal in token order. All arithmetic is integral, so both
    engines agree bit-for-bit.

    Scale shape: windowing is zero-exchange codegen
    (functions/text.chunk_token_windows); the occurrence table is one
    hash aggregate over 8-byte xxhash64 longs; the dup filter is a
    skinny (hash) join; the island merge is ONE doc-keyed exchange
    shared by the lag window and the span aggregate. Nothing shuffles
    at text width.
    """
    from pyspark.sql.window import Window

    from hummingbirddatapipeline_spark.functions.text import (
        chunk_token_windows,
    )

    wins = (
        chunk_token_windows(
            docs, text_col, id_col, chunk_tokens=k, stride=1
        )
        .filter(F.col("n_tokens") == k)
        .select(
            id_col,
            F.col("chunk_idx").alias("__start"),
            F.xxhash64("chunk_text").alias("__wh"),
        )
    )
    occ = (
        wins.groupBy("__wh")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= min_occurrences)
        .select("__wh", F.col("__c").alias("__occ"))
    )
    dup = wins.join(occ, "__wh").select(id_col, "__start")
    w = Window.partitionBy(id_col).orderBy("__start")
    isl = dup.withColumn(
        "__brk",
        F.when(
            F.col("__start") - F.lag("__start").over(w) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("__start").alias("start_token"),
        (F.max("__start") + k - F.min("__start")).alias("span_tokens"),
        F.count("*").alias("n_dup_windows"),
    ).select(
        F.col(id_col),
        F.col("__isl").cast("long").alias("span_seq"),
        F.col("start_token").cast("long").alias("start_token"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
    )


def cut_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_occurrences: int = 2,
) -> DataFrame:
    """Apply the Lee et al. 2022 substring-dedup CUT: keep exactly ONE
    canonical occurrence of every duplicated k-token window corpus-wide
    and account for what every other document loses. Where
    :func:`dup_span_extract` reports every duplicated span, this is
    the pass a training pipeline actually runs — "remove all but one
    occurrence" — with the canonical occurrence pinned
    deterministically to the (min doc id, then min start) host, so
    both engines agree on who keeps the text.

    Per document (EVERY document, including untouched ones)::

        (id, n_tokens, windows_cut, spans_cut, tokens_cut, tokens_kept)

    where spans are the overlap/touch-merged islands of the CUT
    windows (the dup_span_extract merge over the non-canonical
    occurrences only) and tokens_kept = n_tokens - tokens_cut. All
    integer arithmetic.

    Scale shape: windowing zero-exchange; ONE hash aggregate over
    8-byte window hashes serves both the occurrence filter and the
    canonical argmin (min of a (doc, start) struct — a selection, no
    rounding); the island merge + per-doc rollup share ONE doc-keyed
    exchange; the final accounting is a left join of doc-level totals
    against doc-level cuts. Nothing shuffles at text width.
    """
    from pyspark.sql.window import Window

    from hummingbirddatapipeline_spark.functions.text import (
        chunk_token_windows,
        ws_token_count,
    )

    # The window stream feeds BOTH the occurrence aggregate and the cut
    # join, so the text scan + windowing run twice — BY DESIGN
    # (recorded decline): at stride 1 the (id, start, hash) stream is
    # ~16 bytes PER TOKEN POSITION, i.e. larger than the text itself,
    # so a localCheckpoint materializes more bytes than the second scan
    # reads (and A/B'd slightly slower cold at sf0.1). Same class as
    # the exact-pair-engine self-join sides.
    wins = (
        chunk_token_windows(
            docs, text_col, id_col, chunk_tokens=k, stride=1
        )
        .filter(F.col("n_tokens") == k)
        .select(
            id_col,
            F.col("chunk_idx").alias("__start"),
            F.xxhash64("chunk_text").alias("__wh"),
        )
    )
    # one aggregate serves both: dup filter + canonical (min doc, start)
    occ = (
        wins.groupBy("__wh")
        .agg(
            F.count("*").alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("__start"))).alias("__canon"),
        )
        .filter(F.col("__c") >= min_occurrences)
        .select("__wh", "__canon")
    )
    cut = (
        wins.join(occ, "__wh")
        .filter(
            ~(
                (F.col(id_col) == F.col(f"__canon.{id_col}"))
                & (F.col("__start") == F.col("__canon.__start"))
            )
        )
        .select(id_col, "__start")
    )
    w = Window.partitionBy(id_col).orderBy("__start")
    isl = cut.withColumn(
        "__brk",
        F.when(
            F.col("__start") - F.lag("__start").over(w) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy(id_col, "__isl").agg(
        F.count("*").alias("__nw"),
        (F.max("__start") + k - F.min("__start")).alias("__len"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("__nw").alias("windows_cut"),
        F.count("*").alias("spans_cut"),
        F.sum("__len").alias("tokens_cut"),
    )
    totals = docs.select(
        id_col, ws_token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    return totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce("windows_cut", F.lit(0)).cast("long").alias("windows_cut"),
        F.coalesce("spans_cut", F.lit(0)).cast("long").alias("spans_cut"),
        F.coalesce("tokens_cut", F.lit(0)).cast("long").alias("tokens_cut"),
        (F.col("n_tokens") - F.coalesce("tokens_cut", F.lit(0)))
        .cast("long")
        .alias("tokens_kept"),
    )


def boilerplate_leaderboard(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    min_occurrences: int = 2,
    top: int = 20,
) -> DataFrame:
    """The WORST-boilerplate leaderboard: the ``top`` most-duplicated
    k-token windows corpus-wide, each with its occurrence count,
    distinct-document reach, and the canonical (min doc, min start)
    representative INCLUDING the window text — the triage view a
    curation owner reads before deciding cut policies (cookie
    banners, license headers, nav bars surface here first).

    Ordering is (occurrences DESC, rep_doc ASC, rep_start ASC) — the
    representative tiebreak is engine-neutral where a hash-value
    tiebreak would not be (Spark buckets by xxhash64, the oracle by
    md5; equal TEXT gives equal counts either way, so only the
    deterministic representative may break ties).

    Returns (rank, n_occurrences, n_docs, rep_doc, rep_start,
    window_text), rank 1-based.

    Scale shape: zero-exchange windowing; ONE hash aggregate over
    8-byte window hashes (count + distinct-doc + struct-min
    representative, text riding only inside the min); the top cut is
    orderBy().limit() — TakeOrderedAndProject, a per-partition
    partial top-k, never a global sort — and the rank window runs
    over <= top rows.
    """
    from pyspark.sql.window import Window

    from hummingbirddatapipeline_spark.functions.text import (
        chunk_token_windows,
    )

    wins = (
        chunk_token_windows(
            docs, text_col, id_col, chunk_tokens=k, stride=1
        )
        .filter(F.col("n_tokens") == k)
        .select(
            id_col,
            F.col("chunk_idx").alias("__start"),
            F.col("chunk_text"),
            F.xxhash64("chunk_text").alias("__wh"),
        )
    )
    agg = (
        wins.groupBy("__wh")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).cast("long").alias("n_docs"),
            F.min(
                F.struct(
                    F.col(id_col).alias("d"),
                    F.col("__start").alias("s"),
                    F.col("chunk_text").alias("t"),
                )
            ).alias("__rep"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
    )
    cut = agg.orderBy(
        F.col("n_occurrences").desc(),
        F.col("__rep.d"),
        F.col("__rep.s"),
    ).limit(top)
    w = Window.orderBy(
        F.col("n_occurrences").desc(), F.col("__rep.d"), F.col("__rep.s")
    )
    return cut.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "n_occurrences",
        "n_docs",
        F.col("__rep.d").alias("rep_doc"),
        F.col("__rep.s").cast("long").alias("rep_start"),
        F.col("__rep.t").alias("window_text"),
    )


def cross_source_dup_matrix(
    pairs: DataFrame,
    meta: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cross-source duplication matrix — the data-provenance report a
    corpus owner reads before paying for a new source: every near-dup
    pair attributed to its (source, source) cell, so "vendor B is 40%
    re-crawls of vendor A" is one scan of a K x K table instead of
    anecdote. (The per-pair evidence behind the per-source dup_rate of
    ``corpus_stats``; CCNet/RefinedWeb-style pipelines run exactly
    this before source-level dedup ordering.)

    ``pairs`` is any near-dup pair list (exact
    :func:`jaccard_pairs_prefix` under the oracle gate; the banded-LSH
    capped path in production — the operator is pair-source-agnostic,
    same decision record as ``label_propagation``). ``meta`` maps
    ``id_col`` to ``group_col``. Cells are canonically ordered
    (source_a <= source_b), so A-B and B-A pairs land in one cell.

    Returns (source_a, source_b, n_pairs, n_docs) — exact BIGINT pair
    and distinct-doc counts per cell (``n_docs`` counts docs on either
    side, each once).

    Scale shape: two broadcast-able joins attach sources to the skinny
    pair list (meta reduces to (id, source) at the scan); ONE hash
    aggregate — each pair explodes into its two doc rows so the pair
    count (count/2, exact) and the distinct-doc count share a single
    exchange. Nothing at text width, nothing quadratic beyond the
    pair list itself.
    """
    a = meta.select(
        F.col(id_col).alias(id_a), F.col(group_col).alias("__ga")
    )
    b = meta.select(
        F.col(id_col).alias(id_b), F.col(group_col).alias("__gb")
    )
    cell = (
        pairs.select(id_a, id_b)
        .join(a, id_a)
        .join(b, id_b)
        .select(
            F.least("__ga", "__gb").alias("source_a"),
            F.greatest("__ga", "__gb").alias("source_b"),
            F.col(id_a),
            F.col(id_b),
        )
    )
    ex = cell.select(
        "source_a",
        "source_b",
        F.explode(F.array(F.col(id_a), F.col(id_b))).alias("__d"),
    )
    return ex.groupBy("source_a", "source_b").agg(
        (F.count("*") / 2).cast("long").alias("n_pairs"),
        F.countDistinct("__d").alias("n_docs"),
    )


def _portable_minhash_sig(sh: Column, num_hashes: int, seed: str) -> Column:
    """K-component MinHash signature over a shingle-array column using
    PORTABLE per-component hashes — the low 52 bits of
    ``md5(shingle || '#' || seed || k)`` as a decimal long — integer
    arithmetic DuckDB replays exactly (production signatures keep
    native ``xxhash64``; this family exists so the estimator/recall
    MEASUREMENT rows can be value-oracled end-to-end)."""

    def _component(k: int) -> Column:
        # NOTE: the per-component salt must be bound OUTSIDE the HOF
        # lambda, and the lambda must be UNARY — a `lambda w, k=k`
        # two-parameter form is interpreted by PySpark as the
        # (element, index) binary transform, silently binding k to
        # the index Column and corrupting the salt string.
        salt = F.lit(f"#{seed}{k}")
        return F.array_min(
            F.transform(
                sh,
                lambda w: F.conv(
                    F.substring(F.md5(F.concat(w, salt)), 1, 13), 16, 10
                ).cast("long"),
            )
        )

    return F.array(*[_component(k) for k in range(num_hashes)])


def _portable_band_candidates(
    sigs: DataFrame, id_col: str, bands: int, r: int
) -> DataFrame:
    """Banded candidate pairs over a portable-signature frame
    (id, __sig): raw component-slice bucket keys (no bucket re-hash,
    so DuckDB replays grouping with zero collision caveat), one
    map-side-combined bucket aggregate, within-bucket pair-gen from
    the sorted id arrays. Shared by the recall and candidate-profile
    measurement rows."""
    banded = band_explode(
        sigs, id_col, [f"slice(__sig, {b * r + 1}, {r})" for b in range(bands)]
    )
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.array_sort("ids").alias("ids"))
        .distinct()
    )
    return _bucket_pair_rows(buckets)


def lsh_recall_report(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mh0",
    shingle_size: int = 1,
) -> DataFrame:
    """LSH banding RECALL report — the parameter-acceptance measurement
    for the (num_hashes, bands) choice: for each exact-Jaccard decile
    band, how many true near-dup pairs exist and how many the banded
    candidate generation actually catches. Theory says a pair with
    Jaccard J is caught with probability ``1 - (1 - J^r)^b``
    (r = rows per band); this row OBSERVES that S-curve on real data,
    the same philosophy as :func:`minhash_estimate_pairs` (observe,
    don't trust the formula) — together they close the MinHash
    family's two open measurement questions, estimator fidelity and
    banding recall.

    Banding here uses the portable md5 signature family
    (:func:`_portable_minhash_sig`) with the band's RAW component
    slice as the bucket key (no bucket re-hash), so a DuckDB oracle
    replays candidate generation exactly — no hash-collision caveat.
    Production keeps :func:`minhash_lsh_candidates` (xxhash64 + the
    ``max_bucket`` skew cap + :func:`lsh_dropped_buckets` audit); this
    report is uncapped by design — a capped recall report would
    measure the cap, not the banding.

    Returns one row per decile: (band_lo, n_pairs, n_caught, recall)
    with band_lo = min(floor(J*10)/10, 0.9) so J = 1.0 folds into the
    [0.9, 1.0] band; counts exact BIGINTs, recall one 6dp division.

    Scale shape: ONE corpus pass builds shingle sets + signatures;
    band explode is xK skinny rows; bucket grouping is one map-side-
    combined aggregate with within-bucket pair-gen from the collected
    (bounded) id arrays; the exact side reuses
    :func:`jaccard_pairs_all` (inverted-index join — at 100 TB the
    registered form caps the doc universe, exactly like the estimator
    row, because an uncapped exact pair set is the quadratic oracle
    cost this report exists to avoid paying in production).
    """
    _check_banding(num_hashes, bands)
    r = num_hashes // bands
    per_doc = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_size).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    sigs = per_doc.select(
        F.col(id_col),
        _portable_minhash_sig(F.col("__sh"), num_hashes, seed).alias(
            "__sig"
        ),
    ).localCheckpoint(eager=False)
    # ^ lineage cut: the signature build otherwise re-inlines into
    # the band explode AND the bucket aggregate (banking-time audit)
    cands = _portable_band_candidates(sigs, id_col, bands, r).withColumn(
        "__caught", F.lit(1)
    )
    exact = jaccard_pairs_all(
        docs, text_col, id_col, threshold, shingle_size
    )
    joined = exact.join(cands, ["id_a", "id_b"], "left")
    band_lo = F.least(
        F.floor(F.col("jaccard") * 10) / 10.0, F.lit(0.9)
    )
    return (
        joined.groupBy(band_lo.alias("band_lo"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.coalesce(F.sum("__caught"), F.lit(0))
            .cast("long")
            .alias("n_caught"),
        )
        .select(
            "band_lo",
            "n_pairs",
            "n_caught",
            F.round(
                F.col("n_caught").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mh0",
    shingle_size: int = 1,
) -> DataFrame:
    """MinHash Jaccard ESTIMATOR fidelity, fully value-oracled: for
    every candidate pair, the K-component minhash estimate
    ``matches / K`` next to the exact shingle-set Jaccard and the
    absolute error. This is the measurement that justifies the
    production MinHash path's parameters — the estimator's stderr is
    ``sqrt(J(1-J)/K)`` (Broder 1997) and this row OBSERVES it on real
    data instead of trusting the formula.

    Unlike the production signatures (``minhash_signatures`` —
    ``min(xxhash64(...))``, native and fast but engine-specific, which
    is why those rows are contract/bench-gated), the estimator here
    hashes each shingle with a 52-bit md5 per component
    (``md5(shingle || '#' || seed || k)``) — PORTABLE integer
    arithmetic both engines replay exactly, so the whole
    (estimate, exact, error) row set hash-matches a DuckDB oracle.
    The trade (md5 is ~10x xxhash64) buys a value-level differential
    for the ESTIMATOR ITSELF; production keeps xxhash64.

    Returns (id_a, id_b, est_jaccard, exact_jaccard, abs_err), all
    6dp-rounded rationals of exact integers.

    Scale shape: ONE corpus pass builds each doc's shingle set and its
    K-component signature (K interpreted array passes over the
    shingle array — bounded by K, not corpus size); both attach to
    the skinny pair list by equi-join; per-pair comparison is
    zip_with + array_intersect on the two bounded arrays. Candidate
    generation is the caller's (LSH-banded at scale); nothing here is
    quadratic beyond the pair list.
    """
    if num_hashes < 1:
        raise ValueError("minhash_estimate_pairs: num_hashes >= 1")
    sig = _portable_minhash_sig(F.col("__sh"), num_hashes, seed)
    per_doc = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_size).alias("__sh"),
    ).select(
        F.col(id_col),
        "__sh",
        F.size("__sh").alias("__n"),
        sig.alias("__sig"),
    ).localCheckpoint(eager=False)
    # ^ the frame feeds BOTH pair sides — without the lineage cut
    # Catalyst re-inlines the shingle+signature build per side
    # (banking-time scan audit: 6x -> bounded corpus scans)
    a = per_doc.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__n").alias("__n_a"),
        F.col("__sig").alias("__sig_a"),
    )
    b = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__n").alias("__n_b"),
        F.col("__sig").alias("__sig_b"),
    )
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    matches = F.aggregate(
        F.zip_with(
            F.col("__sig_a"),
            F.col("__sig_b"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    exact = inter.cast("double") / (
        F.col("__n_a") + F.col("__n_b") - inter
    ).cast("double")
    est = matches.cast("double") / F.lit(float(num_hashes))
    return joined.select(
        "id_a",
        "id_b",
        F.round(est, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(F.round(est, 6) - F.round(exact, 6)), 6).alias(
            "abs_err"
        ),
    )


def lsh_candidate_profile(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "mh0",
    shingle_size: int = 1,
) -> DataFrame:
    """LSH candidate-LOAD profile — the precision-side companion of
    :func:`lsh_recall_report`, completing the MinHash observability
    triptych (estimator fidelity -> recall -> candidate load): the
    exact-Jaccard decile histogram of the pairs banding actually
    EMITS. Recall asks "of the true pairs, how many did banding
    catch"; this asks "of what banding emits, how much is junk the
    verifier must pay to reject" — the quantity that prices the
    verification stage and drives the bands/rows trade in the other
    direction (more bands = better recall = heavier candidate load).

    Uses the portable md5 signature family with raw component-slice
    buckets (same machinery as the recall report) so a DuckDB oracle
    replays candidate generation exactly. Candidate pairs attach their
    two shingle sets by equi-join (bounded by the candidate list,
    never quadratic) and band by floor(J*10)/10 with J = 1.0 folded
    into 0.9.

    Returns one row per non-empty decile: (band_lo, n_cands,
    frac_cands) — counts exact BIGINTs, frac one 6dp division against
    the window total over the <= 11-row aggregate (bounded, not a
    corpus window).
    """
    _check_banding(num_hashes, bands)
    r = num_hashes // bands
    per_doc = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), shingle_size).alias("__sh"),
    ).filter(F.size("__sh") > 0)
    per_doc = per_doc.select(
        F.col(id_col),
        "__sh",
        F.size("__sh").alias("__n"),
        _portable_minhash_sig(F.col("__sh"), num_hashes, seed).alias(
            "__sig"
        ),
    ).localCheckpoint(eager=False)
    cands = _portable_band_candidates(per_doc, id_col, bands, r)
    a = per_doc.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sh_a"),
        F.col("__n").alias("__n_a"),
    )
    b_side = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__sh_b"),
        F.col("__n").alias("__n_b"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    j = F.round(
        inter.cast("double")
        / (F.col("__n_a") + F.col("__n_b") - inter).cast("double"),
        6,
    )
    band_lo = F.least(F.floor(j * 10) / 10.0, F.lit(0.9))
    hist = (
        cands.join(a, "id_a")
        .join(b_side, "id_b")
        .groupBy(band_lo.alias("band_lo"))
        .agg(F.count("*").alias("n_cands"))
    )
    w_total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "band_lo",
        "n_cands",
        F.round(
            F.col("n_cands").cast("double")
            / F.sum("n_cands").over(w_total).cast("double"),
            6,
        ).alias("frac_cands"),
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """K x K source VOCABULARY overlap — token-set Jaccard between
    every source pair, the vocabulary-level sibling of
    :func:`cross_source_dup_matrix` (that one attributes near-dup
    PAIRS to source cells; this one asks whether two sources even
    speak the same words — the cheap first look before any pair
    engine runs). Canonically ordered (source_a < source_b), exact
    BIGINT counts, one 6dp division.

    Scale shape: one explode -> DISTINCT (source, word) table
    (vocab x K bounded); the self-join on the word key fans each word
    out to at most C(K, 2) cells (K = #sources, a catalog-bounded
    constant — a word present everywhere costs 190 rows at K = 20,
    never corpus-quadratic); per-source type counts attach broadcast.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    sw = (
        docs.select(
            F.col(strata_col).alias("__s"),
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sw.groupBy("__s").agg(F.count("*").alias("n_types"))
    a = sw.select(F.col("__s").alias("source_a"), "w")
    b = sw.select(F.col("__s").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = F.broadcast(
        sizes.select(
            F.col("__s").alias("source_a"), F.col("n_types").alias("n_a")
        )
    )
    sb = F.broadcast(
        sizes.select(
            F.col("__s").alias("source_b"), F.col("n_types").alias("n_b")
        )
    )
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("n_a").cast("long").alias("n_types_a"),
            F.col("n_b").cast("long").alias("n_types_b"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def countmin_error_report(
    docs: DataFrame,
    depth: int = 4,
    width: int = 64,
    top: int = 20,
    text_col: str = "text",
    seed: str = "cm0",
) -> DataFrame:
    """Count-min sketch ERROR report, fully value-oracled — for the
    top-N words by exact count: the exact count, the CM estimate
    (min over depth rows of the bucket counter), and the overestimate.
    The frequency-sketch member of the observe-don't-trust family
    (minhash_estimate_pairs measures the Jaccard estimator,
    lsh_recall_report the banding; this one measures the CM
    guarantee est >= exact, with slack bounded by collisions at the
    chosen width — the report that picks depth x width before the
    native approx functions are trusted at 100 TB).

    Hashes are the portable 52-bit-md5 family (row d hashes
    ``md5(w || '#' || seed || d) % width``), so both engines build
    bit-identical counter arrays. Returns (word, exact_count,
    cm_estimate, overestimate, rank) — all exact BIGINTs; rank by
    (exact desc, word asc).

    Scale shape: ONE corpus explode -> word-count hash aggregate
    (vocab-sized); the sketch is depth skinny rows per WORD (not per
    occurrence) -> one (row, bucket) aggregate of depth*width rows;
    the probe joins the top-N words back to their depth buckets.
    Everything after the first aggregate is vocabulary-sized.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    if depth < 1 or width < 1:
        raise ValueError("countmin_error_report: depth and width >= 1")
    counts = (
        docs.select(
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )

    def _bucket(d: int) -> Column:
        salt = F.lit(f"#{seed}{d}")
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat(F.col("w"), salt)), 1, 13),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        ).cast("int")

    hashed = counts.select(
        "w",
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _bucket(d).alias("b")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("db"),
    ).select("w", "c", "db.d", "db.b")
    sketch = hashed.groupBy("d", "b").agg(F.sum("c").alias("counter"))
    w_rank = Window.orderBy(F.col("c").desc(), F.col("w"))
    top_words = (
        counts.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top)
    )
    est = (
        top_words.select("w", "c", "rank")
        .join(
            hashed.select("w", "d", "b"), "w"
        )
        .join(F.broadcast(sketch), ["d", "b"])
        .groupBy("w", "c", "rank")
        .agg(F.min("counter").alias("cm_estimate"))
    )
    return est.select(
        F.col("w").alias("word"),
        F.col("c").alias("exact_count"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("c")).alias("overestimate"),
        F.col("rank").cast("int").alias("rank"),
    )


_HLL_HASH_BITS = 52


def hll_error_report(
    docs: DataFrame,
    b: int = 6,
    text_col: str = "text",
    seed: str = "hl0",
) -> DataFrame:
    """HyperLogLog ERROR report over the corpus vocabulary, fully
    value-oracled — the cardinality member of the observe-don't-trust
    sketch family (count-min measures frequency error,
    minhash_estimate the Jaccard estimator; this one runs a PORTABLE
    HLL (Flajolet et al. 2007) next to the exact distinct count and
    reports the relative error the native approx_count_distinct rows
    are trusted to stay inside).

    Portability: the 52-bit md5 hash splits into bucket = h mod m and
    rho = leading-zero rank of the remaining 46 bits computed by a
    GENERATED integer CASE chain (no libm log2); registers fold in
    bucket order (fixed-order IEEE sum of exact powers of two), and
    the standard small-range correction applies when est <= 2.5m with
    empty registers — every branch deterministic on both engines.

    Returns one row: (m, n_exact, hll_estimate, rel_err) — counts
    BIGINT, estimate ROUNDed BIGINT, rel_err 6dp.

    Scale shape: ONE corpus explode -> distinct words (the exact side
    needs it anyway) -> m-row register aggregate; the register fold
    is a single m-element array operation. The sketch itself is m
    longs — at 100 TB the register table is the only state.
    """
    from hummingbirddatapipeline_spark.functions.text import ws_tokens

    m = 1 << b
    rbits = _HLL_HASH_BITS - b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    words = (
        docs.select(
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("w")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("w"), F.lit("#" + seed))), 1, 13),
        16,
        10,
    ).cast("long")
    bucket = F.pmod(h, F.lit(m)).cast("int")
    rest = (h / m).cast("long")
    # rho = (position of the highest set bit from the top of the
    # rbits-wide field) + 1; all-zero remainder -> rbits + 1
    rho = F.when(F.col("__rest") == 0, F.lit(rbits + 1))
    for i in range(rbits):
        # highest bit at weight 2^(rbits-1-i)  ->  rho = i + 1
        rho = rho.when(
            F.col("__rest") >= F.lit(1 << (rbits - 1 - i)), F.lit(i + 1)
        )
    regs = (
        words.select(bucket.alias("bucket"), rest.alias("__rest"))
        .select("bucket", rho.alias("__rho"))
        .groupBy("bucket")
        .agg(F.max("__rho").alias("M"))
    )
    folded = regs.agg(
        F.sort_array(
            F.collect_list(F.struct("bucket", "M"))
        ).alias("__rs"),
        F.count("*").alias("__n_regs"),
    ).select(
        F.aggregate(
            "__rs",
            F.lit(0.0),
            lambda acc, r: acc + F.pow(F.lit(2.0), -r["M"].cast("double")),
        ).alias("__denom"),
        (F.lit(m) - F.col("__n_regs")).alias("__zeros"),
    )
    raw = F.lit(alpha) * F.lit(float(m * m)) / (
        F.col("__denom") + F.col("__zeros").cast("double")
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("__zeros") > 0),
        F.lit(float(m))
        * F.log(F.lit(float(m)) / F.col("__zeros").cast("double")),
    ).otherwise(raw)
    n_exact = words.agg(F.count("*").alias("n_exact"))
    return (
        folded.crossJoin(F.broadcast(n_exact))
        .select(
            F.lit(m).alias("m"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(corrected).cast("long").alias("hll_estimate"),
            # empty-corpus guard: n_exact = 0 has no relative error
            # (ANSI division raises; the r10-ADVICE empty-input class)
            F.when(
                F.col("n_exact") > 0,
                F.round(
                    F.abs(
                        F.round(corrected)
                        - F.col("n_exact").cast("double")
                    )
                    / F.col("n_exact").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("rel_err"),
        )
    )


def cross_source_best_match(
    docs: DataFrame,
    threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    strata_col: str = "source",
    shingle_size: int = 1,
) -> DataFrame:
    """Reciprocal best matches ACROSS sources — pairs where each doc
    is the other's highest-Jaccard cross-source neighbor. The
    high-precision alignment primitive (the reciprocal-best-hit rule
    from sequence alignment applied to corpus provenance): the
    cross_source_dup_matrix says how MUCH two vendors overlap; this
    emits the actual aligned pairs a remediation job would act on,
    filtered to mutual-best so boilerplate hubs (one doc similar to
    hundreds) don't flood the output.

    Best-match selection is deterministic: (jaccard desc, partner id
    asc) per doc via row_number; reciprocity = both directions rank 1.
    Returns (id_a, id_b, source_a, source_b, jaccard) with id_a <
    id_b.

    Scale shape: the pair set is the caller-bounded exact engine
    (LSH-banded at scale, exactly like the estimator/recall rows);
    symmetrize -> ONE doc-keyed rank window -> self-join of the two
    rank-1 sides on the (a, b) key. Everything after the pair build
    is pair-list-sized.
    """
    pairs = jaccard_pairs_all(
        docs, text_col, id_col, threshold, shingle_size
    )
    src = docs.select(
        F.col(id_col).alias("__id"), F.col(strata_col).alias("__src")
    )
    attached = (
        pairs.join(
            src.select(
                F.col("__id").alias("id_a"),
                F.col("__src").alias("source_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("__id").alias("id_b"),
                F.col("__src").alias("source_b"),
            ),
            "id_b",
        )
        .filter(F.col("source_a") != F.col("source_b"))
    ).localCheckpoint(eager=False)
    # ^ the cross-source pair list is consumed FOUR ways (two union
    # branches, then fwd/rev rank-1 sides) — without the cut the
    # whole pair-build lineage re-inlines per branch (banking-time
    # scan audit measured 16x corpus text scans; skinny checkpoint
    # makes it one)
    sym = attached.select(
        F.col("id_a").alias("me"),
        F.col("id_b").alias("partner"),
        "jaccard",
    ).unionByName(
        attached.select(
            F.col("id_b").alias("me"),
            F.col("id_a").alias("partner"),
            "jaccard",
        )
    )
    w = Window.partitionBy("me").orderBy(
        F.col("jaccard").desc(), F.col("partner")
    )
    best = sym.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    fwd = best.select(
        F.col("me").alias("id_a"),
        F.col("partner").alias("id_b"),
        "jaccard",
    ).filter(F.col("id_a") < F.col("id_b"))
    rev = best.select(
        F.col("partner").alias("id_a"), F.col("me").alias("id_b")
    ).filter(F.col("id_a") < F.col("id_b"))
    recip = fwd.join(rev, ["id_a", "id_b"])
    return (
        recip.join(
            src.select(
                F.col("__id").alias("id_a"),
                F.col("__src").alias("source_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("__id").alias("id_b"),
                F.col("__src").alias("source_b"),
            ),
            "id_b",
        )
        .select("id_a", "id_b", "source_a", "source_b", "jaccard")
    )
