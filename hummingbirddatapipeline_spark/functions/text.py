"""Text-analysis expression library (north-star extensions + SURVEY.md
§2.8 F8–F12): token counting, quality scoring, language ID, document
fingerprinting. All native Column expressions — no Python UDFs — so they
hold up on 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny stopword lexicons for the n-gram/stopword language heuristic.
# Deliberately small: language ID at scale is a marker-hit argmax, and
# the lexicon is a broadcast-free literal baked into the plan.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "des", "et", "est", "une", "dans", "que", "pour"),
}

def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization -> array of tokens (empty strings dropped)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space characters that are punctuation/symbols."""
    nonspace = F.length(F.regexp_replace(text, r"\s+", ""))
    alnum = F.length(F.regexp_replace(text, r"[^A-Za-z0-9]", ""))
    return F.try_divide(nonspace - alnum, nonspace)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords for ``lang``."""
    markers = list(LANG_MARKERS[lang])
    toks = ws_tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(markers)))
    return F.try_divide(hits, F.size(toks))


def mean_token_len(text: Column) -> Column:
    toks = ws_tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.try_divide(total, F.size(toks))


def quality_score(text: Column) -> Column:
    """Composite 0-1 heuristic quality score for training-data filtering:
    rewards moderate length, low punctuation density, presence of
    stopwords (prose-likeness), sane mean token length."""
    n_tok = ws_token_count(text).cast("double")
    length_ok = F.when(n_tok >= 20, 1.0).when(n_tok >= 5, 0.5).otherwise(0.0)
    punct_ok = F.when(F.coalesce(punct_ratio(text), F.lit(0.0)) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(F.coalesce(stopword_ratio(text), F.lit(0.0)) >= 0.05, 1.0).otherwise(0.0)
    mtl = F.coalesce(mean_token_len(text), F.lit(0.0))
    mtl_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), 1.0).otherwise(0.0)
    return (length_ok * 0.4 + punct_ok * 0.2 + stop_ok * 0.2 + mtl_ok * 0.2)


def lang_id(text: Column) -> Column:
    """Marker-word argmax language ID; 'und' when no marker hits.

    Deterministic tiebreak: highest hit count wins, then lexicographic
    language code.
    """
    toks = ws_tokens(F.lower(text))

    def _hits(markers: tuple[str, ...]) -> Column:
        ms = list(markers)
        # NOTE: no default-arg lambdas here — PySpark treats a 2-param
        # lambda as (element, index) and silently changes semantics.
        return F.size(F.filter(toks, lambda t: t.isin(ms)))

    pairs = [
        F.struct(_hits(markers).alias("hits"), F.lit(code).alias("code"))
        for code, markers in sorted(LANG_MARKERS.items())
    ]
    # array_max on structs orders by first field then second; we want max
    # hits with min code, so invert the code ordering via greatest over
    # (hits, negated rank) — simpler: reduce with explicit comparison.
    best = F.aggregate(
        F.array(*pairs[1:]),
        pairs[0],
        lambda acc, x: F.when(
            (x["hits"] > acc["hits"]), x
        ).otherwise(acc),
    )
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace/case-normalized text (F8 normalization + hashing)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles (distinct) for MinHash / Jaccard dedup.

    The token array is BOUND once per row (single-element-array
    transform) before the per-position lambda — inlining the tokenizer
    in the lambda body re-splits the document at every shingle
    position (O(L^2); see word_gram_array)."""
    toks = ws_tokens(F.lower(text))
    if n == 1:
        # for unigrams the shingle set is just the distinct token set
        return F.array_distinct(toks)

    def shingles(t: Column) -> Column:
        count = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
        return F.when(
            count >= n,
            F.array_distinct(
                F.transform(
                    idx, lambda i: F.array_join(F.slice(t, i + 1, n), " ")
                )
            ),
        ).otherwise(
            F.when(count > 0, F.array(F.array_join(t, " "))).otherwise(
                F.array().cast("array<string>")
            )
        )

    return F.transform(F.array(toks), shingles)[0]


def chunk_token_windows(
    df,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    stride: int = 48,
):
    """Split documents into overlapping token-window chunks (the
    training-data prep step before tokenization/packing).

    Sliding-window convention: chunk ``i`` covers whitespace tokens
    ``[i*stride, i*stride + chunk_tokens)``; the last chunk may be
    short; a doc with <= chunk_tokens tokens yields exactly one chunk;
    empty docs yield none. All arithmetic is integral so an independent
    engine reproduces the chunking bit-for-bit.

    Scale shape: pure per-row codegen (split/sequence/explode/slice) —
    no shuffle at all; chunking 100 TB is embarrassingly parallel and
    this plan keeps it that way.
    """
    from pyspark.sql import functions as F

    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    num_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= chunk_tokens, F.lit(1))
        .otherwise(
            (
                F.lit(1)
                + F.floor((n - chunk_tokens + stride - 1) / stride)
            ).cast("int")
        )
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_tokens
    )
    return (
        df.select(
            F.col(id_col), toks.alias("__toks"), num_chunks.alias("__nc")
        )
        .filter(F.col("__nc") > 0)
        .select(
            id_col,
            "__toks",
            F.explode(
                F.sequence(F.lit(0), F.col("__nc") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )


def pack_token_bins(
    chunks,
    group_cols,
    order_cols,
    token_col: str = "n_tokens",
    budget: int = 512,
):
    """Assign ordered chunks to fixed-token-budget bins (sequence
    packing for training batches).

    Start-offset binning: a chunk lands in the bin where its running
    token offset starts (``floor(prev_cum / budget)``). One window per
    pack group — deterministic, shuffle-once, and exactly reproducible
    in plain SQL, unlike stateful greedy first-fit. A bin can overflow
    by at most one chunk's tokens; with budget >> chunk size (the
    training case) that slack is the same order as greedy's own waste.

    Scale note: pack groups are the unit of parallelism. If one group
    dominates (skewed ``source``), salt it — pack per (source,
    pmod(doc_id, shards)) — the semantics stay valid because bins are
    arbitrary containers, not ordered shards.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    order_cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return chunks.withColumn(
        "bin_id", F.floor((cum - F.col(token_col)) / budget).cast("long")
    )


# Per-document gram-frequency statistics as a PURE projection: sort the
# doc's gram array, find run starts, and reduce the runs — no explode,
# no shuffle, whole job is map-side. O(L log L) per doc; assumes docs
# of bounded length (the curation norm — corpus pipelines cap doc size
# long before gram analysis; an explode + hash-aggregate formulation
# remains the right shape only for pathological multi-MB documents).
# Yields struct(n_grams, top: struct(c, l, g) | NULL, rep, maxprod,
# dupchars) where `top` maximizes (count, gram length, gram) — the
# ORDER BY c DESC, l DESC, g DESC total order — `rep` counts instances
# of grams occurring more than once, `maxprod` is max over grams of
# count * len (NULL when no grams), and `dupchars` sums count * len
# over duplicated grams. All engine-portable semantics (array_sort is
# plain string order; run-length arithmetic is exact).
_RUN_STATS_SQL = """
transform(array(array_sort({g})), gs ->
 transform(array(if(size(gs) = 0, CAST(array() AS ARRAY<INT>),
                    filter(sequence(0, size(gs) - 1),
                           i -> if(i = 0, true, gs[i] != gs[i - 1])))), starts ->
  transform(array(transform(starts, (s, j) -> struct(
        (if(j = size(starts) - 1, size(gs), starts[j + 1]) - s) AS c,
        length(gs[s]) AS l,
        gs[s] AS g))), runs ->
    struct(
      size(gs) AS n_grams,
      array_max(runs) AS top,
      aggregate(runs, 0, (acc, r) -> acc + if(r.c > 1, r.c, 0)) AS rep,
      array_max(transform(runs, r -> r.c * r.l)) AS maxprod,
      aggregate(runs, 0,
                (acc, r) -> acc + if(r.c > 1, r.c * r.l, 0)) AS dupchars)
  )[0]
 )[0]
)[0]
"""


def gram_run_stats(gram_col: str) -> Column:
    """Run-length gram statistics over an array<string> column — see
    _RUN_STATS_SQL."""
    return F.expr(_RUN_STATS_SQL.format(g=gram_col))


def word_gram_array(text: Column, n: int) -> Column:
    """All overlapping word n-grams of a text column (non-distinct,
    space-joined; empty array when the doc has fewer than n tokens).

    The token array is BOUND once per row via a single-element-array
    transform before the per-position lambda runs: higher-order
    functions are interpreted, and a lambda body that inlines the
    tokenizer expression re-splits the document at EVERY gram position
    (an O(L^2) blowup measured at ~20x the whole operator's cost).
    """
    toks = ws_tokens(text)

    def grams(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(toks), grams)[0]


def repetition_stats(df, text_col: str, id_col: str, n: int = 2):
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.1 quality heuristics; public recipe): how much of a document is
    the same word n-gram said again and again — the strongest cheap
    signal for boilerplate/spam in training-data curation.

    Returns one row per input doc:
      - n_grams           total (overlapping, non-distinct) word n-grams
      - top_gram_count    occurrences of the most frequent n-gram
      - rep_instance_frac fraction of n-gram instances whose gram occurs
                          more than once (6dp)
      - top_gram_char_frac chars of the top gram * its count / doc chars
                          (6dp) — Gopher's "top n-gram character fraction"
      - repetitive        top_gram_char_frac > 0.20 (the published 2-gram
                          threshold)

    Scale shape: a PURE map-side projection — the doc's gram array is
    sorted and reduced to run-length statistics in one native
    expression (_RUN_STATS_SQL), so the whole operator is zero-shuffle
    zero-explode (formerly one explode + two hash aggregations; the
    map-only form with bound token arrays measured ~6x faster warm at
    sf0.1 — 4.4 s -> 0.76 s — and scales as a pure scan).
    The top gram is the max of (count, length, gram) — the same total
    order as ORDER BY count DESC, length DESC, gram DESC — so the
    result is deterministic and engine-independent; fractions are
    FLOOR-quantized at 6dp (the repo's cross-engine rounding rule).
    """
    q6 = lambda x: F.floor(x * 1000000 + 0.5) / 1000000  # noqa: E731
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__chars"),
        word_gram_array(F.col(text_col), n).alias("__g"),
    ).withColumn("__s", gram_run_stats("__g"))
    s = F.col("__s")
    topchars = s["top"]["c"] * s["top"]["l"]
    return base.select(
        id_col,
        s["n_grams"].cast("long").alias("n_grams"),
        F.coalesce(s["top"]["c"].cast("long"), F.lit(0)).alias(
            "top_gram_count"
        ),
        F.coalesce(
            q6(
                s["rep"].cast("long")
                / F.nullif(s["n_grams"].cast("long"), F.lit(0))
            ),
            F.lit(0.0),
        ).alias("rep_instance_frac"),
        F.coalesce(
            q6(topchars / F.nullif(F.col("__chars"), F.lit(0))),
            F.lit(0.0),
        ).alias("top_gram_char_frac"),
        (
            F.coalesce(
                topchars / F.nullif(F.col("__chars"), F.lit(0)),
                F.lit(0.0),
            )
            > 0.20
        ).alias("repetitive"),
    )


def repetition_battery(df, text_col: str, id_col: str):
    """The full Gopher repetition battery (Rae et al. 2021 §A1.1):
    per-document char-coverage of repeated word n-grams across seven
    gram sizes in ONE pass —

      - top_{2,3,4}gram_char_frac: chars covered by the single most
        char-covering n-gram (max over grams of count * len(gram),
        over doc chars);
      - dup_{5,6,7,8}gram_char_frac: chars covered by ALL duplicated
        n-grams (sum over grams with count > 1 of count * len(gram),
        over doc chars, capped at 1.0 — the standard occurrence-sum
        approximation of Gopher's interval-union definition, which
        over-counts overlapping repeats; documented, deterministic).

    Scale shape: a PURE map-side projection — each gram size's array
    is sorted and reduced to run statistics in one native expression
    (_RUN_STATS_SQL), so the whole battery is zero-shuffle
    zero-explode regardless of how many gram sizes ride along; the
    seven run reductions happen inside one whole-stage-codegen'd
    projection over a single corpus scan. Fractions FLOOR-quantized at
    6dp (cross-engine rule).

    The top_* metrics maximize count * len over grams (the most
    char-covering gram); dup_* sums count * len over duplicated grams.
    """
    ns = (2, 3, 4, 5, 6, 7, 8)
    q6 = lambda x: F.floor(x * 1000000 + 0.5) / 1000000  # noqa: E731
    metric = {
        n: (f"top_{n}gram_char_frac" if n <= 4 else f"dup_{n}gram_char_frac")
        for n in ns
    }
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("__chars"),
        *[word_gram_array(F.col(text_col), n).alias(f"__g{n}") for n in ns],
    ).select(
        F.col(id_col),
        "__chars",
        *[gram_run_stats(f"__g{n}").alias(f"__s{n}") for n in ns],
    )
    chars = F.nullif(F.col("__chars").cast("double"), F.lit(0.0))

    def top_frac(n: int) -> Column:
        s = F.col(f"__s{n}")
        return F.coalesce(
            q6(s["maxprod"].cast("double") / chars), F.lit(0.0)
        )

    def dup_frac(n: int) -> Column:
        s = F.col(f"__s{n}")
        return F.coalesce(
            q6(F.least(F.lit(1.0), s["dupchars"].cast("double") / chars)),
            F.lit(0.0),
        )

    return base.select(
        id_col,
        *[
            (top_frac(n) if n <= 4 else dup_frac(n)).alias(metric[n])
            for n in ns
        ],
    )


def best_fit_pack(
    chunks,
    group_cols,
    order_cols,
    token_col: str = "n_tokens",
    budget: int = 512,
):
    """Best-fit-decreasing sequence packing: within each pack group,
    chunks are processed in (tokens DESC, ``order_cols`` ASC) order
    and each is placed into the FULLEST open bin that still fits
    (ties -> lowest bin id), opening a new bin when none fits — the
    classic BFD rule (<= 11/9 OPT + 1 bins; Johnson 1973), a strictly
    tighter packing than :func:`pack_token_bins`'s start-offset
    binning, which trades slack for a pure-window plan. Bins never
    exceed ``budget`` unless a single chunk alone does (it then sits
    in its own overweight bin).

    Greedy best-fit is inherently SEQUENTIAL state (each placement
    depends on all previous loads), so this is the documented
    Arrow-batched escape hatch: one ``applyInPandas`` per pack group,
    O(n log n) per group via a sorted-loads bisect — the pack group is
    the unit of parallelism exactly as in pack_token_bins (salt skewed
    groups the same way). The decision sequence is deterministic for
    any execution order, and the SAME rule is replayed independently
    by a DuckDB recursive CTE in the differential tests.

    Returns the input plus ``bin_id`` (0-based, dense per group).
    """
    import bisect

    from pyspark.sql.types import LongType, StructField, StructType

    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    order_cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)

    # fresh StructType: StructType.add MUTATES, and chunks.schema is the
    # DataFrame's cached schema object — mutating it corrupts resolution
    out_schema = StructType(
        list(chunks.schema.fields) + [StructField("bin_id", LongType())]
    )

    def _pack(pdf):
        pdf = pdf.sort_values(
            [token_col] + order_cols,
            ascending=[False] + [True] * len(order_cols),
            kind="mergesort",  # stable: deterministic under ties
        )
        loads: list[tuple[int, int]] = []  # sorted (load, bin_id)
        n_bins = 0
        assign = []
        for n in pdf[token_col]:
            n = int(n)
            cap = budget - n
            # rightmost load <= cap = the fullest bin that fits
            i = bisect.bisect_right(loads, (cap, float("inf"))) - 1
            if i >= 0:
                # among equal max loads take the LOWEST bin id
                while i > 0 and loads[i - 1][0] == loads[i][0]:
                    i -= 1
                load, b = loads.pop(i)
                bisect.insort(loads, (load + n, b))
            else:
                b = n_bins
                n_bins += 1
                bisect.insort(loads, (n, b))
            assign.append(b)
        pdf = pdf.copy()
        pdf["bin_id"] = assign
        return pdf

    return chunks.groupBy(*group_cols).applyInPandas(_pack, out_schema)


def winnow_fingerprints(
    text: Column,
    k: int = 4,
    w: int = 5,
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting scheme): hash every
    word k-gram, slide a window of ``w`` consecutive hashes, and keep
    each window's RIGHTMOST minimal hash. The published guarantee:
    any two documents sharing a token substring of length >=
    ``w + k - 1`` share at least one fingerprint — so fingerprint
    equality is a recall-complete candidate filter for substring-level
    duplication at ~1/w the density of all k-gram hashing.

    Pure expressions, no UDF: the (hash, position) pair is packed
    into ONE BIGINT as ``hash52 * 2048 + (2047 - pos)`` so a plain
    ``array_min`` over longs implements rightmost-min exactly (min
    key -> min hash, ties -> max position), and the identical integer
    arithmetic runs in ANSI SQL. 52-bit md5 hashes (the repo's
    content-hash convention) leave 11 bits for position — documents
    beyond 2047 k-grams raise rather than silently mis-rank
    (fingerprint CHUNKS of that size upstream, the scheme is local by
    design).

    Returns a sorted array of DISTINCT packed fingerprints (decode:
    hash = fp DIV 2048, pos = 2047 - fp % 2048). Empty array when the
    document has fewer than ``k + w - 1`` tokens (no full window).

    Plan note: the k-gram key array is BOUND to a lambda variable (the
    single-element-transform trick, twice) before the sliding-min pass
    reads it. Inlining it instead makes every window's ``slice`` re-run
    all ``n_grams`` md5 evaluations — O(n_wins * n_grams) hashing per
    document, measured 26x slower at sf0.1 (20.4 s -> 0.8 s warm).
    """
    toks = ws_tokens(text)

    def keys_of(t: Column) -> Column:
        n_grams = F.size(t) - (k - 1)
        gram = lambda i: F.array_join(F.slice(t, i + 1, k), " ")  # noqa: E731
        key = lambda i: (  # noqa: E731
            F.conv(F.substring(F.md5(gram(i)), 1, 13), 16, 10).cast("long")
            * 2048
            + (2047 - i)
        )
        return F.when(
            n_grams >= 1,
            F.transform(F.sequence(F.lit(0), n_grams - 1), key),
        ).otherwise(F.array().cast("array<bigint>"))

    def packed(keys: Column) -> Column:
        n_grams = F.size(keys)
        n_wins = n_grams - (w - 1)
        fps = F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda j: F.array_min(F.slice(keys, j + 1, w)),
        )
        return F.when(
            n_grams > 2047,
            F.raise_error(
                F.lit(
                    "winnow_fingerprints: document exceeds 2047 k-grams; "
                    "chunk upstream (position field is 11 bits)"
                )
            ).cast("array<bigint>"),
        ).otherwise(
            F.when(n_wins >= 1, F.array_sort(F.array_distinct(fps)))
            .otherwise(F.array().cast("array<bigint>"))
        )

    keys_arr = F.transform(F.array(toks), keys_of)[0]
    return F.transform(F.array(keys_arr), packed)[0]


def cdc_chunks(
    text: Column,
    window: int = 8,
    divisor: int = 8,
) -> Column:
    """Content-defined chunking over word tokens (the CDC family of
    Muthitacharoen et al. 2001 / FastCDC, Xia et al. 2016, re-expressed
    for token streams): cut AFTER token ``i`` whenever the rolling
    window hash — the SUM of the 52-bit md5 gear values of the last
    ``window`` tokens — is divisible by ``divisor`` (expected chunk
    length ~``divisor`` tokens, minimum first-cut position ``window-1``
    since a full window is required; the last token always closes the
    final chunk). Because each boundary depends ONLY on the local
    window content, an insertion or deletion re-chunks just its
    neighborhood and every chunk fully inside unedited regions is
    reproduced byte-for-byte — the property that makes chunk-hash
    grouping find partially-overlapping documents that whole-document
    hashing misses.

    Two deliberate deviations from FastCDC, both for cross-engine
    exactness: the gear mix is an order-free window SUM (no positional
    shift — exact BIGINT arithmetic that ANSI SQL replays verbatim;
    sum < 2^52 * window so it never overflows), and there is no
    min/max chunk clamp (the clamp makes each cut depend on the
    PREVIOUS cut — inherently sequential state, the wrong trade for a
    zero-exchange per-document plan).

    Pure expressions, no UDF, no shuffle: tokens, gear values, and cut
    positions are each BOUND to a lambda variable (the winnowing
    lesson — an inlined computed array re-evaluates per element).

    Returns an array of ``struct<chunk_seq int, chunk_hash bigint,
    n_tokens int>`` where ``chunk_hash`` is the repo's 52-bit md5 of
    the space-joined chunk tokens; empty array for an empty document.
    """
    toks = ws_tokens(text)
    empty = F.array().cast(
        "array<struct<chunk_seq:int,chunk_hash:bigint,n_tokens:int>>"
    )
    hash52 = lambda s: (  # noqa: E731
        F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")
    )

    def with_t(t: Column) -> Column:
        gears = F.transform(t, hash52)

        def with_g(g: Column) -> Column:
            n = F.size(g)
            # window sum ending at 0-based position i (slice is 1-based)
            h = lambda i: F.aggregate(  # noqa: E731
                F.slice(g, i - window + 2, window),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            interior = F.when(
                n - 2 >= window - 1,
                F.filter(
                    F.sequence(F.lit(window - 1), n - 2),
                    lambda i: h(i) % divisor == 0,
                ),
            ).otherwise(F.array().cast("array<int>"))
            cuts = F.concat(interior, F.array(n - 1))

            def with_c(cuts_arr: Column) -> Column:
                def chunk(c: Column, idx: Column) -> Column:
                    start = F.when(idx == 0, F.lit(0)).otherwise(
                        F.element_at(cuts_arr, idx) + 1
                    )
                    n_tok = c - start + 1
                    return F.struct(
                        idx.cast("int").alias("chunk_seq"),
                        hash52(
                            F.array_join(F.slice(t, start + 1, n_tok), " ")
                        ).alias("chunk_hash"),
                        n_tok.cast("int").alias("n_tokens"),
                    )

                return F.transform(cuts_arr, chunk)

            return F.when(
                n >= 1, F.transform(F.array(cuts), with_c)[0]
            ).otherwise(empty)

        return F.transform(F.array(gears), with_g)[0]

    return F.transform(F.array(toks), with_t)[0]


def char_entropy(text: Column) -> Column:
    """Character-level Shannon entropy in NATS (natural log)
    of a document — the classic gibberish/compressibility signal: near
    0 for degenerate repetition ('aaaa'), high for uniform noise,
    mid-range for natural language. Empty text is 0.0 by convention.

    Cross-engine exactness: the fold runs over the SORTED distinct
    character array, so both engines execute the identical IEEE
    sum order; ln is the one libm call (rounded at 6dp, the
    unigram_logprob precedent). The char array is BOUND once via the
    single-element-array transform (the word_shingles lesson —
    inlining the split in the lambda body re-splits the document per
    distinct character), and each probability is computed once in an
    inner transform before the fold (HOF lambdas are interpreted; a
    p*ln(p) body that inlines the count filter runs it twice).

    Per-row O(k * n) with k = distinct chars (bounded ~100 for real
    text) — a pure map-side signal, no shuffle at any corpus size.
    """
    chars = F.split(text, "")

    def body(ch: Column) -> Column:
        n = F.size(ch).cast("double")
        cs = F.array_sort(F.array_distinct(ch))
        ps = F.transform(
            cs,
            lambda c: F.size(F.filter(ch, lambda x: x == c)).cast(
                "double"
            )
            / n,
        )
        return F.aggregate(
            ps, F.lit(0.0), lambda acc, p: acc - p * F.log(p)
        )

    ent = F.transform(F.array(chars), body)[0]
    return F.when(F.length(text) > 0, F.round(ent, 6)).otherwise(
        F.lit(0.0)
    )
