"""Entity-resolution operators (SURVEY.md §2.3 J3-J5, J9-J10; §7 M5).

The reference resolves institution identity with a multi-pass pandas
loop: normalized-name equi-join, alias-column retry, state tie-break on
ambiguity (master_acreage_merge.py:49-112), plus README-specified exact
and fuzzy EIN-assignment joins (README.md:41-47). Here each pass is a
join over a computed key, chained with anti-join carry-forward, and the
fuzzy path gets two forms:

- blocked levenshtein join — exact, oracle-checkable, right when a
  natural blocking key (state/nation, name prefix) bounds the
  candidate space;
- char-ngram MinHash-LSH join — the 100 TB path: no cross join ever
  materializes; candidates come from shared LSH buckets and are then
  verified with levenshtein.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hummingbirddatapipeline_spark.functions.scalar import normalize_name


def best_match_per_source(
    matched: DataFrame,
    source_key: str,
    prefer_equal: tuple[str, str] | None,
    target_order: str,
) -> DataFrame:
    """J5 — collapse multiple target candidates per source row: prefer a
    secondary-key match (e.g. same state), then lowest target key.

    Parity: master_acreage_merge.py:92-99 (prefer matching state, else
    first candidate).
    """
    order = []
    if prefer_equal is not None:
        a, b = prefer_equal
        order.append(
            F.when(F.col(a) == F.col(b), 1).otherwise(0).desc()
        )
    order.append(F.col(target_order).asc())
    w = Window.partitionBy(source_key).orderBy(*order)
    return (
        matched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def multipass_name_match(
    source: DataFrame,
    target: DataFrame,
    source_name: str,
    target_name: str,
    source_key: str,
    target_key: str,
    alias_cols: tuple[str, ...] = (),
    prefix_len: int | None = None,
    source_secondary: str | None = None,
    target_secondary: str | None = None,
) -> DataFrame:
    """J3+J4+J5 — resolve each source row to at most one target row.

    Pass 1: normalized-name equality (J3).
    Pass 2: unmatched rows retry against the target's alias columns,
            melted to a long alias table (J4).
    Pass 3: unmatched rows retry on a normalized-name prefix of
            ``prefix_len`` characters; ambiguity resolved by preferring
            a secondary-key match then the lowest target key (J5).

    Returns source rows + ``matched_<target_key>`` + ``match_pass``
    (1/2/3, NULL when unresolved). Each pass is an equi-join on a
    computed key — broadcast or shuffle-hash as the planner chooses;
    no pass ever cross-joins.
    """
    src = source.withColumn("__src_norm", normalize_name(F.col(source_name)))
    tgt = target.select(
        F.col(target_key).alias("__tgt_key"),
        normalize_name(F.col(target_name)).alias("__tgt_norm"),
        *(
            [F.col(target_secondary).alias("__tgt_sec")]
            if target_secondary is not None
            else []
        ),
        *[normalize_name(F.col(c)).alias(f"__alias_{c}") for c in alias_cols],
    )

    # pass 1: exact normalized name
    t1 = tgt.select("__tgt_key", "__tgt_norm").dropDuplicates(["__tgt_norm"])
    p1 = src.join(
        t1, src["__src_norm"] == t1["__tgt_norm"], "left"
    ).select(src["*"], t1["__tgt_key"].alias("__m1"))

    # pass 2: alias table (melted long) for rows pass 1 missed
    if alias_cols:
        alias_long = tgt.select(
            "__tgt_key",
            F.explode(
                F.array(*[F.col(f"__alias_{c}") for c in alias_cols])
            ).alias("__alias_norm"),
        ).filter(F.col("__alias_norm").isNotNull() & (F.col("__alias_norm") != ""))
        alias_long = alias_long.dropDuplicates(["__alias_norm"])
        p2 = p1.join(
            alias_long,
            (p1["__m1"].isNull()) & (p1["__src_norm"] == alias_long["__alias_norm"]),
            "left",
        ).select(p1["*"], F.col("__tgt_key").alias("__m2"))
    else:
        p2 = p1.withColumn("__m2", F.lit(None).cast(p1.schema["__m1"].dataType))

    # pass 3: prefix match with J5 tie-break
    if prefix_len is not None:
        cand = tgt.select(
            "__tgt_key",
            F.substring("__tgt_norm", 1, prefix_len).alias("__tgt_pfx"),
            *(["__tgt_sec"] if target_secondary is not None else []),
        )
        unres = p2.filter(F.col("__m1").isNull() & F.col("__m2").isNull())
        hit = unres.join(
            cand,
            F.substring(unres["__src_norm"], 1, prefix_len) == cand["__tgt_pfx"],
        )
        hit = best_match_per_source(
            hit,
            source_key,
            (source_secondary, "__tgt_sec")
            if source_secondary is not None and target_secondary is not None
            else None,
            "__tgt_key",
        ).select(F.col(source_key).alias("__p3_key"), F.col("__tgt_key").alias("__m3"))
        p3 = p2.join(hit, p2[source_key] == hit["__p3_key"], "left").drop("__p3_key")
    else:
        p3 = p2.withColumn("__m3", F.lit(None).cast(p2.schema["__m1"].dataType))

    out = p3.withColumn(
        f"matched_{target_key}", F.coalesce("__m1", "__m2", "__m3")
    ).withColumn(
        "match_pass",
        F.when(F.col("__m1").isNotNull(), 1)
        .when(F.col("__m2").isNotNull(), 2)
        .when(F.col("__m3").isNotNull(), 3),
    )
    return out.drop("__m1", "__m2", "__m3", "__src_norm")


def fuzzy_join_levenshtein(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    left_key: str,
    right_key: str,
    block_left: str,
    block_right: str,
    max_distance: int = 2,
) -> DataFrame:
    """J10 (exact form) — fuzzy name join with a blocking key.

    Candidates = equi-join on the block column (never a cross join);
    match = levenshtein(normalized names) <= max_distance; best match
    per left row by (distance, right key). Right when block cardinality
    bounds group size (state, nation, zip prefix).
    """
    l = left.withColumn("__l_norm", normalize_name(F.col(left_name)))
    r = right.select(
        F.col(right_key).alias("__r_key"),
        F.col(block_right).alias("__r_block"),
        normalize_name(F.col(right_name)).alias("__r_norm"),
    )
    cand = l.join(r, l[block_left] == r["__r_block"])
    cand = cand.withColumn(
        "lev_distance", F.levenshtein(F.col("__l_norm"), F.col("__r_norm"))
    ).filter(F.col("lev_distance") <= max_distance)
    w = Window.partitionBy(left_key).orderBy(
        F.col("lev_distance").asc(), F.col("__r_key").asc()
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            left["*"],
            F.col("__r_key").alias(f"matched_{right_key}"),
            "lev_distance",
        )
    )


def _char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a (normalized) string, padded with
    one leading/trailing space so short strings still produce grams.

    The padded string is BOUND once per row (single-element-array
    transform): HOF lambda bodies are interpreted per element, so an
    inlined concat would re-build the string at every gram position
    (the repo-wide binding rule; see PLANS.md)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))

    def grams(p: Column) -> Column:
        idx = F.sequence(
            F.lit(1), F.greatest(F.length(p) - (n - 1), F.lit(1))
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.substr(p, i, F.lit(n)))
        )

    return F.transform(F.array(padded), grams)[0]


def fuzzy_join_lsh(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    left_key: str,
    right_key: str,
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 3,
    max_distance: int = 2,
    max_bucket: int = 2000,
) -> DataFrame:
    """J10 (scale form) — MinHash-LSH blocked fuzzy join, no natural
    blocking key required and no cross join at any scale.

    Char-``ngram`` shingles of each normalized name -> minhash
    signature (explode + codegen'd min aggregates, same shape as
    operators.dedup) -> banded buckets -> left x right pairs within a
    bucket -> levenshtein verify -> best match per left row.

    ``bands`` with ``num_hashes/bands`` rows per band at 16/8 keeps
    recall high for edit-distance-2 typos on short strings (high
    Jaccard overlap of char trigrams).
    """
    lt = left.select(
        F.col(left_key).alias("__id"),
        normalize_name(F.col(left_name)).alias("__norm"),
        F.lit("L").alias("__side"),
    )
    rt = right.select(
        F.col(right_key).alias("__id"),
        normalize_name(F.col(right_name)).alias("__norm"),
        F.lit("R").alias("__side"),
    )
    both = lt.unionByName(rt)
    tok = both.select(
        "__id", "__side", F.explode(_char_ngrams(F.col("__norm"), ngram)).alias("__s")
    )
    hashed = tok.select("__id", "__side", F.xxhash64("__s").alias("__h"))
    # SQL text, as in dedup.minhash_signatures: one JVM call per slot
    sigs = hashed.groupBy("__id", "__side").agg(
        *[F.expr(f"min(xxhash64(__h, {i})) AS __m{i}") for i in range(num_hashes)]
    )
    rows_per_band = max(1, num_hashes // bands)
    banded = sigs.select(
        "__id",
        "__side",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.col(f"__m{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    ).alias("__bucket")
                    for b in range(bands)
                ]
            )
        ).alias("__bucket"),
    )
    buckets = (
        banded.groupBy("__bucket")
        .agg(
            F.collect_list(
                F.when(F.col("__side") == "L", F.col("__id"))
            ).alias("ls"),
            F.collect_list(
                F.when(F.col("__side") == "R", F.col("__id"))
            ).alias("rs"),
        )
        .filter(
            (F.size("ls") >= 1)
            & (F.size("rs") >= 1)
            & ((F.size("ls") + F.size("rs")) <= max_bucket)
        )
    )
    pairs = (
        buckets.select(
            F.explode("ls").alias("__l_id"), F.col("rs")
        )
        .select("__l_id", F.explode("rs").alias("__r_id"))
        .distinct()
    )
    l_names = lt.select(F.col("__id").alias("__l_id"), F.col("__norm").alias("__l_norm"))
    r_names = rt.select(F.col("__id").alias("__r_id"), F.col("__norm").alias("__r_norm"))
    verified = (
        pairs.join(l_names, "__l_id")
        .join(r_names, "__r_id")
        .withColumn("lev_distance", F.levenshtein("__l_norm", "__r_norm"))
        .filter(F.col("lev_distance") <= max_distance)
    )
    w = Window.partitionBy("__l_id").orderBy(
        F.col("lev_distance").asc(), F.col("__r_id").asc()
    )
    return (
        verified.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__l_id").alias(left_key),
            F.col("__r_id").alias(f"matched_{right_key}"),
            "lev_distance",
        )
    )


def fellegi_sunter_scores(
    pairs: DataFrame,
    target: DataFrame,
    fields: list[tuple[str, str, str, float]],
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fellegi–Sunter match-weight scoring (Fellegi & Sunter 1969, "A
    Theory for Record Linkage", JASA 64) over a candidate-pair frame —
    the probabilistic layer the multipass/fuzzy joins above feed: each
    comparison field contributes log2(m/u) when the pair AGREES on it
    and log2((1-m)/(1-u)) when it disagrees; the pair's score is the
    sum, and thresholding the score gives the match / clerical-review
    / non-match bands of the original decision rule.

    ``fields`` is a sequence of (pair_col_a, pair_col_b, target_col,
    m): ``m`` is the analyst-supplied reliability P(agree | true
    match) per field, and ``u`` — P(agree | non-match) — is estimated
    from the TARGET population by the standard frequency method:
    u = P(two random records agree) = sum_v (n_v / N)^2
      = (sum_v n_v^2) / N^2,
    an EXACT integer ratio (sum of squared group counts over squared
    total), so both engines derive identical u before the one log2
    per field. A NULL on either side of a field contributes weight 0
    (the missing-data convention). All weights and the score round to
    6dp (the repo's cross-engine float rule).

    Returns ``pairs`` + per-field ``agree_<target_col>`` booleans +
    ``score``.

    Scale shape: one skinny groupBy per field over the target column
    (map-side combined, distinct-value-sized) folded into a SINGLE
    broadcast row of (n2_f, n) integers; scoring is then a pure
    projection over the pair frame — no joins, no shuffles beyond
    whatever produced the candidate pairs. Candidate generation stays
    the blocking/LSH operators' job; at 100 TB this layer adds one
    map pass.
    """
    if not fields:
        raise ValueError("fellegi_sunter_scores: fields must be non-empty")
    tcols = [t for _, _, t, _ in fields]
    if len(set(tcols)) != len(tcols):
        dupes = sorted({t for t in tcols if tcols.count(t) > 1})
        raise ValueError(
            "fellegi_sunter_scores: duplicate target columns in fields "
            f"{dupes}; each target field may appear once — its "
            "__n2_/__n_ stat columns would otherwise be ambiguous"
        )
    stats = None
    for _, _, tcol, _ in fields:
        per = (
            target.groupBy(tcol)
            .agg(F.count("*").alias("__c"))
            .agg(
                F.sum(F.col("__c") * F.col("__c")).alias(f"__n2_{tcol}"),
                F.sum("__c").alias(f"__n_{tcol}"),
            )
        )
        stats = per if stats is None else stats.crossJoin(per)
    # ONE row of integer u-statistics — checkpoint it so repeated
    # executions broadcast the row instead of re-running one target
    # scan + aggregate PER FIELD (guide §1.2; SQL-tab audit showed the
    # per-field subtrees re-inlined on every pass). Bounded model
    # state: 2 BIGINTs per field.
    stats = stats.localCheckpoint(eager=False)
    out = pairs.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for a_col, b_col, tcol, m in fields:
        if not 0.0 < m < 1.0:
            raise ValueError(f"m for {tcol} must be in (0, 1), got {m}")
        u = (
            F.col(f"__n2_{tcol}").cast("double")
            / (F.col(f"__n_{tcol}").cast("double") * F.col(f"__n_{tcol}").cast("double"))
        )
        agree = F.col(a_col).eqNullSafe(F.col(b_col)) & F.col(a_col).isNotNull()
        both = F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
        # u == 1 (single-valued target field) makes the disagreement
        # weight log2((1-m)/(1-u)) a division by zero, which Spark
        # would silently NULL through the whole score. assert_true is
        # folded into the disagreement branch only (CaseWhen branches
        # evaluate lazily), so the guard costs nothing on the green
        # path, adds no extra target scan, and fires a NAMED runtime
        # error exactly when the undefined weight would be emitted.
        # ADVICE r14: with an EMPTY target population both stat sums
        # are NULL, so u = NULL/NULL = NULL and `u < 1` is NULL —
        # assert_true fires on NULL too, so the one condition covers
        # both undefined-u causes; the message must name both (the
        # old "single-valued" text misdiagnosed the empty case).
        u_guard = F.assert_true(
            u < F.lit(1.0),
            F.lit(
                f"fellegi_sunter_scores: u-statistic for target field "
                f"{tcol} is undefined — the target population is "
                "empty (u is NULL) or the field is single-valued in "
                "it (u == 1, disagreement weight log2((1-m)/(1-u)) "
                "divides by zero); score against a non-empty target "
                "with >1 distinct value or drop the field"
            ),
        )
        # The agree weight log2(m/u) is defined at u == 1 (constant
        # field, weight log2(m)) but NOT at u NULL (empty target),
        # where it would silently NULL the whole score — guard that
        # branch on definedness only.
        u_defined_guard = F.assert_true(
            u.isNotNull(),
            F.lit(
                f"fellegi_sunter_scores: target population is empty — "
                f"u-statistic for field {tcol} is undefined; score "
                "against a non-empty target"
            ),
        )
        # The division itself is gated on u < 1 (CaseWhen branches are
        # lazy) so under ANSI mode the raw DIVIDE_BY_ZERO never
        # pre-empts the named assert message.
        disagree_w = F.round(
            F.log2(
                F.when(u < F.lit(1.0), F.lit(1.0 - m) / (F.lit(1.0) - u))
            ),
            6,
        )
        # Guard FIRST in the addition: binary-arithmetic codegen
        # short-circuits when the LEFT operand is null, so
        # `disagree_w + guard` would skip the guard exactly when
        # disagree_w nulls out (u == 1). coalesce(guard, 0.0) is
        # non-null on the green path, so the right side still
        # evaluates.
        w = (
            F.when(~both, F.lit(0.0))
            .when(
                agree,
                F.coalesce(u_defined_guard.cast("double"), F.lit(0.0))
                + F.round(F.log2(F.lit(m) / u), 6),
            )
            .otherwise(
                F.coalesce(u_guard.cast("double"), F.lit(0.0)) + disagree_w
            )
        )
        out = out.withColumn(f"agree_{tcol}", both & agree)
        score = score + w
    drop = [c for c in out.columns if c.startswith("__n")]
    return out.withColumn("score", F.round(score, 6)).drop(*drop)
