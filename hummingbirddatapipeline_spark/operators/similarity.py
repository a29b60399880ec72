"""Similarity search over embedding columns (north-star extension).

Two paths:

- ``cosine_topk``: brute-force — broadcast the query set, score every
  (query, item) pair with native expressions, window top-k. Exact;
  O(n·q); the right baseline when q is small, and the verify stage for
  approximate paths.
- ``lsh_topk``: random-hyperplane LSH — items and queries are bucketed
  by sign-bit signatures; only same-bucket pairs are scored. Sub-linear
  candidate generation for 100 TB-scale corpora; probe multiple bands
  to trade recall vs cost. Hyperplanes are generated deterministically
  from a seed; signatures are one vectorized Arrow-batched matmul
  (see ``lsh_signature``), and the plane matrix rides inside the UDF
  closure — never shuffled.
"""

from __future__ import annotations

import math
import random
import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hummingbirddatapipeline_spark.functions.vector import cosine, dot
from hummingbirddatapipeline_spark.operators.setsim import band_explode
from hummingbirddatapipeline_spark.tables import cpu_bound


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, vec_id, sim, rank); ties broken by item id so
    results are deterministic. Similarity rounded to 6dp before ranking
    for cross-engine stability.
    """
    q = F.broadcast(queries.select(query_id, query_vec))
    pairs = items.select(item_id, item_vec).crossJoin(q)
    if exclude_self:
        pairs = pairs.filter(F.col(item_id) != F.col(query_id))
    scored = pairs.select(
        query_id,
        item_id,
        F.round(cosine(F.col(item_vec), F.col(query_vec)), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(item_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_signature(
    vec_col,
    planes: list[list[float]] | None = None,
    *,
    n_planes: int | None = None,
    seed: int | None = None,
):
    """Sign-bit signature (packed long) for a vector column against K
    seeded hyperplanes, as one Arrow-batched numpy matmul per batch:
    (batch x dim) @ (dim x K) -> sign bits -> packed int64.

    Pass either an explicit ``planes`` matrix, or ``n_planes`` +
    ``seed`` to have each executor derive the (deterministic, seeded)
    matrix from the dimension of its first Arrow batch — no
    driver-side ``.first()`` probe, no extra Spark job, and empty
    input yields an empty frame instead of a probe crash. The lazy
    build costs one K x D gauss fill per executor, cached by dim.

    The expression-tree alternative (K literal-array dot products)
    costs K*D plan nodes to construct and K interpreted
    higher-order-lambda array passes per row to execute — measured
    ~2.5 s of plan build plus seconds of interpretation at K=48,
    D=256. A vectorized pandas UDF is the documented escape hatch for
    exactly this shape of dense linear algebra; the seeded plane
    matrix keeps the signature deterministic, and downstream recall
    contracts (vs the exact brute path) gate it at every SF.
    """
    if planes is not None:
        P0 = np.asarray(planes, dtype=np.float64)  # (K, D)
        k = P0.shape[0]
    else:
        if n_planes is None or seed is None:
            raise ValueError("pass planes, or n_planes and seed")
        P0 = None
        k = n_planes
    weights = np.uint64(1) << np.arange(k, dtype=np.uint64)
    plane_cache: dict[int, np.ndarray] = {}

    @F.pandas_udf("long")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.vstack(v.to_numpy())  # (B, D)
        P = P0
        if P is None:
            P = plane_cache.get(V.shape[1])
            if P is None:
                P = np.asarray(
                    _hyperplanes(V.shape[1], k, seed), dtype=np.float64
                )
                plane_cache[V.shape[1]] = P
        bits = (V @ P.T) >= 0.0  # (B, K)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        # view, not astype: bit-pattern-preserving for K=64 packings
        return pd.Series(packed.view(np.int64))

    return _sig(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def lsh_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int | None = None,
    k: int = 10,
    n_planes: int = 12,
    bands: int = 3,
    seed: int = 42,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures split into
    ``bands``; pairs sharing any band bucket are scored exactly.

    Recall improves with more bands (more probes); cost scales with
    bucket collision rate instead of corpus size. ``dim`` is optional:
    when omitted, executors derive the seeded plane matrix from their
    first Arrow batch (identical on both sides — same seed, same dim).
    """
    per_band = max(1, n_planes // bands)
    bi = _band_bucket_frame(items, item_id, item_vec, per_band, bands, seed, dim)
    bq = _band_bucket_frame(queries, query_id, query_vec, per_band, bands, seed, dim)
    cands = (
        bi.join(bq, ["band", "bucket"])
        .filter(F.col(item_id) != F.col(query_id))
        .select(item_id, query_id)
        .distinct()
    )
    scored = (
        cands.join(items.select(item_id, item_vec), item_id)
        .join(queries.select(query_id, query_vec), query_id)
        .select(
            query_id,
            item_id,
            F.round(cosine(F.col(item_vec), F.col(query_vec)), 6).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(item_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _tune_banding(
    threshold: float, target_miss: float = 1e-6, n_items: int | None = None
) -> tuple[int, int]:
    """Pick (planes_per_band, bands) for sign-LSH at a cosine threshold.

    ``p = acos(t)/pi`` is the chance one random hyperplane separates a
    pair at exactly the threshold angle; a band of ``r`` planes matches
    with ``(1-p)^r`` and ``b`` bands miss with ``(1-(1-p)^r)^b``. Choose
    the largest ``r`` (most selective buckets => fewest candidates)
    whose required ``b`` still fits the packed signature — capped at 63
    bits so every band mask stays a valid positive int64 literal. High
    thresholds (>=0.9, the dedup regime) get selective banding that is
    genuinely sub-quadratic; permissive thresholds degrade gracefully
    toward coarse buckets — still an equi-join plan, never a cartesian.

    ``n_items`` sizes the bucket space to the corpus: with ~n items per
    band the expected bucket load is n/2^r, so r must track log2(n) or
    the self-join goes quadratic no matter how good the miss guarantee
    is. When the n-aware r exceeds what 63 bits allow, the returned
    (r, b) has r*b > 63 and the caller switches from the single packed
    long to one signature long PER BAND (``lsh_band_signatures``) —
    same equi-join plan, unbounded plane budget.
    """
    p = math.acos(min(max(threshold, -1.0), 1.0)) / math.pi

    def bands_for(r: int) -> int | None:
        match = (1.0 - p) ** r
        if not 0.0 < match < 1.0:
            return None
        # log1p keeps precision when match underflows toward 0 at high
        # r on permissive thresholds (log(1-match) would hit log(1)=0)
        return math.ceil(math.log(target_miss) / math.log1p(-match))

    if n_items is not None and n_items > 1:
        # n-aware: bucket space >= corpus size per band (capped at 62
        # bits per band long; b explodes as match^r shrinks, so cap r
        # where b stays sane — <= 64 bands keeps the explode bounded)
        r_target = min(max(math.ceil(math.log2(n_items)), 1), 62)
        r_n = r_target
        while r_n > 1:
            b_n = bands_for(r_n)
            if b_n is not None and b_n <= 64:
                break
            r_n -= 1
        if r_n < r_target:
            # The O(1)-bucket-load promise is hint-degraded: holding the
            # ~1e-6 miss guarantee at this tuning point within the
            # 64-band explode cap forces r below log2(n_items), so
            # expected bucket load grows ~n/2^r instead of staying
            # constant. Callers at mid thresholds should expect
            # super-linear candidate volume (or raise expected_dup_sim /
            # route dense cells through the GEMM path).
            warnings.warn(
                f"n_items={n_items} wants r>={r_target} planes/band but "
                f"the 64-band cap clips r to {r_n} at this tuning point "
                f"— expected bucket load is O(n/2^{r_n}), not O(1)",
                stacklevel=3,
            )
        b_n = bands_for(r_n)
        if b_n is not None and b_n <= 64 and r_n * b_n > 63:
            return r_n, b_n
        # else: the 63-bit scan below already reaches the n-aware r

    # Scan r from the full bit budget down: the tuner must return the
    # MOST selective configuration the packed int64 signature allows,
    # because bucket count per band is 2^r while occupancy grows with
    # corpus size — an under-selective r turns the bucket self-join
    # quadratic long before the verify stage can help (measured on the
    # sf1 receipts: 8 planes/band over 40k vectors = 1,250 fixed
    # buckets = 301x candidates for 10x vectors; 12 planes/band cuts
    # candidate volume 16x at the same ~1e-6 miss guarantee). Only
    # tuning points >= ~0.9987 are affected: below that no r > 8 fits
    # the 63-bit budget anyway, so mid/low-threshold plans are
    # byte-identical to the old tuner's.
    for r in range(63, 0, -1):
        b = bands_for(r)
        if b is not None and r * b <= 63:
            return r, b
    return 1, 63


def lsh_band_signatures(
    vec_col,
    *,
    per_band: int,
    bands: int,
    seed: int,
    planes: list[list[float]] | None = None,
):
    """Per-band sign-bit signatures as ``array<long>`` — the widened
    form of ``lsh_signature`` for configurations whose total plane
    count exceeds one packed int64 (n-aware tuning at large corpora:
    r ~ log2(n) planes/band x b bands). One Arrow-batched matmul per
    batch against all ``per_band * bands`` seeded hyperplanes, then
    each band's bits pack into its OWN int64 (element i = band i's
    bucket), so the downstream explode reads ``element_at(sig, i+1)``
    instead of masking one long. Same determinism contract as
    ``lsh_signature`` (seeded planes, dim derived from the first Arrow
    batch executor-side)."""
    if per_band < 1 or per_band > 62:
        raise ValueError("per_band must be in 1..62")
    total = per_band * bands
    if planes is not None:
        P0 = np.asarray(planes, dtype=np.float64)  # (total, D)
        if P0.shape[0] != total:
            raise ValueError("planes rows must equal per_band * bands")
    else:
        if seed is None:
            raise ValueError("pass planes, or seed")
        P0 = None
    weights = np.uint64(1) << np.arange(per_band, dtype=np.uint64)
    plane_cache: dict[int, np.ndarray] = {}

    @F.pandas_udf("array<long>")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy())  # (B, D)
        P = P0
        if P is None:
            P = plane_cache.get(V.shape[1])
            if P is None:
                P = np.asarray(
                    _hyperplanes(V.shape[1], total, seed), dtype=np.float64
                )
                plane_cache[V.shape[1]] = P
        bits = (V @ P.T) >= 0.0  # (B, total)
        # (B, bands, per_band) -> per-band packed longs (B, bands)
        packed = (
            bits.reshape(len(V), bands, per_band).astype(np.uint64) * weights
        ).sum(axis=2)
        return pd.Series(list(packed.view(np.int64)))

    return _sig(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def _band_bucket_frame(
    items: DataFrame,
    item_id: str,
    item_vec: str,
    per_band: int,
    n_bands: int,
    seed: int,
    dim: int | None = None,
) -> DataFrame:
    """Skinny (id, band, bucket) frame for sign-LSH banding — ids only,
    so the wide embedding never rides the band explode or the bucket
    shuffle. Picks the packed single-long signature when
    per_band * n_bands fits 63 bits, else one long per band
    (``lsh_band_signatures``, the widened n-aware regime)."""
    total_planes = per_band * n_bands
    planes = _hyperplanes(dim, total_planes, seed) if dim is not None else None
    if total_planes <= 63:
        masks = [
            ((1 << per_band) - 1) << (i * per_band) for i in range(n_bands)
        ]
        sig = lsh_signature(item_vec, planes, n_planes=total_planes, seed=seed)
        keys = [f"__sig & CAST({m} AS BIGINT)" for m in masks]
    else:
        # widened path: one signature long PER BAND (n-aware tuning at
        # corpora past the single-long budget); bucket i = element i
        sig = lsh_band_signatures(
            item_vec, per_band=per_band, bands=n_bands, seed=seed,
            planes=planes,
        )
        keys = [f"element_at(__sig, {i + 1})" for i in range(n_bands)]
    return band_explode(
        items.select(item_id, item_vec).withColumn("__sig", sig), item_id, keys
    )


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float = 0.95,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    brute: bool = False,
    dim: int | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    expected_dup_sim: float | None = None,
    n_items: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t).

    Default path is LSH-banded candidate generation feeding the exact
    cosine-threshold verify: sign-bit signatures (one packed long), one
    explode per band, a self equi-join on (band, bucket), candidate
    dedup, then the same ROUND(cosine,6) >= t verify as the brute path
    — so the result set equals brute force whenever banding recall
    covers every true pair (parameters are tuned for ~1e-6 worst-pair
    miss at the stated threshold; the seeded planes make the plan
    deterministic). ``brute=True`` is the explicit small-data escape
    hatch: exact all-pairs, O(n^2), never the default.

    ``expected_dup_sim`` shifts the tuning point: when the TRUE
    duplicates are known to sit well above the verify threshold (the
    near-exact regime — quantization twins, boilerplate copies,
    re-encodes at cosine >= 0.99), tuning the ~1e-6 miss guarantee at
    that similarity instead of at the worst-case threshold yields far
    more selective bands (e.g. 8 planes/band x 5 bands vs 3 x 14 at
    t=0.9 — ~3.5x fewer candidates) at the cost of weaker recall for
    borderline pairs near the threshold itself — and since the tuner
    scans the FULL 63-bit budget (r12), tuning points >= ~0.9987 now
    land on wider bands than before (12x5 where the old scan stopped
    at 8x5), so the borderline penalty grows with selectivity: a
    cosine-0.90 pair's miss probability under a 0.9999 tuning point
    is ~18% at 8 planes/band but ~43% at 12. The ~1e-6 guarantee
    holds AT the tuning point either way; only set expected_dup_sim
    when true duplicates genuinely sit there. The verify filter is
    unchanged, so precision is never affected.

    ``n_items`` (a corpus-size hint; an exact count is unnecessary)
    lets the tuner size the bucket space to the data: r tracks
    log2(n_items) so expected bucket load stays O(1) as the corpus
    grows. When the n-aware configuration exceeds one packed int64
    (r*b > 63) the signature widens to one long per band
    (``lsh_band_signatures``) — identical equi-join plan, unbounded
    plane budget. Without the hint, tuning uses the most selective
    configuration a single packed long allows.

    Scale: the banded plan is shuffle-on-bucket + hash join — no
    CartesianProduct — and at dedup-regime thresholds (>=0.9) candidate
    volume is sub-quadratic in corpus size.
    """
    verify = lambda df: (  # noqa: E731 — shared verify stage, both paths
        df.withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    a = items.select(F.col(item_id).alias("id_a"), F.col(item_vec).alias("va"))
    b = items.select(F.col(item_id).alias("id_b"), F.col(item_vec).alias("vb"))
    if brute:
        return verify(a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")))

    if n_planes is not None and bands is not None:
        # Validate the explicit configuration up front: past one packed
        # int64 the widened path packs each band into its own long,
        # which holds at most 62 sign bits — failing here names the
        # limit instead of surfacing as a ValueError inside the
        # signature UDF builder.
        explicit_per_band = max(1, n_planes // bands)
        # The limit is a property of the WIDENED per-band-long path
        # only: when the whole signature still packs into one int64
        # (per_band * bands <= 63, e.g. bands=1 with 63 planes) the
        # packed path carries it fine and no per-band cap applies.
        if explicit_per_band * bands > 63 and explicit_per_band > 62:
            raise ValueError(
                f"n_planes={n_planes} over bands={bands} gives "
                f"{explicit_per_band} planes per band; the per-band "
                "int64 signature holds at most 62 — pass more bands "
                "or fewer planes"
            )

    if n_planes is None or bands is None:
        per_band, n_bands = _tune_banding(
            threshold if expected_dup_sim is None else expected_dup_sim,
            n_items=n_items,
        )
        if per_band < 3:
            # Selectivity cutoff: at permissive thresholds (~<=0.4) the
            # tuned bands are so coarse (<= 2^per_band buckets/band)
            # that the pre-distinct candidate join can emit MORE volume
            # than the cartesian it replaces (b * n^2 / 2^r rows). The
            # banded plan must never cost more than brute — fall back.
            warnings.warn(
                f"threshold={threshold} tunes to {per_band} planes/band; "
                "banding would out-cost brute force — using exact "
                "all-pairs (pass n_planes/bands explicitly to override)",
                stacklevel=2,
            )
            return verify(a.crossJoin(b).filter(F.col("id_a") < F.col("id_b")))
    else:
        n_bands = bands
        per_band = max(1, n_planes // bands)
    # ids-only banding: the band self-join and candidate dedup move
    # 4-long skinny rows; the wide embeddings attach once per surviving
    # pair at the verify stage (at permissive thresholds the candidate
    # set approaches all-pairs, so keeping vectors out of the bucket
    # shuffle is what bounds the bytes moved).
    banded = _band_bucket_frame(
        items, item_id, item_vec, per_band, n_bands, seed, dim
    )
    left = banded.select("band", "bucket", F.col(item_id).alias("id_a"))
    right = banded.select("band", "bucket", F.col(item_id).alias("id_b"))
    cands = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "va", "id_b", "vb")
    )
    return verify(cands)


def embedding_near_dup_pairs_hybrid(
    items: DataFrame,
    threshold: float = 0.95,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    dim: int | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    expected_dup_sim: float | None = None,
    n_items: int | None = None,
    dense_cutoff: int = 512,
    n_blocks: int = 8,
) -> DataFrame:
    """Banded LSH near-dup pairs with a per-bucket DENSE-REGIME
    auto-switch — the r12 sf5 receipt's answer: on correlated corpora
    (embeddings concentrated in a constant number of modes) the sign
    bits correlate within a mode, effective bucket entropy stays far
    below r bits no matter how many planes index the dense regions,
    and the skinny bucket self-join goes super-linear in exactly those
    buckets. This operator measures per-(band, bucket) occupancy ONCE
    on the materialized skinny banding frame and routes each bucket by
    what the measurement says:

    - occupancy <  ``dense_cutoff``: the normal engine — skinny
      (band, bucket) self-join, candidate dedup, exact cosine verify
      (byte-identical to :func:`embedding_near_dup_pairs`).
    - occupancy >= ``dense_cutoff``: the bucket's members are packed
      per (band, bucket) cell and pairs come from the blocked-GEMM
      tile path (:func:`cosine_pairs_blocked` with the cell as
      ``part_col``) — one numpy normalized matmul per tile at BLAS
      throughput, emitting only pairs >= threshold, instead of
      occupancy^2 candidate rows shuffled through dedup + vector
      attach + per-pair lambda verify.

    The PAIR SET IS IDENTICAL to ``embedding_near_dup_pairs`` with the
    same banding parameters: both engines enumerate exactly the
    within-bucket pairs and apply the same ROUND(cosine, 6) >=
    threshold verify (``cosine_pairs_blocked`` matches F.round's
    half-away-from-zero tie rule), so recall/precision are unchanged —
    only the per-bucket pair engine differs. Pairs surfacing from both
    engines (or several dense cells) collapse in the final dedup.

    At permissive thresholds (tuned per_band < 3 — where banding both
    under-recalls and out-costs brute, the parent's fallback regime)
    the auto-tuned path goes EXACT all-pairs like the parent, but
    through the blocked-GEMM tiles instead of the per-pair lambda
    crossJoin — same result set as ``brute=True``, BLAS constant.
    Explicit n_planes/bands are honored as given (banded semantics,
    including their recall profile).

    Scale shape: one Arrow signature pass + localCheckpoint of the
    skinny (id, band, bucket) frame (8-24 bytes/row — the only
    materialization), one occupancy aggregate (map-side combined), an
    equi-join occupancy attach, then the two engines above; no
    CartesianProduct at any occupancy profile. ``dense_cutoff`` trades
    shuffle volume vs tile work: the self-join engine moves
    ~occupancy^2 skinny rows per bucket while the GEMM engine computes
    occupancy^2 dot products in-core per cell, so the cutoff sits
    where a bucket's candidate volume (cutoff^2 rows) starts to rival
    a tile's in-core flops — O(100)-O(1000) on 64-dim corpora.
    """
    if n_planes is not None and bands is not None:
        per_band = max(1, n_planes // bands)
        n_bands = bands
        # Same widened-path-only cap as embedding_near_dup_pairs: a
        # config that still fits one packed int64 (per_band * bands
        # <= 63) never touches the per-band-long signature.
        if per_band * n_bands > 63 and per_band > 62:
            raise ValueError(
                f"n_planes={n_planes} over bands={bands} gives "
                f"{per_band} planes per band; the per-band int64 "
                "signature holds at most 62 — pass more bands or "
                "fewer planes"
            )
    else:
        per_band, n_bands = _tune_banding(
            threshold if expected_dup_sim is None else expected_dup_sim,
            n_items=n_items,
        )
        if per_band < 3:
            # the parent's selectivity-cutoff regime: banding would
            # out-cost (and under-recall) exact all-pairs — run the
            # exact computation, but at GEMM speed
            warnings.warn(
                f"threshold={threshold} tunes to {per_band} planes/band;"
                " banding would out-cost exact all-pairs — using the"
                " blocked-GEMM all-pairs engine (pass n_planes/bands"
                " explicitly to force banding)",
                stacklevel=2,
            )
            return cosine_pairs_blocked(
                items,
                threshold,
                item_id=item_id,
                item_vec=item_vec,
                n_blocks=n_blocks,
            )
    banded = _band_bucket_frame(
        items, item_id, item_vec, per_band, n_bands, seed, dim
    ).localCheckpoint()
    occ = banded.groupBy("band", "bucket").agg(F.count("*").alias("__occ"))
    tagged = banded.join(occ, ["band", "bucket"])

    # sparse engine: the parent's skinny self-join + exact verify
    sparse = tagged.filter(F.col("__occ") < dense_cutoff)
    a = items.select(F.col(item_id).alias("id_a"), F.col(item_vec).alias("va"))
    b = items.select(F.col(item_id).alias("id_b"), F.col(item_vec).alias("vb"))
    left = sparse.select("band", "bucket", F.col(item_id).alias("id_a"))
    right = sparse.select("band", "bucket", F.col(item_id).alias("id_b"))
    sparse_pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .join(a, "id_a")
        .join(b, "id_b")
        .withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )

    # dense engine: pack per (band, bucket) cell, blocked-GEMM tiles.
    # The cell key is xxhash64(band, bucket): a collision merely merges
    # two cells into one tile group (a superset of pairs enters the
    # exact verify — never a recall loss, only redundant flops at
    # ~2^-64 probability).
    dense_members = (
        tagged.filter(F.col("__occ") >= dense_cutoff)
        .select("band", "bucket", item_id)
        .join(items.select(item_id, item_vec), item_id)
        .withColumn("__cell", F.xxhash64("band", "bucket"))
    )
    dense_pairs = cosine_pairs_blocked(
        dense_members,
        threshold,
        item_id=item_id,
        item_vec=item_vec,
        n_blocks=n_blocks,
        part_col="__cell",
    )
    # ADVICE r13: a pair landing in BOTH a sparse and a dense bucket is
    # verified by two different float paths (Spark higher-order-lambda
    # cosine vs numpy GEMM + copysign floor); a last-ulp sum-order
    # difference at a 5e-7 rounding tie can give the two rows different
    # 6dp sims, and dropDuplicates would keep an arbitrary one.
    # min(sim) is the deterministic tie-break — the emitted sim no
    # longer depends on which engine's row survives — at the same
    # shuffle shape (hash agg with map-side partials).
    return (
        sparse_pairs.unionByName(dense_pairs)
        .groupBy("id_a", "id_b")
        .agg(F.min("sim").alias("sim"))
    )


def cosine_pairs_blocked(
    items: DataFrame,
    threshold: float,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    n_blocks: int = 32,
    part_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked GEMM — the
    dense-regime escape hatch for corpora where candidate pruning
    cannot work (every vector close to every other in hash/posting
    space), so exact all-pairs is the honest cost and the only
    question is the constant factor.

    Distributed tile pattern: rows are hashed into ``n_blocks``
    blocks, each block packs into ONE (ids, matrix) row, and the
    upper-triangular block x block crossJoin fans out
    n_blocks*(n_blocks+1)/2 tiles; each tile is a single numpy
    normalized-matmul in an Arrow ``mapInPandas`` (BLAS throughput,
    ~100x the per-pair higher-order-lambda expression cost that makes
    the naive crossJoin the slow path). Pick ``n_blocks`` so a block
    is ~10^4 rows: tile work is then ~10^8 flops x dim/1000 — bounded
    per task, and the quadratic total spreads over n_blocks^2/2 tasks
    instead of one executor's worth of row pairs. Scales exactly as
    far as any exact all-pairs can (work IS n^2/2 dot products); for
    prunable corpora use the LSH-banded or posting-list paths instead.

    Returns (id_a, id_b, sim) with id_a < id_b and sim = ROUND(cosine,
    6) >= threshold (the repo's cross-engine float rule). Zero-norm
    vectors never emit pairs.

    ``part_col`` restricts pair generation to WITHIN-partition pairs
    (e.g. a quantizer cell id): blocks become (part, blk), the tile
    fan-out is an equi-join on the partition key plus the triangular
    block filter, and cross-partition pairs are never formed — the
    SemDeDup within-cell regime at GEMM speed instead of per-pair
    lambda cost.
    """
    id_type = items.schema[item_id].dataType.simpleString()
    keys = [part_col] if part_col else []
    dense = items.select(
        *keys,
        F.col(item_id).alias("id"),
        F.col(item_vec).cast("array<double>").alias("vec"),
        F.pmod(F.xxhash64(F.col(item_id)), F.lit(n_blocks)).alias("__blk"),
    )
    packed = dense.groupBy(*keys, "__blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    )
    left = packed.select(
        *keys, F.col("__blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    right = packed.select(
        *keys, F.col("__blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    if keys:
        tiles = left.join(right, keys).filter(
            F.col("blk_a") <= F.col("blk_b")
        ).drop(*keys)
    else:
        # cpu_bound the left side (tile cost is GEMM FLOPS): the tfidf
        # dense regime ran its whole tile stage single-task at sf0.1.
        # The keyed regime above spreads by the partition key instead.
        left = cpu_bound(left)
        tiles = left.crossJoin(right).filter(F.col("blk_a") <= F.col("blk_b"))

    thr = float(threshold)

    def _tile(batches):
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for rows_a, rows_b, same in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["blk_a"] == pdf["blk_b"]
            ):
                ids_a = np.asarray([r["id"] for r in rows_a])
                ids_b = np.asarray([r["id"] for r in rows_b])
                A = np.vstack([r["vec"] for r in rows_a])
                B = np.vstack([r["vec"] for r in rows_b])
                na = np.linalg.norm(A, axis=1)
                nb = np.linalg.norm(B, axis=1)
                na[na == 0.0] = np.inf  # zero vectors match nothing
                nb[nb == 0.0] = np.inf
                raw = (A / na[:, None]) @ (B / nb[:, None]).T
                # round half AWAY from zero (not np.round's HALF_EVEN)
                # to match F.round/SQL ROUND — the repo's cross-engine
                # float rule, so a cosine landing exactly on a 5e-7 tie
                # can't flip threshold inclusion between the dense and
                # sparse regimes
                sims = np.copysign(
                    np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw
                )
                ii, jj = np.nonzero(sims >= thr)
                ia, ib, s = ids_a[ii], ids_b[jj], sims[ii, jj]
                # canonical id_a < id_b; same-block tiles would emit
                # each pair twice (and self-pairs) without the cut
                keep = ia < ib if bool(same) else ia != ib
                swap = ia > ib
                lo = np.where(swap, ib, ia)[keep]
                hi = np.where(swap, ia, ib)[keep]
                out_a.append(lo)
                out_b.append(hi)
                out_s.append(s[keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                    "sim": np.concatenate(out_s) if out_s else [],
                }
            )

    return tiles.mapInPandas(
        _tile, schema=f"id_a {id_type}, id_b {id_type}, sim double"
    )


def ivf_index(
    items: DataFrame,
    n_centroids: int = 16,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: KMeans over the corpus -> every item
    tagged with its nearest-centroid id.

    Returns (items + ``centroid_id``, centroid list). The index build
    is a standard distributed KMeans (pyspark.ml); at 100 TB the
    quantizer trains on a sample and assignment is one map-side pass —
    centroids ride along as plan literals, never shuffled.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # reserved working columns (r10 ADVICE): the carry-through select
    # below projects *items.columns plus the prediction column, so a
    # caller frame already holding one of these names would make that
    # select ambiguous or silently wrong — fail loudly instead
    reserved = {"__features", "__centroid_pred", "centroid_id"}
    clash = reserved & set(items.columns)
    if clash:
        raise ValueError(
            f"ivf_index: input columns {sorted(clash)} collide with "
            "reserved working columns — rename them first"
        )
    feats = items.withColumn(
        "__features", array_to_vector(_to_double(item_vec))
    )
    model = (
        KMeans(k=n_centroids, seed=seed, maxIter=max_iter)
        .setFeaturesCol("__features")
        .setPredictionCol("__centroid_pred")
        .fit(feats)
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    # carry the item columns THROUGH the transform (it only appends the
    # prediction column) instead of joining the assignment back by id —
    # the join shape scanned the corpus twice and shuffled it once for
    # a column the same scan already produces
    assigned = model.transform(feats).select(
        *items.columns, F.col("__centroid_pred").alias("centroid_id")
    )
    return assigned, centroids


def _to_double(vec_col: str):
    return F.transform(vec_col, lambda x: x.cast("double"))


def _nearest_centroids(vec, centroids: list[list[float]], n_probe: int):
    """Literal-expression argsort: ids of the ``n_probe`` closest
    centroids by cosine, computed per row without any join."""
    sims = F.array(
        *[
            F.struct(
                cosine(vec, F.array(*[F.lit(x) for x in c])).alias("sim"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(sims)), 1, n_probe)
    return F.transform(top, lambda s: s["cid"])


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: score each query only against items in
    its ``n_probe`` nearest centroid cells.

    The inverted-file pattern: corpus scan cost drops from O(n·q) to
    O(n·q·n_probe/n_centroids); recall is tunable via n_probe. The
    probe set is computed as literal expressions (no centroid join),
    and the candidate join is an equi-join on centroid_id.
    """
    indexed, centroids = ivf_index(items, n_centroids, item_id, item_vec)
    probes = queries.select(
        F.col(query_id),
        F.col(query_vec),
        F.explode(
            _nearest_centroids(_to_double(query_vec), centroids, n_probe)
        ).alias("centroid_id"),
    )
    cand = probes.join(indexed, "centroid_id")
    if exclude_self:
        cand = cand.filter(F.col(item_id) != F.col(query_id))
    scored = cand.select(
        query_id,
        item_id,
        F.round(
            cosine(_to_double(item_vec), _to_double(query_vec)), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(item_id))
    # no terminal orderBy: a global sort is decorative here (the driver
    # and oracles compare order-insensitively) and costs a range
    # exchange + sampling pass — same policy as the rest of the catalog
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_incremental_add(
    new_items: DataFrame,
    centroids: list[list[float]],
    item_id: str = "vec_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Assign NEW vectors to a FROZEN IVF coarse quantizer — the index
    maintenance half of :func:`ivf_index`: the 100 TB ANN store does
    not retrain its quantizer per ingest batch, it assigns today's
    vectors to the existing centroids (one map-side pass, centroid
    literals in the plan — no join, no shuffle) and appends the rows
    to the partition-by-centroid layout. Periodic re-clustering is a
    separate offline job, exactly like the dedup store's re-index.

    Returns ``new_items`` + ``centroid_id`` (argmax cosine, ties to
    the lowest centroid id via the (sim, -cid) struct compare) +
    ``centroid_sim`` rounded 6dp — deterministic and reproducible in
    SQL given the same centroid constants.
    """
    vec = _to_double(item_vec)
    scored = F.array(
        *[
            F.struct(
                F.round(
                    cosine(vec, F.array(*[F.lit(x) for x in c])), 6
                ).alias("sim"),
                F.lit(-i).alias("neg_cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_max(scored)
    return new_items.withColumn("__b", best).select(
        "*",
        (-F.col("__b.neg_cid")).cast("int").alias("centroid_id"),
        F.col("__b.sim").alias("centroid_sim"),
    ).drop("__b")


def semantic_dedup(
    items: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    max_cell: int | None = None,
    n_blocks: int = 8,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", arXiv:2303.09540): embeddings are bucketed by a
    FROZEN coarse quantizer (:func:`ivf_incremental_add` — k-means
    cells), near-duplicate pairs are enumerated ONLY within a cell
    (6dp-rounded cosine >= ``threshold``), the pair graph closes into
    clusters with the pointer-jumping CC operator, and each semantic
    cluster keeps its minimum-id member.

    Returns (item_id, centroid_id, sem_cluster, kept): every input row
    labeled with its quantizer cell, its semantic-cluster id (minimum
    member id; its own id for singletons) and whether it survives
    dedup. Deterministic and fully SQL-reproducible from the same
    centroid constants.

    Scale shape: the published algorithm's cost model — within-cell
    quadratic, never corpus-quadratic; cell population is controlled
    by the quantizer's k upstream (SemDeDup's own knob). Within-cell
    pairs run through the blocked-GEMM tile path partitioned by cell
    (:func:`cosine_pairs_blocked` with ``part_col`` — one numpy
    normalized matmul per tile instead of a per-pair lambda cosine:
    measured 16.6 s -> sub-second on the twin fixture), and the
    assignment is localCheckpointed once — production would persist it
    as the partition-by-centroid layout anyway, and every downstream
    branch (both tile sides, the final label join) reuses the blocks
    instead of re-deriving the argmax. ``max_cell`` guards the
    degenerate mega-cell: raise loudly rather than let one cell turn
    the job quadratic (the LSH ``max_bucket`` policy; re-fit the
    quantizer with larger k instead).
    """
    assigned = ivf_incremental_add(
        items.select(item_id, item_vec), centroids, item_id, item_vec
    ).select(item_id, item_vec, "centroid_id").localCheckpoint()
    if max_cell is not None:
        over = (
            assigned.groupBy("centroid_id")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_cell)
            .limit(1)
            .collect()
        )
        if over:
            raise ValueError(
                f"semantic_dedup: cell {over[0]['centroid_id']} holds "
                f"{over[0]['__n']} > max_cell={max_cell} vectors; re-fit "
                "the quantizer with more centroids"
            )
    pairs = cosine_pairs_blocked(
        assigned,
        threshold,
        item_id=item_id,
        item_vec=item_vec,
        n_blocks=n_blocks,
        part_col="centroid_id",
    ).select("id_a", "id_b")
    from hummingbirddatapipeline_spark.operators.graph import (
        connected_components,
    )

    cc = connected_components(pairs)
    return (
        assigned.join(
            cc.select(F.col("node").alias(item_id), "cluster_id"),
            item_id,
            "left",
        )
        .select(
            item_id,
            "centroid_id",
            F.coalesce("cluster_id", F.col(item_id)).alias("sem_cluster"),
            (
                F.coalesce("cluster_id", F.col(item_id)) == F.col(item_id)
            ).alias("kept"),
        )
    )


def kmeans_refine(
    items: DataFrame,
    init_centroids: list[list[float]],
    n_iter: int = 3,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    dist_dp: int = 6,
    mean_dp: int = 8,
) -> tuple[DataFrame, list[list[float]]]:
    """In-engine k-means quantizer training: exactly ``n_iter``
    synchronous Lloyd iterations (assign to nearest centroid by
    squared L2, recompute each centroid as the mean of its members)
    seeded from ``init_centroids`` — the retraining job that produces
    the frozen quantizer :func:`ivf_incremental_add` /
    :func:`semantic_dedup` consume, completing the
    train -> index -> add -> dedup story inside the engine.

    Determinism is the pagerank quantize regime applied to vector
    state: per-item distances round to ``dist_dp`` before the argmin
    (ties -> lowest centroid id via the (dist, cid) struct min), and
    every mean coordinate rounds to ``mean_dp`` before becoming the
    next iteration's plan literal — per-cluster mean summation order
    differs between engines and across partitionings, and without the
    per-iteration quantize those ulps would compound through the
    recurrence. With it the whole trajectory is bit-reproducible in
    ANSI SQL (the oracle unrolls the same iterations as chained CTEs,
    re-deriving every centroid from the same 8dp constants). Fixture
    magnitudes keep accumulated FP noise ~5 orders below the rounding
    windows; the residual tie-window caveat documented on
    dedup_pagerank applies here identically. An empty cluster keeps
    its previous centroid (the deterministic convention).

    Scale shape: per iteration ONE map-side assignment pass (centroids
    ride the plan as literals — no join, no shuffle, identical to the
    frozen-quantizer add) plus ONE hash aggregate producing k rows of
    dim partial means; the k x dim result returning to the driver is
    bounded model state, not data (the same loop structure
    spark.ml.clustering.KMeans runs). Input is localCheckpointed once
    so the n_iter+1 passes re-scan materialized rows, not lineage.

    Returns (assignments, final_centroids): assignments is
    (item_id, cluster_id, dist) against the FINAL centroids;
    final_centroids is the trained k x dim list (``mean_dp``-rounded),
    ready to freeze as the next artifacts.IVF_CENTROIDS generation.
    """
    if not init_centroids:
        raise ValueError("kmeans_refine: init_centroids is empty")
    dim = len(init_centroids[0])
    if any(len(c) != dim for c in init_centroids):
        raise ValueError("kmeans_refine: ragged init_centroids")

    base = items.select(item_id, item_vec).localCheckpoint()

    def sqdist(c: list[float]):
        return F.aggregate(
            F.zip_with(
                F.col(item_vec),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def assign(cents: list[list[float]]) -> DataFrame:
        best = F.array_min(
            F.array(
                *[
                    F.struct(
                        F.round(sqdist(c), dist_dp).alias("d"),
                        F.lit(i).alias("cid"),
                    )
                    for i, c in enumerate(cents)
                ]
            )
        )
        return base.select(
            item_id,
            item_vec,
            best["cid"].alias("cluster_id"),
            best["d"].alias("dist"),
        )

    cents = [list(map(float, c)) for c in init_centroids]
    for _ in range(n_iter):
        # k rows x dim cols of rounded means: bounded MODEL state (the
        # documented driver-collect class — same as BPE's per-merge row)
        rows = (
            assign(cents)
            .groupBy("cluster_id")
            .agg(
                *[
                    F.round(F.avg(F.col(item_vec)[i]), mean_dp).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        means = {r["cluster_id"]: [r[f"m{i}"] for i in range(dim)] for r in rows}
        cents = [means.get(i, c) for i, c in enumerate(cents)]

    return assign(cents).select(item_id, "cluster_id", "dist"), cents


def pca_power_top1(
    items: DataFrame,
    dim: int,
    n_iter: int = 5,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """Top principal component by fixed-iteration power method, fully
    in-engine — the dimension-reduction half of embedding prep
    (normalize -> quantize -> PROJECT -> index): center the corpus,
    build the d x d covariance with one explode + hash aggregate, run
    exactly ``n_iter`` synchronous power iterations over the skinny
    (i, val) eigenvector state, and project every centered vector onto
    the resulting component.

    Determinism is the pagerank quantize regime end to end: per-dim
    means round 8dp; covariance entries are ROUND(SUM(ROUND(xi*xj,
    12))/n, 8); each matvec coordinate is ROUND(SUM(ROUND(cv*val,
    12)), 12); the norm rounds 12dp; the normalized vector rounds 9dp;
    projections round 6dp — so the whole trajectory (eigenvector sign
    included: the all-positive start makes it deterministic) is
    bit-reproducible in ANSI SQL as chained CTEs from the same corpus.
    The dedup_pagerank tie-window caveat applies identically.

    Scale shape: TWO corpus passes (mean aggregate; covariance
    explode whose d^2-per-row blowup is absorbed by the same-stage
    partial hash aggregate into d^2 keys) + ONE projection pass with
    the final component as plan literals; the n_iter matvec rounds run
    over d-row state (bounded model state, like kmeans' k x dim), and
    only the d-element component is ever collected. Nothing joins
    corpus-to-corpus.

    Returns (projections, component): projections is (item_id,
    pc1_score) — the centered dot product, 6dp; component is the
    d-element unit eigenvector estimate.
    """
    if n_iter < 1:
        raise ValueError("pca_power_top1: n_iter must be >= 1")
    spark = items.sparkSession
    base = items.select(item_id, item_vec).localCheckpoint()
    n = base.count()
    if n == 0:
        raise ValueError("pca_power_top1: empty input")

    means_row = base.agg(
        *[
            F.round(F.avg(F.col(item_vec)[i]), 8).alias(f"m{i}")
            for i in range(dim)
        ]
    ).first()
    mean_lit = F.array(*[F.lit(float(means_row[f"m{i}"])) for i in range(dim)])
    centered = base.select(
        item_id,
        F.zip_with(F.col(item_vec), mean_lit, lambda x, y: x - y).alias("c"),
    ).localCheckpoint()

    cov = (
        centered.select(F.posexplode("c").alias("i", "xi"), F.col("c"))
        .select("i", "xi", F.posexplode("c").alias("j", "xj"))
        .groupBy("i", "j")
        .agg(
            F.round(
                F.sum(F.round(F.col("xi") * F.col("xj"), 12)) / F.lit(float(n)),
                8,
            ).alias("cv")
        )
        .localCheckpoint()
    )

    v = spark.range(dim).select(
        F.col("id").cast("int").alias("j"),
        F.round(F.lit(1.0) / F.sqrt(F.lit(float(dim))), 9).alias("val"),
    ).localCheckpoint()
    for _ in range(n_iter):
        w = (
            cov.join(v, "j")
            .groupBy("i")
            .agg(
                F.round(
                    F.sum(F.round(F.col("cv") * F.col("val"), 12)), 12
                ).alias("w")
            )
        )
        nrm = w.agg(
            F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 12).alias("nrm")
        )
        v = (
            w.crossJoin(nrm)  # single-row scalar broadcast
            .select(
                F.col("i").alias("j"),
                F.round(F.col("w") / F.col("nrm"), 9).alias("val"),
            )
            .localCheckpoint()
        )

    # d-element MODEL state to the driver (documented bounded collect)
    comp = [r["val"] for r in v.orderBy("j").collect()]
    comp_lit = F.array(*[F.lit(float(x)) for x in comp])
    proj = centered.select(
        item_id,
        F.round(
            F.aggregate(
                F.zip_with(F.col("c"), comp_lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("pc1_score"),
    )
    return proj, comp


def hamming_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
    mean_dp: int = 8,
) -> DataFrame:
    """Binary-code ANN: binarize every vector against the corpus
    per-dimension means (``sign(x_d - mean_d)`` — the zero-rotation
    special case of ITQ, Gong et al. 2013), pack the bits into
    BIGINT words, and rank by exact Hamming distance via
    ``bit_count(xor)`` — the 32x-compressed scan that screens
    candidates before an exact re-rank at 100 TB (64 floats -> 2
    longs per vector; the distance is two CPU instructions).

    Everything after the thresholds is INTEGER: bit j of word w is
    ``v[32w+j] > mean[32w+j]`` (ties -> 0), packed as
    ``sum bit * 2^j`` (Horner on the Spark side, explicit shifts in
    the SQL twin — same integer), and Hamming = sum of per-word
    popcounts of xor. No floats enter the ranking, so the row is
    hash-exact under any partitioning by construction. The 8dp-rounded
    means are the corpus statistic (one aggregate row, broadcast —
    never collected to the driver).

    Scale shape: ONE corpus aggregate for the means, ONE map-side
    packing pass per side, then the same broadcast-queries cross join
    as :func:`cosine_topk` at 1/32 the operand width. The plan scans
    the item table TWICE (means pass + packing pass) — the
    stats-then-transform two-pass every normalize/quantize operator
    pays (sq8, PCA means); re-reading beats materializing a
    corpus-width copy, so the r11 scan-audit flag is BY DESIGN.

    Returns (query_id, vec_id, hamming, rank); ties -> lowest item id.
    """
    n_words = (dim + 31) // 32
    # ONE row carrying the dim 8dp means — referenced by BOTH packing
    # sides, and Catalyst inlines each reference, so the corpus stats
    # aggregate ran twice per execution (r15 SQL-tab audit: 3 scans
    # where the documented two-pass shape owns 2). Checkpoint the
    # bounded stats row; the by-design packing re-scan stays.
    means = F.broadcast(
        items.agg(
            F.array(
                *[
                    F.round(F.avg(F.col(item_vec)[i]), mean_dp)
                    for i in range(dim)
                ]
            ).alias("__ms")
        ).localCheckpoint(eager=False)
    )

    def words(vec: str) -> list[Column]:
        out = []
        for w in range(n_words):
            word = F.lit(0).cast("long")
            for j in reversed(range(min(32, dim - 32 * w))):
                d = 32 * w + j
                bit = (
                    F.element_at(F.col(vec), d + 1)
                    > F.element_at(F.col("__ms"), d + 1)
                ).cast("long")
                word = word * 2 + bit
            out.append(word.alias(f"__b{w}"))
        return out

    coded_items = items.crossJoin(means).select(item_id, *words(item_vec))
    coded_queries = queries.crossJoin(means).select(
        query_id, *[c.alias(f"__q{w}") for w, c in enumerate(words(query_vec))]
    )
    pairs = coded_items.crossJoin(F.broadcast(coded_queries))
    if exclude_self:
        pairs = pairs.filter(F.col(item_id) != F.col(query_id))
    hamming = sum(
        (
            F.bit_count(
                F.col(f"__b{w}").bitwiseXOR(F.col(f"__q{w}"))
            ).cast("int")
            for w in range(n_words)
        ),
        F.lit(0),
    )
    scored = pairs.select(query_id, item_id, hamming.alias("hamming"))
    w = Window.partitionBy(query_id).orderBy("hamming", F.col(item_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _pq_sqdist(vec: Column, c: list[float]) -> Column:
    """6dp-rounded squared L2 distance between a vector column and a
    literal centroid — the shared PQ arithmetic (training assignment,
    encoding, and ADC tables must all round identically)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _pq_train(
    items: DataFrame,
    dim: int,
    m: int,
    k_codes: int,
    n_iter: int,
    item_id: str,
    item_vec: str,
) -> list[list[list[float]]]:
    """Train the ``m`` per-subspace PQ codebooks with
    :func:`kmeans_refine`, seeded from the first ``k_codes`` vectors
    by id (deterministic, engine-derivable). Shared by :func:`pq_topk`
    and :func:`ivfpq_topk` so both rank with byte-identical codebooks.
    The seed collect is ``k_codes`` rows of model state (the kmeans
    seed class, documented)."""
    if dim % m != 0:
        raise ValueError("pq: dim must be divisible by m")
    d_sub = dim // m
    seed_rows = (
        items.orderBy(item_id)
        .limit(k_codes)
        .select(F.transform(item_vec, lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    if len(seed_rows) < k_codes:
        raise ValueError("pq: fewer than k_codes vectors")
    codebooks: list[list[list[float]]] = []
    for s in range(m):
        seeds = [r["v"][s * d_sub : (s + 1) * d_sub] for r in seed_rows]
        sub_items = items.select(
            item_id, F.slice(F.col(item_vec), s * d_sub + 1, d_sub).alias(item_vec)
        )
        _, cents = kmeans_refine(sub_items, seeds, n_iter=n_iter)
        codebooks.append(cents)
    return codebooks


def _pq_code_builder(codebooks: list[list[list[float]]], d_sub: int):
    """Encoder expression: nearest codebook entry per subspace
    (6dp distances, ties -> lowest code id)."""

    def code(vec: Column, s: int) -> Column:
        return F.array_min(
            F.array(
                *[
                    F.struct(
                        _pq_sqdist(
                            F.slice(vec, s * d_sub + 1, d_sub), c
                        ).alias("d"),
                        F.lit(i).alias("cid"),
                    )
                    for i, c in enumerate(codebooks[s])
                ]
            )
        )["cid"]

    return code


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze, Schmid 2011): split each vector into ``m``
    subspaces, train a ``k_codes``-entry codebook per subspace with
    :func:`kmeans_refine` (seeded from the first ``k_codes`` vectors
    by id — deterministic, engine-derivable), encode every vector as
    ``m`` small codes, and rank by the ADC approximation
    ``sum_s ||q_s - codebook_s[code_s(v)]||^2`` — each query probes a
    precomputed m x k_codes distance table instead of touching raw
    floats, the standard memory-bound ANN layout at billion scale
    (m bytes per vector instead of 4*dim).

    Determinism inherits kmeans_refine's quantize regime (6dp
    distances, ties -> lowest code, 8dp means per Lloyd iteration);
    encode reuses the exact assignment expression; ADC table entries
    round 6dp and the m-term sum is one fixed left-to-right addition
    rounded 6dp, so both engines add the same doubles in the same
    order.

    Scale shape: training is m short kmeans_refine runs (offline
    model fitting; each is map-side assignment + k x d_sub bounded
    model state); encode is ONE map-side pass (codebooks ride the
    plan as literals); search is the broadcast-queries cross join at
    ``m`` ints per item with per-query tables BUILT IN THE PLAN
    (literal codebooks against the query vector — no driver-side
    data pull). The seed collect is ``k_codes`` rows of model state
    (the kmeans seed class, documented).

    Returns (query_id, vec_id, adc_dist, rank); ties -> lowest id.
    """
    codebooks = _pq_train(items, dim, m, k_codes, n_iter, item_id, item_vec)
    d_sub = dim // m
    sub = lambda vec, s: F.slice(vec, s * d_sub + 1, d_sub)  # noqa: E731
    sqdist = _pq_sqdist
    code = _pq_code_builder(codebooks, d_sub)

    coded = items.select(
        item_id,
        *[code(F.col(item_vec), s).alias(f"__c{s}") for s in range(m)],
    )
    tables = queries.select(
        query_id,
        *[
            F.array(
                *[sqdist(sub(F.col(query_vec), s), c) for c in codebooks[s]]
            ).alias(f"__t{s}")
            for s in range(m)
        ],
    )
    pairs = coded.crossJoin(F.broadcast(tables))
    if exclude_self:
        pairs = pairs.filter(F.col(item_id) != F.col(query_id))
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(F.col(f"__t{s}"), F.col(f"__c{s}") + 1)
    scored = pairs.select(
        query_id, item_id, F.round(adc, 6).alias("adc_dist")
    )
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(item_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def matryoshka_recall(
    items: DataFrame,
    queries: DataFrame,
    dims: "tuple[int, ...]" = (16, 64),
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Matryoshka truncation-fidelity evaluation (MRL, Kusupati et al.
    2022): how much of the full-dimension exact top-k survives when
    vectors are truncated to their first ``d`` coordinates — the
    measurement that decides how small the prefix can go before the
    coarse stage of a coarse-to-fine ANN pipeline (truncated screen ->
    full-dim rerank) starts losing neighbors.

    For every query and every ``d`` in ``dims``::

        (query_id, dim, n_overlap, recall)

    where ``n_overlap`` counts the full-dim top-k members that also
    appear in the d-truncated top-k and ``recall = n_overlap / k``.
    Rankings on both sides are :func:`cosine_topk`'s exact 6dp-rounded
    cosine with id tiebreaks, so the whole measurement is
    engine-deterministic.

    Scale shape: one broadcast-queries scored pass per dim (the
    audited cosine_topk plan — WindowGroupLimit pushes the k-cut
    map-side) plus a k-rows-per-query overlap join; the corpus is
    scanned once per dim and never shuffled. Truncated passes read
    1/d of the vector bytes — at 100 TB the d=16 pass IS the cheap
    screen this metric certifies. The full-dim top-k (k rows per
    query) is localCheckpointed before the per-dim union: without it
    Catalyst re-inlines the full-width ranking subtree under EVERY
    union branch, re-scanning the corpus at full vector width once
    per dim (plan-contract-pinned to exactly len(dims)+1 scoring
    passes in tests/test_plan_contracts.py).
    """
    full = (
        cosine_topk(
            items, queries, k, item_id, item_vec, query_id, query_vec
        )
        .select(query_id, item_id)
        .localCheckpoint()
    )
    out = None
    for d in dims:
        ti = items.select(
            item_id, F.slice(F.col(item_vec), 1, d).alias(item_vec)
        )
        tq = queries.select(
            query_id, F.slice(F.col(query_vec), 1, d).alias(query_vec)
        )
        td = cosine_topk(
            ti, tq, k, item_id, item_vec, query_id, query_vec
        ).select(query_id, item_id)
        ov = (
            full.join(td, [query_id, item_id])
            .groupBy(query_id)
            .agg(F.count("*").alias("__n"))
        )
        res = (
            queries.select(query_id)
            .join(ov, query_id, "left")
            .select(
                query_id,
                F.lit(d).alias("dim"),
                F.coalesce(F.col("__n"), F.lit(0))
                .cast("long")
                .alias("n_overlap"),
                F.round(
                    F.coalesce(F.col("__n"), F.lit(0)).cast("double")
                    / F.lit(float(k)),
                    6,
                ).alias("recall"),
            )
        )
        out = res if out is None else out.unionByName(res)
    return out


def ivfpq_topk(
    items: DataFrame,
    queries: DataFrame,
    dim: int,
    centroids: list[list[float]],
    n_probe: int = 4,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    k: int = 10,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN layout (Jégou et al.
    2011 §V; the FAISS ``IVFx,PQy`` index) — a FROZEN coarse quantizer
    routes each query to its ``n_probe`` nearest cells, and only the
    items in those cells are ranked, by the PQ/ADC approximation over
    ``m`` small codes. This row is the composition of the two audited
    halves: :func:`ivf_incremental_add`'s cell assignment (centroid
    literals, map-side argmax) and :func:`pq_topk`'s codebook training
    + ADC tables — where :func:`pq_topk` scans every item per query,
    this touches ``~n_probe/n_cells`` of the corpus.

    Determinism: cell assignment is the 6dp cosine argmax with ties to
    the lowest centroid id (exactly ivf_incremental_add); the query
    probe list is the same 6dp cosine ranked (sim DESC, cid ASC);
    codebooks, codes, and ADC sums inherit pq_topk's quantize regime
    via the shared ``_pq_train`` / ``_pq_code_builder`` / ``_pq_sqdist``
    helpers. Rankings are per-query over the probed candidate set with
    id tiebreaks — fully SQL-reproducible from the same centroid
    constants.

    Scale shape: items are assigned + encoded in ONE map-side pass
    (centroids AND codebooks ride the plan as literals); the candidate
    cut is an equi-join on centroid_id (never a full cross join — the
    plan-contract difference from pq_topk); ADC tables are built in
    the plan per query row. At 100 TB the item side lives
    partition-by-centroid on disk, so the probe join prunes partitions
    instead of shuffling — the layout `layout_shard_manifest` writes.

    Returns (query_id, vec_id, adc_dist, rank): rank over probed
    candidates by (adc_dist ASC, vec_id ASC), rank <= k.
    """
    if dim % m != 0:
        raise ValueError("ivfpq_topk: dim must be divisible by m")
    d_sub = dim // m
    codebooks = _pq_train(items, dim, m, k_codes, n_iter, item_id, item_vec)
    code = _pq_code_builder(codebooks, d_sub)
    sub = lambda vec, s: F.slice(vec, s * d_sub + 1, d_sub)  # noqa: E731

    assigned = ivf_incremental_add(
        items.select(item_id, item_vec), centroids, item_id, item_vec
    )
    coded = assigned.select(
        item_id,
        "centroid_id",
        *[code(_to_double(item_vec), s).alias(f"__c{s}") for s in range(m)],
    )
    # probe list: n_probe cells by (6dp cosine DESC, cid ASC) — the
    # struct packs (sim, -cid) so one array_sort gives both orders
    qvec = _to_double(query_vec)
    cell_sims = F.array(
        *[
            F.struct(
                F.round(
                    cosine(qvec, F.array(*[F.lit(float(x)) for x in c])), 6
                ).alias("sim"),
                F.lit(-i).alias("neg_cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    probe_cells = F.transform(
        F.slice(F.reverse(F.array_sort(cell_sims)), 1, n_probe),
        lambda s: (-s["neg_cid"]).cast("int"),
    )
    tables = queries.select(
        query_id,
        F.explode(probe_cells).alias("centroid_id"),
        *[
            F.array(
                *[_pq_sqdist(sub(qvec, s), c) for c in codebooks[s]]
            ).alias(f"__t{s}")
            for s in range(m)
        ],
    )
    cand = coded.join(F.broadcast(tables), "centroid_id")
    if exclude_self:
        cand = cand.filter(F.col(item_id) != F.col(query_id))
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(F.col(f"__t{s}"), F.col(f"__c{s}") + 1)
    scored = cand.select(
        query_id, item_id, F.round(adc, 6).alias("adc_dist")
    )
    w = Window.partitionBy(query_id).orderBy("adc_dist", F.col(item_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sq8_fidelity(
    items: DataFrame,
    dim: int,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Int8 scalar quantization of an embedding column + per-vector
    reconstruction fidelity — the 4x storage cut (float32 -> uint8)
    every vector store offers, with the measurement that says whether
    the corpus can afford it. Per dimension the corpus (min, max)
    define the affine grid ``code = floor((x - mn) * 255 / (mx - mn)
    + 0.5)`` (clamped [0, 255]; 0 where the dimension is constant);
    dequantization is ``mn + code * (mx - mn) / 255``. Every row
    reports the cosine between its original and reconstructed vector
    and the largest per-dimension absolute error.

    Exactness regime: min/max are SELECTIONS (no summation — exact
    under any partitioning, no rounding needed); the encode/decode
    chain is row-local IEEE +,-,*,/ in a FIXED written order, and
    half-up snapping uses ``floor(x + 0.5)`` explicitly because the
    engines' ``round()`` half-rule on doubles differs (Spark HALF_UP
    vs DuckDB half-even) — the repo rounding rule: row-local double
    arithmetic needs no quantization, only identical operations.
    ``code_sum`` (the BIGINT sum of the row's 256-level codes) hashes
    the entire code vector exactly; the summation-bearing cosine and
    the exact-op max error round 6dp for display stability.

    Scale shape: ONE corpus aggregate producing the 2 x dim (min, max)
    statistic broadcast as a single row (never collected), then ONE
    map-side encode + fidelity pass — the hamming_topk shape. At
    100 TB the codes write 1/4 the bytes and the fidelity column is
    the acceptance gate.

    Returns (item_id, code_sum, cos_fidelity, max_abs_err).
    """
    vec = _to_double(item_vec)
    # the 2 x dim (min, max) grid is the quantizer at rest — checkpoint
    # the bounded one-row statistic so repeated executions broadcast it
    # instead of re-running the corpus aggregate (the hamming-means fix)
    stats = F.broadcast(
        items.agg(
            F.array(
                *[F.min(F.col(item_vec)[i].cast("double")) for i in range(dim)]
            ).alias("__mn"),
            F.array(
                *[F.max(F.col(item_vec)[i].cast("double")) for i in range(dim)]
            ).alias("__mx"),
        ).localCheckpoint(eager=False)
    )
    base = items.crossJoin(stats).select(
        item_id,
        vec.alias("__v"),
        F.col("__mn"),
        F.col("__mx"),
    )
    codes = F.expr(
        "transform(__v, (x, i) -> CASE WHEN __mx[i] = __mn[i] THEN 0.0D"
        " ELSE floor((x - __mn[i]) * 255.0D / (__mx[i] - __mn[i]) + 0.5D)"
        " END)"
    )
    deq = F.expr(
        "zip_with(__codes, sequence(0, size(__codes) - 1),"
        " (c, i) -> __mn[i] + c * (__mx[i] - __mn[i]) / 255.0D)"
    )
    code_sum = F.expr(
        "aggregate(__codes, CAST(0 AS BIGINT),"
        " (acc, c) -> acc + CAST(c AS BIGINT))"
    )
    with_codes = base.withColumn("__codes", codes).withColumn("__deq", deq)
    err = F.array_max(
        F.zip_with("__v", "__deq", lambda x, y: F.abs(x - y))
    )
    return with_codes.select(
        item_id,
        code_sum.alias("code_sum"),
        F.round(cosine(F.col("__v"), F.col("__deq")), 6).alias(
            "cos_fidelity"
        ),
        F.round(err, 6).alias("max_abs_err"),
    )


def ivf_cell_drift(
    old: DataFrame,
    new: DataFrame,
    centroids: list[list[float]],
    item_id: str = "vec_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift monitor over the FROZEN IVF
    quantizer — the embedding-space sibling of the PSI feature-drift
    row: assign BOTH snapshots to the same frozen cells
    (:func:`ivf_incremental_add`, centroid literals, map-side) and
    report per cell how the population moved. A cell whose count
    doubles or drains between crawls means the embedding distribution
    shifted and the quantizer (and every IVF-routed ANN decision
    downstream) is stale — the re-cluster trigger, measured in-engine.

    Per cell::

        (centroid_id, n_old, n_new, n_arrivals, n_departures)

    arrivals = vectors whose NEW cell is this one but whose old cell
    was different or absent; departures symmetric. Pure integer
    counts over the deterministic assignment — engine-exact.

    Scale shape: two map-side assignment passes (no join, no shuffle —
    the ivf_incremental_add contract), ONE id-keyed join of the two
    skinny (id, cell) frames, then each joined row explodes into its
    <= 2 per-cell contributions (old-side row + new-side row, with
    arrival/departure flags decided row-locally) and ONE hash
    aggregate over <= n_cells keys rolls everything up — no K-row
    assemble joins.
    """
    a = ivf_incremental_add(
        old.select(item_id, item_vec), centroids, item_id, item_vec
    ).select(item_id, F.col("centroid_id").alias("__ca"))
    b = ivf_incremental_add(
        new.select(item_id, item_vec), centroids, item_id, item_vec
    ).select(item_id, F.col("centroid_id").alias("__cb"))
    j = a.join(b, item_id, "full_outer")
    ca, cb = F.col("__ca"), F.col("__cb")
    one, zero = F.lit(1), F.lit(0)
    contrib = j.select(
        F.explode(
            F.array(
                F.struct(
                    ca.alias("cell"),
                    one.alias("o"),
                    zero.alias("nn"),
                    zero.alias("arr"),
                    F.when(cb.isNull() | (cb != ca), one)
                    .otherwise(zero)
                    .alias("dep"),
                ),
                F.struct(
                    cb.alias("cell"),
                    zero.alias("o"),
                    one.alias("nn"),
                    F.when(ca.isNull() | (ca != cb), one)
                    .otherwise(zero)
                    .alias("arr"),
                    zero.alias("dep"),
                ),
            )
        ).alias("__c")
    ).filter(F.col("__c.cell").isNotNull())
    return contrib.groupBy(
        F.col("__c.cell").alias("centroid_id")
    ).agg(
        F.sum("__c.o").cast("long").alias("n_old"),
        F.sum("__c.nn").cast("long").alias("n_new"),
        F.sum("__c.arr").cast("long").alias("n_arrivals"),
        F.sum("__c.dep").cast("long").alias("n_departures"),
    )


def pq_distortion(
    items: DataFrame,
    dim: int,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Per-vector PQ reconstruction distortion under the trained
    codebooks — the index-quality acceptance report that closes the
    ANN arc (train -> encode -> search -> MEASURE): distortion is the
    quantity PQ training minimizes (Jégou et al. 2011 §III eq. 2), so
    this row is how an index owner decides m/k_codes are adequate
    BEFORE queries regress, and which vectors the codebooks represent
    worst (re-cluster / keep-full-precision candidates). The PQ
    sibling of :func:`sq8_fidelity`.

    For every vector: its m assigned codes and::

        distortion = round(sum_s sqdist_6dp(v_s, codebook_s[code_s]), 6)

    — each subspace term is the encoder's own 6dp-rounded argmin
    distance (selection, not new arithmetic), summed in fixed subspace
    order, so the report is engine-exact under the shared
    ``_pq_train`` / ``_pq_sqdist`` regime. ``code_sum`` (exact BIGINT
    ``sum_s code_s * k_codes^s``) hashes the whole code vector in one
    integer, the embedding_quantize_roundtrip convention.

    Returns (vec_id, code_sum, distortion).

    Scale shape: training is the shared m short kmeans_refine runs
    (bounded model state); the report itself is ONE map-side pass —
    codebooks are plan literals, each subspace's (code, dist) pair is
    one array_min over k_codes literal structs — with ZERO exchanges
    after training. At billion scale this is the cheapest full-index
    quality sweep possible: it reads each vector once and shuffles
    nothing.
    """
    codebooks = _pq_train(items, dim, m, k_codes, n_iter, item_id, item_vec)
    d_sub = dim // m

    def best(vec, s: int):
        return F.array_min(
            F.array(
                *[
                    F.struct(
                        _pq_sqdist(
                            F.slice(vec, s * d_sub + 1, d_sub), c
                        ).alias("d"),
                        F.lit(i).alias("cid"),
                    )
                    for i, c in enumerate(codebooks[s])
                ]
            )
        )

    picked = items.select(
        item_id,
        *[best(F.col(item_vec), s).alias(f"__b{s}") for s in range(m)],
    )
    code_sum = F.lit(0).cast("long")
    dist = F.lit(0.0)
    for s in range(m):
        code_sum = code_sum + F.col(f"__b{s}")["cid"].cast("long") * F.lit(
            k_codes**s
        )
        dist = dist + F.col(f"__b{s}")["d"]
    return picked.select(
        item_id,
        code_sum.alias("code_sum"),
        F.round(dist, 6).alias("distortion"),
    )


def embedding_source_profile(
    vectors: DataFrame,
    docs: DataFrame,
    vec_id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    strata_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-source embedding NORM profile — the drift/acceptance report
    an embedding store keeps per ingest source (a source whose norm
    distribution shifts got re-embedded with a different model or
    normalization; the tabular cousin is feature_profile_drift). Norms
    are computed once per row (sqrt is IEEE-correctly-rounded — safe
    cross-engine, unlike ln/exp), quantized to e6 BIGINTs per the
    embedding family convention, then aggregated as EXACT integer
    sums, so mean/min/max are partitioning-invariant and hash-exact.

    Returns (source, n_vecs, mean_norm_e6, min_norm_e6, max_norm_e6)
    — mean_norm_e6 is ROUND(sum_e6 / n) as BIGINT.

    Scale shape: norms reduce each vector to ONE long map-side; the
    join attaches the source to the skinny (id, norm_e6) frame; one
    hash aggregate. Vector payloads cross no shuffle.
    """
    from hummingbirddatapipeline_spark.functions.vector import norm

    v = vectors.select(
        F.col(vec_id_col).alias(doc_id_col),
        F.round(1_000_000 * norm(_as_double_col(F.col(vec_col))))
        .cast("long")
        .alias("__norm_e6"),
    )
    joined = v.join(
        docs.select(doc_id_col, strata_col), doc_id_col
    )
    return joined.groupBy(strata_col).agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum("__norm_e6").cast("double") / F.count("*")
        )
        .cast("long")
        .alias("mean_norm_e6"),
        F.min("__norm_e6").alias("min_norm_e6"),
        F.max("__norm_e6").alias("max_norm_e6"),
    )


def _as_double_col(vec):
    """array<float> -> array<double> (the catalog's cast-double
    convention for cross-engine float comparisons)."""
    return F.transform(vec, lambda x: x.cast("double"))


def centroid_drift_by_source(
    vectors: DataFrame,
    docs: DataFrame,
    vec_id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
    strata_col: str = "source",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-source centroid DIRECTION drift — the cosine of each
    source's embedding centroid to the global centroid, completing the
    per-source profile (:func:`embedding_source_profile` watches norm
    magnitude; this watches direction — the signature of a source
    re-embedded by a different model or whose content genuinely
    shifted). Cosine of the per-dim SUM vectors equals cosine of the
    centroids (means are positive scalings), so no division happens
    before the final row-local chain.

    Cross-engine exactness: each component quantizes to an e6 long
    BEFORE summation (exact, partitioning-invariant — the scaled-long
    rule); the cosine then runs over the two integer vectors in dim
    order (fixed fold), one sqrt pair (IEEE-correctly-rounded), 6dp.

    Returns (source, n_vecs, cos_to_global).

    Scale shape: posexplode -> (source, dim) exact-long aggregate
    (dims x sources rows); the global vector derives from THAT table;
    per-source cosine folds a dims-length array — vector payloads
    cross one exchange as quantized longs, never as raw arrays.
    """
    comp = (
        vectors.join(
            docs.select(
                F.col(doc_id_col).alias(vec_id_col), strata_col
            ),
            vec_id_col,
        )
        .select(
            strata_col,
            F.col(vec_id_col),
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("dim", "x"),
        )
        .select(
            strata_col,
            vec_id_col,
            "dim",
            F.round(F.col("x") * 1_000_000).cast("long").alias("x_e6"),
        )
    )
    per_sd = comp.groupBy(strata_col, "dim").agg(
        F.sum("x_e6").alias("s"),
        F.countDistinct(vec_id_col).alias("__nv"),
    ).localCheckpoint(eager=False)
    per_source = per_sd.groupBy(strata_col).agg(
        F.sort_array(F.collect_list(F.struct("dim", "s"))).alias("__v"),
        F.max("__nv").alias("n_vecs"),
    )
    global_row = per_sd.groupBy("dim").agg(
        F.sum("s").alias("g")
    ).agg(
        F.sort_array(F.collect_list(F.struct("dim", "g"))).alias("__gv")
    )
    joined = per_source.crossJoin(F.broadcast(global_row))
    dot = F.aggregate(
        F.zip_with(
            "__v",
            "__gv",
            lambda a, b: a["s"].cast("double") * b["g"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    nv = F.sqrt(
        F.aggregate(
            F.transform(
                "__v", lambda a: a["s"].cast("double") * a["s"].cast("double")
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    ng = F.sqrt(
        F.aggregate(
            F.transform(
                "__gv",
                lambda b: b["g"].cast("double") * b["g"].cast("double"),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    return joined.select(
        strata_col,
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.round(dot / (nv * ng), 6).alias("cos_to_global"),
    )
