"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north-star extension; no analogue in the reference, which is
tabular-only).

Design for 100 TB: media bytes live in a ``binary`` column with a typed
``media_meta`` struct alongside; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas iterators over
``mapInPandas`` so each task streams record batches without
materializing a partition of blobs, and partitioning/pruning happens on
the metadata columns (kind, format, byte_size), never on content.

The actual codec step is environment-gated: this container ships no
image/audio libraries, so ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless PIL/soundfile import, while everything
the engine is responsible for — schema, batch shape, UDF signatures,
byte-level statistics, deterministic frame sampling — is real and
tested. Byte-level features (size, entropy, content hash) need no
codec and are the honest 100 TB fast path for dedup/quality gates.
"""

from __future__ import annotations

import hashlib
import weakref
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hummingbirddatapipeline_spark.operators.setsim import band_explode

# canonical media schema fragment: every media table carries these
MEDIA_META_SCHEMA = StructType(
    [
        StructField("kind", StringType()),       # image | audio | video
        StructField("format", StringType()),     # png/jpeg/wav/mp4/...
        StructField("width", IntegerType()),     # images/video
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),  # audio
        StructField("duration_ms", LongType()),     # audio/video
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("byte_size", LongType()),
        StructField("byte_entropy", DoubleType()),
        StructField("content_sha256", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_offset_ms", LongType()),
    ]
)


def _gated_import(name: str):
    try:
        return __import__(name)
    except ImportError:
        return None


def decode_image(content: bytes, fmt: str):
    """Real decode iff PIL is available; otherwise explicitly
    unimplemented (STUB — this container has no imaging libraries)."""
    pil = _gated_import("PIL.Image")
    if pil is None:
        raise NotImplementedError(
            "image decode requires PIL; byte-level features (see "
            "byte_features) are the codec-free path"
        )
    import io

    from PIL import Image

    return Image.open(io.BytesIO(content))


def decode_audio(content: bytes, fmt: str):
    """Real decode iff soundfile is available (STUB otherwise)."""
    sf = _gated_import("soundfile")
    if sf is None:
        raise NotImplementedError(
            "audio decode requires soundfile; byte-level features are "
            "the codec-free path"
        )
    import io

    return sf.read(io.BytesIO(content))


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table derived from ``documents`` — the
    test stand-in for a real (media_id, content, media_meta) table.
    Content bytes are the utf-8 text; metadata cycles through kinds."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    fmt = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("wav"))
        .otherwise(F.lit("mp4"))
    )
    # octet_length (bytes, not chars) so synthetic metadata is derivable
    # by any engine hashing/measuring the same utf-8 bytes
    n = F.octet_length("text")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            kind.alias("kind"),
            fmt.alias("format"),
            F.when(kind == "image", (n % 640 + 16).cast("int")).alias("width"),
            F.when(kind == "image", (n % 480 + 16).cast("int")).alias("height"),
            F.when(kind == "audio", F.lit(16_000)).cast("int").alias("sample_rate"),
            F.when(kind != "image", (n * 10).cast("long")).alias("duration_ms"),
        ).alias("media_meta"),
    )


def byte_features(media: DataFrame) -> DataFrame:
    """Codec-free per-blob features via mapInPandas (Arrow-batched):
    byte size, shannon byte entropy, sha256. The UDF sees an iterator
    of record batches — constant memory per task regardless of blob
    count — and this is the pattern a real decoder would slot into."""

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                n = len(b)
                if n:
                    counts = np.bincount(
                        np.frombuffer(b, dtype=np.uint8), minlength=256
                    )
                    p = counts[counts > 0] / n
                    ent = float(-(p * np.log2(p)).sum())
                else:
                    ent = 0.0
                rows.append(
                    (mid, n, round(ent, 6), hashlib.sha256(b).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "byte_size", "byte_entropy", "content_sha256"]
            )

    return media.select("media_id", "content").mapInPandas(_features, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Deterministic frame-sampling plan for video rows: one frame per
    ``every_ms`` of duration. Pure column ops (the decode of each
    sampled frame would be the gated codec step)."""
    video = media.filter(F.col("media_meta.kind") == "video")
    n_frames = F.greatest(
        (F.col("media_meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return video.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_index"),
    ).select(
        "media_id",
        F.col("frame_index").cast("int"),
        (F.col("frame_index").cast("long") * every_ms).alias("frame_offset_ms"),
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plan: passes metadata through with the target dims; the
    pixel transform itself is the PIL-gated step inside mapInPandas."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    img = decode_image(bytes(content), "png")
                    img = img.resize((width, height))
                    import io

                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                    out_rows.append((mid, buf.getvalue(), width, height))
                except NotImplementedError:
                    # codec unavailable: pass bytes through, mark dims
                    out_rows.append((mid, bytes(content), width, height))
            yield pd.DataFrame(
                out_rows, columns=["media_id", "content", "width", "height"]
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("content", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )
    images = media.filter(F.col("media_meta.kind") == "image")
    return images.select("media_id", "content").mapInPandas(_resize, schema)


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def dhash64(media: DataFrame) -> DataFrame:
    """64-bit perceptual difference-hash (dHash) per media blob — the
    image near-dup primitive (aHash/dHash family: thumbnail, then sign
    of adjacent-cell gradients).

    The DECODE step is the deterministic codec-free stand-in this
    container mandates: content bytes are treated as a grayscale
    stream and block-averaged into the 8x9 thumbnail a real decoder
    would produce (swap ``_thumb`` for a PIL resize when a codec is
    available — everything downstream, including banding and Hamming
    verify, is unchanged). Small byte perturbations move few cells, so
    Hamming distance over the hash tracks content similarity — the
    property the near-dup tests pin.

    Arrow-batched mapInPandas (numpy reduceat per blob; constant
    memory per task), like every blob op in this module.
    """

    def _hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)

        def _thumb(b: bytes) -> "np.ndarray":
            # deterministic fake decode: 72-cell block average (8 rows
            # x 9 cols); empty slices read 0
            n = len(b)
            if n == 0:
                return np.zeros(72)
            arr = np.frombuffer(b, dtype=np.uint8)
            edges = (np.arange(72) * n) // 72
            sums = np.add.reduceat(arr.astype(np.float64), edges)
            widths = np.diff(np.append(edges, n))
            empty = widths == 0
            widths[empty] = 1
            out = sums / widths
            out[empty] = 0.0
            return out

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                t = _thumb(bytes(content)).reshape(8, 9)
                bits = (t[:, 1:] > t[:, :-1]).ravel()  # 8x8 gradients
                h = (bits.astype(np.uint64) * weights).sum()
                rows.append((mid, int(np.int64(h))))
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return media.select("media_id", "content").mapInPandas(
        _hashes, PHASH_SCHEMA
    )


# Auto-switch distinct-hash cache: ONE persisted frame per session
# (ADVICE r14 — the eager localCheckpoint here pinned executor blocks
# that were never released and, being a lineage cut, could not be
# recomputed after executor loss). persist() keeps the lineage, so
# retiring an old cache is always safe — a cached plan that still
# references it just recomputes the skinny distinct scan. Keyed
# weakly by session so a stopped session's entry is collectable.
_PHASH_SWITCH_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def release_phash_switch_cache(spark=None) -> None:
    """Unpersist the auto-switch distinct-hash cache (one session's,
    or every live session's). Safe at any time: the frame is
    persisted, not checkpointed, so downstream plans recompute."""
    sessions = [spark] if spark is not None else list(_PHASH_SWITCH_CACHE)
    for s in sessions:
        df = _PHASH_SWITCH_CACHE.pop(s, None)
        if df is not None:
            df.unpersist()


def phash_near_dup_pairs(
    hashes: DataFrame,
    max_distance: int = 6,
    bands: int = 8,
    combinatorial: bool | None = None,
) -> DataFrame:
    """Near-dup pairs among DISTINCT phash values by banded Hamming
    join: a 64-bit hash within ``max_distance`` bit flips of another
    must agree exactly on at least one of ``bands`` disjoint bit bands
    whenever ``max_distance < bands`` (pigeonhole — the SimHash
    banding argument; the defaults 6 < 8 make twin recall a
    guarantee), so candidates come from ``bands`` equi-joins on the
    band values and verify with one native ``bit_count(xor)``.

    Operating on DISTINCT hash values is the mega-cluster treatment:
    exact duplicates (huge identical-phash groups — 53% of the sf0.1
    corpus) collapse to ONE node before pair-gen, so bucket fanout is
    bounded by distinct-value counts, never by duplicate multiplicity;
    membership re-attaches by hash equality afterwards.

    ``combinatorial`` is the dense-regime treatment for the bucket
    SPACE: single-band keys have only ``2^(64/bands)`` possible values
    per band (256 at the 8-band default), so once distinct hashes
    outgrow that space the bucket self-join goes quadratic in bucket
    load no matter how the corpus grows — the fixed-bucket-space
    failure the r12 LSH tuner receipts measured, structural here
    because the recall theorem pins bands >= max_distance + 1 on a
    64-bit hash. The multi-index escape keeps the theorem and widens
    the keys: index all C(bands, 2) band PAIRS as (2*width)-bit
    values — a pair within ``max_distance <= bands - 2`` flips bits in
    at most ``max_distance`` bands, leaving >= 2 bands intact, so at
    least one band PAIR agrees exactly (pigeonhole again). Bucket
    entropy rises from ``width`` to ``2*width`` bits (256x at the
    default) for a C(bands,2)/bands (3.5x) explode cost, and the
    verified pair set is IDENTICAL (both schemes guarantee candidacy
    for every pair the Hamming verify can keep). ``None`` (default)
    auto-switches: localCheckpoint the distinct-hash frame and count
    it (ONE job — the checkpoint then feeds pair-gen, so the distinct
    scan runs exactly once) and go combinatorial once they exceed
    16x the single-band bucket space (avg bucket load > 16); pass
    ``combinatorial`` explicitly to stay fully lazy.

    Returns (hash_a, hash_b, hamming) with hash_a < hash_b.
    """
    if not 0 < bands <= 64:
        raise ValueError(f"bands must be in 1..64, got {bands}")
    if max_distance >= bands:
        import warnings

        warnings.warn(
            f"max_distance={max_distance} >= bands={bands}: the banded "
            "join no longer guarantees recall (a pair can differ in "
            "every band); raise bands or lower max_distance",
            stacklevel=2,
        )
    width = 64 // bands
    # all 64 bits (bands=1) is -1 as a signed long; 1 << 64 overflows
    mask = -1 if width == 64 else (1 << width) - 1
    distinct = hashes.select("phash").distinct()
    if combinatorial is None:
        # ADVICE r13: materialize the distinct frame ONCE before the
        # switch count so the count populates the cache and banding
        # reuses it, instead of recomputing the distinct scan twice
        # (once for the count, once for pair-gen). ADVICE r14: this is
        # persist(), not localCheckpoint() — lineage survives executor
        # loss, and retiring the cache never invalidates a plan — and
        # each session holds at most ONE such cache: a new auto-switch
        # call unpersists the previous frame, so a long driver session
        # cannot accumulate distinct-hash blocks. The one eager count
        # job is the price of a data-dependent switch; callers that
        # know their regime pass combinatorial explicitly and stay
        # fully lazy.
        spark = distinct.sparkSession
        distinct = distinct.persist()
        prev = _PHASH_SWITCH_CACHE.get(spark)
        if prev is not None and prev is not distinct:
            prev.unpersist()
        _PHASH_SWITCH_CACHE[spark] = distinct
        combinatorial = distinct.count() > 16 * (1 << width)
    if combinatorial and max_distance > bands - 2:
        import warnings

        warnings.warn(
            f"combinatorial banding needs max_distance <= bands - 2 "
            f"for guaranteed recall (got d={max_distance}, "
            f"bands={bands}): a pair may leave fewer than 2 bands "
            "intact and miss every band-pair bucket",
            stacklevel=2,
        )

    def band_val(i: int) -> str:
        return f"(shiftrightunsigned(phash, {i * width}) & CAST({mask} AS BIGINT))"

    if combinatorial:
        keys = [
            f"(shiftleft({band_val(i)}, {width}) | {band_val(j)})"
            for i in range(bands)
            for j in range(i + 1, bands)
        ]
    else:
        keys = [band_val(i) for i in range(bands)]
    banded = band_explode(distinct, "phash", keys)
    cands = (
        banded.select("band", "bucket", F.col("phash").alias("hash_a"))
        .join(
            banded.select("band", "bucket", F.col("phash").alias("hash_b")),
            ["band", "bucket"],
        )
        .filter(F.col("hash_a") < F.col("hash_b"))
        .select("hash_a", "hash_b")
        .distinct()
    )
    ham = F.bit_count(
        F.col("hash_a").bitwiseXOR(F.col("hash_b"))
    )
    return cands.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_distance
    )


def phash_groups(
    media: DataFrame,
    max_distance: int = 6,
    bands: int = 8,
    combinatorial: bool | None = None,
) -> DataFrame:
    """Perceptual near-dup CLUSTERS over a media table: dHash each
    blob, close the banded-Hamming graph over distinct hash values
    with connected components (min-hash-value labels), and assign
    every media row its cluster — (media_id, phash, phash_cluster,
    cluster_size). Exact-dup mega-groups ride one graph node
    (see :func:`phash_near_dup_pairs`); CC is the same pointer-jumped
    operator the text dedup pipeline uses."""
    from pyspark.sql.window import Window

    from hummingbirddatapipeline_spark.operators.graph import (
        connected_components,
    )

    hashes = dhash64(media)
    pairs = phash_near_dup_pairs(hashes, max_distance, bands, combinatorial)
    cc = connected_components(pairs, "hash_a", "hash_b").select(
        F.col("node").alias("phash"),
        F.col("cluster_id").alias("phash_cluster"),
    )
    labeled = hashes.join(cc, "phash", "left").select(
        "media_id",
        "phash",
        F.coalesce("phash_cluster", F.col("phash")).alias("phash_cluster"),
    )
    w = Window.partitionBy("phash_cluster")
    return labeled.withColumn("cluster_size", F.count("*").over(w))


def patch_plan(media: DataFrame, patch: int = 16) -> DataFrame:
    """ViT-style patch-grid manifest for image media — the
    preprocessing PLAN a vision tower needs before any pixel is
    decoded: per image, the ceil-division patch grid at ``patch``
    pixels, the total patch count (the sequence length the image will
    occupy), and the right/bottom padding the grid implies. Pure
    integer arithmetic over the typed metadata (width/height), so the
    plan is exact on any engine and never touches content bytes —
    the decode stays behind the optional-dependency gate, the
    manifest does not (same split as sample_frames' frame plan).

    Returns (media_id, width, height, n_patch_x, n_patch_y,
    n_patches, pad_x, pad_y) for ``kind = 'image'`` rows.

    Scale shape: a zero-shuffle map pass over metadata columns —
    planning 100 TB of images moves no image bytes at all.
    """
    if patch < 1:
        raise ValueError("patch_plan: patch >= 1")
    w = F.col("media_meta.width").cast("long")
    h = F.col("media_meta.height").cast("long")
    npx = ((w + patch - 1) / patch).cast("long")
    npy = ((h + patch - 1) / patch).cast("long")
    return media.filter(F.col("media_meta.kind") == "image").select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        npx.alias("n_patch_x"),
        npy.alias("n_patch_y"),
        (npx * npy).alias("n_patches"),
        (npx * patch - w).alias("pad_x"),
        (npy * patch - h).alias("pad_y"),
    )
