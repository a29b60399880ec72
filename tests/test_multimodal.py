"""Multimodal binary-column plumbing tests: schema shape, Arrow batch
iteration, codec gating, deterministic frame plans, resize passthrough.
"""

from __future__ import annotations

import hashlib

import pytest

from hummingbirddatapipeline_spark.multimodal.core import (
    byte_features,
    decode_image,
    resize_images,
    sample_frames,
    synth_media_from_documents,
)
from hummingbirddatapipeline_spark.tables import load


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(30)
    return synth_media_from_documents(docs).cache()


def test_media_schema(media):
    fields = dict(media.dtypes)
    assert fields["content"] == "binary"
    assert fields["media_meta"].startswith("struct<kind:string,format:string")
    kinds = {r["kind"] for r in media.select("media_meta.kind").distinct().collect()}
    assert kinds <= {"image", "audio", "video"}


def test_byte_features_match_local_hash(media):
    feats = {r["media_id"]: r for r in byte_features(media).collect()}
    for row in media.select("media_id", "content").collect():
        b = bytes(row["content"])
        f = feats[row["media_id"]]
        assert f["byte_size"] == len(b)
        assert f["content_sha256"] == hashlib.sha256(b).hexdigest()
        assert 0.0 <= f["byte_entropy"] <= 8.0


def test_decode_is_gated_not_broken():
    """Without PIL the decode step must fail loudly (stub contract),
    never silently return garbage."""
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n", "png")


def test_frame_plan_deterministic(media):
    plan = sample_frames(media, every_ms=1000)
    rows = plan.collect()
    assert rows, "no video rows sampled"
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.select("media_id", "media_meta.duration_ms").collect()
    }
    for mid, frames in by_media.items():
        idxs = sorted(f["frame_index"] for f in frames)
        assert idxs == list(range(len(idxs)))  # dense 0..n-1
        expected = max(durations[mid] // 1000, 1)
        assert len(idxs) == expected
        for f in frames:
            assert f["frame_offset_ms"] == f["frame_index"] * 1000


def test_resize_passthrough_without_codec(media):
    out = resize_images(media, 32, 32)
    rows = out.collect()
    assert rows, "no image rows"
    originals = {
        r["media_id"]: bytes(r["content"])
        for r in media.filter("media_meta.kind = 'image'").collect()
    }
    for r in rows:
        assert (r["width"], r["height"]) == (32, 32)
        # codec-free environment: bytes pass through unchanged
        assert bytes(r["content"]) == originals[r["media_id"]]


def test_dhash_deterministic_and_exact_dup_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from hummingbirddatapipeline_spark.multimodal.core import (
        dhash64,
        synth_media_from_documents,
    )
    from hummingbirddatapipeline_spark.tables import load

    base = synth_media_from_documents(load(spark, sf_dir, "documents"))
    # inject exact-byte duplicates (the raw corpus has none at small
    # SFs): every doc's content repeated under a shifted id
    dup = base.select(
        (F.col("media_id") + 50_000).alias("media_id"), "content"
    )
    media = base.select("media_id", "content").unionByName(dup)
    h1 = {r["media_id"]: r["phash"] for r in dhash64(media).collect()}
    h2 = {
        r["media_id"]: r["phash"]
        for r in dhash64(media.repartition(7)).collect()
    }
    assert h1 == h2
    # identical bytes -> identical phash, for every injected pair
    for r in base.select("media_id").collect():
        mid = r["media_id"]
        assert h1[mid] == h1[mid + 50_000]


def test_phash_finds_perturbed_twins_not_random_pairs(spark):
    """The perceptual property: a few flipped bytes stay within the
    Hamming budget and land in the twin's cluster; unrelated blobs do
    not collapse together."""
    import random

    from hummingbirddatapipeline_spark.multimodal.core import phash_groups

    rng = random.Random(11)
    blobs = [
        bytes(rng.randrange(256) for _ in range(800)) for _ in range(20)
    ]
    rows = [(i, blobs[i]) for i in range(20)]
    # twins: flip 3 bytes of the first five blobs
    for i in range(5):
        b = bytearray(blobs[i])
        for k in (11, 402, 760):
            b[k] ^= 0xFF
        rows.append((100 + i, bytes(b)))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    clusters = {
        r["media_id"]: r["phash_cluster"]
        for r in phash_groups(media, max_distance=6).collect()
    }
    paired = sum(1 for i in range(5) if clusters[i] == clusters[100 + i])
    assert paired >= 4  # >= 80% twin recall at 3 flipped bytes
    # unrelated originals stay apart
    base_clusters = [clusters[i] for i in range(20)]
    assert len(set(base_clusters)) >= 18


def test_phash_banding_guards(spark):
    import pytest

    from hummingbirddatapipeline_spark.multimodal.core import (
        phash_near_dup_pairs,
    )

    hashes = spark.createDataFrame([(1, 5), (2, 7)], ["media_id", "phash"])
    with pytest.raises(ValueError, match="bands must be"):
        phash_near_dup_pairs(hashes, bands=0)
    with pytest.warns(UserWarning, match="no longer guarantees recall"):
        phash_near_dup_pairs(hashes, max_distance=8, bands=4)


def test_phash_single_band_masks_all_64_bits(spark):
    """``bands=1`` is one 64-bit band: its mask is every bit, which as a
    signed long is -1 (``(1 << 64) - 1`` overflows the cast). Three
    hashes: two equal ones with bit 63 set (one distinct value) and one
    that differs from them only in bit 63. Pairs are among distinct
    values, so one full-width band yields none, even when the verify
    would keep a distance of 1; two bands recall that pair, as brute
    force over the distinct values says."""
    from hummingbirddatapipeline_spark.multimodal.core import (
        phash_near_dup_pairs,
    )

    def signed(u):
        return u - (1 << 64) if u >> 63 else u

    u = (1 << 63) | 0x00F0F0F0F0F0F0F0
    neg, pos = signed(u), signed(u ^ (1 << 63))
    assert neg < 0 < pos
    hashes = spark.createDataFrame(
        [(1, neg), (2, neg), (3, pos)], "media_id long, phash long"
    )

    def pairs(**kw):
        return {
            tuple(r)
            for r in phash_near_dup_pairs(hashes, combinatorial=False, **kw)
            .select("hash_a", "hash_b", "hamming")
            .collect()
        }

    def brute(max_distance):
        vals = sorted({neg, pos})
        return {
            (a, b, bin((a ^ b) & ((1 << 64) - 1)).count("1"))
            for i, a in enumerate(vals)
            for b in vals[i + 1:]
            if bin((a ^ b) & ((1 << 64) - 1)).count("1") <= max_distance
        }

    assert pairs(bands=1, max_distance=0) == brute(0) == set()
    # a mask that dropped bit 63 would bucket neg with pos and keep them
    with pytest.warns(UserWarning, match="no longer guarantees recall"):
        assert pairs(bands=1, max_distance=1) == set()
    assert pairs(bands=2, max_distance=1) == brute(1) == {(neg, pos, 1)}


def test_phash_combinatorial_banding_equals_single_band(spark):
    """The multi-index (band-PAIR) candidate scheme must produce the
    verified pair set of the single-band scheme exactly: both
    guarantee candidacy for every pair within max_distance <= bands-2
    and share the Hamming verify. Fixture: 60 seeded base hashes, each
    with a <= 5-bit-flip twin (true pair by construction) and the
    random cross pairs land wherever they land — set equality covers
    both."""
    import random

    from hummingbirddatapipeline_spark.multimodal.core import (
        phash_near_dup_pairs,
    )

    rng = random.Random(11)
    rows = []
    for i in range(60):
        h = rng.getrandbits(63)
        twin = h
        for b in rng.sample(range(63), 5):  # flip 5 distinct bits
            twin ^= 1 << b
        rows.append((2 * i, h))
        rows.append((2 * i + 1, twin))
    hashes = spark.createDataFrame(rows, "media_id long, phash long")
    single = {
        (r["hash_a"], r["hash_b"], r["hamming"])
        for r in phash_near_dup_pairs(hashes, combinatorial=False).collect()
    }
    multi = {
        (r["hash_a"], r["hash_b"], r["hamming"])
        for r in phash_near_dup_pairs(hashes, combinatorial=True).collect()
    }
    assert multi == single
    assert len(single) >= 60  # every 5-flip twin pair recalled


def test_phash_auto_switch_cache_is_bounded_and_releasable(spark):
    """ADVICE r14: the auto-switch distinct-hash cache must (a) hold at
    most ONE persisted frame per session across repeated invocations —
    a new auto-switch call retires the previous frame — and (b) be
    recomputable: releasing the cache never breaks a plan built on it,
    because it is persist()-ed (lineage kept), not checkpointed."""
    import random

    from hummingbirddatapipeline_spark.multimodal.core import (
        _PHASH_SWITCH_CACHE,
        phash_near_dup_pairs,
        release_phash_switch_cache,
    )

    rng = random.Random(7)
    mk = lambda n: spark.createDataFrame(
        [(i, rng.getrandbits(63)) for i in range(n)],
        "media_id long, phash long",
    )
    df1 = phash_near_dup_pairs(mk(30), combinatorial=None)
    first = _PHASH_SWITCH_CACHE.get(spark)
    assert first is not None and first.storageLevel.useMemory
    df2 = phash_near_dup_pairs(mk(40), combinatorial=None)
    second = _PHASH_SWITCH_CACHE.get(spark)
    # exactly one tracked frame; the previous one was unpersisted
    assert second is not None and second is not first
    assert not first.storageLevel.useMemory or first.storageLevel is None
    # release, then the plan built on the cache still evaluates
    release_phash_switch_cache(spark)
    assert _PHASH_SWITCH_CACHE.get(spark) is None
    df1.collect()
    df2.collect()
