"""Multimodal plumbing: batch shapes, row expansion, and stub-decoder
determinism for the mapInPandas stages (SURVEY §7 step 7)."""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from riot_graphs_spark.operators.multimodal import (
    audio_window_features,
    extract_image_features,
)

#: A multimodal document: opaque payload + typed metadata, the columns
#: ``operators.multimodal.media_from_documents`` derives.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def synthetic_media(spark, n: int = 64):
    """Deterministic in-memory media table (payload = repeatable bytes
    derived from the id)."""
    rows = [
        (
            i,
            bytes([(i * 7 + k) % 256 for k in range(16)]),
            ["image", "audio", "video"][i % 3],
            64 + i % 32,
            64 + i % 16,
            1000 * (1 + i % 10),
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_audio_windows_expand_and_cover_all_samples(spark):
    media = synthetic_media(spark, n=12)
    out = audio_window_features(media, hop_ms=500).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    audio_ids = {r.media_id for r in media.filter("media_type = 'audio'").collect()}
    assert set(by_id) == audio_ids
    for mid, rows in by_id.items():
        dur = 1000 * (1 + mid % 10)
        # inclusive range(0, dur, 500): dur/500 + 1 windows
        assert len(rows) == dur // 500 + 1
        assert sorted(r.window_start_ms for r in rows) == list(
            range(0, dur + 1, 500)
        )
        # every window scores a non-empty slice; payload is 16 bytes total
        assert all(r.n_samples >= 1 for r in rows)
        assert all(r.rms >= 0.0 for r in rows)


def test_audio_rms_deterministic_across_runs(spark):
    media = synthetic_media(spark, n=6)
    a = {(r.media_id, r.window_start_ms): r.rms
         for r in audio_window_features(media).collect()}
    b = {(r.media_id, r.window_start_ms): r.rms
         for r in audio_window_features(media).collect()}
    assert a == b and len(a) > 0


def test_image_features_null_payload_yields_null_feature(spark):
    from pyspark.sql import functions as F

    media = synthetic_media(spark, n=6).withColumn(
        "payload", F.when(F.col("media_id") % 2 == 0, F.col("payload"))
    )
    got = {r.media_id: (r.n_bytes, r.feature)
           for r in extract_image_features(media).collect()}
    assert got[1][0] == 0 and got[1][1] is None  # tolerated, not crashed
    assert got[0][0] == 16 and len(got[0][1]) == 8


def test_resize_images_aspect_fit_and_corrupt_raises(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.multimodal import resize_images

    media = synthetic_media(spark, n=12)
    got = {r.media_id: r for r in resize_images(media, 64, 48).collect()}
    for r in got.values():
        # fits the box, preserves aspect within floor-division error
        assert r.out_width <= 64 and r.out_height <= 48
        assert r.out_width == 64 or r.out_height == 48  # touches one edge
        assert r.n_bytes_out == r.out_width * r.out_height * 3
        if r.out_height == 48:
            assert r.out_width == max(1, (r.orig_width * 48) // r.orig_height)
    # corrupt payload raises like a real decoder
    bad = spark.createDataFrame(
        [(99, None, "image", 10, 10, 0)], media.schema
    )
    with _pytest.raises(Exception, match="corrupt|NotImplemented"):
        resize_images(bad).collect()


def test_phash_dct_basis_is_orthonormal():
    import numpy as np

    from riot_graphs_spark.operators.multimodal import _dct2_matrix

    d = _dct2_matrix(32)
    assert np.allclose(d @ d.T, np.eye(32), atol=1e-12)


def test_phash_deterministic_and_signed64(spark):
    from riot_graphs_spark.operators.multimodal import phash_images

    media = synthetic_media(spark, n=24)
    a = {r.media_id: r.phash for r in phash_images(media).collect()}
    b = {r.media_id: r.phash for r in phash_images(media).collect()}
    assert a == b and len(a) == 8  # images only (n % 3 == 0 rows)
    assert all(-(2**63) <= v < 2**63 for v in a.values())
    assert len(set(a.values())) > 1  # payload-sensitive, not constant


def test_phash_pairs_find_exact_duplicates(spark):
    from riot_graphs_spark.operators.multimodal import phash_near_dup_pairs

    payload = bytes(range(16))
    other = bytes(255 - b for b in range(16))
    rows = [
        (1, payload, "image", 64, 64, 0),
        (2, payload, "image", 32, 32, 0),  # same bytes, different metadata
        (3, other, "image", 64, 64, 0),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in phash_near_dup_pairs(media, max_hamming=0, bands=1).collect()}
    assert pairs == {(1, 2): 0}


def test_phash_banding_has_total_recall_vs_brute_force(spark):
    from riot_graphs_spark.operators.multimodal import (
        phash_images,
        phash_near_dup_pairs,
    )

    media = synthetic_media(spark, n=48)
    hashes = {r.media_id: r.phash for r in phash_images(media).collect()}
    radius = 15  # bands=16 divides 64 and exceeds the radius (pigeonhole)
    ids = sorted(hashes)
    brute = {
        (a, b): bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1") <= radius
    }
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in phash_near_dup_pairs(media, max_hamming=radius, bands=16).collect()
    }
    assert banded == brute  # pigeonhole: no pair within radius is missed


def test_phash_corrupt_payload_raises(spark):
    import pytest

    from riot_graphs_spark.operators.multimodal import phash_images

    media = spark.createDataFrame(
        [(1, None, "image", 8, 8, 0)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="corrupt|NotImplemented|PythonException"):
        phash_images(media).collect()


def test_phash_vectorized_matches_scalar_reference(spark):
    from riot_graphs_spark.operators.multimodal import (
        _dct2_matrix,
        _luma_matrix_stub,
        _phash64,
        phash_images,
    )

    media = synthetic_media(spark, n=24)
    got = {r.media_id: r.phash for r in phash_images(media).collect()}
    d = _dct2_matrix(32)
    for r in media.filter("media_type = 'image'").collect():
        assert got[r.media_id] == _phash64(_luma_matrix_stub(bytes(r.payload)), d)


def test_audio_fingerprint_deterministic_and_32bit(spark):
    from riot_graphs_spark.operators.multimodal import audio_fingerprints

    media = synthetic_media(spark, n=24)
    a = {r.media_id: r.afp for r in audio_fingerprints(media).collect()}
    b = {r.media_id: r.afp for r in audio_fingerprints(media).collect()}
    assert a == b and len(a) == 8  # audio rows only (media_id % 3 == 1)
    assert all(0 <= v < 2**32 for v in a.values())
    assert len(set(a.values())) > 1


def test_audio_pairs_find_exact_duplicates_and_recall(spark):
    from riot_graphs_spark.operators.multimodal import (
        audio_fingerprints,
        audio_near_dup_pairs,
    )

    payload = bytes((i * 13 + 7) % 256 for i in range(64))
    rows = [
        (1, payload, "audio", None, None, 1000),
        (2, payload, "audio", None, None, 2000),  # same signal, diff meta
        (3, bytes(reversed(payload)), "audio", None, None, 1000),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_near_dup_pairs(
            media, max_hamming=0, bands=1, max_bucket_size=None
        ).collect()
    }
    assert pairs == {(1, 2): 0}

    # total recall vs brute force at radius 7 (8 bands of 4 bits divide 32)
    big = synthetic_media(spark, n=48)
    fps = {r.media_id: r.afp for r in audio_fingerprints(big).collect()}
    ids = sorted(fps)
    radius = 7
    brute = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= radius
    }
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in audio_near_dup_pairs(
            big, max_hamming=radius, bands=8, max_bucket_size=None
        ).collect()
    }
    assert banded == brute


def test_audio_fingerprint_batch_matches_scalar():
    from riot_graphs_spark.operators.multimodal import (
        _afp_batch,
        _audio_fingerprint,
    )

    pcms = [
        [((i * 31 + j * 7) % 256) - 128 for j in range(n)]
        for i, n in enumerate([5, 16, 33, 64, 64, 257])
    ]
    batch = _afp_batch(pcms)
    for i, p in enumerate(pcms):
        assert int(batch[i]) == _audio_fingerprint(p)
