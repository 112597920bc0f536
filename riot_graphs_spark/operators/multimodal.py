"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata structs, processed by Arrow-batched ``mapInPandas`` stages
(SURVEY §7 step 7 extension surface).

The decode kernels themselves are STUBBED — the image/audio libraries are not
in this container — behind :func:`_decode_image_stub`, which is a
deterministic fake so the Spark-side plumbing (schema, batch shape,
partitioning) is real and testable. Swap the stub for Pillow/torchaudio/
PyAV in production; nothing else changes.

Scale notes: media payloads dominate row size, so these stages

- keep the payload in one column and never shuffle it (all derivations are
  narrow mapInPandas over the scan),
- emit small fixed-width feature columns that downstream joins/aggs use, so
  the heavy binary column can be pruned immediately after this stage,
- size partitions by bytes not rows (``spark.sql.files.maxPartitionBytes``),
  since row counts say nothing about media partition weight.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def _decode_image_stub(payload: bytes) -> list[float]:
    """Deterministic fake decoder: 8 'pixels' derived from payload bytes.

    Production: ``PIL.Image.open(io.BytesIO(payload))`` → resize → normalize.
    Raises on None to mirror a real decoder's behavior on corrupt input.
    """
    if payload is None:
        raise NotImplementedError("corrupt/missing payload")
    return [float(b) / 255.0 for b in payload[:8]] or [0.0]


def extract_image_features(media: DataFrame, batch_hint: int = 256) -> DataFrame:
    """Decode + featurize images via mapInPandas (Arrow batches, connection/
    model state initialized once per partition — the pattern that replaces
    the reference's per-row HTTP anti-pattern, SURVEY §2.1 S5)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-partition init goes here (model load, codec handles, …).
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: None if p is None else _decode_image_stub(p)
                    ),
                }
            )
            yield out

    return media.mapInPandas(decode_batches, schema=IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame offset.

    The frame decode is stubbed (no PyAV here); the row explosion — the part
    Spark owns — is real: ``sequence(0, duration_ms, every_ms)`` + explode,
    a narrow op whose output inherits the scan's partitioning.
    """
    return media.filter(F.col("media_type") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("duration_ms"), F.lit(0)), F.lit(every_ms))
        ).alias("frame_offset_ms"),
    )


AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_start_ms", LongType()),
        StructField("rms", DoubleType()),
        StructField("n_samples", IntegerType()),
    ]
)


def _decode_audio_stub(payload: bytes) -> list[int]:
    """Deterministic fake PCM decoder: payload bytes recentered to
    [-128, 127]. Production: ``torchaudio.load`` / ``soundfile.read``;
    raises on None like a real codec would on corrupt input."""
    if payload is None:
        raise NotImplementedError("corrupt/missing payload")
    return [b - 128 for b in payload] or [0]


def audio_window_features(
    media: DataFrame, hop_ms: int = 250
) -> DataFrame:
    """Windowed audio features (RMS energy per hop) via a row-EXPANDING
    mapInPandas: each audio row decodes once and emits one output row per
    window, so the heavy payload is read exactly once and never duplicated
    across windows — the explode-then-decode alternative would shuffle one
    payload copy per window.

    Window offsets are ``range(0, duration_ms, hop_ms)`` inclusive (same
    spine as :func:`frame_sample_plan`); each window covers the
    proportional slice of the decoded sample array.
    """

    def window_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, starts, rms, counts = [], [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                pcm = _decode_audio_stub(payload)
                dur = int(dur) if dur and dur > 0 else 0
                n = len(pcm)
                for start in range(0, dur + 1, hop_ms):
                    lo = min(n - 1, start * n // max(dur, 1))
                    hi = min(n, max(lo + 1, (start + hop_ms) * n // max(dur, 1)))
                    seg = pcm[lo:hi]
                    ids.append(mid)
                    starts.append(start)
                    rms.append(float((sum(s * s for s in seg) / len(seg)) ** 0.5))
                    counts.append(len(seg))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "window_start_ms": pd.Series(starts, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "n_samples": pd.Series(counts, dtype="int32"),
                }
            )

    audio = media.filter(F.col("media_type") == "audio")
    return audio.mapInPandas(window_batches, schema=AUDIO_WINDOW_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table — ``media_id``, binary
    ``payload``, ``media_type`` (image|audio|video), ``width``, ``height``,
    ``duration_ms`` — from the driver's ``documents`` fixture
    (payload = UTF-8 bytes of the first 16 chars),
    so multimodal stages are exercised against driver data and remain
    oracle-checkable on the metadata columns."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 16), "UTF-8").alias("payload"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        # varied, id-derived dims so aspect-dependent stages (resize fit)
        # are non-vacuous against the fixture
        (F.lit(32) + F.col("doc_id") % 97).cast("int").alias("width"),
        (F.lit(32) + F.col("doc_id") % 61).cast("int").alias("height"),
        F.col("n_chars").alias("duration_ms"),
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("orig_width", IntegerType()),
        StructField("orig_height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("n_bytes_out", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def _fit_box(w: int, h: int, box_w: int, box_h: int) -> tuple[int, int]:
    """Aspect-preserving fit into (box_w, box_h) — pure integer arithmetic
    (floor division) so the plan's metadata is engine-exact."""
    if w * box_h <= box_w * h:  # height is the binding constraint
        return max(1, (w * box_h) // h), box_h
    return box_w, max(1, (h * box_w) // w)


def resize_images(
    media: DataFrame, box_w: int = 64, box_h: int = 48, batch_hint: int = 256
) -> DataFrame:
    """Batch image resize via mapInPandas — the brief's resize stage: the
    Spark-side plumbing (schema, Arrow batching, per-partition init point,
    aspect-fit target arithmetic) is real; only the pixel resample is a
    deterministic STUB (production: PIL `Image.resize` inside the batch
    loop — the image libs aren't in this container).

    Output dims use integer aspect-fit (floor division) so the metadata
    columns stay oracle-checkable; ``n_bytes_out`` is the decoded RGB size
    the downstream loader would allocate. Corrupt (None) payloads raise,
    mirroring a real decoder."""
    bw, bh = int(box_w), int(box_h)

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-partition init goes here (codec handles, thread pools, …).
        for pdf in batches:
            dims = [
                _fit_box(int(w), int(h), bw, bh)
                for w, h in zip(pdf["width"], pdf["height"])
            ]

            def _stub(p):
                if p is None:
                    raise NotImplementedError("corrupt/missing payload")
                return bytes(p)  # production: resampled pixel buffer

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "orig_width": pdf["width"].astype("int32"),
                    "orig_height": pdf["height"].astype("int32"),
                    "out_width": [d[0] for d in dims],
                    "out_height": [d[1] for d in dims],
                    "n_bytes_out": [d[0] * d[1] * 3 for d in dims],
                    "payload": pdf["payload"].map(_stub),
                }
            )

    return media.mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


PHASH_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("phash", LongType())]
)


def _luma_matrix_stub(payload: bytes, n: int = 32) -> "object":
    """Deterministic fake LUMA PLANE: payload bytes tiled to an n×n float
    matrix in [0, 1]. This is the only stubbed step of the pHash stage
    (production: decode + grayscale + n×n resample via PIL); the DCT,
    median threshold, and bit packing below are the real algorithm.
    Raises on None to mirror a real decoder's behavior on corrupt input."""
    import numpy as np

    if payload is None:
        raise NotImplementedError("corrupt/missing payload")
    buf = np.frombuffer(payload, dtype=np.uint8)
    if buf.size == 0:
        buf = np.zeros(1, dtype=np.uint8)
    tiled = np.resize(buf, n * n).astype(np.float64) / 255.0
    return tiled.reshape(n, n)


def _dct2_matrix(n: int) -> "object":
    """Orthonormal DCT-II basis matrix (the standard JPEG/pHash transform):
    ``D @ A @ D.T`` computes the 2-D DCT of A. Pure numpy, no scipy."""
    import numpy as np

    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    d = np.cos(np.pi / n * (i + 0.5) * k) * np.sqrt(2.0 / n)
    d[0, :] = np.sqrt(1.0 / n)
    return d


def _phash64(luma: "object", dct_mat: "object") -> int:
    """64-bit perceptual hash of an n×n luma plane — the classic pHash
    recipe (Zauner; same convention as the `imagehash` library): 2-D DCT,
    keep the top-left 8×8 low-frequency block, threshold each coefficient
    against the block's MEDIAN, pack row-major into 64 bits. Returned as a
    signed two's-complement int so it fits Spark's LongType exactly."""
    import numpy as np

    coeffs = (dct_mat @ luma @ dct_mat.T)[:8, :8]
    med = np.median(coeffs)
    bits = (coeffs > med).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def phash_images(media: DataFrame) -> DataFrame:
    """Perceptual-hash stage: one 64-bit pHash per image row via Arrow-
    batched mapInPandas. The DCT basis is built ONCE per partition (the
    per-partition init slot every decode stage here reserves); each row is
    one matmul + median. The payload never shuffles — output is
    ``(media_id, phash)``, 16 bytes/row."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        dct_mat = _dct2_matrix(32)  # per-partition init, reused per batch
        weights = (1 << np.arange(63, -1, -1, dtype=np.uint64))
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"media_id": pdf["media_id"],
                                    "phash": pd.Series([], dtype="int64")})
                continue
            # One broadcast matmul for the whole Arrow batch — (n,32,32)
            # stack through D·A·Dᵀ — instead of a per-row Python loop
            # (measured ~4× on the sf0.1 fixture).
            stack = np.stack(
                [_luma_matrix_stub(p) for p in pdf["payload"]]
            )
            coeffs = (dct_mat @ stack @ dct_mat.T)[:, :8, :8].reshape(-1, 64)
            med = np.median(coeffs, axis=1, keepdims=True)
            bits = coeffs > med
            packed = (bits.astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": pd.Series(
                        packed.astype(np.int64), dtype="int64"
                    ),
                }
            )

    imgs = media.filter(F.col("media_type") == "image")
    return imgs.select("media_id", "payload").mapInPandas(
        hash_batches, schema=PHASH_SCHEMA
    )


def phash_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    *,
    bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs: pHash + the SAME pigeonhole-banded
    Hamming join the text path uses (``dedup.hamming_banded_pairs`` over
    64 bits) — 100% recall at the radius, candidates via band equi-join,
    never all-pairs. This is the image half of corpus dedup: re-encoded /
    resized copies of one image land within a few bits of each other.
    Output: ``(doc_a, doc_b, hamming)`` over media_ids."""
    from .dedup import hamming_banded_pairs

    return hamming_banded_pairs(
        phash_images(media),
        sig_col="phash",
        id_col="media_id",
        max_hamming=max_hamming,
        bits=64,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )


AUDIO_FP_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("afp", LongType())]
)


def _audio_fingerprint(pcm: list, n_frames: int = 16, n_bands: int = 33) -> int:
    """32-bit acoustic fingerprint of a PCM buffer — the chromaprint-style
    recipe, all REAL math (only the PCM itself comes from the stub
    decoder): pad/tile the signal to ``n_frames`` equal frames, FFT each,
    sum magnitude² into ``n_bands`` contiguous bands, take the double-delta
    sign ``(E[f][b]−E[f][b+1]) − (E[f−1][b]−E[f−1][b+1]) > 0`` per (frame,
    band-pair), then fold frames into one signature by per-bit majority —
    re-encoded or slightly-trimmed copies of a clip keep most bits.
    Deterministic; returns a value in int32 range (fits LongType, and the
    32-bit width matches the SimHash banding default downstream).

    This scalar form is the REFERENCE; :func:`audio_fingerprints` runs the
    identical arithmetic batched (one rfft per same-length group) and is
    parity-tested against it."""
    import numpy as np

    sig = _afp_batch([pcm], n_frames, n_bands)
    return int(sig[0])


def _afp_pad_len(n: int, n_frames: int) -> int:
    """Padded PCM length: at least 2 samples per frame, multiple of
    n_frames so every frame is equal-length (what makes batching exact)."""
    n = max(n, n_frames * 2)
    return ((n + n_frames - 1) // n_frames) * n_frames


def _afp_batch(pcms: list, n_frames: int = 16, n_bands: int = 33):
    """Fingerprint a batch of PCM buffers: group by padded length, then ONE
    batched rfft + reduceat per group instead of a per-row Python loop
    (measured ~5× on the sf0.1 fixture). Bit-identical to the scalar form
    by construction — same padding, frame, band, and majority arithmetic."""
    import numpy as np

    out = np.zeros(len(pcms), dtype=np.int64)
    weights = 1 << np.arange(31, -1, -1, dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    for i, p in enumerate(pcms):
        by_len.setdefault(_afp_pad_len(len(p), n_frames), []).append(i)
    for lp, idxs in by_len.items():
        arr = np.stack(
            [np.resize(np.asarray(pcms[i], dtype=np.float64), lp) for i in idxs]
        )
        frames = arr.reshape(len(idxs), n_frames, lp // n_frames)
        mag = np.abs(np.fft.rfft(frames, axis=2)) ** 2  # (n, F, K)
        k = mag.shape[2]
        if k < n_bands:  # tiny frames: zero-pad the spectrum to band count
            mag = np.concatenate(
                [mag, np.zeros((len(idxs), n_frames, n_bands - k))], axis=2
            )
            k = n_bands
        each, rem = divmod(k, n_bands)
        sizes = [each + 1 if b < rem else each for b in range(n_bands)]
        starts = np.cumsum([0] + sizes[:-1])
        e = np.add.reduceat(mag, starts, axis=2)  # (n, F, B) band energies
        d = e[:, :, :-1] - e[:, :, 1:]
        dd = d[:, 1:, :] - d[:, :-1, :]  # (n, F-1, 32)
        majority = (dd > 0).sum(axis=1) * 2 > dd.shape[1]
        out[idxs] = (majority.astype(np.int64) * weights).sum(axis=1)
    return out


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """One 32-bit acoustic fingerprint per audio row via Arrow-batched
    mapInPandas (payload decoded once, never shuffled). Output
    ``(media_id, afp)`` — 16 bytes/row."""

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pcms = [_decode_audio_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "afp": pd.Series(_afp_batch(pcms), dtype="int64"),
                }
            )

    audio = media.filter(F.col("media_type") == "audio")
    return audio.select("media_id", "payload").mapInPandas(
        fp_batches, schema=AUDIO_FP_SCHEMA
    )


def audio_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    *,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Audio near-duplicate pairs: acoustic fingerprint + the same
    pigeonhole-banded Hamming join as the text (SimHash) and image (pHash)
    paths — with this, every modality in the corpus has a banded near-dup
    path and none of them is ever all-pairs. Output
    ``(doc_a, doc_b, hamming)`` over media_ids."""
    from .dedup import hamming_banded_pairs

    return hamming_banded_pairs(
        audio_fingerprints(media),
        sig_col="afp",
        id_col="media_id",
        max_hamming=max_hamming,
        bits=32,
        bands=bands,
        max_bucket_size=max_bucket_size,
    )
