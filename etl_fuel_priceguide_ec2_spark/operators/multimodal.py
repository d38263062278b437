"""X5 — multimodal columns: image/audio/video as opaque binary columns
with typed metadata.

At 100 TB the binary column stores POINTERS (paths/offsets) or small
payloads; large blobs live in object storage and are fetched inside the
decode UDF per partition. The Spark-side plumbing here — schema, Arrow
batch shape, mapInPandas signature, partition sizing — is real and
tested. The decode interior has two tiers:

  * ``real_codec=True`` — genuine bytes -> pixels -> resize -> re-encode
    for PPM(P6) and 24-bit BMP via the dependency-free
    ``operators.imagecodec`` (numpy only). Other formats raise
    NotImplementedError until PIL/av are provisioned; they slot into the
    same (width, height, rgb-array) contract.
  * ``real_codec=False`` (default for text-backed fixtures) — a
    deterministic fake deriving dims from byte length, so oracle checks
    stay byte-exact on corpora with no real media.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_fuel_priceguide_ec2_spark.operators.util import fan_out

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("sha", StringType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("n_frames", LongType(), True),
    ]
)


def to_media(df: DataFrame, id_col: str, text_col: str, mime: str = "application/octet-stream") -> DataFrame:
    """Wrap a payload as an opaque binary column + typed metadata.
    (Fixtures have no real media, so the payload is the utf-8 encoding
    of the text column — byte-exact and oracle-checkable.)"""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.lit(mime).alias("mime"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("sha"),
    )


def _synth_media(df: DataFrame, id_col: str, encode, mime: str) -> DataFrame:
    """(doc_id, payload, mime) with ``payload = encode(doc_id)``, built
    in an Arrow-batched pandas UDF: payload bytes are produced
    executor-side and never visit the driver. The codec work is per-row
    CPU, so this is where every ``to_*_media*`` producer widens its
    input (:func:`util.fan_out`): a single-split fixture table would
    otherwise serialize it onto one core (~40 s of entropy coding for
    the size=64 JPEG fixture); at real scale the scan has thousands of
    splits and the call is a no-op."""

    @pandas_udf(BinaryType())
    def _synth(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: encode(int(i)))

    return fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        _synth(F.col(id_col)).alias("payload"),
        F.lit(mime).alias("mime"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic FAKE decoder (stand-in for PIL/ffmpeg, which are
    not installed here): derives (width, height, n_frames) from payload
    bytes so tests are reproducible."""
    n = len(payload)
    return (n % 640 + 1, n % 480 + 1, n % 30 + 1)


def decode_features(media: DataFrame, real_codec: bool = False) -> DataFrame:
    """Decode/feature-extract over the binary column with mapInPandas —
    Arrow-batched, one Python worker per partition, payloads never pass
    through the driver.

    ``real_codec=True`` decodes PPM/BMP payloads for real (header parse
    -> pixel array; one still frame). Unsupported formats raise
    NotImplementedError — provision PIL/av and extend
    ``imagecodec.decode`` for more.
    """

    def _real_decode(payload: bytes) -> tuple[int, int, int]:
        from etl_fuel_priceguide_ec2_spark.operators import imagecodec

        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from etl_fuel_priceguide_ec2_spark.operators import videocodec

            frames = videocodec.decode_avi(payload)
            n, h, w, _ = frames.shape
            return (w, h, n)
        img = imagecodec.decode(payload)
        return (img.shape[1], img.shape[0], 1)

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _real_decode if real_codec else _fake_decode
        for pdf in it:
            feats = pdf["payload"].apply(lambda b: decode(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "width": feats.apply(lambda t: t[0]),
                    "height": feats.apply(lambda t: t[1]),
                    "n_frames": feats.apply(lambda t: t[2]),
                }
            )

    return media.mapInPandas(_batches, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling plumbing: explode a (stubbed) per-frame index list
    from the decoded frame count — shows the fan-out shape a real video
    pipeline uses (one row per sampled frame)."""
    feats = decode_features(media)
    return feats.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_nth))).alias("frame_idx"),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("resized_payload", BinaryType(), True),
        StructField("resized_bytes", LongType(), True),
    ]
)


def resize(media: DataFrame, target_w: int = 224, target_h: int = 224, real_codec: bool = False) -> DataFrame:
    """Resize over mapInPandas.

    ``real_codec=True``: decode PPM/BMP -> nearest-neighbor resample to
    (target_w, target_h) via vectorized numpy index maps -> re-encode as
    PPM. Genuine pixels in, genuine pixels out, no codec libraries
    needed. ``real_codec=False``: deterministic fake (byte slice scaled
    by the area ratio) for text-backed fixture corpora. Schema,
    batching, and partition behavior are identical on both paths."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from etl_fuel_priceguide_ec2_spark.operators import imagecodec

        for pdf in it:
            out_rows = []
            for _, r in pdf.iterrows():
                payload = bytes(r["payload"])
                if real_codec:
                    img = imagecodec.decode(payload)
                    resized = imagecodec.encode_ppm(
                        imagecodec.resize_nearest(img, target_w, target_h)
                    )
                else:
                    w, h, _ = _fake_decode(payload)
                    # fake resize: keep a byte count scaled by the area ratio
                    ratio = min(1.0, (target_w * target_h) / max(w * h, 1))
                    resized = payload[: max(1, int(len(payload) * ratio))]
                out_rows.append((r["doc_id"], target_w, target_h, resized, len(resized)))
            yield pd.DataFrame(
                out_rows, columns=["doc_id", "width", "height", "resized_payload", "resized_bytes"]
            )

    return media.mapInPandas(_batches, RESIZE_SCHEMA)


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_samples", LongType(), True),
        StructField("peak_abs", LongType(), True),
        StructField("rms", DoubleType(), True),
    ]
)


def to_audio_media(
    df: DataFrame, id_col: str, n_samples: int = 4000, sample_rate: int = 8000
) -> DataFrame:
    """Synthesize a REAL 16-bit mono PCM WAV payload per row (stdlib
    ``wave`` encoder over the deterministic integer sawtooth keyed on
    the id — fixtures ship no real audio), via :func:`_synth_media`."""
    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    return _synth_media(
        df,
        id_col,
        lambda i: audiocodec.encode_wav(
            audiocodec.synth_sawtooth(i, n_samples), sample_rate
        ),
        "audio/wav",
    )


def audio_waveform_stats(media: DataFrame) -> DataFrame:
    """Decode the WAV binary column and emit waveform statistics
    (sample rate, length, integer peak, RMS) via mapInPandas — the
    audio analogue of ``decode_features``: payloads stream through
    executors in Arrow batches; only the tiny stats rows shuffle.
    RMS is computed from the EXACT int64 energy sum, so the value is
    bit-stable under any partitioning (and SQL-mirrorable)."""
    import numpy as np
    import pandas as pd

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = audiocodec.decode_wav(bytes(payload))
                energy = int(np.sum(samples.astype(np.int64) ** 2))
                n = len(samples)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "sample_rate": rate,
                        "n_samples": n,
                        "peak_abs": int(np.max(np.abs(samples.astype(np.int64)))),
                        "rms": round(float(np.sqrt(energy / n)), 6) if n else None,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_STATS_SCHEMA])

    return media.select("doc_id", "payload").mapInPandas(_stats, AUDIO_STATS_SCHEMA)


AUDIO_ZC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_samples", LongType(), True),
        StructField("zero_crossings", LongType(), True),
        StructField("zcr", DoubleType(), True),
    ]
)


def audio_zero_crossings(media: DataFrame) -> DataFrame:
    """Zero-crossing count/rate per decoded WAV payload — the classic
    cheap voicing/noisiness feature, and deliberately integer-exact: a
    crossing is a flip of the (sample < 0) flag between consecutive
    samples, so the count is bit-stable under any partitioning and a
    SQL oracle can replay it with one LAG window over the regenerated
    samples. Same Arrow/mapInPandas shape as audio_waveform_stats:
    payloads stream through executors, only 4-column stats rows move."""
    import numpy as np
    import pandas as pd

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    def _zc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, samples = audiocodec.decode_wav(bytes(payload))
                n = len(samples)
                neg = samples.astype(np.int64) < 0
                crossings = int(np.sum(neg[1:] != neg[:-1])) if n > 1 else 0
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_samples": n,
                        "zero_crossings": crossings,
                        "zcr": round(crossings / (n - 1), 6) if n > 1 else None,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_ZC_SCHEMA])

    return media.select("doc_id", "payload").mapInPandas(_zc, AUDIO_ZC_SCHEMA)


def to_audio_media_classed(
    df: DataFrame,
    id_col: str,
    n_samples: int = 4000,
    classes: int = 100,
    sample_rate: int = 8000,
) -> DataFrame:
    """Synthesize class-structured WAV payloads (``synth_class_tone`` —
    same-class docs are perceptual near-dups) for the audio near-dup
    family, the audio analogue of ``to_image_media``
    (:func:`_synth_media`)."""
    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    return _synth_media(
        df,
        id_col,
        lambda i: audiocodec.encode_wav(
            audiocodec.synth_class_tone(i, n_samples, classes), sample_rate
        ),
        "audio/wav",
    )


def audio_fingerprint(
    media: DataFrame, n_bands_out: int = 64, align_onset: bool = False
) -> DataFrame:
    """Perceptual audio fingerprint per decoded WAV payload, emitted in
    the SAME four-16-bit-band relation as ``image_ahash`` /
    ``image_phash`` — so the banded pair join (``image_ahash_pairs``),
    the band-state miner, and the CC keep-list consume it unchanged
    (the band-relation polymorphism, third hash family).

    Bit construction (all exact integers): decode → 64 equal time bands
    over the first ``64 * (n // 64)`` samples → band energy = Σ|sample|
    (int64) → bit_k set iff energy_k * 64 > Σ energies (the
    division-free above-average form, the aHash rule applied to the
    time-energy envelope) → bits [16k, 16k+16) pack into band k.
    Robust to the perturbations that define near-dup audio (a few
    samples changed barely move any band's energy) while differing
    signals disagree broadly.

    Time-shift envelope (VERDICT r13 item 6 — the precise claim, the
    analogue of pHash's brightness-invariance statement): the
    fingerprint is amplitude-robust but NOT shift-invariant. A
    circular shift by Δ samples moves at most Δ samples across each
    band boundary, so band k's energy changes by at most
    δ = 2·Δ·max|s| (plus the ≤ n mod 64 truncated tail samples the
    roll can rotate into the measured window); bit k can flip ONLY if
    its margin |64·e_k − Σe| ≤ 64·δ. High-contrast signals (margins ≫
    64·δ, e.g. burst/onset audio) therefore pair unchanged for shifts
    well under the band width, while signals holding many bands near
    the average energy (the sawtooth fixtures) can flip marginal bits
    at Δ = 1 — the envelope is a margin property of the signal, not a
    fixed sample count. Both ends are test-pinned
    (tests/test_properties.py::test_audio_fingerprint_shift_envelope).

    ``align_onset=True`` removes the sensitivity entirely for circular
    shifts: each clip is rotated so its global peak |sample| (first
    occurrence) sits at index 0 before banding, making the fingerprint
    EXACTLY invariant to any circular time shift whenever the peak is
    unique (test-pinned). Use it when ingest cannot guarantee aligned
    capture windows; the unaligned form stays the default because
    alignment erases genuine timing differences between distinct
    clips.

    100 TB shape: payloads stream through mapInPandas in Arrow batches;
    only 4 longs per clip shuffle — the fingerprint relation is the
    persistable ingest state, exactly the image-hash contract."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import audiocodec

    if n_bands_out != 64:
        raise ValueError("the four-16-bit-band contract packs exactly 64 bits")

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                _, samples = audiocodec.decode_wav(bytes(payload))
                if align_onset and len(samples):
                    # widen BEFORE abs: np.abs(int16 -32768) overflows
                    # back to -32768 (same hazard the band-energy sum
                    # below guards against), which would mis-pick the
                    # peak and break the shift-invariance contract for
                    # full-scale-negative PCM (test-pinned)
                    samples = np.roll(
                        samples,
                        -int(np.argmax(np.abs(samples.astype(np.int64)))),
                    )
                n = len(samples)
                width = n // 64
                if width == 0:
                    rows.append(
                        {"doc_id": doc_id, "b0": 0, "b1": 0, "b2": 0, "b3": 0}
                    )
                    continue
                e = (
                    np.abs(samples[: width * 64].astype(np.int64))
                    .reshape(64, width)
                    .sum(axis=1)
                )
                tot = int(e.sum())
                bits = (e * 64 > tot).astype(np.int64)
                bands = [
                    int(sum(int(bits[16 * k + j]) << j for j in range(16)))
                    for k in range(4)
                ]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "b0": bands[0],
                        "b1": bands[1],
                        "b2": bands[2],
                        "b3": bands[3],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_AHASH_SCHEMA])

    return media.select("doc_id", "payload").mapInPandas(_fp, IMAGE_AHASH_SCHEMA)


# ---------------------------------------------------------------------------
# X5b — image perceptual-hash dedup (aHash over decoded payloads)
# ---------------------------------------------------------------------------

IMAGE_AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("b0", LongType(), True),
        StructField("b1", LongType(), True),
        StructField("b2", LongType(), True),
        StructField("b3", LongType(), True),
    ]
)


def synth_image(doc_id: int, size: int = 16, classes: int = 100):
    """Deterministic RGB test image for doc ``doc_id`` (fixtures ship no
    real images): a per-class linear-gradient-mod-256 pattern shared by
    all docs with the same ``doc_id % classes``, plus a one-pixel
    clamped per-doc perturbation — so same-class images are perceptual
    near-dups (aHash Hamming <= 2-3: each doc's pixel flips at most
    about one bit) while classes differ by ~32 bits on average.
    Pure integer math, replayable in SQL."""
    import numpy as np

    cls = doc_id % classes
    y, x = np.mgrid[0:size, 0:size]
    r = (cls * 37 + x * 11 + y * 5) % 256
    g = (cls * 59 + x * 3 + y * 17) % 256
    b = (cls * 83 + x * 7 + y * 13) % 256
    img = np.stack([r, g, b], axis=-1).astype(np.int64)
    px, py = doc_id % size, (doc_id // size) % size
    img[py, px, 0] = min(255, int(img[py, px, 0]) + (doc_id % 5))
    return img.astype(np.uint8)


def to_image_media(
    df: DataFrame,
    id_col: str,
    size: int = 16,
    classes: int = 100,
    fmt: str = "ppm",
) -> DataFrame:
    """Synthesize a REAL image payload per row over ``synth_image`` —
    ``fmt`` picks the container: ``"ppm"`` (binary P6, the historical
    default), ``"bmp"`` (24-bit BI_RGB) or ``"png"`` (8-bit truecolor,
    stdlib-zlib DEFLATE — the format real corpora carry, r16). Same
    pixels whatever the container, so every decode-based consumer
    (aHash/pHash/resize/keep-lists) is format-invariant by
    construction (test-pinned). Built by :func:`_synth_media`."""
    from etl_fuel_priceguide_ec2_spark.operators import imagecodec

    encoders = {
        "ppm": (imagecodec.encode_ppm, imagecodec.PPM_MIME),
        "bmp": (imagecodec.encode_bmp, imagecodec.BMP_MIME),
        "png": (imagecodec.encode_png, imagecodec.PNG_MIME),
    }
    if fmt not in encoders:
        raise ValueError(f"fmt must be one of {sorted(encoders)}, got {fmt!r}")
    enc, mime = encoders[fmt]
    return _synth_media(
        df, id_col, lambda i: enc(synth_image(i, size, classes)), mime
    )


def to_image_media_blocks(
    df: DataFrame,
    id_col: str,
    size: int = 16,
    classes: int = 100,
    quality: int = 90,
) -> DataFrame:
    """Synthesize a REAL grayscale baseline-JPEG payload per row over
    ``jpegcodec.synth_block_image`` — 8x8-block-constant images, the
    subspace where baseline JPEG is bit-EXACT (DC-only blocks; see the
    jpegcodec module docstring), so decode-based consumers stay
    oracle-able against a pure-SQL pixel replay even through a lossy
    container. Built by :func:`_synth_media`."""
    from etl_fuel_priceguide_ec2_spark.operators import jpegcodec

    q00 = int(jpegcodec.quant_tables(quality)[0][0, 0])
    if q00 > 7:
        # the fixture's whole point is EXACT round-trip: DC quantum
        # q00 <= 7 keeps the reconstructed pixel within 0.5 of the
        # original (q00/16 < 0.5); a lower quality silently breaks the
        # oracle's pixel replay, so collide loudly
        raise ValueError(
            f"to_image_media_blocks: quality={quality} gives DC quantum "
            f"{q00} > 7 — block-constant exactness (the oracle contract) "
            "requires quality >= 77 with the Annex-K luma table"
        )

    return _synth_media(
        df,
        id_col,
        lambda i: jpegcodec.encode_jpeg(
            jpegcodec.synth_block_image(i, size, classes),
            quality=quality,
            grayscale=True,
        ),
        jpegcodec.JPEG_MIME,
    )


def ahash_bands(img) -> list[int]:
    """The ONE definition of the integer aHash band math, shared by the
    image hasher and the per-frame video hasher (r16): (h, w, 3) uint8
    -> [b0, b1, b2, b3]. gray = (r+g+b)//3 → 8×8 block means (floor) →
    bit j set iff mean_j * 64 > Σ means → bits [16k, 16k+16) pack into
    band k. All integer, replayable in SQL."""
    import numpy as np

    img = img.astype(np.int64)
    h, w, _ = img.shape
    gray = img.sum(axis=-1) // 3
    bh, bw = h // 8, w // 8
    g8 = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).sum(axis=(1, 3)) // (
        bh * bw
    )
    s = int(g8.sum())
    bits = (g8.flatten() * 64 > s).astype(np.int64)
    return [
        int(sum(int(bits[16 * k + j]) << j for j in range(16))) for k in range(4)
    ]


def to_video_media(
    df: DataFrame,
    id_col: str,
    n_frames: int = 4,
    size: int = 16,
    classes: int = 100,
    fps: int = 8,
) -> DataFrame:
    """Synthesize a REAL uncompressed-AVI payload per row
    (``videocodec.synth_video_frames`` -> ``encode_avi``): frame f is
    the established ``synth_image(doc_id + f)`` pixels, so every frame
    replays in SQL. Built by :func:`_synth_media`."""
    from etl_fuel_priceguide_ec2_spark.operators import videocodec

    return _synth_media(
        df,
        id_col,
        lambda i: videocodec.encode_avi(
            videocodec.synth_video_frames(i, n_frames, size, classes), fps=fps
        ),
        videocodec.AVI_MIME,
    )


VIDEO_AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("b0", LongType(), True),
        StructField("b1", LongType(), True),
        StructField("b2", LongType(), True),
        StructField("b3", LongType(), True),
    ]
)


def video_frame_ahash(media: DataFrame, every_nth: int = 2) -> DataFrame:
    """Per-sampled-frame perceptual hash over REAL decoded video
    payloads: decode the AVI container once per clip, keep frames
    0, every_nth, 2*every_nth, ..., and emit each one's aHash band
    relation keyed (doc_id, frame_idx) — the fan-out a video dedup /
    scene-search pipeline runs at ingest. The band math is the SHARED
    ``ahash_bands`` (one definition with the image tier), so the
    downstream banded pair join and keep-list compositions consume
    video frames unchanged.

    100 TB shape: payloads stream through mapInPandas in Arrow batches
    (decode executor-side, one pass per clip); what shuffles is 4 longs
    per SAMPLED frame — sampling bounds the fan-out, and the hash
    relation is the persistable ingest state, exactly the image/audio
    contract."""
    from etl_fuel_priceguide_ec2_spark.operators import videocodec

    if every_nth < 1:
        raise ValueError(f"every_nth must be >= 1, got {every_nth}")

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = videocodec.decode_avi(bytes(payload))
                for fi in range(0, frames.shape[0], every_nth):
                    b = ahash_bands(frames[fi])
                    rows.append(
                        {
                            "doc_id": doc_id, "frame_idx": fi,
                            "b0": b[0], "b1": b[1], "b2": b[2], "b3": b[3],
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_AHASH_SCHEMA]
            )

    return media.select("doc_id", "payload").mapInPandas(
        _hash, VIDEO_AHASH_SCHEMA
    )


def image_ahash(media: DataFrame) -> DataFrame:
    """aHash (average hash) per decoded image payload, emitted as four
    16-bit bands (b0..b3) instead of one 64-bit word — the packing that
    (a) never touches a BIGINT sign bit and (b) IS the LSH blocking key
    for the pair join. Pipeline per image, all integer: decode (real P6
    parser) → gray = (r+g+b)//3 → 8×8 block means (floor) → bit j set
    iff mean_j * 64 > Σ means (the division-free form of "above
    average") → bits [16k, 16k+16) pack into band k.

    100 TB shape: payloads stream through mapInPandas in Arrow batches;
    what shuffles downstream is 4 longs per image — the hash relation is
    the persistable state (ingest once, mine pairs forever), exactly the
    MinHash-LSH state contract."""
    from etl_fuel_priceguide_ec2_spark.operators import imagecodec

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                bands = ahash_bands(imagecodec.decode(bytes(payload)))
                rows.append(
                    {"doc_id": doc_id, "b0": bands[0], "b1": bands[1], "b2": bands[2], "b3": bands[3]}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_AHASH_SCHEMA])

    return media.select("doc_id", "payload").mapInPandas(_hash, IMAGE_AHASH_SCHEMA)


def image_ahash_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup image pairs from the aHash band relation: candidates
    must share >= 1 of the 4 bands (pigeonhole: Hamming <= 3 over 64
    bits forces one band identical — recall is exactly 1.0 for
    max_hamming <= 3), verified by the exact band-wise popcount. The
    SimHash prefix-block pattern applied to image space; the join never
    sees payloads, only 4-long rows.

    The band relation is pinned before the self-join (r17): both join
    sides derive from ``hashes``, and a lazy lineage re-runs the whole
    upstream decode/hash mapInPandas chain once PER SIDE — the r16 pin
    heuristic's clear-win case (expensive Python per copy, tiny pinned
    relation: 5 longs per image, the persistable ingest state).
    ``checkpoint_dir`` switches the pin to a reliable ``.checkpoint()``
    for executor-loss recovery (util.iteration_pin), bit-identical."""
    from etl_fuel_priceguide_ec2_spark.operators.util import iteration_pin

    if max_hamming >= 4:
        raise ValueError("band blocking guarantees recall only for max_hamming <= 3")
    hashes = iteration_pin(checkpoint_dir)(hashes)
    bands = hashes.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band_id"), F.col("b0").alias("v")),
                F.struct(F.lit(1).alias("band_id"), F.col("b1").alias("v")),
                F.struct(F.lit(2).alias("band_id"), F.col("b2").alias("v")),
                F.struct(F.lit(3).alias("band_id"), F.col("b3").alias("v")),
            )
        ).alias("bk"),
    ).select("doc_id", "b0", "b1", "b2", "b3", F.col("bk.band_id").alias("band_id"), F.col("bk.v").alias("v"))
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(c).alias(f"a{c}") for c in ("b0", "b1", "b2", "b3")],
        "band_id",
        "v",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(c).alias(f"b{c}") for c in ("b0", "b1", "b2", "b3")],
        "band_id",
        "v",
    )
    ham = sum(
        F.bit_count(F.expr(f"ab{k} ^ bb{k}").cast("long")) for k in range(4)
    )
    return (
        a.join(b, ["band_id", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"ab{k}").alias(f"ab{k}") for k in range(4)],
            *[F.col(f"bb{k}").alias(f"bb{k}") for k in range(4)],
        )
        .distinct()
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def band_keeplist(
    docs: DataFrame, hashes: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """The dedup keep-list over ANY four-band hash relation: banded
    pair join (pigeonhole-exact recall at Hamming <= max_hamming) ->
    HashMin connected components -> min-id canonical per component,
    one row per document: (doc_id, component_id, kept). ONE
    implementation for all three hash families (image aHash, image
    pHash, audio fingerprint) and the example pipeline — a change to
    the keep rule can never diverge them (code-review r13: there were
    four verbatim copies)."""
    from etl_fuel_priceguide_ec2_spark.operators import dedup

    pairs = image_ahash_pairs(hashes, max_hamming=max_hamming)
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    return (
        docs.join(comp, "doc_id", "left")
        .withColumn("component_id", F.coalesce("component_id", F.col("doc_id")))
        .withColumn("kept", F.col("component_id") == F.col("doc_id"))
    )


def image_ahash_pairs_from_state(
    hashes_probe: DataFrame, hashes_all: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Mine near-dup image pairs from persisted aHash band STATE — the
    ``lsh_pairs_from_state`` contract in image space (the state-store
    promise in ``image_ahash``'s docstring made concrete): the probe
    slice's band keys drive the candidate join against the FULL hash
    store, so pairs wholly inside the non-probe side never form and
    history x history is never re-mined; exact popcount verification
    reads band values from the store. Both inputs come straight off
    parquet — payloads are never re-decoded. Union of successive
    slices' pair relations equals the from-scratch relation with no
    pair mined twice (pinned by test)."""
    if max_hamming >= 4:
        raise ValueError("band blocking guarantees recall only for max_hamming <= 3")

    def _bands(h: DataFrame, out: str) -> DataFrame:
        return h.select(
            F.col("doc_id").alias(out),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band_id"), F.col(f"b{k}").alias("v")
                        )
                        for k in range(4)
                    ]
                )
            ).alias("bk"),
        ).select(out, F.col("bk.band_id").alias("band_id"), F.col("bk.v").alias("v"))

    candidates = (
        _bands(hashes_probe, "doc_n")
        .join(_bands(hashes_all, "doc"), ["band_id", "v"])
        .filter(F.col("doc_n") != F.col("doc"))
        .select(
            F.least("doc_n", "doc").alias("id_a"),
            F.greatest("doc_n", "doc").alias("id_b"),
        )
        .distinct()
    )
    ha = hashes_all.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"b{k}").alias(f"ab{k}") for k in range(4)],
    )
    hb = hashes_all.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)],
    )
    ham = sum(F.bit_count(F.expr(f"ab{k} ^ bb{k}").cast("long")) for k in range(4))
    return (
        candidates.join(ha, "id_a")
        .join(hb, "id_b")
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- round-11: DCT pHash — the perceptual-hash pair's second member ----
# aHash thresholds block LUMINANCE means (cheap, gradient-sensitive);
# pHash thresholds the low-frequency DCT SPECTRUM against its median —
# robust to global brightness/contrast shifts that flip many aHash
# bits. Same band packing, so the banded pair join and the band-state
# miner work on either hash relation unchanged.


def dct8_basis_q6() -> list[list[int]]:
    """The 8x8 orthonormal DCT-II basis in integer 1e-6 fixed point:
    b[u][x] = round_half_away(alpha_u * cos(pi*(2x+1)u/16) * 10^6),
    alpha_0 = sqrt(1/8), alpha_u = 1/2. ONE source of the integer
    literals for BOTH the executor-side hash and the DuckDB oracle
    (the registry embeds exactly these ints as VALUES), so the
    irrational cosines never have to agree cross-engine — only exact
    integer products do."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    out = []
    for u in range(8):
        alpha = math.sqrt(1 / 8) if u == 0 else 0.5
        row = []
        for x in range(8):
            v = alpha * math.cos(math.pi * (2 * x + 1) * u / 16) * 1e6
            row.append(int(Decimal(v).quantize(Decimal(1), rounding=ROUND_HALF_UP)))
        out.append(row)
    return out


def image_phash(media: DataFrame) -> DataFrame:
    """pHash per decoded image payload, emitted as the same four-band
    relation as ``image_ahash`` (b3 carries 15 bits — the DC
    coefficient is excluded, classic pHash): decode → gray → 8×8 block
    means (identical integers to aHash's) → 2-D DCT in exact int64
    fixed point (D = B g8 B', B the shared 1e-6 integer basis) → bit j
    set iff coefficient j exceeds the LOWER MEDIAN of the 63 non-DC
    coefficients (rank tiebreak by index — fully deterministic, no
    float anywhere after the basis quantization).

    Magnitude bound: |D| <= 64 * (5e5)^2 * 255 ~ 4.1e15 — exact in
    int64 (and below 2^53, so even a double-summing engine agrees).
    Same 100 TB shape as aHash: Arrow-batched mapInPandas, 4 longs per
    image downstream, the band relation is the persistable state and
    ``image_ahash_pairs`` / ``image_ahash_pairs_from_state`` consume
    it unchanged."""
    import numpy as np

    from etl_fuel_priceguide_ec2_spark.operators import imagecodec

    basis = np.array(dct8_basis_q6(), dtype=np.int64)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = imagecodec.decode(bytes(payload)).astype(np.int64)
                h, w, _ = img.shape
                gray = img.sum(axis=-1) // 3
                bh, bw = h // 8, w // 8
                g8 = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).sum(
                    axis=(1, 3)
                ) // (bh * bw)
                d = basis @ g8 @ basis.T  # exact int64 (see bound above)
                coeffs = [
                    (int(d[u][v]), u * 8 + v)
                    for u in range(8)
                    for v in range(8)
                    if (u, v) != (0, 0)
                ]
                med = sorted(coeffs)[31][0]  # lower median of 63, idx tiebreak
                bits = [1 if c > med else 0 for c, _ in sorted(coeffs, key=lambda t: t[1])]
                bands = [
                    int(
                        sum(
                            bits[16 * k + j] << j
                            for j in range(16)
                            if 16 * k + j < 63
                        )
                    )
                    for k in range(4)
                ]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "b0": bands[0],
                        "b1": bands[1],
                        "b2": bands[2],
                        "b3": bands[3],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_AHASH_SCHEMA])

    return media.select("doc_id", "payload").mapInPandas(_hash, IMAGE_AHASH_SCHEMA)
