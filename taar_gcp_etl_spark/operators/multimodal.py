"""Multimodal (image/audio/video) column operators.

Media rides through the engine as opaque `binary` columns with a typed
metadata struct alongside — the parquet layout that scales: content bytes
never pass through the JVM heap twice (no string codec), metadata columns
stay prunable, and partition sizing accounts for blob width.

Decode/feature-extraction executes as Arrow-batched Pandas UDFs over
`mapInPandas`. PPM (P6), 24-bit BMP, PNG (stdlib zlib inflate — see
decode_png), baseline+progressive JPEG (marker/Huffman/IDCT — see
operators/jpeg.py), GIF (LZW — see operators/gif.py), and PCM WAV
decode FOR REAL with numpy + stdlib only
(decode_media). Only video (MP4 — needs ffmpeg, absent in the
container) stays behind `_decode_image_stub`; swapping the stub for a
real codec changes no plan shape. Feature extraction over decoded
pixels/samples (brightness, channel means, RMS, zero-crossings) is
real numpy either way.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)


# Everything a malformed blob can raise out of the stdlib decoders:
# ValueError (explicit format guards), zlib.error (corrupt/truncated
# IDAT inflate), struct.error (truncated fixed-size headers), and
# IndexError (out-of-range palette indices / short arrays). Executor-side
# decode sites catch exactly this set so one bad row drops instead of
# failing a whole-corpus job — anything else raising is a real bug we
# want surfaced, not swallowed.
import struct as _struct
import zlib as _zlib

# KeyError is deliberately NOT in this set: the decoders normalize every
# data-dependent missing-id case to ValueError (jpeg._req/_next_seg), so
# a KeyError can only be a code defect — and a defect raised for EVERY
# row would classify the whole corpus as "corrupt blobs" and complete
# green with an empty feature table. Better a loud first-row crash.
DECODE_ERRORS = (ValueError, _zlib.error, _struct.error, IndexError)


def media_container_stats(df: DataFrame) -> DataFrame:
    """Structural census of ISO-BMFF (MP4/MOV) rows — the container
    face the r6 stub guard couldn't give: duration, track count, first
    video/audio codec + dimensions + sample count, parsed from box
    headers only (operators/mp4.py; no entropy decode, so an H.264
    movie is fully described even though its samples stay opaque).
    Corrupt/non-BMFF rows drop per the DECODE_ERRORS containment
    contract; non-video rows are pre-filtered by mime."""
    from taar_gcp_etl_spark.operators.mp4 import parse_mp4

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, content, mime in zip(
                pdf["media_id"], pdf["content"], pdf["mime"]
            ):
                if content is None or mime not in (
                    "video/mp4", "video/quicktime", "audio/mp4"
                ):
                    continue
                try:
                    info = parse_mp4(content)
                except DECODE_ERRORS:
                    continue
                vid = next(
                    (t for t in info["tracks"] if t["handler"] == "vide"),
                    None,
                )
                aud = next(
                    (t for t in info["tracks"] if t["handler"] == "soun"),
                    None,
                )
                rows.append(
                    {
                        "media_id": mid,
                        "brand": info["brand"],
                        "duration_ms": info["duration_ms"],
                        "n_tracks": len(info["tracks"]),
                        "video_codec": (vid or {}).get("codecs", [None])[0]
                        if vid and vid["codecs"] else None,
                        "width": (vid or {}).get("width"),
                        "height": (vid or {}).get("height"),
                        "n_video_samples": (vid or {}).get("n_samples"),
                        "audio_codec": (aud or {}).get("codecs", [None])[0]
                        if aud and aud["codecs"] else None,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "brand", "duration_ms", "n_tracks",
                    "video_codec", "width", "height", "n_video_samples",
                    "audio_codec",
                ],
            )

    return df.select(
        "media_id", "content", F.col("meta.mime").alias("mime")
    ).mapInPandas(
        run,
        schema=(
            "media_id long, brand string, duration_ms double, "
            "n_tracks int, video_codec string, width int, height int, "
            "n_video_samples long, audio_codec string"
        ),
    )


def decode_ppm(content: bytes):
    """P6 (binary) PPM → uint8 ndarray of shape (h, w, 3). Pure
    header-parse + frombuffer: zero-copy into numpy, no codec library."""
    import numpy as np

    if not content.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval — whitespace/comment separated
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3:
        while i < len(content) and content[i : i + 1].isspace():
            i += 1
        if content[i : i + 1] == b"#":  # comment to end of line
            while i < len(content) and content[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(content) and not content[j : j + 1].isspace():
            j += 1
        fields.append(content[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(f) for f in fields)
    if maxval > 255:
        raise ValueError("16-bit PPM unsupported")
    px = np.frombuffer(content, dtype=np.uint8, count=w * h * 3, offset=i)
    return px.reshape(h, w, 3)


def decode_bmp(content: bytes):
    """Uncompressed 24-bit BMP (BI_RGB) → uint8 ndarray (h, w, 3) in RGB
    order. Parses the file+info headers, handles the 4-byte row padding
    and bottom-up row order — stdlib struct + numpy only."""
    import struct

    import numpy as np

    if content[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", content, 10)[0]
    w, h = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: {bpp}bpp compression={compression}")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    rows = np.frombuffer(
        content, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)[:, : w * 3]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return img[::-1] if bottom_up else img


def decode_png(content: bytes):
    """PNG → uint8 ndarray (h, w, 3) in RGB order, stdlib zlib + numpy
    only — the one compressed image format that needs no external codec
    (DEFLATE is the stdlib's; the rest is chunk parsing + scanline
    unfiltering).

    Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA), non-interlaced, all five scanline filters.
    Alpha is dropped, gray broadcast, palette mapped — output is always
    (h, w, 3) so the downstream dHash / feature path is format-blind.
    Unfiltering is vectorized per scanline where the filter allows (None
    and Up fully; Sub via a grouped modular cumsum); Average and Paeth
    carry a left-pixel dependency and fall back to a per-pixel loop on
    just those rows — encoder-typical images are mostly Sub/Up, and the
    decode runs inside the Arrow-batched mapInPandas stage anyway.
    """
    import struct
    import zlib

    import numpy as np

    SIG = b"\x89PNG\r\n\x1a\n"
    if content[:8] != SIG:
        raise ValueError("not a PNG")
    pos, idat, plte, ihdr = 8, [], None, None
    while pos + 8 <= len(content):
        length, ctype = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG: depth={depth} interlace={interlace}"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError("PNG scanline payload length mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    filters, data = lines[:, 0], lines[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at 8-bit depth
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row, f = data[y], int(filters[y])
        if f == 0:  # None
            rec = row.copy()
        elif f == 2:  # Up
            rec = row + prev  # uint8 wraps mod 256 — the spec's arithmetic
        elif f == 1:  # Sub: modular prefix sum per byte-lane within a pixel
            rec = (
                np.cumsum(
                    row.astype(np.int64).reshape(-1, bpp), axis=0
                ).astype(np.uint8)
            ).reshape(-1)
        else:  # Average (3) / Paeth (4): left-neighbor dependency
            rec = np.empty(stride, dtype=np.uint8)
            ri, pi = row.astype(np.int64), prev.astype(np.int64)
            for i in range(stride):
                a = int(rec[i - bpp]) if i >= bpp else 0
                b = int(pi[i])
                if f == 3:
                    rec[i] = (ri[i] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[i] = (ri[i] + pred) & 0xFF
        out[y], prev = rec, rec
    px = out.reshape(h, w, channels)
    if color == 2:
        return px
    if color == 6:
        return px[:, :, :3].copy()
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if plte is None:
        raise ValueError("palette PNG without PLTE")
    return plte[px[:, :, 0]]


def decode_wav(content: bytes):
    """PCM WAV → (float samples in [-1, 1] shape (n, channels), rate).
    stdlib `wave` handles the RIFF container; numpy views the frames."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as wf:
        n, ch, width, rate = (
            wf.getnframes(),
            wf.getnchannels(),
            wf.getsampwidth(),
            wf.getframerate(),
        )
        raw = wf.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported sample width {width}")
    samples = np.frombuffer(raw, dtype=dtype).reshape(-1, ch)
    if width == 1:  # 8-bit WAV is unsigned
        return (samples.astype(np.float64) - 128.0) / 128.0, rate
    return samples.astype(np.float64) / float(2 ** (8 * width - 1)), rate


def _image_features(img) -> list[float]:
    """8-dim real features from a decoded (h, w, 3) uint8 array: dims,
    per-channel means, grayscale std, aspect ratio."""
    h, w = img.shape[0], img.shape[1]
    means = img.reshape(-1, 3).mean(axis=0)
    gray = img.mean(axis=2)
    return [
        float(w),
        float(h),
        float(means[0]) / 255.0,
        float(means[1]) / 255.0,
        float(means[2]) / 255.0,
        float(gray.std()) / 255.0,
        float(w) / float(h) if h else 0.0,
        3.0,
    ]


def _audio_features(samples, rate: int) -> list[float]:
    """8-dim real features from decoded PCM samples: duration, rate,
    mean |amplitude|, RMS, peak, zero-crossing rate, channels."""
    import numpy as np

    mono = samples.mean(axis=1)
    n = len(mono)
    zc = float(np.count_nonzero(np.diff(np.signbit(mono)))) / max(1, n - 1)
    return [
        float(n) / float(rate) if rate else 0.0,
        float(rate),
        float(np.abs(mono).mean()) if n else 0.0,
        float(np.sqrt((mono**2).mean())) if n else 0.0,
        float(np.abs(mono).max()) if n else 0.0,
        zc,
        float(samples.shape[1]),
        float(n),
    ]


def decode_media(content: bytes, mime: str | None) -> list[float]:
    """Dispatch on mime: REAL decode + features for PPM, BMP, PNG,
    baseline+progressive JPEG, GIF, and PCM WAV (numpy + stdlib only — see operators/
    jpeg.py for the JPEG scope); the deterministic stub for the
    remaining codec formats (MP4/video need ffmpeg, absent in this
    container — the dispatch point is where a real decoder plugs in)."""
    if mime == "image/x-portable-pixmap":
        return _image_features(decode_ppm(content))
    if mime == "image/bmp":
        return _image_features(decode_bmp(content))
    if mime == "image/png":
        return _image_features(decode_png(content))
    if mime == "image/jpeg":
        from taar_gcp_etl_spark.operators.jpeg import decode_jpeg

        return _image_features(decode_jpeg(content))
    if mime == "image/gif":
        from taar_gcp_etl_spark.operators.gif import decode_gif

        return _image_features(decode_gif(content))
    if mime in ("audio/wav", "audio/x-wav"):
        return _audio_features(*decode_wav(content))
    if mime in ("video/mp4", "video/quicktime"):
        # structural parse is real (operators/mp4.py); sample decode
        # exists only for JPEG-in-MP4 codecs. A parseable H.264 movie
        # raises ValueError ("no sample decoder") and DROPS — honest,
        # and distinct from the old stub that faked features for it;
        # its metadata face is media_container_stats.
        from taar_gcp_etl_spark.operators.mp4 import iter_mp4_jpeg_frames

        for _, frame in iter_mp4_jpeg_frames(content, max_frames=1):
            return _image_features(frame)
        raise ValueError("mp4: JPEG video track has zero samples")
    return _decode_image_stub(content)


def _decode_image_stub(content: bytes) -> list[float]:
    """STUB — deterministic fake 8-dim feature vector from content bytes.
    Replace with a real decoder (Pillow → resize → embed); the container
    image has no media codecs. Deterministic so tests are stable."""
    if content is None:
        raise NotImplementedError("no decoder for null content")
    return [float(b) / 255.0 for b in content[:8]] + [0.0] * max(
        0, 8 - len(content[:8])
    )


def decode_pixels(content: bytes, mime: str | None):
    """Pixel array for the really-decodable image formats, None for
    anything else (the caller decides whether undecodable means skip or
    error)."""
    if mime == "image/x-portable-pixmap":
        return decode_ppm(content)
    if mime == "image/bmp":
        return decode_bmp(content)
    if mime == "image/png":
        return decode_png(content)
    if mime == "image/jpeg":
        from taar_gcp_etl_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(content)
    if mime == "image/gif":
        from taar_gcp_etl_spark.operators.gif import decode_gif

        return decode_gif(content)
    return None


def dhash64(img, hash_size: int = 8) -> tuple[int, int]:
    """Difference hash over a decoded (h, w, 3) array: grayscale,
    nearest-neighbor downsample to (hash_size, hash_size+1), one bit per
    adjacent-pixel brightness comparison — the classic perceptual hash
    that survives re-encoding, scaling, and small edits. Returned as two
    unsigned-32 words (hi, lo), the same shape as the text SimHash, so
    the SAME banded Hamming pairing serves image near-dup."""
    import numpy as np

    gray = img.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(hash_size) * h) // hash_size
    xs = (np.arange(hash_size + 1) * w) // (hash_size + 1)
    small = gray[np.ix_(ys, xs)]
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    value = 0
    for b in bits:
        value = (value << 1) | int(b)
    return (value >> 32) & 0xFFFFFFFF, value & 0xFFFFFFFF


def media_dhash(df: DataFrame) -> DataFrame:
    """Perceptual hashes for every decodable image row:
    (media_id, simhash_hi, simhash_lo) — column names deliberately match
    the text-SimHash digest relation so dedup.simhash_hamming_pairs
    consumes it unchanged (see media_near_dup). Undecodable rows — codec
    formats without a decoder, null content, and CORRUPT bytes (decode
    raising) — are dropped here: no pixels, no perceptual identity, and
    one truncated blob must not fail a whole-corpus job."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, his, los = [], [], []
            for mid, content, mime in zip(
                pdf["media_id"], pdf["content"], pdf["mime"]
            ):
                if content is None:
                    continue
                try:
                    img = decode_pixels(content, mime)
                except DECODE_ERRORS:
                    continue
                if img is None:
                    continue
                hi, lo = dhash64(img)
                ids.append(mid)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {"media_id": ids, "simhash_hi": his, "simhash_lo": los}
            )

    return df.select(
        "media_id", "content", F.col("meta.mime").alias("mime")
    ).mapInPandas(
        run, schema="media_id long, simhash_hi long, simhash_lo long"
    )


def media_near_dup(df: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance —
    a direct reuse of the text pipeline's banded pairing
    (dedup.simhash_hamming_pairs): candidates from 16-bit band
    equi-joins, popcount verify inside the join stage, hot-band cap.
    One dedup engine, two modalities."""
    from taar_gcp_etl_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        media_dhash(df), id_col="media_id", max_hamming=max_hamming
    )


def media_frame_dhash(df: DataFrame, max_frames: int = 8) -> DataFrame:
    """Frame-sampled perceptual hashes for ANIMATED media: GIF
    animations (operators/gif_frames.py) and MJPEG-in-MP4 movies
    (operators/mp4.py structural walk + the repo JPEG decoder) —
    (media_id, frame_idx, simhash_hi, simhash_lo), up to ``max_frames``
    evenly-sampled frames each. Still images yield their single frame,
    so the relation is total over decodable GIFs. H.264 movies drop
    here (no sample decoder — their face is media_container_stats);
    undecodable/corrupt rows drop per the media_dhash contract."""
    from taar_gcp_etl_spark.operators.gif_frames import gif_frame_hashes
    from taar_gcp_etl_spark.operators.mp4 import iter_mp4_jpeg_frames

    if max_frames < 1:
        # Fail at plan time on the driver — inside the mapInPandas
        # generator this would crash one task per row instead.
        # TypeError, matching even_sample_picks: a config defect must
        # never be classifiable as a corrupt blob (DECODE_ERRORS).
        raise TypeError(f"max_frames must be >= 1, got {max_frames}")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, fks, his, los = [], [], [], []
            for mid, content, mime in zip(
                pdf["media_id"], pdf["content"], pdf["mime"]
            ):
                if content is None or mime not in (
                    "image/gif", "video/mp4", "video/quicktime"
                ):
                    continue
                try:
                    if mime == "image/gif":
                        hashes = gif_frame_hashes(
                            content, max_frames=max_frames
                        )
                    else:
                        hashes = [
                            (k, *dhash64(frame))
                            for k, frame in iter_mp4_jpeg_frames(
                                content, max_frames=max_frames
                            )
                        ]
                except DECODE_ERRORS:
                    continue
                for k, hi, lo in hashes:
                    ids.append(mid)
                    fks.append(k)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": fks,
                    "simhash_hi": his,
                    "simhash_lo": los,
                }
            )

    return df.select(
        "media_id", "content", F.col("meta.mime").alias("mime")
    ).mapInPandas(
        run,
        schema=(
            "media_id long, frame_idx int, "
            "simhash_hi long, simhash_lo long"
        ),
    )
