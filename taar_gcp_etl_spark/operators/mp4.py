"""ISO-BMFF (MP4/MOV/M4A) structural parser — stdlib only.

Walks the box tree (ISO/IEC 14496-12, the public spec): ftyp brand,
movie/track headers (mvhd/tkhd/mdhd), handler + codec census (hdlr/
stsd), and the full sample tables (stts/stsz/stsc/stco|co64) well
enough to locate every sample's exact byte range in the file. NO
video entropy decode is attempted — H.264/H.265 need a real codec and
faking one would be dishonest — but tracks whose stsd fourcc is a
codec this repo really decodes (JPEG-in-MP4: 'jpeg', 'mjpa', 'mjpb' —
Motion-JPEG stores each frame as a complete baseline JPEG) expose
their samples as byte slices that operators/jpeg.py decodes. That
routes frame fingerprints for MJPEG movies through the same perceptual
pipeline as GIF animations (multimodal.media_frame_dhash), while an
H.264 movie still gets the structural stats face (duration, tracks,
codecs, dimensions) instead of a false "corrupt" or a fake decode.

Containment contract: every data-dependent malformation (truncated
box, size smaller than a header, tables pointing past EOF) raises
ValueError — a DECODE_ERRORS member — so one bad blob drops its row
instead of failing a whole corpus job (multimodal._safe containment).

Reference parity: the reference treats media as opaque blobs with
typed metadata (SURVEY.md §2.10 multimodal requirements); this is the
video-container analogue of operators/gif_frames.py's structural walk.
"""

from __future__ import annotations

import struct

# stsd fourccs whose samples are complete JPEG images we can decode
JPEG_SAMPLE_CODECS = {"jpeg", "mjpa", "mjpb"}


def _u32(buf: bytes, off: int) -> int:
    if off + 4 > len(buf):
        raise ValueError("mp4: truncated (u32 past EOF)")
    return struct.unpack_from(">I", buf, off)[0]


def _u64(buf: bytes, off: int) -> int:
    if off + 8 > len(buf):
        raise ValueError("mp4: truncated (u64 past EOF)")
    return struct.unpack_from(">Q", buf, off)[0]


def _boxes(buf: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for the sibling boxes
    in buf[start:end]. Handles size==1 (64-bit largesize) and size==0
    (box extends to the end of the enclosing scope)."""
    off = start
    while off < end:
        if off + 8 > end:
            raise ValueError("mp4: truncated box header")
        size = _u32(buf, off)
        try:
            fourcc = buf[off + 4:off + 8].decode("ascii")
        except UnicodeDecodeError:
            raise ValueError("mp4: non-ascii box type") from None
        payload = off + 8
        if size == 1:
            size = _u64(buf, off + 8)
            payload = off + 16
            if size < 16:
                raise ValueError("mp4: largesize smaller than header")
        elif size == 0:
            size = end - off
        elif size < 8:
            raise ValueError(f"mp4: box size {size} smaller than header")
        if off + size > end:
            raise ValueError(f"mp4: box '{fourcc}' overruns its parent")
        yield fourcc, payload, off + size
        off += size


def _find(buf: bytes, start: int, end: int, fourcc: str):
    for t, p, e in _boxes(buf, start, end):
        if t == fourcc:
            return p, e
    return None


def _fullbox(buf: bytes, off: int) -> tuple[int, int]:
    """(version, payload offset past version/flags)."""
    if off + 4 > len(buf):
        raise ValueError("mp4: truncated fullbox")
    return buf[off], off + 4


def _parse_stts_total(buf: bytes, p: int, e: int) -> int:
    _, q = _fullbox(buf, p)
    n = _u32(buf, q)
    if q + 4 + n * 8 > e:
        # same containment as stsz/stco/stsc: a hostile count must
        # raise, not read sibling boxes' bytes as sample counts (or
        # spin on a near-2^32 declared count)
        raise ValueError("mp4: stts table overruns box")
    total = 0
    for i in range(n):
        total += _u32(buf, q + 4 + i * 8)
    return total


def _parse_stsz(buf: bytes, p: int, e: int) -> tuple[int, list[int] | int]:
    """(sample_count, sizes) — sizes is a constant int when uniform."""
    _, q = _fullbox(buf, p)
    const = _u32(buf, q)
    count = _u32(buf, q + 4)
    if const:
        return count, const
    if q + 8 + count * 4 > e:
        raise ValueError("mp4: stsz table overruns box")
    return count, [_u32(buf, q + 8 + i * 4) for i in range(count)]


def _parse_stco(buf: bytes, p: int, e: int, wide: bool) -> list[int]:
    _, q = _fullbox(buf, p)
    n = _u32(buf, q)
    step = 8 if wide else 4
    if q + 4 + n * step > e:
        raise ValueError("mp4: chunk-offset table overruns box")
    rd = _u64 if wide else _u32
    return [rd(buf, q + 4 + i * step) for i in range(n)]


def _parse_stsc(buf: bytes, p: int, e: int) -> list[tuple[int, int]]:
    """[(first_chunk, samples_per_chunk)] runs (1-based chunks)."""
    _, q = _fullbox(buf, p)
    n = _u32(buf, q)
    if q + 4 + n * 12 > e:
        raise ValueError("mp4: stsc table overruns box")
    return [
        (_u32(buf, q + 4 + i * 12), _u32(buf, q + 8 + i * 12))
        for i in range(n)
    ]


def _parse_stsd(buf: bytes, p: int, e: int) -> list[str]:
    _, q = _fullbox(buf, p)
    n = _u32(buf, q)
    codecs = []
    off = q + 4
    for _ in range(n):
        if off + 8 > e:
            raise ValueError("mp4: stsd entry overruns box")
        sz = _u32(buf, off)
        if sz < 8 or off + sz > e:
            raise ValueError("mp4: bad stsd entry size")
        try:
            codecs.append(buf[off + 4:off + 8].decode("ascii").strip())
        except UnicodeDecodeError:
            raise ValueError("mp4: non-ascii codec fourcc") from None
        off += sz
    return codecs


def _parse_track(buf: bytes, p: int, e: int) -> dict:
    out: dict = {
        "id": None, "handler": None, "codecs": [], "width": None,
        "height": None, "timescale": None, "duration": None,
        "duration_ms": None, "n_samples": None, "_stbl": None,
    }
    tk = _find(buf, p, e, "tkhd")
    if tk:
        v, q = _fullbox(buf, tk[0])
        if v == 1:
            out["id"] = _u32(buf, q + 16)
            wq = q + 84
        else:
            out["id"] = _u32(buf, q + 8)
            wq = q + 72
        # 16.16 fixed point
        out["width"] = _u32(buf, wq) >> 16
        out["height"] = _u32(buf, wq + 4) >> 16
    mdia = _find(buf, p, e, "mdia")
    if not mdia:
        return out
    md = _find(buf, mdia[0], mdia[1], "mdhd")
    if md:
        v, q = _fullbox(buf, md[0])
        if v == 1:
            out["timescale"] = _u32(buf, q + 16)
            out["duration"] = _u64(buf, q + 20)
        else:
            out["timescale"] = _u32(buf, q + 8)
            out["duration"] = _u32(buf, q + 12)
        if out["timescale"]:
            out["duration_ms"] = round(
                out["duration"] * 1000.0 / out["timescale"], 3
            )
    hd = _find(buf, mdia[0], mdia[1], "hdlr")
    if hd:
        _, q = _fullbox(buf, hd[0])
        try:
            out["handler"] = buf[q + 4:q + 8].decode("ascii")
        except UnicodeDecodeError:
            raise ValueError("mp4: non-ascii handler type") from None
    minf = _find(buf, mdia[0], mdia[1], "minf")
    stbl = minf and _find(buf, minf[0], minf[1], "stbl")
    if stbl:
        out["_stbl"] = stbl
        sd = _find(buf, stbl[0], stbl[1], "stsd")
        if sd:
            out["codecs"] = _parse_stsd(buf, sd[0], sd[1])
        st = _find(buf, stbl[0], stbl[1], "stts")
        if st:
            out["n_samples"] = _parse_stts_total(buf, st[0], st[1])
    return out


def parse_mp4(content: bytes) -> dict:
    """Structural census of an ISO-BMFF container:
    {brand, timescale, duration, duration_ms, tracks: [{id, handler,
    codec census, width, height, timescale, duration, duration_ms,
    n_samples}]}. Raises ValueError for anything that is not a
    well-formed container (the DECODE_ERRORS contract)."""
    if content is None or len(content) < 16:
        raise ValueError("mp4: too short for a container")
    top = list(_boxes(content, 0, len(content)))
    types = [t for t, _, _ in top]
    if "ftyp" not in types or "moov" not in types:
        raise ValueError("mp4: missing ftyp/moov")
    fp, fe = next((p, e) for t, p, e in top if t == "ftyp")
    try:
        brand = content[fp:fp + 4].decode("ascii").strip()
    except UnicodeDecodeError:
        raise ValueError("mp4: non-ascii major brand") from None
    mp, me = next((p, e) for t, p, e in top if t == "moov")
    out: dict = {"brand": brand, "timescale": None, "duration": None,
                 "duration_ms": None, "tracks": []}
    mv = _find(content, mp, me, "mvhd")
    if mv:
        v, q = _fullbox(content, mv[0])
        if v == 1:
            out["timescale"] = _u32(content, q + 16)
            out["duration"] = _u64(content, q + 20)
        else:
            out["timescale"] = _u32(content, q + 8)
            out["duration"] = _u32(content, q + 12)
        if out["timescale"]:
            out["duration_ms"] = round(
                out["duration"] * 1000.0 / out["timescale"], 3
            )
    for t, p, e in _boxes(content, mp, me):
        if t == "trak":
            trk = _parse_track(content, p, e)
            trk.pop("_stbl", None)
            out["tracks"].append(trk)
    return out


def _sample_ranges(
    buf: bytes, stbl_p: int, stbl_e: int
) -> list[tuple[int, int]]:
    """[(offset, size)] for every sample, reconstructed from
    stsc (sample→chunk runs) + stco/co64 (chunk offsets) + stsz
    (sample sizes) — the standard 14496-12 walk."""
    sz = _find(buf, stbl_p, stbl_e, "stsz")
    if not sz:
        raise ValueError("mp4: no stsz")
    count, sizes = _parse_stsz(buf, sz[0], sz[1])
    co = _find(buf, stbl_p, stbl_e, "stco")
    wide = False
    if not co:
        co = _find(buf, stbl_p, stbl_e, "co64")
        wide = True
    if not co:
        raise ValueError("mp4: no stco/co64")
    chunks = _parse_stco(buf, co[0], co[1], wide)
    sc = _find(buf, stbl_p, stbl_e, "stsc")
    if not sc:
        raise ValueError("mp4: no stsc")
    runs = _parse_stsc(buf, sc[0], sc[1])
    if not runs or runs[0][0] != 1:
        raise ValueError("mp4: stsc must start at chunk 1")

    def size_of(i: int) -> int:
        return sizes if isinstance(sizes, int) else sizes[i]

    ranges: list[tuple[int, int]] = []
    si = 0
    for ci, chunk_off in enumerate(chunks, start=1):
        per = 0
        for first, n in runs:
            if first <= ci:
                per = n
            else:
                break
        off = chunk_off
        for _ in range(per):
            if si >= count:
                break
            s = size_of(si)
            if off + s > len(buf):
                raise ValueError("mp4: sample range past EOF")
            ranges.append((off, s))
            off += s
            si += 1
    if si != count:
        raise ValueError(
            f"mp4: sample tables inconsistent ({si} placed, {count} "
            "declared)"
        )
    return ranges


def iter_mp4_jpeg_frames(content: bytes, max_frames: int = 8):
    """Decode up to ``max_frames`` evenly-sampled frames of the FIRST
    video track whose codec is a JPEG-in-MP4 flavor, as (h, w, 3)
    uint8 arrays — the MJPEG analogue of gif_frames.iter_gif_frames
    (sample location is a structural walk; only sampled frames pay the
    JPEG entropy decode). Raises ValueError when the container parses
    but has no JPEG-decodable video track (an honest 'no decoder for
    avc1', distinct from corrupt)."""
    from taar_gcp_etl_spark.operators.gif_frames import even_sample_picks
    from taar_gcp_etl_spark.operators.jpeg import decode_jpeg

    if max_frames < 1:  # config defect: TypeError, not DECODE_ERRORS
        raise TypeError(f"max_frames must be >= 1, got {max_frames}")
    if content is None or len(content) < 16:
        raise ValueError("mp4: too short for a container")
    top = list(_boxes(content, 0, len(content)))
    if "ftyp" not in [t for t, _, _ in top]:
        raise ValueError("mp4: missing ftyp")
    moov = next(((p, e) for t, p, e in top if t == "moov"), None)
    if not moov:
        raise ValueError("mp4: missing moov")
    for t, p, e in _boxes(content, moov[0], moov[1]):
        if t != "trak":
            continue
        trk = _parse_track(content, p, e)
        if trk["handler"] != "vide" or not trk["_stbl"]:
            continue
        if not (set(trk["codecs"]) & JPEG_SAMPLE_CODECS):
            continue
        ranges = _sample_ranges(content, *trk["_stbl"])
        if not ranges:
            return
        for k in even_sample_picks(len(ranges), max_frames):
            off, s = ranges[k]
            yield k, decode_jpeg(content[off:off + s])
        return
    raise ValueError(
        "mp4: parseable container, but no video track with a "
        "JPEG-decodable codec (H.264/H.265 need a real codec)"
    )
