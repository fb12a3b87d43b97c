"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with struct metadata; all
heavy per-record work is a pure per-payload function run through the
shared per-record kernel (:func:`page_segmentation_spark.records.map_records`
— the same kernel-isolation pattern the reference uses for NumPy/TF
decode, reference lib/dataset.py:160-198).  The image decode kernel is REAL,
numpy-vectorized (stdlib + numpy only):

  * PNG — chunk walk (IHDR/IDAT/IEND), zlib inflate, scanline unfilter
    (all five filter types 0-4 incl. the Paeth predictor), 8-bit
    grayscale / gray+alpha / RGB / RGBA;
  * BMP — BITMAPINFOHEADER, uncompressed 24-bit BGR bottom-up with row
    padding, emitted top-down RGB so pixel addressing is uniform.

The audio decode kernel is REAL too: RIFF/WAVE chunk walk, PCM 16-bit
interleaved frames as a zero-copy numpy int16 view, vectorized
duration/RMS/zero-crossing features (``decode_wav`` /
``audio_features``).

Scope (documented, honest): no interlaced (Adam7) PNG, no palette or
sub-8-bit depths, no compressed BMP, no compressed/float WAV (PCM16
only) — unsupported payloads decode to NULL features, never a batch
failure.  Video decode remains out of scope in this container; its
*plumbing* (frame sampling expansion, metadata columns) is JVM-side and
real.
"""

from __future__ import annotations

import struct
import zlib
from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_segmentation_spark.records import map_records

MEDIA_META_SCHEMA = (
    "media_type string, width int, height int, n_frames int, "
    "sample_rate int, byte_len long"
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: per-color-type sample count (PNG spec 11.2.2); 8-bit depth only.
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}

#: foreground threshold on the first channel (the engine's binarization
#: analog of the reference's ocropus binarization input contract,
#: reference README.md:46-49: "binary (black and white) images").
FG_THRESHOLD = 128


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter_seq(ftype: int, line: bytearray, prev: bytes, bpp: int) -> None:
    """In-place reconstruction for the two sequential PNG filters
    (Average=3, Paeth=4).  Their recurrence reads the RECONSTRUCTED left
    pixel (out[i-bpp]), so no closed-form vectorization across the row
    exists; a per-pixel numpy loop is ~10x SLOWER than this byte loop
    (small-array dispatch overhead dominates at bpp 1-4), so the
    sequential filters deliberately stay as tight bytearray loops while
    None/Sub/Up run vectorized (see decode_png)."""
    if ftype == 3:  # Average
        for i in range(bpp):
            line[i] = (line[i] + (prev[i] >> 1)) & 0xFF
        for i in range(bpp, len(line)):
            line[i] = (line[i] + ((line[i - bpp] + prev[i]) >> 1)) & 0xFF
    else:  # Paeth; left/upper-left are 0 for the first pixel -> predictor
        for i in range(bpp):  # reduces to Up on the first pixel
            line[i] = (line[i] + prev[i]) & 0xFF
        for i in range(bpp, len(line)):
            a = line[i - bpp]
            b = prev[i]
            c = prev[i - bpp]
            p = a + b - c
            pa = p - a if p > a else a - p
            pb = p - b if p > b else b - p
            pc = p - c if p > c else c - p
            if pa <= pb and pa <= pc:
                pred = a
            elif pb <= pc:
                pred = b
            else:
                pred = c
            line[i] = (line[i] + pred) & 0xFF


def decode_png(data: bytes) -> Tuple[int, int, int, bytes]:
    """Decode an 8-bit non-interlaced PNG -> (width, height, channels,
    samples) with samples row-major ``(y, x, c)``.  Raises ValueError on
    anything outside that scope.

    Unfiltering is numpy-vectorized where the math allows: None is a
    copy, Sub is a modular cumulative sum over per-channel lanes
    (np.add.accumulate on uint8 wraps mod 256 exactly like the spec),
    Up is one vector add against the previous reconstructed row.
    Average/Paeth read the reconstructed LEFT pixel so they are
    inherently sequential per scanline (:func:`_unfilter_seq`)."""
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, width, height, channels = 8, None, None, None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + payload + crc
        if typ == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk[:13]
            )
            if depth != 8 or ctype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG depth/color {depth}/{ctype}")
            if comp != 0 or filt != 0 or interlace != 0:
                raise ValueError("unsupported PNG compression/interlace")
            channels = _PNG_CHANNELS[ctype]
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("short PNG pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8, count=height * (stride + 1))
    rows = rows.reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        ftype = int(rows[y, 0])
        line = rows[y, 1:]
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub: modular cumsum over per-channel lanes
            cur = np.add.accumulate(
                line.reshape(width, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ftype == 2:  # Up: uint8 add wraps mod 256 per spec
            cur = line + prev
        elif ftype in (3, 4):  # sequential recurrence on left pixel
            buf = bytearray(line.tobytes())
            _unfilter_seq(ftype, buf, prev.tobytes(), bpp)
            cur = np.frombuffer(bytes(buf), dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    return width, height, channels, out.tobytes()


def decode_bmp(data: bytes) -> Tuple[int, int, int, bytes]:
    """Decode an uncompressed 24-bit bottom-up BMP -> (width, height, 3,
    samples) row-major ``(y, x, c)`` in RGB channel order (disk order is
    BGR bottom-up; normalized here so all decoders share one pixel
    addressing)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pix_off = int.from_bytes(data[10:14], "little")
    width = int.from_bytes(data[18:22], "little", signed=True)
    height = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if bpp != 24 or comp != 0 or width <= 0 or height <= 0:
        raise ValueError("unsupported BMP variant")
    row_bytes = (width * 3 + 3) & ~3  # rows pad to 4-byte boundary
    if len(data) < pix_off + row_bytes * height:
        raise ValueError("short BMP pixel data")
    arr = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * height, offset=pix_off
    ).reshape(height, row_bytes)
    # strip row padding, flip bottom-up -> top-down, swap BGR -> RGB —
    # all as numpy views; one contiguous copy at tobytes()
    px = arr[:, : width * 3].reshape(height, width, 3)[::-1, :, ::-1]
    return width, height, 3, px.tobytes()


def decode_image(payload: bytes) -> Tuple[int, int, int, bytes]:
    """Magic-dispatched real image decode (PNG or BMP) ->
    (width, height, channels, samples row-major (y, x, c)).
    The analog of the reference's image load step
    (reference lib/dataset.py:160-191); ValueError outside the documented
    scope (callers map that to NULL features, never a batch failure)."""
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise ValueError("unsupported image format")


def image_features(
    payload: Optional[bytes],
) -> Optional[Tuple[int, int, int, float, float]]:
    """Deterministic per-image features from REAL pixels:
    (width, height, channels, px_mean, fg_ratio).

      * ``px_mean``  — mean over every sample (all channels); exact
        integer sum / integer count, so one IEEE double division that any
        engine reproduces bit-for-bit;
      * ``fg_ratio`` — fraction of pixels whose FIRST channel is below
        FG_THRESHOLD (the binary-foreground share, the reference's
        fg-pixel statistic, reference lib/image_ops.py:58-82).
    """
    if not payload:
        return None
    try:
        w, h, ch, samples = decode_image(bytes(payload))
    except (ValueError, zlib.error, struct.error, IndexError):
        return None
    n_px = w * h
    if n_px == 0:
        return None
    arr = np.frombuffer(samples, dtype=np.uint8)
    # exact integer sums (int64 accumulator, no overflow below 2^55
    # pixels) followed by ONE double division each — bit-identical to
    # the per-byte Python fold this replaces
    total = int(arr.sum(dtype=np.int64))
    fg = int((arr[::ch] < FG_THRESHOLD).sum(dtype=np.int64))
    return w, h, ch, total / (n_px * ch), fg / n_px


def with_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap metadata derivable JVM-side without decoding."""
    return df.withColumn("byte_len", F.length(F.col(payload_col)).cast("long"))


FEATURE_SCHEMA_SUFFIX = (
    "width int, height int, channels int, px_mean double, fg_ratio double"
)


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
) -> DataFrame:
    """Feature extraction over binary payloads: REAL pixel decode
    (image_features) per record, typed feature columns out.
    Unsupported/undecodable payloads yield one row of NULL features
    (malformed inputs must never fail a batch — same contract as the
    parse front-ends)."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: [image_features(p) or (None,) * 5],
        FEATURE_SCHEMA_SUFFIX,
    )


def decode_wav(data: bytes) -> Tuple[int, int, "np.ndarray"]:
    """Real stdlib RIFF/WAVE decode -> (sample_rate, channels, samples)
    with samples an interleaved int16 numpy view (zero-copy where
    alignment allows).  Chunk-walking (``fmt `` / ``data`` located by
    iteration, unknown chunks skipped incl. their pad byte), PCM
    (format 1) 16-bit only — the dominant uncompressed crawl shape;
    anything else raises ValueError (callers map that to NULL features,
    never a batch failure)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, n = 12, len(data)
    rate = channels = bits = None
    payload = None
    while pos + 8 <= n:
        cid = data[pos: pos + 4]
        size = int.from_bytes(data[pos + 4: pos + 8], "little")
        body = data[pos + 8: pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt_tag = int.from_bytes(body[0:2], "little")
            if fmt_tag != 1:
                raise ValueError("non-PCM WAV")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            payload = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or channels is None or payload is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16 or channels < 1 or rate < 1:
        raise ValueError("unsupported PCM layout")
    usable = len(payload) - len(payload) % (2 * channels)
    samples = np.frombuffer(payload[:usable], dtype="<i2")
    return rate, channels, samples


AUDIO_FEATURE_SCHEMA_SUFFIX = (
    "sample_rate int, channels int, n_frames int, duration_s double, "
    "rms double, zcr double"
)


def audio_features(
    payload: Optional[bytes],
) -> Optional[Tuple[int, int, int, float, float, float]]:
    """Deterministic per-clip features from REAL decoded PCM:
    (sample_rate, channels, n_frames, duration_s, rms, zcr).

      * ``duration_s`` — n_frames / sample_rate, one IEEE division;
      * ``rms``       — sqrt(sum(s^2) / n_samples): exact int64 sum of
        squares, ONE double division, ONE sqrt — engine-reproducible;
      * ``zcr``       — fraction of adjacent same-channel frame pairs
        whose signs differ (negative vs non-negative), integer count
        over integer denominator.
    """
    if not payload:
        return None
    try:
        rate, ch, samples = decode_wav(bytes(payload))
    except (ValueError, struct.error, IndexError):
        return None
    n_frames = len(samples) // ch
    if n_frames == 0:
        return None
    s64 = samples.astype(np.int64)
    ss = int((s64 * s64).sum())
    neg = (samples < 0).reshape(n_frames, ch)
    crossings = int((neg[1:] != neg[:-1]).sum(dtype=np.int64))
    zcr = crossings / (ch * (n_frames - 1)) if n_frames > 1 else 0.0
    return (
        rate,
        ch,
        n_frames,
        n_frames / rate,
        float(np.sqrt(ss / (n_frames * ch))),
        zcr,
    )


def extract_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
) -> DataFrame:
    """Audio feature extraction: the WAV twin of extract_features, same
    NULL-on-undecodable contract."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: [audio_features(p) or (None,) * 6],
        AUDIO_FEATURE_SCHEMA_SUFFIX,
    )


def parse_avi_meta(data: bytes) -> Tuple[int, int, int, int]:
    """Real RIFF/AVI container metadata ->
    (width, height, n_frames, usec_per_frame) from the ``avih`` main
    header, located by walking top-level chunks and descending into
    ``LIST`` chunks (the header lives in ``LIST hdrl``; a flat scan at a
    fixed offset would be wrong for files with leading junk chunks).
    Frame DECODE stays out of scope (codecs); the container walk is the
    real thing, feeding frame_sample_plan with true frame counts."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")

    def find_avih(buf: bytes, pos: int, end: int, depth: int = 0):
        while pos + 8 <= end:
            cid = buf[pos: pos + 4]
            size = int.from_bytes(buf[pos + 4: pos + 8], "little")
            if cid == b"avih" and size >= 40:
                return buf[pos + 8: pos + 8 + size]
            if cid == b"LIST" and depth < 4:
                hit = find_avih(
                    buf, pos + 12, min(pos + 8 + size, end), depth + 1
                )
                if hit is not None:
                    return hit
            pos += 8 + size + (size & 1)
        return None

    body = find_avih(data, 12, len(data))
    if body is None:
        raise ValueError("missing avih header")
    usec = int.from_bytes(body[0:4], "little")
    n_frames = int.from_bytes(body[16:20], "little")
    width = int.from_bytes(body[32:36], "little")
    height = int.from_bytes(body[36:40], "little")
    if usec < 1 or width < 1 or height < 1:
        raise ValueError("degenerate avih fields")
    return width, height, n_frames, usec


VIDEO_META_SCHEMA_SUFFIX = (
    "width int, height int, n_frames int, fps double, duration_s double"
)


def video_meta(
    payload: Optional[bytes],
) -> Optional[Tuple[int, int, int, float, float]]:
    """(width, height, n_frames, fps, duration_s) from the REAL
    container header; fps = 1e6/usec and duration = n_frames*usec/1e6
    are each ONE IEEE division over exact integers."""
    if not payload:
        return None
    try:
        w, h, nf, usec = parse_avi_meta(bytes(payload))
    except (ValueError, struct.error, IndexError):
        return None
    return w, h, nf, 1000000 / usec, (nf * usec) / 1000000


def extract_video_meta(
    df: DataFrame,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
) -> DataFrame:
    """Container-metadata extraction: the AVI twin of extract_features,
    same NULL-on-undecodable contract."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: [video_meta(p) or (None,) * 5],
        VIDEO_META_SCHEMA_SUFFIX,
    )


def _avi_chunks(buf: bytes, pos: int, end: int):
    """Iterate (fourcc, list_kind_or_None, body_start, body_end) over a
    RIFF chunk run; callers descend into LIST bodies themselves."""
    while pos + 8 <= end:
        cid = buf[pos: pos + 4]
        size = int.from_bytes(buf[pos + 4: pos + 8], "little")
        body_end = min(pos + 8 + size, end)
        kind = buf[pos + 8: pos + 12] if cid == b"LIST" else None
        yield cid, kind, pos + 8, body_end
        pos += 8 + size + (size & 1)


def _find_list(buf: bytes, pos: int, end: int, kind: bytes, depth: int = 0):
    for cid, k, s, e in _avi_chunks(buf, pos, end):
        if cid == b"LIST":
            if k == kind:
                return s + 4, e
            if depth < 4:
                hit = _find_list(buf, s + 4, e, kind, depth + 1)
                if hit is not None:
                    return hit
    return None


def decode_avi_frames(data: bytes) -> Tuple[int, int, List["np.ndarray"]]:
    """Decode UNCOMPRESSED (BI_RGB 24-bit) AVI frames -> (width, height,
    [HxWx3 uint8 BGR arrays]) — the codec-free corner of the format
    (handler 'DIB ': raw bottom-up BMP rows in ``00db``/``00dc``
    chunks), which needs no media library: each frame is one
    numpy frombuffer + strided reshape + vertical flip.  Compressed
    streams (biCompression != 0) stay documented out of scope (codecs)
    and raise, same contract as parse_avi_meta's degenerate cases.
    Reference bounds its loaders analogously (reference
    lib/dataset.py:160-191)."""
    w, h, _nf, _usec = parse_avi_meta(data)
    hdrl = _find_list(data, 12, len(data), b"hdrl")
    if hdrl is None:
        raise ValueError("missing LIST hdrl")
    strl = _find_list(data, hdrl[0], hdrl[1], b"strl")
    if strl is None:
        raise ValueError("missing LIST strl")
    strf = None
    for cid, _k, s, e in _avi_chunks(data, strl[0], strl[1]):
        if cid == b"strf":
            strf = data[s:e]
    if strf is None or len(strf) < 40:
        raise ValueError("missing BITMAPINFOHEADER strf")
    bit_count = int.from_bytes(strf[14:16], "little")
    compression = int.from_bytes(strf[16:20], "little")
    if compression != 0 or bit_count != 24:
        raise ValueError("compressed/non-24-bit AVI out of scope (codec)")
    movi = _find_list(data, 12, len(data), b"movi")
    if movi is None:
        raise ValueError("missing LIST movi")
    stride = (w * 3 + 3) & ~3
    frames = []
    for cid, _k, s, e in _avi_chunks(data, movi[0], movi[1]):
        if cid[2:4] in (b"db", b"dc") and e - s >= stride * h:
            arr = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                                offset=s).reshape(h, stride)
            frames.append(arr[::-1, : w * 3].reshape(h, w, 3))
    return w, h, frames


FRAME_FEATURE_SCHEMA_SUFFIX = (
    "frame_idx int, width int, height int, "
    "mean_b double, mean_g double, mean_r double"
)


def frame_features(
    payload: Optional[bytes], every_n: int = 10
) -> Optional[List[Tuple[int, int, int, float, float, float]]]:
    """Frame sampling + decode + per-frame channel means:
    (frame_idx, width, height, mean_b, mean_g, mean_r) for every
    ``every_n``-th frame of an uncompressed AVI payload.  Each frame
    reduces to exact int64 channel sums (np.sum over uint8) followed by
    a SINGLE division by w*h — the determinism contract every double in
    the engine follows.  None when the payload does not decode."""
    if not payload:
        return None
    try:
        w, h, frames = decode_avi_frames(bytes(payload))
    except (ValueError, struct.error, IndexError):
        return None
    out = []
    for f_idx in range(0, len(frames), every_n):
        sums = np.sum(frames[f_idx].reshape(-1, 3), axis=0, dtype=np.int64)
        out.append(
            (f_idx, w, h,
             int(sums[0]) / (w * h),
             int(sums[1]) / (w * h),
             int(sums[2]) / (w * h))
        )
    return out


def extract_frame_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
    every_n: int = 10,
) -> DataFrame:
    """Fan-out: one row per sampled frame (:func:`frame_features`).
    Undecodable payloads emit zero rows (same skip contract as
    extract_audio_segments: corrupt media must not kill a 100-TB job)."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: frame_features(p, every_n) or [],
        FRAME_FEATURE_SCHEMA_SUFFIX,
    )


def frame_sample_plan(
    df: DataFrame, every_n: int = 10, n_frames_col: str = "n_frames"
) -> DataFrame:
    """Video frame-sampling plumbing: expands (url, n_frames) into one row
    per sampled frame index JVM-side (sequence+explode) — the decode of
    each frame would then run in extract_features."""
    idxs = F.sequence(
        F.lit(0), F.greatest(F.col(n_frames_col) - 1, F.lit(0)), F.lit(every_n)
    )
    return df.withColumn("frame_idx", F.explode(idxs))


def resize_nearest(
    pixels: bytes, w: int, h: int, ch: int, out_w: int, out_h: int
) -> "np.ndarray":
    """Nearest-neighbor resize of a decoded (h, w, ch) pixel buffer to
    (out_h, out_w, ch) — pure numpy fancy-indexing (two integer index
    vectors, no Python pixel loop).  Source coordinate = floor(target *
    src / dst), the standard NN convention; exact integer arithmetic so
    the SQL oracle reproduces every output pixel."""
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return arr[ys][:, xs]


RESIZE_FEATURE_SCHEMA_SUFFIX = (
    "width int, height int, channels int, px_mean double"
)


def resized_features(
    payload: Optional[bytes], out_w: int, out_h: int
) -> Optional[Tuple[int, int, int, float]]:
    """decode -> nearest-neighbor resize -> exact channel stats:
    (width, height, channels, px_mean) of the ``out_w`` x ``out_h``
    thumbnail — the standard model-input normalization step of a
    multimodal training pipeline (every vision encoder wants a fixed
    input grid).  px_mean is an int64 sum over the RESIZED buffer with a
    single division.  None when the payload does not decode."""
    if not payload:
        return None
    try:
        w, h, ch, px = decode_image(bytes(payload))
        small = resize_nearest(px, w, h, ch, out_w, out_h)
    except (ValueError, zlib.error, struct.error, IndexError):
        return None
    total = int(np.sum(small, dtype=np.int64))
    return out_w, out_h, ch, total / (out_w * out_h * ch)


def extract_resized_features(
    df: DataFrame,
    out_w: int,
    out_h: int,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
) -> DataFrame:
    """Thumbnail statistics per payload (:func:`resized_features`);
    undecodable payloads emit NULL features (same contract as
    extract_features)."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: [resized_features(p, out_w, out_h) or (None,) * 4],
        RESIZE_FEATURE_SCHEMA_SUFFIX,
    )


AUDIO_SEGMENT_SCHEMA_SUFFIX = (
    "seg_idx int, seg_frames int, rms double"
)


def audio_segment_features(
    payload: Optional[bytes], n_segments: int = 4
) -> Optional[List[Tuple[int, int, float]]]:
    """Windowed audio features — the frame-sampling analog for audio:
    the clip's frames are partitioned into ``n_segments`` contiguous
    windows (frame f -> segment (f * n_segments) // n_frames, the exact
    integer convention the SQL oracle shares) and each window reduces
    to (seg_idx, seg_frames, rms).  Vectorized: one int64 bincount of
    squared samples per segment, one division + sqrt per segment."""
    if not payload:
        return None
    try:
        _rate, ch, samples = decode_wav(bytes(payload))
    except (ValueError, struct.error, IndexError):
        return None
    n_frames = len(samples) // ch
    if n_frames == 0:
        return None
    s64 = samples.astype(np.int64)
    sq = (s64 * s64).reshape(n_frames, ch).sum(axis=1)
    seg = (np.arange(n_frames, dtype=np.int64) * n_segments) // n_frames
    seg_sq = np.bincount(seg, weights=sq, minlength=n_segments)
    seg_n = np.bincount(seg, minlength=n_segments)
    out = []
    for i in range(n_segments):
        n = int(seg_n[i])
        if n == 0:
            continue
        out.append((i, n, float(np.sqrt(seg_sq[i] / (n * ch)))))
    return out


def extract_audio_segments(
    df: DataFrame,
    n_segments: int = 4,
    payload_col: str = "payload",
    id_cols: tuple = ("url", "media_idx"),
) -> DataFrame:
    """Fan-out: one row per (clip, segment) — the audio twin of
    extract_frame_features; undecodable payloads emit zero rows."""
    return map_records(
        df, id_cols, payload_col,
        lambda p: audio_segment_features(p, n_segments) or [],
        AUDIO_SEGMENT_SCHEMA_SUFFIX,
    )
