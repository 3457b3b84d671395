"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with typed metadata. The Spark-side
plumbing — schemas, Arrow batch shapes, ``mapInPandas`` signatures,
partitioning — is real and tested.  ``decode_media_basic`` is a real
decode for the codec-free format slice: uncompressed BMP, binary PGM/PPM,
and WAV PCM parse in pure NumPy (headers, row padding, RIFF chunk walk,
signed samples), emitting integer pixel/sample statistics that a DuckDB
oracle checks exactly.  Compressed codecs (JPEG/PNG pixel data, MP3,
video) are not decoded; only their header dimensions are read.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
])

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"<htm", "text/html"),
    (b"<HTM", "text/html"),
    (b"<!do", "text/html"),
    (b"<!DO", "text/html"),
]
# RIFF is a container: the subtype lives in bytes 9-12
_RIFF = b"RIFF"
_RIFF_SUBTYPES = [
    (b"WAVE", "audio/wav"),
    (b"WEBP", "image/webp"),
    (b"AVI ", "video/x-msvideo"),
]
_FALLBACK = "application/octet-stream"


def media_metadata(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Typed metadata for a binary column — pure Column exprs (no UDF):
    byte length, sha256 digest, magic-byte sniffed type.

    Sniffing compares HEX of the byte prefix (never decodes): arbitrary
    binary (PNG/JPEG/...) must not hit a UTF-8 decoder, which throws under
    ANSI mode on malformed sequences.  Text prefixes are probed in both
    common cases; RIFF containers dispatch on bytes 9-12 (WAVE/WEBP/AVI)."""
    p = F.col(payload_col)
    sniff = F.lower(F.hex(F.substring(p, 1, 4)))
    sub = F.lower(F.hex(F.substring(p, 9, 4)))
    mt = F.lit(_FALLBACK)
    for magic, label in reversed(_MAGIC):
        mt = F.when(sniff.startswith(magic.hex()), F.lit(label)).otherwise(mt)
    riff_mt = F.lit(_FALLBACK)
    for sub_magic, label in _RIFF_SUBTYPES:
        riff_mt = F.when(sub == sub_magic.hex(), F.lit(label)).otherwise(riff_mt)
    mt = F.when(sniff.startswith(_RIFF.hex()), riff_mt).otherwise(mt)
    return df.withColumn("media_bytes", F.length(p)) \
             .withColumn("media_sha", F.sha2(p, 256)) \
             .withColumn("media_type", mt)


def media_type_sql(hex_expr: str) -> str:
    """DuckDB twin of the sniff above, over a LOWERCASE hex-string expression
    (prefix probes + RIFF subtype at hex chars 17-24)."""
    riff_cases = " ".join(
        f"WHEN substr({hex_expr}, 17, 8) = '{s.hex()}' THEN '{label}'"
        for s, label in _RIFF_SUBTYPES)
    probe_cases = " ".join(
        f"WHEN substr({hex_expr}, 1, {len(m.hex())}) = '{m.hex()}' THEN '{label}'"
        for m, label in _MAGIC)
    return (f"(CASE WHEN substr({hex_expr}, 1, 8) = '{_RIFF.hex()}' THEN "
            f"(CASE {riff_cases} ELSE '{_FALLBACK}' END) "
            f"{probe_cases} ELSE '{_FALLBACK}' END)")


# --- header-level dimension extraction ---------------------------------------
# Real metadata with zero codec dependencies: PNG IHDR and GIF logical-screen
# sizes are fixed-offset byte arithmetic (pure Column exprs over the hex
# transcript), JPEG SOF dimensions need a segment walk (vectorized Arrow
# batch).  This is the decode-free slice of multimodal metadata a 100-TB
# media pipeline can always afford — the codec stub below stays the hook for
# everything deeper.

_PNG_MAGIC_HEX = b"\x89PNG\r\n\x1a\n".hex()           # bytes 1-8
_GIF_VERSIONS_HEX = [b"GIF87a".hex(), b"GIF89a".hex()]  # bytes 1-6
_JPEG_MAGIC_HEX = b"\xff\xd8\xff".hex()
_IHDR_HEX = b"IHDR".hex()
# SOF markers that carry frame dimensions (baseline/extended/progressive)
_JPEG_SOF_MARKERS = (0xC0, 0xC1, 0xC2)


def _be_hex_int(hx, pos: int, nbytes: int):
    """Big-endian integer from hex chars [pos, pos + 2*nbytes)."""
    return F.conv(F.substring(hx, pos, 2 * nbytes), 16, 10).cast("long")


def _le16_hex_int(hx, pos: int):
    """Little-endian u16: swap the two hex byte pairs before converting."""
    return F.conv(F.concat(F.substring(hx, pos + 2, 2),
                           F.substring(hx, pos, 2)), 16, 10).cast("long")


def _jpeg_dims(payload: pd.Series) -> pd.Series:
    """[width, height] from the first SOF0/SOF1/SOF2 segment, else None.

    Walks the segment chain (marker FF xx + big-endian length that counts
    itself but not the marker) — SOF offset varies with preceding APP/COM
    segments, so unlike PNG/GIF this is not fixed-offset arithmetic.  Runs
    per Arrow batch; non-JPEG rows exit on the first two bytes."""
    out = []
    for b in payload:
        dims = None
        if b is not None:
            b = bytes(b)
            if b[:3] == b"\xff\xd8\xff":
                i = 2
                while i + 4 <= len(b) and b[i] == 0xFF:
                    marker = b[i + 1]
                    if 0xD0 <= marker <= 0xD9:   # standalone (RSTn/SOI/EOI)
                        i += 2
                        continue
                    seg_len = int.from_bytes(b[i + 2:i + 4], "big")
                    if seg_len < 2:
                        break
                    if marker in _JPEG_SOF_MARKERS:
                        if i + 9 <= len(b):
                            h = int.from_bytes(b[i + 5:i + 7], "big")
                            w = int.from_bytes(b[i + 7:i + 9], "big")
                            dims = [w, h]
                        break
                    i += 2 + seg_len
        out.append(dims)
    return pd.Series(out, dtype=object)


# wrapped, not decorated: ``_jpeg_dims`` stays importable by name, so a worker
# imports this module to unpickle it, which installs the package's zip-cache
# fix (see ``polycheck_spark``)
_jpeg_dims_udf = F.pandas_udf(_jpeg_dims, T.ArrayType(T.LongType()))


def media_dims(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Adds ``media_w``/``media_h`` (LONG, NULL when not parseable):

    * PNG — IHDR width/height, big-endian u32 at bytes 17-24 (gated on the
      8-byte magic AND the 'IHDR' chunk tag at bytes 13-16);
    * GIF — logical-screen width/height, little-endian u16 at bytes 7-10
      (gated on the full GIF87a/GIF89a version magic);
    * JPEG — first SOF0/1/2 frame header via the Arrow segment walk.

    PNG/GIF are pure Column expressions over ONE hex transcript (never a
    UTF-8 decode — payloads are arbitrary binary) and are oracle-checkable
    hex arithmetic; the JPEG walk is pytest-pinned and differentially
    checked against a fixed-offset oracle on synthesized payloads."""
    p = F.col(payload_col)
    hx = F.lower(F.hex(F.substring(p, 1, 32)))   # headers live in 32 bytes
    is_png = (hx.startswith(_PNG_MAGIC_HEX)
              & (F.substring(hx, 25, 8) == F.lit(_IHDR_HEX)))
    is_gif = (F.substring(hx, 1, 12) == _GIF_VERSIONS_HEX[0]) | (
        F.substring(hx, 1, 12) == _GIF_VERSIONS_HEX[1])
    is_jpeg = hx.startswith(_JPEG_MAGIC_HEX)
    jd = _jpeg_dims_udf(p)
    w = (F.when(is_png, _be_hex_int(hx, 33, 4))
          .when(is_gif, _le16_hex_int(hx, 13))
          .when(is_jpeg, F.element_at(jd, 1)))
    h = (F.when(is_png, _be_hex_int(hx, 41, 4))
          .when(is_gif, _le16_hex_int(hx, 17))
          .when(is_jpeg, F.element_at(jd, 2)))
    return df.withColumn("media_w", w).withColumn("media_h", h)


def media_dims_sql(hex_expr: str, jpeg_sof_pos_expr: str | None = None) -> tuple[str, str]:
    """DuckDB twins of the PNG/GIF dimension arithmetic over a LOWERCASE hex
    transcript: (media_w_sql, media_h_sql).  ``jpeg_sof_pos_expr``: 1-based
    hex position of the SOF marker for synthesized JPEG corpora whose
    segment layout is formula-known (the generic Spark walk is checked
    against this fixed-offset oracle); None leaves JPEG dims NULL."""
    png = (f"substr({hex_expr}, 1, 16) = '{_PNG_MAGIC_HEX}' "
           f"AND substr({hex_expr}, 25, 8) = '{_IHDR_HEX}'")
    gif = (f"substr({hex_expr}, 1, 12) IN ('{_GIF_VERSIONS_HEX[0]}', "
           f"'{_GIF_VERSIONS_HEX[1]}')")
    def be(pos, nbytes):
        return f"CAST(('0x' || substr({hex_expr}, {pos}, {2 * nbytes})) AS BIGINT)"
    def le16(pos):
        return (f"CAST(('0x' || substr({hex_expr}, {pos} + 2, 2) || "
                f"substr({hex_expr}, {pos}, 2)) AS BIGINT)")
    jw = jh = "NULL"
    if jpeg_sof_pos_expr is not None:
        # SOF segment: marker(2B) len(2B) precision(1B) height(2B) width(2B)
        sof = f"({jpeg_sof_pos_expr})"
        jh = f"CAST(('0x' || substr({hex_expr}, {sof} + 10, 4)) AS BIGINT)"
        jw = f"CAST(('0x' || substr({hex_expr}, {sof} + 14, 4)) AS BIGINT)"
    jpeg = f"substr({hex_expr}, 1, 6) = '{_JPEG_MAGIC_HEX}'"
    w = (f"CASE WHEN {png} THEN {be(33, 4)} WHEN {gif} THEN {le16(13)} "
         f"WHEN {jpeg} THEN {jw} ELSE NULL END")
    h = (f"CASE WHEN {png} THEN {be(41, 4)} WHEN {gif} THEN {le16(17)} "
         f"WHEN {jpeg} THEN {jh} ELSE NULL END")
    return w, h


# --- codec-free REAL decode: BMP / PGM / PPM / WAV-PCM -----------------------
# Uncompressed formats need no codec library: their pixel/sample payloads are
# raw bytes behind a fixed-arithmetic header.  These decoders are genuine
# format parsers (header fields, row padding, RIFF chunk walk) in pure
# NumPy, running inside the same mapInPandas plumbing the strict-mode codec
# stub documents — which retires the stub for this format slice.  All
# emitted statistics are integers, so a DuckDB oracle over formula-known
# payloads checks them exactly.

def _decode_bmp(b: bytes):
    """24-bpp uncompressed (BI_RGB) BITMAPINFOHEADER BMP -> pixel stats.
    Handles the 4-byte row stride padding and bottom-up row order (padding
    bytes are excluded from stats; orientation doesn't change them but the
    slice must still skip the pad)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    off = int.from_bytes(b[10:14], "little")
    hdr_size = int.from_bytes(b[14:18], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if hdr_size < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    ah = abs(h)
    stride = (w * 3 + 3) & ~3
    if off < 54 or len(b) < off + stride * ah:
        return None
    rows = np.frombuffer(b, np.uint8, stride * ah, off).reshape(ah, stride)
    px = rows[:, :w * 3]
    if h > 0:                       # positive height = bottom-up storage
        px = px[::-1]
    return {"fmt": "bmp", "width": w, "height": ah, "channels": 3,
            "sample_rate": None, "vals": px.reshape(-1).astype(np.int64)}


def _decode_pnm(b: bytes):
    """Binary PGM (P5) / PPM (P6), maxval <= 255 -> pixel stats.  Real
    header tokenizer: arbitrary whitespace between fields and '#' comments
    through end-of-line, exactly one whitespace byte before the raster."""
    if b[:2] not in (b"P5", b"P6"):
        return None
    i, fields = 2, []
    while len(fields) < 3 and i < len(b):
        while i < len(b) and b[i:i + 1] in b" \t\r\n":
            i += 1
        if i < len(b) and b[i:i + 1] == b"#":
            while i < len(b) and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(b) and b[j:j + 1] not in b" \t\r\n#":
            j += 1
        if j == i or not b[i:j].isdigit():
            return None
        fields.append(int(b[i:j]))
        i = j
    if len(fields) < 3 or i >= len(b):
        return None
    i += 1                          # the single post-maxval whitespace byte
    w, h, maxval = fields
    ch = 3 if b[:2] == b"P6" else 1
    n = w * h * ch
    if w <= 0 or h <= 0 or maxval > 255 or len(b) < i + n:
        return None
    vals = np.frombuffer(b, np.uint8, n, i)
    return {"fmt": "ppm" if ch == 3 else "pgm", "width": w, "height": h,
            "channels": ch, "sample_rate": None,
            "vals": vals.astype(np.int64)}


def _decode_wav(b: bytes):
    """RIFF/WAVE PCM (8/16-bit) -> sample stats.  Real chunk walk (word
    alignment, unknown chunks skipped), so a LIST chunk between fmt and
    data must not break it; 16-bit samples are signed little-endian."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, fmt, data = 12, None, None
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        sz = int.from_bytes(b[i + 4:i + 8], "little")
        body = b[i + 8:i + 8 + sz]
        if cid == b"fmt " and fmt is None:
            fmt = body
        elif cid == b"data" and data is None:
            data = body
        i += 8 + sz + (sz & 1)      # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    nch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_fmt != 1 or nch < 1 or bits not in (8, 16):
        return None
    if bits == 16:
        vals = np.frombuffer(data, "<i2", len(data) // 2)
    else:
        vals = np.frombuffer(data, np.uint8)
    return {"fmt": "wav", "width": None, "height": None, "channels": nch,
            "sample_rate": rate, "vals": vals.astype(np.int64)}


_BASIC_DECODERS = (_decode_bmp, _decode_pnm, _decode_wav)

_DECODE_STATS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("channels", T.LongType()),
    T.StructField("sample_rate", T.LongType()),
    T.StructField("n_vals", T.LongType()),
    T.StructField("val_sum", T.LongType()),
    T.StructField("val_min", T.LongType()),
    T.StructField("val_max", T.LongType()),
])


def decode_media_basic(df: DataFrame) -> DataFrame:
    """Real (non-stub) decode of the codec-free format slice via
    ``mapInPandas``: BMP / PGM / PPM pixel stats, WAV-PCM sample stats.
    Unrecognized payloads yield ``fmt='unknown'`` with NULL stats rather
    than dropping the row (a cleaning pipeline wants to count them).

    Scale shape: one map-side Arrow pass over the corpus, no shuffle, no
    driver state; per-row work is NumPy over the payload bytes.  Emitted
    stats are all integers (16-bit WAV sums fit int64 at any realistic
    clip length), so the differential oracle is exact."""
    def gen(batches):
        for pdf in batches:
            out = {f.name: [] for f in _DECODE_STATS_SCHEMA.fields}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = None
                for dec in _BASIC_DECODERS:
                    rec = dec(b)
                    if rec is not None:
                        break
                out["doc_id"].append(did)
                if rec is None:
                    out["fmt"].append("unknown")
                    for k in ("width", "height", "channels", "sample_rate",
                              "n_vals", "val_sum", "val_min", "val_max"):
                        out[k].append(None)
                    continue
                vals = rec["vals"]
                out["fmt"].append(rec["fmt"])
                out["width"].append(rec["width"])
                out["height"].append(rec["height"])
                out["channels"].append(rec["channels"])
                out["sample_rate"].append(rec["sample_rate"])
                out["n_vals"].append(len(vals))
                out["val_sum"].append(int(vals.sum()) if len(vals) else 0)
                out["val_min"].append(int(vals.min()) if len(vals) else None)
                out["val_max"].append(int(vals.max()) if len(vals) else None)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema=_DECODE_STATS_SCHEMA)


# --- perceptual image fingerprint (dHash) ------------------------------------

def _dhash64(gray: np.ndarray) -> int:
    """64-bit difference hash of a grayscale image (int array, h x w,
    h >= 8 and w >= 9): box-downsample to 8 x 9 with integer floor means,
    then bit j = r*8+c is set iff cell[r][c] > cell[r][c+1].  Returned as
    the signed-int64 view of the packed bits (bit 63 = last comparison)."""
    H, W = gray.shape
    rb = [(r * H) // 8 for r in range(9)]
    cb = [(c * W) // 9 for c in range(10)]
    cells = np.empty((8, 9), np.int64)
    for r in range(8):
        for c in range(9):
            box = gray[rb[r]:rb[r + 1], cb[c]:cb[c + 1]]
            cells[r, c] = int(box.sum()) // box.size
    bits = (cells[:, :-1] > cells[:, 1:]).reshape(-1)
    v = 0
    for j in np.flatnonzero(bits):
        v |= 1 << int(j)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(df: DataFrame) -> DataFrame:
    """(doc_id, dhash): perceptual fingerprint of codec-free-decodable
    images (BMP / PGM / PPM).  RGB collapses to integer-mean grayscale
    ((r+g+b) // 3); images smaller than the 9 x 8 dHash grid, audio, and
    undecodable payloads yield NULL (excluded from pairing).

    Everything is integer arithmetic, so the hash is bit-deterministic
    across engines and platforms — pair it with
    :func:`~polycheck_spark.operators.dedup.hamming_near_pairs` (bits=64)
    for the perceptual near-dup join.  One map-side Arrow pass, no
    shuffle, no driver state."""
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("dhash", T.LongType())])

    def gen(batches):
        for pdf in batches:
            ids, hashes = [], []
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = _decode_bmp(b) or _decode_pnm(b)
                h = None
                if rec is not None:
                    w, ht, ch = rec["width"], rec["height"], rec["channels"]
                    if w >= 9 and ht >= 8:
                        px = rec["vals"].reshape(ht, w, ch)
                        gray = px[:, :, 0] if ch == 1 \
                            else px.sum(axis=2) // 3
                        h = _dhash64(gray)
                ids.append(did)
                hashes.append(h)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return df.select("doc_id", "payload").mapInPandas(gen, schema=schema)


# --- codec-free audio features (over the real WAV decode) --------------------

_AUDIO_FEAT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("sum_abs", T.LongType()),
    T.StructField("peak_abs", T.LongType()),
    T.StructField("zero_crossings", T.LongType()),
])


def audio_features(df: DataFrame, *, frame: int = 256) -> DataFrame:
    """Integer audio features of WAV-PCM payloads via the real decoder:
    sample count, ``ceil(n / frame)`` frame count, total absolute
    amplitude, peak absolute amplitude, and zero crossings (adjacent
    samples on opposite sides of zero, with 0 counted as non-negative).
    Non-WAV payloads yield NULL features.

    All-integer outputs make the differential oracle exact; one map-side
    Arrow pass, no shuffle.  The feature set is the front half of a VAD /
    silence-trim / loudness-bucket pipeline — the decisions a 100-TB
    audio-crawl clean stage makes from header + PCM arithmetic alone."""
    def gen(batches):
        for pdf in batches:
            out = {f.name: [] for f in _AUDIO_FEAT_SCHEMA.fields}
            for did, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                rec = _decode_wav(b)
                out["doc_id"].append(did)
                if rec is None:
                    for k in ("n_samples", "n_frames", "sum_abs",
                              "peak_abs", "zero_crossings"):
                        out[k].append(None)
                    continue
                v = rec["vals"]
                n = len(v)
                nonneg = v >= 0
                out["n_samples"].append(n)
                out["n_frames"].append(-(-n // frame))
                out["sum_abs"].append(int(np.abs(v).sum()))
                out["peak_abs"].append(int(np.abs(v).max()) if n else 0)
                out["zero_crossings"].append(
                    int((nonneg[1:] != nonneg[:-1]).sum()) if n > 1 else 0)
            yield pd.DataFrame(out)

    return df.select("doc_id", "payload").mapInPandas(
        gen, schema=_AUDIO_FEAT_SCHEMA)
