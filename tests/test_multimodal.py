"""Multimodal binary-column plumbing and codec-free decode tests."""

from polycheck_spark.data import synth
from polycheck_spark.operators import multimodal as M


def test_media_metadata_columns(spark):
    pages = synth.generate_pages(spark, 50)
    meta = M.media_metadata(pages)
    rows = meta.select("url", "media_bytes", "media_sha", "media_type").collect()
    assert all(r["media_bytes"] > 0 for r in rows)
    assert all(len(r["media_sha"]) == 64 for r in rows)
    assert all(r["media_type"] == "text/html" for r in rows)  # generator emits <html>


def test_media_sniffer_magic_dispatch(spark):
    """Case-variant text prefixes and RIFF container subtypes (bytes 9-12)."""
    cases = [
        (b"\x89PNG\r\n\x1a\nrest", "image/png"),
        (b"\xff\xd8\xff\xe0body", "image/jpeg"),
        (b"GIF89a...", "image/gif"),
        (b"<html><body>", "text/html"),
        (b"<HTML><BODY>", "text/html"),
        (b"<!doctype html>", "text/html"),
        (b"<!DOCTYPE HTML>", "text/html"),
        (b"RIFF\x10\x00\x00\x00WAVEfmt ", "audio/wav"),
        (b"RIFF\x10\x00\x00\x00WEBPVP8 ", "image/webp"),
        (b"RIFF\x10\x00\x00\x00AVI LIST", "video/x-msvideo"),
        (b"RIFF\x10\x00\x00\x00XXXX....", "application/octet-stream"),
        (b"plain bytes", "application/octet-stream"),
    ]
    df = spark.createDataFrame([(i, bytearray(b)) for i, (b, _) in enumerate(cases)],
                               "i int, payload binary")
    got = {r["i"]: r["media_type"]
           for r in M.media_metadata(df, payload_col="payload").collect()}
    for i, (_, expected) in enumerate(cases):
        assert got[i] == expected, (i, cases[i], got[i])


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00")


def _gif(w, h, ver=b"89a"):
    import struct
    return b"GIF" + ver + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg(w, h, app_pad=7, marker=0xC0, with_sof=True):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + app_pad) + b"\x00" * app_pad
    sof = (bytes([0xFF, marker]) + struct.pack(">H", 17) + b"\x08"
           + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9)
    return b"\xff\xd8" + app0 + app1 + (sof if with_sof else b"")


def test_media_dims_goldens(spark):
    """Header-level width/height: PNG IHDR (BE u32), GIF logical screen
    (LE u16, both versions), JPEG SOF0/SOF2 behind variable-length APP
    segments; non-media and truncated headers yield NULLs — all real byte
    arithmetic, no codec."""
    cases = [
        (_png(800, 600), (800, 600)),
        (_png(1, 4_000_000), (1, 4_000_000)),          # >u16 dims exercise u32
        (_gif(320, 200, b"87a"), (320, 200)),
        (_gif(0x1234, 77), (0x1234, 77)),
        (_jpeg(640, 480), (640, 480)),                  # SOF0, short APP1
        (_jpeg(31, 9999, app_pad=29, marker=0xC2), (31, 9999)),  # SOF2, long APP1
        (_jpeg(5, 5, with_sof=False), (None, None)),    # no SOF segment
        (b"\x89PNG\r\n\x1a\nXXXXYYYY", (None, None)),   # magic but no IHDR
        (b"GIF8" + b"a3f1b2", (None, None)),            # versionless GIF8 prefix
        (b"<html><body>hello</body>", (None, None)),
    ]
    df = spark.createDataFrame([(i, bytearray(b)) for i, (b, _) in enumerate(cases)],
                               "i int, payload binary")
    got = {r["i"]: (r["media_w"], r["media_h"])
           for r in M.media_dims(df, payload_col="payload").collect()}
    for i, (_, expected) in enumerate(cases):
        assert got[i] == expected, (i, cases[i], got[i])


def test_media_dims_sql_twin_matches(spark):
    """The DuckDB hex-arithmetic twin must agree with the Spark parse on
    PNG/GIF (fixed-offset) and on JPEG via the fixed-offset oracle for a
    formula-known segment layout (generic walk vs computed SOF position)."""
    import duckdb
    payloads = [_png(12, 34), _gif(56, 78), _gif(9, 10, b"87a"),
                _jpeg(111, 222, app_pad=5), b"plain text bytes"]
    # jpeg SOF hex position for THIS layout: 2 + 18 + (4 + 5) bytes before it
    sof_pos = 2 * (2 + 18 + 4 + 5) + 1
    df = spark.createDataFrame([(i, bytearray(b)) for i, b in enumerate(payloads)],
                               "i int, payload binary")
    got = sorted((r["i"], r["media_w"], r["media_h"])
                 for r in M.media_dims(df, payload_col="payload").collect())
    w_sql, h_sql = M.media_dims_sql("hx", jpeg_sof_pos_expr=str(sof_pos))
    con = duckdb.connect()
    hex_rows = ", ".join(f"({i}, '{b.hex()}')" for i, b in enumerate(payloads))
    exp = sorted(con.execute(
        f"SELECT i, {w_sql} AS w, {h_sql} AS h "
        f"FROM (SELECT * FROM (VALUES {hex_rows}) t(i, hx))").fetchall())
    assert got == exp


# --- codec-free real decode (BMP / PNM / WAV) --------------------------------

def _ref_bmp(w, h, px_rows, bottom_up=True):
    """Independently-built 24-bpp BMP (struct, not the engine's encoder).
    px_rows: h x w x 3 uint8 array in TOP-DOWN visual order."""
    import struct
    stride = (w * 3 + 3) & ~3
    rows = px_rows[::-1] if bottom_up else px_rows
    body = b"".join(bytes(r.reshape(-1)) + b"\xcc" * (stride - 3 * w)
                    for r in rows)
    hdrh = -h if not bottom_up else h
    return (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIIIII", 40, w, hdrh, 1, 24, 0,
                          len(body), 0, 0, 0, 0) + body)


def _ref_wav(nch, rate, samples16):
    import struct
    data = b"".join(struct.pack("<h", s) for s in samples16)
    fmt = struct.pack("<HHIIHH", 1, nch, rate, rate * nch * 2, nch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"junk" + struct.pack("<I", 3) + b"xyz" + b"\x00" \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_bmp_padding_and_orientation():
    import numpy as np
    from polycheck_spark.operators.multimodal import _decode_bmp
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    for bottom_up in (True, False):
        rec = _decode_bmp(_ref_bmp(3, 2, px, bottom_up))
        assert (rec["fmt"], rec["width"], rec["height"],
                rec["channels"]) == ("bmp", 3, 2, 3)
        # stats must exclude the 0xcc stride padding
        assert rec["vals"].sum() == px.astype(int).sum()
        assert rec["vals"].max() == 17 and rec["vals"].min() == 0
    assert _decode_bmp(b"BMxx") is None
    assert _decode_bmp(_ref_bmp(3, 2, px)[:40]) is None  # truncated


def test_decode_pnm_comments_and_whitespace():
    from polycheck_spark.operators.multimodal import _decode_pnm
    raster = bytes(range(6))
    rec = _decode_pnm(b"P5\n# a comment\n 3\t2 #x\n255\n" + raster)
    assert (rec["fmt"], rec["width"], rec["height"], rec["channels"]) \
        == ("pgm", 3, 2, 1)
    assert list(rec["vals"]) == list(range(6))
    rec6 = _decode_pnm(b"P6 2 1 255 " + bytes(range(6)))
    assert (rec6["fmt"], rec6["channels"]) == ("ppm", 3)
    assert _decode_pnm(b"P5 3 2 65535 " + raster) is None  # 16-bit maxval
    assert _decode_pnm(b"P5 3 2 255 " + raster[:4]) is None  # short raster


def test_decode_wav_chunk_walk_and_signed_samples():
    from polycheck_spark.operators.multimodal import _decode_wav
    samples = [-32768, -1, 0, 1, 32767, 100]
    rec = _decode_wav(_ref_wav(2, 44100, samples))
    assert (rec["fmt"], rec["channels"], rec["sample_rate"]) == ("wav", 2, 44100)
    assert list(rec["vals"]) == samples  # the junk chunk was walked over
    assert _decode_wav(b"RIFF\x00\x00\x00\x00WEBP") is None


def test_decode_media_basic_spark_roundtrip(spark):
    import numpy as np
    from polycheck_spark.operators.multimodal import decode_media_basic
    px = np.full((1, 1, 3), 7, dtype=np.uint8)
    rows = [(1, _ref_bmp(1, 1, px)), (2, _ref_wav(1, 8000, [5, -5])),
            (3, b"P5 2 2 255 " + bytes([1, 2, 3, 4])), (4, b"\xeegarbage")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_media_basic(df).collect()}
    assert (got[1]["fmt"], got[1]["val_sum"]) == ("bmp", 21)
    assert (got[2]["fmt"], got[2]["n_vals"], got[2]["val_sum"],
            got[2]["val_min"]) == ("wav", 2, 0, -5)
    assert (got[3]["fmt"], got[3]["val_sum"]) == ("pgm", 10)
    assert got[4]["fmt"] == "unknown" and got[4]["val_sum"] is None


# --- dHash + hamming pair join ----------------------------------------------

def test_dhash_downsample_matches_manual_boxes():
    import numpy as np
    from polycheck_spark.operators.multimodal import _dhash64
    rng = np.random.RandomState(7)
    g = rng.randint(0, 256, (16, 18)).astype(np.int64)
    cells = np.empty((8, 9), np.int64)
    for r in range(8):
        for c in range(9):
            cells[r, c] = int(g[2 * r:2 * r + 2, 2 * c:2 * c + 2].sum()) // 4
    expect = 0
    for j, bit in enumerate((cells[:, :-1] > cells[:, 1:]).reshape(-1)):
        if bit:
            expect |= 1 << j
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert _dhash64(g) == expect


def test_image_dhash_identity_and_perturbation(spark):
    import numpy as np
    from polycheck_spark.operators.multimodal import image_dhash
    rng = np.random.RandomState(11)
    base = rng.randint(0, 200, (8, 9)).astype(np.uint8)
    tweak = base.copy()
    tweak[3, 4] = 255          # one pixel -> at most 2 comparison flips
    def pgm(a):
        return b"P5 9 8 255 " + bytes(a.reshape(-1))
    rows = [(1, pgm(base)), (2, pgm(base)), (3, pgm(tweak)),
            (4, b"P5 4 4 255 " + bytes(16)),   # below the 9x8 grid -> NULL
            (5, b"\xeenot-an-image")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got[1] == got[2] and got[1] is not None
    assert got[3] is not None and got[3] != got[1]
    assert bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1") <= 2
    assert got[4] is None and got[5] is None


def test_hamming_near_pairs_64bit_equals_brute_force(spark):
    import numpy as np
    from polycheck_spark.operators.dedup import hamming_near_pairs
    rng = np.random.RandomState(3)
    # clustered signatures: 20 seeds x 4 members with <=3 flipped bits
    sigs = []
    for s in range(20):
        seed = int(rng.randint(0, 1 << 62)) | (int(rng.randint(0, 2)) << 63)
        for m in range(4):
            v = seed
            for b in rng.choice(64, size=int(rng.randint(0, 4)),
                                replace=False):
                v ^= 1 << int(b)
            sigs.append((s * 4 + m, v - (1 << 64) if v >= 1 << 63 else v))
    df = spark.createDataFrame(sigs, "id long, sig long")
    got = sorted((r["a"], r["b"], r["hamming"]) for r in hamming_near_pairs(
        df, max_hamming=3, hash_col="sig", bits=64,
        emit_hamming=True).collect())
    mask = (1 << 64) - 1
    exp = sorted(
        (ia, ib, bin((va ^ vb) & mask).count("1"))
        for i, (ia, va) in enumerate(sigs) for ib, vb in sigs[i + 1:]
        if bin((va ^ vb) & mask).count("1") <= 3)
    assert got == exp and len(exp) > 20


def test_audio_features_spark_on_reference_wavs(spark):
    from polycheck_spark.operators.multimodal import audio_features
    samples = [5, -3, 0, -1, 2, 2]     # zero crossings at 0-1, 1-2, 2-3, 3-4
    rows = [(1, _ref_wav(1, 8000, samples)), (2, b"\xeenope")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in
           audio_features(df, frame=4).collect()}
    r1 = got[1]
    assert (r1["n_samples"], r1["n_frames"], r1["sum_abs"], r1["peak_abs"],
            r1["zero_crossings"]) == (6, 2, 13, 5, 4)
    assert got[2]["n_samples"] is None
