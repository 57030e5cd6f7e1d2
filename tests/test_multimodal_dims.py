"""multimodal-image-dims: the byte-expression header parsers against
GENUINE file bytes — a real 1x1 PNG (zlib-compressed IDAT and all) and
crafted JPEGs with multiple leading APP segments — plus the map-only
plan pin. The registered query's oracle checks synthesis+parse
round-trip; these fixtures check the parse against the actual formats."""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import functions as F

from spark_file_mover_spark.llm.multimodal import jpeg_dims, png_dims
from spark_file_mover_spark.profile import formatted_plan


def _real_png(width: int, height: int) -> bytes:
    """A complete, spec-valid PNG (8-bit grayscale, all-zero pixels)."""

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload))
        )

    sig = b"\x89PNG\r\n\x1a\x0a"
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00" * width for _ in range(height))
    return (
        sig
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_jpeg_header(width: int, height: int, n_app: int) -> bytes:
    """SOI + n_app APP segments of varying length + SOF0 — the prefix a
    real baseline JPEG starts with (dims parse needs nothing beyond)."""
    out = b"\xff\xd8"
    for i in range(n_app):
        payload = bytes(10 + 3 * i)
        out += bytes([0xFF, 0xE0 + i]) + struct.pack(">H", len(payload) + 2) + payload
    sof_payload = b"\x08" + struct.pack(">HH", height, width) + b"\x03"
    out += b"\xff\xc0" + struct.pack(">H", len(sof_payload) + 2) + sof_payload
    return out


def _parse(spark, payloads):
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, content binary",
    )
    c = F.col("content")
    is_png, pw, ph = png_dims(c)
    is_jpeg, jw, jh = jpeg_dims(c)
    rows = df.select(
        "id",
        is_png.alias("is_png"),
        pw.alias("pw"),
        ph.alias("ph"),
        is_jpeg.alias("is_jpeg"),
        jw.alias("jw"),
        jh.alias("jh"),
    ).collect()
    return {r.id: r for r in rows}


def test_real_png_dims(spark):
    got = _parse(spark, [_real_png(1, 1), _real_png(640, 480)])
    assert got[0].is_png and (got[0].pw, got[0].ph) == (1, 1)
    assert got[1].is_png and (got[1].pw, got[1].ph) == (640, 480)
    assert not got[0].is_jpeg


def test_real_jpeg_sof_walk(spark):
    # 0-3 leading APP segments: the walk must hop each one's length
    payloads = [_real_jpeg_header(123, 45, n) for n in range(4)]
    got = _parse(spark, payloads)
    for i in range(4):
        r = got[i]
        assert r.is_jpeg and not r.is_png, i
        assert (r.jw, r.jh) == (123, 45), (i, r)


def test_jpeg_sof_past_bound_is_null_not_wrong(spark):
    # SOF behind MORE segments than the default bound walks -> NULL dims
    got = _parse(spark, [_real_jpeg_header(99, 88, 6)])
    assert got[0].is_jpeg
    assert got[0].jw is None and got[0].jh is None


def test_non_image_bytes_fail_both_magics(spark):
    got = _parse(spark, [b"plain text payload", b"\x89PNGnot really....."])
    for r in got.values():
        assert not r.is_png and not r.is_jpeg


def test_image_dims_query_is_map_only(spark, sf_dir):
    from spark_file_mover_spark import registry

    registry.load_all()
    df = registry.QUERIES["multimodal-image-dims"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _real_wav(sample_rate: int, channels: int, bits: int, n_samples: int,
              leading_list: int = 0) -> bytes:
    """A spec-valid PCM WAV (canonical 44-byte header + zero samples),
    optionally with a LIST chunk before fmt."""
    block_align = channels * bits // 8
    data = b"\x00" * (n_samples * block_align)
    fmt = (
        b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    )
    lst = b""
    if leading_list:
        lst = b"LIST" + struct.pack("<I", leading_list) + bytes(leading_list)
    body = b"WAVE" + lst + fmt + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_wav_meta(spark):
    from spark_file_mover_spark.llm.multimodal import with_wav_meta

    payloads = [
        _real_wav(44100, 2, 16, 100),
        _real_wav(16000, 1, 8, 250, leading_list=10),
        b"RIFFnotawave....",
        b"plain text",
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, content binary",
    )
    got = {r.id: r for r in with_wav_meta(df).collect()}
    assert got[0].is_wav and (
        got[0].channels, got[0].sample_rate, got[0].bits_per_sample,
        got[0].n_samples,
    ) == (2, 44100, 16, 100)
    # LIST chunk before fmt: the walk must hop it
    assert got[1].is_wav and (
        got[1].channels, got[1].sample_rate, got[1].bits_per_sample,
        got[1].n_samples,
    ) == (1, 16000, 8, 250)
    assert not got[2].is_wav  # RIFF but not WAVE
    assert not got[3].is_wav


def test_audio_meta_query_is_map_only_and_codegen_clean(spark, sf_dir):
    from spark_file_mover_spark import registry

    registry.load_all()
    df = registry.QUERIES["multimodal-audio-meta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _real_mp4(timescale: int, duration: int, width: int, height: int,
              free_before_moov: int = 0, free_in_moov: int = 0,
              n_brands: int = 1) -> bytes:
    """A spec-valid MP4 header (ftyp + optional free + moov(mvhd
    [+ free] + trak(tkhd)) + empty mdat), v0 boxes throughout."""

    def box(typ: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + typ + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" * n_brands)
    mvhd = box(
        b"mvhd",
        bytes(4)  # version/flags
        + bytes(8)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + bytes(80),  # rate .. next_track_ID
    )
    tkhd = box(
        b"tkhd",
        bytes(76)  # version/flags .. matrix
        + struct.pack(">HHHH", width, 0, height, 0),  # 16.16 fixed
    )
    trak = box(b"trak", tkhd)
    inner = b""
    if free_in_moov:
        inner = box(b"free", bytes(free_in_moov))
    moov = box(b"moov", mvhd + inner + trak)
    out = ftyp
    if free_before_moov:
        out += box(b"free", bytes(free_before_moov))
    return out + moov + box(b"mdat", b"")


def test_real_mp4_meta(spark):
    from spark_file_mover_spark.llm.multimodal import with_mp4_meta

    payloads = [
        _real_mp4(90000, 90000 * 7, 1920, 1080),
        # both walk levels must hop: free before moov AND inside moov
        _real_mp4(600, 600 * 3, 640, 360, free_before_moov=12,
                  free_in_moov=20, n_brands=2),
        b"\x00\x00\x00\x08notp" + bytes(16),  # valid box, not an mp4
        b"plain text",
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "id long, content binary",
    )
    got = {r.id: r for r in with_mp4_meta(df).collect()}
    assert got[0].is_mp4 and (
        got[0].timescale, got[0].duration, got[0].duration_s,
        got[0].width, got[0].height,
    ) == (90000, 630000, 7, 1920, 1080)
    assert got[1].is_mp4 and (
        got[1].timescale, got[1].duration, got[1].duration_s,
        got[1].width, got[1].height,
    ) == (600, 1800, 3, 640, 360)
    assert not got[2].is_mp4
    assert not got[3].is_mp4
    assert got[3].timescale is None and got[3].width is None


def test_mp4_moov_past_bound_is_null_not_wrong(spark):
    from spark_file_mover_spark.llm.multimodal import with_mp4_meta

    # moov behind MORE top-level boxes than the default bound walks:
    # ftyp + 3 free boxes push moov to hop 4 of a 3-hop walk
    def box(typ, payload):
        return struct.pack(">I", len(payload) + 8) + typ + payload

    deep = (_real_mp4(600, 600, 100, 100)[:20]  # just the ftyp (20 bytes)
            + box(b"free", bytes(4)) * 3
            + _real_mp4(600, 600, 100, 100)[20:])
    df = spark.createDataFrame([(0, bytearray(deep))], "id long, content binary")
    got = with_mp4_meta(df).collect()[0]
    assert got.is_mp4  # magic still matches
    assert got.timescale is None and got.width is None  # NULL, not wrong


def test_video_meta_query_is_map_only_and_codegen_clean(spark, sf_dir):
    from spark_file_mover_spark import registry

    registry.load_all()
    df = registry.QUERIES["multimodal-video-meta"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _real_gif(width: int, height: int) -> bytes:
    """A complete, spec-valid 2-color GIF89a with one all-background
    image data block — renders in any viewer."""
    lsd = struct.pack("<HH", width, height) + bytes([0x80, 0x00, 0x00])
    gct = b"\x00\x00\x00\xff\xff\xff"
    img = (
        b"\x2c"
        + struct.pack("<HHHH", 0, 0, width, height)
        + b"\x00"  # image descriptor, no LCT
        + b"\x02\x02\x44\x01\x00"  # LZW min code 2, 2-byte data block
    )
    return b"GIF89a" + lsd + gct + img + b"\x3b"


def test_gif_meta_on_genuine_file(spark):
    """The LSD parse against real GIF bytes — version, LE dims, packed
    bit fields, declared-GCT size check with data blocks present."""
    from spark_file_mover_spark.llm.multimodal import gif_meta_cols

    df = spark.createDataFrame(
        [(0, bytearray(_real_gif(1, 1))), (1, bytearray(_real_gif(300, 7)))],
        "id long, content binary",
    )
    rows = {
        r.id: r for r in df.select("id", *gif_meta_cols(F.col("content"))).collect()
    }
    for i, (w, h) in ((0, (1, 1)), (1, (300, 7))):
        r = rows[i]
        assert r.version == "89a" and r.magic_ok and r.size_ok
        assert (r.width, r.height) == (w, h)
        assert r.gct_colors == 2 and r.color_res == 0 and r.bg_index == 0
    # corrupted magic parses as not-a-gif
    bad = df.select(
        "id",
        *gif_meta_cols(
            F.concat(F.lit(bytearray(b"XX")), F.col("content").substr(3, 10000))
        ),
    ).collect()
    assert not any(r.magic_ok for r in bad)


def _real_bmp(w: int, h: int, top_down: bool = False) -> bytes:
    """A genuine struct-packed 24-bit BMP (the bytes any image viewer
    would accept)."""
    import struct

    stride = ((24 * w + 31) // 32) * 4
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII",
        40,
        w,
        -h if top_down else h,
        1,
        24,
        0,
        img_size,
        2835,
        2835,
        0,
        0,
    )
    rows = b""
    for _ in range(h):
        rows += (b"\x00\x80\xff" * w)[: 3 * w].ljust(stride, b"\x00")
    return header + rows


def test_bmp_meta_on_genuine_files(spark):
    from spark_file_mover_spark.llm.multimodal import bmp_meta_cols

    df = spark.createDataFrame(
        [
            (0, bytearray(_real_bmp(1, 1))),
            (1, bytearray(_real_bmp(13, 7))),
            (2, bytearray(_real_bmp(4, 3, top_down=True))),
        ],
        "id long, content binary",
    )
    rows = {
        r.id: r
        for r in df.select(
            "id", *bmp_meta_cols(F.col("content"))
        ).collect()
    }
    for i, (w, h, td) in ((0, (1, 1, False)), (1, (13, 7, False)),
                          (2, (4, 3, True))):
        r = rows[i]
        assert r.magic_ok and r.size_ok, r
        assert (r.width, r.height, r.top_down) == (w, h, td), r
        assert r.bits_per_pixel == 24 and r.compression == 0
        assert r.row_stride == ((24 * w + 31) // 32) * 4
        assert r.image_size == r.row_stride * h
    # corrupted magic parses as not-a-bmp
    bad = df.select(
        "id",
        *bmp_meta_cols(
            F.concat(
                F.lit(bytearray(b"XX")), F.col("content").substr(3, 100000)
            )
        ),
    ).collect()
    assert not any(r.magic_ok for r in bad)
