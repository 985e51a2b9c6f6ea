"""Tests for the multimodal binary-column plumbing (decode is stubbed;
the Spark-side schema/batch mechanics are real)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from instructions_mr_spark.operators.multimodal import (
    binary_metadata,
    decode_images,
    sample_frames,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, b"\xff\xd8\xff\xe0" + b"jpegdata" * 10),
        (2, b"\x89PNG\r\n" + b"pngdata" * 5),
        (3, b"RIFFxxxxWAVE" + b"audio" * 20),
        (4, b"plain bytes"),
    ]
    return spark.createDataFrame(rows, "media_id int, payload binary")


def test_magic_sniff_and_size(spark, media):
    out = {r.media_id: r.meta for r in binary_metadata(media, "payload").collect()}
    assert out[1].format == "jpeg"
    assert out[2].format == "png"
    assert out[3].format == "riff"
    assert out[4].format == "unknown"
    assert out[4].n_bytes == len(b"plain bytes")
    assert len(out[1].sha1) == 40  # hex digest, no decode needed


def test_decode_requires_fake_flag(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|decode requires"):
        decode_images(media, "payload", fake=False).collect()


def test_real_decode_uses_pil_when_importable(monkeypatch):
    """fake=False must route through PIL when it imports (the optional
    real path) — exercised with a stub PIL module since the container
    lacks pillow; the dims must come from Image.open, not the fake."""
    import io
    import sys
    import types

    from instructions_mr_spark.operators.multimodal import _decode_one

    class _FakeImage:
        width, height = 640, 480

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    opened_with: list[bytes] = []

    def _open(buf):
        assert isinstance(buf, io.BytesIO)
        opened_with.append(buf.getvalue())
        return _FakeImage()

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(open=_open)
    monkeypatch.setitem(sys.modules, "PIL", pil)
    assert _decode_one(b"imagebytes", fake=False) == (640, 480)
    assert opened_with == [b"imagebytes"]
    # and the fake path stays PIL-independent
    assert _decode_one(b"imagebytes", fake=True) != (640, 480)


def test_real_frame_sampling_uses_imageio_when_importable(monkeypatch):
    """fake=False video sampling must route through imageio's pyav plugin
    when it imports — exercised with a stub module (the container lacks
    imageio/ffmpeg); frames must come from imiter+imwrite, not the fake."""
    import sys
    import types

    from instructions_mr_spark.operators.multimodal import _sample_frames_one

    calls: dict[str, list] = {"imiter": [], "imwrite": []}

    def _imiter(payload, plugin=None):
        calls["imiter"].append((payload, plugin))
        yield from ["f0", "f1", "f2", "f3", "f4"]

    def _imwrite(uri, frame, extension=None):
        calls["imwrite"].append((uri, frame, extension))
        return b"png:" + frame.encode()

    v3 = types.ModuleType("imageio.v3")
    v3.imiter, v3.imwrite = _imiter, _imwrite
    pkg = types.ModuleType("imageio")
    pkg.v3 = v3
    monkeypatch.setitem(sys.modules, "imageio", pkg)
    monkeypatch.setitem(sys.modules, "imageio.v3", v3)

    out = _sample_frames_one(b"videobytes", every_n=2, fake=False)
    assert out == [(0, b"png:f0"), (2, b"png:f2"), (4, b"png:f4")]
    assert calls["imiter"] == [(b"videobytes", "pyav")]
    assert all(ext == ".png" for _, _, ext in calls["imwrite"])
    # and the fake path stays imageio-independent (different output shape)
    fake = _sample_frames_one(b"videobytes", every_n=2, fake=True)
    assert fake and fake != out


def test_real_frame_sampling_without_lib_raises(monkeypatch):
    """Without imageio importable, fake=False must be a clear
    NotImplementedError — never a silent fallback to the fake."""
    import builtins
    import sys

    from instructions_mr_spark.operators.multimodal import _sample_frames_one

    monkeypatch.delitem(sys.modules, "imageio", raising=False)
    monkeypatch.delitem(sys.modules, "imageio.v3", raising=False)
    orig_import = builtins.__import__

    def no_imageio(name, *a, **kw):
        if name.startswith("imageio"):
            raise ImportError(name)
        return orig_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_imageio)
    with pytest.raises(NotImplementedError, match="imageio"):
        _sample_frames_one(b"videobytes", every_n=2, fake=False)


def test_fake_decode_is_deterministic(spark, media):
    a = {r.media_id: (r.width, r.height) for r in decode_images(media, "payload", fake=True).collect()}
    b = {r.media_id: (r.width, r.height) for r in decode_images(media, "payload", fake=True).collect()}
    assert a == b
    assert all(1 <= w <= 1920 and 1 <= h <= 1080 for w, h in a.values())


def test_decode_appends_to_schema(spark, media):
    out = decode_images(media, "payload", fake=True)
    assert out.columns == ["media_id", "payload", "width", "height"]


def test_frame_sampling_explodes_rows(spark, media):
    frames = sample_frames(media, "payload", "media_id", every_n=10, fake=True)
    rows = frames.collect()
    assert len(rows) > len(media.collect())  # one row per sampled frame
    assert frames.columns == ["media_id", "frame_idx", "frame"]
    by_id = [r for r in rows if r.media_id == 3]
    assert [r.frame_idx for r in by_id] == sorted(r.frame_idx for r in by_id)
    assert all(isinstance(r.frame, (bytes, bytearray)) for r in rows)


def _png(w: int, h: int) -> bytes:
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + b"\x00\x00\x00\x0dIHDR"
        + struct.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00"
    )


def _jpeg(w: int, h: int, leading_segments: bytes = b"") -> bytes:
    import struct

    return (
        b"\xff\xd8"
        + leading_segments
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", h, w)
        + b"\x03"
    )


def test_parse_image_dims_stdlib():
    """Header parsing is REAL (no PIL): PNG IHDR, JPEG SOF walk (incl.
    skipping APP0/comment segments before SOF), GIF LE descriptor."""
    from instructions_mr_spark.operators.multimodal import parse_image_dims

    assert parse_image_dims(_png(1920, 1080)) == ("png", 1920, 1080)
    assert parse_image_dims(_jpeg(640, 480)) == ("jpeg", 640, 480)
    # SOF behind an APP0 (JFIF) segment and a comment segment
    app0 = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    com = b"\xff\xfe\x00\x07hello"
    assert parse_image_dims(_jpeg(12, 34, app0 + com)) == ("jpeg", 12, 34)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00"
    assert parse_image_dims(gif) == ("gif", 320, 200)


def test_parse_image_dims_corrupt_is_data_not_error():
    """Truncated/corrupt payloads must yield None dims, never raise —
    bad bytes are data at 100 TB, not exceptions."""
    from instructions_mr_spark.operators.multimodal import parse_image_dims

    assert parse_image_dims(None) == ("unknown", None, None)
    assert parse_image_dims(b"") == ("unknown", None, None)
    assert parse_image_dims(b"\x89PNG\r\n\x1a\n\x00\x00") == ("png", None, None)
    assert parse_image_dims(b"\xff\xd8\xff\xe0\x00\x04\x00\x00") == ("jpeg", None, None)
    assert parse_image_dims(b"GIF89a\x01") == ("gif", None, None)
    assert parse_image_dims(b"not an image at all") == ("unknown", None, None)


def test_decode_image_headers_dataframe(spark):
    """The mapInPandas header-decode stage: real dims out of real
    bytes, nullable dims for the unknown row."""
    from instructions_mr_spark.operators.multimodal import decode_image_headers

    rows = [(1, _png(800, 600)), (2, _jpeg(320, 240)), (3, b"opaque")]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    out = {
        r.media_id: (r.format, r.width, r.height)
        for r in decode_image_headers(df, "payload").collect()
    }
    assert out[1] == ("png", 800, 600)
    assert out[2] == ("jpeg", 320, 240)
    assert out[3] == ("unknown", None, None)


def _wav(sr: int, ch: int, n: int) -> bytes:
    import struct

    data = n * ch * 2
    return (
        b"RIFF" + struct.pack("<I", 36 + data) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + b"data" + struct.pack("<I", data)
    )


def test_parse_audio_meta_real_layouts():
    from instructions_mr_spark.operators.multimodal import parse_audio_meta

    assert parse_audio_meta(_wav(44100, 2, 500)) == ("wav", 44100, 2, 500)
    assert parse_audio_meta(_wav(8000, 1, 1)) == ("wav", 8000, 1, 1)


def test_parse_audio_meta_chunk_walk():
    """An extra chunk before fmt (odd-sized, exercising word alignment)
    must be skipped, and data before fmt yields no n_samples (block
    size unknown at that point) — chunk order is walker-honest."""
    import struct

    from instructions_mr_spark.operators.multimodal import parse_audio_meta

    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 22050, 22050 * 4, 4, 16)
    data = b"data" + struct.pack("<I", 40)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # padded to even
    good = b"RIFF" + struct.pack("<I", 100) + b"WAVE" + junk + fmt + data
    assert parse_audio_meta(good) == ("wav", 22050, 2, 10)
    reordered = (
        b"RIFF" + struct.pack("<I", 100) + b"WAVE"
        + data + b"\x00" * 40  # data chunk WITH its 40 payload bytes
        + fmt
    )
    assert parse_audio_meta(reordered) == ("wav", 22050, 2, None)


def test_parse_audio_meta_degrades():
    from instructions_mr_spark.operators.multimodal import parse_audio_meta

    assert parse_audio_meta(None) == ("unknown", None, None, None)
    assert parse_audio_meta(b"") == ("unknown", None, None, None)
    assert parse_audio_meta(b"RIFF\x00\x00\x00\x00AVI ") == ("unknown", None, None, None)
    assert parse_audio_meta(b"RIFF\x04\x00\x00\x00WAVE") == ("wav", None, None, None)


def test_decode_audio_headers_dataframe(spark):
    from instructions_mr_spark.operators.multimodal import decode_audio_headers

    rows = [(1, _wav(16000, 1, 100)), (2, b"not audio")]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    out = {
        r.media_id: (r.format, r.sample_rate, r.channels, r.n_samples)
        for r in decode_audio_headers(df, "payload").collect()
    }
    assert out[1] == ("wav", 16000, 1, 100)
    assert out[2] == ("unknown", None, None, None)


def _mp4(ts: int, dur: int, ntrak: int) -> bytes:
    import struct

    def box(cc, body):
        return struct.pack(">I", 8 + len(body)) + cc + body

    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", ts, dur) + b"\x00" * 80,
    )
    traks = b"".join(box(b"trak", b"\x00" * 16) for _ in range(ntrak))
    return box(b"ftyp", b"isomiso2") + box(b"moov", mvhd + traks)


def test_parse_video_meta_real_layouts():
    from instructions_mr_spark.operators.multimodal import parse_video_meta

    assert parse_video_meta(_mp4(90000, 1234567, 2)) == ("mp4", 90000, 1234567, 2)
    assert parse_video_meta(_mp4(600, 1, 1)) == ("mp4", 600, 1, 1)


def test_parse_video_meta_v1_mvhd():
    """Version-1 mvhd stores 64-bit timestamps; timescale/duration
    shift accordingly and duration is u64."""
    import struct

    from instructions_mr_spark.operators.multimodal import parse_video_meta

    def box(cc, body):
        return struct.pack(">I", 8 + len(body)) + cc + body

    mvhd = box(
        b"mvhd",
        b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
        + struct.pack(">IQ", 600, 2**33) + b"\x00" * 80,
    )
    b = box(b"ftyp", b"isom") + box(b"moov", mvhd)
    assert parse_video_meta(b) == ("mp4", 600, 2**33, None)


def test_parse_video_meta_degrades():
    from instructions_mr_spark.operators.multimodal import parse_video_meta

    assert parse_video_meta(None) == ("unknown", None, None, None)
    assert parse_video_meta(b"") == ("unknown", None, None, None)
    assert parse_video_meta(b"\x00\x00\x00\x08free") == ("unknown", None, None, None)
    # valid ftyp but truncated moov -> mp4 with null fields
    import struct

    b = struct.pack(">I", 16) + b"ftyp" + b"isomiso2" + struct.pack(">I", 100) + b"moov"
    assert parse_video_meta(b) == ("mp4", None, None, None)


def test_decode_video_headers_dataframe(spark):
    from instructions_mr_spark.operators.multimodal import decode_video_headers

    rows = [(1, _mp4(1000, 5000, 3)), (2, b"not video")]
    df = spark.createDataFrame(rows, "media_id int, payload binary")
    out = {
        r.media_id: (r.format, r.timescale, r.duration, r.n_tracks)
        for r in decode_video_headers(df, "payload").collect()
    }
    assert out[1] == ("mp4", 1000, 5000, 3)
    assert out[2] == ("unknown", None, None, None)


def test_out_of_range_header_field_is_null_not_a_failed_task(spark):
    """A corrupt PNG IHDR width of 0x80000000 does not fit the int
    column: it decodes to a null width, the row and the task survive."""
    from instructions_mr_spark.operators.multimodal import decode_image_headers

    df = spark.createDataFrame([(1, _png(0x80000000, 10))], "media_id int, payload binary")
    [r] = decode_image_headers(df, "payload").collect()
    assert (r.format, r.width, r.height) == ("png", None, 10)


def test_every_media_stage_runs_on_the_arrow_boundary(spark, media):
    """Each decoder and the frame sampler crosses into Python through
    the one mapInArrow shell (operators/arrow_map.py), never pandas."""
    from instructions_mr_spark.operators import multimodal as M

    stages = {
        "decode_images": M.decode_images(media, "payload", fake=True),
        "decode_image_headers": M.decode_image_headers(media, "payload"),
        "decode_audio_headers": M.decode_audio_headers(media, "payload"),
        "decode_video_headers": M.decode_video_headers(media, "payload"),
        "sample_frames": M.sample_frames(media, "payload", "media_id", fake=True),
    }
    for name, out in stages.items():
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, name


def test_decode_keep_columns_round_trip_unchanged(spark):
    """Every input column passes the decoder untouched, whatever its
    type: a null payload plus nullable bigint, decimal, timestamp,
    array and struct values come back equal, under the same types."""
    import datetime as dt
    from decimal import Decimal

    from instructions_mr_spark.operators.multimodal import decode_image_headers

    df = spark.createDataFrame(
        [
            (1, Decimal("1234567890.12"), dt.datetime(2024, 2, 29, 23, 59, 59, 123456),
             ["a", None], (7, "x"), _png(4, 3)),
            (None, None, None, None, None, None),
            (3, Decimal("-0.05"), dt.datetime(1970, 1, 1), [], (None, "é"), b"opaque"),
        ],
        "id bigint, amt decimal(12,2), ts timestamp, tags array<string>, "
        "meta struct<a:int,b:string>, payload binary",
    )
    out = decode_image_headers(df, "payload")
    assert out.schema.fields[: len(df.columns)] == df.schema.fields
    got = sorted(out.collect(), key=lambda r: r.id or 0)
    want = sorted(df.collect(), key=lambda r: r.id or 0)
    assert [tuple(r)[: len(df.columns)] for r in got] == [tuple(r) for r in want]
    assert [(r.format, r.width, r.height) for r in got] == [
        ("unknown", None, None), ("png", 4, 3), ("unknown", None, None)
    ]


def test_empty_input_keeps_the_declared_schema(spark):
    """A 0-row input yields 0 rows under each stage's declared schema."""
    from instructions_mr_spark.operators.multimodal import (
        decode_image_headers,
        sample_frames,
    )

    empty = spark.createDataFrame([], "media_id int, payload binary")
    headers = decode_image_headers(empty, "payload")
    assert headers.collect() == []
    assert headers.schema.simpleString() == (
        "struct<media_id:int,payload:binary,format:string,width:int,height:int>"
    )
    frames = sample_frames(empty, "payload", "media_id", fake=True)
    assert frames.collect() == []
    assert frames.schema.simpleString() == (
        "struct<media_id:int,frame_idx:int,frame:binary>"
    )
