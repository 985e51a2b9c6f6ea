"""Multimodal column plumbing (BASELINE mandate): image/audio/video as
opaque ``binary`` columns with typed metadata.

Metadata decode is REAL and stdlib-only: :func:`parse_image_dims`
reads PNG/JPEG/GIF dimensions straight from the container headers
(IHDR / SOF marker walk / screen descriptor), no PIL required.  Full
pixel decode remains an optional-dependency path: ``decode_images``
raises NotImplementedError without PIL unless ``fake=True``, which
substitutes a deterministic fake decoder so the Spark-side plumbing —
schema, partitioning, Arrow batch shape, UDF signatures — is fully
real and tested.  Swapping in PIL/ffmpeg later only changes the body
of ``_decode_one``.

Scale notes: binary payloads ride normal parquet pages; metadata
extraction is a narrow projection (never decodes); every decoder runs
on the package's one ``mapInArrow`` boundary
(``arrow_map.map_columns``), so one Python worker amortizes across an
Arrow batch and the other columns pass through as Arrow arrays, and
``spark.sql.files.maxPartitionBytes`` bounds memory per task.  Frame
sampling emits rows (one per frame) — an explode-shaped operator, a
JVM ``inline`` over the sampled-frames array, so downstream filters
prune frames before any heavy model.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructions_mr_spark.operators.arrow_map import map_columns

IMAGE_META_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha1", T.StringType()),
    ]
)


def binary_metadata(df: DataFrame, col: str, out: str = "meta") -> DataFrame:
    """Typed metadata over an opaque binary column WITHOUT decoding:
    size, digest, and a magic-bytes format sniff — all JVM-side."""
    b = F.col(col)
    fmt = (
        F.when(F.hex(F.substring(b, 1, 3)) == "FFD8FF", "jpeg")
        .when(F.hex(F.substring(b, 1, 4)) == "89504E47", "png")
        .when(F.substring(b, 1, 4).cast("string") == "RIFF", "riff")
        .otherwise("unknown")
    )
    meta = F.struct(
        fmt.alias("format"),
        F.lit(None).cast("int").alias("width"),  # filled by decode stage
        F.lit(None).cast("int").alias("height"),
        F.length(b).cast("long").alias("n_bytes"),
        F.sha1(b).alias("sha1"),
    )
    return df.withColumn(out, meta)


# SOF segment markers that carry JPEG frame dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames)
_JPEG_SOF = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


def parse_image_dims(payload: bytes | None) -> tuple[str, int | None, int | None]:
    """REAL image dimensions from container headers, stdlib-only — no
    PIL needed for the metadata contract:

    * PNG: width/height are big-endian u32 at bytes 16..24 of the IHDR
      chunk, which the spec pins as the first chunk after the 8-byte
      signature.
    * JPEG: walk the marker segments from SOI until a SOF frame header;
      height/width are big-endian u16 at offsets +5/+7 in the segment.
    * GIF: width/height are little-endian u16 at bytes 6..10 of the
      logical screen descriptor.

    Returns (format, width, height); unknown/truncated payloads yield
    (fmt, None, None) rather than raising — corrupt bytes are data, not
    errors, at 100 TB."""
    b = payload or b""
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if len(b) >= 24 and b[12:16] == b"IHDR":
            w, h = struct.unpack(">II", b[16:24])
            return "png", w, h
        return "png", None, None
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone
                i += 2
                continue
            if i + 4 > len(b):
                break
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF and i + 9 <= len(b):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", w, h
            i += 2 + seg_len
        return "jpeg", None, None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return "gif", w, h
        return "gif", None, None
    return "unknown", None, None


# half-open magnitude bound of each integer column type: a parser
# returns raw u32/u64 header fields, which a corrupt header can push
# past the column's range
_INT_BOUND = {T.IntegerType: 2**31, T.LongType: 2**63}


def _fits(v: object, bound: int | None) -> bool:
    return v is None or bound is None or -bound <= v < bound


def _decode(
    df: DataFrame,
    col: str,
    parse: Callable[[bytes | None], Sequence],
    fields: str,
) -> DataFrame:
    """Every column of ``df`` plus the DDL ``fields``, filled from
    ``parse(payload)`` row by row.  A parsed integer outside its
    column type's range becomes null: corrupt bytes are data, not a
    failed task."""
    schema = T.StructType.fromDDL(fields)
    bounds = [_INT_BOUND.get(type(f.dataType)) for f in schema]

    def decode(payloads: list) -> list[list]:
        rows = [parse(p) for p in payloads]
        return [
            [r[i] if _fits(r[i], b) else None for r in rows]
            for i, b in enumerate(bounds)
        ]

    return map_columns(df, df.columns, [F.col(col)], schema, lambda: decode)


def decode_image_headers(df: DataFrame, col: str) -> DataFrame:
    """Real (non-fake) decode of format/width/height from container
    headers via :func:`parse_image_dims` — the PIL-free metadata
    contract.  Same :func:`_decode` shape as :func:`decode_images` so
    swapping in a full pixel decode later changes only the kernel."""
    return _decode(df, col, parse_image_dims, "format string, width int, height int")


def _decode_one(payload: bytes, fake: bool) -> tuple[int, int]:
    """Return (width, height).

    ``fake=True``: deterministic function of the payload's md5 digest,
    so tests are stable AND the whole Arrow decode path is
    oracle-checkable (DuckDB can compute the identical md5-derived
    dims in SQL — see queries/advanced.py multimodal_decode_fake).

    ``fake=False``: real decode through PIL if importable (optional
    dependency — absent from this container); otherwise a clear
    NotImplementedError, never a silent fake."""
    if fake:
        h = hashlib.md5(payload or b"").digest()
        w, ht = struct.unpack(">HH", h[:4])
        return (w % 1920) + 1, (ht % 1080) + 1
    try:
        from PIL import Image  # optional; import inside the worker
    except ImportError as e:
        raise NotImplementedError(
            "real image decode requires PIL (pip install pillow); "
            "pass fake=True for the deterministic stub"
        ) from e
    import io

    with Image.open(io.BytesIO(payload or b"")) as im:
        return int(im.width), int(im.height)


def decode_images(df: DataFrame, col: str, fake: bool = False) -> DataFrame:
    """Decode stage: fills width/height next to the payload.  Arrow
    batches stream through one Python worker per partition."""
    return _decode(df, col, lambda p: _decode_one(p, fake), "width int, height int")


def _sample_frames_one(payload: bytes, every_n: int, fake: bool) -> list[tuple[int, bytes]]:
    """Return [(frame_idx, frame_bytes), ...] for one video payload.

    ``fake=True``: digest-derived pseudo-frames — deterministic, library
    free, oracle-checkable.

    ``fake=False``: real decode through imageio's ffmpeg/pyav plugin if
    importable (optional dependency — absent from this container, same
    pattern as the PIL branch in :func:`_decode_one`); each sampled frame
    is re-encoded to PNG bytes so downstream stages see self-contained
    binary frames.  Otherwise a clear NotImplementedError, never a
    silent fake."""
    if fake:
        n_frames = (len(payload or b"") % 50) + every_n
        return [
            (i, hashlib.sha1((payload or b"") + bytes([i % 256])).digest())
            for i in range(0, n_frames, every_n)
        ]
    try:
        import imageio.v3 as iio  # optional; import inside the worker
    except ImportError as e:
        raise NotImplementedError(
            "real video decode requires imageio + an ffmpeg/pyav plugin "
            "(pip install imageio av); pass fake=True for the "
            "deterministic stub"
        ) from e
    out: list[tuple[int, bytes]] = []
    for i, frame in enumerate(iio.imiter(payload or b"", plugin="pyav")):
        if i % every_n == 0:
            out.append((i, bytes(iio.imwrite("<bytes>", frame, extension=".png"))))
    return out


def sample_frames(
    df: DataFrame, col: str, id_col: str, every_n: int = 10, fake: bool = False
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame
    (id, frame_idx, frame_bytes).  The fake emits digest-derived
    pseudo-frames; ``fake=False`` routes through the optional
    imageio/pyav branch of :func:`_sample_frames_one`.  Python builds
    one frames array per video; a JVM ``inline`` explodes it."""

    def sample(payloads: list) -> list[list]:
        return [[_sample_frames_one(p, every_n, fake) for p in payloads]]

    frames = T.StructType.fromDDL("__frames array<struct<frame_idx: int, frame: binary>>")
    sampled = map_columns(df, [id_col], [F.col(col)], frames, lambda: sample)
    return sampled.select(id_col, F.inline("__frames"))


def parse_audio_meta(
    payload: bytes | None,
) -> tuple[str, int | None, int | None, int | None]:
    """REAL audio metadata from a RIFF/WAVE container header,
    stdlib-only — the audio twin of :func:`parse_image_dims`:

    * chunk walk from byte 12 (after "RIFF"+size+"WAVE");
    * "fmt " chunk: channels u16 @+2, sample_rate u32 @+4,
      block_align u16 @+12 (all little-endian per RIFF);
    * "data" chunk: n_samples = chunk size / block_align.

    Returns (format, sample_rate, channels, n_samples); non-WAV or
    truncated payloads yield ("unknown"/"wav", None, ...) rather than
    raising — corrupt bytes are data, not errors, at 100 TB."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return "unknown", None, None, None
    sr: int | None = None
    ch: int | None = None
    block: int | None = None
    n: int | None = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = struct.unpack("<I", b[i + 4 : i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(b):
            _fmt, ch, sr, _br, block, _bits = struct.unpack(
                "<HHIIHH", b[i + 8 : i + 24]
            )
        elif cid == b"data" and block:
            n = size // block
        i += 8 + size + (size & 1)  # chunks are word-aligned
    return "wav", sr, ch, n


def decode_audio_headers(df: DataFrame, col: str) -> DataFrame:
    """Arrow-batched real WAV header decode via
    :func:`parse_audio_meta` — same :func:`_decode` shape as
    :func:`decode_image_headers`, so a full PCM decode later swaps
    only the kernel."""
    return _decode(
        df, col, parse_audio_meta,
        "format string, sample_rate int, channels int, n_samples int",
    )


def parse_video_meta(
    payload: bytes | None,
) -> tuple[str, int | None, int | None, int | None]:
    """REAL video metadata from an ISO-BMFF (MP4) container header,
    stdlib-only — the video twin of :func:`parse_image_dims` /
    :func:`parse_audio_meta`:

    * top-level box walk (size u32 BE + fourcc);
    * "moov" box recursed one level for "mvhd" (movie header) and
      "trak" children;
    * mvhd v0: timescale u32 @+12, duration u32 @+16 (after the
      version/flags word and two u32 timestamps); v1 uses u64
      timestamps, so timescale @+20, duration u64 @+24;
    * track count = number of "trak" children.

    Returns (format, timescale, duration, n_tracks); non-MP4 or
    truncated payloads degrade to nulls, never raise."""
    b = payload or b""
    if len(b) < 12 or b[4:8] != b"ftyp":
        return "unknown", None, None, None
    timescale: int | None = None
    duration: int | None = None
    n_tracks = 0
    i = 0
    while i + 8 <= len(b):
        size = struct.unpack(">I", b[i : i + 4])[0]
        if size < 8:
            break
        box = b[i + 4 : i + 8]
        if box == b"moov":
            j = i + 8
            end = min(i + size, len(b))
            while j + 8 <= end:
                csize = struct.unpack(">I", b[j : j + 4])[0]
                if csize < 8:
                    break
                cbox = b[j + 4 : j + 8]
                if cbox == b"mvhd" and j + 12 <= end:
                    version = b[j + 8]
                    if version == 0 and j + 28 <= end:
                        timescale, duration = struct.unpack(
                            ">II", b[j + 20 : j + 28]
                        )
                    elif version == 1 and j + 40 <= end:
                        timescale = struct.unpack(">I", b[j + 28 : j + 32])[0]
                        duration = struct.unpack(">Q", b[j + 32 : j + 40])[0]
                elif cbox == b"trak":
                    n_tracks += 1
                j += csize
        i += size
    return "mp4", timescale, duration, n_tracks or None


def decode_video_headers(df: DataFrame, col: str) -> DataFrame:
    """Arrow-batched real MP4 header decode via
    :func:`parse_video_meta` — same :func:`_decode` shape as the image
    and audio header decoders."""
    return _decode(
        df, col, parse_video_meta,
        "format string, timescale int, duration bigint, n_tracks int",
    )
