"""Multimodal (image/audio/video) columns over binary payloads.

Training-data pipelines carry media as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched Python (decode, feature
extraction, resize, frame sampling). This module makes that plumbing
real — schemas, ``mapInPandas`` signatures, batch shapes, partitioning —
over two codec tiers: a deterministic fake format (``FIMG``/``FAUD``/
``FVID`` headers + payload bytes) for exhaustive plumbing tests, and
REAL pure-numpy container codecs (BMP / PPM / PGM images, RIFF PCM WAV
audio — :func:`parse_bmp`, :func:`parse_pnm`, :func:`parse_wav`) so
real media bytes flow end-to-end with no external library. Compressed
formats (JPEG/PNG/FLAC) dispatch to pillow/soundfile only when those
are importable.

Scale notes (100 TB design):
- Media rows are wide: bound Arrow batch size with
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set by
  engine_session) so a batch of payloads fits executor memory.
- Every encoder and decoder is one narrow ``mapInPandas`` (see
  ``_map_rows``), no shuffle; media bytes never leave their input
  partition, and a decoder ships only the id and payload columns to
  Python. Only the final small feature aggregations shuffle.
- Payload bytes stay in Arrow buffers end-to-end (no per-row Python
  object churn beyond the numpy view).

Fake codec layouts (little-endian int32 header fields, then uint8 body):
  FIMG: 'FIMG' | width | height | channels | width*height*channels
        pixel bytes (row-major, channels interleaved)
  FAUD: 'FAUD' | sample_rate | n_samples | n_samples sample bytes
  FVID: 'FVID' | width | height | n_frames | n_frames frames of
        width*height bytes each
A fake payload decodes only when its magic matches, the whole header is
present, every header field is positive and the body holds at least the
bytes the header declares (bytes past that are ignored).

Null-row rule: a decoder emits exactly one row for each payload it
cannot decode (NULL, another format, cut-short header, non-positive
header field, short body, or a real container its parser rejects): the
id, with every other column NULL. Bad input never fails the Arrow batch
and never drops the id. ``media_metadata`` reads headers only; a
payload whose header it cannot read is kind ``'unknown'``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_MAGIC = b"FIMG"
AUDIO_MAGIC = b"FAUD"
VIDEO_MAGIC = b"FVID"

# Typed metadata struct carried alongside every media payload.
MEDIA_META_DDL = (
    "struct<kind:string, width:int, height:int, channels:int, "
    "sample_rate:int, n_frames:int, n_bytes:int>"
)


# ---------------------------------------------------------------------------
# The one runner: encoders and decoders are a per-row function over it
# ---------------------------------------------------------------------------

def _map_rows(src: DataFrame, per_row, ddl: str) -> DataFrame:
    """Run ``per_row`` over every row of ``src`` in one ``mapInPandas``.

    ``src``'s first column is the long row id. ``per_row(*row)`` returns
    the output rows for that input row as tuples without the id, or None
    for the null row. ``ddl`` types the output columns after the id.
    Integer columns are built as nullable ``Int64``: a NULL elsewhere in
    the batch must not route a 64-bit hash through float64."""
    fields = [f.split() for f in ddl.split(",")]
    names = [src.columns[0]] + [name for name, _ in fields]
    ints = [True] + [t in ("int", "long") for _, t in fields]
    null_row = [(None,) * len(fields)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False, name=None):
                out = per_row(*row)
                rows += [(row[0],) + r for r in (null_row if out is None else out)]
            if rows:
                yield pd.DataFrame({
                    name: pd.array(col, dtype="Int64") if is_int else list(col)
                    for name, is_int, col in zip(names, ints, zip(*rows))
                })

    return src.mapInPandas(run, f"{names[0]} long, {ddl}")


def _payload_bytes(raw) -> bytes:
    """A NULL binary cell becomes b'', which no parser accepts, so it
    takes the null row instead of ``bytes(None)`` failing the batch."""
    return b"" if raw is None else bytes(raw)


def _map_payloads(df: DataFrame, per_row, ddl: str) -> DataFrame:
    """A decoder: ``per_row(payload bytes)`` returns 0..n output rows, or
    None when the payload is undecodable. Input ``media_id, payload``;
    output ``media_id`` + ``ddl``."""
    src = df.select(F.col("media_id").alias("_id"),
                    F.col("payload").alias("_p"))
    return _map_rows(
        src, lambda _id, raw: per_row(_payload_bytes(raw)), ddl
    ).withColumnRenamed("_id", "media_id")


def _encode(df: DataFrame, id_col: str, exprs: list[str], make) -> DataFrame:
    """An encoder: ``make(media_id, *values)`` builds one payload from the
    SQL ``exprs`` over the input row. Output: ``media_id, payload``."""
    src = df.selectExpr(
        f"{id_col} as media_id", *(f"{e} as _{i}" for i, e in enumerate(exprs))
    )
    return _map_rows(src, lambda *row: [(make(*row),)], "payload binary")


def _int(expr: str) -> str:
    return f"cast(({expr}) as int)"


# ---------------------------------------------------------------------------
# Fake codecs (layouts in the module docstring)
# ---------------------------------------------------------------------------

def _pack(magic: bytes, fields, body: bytes) -> bytes:
    return magic + struct.pack(f"<{len(fields)}i", *fields) + body


def _header(raw: bytes, magic: bytes):
    """The int32 header fields after ``magic`` (two for FAUD, three for
    FIMG/FVID), or None on another magic or a cut-short header."""
    n = 2 if magic == AUDIO_MAGIC else 3
    if raw[:4] != magic or len(raw) < 4 + 4 * n:
        return None
    return struct.unpack(f"<{n}i", raw[4:4 + 4 * n])


def _fake_body(raw: bytes, magic: bytes):
    """(header fields, uint8 body of the declared size), or None unless
    the payload passes the fake-codec check."""
    hdr = _header(raw, magic)
    if hdr is None or min(hdr) <= 0:
        return None
    size = hdr[1] if magic == AUDIO_MAGIC else hdr[0] * hdr[1] * hdr[2]
    off = 4 + 4 * len(hdr)
    if len(raw) < off + size:
        return None
    return hdr, np.frombuffer(raw, np.uint8, offset=off, count=size)


def _parse_fimg(raw: bytes):
    """FIMG → (h, w, c) uint8 pixels, or None."""
    got = _fake_body(raw, IMAGE_MAGIC)
    if got is None:
        return None
    (w, h, c), px = got
    return px.reshape(h, w, c)


def _parse_fvid(raw: bytes):
    """FVID → (n_frames, w*h) uint8 frames, or None."""
    got = _fake_body(raw, VIDEO_MAGIC)
    if got is None:
        return None
    (w, h, nf), px = got
    return px.reshape(nf, w * h)


def _parse_faud(raw: bytes):
    """FAUD → (sample_rate, uint8 samples), or None."""
    got = _fake_body(raw, AUDIO_MAGIC)
    return None if got is None else (got[0][0], got[1])


def _cycle_bytes(data: bytes, n: int) -> bytes:
    """Repeat/truncate ``data`` to exactly ``n`` bytes (deterministic
    pixel/sample synthesis from seed text)."""
    if not data:
        return b"\x00" * n
    reps = -(-n // len(data))
    return (data * reps)[:n]


def _seed_bytes(seed, n: int) -> bytes:
    return _cycle_bytes(str(seed).encode("utf-8"), n)


def _image_stats(px) -> tuple:
    """(width, height, mean_px, min_px, max_px) of (h, w, c) pixels."""
    return (int(px.shape[1]), int(px.shape[0]), round(float(px.mean()), 6),
            int(px.min()), int(px.max()))


# ---------------------------------------------------------------------------
# Encoders (used to build test corpora from seed columns)
# ---------------------------------------------------------------------------

def encode_fake_images(
    df: DataFrame,
    id_col: str,
    seed_text_col: str,
    width_expr: str,
    height_expr: str,
) -> DataFrame:
    """Synthesize a one-channel ``FIMG`` binary column: header + pixels
    cycled from the seed text's utf-8 bytes. ``width_expr``/``height_expr`` are SQL
    expressions over the input row (deterministic, oracle-checkable)."""
    return _encode(
        df, id_col, [seed_text_col, _int(width_expr), _int(height_expr)],
        lambda _mid, seed, w, h: _pack(
            IMAGE_MAGIC, (w, h, 1), _seed_bytes(seed, w * h)
        ),
    )


def encode_fake_videos(
    df: DataFrame,
    id_col: str,
    seed_text_col: str,
    width_expr: str,
    height_expr: str,
    n_frames_expr: str,
) -> DataFrame:
    """Synthesize an ``FVID`` binary column: header + n_frames fake
    frames; frame f's bytes are the seed bytes cycled, offset by f so
    frames differ deterministically."""

    def make(_mid, seed, w, h, nf):
        base = str(seed).encode("utf-8")
        frames = b"".join(
            _cycle_bytes(base[f % max(len(base), 1):] + base, w * h)
            for f in range(nf)
        )
        return _pack(VIDEO_MAGIC, (w, h, nf), frames)

    return _encode(
        df, id_col,
        [seed_text_col, _int(width_expr), _int(height_expr),
         _int(n_frames_expr)],
        make,
    )


def encode_fake_audio(
    df: DataFrame,
    id_col: str,
    seed_text_col: str,
    sample_rate_expr: str,
    n_samples_expr: str,
) -> DataFrame:
    """Synthesize an ``FAUD`` binary column: uint8 samples cycled from
    the seed text's utf-8 bytes (deterministic, oracle-checkable)."""
    return _encode(
        df, id_col,
        [seed_text_col, _int(sample_rate_expr), _int(n_samples_expr)],
        lambda _mid, seed, sr, n: _pack(
            AUDIO_MAGIC, (sr, n), _seed_bytes(seed, n)
        ),
    )


def encode_const_frame_videos(
    df: DataFrame,
    id_col: str,
    width_expr: str,
    height_expr: str,
    n_frames_expr: str,
    fill,
) -> DataFrame:
    """Fake FVID videos whose frame ``f`` is uniformly filled with
    ``fill(media_id, f) % 256`` — every frame's mean brightness is that
    byte exactly, so per-frame statistics (and scene-cut verdicts) are
    closed-form computable by a SQL oracle. The fixture encoder for
    :func:`video_scene_cuts`."""
    return _encode(
        df, id_col,
        [_int(width_expr), _int(height_expr), _int(n_frames_expr)],
        lambda mid, w, h, nf: _pack(
            VIDEO_MAGIC, (w, h, nf),
            b"".join(bytes([fill(int(mid), f) % 256]) * (w * h)
                     for f in range(nf)),
        ),
    )


# ---------------------------------------------------------------------------
# Fake-codec decoders
# ---------------------------------------------------------------------------

def video_scene_cuts(
    df: DataFrame,
    threshold: float = 8.0,
) -> DataFrame:
    """Shot-boundary (scene-cut) detection over the video batch shape:
    decode each video's frames, take per-frame mean brightness, and
    emit one row per adjacent-frame jump whose absolute delta exceeds
    ``threshold`` — the classic intensity-difference cut detector
    (real pipelines swap the mean for a histogram or embedding delta;
    the Spark-side plumbing — binary payload in, per-cut fan-out,
    Arrow batches, no shuffle — is identical). Videos with no cuts
    emit nothing.

    Output: ``media_id, cut_frame, delta`` (delta rounded 6 dp)."""

    def cuts(raw):
        frames = _parse_fvid(raw)
        if frames is None:
            return None
        deltas = np.abs(np.diff(frames.mean(axis=1)))
        return [(f + 1, round(float(d), 6))
                for f, d in enumerate(deltas) if d > threshold]

    return _map_payloads(df, cuts, "cut_frame int, delta double")


def media_metadata(df: DataFrame) -> DataFrame:
    """Parse the typed metadata struct off each payload's header —
    no full decode, reads only the header per row."""

    def meta(raw):
        if hdr := _header(raw, IMAGE_MAGIC):
            m = ("image", *hdr, None, None)
        elif hdr := _header(raw, AUDIO_MAGIC):
            m = ("audio", None, None, None, hdr[0], None)
        elif hdr := _header(raw, VIDEO_MAGIC):
            m = ("video", hdr[0], hdr[1], None, None, hdr[2])
        else:
            m = ("unknown", None, None, None, None, None)
        return [m + (len(raw),)]

    return _map_payloads(
        df, meta,
        "kind string, width int, height int, channels int, "
        "sample_rate int, n_frames int, n_bytes int",
    )


def image_features(df: DataFrame) -> DataFrame:
    """Decode FIMG payloads and extract per-image pixel statistics
    (mean/min/max byte value) — the feature-extraction batch shape:
    numpy view over Arrow binary, no per-pixel Python."""

    def feats(raw):
        px = _parse_fimg(raw)
        return None if px is None else [_image_stats(px)]

    return _map_payloads(
        df, feats,
        "width int, height int, mean_px double, min_px int, max_px int",
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Decode FAUD payloads to per-clip sample statistics (duration,
    mean/max amplitude) — numpy view over Arrow binary, the audio
    feature-extraction batch shape."""

    def feats(raw):
        got = _parse_faud(raw)
        if got is None:
            return None
        sr, s = got
        return [(sr, s.size, round(float(s.size) / sr, 6),
                 round(float(s.mean()), 6), int(s.max()))]

    return _map_payloads(
        df, feats,
        "sample_rate int, n_samples int, duration_s double, "
        "mean_amp double, max_amp int",
    )


def image_resize(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize of FIMG payloads to (out_w, out_h) —
    returns new FIMG binaries. Real pixel work in numpy (gather by
    index grid), the canonical media-transform batch shape."""

    def rs(raw):
        px = _parse_fimg(raw)
        if px is None:
            return None
        # px is (h, w, c), so the x index gathers whole PIXELS: indexing
        # the interleaved (h, w*c) layout linearly would mix channel
        # bytes of different pixels
        h, w, c = px.shape
        out = px[(np.arange(out_h) * h) // out_h][
            :, (np.arange(out_w) * w) // out_w, :]
        return [(_pack(IMAGE_MAGIC, (out_w, out_h, c), out.tobytes()),)]

    return _map_payloads(df, rs, "payload binary")


def video_frame_sample(df: DataFrame, every: int = 2) -> DataFrame:
    """Sample every ``every``-th frame from FVID payloads; one output row
    per kept frame with its index and mean byte value (frame-level
    fan-out, the video batch shape)."""

    def sample(raw):
        frames = _parse_fvid(raw)
        if frames is None:
            return None
        return [(f, round(float(frames[f].mean()), 6))
                for f in range(0, len(frames), every)]

    return _map_payloads(df, sample, "frame_idx int, mean_px double")


# ---------------------------------------------------------------------------
# Real codecs — pure-numpy container formats (no media libraries needed)
#
# BMP (BI_RGB 8/24/32-bit), PPM/PGM (P5/P6 binary, maxval<=255), and WAV
# (RIFF PCM u8/i16/i32 + IEEE float32) parse with struct + numpy alone,
# so real bytes flow end-to-end in this container. Compressed formats
# (JPEG/PNG/FLAC/MP3) still gate on pillow/soundfile — the dispatch
# falls through to them per payload when importable, else the payload
# takes the null row.
# ---------------------------------------------------------------------------

def parse_bmp(raw: bytes):
    """BMP → (h, w, c) uint8 RGB array, or None if not decodable.

    Supports the uncompressed BI_RGB cases a pipeline actually meets:
    24-bit BGR, 32-bit BGRA (alpha dropped), 8-bit paletted/grayscale.
    Handles bottom-up (positive height) and top-down rows and 4-byte
    row padding."""
    if len(raw) < 54 or raw[:2] != b"BM":
        return None
    data_off = struct.unpack("<I", raw[10:14])[0]
    hdr_size = struct.unpack("<I", raw[14:18])[0]
    if hdr_size < 40:  # BITMAPCOREHEADER etc.: out of scope
        return None
    w, h = struct.unpack("<ii", raw[18:26])
    planes, bpp = struct.unpack("<HH", raw[26:30])
    compression = struct.unpack("<I", raw[30:34])[0]
    if planes != 1 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    if bpp == 8:
        n_colors = struct.unpack("<I", raw[46:50])[0] or 256
        pal_off = 14 + hdr_size
        if n_colors > 256 or len(raw) < pal_off + n_colors * 4:
            return None  # truncated/absurd palette: undecodable, not a crash
        pal = np.frombuffer(
            raw, np.uint8, offset=pal_off, count=n_colors * 4
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRA entries -> RGB
        row_bytes, c = w, 1
    elif bpp in (24, 32):
        row_bytes, c = w * bpp // 8, bpp // 8
        pal = None
    else:
        return None
    stride = (row_bytes + 3) & ~3
    if len(raw) < data_off + stride * h:
        return None
    rows = np.frombuffer(
        raw, np.uint8, offset=data_off, count=stride * h
    ).reshape(h, stride)[:, :row_bytes]
    if not top_down:
        rows = rows[::-1]
    if pal is not None:
        if int(rows.max(initial=0)) >= len(pal):
            return None  # pixel index past the palette: malformed
        return pal[rows]  # (h, w, 3) via palette gather
    px = rows.reshape(h, w, c)[:, :, :3][:, :, ::-1]  # BGR(A) -> RGB
    return np.ascontiguousarray(px)


def parse_pnm(raw: bytes):
    """PPM (P6) / PGM (P5) binary → (h, w, c) uint8 array, or None.
    Whitespace/comment-tolerant header parse; maxval must be <=255."""
    if len(raw) < 2 or raw[:2] not in (b"P5", b"P6"):
        return None
    c = 3 if raw[:2] == b"P6" else 1
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(raw):
        ch = raw[pos:pos + 1]
        if ch == b"#":  # comment to end of line
            nl = raw.find(b"\n", pos)
            if nl < 0:
                return None
            pos = nl + 1
        elif ch.isspace():
            pos += 1
        else:
            end = pos
            while end < len(raw) and not raw[end:end + 1].isspace():
                end += 1
            if not raw[pos:end].isdigit():
                return None
            fields.append(int(raw[pos:end]))
            pos = end
    if len(fields) < 3 or pos >= len(raw):
        return None
    w, h, maxval = fields
    pos += 1  # single whitespace byte after maxval
    if w <= 0 or h <= 0 or not 0 < maxval <= 255:
        return None
    need = w * h * c
    if len(raw) < pos + need:
        return None
    return np.frombuffer(raw, np.uint8, offset=pos, count=need).reshape(
        h, w, c
    )


def decode_image_bytes(raw: bytes):
    """Dispatch a real or fake image payload to its parser:
    (fmt, (h, w, c) uint8 array) or None. BMP/PNM are pure numpy; FIMG
    is the fake codec; anything else tries pillow when importable."""
    # The pure-numpy parsers validate their inputs, but a corrupt
    # payload in a 100 TB corpus must NEVER kill a mapInPandas batch —
    # any parser escape hatch degrades to the null-stats row (ADVICE r4:
    # a malformed 8-bit BMP palette used to IndexError through here)
    try:
        if raw[:2] == b"BM":
            px = parse_bmp(raw)
            return ("bmp", px) if px is not None else None
        if raw[:2] in (b"P5", b"P6"):
            px = parse_pnm(raw)
            return ("pnm", px) if px is not None else None
        if raw[:4] == IMAGE_MAGIC:
            px = _parse_fimg(raw)
            return ("fimg", px) if px is not None else None
    except Exception:
        return None
    try:  # compressed formats: only when a real library is present
        import io

        import PIL.Image

        img = PIL.Image.open(io.BytesIO(raw))
        arr = np.asarray(img.convert("RGB"), dtype=np.uint8)
        return (img.format or "pil").lower(), arr
    except Exception:
        return None


def parse_wav(raw: bytes):
    """RIFF/WAVE → (sample_rate, float32 mono samples in [-1, 1]), or
    None. Pure numpy chunk walk: PCM u8/i16/i32 and IEEE float32,
    any channel count (downmixed by mean). Tolerates trailing chunks
    (LIST/fact) and odd-length chunk padding."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        size = struct.unpack("<I", raw[pos + 4:pos + 8])[0]
        body = raw[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_fmt, n_ch, sr, _brate, _align, bits = fmt
    if n_ch < 1 or sr <= 0:
        return None
    if audio_fmt == 1 and bits == 8:
        x = np.frombuffer(data, np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif audio_fmt == 1 and bits == 16:
        x = np.frombuffer(
            data[: len(data) // 2 * 2], np.dtype("<i2")
        ).astype(np.float32) / 32768.0
    elif audio_fmt == 1 and bits == 32:
        x = np.frombuffer(
            data[: len(data) // 4 * 4], np.dtype("<i4")
        ).astype(np.float32) / 2147483648.0
    elif audio_fmt == 3 and bits == 32:
        x = np.frombuffer(
            data[: len(data) // 4 * 4], np.dtype("<f4")
        ).astype(np.float32)
    else:
        return None
    frames = x.size // n_ch
    if n_ch > 1:
        x = x[: frames * n_ch].reshape(frames, n_ch).mean(axis=1)
    return sr, x


def encode_bmp(px: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit BI_RGB BMP bytes (test fixtures and
    sink-side round-trips)."""
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data


def encode_ppm(px: "np.ndarray") -> bytes:
    """(h, w, 3) uint8 RGB → binary P6 PPM bytes."""
    h, w, _ = px.shape
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def encode_wav(samples: "np.ndarray", sample_rate: int,
               bits: int = 16) -> bytes:
    """float mono samples in [-1, 1] → RIFF PCM WAV bytes (u8 or i16)."""
    x = np.clip(np.asarray(samples, np.float64), -1.0, 1.0)
    if bits == 8:
        data = (np.round(x * 128.0) + 128).clip(0, 255).astype(
            np.uint8
        ).tobytes()
    elif bits == 16:
        data = np.round(x * 32767.0).astype("<i2").tobytes()
    else:
        raise ValueError("encode_wav supports bits=8 or 16")
    byte_rate = sample_rate * bits // 8
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate,
                      bits // 8, bits)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def encode_real_images(
    df: DataFrame,
    id_col: str,
    seed_text_col: str,
    width_expr: str,
    height_expr: str,
    fmt_expr: str = "'bmp'",
) -> DataFrame:
    """Synthesize REAL image bytes (24-bit BMP or binary P6 PPM, chosen
    per row by ``fmt_expr``) with RGB pixels cycled from the seed
    text's utf-8 bytes — deterministic and oracle-checkable exactly
    like :func:`encode_fake_images`, but the payload is a genuine
    container format that :func:`decode_image_real` parses with the
    pure-numpy codecs."""

    def make(_mid, seed, w, h, fmt):
        px = np.frombuffer(_seed_bytes(seed, w * h * 3), np.uint8)
        return (encode_bmp if fmt == "bmp" else encode_ppm)(
            px.reshape(h, w, 3)
        )

    return _encode(
        df, id_col,
        [seed_text_col, _int(width_expr), _int(height_expr),
         f"cast(({fmt_expr}) as string)"],
        make,
    )


def encode_real_audio(
    df: DataFrame,
    id_col: str,
    seed_text_col: str,
    sample_rate_expr: str,
    n_samples_expr: str,
) -> DataFrame:
    """Synthesize REAL 8-bit RIFF PCM WAV clips whose data bytes are the
    seed text's utf-8 bytes cycled — the u8 codec round-trips those
    bytes exactly, so byte-level oracles stay closed-form while a
    genuine WAV container flows through :func:`decode_audio_real`."""

    def make(_mid, seed, sr, n):
        b = np.frombuffer(_seed_bytes(seed, n), np.uint8)
        return encode_wav((b.astype(np.float64) - 128.0) / 128.0, sr, bits=8)

    return _encode(
        df, id_col,
        [seed_text_col, _int(sample_rate_expr), _int(n_samples_expr)],
        make,
    )


def decode_image_real(df: DataFrame) -> DataFrame:
    """Decode REAL image bytes (BMP / PPM / PGM — pure numpy; plus
    anything pillow can open when installed) to the same per-image
    pixel statistics :func:`image_features` emits for FIMG, with the
    detected format alongside."""

    def feats(raw):
        got = decode_image_bytes(raw)
        return None if got is None else [(got[0], *_image_stats(got[1]))]

    return _map_payloads(
        df, feats,
        "fmt string, width int, height int, mean_px double, min_px int, "
        "max_px int",
    )


def decode_audio_real(df: DataFrame) -> DataFrame:
    """Decode REAL audio bytes (RIFF PCM WAV — pure numpy; plus
    anything soundfile can open when installed) to per-clip sample
    statistics mirroring :func:`audio_features`: duration, mean/max of
    the NORMALIZED [-1, 1] signal (the fake path reports raw uint8
    amplitudes; affine map (a-128)/128 relates the two — pinned by the
    round-trip test). Multi-channel clips downmix to mono by mean, so
    n_samples counts frames. An empty clip is undecodable."""

    def feats(raw):
        try:  # a corrupt payload must never kill the batch
            got, fmt = parse_wav(raw), "wav"
        except Exception:
            return None
        if got is None:
            try:  # compressed formats need a real library
                import io

                import soundfile

                x, sr = soundfile.read(io.BytesIO(raw), dtype="float32")
                if x.ndim > 1:
                    x = x.mean(axis=1)
                got, fmt = (sr, x), "soundfile"
            except Exception:
                return None
        sr, x = got
        if x.size == 0:
            return None
        return [(fmt, int(sr), int(x.size), round(float(x.size) / sr, 6),
                 round(float(x.mean()), 6), round(float(x.max()), 6))]

    return _map_payloads(
        df, feats,
        "fmt string, sample_rate int, n_samples int, duration_s double, "
        "mean_amp double, max_amp double",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (DCT pHash + multi-index Hamming bands)
# ---------------------------------------------------------------------------

def image_phash(df: DataFrame) -> DataFrame:
    """64-bit DCT perceptual hash per FIMG payload.

    Classic pHash: decode → average-pool to 32x32 grayscale → 2D DCT-II
    (explicit cosine-matrix matmuls; no scipy dependency) → keep the
    8x8 low-frequency block minus DC → bit i = coeff_i > median. Near-
    duplicate images (re-encodes, small edits) land within a few bits.
    One narrow mapInPandas pass; the hash (8 bytes) is the staged
    artifact — downstream search never touches pixels. Output:
    ``media_id, phash (long)``; an undecodable payload's NULL hash is
    excluded by :func:`hamming_neardup_pairs`.

    Swap the FIMG parse for a real decoder (decode_image_real) and
    nothing else changes — the hash/banding pipeline is codec-agnostic.
    """
    n, k = 32, 8
    dct = np.cos(
        np.pi / n * (np.arange(n)[:, None] + 0.5) * np.arange(n)[None, :]
    ).T  # (k-th row = frequency k basis)
    bit_w = (1 << np.arange(62, -1, -1)).astype(object)  # MSB-first weights

    # per-(h,w) memo of DCT-fused pooling operators: small = P @ img @ Q
    # with P[i,r] = 1/rows(i) for r in row-bucket i (area mean), so
    # coef = (dct@P) @ img @ (Q@dct.T) — two small matmuls per image,
    # no Python inner loops
    _ops: dict[tuple[int, int], tuple] = {}

    def ops(h: int, w: int):
        if (h, w) not in _ops:
            def pool(m):  # (n, m) bucket-mean matrix
                e = (np.arange(n + 1) * m) // n
                e_hi = np.maximum(e[1:], e[:-1] + 1)  # empty bucket -> 1 px
                mat = np.zeros((n, m))
                for i in range(n):
                    mat[i, e[i]:e_hi[i]] = 1.0 / (e_hi[i] - e[i])
                return mat
            _ops[(h, w)] = (dct @ pool(h), pool(w).T @ dct.T)
        return _ops[(h, w)]

    def one(raw):
        px = _parse_fimg(raw)
        if px is None:
            return None
        img = px.mean(axis=2)
        left, right = ops(*img.shape)
        coef = left @ img @ right
        block = coef[:k, :k].flatten()[1:]  # drop DC
        bits = block > np.median(block)
        out = int(bits @ bit_w)
        # two's-complement into int64 range
        return [(out - (1 << 63) if out >= (1 << 63) else out,)]

    return _map_payloads(df, one, "phash long")


def image_neardup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs: Hamming(phash) <= ``max_hamming``.

    Multi-index hashing with FOUR 16-bit bands: a pair differing in
    <= 3 bits cannot touch all four bands (pigeonhole), so bucketing on
    (band_id, band_value) and verifying candidates with an exact
    JVM-side popcount(XOR) is COMPLETE — recall 1.0 by construction
    while comparing only in-bucket pairs (the image twin of the MinHash
    band trick; completeness needs bands > max_hamming). One shuffle on
    the band key; pixels never shuffle — only the 8-byte hash moves.
    Output: ``id_a, id_b, hamming``.
    """
    return hamming_neardup_pairs(
        image_phash(df), "media_id", "phash", max_hamming
    )


def hamming_neardup_pairs(hashes: DataFrame, id_col: str,
                          hash_col: str,
                          max_hamming: int = 3) -> DataFrame:
    """All pairs with Hamming(hash) <= ``max_hamming`` over any 64-bit
    fingerprint column — the shared engine behind image-pHash and
    audio-fingerprint dedup (and any future modality that reduces to a
    64-bit perceptual hash). NULL hashes (undecodable payloads) are
    excluded. Output: ``id_a, id_b, hamming``.
    """
    if max_hamming >= 4:
        raise ValueError(
            "4-band multi-index is only complete for max_hamming <= 3; "
            "raise the band count to raise the radius"
        )
    # the banded self-join consumes the hash table on BOTH sides; an
    # EAGER localCheckpoint materializes it once — lazy would let the
    # two join-side stages race to compute the same partitions, paying
    # the decode pass twice anyway (measured). Blocks are freed by the
    # ContextCleaner; at scale the hash table is a staged file.
    ph = (
        hashes.select(
            F.col(id_col).alias("vid"), F.col(hash_col).alias("h")
        )
        .filter(F.col("h").isNotNull())
        .localCheckpoint(eager=True)
    )
    bands = ph.select(
        "vid",
        "h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("h"), 16 * b)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("val"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("vid", "h", "bk.band", "bk.val")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        # the same pair can collide in several bands; hamming is
        # identical everywhere so distinct() collapses it
        .distinct()
    )


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """64-bit audio fingerprint per FAUD clip: frame the signal into
    64 equal buckets, take per-frame mean energy, and set
    bit i to sign(energy[i+1] - energy[i]) — the energy-delta contour,
    gain-invariant and stable under small edits (the shape acoustic
    fingerprints like Chromaprint reduce to, minus the codec-grade
    STFT). One narrow mapInPandas pass; swap in a real decoder and the
    downstream ``hamming_neardup_pairs`` search is unchanged.
    Output: ``media_id, afp (long)`` (bit 63 is always 0 — 63 deltas).
    """

    def one(raw):
        got = _parse_faud(raw)
        if got is None:
            return None
        s = got[1]
        e = (np.arange(65) * len(s)) // 64
        e_hi = np.maximum(e[1:], e[:-1] + 1)
        energy = np.array([
            float(s[e[i]:e_hi[i]].astype(np.float64).mean())
            for i in range(64)
        ])
        bits = energy[1:] > energy[:-1]
        out = 0
        for b in bits:
            out = (out << 1) | int(b)
        return [(out,)]  # 63 bits: always within int64 range

    return _map_payloads(df, one, "afp long")


def audio_neardup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate audio pairs: Hamming(fingerprint) <= radius via
    the shared multi-index band engine (complete at radius 3)."""
    return hamming_neardup_pairs(
        audio_fingerprint(df), "media_id", "afp", max_hamming
    )
