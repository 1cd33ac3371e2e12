"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (north-star extension).

The image path is REAL end-to-end with zero external libraries: a
pure-stdlib PNG codec (``zlib``/``struct``/CRC, all five scanline
filters) encodes deterministic synthetic images and decodes genuine
pixels inside Arrow-batched ``mapInPandas`` — same posture as the
RIFF/WAVE walker below. Audio byte-stats run real numpy; only the
audio *duration model* and the video frame decoder remain
deterministic stand-ins (no PCM/codec containers for those
modalities in the synthetic corpus). At 100 TB the pattern is:
payloads stay columnar binary, per-batch Python touches only the
batches it's given (no collect), and expensive decodes are gated
behind a pushdown-surviving filter on the metadata struct.

Width policy: a stage runs at its input's width, and a table entering
a Python pipeline (the synthesized payload tables below) is spread
once, by ``dedup.spread`` — a rule that starts no Spark job while the
query is being built.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import SCHEMA_MEDIA
from .dedup import resolve_replays, spread


def _png_codec():
    """Pure-stdlib PNG encoder/decoder (8-bit RGB, non-interlaced),
    built as NESTED functions so cloudpickle serializes them by value:
    mapInPandas closures must ship self-contained to workers that
    cannot import this package (the driver's cwd is not on their
    sys.path). The encoder cycles through all five scanline filters
    (None/Sub/Up/Average/Paeth) so the decoder's unfiltering is
    genuinely exercised; the decoder validates magic, chunk CRCs and
    layout and returns ``None`` for malformed payloads
    (quarantine-friendly, same posture as the WAV parser), then
    unfilters the pixels itself — there is no native pixel path."""
    import struct as _s
    import zlib as _z

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + tag
            + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    def _paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def encode(width: int, height: int, rgb: bytes) -> bytes:
        if len(rgb) != width * height * 3:
            raise ValueError("rgb buffer does not match width*height*3")
        import numpy as _np

        bpp, stride = 3, width * 3
        # Vectorized filtering (r13 optimization, guide §4.2): the
        # encoder's filter predictors reference the ORIGINAL scanline
        # bytes (unlike the decoder's, which need the reconstructed
        # ones), so every row filters in one whole-image numpy pass —
        # the former per-byte Python loop was O(w·h) interpreter work
        # per image. Arithmetic is exact int16/%256, so the filtered
        # stream (and therefore the zlib payload and the sha256
        # digests built over it downstream) is BYTE-IDENTICAL to the
        # scalar form — pinned by tests against a reference loop.
        arr = _np.frombuffer(rgb, dtype=_np.uint8).reshape(height, stride)
        row16 = arr.astype(_np.int16)
        b16 = _np.zeros_like(row16)
        b16[1:] = row16[:-1]  # Up predictor: prior ORIGINAL row
        a16 = _np.zeros_like(row16)
        a16[:, bpp:] = row16[:, :-bpp]  # Sub predictor: left neighbor
        c16 = _np.zeros_like(row16)
        c16[1:, bpp:] = row16[:-1, :-bpp]  # upper-left
        p = a16 + b16 - c16
        pa = _np.abs(p - a16)
        pb = _np.abs(p - b16)
        pc = _np.abs(p - c16)
        paeth16 = _np.where(
            (pa <= pb) & (pa <= pc), a16, _np.where(pb <= pc, b16, c16)
        )
        fts = (_np.arange(height) % 5).astype(_np.uint8)
        pred = _np.zeros_like(row16)
        for ft, sel in (
            (1, a16), (2, b16), (3, (a16 + b16) // 2), (4, paeth16),
        ):
            m = fts == ft
            pred[m] = sel[m]
        lines = _np.empty((height, stride + 1), dtype=_np.uint8)
        lines[:, 0] = fts
        lines[:, 1:] = ((row16 - pred) % 256).astype(_np.uint8)
        ihdr = _s.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", _z.compress(lines.tobytes(), 6))
            + _chunk(b"IEND", b"")
        )

    def decode(data: bytes):
        try:
            if bytes(data[:8]) != b"\x89PNG\r\n\x1a\n":
                return None
            pos, w, h = 8, None, None
            idat = bytearray()
            while pos + 12 <= len(data):
                (ln,) = _s.unpack(">I", data[pos : pos + 4])
                tag = bytes(data[pos + 4 : pos + 8])
                body = bytes(data[pos + 8 : pos + 8 + ln])
                (crc,) = _s.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
                if _z.crc32(tag + body) & 0xFFFFFFFF != crc:
                    return None
                if tag == b"IHDR":
                    w, h, bit, ctype, _comp, _filt, ilace = _s.unpack(
                        ">IIBBBBB", body
                    )
                    if bit != 8 or ctype != 2 or ilace != 0:
                        return None  # only 8-bit RGB non-interlaced
                    if w == 0 or h == 0:
                        # zero-dimension IHDR with an empty-deflate
                        # IDAT passes every size check below and the
                        # (0, 0, b'') result then crashes resize/dhash
                        # mid-batch — malformed, quarantine (r13
                        # operator review, executed counterexample)
                        return None
                elif tag == b"IDAT":
                    idat += body
                elif tag == b"IEND":
                    break
                pos += 12 + ln
            if w is None or not idat:
                return None
            raw = _z.decompress(bytes(idat))
            bpp, stride = 3, w * 3
            if len(raw) != h * (stride + 1):
                return None
            if any(raw[y * (stride + 1)] > 4 for y in range(h)):
                return None
            rgb = bytearray(h * stride)
            prev = bytes(stride)
            for y in range(h):
                ft = raw[y * (stride + 1)]
                line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
                rec = bytearray(stride)
                for i in range(stride):
                    a = rec[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    x = line[i]
                    if ft == 0:
                        v = x
                    elif ft == 1:
                        v = (x + a) % 256
                    elif ft == 2:
                        v = (x + b) % 256
                    elif ft == 3:
                        v = (x + (a + b) // 2) % 256
                    elif ft == 4:
                        v = (x + _paeth(a, b, c)) % 256
                    else:
                        return None
                    rec[i] = v
                rgb[y * stride : (y + 1) * stride] = rec
                prev = bytes(rec)
            return w, h, bytes(rgb)
        except Exception:
            return None

    return encode, decode


png_encode, png_decode = _png_codec()


def _jpeg_codec():
    """JPEG support for the same decode seam, nested for by-value
    pickling (see ``_png_codec``). Real 100 TB image corpora are
    mostly JPEG; no stdlib inflate exists for it, so the split is:

    * ``jpeg_dims`` — pure-stdlib SOI/marker walk to the SOF frame
      header (baseline 0xC0, extended 0xC1, progressive 0xC2):
      (width, height, n_components), None for malformed/truncated
      streams. Runs everywhere; powers metadata features without a
      codec.
    * ``jpeg_decode`` — header-validated via the same marker walk,
      then the pixel step is delegated to PIL when the worker has it
      (probed once per process, inside the shipped closure). JPEG has
      no other pixel path: without PIL it returns None — the
      documented quarantine posture (NULL features, never a batch
      failure), so the plan/schema/partitioning stay testable in
      codec-less containers and light up unchanged where PIL exists.
    """
    import struct as _s

    # standalone markers with no length field
    _NOLEN = {0xD8, 0xD9, *range(0xD0, 0xD8), 0x01}
    _SOF = {0xC0, 0xC1, 0xC2}

    def dims(data: bytes):
        try:
            if bytes(data[:2]) != b"\xff\xd8":
                return None
            pos = 2
            while pos + 4 <= len(data):
                if data[pos] != 0xFF:
                    return None
                marker = data[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker in _NOLEN:
                    pos += 2
                    continue
                (ln,) = _s.unpack(">H", data[pos + 2 : pos + 4])
                if ln < 2 or pos + 2 + ln > len(data):
                    return None
                if marker in _SOF:
                    # SOF payload is ≥6 bytes (prec+h+w+ncomp), so the
                    # segment length must be ≥8; a malformed ln in
                    # [2,7] would otherwise read dimension bytes from
                    # the FOLLOWING segment and return garbage
                    # (round-4 advice).
                    if ln < 8:
                        return None
                    _prec, h, w, ncomp = _s.unpack(
                        ">BHHB", data[pos + 4 : pos + 10]
                    )
                    return w, h, ncomp
                if marker == 0xDA:  # SOS: frame header must precede
                    return None
                pos += 2 + ln
            return None
        except Exception:
            return None

    _native: list = []

    def decode(data: bytes):
        d = dims(data)
        if d is None:
            return None
        w, h, _ncomp = d
        if not _native:
            try:
                import io as _io

                from PIL import Image as _Image

                def _pil(payload: bytes):
                    im = _Image.open(_io.BytesIO(payload))
                    im = im.convert("RGB")
                    return im.tobytes()

                _native.append(_pil)
            except Exception:
                _native.append(None)
        fn = _native[0]
        if fn is None:
            return None
        try:
            rgb = fn(bytes(data))
            return (w, h, rgb) if len(rgb) == w * h * 3 else None
        except Exception:
            return None

    return dims, decode


jpeg_dims, jpeg_decode = _jpeg_codec()


def _make_image_decode():
    """Factory so the dispatcher is a NESTED function: cloudpickle
    ships nested functions by value (module-level ones go by
    reference, which breaks on workers that cannot import this
    package — the same constraint ``_png_codec`` documents, and
    exactly how a module-level version of this dispatcher failed a
    fresh-process probe)."""
    png, jpg = png_decode, jpeg_decode  # both nested → by-value

    def image_decode(data: bytes):
        """Magic-byte dispatch over the decode seam: PNG → stdlib
        codec, JPEG → header-validated PIL decode (None where no codec
        exists — quarantine). Unknown magic → None. The single entry point a
        mixed 100 TB image corpus goes through; adding a format means
        adding a branch here, not a new pipeline."""
        head = bytes(data[:8]) if data is not None else b""
        if head.startswith(b"\x89PNG\r\n\x1a\n"):
            return png(data)
        if head.startswith(b"\xff\xd8"):
            return jpg(data)
        return None

    return image_decode


image_decode = _make_image_decode()


def _synth_image_tools():
    """Deterministic synthetic-image model, nested for by-value
    pickling (see ``_png_codec``). Pixel (x, y, channel c) of the
    image for document d is ``(d*(7+c) + 3x + 5y) mod 256`` on a
    ``(8 + d%9) × (8 + d%7)`` canvas — simple enough that a SQL oracle
    can recompute every pixel with generate_series, rich enough that a
    mis-unfiltered decode changes the sums."""

    def dims(d: int):
        return 8 + d % 9, 8 + d % 7

    def rgb(d: int, w: int, h: int) -> bytes:
        # one numpy broadcast instead of a per-pixel Python loop (r13,
        # guide §4.2); int64 arithmetic then %256 — exact, d ≥ 0
        import numpy as _np

        base = 3 * _np.arange(w, dtype=_np.int64)[None, :] + (
            5 * _np.arange(h, dtype=_np.int64)[:, None]
        )  # (h, w)
        out = _np.empty((h, w, 3), dtype=_np.uint8)
        for ci, m in enumerate((7, 8, 9)):
            out[:, :, ci] = (d * m + base) % 256
        return out.tobytes()

    return dims, rgb


image_dims, image_rgb = _synth_image_tools()


def _model_image(enc):
    """``doc_id → enc(w, h, rgb)`` over the synthetic pixel model, as a
    nested function (by-value pickling, see ``_png_codec``)."""
    dims, rgb = image_dims, image_rgb

    def encode(d: int) -> bytes:
        w, h = dims(d)
        return enc(w, h, rgb(d, w, h))

    return encode


_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def _synth(docs: DataFrame, encode) -> DataFrame:
    """One ``(media_id, payload)`` row per doc_id, the payload
    ``encode(doc_id)``: the table entering a Python pipeline, spread
    once (module docstring). ``encode`` must be a nested function."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [encode(int(d)) for d in pdf["doc_id"]],
                }
            )

    return spread(docs.select("doc_id")).mapInPandas(gen, _PAYLOAD_SCHEMA)


def _parse_pass(media: DataFrame, parse, schema: T.StructType) -> DataFrame:
    """The one parse pass over ``(media_id, payload)`` rows, at the
    input's width: ``parse(payload)`` returns the schema's non-key
    fields in order, or None for a row of NULLs. A NULL payload is a
    row of NULLs without calling ``parse`` (quarantine posture: dirty
    data never fails the batch). ``parse`` must be a nested function."""
    names = schema.fieldNames()
    nulls = (None,) * (len(names) - 1)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                fields = None if p is None else parse(p)
                rows.append((int(mid), *(nulls if fields is None else fields)))
            yield pd.DataFrame.from_records(rows, columns=names)

    return media.mapInPandas(walk, schema)


def _round_trip(docs: DataFrame, encode, parse, schema: T.StructType) -> DataFrame:
    """Synthesize one container per doc_id and parse it back IN A
    SEPARATE PASS over the wire bytes — the parser never sees the
    generation parameters, only the payload. Both passes are
    Arrow-batched mapInPandas, map-only."""
    return _parse_pass(_synth(docs, encode), parse, schema)


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a deterministic media table from the documents corpus;
    modality round-robins by doc_id. Image rows carry REAL PNG
    payloads (stdlib encoder above, pixels a pure function of doc_id);
    audio/video rows carry the utf-8 text bytes (stand-in for encoded
    media — those codecs aren't modeled). Exercises the binary column
    path end-to-end without external data."""
    # the media table is KEYED by media_id = doc_id: a replayed doc
    # (same id, drifted payload — at-least-once upstream) must yield
    # ONE media row, resolved by the deterministic content-total
    # order (r11 duplicates sweep). No-op on clean input.
    docs = resolve_replays(docs, ["doc_id"])
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    av = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode("text", "utf-8").alias("payload"),
    )

    imgs = _synth(
        docs.filter(F.col("doc_id") % 3 == 0), _model_image(png_encode)
    ).select("media_id", F.lit("image").alias("modality"), "payload")

    mime = F.when(F.col("modality") == "image", F.lit("image/png")).otherwise(
        F.concat(F.lit("application/x-fake-"), F.col("modality"))
    )
    return av.unionByName(imgs).select(
        "media_id",
        "modality",
        "payload",
        F.struct(
            mime.alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("media_id").alias("source_doc"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: each Python worker receives column batches (payload as
    bytes), computes per-item features, yields batches — the 100-TB
    shape for any decode/resize/frame-sample stage. Image payloads go
    through :func:`image_decode` (magic-byte dispatch: PNG via the
    stdlib codec, JPEG via PIL): width/height
    come from the decoded pixel buffer and ``n_bytes`` is the decoded
    content size (w·h·3). When pixels can't be decoded, a JPEG header
    walk still recovers dimensions (metadata without a codec) with raw
    ``n_bytes``; only then do dimensions go NULL. Non-image modalities
    report raw payload size and NULL dimensions. A payload that fails
    to decode yields NULLs (quarantine posture, not a batch failure)."""

    # nested fns: cloudpickle ships them by value. image_decode is the
    # mixed-corpus entry point (PNG stdlib, JPEG PIL); when the
    # pixel decode is unavailable or fails, a JPEG header walk still
    # recovers width/height (metadata features without a codec), and
    # only then do the dimensions go NULL (quarantine posture).
    dec, hdr_dims = image_decode, jpeg_dims

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        for pdf in batches:
            n_bytes, widths, heights, digests = [], [], [], []
            for modality, p in zip(pdf["modality"], pdf["payload"]):
                if p is None:
                    # NULL payload (corrupt/absent blob — routine dirty
                    # data at scale): NULL features, never a crash.
                    digests.append(None)
                    n_bytes.append(None)
                    widths.append(None)
                    heights.append(None)
                    continue
                digests.append(_hl.sha256(p).hexdigest()[:16])
                if modality == "image":
                    decoded = dec(p)
                    if decoded is None:
                        d = hdr_dims(p)
                        n_bytes.append(len(p))
                        widths.append(d[0] if d else None)
                        heights.append(d[1] if d else None)
                    else:
                        w, h, rgb = decoded
                        n_bytes.append(len(rgb))
                        widths.append(w)
                        heights.append(h)
                else:
                    n_bytes.append(len(p))
                    widths.append(None)
                    heights.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pd.array(n_bytes, dtype="Int64"),
                    "digest": digests,
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                }
            )

    return media.mapInPandas(gen, FEATURE_SCHEMA)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
    ]
)


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """Per-image channel statistics from REAL decoded pixels: the PNG
    payload is inflated, unfiltered and summed per channel. Because the
    synthetic pixels are a closed-form function of doc_id, a SQL oracle
    can recompute every sum — making this the end-to-end proof that the
    decoder (inflate + all five filters) reconstructs the exact pixels.
    Malformed payloads yield NULL stats."""
    import numpy as _np

    dec = png_decode

    def parse(p: bytes):
        decoded = dec(p)
        if decoded is None:
            return None
        w, h, rgb = decoded
        # exact integer channel sums in one numpy pass
        s = _np.frombuffer(rgb, dtype=_np.uint8).reshape(-1, 3).sum(
            axis=0, dtype=_np.int64
        )
        return w, h, int(s[0]), int(s[1]), int(s[2])

    return _parse_pass(
        media.filter(F.col("modality") == "image"), parse, PIXEL_STATS_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixel_sum", T.LongType(), True),
    ]
)


def resize_images(media: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Resize stage (image preprocessing for vision-model training) —
    REAL decode→resample→re-encode with the stdlib PNG codec: inflate
    + unfilter the source, nearest-neighbor sample to the target
    dimensions (``src_x = out_x·src_w // out_w``, floor — the exact
    rule a SQL oracle can mirror), re-encode as PNG. ``pixel_sum`` is
    the sum of the resampled RGB bytes, a closed-form function of the
    source pixels that pins the whole decode→resample path in the
    driver's hash check. The Spark plumbing is the 100-TB pattern:
    filter to images FIRST (metadata-only predicate, no Python), then
    Arrow-batched mapInPandas; malformed payloads yield NULLs."""

    enc, dec = png_encode, png_decode

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            out = {k: [] for k in ("media_id", "payload", "src_width",
                                   "src_height", "pixel_sum")}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(int(mid))
                decoded = dec(p)
                if decoded is None:
                    out["payload"].append(None)
                    out["src_width"].append(None)
                    out["src_height"].append(None)
                    out["pixel_sum"].append(None)
                    continue
                sw, sh, rgb = decoded
                # nearest-neighbor gather as one numpy fancy-index
                # (r13, guide §4.2): same floor rule
                # src = (out·src_dim) // out_dim, byte-identical to the
                # former per-pixel Python loop (pinned by tests)
                src = _np.frombuffer(rgb, dtype=_np.uint8).reshape(sh, sw, 3)
                sy = _np.arange(height, dtype=_np.int64) * sh // height
                sx = _np.arange(width, dtype=_np.int64) * sw // width
                buf = src[sy][:, sx, :]
                out["payload"].append(enc(width, height, buf.tobytes()))
                out["src_width"].append(sw)
                out["src_height"].append(sh)
                out["pixel_sum"].append(int(buf.sum(dtype=_np.int64)))
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "payload": out["payload"],
                    "src_width": pd.array(out["src_width"], dtype="Int32"),
                    "src_height": pd.array(out["src_height"], dtype="Int32"),
                    "width": width,
                    "height": height,
                    "pixel_sum": pd.array(out["pixel_sum"], dtype="Int64"),
                }
            )

    imgs = media.filter(F.col("modality") == "image")
    return imgs.mapInPandas(gen, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
        T.StructField("ts_offset_s", T.DoubleType(), False),
    ]
)


def sample_frames(media: DataFrame, fps: float = 1.0, max_frames: int = 16) -> DataFrame:
    """Frame-sampling stage (video → training frames): ONE input row
    fans out to N frame rows — the row-expanding mapInPandas shape
    (output batches need not align 1:1 with input batches).

    The decoder is stubbed: fake duration = n_bytes/1000 seconds, fake
    frame payload = digest-seeded slice per index; a real build slots
    ffmpeg/pyav into the same generator without touching the plan."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, payloads, offs = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    # NULL payload → zero frames (quarantine posture):
                    # an undecodable video contributes no training
                    # frames, and the drop stays map-only.
                    continue
                duration_s = max(1.0, len(p) / 1000.0)
                n = min(max_frames, max(1, int(duration_s * fps)))
                seed = hashlib.sha256(p).digest()
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    payloads.append(hashlib.sha256(seed + bytes([i])).digest())
                    offs.append(round(i / fps, 3))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "frame_payload": payloads,
                    "ts_offset_s": offs,
                }
            )

    vids = media.filter(F.col("modality") == "video")
    return vids.mapInPandas(gen, FRAME_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        # nullable: a NULL payload keeps its row (the media exists)
        # with NULL stats — COUNT(*) stays honest, AVG skips NULLs
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("mean_level", T.DoubleType(), True),
        T.StructField("rms_level", T.DoubleType(), True),
    ]
)


def audio_stats(media: DataFrame) -> DataFrame:
    """Audio-analysis stage: byte-level signal statistics computed for
    real with numpy over the Arrow batch (mean/RMS of the raw payload —
    no codec needed); duration is the stubbed part (fake: bytes/8000,
    i.e. 8 kHz mono PCM assumption)."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means, rmss, durs = [], [], []
            for p in pdf["payload"]:
                if p is None:
                    # NULL payload → NULL stats, row retained
                    means.append(None)
                    rmss.append(None)
                    durs.append(None)
                    continue
                x = np.frombuffer(p, dtype=np.uint8).astype(np.float64)
                means.append(round(float(x.mean()), 6) if len(x) else 0.0)
                rmss.append(round(float(np.sqrt((x**2).mean())), 6) if len(x) else 0.0)
                durs.append(round(len(p) / 8000.0, 6))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "duration_s": pd.array(durs, dtype="Float64"),
                    "mean_level": pd.array(means, dtype="Float64"),
                    "rms_level": pd.array(rmss, dtype="Float64"),
                }
            )

    auds = media.filter(F.col("modality") == "audio")
    return auds.mapInPandas(gen, AUDIO_SCHEMA)


__all__ = [
    "SCHEMA_MEDIA",
    "synth_media_from_documents",
    "extract_features",
    "image_pixel_stats",
    "resize_images",
    "sample_frames",
    "audio_stats",
    "png_encode",
    "png_decode",
    "jpeg_dims",
    "jpeg_decode",
    "image_decode",
    "image_dims",
    "image_rgb",
    "FEATURE_SCHEMA",
    "PIXEL_STATS_SCHEMA",
    "RESIZED_SCHEMA",
    "FRAME_SCHEMA",
    "AUDIO_SCHEMA",
]


WAV_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_us", T.LongType(), True),
    ]
)


def synth_wav_payloads(docs: DataFrame) -> DataFrame:
    """Deterministic REAL WAV files (RIFF/WAVE containers with PCM16
    payload), one per document: sample_rate ∈ {8k,12k,16k}, channels ∈
    {1,2} and sample count all derive from doc_id, samples are a pure
    function of (doc_id, i). Unlike the fake-payload media table, these
    bytes are a genuine container format — so the parsing stage
    downstream is real code, not a stub."""
    import struct as _struct

    def encode(d: int) -> bytes:
        rate = 8000 + (d % 3) * 4000
        ch = 1 + d % 2
        n = 1000 + d % 500
        frames = bytearray()
        for i in range(n * ch):
            frames += _struct.pack("<h", ((d * 31 + i * 17) % 65536) - 32768)
        block = ch * 2
        fmt = _struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, 16)
        data = bytes(frames)
        riff = (
            b"WAVE"
            + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + _struct.pack("<I", len(riff)) + riff

    return _synth(docs, encode)


def parse_wav_headers(media: DataFrame) -> DataFrame:
    """REAL RIFF/WAVE container parsing (pure ``struct``, no codec
    libs): walks the chunk list, decodes the ``fmt `` chunk's
    rate/channels/bits and sizes the ``data`` chunk into a sample
    count. Arrow-batched via mapInPandas; malformed payloads yield
    NULL fields instead of failing the batch (quarantine-friendly,
    same posture as the cast layer)."""
    import struct as _struct

    def parse_one(p: bytes):
        try:
            p = bytes(p)
            if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
                return None
            pos, rate, ch, bits, n = 12, None, None, None, None
            while pos + 8 <= len(p):
                cid = p[pos : pos + 4]
                (size,) = _struct.unpack("<I", p[pos + 4 : pos + 8])
                body = p[pos + 8 : pos + 8 + size]
                if cid == b"fmt ":
                    _, ch, rate, _, block, bits = _struct.unpack(
                        "<HHIIHH", body[:16]
                    )
                elif cid == b"data" and ch:
                    n = size // (ch * (bits // 8))
                pos += 8 + size + (size % 2)  # chunks are word-aligned
            if not rate or n is None:
                # `not rate` also rejects a declared sample_rate of 0:
                # downstream duration_us divides by it, and the JVM
                # double division would yield Inf → Long.MAX garbage
                # instead of the promised NULL quarantine (r13
                # operator review)
                return None
            return rate, ch, bits, n
        except Exception:
            return None

    parsed = _parse_pass(
        media,
        parse_one,
        T.StructType([f for f in WAV_HEADER_SCHEMA if f.name != "duration_us"]),
    )
    # Duration as EXACT integer microseconds (floor division, JVM-side).
    # A fractional-seconds double here is engine-hostile twice over:
    # Python round() is banker's, and Spark ROUND decimalizes the
    # shortest repr while DuckDB rounds the raw binary double — ties
    # like 0.0628125 land on different sides. Integer µs has no ties.
    return parsed.withColumn(
        "duration_us",
        F.floor(F.col("n_samples") * 1000000 / F.col("sample_rate")).cast("long"),
    )


# -- round-5: GIF header/palette parse, EXIF (APP1/TIFF) walk, dHash --------


def _gif_tools():
    """GIF87a/89a container support, nested for by-value pickling
    (same constraint as ``_png_codec``): an encoder that emits a real
    GIF header + logical screen descriptor + global color table
    (pixel data is out of scope — the parser's job is the container),
    and a parser that walks exactly what a cataloguing pipeline needs:
    version, dimensions, palette size/contents, background index.
    Malformed payloads return None (quarantine posture)."""
    import struct as _s

    def encode(d: int) -> bytes:
        version = b"GIF89a" if d % 2 else b"GIF87a"
        w, h = 16 + d % 32, 16 + d % 16
        exp = d % 8
        n_pal = 1 << (exp + 1)
        packed = 0x80 | ((d % 8) << 4) | exp  # GCT present, res, size
        bg = d % n_pal
        pal = bytes((d + 7 * j) % 256 for j in range(3 * n_pal))
        return (
            version
            + _s.pack("<HHBBB", w, h, packed, bg, 0)
            + pal
            + b"\x3b"  # trailer
        )

    def parse(data: bytes):
        try:
            data = bytes(data)
            if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
                return None
            w, h, packed, bg, _aspect = _s.unpack("<HHBBB", data[6:13])
            if not packed & 0x80:
                return (data[3:6].decode(), w, h, 0, bg, 0)
            n_pal = 1 << ((packed & 0x07) + 1)
            pal = data[13 : 13 + 3 * n_pal]
            if len(pal) < 3 * n_pal:
                return None
            return (
                data[3:6].decode(),
                w,
                h,
                n_pal,
                bg,
                sum(pal),
            )
        except Exception:
            return None

    return encode, parse


gif_encode, gif_parse = _gif_tools()


GIF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("version", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_palette", T.IntegerType(), True),
        T.StructField("bg_index", T.IntegerType(), True),
        T.StructField("palette_sum", T.LongType(), True),
    ]
)


def gif_header_table(docs: DataFrame) -> DataFrame:
    """Synthesize real GIF containers (one per selected doc) and parse
    them back from wire bytes (:func:`_round_trip`)."""
    return _round_trip(docs, gif_encode, gif_parse, GIF_STATS_SCHEMA)


def _exif_tools():
    """APP1/EXIF metadata support (nested for by-value pickling): a
    builder emitting a minimal REAL JPEG (SOI + APP1 carrying a TIFF
    block + SOF0 + EOI) and a parser that walks the marker stream to
    APP1, validates the Exif header, honors the TIFF byte order
    ("II" little / "MM" big), and reads IFD0's inline-value tags —
    the orientation/width walk every image-corpus cataloguer runs.
    Values beyond 4 bytes (offset-addressed) are out of scope and
    skipped, not misread."""
    import struct as _s

    def encode(d: int) -> bytes:
        little = d % 2 == 0
        e = "<" if little else ">"
        orient = 1 + d % 8
        width_tag = 16 + d % 32
        tiff = (b"II" if little else b"MM") + _s.pack(e + "HI", 42, 8)
        # IFD0: 3 entries, all inline values, then next-IFD offset 0
        entries = (
            _s.pack(e + "HHIHH", 0x0100, 3, 1, width_tag, 0)  # ImageWidth
            + _s.pack(e + "HHIHH", 0x0112, 3, 1, orient, 0)   # Orientation
            + _s.pack(e + "HHI4s", 0x0131, 2, 4, b"sg1\x00")  # Software
        )
        tiff += _s.pack(e + "H", 3) + entries + _s.pack(e + "I", 0)
        app1_body = b"Exif\x00\x00" + tiff
        app1 = b"\xff\xe1" + _s.pack(">H", len(app1_body) + 2) + app1_body
        sof = b"\xff\xc0" + _s.pack(
            ">HBHHB", 8 + 3, 8, 16 + d % 16, width_tag, 1
        ) + b"\x01\x11\x00"
        return b"\xff\xd8" + app1 + sof + b"\xff\xd9"

    def parse(data: bytes):
        try:
            data = bytes(data)
            if data[:2] != b"\xff\xd8":
                return None
            pos = 2
            while pos + 4 <= len(data):
                if data[pos] != 0xFF:
                    return None
                marker = data[pos + 1]
                (ln,) = _s.unpack(">H", data[pos + 2 : pos + 4])
                if ln < 2 or pos + 2 + ln > len(data):
                    return None
                if marker == 0xE1 and data[pos + 4 : pos + 10] == b"Exif\x00\x00":
                    t = pos + 10  # TIFF origin
                    order = data[t : t + 2]
                    if order == b"II":
                        e = "<"
                    elif order == b"MM":
                        e = ">"
                    else:
                        return None
                    magic, ifd_off = _s.unpack(e + "HI", data[t + 2 : t + 8])
                    if magic != 42:
                        return None
                    p = t + ifd_off
                    (n,) = _s.unpack(e + "H", data[p : p + 2])
                    p += 2
                    orient = width_tag = None
                    for _ in range(n):
                        tag, typ, cnt = _s.unpack(
                            e + "HHI", data[p : p + 8]
                        )
                        if tag == 0x0112 and typ == 3 and cnt == 1:
                            (orient,) = _s.unpack(
                                e + "H", data[p + 8 : p + 10]
                            )
                        elif tag == 0x0100 and typ == 3 and cnt == 1:
                            (width_tag,) = _s.unpack(
                                e + "H", data[p + 8 : p + 10]
                            )
                        p += 12
                    return (
                        "little" if e == "<" else "big",
                        int(n),
                        orient,
                        width_tag,
                    )
                pos += 2 + ln
            return None
        except Exception:
            return None

    return encode, parse


exif_encode, exif_parse = _exif_tools()


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("endian", T.StringType(), True),
        T.StructField("n_ifd_entries", T.IntegerType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("width_tag", T.IntegerType(), True),
    ]
)


def exif_table(docs: DataFrame) -> DataFrame:
    """Synthesize EXIF-bearing JPEGs and parse them back from wire
    bytes (:func:`_round_trip`)."""
    return _round_trip(docs, exif_encode, exif_parse, EXIF_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("dhash", T.StringType(), True),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash) from REAL decoded pixels:
    decode the PNG, floor-sample a 9 × 8 grayscale grid
    (the same ``src = out·src_dim // out_dim`` rule as
    :func:`resize_images`, gray = (r+g+b)//3 integer), and emit one
    bit per horizontal neighbor comparison — a 64-bit fingerprint
    (8×8 comparisons) robust to resizing/re-encoding, the standard
    image near-dup key. Emitted as a 64-char bitstring so the hash is
    engine-portable with no signed-int edge cases; grouping equal
    hashes IS perceptual dedup. Map-only Arrow-batched stage; at
    100 TB the only shuffle downstream is on the 64-bit key."""
    dec = png_decode

    def parse(p: bytes):
        decoded = dec(p)
        if decoded is None:
            return None
        w, h, rgb = decoded

        def gray(x: int, y: int) -> int:
            o = (y * w + x) * 3
            return (rgb[o] + rgb[o + 1] + rgb[o + 2]) // 3

        bits = []
        for gy in range(8):
            sy = gy * h // 8
            for gx in range(8):
                a = gray(gx * w // 9, sy)
                b = gray((gx + 1) * w // 9, sy)
                bits.append("1" if b > a else "0")
        return w, h, "".join(bits)

    return _parse_pass(
        media.filter(F.col("modality") == "image"), parse, DHASH_SCHEMA
    )


__all__ += [
    "gif_encode",
    "gif_parse",
    "gif_header_table",
    "exif_encode",
    "exif_parse",
    "exif_table",
    "image_dhash",
    "GIF_STATS_SCHEMA",
    "EXIF_SCHEMA",
    "DHASH_SCHEMA",
]


def _bmp_tools():
    """BMP (Windows DIB) support, nested for by-value pickling: a
    24-bit bottom-up encoder with the REAL row padding rule (each
    pixel row padded to a 4-byte boundary — the classic BMP parsing
    trap) and a parser that validates the BITMAPFILEHEADER /
    BITMAPINFOHEADER and walks the padded BGR rows to a pixel byte
    sum. Malformed payloads return None."""
    import struct as _s

    def encode(w: int, h: int, rgb: bytes) -> bytes:
        if len(rgb) != w * h * 3:
            raise ValueError("rgb buffer does not match width*height*3")
        stride = (w * 3 + 3) & ~3
        img = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = bytearray()
            for x in range(w):
                o = (y * w + x) * 3
                row += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # BGR
            row += b"\x00" * (stride - len(row))
            img += row
        header = _s.pack(
            "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
        )
        info = _s.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
        )
        return header + info + bytes(img)

    def parse(data: bytes):
        try:
            data = bytes(data)
            if data[:2] != b"BM" or len(data) < 54:
                return None
            _size, _r1, _r2, offset = _s.unpack("<IHHI", data[2:14])
            hsize, w, h, planes, bpp, comp = _s.unpack(
                "<IiiHHI", data[14:34]
            )
            if hsize != 40 or planes != 1 or bpp != 24 or comp != 0:
                return None
            if w <= 0 or h == 0:
                return None
            flipped = h < 0
            ah = -h if flipped else h
            stride = (w * 3 + 3) & ~3
            if offset + stride * ah > len(data):
                return None
            psum = 0
            for row in range(ah):
                base = offset + row * stride
                psum += sum(data[base : base + w * 3])
            return w, ah, bpp, psum
        except Exception:
            return None

    return encode, parse


bmp_encode, bmp_parse = _bmp_tools()


BMP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bpp", T.IntegerType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
    ]
)


def bmp_header_table(docs: DataFrame) -> DataFrame:
    """Synthesize real padded-row BMPs from the deterministic pixel
    model and parse them back from wire bytes (:func:`_round_trip`).
    Identity-grain: one BMP per doc_id even under replayed ids (the
    payload is a pure function of the id; r11 duplicates sweep)."""
    return _round_trip(
        docs.select("doc_id").distinct(),
        _model_image(bmp_encode),
        bmp_parse,
        BMP_STATS_SCHEMA,
    )


def _png_text_tools():
    """tEXt ancillary-chunk support for the stdlib PNG codec, nested
    for by-value pickling: an injector that splices keyword\\0value
    tEXt chunks (correct CRCs) after IHDR, and a walker that returns
    them — while the pixel decoder keeps ignoring them (ancillary
    chunks must not affect decode)."""
    import struct as _s
    import zlib as _z

    def _chunk(tag: bytes, body: bytes) -> bytes:
        return (
            _s.pack(">I", len(body))
            + tag
            + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    def add_text(png: bytes, pairs: list[tuple[str, str]]) -> bytes:
        png = bytes(png)
        # IHDR chunk: 8-byte magic + 4 len + 4 tag + 13 body + 4 crc
        ihdr_end = 8 + 12 + 13
        extra = b"".join(
            _chunk(b"tEXt", k.encode("latin-1") + b"\x00" + v.encode("latin-1"))
            for k, v in pairs
        )
        return png[:ihdr_end] + extra + png[ihdr_end:]

    def read_text(data: bytes):
        try:
            data = bytes(data)
            if data[:8] != b"\x89PNG\r\n\x1a\n":
                return None
            pos, out = 8, []
            while pos + 12 <= len(data):
                (ln,) = _s.unpack(">I", data[pos : pos + 4])
                tag = bytes(data[pos + 4 : pos + 8])
                body = bytes(data[pos + 8 : pos + 8 + ln])
                (crc,) = _s.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
                if _z.crc32(tag + body) & 0xFFFFFFFF != crc:
                    return None
                if tag == b"tEXt" and b"\x00" in body:
                    k, v = body.split(b"\x00", 1)
                    out.append((k.decode("latin-1"), v.decode("latin-1")))
                elif tag == b"IEND":
                    return out
                pos += 12 + ln
            return None  # truncated: the stream ended before IEND
        except Exception:
            return None

    return add_text, read_text


png_add_text, png_read_text = _png_text_tools()


PNG_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_text_chunks", T.IntegerType(), True),
        T.StructField("meta_csv", T.StringType(), True),
        T.StructField("decodes_with_text", T.BooleanType(), True),
    ]
)


def png_text_table(docs: DataFrame) -> DataFrame:
    """PNGs with injected tEXt metadata, walked back from wire bytes
    (:func:`_round_trip`); also asserts per payload that the PIXEL
    decoder still accepts the file (ancillary chunks are transparent to
    decode)."""
    png, add_text = _model_image(png_encode), png_add_text
    read_text, dec = png_read_text, png_decode

    def encode(d: int) -> bytes:
        return add_text(png(d), [("doc", str(d)), ("lang", "l" + str(d % 5))])

    def parse(p: bytes):
        pairs = read_text(p)
        if pairs is None:
            return None
        meta = ",".join(f"{k}={v}" for k, v in pairs)
        return len(pairs), meta, dec(p) is not None

    return _round_trip(docs, encode, parse, PNG_TEXT_SCHEMA)


__all__ += [
    "bmp_encode",
    "bmp_parse",
    "bmp_header_table",
    "png_add_text",
    "png_read_text",
    "png_text_table",
    "BMP_STATS_SCHEMA",
    "PNG_TEXT_SCHEMA",
]


def _tiff_tools():
    """Standalone TIFF with a MULTI-IFD chain (nested for by-value
    pickling): the builder emits a real TIFF header (byte order, magic
    42) followed by 2-4 chained IFDs — IFD0 carries width/length/
    orientation, each subsequent IFD is a halved "thumbnail" directory
    (the EXIF IFD1 chaining pattern) — and the parser walks the chain
    through the next-IFD offsets with a cycle guard, reading only
    inline SHORT values. Multi-IFD walking is what single-IFD EXIF
    readers silently skip; a corpus cataloguer needs it to count
    embedded thumbnails."""
    import struct as _s

    def encode(d: int) -> bytes:
        little = d % 2 == 0
        e = "<" if little else ">"
        n_ifds = 2 + d % 3
        w0, h0 = 16 + d % 32, 16 + d % 16
        sizes = [
            2 + (3 if k == 0 else 2) * 12 + 4 for k in range(n_ifds)
        ]
        offs = [8]
        for s in sizes[:-1]:
            offs.append(offs[-1] + s)
        out = (b"II" if little else b"MM") + _s.pack(e + "HI", 42, 8)
        for k in range(n_ifds):
            w, h = max(1, w0 >> k), max(1, h0 >> k)
            entries = _s.pack(e + "HHIHH", 0x0100, 3, 1, w, 0) + _s.pack(
                e + "HHIHH", 0x0101, 3, 1, h, 0
            )
            n = 2
            if k == 0:
                entries += _s.pack(e + "HHIHH", 0x0112, 3, 1, 1 + d % 8, 0)
                n = 3
            nxt = offs[k + 1] if k + 1 < n_ifds else 0
            out += _s.pack(e + "H", n) + entries + _s.pack(e + "I", nxt)
        return out

    def parse(data: bytes):
        try:
            data = bytes(data)
            order = data[:2]
            if order == b"II":
                e = "<"
            elif order == b"MM":
                e = ">"
            else:
                return None
            magic, off = _s.unpack(e + "HI", data[2:8])
            if magic != 42:
                return None
            widths, orient, n_entries = [], None, 0
            seen = set()
            while off != 0:
                if off in seen or len(seen) >= 8 or off + 2 > len(data):
                    return None  # cycle / runaway chain / truncated
                seen.add(off)
                (n,) = _s.unpack(e + "H", data[off : off + 2])
                p = off + 2
                if p + n * 12 + 4 > len(data):
                    return None
                w = None
                for _ in range(n):
                    tag, typ, cnt = _s.unpack(e + "HHI", data[p : p + 8])
                    if typ == 3 and cnt == 1:
                        (val,) = _s.unpack(e + "H", data[p + 8 : p + 10])
                        if tag == 0x0100:
                            w = val
                        elif tag == 0x0112 and orient is None:
                            orient = val
                    p += 12
                n_entries += n
                widths.append(w)
                (off,) = _s.unpack(e + "I", data[p : p + 4])
            return (
                "little" if e == "<" else "big",
                len(widths),
                n_entries,
                orient,
                ",".join(str(w) for w in widths),
            )
        except Exception:
            return None

    return encode, parse


tiff_encode, tiff_parse = _tiff_tools()


TIFF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("endian", T.StringType(), True),
        T.StructField("n_ifds", T.IntegerType(), True),
        T.StructField("n_entries", T.IntegerType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("widths_csv", T.StringType(), True),
        T.StructField("chain_ok", T.BooleanType(), True),
    ]
)


def tiff_ifd_table(docs: DataFrame) -> DataFrame:
    """Synthesize multi-IFD TIFFs and walk them back from wire bytes
    (:func:`_round_trip`); a chain the walker rejects reads
    ``chain_ok=False`` with NULL fields."""
    par = tiff_parse

    def parse(p: bytes):
        fields = par(p)
        return (None,) * 5 + (False,) if fields is None else (*fields, True)

    return _round_trip(docs, tiff_encode, parse, TIFF_SCHEMA)
