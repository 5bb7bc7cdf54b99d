"""Multimodal column plumbing (north-star surface, BASELINE.json:6): treat
image/audio/video as opaque `binary` payloads with typed metadata, processed
by Arrow-batched pandas functions via mapInPandas.

Decode is REAL at the pixel level for all three container formats — PNG
(chunk walk → zlib inflate → unfilter, `decode_png_pixels`), GIF (block walk
→ sub-block concat → LZW decode, `decode_gif_pixels`), and baseline JPEG
(segment walk → Huffman + magnitude decode → dequantize → IDCT,
`decode_jpeg_pixels`) — zero external dependencies; progressive/subsampled
JPEG falls back to `parse_image_header`'s SOF marker scan (the lazy header
read PIL's `Image.open(...).size` performs), with the guarded PIL import
slot documenting where a full-color decoder lands when the library exists.
Payload bytes that are not a recognized image container fall back to a
deterministic fake (sha256-derived) so text-as-blob fixtures stay testable.

`make_image_payload` is the matching fixture-side encoder: it emits a fully
valid zlib-compressed 8-bit grayscale PNG / LZW-compressed 4-gray GIF89a /
Huffman-coded baseline JPEG with dimensions derived from the row id, so an
end-to-end encode→decode round trip is DuckDB-oracleable by pure arithmetic
on the id.

Scale notes: payloads never shuffle — mapInPandas is map-side; metadata-only
downstream queries select typed columns so Parquet column pruning skips the
blob bytes entirely (the whole point of separating payload from metadata).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # the real decoder would live here
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


DECODED_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("format", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)

def _fake_decode(payload: bytes) -> tuple[str, int, int]:
    """Deterministic fake for payloads that are not a recognized image
    container (e.g. text-as-blob fixtures): format/width/height derived from
    a content digest."""
    digest = hashlib.sha256(payload).digest()
    fmt = ("jpeg", "png", "webp")[digest[0] % 3]
    width = 64 + digest[1] * 4  # 64..1084
    height = 64 + digest[2] * 4
    return fmt, width, height


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG frame markers that carry dimensions (SOF0..SOF15 minus DHT/DAC/RST).
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(b: bytes) -> tuple[str, int, int] | None:
    """REAL struct-level image-header parse (the decode step PIL performs on
    `Image.open(...).size`, minus pixel decode): returns (format, width,
    height) for PNG / JPEG / GIF byte streams, None if `b` is not one.

    - PNG: 8-byte signature, then the IHDR chunk — width/height are
      big-endian u32 at offsets 16/20 (RFC 2083 §4.1.1).
    - JPEG: walk the marker stream from SOI to the first SOF frame header;
      height/width are big-endian u16 at offsets +5/+7 inside it (ITU T.81
      §B.2.2).
    - GIF: 6-byte version signature, then the logical screen descriptor —
      width/height are little-endian u16 at offsets 6/8 (GIF89a spec §18).
    """
    if len(b) >= 24 and b[:8] == _PNG_SIG and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return "png", w, h
    if len(b) >= 4 and b[:2] == b"\xff\xd8":  # SOI
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                return None  # not a well-formed marker stream
            marker = b[i + 1]
            if marker == 0xD9:  # EOI before any frame header
                break
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if marker in _JPEG_SOF:
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", w, h
            i += 2 + seg_len
        return None
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "gif", w, h
    return None


def encode_png(width: int, height: int, seed: bytes = b"") -> bytes:
    """Fully valid 8-bit grayscale PNG — signature, IHDR, one zlib-deflated
    IDAT of deterministic (seed-derived) pixel rows, IEND — built with
    stdlib struct/zlib only. Any PNG reader decodes it."""
    row_src = hashlib.sha256(seed).digest()
    row = (row_src * (width // 32 + 1))[:width]
    return encode_png_rows([row] * height, width)


def encode_png_rows(rows: list[bytes], width: int) -> bytes:
    """Encode explicit 8-bit grayscale pixel rows as a valid PNG (the
    pixel-preserving form `encode_png` and the resize path build on)."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)  # filter 0 per row
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --- GIF LZW (GIF89a spec §22 + Appendix F) -------------------------------
#
# Variable-width LZW, codes packed LSB-first into ≤255-byte sub-blocks.
# Width starts at min_code_size+1. Width growth follows the giflib
# `++RunningCode > MaxCode1` discipline — a counter of codes WRITTEN/READ
# since the last CLEAR (seeded at eoi+1), widening when it exceeds
# 2^width — NOT a counter of table entries: the two diverge at the trailing
# flush+EOI (reads that add no entry), and real-world readers count reads.
# Keeping encoder and decoder on the same read-count rule makes the pair
# self-consistent AND giflib-compatible in both directions. At 4095 table
# entries the encoder emits CLEAR and resets (12-bit ceiling, spec §22).

_GIF_MAX_CODE = 4095


class _LsbBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode_gif(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW compress of color-index bytes (each < 2^mcs)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _LsbBitWriter()
    table: dict[bytes, int] = {}
    next_code = running = width = 0

    def emit(code: int) -> None:
        nonlocal running, width
        w.write(code, width)
        running += 1
        if running > (1 << width) and width < 12:
            width += 1

    def reset() -> None:
        nonlocal table, next_code, running, width
        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        running = eoi + 1
        width = min_code_size + 1

    def emit_clear() -> None:
        # The decoder resets its read counter/width AFTER consuming the
        # CLEAR, so the clear is written at the old width and the counting
        # epoch restarts behind it (no running++ — reset supersedes it).
        w.write(clear, width)
        reset()

    reset()
    emit_clear()
    seq = b""
    for px in indices:
        cand = seq + bytes([px])
        if cand in table:
            seq = cand
            continue
        emit(table[seq])
        if next_code > _GIF_MAX_CODE:
            emit_clear()
        else:
            table[cand] = next_code
            next_code += 1
        seq = bytes([px])
    if seq:
        emit(table[seq])
    emit(eoi)
    return w.finish()


def _lzw_decode_gif(data: bytes, min_code_size: int, max_out: int) -> bytes:
    """Inverse of `_lzw_encode_gif` (giflib read semantics); raises
    ValueError on a malformed stream. `max_out` bounds the output
    (decompression-bomb guard, the zlib `expected` discipline of
    decode_png_pixels)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    running = eoi + 1
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        running += 1
        if running > (1 << width) and width < 12:
            width += 1
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            running = eoi + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the deferred-entry (KwKwK) case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out += entry
        if len(out) > max_out:
            raise ValueError("LZW output exceeds image dimensions")
        if prev is not None and len(table) <= _GIF_MAX_CODE:
            table.append(prev + entry[:1])
        prev = entry


def encode_gif(width: int, height: int, seed: bytes = b"") -> bytes:
    """Fully valid GIF89a — logical screen descriptor, 4-entry global color
    table, image descriptor, REAL LZW-compressed pixel data (deterministic
    seed-derived 2-bit indices), trailer — stdlib-only, the GIF sibling of
    `encode_png`. Any GIF reader decodes it."""
    mcs = 2
    row_src = hashlib.sha256(seed).digest()
    row = bytes((row_src * (width // 32 + 1))[x] & 0x03 for x in range(width))
    indices = row * height
    gct = bytes.fromhex("000000555555aaaaaaffffff")  # 4 gray levels
    lzw = _lzw_encode_gif(indices, mcs)
    sub_blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x81, 0, 0)  # GCT, 2 bpp
        + gct
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([mcs])
        + sub_blocks
        + b"\x00\x3b"
    )


def decode_gif_pixels(b: bytes) -> np.ndarray:
    """REAL pixel decode for GIF87a/89a byte streams (first image frame):
    walk the block stream past extensions, concatenate the image's LZW
    sub-blocks, decode, reshape to (h, w) of color indices."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(b) < 13:
        raise ValueError("GIF truncated in screen descriptor")
    flags = b[10]
    i = 13 + (3 * (2 << (flags & 0x07)) if flags & 0x80 else 0)
    while i < len(b):
        block = b[i]
        if block == 0x3B:  # trailer before any image
            raise ValueError("GIF has no image data")
        if block == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _, _, w, h, iflags = struct.unpack("<HHHHB", b[i + 1 : i + 10])
        i += 10 + (3 * (2 << (iflags & 0x07)) if iflags & 0x80 else 0)
        if w == 0 or h == 0 or w * h > 64 * 1024 * 1024:
            raise ValueError(f"GIF dims {w}x{h} degenerate or over decode cap")
        if iflags & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if i >= len(b):
            raise ValueError("GIF truncated before LZW min code size")
        mcs = b[i]
        i += 1
        lzw = bytearray()
        while i < len(b) and b[i] != 0:
            n = b[i]
            lzw += b[i + 1 : i + 1 + n]
            i += 1 + n
        raw = _lzw_decode_gif(bytes(lzw), mcs, w * h)
        if len(raw) != w * h:
            raise ValueError(
                f"GIF pixel count {len(raw)} != {w}x{h} descriptor"
            )
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)
    raise ValueError("GIF truncated before image data")


def payload_dims(doc_id: int) -> tuple[str, int, int]:
    """The deterministic id→(format, width, height) contract shared by the
    fixture encoder and the DuckDB oracle (arithmetic-only, so the oracle
    can predict what a correct decode must return)."""
    fmt = ("png", "jpeg", "gif")[doc_id % 3]
    return fmt, 16 + doc_id % 32, 16 + (doc_id // 3) % 32


def make_image_payload(df: DataFrame) -> DataFrame:
    """Attach a REAL image byte stream per row: format and dimensions follow
    `payload_dims(id)`; PNG pixel content is derived from the id so payloads
    are content-distinct. mapInPandas (Arrow-batched, map-side)."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for i in batch["doc_id"]:
                fmt, w, h = payload_dims(int(i))
                if fmt == "png":
                    payloads.append(encode_png(w, h, seed=str(i).encode()))
                elif fmt == "jpeg":
                    payloads.append(encode_jpeg(w, h, seed=str(i).encode()))
                else:
                    payloads.append(encode_gif(w, h, seed=str(i).encode()))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].values, "payload": payloads}
            )

    return df.select("doc_id").mapInPandas(run, schema)


def _decode_kernel(batch: pd.DataFrame) -> pd.DataFrame:
    """Per-Arrow-batch decode. PNG, GIF, and baseline-JPEG payloads get a
    REAL pixel decode (`decode_png_pixels`: chunk walk → inflate →
    unfilter; `decode_gif_pixels`: block walk → LZW; `decode_jpeg_pixels`:
    Huffman + IDCT with end-of-scan consumption check — no imaging library
    needed): width/height are the decoded ndarray's shape, so a truncated,
    corrupt, or dimension-lying stream fails here instead of sailing
    through on a plausible header. Progressive/subsampled JPEG and
    header-only fixtures fall back to the container-header parse, opaque
    payloads to the deterministic fake."""

    def one(b) -> tuple[str, int, int]:
        bb = bytes(b)
        if bb[:8] == _PNG_SIG:
            try:
                arr = decode_png_pixels(bb)
                return "png", int(arr.shape[1]), int(arr.shape[0])
            except (ValueError, zlib.error, struct.error):
                pass  # malformed PNG: header parse / fake below
        if bb[:6] in (b"GIF87a", b"GIF89a"):
            try:
                arr = decode_gif_pixels(bb)
                return "gif", int(arr.shape[1]), int(arr.shape[0])
            except (ValueError, struct.error, IndexError):
                pass  # header-only or malformed GIF: header parse below
        if bb[:2] == b"\xff\xd8":
            try:
                arr = decode_jpeg_pixels(bb)
                return "jpeg", int(arr.shape[1]), int(arr.shape[0])
            except (ValueError, struct.error, IndexError):
                pass  # header-only/progressive/malformed: header parse below
        return parse_image_header(bb) or _fake_decode(bb)

    meta = [one(b) for b in batch["payload"]]
    return pd.DataFrame(
        {
            "doc_id": batch["doc_id"].values,
            "n_bytes": [len(b) for b in batch["payload"]],
            "format": [m[0] for m in meta],
            "width": [m[1] for m in meta],
            "height": [m[2] for m in meta],
        }
    )


def decode_metadata(with_payload: DataFrame) -> DataFrame:
    """payload → typed metadata via mapInPandas (Arrow-batched, map-side,
    no shuffle). Input needs columns (doc_id, payload)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield _decode_kernel(batch)

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, DECODED_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# Pixel-level decode, resize, and video frame sampling — REAL byte/pixel
# work over the engine's own valid PNG streams (filter-0 grayscale), no
# external imaging library required.
# ---------------------------------------------------------------------------

import numpy as np

RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("format", StringType(), False),
        StructField("width", IntegerType(), False),
        StructField("height", IntegerType(), False),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", IntegerType(), False),
        StructField("n_sampled", IntegerType(), False),
        StructField("sum_width", LongType(), False),
        StructField("sum_height", LongType(), False),
    ]
)


def decode_png_pixels(b: bytes) -> np.ndarray:
    """REAL pixel decode for 8-bit grayscale filter-0 PNGs (the kind
    `encode_png` writes): walk the chunk stream, concatenate IDAT,
    zlib-inflate, strip the per-row filter byte, reshape to (h, w)."""
    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", b[16:24])
    # Inflate-bomb guard: this runs on the DEFAULT decode path for any
    # PNG-signature payload, so the expected pixel-buffer size must be
    # bounded BEFORE inflating (zlib compresses ~1000:1 — a small crafted
    # IDAT could otherwise allocate GBs per row). The header dims bound
    # the buffer exactly: h rows of (1 filter byte + w pixels).
    expected = h * (w + 1)
    # expected == 0 would make zlib's max_length UNLIMITED (CPython treats
    # 0 as "no bound"), re-opening the bomb via a zero-height IHDR.
    if expected == 0 or w == 0:
        raise ValueError(f"PNG dims {w}x{h} are degenerate")
    if expected > 64 * 1024 * 1024:
        raise ValueError(f"PNG dims {w}x{h} exceed the decode cap")
    i, idat = 8, []
    while i + 8 <= len(b):
        (length,) = struct.unpack(">I", b[i : i + 4])
        tag = b[i + 4 : i + 8]
        if tag == b"IDAT":
            idat.append(b[i + 8 : i + 8 + length])
        if tag == b"IEND":
            break
        i += 12 + length  # len + tag + body + crc
    d = zlib.decompressobj()
    raw = d.decompress(b"".join(idat), expected)
    if d.unconsumed_tail or d.decompress(b"", 1):
        raise ValueError("IDAT stream larger than header dimensions")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    if not (rows[:, 0] == 0).all():
        raise ValueError("unsupported PNG filter")
    return rows[:, 1:]


def decode_image_pixels(b: bytes) -> "np.ndarray":
    """Format-dispatching pixel decode: PNG (inflate+unfilter), GIF (LZW),
    baseline JPEG (Huffman+IDCT) → (h, w) uint8 array; ValueError for
    anything else (callers choose their fallback)."""
    if b[:8] == _PNG_SIG:
        return decode_png_pixels(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_pixels(b)
    if b[:2] == b"\xff\xd8":
        return decode_jpeg_pixels(b)
    raise ValueError("not a decodable image container")


def resize_images_half(with_payload: DataFrame) -> DataFrame:
    """True pixel-level 2× downsample (nearest-neighbor) over ANY of the
    three decodable containers: decode the payload's pixels (PNG, GIF, or
    baseline JPEG), subsample `arr[::2, ::2]`, RE-ENCODE the actual
    subsampled pixels as a lossless PNG, decode THAT, and verify the final
    buffer is bit-identical to the subsample before emitting its
    dimensions — a full decode→transform→encode→decode cycle carrying real
    pixel content end to end (normalizing to PNG on write is the standard
    lossless-archival move for a resize stage). mapInPandas: pixels never
    leave the task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            out = {"doc_id": [], "format": [], "width": [], "height": []}
            for i, b in zip(batch["doc_id"], batch["payload"]):
                arr = decode_image_pixels(bytes(b))
                small = np.ascontiguousarray(arr[::2, ::2])
                h2, w2 = small.shape
                re_encoded = encode_png_rows(
                    [small[r].tobytes() for r in range(h2)], w2
                )
                back = decode_png_pixels(re_encoded)
                if not np.array_equal(back, small):
                    raise ValueError("lossless re-encode cycle corrupted pixels")
                out["doc_id"].append(int(i))
                out["format"].append("png")
                out["width"].append(int(back.shape[1]))
                out["height"].append(int(back.shape[0]))
            yield pd.DataFrame(out)

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, RESIZED_SCHEMA
    )


def video_frame_dims(doc_id: int, f: int) -> tuple[int, int]:
    """Arithmetic contract for frame f of doc `doc_id`'s synthetic video —
    shared by the encoder and the DuckDB oracle."""
    return 16 + (doc_id + f) % 32, 12 + (doc_id + 2 * f) % 24


def video_n_frames(doc_id: int) -> int:
    return 4 + doc_id % 5


def encode_video(doc_id: int) -> bytes:
    """Synthetic video container: u32-length-prefixed sequence of REAL PNG
    frames (dims per `video_frame_dims`)."""
    parts = []
    for f in range(video_n_frames(doc_id)):
        w, h = video_frame_dims(doc_id, f)
        png = encode_png(w, h, seed=f"{doc_id}:{f}".encode())
        parts.append(struct.pack(">I", len(png)) + png)
    return b"".join(parts)


def make_video_payload(df: DataFrame) -> DataFrame:
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch):
                yield pd.DataFrame(
                    {
                        "doc_id": batch["doc_id"].values,
                        "payload": [
                            encode_video(int(i)) for i in batch["doc_id"]
                        ],
                    }
                )

    return df.select("doc_id").mapInPandas(run, schema)


def sample_video_frames(with_payload: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling: walk the length-prefixed container, keep every
    `every`-th frame, PIXEL-DECODE each KEPT frame (real PNG inflate +
    unfilter — dims come from the decoded buffer, round-4 parity with the
    image path), and aggregate per doc. Skipped frames are skipped by
    seeking over their length prefix — the byte-level analog of
    keyframe-only video reads (never decode what you drop). Map-side;
    payloads never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not len(batch):
                continue
            out = {
                "doc_id": [],
                "n_frames": [],
                "n_sampled": [],
                "sum_width": [],
                "sum_height": [],
            }
            for i, b in zip(batch["doc_id"], batch["payload"]):
                b = bytes(b)
                pos = n = kept = sw = sh = 0
                while pos + 4 <= len(b):
                    (length,) = struct.unpack(">I", b[pos : pos + 4])
                    if n % every == 0:
                        arr = decode_png_pixels(b[pos + 4 : pos + 4 + length])
                        kept += 1
                        sw += int(arr.shape[1])
                        sh += int(arr.shape[0])
                    pos += 4 + length
                    n += 1
                out["doc_id"].append(int(i))
                out["n_frames"].append(n)
                out["n_sampled"].append(kept)
                out["sum_width"].append(sw)
                out["sum_height"].append(sh)
            yield pd.DataFrame(out)

    return with_payload.select("doc_id", "payload").mapInPandas(
        run, FRAME_SAMPLE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Audio (PCM WAV): real RIFF encode + struct-level parse + sample analysis
# ---------------------------------------------------------------------------

def wav_params(doc_id: int) -> tuple[int, int, int]:
    """Deterministic id -> (sample_rate, n_samples, amplitude) contract
    shared by the fixture encoder and the DuckDB oracle (arithmetic-only,
    like `payload_dims` for images). n_samples is a multiple of 8 so the
    triangle wave below completes whole periods (closed-form energy)."""
    sample_rate = 8000 + (doc_id % 4) * 4000
    n_samples = 256 + (doc_id % 7) * 64
    amp = 1000 + (doc_id % 10) * 500
    return sample_rate, n_samples, amp


def _wav_samples(n_samples: int, amp: int) -> "np.ndarray":
    """Period-8 integer triangle wave: [0, a, 2a, a, 0, -a, -2a, -a] — pure
    integer, so per-period energy is exactly 12*a^2 and total sum-of-squares
    is (n/8)*12*a^2 (the oracle's closed form)."""
    pattern = np.asarray([0, 1, 2, 1, 0, -1, -2, -1], dtype=np.int32) * amp
    return np.tile(pattern, n_samples // 8).astype("<i2")


def encode_wav_pcm(sample_rate: int, samples: "np.ndarray") -> bytes:
    """Fully valid PCM16 mono WAV (canonical 44-byte RIFF/fmt/data layout,
    playable by any reader) around the given int16 sample array."""
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, byte_rate, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav(doc_id: int) -> bytes:
    """Deterministic triangle-wave WAV for doc_id (see wav_params)."""
    sr, n, amp = wav_params(doc_id)
    return encode_wav_pcm(sr, _wav_samples(n, amp))


def parse_wav(b: bytes) -> tuple[int, int, int, int] | None:
    """REAL struct-level WAV parse: returns (sample_rate, n_channels,
    bits_per_sample, n_samples) from the RIFF/fmt/data chunks, or None if
    not a canonical PCM WAV."""
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE" or b[12:16] != b"fmt ":
        return None
    fmt_len, audio_fmt, n_ch, sr = struct.unpack("<IHHI", b[16:28])
    bits = struct.unpack("<H", b[34:36])[0]
    if audio_fmt != 1 or b[36:40] != b"data":
        return None
    data_len = struct.unpack("<I", b[40:44])[0]
    return sr, n_ch, bits, data_len // (n_ch * bits // 8)


def make_audio_payload(df: DataFrame) -> DataFrame:
    """Attach a real PCM WAV byte stream per row (mapInPandas, map-side —
    blobs never shuffle), mirroring `make_image_payload`."""
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("payload", BinaryType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids = batch["doc_id"].astype("int64")
            yield pd.DataFrame(
                {"doc_id": ids, "payload": [encode_wav(int(i)) for i in ids]}
            )

    return df.select(F.col("doc_id").cast("long").alias("doc_id")).mapInPandas(
        run, schema
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81), grayscale: REAL encode + pixel decode with
# stdlib + numpy only — closing the PNG/GIF/JPEG pixel-parity triangle.
#
# Design choices that keep this tractable AND spec-conforming:
# - One component (luminance), baseline sequential DCT, no subsampling, no
#   restart markers.
# - Huffman tables are BUILT, not copied: every symbol gets a fixed-width
#   canonical code (DC: 12 categories at 4 bits; AC: 162 run/size symbols at
#   8 bits). Fixed-width canonical codes are legal Huffman tables, the
#   all-ones code stays unused (T.81 C.2 requirement), and since the tables
#   ship in the DHT segment any conforming reader decodes the stream.
# - Quantization: DC step 1, AC step 4. |DC| ≤ 8·128 = 1024 → category ≤ 11;
#   |AC| ≤ 2048 (T.81 worst case for ±128 input) → quantized ≤ 512 → size
#   ≤ 10. So the fixed symbol alphabets cover EVERY possible 8-bit image,
#   not just the fixture's — no escape hatch needed.
# - float64 DCT-II via an orthonormal basis matrix; encode→decode reproduces
#   the QUANTIZED coefficients exactly, so pixel error is bounded by the
#   quantizer (± a few gray levels), and dimensions — what the arithmetic
#   oracle checks — are exact.
# ---------------------------------------------------------------------------

_JPEG_QUANT_DC = 1
_JPEG_QUANT_AC = 4

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# DC symbols: magnitude categories 0..11. AC symbols: EOB (0x00), ZRL
# (0xF0), and (run << 4 | size) for run 0..15, size 1..10.
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _fixed_huffman(symbols: list[int], width: int):
    """Canonical fixed-width Huffman table: symbol i ↦ code i at `width`
    bits. Valid iff len(symbols) < 2^width (keeps the all-ones code free).
    Returns (bits_counts[16], symbols, encode_map{sym: (code, width)})."""
    assert len(symbols) < (1 << width)
    counts = [0] * 16
    counts[width - 1] = len(symbols)
    enc = {s: (i, width) for i, s in enumerate(symbols)}
    return counts, symbols, enc


_DC_TABLE = _fixed_huffman(_DC_SYMS, 4)
_AC_TABLE = _fixed_huffman(_AC_SYMS, 8)


def _dct_basis() -> "np.ndarray":
    k = np.arange(8)
    T = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    T[0, :] /= np.sqrt(2.0)
    return T  # orthonormal: pixels = T.T @ coef @ T


class _MsbBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, width: int) -> None:
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.n += width
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.n -= 8
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        # keep only the unflushed bits: an ever-growing accumulator makes
        # every shift O(stream length) — quadratic encode (review finding)
        self.acc &= (1 << self.n) - 1

    def finish(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (T.81 F.1.2.3)
        return bytes(self.out)


def _magnitude_bits(v: int) -> tuple[int, int]:
    """(category/size, appended bits) for a DC diff or AC value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def encode_jpeg(width: int, height: int, seed: bytes = b"") -> bytes:
    """Fully valid baseline JFIF byte stream — SOI, APP0, DQT, SOF0, two
    DHTs, SOS, entropy-coded 8×8 DCT blocks, EOI — carrying the same
    deterministic seed-derived row content as `encode_png`/`encode_gif`.
    Any baseline JPEG reader decodes it."""
    row_src = hashlib.sha256(seed).digest()
    row = np.frombuffer(
        (row_src * (width // 32 + 1))[:width], dtype=np.uint8
    )
    img = np.tile(row, (height, 1))
    return encode_jpeg_pixels(img)


def _jpeg_quant() -> "np.ndarray":
    quant = np.full((8, 8), float(_JPEG_QUANT_AC))
    quant[0, 0] = float(_JPEG_QUANT_DC)
    return quant


def _pad_edge(plane: "np.ndarray", mult: int) -> "np.ndarray":
    """Pad a (h, w) float plane to `mult`-multiples by edge replication
    (the decoder crops back via the SOF dims)."""
    h, w = plane.shape
    ph, pw = -(-h // mult) * mult, -(-w // mult) * mult
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = plane
    padded[h:, :w] = plane[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    return padded


def _encode_block(
    bw: "_MsbBitWriter", block: "np.ndarray", quant: "np.ndarray",
    prev_dc: int, T: "np.ndarray",
) -> int:
    """FDCT + quantize + Huffman-encode one level-shifted 8×8 block;
    returns the new DC predictor for the block's component."""
    _, _, dc_enc = _DC_TABLE
    _, _, ac_enc = _AC_TABLE
    coef = T @ block @ T.T
    q = np.round(coef / quant).astype(np.int64)
    zz = q.flatten()[_ZIGZAG]
    size, bits = _magnitude_bits(int(zz[0]) - prev_dc)
    code, cw = dc_enc[size]
    bw.write(code, cw)
    if size:
        bw.write(bits, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, cw = ac_enc[0xF0]  # ZRL
            bw.write(code, cw)
            run -= 16
        size, bits = _magnitude_bits(v)
        code, cw = ac_enc[(run << 4) | size]
        bw.write(code, cw)
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, cw = ac_enc[0x00]  # EOB
        bw.write(code, cw)
    return int(zz[0])


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _jpeg_dht() -> bytes:
    dc_counts, dc_syms, _ = _DC_TABLE
    ac_counts, ac_syms, _ = _AC_TABLE
    return _jpeg_seg(
        0xC4, b"\x00" + bytes(dc_counts) + bytes(dc_syms)
    ) + _jpeg_seg(0xC4, b"\x10" + bytes(ac_counts) + bytes(ac_syms))


_JPEG_APP0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"


def _dqt_body(quant: "np.ndarray", tq: int) -> bytes:
    return bytes([tq]) + bytes(
        int(quant.flatten()[_ZIGZAG][i]) for i in range(64)
    )


def encode_jpeg_pixels(img: "np.ndarray") -> bytes:
    """Encode an (h, w) uint8 grayscale array as baseline JPEG."""
    h, w = img.shape
    T = _dct_basis()
    quant = _jpeg_quant()
    padded = _pad_edge(img.astype(np.float64), 8) - 128.0
    ph, pw = padded.shape
    bw = _MsbBitWriter()
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            prev_dc = _encode_block(
                bw, padded[by : by + 8, bx : bx + 8], quant, prev_dc, T
            )
    dqt = _jpeg_seg(0xDB, _dqt_body(quant, 0))
    sof = _jpeg_seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    app0 = _jpeg_seg(0xE0, _JPEG_APP0)
    sos = _jpeg_seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + _jpeg_dht() + sos
        + bw.finish() + b"\xff\xd9"
    )


def _ycbcr_to_rgb(y, cb, cr) -> "np.ndarray":
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


class _MsbBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    raises ValueError at EOI/markers/truncation."""

    def __init__(self, b: bytes, pos: int) -> None:
        self.b = b
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read(self, width: int) -> int:
        while self.n < width:
            if self.pos >= len(self.b):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.b[self.pos]
            self.pos += 1
            if byte == 0xFF:
                nxt = self.b[self.pos] if self.pos < len(self.b) else None
                if nxt == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("JPEG marker inside entropy stream")
            self.acc = (self.acc << 8) | byte
            self.n += 8
        out = (self.acc >> (self.n - width)) & ((1 << width) - 1)
        self.n -= width
        # drop consumed bits (unbounded acc ⇒ quadratic decode — measured
        # 6 s at 256², 0.15 s with the mask; review finding)
        self.acc &= (1 << self.n) - 1
        return out


def _huff_decoder(counts: list[int], symbols: list[int]):
    """DHT (bits, huffval) → {(length, code): symbol} canonical map."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _read_huff_symbol(br: _MsbBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def decode_jpeg_pixels(b: bytes) -> "np.ndarray":
    """REAL pixel decode for baseline JPEG byte streams: segment walk →
    DQT/SOF/DHT parse → Huffman + magnitude decode → dequantize → IDCT.
    Single-component (grayscale) streams return an (h, w) uint8 array;
    3-component YCbCr 4:2:0 streams (Y sampling 2×2, chroma 1×1 — the
    standard corpus layout) return (h, w, 3) RGB. Raises ValueError on
    anything else (progressive, other samplings, truncation, bombs)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    quant = {}
    huff = {}
    dims = None
    comps: list[tuple[int, int]] = []  # (sampling byte, quant selector)
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("JPEG segment desync")
        marker = b[i + 1]
        if marker == 0xD9:
            raise ValueError("JPEG has no scan data")
        (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
        body = b[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.zeros(64)
                tbl[_ZIGZAG] = [body[j + 1 + k] for k in range(64)]
                quant[tq] = tbl.reshape(8, 8)
                j += 65
        elif marker == 0xC0:
            prec, hh, ww, ncomp = struct.unpack(">BHHB", body[:6])
            if ncomp not in (1, 3) or prec != 8:
                raise ValueError("only 8-bit 1- or 3-component baseline")
            comps = [
                (body[6 + 3 * c + 1], body[6 + 3 * c + 2])
                for c in range(ncomp)
            ]
            if ncomp == 1 and comps[0][0] != 0x11:
                raise ValueError("subsampled single-component unsupported")
            if ncomp == 3 and [c[0] for c in comps] != [0x22, 0x11, 0x11]:
                raise ValueError("only 4:2:0 chroma subsampling supported")
            if hh == 0 or ww == 0 or hh * ww > 64 * 1024 * 1024:
                raise ValueError(f"JPEG dims {ww}x{hh} degenerate or over cap")
            dims = (hh, ww)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("non-baseline JPEG unsupported")
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 0x0F
                counts = list(body[j + 1 : j + 17])
                n = sum(counts)
                syms = list(body[j + 17 : j + 17 + n])
                huff[(tc, th)] = _huff_decoder(counts, syms)
                j += 17 + n
        elif marker == 0xDA:
            if dims is None or any(c[1] not in quant for c in comps):
                raise ValueError("SOS before SOF/DQT")
            if body[0] != len(comps):
                raise ValueError("scan component count != SOF")
            # body = [Ns, (Cs, Td<<4|Ta)×Ns, Ss, Se, AhAl] (T.81 B.2.3)
            tables = []
            for c in range(len(comps)):
                sel = body[2 + 2 * c]
                dc_t = huff.get((0, sel >> 4))
                ac_t = huff.get((1, sel & 0x0F))
                if dc_t is None or ac_t is None:
                    raise ValueError("SOS references missing Huffman table")
                tables.append((dc_t, ac_t))
            pos = i + 2 + seg_len
            if len(comps) == 1:
                return _decode_scan(
                    b, pos, dims, quant[comps[0][1]], *tables[0]
                )
            return _decode_scan_420(
                b, pos, dims, [quant[c[1]] for c in comps], tables
            )
        i += 2 + seg_len
    raise ValueError("JPEG truncated before SOS")


def _decode_block(br, dc_t, ac_t, quant, prev_dc, T) -> tuple["np.ndarray", int]:
    """Huffman + magnitude decode one 8×8 block, dequantize, IDCT; returns
    (spatial block, new DC predictor)."""
    zz = np.zeros(64, dtype=np.float64)
    size = _read_huff_symbol(br, dc_t)
    prev_dc += _extend(br.read(size), size) if size else 0
    zz[0] = prev_dc
    k = 1
    while k < 64:
        sym = _read_huff_symbol(br, ac_t)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("invalid AC run/size")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("AC index overflow")
        zz[k] = _extend(br.read(size), size)
        k += 1
    coef = np.zeros(64, dtype=np.float64)
    coef[_ZIGZAG] = zz
    return T.T @ (coef.reshape(8, 8) * quant) @ T, prev_dc


def _check_scan_end(br: "_MsbBitReader", b: bytes) -> None:
    """The scan must END exactly where the SOF dims say: surplus entropy
    data means the SOF lied small (PNG/GIF reject the analogous lie; review
    finding). Remaining buffered bits must be the encoder's 1-padding
    (T.81 F.1.2.3), and the next marker — skipping a stuffed FF 00 pad
    byte — must be EOI."""
    if br.n and (br.acc & ((1 << br.n) - 1)) != (1 << br.n) - 1:
        raise ValueError("JPEG entropy stream longer than SOF dimensions")
    pos = br.pos
    while pos + 1 < len(b) and b[pos] == 0xFF and b[pos + 1] == 0x00:
        pos += 2
    if not (pos + 1 < len(b) and b[pos] == 0xFF and b[pos + 1] == 0xD9):
        raise ValueError("JPEG entropy stream longer than SOF dimensions")


def _decode_scan(b, pos, dims, quant, dc_t, ac_t) -> "np.ndarray":
    h, w = dims
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    T = _dct_basis()
    out = np.empty((ph, pw), dtype=np.float64)
    br = _MsbBitReader(b, pos)
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block, prev_dc = _decode_block(br, dc_t, ac_t, quant, prev_dc, T)
            out[by : by + 8, bx : bx + 8] = block
    _check_scan_end(br, b)
    return np.clip(np.round(out + 128.0), 0, 255).astype(np.uint8)[:h, :w]


def _decode_scan_420(b, pos, dims, quants, tables) -> "np.ndarray":
    """Interleaved 3-component 4:2:0 scan: each MCU is 4 Y blocks (2×2),
    one Cb, one Cr; per-component DC predictors; chroma upsampled 2× by
    replication, then BT.601 → RGB."""
    h, w = dims
    ph, pw = -(-h // 16) * 16, -(-w // 16) * 16
    T = _dct_basis()
    yp = np.empty((ph, pw), dtype=np.float64)
    cbp = np.empty((ph // 2, pw // 2), dtype=np.float64)
    crp = np.empty((ph // 2, pw // 2), dtype=np.float64)
    br = _MsbBitReader(b, pos)
    dc = [0, 0, 0]
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            for dy in (0, 8):
                for dx in (0, 8):
                    block, dc[0] = _decode_block(
                        br, *tables[0], quants[0], dc[0], T
                    )
                    yp[my + dy : my + dy + 8, mx + dx : mx + dx + 8] = block
            cy, cx = my // 2, mx // 2
            block, dc[1] = _decode_block(br, *tables[1], quants[1], dc[1], T)
            cbp[cy : cy + 8, cx : cx + 8] = block
            block, dc[2] = _decode_block(br, *tables[2], quants[2], dc[2], T)
            crp[cy : cy + 8, cx : cx + 8] = block
    _check_scan_end(br, b)
    cb = np.repeat(np.repeat(cbp, 2, axis=0), 2, axis=1)
    cr = np.repeat(np.repeat(crp, 2, axis=0), 2, axis=1)
    rgb = _ycbcr_to_rgb(yp + 128.0, cb + 128.0, cr + 128.0)
    return rgb[:h, :w]
