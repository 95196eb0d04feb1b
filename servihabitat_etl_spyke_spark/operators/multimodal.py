"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(north-star extension).

The image path is REAL: a pure-Python/numpy BMP (24-bit BI_RGB) and PPM
(binary P6) codec — encode, header-only metadata sniff, full pixel decode,
and nearest-neighbor resize — so ``extract_media_meta`` and
``resize_images`` operate on genuine encoded bytes. Heavyweight codecs
(JPEG/audio/video via PIL/librosa/av — unavailable in this container) fall
back to ``media_decode_stub``, a clearly-marked deterministic fake kept so
unknown formats still flow through the plumbing.

Design for 100 TB of media:
- content stays an opaque ``binary`` column (parquet keeps it out of
  row-group stats; column pruning means metadata-only queries never read
  bytes);
- metadata extraction parses HEADERS only (``decode_*_meta`` reads a few
  dozen bytes, never the pixel array) — at scale, meta sweeps over blob
  tables cost header-bytes, not content-bytes;
- feature extraction is ``mapInPandas`` over Arrow batches — one Python
  worker per partition, zero driver involvement;
- frame/sample extraction yields MULTIPLE rows per input via the iterator
  contract (a flatMap, not a map).
"""

from __future__ import annotations

import hashlib
import re
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..catalog import spread
from .dedup import _banded_hamming_pairs, banded_pairs

#: metadata struct carried alongside every blob
MEDIA_META_SCHEMA = ("media_type string, n_bytes long, digest string, "
                     "width int, height int")


# ---------------------------------------------------------------------------
# Real image codecs: BMP (24-bit BI_RGB) and PPM (binary P6)
# ---------------------------------------------------------------------------

_BMP_HEADER_SIZE = 54          # 14-byte file header + 40-byte BITMAPINFOHEADER


def bmp_row_size(width: int) -> int:
    """Bytes per BMP pixel row: 3 bytes/px padded up to a 4-byte boundary."""
    return (3 * width + 3) // 4 * 4


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit uncompressed BMP
    (BI_RGB, bottom-up rows, 4-byte row padding — the classic Windows V3
    framing every viewer reads)."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"need (h, w, 3) RGB, got {pixels.shape}")
    row = bmp_row_size(w)
    padded = np.zeros((h, row), dtype=np.uint8)
    # RGB -> BGR, bottom-up
    padded[:, : 3 * w] = pixels[::-1, :, ::-1].reshape(h, 3 * w)
    body = padded.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + len(body), 0, 0,
        _BMP_HEADER_SIZE)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + body


def decode_bmp_meta(data: bytes) -> tuple[int, int]:
    """Header-only (width, height) — reads 26 bytes, never the pixels."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    w, h = struct.unpack_from("<ii", data, 18)
    return w, abs(h)            # negative height = top-down variant


def decode_bmp(data: bytes) -> np.ndarray:
    """Full decode to an (h, w, 3) uint8 RGB array. Supports the 24-bit
    BI_RGB subset this module writes (+ top-down row order)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    size, w, h_raw, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", data, 14)
    if size < 40 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={comp})")
    h = abs(h_raw)
    # zero/negative dims must fail HERE as ValueError (the containment
    # class every sweep catches) — a (0, w, 3) array would surface later
    # as IndexError/ZeroDivisionError in resize/hash/feature kernels,
    # outside the documented containment, killing a corpus-wide job
    if w <= 0 or h <= 0:
        raise ValueError(f"degenerate BMP geometry ({w}x{h})")
    row = bmp_row_size(w)
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=row * h, offset=offset).reshape(h, row)
    px = raw[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]        # BGR -> RGB
    if h_raw > 0:
        px = px[::-1]                                        # bottom-up
    return np.ascontiguousarray(px)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"need (h, w, 3) RGB, got {pixels.shape}")
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


_PPM_HEADER = re.compile(
    rb"^P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(?:#[^\n]*\n\s*)*(\d+)"
    rb"\s+(?:#[^\n]*\n\s*)*(\d+)\s")


def _ppm_parse(data: bytes) -> tuple[int, int, int, int]:
    m = _PPM_HEADER.match(data)
    if not m:
        raise ValueError("not a binary PPM (P6)")
    w, h, maxval = (int(m.group(i)) for i in (1, 2, 3))
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    return w, h, maxval, m.end()


def decode_ppm_meta(data: bytes) -> tuple[int, int]:
    """Header-only (width, height); comments in the header are handled.
    No prefix cap: the ^-anchored regex stops at the header anyway, and
    a 256-byte slice made files with long comment headers fail META
    decode while the full decode accepted them."""
    w, h, _, _ = _ppm_parse(data)
    return w, h


def decode_ppm(data: bytes) -> np.ndarray:
    w, h, _, start = _ppm_parse(data)
    # same degenerate-geometry rule as decode_bmp: fail as ValueError
    # inside the containment class, not as IndexError downstream
    if w <= 0 or h <= 0:
        raise ValueError(f"degenerate PPM geometry ({w}x{h})")
    return np.frombuffer(data, dtype=np.uint8, count=3 * w * h,
                         offset=start).reshape(h, w, 3).copy()


def decode_image(data: bytes) -> np.ndarray:
    """Sniff the magic and fully decode BMP or PPM to (h, w, 3) RGB."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    raise ValueError("unknown image format (supported: BMP, PPM)")


def media_decode_stub(content: bytes) -> dict:
    """FALLBACK STUB for formats without an in-container decoder
    (JPEG/PNG via PIL, audio via librosa, video via av). Produces a
    deterministic fake: dimensions derived from the byte length, digest
    from the bytes. ``media_decode`` routes known formats to the real
    codecs above and only lands here for everything else."""
    n = len(content)
    return {
        "n_bytes": n,
        "digest": hashlib.md5(content).hexdigest(),
        "width": n % 640 + 1,
        "height": n % 480 + 1,
    }


def media_decode(content: bytes) -> dict:
    """Metadata decode: REAL header parse for BMP/PPM (O(header) bytes,
    pixels untouched — the shape that scales to metadata sweeps over 100 TB
    of blobs), deterministic stub for unknown formats AND for
    known-magic blobs whose headers don't parse — a text blob that
    happens to start with 'BM' (or a truncated image) must not kill a
    corpus-wide metadata sweep (struct.error is not a ValueError, so a
    bare except ValueError missed it), and implausible parsed geometry
    falls back rather than emitting garbage dimensions."""
    content = bytes(content)
    try:
        if content[:2] == b"BM":
            w, h = decode_bmp_meta(content)
        elif content[:2] == b"P6":
            w, h = decode_ppm_meta(content)
        else:
            return media_decode_stub(content)
    except (ValueError, struct.error):
        return media_decode_stub(content)
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
        return media_decode_stub(content)
    return {
        "n_bytes": len(content),
        "digest": hashlib.md5(content).hexdigest(),
        "width": w,
        "height": h,
    }


def render_doc_bmp(doc_id: int, text: str) -> bytes:
    """Deterministic REAL image per document: dimensions derived from the
    doc (width = len(text) % 24 + 4, height = doc_id % 16 + 4 — arithmetic
    an external oracle can replicate), pixel bytes from the md5 keystream
    of the text. The result is a valid BMP any decoder opens."""
    w = len(text) % 24 + 4
    h = (doc_id % 16) + 4
    return encode_bmp(_keystream_px(text, w, h))


def attach_binary(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  codec: str = "bmp") -> DataFrame:
    """Build a blob table from the documents fixture. ``codec='bmp'``
    (default) renders a real BMP per document via :func:`render_doc_bmp`;
    ``codec='utf8'`` keeps the raw utf-8 bytes (opaque-blob shape for the
    byte-sampling operators). Real pipelines read media via
    ``spark.read.format('binaryFile')`` — this is the deterministic
    stand-in for that source."""
    # spread so each Arrow-batched Python worker gets a partition of blobs
    # (a single input file must not serialize the decode)
    docs = spread(docs, id_col)
    if codec == "utf8":
        return docs.select(
            F.col(id_col),
            F.encode(F.col(text_col), "utf-8").alias("content"),
            F.lit("application/octet-stream").alias("media_type"))
    if codec != "bmp":
        raise ValueError(f"unknown codec {codec!r}")

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "content": [render_doc_bmp(int(i), t)
                            for i, t in zip(pdf[id_col], pdf[text_col])],
                "media_type": "image/bmp",
            })

    return docs.select(id_col, text_col).mapInPandas(
        render, schema=f"{id_col} long, content binary, media_type string")


def extract_media_meta(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode over Arrow batches: one metadata row per blob. BMP/PPM blobs
    get REAL header-parsed dimensions; unknown formats take the documented
    stub fallback."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [media_decode(c) for c in pdf["content"]]
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "media_type": pdf["media_type"].to_numpy(),
                "n_bytes": [m["n_bytes"] for m in metas],
                "digest": [m["digest"] for m in metas],
                "width": [m["width"] for m in metas],
                "height": [m["height"] for m in metas],
            })

    return blobs.mapInPandas(
        decode, schema=f"{id_col} long, {MEDIA_META_SCHEMA}")


def sample_frames(blobs: DataFrame, every_n_bytes: int = 64,
                  max_frames: int = 8, id_col: str = "doc_id") -> DataFrame:
    """Frame/sample extraction: N output rows per input blob (video frame
    sampling / audio windowing shape). The stub 'frame' is the byte value at
    each sample offset; a real decoder yields image tensors per timestamp.

    Demonstrates the 1->N iterator contract of mapInPandas (flatMap)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, vals = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                for fi in range(min(max_frames, max(len(raw) // every_n_bytes, 0))):
                    off = fi * every_n_bytes
                    ids.append(did)
                    idxs.append(fi)
                    offs.append(off)
                    vals.append(raw[off])
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32"),
                                "byte_offset": pd.Series(offs, dtype="int64"),
                                "sample_value": pd.Series(vals, dtype="int32")})

    return blobs.mapInPandas(
        frames,
        schema=f"{id_col} long, frame_idx int, byte_offset long, sample_value int")


def resize_pixels(px: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample of an (h, w, 3) array (pixel-center
    sampling — src index = floor((i + 0.5) * src/dst), the standard
    convention, so identity resizes are exact)."""
    h, w, _ = px.shape
    rows = np.minimum(((np.arange(target_h) + 0.5) * h / target_h)
                      .astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(target_w) + 0.5) * w / target_w)
                      .astype(np.int64), w - 1)
    return px[rows][:, cols]


def resize_images(blobs: DataFrame, target_w: int = 224, target_h: int = 224,
                  id_col: str = "doc_id") -> DataFrame:
    """REAL resize step: decode (BMP/PPM) -> nearest-neighbor resample ->
    re-encode BMP, inside the mapInPandas contract (bytes in, bytes out,
    one row per undecodable-free row). Swapping nearest-neighbor for
    PIL's Lanczos when a real codec library is present changes only
    ``resize_pixels``.

    Malformed blobs (truncated 'BM' header, text masquerading as an
    image) are DROPPED, not stubbed — there is no meaningful resized
    payload for them, and one corrupt blob must not kill a corpus-wide
    sweep (the media_decode containment policy). Recover the skipped ids
    with an anti-join against the input."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, payloads = [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:
                    px = decode_image(bytes(content))
                except (ValueError, struct.error):
                    continue
                out_ids.append(did)
                payloads.append(encode_bmp(
                    resize_pixels(px, target_w, target_h)))
            n = len(out_ids)
            yield pd.DataFrame({id_col: pd.Series(out_ids, dtype="int64"),
                                "content": payloads,
                                # the blob-table contract (media_type
                                # column) survives the re-encode, same as
                                # audio_gain — output is BMP by definition
                                "media_type": ["image/bmp"] * n,
                                "width": pd.Series([target_w] * n,
                                                   dtype="int32"),
                                "height": pd.Series([target_h] * n,
                                                    dtype="int32")})

    return blobs.mapInPandas(
        resize, schema=f"{id_col} long, content binary, media_type string, "
                       "width int, height int")


def dhash_bits(px: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """Difference hash (dHash) of a decoded image: grayscale, resize to
    (hash_w+1) x hash_h with the codec's own pixel-center resampler, then
    one bit per cell — left pixel brighter than its right neighbor. The
    standard perceptual near-dup key: stable under resize and mild
    recompression, 64 bits by default, Hamming distance = visual
    distance."""
    if hash_w * hash_h > 64:
        raise ValueError(
            f"dhash_bits: {hash_w}x{hash_h} = {hash_w * hash_h} bits "
            "exceeds the 64-bit pack (numpy shifts wrap mod 64, which "
            "would silently alias bit positions)")
    gray = px.astype(np.int64).sum(axis=2)          # 3x luminance, monotone
    g = gray[:, :, None].repeat(3, axis=2)          # reuse the rgb resampler
    small = resize_pixels(g, hash_w + 1, hash_h)[:, :, 0]
    bits = (small[:, :-1] > small[:, 1:]).astype(np.uint64).reshape(-1)
    return int((bits << np.arange(bits.size, dtype=np.uint64)).sum())


def phash_bits(px: np.ndarray, size: int = 32, keep: int = 8) -> int:
    """DCT perceptual hash (pHash): grayscale, resize to size x size,
    2-D DCT-II (two numpy matmuls against the cosine basis — no scipy
    needed), keep the top-left ``keep x keep`` low-frequency block, one
    bit per coefficient — above the block's MEDIAN (DC excluded from the
    median so a flat offset can't flip every bit). Like dHash it is
    invariant to affine luminance changes (median thresholding); its
    EDGE over dHash is that only low-frequency structure enters the
    hash, so high-frequency perturbations — noise, sharpening,
    recompression artifacts, fine detail edits — that flip dHash's
    local gradient bits leave pHash's coefficients (and bits) alone."""
    gray = px.astype(np.float64).sum(axis=2)
    g = gray[:, :, None].repeat(3, axis=2)
    small = resize_pixels(g, size, size)[:, :, 0].astype(np.float64)
    n = size
    k = np.arange(n)
    basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    dct = basis @ small @ basis.T
    if keep * keep > 64:
        raise ValueError(
            f"phash_bits: keep={keep} packs {keep * keep} bits — over the "
            "64-bit pack (numpy shifts wrap mod 64, silently aliasing "
            "bit positions)")
    block = dct[:keep, :keep].reshape(-1)
    med = np.median(block[1:])                      # exclude DC
    bits = (block > med).astype(np.uint64)
    return int((bits << np.arange(bits.size, dtype=np.uint64)).sum())


def image_phash(blobs: DataFrame, size: int = 32, keep: int = 8,
                id_col: str = "doc_id") -> DataFrame:
    """DCT perceptual hashing over decoded pixels: (id, phash, width,
    height) — the low-frequency (noise/recompression-robust) complement
    of :func:`image_dhash`; near-dup via the SAME banded Hamming join
    (:func:`dhash_neardup` with hash_col='phash'). Pure map stage.

    Malformed blobs are DROPPED (no row), never stub-hashed: a shared
    fallback hash would alias every corrupt blob into one false
    perceptual-dup cluster, and an uncaught struct.error would kill the
    corpus-wide job (media_decode's containment policy)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ws, hts = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:
                    px = decode_image(bytes(content))
                except (ValueError, struct.error):
                    continue
                ids.append(did)
                hs.append(phash_bits(px, size, keep))
                hts.append(px.shape[0])
                ws.append(px.shape[1])
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "phash": pd.Series(hs, dtype="uint64")
                                .astype("int64"),
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hts, dtype="int32")})

    return blobs.mapInPandas(
        hashes, schema=f"{id_col} long, phash long, width int, height int")


def image_dhash(blobs: DataFrame, hash_w: int = 8, hash_h: int = 8,
                id_col: str = "doc_id") -> DataFrame:
    """Perceptual image hashing over decoded pixels (dHash, 64-bit):
    (id, dhash, width, height). Exact-dup via groupBy on the hash;
    near-dup via Hamming distance (``bit_count(a ^ b)`` — a JVM built-in)
    on LSH-banded hash prefixes, the same banding machinery as MinHash.
    Pure map stage over the blob scan.

    Malformed blobs are DROPPED (no row), never stub-hashed: a shared
    fallback hash would alias every corrupt blob into one false
    perceptual-dup cluster, and an uncaught struct.error would kill the
    corpus-wide job (media_decode's containment policy)."""

    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs, ws, hts = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:
                    px = decode_image(bytes(content))
                except (ValueError, struct.error):
                    continue
                ids.append(did)
                hs.append(dhash_bits(px, hash_w, hash_h))
                hts.append(px.shape[0])
                ws.append(px.shape[1])
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "dhash": pd.Series(hs, dtype="uint64")
                                .astype("int64"),
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hts, dtype="int32")})

    return blobs.mapInPandas(
        hashes, schema=f"{id_col} long, dhash long, width int, height int")


def dhash_neardup(hashes: DataFrame, max_hamming: int = 6,
                  bands: int = 8, id_col: str = "doc_id",
                  hash_col: str = "dhash") -> DataFrame:
    """Visual near-dup pairs from dHash values: band the 64 bits into
    ``bands`` contiguous (64/bands)-bit keys (two images within Hamming
    distance ``max_hamming`` < bands must agree EXACTLY on at least one
    band — pigeonhole), candidate-join per band, then verify
    ``bit_count(a XOR b) <= max_hamming``. The same bucket-join-then-
    verify shape as MinHash-LSH, entirely in JVM integer expressions —
    no all-pairs compare, no Python in the hot path.

    The pigeonhole recall guarantee is EXACT only when
    ``max_hamming < bands`` — a pair differing in >= bands bits can
    spread one flipped bit into every band and never collide.  Enforced
    here rather than silently degrading to approximate recall."""
    return _banded_hamming_pairs(hashes, hash_col, max_hamming, bands,
                                 id_col, op="dhash_neardup")


def image_feature_vector(px: np.ndarray, dim: int = 16) -> list[float]:
    """REAL hand-crafted image descriptor from decoded pixels (the
    classical pre-CNN shape — color moments + gradient energy + a coarse
    luminance histogram), scaled to [-1, 1]:

    idx 0-2   per-channel means / 127.5 - 1
    idx 3-5   per-channel stds / 127.5 - 1
    idx 6     horizontal gradient energy (mean |dx| / 127.5 - 1)
    idx 7     vertical gradient energy (mean |dy| / 127.5 - 1)
    idx 8+    8-bin luminance histogram fractions * 2 - 1

    A learned encoder drops in by replacing this function only; the Spark
    plumbing (Arrow batches, array<float> schema, ANN compatibility) is
    identical."""
    f = px.astype(np.float64)
    lum = f.mean(axis=2)
    feats = [
        *(f[:, :, c].mean() / 127.5 - 1.0 for c in range(3)),
        *(f[:, :, c].std() / 127.5 - 1.0 for c in range(3)),
        (np.abs(np.diff(lum, axis=1)).mean() / 127.5 - 1.0
         if px.shape[1] > 1 else -1.0),
        (np.abs(np.diff(lum, axis=0)).mean() / 127.5 - 1.0
         if px.shape[0] > 1 else -1.0),
    ]
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
    feats.extend(hist / lum.size * 2.0 - 1.0)
    feats = feats[:dim]
    feats.extend(0.0 for _ in range(dim - len(feats)))
    return [float(v) for v in feats]


def hash_feature_vector(raw: bytes, dim: int = 16) -> list[float]:
    """Deterministic md5-keystream pseudo-features in [-1, 1) — the
    fallback for blobs no in-container codec can decode."""
    vals: list[float] = []
    counter = 0
    while len(vals) < dim:
        h = hashlib.md5(raw + counter.to_bytes(4, "big")).digest()
        vals.extend(b / 128.0 - 1.0 for b in h)
        counter += 1
    return [float(v) for v in vals[:dim]]


def extract_features(blobs: DataFrame, dim: int = 16,
                     id_col: str = "doc_id") -> DataFrame:
    """Feature extraction (embedding shape): content -> array<float>,
    schema-compatible with the `embeddings` table so the similarity
    operators (cosine_topk, ann_*) consume it directly. BMP/PPM blobs get
    the REAL pixel-statistics descriptor (:func:`image_feature_vector` on
    the decoded array); unknown formats fall back to the labeled
    hash-keystream stub."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                try:
                    vec = image_feature_vector(decode_image(raw), dim)
                except (ValueError, struct.error):
                    # struct.error is NOT a ValueError: truncated
                    # 'BM'-prefixed blobs must land in the documented
                    # fallback, not kill the task
                    vec = hash_feature_vector(raw, dim)
                ids.append(did)
                vecs.append(vec)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "embedding": vecs})

    return blobs.mapInPandas(feats, schema=f"{id_col} long, embedding array<float>")


# ---------------------------------------------------------------------------
# Real audio codec: PCM WAV (RIFF little-endian, 16-bit)
# ---------------------------------------------------------------------------

_WAV_HEADER_SIZE = 44          # RIFF(12) + fmt(24) + data chunk header(8)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode an (n_frames, channels) int16 array as canonical PCM WAV
    (RIFF/WAVE, fmt chunk 16 bytes, audio_format=1, interleaved frames)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.dtype != np.int16:
        raise ValueError(f"need int16 samples, got {samples.dtype}")
    n_frames, channels = samples.shape
    block_align = channels * 2
    body = samples.astype("<i2").tobytes()
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + len(body), b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
                      sample_rate * block_align, block_align, 16)
        + struct.pack("<4sI", b"data", len(body))
        + body)


def decode_wav_meta(data: bytes) -> dict:
    """Header-only audio metadata: walks the RIFF chunk list (handling
    non-canonical extra chunks) and reads the ``fmt `` fields plus the
    ``data`` chunk SIZE — sample payload bytes are never touched, so a
    metadata sweep over 100 TB of audio costs only header reads."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(data) and (fmt is None or data_size is None):
        cid, size = struct.unpack_from("<4sI", data, pos)
        if cid == b"fmt ":
            audio_format, channels, sample_rate, _br, block_align, bits = \
                struct.unpack_from("<HHIIHH", data, pos + 8)
            if audio_format != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (format={audio_format}, bits={bits})")
            fmt = (channels, sample_rate, block_align)
        elif cid == b"data":
            data_size = size
        pos += 8 + size + (size & 1)          # chunks pad to even offsets
    if fmt is None or data_size is None:
        raise ValueError("truncated WAV: missing fmt/data chunk")
    channels, sample_rate, block_align = fmt
    # header-derived divisors must be validated before use: a corrupt
    # fmt chunk with block_align=0 or sample_rate=0 would raise
    # ZeroDivisionError, which escapes the (ValueError, struct.error)
    # containment every sweep applies
    if block_align <= 0 or sample_rate <= 0 or channels <= 0:
        raise ValueError(
            f"degenerate WAV fmt (channels={channels}, "
            f"rate={sample_rate}, block_align={block_align})")
    n_frames = data_size // block_align
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "n_frames": n_frames,
        "duration_us": n_frames * 1_000_000 // sample_rate,
    }


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Full decode to ((n_frames, channels) int16 array, sample_rate)."""
    meta = decode_wav_meta(data)
    pos = 12
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        if cid == b"data":
            raw = np.frombuffer(data, dtype="<i2",
                                count=meta["n_frames"] * meta["channels"],
                                offset=pos + 8)
            return (raw.reshape(meta["n_frames"], meta["channels"]).copy(),
                    meta["sample_rate"])
        pos += 8 + size + (size & 1)
    raise ValueError("truncated WAV: missing data chunk")


def render_doc_wav(doc_id: int, text: str) -> bytes:
    """Deterministic REAL audio per document. Geometry an external oracle
    replicates analytically:

    - n_frames   = strlen(text) % 480 + 32
    - channels   = doc_id % 2 + 1
    - sample_rate = 8000 * (doc_id % 3 + 1)

    Interleaved sample stream: s[i] = ((doc_id+1)*2654435761 + i*40503)
    % 65536 - 32768 — pure 64-bit integer arithmetic (Knuth hash constant
    + odd stride), so DuckDB can regenerate the exact waveform with
    ``list_transform(range(n), ...)`` and verify features computed from the
    DECODED bytes. The result is a valid WAV any player opens."""
    n_frames = len(text) % 480 + 32
    channels = doc_id % 2 + 1
    sample_rate = 8000 * (doc_id % 3 + 1)
    i = np.arange(n_frames * channels, dtype=np.int64)
    # reduce the keystream base mod 65536 in arbitrary-precision Python
    # BEFORE it meets the int64 array: for doc_id >= ~3.47e9 the raw
    # product exceeds 2**63-1 and NumPy 2.x raises OverflowError on
    # coercion ((a + b) % m == (a % m + b) % m, so the documented
    # formula — and the DuckDB HUGEINT oracle — is unchanged)
    # int() first: callers pass numpy int64 scalars, whose * would wrap
    base = ((int(doc_id) + 1) * 2654435761) % 65536
    stream = (base + i * 40503) % 65536 - 32768
    return encode_wav(stream.astype(np.int16).reshape(n_frames, channels),
                      sample_rate)


def attach_audio(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Audio-blob table from the documents fixture (deterministic stand-in
    for ``spark.read.format('binaryFile')`` over a media lake)."""
    docs = spread(docs, id_col)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "content": [render_doc_wav(int(i), t)
                            for i, t in zip(pdf[id_col], pdf[text_col])],
                "media_type": "audio/wav",
            })

    return docs.select(id_col, text_col).mapInPandas(
        render, schema=f"{id_col} long, content binary, media_type string")


def extract_audio_meta(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL header parse per audio blob (``decode_wav_meta`` — fmt + data
    chunk sizes only, payload untouched)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (id_col, "n_bytes", "channels",
                                    "sample_rate", "n_frames",
                                    "duration_us")}
            for did, c in zip(pdf[id_col], pdf["content"]):
                raw = bytes(c)
                try:                 # corrupt blobs drop, never fatal
                    m = decode_wav_meta(raw)
                except (ValueError, struct.error):
                    continue
                rows[id_col].append(did)
                rows["n_bytes"].append(len(raw))
                rows["channels"].append(m["channels"])
                rows["sample_rate"].append(m["sample_rate"])
                rows["n_frames"].append(m["n_frames"])
                rows["duration_us"].append(m["duration_us"])
            yield pd.DataFrame({
                id_col: pd.Series(rows[id_col], dtype="int64"),
                "n_bytes": pd.Series(rows["n_bytes"], dtype="int64"),
                "channels": pd.Series(rows["channels"], dtype="int32"),
                "sample_rate": pd.Series(rows["sample_rate"], dtype="int32"),
                "n_frames": pd.Series(rows["n_frames"], dtype="int64"),
                "duration_us": pd.Series(rows["duration_us"], dtype="int64"),
            })

    return blobs.mapInPandas(
        decode, schema=(f"{id_col} long, n_bytes long, channels int, "
                        "sample_rate int, n_frames long, duration_us long"))


def audio_features(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Signal features from FULLY DECODED samples: peak amplitude, integer
    sum of squares (exact), RMS (one int/int division + sqrt — identical
    IEEE result in any engine), zero-crossing count over the interleaved
    stream. Arrow-batched; one Python worker per partition."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    (id_col, "n_samples", "peak", "sum_sq", "rms",
                     "zero_crossings")}
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:                 # corrupt blobs drop, never fatal
                    samples, _sr = decode_wav(bytes(content))
                except (ValueError, struct.error):
                    continue
                s = samples.reshape(-1).astype(np.int64)
                sum_sq = int((s * s).sum())
                n = len(s)
                nonzero = s[s != 0]           # sign() of 0 crosses nothing
                zc = int((np.sign(nonzero[1:]) !=
                          np.sign(nonzero[:-1])).sum()) if len(nonzero) else 0
                rows[id_col].append(did)
                rows["n_samples"].append(n)
                rows["peak"].append(int(np.abs(s).max()) if n else 0)
                rows["sum_sq"].append(sum_sq)
                rows["rms"].append(float(np.sqrt(sum_sq / n)) if n else 0.0)
                rows["zero_crossings"].append(zc)
            yield pd.DataFrame(rows)

    return blobs.mapInPandas(
        feats, schema=(f"{id_col} long, n_samples long, peak int, "
                       "sum_sq long, rms double, zero_crossings long"))


def sample_audio_windows(blobs: DataFrame, win: int = 64, hop: int = 32,
                         id_col: str = "doc_id") -> DataFrame:
    """Windowed frame extraction (the audio twin of video frame sampling):
    1 -> N rows per blob, one per hop-strided window of decoded frames,
    with per-window RMS over channel 0. flatMap shape via the mapInPandas
    iterator contract."""

    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, starts, rmss = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:                 # corrupt blobs drop, never fatal
                    samples, _sr = decode_wav(bytes(content))
                except (ValueError, struct.error):
                    continue
                ch0 = samples[:, 0].astype(np.int64)
                for wi in range((len(ch0) - win) // hop + 1 if
                                len(ch0) >= win else 0):
                    seg = ch0[wi * hop: wi * hop + win]
                    ids.append(did)
                    idxs.append(wi)
                    starts.append(wi * hop)
                    rmss.append(float(np.sqrt((seg * seg).sum() / win)))
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "window_idx": pd.Series(idxs, dtype="int32"),
                                "start_frame": pd.Series(starts, dtype="int64"),
                                "rms": pd.Series(rmss, dtype="float64")})

    return blobs.mapInPandas(
        windows, schema=(f"{id_col} long, window_idx int, start_frame long, "
                         "rms double"))


def _fp_bit_matrix(ch0: np.ndarray, win: int, hop: int,
                   bands: int) -> np.ndarray:
    """Haitsma-Kalker bit matrix for one channel-0 sample array: one row
    of ``bands - 1`` delta-sign bits per frame transition (shape
    (n_frames - 1, bands - 1); empty if under two frames). Shared by the
    digest fingerprint and the word-level near-dup index so both see
    bit-identical frames."""
    n_frames = (len(ch0) - win) // hop + 1 if len(ch0) >= win else 0
    if n_frames < 2:
        return np.empty((0, bands - 1), dtype=np.uint8)
    # one batched rfft over all frames (identical per-row results to a
    # frame-at-a-time transform; ~20x less Python/FFT-setup overhead)
    idx = np.arange(win) + hop * np.arange(n_frames)[:, None]
    mag = np.abs(np.fft.rfft(ch0[idx], axis=1))
    power = mag ** 2
    bounds = np.linspace(1, mag.shape[1], bands + 1).astype(int)
    seg_len = bounds[1:] - bounds[:-1]
    # reduceat sums each band's few bins sequentially — the same order
    # (and therefore the same float result) as the per-band slice sums
    # for segments under numpy's 8-element pairwise-summation block
    starts = np.minimum(bounds[:-1], mag.shape[1] - 1)
    e = np.add.reduceat(power, starts, axis=1)
    e[:, seg_len == 0] = 0.0
    d = (e[1:, :-1] - e[1:, 1:]) - (e[:-1, :-1] - e[:-1, 1:])
    return (d > 0).astype(np.uint8)


def audio_fingerprint(blobs: DataFrame, win: int = 64, hop: int = 32,
                      bands: int = 9,
                      id_col: str = "doc_id") -> DataFrame:
    """Acoustic fingerprints (Haitsma-Kalker 2002 shape): per hop-strided
    window, an rfft magnitude spectrum is folded into ``bands`` energy
    bands, and each frame emits bands-1 bits — bit b set iff the
    band-energy DELTA (across adjacent bands AND adjacent frames)

        (E[b,t] - E[b+1,t]) - (E[b,t-1] - E[b+1,t-1]) > 0

    — the sign pattern that survives volume changes and mild noise, which
    is what makes it a dedup key for re-encoded audio. Output per blob:
    frame count, the packed bit-matrix digest (the join key for exact
    fingerprint dedup), and the first frame's bits (a debuggable probe).

    Real DSP (numpy rfft over fully decoded samples), Arrow-batched; at
    100 TB this is a pure map stage and the digests feed the standard
    hash-groupBy dedup."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nfr, digs, firsts = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:                 # corrupt blobs drop, never fatal
                    samples, _sr = decode_wav(bytes(content))
                except (ValueError, struct.error):
                    continue
                ch0 = samples[:, 0].astype(np.float64)
                mat = _fp_bit_matrix(ch0, win, hop, bands)
                ids.append(did)
                nfr.append(len(mat))
                if len(mat):
                    digs.append(hashlib.md5(
                        np.packbits(mat).tobytes()).hexdigest())
                    firsts.append(int(
                        (mat[0] * (1 << np.arange(bands - 1))).sum()))
                else:
                    digs.append(None)
                    firsts.append(None)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "n_fp_frames": pd.Series(nfr, dtype="int64"),
                "fp_digest": digs,
                "fp_first": pd.Series(firsts, dtype="object"),
            })

    return blobs.mapInPandas(
        fp, schema=(f"{id_col} long, n_fp_frames long, fp_digest string, "
                    "fp_first long"))


def audio_gain(blobs: DataFrame, factor: float,
               id_col: str = "doc_id") -> DataFrame:
    """Gain adjustment: decode, scale the int16 samples (clipped), and
    re-encode — the transform that makes 're-encoded at a different
    volume' test material, and a real normalization stage in its own
    right. Pure map, Arrow-batched."""

    def scale(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out, mts = [], [], []
            for did, content, mt in zip(pdf[id_col], pdf["content"],
                                        pdf["media_type"]):
                try:                 # corrupt blobs drop, never fatal
                    samples, sr = decode_wav(bytes(content))
                except (ValueError, struct.error):
                    continue
                scaled = np.clip(samples.astype(np.float64) * factor,
                                 -32768, 32767).astype(np.int16)
                ids.append(did)
                out.append(encode_wav(scaled, sr))
                mts.append(mt)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "content": out,
                "media_type": mts,
            })

    return blobs.mapInPandas(
        scale, schema=f"{id_col} long, content binary, media_type string")


def audio_fp_words(blobs: DataFrame, win: int = 64, hop: int = 32,
                   bands: int = 9, word_frames: int = 4,
                   id_col: str = "doc_id") -> DataFrame:
    """Word-level fingerprint index: every OVERLAPPING run of
    ``word_frames`` consecutive fingerprint frames packs its
    (bands-1)-bit rows into one integer word — the Haitsma-Kalker
    sub-fingerprint block, emitted per position but keyed by VALUE.
    Because the join key is the word value, matching is alignment-free:
    a copy offset by any multiple of ``hop`` still produces identical
    words from the shared region. Distinct (id, word) rows out; pure map
    stage."""

    # argument guard on the DRIVER, like dhash_neardup's: raised inside
    # the generator it would only surface as a wrapped task failure
    # after the job launched
    nbits = (bands - 1) * word_frames
    if nbits > 62:
        raise ValueError(f"audio_fp_words: word too wide: {nbits} bits "
                         f"(bands={bands}, word_frames={word_frames}); "
                         "int64 packing caps at 62")

    def words(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(nbits, dtype=np.int64)
        for pdf in batches:
            ids, ws = [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                try:                 # corrupt blobs drop, never fatal
                    samples, _sr = decode_wav(bytes(content))
                except (ValueError, struct.error):
                    continue
                mat = _fp_bit_matrix(samples[:, 0].astype(np.float64),
                                     win, hop, bands)
                n_words = len(mat) - word_frames + 1
                if n_words <= 0:
                    continue
                # all overlapping word windows packed in one shot: rows
                # t..t+wf-1 flattened against the bit weights
                sw = np.lib.stride_tricks.sliding_window_view(
                    mat, (word_frames, bands - 1))
                seen = np.unique(
                    sw.reshape(n_words, nbits).astype(np.int64) @ weights)
                ids.extend([did] * len(seen))
                ws.extend(seen.tolist())
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "word": pd.Series(ws, dtype="int64")})

    return blobs.mapInPandas(words, schema=f"{id_col} long, word long")


def audio_fp_neardup(blobs: DataFrame, min_shared: int = 3,
                     win: int = 64, hop: int = 32, bands: int = 9,
                     word_frames: int = 4,
                     id_col: str = "doc_id") -> DataFrame:
    """Audio NEAR-dup pairs via the word-level fingerprint inverted
    index — the acoustic counterpart of `dhash_neardup` (image) and
    `video_dhash_neardup`: blobs sharing >= ``min_shared`` distinct
    sub-fingerprint words are near-duplicates. Catches re-encoded
    (volume-changed: the delta-sign bits are gain-invariant) and
    hop-aligned clipped copies that the exact `fp_digest` groupBy misses.
    Inverted-index equi-join on word value — candidate pairs bounded by
    word co-occurrence, never all-pairs."""
    # materialize the word index ONCE before mirroring it: the
    # self-join's two branches are separate subplans, so the decode +
    # rfft fingerprint mapInPandas — by far the dominant cost — would
    # otherwise execute twice (and a third time when a downstream
    # connected-components pass re-reads the pairs). Same discipline as
    # prefix_filter_pairs' prefix index.
    w = (audio_fp_words(blobs, win, hop, bands, word_frames, id_col)
         .localCheckpoint())
    return (banded_pairs(w, ("word",), id_col)
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared_words"))
            .filter(F.col("n_shared_words") >= min_shared))


# ---------------------------------------------------------------------------
# Real video container: BMV (indexed sequence of BMP frames)
# ---------------------------------------------------------------------------

#: magic(4) + n_frames(4) + fps(4), then n_frames x u64 absolute offsets
_BMV_MAGIC = b"BMV1"


def encode_bmv(frames: list[bytes], fps: int) -> bytes:
    """Encode a frame sequence as a BMV container: magic, frame count,
    fps, an absolute-offset index, then the BMP payloads back to back.
    (A deliberately simple but REAL container — random access to frame i
    is one index lookup, exactly the property frame-sampling needs.)"""
    header_size = 12 + 8 * len(frames)
    offsets, pos = [], header_size
    for f in frames:
        offsets.append(pos)
        pos += len(f)
    return (struct.pack("<4sII", _BMV_MAGIC, len(frames), fps)
            + struct.pack(f"<{len(frames)}Q", *offsets)
            + b"".join(frames))


def decode_bmv_meta(data: bytes) -> dict:
    """Header-only video metadata: container index + the FIRST frame's BMP
    header (26 bytes at its offset) — never the pixel payloads."""
    magic, n_frames, fps = struct.unpack_from("<4sII", data, 0)
    if magic != _BMV_MAGIC:
        raise ValueError("not a BMV container")
    offsets = struct.unpack_from(f"<{n_frames}Q", data, 12)
    w, h = decode_bmp_meta(data[offsets[0]:offsets[0] + 64]) if n_frames \
        else (0, 0)
    return {"n_frames": n_frames, "fps": fps, "width": w, "height": h}


def _bmv_index(data: bytes) -> tuple:
    """Parse the container index ONCE: (n_frames, offsets tuple)."""
    magic, n_frames, _fps = struct.unpack_from("<4sII", data, 0)
    if magic != _BMV_MAGIC:
        raise ValueError("not a BMV container")
    return n_frames, struct.unpack_from(f"<{n_frames}Q", data, 12)


def decode_bmv_frame(data: bytes, i: int) -> np.ndarray:
    """Random-access decode of frame i to an (h, w, 3) RGB array.
    For SEQUENTIAL full decodes use :func:`decode_bmv_frames` — calling
    this per frame re-unpacks the whole offset index every time
    (O(n_frames^2) over a video)."""
    n_frames, offsets = _bmv_index(data)
    if not 0 <= i < n_frames:
        raise IndexError(f"frame {i} of {n_frames}")
    end = offsets[i + 1] if i + 1 < n_frames else len(data)
    return decode_bmp(data[offsets[i]:end])


def decode_bmv_frames(data: bytes):
    """Linear sequential decode: yields (frame_idx, (h, w, 3) array) with
    the offset index parsed ONCE — the iterator the per-frame loops in
    scene detection / keyframe hashing use so a long video costs
    O(frames), not O(frames^2) index unpacks."""
    n_frames, offsets = _bmv_index(data)
    for i in range(n_frames):
        end = offsets[i + 1] if i + 1 < n_frames else len(data)
        yield i, decode_bmp(data[offsets[i]:end])


def _keystream_px(seed_text: str, w: int, h: int) -> np.ndarray:
    need = h * w * 3
    seed = hashlib.md5(seed_text.encode("utf-8")).digest()
    reps = need // len(seed) + 1
    return np.frombuffer((seed * reps)[:need],
                         dtype=np.uint8).reshape(h, w, 3)


def render_doc_bmv(doc_id: int, text: str) -> bytes:
    """Deterministic REAL video per document: n_frames = doc_id % 4 + 2,
    fps = doc_id % 3 + 5, every frame a valid BMP with the same geometry
    as :func:`render_doc_bmp` (w = len(text) % 24 + 4, h = doc_id % 16
    + 4); frame i's pixels come from the md5 keystream of ``text#i``."""
    n_frames = doc_id % 4 + 2
    fps = doc_id % 3 + 5
    w = len(text) % 24 + 4
    h = (doc_id % 16) + 4
    frames = [encode_bmp(_keystream_px(f"{text}#{i}", w, h))
              for i in range(n_frames)]
    return encode_bmv(frames, fps)


def attach_video(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Video-blob table from the documents fixture."""
    docs = spread(docs, id_col)

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "content": [render_doc_bmv(int(i), t)
                            for i, t in zip(pdf[id_col], pdf[text_col])],
                "media_type": "video/x-bmv",
            })

    return docs.select(id_col, text_col).mapInPandas(
        render, schema=f"{id_col} long, content binary, media_type string")


def extract_video_meta(blobs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL header parse per video blob (container index + first-frame BMP
    header; payload untouched)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (id_col, "n_bytes", "n_frames",
                                    "fps", "width", "height")}
            for did, c in zip(pdf[id_col], pdf["content"]):
                raw = bytes(c)
                try:                 # corrupt blobs drop, never fatal
                    m = decode_bmv_meta(raw)
                except (ValueError, struct.error):
                    continue
                rows[id_col].append(did)
                rows["n_bytes"].append(len(raw))
                rows["n_frames"].append(m["n_frames"])
                rows["fps"].append(m["fps"])
                rows["width"].append(m["width"])
                rows["height"].append(m["height"])
            yield pd.DataFrame({
                id_col: pd.Series(rows[id_col], dtype="int64"),
                "n_bytes": pd.Series(rows["n_bytes"], dtype="int64"),
                "n_frames": pd.Series(rows["n_frames"], dtype="int32"),
                "fps": pd.Series(rows["fps"], dtype="int32"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
            })

    return blobs.mapInPandas(
        decode, schema=(f"{id_col} long, n_bytes long, n_frames int, "
                        "fps int, width int, height int"))


def sample_video_frames(blobs: DataFrame, every_n: int = 1,
                        max_frames: int = 8,
                        id_col: str = "doc_id") -> DataFrame:
    """REAL frame sampling: random-access every_n-th frame via the
    container index, FULL BMP decode per sampled frame, one output row
    per frame with its timestamp and decoded stats (1 -> N flatMap)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (id_col, "frame_idx", "t_millis",
                                    "width", "height", "mean_lum_milli")}
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                # per-blob buffer: a blob that fails mid-decode emits
                # NOTHING (no partial frame rows), and a corrupt blob
                # drops instead of killing the sweep
                local = {k: [] for k in rows}
                try:
                    meta = decode_bmv_meta(raw)
                    if meta["fps"] <= 0:
                        raise ValueError("degenerate BMV fps 0")
                    picks = range(0, meta["n_frames"], every_n)
                    for fi in list(picks)[:max_frames]:
                        px = decode_bmv_frame(raw, fi)
                        local[id_col].append(did)
                        local["frame_idx"].append(fi)
                        local["t_millis"].append(fi * 1000 // meta["fps"])
                        local["width"].append(px.shape[1])
                        local["height"].append(px.shape[0])
                        # integer luminance: engine-exact (int sum // size)
                        local["mean_lum_milli"].append(
                            int(px.astype(np.int64).sum()) * 1000
                            // (px.size))
                except (ValueError, struct.error, IndexError):
                    continue
                for k in rows:
                    rows[k].extend(local[k])
            yield pd.DataFrame({
                id_col: pd.Series(rows[id_col], dtype="int64"),
                "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                "t_millis": pd.Series(rows["t_millis"], dtype="int64"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "mean_lum_milli": pd.Series(rows["mean_lum_milli"],
                                            dtype="int64"),
            })

    return blobs.mapInPandas(
        frames, schema=(f"{id_col} long, frame_idx int, t_millis long, "
                        "width int, height int, mean_lum_milli long"))


def detect_scene_changes(blobs: DataFrame, threshold_milli: int = 30000,
                         id_col: str = "doc_id") -> DataFrame:
    """Scene-cut detection over decoded video: every frame's exact
    integer mean luminance (milli-units), one row per consecutive-frame
    transition with the delta and a cut flag where |delta| >=
    ``threshold_milli`` — the shot-boundary primitive a video curation
    pipeline runs before per-shot sampling (keep one keyframe per shot,
    drop static spans).

    Sequential full decode per blob (cuts need every transition, unlike
    strided sampling); integer arithmetic end to end, so an analytic
    oracle can replay every delta. Pure map stage — blobs never
    shuffle."""

    def scenes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fis, deltas, cuts = [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                prev = None
                # per-blob buffer: mid-stream decode failure emits no
                # partial transitions; corrupt blobs drop, never fatal
                lf, ld, lc = [], [], []
                try:
                    for fi, px in decode_bmv_frames(raw):
                        mean = (int(px.astype(np.int64).sum()) * 1000
                                // px.size)
                        if prev is not None:
                            d = mean - prev
                            lf.append(fi)
                            ld.append(d)
                            lc.append(abs(d) >= threshold_milli)
                        prev = mean
                except (ValueError, struct.error):
                    continue
                ids.extend([did] * len(lf))
                fis.extend(lf)
                deltas.extend(ld)
                cuts.extend(lc)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fis, dtype="int32"),
                "delta_milli": pd.Series(deltas, dtype="int64"),
                "is_cut": pd.Series(cuts, dtype="bool"),
            })

    return blobs.mapInPandas(
        scenes, schema=(f"{id_col} long, frame_idx int, delta_milli long, "
                        "is_cut boolean"))


def video_keyframe_dhash(blobs: DataFrame, threshold_milli: int = 30000,
                         id_col: str = "doc_id") -> DataFrame:
    """Keyframe extraction + perceptual hashing in ONE decode pass: per
    video, sequential frame decode, scene-cut detection on exact integer
    mean-luminance deltas (same rule as :func:`detect_scene_changes`),
    and a dHash for every KEYFRAME — frame 0 plus the first frame of
    each new shot (|delta| >= threshold). Output: (id, frame_idx, dhash).

    The video-dedup front half: re-encoded / re-containered copies of
    the same footage produce the same shot structure and near-identical
    keyframe hashes, so near-dup detection reduces to the banded-Hamming
    join over this table (:func:`video_dhash_neardup`). Pure map stage —
    blobs never shuffle, one decode per frame feeding BOTH the cut
    detector and the hash."""

    def kf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fis, hs = [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                prev = None
                # per-blob buffer: mid-stream decode failure emits no
                # partial keyframes; corrupt blobs drop, never fatal
                lf, lh = [], []
                try:
                    for fi, px in decode_bmv_frames(raw):
                        mean = (int(px.astype(np.int64).sum()) * 1000
                                // px.size)
                        is_key = prev is None or abs(mean - prev) >= \
                            threshold_milli
                        if is_key:
                            lf.append(fi)
                            lh.append(dhash_bits(px))
                        prev = mean
                except (ValueError, struct.error):
                    continue
                ids.extend([did] * len(lf))
                fis.extend(lf)
                hs.extend(lh)
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(fis, dtype="int32"),
                "dhash": pd.Series(hs, dtype="uint64").astype("int64"),
            })

    return blobs.mapInPandas(
        kf, schema=f"{id_col} long, frame_idx int, dhash long")


def video_dhash_neardup(keyframes: DataFrame, max_hamming: int = 3,
                        bands: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """Video near-dup pairs from keyframe dHashes: LSH-band each hash
    into ``bands`` contiguous keys (pigeonhole-exact for ``max_hamming <
    bands``, enforced), candidate keyframe pairs from the band equi-join
    restricted to DIFFERENT videos, Hamming verify, then per video pair
    the best (minimum) keyframe distance and the number of matching
    keyframe pairs. Output: (id_a, id_b, best_hamming, n_matching_pairs).

    Same bucket-join-then-verify shape as :func:`dhash_neardup` — shared
    via ``dedup._banded_hamming_pairs`` (frame_idx carried through the
    band join); the extra per-pair aggregation is a tiny groupBy over
    verified pairs only."""
    pairs = _banded_hamming_pairs(keyframes, "dhash", max_hamming, bands,
                                  id_col, op="video_dhash_neardup",
                                  extra_col="frame_idx")
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.min("hamming").alias("best_hamming"),
                 F.count("*").alias("n_matching_pairs")))
