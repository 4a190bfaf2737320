"""Multimodal column plumbing: opaque binary payloads + typed
metadata, processed with Arrow-batched `mapInPandas`.

North-star operators for a training-data pipeline: image / audio /
video travel as `binary` columns with a modality tag; decode,
feature-extract, and frame-sample run as vectorized Python over
Arrow batches (the only layer where Python is acceptable — columnar
transfer, no per-row pickling). `decode_real` is a real,
dependency-free decoder for the uncompressed containers a codec-less
container can handle (24bpp BMP, binary netpbm P5/P6, RIFF/WAVE
16-bit PCM); compressed formats (JPEG/PNG/MP3/video) raise
ValueError at the same seam where PIL / soundfile / pyav slot in for
a full deployment.
`extract_features` / `sample_frames` keep their deterministic
payload-derived fakes — the driver fixtures are text corpora, not
media — while `decode_images` runs the real decoder end-to-end over
Arrow batches.

Scale notes: both operators are narrow (no shuffle) — they stream
Arrow batches through Python workers partition-by-partition, so
throughput scales with executors × `spark.sql.execution.arrow
.maxRecordsPerBatch`. Payload bytes never hit the driver.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pandas only inside workers at runtime
    import pandas as pd

MODALITIES = ("image", "audio", "video")

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("modality", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("n_frames", T.LongType(), True),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("frame_idx", T.LongType(), True),
    T.StructField("frame_digest", T.StringType(), True),
])

_FRAME_CHARS = 256  # fake frame = 256-char slice of the payload
_FRAME_STRIDE = 10  # keep every 10th frame


def _bmp_pixels(b: bytes) -> tuple[int, int, int, bytes]:
    """Parse an uncompressed 24bpp BMP (BITMAPINFOHEADER or later)
    into (width, height, channels, pixels) with pixels as UNPADDED
    bytes reassembled top-down in the file's stored channel order
    (BGR) — a canonical form independent of padding and the stored
    row direction (bottom-up unless height < 0)."""
    if len(b) < 54:
        raise ValueError("truncated BMP header")
    (pixel_off,) = struct.unpack_from("<I", b, 10)
    (hdr_size,) = struct.unpack_from("<I", b, 14)
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER BMP unsupported")
    width, height = struct.unpack_from("<ii", b, 18)
    _planes, bpp = struct.unpack_from("<HH", b, 26)
    (compression,) = struct.unpack_from("<I", b, 30)
    if compression != 0 or bpp != 24:
        raise ValueError("only uncompressed 24bpp BMP supported")
    if width <= 0 or height == 0:
        raise ValueError("degenerate BMP dimensions")
    top_down = height < 0
    h = abs(height)
    row = width * 3
    stride = (row + 3) & ~3
    if len(b) < pixel_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = [
        b[pixel_off + r * stride : pixel_off + r * stride + row]
        for r in range(h)
    ]
    if not top_down:
        rows.reverse()
    return width, h, 3, b"".join(rows)


def _decode_bmp(b: bytes) -> dict:
    """Uncompressed 24bpp BMP → metadata + md5 over the canonical
    pixel bytes (see _bmp_pixels)."""
    width, h, channels, px = _bmp_pixels(b)
    return {
        "format": "bmp",
        "width": width,
        "height": h,
        "channels": channels,
        "pixel_digest": hashlib.md5(px).hexdigest(),
    }


def _netpbm_pixels(b: bytes) -> tuple[int, int, int, bytes]:
    """Parse binary netpbm (P6 RGB / P5 gray, 8-bit) into
    (width, height, channels, pixels). Header is magic + three
    whitespace-separated ints (width, height, maxval) with
    '#'-comment lines allowed, then ONE whitespace byte, then raw
    top-down row-major pixel bytes."""
    magic = b[:2]
    idx = 2
    vals: list[int] = []
    while len(vals) < 3:
        while idx < len(b) and b[idx : idx + 1].isspace():
            idx += 1
        if idx < len(b) and b[idx : idx + 1] == b"#":
            while idx < len(b) and b[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(b) and not b[idx : idx + 1].isspace():
            idx += 1
        if start == idx:
            raise ValueError("truncated netpbm header")
        vals.append(int(b[start:idx]))
    idx += 1  # exactly one whitespace byte separates header and pixels
    width, height, maxval = vals
    if width <= 0 or height <= 0:
        raise ValueError("degenerate netpbm dimensions")
    if not 0 < maxval < 256:
        raise ValueError("16-bit netpbm unsupported")
    channels = 3 if magic == b"P6" else 1
    need = width * height * channels
    px = b[idx : idx + need]
    if len(px) < need:
        raise ValueError("truncated netpbm pixel data")
    return width, height, channels, px


def _decode_netpbm(b: bytes) -> dict:
    """Binary netpbm → metadata + md5 over the raw pixel bytes."""
    width, height, channels, px = _netpbm_pixels(b)
    return {
        "format": "ppm" if channels == 3 else "pgm",
        "width": width,
        "height": height,
        "channels": channels,
        "pixel_digest": hashlib.md5(px).hexdigest(),
    }


def _decode_wav(b: bytes) -> dict:
    """RIFF/WAVE, 16-bit mono PCM. Walks the chunk list (id + LE size
    + data, padded to even) rather than assuming fixed offsets, so
    files with LIST/INFO or other chunks before ``data`` decode
    correctly. Returns sample_rate / n_samples / duration_ms plus two
    sample-level features a real audio pipeline computes on decode:
    RMS amplitude and the zero-crossing count (signbit changes
    between consecutive samples; a 0 sample counts as positive)."""
    import numpy as np  # noqa: PLC0415 — worker-side import

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    fmt = data = None
    idx = 12
    while idx + 8 <= len(b):
        cid = b[idx : idx + 4]
        (size,) = struct.unpack_from("<I", b, idx + 4)
        body = b[idx + 8 : idx + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        idx += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:  # struct.error would escape the ValueError seam
        raise ValueError("truncated fmt chunk")
    audio_format, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    (bits,) = struct.unpack_from("<H", fmt, 14)
    if audio_format != 1 or bits != 16 or channels != 1:
        raise ValueError("only 16-bit mono PCM WAV supported")
    if rate <= 0:
        raise ValueError("degenerate sample rate")
    s = np.frombuffer(data[: len(data) & ~1], dtype="<i2").astype(np.float64)
    n = int(s.size)
    rms = float(np.sqrt(np.mean(s * s))) if n else 0.0
    zc = int(np.count_nonzero((s[1:] < 0) != (s[:-1] < 0))) if n else 0
    return {
        "sample_rate": int(rate),
        "n_samples": n,
        "duration_ms": n * 1000 // int(rate),
        "rms": rms,
        "zero_crossings": zc,
    }


def decode_real(payload: bytes, modality: str) -> dict:
    """Real decode for containers a dependency-free environment can
    handle: uncompressed 24bpp BMP and binary netpbm (P6 PPM / P5
    PGM) for images — {format, width, height, channels, pixel_digest}
    with pixel_digest md5 over the raw pixel bytes in top-down
    row-major stored-channel order (BMP padding stripped) — and
    RIFF/WAVE 16-bit mono PCM for audio — {sample_rate, n_samples,
    duration_ms, rms, zero_crossings}.

    Compressed containers (JPEG/PNG/MP3/...) and the video modality
    raise ValueError — this is the seam where PIL / soundfile / pyav
    slot in for a full deployment."""
    if modality == "image":
        if payload[:2] == b"BM":
            return _decode_bmp(payload)
        if payload[:2] in (b"P5", b"P6"):
            return _decode_netpbm(payload)
        raise ValueError("unsupported image container (need BMP24/P5/P6)")
    if modality == "audio":
        return _decode_wav(payload)
    raise ValueError(f"no {modality} codec in this environment")


def encode_bmp(width: int, height: int, fill: int) -> bytes:
    """Minimal uncompressed 24bpp bottom-up BMP with every channel of
    every pixel set to ``fill`` — the deterministic fixture twin of
    decode_real (uniform fill makes the pixel digest row-order- and
    channel-order-independent, so an oracle can reproduce it)."""
    row = width * 3
    stride = (row + 3) & ~3
    header = struct.pack("<2sIHHI", b"BM", 54 + stride * height, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height,
        2835, 2835, 0, 0,
    )
    rowbytes = bytes([fill]) * row + b"\x00" * (stride - row)
    return header + info + rowbytes * height


def encode_ppm(width: int, height: int, fill: int) -> bytes:
    """Minimal binary P6 PPM, uniform ``fill`` byte (see encode_bmp)."""
    return (b"P6\n%d %d\n255\n" % (width, height)) + bytes([fill]) * (
        width * height * 3
    )


def encode_bmp_px(width: int, height: int, px: bytes) -> bytes:
    """Uncompressed 24bpp bottom-up BMP around explicit pixel bytes
    (``px`` = top-down row-major triplets): the non-uniform sibling of
    encode_bmp — rows are re-ordered bottom-up and stride-padded, so
    decoding through _bmp_pixels round-trips to ``px`` exactly."""
    row = width * 3
    stride = (row + 3) & ~3
    header = struct.pack("<2sIHHI", b"BM", 54 + stride * height, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height,
        2835, 2835, 0, 0,
    )
    pad = b"\x00" * (stride - row)
    body = b"".join(
        px[r * row : (r + 1) * row] + pad for r in reversed(range(height))
    )
    return header + info + body


def encode_ppm_px(width: int, height: int, px: bytes) -> bytes:
    """Binary P6 PPM around explicit top-down pixel bytes."""
    return (b"P6\n%d %d\n255\n" % (width, height)) + px


# --- Perceptual hashing (dHash) ----------------------------------------------
#
# dHash: sample the decoded image to a 9×8 grayscale grid (nearest
# neighbor), emit bit (r,c) = grid[r][c+1] > grid[r][c] — 64 gradient
# bits that survive re-encoding, container changes, and small global
# brightness shifts. The 64 bits are packed as FOUR 16-bit integer
# bands so (a) no int64 sign-bit gymnastics and (b) the bands ARE the
# pigeonhole blocking key: Hamming(x, y) ≤ 3 ⇒ at least one of the 4
# bands is bit-identical, so an equi-join on (band_idx, band_value)
# is a LOSSLESS candidate generator — never an all-pairs comparison.

DHASH_COLS = 9  # sampled grid columns (8 horizontal comparisons/row)
DHASH_ROWS = 8


def dhash_bands(width: int, height: int, channels: int, px: bytes) -> list[int]:
    """Four 16-bit dHash bands over canonical top-down pixel bytes.

    Grid sample (r, c) reads source pixel (c·w//9, r·h//8); grayscale
    is the integer mean of the stored channels (order-independent, so
    BMP's BGR and PPM's RGB hash identically). Bit j = r·8+c lands in
    band j//16 at position j%16."""
    if width < DHASH_COLS or height < DHASH_ROWS:
        raise ValueError("image smaller than the dhash sample grid")
    bands = [0, 0, 0, 0]
    for r in range(DHASH_ROWS):
        sy = (r * height) // DHASH_ROWS
        row_off = sy * width * channels
        grid = []
        for c in range(DHASH_COLS):
            o = row_off + ((c * width) // DHASH_COLS) * channels
            grid.append(sum(px[o : o + channels]) // channels)
        for c in range(DHASH_COLS - 1):
            if grid[c + 1] > grid[c]:
                j = r * 8 + c
                bands[j // 16] |= 1 << (j % 16)
    return bands


def pattern_params(i: int) -> tuple[int, int, int, int, int, int]:
    """Closed-form pattern parameters for the image fixtures:
    (width, height, ax, ay, bx, phase) with pixel value
    P(x, y) = (ax·x² + ay·y² + bx·x + phase) % 256 on all 3 channels.
    QUADRATIC on purpose: a linear ramp dHashes to near-all-ones
    (every non-wrap step ascends), which collided almost every doc
    with every other (measured 12.7k pairs / 500 docs); the quadratic
    wraps mod 256 at varying rates so hashes carry real entropy
    (122 pairs / 500 docs, all true near-dups, linear in corpus size).

    Docs form groups of 4 (g = i//4): members 0 and 1 differ only by
    a +1 phase shift (a near-identical image — dHash bits flip only
    where a mod-256 wrap crosses a sampled cell), member 2 bumps the
    quadratic coefficient (far), member 3 swaps the axis coefficients
    and shifts phase (far). The oracle states the same arithmetic in
    SQL (plans/multimodal.IMAGE_NEAR_DUP_ORACLE)."""
    g, m = divmod(i, 4)
    w, h = 12 + g % 9, 10 + g % 7
    ax, ay, bx, ph = 7 + g % 11, 3 + g % 5, 1 + g % 13, (5 * g) % 256
    if m == 1:
        return w, h, ax, ay, bx, (ph + 1) % 256
    if m == 2:
        return w, h, ax + 1, ay, bx, ph
    if m == 3:
        return w, h, ay, ax, bx, (ph + 101) % 256
    return w, h, ax, ay, bx, ph


def synth_patterned_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic NON-uniform real-container fixtures: one gradient
    image per row (pattern_params closed form), BMP for even ids /
    PPM for odd — so a near-dup pair (group members 0/1) always
    crosses container formats and the hash must be container-blind.
    Stands in for raw bytes ingested from an object store."""
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                i = _opt_id(doc_id)
                # NULL or NEGATIVE id → NULL payload → error row. The
                # synth param formulas are defined on nonnegative ids
                # only: Python's floor-mod and SQL's trunc-mod agree
                # there and diverge below zero, so an out-of-domain id
                # is contained exactly like a corrupt payload instead
                # of minting a container no oracle can restate
                # (round-12 ADVICE: negative-id modality divergence).
                if i is None or i < 0:
                    payloads.append(None)
                    continue
                w, h, ax, ay, bx, ph = pattern_params(i)
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                v = (ax * x * x + ay * y * y + bx * x + ph) % 256
                px = np.repeat(v.astype(np.uint8), 3).tobytes()
                payloads.append(
                    encode_bmp_px(w, h, px) if i % 2 == 0
                    else encode_ppm_px(w, h, px)
                )
            yield pd.DataFrame({
                "doc_id": pd.array(
                    [_opt_id(x) for x in pdf[id_col]], dtype="Int64"),
                "payload": pd.array(payloads, dtype=object),
            })

    return df.mapInPandas(batches, PAYLOAD_SCHEMA)


PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("b0", T.LongType(), True),
    T.StructField("b1", T.LongType(), True),
    T.StructField("b2", T.LongType(), True),
    T.StructField("b3", T.LongType(), True),
    T.StructField("error", T.StringType(), True),
])


def _phash_real(payload: bytes, modality: str) -> dict:
    """Decode a real image container and dHash it (bands dict)."""
    if payload[:2] == b"BM":
        w, h, ch, px = _bmp_pixels(payload)
    elif payload[:2] in (b"P5", b"P6"):
        w, h, ch, px = _netpbm_pixels(payload)
    else:
        raise ValueError("unsupported image container (need BMP24/P5/P6)")
    b0, b1, b2, b3 = dhash_bands(w, h, ch, px)
    return {"b0": b0, "b1": b1, "b2": b2, "b3": b3}


def perceptual_hash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """dHash an opaque binary image column, Arrow batch by Arrow batch
    (narrow — no shuffle; payloads never on the driver). One row per
    image: four 16-bit hash bands + per-row contained error."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out: dict[str, list] = {k.name: [] for k in PHASH_SCHEMA}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                d, err = _contained(_phash_real, payload, "image")
                out["doc_id"].append(_opt_id(doc_id))
                for k in ("b0", "b1", "b2", "b3"):
                    out[k].append(d.get(k))
                out["error"].append(err)
            yield pd.DataFrame({
                "doc_id": pd.array(out["doc_id"], dtype="Int64"),
                "b0": pd.array(out["b0"], dtype="Int64"),
                "b1": pd.array(out["b1"], dtype="Int64"),
                "b2": pd.array(out["b2"], dtype="Int64"),
                "b3": pd.array(out["b3"], dtype="Int64"),
                "error": pd.array(out["error"], dtype="object"),
            })

    return df.mapInPandas(batches, PHASH_SCHEMA)


def phash_near_pairs(hashes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance.

    Same scale shape as operators/dedup.simhash_near_pairs: exact
    hash duplicates collapse to a min-id representative first (a
    duplicated corpus would otherwise make every band bucket
    quadratic in the duplication factor), candidates come from a
    LOSSLESS pigeonhole equi-join on (band_idx, band_value) — 4 bands
    > max_hamming 3 ⇒ any qualifying pair shares a band — and
    verification is the exact 64-bit Hamming distance via per-band
    bit_count(xor). The rep-pair set and the id→rep map are
    checkpointed and the final expansion is output-bound and lazy (the
    shared epilogue, operators/dedup._near_dup_pairs)."""
    from pyspark.sql import Window  # noqa: PLC0415 — keep module header lean
    from psx_data_pipeline_spark.operators.dedup import (  # noqa: PLC0415
        _near_dup_pairs,
    )

    bcols = ["b0", "b1", "b2", "b3"]
    grouped = (
        hashes.where(F.col("error").isNull())
        .select("doc_id", *bcols)
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy(*bcols)))
        .persist()
    )
    reps = grouped.where(F.col("doc_id") == F.col("rep")).select("doc_id", *bcols)
    members = grouped.select(F.col("doc_id").alias("id"), "rep")
    bands = reps.select(
        "doc_id", *bcols,
        F.posexplode(F.array(*bcols)).alias("band", "bval"),
    )
    a = bands.select(
        F.col("doc_id").alias("rep_a"),
        *[F.col(c).alias(f"a{k}") for k, c in enumerate(bcols)],
        "band", "bval",
    )
    b = bands.select(
        F.col("doc_id").alias("rep_b"),
        *[F.col(c).alias(f"x{k}") for k, c in enumerate(bcols)],
        "band", "bval",
    )
    hamming = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"x{k}"))) for k in range(4)
    ).cast("long")
    rep_pairs = (
        a.join(b, ["band", "bval"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", *[f"a{k}" for k in range(4)],
                *[f"x{k}" for k in range(4)])
        .distinct()
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("rep_a", "rep_b", "hamming")
    )
    return _near_dup_pairs(
        rep_pairs, members, {"hamming": F.lit(0).cast("long")}, grouped
    )


def encode_wav(sample_rate: int, samples) -> bytes:
    """Minimal RIFF/WAVE: 16-bit mono PCM, fmt + data chunks — the
    deterministic fixture twin of ``_decode_wav``. ``samples`` is any
    int16-representable sequence (numpy array or list)."""
    import numpy as np  # noqa: PLC0415 — worker-side import

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


PAYLOAD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
])

IMAGE_DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("channels", T.LongType(), True),
    T.StructField("pixel_digest", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
])


def _opt_id(doc_id):
    """NULL-safe id passthrough at the Arrow seam. A NULL doc_id is
    upstream catalog corruption; `int(doc_id)` on the pandas NaN it
    arrives as killed the whole task (round-11 hostile-id probe) —
    one bad row in a 100 TB corpus must cost one row, not the stage.
    Rows keep a NULL id and flow to the per-row error column."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    return None if pd.isna(doc_id) else int(doc_id)


def _contained(decode, payload, modality: str) -> tuple[dict, str | None]:
    """Per-row error containment at the codec seam: a malformed,
    truncated, lying, or NULL payload yields ({}, error-string)
    instead of crashing the task — one hostile blob in a 100 TB
    corpus must cost one row, not the stage. Generalizes the
    reference's per-row try/except around company-detail parsing
    (psx_data_automation/scrape_tickers.py:337-345, SURVEY §2 X2).
    The error string is a deterministic pure function of the payload
    (exception type + message), so re-runs and the oracle agree."""
    try:
        if payload is None:
            return {}, "ValueError: null payload"
        return decode(bytes(payload), modality), None
    except Exception as exc:  # noqa: BLE001 — the seam's contract
        return {}, f"{type(exc).__name__}: {exc}"


def synth_image_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-container fixtures: one tiny image per row,
    BMP for even ids / PPM for odd, dimensions and uniform fill byte
    derived from the id. Stands in for raw bytes ingested from an
    object store; everything downstream (binary column, Arrow
    batches, decode) is the production shape."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                i = _opt_id(doc_id)
                # NULL or NEGATIVE id → NULL payload → error row. The
                # synth param formulas are defined on nonnegative ids
                # only: Python's floor-mod and SQL's trunc-mod agree
                # there and diverge below zero, so an out-of-domain id
                # is contained exactly like a corrupt payload instead
                # of minting a container no oracle can restate
                # (round-12 ADVICE: negative-id modality divergence).
                if i is None or i < 0:
                    payloads.append(None)
                    continue
                w, h, fill = 4 + i % 13, 3 + i % 7, 65 + i % 26
                payloads.append(
                    encode_bmp(w, h, fill) if i % 2 == 0
                    else encode_ppm(w, h, fill)
                )
            yield pd.DataFrame({
                "doc_id": pd.array(
                    [_opt_id(x) for x in pdf[id_col]], dtype="Int64"),
                "payload": pd.array(payloads, dtype=object),
            })

    return df.mapInPandas(batches, PAYLOAD_SCHEMA)


def decode_images(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Run the real decoder over an opaque binary column, Arrow batch
    by Arrow batch (narrow — no shuffle; payloads never on the
    driver). One row per image: container format, dimensions, channel
    count, canonical pixel digest."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {k.name: [] for k in IMAGE_DECODE_SCHEMA}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                d, err = _contained(decode_real, payload, "image")
                out["doc_id"].append(_opt_id(doc_id))
                out["format"].append(d.get("format"))
                out["width"].append(d.get("width"))
                out["height"].append(d.get("height"))
                out["channels"].append(d.get("channels"))
                out["pixel_digest"].append(d.get("pixel_digest"))
                out["error"].append(err)
            yield pd.DataFrame({
                "doc_id": pd.array(out["doc_id"], dtype="Int64"),
                "format": pd.array(out["format"], dtype="object"),
                "width": pd.array(out["width"], dtype="Int64"),
                "height": pd.array(out["height"], dtype="Int64"),
                "channels": pd.array(out["channels"], dtype="Int64"),
                "pixel_digest": pd.array(out["pixel_digest"], dtype="object"),
                "error": pd.array(out["error"], dtype="object"),
            })

    return df.mapInPandas(batches, IMAGE_DECODE_SCHEMA)


AUDIO_DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zero_crossings", T.LongType(), True),
    T.StructField("error", T.StringType(), True),
])

_WAV_RATE = 8000  # fixture sample rate


def synth_audio_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-container audio fixtures: one tiny WAV per
    row — a square wave whose half-period, amplitude, and length
    derive from the id, so every decoded feature has a closed form an
    oracle can state (see plans/multimodal.AUDIO_DECODE_ORACLE).
    Stands in for raw bytes ingested from an object store."""
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                i = _opt_id(doc_id)
                # NULL or NEGATIVE id → NULL payload → error row. The
                # synth param formulas are defined on nonnegative ids
                # only: Python's floor-mod and SQL's trunc-mod agree
                # there and diverge below zero, so an out-of-domain id
                # is contained exactly like a corrupt payload instead
                # of minting a container no oracle can restate
                # (round-12 ADVICE: negative-id modality divergence).
                if i is None or i < 0:
                    payloads.append(None)
                    continue
                n = 400 + i % 800           # samples
                p = 2 + i % 9               # half-period in samples
                a = 1000 + (i % 20) * 997   # amplitude
                j = np.arange(n)
                s = np.where((j // p) % 2 == 0, a, -a).astype("<i2")
                payloads.append(encode_wav(_WAV_RATE, s))
            yield pd.DataFrame({
                "doc_id": pd.array(
                    [_opt_id(x) for x in pdf[id_col]], dtype="Int64"),
                "payload": pd.array(payloads, dtype=object),
            })

    return df.mapInPandas(batches, PAYLOAD_SCHEMA)


def decode_audio(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Run the real WAV decoder over an opaque binary column, Arrow
    batch by Arrow batch (narrow — no shuffle; payloads never on the
    driver). One row per clip: container params + sample-level
    features (RMS, zero crossings)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {k.name: [] for k in AUDIO_DECODE_SCHEMA}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                d, err = _contained(decode_real, payload, "audio")
                out["doc_id"].append(_opt_id(doc_id))
                for k in (
                    "sample_rate", "n_samples", "duration_ms", "rms",
                    "zero_crossings",
                ):
                    out[k].append(d.get(k))
                out["error"].append(err)
            yield pd.DataFrame({
                "doc_id": pd.array(out["doc_id"], dtype="Int64"),
                "sample_rate": pd.array(out["sample_rate"], dtype="Int64"),
                "n_samples": pd.array(out["n_samples"], dtype="Int64"),
                "duration_ms": pd.array(out["duration_ms"], dtype="Int64"),
                # nullable Float64, not float64: a contained-error
                # row's rms must arrive as SQL NULL, not NaN
                "rms": pd.array(out["rms"], dtype="Float64"),
                "zero_crossings": pd.array(
                    out["zero_crossings"], dtype="Int64"
                ),
                "error": pd.array(out["error"], dtype="object"),
            })

    return df.mapInPandas(batches, AUDIO_DECODE_SCHEMA)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Turn a text corpus into a multimodal fixture: payload =
    utf-8 bytes of the text (a deterministic stand-in for raw media),
    modality cycling by id. In production this column is the raw
    bytes ingested from the object store; everything downstream is
    unchanged."""
    m = F.col(id_col) % 3
    return df.select(
        F.col(id_col),
        F.col(text_col).alias("text"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        # the video arm is a guarded WHEN, not otherwise(): a NULL id
        # must yield a NULL (unknown) modality, not fall into the last
        # bucket and get frame-sampled as video (round-11 hostile-id
        # probe: the oracle's filter dropped the row, the engine kept it)
        F.when(m == 0, F.lit("image"))
        .when(m == 1, F.lit("audio"))
        .when(m.isNotNull(), F.lit("video"))
        .alias("modality"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Per-payload feature extraction over Arrow batches.

    Emits size + content digest for every modality and a
    modality-specific fake decode: image → (width, height) derived
    from the byte length, audio → duration at a nominal 16 B/ms,
    video → frame count at _FRAME_CHARS bytes/frame. NULLs for the
    non-applicable columns (typed, not sentinel)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = pdf["payload"]
            # NULL payloads (e.g. NULL source text) propagate as NULL
            # features, matching SQL null semantics — len(None)
            # crashed the whole worker before (hostile-probe finding)
            n_bytes = pd.Series(
                [len(b) if b is not None else None for b in payloads],
                dtype="Int64", index=pdf.index,
            )
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": n_bytes,
                "digest": payloads.map(
                    lambda b: hashlib.md5(b).hexdigest()
                    if b is not None else None
                ),
            })
            img = pdf["modality"] == "image"
            aud = pdf["modality"] == "audio"
            vid = pdf["modality"] == "video"
            out["width"] = pd.array(
                (16 + n_bytes % 640).where(img), dtype="Int64")
            out["height"] = pd.array(
                (16 + (n_bytes // 640) % 480).where(img), dtype="Int64")
            out["duration_ms"] = pd.array(
                (n_bytes // 16).where(aud), dtype="Int64")
            out["n_frames"] = pd.array(
                (n_bytes // _FRAME_CHARS).where(vid), dtype="Int64")
            yield out

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: slice the payload into
    _FRAME_CHARS-char frames, keep every _FRAME_STRIDE-th, emit one
    row per sampled frame with a content digest — the fan-out shape
    (1 row in, k rows out) real video frame extraction has. Operates
    on the text twin of the payload so the slicing is
    character-deterministic across engines."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            ids, idxs, digs = [], [], []
            vids = pdf[pdf["modality"] == "video"]
            for doc_id, text in zip(vids["doc_id"], vids["text"]):
                if text is None:  # NULL payload → no frames
                    continue
                n_chunks = math.ceil(len(text) / _FRAME_CHARS)
                for i in range(0, n_chunks, _FRAME_STRIDE):
                    chunk = text[i * _FRAME_CHARS:(i + 1) * _FRAME_CHARS]
                    ids.append(_opt_id(doc_id))
                    idxs.append(i)
                    digs.append(hashlib.md5(chunk.encode("utf-8")).hexdigest())
            yield pd.DataFrame({
                "doc_id": pd.array(ids, dtype="Int64"),
                "frame_idx": pd.array(idxs, dtype="int64"),
                "frame_digest": pd.array(digs, dtype="object"),
            })

    return df.mapInPandas(batches, FRAME_SCHEMA)


# --- real video containers: RIFF/AVI, uncompressed 24bpp DIB frames ----------

# The video twin of _decode_wav/_decode_bmp: a real chunk-walking
# parser for the subset a dependency-free environment can hold —
# RIFF 'AVI ' with an avih main header and raw '00db' DIB frames in
# the movi list. Unknown chunks (JUNK, strl stream lists, idx1) are
# skipped by the walker like a real demuxer; compressed fourccs are
# the seam where pyav slots in for a full deployment.

_AVI_STRIDE = 2  # frame-sample every 2nd frame


def _walk_riff(b: bytes, start: int, end: int):
    """Yield (chunk_id, list_type_or_None, body_start, body_size) over
    a RIFF chunk sequence; raises on truncation (size lies)."""
    idx = start
    while idx + 8 <= end:
        cid = b[idx : idx + 4]
        (size,) = struct.unpack_from("<I", b, idx + 4)
        if idx + 8 + size > end:
            raise ValueError(f"truncated {cid!r} chunk")
        ltype = b[idx + 8 : idx + 12] if cid == b"LIST" else None
        yield cid, ltype, idx + 8, size
        idx += 8 + size + (size & 1)  # 2-byte alignment


def _decode_avi(b: bytes) -> dict:
    """RIFF/AVI with raw 24bpp frames: parses the avih main header
    (frame timing, declared frame count, dimensions), walks the movi
    list counting '00db' frames, and verifies every frame is exactly
    width*height*3 bytes and that the declared dwTotalFrames matches
    the frames actually present (a lying header is a malformed file,
    not a different answer)."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    avih = None
    frames: list[bytes] = []
    for cid, ltype, off, size in _walk_riff(b, 12, len(b)):
        if cid == b"LIST" and ltype == b"hdrl":
            for c2, _, o2, s2 in _walk_riff(b, off + 4, off + size):
                if c2 == b"avih":
                    avih = b[o2 : o2 + s2]
        elif cid == b"LIST" and ltype == b"movi":
            for c2, _, o2, s2 in _walk_riff(b, off + 4, off + size):
                if c2 == b"00db":
                    frames.append(b[o2 : o2 + s2])
    if avih is None:
        raise ValueError("missing avih header")
    if len(avih) < 40:
        raise ValueError("truncated avih header")
    (us_per_frame, _, _, _, total_frames, _, _, _, width, height) = (
        struct.unpack_from("<10I", avih, 0)
    )
    if width <= 0 or height <= 0:
        raise ValueError("degenerate AVI dimensions")
    if us_per_frame <= 0:
        raise ValueError("degenerate frame timing")
    if total_frames != len(frames):
        raise ValueError(
            f"avih declares {total_frames} frames, movi holds {len(frames)}"
        )
    fsize = width * height * 3
    for k, fr in enumerate(frames):
        if len(fr) != fsize:
            raise ValueError(f"frame {k}: {len(fr)} bytes, want {fsize}")
    return {
        "width": int(width),
        "height": int(height),
        "n_frames": len(frames),
        "duration_ms": len(frames) * int(us_per_frame) // 1000,
        "frames": frames,
    }


def encode_avi(
    width: int, height: int, fills, us_per_frame: int = 40_000
) -> bytes:
    """Minimal RIFF/AVI: avih main header + one raw 24bpp '00db'
    frame per fill byte — the deterministic fixture twin of
    _decode_avi (uniform fill per frame gives every frame digest a
    closed form an oracle can state). Includes a JUNK chunk so the
    walker's skip path is exercised on every fixture."""
    frames = [bytes([f]) * (width * height * 3) for f in fills]
    avih = struct.pack(
        "<10I", us_per_frame, 0, 0, 0, len(frames), 0, 1, 0, width, height
    ) + b"\x00" * 16
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi_body = b"movi"
    for fr in frames:
        movi_body += b"00db" + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            movi_body += b"\x00"
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00" * 4
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + junk
        + b"LIST" + struct.pack("<I", len(movi_body)) + movi_body
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


VIDEO_DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("frame_idx", T.LongType(), True),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("frame_digest", T.StringType(), True),
    T.StructField("error", T.StringType(), True),
])


def synth_video_payloads(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real-container video fixtures: one tiny AVI per
    row, dimensions / frame count / per-frame fill derived from the
    id (frame k of doc i is filled with byte 65+(i+k)%26), so every
    sampled frame digest has a closed form the oracle can state."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                i = _opt_id(doc_id)
                # NULL or NEGATIVE id → NULL payload → error row. The
                # synth param formulas are defined on nonnegative ids
                # only: Python's floor-mod and SQL's trunc-mod agree
                # there and diverge below zero, so an out-of-domain id
                # is contained exactly like a corrupt payload instead
                # of minting a container no oracle can restate
                # (round-12 ADVICE: negative-id modality divergence).
                if i is None or i < 0:
                    payloads.append(None)
                    continue
                w, h, n = 8 + i % 9, 4 + i % 5, 3 + i % 6
                payloads.append(
                    encode_avi(w, h, [65 + (i + k) % 26 for k in range(n)])
                )
            yield pd.DataFrame({
                "doc_id": pd.array(
                    [_opt_id(x) for x in pdf[id_col]], dtype="Int64"),
                "payload": pd.array(payloads, dtype=object),
            })

    return df.mapInPandas(batches, PAYLOAD_SCHEMA)


def decode_video_frames(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Run the real AVI demuxer over an opaque binary column and
    frame-sample every {_AVI_STRIDE}nd frame — one row per SAMPLED
    frame (doc_id, frame_idx, dims, md5 frame digest), Arrow batch by
    Arrow batch (narrow; payloads never on the driver). A malformed
    payload is contained to ONE error row for its doc (X2
    semantics), never a task crash."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            out = {k.name: [] for k in VIDEO_DECODE_SCHEMA}

            def emit(i, idx, w, h, dig, err):
                out["doc_id"].append(i)
                out["frame_idx"].append(idx)
                out["width"].append(w)
                out["height"].append(h)
                out["frame_digest"].append(dig)
                out["error"].append(err)

            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                i = _opt_id(doc_id)
                d, err = _contained(
                    lambda p, _m: _decode_avi(p), payload, "video"
                )
                if err is not None:
                    emit(i, None, None, None, None, err)
                    continue
                for k in range(0, d["n_frames"], _AVI_STRIDE):
                    emit(
                        i, k, d["width"], d["height"],
                        hashlib.md5(d["frames"][k]).hexdigest(), None,
                    )
            yield pd.DataFrame({
                "doc_id": pd.array(out["doc_id"], dtype="Int64"),
                "frame_idx": pd.array(out["frame_idx"], dtype="Int64"),
                "width": pd.array(out["width"], dtype="Int64"),
                "height": pd.array(out["height"], dtype="Int64"),
                "frame_digest": pd.array(out["frame_digest"], dtype="object"),
                "error": pd.array(out["error"], dtype="object"),
            })

    return df.mapInPandas(batches, VIDEO_DECODE_SCHEMA)
