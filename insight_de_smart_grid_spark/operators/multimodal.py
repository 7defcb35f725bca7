"""Multimodal column plumbing (north-star extension).

Images/audio/video ride as opaque ``binary`` columns with typed metadata
structs. The Spark-side plumbing — schema, Arrow batch shape, partitioning,
UDF signatures — is real and tested; the actual media decode is STUBBED
(`decode_image` raises NotImplementedError unless the deterministic fake is
requested) because no image/audio libraries exist in this container.

Scale notes: media bytes never pass through the driver; ``mapInPandas``
streams Arrow record batches through the decoder with
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounding batch memory, and
``repartition`` before heavy decode stages spreads work independent of file
layout. Feature outputs are plain columns, so everything downstream is
ordinary DataFrame code.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Real image decode/resize are env-gated on pillow: when PIL is importable
# the fake=False paths run actual decoders; otherwise they raise the same
# NotImplementedError as before (this container ships no media libs).
HAS_PIL = importlib.util.find_spec("PIL") is not None

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, sha256 string, "
    "width int, height int, n_channels int, mean_intensity double"
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Test harness: treat utf-8 bytes of ``text`` as an opaque media payload
    so the binary-column plumbing runs against driver tables."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_frames"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("media_meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for a real decoder: derives (width, height,
    channels, mean_intensity) from the payload's sha256. Replace with
    PIL/ffmpeg in a real deployment."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    channels = 1 + digest[2] % 3
    mean_intensity = round(sum(digest[3:11]) / (8 * 255.0), 6)
    return width, height, channels, mean_intensity


def _real_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Pillow decode: (width, height, channels, mean_intensity in [0,1]).
    Only reachable when HAS_PIL; imports stay inside so the module loads
    without pillow."""
    import io

    from PIL import Image, ImageStat

    img = Image.open(io.BytesIO(payload))
    img.load()
    channels = len(img.getbands())
    mean = ImageStat.Stat(img.convert("L")).mean[0]
    return img.width, img.height, channels, round(mean / 255.0, 6)


def decode_media(binary_df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode/feature-extract stage: Arrow-batched ``mapInPandas`` over the
    payload column. ``fake=True`` runs the deterministic stub;
    ``fake=False`` decodes real images via pillow when it is installed
    (env-gated — raises NotImplementedError in containers without media
    libs). Both paths share the exact same plumbing and output schema."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            rows = []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                raw = bytes(payload)
                if fake:
                    w, h, c, mi = _fake_decode(raw)
                elif HAS_PIL:
                    w, h, c, mi = _real_decode(raw)
                elif raw[:8] == PNG_MAGIC:
                    # round-11: PNG decodes for real via the stdlib codec
                    # even without PIL — the env-gate now covers only
                    # formats with no stdlib decoder (JPEG, video)
                    w, h, px = _decode_png(raw)
                    c = 1
                    mi = round(sum(sum(r) for r in px) / (w * h * 255.0), 6)
                else:
                    raise NotImplementedError(
                        "real non-PNG media decode needs PIL/ffmpeg; "
                        "not in this container")
                rows.append((doc_id, len(raw),
                             hashlib.sha256(raw).hexdigest(), w, h, c, mi))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_bytes", "sha256", "width", "height",
                "n_channels", "mean_intensity"])

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(decode, DECODED_SCHEMA))


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary, frame_sha string"


def sample_frames(binary_df: DataFrame, frame_size: int = 256,
                  every_n: int = 4, fake: bool = False) -> DataFrame:
    """Frame-sampling stage: one payload row fans out to many frame rows
    (the video → keyframe shape). Arrow-batched ``mapInPandas`` so a batch
    yields a variable number of output rows without a UDTF.

    ``fake=True`` chunks the payload into fixed-size pseudo-frames and keeps
    every ``every_n``-th — deterministic, exercising the exact fan-out
    plumbing; ``fake=False`` raises (a real build would shell to ffmpeg).
    At scale: repartition before this stage (decode cost, not input size,
    balances work) and write the frames table partitioned by media type.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if not fake:
                raise NotImplementedError(
                    "real frame extraction needs ffmpeg; not in this container")
            doc, idx, fb, sha = [], [], [], []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                raw = bytes(payload)
                frames = [raw[i:i + frame_size]
                          for i in range(0, len(raw), frame_size)]
                for j in range(0, len(frames), every_n):
                    doc.append(doc_id)
                    idx.append(j)
                    fb.append(frames[j])
                    # content hash over the lowercase-hex encoding: byte
                    # slices may not be valid UTF-8, and the DuckDB oracle
                    # can only sha256 VARCHAR — hex is the shared exact form
                    sha.append(hashlib.sha256(
                        frames[j].hex().encode()).hexdigest())
            yield pd.DataFrame({"doc_id": doc, "frame_idx": idx,
                                "frame_bytes": fb, "frame_sha": sha})

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(sample, FRAME_SCHEMA))


def binary_metadata(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pure-JVM metadata over the binary payload (no UDF): byte length +
    content hash — the dedup/integrity key for media lakes."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    )


BINARY_METADATA_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


RESIZED_SCHEMA = ("doc_id long, width int, height int, payload binary, "
                  "n_bytes long")


def resize_media(binary_df: DataFrame, target_w: int = 64,
                 target_h: int = 64, fake: bool = False) -> DataFrame:
    """Resize stage: binary in, binary out (the memory-bound transform
    shape — peak memory is decoded-pixels, not payload bytes, so partition
    count must track decode size). ``fake=True`` emits a deterministic
    proportional byte-slice with the target dims; ``fake=False`` resizes
    real images via pillow when installed (PNG re-encode), else raises."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if not fake and not HAS_PIL:
                raise NotImplementedError(
                    "real resize needs PIL; not in this container")
            rows = []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                raw = bytes(payload)
                if fake:
                    w, h, _, _ = _fake_decode(raw)
                    keep = max(1, int(len(raw) * (target_w * target_h)
                                      / (w * h)))
                    out = raw[:keep]
                else:
                    import io

                    from PIL import Image

                    img = Image.open(io.BytesIO(raw))
                    buf = io.BytesIO()
                    img.resize((target_w, target_h)).save(buf, format="PNG")
                    out = buf.getvalue()
                rows.append((doc_id, target_w, target_h, out, len(out)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "payload", "n_bytes"])

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(resize, RESIZED_SCHEMA))


def _fake_unit_vec(payload: bytes, dim: int) -> list[float]:
    """Deterministic unit-norm embedding from the payload sha256.

    Exact-integer core: component_i = k_i / sqrt(sum_j k_j^2) with
    k_i = 2*digest[i] - 255 (odd integers), so the norm term is an exact
    integer sum — order-independent — and the only float ops are one sqrt
    and one division, bit-identical in any IEEE engine (the DuckDB oracle
    reproduces them exactly; no rounding tolerance needed)."""
    digest = hashlib.sha256(payload).digest()
    ks = [2 * digest[i % 32] - 255 for i in range(dim)]
    inv = math.sqrt(sum(x * x for x in ks))
    return [x / inv for x in ks]


def extract_features_exploded(binary_df: DataFrame, dim: int = 16,
                              fake: bool = False) -> DataFrame:
    """Feature-extraction stage: payload -> fixed-dim embedding, one scalar
    row per component, ``(doc_id, dim_idx, value)``. ``fake=True`` derives
    a deterministic unit-norm vector from the payload sha256;
    ``fake=False`` raises (a real build would run a vision encoder). Array
    cells break
    order-insensitive hashing harnesses (pandas can't sort/factorize list
    cells), so the checked shape is exploded; all values are full-precision
    doubles reproduced exactly by FEATURE_EXTRACT_SQL."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if not fake:
                raise NotImplementedError(
                    "real feature extraction needs a vision model; "
                    "not in this container")
            ids, idxs, vals = [], [], []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                for i, v in enumerate(_fake_unit_vec(bytes(payload), dim)):
                    ids.append(doc_id)
                    idxs.append(i)
                    vals.append(v)
            yield pd.DataFrame({"doc_id": ids, "dim_idx": idxs,
                                "value": vals})

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(extract, "doc_id long, dim_idx int, value double"))


# ---------------------------------------------------------------------------
# DuckDB oracle twins for the deterministic fakes, BYTE-exact on any corpus
# (unicode included): lengths use strlen (bytes, not chars), and hashes of
# byte SLICES go through the lowercase-hex encoding on both engines because
# DuckDB's sha256 only accepts VARCHAR (a raw byte slice may not be valid
# UTF-8). Whole-payload sha256(text) already hashes the UTF-8 bytes. Digest
# bytes come from the sha256 hex string.
# ---------------------------------------------------------------------------

def _hexbyte_sql(i) -> str:
    """SQL for byte ``i`` (0-based) of hex digest column ``h``; ``i`` may be
    an int literal or a SQL expression string."""
    return (f"((strpos('0123456789abcdef', substr(h, 2*({i})+1, 1))-1)*16 + "
            f"strpos('0123456789abcdef', substr(h, 2*({i})+2, 1))-1)")


DECODE_FAKE_SQL = f"""
WITH d AS (SELECT doc_id, text, sha256(text) AS h FROM documents)
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       h AS sha256,
       CAST(64 + {_hexbyte_sql(0)} % 192 AS INT) AS width,
       CAST(64 + {_hexbyte_sql(1)} % 192 AS INT) AS height,
       CAST(1 + {_hexbyte_sql(2)} % 3 AS INT) AS n_channels,
       round(({' + '.join(_hexbyte_sql(i) for i in range(3, 11))})
             / 2040.0, 6) AS mean_intensity
FROM d
"""

RESIZE_FAKE_SQL = f"""
WITH d AS (SELECT doc_id, text, sha256(text) AS h,
                  lower(hex(encode(text))) AS hx FROM documents),
wh AS (
  SELECT doc_id, hx,
         64 + {_hexbyte_sql(0)} % 192 AS w,
         64 + {_hexbyte_sql(1)} % 192 AS hh
  FROM d
),
k AS (
  SELECT doc_id, hx,
         CAST(greatest(1, trunc((strlen(hx) / 2 * 4096) / (w * hh))) AS INT)
           AS keep
  FROM wh
)
SELECT doc_id,
       CAST(64 AS INT) AS width,
       CAST(64 AS INT) AS height,
       CAST(least(keep, strlen(hx) / 2) AS BIGINT) AS n_bytes,
       sha256(substring(hx, 1, keep * 2)) AS payload_sha
FROM k
"""

FRAME_SAMPLE_SQL = """
WITH d0 AS (SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents),
d AS (
  SELECT doc_id, hx,
         unnest(range(0, CAST(ceil(strlen(hx) / 512.0) AS BIGINT))) AS i
  FROM d0
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(strlen(substring(hx, CAST(i AS INT)*512 + 1, 512)) / 2 AS INT)
         AS frame_len,
       sha256(substring(hx, CAST(i AS INT)*512 + 1, 512)) AS frame_sha
FROM d
WHERE i % 4 = 0
"""

# ---------------------------------------------------------------------------
# Real audio path (no external libs): the stdlib ``wave`` module is a real
# RIFF/WAVE encoder+decoder, so unlike the image/video stubs this family
# round-trips genuine media bytes. The generator synthesizes a mono PCM16
# square wave whose amplitude / length / rate derive from doc_id in closed
# form, which makes the *decoded* acoustics (peak, RMS, duration) exactly
# computable by the DuckDB oracle without it ever parsing WAV.
# ---------------------------------------------------------------------------

AUDIO_PAYLOAD_SCHEMA = "doc_id long, payload binary"
AUDIO_DECODED_SCHEMA = ("doc_id long, n_bytes long, n_channels int, "
                        "sample_rate int, n_samples long, peak int, "
                        "rms double")


def _square_wave_wav(doc_id: int) -> bytes:
    """Real WAV bytes: mono PCM16 square wave, parameters from doc_id."""
    import io
    import wave

    import numpy as np

    amp = 100 + (doc_id % 251) * 99          # <= 24_850, int16-safe
    n_pairs = 400 + doc_id % 400             # n_samples = 2*n_pairs (even)
    rate = 8000 + 1000 * (doc_id % 5)
    samples = np.empty(2 * n_pairs, dtype="<i2")
    samples[0::2] = amp
    samples[1::2] = -amp
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def attach_audio_payload(docs: DataFrame) -> DataFrame:
    """doc_id -> real WAV payload (Arrow-batched; bytes built executor-side,
    never on the driver)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            yield pd.DataFrame({
                "doc_id": pb["doc_id"],
                "payload": [_square_wave_wav(int(d)) for d in pb["doc_id"]],
            })

    return docs.select("doc_id").mapInPandas(gen, AUDIO_PAYLOAD_SCHEMA)


def decode_audio(binary_df: DataFrame) -> DataFrame:
    """REAL audio decode via the stdlib ``wave`` parser: header fields
    (channels, rate, frame count) plus PCM acoustics (peak, RMS) computed
    from the decoded int16 samples. Same Arrow ``mapInPandas`` plumbing as
    the image path; no external media libraries required."""
    import io
    import wave

    import numpy as np

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            rows = []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                raw = bytes(payload)
                with wave.open(io.BytesIO(raw), "rb") as w:
                    nch = w.getnchannels()
                    rate = w.getframerate()
                    nframes = w.getnframes()
                    pcm = np.frombuffer(w.readframes(nframes), dtype="<i2")
                x = pcm.astype(np.float64)
                rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
                peak = int(np.max(np.abs(pcm))) if len(pcm) else 0
                rows.append((doc_id, len(raw), nch, rate, nframes, peak,
                             round(rms, 6)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_bytes", "n_channels", "sample_rate",
                "n_samples", "peak", "rms"])

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(decode, AUDIO_DECODED_SCHEMA))


# Closed-form oracle: the synthesized square wave's decoded header and
# acoustics are pure arithmetic over doc_id (44-byte canonical PCM header;
# alternating +/-amp, so RMS == peak == amp exactly — no float drift).
AUDIO_DECODE_SQL = """
WITH p AS (
  SELECT doc_id,
         100 + (doc_id % 251) * 99 AS amp,
         2 * (400 + doc_id % 400) AS n_samples,
         8000 + 1000 * (doc_id % 5) AS rate
  FROM documents
)
SELECT doc_id,
       CAST(44 + 2 * n_samples AS BIGINT) AS n_bytes,
       CAST(1 AS INT) AS n_channels,
       CAST(rate AS INT) AS sample_rate,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(amp AS INT) AS peak,
       CAST(amp AS DOUBLE) AS rms
FROM p
"""


FEATURE_EXTRACT_SQL = f"""
WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
b AS (
  SELECT doc_id, CAST(g.i AS INT) AS dim_idx,
         2*{_hexbyte_sql('g.i')} - 255 AS k
  FROM d, generate_series(0, 15) g(i)
),
s AS (SELECT doc_id, sum(CAST(k AS BIGINT) * k) AS ss FROM b GROUP BY doc_id)
SELECT b.doc_id, b.dim_idx, b.k / sqrt(s.ss) AS value
FROM b JOIN s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Real image path (round-11): a stdlib PNG codec — zlib inflate + struct
# chunk parsing + full five-filter un-filtering — so `decode_image` is no
# longer env-gated for PNG (the audio path proved the pattern: real bytes,
# real decoder, closed-form synthetic content the DuckDB oracle reproduces
# without ever parsing the container). JPEG/video remain honestly gated
# (no stdlib codec exists for them).
#
# The generator writes REAL PNGs: grayscale 8-bit, dims and pixel values
# in closed form of doc_id, and — deliberately — scanline filter type
# y % 5, so every one of PNG's five filters (None/Sub/Up/Average/Paeth)
# is exercised by encode AND undone by decode; a wrong un-filter cannot
# reproduce the closed-form pixel stats, which is what makes the oracle a
# genuine decoder check rather than a header check.
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
PNG_DECODED_SCHEMA = ("doc_id long, width int, height int, "
                      "n_pixels bigint, mean_intensity double, "
                      "min_intensity int, max_intensity int")


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 section 6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))


def _synth_png(doc_id: int) -> bytes:
    """Real PNG bytes: grayscale 8-bit, width ``8 + doc_id % 17``,
    height ``5 + doc_id % 11``, pixel(x, y) = (doc_id + x + 3y) % 256,
    scanline filter type ``y % 5``."""
    import struct
    import zlib

    w, h = 8 + doc_id % 17, 5 + doc_id % 11
    raw = bytearray()
    prior = bytes(w)
    for y in range(h):
        line = bytes((doc_id + x + 3 * y) % 256 for x in range(w))
        f = y % 5
        raw.append(f)
        for x in range(w):
            cur = line[x]
            left = line[x - 1] if x else 0
            up = prior[x]
            ul = prior[x - 1] if x else 0
            if f == 0:
                v = cur
            elif f == 1:
                v = cur - left
            elif f == 2:
                v = cur - up
            elif f == 3:
                v = cur - ((left + up) >> 1)
            else:
                v = cur - _paeth(left, up, ul)
            raw.append(v & 0xFF)
        prior = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _decode_png(payload: bytes) -> "tuple[int, int, list[bytes]]":
    """Stdlib PNG decoder for the profile the synth writes (8-bit
    grayscale, any of the five scanline filters, CRC-verified chunks).
    Returns (width, height, pixel rows)."""
    import struct
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, w, h = 8, b"", None, None
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", data[:10])
            if depth != 8 or color != 0:
                raise NotImplementedError(
                    "stdlib PNG decoder handles 8-bit grayscale only; "
                    "other profiles need PIL")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    rows, prior, off = [], bytes(w), 0
    for _ in range(h):
        f = raw[off]
        off += 1
        line = bytearray()
        for x in range(w):
            v = raw[off + x]
            left = line[x - 1] if x else 0
            up = prior[x]
            ul = prior[x - 1] if x else 0
            if f == 1:
                v += left
            elif f == 2:
                v += up
            elif f == 3:
                v += (left + up) >> 1
            elif f == 4:
                v += _paeth(left, up, ul)
            line.append(v & 0xFF)
        off += w
        prior = bytes(line)
        rows.append(prior)
    return w, h, rows


def attach_png_payload(docs: DataFrame) -> DataFrame:
    """doc_id -> real PNG payload (Arrow-batched, built executor-side —
    the audio generator's pattern applied to images)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            yield pd.DataFrame({
                "doc_id": pb["doc_id"],
                "payload": [_synth_png(int(d)) for d in pb["doc_id"]],
            })

    return docs.select("doc_id").mapInPandas(
        gen, "doc_id long, payload binary")


def decode_image_png(binary_df: DataFrame) -> DataFrame:
    """REAL image decode with no external libraries: chunk parse +
    inflate + un-filter through the same Arrow ``mapInPandas`` plumbing
    as every other media stage. Output is pure pixel statistics, all in
    closed form of doc_id for the synth corpus (``PNG_DECODE_SQL``)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            rows = []
            for doc_id, payload in zip(pb["doc_id"], pb["payload"]):
                w, h, px = _decode_png(bytes(payload))
                total = sum(sum(r) for r in px)
                rows.append((doc_id, w, h, w * h,
                             round(total / (w * h), 6),
                             min(min(r) for r in px),
                             max(max(r) for r in px)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "n_pixels",
                "mean_intensity", "min_intensity", "max_intensity"])

    return (binary_df.select("doc_id", "payload")
            .mapInPandas(decode, PNG_DECODED_SCHEMA))


# Closed-form oracle: pixel(x, y) = (doc_id + x + 3y) % 256 unrolled as
# one unnest over w*h linear indices — integer-exact, so the only float
# op is the final mean division, identical in both engines.
PNG_DECODE_SQL = """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 17 AS w, 5 + doc_id % 11 AS h
  FROM documents
),
px AS (
  SELECT doc_id, w, h,
         (doc_id + (i % w) + 3 * (i // w)) % 256 AS v
  FROM (SELECT doc_id, w, h,
               unnest(range(0, w * h)) AS i
        FROM dims)
)
SELECT doc_id,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       CAST(count(*) AS BIGINT) AS n_pixels,
       round(sum(v) / count(*), 6) AS mean_intensity,
       CAST(min(v) AS INT) AS min_intensity,
       CAST(max(v) AS INT) AS max_intensity
FROM px
GROUP BY doc_id
"""
