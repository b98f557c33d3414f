"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with Arrow-batched feature extraction.

The decode tier is REAL for two container formats — PPM (P6) and 24-bit
uncompressed BMP decode in pure numpy (``decode_ppm``/``decode_bmp``,
dispatched by ``decode_image`` on magic bytes), covering header parsing,
BGR order, bottom-up rows and 4-byte row padding. Other formats (JPEG,
PNG, …) fall back to PIL when importable; this container ships no image
library, so they raise NotImplementedError. ``byte_histogram_features``
remains the deterministic embed stand-in. The Spark-side plumbing — binary
column schema, metadata struct, mapInPandas batch shape, partitioning —
matches what a production decode would use.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import worker_task

MEDIA_SCHEMA_DDL = (
    "media_id long, payload binary, meta struct<mime:string, n_bytes:long, "
    "source:string>"
)

FEATURES_DDL = "media_id long, n_bytes long, features array<double>"
COUNTS_DDL = "media_id long, n_bytes long, counts array<long>"

_HAVE_PIL = False
try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except Exception:
    pass


def docs_as_media(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Materialize an opaque-binary media table from the documents fixture
    (payload = utf-8 bytes; in production this is the image/audio blob)."""
    out = docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("long").alias(
                "n_bytes"
            ),
            F.col("source").alias("source"),
        ).alias("meta"),
    )
    # the documents fixture is a single one-row-group parquet file — an
    # unsplittable 1-task scan — and every consumer of this table feeds a
    # Python (mapInPandas/mapInArrow) stage that inherits that single
    # task. One cheap shuffle of the small table makes the whole Python
    # tier core-parallel (guide §2.5 input skew / §4).
    return out.repartition(docs.sparkSession.sparkContext.defaultParallelism)


def encode_ppm(arr: np.ndarray) -> bytes:
    """RGB uint8 array (H, W, 3) → binary PPM (P6, maxval 255)."""
    h, w, c = arr.shape
    assert c == 3
    return b"P6\n%d %d\n255\n" % (w, h) + \
        np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → RGB uint8 array (H, W, 3). Pure numpy — handles
    header comments and arbitrary header whitespace."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    toks, i = [], 2
    while len(toks) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        toks.append(int(payload[i:j]))
        i = j
    w, h, maxval = toks
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    i += 1  # exactly one whitespace byte separates maxval from the raster
    raster = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def encode_bmp(arr: np.ndarray) -> bytes:
    """RGB uint8 array (H, W, 3) → minimal 24-bit uncompressed BMP
    (BITMAPINFOHEADER, bottom-up, BGR, rows padded to 4 bytes)."""
    import struct

    h, w, c = arr.shape
    assert c == 3
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + BGR
    data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54) + \
        struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                    2835, 2835, 0, 0)
    return header + data


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → RGB uint8 array (H, W, 3). Pure numpy —
    handles bottom-up and top-down rows and 4-byte row padding."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = np.frombuffer(payload, np.uint8, count=h * stride,
                         offset=data_off).reshape(h, stride)
    img = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return img if top_down else img[::-1]


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an RGB uint8 array (H, W, 3).

    PPM (P6) and 24-bit BMP decode natively in pure numpy; other formats
    fall back to PIL when importable, else raise NotImplementedError with
    the format sniffed from the magic bytes."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if _HAVE_PIL:  # pragma: no cover - container lacks PIL
        import io

        import PIL.Image

        return np.asarray(
            PIL.Image.open(io.BytesIO(payload)).convert("RGB")
        )
    raise NotImplementedError(
        f"image decode for magic {payload[:4]!r} requires PIL/opencv; "
        "only PPM (P6) and 24-bit BMP decode natively"
    )


def synth_images(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic image table: per doc a small RGB image whose
    pixel bytes follow the closed form p[i] = (doc_id + i) mod 256 over a
    doc-dependent geometry, containerized alternately as PPM (even ids)
    and BMP (odd ids). The closed form makes decoded-pixel statistics
    SQL-computable, so the REAL decode path (container parse + pixel
    recovery) is oracle-checkable end to end."""
    from .. import ensure_shipped

    ensure_shipped(docs.sparkSession)
    src = docs.select(
        F.col(id_col).alias("media_id"),
        (F.lit(8) + F.col(id_col) % 5).cast("int").alias("width"),
        (F.lit(6) + F.col(id_col) % 4).cast("int").alias("height"),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, w, h in zip(pdf["media_id"], pdf["width"],
                                 pdf["height"]):
                px = ((int(mid) + np.arange(w * h * 3)) % 256).astype(
                    np.uint8).reshape(h, w, 3)
                payloads.append(
                    encode_ppm(px) if mid % 2 == 0 else encode_bmp(px)
                )
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "payload": payloads,
            })

    # single-file source: spread the (3-int-column) geometry rows so the
    # encode and the chained decode stages run core-parallel
    src = src.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return src.mapInPandas(worker_task(fn), "media_id long, payload binary")


def image_decode_stats(media: DataFrame) -> DataFrame:
    """Decode each image payload (PPM/BMP sniffed from magic bytes) and
    emit geometry + exact per-channel pixel sums — integer outputs so the
    DuckDB oracle can reproduce them bit-for-bit."""
    from .. import ensure_shipped

    ensure_shipped(media.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "sum_r": [], "sum_g": [], "sum_b": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                h, w, _ = img.shape
                sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        worker_task(fn),
        "media_id long, width int, height int, sum_r long, sum_g long, "
        "sum_b long",
    )


def _batch_histograms(payloads, n_bins: int):
    """Whole-batch byte histograms: ONE frombuffer over the concatenated
    payloads + ONE bincount keyed by (row * n_bins + bin) — no per-row
    Python loop in the hot path."""
    shift = 8 - (n_bins.bit_length() - 1)
    raws = [bytes(r) if r is not None else b"" for r in payloads]
    n = len(raws)
    lengths = np.fromiter((len(r) for r in raws), dtype=np.int64, count=n)
    if n == 0 or int(lengths.sum()) == 0:
        return lengths, np.zeros((n, n_bins), dtype=np.int64)
    blob = np.frombuffer(b"".join(raws), dtype=np.uint8)
    row_ids = np.repeat(np.arange(n, dtype=np.int64), lengths)
    hist = np.bincount(
        row_ids * n_bins + (blob >> shift), minlength=n * n_bins
    ).reshape(n, n_bins)
    return lengths, hist


def byte_histogram_features(df: DataFrame, n_bins: int = 16) -> DataFrame:
    """Deterministic feature extraction over binary payloads via
    mapInPandas: per-row byte histogram (normalized), computed with numpy
    over the whole Arrow batch — the stand-in for decode+embed."""

    from .. import ensure_shipped

    ensure_shipped(df.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lengths, hist = _batch_histograms(pdf["payload"], n_bins)
            feats = (hist / np.maximum(lengths, 1)[:, None]).round(6)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pd.Series(lengths, dtype="int64"),
                    "features": list(feats),
                }
            )

    return df.select("media_id", "payload").mapInPandas(
        worker_task(fn), FEATURES_DDL)


def byte_histogram_counts(df: DataFrame, n_bins: int = 16) -> DataFrame:
    """Integer bin counts variant (exact — used for oracle comparison)."""
    from .. import ensure_shipped

    ensure_shipped(df.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lengths, hist = _batch_histograms(pdf["payload"], n_bins)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pd.Series(lengths, dtype="int64"),
                    "counts": list(hist),
                }
            )

    return df.select("media_id", "payload").mapInPandas(
        worker_task(fn), COUNTS_DDL)


def frame_sample(df: DataFrame, every_n_bytes: int = 256) -> DataFrame:
    """'Frame sampling' stand-in: take every Nth byte of the payload as a
    sample array (JVM-side slicing via transform/sequence — no Python).
    Payloads shorter than the stride yield an EMPTY array — Spark's
    sequence(1, 0) counts DOWN ([1, 0]), so the guard must short-circuit
    instead of clamping the upper bound."""
    n_frames = f"(meta.n_bytes div {every_n_bytes})"
    return df.select(
        "media_id",
        F.expr(
            f"CASE WHEN {n_frames} >= 1 THEN transform(sequence(1, {n_frames}),"
            f" i -> substring(payload, (i - 1) * {every_n_bytes} + 1, 1)) "
            f"ELSE cast(array() as array<binary>) END"
        ).alias("sampled_bytes"),
    )


# ---------------------------------------------------------------------------
# Image resize (nearest-neighbor, pure numpy) — the thumbnail/normalize step
# of a vision-training pipeline. Deterministic integer index mapping
# (src = dst * src_len // dst_len) so the resized pixel grid is closed-form
# reproducible in SQL over the synthetic p[i] = (id + i) % 256 images.
# ---------------------------------------------------------------------------


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W, C) array via integer gather:
    source index = floor(dst_index * src_len / dst_len). One fancy-index
    per axis — no Python pixel loop."""
    h, w = img.shape[:2]
    idx_y = (np.arange(out_h, dtype=np.int64) * h) // out_h
    idx_x = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return img[idx_y][:, idx_x]


def image_resize_stats(media: DataFrame, out_w: int = 16,
                       out_h: int = 12) -> DataFrame:
    """Decode each payload (PPM/BMP via magic sniff), nearest-neighbor
    resize to (out_w, out_h), and emit exact per-channel pixel sums of the
    RESIZED image — integer outputs the DuckDB oracle reproduces
    analytically from the closed-form source pixels."""
    from .. import ensure_shipped

    ensure_shipped(media.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "sum_r": [], "sum_g": [], "sum_b": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = resize_nearest(decode_image(bytes(payload)),
                                     out_w, out_h)
                sums = img.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                out["media_id"].append(mid)
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        worker_task(fn),
        "media_id long, width int, height int, sum_r long, sum_g long, "
        "sum_b long",
    )


# ---------------------------------------------------------------------------
# Audio: PCM WAV (RIFF) encode/decode in pure numpy + feature extraction.
# Real container parsing (chunk walk, fmt/data, 16-bit LE samples); the
# synthetic samples follow s[i] = ((id*31 + i*7) % 65536) - 32768 so sums,
# energy and zero crossings are SQL-reproducible.
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """16-bit mono PCM WAV (RIFF) encoder."""
    import struct

    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a PCM WAV container: RIFF header check, chunk walk to 'fmt '
    and 'data' (tolerating extra chunks), 16-bit mono LE samples. Returns
    (int16 sample array, sample_rate)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            f"audio decode for magic {payload[:4]!r}: only PCM WAV (RIFF) "
            "decodes natively")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from(
            "<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body)
            if fmt != 1 or ch != 1 or bits != 16:
                raise NotImplementedError(
                    "only 16-bit mono PCM WAV decodes natively")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    return data, int(rate)


def synth_audio(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic audio table: per doc a short 16-bit mono PCM
    WAV whose samples follow s[i] = ((doc_id*31 + i*7) % 65536) - 32768,
    with doc-dependent length (400 + (id % 37)*8) and sample rate
    (8000 + (id % 3)*4000). Closed form ⇒ decoded-sample statistics are
    SQL-computable, oracle-checking the REAL container parse end to end."""
    from .. import ensure_shipped

    ensure_shipped(docs.sparkSession)
    src = docs.select(
        F.col(id_col).alias("media_id"),
        (F.lit(400) + (F.col(id_col) % 37) * 8).cast("int").alias("n"),
        (F.lit(8000) + (F.col(id_col) % 3) * 4000).cast("int").alias("rate"),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, n, rate in zip(pdf["media_id"], pdf["n"], pdf["rate"]):
                s = ((int(mid) * 31 + np.arange(int(n), dtype=np.int64) * 7)
                     % 65536) - 32768
                payloads.append(encode_wav(s.astype(np.int16), int(rate)))
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "payload": payloads,
            })

    src = src.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return src.mapInPandas(worker_task(fn), "media_id long, payload binary")


def audio_decode_stats(media: DataFrame) -> DataFrame:
    """Decode each WAV payload and emit integer features: sample count,
    rate, amplitude sum, energy (sum of squares) and rising zero crossings
    (s[i-1] < 0 ≤ s[i]) — the language/VAD-ish audio-quality tier of a
    speech-training pipeline, with bit-exact SQL oracles."""
    from .. import ensure_shipped

    ensure_shipped(media.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "n_samples": [], "sample_rate": [],
                   "amp_sum": [], "energy": [], "rising_crossings": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, rate = decode_wav(bytes(payload))
                v = s.astype(np.int64)
                out["media_id"].append(mid)
                out["n_samples"].append(len(v))
                out["sample_rate"].append(rate)
                out["amp_sum"].append(int(v.sum()))
                out["energy"].append(int((v * v).sum()))
                out["rising_crossings"].append(
                    int(((v[:-1] < 0) & (v[1:] >= 0)).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        worker_task(fn),
        "media_id long, n_samples int, sample_rate int, amp_sum long, "
        "energy long, rising_crossings long",
    )


def resample_nearest(samples: np.ndarray, out_n: int) -> np.ndarray:
    """Nearest-neighbor resample to a fixed length (the rate-normalization
    step of a speech pipeline): source index = floor(dst * n / out_n) —
    the same integer gather map as ``resize_nearest``, so the output is
    closed-form reproducible in SQL."""
    n = len(samples)
    idx = (np.arange(out_n, dtype=np.int64) * n) // out_n
    return samples[idx]


def audio_resample_stats(media: DataFrame, out_n: int = 512) -> DataFrame:
    """Decode each WAV payload, nearest-neighbor resample to ``out_n``
    samples, and emit integer features of the RESAMPLED signal — the
    resample arithmetic itself is oracle-checked analytically."""
    from .. import ensure_shipped

    ensure_shipped(media.sparkSession)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "n_out": [], "amp_sum": [], "energy": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, _ = decode_wav(bytes(payload))
                v = resample_nearest(s, out_n).astype(np.int64)
                out["media_id"].append(mid)
                out["n_out"].append(out_n)
                out["amp_sum"].append(int(v.sum()))
                out["energy"].append(int((v * v).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(
        worker_task(fn), "media_id long, n_out int, amp_sum long, energy long")
