"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

Decode support comes in two tiers:

- **Real kernels, no external libs** (pure numpy/stdlib): binary PPM (P6)
  and PGM (P5) images, uncompressed 24-bit BMP, PCM WAV audio (stdlib
  ``wave``), nearest-neighbor resize, per-channel feature extraction, and
  frame sampling over the PPMV toy container (concatenated P6 frames).
  These run end-to-end in this container and are oracle-tested.
- **Unsupported formats** (JPEG/PNG/MP4/...): need PIL/ffmpeg, which are
  not dependencies; they raise NotImplementedError with the mime named
  (a PIL/ffmpeg kernel would slot into the same dispatch).

All UDFs are Arrow-batched (mapInPandas); batches are capped by
spark.sql.execution.arrow.maxRecordsPerBatch so a partition of large blobs
never materializes at once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# real decode kernels (pure numpy / stdlib)
# ---------------------------------------------------------------------------

PPM_MIME = "image/x-portable-pixmap"
PGM_MIME = "image/x-portable-graymap"
BMP_MIME = "image/bmp"
WAV_MIME = "audio/wav"
PPMV_MIME = "video/x-ppm-frames"  # toy container: concatenated P6 frames


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) / PGM (P5) → (h, w, 3) or (h, w) uint8 array."""
    if not payload or payload[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    # header: magic, width, height, maxval — whitespace/comment separated
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit PPM needs a wide decoder")
    ch = 3 if payload[:2] == b"P6" else 1
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=pos)
    return arr.reshape(h, w, 3) if ch == 3 else arr.reshape(h, w)


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary P6 bytes (test/synth helper)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP (BI_RGB) → (h, w, 3) uint8 RGB array."""
    if not payload or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP supported (bpp={bpp})")
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h), offset=data_off)
    img = rows.reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:  # positive height = bottom-up row order
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR → RGB


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (samples int16 array [n, channels], sample_rate). stdlib
    ``wave`` + numpy; no external audio libs."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as wf:
        n, ch, width, rate = wf.getnframes(), wf.getnchannels(), wf.getsampwidth(), wf.getframerate()
        if width != 2:
            raise NotImplementedError("only 16-bit PCM WAV supported")
        samples = np.frombuffer(wf.readframes(n), dtype=np.int16).reshape(-1, ch)
    return samples, rate


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via index gather (pure numpy)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def split_ppmv(payload: bytes) -> list[bytes]:
    """PPMV toy video container → list of P6 frame payloads."""
    frames, pos = [], 0
    while pos < len(payload):
        nxt = payload.find(b"P6\n", pos + 1)
        frames.append(payload[pos : nxt if nxt != -1 else len(payload)])
        if nxt == -1:
            break
        pos = nxt
    return [f for f in frames if f[:2] == b"P6"]


def _image_feat(img: np.ndarray, out_dim: int = 8) -> np.ndarray:
    """Per-channel mean/std + 2-bin luminance histogram → out_dim floats
    (deterministic, resolution-independent)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    x = img.astype(np.float64) / 255.0
    means, stds = x.mean(axis=(0, 1)), x.std(axis=(0, 1))
    lum = x.mean(axis=2)
    hist = np.histogram(lum, bins=2, range=(0.0, 1.0))[0] / lum.size
    feat = np.concatenate([means, stds, hist])
    return np.resize(feat, out_dim).astype(np.float32)

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

IMAGE_FEATURES_SCHEMA = "media_id long, feat array<float>, decoded_w int, decoded_h int"
FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame binary"


def decode_image(payload: bytes, mime: str) -> np.ndarray:
    """Dispatch to a real decoder by mime; NotImplementedError names the
    formats that need external libs (PIL/libjpeg)."""
    if mime in (PPM_MIME, PGM_MIME):
        return decode_ppm(payload)
    if mime == BMP_MIME:
        return decode_bmp(payload)
    raise NotImplementedError(
        f"decoding {mime!r} requires PIL/libjpeg (not in this container); "
        f"supported lib-free: {PPM_MIME}, {PGM_MIME}, {BMP_MIME}"
    )


def image_features(
    media: DataFrame, out_dim: int = 8, resize_to: int | None = None
) -> DataFrame:
    """binary images → feature vectors. PPM/PGM/BMP decode in pure numpy;
    other mimes raise NotImplementedError (``decode_image``). ``resize_to``
    resizes to a square via nearest-neighbor before feature extraction."""

    def batches(it):
        for pdf in it:
            feats, ws, hs = [], [], []
            for p, mime in zip(pdf["payload"], pdf["mime"]):
                img = decode_image(p, mime)
                hs.append(int(img.shape[0]))
                ws.append(int(img.shape[1]))
                if resize_to:
                    img = resize_nearest(img, resize_to, resize_to)
                feats.append(_image_feat(img, out_dim))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feat": feats,
                    "decoded_w": pd.Series(ws, dtype="int32"),
                    "decoded_h": pd.Series(hs, dtype="int32"),
                }
            )

    return media.filter(F.col("kind") == "image").select(
        "media_id", "payload", "mime"
    ).mapInPandas(batches, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, rms double, zero_cross_rate double, sample_rate int, n_samples long"
)


def audio_features(media: DataFrame) -> DataFrame:
    """PCM WAV audio → (rms, zero-crossing rate, rate, n) — real stdlib
    decode, vectorized numpy features, Arrow-batched."""

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in ("media_id", "rms", "zero_cross_rate", "sample_rate", "n_samples")}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                samples, rate = decode_wav(p)
                x = samples.astype(np.float64).mean(axis=1) / 32768.0
                rows["media_id"].append(mid)
                rows["rms"].append(float(np.sqrt((x**2).mean())) if len(x) else 0.0)
                rows["zero_cross_rate"].append(
                    float((np.diff(np.signbit(x)) != 0).mean()) if len(x) > 1 else 0.0
                )
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(x))
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        batches, schema=AUDIO_FEATURES_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """video binary → sampled frames (one output row per kept frame).
    PPMV containers split and keep every ``every_n``-th frame; other
    containers (mp4 etc.) need ffmpeg and raise NotImplementedError."""

    def batches(it):
        for pdf in it:
            out_ids, out_idx, out_frames = [], [], []
            for mid, payload, mime in zip(pdf["media_id"], pdf["payload"], pdf["mime"]):
                if mime != PPMV_MIME:
                    raise NotImplementedError(
                        f"frame sampling for {mime!r} requires ffmpeg/av; "
                        f"supported lib-free: {PPMV_MIME}"
                    )
                for i, frame in enumerate(split_ppmv(payload or b"")):
                    if i % every_n == 0:
                        out_ids.append(mid)
                        out_idx.append(i)
                        out_frames.append(frame)
            yield pd.DataFrame(
                {"media_id": out_ids, "frame_idx": out_idx, "frame": out_frames}
            )

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload", "mime"
    ).mapInPandas(batches, schema=FRAME_SAMPLE_SCHEMA)


def _synth_wav(rng, n_samples: int = 800, rate: int = 8000) -> bytes:
    import io
    import wave

    t = np.arange(n_samples)
    freq = float(rng.uniform(100, 1000))
    x = (np.sin(2 * np.pi * freq * t / rate) * 12000).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(x.tobytes())
    return buf.getvalue()


def synth_media(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic media table for tests (no external data): decodable
    payloads — P6 PPM images, PCM WAV audio, PPMV videos — so the kernels
    run end-to-end."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "video", "audio"][i % 3]
        w, h = int(rng.integers(8, 64)), int(rng.integers(8, 64))
        dur = int(rng.integers(500, 5000))
        if kind == "image":
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
            payload, mime = encode_ppm(img), PPM_MIME
        elif kind == "video":
            frames = [
                encode_ppm(rng.integers(0, 256, size=(8, 8, 3), dtype=np.int64).astype(np.uint8))
                for _ in range(int(rng.integers(2, 6)))
            ]
            payload, mime = b"".join(frames), PPMV_MIME
        else:
            payload, mime = _synth_wav(rng), WAV_MIME
        rows.append((i, kind, payload, mime, w, h, dur))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
