"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested. Decoding:

- audio: REAL everywhere — PCM WAV via stdlib ``wave`` + numpy
  (decode_wav), upgraded to soundfile for non-WAV formats when present.
- image: REAL everywhere — binary/ascii PPM and uncompressed BMP via a
  pure numpy parser (decode_image), upgraded to PIL for the full format
  zoo when present.
- video: real via av when the deploy image has it; this sandbox doesn't,
  so it falls back to the deterministic fake (fixed-shape float array
  derived from a payload digest), keeping the pipeline testable
  end-to-end. Injecting a decoder with the same signature
  (bytes, kind) -> np.ndarray changes nothing else.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..workers import worker_kernel

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta_width", T.IntegerType(), True),
        T.StructField("meta_height", T.IntegerType(), True),
        T.StructField("meta_sr", T.IntegerType(), True),  # audio sample rate
        T.StructField("meta_frames", T.IntegerType(), True),
    ]
)

Decoder = Callable[[bytes, str], np.ndarray]

# Optional-import wiring (caits/loading/_audio.py:16-72 analog): each media
# kind decodes with its library IF the deploy image has it; this sandbox
# has none, so everything falls back to the deterministic fake and behavior
# is unchanged. A deploy with PIL/soundfile/av needs ZERO code changes.


def _try_import(name: str):
    try:
        return __import__(name)
    except ImportError:
        return None


_PIL_IMAGE = None
if _try_import("PIL") is not None:  # pragma: no cover - not in sandbox image
    from PIL import Image as _PIL_IMAGE  # type: ignore[no-redef]
_SOUNDFILE = _try_import("soundfile")
_AV = _try_import("av")

_KIND_LIB = {"image": "PIL", "audio": "soundfile", "video": "av"}


def has_real_decoder(kind: str) -> bool:
    return {
        "image": True,  # PIL when present, stdlib PPM/BMP always
        "audio": True,  # soundfile when present, stdlib wave for PCM WAV always
        "video": _AV is not None,
    }.get(kind, False)


def decode_wav(payload: bytes) -> np.ndarray:
    """Pure-stdlib PCM WAV decode (caits/loading/_audio.py:16-72 analog).

    `wave` + numpy only — no soundfile needed, so audio decode is REAL in
    environments without media libraries. Handles PCM8 (unsigned), PCM16,
    PCM24, PCM32; multi-channel is mono-mixed by mean. Returns float32
    in [-1, 1]."""
    import io
    import wave as _wave

    with _wave.open(io.BytesIO(payload), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 1:  # unsigned 8-bit
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 3:  # packed 24-bit little-endian -> sign-extend via i4
        b = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        x4 = np.zeros((b.shape[0], 4), dtype=np.uint8)
        x4[:, 1:] = b  # shift left 8; divide by 2^31 below keeps scale
        x = x4.view("<i4").ravel().astype(np.float32) / 2147483648.0
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x.astype(np.float32)


def encode_wav(wave_f32: np.ndarray, sr: int = 16000) -> bytes:
    """Inverse of decode_wav for test/synthesis use: float32 [-1,1] -> PCM16 WAV."""
    import io
    import wave as _wave

    # symmetric with decode_wav's /32768 so round-trip error is pure
    # half-lsb quantization (<= 0.5/32768)
    pcm = np.clip(np.round(np.asarray(wave_f32, dtype=np.float64) * 32768.0), -32768, 32767)
    pcm16 = pcm.astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm16.tobytes())
    return buf.getvalue()


def decode_image(payload: bytes) -> np.ndarray:
    """Pure-stdlib image decode for binary/ascii PPM (P6/P3) and
    uncompressed BI_RGB BMP (24/32-bit) — the image twin of decode_wav,
    so image decode is REAL in environments without PIL
    (caits-style loaders hand this to PIL; the formats here are the two
    self-describing ones parseable from bytes alone). Returns float32
    HxWx3 in [0, 1]."""
    if payload[:2] in (b"P6", b"P3"):
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    raise ValueError("not a PPM (P6/P3) or BMP payload")


def _decode_ppm(payload: bytes) -> np.ndarray:
    # header tokens (magic, w, h, maxval) separated by whitespace, with
    # '#' comments running to end-of-line; P6 pixel data starts after the
    # single whitespace byte following maxval
    pos, toks = 0, []
    while len(toks) < 4:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        toks.append(payload[start:pos])
    magic, w, h, maxval = toks[0], int(toks[1]), int(toks[2]), int(toks[3])
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        raise ValueError(f"bad PPM geometry {w}x{h} maxval={maxval}")
    n = w * h * 3
    if magic == b"P3":
        vals = np.array(payload[pos:].split()[:n], dtype=np.int64)
        if vals.size != n:
            raise ValueError("truncated P3 pixel data")
    else:
        pos += 1  # exactly one whitespace byte after maxval
        if maxval < 256:
            vals = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
        else:  # 2-byte samples, big-endian per the spec
            vals = np.frombuffer(payload, dtype=">u2", count=n, offset=pos)
    return (vals.reshape(h, w, 3).astype(np.float32)) / float(maxval)


def _decode_bmp(payload: bytes) -> np.ndarray:
    import struct

    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP DIB header size {hdr_size}")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"only uncompressed 24/32-bit BI_RGB supported (bpp={bpp})")
    top_down, h = h < 0, abs(h)
    if w <= 0 or h == 0:
        raise ValueError(f"bad BMP geometry {w}x{h}")
    nb = bpp // 8
    stride = (w * nb + 3) // 4 * 4  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    px = rows.reshape(h, stride)[:, : w * nb].reshape(h, w, nb)
    if not top_down:
        px = px[::-1]
    rgb = px[:, :, 2::-1]  # BGR(A) -> RGB
    return rgb.astype(np.float32) / 255.0


def encode_ppm(img01: np.ndarray) -> bytes:
    """float [0,1] HxWx3 -> binary P6 PPM (maxval 255); decode_image inverse
    up to 8-bit quantization — for tests and synth_image_media."""
    a = np.clip(np.round(np.asarray(img01, dtype=np.float64) * 255.0), 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def encode_bmp(img01: np.ndarray) -> bytes:
    """float [0,1] HxWx3 -> 24-bit bottom-up BI_RGB BMP."""
    import struct

    a = np.clip(np.round(np.asarray(img01, dtype=np.float64) * 255.0), 0, 255).astype(np.uint8)
    h, w, _ = a.shape
    stride = (w * 3 + 3) // 4 * 4
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    pix = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + pix


def real_decoder(payload: bytes, kind: str) -> np.ndarray:
    """Decode with the kind's library (PIL / soundfile / av) when present.

    image -> float32 HxWxC array /255; audio -> mono float32 waveform;
    video -> first frame as float32 HxWxC /255. Raises with injection
    instructions when the library is missing (sandbox case).
    """
    import io

    if kind == "image":
        if _PIL_IMAGE is not None:  # pragma: no cover - not in sandbox image
            img = _PIL_IMAGE.open(io.BytesIO(payload))
            return np.asarray(img, dtype=np.float32) / 255.0
        return decode_image(payload)  # stdlib PPM/BMP: real in this sandbox
    if kind == "audio":
        if _SOUNDFILE is not None:  # pragma: no cover - not in sandbox image
            wave, _sr = _SOUNDFILE.read(io.BytesIO(payload), dtype="float32")
            return wave.mean(axis=1) if wave.ndim == 2 else wave
        return decode_wav(payload)  # stdlib path: real in this sandbox
    if kind == "video" and _AV is not None:  # pragma: no cover
        with _AV.open(io.BytesIO(payload)) as container:
            for frame in container.decode(video=0):
                return frame.to_ndarray(format="rgb24").astype(np.float32) / 255.0
        raise ValueError("video payload contains no frames")
    raise NotImplementedError(
        f"decoding kind={kind!r} requires {_KIND_LIB.get(kind, 'a media lib')}; "
        "install it or inject a decoder with signature (bytes, kind) -> np.ndarray"
    )


def auto_decoder(payload: bytes, kind: str, strict: bool = False) -> np.ndarray:
    """real_decoder when the kind's library can handle this payload,
    fake_decoder otherwise — the decode path upgrades itself on a
    fully-provisioned image.

    The stdlib paths only claim payloads their parsers can actually read,
    sniffed by magic — RIFF for audio without soundfile, P6/P3/BM for
    images without PIL; other bytes fall back to the fake, so synthetic
    digest payloads keep working unchanged. A payload that
    LOOKS decodable but isn't (b'RIFF' prefix on an AVI container, a
    truncated WAV, corrupt image bytes) also falls back rather than
    killing the whole Spark task/batch; pass strict=True to re-raise
    decode errors instead (debugging a decode regression)."""
    if kind == "audio" and _SOUNDFILE is None and payload[:4] != b"RIFF":
        return fake_decoder(payload, kind)
    if kind == "image" and _PIL_IMAGE is None and payload[:2] not in (b"P6", b"P3", b"BM"):
        return fake_decoder(payload, kind)
    if has_real_decoder(kind):
        try:
            return real_decoder(payload, kind)
        except Exception:
            if strict:
                raise
            return fake_decoder(payload, kind)
    return fake_decoder(payload, kind)


def fake_decoder(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in: 64 float32 features from a payload digest."""
    h = hashlib.sha256(payload).digest()
    seed = int.from_bytes(h[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    return rng.normal(0, 1, 64).astype(np.float32)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes)."""

    @worker_kernel
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.default_rng([seed, int(i)])
                kind = kinds[int(i) % 3]
                payload = rng.bytes(256 + int(i) % 512)
                rows.append(
                    {
                        "media_id": f"m-{int(i):06d}",
                        "kind": kind,
                        "payload": payload,
                        "meta_width": 64 if kind == "image" else None,
                        "meta_height": 64 if kind == "image" else None,
                        "meta_sr": 16000 if kind == "audio" else None,
                        "meta_frames": 30 if kind == "video" else None,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_image_media(spark, n: int = 16, seed: int = 42, w: int = 24,
                      h: int = 16) -> DataFrame:
    """Synthetic image table whose payloads are GENUINE image bytes —
    alternating binary PPM (P6) and 24-bit BMP of a deterministic
    per-row gradient+noise pattern — so the stdlib decode path is
    exercised end-to-end through Spark, mirroring synth_wav_media."""

    @worker_kernel
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.default_rng([seed, int(i)])
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack(
                    [
                        (xx / max(w - 1, 1)),
                        (yy / max(h - 1, 1)),
                        rng.uniform(0, 1, (h, w)),
                    ],
                    axis=-1,
                )
                payload = encode_ppm(img) if int(i) % 2 == 0 else encode_bmp(img)
                rows.append(
                    {
                        "media_id": f"img-{int(i):06d}",
                        "kind": "image",
                        "payload": payload,
                        "meta_width": w,
                        "meta_height": h,
                        "meta_sr": None,
                        "meta_frames": None,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_wav_media(spark, n: int = 16, seed: int = 42, sr: int = 16000,
                    n_samples: int = 800) -> DataFrame:
    """Synthetic audio table whose payloads are GENUINE PCM16 WAV bytes
    (deterministic per-row sinusoid + noise), so the stdlib decode path is
    exercised end-to-end through Spark, not just unit-tested."""

    @worker_kernel
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.default_rng([seed, int(i)])
                f0 = 100.0 + 37.0 * (int(i) % 11)
                t = np.arange(n_samples) / sr
                wave = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.05 * rng.normal(0, 1, n_samples)
                rows.append(
                    {
                        "media_id": f"wav-{int(i):06d}",
                        "kind": "audio",
                        "payload": encode_wav(wave.astype(np.float32), sr),
                        "meta_width": None,
                        "meta_height": None,
                        "meta_sr": sr,
                        "meta_frames": None,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def pool_features(arr: np.ndarray, dim: int = 64) -> np.ndarray:
    """Mean-pool a raveled decode output to a FIXED feature dim.

    Real decodes return shape-dependent arrays (full-res pixels, whole
    waveforms); downstream ANN/LSH consumers fold over dim-64 embeddings
    and would silently produce nulls on anything else. Pooling here pins
    the contract: split the raveled signal into `dim` contiguous chunks
    and mean each (zero-pad the tail chunk)."""
    flat = np.asarray(arr, dtype=np.float32).ravel()
    if flat.size == dim:
        return flat
    if flat.size < dim:
        return np.pad(flat, (0, dim - flat.size))
    n = int(np.ceil(flat.size / dim)) * dim
    padded = np.pad(flat, (0, n - flat.size))
    return padded.reshape(dim, -1).mean(axis=1).astype(np.float32)


def extract_features(
    media: DataFrame,
    decoder: Decoder = auto_decoder,
    max_batch_bytes: int = 64 << 20,
    feature_dim: int = 64,
) -> DataFrame:
    """binary payload -> fixed-dim embedding via Arrow-batched kernel.

    mapInPandas keeps payloads off the driver and lets the decoder run
    per batch; partitioning is whatever the upstream scan gives (binary
    payloads dominate size, so files are the natural unit). Every decode
    output is pooled to exactly `feature_dim` floats (pool_features), so
    the embedding column has one consistent shape whether the decoder is
    the 64-feature fake or a real full-resolution decode.

    Arrow's maxRecordsPerBatch is ROW-count based — 256 rows of multi-MB
    payloads is gigabytes resident — so the kernel re-slices each incoming
    batch on CUMULATIVE PAYLOAD BYTES (max_batch_bytes) and yields per
    slice, bounding peak decode memory regardless of payload size."""

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            feats = [
                pool_features(decoder(bytes(p), k), feature_dim)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            bad = [f.shape for f in feats if f.shape != (feature_dim,)]
            assert not bad, f"pooled embedding shape drifted: {bad[:3]}"
            return pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "embedding": feats,
                    "payload_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sizes = pdf["payload"].map(len).to_numpy(dtype=np.int64)
            cum = np.cumsum(sizes)
            start = 0
            base = 0
            for i in range(len(pdf)):
                if cum[i] - base > max_batch_bytes and i > start:
                    yield emit(pdf.iloc[start:i])
                    start = i
                    base = cum[i - 1]
            yield emit(pdf.iloc[start:])

    return media.mapInPandas(
        kernel,
        schema="media_id string, kind string, embedding array<float>, payload_bytes long",
    )


def frame_sample(media: DataFrame, every: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: emits (media_id, frame_idx) rows from
    metadata; the per-frame decode plugs into extract_features."""
    v = media.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta_frames") - 1, F.lit(every))
        ).alias("frame_idx"),
    )


def load_audio_resampled(media: DataFrame, target_sr: int = 8000,
                         decoder: Decoder = auto_decoder) -> DataFrame:
    """wav_loader parity (caits/loading/_audio.py:55-62): decode audio then
    resample to target_sr AT LOAD TIME via the real polyphase resampler
    (functions/dsp2.resample_signal). WAV payloads decode for real via
    stdlib decode_wav; non-WAV audio without soundfile uses the fake."""
    from ..functions.dsp2 import resample_signal

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload, kind, sr in zip(
                pdf["media_id"], pdf["payload"], pdf["kind"], pdf["meta_sr"]
            ):
                if kind != "audio":
                    continue
                wave = decoder(bytes(payload), kind).astype(np.float64)
                sr = int(sr)
                out = resample_signal(wave, sr, target_sr) if sr != target_sr else wave
                rows.append((mid, target_sr, int(out.size), float(np.abs(out).max())))
            yield pd.DataFrame(rows, columns=["media_id", "sr", "n_samples", "peak"])

    return media.mapInPandas(
        kernel, schema="media_id string, sr int, n_samples int, peak double"
    )
