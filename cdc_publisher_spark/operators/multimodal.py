"""Multimodal column plumbing (SURVEY.md north star: image/audio/video
as opaque binary columns with typed metadata).

The engine treats media as ``binary`` payloads + a typed metadata
struct, processed by Arrow-batched ``mapInPandas`` operators — the
right shape for 100 TB media processing because:

- binary columns stream through Arrow in large batches (no per-row
  serialization);
- decode/resize/feature-extract are embarrassingly parallel per
  partition; repartitioning by size class balances skew from mixed
  media sizes;
- metadata lives columnar next to the blob, so pruning/filtering
  (e.g. ``media_type = 'image/png'``) never touches bytes.

Codec status: uncompressed formats decode for REAL with zero
dependencies — :func:`builtin_decoder` parses binary PPM (P6) images
and PCM WAV audio from raw bytes (header walk + numpy pixel/sample
math), and :func:`builtin_resizer` does nearest-neighbor PPM resizing
with a true P6 re-encode. Compressed formats (JPEG/PNG/MP3/H.264)
stay behind the :func:`register_decoder` seam because the container
ships no codecs: the default decoder raises ``NotImplementedError``
and tests may use the clearly-marked :func:`fake_decoder`. Schema,
batch iteration, UDF signatures, and partitioning are identical for
both paths, so installing a PIL/ffmpeg decoder changes no plumbing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # MIME
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("source", T.StringType()),
                    T.StructField("captured_at", T.StringType()),
                    T.StructField("declared_width", T.IntegerType()),
                    T.StructField("declared_height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

#: decode(payload bytes, media_type) -> dict(width, height, n_channels, mean_luma)
Decoder = Callable[[bytes, str], dict[str, Any]]

_DECODER: Decoder | None = None


def register_decoder(decoder: Decoder) -> None:
    """Install a real codec (e.g. PIL/ffmpeg-based) for decode paths."""
    global _DECODER
    _DECODER = decoder


def fake_decoder(payload: bytes, media_type: str) -> dict[str, Any]:
    """Deterministic stand-in decoder: stats derived from a blake2b of
    the payload. Keeps every byte of the plumbing testable without
    codecs; DO NOT ship as a real decoder."""
    import hashlib

    digest = hashlib.blake2b(payload, digest_size=16).digest()
    return {
        "width": 16 + digest[0],
        "height": 16 + digest[1],
        "n_channels": 1 + digest[2] % 4,
        "mean_luma": digest[3] / 255.0,
    }


def _parse_ppm(payload: bytes) -> tuple[int, int, int, memoryview]:
    """Parse a binary PPM (P6) header: magic, width, height, maxval,
    then raw RGB bytes. Whitespace-tolerant, '#' comments allowed —
    the full netpbm grammar for P6."""
    if payload[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and comment lines
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = fields
    raster = memoryview(payload)[pos : pos + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError(f"truncated PPM raster: want {w * h * 3}, got {len(raster)}")
    return w, h, maxval, raster


def decode_ppm(payload: bytes) -> dict[str, Any]:
    """Real, dependency-free image decode: binary PPM (P6).

    mean_luma is the Rec.601 luma of the actual pixels, normalized by
    maxval — computed from the decoded raster, not a hash."""
    import numpy as np

    w, h, maxval, raster = _parse_ppm(payload)
    px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3).astype(np.float64)
    luma = (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]) / maxval
    return {
        "width": w,
        "height": h,
        "n_channels": 3,
        "mean_luma": float(luma.mean()),
    }


def decode_wav(payload: bytes) -> dict[str, Any]:
    """Real, dependency-free audio decode: RIFF/WAVE with 8- or 16-bit
    PCM. Feature mapping onto the shared decode schema: width =
    frames per channel, height = sample rate, n_channels = channels,
    mean_luma = mean absolute amplitude normalized to [0, 1]."""
    import numpy as np

    samples, rate, channels = wav_samples(payload)
    frames = len(samples) // max(channels, 1)
    return {
        "width": int(frames),
        "height": int(rate),
        "n_channels": int(channels),
        "mean_luma": float(np.abs(samples).mean()) if len(samples) else 0.0,
    }


def wav_samples(payload: bytes):
    """Raw PCM decode shared by the metadata decoder and the audio
    fingerprint: (interleaved float64 samples in [-1, 1], rate,
    channels). RIFF chunk walk, 8- or 16-bit PCM only."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt: tuple[int, int, int] | None = None  # (channels, rate, bits)
    data: bytes | None = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_format, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if audio_format != 1:
                raise ValueError(f"only PCM wav supported, got format {audio_format}")
            fmt = (channels, rate, bits)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav missing fmt/data chunk")
    channels, rate, bits = fmt
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:  # 8-bit wav is unsigned, midpoint 128
        samples = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM bit depth {bits}")
    return samples, int(rate), int(channels)


def builtin_decoder(payload: bytes, media_type: str) -> dict[str, Any]:
    """Dependency-free decoder for the uncompressed formats; raises for
    compressed types until :func:`register_decoder` installs a codec."""
    if media_type in ("image/x-portable-pixmap", "image/ppm"):
        return decode_ppm(payload)
    if media_type in ("audio/wav", "audio/x-wav", "audio/wave"):
        return decode_wav(payload)
    raise NotImplementedError(
        f"no built-in decoder for {media_type}; call register_decoder() "
        "with a codec-backed implementation (PIL/ffmpeg not installed "
        "in the test container)"
    )


def _decoder() -> Decoder:
    return _DECODER if _DECODER is not None else builtin_decoder


DECODED_FIELDS = "media_id long, media_type string, n_bytes long, sha256 string, width int, height int, n_channels int, mean_luma double"


def _ship_module_by_value(module: str) -> None:
    """Make the functions of the imported module named ``module``
    pickle BY VALUE into executor closures (cloudpickle default is
    by-reference for importable modules, which breaks driver-contract
    sessions whose executors cannot import the engine package)."""
    import sys

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[module])
    except Exception:
        pass  # older cloudpickle: local-mode tests still work


def decode_media(df: DataFrame, batch_wise: bool = True) -> DataFrame:
    """mapInPandas decode: binary in, per-media features out.

    The closure captures the registered decoder by value; Arrow moves
    payload batches, Python touches each blob once.
    """
    _ship_module_by_value(__name__)
    decoder = _decoder()

    def batches(it: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in it:
            feats = [decoder(p, t) for p, t in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "sha256": [hashlib.sha256(p).hexdigest() for p in pdf["payload"]],
                    "width": [f["width"] for f in feats],
                    "height": [f["height"] for f in feats],
                    "n_channels": [f["n_channels"] for f in feats],
                    "mean_luma": [f["mean_luma"] for f in feats],
                }
            )

    return df.mapInPandas(batches, schema=DECODED_FIELDS)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands (media_id, frame_idx) rows
    for frames 0, n, 2n, ... based on declared metadata — pure
    expressions; the actual frame decode goes through decode_media once
    a codec is registered."""
    n_frames = F.coalesce(F.col("meta.declared_width"), F.lit(0))  # stand-in frame count
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def media_size_stats(df: DataFrame) -> DataFrame:
    """Metadata-only profile: never reads payload bytes beyond length —
    check the plan: the binary column is pruned when stats are computed
    from meta columns only."""
    return (
        df.groupBy("media_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("payload").cast("bigint")).alias("total_bytes"),
            F.round(F.avg(F.length("payload")), 2).alias("avg_bytes"),
        )
    )


RESIZED_FIELDS = "media_id long, media_type string, target_w int, target_h int, payload binary, n_bytes long"

_RESIZER: Callable[[bytes, str, int, int], bytes] | None = None


def register_resizer(resizer: Callable[[bytes, str, int, int], bytes]) -> None:
    """Install a real resize codec: (payload, media_type, w, h) -> bytes."""
    global _RESIZER
    _RESIZER = resizer


def fake_resizer(payload: bytes, media_type: str, w: int, h: int) -> bytes:
    """Deterministic stand-in: truncate/extend the payload to a
    size proportional to the target area. Plumbing-only — replace via
    register_resizer for real media."""
    import hashlib

    target = max(16, (w * h) // 8)
    seed = hashlib.blake2b(payload, digest_size=32).digest()
    return (seed * (target // 32 + 1))[:target]


def encode_ppm(px, maxval: int = 255) -> bytes:
    """Re-encode an (h, w, 3) uint8 array as binary PPM (P6)."""
    import numpy as np

    arr = np.asarray(px, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n%d\n" % (w, h, maxval) + arr.tobytes()


def builtin_resizer(payload: bytes, media_type: str, w: int, h: int) -> bytes:
    """Real, dependency-free resize for binary PPM: nearest-neighbor
    index mapping on the decoded raster, re-encoded as P6. Compressed
    formats still need register_resizer."""
    import numpy as np

    if media_type not in ("image/x-portable-pixmap", "image/ppm"):
        raise NotImplementedError(
            f"no built-in resizer for {media_type}; call register_resizer()"
        )
    sw, sh, maxval, raster = _parse_ppm(payload)
    src = np.frombuffer(raster, dtype=np.uint8).reshape(sh, sw, 3)
    rows = (np.arange(h) * sh) // h
    cols = (np.arange(w) * sw) // w
    return encode_ppm(src[rows][:, cols], maxval)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """mapInPandas resize: emits re-encoded payloads at (width, height).

    Same Arrow-batched shape as decode_media; PPM resizes via the
    dependency-free builtin_resizer, other formats need a registered
    codec (the test container has none — SURVEY north-star seam).
    """
    _ship_module_by_value(__name__)
    resizer = _RESIZER if _RESIZER is not None else builtin_resizer

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            out = [resizer(p, t, width, height) for p, t in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "target_w": width,
                    "target_h": height,
                    "payload": out,
                    "n_bytes": [len(b) for b in out],
                }
            )

    return df.mapInPandas(batches, schema=RESIZED_FIELDS)


# --------------------------------------------------------------------------
# Perceptual image hashing (dHash) over decoded payloads
# --------------------------------------------------------------------------


def synth_ppm_from_text(text: str, w: int = 16, h: int = 16) -> bytes:
    """Deterministic P6 image derived from a document's words: the
    pixel stream is the concatenation of per-word md5 digests, tiled to
    w*h*3 bytes. Identical text => identical image, so the image-dedup
    path can be exercised against the text tables the driver ships
    (the container has no real image corpus or codecs)."""
    import hashlib

    import numpy as np

    toks = text.split() or [""]
    need = w * h * 3
    buf = bytearray()
    i = 0
    while len(buf) < need:
        buf += hashlib.md5(toks[i % len(toks)].encode("utf-8")).digest()
        i += 1
    px = np.frombuffer(bytes(buf[:need]), dtype=np.uint8).reshape(h, w, 3)
    return encode_ppm(px)


def dhash64(payload: bytes) -> int:
    """64-bit difference hash of a binary PPM: decode, Rec.601 luma,
    nearest-neighbor downsample to 9x8, then one bit per horizontally
    adjacent brighter-than comparison. Returned as a SIGNED 64-bit int
    so it shuffles as a fixed-width Spark LongType key."""
    import numpy as np

    w, h, maxval, raster = _parse_ppm(payload)
    px = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3).astype(np.float64)
    luma = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(9) * w) // 9
    g = luma[rows][:, cols]
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


DHASH_FIELDS = "media_id long, dhash long"


def image_dhash(df: DataFrame) -> DataFrame:
    """mapInPandas perceptual hash: (media_id, payload) -> (media_id,
    dhash). Arrow moves the binary batches; each blob is decoded once.
    At 100 TB this is the canonical image-near-dup signature pass —
    the 8-byte dhash is what shuffles, never the pixels."""
    _ship_module_by_value(__name__)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [dhash64(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(batches, schema=DHASH_FIELDS)


# --------------------------------------------------------------------------
# Audio fingerprinting (VERDICT r10 ask #2): Haitsma–Kalker-style
# band-energy bits over the PCM WAV payloads the real decoder above
# already parses. Reference: J. Haitsma & T. Kalker, "A Highly Robust
# Audio Fingerprinting System" (ISMIR 2002) — 33 log-spaced spectral
# bands per frame, one bit per band-pair from the sign of the
# energy-difference difference across (band, time). This is the k55
# dHash pattern for audio: Arrow-batched mapInPandas, and the only
# thing that ever shuffles is (media_id, frame, 32-bit sub-fingerprint)
# — three longs per frame, never the waveform.
# --------------------------------------------------------------------------

#: Fingerprint layout constants: 8 frames × 32 bits = a 256-bit
#: fingerprint per clip. 33 bands give exactly 32 band-differences =
#: 32 bits per frame (the HK sub-fingerprint width). Frames here are
#: non-overlapping equal slices of the clip (HK overlaps frames 31/32
#: for shift robustness; the deterministic synth corpus needs no shift
#: invariance, and the layout constant is what a deployment tunes).
AUDIO_FP_FRAMES = 8
AUDIO_FP_BANDS = 33


#: Per-process memo for the word→tone waveform (r14: the md5 + sine
#: evaluation per (tile, word) was ~a third of the audio chain's
#: synth time, and corpus vocabulary is Zipfian so the hit rate is
#: high). Values are the EXACT arrays the uncached formula produces —
#: a pure memo, pinned by tests/test_audio_vectorized.py. Bounded so
#: an adversarial vocabulary can't grow executor memory unboundedly
#: (~100k × samples_per_word float64 ≈ 50 MB ceiling per worker).
_TONE_CACHE: dict = {}
_TONE_CACHE_MAX = 100_000


def _synth_tone(key: str, rate: int, samples_per_word: int):
    """amp·sin tone for one tile-salted word — memoized verbatim."""
    import hashlib

    import numpy as np

    ck = (key, rate, samples_per_word)
    tone = _TONE_CACHE.get(ck)
    if tone is None:
        d = hashlib.md5(key.encode("utf-8")).digest()
        freq = 200.0 + (int.from_bytes(d[:4], "big") % 1600)
        amp = 0.3 + 0.7 * (d[4] / 255.0)
        t = np.arange(samples_per_word, dtype=np.float64)
        tone = amp * np.sin(2.0 * np.pi * freq * t / rate)
        tone.setflags(write=False)  # shared across callers — freeze
        if len(_TONE_CACHE) < _TONE_CACHE_MAX:
            _TONE_CACHE[ck] = tone
    return tone


def synth_wav_from_text(
    text: str,
    rate: int = 4000,
    samples_per_word: int = 64,
    min_samples: int = 2048,
    max_words: int = 256,
) -> bytes:
    """Deterministic 16-bit PCM WAV derived from a document's words:
    each word maps (via md5) to a sine tone with its own frequency in
    [200, 1800] Hz and amplitude in [0.3, 1.0]; the tone sequence is
    tiled until ``min_samples`` (so even a one-word doc yields all
    AUDIO_FP_FRAMES frames) and capped at ``max_words`` tones.
    Identical text => identical audio, the synth_ppm_from_text
    convention — the container ships no audio corpus or codecs, so the
    fingerprint path is exercised against the driver's text tables.

    Tokenization is ``split(' ')`` — single-space, empties kept — NOT
    ``split()``: the k107/k108 oracles count words with DuckDB's
    ``string_split(text, ' ')``, and the clip-length closed form only
    stays EXACT cross-engine if both sides tokenize identically. On
    the shipped fixtures (single-space-joined tokens) the two agree,
    but a future fixture with doubled spaces/tabs/newlines would
    silently hash-diverge under ``split()`` (ADVICE r11)."""
    import struct

    import numpy as np

    toks = (text.split(" ") or [""])[:max_words]
    # short docs extend by CYCLING the words with a tile-salted hash —
    # verbatim tiling would make every fingerprint frame identical and
    # the time-difference bits all zero, turning (frame>=1, subfp=0)
    # into a hot candidate bucket across all short docs
    n_tones = max(len(toks), -(-min_samples // samples_per_word))
    tones = [
        _synth_tone(f"{j // len(toks)}#{toks[j % len(toks)]}", rate, samples_per_word)
        for j in range(n_tones)
    ]
    sig = np.concatenate(tones)[: max(min_samples, len(toks) * samples_per_word)]
    pcm = (np.clip(sig, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def audio_fp_frames(
    payload: bytes,
    n_frames: int = AUDIO_FP_FRAMES,
    n_bands: int = AUDIO_FP_BANDS,
) -> list[int]:
    """The HK-style fingerprint of one WAV payload: ``n_frames``
    32-bit sub-fingerprints (unsigned ints in [0, 2^32)). Per frame:
    rFFT power spectrum, ``n_bands`` log-spaced bands, band-energy
    differences d[m] = E[m] - E[m+1], and bit m set iff
    d[m] - d_prev_frame[m] > 0 (frame 0 compares against zeros, i.e.
    the plain band-difference sign). Deterministic pure-numpy math —
    no codec dependencies."""
    import numpy as np

    samples, rate, channels = wav_samples(payload)
    mono = (
        samples.reshape(-1, channels).mean(axis=1) if channels > 1 else samples
    )
    if len(mono) < n_frames:
        mono = np.pad(mono, (0, n_frames - len(mono)))
    L = len(mono) // n_frames
    # All frames batched through ONE rfft call and per-band COLUMN
    # sums instead of a per-frame Python loop (r14: the monitor-suite
    # per-consumer breakdown named this chain the trigger wall; the
    # frame loop's ~n_frames·n_bands interpreter-level slice sums were
    # most of the Python time). BIT-EXACT with the original loop —
    # pinned by tests/test_audio_vectorized.py against the loop twin:
    # pocketfft transforms rows independently, axis-1 pairwise
    # summation matches the 1-D case, and the d/prev recurrence is the
    # same values shifted.
    spec = np.abs(np.fft.rfft(mono[: n_frames * L].reshape(n_frames, L), axis=1)) ** 2
    # log-spaced band edges over the positive-frequency bins; with
    # short frames geomspace repeats integer edges — empty bands
    # sum to 0, which is fine (the bits compare differences)
    edges = np.geomspace(1, max(spec.shape[1], 2), n_bands + 1).astype(int)
    e = np.stack(
        [spec[:, a:b].sum(axis=1) for a, b in zip(edges[:-1], edges[1:])],
        axis=1,
    )  # n_frames × n_bands
    d = e[:, :-1] - e[:, 1:]
    dprev = np.vstack([np.zeros((1, n_bands - 1)), d[:-1]])
    bits = (d - dprev) > 0
    w = bits[:, :32].astype(np.int64) @ (
        np.int64(1) << np.arange(min(32, n_bands - 1), dtype=np.int64)
    )
    return [int(x) for x in w]


AUDIO_FP_FIELDS = "media_id long, frame int, subfp long"


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """mapInPandas fingerprint pass: (media_id, payload) ->
    (media_id, frame, subfp) — AUDIO_FP_FRAMES rows per clip. The
    canonical audio-near-dup signature pass at 100 TB: waveforms stay
    inside the Arrow batch; three longs per frame shuffle."""
    _ship_module_by_value(__name__)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ids, frames, fps = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for fi, w in enumerate(audio_fp_frames(p)):
                    ids.append(mid)
                    frames.append(fi)
                    fps.append(w)
            yield pd.DataFrame(
                {"media_id": ids, "frame": frames, "subfp": fps}
            )

    return df.mapInPandas(batches, schema=AUDIO_FP_FIELDS)


def audio_candidate_pairs(fp: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Banded candidate join over sub-fingerprints — the k3 LSH
    machinery with (frame, subfp) as the bucket key: two clips are
    candidates iff ANY frame's 32-bit sub-fingerprint matches exactly
    (the HK lookup strategy: a matching sub-fingerprint indexes the
    candidate set; the full 256-bit Hamming check then verifies).
    Bucket mass is n·P(subfp collision) per frame — bounded like a
    band-hash bucket, never all-pairs. Returns distinct (d1, d2),
    d1 < d2."""
    a = fp.select(F.col(id_col).alias("d1"), "frame", "subfp")
    b = fp.select(F.col(id_col).alias("d2"), "frame", "subfp")
    return (
        a.join(b, ["frame", "subfp"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def audio_hamming_pairs(
    fp: DataFrame,
    cands: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """Exact verify for candidate pairs: total Hamming distance over
    the full fingerprint, all JVM-side — join each side's frame rows,
    bit_count(xor) per frame, sum. Output (d1, d2, hamming) with
    hamming in [0, AUDIO_FP_FRAMES*32]."""
    f1 = fp.select(
        F.col(id_col).alias("d1"), "frame", F.col("subfp").alias("s1")
    )
    f2 = fp.select(
        F.col(id_col).alias("d2"), "frame", F.col("subfp").alias("s2")
    )
    return (
        cands.join(f1, "d1")
        .join(f2, ["d2", "frame"])
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
            .cast("long")
            .alias("hamming")
        )
    )


def synth_media_from_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(media_id, payload) WAV clips synthesized deterministically from
    a text column — the shared adapter the k106/k107 queries and the
    streaming audio-dup monitor use to exercise the REAL decode and
    fingerprint paths against the driver's text tables (the container
    ships no audio corpus).

    Repartitions on the id before the mapInPandas: synth + any
    downstream decode/FFT is Python work, and a small parquet source
    arrives as one partition — without the spread the whole modality
    pass runs serial on one core (measured 9.4 s -> ~1 s at sf0.1).
    The same rule at 100 TB: CPU-bound media passes want an even
    hash spread, not the source's file-size-driven partitioning."""
    _ship_module_by_value(__name__)

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": [synth_wav_from_text(t) for t in pdf[text_col]],
                }
            )

    from cdc_publisher_spark.operators.layout import aligned_repartition

    return aligned_repartition(
        df.select(id_col, text_col), id_col
    ).mapInPandas(batches, schema="media_id long, payload binary")


DECODED_TOLERANT_FIELDS = (
    DECODED_FIELDS + ", ok boolean, err string"
)


def decode_media_tolerant(df: DataFrame, batch_wise: bool = True) -> DataFrame:
    """decode_media with the dead-letter contract: a payload the
    decoder rejects yields a row with ``ok=false``, the exception text
    in ``err``, and NULL feature columns — it never fails the batch.
    The CDC pipeline's split_wire discipline (streaming/pipeline.py)
    applied to media: at 100 TB some blobs WILL be truncated or
    mislabeled, and one bad byte string must cost one quarantined row,
    not a stage retry storm. Filter ``ok`` downstream; route ``NOT
    ok`` rows to the quarantine sink with their err reason."""
    _ship_module_by_value(__name__)
    decoder = _decoder()

    def batches(it: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in it:
            rows = []
            for mid, mt, p in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"]
            ):
                base = {
                    "media_id": mid,
                    "media_type": mt,
                    "n_bytes": len(p),
                    "sha256": hashlib.sha256(p).hexdigest(),
                }
                try:
                    f = decoder(p, mt)
                    rows.append(
                        base
                        | {
                            "width": f["width"],
                            "height": f["height"],
                            "n_channels": f["n_channels"],
                            "mean_luma": f["mean_luma"],
                            "ok": True,
                            "err": None,
                        }
                    )
                except Exception as e:  # quarantine, never fail the batch
                    rows.append(
                        base
                        | {
                            "width": None,
                            "height": None,
                            "n_channels": None,
                            "mean_luma": None,
                            "ok": False,
                            "err": f"{type(e).__name__}: {e}",
                        }
                    )
            yield pd.DataFrame(rows)

    return df.mapInPandas(batches, schema=DECODED_TOLERANT_FIELDS)
