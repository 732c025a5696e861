"""WAV PCM decoding for the multimodal audio path.

Same posture as `imagecodec`: formats the Python stdlib can genuinely
PARSE are decoded for REAL (RIFF/WAVE PCM via the `wave` module);
everything else (mp3, ogg, flac — all need entropy coders the stdlib
lacks) is the caller's honest-fallback problem. The per-sample math is
numpy-vectorized (numpy is already a hard dependency of the Arrow/pandas
path these kernels run inside), and `wav_stats` is EXACT for any channel
count: the RMS is computed from the INTEGER per-frame channel sums — the
sum of their squares is an exact Python int and is divided once
(correctly rounded) by n·(nch·scale)², so no association order or
non-dyadic channel divisor (3, 5, 6 channels) can perturb it. Peak is one
correctly rounded division of the largest integer |sum|, and the
zero-crossing rate only reads signs.

Reference tie-in: the reference pipeline is text-only
(`airflow/dags/zara_hybrid_etl.py`); audio columns are part of the
training-data extension surface (opaque binary + typed metadata +
Pandas-UDF feature extraction over mapInPandas).
"""

from __future__ import annotations

import io
import wave

import numpy as np

# cap decoded samples per file so a pathological multi-hour WAV cannot blow
# task memory: features below are stable statistics, a 1M-sample prefix
# (~23s at 44.1 kHz) is ample
MAX_SAMPLES = 1_000_000


def sniff_audio_format(data: bytes) -> str:
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:3] == b"ID3" or (len(data) > 1 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0):
        return "mp3"
    if data[:4] == b"OggS":
        return "ogg"
    if data[:4] == b"fLaC":
        return "flac"
    return "unknown"


def _sum_squares(v: "np.ndarray") -> int:
    """Exact Σ v² of an int64 array, as a Python int: int64 dot products
    over chunks short enough that no partial sum can overflow."""
    peak = int(np.max(np.abs(v), initial=0))
    step = max(1, (1 << 62) // max(1, peak * peak))
    return sum(int(np.dot(v[i:i + step], v[i:i + step])) for i in range(0, v.size, step))


def wav_stats(data: bytes) -> tuple[int, int, int, float, float, float]:
    """RIFF/WAVE PCM -> (sample_rate, n_channels, n_frames, rms, peak,
    zero_crossing_rate) of the channel-averaged first MAX_SAMPLES frames,
    exact for any channel count (module docstring); zeros for a clip with
    no frames. Raises wave.Error/ValueError/struct.error on non-WAV or
    compressed input — callers map those to their fallback, mirroring
    imagecodec."""
    with wave.open(io.BytesIO(data), "rb") as w:
        sr, nch, width, nframes = (
            w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes(),
        )
        if width not in (1, 2):
            raise ValueError(f"unsupported PCM sample width {width}")
        take = min(nframes, MAX_SAMPLES)
        raw = w.readframes(take)
    if width == 2:
        vals = np.frombuffer(raw, dtype="<i2").astype(np.int64)
        scale = 32768
    else:  # 8-bit WAV PCM is unsigned
        vals = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
        scale = 128
    # per-frame integer channel sums; a sum / (nch·scale) is the mono sample
    sums = vals[: (len(vals) // nch) * nch].reshape(-1, nch).sum(axis=1)
    div = nch * scale
    n = sums.size
    if n == 0:
        return sr, nch, nframes, 0.0, 0.0, 0.0
    rms = (_sum_squares(sums) / (n * div * div)) ** 0.5
    peak = int(np.max(np.abs(sums))) / div
    neg = sums < 0
    zcr = int(np.count_nonzero(neg[:-1] != neg[1:])) / (n - 1) if n > 1 else 0.0
    return sr, nch, nframes, rms, peak, zcr
