"""Audio plumbing: time-based segmentation over opaque waveform blobs.

Completes the multimodal triad next to ``multimodal/ops.py``'s image
metadata (x11) and video frame sampling (x42): audio pipelines window
by TIME with OVERLAP (ASR/diarization feed ~1 s segments with partial
overlap so no utterance straddles a hard cut), which is a different
fan-out shape from x42's every-Nth-frame stride.

Same environment boundary as ops.py: no audio codec libs in this
container, so ``mode="fake"`` derives deterministic metadata from the
byte stream (sample rate from a byte-length hash bucket, 64 samples
per byte) through REAL Spark plumbing — Arrow-batched ``mapInPandas``
decode, integer duration math, sequence+explode segment fan-out — and
``mode="real"`` raises at the spot ffmpeg/librosa would go. All
integer arithmetic, so x55 hash-certifies the full plan against SQL.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Deterministic fake-codec formulas (shared with the x55 oracle):
#   sample_rate = (8000, 16000, 44100)[n_bytes % 3]
#   n_samples   = n_bytes * 64
#   duration_ms = n_samples * 1000 div sample_rate
AUDIO_META_SCHEMA = (
    "doc_id long, n_bytes long, sample_rate long, n_samples long,"
    " duration_ms long"
)
_RATES = (8000, 16000, 44100)


def audio_meta(
    assets: DataFrame, key_col: str = "doc_id", mode: str = "fake"
) -> DataFrame:
    """Decode stage for audio blobs via Arrow-batched ``mapInPandas``."""
    if mode not in ("fake", "real"):
        raise ValueError(f"unknown decode mode {mode!r}")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if mode == "real":
                # Import-try parity with ml/train.py's LightGBM branch
                # (VERDICT r6 item 8): the real path auto-upgrades when
                # the environment gains the codec; the skip-marked test
                # in tests/test_multimodal_audio.py un-skips with it.
                try:
                    import soundfile as sf
                except ImportError as exc:
                    raise NotImplementedError(
                        "real audio decode requires soundfile (not in "
                        "this container); use mode='fake' for plumbing "
                        "tests"
                    ) from exc
                import io

                metas = [
                    sf.info(io.BytesIO(raw)) for raw in pdf["content"]
                ]
                yield pd.DataFrame(
                    {
                        "doc_id": pdf[key_col],
                        "n_bytes": pdf["content"].map(len),
                        "sample_rate": [m.samplerate for m in metas],
                        "n_samples": [m.frames for m in metas],
                        "duration_ms": [
                            m.frames * 1000 // m.samplerate for m in metas
                        ],
                    }
                )
                continue
            n_bytes = pdf["content"].map(len)
            rate = n_bytes.map(lambda n: _RATES[n % 3])
            n_samples = n_bytes * 64
            yield pd.DataFrame(
                {
                    "doc_id": pdf[key_col],
                    "n_bytes": n_bytes,
                    "sample_rate": rate,
                    "n_samples": n_samples,
                    "duration_ms": n_samples * 1000 // rate,
                }
            )

    # Guide §4: explicit prune — the kernel reads only (key, content).
    return assets.select(key_col, "content").mapInPandas(
        decode, AUDIO_META_SCHEMA)


def segment_audio(
    meta: DataFrame, seg_ms: int = 1000, hop_ms: int = 600
) -> DataFrame:
    """One row per overlapping time segment: (…, seg_idx, start_ms,
    end_ms). Segments start every ``hop_ms`` below the duration; the
    last one clips to the clip end. Pure integer column ops (sequence +
    explode) — the per-segment feature extraction would chain another
    ``mapInPandas`` after this fan-out, exactly like x42's frames."""
    if not 0 < hop_ms <= seg_ms:
        raise ValueError("hop must be in (0, seg_ms]")
    bounded = meta.filter(F.col("duration_ms") > 0)
    out = bounded.withColumn(
        "start_ms",
        F.explode(F.expr(f"sequence(0L, duration_ms - 1, {hop_ms}L)")),
    )
    return out.withColumns(
        {
            "seg_idx": F.expr(f"start_ms div {hop_ms}"),
            "end_ms": F.least(
                F.col("start_ms") + F.lit(seg_ms), F.col("duration_ms")
            ),
        }
    )
