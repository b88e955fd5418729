"""Edge capture adapters (reference media/audioinput.py:26-59,
audiooutput.py:26-62, videoinput.py:33-69, screencapture.py:28-54).

These are EDGE connectors, not engine operators (SURVEY §2.1: "a thin
client publishing to the stream") — a microphone/camera/screen lives on
one machine, so capture happens driver-side (or in an external
publisher) and enters the engine as an ordinary stream. The adapters
here produce the engine's canonical chunk rows:

    audio:  (ts TIMESTAMP, samples ARRAY<DOUBLE>)
    video:  (ts TIMESTAMP, samples ARRAY<DOUBLE>, width INT, height INT)

Real devices are import-gated (sounddevice / cv2 / mss are not in this
container); without them each adapter yields a deterministic synthetic
signal so pipelines are runnable and testable end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from streamtasks_spark.core.frames import local_frame


def _dev_available(module: str) -> bool:
    try:  # pragma: no cover - capture libs absent in this environment
        __import__(module)
        return True
    except ImportError:
        return False


def _synthetic_audio(n_chunks: int, chunk_size: int) -> Iterator[tuple]:
    for i in range(n_chunks):
        yield (
            float(i),  # seconds since epoch; caller re-stamps
            [float(((i * chunk_size + j) * 37 % 19) - 9) for j in range(chunk_size)],
        )


def audio_input(
    spark: SparkSession,
    *,
    n_chunks: int = 16,
    chunk_size: int = 16,
    device: str | None = None,
) -> DataFrame:
    """AudioInput: capture N chunks and return them as a chunk table.
    With ``sounddevice`` installed this records from ``device``
    (reference audioinput.py:40-52 loop); otherwise a deterministic
    synthetic signal."""
    if _dev_available("sounddevice"):  # pragma: no cover
        import sounddevice as sd

        rec = sd.rec(n_chunks * chunk_size, samplerate=32_000, channels=1,
                     device=device, blocking=True)
        rows = [
            (float(i), [float(v) for v in rec[i * chunk_size:(i + 1) * chunk_size, 0]])
            for i in range(n_chunks)
        ]
    else:
        rows = list(_synthetic_audio(n_chunks, chunk_size))
    return local_frame(
        spark, rows, "ts double, samples array<double>"
    ).selectExpr("timestamp_seconds(ts) as ts", "samples")


def video_input(
    spark: SparkSession,
    *,
    n_frames: int = 4,
    width: int = 4,
    height: int = 4,
    camera: int = 0,
) -> DataFrame:
    """VideoInput / ScreenCapture: grab N frames as flat row-major
    arrays. cv2 (camera) or mss (screen) drop in when available
    (reference videoinput.py:50-62, screencapture.py:36-49); otherwise a
    deterministic gradient."""
    n = width * height
    if _dev_available("cv2"):  # pragma: no cover
        import cv2

        cap = cv2.VideoCapture(camera)
        rows = []
        for i in range(n_frames):
            ok, frame = cap.read()
            if not ok:
                break
            small = cv2.resize(cv2.cvtColor(frame, cv2.COLOR_BGR2GRAY), (width, height))
            rows.append((float(i), [float(v) / 255.0 for v in small.flatten()]))
        cap.release()
    else:
        rows = [
            (float(i), [((i * n + p) % 17) / 16.0 for p in range(n)])
            for i in range(n_frames)
        ]
    return local_frame(
        spark, rows, "ts double, samples array<double>"
    ).selectExpr(
        "timestamp_seconds(ts) as ts", "samples",
        f"int({width}) as width", f"int({height}) as height",
    )


def audio_output(chunks: DataFrame, *, device: str | None = None) -> int:
    """AudioOutput: play a chunk table (reference audiooutput.py:40-55).
    Without sounddevice, drains the stream and returns the sample count
    (the sink contract, testable)."""
    rows = chunks.select("samples").collect()
    n = sum(len(r["samples"]) for r in rows)
    if _dev_available("sounddevice"):  # pragma: no cover
        import numpy as np
        import sounddevice as sd

        sd.play(
            np.concatenate([np.asarray(r["samples"]) for r in rows]),
            samplerate=32_000, device=device, blocking=True,
        )
    return n
