"""Multimodal columns (SURVEY.md §2.10): opaque binary payloads + typed
metadata, processed by Arrow-batched pandas functions over mapInPandas.

The image/audio decode libraries are not available in this environment,
so the decode step is split in two:

- the Spark-side plumbing — binary column, metadata struct, Arrow batch
  iteration, output schema, partition parallelism — is REAL and tested
  (the fake decoder derives features deterministically from the bytes,
  so the whole path is oracle-checkable);
- the actual codec call is stubbed behind ``decode_image``, which
  raises NotImplementedError until a codec (PIL/ffmpeg) is installed.

At 100 TB the same plan holds: binary payloads stay columnar in parquet
(never row-pickled), mapInPandas streams Arrow record batches through
the Python worker, and per-batch vectorized numpy does the feature
math. Partition sizing is governed by payload bytes, not row count —
set spark.sql.files.maxPartitionBytes accordingly.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..tables import load


def decode_image(payload: bytes) -> "object":
    """Real codec hook: decode an image payload to a PIL image.

    Wired to pillow when it is installed (importorskip-gated tests in
    tests/test_multimodal_codecs.py cover that path on machines that
    have it); in a codec-less environment it keeps the documented
    NotImplementedError contract, and the deterministic feature
    stand-in (_extract_features) remains the tested execution path.

    >>> decode_image(b"...")  # doctest: +SKIP
    NotImplementedError: install PIL/pillow to decode image payloads
    """
    try:
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "install PIL/pillow to decode image payloads"
        ) from exc
    import io

    img = Image.open(io.BytesIO(payload))
    img.load()  # force the decode now — surface corrupt payloads here
    return img


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("head_byte", T.IntegerType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for decode + feature extraction: byte
    length, first byte, and metadata-derived dimensions — all
    vectorized per Arrow batch."""
    for pdf in batches:
        payload = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payload.str.len().astype("int64"),
                # .str[0] on a bytes Series is the first BYTE (int); an
                # empty payload yields NaN, so fill 0 before the cast —
                # an unguarded astype would crash the task on the first
                # empty document.
                "head_byte": payload.str[0].fillna(0).astype("int32"),
                "width": pdf["meta_width"],
                "height": pdf["meta_height"],
            }
        )


@query(
    "q_llm_multimodal",
    oracle="""
        -- coalesce: a NULL document carries the EMPTY payload (the
        -- document family's stated NULL-text semantics).
        WITH d AS (
            SELECT doc_id, coalesce(text, '') AS text FROM documents
        )
        SELECT doc_id,
               octet_length(encode(text))       AS n_bytes,
               -- first BYTE of the UTF-8 payload (what the pandas side
               -- reads off the binary column), derived from the first
               -- codepoint: DuckDB has no blob byte accessor, and
               -- ascii() would return the CODEPOINT, which diverges
               -- from the byte on any non-ASCII head character.
               CASE WHEN length(text) = 0          THEN 0
                    WHEN unicode(text) < 128       THEN unicode(text)
                    WHEN unicode(text) < 2048      THEN 192 + unicode(text) // 64
                    WHEN unicode(text) < 65536     THEN 224 + unicode(text) // 4096
                    ELSE                                240 + unicode(text) // 262144
               END                              AS head_byte,
               64 + doc_id % 512                AS width,
               64 + (doc_id // 7) % 512         AS height
        FROM d
        WHERE doc_id % 4 = 0
    """,
    description="Multimodal columns: binary payload + metadata struct -> mapInPandas feature extraction",
    tags=("llm", "multimodal"),
)
def q_llm_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    modal = docs.select(
        "doc_id",
        # NULL text -> empty payload (the document family's stated
        # NULL-text semantics): an unguarded NULL payload makes
        # .str.len() yield NaN and the int64 cast crash the task.
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        (F.lit(64) + F.col("doc_id") % 512).alias("meta_width"),
        (F.lit(64) + F.expr("doc_id div 7") % 512).alias("meta_height"),
    )
    return modal.mapInPandas(_extract_features, FEATURE_SCHEMA)


FRAME_FPS = 24
FRAME_STRIDE = 24  # sample one frame per second


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts", T.DoubleType()),
        T.StructField("feat", T.LongType()),
    ]
)


def decode_video_frame(payload: bytes, frame_idx: int) -> "object":
    """Real codec hook: decode frame ``frame_idx`` of a video payload
    to an RGB ndarray. Wired to pyav when installed (importorskip-gated
    tests); NotImplementedError otherwise — the deterministic per-frame
    feature (_sample_frames) remains the tested path here."""
    if frame_idx < 0:
        # Argument error regardless of codec availability — without
        # this, a negative index falls through the decode loop to the
        # misleading 'past end of stream' error (ADVICE r5).
        raise ValueError(f"frame_idx must be >= 0, got {frame_idx}")
    try:
        import av
    except ImportError as exc:
        raise NotImplementedError(
            "install pyav/ffmpeg to decode video frames"
        ) from exc
    import io

    with av.open(io.BytesIO(payload)) as container:
        if not container.streams.video:
            raise ValueError("payload has no video stream")
        stream = container.streams.video[0]
        for i, frame in enumerate(container.decode(stream)):
            if i == frame_idx:
                return frame.to_ndarray(format="rgb24")
    raise ValueError(f"frame {frame_idx} past end of stream")


def _sample_frames(batches):
    """Frame sampling: each (payload, duration) row fans out to one row
    per sampled frame. The fan-out happens INSIDE the Arrow batch with
    numpy repeat/tile — no per-row Python, no driver involvement. The
    per-frame 'feature' is a deterministic stand-in for the codec call
    (decode_video_frame) so the full plumbing is oracle-checkable."""
    import numpy as np

    for pdf in batches:
        if not len(pdf):
            continue
        n_frames = (pdf["duration_s"].to_numpy() * FRAME_FPS) // FRAME_STRIDE
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(), n_frames)
        n_bytes = np.repeat(
            pdf["payload"].str.len().to_numpy().astype("int64"), n_frames
        )
        frame_idx = (
            np.concatenate([np.arange(n) for n in n_frames]).astype("int64")
            * FRAME_STRIDE
        )
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "frame_idx": frame_idx,
                "frame_ts": np.round(frame_idx / float(FRAME_FPS), 6),
                "feat": (n_bytes * 31 + frame_idx) % 997,
            }
        )


@query(
    "q_llm_multimodal_frames",
    oracle=f"""
        WITH vids AS (
            SELECT doc_id,
                   octet_length(encode(coalesce(text, ''))) AS n_bytes,
                   1 + doc_id % 30            AS duration_s
            FROM documents
            WHERE doc_id % 5 = 0
        )
        SELECT doc_id,
               unnest(range(0, duration_s * {FRAME_FPS}, {FRAME_STRIDE}))
                                                          AS frame_idx,
               round(unnest(range(0, duration_s * {FRAME_FPS}, {FRAME_STRIDE}))
                     / {float(FRAME_FPS)}, 6)             AS frame_ts,
               (n_bytes * 31
                + unnest(range(0, duration_s * {FRAME_FPS}, {FRAME_STRIDE})))
                 % 997                                    AS feat
        FROM vids
    """,
    description="Multimodal frame sampling: video-shaped payload fans out to per-frame rows inside Arrow batches (mapInPandas)",
    tags=("llm", "multimodal", "video"),
)
def q_llm_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-column plumbing: opaque payload + duration metadata ->
    mapInPandas fan-out to one row per sampled frame (1/s at 24 fps).

    At 100 TB the shape holds: partition sizing follows payload bytes
    (spark.sql.files.maxPartitionBytes), the fan-out multiplies rows
    executor-side AFTER the scan (never shuffled pre-explosion), and
    downstream per-frame work (real decode via decode_video_frame,
    embedding, dedup) chains onto the same Arrow stream."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    vids = docs.select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        (F.lit(1) + F.col("doc_id") % 30).alias("duration_s"),
    )
    return vids.mapInPandas(_sample_frames, FRAME_SCHEMA)


AUDIO_SR = 16000  # Hz
AUDIO_WIN = 4000  # 0.25 s analysis windows


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_idx", T.LongType()),
        T.StructField("win_start_s", T.DoubleType()),
        T.StructField("energy", T.LongType()),
    ]
)


def decode_audio(payload: bytes) -> "object":
    """Real codec hook: decode an audio payload to (samples ndarray,
    sample_rate). Wired to soundfile when installed (importorskip-gated
    tests); NotImplementedError otherwise — the deterministic window
    energy (_audio_windows) remains the tested path here."""
    try:
        import soundfile as sf
    except ImportError as exc:
        raise NotImplementedError(
            "install soundfile/ffmpeg to decode audio payloads"
        ) from exc
    import io

    samples, sample_rate = sf.read(io.BytesIO(payload))
    return samples, sample_rate


def _audio_windows(batches):
    """Audio analysis-window fan-out: one row per 0.25 s window of each
    clip, energy as the deterministic stand-in for the decoded-frame
    computation (decode_audio). numpy repeat inside Arrow batches —
    the video-frame pattern at a different timebase."""
    import numpy as np

    for pdf in batches:
        if not len(pdf):
            continue
        n_samples = pdf["n_samples"].to_numpy()
        n_wins = -(-n_samples // AUDIO_WIN)  # ceil-div
        doc_ids = np.repeat(pdf["doc_id"].to_numpy(), n_wins)
        n_bytes = np.repeat(
            pdf["payload"].str.len().to_numpy().astype("int64"), n_wins
        )
        win_idx = np.concatenate([np.arange(n) for n in n_wins]).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "win_idx": win_idx,
                "win_start_s": np.round(win_idx * AUDIO_WIN / float(AUDIO_SR), 6),
                "energy": (n_bytes * 131 + win_idx * 17) % 10007,
            }
        )


@query(
    "q_llm_multimodal_audio",
    oracle=f"""
        WITH clips AS (
            SELECT doc_id,
                   octet_length(encode(coalesce(text, ''))) AS n_bytes,
                   ({AUDIO_SR} // 2) * (1 + doc_id % 8)  AS n_samples
            FROM documents
            WHERE doc_id % 6 = 0
        )
        SELECT doc_id,
               unnest(range(0, CAST(ceil(n_samples / {AUDIO_WIN}.0) AS BIGINT)))
                                                         AS win_idx,
               round(unnest(range(0, CAST(ceil(n_samples / {AUDIO_WIN}.0) AS BIGINT)))
                     * {AUDIO_WIN} / {float(AUDIO_SR)}, 6) AS win_start_s,
               (n_bytes * 131
                + unnest(range(0, CAST(ceil(n_samples / {AUDIO_WIN}.0) AS BIGINT)))
                  * 17) % 10007                           AS energy
        FROM clips
    """,
    description="Multimodal audio: clip payload + sample-count metadata fans out to per-window feature rows (mapInPandas)",
    tags=("llm", "multimodal", "audio"),
)
def q_llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing, third modality next to images and video:
    opaque payload + sample-count metadata -> mapInPandas fan-out to
    one row per 0.25 s analysis window (energy/VAD/spectrogram slot).
    Same scale shape as the frame sampler: partition sizing follows
    payload bytes, the fan-out is row-local after the scan, and real
    decode chains in via decode_audio."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 0)
    clips = docs.select(
        "doc_id",
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("payload"),
        ((AUDIO_SR // 2) * (F.lit(1) + F.col("doc_id") % 8)).alias("n_samples"),
    )
    return clips.mapInPandas(_audio_windows, AUDIO_SCHEMA)
