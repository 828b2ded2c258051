"""Multimodal-plumbing queries: binary payload columns through real
Arrow-batched pandas operators (see operators/multimodal.py).

The fake-media fixture derives payloads deterministically from document
text, so the DuckDB oracle can verify the *pipeline* (schema, fan-out,
feature values) even though real codecs are stubbed in this container.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arkflow_spark.operators.multimodal import (
    attach_fake_media,
    byte_stats,
    decode_image,
    frame_audio,
    frame_sample,
)
from arkflow_spark.queries.base import quantize, query
from arkflow_spark.tables import load


@query(
    "multimodal_byte_stats",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256,
           ascii(substr(text, 1, 1)) AS first_byte,
           ascii(substr(text, length(text), 1)) AS last_byte
    FROM documents
    ORDER BY media_id
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas (real, not stub):
    byte length, sha256, boundary bytes — validates the Arrow batch plumbing
    end-to-end against the oracle (document text is ASCII, so byte==char)."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    return byte_stats(media).orderBy("media_id")


@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(('0x' || substr(md5(text), 1, 4)) AS INT) % 1920 + 1 AS width,
           CAST(('0x' || substr(md5(text), 5, 4)) AS INT) % 1080 + 1 AS height,
           3 AS channels,
           'stub' AS decoder
    FROM documents
    ORDER BY media_id
    """,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-decode pipeline shape: payload -> (width, height, channels)
    via mapInPandas. The decoder is pinned to the deterministic stub
    (md5-derived pseudo-dims), so the full Arrow-batch plumbing — schema,
    batching, fan-in — is hash-verified against the oracle's identical
    hash arithmetic; swapping in PIL changes only the per-payload kernel."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    return decode_image(media, force_stub=True).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) AS n
      FROM documents
    )
    -- document text is ASCII, so char slicing == byte slicing
    SELECT media_id, g.i AS frame_idx,
           sha256(substr(text, g.i * 64 + 1, 64)) AS frame_sha
    FROM b CROSS JOIN generate_series(0, 7) g(i)
    WHERE g.i < greatest(1, n // 64)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (1 payload -> N frame rows) via mapInPandas;
    chunk fingerprints verified against the oracle's substring arithmetic."""
    d = load(spark, sf_dir, "documents")
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    return frame_sample(media, every_n_bytes=64, max_frames=8).orderBy(
        "media_id", "frame_idx"
    )


@query(
    "multimodal_audio_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents WHERE doc_id < 40
    ),
    frames AS (
      SELECT doc_id, text, f.i AS frame_idx, f.i * 80 AS start
      FROM b, unnest(generate_series(
             0, CAST((n - 200) // 80 AS BIGINT))) f(i)
      WHERE n >= 200
    ),
    samples AS (
      SELECT doc_id, frame_idx, start,
             ascii(substr(text, CAST(start + s.j AS INTEGER), 1)) AS v
      FROM frames, unnest(generate_series(1, 200)) s(j)
    )
    SELECT doc_id AS media_id, frame_idx, start,
           CAST(200 AS INTEGER) AS n_samples,
           floor(sqrt(SUM(v * v) * 1.0 / 200) * 10000 + 0.5) / 10000
             AS rms_r,
           CAST(MAX(v) AS INTEGER) AS peak
    FROM samples
    GROUP BY doc_id, frame_idx, start
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame windowing + per-frame RMS/peak over binary payloads
    (operators/multimodal.frame_audio — here 200-sample windows, 80 hop,
    scaled to the fixture's payload sizes; production default 400/160 is
    the 25ms/10ms 16kHz analysis grid). The fake-media fixture makes payload
    bytes the document's ASCII codes, so DuckDB re-derives every frame's
    exact int sample values and the RMS reduction is verified end to end
    through the real mapInPandas plumbing.

    Scale notes: framing is narrow (each payload expands locally by
    n/hop; no shuffle until the output sort); the vectorized per-frame
    reduction runs inside the Arrow batch. A real codec swaps into the
    same operator without touching the plan.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = attach_fake_media(d, text_col="text", id_col="doc_id")
    frames = frame_audio(media, frame=200, hop=80)
    return frames.select(
        "media_id",
        "frame_idx",
        "start",
        "n_samples",
        quantize(F.col("rms"), 4).alias("rms_r"),
        "peak",
    ).orderBy("media_id", "frame_idx")
