"""Multimodal pipeline query: binary media columns → mapInPandas
feature extraction → per-type stats.

The Spark path runs the REAL plumbing (operators/multimodal.py:
synthesize → Arrow-batched decode kernel → frame-sample explode →
aggregate); the DuckDB oracle recomputes the deterministic stand-in
arithmetic in SQL — so a pass proves the mapInPandas kernel, its
schema, and the batch iteration produce exactly the declared values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    decode_media,
    decode_media_real,
    encode_bmp,
    encode_gif,
    encode_jpeg,
    encode_png,
    encode_wav,
    sample_frames,
    synthesize_media,
)
from ..tables import load
from . import register

_H32 = "CAST(('0x' || substr(md5({e}), 1, 8)) AS BIGINT)"


@register(
    "q76_multimodal_features",
    tags=("datapipe", "multimodal"),
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         -- encode(), not CAST(.. AS BLOB): the cast REJECTS non-ASCII
         -- ("must be escaped with hex codes") where encode() is the
         -- UTF-8 serialization Spark's encode(text,'UTF-8') performs
         octet_length(encode(text)) AS n_bytes,
         CASE WHEN doc_id % 3 IN (0, 2) THEN ({_H32.format(e="text || ':w'")}) % 1920 + 1 ELSE 0 END AS width,
         CASE WHEN doc_id % 3 IN (0, 2) THEN ({_H32.format(e="text || ':h'")}) % 1080 + 1 ELSE 0 END AS height,
         CASE doc_id % 3 WHEN 2 THEN ({_H32.format(e="text || ':f'")}) % 240 + 1
                         WHEN 0 THEN 1 ELSE 0 END AS n_frames
  FROM documents
)
SELECT media_type,
       count(*) AS n_objects,
       sum(n_bytes)::BIGINT AS total_bytes,
       CAST(sum(width) AS DOUBLE) / count(*) AS avg_width,
       CAST(sum(height) AS DOUBLE) / count(*) AS avg_height,
       max(n_frames) AS max_frames,
       sum(CASE WHEN media_type = 'video' THEN (n_frames - 1) // 24 + 1 ELSE 0 END)::BIGINT
         AS total_sampled_frames
FROM f
GROUP BY media_type
""",
)
def q76_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media → decode kernel → per-type stats + frame budget.

    total_sampled_frames is what a stride-24 frame sampler would emit —
    the row count of the sample_frames explode, folded back per type.
    """
    docs = load(spark, sf_dir, "documents")
    feats = decode_media(synthesize_media(docs))
    sampled = (
        sample_frames(feats, stride=24)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    enriched = feats.join(sampled, "doc_id", "left").withColumn(
        "n_sampled", F.coalesce("n_sampled", F.lit(0))
    )
    return enriched.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.sum("n_bytes").alias("total_bytes"),
        (F.sum("width").cast("double") / F.count(F.lit(1))).alias("avg_width"),
        (F.sum("height").cast("double") / F.count(F.lit(1))).alias("avg_height"),
        F.max("n_frames").alias("max_frames"),
        F.sum("n_sampled").alias("total_sampled_frames"),
    )


@register(
    "q36_media_header_decode",
    tags=("datapipe", "multimodal"),
    oracle="""
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
                       WHEN 3 THEN 'bmp' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 5 <= 3 THEN 'image' ELSE 'audio' END AS media_type,
       CASE WHEN doc_id % 5 <= 3 THEN doc_id % 64 + 1 END AS width,
       CASE WHEN doc_id % 5 <= 3 THEN doc_id % 48 + 1 END AS height,
       CASE WHEN doc_id % 5 = 4 THEN 8000 + (doc_id % 4) * 4000 END AS sample_rate,
       CASE WHEN doc_id % 5 = 4 THEN 100 + doc_id % 400 END AS n_samples,
       CASE WHEN doc_id % 5 = 1 THEN doc_id % 8 + 1 END AS orientation
FROM documents
""",
)
def q36_media_header_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-header decode, round-tripped through genuine bytes.

    Each document becomes an actual PNG / JPEG / GIF / BMP / WAV blob
    (spec-valid containers built by operators/multimodal.encode_*, dims
    a deterministic function of doc_id), then the production
    decode_media_real kernel sniffs and parses the bytes back. The
    oracle predicts the same values arithmetically, so a pass proves
    the byte-level parser — not the synthesizer — is correct. Both the
    encode and decode steps are Arrow-batched mapInPandas; at lake
    scale the encode step is replaced by reading the binary column.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return decode_media_real(synthesize_real_media(docs)).select(
        "doc_id", "format", "media_type", "width", "height", "sample_rate",
        "n_samples", "orientation",
    )


def synthesize_real_media(docs: DataFrame) -> DataFrame:
    """(doc_id, content): each id becomes a spec-valid PNG/JPEG/GIF/
    BMP/WAV blob with dims a deterministic function of doc_id — the
    encode half of the q36 round-trip, shared with the streaming twin
    (mapInPandas is stateless, so the same kernel runs on a stream)."""

    def synth(batches):
        import pandas as pd

        encoders = (
            lambda d: encode_png(d % 64 + 1, d % 48 + 1),
            lambda d: encode_jpeg(d % 64 + 1, d % 48 + 1, orientation=d % 8 + 1),
            lambda d: encode_gif(d % 64 + 1, d % 48 + 1),
            lambda d: encode_bmp(d % 64 + 1, d % 48 + 1),
            lambda d: encode_wav(8000 + (d % 4) * 4000, 100 + d % 400),
        )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content": [encoders[d % 5](int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(synth, schema="doc_id long, content binary")
