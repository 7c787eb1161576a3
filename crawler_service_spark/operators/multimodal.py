"""Multimodal (image/audio/video) column plumbing.

The crawl surface treats media as opaque references (`kind='media'` spans
with ``media_ref`` — SURVEY §1.3); this module is the downstream
training-data path: media payloads as **binary columns with typed
metadata**, and decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` stages.

The sandbox has no image/audio codecs (no PIL/ffmpeg), so the *decode*
kernel is stubbed behind an import-try: with a codec present it would
decode real bytes; without one it raises ``NotImplementedError`` unless
``allow_fake=True``, in which case a clearly-marked deterministic fake
derives features from the raw bytes. Everything Spark-side — schema,
binary handling, batch iteration, partition behavior, output shape — is
real and tested; only the pixel math is faked.

Scale notes: media bytes dominate row size, so the decode stage runs
``mapInPandas`` with small Arrow batches (spark.sql.execution.arrow.
maxRecordsPerBatch) and must follow a ``repartition`` that spreads rows
evenly — media tables are stored bucketed by ``media_id`` so the stage
reads co-partitioned and never shuffles payload bytes twice.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),        # image | audio | video
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("n_bytes", LongType()),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("byte_mean", DoubleType()),
    StructField("byte_entropy", DoubleType()),
    StructField("decoder", StringType()),     # "stub" | "pil" | ...
])


def attach_fake_media(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic opaque media payloads for tests/benchmarks: bytes =
    unhex(md5(text) * 4) (64 bytes), metadata derived from the id. The
    *shape* (binary column + typed meta struct) is the real contract."""
    h = F.md5(F.col(text_col))
    payload = F.unhex(F.concat(h, h, h, h)).cast(BinaryType())
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        kind.alias("kind"),
        (16 + F.col(id_col) % 64).cast("int").alias("width"),
        (16 + F.col(id_col) % 48).cast("int").alias("height"),
        F.when(kind == "video", (1 + F.col(id_col) % 30).cast("int"))
         .otherwise(F.lit(1)).alias("n_frames"),
        payload.alias("media_bytes"),
    )


def _decode_real(data: bytes, kind: str):
    """Real decode path — only reachable when a codec library exists."""
    if kind == "image":
        try:
            from PIL import Image  # noqa: F401  (absent in this container)
        except ImportError as e:
            raise NotImplementedError(
                "media decode requires an image codec (PIL); not available "
                "in this environment — use allow_fake=True for the "
                "deterministic stub"
            ) from e
        raise NotImplementedError("real decode path not exercised in sandbox")
    raise NotImplementedError(f"no codec for kind={kind}")


def decode_features(df: DataFrame, allow_fake: bool = True) -> DataFrame:
    """mapInPandas decode/feature-extract over (media_id, kind,
    media_bytes). One Arrow crossing per batch; output is narrow (drops
    the payload) so downstream stages never carry bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not allow_fake:
                for kind, data in zip(pdf["kind"], pdf["media_bytes"]):
                    _decode_real(bytes(data or b""), kind)  # raises
            # whole-batch byte statistics: concatenate payloads once,
            # scatter-add per-row byte histograms (np.add.at on a
            # (rows, 256) counts matrix), derive mean/entropy per row —
            # no Python loop over rows or bytes
            data = [bytes(d) if d is not None else b"" for d in pdf["media_bytes"]]
            n = np.fromiter((len(d) for d in data), dtype=np.int64, count=len(data))
            counts = np.zeros((len(data), 256), dtype=np.float64)
            if n.sum() > 0:
                flat = np.frombuffer(b"".join(data), dtype=np.uint8)
                np.add.at(counts, (np.repeat(np.arange(len(data)), n), flat), 1.0)
            safe_n = np.maximum(n, 1).astype(np.float64)
            mean = (counts @ np.arange(256.0)) / safe_n
            p = counts / safe_n[:, None]
            ent = -np.where(p > 0.0, p * np.log2(np.where(p > 0.0, p, 1.0)), 0.0).sum(axis=1)
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "kind": pdf["kind"].to_numpy(),
                "n_bytes": n,
                # per-row Python round (2 scalars/row, not per byte):
                # bit-exact with the previous scalar implementation and
                # the SQL oracle's ROUND semantics
                "byte_mean": [round(float(v), 6) for v in mean],
                "byte_entropy": [round(float(v), 6) for v in ent],
                "decoder": "stub" if allow_fake else "real",
            }, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame sampling for video rows: explode frame indices 0, n, 2n, …
    (< n_frames). Native sequence+explode — the per-frame decode would
    then run through ``decode_features`` on the exploded rows."""
    frames = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(frames))
        .select("media_id", "frame_idx", "n_frames")
    )


def resize_plan(df: DataFrame, max_dim: int = 224) -> DataFrame:
    """Resize planning (pure metadata math, no pixels): target dims
    preserving aspect ratio with the long side clamped to ``max_dim``.
    Integer/native arithmetic — SQL-oracle-checkable."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_dim)) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    return df.select(
        "media_id",
        "width",
        "height",
        F.greatest(F.lit(1), F.floor(F.col("width") * scale).cast("int")).alias("target_w"),
        F.greatest(F.lit(1), F.floor(F.col("height") * scale).cast("int")).alias("target_h"),
    )


def fake_bytes_oracle(text: str) -> bytes:
    """Python-side twin of attach_fake_media's payload (for unit tests)."""
    h = hashlib.md5(text.encode()).hexdigest()
    return bytes.fromhex(h * 4)
