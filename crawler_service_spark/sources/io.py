"""Result sinks/sources (SURVEY §2 S2/S3).

The reference's only sinks are JSON HTTP response envelopes
(/root/reference/app/api/v1/crawl.py:56, 102-106 and the simplified
8-field projection at crawl.py:136-154). The batch equivalents: a JSON
lines export of the ordered pages table, and the one-row "simple"
projection. The engine's own snapshots are parquet; JSON is the
compatibility surface for consumers of the reference API shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the 8-field flat projection of /crawl/simple (crawl.py:136-147)
SIMPLE_FIELDS = [
    "url", "title", "text_content", "images", "links",
    "meta_description", "effective_status", "depth",
]


def write_pages_json(pages: DataFrame, path: str) -> None:
    """S2: JSON-lines export of the pages table (ordered consumers sort
    by the explicit keys — file order is never meaningful)."""
    pages.write.mode("overwrite").json(path)


def read_pages_json(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.json(path)


def simple_projection(pages_ordered: DataFrame) -> DataFrame:
    """S3: the /crawl/simple response — first page only, 8 flat fields
    (crawl.py:136-147). Expects a ``fetch_seq`` column (fetch_order)."""
    cols = [c for c in SIMPLE_FIELDS if c in pages_ordered.columns]
    # fetch_seq == 0 IS "the first page" — never groupBy+first, whose
    # order is undefined under partial aggregation
    return pages_ordered.filter(F.col("fetch_seq") == 0).select("task_id", *cols)
