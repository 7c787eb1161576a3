"""Deterministic dense discovery-sequence assignment (SURVEY §2 O1).

The reference's BFS deque (/root/reference/app/services/crawler.py:95-146)
yields a total fetch order: seed first, then each fetched page's surviving
links in page order, level by level. The order key of a new link is
``(parent_seq, link_pos)`` — a pure function of data, never of partition
or task identity, which is what makes the crawl-order equality contract
well-defined under parallelism.

``assign_dense_seq`` turns that key into a dense 0-based sequence WITHOUT
a single-partition global window: because ``parent_seq`` is dense within a
round's occupied range ``[base, n_parents)``,
``bucket = (parent_seq - base) // ceil((n_parents - base)/buckets)``
is an order-preserving partitioner computed from the data itself (no
sampling, no spark_partition_id — both would break run-to-run
determinism). Rank within bucket via a window, then add per-bucket offsets.
This is the two-level scheme from SURVEY §7.5; it scales to 10^10-row
rounds since no executor ever sees more than one bucket's rows in a
single window. The ranks do not depend on the bucket count, so callers
may size it to the data.

The input is evaluated exactly once: one action materializes the
bucketed rows (``localCheckpoint``) and an ``Observation`` riding that
same action counts each bucket's rows, so the per-bucket offsets cost no
second pass over the upstream lineage (canonicalizer UDF, dedup
aggregate, seen anti-join) — the rank and the caller's write read the
materialized rows.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def assign_dense_seq(
    df: DataFrame,
    parent_seq_col: str,
    pos_col: str,
    n_parents: int,
    n_buckets: int = 64,
    out_col: str = "discovery_seq",
    base: int = 0,
) -> DataFrame:
    """Dense 0-based rank of rows ordered by (parent_seq, pos).

    ``[base, n_parents)`` should cover the ``parent_seq`` values — the
    engine passes the round frontier's (min, max+1); values outside it
    are clamped into the first/last bucket, which keeps the ranks exact.
    Bucketing over the OCCUPIED range matters: ``parent_seq`` is
    cumulative across rounds, so bucketing over ``[0, n_parents)`` would
    land every late round's parents (spanning only the top slice of that
    range) in 1-2 buckets and serialize the rank window on one executor.

    Runs one action: the bucketed input is materialized with
    ``localCheckpoint(eager=True)`` and the returned frame reads it. Not
    ``persist()``: the returned frame is lazy, so nothing could
    unpersist it, and a leaked cache entry would be matched by plan on a
    later identical query. A local checkpoint lives in executor storage
    and cannot be recomputed: losing an executor before the caller's
    action fails that action (the crawl round), and round-level resume
    covers it.
    """
    span = n_parents - base
    if span <= 0:
        return df.withColumn(out_col, F.lit(0).cast("long"))
    bucket_width = max(1, -(-span // n_buckets))  # ceil
    n_occupied = -(-span // bucket_width)
    bucket = F.floor((F.col(parent_seq_col) - F.lit(base)) / bucket_width)
    bucketed = df.withColumn(
        "_seq_bucket",
        F.least(F.greatest(bucket, F.lit(0)), F.lit(n_occupied - 1))
        .cast("long"),
    )
    # per-bucket sizes ride the materializing action
    obs = Observation(f"dense_seq_{uuid.uuid4().hex}")
    bucketed = bucketed.observe(
        obs,
        *[F.count_if(F.col("_seq_bucket") == b).alias(str(b))
          for b in range(n_occupied)],
    ).localCheckpoint(eager=True)
    sizes = obs.get
    # exclusive prefix sums -> per-bucket offsets
    offsets = []
    running = 0
    for b in range(n_occupied):
        offsets += [F.lit(b), F.lit(running)]
        running += int(sizes[str(b)])
    offset_expr = F.element_at(
        F.create_map(*offsets).cast("map<bigint,bigint>"),
        F.col("_seq_bucket"),
    )

    w = Window.partitionBy("_seq_bucket").orderBy(parent_seq_col, pos_col)
    return (
        bucketed.withColumn("_local_rank", F.row_number().over(w).cast("long"))
        .withColumn(out_col, offset_expr + F.col("_local_rank") - 1)
        .drop("_seq_bucket", "_local_rank")
    )
