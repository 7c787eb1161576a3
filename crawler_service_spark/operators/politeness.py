"""Per-host politeness scheduling (SURVEY §2 RL1/RL2, J2).

The reference's sliding-window limiter
(/root/reference/app/services/rate_limiter.py:57-150) admits ≤ ``limit``
requests per host per ``window_s`` seconds and sleeps otherwise — it
delays, it never reorders (wait_if_needed, rate_limiter.py:139-150), so
crawl ORDER is untouched; only timing is. The batch mapping therefore
assigns each admitted URL a deterministic *virtual fetch time* instead of
sleeping:

    rn                 = row_number() over (partition by host
                                            order by priority, discovery_seq)
    virtual_fetch_time = round_epoch
                         + greatest(floor((rn-1)/limit) * window_s,
                                    (rn-1) * crawl_delay_s)

which reproduces the limiter's admission schedule exactly (per host FIFO
in discovery order — the reference's single consumer loop guarantees the
same) and satisfies the politeness invariant: at most ``limit`` virtual
fetches per host per window, with robots crawl-delay honored as a minimum
gap. Per-host limits come from a broadcast join with the tiny
``host_policy`` dimension (J2, rate_limiter.py:53-55 →
``coalesce(custom, default)``).

Deferral mode (``budget_rounds``): optionally admit only the first
``budget_rounds × limit`` rows per host and leave the rest in the
frontier for the next scheduling round — they keep their original
``discovery_seq``, so total order is preserved (SURVEY §2.5).

Skew note (north rule): a plain per-host window ranks one partition per
host — hot hosts make hot partitions. The skew-safe rank
(:func:`rank_presalted`) salts every host by contiguous
``discovery_seq`` ranges, so a hot host spreads over many tasks; the
engine's frontier snapshots carry that salt in their bucket layout.
AQE's skew-join handling covers the fetch join that follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_host_policy(
    batch: DataFrame,
    policy: DataFrame | None,
    default_limit: int,
    default_window_s: int,
) -> DataFrame:
    """J2: broadcast-join per-host policy; coalesce custom → default.
    The policy holds one row per host (`set_host_policy` keeps it so),
    so the left join keeps the batch's rows one for one."""
    empty = F.array().cast("array<string>")
    if policy is None:
        return batch.select(
            "*",
            F.lit(default_limit).alias("rate_limit"),
            F.lit(default_window_s).alias("window_s"),
            F.lit(0.0).alias("crawl_delay_s"),
            empty.alias("disallow_prefixes"),
        )
    pol = policy.select(
        "host",
        F.col("rate_limit").alias("_pol_limit"),
        F.col("window_s").alias("_pol_window"),
        F.col("crawl_delay_s").alias("_pol_delay"),
        F.col("disallow_prefixes").alias("_pol_disallow"),
    )
    return batch.join(F.broadcast(pol), "host", "left").select(
        *batch.columns,
        F.coalesce("_pol_limit", F.lit(default_limit)).alias("rate_limit"),
        F.coalesce("_pol_window", F.lit(default_window_s)).alias("window_s"),
        F.coalesce("_pol_delay", F.lit(0.0)).alias("crawl_delay_s"),
        F.coalesce("_pol_disallow", empty).alias("disallow_prefixes"),
    )


def presalt(b: DataFrame, salt_width: int) -> DataFrame:
    """Materialize the rank salt as a layout column before snapshotting.

    ``_salt = discovery_seq div salt_width`` — contiguous seq ranges, so
    a hot host spreads over many rank tasks. Stored as a column, the
    snapshot can be written BUCKETED BY (host, _salt) and the politeness
    rank consumes the layout instead of re-shuffling
    (`rank_presalted`). Cluster analog: the Iceberg frontier table is
    bucketed on (host-hash, seq-range) — scheduling reads then never
    exchange the payload."""
    return b.withColumn(
        "_salt",
        F.floor(F.col("discovery_seq") / F.lit(int(salt_width))).cast("long"),
    )


def rank_presalted(b: DataFrame, priority_col: str) -> DataFrame:
    """Per-host FIFO rank over a frame ALREADY carrying ``_salt`` and
    (ideally) already hash-clustered by (host, _salt) — e.g. a snapshot
    written ``bucketBy(n, "host", "_salt")``:

    * EVERY host is salted — with the layout doing the clustering there
      is no cost to salting cold hosts, and no hot-host detection scan
      is needed at all;
    * bucket offsets come from a window cumsum over the per-
      (host, priority, _salt) count frame (tiny: one short row per
      touched bucket) broadcast back — NO driver collect, NO literal
      rebuild per round; the whole rank is ONE query with a single tiny
      exchange;
    * over a bucketed scan, neither the count aggregate nor the
      row_number window exchanges the payload (HashPartitioning on the
      (host, _salt) bucket keys satisfies the (host, priority, _salt)
      clustered distributions — partitioning cols ⊆ clustering cols);
      with the snapshot in-bucket-sorted on (host, priority, _salt,
      discovery_seq) the window is also sort-free.

    MIXED PRIORITIES ARE VALID: the local window partitions by
    (host, priority, _salt), so priority is constant within every rank
    partition by construction, and the offset cumsum orders buckets
    priority-major then by salt range — exactly the (priority,
    discovery_seq) global order per host even when deferred rows
    re-enter a frontier at an older depth. ``_salt`` must be a
    non-decreasing function of ``discovery_seq`` (``presalt``'s ``seq
    div width`` is), so within one (host, priority) the salt buckets are
    contiguous seq ranges.

    The offsets join is a broadcast hash join (an alternative that
    shuffled only the offsets side onto the bucket partitioning measured
    ~12% slower at 16 cores, BENCH/NOTES_r05.md "Offsets-join /
    window-buffer / GC A/B").
    """
    counts = b.groupBy("host", priority_col, "_salt").agg(
        F.count("*").alias("_c"),
    )
    w_off = Window.partitionBy("host").orderBy(priority_col, "_salt")
    offsets = (
        counts.withColumn("_off", F.sum("_c").over(w_off) - F.col("_c"))
        .select("host", priority_col, "_salt", "_off")
    )
    w_local = Window.partitionBy("host", priority_col, "_salt").orderBy(
        "discovery_seq")
    ranked = b.withColumn("_lrn", F.row_number().over(w_local))
    # null-safe on priority: a using-columns join would silently drop
    # NULL-priority rows (NULL keys never equi-match); the plain-window
    # strategy ranks them (NULLS FIRST), so this one must too.
    # EqualNullSafe is a first-class hash-join key, same
    # BroadcastHashJoin shape.
    off = (offsets.withColumnRenamed(priority_col, "_off_prio")
           .withColumnRenamed("host", "_off_host")
           .withColumnRenamed("_salt", "_off_salt"))
    ranked = (
        ranked.join(
            F.broadcast(off),
            (F.col("host") == F.col("_off_host"))
            & (F.col("_salt") == F.col("_off_salt"))
            & F.col(priority_col).eqNullSafe(F.col("_off_prio")))
        .drop("_off_host", "_off_salt", "_off_prio")
    )
    ranked = ranked.withColumn(
        "host_rank", (F.col("_lrn") + F.col("_off")).cast("long"))
    return ranked.select(*b.columns, "host_rank")


def schedule_round(
    batch: DataFrame,
    policy: DataFrame | None,
    *,
    default_limit: int = 10,
    default_window_s: int = 60,
    round_epoch: float = 0.0,
    budget_rounds: int | None = None,
    priority_col: str = "depth",
    shuffle_partitions: int | None = None,
    skew_safe: bool = True,
    salt_width: int = 1 << 18,
    rank_strategy: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """RL1: returns (admitted, deferred).

    ``admitted`` gains ``host_rank`` and ``virtual_fetch_time``;
    ``deferred`` is the over-budget remainder (empty when
    ``budget_rounds`` is None) with scheduling columns dropped so it can
    re-enter the frontier unchanged. Both rank shapes give the same
    ranks:

    * ``skew_safe=True`` — the salted rank (:func:`rank_presalted`), no
      per-host serial task. With ``rank_strategy="presalted"`` the batch
      ALREADY carries ``_salt`` (see :func:`presalt`) and, ideally,
      arrives hash-clustered on ``(host, _salt)`` from a bucketed
      snapshot: the rank then runs with no payload exchange, and
      ``_salt`` stays on both returned frames. Otherwise the batch is
      salted here by ``salt_width`` and ``_salt`` is dropped again; the
      planner sizes the rank's exchanges (the window's payload exchange
      plus a partially aggregated count exchange).
    * ``skew_safe=False`` — one plain per-host window, kept as the
      parity reference; ``shuffle_partitions`` sizes its exchange.
    """
    if rank_strategy == "presalted":
        b = rank_presalted(batch, priority_col)
    elif skew_safe:
        b = rank_presalted(presalt(batch, salt_width), priority_col).drop("_salt")
    else:
        b = batch
        if shuffle_partitions:
            b = b.repartition(shuffle_partitions, F.xxhash64("host"))
        w = Window.partitionBy("host").orderBy(priority_col, "discovery_seq")
        b = b.withColumn("host_rank", F.row_number().over(w).cast("long"))
    # the rank reads only host, priority, _salt and discovery_seq: the
    # policy joins its output, so the rank's count branch scans no join
    b = with_host_policy(b, policy, default_limit, default_window_s)

    window_slot = F.floor((F.col("host_rank") - 1) / F.col("rate_limit")).cast("double")
    vtime = F.lit(float(round_epoch)) + F.greatest(
        window_slot * F.col("window_s").cast("double"),
        (F.col("host_rank") - 1).cast("double") * F.col("crawl_delay_s"),
    )
    b = b.withColumn("virtual_fetch_time", vtime)

    if budget_rounds is None:
        return b, b.limit(0)
    cap = F.col("rate_limit").cast("long") * int(budget_rounds)
    admitted = b.filter(F.col("host_rank") <= cap)
    sched_cols = [
        "host_rank", "virtual_fetch_time", "rate_limit", "window_s",
        "crawl_delay_s", "disallow_prefixes",
    ]
    deferred = b.filter(F.col("host_rank") > cap).drop(*sched_cols)
    return admitted, deferred


def set_host_policy(
    spark,
    policy: DataFrame | None,
    host: str,
    rate_limit: int,
    *,
    window_s: int = 60,
    crawl_delay_s: float = 0.0,
    disallow_prefixes: list[str] | None = None,
) -> DataFrame:
    """Admin surface: upsert a per-host rate limit
    (admin.py:73-87 `set_domain_limit`). The batch analog of the live
    mutation is a new policy dimension — the next `schedule_round`
    broadcast picks it up; no engine state to poke.

    Raises ValueError on non-positive limits (admin.py:81-82).
    """
    if rate_limit <= 0:
        raise ValueError("Limit must be positive")
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, StringType, StructField,
        StructType,
    )

    schema = StructType([
        StructField("host", StringType()),
        StructField("rate_limit", IntegerType()),
        StructField("window_s", IntegerType()),
        StructField("crawl_delay_s", DoubleType()),
        StructField("disallow_prefixes", ArrayType(StringType())),
    ])
    row = spark.createDataFrame(
        [(host, int(rate_limit), int(window_s), float(crawl_delay_s),
          list(disallow_prefixes or []))],
        schema,
    )
    if policy is None:
        return row
    return policy.filter(F.col("host") != host).unionByName(row)


def remove_host_policy(policy: DataFrame | None, host: str) -> DataFrame | None:
    """Admin surface: drop a host's custom limit → revert to defaults
    (admin.py:97-109 `remove_domain_limit`)."""
    if policy is None:
        return None
    return policy.filter(F.col("host") != host)


def domain_stats(scheduled: DataFrame) -> DataFrame:
    """A4: per-host limit / current / remaining
    (rate_limiter.py:152-173), over the latest scheduled window."""
    return (
        scheduled.groupBy("host")
        .agg(
            F.first("rate_limit").cast("long").alias("limit"),
            F.sum(
                (F.col("host_rank") <= F.col("rate_limit")).cast("long")
            ).alias("current"),
        )
        .withColumn(
            "remaining",
            F.greatest(F.lit(0).cast("long"), F.col("limit") - F.col("current")),
        )
    )
