"""Equality pins for the skew-safe salted host rank (RL1, north rule).

The salted rank must produce EXACTLY the ranks of the plain per-host
window — including hot hosts (many salt buckets), mixed-priority hosts,
NULL priorities, and the budget-deferral split built on top of the ranks.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_service_spark.operators.politeness import (
    presalt,
    rank_presalted,
    schedule_round,
)


def _mixed_batch(spark, n=20_000):
    """One hot host (~1/3 of rows), one hot-sized mixed-priority host, a
    ring of cold hosts."""
    return spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "hot.example.com")
        .when(F.col("id") % 7 == 0, "mixed.example.com")
        .otherwise(
            F.concat(F.lit("h"), (F.col("id") % 11).cast("string"),
                     F.lit(".example.com"))
        ).alias("host"),
        F.when(F.col("id") % 7 == 0, (F.col("id") % 2).cast("int"))
        .otherwise(F.lit(0)).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )


def test_salted_rank_equals_plain_window(spark):
    b = _mixed_batch(spark)
    salted, _ = schedule_round(b, None, skew_safe=True, shuffle_partitions=8,
                               salt_width=1000)
    plain, _ = schedule_round(b, None, skew_safe=False, shuffle_partitions=8)
    cols = b.columns + ["host_rank", "virtual_fetch_time"]
    got = {tuple(r) for r in salted.select(cols).collect()}
    want = {tuple(r) for r in plain.select(cols).collect()}
    assert got == want
    # column order is part of the operator contract (callers select by
    # name, but unioning code paths must agree); the salt never leaks
    assert salted.columns == plain.columns
    assert "_salt" not in salted.columns


def test_schedule_round_salted_vs_unsalted_budget_split(spark):
    b = _mixed_batch(spark)
    cols = ["host", "discovery_seq", "host_rank", "virtual_fetch_time"]
    adm_s, def_s = schedule_round(
        b, None, default_limit=5, budget_rounds=2,
        shuffle_partitions=8, salt_width=1000)
    adm_p, def_p = schedule_round(
        b, None, default_limit=5, budget_rounds=2,
        shuffle_partitions=8, skew_safe=False)
    assert ({tuple(r) for r in adm_s.select(cols).collect()}
            == {tuple(r) for r in adm_p.select(cols).collect()})
    assert ({tuple(r) for r in def_s.select("host", "discovery_seq").collect()}
            == {tuple(r) for r in def_p.select("host", "discovery_seq").collect()})
    assert "_salt" not in adm_s.columns and "_salt" not in def_s.columns


def _const_priority_batch(spark, n=20_000):
    """Hot host + cold ring, priority constant per host (the presalted
    precondition) — every host at depth 0 except one cold host at 1."""
    return spark.range(n).select(
        F.when(F.col("id") % 3 == 0, "hot.example.com")
        .otherwise(
            F.concat(F.lit("h"), (F.col("id") % 11).cast("string"),
                     F.lit(".example.com"))
        ).alias("host"),
        F.when((F.col("id") % 3 != 0) & (F.col("id") % 11 == 5), 1)
        .otherwise(0).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )


def test_presalted_rank_equals_plain_window(spark):
    b = _const_priority_batch(spark)
    ranked = rank_presalted(presalt(b, 1000), "depth")
    w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
    ref = b.withColumn("host_rank", F.row_number().over(w).cast("long"))
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    want = {tuple(r) for r in ref.collect()}
    assert got == want


def test_presalted_rank_handles_mixed_priority(spark):
    """r03: mixed priority within a host is VALID — the rank partitions
    by (host, depth, _salt) and orders buckets depth-major, so it must
    equal the plain (depth, discovery_seq) window even on the
    mixed-priority host (the old variant raised here)."""
    b = _mixed_batch(spark)  # mixed.example.com varies depth within host
    ranked = rank_presalted(presalt(b, 1000), "depth")
    w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
    ref = b.withColumn("host_rank", F.row_number().over(w).cast("long"))
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    want = {tuple(r) for r in ref.collect()}
    assert got == want


def test_schedule_round_presalted_matches_plain(spark):
    b = _const_priority_batch(spark)
    cols = ["host", "discovery_seq", "host_rank", "virtual_fetch_time"]
    adm_s, def_s = schedule_round(
        presalt(b, 1000), None, default_limit=5, budget_rounds=2,
        rank_strategy="presalted")
    adm_p, def_p = schedule_round(
        b, None, default_limit=5, budget_rounds=2,
        shuffle_partitions=8, skew_safe=False)
    assert ({tuple(r) for r in adm_s.select(cols).collect()}
            == {tuple(r) for r in adm_p.select(cols).collect()})
    assert ({tuple(r) for r in def_s.select("host", "discovery_seq").collect()}
            == {tuple(r) for r in def_p.select("host", "discovery_seq").collect()})


def test_presalted_rank_over_bucketed_snapshot_no_exchange(spark, tmp_path):
    """The layout contract: over a snapshot written BUCKETED BY
    (host, _salt), the presalted rank's physical plan contains NO
    payload exchange — bucketing satisfies both the window's and the
    count aggregate's clustering (the offsets exchange is the tiny
    per-bucket count frame, behind the broadcast)."""
    b = presalt(_const_priority_batch(spark), 1000)
    spark.sql("DROP TABLE IF EXISTS t_presalt_snap")
    (b.write.mode("overwrite").format("parquet")
     .bucketBy(8, "host", "_salt")
     .option("path", str(tmp_path / "t_presalt_snap"))
     .saveAsTable("t_presalt_snap"))
    snap = spark.table("t_presalt_snap")
    ranked = rank_presalted(snap, "depth")
    # parity first
    w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
    want = {tuple(r) for r in
            b.withColumn("host_rank", F.row_number().over(w).cast("long"))
            .drop("_salt").collect()}
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    assert got == want
    # plan: the only exchanges allowed feed the tiny offsets branch
    # (count frame + its window); the payload side must scan → window
    # with no Exchange in between
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    payload = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in payload, payload
    spark.sql("DROP TABLE IF EXISTS t_presalt_snap")


def test_presalted_rank_cross_bucket_priority(spark):
    """The deferred-reentry shape: priority constant within every salt
    bucket but different across buckets of one host — a later-seq bucket
    carries HIGHER priority (lower depth). The depth-major offset cumsum
    must rank the depth-0 (later-seq) rows 1..2000 ahead of the depth-1
    (earlier-seq) rows (the pre-r03 variant raised on this shape)."""
    b = spark.range(4000).select(
        F.lit("x.example.com").alias("host"),
        F.when(F.col("id") < 2000, 1).otherwise(0).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    ranked = rank_presalted(presalt(b, 1000), "depth")
    rows = {r["discovery_seq"]: r["host_rank"] for r in ranked.collect()}
    for seq, rank in rows.items():
        if seq >= 2000:   # depth 0: fetched first, in seq order
            assert rank == seq - 2000 + 1
        else:             # depth 1: after all depth-0 rows
            assert rank == 2000 + seq + 1


def test_presalted_rank_null_priority_both_strategies(spark):
    """NULL priorities are a group of their own (plain-window NULLS FIRST
    semantics). Regression (r05 code review): a using-columns equi-join
    on the offsets silently DROPPED NULL-priority rows (NULL keys never
    equi-match); the broadcast offsets join is null-safe."""
    b = _mixed_batch(spark, 5_000).withColumn(
        "depth",
        F.when(F.col("discovery_seq") % 5 == 0, F.lit(None))
        .otherwise(F.col("depth")).cast("int"))
    w = Window.partitionBy("host").orderBy("depth", "discovery_seq")
    want = {tuple(r) for r in
            b.withColumn("host_rank",
                         F.row_number().over(w).cast("long")).collect()}
    ranked = rank_presalted(presalt(b, 500), "depth")
    got = {tuple(r) for r in ranked.drop("_salt").collect()}
    assert got == want
