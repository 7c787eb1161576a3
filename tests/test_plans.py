"""Physical-plan regression tests: pushdown, pruning, broadcast, codegen,
and shuffle budgets for the load-bearing operators (SURVEY §4)."""

import re

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.politeness import schedule_round
from crawler_service_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema_columns,
    uses_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") > 100)
        .select("o_orderkey")
    )
    pushed = pushed_filters(df)
    assert any("o_orderkey" in p for p in pushed), pushed


def test_projection_pruned_to_read_schema(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_policy_join_broadcasts(spark):
    from crawler_service_spark.queries import q_j2_policy_join

    assert has_broadcast_hash_join(q_j2_policy_join(spark, SF_DIR))


def test_tpch_q1_stays_in_codegen(spark):
    from crawler_service_spark.queries import q_tpch_q1_pricing

    df = q_tpch_q1_pricing(spark, SF_DIR)
    assert uses_whole_stage_codegen(lambda: q_tpch_q1_pricing(spark, SF_DIR))
    # one shuffle for the groupBy, nothing else
    assert count_exchanges(df) == 1, explain_str(df)


def test_skew_safe_schedule_shuffle_budget(spark):
    # one hot host spread over several salt buckets: the salted rank is
    # ONE query — the local window's payload exchange, a partially
    # aggregated per-bucket count exchange, a tiny exchange for the
    # offsets cumsum, and ONE broadcast join of the offsets back (no
    # driver collect, no literal rebuild, no shuffled join)
    hot = spark.range(3000).select(
        F.when(F.col("id") < 2000, "hot").otherwise(
            F.concat(F.lit("h"), (F.col("id") % 7).cast("string"))).alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    admitted, _ = schedule_round(hot, None, skew_safe=True, shuffle_partitions=8,
                                 salt_width=500)
    plan = explain_str(admitted)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert count_exchanges(admitted) <= 3, plan


def test_anti_join_seen_is_exact_anti(spark):
    from crawler_service_spark.operators.dedup import anti_join_seen

    batch = spark.range(1000).select(F.concat(F.lit("u"), "id").alias("canon_url"))
    seen = spark.range(500).select(F.concat(F.lit("u"), (F.col("id") * 2)).alias("canon_url"))
    out = anti_join_seen(batch, seen, ["canon_url"])
    assert "LeftAnti" in explain_str(out)
    assert out.count() == 500


def test_minhash_signature_hashes_each_shingle_once(spark):
    """T2 MinHash: one md5 per shingle, digest sliced into lanes — the
    optimized plan must carry exactly ONE md5 node (CollapseProject must
    not inline the shared hash array into the four array_min consumers)
    and the map must stay shuffle-free."""
    from crawler_service_spark.queries import q_dedup_minhash_sig

    df = q_dedup_minhash_sig(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5") == 1, optimized
    assert count_exchanges(df) == 0, explain_str(df)
