"""Generate PLANS.md: the physical-plan audit of the load-bearing
operators — evidence that the declared plans compile to what the scale
design intends (pushdown, pruning, broadcast, partial aggregation,
anti-join, skew-safe rank shape).

Usage: python scripts/gen_plans_md.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession, functions as F

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from crawler_service_spark.operators.dedup import anti_join_seen, first_occurrence
    from crawler_service_spark.operators.politeness import schedule_round
    from crawler_service_spark.plans.audit import (
        count_exchanges,
        explain_str,
        pushed_filters,
        read_schema_columns,
    )

    sections = []

    def add(title: str, note: str, df, mode: str = "formatted") -> None:
        plan = explain_str(df, mode)
        sections.append(
            f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n"
        )

    # 1. pushdown + pruning on a parquet scan
    scan = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .select("l_orderkey", "l_quantity")
    )
    add(
        "Parquet scan: predicate pushdown + column pruning",
        f"`PushedFilters` carries the shipdate predicate into the scan and "
        f"`ReadSchema` reads only the projected columns.\n\n"
        f"- pushed filters: `{pushed_filters(scan)}`\n"
        f"- read schema: `{read_schema_columns(scan)}`",
        scan,
    )

    # 2. the URL-seen anti-join (D1)
    batch = spark.range(10_000).select(F.concat(F.lit("u"), "id").alias("canon_url"))
    seen = spark.range(5_000).select(F.concat(F.lit("u"), (F.col("id") * 2)).alias("canon_url"))
    aj = anti_join_seen(batch, seen, ["canon_url"])
    add(
        "D1 URL-seen anti-join",
        "Exact `LeftAnti` join — the dedup source of truth. The bloom "
        "prefilter (operators/dedup.py) splits off definitely-new rows "
        "before this join at engine level.",
        aj,
    )

    # 3. first-occurrence dedup (D2) — partial aggregation shape
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "k", F.col("user_id") % 50
    )
    fo = first_occurrence(ev, ["k"], ["ts", "event_id"])
    add(
        "D2 first-occurrence dedup (min-struct aggregate)",
        f"Hash aggregation with a map-side partial (`partial_min`) BEFORE "
        f"the exchange — duplicates collapse pre-shuffle, unlike a window "
        f"rank which would shuffle every row. Shuffle exchanges: "
        f"{count_exchanges(fo)}.",
        fo,
    )

    # 4. politeness schedule — skew-safe salted rank
    frontier = spark.range(20_000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    sched, _ = schedule_round(frontier, None, shuffle_partitions=8, salt_width=2000)
    add(
        "RL1 politeness rank (salted on the fly)",
        "Every host is salted by contiguous discovery_seq ranges "
        "(salt_width rows per bucket): one payload exchange feeds the "
        "local window, a partially aggregated per-bucket count feeds "
        "the offsets cumsum, and a single `BroadcastHashJoin` adds each "
        "bucket's prefix-sum offset — no per-host serial task and no "
        "driver collect.",
        sched,
    )

    # 4b. presalted rank over a bucket-sorted frontier snapshot — the
    # engine's layout path (CrawlEngine._write_frontier)
    import tempfile

    from crawler_service_spark.operators.politeness import presalt

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    bs_dir = tempfile.mkdtemp(prefix="plans_bsnap_")
    spark.sql("DROP TABLE IF EXISTS plans_bucket_snap")
    (presalt(frontier, 2000).repartition(8, F.col("host"), F.col("_salt"))
     .write.mode("overwrite").format("parquet")
     .bucketBy(8, "host", "_salt")
     .sortBy("host", "depth", "_salt", "discovery_seq")
     .option("path", bs_dir).saveAsTable("plans_bucket_snap"))
    sched_ps, _ = schedule_round(
        spark.table("plans_bucket_snap"), None, rank_strategy="presalted")
    add(
        "RL1 politeness rank over a bucket-sorted frontier snapshot "
        "(engine layout path)",
        "The snapshot is written repartitioned on (host, _salt) into "
        "bucketBy+sortBy parquet — exactly one file per bucket — so the "
        "scan itself reports the rank's required clustering AND ordering: "
        "the payload side has NO Exchange and NO Sort; the only exchange "
        "feeds the tiny per-bucket offsets branch behind the "
        "BroadcastHashJoin. This is the per-round shape of the 10^10 "
        "frontier (Iceberg table bucket-sorted on host-hash/seq-range).",
        sched_ps,
    )
    spark.sql("DROP TABLE IF EXISTS plans_bucket_snap")

    # 5. sharded bloom probe — the 10^10-scale D1 prefilter
    from crawler_service_spark.operators.dedup import ShardedBloomFilter

    sb = ShardedBloomFilter(spark, num_bits=1 << 14, n_shards=4).fit(
        seen, "canon_url")
    add(
        "D1 sharded-bloom probe (small filter: one broadcast dense-array join)",
        "Small filters (dense capacity n_shards*words_per_shard ≤ "
        "map_probe_max_words) probe through a SINGLE "
        "`BroadcastHashJoin` on `shard` against n_shards rows of DENSE "
        "`array<long>`; the per-hash words are O(1) `element_at` "
        "indexes (1-based, always in range) and the bit tests are "
        "codegen'd shift/AND — one join node, no shuffle of the "
        "candidate batch, no Python. (A `map<widx, word>` variant was "
        "tried and reverted: Spark map lookup is a linear scan.) Bit "
        "positions are two JVM-side xxhash64 evaluations "
        "(Kirsch–Mitzenmacher). Past the threshold the probe switches "
        "to one broadcast join per hash against the sparse "
        "(shard, widx, word) table — the shape that becomes a bucketed "
        "shuffled join at 10^10 seen keys. No bitmap on the driver, "
        "none in any closure.",
        sb.annotate(batch, "canon_url"),
    )

    sb_big = ShardedBloomFilter(spark, num_bits=1 << 14, n_shards=4,
                                map_probe_max_words=0).fit(seen, "canon_url")
    add(
        "D1 sharded-bloom probe (large filter: per-hash sparse-words joins)",
        "The same filter forced onto the large-filter path: one "
        "broadcast LEFT join per hash on (shard, widx) — Catalyst plans "
        "ONE `BroadcastExchange` and reuses it for the other hashes "
        "(`ReusedExchange`), so the filter broadcasts once regardless "
        "of num_hashes.",
        sb_big.annotate(batch, "canon_url"),
    )

    # 6. broadcast policy join (J2)
    from crawler_service_spark.queries import q_dedup_minhash_sig, q_j2_policy_join

    mh = q_dedup_minhash_sig(spark, SF)
    n_md5 = mh._jdf.queryExecution().optimizedPlan().toString().count("md5")
    add(
        "T2 MinHash signature map (hash once, slice the digest)",
        "Pure projection — no shuffle, no Python: every expression is a "
        "native JVM evaluator (the higher-order `transform`/`array_min` "
        "lambdas are CodegenFallback, so the two Projects sit outside a "
        "codegen span, but evaluation stays JVM-side and columnar input "
        "is preserved). Each 8-char shingle is hashed ONCE and "
        "the 128-bit digest sliced into four 32-bit lanes; the shared "
        "hash array lives in its own projection and CollapseProject "
        "leaves the expensive producer out of the four `array_min` "
        f"consumers. Optimized plan carries exactly {n_md5} `md5` node "
        f"(asserted ==1 by `tests/test_plans.py::"
        f"test_minhash_signature_hashes_each_shingle_once`); shuffle "
        f"exchanges: {count_exchanges(mh)}.",
        mh,
    )

    add(
        "J2 policy broadcast join",
        "The tiny host-policy dimension broadcasts; the fact side never "
        "shuffles.",
        q_j2_policy_join(spark, SF),
    )

    header = """# PLANS — physical-plan audit of the load-bearing operators

Captured by `scripts/gen_plans_md.py` (re-run to refresh). These are the
plans `tests/test_plans.py` asserts structurally on every run; this file
is the human-readable snapshot. Scale intent per SURVEY §4: filters and
projections reach the parquet scan, dedup collapses before the shuffle,
the URL-seen check is an exact LeftAnti join, per-host ranking survives
hot-host skew without a serial task, and dimension joins broadcast.
"""
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(header + "\n" + "\n".join(sections))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
