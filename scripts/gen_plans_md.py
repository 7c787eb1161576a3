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
        "Exact `LeftAnti` join — the dedup source of truth, and the "
        "engine's plan while the seen set is below "
        "`large_seen_threshold` (see the seen-scan probe shape below).",
        aj,
    )

    # 3. first-occurrence dedup (D2) — partial aggregation shape
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "k", F.col("user_id") % 50
    )
    fo = first_occurrence(ev, ["k"], ["ts", "event_id"])
    add(
        "D2 first-occurrence dedup (min-struct aggregate)",
        f"The only D2 plan: a `SortAggregate` (a struct-with-strings min "
        f"buffer forces the sort-based aggregate) with a map-side partial "
        f"(`partial_min`) BEFORE the exchange — duplicates collapse "
        f"pre-shuffle, unlike a window rank which would shuffle every "
        f"row. Shuffle exchanges: {count_exchanges(fo)}.",
        fo,
    )

    # 3b. the link URL pass (F1 + P1) — split dispatch, gated by the
    # engine's count of ineligible links
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.links import filter_internal

    links = spark.range(10_000).select(
        F.lit("t").alias("task_id"),
        F.lit("h.example.com").alias("seed_netloc"),
        F.col("id").alias("parent_seq"),
        F.concat(F.lit("https://h.example.com/p/"),
                 F.col("id").cast("string")).alias("url"),
    )
    # every 100th link percent-encoded: native-ineligible
    mixed = links.withColumn("url", F.when(
        F.col("parent_seq") % 100 == 0, F.concat("url", F.lit("%20x"))
    ).otherwise(F.col("url")))
    add(
        "F1 + P1 link URL pass, no ineligible link counted (no Python)",
        "`filter_internal(..., n_ineligible=0)`: the pages write's "
        "`Observation` counted no native-ineligible entry in `links`, so "
        "`url_pass` plans only its native branch — scheme, netloc, host, "
        "path, fragment and `canon_url` as JVM expressions (keep "
        "predicate first, so only kept links are canonicalized) — and "
        "no `ArrowEvalPython`: the engine's link path then plans no "
        "Python stage at all (`links_to_frontier` takes host natively "
        "from `canon_url`).",
        filter_internal(links, CrawlConfig(), 0),
    )
    add(
        "F1 + P1 link URL pass, ineligible links counted "
        "(split: Python for ineligible links only)",
        "With a nonzero count the branch on NOT eligible is planned "
        "too: it makes ONE `ArrowEvalPython` call whose struct feeds "
        "both the keep filter and the projection (the UDF is "
        "nondeterministic, so the optimizer does not copy it into each "
        "consumer). The two branches meet in a `Union`; only the "
        "ineligible rows cross into Python.",
        filter_internal(mixed, CrawlConfig(), 100),
    )

    # 4. politeness schedule — skew-safe salted rank
    frontier = spark.range(20_000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    sched, _ = schedule_round(frontier, None, salt_width=2000)
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
    # engine's layout path (engine.write_frontier / read_frontier)
    import tempfile

    from crawler_service_spark.engine import (
        read_frontier, schedule_frontier, write_frontier)
    from crawler_service_spark.sources.storage import SnapshotStore

    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    snaps = SnapshotStore(tempfile.mkdtemp(prefix="plans_bsnap_"))
    snap_cfg = CrawlConfig(shuffle_partitions=8, frontier_salt_width=2000)
    write_frontier(snaps, frontier, 0, snap_cfg)
    sched_ps, _ = schedule_frontier(read_frontier(snaps, spark, 0),
                                    None, snap_cfg, snap_cfg.round_epoch)
    add(
        "RL1 politeness rank over a bucket-sorted frontier snapshot "
        "(engine layout path)",
        "The engine's `write_frontier` writes the snapshot repartitioned "
        "on (host, _salt) and sorted within each partition — exactly one "
        "file per bucket, registered as a bucketed table — so the scan "
        "itself reports the rank's required clustering AND ordering: "
        "the payload side has NO Exchange and NO Sort; the only exchange "
        "feeds the tiny per-bucket offsets branch behind the "
        "BroadcastHashJoin. This is the per-round shape of the 10^10 "
        "frontier (Iceberg table bucket-sorted on host-hash/seq-range).",
        sched_ps,
    )
    snaps.drop_bucketed(spark, "frontier", 0)

    # 5. sharded bloom probe — the seen-side D1 prefilter
    from crawler_service_spark.operators.dedup import ShardedBloomFilter

    sb = ShardedBloomFilter(spark, num_bits=1 << 14, n_shards=4).fit(
        seen, "canon_url")
    add(
        "D1 sharded-bloom probe (one broadcast dense-array join)",
        "The probe is a SINGLE `BroadcastHashJoin` on `shard` against "
        "n_shards rows of DENSE `array<long>` — the filter's whole "
        "capacity, capacity × 8 bytes; the per-hash words are O(1) "
        "`element_at` indexes (1-based, always in range) and the bit "
        "tests are codegen'd shift/AND — one join node, no shuffle of "
        "the candidate batch, no Python. (A `map<widx, word>` variant "
        "was tried and reverted: Spark map lookup is a linear scan.) "
        "Bit positions are two JVM-side xxhash64 evaluations "
        "(Kirsch–Mitzenmacher). No bitmap on the driver, none in any "
        "closure.",
        sb.annotate(batch, "canon_url"),
    )

    seen_dir = tempfile.mkdtemp(prefix="plans_seen_")
    seen.write.mode("overwrite").parquet(seen_dir)
    add(
        "D1 seen-scan probe (engine path past large_seen_threshold)",
        "Past the large-seen line the deduped batch is materialized once "
        "(`localCheckpoint`, the `Scan ExistingRDD` nodes) and an "
        "`Observation` on that action measures its keys. A batch whose "
        "keys fit `spark.sql.autoBroadcastJoinThreshold` is broadcast "
        "as the build side of a `LeftSemi` `BroadcastHashJoin` over the "
        "seen scan: the seen rows are probed map-side, with no "
        "`Exchange` above the scan. The few hits are broadcast into the "
        "`LeftAnti` join against the batch. A fitted bloom (passed "
        "here) is not consulted. A batch too large to broadcast "
        "hash-builds the seen side instead (`ShuffledHashJoin "
        "LeftAnti`).",
        anti_join_seen(batch, spark.read.parquet(seen_dir), ["canon_url"],
                       bloom=sb, shuffle_hash=True),
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
