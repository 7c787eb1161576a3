"""ShardedBloomFilter (SURVEY §7.5 sharded design): exactness of the
prefiltered anti-join, incremental round updates, empty-shard handling,
and the driver-memory contract (no bitmap on the driver, nothing
collected proportional to num_bits)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.dedup import (
    ShardedBloomFilter,
    anti_join_seen,
)


def keys(spark, lo, hi, extra_cols=False):
    df = spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string"))
        .alias("canon_url"),
        F.col("id"),
    )
    return df if extra_cols else df.select("canon_url")


def collect_keys(df):
    return sorted(r["canon_url"] for r in df.collect())


def test_prefiltered_anti_join_is_exact(spark):
    seen = keys(spark, 0, 4000)
    batch = keys(spark, 2000, 8000, extra_cols=True)
    sb = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8).fit(
        seen, "canon_url")
    got = anti_join_seen(batch, seen, ["canon_url"], bloom=sb,
                         bloom_key="canon_url")
    want = anti_join_seen(batch, seen, ["canon_url"])
    assert collect_keys(got) == collect_keys(want)
    # payload columns survive the cogrouped probe
    assert set(got.columns) == {"canon_url", "id"}


def test_incremental_update_matches_refit(spark):
    sb = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8)
    sb.fit(keys(spark, 0, 3000), "canon_url")
    sb.update(keys(spark, 3000, 5000), "canon_url")
    refit = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8).fit(
        keys(spark, 0, 5000), "canon_url")
    probe = keys(spark, 0, 6000)
    a = sb.annotate(probe, "canon_url").filter("_maybe_seen")
    b = refit.annotate(probe, "canon_url").filter("_maybe_seen")
    assert collect_keys(a) == collect_keys(b)
    # every genuinely-seen key MUST be flagged maybe (no false negatives)
    flagged = set(collect_keys(a))
    for k in collect_keys(keys(spark, 0, 5000)):
        assert k in flagged


def test_unfitted_and_missing_shards(spark):
    sb = ShardedBloomFilter(spark, num_bits=1 << 12, n_shards=4)
    batch = keys(spark, 0, 100)
    # unfitted: annotate says nothing is seen
    assert sb.annotate(batch, "canon_url").filter("_maybe_seen").count() == 0
    # fitted on keys that miss some shards: missing shard ⇒ definitely new
    sb.fit(keys(spark, 0, 2), "canon_url")
    ann = sb.annotate(batch, "canon_url")
    assert ann.count() == 100
    flagged = {r["canon_url"] for r in ann.filter("_maybe_seen").collect()}
    for k in collect_keys(keys(spark, 0, 2)):
        assert k in flagged


def test_driver_holds_no_bitmap(spark):
    """The scale contract: past the tiny-dense regime driver state is
    O(1) — a handle to a DataFrame of at most num_bits/64 sparse word
    rows, no numpy bitmap, no bytes — even after probing (the dense
    plan-literal snapshot is built ONLY when the filter capacity fits
    array_probe_max_words)."""
    sb = ShardedBloomFilter(spark, num_bits=1 << 20, n_shards=16).fit(
        keys(spark, 0, 50_000), "canon_url")
    sb.annotate(keys(spark, 0, 100), "canon_url").count()
    for v in vars(sb).values():
        assert not isinstance(v, (np.ndarray, bytes, bytearray))
    assert sb.words.count() <= (1 << 20) // 64


def test_probe_is_native(spark):
    """r02 VERDICT item 3: in both probe regimes the plan must contain
    NO Python/Arrow stage (no FlatMapCoGroupsInPandas / ArrowEvalPython)
    and no shuffle of the candidate batch — one broadcast join of dense
    per-shard arrays (small), or per-hash broadcast joins (large)."""
    batch = keys(spark, 0, 1000, extra_cols=True).repartition(5)
    for regime, kw in (
        ("array", {}),
        ("join", {"map_probe_max_words": 0}),
    ):
        sb = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8,
                                **kw).fit(keys(spark, 0, 4000), "canon_url")
        ann = sb.annotate(batch, "canon_url")
        plan = ann._jdf.queryExecution().executedPlan().toString()
        assert "InPandas" not in plan and "EvalPython" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        if regime == "array":
            assert "element_at" in plan, plan
        # candidate side never shuffles for the probe: the batch's
        # partitioning survives (any exchanges in the plan belong to
        # the words-table build lineage / broadcast itself)
        assert ann.rdd.getNumPartitions() == 5, regime


def test_map_probe_matches_join_probe(spark):
    """Both probe strategies (dense-array broadcast, per-hash join) are
    the SAME filter — identical hash family, identical bits — so their
    _maybe_seen columns must agree row-for-row; and the small plan must
    carry exactly one broadcast join."""
    seen = keys(spark, 0, 4000)
    batch = keys(spark, 2000, 9000, extra_cols=True)
    small = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8).fit(
        seen, "canon_url")
    forced_join = ShardedBloomFilter(
        spark, num_bits=1 << 16, n_shards=8, map_probe_max_words=0).fit(
        seen, "canon_url")
    a = small.annotate(batch, "canon_url")
    b = forced_join.annotate(batch, "canon_url")
    rows = lambda df: sorted((r["canon_url"], r["_maybe_seen"])
                             for r in df.collect())
    assert rows(a) == rows(b)
    plan = a._jdf.queryExecution().executedPlan().toString()
    # exactly one broadcast join in the probe itself; the plan string
    # also embeds the cached word-map BUILD lineage (below the
    # TableCacheQueryStage marker), which is not probe work
    probe_part = plan.split("TableCacheQueryStage")[0]
    assert probe_part.count("BroadcastHashJoin") == 1, plan
    assert "element_at" in probe_part, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


def test_probe_batch_with_word_column(spark):
    """ADVICE r04: a probed batch that itself carries a ``word`` column
    must survive annotate unchanged — the build-side word is referenced
    via its dataframe alias, never by a bare-name rename that would also
    capture (and corrupt) a probe-side column of the same name."""
    seen = keys(spark, 0, 4000)
    # force the per-hash JOIN regime — the alias hazard lives there
    sb = ShardedBloomFilter(spark, num_bits=1 << 16, n_shards=8,
                            map_probe_max_words=0).fit(seen, "canon_url")
    batch = keys(spark, 2000, 8000, extra_cols=True).withColumn(
        "word", (F.col("id") * 7).cast("long"))
    got = anti_join_seen(batch, seen, ["canon_url"], bloom=sb,
                         bloom_key="canon_url")
    want = anti_join_seen(batch, seen, ["canon_url"])
    assert collect_keys(got) == collect_keys(want)
    assert set(got.columns) == {"canon_url", "id", "word"}
    # the payload column's VALUES are untouched by the probe
    vals = {r["canon_url"]: r["word"] for r in got.collect()}
    ref = {r["canon_url"]: r["word"] for r in want.collect()}
    assert vals == ref


def test_ten_million_keys_driver_flat(spark):
    """10^7 seen keys (VERDICT r01 acceptance): the filter builds as a
    distributed aggregate, driver RSS stays flat (no num_bits-sized
    collect), and the prefiltered anti-join stays exact on a sample."""
    import resource

    n = 10_000_000
    seen = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("canon_url"))
    rss_before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    sb = ShardedBloomFilter(spark, num_bits=1 << 26, n_shards=32).fit(
        seen, "canon_url")
    rss_after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # 2^26 bits = 8 MiB of bitmap; driver growth must stay well under it
    # (ru_maxrss is KiB on linux)
    assert (rss_after - rss_before) < 4 * 1024, (rss_before, rss_after)

    batch = spark.range(n - 5000, n + 5000).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("canon_url"))
    got = anti_join_seen(batch, seen, ["canon_url"], bloom=sb,
                         bloom_key="canon_url")
    assert got.count() == 5000
