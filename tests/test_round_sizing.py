"""Per-round partition sizing (``engine.round_partitions``).

Each round sizes its fetch join, extraction stage, snapshot files and
next-frontier buckets from its frontier row count, between the core
count and ``CrawlConfig.shuffle_partitions``. Sizing is exact: each
frontier snapshot records its own bucket count, so a resume across
rounds of different sizes (or under a different cap) fetches the same
pages in the same order.
"""

import importlib.util
import json
import os

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import (
    ROWS_PER_TASK,
    CrawlEngine,
    fetch_order,
    round_partitions,
)
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
)

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "bench_scaling.py")


def _bench_scaling():
    spec = importlib.util.spec_from_file_location("bench_scaling", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_round_partitions_tiny_input_gives_cores():
    assert round_partitions(0, 4, 32) == 4
    assert round_partitions(263, 4, 32) == 4
    assert round_partitions(4 * ROWS_PER_TASK, 4, 32) == 4
    assert round_partitions(4 * ROWS_PER_TASK + 1, 4, 32) == 5


def test_round_partitions_huge_input_gives_cap():
    """The scaling campaign's job sizes reach bench.py's partition cap at
    both of its parallelism levels, so its work graphs keep their sizes."""
    import bench

    for n in _bench_scaling().JOB_N_DEFAULT.values():
        for cores in (4, 16):
            assert round_partitions(n, cores, bench.SHUFFLE_PARTS) \
                == bench.SHUFFLE_PARTS
    assert round_partitions(10 ** 10, 4, 32) == 32


def test_round_partitions_cap_below_cores_gives_cap():
    assert round_partitions(0, 8, 2) == 2
    assert round_partitions(10 ** 10, 8, 2) == 2


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_snapshots_sized_to_the_round(spark, tmp_path):
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    eng = CrawlEngine(spark, cfg, build_store_df(spark, 120, 5),
                      checkpoint_dir=str(tmp_path))
    t = eng.crawl(build_seeds_df(spark, 120, 5, 3))
    cores = spark.sparkContext.defaultParallelism
    storage = eng.storage

    def spec(rnd):
        with open(os.path.join(storage.table_path("frontier", rnd),
                               "_bucket_spec.json")) as f:
            return json.load(f)

    # the seed frontier is sized by the seed count
    assert spec(0)["buckets"] == round_partitions(3, cores, 32) == min(32, cores)
    assert len(t.round_counters) == 2
    assert sorted(os.listdir(tmp_path)) == [
        "frontier", "manifest.json", "pages"]
    for c in t.round_counters:
        rnd = c["round"]
        parts = round_partitions(c["frontier"], cores, cfg.shuffle_partitions)
        assert len(_parquet_files(storage.table_path("pages", rnd))) <= parts
        # the seen set is derived from pages and frontier, not stored
        assert "seen" not in storage.round_meta(rnd)["tables"]
        if "frontier" in storage.round_meta(rnd)["tables"]:
            assert spec(rnd + 1)["buckets"] == parts
            assert len(_parquet_files(
                storage.table_path("frontier", rnd + 1))) <= parts


def _ordered(tables):
    return [
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"])
        for r in fetch_order(tables.pages).orderBy("task_id", "fetch_seq")
        .collect()
    ]


def test_resume_under_a_different_cap(spark, tmp_path):
    """Killed after round 0 under a 2-partition cap, resumed under the
    default cap: the resumed rounds read a 2-bucket snapshot and write
    wider ones, and the crawl equals an uninterrupted one."""
    store = build_store_df(spark, 300, 8)
    seeds = build_seeds_df(spark, 300, 8, 4)
    policy = build_policy_df(spark, 8)

    def engine(sub, cap=32, max_rounds=200):
        cfg = CrawlConfig(max_depth=3, follow_links=True,
                          shuffle_partitions=cap)
        return CrawlEngine(spark, cfg, store, checkpoint_dir=str(tmp_path / sub),
                           policy=policy, max_rounds=max_rounds)

    full = engine("full").crawl(seeds)
    interrupted = engine("part", cap=2, max_rounds=1).crawl(seeds)
    assert [c["parts"] for c in interrupted.round_counters] == [2]

    resumed_eng = engine("part")
    resumed = resumed_eng.crawl(resume=True)
    cores = spark.sparkContext.defaultParallelism
    counters = resumed.round_counters
    assert [c["round"] for c in counters] == list(range(len(counters)))
    assert counters[0]["parts"] == 2
    assert [c["parts"] for c in counters[1:]] == [
        round_partitions(c["frontier"], cores, 32) for c in counters[1:]]
    with open(os.path.join(resumed_eng.storage.table_path("frontier", 1),
                           "_bucket_spec.json")) as f:
        assert json.load(f)["buckets"] == 2

    assert _ordered(resumed) == _ordered(full)
    assert {tuple(r) for r in resumed.seen.collect()} == \
        {tuple(r) for r in full.seen.collect()}
