"""Metrics/admin report over a real crawl run."""

import tempfile

import pandas as pd
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, round_partitions
from crawler_service_spark.metrics import adaptive_concurrency_log, crawl_summary, report
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
)


def test_report_shape(spark):
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    store = build_store_df(spark, 120, 5)
    seeds = build_seeds_df(spark, 120, 5, 2)
    ck = tempfile.mkdtemp(prefix="metrics_ck_")
    eng = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                      policy=build_policy_df(spark, 5))
    t = eng.crawl(seeds)
    r = report(t)
    s = r["summary"]
    assert s["total_pages"] == s["successful_pages"] + s["failed_pages"] > 0
    assert 0.0 <= s["success_rate"] <= 1.0
    assert r["seen_size"] == s["total_pages"]  # every fetched page was marked seen
    assert r["rounds"] and r["rounds"][0]["frontier"] >= 2
    # each round's derived partition count, also in the manifest
    cores = spark.sparkContext.defaultParallelism
    for rc in r["rounds"]:
        assert rc["parts"] == round_partitions(
            rc["frontier"], cores, cfg.shuffle_partitions)
        assert eng.storage.round_meta(rc["round"])["counters"]["parts"] \
            == rc["parts"]
    # observed metrics (Observation API) ride the snapshot write
    assert r["rounds"][0]["n_pages"] >= 2
    assert sum(rc["n_pages"] for rc in r["rounds"]) == s["total_pages"]
    assert sum(rc["n_errors"] for rc in r["rounds"]) == s["failed_pages"]
    assert r["top_hosts"] and all(h["fetched"] >= 1 for h in r["top_hosts"])
    assert set(r["retry_stats"]) == {
        "total_retries", "successful_retries", "failed_retries",
        "transient_errors", "permanent_errors",
    }
    for e in r["errors"]:
        assert e["error_type"] in ("transient", "permanent", "unknown")
    # config-surface echo (admin.py:20-41 analog)
    r2 = report(t, cfg=CrawlConfig(custom_headers=(("X-Tok", "abc"),),
                                   timeout=7.5))
    assert r2["config"]["custom_headers"] == {"X-Tok": "abc"}
    assert r2["config"]["timeout"] == 7.5


def test_report_of_a_resumed_crawl_counts_every_round(spark, tmp_path):
    """Killed after round 0 and resumed, and resumed again once complete:
    the report's rounds are every committed round, so their pages add up
    to the pages the report summarizes."""
    cfg = CrawlConfig(max_depth=2, follow_links=True)
    store = build_store_df(spark, 120, 5)

    def engine(max_rounds=200):
        return CrawlEngine(spark, cfg, store, checkpoint_dir=str(tmp_path),
                           max_rounds=max_rounds)

    engine(max_rounds=1).crawl(build_seeds_df(spark, 120, 5, 2))
    for t in (engine().crawl(resume=True), engine().crawl(resume=True)):
        r = report(t)
        rounds = [rc["round"] for rc in r["rounds"]]
        assert rounds == list(range(len(rounds))) and len(rounds) > 1
        assert sum(rc["n_pages"] for rc in r["rounds"]) \
            == r["summary"]["total_pages"] > 0


def test_crawl_summary_empty_pages(spark):
    """Empty pages table: all counters 0, no TypeError (ADVICE r01)."""
    empty = spark.createDataFrame(
        [], "is_error boolean, effective_status int, host string, depth int")
    s = crawl_summary(empty)
    assert s == {"total_pages": 0, "successful_pages": 0, "failed_pages": 0,
                 "success_rate": 0.0, "distinct_hosts": 0,
                 "max_depth_reached": 0}


def _c2_pages(spark, statuses):
    """pages frame whose fetch order is the given status sequence."""
    n = len(statuses)
    return spark.createDataFrame(pd.DataFrame({
        "task_id": ["t"] * n,
        "round": [0] * n,
        "depth": [0] * n,
        "discovery_seq": range(n),
        "effective_status": statuses,
    }))


def test_adaptive_concurrency_truth_table(spark):
    """Pin the reference's thresholds (crawler.py:511-531): cumulative
    rate > 0.9 → +5 capped at burst 50; < 0.7 → −3 floored at 5; no-op
    under 10 total; final checkpoint repeats after an exact-block end."""
    # 40 successes: ckpt@20 rate 1.0 → 35, ckpt@40 → 40, final@40 → 45
    rows = adaptive_concurrency_log(_c2_pages(spark, [200] * 40)).orderBy(
        "checkpoint").collect()
    assert [(r["total_requests"], r["concurrency_before"],
             r["concurrency_after"]) for r in rows] == [
        (20, 30, 35), (40, 35, 40), (40, 40, 45)]

    # all failures: −3 per checkpoint, floored at 5
    rows = adaptive_concurrency_log(_c2_pages(spark, [500] * 200)).orderBy(
        "checkpoint").collect()
    assert rows[0]["concurrency_after"] == 27
    assert rows[-1]["concurrency_after"] == 5
    assert all(r["concurrency_after"] >= 5 for r in rows)

    # burst cap: climb stops at 50
    rows = adaptive_concurrency_log(_c2_pages(spark, [200] * 120)).orderBy(
        "checkpoint").collect()
    assert rows[-1]["concurrency_after"] == 50
    assert max(r["concurrency_after"] for r in rows) == 50

    # mid band (0.7 <= rate <= 0.9): no change
    statuses = ([200] * 16 + [500] * 4) * 2     # rate 0.8 at both ckpts
    rows = adaptive_concurrency_log(_c2_pages(spark, statuses)).orderBy(
        "checkpoint").collect()
    assert all(not r["changed"] for r in rows)
    assert all(r["concurrency_after"] == 30 for r in rows)

    # under 10 requests: final checkpoint exists but adjusts nothing
    rows = adaptive_concurrency_log(_c2_pages(spark, [200] * 8)).collect()
    assert len(rows) == 1
    assert rows[0]["total_requests"] == 8 and not rows[0]["changed"]
