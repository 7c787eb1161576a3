"""Edge-case contracts surfaced by the round-5 engine review.

1. A FRESH crawl over a checkpoint dir holding a prior crawl's state must
   not let a later resume merge the two crawls (SnapshotStore.reset).
2. discovery_seq is globally unique and monotone even when a round's
   expansion yields no survivors while a deferred backlog remains (the
   frontier max regresses below already-issued seqs; the engine must not
   reissue them).
3. rate_limiting_enabled=False mirrors the reference's disabled limiter:
   no politeness caps or deferral, custom per-host limits ignored,
   robots rules still applied.
4. An empty seed frontier fails loudly instead of returning
   CrawlTables(pages=None, ...).
5. Virtual-clock continuity: politeness windows stay disjoint ACROSS
   rounds, so merging all rounds' pages still satisfies "at most limit
   virtual fetches per host per window" (rate_limiter.py:67-90 keeps one
   continuous window over the whole crawl, not one per round).
"""

import tempfile

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, fetch_order
from crawler_service_spark.oracle import simulate_many
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
)


def _ordered(tables):
    return [
        (r["task_id"], r["fetch_seq"], r["depth"], r["canon_url"],
         r["effective_status"])
        for r in fetch_order(tables.pages)
        .orderBy("task_id", "fetch_seq")
        .collect()
    ]


def test_fresh_crawl_resets_stale_checkpoint_dir(spark):
    """Crawl A fills a dir; crawl B starts FRESH in the same dir and is
    killed early; resuming B must yield exactly a clean B crawl — not a
    merge with A's leftover rounds/seen."""
    cfg = CrawlConfig(max_depth=3, follow_links=True)
    store = build_store_df(spark, 300, 8)
    seeds_a = build_seeds_df(spark, 300, 8, 4)
    seeds_b = build_seeds_df(spark, 300, 8, 2)

    with tempfile.TemporaryDirectory() as ref:
        clean_b = CrawlEngine(spark, cfg, store, checkpoint_dir=ref).crawl(
            seeds_b)
        want = _ordered(clean_b)
        want_seen = {(r["task_id"], r["canon_url"])
                     for r in clean_b.seen.collect()}

    with tempfile.TemporaryDirectory() as ck:
        CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds_a)
        # fresh crawl B over A's dir, killed after round 0
        CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                    max_rounds=1).crawl(seeds_b)
        resumed = CrawlEngine(spark, cfg, store,
                              checkpoint_dir=ck).crawl(resume=True)
        assert _ordered(resumed) == want
        got_seen = {(r["task_id"], r["canon_url"])
                    for r in resumed.seen.collect()}
        assert got_seen == want_seen


def _extinction_fixture(spark):
    """Two tasks; host a's deferred backlog outlives host b's rows, one
    round yields no new candidates (frontier max regresses), and a LATER
    round discovers new links — the shape that reissued seqs."""
    def page(links):
        body = "".join(f'<a href="{u}">x</a>' for u in links)
        return f"<html><head><title>t</title></head><body>{body}</body></html>"

    a = "https://a.example.com"
    b = "https://b.example.com"
    docs = {
        f"{a}/root": page([f"{a}/p{i}" for i in range(1, 7)]),
        f"{a}/p1": page([]),
        f"{a}/p2": page([]),
        f"{a}/p3": page([f"{a}/q1", f"{a}/q2"]),
        f"{a}/p4": page([]),
        f"{a}/p5": page([]),
        f"{a}/p6": page([]),
        f"{a}/q1": page([]),
        f"{a}/q2": page([]),
        f"{b}/root": page([f"{b}/p1", f"{b}/p2"]),
        f"{b}/p1": page([]),
        f"{b}/p2": page([]),
    }
    store = spark.createDataFrame(
        [(u, "a.example.com" if u.startswith(a) else "b.example.com",
          200, 0, 10, h) for u, h in docs.items()],
        "doc_id string, host string, status_code int, fail_times int, "
        "response_time_ms int, html string",
    )
    seeds = spark.createDataFrame(
        [("task_a", f"{a}/root", 0), ("task_b", f"{b}/root", 1)],
        "task_id string, url string, seed_seq long",
    )
    store_dict = {
        u: {"status_code": 200, "fail_times": 0, "html": h}
        for u, h in docs.items()
    }
    oracle_seeds = [("task_a", f"{a}/root"), ("task_b", f"{b}/root")]
    return store, seeds, store_dict, oracle_seeds


def test_seq_monotone_when_frontier_max_regresses(spark):
    cfg = CrawlConfig(max_depth=2, follow_links=True,
                      default_rate_limit=1, budget_rounds=1)
    store, seeds, store_dict, oracle_seeds = _extinction_fixture(spark)
    with tempfile.TemporaryDirectory() as ck:
        tables = CrawlEngine(spark, cfg, store,
                             checkpoint_dir=ck).crawl(seeds)
        pages = tables.pages.select(
            "task_id", "depth", "discovery_seq", "canon_url").collect()
        # every page fetched exactly once
        assert len({r["canon_url"] for r in pages}) == len(pages)
        # discovery_seq globally unique: the q1/q2 links discovered after
        # the frontier-max regression must NOT reuse b's seqs
        seqs = [r["discovery_seq"] for r in pages]
        assert len(set(seqs)) == len(seqs), sorted(seqs)
        # and the per-task order equals the reference oracle's
        want = {r.order[0].task_id: r
                for r in simulate_many(store_dict, oracle_seeds, cfg)}
        got = {}
        for r in fetch_order(tables.pages).orderBy(
                "task_id", "fetch_seq").collect():
            got.setdefault(r["task_id"], []).append(
                (r["depth"], r["canon_url"]))
        for tid, res in want.items():
            assert got[tid] == [(o.depth, o.canon_url) for o in res.order], tid


def test_rate_limiting_disabled_matches_unbudgeted_crawl(spark):
    """rate_limiting_enabled=False: budget/deferral and custom limits
    are inert — the crawl equals the enabled, unbudgeted crawl."""
    store = build_store_df(spark, 300, 8)
    seeds = build_seeds_df(spark, 300, 8, 3)
    policy = build_policy_df(spark, 8)

    with tempfile.TemporaryDirectory() as ref:
        base = CrawlEngine(
            spark, CrawlConfig(max_depth=2, follow_links=True),
            store, checkpoint_dir=ref, policy=policy).crawl(seeds)
        want = _ordered(base)

    with tempfile.TemporaryDirectory() as ck:
        off = CrawlEngine(
            spark,
            CrawlConfig(max_depth=2, follow_links=True,
                        rate_limiting_enabled=False,
                        default_rate_limit=1, budget_rounds=1),
            store, checkpoint_dir=ck, policy=policy).crawl(seeds)
        assert len(off.round_counters) == len(base.round_counters), \
            "deferral must be inert when rate limiting is disabled"
        assert _ordered(off) == want


def test_empty_seed_frontier_raises(spark):
    store = build_store_df(spark, 100, 4)
    seeds = build_seeds_df(spark, 100, 4, 2).limit(0)
    with tempfile.TemporaryDirectory() as ck:
        with pytest.raises(ValueError, match="seed frontier was empty"):
            CrawlEngine(spark, CrawlConfig(), store,
                        checkpoint_dir=ck).crawl(seeds)


def test_bloom_shards_below_one_rejected():
    with pytest.raises(ValueError, match="bloom_shards"):
        CrawlConfig(bloom_shards=0)


def test_politeness_windows_disjoint_across_rounds(spark):
    """Merging ALL rounds' pages must still satisfy <= limit virtual
    fetches per host per window: the virtual clock resumes past the
    previous round's max window instead of restarting at round_epoch."""
    cfg = CrawlConfig(max_depth=3, follow_links=True, default_rate_limit=3,
                      rate_limit_window_s=60)
    store = build_store_df(spark, 300, 8)
    seeds = build_seeds_df(spark, 300, 8, 4)
    with tempfile.TemporaryDirectory() as ck:
        tables = CrawlEngine(spark, cfg, store,
                             checkpoint_dir=ck).crawl(seeds)
        assert len(tables.round_counters) > 1, "needs a multi-round crawl"
        per_window = (
            tables.pages
            .withColumn("win", F.floor(
                F.col("virtual_fetch_time") / F.col("window_s")))
            .groupBy("host", "win")
            .agg(F.count("*").alias("n"), F.first("rate_limit").alias("lim"))
        )
        assert per_window.filter(F.col("n") > F.col("lim")).count() == 0
