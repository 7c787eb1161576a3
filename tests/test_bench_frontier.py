"""bench.py's frontier job runs the engine's link-to-frontier step, its
bucket-sorted frontier snapshot and the presalted rank. Its admitted
schedule must equal the plain path: the same operators with the plain
anti-join, no snapshot layout and the unsalted rank
(``skew_safe=False``)."""

import pytest
from pyspark.sql import functions as F

import bench
from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import FRONTIER_COLS, fetch_pages
from crawler_service_spark.functions.urls import canonicalize_frame, host_frame
from crawler_service_spark.operators.dedup import anti_join_seen, first_occurrence
from crawler_service_spark.operators.politeness import schedule_round
from crawler_service_spark.operators.sequence import assign_dense_seq
from crawler_service_spark.sources.storage import SnapshotStore
from perfbench.workloads import schedule_digest

N_LINKS, N_HOSTS = 20_000, 300


def _reference_digest(cfg, links, seen, n_parents):
    cand = canonicalize_frame(links, "url", "canon_url", cfg.sort_query_params)
    cand = first_occurrence(cand, ["task_id", "canon_url"],
                            ["parent_seq", "link_pos"])
    cand = anti_join_seen(cand, seen, ["task_id", "canon_url"])
    cand = assign_dense_seq(
        cand, "parent_seq", "link_pos", n_parents, cfg.seq_buckets, base=0,
    ).withColumn("discovery_seq", F.col("discovery_seq") + F.lit(n_parents))
    cand = host_frame(cand, "url")
    admitted, _ = schedule_round(
        cand.select(FRONTIER_COLS),
        None,
        default_limit=cfg.default_rate_limit,
        default_window_s=cfg.rate_limit_window_s,
        round_epoch=cfg.round_epoch,
        priority_col="depth",
        shuffle_partitions=cfg.shuffle_partitions,
        skew_safe=False,
    )
    return schedule_digest(admitted)


@pytest.mark.parametrize("past_line", [False, True])
def test_frontier_job_matches_plain_path(spark, tmp_path, past_line):
    # a zero threshold puts the seen set past the large-seen line: the
    # batch keys probe the seen scan, as the engine does past
    # large_seen_threshold
    cfg = CrawlConfig(shuffle_partitions=8,
                      **({"large_seen_threshold": 0} if past_line else {}))
    links = bench.synth_frontier(spark, N_LINKS, N_HOSTS).persist()
    seen = bench.synth_seen(spark, N_LINKS, N_HOSTS).persist()
    n_seen = seen.count()

    admitted = bench.schedule_links(
        spark, cfg, SnapshotStore(str(tmp_path)), links, N_LINKS, seen,
        n_seen)
    got = schedule_digest(admitted)
    # every URL is distinct and the seen set holds a third of them;
    # with no deferral every other link is admitted
    assert got["rows"] == N_LINKS - n_seen
    n_parents = -(-N_LINKS // bench.LINKS_PER_PARENT)
    assert got == _reference_digest(cfg, links, seen, n_parents)
    links.unpersist()
    seen.unpersist()


def test_round_job_fetches_every_admitted_row(spark, tmp_path):
    """bench.py's round job runs the engine's fetch join over the
    synthetic store: every admitted row becomes one successful page
    whose title names its link, so the store has the engine's store
    schema and holds every admitted URL."""
    n_links = 2_000
    cfg = CrawlConfig(shuffle_partitions=4)
    links = bench.synth_frontier(spark, n_links, N_HOSTS)
    seen = bench.synth_seen(spark, n_links, N_HOSTS).persist()
    admitted = bench.schedule_links(
        spark, cfg, SnapshotStore(str(tmp_path)), links, n_links, seen,
        seen.count()).persist()
    pages = fetch_pages(admitted, bench.synth_store(spark, n_links, N_HOSTS),
                        cfg, 0)
    link_id = F.regexp_extract("url", r"/p/(\d+)", 1)
    row = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("canon_url").alias("urls"),
        F.sum(F.col("is_error").cast("int")).alias("errors"),
        F.sum((F.col("effective_status") != 200).cast("int")).alias("not_ok"),
        F.sum((F.col("title") != F.concat(F.lit("Doc "), link_id))
              .cast("int")).alias("bad_title"),
    ).collect()[0]
    assert row["n"] == row["urls"] == admitted.count() > 0
    assert (row["errors"], row["not_ok"], row["bad_title"]) == (0, 0, 0)
    admitted.unpersist()
    seen.unpersist()
