"""Bucket-sorted frontier snapshots (CrawlEngine._write_frontier).

The layout is a pure physical-plan property: the rank over a layout
snapshot must plan with no payload exchange and no sort, the layout's
``_salt`` column never reaches the pages, consumed snapshots release
their catalog entries, and a resume in a session whose catalog lost the
table must re-register it from the files (the Iceberg-spec analog).
"""
from __future__ import annotations

import os

import pytest

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, fetch_order
from crawler_service_spark.sources.corpus import build_seeds_df, build_store_df
from crawler_service_spark.sources.storage import SnapshotStore


def _engine(spark, tmp_path, sub):
    cfg = CrawlConfig(max_depth=2, follow_links=True, shuffle_partitions=8)
    return CrawlEngine(spark, cfg, build_store_df(spark, 120, 5),
                       checkpoint_dir=str(tmp_path / sub))


def _snap_tables(spark, store):
    prefix = store._bucket_table_prefix()
    return [t.name for t in spark.catalog.listTables()
            if t.name.startswith(prefix)]


def test_layout_releases_consumed_catalog_entries(spark, tmp_path):
    """Each round's frontier snapshot registers a catalog table; once the
    round commits the entry is dropped (files stay), and a fresh crawl's
    reset drops whatever the store left behind."""
    eng = _engine(spark, tmp_path, "leak")
    t = eng.crawl(build_seeds_df(spark, 120, 5, 3))
    assert len(t.round_counters) == 3
    assert len(_snap_tables(spark, eng.storage)) <= 1
    assert os.path.isdir(eng.storage.table_path("frontier", 1))
    eng.storage.reset()
    assert _snap_tables(spark, eng.storage) == []


def test_layout_frontier_scan_rank_plan(spark, tmp_path):
    """Over the bucket-sorted round-0 frontier snapshot, the presalted
    rank's payload side must contain neither Exchange nor Sort — the
    layout carries both."""
    cfg = CrawlConfig(max_depth=1, follow_links=True, shuffle_partitions=8)
    eng = CrawlEngine(spark, cfg, build_store_df(spark, 60, 3),
                      checkpoint_dir=str(tmp_path / "p"))
    eng.crawl(build_seeds_df(spark, 60, 3, 2))
    snap = eng._read_frontier(0)
    from crawler_service_spark.operators.politeness import rank_presalted
    ranked = rank_presalted(snap, "depth")
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    payload = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in payload, payload
    assert "Sort" not in payload, payload


def test_layout_resume_reregisters_catalog(spark, tmp_path):
    """Kill-and-resume with the catalog wiped: read_table_bucketed must
    recreate the external bucketed table over the surviving files and the
    resumed crawl must complete identically to an uninterrupted one."""
    cfg = CrawlConfig(max_depth=2, follow_links=True, shuffle_partitions=8)
    store = build_store_df(spark, 120, 5)
    seeds = build_seeds_df(spark, 120, 5, 3)

    full = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "full")).crawl(seeds)
    want = {tuple(r) for r in fetch_order(full.pages)
            .select("task_id", "canon_url", "fetch_seq").collect()}

    # interrupted run: max_rounds=1 commits round 0 + frontier 1
    eng1 = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "part"), max_rounds=1)
    eng1.crawl(seeds)
    # simulate a fresh session: drop every snap_* catalog entry
    for t in spark.catalog.listTables():
        if t.name.startswith("snap_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    eng2 = CrawlEngine(spark, cfg, store, checkpoint_dir=str(tmp_path / "part"))
    resumed = eng2.crawl(resume=True)
    got = {tuple(r) for r in fetch_order(resumed.pages)
           .select("task_id", "canon_url", "fetch_seq").collect()}
    assert got == want
    assert "_salt" not in resumed.pages.columns


def test_bucketize_rejects_poisoned_and_duplicate_files(tmp_path):
    """The rename-register layout's invariants fail LOUDLY (r03 VERDICT
    item 4): a data file that doesn't match Spark's part-file naming, a
    bucket id >= the declared count, or two files for one bucket would
    each make the registered bucketed scan silently misgroup/skip rows."""
    uuid = "0123abcd-89ab-cdef-0123-456789abcdef"

    def mk(files):
        d = tmp_path / f"case{mk.n}"
        mk.n += 1
        d.mkdir()
        for f in files:
            (d / f).write_bytes(b"x")
        return str(d)
    mk.n = 0

    # clean case: all files match, ids unique and < count
    ok = mk([f"part-{i:05d}-{uuid}-c000.lz4.parquet" for i in range(4)]
            + ["_SUCCESS"])
    SnapshotStore._bucketize_files(ok, 4)
    assert sorted(os.listdir(ok)) == sorted(
        [f"part-{i:05d}-{uuid}_{i:05d}.c000.lz4.parquet" for i in range(4)]
        + ["_SUCCESS"])

    # poisoned: a stray .parquet that matches nothing
    with pytest.raises(ValueError, match="does not match"):
        SnapshotStore._bucketize_files(
            mk([f"part-00000-{uuid}-c000.parquet", "extra.parquet"]), 4)

    # bucket id beyond the declared count
    with pytest.raises(ValueError, match="bucket id 7"):
        SnapshotStore._bucketize_files(
            mk([f"part-00007-{uuid}-c000.parquet"]), 4)

    # two files for one bucket (e.g. a speculative-retry leftover)
    with pytest.raises(ValueError, match="duplicate"):
        SnapshotStore._bucketize_files(
            mk([f"part-00001-{uuid}-c000.parquet",
                f"part-00001-{uuid.replace('0123a', 'ffffa')}-c000.parquet"]),
            4)


def test_layout_checkpoint_dir_with_apostrophe(spark, tmp_path):
    """LOCATION literals are escaped: a checkpoint dir containing an
    apostrophe (legal in POSIX paths, common in macOS user dirs) must
    not break the bucketed write/read DDL."""
    t = _engine(spark, tmp_path, "bob's crawl").crawl(
        build_seeds_df(spark, 120, 5, 3))
    assert fetch_order(t.pages).count() > 0
