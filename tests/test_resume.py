"""Checkpoint/resume contract (SURVEY §5.4, north rule): a crawl killed
after round k and resumed from the snapshot store must produce the
byte-identical final ordering and URL-seen set."""

import tempfile

import pytest

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import CrawlEngine, fetch_order
from crawler_service_spark.oracle import simulate_crawl_rounds, simulate_many
from crawler_service_spark.sources.corpus import (
    build_policy_df,
    build_seeds_df,
    build_store_df,
    build_store_pandas,
)
from crawler_service_spark.sources.storage import SnapshotStore

N_DOCS, N_HOSTS, N_SEEDS = 300, 8, 4


def _ordered(tables):
    return [
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"])
        for r in fetch_order(tables.pages)
        .orderBy("task_id", "fetch_seq")
        .collect()
    ]


def test_interrupt_after_first_round_then_resume(spark):
    cfg = CrawlConfig(max_depth=3, follow_links=True)
    store = build_store_df(spark, N_DOCS, N_HOSTS)
    seeds = build_seeds_df(spark, N_DOCS, N_HOSTS, N_SEEDS)
    policy = build_policy_df(spark, N_HOSTS)

    with tempfile.TemporaryDirectory() as ref_dir:
        full = CrawlEngine(spark, cfg, store, checkpoint_dir=ref_dir,
                           policy=policy).crawl(seeds)
        want = _ordered(full)
        want_seen = {(r["task_id"], r["canon_url"]) for r in full.seen.collect()}

    with tempfile.TemporaryDirectory() as ck:
        # "killed" after round 0: max_rounds=1 stops with the round-1
        # frontier committed but unfetched
        interrupted = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                                  policy=policy, max_rounds=1).crawl(seeds)
        assert len(_ordered(interrupted)) < len(want)

        resumed = CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                              policy=policy).crawl(resume=True)
        assert _ordered(resumed) == want
        got_seen = {(r["task_id"], r["canon_url"]) for r in resumed.seen.collect()}
        assert got_seen == want_seen


def test_resume_of_complete_crawl_is_stable(spark):
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    store = build_store_df(spark, 150, 5)
    seeds = build_seeds_df(spark, 150, 5, 2)
    with tempfile.TemporaryDirectory() as ck:
        first = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
        again = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(resume=True)
        assert _ordered(first) == _ordered(again)


# deferral: one host over its per-window budget every round, so rows
# defer and re-enter later frontiers (the oracle replays one task per
# host); the seen set is past the large-seen line from round 0
DEFERRAL_CFG = CrawlConfig(max_depth=0, follow_links=True,
                           respect_robots=False, budget_rounds=1,
                           default_rate_limit=10, large_seen_threshold=0)
PLAIN_CFG = CrawlConfig(max_depth=3, follow_links=True, respect_robots=False,
                        large_seen_threshold=0)


def _corpus(spark, deferral):
    n_docs, n_hosts, n_seeds = (60, 1, 1) if deferral else (N_DOCS, N_HOSTS,
                                                            N_SEEDS)
    return (n_docs, n_hosts, build_store_df(spark, n_docs, n_hosts),
            build_seeds_df(spark, n_docs, n_hosts, n_seeds))


def _oracle(spark, cfg, deferral):
    n_docs, n_hosts, _, seeds = _corpus(spark, deferral)
    store = {
        r["doc_id"]: {"status_code": int(r["status_code"]),
                      "fail_times": int(r["fail_times"]), "html": r["html"]}
        for _, r in build_store_pandas(n_docs, n_hosts).iterrows()
    }
    seed_rows = [(r["task_id"], r["url"])
                 for r in seeds.orderBy("seed_seq").collect()]
    if deferral:
        results = [simulate_crawl_rounds(store, url, cfg, task_id=tid)
                   for tid, url in seed_rows]
    else:
        results = simulate_many(store, seed_rows, cfg)
    order = sorted(
        (p.task_id, p.fetch_seq, p.depth, p.url, p.canon_url, p.status,
         p.retry_attempts)
        for res in results for p in res.order)
    return order, set().union(*(res.seen for res in results))


def _seen_set(tables):
    return {(r["task_id"], r["canon_url"]) for r in tables.seen.collect()}


def test_seen_total_counts_the_seen_union_under_deferral(spark, tmp_path):
    """The round counters' running seen count (which picks the seen
    anti-join's plan) equals the seen union's row count, also when
    deferred rows re-enter later frontiers."""
    _, _, store, seeds = _corpus(spark, deferral=True)
    eng = CrawlEngine(spark, DEFERRAL_CFG, store,
                      checkpoint_dir=str(tmp_path))
    tables = eng.crawl(seeds)
    counters = tables.round_counters
    # rows must actually defer: some round's frontier carries old rows
    assert sum(c["frontier"] for c in counters) > tables.seen.count()
    assert counters[-1]["seen_total"] == tables.seen.count()
    assert sum(c["seen_new"] for c in counters) == tables.seen.count()
    last = eng.storage.round_meta(counters[-1]["round"])["counters"]
    assert last["seen_total"] == tables.seen.count()


class _Killed(Exception):
    pass


@pytest.mark.parametrize("deferral", [False, True],
                         ids=["plain", "budget_rounds"])
def test_kill_after_seen_write_then_resume_on_probe_path(
        spark, tmp_path, monkeypatch, deferral):
    """Killed after round 1's seen write, before its commit, on the
    seen-scan probe path: the resumed crawl redoes round 1 and equals
    both the uninterrupted crawl and the oracle."""
    cfg = DEFERRAL_CFG if deferral else PLAIN_CFG
    _, _, store, seeds = _corpus(spark, deferral)
    full = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "full")).crawl(seeds)

    inner = SnapshotStore.write_table

    def write_table(storage, df, table, rnd):
        path = inner(storage, df, table, rnd)
        if table == "seen" and rnd == 1:
            raise _Killed
        return path

    ck = str(tmp_path / "killed")
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "write_table", write_table)
        with pytest.raises(_Killed):
            CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
    eng = CrawlEngine(spark, cfg, store, checkpoint_dir=ck)
    # round 1's seen files are on disk, but round 1 never committed
    assert eng.storage.latest_round() == 0
    resumed = eng.crawl(resume=True)

    want_order, want_seen = _oracle(spark, cfg, deferral)
    got = sorted(
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"])
        for r in fetch_order(resumed.pages).collect())
    assert got == sorted(_ordered(full)) == want_order
    assert _seen_set(resumed) == _seen_set(full) == want_seen
