"""Checkpoint/resume contract (SURVEY §5.4, north rule): a crawl killed
after round k and resumed from the snapshot store must produce the
byte-identical final ordering and URL-seen set."""

import json
import os
import tempfile
from dataclasses import replace
from pathlib import Path

import pytest
from pyspark.sql import functions as F

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
    """Resuming a finished crawl returns its fetch order and its seen
    set, which equals the oracle's."""
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    corpus = (150, 5, build_store_df(spark, 150, 5),
              build_seeds_df(spark, 150, 5, 2))
    _, _, store, seeds = corpus
    with tempfile.TemporaryDirectory() as ck:
        first = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
        again = CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(resume=True)
        assert _ordered(first) == _ordered(again)
        want_seen = set().union(
            *(res.seen for res in _oracle_results(cfg, corpus, False)))
        assert _seen_set(again) == _seen_set(first) == want_seen


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


def _oracle_results(cfg, corpus, deferral, max_rounds=200):
    n_docs, n_hosts, _, seeds = corpus
    store = {
        r["doc_id"]: {"status_code": int(r["status_code"]),
                      "fail_times": int(r["fail_times"]), "html": r["html"]}
        for _, r in build_store_pandas(n_docs, n_hosts).iterrows()
    }
    seed_rows = [(r["task_id"], r["url"])
                 for r in seeds.orderBy("seed_seq").collect()]
    if deferral:
        return [simulate_crawl_rounds(store, url, cfg, task_id=tid,
                                      max_rounds=max_rounds)
                for tid, url in seed_rows]
    return simulate_many(store, seed_rows, cfg)


def _oracle(spark, cfg, deferral):
    results = _oracle_results(cfg, _corpus(spark, deferral), deferral)
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


@pytest.mark.parametrize("max_rounds", [1, 2, 3])
def test_capped_crawl_matches_the_capped_oracle(spark, tmp_path, max_rounds):
    """A deferral crawl stopped by ``max_rounds`` equals the oracle
    stopped after as many rounds: the same pages, and a seen set that
    also holds the URLs the last round enqueued but did not fetch."""
    corpus = _corpus(spark, deferral=True)
    _, _, store, seeds = corpus
    tables = CrawlEngine(spark, DEFERRAL_CFG, store,
                         checkpoint_dir=str(tmp_path),
                         max_rounds=max_rounds).crawl(seeds)
    results = _oracle_results(DEFERRAL_CFG, corpus, True, max_rounds)
    want_pages = sorted(
        (p.task_id, p.fetch_seq, p.depth, p.url, p.canon_url, p.status,
         p.retry_attempts)
        for res in results for p in res.order)
    want_seen = set().union(*(res.seen for res in results))
    # the cap stopped the crawl with URLs still pending
    assert len(want_seen) > len(want_pages)
    assert sorted(_ordered(tables)) == want_pages
    assert _seen_set(tables) == want_seen
    assert tables.seen.count() == len(want_seen)


class _Killed(Exception):
    pass


@pytest.mark.parametrize("deferral", [False, True],
                         ids=["plain", "budget_rounds"])
def test_kill_after_pages_write_then_resume_on_probe_path(
        spark, tmp_path, monkeypatch, deferral):
    """Killed after round 1's pages write, before its commit, on the
    seen-scan probe path: the resumed crawl redoes round 1 and equals
    both the uninterrupted crawl and the oracle."""
    cfg = DEFERRAL_CFG if deferral else PLAIN_CFG
    _, _, store, seeds = _corpus(spark, deferral)
    full = CrawlEngine(spark, cfg, store,
                       checkpoint_dir=str(tmp_path / "full")).crawl(seeds)

    inner = SnapshotStore.write_table

    def write_table(storage, df, table, rnd):
        path = inner(storage, df, table, rnd)
        if table == "pages" and rnd == 1:
            raise _Killed
        return path

    ck = str(tmp_path / "killed")
    with monkeypatch.context() as m:
        m.setattr(SnapshotStore, "write_table", write_table)
        with pytest.raises(_Killed):
            CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
    eng = CrawlEngine(spark, cfg, store, checkpoint_dir=ck)
    # round 1's pages files are on disk, but round 1 never committed
    assert eng.storage.latest_round() == 0
    resumed = eng.crawl(resume=True)

    want_order, want_seen = _oracle(spark, cfg, deferral)
    got = sorted(
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"])
        for r in fetch_order(resumed.pages).collect())
    assert got == sorted(_ordered(full)) == want_order
    assert _seen_set(resumed) == _seen_set(full) == want_seen


@pytest.mark.parametrize("counter", [
    "seq_base", "vclock_next", "seen_total", "frontier", "n_pages",
    "next_frontier", "next_seq_min", "next_seq_max"])
def test_resume_without_a_round_counter_fails(spark, tmp_path, counter):
    """Resume reads the seq high-water mark, the virtual clock, the
    seen count, the frontier size, the page count and the next
    frontier's size and discovery_seq range only from the last
    committed round; a manifest that lacks one fails loudly instead of
    being reconstructed."""
    store = build_store_df(spark, 150, 5)
    seeds = build_seeds_df(spark, 150, 5, 2)
    cfg = CrawlConfig(max_depth=1, follow_links=True)
    ck = str(tmp_path)
    CrawlEngine(spark, cfg, store, checkpoint_dir=ck,
                max_rounds=1).crawl(seeds)
    manifest = Path(ck) / "manifest.json"
    meta = json.loads(manifest.read_text())
    del meta["rounds"][-1]["counters"][counter]
    manifest.write_text(json.dumps(meta))
    with pytest.raises(ValueError, match=counter):
        CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(resume=True)


# one host and one fetch per round: rows defer from round 1 on, and the
# crawl stays a few rounds long
KILL_DEFERRAL_CFG = replace(DEFERRAL_CFG, default_rate_limit=1)


def _kill_round_at(m, kill_rnd, point):
    """Patch the snapshot store so round ``kill_rnd`` raises ``_Killed``
    at ``point``: after one of its durable writes, or just before its
    commit. The round writes the next round's frontier."""
    next_frontier = os.path.join("frontier", f"round={kill_rnd + 1:06d}")
    if point == "pages":
        write_table = SnapshotStore.write_table

        def kill(storage, df, table, rnd):
            path = write_table(storage, df, table, rnd)
            if (table, rnd) == ("pages", kill_rnd):
                raise _Killed
            return path
        m.setattr(SnapshotStore, "write_table", kill)
    elif point in ("before_bucketize", "after_bucketize"):
        bucketize = SnapshotStore._bucketize_files

        def kill(path, buckets):
            hit = path.endswith(next_frontier)
            if hit and point == "before_bucketize":
                raise _Killed
            bucketize(path, buckets)
            if hit:
                raise _Killed
        m.setattr(SnapshotStore, "_bucketize_files", staticmethod(kill))
    elif point == "after_create_table":
        # the layout spec is the write that follows the CREATE TABLE
        write_text = Path.write_text

        def kill(path, *args, **kwargs):
            if (path.name == "_bucket_spec.json"
                    and str(path.parent).endswith(next_frontier)):
                raise _Killed
            return write_text(path, *args, **kwargs)
        m.setattr(Path, "write_text", kill)
    else:
        assert point == "before_commit"
        commit_round = SnapshotStore.commit_round

        def kill(storage, rnd, tables, counters):
            if rnd == kill_rnd:
                raise _Killed
            commit_round(storage, rnd, tables, counters)
        m.setattr(SnapshotStore, "commit_round", kill)


def _kill_case(spark, deferral):
    if deferral:
        return KILL_DEFERRAL_CFG, (8, 1, build_store_df(spark, 8, 1),
                                   build_seeds_df(spark, 8, 1, 1))
    return PLAIN_CFG, _corpus(spark, False)


def _fetch_times(tables):
    return sorted((r["task_id"], r["fetch_seq"], r["virtual_fetch_time"])
                  for r in fetch_order(tables.pages).collect())


@pytest.fixture(scope="module")
def uninterrupted_fetch_times(spark, tmp_path_factory):
    """Virtual fetch times of each kill-test config's uninterrupted
    crawl (the oracle has no clock): resume must restore the clock."""
    times = {}
    for deferral in (False, True):
        cfg, (_, _, store, seeds) = _kill_case(spark, deferral)
        ck = str(tmp_path_factory.mktemp("uninterrupted"))
        times[deferral] = _fetch_times(
            CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds))
    return times


def _spans(spans):
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in spans or [])


@pytest.mark.parametrize("deferral", [False, True],
                         ids=["plain", "budget_rounds"])
@pytest.mark.parametrize("point", [
    "pages", "before_bucketize", "after_bucketize",
    "after_create_table", "before_commit",
])
def test_kill_anywhere_in_a_round_then_resume(
        spark, tmp_path, monkeypatch, uninterrupted_fetch_times, point,
        deferral):
    """Killed at any durable write of a round (or just before its
    commit), the crawl resumes from the previous round's committed
    counters alone and equals the oracle: fetch order, spans and the
    seen set, which holds each URL once. Virtual fetch times equal the
    uninterrupted crawl's.

    The plain crawl is killed in round 1. Under deferral no row defers
    before round 1, so the crawl is killed in round 2, the first round
    whose frontier carries a deferred row: only there does the resumed
    seq high-water mark decide which frontier rows are new."""
    cfg, corpus = _kill_case(spark, deferral)
    kill_rnd = 2 if deferral else 1
    _, _, store, seeds = corpus
    ck = str(tmp_path)
    with monkeypatch.context() as m:
        _kill_round_at(m, kill_rnd, point)
        with pytest.raises(_Killed):
            CrawlEngine(spark, cfg, store, checkpoint_dir=ck).crawl(seeds)
    eng = CrawlEngine(spark, cfg, store, checkpoint_dir=ck)
    assert eng.storage.latest_round() == kill_rnd - 1
    if deferral:  # the resumed round's frontier carries a deferred row
        seq_base = eng.storage.round_meta(kill_rnd - 1)["counters"][
            "seq_base"]
        frontier = eng.storage.read_table(spark, "frontier", kill_rnd)
        assert frontier.filter(F.col("discovery_seq") < seq_base).count()
    resumed = eng.crawl(resume=True)
    rounds = [c["round"] for c in resumed.round_counters]
    assert rounds == list(range(len(rounds))) and len(rounds) > kill_rnd

    results = _oracle_results(cfg, corpus, deferral)
    want = sorted(
        (p.task_id, p.fetch_seq, p.depth, p.url, p.canon_url, p.status,
         p.retry_attempts, _spans(p.spans))
        for res in results for p in res.order)
    got = sorted(
        (r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
         r["effective_status"], r["retry_attempts"], _spans(r["spans"]))
        for r in fetch_order(resumed.pages).collect())
    assert got == want
    assert _seen_set(resumed) == set().union(*(res.seen for res in results))
    assert resumed.seen.count() == len(_seen_set(resumed))
    assert _fetch_times(resumed) == uninterrupted_fetch_times[deferral]
