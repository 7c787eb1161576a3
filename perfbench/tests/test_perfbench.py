"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each workload runs end to end and matches its reference; mutated outputs
(a page dropped, two fetch_seq swapped, a schedule row dropped, two host
ranks swapped) count as failed runs; a traced run reports every
per-layer metric named in BENCHMARK.json.
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from crawler_service_spark.config import CrawlConfig  # noqa: E402
from perfbench import inputs, run, session, workloads  # noqa: E402
from perfbench.trace import Tracer, layer_metrics, read_event_log  # noqa: E402


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    """Tiny inputs under a temp root, and one traced-capable session."""
    root = str(tmp_path_factory.mktemp("bench"))
    mp = pytest.MonkeyPatch()
    for name, value in {
        "WIDE_DOCS": 300, "WIDE_HOSTS": 16, "WIDE_SEEDS": 6,
        "SCHED_LINKS": 4000, "SCHED_HOSTS": 50, "SCHED_TARGETS": 2400,
        "SCHED_SEEN_FILLER": 1000,
    }.items():
        mp.setattr(inputs, name, value)
    scratch = session.Scratch(root)
    spark = session.build_spark(root, scratch, 8, event_log=True)
    yield root, scratch, spark
    session.stop_spark(spark)
    scratch.close()
    mp.undo()


class SmallFrontier(workloads.FrontierSchedule):
    # a tiny seen set still takes the bloom + hash-built anti-join path
    cfg = CrawlConfig(large_seen_threshold=0)


_work_dirs = itertools.count()


def _workload(env, cls):
    root, scratch, spark = env
    path = inputs.ensure(root, cls.name, 5)
    wl = cls(spark, path, scratch.sub(f"work-{next(_work_dirs)}"))
    wl.setup()
    return wl


def _outcome(digest):
    return workloads.Outcome(wall_s=1.0, digest=digest)


@pytest.fixture(scope="module")
def crawl(env):
    wl = _workload(env, workloads.CrawlWide)
    outcomes = []
    run.attempt(wl, outcomes)
    return wl, outcomes, wl.reference()


@pytest.fixture(scope="module")
def frontier(env):
    wl = _workload(env, SmallFrontier)
    outcomes = []
    run.attempt(wl, outcomes)
    return wl, outcomes, wl.reference()


def test_inputs_are_a_function_of_the_seed(env):
    root = env[0]
    a = inputs.ensure(root, "frontier_schedule", 1)
    b = inputs.ensure(root, "frontier_schedule", 2)
    import pyarrow.parquet as pq

    read = lambda p: pq.read_table(os.path.join(p, "links.parquet")).to_pylist()  # noqa: E731
    first = read(a)
    os.remove(os.path.join(a, "meta.json"))  # force regeneration
    assert read(inputs.ensure(root, "frontier_schedule", 1)) == first
    assert read(b) != first


def test_crawl_wide_matches_oracle(crawl):
    wl, outcomes, ref = crawl
    (out,) = outcomes
    assert out.error is None
    assert out.units == ref["pages"] > 0
    assert len(out.commits) == wl.cfg.max_depth + 1
    assert run.check(outcomes, ref) == 0


def test_crawl_mutations_fail(crawl):
    wl, _, ref = crawl
    pages, seen = wl.tables.pages, wl.tables.seen
    # one page dropped
    victim = pages.orderBy("task_id", "depth", "discovery_seq").first()
    dropped = pages.filter(~((F.col("task_id") == victim["task_id"])
                             & (F.col("url") == victim["url"])))
    # two fetch_seq swapped: exchange the order keys of two pages of one task
    task = (pages.filter(F.col("depth") == 1).groupBy("task_id").count()
            .filter(F.col("count") >= 2).orderBy("task_id").first()["task_id"])
    a, b = (pages.filter((F.col("depth") == 1) & (F.col("task_id") == task))
            .orderBy("discovery_seq").take(2))
    seq = F.col("discovery_seq")
    swapped = pages.withColumn(
        "discovery_seq",
        F.when(seq == a["discovery_seq"], F.lit(b["discovery_seq"]))
        .when(seq == b["discovery_seq"], F.lit(a["discovery_seq"]))
        .otherwise(seq))
    outcomes = [_outcome(wl.digest_of(dropped, seen)),
                _outcome(wl.digest_of(swapped, seen)),
                _outcome(wl.digest_of(pages, seen))]
    assert run.check(outcomes, ref) == 2
    assert [o.error is None for o in outcomes] == [False, False, True]


def test_frontier_schedule_matches_parity_path(frontier):
    wl, outcomes, ref = frontier
    (out,) = outcomes
    assert out.error is None
    assert out.units == ref["rows"] > 0
    assert len(out.round_gaps()) == 1
    assert run.check(outcomes, ref) == 0


def test_frontier_mutations_fail(frontier):
    wl, _, ref = frontier
    adm = wl.admitted()
    host = (adm.groupBy("host").count().filter(F.col("count") >= 2)
            .orderBy("host").first()["host"])
    a, b = adm.filter(F.col("host") == host).orderBy("host_rank").take(2)
    dropped = adm.filter(F.col("canon_url") != a["canon_url"])
    rank = F.col("host_rank")
    swapped = adm.withColumn(
        "host_rank",
        F.when(F.col("canon_url") == a["canon_url"], F.lit(b["host_rank"]))
        .when(F.col("canon_url") == b["canon_url"], F.lit(a["host_rank"]))
        .otherwise(rank))
    outcomes = [_outcome(workloads.schedule_digest(dropped)),
                _outcome(workloads.schedule_digest(swapped))]
    assert run.check(outcomes, ref) == 2


@pytest.mark.parametrize("cls", [workloads.CrawlWide, SmallFrontier])
def test_traced_run_reports_every_per_layer_metric(env, cls):
    root, scratch, spark = env
    wl = _workload(env, cls)
    outcomes = []
    untraced = run.attempt(wl, outcomes)
    tracer = Tracer(spark, cls.name)
    traced = run.attempt(wl, outcomes, tracer)
    assert run.check(outcomes, wl.reference()) == 0
    values = layer_metrics(tracer, read_event_log(scratch.sub("eventlog")),
                           session.cores(), traced.units,
                           untraced.wall_s, traced.wall_s)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    assert set(names) == set(values)
    exercised = (["engine", "classify", "extract", "links"]
                 if cls is workloads.CrawlWide else [])
    for layer in exercised + ["urls", "dedup", "politeness", "sequence", "storage"]:
        assert values[f"{layer}.calls"] > 0, layer
        assert values[f"{layer}.tasks"] > 0, layer
    assert values["engine.rounds"] == len(traced.commits)
    if cls is SmallFrontier:
        assert 0 < values["dedup.bloom_pass_frac"] <= 1
        assert values["engine.calls"] == 0
    else:
        assert 0 < values["links.kept_frac"] < 1
        assert values["dedup.bloom_pass_frac"] == 0
    # no span is left open and no cached frame outlives the run
    assert all(s.end >= s.start for s in tracer.spans)
    assert not tracer._held


def test_round_metrics_are_medians_over_executions():
    # gaps per execution: [1, 2], [1, 4], [3, 1]
    outcomes = [
        workloads.Outcome(wall_s=3.0, units=6, start=0.0, commits=[1.0, 3.0]),
        workloads.Outcome(wall_s=5.0, units=5, start=10.0, commits=[11.0, 15.0]),
        workloads.Outcome(wall_s=4.0, units=8, start=20.0, commits=[23.0, 24.0]),
    ]
    m = run._end_to_end(outcomes, setup_s=1.0, failed=1)
    assert m["wall_s"]["value"] == 4.0
    assert m["urls_per_s"]["value"] == 2.0
    assert m["round_p50_s"]["value"] == 1.5
    assert m["round_max_s"]["value"] == 3.0
    assert m["ok_frac"]["value"] == 1 - 1 / 3
