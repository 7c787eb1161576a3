"""The workloads: what one timed execution does, and how its output is
checked against a reference.

``crawl_wide`` drives ``CrawlEngine.crawl``. ``frontier_schedule`` calls
the operator functions the engine's expansion and scheduling path calls,
in the same order and with the same arguments (engine.py, the
``expand`` branch and the top of the round loop). Both use the shipped
``CrawlConfig`` defaults except for the fields that define a workload.

Operators are called through this module's globals, so a traced run can
wrap them here exactly as it wraps the engine's imports.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.engine import FRONTIER_COLS, CrawlEngine, fetch_order
from crawler_service_spark.functions.urls import canonicalize_frame, host_frame
from crawler_service_spark.operators.dedup import (
    ShardedBloomFilter,
    anti_join_seen,
    first_occurrence,
)
from crawler_service_spark.operators.politeness import presalt, schedule_round
from crawler_service_spark.operators.sequence import assign_dense_seq
from crawler_service_spark.sources.corpus import build_policy_df
from crawler_service_spark.sources.storage import SnapshotStore

from perfbench import inputs


@dataclass
class Outcome:
    """One timed execution. ``units`` is pages fetched (crawl) or URLs
    scheduled; ``commits`` are perf_counter stamps of each
    ``SnapshotStore.commit_round``; ``digest`` is filled in after the
    timed region."""

    wall_s: float
    units: int = 0
    start: float = 0.0
    commits: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    digest: dict | None = None
    error: str | None = None

    def round_gaps(self) -> list[float]:
        stamps = [self.start] + self.commits
        return [b - a for a, b in zip(stamps, stamps[1:])]


@contextmanager
def commit_stamps(stamps: list[float]):
    """Record when each round commits — the checkpoint interval — by
    wrapping ``SnapshotStore.commit_round`` for the duration."""
    inner = SnapshotStore.commit_round

    def commit_round(store, *args, **kwargs):
        inner(store, *args, **kwargs)
        stamps.append(time.perf_counter())

    SnapshotStore.commit_round = commit_round
    try:
        yield
    finally:
        SnapshotStore.commit_round = inner


def _sha(rows: list) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


class CrawlWide:
    """Many seeds over the square-law host-skewed corpus, depth-bounded,
    robots on, no deferral: the frontier grows each round."""

    name = "crawl_wide"
    # one cold execution already runs longer than a run measures, and it
    # was steady across runs; a warm-up crawl would not fit the time budget
    warmup, min_runs = 0, 1
    cfg = CrawlConfig(max_depth=inputs.WIDE_MAX_DEPTH, follow_links=True,
                      respect_robots=True)

    def __init__(self, spark, path: str, work_dir: str):
        self.spark = spark
        self.path = path
        self.work_dir = work_dir
        self.engine: CrawlEngine | None = None
        self.tables = None

    def setup(self) -> None:
        """Input load and engine construction."""
        spark = self.spark
        self.store = spark.read.parquet(os.path.join(self.path, "store.parquet"))
        self.seeds = spark.read.parquet(os.path.join(self.path, "seeds.parquet"))
        self.policy = build_policy_df(spark, inputs.read_meta(self.path)["n_hosts"])
        self.engine = CrawlEngine(
            spark, self.cfg, self.store,
            checkpoint_dir=os.path.join(self.work_dir, "checkpoint"),
            policy=self.policy,
        )

    def run(self) -> Outcome:
        out = Outcome(wall_s=0.0)
        with commit_stamps(out.commits):
            out.start = time.perf_counter()
            self.tables = self.engine.crawl(self.seeds)
            out.wall_s = time.perf_counter() - out.start
        out.units = sum(int(c.get("n_pages", 0)) for c in self.tables.round_counters)
        return out

    # ------------------------------------------------------------ checking
    def digest(self) -> dict:
        return self.digest_of(self.tables.pages, self.tables.seen)

    @staticmethod
    def digest_of(pages: DataFrame, seen: DataFrame) -> dict:
        """Fetch order, outcome and span sequence of every page, plus the
        URL-seen set — the engine's equality contract."""
        rows = (
            fetch_order(pages)
            .select("task_id", "fetch_seq", "depth", "url", "canon_url",
                    "effective_status", "retry_attempts", "is_error", "spans")
            .collect()
        )
        page_rows = sorted(
            [r["task_id"], r["fetch_seq"], r["depth"], r["url"], r["canon_url"],
             r["effective_status"], r["retry_attempts"], bool(r["is_error"]),
             [[s["kind"], s["text"], s["media_ref"], s["offset"]]
              for s in (r["spans"] or [])]]
            for r in rows
        )
        seen_rows = sorted([r["task_id"], r["canon_url"]] for r in seen.collect())
        return {"pages": len(page_rows), "pages_sha": _sha(page_rows),
                "seen": len(seen_rows), "seen_sha": _sha(seen_rows)}

    def reference(self) -> dict:
        """The serial oracle (``oracle.simulate_many``) with the same
        robots policy, digested like the engine's output."""
        import pyarrow.parquet as pq

        from crawler_service_spark.oracle import simulate_many

        store = pq.read_table(
            os.path.join(self.path, "store.parquet"),
            columns=["doc_id", "status_code", "fail_times", "html"],
        ).to_pylist()
        store_dict = {r["doc_id"]: r for r in store}
        seeds = sorted(
            pq.read_table(os.path.join(self.path, "seeds.parquet")).to_pylist(),
            key=lambda r: r["seed_seq"],
        )
        policy = {
            r["host"]: {"disallow_prefixes": list(r["disallow_prefixes"])}
            for r in self.policy.collect()
        }
        results = simulate_many(
            store_dict, [(s["task_id"], s["url"]) for s in seeds], self.cfg,
            policy=policy,
        )
        page_rows, seen = [], set()
        for res in results:
            seen |= res.seen
            page_rows.extend(
                [p.task_id, p.fetch_seq, p.depth, p.url, p.canon_url, p.status,
                 p.retry_attempts, p.is_error,
                 [[s["kind"], s["text"], s["media_ref"], s["offset"]]
                  for s in p.spans]]
                for p in res.order
            )
        page_rows.sort()
        seen_rows = sorted([t, c] for t, c in seen)
        return {"pages": len(page_rows), "pages_sha": _sha(page_rows),
                "seen": len(seen_rows), "seen_sha": _sha(seen_rows)}


SCHEDULE_COLS = ["task_id", "url", "canon_url", "host", "depth",
                 "discovery_seq", "host_rank", "virtual_fetch_time"]


def schedule_digest(admitted: DataFrame) -> dict:
    """Order-free digest of the admitted schedule: row count, XOR of one
    row hash and the sum of a second. A dropped row changes the count; a
    changed rank, time or sequence number changes both hashes."""
    h1 = F.xxhash64(*SCHEDULE_COLS)
    h2 = F.xxhash64(F.lit(1), *SCHEDULE_COLS)
    row = admitted.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h1).alias("x"),
        F.sum(F.pmod(h2, F.lit(1 << 31))).alias("s"),
    ).collect()[0]
    return {"rows": int(row["n"]), "xor": int(row["x"] or 0), "sum": int(row["s"] or 0)}


class FrontierSchedule:
    """One large link batch through the engine's scale path: canonicalize,
    first occurrence, bloom-prefiltered hash-built anti-join against a
    seen set past ``large_seen_threshold``, dense sequence, host, the
    bucket-sorted frontier snapshot, and the presalted politeness rank."""

    name = "frontier_schedule"
    # the first execution on a fresh JVM runs 2-3x longer than later ones
    # (JIT), and how much longer depends on how busy the host is: it is
    # run once untimed, and the median of at least two timed ones is
    # reported
    warmup, min_runs = 1, 2
    cfg = CrawlConfig()

    def __init__(self, spark, path: str, work_dir: str):
        self.spark = spark
        self.path = path
        self.work_dir = work_dir
        self.meta = inputs.read_meta(path)
        self.storage: SnapshotStore | None = None

    def _seen_key(self):
        return F.concat_ws("", F.col("task_id"), F.col("canon_url"))

    def setup(self) -> None:
        """Input load, snapshot store, and the bloom filter over the seen
        set (the engine fits it once the seen set crosses the threshold)."""
        cfg, spark = self.cfg, self.spark
        self.links = spark.read.parquet(os.path.join(self.path, "links.parquet"))
        self.seen = spark.read.parquet(os.path.join(self.path, "seen.parquet"))
        self.storage = SnapshotStore(os.path.join(self.work_dir, "checkpoint"))
        self.bloom = ShardedBloomFilter(
            spark, cfg.bloom_num_bits, cfg.bloom_num_hashes,
            n_shards=cfg.bloom_shards,
        )
        self.bloom.fit(self.seen.select(self._seen_key().alias("k")), "k")

    def run(self) -> Outcome:
        cfg, storage = self.cfg, self.storage
        n_parents = self.meta["n_parents"]
        layout = (cfg.shuffle_partitions, ["host", "_salt"],
                  CrawlEngine._FRONTIER_SORT)
        out = Outcome(wall_s=0.0)
        with commit_stamps(out.commits):
            out.start = time.perf_counter()
            storage.reset()
            cand = canonicalize_frame(
                self.links, "url", "canon_url", cfg.sort_query_params,
                single_scan=True,
            )
            cand = first_occurrence(
                cand, ["task_id", "canon_url"], ["parent_seq", "link_pos"],
                keep_hash=True,
            )
            cand = anti_join_seen(
                cand.withColumn("_bloom_key", self._seen_key()),
                self.seen,
                ["task_id", "canon_url"],
                bloom=self.bloom,
                bloom_key="_bloom_key",
                shuffle_hash=self.meta["n_seen"] > cfg.large_seen_threshold,
                hash_key=True,
            ).drop("_bloom_key")
            cand = assign_dense_seq(
                cand, "parent_seq", "link_pos", n_parents, cfg.seq_buckets,
                base=0,
            ).withColumn("discovery_seq", F.col("discovery_seq") + F.lit(n_parents))
            cand = host_frame(cand, "url")
            storage.write_table_bucketed(
                presalt(cand.select(FRONTIER_COLS), cfg.frontier_salt_width),
                "frontier", 0, *layout,
            )
            frontier = storage.read_table_bucketed(self.spark, "frontier", 0, *layout)
            admitted, _ = schedule_round(
                frontier,
                None,
                default_limit=cfg.default_rate_limit,
                default_window_s=cfg.rate_limit_window_s,
                round_epoch=cfg.round_epoch,
                budget_rounds=cfg.budget_rounds,
                priority_col="depth",
                shuffle_partitions=cfg.shuffle_partitions,
                rank_strategy="presalted",
            )
            storage.write_table(admitted.drop("_salt"), "schedule", 0)
            storage.commit_round(0, ["frontier", "schedule"], {})
            out.wall_s = time.perf_counter() - out.start
        # parquet row count from the footers: no scan
        out.units = self.admitted().count()
        return out

    def admitted(self) -> DataFrame:
        return self.storage.read_table(self.spark, "schedule", 0)

    def digest(self) -> dict:
        return schedule_digest(self.admitted())

    def reference(self) -> dict:
        """The no-bloom, plain-window parity path: same operators without
        the prefilter, the snapshot layout or the salted rank
        (``schedule_round(skew_safe=False)``)."""
        cfg = self.cfg
        n_parents = self.meta["n_parents"]
        cand = canonicalize_frame(self.links, "url", "canon_url",
                                  cfg.sort_query_params, single_scan=True)
        cand = first_occurrence(cand, ["task_id", "canon_url"],
                                ["parent_seq", "link_pos"])
        cand = anti_join_seen(cand, self.seen, ["task_id", "canon_url"])
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


WORKLOADS = {w.name: w for w in (CrawlWide, FrontierSchedule)}
