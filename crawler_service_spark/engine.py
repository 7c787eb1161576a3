"""The round-based BSP crawl engine (SURVEY §3.1 "Spark lifecycle").

Each reference BFS depth level (/root/reference/app/services/crawler.py:
103-162) becomes one Spark round (this module's functions in brackets):

    frontier_r [read_frontier] --(RL1 politeness rank: virtual fetch
      times) [schedule_frontier]--> --(S1 fetch join vs content store)-->
      --(R1/R2 outcome columns)--> --(X1-X8 mapInPandas extraction)
      [fetch_pages]--> pages_r  [snapshot]
    pages_r --(J1 posexplode links)--(F1 internal filter + P1
      canonicalize: one URL pass)--(robots)--(D2 first-occurrence)-->
      --(D1 exact anti-join vs url_seen = visited ∪ pending; past the
         large-seen line the batch keys probe the seen scan map-side)-->
      --(O1 dense discovery_seq) [links_to_frontier]-->
      frontier_{r+1}  [snapshot, write_frontier]

``CrawlEngine.crawl`` runs the loop around them (round sizing, counters,
virtual clock, seen set, link expansion, resume); ``bench.py`` calls them too.

Level-synchronized BFS is order-equivalent to the reference's serial FIFO
deque because (a) a FIFO queue seeded at depth 0 pops strictly level by
level, (b) the reference's enqueue-time dedup keeps the FIRST discovered
raw variant, which is exactly ``min_(parent_seq, link_pos)`` — our D2 —
and (c) every depth-r frontier entry is fetched before any depth-(r+1)
entry, so the reference's "pending queue" anti-join (crawler.py:145)
collapses into the end-of-round url_seen anti-join. The politeness
limiter never reorders (it only sleeps — rate_limiter.py:139-150), so it
contributes virtual fetch *times*, not order.

All state lives in two per-round parquet snapshots, pages and frontier
(sources/storage.py), giving checkpoint/resume with identical ordering
and O(1) plans per round. url_seen is not stored: as in the reference
(visited_urls ∪ the pending deque), the seen set when round k runs is
the pages of every committed round before k (visited) plus frontier k
(pending). The two are disjoint — a URL enters a frontier once and is
fetched at most once — so the union holds each URL once, and its size
is the pages fetched before k plus frontier k's row count, both already
measured.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.functions.classify import resolve_fetch_outcome
from crawler_service_spark.functions.urls import host_frame, takes_udf, url_pass
from crawler_service_spark.operators.dedup import (
    anti_join_seen,
    first_occurrence,
)
from crawler_service_spark.operators.extract import extract_pages
from crawler_service_spark.operators.links import (
    expand_links,
    filter_internal,
    filter_robots,
    ineligible_links,
)
from crawler_service_spark.operators.politeness import presalt, schedule_round
from crawler_service_spark.operators.sequence import assign_dense_seq
from crawler_service_spark.sources.storage import SnapshotStore

FRONTIER_COLS = [
    "task_id", "seed_netloc", "url", "canon_url", "host", "depth", "discovery_seq",
]

# rows per task before a round widens past the core count. At small
# sizes a round's cost is per task and per file (scheduling, one parquet
# file per partition per snapshot), not per row: on a 4-core VM a
# perfbench crawl_wide round (hundreds of pages) ran about a third
# faster at one task per core than at 32 tasks, and a 200k-link
# `bench.py --job round` was no faster at 13 tasks (16k rows each) than
# at 4. The 32-64 partition caps are reached only at the multi-million-
# row sizes where they were measured (scripts/bench_scaling.py: 6M-32M
# rows at 64 partitions).
ROWS_PER_TASK = 1 << 16


def round_partitions(n_rows: int, cores: int, cap: int) -> int:
    """Partition count for a round over ``n_rows`` rows: one task per
    ``ROWS_PER_TASK`` rows, never fewer tasks than ``cores`` (extraction
    cost is per row; a narrower stage idles cores) and never more than
    ``cap``."""
    return min(cap, max(cores, -(-n_rows // ROWS_PER_TASK)))


def round_config(cfg: CrawlConfig, n_rows: int, cores: int) -> CrawlConfig:
    """``cfg`` with ``shuffle_partitions`` sized by ``round_partitions``
    and ``seq_buckets`` scaled by the same factor. Exact: dense ranks do
    not depend on the bucket count, and each frontier snapshot records
    the bucket count it was written with (``_bucket_spec.json``)."""
    parts = round_partitions(n_rows, cores, cfg.shuffle_partitions)
    return replace(
        cfg, shuffle_partitions=parts,
        seq_buckets=max(1, cfg.seq_buckets * parts // cfg.shuffle_partitions),
    )


def links_to_frontier(
    cand: DataFrame,
    seen: DataFrame,
    cfg: CrawlConfig,
    *,
    seen_total: int,
    seq_base: int,
    seq_min: int,
) -> DataFrame:
    """One round's canonical link batch to next-round frontier rows: D2
    first occurrence, D1 seen anti-join, O1 dense ``discovery_seq`` and
    P2 host, projected to ``FRONTIER_COLS``.

    ``cand`` carries ``task_id``, ``seed_netloc``, ``url``,
    ``canon_url`` (`filter_internal` emits it), ``depth``, ``parent_seq``
    and ``link_pos``; ``seen`` carries ``(task_id, canon_url)``.
    ``seen_total`` (the seen row count) picks the
    anti-join's physical plan; the parents' sequence numbers span
    ``[seq_min, seq_base)`` and new rows are numbered from ``seq_base``.
    """
    # keep_hash/hash_key: dedup groups and the anti-join join on
    # (xxhash64(key), key…) — the random-long sort prefix resolves
    # SortAggregate comparisons that full-compare on the shared
    # "https://…" prefix otherwise, and the anti-join reuses the
    # aggregate's exchange
    cand = first_occurrence(
        cand, ["task_id", "canon_url"], ["parent_seq", "link_pos"],
        keep_hash=True,
    )
    cand = anti_join_seen(
        cand,
        seen,
        ["task_id", "canon_url"],
        # past the large-seen line the batch keys probe the seen scan
        # (count known from round counters — no extra job); below it,
        # leave the planner its broadcast-anti plan
        shuffle_hash=seen_total > cfg.large_seen_threshold,
        hash_key=True,
    )
    # discovery_seq is GLOBAL: per-round dense rank over (parent_seq,
    # link_pos) shifted by seq_base, so ordering and first-occurrence
    # stay well-defined when deferred rows from earlier rounds share
    # the frontier.
    # base=seq_min: parents span [seq_min, seq_base), so bucketing over
    # the cumulative [0, seq_base) range would collapse late rounds'
    # candidates into 1-2 buckets and serialize the dense-seq window
    # (the two-level scheme's whole point is that no executor sees more
    # than one bucket)
    cand = assign_dense_seq(
        cand, "parent_seq", "link_pos", seq_base,
        cfg.seq_buckets, base=seq_min,
    ).withColumn(
        "discovery_seq", F.col("discovery_seq") + F.lit(seq_base)
    )
    # recompute host only for rows that survived dedup + seen
    # filtering (deferred frontier rows keep theirs), natively from
    # canon_url: the filter kept only links whose netloc is their seed's
    cand = host_frame(cand, "url", canon_col="canon_url",
                      netloc_col="seed_netloc")
    return cand.select(FRONTIER_COLS)


# Frontier snapshots are bucket-sorted on (host, _salt): the rank's
# repartition is paid once by the snapshot write, and the next round's
# politeness rank plans with no payload exchange. The depth-major
# in-bucket sort (CrawlEngine._FRONTIER_SORT) matches rank_presalted's
# window (partitionBy host, depth, _salt / orderBy discovery_seq),
# keeping the rank sort-free even when deferral mixes depths per host.
def write_frontier(storage: SnapshotStore, df: DataFrame, rnd: int,
                   cfg: CrawlConfig) -> dict:
    """Frontier snapshot ``rnd`` of ``FRONTIER_COLS`` rows, presalted.
    Bucket count: ``cfg.shuffle_partitions`` of the round that writes
    the snapshot (recorded in its ``_bucket_spec.json``). Returns its
    ``rows`` and ``discovery_seq`` range (``seq_min``, ``seq_max``;
    ``None`` when empty), observed on the write."""
    obs = Observation(f"frontier_{rnd}")
    storage.write_table_bucketed(
        presalt(df, cfg.frontier_salt_width).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min("discovery_seq").alias("seq_min"),
            F.max("discovery_seq").alias("seq_max"),
        ), "frontier", rnd,
        cfg.shuffle_partitions, ["host", "_salt"], CrawlEngine._FRONTIER_SORT,
    )
    # when the optimizer proves the frame empty (say, an empty link
    # batch and no deferred rows), it prunes the metrics node and Spark
    # completes the observation with a schema-less empty row, which
    # PySpark's `get` cannot convert
    if obs._jo.getRow().length() == 0:
        return {"rows": 0, "seq_min": None, "seq_max": None}
    return dict(obs.get)


def read_frontier(storage: SnapshotStore, spark: SparkSession,
                  rnd: int) -> DataFrame:
    """Bucketed scan of frontier snapshot ``rnd``, with the layout its
    ``_bucket_spec.json`` recorded."""
    return storage.read_table_bucketed(spark, "frontier", rnd)


def schedule_frontier(
    frontier: DataFrame, policy: DataFrame | None, cfg: CrawlConfig,
    epoch: float,
) -> tuple[DataFrame, DataFrame]:
    """RL1 over a ``read_frontier`` scan from virtual time ``epoch``:
    ``(admitted, deferred)``, the admitted rows without ``_salt``."""
    # the reference's `rate_limiting_enabled=False` (can_make_request
    # always True): unbounded limits — no politeness windows, no
    # deferral caps — while robots rules (disallow prefixes, crawl
    # delay) still apply. Per-host limits are nulled so the coalesce
    # falls through to the unbounded default.
    default_limit = cfg.default_rate_limit
    if not cfg.rate_limiting_enabled:
        default_limit = 1 << 31
        if policy is not None:
            policy = policy.withColumn("rate_limit", F.lit(None).cast("int"))
    # over a bucket-sorted frontier snapshot the presalted rank plans
    # with no payload exchange/sort/driver barrier
    admitted, deferred = schedule_round(
        frontier, policy, default_limit=default_limit,
        default_window_s=cfg.rate_limit_window_s, round_epoch=epoch,
        budget_rounds=cfg.budget_rounds, priority_col="depth",
        rank_strategy="presalted",
    )
    return admitted.drop("_salt"), deferred


def fetch_pages(admitted: DataFrame, store: DataFrame, cfg: CrawlConfig,
                rnd: int) -> DataFrame:
    """Round ``rnd``'s pages: S1 fetch join of the ``admitted`` rows
    against the content ``store`` (``doc_id``, ``status_code``,
    ``fail_times``, ``response_time_ms``, ``html``), R1/R2 outcome
    columns and X1-X8 extraction, on ``cfg.shuffle_partitions`` tasks."""
    # both join sides are hash-partitioned on canon_url with one count,
    # so the join adds no exchange and the Arrow extraction fuses into
    # the join stage; a post-join repartition would push every
    # html-bearing row through a second exchange (measured 9-13% of the
    # fetch+extract phase; A/B script in commit 39ef1e8,
    # scripts/exp_fetch_join.py). The store side is re-shuffled every
    # round (the cluster analog is a bucketed store table). The explicit
    # count also pins the stage against AQE byte-based coalescing:
    # extraction cost is per ROW, and byte-coalescing once shrank this
    # stage to ~5 tasks; round_partitions never sizes it below the cores.
    parts = cfg.shuffle_partitions
    store = store.select(F.col("doc_id").alias("canon_url"), "status_code",
                         "fail_times", "response_time_ms", "html")
    fetched = admitted.repartition(parts, F.col("canon_url")).join(
        store.repartition(parts, F.col("canon_url")), "canon_url", "left")
    fetched = resolve_fetch_outcome(fetched, cfg)
    pages = extract_pages(fetched, cfg).withColumn("round", F.lit(rnd))
    return pages.drop("html", "status_code", "fail_times")


@dataclass
class CrawlTables:
    pages: DataFrame          # all rounds, unordered; order key = (task_id, depth, discovery_seq)
    seen: DataFrame           # (task_id, canon_url)
    round_counters: list[dict]  # every committed round's, from the manifest


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        store: DataFrame,
        checkpoint_dir: str,
        policy: DataFrame | None = None,
        max_rounds: int = 200,
    ):
        self.spark = spark
        self.cfg = cfg
        self.policy = policy
        # let bucketed scans expose their per-bucket sort order (the
        # engine writes exactly one file per bucket, the shape Spark
        # requires to honor it) — without this the politeness rank
        # re-sorts data the snapshot layout already sorted.
        # SESSION-LEVEL side effect, deliberately not restored: the flag
        # must be live at PLANNING time of every downstream query that
        # scans a frontier snapshot (not just inside read_frontier), and
        # it is harmless-but-nonfree for unrelated bucketed scans sharing
        # the session (planning-time file listing). Engines in this repo
        # run in their own sessions; callers embedding CrawlEngine in a
        # shared session with other bucketed workloads should be aware
        # (ADVICE r02).
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        self.storage = SnapshotStore(checkpoint_dir)
        self.max_rounds = max_rounds
        self.store = store

    # ------------------------------------------------------------------ seen
    @staticmethod
    def _seen(visited: DataFrame | None,
              pending: DataFrame | None) -> DataFrame:
        """The URL-seen set ``(task_id, canon_url)``: the ``visited``
        pages ∪ the ``pending`` frontier (either may be ``None``)."""
        keys = ["task_id", "canon_url"]
        return reduce(DataFrame.unionByName, [
            df.select(keys) for df in (visited, pending) if df is not None])

    def _tables(self, latest: int) -> CrawlTables:
        """The crawl as of committed round ``latest``, with the counters
        of every committed round (those before a resume included). Its
        seen set includes the committed next frontier, if any: URLs
        enqueued but not fetched when ``max_rounds`` stopped the
        crawl."""
        counters = [{"round": r, **self.storage.round_meta(r)["counters"]}
                    for r in range(latest + 1)]
        pending = (
            self.storage.read_table(self.spark, "frontier", latest + 1)
            if "frontier" in self.storage.round_meta(latest)["tables"]
            else None)
        pages = self.storage.pages_glob(self.spark, latest)
        return CrawlTables(pages=pages, seen=self._seen(pages, pending),
                           round_counters=counters)

    # -------------------------------------------------------------- frontier
    def _round_config(self, n_rows: int) -> CrawlConfig:
        return round_config(
            self.cfg, n_rows, self.spark.sparkContext.defaultParallelism)

    def _initial_frontier(
        self, seeds: DataFrame,
    ) -> tuple[DataFrame, CrawlConfig]:
        """The seed frontier, and the config sized by the seed count
        that it is numbered and written with."""
        # one aggregate counts the seeds and those the URL pass sends to
        # its UDF: with none, it plans no Python stage
        row = seeds.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(takes_udf(F.col("url")).cast("long")).alias("slow"),
        ).collect()[0]
        n_seeds = int(row["n"])
        cfg = self._round_config(n_seeds)
        f = url_pass(seeds, "url", cfg.sort_query_params,
                     int(row["slow"] or 0)).select(
            "task_id", F.col("netloc").alias("seed_netloc"), "url",
            "canon_url", "host", F.lit(0).alias("depth"), "seed_seq",
        )
        f = assign_dense_seq(
            f, "seed_seq", "seed_seq", n_seeds, cfg.seq_buckets
        ).drop("seed_seq")
        return f.select(FRONTIER_COLS), cfg

    # the frontier snapshot's in-bucket sort (see write_frontier)
    _FRONTIER_SORT = ["host", "depth", "_salt", "discovery_seq"]

    # ----------------------------------------------------------------- crawl
    def crawl(self, seeds: DataFrame | None = None, resume: bool = False) -> CrawlTables:
        cfg = self.cfg

        if resume:
            latest = self.storage.latest_round()
            if latest is None:
                raise ValueError("nothing to resume from")
            meta = self.storage.round_meta(latest)
            if "frontier" not in meta["tables"]:
                # crawl already complete; just return assembled tables
                return self._tables(latest)
            # resume reads back the exact values the last committed round
            # persisted (round_counters below); none is reconstructed
            # from the snapshots
            last = meta["counters"]
            missing = {"seq_base", "vclock_next", "seen_total", "frontier",
                       "n_pages", "next_frontier", "next_seq_min",
                       "next_seq_max"} - set(last)
            if missing:
                raise ValueError(
                    f"round {latest} lacks the counters {sorted(missing)}: "
                    f"cannot resume exactly")
            prev_base, seen_total = last["seq_base"], last["seen_total"]
            # pages fetched through round `latest`: its seen set less its
            # frontier, plus its pages
            visited = seen_total - last["frontier"] + last["n_pages"]
            vclock = float(last["vclock_next"])
            rnd = latest + 1
            front = {"rows": last["next_frontier"],
                     "seq_min": last["next_seq_min"],
                     "seq_max": last["next_seq_max"]}
            frontier = read_frontier(self.storage, self.spark, rnd)
        else:
            if seeds is None:
                raise ValueError("seeds required when not resuming")
            # a FRESH crawl must not inherit a prior crawl's rounds from
            # the same checkpoint dir: commit_round only replaces
            # same-round entries, so stale later rounds would survive an
            # early kill and a subsequent resume would silently merge
            # the two crawls' seen sets and pages
            self.storage.reset()
            rnd = 0
            # prev_base: discovery_seq values handed out before the
            # previous round's expansion (the seq high-water mark);
            # visited: pages fetched before this round
            prev_base, seen_total, visited = 0, 0, 0
            vclock = float(cfg.round_epoch)
            seed_frontier, seed_cfg = self._initial_frontier(seeds)
            front = write_frontier(self.storage, seed_frontier, 0, seed_cfg)
            frontier = read_frontier(self.storage, self.spark, 0)

        deferral = cfg.budget_rounds is not None
        # cross-round virtual-clock advance gap: the next round's epoch
        # must clear every host's last politeness window AND crawl-delay
        # spacing, so the gap is the largest window/delay any host can
        # have (policy is a tiny dimension — one-time driver lookup)
        vgap = float(cfg.rate_limit_window_s)
        if self.policy is not None:
            row = self.policy.agg(
                F.max("window_s").alias("w"),
                F.max("crawl_delay_s").alias("d"),
            ).collect()[0]
            vgap = max(vgap, float(row["w"] or 0), float(row["d"] or 0))
        while rnd < self.max_rounds:
            # the frontier's size and discovery_seq range, observed on
            # its write (persisted as next_* for resume)
            n_frontier = int(front["rows"])
            if n_frontier == 0:
                break
            # next fresh discovery_seq — MONOTONE across rounds: when a
            # round's expansion yields no survivors while a deferred
            # backlog remains, the frontier max regresses below already-
            # issued seqs, and re-deriving the base from it alone would
            # reissue seqs carried by pages fetched earlier (duplicate
            # (depth, seq) order keys). prev_base is the running
            # high-water mark, persisted per round for resume.
            seq_base = max(int(front["seq_max"]) + 1, prev_base)
            seq_min = int(front["seq_min"])
            depth_of_round = rnd  # == frontier depth in non-deferral mode
            # this round's partitioning, sized from its frontier: the
            # fetch join and extraction stage (so the pages files), the
            # dense-seq buckets and the next frontier's buckets
            rcfg = self._round_config(n_frontier)
            # enqueue-time seen semantics: visited ∪ pending. The rows
            # this round adds are its frontier's new arrivals (deferred
            # rows were counted in the round they arrived).
            seen_new = visited + n_frontier - seen_total
            seen_total += seen_new
            seen = self._seen(
                self.storage.pages_glob(self.spark, rnd - 1), frontier)

            # each round consumes budget_rounds politeness windows per
            # (full) host in deferral mode; in non-deferral mode a round
            # fetches the whole frontier across however many virtual
            # windows it needs, so the clock resumes past the previous
            # round's observed maximum (max_vft + vgap, observed on the
            # pages write below) — per-host politeness windows stay
            # disjoint ACROSS rounds, not just within one
            epoch = (
                cfg.round_epoch
                + rnd * cfg.budget_rounds * cfg.rate_limit_window_s
                if deferral else vclock
            )
            admitted, deferred = schedule_frontier(
                frontier, self.policy, cfg, epoch)

            # observed metrics ride the snapshot write — no extra scan
            # (the Spark Observation API evaluates during the action)
            obs = Observation(f"round_{rnd}")
            pages = fetch_pages(admitted, self.store, rcfg, rnd).observe(
                obs,
                F.count(F.lit(1)).alias("n_pages"),
                F.sum(F.col("is_error").cast("long")).alias("n_errors"),
                F.sum("retry_attempts").alias("total_retries"),
                F.approx_count_distinct("host").alias("approx_hosts"),
                # feeds the cross-round virtual clock — rides the write,
                # no extra scan
                F.max("virtual_fetch_time").alias("max_vft"),
                # link entries the URL pass would send to its UDF: at 0
                # the link path plans no Python stage
                ineligible_links().alias("ineligible_links"),
            )
            self.storage.write_table(pages, "pages", rnd)
            obs_vals = dict(obs.get)
            vclock = float(obs_vals.pop("max_vft") or 0.0) + vgap
            observed = {k: int(v or 0) for k, v in obs_vals.items()}
            visited += observed["n_pages"]
            pages = self.storage.read_table(self.spark, "pages", rnd)

            if deferral:
                # per-ROW depth gate: the frontier mixes depths once rows
                # defer, so expandability is a property of the page, not
                # of the round (oracle: parent depth < max_depth)
                expand = cfg.follow_links
            else:
                expand = cfg.follow_links and (
                    cfg.max_depth == 0 or depth_of_round < cfg.max_depth
                )
            frontier_parts = []
            if expand:
                success = pages.filter(~F.col("is_error"))
                if deferral and cfg.max_depth > 0:
                    success = success.filter(F.col("depth") < cfg.max_depth)
                cand = expand_links(success)
                cand = filter_internal(
                    cand, cfg, observed["ineligible_links"])
                if cfg.respect_robots:
                    cand = filter_robots(cand, self.policy)
                # host and path are pure functions of the URL: drop them
                # before the dedup + anti-join + dense-seq exchanges
                # (links_to_frontier recomputes host from canon_url with
                # `host_frame`, byte-equal to the filter's value) so the
                # round's biggest shuffles move ~40B/row less — the
                # schedule-core A/B measured post-dedup host extraction
                # worth ~9% at 16 cores
                # (A/B script in commit ec1bc1b, scripts/exp_host_late.py)
                cand = cand.drop("host", "path")
                frontier_parts.append(links_to_frontier(
                    cand, seen, rcfg, seen_total=seen_total,
                    seq_base=seq_base, seq_min=seq_min,
                ))
            if deferral:
                frontier_parts.append(deferred.select(FRONTIER_COLS))
            wrote_frontier = bool(frontier_parts)
            if wrote_frontier:
                front = write_frontier(
                    self.storage,
                    reduce(DataFrame.unionByName, frontier_parts), rnd + 1,
                    rcfg)

            round_counters = {
                "frontier": n_frontier,
                "depth": depth_of_round,
                # the round's derived partition count (informational:
                # resume reads bucket counts from the snapshots' specs)
                "parts": rcfg.shuffle_partitions,
                # resume reads seq_base, vclock_next, seen_total,
                # frontier, n_pages and the next_* values back: the seq
                # high-water mark and the virtual clock cannot be
                # re-derived from the frontier alone in every shape (see
                # seq_base above)
                "seq_base": seq_base,
                "vclock_next": vclock,
                # rows this round added to the seen set (its frontier's
                # new arrivals), and the set's size as the round ran
                "seen_new": seen_new,
                "seen_total": seen_total,
                **observed,
            }
            if wrote_frontier:
                # the next frontier's size and discovery_seq range
                round_counters.update({
                    "next_frontier": front["rows"],
                    "next_seq_min": front["seq_min"],
                    "next_seq_max": front["seq_max"],
                })
            self.storage.commit_round(
                rnd,
                ["pages"] + (["frontier"] if wrote_frontier else []),
                round_counters,
            )
            # this round's frontier is consumed: release its catalog entry
            # (the files stay; resume re-registers what it reads)
            self.storage.drop_bucketed(self.spark, "frontier", rnd)

            prev_base = seq_base
            if not wrote_frontier:
                break
            frontier = read_frontier(self.storage, self.spark, rnd + 1)
            rnd += 1

        latest = self.storage.latest_round()
        if latest is None:
            # no round ever committed (the seed frontier was empty after
            # canonicalization): fail loudly instead of returning
            # CrawlTables(pages=None, ...) that crashes every consumer
            raise ValueError(
                "crawl fetched no pages: the seed frontier was empty")
        return self._tables(latest)


def fetch_order(pages: DataFrame) -> DataFrame:
    """Per-task fetch sequence: rank over (round, depth, discovery_seq).

    Without deferral round == depth, so this is the round-1 (depth, seq)
    order; with ``budget_rounds`` a twice-deferred row is fetched in a
    later round than a deeper-but-undeferred row, and the round column
    carries that.

    Used for the equality contract and small exports. NOTE: this window
    partitions by task — fine for per-task ordered output; the engine's
    hot loop never needs it (it uses the two-level dense seq instead).
    """
    w = Window.partitionBy("task_id").orderBy("round", "depth", "discovery_seq")
    return pages.withColumn("fetch_seq", F.row_number().over(w).cast("long") - 1)


def retry_stats(pages: DataFrame) -> dict:
    """A3 (SURVEY §2): the reference's five global retry counters
    (crawler.py:49-55) from per-row outcome columns."""
    attempts = F.col("retry_attempts")
    is_err = F.col("is_error")
    transient_err = F.col("error.error_type") == "transient"
    row = pages.agg(
        F.sum(attempts).alias("total_retries"),
        F.sum(((~is_err) & (attempts > 0)).cast("long")).alias("successful_retries"),
        F.sum((is_err & transient_err).cast("long")).alias("failed_retries"),
        F.sum(
            F.when(is_err & transient_err, attempts + 1)
            .when((~is_err) & (attempts > 0), attempts)
            .otherwise(F.lit(0))
        ).alias("transient_errors"),
        F.sum((is_err & ~transient_err).cast("long")).alias("permanent_errors"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in row.asDict()}
