"""Job configuration for the crawl engine.

Mirrors the reference's env-driven ``Settings``
(/root/reference/app/core/config.py:13-103): politeness limits
(config.py:35-39), concurrency (config.py:42-46) and retry policy
(config.py:49-54). In Spark this is a small immutable dataclass passed to
the driver loop and captured by UDF closures (the Spark analog of a
broadcast of job parameters).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Skip-extension list for the internal-link predicate, verbatim semantics of
# /root/reference/app/services/crawler.py:492-496 (checked with lowercase
# path.endswith at crawler.py:498-500).
SKIP_EXTENSIONS: tuple[str, ...] = (
    ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
    ".zip", ".rar", ".tar", ".gz", ".jpg", ".jpeg", ".png", ".gif",
    ".svg", ".ico", ".css", ".js", ".xml", ".txt", ".csv",
)

# Status used for simulated transient failures before a doc's eventual
# success (drives the deterministic retry simulation; SURVEY.md §2 R2).
TRANSIENT_FAIL_STATUS = 503


@dataclass(frozen=True)
class CrawlConfig:
    """Crawl-request + engine knobs.

    ``max_depth``/``follow_links`` reproduce the reference request fields
    (/root/reference/app/models/crawl_models.py:42-43) including the
    ``max_depth == 0`` quirk: 0 means "no depth filter" for enqueueing
    (crawler.py:137-138) — with follow_links=True, the crawl is unbounded.
    """

    # request-level (crawl_models.py:39-67)
    max_depth: int = 0
    follow_links: bool = False
    # per-request config surface (crawl_models.py:64-66): echoed through
    # the admin report like admin.py:20-41 echoes settings; non-semantic
    # in a synthetic-fetch world (no live HTTP to send headers to)
    custom_headers: tuple[tuple[str, str], ...] = ()
    timeout: float = 30.0
    extract_text: bool = True
    extract_images: bool = True
    extract_links: bool = True
    extract_headings: bool = True
    extract_image_alt_text: bool = True
    extract_canonical_url: bool = True

    # politeness (config.py:35-39, rate_limiter.py:27-33)
    default_rate_limit: int = 10          # requests per window per host
    rate_limit_window_s: int = 60
    rate_limiting_enabled: bool = True
    # cross-round deferral (rate_limiter.py:92-111 carried across rounds):
    # admit ≤ budget_rounds × rate_limit rows per host per round; the
    # remainder re-enters the next round's frontier with its original
    # depth + discovery_seq. None = admit everything (round 1 behavior).
    budget_rounds: int | None = None

    # retry policy (config.py:49-54, crawler.py:554-569; jitter dropped —
    # nondeterministic and excluded from every output contract). The
    # reference's retry_on_timeout / retry_on_connection_error flags
    # have no counterpart: the synthetic fetch raises neither error, so
    # its only transient failure is the store's TRANSIENT_FAIL_STATUS
    max_retries: int = 3
    retry_delay_base: float = 1.0
    retry_delay_max: float = 10.0
    retry_backoff_multiplier: float = 2.0

    # north-rule additions (superset of the reference, applied identically
    # in engine and oracle so equality contracts still hold)
    sort_query_params: bool = True        # canonicalization query-param sort
    respect_robots: bool = True           # robots disallow-prefix filter

    # engine/scale knobs (no semantic effect; partitioning only).
    # shuffle_partitions is the per-round CAP: each round sizes its
    # partition count (fetch join, extraction, snapshot files, frontier
    # buckets) from its frontier row count with engine.round_partitions,
    # at least the core count and at most this; seq_buckets (the
    # two-level dense-seq bucket count) is scaled by the same factor
    seq_buckets: int = 64
    shuffle_partitions: int = 32
    # sizing of a ShardedBloomFilter over the seen keys, for callers
    # that build one (operators/dedup.py); the engine builds none
    bloom_num_bits: int = 1 << 20         # bitmap size
    bloom_num_hashes: int = 3
    bloom_shards: int = 16                # shard count of the DataFrame-
                                          # resident filter (≥ 1)
    # cumulative-seen row count past which the seen anti-join stops
    # letting the planner broadcast the seen set: the round's deduped
    # batch is materialized once and its keys probe the seen scan
    # map-side (a batch too large to broadcast hash-builds the seen side
    # instead). Below it the broadcast-anti plan is already free. Set 0
    # to force the probe on from round 0 (tests / A-Bs).
    large_seen_threshold: int = 2_000_000

    # frontier snapshots are written hash-clustered on (host, _salt =
    # discovery_seq div frontier_salt_width) AND in-bucket-sorted
    # depth-major on (host, depth, _salt, discovery_seq), exactly one file
    # per bucket — the next round's politeness rank then plans with no
    # payload exchange, no sort, and no driver stats barrier
    # (operators/politeness.rank_presalted). Composes with deferral: the
    # rank partitions by (host, depth, _salt), so mixed-depth frontiers
    # from deferred re-entries rank correctly over the same layout.
    frontier_salt_width: int = 1 << 18

    # virtual-clock origin for deterministic scheduling timestamps
    round_epoch: float = 0.0

    skip_extensions: tuple[str, ...] = field(default=SKIP_EXTENSIONS)

    def __post_init__(self) -> None:
        if self.bloom_shards < 1:
            raise ValueError(
                f"bloom_shards must be >= 1, got {self.bloom_shards}")
