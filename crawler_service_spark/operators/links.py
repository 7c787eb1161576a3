"""Link expansion + internal-link filtering (SURVEY §2 J1/F1/F3).

J1: a fetched page's ``links`` array explodes into candidate frontier rows
(/root/reference/app/services/crawler.py:140-146) — ``posexplode`` keeps
``link_pos``, the in-page position that tie-breaks crawl order (O1).

F1 (`_is_internal_link`, crawler.py:476-509): scheme ∈ {http,https} ∧
same netloc as the *seed* ∧ path suffix not in the 23-extension skip list
∧ no fragment. The scheme/netloc/path/fragment and the canonical URL come
from one URL pass (`functions.urls.url_pass`): native expressions for
eligible URLs, one pandas UDF for the rest.

Robots disallow-prefix filtering is the north-rule addition (the reference
has none — SURVEY §7.4); applied identically in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_service_spark.config import CrawlConfig
from crawler_service_spark.functions.urls import (
    skip_extension_predicate,
    takes_udf,
    url_pass,
)


def expand_links(pages: DataFrame) -> DataFrame:
    """J1: one row per (page, link) with deterministic ``link_pos``.

    Expects ``links array<string>``, ``fetch_seq``/``discovery_seq``,
    ``depth``, ``task_id``, ``seed_netloc``.
    """
    return pages.select(
        "task_id",
        "seed_netloc",
        F.col("discovery_seq").alias("parent_seq"),
        (F.col("depth") + 1).alias("depth"),
        F.posexplode("links").alias("link_pos", "url"),
    )


def ineligible_links(links_col: str = "links"):
    """Aggregate: the entries of the ``links`` arrays that `url_pass`
    sends to its UDF (`takes_udf`), summed over the rows. Over pages it
    bounds from above the `expand_links` candidates that need Python;
    a null array counts 0."""
    links = F.coalesce(F.col(links_col), F.array().cast("array<string>"))
    return F.sum(F.size(F.filter(links, takes_udf)))


def filter_internal(candidates: DataFrame, cfg: CrawlConfig,
                    n_ineligible: int | None = None) -> DataFrame:
    """F1 + F3 + P1: keep same-seed-netloc, non-skip, fragment-free
    http(s) links, with their ``canon_url``, ``host`` and ``path``.

    Links are the highest-volume rows of a round (fan-out ≫ pages), so
    this is `url_pass`'s split: eligible URLs take native expressions and
    only the weird remainder crosses into Python. ``n_ineligible`` (an
    upper bound on the candidates `takes_udf` holds for, e.g. counted
    over the pages' ``links``) goes to `url_pass`: at 0 no Python stage
    is planned.

    NB: the reference compares raw netloc (case-sensitive,
    crawler.py:487); corpus URLs keep hosts lowercase so engine and
    oracle agree — both branches expose raw netloc semantics plus the
    lowercased, port-stripped host.
    """
    keep = (
        F.col("scheme").isin("http", "https")
        & (F.col("netloc") == F.col("seed_netloc"))
        & ~skip_extension_predicate(F.col("path"), cfg.skip_extensions)
        & (F.col("fragment") == "")
    )
    return url_pass(
        candidates, "url", cfg.sort_query_params, n_ineligible,
    ).filter(keep).drop("scheme", "netloc", "fragment")


def filter_robots(candidates: DataFrame, policy: DataFrame | None) -> DataFrame:
    """Drop candidates whose path starts with a disallowed prefix for its
    host (broadcast join with the tiny policy dim). No-op without policy."""
    if policy is None:
        return candidates
    dis = policy.select("host", F.col("disallow_prefixes").alias("_dis"))
    joined = candidates.join(F.broadcast(dis), "host", "left")
    blocked = F.exists(
        F.coalesce(F.col("_dis"), F.array().cast("array<string>")),
        lambda p: F.col("path").startswith(p),
    )
    return joined.filter(~blocked).drop("_dis")
