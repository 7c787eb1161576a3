"""URL canonicalization and parsing (SURVEY.md §2 P1/P2).

Re-implements the *semantics* of the reference's ``_normalize_url``
(/root/reference/app/services/crawler.py:439-474) and ``_get_domain``
(/root/reference/app/services/rate_limiter.py:40-51) from their spec —
not a code copy — and lifts them into vectorized pandas/Arrow UDFs
(`input_hint`: no per-row Python UDFs; Arrow batches keep the JVM↔Python
crossing amortized over thousands of rows).

Two tiers:

* **pandas UDFs** (`make_canon_udf`, `url_parts_udf`, `host_udf`) — exact
  `urllib.parse` parity, the engine's source of truth.
* **native column expressions** (`host_native`, …) — JVM-side/codegen fast
  paths used in SQL-oracle-checkable queries; unit tests pin them to the
  pandas-UDF outputs on representative URL shapes.
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def canonicalize_url(url: str, sort_query: bool = True) -> str:
    """Canonical form of ``url``.

    Reference semantics (crawler.py:439-474): lowercase scheme+netloc;
    strip ``:80`` (http) / ``:443`` (https); path ``'/' -> ''`` and strip
    trailing slash on longer paths; drop fragment; keep query; on parse
    failure return the input unchanged (crawler.py:472-474).

    North-rule superset: when ``sort_query`` is True the query params are
    sorted by (key, value) — applied identically in the oracle so equality
    contracts hold either way.
    """
    if url is None:
        # fast path for the single-scan hybrid: eligible rows reach the
        # UDF as nulls (their result comes from the native branch)
        return None
    try:
        parsed = urlparse(url)
        scheme = parsed.scheme.lower()
        netloc = parsed.netloc.lower()
        if scheme == "http" and netloc.endswith(":80"):
            netloc = netloc[:-3]
        elif scheme == "https" and netloc.endswith(":443"):
            netloc = netloc[:-4]
        path = parsed.path
        if path == "/":
            path = ""
        elif path.endswith("/") and len(path) > 1:
            path = path.rstrip("/")
        query = parsed.query
        if sort_query and query:
            pairs = sorted(parse_qsl(query, keep_blank_values=True))
            query = urlencode(pairs)
        return urlunparse((scheme, netloc, path, parsed.params, query, ""))
    except (ValueError, AttributeError, TypeError):
        return url


def host_of(url: str) -> str:
    """Lowercased netloc with port stripped (rate_limiter.py:40-51)."""
    try:
        domain = urlparse(url).netloc.lower()
        if ":" in domain:
            domain = domain.split(":")[0]
        return domain
    except (ValueError, AttributeError, TypeError):
        return "unknown"


URL_PARTS_SCHEMA = StructType(
    [
        StructField("scheme", StringType()),
        StructField("netloc", StringType()),
        StructField("host", StringType()),
        StructField("path", StringType()),
        StructField("query", StringType()),
        StructField("fragment", StringType()),
    ]
)


def _parts_row(url: str) -> dict:
    try:
        p = urlparse(url)
        netloc = p.netloc.lower()
        host = netloc.split(":")[0] if ":" in netloc else netloc
        return {
            "scheme": p.scheme.lower(),
            "netloc": p.netloc,
            "host": host,
            "path": p.path,
            "query": p.query,
            "fragment": p.fragment,
        }
    except (ValueError, AttributeError, TypeError):
        return {
            "scheme": "", "netloc": "", "host": "unknown",
            "path": "", "query": "", "fragment": "",
        }


def make_canon_udf(sort_query: bool = True):
    """Series→Series pandas UDF for P1 canonicalization."""

    @F.pandas_udf(StringType())
    def canon(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: canonicalize_url(u, sort_query))

    return canon


@F.pandas_udf(StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    """P2: host extraction, exact urllib parity."""
    return urls.map(host_of)


@F.pandas_udf(URL_PARTS_SCHEMA)
def url_parts_udf(urls: pd.Series) -> pd.DataFrame:
    """One Arrow round-trip yielding all URL parts (feeds F1/F2/robots)."""
    return pd.DataFrame([_parts_row(u) for u in urls])


def make_urljoin_udf():
    """(base, href) → absolute URL, `urllib.parse.urljoin` parity
    (used by X5/X6/X8 extraction, crawler.py:310,325,344)."""

    @F.pandas_udf(StringType())
    def join2(base: pd.Series, href: pd.Series) -> pd.Series:
        return pd.Series([urljoin(b, h) for b, h in zip(base, href)])

    return join2


# ---------------------------------------------------------------------------
# Native (JVM/codegen) fast paths — used where the plan must stay inside
# whole-stage codegen and the URL shape is controlled; pinned to the pandas
# UDFs by tests/test_urls.py.
# ---------------------------------------------------------------------------

def host_native(url_col):
    """Host extraction as a native expression (no Python)."""
    netloc = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    return F.lower(F.regexp_replace(netloc, r":\d+$", ""))


def host_frame(df, url_col: str = "url", out_col: str = "host"):
    """P2 as a hybrid single-scan projection: the exact host the link
    filter computes (`operators/links.py` fast path
    ``lower(substring_index(netloc, ':', 1))``; slow path
    ``url_parts_udf(...).host`` — `_parts_row` lowercases the netloc and
    takes the text before the first ':', so the two branches agree and
    the dispatch on `native_canon_eligible` preserves byte equality).

    Exists so the engine can compute ``host`` AFTER the link-dedup and
    seen-anti-join exchanges instead of carrying ~18B/row of host
    strings through them (host is a pure function of the URL; A/B
    script in commit ec1bc1b, scripts/exp_host_late.py). The UDF input is nulled for eligible
    rows (the `canonicalize_frame(single_scan=True)` pattern) so Python
    sees mostly nulls."""
    eligible = native_canon_eligible(F.col(url_col))
    netloc = F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1
    )
    fast = F.lower(F.substring_index(netloc, ":", 1))
    slow = url_parts_udf(F.when(~eligible, F.col(url_col)))["host"]
    return df.withColumn(out_col, F.when(eligible, fast).otherwise(slow))


def native_canon_eligible(url_col):
    """True where the JVM-native canonicalizer is provably byte-identical
    to the `urllib.parse` UDF: printable-ASCII URL with a scheme, no
    percent-encoding / '+' / ';' params / brackets / spaces (those hit
    parse_qsl re-encoding or IPv6/params paths), and a query that is
    either empty or strictly ``k=v(&k=v)*`` over urlencode-safe chars
    (anything else gets re-encoded by ``urlencode`` and must take the
    exact Python path)."""
    # one anchored regex pass (the operator runs this once per branch of
    # the fast/slow union — keep it a single scan of the string):
    # scheme :// authority+path (printable ASCII minus %+;[]\?#)
    # [? query of strict k=v pairs] [# printable-clean fragment]
    cls = r"[\x21-\x7E&&[^%+;\[\]\\?#]]"
    kv = r"[A-Za-z0-9_.~\-]+=[A-Za-z0-9_.~\-]*"
    return url_col.rlike(
        r"^[A-Za-z][A-Za-z0-9+.\-]*://" + cls + r"*"
        r"(\?(" + kv + r"(&" + kv + r")*)?)?"
        r"(#[\x21-\x7E&&[^%+;\[\]\\]]*)?$"
    )


def canonicalize_native(url_col, sort_query: bool = True):
    """P1 canonicalization as pure JVM expressions (whole-stage codegen,
    zero Python) — valid ONLY on `native_canon_eligible` rows, where it
    is byte-identical to `canonicalize_url` (pinned by tests).

    Query-param sort parity detail: `parse_qsl` sorts (key, value)
    TUPLES, which differs from sorting raw ``k=v`` strings (the '=' byte
    compares against key characters); sorting an array of
    ``struct<k,v>`` reproduces tuple ordering exactly.
    """
    scheme = F.lower(F.regexp_extract(url_col, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    netloc = F.lower(
        F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    netloc = (
        F.when(
            (scheme == "http") & netloc.endswith(":80"),
            F.regexp_replace(netloc, r":80$", ""),
        )
        .when(
            (scheme == "https") & netloc.endswith(":443"),
            F.regexp_replace(netloc, r":443$", ""),
        )
        .otherwise(netloc)
    )
    path = F.regexp_extract(
        url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/+$", "")
    # anchored from the scheme so a '?' INSIDE the fragment (fragments may
    # contain '?': https://h/p#a?b) can never be mistaken for the query
    # start — the unanchored r"\?([^#]*)" bug broke byte-parity with
    # urllib on exactly those URLs (ADVICE r01, high)
    query = F.regexp_extract(
        url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^?#]*\?([^#]*)", 1
    )
    if sort_query:
        pairs = F.transform(
            F.split(query, "&"),
            lambda p: F.struct(
                F.substring_index(p, "=", 1).alias("k"),
                F.regexp_replace(p, "^[^=]*=", "").alias("v"),
            ),
        )
        sorted_q = F.array_join(
            F.transform(F.array_sort(pairs), lambda s: F.concat(s["k"], F.lit("="), s["v"])),
            "&",
        )
        query = F.when(query == "", query).otherwise(sorted_q)
    return F.concat(
        scheme,
        F.lit("://"),
        netloc,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )


def canonicalize_frame(
    df,
    url_col: str,
    out_col: str = "canon_url",
    sort_query: bool = True,
    single_scan: bool = False,
):
    """Hybrid P1: JVM-native fast path for eligible rows, exact pandas-UDF
    fallback for the rest. Equality is preserved because the native
    expression is byte-identical on exactly the rows it is applied to.

    Two physical strategies, same result:

    * union (default): filter+union — eligible rows NEVER cross Arrow.
      Scans the input twice, so it wants a materialized input (parquet
      snapshot / cache). Measured at 16M rows × 16 cores: 10.8 s vs
      16.4 s single-scan — the all-rows Arrow crossing costs more than
      the second scan of a materialized input.
    * ``single_scan=True``: one pass; the UDF input is nulled for
      eligible rows (``when(~eligible, url)``) so Python sees mostly
      nulls, and a ``when`` projection picks the native result. For
      COMPUTED lineage (the engine's explode→filter link batch) where a
      second scan would re-execute the upstream plan.
    """
    eligible = native_canon_eligible(F.col(url_col))
    if single_scan:
        slow_out = make_canon_udf(sort_query)(
            F.when(~eligible, F.col(url_col))
        )
        return df.withColumn(
            out_col,
            F.when(eligible, canonicalize_native(F.col(url_col), sort_query))
            .otherwise(slow_out),
        )
    fast = df.filter(eligible).withColumn(
        out_col, canonicalize_native(F.col(url_col), sort_query)
    )
    slow = df.filter(~eligible).withColumn(
        out_col, make_canon_udf(sort_query)(F.col(url_col))
    )
    return fast.unionByName(slow)


def skip_extension_predicate(path_col, extensions=None):
    """F1 skip-list: lowercase path ends with a skip extension
    (crawler.py:492-500)."""
    from crawler_service_spark.config import SKIP_EXTENSIONS

    exts = extensions or SKIP_EXTENSIONS
    alternation = "|".join(e.lstrip(".") for e in exts)
    return F.lower(path_col).rlike(r"\.(" + alternation + r")$")
