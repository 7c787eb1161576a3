"""URL canonicalization and parsing (SURVEY.md §2 P1/P2).

Re-implements the *semantics* of the reference's ``_normalize_url``
(/root/reference/app/services/crawler.py:439-474) and ``_get_domain``
(/root/reference/app/services/rate_limiter.py:40-51) from their spec —
not a code copy — and lifts them into one vectorized pandas/Arrow UDF
(`input_hint`: no per-row Python UDFs; Arrow batches keep the JVM↔Python
crossing amortized over thousands of rows).

Two tiers: **one pandas UDF** (`_url_pass_udf`: `URL_PASS_COLS` from
`_parts_row` and `canonicalize_url`) gives exact `urllib.parse` parity,
the source of truth; **native column expressions**
(`canonicalize_native` and the native branches below) run JVM-side,
only on rows `native_canon_eligible` proves byte-identical (tests pin
them to the UDF). Rows go to the UDF where `takes_udf` holds.

Two dispatches between them:

* **split** (`url_pass`): eligible rows take the native branch, the rest
  the UDF, and the branches are unioned, so only ineligible rows cross
  into Python; each branch scans the input. The engine (the link
  explode in `filter_internal`, the seed list), ``bench.py`` and the
  registry run it. Over 60k all-eligible links exploded from a
  parquet pages snapshot on a 4-core VM (local[4]), `filter_internal`
  took 0.80 s split and 1.01 s as a nulled single scan of the same
  UDF (median of 6; an earlier prototype measured 0.87 vs 1.99 s).
  A caller that has counted the ineligible rows (`takes_udf`) passes
  the count: at 0 the UDF branch is not planned at all, so no Python
  worker starts for an empty input. The engine counts them for free:
  the pages write's ``Observation`` counts the ineligible entries of
  ``links``, and the seed-count aggregate counts ineligible seeds.
* **nulled** (`canonicalize_frame`, `host_frame` over a raw URL): one
  scan; the UDF input is nulled for eligible rows, so every row crosses
  into Python (as a null, answered from one precomputed row) but the
  input runs once. Only perfbench's frontier workload still calls
  them; they go when the benchmark moves to `url_pass`.

The host of a URL whose canonical form is known needs no Python at all:
`host_frame` with ``canon_col`` reads it from ``canon_url`` natively.
The engine's link path therefore plans no Python stage when every URL
is eligible.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urlparse, urlunparse

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


# scheme, authority and path of a URL with a scheme: the one set of
# regexes the native expressions share
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
_NETLOC_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)"


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


URL_PASS_COLS = ["scheme", "netloc", "host", "path", "fragment", "canon_url"]


def _url_pass_udf(sort_query: bool):
    """The one pandas UDF: `URL_PASS_COLS` of each URL — lowercased
    scheme, raw netloc, `host_of` host, raw path and fragment as
    `urlparse` splits them, and ``canonicalize_url``'s canon_url. A null
    URL (every eligible row of a nulled dispatch) is answered from one
    precomputed row: host "unknown", canon_url null."""
    null_row = {**_parts_row(None), "canon_url": None}

    @F.pandas_udf(StructType([StructField(c, StringType()) for c in URL_PASS_COLS]))
    def parts(urls: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [null_row if u is None else
             {**_parts_row(u), "canon_url": canonicalize_url(u, sort_query)}
             for u in urls],
            columns=URL_PASS_COLS,
        )

    return parts


def takes_udf(url_col):
    """True where the URL goes to the UDF: it is not
    `native_canon_eligible` (null URLs included)."""
    return ~F.coalesce(native_canon_eligible(url_col), F.lit(False))


# ---------------------------------------------------------------------------
# Native (JVM/codegen) fast paths, applied only to `native_canon_eligible`
# rows; pinned to the UDF by tests/test_urls.py and
# tests/test_native_canon.py.
# ---------------------------------------------------------------------------

def host_frame(df, url_col: str = "url", out_col: str = "host", *,
               canon_col: str | None = None, netloc_col: str | None = None):
    """P2: ``host_of(url)`` as a column.

    Over a raw URL it is a nulled single-scan projection of the host
    `url_pass` computes (fast path ``lower(substring_index(netloc, ':',
    1))``; slow path the UDF's ``host`` — `_parts_row` lowercases the
    netloc and takes the text before the first ':', so the two branches
    agree and the dispatch on `takes_udf` preserves byte equality).

    With ``canon_col`` (the URL's ``canonicalize_url`` form) and
    ``netloc_col`` (a column equal to the URL's raw netloc wherever that
    is empty, e.g. the ``seed_netloc`` of `filter_internal`'s rows) it
    is native: ``substring_index(netloc of canon_url, ':', 1)``, or
    ``""`` for an empty netloc. Exact because the canonical netloc is
    the parsed netloc already lowercased (by Python on the UDF branch,
    so Spark's ``lower``, which differs on some non-ASCII code points,
    is never applied) less a ``:80``/``:443`` suffix, which cannot move
    the first ':'. An empty netloc needs the guard: ``http:////x``
    canonicalizes to ``http://x``. The engine's `links_to_frontier`
    computes ``host`` this way, AFTER the link-dedup and seen-anti-join
    exchanges instead of carrying ~18B/row of host strings through them
    (A/B script in commit ec1bc1b, scripts/exp_host_late.py)."""
    if canon_col is not None:
        netloc = F.regexp_extract(F.col(canon_col), _NETLOC_RE, 1)
        return df.withColumn(out_col, F.when(
            F.col(netloc_col) == "", F.lit("")
        ).otherwise(F.substring_index(netloc, ":", 1)))
    url = F.col(url_col)
    slow = takes_udf(url)
    netloc = F.regexp_extract(url, _NETLOC_RE, 1)
    return df.withColumn(out_col, F.when(
        slow, _url_pass_udf(True)(F.when(slow, url))["host"]
    ).otherwise(F.lower(F.substring_index(netloc, ":", 1))))


def native_canon_eligible(url_col):
    """True where the JVM-native canonicalizer is provably byte-identical
    to the `urllib.parse` UDF: printable-ASCII URL with a scheme, no
    percent-encoding / '+' / ';' params / brackets / spaces (those hit
    parse_qsl re-encoding or IPv6/params paths), and a query that is
    either empty or strictly ``k=v(&k=v)*`` over urlencode-safe chars
    (anything else gets re-encoded by ``urlencode`` and must take the
    exact Python path). An empty authority followed by ``//``
    (``http:////x``) is ineligible: ``urlunparse`` drops that
    authority's ``//`` (``http://x``)."""
    # one anchored regex pass (keep it a single scan of the string):
    # scheme :// [not //] authority+path (printable ASCII minus %+;[]\?#)
    # [? query of strict k=v pairs] [# printable-clean fragment]
    cls = r"[\x21-\x7E&&[^%+;\[\]\\?#]]"
    kv = r"[A-Za-z0-9_.~\-]+=[A-Za-z0-9_.~\-]*"
    return url_col.rlike(
        r"^[A-Za-z][A-Za-z0-9+.\-]*://(?!//)" + cls + r"*"
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
    scheme = F.lower(F.regexp_extract(url_col, _SCHEME_RE, 1))
    netloc = F.lower(F.regexp_extract(url_col, _NETLOC_RE, 1))
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
    path = F.regexp_replace(F.regexp_extract(url_col, _PATH_RE, 1), r"/+$", "")
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
    single_scan: bool = True,
):
    """P1 as the nulled dispatch (module docstring): JVM-native fast path
    for eligible rows, the UDF's ``canon_url`` for the rest. Equality is
    preserved because the native expression is byte-identical on
    exactly the rows it is applied to. ``single_scan`` must be True
    (False raises); it stays for callers that pass it.
    """
    if not single_scan:
        raise ValueError("canonicalize_frame: single_scan=False is not supported")
    url = F.col(url_col)
    slow = takes_udf(url)
    return df.withColumn(out_col, F.when(
        slow, _url_pass_udf(sort_query)(F.when(slow, url))["canon_url"]
    ).otherwise(canonicalize_native(url, sort_query)))


def url_pass(df, url_col: str = "url", sort_query: bool = True,
             n_ineligible: int | None = None):
    """P1, P2 and F1's URL parts in one split pass (module docstring;
    null URLs take the UDF): adds `URL_PASS_COLS`. A filter on the
    result over the parts reaches below the native canonicalization and
    above the UDF.

    ``n_ineligible`` is the number of ``df`` rows `takes_udf` holds for
    (or an upper bound on it), if the caller has counted them: at 0 the
    UDF branch is not planned. ``None`` (not counted) plans it."""
    url = F.col(url_col)
    slow_rows = takes_udf(url)
    netloc = F.regexp_extract(url, _NETLOC_RE, 1)
    fast = df.filter(~slow_rows).withColumns({
        "scheme": F.lower(F.regexp_extract(url, _SCHEME_RE, 1)),
        "netloc": netloc,
        "host": F.lower(F.substring_index(netloc, ":", 1)),
        "path": F.regexp_extract(url, _PATH_RE, 1),
        "fragment": F.regexp_extract(url, r"#(.*)$", 1),
        "canon_url": canonicalize_native(url, sort_query),
    })
    if n_ineligible == 0:
        return fast
    # nondeterministic, so the optimizer cannot copy the call into each
    # consumer of its fields (a filter and a projection would otherwise
    # plan one ArrowEvalPython each)
    udf = _url_pass_udf(sort_query).asNondeterministic()
    slow = df.filter(slow_rows).withColumn("_u", udf(url))
    slow = slow.withColumns({c: F.col("_u")[c] for c in URL_PASS_COLS}).drop("_u")
    return fast.unionByName(slow)


def skip_extension_predicate(path_col, extensions=None):
    """F1 skip-list: lowercase path ends with a skip extension
    (crawler.py:492-500), each entry matched literally as a suffix, dot
    included (``path.endswith(ext)``); ``extensions=None`` means
    ``SKIP_EXTENSIONS``."""
    from crawler_service_spark.config import SKIP_EXTENSIONS

    exts = SKIP_EXTENSIONS if extensions is None else extensions
    if not exts:
        # an empty list skips nothing (r"()$" would skip every path)
        return F.lit(False)
    alternation = "|".join(re.escape(e) for e in exts)
    return F.lower(path_col).rlike("(" + alternation + ")$")
