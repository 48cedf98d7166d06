"""URL canonicalization — semantics of crawl4ai's normalizers, vectorized.

Reference semantics (cited for parity checking):
  - ``normalize_url``                     crawl4ai/utils.py:2148-2159
  - ``normalize_url_for_deep_crawl``      crawl4ai/utils.py:2162-2207
  - ``efficient_normalize_url_for_deep_crawl`` crawl4ai/utils.py:2209-2235

The deep-crawl canonicalizer is THE URL-seen key function (north_rule:
bloom/cuckoo URL-seen keyed by canonicalized-URL xxhash64), so the Spark
pipeline and the driver-side oracle must agree byte-for-byte.  One shared
pure-Python implementation is used by both; Spark runs it inside Arrow
pandas UDFs (batched, no per-row Python crossing per north_rule — each
Arrow batch is one Python call over thousands of rows).

At 100 TB scale this stage runs *after* ``dropDuplicates`` on the raw href
within a superstep (the set-oriented analog of the reference's
``lru_cache(10000)``) so each distinct href is canonicalized once.
"""

from __future__ import annotations

from urllib.parse import parse_qs, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, StructField, StructType

TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "ref", "fbclid")


def normalize_url(href: str, base_url: str) -> str:
    """Plain join-normalize (utils.py:2148-2159): urljoin(base, href.strip())."""
    parsed_base = urlparse(base_url)
    if not parsed_base.scheme or not parsed_base.netloc:
        raise ValueError(f"Invalid base URL format: {base_url}")
    return urljoin(base_url, href.strip())


def normalize_url_for_deep_crawl(href: str | None, base_url: str) -> str | None:
    """Canonicalizer for URL-seen keys (utils.py:2162-2207), step-for-step:

    urljoin → lowercase netloc → drop fragment → strip tracking params
    (parse_qs/urlencode round-trip) → path.rstrip('/') or '/'.
    """
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    parsed = urlparse(full_url)
    netloc = parsed.netloc.lower()
    query = parsed.query
    if query:
        params = parse_qs(query)
        for param in TRACKING_PARAMS:
            if param in params:
                del params[param]
        query = urlencode(params, doseq=True) if params else ""
    return urlunparse(
        (
            parsed.scheme,
            netloc,
            parsed.path.rstrip("/") or "/",
            parsed.params,
            query,
            "",
        )
    )


def efficient_normalize_url_for_deep_crawl(href: str | None, base_url: str) -> str | None:
    """Fast-mode canonicalizer (utils.py:2209-2235): join + lower netloc + defrag."""
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    parsed = urlparse(full_url)
    return urlunparse(
        (parsed.scheme, parsed.netloc.lower(), parsed.path, parsed.params, parsed.query, "")
    )


def _canon_series(hrefs: pd.Series, bases: pd.Series) -> pd.Series:
    # Per-batch memo: link batches repeat hrefs heavily (nav links), the
    # set-oriented stand-in for the reference's lru_cache.
    memo: dict[tuple[str, str], str | None] = {}
    out = []
    for href, base in zip(hrefs.tolist(), bases.tolist()):
        key = (href, base)
        got = memo.get(key)
        if got is None and key not in memo:
            got = normalize_url_for_deep_crawl(href, base if base is not None else "")
            memo[key] = got
        out.append(got)
    return pd.Series(out, dtype="object")


@pandas_udf(StringType())
def canonicalize_udf(hrefs: pd.Series, bases: pd.Series) -> pd.Series:
    """Arrow-batched ``normalize_url_for_deep_crawl`` (utils.py:2162-2207)."""
    return _canon_series(hrefs, bases)


def canonical_col(href: Column, base: Column) -> Column:
    """Canonical-URL column; pair with ``url_hash_col`` for the seen key."""
    return canonicalize_udf(href, base)


def fetch_key_of(url: str | None) -> str | None:
    """The fetch key the crawl stores with a frontier row pushing ``url``:
    the URL canonicalized against itself.  The canonicalizer is not
    idempotent (``a;/`` joined onto ``http://h.com/a/b/`` canonicalizes to
    ``http://h.com/a/b/a;``, and that to ``http://h.com/a/b/a``), so the
    key of a canonical URL is not the URL itself."""
    return normalize_url_for_deep_crawl(url, url or "")


def _join(href, base) -> str | None:
    try:
        return normalize_url(href or "", base or "")
    except ValueError:
        return None


def _discovery_udf(*fields: str):
    """A string-struct pandas UDF for link discovery, marked
    nondeterministic although it is pure: the optimizer then keeps the
    validity filters above the one projection that calls it, instead of
    pushing a copy of the call below that projection (a second Arrow pass
    over the same rows)."""
    schema = StructType([StructField(n, StringType()) for n in fields])
    return lambda f: pandas_udf(schema)(f).asNondeterministic()


@_discovery_udf("abs", "key")
def join_url_udf(hrefs: pd.Series, bases: pd.Series) -> pd.DataFrame:
    """Arrow-batched plain ``normalize_url`` (utils.py:2148-2159) for
    best-first discovery, which pushes the absolute href as-is.  ``abs`` is
    NULL where normalize_url raises (invalid base); ``key`` is the pushed
    row's fetch key, ``fetch_key_of(abs)``."""
    abs_out = [_join(h, b) for h, b in zip(hrefs.tolist(), bases.tolist())]
    return pd.DataFrame({"abs": abs_out, "key": [fetch_key_of(a) for a in abs_out]})


@_discovery_udf("abs", "canon", "key")
def join_and_canonicalize_udf(hrefs: pd.Series, bases: pd.Series) -> pd.DataFrame:
    """One-pass fusion of ``normalize_url`` (utils.py:2148-2159) and
    ``normalize_url_for_deep_crawl`` (utils.py:2162-2207) for the BFS
    discovery hot path: the canonicalizer's first step is the same
    urljoin, so computing both in one Arrow batch halves the Python
    round trips (and the href/base column transfer) versus chaining a
    join UDF into ``canonicalize_udf``.

    ``abs`` is NULL where normalize_url raises (invalid base); ``canon``
    is byte-identical to ``canonicalize_udf(abs, base)`` — the canonical
    is derived from the computed absolute href (NOT the raw href), so an
    empty raw href still canonicalizes to the base URL exactly as the
    old two-UDF chain did.  ``key`` is the pushed row's fetch key,
    ``fetch_key_of(canon)``.
    """
    abs_out: list = []
    canon_out: list = []
    for href, base in zip(hrefs.tolist(), bases.tolist()):
        a = _join(href, base)
        abs_out.append(a)
        canon_out.append(
            normalize_url_for_deep_crawl(a, base or "") if a is not None else None
        )
    return pd.DataFrame({"abs": abs_out, "canon": canon_out,
                         "key": [fetch_key_of(c) for c in canon_out]})


def url_hash_col(url: Column) -> Column:
    """URL-seen key: signed xxhash64 of the canonical URL (JVM-side, seed 42).

    Matches driver-side crawl4ai_spark.hashing.xxh64_signed exactly
    (verified in tests/test_hashing.py).
    """
    return F.xxhash64(url)
