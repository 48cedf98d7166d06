"""Deterministic synthetic payload + web graph (seed 42, FIXTURES.md §1-4).

Everything is a pure function of (seed, page_id, params): the same page/link/
image is produced whether generated driver-side (tiny, for the in-memory
oracle crawler) or distributed (``spark.range(n).mapInPandas``), independent
of partitioning — the property that makes correctness testable at sf-tiny
while the identical generator feeds the local[8]-vs-local[32] scaling runs.

Graph shape mirrors what the crawl4ai deep-crawl exercises:
  - D base domains ``ex{d}.test``; domain 0 is "hot" (≈50% of pages) to
    force the skew-salting path (SURVEY §2.6 D7).
  - raw hrefs come in 8 variants (fragments, tracking params, uppercase
    host, trailing slash, relative, scheme-relative) to exercise
    normalize_url_for_deep_crawl (utils.py:2162-2207).
  - seeded 404/429/503 minority so failed fetches flow through the
    visited-before-success quirk (bfs_strategy.py:161 vs :167-169).

The synthetic-fetch key is the C2 canonical URL: fetching any raw variant
resolves to its canonical page, standing in for HTTP's fragment-dropping +
case-insensitive-host behavior.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from .. import codecs
from ..hashing import xxh64

# Bump whenever the generated bytes for a given (seed, params) change, so
# on-disk caches of synthesized tables (bench graph cache, expected-table
# parquet) can key on the generation recipe.  rev 2 = near-dup image
# injection (image_dup_base); rev 3 = near-dup images inherit their base
# caption (half exact, half reformatted).
FIXTURE_REV = 3

_WORDS = (
    "amber basin cedar delta ember frost gale harbor iris juniper kelp lumen "
    "mesa nectar opal pike quartz reef sage tundra umber vale willow xenon "
    "yarrow zephyr anchor bloom crater dune"
).split()

_SECTIONS = ("blog", "news", "docs", "shop", "wiki", "img", "dl", "about")
_EXTS = (".html", ".html", ".html", ".html", ".html", ".html", ".html", ".pdf", "", ".php")


@dataclass
class GraphParams:
    n_pages: int = 200
    n_domains: int = 20
    hot_fraction: float = 0.5
    mean_degree: int = 8
    external_fraction: float = 0.10
    fail_rate: float = 0.05
    seed: int = 42
    img_min: int = 8
    img_max: int = 64
    noindex_rate: float = 0.1

    @property
    def n_hot(self) -> int:
        return max(1, int(self.n_pages * self.hot_fraction))


def _mix(seed: int, tag: bytes, *vals: int) -> int:
    """64-bit deterministic mix of (seed, tag, vals) via xxh64."""
    return xxh64(tag + struct.pack("<%dq" % len(vals), *vals), seed)


def domain_of(i: int, p: GraphParams) -> int:
    if i < p.n_hot:
        return 0
    if p.n_domains <= 1:
        return 0
    return 1 + (i - p.n_hot) % (p.n_domains - 1)


def host_of_domain(d: int) -> str:
    return f"ex{d}.test"


def url_of(i: int, p: GraphParams) -> str:
    """Canonical URL of page i (already in C2-canonical form)."""
    m = _mix(p.seed, b"url", i)
    sec = _SECTIONS[m % 8]
    year = 2019 + (m >> 8) % 6
    ext = _EXTS[(m >> 16) % 10]
    return f"https://{host_of_domain(domain_of(i, p))}/{sec}/{year}/p{i:08d}{ext}"


def status_of(i: int, p: GraphParams) -> int:
    m = _mix(p.seed, b"status", i)
    if (m % 10**6) / 10**6 < p.fail_rate:
        return (404, 429, 503)[(m >> 20) % 3]
    return 200


def _caption_of(i: int, p: GraphParams) -> str:
    j = image_dup_base(i)
    if j is not None:
        # A re-served web image keeps its alt text: dup rows inherit the
        # base caption — half byte-exact copies, half lightly reformatted
        # (leading cap + stray whitespace) so only NORMALIZED caption
        # equality groups them.  Makes caption-dedup / joint phash+caption
        # near-dup probes non-degenerate.
        base = _caption_of(j, p)
        if _mix(p.seed, b"capdup", i) % 2 == 0:
            return base
        return " " + base.capitalize() + "  "
    m = _mix(p.seed, b"caption", i)
    n_words = 1 + m % 40
    return " ".join(
        _WORDS[_mix(p.seed, b"capw", i, k) % len(_WORDS)] for k in range(n_words)
    )


def _title_of(i: int, p: GraphParams) -> str:
    m = _mix(p.seed, b"title", i)
    n_words = 3 + m % 8
    return " ".join(
        _WORDS[_mix(p.seed, b"titw", i, k) % len(_WORDS)] for k in range(n_words)
    ).capitalize()


def _meta_of(i: int, url: str, title: str, p: GraphParams) -> dict[str, str]:
    m = _mix(p.seed, b"meta", i)
    desc_words = 10 + m % 30
    desc = " ".join(_WORDS[_mix(p.seed, b"desw", i, k) % len(_WORDS)] for k in range(desc_words))
    meta = {
        "description": desc,
        "keywords": ",".join(_WORDS[(m >> (4 * k)) % len(_WORDS)] for k in range(3)),
    }
    if (m % 100) / 100 < p.noindex_rate:
        meta["robots"] = "noindex, nofollow"
    if (m >> 32) % 3 == 0:
        meta["canonical"] = url
    return meta


def degree_of(i: int, p: GraphParams) -> int:
    """Deterministic degree with mean ≈ mean_degree (1..2*mean-1)."""
    m = _mix(p.seed, b"deg", i)
    return 1 + m % (2 * p.mean_degree - 1)


def _same_domain_target(i: int, j: int, p: GraphParams) -> int:
    d = domain_of(i, p)
    m = _mix(p.seed, b"tgt", i, j)
    if d == 0:
        return m % p.n_hot
    stride = p.n_domains - 1
    count = (p.n_pages - p.n_hot - (d - 1) + stride - 1) // stride
    if count <= 0:
        return i
    return p.n_hot + (d - 1) + (m % count) * stride


def _any_target(i: int, j: int, p: GraphParams) -> int:
    return _mix(p.seed, b"ext", i, j) % p.n_pages


def href_variant(target: int, src: int, j: int, p: GraphParams) -> str:
    """Raw href for a link to `target` — one of 8 noise variants that all
    canonicalize (C2) back to url_of(target)."""
    u = url_of(target, p)
    v = _mix(p.seed, b"var", src, j) % 8
    if v == 1:
        return u + "#sec" + str(j % 10)
    if v == 2:
        return u + "?utm_source=feed&utm_campaign=x"
    if v == 3:
        scheme, rest = u.split("://", 1)
        host, _, path = rest.partition("/")
        return f"{scheme}://{host.upper()}/{path}"
    if v == 4:
        return u + "/"
    if v == 5 and domain_of(target, p) == domain_of(src, p):
        return "/" + u.split("://", 1)[1].partition("/")[2]
    if v == 6:
        return u + "?ref=nav"
    if v == 7:
        return u.split(":", 1)[1]  # scheme-relative //host/path
    return u


def links_of(i: int, p: GraphParams) -> list[tuple[str, bool]]:
    """Ordered raw (href, is_internal) pairs of page i."""
    out = []
    my_dom = domain_of(i, p)
    for j in range(degree_of(i, p)):
        ext_draw = (_mix(p.seed, b"isx", i, j) % 10**6) / 10**6
        if ext_draw < p.external_fraction:
            t = _any_target(i, j, p)
        else:
            t = _same_domain_target(i, j, p)
        out.append((href_variant(t, i, j, p), domain_of(t, p) == my_dom))
    return out


IMG_DUP_EVERY = 7        # every 7th image is a near-duplicate of its group base
_IMG_DUP_NOISE_FRAC = 0.2
_IMG_DUP_NOISE_AMP = 2
_IMG_DUP_PATCH = 0.25    # overlay patch edge as a fraction of each dimension
_IMG_DUP_SALT = 0x9E3779B97F4A7C15


def image_dup_base(i: int) -> int | None:
    """Near-dup injection (FIXTURES.md §1): image i with i % 7 == 6 is a
    perturbed copy of group base i-6 (same pixels + sparse ±2 noise + one
    random overlay patch — a re-served/lightly-edited web image).  Derived
    from the index alone so `image_pixels` can reconstruct truth from the
    image_id without graph params (decode invariants stay checkable)."""
    return i - (i % IMG_DUP_EVERY) if i % IMG_DUP_EVERY == IMG_DUP_EVERY - 1 else None


def image_meta_of(i: int, p: GraphParams) -> tuple[str, int, int, str]:
    j = image_dup_base(i)
    md = _mix(p.seed, b"img", i if j is None else j)  # dup inherits base dims
    m = _mix(p.seed, b"img", i)
    w = p.img_min + md % (p.img_max - p.img_min + 1)
    h = p.img_min + (md >> 16) % (p.img_max - p.img_min + 1)
    fmt = codecs.FORMATS[(m >> 32) % 4]  # … but keeps its own encoding
    return f"img_{i:012d}", w, h, fmt


def image_pixels(image_id: str, w: int, h: int, seed: int) -> np.ndarray:
    """FIXTURES.md §1: PCG64(seed ^ xxh64(image_id)) uint8 RGB; near-dup
    ids (image_dup_base) perturb their base image's pixels instead —
    phash lands within a few bits of the base (typ. Hamming 0-8) while
    unrelated pairs sit near 32."""
    j = None
    if image_id.startswith("img_") and image_id[4:].isdigit():
        j = image_dup_base(int(image_id[4:]))
    src = image_id if j is None else f"img_{j:012d}"
    rng = np.random.Generator(np.random.PCG64(seed ^ xxh64(src.encode())))
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    if j is not None:
        nr = np.random.Generator(
            np.random.PCG64(seed ^ xxh64(image_id.encode()) ^ _IMG_DUP_SALT))
        mask = nr.random(size=(h, w, 1)) < _IMG_DUP_NOISE_FRAC
        delta = nr.integers(-_IMG_DUP_NOISE_AMP, _IMG_DUP_NOISE_AMP + 1,
                            size=(h, w, 3)).astype(np.int16)
        px = np.clip(px.astype(np.int16) + np.where(mask, delta, 0),
                     0, 255).astype(np.uint8)
        pw = max(1, int(w * _IMG_DUP_PATCH))
        ph = max(1, int(h * _IMG_DUP_PATCH))
        x0 = int(nr.integers(0, w - pw + 1))
        y0 = int(nr.integers(0, h - ph + 1))
        px[y0:y0 + ph, x0:x0 + pw] = nr.integers(
            0, 256, size=(ph, pw, 3), dtype=np.uint8)
    return px


# ----------------------------------------------------------------- batches

def gen_pages_batch(ids: "np.ndarray", p: GraphParams) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        url = url_of(i, p)
        title = _title_of(i, p)
        status = status_of(i, p)
        m = _mix(p.seed, b"ld", i)
        rows.append(
            {
                "page_id": i,
                "url": url,
                "host": host_of_domain(domain_of(i, p)),
                "title": title,
                "meta": _meta_of(i, url, title, p),
                "has_ldjson": m % 4 == 0,
                "status_code": status,
                "success": status == 200,
                "fetch_ms": 20 + _mix(p.seed, b"lat", i) % 480,
                "image_id": image_meta_of(i, p)[0],
            }
        )
    return pd.DataFrame(rows)


def gen_links_batch(ids: "np.ndarray", p: GraphParams) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        src = url_of(i, p)
        for pos, (href, internal) in enumerate(links_of(i, p)):
            rows.append({"src_url": src, "pos": pos, "href": href, "is_internal": internal})
    return pd.DataFrame(rows, columns=["src_url", "pos", "href", "is_internal"])


def gen_images_batch(ids: "np.ndarray", p: GraphParams) -> pd.DataFrame:
    rows = []
    for i in ids:
        i = int(i)
        image_id, w, h, fmt = image_meta_of(i, p)
        px = image_pixels(image_id, w, h, p.seed)
        rows.append(
            {
                "image_id": image_id,
                "bytes": codecs.encode(px, fmt),
                "w": w,
                "h": h,
                "fmt": fmt,
                "caption": _caption_of(i, p),
                "phash": codecs.phash64(px),
            }
        )
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])


PAGES_SCHEMA = (
    "page_id long, url string, host string, title string, meta map<string,string>, "
    "has_ldjson boolean, status_code int, success boolean, fetch_ms long, image_id string"
)
LINKS_SCHEMA = "src_url string, pos int, href string, is_internal boolean"
IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def _map_ids(gen, p: GraphParams):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen(b["id"].to_numpy(), p)

    return fn


def synth_tables(spark, p: GraphParams, parallelism: int | None = None):
    """Distributed generation: (pages, links, images) DataFrames."""
    n_parts = parallelism or spark.sparkContext.defaultParallelism
    base = spark.range(0, p.n_pages, numPartitions=n_parts)
    pages = base.mapInPandas(_map_ids(gen_pages_batch, p), PAGES_SCHEMA)
    links = base.mapInPandas(_map_ids(gen_links_batch, p), LINKS_SCHEMA)
    images = base.mapInPandas(_map_ids(gen_images_batch, p), IMAGES_SCHEMA)
    return pages, links, images


def synth_local(p: GraphParams, images: bool = False):
    """Driver-side tiny generation for the oracle crawler / unit tests."""
    ids = np.arange(p.n_pages)
    pages = gen_pages_batch(ids, p)
    links = gen_links_batch(ids, p)
    imgs = gen_images_batch(ids, p) if images else None
    return pages, links, imgs


# ------------------------------------------------------------------ robots

ROBOTS_TTL = 7 * 24 * 60 * 60  # utils.py:216-217


def gen_robots(p: GraphParams, now: int = 1_700_000_000) -> pd.DataFrame:
    """Per-host robots.txt rules table (FIXTURES.md §3): a mix of
    allow-all, disallow-sections, empty, malformed and stale entries,
    mirroring tests/20241401/test_robot_parser.py:52-124 cases."""
    rows = []
    for d in range(p.n_domains):
        host = host_of_domain(d)
        kind = d % 5
        if kind == 0:
            rules = "User-agent: *\nDisallow: /private/\n"
        elif kind == 1:
            rules = "User-agent: *\nDisallow: /dl/\nDisallow: /shop/\n"
        elif kind == 2:
            rules = ""  # empty → allow
        elif kind == 3:
            rules = "<<<malformed>>>"  # malformed → allow
        else:
            rules = None  # missing/fetch error → allow
        stale = d % 7 == 6
        rows.append(
            {
                "host": host,
                "rules": rules,
                "fetch_time": now - (ROBOTS_TTL + 1000 if stale else 1000),
                "status": 200 if rules is not None else 599,
            }
        )
    return pd.DataFrame(rows)


def gen_politeness(p: GraphParams) -> pd.DataFrame:
    """Deterministic per-host politeness config (FIXTURES.md §4): the
    reference draws uniform(1,3) per domain (async_dispatcher.py:63); we pin
    the draw via seeded hash so parity runs share one schedule."""
    rows = []
    for d in range(p.n_domains):
        host = host_of_domain(d)
        u = _mix(p.seed, b"pol", d) / 2**64
        rows.append(
            {
                "host": host,
                "delay_s": 1.0 + 2.0 * u,
                "max_retries": 3,
                "max_backoff_s": 60.0,
            }
        )
    return pd.DataFrame(rows)
