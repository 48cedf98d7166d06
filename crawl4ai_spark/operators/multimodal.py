"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with (fmt, w, h, …) metadata
structs; every transform is an Arrow ``mapInPandas`` stage with a real
schema, partitioning story and batch shape.  Codecs available in this
sandbox (pure numpy/zlib: raw/ppm/png/qlossy) decode for real; formats that
need external libs (jpeg/webp, audio, video) are STUBBED behind
``NotImplementedError`` with the Spark-side plumbing fully real and tested
— swap the stub body for PIL/ffmpeg on a real cluster.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs

STUB_FORMATS = {"jpg", "jpeg", "webp", "avif", "gif"}


def decode_rgb(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt in codecs.FORMATS:
        return codecs.decode(data, fmt, w, h)
    if fmt in STUB_FORMATS:
        # STUB: external image libs unavailable in this sandbox; a real
        # deployment decodes via PIL/turbojpeg here.
        raise NotImplementedError(f"codec for {fmt!r} requires PIL/libjpeg")
    raise ValueError(f"unknown image format {fmt!r}")


def resize_nearest(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize, pure numpy."""
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return px[ys][:, xs]


RESIZED_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def resize_stage(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """binary → decode → resize → re-encode (raw) → binary, batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for r in b.itertuples():
                px = decode_rgb(r.bytes, r.fmt, int(r.w), int(r.h))
                small = resize_nearest(px, out_w, out_h)
                rows.append(
                    {"image_id": r.image_id, "bytes": codecs.encode_raw(small),
                     "w": out_w, "h": out_h, "fmt": "raw"}
                )
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, RESIZED_SCHEMA
    )


FEATURES_SCHEMA = "image_id string, features array<float>"


def feature_stage(images: DataFrame, grid: int = 4) -> DataFrame:
    """Deterministic visual features: grid×grid per-channel block means →
    array<float> of length grid²·3 (the embedding-extraction slot; swap the
    body for a real vision encoder on a cluster with GPUs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, feats = [], []
            for r in b.itertuples():
                px = decode_rgb(r.bytes, r.fmt, int(r.w), int(r.h)).astype(np.float32)
                small = resize_nearest(px, grid, grid)
                ids.append(r.image_id)
                feats.append((small / 255.0).ravel().tolist())
            yield pd.DataFrame({"image_id": ids, "features": feats})

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, FEATURES_SCHEMA
    )


DCT_PHASH_SCHEMA = "image_id string, dct_phash long"


def dct_phash_stage(images: DataFrame) -> DataFrame:
    """Compute the 64-bit DCT perceptual hash from the PIXELS of every
    payload row: decode → integer luma → 32×32 selection resize → Q12
    fixed-point DCT-II → median-split bits (``codecs.dct_phash64``).  The
    compute path behind the payload table's ``phash`` column — run it at
    ingest, then the whole Hamming dedup tier (``dedup.hamming_pairs`` /
    ``phash_pairs`` / ``dedup_clusters``) applies unchanged to its output.

    Integer-exact end to end (the committed DCT_Q12 table is the spec),
    so the hash is byte-identical on any engine, partitioning or numpy
    build — the same determinism contract as the fixed-point k-means and
    PageRank tiers.  ONE Arrow ``mapInPandas`` pass, no shuffle; at 100 TB
    the cost is the decode (already paid by ``decode_stage``'s slot) plus
    an 8×32×32 integer matmul per image."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, hashes = [], []
            for r in b.itertuples():
                px = decode_rgb(r.bytes, r.fmt, int(r.w), int(r.h))
                ids.append(r.image_id)
                hashes.append(codecs.dct_phash64(px))
            yield pd.DataFrame({"image_id": ids, "dct_phash": pd.array(
                hashes, dtype="int64")})

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, DCT_PHASH_SCHEMA
    )


# ---------------------------------------------------------------------------
# Container format sniffing (magic bytes vs declared metadata)
# ---------------------------------------------------------------------------

# Magic-byte prefixes as UPPERCASE hex (the form both engines compare in).
# Order matters and is part of the contract: png (8-byte signature) beats
# ppm ('P6') beats qlossy (zlib CMF/FLG at the codec's fixed level-6
# setting, codecs.py:102) beats the magicless raw fallback.  A raw payload
# whose first bytes happen to collide with a shorter magic sniffs as that
# format — that IS what a sniffer reports; both engines see the same bytes
# so the output stays deterministic.
SNIFF_MAGICS: list[tuple[str, str]] = [
    ("png", "89504E470D0A1A0A"),
    ("ppm", "5036"),
    ("qlossy", "789C"),
]
_SNIFF_PREFIX_BYTES = 64  # longest header we validate (PNG IHDR ends at 24)


def sniff_format(images: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Detect the actual container format of each payload from its magic
    bytes and validate the self-described header against the declared
    (fmt, w, h) metadata — the ingest-hygiene screen a web-scale image
    pipeline runs before ever decoding (mislabeled Content-Type is endemic
    in crawl data; the reference trusts extensions/headers, e.g. its
    format-substring scoring at content_scraping_strategy.py:331-343).

    Adds:
      - ``sniffed_fmt``: first matching magic in SNIFF_MAGICS order, else
        'raw' (the only magicless codec).
      - ``fmt_match``: sniffed == declared.
      - ``header_ok``: container self-description consistent with declared
        metadata — PNG: IHDR width/height fields (big-endian at bytes
        17-24) equal declared w/h; PPM: the full ``P6\\n{w} {h}\\n255\\n``
        header prefix matches; raw: byte length == w*h*3; qlossy: NULL
        (validating it needs a decompress — that's ``decode_stage``'s job).

    Only the first 64 bytes are hexed (codegen substring on the binary
    column — the 100 TB payload bytes are never copied or shuffled); all
    comparisons are string/integer equality, exact on any engine.  Pure
    Catalyst, zero shuffle, whole-stage codegen.
    """
    hx = F.hex(F.expr(f"substring({bytes_col}, 1, {_SNIFF_PREFIX_BYTES})"))
    df = images.withColumn("_hx", hx)
    sniffed = None
    for name, magic in SNIFF_MAGICS:
        cond = F.col("_hx").startswith(magic)
        sniffed = F.when(cond, name) if sniffed is None else sniffed.when(cond, name)
    df = df.withColumn("sniffed_fmt", sniffed.otherwise("raw"))

    w_hex = F.lpad(F.hex(F.col("w")), 8, "0")
    h_hex = F.lpad(F.hex(F.col("h")), 8, "0")
    png_ok = (F.substring("_hx", 33, 8) == w_hex) & (
        F.substring("_hx", 41, 8) == h_hex
    )
    ppm_hdr = F.hex(
        F.encode(
            F.concat(
                F.lit("P6\n"), F.col("w").cast("string"), F.lit(" "),
                F.col("h").cast("string"), F.lit("\n255\n"),
            ),
            "UTF-8",
        )
    )
    raw_ok = F.length(F.col(bytes_col)) == (
        F.col("w").cast("long") * F.col("h") * 3
    )
    header_ok = (
        F.when(F.col("sniffed_fmt") == "png", png_ok)
        .when(F.col("sniffed_fmt") == "ppm", F.col("_hx").startswith(ppm_hdr))
        .when(F.col("sniffed_fmt") == "raw", raw_ok)
        .otherwise(F.lit(None).cast("boolean"))
    )
    return (
        df.withColumn("fmt_match", F.col("sniffed_fmt") == F.col("fmt"))
        .withColumn("header_ok", header_ok)
        .drop("_hx")
    )


# ---------------------------------------------------------------------------
# LAION-style image+caption curation gate
# ---------------------------------------------------------------------------

CURATION_RULES = ("too_small", "bad_aspect", "caption_short",
                  "caption_long", "repetitive", "low_alpha")


def curate_image_captions(images: DataFrame, min_side: int = 24,
                          max_aspect: float = 2.0, min_tokens: int = 3,
                          max_tokens: int = 30, min_distinct_ratio: float = 0.7,
                          min_alpha_ratio: float = 0.5) -> DataFrame:
    """Training-set curation gate over the (image_id, w, h, caption, ...)
    table: resolution floor, aspect-ratio cap, caption token-count window,
    repetition filter (distinct/total tokens), alphabetic-density floor —
    the standard LAION/DataComp-style pre-dedup screens.

    Adds ``keep boolean`` and ``drop_reason string`` (the FIRST failing
    rule in CURATION_RULES order; NULL when kept).  Pure Catalyst column
    expressions — whole-stage codegen, zero shuffle, filter-pushdown
    friendly; run it before the dedup tiers so they never see dropped
    rows."""
    toks = F.filter(F.split(F.col("caption"), r"\s+"), lambda t: t != "")
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    nonspace = F.length(F.regexp_replace(F.col("caption"), r"\s", ""))
    alpha = F.length(F.regexp_replace(F.col("caption"), "[^a-zA-Z]", ""))
    reason = (
        F.when(F.least("w", "h") < F.lit(min_side), "too_small")
        .when(F.greatest("w", "h").cast("double")
              > F.lit(float(max_aspect)) * F.least("w", "h"), "bad_aspect")
        .when(n_tok < F.lit(min_tokens), "caption_short")
        .when(n_tok > F.lit(max_tokens), "caption_long")
        .when(n_distinct.cast("double") / n_tok < F.lit(float(min_distinct_ratio)),
              "repetitive")
        .when(alpha.cast("double") / nonspace < F.lit(float(min_alpha_ratio)),
              "low_alpha")
    )
    return images.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )


# (bucket name, aspect lower bound as w*den > h*num, target w, target h).
# Boundaries are RATIONAL and tested by integer cross-multiplication, so
# bucket assignment is exact on every engine (no float ladder, no ln()).
ASPECT_BUCKETS: list[tuple[str, tuple[int, int] | None, int, int]] = [
    # first match wins: bound (num, den) keeps images with w*den >= h*num
    ("wide2", (2, 1), 1408, 704),    # w/h >= 2
    ("wide", (4, 3), 1152, 896),     # 4/3 <= w/h < 2
    ("square", (3, 4), 1024, 1024),  # 3/4 <= w/h < 4/3
    ("tall", (1, 2), 896, 1152),     # 1/2 <= w/h < 3/4
    ("tall2", None, 704, 1408),      # w/h < 1/2
]

# megapixel tiers (w*h thresholds — integers, exact everywhere)
RES_TIERS: list[tuple[str, int]] = [
    ("xl", 1_048_576),  # >= 1024x1024
    ("large", 262_144),  # >= 512x512
    ("medium", 65_536),  # >= 256x256
    ("small", 0),
]


def aspect_buckets(images: DataFrame) -> DataFrame:
    """Aspect-ratio bucketing for image-model training batches (the
    SDXL/NovelAI batch-shaping step): every image is assigned the bucket
    whose target (w, h) it will be resized into, so a training loader can
    batch same-shaped tensors without padding.

    Adds ``bucket``, ``target_w``, ``target_h`` (fixed per-bucket shapes
    sharing one pixel budget) and ``res_tier`` (source-megapixel tier for
    curriculum/filter policies).  Pure Catalyst CASE ladder over integer
    cross-multiplications — codegen, zero shuffle, exact on any engine.
    A loader groups by (bucket) downstream; combine with
    ``sampling.shard_pack`` per bucket for shard-balanced batches."""
    bucket = None
    for name, bound, _tw, _th in ASPECT_BUCKETS:
        if bound is None:
            bucket = bucket.otherwise(F.lit(name))
            break
        num, den = bound
        cond = F.col("w") * F.lit(den) >= F.col("h") * F.lit(num)
        bucket = F.when(cond, F.lit(name)) if bucket is None else bucket.when(
            cond, F.lit(name)
        )
    tier = None
    for name, floor_px in RES_TIERS:
        if floor_px == 0:
            tier = tier.otherwise(F.lit(name))
            break
        cond = F.col("w") * F.col("h") >= F.lit(floor_px)
        tier = F.when(cond, F.lit(name)) if tier is None else tier.when(
            cond, F.lit(name)
        )
    # target ladders reference the materialized bucket column, not the
    # aspect CASE itself — one copy of the ladder in the plan, not eleven
    tw = F.lit(None).cast("int")
    th = F.lit(None).cast("int")
    for name, _bound, target_w, target_h in ASPECT_BUCKETS:
        tw = F.when(F.col("bucket") == name, F.lit(target_w)).otherwise(tw)
        th = F.when(F.col("bucket") == name, F.lit(target_h)).otherwise(th)
    return (
        images.withColumn("bucket", bucket)
        .withColumn("target_w", tw.cast("int"))
        .withColumn("target_h", th.cast("int"))
        .withColumn("res_tier", tier)
    )


def crop_plan(images: DataFrame) -> DataFrame:
    """Exact cover-resize + center-crop geometry from (w, h) to the
    assigned aspect bucket's (target_w, target_h) — the numbers a training
    loader feeds its resize kernel, computed WITHOUT touching pixels.

    Cover semantics (no padding, excess cropped): the constraining side is
    chosen by integer cross-multiplication (w*target_h <= h*target_w means
    width binds), the scaled free side is round-half-up in pure integer
    arithmetic ``(2*h*target_w + w) DIV (2*w)``, and the crop offset is the
    centered remainder.  Every op is 64-bit integer math, so the plan is
    byte-identical on any engine/partitioning — the same determinism
    contract as ``aspect_buckets``' rational boundaries.  Runs after
    ``aspect_buckets`` (needs target_w/target_h); zero shuffle, codegen.
    """
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    tw_, th_ = F.col("target_w").cast("long"), F.col("target_h").cast("long")
    width_binds = w * th_ <= h * tw_
    fit_w = F.when(width_binds, tw_).otherwise(
        F.expr("(2 * CAST(w AS BIGINT) * target_h + h) DIV (2 * h)"))
    fit_h = F.when(width_binds,
                   F.expr("(2 * CAST(h AS BIGINT) * target_w + w) DIV (2 * w)")
                   ).otherwise(th_)
    return (
        images.withColumn("fit_w", fit_w.cast("int"))
        .withColumn("fit_h", fit_h.cast("int"))
        .withColumn("crop_x", F.expr("(fit_w - target_w) DIV 2").cast("int"))
        .withColumn("crop_y", F.expr("(fit_h - target_h) DIV 2").cast("int"))
    )


def image_corpus_stats(images: DataFrame, fmt_col: str = "fmt") -> DataFrame:
    """Dataset-card summary for an image+caption corpus — the image twin
    of ``text.corpus_stats``: per-container-format (plus the ``'*'``
    grand-total rollup row) image / byte / pixel counts, pixel extremes,
    distinct-pHash count (the exact-near-dup headroom signal a release
    manifest publishes) and caption-length stats.

    ONE rollup aggregation; every column except ``mean_caption_chars``
    (a single division of two exact longs) is exact integer arithmetic,
    so the card is byte-identical on any engine/partitioning.  The
    distinct-pHash count is the one genuinely shuffle-bearing statistic
    (exact COUNT(DISTINCT) repartitions by (fmt, phash) before the final
    fold — the standard two-phase distinct; at corpus scale this is the
    release job's single full shuffle and it is the point of the job).
    """
    base = images.select(
        F.coalesce(F.col(fmt_col), F.lit("?")).alias("fmt"),
        F.length("bytes").cast("long").alias("nb"),
        (F.col("w").cast("long") * F.col("h")).alias("px"),
        F.col("phash"),
        F.length(F.coalesce(F.col("caption"), F.lit(""))).cast("long")
         .alias("cc"),
    )
    return (
        base.rollup("fmt")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("nb").cast("long").alias("n_bytes"),
            F.sum("px").cast("long").alias("n_pixels"),
            F.min("px").cast("long").alias("min_pixels"),
            F.max("px").cast("long").alias("max_pixels"),
            F.countDistinct("phash").cast("long").alias("n_distinct_phash"),
            F.sum("cc").cast("long").alias("caption_chars"),
        )
        .select(
            F.coalesce("fmt", F.lit("*")).alias("fmt"),
            "n_images", "n_bytes", "n_pixels", "min_pixels", "max_pixels",
            "n_distinct_phash", "caption_chars",
            F.round(F.col("caption_chars") / F.col("n_images"), 6)
             .alias("mean_caption_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Deep container validation: full PNG chunk walk with CRC verification
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_walk(data: bytes) -> dict:
    """Structural walk of one PNG payload: chunk inventory, IHDR dims,
    IDAT volume, CRC32 verification per chunk, truncation and
    trailing-garbage detection.  Pure stdlib (struct-free slicing +
    ``zlib.crc32``); deterministic for any byte string."""
    import zlib

    out = {"is_png": False, "n_chunks": None, "ihdr_w": None,
           "ihdr_h": None, "idat_bytes": None, "has_iend": None,
           "n_crc_bad": None, "first_bad_tag": None, "truncated": None,
           "trailing_bytes": None}
    if data is None or len(data) < 8 or bytes(data[:8]) != _PNG_SIG:
        return out
    data = bytes(data)
    out.update({"is_png": True, "n_chunks": 0, "ihdr_w": -1, "ihdr_h": -1,
                "idat_bytes": 0, "has_iend": False, "n_crc_bad": 0,
                "first_bad_tag": None, "truncated": False,
                "trailing_bytes": 0})
    pos, n = 8, len(data)
    while pos < n:
        if pos + 8 > n:
            out["truncated"] = True
            break
        length = int.from_bytes(data[pos:pos + 4], "big")
        if pos + 12 + length > n:
            out["truncated"] = True
            break
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        stored = int.from_bytes(data[pos + 8 + length:pos + 12 + length],
                                "big")
        out["n_chunks"] += 1
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != stored:
            out["n_crc_bad"] += 1
            if out["first_bad_tag"] is None:
                out["first_bad_tag"] = tag.decode("latin-1")
        if tag == b"IHDR" and length >= 8:
            out["ihdr_w"] = int.from_bytes(payload[0:4], "big")
            out["ihdr_h"] = int.from_bytes(payload[4:8], "big")
        elif tag == b"IDAT":
            out["idat_bytes"] += length
        pos += 12 + length
        if tag == b"IEND":
            out["has_iend"] = True
            out["trailing_bytes"] = n - pos
            break
    return out


def png_chunk_audit(images: DataFrame, bytes_col: str = "bytes",
                    id_col: str = "image_id") -> DataFrame:
    """Deep container validation for PNG payloads — the structural layer
    below ``sniff_format``'s 64-byte magic screen: walk EVERY chunk,
    verify EVERY CRC32, and report truncation / missing-IEND /
    trailing-garbage — the hygiene pass that catches the partial fetches,
    re-encoder bugs and byte-flips endemic in crawl payloads that a magic
    check waves through (the reference trusts Content-Type and extension
    entirely; this surface is engine-native).

    One row per image: ``is_png`` (signature match; non-PNG rows carry
    NULL for every other column), ``n_chunks``, ``ihdr_w``/``ihdr_h``
    (-1 until an IHDR is seen), ``idat_bytes``, ``has_iend``,
    ``n_crc_bad`` + ``first_bad_tag``, ``truncated`` (walk ran off the
    buffer mid-chunk) and ``trailing_bytes`` (junk after IEND).

    Scale shape: ONE Arrow ``mapInPandas`` stage (chunk walking is
    iterative — not expressible in Catalyst), zero shuffle, per-file
    parallelism; CRC is zlib's C loop.  Per-row error isolation is
    inherent: the walk is total for any byte string.
    """
    fields = (f"{id_col} string, is_png boolean, n_chunks long, "
              "ihdr_w long, ihdr_h long, idat_bytes long, has_iend boolean, "
              "n_crc_bad long, first_bad_tag string, truncated boolean, "
              "trailing_bytes long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data in zip(b[id_col], b[bytes_col]):
                rows.append({id_col: iid, **png_walk(data)})
            yield pd.DataFrame(rows, columns=[
                id_col, "is_png", "n_chunks", "ihdr_w", "ihdr_h",
                "idat_bytes", "has_iend", "n_crc_bad", "first_bad_tag",
                "truncated", "trailing_bytes"])

    return images.select(id_col, bytes_col).mapInPandas(run, fields)


_TEXT_KEYS = {"Title": "title", "Author": "author",
              "Software": "software", "Description": "description"}


def png_meta_walk(data: bytes) -> dict:
    """Extract the standard ancillary metadata from one PNG payload:
    tEXt keyword/value pairs for the spec's registered keywords
    (Title/Author/Software/Description), pHYs pixel density, gAMA gamma.
    The walk is total for any byte string (bad geometry just ends it);
    unknown/private chunks are skipped, matching a conforming decoder."""
    out = {"is_png": False, "title": None, "author": None,
           "software": None, "description": None, "phys_x": None,
           "phys_y": None, "phys_unit": None, "gamma": None,
           "n_text": None}
    if data is None or len(data) < 8 or bytes(data[:8]) != _PNG_SIG:
        return out
    data = bytes(data)
    out["is_png"] = True
    out["n_text"] = 0
    pos, n = 8, len(data)
    while pos < n:
        if pos + 8 > n:
            break
        length = int.from_bytes(data[pos:pos + 4], "big")
        if pos + 12 + length > n:
            break
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"tEXt":
            out["n_text"] += 1
            key, _, val = payload.partition(b"\x00")
            col = _TEXT_KEYS.get(key.decode("latin-1", "replace"))
            # first occurrence wins (the spec allows repeats)
            if col is not None and out[col] is None:
                out[col] = val.decode("latin-1", "replace")
        elif tag == b"pHYs" and length >= 9:
            out["phys_x"] = int.from_bytes(payload[0:4], "big")
            out["phys_y"] = int.from_bytes(payload[4:8], "big")
            out["phys_unit"] = payload[8]
        elif tag == b"gAMA" and length >= 4:
            out["gamma"] = int.from_bytes(payload[0:4], "big")
        pos += 12 + length
        if tag == b"IEND":
            break
    return out


def png_text_metadata(images: DataFrame, bytes_col: str = "bytes",
                      id_col: str = "image_id") -> DataFrame:
    """PNG ancillary-metadata extraction — the PNG-side analog of EXIF
    for a multimodal release manifest: registered tEXt fields as typed
    columns, pHYs density (DPI bookkeeping for print-scan corpora),
    gAMA (×100000 int), and the tEXt chunk count.  Non-PNG rows carry
    is_png=false and NULLs.

    Scale shape: ONE Arrow ``mapInPandas`` stage (the chunk walk is
    iterative), zero shuffle, per-file parallelism — same shape as
    ``png_chunk_audit``, which owns integrity; this stage owns content.

    Reference anchor: crawl4ai reads only HTML-side image attributes
    (functions/images.py twins of utils.py); in-container metadata is
    engine-native surface a 100 TB image corpus needs for provenance.
    """
    fields = (f"{id_col} string, is_png boolean, title string, "
              "author string, software string, description string, "
              "phys_x long, phys_y long, phys_unit long, gamma long, "
              "n_text long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data in zip(b[id_col], b[bytes_col]):
                rows.append({id_col: iid, **png_meta_walk(data)})
            yield pd.DataFrame(rows, columns=[
                id_col, "is_png", "title", "author", "software",
                "description", "phys_x", "phys_y", "phys_unit", "gamma",
                "n_text"])

    return images.select(id_col, bytes_col).mapInPandas(run, fields)


# ---------------------------------------------------------------------------
# Caption quality gate (LAION/DataComp-style caption filtering)
# ---------------------------------------------------------------------------

def caption_quality_gate(pairs: DataFrame, caption_col: str = "caption",
                         min_words: int = 2, min_chars: int = 5,
                         min_alpha_bp: int = 5000) -> DataFrame:
    """Caption-side curation for image+caption pairs — the screen LAION
    and DataComp run beside the CLIP/aesthetic gates: crawl alt-text is
    full of camera filenames (``IMG_1234``), placeholder words
    (``photo``), pasted URLs and punctuation soup, none of which make
    training captions.  Heuristics follow Schuhmann et al. 2021 §2.2
    (LAION-400M's caption filters) re-expressed as exact column
    predicates.

    Drop reasons, first-failing in this order (NULL when kept):
      - ``placeholder``   — the whole trimmed caption (lowercased) is a
        stock word: image/photo/picture/untitled/thumbnail/no caption,
      - ``filename_like`` — camera-file stem (``(img|dsc|dscn|pict|
        image|photo)[-_ ]?digits``) or an image-extension suffix,
      - ``too_short``     — < ``min_words`` words or < ``min_chars``
        chars (NULL captions land here),
      - ``has_url``       — http(s):// anywhere or a www. token,
      - ``low_alpha``     — ASCII-letter chars < ``min_alpha_bp`` basis
        points of the caption length (punctuation/digit soup; Latin-
        alphabet heuristic, swap the class for a production corpus).

    Adds ``caption_chars``/``caption_words`` (integers), one boolean per
    signal, ``drop_reason`` and ``keep``.  Pure codegen, zero shuffle;
    the regexes use only Java-regex/RE2-common constructs (inline (?i),
    classes, anchors — no backrefs, no lookaround).
    """
    cap = F.coalesce(F.col(caption_col), F.lit(""))
    trimmed = F.trim(cap)
    low = F.lower(trimmed)
    n_chars = F.length(trimmed).cast("long")
    words = F.filter(F.split(trimmed, r"\s+"), lambda w: w != "")
    n_words = F.size(words).cast("long")
    n_alpha = F.length(
        F.regexp_replace(trimmed, "[^a-zA-Z]", "")).cast("long")
    placeholder = low.isin("image", "photo", "picture", "untitled",
                           "thumbnail", "no caption")
    filename_like = (
        trimmed.rlike(r"(?i)^(img|dsc|dscn|pict|image|photo)[-_ ]?[0-9]+$")
        | trimmed.rlike(r"(?i)\.(jpe?g|png|gif|webp|bmp|tiff?)$"))
    too_short = (n_words < min_words) | (n_chars < min_chars)
    has_url = (F.instr(low, "http://") > 0) | (F.instr(low, "https://") > 0) \
        | trimmed.rlike(r"(?i)(^|\s)www\.")
    low_alpha = (n_chars > 0) & (
        10000 * n_alpha < F.lit(int(min_alpha_bp)) * n_chars)
    reason = (
        F.when(placeholder, F.lit("placeholder"))
        .when(filename_like, F.lit("filename_like"))
        .when(too_short, F.lit("too_short"))
        .when(has_url, F.lit("has_url"))
        .when(low_alpha, F.lit("low_alpha"))
    )
    return (pairs
            .withColumn("caption_chars", n_chars)
            .withColumn("caption_words", n_words)
            .withColumn("placeholder", placeholder)
            .withColumn("filename_like", filename_like)
            .withColumn("too_short", too_short)
            .withColumn("has_url", has_url)
            .withColumn("low_alpha", low_alpha)
            .withColumn("drop_reason", reason)
            .withColumn("keep", reason.isNull()))


# ---------------------------------------------------------------------------
# JPEG/JFIF marker-segment walk (the JPEG twin of the PNG container tier)
# ---------------------------------------------------------------------------

_SOF_MARKERS = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
_PROGRESSIVE_SOF = {0xC2, 0xC6, 0xCA, 0xCE}


def _exif_orientation(payload: bytes) -> tuple[str | None, int | None]:
    """Parse the TIFF header inside an APP1 Exif payload and return
    (endian tag, Orientation) — IFD0 entry 0x0112 only; every other tag
    (including offset-valued ASCII entries) is skipped, matching what a
    crawl manifest actually needs.  Total for any byte string."""
    t = payload[6:]
    if len(t) < 8:
        return None, None
    if t[:2] == b"II":
        endian = "little"
    elif t[:2] == b"MM":
        endian = "big"
    else:
        return None, None
    if int.from_bytes(t[2:4], endian) != 42:
        return t[:2].decode("latin-1"), None
    off = int.from_bytes(t[4:8], endian)
    orient = None
    if off + 2 <= len(t):
        cnt = int.from_bytes(t[off:off + 2], endian)
        for k in range(cnt):
            e = off + 2 + 12 * k
            if e + 12 > len(t):
                break
            if int.from_bytes(t[e:e + 2], endian) == 0x0112:
                typ = int.from_bytes(t[e + 2:e + 4], endian)
                if typ == 3:  # SHORT: value left-justified in the 4-byte slot
                    orient = int.from_bytes(t[e + 8:e + 10], endian)
                else:
                    orient = int.from_bytes(t[e + 8:e + 12], endian)
                break
    return t[:2].decode("latin-1"), orient


def jpeg_walk(data: bytes) -> dict:
    """Structural walk of one JPEG/JFIF payload: marker-segment
    inventory, SOF dims/components/progressive flag, APP0 JFIF version +
    pixel density, APP1 Exif Orientation (both byte orders), DQT/DHT
    counts, entropy-coded scan length (byte-stuffed 0xFF00 pairs and
    RSTn markers counted as scan bytes), EOI/truncation/trailing-garbage
    detection.  Pure stdlib slicing; total for any byte string.

    Conventions mirror ``png_walk``: non-JPEG rows (no SOI) return all
    NULLs; for JPEG rows dims are -1 until a SOF is seen; ``truncated``
    means the walk could not continue — it ran off the buffer
    mid-segment or lost marker sync (a non-0xFF byte where a marker must
    start).  A missing EOI after a complete scan is has_eoi=false,
    truncated=false."""
    out = {"is_jpeg": False, "w": None, "h": None, "n_components": None,
           "progressive": None, "jfif_vmaj": None, "jfif_vmin": None,
           "density_x": None, "density_y": None, "exif_endian": None,
           "exif_orientation": None, "n_app": None, "n_dqt": None,
           "n_dht": None, "n_segments": None, "scan_bytes": None,
           "has_eoi": None, "truncated": None, "trailing_bytes": None}
    if data is None or len(data) < 2 or bytes(data[:2]) != b"\xff\xd8":
        return out
    data = bytes(data)
    out.update({"is_jpeg": True, "w": -1, "h": -1, "n_components": -1,
                "progressive": False, "n_app": 0, "n_dqt": 0, "n_dht": 0,
                "n_segments": 0, "scan_bytes": 0, "has_eoi": False,
                "truncated": False, "trailing_bytes": 0})
    pos, n = 2, len(data)
    while pos < n:
        if data[pos] != 0xFF:
            out["truncated"] = True
            break
        while pos < n and data[pos] == 0xFF:  # fill bytes before a marker
            pos += 1
        if pos >= n:
            out["truncated"] = True
            break
        m = data[pos]
        pos += 1
        if m == 0xD9:  # EOI
            out["has_eoi"] = True
            out["trailing_bytes"] = n - pos
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # TEM / stray RSTn: bare marker
            out["n_segments"] += 1
            continue
        if pos + 2 > n:
            out["truncated"] = True
            break
        seglen = int.from_bytes(data[pos:pos + 2], "big")
        if seglen < 2 or pos + seglen > n:
            out["truncated"] = True
            break
        payload = data[pos + 2:pos + seglen]
        pos += seglen
        out["n_segments"] += 1
        if m == 0xE0:
            out["n_app"] += 1
            if payload[:5] == b"JFIF\x00" and len(payload) >= 12:
                out["jfif_vmaj"] = payload[5]
                out["jfif_vmin"] = payload[6]
                out["density_x"] = int.from_bytes(payload[8:10], "big")
                out["density_y"] = int.from_bytes(payload[10:12], "big")
        elif 0xE1 <= m <= 0xEF:
            out["n_app"] += 1
            if m == 0xE1 and payload[:6] == b"Exif\x00\x00":
                endian, orient = _exif_orientation(payload)
                out["exif_endian"] = endian
                out["exif_orientation"] = orient
        elif m == 0xDB:
            out["n_dqt"] += 1
        elif m == 0xC4:
            out["n_dht"] += 1
        elif m in _SOF_MARKERS:
            if len(payload) >= 6:
                out["h"] = int.from_bytes(payload[1:3], "big")
                out["w"] = int.from_bytes(payload[3:5], "big")
                out["n_components"] = payload[5]
                out["progressive"] = m in _PROGRESSIVE_SOF
        elif m == 0xDA:  # SOS: entropy-coded scan follows the header
            # jump over non-0xFF runs with find() — the scan is the bulk
            # of the payload, so per-byte stepping would dominate
            sb = 0
            while pos < n:
                idx = data.find(b"\xff", pos)
                if idx == -1:
                    sb += n - pos
                    pos = n
                    break
                sb += idx - pos
                pos = idx
                if pos + 1 >= n:  # dangling 0xFF at end of buffer
                    sb += 1
                    pos = n
                    break
                nxt = data[pos + 1]
                if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:  # stuffing / RSTn
                    sb += 2
                    pos += 2
                    continue
                break  # a real marker ends the scan
            out["scan_bytes"] += sb
    return out


def jpeg_segment_audit(images: DataFrame, bytes_col: str = "bytes",
                       id_col: str = "image_id") -> DataFrame:
    """JPEG container validation + metadata extraction — the JPEG twin
    of ``png_chunk_audit`` + ``png_text_metadata`` in one pass (JPEG has
    no per-segment CRC, so integrity and content share a walk): SOF
    dims, baseline-vs-progressive, JFIF version/density, Exif
    Orientation (the one tag a training pipeline must honor before
    decoding — rotated pixels change every downstream pHash), segment
    inventory, scan length, truncation and trailing garbage.

    Scale shape: ONE Arrow ``mapInPandas`` stage (marker walking is
    iterative — not expressible in Catalyst), zero shuffle, per-file
    parallelism.  Per-row error isolation is inherent: the walk is total
    for any byte string.

    Reference anchor: crawl4ai trusts Content-Type/extension for images
    and never opens the container (utils.py image handling); at 100 TB
    the corrupt-payload and orientation-bug rates make this audit the
    cheapest insurance in the pipeline.
    """
    fields = (f"{id_col} string, is_jpeg boolean, w long, h long, "
              "n_components long, progressive boolean, jfif_vmaj long, "
              "jfif_vmin long, density_x long, density_y long, "
              "exif_endian string, exif_orientation long, n_app long, "
              "n_dqt long, n_dht long, n_segments long, scan_bytes long, "
              "has_eoi boolean, truncated boolean, trailing_bytes long")
    cols = [id_col, "is_jpeg", "w", "h", "n_components", "progressive",
            "jfif_vmaj", "jfif_vmin", "density_x", "density_y",
            "exif_endian", "exif_orientation", "n_app", "n_dqt", "n_dht",
            "n_segments", "scan_bytes", "has_eoi", "truncated",
            "trailing_bytes"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for iid, data in zip(b[id_col], b[bytes_col]):
                rows.append({id_col: iid, **jpeg_walk(data)})
            yield pd.DataFrame(rows, columns=cols)

    return images.select(id_col, bytes_col).mapInPandas(run, fields)
