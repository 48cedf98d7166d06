"""Image scoring (G4) + the Arrow fetch/decode payload stage (M4).

Reference: content_scraping_strategy.py:268-414 ``process_image`` —
score = [w>150] + [h>150] + [alt≠''] + [index/total<0.5] +
[any source has an image-format substring] + [srcset present] +
[inside <picture>]; images with score ≤ image_score_threshold
(default 2, config.py:86) are rejected.

The score is pure Catalyst arithmetic (whole-stage codegen on 100 TB);
decode + pixel invariants run as one Arrow ``mapInPandas`` pass over the
payload table (north_rule: vectorized UDFs only, PSNR ≥ 40 dB for lossy,
captions byte-equal).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import codecs
from ..sources.synth import image_pixels

IMAGE_SCORE_THRESHOLD = 2  # config.py:86
IMAGE_FORMATS = ("jpg", "jpeg", "png", "webp", "avif", "gif")


def image_score(w: Column, h: Column, alt: Column, index: Column, total: Column,
                src: Column, data_src: Column, srcset: Column,
                data_srcset: Column, in_picture: Column) -> Column:
    """:320-351 score arithmetic, component for component."""
    s = F.when(w.isNotNull() & (w > 150), 1).otherwise(0)
    s = s + F.when(h.isNotNull() & (h > 150), 1).otherwise(0)
    s = s + F.when(F.coalesce(alt, F.lit("")) != "", 1).otherwise(0)
    s = s + F.when(index.cast("double") / total.cast("double") < 0.5, 1).otherwise(0)
    any_fmt = F.lit(False)
    for col in (src, data_src, srcset, data_srcset):
        lowered = F.lower(F.coalesce(col, F.lit("")))
        fmt_hit = F.lit(False)
        for fmt in IMAGE_FORMATS:
            fmt_hit = fmt_hit | lowered.contains(fmt)
        any_fmt = any_fmt | fmt_hit
    s = s + F.when(any_fmt, 1).otherwise(0)
    s = s + F.when(
        (F.coalesce(srcset, F.lit("")) != "") | (F.coalesce(data_srcset, F.lit("")) != ""),
        1,
    ).otherwise(0)
    s = s + F.when(F.coalesce(in_picture, F.lit(False)), 1).otherwise(0)
    return s


def image_keep(score: Column, threshold: int = IMAGE_SCORE_THRESHOLD) -> Column:
    """:362: reject when score <= threshold."""
    return score > threshold


DECODE_SCHEMA = (
    "image_id string, fmt string, w int, h int, caption string, phash long, "
    "decoded_w int, decoded_h int, psnr double, pixel_exact boolean, "
    "phash_match boolean, mean_r double, mean_g double, mean_b double"
)


def decode_stage(images: DataFrame, seed: int = 42, check_truth: bool = True) -> DataFrame:
    """Arrow decode pass over the payload table: decode bytes per fmt,
    verify against the regenerated ground-truth pixels (PSNR for the lossy
    codec), recompute phash, emit channel stats (the 'feature extract'
    slot). One Python call per Arrow batch — no per-row crossings."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for r in b.itertuples():
                px = codecs.decode(r.bytes, r.fmt, int(r.w), int(r.h))
                rec = {
                    "image_id": r.image_id, "fmt": r.fmt, "w": int(r.w), "h": int(r.h),
                    "caption": r.caption, "phash": int(r.phash),
                    "decoded_w": px.shape[1], "decoded_h": px.shape[0],
                    "mean_r": float(px[:, :, 0].mean()),
                    "mean_g": float(px[:, :, 1].mean()),
                    "mean_b": float(px[:, :, 2].mean()),
                }
                if check_truth:
                    truth = image_pixels(r.image_id, int(r.w), int(r.h), seed)
                    p = codecs.psnr(truth, px)
                    rec["psnr"] = float(min(p, 1e9))
                    rec["pixel_exact"] = bool((truth == px).all())
                    rec["phash_match"] = codecs.phash64(truth) == int(r.phash)
                else:
                    rec["psnr"] = float("nan")
                    rec["pixel_exact"] = False
                    rec["phash_match"] = False
                out.append(rec)
            yield pd.DataFrame(out)

    return images.mapInPandas(run, DECODE_SCHEMA)


def fetch_payload(results: DataFrame, images: DataFrame) -> DataFrame:
    """Join crawl results to their image payloads (the image+caption table
    is the fetched content): results.image_id → images row. At scale both
    sides are bucketed by image_id so this is a co-located join."""
    return results.filter(F.col("success") & F.col("image_id").isNotNull()).join(
        images, "image_id", "left"
    )


def parse_srcset_col(srcset: "Column") -> "Column":
    """G5 (content_scraping_strategy.py:39-58 parse_srcset): srcset text →
    array<struct<url:string,width:string>>; width only when the descriptor
    ends in 'w', else null — pure Catalyst (split/transform), no Python.

    Reference semantics replicated exactly: split on ',', strip each part,
    drop empties, url = first whitespace token, width = second token minus
    the trailing 'w' when it has one.
    """
    parts = F.filter(
        F.transform(F.split(srcset, ","), lambda p: F.trim(p)),
        lambda p: p != "",
    )
    def variant(p):
        toks = F.filter(F.split(p, r"\s+"), lambda t: t != "")
        second = F.get(toks, 1)  # null-safe (ANSI element_at would throw)
        width = F.when(
            second.isNotNull() & second.endswith("w"),
            F.regexp_replace(second, r"w+$", ""),
        ).otherwise(F.lit(None).cast("string"))
        return F.struct(F.get(toks, 0).alias("url"), width.alias("width"))
    return F.when(srcset.isNull() | (srcset == ""), F.array().cast(
        "array<struct<url:string,width:string>>"
    )).otherwise(F.transform(parts, variant))
