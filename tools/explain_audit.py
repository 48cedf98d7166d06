"""Physical-plan audit: print .explain("formatted") for the headline
operators and grep the properties that matter at 100 TB:

  - PushedFilters / ReadSchema on parquet scans (pushdown + pruning),
  - BroadcastHashJoin where a dimension is small (no shuffle),
  - WholeStageCodegen spans around score/filter arithmetic,
  - absence of single-partition Window/Sort in scale paths.

Usage: python tools/explain_audit.py [sf_dir]
Writes PLANS.md at the repo root with the audited plans + verdicts.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F


def plan_of(df, execute: bool = False) -> str:
    if execute:
        # AQE plans only show final stages (with codegen ids) post-run
        df.count()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from crawl4ai_spark.functions.canonical import canonical_col, url_hash_col
    from crawl4ai_spark.functions.scorers import freshness_score
    from crawl4ai_spark.functions.urlparts import host_of
    from crawl4ai_spark.operators.dedup import exact_dedup
    from crawl4ai_spark.operators.politeness import with_salted_host_slots
    from crawl4ai_spark.operators.similarity import cosine_col
    from crawl4ai_spark.session import get_spark

    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. column pruning + predicate pushdown on a parquet scan
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    sections.append((
        "Scan pruning + pushdown (lineitem filter/project)", plan_of(q),
        ["PushedFilters", "ReadSchema"],
    ))

    # 2. broadcast join of a small dimension
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).groupBy(
        "c_mktsegment"
    ).count()
    sections.append((
        "Broadcast dimension join (orders ⋈ customer)", plan_of(j),
        ["BroadcastHashJoin", "PushedFilters", "ReadSchema"],
    ))

    # 3. frontier schedule slice: canonicalize → hash → anti-join → window
    links = spark.createDataFrame(
        [("https://ex0.test/a", "https://ex0.test/b#f", 0)] * 4,
        "src_url string, href string, pos int",
    )
    seen = spark.range(10).select(F.col("id").alias("url_hash"))
    cand = links.select(canonical_col(F.col("href"), F.col("src_url")).alias("url"))
    cand = cand.withColumn("url_hash", url_hash_col(F.col("url"))).withColumn(
        "host", F.lower(host_of(F.col("url")))
    )
    fresh = cand.join(seen, "url_hash", "left_anti").withColumn(
        "score", freshness_score(F.col("url"), current_year=2024)
    )
    sched = with_salted_host_slots(
        fresh, None, order_cols=[F.col("score").desc()], hot_hosts=["ex0.test"],
        salt_buckets=4,
    )
    sections.append((
        "Frontier schedule (canonicalize→hash→anti-join→salted window)",
        plan_of(sched), ["ArrowEvalPython", "BroadcastHashJoin", "Window"],
    ))

    # 4. exact dedup (hash shuffle + window)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sections.append((
        "Exact dedup (fingerprint window)",
        plan_of(exact_dedup(docs)),
        ["Window", "ReadSchema"],
    ))

    # 5. ANN cosine — pure codegen expression over the scan
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in np.linspace(-1, 1, 64)]
    ann = emb.select("vec_id", cosine_col(F.col("embedding"), qv).alias("cos"))
    sections.append((
        "ANN cosine expression (codegen over scan)", plan_of(ann),
        ["codegen id", "ReadSchema"],
    ))

    # 6. Bloom sidecar prefilter: same-bucket cogroup, then exact anti-join
    # only for the maybe-seen slice (T6 hot path)
    from crawl4ai_spark.operators.seen import BloomSidecar

    urls = spark.range(2000).select(
        F.concat(F.lit("https://ex.test/p"), F.col("id")).alias("url")
    )
    bloom = BloomSidecar(spark, capacity=4096, n_buckets=8)
    bloom.add(urls.limit(1000))
    flagged = bloom.prefilter(urls, "url")
    suspect = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = suspect.join(
        urls.limit(1000).withColumnRenamed("url", "url"), "url", "left_anti"
    )
    gated = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen").unionByName(checked)
    sections.append((
        "Bloom URL-seen prefilter (cogroup probe → suspect-only anti-join)",
        plan_of(gated), ["FlatMapCoGroupsInPandas", "BroadcastHashJoin"],
    ))

    # 7. exact two-phase budget split for a hot host: per-(host,salt) local
    # window bounds every task; the second window sees ≤ S·B survivors
    from crawl4ai_spark.operators.politeness import split_host_budget

    fr = spark.range(5000).select(
        F.concat(F.lit("https://hot.test/p"), F.col("id")).alias("url"),
        F.lit("hot.test").alias("host"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.col("id").alias("seq"),
    )
    within, _deferred = split_host_budget(
        fr, 40, ["depth", "seq"], hot_hosts=["hot.test"], salt_buckets=8
    )
    sections.append((
        "Hot-host budget split (two-phase salted windows, exact)",
        plan_of(within), ["Window", "hashpartitioning"],
    ))

    # 8. phash near-dup pigeonhole join: equality join on (chunk_idx,
    # chunk_val) — a real hash shuffle join, NEVER a cartesian/nested-loop;
    # the Hamming gate is codegen bit_count over the joined hashes
    from crawl4ai_spark.operators.dedup import phash_pairs

    imgs = spark.range(4000).select(
        F.col("id").cast("string").alias("image_id"),
        F.xxhash64(F.col("id").cast("string")).alias("phash"),
    )
    pp = phash_pairs(imgs, max_hamming=4)
    pp_plan = plan_of(pp)
    # canonical-chunk dedup means NO exchange beyond the equality join
    # itself; at audit scale that join is a broadcast (zero shuffle) —
    # at scale AQE shuffles on (chunk_idx, chunk_val).  Assert the join is
    # an equality HashJoin with the codegen bit_count gate, never an
    # all-pairs nested loop.
    sections.append((
        "phash near-dup (pigeonhole equality join + bit_count gate)",
        pp_plan, ["HashJoin", "bit_count"],
    ))
    assert "CartesianProduct" not in pp_plan and \
        "BroadcastNestedLoopJoin" not in pp_plan, \
        "phash blocking degenerated to an all-pairs join"

    # 9. connected-components single round: edge⋈label join + min-agg —
    # two hash exchanges over the EDGE set, nothing quadratic
    edges = pp.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("comp"))
    nbr_min = (
        edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("comp").alias("nbr_comp"))
    )
    sections.append((
        "Connected-components round (edge join → min aggregate)",
        plan_of(nbr_min), ["hashpartitioning", "HashAggregate"],
    ))

    # 10. PDF extract stage: column-pruned scan feeding one Arrow stage
    from crawl4ai_spark.operators.pdf import pdf_extract_stage
    from crawl4ai_spark.sources.pdfsynth import pdf_bytes_of

    pdf_df = spark.createDataFrame(
        [("1", bytearray(pdf_bytes_of(1, "alpha beta")))],
        "doc_id string, pdf binary")
    sections.append((
        "PDF extract (single Arrow stage, no per-row Python)",
        plan_of(pdf_extract_stage(pdf_df)), ["MapInPandas"],
    ))

    # 11. stratified sampling: pure codegen filter, pruned scan, NO shuffle
    from crawl4ai_spark.operators.sampling import shard_pack, stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    samp = stratified_sample(
        docs.select("doc_id", "lang"), "doc_id", "lang",
        {"en": 0.9, "es": 0.5}, default_rate=0.1, seed=7,
    )
    samp_plan = plan_of(samp)
    sections.append((
        "Stratified sample (md5-threshold filter — zero shuffle)",
        samp_plan, ["ReadSchema", "[codegen id"],
    ))

    # 12. shard packing: hex-bucketed cumsum — deterministic md5-prefix
    # buckets (no range-boundary sampling job), one grouped Arrow fold
    sections.append((
        "Shard pack (hex-bucketed cumsum: one shuffle, grouped Arrow fold)",
        plan_of(shard_pack(docs, "doc_id", "n_chars", 32_000, seed=7),
                execute=True),
        ["FlatMapGroupsInPandas", "hashpartitioning"],
    ))

    # 13. dup-ngram signal: explode → partial-agg gram df → join-back
    from crawl4ai_spark.operators.dedup import dup_ngram_stats

    sections.append((
        "Dup-ngram stats (Generate → partial HashAggregate, no pair join)",
        plan_of(dup_ngram_stats(docs, n=8)), ["Generate", "HashAggregate"],
    ))

    # 14. sessionization: ONE hash shuffle on the user key, per-user window
    from crawl4ai_spark.operators.sessions import session_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sections.append((
        "Sessionize (single hashpartitioning(user_id), per-user window)",
        plan_of(session_stats(ev)), ["hashpartitioning", "Window"],
    ))

    # 15. recrawl schedule: ONE exchange — lag window and the per-url
    # rollup (partial+final HashAggregate) share the url hashpartitioning
    from crawl4ai_spark.operators.recrawl import recrawl_schedule

    ev2 = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").alias("fetch_ts"),
        F.col("event_type").alias("content_hash"),
    )
    recrawl_plan = plan_of(recrawl_schedule(ev2, now="2024-03-01 00:00:00"))
    n_ex = recrawl_plan.count("+- Exchange") + recrawl_plan.count(": Exchange")
    sections.append((
        f"Recrawl schedule (window+rollup share ONE exchange — counted {n_ex})",
        recrawl_plan, ["Window", "HashAggregate"],
    ))

    # 16. WARC ingest: one Arrow stage over the archive files
    from crawl4ai_spark.sources.warc import warc_records_stage
    from crawl4ai_spark.sources.warcsynth import warc_corpus

    d2 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").limit(40)
    sections.append((
        "WARC ingest (build shuffle → single parse Arrow stage)",
        plan_of(warc_records_stage(warc_corpus(d2))),
        ["MapInPandas", "FlatMapGroupsInPandas"],
    ))

    from crawl4ai_spark.operators.quality import (
        decontaminate, gopher_quality, line_dedup,
    )
    from crawl4ai_spark.operators.linkgraph import pagerank_step

    dq = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gq_plan = plan_of(gopher_quality(dq).select("doc_id", "keep", "drop_reason"))
    sections.append((
        "Gopher quality rules (pure codegen over scan — zero Exchange)",
        gq_plan, ["[codegen id", "ReadSchema"],
    ))
    if "Exchange" in gq_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        gq_plan, sections[-1][2])

    bench_df = dq.where(F.col("doc_id") % 20 == 0)
    sections.append((
        "Decontaminate (broadcast benchmark gram dim, map-side semi-join)",
        plan_of(decontaminate(dq, bench_df, n=8)),
        ["BroadcastHashJoin", "LeftSemi", "Generate"],
    ))

    ld_plan = plan_of(line_dedup(dq))
    n_ex_ld = ld_plan.count("+- Exchange") + ld_plan.count(": Exchange")
    sections.append((
        f"Line dedup (line-freq window + ordered reassembly — counted {n_ex_ld} Exchanges)",
        ld_plan, ["Window", "hashpartitioning"],
    ))

    pr_nodes = dq.select(F.col("doc_id").alias("node"))
    pr_edges = dq.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 31 + 17) % 500).alias("dst"))
    pr_adj = (pr_edges.join(pr_edges.groupBy("src").agg(
        F.count("*").alias("outdeg")), "src").repartition("src"))
    pr_ranks = pr_nodes.withColumn("rank_micro", F.lit(1_000_000).cast("long"))
    sections.append((
        "PageRank iteration (co-partitioned src join → one groupBy(dst) shuffle)",
        plan_of(pagerank_step(pr_adj, pr_ranks, pr_nodes)),
        ["hashpartitioning(dst", "HashAggregate"],
    ))

    from crawl4ai_spark.operators.quality import dsir_weights
    from crawl4ai_spark.operators.linkgraph import anchor_texts
    from crawl4ai_spark.operators.multimodal import aspect_buckets, crop_plan

    tgt = dq.where(F.col("doc_id") % 20 == 0)
    sections.append((
        "DSIR weights (broadcast LLR dim, partial-agg histograms)",
        plan_of(dsir_weights(dq, tgt)),
        ["BroadcastHashJoin", "Generate", "HashAggregate"],
    ))

    al = dq.select(
        F.concat(F.lit("t"), (F.col("doc_id") % 37).cast("string")).alias("href"),
        F.substring("text", 1, 12).alias("text"))
    at_plan = plan_of(anchor_texts(al))
    n_ex_at = at_plan.count("+- Exchange") + at_plan.count(": Exchange")
    sections.append((
        f"Anchor texts (repartition(target) serves count + window — counted {n_ex_at} Exchange)",
        at_plan, ["Window", "hashpartitioning(target"],
    ))

    imgs = dq.select(
        F.col("doc_id").cast("string").alias("image_id"),
        (F.col("doc_id") % 37 * 53 + 24).cast("int").alias("w"),
        (F.col("doc_id") % 29 * 67 + 24).cast("int").alias("h"))
    cp_plan = plan_of(crop_plan(aspect_buckets(imgs)))
    sections.append((
        "Crop plan (integer geometry — pure codegen, zero Exchange)",
        cp_plan, ["[codegen id", "ReadSchema"],
    ))
    if "Exchange" in cp_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        cp_plan, sections[-1][2])

    # 24. CCNet perplexity: LM dims broadcast (corpus side never shuffles
    # for scoring), ONE per-doc partial aggregate; the tercile window runs
    # on the SAMPLE only (bounded)
    from crawl4ai_spark.operators.quality import ccnet_perplexity

    cc_plan = plan_of(ccnet_perplexity(dq, tgt))
    sections.append((
        "CCNet perplexity (broadcast bigram-LM dims, per-doc partial agg)",
        cc_plan, ["BroadcastHashJoin", "HashAggregate", "Generate"],
    ))

    # 25. duplicated-span removal: gram occurrence count is ONE partial
    # aggregate; the dup join must stay an equality hash join
    from crawl4ai_spark.operators.dedup import remove_dup_spans

    ds_plan = plan_of(remove_dup_spans(dq))
    sections.append((
        "Dup-span removal (partial-agg occurrence count → equality join)",
        ds_plan, ["HashAggregate", "Generate", "hashpartitioning"],
    ))
    assert "CartesianProduct" not in ds_plan, \
        "dup-span gram join degenerated to all-pairs"

    # 26. BPE: the only corpus-sized pass (word count) is a partial-agg
    # groupBy; one merge round's pair count runs on the vocab-sized table
    from crawl4ai_spark.operators.bpe import _word_counts

    wc = _word_counts(dq, "text")
    sections.append((
        "BPE word count (corpus pays ONE partial-agg groupBy)",
        plan_of(wc), ["HashAggregate", "Generate", "hashpartitioning"],
    ))

    # 27. fast_format_html + normalize_text: pure codegen, zero Exchange
    from crawl4ai_spark.functions.textutils import (
        fast_format_html_col, normalize_text_col)

    tu = dq.select(
        normalize_text_col(F.col("text")).alias("n"),
        fast_format_html_col(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))).alias("f"),
    )
    tu_plan = plan_of(tu)
    sections.append((
        "Text utils (normalize + fast_format_html — codegen, zero Exchange)",
        tu_plan, ["ReadSchema"],
    ))
    if "Exchange" in tu_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        tu_plan, sections[-1][2])

    # 28. cuckoo sidecar probe: same-shard cogroup, state never driver-side
    from crawl4ai_spark.operators.seen import CuckooSidecar

    ck = CuckooSidecar(spark, capacity=4096, n_shards=8)
    ck.add(urls.limit(1000))
    ck_plan = plan_of(ck.prefilter(urls, "url", num_partitions=8))
    sections.append((
        "Cuckoo URL-seen probe (same-shard cogroup, deletable fingerprints)",
        ck_plan, ["FlatMapCoGroupsInPandas"],
    ))

    # 29. SemDeDup: one centroid-key shuffle + per-cluster Arrow pairwise
    from crawl4ai_spark.operators.similarity import semdedup

    emb2 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sd_plan = plan_of(semdedup(emb2, n_centroids=8))
    sections.append((
        "SemDeDup (centroid shuffle → per-cluster Arrow fold; pairwise pass "
        "blocked to ≤block_elems floats per task, so cluster skew cannot OOM)",
        sd_plan, ["FlatMapGroupsInPandas", "hashpartitioning(centroid"],
    ))

    # 30. PII redaction: chained regex column stages — codegen, zero Exchange
    from crawl4ai_spark.operators.quality import pii_redact

    pii_plan = plan_of(pii_redact(docs))
    sections.append((
        "PII redaction (3 chained regexp_count/replace stages — codegen, "
        "zero Exchange)", pii_plan, ["ReadSchema"],
    ))
    if "Exchange" in pii_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        pii_plan, sections[-1][2])

    # 30b. C4 cleaning rules: per-row array lambdas — codegen, zero Exchange
    from crawl4ai_spark.operators.quality import c4_filters

    c4_plan = plan_of(c4_filters(docs))
    sections.append((
        "C4 cleaning rules (line screens + page gates — per-row array "
        "exprs, zero Exchange)", c4_plan, ["ReadSchema"],
    ))
    if "Exchange" in c4_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        c4_plan, sections[-1][2])

    # 30c. FineWeb filters: integer cross-mult gates — codegen, zero Exchange
    from crawl4ai_spark.operators.quality import fineweb_filters

    fw_plan = plan_of(fineweb_filters(docs))
    sections.append((
        "FineWeb quality filters (line-punct / short-lines / dup-line-chars "
        "— integer rational thresholds, zero Exchange)",
        fw_plan, ["ReadSchema"],
    ))
    if "Exchange" in fw_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: plan shuffles",
                        fw_plan, sections[-1][2])

    # 31. blocklist gate: both lookups must be broadcast-hash, never SMJ
    from crawl4ai_spark.operators.blocklist import blocklist_gate

    bl = spark.createDataFrame(
        [("site0.com", "domain", "ads"), ("h1.site2.com", "host", "x")],
        "pattern string, kind string, category string")
    bl_urls = docs.select(
        F.col("doc_id"),
        F.concat(F.lit("https://h"), F.col("doc_id") % 7, F.lit(".site"),
                 F.col("doc_id") % 3, F.lit(".com/p")).alias("url"))
    bl_plan = plan_of(blocklist_gate(bl_urls, bl))
    sections.append((
        "Blocklist gate (host + registrable-domain lookups, both broadcast)",
        bl_plan, ["BroadcastHashJoin"],
    ))
    if "SortMergeJoin" in bl_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: shuffled join",
                        bl_plan, sections[-1][2])

    # 32. mixture quota: bucketed-cumsum Arrow pass + broadcast offsets dim
    from crawl4ai_spark.operators.sampling import mixture_sample

    mx = mixture_sample(
        docs.select("doc_id", "lang", F.col("n_chars")),
        "doc_id", "lang", {"en": 5, "fr": 2}, 10_000, "n_chars", seed=7)
    sections.append((
        "Mixture quota sampling (global bucketed cumsum → broadcast "
        "per-domain offsets; no per-domain single-reducer window)",
        plan_of(mx), ["MapInPandas", "BroadcastHashJoin"],
    ))

    # 33. format sniffing: hexed 64-byte prefix, pure codegen, zero Exchange
    from crawl4ai_spark.operators.multimodal import sniff_format

    from crawl4ai_spark.sources import synth as _synth
    _, _, aud_images = _synth.synth_tables(
        spark, _synth.GraphParams(n_pages=40))
    sn_plan = plan_of(sniff_format(aud_images).select(
        "image_id", "sniffed_fmt", "fmt_match", "header_ok"))
    sections.append((
        "Container sniffing (magic bytes + header checks, pure codegen)",
        sn_plan, ["codegen id"],
    ))
    if "Exchange" in sn_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        sn_plan, sections[-1][2])

    # 34. WebDataset plan: ONE bucketed-cumsum fold + broadcast shard bases
    from crawl4ai_spark.operators.export import webdataset_plan

    wds_plan = plan_of(webdataset_plan(
        aud_images.select(
            "image_id",
            F.length("bytes").cast("long").alias("img_size"),
            F.length("caption").cast("long").alias("txt_size")),
        shard_bytes=1 << 16))
    sections.append((
        "WebDataset shard plan (bucketed cumsum → broadcast shard bases)",
        wds_plan, ["BroadcastHashJoin"],
    ))
    if "SortMergeJoin" in wds_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: shuffled base join",
                        wds_plan, sections[-1][2])

    # 35. CLIP alignment gate: integer cross-multiplication, zero Exchange
    from crawl4ai_spark.operators.similarity import clip_alignment_gate

    cg_pairs = spark.range(100).select(
        F.col("id"),
        F.array(*[(F.col("id") % 9 - 4).cast("int") for _ in range(8)])
        .alias("img_vec"),
        F.array(*[(F.col("id") % 7 - 3).cast("int") for _ in range(8)])
        .alias("txt_vec"))
    cg_plan = plan_of(clip_alignment_gate(cg_pairs))
    sections.append((
        "CLIP alignment gate (exact integer cross-multiplication; the "
        "higher-order dot/norm folds run as interpreted JVM projections — "
        "no Python, no shuffle)",
        cg_plan, ["aggregate(zip_with"],
    ))
    if "Exchange" in cg_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        cg_plan, sections[-1][2])

    # 36. DCT pHash: ONE Arrow pass over the payload, zero Exchange
    from crawl4ai_spark.operators.multimodal import dct_phash_stage

    dp_plan = plan_of(dct_phash_stage(aud_images))
    sections.append((
        "DCT pHash from pixels (one Arrow decode+hash pass)",
        dp_plan, ["MapInPandas"],
    ))
    if "Exchange" in dp_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        dp_plan, sections[-1][2])

    # 37. aesthetic gate: plan-time weight literal, zero Exchange, no join
    from crawl4ai_spark.operators.similarity import aesthetic_gate

    ag_plan = plan_of(aesthetic_gate(
        cg_pairs.select("id", "img_vec"),
        weights=(5, -3, 2, 7, -1, 4, -6, 2)))
    sections.append((
        "Aesthetic-score gate (weight vector folded as a plan literal — "
        "no broadcast join, no shuffle, pure integer projections)",
        ag_plan, ["aggregate(zip_with"],
    ))
    for bad in ("Exchange", "Join"):
        if bad in ag_plan:
            sections[-1] = (sections[-1][0] + f" — FAIL: unexpected {bad}",
                            ag_plan, sections[-1][2])

    # 38. WebDataset reader: binaryFile scan (one row per shard) → ONE
    # Arrow parse stage, zero Exchange
    import tempfile

    from crawl4ai_spark.operators.export import tar_member
    from crawl4ai_spark.sources.webdataset import read_webdataset

    rd_dir = tempfile.mkdtemp(prefix="plans_wds_")
    with open(os.path.join(rd_dir, "shard-000000.tar"), "wb") as fh:
        fh.write(tar_member("k0.img", b"x" * 700)
                 + tar_member("k0.txt", b"cap") + b"\x00" * 10240)
    rd_plan = plan_of(read_webdataset(spark, rd_dir))
    sections.append((
        "WebDataset tar reader (per-shard binaryFile rows → one Arrow "
        "USTAR parse stage)",
        rd_plan, ["MapInPandas", "binaryFile"],
    ))
    if "Exchange" in rd_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        rd_plan, sections[-1][2])

    # 39. image dataset card: ONE rollup; the exact COUNT(DISTINCT phash)
    # is the single expected Exchange pair (two-phase distinct)
    from crawl4ai_spark.operators.multimodal import image_corpus_stats

    ic_plan = plan_of(image_corpus_stats(aud_images))
    sections.append((
        "Image corpus stats (rollup card; exact distinct-pHash is the one "
        "intended shuffle)",
        ic_plan, ["Expand", "HashAggregate"],
    ))

    # 40. PNG chunk audit: ONE Arrow stage over (id, bytes), zero shuffle
    from crawl4ai_spark.operators.multimodal import png_chunk_audit

    pa_plan = plan_of(png_chunk_audit(aud_images))
    sections.append((
        "PNG chunk audit (one MapInPandas walk, zero shuffle)",
        pa_plan, ["MapInPandas"],
    ))
    if "Exchange" in pa_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        pa_plan, sections[-1][2])

    # 41. incremental dedup: batch-only fp window + ONE store probe join
    # (no full-corpus reshuffle — the store side is read, never rewritten)
    from crawl4ai_spark.operators.dedup import (
        fingerprint_store, incremental_dedup)

    aud_docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 37).cast("string")).alias("text"))
    idp = plan_of(incremental_dedup(
        aud_docs.filter("doc_id % 3 != 0"),
        fingerprint_store(aud_docs.filter("doc_id % 3 = 0"))))
    sections.append((
        "Incremental dedup (batch fp window + one store hash join; "
        "store never reshuffled)",
        idp, ["Window", "HashAggregate"],
    ))

    # 42. politeness audit + drain forecast: cell-sized partial aggs,
    # broadcast budget dim, broadcast one-row makespan
    from crawl4ai_spark.operators.politeness import (
        drain_forecast, politeness_audit)

    aud_log = spark.range(0, 5000).select(
        F.concat(F.lit("h"), (F.col("id") % 41).cast("string")).alias("host"),
        (F.col("id") % 9).alias("superstep"))
    aud_bud = spark.range(0, 41).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        (F.lit(1) + F.col("id") % 4).alias("budget"))
    pa2 = plan_of(politeness_audit(aud_log, aud_bud))
    sections.append((
        "Politeness audit (partial-agg cells + broadcast budget dim)",
        pa2, ["HashAggregate", "BroadcastHashJoin"],
    ))
    df_plan = plan_of(drain_forecast(aud_log, aud_bud))
    sections.append((
        "Drain forecast (host agg + broadcast budget dim + broadcast "
        "one-row makespan)",
        df_plan, ["HashAggregate", "BroadcastHashJoin",
                  "BroadcastNestedLoopJoin"],
    ))

    # 43. ANN retrieval eval: joins/aggs over result tables only (the
    # corpus never enters the plan)
    from crawl4ai_spark.operators.similarity import ann_eval

    aud_res = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("query_id"),
        (F.col("id") * 7 % 500).alias("vec_id"),
        (F.col("id") % 100 + 1).alias("rank"))
    ae_plan = plan_of(ann_eval(aud_res, aud_res, k=10))
    sections.append((
        "ANN retrieval eval (result-table joins only)",
        ae_plan, ["HashAggregate"],
    ))

    # 44. trap report: zero-shuffle per-URL signals + ONE host groupBy
    from crawl4ai_spark.operators.traps import trap_report

    aud_fr = spark.range(0, 5000).select(
        F.concat(F.lit("h"), (F.col("id") % 31).cast("string")).alias("host"),
        F.concat(F.lit("https://h"), (F.col("id") % 31).cast("string"),
                 F.lit(".test/a/b/p"), F.col("id").cast("string"))
        .alias("url"))
    import re as _re

    def _n_exchanges(plan: str) -> int:
        # detail section lists each node once as "(n) Exchange"
        return len(_re.findall(r"^\(\d+\) Exchange", plan, _re.M))

    tr_plan = plan_of(trap_report(aud_fr))
    sections.append((
        "Trap report (codegen URL signals + one host partial-agg)",
        tr_plan, ["HashAggregate"],
    ))
    if _n_exchanges(tr_plan) > 1:  # the one agg shuffle
        sections[-1] = (sections[-1][0] + " — FAIL: extra shuffle",
                        tr_plan, sections[-1][2])

    # 45. hot-key report: ONE corpus groupBy; the rank window sorts only
    # the key-sized counts frame; totals are a broadcast one-row join
    from crawl4ai_spark.operators.skew import hot_key_report

    hk_plan = plan_of(hot_key_report(aud_fr, "host", k=10))
    sections.append((
        "Hot-key report (one corpus agg, key-sized rank window, "
        "broadcast totals)",
        hk_plan, ["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
    ))

    # 46. compaction plan: ONE shuffle on the table-partition key
    from crawl4ai_spark.operators.maintenance import compaction_plan

    aud_man = spark.range(0, 3000).select(
        F.concat(F.lit("p"), (F.col("id") % 7).cast("string")).alias("part"),
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        (F.col("id") % 300 + 1).alias("bytes"))
    cp_plan = plan_of(compaction_plan(aud_man, 256, 128))
    sections.append((
        "Compaction plan (one partition-key window; no global order)",
        cp_plan, ["Window"],
    ))
    if _n_exchanges(cp_plan) > 1:
        sections[-1] = (sections[-1][0] + " — FAIL: extra shuffle",
                        cp_plan, sections[-1][2])

    # 47. revalidation plan: pure codegen over the cache table, zero shuffle
    from crawl4ai_spark.operators.recrawl import revalidation_plan

    aud_cache = spark.range(0, 2000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.expr("timestampadd(HOUR, CAST(id % 96 AS INT), "
               "TIMESTAMP_NTZ '2024-01-01 00:00:00')").alias("fetched_at"),
        ((F.col("id") % 5 + 1) * 43200).alias("ttl_s"),
        F.when(F.col("id") % 3 == 0, F.lit('W/"x"')).alias("etag"),
        F.lit("").alias("last_modified"),
        (F.col("id") % 9000).alias("page_bytes"))
    rv_plan = plan_of(revalidation_plan(aud_cache, now="2024-01-03 00:00:00"))
    sections.append((
        "Revalidation plan (codegen cache classification, zero shuffle)",
        rv_plan, ["Project"],
    ))
    if _n_exchanges(rv_plan) > 0:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        rv_plan, sections[-1][2])

    # 48. caption quality gate: pure codegen over the pair table
    from crawl4ai_spark.operators.multimodal import caption_quality_gate

    cg_plan = plan_of(caption_quality_gate(aud_images))
    sections.append((
        "Caption quality gate (codegen predicates, zero shuffle)",
        cg_plan, ["Project"],
    ))
    if _n_exchanges(cg_plan) > 0:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        cg_plan, sections[-1][2])

    # 49. redirect resolution: pointer-doubling — log2(max_hops) hash
    # joins, never a per-hop loop over the full edge set
    from crawl4ai_spark.operators.redirects import resolve_redirects

    aud_edges = spark.range(0, 5000).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("src_url"),
        F.concat(F.lit("r"), (F.col("id") + 1).cast("string"))
        .alias("dst_url"))
    rr_plan = plan_of(resolve_redirects(aud_edges, max_hops=32))
    sections.append((
        "Redirect resolution (pointer doubling: bounded joins for a "
        "32-hop walk; no cartesian)",
        rr_plan, ["Join"],
    ))
    if "CartesianProduct" in rr_plan or "BroadcastNestedLoop" in rr_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: non-equi join",
                        rr_plan, sections[-1][2])

    # 50. SURT key derivation: pure codegen string algebra, zero shuffle
    from crawl4ai_spark.functions.surt import surt_key

    aud_urls = spark.range(0, 2000).select(
        F.concat(F.lit("https://www.h"), (F.col("id") % 9).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string"),
                 F.lit("?b=2&a=1")).alias("url"))
    sk_plan = plan_of(aud_urls.select(surt_key(F.col("url")).alias("surt")))
    sections.append((
        "SURT key (codegen string/array algebra, zero shuffle)",
        sk_plan, ["Project"],
    ))
    if _n_exchanges(sk_plan) > 0:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        sk_plan, sections[-1][2])

    # 51. CDX index: ONE range-partition exchange (the sorted shards ARE
    # the binary-searchable index parts) over an in-memory records frame
    from crawl4ai_spark.operators.cdx import cdx_index, revisit_stats

    aud_recs = spark.range(0, 4000).select(
        (F.col("id") % 40).alias("file_id"),
        (F.col("id") / 40).cast("int").alias("record_idx"),
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("https://h"), (F.col("id") % 9).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("target_uri"),
        F.lit("2024-01-01T00:00:00Z").alias("warc_date"),
        F.lit(200).alias("http_status"),
        F.lit("text/html").alias("content_type"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("body"),
        (F.col("id") * 100).alias("rec_offset"),
        F.lit(90).alias("rec_length"),
        F.lit(None).cast("string").alias("error"))
    cdxp = plan_of(cdx_index(aud_recs))
    sections.append((
        "CDX index (one rangepartitioning exchange = sorted index shards)",
        cdxp, ["rangepartitioning", "Sort"],
    ))
    if _n_exchanges(cdxp) != 1:
        sections[-1] = (sections[-1][0] +
                        f" — FAIL: {_n_exchanges(cdxp)} exchanges",
                        cdxp, sections[-1][2])

    # 51b. revisit stats: two partial-agg exchanges (surt,digest → surt),
    # map-side combine shrinks to version-sized frames before either
    # min_by is a typed aggregate → Spark picks SortAggregate; the partial
    # aggregate below each exchange (map-side combine) is what matters
    rvs = plan_of(revisit_stats(cdx_index(aud_recs, sort=False)))
    sections.append((
        "Archive revisit stats (two-level partial agg; no window over "
        "the corpus)",
        rvs, ["SortAggregate"],
    ))
    if _n_exchanges(rvs) > 2:
        sections[-1] = (sections[-1][0] +
                        f" — FAIL: {_n_exchanges(rvs)} exchanges",
                        rvs, sections[-1][2])

    # 52. rendezvous shard assignment: in-row argmax over (score, shard)
    # structs — no explode of hosts × shards, zero shuffle
    from crawl4ai_spark.operators.sharding import assign_shards

    aud_hosts = spark.range(0, 3000).select(
        F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".test"))
        .alias("host"))
    sa_plan = plan_of(assign_shards(aud_hosts, 64))
    sections.append((
        "Rendezvous shard assignment (in-row argmax, zero shuffle, no "
        "host x shard explode)",
        sa_plan, ["Project"],
    ))
    if _n_exchanges(sa_plan) > 0 or "Generate" in sa_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: shuffle or explode",
                        sa_plan, sections[-1][2])

    # 53. PNG metadata extraction: ONE Arrow stage, zero shuffle (the
    # content twin of §40's integrity walk)
    from crawl4ai_spark.operators.multimodal import png_text_metadata

    pm_plan = plan_of(png_text_metadata(aud_images))
    sections.append((
        "PNG metadata extraction (one MapInPandas walk, zero shuffle)",
        pm_plan, ["MapInPandas"],
    ))
    if "Exchange" in pm_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        pm_plan, sections[-1][2])

    # 54. HTTP payload decode: ONE Arrow stage, zero shuffle
    from crawl4ai_spark.operators.httpdecode import decode_http_payload

    aud_resp = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("url"),
        F.lit("Content-Type: text/html; charset=utf-8").alias("headers"),
        F.concat(F.lit("body "), F.col("id").cast("string"))
        .cast("binary").alias("payload"))
    hd_plan = plan_of(decode_http_payload(aud_resp))
    sections.append((
        "HTTP payload decode (one MapInPandas stage, zero shuffle)",
        hd_plan, ["MapInPandas"],
    ))
    if "Exchange" in hd_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        hd_plan, sections[-1][2])

    # 55. URL template mining: explode (no shuffle) → ONE corpus-sized
    # partial-agg groupBy → position-level reassembly (tiny second agg)
    from crawl4ai_spark.operators.urltemplates import mine_url_templates

    aud_turl = spark.range(0, 4000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".test/item/"), F.col("id").cast("string"),
                 F.lit("/detail")).alias("url"))
    ut_plan = plan_of(mine_url_templates(aud_turl))
    sections.append((
        "URL template mining (posexplode + two partial-agg groupBys, "
        "no corpus window)",
        ut_plan, ["Generate", "HashAggregate"],
    ))
    if "Window" in ut_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: corpus window",
                        ut_plan, sections[-1][2])

    # 56. JPEG segment audit: ONE Arrow stage, zero shuffle (same shape
    # as the PNG container tier — marker walking is iterative)
    from crawl4ai_spark.operators.multimodal import jpeg_segment_audit

    aud_jpg = spark.range(0, 2000).select(
        F.col("id").cast("string").alias("image_id"),
        F.concat(F.lit(b"\xff\xd8\xff\xd9"),
                 F.col("id").cast("string").cast("binary")).alias("bytes"))
    jp_plan = plan_of(jpeg_segment_audit(aud_jpg))
    sections.append((
        "JPEG segment audit (one MapInPandas stage, zero shuffle)",
        jp_plan, ["MapInPandas"],
    ))
    if "Exchange" in jp_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: unexpected shuffle",
                        jp_plan, sections[-1][2])

    # 57. Snapshot expiry: broadcast snapshot dim (commit-sized) + ONE
    # partial-agg groupBy on path; no window over the file manifest
    from crawl4ai_spark.operators.maintenance import expire_snapshots

    aud_refs = spark.range(0, 20000).select(
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        (F.col("id") % 512 + 1).cast("long").alias("bytes"),
        (F.col("id") % 8).cast("long").alias("snapshot_id"))
    aud_snaps = spark.range(0, 8).select(
        F.col("id").cast("long").alias("snapshot_id"),
        (100 + F.col("id")).cast("long").alias("ts"))
    ex_plan = plan_of(expire_snapshots(aud_refs, aud_snaps, retain_last=3))
    sections.append((
        "Snapshot expiry (broadcast commit-sized dim + one path groupBy; "
        "the only Window is over the 8-row snapshot dim)",
        ex_plan, ["BroadcastHashJoin", "HashAggregate"],
    ))
    if "SortMergeJoin" in ex_plan:
        sections[-1] = (sections[-1][0] + " — FAIL: manifest-side SMJ",
                        ex_plan, sections[-1][2])

    # 58. IP politeness split: host-dimension frames only — one
    # host-keyed join, one window partitioned by ip
    from crawl4ai_spark.operators.politeness import ip_budget_split

    aud_hosts = spark.range(0, 20000).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"))
    aud_dns = spark.range(0, 15000).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.concat(F.lit("10.0."), (F.col("id") % 64).cast("string"))
        .alias("ip"))
    ip_plan = plan_of(ip_budget_split(aud_hosts, aud_dns, ip_budget=8))
    sections.append((
        "IP politeness split (host-dim join + ip-partitioned window — "
        "never touches the frontier)",
        ip_plan, ["Window", "hashpartitioning"],
    ))

    # 59. Frontier aging: codegen age/priority columns + the ONE
    # host-partitioned window the pop itself already pays
    from crawl4ai_spark.operators.aging import age_priorities

    aud_fr = spark.range(0, 100000).select(
        F.concat(F.lit("h"), (F.col("id") % 500).cast("string"))
        .alias("host"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 97).cast("long").alias("priority"),
        (F.col("id") % 50).cast("long").alias("enq_superstep"))
    ag_plan = plan_of(age_priorities(aud_fr, 60, 2, 45))
    sections.append((
        "Frontier priority aging (codegen columns + one host-partitioned "
        "window, same partitioning as the pop)",
        ag_plan, ["Window", "hashpartitioning"],
    ))
    n_exch = ag_plan.count("Exchange hashpartitioning")
    if n_exch > 2:  # formatted plans list each node twice
        sections[-1] = (sections[-1][0]
                        + f" — FAIL: {n_exch // 2} exchanges",
                        ag_plan, sections[-1][2])

    # 60. Budget apportionment: largest-remainder extras ranked by the
    # scale-safe global seq (range partition + JVM offsets) — NO
    # single-partition Window over the host dimension and no Python pass
    from crawl4ai_spark.operators.budget import apportion_budget

    aud_w = spark.range(0, 20000).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        ((F.col("id") * F.col("id") * 13) % 997).cast("long")
        .alias("weight"))
    ap_plan = plan_of(apportion_budget(aud_w, 1_000_000))
    sections.append((
        "Budget apportionment (decimal-exact shares + global-seq extras, "
        "no single-partition window, no Python operator)",
        # the range shuffle sits upstream of with_global_seq's eager
        # localCheckpoint, so this plan starts at the frozen RDD scan
        ap_plan, ["Scan ExistingRDD"],
    ))
    bad = [op for op in ("Window", "ArrowEvalPython", "BatchEvalPython",
                         "InPandas", "InArrow") if op in ap_plan]
    if bad:
        sections[-1] = (sections[-1][0] + f" — FAIL: {', '.join(bad)} in plan",
                        ap_plan, sections[-1][2])

    out = ["# PLANS — physical-plan audit (`.explain(\"formatted\")`)\n"]
    out.append(
        "Generated by tools/explain_audit.py. Verdict lines check the "
        "scale-critical properties per plan.\n"
    )
    for title, plan, checks in sections:
        out.append(f"\n## {title}\n")
        for c in checks:
            mark = "✓" if c in plan else "✗"
            out.append(f"- {mark} contains `{c}`")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    for title, plan, checks in sections:
        missing = [c for c in checks if c not in plan]
        print(("OK  " if not missing else f"MISS {missing} ") + title)


if __name__ == "__main__":
    main()
