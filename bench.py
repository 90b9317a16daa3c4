"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Also reports pages/sec for the KG pipeline (the north-rule throughput
number) under "extras". Two-parallelism scaling evidence is produced by
tools/scaling_bench.py (writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_metadata_extraction_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
N_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "8000"))


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from pdf_metadata_extraction_spark.operators import dedup, similarity, textstats
    from pdf_metadata_extraction_spark.operators.canonicalize import (
        lsh_candidate_pairs, minhash_signature, shingles,
    )
    from pdf_metadata_extraction_spark.operators.linking import link_options
    from pdf_metadata_extraction_spark.operators.triples import triples_to_edges
    from pdf_metadata_extraction_spark.session import get_spark
    from pdf_metadata_extraction_spark.sources.pages_synth import generate_pages

    spark = get_spark(
        app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={
            # synthetic corpora are many small files: cap scan-partition
            # size so the scan yields ≥ cores tasks (defaults bin-pack
            # 64 × ~1 MB files into ~2 partitions)
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    q_entries = entrymod.queries()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)

    # ---- KG pipeline: pages → tokens → segments → entity link → edges
    import tempfile

    from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages

    # cache key includes a fingerprint of the GENERATOR source so a
    # changed corpus definition (e.g. round-5's JSON-LD islands) can
    # never be masked by a stale /tmp cache; older-fingerprint dirs for
    # the same page count are removed (no /tmp accumulation)
    import hashlib

    import pdf_metadata_extraction_spark.sources.pages_synth as _ps

    gen_fp = hashlib.md5(open(_ps.__file__, "rb").read()).hexdigest()[:8]
    pages_dir = os.path.join(
        tempfile.gettempdir(), f"bench_pages_{N_PAGES}_{gen_fp}"
    )

    def pages_synth():
        import glob
        import shutil as _sh

        for stale in glob.glob(
            os.path.join(tempfile.gettempdir(), f"bench_pages_{N_PAGES}_*")
        ):
            if stale != pages_dir:
                _sh.rmtree(stale, ignore_errors=True)
        _sh.rmtree(
            os.path.join(tempfile.gettempdir(), f"bench_pages_{N_PAGES}"),
            ignore_errors=True,
        )  # pre-fingerprint layout
        if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
            generate_pages(spark, N_PAGES).repartition("url_bucket").write.mode(
                "overwrite"
            ).partitionBy("url_bucket").parquet(pages_dir)

    timed("pages_synth", pages_synth)
    pages = spark.read.parquet(pages_dir).select("url", "html")

    def kg_pipeline():
        segs = segments_from_pages(pages).withColumn(
            "extraction_name", F.lit("mentions")
        )
        options = spark.createDataFrame(
            [("mentions", lab, lab, True) for lab in entrymod.FLAGSHIP_LABELS],
            "extraction_name string, option_id string, label string, multi_value boolean",
        )
        linked = link_options(segs, options).where(F.size("values") > 0)
        n = triples_to_edges(
            linked.select(
                F.lit("bench").alias("run_name"), "extraction_name", "url",
                F.col("url").alias("entity_name"),
                F.lit(None).cast("string").alias("text"), "values",
                F.col("text").alias("segment_text"),
                F.col("page").alias("page_number"),
                F.col("boxes").alias("segments_boxes"),
            )
        ).count()
        extras["kg_edges"] = n

    timed("kg_pipeline", kg_pipeline)
    # warm number = MEDIAN OF 5 runs (round-4 verdict #2): a single
    # warm sample has ~3x run-to-run spread on this shared box
    # (1.9-6.7 s observed at one unchanged HEAD), which round-over-
    # round comparisons misread as drift — the r3->r4 "1.85 -> 2.7"
    # movement was measurement, not code (the whole kg_pipeline path
    # was byte-identical between those rounds; BENCH/KG_WARM_DRIFT.md
    # has the evidence). The median pins the headline; the raw samples
    # are disclosed alongside.
    warm_runs = []
    for _ in range(5):
        t0 = time.monotonic()
        kg_pipeline()
        warm_runs.append(round(time.monotonic() - t0, 3))
    timings["kg_pipeline_warm"] = sorted(warm_runs)[len(warm_runs) // 2]
    extras["kg_pipeline_warm_runs"] = warm_runs
    extras["kg_pipeline_warm_min"] = min(warm_runs)
    extras["kg_pages"] = N_PAGES
    extras["pages_per_sec"] = round(N_PAGES / timings["kg_pipeline"], 1)
    extras["pages_per_sec_warm"] = round(N_PAGES / timings["kg_pipeline_warm"], 1)
    # bytes/s alongside pages/s so throughput numbers from different
    # corpora (this bench vs the scaling harness) reconcile on data
    # volume, not page count (pages differ in size across corpora)
    kg_bytes = pages.select(F.sum(F.length("html"))).collect()[0][0] or 0
    extras["kg_mb"] = round(kg_bytes / 1e6, 1)
    extras["mb_per_sec_warm"] = round(
        kg_bytes / 1e6 / timings["kg_pipeline_warm"], 2
    )

    # ---- per-stage wall times from the pipeline's own lineage table
    # (BASELINE.md protocol: regressions must be attributable to a stage)
    import shutil

    from pdf_metadata_extraction_spark.plans.kg_run import run_kg_pipeline

    work_dir = os.path.join(tempfile.gettempdir(), "bench_kg_run")
    shutil.rmtree(work_dir, ignore_errors=True)
    options_df = spark.createDataFrame(
        [("mentions", lab, lab, True) for lab in entrymod.FLAGSHIP_LABELS],
        "extraction_name string, option_id string, label string, multi_value boolean",
    )
    run_kg_pipeline(spark, pages, options_df, work_dir, run_id="bench")
    lineage = spark.read.parquet(os.path.join(work_dir, "lineage")).collect()
    extras["stage_wall_ms"] = {r["stage"]: r["wall_ms"] for r in lineage}
    extras["stage_rows"] = {r["stage"]: r["output_rows"] for r in lineage}

    # ---- fully-curated production run (extras-only): every opt-in
    # curation stage at once on a 2,000-page slice — url dedup,
    # quality gate, benchmark decontam, domain cap, boilerplate-segment
    # gate, corpus export, sequence packing. The per-stage lineage
    # walls attribute the full training-data path's cost; the eval set
    # is 25 of the slice's own pages, so the decontam gate provably
    # fires. Work dir removed afterwards (no /tmp residue).
    from pdf_metadata_extraction_spark.operators.extract import extract_text

    work_cur = os.path.join(tempfile.gettempdir(), "bench_kg_curated")
    shutil.rmtree(work_cur, ignore_errors=True)
    # normalize_urls needs warc_ts for its earliest-fetch survivor pick,
    # so re-read with it (the headline `pages` is projected to url+html)
    sub = spark.read.parquet(pages_dir).select(
        "url", "warc_ts", "html"
    ).limit(2000)
    eval_df = extract_text(sub.limit(25))
    t0 = time.monotonic()
    run_kg_pipeline(
        spark, sub, options_df, work_cur, run_id="curated",
        normalize_urls=True, follow_redirects=True, quality_gate=True,
        decontam_eval=eval_df, domain_cap=200, segment_dedup=3,
        export_corpus=True, pack_seq_len=512,
        # round-5 session 3: the KG-side opt-ins too — the curated run
        # is now EVERY stage at once (structured channels, fusion,
        # link graph + ranks, N-Triples export)
        jsonld=True, tables=True, fuse=True, link_graph=True,
        export_ntriples=True,
    )
    extras["kg_run_curated_s"] = round(time.monotonic() - t0, 3)
    lin_cur = spark.read.parquet(os.path.join(work_cur, "lineage")).collect()
    extras["curated_stage_wall_ms"] = {
        r["stage"]: r["wall_ms"] for r in lin_cur
        if r["partition_range"] == "all"
    }
    extras["curated_stage_rows"] = {
        r["stage"]: r["output_rows"] for r in lin_cur
        if r["partition_range"] == "all"
    }
    shutil.rmtree(work_cur, ignore_errors=True)

    # ---- representative operator queries at SF_DIR (warm measurement:
    # one untimed warmup pass absorbs python-pool/JIT/GC noise so
    # round-over-round BENCH comparisons track real regressions)
    def run_query(name: str):
        return lambda: q_entries[name](spark, SF_DIR).count()

    for name in [
        "minhash_dup_pairs", "ngram_jaccard", "canonical_components",
        "cosine_topk", "lsh_ann_topk", "lsh_recall_gate", "lang_id",
        "lang_id_ngram", "quality_scores", "bm25_topk", "winnow_fp",
        "w4_sessionize", "hourly_event_agg", "q1_pricing_summary",
        "kg_mention_triples", "dedup_exact", "url_canonicalize",
        "graph_triangles", "graph_degree_hist", "pii_scrub",
        "repetition_signals", "link_graph_hosts", "graph_pagerank", "host_pagerank",
        "graph_pagerank_dangling", "href_resolution_audit",
        "anchor_text_mentions", "bm25_topk_indexed",
        "domain_link_graph", "anchor_term_profile", "crawl_frontier_hosts",
        "url_dedup", "quality_filter", "encoding_signals",
        "quality_gate_keep", "link_graph_follow_only",
        "host_pagerank_weighted", "incremental_dedup",
        "incremental_lsh_candidates", "hash_sample_slice",
        "stratified_domain_cap", "decontam_overlap", "boilerplate_ngrams",
        "boilerplate_doc_frac", "unigram_ce", "tfidf_topk", "dup_span_pairs",
        "line_dedup_clean", "packed_sequences", "ce_quality_tiers",
        "decontam_scrubbed", "hreflang_extract", "meta_refresh_chains",
        "graph_hits", "triple_timeline", "graph_coreness",
        "graph_clustering", "frontier_schedule", "frontier_composed",
        "hll_distinct", "asof_event_state", "dsir_resample_gate",
        "content_main_blocks", "bigram_ce", "weighted_priority_sample",
        "exact_length_quantiles",
    ]:
        fn = run_query(name)
        fn()
        timed(name, fn)

    # ---- BM25 serving path: repeated-query cost must track the
    # POSTINGS (vocabulary) size, not the corpus TEXT size. Evidence:
    # 8x-longer text grows the scan cost but leaves the per-query
    # indexed cost ~flat (same vocabulary -> same postings rows).
    from pdf_metadata_extraction_spark.operators.search import (
        bm25_rank, bm25_rank_indexed, build_postings,
    )

    bdocs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    for tag, docs in (
        ("1x", bdocs),
        ("8x", bdocs.withColumn(
            "text", F.concat_ws(" ", *([F.col("text")] * 8)))),
    ):
        def scan_q():
            bm25_rank(docs, entrymod._BM25_TERMS, topk=15).count()

        scan_q()
        t0 = time.monotonic()
        scan_q()
        extras[f"bm25_scan_sec_{tag}"] = round(time.monotonic() - t0, 3)
        t0 = time.monotonic()
        postings, doc_lens = build_postings(docs)
        postings = postings.persist()
        doc_lens = doc_lens.persist()
        postings.count()
        doc_lens.count()
        extras[f"bm25_index_build_sec_{tag}"] = round(time.monotonic() - t0, 3)

        def idx_q():
            bm25_rank_indexed(
                postings, doc_lens, entrymod._BM25_TERMS, topk=15
            ).count()

        idx_q()
        t0 = time.monotonic()
        for _ in range(3):
            idx_q()
        extras[f"bm25_indexed_query_sec_{tag}"] = round(
            (time.monotonic() - t0) / 3, 3
        )
        postings.unpersist()
        doc_lens.unpersist()

    # persisted-index lifecycle (round-4 verdict #7): resolving the
    # SAME corpus against an existing index dir must cost ~fingerprint
    # only (no build job) — build amortizes to zero across queries and
    # across driver restarts
    from pdf_metadata_extraction_spark.operators.search import Bm25Index

    idx_dir = os.path.join(tempfile.gettempdir(), "bench_bm25_idx")
    shutil.rmtree(idx_dir, ignore_errors=True)
    t0 = time.monotonic()
    ix = Bm25Index(bdocs, idx_dir)
    ix.query(entrymod._BM25_TERMS, topk=15).count()
    extras["bm25_persist_first_query_sec"] = round(time.monotonic() - t0, 3)
    assert ix.last_built is True
    t0 = time.monotonic()
    ix2 = Bm25Index(bdocs, idx_dir)  # fresh resolver, e.g. new driver
    ix2.query(entrymod._BM25_TERMS, topk=15).count()
    extras["bm25_persist_reuse_query_sec"] = round(time.monotonic() - t0, 3)
    assert ix2.last_built is False
    shutil.rmtree(idx_dir, ignore_errors=True)

    # ---- ANN recall vs exact at non-trivial probe settings (round-1
    # verdict: only the brute-force-equivalent setting was checked)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.where("vec_id < 25")
    exact = {
        (r["query_id"], r["match_id"])
        for r in similarity.cosine_topk(emb, qs, k=10).collect()
    }

    def recall(df) -> float:
        got = {(r["query_id"], r["match_id"]) for r in df.collect()}
        return round(len(got & exact) / max(len(exact), 1), 4)

    extras["recall_lsh_defaults"] = recall(
        similarity.lsh_topk(emb, qs, k=10, dim=64)  # shipped defaults
    )
    extras["recall_lsh_1bit_probe"] = recall(
        similarity.lsh_topk(emb, qs, k=10, dim=64, n_planes=6, n_probe_bits=1)
    )
    extras["recall_lsh_single_probe"] = recall(
        similarity.lsh_topk(emb, qs, k=10, dim=64, n_planes=6, n_probe_bits=0)
    )
    extras["recall_ivf_nprobe2of8"] = recall(
        similarity.ivf_topk(emb, qs, k=10, n_clusters=8, nprobe=2)
    )
    extras["recall_ivf_nprobe4of8"] = recall(
        similarity.ivf_topk(emb, qs, k=10, n_clusters=8, nprobe=4)
    )

    # The sf embeddings are isotropic-random (top-10 neighbor cosine
    # ≈0.3, no label structure) — the ADVERSARIAL case where any sublinear
    # index must trade recall. Real corpora have neighbor structure, so
    # recall is also measured on a deterministic clustered corpus
    # (25 centers, σ=0.15 noise): this is the regime the ≥0.9 target
    # applies to, at probe depths that scan a small corpus fraction.
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(25, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    # σ=0.03/dim → noise norm ≈0.24 vs unit signal → same-center cosine
    # ≈0.95: the near-duplicate regime ANN indexes exist for
    pts = centers[np.arange(5000) % 25] + 0.03 * rng.normal(size=(5000, 64))
    cdf = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(5000), "embedding": [r.astype("float32") for r in pts]}
        )
    ).cache()
    cqs = cdf.where("vec_id < 50")
    exact_c = {
        (r["query_id"], r["match_id"])
        for r in similarity.cosine_topk(cdf, cqs, k=10).collect()
    }

    def recall_c(df) -> float:
        got = {(r["query_id"], r["match_id"]) for r in df.collect()}
        return round(len(got & exact_c) / max(len(exact_c), 1), 4)

    extras["recall_clustered_ivf_nprobe2of16"] = recall_c(
        similarity.ivf_topk(cdf, cqs, k=10, n_clusters=16, nprobe=2)
    )
    extras["recall_clustered_lsh_8planes_2bit"] = recall_c(
        similarity.lsh_topk(cdf, cqs, k=10, dim=64, n_planes=8, n_probe_bits=2)
    )
    extras["recall_clustered_lsh_defaults"] = recall_c(
        similarity.lsh_topk(cdf, cqs, k=10, dim=64)  # shipped defaults
    )

    # banded-table near-dup pairs: recall of cosine_pairs (default T×b
    # tables) vs the exact ≥τ pair set, restricted to a 600-vector slice
    # so the exact side stays cheap
    small = cdf.where("vec_id < 600").cache()
    a = small.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = small.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(similarity.cosine(F.col("va"), F.col("vb")) >= 0.95)
        .collect()
    }
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_pairs(small, min_sim=0.95).collect()
    }
    extras["near_dup_exact_pairs"] = len(exact_pairs)
    extras["recall_clustered_cosine_pairs"] = round(
        len(got_pairs & exact_pairs) / max(len(exact_pairs), 1), 4
    )

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "kg_construct_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "extras": extras,
    }
    # The driver captures only the LAST 2000 chars of stdout; round 4's
    # line (with inline extras) overflowed that and recorded
    # `parsed: null`. Full payload goes to a file; stdout gets a
    # compact line that always fits the capture window.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "bench_full.json"
    )
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(result, f, indent=2, sort_keys=True)
    except OSError:
        pass
    compact = dict(result)
    compact["extras"] = {"full": "BENCH/bench_full.json"}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # still too wide: keep the slowest queries only
        top = dict(sorted(
            timings.items(), key=lambda kv: kv[1], reverse=True
        )[:30])
        compact["queries"] = top
        compact["extras"]["note"] = "30 slowest shown; all in full file"
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
