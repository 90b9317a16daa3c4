"""Resumability + lineage + skew tests (north rule requirements)."""

import pyspark.sql.functions as F

from pdf_metadata_extraction_spark.operators.skew import (
    domain_of,
    salted_groupby_count,
    with_salt,
)
from pdf_metadata_extraction_spark.plans.kg_run import run_kg_pipeline
from pdf_metadata_extraction_spark.sources.pages_synth import MEGA_DOMAIN, generate_pages


def _options(spark):
    return spark.createDataFrame(
        [("mentions", str(i), lab, True) for i, lab in enumerate(
            ["spark", "united nations", "assembly", "resolution"])],
        "extraction_name string, option_id string, label string, multi_value boolean",
    )


def test_kg_run_checkpoints_and_resume(spark, tmp_path):
    pages = generate_pages(spark, 40, partitions=4).select("url", "html")
    work = str(tmp_path / "kg")
    out1 = run_kg_pipeline(spark, pages, _options(spark), work, run_id="r1")
    edges1 = sorted(tuple(r) for r in out1["edges"].collect())
    assert len(edges1) > 0

    # resume: stage outputs on disk are reused — feed EMPTY pages and the
    # same run_id; results must be identical (no recompute of finished stages)
    empty = pages.limit(0)
    out2 = run_kg_pipeline(spark, empty, _options(spark), work, run_id="r1")
    edges2 = sorted(tuple(r) for r in out2["edges"].collect())
    assert edges1 == edges2

    # lineage rows recorded per stage
    lineage = spark.read.parquet(f"{work}/lineage")
    stages = {r["stage"] for r in lineage.collect()}
    assert {"segments", "linked", "edges", "nodes", "pipeline_total"} <= stages
    assert lineage.where(F.col("wall_ms") < 0).count() == 0
    # connected-components round telemetry (cost attribution per round):
    # every cc_round row carries real in/out edge counts
    cc_rows = [r for r in lineage.collect() if r["stage"].startswith("cc_round_")]
    assert cc_rows, stages
    assert all(r["input_rows"] >= 0 and r["output_rows"] >= 0 for r in cc_rows)
    # per-partition lineage rows: salt-partitioned stages record one row
    # per partition value (north rule: partition ranges auditable)
    seg_parts = [r for r in lineage.collect()
                 if r["stage"] == "segments" and r["partition_range"].startswith("salt=")]
    assert seg_parts
    total = sum(r["output_rows"] for r in seg_parts)
    seg_total = [r for r in lineage.collect()
                 if r["stage"] == "segments" and r["partition_range"] == "all"]
    assert total == seg_total[0]["output_rows"]


def test_kg_run_quality_gate(spark, tmp_path):
    """Opt-in quality_gate stage (round-4 verdict #8): low-quality
    pages and exact-duplicate texts drop BEFORE segmentation; the
    pages_quality_gate lineage row pins pages-in vs pages-kept and the
    checkpointed pages_quality stage holds exactly the survivors."""
    good = ("the spark engine processes a perfectly ordinary paragraph "
            "of english text with enough words to pass the length gate "
            "comfortably and a pleasant mean word length overall")

    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    rows = [
        page("https://a.example/1", good),
        page("https://a.example/2", good),  # exact dup of /1's text
        page("https://a.example/3", good + " plus a distinct tail"),
        page("https://a.example/4", "1234 5678"),  # fails the quality gate
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgq")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="q1", quality_gate=True
    )
    lineage = spark.read.parquet(f"{work}/lineage").collect()
    gate = [r for r in lineage if r["stage"] == "pages_quality_gate"]
    assert gate and gate[0]["input_rows"] == 4
    assert gate[0]["output_rows"] == 2
    kept = {
        r["url"]
        for r in spark.read.parquet(f"{work}/stages/q1/pages_quality").collect()
    }
    assert kept == {"https://a.example/1", "https://a.example/3"}
    # downstream stages consumed only the kept pages, and the label
    # present in the kept text still produced edges
    assert {r["url"] for r in out["segments"].select("url").collect()} <= kept
    assert out["edges"].count() > 0

    # resume: every stage is reused from disk, so the finished run_id
    # records nothing again but its pipeline_total
    run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="q1", quality_gate=True
    )
    alls = [
        r["stage"] for r in spark.read.parquet(f"{work}/lineage").collect()
        if r["partition_range"] == "all"
    ]
    assert alls.count("pipeline_total") == 2
    once = [s for s in alls if s != "pipeline_total"]
    assert sorted(once) == sorted(set(once)), once


def test_kg_run_domain_cap_and_corpus_export(spark, tmp_path):
    """Round-5 curation stages composed in the runner: the extracted
    text materializes ONCE (pages_text), the per-registered-domain cap
    trims the over-represented domain (NULL-domain pages pass
    uncapped), and corpus_export holds exactly the survivors' (url,
    text) rows — the table a tokenizer job consumes."""
    good = ("the spark engine processes a perfectly ordinary paragraph "
            "of english text with enough words to pass the length gate "
            "comfortably and a pleasant mean word length overall")

    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    rows = [
        page("https://a.example/1", good + " one"),
        page("https://a.example/2", good + " two"),
        page("https://b.example/1", good + " three"),
        page("https://localhost/x", good + " four"),  # no registered domain
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgc")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="c1",
        quality_gate=True, domain_cap=1, export_corpus=True,
    )
    lineage = {r["stage"]: r for r in
               spark.read.parquet(f"{work}/lineage").collect()
               if r["partition_range"] == "all"}
    assert "pages_text" in lineage and lineage["pages_text"]["output_rows"] == 4
    assert lineage["pages_quality_gate"]["output_rows"] == 4  # all pass
    cap_row = lineage["pages_domain_cap"]
    assert cap_row["input_rows"] == 4 and cap_row["output_rows"] == 3
    corpus = {r["url"]: r["text"] for r in out["corpus"].collect()}
    assert len(corpus) == 3
    # exactly one a.example survivor; b.example and localhost kept
    a_kept = [u for u in corpus if u.startswith("https://a.example")]
    assert len(a_kept) == 1
    assert "https://b.example/1" in corpus
    assert "https://localhost/x" in corpus
    assert all("spark engine" in t for t in corpus.values())


def test_kg_run_decontam_gate(spark, tmp_path):
    """Opt-in benchmark decontamination in the runner: a page whose
    extracted text is a verbatim eval-suite copy drops before
    segmentation; the pages_decontam_gate lineage row pins in/kept and
    pages_text still materializes exactly once."""
    good = ("the spark engine processes a perfectly ordinary paragraph "
            "of english text with enough words to pass the length gate "
            "comfortably and a pleasant mean word length overall")
    leaked = ("this exact benchmark prompt sentence must never appear "
              "inside the training corpus after the decontamination "
              "stage has run to completion")

    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    rows = [
        page("https://a.example/1", good + " one"),
        page("https://a.example/2", leaked),  # verbatim eval copy
        page("https://a.example/3", good + " three"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    eval_df = spark.createDataFrame(
        [("eval://1", leaked)], "url string, text string"
    )
    work = str(tmp_path / "kgd")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="d1",
        decontam_eval=eval_df, export_corpus=True,
    )
    lineage = {r["stage"]: r for r in
               spark.read.parquet(f"{work}/lineage").collect()
               if r["partition_range"] == "all"}
    assert lineage["pages_text"]["output_rows"] == 3  # extractor ran once
    gate = lineage["pages_decontam_gate"]
    assert gate["input_rows"] == 3 and gate["output_rows"] == 2
    kept = {
        r["url"]
        for r in spark.read.parquet(f"{work}/stages/d1/pages_decontam").collect()
    }
    assert kept == {"https://a.example/1", "https://a.example/3"}
    corpus = {r["url"] for r in out["corpus"].collect()}
    assert corpus == kept


def test_kg_run_sequence_manifest(spark, tmp_path):
    """Opt-in pack_seq_len: the exported corpus gains a checkpointed
    sequence_manifest stage whose pieces tile every corpus doc exactly;
    the sequence_packing lineage row records docs-in vs sequences-out."""
    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    rows = [
        page("https://a.example/1", "spark two three four five"),
        page("https://a.example/2", "six seven eight"),
        page("https://a.example/3", "nine ten"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgp")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="p1",
        export_corpus=True, pack_seq_len=4,
    )
    man = out["sequences"].collect()
    assert sum(p["n_piece"] for p in man) == 10  # every token placed
    # 10 tokens at L=4 → sequences 0,1 full (4 tokens), 2 holds 2
    per_seq = {}
    for p in man:
        per_seq[p["seq_id"]] = per_seq.get(p["seq_id"], 0) + p["n_piece"]
    assert per_seq[0] == 4 and per_seq[1] == 4 and per_seq[2] == 2
    lineage = {r["stage"]: r for r in
               spark.read.parquet(f"{work}/lineage").collect()
               if r["partition_range"] == "all"}
    pk = lineage["sequence_packing"]
    assert pk["input_rows"] == 3 and pk["output_rows"] == 3
    # the manifest stage is on disk and resumable like any other stage
    disk = spark.read.parquet(f"{work}/stages/p1/sequence_manifest")
    assert disk.count() == len(man)


def test_kg_run_segment_boiler_gate(spark, tmp_path):
    """Opt-in segment_dedup: a footer segment recurring across pages
    (CCNet-normalized, so differing years still match) is dropped
    BEFORE entity linking — boilerplate text emits no mention triples —
    while unique body segments still link; lineage pins segments
    in/kept."""
    def page(u, body, year):
        return (u, (
            f"<html><body><p>{body}</p>"
            f"<p>copyright resolution {year} all rights reserved</p>"
            "</body></html>"
        ).encode())

    rows = [
        page("https://a.example/1", "the spark engine body one", 2023),
        page("https://a.example/2", "a different spark body two", 2024),
        page("https://a.example/3", "third unique spark body", 2025),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgs")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="s1", segment_dedup=2
    )
    lineage = {r["stage"]: r for r in
               spark.read.parquet(f"{work}/lineage").collect()
               if r["partition_range"] == "all"}
    gate = lineage["segments_boiler_gate"]
    assert gate["input_rows"] == 6 and gate["output_rows"] == 3
    # obj carries the option_id: "0" = spark (body), "3" = resolution
    # (the footer's dictionary term)
    objs = {r["obj"] for r in out["edges"].collect()}
    assert "0" in objs       # body segments still link
    assert "3" not in objs   # footer never reached the linker

    # control: without the gate the footer DOES emit the triple
    out2 = run_kg_pipeline(
        spark, pages, _options(spark), str(tmp_path / "kgs2"), run_id="s2"
    )
    assert "3" in {r["obj"] for r in out2["edges"].collect()}


def test_mega_domain_skew_and_salting(spark):
    pages = generate_pages(spark, 400, partitions=4)
    dom_counts = (
        pages.select(domain_of("url").alias("d"))
        .groupBy("d").count().orderBy(F.desc("count")).collect()
    )
    # the skew knob: mega-domain holds ~50% of rows
    assert dom_counts[0]["d"] == MEGA_DOMAIN
    assert dom_counts[0]["count"] > 0.4 * 400

    # salted two-phase count: same answer as plain groupBy
    plain = {r["d"]: r["count"] for r in dom_counts}
    with_dom = pages.withColumn("d", domain_of("url"))
    salted = {r["d"]: r["n"] for r in salted_groupby_count(with_dom, "d").collect()}
    assert salted == plain

    # the salt actually splits the hot key across partitions
    salts = (
        with_salt(with_dom.where(F.col("d") == MEGA_DOMAIN), "d")
        .select("salt").distinct().count()
    )
    assert salts > 4


def test_entry_smoke(spark):
    import __spark_entry__ as e

    edges = e.entry(spark)
    rows = edges.collect()
    assert len(rows) >= 0
    assert set(edges.columns) == {"subj", "pred", "obj", "provenance_url", "segment_text"}


def test_pipeline_determinism_across_parallelism(spark):
    """Whole-pipeline analogue of the extract determinism test: edges are
    identical whether the input has 1 partition or 16."""
    import __spark_entry__  # noqa: F401  (reuse the entity labels)
    from pdf_metadata_extraction_spark.operators.linking import link_options
    from pdf_metadata_extraction_spark.operators.triples import triples_to_edges
    from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages

    def edges_at(partitions):
        pages = generate_pages(spark, 60, partitions=partitions).select("url", "html")
        segs = segments_from_pages(pages).withColumn(
            "extraction_name", F.lit("mentions")
        )
        options = spark.createDataFrame(
            [("mentions", "1", "united nations", True), ("mentions", "2", "assembly", True)],
            "extraction_name string, option_id string, label string, multi_value boolean",
        )
        linked = link_options(segs, options).where(F.size("values") > 0)
        out = triples_to_edges(
            linked.select(
                F.lit("d").alias("run_name"), "extraction_name", "url",
                F.col("url").alias("entity_name"),
                F.lit(None).cast("string").alias("text"), "values",
                F.col("text").alias("segment_text"),
                F.col("page").alias("page_number"),
                F.col("boxes").alias("segments_boxes"),
            )
        )
        return sorted(tuple(r) for r in out.collect())

    assert edges_at(1) == edges_at(16)


def test_f2_page_pruning_in_predict(spark):
    """A model trained with labels on page 1 prunes page-2 tokens at
    prediction (F2 wired into the fused stage)."""
    from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages

    pages = generate_pages(spark, 6, partitions=2).select("url", "html")
    un = pages.where(F.col("url").contains("un_note"))
    all_pages = {r["page"] for r in segments_from_pages(un).collect()}
    assert all_pages == {1, 2}
    pruned = {r["page"] for r in
              segments_from_pages(un, page_range=(1, 1)).collect()}
    assert pruned == {1}


def test_connected_components_checkpoint_resume(spark, tmp_path):
    """North rule: resumable from checkpoint. A finished CC leaves round
    parquet + fingerprint sidecars; a re-run detects convergence from
    the sidecars and recomputes NOTHING; after simulating a mid-run kill
    (last round deleted) the resume recomputes exactly one round and the
    result is identical."""
    import os
    import shutil

    from pdf_metadata_extraction_spark.operators.canonicalize import (
        connected_components,
    )
    from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101)],
        "id_a long, id_b long",
    )
    ckpt = str(tmp_path / "cc_rounds")
    base = sorted(
        tuple(r) for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    )
    rounds = sorted(
        (d for d in os.listdir(ckpt) if d.startswith("round_")),
        key=lambda d: int(d.split("_")[1]),
    )
    assert len(rounds) >= 2

    # full resume: nothing recomputed (no lineage rows written)
    lw = LineageWriter(spark, str(tmp_path / "lw1"), "r1")
    again = sorted(
        tuple(r)
        for r in connected_components(
            edges, checkpoint_dir=ckpt, lineage=lw
        ).collect()
    )
    assert again == base
    assert not os.path.exists(lw.lineage_path)  # zero rounds re-run

    # mid-run kill: drop the last completed round -> exactly one round
    # recomputes, result identical
    shutil.rmtree(os.path.join(ckpt, rounds[-1]))
    lw2 = LineageWriter(spark, str(tmp_path / "lw2"), "r2")
    resumed = sorted(
        tuple(r)
        for r in connected_components(
            edges, checkpoint_dir=ckpt, lineage=lw2
        ).collect()
    )
    assert resumed == base
    cc_rows = [r for r in lw2.read_lineage().collect()
               if r["stage"].startswith("cc_round_")]
    assert len(cc_rows) == 1
    assert cc_rows[0]["stage"] == f"cc_round_{len(rounds)}"


def test_cc_checkpoint_dir_accepts_fs_uri(spark, tmp_path):
    """Regression: fingerprint/marker I/O must go through the Hadoop
    FileSystem API (like the parquet rounds), not driver-local open() —
    a checkpoint_dir given as a filesystem URI (here file:, on a real
    cluster hdfs:/s3a:) must checkpoint AND resume."""
    import os

    from pdf_metadata_extraction_spark.operators.canonicalize import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    local = tmp_path / "cc_uri"
    ckpt = "file:" + str(local)
    base = sorted(
        tuple(r) for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    )
    assert base
    # sidecars landed through the FS API
    rounds = [d for d in os.listdir(local) if d.startswith("round_")]
    assert rounds
    assert all(
        os.path.exists(local / r / "_fingerprint.json") for r in rounds
    )
    # full resume through the same URI: identical result
    again = sorted(
        tuple(r) for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    )
    assert again == base


def test_partition_lineage_cap_is_not_silent(spark, tmp_path):
    """Regression: when a stage has more partition values than the
    lineage cap, the tail must surface as ONE explicit __overflow__ row
    so sum(partition output_rows) == the stage 'all' row — never a
    silent truncation. Per-partition rows carry only output_rows."""
    from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

    lw = LineageWriter(spark, str(tmp_path / "lw"), "rcap")
    df = spark.range(50).selectExpr("id", "id % 5 AS bucket")
    out = lw.checkpoint_stage(
        "bucketed", df, partition_by=["bucket"], input_rows=50,
        partition_row_cap=2,
    )
    assert out.count() == 50
    rows = lw.read_lineage().collect()
    parts = [r for r in rows
             if r["stage"] == "bucketed" and r["partition_range"] != "all"]
    all_row = [r for r in rows
               if r["stage"] == "bucketed" and r["partition_range"] == "all"][0]
    assert sum(r["output_rows"] for r in parts) == all_row["output_rows"] == 50
    over = [r for r in parts if r["partition_range"] == "bucket=__overflow__"]
    assert len(over) == 1 and over[0]["output_rows"] == 30
    # stage-level metrics are NOT duplicated onto partition rows
    assert all(r["input_rows"] is None and r["wall_ms"] is None for r in parts)
    # the all, partition and overflow rows are one append: one file
    files = {
        r[0] for r in lw.read_lineage()
        .where(F.col("stage") == "bucketed")
        .select(F.input_file_name())
        .collect()
    }
    assert len(files) == 1, files
    # and one append is one job, the write's: the rows are an Arrow
    # table, planned as a LocalTableScan, so no python job runs first
    sc = spark.sparkContext
    sc.setJobGroup("lineage_record", "one lineage append")
    try:
        lw.record("probe", input_rows=1, output_rows=1, wall_ms=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(sc.statusTracker().getJobIdsForGroup("lineage_record")) == 1


def test_cc_checkpoint_dir_rejects_stale_input(spark, tmp_path):
    """Round-3 ADVICE: resume must not trust completed rounds produced
    from a DIFFERENT edge set. Reusing a checkpoint_dir with new edges
    triggers the input-fingerprint mismatch, wipes the stale rounds,
    and recomputes — the result equals a fresh run, not the stale one."""
    from pdf_metadata_extraction_spark.operators.canonicalize import (
        connected_components,
    )

    ckpt = str(tmp_path / "cc_fp")
    edges_a = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    stale = sorted(
        tuple(r)
        for r in connected_components(edges_a, checkpoint_dir=ckpt).collect()
    )
    edges_b = spark.createDataFrame(
        [(100, 101), (101, 102), (200, 201)], "id_a long, id_b long"
    )
    fresh = sorted(
        tuple(r) for r in connected_components(edges_b).collect()
    )
    reused = sorted(
        tuple(r)
        for r in connected_components(edges_b, checkpoint_dir=ckpt).collect()
    )
    assert reused == fresh
    assert reused != stale


def test_ckpt_unmarked_dir_never_trusted(spark, tmp_path):
    """Round-4 ADVICE (medium): a NON-EMPTY checkpoint dir with no
    _input.json marker (pre-marker release, half-wiped dir) must be
    wiped, not silently stamped — resume would otherwise trust rounds
    of unknown provenance."""
    import os

    from pdf_metadata_extraction_spark.operators import ckpt

    root = tmp_path / "unmarked"
    (root / "round_1").mkdir(parents=True)
    (root / "round_1" / "part-0.parquet").write_text("stale")
    ckpt.reset_dir_if_input_changed(spark, str(root), {"h": 1, "n": 2})
    assert not (root / "round_1").exists()  # stale data wiped
    assert (root / "_input.json").exists()  # stamped after the wipe

    # marked + matching: left intact (the reuse path still works)
    (root / "round_1").mkdir()
    (root / "round_1" / "ok").write_text("x")
    ckpt.reset_dir_if_input_changed(spark, str(root), {"h": 1, "n": 2})
    assert (root / "round_1" / "ok").exists()

    # marked + mismatching: wiped and re-stamped
    ckpt.reset_dir_if_input_changed(spark, str(root), {"h": 9, "n": 2})
    assert not (root / "round_1").exists()
    assert ckpt.fs_read_json(spark, str(root / "_input.json")) == {
        "h": 9, "n": 2,
    }
    # only the marker (plus Hadoop LocalFS .crc sidecars) remains
    assert [f for f in os.listdir(root) if not f.endswith(".crc")] == [
        "_input.json"
    ]


def test_pagerank_empty_graph_releases_caches(spark, tmp_path):
    """Round-4 ADVICE: the n==0 early return must not leave
    nodes/outdeg persisted forever in checkpoint_dir mode."""
    from pdf_metadata_extraction_spark.operators.graph import pagerank_fixed

    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    empty = spark.createDataFrame([(7, 7)], "id_a long, id_b long")  # self-loop only
    out = pagerank_fixed(empty, iters=2, checkpoint_dir=str(tmp_path / "ck"))
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<node:bigint,rank:bigint>"
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after <= before


def test_pagerank_iteration_telemetry(spark, tmp_path):
    """Each executed PageRank iteration records a pr_iter_N lineage row
    (like CC's round telemetry) — a regression must be attributable to
    an iteration; a checkpoint resume re-records only what it re-ran."""
    from pdf_metadata_extraction_spark.operators.graph import pagerank_fixed
    from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "id_a long, id_b long"
    )
    lw = LineageWriter(spark, str(tmp_path / "lw"), "pr")
    pagerank_fixed(edges, iters=3, lineage=lw).collect()
    stages = sorted(
        r["stage"] for r in lw.read_lineage().collect()
        if r["stage"].startswith("pr_iter_")
    )
    assert stages == ["pr_iter_1", "pr_iter_2", "pr_iter_3"]


def test_kg_run_link_graph_stage(spark, tmp_path, monkeypatch):
    """Opt-in link-graph product inside the production runner: nav
    anchors become host self-edges, PageRank runs with per-iteration
    checkpoints under the run's stage tree + pr_iter lineage rows, and
    a re-run with the same run_id reuses the finished stages without
    running PageRank or canonicalization again."""
    from pdf_metadata_extraction_spark.plans.kg_run import run_kg_pipeline
    from pdf_metadata_extraction_spark.sources.pages_synth import generate_pages

    from pyspark.sql import functions as F

    pages = generate_pages(spark, 8, partitions=2).select(
        "url", "warc_ts",
        # synthetic nav anchors are all same-host; add one cross-host
        # anchor so the rank graph has non-self edges
        F.concat(
            "html", F.lit(b'<a href="https://hub.example/x">h</a>')
        ).alias("html"),
    )
    opts = spark.createDataFrame(
        [("mentions", "o1", "united nations", True)],
        "extraction_name string, option_id string, label string, "
        "multi_value boolean",
    )
    out = run_kg_pipeline(
        spark, pages, opts, str(tmp_path / "w"), run_id="lg",
        link_graph=True,
    )
    he = out["host_edges"].collect()
    assert he and all(r["n_links"] >= 1 for r in he)
    ranks = {r["node"]: r["rank"] for r in out["host_ranks"].collect()}
    assert ranks and all(v > 0 for v in ranks.values())
    lw_rows = spark.read.parquet(str(tmp_path / "w" / "lineage")).collect()
    stages = {r["stage"] for r in lw_rows}
    assert {"host_edges", "host_ranks", "pr_iter_1", "pr_iter_3"} <= stages
    # PageRank iteration checkpoints live under the run's stage tree
    import os
    it_dir = str(tmp_path / "w" / "stages" / "lg" / "host_rank_iters")
    assert sorted(d for d in os.listdir(it_dir) if d.startswith("iter_")) == [
        "iter_1", "iter_2", "iter_3"
    ]

    nodes = sorted(tuple(r) for r in out["nodes"].collect())
    assert nodes

    # resume: same run_id returns identical ranks and nodes, read from
    # the committed stages — neither build runs again
    from pdf_metadata_extraction_spark.operators import graph
    from pdf_metadata_extraction_spark.plans import kg_run

    def must_not_run(*args, **kwargs):
        raise AssertionError("a committed stage was rebuilt")

    monkeypatch.setattr(graph, "pagerank_fixed", must_not_run)
    monkeypatch.setattr(kg_run, "canonicalize", must_not_run)
    again = run_kg_pipeline(
        spark, pages, opts, str(tmp_path / "w"), run_id="lg",
        link_graph=True,
    )
    assert {r["node"]: r["rank"] for r in again["host_ranks"].collect()} == ranks
    assert sorted(tuple(r) for r in again["nodes"].collect()) == nodes


def test_kg_run_fusion_stage(spark, tmp_path):
    """Opt-in fuse stage: conflicting objects for one (subj, pred)
    resolve to the majority object, the edges_fused stage lands on
    disk, and the edges_fusion lineage row pins assertions-in vs
    facts-out."""
    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    # three pages mention "spark"; the fused fact per (subj=page-url
    # entity, pred) must be deterministic — here every page url is its
    # own subj, so fusion is per-page; assert the stage mechanics and
    # that re-running fuses identically
    rows = [
        page("https://a.example/1", "the spark engine and the spark planner"),
        page("https://a.example/2", "spark again"),
        page("https://a.example/3", "nothing relevant here"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgf")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="f1", fuse=True
    )
    fused = out["edges_fused"].collect()
    assert fused, "fusion produced no rows"
    # one fused fact per (subj, pred)
    keys = [(r["subj"], r["pred"]) for r in fused]
    assert len(keys) == len(set(keys))
    # support can never exceed the distinct sources backing the key
    assert all(r["support"] <= r["n_sources"] for r in fused)
    assert all(0 < r["confidence"] <= 1.0 for r in fused)
    # stage on disk + lineage row
    disk = spark.read.parquet(f"{work}/stages/f1/edges_fused").collect()
    assert sorted(map(tuple, disk)) == sorted(map(tuple, fused))
    lineage = spark.read.parquet(f"{work}/lineage").collect()
    fl = [r for r in lineage if r["stage"] == "edges_fusion"]
    assert fl and fl[0]["input_rows"] >= fl[0]["output_rows"] > 0


def test_checkpoint_stage_empty_output_roundtrips(spark, tmp_path):
    """An aggressive gate can legitimately empty a stage; the
    checkpoint must round-trip the EMPTY table (explicit schema — no
    parquet inference on a part-file-less dir): the first write records
    a 0-row lineage entry, and the marker-reuse resume reads the same
    empty stage back."""
    from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

    lw = LineageWriter(spark, str(tmp_path / "w"), "e1")
    empty = spark.createDataFrame([], "url string, n long, salt int")
    out = lw.checkpoint_stage("gate_out", empty, partition_by=["salt"])
    assert out.count() == 0
    assert out.schema == empty.schema
    # resume path (marker exists) reads the same empty stage
    again = lw.checkpoint_stage("gate_out", empty)
    assert again.count() == 0 and again.schema == empty.schema
    lineage = spark.read.parquet(str(tmp_path / "w" / "lineage")).collect()
    rows = [r for r in lineage if r["stage"] == "gate_out"]
    assert rows and rows[0]["output_rows"] == 0


def test_checkpoint_stage_reuses_fs_uri_root(spark, tmp_path):
    """A stage checkpointed under a filesystem-URI root (here file:, on
    a cluster hdfs:/s3a:) is found again on the next call, through the
    same Hadoop FileSystem test as the CC and PageRank checkpoints: it
    is reused, and no lineage row is appended."""
    import os

    from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

    root = tmp_path / "w"
    lw = LineageWriter(spark, "file://" + str(root), "u1")
    df = spark.range(10).selectExpr("id", "CAST(id % 2 AS INT) AS salt")
    assert lw.checkpoint_stage("s", df, partition_by=["salt"]).count() == 10

    def appends():
        return sorted(
            f for f in os.listdir(root / "lineage") if f.endswith(".parquet")
        )

    first = appends()
    # reused: the rows on disk come back, not the (empty) new plan's
    again = lw.checkpoint_stage(
        "s", df.where("id < 0"), partition_by=["salt"]
    )
    assert again.count() == 10
    assert appends() == first


def test_kg_run_redirect_gate(spark, tmp_path):
    """Opt-in follow_redirects stage: meta-refresh alias shells drop
    from the corpus before any extraction; the url_redirects stage
    records every chain with its status, and the pages_redirect_gate
    lineage row pins pages-in vs pages-kept."""
    body = ("the spark engine processes a perfectly ordinary paragraph "
            "of english text for the redirect gate test")

    def content(u):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    def shell(u, tgt):
        return (u, (
            '<html><head><meta http-equiv="refresh" '
            f'content="0; url={tgt}"/></head></html>'
        ).encode())

    rows = [
        content("https://a.example/real1"),
        content("https://a.example/real2"),
        # 2-hop chain ending at a content page
        shell("https://a.example/old", "https://a.example/older"),
        shell("https://a.example/older", "https://a.example/real1"),
        # 2-cycle
        shell("https://a.example/c1", "https://a.example/c2"),
        shell("https://a.example/c2", "https://a.example/c1"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgr")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="r1",
        follow_redirects=True,
    )
    chains = {r["src"]: r for r in out["url_redirects"].collect()}
    assert chains["https://a.example/old"]["status"] == "resolved"
    assert chains["https://a.example/old"]["final_url"] == (
        "https://a.example/real1")
    assert chains["https://a.example/old"]["n_hops"] == 2
    assert chains["https://a.example/older"]["n_hops"] == 1
    assert chains["https://a.example/c1"]["status"] == "cycle"
    assert chains["https://a.example/c1"]["final_url"] is None
    # shells dropped, content kept
    kept = {
        r["url"]
        for r in spark.read.parquet(
            f"{work}/stages/r1/pages_noredirect"
        ).collect()
    }
    assert kept == {"https://a.example/real1", "https://a.example/real2"}
    lineage = spark.read.parquet(f"{work}/lineage").collect()
    gate = [r for r in lineage if r["stage"] == "pages_redirect_gate"]
    assert gate and gate[0]["input_rows"] == 6
    assert gate[0]["output_rows"] == 2


def test_kg_run_ntriples_export_stage(spark, tmp_path):
    """Opt-in export_ntriples stage: the graph-facing edges serialize
    to N-Triples lines, the edges_ntriples stage lands on disk, the
    ntriples_export lineage row pins edges-in == lines-out, and the
    lines parse back to the exact edge set."""
    from pdf_metadata_extraction_spark.operators.ntriples import (
        parse_ntriples,
    )

    def page(u, body):
        return (u, (f"<html><body><p>{body}</p></body></html>").encode())

    rows = [
        page("https://a.example/1", "the spark engine and the spark planner"),
        page("https://a.example/2", "spark again"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgnt")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="nt1",
        export_ntriples=True,
    )
    nt = out["edges_ntriples"].collect()
    assert nt and all(r["line"].endswith(" .") for r in nt)
    assert all("\n" not in r["line"] for r in nt)
    # lines-out == graph-facing edges-in (edges_dedup here: no fusion)
    n_edges = out["edges_dedup"].count()
    assert len(nt) == n_edges
    # stage on disk + lineage row
    disk = spark.read.parquet(f"{work}/stages/nt1/edges_ntriples")
    assert disk.count() == n_edges
    lineage = spark.read.parquet(f"{work}/lineage").collect()
    le = [r for r in lineage if r["stage"] == "ntriples_export"]
    assert le and le[0]["input_rows"] == le[0]["output_rows"] == n_edges
    # the serialized lines invert to the exact (subj, pred, obj) set
    back = parse_ntriples(disk).collect()
    exp = out["edges_dedup"].select("subj", "pred", "obj").collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, exp))


def test_kg_run_tables_stage(spark, tmp_path):
    """Opt-in WebTables channel: header-row tables on surviving pages
    emit entity-attribute triples into a checkpointed edges_tables
    stage with a table_extraction lineage row; table-less pages emit
    nothing without erroring the stage."""
    def page(u, body):
        return (u, (f"<html><body>{body}</body></html>").encode())

    rows = [
        page(
            "https://a.example/1",
            "<p>the spark engine</p>"
            "<table><tr><th>K</th><th>V</th></tr>"
            "<tr><td>k1</td><td>v1</td></tr></table>",
        ),
        page("https://a.example/2", "<p>no table here</p>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgtb")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="tb1", tables=True
    )
    et = out["edges_tables"].collect()
    assert [(r.subj, r.pred, r.obj, r.provenance_url) for r in et] == [
        ("k1", "V", "v1", "https://a.example/1")
    ]
    assert spark.read.parquet(f"{work}/stages/tb1/edges_tables").count() == 1
    lineage = spark.read.parquet(f"{work}/lineage").collect()
    tl = [r for r in lineage if r["stage"] == "table_extraction"]
    assert tl and tl[0]["input_rows"] == 2 and tl[0]["output_rows"] == 1


def test_kg_run_every_stage_at_once(spark, tmp_path):
    """Stage-interaction insurance: EVERY opt-in stage enabled in one
    run on a tiny synthetic slice — the stages must compose (each
    gate's input is the previous gate's output), every advertised
    output key must exist, and the lineage must carry one row per
    enabled stage."""
    from pdf_metadata_extraction_spark.operators.extract import (
        extract_text,
    )
    pages = generate_pages(spark, 60).select("url", "warc_ts", "html")
    eval_df = extract_text(pages.limit(3))
    work = str(tmp_path / "kgall")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="all1",
        normalize_urls=True, follow_redirects=True, quality_gate=True,
        content_gate=True,
        decontam_eval=eval_df, domain_cap=50, segment_dedup=4,
        export_corpus=True, pack_seq_len=128,
        jsonld=True, tables=True, fuse=True, link_graph=True,
        export_ntriples=True,
    )
    for key in (
        "segments", "linked", "edges", "edges_dedup", "nodes",
        "corpus", "sequences", "host_edges", "host_ranks",
        "edges_jsonld", "edges_tables", "edges_fused",
        "edges_ntriples",
    ):
        assert key in out, f"missing stage output {key}"
    stages = {
        r["stage"]
        for r in spark.read.parquet(f"{work}/lineage").collect()
    }
    for stage in (
        "pages_quality_gate", "pages_content_gate", "pages_decontam_gate",
        "pages_domain_cap",
        "segments_boiler_gate", "jsonld_extraction", "table_extraction",
        "edges_fusion", "ntriples_export", "sequence_packing",
        "pipeline_total",
    ):
        assert stage in stages, f"missing lineage row {stage}"
    # the serializer consumed the FUSED facts (fusion ran)
    assert out["edges_ntriples"].count() == out["edges_fused"].count()
    # the synthetic corpus embeds head tables on ~1/4 of pages; the
    # aggressive gates may leave table-less survivors at this tiny
    # scale (they keep <2% — disclosed in bench), so the fires-at-all
    # claim is pinned on the RAW corpus, the composed-stage claim on
    # the lineage row above
    from pdf_metadata_extraction_spark.operators.structured import (
        table_triples,
    )

    assert table_triples(pages).count() > 0


def test_kg_run_frontier_stage(spark, tmp_path):
    """r5 verdict #8: the frontier composes end-to-end inside the
    runner — candidates from the run's own resolved outlinks, RFC 9309
    robots gate, politeness schedule ranked by the run's own host
    PageRank, crawl delays joined on — with urls-in / allowed /
    scheduled pinned in the lineage rows."""
    import pytest

    from pdf_metadata_extraction_spark.plans.kg_run import run_kg_pipeline
    from pdf_metadata_extraction_spark.sources.pages_synth import (
        generate_pages,
    )
    from pyspark.sql import functions as F

    # every page links to one allowed and one robots-forbidden url on
    # a never-crawled host, plus one already-crawled url (not frontier)
    pages = generate_pages(spark, 6, partitions=2).select(
        "url", "warc_ts",
        F.concat(
            "html",
            F.lit(b'<a href="https://new.example/ok/1">a</a>'),
            F.lit(b'<a href="https://new.example/private/1">b</a>'),
            F.concat(F.lit(b'<a href="'), F.col("url").cast("binary"),
                     F.lit(b'">self</a>')),
        ).alias("html"),
    )
    robots = spark.createDataFrame(
        [("new.example",
          "User-agent: *\nDisallow: /private/\nCrawl-delay: 3\n")],
        "host string, body string",
    )
    # sitemap-sourced candidates union into the frontier (one allowed,
    # one robots-forbidden, one already crawled — each path exercised)
    crawled_url = pages.select("url").first().url
    sitemaps = spark.createDataFrame(
        [("https://new.example/sitemap.xml",
          "<urlset>"
          "<url><loc>https://new.example/ok/from-sitemap</loc></url>"
          "<url><loc>https://new.example/private/sm</loc></url>"
          f"<url><loc>{crawled_url}</loc></url>"
          "</urlset>")],
        "url string, body string",
    )
    work = str(tmp_path / "kgf")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="fr1",
        link_graph=True, frontier=True, robots=robots,
        sitemaps=sitemaps,
    )
    sched = out["frontier"].collect()
    # the forbidden url and the crawled self-links are gone
    assert {r.url for r in sched} >= {
        "https://new.example/ok/1",
        "https://new.example/ok/from-sitemap",
    }
    assert all("/private/" not in r.url for r in sched)
    crawled = {r.url for r in pages.select("url").collect()}
    assert all(r.url not in crawled for r in sched)
    assert all(r.fetch_order >= 1 for r in sched)
    by_host = {}
    for r in sched:
        by_host.setdefault(r.host, set()).add(r.slot)
    assert all(len(s) == 1 for s in by_host.values())
    # crawl delay joined on for the declaring host, NULL elsewhere
    delays = {r.url: r.delay_s for r in sched}
    assert delays["https://new.example/ok/1"] == 3
    # lineage pins urls-in / allowed / scheduled
    rows = {
        r["stage"]: (r["input_rows"], r["output_rows"])
        for r in spark.read.parquet(f"{work}/lineage").collect()
    }
    n_cand = rows["frontier_candidates"][1]
    n_allowed = rows["frontier_robots_gate"][1]
    n_sched = rows["frontier_scheduling"][1]
    assert rows["frontier_robots_gate"][0] == n_cand
    # exactly the two /private/ urls (anchor- and sitemap-sourced)
    # dropped; the crawled sitemap loc never became a candidate
    assert n_allowed == n_cand - 2
    assert n_sched == n_allowed == len(sched)
    # frontier without the link graph is an explicit refusal
    with pytest.raises(ValueError, match="requires link_graph"):
        run_kg_pipeline(
            spark, pages, _options(spark), str(tmp_path / "kgf2"),
            run_id="fr2", frontier=True,
        )


def test_kg_run_content_gate(spark, tmp_path):
    """Opt-in main-content gate: the corpus export carries the
    link-density-kept article text (nav/footer stripped), the
    pages_main_content stage checkpoints with block counts, and the
    pages_content_gate lineage row pins pages-in vs pages-with-content
    (an all-furniture page yields empty text)."""
    article = (
        "the spark engine processes a perfectly ordinary paragraph of "
        "english text with enough words to pass the length gate "
        "comfortably and a pleasant mean word length overall"
    )
    nav = (
        "<div><a href='/a'>home</a> <a href='/b'>products</a> "
        "<a href='/c'>about</a></div>"
    )

    def page(u, body):
        return (u, (f"<html><body>{nav}{body}</body></html>").encode())

    rows = [
        page("https://a.example/1", f"<p>{article} one</p>"),
        page("https://a.example/2", f"<p>{article} two</p>"),
        page("https://a.example/3", ""),  # furniture only
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    work = str(tmp_path / "kgc")
    out = run_kg_pipeline(
        spark, pages, _options(spark), work, run_id="c1",
        content_gate=True, quality_gate=True, export_corpus=True,
    )
    lineage = {r["stage"]: r for r in
               spark.read.parquet(f"{work}/lineage").collect()
               if r["partition_range"] == "all"}
    gate = lineage["pages_content_gate"]
    assert gate["input_rows"] == 3 and gate["output_rows"] == 2
    mc = {
        r["url"]: r
        for r in spark.read.parquet(
            f"{work}/stages/c1/pages_main_content"
        ).collect()
    }
    assert mc["https://a.example/1"]["n_blocks_dropped"] >= 1
    assert mc["https://a.example/3"]["text"] == ""
    corpus = {r["url"]: r["text"] for r in out["corpus"].collect()}
    # furniture page fails the quality gate; kept texts are nav-free
    assert set(corpus) == {"https://a.example/1", "https://a.example/2"}
    assert all("home products" not in t for t in corpus.values())
    assert all(t.startswith("the spark engine") for t in corpus.values())
