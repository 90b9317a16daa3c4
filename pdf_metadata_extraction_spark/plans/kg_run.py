"""The production-shaped KG run: every stage checkpointed + lineage rows
(north rule: resumable from checkpoint with per-partition lineage +
metrics).

Stages (each materialized under {work_dir}/stages/{run_id}/{stage},
partitioned by url_bucket where applicable — a re-run with the same
run_id reuses finished stages instead of recomputing, and any url_bucket
range can be re-read independently):

    pages → segments → linked → edges → nodes (canonicalized)

On a cluster swap the parquet writes for Iceberg tables
(``writeTo(...).append()``) — the layout and resume semantics carry over
(Iceberg snapshot = our _SUCCESS marker).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators.canonicalize import canonicalize
from pdf_metadata_extraction_spark.operators.linking import link_options
from pdf_metadata_extraction_spark.operators.skew import DEFAULT_SALT, with_salt
from pdf_metadata_extraction_spark.operators.triples import triples_to_edges
from pdf_metadata_extraction_spark.plans.lineage import LineageWriter
from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    options: DataFrame,
    work_dir: str,
    run_id: str = "run0",
    extraction_name: str = "mentions",
    n_salt: int = DEFAULT_SALT,
    normalize_urls: bool = False,
    follow_redirects: bool = False,
    link_graph: bool = False,
    quality_gate: bool = False,
    content_gate: bool = False,
    decontam_eval: DataFrame | None = None,
    domain_cap: int | None = None,
    segment_dedup: int | None = None,
    export_corpus: bool = False,
    pack_seq_len: int | None = None,
    fuse: bool = False,
    jsonld: bool = False,
    tables: bool = False,
    export_ntriples: bool = False,
    frontier: bool = False,
    robots: DataFrame | None = None,
    sitemaps: DataFrame | None = None,
    frontier_agent: str = "*",
    frontier_slots: int = 64,
) -> dict[str, DataFrame]:
    """Full pipeline with stage checkpoints + lineage. Returns the stage
    DataFrames {segments, linked, edges, nodes} (+ {host_edges,
    host_ranks} when ``link_graph``).

    Every stage goes through one local helper, ``stage``. It checkpoints
    the stage's frame under the job description ``kg_run:{stage}``, and
    a fresh stage writes its ``all`` row, its per-partition rows and its
    gate/extraction row in ONE lineage append. A gate's input_rows is
    the count its upstream stage's checkpoint already took, so no frame
    is counted twice. A stage reused from disk runs no count job and
    appends no row: rerunning a finished ``run_id`` appends only
    ``pipeline_total``.

    ``normalize_urls``: opt-in ingest dedup — rewrite urls to canonical
    form and keep one fetch per canonical url (earliest warc_ts,
    deterministic tie-break) before anything keys on url; the cleaned
    pages are their own checkpointed stage (``pages_clean``).

    ``follow_redirects``: opt-in declarative-redirect gate (round-5) —
    pages declaring a ``<meta http-equiv=refresh>`` target are alias
    shells, not content: their bounded 3-hop chains are resolved
    (operators.links.resolve_redirect_chains — resolved / cycle /
    truncated statuses) into a checkpointed ``url_redirects`` stage (a
    canonicalization input and crawl-ledger audit table: cycles and
    truncated spam ladders are visible rows, not silent drops), and the
    shells themselves are dropped from the corpus (``pages_noredirect``
    stage + ``pages_redirect_gate`` lineage row). Runs after
    normalize_urls and before any text extraction — never spend the
    byte-identity extractor on a shell.

    ``quality_gate``: opt-in training-data keep-gate (round-4 verdict
    #8) — extract each page's text (the pipeline's own byte-identity
    extractor), apply the fused C4+Gopher quality_filter, then drop
    exact-duplicate texts (md5 groupwise, min-url survivor: total
    order, so re-runs checkpoint identical rows). Kept pages are their
    own checkpointed stage (``pages_quality``) and a
    ``pages_quality_gate`` lineage row records pages-in vs pages-kept,
    so the production lineage shows WHAT the gate dropped and why the
    edge counts downstream shrank. Runs after normalize_urls (dedup
    the fetches first, judge the content second). When the gate (or
    the corpus export) is on, the extracted text is materialized ONCE
    as its own ``pages_text`` stage and every consumer reads it — the
    byte-identity extractor never runs twice per page (the fused
    segment stage still tokenizes the kept pages for boxes/positions,
    which text alone cannot supply).

    ``content_gate``: opt-in main-content extraction (round-6) — the
    text every downstream text consumer (quality gate, decontam,
    corpus export, packing) reads becomes the page's link-density-kept
    MAIN content (operators.content.main_content: jusText signal —
    navigation, footers and link farms stripped) instead of the full
    page text; the (url, text, n_blocks_kept, n_blocks_dropped) table
    checkpoints as ``pages_main_content`` and a ``pages_content_gate``
    lineage row records pages-in vs pages-with-content (pages whose
    every block is furniture yield empty text and fall to the quality
    gate). The KG segment path is untouched — entity mentions in
    furniture are still the link graph's business, not the corpus's.

    ``decontam_eval``: opt-in benchmark decontamination (round-5) — a
    (url, text) DataFrame of evaluation-suite documents; pages whose
    extracted text is >= 50% 7-gram-covered by the eval set are
    dropped (operators.decontam.contamination — eval grams broadcast,
    corpus side map-only). Runs after the quality gate (don't spend
    the n-gram join on pages quality already rejected) and before the
    domain cap; records a ``pages_decontam_gate`` lineage row and
    checkpoints the kept pages as ``pages_decontam``. Reuses the
    once-materialized ``pages_text`` stage.

    ``domain_cap``: opt-in per-registered-domain page cap (round-5
    curation stage): at most N pages per PSL-aware registered domain,
    selected in md5(url) order (operators.sample.stratified_cap — the
    standard mega-domain bound for training corpora). Pages whose url
    yields NO registered domain (dotless hosts, unparseable) pass
    uncapped — an unattributable page must not share one global
    NULL-stratum budget. Runs after the quality gate; records a
    ``pages_domain_cap`` lineage row.

    ``segment_dedup``: opt-in boilerplate-segment gate (round-5) — a
    segment whose CCNet-normalized text (lowercase, trimmed, digits
    folded) recurs across >= ``segment_dedup`` distinct pages is
    template text (nav bar, cookie banner, footer) and is dropped
    BEFORE entity linking, so boilerplate never emits mention triples.
    The kept segments are their own checkpointed ``segments_kept``
    stage and a ``segments_boiler_gate`` lineage row records segments
    in/kept.  This gates the KG product only; the corpus export keeps
    full page text (boilerplate.drop_duplicated_lines is the
    text-level tool).

    ``export_corpus``: opt-in final product for a TRAINING-DATA run —
    the (url, text) corpus of every page that survived all enabled
    gates, checkpointed as the ``corpus_export`` stage (the table a
    tokenizer/packing job consumes; Iceberg in production).

    ``pack_seq_len``: opt-in training-sequence manifest (round-5,
    requires ``export_corpus``) — the exported corpus is packed
    GPT-style (operators.packing.pack_sequences: deterministic md5
    order, distributed two-pass prefix sum) into ``pack_seq_len``-token
    sequences; the placement table checkpoints as the
    ``sequence_manifest`` stage and a ``sequence_packing`` lineage row
    records corpus-docs-in vs sequences-out, completing the
    crawl → gates → corpus → tokenizer-feed lineage end-to-end.

    ``fuse``: opt-in knowledge fusion (round-5) — the conflict-
    resolution step between extraction and the graph-facing tables:
    one canonical object per (subj, pred) by one-vote-per-source
    majority with a deterministic tie-break
    (operators.fusion.fuse_edges), checkpointed as ``edges_fused``
    with an ``edges_fusion`` lineage row (assertions in → fused facts
    out). ``edges``/``edges_dedup`` keep every assertion; the fused
    table is the contradictions-resolved view serving layers read.

    ``jsonld``: opt-in structured-data channel (round-5) — schema.org
    JSON-LD islands lifted from the (post-gate) pages as
    publisher-asserted triples (operators.structured.jsonld_triples,
    map-only), checkpointed as ``edges_jsonld`` with a
    ``jsonld_extraction`` lineage row. The highest-precision edge
    source a web corpus offers, complementing the mention-derived
    ``edges``.

    ``tables``: opt-in WebTables channel (round-5) — header-row HTML
    tables on the (post-gate) pages lifted to entity-attribute triples
    (operators.structured.table_triples, map-only), checkpointed as
    ``edges_tables`` with a ``table_extraction`` lineage row. The
    third publisher-asserted edge source next to JSON-LD and metas.

    ``export_ntriples``: opt-in KG serializer (round-5) — the
    graph-facing edge table (``edges_fused`` when fusion ran, else
    ``edges_dedup``) serialized as W3C N-Triples lines
    (operators.ntriples.to_ntriples, map-only escape expressions),
    checkpointed as ``edges_ntriples`` with an ``ntriples_export``
    lineage row — the load file a downstream triple store ingests.

    ``link_graph``: opt-in web-graph product — RFC 3986-resolved
    anchors lifted to the host-level link graph (``host_edges`` stage)
    and ranked with checkpointed fixed-point PageRank (``host_ranks``
    stage; per-iteration parquet checkpoints live under the run's
    stage tree, so a killed run resumes mid-PageRank exactly like
    mid-CC, and each iteration writes a pr_iter_N lineage row).

    ``frontier``: opt-in next-crawl schedule (r5 verdict #8) — the
    frontier pieces composed end-to-end from the run's OWN outputs:
    resolved outlink urls the corpus references but never crawled,
    unioned with the ``<loc>`` urls of the optional ``sitemaps``
    fixture table ``(url, body)`` (parse_sitemap; kind='url' rows —
    index recursion is the fetch scheduler's loop, upstream of this
    stage) into the ``frontier_candidates`` stage, gated on the
    ``robots`` fixture table ``(host, body)`` per RFC 9309 when given
    (``frontier_allowed`` stage + ``frontier_robots_gate`` lineage
    row: urls-in vs allowed), then politeness-scheduled with
    ``schedule_frontier`` — slot = md5(host) shard, within-slot
    fetch_order by the run's own ``host_ranks`` PageRank desc (the
    two-pass global-rank shape, never a slot-sized window) — and
    joined with each host's RFC 9309 ``Crawl-delay`` (broadcast; NULL
    = crawler default). Requires ``link_graph=True``; checkpoints as
    ``frontier_schedule`` (url, host, slot, fetch_order, delay_s)
    with a ``frontier_scheduling`` lineage row."""
    lw = LineageWriter(spark, work_dir, run_id)
    t0 = time.monotonic()
    # each frame a fresh stage wrote, beside the row count its
    # checkpoint took: a stage's input_rows is its upstream's count,
    # never a recount
    counted: list[tuple[DataFrame, int]] = []

    def rows(df: DataFrame) -> int:
        for f, n in counted:
            if f is df:
                return n
        # the run's input, or a stage reused from disk: counted only
        # when a freshly run stage needs it
        n = df.count()
        counted.append((df, n))
        return n

    def stage(
        name: str,
        df: DataFrame | Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        gate: tuple[str, DataFrame] | None = None,
        channel: tuple[str, DataFrame] | None = None,
        out_rows: Callable[[DataFrame], int] | None = None,
        schema: str | None = None,
    ) -> DataFrame:
        """Checkpoint one stage, its jobs described as ``kg_run:{name}``.
        A stage already on disk is read back: no job, no lineage row.
        A fresh stage writes its ``all`` row, its per-partition rows and
        its gate/extraction row in ONE lineage append.

        ``gate=(row, src)``: the stage keeps a subset of ``src``; its
        ``all`` row and the ``row`` row both carry src's count as
        input_rows. ``channel=(row, src)``: the stage derives a new
        table from ``src``; only the ``row`` row carries src's count.
        The row's output_rows is the stage's count, or
        ``out_rows(frame)`` when given.

        ``df`` may instead be a function that builds the frame, for a
        build that runs jobs of its own (PageRank iterations, connected
        components rounds): it is called only when the stage is not on
        disk, and ``schema`` is the schema the stage is read back with."""
        with _job_description(spark, f"kg_run:{name}"):
            if lw.committed(name):
                return lw.read_stage(name, schema or df.schema)
            if callable(df):
                df = df()
            t = time.monotonic()
            row, src = gate or channel or (None, None)
            n_in = -1 if src is None else rows(src)
            out, lineage = lw.write_stage(
                name, df, partition_by, n_in if gate else -1
            )
            n_out = lineage[0][4]  # the all row's output_rows
            counted.append((out, n_out))
            if row is not None:
                lineage.append((
                    row, "all", 0, n_in,
                    out_rows(out) if out_rows else n_out,
                    int((time.monotonic() - t) * 1000),
                ))
            lw.append(lineage)
            return out

    # page stages keep the input's columns, so they share its layout
    by_bucket = ["url_bucket"] if "url_bucket" in pages.columns else None
    out_extra: dict[str, DataFrame] = {}

    if normalize_urls:
        from pdf_metadata_extraction_spark.operators.urlnorm import (
            canonicalize_urls,
            dedup_pages_by_canonical_url,
        )

        # quarantine audit beside the drop: the lineage table must be
        # able to show that input_rows > output_rows and say why
        pages = stage(
            "pages_clean", dedup_pages_by_canonical_url(pages), by_bucket,
            gate=("pages_quarantined", pages),
            out_rows=lambda _: canonicalize_urls(pages)
            .where(F.col("canonical_url").isNull())
            .count(),
        )

    if follow_redirects:
        from pdf_metadata_extraction_spark.operators.links import (
            resolve_redirect_chains,
            with_meta_refresh,
        )

        redirects = (
            with_meta_refresh(pages.select("url", "html"))
            .where(F.col("refresh_abs").isNotNull())
            .select(
                F.col("url").alias("src"),
                F.col("refresh_abs").alias("dst"),
            )
        )
        chains = stage(
            "url_redirects", resolve_redirect_chains(redirects, max_hops=3)
        )
        out_extra["url_redirects"] = chains
        # a refresh page is an alias shell, not content: drop it from
        # the corpus; the url_redirects stage keeps (src, final_url,
        # n_hops, status) so canonicalization can alias resolved
        # chains and a crawl ledger can audit cycles/truncations
        pages = stage(
            "pages_noredirect",
            pages.join(
                chains.select(F.col("src").alias("url")), "url", "left_anti"
            ),
            by_bucket, gate=("pages_redirect_gate", pages),
        )

    txt = None
    if (
        quality_gate
        or export_corpus
        or content_gate
        or decontam_eval is not None
    ):
        if content_gate:
            from pdf_metadata_extraction_spark.operators.content import (
                main_content,
            )

            mc = main_content(pages.select("url", "html")).select(
                "url",
                F.col("main_text").alias("text"),
                "n_blocks_kept",
                "n_blocks_dropped",
            )
            txt = stage(
                "pages_main_content", mc,
                channel=("pages_content_gate", pages),
                out_rows=lambda m: m.where(F.col("n_blocks_kept") > 0).count(),
            ).select("url", "text")
        else:
            from pdf_metadata_extraction_spark.operators.extract import (
                extract_text,
            )

            # the byte-identity extractor runs ONCE; the gate and the
            # corpus export both read this stage
            txt = stage("pages_text", extract_text(pages.select("url", "html")))

    if quality_gate:
        from pyspark.sql import Window

        from pdf_metadata_extraction_spark.operators.textstats import (
            quality_filter,
        )

        passing = quality_filter(txt, id_col="url", text_col="text").select(
            F.col("id").alias("url")
        )
        # exact-dup drop among quality-passing pages: md5(text) groups,
        # min-url survivor (total order — two urls never tie)
        hashed = txt.join(passing, "url", "left_semi").select(
            "url", F.md5(F.coalesce("text", F.lit(""))).alias("_h")
        )
        wq = Window.partitionBy("_h").orderBy("url")
        survivors = (
            hashed.withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") == 1)
            .select("url")
        )
        pages = stage(
            "pages_quality", pages.join(survivors, "url", "left_semi"),
            by_bucket, gate=("pages_quality_gate", pages),
        )

    if decontam_eval is not None:
        from pdf_metadata_extraction_spark.operators.decontam import (
            contamination,
        )

        # only judge pages still alive after the earlier gates
        live_txt = txt.join(pages.select("url"), "url", "left_semi")
        clean = (
            contamination(
                live_txt, decontam_eval, id_col="url", text_col="text"
            )
            .where(F.col("contaminated") == 0)
            .select("url")
        )
        pages = stage(
            "pages_decontam", pages.join(clean, "url", "left_semi"),
            by_bucket, gate=("pages_decontam_gate", pages),
        )

    if domain_cap is not None:
        from pdf_metadata_extraction_spark.operators.sample import (
            stratified_cap,
        )
        from pdf_metadata_extraction_spark.operators.urlnorm import (
            canonicalize_urls,
        )

        doms = canonicalize_urls(pages.select("url")).select(
            "url", "registered_domain"
        )
        with_dom = doms.where(F.col("registered_domain").isNotNull())
        kept_dom = stratified_cap(
            with_dom, "registered_domain", "url", domain_cap
        ).select("url")
        # unattributable pages (no registered domain) pass uncapped
        keep = kept_dom.unionByName(
            doms.where(F.col("registered_domain").isNull()).select("url")
        )
        pages = stage(
            "pages_domain_capped", pages.join(keep, "url", "left_semi"),
            by_bucket, gate=("pages_domain_cap", pages),
        )

    if export_corpus:
        # the (url, text) table a tokenizer/packing job consumes —
        # texts of pages every enabled gate kept
        corpus = stage(
            "corpus_export", txt.join(pages.select("url"), "url", "left_semi")
        )
        out_extra["corpus"] = corpus
        if pack_seq_len is not None:
            from pdf_metadata_extraction_spark.operators.packing import (
                pack_sequences,
            )

            out_extra["sequences"] = stage(
                "sequence_manifest",
                pack_sequences(
                    corpus, pack_seq_len, id_col="url", text_col="text"
                ),
                channel=("sequence_packing", corpus),
                out_rows=lambda m: m.select("seq_id").distinct().count(),
            )
    if link_graph:
        from pdf_metadata_extraction_spark.operators.graph import (
            pagerank_fixed,
        )
        from pdf_metadata_extraction_spark.operators.links import (
            host_link_edges,
        )

        pages_txt = pages.select(
            "url", F.col("html").cast("string").alias("html_text")
        )
        host_edges = stage("host_edges", host_link_edges(pages_txt))
        out_extra["host_edges"] = host_edges
        out_extra["host_ranks"] = stage(
            "host_ranks",
            lambda: pagerank_fixed(
                host_edges.select(
                    F.col("src_host").alias("id_a"),
                    F.col("dst_host").alias("id_b"),
                ),
                iters=3,
                checkpoint_dir=lw.stage_path("host_rank_iters"),
                lineage=lw,
            ),
            schema="node string, rank bigint",
        )

    if frontier:
        if not link_graph:
            raise ValueError(
                "frontier=True requires link_graph=True: the schedule "
                "orders hosts by the run's own host_ranks PageRank"
            )
        from pdf_metadata_extraction_spark.operators.links import (
            extract_links,
            resolve_hrefs,
        )
        from pdf_metadata_extraction_spark.operators.robots import (
            crawl_delays,
            parse_robots,
            robots_allowed,
            schedule_frontier,
        )

        pages_txt = pages.select(
            "url", F.col("html").cast("string").alias("html_text")
        )
        cand = (
            resolve_hrefs(extract_links(pages_txt))
            .where(F.col("abs_url").isNotNull())
            .select(F.col("abs_url").alias("url"))
        )
        if sitemaps is not None:
            from pdf_metadata_extraction_spark.operators.sitemap import (
                parse_sitemap,
            )

            cand = cand.unionAll(
                parse_sitemap(sitemaps)
                .where(F.col("kind") == "url")
                .select(F.col("loc").alias("url"))
            )
        cand = cand.distinct().join(
            pages.select("url"), "url", "left_anti"
        )
        cand = stage("frontier_candidates", cand)
        allowed = cand
        if robots is not None:
            rules = parse_robots(robots)
            allowed = stage(
                "frontier_allowed",
                robots_allowed(cand, rules, agent=frontier_agent)
                .where(F.col("robots_allowed"))
                .select("url"),
                gate=("frontier_robots_gate", cand),
            )
        sched = schedule_frontier(
            allowed,
            ranks=out_extra["host_ranks"].select(
                F.col("node").alias("host"), "rank"
            ),
            n_slots=frontier_slots,
        )
        if robots is not None:
            # host-keyed and tiny by protocol — broadcast, never shuffle
            # the frontier for a delay lookup
            sched = sched.join(
                F.broadcast(crawl_delays(robots, agent=frontier_agent)),
                "host", "left",
            )
        else:
            sched = sched.withColumn(
                "delay_s", F.lit(None).cast("long")
            )
        out_extra["frontier"] = stage(
            "frontier_schedule", sched, gate=("frontier_scheduling", cand)
        )

    segs = segments_from_pages(pages).withColumn(
        "extraction_name", F.lit(extraction_name)
    )
    # deterministic salt rides along so a resumed bucket recomputes with
    # the same layout (SURVEY.md §7.3 #4)
    segs = stage("segments", with_salt(segs, "url", n_salt), ["salt"])

    if segment_dedup is not None:
        from pdf_metadata_extraction_spark.operators.boilerplate import (
            duplicated_line_hashes,
            line_hash_col,
        )

        dup = duplicated_line_hashes(
            segs, "url", "text", min_docs=segment_dedup
        )
        kept = (
            segs.withColumn("lh", line_hash_col("text"))
            .join(dup, "lh", "left_anti")
            .drop("lh")
        )
        segs = stage(
            "segments_kept", kept, ["salt"],
            gate=("segments_boiler_gate", segs),
        )

    linked = link_options(segs, options).where(F.size("values") > 0)
    linked = stage("linked", linked, ["salt"])

    edges = triples_to_edges(
        linked.select(
            F.lit(run_id).alias("run_name"), "extraction_name", "url",
            F.col("url").alias("entity_name"),
            F.lit(None).cast("string").alias("text"), "values",
            F.col("text").alias("segment_text"),
            F.col("page").alias("page_number"),
            F.col("boxes").alias("segments_boxes"),
        )
    )
    edges = stage("edges", edges)

    # canonical edge set: distinct (subj, pred, obj) — provenance rows stay
    # in the `edges` stage; this is the graph-facing table (SURVEY §2.6)
    edges_dedup = stage(
        "edges_dedup", edges.dropDuplicates(["subj", "pred", "obj"])
    )

    if jsonld:
        # structured-data channel: publisher-asserted triples from the
        # JSON-LD islands of the pages that survived the gates
        from pdf_metadata_extraction_spark.operators.structured import (
            jsonld_triples,
        )

        out_extra["edges_jsonld"] = stage(
            "edges_jsonld", jsonld_triples(pages),
            channel=("jsonld_extraction", pages),
        )

    if tables:
        # WebTables channel: entity-attribute triples from header-row
        # HTML tables of the pages that survived the gates
        from pdf_metadata_extraction_spark.operators.structured import (
            table_triples,
        )

        out_extra["edges_tables"] = stage(
            "edges_tables", table_triples(pages),
            channel=("table_extraction", pages),
        )

    if fuse:
        # knowledge fusion: ONE object per (subj, pred) by source-vote
        # majority with deterministic tie-break (operators/fusion.py) —
        # the conflict-resolution step between extraction and the
        # graph-facing tables; `edges_fusion` lineage records how many
        # provenance-level assertions collapsed into fused facts
        from pdf_metadata_extraction_spark.operators.fusion import (
            fuse_edges as _fuse_edges,
        )

        out_extra["edges_fused"] = stage(
            "edges_fused", _fuse_edges(edges),
            channel=("edges_fusion", edges),
        )

    if export_ntriples:
        # final-mile serializer: the graph-facing edge table (fused
        # facts when fusion ran, else the canonical distinct edges) as
        # W3C N-Triples lines — what a downstream triple store loads.
        # Checkpointed like every stage (parquet, resumable); a real
        # deployment writes the same DataFrame with .write.text to get
        # the .nt files (lines are newline-free by construction).
        from pdf_metadata_extraction_spark.operators.ntriples import (
            to_ntriples,
        )

        nt_src = out_extra.get("edges_fused", edges_dedup)
        out_extra["edges_ntriples"] = stage(
            "edges_ntriples", to_ntriples(nt_src),
            channel=("ntriples_export", nt_src),
        )

    # canonicalize object surface forms (obj strings) → nodes table
    surface = edges.select(F.col("obj").alias("id")).distinct().withColumn(
        "text", F.col("id")
    )
    # CC rounds checkpoint under the run's stage tree: a killed run
    # resumes mid-canonicalization (rounds are deterministic)
    nodes = stage(
        "nodes",
        lambda: canonicalize(
            surface, "id", "text", lineage=lw,
            cc_checkpoint_dir=lw.stage_path("nodes_cc_rounds"),
        ).select(
            F.col("id").alias("node_id"),
            F.col("canonical_id"),
        ),
        schema="node_id string, canonical_id string",
    )

    lw.record("pipeline_total", input_rows=-1, output_rows=rows(edges),
              wall_ms=int((time.monotonic() - t0) * 1000))
    return {"segments": segs, "linked": linked, "edges": edges,
            "edges_dedup": edges_dedup, "nodes": nodes, **out_extra}


@contextmanager
def _job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Describe the jobs the block runs (Spark's status store groups
    jobs by description); the caller's description comes back after."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(prev)
