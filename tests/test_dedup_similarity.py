"""Tests for the scale-path operators: dedup suite, canonicalization,
similarity search, text stats, watermark consume."""

import pytest
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import dedup, similarity, textstats
from pdf_metadata_extraction_spark.operators.canonicalize import (
    canonicalize,
    connected_components,
    lsh_candidate_pairs,
    minhash_signature,
    shingles,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick  brown fox jumps over the lazy dog"),  # ws/case dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (4, "completely different text about spark engines"),
        (5, "completely different text about spark engines"),  # exact dup of 4
        (6, "le renard brun rapide saute par dessus le chien paresseux"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string").cache()


def test_exact_duplicates(spark, docs):
    out = {r["canonical_id"]: r for r in
           dedup.exact_duplicates(docs, "doc_id", with_members=True).collect()}
    assert set(out) == {1, 4}
    assert out[1]["member_ids"] == [1, 2]
    assert out[4]["n_dups"] == 2
    # scale shape: narrow per-member mapping, no arrays
    mem = {r["id"]: r for r in
           dedup.duplicate_membership(docs, "doc_id").collect()}
    assert set(mem) == {1, 2, 4, 5}
    assert mem[2]["canonical_id"] == 1 and not mem[2]["is_canonical"]
    assert mem[1]["is_canonical"]


def test_simhash_near_dup(spark, docs):
    rows = {r["id"]: r for r in dedup.simhash(docs, "doc_id").collect()}
    sims = {i: int(r["simhash"], 16) for i, r in rows.items()}
    # 64-bit fingerprint carried as hex16; band columns are its 4 slices
    assert all(len(r["simhash"]) == 16 for r in rows.values())
    for i, r in rows.items():
        assert sims[i] == (
            (r["band_0"] << 48) | (r["band_1"] << 32) | (r["band_2"] << 16) | r["band_3"]
        )
    assert sims[1] == sims[2]  # normalized identical
    # near-dup differs in few bits; unrelated differs in many
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sims[1], sims[3]) <= hamming(sims[1], sims[4])


def test_simhash_band_pairs(spark, docs):
    """Banded Hamming search finds the identical pair at distance 0 and
    never emits a pair above the threshold."""
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             dedup.simhash_band_pairs(docs, "doc_id", max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    assert all(h <= 3 for h in pairs.values())


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, "doc_id", min_jaccard=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (4, 5) in pairs and pairs[(4, 5)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_minhash_lsh_and_canonicalize(spark, docs):
    sigs = minhash_signature(shingles(docs, "doc_id", "text"))
    assert sigs.count() == 6
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs and (4, 5) in pairs
    canon = {r["doc_id"]: r["canonical_id"] for r in
             canonicalize(docs, "doc_id", "text").collect()}
    assert canon[1] == canon[2] == 1
    assert canon[4] == canon[5] == 4
    assert canon[6] == 6


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "id_a string, id_b string"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]), (5, [0.8, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = similarity.cosine_topk(df, df.where("vec_id = 1"), k=2)
    got = [(r["match_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (5, 2)]


def test_lsh_topk_subset_of_bucket(spark):
    import random
    random.seed(7)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = similarity.lsh_topk(df, df.where("vec_id < 3"), k=3, dim=8, n_planes=3)
    pdf = out.toPandas()
    assert set(pdf["query_id"]) <= {0, 1, 2}
    assert (pdf["rank"] <= 3).all()


def test_textstats(spark, docs):
    lang = {r["id"]: r["detected_lang"] for r in
            textstats.detect_language(docs, "doc_id").collect()}
    assert lang[1] == "en" and lang[6] == "fr"
    q = {r["id"]: r for r in textstats.quality_score(docs, "doc_id").collect()}
    assert 0.0 <= q[1]["quality"] <= 1.0 and q[1]["alpha_ratio"] > 0.7
    tc = {r["id"]: r for r in textstats.token_counts(docs, "doc_id").collect()}
    assert tc[1]["ws_tokens"] == 9
    fp = {r["id"]: r for r in textstats.fingerprint(docs, "doc_id").collect()}
    assert fp[1]["fp_md5"] == fp[2]["fp_md5"]
    assert fp[1]["fp_int"] == fp[2]["fp_int"] and fp[1]["fp_int"] != fp[4]["fp_int"]


def test_watermark_consume_once(spark, tmp_path):
    from pdf_metadata_extraction_spark.operators.watermark import (
        WatermarkStore, consume,
    )
    df = spark.createDataFrame(
        [("r", "e", i, f"doc{i}") for i in range(5)],
        "run_name string, extraction_name string, seq long, payload string",
    )
    store = WatermarkStore(str(tmp_path / "wm.json"))
    first = consume(df, store, "r", "e", "labeled_data")
    assert first.count() == 5
    # pinned consume-once semantics (reference test_app.py:501-547)
    second = consume(df, store, "r", "e", "labeled_data")
    assert second.count() == 0


def test_task_stream_validation(spark, tmp_path):
    from pdf_metadata_extraction_spark.streaming.tasks import parse_tasks
    raw = spark.createDataFrame(
        [
            ('{"tenant":"t","task":"create_model","params":{"id":"x"}}',),
            ('not json at all',),
            ('{"tenant":"t","task":"bogus","params":{"id":"y"}}',),
            ('{"tenant":"t","task":"suggestions","params":{"id":"z"}}',),
        ],
        "value string",
    )
    out = parse_tasks(raw).collect()
    assert sorted(r["params"]["id"] for r in out) == ["x", "z"]


def test_connected_components_long_chain(spark):
    """Large/small-star converges on a long chain (diameter ≫ rounds) —
    plain min-propagation would need diameter rounds (SURVEY §7.3 #3)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert all(comp[i] == 0 for i in range(61))


def test_connected_components_mega_star(spark):
    """One 100k-member star (hub node 0) — the mega-component shape of
    near-dup graphs (boilerplate pages). The star rounds must keep rows
    narrow: no node ever materializes its whole neighborhood in one row
    (the round-1 collect_set formulation OOMs here at 10⁸⁺ scale)."""
    n = 100_000
    edges = spark.range(1, n).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    comp = connected_components(edges)
    agg = comp.groupBy("component").count().collect()
    assert len(agg) == 1 and agg[0]["component"] == 0 and agg[0]["count"] == n


def test_cc_star_round_no_window_and_exact_rows(spark):
    """Round-7 hub contract: a star round's per-node min is a partial-
    aggregated groupBy joined back on the same key — the plan must
    contain NO Window operator (the pre-r7 per-key window was the
    reason the salted-hub branch existed). Row set pinned against a
    python recompute of the Kiveris star definition."""
    from pdf_metadata_extraction_spark.operators.canonicalize import (
        _cc_star,
    )

    pairs = [(0, i) for i in range(1, 20)] + [(30, 31), (31, 32), (40, 41)]
    cur = spark.createDataFrame(pairs, "u long, v long")
    for large in (True, False):
        df = _cc_star(cur, large=large)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "windowspecdefinition" not in plan, plan
        # python reference: m(u) = min(u ∪ neighbors(u)) on the
        # symmetrized graph; large keeps v > u rows, small keeps v <= u
        sym = pairs + [(b, a) for a, b in pairs]
        mins = {}
        for a, b in sym:
            mins[a] = min(mins.get(a, a), b)
        expect = set()
        for a, b in sym:
            if (b > a) if large else (b <= a):
                if b != mins[a]:
                    expect.add((b, mins[a]))
        for a in mins:
            if a != mins[a]:
                expect.add((a, mins[a]))
        got = {(r["u"], r["v"]) for r in df.collect()}
        assert got == expect, large


def test_connected_components_mega_hub_converges_bounded(spark):
    """1M-edge single star (hub node 0): with the agg+join star, the
    hub key reaches its reducer as per-map-task partial mins (never its
    full row set), and CC converges to one component."""
    from pdf_metadata_extraction_spark.operators.canonicalize import (
        connected_components,
    )

    n = 1_000_000
    edges = spark.range(1, n).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    comp = connected_components(edges)
    agg = comp.groupBy("component").count().collect()
    assert len(agg) == 1 and agg[0]["component"] == 0 and agg[0]["count"] == n


def test_ivf_topk_equals_bruteforce_at_full_probe(spark):
    """IVF with nprobe == n_clusters is exactly brute force (correctness
    anchor); with nprobe=1 results are a valid ranked subset."""
    import random
    random.seed(11)
    rows = [(i, [random.random() - 0.5 for _ in range(8)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    queries = df.where("vec_id < 4")
    brute = {(r["query_id"], r["rank"]): r["match_id"] for r in
             similarity.cosine_topk(df, queries, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["match_id"] for r in
            similarity.ivf_topk(df, queries, k=3, n_clusters=4, nprobe=4).collect()}
    assert brute == full
    probe1 = similarity.ivf_topk(df, queries, k=3, n_clusters=4, nprobe=1).toPandas()
    assert (probe1["rank"] <= 3).all()
    assert set(probe1["query_id"]) <= {0, 1, 2, 3}


def test_link_embeddings_argmax(spark):
    """Broadcast entity-catalog linking: per-mention argmax cosine,
    deterministic lowest-entity-id tie-break, min_sim floor applied."""
    ents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    mentions = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.1, 0.9]), (12, [-1.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    out = {r["mention_id"]: r for r in
           similarity.link_embeddings(mentions, ents, min_sim=0.0).collect()}
    assert out[10]["entity_id"] == 0
    assert out[11]["entity_id"] == 1  # ties with entity 2 → lowest id wins
    assert out[12]["entity_id"] == 1 and out[12]["sim"] == 0.0  # orthogonal
    floored = {r["mention_id"] for r in
               similarity.link_embeddings(mentions, ents, min_sim=0.5).collect()}
    assert floored == {10, 11}  # sim floor drops the orthogonal mention


def test_lsh_candidate_pairs_bucket_cap(spark):
    """max_bucket_size drops boilerplate mega-buckets before the
    quadratic self-join: 100 identical shells would contribute 4,950
    pairs; with the cap only the small legitimate bucket survives."""
    rows = [(i, "identical boilerplate shell page") for i in range(100)]
    rows += [(1000, "a unique real document body"), (1001, "a unique real document body")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sigs = minhash_signature(shingles(df, "doc_id", "text"), perms=4)
    capped = lsh_candidate_pairs(sigs, perms=4, bands=1, max_bucket_size=10)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert pairs == {(1000, 1001)}
    full = lsh_candidate_pairs(sigs, perms=4, bands=1).count()
    assert full == 4950 + 1


def test_ngram_jaccard_for_pairs_dedups_candidate_input(spark, docs):
    """Regression (round-2 ADVICE): duplicated (id_a,id_b) candidate rows
    must not inflate the intersection count (jaccard stayed <= 1 only
    because lsh_candidate_pairs happened to end in distinct())."""
    clean = spark.createDataFrame([(1, 3)], "id_a int, id_b int")
    doubled = clean.unionByName(clean)
    a = dedup.ngram_jaccard_for_pairs(docs, clean, "doc_id", min_jaccard=0.0)
    b = dedup.ngram_jaccard_for_pairs(docs, doubled, "doc_id", min_jaccard=0.0)
    ra, rb = a.collect(), b.collect()
    assert len(ra) == len(rb) == 1
    assert ra[0]["jaccard"] == rb[0]["jaccard"] <= 1.0


def test_lsh_recall_gate_defaults(spark):
    """The shipped lsh_topk defaults must clear recall@3 >= 0.9 on the
    clustered corpus (round-2 verdict: the old default n_probe_bits=1
    recalled 0.208 on hard data with no gate anywhere)."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["lsh_recall_gate"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_exact"] == 60
    assert row["recall_ok"], row
    assert row["recall"] >= 0.9


def test_lang_id_ngram_beats_marker_heuristic_on_short_texts(spark):
    """Round-2 verdict #5: short (<100 char) texts contain no full marker
    word, so the marker heuristic returns 'und' (or misfires on shared
    stopwords like de 'es'); the trigram model must identify all of them."""
    shorts = [
        (1, "bonjour, comment allez-vous aujourd'hui?", "fr"),
        (2, "guten morgen, wie geht es dir heute?", "de"),
        (3, "hello there, how are you doing today?", "en"),
        (4, "buenos dias, como estas esta manana?", "es"),
        (5, "goedemorgen, hoe gaat het vandaag met je?", "nl"),
        (6, "bom dia, como voce esta se sentindo hoje?", "pt"),
        (7, "buongiorno, come stai oggi amico mio?", "it"),
        (8, "selamat pagi, apa kabar hari ini?", "id"),
        (9, "god morgon, hur mar du idag min van?", "sv"),
        (10, "merhaba, bugun nasilsin arkadasim?", "tr"),
    ]
    assert all(len(t) < 100 for _, t, _ in shorts)
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in shorts], "doc_id long, text string"
    )
    ng = {r["id"]: r["detected_lang"]
          for r in textstats.detect_language_ngram(df, "doc_id").collect()}
    mk = {r["id"]: r["detected_lang"]
          for r in textstats.detect_language(df, "doc_id").collect()}
    assert all(ng[i] == want for i, _, want in shorts), ng
    marker_correct = sum(mk[i] == want for i, _, want in shorts)
    assert marker_correct <= 5  # the gap the n-gram model closes


def test_incremental_lsh_membership(spark):
    """Batch-vs-corpus near-dup candidates: a perturbed copy probes
    the PERSISTED corpus band table and finds its original; a disjoint
    new doc finds nothing; corpus shingles are never recomputed (the
    probe consumes only the bucket rows)."""
    from pdf_metadata_extraction_spark.operators.canonicalize import (
        band_buckets,
        lsh_membership_candidates,
        minhash_signature,
        shingles,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again"),
         (2, "an entirely different corpus document about databases")],
        "doc_id long, text string",
    )
    cb = band_buckets(
        minhash_signature(shingles(corpus, "doc_id", "text"), perms=4),
        perms=4, bands=2,
    )
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog AGAIN"),
         (11, "zzz completely novel content unlike anything before zzz")],
        "doc_id long, text string",
    )
    bs = minhash_signature(shingles(batch, "doc_id", "text"), perms=4)
    got = {(r["new_id"], r["corpus_id"])
           for r in lsh_membership_candidates(bs, cb, perms=4, bands=2).collect()}
    assert (10, 1) in got
    assert all(n != 11 for n, _ in got)


def test_incremental_exact_dedup(spark):
    """Batch-vs-corpus dedup: corpus hashes never rescan, the batch
    classifies three ways (corpus_dup / batch_dup / novel with the
    min-id survivor), and updated_hashes is exactly corpus ∪ novel —
    the state the NEXT increment consumes."""
    from pdf_metadata_extraction_spark.operators import text

    corpus_docs = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], "doc_id long, text string"
    )
    corpus_hashes = corpus_docs.select(
        F.md5(text.fold("text")).alias("text_hash")
    )
    batch = spark.createDataFrame(
        [
            (10, "ALPHA   text"),   # normalizes onto corpus hash
            (11, "gamma text"),     # novel (survivor)
            (12, "gamma text"),     # batch dup of 11
            (13, "delta text"),     # novel
        ],
        "doc_id long, text string",
    )
    classified, updated = dedup.incremental_exact(batch, corpus_hashes)
    got = {r["id"]: r["status"] for r in classified.collect()}
    assert got == {10: "corpus_dup", 11: "novel", 12: "batch_dup",
                   13: "novel"}
    assert updated.count() == 4  # 2 corpus + 2 novel

    # chaining: re-running the SAME batch against updated_hashes makes
    # everything a corpus_dup (idempotent increments)
    again, _ = dedup.incremental_exact(batch, updated)
    assert {r["status"] for r in again.collect()} == {"corpus_dup"}


def test_hash_sample_and_stratified_cap(spark):
    """hash_sample is deterministic and salt-disjoint; stratified_cap
    keeps exactly min(cap, stratum size) rows per stratum with a
    stable md5-ordered pick."""
    from pdf_metadata_extraction_spark.operators.sample import (
        hash_sample,
        stratified_cap,
    )

    d = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("src"),
    )
    s1 = {r["doc_id"] for r in hash_sample(d, "doc_id", 100_000).collect()}
    s2 = {r["doc_id"] for r in hash_sample(d, "doc_id", 100_000).collect()}
    assert s1 == s2 and 120 < len(s1) < 280  # ~10%, deterministic
    s_salt = {r["doc_id"]
              for r in hash_sample(d, "doc_id", 100_000, salt="b:").collect()}
    assert s_salt != s1  # a different salt is a different slice
    # rate monotonicity: a bigger rate strictly contains a smaller one
    s_big = {r["doc_id"] for r in hash_sample(d, "doc_id", 300_000).collect()}
    assert s1 < s_big

    capped = stratified_cap(d, "src", "doc_id", 25)
    per = {r["src"]: r["n"] for r in
           capped.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert set(per.values()) == {25}
    # stable selection across invocations
    pick1 = sorted(tuple(r) for r in capped.collect())
    pick2 = sorted(tuple(r)
                   for r in stratified_cap(d, "src", "doc_id", 25).collect())
    assert pick1 == pick2


def test_winnow_fingerprints_detect_partial_copy(spark):
    """Winnowing guarantee (Schleimer et al.): docs sharing a substring
    of length >= w+k-1 (= 11 at the defaults) share >= 1 fingerprint;
    the fp table is the partial-copy primitive whole-doc hashing lacks."""
    shared = "the united nations general assembly met in new york"
    rows = [
        (1, "intro paragraph alpha. " + shared + " closing words beta."),
        (2, "totally different opening. " + shared),
        (3, "no overlap with anything else here at all, none whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = textstats.winnow_fingerprints(df, "doc_id")
    by_doc = {
        i: {r["fp"] for r in fps.where(F.col("id") == i).collect()}
        for i in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2]          # shared substring detected
    assert not (by_doc[1] & by_doc[3])    # disjoint docs share nothing
    assert not (by_doc[2] & by_doc[3])
    # whole-doc fingerprints CANNOT see the partial copy (distinct texts)
    whole = {r["fp_md5"] for r in textstats.fingerprint(df, "doc_id").collect()}
    assert len(whole) == 3


def test_bm25_ranking_semantics(spark):
    """BM25: rare query terms outweigh common ones (idf), repeated terms
    saturate (k1), and docs without any query term never appear."""
    from pdf_metadata_extraction_spark.operators.search import bm25_rank

    rows = [
        (1, "rareword appears here once amid other text padding words"),
        (2, "common common common common common nothing else but filler"),
        (3, "common rareword together in one document of medium length"),
        (4, "totally unrelated content with no relevant query words"),
    ] + [(10 + i, "common filler text block") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_rank(df, ["rareword", "common"], topk=10)
    ranked = [r["id"] for r in out.orderBy("rank").collect()]
    assert 4 not in ranked                  # no query term -> no hit
    assert ranked[0] == 3                   # both terms -> top
    # rare term beats even 5x repetition of the common term (idf + k1)
    assert ranked.index(1) < ranked.index(2)
    scores = {r["id"]: r["score"] for r in out.collect()}
    assert all(s > 0 for s in scores.values())


def test_bm25_indexed_equals_scan(spark):
    """The postings-index path must be bit-indistinguishable from the
    corpus-scan spec: same ids, same ranks, same SCORES (shared
    fixed-order scoring tail; absent terms contribute exactly +0.0)."""
    from pdf_metadata_extraction_spark.operators.search import (
        bm25_rank,
        bm25_rank_indexed,
        build_postings,
    )

    rows = [
        (1, "rareword appears here once amid other text padding words"),
        (2, "common common common common common nothing else but filler"),
        (3, "common rareword together in one document of medium length"),
        (4, "totally unrelated content with no relevant query words"),
        (5, ""),
    ] + [(10 + i, "common filler text block") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["rareword", "common", "absentterm"]
    scan = [tuple(r) for r in bm25_rank(df, terms, topk=8).collect()]
    postings, doc_lens = build_postings(df)
    idx = [tuple(r)
           for r in bm25_rank_indexed(postings, doc_lens, terms, topk=8).collect()]
    assert idx == scan
    assert len(scan) > 0


def test_bm25_postings_prune_query_terms(spark):
    """The index path filters postings to the query terms BEFORE any
    aggregation — the pushed filter must appear in the plan (at scale,
    with postings partitioned by term, that filter is the partition
    prune that keeps a query from touching the rest of the index)."""
    from pdf_metadata_extraction_spark.operators.search import (
        bm25_rank_indexed,
        build_postings,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    postings, doc_lens = build_postings(df)
    plan = bm25_rank_indexed(
        postings, doc_lens, ["b"], topk=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "term" in plan and ("IN" in plan or "= b" in plan or "(b)" in plan)


def test_bm25_persistent_index_lifecycle(spark, tmp_path):
    """Round-4 verdict #7: the persisted postings index is built ONCE
    per corpus and REUSED — a second resolver on the same dir + corpus
    serves from parquet (no rebuild; _SUCCESS mtimes untouched), a
    changed corpus wipes and rebuilds (fingerprint guard), and the
    served results stay bit-equal to the corpus scan."""
    import os

    from pdf_metadata_extraction_spark.operators.search import (
        Bm25Index,
        bm25_rank,
    )

    rows = [
        (1, "rareword appears here once amid other text padding words"),
        (2, "common common common common common nothing else but filler"),
        (3, "common rareword together in one document of medium length"),
    ] + [(10 + i, "common filler text block") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx_dir = str(tmp_path / "bm25_idx")
    terms = ["rareword", "common"]

    ix1 = Bm25Index(df, idx_dir)
    got1 = [tuple(r) for r in ix1.query(terms, topk=8).collect()]
    assert ix1.last_built is True
    scan = [tuple(r) for r in bm25_rank(df, terms, topk=8).collect()]
    assert got1 == scan
    mtime = os.path.getmtime(os.path.join(idx_dir, "postings", "_SUCCESS"))

    # same object: frames cached, no re-resolution; fresh resolver on
    # the same corpus: reuse path, no build job, files untouched
    assert [tuple(r) for r in ix1.query(terms, topk=8).collect()] == scan
    ix2 = Bm25Index(df, idx_dir)
    got2 = [tuple(r) for r in ix2.query(terms, topk=8).collect()]
    assert ix2.last_built is False
    assert got2 == scan
    assert os.path.getmtime(
        os.path.join(idx_dir, "postings", "_SUCCESS")
    ) == mtime

    # changed corpus -> fingerprint mismatch -> wipe + rebuild
    df2 = df.unionByName(
        spark.createDataFrame([(99, "brand new rareword doc")],
                              "doc_id long, text string")
    )
    ix3 = Bm25Index(df2, idx_dir)
    got3 = [tuple(r) for r in ix3.query(terms, topk=8).collect()]
    assert ix3.last_built is True
    assert got3 == [tuple(r) for r in bm25_rank(df2, terms, topk=8).collect()]


def test_service_search_task_uses_persistent_index(spark, tmp_path):
    """The service loop's ``search`` task answers from the caller-held
    Bm25Index: first task builds, later tasks (and later handle_task
    calls) reuse the same frames; results land at data_url."""
    from pdf_metadata_extraction_spark.operators.search import Bm25Index
    from pdf_metadata_extraction_spark.plans.service import handle_task

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    ix = Bm25Index(df, str(tmp_path / "svc_idx"))
    labels = spark.createDataFrame([], "run_name string")
    kw = dict(labels=labels, requests=labels, pages=None,
              model_root=str(tmp_path / "models"),
              suggestions_dir=str(tmp_path / "sugg"), bm25_index=ix)
    r1 = handle_task(
        spark,
        {"tenant": "t", "task": "search",
         "params": {"id": "q1", "terms": ["beta"], "topk": 5}},
        **kw,
    )
    assert r1["success"] and r1["data_url"]
    hits = {row["id"] for row in spark.read.parquet(r1["data_url"]).collect()}
    assert hits == {1, 2}
    assert ix.last_built is True
    r2 = handle_task(
        spark,
        {"tenant": "t", "task": "search",
         "params": {"id": "q2", "terms": ["delta"], "topk": 5}},
        **kw,
    )
    hits2 = {row["id"] for row in spark.read.parquet(r2["data_url"]).collect()}
    assert hits2 == {3}


def test_priority_sample_rule_weights_and_determinism(spark):
    """Efraimidis-Spirakis: ranks match the exact ln(u)/w rule
    recomputed in python; a 10^6x-weight row always samples; two runs
    agree; k rows per stratum without replacement."""
    import hashlib
    import math

    from pdf_metadata_extraction_spark.operators.sample import (
        SAMPLE_BUCKETS,
        priority_sample,
    )

    rows = [(i, "s", 1_000_000 if i == 7 else 1 + (i % 3)) for i in range(40)]
    rows += [(100 + i, "t", 5) for i in range(6)]
    rows += [(200, "t", 0)]  # weight 0: never sampled
    df = spark.createDataFrame(rows, "doc_id long, grp string, w long")

    got = priority_sample(df, "grp", "doc_id", "w", 5).collect()
    again = priority_sample(df, "grp", "doc_id", "w", 5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    by_grp = {}
    for r in got:
        by_grp.setdefault(r.grp, []).append(r)
    assert len(by_grp["s"]) == 5 and len(by_grp["t"]) == 5
    assert len({r.doc_id for r in by_grp["s"]}) == 5
    assert 7 in {r.doc_id for r in by_grp["s"]}  # the heavy row
    assert 200 not in {r.doc_id for r in by_grp["t"]}

    def es(i, w):
        ppm = (
            int(hashlib.md5(f"es:{i}".encode()).hexdigest()[:15], 16)
            % SAMPLE_BUCKETS
        )
        return round(math.log((ppm + 1) / 1e6), 6) / w

    expect_t = sorted(
        ((100 + i, es(100 + i, 5)) for i in range(6)),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert [r.doc_id for r in sorted(by_grp["t"], key=lambda r: r.es_rank)] \
        == [i for i, _ in expect_t]
