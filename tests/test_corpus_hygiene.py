"""Corpus-hygiene operators: decontamination, boilerplate detection,
unigram-LM cross-entropy, TF-IDF top-terms.

Crafted fixtures pin the semantics (who is contaminated, which grams
are boilerplate, exact integer micro-nat costs); the cross-engine
value contract is carried by the oracle registry
(`__spark_entry__.oracle_sql` — decontam_overlap, boilerplate_ngrams,
boilerplate_doc_frac, unigram_ce, tfidf_topk).
"""

import math

import pytest

from pdf_metadata_extraction_spark.operators import text
from pdf_metadata_extraction_spark.operators.boilerplate import (
    boilerplate_fraction,
    boilerplate_ngrams,
    drop_duplicated_lines,
)
from pdf_metadata_extraction_spark.operators.corpus_lm import (
    ce_quality_tiers,
    doc_cross_entropy,
    tfidf_top_terms,
    unigram_lm,
)
from pdf_metadata_extraction_spark.operators.decontam import (
    contamination,
    eval_ngram_set,
    scrub_contaminated_spans,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


# ---------------------------------------------------------------- decontam


def test_word_ngrams_order_and_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id long, text string"
    )
    out = (
        df.select("doc_id", text.words().alias("_w"))
        .select("doc_id", text.word_ngrams("_w", 3).alias("g"))
        .orderBy("doc_id")
        .collect()
    )
    assert out[0]["g"] == ["a b c", "b c d"]  # order-preserving, overlapping
    assert out[1]["g"] == []  # shorter than n: explicit empty, no sequence(1,0) trap


def test_contamination_flags_verbatim_benchmark_copy(spark):
    bench = _docs(spark, [(100, "eval", "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            # verbatim copy of the benchmark sentence → 100% contaminated
            (1, "s", "the quick brown fox jumps over the lazy dog"),
            # clean doc, same vocabulary but different order → no 7-gram hit
            (2, "s", "dog lazy the over jumps fox brown quick the extra words here"),
            # too short for any 7-gram → zeros, NOT flagged
            (3, "s", "tiny doc"),
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in contamination(
            corpus, bench, n=7, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert rows[1]["contaminated"] == 1 and rows[1]["contam_frac"] == 1.0
    assert rows[1]["n_grams"] == 3 and rows[1]["n_hit"] == 3
    assert rows[2]["contaminated"] == 0 and rows[2]["n_hit"] == 0
    assert rows[3]["n_grams"] == 0 and rows[3]["contaminated"] == 0
    assert rows[3]["contam_frac"] == 0.0


def test_contamination_threshold_is_integer_exact(spark):
    # 2 hits of 4 grams = exactly 50% — integer rule n_hit*2 >= n_grams
    # flags it; 1 of 4 does not
    bench = _docs(spark, [(100, "e", "w1 w2 w3 w4 w5 w6 w7 w8")])
    corpus = _docs(
        spark,
        [
            # grams: [w1..w7],[w2..w8],[w3..w9],[w4..w10]; first two hit
            (1, "s", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        ],
    )
    r = contamination(corpus, bench, n=7, threshold_num=1, threshold_den=2).collect()[0]
    assert (r["n_grams"], r["n_hit"]) == (4, 2)
    assert r["contaminated"] == 1


def test_eval_ngram_set_is_distinct(spark):
    bench = _docs(
        spark, [(1, "e", "a b c a b c a b c")]  # "a b c" windows repeat
    )
    grams = eval_ngram_set(bench, n=3).collect()
    assert len(grams) == len({g["gram"] for g in grams})


def test_scrub_removes_only_the_quoted_span(spark):
    """A doc quoting a 7-word benchmark sentence mid-text loses exactly
    the covered tokens; prose on both sides survives in order."""
    bench = _docs(spark, [(100, "e", "q1 q2 q3 q4 q5 q6 q7")])
    corpus = _docs(
        spark,
        [
            (1, "s", "intro words here q1 q2 q3 q4 q5 q6 q7 closing words after"),
            (2, "s", "completely clean document with no benchmark overlap at all"),
            (3, "s", "tiny doc"),  # shorter than n → untouched
        ],
    )
    rows = {r["doc_id"]: r for r in
            scrub_contaminated_spans(corpus, bench, n=7).collect()}
    assert rows[1]["text_clean"] == "intro words here closing words after"
    assert rows[1]["n_removed"] == 7
    assert rows[2]["n_removed"] == 0
    assert rows[2]["text_clean"].startswith("completely clean")
    assert rows[3]["n_removed"] == 0 and rows[3]["text_clean"] == "tiny doc"


def test_scrub_overlapping_hits_cover_union_not_sum(spark):
    """Two overlapping hit grams cover the UNION of their positions
    (distinct), not 2n tokens: an 8-token verbatim quote removes 8."""
    bench = _docs(spark, [(100, "e", "q1 q2 q3 q4 q5 q6 q7 q8")])
    corpus = _docs(
        spark, [(1, "s", "a b c q1 q2 q3 q4 q5 q6 q7 q8 x y z")]
    )
    r = scrub_contaminated_spans(corpus, bench, n=7).collect()[0]
    assert r["n_removed"] == 8
    assert r["text_clean"] == "a b c x y z"


# ---------------------------------------------------------------- boilerplate


_FOOTER = "subscribe to our newsletter today"


def test_boilerplate_detects_shared_footer_within_source(spark):
    docs = _docs(
        spark,
        [
            (1, "siteA", "unique article one " + _FOOTER),
            (2, "siteA", "another unique piece " + _FOOTER),
            (3, "siteA", "third totally different body " + _FOOTER),
            # same footer on ANOTHER site: votes are per-source
            (4, "siteB", "cross site page " + _FOOTER),
        ],
    )
    bp = boilerplate_ngrams(docs, n=5, min_docs=3).collect()
    assert {(r["source"], r["gram"], r["n_docs"]) for r in bp} == {
        ("siteA", _FOOTER, 3)
    }


def test_boilerplate_doc_votes_once_despite_repetition(spark):
    docs = _docs(
        spark,
        [
            (1, "s", _FOOTER + " " + _FOOTER),  # doc repeats its own footer
            (2, "s", "body text then " + _FOOTER),
        ],
    )
    bp = {r["gram"]: r["n_docs"] for r in boilerplate_ngrams(docs, n=5, min_docs=2).collect()}
    assert bp[_FOOTER] == 2  # 2 docs, not 3 occurrences


def test_boilerplate_fraction_counts_slots(spark):
    docs = _docs(
        spark,
        [
            (1, "s", _FOOTER),  # 1 gram, boilerplate → frac 1.0
            (2, "s", "one two three four five six " + _FOOTER),
            (3, "s", "short"),  # no 5-grams → zeros
        ],
    )
    rows = {r["doc_id"]: r for r in boilerplate_fraction(docs, n=5, min_docs=2).collect()}
    assert rows[1]["boiler_frac"] == 1.0
    assert rows[2]["n_boiler"] == 1 and rows[2]["n_grams"] == 7
    assert rows[2]["boiler_frac"] == round(1 / 7, 6)
    assert rows[3]["n_grams"] == 0 and rows[3]["boiler_frac"] == 0.0


def test_line_dedup_strips_templates_and_folds_digits(spark):
    """CCNet line removal: the digit-folded normalization treats
    'Page 1 of 7' and 'Page 3 of 9' as one template line; unique body
    lines survive in original order; an all-template doc comes back
    empty (not missing)."""
    docs = spark.createDataFrame(
        [
            (1, "unique article one\nPage 1 of 7\ncopyright acme corp"),
            (2, "another body here\nPage 3 of 9\ncopyright acme corp"),
            (3, "totally unique\nno template"),
            (4, "copyright acme corp"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in drop_duplicated_lines(docs, min_docs=2).collect()}
    assert out[1]["text_clean"] == "unique article one"
    assert (out[1]["n_lines"], out[1]["n_kept"], out[1]["n_dropped"]) == (3, 1, 2)
    assert out[2]["text_clean"] == "another body here"
    assert out[3]["text_clean"] == "totally unique\nno template"
    assert out[3]["n_dropped"] == 0
    assert out[4]["n_kept"] == 0 and out[4]["text_clean"] == ""


def test_line_dedup_preserves_order_of_kept_lines(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta\nshared line\ngamma"),
            (2, "shared line"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in drop_duplicated_lines(docs, min_docs=2).collect()}
    assert out[1]["text_clean"] == "alpha\nbeta\ngamma"
    assert out[1]["n_dropped"] == 2  # both occurrences of the shared line


# ---------------------------------------------------------------- unigram CE


def test_unigram_lm_costs_are_integer_micronats(spark):
    # corpus: "a a a b" → total 4, p(a)=3/4, p(b)=1/4
    docs = _docs(spark, [(1, "s", "a a a b")])
    lm = {r["word"]: r for r in unigram_lm(docs).collect()}
    assert lm["a"]["cost_micro"] == round(round(math.log(4 / 3), 6) * 1e6)
    assert lm["b"]["cost_micro"] == round(round(math.log(4), 6) * 1e6)


def test_doc_cross_entropy_orders_docs_by_surprisal(spark):
    docs = _docs(
        spark,
        [
            (1, "s", "the the the the the the the the"),  # all-stopword doc
            (2, "s", "the the the the rare1 rare2 rare3 rare4"),  # diverging doc
            (3, "s", ""),  # empty → zeros
        ],
    )
    rows = {r["doc_id"]: r for r in doc_cross_entropy(docs).collect()}
    assert rows[1]["avg_nats"] < rows[2]["avg_nats"]
    assert rows[3]["n_tokens"] == 0 and rows[3]["ce_total_micro"] == 0
    assert rows[3]["avg_nats"] == 0.0
    # exact integer check on doc 1: p(the)=12/16 → 8 tokens × cost(12/16)
    cost_the = round(round(math.log(16 / 12), 6) * 1e6)
    assert rows[1]["ce_total_micro"] == 8 * cost_the


def test_ce_quality_tiers_head_middle_tail(spark):
    """CCNet tier split: repetitive low-surprisal docs land in tier 1
    (head), diverging docs in the top tier; tiers partition the corpus
    into near-equal integer buckets."""
    docs = _docs(
        spark,
        [(i, "s", "the common words appear here again " * 3) for i in range(4)]
        + [(10, "s", "zxq gibberish unrepeatable tokenstream wqz")]
        + [(11, "s", "the common words appear here again rare1")],
    )
    rows = {r["doc_id"]: r for r in ce_quality_tiers(docs, n_tiles=3).collect()}
    assert len(rows) == 6
    assert rows[10]["tier"] == 3          # highest surprisal → tail
    assert all(rows[i]["tier"] == 1 for i in range(2))  # head = lowest CE
    from collections import Counter
    sizes = Counter(r["tier"] for r in rows.values())
    assert sizes == {1: 2, 2: 2, 3: 2}


def test_tfidf_top_terms_rank_and_tiebreak(spark):
    docs = _docs(
        spark,
        [
            (1, "s", "common zebra zebra apple"),
            (2, "s", "common other words here"),
        ],
    )
    rows = tfidf_top_terms(docs, k=2).where("doc_id = 1").orderBy("rnk").collect()
    # zebra: tf=2 × idf(ln2) beats apple tf=1; 'common' in every doc → idf 0
    assert [r["word"] for r in rows] == ["zebra", "apple"]
    assert all(r["score_micro"] > 0 for r in rows)
    idf2 = round(round(math.log(2), 6) * 1e6)
    assert rows[0]["score_micro"] == 2 * idf2
    assert rows[1]["score_micro"] == 1 * idf2


def test_tfidf_word_in_every_doc_scores_zero(spark):
    docs = _docs(spark, [(1, "s", "common"), (2, "s", "common")])
    rows = tfidf_top_terms(docs, k=1).collect()
    assert all(r["score_micro"] == 0 for r in rows)


# ---------------------------------------------------------------- plan shape


def test_contamination_eval_side_is_broadcast(spark):
    """The corpus side must stay shuffle-free until its own groupBy:
    the eval n-gram set joins as a broadcast hash join."""
    docs = _docs(spark, [(i, "s", f"w{i} " * 10) for i in range(20)])
    plan = (
        contamination(docs, docs.limit(2))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_bigram_ce_self_trained_hand_values(spark):
    """Stupid-Backoff bigram CE (corpus_lm.doc_bigram_ce), self-
    trained: every bigram is seen, costs are -ln(c(w1,w2)/ctx(w1)) in
    micro-nats, sub-2-token docs report zeros."""
    from pdf_metadata_extraction_spark.operators.corpus_lm import (
        doc_bigram_ce,
    )

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo"), (4, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.ce_total_micro, r.avg_nats)
           for r in doc_bigram_ce(df).collect()}
    # corpus bigrams: (a,b)x2 (b,a)x1 (a,c)x1; ctx(a)=3, ctx(b)=1
    # doc1: 2*-ln(2/3) + 1*-ln(1/1) = 2*405465 + 0
    assert got[1] == (3, 810930, round(810930 / 3 / 1e6, 6))
    # doc2: -ln(1/3) = 1098612 micro-nats
    assert got[2] == (1, 1098612, 1.098612)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_bigram_ce_heldout_backoff_and_oov_floor(spark):
    """Held-out scoring: unseen bigrams pay -ln(0.4*c(w2)/total),
    out-of-vocabulary words pay the count-1 floor -ln(0.4/total)."""
    from pdf_metadata_extraction_spark.operators.corpus_lm import (
        doc_bigram_ce,
    )

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )  # unigrams: a3 b2 c1, total 6
    held = spark.createDataFrame(
        [(9, "x a d")], "doc_id long, text string"
    )
    got = doc_bigram_ce(held, train).collect()[0]
    # (x,a): unseen bigram, c(a)=3 -> -ln(0.4*3/6)=ln(5)=1609438
    # (a,d): d OOV -> floor -ln(0.4/6)=ln(15)=2708050
    assert got.n_bigrams == 2
    assert got.ce_total_micro == 1609438 + 2708050
    assert got.avg_nats == round((1609438 + 2708050) / 2 / 1e6, 6)


def test_dsir_weight_direction_and_exact_values(spark):
    """Target docs use vocabulary A, raw-only docs vocabulary B: an
    A-worded doc must weigh positive (more target-like than average),
    a B-worded doc negative; values checked in exact micro-nats."""
    import math

    from pdf_metadata_extraction_spark.operators.corpus_lm import (
        dsir_weights,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha alpha beta", "wiki"),
            (2, "alpha beta beta", "wiki"),
            (3, "spam spam spam", "web"),
            (4, "alpha spam", "web"),
        ],
        "doc_id long, text string, source string",
    )
    w = {
        r.doc_id: r.w_micro
        for r in dsir_weights(df, "source = 'wiki'").collect()
    }

    def cost(total, c):
        return round(round(math.log(total / c), 6) * 1e6)

    # raw: alpha 4, beta 3, spam 4, total 11; target: alpha 3, beta 3, total 6
    cr = {"alpha": cost(11, 4), "beta": cost(11, 3), "spam": cost(11, 4)}
    ct = {"alpha": cost(6, 3), "beta": cost(6, 3)}
    oov = round(round(math.log(2 * 6), 6) * 1e6)
    assert w[1] == 2 * (cr["alpha"] - ct["alpha"]) + (cr["beta"] - ct["beta"])
    assert w[3] == 3 * (cr["spam"] - oov)
    assert w[1] > 0 > w[3], w


def test_dsir_resample_rule_and_determinism(spark):
    """kept == (round6(ln((md5_ppm(id)+1)/1e6))*1e6 < w_micro), and two
    runs keep the identical set (the md5-uniform is the randomness)."""
    import math

    from pdf_metadata_extraction_spark.operators.corpus_lm import (
        dsir_resample,
    )
    from pdf_metadata_extraction_spark.operators.sample import (
        SAMPLE_BUCKETS,
    )
    import hashlib

    weights = spark.createDataFrame(
        [(i, 10, (i - 50) * 20_000) for i in range(100)],
        "doc_id long, n_tokens long, w_micro long",
    )
    got = {r.doc_id: r.kept for r in dsir_resample(weights).collect()}
    again = {r.doc_id: r.kept for r in dsir_resample(weights).collect()}
    assert got == again
    for i in range(100):
        ppm = (
            int(hashlib.md5(f"dsir:{i}".encode()).hexdigest()[:15], 16)
            % SAMPLE_BUCKETS
        )
        ln_u = round(round(math.log((ppm + 1) / 1e6), 6) * 1e6)
        assert got[i] == (ln_u < (i - 50) * 20_000), i
    assert any(got.values()) and not all(got.values())
