"""Corpus-level unigram statistics: a unigram language model with
per-document cross-entropy scoring, and TF-IDF top-terms.

CCNet (Wenzek et al. 2020) ranks web documents by language-model
perplexity to split a crawl into quality tiers; the cheapest honest
member of that family is the corpus's own unigram model — a document
whose word distribution diverges from the corpus (gibberish, keyword
stuffing, wrong language) scores high cross-entropy and lands in the
drop tier.  TF-IDF top-terms are the classic per-document keyword
profile (Salton & Buckley 1988), the same statistic the reference uses
per extractor group as "frequent words" (operators/selector.py A1
lineage) turned into a per-document feature.

Determinism (the oracle contract): every logarithm is rounded to 6
decimals the moment it is produced (``ln`` is not IEEE
correctly-rounded-mandated, so Spark's Math.log and DuckDB's std::log
may differ in the last ulp — 6-dp rounding absorbs it), then scaled to
integer MICRO-NATS (``round6(ln) * 1e6`` → BIGINT).  All downstream
sums are exact 64-bit integer arithmetic — no float-accumulation
order dependence anywhere, so Spark and DuckDB agree bit-for-bit
regardless of partitioning.

Scale design (the 100x lens):
- Per-doc term frequency is aggregated FIRST (one groupBy on
  (doc, word) — well-spread keys, map-side partials).  Only then is
  the vocabulary table joined on ``word``.  Joining BEFORE the tf
  rollup would stream one row per token occurrence through a join
  whose hot keys are stopwords — the classic skew trap; tf compression
  removes it (a doc contributes "the" once, not 400 times).
- The vocabulary table is corpus-derived: ~10^8 rows at web scale —
  too big to broadcast blindly, fine as the small side of a sort-merge
  or AQE-planned join; here AQE broadcasts it.
- ``N`` (corpus doc count) rides in as a broadcast one-row cross join,
  the repo's standard scalar-injection shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import text


def _doc_tf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, word, tf) — per-document term frequency."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(text.words(text_col)).alias("word"),
        )
        .groupBy("id", "word")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _lm_from_tf(tf: DataFrame) -> DataFrame:
    """``unigram_lm`` of an (id, word, tf) table: corpus counts are Σtf
    per word, so the tf table's exchange is REUSED by Catalyst when the
    caller also consumes ``tf`` (doc_cross_entropy, dsir_weights), and
    the tokenizing explode over the corpus runs once instead of once
    per LM (round 7, guide §2.3/§2.4)."""
    counts = tf.groupBy("word").agg(F.sum("tf").cast("long").alias("c"))
    total = counts.agg(F.sum("c").cast("long").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "word",
        "c",
        F.round(
            F.round(F.log(F.col("_total") / F.col("c")), 6) * 1000000.0, 0
        )
        .cast("long")
        .alias("cost_micro"),
    )


def unigram_lm(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, c, cost_micro): corpus unigram counts and the integer
    micro-nat surprisal ``round(round6(ln(total / c)) * 1e6)`` of each
    word.  ``total`` is injected via a broadcast one-row cross join so
    the count aggregation stays a single map-side-combined groupBy."""
    return _lm_from_tf(_doc_tf(df, id_col, text_col))


def doc_cross_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, ce_total_micro, avg_nats): per-document
    cross-entropy under the corpus's own unigram model.

    ``ce_total_micro`` = Σ_tokens cost_micro(word) — an exact BIGINT
    (tf × integer cost per distinct word, summed).  ``avg_nats`` =
    round(ce_total_micro / n_tokens / 1e6, 6) — a derived double whose
    operands are exact integers, so the division is reproducible
    cross-engine.  Empty docs report zeros."""
    tf = _doc_tf(df, id_col, text_col)
    # LM derived from tf, not a second explode: identical integers
    # (counts = Σtf), and the tf exchange is shared (guide §2.4)
    lm = _lm_from_tf(tf).select("word", "cost_micro")
    per_doc = (
        tf.join(lm, "word")
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cost_micro")).cast("long").alias(
                "ce_total_micro"
            ),
        )
    )
    # left join back so token-free docs still get a (zeroed) row. The
    # key match is null-safe, so Catalyst infers no isnotnull(id) on
    # per_doc: pushed below the tf exchange, that filter would stop it
    # matching the tf exchange under the LM, and the corpus would be
    # exploded twice.  A null id still matches nothing.
    base = df.select(F.col(id_col).alias("id")).distinct()
    on = base["id"].eqNullSafe(per_doc["id"]) & base["id"].isNotNull()
    return base.join(per_doc, on, "left").select(
        base["id"].alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("ce_total_micro", F.lit(0)).cast("long").alias("ce_total_micro"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.round(F.col("ce_total_micro") / F.col("n_tokens") / 1000000.0, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_nats"),
    )


def ce_quality_tiers(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tiles: int = 3,
) -> DataFrame:
    """CCNet's perplexity-tier split (head/middle/tail, Wenzek et al.
    2020 §4.3) on the corpus's own unigram cross-entropy: documents
    ranked by (avg_nats, id) — a total order — and bucketed into
    ``n_tiles`` tiers by exact integer arithmetic
    ``tier = (rank-1) * n_tiles div total + 1`` (tier 1 = lowest
    surprisal = head).  The rank comes from the distributed two-pass
    ``global_rank`` (range partition + broadcast prefixes), never a
    single-task global window; total rides in as a broadcast one-row
    count.  Output: (id, avg_nats, tier)."""
    from pdf_metadata_extraction_spark.operators.packing import global_rank

    ce = doc_cross_entropy(df, id_col, text_col).select(
        F.col(id_col).alias("id"), "avg_nats"
    )
    ranked = global_rank(ce, ["avg_nats", "id"])
    # |ce| == |distinct ids| by construction (doc_cross_entropy left-
    # joins back onto the distinct-id base) — count THAT, not the CE
    # chain: the total branch then costs one column-pruned scan
    # instead of re-running the explode/LM joins (round 7, guide §1.2)
    total = (
        df.select(F.col(id_col).alias("id")).distinct()
        .agg(F.count("*").cast("long").alias("_total"))
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        F.col("id").alias(id_col),
        "avg_nats",
        (
            F.expr("(rnk - 1) * %d div _total" % n_tiles) + F.lit(1)
        )
        .cast("int")
        .alias("tier"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """(id, word, tf, score_micro, rnk): top-``k`` TF-IDF terms per
    document.  ``score_micro`` = tf × round(round6(ln(N / df_count)) ×
    1e6) — exact integer, so the (score desc, word asc) ranking is
    total and reproducible.  Words occurring in every document score 0
    and never outrank informative terms."""
    from pyspark.sql.window import Window

    tf = _doc_tf(df, id_col, text_col)
    dfreq = tf.groupBy("word").agg(F.count("*").cast("long").alias("df_count"))
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count("*").cast("long").alias("_n")
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "word",
        F.round(
            F.round(F.log(F.col("_n") / F.col("df_count")), 6) * 1000000.0, 0
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = tf.join(idf, "word").select(
        "id", "word", "tf", (F.col("tf") * F.col("idf_micro")).alias("score_micro")
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("score_micro"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            F.col("id").alias(id_col),
            "word",
            "tf",
            F.col("score_micro").cast("long").alias("score_micro"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _doc_bigram_tf(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, w1, w2, tf) — per-document bigram frequency, rolled up
    BEFORE any model join (the same skew-compression discipline as
    ``_doc_tf``: a doc contributes 'of the' once, not 400 times). A
    bigram is a word 2-gram split at its one space."""
    return (
        df.select(F.col(id_col).alias("id"), text.words(text_col).alias("_w"))
        .select("id", F.explode(text.word_ngrams("_w", 2)).alias("g"))
        .select(
            "id",
            F.substring_index("g", " ", 1).alias("w1"),
            F.substring_index("g", " ", -1).alias("w2"),
        )
        .groupBy("id", "w1", "w2")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def bigram_lm(
    train: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Stupid-Backoff bigram model (Brants et al., "Large Language
    Models in Machine Translation", EMNLP 2007 — the web-scale n-gram
    scheme: no discounting to estimate, one multiplicative backoff
    α = 0.4) trained on ``train``.

    Returns ``(seen, uni, total)`` (``total`` the one-row training
    token count the OOV floor needs — returned so callers never
    re-explode the training text for it, round 7 guide §2.3):

    - ``seen (w1, w2, cost_micro)``: for corpus bigrams,
      ``cost = -ln(c(w1,w2) / ctx(w1))`` with ``ctx(w1)`` the exact
      context count (Σ over w2 of c(w1, w2) — NOT the unigram count,
      which also counts doc-final tokens that predict nothing).
    - ``uni (w2, backoff_micro)``: the backoff cost
      ``-ln(0.4 · c(w2) / total)`` per vocabulary word; scoring uses
      ``-ln(0.4 · 1 / total)`` for words outside the training
      vocabulary (the max(c, 1) floor — Stupid Backoff's scores are
      ranking weights, not a normalized distribution, so the floor is
      legal and keeps every token finite).

    Integer micro-nat discipline throughout (round6(ln)·1e6 → BIGINT,
    the module contract), so the DuckDB oracle matches bit-for-bit.
    Scale shape: bigram counts roll up per (doc, w1, w2) first, then
    one global (w1, w2) aggregate (map-side partials); ctx(w1) is a
    second aggregate OF THE COUNTS table (vocabulary-sized, not
    token-sized); ``total`` rides in as a broadcast one-row cross
    join."""
    btf = _doc_bigram_tf(train, id_col, text_col)
    bc = btf.groupBy("w1", "w2").agg(F.sum("tf").cast("long").alias("c"))
    ctx = bc.groupBy("w1").agg(F.sum("c").cast("long").alias("ctx"))
    seen = bc.join(ctx, "w1").select(
        "w1",
        "w2",
        F.round(
            F.round(F.log(F.col("ctx") / F.col("c")), 6) * 1000000.0, 0
        )
        .cast("long")
        .alias("cost_micro"),
    )
    counts = (
        train.select(
            F.explode(text.words(text_col)).alias("w2")
        )
        .groupBy("w2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    total = counts.agg(F.sum("c").cast("long").alias("_total"))
    uni = counts.crossJoin(F.broadcast(total)).select(
        "w2",
        F.round(
            F.round(F.log(F.col("_total") / (F.col("c") * 0.4)), 6)
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("backoff_micro"),
    )
    return seen, uni, total


def doc_bigram_ce(
    df: DataFrame,
    train: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, ce_total_micro, avg_nats): per-document
    cross-entropy under a Stupid-Backoff bigram model — the next rung
    of the CCNet quality ladder above ``doc_cross_entropy``'s unigram
    (a keyword-stuffed page has plausible WORDS but implausible
    TRANSITIONS; the bigram model separates them).

    ``train`` defaults to ``df`` itself (the corpus-is-its-own-model
    CCNet shape, where every scored bigram is seen); pass a reference
    slice to score held-out text, where unseen bigrams pay the
    backoff cost and out-of-vocabulary words pay the OOV floor
    ``-ln(0.4 / total)``. Docs with < 2 tokens report zeros.

    Scale shape: per-doc bigram tf joins the seen-cost table on
    (w1, w2) LEFT (vocabulary²-bounded model side, AQE picks the
    strategy), then the unmatched remainder joins the vocabulary-sized
    backoff table on w2 LEFT — two joins total, both after tf
    compression; sums are exact BIGINT."""
    if train is None:
        train = df
    seen, uni, total = bigram_lm(train, id_col, text_col)
    btf = _doc_bigram_tf(df, id_col, text_col)
    scored = (
        btf.join(seen, ["w1", "w2"], "left")
        .join(uni, "w2", "left")
    )
    # OOV floor = the backoff cost at count 1: round6(ln(total/0.4))·1e6,
    # injected as a broadcast one-row scalar (the module's standard
    # shape). ``total`` comes from the model build — the same exact
    # BIGINT the old per-call explode produced, without re-tokenizing
    # the training text (round 7, guide §2.3).
    floor = total.select(
        F.round(
            F.round(F.log(F.col("_total") / 0.4), 6) * 1000000.0, 0
        )
        .cast("long")
        .alias("_floor_micro")
    )
    per_doc = (
        scored.crossJoin(F.broadcast(floor))
        .select(
            "id",
            "tf",
            F.coalesce(
                "cost_micro", "backoff_micro", "_floor_micro"
            ).alias("cm"),
        )
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("cm")).cast("long").alias(
                "ce_total_micro"
            ),
        )
    )
    base = df.select(F.col(id_col).alias("id")).distinct()
    return base.join(per_doc, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("ce_total_micro", F.lit(0)).cast("long").alias(
            "ce_total_micro"
        ),
        F.when(
            F.coalesce("n_bigrams", F.lit(0)) > 0,
            F.round(
                F.col("ce_total_micro") / F.col("n_bigrams") / 1000000.0, 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_nats"),
    )


# --------------------------------------------------------------- DSIR


def dsir_weights(
    df: DataFrame,
    target_pred: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) — per-document importance weight
    log p_target(x) - log p_raw(x) under two unigram LMs: one trained
    on the TARGET slice (``target_pred``, a boolean SQL predicate over
    ``df``'s columns — e.g. the high-quality source), one on the whole
    corpus.  The weight says how much more target-like than average a
    document reads; resampling by it shifts the corpus toward the
    target distribution without hand-written rules.

    Integer discipline: cost_micro = round(round6(ln(total/c))·1e6) per
    word from ``unigram_lm`` for both models; a word unseen by the
    target model costs round(round6(ln(2·total_target))·1e6) (the c=0.5
    add-half fallback, one broadcast scalar).  w_micro =
    Σ tf·(cost_raw - cost_target) is an exact BIGINT — positive means
    more target-like.  Plan (round 7): ONE tokenizing explode — both
    LMs and the target total are rollups of one (id, word, tf) table
    whose exchange Catalyst reuses — then one tf⋈lm_raw⋈lm_target
    join, one sum.  No window, no UDF.

    Output: (id_col, n_tokens, w_micro).  Docs with no tokens weigh 0.
    """
    # ONE tokenizing explode for the whole operator (round 7, guide
    # §2.3/§2.4): the target flag rides the tf aggregation as a
    # per-doc-constant column, so the raw LM, the target LM and the
    # target token total are all rollups of the SAME (id, word, tf)
    # table — Catalyst reuses its exchange across the branches. The
    # counts are identical integers to the per-slice explode form
    # (Σtf per word over the slice).
    tfx = (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(target_pred).alias("_is_t"),
            F.explode(text.words(text_col)).alias("word"),
        )
        .groupBy("id", "word")
        .agg(
            F.count("*").cast("long").alias("tf"),
            # _is_t is constant within a doc; max() just carries it
            F.max("_is_t").alias("_is_t"),
        )
    )
    tf = tfx.select("id", "word", "tf")
    lm_raw = _lm_from_tf(tf).select(
        "word", F.col("cost_micro").alias("_cost_raw")
    )
    tf_t = tfx.where(F.col("_is_t")).select("id", "word", "tf")
    lm_t = _lm_from_tf(tf_t).select(
        "word", F.col("cost_micro").alias("_cost_t")
    )
    total_t = (
        tf_t.agg(F.sum("tf").cast("long").alias("_tt"))
        .select(
            F.round(F.round(F.log(F.col("_tt") * 2.0), 6) * 1e6, 0)
            .cast("long")
            .alias("_oov_t")
        )
    )
    scored = (
        tf.join(lm_raw, "word")
        .join(lm_t, "word", "left")
        .crossJoin(F.broadcast(total_t))
        .groupBy("id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(
                F.col("tf")
                * (
                    F.col("_cost_raw")
                    - F.coalesce(F.col("_cost_t"), F.col("_oov_t"))
                )
            )
            .cast("long")
            .alias("w_micro"),
        )
    )
    base = df.select(F.col(id_col).alias("id")).distinct()
    return base.join(scored, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("w_micro", F.lit(0)).cast("long").alias("w_micro"),
    )


def dsir_resample(
    weights: DataFrame, id_col: str = "doc_id", salt: str = "dsir:"
) -> DataFrame:
    """Deterministic Bernoulli(min(1, e^w)) resample over
    ``dsir_weights`` output: keep a document iff ln(u) < w, with
    u = (md5_ppm(id)+1)/1e6 — the same portable hash-uniform as
    `sample.hash_sample`, so the kept set is stable across runs,
    partitionings and engines.  Comparison is integer micro-nats
    (ln(u) rounded to 6dp then scaled), map-only over the weights
    table.  Adds ``kept``; w >= 0 documents are always kept."""
    from pdf_metadata_extraction_spark.operators.sample import _hash_ppm

    u_micro = (
        F.round(
            F.round(
                F.log(
                    (
                        _hash_ppm(
                            F.concat(
                                F.lit(salt), F.col(id_col).cast("string")
                            )
                        )
                        + 1
                    )
                    / 1e6
                ),
                6,
            )
            * 1e6,
            0,
        )
    ).cast("long")
    return weights.withColumn("kept", u_micro < F.col("w_micro"))
