"""Cross-document boilerplate detection: word n-grams shared by many
documents of the same source/domain.

Web corpora are full of per-site template text (nav bars, cookie
banners, footers) that exact-dup and near-dup passes miss because the
surrounding page differs.  CCNet (Wenzek et al. 2020) and RefinedWeb
(Penedo et al. 2023) attack this with cross-document frequency at
sub-document granularity: a fragment that recurs across many pages of
the SAME site is boilerplate, however unique each full page is.

Reference anchor: the reference's per-extractor frequent-words model
(`operators/selector.py` A1 lineage) is the same statistic one level
up — frequency of a surface form across a document group — reused here
as a corpus-hygiene signal rather than a selection feature.

Scale design (the 100x lens):
- Grams are DISTINCT-per-doc before counting (a doc repeating its own
  footer 50x still votes once), expressed as ``array_distinct`` inside
  the row — map-side, before any shuffle.
- The corpus-wide count is ONE groupBy on (source, gram) with map-side
  partial aggregation.  The key space is dominated by singleton grams;
  AQE coalesces the tail.  No count-distinct shuffle is needed because
  the per-doc dedup already happened row-local.
- ``boilerplate_fraction`` joins the per-(source, gram) boilerplate
  verdict back to per-doc gram slots on (source, gram) — the
  boilerplate table is tiny (only grams above threshold survive), so
  the join is broadcast and the corpus side stays map-only.
- ``drop_duplicated_lines`` (CCNet's actual first pass) is a TRANSFORM,
  not a report: lines whose normalized hash recurs across >= k docs are
  removed and the document text is rebuilt in original line order.
  The duplicated-line table at web scale is NOT broadcastable (it is
  proportional to the corpus), so the membership join shuffles both
  sides on a fixed-width line-hash key — narrow rows (id, pos, hash),
  never the line text itself — and reassembly is one groupBy on the
  doc key with a positional sort inside the row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import text


def _doc_grams(
    df: DataFrame, id_col: str, group_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, group, gram array) with the repo-wide tokenisation."""
    return df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        text.words(text_col).alias("_w"),
    ).select("id", "grp", text.word_ngrams("_w", n).alias("_g"))


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """(group, gram, n_docs): n-grams occurring in >= ``min_docs``
    distinct documents of the same group — the per-site boilerplate
    phrase table."""
    per_doc = _doc_grams(df, id_col, group_col, text_col, n).select(
        "id", "grp", F.explode(F.array_distinct("_g")).alias("gram")
    )
    return (
        per_doc.groupBy("grp", "gram")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select(F.col("grp").alias(group_col), "gram", "n_docs")
    )


def line_hash_col(line_col: str):
    """64-bit hash of the CCNet-normalized line: lowercase, trim,
    digits folded to ``0``, md5 15-hex-prefix → BIGINT (the repo's
    cross-engine deterministic hash recipe)."""
    norm = F.regexp_replace(F.lower(F.trim(line_col)), "[0-9]", "0")
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")


def duplicated_line_hashes(
    lines: DataFrame, id_col: str, line_col: str, min_docs: int
) -> DataFrame:
    """Hashes of normalized lines occurring in >= ``min_docs`` distinct
    documents: one ``lh`` column.  Votes are deduped per (doc, hash)
    BEFORE the count, so a doc repeating its own footer still votes
    once.  Works on any already-exploded (doc, line) frame — raw text
    lines or pipeline segments alike."""
    return (
        lines.select(
            F.col(id_col).alias("_id"), line_hash_col(line_col).alias("lh")
        )
        .distinct()
        .groupBy("lh")
        .agg(F.count("*").cast("long").alias("_n"))
        .where(F.col("_n") >= min_docs)
        .select("lh")
    )


def drop_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style duplicated-line removal (Wenzek et al. 2020 §3.1):
    drop every line whose normalized form occurs in >= ``min_docs``
    distinct documents, and rebuild each document's text in original
    line order.

    Normalization before hashing: lowercase, trim, digits folded to
    ``0`` — so "Page 1 of 7" and "Page 3 of 9" are the same template
    line, the exact trap CCNet's normalization exists for.

    Output: (id, text_clean, n_lines, n_kept, n_dropped) — one row per
    input doc; a doc whose every line is template text comes back with
    ``text_clean = ''`` and ``n_kept = 0``.

    Scale shape: lines travel as narrow (id, pos, hash) rows — the
    64-bit md5-prefix hash, never the line text, is the join key.  The
    duplicated-line table is corpus-proportional (NOT broadcastable at
    web scale), so membership is a standard shuffled left-anti join on
    the uniform hash key; per-doc counting dedups (id, hash) row-local
    first.  Reassembly is ONE groupBy on the doc key with a positional
    struct sort inside the row.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("lh", line_hash_col("line"))
    dup = duplicated_line_hashes(lines, "id", "line", min_docs)
    kept = lines.join(dup, "lh", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = lines.groupBy("id").agg(
        F.count("*").cast("long").alias("n_lines")
    )
    return totals.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
    )


def boilerplate_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
    n: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document boilerplate load: (id, n_grams, n_boiler,
    boiler_frac) where ``n_boiler`` counts gram SLOTS (not distinct
    grams) that are group-boilerplate — the fraction of the document's
    surface that is template text.  Docs shorter than ``n`` words
    report zeros."""
    boiler = F.broadcast(
        boilerplate_ngrams(df, id_col, group_col, text_col, n, min_docs).select(
            F.col(group_col).alias("grp"), "gram", F.lit(1).alias("_b")
        )
    )
    slots = _doc_grams(df, id_col, group_col, text_col, n).select(
        "id", "grp", F.explode_outer("_g").alias("gram")
    )
    return (
        slots.join(boiler, ["grp", "gram"], "left")
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("gram").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_grams"),
            F.sum(F.coalesce(F.col("_b"), F.lit(0))).cast("long").alias("n_boiler"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            "n_boiler",
            F.when(
                F.col("n_grams") > 0, F.round(F.col("n_boiler") / F.col("n_grams"), 6)
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )
