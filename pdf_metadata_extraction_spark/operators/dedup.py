"""Deduplication suite for training-data pipelines (task mandate; the
reference's only dedup is consume-once — SURVEY.md §2.6 — so these are
the scale-path additions a 100 TB corpus needs).

All variants are pure DataFrame expressions (whole-stage codegen, no
Python) built on portable primitives (md5, substr, split) so each has a
DuckDB oracle in ``__spark_entry__.oracle_sql``.

- exact_duplicates      hash-groupBy on normalized text (map-side partial agg)
- minhash (see operators/canonicalize.py — shared implementation)
- simhash (64-bit)      near-dup fingerprint, bit-majority over token hashes,
                        4×16-bit bands for banded Hamming search
- simhash_band_pairs    near-dup pairs via band buckets + exact Hamming filter
- ngram_jaccard_pairs   exact Jaccard over char-3-gram sets for candidate pairs
- embedding near-dup (see operators/similarity.py cosine_pairs)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import text

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 × 16-bit bands (MinHash-LSH-style banded layout)
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def exact_duplicates(
    df: DataFrame, id_col: str, text_col: str = "text",
    with_members: bool = False,
) -> DataFrame:
    """Exact dedup: md5 of normalized text → groups with >1 member.

    Returns (text_hash, n_dups, canonical_id=min id [, member_ids]).
    Shuffle on the 32-char hash — uniform keys, no skew; partial
    count/min happen map-side. ``with_members`` materializes the member
    array — test-scale only: a boilerplate page with 10⁹ copies becomes
    one giant array row (the hub-OOM shape). At scale use
    ``duplicate_membership`` for the narrow (id → canonical) mapping.
    """
    aggs = [F.count("*").alias("n_dups"), F.min("id").alias("canonical_id")]
    if with_members:
        aggs.append(F.array_sort(F.collect_list("id")).alias("member_ids"))
    return (
        df.select(F.col(id_col).alias("id"), F.md5(text.fold(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(*aggs)
        .where(F.col("n_dups") > 1)
    )


def duplicate_membership(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Scale-shape dedup map: one NARROW row per duplicate member —
    (id, text_hash, canonical_id, is_canonical). Window min over the
    hash partitioning (spill-safe streaming agg, no arrays)."""
    from pyspark.sql import Window

    hashed = df.select(
        F.col(id_col).alias("id"),
        F.md5(text.fold(text_col)).alias("text_hash"),
    )
    w = Window.partitionBy("text_hash")
    return (
        hashed.withColumn("canonical_id", F.min("id").over(w))
        .withColumn("n_dups", F.count("*").over(w))
        .where(F.col("n_dups") > 1)
        .select(
            "id", "text_hash", "canonical_id",
            (F.col("id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def incremental_exact(
    new_docs: DataFrame,
    corpus_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: classify a NEW batch against the
    EXISTING corpus hash table without rescanning the corpus — the
    daily-crawl-increment shape (at 10^12 docs, re-running exact dedup
    over the whole corpus per increment is a non-starter; the
    ``text_hash`` table is the only corpus state needed, a tiny
    fraction of the text bytes, and is itself the state this function
    emits for the NEXT increment).

    ``corpus_hashes``: a (text_hash) relation — e.g. a previous
    increment's ``updated_hashes`` persisted as parquet/Iceberg.

    Returns ``(classified, updated_hashes)``:
    - ``classified``: (id, text_hash, status) with status
      'corpus_dup' (hash already in the corpus), 'batch_dup' (hash new
      to the corpus but a LOWER id in the same batch holds it — the
      deterministic min-id survivor used by dedup everywhere else), or
      'novel' (the batch's survivor for a corpus-new hash);
    - ``updated_hashes``: corpus ∪ novel hashes.

    Shapes: one join on the 32-char hash (batch ≪ corpus: Spark
    broadcasts the BATCH side automatically when it fits; the corpus
    table streams) + one window min within the batch only.
    """
    from pyspark.sql import Window

    hashed = new_docs.select(
        F.col(id_col).alias("id"),
        F.md5(text.fold(text_col)).alias("text_hash"),
    )
    known = (
        corpus_hashes.select("text_hash").distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    joined = hashed.join(known, "text_hash", "left")
    w = Window.partitionBy("text_hash").orderBy("id")
    classified = (
        joined.withColumn("_rn", F.row_number().over(w))
        .select(
            "id",
            "text_hash",
            F.when(F.col("_in_corpus").isNotNull(), F.lit("corpus_dup"))
            .when(F.col("_rn") > 1, F.lit("batch_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )
    updated = (
        known.select("text_hash")
        .unionByName(
            classified.where(F.col("status") == "novel").select("text_hash")
        )
        .distinct()
    )
    return classified, updated


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit bit-majority simhash over distinct token hashes, banded.

    Round-1 used a 16-bit fingerprint — birthday collisions alone make
    that wrong above ~10⁵ docs and the bucket groupBy degenerates. 64
    bits are produced as 4 independent 16-bit bands (band b's token hash
    = int(md5(word)[4b:4b+4], 16), portable md5 core): per bit the doc
    sums ±1 across distinct words; band bit = 1 iff the sum > 0.

    Output: (id, simhash hex16 string, band_0..band_3 long). The hex
    string is the full fingerprint (a 64-bit value exceeds signed BIGINT,
    so both engines carry it as hex); the band columns are the LSH keys
    for banded Hamming search (``simhash_band_pairs``).

    One groupBy with 64 map-side-combinable sums — pure whole-stage
    codegen, no UDF; the shuffle key is the doc id.
    """
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(text.words(text_col))).alias("w"),
    ).withColumn("h", F.md5("w"))
    aggs = []
    for b in range(SIMHASH_BANDS):
        hv = F.conv(F.substring("h", 1 + 4 * b, 4), 16, 10).cast("long")
        for k in range(_BAND_BITS):
            aggs.append(
                F.sum(
                    F.when((F.floor(hv / (2 ** k)) % 2) == 1, 1).otherwise(-1)
                ).alias(f"s_{b}_{k}")
            )
    bit_sums = words.groupBy("id").agg(*aggs)
    bands = [
        sum(
            F.when(F.col(f"s_{b}_{k}") > 0, 2 ** k).otherwise(0)
            for k in range(_BAND_BITS)
        ).cast("long").alias(f"band_{b}")
        for b in range(SIMHASH_BANDS)
    ]
    out = bit_sums.select("id", *bands)
    return out.select(
        "id",
        F.format_string(
            "%04x" * SIMHASH_BANDS, *[F.col(f"band_{b}") for b in range(SIMHASH_BANDS)]
        ).alias("simhash"),
        *[F.col(f"band_{b}") for b in range(SIMHASH_BANDS)],
    )


def simhash_band_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by banded Hamming search over the 64-bit simhash.

    Pigeonhole: two fingerprints within Hamming distance 3 agree on at
    least one of the 4 16-bit bands → candidates = docs sharing a band
    value (explode 4 band buckets, self-join per (band, value) bucket —
    NOT all-pairs), then the exact Hamming distance over all 4 bands
    filters. Scale shape identical to MinHash LSH: the join shuffles on
    short uniform band keys; per-bucket fan-out is bounded by real
    near-dup density, with AQE skew-join for pathological buckets.
    """
    sigs = simhash(df, id_col, text_col)
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("val"))
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = sigs.select("id", F.explode(band_structs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"band_{b}").alias(f"a_{b}") for b in range(SIMHASH_BANDS)],
    )
    sb = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"band_{b}").alias(f"b_{b}") for b in range(SIMHASH_BANDS)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a_{b}").bitwiseXOR(F.col(f"b_{b}")))
        for b in range(SIMHASH_BANDS)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def char_ngrams(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3,
                prefix_chars: int = 200) -> DataFrame:
    """Distinct char n-grams of the normalized text prefix.

    ``prefix_chars`` bounds work per row (at 100 TB an unbounded shingle
    explode is the cost driver; a fixed prefix keeps the candidate join
    linear in corpus size)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.substring(text.fold(text_col), 1, prefix_chars).alias("_t"),
    ).select(
        "id",
        F.explode(F.array_distinct(text.shingles("_t", n))).alias("gram"),
    )


def ngram_jaccard_for_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3, min_jaccard: float = 0.8, prefix_chars: int = 200,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to CANDIDATE pairs — the composed
    scale path (LSH candidates → exact verify). The gram work is linear
    in the candidate count, never the corpus self-join: candidates join
    the gram table twice (id_a then id_b+gram), so a 10¹²-doc corpus
    only materializes grams for docs that appear in some candidate pair.
    """
    grams = char_ngrams(df, id_col, text_col, n, prefix_chars)
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    ga = grams.select(F.col("id").alias("id_a"), "gram")
    gb = grams.select(F.col("id").alias("id_b"), "gram")
    inter = (
        # dedup the candidate pairs defensively: a duplicated (id_a,id_b)
        # row would multiply the gram-join rows and inflate `inter`
        # (jaccard > 1). Cheap relative to the gram joins.
        pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
        .join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str = "text",
    n: int = 3, min_jaccard: float = 0.8, prefix_chars: int = 200,
) -> DataFrame:
    """Exact Jaccard similarity over char n-gram sets.

    grams self-join on gram → |A∩B| per pair; |A|,|B| from per-doc
    counts; J = inter / (|A|+|B|-inter). The gram join is the shuffle —
    grams are short strings with Zipf skew, so AQE skew-join applies; at
    corpus scale gate this behind LSH candidates (canonicalize.py)
    instead of the full self-join.
    """
    grams = char_ngrams(df, id_col, text_col, n, prefix_chars).persist()
    sizes = grams.groupBy("id").agg(F.count("*").alias("n_grams"))
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )
    return out
