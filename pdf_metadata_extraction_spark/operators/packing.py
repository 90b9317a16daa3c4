"""Training-sequence packing: concatenate documents in a deterministic
order and chunk the token stream into fixed-length sequences.

This is the GPT-2/3 packing discipline (Radford et al. 2019; Brown et
al. 2020 §2.3): documents are concatenated (EOS-delimited) and the
stream is split every ``seq_len`` tokens, so no padding is wasted and a
document may straddle a sequence boundary.  The op emits the PLACEMENT
TABLE — (seq_id, doc, slice-of-doc, position-in-sequence) — which is
what a tokenizer/packing job needs to materialize actual token tensors;
the text itself never moves through the shuffle.

Reference anchor: the reference engine's positional zip-join (J4,
`operators/align.py`) is the same discipline — global positions
assigned by a deterministic order then consumed positionally — lifted
from one document's tokens to the whole corpus.

Scale design (the 100x lens):
- The global token offset is a PREFIX SUM OVER A TOTAL ORDER.  The
  naive Spark expression (a Window with orderBy and NO partitionBy)
  collapses the whole corpus into one task — correct at test scale,
  dead at 100 TB.  This module implements the textbook two-pass
  distributed prefix sum instead:
    1. range-partition by the deterministic key (md5(id), id);
    2. per-partition token totals — ONE tiny groupBy (rows ==
       #partitions) collected to the driver (bounded by the partition
       count, not the data);
    3. cumulative partition prefixes broadcast back;
    4. intra-partition running sum via a Window PARTITIONED by the
       range-partition id — every task sums only its own slice.
  The result is independent of the physical partition boundaries (the
  prefixes are computed from the actual data in each range), so any
  partitioning of the same input yields byte-identical offsets.
- Each doc then overlaps sequences floor(off/L)..floor((off+n-1)/L);
  the per-doc piece explosion is map-side arithmetic.
- Deterministic total order: (md5(cast(id)), id) — unique, stable
  across runs/engines, and it *shuffles* the corpus so consecutive
  crawl pages (same site, near-duplicate prose) don't land in the same
  training sequence — the packing-time analogue of shuffling.

Determinism: offsets are exact BIGINT sums over a total order — no
floats anywhere, so Spark and the DuckDB oracle agree bit-for-bit.
Empty documents (0 tokens) occupy no stream positions and emit no
pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_metadata_extraction_spark.operators import text


def doc_token_counts(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens) with the repo-wide word tokenisation."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(text.words(text_col)).cast("long").alias("n_tokens"),
    )


def with_global_offsets(
    counts: DataFrame, num_ranges: int = 32
) -> DataFrame:
    """(id, n_tokens, off): exact global token offset of each doc in
    the concatenated stream, ordered by (md5(id), id).

    Two-pass distributed prefix sum — see module docstring.  The
    prefix table has ``num_ranges`` rows (NOT data rows); size
    ``num_ranges`` to the cluster, the offsets themselves do not
    depend on it.

    Round 7 (guide §2.4): both passes live in ONE plan. The per-range
    totals are rolled into running prefixes by a window over the
    ``num_ranges``-row aggregate (bounded by the range count, never
    data) and broadcast back; Catalyst's ReuseExchange then feeds the
    aggregate and the rank pass from the SAME range shuffle, so the
    input is scanned and shuffled once — the driver-collect version
    recomputed the scan + range exchange for every pass.
    """
    keyed = counts.select(
        "id",
        "n_tokens",
        F.md5(F.col("id").cast("string")).alias("_k"),
    ).repartitionByRange(num_ranges, "_k", "id")
    keyed = keyed.withColumn("_pid", F.spark_partition_id())
    # pass 1: per-range totals → running prefix (num_ranges rows; the
    # single-task window is bounded by the range count)
    wp = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref_df = F.broadcast(
        keyed.groupBy("_pid")
        .agg(F.sum("n_tokens").cast("long").alias("_t"))
        .select(
            "_pid",
            F.coalesce(F.sum("_t").over(wp), F.lit(0))
            .cast("long")
            .alias("_prefix"),
        )
    )
    # pass 2: intra-range running sum, shifted by the range's prefix
    w = (
        Window.partitionBy("_pid")
        .orderBy("_k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.join(pref_df, "_pid")
        .withColumn(
            "off",
            (F.col("_prefix") + F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .cast("long"),
        )
        .select("id", "n_tokens", "off")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    num_ranges: int = 32,
    rank_col: str = "rnk",
) -> DataFrame:
    """1-based dense global rank over a TOTAL order (``order_cols``
    must be tie-free), computed with the same two-pass discipline as
    ``with_global_offsets`` — range partition on the order key,
    per-range row counts (rows == num_ranges) rolled into running
    prefixes by a bounded window and broadcast back, intra-range
    ``row_number`` — never a single-task global window over data.
    The result is independent of ``num_ranges`` and input layout for
    the same reason the offsets are.

    One plan, one shuffle (round 7, guide §2.4): the count pass and
    the rank pass share the range exchange via ReuseExchange instead
    of a driver collect that recomputed the input per pass."""
    keyed = df.repartitionByRange(num_ranges, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    pref_df = F.broadcast(
        keyed.groupBy("_pid")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
        .select(
            "_pid",
            F.coalesce(F.sum("_n").over(wp), F.lit(0))
            .cast("long")
            .alias("_prefix"),
        )
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        keyed.join(pref_df, "_pid")
        .withColumn(
            rank_col,
            (F.col("_prefix") + F.row_number().over(w)).cast("long"),
        )
        .drop("_pid", "_prefix")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_ranges: int = 32,
) -> DataFrame:
    """Placement table for fixed-length training sequences.

    Returns (seq_id, id, tok_start_in_doc, start_in_seq, n_piece):
    document ``id`` contributes tokens [tok_start_in_doc,
    tok_start_in_doc + n_piece) to sequence ``seq_id`` starting at
    in-sequence position ``start_in_seq``.  Every sequence except the
    last is exactly ``seq_len`` tokens with zero padding; a document
    spanning a boundary is split across consecutive sequences.
    """
    offs = with_global_offsets(
        doc_token_counts(df, id_col, text_col), num_ranges
    )
    live = offs.where(F.col("n_tokens") > 0)
    pieces = live.select(
        "id",
        "off",
        "n_tokens",
        # integer `div`, not float division: offsets reach ~10^14 at
        # 100 TB and double rounding would misplace boundary docs
        F.explode(
            F.sequence(
                F.expr(f"off div {seq_len}"),
                F.expr(f"(off + n_tokens - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * seq_len
    piece_start = F.greatest(F.col("off"), seq_start)
    piece_end = F.least(
        F.col("off") + F.col("n_tokens"), seq_start + F.lit(seq_len)
    )
    return pieces.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("id").alias(id_col),
        (piece_start - F.col("off")).cast("long").alias("tok_start_in_doc"),
        (piece_start - seq_start).cast("long").alias("start_in_seq"),
        (piece_end - piece_start).cast("long").alias("n_piece"),
    )
