"""Sequence packing: concatenate documents in a deterministic order and
cut the token stream into fixed-size training windows.

The standard pretraining data layout (GPT-style "concat and chunk"):
documents are laid end-to-end in a canonical order, the global token
stream is cut every ``budget`` tokens, and the loader manifest says which
token slice of which document lands in which pack. Emitting the manifest
(not the packed text) keeps this a metadata operation.

Scale shape — the whole point of this operator is avoiding the classic
trap: a global cumulative sum via ``Window.orderBy(...)`` with no
partitionBy collapses the entire table into ONE partition. Instead we run
the textbook TWO-PHASE distributed prefix sum:

1. range-repartition by the order key (Spark's RangePartitioner sampling;
   partitions are contiguous, ordered slices) and materialize it once —
   the sampler is seeded per evaluation, so re-running the repartition can
   move rows across partition bounds between the two phases;
2. per-partition token totals -> driver (O(partitions) rows, ~32-4096
   values) -> exclusive prefix offsets -> broadcast back;
3. intra-partition cumulative sum with ``Window.partitionBy(pid)`` — each
   window is one partition's rows, so no single task ever sees more than
   one partition of DOC-LEVEL metadata rows (~16 B each; document text
   never enters this plan at all).

Everything downstream (pack ids, slice arithmetic, the per-pack manifest
explosion) is pure JVM column math over integers, so the DuckDB oracle
(a plain ``sum() OVER (ORDER BY ...)`` restatement) compares bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anycrawl_spark.functions.text import token_count


def with_global_offsets(
    docs: DataFrame, n_col: str = "n_tokens", order_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Append ``start_tok`` — each doc's exclusive prefix sum of ``n_col``
    in ``order_col`` order — via the two-phase distributed prefix sum."""
    spark = docs.sparkSession
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    # localCheckpoint: both phases must see the SAME range bounds, and the
    # RangePartitioner re-samples (with a fresh seed) on every evaluation
    parted = (
        docs.repartitionByRange(partitions, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # phase 1: O(partitions) totals to the driver. RangePartitioner keys
    # partitions in order-key order, so pid order IS stream order.
    totals = {
        r["_pid"]: r["t"]
        for r in parted.groupBy("_pid").agg(F.sum(n_col).alias("t")).collect()
    }
    offsets, acc = {}, 0
    for pid in range(partitions):
        offsets[pid] = acc
        acc += int(totals.get(pid, 0) or 0)
    # phase 2: intra-partition running sum + the broadcast partition offset.
    # The window's partitionBy(_pid) exchange carries doc-level metadata
    # rows only — document text never enters this plan.
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    return (
        parted.withColumn("_cum", F.sum(n_col).over(w))
        .withColumn(
            "start_tok",
            (offset_map[F.col("_pid")] + F.col("_cum") - F.col(n_col)).cast("long"),
        )
        .drop("_pid", "_cum")
    )


def pack_documents(
    documents: DataFrame,
    budget: int,
    text_col: str = "text",
    order_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Per-document pack summary: (doc_id, n_tokens, start_tok,
    first_pack, last_pack). Zero-token documents occupy no pack
    (first/last NULL)."""
    docs = documents.select(
        order_col, token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    out = with_global_offsets(docs, "n_tokens", order_col, partitions)
    nonzero = F.col("n_tokens") > 0
    # integer `div`, not floor(double /): a 25T-token stream overflows the
    # 2^53 exact-double range long before it overflows int64
    return out.select(
        order_col,
        "n_tokens",
        "start_tok",
        F.when(nonzero, F.expr(f"start_tok div {int(budget)}"))
        .cast("long").alias("first_pack"),
        F.when(
            nonzero,
            F.expr(f"(start_tok + n_tokens - 1) div {int(budget)}"),
        ).cast("long").alias("last_pack"),
    )


def pack_manifest(
    documents: DataFrame,
    budget: int,
    text_col: str = "text",
    order_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """The loader manifest: one row per (pack, doc) slice —
    (pack_id, doc_id, doc_tok_start, pack_tok_start, slice_len). A doc
    spanning k packs explodes to k rows; explosion happens AFTER the
    prefix sum, on integer columns only."""
    packed = pack_documents(documents, budget, text_col, order_col, partitions)
    p = F.col("pack_id")
    start, n = F.col("start_tok"), F.col("n_tokens")
    s = F.greatest(start, p * budget)
    e = F.least(start + n, (p + 1) * budget)
    return (
        packed.filter(F.col("n_tokens") > 0)
        .select(
            order_col, "start_tok", "n_tokens",
            F.explode(F.sequence("first_pack", "last_pack")).alias("pack_id"),
        )
        .select(
            p.cast("long").alias("pack_id"),
            order_col,
            (s - start).cast("long").alias("doc_tok_start"),
            (s - p * budget).cast("long").alias("pack_tok_start"),
            (e - s).cast("long").alias("slice_len"),
        )
    )
