"""Scalable deterministic sequence assignment (O1 in SURVEY.md §2.5).

The reference's FIFO position is implicit in its in-memory array
(Queue/Memory.pm:12-14); here visit order is a *data* property: every
frontier row carries a dense global ``seq``. A naive
``row_number().over(Window.orderBy(...))`` funnels the whole dataset
through ONE partition — fine at 60k rows, fatal at 10^10. This module
implements the classic two-phase distributed ranking instead:

1. range-repartition by the ordering key (sampled range exchange),
2. count rows per partition, cumulative-sum the counts on the driver
   (#partitions values, not #rows),
3. per-partition local row_number + broadcast offset.

Wall-clock scales linearly with executors; no single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["assign_seq", "arith_bucket_col", "arith_n_parts", "offsets_to_col"]


def arith_n_parts(spark, span: int, num_partitions: int | None = None) -> int:
    """Bucket count for the arithmetic split — shared with callers that
    pre-compute the bucket column (scheduler's observe piggyback)."""
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n, max(1, span)))


def offsets_to_col(offsets: dict[int, int], default: int):
    """bucket→offset dict as a literal map lookup over ``__pid`` — shared
    by assign_seq and the scheduler's fused wave checkpoint so the two paths
    (which tests assert emit EXACT-matching seqs) cannot drift. Values
    are LONG literals: an int32 map value would overflow the rank+offset
    sum past 2^31 assigned seqs. Empty dict (zero rows) falls back to a
    constant."""
    if not offsets:
        return F.lit(default).cast("long")
    off_map = F.create_map(
        *[
            c
            for pid, off in offsets.items()
            for c in (F.lit(int(pid)), F.lit(int(off)).cast("long"))
        ]
    )
    return F.element_at(off_map, F.col("__pid"))


def arith_bucket_col(key_col, lo: int, hi: int, n_parts: int):
    """clamp(floor((key - lo) * P / span)) as a Column — THE bucket
    mapping of the key_bounds path; callers that attach the column
    themselves must use this exact formula so counts line up."""
    span = max(1, int(hi) - int(lo))
    return F.least(
        F.lit(n_parts - 1),
        F.greatest(
            F.lit(0),
            F.floor((key_col - F.lit(int(lo))) * n_parts / span),
        ),
    ).cast("int")


def assign_seq(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "seq",
    start: int = 0,
    num_partitions: int | None = None,
    return_count: bool = False,
    key_bounds: tuple[int, int] | None = None,
):
    """Add ``out_col`` = start + dense rank of the row under ``order_cols``.

    The ordering key must be unique per row (the caller guarantees it:
    children use (parent_seq, emit_idx), seeds use input position).
    With ``return_count`` returns ``(df, n_rows)`` — the total falls out of
    the per-partition counts, so callers skip a separate count() job.

    ``key_bounds=(lo, hi)``: when the FIRST ordering column is an integer
    with a known value range (seed positions are exactly ``[0, n)``), the
    sampled range exchange is replaced by an ARITHMETIC bucket split: bucket =
    clamp(floor((key - lo) · P / (hi - lo))). Monotonic in the key and
    total on a per-key basis (equal keys share a bucket, so the
    bucket-offset + local-rank math below is unchanged), it needs no
    sampling job, no lineage barrier (deterministic under task retry by
    construction — nothing to pin), and no persisted exchange: one fewer
    full pass over the fresh rows per call. Out-of-range keys (the
    retry channel's parent_seq = -1) clamp to the edge buckets, which
    keeps the mapping monotonic. Skew bound: one key's rows can't split
    across buckets — at web scale a parent's fan-out is bounded by links
    per page, so a bucket holds many parents; callers whose first key is
    genuinely skewed should keep the sampling path, which splits ties on
    the remaining ordering columns.
    """
    cols = [F.col(c) for c in order_cols]
    if key_bounds is not None:
        lo, hi = key_bounds
        n_parts = arith_n_parts(df.sparkSession, int(hi) - int(lo), num_partitions)
        bucketed = df.withColumn(
            "__pid", arith_bucket_col(cols[0], lo, hi, n_parts)
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in bucketed.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        offsets, acc = {}, start
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        # offsets as a LITERAL map lookup, not a broadcast join: the
        # bucket→offset table is at most #partitions entries, so it
        # belongs in the expression itself — no join node, no broadcast
        # exchange in the plan
        off_col = offsets_to_col(offsets, start)
        local = Window.partitionBy("__pid").orderBy(*cols)
        out = (
            bucketed.withColumn(
                out_col,
                (F.row_number().over(local) - 1 + off_col).cast("long"),
            )
            .drop("__pid")
        )
        return (out, acc - start) if return_count else out
    if num_partitions is not None:
        ranged = df.repartitionByRange(num_partitions, *cols)
    else:
        ranged = df.repartitionByRange(*cols)
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    # Pin the range exchange before it is observed twice (the count below
    # and the final window/join): repartitionByRange re-samples boundaries
    # per evaluation, so without this barrier a task retry or shuffle-order
    # change could shift rows between __pids between the two passes and
    # silently duplicate/skip seq values.
    ranged = ranged.localCheckpoint(eager=True)

    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    spark = df.sparkSession
    offsets_df = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()], "__pid int, __off long"
    )
    local = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        ranged.join(F.broadcast(offsets_df), "__pid")
        .withColumn(out_col, (F.row_number().over(local) - 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )
    return (out, acc - start) if return_count else out
