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

from ..session import local_frame

__all__ = ["assign_seq", "arith_bucket_col", "arith_n_parts", "offsets_to_col"]


def arith_n_parts(spark, span: int) -> int:
    """Bucket count for the arithmetic split of a key range ``span`` wide:
    the shuffle width, never more buckets than keys."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(n, max(1, span)))


def offsets_to_col(offsets: dict[int, int], default: int):
    """bucket→offset dict as a literal map lookup over ``__pid`` (the
    scheduler's dense numbering of a wave's ranked checkpoint): at most
    #buckets entries, so it belongs in the expression — no join node, no
    broadcast exchange. Values are LONG literals: an int32 map value would
    overflow the rank+offset sum past 2^31 assigned seqs. Empty dict (zero
    rows) falls back to a constant."""
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
    """clamp(floor((key - lo) * P / span)) as a Column: the bucket of an
    integer key known to lie in [lo, hi). Monotonic in the key, so bucket
    offsets + per-bucket ranks give dense numbers with no sampling job;
    out-of-range keys (the retry channel's parent_seq = -1) clamp to the
    edge buckets, which keeps it monotonic. One key's rows never split
    across buckets — a parent's fan-out is bounded by links per page."""
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
) -> DataFrame:
    """Add ``out_col`` = start + dense rank of the row under ``order_cols``.

    The ordering key must be unique per row (the caller guarantees it:
    seeds use input position, re-sequencing a url hash). The crawl loop's
    own waves do not come here: their keys lie in a known seq range, so
    they split arithmetically (``arith_bucket_col``) on the checkpoint the
    wave takes anyway.
    """
    cols = [F.col(c) for c in order_cols]
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
    offsets_df = local_frame(
        spark, [(int(pid), int(off)) for pid, off in offsets.items()],
        "__pid int, __off long",
    )
    local = Window.partitionBy("__pid").orderBy(*cols)
    out = (
        ranged.join(F.broadcast(offsets_df), "__pid")
        .withColumn(out_col, (F.row_number().over(local) - 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )
    return out
