"""Frontier: the queue API surface (SURVEY.md §3.3) over DataFrame state.

Re-implements the reference queue contract —
enqueue/dequeue/next/requeue/length/shuffle/cap
(lib/WWW/Crawler/Mojo/Queue.pm, Queue/Memory.pm) — with the exact
semantics pinned by t/queue.t:

- enqueue dedups against the seen set and MARKS at enqueue time
- requeue bypasses the seen check but still marks (Queue/Memory.pm:28-30,41)
- cap drops the NEWCOMER once length exceeds cap, and the dropped job's
  digest is NOT marked (Queue/Memory.pm:42-44, t/queue.t:33-54)
- dequeue/next are FIFO by the persisted ``seq`` (no destructive shift:
  rows flip state, so the table doubles as the durable crawl journal)

The scheduler does not call this class in its hot loop (it works in whole
waves); Frontier exists as the user-facing queue API and the property-test
surface. State commits to a TableStore when one is supplied — that is the
Iceberg-backed durable-queue analog of Queue::MySQL (Queue/MySQL.pm:45-118).

Single-row enqueues are CHEAP: rows buffer on the driver and materialize
into the DataFrame in one batch at the next read (length/next/dequeue/
bulk/commit), the redundancy probe hits an exact driver-side digest cache
(restored lazily, kept only while it fits ``digest_cache_max``), and the
pending length is an O(1) tracked counter — N adds cost zero Spark jobs,
not N scans over an N-deep union plan. Every few DataFrame mutations the
plan is flattened with a lazy localCheckpoint so lineage depth stays
bounded no matter how many API calls a session makes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.core import digest_col, host_key_udf
from .session import local_frame
from .store import TableStore

__all__ = ["Frontier", "cap_keep"]

_SCHEMA = (
    "seq long, url string, method string, params string, digest string, "
    "host_key string, depth int, state string"
)

# flatten the union/withColumn lineage after this many DataFrame mutations
_FLATTEN_EVERY = 32

# driver-cached pending-head window for next()/dequeue(): peeks are served
# from this materialized slice, so a peek loop costs ONE Spark job per
# window instead of one O(offset) collect per call (VERDICT r3 item 7)
_HEAD_CACHE = 256


def cap_room(cap: int | None, length: int) -> int | None:
    """Queue/Memory.pm:42-44: a newcomer is dropped once the queue length
    exceeds ``cap``, so ``max(0, cap + 1 - length)`` more rows fit (None:
    no cap). The dropped rows are NOT marked seen."""
    return None if cap is None else max(0, cap + 1 - length)


def cap_keep(rows: DataFrame, cap: int | None, length: int, *order) -> DataFrame:
    """The first ``cap_room`` rows of ``rows`` under ``order``, the
    newcomers a queue of ``length`` rows admits."""
    room = cap_room(cap, length)
    return rows if room is None else rows.orderBy(*order).limit(room)


class Frontier:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore | None = None,
        cap: int | None = None,
        digest_cache_max: int = 1_000_000,
    ):
        self.spark = spark
        self.cap = cap
        self.store = store
        self.digest_cache_max = digest_cache_max
        self._df = local_frame(spark, [], _SCHEMA)
        self._next_seq = 0
        self._buffer: list[tuple] = []   # driver-buffered single-row adds
        self._digests: set | None = set()  # exact probe cache; None = too big
        self._pending_count = 0
        self._mutations = 0
        # cached ordered pending head (list of row dicts). _head_complete
        # means the cache holds EVERY pending row (short queues), so an
        # out-of-range peek is a definitive None, not a cache miss.
        # Invalidation rule: single-row enqueues append in place while the
        # cache stays authoritative; every bulk mutation drops the cache.
        self._head: list[dict] | None = None
        self._head_complete = False
        if store is not None:
            restored = store.read(spark, "frontier_api")
            if restored is not None:
                self._df = restored
                # restore collects scalars (max seq, counts) — digests are
                # pulled back only if the table is small enough to cache
                row = self._df.agg(
                    F.max("seq").alias("m"),
                    F.count("*").alias("n"),
                    F.sum(
                        F.when(F.col("state") == "pending", 1).otherwise(0)
                    ).alias("p"),
                ).collect()[0]
                self._next_seq = (row["m"] + 1) if row["m"] is not None else 0
                self._pending_count = int(row["p"] or 0)
                if (row["n"] or 0) <= digest_cache_max:
                    self._digests = {
                        r["digest"]
                        for r in self._df.select("digest").distinct().collect()
                    }
                else:
                    self._digests = None  # probe falls back to a Spark job

    # -- internal state plumbing --------------------------------------------

    def _set_df(self, df: DataFrame) -> None:
        self._mutations += 1
        if self._mutations % _FLATTEN_EVERY == 0:
            # lazy checkpoint: truncates lineage at next evaluation without
            # forcing a job now — keeps union/withColumn depth bounded
            df = df.localCheckpoint(eager=False)
        self._df = df

    def _flush(self) -> None:
        """Materialize buffered single-row adds as ONE union."""
        if not self._buffer:
            return
        batch = local_frame(self.spark, self._buffer, _SCHEMA).withColumn(
            "host_key", host_key_udf(F.col("url"))
        )
        self._buffer = []
        self._set_df(self._df.unionByName(batch))

    def _seen(self, digest: str) -> bool:
        if self._digests is not None:
            return digest in self._digests
        if any(b[4] == digest for b in self._buffer):
            return True
        return bool(self._df.filter(F.col("digest") == digest).take(1))

    # -- queue API (Queue.pm contract) --------------------------------------

    def enqueue(self, url: str, method: str | None = None, params: str | None = None) -> bool:
        return self._enqueue(url, method, params, requeue=False)

    def requeue(self, url: str, method: str | None = None, params: str | None = None) -> bool:
        return self._enqueue(url, method, params, requeue=True)

    def _enqueue(self, url, method, params, requeue) -> bool:
        from .urlkit import job_digest

        digest = job_digest(url, method, params)
        if not requeue and self._seen(digest):
            return False
        if cap_room(self.cap, self.length()) == 0:
            return False  # newcomer dropped, digest NOT marked
        self._buffer.append(
            (self._next_seq, url, method, params, digest, None, 0, "pending")
        )
        if self._head is not None:
            if self._head_complete:
                if len(self._head) < _HEAD_CACHE * 16:
                    # FIFO append lands at the tail of a fully-cached head
                    # — extend in place (host_key via the same scalar the
                    # UDF wraps); bounded growth, then fall back
                    from .urlkit import host_key as _hk

                    self._head.append(
                        dict(
                            seq=self._next_seq, url=url, method=method,
                            params=params, digest=digest, host_key=_hk(url),
                            depth=0, state="pending",
                        )
                    )
                else:
                    self._head = None
            # incomplete window: the new row lands BEYOND the cached
            # prefix, so cached offsets are unaffected — keep the cache
            # (peeks past the window re-collect anyway)
        if self._digests is not None:
            self._digests.add(digest)
            if len(self._digests) > self.digest_cache_max:
                self._flush()
                self._digests = None
        self._next_seq += 1
        self._pending_count += 1
        return True

    def enqueue_frame(self, df: DataFrame, requeue: bool = False) -> int:
        """Bulk path: dedup via anti-join (the scheduler-scale semantics)."""
        from .operators.seq import assign_seq

        self._flush()
        df = df.withColumn(
            "digest", digest_col(F.col("url"), F.col("method"), F.col("params"))
        )
        if not requeue:
            seen_df = self._df.select("digest").distinct()
            df = df.join(seen_df, "digest", "left_anti")
        df = assign_seq(df, ["url"], out_col="seq", start=self._next_seq)
        rows = df.select(
            "seq", "url", "method", "params", "digest",
            host_key_udf(F.col("url")).alias("host_key"),
            F.lit(0).alias("depth"), F.lit("pending").alias("state"),
        )
        rows = cap_keep(rows, self.cap, self.length(), "seq")
        rows = rows.localCheckpoint(eager=True)
        n = rows.count()
        self._set_df(self._df.unionByName(rows))
        self._head = None  # bulk mutation: drop the cached head window
        self._next_seq += n
        self._pending_count += n
        if self._digests is not None:
            if len(self._digests) + n > self.digest_cache_max:
                self._digests = None
            else:
                self._digests.update(
                    r["digest"] for r in rows.select("digest").collect()
                )
        return n

    def length(self) -> int:
        return self._pending_count

    def next(self, offset: int = 0) -> dict | None:
        """Peek at pending[offset] — served from the cached head window.

        The first peek (or the first after a bulk mutation) materializes
        the head window in ONE job; subsequent peeks and the dequeue loop
        are pure driver-side list reads. Offsets beyond the window fall
        back to a one-off bounded collect (rare deep peek)."""
        if self._head is None or (
            offset >= len(self._head) and not self._head_complete
        ):
            if offset >= _HEAD_CACHE:
                self._flush()
                rows = (
                    self._df.filter("state = 'pending'")
                    .orderBy("seq")
                    .limit(offset + 1)
                    .collect()
                )
                return rows[offset].asDict() if len(rows) > offset else None
            self._flush()
            rows = (
                self._df.filter("state = 'pending'")
                .orderBy("seq")
                .limit(_HEAD_CACHE)
                .collect()
            )
            self._head = [r.asDict() for r in rows]
            self._head_complete = len(rows) < _HEAD_CACHE
        return dict(self._head[offset]) if offset < len(self._head) else None

    def dequeue(self) -> dict | None:
        head = self.next(0)
        if head is None:
            return None
        # the head row may still be driver-buffered (next() served it from
        # an in-place cache append without touching Spark) — flush before
        # marking, or the seq-match below is a no-op and the buffered row
        # resurrects as pending on the next bulk read
        self._flush()
        self._set_df(
            self._df.withColumn(
                "state",
                F.when(F.col("seq") == head["seq"], F.lit("done")).otherwise(F.col("state")),
            )
        )
        self._pending_count -= 1
        if self._head:
            self._head.pop(0)
            if not self._head and not self._head_complete:
                self._head = None  # window exhausted, more rows may exist
        return head

    def dequeue_wave(self, limit: int | None = None) -> DataFrame:
        self._flush()
        self._head = None  # bulk mutation: drop the cached head window
        wave = self._df.filter("state = 'pending'").orderBy("seq")
        if limit is not None:
            wave = wave.limit(limit)
        wave = wave.localCheckpoint(eager=True)
        n = wave.count()
        self._set_df(
            self._df.join(wave.select("seq").withColumnRenamed("seq", "__dq"),
                          F.col("seq") == F.col("__dq"), "left")
            .withColumn("state", F.when(F.col("__dq").isNotNull(), F.lit("done")).otherwise(F.col("state")))
            .drop("__dq")
        )
        self._pending_count -= n
        return wave

    def shuffle(self, seed: int = 42) -> None:
        """F5: seeded deterministic re-sequencing of pending rows (the
        reference shuffles unseeded — any fixed permutation is conformant)."""
        from pyspark.sql.window import Window

        self._flush()
        self._head = None  # re-sequencing: drop the cached head window
        pend = self._df.filter("state = 'pending'")
        done = self._df.filter("state != 'pending'")
        reseq = pend.withColumn(
            "seq",
            F.row_number().over(Window.orderBy(F.md5(F.concat(F.col("url"), F.lit(str(seed)))))).cast("long")
            + F.lit(self._next_seq),
        )
        self._set_df(done.unionByName(reseq))
        self._next_seq += self._pending_count + 1

    def seen_digests(self) -> set:
        """Materialize the seen set to the driver — an explicitly small-N
        debugging surface; the queue itself never calls this."""
        self._flush()
        return {r["digest"] for r in self._df.select("digest").distinct().collect()}

    def commit(self) -> int | None:
        if self.store is None:
            return None
        self._flush()
        return self.store.commit("frontier_api", self._df, mode="overwrite",
                                 meta={"next_seq": self._next_seq})
