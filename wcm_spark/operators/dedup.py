"""The URL-seen set (D2): one owner, one bound.

The reference keeps an exact in-memory hash of MD5 digests
(Queue/Memory.pm:10,37-46). :class:`SeenSet` keeps the crawl's copy and
takes every seen-set decision behind one bound, ``broadcast_seen_max``:

1. **at or below the bound: exact mirror** — the digest set lives on the
   driver and ships to the fused scrape UDF as broadcast pieces (the base
   set once, then one fresh-digest delta per wave), which drops seen
   children before they cross the Arrow boundary.
2. **past the bound: bloom + exact anti-join** — a bloom sized from the
   seen count (rebuilt at twice the count once it fills) is built
   distributively (partial numpy bit-arrays per partition, OR-merged on
   the driver) and broadcast; definite-negatives skip the anti-join
   shuffle, and the exact left-anti join against the seen digests backs
   it, so correctness never depends on the bloom. Hash indexes come from
   two JVM-side xxhash64 columns (Kirsch–Mitzenmacher double hashing), so
   no Python touches the rows until the vectorized membership test.

The set is append-only, so no cuckoo filter: deletion is what a cuckoo
filter buys over a bloom, and nothing here is ever removed.

PySpark exposes no bloom builder (DataFrameStatFunctions.bloomFilter is
Scala-only), hence the numpy implementation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["NumpyBloom", "SeenSet", "with_bloom_hashes", "build_bloom", "seen_anti_join"]

_H1 = "__bh1"
_H2 = "__bh2"


class NumpyBloom:
    """Vectorized bloom filter over uint64 double hashes."""

    def __init__(self, n_bits: int, n_hashes: int = 5, bits: np.ndarray | None = None):
        assert n_bits % 8 == 0
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    @classmethod
    def sized(cls, capacity: int, fpp: float = 0.01) -> "NumpyBloom":
        n_bits = max(1024, int(-capacity * math.log(fpp) / (math.log(2) ** 2)))
        n_bits = (n_bits + 7) // 8 * 8
        k = max(1, round(n_bits / max(capacity, 1) * math.log(2)))
        return cls(n_bits, min(k, 8))

    def _indexes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        h1 = h1.astype(np.uint64)
        h2 = h2.astype(np.uint64)
        idx = np.empty((self.n_hashes, h1.shape[0]), dtype=np.uint64)
        for i in range(self.n_hashes):
            idx[i] = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
        return idx

    def add(self, h1: np.ndarray, h2: np.ndarray) -> None:
        idx = self._indexes(h1, h2).ravel()
        np.bitwise_or.at(self.bits, (idx // 8).astype(np.int64), (1 << (idx % 8)).astype(np.uint8))

    def contains(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        idx = self._indexes(h1, h2)
        hits = (self.bits[(idx // 8).astype(np.int64)] >> (idx % 8).astype(np.uint8)) & 1
        return hits.all(axis=0)


def with_bloom_hashes(df: DataFrame, digest_col: str = "digest") -> DataFrame:
    """Attach the two JVM-side base hashes used by every bloom op."""
    return df.withColumn(_H1, F.xxhash64(F.col(digest_col))).withColumn(
        _H2, F.xxhash64(F.col(digest_col), F.lit("wcm-bloom-salt"))
    )


def build_bloom(df: DataFrame, bloom: NumpyBloom, digest_col: str = "digest") -> NumpyBloom:
    """Distributed bloom build: per-partition partial bit arrays, OR-merged.

    Each partition ships ``n_bits/8`` bytes to the driver — independent of
    row count — so the build is one narrow pass over the data."""
    hashed = with_bloom_hashes(df, digest_col).select(_H1, _H2)
    n_bits, n_hashes = bloom.n_bits, bloom.n_hashes

    def partial(batches):
        part = NumpyBloom(n_bits, n_hashes)
        for pdf in batches:
            if len(pdf):
                part.add(pdf[_H1].to_numpy(), pdf[_H2].to_numpy())
        yield pd.DataFrame({"bits": [part.bits.tobytes()]})

    pieces = hashed.mapInPandas(partial, schema="bits binary").collect()
    for row in pieces:
        bloom.bits |= np.frombuffer(row["bits"], dtype=np.uint8)
    return bloom


def bloom_prefilter(df: DataFrame, bloom, digest_col: str = "digest"):
    """Split candidates into (maybe_seen, definitely_fresh) via the bloom.

    ``definitely_fresh`` rows skip the anti-join shuffle entirely; only
    ``maybe_seen`` rows (true hits + fpp false positives) pay the join.
    ``bloom``: a :class:`NumpyBloom`, broadcast here, or a broadcast of one
    that the caller owns (``SeenSet`` holds one at a time)."""
    b = (
        df.sparkSession.sparkContext.broadcast(bloom)
        if isinstance(bloom, NumpyBloom) else bloom
    )

    @F.pandas_udf("boolean")
    def maybe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        if not len(h1):
            return pd.Series([], dtype=bool)
        return pd.Series(b.value.contains(h1.to_numpy(), h2.to_numpy()))

    hashed = with_bloom_hashes(df, digest_col).withColumn("__maybe", maybe(F.col(_H1), F.col(_H2)))
    maybe_seen = hashed.filter("__maybe").drop(_H1, _H2, "__maybe")
    fresh = hashed.filter("NOT __maybe").drop(_H1, _H2, "__maybe")
    return maybe_seen, fresh


def seen_anti_join(
    candidates: DataFrame,
    seen: DataFrame,
    bloom=None,
    digest_col: str = "digest",
    seen_count: int | None = None,
    broadcast_threshold: int = 4_000_000,
) -> DataFrame:
    """Exact unseen-candidates: anti-join on digest, plan picked by scale.

    - seen small enough (``seen_count`` <= threshold, ~128MB of digests):
      broadcast-hash anti-join — candidates never shuffle, the whole
      parse→dedup pipeline stays one stage.
    - otherwise: bloom-prefiltered shuffle anti-join — definite-negatives
      skip the shuffle; only bloom-positives (true hits + fpp) pay it.
    This mirrors what a 10^10-frontier deployment does: broadcast while the
    seen set fits, degrade to the bloom+shuffle path when it doesn't.
    """
    if seen_count is not None and seen_count <= broadcast_threshold:
        return candidates.join(F.broadcast(seen), digest_col, "left_anti")
    if bloom is None:
        return candidates.join(seen, digest_col, "left_anti")
    # the prefilter fans candidates into two branches that are unioned —
    # without materialization the whole upstream (scrape+resolve) would
    # execute once PER BRANCH; a lazy local checkpoint computes it once
    candidates = candidates.localCheckpoint(eager=False)
    maybe_seen, fresh = bloom_prefilter(candidates, bloom, digest_col)
    survivors = maybe_seen.join(seen, digest_col, "left_anti")
    return fresh.unionByName(survivors)


class SeenSet:
    """The crawl's URL-seen set, marked at enqueue (D2): the seed or
    snapshot ``digests`` (``n`` of them at most) plus every ``add``.

    At or below ``bound`` digests it is an exact driver mirror that the
    scrape UDF probes (``probe``); the first ``add`` past the bound hands
    off, for good, to a bloom of capacity ``max(2n, MIN_CAPACITY)`` that
    prefilters an exact shuffle anti-join (``unseen``), rebuilt from
    ``frame`` at twice the count once it fills. Driver cost of the mirror
    at the 4M default: ~128MB of digest payload, ~400MB with Python
    object overhead. ``frame`` is always the exact set, a lazy union of
    checkpointed digest pieces, so no wave re-checkpoints it. A broadcast
    replaced by a newer one is destroyed; ``close`` destroys the rest."""

    MAX_PIECES = 8  # mirror pieces before they re-consolidate into one
    MIN_CAPACITY = 1 << 16
    FPP = 0.01

    def __init__(self, digests: DataFrame, n: int, bound: int):
        self.frame = digests.localCheckpoint(eager=True)
        self.n = n
        self._bound = bound
        self._sc = digests.sparkSession.sparkContext
        self._pieces: list = []
        self._delta: set = set()
        self._mirror = self._bloom = self._bloom_bc = None
        self.capacity = 0  # the bloom's; 0 while the mirror is on
        if n <= bound:
            self._mirror = {r["digest"] for r in self.frame.collect()}
            self.n = len(self._mirror)
        else:
            self._build_bloom()

    def probe(self) -> list | None:
        """The mirror's broadcast pieces for the scrape UDF's in-UDF
        probe, largest first, or None past the bound. The base set ships
        once, then each wave only its fresh-digest delta (O(new) per wave,
        not O(total)); every MAX_PIECES pieces they re-consolidate into
        one, so the per-candidate probe stays O(1)-ish."""
        if self._mirror is None:
            return None
        if not self._pieces or (self._delta and len(self._pieces) >= self.MAX_PIECES):
            self._destroy_pieces()
            self._pieces = [self._sc.broadcast(self._mirror)]
        elif self._delta:
            self._pieces.append(self._sc.broadcast(self._delta))
        self._delta = set()
        return self._pieces

    def unseen(self, children: DataFrame) -> DataFrame:
        """``children`` (scraped with this wave's ``probe``) whose digest is
        not in the set: unchanged while the mirror's probe already dropped
        the seen ones in-UDF, else the bloom-prefiltered anti-join."""
        if self._mirror is not None:
            return children
        if self._bloom_bc is None:
            self._bloom_bc = self._sc.broadcast(self._bloom)
        return seen_anti_join(children, self.frame, self._bloom_bc)

    def add(self, fresh: DataFrame, n: int) -> None:
        """Mark ``fresh``, a pinned frame of ``n`` enqueued digests, seen:
        the mirror's delta collect (Arrow-batched, ~10x the row collect at
        100k+ digests), the hand-off once the mirror would outgrow the
        bound, or the bloom add."""
        if not n:
            return
        self.frame = self.frame.unionByName(fresh)
        self.n += n
        if self._mirror is not None and self.n <= self._bound:
            digests = fresh.toPandas()["digest"].tolist()
            self._mirror.update(digests)
            self._delta.update(digests)
            self.n = len(self._mirror)
        elif self._mirror is not None or self.n > self.capacity:
            # the hand-off, or a full bloom: (re)build it from frame
            self._mirror = None
            self._destroy_pieces()
            self._build_bloom()
        else:
            build_bloom(fresh, self._bloom)
            self._drop_bloom_bc()

    def close(self) -> None:
        """Destroy every broadcast the set still holds."""
        self._destroy_pieces()
        self._drop_bloom_bc()

    def _build_bloom(self) -> None:
        self.capacity = max(2 * self.n, self.MIN_CAPACITY)
        self._bloom = build_bloom(self.frame, NumpyBloom.sized(self.capacity, self.FPP))
        self._drop_bloom_bc()

    def _destroy_pieces(self) -> None:
        for b in self._pieces:
            b.destroy()
        self._pieces = []

    def _drop_bloom_bc(self) -> None:
        if self._bloom_bc is not None:
            self._bloom_bc.destroy()
            self._bloom_bc = None
