"""URL-seen helpers: the JVM-side URL hashes and a distributed Bloom build.

Replaces the reference's stash-hit check ("if stashed, don't hit the server",
lib/upton/downloader.rb:70-98). The crawler's seen-set test is exact: a
left-semi join finds cache hits and a left-anti join finds new URLs, both on
``url_hash`` (``xxhash64`` of the canonical URL, computed in codegen, never in
Python). No approximate layer sits in front of it: the crawler already
semi-joins every allowed row against the seen-set, so a Bloom pre-test saves
no probe and only adds a bitmap build, a broadcast and a Python UDF.

:func:`with_url_hashes` attaches ``url_hash`` plus murmur3 ``url_hash32``, the
second hash of :class:`BloomFilter`'s double hashing. Neither it nor
:func:`build_bloom` (partition-local numpy bitmaps OR-merged on the driver) is
called by the crawler, which computes ``url_hash`` alone; the benchmark's
kernel microbench still uses both.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


class BloomFilter:
    """Plain numpy Bloom filter over pre-computed 64/32-bit hashes."""

    def __init__(self, n_bits: int, n_hashes: int):
        self.n_bits = int(n_bits)
        self.n_hashes = int(n_hashes)
        self.words = np.zeros((self.n_bits + 63) // 64, dtype=np.uint64)

    @classmethod
    def sized_for(cls, n_items: int, fpr: float = 1e-3) -> "BloomFilter":
        n_items = max(1, n_items)
        m = int(-n_items * math.log(fpr) / (math.log(2) ** 2)) + 64
        k = max(1, round((m / n_items) * math.log(2)))
        return cls(m, k)

    def _indices(self, h64: np.ndarray, h32: np.ndarray) -> np.ndarray:
        """(n, k) bit indices via double hashing: h1 + i*h2 mod m."""
        h1 = h64.astype(np.int64).view(np.uint64)
        h2 = h32.astype(np.int64).view(np.uint64) | np.uint64(1)  # odd step
        i = np.arange(self.n_hashes, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(self.n_bits)

    def add_hashes(self, h64: np.ndarray, h32: np.ndarray) -> None:
        if len(h64) == 0:
            return
        idx = self._indices(np.asarray(h64), np.asarray(h32)).ravel()
        np.bitwise_or.at(self.words, idx >> np.uint64(6), np.uint64(1) << (idx & np.uint64(63)))

    def contains_hashes(self, h64: np.ndarray, h32: np.ndarray) -> np.ndarray:
        if len(h64) == 0:
            return np.zeros(0, dtype=bool)
        idx = self._indices(np.asarray(h64), np.asarray(h32))
        bits = (self.words[idx >> np.uint64(6)] >> (idx & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert other.n_bits == self.n_bits and other.n_hashes == self.n_hashes
        np.bitwise_or(self.words, other.words, out=self.words)
        return self

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_bits: int, n_hashes: int) -> "BloomFilter":
        bf = cls(n_bits, n_hashes)
        bf.words = np.frombuffer(data, dtype=np.uint64).copy()
        return bf


def build_bloom(
    df: DataFrame, h64_col: str = "url_hash", h32_col: str = "url_hash32",
    n_items: int | None = None, fpr: float = 1e-3, into: BloomFilter | None = None,
) -> BloomFilter:
    """Distributed Bloom build: partition-local numpy bitmaps emitted as one
    row each via mapInPandas, OR-reduced on the driver (PySpark exposes no
    df.stat.bloomFilter — SURVEY.md §2.10).

    Pass ``into`` to merge a round's new URLs into the crawl's cumulative
    filter (sized once for the expected total cardinality)."""
    if into is not None:
        proto = into
    else:
        if n_items is None:
            n_items = df.count()
        proto = BloomFilter.sized_for(n_items, fpr)
    n_bits, n_hashes = proto.n_bits, proto.n_hashes

    def per_partition(batches):
        bf = BloomFilter(n_bits, n_hashes)
        saw = False
        for pdf in batches:
            if len(pdf):
                saw = True
                bf.add_hashes(pdf[h64_col].to_numpy(), pdf[h32_col].to_numpy())
        if saw:
            yield pd.DataFrame({"bitmap": [bf.to_bytes()]})

    parts = df.select(h64_col, h32_col).mapInPandas(per_partition, schema="bitmap binary").collect()
    for row in parts:
        proto.merge(BloomFilter.from_bytes(row["bitmap"], n_bits, n_hashes))
    return proto


def with_url_hashes(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach the JVM-side (xxhash64, murmur3) key pair used everywhere."""
    return df.withColumn("url_hash", F.xxhash64(F.col(url_col))).withColumn(
        "url_hash32", F.hash(F.col(url_col))
    )
