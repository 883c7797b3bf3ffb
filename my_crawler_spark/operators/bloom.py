"""Distributed-built, banked broadcast Bloom filter for the URL-seen prefilter.

north_rule: "broadcast bloom/cuckoo URL-seen filter" in front of the exact
``url_seen`` anti-join (Q4, crawl_loop.rs:258-272). Policy: the bloom only
*prunes* — rows the bloom says "definitely unseen" skip the exact anti-join
entirely; "maybe seen" rows still go through the authoritative anti-join,
so false positives cost a join probe, never a wrong answer.

The crawl round does not use it: ``admit_links`` runs the plain exact
anti-join. On the bulk benchmark round (about 600 seen keys) the build and
the Arrow probe cost about a third of the superstep's CPU, and "maybe seen"
rows still shuffle against the whole seen set (ROADMAP item 2).

Hashing strategy: three base hashes are computed JVM-side
(``xxhash64(key, seed)`` — whole-stage codegen): h1/h2 drive the k bit
positions via Kirsch-Mitzenmacher double hashing **vectorized in numpy**
inside the Arrow batch; h3 routes the key to a bank. No per-row Python.

Build is distributed AND bank-partitioned:

1. each partition folds its (h1, h2, bank) triples into per-bank local
   bitsets (``mapInPandas``),
2. the per-bank bitsets are OR-reduced **executor-side**
   (``reduceByKey`` = map-side combine + one tree level), so the driver
   receives exactly ``n_banks`` bitsets — never one bitset per partition.

Cost model at 10^10 keys: a flat 1% fpp bloom is ~12 GiB — too big for one
broadcast. Banking by ``xxhash64(url) % B`` splits it into B independent
filters of ~12 GiB / B; at cluster scale the banks are written to storage
and each executor loads only the banks its host-bucket partitions probe
(plus Catalyst's runtime bloom join, enabled in session.py, as backstop).
In this single-JVM harness all banks are broadcast together, but the
build-side dataflow (per-bank reduce, bounded driver fan-in) is the
at-scale shape.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_SEED1, _SEED2, _SEED3 = 0x51ED, 0xC0FFEE, 0xBA9C
# one bank per ~2M keys: ~2.4 MiB of filter per bank at 1% fpp
_KEYS_PER_BANK = 2_000_000
_MAX_BANKS = 64


def _hash_cols(col):
    """JVM-side 64-bit hashes of the key column: 2 position seeds + bank."""
    return (
        F.xxhash64(col, F.lit(_SEED1)),
        F.xxhash64(col, F.lit(_SEED2)),
        F.xxhash64(col, F.lit(_SEED3)),
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, fully vectorized."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _banks_of(h3: np.ndarray, n_banks: int) -> np.ndarray:
    return (h3.astype(np.uint64) % np.uint64(n_banks)).astype(np.int64)


class BloomFilter:
    """``n_banks`` independent bitsets; a key probes only its bank."""

    def __init__(self, banks: list[np.ndarray], k: int):
        self.banks = banks  # each: uint8 array, length m/8 (bits per bank)
        self.k = k
        self.n_banks = len(banks)
        self.m = len(banks[0]) * 8

    @staticmethod
    def params(expected_n: int, fpp: float = 0.01) -> tuple[int, int]:
        """(bits, k) for ONE bank holding expected_n keys."""
        m = max(64, int(-expected_n * math.log(fpp) / (math.log(2) ** 2)))
        m = (m + 7) // 8 * 8
        k = max(1, round(m / max(expected_n, 1) * math.log(2)))
        return m, k

    def total_bytes(self) -> int:
        return sum(len(b) for b in self.banks)

    def contains_hashed(
        self, h1: np.ndarray, h2: np.ndarray, h3: np.ndarray
    ) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        pos = _positions(h1, h2, self.k, self.m)
        bank = _banks_of(h3, self.n_banks)
        out = np.zeros(len(h1), dtype=bool)
        for b in range(self.n_banks):
            mask = bank == b
            if not mask.any():
                continue
            p = pos[mask]
            out[mask] = np.all(
                self.banks[b][p >> 3] & (1 << (p & 7)).astype(np.uint8), axis=1
            )
        return out


def _or_bytes(a: bytes, b: bytes) -> bytes:
    return (
        np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
    ).tobytes()


def build_bloom(
    df: DataFrame,
    key_col: str,
    expected_n: int | None = None,
    fpp: float = 0.01,
    n_banks: int | None = None,
) -> BloomFilter:
    """Distributed banked build; driver fan-in bounded at n_banks bitsets."""
    if expected_n is None:
        expected_n = df.count() or 1
    if n_banks is None:
        n_banks = max(1, min(_MAX_BANKS, expected_n // _KEYS_PER_BANK + 1))
    m, k = BloomFilter.params(max(expected_n // n_banks, 1), fpp)
    h1, h2, h3 = _hash_cols(F.col(key_col))
    hashed = df.select(h1.alias("__h1"), h2.alias("__h2"), h3.alias("__h3"))

    def fold(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local: dict[int, np.ndarray] = {}
        for pdf in it:
            if not len(pdf):
                continue
            pos = _positions(
                pdf["__h1"].to_numpy(np.int64), pdf["__h2"].to_numpy(np.int64), k, m
            )
            bank = _banks_of(pdf["__h3"].to_numpy(np.int64), n_banks)
            for b in np.unique(bank):
                bits = local.setdefault(int(b), np.zeros(m // 8, dtype=np.uint8))
                p = pos[bank == b].ravel()
                np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
        if local:
            yield pd.DataFrame(
                {"bank": list(local), "bits": [v.tobytes() for v in local.values()]}
            )

    partials = hashed.mapInPandas(fold, "bank int, bits binary")
    # executor-side OR-reduce per bank: the driver collects n_banks rows,
    # not one bitset per input partition
    merged = (
        partials.rdd.map(lambda r: (r.bank, r.bits)).reduceByKey(_or_bytes).collect()
    )
    banks = [np.zeros(m // 8, dtype=np.uint8) for _ in range(n_banks)]
    for b, bits in merged:
        banks[b] = np.frombuffer(bits, dtype=np.uint8).copy()
    return BloomFilter(banks, k)


def bloom_maybe_seen(
    spark: SparkSession, df: DataFrame, key_col: str, bloom: BloomFilter, out_col: str
) -> DataFrame:
    """Adds ``out_col``: True = maybe-seen (needs the exact anti-join),
    False = definitely new. JVM hashes -> numpy membership, Arrow-batched."""
    bc = spark.sparkContext.broadcast(
        ([b.tobytes() for b in bloom.banks], bloom.k)
    )

    @F.pandas_udf(BooleanType())
    def probe(h1: pd.Series, h2: pd.Series, h3: pd.Series) -> pd.Series:
        bank_bytes, k = bc.value
        bf = BloomFilter([np.frombuffer(b, dtype=np.uint8) for b in bank_bytes], k)
        return pd.Series(
            bf.contains_hashed(
                h1.to_numpy(np.int64), h2.to_numpy(np.int64), h3.to_numpy(np.int64)
            )
        )

    c1, c2, c3 = _hash_cols(F.col(key_col))
    return df.withColumn(out_col, probe(c1, c2, c3))


def anti_join_with_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    key_cols: list[str],
    bloom: BloomFilter | None,
    bloom_key: str,
) -> DataFrame:
    """Q4's enqueue-dedup: candidates minus seen, bloom-pruned.

    definitely-new rows bypass the shuffle of the exact anti-join; only
    maybe-seen rows are joined. Falls back to a plain left_anti when no
    bloom is supplied.
    """
    if bloom is None:
        return candidates.join(seen, key_cols, "left_anti")
    tagged = bloom_maybe_seen(spark, candidates, bloom_key, bloom, "__maybe_seen")
    fresh = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    suspect = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    return fresh.unionByName(suspect.join(seen, key_cols, "left_anti"))
