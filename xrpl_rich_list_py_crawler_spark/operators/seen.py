"""URL-seen set: exact ledger anti-join, plus bloom-shard primitives.

Generalizes the reference's in-memory dedup set ``processed_accounts``
(``loader.py:140,155``) and the ``UNIQUE (address, snapshot_date)`` key
(``table.sql:13``) to a 10^10-key seen set (BASELINE.json north_rule):

* **truth and crawl check**: the exact ``seen`` ledger (url_hash longs,
  appended per round), checked with one hash left-anti join
  (:func:`anti_join_seen`). The crawl round uses it for both of its seen
  checks.
* **bloom shards**: N bloom shards aligned to ``pmod(url_hash, N)``, each
  a numpy bitset built executor-side via ``applyInPandas`` (one Arrow
  batch per shard group, no per-row Python). :func:`anti_join_seen_bloom`
  probes them through a pandas UDF and repairs the "maybe seen" rows
  with the exact anti-join, so false positives never drop an unseen URL.

Why the crawl does not put the bloom in front of its seen checks: the
repair still reads the whole ledger as the join's build side, so the
bloom saves no ledger work. It only adds two Python passes per check and
a per-round bloom build that competes with the commit writes for cores;
dropping it halved the crawl benchmark's median round time (CHANGES.md).
A bloom pays where the side it filters is the expensive one, as in
:func:`.curation.ngram_contamination`, where it drops most corpus grams
before they reach the join against a small benchmark set.

Nothing deletes from the seen set: a forced re-crawl bootstraps the due
URLs of :func:`..plans.rounds.revisit_seeds` on a fresh catalog, so
neither structure needs deletion support.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Mixing constant for the second hash in double-hashing (splitmix64 step).
_MIX = np.uint64(0x9E3779B97F4A7C15)

# Bloom geometry of build_bloom_shards: ~0.8% false positives at
# 10 bits/key with 7 probes; a shard never drops below 2 KiB of bits.
BITS_PER_KEY = 10
N_HASHES = 7
MIN_BITS = 1 << 14


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """(len, n_hashes) bit positions via double hashing h1 + i*h2."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h ^ (h >> np.uint64(33))) * _MIX | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k positions are set (possible member)."""
    got = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=1)


@dataclass
class BloomShards:
    """Broadcastable bundle of per-shard bloom bitsets."""

    n_shards: int
    n_bits: int
    n_hashes: int
    shards: dict[int, bytes]

    n_keys: int = 0

    def maybe_contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: False ⇒ definitely unseen."""
        out = np.zeros(len(hashes), dtype=bool)
        if not len(hashes):
            return out
        h = hashes.astype(np.int64)
        shard_ids = np.mod(h, self.n_shards)  # == Spark pmod semantics
        for sid in np.unique(shard_ids):
            mask = shard_ids == sid
            blob = self.shards.get(int(sid))
            if blob is None:
                continue
            bits = np.frombuffer(blob, dtype=np.uint8)
            pos = _positions(h[mask], self.n_bits, self.n_hashes)
            out[mask] = _test_bits(bits, pos)
        return out


def build_bloom_shards(seen: DataFrame, n_shards: int = 32) -> BloomShards:
    """Build per-shard blooms executor-side, collect only the bitsets.

    ``applyInPandas`` over ``pmod(url_hash, n_shards)`` groups: each task
    sees one shard's hashes as a single Arrow batch and emits one (shard_id,
    bitset) row — the shuffle moves longs, the collect moves n_shards blobs.
    Each shard gets ``BITS_PER_KEY`` bits per key (at least ``MIN_BITS``,
    rounded up to a power of two) and ``N_HASHES`` probes.
    """
    total = seen.count()
    n_bits = max(MIN_BITS, int(BITS_PER_KEY * max(total, 1) / n_shards))
    n_bits = 1 << int(np.ceil(np.log2(n_bits)))  # power of two → cheap mod

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(), n_bits, N_HASHES)
        _set_bits(bits, pos)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bits": [bits.tobytes()],
                "n": [len(pdf)],
            }
        )

    built = (
        seen.select("url_hash", F.pmod("url_hash", F.lit(n_shards)).alias("shard"))
        .groupBy("shard")
        .applyInPandas(_build, "shard int, bits binary, n long")
        .collect()
    )
    return BloomShards(
        n_shards=n_shards,
        n_bits=n_bits,
        n_hashes=N_HASHES,
        shards={r["shard"]: bytes(r["bits"]) for r in built},
        n_keys=sum(r["n"] for r in built),
    )


def anti_join_seen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact frontier-vs-seen anti-join (J2, ``loader.py:157-161``).

    The ledger side is not de-duplicated: a left-anti join's result does
    not depend on repeated right-side keys, and a ``distinct`` would add
    an aggregate and an exchange over the whole ledger on every check.
    """
    if seen is None:
        return candidates
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def anti_join_seen_bloom(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame | None,
    shards: BloomShards | None = None,
    n_shards: int = 32,
) -> DataFrame:
    """Bloom pre-filter + exact repair — semantically ≡ anti_join_seen.

    definitely-unseen (bloom says no) pass for free; maybe-seen rows get the
    exact anti-join. Equivalence asserted by tests/test_seen.py.
    """
    if seen is None:
        return candidates
    if shards is None:
        shards = build_bloom_shards(seen, n_shards=n_shards)
    bc = spark.sparkContext.broadcast(shards)

    @F.pandas_udf("boolean")
    def _maybe_seen(h: pd.Series) -> pd.Series:
        return pd.Series(bc.value.maybe_contains(h.to_numpy()))

    flagged = candidates.withColumn("_maybe_seen", _maybe_seen("url_hash"))
    clean = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspect = flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    repaired = anti_join_seen(suspect, seen)
    return clean.unionByName(repaired)
