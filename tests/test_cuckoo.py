"""Seen-set guarantees a cuckoo filter once covered, pinned on what runs.

The engine carried a cuckoo filter (a deletable pre-filter meant for
forced re-crawl) that no production path called; it was removed. The
crawl checks one exact seen ledger with a left-anti join, the bloom
shards remain a library pre-filter, and a forced re-crawl bootstraps its
URLs on a fresh catalog instead of deleting keys from a filter. Each test
keeps one of the cuckoo tests' guarantees on that surviving path.
"""

import numpy as np
from pyspark.sql import functions as F

from xrpl_rich_list_py_crawler_spark.operators.seen import (
    anti_join_seen,
    anti_join_seen_bloom,
    build_bloom_shards,
)


def _ledger(spark, hashes, round_n=1):
    return spark.createDataFrame(
        [(int(h), round_n) for h in hashes], "url_hash long, round int"
    )


def test_cuckoo_no_false_negatives_and_delete(spark):
    """No false negatives, and "deleting" keys = building from a ledger
    without them: kept keys all present, dropped keys (mostly) gone."""
    rng = np.random.RandomState(5)
    keys = rng.randint(-(2**62), 2**62, size=5_000, dtype=np.int64)
    assert build_bloom_shards(_ledger(spark, keys), n_shards=8) \
        .maybe_contains(keys).all()
    trimmed = build_bloom_shards(_ledger(spark, keys[2500:]), n_shards=8)
    assert trimmed.maybe_contains(keys[2500:]).all()
    still = trimmed.maybe_contains(keys[:2500]).sum()
    assert still < 2500 * 0.05  # only fp-collision remnants


def test_cuckoo_low_false_positive_rate(spark):
    """At a geometry sized by the key count (one shard, so the MIN_BITS
    floor does not inflate it), the bloom stays under 1% false
    positives on unseen keys."""
    rng = np.random.RandomState(6)
    keys = rng.randint(-(2**62), 2**62, size=5_000, dtype=np.int64)
    shards = build_bloom_shards(_ledger(spark, keys), n_shards=1)
    assert shards.n_bits < 20 * len(keys)  # sized, not floored
    probe = rng.randint(-(2**62), 2**62, size=5_000, dtype=np.int64)
    fresh = np.setdiff1d(probe, keys)
    fp = shards.maybe_contains(fresh).sum()
    assert fp / len(fresh) < 0.01


def test_cuckoo_anti_join_equals_exact(spark):
    """Over a ledger appended across rounds (repeated keys, never
    de-duplicated), the exact anti-join and the bloom pre-filter path
    both return exactly the unseen candidates, each row once."""
    rng = np.random.RandomState(7)
    seen_h = rng.randint(-(2**62), 2**62, size=4000, dtype=np.int64)
    fresh_h = rng.randint(-(2**62), 2**62, size=1500, dtype=np.int64)
    cand_h = np.concatenate([seen_h[:500], fresh_h])
    seen = _ledger(spark, seen_h, 1).unionByName(
        _ledger(spark, seen_h[:1000], 2)
    )
    cand = spark.createDataFrame(
        [(int(h), f"u{i}") for i, h in enumerate(cand_h)],
        "url_hash long, url string",
    )
    want = sorted(map(int, fresh_h))
    exact = sorted(r["url_hash"] for r in anti_join_seen(cand, seen).collect())
    bloom = sorted(
        r["url_hash"]
        for r in anti_join_seen_bloom(spark, cand, seen, n_shards=8).collect()
    )
    assert exact == bloom == want


def test_cuckoo_shards_recrawl_deletion(spark, crawl_sf0001, tmp_path):
    """Forced re-crawl without deletion: URLs the first catalog's ledger
    holds are dropped by its seen check, yet re-seeded on a fresh catalog
    they all pass the round's seen check again (no seen_dups)."""
    from xrpl_rich_list_py_crawler_spark.plans.rounds import (
        CrawlRun,
        seeds_to_frontier,
    )
    from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

    pages, robots, seeds = (
        spark.read.parquet(f"{crawl_sf0001}/{t}.parquet")
        for t in ("pages", "robots", "seeds")
    )
    first = SnapshotCatalog(str(tmp_path / "first"))
    CrawlRun(spark, first, pages, robots).run(1, seeds)
    recrawl = (
        first.read_appended(spark, "results")
        .filter("fetch_ok")
        .select("url", "depth", "host_rank", "discovery_ts")
    )
    n = recrawl.count()
    assert n > 0
    ledger = first.read_appended(spark, "seen")
    assert anti_join_seen(seeds_to_frontier(recrawl), ledger).count() == 0

    fresh = SnapshotCatalog(str(tmp_path / "fresh"))
    CrawlRun(spark, fresh, pages, robots).run(1, recrawl)
    m = fresh.read_round(spark, "metrics", 1).agg(
        F.sum("candidates").alias("c"), F.sum("seen_dups").alias("d")
    ).collect()[0]
    assert (m["c"], m["d"]) == (n, 0)
