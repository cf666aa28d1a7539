"""Bloom-sharded seen set: pre-filter + exact repair ≡ naive anti-join."""

import numpy as np

from xrpl_rich_list_py_crawler_spark.operators.seen import (
    BITS_PER_KEY,
    MIN_BITS,
    N_HASHES,
    anti_join_seen,
    anti_join_seen_bloom,
    build_bloom_shards,
)


def _dfs(spark, n_seen=5000, n_cand=3000, overlap=1000):
    rng = np.random.RandomState(7)
    seen_hashes = rng.randint(-(2**62), 2**62, size=n_seen, dtype=np.int64)
    fresh = rng.randint(-(2**62), 2**62, size=n_cand - overlap, dtype=np.int64)
    cand_hashes = np.concatenate([seen_hashes[:overlap], fresh])
    seen = spark.createDataFrame(
        [(int(h), 1) for h in seen_hashes], "url_hash long, round int"
    )
    cand = spark.createDataFrame(
        [(int(h), f"u{i}") for i, h in enumerate(cand_hashes)],
        "url_hash long, url string",
    )
    return seen, cand, set(map(int, fresh))


def test_bloom_no_false_negatives(spark):
    seen, cand, _ = _dfs(spark)
    shards = build_bloom_shards(seen, n_shards=8)
    seen_np = np.array([r["url_hash"] for r in seen.collect()], dtype=np.int64)
    assert shards.maybe_contains(seen_np).all()  # every member flagged


def test_bloom_plus_repair_equals_exact(spark):
    seen, cand, fresh = _dfs(spark)
    exact = {r["url_hash"] for r in anti_join_seen(cand, seen).collect()}
    bloom = {
        r["url_hash"]
        for r in anti_join_seen_bloom(spark, cand, seen, n_shards=8).collect()
    }
    assert bloom == exact == fresh


def test_bloom_prefilter_is_selective(spark):
    """The point of the bloom: most unseen rows skip the anti-join."""
    seen, cand, fresh = _dfs(spark)
    shards = build_bloom_shards(seen, n_shards=8)
    cand_np = np.array(
        [r["url_hash"] for r in cand.select("url_hash").collect()], dtype=np.int64
    )
    maybe = shards.maybe_contains(cand_np)
    n_fresh_flagged = sum(
        1 for h, m in zip(cand_np, maybe) if m and int(h) in fresh
    )
    # false-positive rate on genuinely-unseen candidates well under 5%
    assert n_fresh_flagged / len(fresh) < 0.05


def test_empty_seen_passthrough(spark):
    _, cand, _ = _dfs(spark, n_seen=1, n_cand=100, overlap=0)
    assert anti_join_seen(cand, None).count() == 100
    assert anti_join_seen_bloom(spark, cand, None).count() == 100


def test_or_merge_executor_side_increment(spark):
    """A grown ledger (base + one round's increment) gets a fresh
    executor-side build rather than an OR-merged increment: the driver
    collects at most n_shards bitset blobs, every ledger key is
    (maybe-)contained, and the geometry follows the module constants."""
    seen, _, _ = _dfs(spark, n_seen=4000, n_cand=1, overlap=0)
    inc, _, _ = _dfs(spark, n_seen=1500, n_cand=1, overlap=0)
    full = seen.unionByName(inc)
    shards = build_bloom_shards(full, n_shards=8)
    all_hashes = np.array(
        [r["url_hash"] for r in full.select("url_hash").collect()],
        dtype=np.int64,
    )
    assert shards.maybe_contains(all_hashes).all()
    assert shards.n_keys == 5500
    assert 0 < len(shards.shards) <= 8
    assert shards.n_hashes == N_HASHES
    # power of two, at least MIN_BITS and BITS_PER_KEY bits per key
    assert shards.n_bits & (shards.n_bits - 1) == 0
    assert shards.n_bits >= max(MIN_BITS, BITS_PER_KEY * 5500 // 8)
