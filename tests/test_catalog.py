"""Snapshot catalog: atomic commits, snapshot isolation, resume, retention."""

import os
from collections import Counter

import pytest

from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog


def test_uncommitted_round_invisible(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.createDataFrame([(1, 1)], "url_hash long, round int")
    cat.commit_round(1, {"seen": df})
    # simulate a torn write: data dir exists but manifest not updated
    torn = os.path.join(str(tmp_path), "seen", "r00002")
    df.write.mode("overwrite").parquet(torn)
    out = cat.read_appended(spark, "seen")
    assert out.count() == 1  # r2 invisible
    assert cat.last_round() == 1


def test_resume_equals_uninterrupted(spark, crawl_sf0001, tmp_path):
    """Kill after round 1, resume → identical final state (FIXTURES.md §7.5)."""
    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))

    cat_a = SnapshotCatalog(str(tmp_path / "a"))
    CrawlRun(spark, cat_a, pages, robots).run(2, seeds)

    cat_b = SnapshotCatalog(str(tmp_path / "b"))
    CrawlRun(spark, cat_b, pages, robots).run(1, seeds)
    # "crash"; a fresh CrawlRun resumes from the manifest
    CrawlRun(spark, cat_b, pages, robots).run(2)

    for table in ["results", "seen"]:
        a = {
            tuple(r)
            for r in cat_a.read_appended(spark, table)
            .select("url_hash" if table == "seen" else "url", "round")
            .collect()
        }
        b = {
            tuple(r)
            for r in cat_b.read_appended(spark, table)
            .select("url_hash" if table == "seen" else "url", "round")
            .collect()
        }
        assert a == b
    # every appended per-host metrics row, all counters included
    ma = Counter(map(tuple, cat_a.read_appended(spark, "metrics").collect()))
    mb = Counter(map(tuple, cat_b.read_appended(spark, "metrics").collect()))
    assert ma == mb
    fa = {tuple(r) for r in cat_a.read_state(spark, "frontier").collect()}
    fb = {tuple(r) for r in cat_b.read_state(spark, "frontier").collect()}
    assert fa == fb


def test_fresh_run_without_seeds_raises(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    robots = spark.createDataFrame(
        [],
        "host string, disallow_prefixes array<string>, crawl_delay_s double, "
        "max_fetches_per_round int, host_rank double",
    )
    with pytest.raises(ValueError):
        CrawlRun(spark, cat, pages, robots).run(1)


def test_expire_rounds_retention(spark, tmp_path):
    """≅ cleanup_old_rich_list_data (function.sql:408-422): snapshot data
    expires, but the dedup-key ledger (seen) is NEVER truncated — the
    reference keeps UNIQUE(address, snapshot_date) while deleting rows, so
    expired URLs must not become re-fetchable."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 6):
        seen = spark.createDataFrame([(r, r)], "url_hash long, round int")
        res = spark.createDataFrame([(r,)], "round int")
        cat.commit_round(r, {"seen": seen, "results": res})
    dropped = cat.expire_rounds(keep_last=2)
    assert dropped == [1, 2, 3]
    # snapshot table expired physically + in the manifest
    assert cat.read_appended(spark, "results").count() == 2
    assert not os.path.exists(os.path.join(str(tmp_path), "results", "r00001"))
    # dedup ledger fully retained
    assert cat.read_appended(spark, "seen").count() == 5
    assert os.path.exists(os.path.join(str(tmp_path), "seen", "r00001"))


def test_compact_rounds_preserves_rows(spark, tmp_path):
    """Small-files maintenance (Iceberg rewrite_data_files analog): the
    seen ledger is retained forever, so compaction must merge increments
    without changing the visible row multiset, and land atomically under a
    new generation dirname."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 6):
        seen = spark.createDataFrame(
            [(r * 10 + i, r) for i in range(3)], "url_hash long, round int"
        )
        cat.commit_round(r, {"seen": seen})
    before = sorted(
        (r["url_hash"], r["round"])
        for r in cat.read_appended(spark, "seen").collect()
    )
    merged = cat.compact_rounds(spark, "seen")
    assert merged == [1, 2, 3, 4]
    after = sorted(
        (r["url_hash"], r["round"])
        for r in cat.read_appended(spark, "seen").collect()
    )
    assert after == before
    # physical layout: only the compacted generation remains
    assert sorted(os.listdir(os.path.join(str(tmp_path), "seen"))) == [
        "r00005_g1"
    ]
    assert cat.manifest()["tables"]["seen"]["rounds"] == [5]
    assert cat.row_count("seen", 5) == 15
    # appends continue after compaction; a second compaction bumps the gen
    cat.commit_round(6, {"seen": spark.createDataFrame(
        [(99, 6)], "url_hash long, round int")})
    assert cat.read_appended(spark, "seen").count() == 16
    assert cat.compact_rounds(spark, "seen") == [5]
    assert cat.manifest()["tables"]["seen"]["dirs"]["6"] == "r00006_g1"
    assert cat.read_appended(spark, "seen").count() == 16


def test_crawl_with_seen_compaction_equivalent(spark, crawl_sf0001, tmp_path):
    """A crawl that compacts its seen ledger mid-run must produce the
    identical results and seen set as one that never compacts."""
    pages = spark.read.parquet(os.path.join(crawl_sf0001, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(crawl_sf0001, "robots.parquet"))
    seeds = spark.read.parquet(os.path.join(crawl_sf0001, "seeds.parquet"))

    def crawl(root, compact_every):
        cat = SnapshotCatalog(str(tmp_path / root))
        CrawlRun(spark, cat, pages, robots).run(
            3, seeds, compact_seen_every=compact_every
        )
        res = sorted(
            (r["round"], r["rank"], r["url"])
            for r in cat.read_appended(spark, "results").collect()
        )
        seen = sorted(
            r["url_hash"] for r in cat.read_appended(spark, "seen").collect()
        )
        return cat, res, seen

    cat_a, res_a, seen_a = crawl("plain", None)
    cat_b, res_b, seen_b = crawl("compacted", 1)
    assert res_a == res_b
    assert seen_a == seen_b
    # non-multiple cadence (every 2 over 3 rounds: compaction fires
    # mid-run at round 2, round 3 appends after it — the default-on
    # runner path, scripts/run_crawl.py --compact-seen-every)
    _, res_c, seen_c = crawl("compacted2", 2)
    assert res_a == res_c and seen_a == seen_c
    # the compacted catalog really did merge: one seen dir per ledger
    assert len(os.listdir(os.path.join(str(tmp_path), "compacted", "seen"))) \
        < len(os.listdir(os.path.join(str(tmp_path), "plain", "seen")))


def test_compact_rounds_retry_after_crash_window(spark, tmp_path):
    """If a prior compaction died after renaming the generation dir but
    before the manifest swap, the uncommitted dir must not wedge the retry
    (os.rename onto a non-empty dir raises)."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 4):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, r)], "url_hash long, round int")})
    # simulate the crash leftovers: the dir a retry will want to create
    leftover = os.path.join(str(tmp_path), "seen", "r00003_g1")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "junk.parquet"), "w") as f:
        f.write("torn")
    assert cat.compact_rounds(spark, "seen") == [1, 2]
    rows = sorted(r["url_hash"] for r in cat.read_appended(spark, "seen").collect())
    assert rows == [1, 2, 3]


def test_read_appended_below_compaction_floor_raises(spark, tmp_path):
    """compact_rounds reassigns merged rows to the newest merged round, so
    an as-of read below the compaction floor would silently lose history —
    it must raise instead."""
    cat = SnapshotCatalog(str(tmp_path))
    for r in range(1, 5):
        cat.commit_round(r, {"seen": spark.createDataFrame(
            [(r, r)], "url_hash long, round int")})
    cat.compact_rounds(spark, "seen", up_to_round=3)
    # reads at/above the floor still work
    assert cat.read_appended(spark, "seen", up_to_round=3).count() == 3
    assert cat.read_appended(spark, "seen", up_to_round=4).count() == 4
    assert cat.read_appended(spark, "seen").count() == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compaction floor"):
        cat.read_appended(spark, "seen", up_to_round=2)
