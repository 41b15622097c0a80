"""Seen-set operator: the bucket-store bloom prefilter must be a pure
optimization — filter-on results ≡ filter-off results at every bucket
count (SURVEY §4: the bloom only shrinks the anti-join input; the
anti-join is the truth)."""

from __future__ import annotations

import numpy as np
import pytest

from newscrawler_spark.operators.seen import (
    BloomBucketStore,
    NumpyBloom,
    advance_partitioned_bloom,
    anti_join_seen,
)


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(42)
    added = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    other = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    bloom = NumpyBloom(expected=5000, fpp=1e-3)
    bloom.add(added)
    assert bloom.might_contain(added).all()
    fp = bloom.might_contain(np.setdiff1d(other, added)).mean()
    assert fp < 0.01  # fpp 1e-3 with slack


def test_bloom_union_and_state_roundtrip():
    a = NumpyBloom(expected=100, fpp=1e-3)
    b = NumpyBloom(expected=100, fpp=1e-3)
    xs = np.arange(50, dtype=np.int64)
    ys = np.arange(50, 100, dtype=np.int64)
    a.add(xs)
    b.add(ys)
    a.union(b)
    assert a.might_contain(np.arange(100, dtype=np.int64)).all()
    c = NumpyBloom.from_state(a.words.copy(), a.m, a.k)
    assert c.might_contain(xs).all()


@pytest.fixture(scope="module")
def frontier_and_seen(spark):
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 7), F.lit(".com/p"), F.col("id"))
        .alias("canon_url"),
        F.col("id").alias("url_hash"),
        F.lit(1).alias("priority"),
    )
    seen = base.filter(F.col("url_hash") % 3 == 0).select("url_hash", "canon_url")
    return base, seen


def test_anti_join_bloom_equivalence(spark, frontier_and_seen, tmp_path):
    """Filter-on ≡ filter-off through the bucket store, at the crawler's
    default single bucket and at B=3."""
    frontier, seen = frontier_and_seen
    without = {r["url_hash"] for r in anti_join_seen(frontier, seen).collect()}
    assert len(without) == frontier.count() - seen.count()
    for n_buckets in (1, 3):
        store = BloomBucketStore(str(tmp_path / f"bb{n_buckets}"), n_buckets=n_buckets,
                                 expected_per_bucket=1000, fpp=1e-3)
        advance_partitioned_bloom(seen, "url_hash", store, round_id=0)
        with_bloom = anti_join_seen(frontier, seen, store=store, round_id=0)
        assert {r["url_hash"] for r in with_bloom.collect()} == without, n_buckets


def test_partitioned_bloom_equivalence(spark, frontier_and_seen, tmp_path):
    """Bucket-aligned partitioned blooms (B=4) ≡ exact anti-join —
    the same pure-optimization contract as the single bloom, with the
    bitsets built/loaded entirely by executor tasks (no driver bitset)."""
    frontier, seen = frontier_and_seen
    store = BloomBucketStore(str(tmp_path / "bb"), n_buckets=4,
                             expected_per_bucket=512, fpp=1e-3)
    n = advance_partitioned_bloom(seen, "url_hash", store, round_id=0)
    assert n == seen.count()
    assert store.complete(0)
    out = anti_join_seen(frontier, seen, store=store, round_id=0)
    a = {r["url_hash"] for r in out.collect()}
    b = {r["url_hash"] for r in anti_join_seen(frontier, seen).collect()}
    assert a == b


def test_partitioned_bloom_incremental_rounds(spark, tmp_path):
    """Round r's blobs = round r-1's ∪ delta_r, per bucket; empty-delta
    buckets still carry forward (skeleton rows)."""
    from pyspark.sql import functions as F

    store = BloomBucketStore(str(tmp_path / "bb"), n_buckets=3,
                             expected_per_bucket=256, fpp=1e-3)
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("u"), "id").alias("canon_url"), F.col("id").alias("url_hash")
    )
    advance_partitioned_bloom(mk(0, 60), "url_hash", store, 0)
    # delta for round 1 hits only bucket 0 (multiples of 3)
    d1 = mk(60, 120).filter(F.col("url_hash") % 3 == 0)
    advance_partitioned_bloom(d1, "url_hash", store, 1)
    assert store.complete(1)  # buckets 1,2 carried forward despite empty delta
    seen_all = mk(0, 60).unionByName(d1)
    frontier = mk(0, 200).withColumn("priority", F.lit(1))
    out = {r["url_hash"] for r in
           anti_join_seen(frontier, seen_all, store=store, round_id=1).collect()}
    expect = {r["url_hash"] for r in
              frontier.join(seen_all, ["url_hash", "canon_url"], "left_anti").collect()}
    assert out == expect


def test_crawler_partitioned_bloom_identical_crawl(spark, tmp_path):
    """A full crawl with bloom_buckets=4 produces the identical seen set
    and fetch order as the single-bucket crawl (bloom is pure
    optimization at every B)."""
    from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler
    from newscrawler_spark.plans.storage import RoundStore
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=300, n_hosts=6, seed=42)

    def crawl(tag, **kw):
        store = RoundStore(str(tmp_path / tag))
        cfg = CrawlConfig(max_rounds=3, round_budget=8, n_salts=4, **kw)
        FrontierCrawler(spark, paths["pages"], paths["seeds"], store, cfg).run(resume=False)
        seen = store.read_rounds(spark, "seen")
        return sorted(
            (r["url_hash"], r["canon_url"], r["fetch_seq"], r["status"])
            for r in seen.collect()
        )

    assert crawl("a", bloom_buckets=4) == crawl("b", bloom_buckets=1)


def test_hash_collision_does_not_drop_urls(spark, tmp_path):
    """Two distinct URLs with the same url_hash: only the truly-seen one
    is filtered (the join keys on (hash, url), not hash alone) — the
    bloom passes both, at B=1 and B=3."""
    frontier = spark.createDataFrame(
        [("https://a.com/x", 7), ("https://b.com/y", 7)],
        "canon_url string, url_hash long",
    )
    seen = spark.createDataFrame(
        [("https://a.com/x", 7)], "canon_url string, url_hash long"
    )
    for n_buckets in (1, 3):
        store = BloomBucketStore(str(tmp_path / f"bb{n_buckets}"), n_buckets=n_buckets,
                                 expected_per_bucket=16, fpp=1e-3)
        advance_partitioned_bloom(seen, "url_hash", store, round_id=0)
        out = anti_join_seen(frontier, seen, store=store, round_id=0).collect()
        assert [r["canon_url"] for r in out] == ["https://b.com/y"], n_buckets


def test_partitioned_bloom_config_change_invalidates_blobs(spark, tmp_path):
    """Blobs written under a different bloom geometry must be invisible
    (complete() false -> caller rebuilds), never reinterpreted: a bitset
    read with the wrong m yields false NEGATIVES, which the exact-anti-
    join-on-positives design cannot recover from."""
    from pyspark.sql import functions as F

    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("u"), "id").alias("canon_url"), F.col("id").alias("url_hash")
    )
    old = BloomBucketStore(str(tmp_path / "bb"), n_buckets=3,
                           expected_per_bucket=4096, fpp=1e-3)
    advance_partitioned_bloom(mk(0, 60), "url_hash", old, 0)
    assert old.complete(0)
    # same root, smaller expected -> different m: old blobs must not match
    new = BloomBucketStore(str(tmp_path / "bb"), n_buckets=3,
                           expected_per_bucket=256, fpp=1e-3)
    assert new.m != old.m
    assert not new.complete(0)
    # load_bucket under the new geometry returns a FRESH (empty) bloom,
    # not a misread of the old bitset
    assert not new.load_bucket(0, 0).might_contain(
        __import__("numpy").arange(0, 60, 3)
    ).any()
