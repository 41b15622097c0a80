"""Cuckoo-filter seen set (the "cuckoo" half of the north star's
"bloom/cuckoo-filter URL-seen set"): same pure-optimization contract as
the bloom — filter-on ≡ filter-off for every input, NO false negatives
under any load — plus the cuckoo discriminator, deletion (re-crawl
policy: remove a due URL from the filter so it passes the prefilter
again)."""

from __future__ import annotations

import numpy as np
import pytest

from newscrawler_spark.operators.seen import (
    CuckooBucketStore,
    NumpyCuckoo,
    advance_partitioned_bloom,
    anti_join_seen,
    remove_partitioned_keys,
)


def test_cuckoo_no_false_negatives_and_low_fpp():
    rng = np.random.default_rng(7)
    added = rng.integers(0, 1 << 60, size=20000, dtype=np.int64)
    other = rng.integers(0, 1 << 60, size=20000, dtype=np.int64)
    f = NumpyCuckoo(expected=20000)
    f.add(added)
    assert f.might_contain(added).all()
    assert not f.saturated
    fpp = f.might_contain(np.setdiff1d(other, added)).mean()
    assert fpp < 0.005  # 16-bit fingerprints: ≈0.012% theoretical


def test_cuckoo_bucket_skewed_low_bits():
    """Keys whose low bits are CONSTANT (exactly what pmod-bucketing
    produces within a blob) must still spread across the table — the
    splitmix finalizer, not the raw hash, drives indexing."""
    h = (np.arange(5000, dtype=np.int64) * 16) + 5  # all ≡ 5 (mod 16)
    f = NumpyCuckoo(expected=8000)
    f.add(h)
    assert f.might_contain(h).all()
    assert not f.saturated and len(f.stash_b) == 0


def test_cuckoo_serialization_roundtrip():
    rng = np.random.default_rng(3)
    h = rng.integers(0, 1 << 60, size=3000, dtype=np.int64)
    f = NumpyCuckoo(expected=3000)
    f.add(h)
    g = NumpyCuckoo.from_bytes(f.to_bytes(), f.m)
    assert g.might_contain(h).all()
    assert np.array_equal(f.table, g.table)
    with pytest.raises(ValueError):
        NumpyCuckoo.from_bytes(f.to_bytes(), f.m * 2)


def test_cuckoo_overload_saturates_never_false_negative():
    """Insert 4× capacity: the filter may saturate (all-maybe), but a
    seen key must NEVER report 'definitely new'."""
    rng = np.random.default_rng(11)
    h = rng.integers(0, 1 << 60, size=4096, dtype=np.int64)
    f = NumpyCuckoo(expected=256)  # m=64 buckets → 256 slots for 4096 keys
    f.add(h)
    assert f.might_contain(h).all()
    assert f.saturated  # degraded, not wrong
    # serialization preserves the degradation flag
    g = NumpyCuckoo.from_bytes(f.to_bytes(), f.m)
    assert g.might_contain(h).all()


def test_cuckoo_delete_then_readmit():
    rng = np.random.default_rng(5)
    added = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    added = np.unique(added)
    f = NumpyCuckoo(expected=8000)
    f.add(added)
    drop = added[::10]
    n = f.remove(drop)
    assert n == len(drop)
    keep = np.setdiff1d(added, drop)
    # remaining keys: still no false negatives
    assert f.might_contain(keep).all()
    # deleted keys: mostly gone (a residual may fp-collide with a kept
    # key — that is the documented cuckoo fpp, not a correctness issue)
    assert f.might_contain(drop).mean() < 0.01


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


def test_partitioned_cuckoo_equivalence(spark, frontier_and_seen, tmp_path):
    """Bucket-aligned cuckoo filters (B=4) ≡ exact anti-join — the same
    contract as test_partitioned_bloom_equivalence, through the SAME
    generic advance/apply machinery (duck-typed store)."""
    frontier, seen = frontier_and_seen
    store = CuckooBucketStore(str(tmp_path / "cb"), n_buckets=4, expected_per_bucket=512)
    n = advance_partitioned_bloom(seen, "url_hash", store, round_id=0)
    assert n == seen.count()
    assert store.complete(0)
    out = anti_join_seen(frontier, seen, store=store, round_id=0)
    a = {r["url_hash"] for r in out.collect()}
    b = {r["url_hash"] for r in anti_join_seen(frontier, seen).collect()}
    assert a == b


def test_partitioned_cuckoo_remove_readmits(spark, frontier_and_seen, tmp_path):
    """Re-crawl policy: removing due URLs from the round's cuckoo blobs
    makes the prefilter pass them as new again (with the seen TABLE
    filtered in lockstep, as the policy contract requires)."""
    from pyspark.sql import functions as F

    frontier, seen = frontier_and_seen
    store = CuckooBucketStore(str(tmp_path / "cb"), n_buckets=3, expected_per_bucket=512)
    advance_partitioned_bloom(seen, "url_hash", store, round_id=0)
    due = seen.filter(F.col("url_hash") % 30 == 0)  # subset due for re-crawl
    n_due = due.count()
    assert n_due > 0
    removed = remove_partitioned_keys(due, "url_hash", store, round_id=0)
    assert removed == n_due
    still_seen = seen.join(due, ["url_hash", "canon_url"], "left_anti")
    out = anti_join_seen(frontier, still_seen, store=store, round_id=0)
    a = {r["url_hash"] for r in out.collect()}
    b = {
        r["url_hash"]
        for r in anti_join_seen(frontier, still_seen).collect()
    }
    assert a == b
    # the due URLs are back in the output (re-admitted)
    assert {r["url_hash"] for r in due.collect()} <= a


def test_crawler_cuckoo_identical_crawl(spark, tmp_path):
    """A full crawl with seen_filter='cuckoo' (partitioned, B=3)
    produces the identical seen set and fetch order as the bloom crawl
    — the filter is pure optimization regardless of structure."""
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

    assert crawl("ck", seen_filter="cuckoo", bloom_buckets=3) == crawl("bl", bloom_buckets=1)
