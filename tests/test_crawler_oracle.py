"""Spark crawler ≡ pure-Python oracle: exact crawl order, exact final
URL-seen set, byte-identical article text per URL (the north-rule
correctness contract)."""

from __future__ import annotations

import os
import shutil

import pytest

from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler
from newscrawler_spark.oracle import crawl_oracle
from newscrawler_spark.plans.storage import RoundStore
from newscrawler_spark.sources.corpus import generate_corpus

CFG = CrawlConfig(max_rounds=4, round_budget=6, n_salts=4, min_content_len=40)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus_small"))
    return generate_corpus(out, n_pages=400, n_hosts=8, seed=42)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return crawl_oracle(corpus["pages"], corpus["seeds"], CFG)


@pytest.fixture(scope="module")
def spark_result(spark, corpus, tmp_path_factory):
    store = RoundStore(str(tmp_path_factory.mktemp("store")))
    crawler = FrontierCrawler(spark, corpus["pages"], corpus["seeds"], store, CFG)
    totals = crawler.run(resume=False)
    return store, totals


def test_crawl_order_exact(spark, oracle_result, spark_result):
    from newscrawler_spark.crawler import read_crawl_order

    store, _ = spark_result
    got = {r["url"]: r["fetch_seq"] for r in read_crawl_order(spark, store).collect()}
    want = dict(oracle_result["order"])
    assert len(got) == len(want)
    assert got == want


def test_seen_set_exact(spark, oracle_result, spark_result):
    store, _ = spark_result
    got = {
        r["canon_url"]: r["status"]
        for r in store.read_rounds(spark, "seen").collect()
    }
    assert got == oracle_result["seen"]


def test_text_byte_identical(spark, oracle_result, spark_result):
    store, _ = spark_result
    rows = store.read_rounds(spark, "articles").collect()
    got = {r["url"]: r["text"] for r in rows}
    want = {u: a["text"] for u, a in oracle_result["articles"].items()}
    assert set(got) == set(want)
    for u in want:
        assert got[u] == want[u], f"text mismatch for {u}"


def test_text_matches_ground_truth(spark, corpus, spark_result):
    """articles.text must equal pages.text byte-for-byte per url."""
    from pyspark.sql import functions as F

    store, _ = spark_result
    articles = store.read_rounds(spark, "articles")
    pages = spark.read.parquet(corpus["pages"]).select(
        F.col("url").alias("page_url"), F.col("text").alias("want")
    )
    joined = articles.join(pages, articles.url == pages.page_url, "inner")
    assert joined.count() == articles.count()
    assert joined.filter(F.col("text") != F.col("want")).count() == 0


def test_politeness_budget_respected(spark, spark_result, corpus):
    """No host exceeds its per-round budget in any round."""
    from pyspark.sql import functions as F

    from newscrawler_spark.crawler import read_crawl_order

    store, _ = spark_result
    per_round = read_crawl_order(spark, store).groupBy("host", "round_id").count()
    # budgets: delay-2 hosts (i%4==1) → 3/round; others → 6/round
    for r in per_round.collect():
        cap = 3 if r["host"].startswith("news1.") or r["host"].startswith("news5.") else 6
        assert r["count"] <= cap, f"{r['host']} round {r['round_id']}: {r['count']} > {cap}"


def test_robots_denied_never_fetched(spark, spark_result):
    from pyspark.sql import functions as F

    store, _ = spark_result
    seen = store.read_rounds(spark, "seen")
    denied = seen.filter(F.col("status") == "robots_denied")
    assert denied.count() > 0  # corpus guarantees /blocked/ discoveries
    assert denied.filter(~F.col("canon_url").contains("/blocked/")).count() == 0
    articles = store.read_rounds(spark, "articles")
    assert articles.filter(F.col("url").contains("/blocked/")).count() == 0


def test_resume_equals_uninterrupted(spark, corpus, tmp_path_factory, oracle_result):
    """Kill after round 1, resume → identical final state (T5/S10).
    Second case: the seen-filter blobs are gone before the resume (lost
    storage, or a store written before the bucket store), so the filter
    is rebuilt from the committed seen rounds."""
    from newscrawler_spark.crawler import read_crawl_order

    for drop_filter_blobs in (False, True):
        store = RoundStore(str(tmp_path_factory.mktemp("store_resume")))
        cfg2 = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
        FrontierCrawler(spark, corpus["pages"], corpus["seeds"], store, cfg2).run(resume=False)
        assert store.last_committed_round() == 1
        if drop_filter_blobs:
            blobs = os.path.join(store.root, "_blobs")
            assert os.listdir(os.path.join(blobs, "bloom_buckets"))
            shutil.rmtree(blobs)
        # resume with full rounds
        FrontierCrawler(spark, corpus["pages"], corpus["seeds"], store, CFG).run(resume=True)
        got_order = {
            r["url"]: r["fetch_seq"] for r in read_crawl_order(spark, store).collect()
        }
        assert got_order == dict(oracle_result["order"]), drop_filter_blobs
        got_seen = {
            r["canon_url"]: r["status"] for r in store.read_rounds(spark, "seen").collect()
        }
        assert got_seen == oracle_result["seen"], drop_filter_blobs


def test_round_manifests_record_step_walls(spark_result):
    """Every round manifest carries the per-step walls, unconditionally."""
    store, _ = spark_result
    steps = {"articles", "cache_fill", "seen", "bloom", "crawl_logs", "frontier"}
    for r in range(store.last_committed_round() + 1):
        assert set(store.manifest(r)["step_secs"]) == steps, r
