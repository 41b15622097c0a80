"""RoundStore checkpoint protocol: atomic manifests and rollback of
uncommitted rounds (T5/S10 — the Iceberg-snapshot protocol on
parquet)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler, read_crawl_order
from newscrawler_spark.oracle import crawl_oracle
from newscrawler_spark.plans.storage import RoundStore
from newscrawler_spark.sources.corpus import generate_corpus


def test_manifest_roundtrip(tmp_path, spark):
    store = RoundStore(str(tmp_path))
    assert store.last_committed_round() == -2
    df = spark.range(10).select(F.col("id").alias("x"))
    store.write_round("seen", 0, df, partitions=2)
    store.commit_round(0, {"n": 10})
    assert store.last_committed_round() == 0
    assert store.manifest(0)["n"] == 10
    back = store.read_round(spark, "seen", 0)
    assert back.count() == 10
    assert store.read_rounds(spark, "seen").count() == 10


def test_crashed_round_rolled_back_and_rerun(spark, tmp_path_factory):
    """A round whose data was written but whose manifest commit never
    landed (crash window) must be discarded on resume and re-executed,
    converging to the oracle state."""
    corpus = generate_corpus(str(tmp_path_factory.mktemp("c")), n_pages=250, n_hosts=5)
    cfg = CrawlConfig(max_rounds=3, round_budget=6, n_salts=2)
    store = RoundStore(str(tmp_path_factory.mktemp("s")))
    FrontierCrawler(spark, corpus["pages"], corpus["seeds"], store, cfg).run(resume=False)

    # simulate a crash mid-round-3: partial data dirs, no manifest
    for table in ("articles", "seen"):
        d = os.path.join(store.root, table, "round=3")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-junk.parquet"), "w") as f:
            f.write("corrupt")
    last = store.last_committed_round()
    assert last == 2

    cfg4 = CrawlConfig(max_rounds=4, round_budget=6, n_salts=2)
    FrontierCrawler(spark, corpus["pages"], corpus["seeds"], store, cfg4).run(resume=True)
    # the junk dirs were removed before re-execution
    want = crawl_oracle(corpus["pages"], corpus["seeds"], cfg4)
    got = {r["url"]: r["fetch_seq"] for r in read_crawl_order(spark, store).collect()}
    assert got == dict(want["order"])
    got_seen = {
        r["canon_url"]: r["status"]
        for r in store.read_rounds(spark, "seen").collect()
    }
    assert got_seen == want["seen"]
