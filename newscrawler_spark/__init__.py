"""newscrawler_spark — a PySpark-native web-crawl analytics engine.

A from-scratch rebuild of the crawl/extract capabilities of the reference
crawler (``luongkhdang/newscrawler``) as idiomatic Spark: batched
frontier-expansion rounds over Common-Crawl-style page tables, a
canonicalized-URL-hash seen set (bucketed bloom/cuckoo prefilter +
exact anti-join), per-host politeness-budget priority windows with host-hash
salted partitioning, robots.txt compliance via a broadcast rules join,
and boilerplate-stripping text extraction in vectorized pandas/Arrow
UDFs that is byte-identical per URL to the frozen contract extractor.

Layout
------
- ``functions/``  frozen scalar contracts (canonicalize, extract, robots,
  quality, text analysis) — each has a pure-Python spec shared by the
  oracle and the Spark expression/UDF implementation.
- ``operators/``  dataflow operators (seen-set anti-join, politeness
  window, dedup family, similarity search, multimodal plumbing).
- ``sources/``    corpus/seed readers and the synthetic corpus generator.
- ``plans/``      round checkpoint protocol + storage seam.
- ``streaming/``  Structured Streaming analogs of the scheduler loop.
"""

__version__ = "0.1.0"
