"""Batched frontier-expansion crawler — the Spark rebuild of the
reference's scheduler/worker pipeline.

The reference runs a poll loop popping jobs from a heap into worker
threads (``src/scrapers/scheduler.py:324-456``) and a thread-pool batch
processor (``src/utils/batch_processor.py:95-146``).  Here the whole
crawl is a driver loop of deterministic *rounds*; one round is a single
declarative DataFrame job:

    frontier ──anti-join──▶ unseen ──⋈ robots (broadcast)──▶ allowed
        ──politeness window (salted two-phase)──▶ admitted │ deferred
        ──⋈ pages (the "fetch" join)──▶ fetched │ missing
        ──mapInPandas extract──▶ articles + discovered links
        ──▶ next frontier = deferred ∪ links (lexicographic-min dedup)

Everything durable goes through ``RoundStore`` (atomic per-round
commits, exact resume).  Frontier state is re-read from the store each
round, which also truncates Spark lineage across rounds.

Scale shape (10^10 frontier, 1000 executors):
  * the anti-join input is cut by the bucketed seen filter
    (operators/seen), built and applied on the executors;
  * the politeness window is salted two-phase (operators/politeness) so
    a hot host cannot serialize a stage;
  * the admitted set is budget-bounded (hosts × budget), so the fetch
    join broadcasts the admitted side against the bucketed pages table
    — the 100 TB side never shuffles;
  * per-round outputs append as new partitions; nothing rewrites old
    rounds.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.canonical import with_canonical
from .functions.extract import extract_batch
from .functions.robots import (
    ROBOTS_DIM_SCHEMA,
    robots_dim_map_in_pandas,
    robots_filter_map_in_pandas,
)
from .operators.politeness import admit_per_host, global_fetch_order
# build_bloom is unused here; perfbench's traced mode patches it in this namespace
from .operators.seen import (  # noqa: F401
    BucketStore,
    NumpyBloom,
    NumpyCuckoo,
    anti_join_seen,
    build_bloom,
)
from .plans.storage import RoundStore

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

SEEN_SCHEMA = "url_hash long, canon_url string, host string, round_id int, status string"

# URL-count ceiling for the literal-In robots scan filter (parquet
# row-group pruning); above it the dim build stays fully distributed
# (kept modest — a 10^5-literal In expression bloats the plan tree).
_ROBOTS_ISIN_MAX = 10_000

# round_budget at or above this means "no politeness bound" — bulk mode
# (the reference's CSV batch shape): every allowed row is admitted, the
# per-host windows are skipped, and the missing anti-join trades the
# driver-broadcast build for a fully-parallel shuffled hash join.
_BULK_BUDGET = 100_000_000

# files per round for the seen and frontier deltas; ~2-3× executors on
# a cluster
_WRITE_PARTITIONS = 8


@dataclass(frozen=True)
class CrawlConfig:
    max_rounds: int = 10
    round_budget: int = 10          # politeness tokens per host per round
    default_priority: int = 2       # priority of discovered links (ref: MEDIUM)
    min_content_len: int = 40       # ref min-content gate (newspaper_scraper.py:39)
    max_links_per_page: int = 100   # ref link cap (scraper_gui.py:483-486)
    n_salts: int = 8
    bloom_expected: int = 1_000_000  # sizes the cumulative filter (fixed m)
    bloom_buckets: int = 1  # B, the seen filter's pmod(url_hash, B)
    # buckets: one filter blob per bucket in the seen BucketStore, built
    # and applied on the executors with NO driver-assembled filter.  1 is
    # a single blob (cheapest at small scale); raise it so each blob
    # stays small — a single bloom at 10^10 keys is ~17 GB (SURVEY §7.3).
    seen_filter: str = "bloom"  # "bloom" | "cuckoo" — the store's filter
    # class (north star: "bloom/cuckoo-filter URL-seen set").  "bloom" is
    # NumpyBloom at fpp 1e-3; "cuckoo" is NumpyCuckoo, 16-bit
    # fingerprints: same no-false-negative contract (stash + saturate
    # degradation), better fpp per bit at high load, and DELETION — the
    # re-crawl policy primitive (operators/seen.remove_partitioned_keys)
    # a bloom cannot offer without a rebuild.
    respect_robots: bool = True
    broadcast_admitted_max: int = 2_000_000  # rows; 0 → let AQE pick the join
    cache_pages: bool = True  # persist the pages scan across rounds (MEMORY_AND_DISK).
    # At 100 TB you set False and rely on the bucketed pages layout +
    # broadcast-probe join instead; in local/bench mode caching removes
    # the repeated parquet decode of the same immutable table.
    repartition_fetched: bool = True  # re-spread fetch-join output before
    # extraction. True when the admitted side is broadcast against few/fat
    # scan partitions; False for bulk rounds where the scan partitioning
    # already matches the cluster width (avoids re-shuffling the html).
    scalable_fetch_order: bool = False  # two-pass range-partitioned seq
    # assignment instead of the single-partition window: use when the
    # admitted set is NOT budget-bounded (bulk rounds). Identical order.
    pages_bucketed_table: str | None = None  # catalog name of a pages
    # table written by prepare_bucketed_pages (bucket(B, page_hash) —
    # the Iceberg bucket-transform layout analog).  When set, the fetch
    # join runs bucket co-partitioned: the pages side is read straight
    # from its buckets with NO Exchange and only the skinny admitted
    # side shuffles — the shape for admitted sets past driver-broadcast
    # size (>~5M rows), where neither broadcast nor a pages-side
    # shuffle is viable at 100 TB.

    @property
    def is_bulk_round(self) -> bool:
        return self.round_budget >= _BULK_BUDGET


def fetch_join(pages: DataFrame, adm: DataFrame, broadcast: bool = True) -> DataFrame:
    """The "fetch" join: stream the (100 TB) pages table, broadcast the
    politeness-bounded admitted set as the INNER-join build side.

    Spark supports build-right broadcast only for inner/left-outer
    joins; a left-outer with the BIG side streamed (what a naive
    ``adm.join(pages, 'left')`` + broadcast hint would need) is not a
    buildable plan — the hint is silently dropped and the pages table
    shuffles.  Hence inner here, with "missing" admitted URLs recovered
    by a separate left-anti join in :meth:`FrontierCrawler.run_round`.
    The plan shape (BroadcastHashJoin, BuildRight, pages streamed) is
    asserted in tests/test_plans.py.
    """
    probe = F.broadcast(adm) if broadcast else adm
    return pages.join(
        probe,
        on=[adm.url_hash == pages.page_hash, adm.canon_url == pages.page_url],
        how="inner",
    ).drop("page_url", "page_hash")


def prepare_bucketed_pages(
    spark: SparkSession,
    pages_path: str,
    table_name: str,
    n_buckets: int,
    location: str | None = None,
) -> DataFrame:
    """One-time layout job: materialize the canonicalized pages
    projection as a parquet table bucketed by ``page_hash`` — the plain-
    Spark analog of an Iceberg ``bucket(B, url_hash)`` partition
    transform (the reference target layout; at 100 TB this job runs once
    per corpus snapshot and every subsequent crawl amortizes it).

    The payoff is :func:`fetch_join_bucketed`: a scan of this table
    carries ``HashPartitioning(page_hash, B)``, so a shuffled join on
    ``page_hash`` needs NO Exchange on the pages side — only the skinny
    admitted relation moves.  Size ``n_buckets`` to the target cluster
    (~2-4× total cores; each bucket must fit an executor's hash-build or
    stream budget).
    """
    df = with_canonical(spark.read.parquet(pages_path), "url").select(
        F.col("canon_url").alias("page_url"),
        F.col("url_hash").alias("page_hash"),
        "warc_ts",
        "html",
        "lang",
    )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, "page_hash")
    if location:
        writer = writer.option("path", location)
    writer.saveAsTable(table_name)
    return spark.table(table_name)


def fetch_join_bucketed(pages: DataFrame, adm: DataFrame) -> DataFrame:
    """Bucket co-partitioned fetch join — for admitted sets past
    driver-broadcast size (PLANS.md's 100 TB TODO): neither side can be
    broadcast, and a pages-side shuffle moves the 100 TB html payload.

    ``pages`` must be a bucketed table from :func:`prepare_bucketed_pages`.
    The join key is the single bucket column (``url_hash == page_hash``)
    so the bucketed scan's ``HashPartitioning`` satisfies the join's
    required distribution EXACTLY — the pages side streams straight out
    of its buckets with no Exchange; only the admitted side shuffles
    (into the table's bucket count).  The URL-equality collision guard
    stays (hash-collision rows with a different URL are dropped, same
    result set as the two-key join in :func:`fetch_join`) but is spelled
    as ``<= AND >=``: a plain ``==`` filter is extracted by Catalyst
    into an extra equi-join KEY, which widens the keys past the bucket
    column and silently disables the bucketed scan ("Bucketed: false
    (disabled by query planner)" — both sides re-shuffle on the two-key
    hash).  The range pair is equality for non-null strings but stays a
    residual join condition, evaluated per matched row.  The
    ``shuffle_hash`` hint builds the bounded admitted side per bucket —
    no sort of the pages stream (SMJ would sort the fat html rows).
    """
    return (
        pages.join(
            adm.hint("shuffle_hash"),
            on=adm.url_hash == pages.page_hash,
            how="inner",
        )
        .filter(
            (F.col("canon_url") <= F.col("page_url"))
            & (F.col("canon_url") >= F.col("page_url"))
        )
        .drop("page_url", "page_hash")
    )


class FrontierCrawler:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds_path: str,
        store: RoundStore,
        config: CrawlConfig = CrawlConfig(),
    ):
        self.spark = spark
        self.config = config
        self.store = store
        self.pages_path = pages_path
        # NB: pages.text (the ground-truth extraction) is deliberately NOT
        # selected — the engine must recover text from html; pruning it
        # also halves the scan/cache bytes.
        if config.pages_bucketed_table:
            # pre-bucketed layout (prepare_bucketed_pages): already
            # canonicalized, and the scan carries the bucket
            # partitioning the co-partitioned fetch join relies on
            self.pages = spark.table(config.pages_bucketed_table).select(
                "page_url", "page_hash", "warc_ts", "html", "lang"
            )
        else:
            self.pages = with_canonical(
                spark.read.parquet(pages_path), "url"
            ).select(
                F.col("canon_url").alias("page_url"),
                F.col("url_hash").alias("page_hash"),
                "warc_ts",
                "html",
                "lang",
            )
        if config.cache_pages:
            from pyspark import StorageLevel

            self.pages = self.pages.persist(StorageLevel.MEMORY_AND_DISK)
        self.seeds_path = seeds_path
        self.robots_dim = self._build_robots_dim()
        # S12/J3: per-domain scraper-strategy dimension (reference Source.
        # scraper_type, src/database/models.py:38-58) — broadcast-joined
        # onto article rows so every article records how it was scraped.
        # Duplicate-domain tie-break is the EXPLICIT rule min(scraper_type)
        # spelled identically in all three engines (here, oracle.py's
        # sorted-min dict build, oracle_sql.py's min() aggregate) — a
        # dropDuplicates row pick is arbitrary and would silently diverge
        # the engines on a seeds source with duplicate domains.
        self.strategy_dim = (
            spark.read.parquet(seeds_path)
            .groupBy(F.col("domain").alias("host"))
            .agg(F.min("scraper_type").alias("scrape_strategy"))
        )
        self._bloom_store = BucketStore(
            os.path.join(store.root, "_blobs", "bloom_buckets"),
            config.bloom_buckets,
            max(16, config.bloom_expected // config.bloom_buckets),
            NumpyCuckoo if config.seen_filter == "cuckoo" else NumpyBloom,
        )

    # ------------------------------------------------------------------
    def _ensure_partitioned_bloom(self, round_id: int) -> None:
        """Make every bucket's cumulative blob current through
        ``round_id - 1`` (cold resume / legacy store: rebuild from the
        committed seen deltas in one executor-side pass)."""
        from .operators.seen import advance_partitioned_bloom

        if self._bloom_store.complete(round_id - 1):
            return
        seen = self.store.read_rounds(self.spark, "seen", upto=round_id - 1)
        if seen is None:
            return
        # rebuild directly at round_id - 1 from empty filters
        self._bloom_store.clear()
        advance_partitioned_bloom(seen, "url_hash", self._bloom_store, round_id - 1)

    def _advance_bloom(self, round_id: int) -> None:
        """OR the committed seen round into every bucket's filter blob."""
        from .operators.seen import advance_partitioned_bloom

        delta = self.store.read_round(self.spark, "seen", round_id)
        advance_partitioned_bloom(delta, "url_hash", self._bloom_store, round_id)

    # ------------------------------------------------------------------
    def _build_robots_dim(self) -> DataFrame:
        return self._robots_dim_plan().persist()

    def _robots_dim_plan(self) -> DataFrame:
        """Per-host robots rules + crawl delay, as a broadcastable dim.

        Robots bodies are ordinary pages at the HOST ROOT
        ``{scheme}://{host}/robots.txt`` (reference fetches+caches them
        per domain, robots_cache.py:64-91) — the filter is anchored to
        the exact root URL so a page like ``https://h/sub/robots.txt``
        can never add a second dim row for host ``h`` and fan out the
        frontier join.  Parsing is distributed (mapInPandas on the
        executors); the driver never collects html bodies.  One row per
        host — at millions of hosts this stays a dim table; past
        broadcast size it degrades to an ordinary shuffle join on
        ``host`` with no code change (Catalyst/AQE picks).

        Scan cost: a naive root filter evaluates the canonicalization
        expression over every row and decodes the fat ``html`` column of
        EVERY row group (measured 35 s on the 600k-page bench corpus at
        one executor).  ``page_url`` is a COMPUTED column (canonical of
        the raw ``url``), so no predicate over it can push into the
        parquet scan.  Hence:

        * ``cache_pages=True`` (iterative rounds): the pages table is
          persisted for the crawl anyway, so the dim is simply the root
          filter over the CACHED table — no second parquet scan, no
          driver collect, and the plan stays fully lazy (nothing runs in
          the constructor; the first round's job materializes cache and
          dim together).
        * ``cache_pages=False`` (bulk / 100 TB shape): two-phase build —
          phase 1 scans only the raw ``url`` column (no html decode),
          prefiltered with ``url CONTAINS '/robots.txt'`` (the canonical
          path is the raw path verbatim, so this is a strict superset of
          the root-robots set AND a pushable ``StringContains`` parquet
          predicate; the regex-heavy canonicalizer then runs on the
          handful of survivors, not every URL), and collects the raw
          URLs whose canonical form is a root robots URL; phase 2
          filters the raw scan with ``url.isin(...)`` — an ``In``
          predicate over a REAL parquet column that prunes whole row
          groups by url min/max before any html byte is decoded.  Beyond
          ``_ROBOTS_ISIN_MAX`` hosts, the distributed root-anchored
          filter (no driver-side URL list) takes over.
        """
        root = F.regexp_extract(F.col("page_url"), r"^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
        root_filter = F.col("page_url") == F.concat(root, F.lit("/robots.txt"))

        def one_per_host(robots_pages: DataFrame) -> DataFrame:
            # The root anchor stops /sub/robots.txt, but http:// and
            # https:// robots pages for the SAME host would still emit
            # two dim rows — and a duplicate dim row fans out the
            # frontier join (the same URL admitted twice).  Shared spec
            # with both oracles: the host's robots page is the one with
            # the MIN canonical URL.  The window shuffles only the
            # robots set itself (~one row per host — dim-sized).
            from pyspark.sql import Window

            host = F.regexp_extract(
                F.col("page_url"), r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1
            )
            w = Window.partitionBy(host).orderBy("page_url")
            return (
                robots_pages.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        if self.config.cache_pages:
            robots_pages = self.pages.filter(root_filter).select("page_url", "html")
            return one_per_host(robots_pages).mapInPandas(
                robots_dim_map_in_pandas, schema=ROBOTS_DIM_SCHEMA
            )
        raw = self.spark.read.parquet(self.pages_path)
        # phase 1: narrow raw-url scan for candidate robots rows —
        # identical semantics to the root filter over canonical urls
        raw_urls = [
            r["url"]
            for r in with_canonical(
                raw.select("url").filter(F.col("url").contains("/robots.txt")), "url"
            )
            .select(F.col("canon_url").alias("page_url"), "url")
            .filter(root_filter)
            .limit(_ROBOTS_ISIN_MAX + 1)
            .collect()
        ]
        if 0 < len(raw_urls) <= _ROBOTS_ISIN_MAX:
            # phase 2: In-predicate pushdown prunes row groups before
            # the html column is touched
            robots_pages = (
                with_canonical(raw.filter(F.col("url").isin(raw_urls)), "url")
                .select(F.col("canon_url").alias("page_url"), "html")
            )
        else:
            robots_pages = self.pages.filter(root_filter).select("page_url", "html")
        return one_per_host(robots_pages).mapInPandas(
            robots_dim_map_in_pandas, schema=ROBOTS_DIM_SCHEMA
        )

    # ------------------------------------------------------------------
    def initialize(self, url_df: DataFrame | None = None, url_col: str = "url") -> None:
        """Seed the frontier.

        Default: active sources' base URLs (ref scheduler.py:516-524).
        With ``url_df``: an arbitrary URL list — the reference's CSV
        batch shape (S1, batch_processor.py:65-93) where the whole list
        is enqueued at priority MEDIUM.

        Seeding starts a NEW crawl: any rounds committed by a previous
        crawl in this store are purged first (``RoundStore.reset``), so
        post-crawl readers can never union stale rounds into the fresh
        crawl's tables.
        """
        self.store.reset()
        if url_df is not None:
            frontier0 = (
                with_canonical(url_df, url_col)
                .select(
                    "canon_url",
                    "url_hash",
                    "host",
                    F.lit(self.config.default_priority).cast("int").alias("priority"),
                    F.lit(0).cast("int").alias("discovered_round"),
                )
                .dropDuplicates(["url_hash", "canon_url"])
            )
        else:
            seeds = self.spark.read.parquet(self.seeds_path)
            # duplicate base_urls resolve to MIN priority — the oracle's
            # rule (pending[cu] = min key); a dropDuplicates pick here
            # would be partition-order-dependent and nondeterministic
            frontier0 = (
                with_canonical(seeds.filter(F.col("active")), "base_url")
                .groupBy("canon_url", "url_hash", "host")
                .agg(F.min(F.col("priority").cast("int")).alias("priority"))
                .select(
                    "canon_url",
                    "url_hash",
                    "host",
                    "priority",
                    F.lit(0).cast("int").alias("discovered_round"),
                )
            )
        from pyspark.sql import Observation

        obs = Observation("init_frontier")
        self.store.write_round(
            "frontier", -1, frontier0.observe(obs, F.count(F.lit(1)).alias("next_frontier"))
        )
        self.store.commit_round(
            -1, {"initialized": True, "next_frontier": int(obs.get["next_frontier"] or 0)}
        )

    # ------------------------------------------------------------------
    def run(self, resume: bool = True) -> dict:
        """Run rounds until the frontier drains or max_rounds is hit."""
        last = self.store.last_committed_round()
        if last < -1 or not resume:
            self.initialize()
            last = -1
        else:
            self.store.rollback_uncommitted(last)
            if last == -1 and self.store.read_round(self.spark, "frontier", -1) is None:
                self.initialize()
        totals = {"fetched": 0, "rounds": 0}
        seq_offset = 0
        for r in range(last + 1):
            man = self.store.manifest(r)
            seq_offset += man.get("admitted", 0)
            totals["fetched"] += man.get("extracted", 0) + man.get("short", 0)
            totals["rounds"] += 1
        for r in range(last + 1, self.config.max_rounds):
            # the previous round's manifest already counted its output
            # frontier (Observation during the write) — consult it instead
            # of an isEmpty() job; legacy manifests without the count fall
            # back to the probe.
            try:
                n_prev = self.store.manifest(r - 1).get("next_frontier")
            except OSError:
                n_prev = None
            if n_prev == 0:
                break
            frontier = self.store.read_round(self.spark, "frontier", r - 1)
            if frontier is None or (n_prev is None and frontier.isEmpty()):
                break
            stats = self.run_round(r, frontier, seq_offset)
            seq_offset += stats["admitted"]
            totals["fetched"] += stats["extracted"] + stats["short"]
            totals["rounds"] += 1
            if stats["next_frontier"] == 0:
                break
        totals["seq"] = seq_offset
        return totals

    # ------------------------------------------------------------------
    def _missing_join(self, adm: DataFrame, ext_keys: DataFrame) -> DataFrame:
        """Admitted URLs with no page in the corpus ("missing" status —
        the batch analog of a fetch error).  BOTH sides are bounded by
        the admitted set; the pages table is never touched here.

        Strategy by config:
          * budget-bounded + ``broadcast_admitted_max > 0``: broadcast
            the tiny extracted-key set;
          * bulk rounds (budget ≈ ∞, admitted in the millions): force a
            shuffled hash join — the broadcast hash-relation build is a
            single-threaded driver step whose cost is identical at every
            core count (pure Amdahl serial time in the N→4N ratio),
            while the shuffle of two skinny bounded-size tables is fully
            parallel and is the only shape that works when the bulk
            admitted set outgrows driver memory;
          * ``broadcast_admitted_max == 0`` on a budget-bounded round:
            leave unhinted — AQE picks broadcast/SMJ/shuffled-hash from
            runtime stats, the documented semantics of the =0 escape
            hatch for memory-constrained deployments.
        """
        cfg = self.config
        if cfg.broadcast_admitted_max > 0 and not cfg.is_bulk_round:
            ext_keys = F.broadcast(ext_keys)
        elif cfg.is_bulk_round:
            ext_keys = ext_keys.hint("shuffle_hash")
        return adm.join(ext_keys, on=["url_hash", "canon_url"], how="left_anti")

    # ------------------------------------------------------------------
    def run_round(self, round_id: int, frontier: DataFrame, seq_offset: int) -> dict:
        """One frontier-expansion round as a handful of write jobs.

        All metrics are collected with ``Observation``s DURING the write
        actions — a round costs exactly: seen-filter advance (1 small job) +
        4 table writes.  No count()-only jobs; the reference's CrawlLog
        bookkeeping (scheduler.py:392-399) rides along for free.

        Every cache the round makes is registered in ``round_caches`` as
        it is created and released in reverse creation order on every
        exit path, failed rounds included: children before parents, so no
        dependent cache entry survives to be re-registered buffer-less.
        """
        round_caches: list = []
        try:
            return self._run_round(round_id, frontier, seq_offset, round_caches)
        finally:
            for c in reversed(round_caches):
                c.unpersist()

    def _run_round(
        self, round_id: int, frontier: DataFrame, seq_offset: int, round_caches: list
    ) -> dict:
        from pyspark.sql import Observation

        cfg = self.config
        t0 = time.time()

        def cached(df: DataFrame) -> DataFrame:
            round_caches.append(df.persist())
            return df

        # 1. URL-seen anti-join (incremental filter prefilter + exact fallback)
        seen = self.store.read_rounds(self.spark, "seen", upto=round_id - 1)
        if seen is None:
            candidates = frontier
        else:
            self._ensure_partitioned_bloom(round_id)
            candidates = anti_join_seen(
                frontier, seen, "canon_url", "url_hash", self._bloom_store, round_id - 1
            )

        # 2. robots gate (broadcast dim join + vectorized rule eval)
        with_rules = candidates.join(F.broadcast(self.robots_dim), on="host", how="left")
        if cfg.respect_robots:
            rules_schema = T.StructType(
                list(with_rules.schema.fields)
                + [T.StructField("allowed", T.BooleanType(), False)]
            )
            evaluated = cached(
                with_rules.mapInPandas(robots_filter_map_in_pandas, schema=rules_schema)
            )
            denied = evaluated.filter(~F.col("allowed"))
            allowed = evaluated.filter(F.col("allowed"))
        else:
            evaluated = cached(with_rules)
            denied = evaluated.limit(0)
            allowed = evaluated

        # 3. politeness budgets: tokens per host per round (T3 analog)
        allowed = allowed.withColumn(
            "host_budget",
            F.greatest(
                F.lit(1),
                (
                    F.lit(cfg.round_budget)
                    / F.greatest(F.coalesce("robots_delay", F.lit(1.0)), F.lit(1.0))
                ).cast("int"),
            ),
        )
        if cfg.is_bulk_round:
            # unbounded budget (bulk mode): every allowed row is admitted;
            # skip the two window sorts — they would rank only to keep all
            admitted = allowed.withColumn("host_rank", F.lit(None).cast("int"))
            deferred = allowed.limit(0)
        else:
            admitted, deferred = admit_per_host(allowed, "host_budget", cfg.n_salts)
        if cfg.scalable_fetch_order:
            from .operators.politeness import global_fetch_order_scalable

            # no outer persist: the operator already caches the ranged
            # admitted set (registered in round_caches), and the returned
            # plan is only a map-lookup + bit-ops projection over those
            # cached partitions — deterministic per read and cheap to
            # recompute, so a second admitted-set-sized cache would just
            # double storage pressure on the exact rounds (bulk) where
            # the admitted set is largest
            admitted = global_fetch_order_scalable(
                admitted, seq_offset, cache_registry=round_caches
            )
        else:
            admitted = cached(global_fetch_order(admitted, seq_offset))

        # 4. the "fetch" join.  The admitted side is politeness-bounded
        # (≤ hosts × budget rows), so by default it broadcasts against
        # the big pages table — the 100 TB side never shuffles.  Spark
        # only supports build-right broadcast for INNER/LEFT-OUTER, so
        # the fetch is split: an INNER join with pages streamed and the
        # admitted side as the broadcast build side (BuildRight), plus a
        # left-anti join recovering the admitted URLs with no page
        # ("missing" status) — a hinted left-outer with the big side
        # streamed is not a plan Spark can build (the hint is silently
        # dropped), which at 100 TB would shuffle the pages table.
        # Set broadcast_admitted_max=0 when host-count × budget can
        # exceed driver memory; AQE then picks the strategy.
        adm = admitted.select(
            "canon_url", "url_hash", "host", "priority", "discovered_round", "fetch_seq"
        )
        if cfg.pages_bucketed_table:
            fetched = fetch_join_bucketed(self.pages, adm)
        else:
            fetched = fetch_join(self.pages, adm, broadcast=cfg.broadcast_admitted_max > 0)
        # The broadcast join inherits the PAGES scan partitioning, which
        # can be one fat partition (or skewed row groups).  Re-spread the
        # fetched rows — the moved bytes are the fetch result itself
        # (admitted × page size), which has to move exactly once anyway —
        # so extraction parallelism tracks cores, not file layout.
        if cfg.repartition_fetched:
            n_extract = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", str(os.cpu_count() or 8))
            )
            fetched = fetched.repartition(n_extract, "url_hash")

        # J3 routing INTO extraction (reference: the Source.scraper_type
        # picks the scraper, puppeteer_scraper.py:45-56): the tiny
        # strategy dim broadcast-joins onto the fetched rows so the
        # extractor can run the JS-heavy variant for puppeteer hosts —
        # a broadcast hash join on the already-moving fetched rows, no
        # extra exchange on the big side at any scale.
        fetched = fetched.join(F.broadcast(self.strategy_dim), on="host", how="left")

        # 5. extraction (vectorized, byte-identical contract)
        ext_schema = T.StructType(
            [f for f in fetched.schema.fields if f.name != "html"]
            + [
                T.StructField("title", T.StringType()),
                T.StructField("text", T.StringType()),
                T.StructField("out_links", T.ArrayType(T.StringType())),
                T.StructField("authors", T.ArrayType(T.StringType())),
                T.StructField("published", T.StringType()),
                T.StructField("images", T.ArrayType(T.StringType())),
                T.StructField("partition_id", T.IntegerType()),
            ]
        )

        def extract_part(it):
            import pandas as pd
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else -1
            for pdf in it:
                ext = extract_batch(
                    pdf["canon_url"], pdf["html"], pdf["scrape_strategy"]
                )
                keep = pdf.drop(columns=["html"]).reset_index(drop=True)
                out = pd.concat([keep, ext], axis=1)
                out.loc[pdf["html"].isna().to_numpy(), ["title", "text"]] = None
                out["partition_id"] = pid
                yield out

        extracted = cached(fetched.mapInPandas(extract_part, schema=ext_schema))

        # The fat extraction cache carries the text payload (~8 KB/row);
        # only the articles write needs it.  The other consumers (seen,
        # crawl_logs, frontier link discovery) read this slim projection,
        # cached separately, so the fat rows are dropped right after the
        # articles+seen writes instead of being re-deserialized by every
        # later job.  On a 1M-page bulk round the frontier step was the
        # round's non-scaling component purely from scanning the fat
        # cache (119.8 s at 1 core → 74.5 s at 4; GC-bound); at 100 TB
        # keeping the text live for link discovery would be a
        # memory-bandwidth bottleneck on every executor.
        slim = cached(
            extracted.select(
                "url_hash",
                "canon_url",
                "host",
                "priority",
                "discovered_round",
                "fetch_seq",
                "partition_id",
                F.length("text").alias("text_len"),
                "out_links",
            )
        )

        # persisted: consumed by both the seen and crawl_logs writes —
        # without the cache each write job rebuilds the ext_keys
        # hash side and re-runs the anti-join (measured ~5 s/round).
        missing = cached(self._missing_join(adm, slim.select("url_hash", "canon_url")))

        present = extracted
        articles = present.filter(F.length("text") >= cfg.min_content_len)

        # 6. article rows — A7 quality score as pure column arithmetic,
        #    mirroring base_scraper.py:69-117 exactly: weighted components
        #    (content 30% min(len/2000,1), metadata 30% with 25% per
        #    present field — authors/published here, tags/summary are not
        #    extracted —, title 20% min(len/50,1) if len>10, images 20%
        #    min(n/3,1)), normalized by the total weight of the components
        #    that are present.
        content_w = F.when(F.length("text") > 0, F.lit(0.3)).otherwise(F.lit(0.0))
        content_s = F.least(F.length("text") / 2000.0, F.lit(1.0)) * content_w
        meta_w = F.lit(0.3)  # the metadata object always exists
        meta_s = meta_w * (
            0.25 * F.when(F.size("authors") > 0, 1.0).otherwise(0.0)
            + 0.25 * F.when(F.col("published").isNotNull(), 1.0).otherwise(0.0)
        )
        title_w = F.when(
            F.col("title").isNotNull() & (F.length("title") > 10), F.lit(0.2)
        ).otherwise(F.lit(0.0))
        title_s = F.least(F.length("title") / 50.0, F.lit(1.0)) * title_w
        img_w = F.when(F.size("images") > 0, F.lit(0.2)).otherwise(F.lit(0.0))
        img_s = F.least(F.size("images") / 3.0, F.lit(1.0)) * img_w
        # pinned 6dp (functions/rounding): round(x, d) diverges from the
        # DuckDB crawl oracle at half boundaries
        from newscrawler_spark.functions.rounding import pinned_round

        quality = pinned_round(
            (content_s + meta_s + title_s + img_s)
            / (content_w + meta_w + title_w + img_w),
            6,
        )
        # scrape_strategy already rides on the extracted rows (joined
        # before extraction for J3 routing) — no second dim join here
        article_rows = articles.select(
            F.col("canon_url").alias("url"),
            "url_hash",
            F.col("host").alias("source_domain"),
            "title",
            "text",
            F.col("authors"),
            F.to_timestamp("published").alias("published_date"),
            quality.alias("quality_score"),
            "images",
            F.size("images").alias("n_images"),
            "scrape_strategy",
            "lang",
            F.lit(round_id).alias("round_id"),
            "fetch_seq",
        )

        # 7. discovered links → next frontier (U1 union + lexicographic-
        #    min dedup, the batch analog of pushing dup jobs on the heap).
        #    Dedup the RAW link strings first: pages link to shared
        #    targets ~20× over, canonicalization is idempotent, and every
        #    same-round link carries identical (priority, round) — so
        #    deduping before the regex-heavy canonicalizer cuts its input
        #    by the link fan-in factor with an identical result set
        #    (map-side partial aggregation makes the extra groupBy cheap).
        links = slim.select(
            F.explode(F.slice("out_links", 1, cfg.max_links_per_page)).alias("canon_url")
        ).distinct()
        links = with_canonical(links, "canon_url").select(
            "canon_url",
            "url_hash",
            "host",
            F.lit(cfg.default_priority).cast("int").alias("priority"),
            F.lit(round_id + 1).cast("int").alias("discovered_round"),
        )
        deferred_rows = deferred.select(
            "canon_url", "url_hash", "host", "priority", "discovered_round"
        )
        next_frontier = (
            deferred_rows.unionByName(links)
            .groupBy("url_hash", "canon_url", "host")
            .agg(F.min(F.struct("priority", "discovered_round")).alias("k"))
            .select(
                "canon_url",
                "url_hash",
                "host",
                F.col("k.priority").alias("priority"),
                F.col("k.discovered_round").alias("discovered_round"),
            )
        )

        # 8. seen delta: every terminal URL this round, with its fetch
        #    position (the crawl-order record) — one table, one write.
        status = F.when(
            F.col("text_len") >= cfg.min_content_len, "fetched"
        ).otherwise("short")
        seen_delta = (
            slim.select(
                "url_hash",
                "canon_url",
                "host",
                F.lit(round_id).alias("round_id"),
                status.alias("status"),
                "fetch_seq",
                "priority",
                "discovered_round",
            )
            .unionByName(
                missing.select(
                    "url_hash",
                    "canon_url",
                    "host",
                    F.lit(round_id).alias("round_id"),
                    F.lit("missing").alias("status"),
                    "fetch_seq",
                    "priority",
                    "discovered_round",
                )
            )
            .unionByName(
                denied.select(
                    "url_hash",
                    "canon_url",
                    "host",
                    F.lit(round_id).alias("round_id"),
                    F.lit("robots_denied").alias("status"),
                    F.lit(None).cast("long").alias("fetch_seq"),
                    "priority",
                    "discovered_round",
                )
            )
        )

        # 9. per-partition lineage + per-status metrics (CrawlLog analog);
        # missing URLs never reach an extract partition → partition_id -1.
        logs = (
            slim.groupBy("partition_id", status.alias("status"))
            .agg(
                F.count("*").alias("n_urls"),
                F.sum(F.size(F.coalesce("out_links", F.array()))).alias("links_discovered"),
            )
            .unionByName(
                missing.groupBy(
                    F.lit(-1).cast("int").alias("partition_id"),
                    F.lit("missing").alias("status"),
                ).agg(
                    F.count("*").alias("n_urls"),
                    F.lit(0).cast("long").alias("links_discovered"),
                )
            )
            .withColumn("round_id", F.lit(round_id))
        )

        # 10. writes, instrumented with Observations (no count-only jobs).
        # articles carry the text payload → written at natural (extract)
        # partitioning so no text bytes shuffle; the small metadata deltas
        # get round-robin repartitioned to keep file counts sane.
        # Per-step walls: each write job timed separately; "cache_fill"
        # includes the fetch-join + extraction chain it materializes.
        # Recorded into the manifest as step_secs.
        steps: dict[str, float] = {}

        @contextlib.contextmanager
        def _timed(name):
            s = time.time()
            yield
            steps[name] = round(time.time() - s, 3)

        # The articles write is FUSED with the extraction pass: it is the
        # first job over the fat `extracted` cache, so extraction + the
        # text-payload parquet encode happen in ONE pass over the ~10 KB
        # rows.  Splitting them (materialize-then-write) was probed on
        # the cluster legs: neutral at 4 executors (89.3 s vs 91.0 s
        # round) but +40 s at 1 (the second full fat-cache pass spills
        # past a single 12 g executor's storage fraction and re-reads
        # from disk).
        with _timed("articles"):
            self.store.write_round("articles", round_id, article_rows)

        obs_seen = Observation(f"seen_{round_id}")
        seen_obs_df = seen_delta.observe(
            obs_seen,
            F.count(F.lit(1)).alias("seen_delta"),
            F.sum(F.when(F.col("status") == "fetched", 1).otherwise(0)).alias("extracted"),
            F.sum(F.when(F.col("status") == "short", 1).otherwise(0)).alias("short"),
            F.sum(F.when(F.col("status") == "missing", 1).otherwise(0)).alias("missing"),
            F.sum(F.when(F.col("status") == "robots_denied", 1).otherwise(0)).alias(
                "robots_denied"
            ),
            F.sum(F.when(F.col("fetch_seq").isNotNull(), 1).otherwise(0)).alias("admitted"),
        )
        # NB: `extracted` (the fat text-payload cache) must NOT be
        # unpersisted here even though no later job reads it: uncaching a
        # plan re-registers every dependent cache entry (slim, missing)
        # with a fresh cache buffer, silently discarding their already-
        # materialized blocks — the next reader then re-runs the whole
        # fetch-join + extraction chain.  Step-timed on the 4-executor
        # cluster leg: crawl_logs 34.6-44.6 s (full slim re-materialize,
        # event-log TableCacheQueryStage inside the toArrow execution)
        # vs 0.9 s with the cache chain intact.  The fat blocks are
        # LRU-evictable, so keeping them registered until round end
        # costs nothing that memory pressure can't reclaim.

        # Fill the shared caches with ONE job before fanning out: every
        # remaining writer reads `slim` (and two read `missing`), and
        # concurrent first-readers of an unmaterialized cache would each
        # compute its partitions redundantly.  Computing `missing` pulls
        # every `slim` partition through the cache (cheap: the articles
        # job above already materialized `extracted`).
        with _timed("cache_fill"):
            missing.count()

        obs_frontier = Observation(f"frontier_{round_id}")
        frontier_obs_df = next_frontier.observe(
            obs_frontier,
            F.count(F.lit(1)).alias("next_frontier"),
            F.sum(F.when(F.col("discovered_round") <= round_id, 1).otherwise(0)).alias(
                "deferred"
            ),
        )

        # The three remaining writes are independent jobs over the now-
        # materialized caches (bloom tails the seen write: it reads the
        # committed seen round).  Submit them from threads so the
        # scheduler backfills idle slots — sequentially, each job's AQE
        # wave tails and the driver's plan-compilation gaps between jobs
        # serialize ~10-15% of the round wall at 4 executors (event-log
        # measured: per-step CPU identical across 1 vs 4 executors, the
        # gap is pure slot idleness + inter-job driver time).  A failed
        # write surfaces via .result() before the round commits.
        def _write_seen_then_bloom():
            with _timed("seen"):
                self.store.write_round(
                    "seen", round_id, seen_obs_df, partitions=_WRITE_PARTITIONS
                )
            with _timed("bloom"):
                self._advance_bloom(round_id)

        def _write_logs():
            with _timed("crawl_logs"):
                # bounded rollup (≤ partitions × statuses rows): driver-
                # side Arrow write — no single-task shuffle drain
                # (storage.py write_round_small rationale)
                self.store.write_round_small("crawl_logs", round_id, logs)

        def _write_frontier():
            with _timed("frontier"):
                self.store.write_round(
                    "frontier", round_id, frontier_obs_df, partitions=_WRITE_PARTITIONS
                )

        from concurrent.futures import ThreadPoolExecutor

        # Concurrent jobs only pay off when there are idle slots to
        # backfill: with <4 task slots the interleaved stages just churn
        # the caches (and the executor's one slot serializes the work
        # anyway), so run the writes sequentially there — the same
        # size-adaptive choice AQE makes for plans, applied to job
        # submission.
        n_writers = 3 if self.spark.sparkContext.defaultParallelism >= 4 else 1
        with ThreadPoolExecutor(max_workers=n_writers) as pool:
            futs = [
                pool.submit(_write_seen_then_bloom),
                pool.submit(_write_logs),
                pool.submit(_write_frontier),
            ]
            for f in futs:
                f.result()

        stats = {k: int(v or 0) for k, v in {**obs_seen.get, **obs_frontier.get}.items()}
        stats["wall_secs"] = round(time.time() - t0, 3)
        stats["step_secs"] = steps
        self.store.commit_round(round_id, stats)
        return stats


def read_crawl_order(spark: SparkSession, store: RoundStore) -> DataFrame:
    """Global crawl order: seen rows that were admitted for fetch."""
    seen = store.read_rounds(spark, "seen")
    return seen.filter(F.col("fetch_seq").isNotNull()).select(
        F.col("canon_url").alias("url"),
        "url_hash",
        "fetch_seq",
        "priority",
        "discovered_round",
        "host",
        "round_id",
    )
