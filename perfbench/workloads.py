"""The benchmark's workloads, their output checks and their layer metrics.

Load model: batch jobs run from one process in a closed loop — one
crawl or one analytics pass at a time, the next only after the previous
ends.  Set-up ends with one untimed iteration of the workload itself, so
the JVM's class loading and code generation and the Python workers'
start-up are paid before timing; set-up time reports them.  Each crawl
gets a fresh ``RoundStore`` and a fresh ``FrontierCrawler``; after every
crawl or pass the crawler's pages cache is unpersisted and the session
cache cleared, so no iteration inherits another's cached scans — nor the
``persist()`` that the label-propagation and seed-depth operators leave.

* ``frontier_crawl``: a 2-round crawl from a seed list of the sources'
  home pages plus every ``SEED_EVERY``-th corpus URL, so politeness binds
  from round 0 and round 1's links meet a seen history.  Checked against
  ``oracle.crawl_oracle``: exact fetch order, exact seen set and
  byte-identical article text.
* ``link_analytics``: host PageRank, label propagation and seed depth
  over the corpus pages, and BM25 over the page text.  The graph results
  are checked against their DuckDB twins in ``oracle_sql``.  Results are
  collected: they are host-sized (BM25 keeps the top 20), and the checks
  read them.

A traced run (``--trace 1``) times three iterations after the warm-up,
the middle one traced, and adds inside the traced region the layers the
workload itself does not reach: ``frontier_crawl`` reads its crawl store
back and runs the operators over it (BM25 over the crawled articles);
``link_analytics`` builds a store with one unbounded round seeded with
every corpus URL and reads it back (checked against the corpus: article
text equals ``pages.text``, the seen rows are the distinct canonical
URLs, the order follows the frozen key).

Inputs are the synthetic corpus from ``sources.corpus.generate_corpus``
for the given seed; the program sees only the generated files.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from newscrawler_spark.crawler import CrawlConfig, FrontierCrawler, read_crawl_order
from newscrawler_spark.functions.canonical import canonicalize_url, url_hash60
from newscrawler_spark.oracle import crawl_oracle
from newscrawler_spark.plans.storage import RoundStore
from newscrawler_spark.sources.corpus import generate_corpus

from . import eventlog, host, spans

#: ~4.5 KB of HTML per page; 24 hosts, the hottest holding about a third
CORPUS = {"n_pages": 3000, "n_hosts": 24, "paras_range": (12, 22)}
#: the crawl: single broadcast bloom, cached pages scan
FRONTIER = CrawlConfig(max_rounds=2, round_budget=25, n_salts=8, bloom_expected=1_000_000)
SEED_EVERY = 10
#: the store the link_analytics trace writes and reads: one unbounded
#: round over every corpus URL
BULK = CrawlConfig(
    max_rounds=1,
    round_budget=1_000_000_000,
    bloom_expected=1_000_000,
    cache_pages=False,
    repartition_fetched=False,
    broadcast_admitted_max=0,
    scalable_fetch_order=True,
)
SETUP_PASSES = 3
BM25_TERMS = ["markets", "energy", "climate"]
KERNEL_SAMPLE = 300
LAYERS = ("crawler", "storage", "seen", "politeness", "graph", "search")


class Bench:
    """One benchmark run: its session, scratch space, set-up timings,
    checks and (when tracing) spans."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.spark = None
        self.setup: dict[str, float] = {}
        self.checks: list[tuple[str, bool]] = []
        self.tracer = spans.Tracer(self._set_job_span) if trace else None
        self._tracing = False
        # read by the patched extract_batch in the Python workers, which
        # inherit the environment of the session started below
        self.worker_spans = os.environ[spans.WORKER_SPANS_ENV] = self.path("worker_spans")
        os.makedirs(self.worker_spans, exist_ok=True)

    def _set_job_span(self, sid: str | None) -> None:
        self.spark.sparkContext.setLocalProperty(spans.SPAN_PROPERTY, sid)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def tracing(self):
        """Record spans — the benchmark's own and the patched layer
        boundaries' — for the duration of the block."""
        undo = spans.install(self.tracer)
        self._tracing = True
        try:
            yield
        finally:
            self._tracing = False
            undo()

    def span(self, name: str, layer: str, **attrs):
        if not self._tracing:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, **attrs)

    def check(self, name: str, ok: bool) -> None:
        self.checks.append((name, bool(ok)))

    # --- set-up ---------------------------------------------------------

    def start(self) -> None:
        with self.phase("session"):
            self.spark = host.start_session(self.work, event_log=self.trace)

    def corpus(self) -> dict:
        """Generate the seed's corpus ``SETUP_PASSES`` times into fresh
        directories; the set-up time counts the median pass."""
        times = []
        for k in range(SETUP_PASSES):
            out = self.path(f"corpus-{k}")
            t0 = time.perf_counter()
            paths = generate_corpus(out, seed=self.seed, workers=1, **CORPUS)
            times.append(time.perf_counter() - t0)
            if k + 1 < SETUP_PASSES:
                shutil.rmtree(out)
        self.setup["corpus"] = statistics.median(times)
        return paths

    def setup_s(self) -> float:
        return sum(self.setup.values())

    # --- the calls the workloads time -----------------------------------

    def crawl(self, paths: dict, cfg: CrawlConfig, name: str, all_urls: bool = False) -> dict:
        """One crawl on a fresh store and crawler, seeded from the seeds
        table or, with ``all_urls``, with every corpus URL; the timed
        region is construction, seeding and ``run``."""
        store = RoundStore(self.path(name))
        t0, e0 = time.perf_counter(), time.time()
        crawler = FrontierCrawler(self.spark, paths["pages"], paths["seeds"], store, cfg)
        if all_urls:
            crawler.initialize(url_df=self.spark.read.parquet(paths["pages"]).select("url"))
        totals = crawler.run(resume=all_urls)
        wall = time.perf_counter() - t0
        window = (e0, time.time())
        self.release(crawler)
        return {"store": store, "totals": totals, "wall": wall, "window": window}

    def release(self, crawler: FrontierCrawler | None = None) -> None:
        if crawler is not None:
            crawler.pages.unpersist()
        self.spark.catalog.clearCache()

    def read_store(self, store: RoundStore) -> dict:
        """The store's read path: crawl order collected, the seen and
        articles tables to the ``noop`` sink."""
        spark = self.spark
        with self.span("storage.read", "storage", table="crawl_order"):
            order = read_crawl_order(spark, store).select("url", "fetch_seq").collect()
        for table in ("seen", "articles"):
            with self.span("storage.read", "storage", table=table):
                store.read_rounds(spark, table).write.format("noop").mode("overwrite").save()
        return {r["url"]: r["fetch_seq"] for r in order}

    def operators(self, paths: dict, docs) -> dict:
        """Host PageRank, label propagation and seed depth over the corpus
        pages, and BM25 over ``docs``; returns their collected results."""
        from newscrawler_spark.operators import graph, search

        pages = self.spark.read.parquet(paths["pages"])
        seeds = self.spark.read.parquet(paths["seeds"])
        ops = [
            ("pagerank", lambda: graph.host_pagerank(pages), ("host", "rank")),
            ("lpa", lambda: graph.host_label_propagation(pages, iterations=4),
             ("host", "community", "community_size")),
            ("seed_depth", lambda: graph.host_seed_depth(pages, seeds, hops=4),
             ("host", "depth")),
        ]
        out = {}
        for name, op, cols in ops:
            with self.span(f"graph.{name}", "graph"):
                out[name] = sorted(tuple(r) for r in op().select(*cols).collect())
        with self.span("search.bm25", "search"):
            out["bm25"] = [tuple(r) for r in search.bm25_rank(docs, BM25_TERMS).collect()]
        self.release()
        return out


def _iterate(bench: Bench, fn) -> list:
    """Closed loop: run ``fn`` until ``seconds`` of iterations have been
    timed, at least once; the JVM settles between iterations."""
    runs: list = []
    while not runs or sum(r["wall"] for r in runs) < bench.seconds:
        host.settle(bench.spark)
        runs.append(fn(f"it{len(runs)}"))
    return runs


def _traced_iterations(bench: Bench, fn, after_traced=None) -> dict:
    """The traced run's protocol: the traced iteration sits between two
    untraced ones, and the tracing overhead is its wall minus their mean.
    ``after_traced`` runs inside the traced region but outside the traced
    iteration's wall."""
    host.settle(bench.spark)
    before = fn("before")
    host.settle(bench.spark)
    with bench.tracing():
        traced = fn("traced")
        extra = after_traced(traced) if after_traced else None
    host.settle(bench.spark)
    after = fn("after")
    return {
        "runs": [before, traced, after],
        "traced": traced,
        "extra": extra,
        "overhead_s": traced["wall"] - (before["wall"] + after["wall"]) / 2,
    }


# --- checks ---------------------------------------------------------------


def check_crawl(bench: Bench, store: RoundStore, oracle: dict) -> None:
    spark = bench.spark
    got_order = {r["url"]: r["fetch_seq"] for r in read_crawl_order(spark, store).collect()}
    bench.check("crawl.order", got_order == dict(oracle["order"]))
    seen_rows = store.read_rounds(spark, "seen").select("canon_url", "status").collect()
    got_seen = {r["canon_url"]: r["status"] for r in seen_rows}
    bench.check("crawl.seen", len(seen_rows) == len(got_seen) and got_seen == oracle["seen"])
    art_rows = store.read_rounds(spark, "articles").select("url", "text").collect()
    got_text = {r["url"]: r["text"] for r in art_rows}
    want_text = {u: a["text"] for u, a in oracle["articles"].items()}
    bench.check("crawl.text", len(art_rows) == len(got_text) and got_text == want_text)


def check_bulk_store(bench: Bench, store: RoundStore, paths: dict, order: dict) -> None:
    """Article text equals ``pages.text`` per URL, the seen rows are the
    distinct canonical corpus URLs, and the crawl order read back is every
    URL robots did not deny by ``(url_hash, canon_url)`` — priority and
    round are equal in a bulk round."""
    import pyarrow.parquet as pq

    spark = bench.spark
    pages = pq.read_table(paths["pages"], columns=["url", "text"]).to_pylist()
    truth = {canonicalize_url(p["url"]): p["text"] for p in pages}
    truth.pop(None, None)
    art_rows = store.read_rounds(spark, "articles").select("url", "text").collect()
    bench.check(
        "bulk.text",
        len(art_rows) > 0 and all(truth.get(r["url"]) == r["text"] for r in art_rows),
    )
    seen_rows = store.read_rounds(spark, "seen").select("canon_url", "status").collect()
    seen = {r["canon_url"]: r["status"] for r in seen_rows}
    bench.check("bulk.seen", len(seen_rows) == len(seen) and set(seen) == set(truth))
    fetched = sorted(
        (u for u, st in seen.items() if st != "robots_denied"), key=lambda u: (url_hash60(u), u)
    )
    bench.check("bulk.crawl_order", order == {u: i + 1 for i, u in enumerate(fetched)})


def duckdb_twins(paths: dict, work: str) -> dict:
    import duckdb

    from newscrawler_spark import oracle_sql

    sqls = {
        "pagerank": oracle_sql.host_pagerank_sql(paths["pages"]),
        "lpa": oracle_sql.host_lpa_sql(paths["pages"], iterations=4),
        "seed_depth": oracle_sql.host_seed_depth_sql(paths["pages"], paths["seeds"], hops=4),
    }
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {host.cpus()}")
        con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
        return {
            k: sorted(tuple(r) for r in con.execute(_materialize_edges(sql)).fetchall())
            for k, sql in sqls.items()
        }
    finally:
        con.close()


def _materialize_edges(sql: str) -> str:
    """Mark the twins' shared ``edges`` CTE MATERIALIZED.  DuckDB inlines
    a CTE at every reference, which reruns the regex link extraction per
    iteration; materializing it is a plan hint that leaves the result
    unchanged (the LPA and seed-depth twins already materialize their
    per-iteration CTEs for the same reason)."""
    hinted = sql.replace("\nedges AS (", "\nedges AS MATERIALIZED (", 1)
    if hinted == sql:
        raise ValueError("edges CTE not found in the twin's SQL")
    return hinted


def check_operators(bench: Bench, res: dict, twins: dict) -> None:
    for name, want in twins.items():
        bench.check(f"analytics.{name}", res[name] == want)
    bm25 = res["bm25"]
    bench.check(
        "analytics.bm25",
        0 < len(bm25) <= 20
        and len({r[0] for r in bm25}) == len(bm25)
        and all(r[1] > 0 for r in bm25)
        and all(a[2] >= b[2] for a, b in zip(bm25, bm25[1:])),
    )


# --- workloads ------------------------------------------------------------


def write_seed_list(paths: dict, out: str) -> str:
    """The corpus seeds table plus one row per ``SEED_EVERY``-th page URL,
    each carrying its host's scraper type and active flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seeds = pq.read_table(paths["seeds"])
    by_host = {r["domain"]: r for r in seeds.to_pylist()}
    urls = pq.read_table(paths["pages"], columns=["url"]).column("url").to_pylist()
    extra = [u for u in urls[::SEED_EVERY] if not u.endswith("/robots.txt")]
    rows = seeds.to_pylist() + [
        {**by_host[u.split("/")[2]], "source_id": f"url{i}", "base_url": u,
         "priority": FRONTIER.default_priority}
        for i, u in enumerate(extra)
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=seeds.schema), out)
    return out


def frontier_crawl(bench: Bench) -> dict:
    bench.start()
    paths = bench.corpus()
    with bench.phase("seeds"):
        paths = {**paths, "seeds": write_seed_list(paths, bench.path("seed-list.parquet"))}
    with bench.phase("oracle"):
        oracle = crawl_oracle(paths["pages"], paths["seeds"], FRONTIER)

    def crawl(name: str) -> dict:
        return bench.crawl(paths, FRONTIER, f"store-{name}")

    with bench.phase("warmup"):
        warm = crawl("warmup")
    if bench.trace:
        def analytics(traced: dict) -> None:
            store = traced["store"]
            bench.read_store(store)
            docs = store.read_rounds(bench.spark, "articles").select(
                F.col("url_hash").alias("doc_id"), "text"
            )
            bench.operators(paths, docs)

        out = _traced_iterations(bench, crawl, analytics)
        runs = out["runs"]
        out.update(paths=paths, crawl=out["traced"])
    else:
        runs = _iterate(bench, crawl)
        out = {
            "urls_per_s": statistics.median(r["totals"]["fetched"] / r["wall"] for r in runs),
            "wall_s": statistics.median(r["wall"] for r in runs),
        }
    for r in [warm, *runs]:
        check_crawl(bench, r["store"], oracle)
    out["walls"] = [r["wall"] for r in runs]
    return out


def link_analytics(bench: Bench) -> dict:
    bench.start()
    paths = bench.corpus()
    with bench.phase("oracle"):
        twins = duckdb_twins(paths, bench.work)

    def one_pass(name: str) -> dict:
        t0, e0 = time.perf_counter(), time.time()
        docs = bench.spark.read.parquet(paths["pages"]).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )
        res = bench.operators(paths, docs)
        return {"res": res, "wall": time.perf_counter() - t0, "window": (e0, time.time())}

    with bench.phase("warmup"):
        warm = one_pass("warmup")
    if bench.trace:
        # the write and read side of the store, for the crawler and
        # storage layers: one unbounded round seeded with every URL
        def store_layers(traced: dict) -> dict:
            built = bench.crawl(paths, BULK, "store", all_urls=True)
            return {"crawl": built, "order": bench.read_store(built["store"])}

        out = _traced_iterations(bench, one_pass, store_layers)
        runs = out["runs"]
        out.update(paths=paths, crawl=out["extra"]["crawl"])
        check_bulk_store(bench, out["crawl"]["store"], paths, out["extra"]["order"])
    else:
        runs = _iterate(bench, one_pass)
        wall = statistics.median(r["wall"] for r in runs)
        out = {"urls_per_s": CORPUS["n_pages"] / wall, "wall_s": wall}
    for r in [warm, *runs]:
        check_operators(bench, r["res"], twins)
    out["walls"] = [r["wall"] for r in runs]
    return out


WORKLOADS = {"frontier_crawl": frontier_crawl, "link_analytics": link_analytics}


# --- layer metrics of a traced run ------------------------------------------


def kernel_pages_per_s(bench: Bench, paths: dict) -> float:
    """One-process ``extract_batch`` over a fixed sample of the corpus,
    for at least a second; also checks the sample's article text."""
    import pyarrow.parquet as pq

    from newscrawler_spark.functions.extract import extract_batch

    pages = pq.read_table(paths["pages"], columns=["url", "html", "text"])
    step = max(1, pages.num_rows // KERNEL_SAMPLE)
    sample = pages.take(list(range(0, pages.num_rows, step))[:KERNEL_SAMPLE]).to_pandas()
    strategy: dict[str, str] = {}
    for s in pq.read_table(paths["seeds"], columns=["domain", "scraper_type"]).to_pylist():
        if s["domain"] not in strategy or s["scraper_type"] < strategy[s["domain"]]:
            strategy[s["domain"]] = s["scraper_type"]
    strategies = sample["url"].str.split("/").str[2].map(strategy)
    ext = extract_batch(sample["url"], sample["html"], strategies)
    article = ext["text"].str.len() >= FRONTIER.min_content_len
    bench.check(
        "extract.kernel_text",
        article.any() and (ext["text"][article] == sample["text"][article]).all(),
    )
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < 1.0:
        extract_batch(sample["url"], sample["html"], strategies)
        n += len(sample)
    return n / (time.perf_counter() - t0)


def _store_files(root: str, table: str) -> tuple[int, int]:
    files = size = 0
    tdir = os.path.join(root, table)
    for sub in os.listdir(tdir) if os.path.isdir(tdir) else []:
        for name in os.listdir(os.path.join(tdir, sub)):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(tdir, sub, name))
    return files, size


def _descendants(all_spans: list, roots: set[int]) -> set[int]:
    out = set(roots)
    for s in all_spans:  # parents precede children in start order
        if s.parent in out:
            out.add(s.sid)
    return out


def layer_metrics(bench: Bench, traced: dict) -> dict:
    """Per-layer numbers of a traced run, from its spans, the Spark event
    log, the crawl's manifests and round directories, the worker-side
    extraction spans and the kernel microbench."""
    sp = bench.tracer.spans
    selfs = spans.self_times(sp)
    log = eventlog.parse(eventlog.find_log(bench.path("events")))
    cores = host.cpus()
    crawl = traced["crawl"]
    store = crawl["store"]
    mans = [store.manifest(r) for r in range(-1, store.last_committed_round() + 1)]
    rounds = mans[1:]

    def total(*names, table=None):
        return sum(
            s.duration for s in sp
            if s.name in names and (table is None or s.attrs.get("table") == table)
        )

    m: dict[str, float] = {}
    round_spans = {s.attrs["round"]: s for s in sp if s.name == "crawler.run_round"}
    m["crawler.round_s.r0"] = round_spans[0].duration
    m["crawler.round_self_s.r0"] = selfs[round_spans[0].sid]
    m["crawler.round_admitted.r0"] = rounds[0]["admitted"]
    m["crawler.rounds"] = len(round_spans)
    m["crawler.rounds_s"] = sum(s.duration for s in round_spans.values())
    m["crawler.rounds_self_s"] = sum(selfs[s.sid] for s in round_spans.values())
    m["crawler.admitted"] = sum(r["admitted"] for r in rounds)
    m["crawler.init_s"] = total("crawler.initialize")
    in_rounds = _descendants(sp, {s.sid for s in round_spans.values()})
    round_jobs = log.jobs_of_spans({str(i) for i in in_rounds})
    round_tasks, _ = log.totals(round_jobs)
    m["crawler.jobs_per_round"] = len(round_jobs) / len(round_spans)
    m["crawler.slot_idle_ratio"] = 1.0 - round_tasks.run_s / (m["crawler.rounds_s"] * cores)

    for table in RoundStore.TABLES:
        m[f"storage.write_s.{table}"] = total(
            "storage.write_round", "storage.write_round_small", table=table
        )
    m["storage.commit_s"] = total("storage.commit_round")
    m["storage.read_s"] = total("storage.read")
    for table in RoundStore.TABLES:
        files, size = _store_files(store.root, table)
        m[f"storage.bytes_written.{table}"] = size / 1e6
        m[f"storage.files_written.{table}"] = files

    kernel = kernel_pages_per_s(bench, traced["paths"])
    worker = spans.read_worker_spans(bench.worker_spans)
    busy = sum(w["end"] - w["start"] for w in worker)
    m["extract.kernel_pages_per_s"] = kernel
    m["extract.efficiency"] = crawl["totals"]["fetched"] / crawl["wall"] / (kernel * cores)
    m["extract.worker_busy_s"] = busy
    m["extract.worker_pages_per_s"] = sum(w["rows"] for w in worker) / busy if busy else 0.0

    m["seen.bloom_s"] = total("seen.build_bloom", "seen.advance_partitioned_bloom")
    entering = sum(mans[k]["next_frontier"] for k in range(1, len(rounds)))
    surviving = sum(r["seen_delta"] + r["deferred"] for r in rounds[1:])
    m["seen.pass_ratio"] = surviving / entering if entering else 1.0
    deferred = sum(r["deferred"] for r in rounds)
    m["politeness.deferred_ratio"] = deferred / (deferred + sum(r["admitted"] for r in rounds))
    m["robots.denied"] = sum(r["robots_denied"] for r in rounds)

    for name in ("pagerank", "lpa", "seed_depth"):
        m[f"graph.{name}_s"] = total(f"graph.{name}")
    m["search.bm25_s"] = total("search.bm25")

    window_jobs = log.jobs_between(*traced["traced"]["window"])
    t, n_stages = log.totals(window_jobs)
    m.update(
        {
            "spark.jobs": len(window_jobs),
            "spark.stages": n_stages,
            "spark.task_s": t.run_s,
            "spark.gc_s": t.gc_s,
            "spark.spill_mb": t.spill_mb,
            "spark.shuffle_write_mb": t.shuffle_write_mb,
            "spark.shuffle_read_mb": t.shuffle_read_mb,
            "spark.input_mb": t.input_mb,
        }
    )

    layer_self = spans.self_time_by_layer(sp)
    layer_of = {str(s.sid): s.layer for s in sp}
    for layer in LAYERS:
        m[f"self_s.{layer}"] = layer_self.get(layer, 0.0)
        jobs = [j for j, (_, sid, _) in log.jobs.items() if layer_of.get(sid) == layer]
        m[f"task_s.{layer}"] = log.totals(jobs)[0].run_s
    m["trace.overhead_s"] = traced["overhead_s"]
    m["trace.spans"] = len(sp)
    return m
