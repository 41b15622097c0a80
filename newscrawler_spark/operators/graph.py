"""Connected components over the near-duplicate pair graph.

Pair-level dedup (minhash/simhash/embedding `*_pairs` operators) is not
a dedup decision yet: keep-one-per-group needs the transitive closure
of the pairs — A~B and B~C must collapse A, B, C together even though
(A, C) was never emitted.  The standard corpus pipeline therefore runs
connected components on the candidate-pair graph and keeps the minimum
doc id per component.

Spark-first implementation: min-label propagation with pointer
jumping.  Each round every node takes the min component label among
itself and its neighbors, then labels are compressed one hop
(``comp := comp[comp]``), which halves remaining path lengths — so
rounds grow O(log diameter), not O(diameter).  Each round is two
equi-joins + a groupBy on the PAIR graph, which is orders of magnitude
smaller than the corpus (only near-duplicates appear in it); the
corpus itself is touched once at the end to label isolated documents.
Lineage is truncated per round with an eager localCheckpoint, and
convergence is detected by the strictly-decreasing sum of labels (one
cheap scalar action per round — no row-level diff join).

The driver-side loop is bounded and tiny (a handful of rounds); all
row-scaled work stays distributed.  (GraphFrames' large-star/small-star
is the same idea with a 2-phase split; this 1-phase variant keeps the
dependency surface to plain DataFrames.)

The link-graph operators (host PageRank, HITS, label propagation, seed
depth, triangles, k-core, ...) read their edges through one
``mapInPandas`` pass of the links-only extraction kernel
(functions/extract.links_map_in_pandas: the frozen out-links, no other
field, no html back to the JVM).  The fixed-round ones run through
``_iterate``: the O(host-graph) input is checkpointed once, each
round's small state vector is cut with an eager localCheckpoint (the
pattern connected components uses), and the blocks of every round but
the last and of the inputs are released when the rounds end, so a
K-round operator plans K one-round queries and leaves nothing cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected `edges` graph.  Returns
    (id, component) with component = min node id reachable.  `nodes`
    (single column ``id``) adds isolated vertices; defaults to the
    vertices appearing in `edges`."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the pair graph once — its lineage (an LSH/simhash
    # candidate join) would otherwise recompute on every round
    esym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    if nodes is None:
        nodes = esym.select(F.col("a").alias("id")).distinct()
    comp = nodes.select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    prev_sum = comp.agg(F.sum("comp")).collect()[0][0] or 0
    for _ in range(max_iter):
        msgs = esym.join(comp, esym["a"] == comp["id"]).select(
            F.col("b").alias("id"), "comp"
        )
        prop = (
            comp.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer jump: follow the label one hop (comp := comp[comp])
        jumped = (
            prop.alias("x")
            .join(
                prop.select(
                    F.col("id").alias("jid"), F.col("comp").alias("jcomp")
                ),
                F.col("x.comp") == F.col("jid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.coalesce("jcomp", F.col("x.comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = jumped.agg(F.sum("comp")).collect()[0][0] or 0
        comp = jumped
        if cur_sum == prev_sum:  # min-label sum strictly decreases until fixed
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    return comp


_HOST_RE = r"^[a-z]+://([^/?#]*)"


def _links(pages: DataFrame) -> DataFrame:
    """(url, out_links) per page through the links-only extraction
    kernel (functions/extract.links_map_in_pandas)."""
    from ..functions.extract import LINK_FIELDS, links_map_in_pandas

    return pages.select("url", "html").mapInPandas(links_map_in_pandas, schema=LINK_FIELDS)


def _release(df: DataFrame) -> None:
    """Drop the blocks of a frame made by ``localCheckpoint``."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _iterate(
    state: DataFrame, rounds: int, *steps, release: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """``rounds`` synchronous rounds over a small state vector: each
    round applies ``steps`` in order, and each step's result is cut with
    an eager localCheckpoint before the next reads it, so every plan is
    one step deep; the cut before it is released.  The frames in
    ``release`` (checkpointed inputs the rounds read) are released at
    the end, so only the returned state stays materialized — and
    nothing when a step fails."""
    first = state
    try:
        for _ in range(rounds):
            for step in steps:
                prev, state = state, step(state).localCheckpoint(eager=True)
                if prev is not first:
                    _release(prev)
    except BaseException:
        if state is not first:
            _release(state)
        raise
    finally:
        for df in release:
            _release(df)
    return state


def host_link_edges(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Host-level link graph from the raw pages table.

    Extracts every page's out-links with the frozen extraction contract
    (extract_page's out-links, first-occurrence dedup per page, through
    the links-only kernel functions/extract.links_map_in_pandas),
    caps them at `max_links_per_page` (the reference's link cap,
    scraper_gui.py:483-486 — same cap the crawler applies at its explode
    site), resolves each endpoint to its host, and keeps only edges
    between two DISTINCT hosts that both exist in the corpus (links to
    hosts outside the crawled universe carry no rank).  Returns
    (src, dst, w) with w = number of distinct page-level links.

    Scale shape: one mapInPandas extraction pass + one groupBy on
    (src, dst) — the same single shuffle any host-level rollup needs.
    The result is O(host-graph), orders of magnitude smaller than the
    pages table, so everything downstream is cheap.
    """
    links = _links(pages).select(
        F.regexp_extract("url", _HOST_RE, 1).alias("src"),
        F.explode(F.slice("out_links", 1, max_links_per_page)).alias("link"),
    ).select("src", F.regexp_extract("link", _HOST_RE, 1).alias("dst"))
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    return (
        links.filter(F.col("src") != F.col("dst"))
        .join(F.broadcast(hosts), links["dst"] == hosts["host"], "left_semi")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def host_pagerank(
    pages: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    max_links_per_page: int = 100,
) -> DataFrame:
    """Integer-exact PageRank over the host link graph — the classic
    frontier-prioritization signal (Page et al. 1999; OPIC, Abiteboul
    et al. WWW'03 is the on-line crawl variant).  The reference ranks
    sources by a static priority column (src/database/models.py:38-58,
    scheduler ordering scheduler.py:516-524); this derives that
    priority from the corpus's own link structure instead.

    All arithmetic is scaled-integer so any engine replays it
    bit-exactly (the repo-wide oracle rule — no double sums):

        r_0(h)   = scale
        c(h->g)  = (r_k(h) * w) div out(h)          per edge, exact
        r_k+1(g) = (scale - scale*d//100)
                   + (d * sum_h c(h->g)) div 100    d = damping_pct

    Hosts with no out-edges simply don't redistribute (no dangling
    teleport term — spelled identically in the DuckDB oracle).  The
    fixed `iterations` run through :func:`_iterate`: the O(n_pages)
    extraction runs once into the checkpointed O(host-graph) edge table
    (with each source's out-weight), and each round's rank vector is
    checkpointed, so no round re-plans the rounds before it.

    Scale: rank iterations run on the host graph (~10^7 rows at
    100 TB), never on pages.  Each round broadcasts the |hosts|-row
    rank vector into the edges and has one exchange: the contributions
    plus a zero row per host (so hosts without in-links keep the
    teleport mass) grouped by host.
    """
    from pyspark.sql import Window

    ew = (
        host_link_edges(pages, max_links_per_page)
        .withColumn("outw", F.sum("w").over(Window.partitionBy("src")).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    teleport = scale - (scale * damping_pct) // 100

    def _round(ranks: DataFrame) -> DataFrame:
        contrib = ew.join(
            F.broadcast(ranks.withColumnRenamed("host", "src")), "src"
        ).select(
            F.col("dst").alias("host"),
            F.expr("(rank * w) div outw").alias("c"),
        )
        return (
            contrib.unionByName(ranks.select("host", F.lit(0).cast("bigint").alias("c")))
            .groupBy("host")
            .agg(F.sum("c").alias("s"))
            .select(
                "host",
                (F.lit(teleport) + F.expr(f"({damping_pct} * s) div 100"))
                .cast("bigint")
                .alias("rank"),
            )
        )

    ranks = hosts.select("host", F.lit(scale).cast("bigint").alias("rank"))
    return _iterate(ranks, iterations, _round, release=(ew,))


#: anchor extraction — group 1 = href target, group 2 = anchor text.
#: Lazy quantifiers + explicit char classes only (Java and RE2 agree;
#: the feed patterns in functions/extract.py pin the same parity).
ANCHOR_PATTERN = (
    r"""(?is)<a\b[^>]*?\bhref[ \t\n\r\f\x0b]*=[ \t\n\r\f\x0b]*"""
    r"""["']([^"'>]+)["'][^>]*>([^<]*)</a>"""
)

#: frozen explicit ASCII whitespace (never \s — see CLAUDE.md).
_WS_CLASS = r"[ \t\n\r\f\x0b]+"


def anchor_text_stats(
    pages: DataFrame, top_k: int = 5
) -> DataFrame:
    """Per-target-host anchor-text rollup: the classic web-graph
    quality/title signal (anchor text describes the TARGET page —
    search engines and LLM-pipeline URL classifiers both consume it).

    Extraction is pure column expressions — ``regexp_extract_all`` of
    the same pattern for href (group 1) and text (group 2) gives two
    index-aligned arrays (one regex pass each), zipped and exploded;
    no UDF, no Python.  Absolute http(s) targets resolve to their own
    host, everything else (relative links) to the source host — a
    host-level approximation that keeps the whole operator
    SQL-replayable (full URL resolution lives in the frozen crawl
    contract, functions/extract.resolve_link).  Anchor text is
    whitespace-collapsed with the frozen ASCII class.

    Output: top-``top_k`` anchors per target host by (count desc,
    anchor) — (dst, anchor, cnt, rnk).  One corpus scan, one
    (dst, anchor) shuffle with map-side combine, and the rank window
    runs over the AGGREGATE (host-bounded), never corpus rows.
    """
    from pyspark.sql import Window

    h = F.col("html").cast("string")
    a = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("src"),
        F.arrays_zip(
            F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 1),
            F.regexp_extract_all(h, F.lit(ANCHOR_PATTERN), 2),
        ).alias("za"),
    )
    e = a.select("src", F.explode("za").alias("z")).select(
        "src",
        F.col("z.0").alias("link"),
        F.trim(F.regexp_replace(F.col("z.1"), _WS_CLASS, " ")).alias("anchor"),
    )
    dst = F.when(
        F.col("link").rlike("^https?://"),
        F.regexp_extract("link", _HOST_RE, 1),
    ).otherwise(F.col("src"))
    agg = (
        e.select(dst.alias("dst"), "anchor")
        .where((F.col("anchor") != "") & (F.col("dst") != ""))
        .groupBy("dst", "anchor")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), "anchor")
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .select("dst", "anchor", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


def host_hits(
    pages: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    max_links_per_page: int = 100,
) -> DataFrame:
    """Integer-exact HITS hubs & authorities over the host link graph
    (Kleinberg, JACM 1999) — PageRank's companion signal: authorities
    are pointed AT by good hubs (quality targets worth crawling), hubs
    point TO good authorities (directory/seed pages worth re-visiting).

    Same cross-engine arithmetic discipline as :func:`host_pagerank`
    (no double sums anywhere):

        h_0(x)  = scale
        a'_k(g) = sum over edges (h->g, w) of h_{k-1}(h) * w
        a_k(g)  = (a'_k(g) * scale) div max_g a'_k        (0 if no in-edges)
        h'_k(x) = sum over edges (x->g, w) of a_k(g) * w
        h_k(x)  = (h'_k(x) * scale) div max_x h'_k        (0 if no out-edges)

    max-normalization (instead of the classical L2 norm, whose sqrt
    diverges cross-engine in the last ulp) keeps every score in
    [0, scale] as exact integers; the div-by-max is the standard
    power-iteration rescale and preserves the ranking.  int64 bound:
    scale * max_host_in_weight * scale must stay < 2^63 — with
    scale=1e6 that allows ~9e6 weighted in-links per host per
    iteration, and the per-step rescale stops any compounding.

    Scale shape: identical to PageRank — the O(n_pages) extraction
    builds the checkpointed O(host-graph) edge table once, and
    :func:`_iterate` checkpoints the |hosts|-row (host, auth, hub)
    vector after each half-step.  A half-step broadcasts the vector into
    the edges, groups the contributions plus a zero row per host (which
    also carries the other score) by host, and normalizes by a
    whole-frame max over that AGGREGATE (never corpus rows — the
    domain_mix lesson, PLANS.md).
    """
    edges = host_link_edges(pages, max_links_per_page).localCheckpoint(eager=True)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()

    def _half(vec: DataFrame, score: str, other: str, join_on: str, group_to: str):
        """`score` from `other` spread along the edges; `other` kept."""
        contrib = edges.join(
            F.broadcast(
                vec.select(F.col("host").alias(join_on), F.col(other).alias("_s"))
            ),
            join_on,
        ).select(
            F.col(group_to).alias("host"),
            (F.col("_s") * F.col("w")).alias("c"),
            F.lit(None).cast("bigint").alias(other),
        )
        zero = vec.select("host", F.lit(0).cast("bigint").alias("c"), other)
        raw = (
            contrib.unionByName(zero)
            .groupBy("host")
            .agg(F.sum("c").alias("raw"), F.max(other).alias(other))
        )
        return raw.select(
            "host",
            other,
            F.expr(f"(raw * {scale}) div greatest(max(raw) over (), 1)")
            .cast("bigint")
            .alias(score),
        )

    vec = hosts.select(
        "host",
        F.lit(0).cast("bigint").alias("auth"),
        F.lit(scale).cast("bigint").alias("hub"),
    )
    return _iterate(
        vec,
        iterations,
        lambda v: _half(v, "auth", "hub", "src", "dst"),
        lambda v: _half(v, "hub", "auth", "dst", "src"),
        release=(edges,),
    )


def host_triangles(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Per-host triangle counts over the undirected host link graph —
    the clustering/community signal PageRank and HITS don't see (a
    link farm has high rank but near-zero triangle closure; organic
    topic clusters are triangle-dense).

    Algorithm: DEGREE-ORDERED wedge counting (the MapReduce-triangles
    construction of Suri & Vassilvitskii, WWW'11).  Every edge is
    oriented from its lower-(degree, host)-rank endpoint to the
    higher; each triangle then has exactly one vertex with two
    out-edges (its minimum-rank vertex), so enumerating wedges from
    out-edge pairs and semi-joining the closing edge counts each
    triangle once — and the wedge count is bounded by sum(out-deg²)
    under degree orientation, O(m^1.5) worst case instead of the
    hub-degree² blowup a lexicographic orientation suffers on a
    power-law web graph (a 10⁶-degree hub would otherwise emit 10¹²
    wedges from one node).

    All joins are on the host-level relations (edges/degrees —
    O(host-graph), tiny next to the pages table); the degree dim
    broadcasts.  Output ``(host, n_triangles)`` for hosts in ≥1
    triangle.
    """
    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    return triangles_from_edges(e)


def triangles_from_edges(e: DataFrame) -> DataFrame:
    """Degree-ordered triangle counting over an undirected edge
    relation ``(src, dst)`` — the core of :func:`host_triangles`,
    exposed so tests and other graphs (near-dup pair graphs, entity
    co-occurrence) can drive it directly."""
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionAll(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("host").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("host").alias("b"), F.col("d").alias("db"))
    j = und.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
    )
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.t") < F.col("o2.t")),
    ).select(
        F.col("o1.s").alias("v1"),
        F.col("o1.t").alias("v2"),
        F.col("o2.t").alias("v3"),
    )
    closing = und.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    tri = wedges.join(
        closing,
        (F.least("v2", "v3") == F.col("ca"))
        & (F.greatest("v2", "v3") == F.col("cb")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def cocitation_jaccard(
    pages: DataFrame,
    max_links_per_page: int = 100,
    max_out: int = 20,
    min_inter: int = 2,
) -> DataFrame:
    """Host co-citation similarity: Jaccard of in-link source sets —
    two hosts are related when the same sources link both (Small 1973's
    co-citation, the SimRank-0 kernel); complements triangles (local
    clustering) and rank (global authority) as the third classic graph
    signal.

    Skew discipline: a directory host linking D others emits D² pairs
    from one source row, so sources with out-degree > ``max_out`` are
    DROPPED before pairing — the max_df stopword rule transplanted to
    graphs (a link-to-everything hub carries no similarity signal, just
    like 'the' carries no topical signal).  In-degrees are computed
    over the SAME filtered edge set so the Jaccard denominator is
    consistent.  Pair shuffle is keyed on the shared source; the
    per-pair rollup is the standard (a, b) aggregate.  Output
    ``(host_a, host_b, inter, da, db, jaccard)`` for pairs co-cited ≥
    ``min_inter`` times."""
    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    keep = e.groupBy("src").agg(F.count(F.lit(1)).alias("outd")).where(
        F.col("outd") <= max_out
    )
    e2 = e.join(F.broadcast(keep.select("src")), "src")
    deg = e2.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = e2.select("src", F.col("dst").alias("ha"))
    b = e2.select("src", F.col("dst").alias("hb"))
    pairs = (
        a.join(b, "src")
        .where(F.col("ha") < F.col("hb"))
        .groupBy("ha", "hb")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
        .where(F.col("inter") >= min_inter)
    )
    da = deg.select(F.col("dst").alias("ha"), F.col("d").alias("da"))
    db = deg.select(F.col("dst").alias("hb"), F.col("d").alias("db"))
    j = pairs.join(F.broadcast(da), "ha").join(F.broadcast(db), "hb")
    jac = F.col("inter").cast("double") / (
        F.col("da") + F.col("db") - F.col("inter")
    )
    from newscrawler_spark.functions.rounding import pinned_round

    return j.select(
        F.col("ha").alias("host_a"),
        F.col("hb").alias("host_b"),
        "inter",
        "da",
        "db",
        pinned_round(jac, 4).alias("jaccard"),
    )


def degree_assortativity(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """IN-degree assortativity of the directed host graph (Newman
    2002): the Pearson correlation of endpoint in-degrees over directed
    edges — positive = popular hosts link popular hosts, negative =
    hubs link leaves (the web's signature).  One summary row.
    (In-degree, not total degree: a near-complete host graph is
    degree-REGULAR — total-degree variance 0, correlation undefined —
    while in-degrees always vary with link placement.)

    Exactness contract: every moment (Σx, Σy, Σxy, Σx², Σy², n) is an
    exact BIGINT over the edge list; only the final
    r = (nΣxy − ΣxΣy) / sqrt((nΣx²−(Σx)²)(nΣy²−(Σy)²)) runs in floats
    — two IEEE sqrt (correctly rounded by spec) and one division, the
    identical tree in the DuckDB twin, pinned to 4dp; zero variance on
    either margin yields NULL (regular graph), never a crash.  Cost:
    the in-degree dim broadcast onto the edge list, one 1-row
    aggregate."""
    from newscrawler_spark.functions.rounding import pinned_round

    e = host_link_edges(pages, max_links_per_page).select("src", "dst")
    ind = e.groupBy(F.col("dst").alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    dx = ind.select(F.col("host").alias("src"), F.col("d").alias("x"))
    dy = ind.select(F.col("host").alias("dst"), F.col("d").alias("y"))
    j = (
        e.join(F.broadcast(dx), "src", "left")
        .join(F.broadcast(dy), "dst", "left")
        .select(
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return s.select(
        "n", "sx", "sxy", pinned_round(r, 4).alias("assortativity")
    )


def page_link_edges(pages: DataFrame, max_links_per_page: int = 100) -> DataFrame:
    """Page-level undirected link edges from the raw pages table:
    distinct (a, b) pairs via the frozen extraction contract (same cap
    and canonicalization as host_link_edges), both endpoints existing
    pages, self-loops dropped, symmetrized.

    Scale shape: one mapInPandas extraction pass, one distinct over the
    (page, link) pairs, one semi-join against the page-URL universe —
    the universe side is corpus-sized so the semi-join SHUFFLES on the
    url key (never broadcast; at 10^10 pages a broadcast would be the
    bug), which is the same single equi-shuffle family the frontier's
    seen anti-join uses."""
    links = (
        _links(pages).select(
            F.col("url").alias("a"),
            F.explode(F.slice("out_links", 1, max_links_per_page)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    urls = pages.select(F.col("url").alias("u")).distinct()
    e = links.join(urls, links["b"] == urls["u"], "left_semi")
    return (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )


def host_label_propagation(
    pages: DataFrame,
    iterations: int = 4,
    max_links_per_page: int = 100,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007) over the undirected weighted host graph — community
    detection for corpus curation (topical host clusters; the
    source-grouping signal the reference keys by hand-assigned
    category, src/database/models.py:38-58).

    LPA's classic nondeterminism (random vertex order, random
    tie-breaks) is replaced by an explicit frozen rule so the DuckDB
    oracle replays it decision-for-decision: synchronous rounds; each
    host's candidate votes = Σ edge-weight per neighbor label PLUS one
    self-vote for its current label (the damping that prevents the
    bipartite oscillation of pure synchronous LPA); new label = argmax
    votes, ties by lexicographic min label.  Isolated hosts keep their
    own label via the self-vote.  Fixed ``iterations`` unroll, same
    discipline as PageRank/HITS (the oracle replays the same unroll,
    so engines agree even before convergence).

    Scale: the extraction pass runs once, into the checkpointed
    undirected host-edge table; :func:`_iterate` checkpoints the
    |hosts|-row label vector after every round.  A round broadcasts the
    label vector into the edges and has one exchange: the votes are
    repartitioned on host, so the (host, label) vote sum and the
    per-host pick window both run inside it — O(host-graph), never
    O(pages).

    Returns (host, community, community_size)."""
    from pyspark.sql import Window

    edges = host_link_edges(pages, max_links_per_page)
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), "w")
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b"), "w"))
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .localCheckpoint(eager=True)
    )
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    pick = Window.partitionBy("host").orderBy(F.desc("votes"), F.asc("label"))

    def _round(labels: DataFrame) -> DataFrame:
        nb = und.join(
            F.broadcast(labels.withColumnRenamed("host", "b")), "b"
        ).select(F.col("a").alias("host"), "label", F.col("w").alias("votes"))
        self_votes = labels.select(
            "host", "label", F.lit(1).cast("bigint").alias("votes")
        )
        agg = (
            nb.unionByName(self_votes)
            .repartition("host")
            .groupBy("host", "label")
            .agg(F.sum("votes").cast("bigint").alias("votes"))
        )
        return (
            agg.withColumn("_rk", F.row_number().over(pick))
            .filter(F.col("_rk") == 1)
            .select("host", "label")
        )

    labels = _iterate(
        hosts.select("host", F.col("host").alias("label")),
        iterations,
        _round,
        release=(und,),
    )
    size_w = Window.partitionBy("community")
    return labels.select("host", F.col("label").alias("community")).withColumn(
        "community_size", F.count(F.lit(1)).over(size_w).cast("long")
    )


def host_seed_depth(
    pages: DataFrame,
    seeds: DataFrame,
    hops: int = 4,
    max_links_per_page: int = 100,
) -> DataFrame:
    """Shortest directed link-distance from the SEED hosts, capped at
    ``hops`` — the link-graph complement of the crawl's round-depth
    report (crawl_depth_report measures when the crawler REACHED a
    page; this measures how far a host sits from the seed set in the
    web's own topology, the canonical frontier-reachability signal for
    seed-list curation: a host deep in the BFS is under-served by the
    current seeds).

    Unrolled synchronous Bellman-Ford relaxation: d_0 = 0 on seed
    hosts (ALL seed rows, active or not — a deliberately broader
    universe than the crawl's active filter, spelled identically in
    the oracle), d_k(v) = min(d_{k-1}(v), 1 + min over in-neighbors).
    The cap is part of the SEMANTICS (reachability within ``hops``),
    so unlike k-core there is no convergence to witness — hosts beyond
    the cap are absent by definition.

    Scale: the extraction pass runs once, into the checkpointed
    host-edge table; :func:`_iterate` checkpoints the distance vector
    after every hop.  A hop broadcasts the |reached-hosts|-row vector
    into the edges and has one exchange, the groupBy(host) min —
    O(host-graph) per hop, pages scanned once.

    Returns (host, depth) for hosts reached within ``hops``."""
    edges = host_link_edges(pages, max_links_per_page).localCheckpoint(eager=True)
    hosts = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()

    def _hop(dist: DataFrame) -> DataFrame:
        stepped = edges.join(
            F.broadcast(dist.withColumnRenamed("host", "src")), "src"
        ).select(F.col("dst").alias("host"), (F.col("depth") + 1).alias("depth"))
        return (
            dist.unionByName(stepped)
            .groupBy("host")
            .agg(F.min("depth").cast("long").alias("depth"))
        )

    dist = (
        seeds.select(F.col("domain").alias("host"))
        .distinct()
        .join(hosts, "host", "left_semi")
        .select("host", F.lit(0).cast("long").alias("depth"))
    )
    return _iterate(dist, hops, _hop, release=(edges,))


def kcore_from_edges(
    und: DataFrame,
    k: int = 4,
    iterations: int = 6,
    verify_convergence: bool = True,
) -> DataFrame:
    """k-core peel over a symmetrized distinct (a, b) edge set — the
    unrolled loop shared by :func:`page_kcore` and the synthetic-graph
    tests.  See page_kcore for semantics and scale shape.

    ``verify_convergence`` runs ONE extra peel after the unroll and
    compares the two core sizes (two bounded scalar counts over
    localCheckpointed vertex sets — no row-scaled driver state).
    Peeling depth grows with graph structure: a fixed unroll that was
    fixpoint-deep on the test corpus can silently return a SUPERSET of
    the true core at 100× (under-peeling admits link-farm chains), so
    non-convergence raises loudly instead of shipping a wrong cut."""
    und = und.localCheckpoint(eager=True)

    def _peel(cur: DataFrame) -> DataFrame:
        return (
            und.join(cur.select(F.col("v").alias("ca")), und["a"] == F.col("ca"))
            .join(cur.select(F.col("v").alias("cb")), und["b"] == F.col("cb"))
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))  # und is distinct pairs
            .where(F.col("deg") >= k)
            .select(F.col("a").alias("v"))
        )

    core = _iterate(und.select(F.col("a").alias("v")).distinct(), iterations, _peel)
    if verify_convergence:
        n_before = core.count()
        if n_before > 0:
            delta = n_before - _peel(core).count()
            if delta != 0:
                raise RuntimeError(
                    f"k-core peel not converged after {iterations} unrolled "
                    f"rounds (one more peel removed {delta} of {n_before} "
                    f"vertices) — raise `iterations` for this graph"
                )
    return (
        und.join(core.select(F.col("v").alias("ca")), und["a"] == F.col("ca"))
        .join(core.select(F.col("v").alias("cb")), und["b"] == F.col("cb"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("a").alias("url"), "core_degree")
        .orderBy("url")
    )


def page_kcore(
    pages: DataFrame,
    k: int = 4,
    iterations: int = 6,
    max_links_per_page: int = 100,
    verify_convergence: bool = True,
) -> DataFrame:
    """k-core decomposition of the page link graph (Seidman 1983) —
    the graph-curation cut that keeps pages embedded in a densely
    interlinked neighborhood (link-farm/orphan filtering: a page whose
    neighborhood collapses under peeling carries little endorsement).

    ``iterations`` UNROLLED peel rounds: drop vertices with fewer than
    ``k`` surviving neighbors, repeat.  Peeling is monotone, so round
    i+1's core ⊆ round i's; on bounded-cascade graphs a small fixed
    unroll reaches the fixpoint, and ``verify_convergence`` (default
    on) PROVES it per run with one extra peel + scalar compare,
    raising loudly on under-peel instead of returning a superset core
    (see kcore_from_edges).  The DuckDB oracle replays the SAME fixed
    unroll, so the two engines agree by construction even before the
    fixpoint.  Each round is one join-filter-aggregate over the
    materialized undirected edge set — localCheckpoint per round keeps
    lineage linear (the connected_components pattern); shuffle cost is
    rounds × one edge-keyed exchange, never vertex-quadratic.

    Returns (url, core_degree) for core members — degree counted
    within the final core."""
    return kcore_from_edges(
        page_link_edges(pages, max_links_per_page),
        k=k,
        iterations=iterations,
        verify_convergence=verify_convergence,
    )
