"""Connected components over near-dup pair graphs (operators/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from newscrawler_spark.operators.graph import connected_components


def _cc(spark, pairs, nodes=None):
    edges = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in pairs], "doc_a long, doc_b long"
    )
    n = None
    if nodes is not None:
        n = spark.createDataFrame([Row(id=i) for i in nodes], "id long")
    out = connected_components(edges, nodes=n)
    return {r["id"]: r["comp"] for r in out.collect()}


def test_cc_chain_transitivity(spark):
    # 0-1, 1-2, 2-3: a pure chain — (0,3) never appears as a pair
    assert _cc(spark, [(0, 1), (1, 2), (2, 3)]) == {0: 0, 1: 0, 2: 0, 3: 0}


def test_cc_two_components_and_isolated(spark):
    got = _cc(spark, [(1, 2), (5, 6), (6, 7)], nodes=[1, 2, 3, 5, 6, 7])
    assert got == {1: 1, 2: 1, 3: 3, 5: 5, 6: 5, 7: 5}


def test_cc_long_path_converges_in_log_rounds(spark):
    # a 33-node path stresses pointer jumping: plain propagation needs
    # 32 rounds, jumping needs ~log2(32)+2 — max_iter=8 must suffice
    pairs = [(i, i + 1) for i in range(32)]
    got = _cc_with_cap(spark, pairs, 8)
    assert set(got.values()) == {0}


def _cc_with_cap(spark, pairs, cap):
    edges = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in pairs], "doc_a long, doc_b long"
    )
    out = connected_components(edges, max_iter=cap)
    return {r["id"]: r["comp"] for r in out.collect()}


def test_cc_raises_without_fixpoint_budget(spark):
    pairs = [(i, i + 1) for i in range(32)]
    with pytest.raises(RuntimeError):
        _cc_with_cap(spark, pairs, 2)


# --- host PageRank (operators/graph.host_pagerank) ----------------------


def _pure_python_pagerank(pages_path, iterations=3, damping_pct=85, scale=1_000_000):
    """Independent third implementation: extract edges with the frozen
    Python extractor, run the scaled-integer recurrence in plain dicts."""
    import pyarrow.parquet as pq

    from newscrawler_spark.functions.extract import extract_page

    tbl = pq.read_table(pages_path)

    def host(u):
        import re

        m = re.match(r"^[a-z]+://([^/?#]*)", u)
        return m.group(1) if m else ""

    hosts = set()
    edges: dict[tuple[str, str], int] = {}
    for url, html in zip(tbl["url"].to_pylist(), tbl["html"].to_pylist()):
        hosts.add(host(url))
    for url, html in zip(tbl["url"].to_pylist(), tbl["html"].to_pylist()):
        src = host(url)
        for link in extract_page(html, url)["out_links"][:100]:
            dst = host(link)
            if dst != src and dst in hosts:
                edges[(src, dst)] = edges.get((src, dst), 0) + 1
    out: dict[str, int] = {}
    for (s, _), w in edges.items():
        out[s] = out.get(s, 0) + w
    teleport = scale - (scale * damping_pct) // 100
    r = {h: scale for h in hosts}
    for _ in range(iterations):
        acc = {h: 0 for h in hosts}
        for (s, d), w in edges.items():
            acc[d] += (r[s] * w) // out[s]
        r = {h: teleport + (damping_pct * acc[h]) // 100 for h in hosts}
    return r


def test_host_pagerank_matches_pure_python(spark, tmp_path):
    from newscrawler_spark.operators.graph import host_pagerank
    from newscrawler_spark.sources.corpus import generate_corpus

    p = generate_corpus(str(tmp_path / "corpus"), n_pages=300, n_hosts=6, seed=11)
    got = {
        r["host"]: r["rank"]
        for r in host_pagerank(spark.read.parquet(p["pages"])).collect()
    }
    want = _pure_python_pagerank(p["pages"])
    assert got == want
    # teleport mass keeps every host strictly positive, and the hot host
    # (≥30% of pages → most in-links) must outrank the median host
    ranks = sorted(got.values())
    assert ranks[0] >= 150_000
    assert max(got.values()) > ranks[len(ranks) // 2]


def test_host_pagerank_hand_graph(spark):
    # 2 hosts: a -> b only (1 edge); b has no out-links.
    # r0 = 1e6 both.  it1: b gets (1e6*1)//1 = 1e6 -> r(b) = 150000 +
    # 85*1e6//100 = 1_000_000; a gets teleport only = 150_000.
    # it2: b gets (150000*1)//1 -> 150000 + 127500 = 277_500; a 150_000.
    # it3: b = 150000 + 85*150000//100 = 277_500 (a's rank unchanged).
    from pyspark.sql import Row

    from newscrawler_spark.operators.graph import host_pagerank

    pages = spark.createDataFrame(
        [
            Row(
                url="https://a.example/world/art-000000.html",
                html=b'<html><body><a href="https://b.example/world/x.html">x</a></body></html>',
            ),
            Row(url="https://b.example/world/x.html", html=b"<html><body>end</body></html>"),
        ],
        "url string, html binary",
    )
    got = {r["host"]: r["rank"] for r in host_pagerank(pages).collect()}
    assert got == {"a.example": 150_000, "b.example": 277_500}


def test_anchor_text_matches_python_spec(spark):
    """Hand-built pages: the regex zip, host resolution rule,
    whitespace collapse, and top-k tiebreaks against a pure-Python re
    implementation."""
    import re
    from collections import Counter

    from newscrawler_spark.operators.graph import ANCHOR_PATTERN, anchor_text_stats

    pages = [
        ("https://a.com/p1",
         '<a href="https://b.com/x">Go  to\tB</a> <a href="/local">home</a>'
         '<a href="https://b.com/y">Go  to B</a><a href="#f">skip?no:kept</a>'),
        ("https://b.com/p2",
         "<A HREF='https://a.com/z'>back</A><a href=\"rel.html\"></a>"),
    ]
    spec: Counter = Counter()
    rx = re.compile(ANCHOR_PATTERN)
    for url, h in pages:
        src = re.match(r"^[a-z]+://([^/?#]*)", url).group(1)
        for link, t in rx.findall(h):
            a = re.sub(r"[ \t\n\r\f\x0b]+", " ", t).strip()
            dst = (
                re.match(r"^[a-z]+://([^/?#]*)", link).group(1)
                if re.match(r"^https?://", link)
                else src
            )
            if a and dst:
                spec[(dst, a)] += 1
    df = spark.createDataFrame(
        [(u, h.encode()) for u, h in pages], "url string, html binary"
    )
    got = anchor_text_stats(df, top_k=5).collect()
    assert {(r["dst"], r["anchor"]): r["cnt"] for r in got} == dict(spec)
    # rank = (count desc, anchor) within each dst
    for dst in {r["dst"] for r in got}:
        rows = sorted(
            (r for r in got if r["dst"] == dst), key=lambda r: r["rnk"]
        )
        keys = [(-r["cnt"], r["anchor"]) for r in rows]
        assert keys == sorted(keys)


# --- host HITS (operators/graph.host_hits) ------------------------------


def _pure_python_hits(pages_path, iterations=3, scale=1_000_000):
    """Independent third implementation of the scaled-integer HITS
    recurrence (frozen Python extractor, plain dicts)."""
    import re

    import pyarrow.parquet as pq

    from newscrawler_spark.functions.extract import extract_page

    tbl = pq.read_table(pages_path)

    def host(u):
        m = re.match(r"^[a-z]+://([^/?#]*)", u)
        return m.group(1) if m else ""

    hosts = {host(u) for u in tbl["url"].to_pylist()}
    edges: dict[tuple[str, str], int] = {}
    for url, html in zip(tbl["url"].to_pylist(), tbl["html"].to_pylist()):
        src = host(url)
        for link in extract_page(html, url)["out_links"][:100]:
            dst = host(link)
            if dst != src and dst in hosts:
                edges[(src, dst)] = edges.get((src, dst), 0) + 1
    hub = {h: scale for h in hosts}
    for _ in range(iterations):
        ar = {h: 0 for h in hosts}
        for (s, d), w in edges.items():
            ar[d] += hub[s] * w
        mx = max(max(ar.values(), default=0), 1)
        auth = {h: (v * scale) // mx for h, v in ar.items()}
        hr = {h: 0 for h in hosts}
        for (s, d), w in edges.items():
            hr[s] += auth[d] * w
        mx = max(max(hr.values(), default=0), 1)
        hub = {h: (v * scale) // mx for h, v in hr.items()}
    return {h: (auth[h], hub[h]) for h in hosts}


def test_host_hits_matches_pure_python(spark, tmp_path):
    from newscrawler_spark.operators.graph import host_hits
    from newscrawler_spark.sources.corpus import generate_corpus

    p = generate_corpus(str(tmp_path / "corpus"), n_pages=300, n_hosts=6, seed=13)
    got = {
        r["host"]: (r["auth"], r["hub"])
        for r in host_hits(spark.read.parquet(p["pages"])).collect()
    }
    assert got == _pure_python_hits(p["pages"])
    # the per-step max-normalization pins the best authority and best
    # hub at exactly `scale`, everything else in [0, scale]
    assert max(a for a, _ in got.values()) == 1_000_000
    assert max(h for _, h in got.values()) == 1_000_000
    assert all(0 <= a <= 1_000_000 and 0 <= h <= 1_000_000 for a, h in got.values())


def test_host_hits_hand_graph(spark):
    # a -> b, c -> b: b is the sole authority (auth=scale, hub=0);
    # a and c are equal hubs (hub=scale); b links nowhere.
    from pyspark.sql import Row

    from newscrawler_spark.operators.graph import host_hits

    def pg(u, target=None):
        body = f'<a href="{target}">x</a>' if target else "end"
        return Row(url=u, html=f"<html><body>{body}</body></html>".encode())

    pages = spark.createDataFrame(
        [
            pg("https://a.example/p.html", "https://b.example/q.html"),
            pg("https://c.example/p.html", "https://b.example/q.html"),
            pg("https://b.example/q.html"),
        ],
        "url string, html binary",
    )
    got = {r["host"]: (r["auth"], r["hub"]) for r in host_hits(pages).collect()}
    assert got == {
        "a.example": (0, 1_000_000),
        "c.example": (0, 1_000_000),
        "b.example": (1_000_000, 0),
    }


def test_host_triangles_matches_pure_python(spark, tmp_path):
    """Engine triangles == brute-force itertools over the engine's own
    edge relation (independent closure logic), and a hand graph with a
    known count checks attribution."""
    import itertools

    from newscrawler_spark.operators.graph import (
        host_link_edges,
        host_triangles,
    )
    from newscrawler_spark.sources.corpus import generate_corpus

    p = generate_corpus(str(tmp_path / "corpus"), n_pages=300, n_hosts=6, seed=17)
    pages = spark.read.parquet(p["pages"])
    got = {r["host"]: r["n_triangles"] for r in host_triangles(pages).collect()}

    und = {
        tuple(sorted((r["src"], r["dst"])))
        for r in host_link_edges(pages).collect()
        if r["src"] != r["dst"]
    }
    nodes = sorted({n for e in und for n in e})
    want: dict = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if ((a, b) in und and (b, c) in und and (a, c) in und):
            for h in (a, b, c):
                want[h] = want.get(h, 0) + 1
    assert got == want
    assert sum(got.values()) % 3 == 0 and got  # every triangle hits 3 hosts


def test_host_triangles_hand_graph_shapes(spark):
    """K4 minus one edge = 2 triangles sharing an edge; the two shared
    hosts count 2 each, the endpoints 1 each."""
    from newscrawler_spark.operators.graph import triangles_from_edges

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")],
        "src string, dst string",
    )
    got = {
        r["host"]: r["n_triangles"]
        for r in triangles_from_edges(edges).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1}


def test_cocitation_jaccard_matches_pure_python(spark, tmp_path):
    """Engine co-citation == pure-Python sets over the engine's own
    edge relation, including the max_out hub drop and the filtered
    in-degree denominator."""
    from newscrawler_spark.operators.graph import (
        cocitation_jaccard,
        host_link_edges,
    )
    from newscrawler_spark.sources.corpus import generate_corpus

    p = generate_corpus(str(tmp_path / "corpus"), n_pages=300, n_hosts=6, seed=19)
    pages = spark.read.parquet(p["pages"])
    max_out, min_inter = 3, 1
    got = {
        (r["host_a"], r["host_b"]): (r["inter"], r["da"], r["db"], r["jaccard"])
        for r in cocitation_jaccard(
            pages, max_out=max_out, min_inter=min_inter
        ).collect()
    }

    edges = [(r["src"], r["dst"]) for r in host_link_edges(pages).collect()]
    out: dict = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    kept = {s: ds for s, ds in out.items() if len(ds) <= max_out}
    in_links: dict = {}
    for s, ds in kept.items():
        for d in ds:
            in_links.setdefault(d, set()).add(s)
    want = {}
    hosts = sorted(in_links)
    for i, a in enumerate(hosts):
        for b in hosts[i + 1 :]:
            inter = len(in_links[a] & in_links[b])
            if inter >= min_inter:
                un = len(in_links[a]) + len(in_links[b]) - inter
                import math

                jac = math.floor((inter / un) * 10000.0 + 0.5) / 10000.0
                want[(a, b)] = (inter, len(in_links[a]), len(in_links[b]), jac)
    assert got == want


def test_reciprocity_matches_pure_python(spark, tmp_path):
    """Engine reciprocity == pure-Python sets over the engine's own
    edge relation."""
    from newscrawler_spark.operators.graph import host_link_edges
    import __spark_entry__ as m
    import math

    # use the gate store's pages via the entry query itself at sf0.001
    got = {
        r["host"]: (r["out_deg"], r["n_recip"], r["reciprocity"])
        for r in m.q_graph_reciprocity(spark, "/root/testdata/sf0.001").collect()
    }
    store, paths = m._crawl_store(spark, "/root/testdata/sf0.001")
    edges = {
        (r["src"], r["dst"])
        for r in host_link_edges(
            spark.read.parquet(paths["pages"])
        ).collect()
    }
    outd: dict = {}
    rec: dict = {}
    for s, d in edges:
        outd[s] = outd.get(s, 0) + 1
        if (d, s) in edges:
            rec[s] = rec.get(s, 0) + 1
    want = {
        s: (
            outd[s],
            rec.get(s, 0),
            math.floor((rec.get(s, 0) / outd[s]) * 10000.0 + 0.5) / 10000.0,
        )
        for s in outd
    }
    assert got == want


def test_assortativity_matches_pure_python(spark, tmp_path):
    """Engine moments + correlation equal the pure-Python Pearson over
    the engine's own directed edges with in-degree margins."""
    import math

    import __spark_entry__ as m
    from newscrawler_spark.operators.graph import host_link_edges

    row = m.q_graph_assortativity(spark, "/root/testdata/sf0.001").collect()[0]
    store, paths = m._crawl_store(spark, "/root/testdata/sf0.001")
    edges = [
        (r["src"], r["dst"])
        for r in host_link_edges(spark.read.parquet(paths["pages"])).collect()
    ]
    ind: dict = {}
    for _, d in edges:
        ind[d] = ind.get(d, 0) + 1
    xs = [ind.get(s, 0) for s, _ in edges]
    ys = [ind.get(d, 0) for _, d in edges]
    n = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    assert (row["n"], row["sx"], row["sxy"]) == (n, sx, sxy)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    want = (
        math.floor(
            ((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))) * 10000.0
            + 0.5
        )
        / 10000.0
        if vx > 0 and vy > 0
        else None
    )
    assert row["assortativity"] == want


def test_page_kcore_fixpoint_and_semantics(spark, tmp_path):
    """The fixed 6-round unroll must reach the peel fixpoint on the
    corpus family (6 vs 8 rounds identical), every member must hold
    ≥k neighbors inside the core, and some vertex must actually be
    peeled (nonvacuity)."""
    from newscrawler_spark.operators.graph import page_kcore, page_link_edges
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=300, n_hosts=6, seed=42)
    pages = spark.read.parquet(paths["pages"])
    c6 = {(r["url"], r["core_degree"]) for r in page_kcore(pages, k=4, iterations=6).collect()}
    c8 = {(r["url"], r["core_degree"]) for r in page_kcore(pages, k=4, iterations=8).collect()}
    assert c6 == c8, "6 peel rounds did not reach the fixpoint"
    assert all(d >= 4 for _, d in c6)
    n_nodes = (
        page_link_edges(pages).select("a").distinct().count()
    )
    assert 0 < len(c6) < n_nodes, (len(c6), n_nodes)


def test_kcore_convergence_witness_deep_cascade(spark):
    """A path graph peels one layer per round at k=2 (depth grows with
    the graph — the 100× hazard): a too-short unroll must raise the
    convergence error instead of silently returning a superset core; a
    deep-enough unroll converges (to the empty core) without error."""
    import pytest as _pytest

    from newscrawler_spark.operators.graph import kcore_from_edges

    n = 20
    chain = [(f"v{i}", f"v{i+1}") for i in range(n - 1)]
    und = spark.createDataFrame(
        chain + [(b, a) for a, b in chain], "a string, b string"
    )
    with _pytest.raises(RuntimeError, match="not converged"):
        kcore_from_edges(und, k=2, iterations=3).collect()
    assert kcore_from_edges(und, k=2, iterations=12).count() == 0
    # a convergent graph passes the witness and keeps its core: a clique
    k4 = [(f"c{i}", f"c{j}") for i in range(4) for j in range(4) if i != j]
    core = kcore_from_edges(
        spark.createDataFrame(k4, "a string, b string"), k=3, iterations=2
    ).collect()
    assert {(r["url"], r["core_degree"]) for r in core} == {
        (f"c{i}", 3) for i in range(4)
    }


def test_lpa_matches_pure_python_and_clusters(spark, tmp_path):
    """host_label_propagation vs an independent pure-Python replay of
    the frozen rule (edge-weight votes + self-vote, argmax then lex-min,
    synchronous rounds) over the SAME extracted edge set — and sanity:
    communities partition the host universe, sizes are consistent."""
    from collections import defaultdict

    from newscrawler_spark.operators.graph import (
        host_label_propagation,
        host_link_edges,
    )
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=400, n_hosts=10, seed=3)
    pages = spark.read.parquet(paths["pages"])
    got = {
        r["host"]: (r["community"], r["community_size"])
        for r in host_label_propagation(pages, iterations=4).collect()
    }

    edges = host_link_edges(pages).collect()
    und = defaultdict(int)
    hosts = {
        r["host"]
        for r in pages.selectExpr(
            "regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS host"
        ).distinct().collect()
    }
    for r in edges:
        und[(r["src"], r["dst"])] += r["w"]
        und[(r["dst"], r["src"])] += r["w"]
    labels = {h: h for h in hosts}
    for _ in range(4):
        votes = {h: defaultdict(int) for h in hosts}
        for (a, b), w in und.items():
            votes[a][labels[b]] += w
        for h in hosts:
            votes[h][labels[h]] += 1
        labels = {
            h: min(
                (lab for lab, v in votes[h].items()
                 if v == max(votes[h].values()))
            )
            for h in hosts
        }
    sizes = defaultdict(int)
    for lab in labels.values():
        sizes[lab] += 1
    want = {h: (labels[h], sizes[labels[h]]) for h in hosts}
    assert got == want
    assert sum(s for _, s in set(got.values())) == len(hosts)


def test_seed_depth_matches_pure_python_bfs(spark, tmp_path):
    """host_seed_depth vs an independent pure-Python capped BFS over
    the SAME extracted edge set and seed universe (all seed rows);
    sanity: seeds at depth 0, depths ≤ cap, monotone reachability."""
    import pyarrow.parquet as pq

    from newscrawler_spark.operators.graph import host_link_edges, host_seed_depth
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=400, n_hosts=10, seed=5)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    got = {
        r["host"]: r["depth"]
        for r in host_seed_depth(pages, seeds, hops=4).collect()
    }

    hosts = {
        r["host"]
        for r in pages.selectExpr(
            "regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS host"
        ).distinct().collect()
    }
    adj: dict = {}
    for r in host_link_edges(pages).collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    dist = {
        s["domain"]: 0
        for s in pq.read_table(paths["seeds"]).to_pylist()
        if s["domain"] in hosts
    }
    for _ in range(4):
        nxt = dict(dist)
        for u, d in dist.items():
            for v in adj.get(u, ()):
                if d + 1 < nxt.get(v, 10**9):
                    nxt[v] = d + 1
        dist = nxt
    assert got == dist
    assert all(d == 0 for h, d in got.items() if h in dist and dist[h] == 0)
    assert all(0 <= d <= 4 for d in got.values())


def test_host_graph_iterations_cut_lineage_and_release_caches(spark, tmp_path):
    """PageRank, HITS, label propagation and seed depth leave nothing in
    the session's cache and at most their result's checkpoint among the
    persisted RDDs, and each round is cut: LPA's optimized plan is the
    same size at 2 and at 8 rounds."""
    from newscrawler_spark.operators.graph import (
        host_hits,
        host_label_propagation,
        host_pagerank,
        host_seed_depth,
    )
    from newscrawler_spark.sources.corpus import generate_corpus

    paths = generate_corpus(str(tmp_path / "c"), n_pages=200, n_hosts=6, seed=9)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for op in (
        lambda: host_pagerank(pages),
        lambda: host_hits(pages),
        lambda: host_label_propagation(pages, iterations=4),
        lambda: host_seed_depth(pages, seeds, hops=4),
    ):
        before = jsc.getPersistentRDDs().size()
        assert op().collect()
        assert jsc.getPersistentRDDs().size() <= before + 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def plan_nodes(iterations):
        df = host_label_propagation(pages, iterations=iterations)
        return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())

    assert plan_nodes(2) == plan_nodes(8)


def test_iterate_releases_every_cut_when_a_step_fails(spark):
    """A failing round leaves none of the iteration's checkpoints — the
    rounds before it nor the inputs it was handed — among the persisted
    RDDs."""
    from newscrawler_spark.operators.graph import _iterate

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    edges = spark.range(10).selectExpr("id AS src", "id + 1 AS dst").localCheckpoint(eager=True)
    calls = []

    def step(state):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected")
        return state.join(edges, state["v"] == edges["src"]).selectExpr("dst AS v")

    with pytest.raises(RuntimeError, match="injected"):
        _iterate(spark.range(3).selectExpr("id AS v"), 5, step, release=(edges,))
    assert len(calls) == 3
    assert jsc.getPersistentRDDs().size() <= before
