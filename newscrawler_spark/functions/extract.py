"""Frozen HTML extraction contract — the byte-identical invariant.

The reference extracts with newspaper4k (``src/scrapers/newspaper_scraper/
scraper.py:92-147``) and then collapses whitespace:
``" ".join(content.split())`` (``scraper.py:229-247``; contract fixture at
``tests/scrapers/newspaper_scraper/test_scraper.py:113-119``).  The rebuild
freezes a pure function of the raw html **bytes** — no parser-library or
locale dependence — shared verbatim by:

  * the synthetic corpus generator (ground-truth ``pages.text``),
  * the pure-Python crawl oracle, and
  * the crawler's Arrow-batched kernel (``extract_batch``).

so "byte-identical extracted text per url" is testable and meaningful.
The link-graph operators (operators/graph.py) need only step 5: their
``mapInPandas`` body ``links_map_in_pandas`` runs steps 1, 2 and 5
through the same ``_out_links`` helper ``extract_page`` calls, so their
edges equal the crawler's out-links by construction.

Extraction spec (frozen):
  1. decode UTF-8 (errors="replace")
  2. drop <script>/<style>/<nav>/<header>/<footer>/<aside> subtrees
     (boilerplate stripping)
  3. title   = contents of the first <title> tag, whitespace-collapsed
  4. text    = all text inside <p> tags after tag-stripping and HTML
               entity unescape, joined by a single space, then
               whitespace-collapsed (the reference F1 contract)
  5. links   = every href attribute of <a> tags, resolved against the
               page URL, in document order (deduped, order-preserving)
  6. authors = content of <meta name="author"> tags (document order)
  7. published = content of <meta property="article:published_time">
  8. images  = every src attribute of <img> tags, resolved like links,
               deduped order-preserving (the reference's ArticleImage
               list: newspaper_scraper/scraper.py:190-226 keeps
               top_image first and drops duplicates of it)

JS-heavy variant (``js_render=True``, the batch analog of the
reference's Puppeteer strategy, ``src/scrapers/puppeteer_scraper/
puppeteer_scraper.py:45-56``: pages routed to that scraper are
browser-rendered before extraction — impossible in this sandbox, so
the frozen stand-in models WHAT rendering recovers, not how): SPA-style
pages carry their article content in ``<script type="application/
ld+json">`` blocks whose ``articleBody`` the DOM would render; the
variant appends those bodies (document order, read from the RAW html —
the base boilerplate strip removes all <script> subtrees) to the <p>
text before the whitespace collapse.  Everything else (title, links,
authors, images) is identical, so the frontier semantics do not depend
on the strategy — only the extracted text (and anything downstream of
its length) does.
"""

from __future__ import annotations

import html as _htmllib
import re
from typing import Iterator

import pandas as pd

from .canonical import canonicalize_url

# --- pure-Python frozen spec -------------------------------------------

_BOILER_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.IGNORECASE | re.DOTALL)
_P_RE = re.compile(r"<p\b[^>]*>(.*?)</p\s*>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(r"<[^>]+>")
_HREF_RE = re.compile(r"""<a\b[^>]*?\bhref\s*=\s*["']([^"'>]+)["']""", re.IGNORECASE)
# frozen <img src> pattern — exported so SQL-side queries share it
IMG_SRC_PATTERN = r"""<img\b[^>]*?\bsrc\s*=\s*["']([^"'>]+)["']"""
_IMG_RE = re.compile(IMG_SRC_PATTERN, re.IGNORECASE)
# RSS/Atom-style feed entries (ref feed_scraper.py:169-188); capped at 20
# entries per feed like the reference's max_entries_per_feed
_FEED_ITEM_RE = re.compile(r"<link>[ \t\n\r\f\x0b]*(https?://[^< \t\n\r\f\x0b]+)[ \t\n\r\f\x0b]*</link>", re.IGNORECASE)
MAX_FEED_ENTRIES = 20
# Full feedparser-shaped entry parse (S4): <item> blocks with
# title/link/pubDate.  Patterns exported so the Spark codegen twin
# (sources/feeds.py) shares them verbatim.
# shared pattern strings, interpreted by THREE regex engines (Python re,
# Java via Spark exprs, RE2 via the DuckDB oracle) whose \s classes
# disagree — whitespace is pinned to the explicit ASCII class
FEED_BLOCK_PATTERN = r"(?is)<item\b[^>]*>(.*?)</item[ \t\n\r\f\x0b]*>"
FEED_TITLE_PATTERN = r"(?is)<title[^>]*>(.*?)</title[ \t\n\r\f\x0b]*>"
FEED_LINK_PATTERN = r"(?is)<link>[ \t\n\r\f\x0b]*(https?://[^< \t\n\r\f\x0b]+)[ \t\n\r\f\x0b]*</link>"
FEED_PUBDATE_PATTERN = r"(?is)<pubdate[^>]*>(.*?)</pubdate[ \t\n\r\f\x0b]*>"
_FEED_BLOCK_RE = re.compile(FEED_BLOCK_PATTERN)
_FEED_TITLE_RE = re.compile(FEED_TITLE_PATTERN)
_FEED_LINK_RE = re.compile(FEED_LINK_PATTERN)
_FEED_PUBDATE_RE = re.compile(FEED_PUBDATE_PATTERN)
# JS-heavy (puppeteer-strategy) extraction: JSON-LD articleBody blocks.
# Pattern strings exported — the DuckDB crawl replay (oracle_sql.py)
# interprets the same spellings under RE2, so no backreferences and the
# whitespace class stays the explicit ASCII pin.
LDJSON_BLOCK_PATTERN = (
    r"(?is)<script\b[^>]*?\btype[ \t\n\r\f\x0b]*=[ \t\n\r\f\x0b]*"
    r"[\"']application/ld\+json[\"'][^>]*>(.*?)</script[ \t\n\r\f\x0b]*>"
)
ARTICLE_BODY_PATTERN = (
    r"\"articleBody\"[ \t\n\r\f\x0b]*:[ \t\n\r\f\x0b]*\"([^\"]*)\""
)
_LDJSON_BLOCK_RE = re.compile(LDJSON_BLOCK_PATTERN)
_ARTICLE_BODY_RE = re.compile(ARTICLE_BODY_PATTERN)
# the strategy value that routes a host to the JS-heavy extractor
# (seeds.scraper_type, reference Source model src/database/models.py:38-58)
JS_RENDER_STRATEGY = "puppeteer"
# F12: script-tag count / SPA sniff (ref url_classifier.py:286-314)
SCRIPT_OPEN_PATTERN = r"(?i)<script\b"
_SCRIPT_OPEN_RE = re.compile(SCRIPT_OPEN_PATTERN)
SPA_MIN_SCRIPTS = 3       # ≥3 script tags and
SPA_MAX_TEXT_RATIO = 0.01  # <1% visible text → SPA shell
_META_AUTHOR_RE = re.compile(
    r"""<meta\b[^>]*?\bname\s*=\s*["']author["'][^>]*?\bcontent\s*=\s*["']([^"'>]*)["']""",
    re.IGNORECASE,
)
_META_PUBLISHED_RE = re.compile(
    r"""<meta\b[^>]*?\bproperty\s*=\s*["']article:published_time["']"""
    r"""[^>]*?\bcontent\s*=\s*["']([^"'>]*)["']""",
    re.IGNORECASE,
)


_COLLAPSE_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")


def collapse_ws(s: str) -> str:
    """The reference whitespace-collapse contract (scraper.py:239-247).

    The class is the EXPLICIT ASCII set ``[ \\t\\n\\r\\f\\x0b]`` — the
    same pin as the canonicalizer (functions/canonical._WS_CLASS):
    Python's ``str.split()`` is Unicode-wide while the Spark (Java) and
    DuckDB (RE2) ``\\s`` twins are ASCII and disagree with each other on
    ``\\x0b``, so an implicit class would collapse NBSP-bearing titles
    differently per engine."""
    return " ".join(t for t in _COLLAPSE_WS_RE.split(s) if t)


def _strip_tags(fragment: str) -> str:
    return _htmllib.unescape(_TAG_RE.sub(" ", fragment))


def resolve_link(base_url: str, href: str) -> str | None:
    """Minimal deterministic URL resolution (absolute / host-relative /
    protocol-relative; relative paths resolved against the base dir).
    Returns the canonical absolute URL or None."""
    href = href.strip()
    if not href or href.startswith(("#", "javascript:", "mailto:")):
        return None
    if "://" in href[:10]:
        return canonicalize_url(href)
    base = canonicalize_url(base_url)
    if base is None:
        return None
    scheme, rest = base.split("://", 1)
    host = rest.split("/", 1)[0]
    if href.startswith("//"):
        return canonicalize_url(scheme + ":" + href)
    if href.startswith("/"):
        return canonicalize_url(f"{scheme}://{host}{href}")
    # relative path: resolve against base directory (no dot-segment logic;
    # the synthetic web emits only absolute or root-relative links)
    base_path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    base_dir = base_path.rsplit("/", 1)[0] + "/"
    return canonicalize_url(f"{scheme}://{host}{base_dir}{href}")


def _out_links(body: str, url: str) -> list[str]:
    """Spec step 5 over the boilerplate-stripped ``body``: <a href>
    targets, then the first ``MAX_FEED_ENTRIES`` feed <link> entries,
    resolved against ``url``, deduped in document order."""
    links: list[str] = []
    seen: set[str] = set()
    hrefs = _HREF_RE.findall(body) + _FEED_ITEM_RE.findall(body)[:MAX_FEED_ENTRIES]
    for href in hrefs:
        resolved = resolve_link(url, href)
        if resolved is not None and resolved not in seen:
            seen.add(resolved)
            links.append(resolved)
    return links


def extract_page(html_bytes: bytes, url: str, js_render: bool = False) -> dict:
    """Frozen extractor: html bytes + url → dict of extracted fields.

    ``js_render=True`` is the Puppeteer-strategy variant: JSON-LD
    articleBody blocks (what a browser render would put in the DOM)
    are appended to the <p> text, in document order, before the
    whitespace collapse.  A page without such blocks extracts
    identically under both variants."""
    raw = html_bytes.decode("utf-8", errors="replace")
    body = _BOILER_RE.sub(" ", raw)
    m = _TITLE_RE.search(body)
    title = collapse_ws(_strip_tags(m.group(1))) if m else ""
    paras = [_strip_tags(p) for p in _P_RE.findall(body)]
    if js_render:
        paras += [
            b
            for blk in _LDJSON_BLOCK_RE.findall(raw)
            for b in _ARTICLE_BODY_RE.findall(blk)
        ]
    text = collapse_ws(" ".join(paras))
    links = _out_links(body, url)
    authors = [collapse_ws(a) for a in _META_AUTHOR_RE.findall(raw)]
    m = _META_PUBLISHED_RE.search(raw)
    published = m.group(1) if m else None
    images: list[str] = []
    img_seen: set[str] = set()
    for src in _IMG_RE.findall(body):
        resolved = resolve_link(url, src)
        if resolved is not None and resolved not in img_seen:
            img_seen.add(resolved)
            images.append(resolved)
    return {
        "title": title,
        "text": text,
        "out_links": links,
        "authors": authors,
        "published": published,
        "images": images,
    }


def parse_feed(html_text: str) -> list[dict]:
    """Frozen S4 feed-entry spec (feedparser drop-in, ref
    feed_scraper.py:169-188): the first ``MAX_FEED_ENTRIES`` <item>
    blocks, each yielding (title, link, published).  Blocks without an
    absolute http(s) <link> are dropped AFTER the cap (the reference
    slices entries[:20] before validating).  Titles are tag-stripped
    (no entity unescape — feed titles are plain text by this spec) and
    whitespace-collapsed; pubDate is collapsed verbatim."""
    entries = []
    for block in _FEED_BLOCK_RE.findall(html_text)[:MAX_FEED_ENTRIES]:
        lm = _FEED_LINK_RE.search(block)
        if not lm:
            continue
        tm = _FEED_TITLE_RE.search(block)
        pm = _FEED_PUBDATE_RE.search(block)
        entries.append(
            {
                "title": collapse_ws(_TAG_RE.sub(" ", tm.group(1))) if tm else "",
                "link": lm.group(1).strip(" \t\n\r\f\x0b"),
                "published": collapse_ws(pm.group(1)) if pm else None,
            }
        )
    return entries


def script_count(html_text: str) -> int:
    """Frozen F12 spec: number of ``<script`` tag openings."""
    return len(_SCRIPT_OPEN_RE.findall(html_text))


def is_spa(html_text: str, text: str) -> bool:
    """Frozen F12 SPA sniff: script-heavy page with almost no visible
    text (ref url_classifier.py:286-314 checks script counts + app-root
    indicators)."""
    n = script_count(html_text)
    ratio = (len(text) / len(html_text)) if html_text else 0.0
    return n >= SPA_MIN_SCRIPTS and ratio < SPA_MAX_TEXT_RATIO


# --- Spark vectorized implementation -----------------------------------


def extract_batch(
    urls: pd.Series, htmls: pd.Series, strategies: pd.Series | None = None
) -> pd.DataFrame:
    """Arrow-batched extraction: one pandas call per batch, zero
    per-row Python at the Spark boundary (the row loop lives inside
    the batch, as in any pandas str accessor).  ``strategies`` (the
    J3 scrape_strategy column, nullable) routes rows equal to
    ``JS_RENDER_STRATEGY`` through the JS-heavy variant."""
    out = {
        "title": [],
        "text": [],
        "out_links": [],
        "authors": [],
        "published": [],
        "images": [],
    }
    strats = (
        strategies.tolist() if strategies is not None else [None] * len(urls)
    )
    for url, blob, strat in zip(urls.tolist(), htmls.tolist(), strats):
        if blob is None:
            rec = {
                "title": "",
                "text": "",
                "out_links": [],
                "authors": [],
                "published": None,
                "images": [],
            }
        else:
            rec = extract_page(
                bytes(blob), url, js_render=(strat == JS_RENDER_STRATEGY)
            )
        for k in out:
            out[k].append(rec[k])
    return pd.DataFrame(out)


#: ``mapInPandas`` schema of :func:`links_map_in_pandas`
LINK_FIELDS = "url string, out_links array<string>"


def links_map_in_pandas(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` body of the link-graph operators: spec steps 1, 2
    and 5 only (decode, boilerplate strip, out-links), so the out-links
    equal ``extract_page(...)["out_links"]`` without computing the other
    fields.  Reads ``url`` and ``html``; emits :data:`LINK_FIELDS` — the
    html does not travel back to the JVM.  A null html has no links."""
    for pdf in it:
        links = []
        for url, blob in zip(pdf["url"].tolist(), pdf["html"].tolist()):
            if blob is None:
                links.append([])
                continue
            body = _BOILER_RE.sub(" ", bytes(blob).decode("utf-8", errors="replace"))
            links.append(_out_links(body, url))
        yield pd.DataFrame({"url": pdf["url"].tolist(), "out_links": links})
