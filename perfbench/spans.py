"""In-memory spans around calls into the crawler's layers.

A span records its name, layer, start, end and parent.  Spans are kept in
memory and written out once, at the end of the traced run.  Wrappers are
installed by patching the public functions and methods the crawler calls
(``install``); nothing inside the package is edited.

Self time of a span is its duration minus the part of its interval that
its children cover.  Children may overlap — the round's three writer
threads run concurrently — so the covered part is the length of the
union of the child intervals, never their sum.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field

#: environment variable naming the directory worker-side spans go to
WORKER_SPANS_ENV = "PERFBENCH_WORKER_SPANS"

#: Spark local property carrying the id of the span that submitted a job;
#: the event log records it per job, which ties stages to spans exactly
SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Span recorder.  A span opened on a thread with no open span of its
    own is parented to the innermost open span of the thread that created
    the tracer — the round's writer threads thereby hang under
    ``run_round``."""

    def __init__(self, set_job_span=None):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._set_job_span = set_job_span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(tid, [])
            if stack:
                parent = stack[-1]
            else:
                main = self._stacks.get(self._main) or [None]
                parent = main[-1]
            sp = Span(len(self.spans), name, layer, time.time(), None, parent, attrs)
            self.spans.append(sp)
            stack.append(sp.sid)
        if self._set_job_span:
            self._set_job_span(str(sp.sid))
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                stack.pop()
                outer = stack[-1] if stack else None
            if self._set_job_span:
                self._set_job_span(None if outer is None else str(outer))

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **(extra or {})}, f)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - union_length(children.get(s.sid, []), s.start, s.end or s.start)
        for s in spans
    }


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out.setdefault(s.layer, 0.0)
    for sid, t in self_times(spans).items():
        out[spans[sid].layer] += t
    return out


def tail_percentile(samples, percentiles=(99.9, 99.0, 90.0)):
    """The highest percentile with at least ten samples beyond it, as
    ``(p, value)`` by nearest rank; ``None`` when no candidate has ten."""
    xs = sorted(samples)
    n = len(xs)
    for p in sorted(percentiles, reverse=True):
        rank = math.ceil(round(n * p / 100.0, 9))  # 99.9% of 10000 is 9990, not 9991
        if rank >= 1 and n - rank >= 10:
            return p, xs[rank - 1]
    return None


def summarize(spans: list[Span]) -> dict[str, dict]:
    """Per span name: sample count, median duration and the reportable
    tail percentile."""
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s.duration)
    out = {}
    for name, ds in sorted(by_name.items()):
        tail = tail_percentile(ds)
        out[name] = {
            "n": len(ds),
            "median_s": statistics.median(ds),
            "tail": None if tail is None else {"p": tail[0], "s": tail[1]},
        }
    return out


# --- wrappers -------------------------------------------------------------


def _wrap(tracer: Tracer, fn, name: str, layer: str, attrs_of=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        attrs = attrs_of(*args, **kwargs) if attrs_of else {}
        with tracer.span(name, layer, **attrs):
            return fn(*args, **kwargs)

    return wrapper


def traced_extract_batch(urls, htmls, strategies=None):
    """``extract_batch`` as the Python workers see it under tracing: the
    crawler's extraction closure is pickled by value and resolves this
    function from the crawler module's namespace, so it runs in every
    worker.  Each call appends one span line to a per-process file, as
    worker memory is out of the benchmark's reach."""
    from newscrawler_spark.functions.extract import extract_batch

    start = time.time()
    out = extract_batch(urls, htmls, strategies)
    end = time.time()
    root = os.environ.get(WORKER_SPANS_ENV)
    if root:
        with open(os.path.join(root, f"extract-{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps({"start": start, "end": end, "rows": len(urls)}) + "\n")
    return out


def read_worker_spans(root: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        with open(os.path.join(root, name)) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def install(tracer: Tracer):
    """Patch the layer boundaries; returns a function that undoes it.

    ``build_bloom``, ``anti_join_seen``, ``admit_per_host`` and
    ``extract_batch`` are bound into ``newscrawler_spark.crawler`` at
    import, so they are patched there; ``advance_partitioned_bloom`` is
    imported at call time, so it is patched in ``operators.seen``."""
    from newscrawler_spark import crawler
    from newscrawler_spark.operators import seen
    from newscrawler_spark.plans import storage

    def round_attr(self, round_id, *a, **k):
        return {"round": round_id}

    def table_attr(self, table, round_id=None, *a, **k):
        return {"table": table, "round": round_id}

    patches = [
        (crawler.FrontierCrawler, "run", "crawler.run", "crawler", None),
        (crawler.FrontierCrawler, "run_round", "crawler.run_round", "crawler", round_attr),
        (crawler.FrontierCrawler, "initialize", "crawler.initialize", "crawler", None),
        (storage.RoundStore, "write_round", "storage.write_round", "storage", table_attr),
        (storage.RoundStore, "write_round_small", "storage.write_round_small", "storage",
         table_attr),
        (storage.RoundStore, "commit_round", "storage.commit_round", "storage",
         lambda self, round_id, *a, **k: {"round": round_id}),
        (storage.RoundStore, "read_rounds", "storage.read_rounds", "storage",
         lambda self, spark, table, *a, **k: {"table": table}),
        (crawler, "build_bloom", "seen.build_bloom", "seen", None),
        (crawler, "anti_join_seen", "seen.anti_join_seen", "seen", None),
        (seen, "advance_partitioned_bloom", "seen.advance_partitioned_bloom", "seen", None),
        (crawler, "admit_per_host", "politeness.admit_per_host", "politeness", None),
    ]
    saved = []
    for owner, attr, name, layer, attrs_of in patches:
        fn = owner.__dict__[attr]
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, fn, name, layer, attrs_of))
    saved.append((crawler, "extract_batch", crawler.extract_batch))
    crawler.extract_batch = traced_extract_batch

    def undo():
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)

    return undo
