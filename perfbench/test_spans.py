"""Span arithmetic of the benchmark's tracer.

Run from the repository root: ``python3 -m pytest perfbench/test_spans.py -q``.
"""

from __future__ import annotations

import threading

import pytest

from perfbench.spans import Span, Tracer, install, self_times, tail_percentile, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3
    assert union_length([], 0, 10) == 0
    assert union_length([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_overlapping_children():
    # a round with three concurrent writers: [1,4], [2,6] and [5,7] cover
    # [1,7] once, so the round's self time is 10 - 6, not 10 - 9
    spans = [
        Span(0, "crawler.run_round", "crawler", 0.0, 10.0),
        Span(1, "storage.write_round", "storage", 1.0, 4.0, parent=0),
        Span(2, "storage.write_round", "storage", 2.0, 6.0, parent=0),
        Span(3, "storage.write_round", "storage", 5.0, 7.0, parent=0),
        Span(4, "seen.build_bloom", "seen", 5.5, 6.5, parent=3),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0 - 6.0 + 3 + 4 + 1 + 1)


def test_spans_opened_on_worker_threads_hang_under_the_main_thread_span():
    tracer = Tracer()
    started = threading.Barrier(3, timeout=10)

    def writer(i):
        with tracer.span(f"w{i}", "storage"):
            started.wait()

    with tracer.span("round", "crawler") as outer:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    children = [s for s in tracer.spans if s.name.startswith("w")]
    assert len(children) == 3
    assert all(s.parent == outer.sid for s in children)
    assert self_times(tracer.spans)[outer.sid] >= 0.0


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(range(19)) is None
    assert tail_percentile(range(99)) is None  # p90 leaves 9 beyond
    assert tail_percentile(range(100)) == (90.0, 89)
    assert tail_percentile(range(999)) == (90.0, 899)  # p99 leaves 9 beyond
    assert tail_percentile(range(1000)) == (99.0, 989)
    assert tail_percentile(range(10000)) == (99.9, 9989)


def test_install_patches_the_crawler_namespace_and_undo_restores_it():
    from newscrawler_spark import crawler
    from newscrawler_spark.operators import seen
    from newscrawler_spark.plans import storage

    names = [
        (crawler, "build_bloom"),
        (crawler, "anti_join_seen"),
        (crawler, "admit_per_host"),
        (crawler, "extract_batch"),
        (seen, "advance_partitioned_bloom"),
        (crawler.FrontierCrawler, "run_round"),
        (storage.RoundStore, "write_round"),
    ]
    before = [getattr(owner, name) for owner, name in names]
    undo = install(Tracer())
    try:
        assert all(getattr(o, n) is not b for (o, n), b in zip(names, before))
    finally:
        undo()
    assert all(getattr(o, n) is b for (o, n), b in zip(names, before))
