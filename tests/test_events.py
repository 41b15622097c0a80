"""Sessionization and as-of join (operators/events.py)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from newscrawler_spark.operators.events import (
    SESSION_GAP_US,
    last_error_asof,
    sessionize,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=T0 + dt.timedelta(microseconds=us),
                user_id=u,
                event_type=t,
            )
            for i, (u, us, t) in enumerate(rows)
        ]
    )


def test_sessionize_gap_boundary_is_strict(spark):
    # second event exactly GAP later -> same session; GAP+1 -> new one
    rows = [
        (1, 0, "view"),
        (1, SESSION_GAP_US, "view"),
        (1, 2 * SESSION_GAP_US + 1, "click"),
    ]
    out = sessionize(_ev(spark, rows)).orderBy("session_idx").collect()
    assert [(r["session_idx"], r["n_events"]) for r in out] == [(1, 2), (2, 1)]
    assert out[0]["duration_us"] == SESSION_GAP_US
    assert out[1]["duration_us"] == 0


def test_sessionize_users_independent_and_error_count(spark):
    rows = [(1, 0, "view"), (2, 1, "error"), (2, 2, "view"), (1, 5, "error")]
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(_ev(spark, rows)).collect()
    }
    assert out[(1, 1)]["n_events"] == 2 and out[(1, 1)]["n_errors"] == 1
    assert out[(2, 1)]["n_events"] == 2 and out[(2, 1)]["n_errors"] == 1


def test_asof_picks_latest_prior_error_per_user(spark):
    rows = [
        (1, 0, "error"),     # id 0
        (1, 10, "error"),    # id 1
        (1, 20, "view"),     # id 2 -> error id 1, age 10
        (1, 5, "click"),     # id 3 -> error id 0, age 5
        (2, 50, "view"),     # id 4 -> no prior error
        (2, 60, "error"),    # id 5
        (2, 60, "click"),    # id 6 -> same-us error visible, age 0
    ]
    out = {r["event_id"]: r for r in last_error_asof(_ev(spark, rows)).collect()}
    assert (out[2]["state_event_id"], out[2]["age_us"]) == (1, 10)
    assert (out[3]["state_event_id"], out[3]["age_us"]) == (0, 5)
    assert out[4]["state_event_id"] is None and out[4]["age_us"] is None
    assert (out[6]["state_event_id"], out[6]["age_us"]) == (5, 0)


def test_asof_equal_ts_errors_tiebreak_max_id(spark):
    rows = [(1, 0, "error"), (1, 0, "error"), (1, 1, "view")]
    out = last_error_asof(_ev(spark, rows)).collect()
    assert out[0]["state_event_id"] == 1  # max event_id at the tied us


def test_streaming_attribution_join_equals_batch(spark, tmp_path, sf_dir):
    """The watermarked stream-stream interval join over a bounded
    replay == the plain batch interval join (inner-join emissions are
    watermark-independent)."""
    import shutil

    from newscrawler_spark.streaming.rounds import (
        attribution_join_stream,
        run_append_to_memory,
    )

    src = str(tmp_path / "ev")
    os.makedirs(src)
    shutil.copy2(f"{sf_dir}/events.parquet", os.path.join(src, "events.parquet"))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    j = attribution_join_stream(spark, src, schema)
    got = {
        (r["user_id"], r["view_id"], r["purchase_id"], r["latency_us"])
        for r in run_append_to_memory(j, "attrib_test").collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").cast("timestamp").alias("vts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("uid"),
        F.col("ts").cast("timestamp").alias("pts"),
    )
    want = {
        (r["user_id"], r["view_id"], r["purchase_id"], r["latency_us"])
        for r in v.join(
            p,
            (v.user_id == p.uid)
            & (p.pts >= v.vts)
            & (p.pts <= v.vts + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            (F.unix_micros("pts") - F.unix_micros("vts")).cast("long").alias("latency_us"),
        )
        .collect()
    }
    assert got == want and len(want) > 0
    assert all(0 <= lat <= 3_600_000_000 for _, _, _, lat in want)


def test_funnel_strict_order_and_nulls(spark):
    import datetime as _dt

    from newscrawler_spark.operators.events import funnel

    t = lambda s: _dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: full funnel in order
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # user 2: click BEFORE the first view — click must not count;
        # a later click does, purchase before it doesn't
        (2, t(1), "click"), (2, t(2), "view"), (2, t(3), "purchase"),
        (2, t(4), "click"), (2, t(5), "purchase"),
        # user 3: view only
        (3, t(1), "view"),
        # user 4: never views — excluded entirely
        (4, t(1), "purchase"),
        # user 5: click at the SAME instant as view — strictly-after
        # excludes it; the later one counts
        (5, t(1), "view"), (5, t(1), "click"), (5, t(2), "click"),
    ]
    ev = spark.createDataFrame(
        [Row(user_id=u, ts=ts, event_type=et) for u, ts, et in rows],
        "user_id long, ts timestamp, event_type string",
    )
    got = {
        r["user_id"]: (r["t1_us"], r["t2_us"], r["t3_us"])
        for r in funnel(ev).collect()
    }
    us = lambda s: int(t(s).replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    assert got == {
        1: (us(1), us(2), us(3)),
        2: (us(2), us(4), us(5)),
        3: (us(1), None, None),
        5: (us(1), us(2), None),
    }


def test_retention_cohorts_hand_data(spark):
    import datetime as _dt

    from newscrawler_spark.operators.events import retention_cohorts

    d = lambda day, h=0: _dt.datetime(2024, 1, day, h)
    rows = [
        (1, d(1)), (1, d(1, 5)), (1, d(2)), (1, d(4)),   # cohort day1
        (2, d(1)), (2, d(3)),                            # cohort day1
        (3, d(2)), (3, d(3)),                            # cohort day2
    ]
    ev = spark.createDataFrame(
        [Row(user_id=u, ts=ts) for u, ts in rows], "user_id long, ts timestamp"
    )
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    day1 = (_dt.datetime(2024, 1, 1) - _dt.datetime(1970, 1, 1)).days
    assert got == {
        (day1, 0): 2,      # users 1, 2 active on their cohort day
        (day1, 1): 1,      # user 1 on day 2
        (day1, 2): 1,      # user 2 on day 3
        (day1, 3): 1,      # user 1 on day 4
        (day1 + 1, 0): 1,  # user 3 cohort
        (day1 + 1, 1): 1,
    }


def test_streaming_session_window_boundary_rule(spark, tmp_path):
    """session_window's half-open interval: an event at exactly
    last + gap starts a NEW session; inside the gap it merges (state
    merge across micro-batch arrival order is Spark's job — the
    bounded replay pins the resulting relation)."""
    import datetime as _dt

    from newscrawler_spark.streaming.rounds import (
        run_to_completion,
        session_window_counts,
    )

    t0 = _dt.datetime(2024, 1, 1)
    sec = lambda s: t0 + _dt.timedelta(seconds=s)
    gap = 60
    rows = [
        (1, sec(0), "view"),
        (1, sec(59), "error"),        # 59 s after prev: merges
        (1, sec(59 + gap), "view"),   # exactly prev + gap -> MERGES
        (1, sec(59 + gap + gap + 1), "view"),  # gap + 1 -> NEW session
        (2, sec(0), "view"),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(
        [Row(user_id=u, ts=ts, event_type=et, event_id=i, value=0.0, props="")
         for i, (u, ts, et) in enumerate(rows)],
        "user_id long, ts timestamp, event_type string, event_id long, value double, props string",
    ).coalesce(1).write.parquet(src, mode="overwrite")
    schema = (
        "user_id long, ts timestamp, event_type string, event_id long, "
        "value double, props string"
    )
    agg = session_window_counts(spark, src, schema, gap="1 minute")
    got = {
        (r["user_id"], r["win_start"], r["win_end"]): (r["n_events"], r["n_errors"])
        for r in run_to_completion(agg, "sess_boundary_test").collect()
    }
    g = _dt.timedelta(seconds=gap)
    assert got == {
        (1, sec(0), sec(119) + g): (3, 1),
        (1, sec(180), sec(180) + g): (1, 0),
        (2, sec(0), sec(0) + g): (1, 0),
    }


def test_markov_transitions_hand_data(spark):
    """Hand-checkable chain: user 1 emits A,B,A,B; user 2 emits A,A.
    Transitions: A->B x2, B->A x1, A->A x1; row-normalised ppm by
    floor division."""
    import datetime as _dt

    from newscrawler_spark.operators.events import markov_transitions

    t0 = _dt.datetime(2024, 1, 1)
    s = lambda k: t0 + _dt.timedelta(seconds=k)
    rows = [
        (1, s(0), "A", 10),
        (1, s(1), "B", 11),
        (1, s(2), "A", 12),
        (1, s(3), "B", 13),
        (2, s(0), "A", 20),
        (2, s(1), "A", 21),
    ]
    df = spark.createDataFrame(
        [Row(user_id=u, ts=ts, event_type=et, event_id=i) for u, ts, et, i in rows],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["p_ppm"])
        for r in markov_transitions(df).collect()
    }
    assert got == {
        ("A", "B"): (2, 666666),   # 2*10^6 div 3
        ("A", "A"): (1, 333333),
        ("B", "A"): (1, 1000000),
    }


def test_markov_tie_resolves_by_event_id(spark):
    """Two events at the SAME timestamp order by event_id — the pinned
    tie rule; flipping the ids flips the transition."""
    import datetime as _dt

    from newscrawler_spark.operators.events import markov_transitions

    t0 = _dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            Row(user_id=1, ts=t0, event_type="X", event_id=2),
            Row(user_id=1, ts=t0, event_type="Y", event_id=1),
        ],
        "user_id long, ts timestamp, event_type string, event_id long",
    )
    got = [
        (r["prev_type"], r["next_type"])
        for r in markov_transitions(df).collect()
    ]
    assert got == [("Y", "X")]


def test_zscore_anomalies_matches_numpy(spark, sf_dir):
    """Engine flags == numpy population z>=3 flags on the real events
    table (per type, integer cents) — an independent float-path
    implementation agreeing with the division-free integer predicate."""
    import numpy as np
    import pandas as pd

    from newscrawler_spark.operators.events import zscore_anomalies

    pdf = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    v = np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype(np.int64)
    expect = set()
    for et in pdf["event_type"].unique():
        m = (pdf["event_type"] == et).to_numpy()
        x = v[m].astype(np.float64)
        mu, var = x.mean(), x.var()
        ids = pdf.loc[m, "event_id"].to_numpy()
        z = np.abs(x - mu) >= 3 * np.sqrt(var)
        expect.update(ids[z].tolist())
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    got = {r["event_id"] for r in zscore_anomalies(ev).collect()}
    assert got == expect
    assert len(got) > 0  # non-vacuous at sf0.001+


def test_mad_anomalies_match_python_medians(spark, sf_dir):
    """Engine med/mad equal pure-Python percentile-disc medians per
    type; flagged set is exactly adev > 3*mad; robustness: one huge
    planted outlier doesn't change the median-based flags of others."""
    import os

    from pyspark.sql import functions as F

    from newscrawler_spark.operators.events import mad_anomalies

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    cents = {
        r["event_id"]: (r["event_type"], r["c"])
        for r in ev.selectExpr(
            "event_id", "event_type",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS c",
        ).collect()
    }

    def disc_med(vals):
        vals = sorted(vals)
        n = len(vals)
        for i, v in enumerate(vals, 1):
            if 2 * i >= n:
                return v

    by_type: dict = {}
    for t, c in cents.values():
        by_type.setdefault(t, []).append(c)
    med = {t: disc_med(vs) for t, vs in by_type.items()}
    mad = {
        t: disc_med([abs(c - med[t]) for c in vs]) for t, vs in by_type.items()
    }
    want = {
        eid
        for eid, (t, c) in cents.items()
        if abs(c - med[t]) > 3 * mad[t]
    }
    rows = mad_anomalies(ev).collect()
    assert {r["event_id"] for r in rows} == want
    for r in rows:
        assert r["med"] == med[r["event_type"]]
        assert r["mad"] == mad[r["event_type"]]


def test_pre_epoch_day_ids_match_duckdb_twins(spark, tmp_path, sf_dir):
    """Every Spark-side day id (operators/events.epoch_day) equals the
    DuckDB twins' ``epoch_us // 86400000000`` on events before 1970
    that are not on a day boundary, where truncating and flooring
    division part."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from tools.check_oracle import compare

    base = pq.read_table(os.path.join(sf_dir, "events.parquet")).slice(0, 200)
    rows = base.to_pylist()
    for i, r in enumerate(rows[:80]):
        # 1969-12-29 .. 1969-12-31 plus a 1965 day, off the day boundaries
        r["ts"] = dt.datetime(1969, 12, 29 + i % 3, 1 + i % 22, i % 60, 7)
        if i % 10 == 0:
            r["ts"] = dt.datetime(1965, 6, 1, 12, i % 60)
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "events.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=base.schema), path)

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    for name in (
        "events_pivot",
        "events_cusum",
        "events_topk_daily",
        "events_dau_wau",
        "events_rolling",
        "events_retention",
    ):
        got = queries[name](spark, str(sf)).toPandas()
        errs = compare(name, got, con.sql(oracles[name]).df())
        assert not errs, f"{name}: {errs}"
