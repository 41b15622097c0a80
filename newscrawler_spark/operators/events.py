"""Event-stream operators: sessionization and as-of (last-known-state)
joins.

The reference logs crawl/scrape events with timestamps
(``/root/reference/src/utils/metrics.py``, the crawl_logs lineage) but
has no read-path over them beyond counters; gap sessionization and
as-of joins are the two standard time-keyed operators an analytics
engine adds over such a stream (both are SQL-92-expressible only
painfully; DuckDB grew a native ASOF JOIN and Flink/Kafka-Streams ship
session windows as primitives).

Spark-first shapes:

* ``sessionize`` — the classic gaps-and-islands plan: one shuffle
  hash-partitioned on the session key, a per-key window computing the
  lag-gap break flag and its running sum (the session index), then a
  rollup that reuses the window's partitioning (no second exchange on
  the key).  Per-key window sorts are the unit a session assignment
  inherently needs; keys are users, so cardinality is high and skew is
  bounded by per-user activity.

* ``asof_join`` — the union-tag plan, NOT a range join: tag state rows
  0 and event rows 1, union, and take ``last(state, ignorenulls)``
  over a per-key window ordered by (time, tag) with rows unbounded
  preceding.  One shuffle on the key, zero row expansion — the
  band-join form (events × states with a BETWEEN predicate) explodes
  quadratically per key and is never the right plan.  Ties at equal
  time resolve state-before-event (tag order), i.e. an event sees a
  state written at its own timestamp — exactly DuckDB's
  ``ASOF JOIN ... ON l.t >= r.t`` semantics, which the oracle uses.

All window arithmetic is exact integer microseconds
(``unix_micros`` ↔ DuckDB ``epoch_us`` — the T4 lesson: epoch-seconds
forms silently truncate sub-second timestamps in Spark only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _us(ts_col: str = "ts"):
    # ts is TIMESTAMP_NTZ in the parquet; the cast is shift-free under
    # the session's pinned UTC zone (session.py)
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_us: int = SESSION_GAP_US,
) -> DataFrame:
    """Gap sessionization: a new session starts when the time since the
    key's previous event exceeds `gap_us`.  Output one row per session:
    (key, session_idx 1-based, n_events, start_ts, end_ts, duration_us,
    n_errors)."""
    w = Window.partitionBy(key).orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    e = events.select(
        key, "event_id", "event_type", _us(ts_col).alias("us")
    ).withColumn("prev", F.lag("us").over(w))
    brk = F.when(
        F.col("prev").isNull() | (F.col("us") - F.col("prev") > gap_us), 1
    ).otherwise(0)
    s = e.withColumn("sid", F.sum(brk).over(run))
    return s.groupBy(key, "sid").agg(
        F.count("*").cast("long").alias("n_events"),
        F.timestamp_micros(F.min("us")).alias("start_ts"),
        F.timestamp_micros(F.max("us")).alias("end_ts"),
        (F.max("us") - F.min("us")).cast("long").alias("duration_us"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    ).withColumnRenamed("sid", "session_idx")


def asof_join(
    events: DataFrame,
    states: DataFrame,
    key: str = "user_id",
    time_col: str = "us",
    state_cols: tuple[str, ...] = ("state_event_id",),
) -> DataFrame:
    """Left as-of join: attach to every event row the `state_cols` of
    the key's latest state row with state.time <= event.time (NULL when
    none).  `events` and `states` must both carry `key` and an integer
    `time_col`; `states` must be unique per (key, time) — ties there
    are the caller's tie-break to resolve.
    """
    ev = events.withColumn("_tag", F.lit(1))
    for c in state_cols:
        ev = ev.withColumn(c, F.lit(None).cast(states.schema[c].dataType))
    st = states.select(
        key, time_col, F.lit(0).alias("_tag"), *state_cols
    )
    for c in ev.columns:
        if c not in st.columns:
            st = st.withColumn(c, F.lit(None).cast(ev.schema[c].dataType))
    u = ev.unionByName(st.select(ev.columns))
    w = (
        Window.partitionBy(key)
        .orderBy(time_col, "_tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in state_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return u.where(F.col("_tag") == 1).drop("_tag")


def last_error_asof(events: DataFrame) -> DataFrame:
    """The concrete read-path over the events table: every non-error
    event annotated with the user's most recent error event at or
    before it — (event_id, user_id, event_type, state_event_id,
    age_us), NULLs when the user has no prior error."""
    base = events.select("event_id", "user_id", "event_type", _us().alias("us"))
    errors = (
        base.where(F.col("event_type") == "error")
        .groupBy("user_id", "us")
        .agg(F.max("event_id").alias("state_event_id"))
        .withColumn("state_us", F.col("us"))
    )
    ev = base.where(F.col("event_type") != "error")
    joined = asof_join(
        ev, errors, state_cols=("state_event_id", "state_us")
    )
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        "state_event_id",
        (F.col("us") - F.col("state_us")).cast("long").alias("age_us"),
    )


#: frozen funnel step sequence over the synthetic event stream.
FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered funnel per user — the product-analytics primitive
    (Amplitude/Mixpanel-style): step i is the EARLIEST event of type
    ``steps[i]`` strictly after the user's step i-1 (step 0 = earliest
    occurrence overall).  Output one row per user who completed step 0:
    ``(user_id, t1_us, t2_us, …)`` with integer-microsecond times and
    NULL from the first uncompleted step on.

    Spark-first shape: the steps chain as `len(steps)` window selects
    over the SAME ``partitionBy(user)`` — Catalyst reuses the exchange
    and sorts once per frame (subset rule, PLANS.md sessionize lesson),
    so the whole funnel costs ONE user-keyed shuffle regardless of step
    count.  No join-back per step (the agg-and-join-back shape plans a
    scan per step — the documented anti-pattern), no row expansion.

    Strictly-after semantics (``us > prev``) are pinned identically in
    the SQL twin; integer microseconds avoid the double-seconds
    truncation divergence (the T4 lesson).
    """
    w = Window.partitionBy(user_col)
    d = events.select(
        F.col(user_col).alias("user_id"),
        F.col("event_type"),
        _us().alias("us"),
    )
    prev = None
    for i, step in enumerate(steps, start=1):
        cond = F.col("event_type") == step
        if prev is not None:
            cond = cond & (F.col("us") > F.col(prev))
        d = d.withColumn(f"t{i}_us", F.min(F.when(cond, F.col("us"))).over(w))
        prev = f"t{i}_us"
    return (
        d.select("user_id", *[f"t{i}_us" for i in range(1, len(steps) + 1)])
        .where(F.col("t1_us").isNotNull())
        .distinct()
    )


def markov_transitions(
    events: DataFrame, user_col: str = "user_id"
) -> DataFrame:
    """First-order Markov transition matrix over the per-user event-type
    sequence: for every ordered pair (prev_type, next_type) of
    CONSECUTIVE events of one user, the transition count and its
    row-normalised probability in parts-per-million.  Output
    ``(prev_type, next_type, n_transitions, p_ppm)``.

    Spark-first shape: one user-keyed window shuffle for the ``lag``
    (the inherent cost of sequencing), then a (prev, next) aggregate
    whose result is at most ``|types|²`` rows, so the row-normalising
    window over ``prev_type`` runs on a micro-relation — never a
    join-back to the event stream.  The probability is the pinned
    integer form ``n · 10⁶ div row_total`` (floor division of positive
    integers — identical in Spark ``div`` and DuckDB ``//``); no float
    division enters the contract.

    Order ties resolve by ``(us, event_id)`` — the repo-wide explicit
    deterministic tie rule (CLAUDE.md), spelled identically in the SQL
    twin.
    """
    w = Window.partitionBy(user_col).orderBy("us", "event_id")
    t = (
        events.select(
            F.col(user_col), "event_id", "event_type", _us().alias("us")
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
    )
    c = t.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").cast("long").alias("n_transitions"))
    return c.withColumn(
        "p_ppm",
        F.expr(
            "CAST(n_transitions * 1000000L div "
            "sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)"
        ),
    ).select("prev_type", "next_type", "n_transitions", "p_ppm")


def zscore_anomalies(
    events: DataFrame, sigma: int = 3
) -> DataFrame:
    """Per-event-type z-score anomaly flags: events whose ``value``
    deviates from the type's mean by ≥ ``sigma`` population standard
    deviations.  Output ``(event_id, user_id, event_type, v_cents,
    dev_scaled)`` where ``v_cents = floor(value·100 + 0.5)`` (the
    pinned integer-cents quantisation) and
    ``dev_scaled = v_cents·n − Σv`` (the mean-deviation scaled by the
    type count — exact bigint, sortable anomaly magnitude).

    The z test is evaluated WITHOUT division — cross-engine float
    division/sqrt never enters the contract.  With per-type
    ``n, S=Σv, SS=Σv²``::

        (x − S/n)² ≥ σ²·(SS·n − S²)/n²   ⟺   (x·n − S)² ≥ σ²·(SS·n − S²)

    Both sides exceed int64 at scale (≈10²² at 2M rows/type), so the
    comparison runs in DECIMAL(38,0) on the Spark side and HUGEINT in
    the DuckDB twin — both exact integer arithmetic.

    Plan: one partial-aggregated groupBy to a ``|types|``-row stats dim,
    broadcast back over the stream, filter — a single scan-sized
    shuffle, no window over the skewed few-types key (a
    ``partitionBy(event_type)`` window would drag every row of a type
    to one task — the anti-pattern this dim-join avoids).
    """
    v = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v_cents"),
    )
    stats = v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_cents").cast("long").alias("s1"),
        F.sum(F.col("v_cents").cast("decimal(38,0)") * F.col("v_cents"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    j = v.join(F.broadcast(stats), "event_type")
    dev = (F.col("v_cents") * F.col("n") - F.col("s1")).cast("long")
    lhs = dev.cast("decimal(38,0)") * dev
    rhs = (
        F.lit(sigma * sigma).cast("decimal(38,0)")
        * (F.col("s2") * F.col("n") - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
    )
    return (
        j.withColumn("dev_scaled", dev)
        .where(lhs >= rhs)
        .select("event_id", "user_id", "event_type", "v_cents", "dev_scaled")
    )


#: integer day index: microseconds div one day (exact, UTC-pinned).
_DAY_US = 86_400_000_000


def epoch_day(us: str):
    """Integer epoch day of the microsecond SQL expression ``us`` — the
    one spelling of every Spark-side day id.  Spark's ``div`` and the
    DuckDB twins' integer ``//`` both truncate toward zero, so the
    engines agree on every instant; before 1970 an instant off a day
    boundary gets the next day's id in both, and a floored form must
    change here and in the twins together."""
    return F.expr(f"{us} div {_DAY_US}")


def retention_cohorts(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Cohort retention matrix — the product-analytics companion of
    :func:`funnel`: users grouped by the day of their FIRST event
    (cohort), counted distinct on each later activity day, keyed by the
    day offset.  Output ``(cohort_day, day_offset, n_users)`` with
    integer epoch-day indexes (:func:`epoch_day` — exact in any
    engine; date types and their timezone edges never enter the
    contract).

    Plan: the cohort day is a min window over the SAME user partition
    the distinct-count aggregate then groups under — Spark's two-stage
    distinct rewrite keys its first aggregate on (cohort, offset, user),
    a superset of the window's user partitioning, so the matrix costs
    the user shuffle plus one aggregate-sized exchange; nothing is
    joined back.
    """
    w = Window.partitionBy(user_col)
    d = events.select(
        F.col(user_col).alias("user_id"), _us().alias("us")
    ).select(
        "user_id", epoch_day("us").cast("long").alias("day")
    )
    d = d.withColumn("cohort", F.min("day").over(w))
    return (
        d.groupBy(
            F.col("cohort").alias("cohort_day"),
            (F.col("day") - F.col("cohort")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_daily_counts(
    events: DataFrame, types: tuple[str, ...] = EVENT_TYPES
) -> DataFrame:
    """Daily event-type pivot — the wide per-day activity report
    (one column per event type, the reference's per-status dashboard
    rollup shape, src/api/routers/metrics.py).

    Expressed as EXPLICIT conditional aggregation, not ``df.pivot``:
    Spark's pivot (even with a value list) plans a (day, type)
    pre-aggregate plus a second pivotfirst exchange, and without the
    list it additionally runs a driver-side distinct scan and makes
    the schema data-dependent.  The conditional form compiles to ONE
    hash aggregate over one scan with a single day-keyed exchange
    (map-side partial counts), and the fixed column list keeps the
    schema data-independent; absent (day, type) cells are 0, not
    null, so the report is total.  Output ``(day, n_<type>...)``."""
    day = epoch_day("unix_micros(CAST(ts AS TIMESTAMP))")
    return (
        events.select(day.cast("long").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, F.lit(1)))
                .cast("long")
                .alias(f"n_{t}")
                for t in types
            ]
        )
    )


def _disc_median_over_counts(
    vt: DataFrame, grp: str, val: str, cnt: str, out: str
) -> DataFrame:
    """Percentile-disc median from a (group, value, count) table: the
    smallest value whose cumulative count reaches half the group total
    — integer arithmetic on the VALUE table, never a row window over
    the data (the distinct-value-CDF pattern)."""
    w = (
        Window.partitionBy(grp)
        .orderBy(val)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(grp)
    cdf = vt.withColumn("__cum", F.sum(cnt).over(w)).withColumn(
        "__n", F.sum(cnt).over(wn)
    )
    return cdf.groupBy(grp).agg(
        F.min(F.when(2 * F.col("__cum") >= F.col("__n"), F.col(val)))
        .cast("long")
        .alias(out)
    )


def mad_anomalies(events: DataFrame, k: int = 3) -> DataFrame:
    """Median-absolute-deviation anomaly flags per event type — the
    ROBUST twin of :func:`zscore_anomalies`: mean/stddev are themselves
    dragged by the outliers they're meant to flag (one 1000× spike
    inflates σ enough to hide 10× spikes); median and MAD have a 50%
    breakdown point.

    Everything is integer cents.  Both medians come from the
    DISTINCT-value CDF: the per-type value table gives the median, and
    the DEVIATION distribution is derived from that same value table
    (|v − med| with counts re-aggregated — no second corpus pass for
    the MAD), so the corpus is scanned exactly twice: once into the
    value table, once for the final broadcast-dim flag filter.  Output
    ``(event_id, user_id, event_type, v_cents, med, mad, adev)`` for
    rows with ``adev > k·mad``."""
    v = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("v_cents"),
    )
    vt = v.groupBy("event_type", "v_cents").agg(F.count(F.lit(1)).alias("c"))
    med = _disc_median_over_counts(vt, "event_type", "v_cents", "c", "med")
    dv = (
        vt.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("v_cents") - F.col("med")).alias("adev"),
            "c",
        )
        .groupBy("event_type", "adev")
        .agg(F.sum("c").alias("c"))
    )
    mad = _disc_median_over_counts(dv, "event_type", "adev", "c", "mad")
    dim = med.join(mad, "event_type")
    out = v.join(F.broadcast(dim), "event_type").withColumn(
        "adev", F.abs(F.col("v_cents") - F.col("med")).cast("long")
    )
    return out.where(F.col("adev") > k * F.col("mad")).select(
        "event_id", "user_id", "event_type", "v_cents", "med", "mad", "adev"
    )


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """Page's CUSUM positive-drift changepoint detection (Page,
    Biometrika 1954) over the per-type daily value series — the
    monitoring shape behind "this source's volume shifted" alerts (the
    reference dashboards per-status daily counts, metrics.py; CUSUM is
    the sequential-detection upgrade of its EWMA A5).

    The textbook recursion S_i = max(0, S_{i-1} + (x_i - k)) is not a
    plain window aggregate, but its closed form is: with prefix
    P_i = Σ_{j≤i}(x_j - k),  S_i = P_i - min(0, min_{j≤i} P_j) — a
    cumulative sum and a running minimum, two frames over ONE
    per-type-ordered exchange.  All integer arithmetic: daily sums in
    cents; the drift allowance k = per-type mean daily cents via the
    sign-safe pinned floor-div (total - pmod(total, n)) / n (Spark DIV
    truncates toward zero while DuckDB // floors — they diverge on
    negative totals, so the pmod form is spelled in both engines);
    alarm when S_i exceeds k (one mean day of accumulated drift).

    Scale shape: one groupBy to the per-(type, day) table (map-side
    combined), then whole-frame + ordered windows over that aggregate
    (days × types rows, never event rows) on a single event_type
    exchange.  Returns (event_type, day, daily_cents, k_target,
    cusum_pos, is_alarm)."""
    day = epoch_day("unix_micros(CAST(ts AS TIMESTAMP))")
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    daily = (
        events.select("event_type", day.cast("long").alias("day"), cents.alias("cents"))
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("daily_cents"))
    )
    return cusum_over_daily(daily)


def cusum_over_daily(daily: DataFrame) -> DataFrame:
    """The CUSUM windows over an existing (event_type, day, daily_cents)
    relation — shared by the batch path (cusum_changepoints) and the
    streaming twin (the daily aggregate maintained by Structured
    Streaming, CUSUM computed over the finalized sink read-back)."""
    wtot = Window.partitionBy("event_type")
    wseq = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    agg = (
        daily.withColumn("total", F.sum("daily_cents").over(wtot).cast("long"))
        .withColumn("n_days", F.count(F.lit(1)).over(wtot).cast("long"))
        .withColumn(
            "k_target",
            F.expr("CAST((total - pmod(total, n_days)) DIV n_days AS BIGINT)"),
        )
    )
    run = agg.withColumn(
        "p", F.sum(F.col("daily_cents") - F.col("k_target")).over(wseq).cast("long")
    )
    out = run.withColumn(
        "floor_p",
        F.least(F.lit(0).cast("long"), F.min("p").over(wseq)).cast("long"),
    ).withColumn("cusum_pos", (F.col("p") - F.col("floor_p")).cast("long"))
    return out.select(
        "event_type",
        "day",
        "daily_cents",
        "k_target",
        "cusum_pos",
        (F.col("cusum_pos") > F.col("k_target")).alias("is_alarm"),
    )
