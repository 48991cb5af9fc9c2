"""Event-stream batch analytics: tumbling/sliding windows, sessionization,
per-user activity — the aggregation patterns of a telemetry pipeline.

Batch forms here (the driver testdata is a static events table); the
streaming module reuses the same column logic under ``readStream`` with
watermarks.  Every operator is groupBy/window over native expressions —
one shuffle each, pre-aggregated map-side by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30


def tumbling_window_agg(
    events: DataFrame,
    width: str = "1 hour",
    ts_col: str = "ts",
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-window, per-event-type counts and value sums.  Uses ``window()``
    (struct start/end) — the same expression Structured Streaming uses, so
    the batch and stream plans share logic.

    ``n_users`` defaults to ``approx_count_distinct`` (HLL, folds into the
    same single shuffle as the other aggregates — what the streaming form
    already uses, streams.py); ``exact_distinct=True`` opts into the exact
    count, whose per-(window, type) distinct is a second full shuffle of
    user ids — fine at test SF, the wrong default at 100 TB.  Mirrors
    ``user_activity``'s exact/approx pairing; the oracle checks the exact
    arm (``approx_count_distinct``'s HLL++ sketch is implementation-
    defined — :func:`hll_registers` is the PORTABLE, oracle-checkable,
    MERGEABLE alternative when the distinct count must be reproducible
    or rolled up across windows)."""
    n_users = (
        F.count_distinct("user_id")
        if exact_distinct
        else F.approx_count_distinct("user_id")
    )
    return (
        events.groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            n_users.alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def sliding_window_agg(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MINUTES,
    ts_col: str = "ts",
    user_col: str = "user_id",
    tie_col: str | None = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the user's
    inter-event gap reaches ``gap_minutes``.  Classic two-window form —
    lag to flag boundaries, running sum to number sessions; one shuffle
    on user_id covers both windows.

    Boundary semantics are ``gap >= threshold`` starts a new session —
    EXACTLY Structured Streaming's native ``session_window`` (half-open
    ``[start, last + gap)``), so batch and stream sessionizers agree on
    events landing precisely on the gap boundary."""
    # tie_col=None for tables without an id column: equal-timestamp
    # events produce gap 0 under ANY tie order, so session assignment is
    # identical either way — the tiebreak only stabilizes row order
    order = [F.col(ts_col).asc()] + ([F.col(tie_col).asc()] if tie_col else [])
    w_user = Window.partitionBy(user_col).orderBy(*order)
    # microsecond-exact gap (unix_micros) — second-truncated arithmetic
    # diverges from interval comparisons at the boundary
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(F.col(ts_col)).over(w_user))
    is_new = F.when(gap.isNull() | (gap >= gap_minutes * 60 * 1_000_000), 1).otherwise(0)
    numbered = events.withColumn("_new", is_new).withColumn(
        "session_no", F.sum("_new").over(w_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        numbered.groupBy(user_col, "session_no")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def user_activity(events: DataFrame) -> DataFrame:
    """Per-user rollup with exact + approximate distinct counts (the
    approx variant is the 100 TB path — constant memory per key)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.approx_count_distinct("event_type").alias("n_types_approx"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


def user_profile(events: DataFrame, types: list[str] | None = None) -> DataFrame:
    """Per-user wide profile: the ``user_activity`` rollup plus one pivoted
    count column per event type — ONE aggregation pass / ONE shuffle
    (conditional counts instead of a separate pivot + join)."""
    if types is None:
        types = ["click", "view", "signup", "purchase", "error"]
    reserved = {"user_id", "n_events", "n_types", "sum_value", "first_seen", "last_seen"}
    clash = reserved.intersection(types)
    if clash:
        # a type literally named like a rollup column would produce
        # duplicate output columns and AMBIGUOUS_REFERENCE downstream
        raise ValueError(f"user_profile: event type(s) collide with rollup columns: {sorted(clash)}")
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        *[
            F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(t)
            for t in types
        ],
    )


def conversion_funnel(
    events: DataFrame,
    first_type: str = "signup",
    then_type: str = "purchase",
    within_hours: int = 24,
) -> DataFrame:
    """Conversion funnel: users whose first ``first_type`` event is
    followed by a ``then_type`` event within the window.

    ``then_t`` is the first ``then_type`` event AT OR AFTER the user's
    first ``first_type`` event — a global min would let a purchase that
    PRECEDES the signup mask a later qualifying one, reporting the user
    unconverted.  The per-type-min pre-aggregation computes per-user
    first_t with one map-side-combined shuffle; the qualifying then_t
    comes from joining first_t back (one user-keyed join — ``firsts``
    has a row per user with ANY first_type event, so at scale this is a
    shuffle join on user_id, not a broadcast) and re-aggregating only
    ``then_type`` events."""
    firsts = (
        events.where(F.col("event_type") == first_type)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_t"))
    )
    thens = (
        events.where(F.col("event_type") == then_type)
        .select("user_id", "ts")
        .join(firsts, "user_id")
        .where(F.col("ts") >= F.col("first_t"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("then_t"))
    )
    agg = firsts.join(thens, "user_id", "left")
    converted = (
        F.col("then_t").isNotNull()
        & (
            F.unix_micros(F.col("then_t")) - F.unix_micros(F.col("first_t"))
            <= within_hours * 3600 * 1_000_000
        )
    )
    return agg.select(
        "user_id",
        "first_t",
        "then_t",
        converted.cast("int").alias("converted"),
    )


def retention_cohorts(
    events: DataFrame,
    period_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention (the standard product-analytics triangle): users
    are grouped into cohorts by the period of their FIRST activity; each
    (cohort, offset) cell counts how many of that cohort were active
    ``offset`` periods later.  Returns (cohort_start, period_offset,
    n_active, cohort_size, retention) with retention rounded to 6 dp.

    Period indexing is integer epoch-day division (DST/timezone-free and
    portable to the oracle verbatim); ``cohort_start`` is the period's
    first day as a timestamp.  Offset 0 is the cohort itself, so
    retention(0) = 1.0 — kept as the standard sanity row.

    Scale shape: one user-keyed min-aggregate (first activity), one
    distinct over (user, period) — both map-side combinable; one
    user-keyed join between them (co-partitioned: same key); and a final
    tiny (cohort, offset)-keyed aggregate whose cardinality is
    O(periods^2), never data-sized.  No windows, no driver state.
    """
    if period_days <= 0:
        # non-ANSI division by zero would silently NULL every cohort
        raise ValueError("retention_cohorts: period_days must be positive")
    pday = lambda c: F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date"))
    period = lambda c: F.floor(pday(c) / period_days).cast("long")
    firsts = events.groupBy(user_col).agg(
        period(F.min(ts_col)).alias("_cohort_p")
    )
    actives = events.select(
        F.col(user_col), period(F.col(ts_col)).alias("_p")
    ).distinct()
    cells = (
        actives.join(firsts, user_col)
        .groupBy("_cohort_p", (F.col("_p") - F.col("_cohort_p")).alias("period_offset"))
        .agg(F.count("*").alias("n_active"))
    )
    sizes = firsts.groupBy("_cohort_p").agg(F.count("*").alias("cohort_size"))
    return (
        cells.join(sizes, "_cohort_p")
        .select(
            F.to_timestamp(
                F.date_add(
                    F.lit("1970-01-01").cast("date"),
                    (F.col("_cohort_p") * period_days).cast("int"),
                )
            ).alias("cohort_start"),
            F.col("period_offset").cast("long").alias("period_offset"),
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def sql_retention_cohorts(ts_expr: str, period_days: int = 7) -> str:
    """DuckDB mirror of ``retention_cohorts`` over the events table;
    ``ts_expr`` is the normalized timestamp expression."""
    if period_days <= 0:
        raise ValueError("sql_retention_cohorts: period_days must be positive")
    d = int(period_days)
    pd_ = f"(CAST({ts_expr} AS DATE) - DATE '1970-01-01')"
    return f"""
        WITH rc_first AS (
          SELECT user_id,
                 CAST(floor((CAST(min({ts_expr}) AS DATE) - DATE '1970-01-01') / {d})
                      AS BIGINT) AS cohort_p
          FROM events GROUP BY user_id
        ),
        rc_active AS (
          SELECT DISTINCT user_id,
                 CAST(floor({pd_} / {d}) AS BIGINT) AS p
          FROM events
        ),
        rc_cells AS (
          SELECT f.cohort_p, a.p - f.cohort_p AS period_offset,
                 COUNT(*) AS n_active
          FROM rc_active a JOIN rc_first f USING (user_id)
          GROUP BY 1, 2
        ),
        rc_sizes AS (
          SELECT cohort_p, COUNT(*) AS cohort_size FROM rc_first GROUP BY 1
        )
        SELECT CAST(DATE '1970-01-01' + CAST(c.cohort_p * {d} AS INT) AS TIMESTAMP)
                 AS cohort_start,
               CAST(c.period_offset AS BIGINT) AS period_offset,
               CAST(c.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               round(c.n_active / s.cohort_size, 6) AS retention
        FROM rc_cells c JOIN rc_sizes s USING (cohort_p)
    """


def sequence_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_user: int | None = None,
) -> DataFrame:
    """N-step ORDERED funnel (the product-analytics generalization of
    ``conversion_funnel``'s fixed two steps): per user, ``t_1`` is the
    earliest occurrence of step 1 and ``t_i`` the earliest occurrence of
    step *i* STRICTLY after ``t_{i-1}``.  Returns (user,
    steps_completed, step_ts) where ``step_ts`` holds the completion
    times of the completed prefix.

    Strictly-after chaining (not ``conversion_funnel``'s at-or-after):
    with ``>=``, a single event could satisfy several steps — e.g. the
    funnel [signup, click, click] would report both click steps done
    after ONE click, because the min at-or-after its own timestamp is
    itself.  ``>`` makes every step require a distinct later event; the
    trade, documented: distinct events sharing one timestamp do not
    stack (microsecond event times make that a non-case in practice).

    One user-keyed collect, then every step time is an in-row
    filter+array_min over the SAME collected array — no per-step
    self-joins (an n-step join chain is n-1 shuffles and re-scans; this
    is ONE shuffle regardless of n).  Events are pre-filtered to the
    funnel's types, so the per-user list is bounded by funnel activity
    (same contract as any collect_list sessionizer).

    HOT-USER GUARD: a bot user with millions of funnel-type events would
    materialize one giant array in a single aggregation buffer.
    ``max_events_per_user`` keeps only each user's EARLIEST that-many
    funnel-type events (row_number window, ts then type tie-break)
    before the collect — the window sorts SPILL to disk where an agg
    buffer cannot, and its user-hash partitioning is reused by the
    groupBy (one exchange total).  The documented trade: a step
    completed only by an event past the cap reads as not-completed
    (under-count, never a false completion — chained mins only ever
    move later when events are dropped); pick the cap well above any
    organic per-user funnel activity so it only clips bots.

    The default stays ``None`` for batch/oracle parity (the uncapped
    form is the exact funnel), but ANY PRODUCTION RUN over
    uncurated traffic should set it — ``10_000`` is a sane starting
    value: orders of magnitude above organic funnel activity for a
    human user, while bounding a bot user's aggregation buffer to ~160
    KB of (ts, type) structs.  At 100 TB an uncapped run is one
    scripted client away from a single-task OOM (docs/SCALE.md
    "N-step funnel").
    """
    if not steps:
        raise ValueError("sequence_funnel: steps must be non-empty")
    evs = events.where(F.col(type_col).isin(list(set(steps)))).select(
        F.col(user_col),
        F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("tp")).alias("e"),
    )
    if max_events_per_user is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(user_col).orderBy(
            F.col("e.ts").asc(), F.col("e.tp").asc()
        )
        evs = (
            evs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(max_events_per_user))
            .drop("_rn")
        )
    cur = evs.groupBy(user_col).agg(F.collect_list("e").alias("_evs"))
    # One PROJECTION per step, referencing the previous step's time as a
    # bound column — inlining t_{i-1} into t_i's filter twice would
    # double the expression tree per step (2^n growth for long funnels);
    # bound attributes keep every step O(1) plan size (the DuckDB mirror
    # uses one CTE layer per step for the same reason).
    def _mk_cond(si, pv):
        # no default-arg lambdas: PySpark sizes the HOF lambda by the
        # Python function's FULL parameter count, defaults included
        if pv is None:
            return lambda e: e["tp"] == si
        return lambda e: (e["tp"] == si) & pv.isNotNull() & (e["ts"] > pv)

    for i, s in enumerate(steps):
        cond = _mk_cond(s, F.col(f"_t{i}") if i else None)
        cur = cur.withColumn(
            f"_t{i + 1}",
            F.array_min(F.transform(F.filter(F.col("_evs"), cond), lambda e: e["ts"])),
        )
    all_ts = F.array(*[F.col(f"_t{i + 1}") for i in range(len(steps))])
    # completed prefix: chaining makes everything after a null also null
    step_ts = F.filter(all_ts, lambda t: t.isNotNull())
    return cur.select(
        F.col(user_col),
        F.size(step_ts).cast("long").alias("steps_completed"),
        step_ts.alias("step_ts"),
    )


def sql_sequence_funnel(ts_expr: str, steps: list[str]) -> str:
    """DuckDB mirror of ``sequence_funnel``: one list() per user, the
    same strictly-after chained filter+list_min per step, one CTE layer
    per step so each t_i can reference t_{i-1}."""
    if not steps:
        raise ValueError("sql_sequence_funnel: steps must be non-empty")
    esc = [s.replace("'", "''") for s in steps]
    types_sql = ", ".join(f"'{s}'" for s in sorted(set(esc)))
    cte = f"""sq_u AS (
          SELECT user_id, list({{'ts': ts, 'tp': tp}}) AS evs FROM (
            SELECT user_id, {ts_expr} AS ts, event_type AS tp FROM events
            WHERE event_type IN ({types_sql})
          ) GROUP BY user_id
        )"""
    prev_rel = "sq_u"
    for i, s in enumerate(esc):
        guard = "" if i == 0 else f"AND t{i} IS NOT NULL AND e['ts'] > t{i} "
        cte += f""",
        sq_s{i + 1} AS (
          SELECT *, list_min(list_transform(
                   list_filter(evs, e -> e['tp'] = '{s}' {guard}),
                   e -> e['ts'])) AS t{i + 1}
          FROM {prev_rel}
        )"""
        prev_rel = f"sq_s{i + 1}"
    all_ts = "[" + ", ".join(f"t{i + 1}" for i in range(len(steps))) + "]"
    return f"""
        WITH {cte}
        SELECT user_id,
               CAST(len(list_filter({all_ts}, t -> t IS NOT NULL)) AS BIGINT)
                 AS steps_completed,
               list_filter({all_ts}, t -> t IS NOT NULL) AS step_ts
        FROM {prev_rel}
    """


def windowed_anomaly_scores(
    events: DataFrame,
    width: str = "1 hour",
    trailing: int = 24,
    min_trailing: int = 3,
    ts_col: str = "ts",
    round_to: int = 6,
    densify: bool = False,
) -> DataFrame:
    """Per-(event_type, window) volume z-scores against the trailing
    ``trailing`` observed windows — the incident/drift monitor over an
    event stream ("clicks this hour are 4.2 sigma over their last-24h
    behavior").  ``zscore`` is NULL until ``min_trailing`` history
    windows exist and whenever the trailing std is zero (a constant
    baseline has no scale to deviate from — flagging on it would alert
    on every change of a dead-quiet type).

    By default trailing means the last ``trailing`` OBSERVED windows
    per type — zero-event windows emit no row and therefore don't
    enter the baseline, and a full outage of a busy type produces NO
    anomaly row at all.  ``densify=True`` emits zero-count windows on
    a calendar spine between each type's first and last observed
    window, so that outage surfaces as a row with n_events=0 and a
    large NEGATIVE zscore — the incident case monitors exist for —
    and silence drags the trailing mean down.  (Events with a NULL
    timestamp are DROPPED: Spark's ``F.window`` emits no row for a
    NULL input, and the SQL mirror filters NULL ``ts`` explicitly so
    both engines agree — a DuckDB ``time_bucket`` would otherwise keep
    a NULL-window group the operator never produces.)

    Scale shape: one map-side-combinable windowed count (window-count-
    sized output, never event-sized), then an event_type-keyed frame
    window over those counts — the window's partition is #windows rows
    per type, bounded by the retention horizon, not the data.  The
    spine adds one #types-row bounds agg, a sequence-explode back to
    window-count size, and one window-count-sized left join — still
    never event-sized.
    """
    counts = (
        events.groupBy(F.window(ts_col, width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return _anomaly_scores_from_counts(
        counts,
        width=width,
        trailing=trailing,
        min_trailing=min_trailing,
        round_to=round_to,
        densify=densify,
    )


def _anomaly_scores_from_counts(
    counts: DataFrame,
    width: str = "1 hour",
    trailing: int = 24,
    min_trailing: int = 3,
    round_to: int = 6,
    densify: bool = False,
) -> DataFrame:
    """The score stage of :func:`windowed_anomaly_scores` over an
    already-aggregated (window_start, event_type, n_events) frame —
    shared with the streaming monitor, whose accumulated per-batch
    counts merge to exactly this frame (integer sums telescope across
    any batch split)."""
    if densify:
        spine = (
            counts.groupBy("event_type")
            .agg(
                F.min("window_start").alias("w0"),
                F.max("window_start").alias("w1"),
            )
            .select(
                "event_type",
                F.explode(
                    F.sequence("w0", "w1", F.expr(f"INTERVAL {width}"))
                ).alias("window_start"),
            )
        )
        counts = spine.join(
            counts, ["event_type", "window_start"], "left"
        ).select(
            "window_start",
            "event_type",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-trailing, -1)
    )
    mean = F.avg("n_events").over(tw)
    std = F.stddev_samp("n_events").over(tw)
    hist = F.count("n_events").over(tw)
    z = F.when(
        (hist >= min_trailing) & (std > 0),
        (F.col("n_events") - mean) / std,
    )
    return counts.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(mean, round_to).alias("trailing_mean"),
        F.round(z, round_to).alias("zscore"),
    )


def sql_windowed_anomaly_scores(
    ts_expr: str = "CAST(ts AS TIMESTAMP)",
    width: str = "1 hour",
    trailing: int = 24,
    min_trailing: int = 3,
    round_to: int = 6,
    densify: bool = False,
) -> str:
    """DuckDB mirror of ``windowed_anomaly_scores`` (same trailing ROWS
    frame, same min-history/zero-variance NULL guards, same calendar
    spine under ``densify`` via generate_series).  time_bucket gets an
    EXPLICIT epoch origin: Spark's F.window aligns buckets to
    1970-01-01, while DuckDB's default origin is 2000-01-03 — the two
    coincide for widths that divide the offset (e.g. '1 hour') but
    diverge for e.g. '1 week'."""
    base = f"""az_wc AS (
          -- NULL ts filtered explicitly: Spark's F.window DROPS
          -- NULL-timestamp rows while time_bucket would keep a
          -- NULL-window group the operator never produces
          SELECT time_bucket(INTERVAL '{width}', {ts_expr},
                             TIMESTAMP '1970-01-01') AS window_start,
                 event_type, COUNT(*) AS n_events
          FROM events WHERE {ts_expr} IS NOT NULL GROUP BY 1, 2
        )"""
    rel = "az_wc"
    if densify:
        base += f""",
        az_bounds AS (
          SELECT event_type, min(window_start) AS w0, max(window_start) AS w1
          FROM az_wc GROUP BY 1
        ),
        az_spine AS (
          SELECT event_type,
                 unnest(generate_series(w0, w1, INTERVAL '{width}'))
                   AS window_start
          FROM az_bounds
        ),
        az_dense AS (
          SELECT s.window_start, s.event_type,
                 coalesce(c.n_events, 0) AS n_events
          FROM az_spine s
          LEFT JOIN az_wc c USING (event_type, window_start)
        )"""
        rel = "az_dense"
    return f"""
        WITH {base}
        SELECT window_start, event_type, n_events,
               round(avg(n_events) OVER tw, {round_to}) AS trailing_mean,
               round(CASE WHEN count(n_events) OVER tw >= {min_trailing}
                           AND stddev_samp(n_events) OVER tw > 0
                     THEN (n_events - avg(n_events) OVER tw)
                          / stddev_samp(n_events) OVER tw
                     END, {round_to}) AS zscore
        FROM {rel}
        WINDOW tw AS (PARTITION BY event_type ORDER BY window_start
                      ROWS BETWEEN {trailing} PRECEDING AND 1 PRECEDING)
    """


#: portable-HLL geometry: p=10 -> 1024 registers, ~3.25% standard error
#: (1.04/sqrt(m)).  The 32-bit Wang hash leaves 22 rank bits, so rho <=
#: 23 and every 2^-rho term is a multiple of 2^-23 — the register sum
#: fits 33 mantissa bits and is EXACT in float64 regardless of addition
#: order, which is what makes the estimate engine-portable without a
#: sorted fold.
HLL_P = 10
HLL_M = 1 << HLL_P


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias constant for m >= 128 — computed in
    Python once and embedded as the SAME literal in both engines."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "user_id",
    p: int = HLL_P,
) -> DataFrame:
    """PORTABLE HyperLogLog registers per group — the mergeable
    distinct-count sketch a hypertable rollup stores, built from
    explicit integer arithmetic (Wang 32-bit hash, top ``p`` bits pick
    the register, the rank is 1 + leading zeros of the remaining bits)
    so the SAME registers come out of Spark, DuckDB, or any engine —
    unlike ``approx_count_distinct``, whose HLL++ sketch is
    implementation-defined and therefore un-oracle-able (the
    ``tumbling_window_agg`` docstring's caveat; this operator is the
    portable answer).

    Returns ``(group..., bucket, rho)`` with one row per SEEN register
    (<= 2^p rows per group).  The frame IS the rollup state: persist it
    per (hour, type), and any coarser rollup is a ``max(rho)``
    re-group (:func:`hll_merge`) — registers merge by pointwise max, so
    hour -> day -> month never rescans events (the Theta/HLL-sketch
    data-warehouse pattern: Flajolet et al. 2007; druid/datasketches
    practice).  Estimate with :func:`hll_estimate`.

    Scale shape: one narrow projection + one map-side-combinable
    groupBy — the shuffle carries at most #groups x 2^p register rows,
    never event rows.  NULL values drop (COUNT DISTINCT semantics).

    INTEGER-ID CONTRACT (same as ``stratified_sample``'s ``id_hash``):
    ``value_col`` must be integer-castable — the Wang hash operates on
    the value AS A NUMBER, so a non-numeric string id fails mid-job
    with CAST_INVALID_INPUT (and the DuckDB mirror fails differently),
    while a NUMERIC string silently hashes by its numeric value.  Hash
    string ids to integers first (``xxhash64`` on the Spark side needs
    a DuckDB-matchable mirror — the portable route is a pre-assigned
    integer surrogate id, which a warehouse rollup has anyway).
    """
    from wpvectordb_spark.operators.curation import id_hash

    wbits = 32 - int(p)
    h = id_hash(F.col(value_col))
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    # rank via BINARY-STRING LENGTH, not floor(log2): Spark's log2
    # compiles to ln(x)/ln(2), which is one float division away from
    # flooring to k-1 at exact powers of two — an off-by-one register
    # rank that silently diverges engines.  length(conv(w, 10, 2)) - 1
    # IS floor(log2(w)) in pure integer/string ops (DuckDB mirror:
    # length(bin(w))), exact everywhere.
    rho = (
        F.when(w == 0, F.lit(wbits + 1))
        .otherwise(F.lit(wbits + 1) - F.length(F.conv(w, 10, 2)))
        .cast("int")
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.shiftright(h, wbits).cast("long").alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register frames to a coarser grouping by pointwise
    ``max(rho)`` — lossless by the HLL merge property (max is
    associative/commutative, so hourly->daily == daily-from-raw
    EXACTLY, register for register; test-asserted and pinned under the
    driver oracle by the ``hllmerge`` arm).  ``group_cols`` is the
    COARSER key (e.g. day instead of hour); the input may carry extra
    finer-grained columns, which are dropped."""
    return registers.groupBy(*group_cols, "bucket").agg(
        F.max("rho").alias("rho")
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str],
    p: int = HLL_P,
    round_to: int = 6,
) -> DataFrame:
    """Registers -> cardinality estimate per group: the standard
    raw-HLL formula ``alpha * m^2 / sum(2^-rho_j)`` (unseen registers
    contribute 2^0 = 1) with the small-range linear-counting correction
    ``m * ln(m / zeros)`` when the raw estimate is under ``2.5m`` and
    empty registers remain (Flajolet et al. 2007 §4; the 32-bit
    large-range correction is omitted — at cardinalities approaching
    2^32 per group, raise ``p`` / widen the hash instead).

    Returns ``(group..., n_registers, approx_distinct)`` —
    ``approx_distinct`` rounded to ``round_to`` (the estimate ends in
    ``ln``/division, whose last-ulp behavior is the one engine-varying
    step; the register SUM itself is exact, see ``HLL_P``).

    Scale shape: one #registers-row aggregation — the events never
    participate."""
    m = 1 << int(p)
    alpha_m2 = _hll_alpha(m) * m * m
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("_seen"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_z"),
    )
    zeros = (F.lit(m) - F.col("_seen")).cast("double")
    raw = F.lit(alpha_m2) / (F.col("_z") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.col("_seen").cast("long").alias("n_registers"),
        F.round(est, round_to).alias("approx_distinct"),
    )


def sql_hll_estimate(
    source_sql: str,
    group_cols: list[str],
    value_col: str = "user_id",
    p: int = HLL_P,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of ``hll_registers`` + ``hll_estimate`` over a
    source relation (same Wang hash, same integer bucket/rank split,
    same Python-computed alpha literal, same correction branch)."""
    from wpvectordb_spark.operators.curation import sql_id_hash

    m = 1 << int(p)
    wbits = 32 - int(p)
    alpha_m2 = _hll_alpha(m) * m * m
    h = sql_id_hash(value_col)
    groups = ", ".join(group_cols)
    return f"""
        WITH hll_rows AS (
          SELECT {groups},
                 CAST(({h}) // {1 << wbits} AS BIGINT) AS bucket,
                 -- binary-string length, same reason as the Spark side:
                 -- floor(log2) at exact powers of two is engine-fragile
                 CAST(CASE WHEN ({h}) % {1 << wbits} = 0 THEN {wbits + 1}
                      ELSE {wbits + 1} - length(bin(({h}) % {1 << wbits}))
                      END AS INT) AS rho
          FROM ({source_sql}) WHERE {value_col} IS NOT NULL
        ),
        hll_regs AS (
          SELECT {groups}, bucket, MAX(rho) AS rho
          FROM hll_rows GROUP BY {groups}, bucket
        ),
        hll_agg AS (
          SELECT {groups}, COUNT(*) AS seen,
                 SUM(power(2.0, -rho)) AS z
          FROM hll_regs GROUP BY {groups}
        )
        SELECT {groups}, CAST(seen AS BIGINT) AS n_registers,
               round(CASE WHEN {alpha_m2!r} / (z + ({m} - seen))
                               <= {2.5 * m!r}
                           AND {m} - seen > 0
                     THEN {float(m)!r} * ln({float(m)!r}
                                            / CAST({m} - seen AS DOUBLE))
                     ELSE {alpha_m2!r} / (z + ({m} - seen)) END,
                     {round_to}) AS approx_distinct
        FROM hll_agg
    """


def approx_distinct_rollup(
    events: DataFrame,
    level: str = "day",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "user_id",
    p: int = HLL_P,
) -> DataFrame:
    """Per-(calendar bucket, type) approximate distinct count through
    the portable sketch in one call — the hypertable continuous-
    aggregate shape: ``date_trunc(level)`` buckets, registers, estimate.
    Returns (window_start, <type_col>, n_registers, approx_distinct).
    Persist :func:`hll_registers`' frame instead when coarser rollups
    will be derived later (registers merge; estimates do not)."""
    base = events.select(
        F.date_trunc(level, F.col(ts_col).cast("timestamp")).alias(
            "window_start"
        ),
        F.col(type_col),
        F.col(value_col),
    )
    regs = hll_registers(base, ["window_start", type_col], value_col, p)
    return hll_estimate(regs, ["window_start", type_col], p)


#: HdrHistogram-style geometry: values scale to integer units (x1000 =
#: 3 decimal digits preserved), buckets keep the top HDR_SUB_BITS+1
#: significant bits — relative error <= 2^-(HDR_SUB_BITS+1) ~ 1.6%.
HDR_SCALE = 1000
HDR_SUB_BITS = 5


def hdr_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    scale: int = HDR_SCALE,
    sub_bits: int = HDR_SUB_BITS,
) -> DataFrame:
    """PORTABLE log-bucketed value histogram per group — the mergeable
    QUANTILE sketch next to :func:`hll_registers`' distinct sketch
    (HdrHistogram's layout, Tene's high-dynamic-range histogram:
    integer-scale the value, keep its top ``sub_bits + 1`` significant
    bits; exponent via BINARY-STRING LENGTH, the same engine-exact
    trick as the HLL rank — no float log anywhere).  The same bucket
    comes out of any engine, so the sketch itself sits under the hash
    oracle, unlike ``approx_percentile``'s implementation-defined
    KLL/GK internals.

    Returns ``(group..., bucket, n)`` with bucket ids MONOTONIC in the
    value (shift-major, significand-minor encoding), which is what
    makes the quantile readout one ordered cumsum.  Bucket counts are
    integer sums, so histograms MERGE by adding counts — per-hour
    histograms roll up to day/month (or accumulate across streaming
    micro-batches) without rescanning events, and the merged histogram
    is IDENTICAL to the direct one for any split (test-asserted).

    Values must be NON-NEGATIVE (raises per-row otherwise — a silent
    clamp would distort the low quantiles); NULLs drop like any
    aggregate input.  The raise is a DOCUMENTED CONTRACT, not a filter:
    a caller whose data may legitimately go negative must pre-filter
    (or floor) BEFORE the sketch — wiring this operator raw into a
    merged multi-arm query means one out-of-contract row fails the
    whole query, and a SQL mirror has no equivalent per-row guard
    (ADVICE round 10).  Relative error <= ``2^-(sub_bits+1)`` (~1.6% at
    the default) above ``2^sub_bits`` scaled units; values below that
    are EXACT (dedicated unit buckets).

    Scale shape: one narrow projection + one map-side-combinable
    groupBy; the shuffle carries at most #groups x #buckets rows
    (#buckets ~ (64 - sub_bits) * 2^(sub_bits+1), a few thousand),
    never event rows.
    """
    b = int(sub_bits)
    iv = F.when(
        F.col(value_col) < 0,
        F.raise_error(
            F.concat(
                F.lit("hdr_histogram: negative value "),
                F.col(value_col).cast("string"),
                F.lit(" — the sketch is defined for non-negative values"),
            )
        ).cast("long"),
    ).otherwise(F.floor(F.col(value_col) * scale).cast("long"))
    e = F.length(F.conv(iv, 10, 2))  # bit length; conv(0)='0' -> 1
    shift = F.greatest(e - F.lit(b + 1), F.lit(0)).cast("int")
    # call_function: the classic F.shiftright binding only accepts a
    # Python int for the shift; the SQL function takes a column
    bucket = shift.cast("long") * F.lit(1 << (b + 2)) + F.call_function(
        "shiftright", iv, shift
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )


def hdr_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    probs: dict[str, float] | None = None,
    scale: int = HDR_SCALE,
    sub_bits: int = HDR_SUB_BITS,
    round_to: int = 9,
) -> DataFrame:
    """Quantile readout over a :func:`hdr_histogram` frame: nearest-rank
    (smallest bucket whose cumulative count reaches ``ceil(q * n)``),
    reported as the bucket's MIDPOINT value — deterministic integer
    cumsum + one conditional-min aggregation per requested quantile,
    engine-portable end to end.  ``probs`` defaults to the p50/p90/p99
    monitoring triple; keys become output column names.

    Scale shape: one #buckets-row window per group + one aggregation —
    the events never participate (they already collapsed into the
    histogram, possibly hours or merges ago)."""
    if probs is None:
        probs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    b = int(sub_bits)
    shift = F.floor(F.col("bucket") / F.lit(1 << (b + 2))).cast("int")
    top = F.col("bucket") - shift.cast("long") * F.lit(1 << (b + 2))
    lo = F.call_function("shiftleft", top, shift)
    hi = lo + F.call_function("shiftleft", F.lit(1).cast("long"), shift) - F.lit(1)
    rep = (lo + hi).cast("double") / F.lit(2.0) / F.lit(float(scale))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*group_cols)
    cum = (
        hist.withColumn("_rep", rep)
        .withColumn("_cum", F.sum("n").over(w))
        .withColumn("_n", F.sum("n").over(wn))
    )
    aggs = [
        F.round(
            F.min(
                F.when(
                    F.col("_cum") >= F.ceil(F.lit(float(q)) * F.col("_n")),
                    F.col("_rep"),
                )
            ),
            round_to,
        ).alias(name)
        for name, q in probs.items()
    ]
    return cum.groupBy(*group_cols).agg(*aggs)


def sql_hdr_quantiles(
    source_sql: str,
    group_cols: list[str],
    value_col: str = "value",
    probs: dict[str, float] | None = None,
    scale: int = HDR_SCALE,
    sub_bits: int = HDR_SUB_BITS,
    round_to: int = 9,
) -> str:
    """DuckDB mirror of ``hdr_histogram`` + ``hdr_quantiles`` over a
    source relation (same bin()-length exponent, same shift-major
    bucket encoding, same nearest-rank readout)."""
    if probs is None:
        probs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    b = int(sub_bits)
    groups = ", ".join(group_cols)
    iv = f"CAST(floor({value_col} * {int(scale)}) AS BIGINT)"
    reads = ",\n               ".join(
        f"round(MIN(CASE WHEN cum >= ceil({q!r} * n_total)"
        f" THEN rep END), {round_to}) AS {name}"
        for name, q in probs.items()
    )
    return f"""
        WITH hdr_iv AS (
          SELECT {groups}, {iv} AS iv
          FROM ({source_sql}) WHERE {value_col} IS NOT NULL
        ),
        hdr_b AS (
          SELECT {groups},
                 greatest(length(bin(iv)) - {b + 1}, 0) AS sh,
                 iv
          FROM hdr_iv
        ),
        hdr_hist AS (
          SELECT {groups},
                 sh * {1 << (b + 2)} + (iv // power(2, sh)::BIGINT)
                   AS bucket,
                 COUNT(*) AS n
          FROM hdr_b GROUP BY ALL
        ),
        hdr_rep AS (
          SELECT {groups}, bucket, n,
                 bucket // {1 << (b + 2)} AS sh,
                 bucket % {1 << (b + 2)} AS top
          FROM hdr_hist
        ),
        hdr_cum AS (
          SELECT {groups},
                 CAST((top * power(2, sh)::BIGINT)
                      + (top * power(2, sh)::BIGINT
                         + power(2, sh)::BIGINT - 1) AS DOUBLE)
                   / 2.0 / {float(scale)!r} AS rep,
                 SUM(n) OVER (PARTITION BY {groups} ORDER BY bucket ASC
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(n) OVER (PARTITION BY {groups}) AS n_total
          FROM hdr_rep
        )
        SELECT {groups},
               {reads}
        FROM hdr_cum GROUP BY {groups}
    """
