"""Event-stream operators over `events` — the batch twins of the Structured
Streaming pipeline in pumle_spark.streaming (SURVEY §2.12: the reference is
batch-only; streaming is an engine extension).

Every query here is the exact batch semantics of a streaming counterpart:
- events_hourly_rollup  ↔ tumbling-window groupBy(window('ts','1 hour'))
- events_sessionize     ↔ session windows / applyInPandasWithState
- events_user_activity  ↔ stateful per-key running aggregates
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.functions import money
from pumle_spark.operators.topk import ranked_topk
from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register

_SESSION_GAP_US = 1800 * 1_000_000  # 30 min


def _stage_with_sentinel(events: DataFrame, src: str, copies: int = 1) -> None:
    """Stage ``events`` as ``copies`` parquet files under ``src``, then one
    far-future sentinel row (event_type 'sentinel', ts 100 days past the
    last event) whose file pushes the watermark past every real window.
    The sentinel takes ``events``' columns; finals filter it back out."""
    for _ in range(copies):
        events.coalesce(1).write.mode("append").parquet(src)
    fill = {
        "event_id": F.lit(10**9) + F.max("event_id"),
        "ts": F.max("ts") + F.expr("INTERVAL 100 DAYS"),
        "user_id": F.lit(-1).cast("bigint"),
        "event_type": F.lit("sentinel"),
        "value": F.lit(0.0),
    }
    sentinel = events.agg(*(fill[c].alias(c) for c in events.columns))
    sentinel.coalesce(1).write.mode("append").parquet(src)


@register(
    "stream_hourly_rollup_final",
    sql=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           COUNT(*)             AS n_events,
           {money.sql_money2("value", money.CENTS)} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "streaming", "window-agg"),
)
def stream_hourly_rollup_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING engine under the driver's hash gate: stage `events` as
    a file stream (one data file + one far-future sentinel file that pushes
    the watermark past every real window), drive stream_events_hourly to
    completion through a real StreamingQuery, and return the final emitted
    table. The DuckDB oracle is the plain batch rollup — append-mode
    watermarked streaming must converge to exactly the batch aggregates
    once every window is closed (the same equivalence the pytest gates pin,
    now scored by the driver too)."""
    from pumle_spark.streaming.pipeline import closed_stream, stream_events_hourly

    events = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    with closed_stream(spark, "stream_hourly_final_") as run:
        src = f"{run.dir}/src"
        _stage_with_sentinel(events, src)
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        ).parquet(src)
        return run.drain(
            stream_events_hourly(stream, watermark="2 hours"),
            lambda rows: rows.filter(F.col("event_type") != "sentinel"),
        )


@register(
    "events_hourly_rollup",
    sql=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           event_type,
           COUNT(*)                  AS n_events,
           {money.sql_money2("value", money.CENTS)} AS sum_value,
           COUNT(DISTINCT user_id)   AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("events", "window-agg", "streaming-twin"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event type — the batch semantics of
    readStream → groupBy(window(ts, '1 hour'), event_type) with a watermark.
    """
    e = table(spark, sf_dir, "events")
    # r11: group on the 8-byte truncated timestamp and format AFTER the
    # aggregation — the string render runs once per output group instead of
    # once per event row, and the shuffle key narrows from a 19-char string
    # to a long. Identical output (date_format of the truncated hour).
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("_h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money.sum_money2(F.col("value"), money.CENTS).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("_h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


@register(
    "events_sessionize",
    sql=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
    flagged AS (
      SELECT user_id, event_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS INTEGER) AS session_id,
           COUNT(*) AS n_events,
           ROUND((MAX(tus) - MIN(tus)) / 1000000.0, 6) AS duration_sec
    FROM sess
    GROUP BY user_id, session_id
    """,
    tags=("events", "sessionize", "streaming-twin"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity ends a session): lag →
    new-session flag → running sum = session id → per-session rollup.

    Batch twin of session windows in Structured Streaming
    (applyInPandasWithState / session_window). One shuffle on user_id; the
    two windows and the final groupBy share that partitioning.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("tus").over(w).isNull()
            | ((F.col("tus") - F.lag("tus").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(wsum))
    return (
        sess.groupBy("user_id", F.col("session_id").cast("int").alias("session_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round((F.max("tus") - F.min("tus")) / 1_000_000.0, 6).alias("duration_sec"),
        )
    )


@register(
    "events_asof_purchase_view",
    sql="""
    WITH p AS (SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS ptus
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, epoch_us(ts) AS vtus, MAX(event_id) AS view_event_id
               FROM events WHERE event_type = 'view'
               GROUP BY user_id, epoch_us(ts)),
    j AS (
      SELECT p.user_id, p.purchase_event_id, p.ptus, v.view_event_id, v.vtus
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ptus >= v.vtus
    )
    SELECT user_id, purchase_event_id, view_event_id,
           ROUND((ptus - vtus) / 1000000.0, 6) AS gap_sec
    FROM j
    """,
    tags=("events", "asof", "join"),
)
def events_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    at-or-before view event (NULL if none).

    Implemented with pumle_spark.operators.joins.asof_join — the union +
    last(ignorenulls) window form: ONE shuffle on user_id, no range
    explosion, versus the quadratic theta-join a naive translation would
    produce. The right side is pre-deduped to one row per (user, ts) so
    tie-breaks are engine-independent.
    """
    from pumle_spark.operators.joins import asof_join

    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("ptus"),
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.unix_micros("ts").alias("vtus"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    joined = asof_join(
        p,
        v.select("user_id", "vtus", "view_event_id", F.col("vtus").alias("view_tus")),
        on=["user_id"],
        left_ts="ptus",
        right_ts="vtus",
        value_cols=["view_event_id", "view_tus"],
    )
    return joined.select(
        "user_id",
        "purchase_event_id",
        "view_event_id",
        F.round((F.col("ptus") - F.col("view_tus")) / 1_000_000.0, 6).alias("gap_sec"),
    )


@register(
    "events_json_extract",
    sql="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
    FROM events
    """,
    tags=("events", "json", "F15"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string payload column (F15 to_json/
    from_json family) — schema-on-read without a full from_json parse."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


@register(
    "events_user_activity",
    sql=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           {money.sql_money2("value", money.CENTS)} AS sum_value,
           ROUND(MAX(value), 6) AS max_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    GROUP BY user_id
    """,
    tags=("events", "agg"),
)
def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile — the stateful per-key aggregate a streaming
    job would maintain; here one hash aggregation pass."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        money.sum_money2(F.col("value"), money.CENTS).alias("sum_value"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )


@register(
    "events_funnel_conversion",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
    )
    SELECT stage, n_users,
           ROUND(CAST(n_users AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 4) AS conv_from_view
    FROM (
      SELECT 1 AS ord, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
      UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM c)
      UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM p)
    ) ORDER BY ord
    """,
    tags=("events", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel: first view → first click AFTER that view →
    first purchase AFTER that click, per user; output is users-per-stage
    with conversion from the top of the funnel.

    Shape at scale: three conditional min-aggregations, each a shuffle on
    user_id — the per-stage join reuses that same partitioning, and each
    stage's input shrinks monotonically (classic funnel pruning). No
    windows, no event explosion."""
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("nv"))
    rows = [
        v.agg(F.lit("view").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit("click").alias("stage"), F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit("purchase").alias("stage"), F.count(F.lit(1)).alias("n_users")),
    ]
    out = rows[0].unionByName(rows[1]).unionByName(rows[2])
    return out.crossJoin(F.broadcast(nv)).select(
        "stage",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("nv"), 4).alias("conv_from_view"),
    )


@register(
    "events_session_window_builtin",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus FROM events
    ),
    flagged AS (
      SELECT user_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(tus) AS session_start_us,
           MIN(tus) + (MAX(tus) - MIN(tus)) + {_SESSION_GAP_US} AS session_end_us,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=("events", "session", "window"),
)
def events_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sessionization as events_sessionize, but through Spark's
    native ``session_window`` operator — the one Structured Streaming uses
    for stateful session aggregation (its batch and streaming semantics are
    identical, which is why this query exists: it pins the builtin against
    the gaps-and-islands SQL formulation, probe-verified to merge on
    diff == gap exactly). session_window.end is max(ts)+gap by definition,
    so the oracle reconstructs it arithmetically.

    Scale note: one shuffle on user_id, sessions merged map-side per
    partition — unlike the lag/running-sum formulation this needs no second
    window pass, and it is the only formulation that carries over to the
    streaming path with state eviction."""
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    gap_sec = _SESSION_GAP_US // 1_000_000
    return (
        e.groupBy("user_id", F.session_window("ts", f"{gap_sec} seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )


_GRID_STEP_US = 3600 * 1_000_000  # hourly slots
_GRID_CAP = 1000  # ≥ hours in any test window (30 days = 720)
_GAPFILL_USER_MOD = 10  # user subset: user_id % 10 == 0


@register(
    "events_gapfill_interpolate",
    sql=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tus, value
      FROM events WHERE user_id % {_GAPFILL_USER_MOD} = 0
    ),
    bounds AS (
      SELECT (MIN(tus) // {_GRID_STEP_US}) * {_GRID_STEP_US} AS h0,
             (MAX(tus) // {_GRID_STEP_US}) AS hmax
      FROM ev
    ),
    slots AS (
      SELECT b.h0 + g.i * {_GRID_STEP_US} AS tus
      FROM bounds b CROSS JOIN generate_series(0, {_GRID_CAP}) g(i)
      WHERE b.h0 + g.i * {_GRID_STEP_US} <= b.hmax * {_GRID_STEP_US}
    ),
    unioned AS (
      SELECT user_id, tus, value, 1 AS is_event FROM ev
      UNION ALL
      SELECT u.user_id, s.tus, NULL AS value, 0 AS is_event
      FROM (SELECT DISTINCT user_id FROM ev) u CROSS JOIN slots s
    ),
    walled AS (
      SELECT user_id, tus, is_event,
             LAST_VALUE(value IGNORE NULLS) OVER wprev AS pv,
             LAST_VALUE(CASE WHEN is_event = 1 THEN tus END IGNORE NULLS) OVER wprev AS pt,
             FIRST_VALUE(value IGNORE NULLS) OVER wnext AS nv,
             FIRST_VALUE(CASE WHEN is_event = 1 THEN tus END IGNORE NULLS) OVER wnext AS nt
      FROM unioned
      WINDOW
        wprev AS (PARTITION BY user_id ORDER BY tus, is_event DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wnext AS (PARTITION BY user_id ORDER BY tus, is_event DESC
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, tus AS slot_us,
           ROUND(pv + (nv - pv) * ((tus - pt) / CAST(nt - pt AS DOUBLE)), 6)
             AS value_interp
    FROM walled
    WHERE is_event = 0 AND pv IS NOT NULL AND nv IS NOT NULL
    """,
    tags=("events", "timeseries", "gapfill"),
)
def events_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill: linear interpolation of `value` onto an hourly
    grid per user (the hypertable `time_bucket_gapfill + interpolate`
    surface). One union of events + grid slots, one window pass backward
    (last event at-or-before the slot) and one forward (first event strictly
    after), interpolate in plain arithmetic; slots outside a user's event
    span stay absent (no extrapolation).

    Ordering contract at a slot that coincides with an event: the event
    sorts BEFORE the slot (is_event DESC), so the backward window sees it
    (prev = value at the slot instant, interpolation degenerates to exactly
    that value) and the forward window — which starts 1 ROW FOLLOWING —
    does not. Both engines state the identical window, so the tie is not
    engine-dependent.

    Scale shape: the grid is constant-size per time range (a broadcast),
    events shuffle once on user_id, both windows share that partitioning.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") % _GAPFILL_USER_MOD == 0)
        .select("user_id", F.unix_micros("ts").alias("tus"), "value")
    )
    step = F.lit(_GRID_STEP_US).cast("long")
    bounds = ev.select(
        (F.floor(F.min("tus") / step) * step).cast("long").alias("h0"),
        F.floor(F.max("tus") / step).cast("long").alias("hmax"),
    )
    slots = (
        bounds.select(F.explode(F.sequence(F.lit(0), F.lit(_GRID_CAP))).alias("i"), "h0", "hmax")
        .withColumn("tus", F.col("h0") + F.col("i") * step)
        .filter(F.col("tus") <= F.col("hmax") * step)
        .select("tus")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(slots)).select(
        "user_id", "tus", F.lit(None).cast("double").alias("value"), F.lit(0).alias("is_event")
    )
    unioned = ev.select("user_id", "tus", "value", F.lit(1).alias("is_event")).unionByName(grid)
    wprev = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tus"), F.col("is_event").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tus"), F.col("is_event").desc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ev_tus = F.when(F.col("is_event") == 1, F.col("tus"))
    walled = unioned.select(
        "user_id",
        "tus",
        "is_event",
        F.last("value", ignorenulls=True).over(wprev).alias("pv"),
        F.last(ev_tus, ignorenulls=True).over(wprev).alias("pt"),
        F.first("value", ignorenulls=True).over(wnext).alias("nv"),
        F.first(ev_tus, ignorenulls=True).over(wnext).alias("nt"),
    )
    frac = (F.col("tus") - F.col("pt")) / (F.col("nt") - F.col("pt")).cast("double")
    return (
        walled.filter((F.col("is_event") == 0) & F.col("pv").isNotNull() & F.col("nv").isNotNull())
        .select(
            "user_id",
            F.col("tus").alias("slot_us"),
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6).alias("value_interp"),
        )
    )


# --------------------------------------------------------------------------
# SCD2 state history (CDC → slowly-changing-dimension build)
# --------------------------------------------------------------------------


@register(
    "scd2_user_state_intervals",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, tus, event_id,
             CASE WHEN LAG(event_type) OVER w IS NULL
                       OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, tus,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ),
    per AS (
      SELECT user_id, CAST(version AS INTEGER) AS version,
             MIN(event_type) AS state,
             MIN(tus) AS valid_from_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, version
    )
    SELECT user_id, version, state, valid_from_us,
           LEAD(valid_from_us) OVER wv AS valid_to_us,
           LEAD(valid_from_us) OVER wv IS NULL AS is_current,
           n_events
    FROM per WINDOW wv AS (PARTITION BY user_id ORDER BY version)
    """,
    tags=("events", "scd2", "cdc"),
)
def scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build from an event stream: collapse each user's
    consecutive same-state events into one versioned run, emit half-open
    validity intervals [valid_from, valid_to) with the current run open
    (valid_to NULL, is_current true). The CDC→dimension pattern: the same
    shape maintains any slowly-changing dimension from a change feed.

    One shuffle on user_id; the change-flag lag, the version running sum,
    the run rollup, and the interval lead all share that partitioning —
    Catalyst plans a single exchange."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "version", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    per = runs.groupBy("user_id", F.col("version").cast("int").alias("version")).agg(
        F.min("event_type").alias("state"),
        F.min("tus").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return per.select(
        "user_id",
        "version",
        "state",
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
        F.lead("valid_from_us").over(wv).isNull().alias("is_current"),
        "n_events",
    )


# --------------------------------------------------------------------------
# interval-overlap join (banded temporal self-join over sessions)
# --------------------------------------------------------------------------

_BUCKET_US = 3600 * 1_000_000  # 1-hour band for the overlap prefilter
_OVERLAP_TOPK = 100  # co-presence pairs to report (bounds the O(users²) output)


@register(
    "interval_overlap_sessions",
    sql=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
    flagged AS (
      SELECT user_id, tus, event_id,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS ns
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    iv AS (
      SELECT user_id, sid, MIN(tus) AS ivs, MAX(tus) AS ive
      FROM sess GROUP BY user_id, sid
    ),
    ov AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             LEAST(a.ive, b.ive) - GREATEST(a.ivs, b.ivs) AS ov_us
      FROM iv a JOIN iv b
        ON a.user_id < b.user_id AND a.ivs <= b.ive AND b.ivs <= a.ive
    )
    SELECT user_a, user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(ov_us) AS BIGINT) AS overlap_us_total
    FROM ov GROUP BY user_a, user_b
    ORDER BY overlap_us_total DESC, user_a, user_b
    LIMIT {_OVERLAP_TOPK}
    """,
    tags=("events", "interval-join", "banded"),
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join over gap-based sessions: for every pair
    of users with concurrently-open sessions, the count of overlapping
    session pairs and the total overlap time. The temporal-join shape that
    powers co-presence / concurrency analytics.

    Scale shape (the whole point): a naive overlap join is a quadratic
    theta join (the DuckDB oracle runs exactly that, via its IEJoin). The
    Spark path BANDS time into 1-hour buckets: each session explodes to
    the buckets it touches (sessions are gap-bounded, so almost always
    1-2), pairs meet through a bucket equi-join — a hash shuffle Spark
    executes at any scale — are deduped on session ids (a pair can share
    several buckets), and only then verified with the exact overlap
    predicate. Cost is Σ_bucket c², the same bucketize-verify economics as
    the LSH dedup family.

    Output is the top-{_OVERLAP_TOPK} pairs by total overlap
    (TakeOrderedAndProject — per-partition heads, driver merges
    {_OVERLAP_TOPK} rows): the full pair aggregate is O(concurrent
    users²) rows — measured 14.2M at the sf1 step — so an unbounded
    emit, not the join, is what breaks at scale."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "ns",
        F.when(
            F.lag("tus").over(w).isNull()
            | ((F.col("tus") - F.lag("tus").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("ivs"), F.max("tus").alias("ive")
    )
    banded = iv.select(
        "user_id",
        "sid",
        "ivs",
        "ive",
        F.explode(
            # integer div: a double quotient of ~1e15 µs can floor into the
            # wrong band at bucket boundaries
            F.sequence(F.expr(f"ivs div {_BUCKET_US}"), F.expr(f"ive div {_BUCKET_US}"))
        ).alias("bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.sid").alias("sid_a"),
            F.col("a.ivs").alias("as_"),
            F.col("a.ive").alias("ae"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.sid").alias("sid_b"),
            F.col("b.ivs").alias("bs"),
            F.col("b.ive").alias("be"),
        )
        .distinct()  # a session pair can meet in several buckets
        .filter((F.col("as_") <= F.col("be")) & (F.col("bs") <= F.col("ae")))
    )
    ov = F.least("ae", "be") - F.greatest("as_", "bs")
    return (
        cand.groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            F.sum(ov).cast("bigint").alias("overlap_us_total"),
        )
        .orderBy(F.col("overlap_us_total").desc(), "user_a", "user_b")
        .limit(_OVERLAP_TOPK)
    )


# --------------------------------------------------------------------------
# stream-stream interval join under the driver gate
# --------------------------------------------------------------------------


@register(
    "stream_join_click_attribution",
    sql="""
    SELECT c.user_id,
           c.event_id AS click_event_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
    tags=("events", "streaming", "stream-stream-join"),
)
def stream_join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the driver's hash gate: clicks and
    purchases are staged as two file streams, joined by
    streaming.pipeline.stream_click_attribution through a real
    StreamingQuery (watermarked two-stream state), and the emitted pairs
    are returned. The DuckDB oracle is the plain batch interval join —
    a green row proves the streaming join converges to batch semantics,
    the same equivalence contract as stream_hourly_rollup_final."""
    from pumle_spark.streaming.pipeline import closed_stream, stream_click_attribution

    cols = ["event_id", "ts", "user_id", "event_type"]
    events = table(spark, sf_dir, "events").select(*cols)
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string"
    with closed_stream(spark, "stream_join_attr_") as run:
        sides = []
        for kind in ("click", "purchase"):
            src = f"{run.dir}/{kind}"
            events.filter(F.col("event_type") == kind).coalesce(1).write.parquet(src)
            sides.append(spark.readStream.schema(schema).parquet(src))
        return run.drain(stream_click_attribution(*sides))


# --------------------------------------------------------------------------
# multi-touch attribution (linear credit within the lookback window)
# --------------------------------------------------------------------------


@register(
    "attribution_linear_credit",
    sql="""
    WITH pairs AS (
      SELECT c.event_id AS click_event_id,
             p.event_id AS purchase_event_id,
             p.value AS purchase_value,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM events c
      JOIN events p
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    )
    SELECT click_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           -- exact integer credit per touch (micro-units, trunc division)
           -- so the SUM is fold-order independent; BIGINT cast defuses
           -- DuckDB's HUGEINT widening of SUM()
           ROUND(CAST(SUM(CAST(ROUND(purchase_value * 1000000) AS BIGINT)
                          // n_touches) AS BIGINT) / 1000000.0, 6)
             AS credited_value
    FROM pairs GROUP BY click_event_id
    """,
    tags=("events", "attribution", "marketing"),
)
def attribution_linear_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across every click by the same user in the preceding hour;
    per click, the number of conversions it participated in and its total
    credited value. The step after the interval join — turning matched
    touchpoints into a credit assignment (ads/marketing analytics; the
    same shape weights training examples by provenance).

    Determinism: each touch's credit is an EXACT integer — the purchase
    value in micro-units trunc-divided by n_touches (Spark div and DuckDB
    // both truncate toward zero; n_touches is an exact window count) — so
    the per-click SUM is a BIGINT fold, independent of partitioning and
    accumulation order on both engines; a double quotient sum here could
    flip the 6th decimal at rounding boundaries depending on fold order.
    Each credit under-counts by at most n_touches-1 micro-units, a
    documented contract of this query. Plan: the interval
    join shuffles on user_id; the touch-count window repartitions on
    purchase id; the final groupBy on click id — three keyed exchanges,
    no driver round-trips."""
    e = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    c = e.filter(F.col("event_type") == "click").alias("c")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    pairs = c.join(
        p,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("interval 1 hour")),
    ).select(
        F.col("c.event_id").alias("click_event_id"),
        F.col("p.event_id").alias("purchase_event_id"),
        F.col("p.value").alias("purchase_value"),
    )
    wt = Window.partitionBy("purchase_event_id")
    credited = pairs.withColumn("n_touches", F.count(F.lit(1)).over(wt))
    credit_micro = F.expr(
        "CAST(ROUND(purchase_value * 1000000) AS BIGINT) div n_touches"
    )
    return credited.groupBy("click_event_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.sum(credit_micro) / F.lit(1000000.0), 6).alias("credited_value"),
    )


# --------------------------------------------------------------------------
# streaming dedup under the driver gate (at-least-once replay → exactly-once)
# --------------------------------------------------------------------------


@register(
    "stream_dedup_events_final",
    sql="""
    SELECT event_type,
           COUNT(*)                AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           -- micro-unit BIGINT sum: fold-order independent on both engines
           ROUND(CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                 / 1000000.0, 2)   AS sum_value
    FROM events
    GROUP BY event_type
    """,
    tags=("events", "streaming", "dedup"),
)
def stream_dedup_events_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup under the driver's hash gate: the events
    table is staged TWICE into a file stream (simulating the at-least-once
    replay every real broker delivers), plus a far-future sentinel file
    that pushes the watermark past all real rows. The stream runs through
    streaming.pipeline.stream_dedup_events (dropDuplicatesWithinWatermark
    on event_id — bounded state, evicted as the watermark passes) to
    completion, and the deduped output is batch-aggregated per event_type.
    The DuckDB oracle aggregates the SINGLE-copy events table — a green row
    proves the doubled input collapsed to exactly-once semantics.

    Determinism: the doubled copies are bit-identical rows, so whichever
    copy survives dedup yields the same values; the value sum is an exact
    micro-unit BIGINT fold on both engines (same idiom as
    attribution_linear_credit)."""
    from pumle_spark.streaming.pipeline import closed_stream, stream_dedup_events

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    events = table(spark, sf_dir, "events").select(*cols)
    with closed_stream(spark, "stream_dedup_final_") as run:
        src = f"{run.dir}/src"
        _stage_with_sentinel(events, src, copies=2)  # copy 2 is the replay
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
        ).parquet(src)
        return run.drain(
            stream_dedup_events(stream, watermark="1 hour"),
            lambda rows: rows.filter(F.col("event_type") != "sentinel")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                F.round(
                    F.sum(F.round(F.col("value") * 1000000).cast("bigint")) / F.lit(1000000.0),
                    2,
                ).alias("sum_value"),
            ),
        )


# --------------------------------------------------------------------------
# per-user EWMA (sequential stateful fold, JVM higher-order functions)
# --------------------------------------------------------------------------

# smoothing factor alpha = 1/4 as the exact update s' = (3*s + x) div 4:
# operands stay positive (event values are > 0), so Spark's trunc `div`
# and DuckDB's floor `//` agree and the recurrence is pure BIGINT.
_EWMA_DECAY_NUM, _EWMA_DECAY_DEN = 3, 4


@register(
    "events_ewma_smoothing",
    sql=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             CAST(ROUND(value * 1000000) AS BIGINT) AS x
      FROM events
    ),
    rec AS (
      SELECT user_id, rn, x AS s FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.user_id, q.rn,
             ({_EWMA_DECAY_NUM} * r.s + q.x) // {_EWMA_DECAY_DEN}
      FROM rec r JOIN seq q ON q.user_id = r.user_id AND q.rn = r.rn + 1
    ),
    last AS (SELECT user_id, MAX(rn) AS n FROM rec GROUP BY user_id)
    SELECT r.user_id,
           CAST(l.n AS BIGINT) AS n_events,
           CAST(r.s AS BIGINT) AS ewma_micro
    FROM rec r JOIN last l ON l.user_id = r.user_id AND r.rn = l.n
    """,
    tags=("events", "time-series", "stateful-fold"),
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final exponentially-weighted moving average of each user's event
    values (alpha = 1/{_EWMA_DECAY_DEN}) — the sequential stateful
    recurrence (s' = (1-a)s + a·x) that anomaly detectors, rate limiters,
    and engagement scores all reduce to, and that plain SQL aggregation
    cannot express.

    Engine surface: the fold runs INSIDE the JVM via higher-order
    functions — per user, events are collected as (ts, event_id, x)
    structs, sort_array gives the deterministic event-time order (ties
    broken by the unique event_id), and F.aggregate folds the exact
    integer recurrence left-to-right. No Python, no UDF, no window
    self-join; one shuffle on user_id. The DuckDB oracle is a recursive
    CTE walking rn = 1,2,... per user — engine-independent because every
    step is positive BIGINT arithmetic ((3s + x) div 4), so trunc-vs-floor
    division can never diverge.

    Scale: state per key is one struct array bounded by the user's event
    count — the same per-key bound every sessionizer accepts; the fold
    itself is O(n) per user and partitions freely across users."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.struct(
            "ts", "event_id", F.round(F.col("value") * 1000000).cast("bigint").alias("x")
        ).alias("r"),
    )
    return (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("r")).alias("rs"))
        .select(
            "user_id",
            F.size("rs").cast("bigint").alias("n_events"),
            F.expr(
                f"""aggregate(
                       transform(slice(rs, 2, size(rs) - 1), r -> r.x),
                       rs[0].x,
                       (acc, x) -> ({_EWMA_DECAY_NUM} * acc + x) div {_EWMA_DECAY_DEN}
                   )"""
            ).alias("ewma_micro"),
        )
    )


# --------------------------------------------------------------------------
# rate-anomaly detection (trailing-window z-score, integer-exact moments)
# --------------------------------------------------------------------------

_ZS_LOOKBACK = 24  # trailing observed hours in the baseline window
_ZS_MIN_N = 12     # minimum baseline hours before scoring


@register(
    "events_rate_anomaly",
    sql=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, hr, x,
             CAST(COUNT(*) OVER tw AS BIGINT)    AS n,
             CAST(SUM(x) OVER tw AS BIGINT)      AS sx,
             CAST(SUM(x * x) OVER tw AS BIGINT)  AS sxx
      FROM h
      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN {_ZS_LOOKBACK} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           x AS n_events,
           ROUND((x * n - sx) / sqrt(CAST(n * (n * sxx - sx * sx) AS DOUBLE)), 4)
             AS zscore,
           n * (x * n - sx) * (x * n - sx) > 9 * (n * (n * sxx - sx * sx))
             AS is_spike
    FROM w
    -- only scored hours are emitted: a NULLABLE BOOLEAN output column is a
    -- fetch-path hazard (pandas renders DuckDB's NULL bool as NaN but
    -- Spark's as None), so the insufficient-baseline rows are filtered,
    -- not NULL-scored
    WHERE n >= {_ZS_MIN_N} AND n * sxx - sx * sx > 0
    """,
    tags=("events", "time-series", "anomaly"),
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour event-rate anomaly score: each (event_type, hour) count is
    z-scored against the {_ZS_LOOKBACK} previously OBSERVED hours of the
    same type (rows-frame trailing window, current hour excluded), with a
    3-sigma spike flag — the monitoring primitive behind ingestion alarms
    and traffic-shift detection. Hours with fewer than {_ZS_MIN_N} baseline
    points or zero baseline variance are filtered out, not NULL-scored: a
    nullable boolean output is a driver fetch-path hazard (pandas renders
    DuckDB NULL booleans as NaN, Spark's as None).

    Determinism: counts are integers, so the baseline moments (n, Σx, Σx²)
    are EXACT integer window sums and the spike predicate is the exact
    cross-multiplied form n·(x·n−Σx)² > 9·n·(n·Σx²−(Σx)²) — no double
    enters until the single reported z value (one sqrt over identical
    integer operands on both engines; population σ).

    Scale shape: one groupBy to hourly grain (map-side partial counts over
    the raw stream), then a keyed window whose frame is {_ZS_LOOKBACK}
    rows per partition — bounded state per event type, the same economics
    as a streaming sliding aggregate."""
    e = table(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("x"))
    tw = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-_ZS_LOOKBACK, -1)
    )
    w = h.select(
        "event_type",
        "hr",
        "x",
        F.count(F.lit(1)).over(tw).cast("bigint").alias("n"),
        F.sum("x").over(tw).cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(tw).cast("bigint").alias("sxx"),
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dev = F.col("x") * F.col("n") - F.col("sx")
    return (
        w.filter((F.col("n") >= _ZS_MIN_N) & (var_num > 0))
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.col("x").alias("n_events"),
            F.round(dev / F.sqrt((F.col("n") * var_num).cast("double")), 4).alias("zscore"),
            (F.col("n") * dev * dev > 9 * (F.col("n") * var_num)).alias("is_spike"),
        )
    )


# --------------------------------------------------------------------------
# session path analysis (top event-type sequences)
# --------------------------------------------------------------------------

_PATH_MAX_STEPS = 8
_PATH_TOPK = 20


@register(
    "events_session_paths",
    sql=f"""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
    flagged AS (
      SELECT user_id, event_id, event_type, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    stepped AS (
      SELECT user_id, session_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY tus, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM stepped WHERE rn <= {_PATH_MAX_STEPS}
      GROUP BY user_id, session_id
    ),
    counted AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path)
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT path, n_sessions,
                 ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk
          FROM counted)
    WHERE rnk <= {_PATH_TOPK}
    """,
    tags=("events", "sessionize", "path-analysis"),
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PATH_TOPK} most common session journeys: the same gap-based
    sessionization as events_sessionize, each session rendered as its
    ordered event-type sequence (first {_PATH_MAX_STEPS} steps), counted
    across all sessions — the path-analysis view every product-analytics
    suite ships ("what do users actually do?"), and the input to Markov /
    next-action models.

    The per-session path is built from deterministically ordered steps
    ((ts, event_id) total order) so both engines agg the identical string;
    the step cap bounds per-session state exactly like the sessionizer's
    per-key contract. One shuffle on user_id feeds the session windows and
    the path build; path counting is a vocabulary-sized groupBy; the top-k
    is a TakeOrdered, not a global sort."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag("tus").over(w).isNull()
            | ((F.col("tus") - F.lag("tus").over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    stepped = sess.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("tus", "event_id")
        ),
    ).filter(F.col("rn") <= _PATH_MAX_STEPS)
    paths = (
        stepped.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(rn, event_type))), s -> s.event_type)"),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    return ranked_topk(counted, _PATH_TOPK, "n_sessions", "path").select(
        "path", "n_sessions", "rnk"
    )


# --------------------------------------------------------------------------
# time-weighted average value (TWAP over a step function of events)
# --------------------------------------------------------------------------


@register(
    "events_time_weighted_value",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
      FROM events
    ),
    iv AS (
      SELECT user_id, vmic,
             LEAD(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
               - tus AS dt_us
      FROM e
    ),
    agg AS (
      SELECT user_id,
             COUNT(*) AS n_intervals,
             SUM(dt_us) AS span_us,
             SUM(CAST(vmic AS HUGEINT) * dt_us) AS wsum
      FROM iv WHERE dt_us IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_intervals AS BIGINT) AS n_intervals,
           CAST(span_us AS BIGINT) AS span_us,
           -- all events in one microsecond → zero span → NULL, not a crash
           ROUND(CAST(wsum AS DOUBLE) / NULLIF(CAST(span_us AS DOUBLE), 0.0)
                 / 1000000.0, 6) AS twap_value
    FROM agg
    ORDER BY user_id
    """,
    tags=("events", "window", "time-weighted"),
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user — the TWAP/metering
    semantics (billing, position, gauge readings): each event's value holds
    until the next event, so the mean must weight by holding duration, not
    by event count. A user who spikes to 100 for one second and sits at 1
    for a day averages ~1, which a plain AVG gets wrong.

    Exactness: value is quantized once to integer micro-units (one ROUND,
    same expression both engines), durations are integer microseconds from
    unix_micros, and the weighted sum accumulates exactly — DECIMAL(38,0)
    on Spark, HUGEINT on DuckDB, both exact integer containers, so the
    per-user totals are bit-identical under any partitioning (value·dt
    reaches ~5e21, past BIGINT). Only the final TWAP divides, one double
    expression mirrored on both engines.

    Scale: one shuffle on user_id for the LEAD window; the groupBy reuses
    that partitioning (no second exchange). State per row is O(1); no
    driver-side anything. The streaming twin of this shape is
    applyInPandasWithState in streaming/ — this is the batch contract.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vmic"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    iv = e.select(
        "user_id", "vmic", (F.lead("tus").over(w) - F.col("tus")).alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    agg = iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dt_us").alias("span_us"),
        F.sum(F.col("vmic").cast("decimal(38,0)") * F.col("dt_us")).alias("wsum"),
    )
    return agg.select(
        "user_id",
        F.col("n_intervals").cast("bigint").alias("n_intervals"),
        F.col("span_us").cast("bigint").alias("span_us"),
        F.round(
            F.col("wsum").cast("double")
            / F.nullif(F.col("span_us").cast("double"), F.lit(0.0))
            / 1_000_000.0,
            6,
        ).alias("twap_value"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# point-in-time join: purchases against the SCD2 activity dimension
# --------------------------------------------------------------------------


@register(
    "join_point_in_time_state",
    sql="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vmic
      FROM events
    ),
    d AS (SELECT * FROM e WHERE event_type <> 'purchase'),
    flagged AS (
      SELECT user_id, event_type, tus, event_id,
             CASE WHEN LAG(event_type) OVER w IS NULL
                       OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM d WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, tus,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged
    ),
    per AS (
      SELECT user_id, CAST(version AS INTEGER) AS version,
             MIN(event_type) AS state, MIN(tus) AS valid_from_us
      FROM runs GROUP BY user_id, version
    ),
    iv AS (
      SELECT user_id, version, state, valid_from_us,
             LEAD(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to_us
      FROM per
    ),
    p AS (SELECT user_id, event_id, tus, vmic FROM e WHERE event_type = 'purchase'),
    j AS (
      SELECT p.user_id, p.vmic, iv.state, iv.version
      FROM p LEFT JOIN iv
        ON iv.user_id = p.user_id
       AND iv.valid_from_us <= p.tus
       AND (iv.valid_to_us IS NULL OR p.tus < iv.valid_to_us)
    )
    SELECT COALESCE(state, 'none') AS state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(vmic) AS BIGINT) AS total_value_micro,
           CAST(MAX(version) AS INTEGER) AS max_version
    FROM j GROUP BY COALESCE(state, 'none')
    ORDER BY state
    """,
    tags=("events", "scd2", "asof", "point-in-time"),
)
def join_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct dimension join — the feature-store contract:
    each purchase is joined to the SCD2 activity state (built from the
    user's NON-purchase events, scd2_user_state_intervals' run collapse)
    that was valid AT the purchase instant, never to a later version (no
    feature leakage). "What was the user doing when they bought" per
    state, with purchases before any tracked activity kept as 'none'.

    The oracle formulates it as the textbook interval theta join
    (valid_from <= t < valid_to); the Spark plan is the single-shuffle
    as-of composition instead — dimension run-starts and purchases
    unioned, one window per user carries the latest run forward
    (operators/joins.py:asof_join), so no range predicate ever reaches
    the executor. Runs that would form an empty [t, t) interval (two
    state events in the same microsecond) are deduped to the surviving
    one — exactly the rows the interval join drops.

    Scale: SCD2 build, as-of fill, and purchase pickup all share ONE
    hash partitioning on user_id; the final state rollup is five rows.
    Integer micro-value sums; versions are exact integers.
    """
    from pumle_spark.operators.joins import asof_join

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vmic"),
    )
    d = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = d.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "version",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per = runs.groupBy("user_id", F.col("version").cast("int").alias("version")).agg(
        F.min("event_type").alias("state"), F.min("tus").alias("valid_from_us")
    )
    # drop empty [t, t) intervals: same user, same microsecond, two runs —
    # only the later (higher-version) one is ever valid
    iv = (
        per.withColumn(
            "rv",
            F.row_number().over(
                Window.partitionBy("user_id", "valid_from_us").orderBy(F.desc("version"))
            ),
        )
        .filter(F.col("rv") == 1)
        .select("user_id", "version", "state", "valid_from_us")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("tus").alias("ptus"), "vmic"
    )
    j = asof_join(
        p,
        iv,
        on=["user_id"],
        left_ts="ptus",
        right_ts="valid_from_us",
        value_cols=["state", "version"],
    )
    return (
        j.groupBy(F.coalesce(F.col("state"), F.lit("none")).alias("state"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum("vmic").cast("bigint").alias("total_value_micro"),
            F.max("version").cast("int").alias("max_version"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# rolling 7-day distinct active users (DAU / WAU / stickiness)
# --------------------------------------------------------------------------


@register(
    "events_rolling_active_users",
    sql="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    fan AS (
      SELECT du.day + j.j * INTERVAL '1 day' AS day_out, du.user_id
      FROM du CROSS JOIN (SELECT unnest(range(7)) AS j) j
    ),
    wau AS (
      SELECT CAST(day_out AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau7
      FROM fan GROUP BY CAST(day_out AS DATE)
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau7,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau7, 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    ORDER BY day
    """,
    tags=("events", "rolling-distinct", "dau-wau"),
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU, trailing-7-day WAU, and the DAU/WAU stickiness ratio per
    observed day — the rolling COUNT DISTINCT that window frames cannot
    express (distinct is not decomposable over a sliding frame).

    The classic exact rewrite: collapse to distinct (day, user) pairs
    FIRST (the only scan of the fact table), then fan each pair out to
    the 7 days it keeps the user "active" for and count distinct per
    target day. The fan-out is 7× the daily-distinct relation — already
    thousands of times smaller than the event log — so the exact answer
    stays cheap at any fact-table size; the approximate alternative
    (merging 7 daily HLLs per day, sketch_hll_setops' machinery) only
    becomes necessary when |users|/day itself explodes. Days with events
    are reported; the ratio is one mirrored double division.
    """
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    fan = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("j"), "day", "user_id"
    ).select(F.date_add("day", F.col("j")).alias("day"), "user_id")
    wau = fan.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau7")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau7",
            F.round(F.col("dau").cast("double") / F.col("wau7"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# as-of join with a max-staleness tolerance
# --------------------------------------------------------------------------

_ASOF_TOL_US = 3_600_000_000  # 1 hour


@register(
    "events_asof_tolerance",
    sql=f"""
    WITH p AS (
      SELECT user_id, event_id AS purchase_event_id, epoch_us(ts) AS ptus
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, epoch_us(ts) AS vtus, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, epoch_us(ts)
    ),
    j AS (
      SELECT p.user_id, p.purchase_event_id, p.ptus,
             (SELECT MAX(v.vtus) FROM v
              WHERE v.user_id = p.user_id
                AND v.vtus <= p.ptus
                AND v.vtus >= p.ptus - {_ASOF_TOL_US}) AS vtus
      FROM p
    )
    SELECT CASE WHEN vtus IS NULL THEN 'stale_or_none' ELSE 'fresh' END AS match_class,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN vtus IS NULL THEN 0
                         ELSE ptus - vtus END) AS BIGINT) AS total_gap_us,
           CAST(MAX(ptus - vtus) AS BIGINT) AS max_gap_us
    FROM j GROUP BY 1 ORDER BY match_class
    """,
    tags=("events", "asof", "tolerance", "feature-store"),
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a max-staleness bound — the feature-store variant
    events_asof_purchase_view lacks: a purchase only matches its most
    recent preceding view if that view is at most {_ASOF_TOL_US} µs (one
    hour) old; anything staler counts as no signal (serving a feature
    older than its TTL is worse than serving none). Reports fresh vs
    stale-or-missing purchase counts and the gap mass.

    Same single-shuffle union+last(ignorenulls) machinery (the tolerance
    is a FILTER on the filled gap, applied after the carry-forward — the
    join itself never becomes a range join); the oracle formulates it as
    a correlated MAX subquery with the staleness predicate, a third
    independent phrasing cross-checking asof_join's semantics. Integer
    microsecond gaps throughout.
    """
    from pumle_spark.operators.joins import asof_join

    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("ptus"),
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.unix_micros("ts").alias("vtus"))
        .agg(F.max("event_id").alias("view_event_id"))
    )
    j = asof_join(
        p,
        v.select("user_id", "vtus", F.col("vtus").alias("view_tus")),
        on=["user_id"],
        left_ts="ptus",
        right_ts="vtus",
        value_cols=["view_tus"],
    )
    fresh = F.col("view_tus").isNotNull() & (
        F.col("ptus") - F.col("view_tus") <= _ASOF_TOL_US
    )
    gap = F.when(fresh, F.col("ptus") - F.col("view_tus")).otherwise(F.lit(None))
    return (
        j.select(
            F.when(fresh, "fresh").otherwise("stale_or_none").alias("match_class"),
            gap.alias("gap_us"),
        )
        .groupBy("match_class")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.coalesce(F.sum("gap_us"), F.lit(0)).cast("bigint").alias("total_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("match_class")
    )


# --------------------------------------------------------------------------
# Markov stationary distribution of the event-type chain
# --------------------------------------------------------------------------

_MKV_MASS = 1_000_000_000_000
_MKV_ITERS = 3


def _sql_markov_iter(i: int, prev: str) -> str:
    return f"""
    it{i} AS (
      SELECT t.to_type AS state,
             CAST(SUM((p.mass // t.row_n) * t.n) AS BIGINT) AS mass
      FROM t JOIN {prev} p ON p.state = t.from_type
      GROUP BY t.to_type
    )"""


_SQL_MARKOV = (
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    ),
    tc AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (
      SELECT from_type, to_type, n,
             CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_n
      FROM tc
    ),
    states AS (SELECT DISTINCT from_type AS state FROM tc),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
    it0 AS (SELECT state, CAST({_MKV_MASS} // ns.k AS BIGINT) AS mass
            FROM states CROSS JOIN ns),"""
    + ",".join(_sql_markov_iter(i, f"it{i - 1}") for i in range(1, _MKV_ITERS + 1))
    + f"""
    SELECT state,
           mass AS mass_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY mass DESC, state) AS INTEGER) AS rnk
    FROM it{_MKV_ITERS}
    ORDER BY rnk
    """
)


@register("events_markov_stationary", sql=_SQL_MARKOV, tags=("events", "markov", "iterative"))
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate stationary distribution of the user-behavior Markov
    chain: push {_MKV_ITERS} integer power-iteration steps of probability
    mass through the event-type transition matrix
    (events_transition_bigrams' counts, row-normalized) — where user
    attention concentrates in the long run, the chain-level summary that
    path analysis (events_session_paths) samples and this closes in
    expectation.

    The same integer-semiring discipline as graph_pagerank_trade: total
    mass {_MKV_MASS} micro-units, each step (mass DIV row_total)·n in
    exact BIGINT — dividing BEFORE multiplying bounds the product by the
    state's own mass ((mass DIV row_n)·n ≤ mass since n ≤ row_n), so the
    arithmetic can never overflow 64 bits at ANY transition-count scale
    (mass·n DIV row_n would: Spark wraps silently where DuckDB raises).
    Every iterate is bit-identical under any partitioning. Truncation
    loss from DIV stays (it is NOT redistributed) — mass is
    sub-conservative by ≤ row_count units per state per step, a
    documented property the pytest twin asserts.

    Scale: the transition matrix is |event types|² rows — broadcast-sized
    for any real taxonomy — so each step is a broadcast join + K-row agg;
    the expensive part (the lead() window over the event log) runs once.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    seq = e.withColumn("next_type", F.lead("event_type").over(w))
    tc = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # pin: every power-iteration step reads the transition table (PERF.md "Pins")
    t = tc.withColumn(
        "row_n", F.sum("n").over(Window.partitionBy("from_type")).cast("bigint")
    ).localCheckpoint(eager=True)
    states = t.select(F.col("from_type").alias("state")).distinct()
    ns = states.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    mass = states.crossJoin(F.broadcast(ns)).select(
        "state", F.expr(f"{_MKV_MASS} div k").cast("bigint").alias("mass")
    )
    for _ in range(_MKV_ITERS):
        mass = (
            t.join(F.broadcast(mass.withColumnRenamed("state", "from_type")), "from_type")
            .select(
                F.col("to_type").alias("state"),
                (F.expr("mass div row_n") * F.col("n")).cast("bigint").alias("m"),
            )
            .groupBy("state")
            .agg(F.sum("m").cast("bigint").alias("mass"))
        )
    wr = Window.orderBy(F.desc("mass"), F.asc("state"))
    return mass.select(
        "state",
        F.col("mass").alias("mass_micro"),
        F.row_number().over(wr).cast("int").alias("rnk"),
    ).orderBy("rnk")


# --------------------------------------------------------------------------
# bot detection: inter-event regularity screening
# --------------------------------------------------------------------------

# flag a user when CV² = var/mean² of inter-event gaps is below 5% —
# machine-like regularity. Cross-multiplied: 20·n·Σd² < Σd·Σd + 19·(Σd)²/n…
# kept exactly: n·Σ(d²)·DEN < (Σd)²·(DEN + NUM)… see docstring.
_BOT_CV2_NUM = 1
_BOT_CV2_DEN = 20
_BOT_MIN_EVENTS = 5


@register(
    "events_bot_regularity",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
    ),
    gaps AS (
      SELECT user_id,
             tus - LAG(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
               AS d
      FROM e
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(CAST(d AS HUGEINT) * d) AS DECIMAL(38,0)) AS sdd
      FROM gaps WHERE d IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) >= {_BOT_MIN_EVENTS}
    ),
    flagged AS (
      SELECT user_id, n, sd,
             -- CV² < NUM/DEN  ⇔  DEN·(n·Σd² − (Σd)²) < NUM·(Σd)²  (exact)
             CASE WHEN {_BOT_CV2_DEN} * (n * sdd - CAST(sd AS HUGEINT) * sd)
                       < {_BOT_CV2_NUM} * CAST(sd AS HUGEINT) * sd
                  THEN 1 ELSE 0 END AS is_bot
      FROM s
    )
    SELECT CASE WHEN is_bot = 1 THEN 'bot_like' ELSE 'organic' END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_gaps,
           CAST(MIN(user_id) AS BIGINT) AS min_user_id
    FROM flagged GROUP BY is_bot
    ORDER BY verdict
    """,
    tags=("events", "bot-detection", "quality"),
)
def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot screening by inter-event regularity: humans arrive with bursty,
    high-variance gaps; schedulers and scrapers tick. A user with at
    least {_BOT_MIN_EVENTS} gaps is flagged bot-like when the squared
    coefficient of variation of their inter-event microseconds falls
    below {_BOT_CV2_NUM}/{_BOT_CV2_DEN} — the standard first-pass
    traffic-cleaning filter before any engagement corpus is trusted.

    The variance test never divides: CV² < N/D ⇔ D·(n·Σd² − (Σd)²) <
    N·(Σd)², evaluated in 128-bit integers (Σd² of microsecond gaps
    overflows 64 bits — DECIMAL(38,0) on Spark, HUGEINT on DuckDB), so
    the verdict is bit-exact on both engines under any partitioning.

    Scale: one lag() window per user (the shuffle every per-user statistic
    here shares), then a per-user rollup and a 2-row verdict aggregate.
    """
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = e.select(
        "user_id", (F.col("tus") - F.lag("tus").over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    s = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("d").cast("bigint").alias("sd"),
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("sdd"),
        )
        .filter(F.col("n") >= _BOT_MIN_EVENTS)
    )
    sd_dec = F.col("sd").cast("decimal(38,0)")
    is_bot = (
        _BOT_CV2_DEN * (F.col("n") * F.col("sdd") - sd_dec * sd_dec)
        < _BOT_CV2_NUM * sd_dec * sd_dec
    )
    return (
        s.select("user_id", "n", is_bot.alias("is_bot"))
        .groupBy(F.when(F.col("is_bot"), "bot_like").otherwise("organic").alias("verdict"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n").cast("bigint").alias("n_gaps"),
            F.min("user_id").cast("bigint").alias("min_user_id"),
        )
        .orderBy("verdict")
    )


# --------------------------------------------------------------------------
# weekly retention triangle over the event stream
# --------------------------------------------------------------------------

_RET_MAX_WEEKS = 4


@register(
    "events_retention_weekly",
    sql=f"""
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(DATE_DIFF('day', DATE '2020-01-06', CAST(ts AS DATE)) // 7
                  AS BIGINT) AS week
      FROM events
    ),
    first_wk AS (SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id),
    tri AS (
      SELECT f.cohort_week, w.week - f.cohort_week AS weeks_out, w.user_id
      FROM wk w JOIN first_wk f ON f.user_id = w.user_id
      WHERE w.week - f.cohort_week <= {_RET_MAX_WEEKS}
    ),
    cohort_size AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM first_wk GROUP BY cohort_week
    )
    SELECT t.cohort_week, CAST(t.weeks_out AS INTEGER) AS weeks_out,
           CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS n_active,
           s.n_cohort,
           ROUND(CAST(COUNT(DISTINCT t.user_id) AS DOUBLE) / s.n_cohort, 6)
             AS retention
    FROM tri t JOIN cohort_size s ON s.cohort_week = t.cohort_week
    GROUP BY t.cohort_week, t.weeks_out, s.n_cohort
    ORDER BY t.cohort_week, weeks_out
    """,
    tags=("events", "retention", "cohort"),
)
def events_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active week
    (weeks anchored to the Monday epoch 2020-01-06 so bucket boundaries
    are calendar-fixed, not data-dependent), tracked for
    {_RET_MAX_WEEKS} weeks — the product-analytics retention curve,
    complementing orders_retention_cohort's monthly order-based view with
    the event-stream weekly one. Week 0 retention is 1.0 by construction
    (the pytest invariant).

    Integer week arithmetic end to end; the only division is the final
    mirrored retention ratio of two exact counts.

    Scale: the event log collapses to DISTINCT (user, week) first — the
    same pre-collapse discipline as events_rolling_active_users — so the
    cohort join and triangle rollup touch user-week pairs, never raw
    events.
    """
    ev = table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2020-01-06").cast("date")) / 7
        )
        .cast("bigint")
        .alias("week"),
    ).distinct()
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    tri = (
        wk.join(first_wk, "user_id")
        .select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_out"),
            "user_id",
        )
        .filter(F.col("weeks_out") <= _RET_MAX_WEEKS)
    )
    size = first_wk.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    return (
        tri.groupBy("cohort_week", F.col("weeks_out").cast("int").alias("weeks_out"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .join(F.broadcast(size), "cohort_week")
        .select(
            "cohort_week",
            "weeks_out",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active").cast("double") / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "weeks_out")
    )


# --------------------------------------------------------------------------
# position-based (U-shaped) multi-touch attribution
# --------------------------------------------------------------------------


@register(
    "attribution_position_based",
    sql="""
    WITH pairs AS (
      SELECT c.event_id AS click_event_id,
             p.event_id AS pid,
             CAST(ROUND(p.value * 1000000) AS BIGINT) AS vmic,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.event_id) AS rk,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n
      FROM events c
      JOIN events p
        ON p.user_id = c.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    ),
    wts AS (
      SELECT *, CASE WHEN n = 1 THEN 1000000
                     WHEN n = 2 THEN 500000
                     WHEN rk = 1 THEN 400000
                     WHEN rk = n THEN 400000 + (200000 - (n - 2) * (200000 // (n - 2)))
                     ELSE 200000 // (n - 2) END AS w
      FROM pairs
    ),
    based AS (SELECT *, vmic * w // 1000000 AS credit FROM wts),
    fixed AS (
      SELECT click_event_id,
             credit + CASE WHEN rk = n
                           THEN vmic - CAST(SUM(credit) OVER (PARTITION BY pid)
                                            AS BIGINT)
                           ELSE 0 END AS credit
      FROM based
    )
    SELECT click_event_id,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(SUM(credit) AS BIGINT) / 1000000.0, 6) AS credited_value
    FROM fixed GROUP BY click_event_id
    """,
    tags=("events", "attribution", "marketing", "position-based"),
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution — the
    second standard model beside attribution_linear_credit's equal split:
    the first and last click before a purchase earn 40% each, the middle
    touches share 20%. Journey position comes from the same interval join
    plus a rank window per purchase.

    Exactness discipline extends linear credit's: integer micro-WEIGHTS
    are constructed to sum to exactly 1e6 per purchase (the middle pool's
    division remainder folds into the last touch's weight), base credits
    are vmic·w DIV 1e6, and the residual micro-units from that division
    are assigned to the LAST touch via a per-purchase window sum — so
    every purchase's credits sum to EXACTLY its micro-value, conservation
    a pytest asserts. All BIGINT; both engines truncate identically;
    single-touch and two-touch journeys degenerate to 100% and 50/50.

    Plan: interval join on user_id, rank + count + credit-sum windows all
    partitioned by purchase id (one exchange), final groupBy on click id.
    """
    e = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    c = e.filter(F.col("event_type") == "click").alias("c")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    pairs = c.join(
        p,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("interval 1 hour")),
    ).select(
        F.col("c.event_id").alias("click_event_id"),
        F.col("p.event_id").alias("pid"),
        F.round(F.col("p.value") * 1_000_000).cast("bigint").alias("vmic"),
        F.col("c.ts").alias("cts"),
        F.col("c.event_id").alias("cid"),
    )
    wp = Window.partitionBy("pid")
    ranked = pairs.select(
        "click_event_id",
        "pid",
        "vmic",
        F.row_number().over(wp.orderBy("cts", "cid")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mid_w = F.expr("200000 div (n - 2)")
    w_col = (
        F.when(F.col("n") == 1, 1_000_000)
        .when(F.col("n") == 2, 500_000)
        .when(F.col("rk") == 1, 400_000)
        .when(
            F.col("rk") == F.col("n"),
            400_000 + (200_000 - (F.col("n") - 2) * mid_w),
        )
        .otherwise(mid_w)
    )
    based = ranked.withColumn("w", w_col).withColumn(
        "credit", F.expr("vmic * w div 1000000")
    )
    fixed = based.select(
        "click_event_id",
        (
            F.col("credit")
            + F.when(
                F.col("rk") == F.col("n"),
                F.col("vmic") - F.sum("credit").over(wp).cast("bigint"),
            ).otherwise(0)
        ).alias("credit"),
    )
    return fixed.groupBy("click_event_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.round(F.sum("credit").cast("bigint") / 1_000_000.0, 6).alias(
            "credited_value"
        ),
    )


# --------------------------------------------------------------------------
# ST8: stateful running totals through applyInPandasWithState, driver-gated
# --------------------------------------------------------------------------


@register(
    "stream_running_totals_final",
    sql="""
    SELECT user_id,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS total_micro,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "streaming", "stateful", "applyInPandasWithState"),
)
def stream_running_totals_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming under the driver's hash gate: per-user
    running (total_micro, n_events) maintained by a REAL
    applyInPandasWithState StreamingQuery (streaming/running_totals.
    running_totals_apws — explicit GroupState, Arrow-batched, update
    mode). The events table is staged as TWO parquet files read with
    maxFilesPerTrigger=1, so the query runs at least two micro-batches
    and every user present in both halves exercises cross-batch state
    restore — the property that distinguishes stateful streaming from a
    per-batch groupBy. The final totals must equal the plain batch
    aggregate (the DuckDB oracle), the same closed-input equivalence
    contract as stream_hourly_rollup_final/stream_dedup_events_final.

    The memory sink accumulates one update row per (user, batch); counts
    only grow, so max_by(total, n_events) per user selects each user's
    final state without relying on sink row order.

    Scale: state is one tuple per user partitioned across the state
    store; closed_stream sizes the per-micro-batch state instances for a
    staged run (production sizes it to throughput)."""
    from pumle_spark.streaming.pipeline import closed_stream
    from pumle_spark.streaming.running_totals import running_totals_apws

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 1000000).cast("bigint").alias("vmic"),
    )
    with closed_stream(spark, "stream_totals_") as run:
        src = f"{run.dir}/src"
        # split by event parity → most users span both files/batches
        for par in (0, 1):
            (
                e.filter(F.col("event_id") % 2 == par)
                .select("user_id", "vmic")
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        stream = (
            spark.readStream.schema("user_id bigint, vmic bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run.drain(
            running_totals_apws(stream),
            lambda rows: rows.groupBy("user_id")
            .agg(
                F.max_by("total_micro", "n_events").cast("bigint").alias("total_micro"),
                F.max("n_events").cast("bigint").alias("n_events"),
            )
            .orderBy("user_id"),
            output_mode="update",
        )


# --------------------------------------------------------------------------
# PR6: sliding-window distinct users via HLL register re-merge
# --------------------------------------------------------------------------

_SLD_HOURS = 24  # trailing window length (hours)

# the register→estimate CTE chain is shared verbatim with the sketch module
from pumle_spark.workload.sketches import _HLL_EST_SQL, _q3


@register(
    "events_sliding_distinct_hll",
    sql=f"""
    WITH hashed AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hour_idx,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 8))::BIGINT AS w32
      FROM events
    ),
    hregs AS (
      SELECT hour_idx, bucket,
             MAX(CASE WHEN w32 = 0 THEN 33 ELSE 33 - length(bin(w32)) END) AS m_reg
      FROM hashed GROUP BY hour_idx, bucket
    ),
    real_hours AS (SELECT DISTINCT hour_idx FROM hashed),
    -- sliding merge as an EQUI join: each hourly register contributes to
    -- the {_SLD_HOURS} target hours it is visible from
    regs AS (
      SELECT CAST(h.hour_idx + o.o AS VARCHAR) AS tag, h.bucket,
             MAX(h.m_reg) AS m_reg
      FROM hregs h
      CROSS JOIN generate_series(0, {_SLD_HOURS - 1}) o(o)
      JOIN real_hours r ON r.hour_idx = h.hour_idx + o.o
      GROUP BY tag, h.bucket
    ),
    {_HLL_EST_SQL},
    exact AS (
      SELECT CAST(h.hour_idx + o.o AS VARCHAR) AS tag,
             CAST(COUNT(DISTINCT u) AS BIGINT) AS exact_users
      FROM (SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT)
                     AS hour_idx, user_id AS u FROM events) h
      CROSS JOIN generate_series(0, {_SLD_HOURS - 1}) o(o)
      JOIN real_hours r ON r.hour_idx = h.hour_idx + o.o
      GROUP BY tag
    )
    SELECT strftime(to_timestamp(CAST(x.tag AS BIGINT) * 3600),
                    '%Y-%m-%d %H:%M:%S') AS hour_ts,
           x.exact_users,
           FLOOR((c.chosen_est) * 1000.0 + 0.5) / 1000.0 AS hll_users,
           FLOOR((100.0 * (c.chosen_est - x.exact_users) / x.exact_users)
                 * 1000.0 + 0.5) / 1000.0 AS rel_err_pct
    FROM exact x JOIN corrected c ON c.tag = x.tag
    ORDER BY hour_ts
    """,
    tags=("events", "sketch", "hll", "sliding-window"),
)
def events_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{_SLD_HOURS}h distinct active users per hour, estimated by
    RE-MERGING hourly HyperLogLog registers instead of re-counting raw
    events — the sketch answer to the sliding-DAU question. Hourly
    registers are built once (max rho per bucket per hour); each hour's
    trailing window is then a register-max over {_SLD_HOURS} hourly
    sketches, expressed as an EQUI join (each hourly register row fans
    out to the target hours it serves) so there is no interval/nested-
    loop join anywhere. The exact trailing distinct count rides along
    with the measured relative error, sketch-family posture
    (sketch_hll_distinct).

    Scale: raw events are touched exactly ONCE (the hourly register
    build, map-side combinable); the sliding merge operates on ≤ 256
    register rows per hour — for a year of hours that is ~2.2M tiny rows
    total, independent of event volume. The exact path re-expands every
    event {_SLD_HOURS}× and re-shuffles distinct (hour, user) pairs —
    the cost the sketch path avoids; it is the labeled truth baseline
    here (grading posture, not production).
    """
    from pumle_spark.workload.sketches import _hll_estimates, _hll_registers

    e = table(spark, sf_dir, "events").select(
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3600_000_000))
        .cast("bigint")
        .alias("hour_idx"),
        "user_id",
    )
    hregs = _hll_registers(
        e.select(F.col("hour_idx").alias("tag"), "user_id")
    ).withColumnRenamed("tag", "hour_idx")
    real_hours = e.select("hour_idx").distinct()
    # constant 24-wide fan-out as a pure projection (explode of a sequence)
    # — no join operator at all; the semi-restriction to real hours is a
    # broadcast hash join on the equi key
    targets = F.explode(
        F.sequence(F.col("hour_idx"), F.col("hour_idx") + F.lit(_SLD_HOURS - 1))
    ).alias("target")
    fanned = hregs.select(targets, "bucket", "m_reg").join(
        F.broadcast(real_hours.withColumnRenamed("hour_idx", "target")),
        "target",
    )
    regs = (
        fanned.groupBy(F.col("target").cast("string").alias("tag"), "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    ests = _hll_estimates(spark, regs)
    exact = (
        e.select(targets, "user_id")
        .join(
            F.broadcast(real_hours.withColumnRenamed("hour_idx", "target")),
            "target",
        )
        .groupBy(F.col("target").cast("string").alias("tag"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    )
    return (
        exact.join(ests, "tag")
        .select(
            F.date_format(
                F.timestamp_seconds(F.col("tag").cast("bigint") * 3600),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("hour_ts"),
            "exact_users",
            _q3(F.col("chosen_est")).alias("hll_users"),
            _q3(
                100.0
                * (F.col("chosen_est") - F.col("exact_users"))
                / F.col("exact_users")
            ).alias("rel_err_pct"),
        )
        .orderBy("hour_ts")
    )


# --------------------------------------------------------------------------
# ST10: gap sessionization through applyInPandasWithState, driver-gated
# --------------------------------------------------------------------------


@register(
    "stream_sessionize_final",
    sql=f"""
    WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
    flagged AS (
      SELECT user_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(tus) AS BIGINT) AS start_us,
           CAST(MAX(tus) AS BIGINT) AS end_us,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
    tags=("events", "streaming", "stateful", "sessionize"),
)
def stream_sessionize_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful SESSIONIZER under the driver's hash gate: a real
    applyInPandasWithState StreamingQuery (streaming/sessions.
    sessionize_stateful — open session per user in GroupState, closed
    sessions emitted append-mode, exactly once each) over the events
    table staged as THREE time-ordered files (first half, second half,
    then one far-future sentinel event per user) read with
    maxFilesPerTrigger=1. The time split means most users' sessions span
    micro-batches, exercising the open-session state handoff; the
    sentinel batch closes every real session (its own 1-event session
    stays open in the state store and is correctly never emitted). File
    mtimes are bumped explicitly so the file source's timestamp ordering
    matches the sessionizer's in-order-across-batches contract.

    The DuckDB oracle is the batch gaps-and-islands sessionization
    (events_sessionize's formulation, emitted as session intervals) —
    closed-input streaming must reproduce batch session boundaries
    exactly, the third closed-input equivalence contract beside
    stream_hourly_rollup_final and stream_running_totals_final."""
    import os

    from pumle_spark.streaming.pipeline import closed_stream
    from pumle_spark.streaming.sessions import sessionize_stateful

    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tus")
    )
    with closed_stream(spark, "stream_sess_") as run:
        src = f"{run.dir}/src"
        mid = e.agg(F.avg("tus").cast("bigint").alias("m"))
        halves = e.crossJoin(F.broadcast(mid))
        gmax = e.agg(
            (F.max("tus") + F.lit(100 * 86400 * 1_000_000)).alias("sent")
        )
        sentinels = (
            e.select("user_id")
            .distinct()
            .crossJoin(F.broadcast(gmax))
            .select("user_id", F.col("sent").alias("tus"))
        )
        stage = (
            halves.filter(F.col("tus") <= F.col("m")).select("user_id", "tus"),
            halves.filter(F.col("tus") > F.col("m")).select("user_id", "tus"),
            sentinels,
        )
        for i, df in enumerate(stage):
            df.coalesce(1).write.mode("append").parquet(src)
            # the file source orders batches by mtime: pin strictly
            # increasing stamps so batch order == event-time order (the
            # sessionizer's documented cross-batch contract)
            for f in os.listdir(src):
                p = os.path.join(src, f)
                if f.endswith(".parquet") and os.path.getmtime(p) > i * 1000:
                    os.utime(p, (i * 1000, i * 1000))
        stream = (
            spark.readStream.schema("user_id bigint, tus bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run.drain(
            sessionize_stateful(stream, gap_us=_SESSION_GAP_US),
            lambda rows: rows.select(
                "user_id",
                F.col("start_us").cast("bigint").alias("start_us"),
                F.col("end_us").cast("bigint").alias("end_us"),
                F.col("n_events").cast("bigint").alias("n_events"),
            ).orderBy("user_id", "start_us"),
        )


# --------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain channel credit)
# --------------------------------------------------------------------------

_ATTR_SCALE = 1_000_000_000  # conversion probability in ppb
_ATTR_ITERS = 8  # value-iteration depth: paths up to 8 hops carry credit


def _sql_attr_iter(i: int) -> str:
    prev = f"it{i - 1}f"
    return f"""
    it{i} AS (
      SELECT removed, state,
             CASE WHEN state = removed THEN CAST(0 AS BIGINT) ELSE v END AS v
      FROM (SELECT p.removed, t.from_type AS state,
                   CAST(SUM(t.n * p.v) // MIN(t.row_n) AS BIGINT) AS v
            FROM t JOIN {prev} p ON p.state = t.to_type
            GROUP BY 1, 2)
    ),
    it{i}f AS (
      SELECT removed, state, v FROM it{i}
      UNION ALL
      SELECT removed, 'CONV', CAST({_ATTR_SCALE} AS BIGINT) FROM rem
    )"""


_SQL_ATTR_MARKOV = (
    f"""
    WITH ev AS (
      SELECT user_id,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS state,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    firstconv AS (
      SELECT user_id, MIN(rn) AS conv_rn FROM ev
      WHERE state = 'CONV' GROUP BY 1
    ),
    journey AS (
      SELECT e.user_id, e.state, e.rn,
             f.conv_rn IS NOT NULL AS converts
      FROM ev e LEFT JOIN firstconv f USING (user_id)
      WHERE f.conv_rn IS NULL OR e.rn <= f.conv_rn
    ),
    steps AS (
      SELECT user_id,
             COALESCE(LAG(state) OVER (PARTITION BY user_id ORDER BY rn),
                      'START') AS from_type,
             state AS to_type
      FROM journey
    ),
    drops AS (
      SELECT user_id, state AS from_type, 'DROP' AS to_type
      FROM (SELECT user_id, state, converts,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY rn DESC) AS rrn
            FROM journey)
      WHERE rrn = 1 AND NOT converts
    ),
    alltr AS (
      SELECT from_type, to_type FROM steps
      UNION ALL
      SELECT from_type, to_type FROM drops
    ),
    tc AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM alltr GROUP BY 1, 2),
    t AS (SELECT from_type, to_type, n,
                 CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_n
          FROM tc),
    chans AS (SELECT DISTINCT from_type AS ch FROM t
              WHERE from_type <> 'START'),
    rem AS (SELECT ch AS removed FROM chans
            UNION ALL SELECT '<none>'),
    it0f AS (SELECT removed, 'CONV' AS state,
                    CAST({_ATTR_SCALE} AS BIGINT) AS v FROM rem),"""
    + ",".join(_sql_attr_iter(i) for i in range(1, _ATTR_ITERS + 1))
    + f""",
    pabs AS (
      SELECT r.removed, COALESCE(i.v, 0) AS v
      FROM rem r LEFT JOIN (SELECT removed, v FROM it{_ATTR_ITERS}
                            WHERE state = 'START') i USING (removed)
    ),
    base AS (SELECT v AS vb FROM pabs WHERE removed = '<none>'),
    re AS (
      SELECT removed AS channel, v AS p_removed, vb,
             GREATEST(vb - v, 0) AS re
      FROM pabs CROSS JOIN base WHERE removed <> '<none>'
    ),
    tot AS (SELECT CAST(SUM(re) AS BIGINT) AS tre FROM re)
    SELECT channel,
           CAST(p_removed AS BIGINT) AS p_conv_removed_ppb,
           CAST(vb AS BIGINT) AS base_conv_ppb,
           CAST(re AS BIGINT) AS removal_effect_ppb,
           CAST(re * 1000000 // NULLIF(tre, 0) AS BIGINT) AS attribution_ppm
    FROM re CROSS JOIN tot
    ORDER BY channel
    """
)


@register(
    "attribution_markov_removal",
    sql=_SQL_ATTR_MARKOV,
    tags=("events", "attribution", "markov", "iterative"),
)
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    upgrade of the position/linear heuristics this family already
    carries: build the absorbing journey chain START → channels → CONV
    (first purchase) / DROP (journey abandoned), estimate each channel's
    removal effect RE(c) = P(conv) − P(conv | channel c removed), and
    credit channels proportionally. Removing a channel is implemented as
    CLAMPING its value to zero inside the value iteration — any path
    through c then converts with probability 0, exactly the
    node-removal semantics, with no second transition matrix.

    The trick that keeps it ONE dataframe program: the value table is
    keyed by (removed, state) — the base chain ('<none>') and every
    removal counterfactual iterate TOGETHER through {_ATTR_ITERS}
    rounds of v(s) ← Σ_j n_sj·v(j) DIV row_n(s) (integer ppb mass,
    events_markov_stationary's semiring; sum-then-divide keeps full
    precision; exact while max transition count · 1e9 < 2^63, i.e.
    ~9e9 journeys per edge — beyond that, divide first). Depth
    {_ATTR_ITERS} credits paths up to {_ATTR_ITERS} hops; longer tails
    carry negligible mass and are cut identically on both engines.

    Scale: the event scan collapses to the |states|² transition matrix
    plus one per-user terminal row; every iteration is a broadcast join
    over (|channels|+1)·|states| rows — constant-size state for any real
    channel taxonomy."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("state"),
        F.unix_micros("ts").alias("tus"),
        "event_id",
    )
    wu = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ev = e.select("user_id", "state", F.row_number().over(wu).alias("rn"))
    firstconv = (
        ev.filter(F.col("state") == "CONV")
        .groupBy("user_id")
        .agg(F.min("rn").alias("conv_rn"))
    )
    journey = (
        ev.join(firstconv, "user_id", "left")
        .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
        .select(
            "user_id", "state", "rn", F.col("conv_rn").isNotNull().alias("converts")
        )
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps = journey.select(
        F.coalesce(F.lag("state").over(wj), F.lit("START")).alias("from_type"),
        F.col("state").alias("to_type"),
    )
    wlast = Window.partitionBy("user_id").orderBy(F.desc("rn"))
    drops = (
        journey.withColumn("rrn", F.row_number().over(wlast))
        .filter((F.col("rrn") == 1) & ~F.col("converts"))
        .select(F.col("state").alias("from_type"), F.lit("DROP").alias("to_type"))
    )
    tc = (
        steps.unionAll(drops)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # pin: every removal round reads the transition table (PERF.md "Pins")
    t = tc.withColumn(
        "row_n", F.sum("n").over(Window.partitionBy("from_type")).cast("bigint")
    ).localCheckpoint(eager=True)
    rem = (
        t.select(F.col("from_type").alias("removed"))
        .filter(F.col("removed") != "START")
        .distinct()
        .unionAll(local_frame(spark, [("<none>",)], "removed string"))
        .localCheckpoint(eager=True)  # pin: every round reads it (PERF.md "Pins")
    )
    conv_rows = rem.select(
        "removed", F.lit("CONV").alias("state"), F.lit(_ATTR_SCALE).cast("bigint").alias("v")
    )
    vf = conv_rows
    for _ in range(_ATTR_ITERS):
        nxt = (
            t.join(F.broadcast(vf.withColumnRenamed("state", "to_type")), "to_type")
            .groupBy("removed", F.col("from_type").alias("state"))
            .agg(
                F.expr("CAST(sum(n * v) div min(row_n) AS BIGINT)").alias("v")
            )
            .select(
                "removed",
                "state",
                F.when(F.col("state") == F.col("removed"), F.lit(0).cast("bigint"))
                .otherwise(F.col("v"))
                .alias("v"),
            )
        )
        # pin: round k+1 plans against rows, not a k-deep union tree (PERF.md "Pins")
        vf = nxt.unionAll(conv_rows).localCheckpoint(eager=False)
    pabs = (
        rem.join(
            F.broadcast(vf.filter(F.col("state") == "START").select("removed", "v")),
            "removed",
            "left",
        )
        .select("removed", F.coalesce("v", F.lit(0)).cast("bigint").alias("v"))
    )
    base = pabs.filter(F.col("removed") == "<none>").select(F.col("v").alias("vb"))
    re = (
        pabs.filter(F.col("removed") != "<none>")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("removed").alias("channel"),
            F.col("v").alias("p_removed"),
            "vb",
            F.greatest(F.col("vb") - F.col("v"), F.lit(0).cast("bigint")).alias("re"),
        )
    )
    tot = re.agg(F.sum("re").cast("bigint").alias("tre"))
    return (
        re.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.col("p_removed").cast("bigint").alias("p_conv_removed_ppb"),
            F.col("vb").cast("bigint").alias("base_conv_ppb"),
            F.col("re").cast("bigint").alias("removal_effect_ppb"),
            F.expr("re * 1000000 div nullif(tre, 0)")
            .cast("bigint")
            .alias("attribution_ppm"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# score-calibration report (reliability bins + expected calibration error)
# --------------------------------------------------------------------------

_CAL_BINS = 10


@register(
    "events_calibration_report",
    sql=f"""
    WITH vm AS (SELECT MAX(value) AS vmax FROM events),
    scored AS (
      SELECT LEAST(CAST(FLOOR(value / vmax * {_CAL_BINS}) AS BIGINT),
                   {_CAL_BINS - 1}) AS bin,
             CAST(ROUND(value / vmax * 1000000) AS BIGINT) AS s_micro,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events CROSS JOIN vm
    ),
    bins AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s_micro) AS BIGINT) AS ssum,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ),
    enriched AS (
      SELECT bin, n, pos,
             CAST(ssum // n AS BIGINT) AS mean_score_micro,
             CAST(pos * 1000000 // n AS BIGINT) AS obs_rate_micro
      FROM bins
    ),
    tot AS (
      SELECT CAST(SUM(n * ABS(mean_score_micro - obs_rate_micro)) AS BIGINT) AS wgap,
             CAST(SUM(n) AS BIGINT) AS nn
      FROM enriched
    )
    SELECT CAST(bin AS INTEGER) AS bin, n, pos,
           mean_score_micro, obs_rate_micro,
           CAST(ABS(mean_score_micro - obs_rate_micro) AS BIGINT) AS gap_micro,
           CAST(wgap // nn AS BIGINT) AS ece_micro
    FROM enriched CROSS JOIN tot
    ORDER BY bin
    """,
    tags=("events", "calibration", "ml-eval"),
)
def events_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error, treating the
    event value (max-normalized to [0,1]) as a model score and
    event_type = 'purchase' as the label — the model-eval primitive a
    training pipeline runs on every scored batch: per-decile predicted
    score vs observed positive rate, plus the n-weighted mean gap (ECE).

    Determinism: the score is quantized ONCE per row to micro-units
    (value/vmax is one mirrored double division); per-bin means are
    integer DIV over exact sums; ECE is an exact integer weighted fold —
    no cross-engine float summation anywhere.

    Scale: one scalar max broadcast + one {_CAL_BINS}-bin
    map-side-combinable aggregate over the scan; the report is
    {_CAL_BINS} rows regardless of event volume."""
    vm = table(spark, sf_dir, "events").agg(F.max("value").alias("vmax"))
    scored = (
        table(spark, sf_dir, "events")
        .crossJoin(F.broadcast(vm))
        .select(
            F.least(
                F.floor(F.col("value") / F.col("vmax") * _CAL_BINS).cast("bigint"),
                F.lit(_CAL_BINS - 1).cast("bigint"),
            ).alias("bin"),
            F.round(F.col("value") / F.col("vmax") * 1000000)
            .cast("bigint")
            .alias("s_micro"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("s_micro").cast("bigint").alias("ssum"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    enriched = bins.select(
        "bin",
        "n",
        "pos",
        F.expr("ssum div n").cast("bigint").alias("mean_score_micro"),
        F.expr("pos * 1000000 div n").cast("bigint").alias("obs_rate_micro"),
    )
    tot = enriched.agg(
        F.sum(
            F.col("n") * F.abs(F.col("mean_score_micro") - F.col("obs_rate_micro"))
        )
        .cast("bigint")
        .alias("wgap"),
        F.sum("n").cast("bigint").alias("nn"),
    )
    return (
        enriched.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n",
            "pos",
            "mean_score_micro",
            "obs_rate_micro",
            F.abs(F.col("mean_score_micro") - F.col("obs_rate_micro"))
            .cast("bigint")
            .alias("gap_micro"),
            F.expr("wgap div nn").cast("bigint").alias("ece_micro"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# robust daily-volume anomaly detection (median / MAD)
# --------------------------------------------------------------------------

_MAD_TOP = 30
_MAD_Z_MILLI = 3500  # |robust z| > 3.5 flags an anomaly (Iglewicz–Hoaglin)


@register(
    "events_anomaly_mad",
    sql=f"""
    WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
    dc AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events FROM e GROUP BY day),
    m AS (SELECT CAST(2 * quantile_cont(n_events, 0.5) AS BIGINT) AS med2 FROM dc),
    dev AS (
      SELECT day, n_events, CAST(abs(2 * n_events - m.med2) AS BIGINT) AS dev2
      FROM dc, m
    ),
    mm AS (SELECT CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4 FROM dev),
    scored AS (
      SELECT d.day, d.n_events,
             CASE WHEN mm.mad4 = 0 THEN 0
                  ELSE CAST((20000000 * d.dev2) // (14826 * mm.mad4) AS BIGINT)
             END AS z_milli
      FROM dev d, mm
    )
    SELECT CAST(day AS BIGINT) AS day_idx, n_events, z_milli,
           z_milli > {_MAD_Z_MILLI} AS is_anomaly,
           CAST(ROW_NUMBER() OVER (ORDER BY z_milli DESC, day) AS INTEGER) AS rnk
    FROM scored
    ORDER BY rnk
    LIMIT {_MAD_TOP}
    """,
    tags=("events", "anomaly", "timeseries"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly scan of daily event volume: the
    {_MAD_TOP} most deviant days by modified z-score |x − med| /
    (1.4826·MAD), flagged above {_MAD_Z_MILLI / 1000} (Iglewicz &
    Hoaglin 1993) — the outlier gate a pipeline runs on ingest volume
    before trusting a day's partition, immune to the mean-inflation that
    breaks σ-based rules on the very spikes being hunted.

    Determinism: medians of integer counts land on integers or exact
    .5s, so doubled medians (med2 = 2·median, mad4 = 4·MAD) are exact
    BIGINTs; the z-score is one integer floor division per day
    (20000000·dev2 // 14826·mad4 ≡ milli-units of 2·dev2/(1.4826·mad4)),
    zero float summation anywhere.

    Scale shape: the raw stream collapses to per-day counts map-side
    (calendar-bounded output — years of data is thousands of rows), so
    the two global medians aggregate a tiny series; both scalars return
    as single-row broadcasts. The heavy table is touched once."""
    e = table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    dc = e.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    m = dc.agg(
        (2 * F.expr("percentile(n_events, 0.5)")).cast("bigint").alias("med2")
    )
    dev = dc.crossJoin(F.broadcast(m)).select(
        "day", "n_events", F.abs(2 * F.col("n_events") - F.col("med2")).cast("bigint").alias("dev2")
    )
    mm = dev.agg((2 * F.expr("percentile(dev2, 0.5)")).cast("bigint").alias("mad4"))
    scored = dev.crossJoin(F.broadcast(mm)).select(
        "day",
        "n_events",
        F.when(F.col("mad4") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(20000000 * dev2) div (14826 * mad4)").cast("bigint"))
        .alias("z_milli"),
    )
    top = scored.orderBy(F.desc("z_milli"), "day").limit(_MAD_TOP)
    wr = Window.orderBy(F.desc("z_milli"), "day")
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .select(
            F.col("day").cast("bigint").alias("day_idx"),
            "n_events",
            "z_milli",
            (F.col("z_milli") > _MAD_Z_MILLI).alias("is_anomaly"),
            "rnk",
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# cohort LTV curves (cumulative value by cohort age)
# --------------------------------------------------------------------------

_LTV_MAX_AGE_WK = 8


@register(
    "events_cohort_value_curve",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // (86400000000 * 7) AS wk,
             CAST(ROUND(value * 1000000) AS BIGINT) AS vmicro
      FROM events
    ),
    cw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY user_id),
    sz AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_users FROM cw GROUP BY cohort_wk),
    act AS (
      SELECT c.cohort_wk, CAST(e.wk - c.cohort_wk AS BIGINT) AS age_wk,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active,
             CAST(SUM(e.vmicro) AS BIGINT) AS value_micro
      FROM e JOIN cw c ON c.user_id = e.user_id
      WHERE e.wk - c.cohort_wk BETWEEN 0 AND {_LTV_MAX_AGE_WK}
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_wk, age_wk, n_active, value_micro,
             CAST(SUM(value_micro) OVER (PARTITION BY cohort_wk ORDER BY age_wk)
                  AS BIGINT) AS cum_value_micro
      FROM act
    )
    SELECT CAST(c.cohort_wk AS BIGINT) AS cohort_wk, c.age_wk, s.n_users,
           c.n_active, c.value_micro, c.cum_value_micro,
           CAST(c.cum_value_micro // s.n_users AS BIGINT) AS ltv_micro_per_user
    FROM cum c JOIN sz s ON s.cohort_wk = c.cohort_wk
    ORDER BY cohort_wk, age_wk
    """,
    tags=("events", "cohort", "ltv"),
)
def events_cohort_value_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-seen epoch
    week, then each cohort's active users, per-age value, cumulative
    value, and LTV-per-user at ages 0..{_LTV_MAX_AGE_WK} weeks — the
    triangle a growth team reads to see whether newer cohorts monetize
    faster (and the value-weighted upgrade of `events_retention_weekly`).

    Exactness: event values quantize to integer micro-units PER ROW
    before any sum; the cumulative is a BIGINT window; LTV-per-user is
    one floor division.

    Scale shape: first-seen is a keyed groupBy(user); the age join is
    user-keyed (co-partitioned with the event scan's natural hash);
    everything after collapses to cohort×age rows (calendar² — tiny), so
    the cumulative window partitions by cohort over ≤{_LTV_MAX_AGE_WK}+1
    rows each."""
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div (86400000000 * 7)").alias("wk"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vmicro"),
    )
    # one fact shuffle: (user, week) partial rows; cohort week and the age
    # join both derive from this table, and "distinct active users" becomes
    # a plain COUNT(*) because uwk is unique per (user, week)
    uwk = e.groupBy("user_id", "wk").agg(F.sum("vmicro").alias("vmicro"))
    cw = uwk.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sz = cw.groupBy("cohort_wk").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    act = (
        uwk.join(cw, "user_id")
        .withColumn("age_wk", (F.col("wk") - F.col("cohort_wk")).cast("bigint"))
        .filter(F.col("age_wk").between(0, _LTV_MAX_AGE_WK))
        .groupBy("cohort_wk", "age_wk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.sum("vmicro").cast("bigint").alias("value_micro"),
        )
    )
    wcum = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = act.withColumn(
        "cum_value_micro", F.sum("value_micro").over(wcum).cast("bigint")
    )
    return (
        cum.join(sz, "cohort_wk")
        .select(
            F.col("cohort_wk").cast("bigint").alias("cohort_wk"),
            "age_wk",
            "n_users",
            "n_active",
            "value_micro",
            "cum_value_micro",
            F.expr("cum_value_micro div n_users").cast("bigint").alias("ltv_micro_per_user"),
        )
        .orderBy("cohort_wk", "age_wk")
    )


# --------------------------------------------------------------------------
# funnel latency (time-to-convert percentiles per stage transition)
# --------------------------------------------------------------------------


@register(
    "events_funnel_latency",
    sql="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_buy
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    ),
    lat AS (
      SELECT 'view_to_click' AS stage,
             epoch_us(c.t_click) - epoch_us(v.t_view) AS us
      FROM c JOIN v ON v.user_id = c.user_id
      UNION ALL
      SELECT 'click_to_purchase' AS stage,
             epoch_us(p.t_buy) - epoch_us(c.t_click) AS us
      FROM p JOIN c ON c.user_id = p.user_id
      UNION ALL
      SELECT 'view_to_purchase' AS stage,
             epoch_us(p.t_buy) - epoch_us(v.t_view) AS us
      FROM p JOIN v ON v.user_id = p.user_id
    ),
    rk AS (
      SELECT stage, us,
             ROW_NUMBER() OVER (PARTITION BY stage ORDER BY us) AS rn,
             COUNT(*) OVER (PARTITION BY stage) AS n
      FROM lat
    )
    SELECT stage, CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(SUM(us) // (MAX(n) * 1000000) AS BIGINT) AS mean_floor_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN us END) // 1000000
                AS BIGINT) AS p50_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN us END) // 1000000
                AS BIGINT) AS p90_s
    FROM rk GROUP BY stage ORDER BY stage
    """,
    tags=("events", "funnel", "latency"),
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for each strictly-ordered funnel transition
    (first view → first later click → first later purchase, the same
    stage semantics as `events_funnel_conversion`): per transition, how
    many users converted and the mean / median / p90 latency in whole
    seconds — the report that turns "3% convert" into "and it takes
    them 40 minutes".

    Exactness: latencies are exact integer microsecond deltas; the
    percentiles are DISCRETE order statistics (the value at row
    ceil(p·n) of the latency sort — no interpolation, so no float ever
    exists); mean is one integer floor division.

    Scale shape: the three stage tables are user-keyed min-aggregations
    whose inputs shrink monotonically down the funnel (classic funnel
    pruning), all sharing one hash partitioning; the percentile ranks
    partition by the 3-value stage key. The stage cardinality is tiny,
    so the rank window is the only non-keyed state and it is bounded by
    converted users per stage."""
    e = table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )

    def _lat(a: DataFrame, ta: str, b: DataFrame, tb: str, stage: str) -> DataFrame:
        return (
            b.join(a, "user_id")
            .select(
                F.lit(stage).alias("stage"),
                (F.unix_micros(F.col(tb)) - F.unix_micros(F.col(ta))).alias("us"),
            )
        )

    lat = (
        _lat(v, "t_view", c, "t_click", "view_to_click")
        .unionAll(_lat(c, "t_click", p, "t_buy", "click_to_purchase"))
        .unionAll(_lat(v, "t_view", p, "t_buy", "view_to_purchase"))
    )
    wrk = Window.partitionBy("stage").orderBy("us")
    wall = Window.partitionBy("stage")
    rk = lat.select(
        "stage",
        "us",
        F.row_number().over(wrk).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )

    def _pick(p_: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(p_ * F.col("n")).cast("bigint"), F.col("us"))
        )

    return (
        rk.groupBy("stage")
        .agg(
            F.max("n").cast("bigint").alias("n_users"),
            F.expr("sum(us) div (max(n) * 1000000)").cast("bigint").alias("mean_floor_s"),
            _pick(0.5).alias("_p50us"),
            _pick(0.9).alias("_p90us"),
        )
        .select(
            "stage",
            "n_users",
            "mean_floor_s",
            F.expr("cast(_p50us div 1000000 as bigint)").alias("p50_s"),
            F.expr("cast(_p90us div 1000000 as bigint)").alias("p90_s"),
        )
        .orderBy("stage")
    )


# --------------------------------------------------------------------------
# peak session concurrency (sweep line over gap-based sessions)
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@register(
    "sessions_peak_concurrency",
    sql=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id FROM events
    ),
    flagged AS (
      SELECT user_id, tus,
             CASE WHEN LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus
                              ROWS UNBOUNDED PRECEDING) AS sid,
             tus
      FROM flagged
    ),
    iv AS (
      SELECT MIN(tus) AS s_us, MAX(tus) AS e_us FROM sess GROUP BY user_id, sid
    ),
    deltas AS (
      SELECT s_us AS us, CAST(1 AS BIGINT) AS d FROM iv
      UNION ALL
      SELECT e_us AS us, CAST(-1 AS BIGINT) AS d FROM iv
    ),
    pts AS (
      SELECT us // {_DAY_US} AS day, us, d,
             SUM(d) OVER (PARTITION BY us // {_DAY_US}
                          ORDER BY us, d DESC
                          ROWS UNBOUNDED PRECEDING) AS pfx
      FROM deltas
    ),
    days AS (
      SELECT day,
             CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
             CAST(SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends,
             CAST(SUM(d) AS BIGINT) AS net,
             CAST(MAX(pfx) AS BIGINT) AS max_pfx
      FROM pts GROUP BY day
    ),
    carried AS (
      SELECT day, n_starts, n_ends, max_pfx,
             CAST(COALESCE(SUM(net) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS carry_in,
             CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS eod_level
      FROM days
    )
    SELECT CAST(day AS BIGINT) AS day_idx, n_starts, n_ends,
           CAST(carry_in + GREATEST(CAST(0 AS BIGINT), max_pfx) AS BIGINT)
             AS peak_concurrent,
           eod_level
    FROM carried ORDER BY day_idx
    """,
    tags=("events", "sessions", "concurrency"),
)
def sessions_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number —
    via the classic sweep line over the engine's own gap-based sessions
    (`events_sessionize` semantics: 30-min inactivity closes a session;
    a session is concurrent on [first event, last event], ends
    inclusive, so +1 sorts before −1 at an equal microsecond).

    The running concurrency level is a GLOBAL prefix sum over all
    start/end points — the inherently-sequential-looking part — computed
    with the repo's two-level prefix idiom: an exact per-day prefix
    (day-partitioned window) plus a carry-in window over the tiny
    per-day rollup. A day's true peak includes the carried-in level
    itself (a day whose first delta is an end never dips ABOVE carry-in:
    peak = carry_in + max(0, max prefix)), the same carry-aware max the
    backlog operator uses.

    Exactness: microsecond integers end-to-end; no floats anywhere.

    Scale shape: sessionization shuffles once on user_id; the sweep
    partitions by day (bounded points per day), and the only global
    window runs over |days| rows."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    wu = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_s",
        F.when(
            F.lag("tus").over(wu).isNull()
            | ((F.col("tus") - F.lag("tus").over(wu)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    wrun = Window.partitionBy("user_id").orderBy("tus").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(wrun))
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("s_us"), F.max("tus").alias("e_us")
    )
    deltas = iv.select(F.col("s_us").alias("us"), F.lit(1).cast("bigint").alias("d")).unionAll(
        iv.select(F.col("e_us").alias("us"), F.lit(-1).cast("bigint").alias("d"))
    )
    wday = (
        Window.partitionBy("day")
        .orderBy("us", F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = deltas.withColumn("day", F.expr(f"us div {_DAY_US}")).withColumn(
        "pfx", F.sum("d").over(wday)
    )
    days = pts.groupBy("day").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).cast("bigint").alias("n_starts"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0)).cast("bigint").alias("n_ends"),
        F.sum("d").cast("bigint").alias("net"),
        F.max("pfx").cast("bigint").alias("max_pfx"),
    )
    wcarry = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    wlvl = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carried = days.select(
        "day",
        "n_starts",
        "n_ends",
        "max_pfx",
        F.coalesce(F.sum("net").over(wcarry), F.lit(0)).cast("bigint").alias("carry_in"),
        F.sum("net").over(wlvl).cast("bigint").alias("eod_level"),
    )
    return carried.select(
        F.col("day").cast("bigint").alias("day_idx"),
        "n_starts",
        "n_ends",
        (F.col("carry_in") + F.greatest(F.lit(0).cast("bigint"), F.col("max_pfx")))
        .cast("bigint")
        .alias("peak_concurrent"),
        "eod_level",
    ).orderBy("day_idx")


# --------------------------------------------------------------------------
# Shapley-value channel attribution (exact, 3-channel coalition game)
# --------------------------------------------------------------------------

_SHAP_CHANNELS = (("view", 1), ("click", 2), ("signup", 4))
_SHAP_FULL = 7  # union mask of all channels
# |T|! * (c - |T| - 1)! for c = 3 channels, keyed by |T| (x c! = 6 overall)
_SHAP_W = {0: 2, 1: 1, 2: 2}


@register(
    "events_attribution_shapley",
    sql=f"""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS t_buy FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id,
             CASE e.event_type {" ".join(f"WHEN '{n}' THEN {b}" for n, b in _SHAP_CHANNELS)}
                  ELSE 0 END AS bit
      FROM events e JOIN conv ON conv.user_id = e.user_id
      WHERE e.ts < conv.t_buy
    ),
    journeys AS (
      SELECT c.user_id, COALESCE(bit_or(t.bit), 0) AS mask
      FROM conv c LEFT JOIN touches t ON t.user_id = c.user_id
      GROUP BY c.user_id
    ),
    mconv AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS n FROM journeys GROUP BY mask),
    grid AS (SELECT unnest(generate_series(0, {_SHAP_FULL})) AS s),
    v AS (
      SELECT g.s, CAST(COALESCE(SUM(m.n), 0) AS BIGINT) AS v
      FROM grid g LEFT JOIN mconv m ON (m.mask & g.s) = m.mask
      GROUP BY g.s
    ),
    ch AS (SELECT * FROM (VALUES {", ".join(f"('{n}', {b})" for n, b in _SHAP_CHANNELS)})
           AS t(channel, bit)),
    terms AS (
      SELECT ch.channel,
             (CASE bit_count(CAST(t.s AS BIGINT))
               {" ".join(f"WHEN {k} THEN {w}" for k, w in _SHAP_W.items())} END)
               * (vi.v - vt.v) AS term
      FROM ch
      JOIN grid t ON (t.s & ch.bit) = 0
      JOIN v vt ON vt.s = t.s
      JOIN v vi ON vi.s = t.s + ch.bit
    ),
    phi AS (
      SELECT channel, CAST(SUM(term) AS BIGINT) AS phi_x6 FROM terms GROUP BY channel
    ),
    tot AS (
      SELECT (SELECT v FROM v WHERE s = {_SHAP_FULL})
             - (SELECT v FROM v WHERE s = 0) AS span
    )
    SELECT p.channel, p.phi_x6,
           CAST(CASE WHEN t.span = 0 THEN 0
                     ELSE p.phi_x6 * 1000000 // (6 * t.span) END AS BIGINT) AS share_ppm
    FROM phi p CROSS JOIN tot t
    ORDER BY channel
    """,
    tags=("events", "attribution", "shapley"),
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value attribution over the pre-purchase channel set
    {{view, click, signup}} — the fourth classic next to the linear,
    position-based, and Markov-removal heuristics this family carries,
    and the only one with an axiomatic fairness guarantee. Coalition
    worth v(S) = converted journeys whose touched-channel set ⊆ S;
    φ_i = Σ_T |T|!(c−|T|−1)!/c! · [v(T∪i) − v(T)]. Efficiency
    Σφ = v(full) − v(∅) holds exactly (×6 integer arithmetic — c!=6
    never divides until the final ppm share).

    Exactness: journeys collapse to an 8-value bitmask histogram; v,
    the marginal contributions, and φ·6 are pure integers; the only
    division is the final integer ppm.

    Scale shape: one user-keyed rollup (bit_or of touch bits against
    the user's first purchase) — the same funnel pruning as
    `events_funnel_latency`; everything after runs on ≤8-row tables
    (subset grid × channels), independent of corpus size. The exact
    subset enumeration is 2^c — at c ≳ 20 channels you sample
    permutations instead; at the 3-channel taxonomy it is free."""
    e = table(spark, sf_dir, "events")
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    bit = F.when(F.col("event_type") == _SHAP_CHANNELS[0][0], _SHAP_CHANNELS[0][1])
    for n, b in _SHAP_CHANNELS[1:]:
        bit = bit.when(F.col("event_type") == n, b)
    bit = bit.otherwise(0)
    touches = (
        e.join(conv, "user_id")
        .filter(F.col("ts") < F.col("t_buy"))
        .select("user_id", bit.alias("bit"))
    )
    journeys = (
        conv.join(touches, "user_id", "left")
        .groupBy("user_id")
        .agg(F.coalesce(F.expr("bit_or(bit)"), F.lit(0)).alias("mask"))
    )
    mconv = journeys.groupBy("mask").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = spark.range(_SHAP_FULL + 1).select(F.col("id").cast("int").alias("s"))
    v = (
        grid.join(F.broadcast(mconv), F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("v"))
    )
    ch = local_frame(spark, list(_SHAP_CHANNELS), "channel string, bit int")
    w_case = "CASE bit_count(cast(s as bigint)) " + " ".join(
        f"WHEN {k} THEN {w}" for k, w in _SHAP_W.items()
    ) + " END"
    vt = v.select(F.col("s"), F.col("v").alias("v_t"))
    vi = v.select(F.col("s").alias("s_i"), F.col("v").alias("v_i"))
    terms = (
        ch.join(F.broadcast(vt), F.expr("(s & bit) = 0"))
        .join(F.broadcast(vi), F.expr("s_i = s + bit"))
        .select("channel", (F.expr(w_case) * (F.col("v_i") - F.col("v_t"))).alias("term"))
    )
    phi = terms.groupBy("channel").agg(F.sum("term").cast("bigint").alias("phi_x6"))
    span = (
        v.agg(
            F.sum(F.when(F.col("s") == _SHAP_FULL, F.col("v")).otherwise(0)).alias("v_full"),
            F.sum(F.when(F.col("s") == 0, F.col("v")).otherwise(0)).alias("v_empty"),
        )
        .select((F.col("v_full") - F.col("v_empty")).alias("span"))
    )
    return (
        phi.crossJoin(F.broadcast(span))
        .select(
            "channel",
            "phi_x6",
            F.when(F.col("span") == 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr("phi_x6 * 1000000 div (6 * span)").cast("bigint"))
            .alias("share_ppm"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# SLO burn-rate alerts (multiwindow error-budget policy)
# --------------------------------------------------------------------------

_SLO_BUDGET_PPM = 140_000  # SLO: at most 14% of events may be errors
_SLO_SHORT_H, _SLO_LONG_H = 1, 6
_SLO_BURN_X = 2  # alert when BOTH windows burn >= 2x budget


@register(
    "slo_burn_rate_alerts",
    sql=f"""
    WITH h AS (
      SELECT epoch_us(ts) // 3600000000 AS hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT hr, n, e,
             CAST(SUM(n) OVER (ORDER BY hr RANGE BETWEEN {_SLO_LONG_H - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n_long,
             CAST(SUM(e) OVER (ORDER BY hr RANGE BETWEEN {_SLO_LONG_H - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS e_long
      FROM h
    )
    SELECT CAST(hr AS BIGINT) AS hr, n AS n_short, e AS e_short,
           n_long, e_long,
           CAST(e * 1000000 // n AS BIGINT) AS short_ppm,
           CAST(e_long * 1000000 // n_long AS BIGINT) AS long_ppm
    FROM w
    WHERE e * 1000000 >= {_SLO_BURN_X} * {_SLO_BUDGET_PPM} * n
      AND e_long * 1000000 >= {_SLO_BURN_X} * {_SLO_BUDGET_PPM} * n_long
    ORDER BY hr
    """,
    tags=("events", "slo", "monitoring"),
)
def slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the SRE-workbook policy): fire
    only when BOTH the {_SLO_SHORT_H}h short window and the
    {_SLO_LONG_H}h long window burn the {_SLO_BUDGET_PPM}-ppm error
    budget at ≥{_SLO_BURN_X}×. The short window gives fast detection,
    the long window suppresses one-spike false pages — the AND is the
    whole design. Emits the alerting hours with both windows' evidence.

    Exactness: hour buckets are integer microsecond division; the burn
    conditions are cross-multiplied integer comparisons (no rate is
    ever materialized as a float); reported ppm are integer floor
    divisions.

    Scale shape: one event scan collapsing to calendar-bounded hourly
    counts; the long window is a RANGE frame over those hours (handles
    gaps in traffic correctly — 6 CLOCK hours, not 6 rows). Everything
    after the first groupBy is |hours|-sized. In production this exact
    plan runs incrementally as `stream_hourly_rollup_final` + a
    foreachBatch evaluation of the same predicate."""
    h = (
        table(spark, sf_dir, "events")
        .select(
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            (F.col("event_type") == "error").cast("int").alias("is_err"),
        )
        .groupBy("hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("is_err").cast("bigint").alias("e"),
        )
    )
    wlong = Window.orderBy("hr").rangeBetween(-(_SLO_LONG_H - 1), 0)
    w = h.select(
        "hr",
        "n",
        "e",
        F.sum("n").over(wlong).cast("bigint").alias("n_long"),
        F.sum("e").over(wlong).cast("bigint").alias("e_long"),
    )
    burn = F.lit(_SLO_BURN_X * _SLO_BUDGET_PPM)
    return (
        w.filter(
            (F.col("e") * 1_000_000 >= burn * F.col("n"))
            & (F.col("e_long") * 1_000_000 >= burn * F.col("n_long"))
        )
        .select(
            F.col("hr").cast("bigint").alias("hr"),
            F.col("n").alias("n_short"),
            F.col("e").alias("e_short"),
            "n_long",
            "e_long",
            F.expr("e * 1000000 div n").cast("bigint").alias("short_ppm"),
            F.expr("e_long * 1000000 div n_long").cast("bigint").alias("long_ppm"),
        )
        .orderBy("hr")
    )


@register(
    "events_fano_burstiness",
    sql="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
      FROM events GROUP BY event_type, hr
    ),
    span AS (
      SELECT CAST(datediff('hour', MIN(hr), MAX(hr)) + 1 AS BIGINT) AS n_hours
      FROM (SELECT DISTINCT hr FROM h)
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq,
             CAST(COUNT(*) AS BIGINT) AS nonzero_hours
      FROM h GROUP BY event_type
    )
    SELECT event_type, n_events, nonzero_hours, span.n_hours AS span_hours,
           CAST(1000000 * (span.n_hours * sum_sq - n_events * n_events)
                // (span.n_hours * n_events) AS BIGINT) AS fano_micro
    FROM s, span
    ORDER BY event_type
    """,
    tags=("events", "burstiness", "overdispersion"),
)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, variance/mean of hourly arrival
    counts) per event type over the full observed hour span — THE test for
    whether traffic is Poisson (fano_micro ≈ 1e6), regular/bot-like (< 1e6,
    underdispersed; complements events_bot_regularity's per-user view), or
    bursty (> 1e6, the heavy-tailed reality most capacity plans miss).

    Hours with no events count as exact zeros via the span term — the
    population identity n·Var = n·Σc² − T² over n = span hours needs no
    gap materialization at all, so the calendar is never generated. All
    moments are exact BIGINTs from counts; the single division is an
    integer micro-div (numerator ≥ 0 by Cauchy–Schwarz, so floor and
    truncate agree).

    Scale: one (type, hour) keyed partial-agg shuffle — the rollup cube
    every metrics store already maintains — then a per-type fold to one
    row; the global span is a broadcast scalar."""
    e = table(spark, sf_dir, "events")
    h = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("c")
    )
    span = h.select("hr").distinct().agg(
        (
            (F.unix_timestamp(F.max("hr")) - F.unix_timestamp(F.min("hr")))
            / F.lit(3600)
            + 1
        )
        .cast("bigint")
        .alias("n_hours")
    )
    s = h.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        F.count(F.lit(1)).cast("bigint").alias("nonzero_hours"),
    )
    return (
        s.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            "n_events",
            "nonzero_hours",
            F.col("n_hours").alias("span_hours"),
            F.expr(
                "(1000000 * (n_hours * sum_sq - n_events * n_events))"
                " div (n_hours * n_events)"
            )
            .cast("bigint")
            .alias("fano_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# watermark-policy audit (simulated arrival disorder, exact drop counts)
# --------------------------------------------------------------------------

_WM_MAX_DELAY_US = 300_000_000  # simulated network delay in [0, 300s)
_WM_POLICIES_S = (10, 60, 120)
_WM_BUCKET_US = 3_600_000_000  # 1h arrival buckets for the two-level prefix


@register(
    "stream_watermark_policy_audit",
    sql=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS tus,
             epoch_us(ts) + ('0x' || substr(md5('lat|' || CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT
               % {_WM_MAX_DELAY_US} AS arr
      FROM events
    ),
    eb AS (SELECT event_id, tus, arr, arr // {_WM_BUCKET_US} AS b FROM e),
    bm AS (SELECT b, MAX(tus) AS btus FROM eb GROUP BY b),
    pm AS (SELECT b, MAX(btus) OVER (ORDER BY b
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ptus
           FROM bm),
    rmx AS (
      SELECT eb.event_id, eb.tus,
             GREATEST(
               COALESCE(pm.ptus, 0),
               COALESCE(MAX(eb.tus) OVER (PARTITION BY eb.b ORDER BY eb.arr, eb.event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             ) AS rm
      FROM eb JOIN pm ON pm.b = eb.b
    ),
    lat AS (SELECT event_id, tus, rm, GREATEST(0, rm - tus) AS late_us FROM rmx),
    pol AS (SELECT unnest([{", ".join(str(p) for p in _WM_POLICIES_S)}]) AS wm_s)
    SELECT pol.wm_s AS wm_seconds,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN lat.late_us > pol.wm_s * 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN lat.late_us > pol.wm_s * 1000000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dropped_ppm,
           CAST(MAX(lat.late_us) // 1000000 AS BIGINT) AS max_lateness_s
    FROM lat CROSS JOIN pol
    GROUP BY pol.wm_s
    ORDER BY wm_seconds
    """,
    tags=("events", "streaming", "watermark", "two-level-prefix"),
)
def stream_watermark_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-policy what-if: under a deterministic simulated arrival
    delay (md5-hash jitter in [0, {_WM_MAX_DELAY_US} µs) — the corpus's
    event_ids arrive in exact event-time order, so disorder must be
    modeled to audit anything), compute for each candidate watermark
    delta how many events a streaming job would DROP as too late. An
    event is late by (running max event-time over strictly earlier
    arrivals − its own event-time); it is dropped when that exceeds the
    watermark delta — precisely Structured Streaming's append-mode
    discard rule.

    The running max over arrival order is computed WITHOUT a global sort:
    1h arrival buckets → per-bucket max → prefix max over the tiny bucket
    table → within-bucket window (partition-bounded) — the repo's
    two-level-prefix pattern, here for a running MAX. Drop counts are
    exact integers; ppm is an integer div.

    Scale: the only per-event state is the within-bucket window (bounded
    by events/hour per partition); the bucket prefix is calendar-sized.
    This is the report that sizes `withWatermark` before deploying
    stream_hourly_rollup_final — policy too tight drops data, too loose
    holds state."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("tus"),
        (
            F.unix_micros("ts")
            + F.conv(
                F.substring(F.md5(F.concat(F.lit("lat|"), F.col("event_id").cast("string"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % _WM_MAX_DELAY_US
        ).alias("arr"),
    )
    eb = e.withColumn("b", F.expr(f"arr div {_WM_BUCKET_US}"))
    bm = eb.groupBy("b").agg(F.max("tus").alias("btus"))
    wpre = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    pm = bm.select("b", F.max("btus").over(wpre).alias("ptus"))
    win = (
        Window.partitionBy("b")
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lat = (
        eb.join(pm, "b")
        .select(
            "event_id",
            "tus",
            F.greatest(
                F.coalesce("ptus", F.lit(0)),
                F.coalesce(F.max("tus").over(win), F.lit(0)),
            ).alias("rm"),
        )
        .select("event_id", "tus", F.greatest(F.lit(0), F.col("rm") - F.col("tus")).alias("late_us"))
    )
    pol = lat.select(
        "late_us",
        F.explode(F.array(*[F.lit(p) for p in _WM_POLICIES_S])).alias("wm_s"),
    )
    return (
        pol.groupBy("wm_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("late_us") > F.col("wm_s") * 1000000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.expr(
                "(sum(CASE WHEN late_us > wm_s * 1000000 THEN 1 ELSE 0 END) * 1000000)"
                " div count(1)"
            )
            .cast("bigint")
            .alias("dropped_ppm"),
            F.expr("max(late_us) div 1000000").cast("bigint").alias("max_lateness_s"),
        )
        .select(
            F.col("wm_s").cast("int").alias("wm_seconds"),
            "n_events",
            "n_dropped",
            "dropped_ppm",
            "max_lateness_s",
        )
        .orderBy("wm_seconds")
    )


_TREND_TOP = 3


@register(
    "stream_trending_topk_final",
    sql=f"""
    WITH w AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
    expand AS (
      SELECT h AS ws, event_type FROM w
      UNION ALL
      SELECT h - INTERVAL 1 HOUR AS ws, event_type FROM w
    ),
    cnt AS (SELECT ws, event_type, COUNT(*) AS n FROM expand GROUP BY 1, 2),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
                                        ORDER BY n DESC, event_type) AS rnk
           FROM cnt)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(n AS BIGINT) AS n_events, CAST(rnk AS INTEGER) AS rnk
    FROM rk WHERE rnk <= {_TREND_TOP}
    ORDER BY window_start, rnk
    """,
    tags=("events", "streaming", "sliding-window", "topk"),
)
def stream_trending_topk_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-{_TREND_TOP} event types per SLIDING 2h/1h window,
    driven through a REAL StreamingQuery (the stream_hourly_rollup_final
    harness: file source + far-future sentinel closing every window,
    append-mode memory sink) — the canonical "what's hot right now"
    streaming workload, and the sliding-window complement of the tumbling
    rollup already under the gate.

    The stream computes the windowed counts (each event feeds exactly two
    overlapping windows; Spark's window(ts, '2 hours', '1 hour') and the
    oracle's two-row expansion are the same algebra); the per-window
    top-k RANKING runs batch-side on the emitted finals — ranking inside
    an append stream would hold every window open, and a production job
    does exactly this split (stream maintains counts, the serving layer
    ranks). The DuckDB oracle is the batch equivalent, so the hash gate
    pins stream≡batch convergence ONCE every window is closed.

    Scale: streaming state is (window × event_type) counters bounded by
    the watermark horizon; the post-hoc rank partitions by window."""
    from pumle_spark.streaming.pipeline import closed_stream

    events = table(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    with closed_stream(spark, "stream_trend_final_") as run:
        src = f"{run.dir}/src"
        _stage_with_sentinel(events, src)
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        ).parquet(src)
        counts = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = run.drain(
            counts,
            lambda rows: rows.filter(F.col("event_type") != "sentinel").select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                "event_type",
                F.col("n").cast("bigint").alias("n_events"),
            ),
        )
    wrk = Window.partitionBy("window_start").orderBy(F.desc("n_events"), "event_type")
    return (
        out.withColumn("rnk", F.row_number().over(wrk).cast("int"))
        .filter(F.col("rnk") <= _TREND_TOP)
        .orderBy("window_start", "rnk")
    )


@register(
    "events_markov_accuracy",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tr AS (SELECT event_type, nxt, COUNT(*) AS c
           FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    pred AS (
      SELECT event_type, nxt AS predicted, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c DESC, nxt) AS rn,
             SUM(c) OVER (PARTITION BY event_type) AS total
      FROM tr
    )
    SELECT event_type, predicted,
           CAST(total AS BIGINT) AS n_transitions,
           CAST(c AS BIGINT) AS n_correct,
           CAST(c * 1000000 // total AS BIGINT) AS accuracy_ppm
    FROM pred WHERE rn = 1
    ORDER BY event_type
    """,
    tags=("events", "markov", "evaluation"),
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact accuracy of the Markov-1 next-event predictor: for each
    current event type, predict the modal next type (the argmax row of
    events_transition_bigrams' matrix) and score it against every
    observed transition — the BASELINE any sequence model must beat
    before it earns its serving cost, computed in closed form: the
    majority predictor's accuracy per state is exactly max_c / total_c,
    no held-out split needed for the in-sample bound.

    Per-user ordering is (ts, event_id) — the sessionizer's total order —
    so the transition multiset is deterministic. The argmax tiebreak is
    lexicographic on the successor type. Counts and the ppm accuracy are
    exact integers.

    Scale: one per-user LEAD window (user-keyed, bounded partitions),
    one (type, next) rollup — |types|² rows — then a window over the tiny
    type key. The fact scan dominates; everything after is matrix-sized."""
    e = table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lead("event_type").over(wseq).alias("nxt"))
    tr = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wtype = Window.partitionBy("event_type")
    pred = tr.select(
        "event_type",
        F.col("nxt").alias("predicted"),
        "c",
        F.row_number().over(wtype.orderBy(F.desc("c"), "nxt")).alias("rn"),
        F.sum("c").over(wtype).alias("total"),
    )
    return (
        pred.filter(F.col("rn") == 1)
        .select(
            "event_type",
            "predicted",
            F.col("total").cast("bigint").alias("n_transitions"),
            F.col("c").cast("bigint").alias("n_correct"),
            F.expr("c * 1000000 div total").cast("bigint").alias("accuracy_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# interrupted time-series causal impact (exact micro OLS extrapolation)
# --------------------------------------------------------------------------

_ITS_CUT_FRAC_NUM, _ITS_CUT_FRAC_DEN = 7, 10  # cutover at 70% of the day span


@register(
    "events_interrupted_timeseries",
    sql=f"""
    WITH d AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day,
             COUNT(*) AS y
      FROM events GROUP BY 1
    ),
    span AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1,
             MIN(day) + ((MAX(day) - MIN(day)) * {_ITS_CUT_FRAC_NUM})
               // {_ITS_CUT_FRAC_DEN} AS cut
      FROM d
    ),
    pre AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(day - span.d0) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM((day - span.d0) * (day - span.d0)) AS BIGINT) AS sxx,
             CAST(SUM((day - span.d0) * y) AS BIGINT) AS sxy
      FROM d, span WHERE day <= span.cut
    ),
    post AS (
      SELECT d.day - span.d0 AS x, d.y, pre.n, pre.sx, pre.sy, pre.sxx, pre.sxy
      FROM d, span, pre WHERE d.day > span.cut
    ),
    terms AS (
      -- yhat = (sy*sxx - sx*sxy + x*(n*sxy - sx*sy)) / (n*sxx - sx*sx): kept
      -- rational; excess_num = y*den - yhat_num stays an exact integer
      SELECT x, y,
             (n * sxx - sx * sx) AS den,
             (sy * sxx - sx * sxy) + x * (n * sxy - sx * sy) AS yhat_num
      FROM post
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_post_days,
           CAST(SUM(y) AS BIGINT) AS actual_events,
           CAST(SUM(yhat_num) // MAX(den) AS BIGINT) AS predicted_events,
           CAST((SUM(y) * MAX(den) - SUM(yhat_num)) * 1000000
                // SUM(yhat_num) AS BIGINT) AS lift_ppm
    FROM terms
    """,
    tags=("events", "causal", "interrupted-timeseries"),
)
def events_interrupted_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series causal read: fit the pre-period linear
    trend of daily event volume (OLS on the first {_ITS_CUT_FRAC_NUM}0%
    of the day span), extrapolate it across the post-period, and report
    actual-vs-counterfactual cumulative lift — the single-series causal
    design used when no control group exists (the no-control complement
    of abtest_diff_in_diff).

    Exactness: the OLS prediction is kept RATIONAL — ŷ(x) den-scaled as
    (sy·sxx − sx·sxy) + x·(n·sxy − sx·sy) over den = n·sxx − sx², so the
    post-period predicted TOTAL is one integer div of exact BIGINT sums
    and the lift is one cross-multiplied integer ppm. No float enters at
    any point; engine aggregation order is irrelevant.

    Scale: the fact table folds to ≤ span-days rows before any algebra;
    pre-period moments are five scalars broadcast into the post scan."""
    e = table(spark, sf_dir, "events")
    d = e.groupBy(
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01").cast("date")).alias(
            "day"
        )
    ).agg(F.count(F.lit(1)).alias("y"))
    span = d.agg(
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
        F.expr(
            f"min(day) + ((max(day) - min(day)) * {_ITS_CUT_FRAC_NUM})"
            f" div {_ITS_CUT_FRAC_DEN}"
        ).alias("cut"),
    )
    dd = d.crossJoin(F.broadcast(span))
    pre = dd.filter(F.col("day") <= F.col("cut")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("day") - F.col("d0")).cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("day") - F.col("d0")) * (F.col("day") - F.col("d0")))
        .cast("bigint")
        .alias("sxx"),
        F.sum((F.col("day") - F.col("d0")) * F.col("y")).cast("bigint").alias("sxy"),
    )
    post = (
        dd.filter(F.col("day") > F.col("cut"))
        .crossJoin(F.broadcast(pre))
        .select(
            (F.col("day") - F.col("d0")).alias("x"),
            "y",
            "n",
            "sx",
            "sy",
            "sxx",
            "sxy",
        )
        .select(
            "x",
            "y",
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
            (
                F.col("sy") * F.col("sxx")
                - F.col("sx") * F.col("sxy")
                + F.col("x") * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            ).alias("yhat_num"),
        )
    )
    return post.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_post_days"),
        F.sum("y").cast("bigint").alias("actual_events"),
        F.expr("sum(yhat_num) div max(den)").cast("bigint").alias("predicted_events"),
        F.expr(
            "(sum(y) * max(den) - sum(yhat_num)) * 1000000 div sum(yhat_num)"
        )
        .cast("bigint")
        .alias("lift_ppm"),
    )


@register(
    "events_growth_accounting",
    sql="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) // 7 AS wk
      FROM events
    ),
    lagged AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      FROM uw
    ),
    states AS (
      SELECT wk,
             CASE WHEN prev_wk IS NULL THEN 'new'
                  WHEN prev_wk = wk - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM lagged
    ),
    churn AS (
      SELECT wk + 1 AS wk, 'churned' AS state
      FROM lagged l
      WHERE NOT EXISTS (SELECT 1 FROM uw u
                        WHERE u.user_id = l.user_id AND u.wk = l.wk + 1)
        AND l.wk < (SELECT MAX(wk) FROM uw)
    ),
    allrows AS (SELECT wk, state FROM states UNION ALL SELECT wk, state FROM churn)
    SELECT CAST(wk AS BIGINT) AS week,
           CAST(COALESCE(SUM(CASE WHEN state = 'new' THEN 1 END), 0) AS BIGINT) AS n_new,
           CAST(COALESCE(SUM(CASE WHEN state = 'retained' THEN 1 END), 0) AS BIGINT) AS n_retained,
           CAST(COALESCE(SUM(CASE WHEN state = 'resurrected' THEN 1 END), 0) AS BIGINT) AS n_resurrected,
           CAST(COALESCE(SUM(CASE WHEN state = 'churned' THEN 1 END), 0) AS BIGINT) AS n_churned
    FROM allrows
    GROUP BY wk
    ORDER BY week
    """,
    tags=("events", "growth-accounting", "lifecycle"),
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital framework): every
    active user-week classifies as NEW (first week ever), RETAINED
    (active previous week too), or RESURRECTED (returning after a gap);
    users active in week w but not w+1 count as CHURNED in w+1. The
    four columns satisfy the conservation law
    active_w = new_w + retained_w + resurrected_w and
    active_w − retained_{w+1} = churned_{w+1} — growth teams read
    net-new = new + resurrected − churned at a glance.

    Epoch-day div 7 weeks (no ISO quirks). Classification is one LAG per
    user; churn is the anti-join of (user, wk+1) against presence —
    expressed here as the same lag table filtered on "no next-week row",
    which Spark compiles to a left-anti join, with the global max week
    excluding the right-censored tail.

    Scale: the fact table collapses to distinct user-weeks first; the
    lag window partitions by user (bounded); churn's anti-join shares
    the user-week hash partitioning."""
    e = table(spark, sf_dir, "events")
    uw = e.select(
        "user_id",
        F.expr("datediff(to_date(date_trunc('day', ts)), date '1970-01-01') div 7").alias(
            "wk"
        ),
    ).distinct()
    wlag = Window.partitionBy("user_id").orderBy("wk")
    lagged = uw.select("user_id", "wk", F.lag("wk").over(wlag).alias("prev_wk"))
    states = lagged.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    maxwk = uw.agg(F.max("wk").alias("mw"))
    # churned in wk+1 = active in wk with NO (user, wk+1) presence row
    churned = (
        uw.join(
            uw.select("user_id", (F.col("wk") - 1).alias("wk")),
            ["user_id", "wk"],
            "left_anti",
        )
        .crossJoin(F.broadcast(maxwk))
        .filter(F.col("wk") < F.col("mw"))
        .select((F.col("wk") + 1).alias("wk"), F.lit("churned").alias("state"))
    )
    allrows = states.unionAll(churned)
    return (
        allrows.groupBy(F.col("wk").cast("bigint").alias("week"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("state") == "new", 1)), F.lit(0))
            .cast("bigint")
            .alias("n_new"),
            F.coalesce(F.sum(F.when(F.col("state") == "retained", 1)), F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            F.coalesce(F.sum(F.when(F.col("state") == "resurrected", 1)), F.lit(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.coalesce(F.sum(F.when(F.col("state") == "churned", 1)), F.lit(0))
            .cast("bigint")
            .alias("n_churned"),
        )
        .orderBy("week")
    )


@register(
    "events_entropy_rate",
    sql="""
    WITH seq AS (
      SELECT event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b
      FROM events
    ),
    tr AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM seq WHERE b IS NOT NULL GROUP BY 1, 2),
    st AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM tr GROUP BY a),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS t FROM st),
    terms AS (
      SELECT tr.a, st.ca, tr.c,
             tr.c * CAST(ROUND(log2(CAST(tr.c AS DOUBLE) / st.ca) * 1000000)
                         AS BIGINT) AS term_micro
      FROM tr JOIN st ON st.a = tr.a
    ),
    per_state AS (
      SELECT a AS state, MAX(ca) AS n_out,
             CAST(-SUM(term_micro) // MAX(ca) AS BIGINT) AS h_cond_micro
      FROM terms GROUP BY a
    )
    SELECT p.state, p.n_out AS n_transitions, p.h_cond_micro,
           CAST(p.n_out * 1000000 // tot.t AS BIGINT) AS weight_ppm,
           CAST((SELECT -SUM(term_micro) FROM terms) // tot.t AS BIGINT)
             AS entropy_rate_micro
    FROM per_state p CROSS JOIN tot
    ORDER BY state
    """,
    tags=("events", "markov", "entropy"),
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the observed event chain: per state, the
    conditional next-event entropy H(next | state) in micro-bits, plus
    the chain-level rate Σ π(a)·H(·|a) — the information-theoretic upper
    bound on ANY next-event predictor (events_markov_accuracy's modal
    baseline is the floor; a sequence model lives between them). A state
    near zero conditional entropy is fully scripted behavior; near
    log2(|types|) is noise no model will crack.

    Exactness: one log2 per (a,b) transition cell over identical IEEE
    inputs, micro-quantized (the unigram-LM contract); everything around
    it — weights, the π mixture, both divisions — is exact integer
    arithmetic on transition counts.

    Scale: the fact scan folds to the |types|² transition matrix via one
    per-user LEAD window; all entropy algebra runs on matrix-sized data."""
    e = table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(wseq).alias("b"),
    )
    tr = (
        seq.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    st = tr.groupBy("a").agg(F.sum("c").cast("bigint").alias("ca"))
    tot = st.agg(F.sum("ca").cast("bigint").alias("t"))
    terms = tr.join(st, "a").select(
        "a",
        "ca",
        "c",
        (
            F.col("c")
            * F.round(F.log2(F.col("c").cast("double") / F.col("ca")) * 1_000_000).cast(
                "bigint"
            )
        ).alias("term_micro"),
    )
    total_term = terms.agg((-F.sum("term_micro")).cast("bigint").alias("neg_sum"))
    per_state = terms.groupBy(F.col("a").alias("state")).agg(
        F.max("ca").cast("bigint").alias("n_transitions"),
        F.expr("-sum(term_micro) div max(ca)").cast("bigint").alias("h_cond_micro"),
    )
    return (
        per_state.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(total_term))
        .select(
            "state",
            "n_transitions",
            "h_cond_micro",
            F.expr("n_transitions * 1000000 div t").cast("bigint").alias("weight_ppm"),
            F.expr("neg_sum div t").cast("bigint").alias("entropy_rate_micro"),
        )
        .orderBy("state")
    )
