"""Batch sessionization over the events table: gap-based session
assignment via window functions — the batch counterpart of the
streaming sessionizer (streaming/ingest.py sessionize_stream, which
uses applyInPandasWithState event-time timeouts for the same cut rule
on unbounded input).

Classic two-window plan: lag(ts) per user detects gaps, a running sum
of the gap flags numbers the sessions, then one partial-aggregated
groupBy rolls sessions up. Scale shape (verified via explain): BOTH
windows run off a single Exchange+Sort on user_id (same partition and
sort spec → Spark stacks them with no re-shuffle); the rollup then
pays one more exchange on (user_id, session_idx), but only AFTER
map-side partial combine has collapsed events to ~one row per
session, so the second shuffle moves session-count rows, not event
rows. user_id is uniform (no celebrity-key skew in event streams
keyed by actor; if a bot user appears, AQE skew-split handles the
sort spill), and window state per row is 2 longs. All arithmetic is int64 MICROSECOND epochs
(unix_micros ↔ epoch_us — the event timestamps carry sub-second
components, so second-truncated epochs would cut sessions differently
at gap boundaries; no raw timestamps returned, session TZ pinned UTC).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

SESSION_GAP_S = 1800  # 30 min inactivity cut
_GAP_US = SESSION_GAP_S * 1_000_000


def sessionize(events, gap_s: int = SESSION_GAP_S):
    """(user_id, ts, event_type, ...) → one row per session:
    (user_id, session_idx, n_events, n_event_types, start_us, end_us,
    duration_us). A session breaks when the gap to the previous event
    of the SAME user exceeds `gap_s` seconds (microsecond-exact).
    Deterministic under equal timestamps via the (ts, event_id)
    compound sort key."""
    gap_us = gap_s * 1_000_000
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    # parquet ts is TIMESTAMP_NTZ; cast to session-TZ timestamp (pinned
    # UTC by the gate) so unix_micros applies — same naive-as-UTC read
    # DuckDB's epoch_us does
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    new_flag = F.when(
        F.lag("ts").over(w).isNull() |
        ((ep - F.unix_micros(F.lag("ts").over(w).cast("timestamp")))
         > gap_us),
        F.lit(1)).otherwise(F.lit(0))
    run = (Window.partitionBy("user_id").orderBy(*order)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = events.select(
        "user_id", "event_type", ep.alias("us"),
        F.sum(new_flag).over(run).alias("session_idx"))
    return (flagged.groupBy("user_id", "session_idx")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("event_type").alias("n_event_types"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us"))
            .withColumn("duration_us",
                        F.col("end_us") - F.col("start_us")))


def q_events_sessionize(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(e).orderBy("user_id", "session_idx")


ORACLE_EVENTS_SESSIONIZE = f"""
WITH lagged AS (
  SELECT user_id, event_id, ts, event_type,
         epoch_us(ts) AS us,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_type, us,
         sum(case when prev_ts IS NULL
                   OR us - epoch_us(prev_ts) > {_GAP_US}
             then 1 else 0 end)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM lagged
)
SELECT user_id, cast(session_idx as bigint) AS session_idx,
       cast(count(*) as bigint) AS n_events,
       cast(count(distinct event_type) as bigint) AS n_event_types,
       cast(min(us) as bigint) AS start_us,
       cast(max(us) as bigint) AS end_us,
       cast(max(us) - min(us) as bigint) AS duration_us
FROM flagged GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# funnel analysis: ordered step progression per user

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_stages(events, steps=FUNNEL_STEPS):
    """Per-user ordered funnel: step i+1 counts only at-or-after the
    user's completion of step i (classic product-analytics funnel).
    Output one row per user: (user_id, t1_us..tK_us nullable int64
    micros of each step's EARLIEST valid completion, stage = number
    of completed steps).

    Plan: one chained conditional-min aggregation per step, all keyed
    on user_id — each is a partial-combining groupBy (events collapse
    map-side to one row per user before the exchange), and every join
    is user-keyed so AQE reuses the partitioning; no window sort of
    raw events, no per-user event collection (a collect_list funnel
    holds a user's whole history in one row — the celebrity-user OOM
    shape). Step count is a small constant, so the plan is K narrow
    aggregates, not an iteration."""
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    users = events.select("user_id").distinct()
    out = users
    prev_col = None
    for i, step in enumerate(steps, start=1):
        f = (events.filter(F.col("event_type") == step)
             .select("user_id", ep.alias("us")))
        if prev_col is not None:
            f = (f.join(out.select("user_id", prev_col), "user_id")
                 .filter(F.col("us") >= F.col(prev_col)))
        t = f.groupBy("user_id").agg(F.min("us").alias(f"t{i}_us"))
        out = out.join(t, "user_id", "left")
        prev_col = f"t{i}_us"
    stage = sum(
        (F.col(f"t{i}_us").isNotNull().cast("long")
         for i in range(1, len(steps) + 1)), F.lit(0))
    return out.select("user_id",
                      *[f"t{i}_us" for i in range(1, len(steps) + 1)],
                      stage.alias("stage"))


def q_events_funnel(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(e).orderBy("user_id")


def _oracle_events_funnel() -> str:
    ctes = ["users AS (SELECT DISTINCT user_id FROM events)"]
    prev = None
    for i, step in enumerate(FUNNEL_STEPS, start=1):
        cond = f"AND epoch_us(e.ts) >= t{i-1}.t{i-1}_us" if prev else ""
        join = (f"JOIN t{i-1} ON t{i-1}.user_id = e.user_id "
                if prev else "")
        ctes.append(
            f"t{i} AS (SELECT e.user_id, "
            f"cast(min(epoch_us(e.ts)) as bigint) AS t{i}_us "
            f"FROM events e {join}"
            f"WHERE e.event_type = '{step}' {cond} GROUP BY e.user_id)")
        prev = i
    k = len(FUNNEL_STEPS)
    tcols = ", ".join(f"t{i}.t{i}_us" for i in range(1, k + 1))
    joins = " ".join(f"LEFT JOIN t{i} ON t{i}.user_id = users.user_id"
                     for i in range(1, k + 1))
    stage = " + ".join(
        f"(case when t{i}.t{i}_us IS NULL then 0 else 1 end)"
        for i in range(1, k + 1))
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT users.user_id, {tcols}, "
            f"cast({stage} as bigint) AS stage "
            f"FROM users {joins} ORDER BY users.user_id")


# ---------------------------------------------------------------------------
# cohort retention: signup-period cohorts x activity periods

RETENTION_PERIOD_S = 7 * 86400  # weekly cohorts
_PERIOD_US = RETENTION_PERIOD_S * 1_000_000


def retention_cohorts(events, period_s: int = RETENTION_PERIOD_S):
    """Classic retention matrix: users cohorted by the absolute
    period (epoch DIV period) of their FIRST `signup` event; for each
    (cohort, periods-since-signup) cell, the number of distinct users
    with any event in that offset period. Two user-keyed
    partial-combining aggs + one broadcast-sized join + one
    (cohort, offset) countDistinct — the join key is user_id, and the
    cohort map is one row per signed-up user (orders below event
    scale)."""
    period_us = period_s * 1_000_000
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    signup = (events.filter(F.col("event_type") == "signup")
              .select("user_id", ep.alias("us"))
              .groupBy("user_id")
              .agg(F.min("us").alias("signup_us")))
    # integer `div`, never float division then cast: at 1e15-µs
    # epochs a float quotient can round across the bucket boundary;
    # and filter on raw micros BEFORE the div — Spark's div truncates
    # toward zero, so a pre-signup event would land in offset 0
    # instead of being excluded
    act = (events.select("user_id", ep.alias("us"))
           .join(signup, "user_id")
           .filter(F.col("us") >= F.col("signup_us"))
           .select(F.expr(f"signup_us div {period_us}").alias("cohort"),
                   F.expr(f"(us - signup_us) div {period_us}")
                   .alias("period_offset"),
                   "user_id"))
    return (act.groupBy("cohort", "period_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


def q_events_retention(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(e).orderBy("cohort", "period_offset")


ORACLE_EVENTS_RETENTION = f"""
WITH signup AS (
  SELECT user_id, min(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
act AS (
  SELECT cast(s.signup_us // {_PERIOD_US} as bigint) AS cohort,
         cast((epoch_us(e.ts) - s.signup_us) // {_PERIOD_US} as bigint)
           AS period_offset,
         e.user_id
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE epoch_us(e.ts) >= s.signup_us
)
SELECT cohort, period_offset,
       cast(count(DISTINCT user_id) as bigint) AS n_users
FROM act GROUP BY cohort, period_offset
ORDER BY cohort, period_offset
"""


# ---------------------------------------------------------------------------
# volume-anomaly detection: per-user daily event-count spikes

ANOMALY_K2 = 4  # flag |c - mean| > 2*std (k^2 = 4)
_DAY_US = 86400 * 1_000_000


def anomaly_days(events, k2: int = ANOMALY_K2):
    """Per-user daily spike detection over the user's OBSERVED days:
    flag (user, day) cells where the event count deviates from the
    user's mean by more than k standard deviations. The test is pure
    int64 cross-multiplication — (m*c - S)^2 > k^2 * (m*Q - S^2) with
    S = sum(counts), Q = sum(counts^2), m = observed days — no float
    mean/std ever computed, so both engines agree exactly (overflow
    bound: m*c and S are event-scale; squares stay < 2^63 up to ~3e9
    events per user — rescale counts beyond that). Plan: two
    partial-combining aggs (user,day then user) + one user-keyed join
    — the stats side is one row per user, AQE broadcasts it."""
    counts = (events
              .select("user_id", F.expr(
                  f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
                  .alias("day"))
              .groupBy("user_id", "day")
              .agg(F.count("*").alias("n_events")))
    stats = (counts.groupBy("user_id")
             .agg(F.sum("n_events").alias("S"),
                  F.sum(F.col("n_events") * F.col("n_events")).alias("Q"),
                  F.count("*").alias("m")))
    dev = F.col("m") * F.col("n_events") - F.col("S")
    var_m2 = F.col("m") * F.col("Q") - F.col("S") * F.col("S")
    return (counts.join(stats, "user_id")
            .filter(dev * dev > F.lit(k2) * var_m2)
            .select("user_id", "day", "n_events",
                    F.col("m").alias("n_user_days")))


def q_events_anomaly(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return anomaly_days(e).orderBy("user_id", "day")


ORACLE_EVENTS_ANOMALY = f"""
WITH counts AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
         count(*) AS n_events
  FROM events GROUP BY user_id, epoch_us(ts) // {_DAY_US}
),
stats AS (
  SELECT user_id, sum(n_events) AS S,
         sum(n_events * n_events) AS Q, count(*) AS m
  FROM counts GROUP BY user_id
)
SELECT c.user_id, cast(c.day as bigint) AS day,
       cast(c.n_events as bigint) AS n_events,
       cast(s.m as bigint) AS n_user_days
FROM counts c JOIN stats s ON c.user_id = s.user_id
WHERE (s.m * c.n_events - s.S) * (s.m * c.n_events - s.S)
      > {ANOMALY_K2} * (s.m * s.Q - s.S * s.S)
ORDER BY c.user_id, c.day
"""
