"""As-of join over the events table — the temporal-attribution join
Spark's relational API lacks as a primitive (the brief's canonical
"custom operator" example; reference scope: jsonld.js has no temporal
surface, so this is engine-native Spark-first design, not parity).

Semantics: for every LEFT event, attach the most recent RIGHT event of
the same key with right.ts <= left.ts (backward as-of, inclusive),
optionally bounded by a tolerance. The gated query attributes each
`purchase` to the user's latest preceding `view` within 6 hours — the
classic last-touch attribution shape.

Physical design — the union-tag single-window plan, NOT a range join:
tag both sides, union (here: one filtered scan, since both sides live
in the same table), then ONE window over (key) ordered by
(us, side, event_id) where RIGHT sorts before LEFT at equal
timestamps, and `last(right_attr, ignorenulls=True)` carries the most
recent right row forward. Cost: one Exchange on the key + one sort —
no per-row range probe, no broadcast requirement on either side, O(1)
window state per row. This is the shape that survives 100 TB: a range
join (Spark would plan BroadcastNestedLoopJoin or a cartesian bucket
join) blows up on big-both-sides inputs, while the tagged window is a
single hash partition + sort-merge pass. Skew: a pathological key
(bot user) serializes inside its window partition; pass
`salt_bucket_us` to split every key's window by coarse time bucket
with an exact boundary carry-over — the per-partition bound becomes
events-per-(key, bucket), and the carry table is one row per
(key, bucket), so the second window is bucket-scale, not event-scale.
Output is bit-identical to the unsalted plan (equality test with a
planted bot key in tests/test_asof.py; the gated
`events_asof_join_salted` query shares the unsalted DuckDB oracle).

All arithmetic is int64 microsecond epochs (unix_micros ↔ epoch_us,
session TZ pinned UTC); no raw timestamps or floats are returned, so
the DuckDB oracle is bit-exact.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

LEFT_TYPE = "purchase"
RIGHT_TYPE = "view"
MAX_LAG_S = 21600  # 6 h attribution window
_MAX_LAG_US = MAX_LAG_S * 1_000_000


def asof_attach(events, left_type: str = LEFT_TYPE,
                right_type: str = RIGHT_TYPE,
                tolerance_us: int | None = _MAX_LAG_US,
                salt_bucket_us: int | None = None):
    """Backward-inclusive as-of join of two event types sharing one
    table: (user_id, event_id, us, asof_event_id, asof_us, lag_us),
    one row per LEFT event. `asof_*`/`lag_us` are NULL when no RIGHT
    event precedes it (or the latest one is older than
    `tolerance_us`). Deterministic under equal timestamps: RIGHT rows
    at the same microsecond ARE visible (as-of <=), and the latest
    among them is chosen by event_id.

    `salt_bucket_us` (skew mitigation, OFF by default): partition the
    window by (key, us div salt_bucket_us) instead of (key), then
    repair bucket boundaries exactly — a left event whose bucket has
    no preceding right takes the latest right of any EARLIER bucket,
    computed by a second window over the one-row-per-(key, bucket)
    carry table (ordered prefix `last(ignorenulls)` of each bucket's
    latest right). Identical output to the unsalted plan; the hot-key
    partition bound drops from events-per-key to
    events-per-(key, bucket). `us div bucket` requires non-negative
    epochs (Spark div truncates toward zero) — event times are
    post-1970 by contract."""
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    t = (events.filter(F.col("event_type").isin(left_type, right_type))
         .select("user_id", "event_id",
                 (F.col("event_type") == left_type)
                 .cast("int").alias("is_left"),
                 ep.alias("us")))
    right_id = F.when(F.col("is_left") == 0, F.col("event_id"))
    right_us = F.when(F.col("is_left") == 0, F.col("us"))
    if salt_bucket_us is None:
        part_cols = ["user_id"]
    else:
        t = t.withColumn("bkt", F.expr(f"us div {int(salt_bucket_us)}"))
        part_cols = ["user_id", "bkt"]
    w = (Window.partitionBy(*part_cols)
         .orderBy("us", "is_left", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = t.select(
        "user_id", "event_id", "is_left", "us",
        *([] if salt_bucket_us is None else ["bkt"]),
        F.last(right_id, ignorenulls=True).over(w).alias("cand_id"),
        F.last(right_us, ignorenulls=True).over(w).alias("cand_us"))
    if salt_bucket_us is not None:
        # boundary carry: latest right per (key, bucket) -> for every
        # bucket, the latest right of any STRICTLY EARLIER bucket.
        # struct(us, event_id) max = the window's (us, event_id) tie
        # order restricted to rights, so the repair picks exactly the
        # row the unsalted window would have carried across.
        bstats = t.groupBy("user_id", "bkt").agg(
            F.max(F.when(F.col("is_left") == 0,
                         F.struct(F.col("us"), F.col("event_id"))))
            .alias("lr"))
        wb = (Window.partitionBy("user_id").orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1))
        carry = bstats.select(
            "user_id", "bkt",
            F.last("lr", ignorenulls=True).over(wb).alias("ci"))
        carried = (carried.join(carry, ["user_id", "bkt"])
                   .select("user_id", "event_id", "is_left", "us",
                           F.coalesce("cand_id", F.col("ci.event_id"))
                           .alias("cand_id"),
                           F.coalesce("cand_us", F.col("ci.us"))
                           .alias("cand_us")))
    in_window = F.col("cand_id").isNotNull()
    if tolerance_us is not None:
        in_window = in_window & (
            (F.col("us") - F.col("cand_us")) <= F.lit(tolerance_us))
    return (carried.filter(F.col("is_left") == 1)
            .select(
                "user_id", "event_id", "us",
                F.when(in_window, F.col("cand_id")).alias("asof_event_id"),
                F.when(in_window, F.col("cand_us")).alias("asof_us"),
                F.when(in_window, F.col("us") - F.col("cand_us"))
                .alias("lag_us")))


def q_events_asof_join(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return asof_attach(e).orderBy("event_id")


def q_events_asof_join_salted(spark, sf_dir):
    """Gated query: the skew-salted plan (1 h time buckets + boundary
    carry) pinned to the SAME DuckDB oracle as the unsalted path —
    the salting must be output-invisible."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (asof_attach(e, salt_bucket_us=3_600_000_000)
            .orderBy("event_id"))


ORACLE_EVENTS_ASOF = f"""
WITH t AS (
  SELECT user_id, event_id,
         case when event_type = '{LEFT_TYPE}' then 1 else 0 end
           AS is_left,
         epoch_us(ts) AS us
  FROM events
  WHERE event_type IN ('{LEFT_TYPE}', '{RIGHT_TYPE}')
),
carried AS (
  SELECT user_id, event_id, is_left, us,
         last_value(case when is_left = 0 then event_id end IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, is_left, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cand_id,
         last_value(case when is_left = 0 then us end IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY us, is_left, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cand_us
  FROM t
)
SELECT user_id, event_id, cast(us as bigint) AS us,
       cast(case when cand_id IS NOT NULL
                  AND us - cand_us <= {_MAX_LAG_US}
            then cand_id end as bigint) AS asof_event_id,
       cast(case when cand_id IS NOT NULL
                  AND us - cand_us <= {_MAX_LAG_US}
            then cand_us end as bigint) AS asof_us,
       cast(case when cand_id IS NOT NULL
                  AND us - cand_us <= {_MAX_LAG_US}
            then us - cand_us end as bigint) AS lag_us
FROM carried WHERE is_left = 1 ORDER BY event_id
"""
