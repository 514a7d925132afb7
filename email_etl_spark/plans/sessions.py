"""Sessionization & windowed aggregation (SURVEY.md §2.H) over the
events stream table — the batch twins of the structured-streaming
pipelines in email_etl_spark/streaming/.

Gap-based sessionization is the classic lag + running-sum pattern:
one shuffle on the session key, everything else window-local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from email_etl_spark.cache import memo
from email_etl_spark.io import load_table, present_sorted
from email_etl_spark.plans.registry import register

SESSION_GAP_S = 1800  # 30 minutes


@register(
    "sessionize",
    headline=True,
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS sess_events,
         date_diff('second', MIN(ts), MAX(ts)) AS sess_seconds
  FROM s GROUP BY user_id, sess_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(sess_events) AS BIGINT) AS n_events,
       MAX(sess_events) AS max_session_events,
       MAX(sess_seconds) AS max_session_seconds
FROM per_sess GROUP BY user_id ORDER BY user_id
""",
    doc="30-min-gap sessionization (lag + running sum); the batch twin of a streaming session window.",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # ONE epoch conversion per row, projected before the window, as
    # pure integer arithmetic: unix_micros over the NTZ→TIMESTAMP cast
    # (session tz pinned UTC by io._ensure_confs, so the epoch is
    # tz-independent) then integer div — measured ~10% faster than
    # unix_timestamp(), which goes through the formatter path for NTZ
    # inputs. Ordering by the epoch equals ordering by ts, so lag-gap,
    # window order and the min/max aggregates all reuse the integer.
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse"),
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    # materialize the lag ONCE: referencing the gap expression twice
    # (isNull + threshold) makes Catalyst emit two identical lag window
    # expressions (_we0/_we1 in the r4 plan) — the source of the
    # +23%-vs-r1 drift VERDICT r4 flagged; a named projection dedups it
    prev = F.lag("tse").over(w)
    s = e.select(
        "user_id",
        "event_id",
        "tse",
        F.when(prev.isNull() | ((F.col("tse") - prev) > SESSION_GAP_S), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = s.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("sess_events"),
        (F.max("tse") - F.min("tse")).alias("sess_seconds"),
    )
    # user-dimension-sized result: single-partition presentation sort
    # (orderBy's range-bounds sampling job re-executed the whole
    # window+agg chain — the source of the r4/r5 bench drift)
    return present_sorted(
        per_sess.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"),
            F.sum("sess_events").cast("bigint").alias("n_events"),
            F.max("sess_events").alias("max_session_events"),
            F.max("sess_seconds").alias("max_session_seconds"),
        ),
        "user_id",
    )


@register(
    "tumbling_counts",
    headline=True,
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="1-hour tumbling window counts — batch twin of the streaming windowed aggregation (SURVEY §2.H).",
)
def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(F.col("ts"), "1 hour").start.alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        # (hour x type)-sized result: see io.present_sorted
        .transform(lambda d: present_sorted(d, "window_start", "event_type"))
    )


@register(
    "value_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(MAX(value), 4) AS max_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Exact interpolated percentiles per category (volume/latency "
        "profile surface). Spark percentile == SQL quantile_cont (both "
        "linear interpolation over the sorted set); at cluster scale swap "
        "to approx_percentile (t-digest) and drop the oracle to rows-only."
    ),
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "conversion_funnel",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(first_signup) AS n_signed_up,
       COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS n_converted,
       CAST((20000 * COUNT(CASE WHEN first_purchase > first_signup THEN 1 END)
             + GREATEST(COUNT(first_signup), 1))
            // (2 * GREATEST(COUNT(first_signup), 1)) AS BIGINT)
           AS conversion_bps
FROM firsts
""",
    doc=(
        "Sequence funnel: users whose first purchase follows their first "
        "signup — conditional-aggregation pivot, one shuffle on user_id "
        "(engagement-analysis surface, ref: analyze_email_patterns)."
    ),
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    converted = F.count(
        F.when(F.col("first_purchase") > F.col("first_signup"), 1)
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        converted.alias("n_converted"),
    ).select(
        "n_users",
        "n_signed_up",
        "n_converted",
        # half-up integer bps (r9 halfway-class conversion)
        F.expr(
            "(20000 * n_converted + greatest(n_signed_up, 1))"
            " div (2 * greatest(n_signed_up, 1))"
        )
        .cast("bigint")
        .alias("conversion_bps"),
    )


@register(
    "daily_retention",
    oracle="""
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
)
SELECT a.day,
       COUNT(*) AS active_users,
       COUNT(b.user_id) AS retained_next_day,
       CAST((20000 * COUNT(b.user_id) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS retention_bps
FROM active a
LEFT JOIN active b
  ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
GROUP BY a.day ORDER BY a.day
""",
    doc=(
        "Next-day retention: distinct-activity self-join offset by one day "
        "— the day-over-day engagement trend (pattern-analysis surface)."
    ),
)
def daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    a, b = active.alias("a"), active.alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.day") == F.col("a.day") + F.expr("INTERVAL 1 DAY")),
        "left",
    )
    return (
        joined.groupBy(F.col("a.day").alias("day"))
        .agg(
            F.count("*").alias("active_users"),
            F.count(F.col("b.user_id")).alias("retained_next_day"),
        )
        # half-up integer bps — exact, no ROUND(double) on the
        # count-ratio quotient (r9 halfway-class conversion)
        .select(
            "day",
            "active_users",
            "retained_next_day",
            F.expr(
                "(20000 * retained_next_day + active_users)"
                " div (2 * active_users)"
            )
            .cast("bigint")
            .alias("retention_bps"),
        )
        .orderBy("day")
    )


def _gap_profile_batches(it):
    """Whole-partition gap profiling over a (user_id, ts, event_id)
    stream that is hash-partitioned by user and sorted by (user_id,
    ts, event_id). r10 (guide §4.1): groupBy().applyInPandas called
    Python once PER USER and built a one-row pandas DataFrame each
    time (~1 ms of pure overhead per group — measured 12.5 s for the
    sf0.1 user count); this kernel runs once per batch, vectorizes
    diff/floor-div across the whole batch, and carries a split group
    across Arrow batch boundaries. Per-user math is unchanged —
    including the floor(x·10⁴+0.5)/10⁴ half-up rounding twin of the
    oracle's ROUND (the r8/r9 double-rounding hazard class stays
    kernel-side on purpose)."""
    import math

    import numpy as np
    import pandas as pd

    def r4(x):  # round-half-up like SQL ROUND (python round is banker's)
        return math.floor(float(x) * 10000 + 0.5) / 10000

    rows: list[tuple] = []

    def flush(u, ts_ns) -> None:
        gaps = np.diff(ts_ns) // 1_000_000_000
        if gaps.size == 0:
            return
        rows.append(
            (
                int(u),
                int(gaps.size),
                r4(int(gaps.sum()) / gaps.size),
                r4(np.quantile(gaps, 0.5, method="linear")),
                int(gaps.max()),
            )
        )

    pending = None  # (user_id, ts_ns array) — tail group of the previous batch
    for pdf in it:
        if len(pdf) == 0:
            continue
        u = pdf["user_id"].to_numpy()
        t = pdf["ts"].astype("int64").to_numpy()
        if pending is not None:
            pu, pt = pending
            if u[0] == pu:
                t = np.concatenate([pt, t])
                u = np.concatenate([np.full(pt.size, pu, dtype=u.dtype), u])
            else:
                flush(pu, pt)
            pending = None
        cuts = np.flatnonzero(u[1:] != u[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [u.size]))
        for s, e in zip(starts[:-1], ends[:-1]):
            flush(u[s], t[s:e])
        pending = (u[starts[-1]], t[starts[-1] :])
    if pending is not None:
        flush(*pending)
    yield pd.DataFrame(
        rows, columns=["user_id", "n_gaps", "mean_gap_s", "median_gap_s", "max_gap_s"]
    )


@register(
    "inter_event_gaps",
    oracle="""
WITH gaps AS (
  -- exact ns diff floored to seconds (date_diff('second') would count
  -- boundary crossings instead and disagree with the Arrow path)
  SELECT user_id,
         (epoch_ns(ts) - epoch_ns(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000000 AS gap_s
  FROM events
)
SELECT user_id,
       COUNT(gap_s) AS n_gaps,
       ROUND(CAST(SUM(gap_s) AS DOUBLE) / COUNT(gap_s), 4) AS mean_gap_s,
       ROUND(quantile_cont(gap_s, 0.5), 4) AS median_gap_s,
       MAX(gap_s) AS max_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY user_id ORDER BY user_id
""",
    doc=(
        "Per-user inter-event gap profile, computed in NumPy via one "
        "mapInPandas pass over a user-partitioned sorted stream — the "
        "engine's template for group-local algorithms that don't "
        "decompose into SQL aggregates. Gap sums are integer "
        "(order-insensitive) so the Arrow path hash-matches the "
        "window-SQL oracle exactly."
    ),
)
def inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    part = (
        ev.select("user_id", "ts", "event_id")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )
    return part.mapInPandas(
        _gap_profile_batches,
        schema="user_id bigint, n_gaps bigint, mean_gap_s double, median_gap_s double, max_gap_s bigint",
    ).orderBy("user_id")


@register(
    "scd2_history",
    oracle="""
SELECT user_id,
       ROW_NUMBER() OVER w AS version,
       event_type,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       LEAD(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
""",
    doc=(
        "SCD-type-2 history construction from the event stream: each "
        "user's events become versioned validity intervals "
        "[valid_from, valid_to) with an open-ended current row — the "
        "warehouse pattern behind the reference's upsert-by-message_id "
        "bookkeeping (src/database.py ON CONFLICT) when history must "
        "be kept instead of overwritten. One shuffle on the partition "
        "key; lead() is O(1) running state per row within the sorted "
        "partition, so the plan is a single Window pass at any scale "
        "(hot users salt like any keyed window)."
    ),
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("version"),
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


Z_FLAG = 2.0  # |z| threshold for an anomalous day


@register(
    "anomaly_zscore",
    oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, COUNT(*) AS nd, SUM(n) AS s1, SUM(n * n) AS s2
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n_events,
       ROUND(CAST(d.n * s.nd - s.s1 AS DOUBLE)
             / sqrt(CAST(s.nd * s.s2 - s.s1 * s.s1 AS DOUBLE)), 4) AS z
FROM d JOIN s USING (event_type)
WHERE s.nd * s.s2 - s.s1 * s.s1 > 0
  AND ABS(CAST(d.n * s.nd - s.s1 AS DOUBLE)
          / sqrt(CAST(s.nd * s.s2 - s.s1 * s.s1 AS DOUBLE))) >= {Z_FLAG}
ORDER BY event_type, day
""",
    doc=(
        "Daily-volume anomaly detection per event type (ops monitoring "
        "over the audit stream): days whose count deviates >= 2 "
        "population-sigma from that type's mean. The z-score is pure "
        "integer algebra until the last two ops — z = (n*N - S1) / "
        "sqrt(N*S2 - S1^2) with exact BIGINT sums — so a distributed "
        "aggregation and the single-threaded oracle agree bit-for-bit "
        "(at counts beyond ~3e9/day switch the sums to DECIMAL; the "
        "shape is unchanged). Two map-side-combined aggregations, the "
        "per-type stats broadcast back over the tiny daily table."
    ),
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    s = d.groupBy("event_type").agg(
        F.count("*").alias("nd"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    j = d.join(F.broadcast(s), "event_type")
    num = (F.col("n") * F.col("nd") - F.col("s1")).cast("double")
    den2 = F.col("nd") * F.col("s2") - F.col("s1") * F.col("s1")
    z = num / F.sqrt(den2.cast("double"))
    return (
        j.where((den2 > 0) & (F.abs(z) >= Z_FLAG))
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n_events"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events
),
m AS (
  SELECT f.cohort_week,
         CAST(date_diff('week', f.cohort_week, a.week) AS BIGINT) AS week_offset,
         a.user_id
  FROM firsts f JOIN active a USING (user_id)
),
sz AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_week)
SELECT m.cohort_week, m.week_offset,
       COUNT(DISTINCT m.user_id) AS n_active,
       CAST(sz.cohort_size AS BIGINT) AS cohort_size,
       CAST(COUNT(DISTINCT m.user_id) * 10000 // sz.cohort_size AS BIGINT) AS retention_bps
FROM m JOIN sz USING (cohort_week)
GROUP BY m.cohort_week, m.week_offset, sz.cohort_size
ORDER BY m.cohort_week, m.week_offset
""",
    doc=(
        "Weekly cohort retention matrix (signup-week x weeks-since): "
        "the standard engagement triangle. First-seen week per user is "
        "one groupBy; the matrix is a distinct-activity join back on "
        "user_id; retention is exact-integer bps so the distributed run "
        "hash-matches the oracle. date_trunc('week') is Monday-anchored "
        "in both engines (SURVEY §2.H/§L)."
    ),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    # week_offset via integer day arithmetic on the truncated stamps
    m = firsts.join(active, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("bigint")
        .alias("week_offset"),
        "user_id",
    )
    sz = firsts.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (
        m.join(F.broadcast(sz), "cohort_week")
        .groupBy("cohort_week", "week_offset", "cohort_size")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.expr("(n_active * 10000L) div cohort_size").cast("bigint").alias("retention_bps"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "salted_topk_users",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 20
""",
    doc=(
        "Top-20 users by event volume THROUGH the two-phase salted "
        "aggregation (operators/skew.py): shuffle 1 spreads every key "
        "over 16 (key, salt) reducers, shuffle 2 re-aggregates the tiny "
        "partial table — the remedy for hot keys (bulk senders, viral "
        "threads) at 100 TB. The oracle is the PLAIN group-by: salting "
        "must be observationally invisible, and the value sum goes "
        "through exact DECIMAL so reassociation cannot shift a bit. "
        "Top-20 via TakeOrderedAndProject."
    ),
)
def salted_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from email_etl_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    agg = salted_agg(
        ev,
        "user_id",
        {
            "n_events": ("sum", F.count("*")),
            "total_value": (
                "sum",
                F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)")),
            ),
        },
    )
    return (
        agg.select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("total_value").cast("double").alias("total_value"),
        )
        .orderBy(F.desc("n_events"), "user_id")
        .limit(20)
    )


@register(
    "time_to_conversion",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p
  FROM events GROUP BY user_id
),
d AS (
  SELECT date_diff('second', s, p) AS delta_s
  FROM firsts WHERE s IS NOT NULL AND p IS NOT NULL AND p > s
)
SELECT COUNT(*) AS n_converted,
       MIN(delta_s) AS min_s,
       CAST(ROUND(quantile_cont(delta_s, 0.5), 1) AS DOUBLE) AS p50_s,
       CAST(ROUND(quantile_cont(delta_s, 0.9), 1) AS DOUBLE) AS p90_s,
       MAX(delta_s) AS max_s
FROM d
""",
    doc=(
        "Conversion-latency profile: seconds from first signup to first "
        "purchase per converting user, with exact interpolated "
        "percentiles (the engagement-latency twin of conversion_funnel). "
        "One user_id shuffle for the firsts pivot; deltas are exact "
        "integer seconds (timestampdiff, NTZ-safe) so the percentile "
        "interpolation runs on identical inputs in both engines."
    ),
)
def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    d = (
        firsts.where(F.col("s").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("s")))
        .select((F.unix_timestamp("p") - F.unix_timestamp("s")).alias("delta_s"))
    )
    return d.agg(
        F.count("*").alias("n_converted"),
        F.min("delta_s").alias("min_s"),
        F.round(F.percentile("delta_s", F.lit(0.5)), 1).alias("p50_s"),
        F.round(F.percentile("delta_s", F.lit(0.9)), 1).alias("p90_s"),
        F.max("delta_s").alias("max_s"),
    )


@register(
    "markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, SUM(n) AS n_from FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, CAST(t.n AS BIGINT) AS n,
       CAST(t.n * 10000 // tot.n_from AS BIGINT) AS p_bps
FROM t JOIN tot USING (prev_type)
ORDER BY prev_type, next_type
""",
    doc=(
        "Event-type Markov transition matrix per user journey: "
        "consecutive (prev, next) event pairs from one lag window per "
        "user (ts order, event_id tiebreak), transition probabilities "
        "as exact-integer bps. The user-journey structure view behind "
        "funnel/retention analyses (conversion_funnel's generalization "
        "to ALL transitions). One keyed window + two map-side-combined "
        "aggregations; state per row is O(1) — the sessionize scale "
        "shape (SURVEY §2.H)."
    ),
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    tot = t.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr("n * 10000L div n_from").cast("bigint").alias("p_bps"),
        )
        .orderBy("prev_type", "next_type")
    )


BURST_WINDOW_S = 300
BURST_MIN = 3


@register(
    "error_bursts",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id,
         epoch_ns(ts) // 1000000000 AS tse
  FROM events WHERE event_type = 'error'
),
w AS (
  SELECT user_id, event_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY tse
                        RANGE BETWEEN {BURST_WINDOW_S} PRECEDING AND CURRENT ROW) AS n_trailing
  FROM e
),
b AS (SELECT user_id, event_id, n_trailing FROM w WHERE n_trailing >= {BURST_MIN})
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_burst_events,
       CAST(MAX(n_trailing) AS BIGINT) AS max_burst_size,
       MIN(event_id) AS first_burst_event
FROM b GROUP BY user_id ORDER BY user_id
""",
    doc=(
        "Error-burst detection per user: error events with >= "
        f"{BURST_MIN} errors from the same user in the trailing "
        f"{BURST_WINDOW_S}s, via a RANGE window over epoch seconds "
        "(the time-based frame sessionize's row-based lag cannot "
        "express; alerting's batch twin). One keyed range window over "
        "the error-filtered scan (the event_type predicate pushes into "
        "the parquet read); trailing-window state is O(window span) "
        "per user — the same bound the streaming watermark version "
        "carries. Epoch seconds via unix_timestamp are NTZ-safe "
        "(sessionize convention) (SURVEY §2.H)."
    ),
)
def error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", F.unix_timestamp(F.col("ts")).alias("tse")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tse")
        .rangeBetween(-BURST_WINDOW_S, Window.currentRow)
    )
    b = e.select(
        "user_id", "event_id", F.count("*").over(w).alias("n_trailing")
    ).where(F.col("n_trailing") >= BURST_MIN)
    return (
        b.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_burst_events"),
            F.max("n_trailing").cast("bigint").alias("max_burst_size"),
            F.min("event_id").alias("first_burst_event"),
        )
        .orderBy("user_id")
    )


@register(
    "dau_wau",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM ud),
w AS (
  SELECT d.day, u.user_id
  FROM days d JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
)
SELECT d.day,
       CAST((SELECT COUNT(*) FROM ud WHERE ud.day = d.day) AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS wau
FROM days d JOIN w ON w.day = d.day
GROUP BY d.day ORDER BY d.day
""",
    doc=(
        "DAU / trailing-7-day WAU per day: distinct (user, day) "
        "activity grid, then the rolling-distinct trick — a rolling "
        "COUNT(DISTINCT) is not window-expressible, so each day joins "
        "its trailing 7-day slice of the user-day grid (grid is "
        "users x active-days, orders of magnitude below the event "
        "stream; the days side is tiny and broadcast). The classic "
        "activity dashboard pair over the audit stream "
        "(SURVEY §2.H)."
    ),
)
def dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    w = days.select(F.col("day").alias("d")).join(
        ud, F.col("day").between(F.date_sub(F.col("d"), 6), F.col("d"))
    )
    wau = w.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, dau["day"] == wau["d"])
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
        )
        .orderBy("day")
    )


FUNNEL_STEPS = ("signup", "view", "click", "purchase")


@register(
    "ordered_funnel",
    oracle="""
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (
  SELECT user_id, MIN(ROW(epoch_ns(ts), event_id)) AS k
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(ROW(epoch_ns(e.ts), e.event_id)) AS k
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND ROW(epoch_ns(e.ts), e.event_id) > s1.k
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(ROW(epoch_ns(e.ts), e.event_id)) AS k
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'click' AND ROW(epoch_ns(e.ts), e.event_id) > s2.k
  GROUP BY e.user_id
),
s4 AS (
  SELECT e.user_id, MIN(ROW(epoch_ns(e.ts), e.event_id)) AS k
  FROM events e JOIN s3 ON e.user_id = s3.user_id
  WHERE e.event_type = 'purchase' AND ROW(epoch_ns(e.ts), e.event_id) > s3.k
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS step, 'signup' AS event_type,
         CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users,
         CAST((SELECT COUNT(*) FROM s1) * 10000 // (SELECT COUNT(*) FROM u) AS BIGINT) AS conv_bps
  UNION ALL
  SELECT 2, 'view', CAST((SELECT COUNT(*) FROM s2) AS BIGINT),
         CAST((SELECT COUNT(*) FROM s2) * 10000 // (SELECT COUNT(*) FROM s1) AS BIGINT)
  UNION ALL
  SELECT 3, 'click', CAST((SELECT COUNT(*) FROM s3) AS BIGINT),
         CAST((SELECT COUNT(*) FROM s3) * 10000 // (SELECT COUNT(*) FROM s2) AS BIGINT)
  UNION ALL
  SELECT 4, 'purchase', CAST((SELECT COUNT(*) FROM s4) AS BIGINT),
         CAST((SELECT COUNT(*) FROM s4) * 10000 // (SELECT COUNT(*) FROM s3) AS BIGINT)
) ORDER BY step
""",
    doc=(
        "Four-step ORDERED funnel (signup -> view -> click -> "
        "purchase): each step counts users whose step-k event occurs "
        "STRICTLY AFTER their step-(k-1) event — the product-analytics "
        "semantics conversion_funnel's unordered pair check cannot "
        "express. Event order compares (epoch, event_id) tuples, so "
        "same-timestamp ties break identically on both engines. Each "
        "step is one keyed aggregation joined to the shrinking "
        "previous-step table (users-not-events sized, broadcast); at "
        "100 TB this is k passes over a date-pruned event scan with "
        "map-side-combined mins (SURVEY §2.H)."
    ),
)
def ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.struct(
            # NTZ-safe: unix_micros rejects TIMESTAMP_NTZ; the cast is
            # deterministic because load_table pins the session to UTC
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            F.col("event_id").alias("i"),
        ).alias("k"),
    )
    n_users = e.select("user_id").distinct().count()
    prev = None
    counts = []
    for step, et in enumerate(FUNNEL_STEPS, start=1):
        cur = e.where(F.col("event_type") == et)
        if prev is not None:
            cur = cur.join(F.broadcast(prev), "user_id").where(
                (F.col("k.t") > F.col("pk.t"))
                | ((F.col("k.t") == F.col("pk.t")) & (F.col("k.i") > F.col("pk.i")))
            )
        cur = cur.groupBy("user_id").agg(F.min("k").alias("pk"))
        counts.append((step, et, cur.count()))
        prev = cur.select("user_id", "pk")
    rows = []
    denom = n_users
    for step, et, n in counts:
        rows.append((step, et, n, n * 10000 // denom if denom else 0))
        denom = n if n else 1
    return spark.createDataFrame(
        rows, "step int, event_type string, n_users bigint, conv_bps bigint"
    ).orderBy("step")


@register(
    "rfm_segments",
    oracle="""
WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', MAX(CAST(ts AS DATE)), (SELECT maxd FROM mx)) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
scored AS (
  SELECT user_id,
         NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f,
         NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m
  FROM per_user
)
SELECT r, f, m,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       MIN(user_id) AS min_user_id
FROM scored GROUP BY r, f, m ORDER BY r, f, m
""",
    doc=(
        "RFM segmentation over purchase events: per-user recency "
        "(days since last purchase vs corpus max date), frequency, "
        "monetary (DECIMAL-exact sum of 2dp-rounded values), scored "
        "into 1-5 quintiles by deterministic NTILE (user_id tiebreak "
        "— band cuts engine-identical, the length_deciles convention) "
        "and rolled up per (r,f,m) cell. The classic customer-"
        "segmentation view over the activity stream. NTILE runs over "
        "the per-user table (users ≪ events); at extreme user counts "
        "swap for broadcast approx-quantile cuts (SURVEY §2.H)."
    ),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase")
    maxd = p.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    per_user = (
        p.groupBy("user_id")
        .agg(
            F.max(F.col("ts").cast("date")).alias("lastd"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value"), 2).cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "user_id",
            F.datediff(F.col("maxd"), F.col("lastd")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = per_user.select(
        "user_id",
        F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.asc("user_id"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("user_id"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.min("user_id").alias("min_user_id"),
        )
        .orderBy("r", "f", "m")
    )


PATH_TOP = 10


@register(
    "session_paths",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
),
p AS (
  SELECT user_id, sess_id,
         array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
  FROM s GROUP BY user_id, sess_id
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
""",
    doc=(
        "Top-10 most common session paths (ordered event-type "
        "sequences within 30-min-gap sessions): the path-mining view "
        "product analytics builds on top of sessionization — which "
        "journeys actually happen, not just which transitions "
        "(markov_transitions) or which steps (ordered_funnel). The "
        "session assembly reuses the sessionize lag+cumsum shape; the "
        "per-session sequence is one ordered list aggregation "
        "(epoch+event_id order, engine-identical); path counts are "
        "map-side combined and the final cut is "
        "TakeOrderedAndProject. Paths are session-bounded so rows "
        "stay small at any scale (SURVEY §2.H)."
    ),
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.col("ts")).alias("tse"),
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    gap = F.col("tse") - F.lag(F.col("tse")).over(w)
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    s = e.withColumn(
        "sess_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    p = (
        s.groupBy("user_id", "sess_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("tse").alias("t"),
                                F.col("event_id").alias("i"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    lambda x: x["et"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        p.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP)
    )


ATTRIB_WINDOW_S = 7 * 86400  # 7-day lookback


@register(
    "attribution_last_touch",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
t AS (
  SELECT user_id, event_type, tse,
         LAST_VALUE(CASE WHEN event_type <> 'purchase'
                         THEN struct_pack(tse := tse, et := event_type) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tse, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM e
)
SELECT CASE WHEN touch IS NULL OR tse - touch.tse > {ATTRIB_WINDOW_S}
            THEN 'direct' ELSE touch.et END AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM t WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
    doc=(
        "Last-touch conversion attribution: each purchase credits the "
        "most recent non-purchase event by the same user within a "
        "7-day lookback, else 'direct' — the marketing-analytics view "
        "on top of the event stream (reference patterns axis, SURVEY "
        "§2.H). One per-user ordered window carrying a (epoch, type) "
        "struct via last(ignorenulls) over preceding rows — no "
        "self-join of the event stream against itself, so cost is one "
        "user-partitioned sort, the same shuffle sessionize already "
        "pays; the rollup output is touch-type-cardinality rows."
    ),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.col("ts")).alias("tse"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tse", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("tse").alias("tse"), F.col("event_type").alias("et")),
        ),
        ignorenulls=True,
    ).over(w)
    t = e.withColumn("touch", touch).where(F.col("event_type") == "purchase")
    touch_type = F.when(
        F.col("touch").isNull() | (F.col("tse") - F.col("touch.tse") > ATTRIB_WINDOW_S),
        "direct",
    ).otherwise(F.col("touch.et"))
    return (
        t.select(touch_type.alias("touch_type"))
        .groupBy("touch_type")
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
        .orderBy("touch_type")
    )


@register(
    "seasonal_forecast",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, COUNT(*) AS n
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(d) AS mxd FROM daily),
train AS (
  SELECT isodow(d) AS dow, dayname(d) AS day_name,
         COUNT(*) AS n_train_days, SUM(n) AS sum_events
  FROM daily, mx WHERE d <= mxd - INTERVAL 7 DAY GROUP BY 1, 2
),
test AS (
  SELECT isodow(d) AS dow, SUM(n) AS actual
  FROM daily, mx WHERE d > mxd - INTERVAL 7 DAY GROUP BY 1
)
SELECT t.dow, t.day_name,
       CAST(t.n_train_days AS BIGINT) AS n_train_days,
       CAST(t.sum_events * 100 // t.n_train_days AS BIGINT) AS forecast_centi,
       CAST(COALESCE(s.actual, 0) AS BIGINT) AS actual_events,
       CAST(ABS(t.sum_events * 100 // t.n_train_days - COALESCE(s.actual, 0) * 100) AS BIGINT) AS abs_err_centi
FROM train t LEFT JOIN test s ON t.dow = s.dow
ORDER BY t.dow
""",
    doc=(
        "Seasonal-naive forecast backtest: per ISO weekday, mean daily "
        "event count over the training span (all observed days up to "
        "the final week) vs the held-out last 7 days — the capacity-"
        "planning / monitoring baseline every event pipeline runs "
        "(SURVEY §2.H). Means are exact integer centi-events (no "
        "float); the train/test boundary derives from the data's own "
        "max date (broadcast 1-row join); all windows/rollups run over "
        "the date-cardinality daily table, so the single fact scan is "
        "map-side combined and everything downstream is scale-free."
    ),
)
def seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .agg(F.count("*").alias("n"))
    )
    mx = daily.agg(F.max("d").alias("mxd"))
    dd = daily.crossJoin(F.broadcast(mx))
    dow = F.weekday(F.col("d")) + 1
    train = (
        dd.where(F.col("d") <= F.date_sub(F.col("mxd"), 7))
        .groupBy(dow.alias("dow"), F.date_format("d", "EEEE").alias("day_name"))
        .agg(F.count("*").alias("n_train_days"), F.sum("n").alias("sum_events"))
    )
    test = (
        dd.where(F.col("d") > F.date_sub(F.col("mxd"), 7))
        .groupBy(dow.alias("dow"))
        .agg(F.sum("n").alias("actual"))
    )
    fc = F.expr("sum_events * 100L div n_train_days").cast("bigint")
    actual = F.coalesce(F.col("actual"), F.lit(0)).cast("bigint")
    return (
        train.join(test, "dow", "left")
        .select(
            "dow",
            "day_name",
            F.col("n_train_days").cast("bigint").alias("n_train_days"),
            fc.alias("forecast_centi"),
            actual.alias("actual_events"),
            F.abs(fc - actual * 100).cast("bigint").alias("abs_err_centi"),
        )
        .orderBy("dow")
    )


SLO_THRESHOLD = 300.0  # value units


@register(
    "latency_slo_report",
    oracle=f"""
WITH e AS (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95,
       MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99,
       CAST(SUM(CASE WHEN value > {SLO_THRESHOLD} THEN 1 ELSE 0 END) * 10000 // MAX(n) AS BIGINT) AS breach_bps
FROM e GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Per-event-type SLO report: exact rank-selected p50/p95/p99 "
        "of the value distribution plus threshold-breach rate — the "
        "ops dashboard over the audit stream (reference status/audit "
        "axis, SURVEY §2.H). Percentiles are SELECTED, not "
        "interpolated: rank ceil(q·n) computed in pure integer "
        "arithmetic picks an actual stored double (bit-identical in "
        "both engines — no interpolation float path at all), with "
        "(value, event_id) total order for ties. One per-type sort "
        "shuffle — the same partition-and-order shape every exact "
        "distributed percentile pays; approx_value_quantiles is the "
        "sketch fast path when selection exactness isn't required."
    ),
)
def latency_slo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("event_type")
    w = wp.orderBy("value", "event_id")
    e = ev.select("event_type", "event_id", "value").select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    def at(k: int):
        return F.max(
            F.when(F.col("rn") == F.expr(f"(n * {k} + 99) div 100"), F.col("value"))
        )
    return (
        e.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            at(50).alias("p50"),
            at(95).alias("p95"),
            at(99).alias("p99"),
            F.expr(
                f"sum(CASE WHEN value > {SLO_THRESHOLD} THEN 1 ELSE 0 END) * 10000L div max(n)"
            )
            .cast("bigint")
            .alias("breach_bps"),
        )
        .orderBy("event_type")
    )


MOVERS_TOP = 20


@register(
    "topk_movers",
    oracle=f"""
WITH w AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT week, event_type, n,
         LAG(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
  FROM w
)
SELECT week, event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(prev_n AS BIGINT) AS prev_week,
       CAST(n - prev_n AS BIGINT) AS delta
FROM d WHERE prev_n IS NOT NULL
ORDER BY ABS(n - prev_n) DESC, week, event_type
LIMIT {MOVERS_TOP}
""",
    doc=(
        "Top week-over-week movers: the (week, event_type) cells with "
        "the largest absolute count swings — the anomaly triage view "
        "monitoring teams scan first (complements anomaly_zscore's "
        "per-day z-test with a ranked what-changed list; SURVEY "
        "§2.H). One map-side-combined weekly rollup; the lag window "
        "and the top-k both run over (weeks × types) cells, so "
        "everything after the single fact scan is scale-free. "
        "Exact-integer deltas, deterministic (|delta|, week, type) "
        "total order."
    ),
)
def topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    lw = Window.partitionBy("event_type").orderBy("week")
    d = w.withColumn("prev_n", F.lag("n").over(lw)).where(F.col("prev_n").isNotNull())
    return (
        d.select(
            "week",
            "event_type",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("prev_n").cast("bigint").alias("prev_week"),
            (F.col("n") - F.col("prev_n")).cast("bigint").alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), "week", "event_type")
        .limit(MOVERS_TOP)
    )


@register(
    "user_affinity_jaccard",
    oracle="""
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
sz AS (SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY event_type),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b,
       CAST(sa.n_users AS BIGINT) AS n_a,
       CAST(sb.n_users AS BIGINT) AS n_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       CAST(i.n_both * 10000 // (sa.n_users + sb.n_users - i.n_both) AS BIGINT) AS jaccard_bps
FROM inter i
JOIN sz sa ON i.type_a = sa.event_type
JOIN sz sb ON i.type_b = sb.event_type
ORDER BY type_a, type_b
""",
    doc=(
        "User-set Jaccard affinity between event types: which "
        "behaviors share audiences — the co-usage matrix behind "
        "funnel design and feature bundling (the source_overlap "
        "shape applied to the behavioral axis; SURVEY §2.H). One "
        "distinct (user, type) projection (map-side combined), "
        "self-joined on user_id — with ~5 types each user "
        "contributes ≤10 pairs, so the join output is bounded by "
        "rows×types, not rows²; set sizes broadcast back over the "
        "type-pair table. Exact-integer bps."
    ),
)
def user_affinity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    sz = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr("n_both * 10000L div (n_a + n_b - n_both)").cast("bigint").alias("jaccard_bps"),
        )
        .orderBy("type_a", "type_b")
    )


# Exact-integer exponential decay: weight(d) = round(0.9^d * 1e6),
# precomputed as literals so BOTH engines sum identical integers (no
# runtime pow). Horizon 90 days; older events contribute 0.
_DECAY_HORIZON = 90
_DECAY_MICRO = {}
_w = 1.0
for _d in range(_DECAY_HORIZON + 1):
    _DECAY_MICRO[_d] = int(round(_w * 1_000_000))
    _w *= 0.9
_DECAY_CASE = (
    "CASE "
    + " ".join(f"WHEN age_d = {d} THEN {w}" for d, w in _DECAY_MICRO.items())
    + " ELSE 0 END"
)
ENGAGE_TOP = 20


@register(
    "engagement_scores",
    oracle=f"""
WITH mx AS (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS mxd FROM events),
e AS (
  SELECT user_id,
         date_diff('day', CAST(date_trunc('day', ts) AS DATE), mx.mxd) AS age_d
  FROM events, mx
),
s AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         SUM({_DECAY_CASE}) AS score_micro
  FROM e GROUP BY user_id
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(score_micro AS BIGINT) AS score_micro
FROM s ORDER BY score_micro DESC, user_id LIMIT {ENGAGE_TOP}
""",
    doc=(
        "Recency-weighted engagement scores: each event contributes "
        "0.9^age_days, summed per user, top-20 — the decayed-activity "
        "ranking behind 'most engaged users' dashboards (reference "
        "patterns axis, SURVEY §2.H). The decay table is precomputed "
        "integer micro-weights shared by both engines as literals — "
        "no runtime pow, so the distributed sum is exact integer "
        "arithmetic, order-insensitive at any parallelism. One scan "
        "(age from the corpus max date, broadcast 1-row), map-side-"
        "combined per-user sums, TakeOrderedAndProject cut."
    ),
)
def engagement_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.date_trunc("day", F.col("ts")).cast("date")).alias("mxd"))
    e = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff(F.col("mxd"), F.date_trunc("day", F.col("ts")).cast("date")).alias(
            "age_d"
        ),
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr(f"sum({_DECAY_CASE})").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "user_id")
        .limit(ENGAGE_TOP)
    )


# Poisson(1) bootstrap: per (row, replica) the resample weight is
# drawn by inverting the Poisson CDF on an md5-derived 32-bit uniform.
# Thresholds are precomputed integer literals (floor(cdf_k * 2^32)),
# so weight assignment is pure integer comparison in BOTH engines.
_BOOT_REPLICAS = 32
_BOOT_MAX_W = 8


def _poisson_thresholds() -> list[int]:
    import math

    cdf, p, ts = 0.0, math.exp(-1.0), []
    for k in range(_BOOT_MAX_W):
        cdf += p
        ts.append(int(cdf * 4294967296.0))
        p /= k + 1
    return ts


_BOOT_TS = _poisson_thresholds()
_BOOT_W_SQL = (
    "CASE "
    + " ".join(f"WHEN lane < {t} THEN {k}" for k, t in enumerate(_BOOT_TS))
    + f" ELSE {_BOOT_MAX_W} END"
)


@register(
    "bootstrap_mean_ci",
    oracle=f"""
WITH e AS (
  SELECT event_id, CAST(CAST(value * 100 AS DECIMAL(18,0)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT b.b, e.cents,
         CAST(('0x' || substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':' || CAST(e.event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS lane
  FROM e CROSS JOIN (SELECT UNNEST(range({_BOOT_REPLICAS})) AS b) b
),
m AS (
  SELECT b, SUM(({_BOOT_W_SQL}) * cents) * 100 // SUM({_BOOT_W_SQL}) AS mean_centicents
  FROM r GROUP BY b
),
rk AS (
  SELECT mean_centicents,
         ROW_NUMBER() OVER (ORDER BY mean_centicents, b) AS rn
  FROM m
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_purchases,
       CAST((SELECT SUM(cents) * 100 // COUNT(*) FROM e) AS BIGINT) AS point_mean_centicents,
       CAST(MAX(CASE WHEN rn = 2 THEN mean_centicents END) AS BIGINT) AS ci_lo_centicents,
       CAST(MAX(CASE WHEN rn = {_BOOT_REPLICAS - 1} THEN mean_centicents END) AS BIGINT) AS ci_hi_centicents
FROM rk
""",
    doc=(
        "Poisson-bootstrap confidence interval for the mean purchase "
        "value: 32 resample replicas whose per-row weights invert the "
        "Poisson(1) CDF on an md5 lane keyed by (replica, event) — "
        "the production-A/B-system bootstrap that never materializes "
        "a resample (each row carries its replica weights through one "
        "scan; SURVEY §2.H/L). CDF thresholds are precomputed integer "
        "2^32-scale literals shared by both engines, replica means "
        "are exact integer centi-cents with truncating div, and the "
        "CI endpoints are rank-SELECTED replica means (2nd and 31st "
        "of 32) — no float anywhere, bit-stable at any parallelism. "
        "Replica sums are map-side combined; the 32-row rank window "
        "is scale-free."
    ),
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "purchase").select(
        "event_id", (F.col("value") * 100).cast("decimal(18,0)").cast("bigint").alias("cents")
    )
    r = e.select(
        "event_id",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPLICAS - 1))).alias("b"),
    ).withColumn(
        "lane",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    m = r.groupBy("b").agg(
        F.expr(f"sum(({_BOOT_W_SQL}) * cents) * 100L div sum({_BOOT_W_SQL})").alias(
            "mean_centicents"
        )
    )
    rk = m.withColumn(
        "rn", F.row_number().over(Window.orderBy("mean_centicents", "b"))
    )
    stats = e.agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.expr("sum(cents) * 100L div count(*)").cast("bigint").alias("point_mean_centicents"),
    )
    ci = rk.agg(
        F.max(F.when(F.col("rn") == 2, F.col("mean_centicents")))
        .cast("bigint")
        .alias("ci_lo_centicents"),
        F.max(F.when(F.col("rn") == _BOOT_REPLICAS - 1, F.col("mean_centicents")))
        .cast("bigint")
        .alias("ci_hi_centicents"),
    )
    return stats.crossJoin(F.broadcast(ci))


@register(
    "ab_test_lift",
    oracle="""
WITH u AS (
  SELECT user_id,
         substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arm_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm_a THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN converted ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
)
SELECT n_a, n_b, conv_a, conv_b,
       CAST(conv_a * 10000 // n_a AS BIGINT) AS rate_a_bps,
       CAST(conv_b * 10000 // n_b AS BIGINT) AS rate_b_bps,
       CAST(CASE WHEN conv_b * n_a >= conv_a * n_b
                 THEN (conv_b * n_a - conv_a * n_b) * 10000 // (n_a * n_b)
                 ELSE -((conv_a * n_b - conv_b * n_a) * 10000 // (n_a * n_b)) END AS BIGINT) AS lift_bps,
       CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN NULL
            ELSE ROUND((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4) END AS z_score
FROM s
""",
    doc=(
        "A/B conversion-lift report with a two-proportion z-test: "
        "users deterministically hash-assigned to arms (the "
        "train_val_split convention — reproducible assignment, no "
        "RNG), per-arm user-level conversion from one distinct-user "
        "rollup, lift in sign-split exact integer bps, and the pooled "
        "z-score as ONE double expression over exact integers "
        "(identical op tree both engines, rounded once; SURVEY "
        "§2.H/L). One scan, one user-keyed partial aggregate, 1-row "
        "output — the experimentation primitive at any scale."
    ),
)
def ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted")
    ).withColumn(
        "arm_a",
        F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1)
        < "8",
    )
    s = u.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    conv_t = F.col("conv_a") + F.col("conv_b")
    n_t = F.col("n_a") + F.col("n_b")
    z = F.when(
        (conv_t == 0) | (conv_t == n_t), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (
                F.col("conv_b").cast("double") / F.col("n_b")
                - F.col("conv_a").cast("double") / F.col("n_a")
            )
            / F.sqrt(
                p_pool
                * (F.lit(1.0) - p_pool)
                * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
            ),
            4,
        )
    )
    lift = (
        F.when(
            F.col("conv_b") * F.col("n_a") >= F.col("conv_a") * F.col("n_b"),
            F.expr("(conv_b * n_a - conv_a * n_b) * 10000L div (n_a * n_b)"),
        )
        .otherwise(-F.expr("(conv_a * n_b - conv_b * n_a) * 10000L div (n_a * n_b)"))
        .cast("bigint")
    )
    return s.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.expr("conv_a * 10000L div n_a").cast("bigint").alias("rate_a_bps"),
        F.expr("conv_b * 10000L div n_b").cast("bigint").alias("rate_b_bps"),
        lift.alias("lift_bps"),
        z.alias("z_score"),
    )


_TOUCH_TYPES = ("click", "error", "signup", "view")


@register(
    "attribution_linear",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
w AS (
  SELECT user_id, event_id, event_type, tse,
         {", ".join(
             f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER "
             f"(PARTITION BY user_id ORDER BY tse RANGE BETWEEN {ATTRIB_WINDOW_S} PRECEDING AND 1 PRECEDING) AS c_{t}"
             for t in _TOUCH_TYPES
         )}
  FROM e
),
p AS (
  SELECT {" + ".join(f"c_{t}" for t in _TOUCH_TYPES)} AS n_touch,
         {", ".join(f"c_{t}" for t in _TOUCH_TYPES)}
  FROM w WHERE event_type = 'purchase'
),
credits AS (
  {" UNION ALL ".join(
      f"SELECT '{t}' AS touch_type, "
      f"SUM(CASE WHEN n_touch > 0 THEN c_{t} * 1000000 // n_touch ELSE 0 END) AS credit_micro, "
      f"SUM(CASE WHEN n_touch > 0 AND c_{t} > 0 THEN 1 ELSE 0 END) AS n_purchases_touched FROM p"
      for t in _TOUCH_TYPES
  )}
)
SELECT touch_type, CAST(credit_micro AS BIGINT) AS credit_micro,
       CAST(n_purchases_touched AS BIGINT) AS n_purchases_touched
FROM credits ORDER BY touch_type
""",
    doc=(
        "Linear multi-touch attribution: each purchase splits one "
        "unit of credit equally across ALL its 7-day-lookback touches "
        "(vs attribution_last_touch's winner-take-all) — the pair of "
        "models every marketing-mix review compares (SURVEY §2.H). "
        "Per-type touch counts come from RANGE-frame windows over the "
        "event epoch (one user-partitioned sort serves all four "
        "types), credits are exact integer micro-units with "
        "truncating division, and the rollup is touch-type "
        "cardinality. No event-stream self-join."
    ),
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.unix_timestamp(F.col("ts")).alias("tse")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("tse")
        .rangeBetween(-ATTRIB_WINDOW_S, -1)
    )
    cnt_cols = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .over(wr)
        .alias(f"c_{t}")
        for t in _TOUCH_TYPES
    ]
    w = e.select("event_type", *cnt_cols)
    total = None
    for t in _TOUCH_TYPES:
        c = F.coalesce(F.col(f"c_{t}"), F.lit(0))
        total = c if total is None else total + c
    p = w.where(F.col("event_type") == "purchase").select(
        total.alias("n_touch"), *[F.col(f"c_{t}") for t in _TOUCH_TYPES]
    )
    rows = [
        F.struct(
            F.lit(t).alias("touch_type"),
            F.sum(
                F.when(
                    F.col("n_touch") > 0,
                    F.expr(f"c_{t} * 1000000L div n_touch"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("credit_micro"),
            F.sum(
                F.when((F.col("n_touch") > 0) & (F.col(f"c_{t}") > 0), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_purchases_touched"),
        )
        for t in _TOUCH_TYPES
    ]
    agg = p.agg(F.array(*rows).alias("a"))
    return (
        agg.select(F.explode("a").alias("r"))
        .select("r.touch_type", "r.credit_micro", "r.n_purchases_touched")
        .orderBy("touch_type")
    )


STREAK_TOP = 20


@register(
    "activity_streaks",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
),
g AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
  FROM d
),
s AS (
  SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end, COUNT(*) AS streak_days
  FROM g GROUP BY user_id, island
)
SELECT user_id, streak_start, streak_end, CAST(streak_days AS BIGINT) AS streak_days
FROM s
ORDER BY streak_days DESC, user_id, streak_start
LIMIT {STREAK_TOP}
""",
    doc=(
        "Longest consecutive-day activity streaks — the classic "
        "gaps-and-islands shape (date minus dense rank collapses each "
        "run to one island key) that powers habit/engagement metrics "
        "(SURVEY §2.H). One distinct (user, day) projection (map-side "
        "combined), one user-partitioned sort shared by the island "
        "window and rollup, integer day arithmetic only, "
        "TakeOrderedAndProject with a full tiebreak."
    ),
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    g = d.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    s = g.groupBy("user_id", "island").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count("*").cast("bigint").alias("streak_days"),
    )
    return (
        s.select("user_id", "streak_start", "streak_end", "streak_days")
        .orderBy(F.desc("streak_days"), "user_id", "streak_start")
        .limit(STREAK_TOP)
    )


@register(
    "peak_load_report",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS peak_hour_events,
       CAST(SUM(n) * 100 // COUNT(*) AS BIGINT) AS mean_hour_centi,
       CAST(MAX(n) * 10000 // GREATEST(SUM(n) // COUNT(*), 1) AS BIGINT) AS peak_to_mean_bps
FROM h GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Peak-to-mean hourly load per event type — the capacity "
        "headroom number (a 3x peak factor sizes streaming executor "
        "counts and rate limits; pairs with activity_punchcard's "
        "rhythm map; SURVEY §2.H). One map-side-combined hourly "
        "rollup; ratios are exact integer centi/bps with truncating "
        "division and a GREATEST(.,1) guard shared by both engines."
    ),
)
def peak_load_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").alias("n"))
    return (
        h.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("peak_hour_events"),
            F.expr("sum(n) * 100L div count(*)").cast("bigint").alias("mean_hour_centi"),
            F.expr("max(n) * 10000L div greatest(sum(n) div count(*), 1L)")
            .cast("bigint")
            .alias("peak_to_mean_bps"),
        )
        .orderBy("event_type")
    )


@register(
    "purchase_hazard",
    oracle="""
WITH p AS (
  SELECT user_id,
         date_diff('day',
                   LAG(CAST(date_trunc('day', ts) AS DATE))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   CAST(date_trunc('day', ts) AS DATE)) AS gap_days
  FROM events WHERE event_type = 'purchase'
),
h AS (
  SELECT LEAST(gap_days, 14) AS g, COUNT(*) AS n
  FROM p WHERE gap_days IS NOT NULL GROUP BY 1
),
c AS (
  SELECT g, n,
         SUM(n) OVER (ORDER BY g DESC ROWS UNBOUNDED PRECEDING) AS at_risk
  FROM h
)
SELECT CAST(g AS BIGINT) AS gap_days,
       CAST(n AS BIGINT) AS n_intervals,
       CAST(at_risk AS BIGINT) AS n_at_risk,
       CAST(n * 10000 // at_risk AS BIGINT) AS hazard_bps
FROM c ORDER BY gap_days
""",
    doc=(
        "Discrete hazard function of inter-purchase times: for each "
        "gap length g (capped at 14 days), the share of intervals "
        "that end exactly at g among those lasting at least g — the "
        "survival-analysis primitive behind 'send the nudge on day "
        "3' lifecycle campaigns (complements churn_risk's per-"
        "customer alerting with the population-level timing curve; "
        "SURVEY §2.H). One user-partitioned ordered pass for gaps, "
        "a 15-row histogram, and the at-risk denominator from a "
        "single reverse-cumulative window over that histogram — "
        "exact integer bps everywhere."
    ),
)
def purchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = F.date_trunc("day", F.col("ts")).cast("date")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.datediff(d, F.lag(d).over(w)).alias("gap_days")
    )
    h = (
        p.where(F.col("gap_days").isNotNull())
        .groupBy(F.least(F.col("gap_days"), F.lit(14)).alias("g"))
        .agg(F.count("*").alias("n"))
    )
    c = h.withColumn(
        "at_risk",
        F.sum("n").over(
            Window.orderBy(F.desc("g")).rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return c.select(
        F.col("g").cast("bigint").alias("gap_days"),
        F.col("n").cast("bigint").alias("n_intervals"),
        F.col("at_risk").cast("bigint").alias("n_at_risk"),
        F.expr("n * 10000L div at_risk").cast("bigint").alias("hazard_bps"),
    ).orderBy("gap_days")


_ENTROPY_TOP = 20


@register(
    "user_entropy",
    oracle=f"""
WITH c AS (SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
u AS (SELECT user_id, SUM(n) AS n_events, COUNT(*) AS n_types FROM c GROUP BY user_id),
t AS (
  SELECT c.user_id,
         SUM(CAST(ROUND(-CAST(c.n AS DOUBLE) / u.n_events
                        * ln(CAST(c.n AS DOUBLE) / u.n_events), 9)
             AS DECIMAL(18,9))) AS h
  FROM c JOIN u USING (user_id) GROUP BY c.user_id
)
SELECT u.user_id,
       CAST(u.n_events AS BIGINT) AS n_events,
       CAST(u.n_types AS BIGINT) AS n_types,
       CAST(t.h * 1000000000 AS BIGINT) AS entropy_nano
FROM u JOIN t USING (user_id)
ORDER BY entropy_nano DESC, user_id LIMIT {_ENTROPY_TOP}
""",
    doc=(
        "Behavioral-diversity ranking: Shannon entropy of each user's "
        "event-type distribution, top-20 most-diverse users with "
        "event/type counts — low entropy marks single-purpose or "
        "bot-like accounts, high entropy marks engaged explorers; the "
        "user-level twin of char_entropy's doc-level gibberish gate "
        "(SURVEY §2.L). One map-side-combined (user, type) count, "
        "per-user rollups joined back on the user key; each entropy "
        "term is pre-rounded to DECIMAL(18,9) before its per-user sum "
        "(order-insensitive), shipped as the exact nano-unit integer "
        "(no final ROUND(double), the r8 halfway hazard), and the cut "
        "is a TakeOrderedAndProject."
    ),
)
def user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    u = c.groupBy("user_id").agg(
        F.sum("n").alias("n_events"), F.count("*").alias("n_types")
    )
    t = (
        c.join(u.select("user_id", "n_events"), "user_id")
        .select(
            "user_id",
            F.round(
                -F.col("n").cast("double") / F.col("n_events")
                * F.log(F.col("n").cast("double") / F.col("n_events")),
                9,
            )
            .cast("decimal(18,9)")
            .alias("term"),
        )
        .groupBy("user_id")
        .agg(F.sum("term").alias("h"))
    )
    return (
        u.join(t, "user_id")
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.expr("CAST(h * 1000000000 AS BIGINT)").alias("entropy_nano"),
        )
        .orderBy(F.desc("entropy_nano"), "user_id")
        .limit(_ENTROPY_TOP)
    )


@register(
    "value_ks_drift",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
mid AS (SELECT (MIN(tse) + MAX(tse)) // 2 AS m FROM e),
h AS (
  SELECT event_type, value,
         CASE WHEN tse <= mid.m THEN 0 ELSE 1 END AS half
  FROM e, mid
),
c AS (
  SELECT event_type, value,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
  FROM h GROUP BY event_type, value
),
n AS (
  SELECT event_type, SUM(a) AS n1, SUM(b) AS n2 FROM c GROUP BY event_type
),
cum AS (
  SELECT c.event_type,
         SUM(a) OVER (PARTITION BY c.event_type ORDER BY value) AS ca,
         SUM(b) OVER (PARTITION BY c.event_type ORDER BY value) AS cb,
         n.n1, n.n2
  FROM c JOIN n USING (event_type)
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_first,
       CAST(MAX(n2) AS BIGINT) AS n_second,
       CAST(MAX(ABS(ca * n2 - cb * n1)) * 10000 // (MAX(n1) * MAX(n2)) AS BIGINT) AS ks_bps
FROM cum
WHERE n1 > 0 AND n2 > 0
GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Exact Kolmogorov-Smirnov drift test on the event value "
        "distribution: per event type, the KS distance (max CDF gap, "
        "integer bps) between the first and second time-half of the "
        "stream — the distribution-shift alarm for a metric feed, "
        "sharper than anomaly_zscore's volume-only view (SURVEY "
        "§2.L). The entire statistic is INTEGER arithmetic: the CDF "
        "gap at each support point is |c1*n2 - c2*n1| over cumulative "
        "counts (no float CDFs, no rounding edge), maxed per type and "
        "scaled by 10000 div (n1*n2). One (type, value) count "
        "aggregate, one per-type sort window over DISTINCT values "
        "(support-bounded, never row-bounded), midpoint is a 1-row "
        "broadcast."
    ),
)
def value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", "value", F.unix_timestamp(F.col("ts")).alias("tse"))
    mid = e.agg(F.expr("(min(tse) + max(tse)) div 2").alias("m"))
    h = e.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "value",
        F.when(F.col("tse") <= F.col("m"), 0).otherwise(1).alias("half"),
    )
    c = h.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b"),
    )
    n = c.groupBy("event_type").agg(F.sum("a").alias("n1"), F.sum("b").alias("n2"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        c.join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
            "n1",
            "n2",
        )
    )
    return (
        cum.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("event_type")
        .agg(
            F.max("n1").cast("bigint").alias("n_first"),
            F.max("n2").cast("bigint").alias("n_second"),
            F.expr(
                "CAST(max(abs(ca * n2 - cb * n1)) * 10000 div (max(n1) * max(n2)) AS BIGINT)"
            ).alias("ks_bps"),
        )
        .orderBy("event_type")
    )


@register(
    "ooo_report",
    oracle="""
WITH e AS (
  SELECT event_type, event_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
w AS (
  SELECT event_type, tse,
         MAX(tse) OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
  FROM e
),
l AS (
  SELECT event_type,
         CASE WHEN mx IS NOT NULL AND tse < mx THEN 1 ELSE 0 END AS is_late,
         CASE WHEN mx IS NOT NULL AND tse < mx THEN mx - tse ELSE 0 END AS late_s
  FROM w
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_late) AS BIGINT) AS n_late,
       CAST(SUM(is_late) * 10000 // COUNT(*) AS BIGINT) AS late_bps,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s,
       CAST(CASE WHEN SUM(is_late) > 0
                 THEN SUM(late_s) * 100 // SUM(is_late) END AS BIGINT) AS mean_late_centi_s
FROM l GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Out-of-orderness audit for watermark sizing: per event type, "
        "how many events arrive (by event_id ingest order) with a "
        "timestamp BEHIND the running maximum, the worst and mean "
        "lateness in integer (centi-)seconds, and the late share in "
        "exact bps — THE measurement that decides the "
        "withWatermark() delay before deploying the streaming "
        "pipelines (streaming/pipeline.py): a watermark below "
        "max_late_s silently drops data, one far above it bloats "
        "state (SURVEY §2.H). One running-max window per type over "
        "integer epoch seconds (NTZ-safe), one map-side-combined "
        "rollup; all arithmetic integer with non-negative truncating "
        "div."
    ),
)
def ooo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", "event_id", F.unix_timestamp(F.col("ts")).alias("tse"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    l = e.select(
        "event_type",
        F.col("tse"),
        F.max("tse").over(w).alias("mx"),
    ).select(
        "event_type",
        F.when(F.col("mx").isNotNull() & (F.col("tse") < F.col("mx")), 1)
        .otherwise(0)
        .alias("is_late"),
        F.when(
            F.col("mx").isNotNull() & (F.col("tse") < F.col("mx")), F.col("mx") - F.col("tse")
        )
        .otherwise(0)
        .alias("late_s"),
    )
    return (
        l.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("is_late").cast("bigint").alias("n_late"),
            F.expr("sum(is_late) * 10000 div count(*)").cast("bigint").alias("late_bps"),
            F.max("late_s").cast("bigint").alias("max_late_s"),
            F.expr(
                "CASE WHEN sum(is_late) > 0 THEN sum(late_s) * 100 div sum(is_late) END"
            )
            .cast("bigint")
            .alias("mean_late_centi_s"),
        )
        .orderBy("event_type")
    )


@register(
    "winsorized_stats",
    oracle="""
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type,
         CASE WHEN e.value < q.lo THEN 1 ELSE 0 END AS is_lo,
         CASE WHEN e.value > q.hi THEN 1 ELSE 0 END AS is_hi,
         CAST(ROUND(CASE WHEN e.value < q.lo THEN q.lo
                         WHEN e.value > q.hi THEN q.hi
                         ELSE e.value END, 4) AS DECIMAL(18,4)) AS w,
         q.lo, q.hi
  FROM events e JOIN q USING (event_type)
)
SELECT event_type,
       ROUND(MIN(lo), 4) AS p05,
       ROUND(MIN(hi), 4) AS p95,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(is_lo) AS BIGINT) AS n_clipped_lo,
       CAST(SUM(is_hi) AS BIGINT) AS n_clipped_hi,
       ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 4) AS mean_w
FROM c GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Winsorized (clipped) robust statistics per event type — the "
        "outlier-clamping pass feature pipelines run before training "
        "so a handful of extreme values cannot dominate a mean: exact "
        "p05/p95 fences (Spark percentile == SQL quantile_cont, the "
        "value_percentiles convention), values clamped into the "
        "fences, clip counts on both tails, and the winsorized mean. "
        "Two passes over the fact scan: the fence aggregate produces "
        "one row per type (broadcast back — the only cross-stage "
        "traffic), then the clip aggregate is fully map-side "
        "combined. Clamped values are pre-rounded into DECIMAL(18,4) "
        "before summing so the distributed sum is order-insensitive "
        "(the exact-decimal convention); the mean folds to one double "
        "division of bit-identical operands. At cluster scale the "
        "exact fences swap to approx_percentile and the oracle drops "
        "to rows-only, same as value_percentiles (SURVEY §2.L)."
    ),
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    w = (
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
    )
    c = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        "lo",
        "hi",
        F.when(F.col("value") < F.col("lo"), 1).otherwise(0).alias("is_lo"),
        F.when(F.col("value") > F.col("hi"), 1).otherwise(0).alias("is_hi"),
        F.round(w, 4).cast("decimal(18,4)").alias("w"),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.round(F.min("lo"), 4).alias("p05"),
            F.round(F.min("hi"), 4).alias("p95"),
            F.count("*").cast("bigint").alias("n"),
            F.sum("is_lo").cast("bigint").alias("n_clipped_lo"),
            F.sum("is_hi").cast("bigint").alias("n_clipped_hi"),
            F.round(F.sum("w").cast("double") / F.count("*"), 4).alias("mean_w"),
        )
        .orderBy("event_type")
    )


BOT_MIN_GAPS = 20
BOT_TOP = 20


@register(
    "bot_regularity",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS tse FROM events
),
g AS (
  SELECT user_id,
         tse - LAG(tse) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM e
),
s AS (
  SELECT user_id, COUNT(gap_s) AS n, SUM(gap_s) AS sg,
         SUM(CAST(gap_s AS DECIMAL(19,0)) * gap_s) AS sg2
  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
),
c AS (
  SELECT user_id, n, sg,
         CAST(CAST((CAST(n AS DECIMAL(38,0)) * sg2 - CAST(sg AS DECIMAL(38,0)) * sg) * 1000
                   AS HUGEINT)
              // CAST(CAST(sg AS DECIMAL(38,0)) * sg AS HUGEINT) AS BIGINT) AS cv2_milli
  FROM s WHERE n >= {BOT_MIN_GAPS} AND sg > 0
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       CAST((2000 * sg + n) // (2 * n) AS BIGINT) AS mean_gap_milli,
       cv2_milli
FROM c ORDER BY cv2_milli, user_id LIMIT {BOT_TOP}
""",
    doc=(
        "Bot detection by inter-event regularity: the 20 users whose "
        "event-gap coefficient of variation squared is lowest "
        "(humans are bursty — burstiness's user-level inverse; a "
        "near-zero cv2 at high volume is a cron job). cv2 = "
        "(n*sum(g^2) - sum(g)^2)/sum(g)^2 in exact DECIMAL(38,0) "
        "cross-products scaled to integer milli-units, and the mean "
        "gap as a half-up integer milli-second — no double output. One user-partitioned LAG "
        "window (the sessionize shuffle) + a map-side-combined "
        "moment aggregate + TakeOrderedAndProject (SURVEY §2.H)."
    ),
)
def bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_timestamp(F.col("ts"))
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    s = g.groupBy("user_id").agg(
        F.count("gap_s").alias("n"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s").cast("decimal(19,0)") * F.col("gap_s")).alias("sg2"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    c = s.where((F.col("n") >= BOT_MIN_GAPS) & (F.col("sg") > 0)).select(
        "user_id",
        "n",
        "sg",
        (
            (dec("n") * F.col("sg2") - dec("sg") * F.col("sg")) * 1000
        ).alias("cvnum"),
        (dec("sg") * F.col("sg")).alias("cvden"),
    )
    return (
        c.select(
            "user_id",
            F.col("n").cast("bigint").alias("n_gaps"),
            F.expr("(2000L * sg + n) div (2L * n)").cast("bigint").alias(
                "mean_gap_milli"
            ),
            F.expr("cvnum div cvden").cast("bigint").alias("cv2_milli"),
        )
        .orderBy("cv2_milli", "user_id")
        .limit(BOT_TOP)
    )


@register(
    "peak_concurrency",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS tse FROM events
),
g AS (
  SELECT user_id, tse, event_id,
         CASE WHEN LAG(tse) OVER w IS NULL OR tse - LAG(tse) OVER w > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tse, event_id)
),
s AS (
  SELECT user_id, tse,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tse, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
),
sess AS (
  SELECT user_id, sess_id, MIN(tse) AS start_s, MAX(tse) AS end_s
  FROM s GROUP BY user_id, sess_id
),
bounds AS (
  SELECT start_s AS t, 1 AS delta FROM sess
  UNION ALL SELECT end_s + 1, -1 FROM sess
),
net AS (SELECT t, SUM(delta) AS nd FROM bounds GROUP BY t),
persec AS (
  SELECT t, CAST(make_timestamp(t * 1000000) AS DATE) AS day,
         SUM(nd) OVER (PARTITION BY CAST(make_timestamp(t * 1000000) AS DATE)
                       ORDER BY t ROWS UNBOUNDED PRECEDING) AS ws,
         nd
  FROM net
),
daynet AS (SELECT day, SUM(nd) AS dnet FROM persec GROUP BY day),
carry AS (
  SELECT day,
         COALESCE(SUM(dnet) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cin
  FROM daynet
),
conc AS (
  SELECT p.day, p.t, p.ws + c.cin AS conc
  FROM persec p JOIN carry c USING (day)
),
rk AS (
  SELECT day, t, conc,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY conc DESC, t) AS rn
  FROM conc
)
SELECT day, CAST(conc AS BIGINT) AS peak_concurrency, CAST(t AS BIGINT) AS at_epoch_s
FROM rk WHERE rn = 1 ORDER BY day
""",
    doc=(
        "Peak concurrent sessions per day — the interval-overlap "
        "sweep-line (capacity question tumbling counts can't answer: "
        "windows count events, this counts OVERLAPPING session "
        "intervals). Sessions come from the sessionize lag+running-"
        "sum core; each emits +1/-1 boundary deltas, netted per "
        "second. The sweep is TWO-LEVEL so no global single-partition "
        "window ever forms: within-day running sums partition by day, "
        "and cross-day state collapses to a per-day net carried by a "
        "running sum over the tiny day table — the same "
        "carry-in/carry-out decomposition a 100 TB prefix scan uses. "
        "Peak tie-break = earliest second, all integer arithmetic "
        "(SURVEY §2.H)."
    ),
)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", F.unix_timestamp(F.col("ts")).alias("tse"))
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    gap = F.col("tse") - F.lag(F.col("tse")).over(w)
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    s = e.withColumn(
        "sess_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    sess = s.groupBy("user_id", "sess_id").agg(
        F.min("tse").alias("start_s"), F.max("tse").alias("end_s")
    )
    bounds = sess.select(
        F.explode(
            F.array(
                F.struct(F.col("start_s").alias("t"), F.lit(1).alias("delta")),
                F.struct((F.col("end_s") + 1).alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("b")
    ).select("b.t", "b.delta")
    net = bounds.groupBy("t").agg(F.sum("delta").alias("nd"))
    day = F.timestamp_seconds(F.col("t")).cast("date")
    wd = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    persec = net.select("t", day.alias("day"), "nd").withColumn(
        "ws", F.sum("nd").over(wd)
    )
    daynet = persec.groupBy("day").agg(F.sum("nd").alias("dnet"))
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = daynet.select(
        "day", F.coalesce(F.sum("dnet").over(wc), F.lit(0)).alias("cin")
    )
    conc = persec.join(F.broadcast(carry), "day").select(
        "day", "t", (F.col("ws") + F.col("cin")).alias("conc")
    )
    # per-day argmax (conc DESC, t ASC) as one aggregation:
    # min(struct(−conc, t)) replays the row_number window's order with
    # map-side partial combining (guide §2.3; the semdedup_prune
    # rewrite) instead of a per-day sort exchange
    return (
        conc.groupBy("day")
        .agg(
            F.min(F.struct((-F.col("conc")).alias("nc"), F.col("t").alias("t"))).alias("b")
        )
        .select(
            "day",
            (-F.col("b.nc")).cast("bigint").alias("peak_concurrency"),
            F.col("b.t").cast("bigint").alias("at_epoch_s"),
        )
        .orderBy("day")
    )


@register(
    "markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, SUM(n) AS n_from FROM t GROUP BY prev_type),
grand AS (SELECT SUM(n) AS n_total FROM t),
h AS (
  SELECT t.prev_type,
         SUM(CAST(ROUND(-CAST(t.n AS DOUBLE) / tot.n_from
                        * ln(CAST(t.n AS DOUBLE) / tot.n_from), 9)
             AS DECIMAL(18,9))) AS hsum
  FROM t JOIN tot USING (prev_type) GROUP BY t.prev_type
)
SELECT tot.prev_type AS from_type,
       CAST(tot.n_from AS BIGINT) AS n_from,
       CAST(tot.n_from * 10000 // grand.n_total AS BIGINT) AS weight_bps,
       ROUND(CAST(h.hsum AS DOUBLE), 4) AS entropy,
       ROUND(CAST(h.hsum AS DOUBLE) * tot.n_from / grand.n_total, 6) AS contribution
FROM tot JOIN h USING (prev_type) CROSS JOIN grand
ORDER BY from_type
""",
    doc=(
        "Entropy rate of the event-type Markov chain: per from-state, "
        "the Shannon entropy of its next-step distribution and its "
        "contribution to the chain's entropy rate under the empirical "
        "state weights — how PREDICTABLE each point of the user "
        "journey is (near-zero entropy states are funnels, high-"
        "entropy states are browsing; the information-theoretic "
        "summary of markov_transitions' full matrix). Same single "
        "lag-window shuffle as the matrix; entropy terms pre-round to "
        "DECIMAL(18,9) (user_entropy convention); weights are exact "
        "integer bps (SURVEY §2.H)."
    ),
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    # n_from / n_total as windows over the TINY transition table (one
    # row per (from,to) type pair), so the events scan + lag-window
    # shuffle runs ONCE — deriving them as separate aggregates of `t`
    # re-executed the whole event lineage per branch (16 exchanges ->
    # 6; the single-partition global window is O(|types|^2)).
    w_from = Window.partitionBy("prev_type")
    w_all = Window.partitionBy()
    tw = t.select(
        "prev_type",
        "n",
        F.sum("n").over(w_from).alias("n_from"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    h = (
        tw.select(
            "prev_type",
            "n_from",
            "n_total",
            F.round(
                -F.col("n").cast("double") / F.col("n_from")
                * F.log(F.col("n").cast("double") / F.col("n_from")),
                9,
            )
            .cast("decimal(18,9)")
            .alias("term"),
        )
        .groupBy("prev_type", "n_from", "n_total")
        .agg(F.sum("term").alias("hsum"))
    )
    return (
        h.select(
            F.col("prev_type").alias("from_type"),
            F.col("n_from").cast("bigint").alias("n_from"),
            F.expr("n_from * 10000 div n_total").cast("bigint").alias("weight_bps"),
            F.round(F.col("hsum").cast("double"), 4).alias("entropy"),
            F.round(
                F.col("hsum").cast("double") * F.col("n_from") / F.col("n_total"), 6
            ).alias("contribution"),
        )
        .orderBy("from_type")
    )


CUPED_SPLIT_DATE = "2024-01-16"  # pre-period covariate / post-period metric


@register(
    "ab_cuped_lift",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arm_a,
         SUM(CASE WHEN CAST(ts AS DATE) < DATE '{CUPED_SPLIT_DATE}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS x,
         SUM(CASE WHEN CAST(ts AS DATE) >= DATE '{CUPED_SPLIT_DATE}'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
a AS (
  SELECT arm_a, COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
         SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
  FROM u GROUP BY arm_a
),
g AS (
  SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy,
         SUM(CASE WHEN arm_a THEN n END) AS n_a,
         SUM(CASE WHEN arm_a THEN sx END) AS sx_a,
         SUM(CASE WHEN arm_a THEN sy END) AS sy_a,
         SUM(CASE WHEN NOT arm_a THEN n END) AS n_b,
         SUM(CASE WHEN NOT arm_a THEN sx END) AS sx_b,
         SUM(CASE WHEN NOT arm_a THEN sy END) AS sy_b
  FROM a
),
t AS (
  SELECT *,
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       theta,
       ROUND((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100, 4) AS raw_lift,
       ROUND(((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
               - CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))
              - theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                         - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))) / 100, 4)
         AS cuped_lift,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
             4) AS var_reduction
FROM t
""",
    doc=(
        "CUPED variance-reduced A/B lift (Deng et al. 2013 — the "
        "industry-standard experimentation estimator): the pre-period "
        "spend covariate soaks up between-user variance, so the "
        "adjusted lift needs rho^2-fold less traffic for the same "
        "power. Same md5 arm assignment as ab_test_lift; metric = "
        "post-period per-user value, covariate = pre-period value. "
        "Shape: per-user rollup (one shuffle on user_id, map-side "
        "combined) -> per-arm integer/DECIMAL(38,0) moment sums (2 "
        "rows) -> theta, adjusted lift and variance-reduction from "
        "scaled central moments (N*Sxy - Sx*Sy), all exact until the "
        "final double ratios — the OLS determinism convention "
        "(SURVEY §2.H)."
    ),
)
def ab_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(CUPED_SPLIT_DATE).cast("date")
    centi = F.round(F.col("value") * 100).cast("bigint")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts").cast("date") < split, centi).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts").cast("date") >= split, centi).otherwise(0)).alias("y"),
    ).select(
        (
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1)
            < "8"
        ).alias("arm_a"),
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("y"),
    )
    a = u.groupBy("arm_a").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    g = a.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
        F.sum(F.when(F.col("arm_a"), F.col("n"))).alias("n_a"),
        F.sum(F.when(F.col("arm_a"), F.col("sx"))).alias("sx_a"),
        F.sum(F.when(F.col("arm_a"), F.col("sy"))).alias("sy_a"),
        F.sum(F.when(~F.col("arm_a"), F.col("n"))).alias("n_b"),
        F.sum(F.when(~F.col("arm_a"), F.col("sx"))).alias("sx_b"),
        F.sum(F.when(~F.col("arm_a"), F.col("sy"))).alias("sy_b"),
    )
    sxy_c = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    sxx_c = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    syy_c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    t = g.withColumn(
        "theta", F.round(sxy_c.cast("double") / sxx_c.cast("double"), 6)
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n).cast("double")
    dy = mean("sy_a", "n_a") - mean("sy_b", "n_b")
    dx = mean("sx_a", "n_a") - mean("sx_b", "n_b")
    return t.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "theta",
        F.round(dy / 100, 4).alias("raw_lift"),
        F.round((dy - F.col("theta") * dx) / 100, 4).alias("cuped_lift"),
        F.round(
            sxy_c.cast("double") * sxy_c.cast("double")
            / (sxx_c.cast("double") * syy_c.cast("double")),
            4,
        ).alias("var_reduction"),
    )


SESSWIN_BUCKET_US = 300 * 1_000_000  # 5-minute duration buckets


@register(
    "session_window_stats",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         -- session_window merges on WINDOW OVERLAP, half-open
         -- [ts, ts+gap): a gap of exactly 30:00.000000 splits, and
         -- the boundary is microsecond-precise (sessionize's
         -- whole-second date_diff would truncate 1800.5 s to 1800)
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('microsecond', LAG(ts) OVER w, ts)
                   >= {SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS n_events,
         date_diff('microsecond', MIN(ts), MAX(ts))
           + {SESSION_GAP_S} * 1000000 AS dur_us
  FROM s GROUP BY user_id, sess_id
)
SELECT CAST(dur_us // {SESSWIN_BUCKET_US} AS BIGINT) AS dur_bucket,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST((20000 * SUM(n_events) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
           AS avg_events_e4
FROM per_sess GROUP BY 1 ORDER BY 1
""",
    doc=(
        "Session-duration distribution via Spark's NATIVE "
        "session_window aggregate — the same 30-min-gap semantics as "
        "`sessionize` but through the SessionWindow physical operator "
        "(merging session state inside the aggregate, no lag+cumsum "
        "window pair), i.e. the exact code path the streaming twin "
        "uses, run in batch. Spark's session end = last event + gap, "
        "so dur = (max-min)+gap in MICROSECONDS on both engines "
        "(events carry sub-second timestamps; second-truncation would "
        "split buckets). The oracle reconstructs sessions the "
        "portable way (sessionize's lag + running sum), proving the "
        "two formulations agree session-for-session (SURVEY §2.H)."
    ),
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds")
    ).agg(F.count("*").alias("n_events"))
    # scans may surface ts as TIMESTAMP_NTZ; unix_micros requires LTZ.
    # The session tz is pinned UTC (io._ensure_confs) so the cast is a
    # deterministic retag, and start/end shift identically either way.
    dur_us = F.unix_micros(F.col("session_window.end").cast("timestamp")) - F.unix_micros(
        F.col("session_window.start").cast("timestamp")
    )
    per_sess = s.select("user_id", "n_events", dur_us.alias("dur_us"))
    return (
        per_sess.select(
            F.expr(f"dur_us div {SESSWIN_BUCKET_US}").cast("bigint").alias("dur_bucket"),
            "n_events",
            "user_id",
        )
        .groupBy("dur_bucket")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr(
                "(20000L * sum(n_events) + count(*)) div (2L * count(*))"
            )
            .cast("bigint")
            .alias("avg_events_e4"),
        )
        .orderBy("dur_bucket")
    )


@register(
    "time_weighted_value",
    oracle="""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
         date_diff('microsecond', CAST(CAST(ts AS DATE) AS TIMESTAMP), ts) AS us,
         CAST(ROUND(value * 100) AS BIGINT) AS vc,
         ts, event_id
  FROM events
),
w AS (
  SELECT day, vc,
         COALESCE(LEAD(us) OVER (PARTITION BY day ORDER BY ts, event_id),
                  86400000000) - us AS w_us
  FROM e
)
SELECT day, COUNT(*) AS n,
       CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 100
         AS naive_mean,
       CAST(SUM(CAST(vc AS DECIMAL(38,0)) * w_us) AS DOUBLE)
         / CAST(SUM(CAST(w_us AS DECIMAL(38,0))) AS DOUBLE) / 100 AS twap
FROM w GROUP BY day ORDER BY day
""",
    doc=(
        "Time-weighted daily average of the value stream (the TWAP "
        "estimator): each observation holds until the next one, so "
        "its weight is microseconds-until-next-event (last event "
        "holds to midnight) — the correct mean for sampled-on-change "
        "series, where the naive row mean over-weights bursty periods "
        "(the two columns disagree visibly on this data). Exactness: "
        "weights are integer microseconds off the ordered per-day "
        "window, weighted sums accumulate in DECIMAL(38,0) (scale-"
        "safe: centi-value x day-microseconds products overflow "
        "BIGINT at planetary volumes), and both engines divide the "
        "same exact sums — output doubles are bit-equal unrounded. "
        "One per-day lead window + one map-side-combined rollup "
        "(SURVEY §2.H)."
    ),
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ts_ltz = F.col("ts").cast("timestamp")
    day = F.col("ts").cast("date")
    us = F.unix_micros(ts_ltz) - F.unix_micros(day.cast("timestamp"))
    e = ev.select(
        day.alias("day"),
        us.alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        "ts",
        "event_id",
    )
    wspec = Window.partitionBy("day").orderBy("ts", "event_id")
    w = e.select(
        "day",
        "vc",
        (
            F.coalesce(F.lead("us").over(wspec), F.lit(86_400_000_000))
            - F.col("us")
        ).alias("w_us"),
    )
    vc_d = F.col("vc").cast("decimal(38,0)")
    w_d = F.col("w_us").cast("decimal(38,0)")
    return (
        w.groupBy("day")
        .agg(
            F.count("*").alias("n"),
            (F.sum(vc_d).cast("double") / F.count("*") / 100).alias("naive_mean"),
            (F.sum(vc_d * F.col("w_us")).cast("double") / F.sum(w_d).cast("double") / 100).alias(
                "twap"
            ),
        )
        .orderBy("day")
    )


ABSORB_TARGET = "purchase"


@register(
    "absorption_within_k",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
c2 AS (
  SELECT prev_type AS a, event_type AS b, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
c1 AS (SELECT a, SUM(n) AS tot FROM c2 GROUP BY a),
p AS (
  SELECT c2.a, c2.b,
         ROUND(CAST(c2.n AS DOUBLE) / c1.tot, 9) AS p
  FROM c2 JOIN c1 USING (a)
),
p1 AS (
  SELECT c1.a, COALESCE(t.p, 0.0) AS p1
  FROM c1 LEFT JOIN (SELECT a, p FROM p WHERE b = '{ABSORB_TARGET}') t USING (a)
),
p2 AS (
  SELECT p.a,
         MAX(x.p1) + SUM(CAST(ROUND(p.p * m.p1, 9) AS DECIMAL(18,9))) AS p2
  FROM p JOIN p1 m ON p.b = m.a AND p.b <> '{ABSORB_TARGET}'
  JOIN p1 x ON x.a = p.a
  GROUP BY p.a
),
p3 AS (
  SELECT p.a,
         MAX(x.p1) + SUM(CAST(ROUND(p.p * CAST(m.p2 AS DOUBLE), 9)
                              AS DECIMAL(18,9))) AS p3
  FROM p JOIN p2 m ON p.b = m.a AND p.b <> '{ABSORB_TARGET}'
  JOIN p1 x ON x.a = p.a
  GROUP BY p.a
)
SELECT p1.a AS from_state,
       CAST((2 * CAST(CAST(p1.p1 AS DECIMAL(18,9)) * 1000000000 AS BIGINT) + 1000)
            // 2000 AS BIGINT) AS p_within_1_e6,
       CAST((2 * CAST(CAST(p2.p2 AS DECIMAL(18,9)) * 1000000000 AS BIGINT) + 1000)
            // 2000 AS BIGINT) AS p_within_2_e6,
       CAST((2 * CAST(CAST(p3.p3 AS DECIMAL(18,9)) * 1000000000 AS BIGINT) + 1000)
            // 2000 AS BIGINT) AS p_within_3_e6
FROM p1 JOIN p2 ON p1.a = p2.a JOIN p3 ON p1.a = p3.a
ORDER BY from_state
""",
    doc=(
        "Absorption probability within k steps: from each journey "
        "state, the chance of reaching '" + ABSORB_TARGET + "' in at "
        "most 1/2/3 transitions of the empirical Markov chain — the "
        "funnel question ordered_funnel's fixed event sequence can't "
        "ask (any path counts, not one prescribed order), computed as "
        "matrix powers EXPRESSED RELATIONALLY: each Neumann step is "
        "one join of the 5x5 transition table against the previous "
        "vector, so the recursion never leaves the tiny state space — "
        "the event stream is touched once (markov_transitions' lag "
        "window). Determinism: transition probs rounded to 9 dp, each "
        "step's products rounded to DECIMAL(18,9) BEFORE the "
        "order-insensitive sum (the user_entropy convention); the "
        "outputs are exact half-up e6 integers off the 9-dp decimal "
        "lattice (the decimal cast absorbs the one double add's ulp "
        "noise; no double output) (SURVEY §2.H)."
    ),
)
def absorption_within_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    c2 = seq.groupBy(
        F.col("prev_type").alias("a"), F.col("event_type").alias("b")
    ).agg(F.count("*").alias("n"))
    wtot = Window.partitionBy("a")
    p_built = c2.select(
        "a",
        "b",
        F.round(F.col("n").cast("double") / F.sum("n").over(wtot), 9).alias("p"),
    )
    # ONE events pass: the |states|^2-row transition table is a
    # bounded collect (kmeans-codebook convention); every Neumann
    # step below then joins LOCAL relations — without this, each
    # branch re-executed the whole scan + lag-window lineage
    # (round-4 audit: 53 exchanges, 16 scans). r10: the collected
    # rows are memoized per corpus dir (the pq-books class — the
    # table is the trained chain a serving layer holds), so repeated
    # calls skip the scan+window job entirely.
    rows = memo(spark, "absorb_p", sf_dir, build=p_built.collect)
    p = spark.createDataFrame(rows, "a string, b string, p double")
    states = p.select("a").distinct()
    tgt = p.where(F.col("b") == ABSORB_TARGET).select("a", F.col("p").alias("p1"))
    p1 = states.join(F.broadcast(tgt), "a", "left").select(
        "a", F.coalesce(F.col("p1"), F.lit(0.0)).alias("p1")
    )

    def step(prev: DataFrame, col: str, out: str) -> DataFrame:
        m = prev.select(F.col("a").alias("b"), F.col(col).cast("double").alias("pm"))
        return (
            p.where(F.col("b") != ABSORB_TARGET)
            .join(F.broadcast(m), "b")
            .join(F.broadcast(p1.select("a", F.col("p1").alias("px"))), "a")
            .groupBy("a")
            .agg(
                (
                    F.max("px")
                    + F.sum(F.round(F.col("p") * F.col("pm"), 9).cast("decimal(18,9)"))
                ).alias(out)
            )
        )

    p2 = step(p1, "p1", "p2")
    p3 = step(p2, "p2", "p3")
    return (
        p1.join(p2, "a")
        .join(p3, "a")
        .select(
            F.col("a").alias("from_state"),
            # exact half-up e6 integers off the 9-dp decimal lattice
            F.expr(
                "CAST((2 * CAST(CAST(p1 AS DECIMAL(18,9)) * 1000000000 AS BIGINT)"
                " + 1000) div 2000 AS BIGINT)"
            ).alias("p_within_1_e6"),
            F.expr(
                "CAST((2 * CAST(CAST(p2 AS DECIMAL(18,9)) * 1000000000 AS BIGINT)"
                " + 1000) div 2000 AS BIGINT)"
            ).alias("p_within_2_e6"),
            F.expr(
                "CAST((2 * CAST(CAST(p3 AS DECIMAL(18,9)) * 1000000000 AS BIGINT)"
                " + 1000) div 2000 AS BIGINT)"
            ).alias("p_within_3_e6"),
        )
        .orderBy("from_state")
    )


@register(
    "bounce_rate_daily",
    oracle=f"""
WITH g AS (
  SELECT user_id, event_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, tse,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tse, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS n_events,
         MIN(tse) // 86400 AS day_idx
  FROM s GROUP BY user_id, sess_id
)
SELECT DATE '1970-01-01' + CAST(day_idx AS INT) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS bounce_bps,
       CAST(SUM(n_events) * 1000 // COUNT(*) AS BIGINT) AS events_per_session_milli
FROM per_sess GROUP BY day_idx ORDER BY day
""",
    doc=(
        "Daily bounce rate: share of single-event sessions per UTC "
        "day (day = session START), plus events-per-session in exact "
        "milli-units — the engagement-quality companion to "
        "sessionize's per-user rollup (a rising bounce rate with flat "
        "session counts is a landing-page or bot problem). Rides the "
        "exact sessionize core (one user-keyed shuffle, deduped lag + "
        "running sum), then two aggregations over the session-"
        "cardinality table; day arithmetic is pure integer epoch-div "
        "so both engines cut midnight identically (SURVEY §2.H)."
    ),
)
def bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse"),
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    prev = F.lag("tse").over(w)
    s = e.select(
        "user_id",
        "event_id",
        "tse",
        F.when(prev.isNull() | ((F.col("tse") - prev) > SESSION_GAP_S), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = s.withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        F.expr("min(tse) div 86400").alias("day_idx"),
    )
    return (
        per_sess.groupBy("day_idx")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.expr(
                "sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000 div count(*)"
            )
            .cast("bigint")
            .alias("bounce_bps"),
            F.expr("sum(n_events) * 1000 div count(*)")
            .cast("bigint")
            .alias("events_per_session_milli"),
        )
        .select(
            F.date_from_unix_date(F.col("day_idx").cast("int")).alias("day"),
            "n_sessions",
            "n_bounces",
            "bounce_bps",
            "events_per_session_milli",
        )
        .orderBy("day")
    )


_SLO_BUDGET_BPS = 100  # 1% error budget


@register(
    "slo_burn_rate",
    oracle=f"""
WITH mx AS (SELECT MAX(ts) AS m FROM events),
w AS (
  SELECT u.win, u.secs FROM (VALUES ('1h', 3600), ('24h', 86400)) AS u(win, secs)
),
agg AS (
  SELECT w.win, w.secs,
         COUNT(*) AS n_events,
         SUM(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
  FROM events e CROSS JOIN mx CROSS JOIN w
  WHERE e.ts > mx.m - to_seconds(w.secs)
  GROUP BY w.win, w.secs
)
SELECT win AS "window",
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_errors AS BIGINT) AS n_errors,
       CAST(n_errors * 10000 // n_events AS BIGINT) AS err_bps,
       CAST({_SLO_BUDGET_BPS} AS BIGINT) AS budget_bps,
       CAST(n_errors * 10000 * 1000 // (n_events * {_SLO_BUDGET_BPS}) AS BIGINT) AS burn_milli
FROM agg ORDER BY "window"
""",
    doc=(
        "Multi-window SLO error-budget burn rate (the Google SRE "
        "alerting recipe): error share of the trailing 1h and 24h "
        "windows against a 1% budget, burn expressed in exact integer "
        "milli-multiples (burn 1000 = exactly consuming budget; page "
        "when BOTH windows burn hot — the short window for speed, the "
        "long one to suppress blips). Horizon anchors to the stream's "
        "own max(ts) (no wall clock, reproducible); one scan with the "
        "1-row max broadcast and a 2-row window table, conditional "
        "aggregation, pure integer arithmetic; the streaming twin "
        "rides the same expressions per micro-batch (SURVEY §2.H)."
    ),
)
def slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m"))
    # ONE conditional-aggregate pass over the scan (an events x windows
    # explode would double the scanned rows at 100 TB), then the 2-row
    # per-window melt runs over the 1-row sufficient statistics
    wins = [("1h", 3600), ("24h", 86400)]
    in_w = lambda secs: F.col("ts") > F.col("m") - F.expr(f"INTERVAL {secs} SECOND")
    is_err = F.col("event_type") == "error"
    aggs = []
    for name, secs in wins:
        aggs.append(F.sum(F.when(in_w(secs), 1).otherwise(0)).alias(f"n_{name}"))
        aggs.append(
            F.sum(F.when(in_w(secs) & is_err, 1).otherwise(0)).alias(f"e_{name}")
        )
    stats = ev.crossJoin(F.broadcast(mx)).agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("window"),
                F.col(f"n_{name}").cast("bigint").alias("n_events"),
                F.col(f"e_{name}").cast("bigint").alias("n_errors"),
                F.expr(f"e_{name} * 10000 div n_{name}").cast("bigint").alias("err_bps"),
                F.lit(_SLO_BUDGET_BPS).cast("bigint").alias("budget_bps"),
                F.expr(
                    f"e_{name} * 10000 * 1000 div (n_{name} * {_SLO_BUDGET_BPS})"
                )
                .cast("bigint")
                .alias("burn_milli"),
            )
            for name, _ in wins
        ]
    )
    return (
        stats.select(F.explode(rows).alias("r")).select("r.*").orderBy("window")
    )


_KM_MAX_DAY = 30


@register(
    "km_survival_gaps",
    oracle=f"""
WITH p AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse,
         event_id
  FROM events WHERE event_type = 'purchase'
),
iv AS (
  SELECT user_id, tse,
         LEAD(tse) OVER (PARTITION BY user_id ORDER BY tse, event_id) AS nxt
  FROM p
),
mx AS (SELECT MAX(tse) AS horizon FROM p),
d AS (
  SELECT CASE WHEN nxt IS NULL THEN (mx.horizon - tse) // 86400
              ELSE (nxt - tse) // 86400 END AS dur,
         CASE WHEN nxt IS NULL THEN 1 ELSE 0 END AS censored
  FROM iv CROSS JOIN mx
),
h AS (
  SELECT dur,
         SUM(1 - censored) AS d_t,
         SUM(censored) AS c_t
  FROM d GROUP BY dur
),
r AS (
  SELECT dur, d_t, c_t,
         SUM(d_t + c_t) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING) AS n_t
  FROM h
),
s AS (
  SELECT dur, d_t, c_t, n_t,
         CASE WHEN d_t < n_t
              THEN CAST(ROUND(LN(1.0 - CAST(d_t AS DOUBLE) / n_t), 9) AS DECIMAL(18,9))
              END AS lnf,
         MAX(CASE WHEN d_t >= n_t THEN 1 ELSE 0 END)
           OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS dead
  FROM r
)
SELECT CAST(dur AS BIGINT) AS day,
       CAST(n_t AS BIGINT) AS n_at_risk,
       CAST(d_t AS BIGINT) AS n_events,
       CAST(c_t AS BIGINT) AS n_censored,
       CASE WHEN dead = 0
            THEN CAST(SUM(lnf) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS DOUBLE)
            END AS ln_survival
FROM s WHERE dur <= {_KM_MAX_DAY} ORDER BY day
""",
    doc=(
        "Kaplan-Meier product-limit survival of inter-purchase gaps "
        "WITH right-censoring (each user's final purchase opens an "
        "interval censored at the corpus horizon) — the estimator "
        "purchase_hazard's complete-intervals-only histogram biases "
        "short (dropping open intervals undercounts long gaps). "
        "Day-granular: risk sets come from ONE reverse-cumulative "
        "window over the duration histogram (bounded by the corpus "
        "span in days, never row count), each ln(1 - d/n) factor is "
        "pre-rounded to DECIMAL(18,9) so the cumulative log-survival "
        "sum is exact and order-insensitive, and the output ships "
        "LN-survival (an exact decimal sum) rather than exp of it — "
        "no cross-engine exp ulp to chase. One lag window on the "
        "purchase stream is the only corpus-sized shuffle "
        "(SURVEY §2.H/§2.L)."
    ),
)
def km_survival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    iv = p.select("user_id", "tse", F.lead("tse").over(w).alias("nxt"))
    mx = p.agg(F.max("tse").alias("horizon"))
    d = iv.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("nxt").isNull(),
            F.expr("(horizon - tse) div 86400"),
        )
        .otherwise(F.expr("(nxt - tse) div 86400"))
        .alias("dur"),
        F.when(F.col("nxt").isNull(), 1).otherwise(0).alias("censored"),
    )
    h = d.groupBy("dur").agg(
        F.sum(1 - F.col("censored")).alias("d_t"),
        F.sum("censored").alias("c_t"),
    )
    wr = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "dur", "d_t", "c_t", F.sum(F.col("d_t") + F.col("c_t")).over(wr).alias("n_t")
    )
    wf = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = r.select(
        "dur",
        "d_t",
        "c_t",
        "n_t",
        F.when(
            F.col("d_t") < F.col("n_t"),
            F.round(F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")), 9).cast(
                "decimal(18,9)"
            ),
        ).alias("lnf"),
        F.max(F.when(F.col("d_t") >= F.col("n_t"), 1).otherwise(0)).over(wf).alias("dead"),
    )
    return (
        s.select(
            F.col("dur").cast("bigint").alias("day"),
            F.col("n_t").cast("bigint").alias("n_at_risk"),
            F.col("d_t").cast("bigint").alias("n_events"),
            F.col("c_t").cast("bigint").alias("n_censored"),
            F.when(F.col("dead") == 0, F.sum("lnf").over(wf).cast("double")).alias(
                "ln_survival"
            ),
        )
        .where(F.col("day") <= _KM_MAX_DAY)
        .orderBy("day")
    )


# 0.9^d day-decay weights in integer micro-units (plan constants shared
# textually with the oracle — no runtime pow, engagement_scores idiom)
_DECAY_W = (1000000, 900000, 810000, 729000, 656100, 590490, 531441)


def _decay_oracle() -> str:
    day = 86400
    # COALESCE: an empty RANGE frame sums to NULL, which would void the
    # whole weighted credit for any purchase missing one day bucket
    cnt_cols = ", ".join(
        f"COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER "
        f"(PARTITION BY user_id ORDER BY tse RANGE BETWEEN {(d + 1) * day} PRECEDING "
        f"AND {d * day + 1} PRECEDING), 0) AS c_{t}_{d}"
        for t in _TOUCH_TYPES
        for d in range(7)
    )
    wsum = lambda t: " + ".join(f"c_{t}_{d} * {_DECAY_W[d]}" for d in range(7))
    total = " + ".join(f"w_{t}" for t in _TOUCH_TYPES)
    credits = " UNION ALL ".join(
        f"SELECT '{t}' AS touch_type, "
        f"SUM(CASE WHEN w_all > 0 THEN w_{t} * 1000000 // w_all ELSE 0 END) AS credit_micro, "
        f"SUM(CASE WHEN w_{t} > 0 THEN 1 ELSE 0 END) AS n_purchases_touched FROM p"
        for t in _TOUCH_TYPES
    )
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
w AS (SELECT user_id, event_id, event_type, tse, {cnt_cols} FROM e),
ws AS (
  SELECT event_type, {", ".join(f"{wsum(t)} AS w_{t}" for t in _TOUCH_TYPES)}
  FROM w
),
p AS (SELECT {total} AS w_all, {", ".join(f"w_{t}" for t in _TOUCH_TYPES)}
      FROM ws WHERE event_type = 'purchase'),
credits AS ({credits})
SELECT touch_type, CAST(credit_micro AS BIGINT) AS credit_micro,
       CAST(n_purchases_touched AS BIGINT) AS n_purchases_touched
FROM credits ORDER BY touch_type
"""


@register(
    "attribution_time_decay",
    oracle=_decay_oracle(),
    doc=(
        "Time-decay multi-touch attribution (0.9^age-days weights), "
        "completing the attribution family: last-touch credits only "
        "recency, linear ignores it, decay interpolates — the "
        "marketing-standard middle ground. Decay weights are integer "
        "micro-unit PLAN CONSTANTS shared textually with the oracle "
        "(engagement_scores idiom, no runtime pow); per-(type, "
        "day-bucket) touch counts come from 7 RANGE frames over the "
        "SAME user-keyed sort (no event-stream self-join — "
        "attribution_linear's discipline), per-purchase credit "
        "normalization is exact integer div, so every purchase "
        "distributes exactly 1e6 micro-credits (SURVEY §2.H/§2.L)."
    ),
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse")
    )
    day = 86400
    cnt_cols = []
    for t in _TOUCH_TYPES:
        for d in range(7):
            wr = (
                Window.partitionBy("user_id")
                .orderBy("tse")
                .rangeBetween(-(d + 1) * day, -(d * day + 1))
            )
            cnt_cols.append(
                F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                .over(wr)
                .alias(f"c_{t}_{d}")
            )
    w = e.select("event_type", *cnt_cols)
    ws_cols = []
    for t in _TOUCH_TYPES:
        expr = None
        for d in range(7):
            term = F.coalesce(F.col(f"c_{t}_{d}"), F.lit(0)) * _DECAY_W[d]
            expr = term if expr is None else expr + term
        ws_cols.append(expr.alias(f"w_{t}"))
    ws = w.select("event_type", *ws_cols)
    total = None
    for t in _TOUCH_TYPES:
        c = F.col(f"w_{t}")
        total = c if total is None else total + c
    p = ws.where(F.col("event_type") == "purchase").select(
        total.alias("w_all"), *[F.col(f"w_{t}") for t in _TOUCH_TYPES]
    )
    rows = [
        F.struct(
            F.lit(t).alias("touch_type"),
            F.sum(
                F.when(F.col("w_all") > 0, F.expr(f"w_{t} * 1000000L div w_all")).otherwise(0)
            )
            .cast("bigint")
            .alias("credit_micro"),
            F.sum(F.when(F.col(f"w_{t}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases_touched"),
        )
        for t in _TOUCH_TYPES
    ]
    agg = p.agg(F.array(*rows).alias("a"))
    return (
        agg.select(F.explode("a").alias("r"))
        .select("r.touch_type", "r.credit_micro", "r.n_purchases_touched")
        .orderBy("touch_type")
    )


_TRIGGER_TYPES = ("click", "error", "purchase", "signup", "view")
_TRIGGER_WINDOW_S = 300


@register(
    "trigger_followup_rates",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
w AS (
  SELECT user_id, event_type, tse,
         {", ".join(
             f"COALESCE(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) OVER "
             f"(PARTITION BY user_id ORDER BY tse RANGE BETWEEN 1 FOLLOWING "
             f"AND {_TRIGGER_WINDOW_S} FOLLOWING), 0) AS f_{t}"
             for t in _TRIGGER_TYPES
         )}
  FROM e
),
m AS (
  {" UNION ALL ".join(
      f"SELECT event_type AS trigger_type, '{t}' AS followup_type, "
      f"COUNT(*) AS n_trigger, "
      f"SUM(CASE WHEN f_{t} > 0 THEN 1 ELSE 0 END) AS n_followed FROM w GROUP BY event_type"
      for t in _TRIGGER_TYPES
  )}
)
SELECT trigger_type, followup_type,
       CAST(n_trigger AS BIGINT) AS n_trigger,
       CAST(n_followed AS BIGINT) AS n_followed,
       CAST(n_followed * 10000 // n_trigger AS BIGINT) AS followed_bps
FROM m ORDER BY trigger_type, followup_type
""",
    doc=(
        "Behavioral trigger table: for every ordered (trigger, "
        "follow-up) event-type pair, the share of trigger events "
        "followed by at least one follow-up from the SAME user within "
        "5 minutes (exact bps) — the time-windowed complement to "
        "markov_transitions' adjacency view (adjacency misses 'error "
        "then purchase 4 minutes later with clicks between'; this "
        "doesn't). Per-type follow-up counts come from ONE "
        "strictly-future RANGE frame (1..300 s) over a single "
        "user-keyed sort — the attribution_linear discipline, no "
        "event-stream self-join; the 25-cell matrix rolls up "
        "map-side (SURVEY §2.H)."
    ),
)
def trigger_followup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse"),
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("tse")
        .rangeBetween(1, _TRIGGER_WINDOW_S)
    )
    cols = [
        F.coalesce(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).over(wr), F.lit(0)
        ).alias(f"f_{t}")
        for t in _TRIGGER_TYPES
    ]
    w = e.select("event_type", *cols)
    per_trigger = w.groupBy("event_type").agg(
        F.count("*").alias("n_trigger"),
        *[
            F.sum(F.when(F.col(f"f_{t}") > 0, 1).otherwise(0)).alias(f"n_{t}")
            for t in _TRIGGER_TYPES
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("followup_type"),
                F.col(f"n_{t}").alias("n_followed"),
            )
            for t in _TRIGGER_TYPES
        ]
    )
    return (
        per_trigger.select(
            F.col("event_type").alias("trigger_type"),
            "n_trigger",
            F.explode(rows).alias("r"),
        )
        .select(
            "trigger_type",
            F.col("r.followup_type").alias("followup_type"),
            F.col("n_trigger").cast("bigint").alias("n_trigger"),
            F.col("r.n_followed").cast("bigint").alias("n_followed"),
            F.expr("r.n_followed * 10000 div n_trigger")
            .cast("bigint")
            .alias("followed_bps"),
        )
        .orderBy("trigger_type", "followup_type")
    )


# ---------------------------------------------------------------------------
# watermark_lateness_profile — how late do events arrive?
# ---------------------------------------------------------------------------

_LATE_BANDS_S = (60, 300, 1800)  # band edges for the lateness histogram


def _late_oracle() -> str:
    return f"""
WITH a AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         MAX(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_max
  FROM events
),
l AS (
  SELECT CASE WHEN prev_max IS NULL OR prev_max <= tus THEN 0
              ELSE prev_max - tus END AS late_us
  FROM a
),
b AS (
  SELECT CASE WHEN late_us = 0 THEN '0_in_order'
              WHEN late_us <= {_LATE_BANDS_S[0]} * 1000000 THEN '1_le_60s'
              WHEN late_us <= {_LATE_BANDS_S[1]} * 1000000 THEN '2_le_300s'
              WHEN late_us <= {_LATE_BANDS_S[2]} * 1000000 THEN '3_le_1800s'
              ELSE '4_gt_1800s' END AS band,
         late_us
  FROM l
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) * 10000 // (SELECT COUNT(*) FROM b) AS BIGINT) AS share_bps,
       CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_lateness_s
FROM b GROUP BY band ORDER BY band
"""


@register(
    "watermark_lateness_profile",
    oracle=_late_oracle(),
    doc=(
        "Event-lateness histogram vs the per-user high-water mark: "
        "for each event, how far behind the max timestamp ALREADY "
        "ARRIVED for that user (arrival order = event_id) it lands — "
        "THE measurement that picks a Structured Streaming "
        "withWatermark() delay (share_bps beyond a band = exactly the "
        "data a watermark of that width would drop from late-window "
        "aggregates; streaming/pipeline.py's windows consume this). "
        "Microsecond-exact integer arithmetic (epoch micros running "
        "max, bands on pinned edges); one window over the user "
        "partitioning, band-sized rollup (SURVEY §2.H)."
    ),
)
def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tus = F.expr("unix_micros(cast(ts as timestamp))")
    a = ev.select(
        tus.alias("tus"), F.max(tus).over(w).alias("prev_max")
    )
    late = F.when(
        F.col("prev_max").isNull() | (F.col("prev_max") <= F.col("tus")), F.lit(0)
    ).otherwise(F.col("prev_max") - F.col("tus"))
    band = (
        F.when(F.col("late_us") == 0, "0_in_order")
        .when(F.col("late_us") <= _LATE_BANDS_S[0] * 1_000_000, "1_le_60s")
        .when(F.col("late_us") <= _LATE_BANDS_S[1] * 1_000_000, "2_le_300s")
        .when(F.col("late_us") <= _LATE_BANDS_S[2] * 1_000_000, "3_le_1800s")
        .otherwise("4_gt_1800s")
    )
    b = a.select(late.alias("late_us")).select(band.alias("band"), "late_us")
    tot = b.agg(F.count("*").alias("n_total"))
    return (
        b.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.expr("max(late_us) div 1000000").cast("bigint").alias("max_lateness_s"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_events",
            F.expr("n_events * 10000 div n_total").cast("bigint").alias("share_bps"),
            "max_lateness_s",
        )
        .orderBy("band")
    )


@register(
    "sessionize_native",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), per_sess AS (
  SELECT user_id, sess_id, COUNT(*) AS sess_events,
         date_diff('second', MIN(ts), MAX(ts)) AS sess_seconds
  FROM s GROUP BY user_id, sess_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(sess_events) AS BIGINT) AS n_events,
       MAX(sess_events) AS max_session_events,
       MAX(sess_seconds) AS max_session_seconds
FROM per_sess GROUP BY user_id ORDER BY user_id
""",
    doc=(
        "Sessionization via Spark's NATIVE session_window operator — "
        "the same contract as `sessionize` (same oracle SQL), proving "
        "the engine's two session formulations agree exactly: "
        "F.session_window merges BOUNDARY-INCLUSIVE (a window starting "
        "exactly at the previous session's end joins it — verified "
        "empirically: gap+1 merged a gap-long jump), so over second-"
        "truncated timestamps a gap of exactly "
        f"{SESSION_GAP_S} s reproduces the contract's diff <= "
        f"{SESSION_GAP_S} s membership — pinned by the shared oracle. This is the formulation that carries UNCHANGED into "
        "Structured Streaming (session_window works on a stream with "
        "a watermark; the lag/running-sum form does not), so its "
        "batch parity here is the correctness basis for the streaming "
        "session path (SURVEY §2.H)."
    ),
)
def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(
            "cast(unix_micros(cast(ts as timestamp)) div 1000000 as timestamp)"
        ).alias("ts2"),
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("tse"),
    )
    per_sess = e.groupBy(
        "user_id", F.session_window("ts2", f"{SESSION_GAP_S} seconds")
    ).agg(
        F.count("*").alias("sess_events"),
        (F.max("tse") - F.min("tse")).alias("sess_seconds"),
    )
    return present_sorted(
        per_sess.groupBy("user_id").agg(
            F.count("*").alias("n_sessions"),
            F.sum("sess_events").cast("bigint").alias("n_events"),
            F.max("sess_events").alias("max_session_events"),
            F.max("sess_seconds").alias("max_session_seconds"),
        ),
        "user_id",
    )


# ---------------------------------------------------------------------------
# attribution_first_touch — journey-origin credit assignment.
# ---------------------------------------------------------------------------


@register(
    "attribution_first_touch",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
t AS (
  SELECT user_id, event_type,
         FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY tse, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM e
)
SELECT COALESCE(touch, 'direct') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM t WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
    doc=(
        "First-touch conversion attribution: each purchase credits the "
        "user's EARLIEST prior non-purchase event — the journey-origin "
        "counterpart to attribution_last_touch (acquisition channels "
        "look strong under first-touch, closing channels under "
        "last-touch; running all four models — first/last/linear/"
        "time-decay — and comparing IS the standard analysis). First "
        "touch means journey origin, so no lookback window applies "
        "(deliberate contrast with last_touch's 7-day recency rule); "
        "'direct' = converted with no prior interaction at all. Same "
        "scale shape as the siblings: one user-partitioned ordered "
        "window (the sessionize shuffle), first(ignorenulls) over "
        "preceding rows, no self-join; output is touch-type-"
        "cardinality rows (SURVEY §2.H)."
    ),
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp(F.col("ts")).alias("tse"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tse", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.first(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    t = e.withColumn("touch", touch).where(F.col("event_type") == "purchase")
    return (
        t.select(F.coalesce(F.col("touch"), F.lit("direct")).alias("touch_type"))
        .groupBy("touch_type")
        .agg(F.count("*").cast("bigint").alias("n_purchases"))
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# new_vs_returning_daily — acquisition-vs-retention daily split.
# ---------------------------------------------------------------------------


@register(
    "new_vs_returning_daily",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
fu AS (
  SELECT user_id, MIN(d) AS first_d FROM ud GROUP BY user_id
)
SELECT ud.d AS day,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       CAST(SUM(CASE WHEN ud.d = fu.first_d THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN ud.d = fu.first_d THEN 0 ELSE 1 END) AS BIGINT)
           AS n_returning,
       CAST(SUM(CASE WHEN ud.d = fu.first_d THEN 1 ELSE 0 END) * 10000 // COUNT(*)
            AS BIGINT) AS new_share_bps
FROM ud JOIN fu USING (user_id)
GROUP BY ud.d ORDER BY day
""",
    doc=(
        "Daily new-vs-returning active-user split: each (user, day) "
        "activity row is classified by whether it is that user's "
        "first-ever active day — the acquisition/retention composition "
        "behind every growth dashboard, complementing dau_wau (volume) "
        "and daily_retention (cohort decay). Two shuffles total, both "
        "key-bounded: the (user, day) distinct rollup, then a first-"
        "day min-aggregate joined back ON USER (co-partitioned with "
        "the rollup — AQE plans it off the same exchange) and a day "
        "rollup; all counts exact integers, share in bps "
        "(SURVEY §2.H)."
    ),
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    fu = ud.groupBy("user_id").agg(F.min("d").alias("first_d"))
    is_new = (F.col("d") == F.col("first_d")).cast("bigint")
    return (
        ud.join(fu, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_active"),
            F.sum(is_new).cast("bigint").alias("n_new"),
            F.sum(1 - is_new).cast("bigint").alias("n_returning"),
            F.expr(
                "CAST(SUM(CASE WHEN d = first_d THEN 1 ELSE 0 END) * 10000"
                " div COUNT(*) AS BIGINT)"
            ).alias("new_share_bps"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# rolling_7d_active_users — sliding-window distinct users.
# ---------------------------------------------------------------------------


@register(
    "rolling_7d_active_users",
    headline=True,
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ud),
cov AS (
  SELECT DISTINCT ud.user_id, ud.d + CAST(x.i AS INTEGER) AS day
  FROM ud CROSS JOIN (SELECT UNNEST(range(7)) AS i) x
),
r AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS active_7d
  FROM cov GROUP BY day
),
dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS active_1d FROM ud GROUP BY d)
SELECT r.day, r.active_7d, COALESCE(dau.active_1d, 0) AS active_1d,
       CAST(COALESCE(dau.active_1d, 0) * 10000 // r.active_7d AS BIGINT)
           AS stickiness_bps
FROM r LEFT JOIN dau USING (day), bounds
WHERE r.day >= bounds.lo + 6 AND r.day <= bounds.hi
ORDER BY r.day
""",
    doc=(
        "Rolling 7-day distinct active users per day (+ same-day DAU "
        "and the DAU/WAU-rolling stickiness ratio in bps): the "
        "smoothed engagement trend dashboards actually plot — dau_wau "
        "uses fixed calendar weeks, which saw-tooths at week "
        "boundaries. Distinct counts cannot be summed across a "
        "sliding window, so each (user, day) activity row is exploded "
        "to the 7 window-END days it covers and deduplicated — the "
        "standard scale-out rewrite: cost is a bounded 7x of the "
        "(user, day) rollup (itself << events), all shuffles "
        "key-partitioned, no per-day DISTINCT re-scan of the corpus; "
        "output trimmed to fully-covered days (SURVEY §2.H)."
    ),
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    cov = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "d",
        )
        .select("user_id", F.date_add(F.col("d"), F.col("i")).alias("day"))
        .distinct()
    )
    r = cov.groupBy("day").agg(F.count("*").cast("bigint").alias("active_7d"))
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.count("*").cast("bigint").alias("active_1d")
    )
    # corpus bounds derived from r ITSELF (r10): cov days span exactly
    # [lo, hi+6] by construction (i=0 hits lo, i=6 hits hi+6), so
    # min(r.day) = lo and max(r.day) = hi+6 — a window over the
    # day-rollup (dimension-sized, ~1 row per calendar day) replaces
    # the old third `ud` branch (events scan + distinct shuffle + agg
    # + broadcast) at every scale. The unpartitioned window and the
    # final sort share the same single-partition shuffle of the
    # day-rollup rows (the io.present_sorted argument).
    w = Window.partitionBy()
    return (
        r.join(dau, "day", "left")
        .withColumn("_lo", F.min("day").over(w))
        .withColumn("_hi6", F.max("day").over(w))
        .where(
            (F.col("day") >= F.date_add(F.col("_lo"), 6))
            & (F.col("day") <= F.date_sub(F.col("_hi6"), 6))
        )
        .select(
            "day",
            "active_7d",
            F.coalesce(F.col("active_1d"), F.lit(0)).alias("active_1d"),
            F.expr("COALESCE(active_1d, 0) * 10000 div active_7d")
            .cast("bigint")
            .alias("stickiness_bps"),
        )
        .sortWithinPartitions("day")
    )


# ---------------------------------------------------------------------------
# value_quartiles_by_type — EXACT per-group quartiles, integer-safe.
# ---------------------------------------------------------------------------


@register(
    "value_quartiles_by_type",
    oracle="""
WITH b AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS vc FROM events
),
rk AS (
  SELECT g, vc,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY vc) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM b
),
pick AS (
  SELECT g, MAX(n) AS n,
         MIN(vc) AS vmin, MAX(vc) AS vmax,
         MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN vc END) AS y1,
         MAX(CASE WHEN rn = (n - 1) // 4 + 2 THEN vc END) AS y1p,
         MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 1 THEN vc END) AS y2,
         MAX(CASE WHEN rn = (2 * (n - 1)) // 4 + 2 THEN vc END) AS y2p,
         MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 1 THEN vc END) AS y3,
         MAX(CASE WHEN rn = (3 * (n - 1)) // 4 + 2 THEN vc END) AS y3p
  FROM rk GROUP BY g
)
SELECT g AS event_type, CAST(n AS BIGINT) AS n_events,
       CAST(vmin AS BIGINT) AS min_centi,
       CAST(4 * y1 + ((n - 1) % 4) * (COALESCE(y1p, y1) - y1) AS BIGINT) AS q1_centi_x4,
       CAST(4 * y2 + ((2 * (n - 1)) % 4) * (COALESCE(y2p, y2) - y2) AS BIGINT) AS median_centi_x4,
       CAST(4 * y3 + ((3 * (n - 1)) % 4) * (COALESCE(y3p, y3) - y3) AS BIGINT) AS q3_centi_x4,
       CAST(vmax AS BIGINT) AS max_centi
FROM pick ORDER BY event_type
""",
    doc=(
        "EXACT per-event-type value quartiles with zero float "
        "interpolation: the 2-decimal value column is exact in "
        "centi-units and the quartile positions land on quarter "
        "fractions, so 4*Q is always an integer (iqr_outlier_days "
        "convention, here per group) — the exact companion to "
        "approx_value_quantiles' GK sketches (the documented 100 TB "
        "path; THIS query is the auditor you run on a slice to "
        "certify the sketch). Cost shape: one value-ordered window "
        "per type partition — a distributed sort co-partitioned by "
        "the group key, the unavoidable price of exactness "
        "(SURVEY §2.H)."
    ),
)
def value_quartiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    w = Window.partitionBy("g").orderBy("vc")
    rk = b.select(
        "g",
        "vc",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("g")).alias("n"),
    )

    def at(pos_expr: str) -> F.Column:
        return F.max(F.when(F.expr(f"rn = {pos_expr}"), F.col("vc")))

    pick = rk.groupBy("g").agg(
        F.max("n").alias("n"),
        F.min("vc").alias("vmin"),
        F.max("vc").alias("vmax"),
        at("(n - 1) div 4 + 1").alias("y1"),
        at("(n - 1) div 4 + 2").alias("y1p"),
        at("(2 * (n - 1)) div 4 + 1").alias("y2"),
        at("(2 * (n - 1)) div 4 + 2").alias("y2p"),
        at("(3 * (n - 1)) div 4 + 1").alias("y3"),
        at("(3 * (n - 1)) div 4 + 2").alias("y3p"),
    )
    return pick.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("vmin").cast("bigint").alias("min_centi"),
        F.expr("4 * y1 + ((n - 1) % 4) * (COALESCE(y1p, y1) - y1)")
        .cast("bigint")
        .alias("q1_centi_x4"),
        F.expr("4 * y2 + ((2 * (n - 1)) % 4) * (COALESCE(y2p, y2) - y2)")
        .cast("bigint")
        .alias("median_centi_x4"),
        F.expr("4 * y3 + ((3 * (n - 1)) % 4) * (COALESCE(y3p, y3) - y3)")
        .cast("bigint")
        .alias("q3_centi_x4"),
        F.col("vmax").cast("bigint").alias("max_centi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# ab_srm_check — sample-ratio-mismatch gate for the A/B assignment.
# ---------------------------------------------------------------------------


@register(
    "ab_srm_check",
    oracle="""
WITH u AS (
  SELECT user_id,
         substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arm_a
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM u
)
SELECT n_a, n_b,
       CAST(n_a * 10000 // (n_a + n_b) AS BIGINT) AS share_a_bps,
       CAST((2000000 * CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) + (n_a + n_b))
            // (2 * CAST(n_a + n_b AS HUGEINT)) AS BIGINT) AS chi2_e6,
       10000 * CAST(n_a - n_b AS HUGEINT) * (n_a - n_b)
           > 38415 * CAST(n_a + n_b AS HUGEINT) AS srm_detected
FROM s
""",
    doc=(
        "Sample-ratio-mismatch check on ab_test_lift's deterministic "
        "50/50 hash assignment: chi-square of the observed arm split "
        "against the designed ratio — for a two-arm even split it "
        "collapses to the exact integer form (n_a - n_b)^2 / N, dof=1 "
        "critical 3.8415. THE standard pre-read gate of every "
        "experimentation platform: a significant SRM means the "
        "assignment or logging is broken and the lift number must not "
        "be read (Fabijan et al. 2019 diagnostics practice). One "
        "user rollup, two integers; chi2 ships as the exact half-up "
        "e6 integer and the decision is an integer cross-"
        "multiplication against 38415/10^4 — no double anywhere "
        "(SURVEY §2.H)."
    ),
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.substring(F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1)
            < "8"
        ).alias("arm_a")
    )
    s = u.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.expr("n_a * 10000 div (n_a + n_b)").cast("bigint").alias("share_a_bps"),
        # exact half-up e6 integer + integer cross-multiplied decision
        # (3.8415 = 38415/10^4 exactly) — no double anywhere
        F.expr(
            "CAST((CAST(2000000 AS DECIMAL(38,0)) * (n_a - n_b) * (n_a - n_b)"
            " + (n_a + n_b)) div (CAST(2 AS DECIMAL(38,0)) * (n_a + n_b))"
            " AS BIGINT)"
        ).alias("chi2_e6"),
        F.expr(
            "CAST(10000 AS DECIMAL(38,0)) * (n_a - n_b) * (n_a - n_b)"
            " > CAST(38415 AS DECIMAL(38,0)) * (n_a + n_b)"
        ).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# capture_recapture_users — Chapman population estimate from two halves.
# ---------------------------------------------------------------------------


@register(
    "capture_recapture_users",
    oracle="""
WITH b AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS lo,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS hi
  FROM events
),
u AS (
  SELECT user_id,
         MAX(CASE WHEN 2 * date_diff('second', TIMESTAMP '1970-01-01', ts)
                       < (SELECT lo + hi FROM b) THEN 1 ELSE 0 END) AS s1,
         MAX(CASE WHEN 2 * date_diff('second', TIMESTAMP '1970-01-01', ts)
                       >= (SELECT lo + hi FROM b) THEN 1 ELSE 0 END) AS s2
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(s1) AS BIGINT) AS n1,
         CAST(SUM(s2) AS BIGINT) AS n2,
         CAST(SUM(s1 * s2) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS seen
  FROM u
)
SELECT n1 AS n_first_half, n2 AS n_second_half, m AS n_both, seen AS n_seen,
       CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman_estimate,
       CAST(seen * 10000 // ((n1 + 1) * (n2 + 1) // (m + 1) - 1) AS BIGINT)
           AS coverage_bps
FROM s
""",
    doc=(
        "Chapman capture-recapture estimate of the TOTAL user "
        "population (seen + unseen) from the overlap between first- "
        "and second-half-of-period user sets: N-hat = "
        "(n1+1)(n2+1)/(m+1) - 1 — the ecology mark-recapture "
        "estimator applied to audience sizing (how many users exist "
        "that we never logged?), with the observed-coverage share in "
        "bps. The period midpoint is the exact integer epoch-second "
        "comparison 2*t < lo+hi (no /2 truncation drift); per-user "
        "half-membership flags come off one user rollup and the "
        "estimator is pure integer arithmetic end-to-end "
        "(SURVEY §2.H)."
    ),
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("tse")
    )
    b = ev.agg(
        F.min("tse").alias("lo"), F.max("tse").alias("hi")
    )
    u = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.max(F.when(2 * F.col("tse") < F.col("lo") + F.col("hi"), 1).otherwise(0)).alias("s1"),
            F.max(F.when(2 * F.col("tse") >= F.col("lo") + F.col("hi"), 1).otherwise(0)).alias("s2"),
        )
    )
    s = u.agg(
        F.sum("s1").cast("bigint").alias("n1"),
        F.sum("s2").cast("bigint").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("bigint").alias("m"),
        F.count("*").cast("bigint").alias("seen"),
    )
    return s.select(
        F.col("n1").alias("n_first_half"),
        F.col("n2").alias("n_second_half"),
        F.col("m").alias("n_both"),
        F.col("seen").alias("n_seen"),
        F.expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1")
        .cast("bigint")
        .alias("chapman_estimate"),
        F.expr("seen * 10000 div ((n1 + 1) * (n2 + 1) div (m + 1) - 1)")
        .cast("bigint")
        .alias("coverage_bps"),
    )


# ---------------------------------------------------------------------------
# session_gap_sensitivity — session counts across gap thresholds.
# ---------------------------------------------------------------------------

_GAP_THRESHOLDS_S = (300, 900, 1800, 3600)


@register(
    "session_gap_sensitivity",
    oracle=f"""
WITH e AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse,
         event_id
  FROM events
),
g AS (
  SELECT user_id,
         tse - LAG(tse) OVER (PARTITION BY user_id ORDER BY tse, event_id)
           AS gap
  FROM e
),
t AS (SELECT UNNEST(ARRAY{list(_GAP_THRESHOLDS_S)}) AS thr),
x AS (
  SELECT t.thr,
         CASE WHEN g.gap IS NULL OR g.gap > t.thr THEN 1 ELSE 0 END AS starts
  FROM g CROSS JOIN t
)
SELECT CAST(thr AS BIGINT) AS gap_threshold_s,
       CAST(SUM(starts) AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) * 1000 // SUM(starts) AS BIGINT) AS events_per_session_milli
FROM x GROUP BY thr ORDER BY gap_threshold_s
""",
    doc=(
        "Session-count sensitivity to the inactivity-gap threshold "
        "(5/15/30/60 min): sessionize hardcodes one gap; THIS is the "
        "calibration curve that says whether the session count is "
        "stable around the chosen value or sitting on a cliff (the "
        "parameter-sensitivity discipline near_dup_rate_curve applies "
        "to dedup thresholds, applied to sessionization). ONE "
        "user-keyed ordered window computes each event's gap once; "
        "the 4 thresholds explode off that gap column and collapse "
        "via map-side partial aggregation — no re-sort per threshold "
        "(SURVEY §2.H)."
    ),
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("tse"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    g = e.select((F.col("tse") - F.lag("tse").over(w)).alias("gap"))
    x = g.select(
        "gap",
        F.explode(F.array(*[F.lit(t) for t in _GAP_THRESHOLDS_S])).alias("thr"),
    ).select(
        "thr",
        F.when(F.col("gap").isNull() | (F.col("gap") > F.col("thr")), 1)
        .otherwise(0)
        .alias("starts"),
    )
    return (
        x.groupBy("thr")
        .agg(
            F.sum("starts").cast("bigint").alias("n_sessions"),
            F.count("*").cast("bigint").alias("n_events"),
            F.expr("COUNT(*) * 1000 div SUM(starts)")
            .cast("bigint")
            .alias("events_per_session_milli"),
        )
        .select(
            F.col("thr").cast("bigint").alias("gap_threshold_s"),
            "n_sessions",
            "n_events",
            "events_per_session_milli",
        )
        .orderBy("gap_threshold_s")
    )


# ---------------------------------------------------------------------------
# wasserstein_value_drift — exact 1-D earth-mover drift between halves.
# ---------------------------------------------------------------------------


@register(
    "wasserstein_value_drift",
    oracle="""
WITH b AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS lo,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS hi
  FROM events
),
v AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
         CASE WHEN 2 * date_diff('second', TIMESTAMP '1970-01-01', ts)
                   < (SELECT lo + hi FROM b) THEN 1 ELSE 0 END AS h1
  FROM events
),
g AS (
  SELECT vc, CAST(SUM(h1) AS BIGINT) AS c1,
         CAST(SUM(1 - h1) AS BIGINT) AS c2
  FROM v GROUP BY vc
),
w AS (
  SELECT vc,
         SUM(c1) OVER (ORDER BY vc) AS cum1,
         SUM(c2) OVER (ORDER BY vc) AS cum2,
         LEAD(vc) OVER (ORDER BY vc) - vc AS gap
  FROM g
),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM g)
SELECT tot.n1 AS n_first_half, tot.n2 AS n_second_half,
       ROUND(CAST(SUM(CAST(ABS(w.cum1 * tot.n2 - w.cum2 * tot.n1)
                           AS DECIMAL(38,0)) * w.gap) AS DOUBLE)
             / (CAST(tot.n1 AS DOUBLE) * tot.n2 * 100.0), 6) AS w1_distance
FROM w CROSS JOIN tot
WHERE w.gap IS NOT NULL
GROUP BY tot.n1, tot.n2
""",
    doc=(
        "EXACT 1-D Wasserstein (earth-mover) distance between the "
        "first- and second-half `value` distributions: the integral "
        "of |ECDF1 - ECDF2| over the value axis — value_ks_drift's "
        "sup-norm D says IF the distributions differ, W1 says by HOW "
        "MUCH in value units (the metric that moves smoothly under "
        "mean shifts and is the standard drift magnitude for "
        "monitoring). Centi-unit values make every term exact: the "
        "integrand is the integer |cum1*n2 - cum2*n1| cross-product "
        "times the integer value gap, summed in DECIMAL(38,0), with "
        "ONE double division at the end; the only ordered pass is "
        "O(distinct values) — bounded at ~56k forever for a "
        "2-decimal bounded metric (SURVEY §2.H)."
    ),
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        F.unix_timestamp("ts").alias("tse"),
    )
    b = ev.agg(F.min("tse").alias("lo"), F.max("tse").alias("hi"))
    v = ev.crossJoin(F.broadcast(b)).select(
        "vc",
        F.when(2 * F.col("tse") < F.col("lo") + F.col("hi"), 1)
        .otherwise(0)
        .alias("h1"),
    )
    g = v.groupBy("vc").agg(
        F.sum("h1").cast("bigint").alias("c1"),
        F.sum(1 - F.col("h1")).cast("bigint").alias("c2"),
    )
    wo = Window.orderBy("vc")
    w = g.select(
        "vc",
        F.sum("c1").over(wo).alias("cum1"),
        F.sum("c2").over(wo).alias("cum2"),
        (F.lead("vc").over(wo) - F.col("vc")).alias("gap"),
    )
    tot = g.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    return (
        w.where(F.col("gap").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.round(
                F.sum(
                    F.abs(
                        F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")
                    ).cast("decimal(38,0)")
                    * F.col("gap")
                ).cast("double")
                / (F.col("n1").cast("double") * F.col("n2") * 100.0),
                6,
            ).alias("w1_distance")
        )
        .select(
            F.col("n1").alias("n_first_half"),
            F.col("n2").alias("n_second_half"),
            "w1_distance",
        )
    )


# ---------------------------------------------------------------------------
# quantile_drift_table — decile-by-decile drift between period halves.
# ---------------------------------------------------------------------------


@register(
    "quantile_drift_table",
    oracle="""
WITH b AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS lo,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS hi
  FROM events
),
v AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS vc,
         CASE WHEN 2 * date_diff('second', TIMESTAMP '1970-01-01', ts)
                   < (SELECT lo + hi FROM b) THEN 1 ELSE 0 END AS h1
  FROM events
),
rk AS (
  SELECT vc, h1,
         ROW_NUMBER() OVER (PARTITION BY h1 ORDER BY vc) AS rn,
         COUNT(*) OVER (PARTITION BY h1) AS n
  FROM v
),
d AS (SELECT UNNEST(range(1, 10)) AS dec),
pick AS (
  SELECT d.dec, rk.h1,
         MAX(CASE WHEN rk.rn = (d.dec * (rk.n - 1)) // 10 + 1 THEN rk.vc END) AS ylo,
         MAX(CASE WHEN rk.rn = (d.dec * (rk.n - 1)) // 10 + 2 THEN rk.vc END) AS yhi,
         MAX((d.dec * (rk.n - 1)) % 10) AS frac10
  FROM rk CROSS JOIN d GROUP BY d.dec, rk.h1
),
q AS (
  SELECT dec, h1,
         10 * ylo + frac10 * (COALESCE(yhi, ylo) - ylo) AS q_x10
  FROM pick
)
SELECT CAST(a.dec * 10 AS BIGINT) AS percentile,
       CAST(a.q_x10 AS BIGINT) AS first_half_centi_x10,
       CAST(bq.q_x10 AS BIGINT) AS second_half_centi_x10,
       CAST(bq.q_x10 - a.q_x10 AS BIGINT) AS drift_centi_x10
FROM q a JOIN q bq ON a.dec = bq.dec AND a.h1 = 1 AND bq.h1 = 0
ORDER BY percentile
""",
    doc=(
        "Decile-by-decile drift table between period halves: exact "
        "interpolated p10..p90 of `value` for each half and their "
        "gaps — WHERE in the distribution the drift lives (tail-only "
        "drift means pricing outliers; uniform shift means mix "
        "change), the location detail behind wasserstein_value_drift's "
        "single magnitude and value_ks_drift's single sup gap. "
        "Decile positions interpolate on tenth fractions over "
        "centi-unit integers, so 10*Q is EXACT (the "
        "value_quartiles_by_type discipline at decile granularity) — "
        "no float percentile knife edge; one value-ordered window "
        "per half (SURVEY §2.H)."
    ),
)
def quantile_drift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        F.unix_timestamp("ts").alias("tse"),
    )
    b = ev.agg(F.min("tse").alias("lo"), F.max("tse").alias("hi"))
    v = ev.crossJoin(F.broadcast(b)).select(
        "vc",
        F.when(2 * F.col("tse") < F.col("lo") + F.col("hi"), 1)
        .otherwise(0)
        .alias("h1"),
    )
    w = Window.partitionBy("h1").orderBy("vc")
    rk = v.select(
        "vc",
        "h1",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("h1")).alias("n"),
    )
    d = rk.select(
        "vc",
        "h1",
        "rn",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("dec"),
    )
    pick = d.groupBy("dec", "h1").agg(
        F.max(
            F.when(F.expr("rn = (dec * (n - 1)) div 10 + 1"), F.col("vc"))
        ).alias("ylo"),
        F.max(
            F.when(F.expr("rn = (dec * (n - 1)) div 10 + 2"), F.col("vc"))
        ).alias("yhi"),
        F.max(F.expr("(dec * (n - 1)) % 10")).alias("frac10"),
    )
    q = pick.select(
        "dec",
        "h1",
        F.expr("10 * ylo + frac10 * (COALESCE(yhi, ylo) - ylo)").alias("q_x10"),
    )
    a = q.where(F.col("h1") == 1).select("dec", F.col("q_x10").alias("qa"))
    b2 = q.where(F.col("h1") == 0).select("dec", F.col("q_x10").alias("qb"))
    return (
        a.join(b2, "dec")
        .select(
            (F.col("dec") * 10).cast("bigint").alias("percentile"),
            F.col("qa").cast("bigint").alias("first_half_centi_x10"),
            F.col("qb").cast("bigint").alias("second_half_centi_x10"),
            (F.col("qb") - F.col("qa")).cast("bigint").alias("drift_centi_x10"),
        )
        .orderBy("percentile")
    )


# ---------------------------------------------------------------------------
# ab_power_mde — minimum detectable effect for the A/B setup.
# ---------------------------------------------------------------------------


@register(
    "ab_power_mde",
    oracle="""
WITH u AS (
  SELECT user_id,
         substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS arm_a,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN NOT arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM u
)
SELECT n_a, n_b,
       CAST(conv * 10000 // (n_a + n_b) AS BIGINT) AS base_rate_bps,
       CAST((7848962560000 * CAST(conv AS HUGEINT) * (n_a + n_b - conv))
            // (CAST(n_a + n_b AS HUGEINT) * n_a * n_b) AS BIGINT) AS mde_sq_e12,
       CAST((784896256 * CAST(n_a + n_b - conv AS HUGEINT) * (n_a + n_b))
            // (CAST(conv AS HUGEINT) * n_a * n_b) AS BIGINT) AS mde_rel_sq_e8
FROM s
""",
    doc=(
        "Minimum detectable effect for ab_test_lift's current sample: "
        "the smallest absolute (and relative, in bps) conversion-rate "
        "lift the two-proportion z-test can detect at alpha=0.05 "
        "two-sided with 80% power (z 1.96 + 0.8416), given the "
        "observed arm sizes and pooled base rate — the pre-experiment "
        "honesty check every platform pairs with the lift report: if "
        "the effect you hope for is below the MDE, the test cannot "
        "see it and running it is theater. Same one-scan user rollup "
        "as ab_test_lift/ab_srm_check; fully integer presentation "
        "(the r9 ks_stat red killed the unrounded-IEEE-tree "
        "convention): the MDE ships SQUARED in exact integer units — "
        "mde_sq_e12 = (2.8016^2*10^12 * conv*(N-conv)) div (N*na*nb) "
        "and mde_rel_sq_e8 = (2.8016^2*10^8 * (N-conv)*N) div "
        "(conv*na*nb), both truncating HUGEINT/DECIMAL(38,0) divs off "
        "the exact (na, nb, conv) integers (2.8016^2 = 7.84896256 "
        "exactly, an integer in e8 units); sqrt is the caller's "
        "last-mile op (SURVEY §2.H)."
    ),
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 1
            )
            < "8"
        ).alias("arm_a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    )
    s = u.agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    return s.select(
        "n_a",
        "n_b",
        F.expr("conv * 10000 div (n_a + n_b)").cast("bigint").alias("base_rate_bps"),
        F.expr(
            "CAST((CAST(7848962560000 AS DECIMAL(38,0)) * conv * (n_a + n_b - conv))"
            " div (CAST(n_a + n_b AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)"
        ).alias("mde_sq_e12"),
        F.expr(
            "CAST((CAST(784896256 AS DECIMAL(38,0)) * (n_a + n_b - conv) * (n_a + n_b))"
            " div (CAST(conv AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)"
        ).alias("mde_rel_sq_e8"),
    )


# ---------------------------------------------------------------------------
# cramer_von_mises_drift — quadratic-EDF drift test (KS's companion).
# ---------------------------------------------------------------------------


@register(
    "cramer_von_mises_drift",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         date_diff('second', TIMESTAMP '1970-01-01', ts) AS tse
  FROM events
),
mid AS (SELECT (MIN(tse) + MAX(tse)) // 2 AS m FROM e),
h AS (
  SELECT event_type, value,
         CASE WHEN tse <= mid.m THEN 0 ELSE 1 END AS half
  FROM e, mid
),
c AS (
  SELECT event_type, value,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS b
  FROM h GROUP BY event_type, value
),
n AS (
  SELECT event_type, SUM(a) AS n1, SUM(b) AS n2 FROM c GROUP BY event_type
),
cum AS (
  SELECT c.event_type, c.a + c.b AS w,
         SUM(a) OVER (PARTITION BY c.event_type ORDER BY value) AS ca,
         SUM(b) OVER (PARTITION BY c.event_type ORDER BY value) AS cb,
         n.n1, n.n2
  FROM c JOIN n USING (event_type)
)
SELECT event_type,
       CAST(MAX(n1) AS BIGINT) AS n_first,
       CAST(MAX(n2) AS BIGINT) AS n_second,
       CAST(SUM(CAST(w AS HUGEINT) * (ca * n2 - cb * n1) * (ca * n2 - cb * n1))
              * 1000000000
            // (CAST(MAX(n1) + MAX(n2) AS HUGEINT)
                * (MAX(n1) * MAX(n1)) * (MAX(n2) * MAX(n2))) AS BIGINT)
         AS cvm_e9
FROM cum
WHERE n1 > 0 AND n2 > 0
GROUP BY event_type ORDER BY event_type
""",
    doc=(
        "Cramér–von Mises two-sample drift test per event type — the "
        "quadratic companion of value_ks_drift: where KS reports only "
        "the WORST CDF gap, CvM integrates the SQUARED gap over the "
        "whole support, so broad mild drift that never produces one "
        "large gap still scores (the omnibus alarm). Same "
        "first/second time-half split; statistic = sum over pooled "
        "support of w*(ca*n2 - cb*n1)^2 div (N*n1^2*n2^2), entirely "
        "integer via one DECIMAL(38,0) cross-multiplied sum (exact "
        "while n_per_type <= ~3e7; beyond that rescale the e9 unit — "
        "BOUND documented). One (type, value) count aggregate + one "
        "support-bounded per-type cumulative window, midpoint a "
        "1-row broadcast; never a row-bounded sort (SURVEY §2.L)."
    ),
)
def cramer_von_mises_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", "value", F.unix_timestamp(F.col("ts")).alias("tse"))
    mid = e.agg(F.expr("(min(tse) + max(tse)) div 2").alias("m"))
    h = e.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "value",
        F.when(F.col("tse") <= F.col("m"), 0).otherwise(1).alias("half"),
    )
    c = h.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b"),
    )
    n = c.groupBy("event_type").agg(F.sum("a").alias("n1"), F.sum("b").alias("n2"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = c.join(F.broadcast(n), "event_type").select(
        "event_type",
        (F.col("a") + F.col("b")).alias("w"),
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        "n1",
        "n2",
    )
    return (
        cum.where((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("event_type")
        .agg(
            F.max("n1").cast("bigint").alias("n_first"),
            F.max("n2").cast("bigint").alias("n_second"),
            F.expr(
                "CAST((sum(CAST(w AS DECIMAL(38,0)) * (ca * n2 - cb * n1)"
                " * (ca * n2 - cb * n1)) * 1000000000)"
                " div (CAST(max(n1) + max(n2) AS DECIMAL(38,0))"
                " * (max(n1) * max(n1)) * (max(n2) * max(n2))) AS BIGINT)"
            ).alias("cvm_e9"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# energy_distance_binned — binned two-sample energy distance.
# ---------------------------------------------------------------------------

_ENERGY_BIN_CENTS = 1000  # $10 bins over exact integer cents


@register(
    "energy_distance_binned",
    oracle=f"""
WITH ct AS (
  SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1
),
top2 AS (
  SELECT event_type, ROW_NUMBER() OVER (ORDER BY c DESC, event_type) AS rk
  FROM ct QUALIFY rk <= 2
),
h AS (
  SELECT t.rk, CAST(ROUND(e.value * 100) AS BIGINT) // {_ENERGY_BIN_CENTS} AS bin,
         COUNT(*) AS n
  FROM events e JOIN top2 t USING (event_type)
  GROUP BY 1, 2
),
s AS (
  SELECT h1.rk AS r1, h2.rk AS r2,
         SUM(CAST(h1.n AS HUGEINT) * h2.n * ABS(h1.bin - h2.bin)) AS sdist
  FROM h h1, h h2
  GROUP BY 1, 2
),
n AS (SELECT rk, SUM(n) AS cnt FROM h GROUP BY rk),
terms AS (
  SELECT
    (SELECT event_type FROM top2 WHERE rk = 1) AS type_a,
    (SELECT event_type FROM top2 WHERE rk = 2) AS type_b,
    (SELECT CAST(cnt AS BIGINT) FROM n WHERE rk = 1) AS n_a,
    (SELECT CAST(cnt AS BIGINT) FROM n WHERE rk = 2) AS n_b,
    (SELECT sdist FROM s WHERE r1 = 1 AND r2 = 2) AS sab,
    (SELECT sdist FROM s WHERE r1 = 1 AND r2 = 1) AS saa,
    (SELECT sdist FROM s WHERE r1 = 2 AND r2 = 2) AS sbb
)
SELECT type_a, type_b, n_a, n_b,
       CAST((2000000::HUGEINT * sab) // (n_a::HUGEINT * n_b) AS BIGINT)
         AS t_cross_e6,
       CAST((1000000::HUGEINT * saa) // (n_a::HUGEINT * n_a) AS BIGINT)
         AS t_within_a_e6,
       CAST((1000000::HUGEINT * sbb) // (n_b::HUGEINT * n_b) AS BIGINT)
         AS t_within_b_e6,
       CAST((2000000::HUGEINT * sab) // (n_a::HUGEINT * n_b)
            - (1000000::HUGEINT * saa) // (n_a::HUGEINT * n_a)
            - (1000000::HUGEINT * sbb) // (n_b::HUGEINT * n_b) AS BIGINT)
         AS energy_e6
FROM terms
""",
    doc=(
        "Two-sample ENERGY DISTANCE between the two highest-volume "
        "event types' value distributions, on exact $10 bins: "
        "E = 2*mean|X-Y| - mean|X-X'| - mean|Y-Y'| (Székely's "
        "metric — zero iff the binned distributions are equal; "
        "unlike KS/CvM it is a true metric usable as a loss, and "
        "unlike mannwhitney it sees shape, not just location). "
        "Exactness: values digitize to integer cents (the "
        "ROUND(value*100) input convention), bins by integer div, "
        "all pair masses n_b*m_b'*|b-b'| summed in DECIMAL(38,0); "
        "each mean term is ONE exact truncating division to e6 bin "
        "units, so every output is engine-exact BIGINT at any "
        "corpus size. Scale shape: the corpus collapses to a "
        "support-bounded (type, bin) histogram (ONE map-side-"
        "combined agg); the pair enumeration is histogram x "
        "histogram (dimension-sized, reviewed BNL) — never row x "
        "row (SURVEY §2.L)."
    ),
)
def energy_distance_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ct = ev.groupBy("event_type").agg(F.count("*").alias("c"))
    rw = Window.orderBy(F.desc("c"), "event_type")
    top2 = (
        ct.select("event_type", F.row_number().over(rw).alias("rk"))
        .where(F.col("rk") <= 2)
    )
    h = (
        ev.join(F.broadcast(top2), "event_type")
        .select(
            "rk",
            F.expr(
                f"CAST(ROUND(value * 100) AS BIGINT) div {_ENERGY_BIN_CENTS}"
            ).alias("bin"),
        )
        .groupBy("rk", "bin")
        .agg(F.count("*").alias("n"))
    )
    h1 = h.select(
        F.col("rk").alias("r1"), F.col("bin").alias("b1"), F.col("n").alias("m1")
    )
    h2 = h.select(
        F.col("rk").alias("r2"), F.col("bin").alias("b2"), F.col("n").alias("m2")
    )
    s = (
        h1.crossJoin(F.broadcast(h2))
        .groupBy("r1", "r2")
        .agg(
            F.sum(
                F.expr("CAST(m1 AS DECIMAL(38,0)) * m2 * abs(b1 - b2)")
            ).alias("sdist")
        )
    )
    n = h.groupBy("rk").agg(F.sum("n").cast("bigint").alias("cnt"))
    wide = (
        s.join(F.broadcast(n.select(F.col("rk").alias("r1"), F.col("cnt").alias("n1"))), "r1")
        .join(F.broadcast(n.select(F.col("rk").alias("r2"), F.col("cnt").alias("n2"))), "r2")
        .join(
            F.broadcast(top2.select(F.col("rk").alias("r1"), F.col("event_type").alias("t1"))),
            "r1",
        )
        .join(
            F.broadcast(top2.select(F.col("rk").alias("r2"), F.col("event_type").alias("t2"))),
            "r2",
        )
    )
    terms = wide.agg(
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 2), F.col("t1"))).alias(
            "type_a"
        ),
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 2), F.col("t2"))).alias(
            "type_b"
        ),
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 2), F.col("n1")))
        .cast("bigint")
        .alias("n_a"),
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 2), F.col("n2")))
        .cast("bigint")
        .alias("n_b"),
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 2), F.col("sdist"))).alias(
            "sab"
        ),
        F.max(F.when((F.col("r1") == 1) & (F.col("r2") == 1), F.col("sdist"))).alias(
            "saa"
        ),
        F.max(F.when((F.col("r1") == 2) & (F.col("r2") == 2), F.col("sdist"))).alias(
            "sbb"
        ),
    )
    t_cross = (
        "(CAST(2000000 AS DECIMAL(38,0)) * sab)"
        " div (CAST(n_a AS DECIMAL(38,0)) * n_b)"
    )
    t_wa = (
        "(CAST(1000000 AS DECIMAL(38,0)) * saa)"
        " div (CAST(n_a AS DECIMAL(38,0)) * n_a)"
    )
    t_wb = (
        "(CAST(1000000 AS DECIMAL(38,0)) * sbb)"
        " div (CAST(n_b AS DECIMAL(38,0)) * n_b)"
    )
    return terms.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.expr(f"CAST({t_cross} AS BIGINT)").alias("t_cross_e6"),
        F.expr(f"CAST({t_wa} AS BIGINT)").alias("t_within_a_e6"),
        F.expr(f"CAST({t_wb} AS BIGINT)").alias("t_within_b_e6"),
        F.expr(
            f"CAST(CAST({t_cross} AS BIGINT) - CAST({t_wa} AS BIGINT)"
            f" - CAST({t_wb} AS BIGINT) AS BIGINT)"
        ).alias("energy_e6"),
    )
