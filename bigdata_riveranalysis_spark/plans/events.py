"""Event-stream analytics over the ``events`` table (batch form).

The reference's streaming job is a parse-and-print passthrough
(reference streaming/spark_processor.py:37-47). The engine keeps its
core operator — JSON parse against an explicit schema (SURVEY.md §2a
row 3) — and adds the analytics an event pipeline actually needs:
time-bucketed aggregation, sessionization, as-of correlation, and
pivoting. The streaming formulations of the same logic live in
``bigdata_riveranalysis_spark.streaming``; these batch twins are what
the DuckDB oracle can difference-test (SURVEY.md §5 watch-list #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_riveranalysis_spark.functions import exact as EX
from bigdata_riveranalysis_spark.plans import scale as SC
from bigdata_riveranalysis_spark.plans.registry import query
from bigdata_riveranalysis_spark.sources.tables import load_table

#: Explicit schema for the ``props`` JSON payload — declared, not
#: inferred, matching the reference's fixed-schema philosophy
#: (reference streaming/spark_processor.py:18-24).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min session gap, microseconds


@query(
    "events_json_extract",
    oracle=f"""
    SELECT event_type,
           count(*)                                                    AS n_events,
           {EX.avg_round4_sql("CAST(json_extract_string(props, '$.k') AS BIGINT)", 0)} AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT))      AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse with explicit schema → typed aggregation.

    The engine's version of the reference's from_json stage
    (reference streaming/spark_processor.py:38), with the parsed
    field actually used. from_json with a declared StructType prunes
    to only the referenced field (OptimizeJsonExprs).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), PROPS_SCHEMA)["k"]
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        EX.avg_round4(F.col("k").cast("long"), 0).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "events_time_buckets",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*)              AS n_events,
           {EX.sum_round4_sql(EX.cents_sql('value'), 2)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day time buckets (batch twin of the streaming window agg).

    Scale: time-bucket keys are low-cardinality per day — map-side
    combine means the shuffle carries O(days × types) rows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), EX.sum_round4(EX.cents("value"), 2).alias("total_value"))
    )


@query(
    "events_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts, value,
               -- ORDER BY (ts, event_id): ties on ts within a user exist in the
               -- corpus; without the unique trailing key the cumulative sum is
               -- engine-order-dependent at a tie spanning a session boundary
               -- (SURVEY.md watch-list #4; VERDICT r1 'What's wrong' #1).
               -- CAST: DuckDB sums integers to HUGEINT (int128); Spark emits
               -- BIGINT — strict hashers see different types without the cast.
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*)             AS n_events,
           {EX.sum_round4_sql(EX.cents_sql('value'), 2)} AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → session boundaries.

    Classic lag + cumulative-sum pattern (batch twin of streaming
    ``session_window``). Gap arithmetic is integer microseconds so
    the oracle comparison is exact.

    The ``__spark_entry__.queries()`` contract forbids removing a
    declared query (a disappeared name is a regression regardless of
    speed), so the registry sits at the 150 cap with both sessionizers
    declared (ceil(150/50) = 3 keeps the staleness bound exact).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > SESSION_GAP_US), 1).otherwise(0),
    )
    # (ts, event_id) ordering — event_id is the unique tie-break; ordering by
    # ts alone makes the session id at a same-ts boundary depend on internal
    # row order (watch-list #4).
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        flagged.withColumn("session_id", F.sum("new_session").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count("*").alias("n_events"),
            EX.sum_round4(EX.cents("value"), 2).alias("session_value"),
        )
    )


@query(
    "events_asof_purchase_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id  AS user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS us_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent prior click.

    Spark has no native ASOF JOIN (SURVEY.md §2b joins row); the
    engine expresses it as a merged-stream window carry-forward:
    union both event kinds, order by (ts, event_type) per user —
    'click' < 'purchase' sorts clicks first at equal timestamps,
    matching the oracle's `>=` as-of bound — and carry the last click
    timestamp forward with last(ignorenulls). One shuffle on user_id;
    no range-join explosion, skew-safe, works at any SF.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.unix_micros(F.col("ts")))
    with_last = ev.withColumn("last_click_us", F.last(click_ts, ignorenulls=True).over(w))
    return (
        with_last.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            (F.unix_micros(F.col("ts")) - F.col("last_click_us")).alias("us_since_click"),
        )
    )


@query(
    "events_pivot_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           -- count(*) FILTER yields BIGINT; sum(CASE...) would be HUGEINT
           -- (int128) in DuckDB, which canonicalizes differently from Spark's
           -- BIGINT in strict hashers (VERDICT r1 'What's wrong' #2).
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events
    GROUP BY 1
    """,
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts, one column per event type.

    Explicit pivot value list → single-pass plan (no extra job to
    discover distinct values), which also fixes the output schema —
    required at scale and for a stable driver contract.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .fillna(0, subset=list(EVENT_TYPES))
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
        SELECT user_id,
               min(ts) FILTER (WHERE event_type = 'view') AS t_view
        FROM events GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id,
               min(e.ts) FILTER (WHERE e.event_type = 'click'
                                 AND e.ts >= v.t_view) AS t_click,
               min(v.t_view) AS t_view
        FROM events e JOIN v USING (user_id) GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id,
               min(e.ts) FILTER (WHERE e.event_type = 'purchase'
                                 AND e.ts >= c.t_click) AS t_purchase,
               min(c.t_view) AS t_view, min(c.t_click) AS t_click
        FROM events e JOIN c USING (user_id) GROUP BY e.user_id
    )
    SELECT count(*)          AS n_users,
           count(t_view)     AS n_view,
           count(t_click)    AS n_view_click,
           count(t_purchase) AS n_full_funnel,
           floor((20000 * count(t_purchase) + count(*)) / (2 * count(*)))
               / 10000.0     AS full_rate
    FROM p
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user
    advances a stage only with an event at-or-after their previous
    stage's timestamp (first view, then first click ≥ that view, then
    first purchase ≥ that click) — the product-analytics staple the
    reference's event pipeline feeds but never computes.

    Stage timestamps chain through cascading conditional-min
    aggregations: each pass needs the previous stage's per-user time,
    so the dependency depth (3 stages) fixes the pass count — but NOT
    the join cost: every groupBy and join keys on user_id. At bench
    scale AQE broadcasts the tiny per-user stage tables (observed:
    BroadcastHashJoin ×2 — no extra full-data shuffle); at 100 TB,
    where per-user rows outgrow broadcast, all operators share the
    user_id hash partitioning so the fact side's Exchange is built
    once and reused across the cascade. A NULL stage time
    never advances (NULL-propagating compare), so funnel counts are
    monotone by construction. All outputs are integer counts plus one
    exact half-up ratio — engine-exact.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ts, et = F.col("ts"), F.col("event_type")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(et == "view", ts)).alias("t_view")
    )
    c = (
        ev.join(v, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(F.when((et == "click") & (ts >= F.col("t_view")), ts)).alias("t_click"),
            F.min("t_view").alias("t_view"),
        )
    )
    p = (
        ev.join(c, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(F.when((et == "purchase") & (ts >= F.col("t_click")), ts)).alias(
                "t_purchase"
            ),
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
        )
    )
    n, full = F.count("*"), F.count("t_purchase")
    return p.agg(
        n.alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        full.alias("n_full_funnel"),
        (F.floor((F.lit(20000) * full + n) / (F.lit(2) * n)) / F.lit(10000.0)).alias(
            "full_rate"
        ),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH aw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    c AS (
        SELECT user_id, min(w) AS cohort FROM aw GROUP BY user_id
    )
    SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
           date_diff('day', c.cohort, aw.w) // 7 AS weeks_since,
           count(*) AS n_active_users
    FROM aw JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week
    (their cohort), counted in each subsequent week they return —
    the triangle chart behind every retention dashboard. Weekly
    grain: the fixture clickstream spans ~one month, so weeks give a
    real matrix where months would collapse to one cell; the grain
    is one date_trunc argument either way.

    The week-activity relation is deduplicated FIRST (distinct
    (user, week) — partial-aggregated map-side, so the shuffle
    carries at most users × weeks rows, not raw events), and the
    cohort table derives from that same small relation, not from a
    second scan of the fact table. The cohort join keys on user_id
    against a one-row-per-user table — broadcast at dashboard scales,
    shuffle-join with exchange reuse beyond. weeks_since is exact
    integer day arithmetic on week-start timestamps (both engines
    truncate weeks to Monday; the day delta is an exact multiple
    of 7).
    """
    ev = load_table(spark, sf_dir, "events")
    aw = ev.select("user_id", F.date_trunc("week", "ts").alias("w")).distinct()
    c = aw.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        aw.join(c, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff("w", "cohort") / 7).cast("long").alias("weeks_since"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@query(
    "events_pareto_users",
    oracle=f"""
    WITH t AS (
        SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS v
        FROM events GROUP BY user_id
    ),
    o AS (
        SELECT user_id, v,
               sum(v) OVER (ORDER BY v DESC, user_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(v) OVER () AS tot,
               row_number() OVER (ORDER BY v DESC, user_id) AS rnk
        FROM t
    )
    SELECT user_id, rnk,
           round(v / 100.0, 4)   AS total_value,
           {EX.ratio_round4_sql("cum", "tot", 0)} AS cum_share,
           ((cum - v) * 5 < tot * 4) AS in_top80
    FROM o
    """,
)
def events_pareto_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC contribution analysis: users ranked by total event
    value with cumulative share and an in_top80 flag (users whose
    cumulative share BEFORE them is under 80% — i.e. the head that
    delivers the first 80% of value, whale-watching's "which 20% of
    users matter").

    The 80% membership test is pure integer cross-multiplication over
    exact cent sums ((cum−v)·5 < tot·4), so the flag cannot flip on
    float rounding; the reported shares are single-division doubles —
    identical op trees on both engines. Scale (rewritten per VERDICT
    r5 #3): rank, running sum, and grand total all come from ONE
    scale.two_level_prefix pass — range-banded per-band windows plus
    a P-row offset table — so no unpartitioned window anywhere even
    at billions of users; the oracle still runs the literal global
    windows, proving the banded rewrite value-identical.
    """
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("user_id").agg(F.sum(EX.cents("value")).alias("v"))
    o = SC.two_level_prefix(t, [F.desc("v"), F.asc("user_id")], sum_cols=("v",))
    return o.select(
        "user_id",
        # long, NOT int (ADVICE r6): an int rank overflows past 2^31
        # users — the cardinality the banded rewrite was built for;
        # the oracle's row_number() is BIGINT, so types align too.
        F.col("_rk").alias("rnk"),
        F.round(F.col("v") / 100.0, 4).alias("total_value"),
        EX.ratio_round4(F.col("_cum_v"), F.col("_tot_v"), 0).alias("cum_share"),
        ((F.col("_cum_v") - F.col("v")) * 5 < F.col("_tot_v") * 4).alias("in_top80"),
    )


@query(
    "events_user_state_history",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type AS state, ts, event_id,
               lag(event_type) OVER w AS prev_state
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
        SELECT user_id, state, ts AS valid_from, event_id
        FROM s WHERE prev_state IS NULL OR state <> prev_state
    )
    SELECT user_id, state,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(valid_from) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def events_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build from an event log: per user, collapse
    consecutive equal states into validity intervals [valid_from,
    valid_to) with an is_current flag on the open interval — the
    slowly-changing-dimension table every warehouse derives from a
    change stream, and the temporal-join input for "state as of t"
    lookups (events_asof_purchase_click's sibling).

    Change detection (lag ≠ current) and interval closing (lead of
    the next change's start) are two windows over the SAME
    (user_id, (ts, event_id)) partitioning — one shuffle, Spark
    reuses the sort. The (ts, event_id) tie-break rules same-
    timestamp changes deterministic on both engines; sub-second
    timestamps format at second grain identically because both
    engines truncate (strftime/date_format drop fractional seconds,
    they don't round). Scale: partitioned windows only — millions of
    users in parallel, no global anything.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_state"),
    )
    chg = s.filter(
        F.col("prev_state").isNull() | (F.col("state") != F.col("prev_state"))
    ).select("user_id", "state", F.col("ts").alias("valid_from"), "event_id")
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    nxt = F.lead("valid_from").over(w2)
    return chg.select(
        "user_id",
        "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# r8: time-RANGE frames, exact mode, activity bitmaps, cumulative distincts
# ---------------------------------------------------------------------------


@query(
    "events_rolling_1h_range",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS sum_value_c
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_1h_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based rolling window — every event's count and exact cent
    sum over the trailing REAL-TIME hour [ts−1h, ts], per user. The
    RANGE-with-interval frame the rows-based rolling queries
    (sensor_rolling_avg) can't express: with irregular arrival, "last
    6 rows" and "last hour" are different semantics (rate limiting,
    trailing-exposure windows need the latter).

    Spark has no interval literal for rangeBetween, so the order key
    is ``unix_micros(ts)`` with a ±3.6e9 µs frame — integer
    microseconds, exactly DuckDB's ``RANGE INTERVAL '1 hour'
    PRECEDING`` bound (both ends inclusive, peer rows = equal
    timestamps in both engines). The cent sum accumulates in
    DECIMAL(38,0) inside the frame (wide_sum policy — DuckDB's window
    sum promotes to HUGEINT where a Spark long sum would wrap
    silently at extreme per-user-hour volumes; ADVICE r8) and is cast
    back to long for the output (exact to ~9.2e16 cents per frame;
    NULL values skipped by both engines' sum, counted by count(*)).
    Beyond that bound the engines diverge by design of their casts:
    Spark's non-ANSI decimal→long cast yields NULL while DuckDB's
    HUGEINT→BIGINT cast raises — a frame sum past ±2^63 cents would
    therefore show up as a loud oracle error, not a silent mismatch
    (unreachable at any test SF; documented per ADVICE r9).

    Scale: partitioned by user — millions of independent groups, no
    global window; the frame is evaluated with a sliding two-pointer
    pass inside each sorted partition (Spark's bounded-range window
    executor), so cost is O(rows), not O(rows × frame).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(EX.cents("value").cast("decimal(38,0)"))
        .over(w)
        .cast("long")
        .alias("sum_value_c"),
    )


@query(
    "events_mode_type_per_user",
    oracle="""
    WITH cnt AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    rk AS (
        SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rn
        FROM cnt
    )
    SELECT user_id, event_type AS mode_type, n AS n_events
    FROM rk WHERE rn = 1
    """,
)
def events_mode_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE (most frequent event type per user) with a
    DETERMINISTIC tie-break — lexicographically smallest type wins at
    equal counts, so both engines select the identical row (a bare
    ``mode()`` aggregate leaves ties implementation-defined, which
    can never hash-match cross-engine).

    Scale: one count aggregate shuffled on (user, type), then a
    row_number over the per-user count rows — group size is bounded
    by the TYPE cardinality (5 here, small always), so the window
    input is tiny regardless of event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("n_events"),
        )
    )


@query(
    "events_active_day_bitmap",
    oracle="""
    SELECT user_id,
           CAST(bit_or(1 << dayofweek(ts)) AS BIGINT) AS day_mask,
           CAST(bit_count(bit_or(1 << dayofweek(ts))) AS BIGINT) AS n_days,
           (bit_or(1 << dayofweek(ts)) & 62) = 0 AS weekend_only
    FROM events
    GROUP BY user_id
    """,
)
def events_active_day_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user day-of-week activity BITMAP: bit d set iff the user
    was ever active on weekday d (bit 0 = Sunday … bit 6 = Saturday;
    Spark's 1-based dayofweek is shifted to DuckDB's 0-based), plus
    the popcount and a weekend-only flag (mask ∩ Mon–Fri = Ø,
    bits 1-5 = 62).

    Bitmask aggregation is the constant-size presence-set idiom: at
    100 TB a per-user set of active days is one long under bit_or —
    map-side combinable, 8 bytes of state per group, no distinct
    expansion — where collect_set would carry per-element state. The
    same pattern scales to 64-period bitmaps (hours-of-week mod 64,
    feature flags, A/B exposure masks).
    """
    ev = load_table(spark, sf_dir, "events")
    # SQL form: the pyspark shiftleft wrapper only takes a Python int
    # for the shift amount; the catalyst expression takes any column.
    mask = F.expr("CAST(shiftleft(1, dayofweek(ts) - 1) AS BIGINT)")
    return (
        ev.select("user_id", mask.alias("m"))
        .groupBy("user_id")
        .agg(F.bit_or("m").alias("day_mask"))
        .select(
            "user_id",
            "day_mask",
            F.bit_count("day_mask").cast("long").alias("n_days"),
            ((F.col("day_mask").bitwiseAND(F.lit(62))) == 0).alias("weekend_only"),
        )
    )


@query(
    "events_cum_distinct_users",
    oracle="""
    WITH f AS (
        SELECT event_type, user_id,
               min(time_bucket(INTERVAL '1 day', ts)) AS d0
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, d0, count(*) AS new_users
        FROM f GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(d0, '%Y-%m-%d') AS day,
           new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY d0)
                AS BIGINT) AS cum_users
    FROM d
    """,
)
def events_cum_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE DISTINCT user count per event type by day — "how
    many unique users has this event type ever seen, as of day X".
    A windowed COUNT(DISTINCT) is unsupported in both engines; the
    scalable identity is first-occurrence marking: a user contributes
    to the cumulative count exactly on their FIRST active day, so
    cum-distinct = running sum of per-day newcomer counts.

    Scale: the (type, user) → min(day) aggregate shuffles once on the
    natural key (map-side combinable); everything after runs on
    (types × days) rows — bounded input, so the per-type running-sum
    window is a few hundred rows, not a data-sized global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    firstd = (
        ev.select("event_type", "user_id", F.date_trunc("day", "ts").alias("d"))
        .groupBy("event_type", "user_id")
        .agg(F.min("d").alias("d0"))
    )
    daily = firstd.groupBy("event_type", "d0").agg(
        F.count("*").alias("new_users")
    )
    w = W.partitionBy("event_type").orderBy("d0")
    return daily.select(
        "event_type",
        F.date_format("d0", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


#: Attribution lookback: touches (click/view) within this many hours
#: before a purchase share its credit.
ATTR_WINDOW_HOURS = 24


@query(
    "events_attribution_linear",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    t AS (
        SELECT user_id, ts AS tts, event_type AS touch_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    j AS (
        SELECT p.event_id, p.ts AS pts, t.touch_type
        FROM p JOIN t ON p.user_id = t.user_id
         AND t.tts < p.ts
         AND t.tts >= p.ts - INTERVAL {ATTR_WINDOW_HOURS} HOUR
    ),
    k AS (
        SELECT *, count(*) OVER (PARTITION BY event_id) AS n_touch FROM j
    )
    SELECT strftime(date_trunc('day', pts), '%Y-%m-%d') AS day,
           touch_type,
           count(*) AS n_touches,
           -- BIGINT, not HUGEINT: a HUGEINT output column reaches a
           -- pandas-path comparator as float64 ('123.0' vs Spark's
           -- '123') — the r8 driver red, reproduced by
           -- tools/strictcheck.py. The sum fits int64 to ~9.2e12
           -- touches per (day, type) cell.
           CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_micro
    FROM k GROUP BY 1, 2
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one unit
    of conversion credit EQUALLY across the user's click/view touches
    in the prior {ATTR_WINDOW_HOURS} h, reported per (purchase-day,
    touch-type). The marketing-analytics staple one step past the
    as-of join: events_asof_purchase_click answers "which single
    touch preceded", this distributes credit across all of them.

    Exactness: per-touch credit is the integer 1 000 000 // n_touch
    (micro-credits, floor division — identical `div` semantics in
    both engines for positive operands), summed wide INTERNALLY and
    emitted as long/BIGINT (exact to ~9.2e12 touches per day×type
    cell — ~1e8 touches/sec for a day, far past any real corpus).
    The wide sum must NOT surface in the output schema: a
    DECIMAL/HUGEINT final column degrades asymmetrically under a
    pandas-path comparator (Decimal object vs float64) — the r8
    driver red, root-caused in r9 via tools/strictcheck.py.

    Scale: the touch↔purchase interval join keys on user_id — the
    skew bound is one user's activity window, the same bound
    events_sessionize carries. The per-purchase touch count is a
    window over (user_id, event_id): because user_id leads the
    partition keys, Catalyst reuses the join's user_id hash
    partitioning (a local sort, no second Exchange — pinned by
    test), and the final rollup is day×type-sized. No unbounded
    state, no broadcast of data-cardinality sets.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("touch_type"),
    )
    j = p.join(
        t,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("tts") < F.col("ts"))
        & (F.col("tts") >= F.col("ts") - F.expr(f"INTERVAL {ATTR_WINDOW_HOURS} HOURS")),
    )
    # partitionBy(user_id, event_id), not event_id alone: event_id is
    # unique per purchase so the count is identical, but HashPartitioning
    # (user_id) from the join SATISFIES ClusteredDistribution(user_id,
    # event_id) — the window reuses the join's shuffle (local sort
    # only), where partitionBy(event_id) would insert a second
    # data-sized Exchange (review finding r8; exchange count pinned
    # in tests/test_r8_queries.py).
    k = j.withColumn(
        "n_touch", F.count("*").over(W.partitionBy("user_id", "event_id"))
    )
    return k.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "touch_type",
    ).agg(
        F.count("*").alias("n_touches"),
        EX.wide_sum(F.expr("1000000 div n_touch"))
        .cast("long")
        .alias("credit_micro"),
    )
