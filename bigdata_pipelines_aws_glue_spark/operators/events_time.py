"""Time-window & JSON operators over the events table (SURVEY.md §2.9
batch slice, §2.8 json; M4).

The reference emulates time-series behavior with calendar columns on a
batch table (``glue_job.py:129-134``). Here the general forms: tumbling
/ sliding windows (``F.window``), session windows
(``F.session_window``), and JSON property extraction — all as *batch*
aggregations whose logic is shared verbatim with the Structured
Streaming wrappers in ``streaming/`` (batch tests vouch for streaming
semantics, SURVEY §7 M4).

Scale: windowed groupBys shuffle on (window, keys) — partial
aggregation applies as usual. Session windows shuffle on the session
key; skewed users are the hazard, AQE skew-split handles it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.functions.rounding import (
    quantized_sum,
    stable_round,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

SESSION_GAP = "4 hours"
SESSION_GAP_SECONDS = 4 * 3600


def tumbling_window_agg(
    events: DataFrame,
    window_duration: str = "10 minutes",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time window + per-type counts/sums. Same
    expression tree is valid under ``readStream`` + watermark."""
    return (
        events.groupBy(F.window("ts", window_duration), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(quantized_sum("value", q=6), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def events_window_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_agg(load_table(spark, sf_dir, "events"))


WINDOW_ORACLE = """
SELECT
    TIMESTAMP '1970-01-01'
      + CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) * INTERVAL 1 SECOND
      AS window_start,
    event_type,
    count(*) AS n_events,
    floor(((sum(floor((value) * 1000000.0 + 0.5)) / 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS sum_value
FROM events
GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (gap = 4h; median inter-event gap in
    the corpus is ~7.3h, so sessions genuinely merge and split).
    ``F.session_window`` start == min(ts) of the session, which the
    oracle reproduces with a gaps-and-islands window."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(quantized_sum("value", q=6), 4).alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


SESSION_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, value,
           -- strict >: an event exactly at prev+gap still merges
           -- (verified against Spark's session_window behavior)
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT min(ts) AS session_start, user_id,
       count(*) AS n_events, floor(((sum(floor((value) * 1000000.0 + 0.5)) / 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (F: json coverage, SURVEY §2.8): pull
    ``props.k``, bucket it, aggregate. ``get_json_object`` is a native
    JVM expression — no Python involved."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"), "value")
        # floor, not cast: DuckDB casts double->int by rounding, Spark truncates
        .withColumn("k_bucket", F.floor(F.col("k") / 10).cast("int"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(quantized_sum("value", q=6), 4).alias("sum_value"),
            F.max("k").alias("max_k"),
        )
    )


JSON_ORACLE = """
SELECT event_type,
       CAST(floor(CAST(props->>'$.k' AS INT) / 10) AS INT) AS k_bucket,
       count(*) AS n_events,
       floor(((sum(floor((value) * 1000000.0 + 0.5)) / 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS sum_value,
       max(CAST(props->>'$.k' AS INT)) AS max_k
FROM events
GROUP BY 1, 2
"""


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type
    (round 6 — the third JSON path beside ``get_json_object`` and
    ``from_json``): ``parse_json`` produces the binary
    shredding-capable VARIANT encoding — the modern schema-flexible
    ingestion answer at scale (parse once, type-at-read, no declared
    schema, columnar shredding in parquet readers that support it) —
    then ``variant_get`` extracts typed paths, ``try_variant_get``
    returns NULL for absent paths instead of raising, and
    ``schema_of_variant`` is asserted against the known shape (a
    boolean the oracle pins TRUE). The DuckDB twin reads the same
    JSON through its native ``->>`` path operators."""
    events = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    missing = F.expr("try_variant_get(parse_json(props), '$.absent', 'int')")
    return (
        events.select(
            "event_type",
            k.alias("k"),
            missing.alias("m"),
            (F.schema_of_variant(v) == F.lit("OBJECT<k: BIGINT>")).alias(
                "shape_ok"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("m").alias("n_absent_hits"),
            F.min("shape_ok").alias("all_shapes_ok"),
        )
    )


VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       min(CAST(props->>'$.k' AS INT)) AS min_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k,
       count(CAST(props->>'$.absent' AS INT)) AS n_absent_hits,
       TRUE AS all_shapes_ok
FROM events
GROUP BY 1
"""


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window, 30m slide): each event lands in 2
    windows; the oracle unions the two phase-shifted tumbling grids."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(quantized_sum("value", q=6), 4).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_events", "sum_value"
        )
    )


SLIDING_ORACLE = """
WITH grid(phase) AS (VALUES (0), (1800)),
assigned AS (
    SELECT TIMESTAMP '1970-01-01'
             + CAST(floor((epoch(ts) - phase) / 3600) * 3600 + phase AS BIGINT)
               * INTERVAL 1 SECOND AS window_start,
           value
    FROM events CROSS JOIN grid
)
SELECT window_start, count(*) AS n_events, floor(((sum(floor((value) * 1000000.0 + 0.5)) / 1000000.0)) * 10000.0 + 0.5) / 10000.0 AS sum_value
FROM assigned
GROUP BY 1
"""


def events_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.from_json with a declared schema (the typed counterpart of
    get_json_object): props -> struct, then aggregate. One JVM-side
    parse per row, no Python."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "p", F.from_json("props", "k int")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.min(F.col("p.k")).alias("min_k"),
            F.max(F.col("p.k")).alias("max_k"),
            F.count(F.col("p.k")).alias("n_with_k"),
        )
    )


JSON_TYPED_ORACLE = """
SELECT event_type,
       min(CAST(props->>'$.k' AS INT)) AS min_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k,
       count(CAST(props->>'$.k' AS INT)) AS n_with_k
FROM events
GROUP BY event_type
"""


def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): totals by type,
    by hour-of-day, and overall — one shuffle, with grouping_id to
    tell the sets apart."""
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type,
               CAST(hour(ts) AS INT) AS hod,
               count(*) AS n_events,
               CAST(grouping__id AS INT) AS gid
        FROM events_gs
        GROUP BY event_type, hour(ts)
          GROUPING SETS ((event_type), (hour(ts)), ())
        """
    )


GROUPING_SETS_ORACLE = """
SELECT event_type,
       CAST(hod AS INT) AS hod,
       count(*) AS n_events,
       CAST(gid AS INT) AS gid
FROM (
    SELECT event_type, NULL AS hod, 1 AS gid FROM events
    UNION ALL
    SELECT NULL, hour(ts), 2 AS gid FROM events
    UNION ALL
    SELECT NULL, NULL, 3 AS gid FROM events
)
GROUP BY event_type, hod, gid
"""


FUNNEL_STAGES = ("view", "click", "purchase")
COHORT_EPOCH = "2024-01-01"


def funnel_stages(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: a user
    counts at stage N only with an event strictly after their stage
    N-1 entry time. Each stage is a keyed min-aggregation + an
    equi-join on user_id — at scale all three joins hash-partition on
    the same key, so AQE can chain them without re-exchange."""
    stage_entry = (
        events.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("entry_ts"))
    )
    counts = [
        stage_entry.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(f"1_{FUNNEL_STAGES[0]}").alias("stage"), "n_users"
        )
    ]
    for i, etype in enumerate(FUNNEL_STAGES[1:], start=2):
        stage_entry = (
            events.filter(F.col("event_type") == etype)
            .join(
                stage_entry.select("user_id", "entry_ts"), "user_id"
            )
            .filter(F.col("ts") > F.col("entry_ts"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("entry_ts"))
        )
        counts.append(
            stage_entry.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(f"{i}_{etype}").alias("stage"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_stages(load_table(spark, sf_dir, "events"))


FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(ts) AS entry_ts FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS entry_ts
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.entry_ts
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS entry_ts
    FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.entry_ts
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT '1_view' AS stage, count(*) AS n_users FROM s1
UNION ALL SELECT '2_click', count(*) FROM s2
UNION ALL SELECT '3_purchase', count(*) FROM s3
"""


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: cohort = week index of the user's
    first event; a user is retained at offset k if active in
    cohort_week + k. Two keyed aggregations (first-event per user,
    distinct users per cell) — both shuffle on user_id/cohort keys."""
    week = lambda c: F.floor(  # noqa: E731
        F.datediff(c.cast("date"), F.lit(COHORT_EPOCH).cast("date")) / F.lit(7)
    )
    first = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    return (
        events.join(first, "user_id")
        .select(
            "user_id",
            week(F.col("t0")).alias("cohort_week"),
            (week(F.col("ts")) - week(F.col("t0"))).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(load_table(spark, sf_dir, "events"))


COHORT_ORACLE = f"""
WITH first AS (
    SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
)
SELECT CAST(floor(datediff('day', DATE '{COHORT_EPOCH}', CAST(t0 AS DATE)) / 7) AS BIGINT)
           AS cohort_week,
       CAST(floor(datediff('day', DATE '{COHORT_EPOCH}', CAST(e.ts AS DATE)) / 7)
            - floor(datediff('day', DATE '{COHORT_EPOCH}', CAST(t0 AS DATE)) / 7) AS BIGINT)
           AS week_offset,
       count(DISTINCT e.user_id) AS n_active_users
FROM events e JOIN first f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent preceding click (within 7 days), else
    counted organic. One ordered window per user carries the running
    last-click timestamp to every event — a single shuffle on
    user_id, no self-join of the events stream against itself (the
    naive purchase⋈click interval join is quadratic in events per
    user). Order ties broken by event_id so the running state is
    deterministic cross-engine.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    attributed = (
        F.col("last_click_ts").isNotNull()
        & (F.col("ts") <= F.col("last_click_ts") + F.expr("INTERVAL 7 DAYS"))
    )
    return (
        events.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select((F.when(attributed, "click").otherwise("organic")).alias("channel"),
                "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            stable_round(quantized_sum("value"), 2).alias("revenue"),
        )
    )


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_touch_attribution(load_table(spark, sf_dir, "events"))


ATTRIBUTION_ORACLE = """
WITH flagged AS (
    SELECT event_type, ts, value,
           max(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
    FROM events
)
SELECT CASE WHEN last_click_ts IS NOT NULL
                 AND ts <= last_click_ts + INTERVAL 7 DAY
            THEN 'click' ELSE 'organic' END AS channel,
       count(*) AS n_purchases,
       floor(((sum(floor((value) * 10000.0 + 0.5)) / 10000.0)) * 100.0 + 0.5) / 100.0 AS revenue
FROM flagged
WHERE event_type = 'purchase'
GROUP BY 1
"""


#: Attribution horizon for the click->purchase interval join.
CLICK_PURCHASE_HORIZON = "1 hour"


def click_to_purchase_pairs(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Interval join: each purchase pairs with every click by the same
    user in the preceding ``CLICK_PURCHASE_HORIZON``. One expression
    tree for BOTH engines of execution: registered as a batch query
    (oracle-checked) and applied verbatim to two watermarked streams in
    ``streaming.jobs.click_purchase_join_stream`` — Spark's
    stream-stream interval join, where the time bound is what lets the
    state store evict (clicks older than horizon + watermark).

    Plan shape: equi-join on user_id with the range as a residual
    filter — a keyed shuffle (or broadcast) join at any scale, never a
    nested loop."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (c["user_id"] == p["p_user_id"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (
            p["purchase_ts"]
            <= c["click_ts"] + F.expr(f"INTERVAL {CLICK_PURCHASE_HORIZON}")
        ),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def events_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered batch form of the click->purchase interval join."""
    ev = load_table(spark, sf_dir, "events")
    return click_to_purchase_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )


CLICK_PURCHASE_ORACLE = """
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""




# ---------------------------------------------------------------------------
# Markov transition analysis of per-user event sequences
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 8


def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event-type sequences:
    the row-stochastic transition matrix P(to | from) estimated from
    consecutive event pairs, plus the chain's STATIONARY distribution
    by ``_MARKOV_ITERS`` synchronous power-iteration rounds — the
    behavioral-model summary ("where does a user session settle")
    that plain aggregation can't produce.

    Scale shape: sequencing is a per-user keyed window (row_number —
    never SinglePartition); consecutive pairs come from an equi
    self-join on (user, rn+1); the transition matrix is then bounded
    by |event types|² (~25 cells at ANY corpus size) — METADATA, so
    the power iteration runs on the driver over the collected matrix
    (the kmeans/eigvec metadata-collect convention), with every
    contribution floored to a 1e-9 integer before summing so the
    DuckDB twin's unrolled CTE rounds replay it bit-for-bit."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", F.col("event_type").alias("t"),
        F.row_number().over(w).alias("rn"),
    )
    a = seq.alias("a")
    b = seq.select(
        F.col("user_id").alias("u2"),
        (F.col("rn") - 1).alias("rn2"),
        F.col("t").alias("t2"),
    )
    trans = a.join(
        b, (F.col("a.user_id") == F.col("u2")) & (F.col("a.rn") == F.col("rn2"))
    ).groupBy(
        F.col("a.t").alias("from_type"), F.col("t2").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    rows = trans.collect()  # |types|² cells — metadata-sized
    from_tot = {}
    for r in rows:
        from_tot[r["from_type"]] = from_tot.get(r["from_type"], 0) + r["n"]
    p = {
        (r["from_type"], r["to_type"]): r["n"] / from_tot[r["from_type"]]
        for r in rows
    }
    types = sorted(from_tot)
    n_types = len(types)
    x = {t: 1.0 / n_types for t in types}
    for _ in range(_MARKOV_ITERS):
        acc = {t: 0 for t in types}
        for (f, t), pv in p.items():
            acc[t] += math.floor(x[f] * pv * 1e9 + 0.5)
        x = {t: acc[t] / 1e9 for t in types}
    out = [
        (
            f,
            t,
            int(r_n),
            math.floor(p[(f, t)] * 1e9 + 0.5) / 1e9,
            math.floor(x[f] * 1e9 + 0.5) / 1e9,
        )
        for (f, t), r_n in (
            ((rr["from_type"], rr["to_type"]), rr["n"]) for rr in rows
        )
    ]
    return local_frame(
        spark,
        out,
        "from_type string, to_type string, n_transitions long, "
        "p_transition double, stationary_from double",
    )


def _markov_round(i: int) -> str:
    return f"""x{i} AS (
    SELECT p.to_type AS t,
           sum(CAST(floor(x.v * p.pv * 1000000000.0 + 0.5) AS BIGINT))
             / 1000000000.0 AS v
    FROM p JOIN x{i - 1} x ON x.t = p.from_type
    GROUP BY 1
)"""


MARKOV_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type AS t,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
),
trans AS (
    SELECT a.t AS from_type, b.t AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq a JOIN seq b
      ON a.user_id = b.user_id AND b.rn = a.rn + 1
    GROUP BY 1, 2
),
ft AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY 1),
p AS (
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(f.tot AS DOUBLE) AS pv
    FROM trans t JOIN ft f USING (from_type)
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ft),
x0 AS (SELECT from_type AS t, 1.0 / (SELECT n FROM nn) AS v FROM ft),
{",".join(_markov_round(i) for i in range(1, _MARKOV_ITERS + 1))}
SELECT p.from_type, p.to_type, p.n AS n_transitions,
       floor(p.pv * 1000000000.0 + 0.5) / 1000000000.0 AS p_transition,
       floor(x.v * 1000000000.0 + 0.5) / 1000000000.0 AS stationary_from
FROM p JOIN x{_MARKOV_ITERS} x ON x.t = p.from_type
"""


def _register() -> None:
    registry.register("events_window_10min", events_window_10min, WINDOW_ORACLE)
    registry.register("events_sessionize", events_sessionize, SESSION_ORACLE)
    registry.register("events_json_props", events_json_props, JSON_ORACLE)
    registry.register(
        "events_sliding_window", events_sliding_window, SLIDING_ORACLE
    )
    registry.register("events_json_typed", events_json_typed, JSON_TYPED_ORACLE)
    registry.register(
        "events_variant_props", events_variant_props, VARIANT_ORACLE
    )
    registry.register(
        "events_grouping_sets", events_grouping_sets, GROUPING_SETS_ORACLE
    )
    registry.register("events_funnel", events_funnel, FUNNEL_ORACLE)
    registry.register(
        "events_cohort_retention", events_cohort_retention, COHORT_ORACLE
    )
    registry.register(
        "events_attribution", events_attribution, ATTRIBUTION_ORACLE
    )
    registry.register(
        "events_click_to_purchase",
        events_click_to_purchase,
        CLICK_PURCHASE_ORACLE,
    )
    registry.register(
        "markov_event_transitions",
        markov_event_transitions,
        MARKOV_ORACLE,
    )
