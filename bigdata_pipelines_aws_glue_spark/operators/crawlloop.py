"""The closed crawl loop ([north-star] N5 adjacency; no reference
citation — the reference has no crawler). Round 14 left the discovery
side as attested PIECES: a combined fetch queue
(``sitemap.crawl_queue_combined``), a robots gate
(``robots.frontier_robots_filter``), and two discovery channels.
This module composes them into the three artifacts a crawler
OPERATOR actually runs:

- ``fetch_schedule`` — the politeness schedule: per queued URL the
  earliest fetch offset implied by its host's Crawl-delay and its
  rank (VERDICT_r14 item 5 — makes the parsed ``crawl_delay`` field
  load-bearing).
- ``sitemap_recrawl`` — the recrawl policy: compare each sitemap
  entry's ``lastmod`` against the stored fetch date and queue STALE
  pages for re-fetch alongside the unvisited seeds (VERDICT_r14
  item 6).
- ``crawl_rounds_audit`` — the closed loop itself (VERDICT_r14
  item 1): ``CRAWL_ROUNDS`` bounded rounds of pop-the-queue ->
  "fetch" -> extract links -> robots-gate -> update visited ->
  re-rank, emitting one audit row per round (fetched / discovered /
  blocked / new-frontier / queue / visited counts plus an md5 over
  the round's fetched URL set). The BFS-style driver loop with
  eager ``localCheckpoint`` between rounds is the
  ``link_pagerank``/``recursive_trade_reach`` pattern
  (``operators/graph.py``); the DuckDB twin replays every round as
  unrolled MATERIALIZED CTEs.

Fetch model (deterministic, replayed byte-identically by the
oracle): every fetched URL on a CONTENT host (``*.example.test``) is
an HTML page; with ``t`` = the last numeric run in the URL (the doc
id for ``/doc/{t}`` pages, the section/param number for resolved
section paths), the page's two outlinks are ``/doc/{(t*7) % 997}``
and ``/doc/{(t*13) % 997}`` on the same host — the SAME
internal-link arithmetic ``links.synth_linked_html`` gives corpus
pages, so the simulated frontier grows the way the corpus's own
link graph does. CDN-host URLs (``*.assets.test`` images/scripts)
fetch as leaves: no links.

Scale posture: the queue and visited frames are metadata-width
(host, url, refs); every round is one window (rank), one regex map
(link synthesis), one hash agg (ref counts), two anti joins
(visited / already-queued) and one full-outer merge — all keyed on
(host, url), nothing all-pairs, no driver materialization beyond
the K audit rows. The robots gate is applied ONCE per URL at queue
ENTRY (q0 and each round's candidates), so per-round work scales
with the fetch budget x host count, not with corpus size. At 100 TB
the loop state (queue + visited) is exactly a crawler's store:
hash-partitioned by URL, refreshed per round via co-located joins.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark import registry
from bigdata_pipelines_aws_glue_spark.operators.robots import (
    CRAWL_DELAY_SQL,
    URL_PATH_SQL,
    robots_allowed,
    robots_gate,
    robots_win_sql,
)
from bigdata_pipelines_aws_glue_spark.operators.sitemap import (
    SITEMAP_SEEDS_ORACLE,
    _queue_oracle,
    crawl_queue_combined,
    sitemap_seeds,
)
from bigdata_pipelines_aws_glue_spark.sources.local import local_frame
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table

# ------------------------------------------------- fetch_schedule

#: schedule wave width (seconds): the per-host time bucket a
#: scheduler would dispatch together.
WAVE_S = 60


def fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The politeness schedule a fetcher can actually EXECUTE: the
    combined queue gated by each host's robots.txt (the sitemap
    channel enters ``crawl_queue_combined`` robots-unfiltered, so a
    blocked seed must not consume a schedule slot — review r15
    finding), re-ranked per host in the queue's own order
    (``sched_rank``), with the host's Crawl-delay (parsed from the
    synthesized robots.txt — the same derivation
    ``frontier_robots_filter`` emits) and the earliest offset a
    polite single-connection fetcher may issue each URL at:
    ``(sched_rank - 1) * crawl_delay`` seconds, plus the
    ``WAVE_S``-second dispatch bucket. The allowed set equals the
    crawl loop's ``q0`` (``_initial_state`` applies the identical
    gate). Per-row expressions + one re-rank window over the
    attested input."""
    # the gate parses robots.txt once per host and joins it back, so
    # the queue it reads twice (host-distinct and join) is materialized
    cq = crawl_queue_combined(spark, sf_dir).localCheckpoint(eager=True)
    q = robots_gate(cq, keep_delay=True)
    sched_rank = F.row_number().over(
        Window.partitionBy("host").orderBy(F.col("fetch_rank").asc())
    )
    q = q.select(
        "host",
        "url",
        "channel",
        "fetch_rank",
        sched_rank.cast("int").alias("sched_rank"),
        F.col("_robots_delay").alias("crawl_delay"),
    )
    offset = (
        (F.col("sched_rank") - F.lit(1)).cast("long")
        * F.col("crawl_delay").cast("long")
    )
    return q.select(
        "host",
        "url",
        "channel",
        "fetch_rank",
        "sched_rank",
        "crawl_delay",
        offset.alias("earliest_fetch_offset_s"),
        F.floor(offset / F.lit(WAVE_S)).cast("int").alias("fetch_wave"),
    )


def _fetch_schedule_oracle() -> str:
    return f"""
WITH cqx AS MATERIALIZED (
    {_queue_oracle()}
),
cw AS MATERIALIZED (
    SELECT host, url, channel, fetch_rank,
           {robots_win_sql(URL_PATH_SQL)} AS win
    FROM cqx
),
alw AS MATERIALIZED (
    SELECT host, url, channel, fetch_rank,
           CAST(row_number() OVER (
                PARTITION BY host ORDER BY fetch_rank ASC
           ) AS INT) AS sched_rank
    FROM cw
    WHERE win IS NULL OR struct_extract(win, 'a') = 1
)
SELECT host, url, channel, fetch_rank, sched_rank,
       {CRAWL_DELAY_SQL} AS crawl_delay,
       CAST(sched_rank - 1 AS BIGINT) * CAST({CRAWL_DELAY_SQL} AS BIGINT)
           AS earliest_fetch_offset_s,
       CAST(floor((CAST(sched_rank - 1 AS BIGINT)
                   * CAST({CRAWL_DELAY_SQL} AS BIGINT)) / {WAVE_S}.0)
            AS INT) AS fetch_wave
FROM alw
"""


# ------------------------------------------------ sitemap_recrawl

#: the crawl's epoch: stored fetch dates are
#: ``_FETCH_EPOCH + (doc_id * 31) % 365`` days — coprime stride, so
#: stored dates spread over the whole year while ``lastmod`` (month
#: ``t % 12``, day ``t % 28``) spreads independently: both the stale
#: and fresh branches bite at every SF.
_FETCH_EPOCH = datetime.date(2024, 1, 1)
_DOC_T_RE = r"/doc/([0-9]+)$"


def sitemap_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sitemap RECRAWL policy (VERDICT_r14 item 6): for visited
    entries, compare the publisher's ``lastmod`` against the stored
    fetch date; a page modified AFTER we fetched it is STALE and
    joins the re-fetch queue. Emits every sitemap entry with its
    action — ``seed`` (unvisited), ``recrawl`` (visited, stale) or
    ``skip`` (visited, fresh) — and the per-(host, action) fetch
    order (NULL for skips). Makes ``lastmod`` load-bearing beyond
    rank ordering: it now drives a decision boundary."""
    sm = sitemap_seeds(spark, sf_dir)
    t = F.regexp_extract(F.col("url"), _DOC_T_RE, 1).cast("long")
    fetched_on = F.when(
        F.col("visited"),
        F.date_add(F.lit(_FETCH_EPOCH), ((t * 31) % 365).cast("int")),
    )
    base = sm.select(
        "host",
        "url",
        "lastmod",
        "priority",
        "visited",
        fetched_on.alias("fetched_on"),
    ).withColumn(
        "action",
        F.when(~F.col("visited"), F.lit("seed"))
        .when(F.col("lastmod") > F.col("fetched_on"), F.lit("recrawl"))
        .otherwise(F.lit("skip")),
    )
    w = Window.partitionBy("host", "action").orderBy(
        F.col("priority").desc(),
        F.col("lastmod").desc(),
        F.col("url").asc(),
    )
    return base.select(
        "host",
        "url",
        "lastmod",
        "fetched_on",
        "priority",
        "action",
        F.when(F.col("action") != "skip", F.row_number().over(w))
        .cast("int")
        .alias("fetch_order"),
    )


SITEMAP_RECRAWL_ORACLE = f"""
WITH smx AS MATERIALIZED (
    {SITEMAP_SEEDS_ORACLE}
),
b AS (
    SELECT host, url, lastmod, priority, visited,
           CASE WHEN visited THEN DATE '2024-01-01'
                + CAST((CAST(regexp_extract(url, '{_DOC_T_RE}', 1)
                             AS BIGINT) * 31) % 365 AS INT)
           END AS fetched_on
    FROM smx
),
c AS (
    SELECT host, url, lastmod, priority, fetched_on,
           CASE WHEN NOT visited THEN 'seed'
                WHEN lastmod > fetched_on THEN 'recrawl'
                ELSE 'skip' END AS action
    FROM b
)
SELECT host, url, lastmod, fetched_on, priority, action,
       CASE WHEN action <> 'skip' THEN CAST(row_number() OVER (
            PARTITION BY host, action
            ORDER BY priority DESC, lastmod DESC, url ASC) AS INT)
       END AS fetch_order
FROM c
"""


# --------------------------------------------- crawl_rounds_audit

#: bounded crawl simulation geometry: rounds and the per-host,
#: per-round fetch budget (politeness: a crawler fetches at most
#: ``FETCH_BUDGET`` URLs per host per scheduling round).
CRAWL_ROUNDS = 4
FETCH_BUDGET = 4

#: the page's "content id": the LAST numeric run in the URL.
_LAST_NUM_RE = r"([0-9]+)[^0-9]*$"


def _fetched_links(fetched: DataFrame) -> DataFrame:
    """The deterministic "fetch": each fetched content-host URL
    yields its two same-host outlinks (module doc); CDN-host URLs
    and numberless URLs are leaves. One raw link row per outlink
    occurrence."""
    t = F.regexp_extract(F.col("url"), _LAST_NUM_RE, 1).cast("long")
    return (
        fetched.filter(
            F.col("host").endswith(".example.test")
            & F.col("url").rlike("[0-9]")
        )
        .select(
            "host",
            F.explode(
                F.array((t * 7) % 997, (t * 13) % 997)
            ).alias("t"),
        )
        .select(
            "host",
            F.concat(
                F.lit("https://"),
                F.col("host"),
                F.lit("/doc/"),
                F.col("t").cast("string"),
            ).alias("url"),
        )
    )


#: one audit row per round, the schema of ``crawl_rounds_audit``.
AUDIT_SCHEMA = (
    "round int NOT NULL, n_fetched bigint NOT NULL, n_links bigint NOT NULL, "
    "n_blocked bigint NOT NULL, n_new bigint NOT NULL, "
    "queue_size bigint NOT NULL, visited_size bigint NOT NULL, "
    "fetched_md5 string NOT NULL"
)


def _crawl_round(
    k: int, q: DataFrame, v: DataFrame, n_visited: int
) -> tuple[DataFrame, DataFrame, tuple]:
    """One crawl round over state ``(q, v)``, where ``v`` holds
    ``n_visited`` rows -> the new state plus the round's audit row, a
    tuple in :data:`AUDIT_SCHEMA`'s column order. Factored out of
    :func:`crawl_rounds_audit` so pytest can drive the loop to
    frontier exhaustion on a small closed fixture.

    PRECONDITION: ``q`` and ``v`` are URL-disjoint (true by
    construction from ``_initial_state`` and preserved by every
    round — candidates anti-join ``v``). The visited union below is
    deliberately multiset (UNION ALL on both engines), so
    ``visited_size`` is exactly ``n_visited + n_fetched``; a caller
    passing overlapping state would double-count it. The
    seeded-replay pytest pins this contract.

    The round's three eager checkpoints (``ranked``, ``disc`` and
    ``merged``) are the frames that more than one consumer reads; its
    counts ride them as observed metrics, so no other job runs. The
    fetched URLs reach the driver inside ``fetched_md5``'s
    ``collect_list``: at most ``FETCH_BUDGET`` x hosts URLs, the rows
    the round fetches."""
    fetch = f"rk <= {FETCH_BUDGET}"
    fetch_obs, disc_obs, merged_obs = (Observation() for _ in range(3))
    ranked = (
        q.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("host").orderBy(
                    F.col("refs").desc(), F.col("url").asc()
                )
            ),
        )
        .observe(
            fetch_obs,
            F.expr(f"count_if({fetch}) AS n"),
            F.expr(
                "md5(concat_ws('|', array_sort(collect_list("
                f"CASE WHEN {fetch} THEN url END)))) AS md5"
            ),
        )
        .localCheckpoint(eager=True)
    )
    fetched = ranked.filter(fetch).select("host", "url")
    rem = ranked.filter(f"NOT {fetch}").select("host", "url", "refs")
    disc = (
        _fetched_links(fetched)
        .groupBy("host", "url")
        .agg(F.count(F.lit(1)).cast("long").alias("refs2"))
        .withColumn(
            "allowed", robots_allowed(F.col("host"), F.col("url"))
        )
        .observe(
            disc_obs,
            F.coalesce(F.sum("refs2"), F.lit(0)).alias("n_links"),
            F.count_if(~F.col("allowed")).alias("n_blocked"),
        )
        .localCheckpoint(eager=True)
    )
    v = v.unionByName(fetched.select("url"))
    # cand stays lazy: its one consumer, the merge, re-runs only a
    # filter and a broadcast anti join over checkpointed frames
    cand = (
        disc.filter(F.col("allowed"))
        .select("host", "url", "refs2")
        .join(v, "url", "left_anti")
    )
    # rem.refs is non-null by construction (q0 coalesces, every merge
    # below coalesces), so refs IS NULL <=> the row came only from
    # cand <=> it is a NEW queue entrant.
    merged = (
        rem.join(cand, ["host", "url"], "full_outer")
        .select(
            "host",
            "url",
            (
                F.coalesce(F.col("refs"), F.lit(0))
                + F.coalesce(F.col("refs2"), F.lit(0))
            )
            .cast("long")
            .alias("refs"),
            F.col("refs").isNull().alias("is_new"),
        )
        .observe(
            merged_obs,
            F.count(F.lit(1)).alias("queue_size"),
            F.count_if("is_new").alias("n_new"),
        )
        .localCheckpoint(eager=True)
    )
    fetched_n, disc_n, merged_n = fetch_obs.get, disc_obs.get, merged_obs.get
    audit = (
        k,
        fetched_n["n"],
        disc_n["n_links"],
        disc_n["n_blocked"],
        merged_n["n_new"],
        merged_n["queue_size"],
        n_visited + fetched_n["n"],
        fetched_n["md5"],
    )
    return merged.select("host", "url", "refs"), v, audit


def _initial_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, int]:
    """(q0, v0, |v0|): the robots-allowed combined queue with ref
    counts, the corpus's own URLs as the seed visited set, and that
    set's size, observed on its checkpoint."""
    docs = load_table(spark, sf_dir, "documents")
    cq = (
        crawl_queue_combined(spark, sf_dir)
        .select(
            "host",
            "url",
            F.coalesce(F.col("n_refs"), F.lit(0)).cast("long").alias(
                "refs"
            ),
        )
        .localCheckpoint(eager=True)
    )
    # round 1 reads q0 twice (fetched and rem), so it is materialized
    q = robots_gate(cq).localCheckpoint(eager=True)
    size = Observation()
    v = (
        docs.select(
            F.concat(
                F.lit("https://"),
                F.col("lang"),
                F.lit(".example.test/doc/"),
                F.col("doc_id").cast("string"),
            ).alias("url")
        )
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    return q, v, size.get["n"]


def crawl_rounds_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CRAWL_ROUNDS`` rounds of the crawl steady state, one audit
    row per round. State: ``q`` (the robots-allowed queue with
    accumulated ref counts) and ``v`` (visited URLs, seeded with the
    corpus's own). Each round fetches the ``FETCH_BUDGET``
    top-ranked URLs per host (refs DESC, url ASC), synthesizes
    their outlinks, gates NEW URLs through robots + the visited
    check, folds surviving candidates into the remaining queue
    (ref counts summed — link demand accumulates across rounds),
    and re-ranks. The audit rows are the rounds' observed counts, as
    one local relation.

    Invariant (both engines, by construction): queue and visited
    are disjoint — URLs enter the queue only via an anti join
    against visited, and leave it exactly when fetched (= added to
    visited), so no URL is fetched twice. pytest pins monotone
    visited growth, the per-round count identities, queue/visited
    disjointness, and frontier exhaustion on a closed fixture."""
    q, v, n_visited = _initial_state(spark, sf_dir)
    audits = []
    for k in range(1, CRAWL_ROUNDS + 1):
        q, v, audit = _crawl_round(k, q, v, n_visited)
        audits.append(audit)
        n_visited = audit[6]  # visited_size
    return local_frame(spark, audits, AUDIT_SCHEMA)


def _cr_round_sql(k: int) -> str:
    """One unrolled crawl round as DuckDB CTEs (replays the Spark
    round body exactly; ``AS MATERIALIZED`` throughout — DuckDB
    re-inlines chained CTEs otherwise)."""
    return f"""rank{k} AS MATERIALIZED (
    SELECT host, url, refs,
           row_number() OVER (PARTITION BY host
                              ORDER BY refs DESC, url ASC) AS rk
    FROM q{k - 1}
),
fetched{k} AS MATERIALIZED (
    SELECT host, url FROM rank{k} WHERE rk <= {FETCH_BUDGET}
),
links{k} AS MATERIALIZED (
    SELECT f.host,
           'https://' || f.host || '/doc/'
           || CAST((CAST(regexp_extract(f.url, '{_LAST_NUM_RE}', 1)
                         AS BIGINT) * m.m) % 997 AS VARCHAR) AS url
    FROM fetched{k} f
    CROSS JOIN (SELECT unnest([7, 13]) AS m) m
    WHERE f.host LIKE '%.example.test'
      AND regexp_matches(f.url, '[0-9]')
),
disc{k} AS MATERIALIZED (
    SELECT host, url, CAST(count(*) AS BIGINT) AS refs2
    FROM links{k} GROUP BY host, url
),
dw{k} AS MATERIALIZED (
    SELECT host, url, refs2,
           {robots_win_sql(URL_PATH_SQL)} AS win
    FROM disc{k}
),
v{k} AS MATERIALIZED (
    SELECT url FROM v{k - 1}
    UNION ALL SELECT url FROM fetched{k}
),
cand{k} AS MATERIALIZED (
    SELECT host, url, refs2 FROM dw{k}
    WHERE (win IS NULL OR struct_extract(win, 'a') = 1)
      AND url NOT IN (SELECT url FROM v{k})
),
rem{k} AS MATERIALIZED (
    SELECT host, url, refs FROM rank{k} WHERE rk > {FETCH_BUDGET}
),
q{k} AS MATERIALIZED (
    SELECT coalesce(r.host, c.host) AS host,
           coalesce(r.url, c.url) AS url,
           CAST(coalesce(r.refs, 0) + coalesce(c.refs2, 0) AS BIGINT)
               AS refs
    FROM rem{k} r FULL OUTER JOIN cand{k} c
      ON r.host = c.host AND r.url = c.url
),
audit{k} AS MATERIALIZED (
    SELECT CAST({k} AS INT) AS round,
           (SELECT CAST(count(*) AS BIGINT) FROM fetched{k})
               AS n_fetched,
           (SELECT CAST(count(*) AS BIGINT) FROM links{k}) AS n_links,
           (SELECT CAST(count(*) AS BIGINT) FROM dw{k}
            WHERE NOT (win IS NULL OR struct_extract(win, 'a') = 1))
               AS n_blocked,
           (SELECT CAST(count(*) AS BIGINT) FROM cand{k} c
            WHERE NOT EXISTS (SELECT 1 FROM rem{k} r
                              WHERE r.host = c.host AND r.url = c.url))
               AS n_new,
           (SELECT CAST(count(*) AS BIGINT) FROM q{k}) AS queue_size,
           (SELECT CAST(count(*) AS BIGINT) FROM v{k}) AS visited_size,
           (SELECT md5(coalesce(array_to_string(list_sort(list(url)),
                                                '|'), ''))
            FROM fetched{k}) AS fetched_md5
)"""


def _crawl_rounds_oracle() -> str:
    rounds = ",\n".join(
        _cr_round_sql(k) for k in range(1, CRAWL_ROUNDS + 1)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM audit{k}" for k in range(1, CRAWL_ROUNDS + 1)
    )
    return f"""
WITH cqx AS MATERIALIZED (
    {_queue_oracle()}
),
q0w AS MATERIALIZED (
    SELECT host, url, CAST(coalesce(n_refs, 0) AS BIGINT) AS refs,
           {robots_win_sql(URL_PATH_SQL)} AS win
    FROM cqx
),
q0 AS MATERIALIZED (
    SELECT host, url, refs FROM q0w
    WHERE win IS NULL OR struct_extract(win, 'a') = 1
),
v0 AS MATERIALIZED (
    SELECT DISTINCT 'https://' || lang || '.example.test/doc/'
           || CAST(doc_id AS VARCHAR) AS url
    FROM documents
),
{rounds}
{unions}
"""


# ------------------------------------------ frontier_refs_windowed


def _stream_geometry() -> tuple[int, int]:
    """(CRAWL_EPOCH, FRONTIER_WINDOW_S) imported from the streaming
    module so the batch twin can never silently diverge from
    ``frontier_refs_stream`` (review r15 finding). Imported lazily —
    streaming.jobs pulls in operator modules at import time."""
    from bigdata_pipelines_aws_glue_spark.streaming.jobs import (
        CRAWL_EPOCH,
        FRONTIER_WINDOW_S,
    )

    return CRAWL_EPOCH, FRONTIER_WINDOW_S


def frontier_refs_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.jobs.frontier_refs_stream`` (the
    ewma/cusum batch-twin pattern): link-demand counts per (10-minute
    fetch window, host, url) over the whole corpus — the incremental
    frontier feed, hash-attested. ``window_epoch`` is the epoch
    second of the stream's ``window.start`` (integer DIV bucketing of
    the derived ``fetch_ts = CRAWL_EPOCH + doc_id`` — emitted as a
    LONG so the cross-engine hash never touches timezone semantics;
    pytest pins twin == stream modulo the epoch conversion). One
    narrow explode + one hash aggregation; at 100 TB this is the
    map-side-combinable shape the streaming state stores per window."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        _HOST_RE,
        _http_links,
        synth_linked_html,
    )

    epoch, win_s = _stream_geometry()
    docs = load_table(spark, sf_dir, "documents")
    html = synth_linked_html(F.col("doc_id"), F.col("lang"), F.col("text"))
    refs = docs.select(
        F.expr(
            f"(({epoch} + doc_id) DIV {win_s}) * {win_s}"
        ).alias("window_epoch"),
        F.explode(_http_links(html)).alias("url"),
    ).select(
        "window_epoch",
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        "url",
    )
    return refs.groupBy("window_epoch", "host", "url").agg(
        F.count(F.lit(1)).cast("long").alias("n_refs")
    )


def _frontier_refs_windowed_oracle() -> str:
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        _HOST_RE,
        _HREF_RE,
        _HTTP_RE,
        _LINKED_CTE,
    )

    epoch, win_s = _stream_geometry()
    return (
        _LINKED_CTE
        + f"""
SELECT CAST((({epoch} + doc_id) // {win_s}) * {win_s}
            AS BIGINT) AS window_epoch,
       regexp_extract(u.url, '{_HOST_RE}', 1) AS host,
       u.url,
       CAST(count(*) AS BIGINT) AS n_refs
FROM (
    SELECT doc_id,
           unnest(list_filter(
               regexp_extract_all(lhtml, '{_HREF_RE}', 1),
               x -> regexp_matches(x, '{_HTTP_RE}'))) AS url
    FROM lh
) u
GROUP BY 1, 2, 3
"""
    )


def _register() -> None:
    registry.register(
        "fetch_schedule", fetch_schedule, _fetch_schedule_oracle()
    )
    registry.register(
        "frontier_refs_windowed",
        frontier_refs_windowed,
        _frontier_refs_windowed_oracle(),
    )
    registry.register(
        "sitemap_recrawl", sitemap_recrawl, SITEMAP_RECRAWL_ORACLE
    )
    registry.register(
        "crawl_rounds_audit", crawl_rounds_audit, _crawl_rounds_oracle()
    )
