"""Streaming jobs over the events schema (SURVEY.md §2.9).

Design rule: zero duplicated aggregation logic. The window/session
expression builders live in ``operators.events_time`` and are applied
verbatim to a streaming DataFrame — only the read edge (``readStream``
+ watermark) and write edge (``writeStream``) differ. At scale this is
the standard lambda-free architecture: one code path, replayable over
history (batch) or live (stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdata_pipelines_aws_glue_spark.operators.events_time import (
    tumbling_window_agg,
)

#: Events schema for the streaming reader (streams cannot infer).
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "30 minutes",
    fmt: str = "parquet",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """readStream over a file source with a watermark for late data.
    File sources give exactly-once replay; at scale swap ``fmt`` for
    kafka — everything downstream is unchanged.
    ``max_files_per_trigger`` bounds micro-batch size (and, in tests,
    forces a deterministic batch-per-file sequence so watermark
    advancement between batches is observable)."""
    stream = (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )
    return stream.withWatermark("ts", watermark)


def windowed_counts_stream(
    events: DataFrame, window_duration: str = "10 minutes"
) -> DataFrame:
    """The SAME tumbling-window aggregation as the batch operator
    (oracle-checked there); under a stream it runs incrementally with
    watermark-based state eviction."""
    return tumbling_window_agg(events, window_duration)


def deduped_stream(events: DataFrame) -> DataFrame:
    """Exactly-once event feed: drop duplicate event_ids arriving
    within the watermark — the streaming form of N1 exact dedup."""
    return events.dropDuplicatesWithinWatermark(["event_id"])


def sessionized_stream(
    events: DataFrame, gap: str = "4 hours"
) -> DataFrame:
    """Streaming session windows (same gap semantics as the batch
    ``events_sessionize`` operator)."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def click_purchase_join_stream(
    spark: SparkSession, input_dir: str, watermark: str = "30 minutes"
) -> DataFrame:
    """STREAM-STREAM interval join (the remaining §2.9 join shape):
    purchases joined to same-user clicks within the attribution
    horizon, both sides watermarked. The batch expression tree
    (``operators.events_time.click_to_purchase_pairs``, oracle-checked
    as ``events_click_to_purchase``) is applied verbatim to two
    streaming readers — zero duplicated logic, per the module's design
    rule.

    State bound: with both watermarks at ``watermark`` and the join's
    time range at ``CLICK_PURCHASE_HORIZON``, Spark retains clicks for
    horizon + watermark and purchases for the watermark — bounded
    state regardless of stream length, which is what makes the
    operator viable on an unbounded 100 TB/day feed."""
    from bigdata_pipelines_aws_glue_spark.operators.events_time import (
        click_to_purchase_pairs,
    )

    clicks = read_event_stream(spark, input_dir, watermark).filter(
        F.col("event_type") == "click"
    )
    purchases = read_event_stream(spark, input_dir, watermark).filter(
        F.col("event_type") == "purchase"
    )
    return click_to_purchase_pairs(clicks, purchases)


def run_to_memory(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Test/debug sink: process all available input once (availableNow)
    into an in-memory table named ``query_name``."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def run_foreach_batch_upsert(
    df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
) -> StreamingQuery:
    """CDC-style sink: merge each micro-batch into a parquet target
    with ``staged_merge`` (keyed upsert), the ``foreachBatch`` pattern
    for sinks without native MERGE. Exactly-once under replay: the
    checkpoint records committed batch ids, and a re-delivered batch
    re-merges the same keys — a keyed upsert is idempotent, so the
    rewrite converges to the same table either way.

    The merge materializes into a staging directory and atomically
    renames over the target (write-then-swap) — the parquet-only
    analogue of a transactional MERGE; readers never observe a
    half-written table. At 100 TB the swap unit would be a partition
    directory, not the whole table, with the same mechanics.
    """
    import os
    import shutil

    from bigdata_pipelines_aws_glue_spark.operators.merge import staged_merge

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.dropDuplicates(keys)
        has_target = os.path.isdir(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        )
        merged = (
            staged_merge(spark.read.parquet(target_dir), batch_df, keys)
            if has_target
            else batch_df
        )
        staging = target_dir.rstrip("/") + f"._staging_{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.isdir(target_dir):
            shutil.rmtree(target_dir)
        os.rename(staging, target_dir)

    return (
        df.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: Documents schema for the streaming crawl reader (streams cannot
#: infer; matches documents.parquet).
DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

#: deterministic crawl-fetch epoch: the documents table carries no
#: timestamp, so the stream derives ``fetch_ts = epoch + doc_id``
#: seconds — a monotone deterministic fixture (the synthesized-column
#: convention of the batch fixtures) that makes watermark semantics
#: testable without adding a column to the shared table.
CRAWL_EPOCH = 1_700_000_000

#: frontier-feed window width (seconds) — shared with the
#: hash-oracled batch twin ``operators.crawlloop.
#: frontier_refs_windowed`` so the two can never silently diverge.
FRONTIER_WINDOW_S = 600


def read_document_stream(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "4 hours",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """readStream over a crawled-documents file source with a derived
    ``fetch_ts`` event time and a watermark for late fetches. The
    default watermark covers the fixture's full doc_id span at every
    test SF (sf0.1 spans ~83 minutes of synthetic fetch time); a real
    crawl sets it to its re-fetch horizon."""
    stream = (
        spark.readStream.format("parquet")
        .schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )
    fetch_ts = F.timestamp_seconds(F.lit(CRAWL_EPOCH) + F.col("doc_id"))
    return stream.withColumn("fetch_ts", fetch_ts).withWatermark(
        "fetch_ts", watermark
    )


def url_deduped_stream(docs: DataFrame) -> DataFrame:
    """Streaming URL-level dedup — the streaming form of
    ``url_dedup_hostcap``'s first stage (N1/N5 over the crawl): each
    document's messy crawl URL is canonicalized with the SAME
    ``urls.canonical_url`` expressions the oracle-checked batch
    operator uses (zero duplicated logic, per the module design
    rule), then later re-fetches of the same canonical URL arriving
    within the watermark are dropped
    (``dropDuplicatesWithinWatermark`` — bounded state: one key per
    canonical URL inside the watermark horizon, evicted as event time
    advances; the only state a 100 TB/day crawl ingest needs)."""
    from bigdata_pipelines_aws_glue_spark.operators.urls import (
        canonical_host,
        canonical_url,
        synth_crawl_url,
    )

    raw = synth_crawl_url(F.col("doc_id"))
    d = docs.select(
        "doc_id",
        "fetch_ts",
        canonical_url(raw).alias("canonical_url"),
        canonical_host(raw).alias("host"),
    )
    return d.dropDuplicatesWithinWatermark(["canonical_url"])


def frontier_refs_stream(docs: DataFrame) -> DataFrame:
    """Streaming link-demand aggregation — the streaming form of the
    crawl frontier's ref counting (round 15's `crawlloop` theme):
    each fetched document's outlinks (the SAME
    ``links.synth_linked_html`` + ``_http_links`` expressions the
    oracle-checked batch extractor uses — zero duplicated logic)
    explode, and reference counts aggregate per (10-minute fetch
    window, host, url) under the watermark. This is the incremental
    feed a steady-state crawler merges into its queue
    (``crawl_rounds_audit``'s refs accumulation) without rescanning
    the corpus: state is bounded by (windows inside the watermark
    horizon) x (URLs referenced within a window), evicted as event
    time advances; append mode emits each window exactly once when
    it closes."""
    from bigdata_pipelines_aws_glue_spark.operators.links import (
        _HOST_RE,
        _http_links,
        synth_linked_html,
    )

    html = synth_linked_html(
        F.col("doc_id"), F.col("lang"), F.col("text")
    )
    refs = docs.select(
        "fetch_ts", F.explode(_http_links(html)).alias("url")
    ).select(
        "fetch_ts",
        F.regexp_extract(F.col("url"), _HOST_RE, 1).alias("host"),
        "url",
    )
    return (
        refs.groupBy(
            F.window(
                "fetch_ts", f"{FRONTIER_WINDOW_S} seconds"
            ).alias("w"),
            "host",
            "url",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_refs"))
        .select(
            F.col("w.start").alias("window_start"), "host", "url", "n_refs"
        )
    )


def read_transaction_stream(
    spark: SparkSession, input_dir: str, schema
) -> DataFrame:
    """readStream over the flagship transactions fact laid down as
    parquet files. ``maxFilesPerTrigger=1`` makes micro-batch
    boundaries deterministic for the recovery tests; production would
    raise it (or use kafka) without touching anything downstream."""
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(input_dir)
    )


def flagship_stream(
    transactions: DataFrame, rates: DataFrame, categories: DataFrame
) -> DataFrame:
    """The reference pipeline (glue_job.py:78-153) as a STREAM: the
    identical expression tree as ``plans.flagship.flagship_query`` —
    currency conversion (broadcast stream-static join against the
    ``max_by``-collapsed rates), category enrichment (broadcast
    stream-static left join), calendar derivation, 13-col contract —
    applied to a streaming fact. Zero duplicated logic: the batch
    builders are called verbatim; only the read/write edges differ.

    Scale shape: the rates join is a stream-static broadcast against
    a provably bounded (one-row-per-currency) side; the categories
    side derives from ``part``, which scales with the corpus, so —
    exactly as in the batch flagship (plans/flagship.py) — it gets
    the size-gated ``maybe_broadcast`` rather than a forced hint.
    Stream-static joins re-resolve the static subtree per
    micro-batch, but the gate itself runs once at plan-construction
    time on the static DataFrame (driver-side plan metadata, no job),
    so there is no per-batch cost. At tested scales both joins plan
    as broadcasts and each micro-batch stays map-only — no state
    store, no shuffle; at 100 TB the categories side becomes
    demotable by threshold + AQE instead of an executor OOM."""
    from bigdata_pipelines_aws_glue_spark.hints import maybe_broadcast
    from bigdata_pipelines_aws_glue_spark.plans.flagship import (
        OUTPUT_CONTRACT,
        convert_currency,
        derive_time_columns,
    )

    converted = convert_currency(transactions, rates)
    enriched = converted.join(
        maybe_broadcast(categories), on="product_id", how="left"
    )
    return derive_time_columns(enriched).select(*OUTPUT_CONTRACT)


def run_batch_id_sink(
    df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    fail_at_batch: int | None = None,
) -> StreamingQuery:
    """foreachBatch sink writing each micro-batch to
    ``target_dir/batch_id=N`` with mode=overwrite — idempotent under
    batch REPLAY: if the job dies after the write but before the
    checkpoint commit (exactly the window ``fail_at_batch`` injects),
    the restarted query re-delivers the same batch id and the rewrite
    converges to identical bytes instead of duplicating. This is the
    standard exactly-once recipe for sinks without transactions; the
    kill/restart pytest (tests/test_streaming.py) drives it through a
    real mid-stream crash.
    """
    import os

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(target_dir, f"batch_id={batch_id}")
        )
        if fail_at_batch is not None and batch_id == fail_at_batch:
            raise RuntimeError(
                f"injected crash: batch {batch_id} written but not committed"
            )

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

