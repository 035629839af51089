"""Structured Streaming ingestion (SURVEY.md §2.9 upgrade path).

The reference has ZERO streaming operators — its daily full-recompute
with overwrite sinks is the batch equivalent of a Trigger.AvailableNow
run.  These are the idiomatic streaming upgrades (extension, not parity):

- ``stream_etl_available_now``: file-source stream over a raw dir →
  the SAME adapter expressions → foreachBatch full-merge overwrite.
  Catches up on whatever files landed, then stops — exactly the daily
  cadence, but incremental-file-discovery and restartable via the
  checkpoint.  The merge stays a full groupBy per batch because the
  reference's merge semantics are global (last write wins).
- ``windowed_event_counts``: watermarked tumbling-window counts over an
  event stream — the standard late-data-tolerant aggregation shape
  (1 shuffle per window; state bounded by the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..adapters import ADAPTERS, RAW_SCHEMAS
from ..operators.merge import merge_products, union_sources
from ..sinks.sinks import read_json_products, write_json_products

# NDJSON filename globs of the streaming path; batch discovery uses
# ``config.SOURCE_PATTERNS`` instead (json_source.discover_source_files).
_STREAM_GLOBS = {"avito": "*avito*", "jumia": "*jumia*", "electroplanet": "*electro*"}


def drain_available_now(q, timeout_s: float | None = None) -> None:
    """Await an AvailableNow drain with a LOUD bounded timeout.

    An honest drain of any registry stream finishes in seconds; an
    unbounded ``awaitTermination()`` turns an infra fault (e.g. a
    vanished python worker — observed once in round 6, executor thread
    parked forever in BasePythonRunner.read) into a silent hang of the
    whole sweep.  Past the deadline the query is stopped and a
    RuntimeError raised, so the caller records ONE red error row
    instead of stalling every query after it.  Default 600 s
    (``SPARK_GRAFT_STREAM_TIMEOUT``) — two orders above any honest
    drain, so it can never clip a real run.
    """
    import os

    if timeout_s is None:
        timeout_s = float(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "600"))
    if not q.awaitTermination(timeout_s):
        # stop() joins the execution thread with stopTimeout default 0 =
        # wait forever — exactly the non-interruptible-thread fault class
        # this guard exists for.  Stop on a daemon side-thread and raise
        # REGARDLESS, so the timeout is genuinely bounded.
        import threading

        stopper = threading.Thread(target=q.stop, daemon=True)
        stopper.start()
        stopper.join(15)
        raise RuntimeError(
            f"AvailableNow drain did not finish within {timeout_s:.0f}s "
            "— stopped the stream (infra hang, not a data condition"
            f"{'; stop() itself is stuck' if stopper.is_alive() else ''})"
        )


def stream_etl_available_now(
    spark: SparkSession,
    raw_dir: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Incremental file ingestion → cumulative merge → atomic-swap write.

    Each micro-batch merges the PREVIOUS merged output (product
    granularity — bounded by catalog size) with the new batch, writes to
    a temp dir, then swaps it into ``out_path``.  This keeps per-batch
    cost proportional to the current catalog, unlike re-merging an
    append-only staging log (O(K²) over K batches, unbounded storage).
    Merging only the batch and overwriting would silently drop earlier
    products.  Replayed batches are idempotent: the merge dedups offers
    on (product_id, source, url, price) — property-tested re-merge
    invariance.

    Crash window: a failure between delete and rename leaves the result
    only in ``<out_path>.tmp-<epoch>`` (no data loss; manual rename or
    the next batch's recovery is needed — a production deployment puts a
    manifest/Delta commit here instead).

    Returns the started StreamingQuery (AvailableNow: runs to catch-up
    then finishes; call .awaitTermination()).
    """
    streams = []
    for source, transform in ADAPTERS.items():
        # Streaming file source reads NDJSON only (one record per line) —
        # the standard landing format for continuously-arriving scrapes.
        # Array-layout files belong to the batch path (json_source.py
        # probes per file; a stream can't).  Corrupt lines are dropped
        # via the corrupt-record column, same as batch S2.
        schema_c = T.StructType(
            list(RAW_SCHEMAS[source].fields)
            + [T.StructField("_corrupt_record", T.StringType(), True)]
        )
        raw = (
            spark.readStream.schema(schema_c)
            .option("pathGlobFilter", _STREAM_GLOBS[source])
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(raw_dir)
            .filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record")
        )
        streams.append(transform(raw))
    unioned = union_sources(*streams)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        hconf = sp._jsc.hadoopConfiguration()
        jvm = sp._jvm
        out_p = jvm.org.apache.hadoop.fs.Path(out_path)
        fs = out_p.getFileSystem(hconf)
        tmp = f"{out_path}.tmp-{epoch_id}"

        if fs.exists(out_p):
            prev = read_json_products(sp, out_path)
            combined = prev.unionByName(batch_df)
        else:
            combined = batch_df
        write_json_products(merge_products(combined), tmp)
        fs.delete(out_p, True)
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), out_p)

    return (
        unioned.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type.

    State is bounded: windows older than the watermark are finalized and
    evicted — the scale-safe shape for infinite streams.

    NOTE: ``window_start`` renders via date_format, which uses the
    SESSION timezone — pin ``spark.sql.session.timeZone`` (our session
    factory pins UTC; q31 pins it explicitly for foreign sessions) or
    downstream string consumers shift across deployments.
    """
    return (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_exact_dedup(
    docs_stream: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Exact dedup AT INGEST: emit each distinct normalized-content
    digest the first time it is seen, across micro-batches.

    ``dropDuplicates`` on a stream keeps per-key state, so a document
    whose content already flowed through ANY earlier batch is suppressed
    — the streaming twin of ``operators.dedup.exact_dedup`` (cites
    SURVEY §2.9 extension; dedup-at-ingest is how a training-data
    pipeline avoids re-storing duplicates at all).  State is one
    16-byte digest per distinct content — bounded by unique content,
    not stream length; add a watermark upstream for TTL'd state when
    re-crawl windows allow it.
    """
    from ..operators.dedup import normalize_text

    return docs_stream.select(
        F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    ).dropDuplicates(["content_hash"])


def streaming_dedup_within_watermark(
    docs_stream: DataFrame,
    event_time_col: str,
    delay: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """TTL'd streaming dedup: like ``streaming_exact_dedup`` but state is
    BOUNDED BY THE WATERMARK, not by distinct-content count —
    ``dropDuplicatesWithinWatermark`` evicts a digest once the watermark
    passes its event time + delay.

    This is the 100 TB shape for re-crawl pipelines: a page fetched
    again within ``delay`` is suppressed as a duplicate; a re-fetch
    after the window re-emits (by design — content may have changed and
    the downstream exact dedup still collapses true repeats).  The
    unbounded-state variant stays correct for bounded-unique-content
    corpora; this one is correct for unbounded streams.
    """
    from ..operators.dedup import normalize_text as _normalize_text

    return (
        docs_stream.select(
            F.md5(_normalize_text(F.col(text_col))).alias("content_hash"),
            F.col(event_time_col).alias("_event_time"),
        )
        .withWatermark("_event_time", delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def session_event_totals(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
    ts_col: str = "_t",
) -> DataFrame:
    """Per-user SESSION windows over the event stream (inactivity gap):
    Spark merges/extends session state in the aggregation as events
    arrive — the streaming twin of q65's batch session_window (same
    bounds algebra: end = last event + gap, exclusive).

    Run it in COMPLETE output mode into a memory sink: the sink table
    is REPLACED every micro-batch, so the drained table is the full
    current session set with no per-batch compaction hazard
    (convention-9 exempt class) and equals the batch session_window
    result on the same data.  Complete mode holds all sessions in
    state — right for a bounded drain / dashboard; for an infinite
    stream use append mode instead, where the watermark finalizes and
    EVICTS old sessions (bounded state) but withholds any session the
    watermark hasn't passed (the tail) until more data arrives.

    Output: (user_id, session_start_us, session_end_us, n_events,
    total_value) — integer-µs bounds, exact-decimal sum cast to double
    (conv 1).
    """
    return (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            "user_id",
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(19,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )
