"""Streaming deduplication + exactly-once micro-batch sink.

- ``dedupe_stream``: ``dropDuplicatesWithinWatermark`` on url -- crawl
  re-fetches within the watermark horizon are dropped in-flight AND state
  is actually evicted past the watermark (plain ``dropDuplicates`` under a
  watermark never evicts unless the event-time column is a dedup key; its
  url state would grow with every distinct url ever seen).
- ``write_stream_exactly_once``: ``foreachBatch`` sink writing each
  micro-batch into an ``epoch_id=<n>`` partition with dynamic partition
  overwrite -- a replayed epoch (restart between sink commit and
  checkpoint commit) REWRITES its own partition instead of appending a
  duplicate, which is the idempotence that makes foreachBatch
  exactly-once.  (An earlier append+marker design was not atomic: a crash
  between the data append and the marker append duplicated the batch.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..engine.tableio import overwrite_partitions


def dedupe_stream(
    pages_stream: DataFrame,
    watermark: str = "1 hour",
    canonicalize: bool = False,
) -> DataFrame:
    """``canonicalize=True`` dedups on the CANONICAL url (scheme/
    fragment/tracking-params collapsed -- engine/operators/urls.py), so
    http/https re-fetches of the same page dedupe in-flight too; the
    canonical key is a JVM projection, so the stateful operator's key
    cardinality shrinks and state stays bounded by the watermark either
    way."""
    # event-time semantics: dropDuplicatesWithinWatermark needs a
    # non-null warc_ts; null-stamped rows are not meaningful here (see
    # windowed_quality_metrics note)
    key = "url"
    if canonicalize:
        from ..engine.operators.urls import canonical_url

        pages_stream = pages_stream.withColumn(
            "__canon", canonical_url("url")
        )
        key = "__canon"
    out = (
        pages_stream.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark([key])
    )
    return out.drop("__canon") if canonicalize else out


def write_stream_exactly_once(
    out_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    processing_time: str | None = None,
):
    """foreachBatch sink with per-epoch partition overwrite (idempotent on
    replay).  Returns the started StreamingQuery.  Read the result with
    ``spark.read.parquet(output_path)`` (epoch_id is a partition column).
    Default trigger is availableNow (backfill); pass ``processing_time``
    (e.g. ``"30 seconds"``) for the continuous-tailing case."""

    if "epoch_id" in out_stream.columns:
        # the sink partitions by its own epoch_id; silently overwriting
        # a user column of that name would lose data
        raise ValueError(
            "out_stream already has an 'epoch_id' column -- rename it; "
            "epoch_id is reserved for the exactly-once sink's partition"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        overwrite_partitions(
            batch_df.withColumn("epoch_id", F.lit(epoch_id)), "epoch_id",
            output_path)

    return start_foreach_batch(
        out_stream, sink, checkpoint_path, processing_time)


def start_foreach_batch(
    stream: DataFrame,
    sink,
    checkpoint_path: str,
    processing_time: str | None = None,
):
    """Start ``stream`` into the ``foreachBatch`` ``sink``: trigger
    availableNow (backfill) by default, ``processingTime=processing_time``
    for continuous tailing.  Returns the started StreamingQuery."""
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
    )
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
