"""Streaming corpus admission: the day-over-day near-dup admission loop
(``corpus.admit_batch``) as a Structured Streaming flow.

This is the production shape for "crawl slices arrive continuously,
admit only documents novel against everything admitted before": the
stream's micro-batches are fed through ``foreachBatch`` -- the standard
pattern when a per-batch computation needs joins/aggregations beyond
what a single streaming query plan allows (the exact cross-corpus
re-score is a multi-join batch computation) -- with BOTH sinks
partitioned by ``epoch_id`` under dynamic partition overwrite, so a
replayed epoch (crash between sink commit and checkpoint commit)
REWRITES its own partitions instead of appending duplicates: the same
idempotence contract as ``write_stream_exactly_once``.

State across batches lives in two append-only parquet stores, not in
streaming state (which could not hold a 10^12-doc band table anyway):

- the ADMITTED store (``output_path``): admitted (doc_id, text) rows,
  epoch-partitioned; later batches union it into the history side so an
  epoch-2 near-dup of an epoch-1 admission is rejected;
- the BAND store (``band_store_path``): the persisted (doc_id, band,
  bucket) LSH table, seeded from the initial history corpus
  (``seed_band_store``) under ``epoch_id=-1`` and grown by each batch's
  admitted increment -- history texts are never re-shingled
  (``admit_batch``'s contract; the shingle work per batch is the batch
  itself, once).

Reference parity: the reference processes uploads as they arrive
(`file.go` row loop); this flow is that semantics at corpus scale with
exactly-once admission.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..engine.tableio import overwrite_partitions
from .dedup_stream import start_foreach_batch

ADMITTED_SCHEMA = "doc_id long, text string, epoch_id int"
BAND_SCHEMA = "doc_id long, band int, bucket long, epoch_id int"


def _try_read(spark, path: str, schema: str) -> DataFrame | None:
    """Read a parquet store with an EXPLICIT schema, None if the path
    does not exist yet.  Two deliberate properties (review r6): the
    explicit schema makes a file-less directory readable as an empty
    frame (a zero-admission epoch's dynamic-overwrite write creates the
    directory but no data files, and a schema-less read of it throws
    UNABLE_TO_INFER_SCHEMA), and existence is probed by the READ, not
    ``os.path`` -- which is driver-local and always False for
    hdfs://-, s3://-, abfs://-style production paths (silently dropping
    the admitted store from history there would re-admit duplicates)."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df = spark.read.schema(schema).parquet(path)
        df.schema  # force analysis so a missing path surfaces HERE
        return df
    except AnalysisException:
        return None


def seed_band_store(history_docs: DataFrame, band_store_path: str) -> None:
    """Materialize the initial band store from the starting history
    corpus -- each doc shingled ONCE, here, never again (epoch_id=-1:
    the partition scheme lets batch increments land beside it under
    dynamic overwrite without disturbing the seed)."""
    from ..engine.operators.dedup import _band_hashes, _signatures_for

    seed = (
        _band_hashes(_signatures_for(history_docs.select("doc_id", "text")))
        .withColumn("epoch_id", F.lit(-1))
    )
    overwrite_partitions(seed, "epoch_id", band_store_path)


def run_streaming_admission(
    new_docs_stream: DataFrame,
    history_docs: DataFrame,
    band_store_path: str,
    output_path: str,
    checkpoint_path: str,
    threshold: float | None = None,
    processing_time: str | None = None,
):
    """Start the admission stream (returns the StreamingQuery; default
    trigger availableNow for backfill, ``processing_time`` for
    continuous tailing).  ``new_docs_stream`` is a streaming (doc_id,
    text) frame; ``history_docs`` the static starting corpus whose
    band table ``seed_band_store`` already wrote to
    ``band_store_path``.  Admitted rows land in ``output_path``
    partitioned by epoch; the band store grows by each epoch's admitted
    increment.  Both writes are replay-idempotent (per-epoch dynamic
    partition overwrite)."""
    from ..engine.corpus import admit_batch

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = history_docs.select("doc_id", "text")
        admitted_so_far = _try_read(spark, output_path, ADMITTED_SCHEMA)
        if admitted_so_far is not None:
            # a REPLAYED epoch's own partition is already on disk from
            # the crashed attempt -- reading it into the history side
            # would score the batch against itself (every doc
            # self-links at 1.0) and admit nothing, turning replay
            # idempotence into replay data loss.  Exclude the current
            # epoch from both stores (partition-pruned filters).
            hist = hist.unionByName(
                admitted_so_far.filter(F.col("epoch_id") != epoch_id)
                .select("doc_id", "text")
            )
        bands = (
            spark.read.schema(BAND_SCHEMA).parquet(band_store_path)
            .filter(F.col("epoch_id") != epoch_id)
            .select("doc_id", "band", "bucket")
        )
        admitted, inc_bands = admit_batch(
            batch_df.select("doc_id", "text"),
            hist,
            history_bands=bands,
            threshold=threshold,
        )
        # admitted docs must be on disk before their bands: a crash
        # between the two writes then leaves a band-less admitted epoch
        # (its docs still guard via the text-union history side on the
        # next run, and the epoch replay rewrites both) rather than
        # bands for documents the output does not hold
        overwrite_partitions(
            admitted.withColumn("epoch_id", F.lit(epoch_id)), "epoch_id",
            output_path)
        overwrite_partitions(
            inc_bands.withColumn("epoch_id", F.lit(epoch_id)), "epoch_id",
            band_store_path)

    return start_foreach_batch(
        new_docs_stream, sink, checkpoint_path, processing_time)
