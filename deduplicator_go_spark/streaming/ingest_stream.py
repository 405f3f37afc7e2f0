"""Structured Streaming ingest driving dedup pipeline ticks.

The reference's operating model is a 1-minute systemd timer re-running
the hash CLI over whatever arrived since the last run
(/root/reference/systemd/deduplicator-hash.timer:5-8,
files/hash.go:27-33). `plans/pipeline.py` already expresses one such
tick as frontier-incremental batch; this module closes the loop with
the Spark-native trigger: a Structured Streaming file source watches
the ingest directory and `foreachBatch` runs ONE pipeline tick per
micro-batch. Landing files in a watched directory IS the production
shape (crawler output → object store prefix); swap the file source
for Kafka and nothing downstream changes.

Semantics and exactly-once:
- The streaming checkpoint makes file discovery exactly-once per
  query; `foreachBatch` bodies are AT-LEAST-once (a sink failure
  replays the batch). The batch body therefore (a) anti-joins the
  micro-batch against the standing ``raw_docs`` table on url before
  appending — a replay appends nothing — and (b) runs the pipeline,
  whose stages are themselves idempotent via their commit records.
  Both defences already exist for the batch path; the
  stream just reuses them.
- ``raw_docs`` is the standing append-only input table (the Iceberg
  table of the north rule); each tick hands the pipeline the WHOLE
  standing input, and the pipeline's own frontier machinery makes the
  tick cost proportional to the micro-batch, not the corpus.

At 10^12 docs the micro-batch cadence bounds per-tick state: file
discovery is O(new files) with ``maxFilesPerTrigger`` capping batch
size, and every pipeline stage touches only appended rows/buckets
(see plans/pipeline.py module docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import DedupConfig
from ..plans.pipeline import DedupPipeline, PipelineReport
from ..sources.catalog import CheckpointCatalog

DOCS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

# raw-input table commits are config-independent (changing dedup params
# must NOT invalidate the ingested corpus), so they carry a fixed tag
_RAW_PARAMS = "raw-ingest-v1"


def read_documents_stream(
    spark: SparkSession,
    path: str,
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of document parquet.
    ``maxFilesPerTrigger`` bounds micro-batch size (the reference's
    ``--count 100`` batch bound, files/hash.go:268)."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def pipeline_tick_sink(
    catalog: CheckpointCatalog,
    config: DedupConfig | None = None,
    with_substr: bool = True,
    raw_table: str = "raw_docs",
    on_tick: Callable[[int, PipelineReport], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """→ a foreachBatch body: append the micro-batch to the standing
    input table (url-idempotent), then run one frontier-incremental
    pipeline tick over it. ``on_tick`` receives (batch_id, report) for
    metrics/backpressure hooks."""

    def _on_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new_rows = batch
        if catalog.exists(raw_table):
            standing = catalog.read(spark, raw_table).select("url")
            new_rows = new_rows.join(standing, "url", "left_anti")
        catalog.write(new_rows, raw_table, _RAW_PARAMS, mode="append")
        pipeline = DedupPipeline(spark, catalog, config, with_substr=with_substr)
        report = pipeline.run(catalog.read(spark, raw_table))
        if on_tick is not None:
            on_tick(batch_id, report)

    return _on_batch


def run_stream_ticks(
    spark: SparkSession,
    input_path: str,
    catalog: CheckpointCatalog,
    checkpoint_dir: str,
    config: DedupConfig | None = None,
    with_substr: bool = True,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_tick: Callable[[int, PipelineReport], None] | None = None,
):
    """Start (and, with ``available_now``, drain) the ingest stream.

    ``available_now=True`` processes everything currently in the
    directory in bounded micro-batches then stops — the deterministic
    test/backfill mode. ``available_now=False`` leaves a continuous
    query running (production tail mode); the caller owns the
    returned StreamingQuery lifecycle."""
    stream = read_documents_stream(
        spark, input_path, max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        stream.writeStream.foreachBatch(
            pipeline_tick_sink(
                catalog, config, with_substr=with_substr, on_tick=on_tick
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .queryName("dedup-pipeline-ticks")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
