package graft.streaming

import graft.operators.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Structured Streaming form of the extraction pipeline.
 *
 * The reference is strictly batch (no streaming construct anywhere in its tree —
 * SURVEY.md §2.9), and the engine's durable resume story is the snapshot manifest
 * ([[graft.sources.SnapshotSink]]). This module is the INGESTION surface on top: new
 * interleaved-document files appear in a table directory, the SAME extractFlat
 * transform runs over `readStream` (every op in the flat pipeline — explode, filter,
 * the typed mapPartitions OCR island, union — is stateless, so it is streaming-legal
 * in append mode unchanged), and the checkpointed file-source offsets give
 * exactly-once: a restarted stream re-reads nothing it has committed.
 *
 * Scale notes: the streaming plan is the batch plan — no extra shuffle; file-source
 * listing is incremental; `Trigger.AvailableNow` drains the backlog with the batch
 * engine's full parallelism and stops (the deploy mode for catch-up+exit jobs).
 */
object StreamingExtract {

  /** Streaming extractFlat over a parquet table directory being appended to. */
  def stream(spark: SparkSession, tableDir: String): DataFrame =
    ExtractPipeline.extractFlat(
      StreamSource.table(spark, tableDir, maxFilesPerTrigger = Some(16)))

  /** Drain everything currently in `tableDir` into `outDir` exactly once
    * (re-invocations with the same checkpoint only process NEW files). */
  def drainOnce(spark: SparkSession, tableDir: String, outDir: String,
      checkpointDir: String): Unit =
    StreamSource.drainParquet(stream(spark, tableDir), outDir, checkpointDir)

  /**
   * [[drainOnce]] with LINEAGE PARITY: every micro-batch commits through the same
   * snapshot protocol as the batch sink
   * ([[graft.sources.SnapshotSink.commitStreamBatch]] via `foreachBatch`) — staged
   * write with observed metrics, footer row check, atomic per-bucket publish,
   * distributed file hashing, manifest republish. Batch and streaming output thus share ONE manifest format
   * and ONE verification path; a crash between the sink commit and the checkpoint
   * advance re-delivers the batch, whose already-committed buckets verify and are
   * SKIPPED (exactly-once without relying on the parquet sink's log).
   *
   * `compactThreshold`: once the drain's checkpoint has settled, a manifest holding
   * more than this many entries is compacted into one canonical generation
   * ([[graft.sources.SnapshotSink.compact]]) — the maintenance knob bounding a
   * long-running stream's directory count. Default never compacts.
   *
   * `toBranch`: streaming write-audit-publish — every micro-batch commits to the
   * named BRANCH ([[graft.sources.SnapshotSink.commitStreamBatch]]'s branch mode):
   * main's HEAD and bytes are untouched while the drain runs, the staged result
   * audits through the branch reads, and
   * [[graft.sources.SnapshotSink.fastForward]] publishes it. Auto-compaction is
   * refused with a branch (compact() operates on HEAD — fast-forward first).
   */
  def drainOnceCommitted(spark: SparkSession, tableDir: String, outDir: String,
      checkpointDir: String, nBuckets: Int = graft.sources.SnapshotSink.DefaultBuckets,
      compactThreshold: Int = Int.MaxValue, toBranch: Option[String] = None): Unit = {
    require(toBranch.isEmpty || compactThreshold == Int.MaxValue,
      "compactThreshold is a HEAD maintenance hook — a branch drain must " +
        "fast-forward before compacting")
    val q = stream(spark, tableDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.SnapshotSink.commitStreamBatch(batch, outDir, batchId, nBuckets,
          toBranch = toBranch)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Maintenance hook: a stream at production cadence accumulates one composite
    // bucket directory per (batch, bucket); compaction keeps the directory count
    // bounded over the stream's lifetime. It MUST run only here, after
    // awaitTermination — the checkpoint has then advanced past every drained batch,
    // so none of them can ever be re-delivered. Compacting while a batch is still
    // un-checkpointed would erase the composite ids its re-delivery skip-checks
    // against, and the re-delivered batch would re-commit rows the new generation
    // already holds (see [[graft.sources.SnapshotSink.compact]]'s scaladoc).
    if (graft.sources.SnapshotSink.readManifest(spark, outDir).size > compactThreshold)
      graft.sources.SnapshotSink.compact(spark, outDir)
  }

  /**
   * Watermarked per-language windowed span counts: event time is derived
   * deterministically from the doc_id (numeric suffix -> seconds past a fixed epoch),
   * 60s tumbling windows, 120s watermark so late documents fold in and state is
   * bounded — the standard streaming-agg shape, emitting only finalized windows in
   * append mode.
   */
  def windowedMetrics(spark: SparkSession, tableDir: String): DataFrame = {
    val flat = stream(spark, tableDir)
      .withColumn("event_ts",
        timestamp_seconds(
          unix_timestamp(to_timestamp(lit("2026-01-01 00:00:00")))
            + substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits).cast("long")))
    flat
      .withWatermark("event_ts", "120 seconds")
      .groupBy(window(col("event_ts"), "60 seconds"), col("lang"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"))
      .select(col("window.start").as("win_start"), col("lang"), col("n_spans"),
        col("n_err"))
  }

  /** Drain the windowed metrics stream once (AvailableNow) into memory sink rows. */
  def drainWindowedMetrics(spark: SparkSession, tableDir: String,
      checkpointDir: String, queryName: String): DataFrame = {
    val q = windowedMetrics(spark, tableDir).writeStream
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }
}
