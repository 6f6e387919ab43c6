package graft

import java.nio.file.Paths

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingestion: the streaming plan produces exactly the batch extraction, and
  * the checkpointed file source is exactly-once across restarts — only files that
  * arrived after the last drain are processed by the next one. */
class StreamingExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-stream-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("doc_id"), col("offset"), col("kind"), col("text"),
        coalesce(col("media_ref"), lit("")), col("ok").cast("int"),
        coalesce(col("error"), lit("")))
      .collect().map(_.mkString("|")).sorted.toSeq

  test("streaming extractFlat == batch extractFlat; restart processes only new files") {
    val table = tmp("table"); val out = tmp("out"); val ckpt = tmp("ckpt")

    // batch 1: first half of the corpus arrives
    val docs = Interleave.docs(spark, sfDir)
    val half1 = docs.filter(substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits).cast("long") < 250)
    val half2 = docs.filter(substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits).cast("long") >= 250)
    half1.write.mode("append").parquet(table)
    StreamingExtract.drainOnce(spark, table, out, ckpt)
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0)

    // batch 2 arrives; a RESTARTED stream (same checkpoint) must only read new files
    half2.write.mode("append").parquet(table)
    StreamingExtract.drainOnce(spark, table, out, ckpt)

    val streamed = canon(spark.read.parquet(out))
    val batch = canon(ExtractPipeline.extractFlat(docs))
    assert(streamed === batch) // no loss, no duplication across the restart
    assert(streamed.size > afterFirst)
  }

  test("committed streaming drain: snapshot-protocol lineage, re-delivered batch skips committed buckets") {
    val table = tmp("ctable"); val out = tmp("cout"); val ckpt = tmp("cckpt")
    val docs = Interleave.docs(spark, sfDir)
    // 4 files < maxFilesPerTrigger=16 => the drain is exactly ONE micro-batch
    // (batchId 0), which the re-delivery calls below replay
    docs.repartition(4).write.mode("append").parquet(table)

    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt)

    // lineage parity: the streaming output carries the SAME manifest format, with
    // per-bucket metrics accounting for every span
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.nonEmpty)
    val batch = canon(ExtractPipeline.extractFlat(docs))
    assert(canon(SnapshotSink.readCommitted(spark, out)) === batch)
    assert(manifest.map(_.n_spans).sum === batch.size)
    assert(manifest.forall(_.engine_version.nonEmpty))

    // re-delivery of an already-committed batch (foreachBatch replay after a crash
    // between sink commit and checkpoint advance): all ids verify -> all skipped
    val flat0 = ExtractPipeline.extractFlat(spark.read.parquet(table))
    assert(SnapshotSink.commitStreamBatch(flat0, out, batchId = 0L) === Seq.empty)

    // partial re-delivery: one bucket's data lost mid-crash -> ONLY it is
    // re-committed, the others' bytes untouched (committed-bucket skip, streaming)
    val ids = manifest.map(_.bucket).sorted
    val victim = ids.head
    def bytes(b: Long): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(Paths.get(out, "data", s"bucket=$b"))
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => p.getFileName.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    val before = ids.tail.map(b => b -> bytes(b)).toMap
    SnapshotSink.deleteRecursively(Paths.get(out, "data", s"bucket=$victim"))
    assert(SnapshotSink.commitStreamBatch(flat0, out, batchId = 0L) === Seq(victim))
    ids.tail.foreach(b => assert(bytes(b) === before(b), s"bucket $b"))
    assert(canon(SnapshotSink.readCommitted(spark, out)) === batch)

    // deep-verify parity with the batch path (ADVICE r3): in-place corruption that
    // PRESERVES file size passes the metadata tier; the re-delivered batch must still
    // re-extract the bucket via the distributed content-hash tier, not skip it
    val deepVictim = ids.last
    val dataFile = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(Paths.get(out, "data", s"bucket=$deepVictim"))
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val raw = java.nio.file.Files.readAllBytes(dataFile)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x01).toByte
    java.nio.file.Files.write(dataFile, raw) // same size, different bytes
    assert(SnapshotSink.commitStreamBatch(flat0, out, batchId = 0L) === Seq(deepVictim))
    assert(canon(SnapshotSink.readCommitted(spark, out)) === batch)
  }

  test("drain's compactThreshold hook collapses settled batches into one generation") {
    val table = tmp("mtable"); val out = tmp("mout"); val ckpt = tmp("mckpt")
    val docs = Interleave.docs(spark, sfDir)
    val key = substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits)
      .cast("long")
    val batchTotal = canon(ExtractPipeline.extractFlat(docs))

    // two drains (two checkpointed micro-batches), each appending half the corpus;
    // threshold 8 = one canonical generation's worth, so the second drain compacts
    docs.filter(key < 250).repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt, compactThreshold = 8)
    assert(SnapshotSink.readManifest(spark, out).size === 8) // one batch: no compact
    docs.filter(key >= 250).repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt, compactThreshold = 8)

    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.size === 8) // 16 composite entries compacted to one generation
    assert(manifest.map(_.bucket % 8).sorted === (0L until 8L))
    assert(manifest.map(_.bucket / 8).distinct.size === 1)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === batchTotal)

    // a THIRD drain after the compaction: the stream's next batchId is numerically
    // the compacted generation, which under batchId-addressing was silently
    // swallowed by the skip-verify (permanent loss). Through the checkpointed
    // streaming entry the sidecar allocation must land it on a fresh generation.
    val d = graft.sources.Interleave.DocIdDigits
    val extra = docs.filter(key < 100)
      .withColumn("doc_id", format_string(s"doc-%0${d}d", key + 600000))
    extra.repartition(2).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt, compactThreshold = 999)
    val m3 = SnapshotSink.readManifest(spark, out)
    assert(m3.size === 16, "post-compaction micro-batch swallowed")
    assert(m3.map(_.bucket).max >= 3L * 8, "batch must land past the compacted generation")
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === (batchTotal ++ canon(ExtractPipeline.extractFlat(extra))).sorted)
  }

  test("watermarked windowed metrics finalize closed windows and match batch counts") {
    val table = tmp("wtable"); val ckpt = tmp("wckpt")
    Interleave.docs(spark, sfDir).write.mode("append").parquet(table)
    val got = StreamingExtract
      .drainWindowedMetrics(spark, table, ckpt, "win_metrics")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got.nonEmpty)

    // batch mirror of the same window arithmetic; AvailableNow finalizes every window
    // whose end precedes max(event_ts) - watermark, so expect that subset
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
      .withColumn("sec", substring(col("doc_id"), 5, graft.sources.Interleave.DocIdDigits).cast("long"))
    val epoch = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val maxSec = flat.agg(max(col("sec"))).collect()(0).getLong(0)
    val expected = flat
      .withColumn("win", (col("sec") - pmod(col("sec"), lit(60L))))
      .groupBy(col("win"), col("lang"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"))
      .filter(col("win") + 60 <= maxSec - 120) // only watermark-closed windows
      .collect()
      .map(r => (epoch + r.getLong(0) * 1000L, r.getString(1), r.getLong(2),
        r.getLong(3)))
      .toSet
    assert(got === expected)
  }
}
