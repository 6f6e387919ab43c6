package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The bucket count is part of a table's recorded layout: the commit that creates
 * the table records it in the state record, takedowns, merges and compaction
 * route with it, and a creating writer that names another count is refused
 * before any Spark job. A table without a recorded count is refused, naming the
 * rebuild — the count is never inferred from the manifest.
 */
class RecordedBucketsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-nb-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def stateFiles(out: String): Seq[String] = {
    val stream = Files.list(Paths.get(out))
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("state-")).toSeq.sorted
    finally stream.close()
  }

  private def numericId(id: String): Long = id.drop(4).toLong

  test("a 4-bucket table's takedowns route with the recorded count: every victim goes") {
    val out = tmpDir("del4")
    SnapshotSink.run(docs, out, nBuckets = 4, waveSize = 4)
    // ids an 8-bucket routing would send to base buckets 4-7, which this table lacks
    val victims = SnapshotSink.readCommitted(spark, out).select(col("doc_id")).distinct()
      .collect().map(_.getString(0)).filter(numericId(_) % 8 >= 4).sorted.take(5).toSeq
    assert(victims.size === 5)
    val victimRows = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count()
    val report = SnapshotSink.deleteDocs(spark, out, victims)
    assert(report.deletedRows === victimRows)
    assert(SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)

    val derived = tmpDir("ids4")
    TableSnapshot.runHashBucketed(
      spark.range(0L, 400L).select(col("id").as("doc_id"), (col("id") * 3L).as("v")),
      "doc_id", derived, 4)
    val ids = spark.range(0L, 400L)
      .filter(pmod(hash(col("id")), lit(8)) >= 4).orderBy(col("id")).limit(40)
      .collect().map(_.longValue).toSeq
    assert(ids.size === 40)
    assert(TableSnapshot.deleteIds(spark, derived, ids).deletedRows === 40L)
    val left = SnapshotSink.readCommitted(spark, derived)
    assert(left.filter(col("doc_id").isInCollection(ids)).count() === 0L)
    assert(left.count() === 360L)
  }

  test("a creating writer with another bucket count is refused before any Spark job") {
    val out = tmpDir("wrongnb")
    SnapshotSink.run(docs, out, nBuckets = 8, waveSize = 8)
    val versions = SnapshotSink.versions(out)
    val states = stateFiles(out)
    val state = SnapshotSink.readState(Paths.get(out))
    val input = docs // built outside the count: reading its footers is a job
    val flat = ExtractPipeline.extractFlat(input)
    val (_, jobs) = JobCount(spark) {
      Seq[() => Any](
        () => SnapshotSink.run(input, out, nBuckets = 16, waveSize = 16),
        () => SnapshotSink.commitStreamBatch(flat, out, batchId = 0L, nBuckets = 16),
        () => TableSnapshot.run(flat.withColumn("bucket", lit(0)), out, nBuckets = 16)
      ).foreach { op =>
        val ex = intercept[IllegalArgumentException](op())
        assert(ex.getMessage.contains("records 8 buckets"), ex.getMessage)
      }
    }
    assert(jobs === 0)
    assert(SnapshotSink.versions(out) === versions)
    assert(stateFiles(out) === states)
    assert(SnapshotSink.readState(Paths.get(out)) === state)
  }

  test("a committed table without a recorded bucket count is refused, naming the rebuild") {
    val out = tmpDir("nocount")
    SnapshotSink.run(docs, out, nBuckets = 8, waveSize = 8)
    val victim = SnapshotSink.readCommitted(spark, out).select(col("doc_id"))
      .orderBy(col("doc_id")).head().getString(0)
    // the state record as a table written before counts were recorded has it
    val last = Paths.get(out, stateFiles(out).last)
    val n = stateFiles(out).last.stripPrefix("state-").stripSuffix(".json").toLong
    Files.writeString(Paths.get(out, f"state-${n + 1}%06d.json"),
      Files.readString(last).replaceAll(",?\"nBuckets\":\\d+", ""))
    val updates = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id") === victim).drop("bucket")
    val versions = SnapshotSink.versions(out)
    Seq[() => Any](
      () => SnapshotSink.deleteDocs(spark, out, Seq(victim)),
      () => SnapshotSink.upsertDocs(spark, out, updates),
      () => SnapshotSink.compact(spark, out)).foreach { op =>
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("no recorded bucket count") &&
        ex.getMessage.contains("rebuild"), ex.getMessage)
    }
    assert(SnapshotSink.versions(out) === versions)
  }
}
