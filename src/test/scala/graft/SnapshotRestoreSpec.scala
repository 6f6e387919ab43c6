package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Interleave, SnapshotSink}
import graft.sources.SnapshotSink.Version
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * ROLLBACK ([[SnapshotSink.restore]] — the Iceberg `rollback` / Delta RESTORE
 * analogue): republishing an old version's manifest as a NEW version is
 * metadata-only (no data file read, written, moved, or touched), keeps the
 * rolled-back-FROM versions readable, and fails LOUDLY when the target version's
 * files were physically reclaimed (takedown rewrite, vacuum) — a rollback can
 * never resurrect deleted bytes. The oracle-gated form is
 * `SparkEntry.snapshot_restore`; this spec covers what the flat query can't
 * express: byte-identity of the data directory, tamper detection via deepVerify,
 * tag preservation, and the vacuum/GC interplay.
 */
class SnapshotRestoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-restore-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  /** Every data file under out/data as (relative path, size, mtime) — the
    * metadata-only invariant: restore must leave this EXACTLY unchanged. */
  private def dataState(out: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(out, "data")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)
    }.toSeq.sorted
    finally stream.close()
  }

  private def contentOf(df: DataFrame): Seq[(String, Int)] =
    df.select(col("doc_id"), col("offset").cast("int"))
      .collect().map(r => (r.getString(0), r.getInt(1))).sorted.toSeq

  test("restore is a metadata-only rollback; history keeps every version readable") {
    val out = tmpDir("basic")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB / 2) // v1, v2
    val v1Content = contentOf(SnapshotSink.readCommitted(spark, out, Version(1L)))
    val v2Content = contentOf(SnapshotSink.readCommitted(spark, out, Version(2L)))
    val filesBefore = dataState(out)

    val report = SnapshotSink.restore(spark, out, toVersion = 1L)
    assert(report === SnapshotSink.RestoreReport(1L, 3L, NB / 2))
    assert(SnapshotSink.versions(out) === Seq(1L, 2L, 3L))

    // metadata-only: not one data file was added, removed, resized, or rewritten
    assert(dataState(out) === filesBefore)
    // HEAD now reads exactly v1's rows; the restored version is v1's manifest
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === v1Content)
    assert(SnapshotSink.readManifest(spark, out, Version(3L)) ===
      SnapshotSink.readManifest(spark, out, Version(1L)))
    // the rolled-back-FROM version is auditable history, not erased
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Version(2L))) === v2Content)

    // restore FORWARD again (undo the rollback): just another restore
    val fwd = SnapshotSink.restore(spark, out, toVersion = 2L)
    assert(fwd === SnapshotSink.RestoreReport(2L, 4L, NB))
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === v2Content)

    // a version outside history is a clean miss
    assert(intercept[IllegalArgumentException] {
      SnapshotSink.restore(spark, out, toVersion = 9L)
    }.getMessage.contains("not in history"))
  }

  test("restore after a physical takedown fails loudly — deleted bytes stay deleted") {
    val out = tmpDir("takedown")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    val victim = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(1).collect().head.getString(0)
    SnapshotSink.deleteDocs(spark, out, Seq(victim)) // v2: victim's bucket rewritten

    val ex = intercept[IllegalStateException] {
      SnapshotSink.restore(spark, out, toVersion = 1L)
    }
    assert(ex.getMessage.contains("EXPIRED"))
    assert(ex.getMessage.contains("resurrect"))
    // the failed restore published NOTHING
    assert(SnapshotSink.versions(out) === Seq(1L, 2L))
    assert(!SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id") === victim).head(1).nonEmpty)
  }

  test("deepVerify catches a same-size byte flip that the metadata tier cannot") {
    val out = tmpDir("tamper")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    // flip one byte in place in some committed data file: sizes (tier 1) still match
    val f: Path = {
      val root = Paths.get(out, "data")
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq.head
      finally stream.close()
    }
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff.toByte).toByte
    Files.write(f, bytes)

    // tier 1 (names+sizes) passes — the tampered rollback would publish
    assert(SnapshotSink.restore(spark, out, toVersion = 1L).newVersion === 2L)
    // the deep tier re-hashes every referenced byte distributedly and refuses
    val ex = intercept[IllegalStateException] {
      SnapshotSink.restore(spark, out, toVersion = 1L, deepVerify = true)
    }
    assert(ex.getMessage.contains("EXPIRED"))
  }

  test("restore leaves tags alone; vacuum after rollback expires the abandoned wave") {
    val out = tmpDir("vacuum")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB / 2) // v1, v2
    SnapshotSink.tag(out, "prod", 2L)
    SnapshotSink.restore(spark, out, toVersion = 1L) // v3 = v1's file set
    assert(SnapshotSink.tags(out) === Map("prod" -> 2L)) // tags pin versions, not HEAD

    // wave-2 buckets are now unreferenced by HEAD: vacuum reclaims exactly them,
    // which EXPIRES v2 (Delta VACUUM breaking time travel beyond retention) while
    // HEAD and the restored version keep reading
    val removed = SnapshotSink.vacuum(spark, out).sorted
    assert(removed === (NB / 2 until NB).map(b => s"bucket=$b"))
    assert(intercept[IllegalArgumentException] {
      SnapshotSink.readCommitted(spark, out, Version(2L))
    }.getMessage.contains("EXPIRED"))
    val head = SnapshotSink.readCommitted(spark, out)
    assert(head.count() ===
      SnapshotSink.readManifest(spark, out).map(_.rows).sum)
    assert(contentOf(head) ===
      contentOf(SnapshotSink.readCommitted(spark, out, Version(3L))))
  }
}
