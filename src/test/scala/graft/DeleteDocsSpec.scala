package graft

import java.nio.file.Paths

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Takedown deletes ([[SnapshotSink.deleteDocs]]): bucket-granular copy-on-write —
 * only the requested ids' buckets are rewritten (to a fresh generation, so their
 * ids become `gen * NB + base`), untouched buckets stay byte-identical, deletion
 * is physical (pre-delete versions referencing the rewritten bucket expire
 * loudly), a takedown is one atomic commit whose job count does not grow with the
 * buckets it rewrites and which never scans its own staged files, a takedown that
 * fails at its commit point leaves every live byte in place, and non-canonical
 * manifests are refused.
 */
class DeleteDocsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-del-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def docIdsInBucket(out: String, b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === b && col("doc_id").isNotNull)
      .select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  /** HEAD's manifest keyed by base bucket (a rewrite changes the id, not the base). */
  private def byBase(out: String): Map[Long, SnapshotSink.ManifestEntry] =
    SnapshotSink.readManifest(spark, out).map(e => (e.bucket % NB) -> e).toMap

  private def logical(out: String): Seq[(String, Int, String)] =
    SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id"), col("offset"), coalesce(col("text"), lit("")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted

  test("delete rewrites only the victims' buckets; other buckets stay byte-identical") {
    val out = tmpDir("cow")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val before = byBase(out)
    val rowsBefore = SnapshotSink.readCommitted(spark, out).count()

    val victims = docIdsInBucket(out, 2L, 2) ++ docIdsInBucket(out, 5L, 1)
    val victimRows = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count()
    assert(victimRows > 0)

    val report = SnapshotSink.deleteDocs(spark, out, victims)
    // rewrites land at a fresh generation: new ids, same bases
    assert(report.rewrittenBuckets === Seq(NB + 2L, NB + 5L))
    assert(report.deletedRows === victimRows)

    val after = byBase(out)
    // untouched buckets: identical file lists AND hashes; victims: new files
    (0L until NB).filterNot(Seq(2L, 5L).contains).foreach { b =>
      assert(after(b) === before(b), s"bucket $b must be byte-identical")
    }
    Seq(2L, 5L).foreach { b =>
      assert(after(b).files !== before(b).files, s"bucket $b must be rewritten")
      assert(after(b).rows < before(b).rows)
    }
    val back = SnapshotSink.readCommitted(spark, out)
    assert(back.count() === rowsBefore - victimRows)
    assert(back.filter(col("doc_id").isInCollection(victims)).count() === 0L)
    // the rewritten snapshot still verifies end-to-end (resume = full no-op)
    val resume = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(resume.processed.isEmpty && resume.invalidated.isEmpty)
  }

  test("a multi-bucket takedown is one version; bystanders survive; unmatched buckets stay") {
    val out = tmpDir("onewave")
    val flat = ExtractPipeline.extractFlat(docs)
      .withColumn("bucket", SnapshotSink.bucketOf(col("doc_id"), NB))
    // one NULL-id row per bucket: no takedown can name it, so every rewrite of its
    // bucket must carry it over
    val bystanders = flat.dropDuplicates("bucket")
      .withColumn("doc_id", lit(null).cast("string"))
      .withColumn("text", concat(lit("bystander:"), col("bucket").cast("string")))
    TableSnapshot.run(flat.unionByName(bystanders), out, NB, waveSize = NB)
    val v0 = SnapshotSink.versions(out).last
    val before = byBase(out)

    val rewrite = Seq(1L, 4L, 6L)
    val victims = rewrite.flatMap(b => docIdsInBucket(out, b, 2))
    // routes to bucket 3, which is therefore affected, but holds no such document
    val absent = f"doc-${8000000000003L}%013d"
    val victimRows = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count()
    assert(victimRows > 0L)

    val report = SnapshotSink.deleteDocs(spark, out, victims :+ absent)
    assert(report === SnapshotSink.DeleteReport(victimRows, rewrite.map(NB + _)))
    assert(SnapshotSink.versions(out).last === v0 + 1, "a takedown publishes one version")

    val after = byBase(out)
    (0L until NB).filterNot(rewrite.contains).foreach { b =>
      assert(after(b) === before(b), s"bucket $b must be byte-identical")
    }
    rewrite.foreach(b => assert(after(b).files !== before(b).files))
    val back = SnapshotSink.readCommitted(spark, out)
    assert(back.filter(col("doc_id").isInCollection(victims)).count() === 0L)
    val kept = back.filter(col("doc_id").isNull)
      .select(pmod(col("bucket").cast("long"), lit(NB.toLong)), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(kept === (0L until NB).map(b => b -> s"bystander:$b"))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("a takedown's job count does not grow with the buckets it rewrites") {
    val out = tmpDir("jobs")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val one = docIdsInBucket(out, 0L, 1)
    val four = Seq(2L, 3L, 5L, 7L).flatMap(b => docIdsInBucket(out, b, 1))
    val (r1, jobs1, scans1) =
      JobCount.withScans(spark)(SnapshotSink.deleteDocs(spark, out, one))
    val (r4, jobs4, scans4) =
      JobCount.withScans(spark)(SnapshotSink.deleteDocs(spark, out, four))
    assert(r1.rewrittenBuckets.map(_ % NB) === Seq(0L) &&
      r4.rewrittenBuckets.map(_ % NB) === Seq(2L, 3L, 5L, 7L))
    // the grouped match count (2 jobs), the staged write (range sample, shuffle map
    // stage, write) and the md5 hash job: the lineage metrics are observed during
    // the write, so no job reads the staged files back (that grouped re-read was
    // 2 more jobs)
    assert(jobs1 === 6 && jobs4 === jobs1,
      s"1-bucket takedown ran $jobs1 jobs, 4-bucket takedown $jobs4")
    val staged = (scans1 ++ scans4).filter(_.contains(s"$out/staging/"))
    assert(scans1.nonEmpty && staged.isEmpty, s"a commit scanned its staging: $staged")
  }

  test("deletion is physical: pre-delete versions expire loudly; absent ids are free") {
    val out = tmpDir("expire")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val v1 = SnapshotSink.versions(out).last

    // absent id: no rewrite, nothing deleted, manifest untouched
    val noop = SnapshotSink.deleteDocs(spark, out,
      Seq(f"doc-${9999999999999L}%013d"))
    assert(noop === SnapshotSink.DeleteReport(0L, Seq.empty))
    assert(SnapshotSink.versions(out).last === v1)

    val victim = docIdsInBucket(out, 3L, 1)
    SnapshotSink.deleteDocs(spark, out, victim)
    assert(SnapshotSink.versions(out).last === v1 + 1)
    // the pre-delete version referenced bucket 3's old files — now reclaimed
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.readCommittedAt(spark, out, v1).count()
    }
    assert(ex.getMessage.contains("EXPIRED"))
  }

  test("deleting every doc of a bucket leaves a legal empty bucket") {
    val out = tmpDir("empty")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val all = SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === 6).select(col("doc_id")).distinct()
      .collect().map(_.getString(0)).toSeq
    val report = SnapshotSink.deleteDocs(spark, out, all)
    assert(report.rewrittenBuckets === Seq(NB + 6L))
    val entry = byBase(out)(6L)
    assert(entry.bucket === NB + 6L && entry.rows === 0L && entry.files.isEmpty)
    assert(SnapshotSink.readCommitted(spark, out)
      .filter(pmod(col("bucket"), lit(NB)) === 6).count() === 0L)
  }

  test("a takedown that fails at its manifest publish loses no byte; re-running converges") {
    val out = tmpDir("crash")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val victims = docIdsInBucket(out, 2L, 2) ++ docIdsInBucket(out, 5L, 1)
    val head = SnapshotSink.readState(Paths.get(out)).head
    val before = logical(out)
    intercept[PublishFault.Injected] {
      SnapshotSink.deleteDocs(spark, out, victims, io = PublishFault.atManifest)
    }
    // HEAD has not moved and every file it lists is still there
    assert(SnapshotSink.readState(Paths.get(out)).head === head)
    assert(logical(out) === before)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)

    val report = SnapshotSink.deleteDocs(spark, out, victims)
    val expected = before.filterNot(r => victims.contains(r._1))
    assert(report.deletedRows === (before.size - expected.size).toLong)
    assert(logical(out) === expected)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("non-canonical (multi-generation) manifests are refused") {
    val out = tmpDir("refuse")
    val flat = ExtractPipeline.extractFlat(docs)
    SnapshotSink.commitStreamBatch(flat, out, batchId = 0L, NB)
    SnapshotSink.commitStreamBatch(flat.limit(0), out, batchId = 1L, NB)
    val victim = f"doc-${0L}%013d"
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.deleteDocs(spark, out, Seq(victim))
    }
    assert(ex.getMessage.contains("compact"))
  }
}
