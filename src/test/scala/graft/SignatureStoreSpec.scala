package graft

import java.nio.file.{Files, Paths}

import graft.operators.Dedup
import graft.sources.{SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The committed MinHash signature table (VERDICT r3 #4): signatures written+manifested
 * through the same snapshot protocol as extraction output must (a) yield exactly the
 * in-memory path's pairs, (b) resume as a no-op when verified, and (c) heal a
 * corrupted/invalidated bucket by re-deriving ONLY that bucket.
 */
class SignatureStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def docs: DataFrame =
    Dedup.withMutants(spark.read.parquet(s"$sfDir/documents.parquet"))

  private def freshDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-sigspec-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("committed signature path == in-memory path; manifest accounts for every band row") {
    val dir = freshDir("parity")
    val committed = pairSet(Dedup.neardupPairsCommitted(docs, dir))
    val inMemory = pairSet(Dedup.neardupPairs(docs))
    assert(committed === inMemory)
    assert(committed.nonEmpty)

    val manifest = SnapshotSink.readManifest(spark, dir)
    assert(manifest.map(_.bucket).sorted === (0L until Dedup.SigBuckets))
    assert(manifest.map(_.rows).sum === Dedup.minhashBands(docs).count())
  }

  test("verified signature table resumes as a no-op; a corrupted bucket heals alone") {
    val dir = freshDir("resume")
    val bands = Dedup.minhashBands(docs)
      .withColumn("bucket", pmod(hash(col("doc_id")), lit(Dedup.SigBuckets)).cast("int"))
    val first = TableSnapshot.run(bands, dir, Dedup.SigBuckets)
    assert(first.processed.sorted === (0L until Dedup.SigBuckets))

    // clean resume: everything verifies, nothing recomputes
    val again = TableSnapshot.run(bands, dir, Dedup.SigBuckets)
    assert(again.processed.isEmpty)
    assert(again.skipped.sorted === (0L until Dedup.SigBuckets))

    // in-place corruption (size-preserving): deep verify invalidates ONLY that bucket
    val victim = 5L
    val dataFile = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(dir, "data", s"bucket=$victim"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    val raw = Files.readAllBytes(dataFile)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x01).toByte
    Files.write(dataFile, raw)
    val healed = TableSnapshot.run(bands, dir, Dedup.SigBuckets)
    assert(healed.invalidated === Seq(victim))
    assert(healed.processed === Seq(victim))

    // and the healed table is byte-equal in content to a fresh derivation
    val back = SnapshotSink.readCommitted(spark, dir).drop("bucket")
    assert(back.count() === bands.count())
    assert(back.exceptAll(bands.drop("bucket")).count() === 0)
  }

  test("read path (metadata tier only) still heals size-changing damage") {
    val dir = freshDir("fasttier")
    val before = pairSet(Dedup.neardupPairsCommitted(docs, dir))
    // truncate one committed signature file: the names+sizes tier that runs on
    // EVERY read must invalidate and re-derive that bucket (the deep byte-hash
    // tier is the verifySnapshot audit, not a per-read cost)
    val victim = SnapshotSink.readManifest(spark, dir).find(_.rows > 0).get
    Files.write(
      Paths.get(dir, "data", s"bucket=${victim.bucket}", victim.files.head),
      Array[Byte](0))
    assert(pairSet(Dedup.neardupPairsCommitted(docs, dir)) === before)
    // healed: the manifest verifies clean again
    val again = TableSnapshot.run(
      Dedup.minhashBands(docs).withColumn("bucket",
        pmod(hash(col("doc_id")), lit(Dedup.SigBuckets)).cast("int")),
      dir, Dedup.SigBuckets)
    assert(again.processed.isEmpty)

    // a same-size byte flip passes the metadata tier: the read path commits nothing
    // (the flipped table is never collected — its pages would fail to read)
    val flipped = SnapshotSink.readManifest(spark, dir).find(_.rows > 0).get
    val flipFile = Paths.get(dir, "data", s"bucket=${flipped.bucket}", flipped.files.head)
    val raw = Files.readAllBytes(flipFile)
    raw(raw.length / 2) = (raw(raw.length / 2) ^ 0x01).toByte
    Files.write(flipFile, raw)
    val versions = SnapshotSink.versions(dir)
    val manifest = SnapshotSink.readManifest(spark, dir)
    Dedup.committedBands(docs, dir)
    assert(SnapshotSink.versions(dir) === versions)
    assert(SnapshotSink.readManifest(spark, dir) === manifest)
    // ... and the deep tier of TableSnapshot.run invalidates exactly that bucket
    val deep = TableSnapshot.run(
      Dedup.minhashBands(docs).withColumn("bucket",
        pmod(hash(col("doc_id")), lit(Dedup.SigBuckets)).cast("int")),
      dir, Dedup.SigBuckets)
    assert(deep.invalidated === Seq(flipped.bucket))
  }

  test("takedown cascade: deleteIds removes a doc's signatures, bucket-granular") {
    val dir = freshDir("takedown")
    Dedup.committedBands(docs, dir) // initial commit
    val before = SnapshotSink.readCommitted(spark, dir)
    val beforeCount = before.count() // eager: file listings go stale after rewrite
    val allIds = before.select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val victims = allIds.toSeq.sorted.take(3)

    // bytes of buckets that cannot contain the victims must stay untouched
    val victimBuckets = victims
      .map(id => before.sparkSession.range(1).select(
        pmod(hash(lit(id)), lit(Dedup.SigBuckets))).head.getInt(0).toLong)
      .toSet
    val untouched = SnapshotSink.readManifest(spark, dir)
      .filterNot(e => victimBuckets.contains(e.bucket))
    def fileBytes(e: SnapshotSink.ManifestEntry): Seq[(String, Long)] =
      e.files.map { f =>
        val p = Paths.get(dir, "data", s"bucket=${e.bucket}", f)
        f -> Files.size(p)
      }
    val bytesBefore = untouched.map(e => e.bucket -> fileBytes(e)).toMap

    val report = TableSnapshot.deleteIds(spark, dir, victims, "doc_id")
    assert(report.deletedRows === victims.size * 4L, "4 band rows per doc")
    assert(report.rewrittenBuckets.map(_ % Dedup.SigBuckets).toSet.subsetOf(victimBuckets))

    val after = SnapshotSink.readCommitted(spark, dir)
    assert(after.filter(col("doc_id").isInCollection(victims)).count() === 0L)
    // bystanders intact: exactly the non-victim rows remain
    assert(after.count() === beforeCount - victims.size * 4L)
    // untouched buckets byte-identical
    untouched.foreach { e =>
      assert(fileBytes(e) === bytesBefore(e.bucket), s"bucket ${e.bucket} rewritten")
    }
    // the manifest still verifies: a rerun resumes as a no-op (no heal resurrects)
    val again = TableSnapshot.run(
      Dedup.minhashBands(docs).withColumn("bucket",
        pmod(hash(col("doc_id")), lit(Dedup.SigBuckets)).cast("int")),
      dir, Dedup.SigBuckets)
    assert(again.processed.isEmpty, "post-delete manifest must verify clean")
    assert(SnapshotSink.readCommitted(spark, dir)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L,
      "a verifying resume must not resurrect deleted ids")
  }
}
