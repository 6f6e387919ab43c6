package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Interleave, SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Manifest time travel (Iceberg metadata-version parity): every manifest publish also
 * writes an immutable `manifest-v%06d.json` history file, and a historical version is
 * readable — metadata ([[SnapshotSink.readManifestAt]]) and data
 * ([[SnapshotSink.readCommittedAt]]) — until the protocol's GC points (compaction
 * source delete, vacuum, invalidated-bucket rebuild: the `expireSnapshots` analogue)
 * reclaim the files it references, after which the read fails LOUDLY, never silently
 * short. The oracle-gated form is `SparkEntry.snapshot_timetravel`; this spec covers
 * the behaviors the flat query can't express (expiration, resume history, pruning).
 */
class SnapshotTimeTravelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-travel-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  test("each wave publishes one history version; every version reads back consistently") {
    val out = tmpDir("waves")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3) // waves: 3+3+2
    assert(SnapshotSink.versions(out) === Seq(1L, 2L, 3L))

    // HEAD == the last history version, and versions grow monotonically
    val head = SnapshotSink.readManifest(spark, out)
    assert(SnapshotSink.readManifestAt(spark, out, 3L) === head)
    val sizes = (1L to 3L).map(SnapshotSink.readManifestAt(spark, out, _).size)
    assert(sizes === Seq(3, 6, 8))

    // the version-resolved DATA scan matches each version's manifest exactly:
    // row count AND the bucket set (append-only history => all versions readable)
    (1L to 3L).foreach { v =>
      val entries = SnapshotSink.readManifestAt(spark, out, v)
      val got = SnapshotSink.readCommittedAt(spark, out, v)
      assert(got.count() === entries.map(_.rows).sum)
      assert(got.select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq ===
        entries.filter(_.rows > 0).map(_.bucket).sorted)
    }
  }

  test("resume appends history; rebuilding a bucket expires versions that referenced it") {
    val out = tmpDir("resume")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(SnapshotSink.versions(out) === Seq(1L))
    val before = SnapshotSink.readCommittedAt(spark, out, 1L).count()

    // invalidate one bucket and resume: one new wave commit => version 2
    SnapshotSink.deleteRecursively(Paths.get(out, "data", "bucket=2"))
    val report = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(report.processed === Seq(2L))
    assert(SnapshotSink.versions(out) === Seq(1L, 2L))

    // version 2 is the healed table, same totals
    assert(SnapshotSink.readCommittedAt(spark, out, 2L).count() === before)

    // version 1 referenced the ORIGINAL bucket-2 files, which the rebuild replaced —
    // the expireSnapshots analogue. The read must fail loudly, not return short.
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.readCommittedAt(spark, out, 1L)
    }
    assert(ex.getMessage.contains("EXPIRED"))
    // ... while its METADATA stays readable (lineage history survives data GC)
    assert(SnapshotSink.readManifestAt(spark, out, 1L).size === NB)
  }

  test("expireVersions prunes history files, keeps HEAD, and refuses negatives") {
    val out = tmpDir("expire")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 2) // 4 waves => 4 versions
    assert(SnapshotSink.versions(out) === Seq(1L, 2L, 3L, 4L))

    assert(SnapshotSink.expireVersions(out, keepLast = 2) === Seq(1L, 2L))
    assert(SnapshotSink.versions(out) === Seq(3L, 4L))
    // HEAD untouched; the surviving versions still resolve
    assert(SnapshotSink.readManifest(spark, out).size === NB)
    assert(SnapshotSink.readCommittedAt(spark, out, 4L).count() ===
      SnapshotSink.readManifest(spark, out).map(_.rows).sum)
    // a pruned version is a clean miss with the available list in the message
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.readManifestAt(spark, out, 1L)
    }
    assert(ex.getMessage.contains("no manifest version 1"))
    assert(intercept[IllegalArgumentException] {
      SnapshotSink.expireVersions(out, -1)
    }.getMessage.contains("keepLast"))

    // a later commit continues AFTER the highest ever used, never reusing a number
    SnapshotSink.deleteRecursively(Paths.get(out, "data", "bucket=0"))
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(SnapshotSink.versions(out) === Seq(3L, 4L, 5L))
  }

  test("incremental diff: a healed bucket is the ONLY change; new waves are additive") {
    val out = tmpDir("changes")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 4) // v1 = 0..3, v2 = all
    assert(SnapshotSink.changedBuckets(spark, out, 1L, 2L) === (4L until NB))
    assert(SnapshotSink.changedBuckets(spark, out, 2L, 2L) === Seq.empty) // reflexive
    val secondWaveRows = SnapshotSink.readManifest(spark, out)
      .filter(_.bucket >= 4).map(_.rows).sum
    assert(SnapshotSink.readChangesBetween(spark, out, 1L, 2L).count() ===
      secondWaveRows)

    // heal one bucket: the diff v2 -> v3 is exactly the victim — identical LOGICAL
    // rows, but new physical files, which an incremental consumer must see
    SnapshotSink.deleteRecursively(Paths.get(out, "data", "bucket=6"))
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(SnapshotSink.versions(out) === Seq(1L, 2L, 3L))
    assert(SnapshotSink.changedBuckets(spark, out, 2L, 3L) === Seq(6L))
    val victimRows = SnapshotSink.readManifest(spark, out)
      .find(_.bucket == 6L).get.rows
    val inc = SnapshotSink.readChangesBetween(spark, out, 2L, 3L)
    assert(inc.count() === victimRows)
    assert(inc.select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(6L))
    // spanning diff (v1 -> v3) = second wave + the heal, deduplicated
    assert(SnapshotSink.changedBuckets(spark, out, 1L, 3L) === (4L until NB))
  }

  test("incremental diff across compaction: the new generation's ids are the changes") {
    import graft.operators.ExtractPipeline
    val out = tmpDir("chgcompact")
    val flat = ExtractPipeline.extractFlat(docs)
    SnapshotSink.commitStreamBatch(flat, out, batchId = 0L, NB) // v1: ids 0..7
    val vBefore = SnapshotSink.versions(out).last
    SnapshotSink.commitStreamBatch(flat.limit(0), out, batchId = 1L, NB) // v2: empty batch
    val report = SnapshotSink.compact(spark, out)
    assert(!report.noop)
    val vAfter = SnapshotSink.versions(out).last
    val changed = SnapshotSink.changedBuckets(spark, out, vBefore, vAfter)
    // every surviving id is a new-generation id; old composite ids are gone from HEAD
    assert(changed.nonEmpty && changed.forall(_ >= report.generation * NB))
    assert(SnapshotSink.readChangesBetween(spark, out, vBefore, vAfter).count() ===
      SnapshotSink.readManifest(spark, out).map(_.rows).sum)
  }

  test("named refs: tags resolve reads, pin metadata against expiration, and move") {
    val out = tmpDir("tags")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3) // versions 1..3
    assert(SnapshotSink.tags(out) === Map.empty)

    // a tag can never be born dangling
    intercept[IllegalArgumentException] { SnapshotSink.tag(out, "prod", 9L) }
    intercept[IllegalArgumentException] { SnapshotSink.tag(out, "bad name!", 1L) }

    SnapshotSink.tag(out, "run-7", 1L)
    SnapshotSink.tag(out, "prod", 3L)
    assert(SnapshotSink.tags(out) === Map("run-7" -> 1L, "prod" -> 3L))

    // tag-resolved reads == version-resolved reads (metadata and data)
    assert(SnapshotSink.lineageAtTag(spark, out, "run-7").count() === 3L)
    assert(SnapshotSink.readCommittedAtTag(spark, out, "run-7").count() ===
      SnapshotSink.readCommittedAt(spark, out, 1L).count())
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.readCommittedAtTag(spark, out, "nope")
    }
    assert(ex.getMessage.contains("prod") && ex.getMessage.contains("run-7"))

    // expiration keeps tagged versions: keepLast=1 would drop v1 and v2, but
    // run-7 pins v1 — only the untagged v2 goes
    assert(SnapshotSink.expireVersions(out, keepLast = 1) === Seq(2L))
    assert(SnapshotSink.versions(out) === Seq(1L, 3L))
    assert(SnapshotSink.readCommittedAtTag(spark, out, "run-7").count() > 0)

    // retag moves the pointer; dropTag releases the pin and the next expire
    // reclaims the version
    SnapshotSink.tag(out, "run-7", 3L)
    assert(SnapshotSink.tags(out)("run-7") === 3L)
    SnapshotSink.dropTag(out, "run-7")
    SnapshotSink.dropTag(out, "run-7") // idempotent
    assert(SnapshotSink.expireVersions(out, keepLast = 1) === Seq(1L))
    assert(SnapshotSink.versions(out) === Seq(3L)) // v3 still pinned by 'prod' + keepLast
  }

  test("an old-layout table root is refused loudly, naming the retired file") {
    val out = tmpDir("oldlayout")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    // the seven-file layout kept HEAD, refs and ledgers in replaced sidecar files;
    // a root holding one of them and no state record must never read as empty
    val stream = Files.list(Paths.get(out))
    try stream.iterator().asScala
      .filter(_.getFileName.toString.startsWith("state-")).foreach(Files.delete)
    finally stream.close()
    Seq("manifest.json", "refs.json", "branches.json", "stream-batches.json",
        "compacted-ids.json", "schema.json").foreach { f =>
      Files.writeString(Paths.get(out, f), "{}\n")
      Seq[() => Any](
        () => SnapshotSink.readManifest(spark, out),
        () => SnapshotSink.tags(out),
        () => SnapshotSink.branches(out),
        () => TableSnapshot.schemaHistory(out),
        () => SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)).foreach { op =>
        val ex = intercept[IllegalStateException](op())
        assert(ex.getMessage.contains(s"retired metadata file $f"))
      }
      Files.delete(Paths.get(out, f))
    }
  }
}
