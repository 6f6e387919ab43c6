package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.ExtractPipeline
import graft.sources.{CommitIo, Interleave, PosixCommitIo, SnapshotSink}
import graft.sources.SnapshotSink.{Branch, Head, Tag, Version}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/**
 * The table's metadata is two immutable file kinds — manifest versions and state
 * records — and every metadata change is one create-new state publish
 * ([[SnapshotSink.updateState]]). This spec races writers through the [[CommitIo]]
 * seam (a competing operation runs right before the first state publish is
 * delegated): ref edits re-apply and both land, a HEAD mover that lost refuses
 * loudly. It also pins the atomicity of a fast-forward, the job-free metadata reads
 * and the on-disk layout after every kind of write.
 */
class SnapshotStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-state-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def head(out: String): Long = SnapshotSink.readState(Paths.get(out)).head

  private def isState(dst: Path): Boolean = dst.getFileName.toString.startsWith("state-")

  /** Publishes through [[PosixCommitIo]], running `competitor` once, right before
    * the first publish of a metadata file other than a manifest version — the
    * operation's first state record. */
  private def racing(competitor: => Unit): CommitIo = new CommitIo {
    private var fired = false
    override def publishDir(src: Path, dst: Path): Unit = PosixCommitIo.publishDir(src, dst)
    override def publishFile(tmp: Path, dst: Path): Unit = {
      if (!fired && !dst.getFileName.toString.startsWith("manifest-v")) {
        fired = true
        competitor
      }
      PosixCommitIo.publishFile(tmp, dst)
    }
  }

  /** Publishes through [[PosixCommitIo]], running `competitor` once, right before
    * the first metadata publish after a bucket directory was published — the
    * operation's commit, once its new data is in place. */
  private def racingAfterData(competitor: => Unit): CommitIo = new CommitIo {
    private var published = false
    private var fired = false
    override def publishDir(src: Path, dst: Path): Unit = {
      PosixCommitIo.publishDir(src, dst)
      published = true
    }
    override def publishFile(tmp: Path, dst: Path): Unit = {
      if (published && !fired) {
        fired = true
        competitor
      }
      PosixCommitIo.publishFile(tmp, dst)
    }
  }

  private def docIdsInBucket(out: String, b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === b).select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  private def updateRows(ids: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, "en", 1, 0, "text", s"upd:$id",
        null: String, true, null: String, 0, 0.0))
      .toDF("doc_id", "lang", "n_doc_spans", "offset", "kind",
        "text", "media_ref", "ok", "error", "n_words", "conf_sum")
  }

  private def textOf(out: String, id: String): Seq[String] =
    SnapshotSink.readCommitted(spark, out).filter(col("doc_id") === id)
      .select(col("text")).collect().map(_.getString(0)).toSeq

  private def spans(df: DataFrame): Seq[(String, Int)] =
    df.select(col("doc_id"), col("offset")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted

  /** Fails every bucket-directory publish: a writer that dies once its generation
    * is allocated and its rows are staged. */
  private val crashAtData: CommitIo = new CommitIo {
    override def publishDir(src: Path, dst: Path): Unit = throw new PublishFault.Injected
    override def publishFile(tmp: Path, dst: Path): Unit = PosixCommitIo.publishFile(tmp, dst)
  }

  /** The per-commit staging directories left under `out`. */
  private def stagingDirs(out: String): Seq[Path] = {
    val root = Paths.get(out, "staging")
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val stream = Files.list(root)
      try stream.iterator().asScala.toSeq finally stream.close()
    }
  }

  /** Two stream micro-batches' extracted rows: documents below and above 250. */
  private def streamHalves: (DataFrame, DataFrame) = {
    val key = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    (ExtractPipeline.extractFlat(docs.filter(key < 250)),
      ExtractPipeline.extractFlat(docs.filter(key >= 250)))
  }

  test("two racing tag edits both land") {
    val out = tmpDir("tagtag")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 4) // v1, v2
    SnapshotSink.tag(out, "a", 1L, io = racing(SnapshotSink.tag(out, "b", 2L)))
    assert(SnapshotSink.tags(out) === Map("a" -> 1L, "b" -> 2L))
  }

  test("a tag edit racing a takedown: both survive") {
    val out = tmpDir("tagdelete")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    val victims = docIdsInBucket(out, 3L, 2)
    val report = SnapshotSink.deleteDocs(spark, out, victims,
      io = racing(SnapshotSink.tag(out, "seed", 1L)))
    assert(report.deletedRows > 0L)
    assert(SnapshotSink.tags(out) === Map("seed" -> 1L))
    assert(head(out) === 2L)
    assert(SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count() === 0L)
  }

  test("restore racing an upsert on main: the losing HEAD mover refuses, HEAD stays") {
    val out = tmpDir("restoreupsert")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 4) // v1 = buckets 0-3, v2
    val victim = docIdsInBucket(out, 5L, 1)
    var winner = 0L
    val ex = intercept[IllegalStateException] {
      SnapshotSink.restore(spark, out, 1L, io = racing {
        SnapshotSink.upsertDocs(spark, out, updateRows(victim))
        winner = head(out)
      })
    }
    assert(ex.getMessage.contains("lost update refused"))
    // the restore published its manifest (v3) before the upsert took v4, but only
    // the upsert's commit is HEAD: the merge is not silently rolled back
    assert(winner === 4L)
    assert(head(out) === winner)
    assert(SnapshotSink.readManifest(spark, out) ===
      SnapshotSink.readManifest(spark, out, Version(winner)))
    assert(SnapshotSink.readManifest(spark, out).size === NB)
    assert(textOf(out, victim.head) === Seq(s"upd:${victim.head}"))
  }

  test("a takedown racing an upsert on the same bucket: the loser refuses, HEAD is the winner's") {
    val out = tmpDir("deleteupsert")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    val Seq(victim, updated) = docIdsInBucket(out, 3L, 2)
    def rows = SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id"), col("offset"), coalesce(col("text"), lit("")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq.sorted
    val before = rows
    // the upsert commits while the takedown's new bucket directory is published
    // but its commit is not
    val ex = intercept[IllegalStateException] {
      SnapshotSink.deleteDocs(spark, out, Seq(victim), io = racingAfterData {
        SnapshotSink.upsertDocs(spark, out, updateRows(Seq(updated)))
      })
    }
    assert(ex.getMessage.contains("lost update refused"))
    // HEAD reads exactly the upsert's result: the victim is still there (the
    // takedown lost and must be re-run), and no byte of the winner was replaced
    assert(rows === (before.filterNot(_._1 == updated) :+ ((updated, 0, s"upd:$updated"))).sorted)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
    // re-running the takedown against the new HEAD lands it
    SnapshotSink.deleteDocs(spark, out, Seq(victim))
    assert(rows === (before.filterNot(r => r._1 == updated || r._1 == victim) :+
      ((updated, 0, s"upd:$updated"))).sorted)
  }

  test("fastForward is one state publish: a failed publish moves neither HEAD nor the base") {
    val out = tmpDir("ffatomic")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "wap", 1L)
    val victim = docIdsInBucket(out, 6L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out, "wap", updateRows(victim)) // v2
    val failing = new CommitIo {
      override def publishDir(src: Path, dst: Path): Unit =
        PosixCommitIo.publishDir(src, dst)
      override def publishFile(tmp: Path, dst: Path): Unit =
        if (isState(dst)) throw new IOException("injected state publish failure")
        else PosixCommitIo.publishFile(tmp, dst)
    }
    intercept[IOException](SnapshotSink.fastForward(spark, out, "wap", io = failing))
    val s = SnapshotSink.readState(Paths.get(out))
    assert(s.head === 1L)
    assert(s.branches("wap") === SnapshotSink.BranchRef(2L, 1L))

    val r = SnapshotSink.fastForward(spark, out, "wap")
    val after = SnapshotSink.readState(Paths.get(out))
    assert(after.head === r.newVersion)
    assert(after.branches("wap") === SnapshotSink.BranchRef(2L, r.newVersion))
    assert(textOf(out, victim.head) === Seq(s"upd:${victim.head}"))
  }

  test("manifest, tag and branch reads run no Spark job") {
    val out = tmpDir("nojob")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 4) // v1, v2
    SnapshotSink.tag(out, "t", 1L)
    SnapshotSink.branch(out, "b", 2L)
    val (_, jobs) = JobCount(spark) {
      assert(SnapshotSink.readManifest(spark, out).size === NB)
      assert(SnapshotSink.readManifest(spark, out, Version(1L)).size === 4)
      assert(SnapshotSink.tags(out) === Map("t" -> 1L))
      assert(SnapshotSink.branches(out) === Map("b" -> 2L))
      // every ref kind, for the manifest and for the lineage frame over it
      Seq(Head -> NB, Version(1L) -> 4, Tag("t") -> 4, Branch("b") -> NB).foreach {
        case (at, n) =>
          assert(SnapshotSink.readManifest(spark, out, at).size === n, at)
          assert(SnapshotSink.lineage(spark, out, at).collect().length === n, at)
      }
    }
    assert(jobs === 0)
  }

  test("building a manifest-resolved read runs no Spark job: the schema is recorded") {
    val out = tmpDir("readnojob")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 4) // v1, v2
    SnapshotSink.branch(out, "b", 2L)
    SnapshotSink.tag(out, "t", 1L)
    val files = SnapshotSink.readManifest(spark, out).map(_.files.size).sum
    // above 32 files Spark lists them with a job of its own
    assert(files <= 32, s"$files files")
    val (reads, jobs) = JobCount(spark) {
      Seq(SnapshotSink.readCommitted(spark, out),
        SnapshotSink.readCommitted(spark, out, Version(1L)),
        SnapshotSink.readChangesBetween(spark, out, 1L, 2L),
        SnapshotSink.readCommitted(spark, out, Branch("b")),
        SnapshotSink.readCommitted(spark, out, Head),
        SnapshotSink.readCommitted(spark, out, Tag("t")))
    }
    assert(jobs === 0)
    val rows = SnapshotSink.readManifest(spark, out).map(_.rows).sum
    val v1Rows = SnapshotSink.readManifest(spark, out, Version(1L)).map(_.rows).sum
    assert(reads.map(_.count()) ===
      Seq(rows, v1Rows, rows - v1Rows, rows, rows, v1Rows))
    assert(reads.forall(_.schema("bucket").dataType == LongType))
  }

  test("a committed table without a recorded schema is refused, naming the rebuild") {
    val out = tmpDir("noschema")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val victim = docIdsInBucket(out, 1L, 1)
    SnapshotSink.updateState(Paths.get(out), PosixCommitIo)(_.copy(schemas = Seq.empty))
    Seq[() => Any](
      () => SnapshotSink.readCommitted(spark, out),
      () => SnapshotSink.upsertDocs(spark, out, updateRows(victim)),
      () => SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)).foreach { op =>
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("no recorded schema") &&
        ex.getMessage.contains("rebuild"), ex.getMessage)
    }
  }

  test("a batch table's takedowns and merges record no compacted ids") {
    val out = tmpDir("compactedids")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    SnapshotSink.upsertDocs(spark, out, updateRows(docIdsInBucket(out, 2L, 1)))
    SnapshotSink.deleteDocs(spark, out, docIdsInBucket(out, 5L, 2))
    // no stream batch was ever allocated here, so none can be re-delivered
    assert(SnapshotSink.readCompactedIds(Paths.get(out)) === Set.empty[Long])
  }

  test("a branch merge between a takedown's directory publishes loses no staged bucket") {
    val out = tmpDir("stagingrace")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "b", 1L)
    def rows = SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id"), col("offset")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    val before = rows
    val victims = Seq(0L, 1L, 2L, 3L).flatMap(docIdsInBucket(out, _, 2))
    val updated = docIdsInBucket(out, 6L, 1)
    // the competitor stages and commits while the takedown has published one of
    // its four new bucket directories and still holds three staged ones
    val io = new CommitIo {
      private var fired = false
      override def publishDir(src: Path, dst: Path): Unit = {
        PosixCommitIo.publishDir(src, dst)
        if (!fired) {
          fired = true
          SnapshotSink.upsertDocsToBranch(spark, out, "b", updateRows(updated))
        }
      }
      override def publishFile(tmp: Path, dst: Path): Unit = PosixCommitIo.publishFile(tmp, dst)
    }
    val report = SnapshotSink.deleteDocs(spark, out, victims, io = io)
    assert(report.rewrittenBuckets.size === 4)
    assert(rows === before.filterNot(r => victims.contains(r._1)))
    assert(SnapshotSink.readCommitted(spark, out).count() ===
      SnapshotSink.readManifest(spark, out).map(_.rows).sum)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
    // the branch's rewrite of bucket 6 holds the update
    val b6 = SnapshotSink.readManifest(spark, out, Version(SnapshotSink.branches(out)("b")))
      .find(_.bucket % NB == 6L).get
    assert(b6.bucket >= NB)
    assert(spark.read.parquet(Paths.get(out, "data", s"bucket=${b6.bucket}").toString)
      .filter(col("doc_id") === updated.head).select(col("text"))
      .collect().map(_.getString(0)).toSeq === Seq(s"upd:${updated.head}"))
  }

  test("a committed rewrite drops its reservation; rewrites land above orphaned generations") {
    val out = tmpDir("noreserve")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.upsertDocs(spark, out, updateRows(docIdsInBucket(out, 2L, 1)))
    SnapshotSink.deleteDocs(spark, out, docIdsInBucket(out, 5L, 1))
    SnapshotSink.upsertDocs(spark, out, updateRows(docIdsInBucket(out, 3L, 1)))
    assert(SnapshotSink.readState(Paths.get(out)).batchBases === Map.empty[Long, Long])
    def gens = SnapshotSink.readManifest(spark, out).map(_.bucket / NB).max
    assert(gens === 3L)

    // a crashed merge leaves generation 4 as an orphan; the re-run lands above it
    val victim = docIdsInBucket(out, 4L, 1)
    intercept[PublishFault.Injected](
      SnapshotSink.upsertDocs(spark, out, updateRows(victim), io = PublishFault.atManifest))
    assert(Files.isDirectory(Paths.get(out, "data", s"bucket=${4 * NB + 4}")))
    assert(SnapshotSink.upsertDocs(spark, out, updateRows(victim)).rewrittenBuckets ===
      Seq(5L * NB + 4))
    // only the crashed merge's reservation stays
    assert(SnapshotSink.readState(Paths.get(out)).batchBases === Map(-4L * NB -> 4L * NB))

    // a restore below a branch's published generation: its directories stay, and
    // a merge of the same base bucket on main lands above them
    val out2 = tmpDir("noreserve2")
    SnapshotSink.run(docs, out2, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out2, "wap", 1L)
    val id = docIdsInBucket(out2, 6L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out2, "wap", updateRows(id)) // v2, gen 1
    SnapshotSink.fastForward(spark, out2, "wap") // v3
    SnapshotSink.restore(spark, out2, 1L) // v4: HEAD's ids are generation 0 again
    SnapshotSink.dropBranch(out2, "wap")
    assert(Files.isDirectory(Paths.get(out2, "data", s"bucket=${NB + 6}")))
    assert(SnapshotSink.upsertDocs(spark, out2, updateRows(id)).rewrittenBuckets ===
      Seq(2L * NB + 6))
    assert(textOf(out2, id.head) === Seq(s"upd:${id.head}"))
    assert(SnapshotSink.readState(Paths.get(out2)).batchBases === Map.empty[Long, Long])
  }

  test("a stream batch allocated while a takedown runs gets a generation of its own") {
    val out = tmpDir("streamrace")
    val (flatA, flatB) = streamHalves
    SnapshotSink.commitStreamBatch(flatA, out, batchId = 0L, NB) // generation 0
    val victims = docIdsInBucket(out, 3L, 2)
    // batch 1 is allocated after the takedown took its generation and before the
    // takedown publishes a bucket; the batch dies before publishing any of its own
    val io = new CommitIo {
      private var fired = false
      override def publishDir(src: Path, dst: Path): Unit = {
        if (!fired) {
          fired = true
          intercept[PublishFault.Injected](
            SnapshotSink.commitStreamBatch(flatB, out, batchId = 1L, NB, io = crashAtData))
        }
        PosixCommitIo.publishDir(src, dst)
      }
      override def publishFile(tmp: Path, dst: Path): Unit = PosixCommitIo.publishFile(tmp, dst)
    }
    assert(SnapshotSink.deleteDocs(spark, out, victims, io = io).deletedRows > 0L)
    // the re-delivered batch commits all of its buckets: none collides with the
    // takedown's
    assert(SnapshotSink.commitStreamBatch(flatB, out, batchId = 1L, NB).size === NB)
    assert(spans(SnapshotSink.readCommitted(spark, out)) ===
      spans(flatA.filter(!col("doc_id").isin(victims: _*)).unionByName(flatB)))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
    assert(SnapshotSink.readState(Paths.get(out)).batchBases.keySet === Set(0L, 1L))
    assert(stagingDirs(out).isEmpty)
  }

  test("a batch after a fresh table's crashed first batch gets the next generation") {
    val out = tmpDir("freshcrash")
    val (flatA, flatB) = streamHalves
    // batch 0 publishes its buckets and dies at its manifest: nothing is committed
    intercept[PublishFault.Injected](SnapshotSink.commitStreamBatch(
      flatA, out, batchId = 0L, NB, io = PublishFault.atManifest))
    assert(SnapshotSink.commitStreamBatch(flatB, out, batchId = 1L, NB) ===
      (NB until 2 * NB).map(_.toLong))
    // the re-delivered batch 0 commits at its own allocation
    assert(SnapshotSink.commitStreamBatch(flatA, out, batchId = 0L, NB) ===
      (0 until NB).map(_.toLong))
    assert(spans(SnapshotSink.readCommitted(spark, out)) ===
      spans(flatA.unionByName(flatB)))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("a commit that fails after staging leaves no staged copy behind") {
    val out = tmpDir("stagingleak")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    val victims = docIdsInBucket(out, 2L, 1)
    intercept[PublishFault.Injected](
      SnapshotSink.deleteDocs(spark, out, victims, io = crashAtData))
    intercept[PublishFault.Injected](
      SnapshotSink.upsertDocs(spark, out, updateRows(victims), io = PublishFault.atManifest))
    assert(stagingDirs(out).isEmpty)
    assert(SnapshotSink.deleteDocs(spark, out, victims).deletedRows > 0L)
    assert(stagingDirs(out).isEmpty)
  }

  test("every kind of write leaves only manifest versions and state records in the root") {
    val out = tmpDir("layout")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.tag(out, "seed", 1L)
    SnapshotSink.branch(out, "wap", 1L)
    SnapshotSink.upsertDocsToBranch(spark, out, "wap",
      updateRows(docIdsInBucket(out, 2L, 1)))
    SnapshotSink.fastForward(spark, out, "wap")
    val key = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    val fresh = docs.filter(key < 100)
      .withColumn("doc_id", format_string(s"doc-%0${Interleave.DocIdDigits}d",
        key + 700000))
    assert(SnapshotSink.commitStreamBatch(ExtractPipeline.extractFlat(fresh), out,
      batchId = 0L, NB).nonEmpty)
    val rows = SnapshotSink.readCommitted(spark, out).count()
    assert(!SnapshotSink.compact(spark, out).noop)
    assert(SnapshotSink.readCommitted(spark, out).count() === rows)

    val stream = Files.list(Paths.get(out))
    val files =
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      finally stream.close()
    val Metadata = """(manifest-v|state-)\d{6}\.json""".r
    assert(files.nonEmpty && files.forall(Metadata.matches), files.sorted)
    // HEAD is the record's explicit version: here the compaction's last commit
    assert(head(out) === SnapshotSink.versions(out).last)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }
}
