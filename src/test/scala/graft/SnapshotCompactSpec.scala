package graft

import java.nio.file.{Files, Paths}

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, PosixCommitIo, SnapshotSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Compaction ([[graft.sources.SnapshotSink.compact]]) — the Iceberg-style rewrite
 * action merging a stream's composite-id buckets into one canonical generation —
 * and its composition with the batch resume path and [[SnapshotSink.vacuum]].
 *
 * The scale problem under test: a production stream at, say, one micro-batch per
 * minute accumulates ~half a million bucket directories a year
 * (`batchId * nBuckets + bucket`, [[SnapshotSink.commitStreamBatch]]); every
 * manifest-resolved read ([[SnapshotSink.readCommitted]]) lists and opens the
 * files of all of them. Compaction must collapse that to `nBuckets` directories
 * without losing a row, without breaking verification, and without disabling the
 * heal-from-source resume. Orphan directories are never read; [[SnapshotSink.vacuum]]
 * reclaims their bytes.
 */
class SnapshotCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-compact-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("doc_id"), col("offset"), col("kind"), col("text"),
        col("media_ref"), col("ok").cast("int"), coalesce(col("error"), lit("")))
      .collect()
      .map(_.mkString(""))
      .sorted.toSeq

  /** Commit the corpus as `n` synthetic stream micro-batches (hash-split). */
  private def commitAsStream(out: String, n: Int): Unit = {
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
    (0 until n).foreach { b =>
      SnapshotSink.commitStreamBatch(
        flat.filter(pmod(hash(col("doc_id")), lit(n)) === b), out, b.toLong, NB)
    }
  }

  private def scannedRows(df: DataFrame): Long = {
    df.collect() // execute THIS plan so the scan metrics populate
    val scan = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.nonEmpty, "no FileSourceScanExec in executed plan")
    scan.map(_.metrics("numOutputRows").value).sum
  }

  test("z-ordered compaction rewrite: identical content, better second-dimension pruning") {
    import graft.operators.Layout
    val outD = tmpDir("layout-default"); val outZ = tmpDir("layout-z")
    Seq(outD, outZ).foreach(commitAsStream(_, 2))
    // at spec scale AQE's size-based coalescing folds the whole rewrite into ONE
    // file per bucket (correct at production file sizes, where a bucket holds
    // many 128MB files) — pin the partition count so each bucket gets several
    // files and min/max skipping has granularity to work with
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      SnapshotSink.compact(spark, outD)
      SnapshotSink.compact(spark, outZ,
        layout = Seq(Layout.zval(Layout.langIdx(col("lang")),
          Layout.clamp16(col("offset")))))
    } finally spark.conf.set(coalesceKey, prev)
    // the layout key changes physical clustering ONLY
    assert(canon(SnapshotSink.readCommitted(spark, outZ))
      === canon(SnapshotSink.readCommitted(spark, outD)))

    // second-dimension range predicate: high offsets exist only in the skew tail
    // (every 37th doc's +24 media spans) — under the default (bucket, doc_id,
    // offset) clustering those rows sit inside most doc-range files; under the
    // z(lang, offset) curve they cluster into few files, so parquet min/max
    // skipping drops the rest (same instrument as ZOrderSpec)
    def q(out: String): DataFrame =
      SnapshotSink.readCommitted(spark, out).filter(col("offset") >= 32)
    Seq(outD, outZ).foreach { o =>
      val fmt = q(o).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(fmt.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("offset")), fmt)
    }
    val defRows = scannedRows(q(outD))
    val zRows = scannedRows(q(outZ))
    assert(q(outD).count() === q(outZ).count())
    assert(zRows < defRows,
      s"z-compacted layout scanned $zRows rows vs default $defRows")
  }

  test("compact merges stream batches into one canonical generation, row-exact") {
    val out = tmpDir("merge")
    commitAsStream(out, 3)
    val before = SnapshotSink.readManifest(spark, out)
    assert(before.size === 3 * NB) // three batches' composite entries
    val beforeRows = canon(SnapshotSink.readCommitted(spark, out))

    val rep = SnapshotSink.compact(spark, out)
    assert(!rep.noop)
    assert(rep.generation === 3L) // batch ids 0..2 occupied generations 0..2
    assert(rep.mergedEntries === 3 * NB)

    val after = SnapshotSink.readManifest(spark, out)
    assert(after.size === NB)
    assert(after.map(_.bucket).sorted === (0 until NB).map(rep.generation * NB + _))
    // content identical row-for-row; per-base metrics equal the sum of the sources
    assert(canon(SnapshotSink.readCommitted(spark, out)) === beforeRows)
    val srcByBase = before.groupBy(_.bucket % NB)
    after.foreach { e =>
      val srcs = srcByBase(e.bucket % NB)
      assert(e.rows === srcs.map(_.rows).sum, s"bucket ${e.bucket}")
      assert(e.n_err === srcs.map(_.n_err).sum, s"bucket ${e.bucket}")
      assert(e.n_words === srcs.map(_.n_words).sum, s"bucket ${e.bucket}")
    }
    // old composite directories are gone; only the new generation remains
    val dirs = Files.list(Paths.get(out, "data")).toArray.map(_.toString).toSeq
    assert(dirs.size === NB)
    // the compacted snapshot still verifies through both tiers (resume over the
    // bucketed corpus skips everything — nothing to re-extract)
    val docsB = Interleave.materializedDocsBucketed(spark, sfDir, NB)
    val report = SnapshotSink.run(docsB, out, nBuckets = NB)
    assert(report.processed.isEmpty)
    assert(report.skipped.sorted === after.map(_.bucket).sorted)
  }

  test("a micro-batch arriving AFTER compaction is never swallowed by the compacted generation") {
    val out = tmpDir("postcompact")
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
    def batch(i: Int) = flat.filter(pmod(hash(col("doc_id")), lit(3)) === i)
    // batches 0 and 1 drain; the checkpoint advances; compaction runs (generation 2)
    (0 until 2).foreach(b => SnapshotSink.commitStreamBatch(batch(b), out, b.toLong, NB))
    val rep = SnapshotSink.compact(spark, out)
    assert(rep.generation === 2L)
    val rowsAfterCompact = SnapshotSink.readCommitted(spark, out).count()

    // foreachBatch hands the NEXT batch id = 2 — numerically the id range the
    // compacted generation occupies under batchId*nBuckets addressing. The sidecar
    // allocation must land it on a FRESH generation, not skip it as "committed".
    val committed = SnapshotSink.commitStreamBatch(batch(2), out, 2L, NB)
    assert(committed.nonEmpty,
      "post-compaction micro-batch swallowed by the skip-verify — permanent loss")
    assert(committed.forall(_ >= 3L * NB), "batch must land past the compacted generation")
    assert(SnapshotSink.readCommitted(spark, out).count()
      === rowsAfterCompact + batch(2).count())
    // re-delivery of the same batch id is still idempotent (sidecar lookup)
    assert(SnapshotSink.commitStreamBatch(batch(2), out, 2L, NB).isEmpty)
  }

  test("run() refuses to delete a failed-verify composite bucket it cannot heal") {
    val out = tmpDir("noncanon")
    commitAsStream(out, 2)
    // corrupt one of batch 1's committed files (composite id >= NB)
    val victim = SnapshotSink.readManifest(spark, out)
      .filter(e => e.bucket >= NB && e.files.nonEmpty).head
    val f = Paths.get(out, "data", s"bucket=${victim.bucket}", victim.files.head)
    Files.write(f, Array.fill[Byte](8)(0x5a))
    val bytesBefore = Files.size(f)
    val e = intercept[IllegalArgumentException] {
      SnapshotSink.run(Interleave.materializedDocsBucketed(spark, sfDir, NB), out,
        nBuckets = NB)
    }
    assert(e.getMessage.contains("non-canonical"))
    // nothing was deleted: the (corrupt) file is still there for re-delivery to fix
    assert(Files.exists(f) && Files.size(f) === bytesBefore)
  }

  test("compact is a no-op on canonical manifests (batch snapshots, repeat calls)") {
    val out = tmpDir("noop")
    SnapshotSink.run(Interleave.docs(spark, sfDir), out, nBuckets = NB)
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(SnapshotSink.compact(spark, out).noop)
    assert(SnapshotSink.readManifest(spark, out) === manifest)

    val out2 = tmpDir("noop2")
    commitAsStream(out2, 2)
    assert(!SnapshotSink.compact(spark, out2).noop)
    assert(SnapshotSink.compact(spark, out2).noop) // second call: already canonical
  }

  test("batch resume heals an invalidated bucket AT ITS COMPACTED ID from the source") {
    val out = tmpDir("heal")
    commitAsStream(out, 2)
    val gen = SnapshotSink.compact(spark, out).generation
    val victim = gen * NB + 5
    val pre = canon(SnapshotSink.readCommitted(spark, out))
    val preEntry = SnapshotSink.readManifest(spark, out).find(_.bucket == victim).get
    SnapshotSink.deleteRecursively(Paths.get(out, "data", s"bucket=$victim"))

    val docsB = Interleave.materializedDocsBucketed(spark, sfDir, NB)
    val report = SnapshotSink.run(docsB, out, nBuckets = NB)
    // exactly the victim re-extracted, committed back under its generation id
    assert(report.invalidated === Seq(victim))
    assert(report.processed === Seq(victim))
    assert(canon(SnapshotSink.readCommitted(spark, out)) === pre)
    val healed = SnapshotSink.readManifest(spark, out).find(_.bucket == victim).get
    assert(healed.rows === preEntry.rows)
    assert(healed.n_words === preEntry.n_words)
  }

  test("vacuum removes orphan directories; readCommitted never saw them") {
    val out = tmpDir("vacuum")
    commitAsStream(out, 2)
    SnapshotSink.compact(spark, out)
    val pre = canon(SnapshotSink.readCommitted(spark, out))
    // simulate a crash between a wave's manifest swap and its source GC: an
    // unreferenced bucket directory holding REAL parquet (a stale pre-compaction
    // copy of bucket 0's data)
    val gen = SnapshotSink.readManifest(spark, out).head.bucket / NB
    val src = Paths.get(out, "data", s"bucket=${gen * NB}")
    val orphan = Paths.get(out, "data", "bucket=999")
    Files.createDirectories(orphan)
    import scala.jdk.CollectionConverters._
    Files.list(src).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(p => Files.copy(p, orphan.resolve(p.getFileName.toString)))

    // the orphan is on disk, but the manifest-resolved read (Iceberg semantics:
    // the manifest IS the table) is already exact
    def bucketDirs = Files.list(Paths.get(out, "data")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    assert(bucketDirs.contains("bucket=999") && bucketDirs.size === NB + 1)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === pre)

    val removed = SnapshotSink.vacuum(spark, out)
    assert(removed === Seq("bucket=999"))
    assert(!bucketDirs.contains("bucket=999") && bucketDirs.size === NB)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === pre)
    assert(SnapshotSink.vacuum(spark, out).isEmpty) // nothing left to remove
  }

  test("a compaction that fails at its manifest publish moves no ref; re-running converges") {
    val out = tmpDir("crash")
    commitAsStream(out, 2)
    val path = Paths.get(out)
    val head = SnapshotSink.readState(path).head
    val compacted = SnapshotSink.readCompactedIds(path)
    val before = canon(SnapshotSink.readCommitted(spark, out))
    intercept[PublishFault.Injected] {
      SnapshotSink.compact(spark, out, io = PublishFault.atManifest)
    }
    assert(SnapshotSink.readState(path).head === head)
    assert(SnapshotSink.readCompactedIds(path) === compacted)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === before)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)

    val rep = SnapshotSink.compact(spark, out)
    assert(!rep.noop && SnapshotSink.readManifest(spark, out).size === NB)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === before)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("a compaction whose staged rows miss the recorded rows publishes nothing") {
    val out = tmpDir("reconcile")
    commitAsStream(out, 2)
    val path = Paths.get(out)
    // HEAD becomes a republished manifest whose one entry claims a row too many
    val entries = SnapshotSink.readManifest(spark, out)
    val forgedId = entries.find(_.rows > 0).get.bucket
    val forged = entries.map(e => if (e.bucket == forgedId) e.copy(rows = e.rows + 1) else e)
    val v = SnapshotSink.versions(out).last + 1
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Files.writeString(path.resolve(f"manifest-v$v%06d.json"),
      forged.map(org.json4s.jackson.Serialization.write(_)).mkString("", "\n", "\n"))
    SnapshotSink.updateState(path, PosixCommitIo)(_.copy(head = v))
    val versions = SnapshotSink.versions(out)
    val compacted = SnapshotSink.readCompactedIds(path)

    val ex = intercept[IllegalArgumentException](SnapshotSink.compact(spark, out))
    assert(ex.getMessage.contains("row mismatch"))
    // checked before any publish: HEAD, history and the compacted ids are unchanged
    assert(SnapshotSink.readState(path).head === v)
    assert(SnapshotSink.versions(out) === versions)
    assert(SnapshotSink.readCompactedIds(path) === compacted)
    assert(SnapshotSink.readManifest(spark, out) === forged)
  }

  test("compacting an all-empty stream commits NB zero-row buckets at the new generation") {
    val out = tmpDir("empty")
    val none = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir)).limit(0)
    SnapshotSink.commitStreamBatch(none, out, 0L, NB)
    SnapshotSink.commitStreamBatch(none, out, 1L, NB)
    val rep = SnapshotSink.compact(spark, out)
    assert(!rep.noop && rep.generation === 2L && rep.rows === 0L)
    val after = SnapshotSink.readManifest(spark, out)
    assert(after.map(_.bucket) === (0 until NB).map(2L * NB + _))
    assert(after.forall(e => e.rows === 0L && e.files.isEmpty))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
    // no data file anywhere, yet the read has the schema the stream committed
    val back = SnapshotSink.readCommitted(spark, out)
    assert(back.count() === 0L)
    def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.catalogString)
    assert(typed(back) === typed(none) :+ ("bucket" -> "bigint"))
    // a resume finds every (empty) bucket committed and extracts nothing
    val report = SnapshotSink.run(Interleave.materializedDocsBucketed(spark, sfDir, NB),
      out, nBuckets = NB)
    assert(report.processed.isEmpty && report.skipped === after.map(_.bucket))
  }

  test("compact refuses a snapshot with failed verification (corruption not baked in)") {
    val out = tmpDir("refuse")
    commitAsStream(out, 2)
    val entry = SnapshotSink.readManifest(spark, out).find(_.rows > 0).get
    val victim = Paths.get(out, "data", s"bucket=${entry.bucket}", entry.files.head)
    // same-size byte flip: only the deep tier sees it, and compact runs it
    val raw = Files.readAllBytes(victim)
    val flipped = raw.clone()
    flipped(raw.length / 2) = (raw(raw.length / 2) ^ 0x01).toByte
    Files.write(victim, flipped)
    val head = SnapshotSink.readState(Paths.get(out)).head
    val versions = SnapshotSink.versions(out)
    val flipEx = intercept[IllegalArgumentException] {
      SnapshotSink.compact(spark, out)
    }
    assert(flipEx.getMessage.contains("refusing to compact"))
    assert(SnapshotSink.readState(Paths.get(out)).head === head)
    assert(SnapshotSink.versions(out) === versions)
    Files.write(victim, raw)
    // in-place corruption: truncate one committed data file (size changes -> tier-1)
    Files.write(victim, Array[Byte](0))
    val ex = intercept[IllegalArgumentException] {
      SnapshotSink.compact(spark, out)
    }
    assert(ex.getMessage.contains("refusing to compact"))
  }
}
