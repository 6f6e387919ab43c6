package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Crash-injection tests for the snapshot-commit protocol (SURVEY.md §5.2 / §7 step 5):
 * a killed job resumes touching only uncommitted buckets, committed bytes stay
 * bit-identical, and corruption is detected by the content hash and re-extracted —
 * the distributed re-expression of the reference's download-resume assertions
 * (reference tests/test_languages.py:9-53 over uiucprescon/ocr/languages.py:130-179).
 */
class SnapshotResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-snap-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("doc_id"), col("offset"), col("kind"), col("text"),
        col("media_ref"), col("ok").cast("int"), coalesce(col("error"), lit("")))
      .collect()
      .map(_.mkString(""))
      .sorted.toSeq

  private def bucketBytes(outDir: String, bucket: Long): Map[String, Seq[Byte]] = {
    val dir = Paths.get(outDir, "data", s"bucket=$bucket")
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_"))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("full snapshot run == direct extraction; manifest accounts for every span") {
    val out = tmpDir("full")
    val report = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3)
    assert(report.processed.sorted === (0 until NB))
    assert(report.skipped.isEmpty)

    val direct = canon(ExtractPipeline.extractFlat(docs))
    val snap = canon(SnapshotSink.readCommitted(spark, out))
    assert(snap === direct)

    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.map(_.bucket).sorted === (0 until NB))
    assert(manifest.map(_.n_spans).sum === direct.size)
    assert(manifest.map(_.n_err).sum > 0)   // corpus has missing-refs and zh docs
    assert(manifest.map(_.n_words).sum > 0) // OCR word metrics flow into lineage
    assert(manifest.forall(_.engine_version.nonEmpty))
  }

  test("every publish routes through the CommitIo seam; a spy impl sees all of them") {
    import graft.sources.{CommitIo, PosixCommitIo}
    val dirs = Seq.newBuilder[String]
    val manifests = new java.util.concurrent.atomic.AtomicInteger(0)
    val spy = new CommitIo {
      override def publishDir(src: Path, dst: Path): Unit = {
        dirs += dst.getFileName.toString; PosixCommitIo.publishDir(src, dst)
      }
      override def publishFile(tmp: Path, dst: Path): Unit = {
        manifests.incrementAndGet(); PosixCommitIo.publishFile(tmp, dst)
      }
    }
    val out = tmpDir("seam")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3, io = spy)
    // all NB buckets published through the seam; per wave, TWO file publishes — the
    // immutable history version (time travel) then the HEAD swap
    assert(dirs.result().sorted === (0 until NB).map(b => s"bucket=$b"))
    assert(manifests.get() === 2 * math.ceil(NB / 3.0).toInt)
    // and the protocol's own verification still holds end to end
    assert(canon(SnapshotSink.readCommitted(spark, out)) ===
      canon(ExtractPipeline.extractFlat(docs)))
  }

  test("crash mid-run -> resume processes ONLY uncommitted buckets, committed bytes untouched") {
    val out = tmpDir("crash")
    // the second wave's manifest publish fails: its directories are published
    // but no version lists them
    intercept[PublishFault.Injected] {
      SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3,
        io = PublishFault.atManifestNumber(2))
    }
    val committed = SnapshotSink.readManifest(spark, out).map(_.bucket).sorted
    assert(committed.size === 3) // exactly one wave landed
    val before = committed.map(b => b -> bucketBytes(out, b)).toMap

    val resumed = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3)
    assert(resumed.skipped === committed)
    assert(resumed.processed.sorted === (0 until NB).filterNot(committed.contains))
    // committed files were not rewritten: byte-identical after resume
    committed.foreach(b => assert(bucketBytes(out, b) === before(b), s"bucket $b"))

    val direct = canon(ExtractPipeline.extractFlat(docs))
    assert(canon(SnapshotSink.readCommitted(spark, out)) === direct)
    assert(SnapshotSink.readManifest(spark, out).map(_.bucket).sorted === (0 until NB))
  }

  test("corrupted committed bucket fails the hash check and is re-extracted") {
    val out = tmpDir("corrupt")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val victim = 5
    val dir = Paths.get(out, "data", s"bucket=$victim")
    import scala.jdk.CollectionConverters._
    val f: Path = Files.list(dir).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x7f).toByte
    Files.write(f, bytes)

    val rerun = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(rerun.invalidated === Seq(victim))
    assert(rerun.processed === Seq(victim))
    assert(rerun.skipped.sorted === (0 until NB).filterNot(_ == victim))
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === canon(ExtractPipeline.extractFlat(docs)))
  }

  test("bucket-partitioned corpus: wave filter prunes AT THE SCAN; resume re-reads only the invalidated bucket") {
    val out = tmpDir("prune")
    val bdocs = Interleave.materializedDocsBucketed(spark, sfDir, NB)

    // the partitioned layout produces the identical committed table
    val report = SnapshotSink.run(bdocs, out, nBuckets = NB, waveSize = 3)
    assert(report.processed.sorted === (0 until NB))
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === canon(ExtractPipeline.extractFlat(docs)))

    // invalidate one bucket; resume re-extracts ONLY it
    SnapshotSink.deleteRecursively(Paths.get(out, "data", "bucket=6"))
    val resumed = SnapshotSink.run(bdocs, out, nBuckets = NB, waveSize = 3)
    assert(resumed.invalidated === Seq(6))
    assert(resumed.processed === Seq(6))
    assert(resumed.skipped.sorted === (0 until NB).filterNot(_ == 6))

    // ...and that resume wave's input filter is a PARTITION filter: the scan lists
    // 1 of NB partitions (scan-level pruning — the unpartitioned layout re-reads
    // the full corpus every wave; VERDICT r2 top item)
    val wave = bdocs.filter(col("bucket").isin(6)).drop("bucket")
    val fmt = wave.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = fmt.linesIterator.find(_.contains("PartitionFilters")).getOrElse(
      fail(s"no PartitionFilters in wave scan plan:\n$fmt"))
    assert(pf.contains("bucket"), pf)
    wave.collect() // execute THIS plan so the scan's driver metrics populate
    val scan = (wave.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.nonEmpty, "no FileSourceScanExec in executed wave plan")
    val nPart = scan.head.metrics.get("numPartitions").map(_.value)
    assert(nPart.contains(1L),
      s"wave scan read $nPart partitions, expected exactly 1 of $NB")
  }

  test("range layout: a doc_id range predicate skips committed files via min/max stats") {
    // Completes the pruning story from corpus scan to committed OUTPUT (VERDICT r3
    // #6): commitWaveFlat's repartitionByRange(bucket, doc_id, offset) lays each
    // bucket's data out as files covering disjoint doc_id ranges, so parquet
    // row-group min/max statistics satisfy a doc_id range predicate for most files
    // and the scan never materializes their rows (vectorized reader + pushed
    // filters prune at row-group granularity; record-level filtering stays in the
    // Filter operator, so the scan's numOutputRows metric IS the skipping evidence).
    val out = tmpDir("rangeprune")
    // At sf0.001 AQE coalesces the 32 range partitions into one tiny partition per
    // bucket (64 MB advisory target), collapsing the multi-file-per-bucket layout
    // this test exists to exercise; at production scale partitions are far above
    // the advisory size and never merge. Disable coalescing for the WRITE only.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevC = spark.conf.get(coalesceKey)
    val prevS = spark.conf.get(shuffleKey)
    try {
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(shuffleKey, "64") // ~8 range partitions per bucket
      SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    } finally {
      spark.conf.set(coalesceKey, prevC)
      spark.conf.set(shuffleKey, prevS)
    }

    // layout precondition: several data files per bucket (32 range partitions over
    // NB=8 buckets), otherwise the file-skipping claim is vacuous
    import scala.jdk.CollectionConverters._
    val filesPerBucket = (0 until NB).map { b =>
      val s = Files.list(Paths.get(out, "data", s"bucket=$b"))
      try s.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    // range boundaries are sample-driven, so a bucket can still land a single
    // file at this scale — require the layout to be multi-file overall
    assert(filesPerBucket.sum >= 2 * NB && filesPerBucket.count(_ > 1) >= NB - 2,
      s"need a mostly multi-file-per-bucket layout for a pruning claim, " +
        s"got $filesPerBucket")

    val all = SnapshotSink.readCommitted(spark, out)
    val total = all.count()
    val hi = "doc-0000000000050" // first ~10% of the 500-doc corpus
    val q = all.filter(col("doc_id") <= hi)

    // the predicate reaches the parquet scan...
    val fmt = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("doc_id")), fmt)

    q.collect() // execute THIS plan so the scan metrics populate
    val scan = (q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scan.nonEmpty, "no FileSourceScanExec in executed range-query plan")
    val scanned = scan.head.metrics("numOutputRows").value
    assert(scanned < total / 2,
      s"scan materialized $scanned of $total committed rows — row groups outside " +
        "the doc_id range were not skipped")

    // ...and the pruned read returns exactly the right rows
    assert(canon(all.filter(col("doc_id") <= hi))
      === canon(ExtractPipeline.extractFlat(docs).filter(col("doc_id") <= hi)))
  }

  test("empty buckets commit cleanly (zero-metric manifest entries, no re-read crash)") {
    // only two doc ids -> 6 of 8 buckets are EMPTY; Spark writes no partition dirs
    // for an empty partitioned output, which used to crash the verification re-read
    val out = tmpDir("empty")
    val two = docs.filter(
      substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long").isin(1L, 2L))
    val report = SnapshotSink.run(two, out, nBuckets = NB, waveSize = 3)
    assert(report.processed.sorted === (0 until NB))
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.map(_.bucket).sorted === (0 until NB))
    assert(manifest.count(_.n_spans > 0) === 2)
    assert(manifest.count(_.n_spans == 0) === NB - 2)
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === canon(ExtractPipeline.extractFlat(two)))
    // idempotent resume over the mostly-empty snapshot
    val again = SnapshotSink.run(two, out, nBuckets = NB, waveSize = 3)
    assert(again.processed.isEmpty)
    assert(again.skipped.sorted === (0 until NB))
  }

  test("bucket-layout mismatches fail loudly instead of dropping documents") {
    // 16-bucket layout into an 8-bucket run: values 8..15 would match no wave
    val b16 = Interleave.materializedDocsBucketed(spark, sfDir, nBuckets = 16)
    val e1 = intercept[IllegalArgumentException] {
      SnapshotSink.run(b16, tmpDir("mismatch"), nBuckets = NB, waveSize = NB)
    }
    assert(e1.getMessage.contains("outside [0, 8)"))

    // in-range but WRONG function (constant 0): stray-bucket gate aborts pre-publish
    val wrongFn = docs.withColumn("bucket", lit(0))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotSink.run(wrongFn, tmpDir("wrongfn"), nBuckets = NB, waveSize = 3)
    }
    assert(e2.getMessage.contains("disagrees with bucketOf"))

    // the ADVICE r3 hole: waveSize >= nBuckets puts ALL true buckets inside the one
    // committing wave, so the stray-bucket gate alone cannot see the wrong column —
    // the initial-commit agreement scan must catch it
    val e3 = intercept[IllegalArgumentException] {
      SnapshotSink.run(wrongFn, tmpDir("wrongfn1w"), nBuckets = NB, waveSize = NB)
    }
    assert(e3.getMessage.contains("disagrees with bucketOf"))

    // NULL buckets: NULL < 0 is NULL, so a bare range filter would let these
    // through — and they'd match no wave's isin filter (silent loss)
    val withNulls = docs.withColumn("bucket",
      when(pmod(hash(col("doc_id")), lit(7)) === 0, lit(null))
        .otherwise(SnapshotSink.bucketOf(col("doc_id"), NB)))
    val e4 = intercept[IllegalArgumentException] {
      SnapshotSink.run(withNulls, tmpDir("nullbucket"), nBuckets = NB, waveSize = NB)
    }
    assert(e4.getMessage.contains("NULLs or values outside"))
  }

  test("resume refuses to overwrite a non-empty committed bucket with ZERO staged rows") {
    // Commit correctly, invalidate one bucket, then resume with an in-range but
    // wrong bucket column (agreement scan only runs on initial commits): the resume
    // wave filter selects nothing for the victim — committing it as "empty" would be
    // silent data loss (ADVICE r3 medium). The sink must abort BEFORE publishing and
    // leave every committed bucket byte-identical.
    val out = tmpDir("emptyresume")
    val bdocs = Interleave.materializedDocsBucketed(spark, sfDir, NB)
    SnapshotSink.run(bdocs, out, nBuckets = NB, waveSize = NB)
    val victim = 6
    SnapshotSink.deleteRecursively(Paths.get(out, "data", s"bucket=$victim"))
    val survivors = (0 until NB).filterNot(_ == victim)
    val before = survivors.map(b => b -> bucketBytes(out, b)).toMap

    val wrongResume = docs.withColumn("bucket", lit(0)) // in-range, never == victim
    val e = intercept[IllegalArgumentException] {
      SnapshotSink.run(wrongResume, out, nBuckets = NB, waveSize = NB)
    }
    assert(e.getMessage.contains("refusing to overwrite committed data"), e.getMessage)
    survivors.foreach(b => assert(bucketBytes(out, b) === before(b), s"bucket $b"))
    // a CORRECT resume afterwards heals the snapshot
    val healed = SnapshotSink.run(bdocs, out, nBuckets = NB, waveSize = NB)
    assert(healed.processed === Seq(victim))
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === canon(ExtractPipeline.extractFlat(docs)))
  }

  test("re-running a complete snapshot is a no-op (idempotency, languages.py:135-145)") {
    val out = tmpDir("idem")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val before = (0 until NB).map(b => b -> bucketBytes(out, b)).toMap
    val again = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(again.processed.isEmpty)
    assert(again.skipped.sorted === (0 until NB))
    (0 until NB).foreach(b => assert(bucketBytes(out, b) === before(b)))
  }
}
