package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.sources.{Interleave, ParquetFooter, SnapshotSink}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A parquet committer that, after committing a job, copies the first data file of
  * the first `bucket=` directory beside itself: the write's files then hold more
  * rows than the write produced. */
class DuplicatingCommitter(out: HPath, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: JobContext): Unit = {
    super.commitJob(job)
    def entries(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString) finally s.close()
    }
    val root = Paths.get(out.toUri)
    entries(root).find(_.getFileName.toString.startsWith("bucket=")).foreach { d =>
      entries(d).find(_.getFileName.toString.startsWith("part-")).foreach { f =>
        Files.copy(f, d.resolve("dup-" + f.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}

/**
 * [[ParquetFooter]] reads a file's row count from its footer alone; every commit
 * reconciles its staged files' footer counts against the rows its write observed
 * before anything publishes ([[SnapshotSink.commitWaveFlat]]).
 */
class ParquetFooterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String): Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-footer-$tag")
    SnapshotSink.deleteRecursively(p)
    p
  }

  private def partFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString)
    finally s.close()
  }

  test("the footer count equals Spark's count on Spark-written files") {
    val dir = tmpDir("counts")
    spark.range(0, 5000).select(col("id"), (col("id") % 7).as("k"),
        concat(lit("t"), col("id").cast("string")).as("s"))
      .repartition(4).write.partitionBy("k").parquet(dir.toString)
    val files = partFiles(dir)
    assert(files.size > 7)
    files.foreach { f =>
      assert(ParquetFooter.numRows(f) === spark.read.parquet(f.toString).count(), s"$f")
    }
    assert(files.map(ParquetFooter.numRows).sum === 5000L)
  }

  test("a truncated or non-parquet file is refused, never counted as 0") {
    val dir = tmpDir("broken")
    spark.range(0, 100).coalesce(1).write.parquet(dir.resolve("ok").toString)
    val good = Files.readAllBytes(partFiles(dir).head)
    def refused(name: String, bytes: Array[Byte]): Unit = {
      val f = dir.resolve(name)
      Files.write(f, bytes)
      val e = intercept[IllegalStateException](ParquetFooter.numRows(f))
      assert(e.getMessage.contains("not a readable parquet file"), name)
    }
    refused("truncated", good.dropRight(1))
    refused("cut-in-half", good.take(good.length / 2))
    refused("text", "doc_id,text\n1,hello\n".getBytes("UTF-8"))
    refused("empty", Array.emptyByteArray)
    // the magic at both ends but a garbled footer
    val garbled = good.clone()
    val len = java.nio.ByteBuffer.wrap(good, good.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(garbled, good.length - 8 - len, good.length - 8, 0xff.toByte)
    refused("garbled", garbled)
  }

  test("a commit whose footers disagree with its observed rows publishes nothing") {
    val out = tmpDir("mismatch")
    val docs = Interleave.docs(spark, "/root/testdata/sf0.001")
    SnapshotSink.run(docs, out.toString, nBuckets = 8, waveSize = 8)
    def dataDirs = Files.list(out.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val head = SnapshotSink.readState(out).head
    val (versions, dirs) = (SnapshotSink.versions(out.toString), dataDirs)
    val rows = SnapshotSink.readCommitted(spark, out.toString).count()
    val victim = SnapshotSink.readCommitted(spark, out.toString)
      .select(col("doc_id")).where(col("doc_id").isNotNull).head().getString(0)

    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[DuplicatingCommitter].getName)
    val e =
      try intercept[IllegalArgumentException](
        SnapshotSink.deleteDocs(spark, out.toString, Seq(victim)))
      finally spark.conf.unset(key)
    assert(e.getMessage.contains("parquet footers record"), e.getMessage)

    assert(SnapshotSink.readState(out).head === head)
    assert(SnapshotSink.versions(out.toString) === versions)
    assert(dataDirs === dirs)
    assert(SnapshotSink.readCommitted(spark, out.toString).count() === rows)
    assert(SnapshotSink.verifySnapshot(spark, out.toString) === Seq.empty)
    // the refused commit removed its staging directory
    assert(Files.list(out.resolve("staging")).count() === 0L)
  }
}
