package graft

import java.nio.file.Paths

import graft.operators.{ExtractPipeline, SpanMetricsAgg}
import graft.sources.{Interleave, SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The manifest's lineage metrics are observed during each commit's staged write,
 * not re-read from the staged files ([[SnapshotSink.commitWaveFlat]]). After every
 * kind of commit — a batch run, a stream batch, a merge, a takedown and a
 * compaction — each manifest entry must equal [[SpanMetricsAgg]] recomputed over
 * what HEAD reads, grouped by bucket; a table without span columns records its row
 * counts alone, and an all-empty wave records zero-metric entries.
 */
class LineageEqualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-lineage-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  /** Every HEAD entry against the metrics recomputed over `readCommitted`:
    * (rows, n_media, n_text, n_err, ocr_chars, n_words) exactly, conf_sum to 1e-9. */
  private def assertLineage(out: String): Unit = {
    val recomputed: Map[Long, (Seq[Long], Double)] =
      SnapshotSink.readCommitted(spark, out).groupBy(col("bucket"))
      .agg(SpanMetricsAgg.spanMetrics(col("kind"), col("ok"), col("error"), col("text"),
        col("n_words"), col("conf_sum")).as("m"))
      .select(col("bucket"), col("m.*"))
      .collect()
      .map(r => r.getLong(0) -> ((1 to 6).map(r.getLong), r.getDouble(7)))
      .toMap
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.nonEmpty)
    assert(recomputed.keySet.subsetOf(manifest.map(_.bucket).toSet))
    manifest.foreach { e =>
      val (counts, confSum) = recomputed.getOrElse(e.bucket, (Seq.fill(6)(0L), 0.0))
      assert(Seq(e.rows, e.n_media, e.n_text, e.n_err, e.ocr_chars, e.n_words) === counts,
        s"bucket ${e.bucket}")
      assert(e.n_spans === e.rows)
      assert(math.abs(e.conf_sum - confSum) <= 1e-9, s"bucket ${e.bucket} conf_sum")
    }
  }

  private def docIdsInBucket(out: String, b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(pmod(col("bucket"), lit(NB.toLong)) === b && col("doc_id").isNotNull)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  test("run, upsertDocs and deleteDocs record the lineage HEAD reads") {
    val out = tmpDir("batch")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = 3)
    assertLineage(out)

    // revised rows change text lengths, so ocr_chars moves with the merge
    val victims = Seq(1L, 4L).flatMap(b => docIdsInBucket(out, b, 2))
    val updates = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).drop("bucket")
      .withColumn("text", concat(col("text"), lit("!")))
    SnapshotSink.upsertDocs(spark, out, updates)
    assertLineage(out)

    val victims2 = Seq(0L, 6L).flatMap(b => docIdsInBucket(out, b, 1))
    SnapshotSink.deleteDocs(spark, out, victims2)
    assertLineage(out)
  }

  test("commitStreamBatch and compact record the lineage HEAD reads") {
    val out = tmpDir("stream")
    val flat = ExtractPipeline.extractFlat(docs)
    (0 until 2).foreach { b =>
      SnapshotSink.commitStreamBatch(
        flat.filter(pmod(hash(col("doc_id")), lit(2)) === b), out, b.toLong, NB)
    }
    assertLineage(out)
    assert(!SnapshotSink.compact(spark, out).noop)
    assertLineage(out)
  }

  test("a table without span columns records its row counts alone") {
    val out = tmpDir("table")
    val df = spark.range(0, 1000).select(col("id").as("doc_id"),
      (col("id") * 3).as("v"), pmod(hash(col("id")), lit(NB)).cast("int").as("bucket"))
    TableSnapshot.run(df, out, NB)
    val counts = df.groupBy(col("bucket").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.map(_.bucket).sorted === (0L until NB))
    manifest.foreach { e =>
      assert(e.rows === counts(e.bucket) && e.n_spans === e.rows)
      assert((e.n_media, e.n_text, e.n_err, e.ocr_chars, e.n_words, e.conf_sum) ===
        (0L, 0L, 0L, 0L, 0L, 0.0))
    }
  }

  test("an all-empty wave records zero-metric entries") {
    // docs 1 and 2 fill buckets 1 and 2; the waves [3,4,5] and [6,7] stage no row
    val out = tmpDir("empty")
    val two = docs.filter(
      substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long").isin(1L, 2L))
    SnapshotSink.run(two, out, nBuckets = NB, waveSize = 3)
    val manifest = SnapshotSink.readManifest(spark, out)
    assert(manifest.map(_.bucket).sorted === (0L until NB))
    manifest.filter(e => e.bucket >= 3).foreach { e =>
      assert(e.files.isEmpty && e.rows === 0L)
      assert((e.n_spans, e.n_media, e.n_text, e.n_err, e.ocr_chars, e.n_words, e.conf_sum)
        === (0L, 0L, 0L, 0L, 0L, 0L, 0.0))
    }
    assertLineage(out)
  }
}
