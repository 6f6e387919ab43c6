package perfbench

import graft.model.Doc
import graft.operators.{ExtractPipeline, Oracle}
import graft.sources.{Interleave, SnapshotSink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row of the base corpus (`documents.parquet`). */
final case class BaseDoc(id: Long, text: String, lang: String, source: String, nChars: Long)

/**
 * The seeded input generator. A corpus is `offsets.length` replicas of the base corpus;
 * replica r shifts every base id by `r * Stride + offsets(r)`, and the seed picks the
 * offsets. Because the engine's archetypes are functions of the numeric id (every 23rd,
 * 37th and 41st document; 2-4 text and 1-4 media spans by `id mod 3` and `id mod 4`),
 * each seed puts them on different documents. The counts below mirror that synthesis
 * rule so the output check can predict document and span totals without the engine.
 */
object Gen {
  /** Doc-id space per replica, as in `Interleave.docs`. */
  val Stride = 10000000L
  val Buckets = SnapshotSink.DefaultBuckets

  def textSpans(d: Long): Long = 2 + d % 3
  def mediaSpans(d: Long): Long = 1 + d % 4 + (if (d % 37 == 0) 24 else 0)
  def spans(d: Long): Long = textSpans(d) + mediaSpans(d)
  def idStr(d: Long): String = f"doc-$d%013d"
  def bucket(d: Long): Int = (d % Buckets).toInt

  def loadBase(spark: SparkSession, path: String): IndexedSeq[BaseDoc] =
    spark.read.parquet(path).select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => BaseDoc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_.id).toIndexedSeq

  /** `n` seed-chosen replica offsets, each leaving room for the whole base corpus. */
  def offsets(seed: Long, salt: Long, n: Int, baseMax: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed * 1000003L + salt)
    Array.fill(n)(rnd.nextLong(Stride - baseMax - 1))
  }
}

/** A generated corpus: the first `baseRows` base documents, once per replica. */
final class Corpus(val base: IndexedSeq[BaseDoc], val offsets: Array[Long],
    val baseRows: Int, val firstReplica: Int = 0) {
  private def shift(r: Int): Long = (firstReplica + r).toLong * Gen.Stride + offsets(r)

  val ids: Array[Long] = Array.tabulate(offsets.length * baseRows) { i =>
    base(i % baseRows).id + shift(i / baseRows)
  }
  def docs: Long = ids.length.toLong
  lazy val spans: Long = ids.iterator.map(Gen.spans).sum
  lazy val mediaSpans: Long = ids.iterator.map(Gen.mediaSpans).sum
  /** Documents the re-assembly router sends down the salted path. */
  lazy val heavyDocs: Long =
    ids.count(Gen.spans(_) > ExtractPipeline.SaltThreshold).toLong

  private lazy val byId: Map[Long, BaseDoc] = {
    val b = Map.newBuilder[Long, BaseDoc]
    ids.indices.foreach(i => b += ids(i) -> base(i % baseRows))
    b.result()
  }

  /** The interleaved document `d` as the engine's oracle synthesizes it. */
  def oracleDoc(d: Long): Doc = {
    val b = byId(d)
    Oracle.synthesize(d, b.text, b.lang, b.source, b.nChars)
  }

  /** Rows in `documents.parquet` form, ids shifted per replica. */
  def documents(spark: SparkSession, basePath: String): DataFrame = {
    val shifts = offsets.indices.map(shift)
    val baseDf = spark.read.parquet(basePath).orderBy("doc_id").limit(baseRows)
    spark.range(0, shifts.length, 1, math.min(shifts.length, 8))
      .select(element_at(typedLit(shifts), col("id").cast("int") + 1).as("shift"))
      .crossJoin(broadcast(baseDf))
      .select((col("doc_id") + col("shift")).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
  }

  /** Materialize the interleaved table at `dir`; bucketed adds the snapshot bucket
    * as a partition column, the layout `SnapshotSink.run` prunes on. */
  def write(spark: SparkSession, basePath: String, dir: String, bucketed: Boolean): Unit = {
    val docs = Interleave.fromDocuments(documents(spark, basePath))
    if (bucketed)
      docs.withColumn("bucket", SnapshotSink.bucketOf(col("doc_id"), Gen.Buckets))
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    else docs.write.mode("overwrite").parquet(dir)
  }
}

object Corpus {
  def apply(base: IndexedSeq[BaseDoc], seed: Long, salt: Long, replicas: Int,
      baseRows: Int, firstReplica: Int = 0): Corpus =
    new Corpus(base, Gen.offsets(seed, salt, replicas, base.map(_.id).max), baseRows,
      firstReplica)
}
