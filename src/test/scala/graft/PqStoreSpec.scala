package graft

import graft.operators.Similarity
import graft.sources.{SnapshotSink, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/**
 * Committed PQ codebook ([[Similarity.pqCodebook]]): model state through the same
 * snapshot protocol as data state. The stored path must be byte-identical to the
 * in-memory path for every consumer, a second call must READ BACK (probe says
 * committed; no retraining side effects), and a corrupted bucket must fail the
 * probe and heal through the ordinary commit cycle — still byte-identical.
 */
class PqStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"graft-pqstore-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq

  test("stored codebook is byte-identical across consumers, commits once, heals") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = tmp("cb")

    // in-memory baselines
    val encodePlain = canon(Similarity.pqEncode(emb))
    val topkPlain = canon(Similarity.pqTopK(emb))
    val ivfpqPlain = canon(Similarity.ivfPqTopK(emb))

    // first stored call trains + commits
    assert(!TableSnapshot.isCommitted(spark, dir))
    assert(canon(Similarity.pqEncode(emb, store = Some(dir))) === encodePlain)
    assert(TableSnapshot.isCommitted(spark, dir))
    // committed frame round-trips the training output exactly
    assert(canon(SnapshotSink.readCommitted(spark, dir).drop("bucket")
      .orderBy("sub", "cell", "dim")) === canon(Similarity.pqTrain(emb)))

    // subsequent consumers read back (probe true) and agree byte-for-byte
    assert(canon(Similarity.pqTopK(emb, store = Some(dir))) === topkPlain)
    assert(canon(Similarity.ivfPqTopK(emb, store = Some(dir))) === ivfpqPlain)

    // corrupt one committed bucket -> probe fails -> heal through the commit
    // cycle -> identical again
    import scala.jdk.CollectionConverters._
    val b0 = java.nio.file.Paths.get(dir, "data", "bucket=0")
    val victim = java.nio.file.Files.list(b0).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
    java.nio.file.Files.write(victim, Array[Byte](1, 2, 3))
    assert(!TableSnapshot.isCommitted(spark, dir))
    assert(canon(Similarity.pqEncode(emb, store = Some(dir))) === encodePlain)
    assert(TableSnapshot.isCommitted(spark, dir))
  }
}
