package graft

import scala.jdk.CollectionConverters._

import graft.operators.Dedup
import graft.sources.SnapshotSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Incremental near-dup: the delta path (committed base signatures + fresh delta
 * bands + new-side semi-join) must return EXACTLY the full-corpus pair set
 * restricted to pairs touching a new document — nothing lost, nothing invented —
 * and a rerun must resume the committed signature table, not rewrite it.
 */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val documents = spark.read.parquet(s"$sfDir/documents.parquet")

  private val sigDir = java.nio.file.Paths.get(
    sys.props("java.io.tmpdir"), "graft-incdedup-sigbase").toString

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental == full restricted to delta-touching pairs; rerun resumes") {
    SnapshotSink.deleteRecursively(java.nio.file.Paths.get(sigDir))
    val delta = Dedup.mutantsOnly(documents)

    val inc = pairs(Dedup.neardupIncremental(documents, delta, sigDir))
    val full = pairs(Dedup.neardupPairs(Dedup.withMutants(documents)))
    val expected = full.filter(p => p._2 >= 100000L) // delta ids are >= 100000
    assert(inc === expected)
    assert(inc.nonEmpty, "fixture must actually produce delta pairs")
    // old-old pairs (if any) must NOT leak into the incremental result
    assert(inc.forall(p => p._2 >= 100000L))

    // rerun: base signatures come back from the committed table (no new manifest
    // version and no new state record — no bucket was rewritten), result identical
    def metadataFiles(): Seq[String] = {
      val stream = java.nio.file.Files.list(java.nio.file.Paths.get(sigDir))
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("manifest-v") || n.startsWith("state-")).toSeq.sorted
      finally stream.close()
    }
    val before = metadataFiles()
    assert(before.exists(_.startsWith("state-")))
    assert(pairs(Dedup.neardupIncremental(documents, delta, sigDir)) === inc)
    assert(metadataFiles() === before,
      "second run must resume the committed signature table, not rewrite it")
  }
}
