package graft

import java.nio.file.Paths

import graft.sources.{SnapshotSink, TableSnapshot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Schema evolution on the committed table store (Iceberg add-column parity):
 * the table's state record keeps an append-only schema history; an add-column commit leaves
 * old buckets' files untouched (new columns read back NULL through the recorded schema
 * every scan reads with); a dropped/retyped column is refused loudly. Resume composes
 * with evolution: an invalidated old-schema bucket heals in the new shape.
 */
class SchemaEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val NB = 4

  private def freshDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-schemaevo-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def v1 = (0L until 40L).toDF("id")
    .select(col("id"), (col("id") * 2).as("score"),
      pmod(hash(col("id")), lit(NB)).cast("int").as("bucket"))

  private def v2 = v1.withColumn("lang", concat(lit("l"), pmod(col("id"), lit(3))))

  test("add-column evolution: history appends; old buckets read back with NULLs") {
    val dir = freshDir("add")
    // v1 commit: full table, schema version 1
    TableSnapshot.run(v1, dir, NB)
    assert(TableSnapshot.schemaHistory(dir).map(_.version) === Seq(1L))

    // same-schema recommit records nothing new
    TableSnapshot.run(v1, dir, NB)
    assert(TableSnapshot.schemaHistory(dir).map(_.version) === Seq(1L))

    // evolve: invalidate bucket 2, then commit the WIDER table — only bucket 2 is
    // rewritten (in the new shape); buckets 0,1,3 keep their v1 files
    SnapshotSink.deleteRecursively(Paths.get(dir, "data", "bucket=2"))
    val report = TableSnapshot.run(v2, dir, NB)
    assert(report.processed === Seq(2L))
    assert(report.skipped.sorted === Seq(0L, 1L, 3L))
    val hist = TableSnapshot.schemaHistory(dir)
    assert(hist.map(_.version) === Seq(1L, 2L))
    assert(!hist.head.ddl.contains("lang") && hist.last.ddl.contains("lang"))

    // read-side semantics: every row present; lang is NULL exactly on the
    // old-schema buckets and populated on the healed one
    val back = SnapshotSink.readCommitted(spark, dir)
    assert(back.columns.contains("lang"))
    assert(back.count() === 40L)
    val byBucket = back.groupBy(col("bucket").cast("int").as("b"))
      .agg(sum(when(col("lang").isNull, 1L).otherwise(0L)).as("nulls"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byBucket(2)._1 === 0L, "healed bucket must carry the new column")
    Seq(0, 1, 3).foreach(b =>
      assert(byBucket(b)._1 === byBucket(b)._2, s"old bucket $b must read lang=NULL"))
  }

  test("dropped or retyped columns are refused loudly") {
    val dir = freshDir("refuse")
    TableSnapshot.run(v2, dir, NB)
    assert(TableSnapshot.schemaHistory(dir).map(_.version) === Seq(1L))

    val dropped = v2.drop("score")
    val exDrop = intercept[IllegalArgumentException] {
      TableSnapshot.run(dropped, dir, NB)
    }
    assert(exDrop.getMessage.contains("score"))

    val retyped = v2.withColumn("score", col("score").cast("string"))
    val exType = intercept[IllegalArgumentException] {
      TableSnapshot.run(retyped, dir, NB)
    }
    assert(exType.getMessage.contains("score"))

    // the refused commits must not have touched history or data
    assert(TableSnapshot.schemaHistory(dir).map(_.version) === Seq(1L))
    assert(SnapshotSink.readCommitted(spark, dir).count() === 40L)
  }
}
