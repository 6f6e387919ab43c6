package graft

import java.nio.file.Paths

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, PosixCommitIo, SnapshotSink}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming × takedown interplay (VERDICT r4 #5): a takedown between stream drains
 * — including the pathological crash interleave where an already-committed batch
 * is RE-DELIVERED after its generation was compacted away — can never resurrect
 * deleted documents or duplicate rows. The state record's compacted ids are the
 * backstop: ids merged into a canonical generation are recorded before their bytes
 * are reclaimed, and a re-delivered batch skips them.
 */
class StreamingTakedownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmp(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-stakedown-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("doc_id"), col("offset"), col("kind"), col("text"),
        coalesce(col("media_ref"), lit("")), col("ok").cast("int"),
        coalesce(col("error"), lit("")))
      .collect().map(_.mkString("|")).sorted.toSeq

  test("takedown between drains survives re-delivery of both pre- and post-takedown batches") {
    val table = tmp("table"); val out = tmp("out"); val ckpt = tmp("ckpt")
    val key = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    val docs = Interleave.docs(spark, sfDir)

    // ---- arrival A drains as TWO checkpointed micro-batches (gens 0 and 1), so
    // the later compaction actually merges (single-generation manifests no-op) ----
    val halfA1 = docs.filter(key < 250)
    val halfA2 = docs.filter(key >= 250)
    halfA1.repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt)
    halfA2.repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt)
    val flatA1 = ExtractPipeline.extractFlat(halfA1)

    // ---- stream settles; operator compacts, then takes down victims ------------
    assert(!SnapshotSink.compact(spark, out).noop)
    assert(SnapshotSink.readCompactedIds(Paths.get(out)) === (0L until 2 * NB).toSet)
    val victims = SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(3)
      .collect().map(_.getString(0)).toSeq
    val del = SnapshotSink.deleteDocs(spark, out, victims)
    assert(del.deletedRows > 0L)
    val postTakedown = canon(SnapshotSink.readCommitted(spark, out))
    assert(!postTakedown.exists(r => victims.exists(r.startsWith)))

    // ---- the pathological replay: batch 0 re-delivered AFTER compact+takedown --
    // (crash between sink commit and checkpoint advance, compaction while the
    // stream was down). Its generation-0 ids are gone from the manifest; without
    // the recorded compacted ids this would re-commit the whole batch — every row
    // duplicated and the victims RESURRECTED. It must be a full skip.
    assert(SnapshotSink.commitStreamBatch(flatA1, out, batchId = 0L) === Seq.empty,
      "re-delivered compacted-away batch must skip, not re-commit")
    assert(canon(SnapshotSink.readCommitted(spark, out)) === postTakedown)

    // ---- arrival B: new documents, drained across a simulated restart ----------
    // The sink commit for batch 1 happens (direct commitStreamBatch call = the
    // foreachBatch body), the "crash" loses the checkpoint advance, and the
    // restarted drain re-delivers batch 1 — which must skip its committed ids.
    val docsB = docs.filter(key < 100)
      .withColumn("doc_id", format_string(s"doc-%0${Interleave.DocIdDigits}d",
        key + 700000))
    docsB.repartition(2).write.mode("append").parquet(table)
    val flatB = ExtractPipeline.extractFlat(docsB)
    SnapshotSink.commitStreamBatch(flatB, out, batchId = 2L, NB)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt) // the restart

    // victims stay absent; content = post-takedown A + exactly-once B
    val fin = canon(SnapshotSink.readCommitted(spark, out))
    assert(!fin.exists(r => victims.exists(r.startsWith)), "victims resurrected")
    assert(fin === (postTakedown ++ canon(flatB)).sorted, "duplication or loss")

    // ...and every committed byte still verifies (deep, distributed re-hash)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("a batch re-delivered after a takedown re-commits nothing: no duplicate, no resurrection") {
    val out = tmp("redeliver")
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
    assert(SnapshotSink.commitStreamBatch(flat, out, batchId = 0L, NB).nonEmpty)
    val victims = SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id")).distinct().orderBy(col("doc_id")).limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(SnapshotSink.deleteDocs(spark, out, victims).deletedRows > 0L)
    val postTakedown = canon(SnapshotSink.readCommitted(spark, out))

    // the takedown moved the victims' buckets to a fresh generation; their old
    // ids are recorded as replaced, so the replay skips them instead of
    // re-committing the whole bucket beside its rewrite
    assert(SnapshotSink.commitStreamBatch(flat, out, batchId = 0L, NB) === Seq.empty)
    assert(canon(SnapshotSink.readCommitted(spark, out)) === postTakedown)
    assert(!postTakedown.exists(r => victims.exists(r.startsWith)))
  }

  test("a crash-before-data-commit batch is NOT in the compacted log: re-delivery still commits") {
    val table = tmp("rtable"); val out = tmp("rout"); val ckpt = tmp("rckpt")
    val docs = Interleave.docs(spark, sfDir)
    val key = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    docs.filter(key < 250).repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt)
    docs.filter(key >= 250).repartition(4).write.mode("append").parquet(table)
    StreamingExtract.drainOnceCommitted(spark, table, out, ckpt)

    // batch 2 reserves its generation in the ledger but "crashes" before any
    // data commits: the on-disk state of an allocation-only crash is exactly the
    // recorded allocations plus one more entry — publish it directly
    val base2 = 2L * NB
    SnapshotSink.updateState(Paths.get(out), PosixCommitIo)(s =>
      s.copy(batchBases = s.batchBases + (2L -> base2)))
    assert(SnapshotSink.readState(Paths.get(out)).batchBases ===
      Map(0L -> 0L, 1L -> NB.toLong, 2L -> base2))
    val flatB = ExtractPipeline.extractFlat(
      docs.filter(key < 50).withColumn("doc_id",
        format_string(s"doc-%0${Interleave.DocIdDigits}d", key + 800000)))

    SnapshotSink.compact(spark, out) // compacts generations 0 and 1 only
    // the compacted log must hold those generations' ids, NOT batch 2's reservation
    val compacted = SnapshotSink.readCompactedIds(Paths.get(out))
    assert(compacted === (0L until 2 * NB).toSet)
    assert(!compacted.exists(b => b >= base2 && b < base2 + NB))

    // re-delivery of batch 2 with its real data now COMMITS (no false skip)
    val committed = SnapshotSink.commitStreamBatch(flatB, out, batchId = 2L, NB)
    assert(committed.nonEmpty, "reserved-but-uncommitted batch must still commit")
    assert(canon(SnapshotSink.readCommitted(spark, out))
      === (canon(ExtractPipeline.extractFlat(docs)) ++ canon(flatB)).sorted)
  }
}
