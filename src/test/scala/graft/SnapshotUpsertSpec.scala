package graft

import java.nio.file.Paths
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink, TableSnapshot}
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/**
 * Row-level UPSERT/MERGE ([[SnapshotSink.upsertDocs]]): matched documents' rows are
 * REPLACED (never appended beside the old rows), new documents are inserted,
 * untouched buckets stay byte-identical, a merge that fails at its commit point
 * leaves every live byte in place and is healed by re-running it, and stale
 * derived-table rows cascade-invalidate through [[TableSnapshot.deleteIds]]
 * exactly like the takedown cascade. Reference archetype: the language pack download's
 * replace-if-hash-differs idempotency (uiucprescon/ocr/languages.py:135-175).
 */
class SnapshotUpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-ups-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def docIdsInBucket(out: String, b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === b).select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  /** One replacement row in the committed flat-span schema. */
  private def updateRows(ids: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, "en", 1, 0, "text", s"upd:$id",
        null: String, true, null: String, 0, 0.0))
      .toDF("doc_id", "lang", "n_doc_spans", "offset", "kind",
        "text", "media_ref", "ok", "error", "n_words", "conf_sum")
  }

  /** Logical content of the committed table, as a sorted in-memory multiset. */
  private def logicalRows(out: String): Seq[(String, Int, String, String)] =
    SnapshotSink.readCommitted(spark, out)
      .select(col("doc_id"), col("offset"), col("kind"),
        coalesce(col("text"), lit("")).as("t"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
      .toSeq.sorted

  /** HEAD's manifest keyed by base bucket (a rewrite changes the id, not the base). */
  private def byBase(out: String): Map[Long, SnapshotSink.ManifestEntry] =
    SnapshotSink.readManifest(spark, out).map(e => (e.bucket % NB) -> e).toMap

  // numeric suffix % 8 == 1; far outside the sf0.001 id space (0..499)
  private val InsertId = f"doc-${8000000000001L}%013d"

  test("merge replaces matched rows, inserts new docs, leaves other buckets byte-identical") {
    val out = tmpDir("merge")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val before = byBase(out)
    val rowsBefore = SnapshotSink.readCommitted(spark, out).count()

    val victims = docIdsInBucket(out, 2L, 2) ++ docIdsInBucket(out, 5L, 1)
    val victimRows = SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victims)).count()
    assert(victimRows > 3L, "victims should carry several spans each")

    val report = SnapshotSink.upsertDocs(spark, out,
      updateRows(victims :+ InsertId))
    // rewrites land at a fresh generation: new ids, same bases
    assert(report.rewrittenBuckets === Seq(1L, 2L, 5L).map(NB + _))
    assert(report.matchedDocs === 3L)
    assert(report.insertedDocs === 1L)
    assert(report.replacedRows === victimRows)
    assert(report.upsertRows === 4L)

    val after = byBase(out)
    (0L until NB).filterNot(Seq(1L, 2L, 5L).contains).foreach { b =>
      assert(after(b) === before(b), s"bucket $b must be byte-identical")
    }
    Seq(1L, 2L, 5L).foreach { b =>
      assert(after(b).files !== before(b).files, s"bucket $b must be rewritten")
    }

    val back = SnapshotSink.readCommitted(spark, out)
    // REPLACE, not append: each victim now has exactly its one update row
    victims.foreach { id =>
      val rows = back.filter(col("doc_id") === id)
        .select(col("kind"), col("text")).collect()
      assert(rows.length === 1, s"victim $id must have exactly its new row set")
      assert(rows.head.getString(0) === "text" && rows.head.getString(1) === s"upd:$id")
    }
    assert(back.filter(col("doc_id") === InsertId).count() === 1L)
    assert(back.count() === rowsBefore - victimRows + 4L)
    // the merged snapshot still verifies end-to-end (resume = full no-op) —
    // note run()'s heal path would RE-EXTRACT from the source corpus; it must
    // not fire here because every bucket verifies
    val resume = SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    assert(resume.processed.isEmpty && resume.invalidated.isEmpty)
  }

  test("a merge failing at its manifest publish loses no byte; re-run converges") {
    val outCrash = tmpDir("crash")
    val outCtl = tmpDir("ctl")
    Seq(outCrash, outCtl).foreach(o =>
      SnapshotSink.run(docs, o, nBuckets = NB, waveSize = NB))
    val victims = docIdsInBucket(outCtl, 0L, 1) ++ docIdsInBucket(outCtl, 3L, 1) ++
      docIdsInBucket(outCtl, 6L, 1)
    val updates = updateRows(victims :+ InsertId) // 4 buckets: 0, 1, 3, 6

    // the merge's new directories are published, its commit is not
    val head = SnapshotSink.readState(Paths.get(outCrash)).head
    val before = logicalRows(outCrash)
    intercept[PublishFault.Injected] {
      SnapshotSink.upsertDocs(spark, outCrash, updates, io = PublishFault.atManifest)
    }
    // HEAD has not moved and every file it lists is still there
    assert(SnapshotSink.readState(Paths.get(outCrash)).head === head)
    assert(logicalRows(outCrash) === before)
    assert(SnapshotSink.verifySnapshot(spark, outCrash) === Seq.empty)

    // heal = re-run the same merge, at a fresh generation
    val report = SnapshotSink.upsertDocs(spark, outCrash, updates)
    assert(report.rewrittenBuckets.map(_ % NB) === Seq(0L, 1L, 3L, 6L))
    SnapshotSink.upsertDocs(spark, outCtl, updates)
    assert(logicalRows(outCrash) === logicalRows(outCtl),
      "crash+re-run must converge to the never-crashed result")
  }

  test("a default merge is one commit: exactly one new version") {
    val out = tmpDir("onewave")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val v0 = SnapshotSink.versions(out).last
    val victims = Seq(0L, 2L, 5L, 7L).flatMap(b => docIdsInBucket(out, b, 1))
    val report = SnapshotSink.upsertDocs(spark, out, updateRows(victims :+ InsertId))
    assert(report.rewrittenBuckets.map(_ % NB) === Seq(0L, 1L, 2L, 5L, 7L))
    assert(report.matchedDocs === 4L && report.insertedDocs === 1L)
    assert(SnapshotSink.versions(out) === Seq(v0, v0 + 1))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
    // an empty update set publishes nothing
    assert(SnapshotSink.upsertDocs(spark, out, updateRows(victims).limit(0))
      .rewrittenBuckets.isEmpty)
    assert(SnapshotSink.versions(out) === Seq(v0, v0 + 1))
  }

  test("a merge plans no Expand: its report aggregate generates the same code every call") {
    val out = tmpDir("noexpand")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val updates = updateRows(docIdsInBucket(out, 2L, 2) :+ InsertId)
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val report =
      try {
        val r = SnapshotSink.upsertDocs(spark, out, updates)
        ListenerDrain(spark.sparkContext)
        r
      } finally spark.listenerManager.unregister(listener)
    assert((report.matchedDocs, report.insertedDocs) === ((2L, 1L)))
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = plans.asScala.toSeq
    assert(executed.nonEmpty)
    executed.foreach { p =>
      assert(helper.collectWithSubqueries(p) { case e: ExpandExec => e }.isEmpty, p)
    }
  }

  test("re-running the same merge is idempotent in content") {
    val out = tmpDir("idem")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val updates = updateRows(docIdsInBucket(out, 4L, 2))
    SnapshotSink.upsertDocs(spark, out, updates)
    val once = logicalRows(out)
    val again = SnapshotSink.upsertDocs(spark, out, updates)
    assert(again.matchedDocs === 2L && again.insertedDocs === 0L)
    assert(logicalRows(out) === once)
  }

  test("derived-table cascade: deleteIds removes touched ids' stale rows only") {
    val out = tmpDir("cascade")
    import spark.implicits._
    // a derived table keyed by numeric doc id (signature-table shape)
    val derived = (0L until 64L).map(i => (i, s"sig-$i")).toDF("doc_id", "sig")
    TableSnapshot.runHashBucketed(derived, "doc_id", out, NB)
    val touched = Seq(5L, 17L)
    val before = byBase(out)
    val v0 = SnapshotSink.versions(out).last
    // an id no bucket holds publishes nothing
    assert(TableSnapshot.deleteIds(spark, out, Seq(1000L), "doc_id") ===
      SnapshotSink.DeleteReport(0L, Seq.empty))
    assert(SnapshotSink.versions(out).last === v0)
    val report = TableSnapshot.deleteIds(spark, out, touched, "doc_id")
    assert(report.deletedRows === 2L)
    assert(report.rewrittenBuckets.nonEmpty && report.rewrittenBuckets.forall(_ >= NB))
    assert(SnapshotSink.versions(out).last === v0 + 1, "one version per takedown")
    val after = byBase(out)
    (0L until NB).filterNot(report.rewrittenBuckets.map(_ % NB).contains).foreach { b =>
      assert(after(b) === before(b), s"derived bucket $b must be byte-identical")
    }
    val back = SnapshotSink.readCommitted(spark, out)
    assert(back.filter(col("doc_id").isInCollection(touched)).count() === 0L)
    assert(back.count() === 62L)
    // the rewritten table resumes as a no-op: its composite ids key on the base
    assert(TableSnapshot.isCommitted(spark, out))
    assert(TableSnapshot.runHashBucketed(derived, "doc_id", out, NB).count() === 62L)
    assert(SnapshotSink.versions(out).last === v0 + 1)
  }

  test("a derived-table takedown that fails at its manifest publish loses no byte") {
    val out = tmpDir("cascade-crash")
    import spark.implicits._
    val derived = (0L until 64L).map(i => (i, s"sig-$i")).toDF("doc_id", "sig")
    TableSnapshot.runHashBucketed(derived, "doc_id", out, NB)
    def rows = SnapshotSink.readCommitted(spark, out).select(col("doc_id"), col("sig"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val head = SnapshotSink.readState(Paths.get(out)).head
    val before = rows
    val touched = Seq(5L, 17L, 40L)
    intercept[PublishFault.Injected] {
      TableSnapshot.deleteIds(spark, out, touched, "doc_id",
        io = PublishFault.atManifest)
    }
    assert(SnapshotSink.readState(Paths.get(out)).head === head)
    assert(rows === before)
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)

    assert(TableSnapshot.deleteIds(spark, out, touched, "doc_id").deletedRows === 3L)
    assert(rows === before.filterNot(r => touched.contains(r._1)))
    assert(SnapshotSink.verifySnapshot(spark, out) === Seq.empty)
  }

  test("null-id updates, schema drift, and non-canonical manifests are refused") {
    val out = tmpDir("refuse")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB)
    val nullId = updateRows(Seq("doc-0000000000001"))
      .withColumn("doc_id", lit(null).cast("string"))
    val exNull = intercept[IllegalArgumentException] {
      SnapshotSink.upsertDocs(spark, out, nullId)
    }
    assert(exNull.getMessage.contains("NULL doc_id"))

    val exSchema = intercept[IllegalArgumentException] {
      SnapshotSink.upsertDocs(spark, out,
        updateRows(Seq("doc-0000000000001")).drop("conf_sum"))
    }
    assert(exSchema.getMessage.contains("schema"))

    // same names, one retyped column: refused against the recorded schema before
    // any Spark job, so no file the table's scans cannot read is ever committed
    val versions = SnapshotSink.versions(out)
    val retyped = updateRows(Seq("doc-0000000000001"))
      .withColumn("offset", col("offset").cast("string"))
    SnapshotSink.branch(out, "wap", versions.last)
    val (exTypes, jobs) = JobCount(spark) {
      Seq(intercept[IllegalArgumentException](
          SnapshotSink.upsertDocs(spark, out, retyped)),
        intercept[IllegalArgumentException](
          SnapshotSink.upsertDocsToBranch(spark, out, "wap", retyped)))
    }
    exTypes.foreach(ex => assert(ex.getMessage.contains("offset:STRING"), ex.getMessage))
    assert(jobs === 0)
    assert(SnapshotSink.versions(out) === versions)

    val outStream = tmpDir("refuse-stream")
    val flat = ExtractPipeline.extractFlat(docs)
    SnapshotSink.commitStreamBatch(flat, outStream, batchId = 0L, NB)
    SnapshotSink.commitStreamBatch(flat.limit(0), outStream, batchId = 1L, NB)
    val exCanon = intercept[IllegalArgumentException] {
      SnapshotSink.upsertDocs(spark, outStream,
        updateRows(Seq("doc-0000000000001")))
    }
    assert(exCanon.getMessage.contains("compact"))
  }
}
