package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.model.{Doc, DocExtracted}
import graft.operators.{ExtractPipeline, Oracle}
import graft.sources.SnapshotSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** What one iteration measured: seconds in write calls and in read calls, the
  * documents it completed, and the on-disk bytes of its table afterwards. */
final case class Iter(write: Double, read: Double, docs: Long, tableBytes: Long) {
  def wall: Double = write + read
}

/**
 * One workload: its inputs, its timed iteration and its output check. Each set-up
 * round writes directories suffixed with its number and removes the previous round's,
 * so every round starts from scratch.
 */
abstract class Workload(ctx: Ctx, tag: String) {
  protected val spark = ctx.spark
  private var round = -1
  /** Layer counts the iterations recorded (traced runs only). */
  val stats: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def corpus: Corpus
  /** The interleaved documents table this workload extracts from. */
  def docsTable: String = path("input").toString
  /** Materialize this round's inputs. */
  protected def materialize(): Unit
  def iteration(i: Int): Iter
  /** The seed-chosen oracle sample check on the workload's final output. */
  def finalCheck(): Unit

  /** Set-up round `k`; the last round's inputs are the ones the iterations use. */
  final def setup(k: Int): Unit = {
    if (round >= 0) {
      val s = Files.list(ctx.work)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(s"$tag-") && n.endsWith(s"-$round")
        }
        .foreach(Files2.delete)
      finally s.close()
    }
    round = k
    materialize()
  }

  protected def path(what: String): Path = ctx.work.resolve(s"$tag-$what-$round")

  protected def oracle(c: Corpus, d: Long): DocExtracted = Oracle.extract(c.oracleDoc(d))

  /** One check per expected document: its span sequence (offset, kind, text,
    * media_ref), `ok`, `error` and `n_spans` equal the oracle's. A returned document
    * that is not expected fails a check too. */
  protected def checkDocs(what: String, rows: Seq[Row],
      expected: Map[String, DocExtracted]): Unit = {
    val got = rows.map(r => r.getAs[String]("doc_id") -> r).toMap
    expected.toSeq.sortBy(_._1).foreach { case (d, exp) =>
      val same = got.get(d).exists { r =>
        val spans = r.getSeq[Row](r.fieldIndex("spans")).map(s => (s.getAs[Int]("offset"),
          s.getAs[String]("kind"), s.getAs[String]("text"), s.getAs[String]("media_ref")))
        spans == exp.spans.map(s => (s.offset, s.kind, s.text, s.media_ref)) &&
          r.getAs[Boolean]("ok") == exp.ok &&
          Option(r.getAs[String]("error")) == Option(exp.error) &&
          r.getAs[Long]("n_spans") == exp.spans.size.toLong
      }
      ctx.check(same, s"$what: $d is missing or differs from the oracle")
    }
    (got.keySet -- expected.keySet).foreach(d =>
      ctx.check(ok = false, s"$what: $d unexpected"))
  }
}

object Workload {
  /** A short read is repeated and its median kept, so one slow pass does not decide
    * the iteration's read time. */
  val ReadPasses = 3

  /** `n` seed-chosen documents plus a few of each id archetype (link farm, heavy
    * multi-page, missing media), so every extraction path is sampled. */
  def sample(ids: Array[Long], seed: Long, salt: Long, n: Int = 240): Seq[Long] = {
    val rnd = new scala.util.Random(seed * 7919L + salt)
    val picked = Seq.fill(n)(ids(rnd.nextInt(ids.length)))
    val archetypes = Seq(23L, 37L, 41L).flatMap(m =>
      rnd.shuffle(ids.iterator.filter(_ % m == 0).take(400).toSeq).take(8))
    (picked ++ archetypes).distinct
  }

  def isin(ids: Iterable[Long]) = col("doc_id").isin(ids.map(Gen.idStr).toSeq: _*)
}

/** extract_flagship: interleaved documents through `extractAndReassemble` into the
  * discarding sink. The read is a plain scan of the same table. */
final class Flagship(ctx: Ctx, replicas: Int) extends Workload(ctx, "flagship") {
  lazy val corpus: Corpus = Corpus(ctx.base, ctx.seed, 1L, replicas, ctx.base.size)

  protected def materialize(): Unit = {
    ctx.call("Interleave.fromDocuments") {
      corpus.write(spark, ctx.basePath, docsTable, bucketed = false)
    }
  }

  def iteration(i: Int): Iter = {
    val read = Stats.median(Seq.fill(Workload.ReadPasses)(
      ctx.timedCall("Interleave.scan")(ctx.noop(spark.read.parquet(docsTable)))._2))
    val (out, obs) = ctx.observe(
      ExtractPipeline.extractAndReassemble(spark.read.parquet(docsTable)),
      count(lit(1)).as("docs"), sum(col("n_spans")).as("spans"))
    val (_, write) = ctx.timedCall("ExtractPipeline.extractAndReassemble")(ctx.noop(out))
    ctx.expectEq("documents extracted", ctx.long(obs, "docs"), corpus.docs)
    ctx.expectEq("spans extracted", ctx.long(obs, "spans"), corpus.spans)
    Iter(write, read, corpus.docs, Files2.bytes(Paths.get(docsTable)))
  }

  def finalCheck(): Unit = {
    val ids = Workload.sample(corpus.ids, ctx.seed, 1L)
    val rows = ctx.call("ExtractPipeline.extractAndReassemble") {
      ExtractPipeline.extractAndReassemble(
        spark.read.parquet(docsTable).filter(Workload.isin(ids))).collect().toSeq
    }
    checkDocs("flagship sample", rows,
      ids.map(d => Gen.idStr(d) -> oracle(corpus, d)).toMap)
  }
}

/**
 * snapshot_maintain: small writes and reads on a committed table. Set-up builds a
 * pristine table; each iteration copies it fresh and runs, in order: a
 * write-audit-publish cycle upserting ~0.5% of the documents (each revised down to
 * its first two spans), reads of the start version and of the changes since, a
 * takedown of 1,000 documents, a late stream batch of new documents and the
 * compaction it needs, version expiry and vacuum, and a full read of the result.
 */
final class Maintain(ctx: Ctx, replicas: Int, tag: String = "maintain")
    extends Workload(ctx, tag) {
  lazy val corpus: Corpus = Corpus(ctx.base, ctx.seed, 3L, replicas, ctx.base.size)
  /** The late stream batch: new documents from a replica beyond the table's. */
  lazy val stream: Corpus =
    Corpus(ctx.base, ctx.seed, 4L, 1, math.min(2000, ctx.base.size),
      firstReplica = replicas)
  private def pristine = path("pristine")
  private def updates = path("updates").toString
  private def streamFlat = path("stream").toString
  private val table = ctx.work.resolve(s"$tag-table")

  private lazy val (upserts, takedowns): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(ctx.seed * 104729L + 5L)
    val byBucket = corpus.ids.groupBy(Gen.bucket)
    val perBucketU = math.max(1, math.round(corpus.docs * 0.005 / Gen.Buckets).toInt)
    val perBucketD = 1000 / Gen.Buckets
    val picks = (0 until Gen.Buckets).map { b =>
      val ids = rnd.shuffle(byBucket(b).toSeq)
      (ids.take(perBucketU), ids.slice(perBucketU, perBucketU + perBucketD))
    }
    (picks.flatMap(_._1), picks.flatMap(_._2))
  }

  protected def materialize(): Unit = {
    ctx.call("Interleave.fromDocuments") {
      corpus.write(spark, ctx.basePath, docsTable, bucketed = true)
    }
    ctx.call("SnapshotSink.run") {
      SnapshotSink.run(spark.read.parquet(docsTable), pristine.toString, Gen.Buckets,
        waveSize = Gen.Buckets / 2)
    }
    ctx.call("ExtractPipeline.extractFlat") {
      ExtractPipeline.extractFlat(spark.read.parquet(docsTable)
          .filter(Workload.isin(upserts)).drop("bucket"))
        .filter(col("offset") < 2)
        .write.parquet(updates)
    }
    val streamDocs = path("streamdocs").toString
    ctx.call("Interleave.fromDocuments") {
      stream.write(spark, ctx.basePath, streamDocs, bucketed = false)
    }
    ctx.call("ExtractPipeline.extractFlat") {
      ExtractPipeline.extractFlat(spark.read.parquet(streamDocs)).write.parquet(streamFlat)
    }
  }

  private def revised(d: Long): Doc = {
    val doc = corpus.oracleDoc(d)
    doc.copy(spans = doc.spans.filter(_.offset < 2))
  }

  def iteration(i: Int): Iter = {
    Files2.delete(table)
    Files2.copyTree(pristine, table)
    val out = table.toString
    val traced = ctx.tr.traced
    var writes = 0.0
    var reads = 0.0
    def write[T](op: String)(body: => T): T = {
      val before = if (traced) Files2.dataFiles(table) else Set.empty[String]
      val (r, s) = ctx.timedCall(s"SnapshotSink.$op")(body)
      writes += s
      if (traced) stats("files_written") += (Files2.dataFiles(table) -- before).size
      r
    }
    def read(op: String, df: DataFrame): Long = {
      val (d, obs) = ctx.observe(df, count(lit(1)).as("rows"))
      reads += ctx.timedCall(s"SnapshotSink.$op")(ctx.noop(d))._2
      ctx.long(obs, "rows")
    }
    def committedRows(after: String, want: Long): Unit =
      ctx.expectEq(s"readCommitted rows after $after", ctx.call("check.readCommitted") {
        SnapshotSink.readCommitted(spark, out).count()
      }, want)
    def rewrite(buckets: Int, rewritten: Long, changed: Long): Unit = if (traced) {
      stats("buckets_rewritten") += buckets
      stats("rows_rewritten") += rewritten
      stats("rows_changed") += changed
    }

    val n0 = corpus.spans
    val uSpans = upserts.map(Gen.spans).sum
    val n1 = n0 - uSpans + 2L * upserts.size
    val n2 = n1 - takedowns.map(Gen.spans).sum
    val n3 = n2 + stream.spans
    val vStart = SnapshotSink.versions(out).last

    // write-audit-publish
    write("branch")(SnapshotSink.branch(out, "audit", vStart))
    val up = write("upsertDocsToBranch") {
      SnapshotSink.upsertDocsToBranch(spark, out, "audit", spark.read.parquet(updates))
    }
    ctx.expectEq("upsert matched docs", up.matchedDocs, upserts.size.toLong)
    ctx.expectEq("upsert inserted docs", up.insertedDocs, 0L)
    ctx.expectEq("upsert replaced rows", up.replacedRows, uSpans)
    ctx.expectEq("upsert rows", up.upsertRows, 2L * upserts.size)
    committedRows("upsertDocsToBranch (main untouched)", n0)
    ctx.expectEq("branch rows", ctx.call("check.readCommittedAtBranch") {
      SnapshotSink.readCommittedAtBranch(spark, out, "audit").count()
    }, n1)
    if (traced) rewrite(up.rewrittenBuckets.size,
      SnapshotSink.readManifestAt(spark, out, SnapshotSink.branches(out)("audit"))
        .filter(e => up.rewrittenBuckets.contains(e.bucket)).map(_.rows).sum,
      up.replacedRows + up.upsertRows)
    val failing = write("verifySnapshotAtBranch")(
      SnapshotSink.verifySnapshotAtBranch(spark, out, "audit"))
    ctx.check(failing.isEmpty, s"branch audit failed buckets $failing")
    write("fastForward")(SnapshotSink.fastForward(spark, out, "audit"))
    committedRows("fastForward", n1)
    write("dropBranch")(SnapshotSink.dropBranch(out, "audit"))
    ctx.check(!SnapshotSink.branches(out).contains("audit"),
      "branch still listed after dropBranch")
    val vPublished = SnapshotSink.versions(out).last

    // reads of the start version and of what the publish changed
    ctx.expectEq("rows at start version",
      read("readCommittedAt", SnapshotSink.readCommittedAt(spark, out, vStart)), n0)
    ctx.expectEq("changed rows since start",
      read("readChangesBetween",
        SnapshotSink.readChangesBetween(spark, out, vStart, vPublished)), n1)

    // takedown
    val del = write("deleteDocs")(
      SnapshotSink.deleteDocs(spark, out, takedowns.map(Gen.idStr)))
    ctx.expectEq("deleted rows", del.deletedRows, n1 - n2)
    committedRows("deleteDocs", n2)
    if (traced) rewrite(del.rewrittenBuckets.size,
      SnapshotSink.readManifest(spark, out)
        .filter(e => del.rewrittenBuckets.contains(e.bucket)).map(_.rows).sum,
      del.deletedRows)

    // late stream batch, then the compaction it makes necessary
    val ids = write("commitStreamBatch") {
      SnapshotSink.commitStreamBatch(spark.read.parquet(streamFlat), out, batchId = 0L)
    }
    ctx.expectEq("stream buckets committed", ids.size, Gen.Buckets)
    committedRows("commitStreamBatch", n3)
    val comp = write("compact")(SnapshotSink.compact(spark, out))
    ctx.check(!comp.noop, "compact was a no-op after a stream batch")
    ctx.expectEq("compacted rows", comp.rows, n3)
    committedRows("compact", n3)
    rewrite(comp.compactedBases.size, comp.rows, stream.spans)

    // retention
    write("expireVersions")(SnapshotSink.expireVersions(out, keepLast = 2))
    ctx.expectEq("versions kept", SnapshotSink.versions(out).size, 2)
    committedRows("expireVersions", n3)
    write("vacuum")(SnapshotSink.vacuum(spark, out))
    committedRows("vacuum", n3)

    // the consumer's full read of the maintained table
    val (docs, obs) = ctx.observe(
      ExtractPipeline.reassembleSorted(SnapshotSink.readCommitted(spark, out)),
      count(lit(1)).as("docs"), sum(col("n_spans")).as("spans"))
    reads += ctx.timedCall("SnapshotSink.readCommitted")(ctx.noop(docs))._2
    ctx.expectEq("documents read back", ctx.long(obs, "docs"),
      corpus.docs - takedowns.size + stream.docs)
    ctx.expectEq("spans read back", ctx.long(obs, "spans"), n3)

    if (traced) {
      val meta = Files2.metaFiles(table)
      stats("meta.files") = meta.size
      stats("meta.bytes") = meta.map(Files.size).sum.toDouble
      stats("meta.versions") = SnapshotSink.versions(out).size
    }
    Iter(writes, reads, upserts.size + takedowns.size + stream.docs, Files2.bytes(table))
  }

  def finalCheck(): Unit = {
    val kept = Workload.sample(corpus.ids, ctx.seed, 3L).filterNot(upserts.toSet)
      .filterNot(takedowns.toSet)
    val rnd = new scala.util.Random(ctx.seed + 11L)
    val u = rnd.shuffle(upserts).take(20)
    val d = rnd.shuffle(takedowns).take(20)
    val s = rnd.shuffle(stream.ids.toSeq).take(20)
    val rows = ctx.call("SnapshotSink.readCommitted") {
      ExtractPipeline.reassembleSorted(SnapshotSink.readCommitted(spark, table.toString)
        .filter(Workload.isin(kept ++ u ++ d ++ s))).collect().toSeq
    }
    checkDocs("maintained sample", rows,
      (kept.map(x => Gen.idStr(x) -> oracle(corpus, x)) ++
        u.map(x => Gen.idStr(x) -> Oracle.extract(revised(x))) ++
        s.map(x => Gen.idStr(x) -> oracle(stream, x))).toMap)
  }
}
