package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.ExtractPipeline
import graft.sources.{Interleave, SnapshotSink}
import graft.sources.SnapshotSink.Branch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * WRITABLE branches ([[SnapshotSink.branch]] / [[SnapshotSink.upsertDocsToBranch]] /
 * [[SnapshotSink.fastForward]]) — the Iceberg write-audit-publish staging shape:
 * a merge staged on a branch leaves main bit-for-bit untouched (branch rewrites
 * land at a fresh generation; main's files are never moved aside), the branch
 * reads back as the merged table through the same manifest-resolved machinery,
 * fast-forward publishes the branch as the new HEAD version metadata-only, a
 * branch merge that fails at its commit point leaves both pointers where they were
 * and heals by re-running, and branches pin their versions against [[SnapshotSink.expireVersions]]
 * AND their bytes against [[SnapshotSink.vacuum]] (unlike tags, which pin metadata
 * only). The oracle-gated form is `SparkEntry.snapshot_branch`; this spec covers
 * the byte-identity, crash, GC-pinning, and multi-commit claims a flat query
 * can't express.
 */
class SnapshotBranchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val NB = 8

  private def tmpDir(tag: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-branch-$tag")
    SnapshotSink.deleteRecursively(p)
    p.toString
  }

  private def docs: DataFrame = Interleave.docs(spark, sfDir)

  private def docIdsInBucket(out: String, b: Long, n: Int): Seq[String] =
    SnapshotSink.readCommitted(spark, out)
      .filter(col("bucket") === b).select(col("doc_id")).distinct()
      .orderBy(col("doc_id")).limit(n)
      .collect().map(_.getString(0)).toSeq

  private def updateRows(ids: Seq[String]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, "en", 1, 0, "text", s"upd:$id",
        null: String, true, null: String, 0, 0.0))
      .toDF("doc_id", "lang", "n_doc_spans", "offset", "kind",
        "text", "media_ref", "ok", "error", "n_words", "conf_sum")
  }

  private def contentOf(df: DataFrame): Seq[(String, Int, String)] =
    df.select(col("doc_id"), col("offset").cast("int"),
        coalesce(col("text"), lit("")).as("t"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSeq.sorted

  /** (relative path, size, mtime) of every file under the BASE-generation bucket
    * dirs (bucket < NB) — main's physical bytes, which a branch commit must never
    * touch (new generations appear BESIDE them, so the whole-dir state can grow). */
  private def mainDirState(out: String): Seq[(String, Long, Long)] = {
    val root = Paths.get(out, "data")
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)
    }.filter { case (rel, _, _) =>
      rel.split("/").head.stripPrefix("bucket=").toLong < NB
    }.toSeq.sorted
    finally stream.close()
  }

  // numeric suffix far outside the sf0.001 id space; % 8 == 1
  private val InsertId = f"doc-${8000000000001L}%013d"

  test("write-audit-publish: branch merge isolates main, fast-forward publishes it") {
    val out = tmpDir("wap")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    val mainContent = contentOf(SnapshotSink.readCommitted(spark, out))
    val mainBytes = mainDirState(out)

    SnapshotSink.branch(out, "audit", 1L)
    val victims = docIdsInBucket(out, 2L, 1) ++ docIdsInBucket(out, 5L, 1)
    val report = SnapshotSink.upsertDocsToBranch(spark, out, "audit",
      updateRows(victims :+ InsertId))
    assert(report.matchedDocs === 2L && report.insertedDocs === 1L)
    // rewrites landed at a fresh generation, never at the base ids
    assert(report.rewrittenBuckets.forall(_ >= NB))
    assert(report.rewrittenBuckets.map(_ % NB).sorted === Seq(1L, 2L, 5L))

    // ISOLATION: main's HEAD pointer, logical content, and physical bytes are
    // all exactly as before the branch merge
    assert(SnapshotSink.branches(out)("audit") > 1L)
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === mainContent)
    assert(mainDirState(out) === mainBytes)

    // AUDIT: the branch reads back as the merged table
    val br = SnapshotSink.readCommitted(spark, out, Branch("audit"))
    victims.foreach { id =>
      val rows = br.filter(col("doc_id") === id).select(col("text")).collect()
      assert(rows.map(_.getString(0)).toSeq === Seq(s"upd:$id"))
    }
    assert(br.filter(col("doc_id") === InsertId).count() === 1L)
    assert(br.count() === SnapshotSink.readCommitted(spark, out).count()
      - SnapshotSink.readCommitted(spark, out)
          .filter(col("doc_id").isInCollection(victims)).count()
      + 3L)

    // PUBLISH: fast-forward is the restore machinery — metadata-only
    val bytesPreFf = {
      val root = Paths.get(out, "data")
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toSeq.sorted
      finally stream.close()
    }
    val ff = SnapshotSink.fastForward(spark, out, "audit")
    assert(ff.toVersion === SnapshotSink.branches(out)("audit"))
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === contentOf(br))
    val bytesPostFf = {
      val root = Paths.get(out, "data")
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toSeq.sorted
      finally stream.close()
    }
    assert(bytesPostFf === bytesPreFf, "fast-forward must not touch a data file")
  }

  test("a default branch merge is one commit: the pointer advances by one version") {
    val out = tmpDir("onewave")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "audit", 1L)
    val victims = Seq(0L, 3L, 6L, 7L).flatMap(b => docIdsInBucket(out, b, 1))
    val report = SnapshotSink.upsertDocsToBranch(spark, out, "audit",
      updateRows(victims :+ InsertId))
    assert(report.rewrittenBuckets.map(_ % NB).sorted === Seq(0L, 1L, 3L, 6L, 7L))
    assert(SnapshotSink.versions(out) === Seq(1L, 2L))
    assert(SnapshotSink.branches(out)("audit") === 2L)
    assert(SnapshotSink.verifySnapshot(spark, out, at = Branch("audit")) === Seq.empty)
  }

  test("retention never expires HEAD's version; a HEAD with no version is refused") {
    val out = tmpDir("expirehead")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1 = HEAD
    SnapshotSink.branch(out, "audit", 1L)
    SnapshotSink.upsertDocsToBranch(spark, out, "audit",
      updateRows(docIdsInBucket(out, 2L, 1))) // v2 on the branch; HEAD stays v1
    // keepLast = 1 would keep only v2 — but v1 is HEAD's version
    assert(SnapshotSink.expireVersions(out, keepLast = 1) === Seq.empty)
    assert(SnapshotSink.versions(out) === Seq(1L, 2L))
    val br = contentOf(SnapshotSink.readCommitted(spark, out, Branch("audit")))
    SnapshotSink.fastForward(spark, out, "audit")
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === br)

    // a table whose HEAD version is gone (pruned by hand, or by an older release
    // without the pin) has no fork point: both ref operations refuse loudly. The
    // fast-forward published v3 as a copy of v2, so both carry HEAD's content.
    assert(SnapshotSink.versions(out) === Seq(1L, 2L, 3L))
    Seq(2L, 3L).foreach(v => Files.delete(Paths.get(out, f"manifest-v$v%06d.json")))
    Seq(
      () => SnapshotSink.branch(out, "late", 1L),
      () => SnapshotSink.fastForward(spark, out, "audit")).foreach { op =>
      val ex = intercept[IllegalStateException](op())
      assert(ex.getMessage.contains("resolves to no history version"))
    }
  }

  test("compaction keeps the bytes a live branch reads; the branch still fast-forwards") {
    val out = tmpDir("compact")
    val numId = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    val flat = ExtractPipeline.extractFlat(docs)
    SnapshotSink.commitStreamBatch(flat.filter(numId < 250), out, 0L, NB)
    SnapshotSink.commitStreamBatch(flat.filter(numId >= 250), out, 1L, NB)
    val full = contentOf(SnapshotSink.readCommitted(spark, out))
    SnapshotSink.branch(out, "pinned", SnapshotSink.versions(out).last)

    val comp = SnapshotSink.compact(spark, out)
    assert(!comp.noop)
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === full)
    // the branch still reads the pre-compaction stream generations
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("pinned"))) === full)
    assert(SnapshotSink.verifySnapshot(spark, out, at = Branch("pinned")) === Seq.empty)
    // compaction changed no row, so main has taken no commit the branch lacks
    SnapshotSink.fastForward(spark, out, "pinned")
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === full)

    // once the branch is gone, vacuum reclaims the now-unreferenced generation
    SnapshotSink.dropBranch(out, "pinned")
    assert(SnapshotSink.vacuum(spark, out).nonEmpty)
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === full)
  }

  test("a branch merge failing its manifest publish moves no pointer; re-run heals") {
    val out = tmpDir("crash")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "wip", 1L)
    val mainBytes = mainDirState(out)
    val mainContent = contentOf(SnapshotSink.readCommitted(spark, out))
    val victims = docIdsInBucket(out, 0L, 1) ++ docIdsInBucket(out, 3L, 1) ++
      docIdsInBucket(out, 6L, 1)
    val updates = updateRows(victims :+ InsertId) // 4 base buckets: 0, 1, 3, 6

    intercept[PublishFault.Injected] {
      SnapshotSink.upsertDocsToBranch(spark, out, "wip", updates,
        io = PublishFault.atManifest)
    }
    // neither pointer moved; main's bytes and both refs' content intact
    assert(SnapshotSink.readState(Paths.get(out)).head === 1L)
    assert(SnapshotSink.branches(out)("wip") === 1L)
    assert(mainDirState(out) === mainBytes)
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === mainContent)
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("wip"))) === mainContent)
    assert(SnapshotSink.verifySnapshot(spark, out, at = Branch("wip")) === Seq.empty)

    // healing = re-running (a fresh generation; the partial one becomes orphans)
    val report = SnapshotSink.upsertDocsToBranch(spark, out, "wip", updates)
    assert(report.matchedDocs === 3L && report.insertedDocs === 1L)
    val br = SnapshotSink.readCommitted(spark, out, Branch("wip"))
    victims.foreach { id =>
      assert(br.filter(col("doc_id") === id).count() === 1L)
    }
    assert(mainDirState(out) === mainBytes)
  }

  test("a live branch pins bytes against vacuum and its version against expiry") {
    val out = tmpDir("gc")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "keep", 1L)
    val victims = docIdsInBucket(out, 2L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out, "keep", updateRows(victims))
    val bv = SnapshotSink.branches(out)("keep")
    val brContent = contentOf(SnapshotSink.readCommitted(spark, out, Branch("keep")))

    // vacuum with the branch live reclaims NOTHING: every generation is referenced
    // (base dirs by HEAD, the branch generation by the branch head)
    assert(SnapshotSink.vacuum(spark, out) === Seq.empty)
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("keep")))
      === brContent)

    // retention cannot expire a branch-pinned version
    assert(!SnapshotSink.expireVersions(out, keepLast = 1).contains(bv))
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("keep")))
      === brContent)

    // dropping the branch releases both pins: its exclusive generation becomes
    // reclaimable and HEAD keeps reading
    SnapshotSink.dropBranch(out, "keep")
    val removed = SnapshotSink.vacuum(spark, out)
    assert(removed.nonEmpty && removed.forall(
      _.stripPrefix("bucket=").toLong >= NB))
    assert(SnapshotSink.readCommitted(spark, out).count() > 0L)
  }

  test("streaming drain into a branch: main untouched until fast-forward, re-delivery skips") {
    val out = tmpDir("stream")
    val table = tmpDir("stream-table")
    val ckpt = tmpDir("stream-ckpt")
    val numId = substring(col("doc_id"), 5,
      graft.sources.Interleave.DocIdDigits).cast("long")
    val half1 = docs.filter(numId < 250)
    val half2 = docs.filter(numId >= 250)

    SnapshotSink.run(half1, out, nBuckets = NB, waveSize = NB) // v1: the seed
    val seedContent = contentOf(SnapshotSink.readCommitted(spark, out))
    val seedBytes = mainDirState(out)
    SnapshotSink.branch(out, "ingest", 1L)

    // the backlog arrives; the WHOLE drain commits to the branch
    half2.repartition(4).write.mode("append").parquet(table)
    graft.streaming.StreamingExtract.drainOnceCommitted(
      spark, table, out, ckpt, NB, toBranch = Some("ingest"))

    // main: pointer, content, and bytes all untouched by the streamed ingest
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === seedContent)
    assert(mainDirState(out) === seedBytes)
    // the branch holds seed + streamed = the full corpus extraction
    val full = contentOf(graft.operators.ExtractPipeline.extractFlat(docs))
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("ingest")))
      === full)

    // a re-delivered micro-batch finds its buckets committed ON THE BRANCH and
    // skips them (the streaming exactly-once contract, branch form)
    val flat0 = graft.operators.ExtractPipeline.extractFlat(
      spark.read.parquet(table))
    assert(SnapshotSink.commitStreamBatch(flat0, out, batchId = 0L,
      toBranch = Some("ingest")) === Seq.empty)
    assert(contentOf(SnapshotSink.readCommitted(spark, out, Branch("ingest")))
      === full)

    // audit (the A in WAP): the staged branch verifies end to end — both tiers
    assert(SnapshotSink.verifySnapshot(spark, out, at = Branch("ingest")) === Seq.empty)

    // publish: main becomes the audited full table
    SnapshotSink.fastForward(spark, out, "ingest")
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === full)
  }

  test("fast-forward refuses when main advanced past the fork (lost-update guard)") {
    val out = tmpDir("ffguard")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "stale", 1L)
    val brVictim = docIdsInBucket(out, 2L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out, "stale", updateRows(brVictim))

    // main takes its own commit after the fork — publishing "stale" now would
    // silently discard it
    val mainVictim = docIdsInBucket(out, 5L, 1)
    SnapshotSink.upsertDocs(spark, out, updateRows(mainVictim))
    val mainContent = contentOf(SnapshotSink.readCommitted(spark, out))
    val ex = intercept[IllegalStateException] {
      SnapshotSink.fastForward(spark, out, "stale")
    }
    assert(ex.getMessage.contains("not a fast-forward"))
    assert(contentOf(SnapshotSink.readCommitted(spark, out)) === mainContent)

    // recovery: re-branch from the CURRENT head and re-apply, then publish
    val head = SnapshotSink.versions(out).last
    SnapshotSink.branch(out, "rebased", head)
    SnapshotSink.upsertDocsToBranch(spark, out, "rebased", updateRows(brVictim))
    SnapshotSink.fastForward(spark, out, "rebased")
    val merged = SnapshotSink.readCommitted(spark, out)
    (brVictim ++ mainVictim).foreach { id =>
      assert(merged.filter(col("doc_id") === id).select(col("text"))
        .head.getString(0) === s"upd:$id")
    }

    // the publish advanced the branch's base: a further branch commit
    // fast-forwards again without re-branching
    SnapshotSink.upsertDocsToBranch(spark, out, "rebased",
      updateRows(docIdsInBucket(out, 6L, 1)))
    SnapshotSink.fastForward(spark, out, "rebased")
  }

  test("a takedown on main expires shared branch state loudly — on every ref") {
    val out = tmpDir("takedown")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "wip", 1L)
    // the branch rewrites bucket 2's family; bucket 5 stays SHARED with main
    SnapshotSink.upsertDocsToBranch(spark, out, "wip",
      updateRows(docIdsInBucket(out, 2L, 1)))

    // right-to-be-forgotten on main: victim lives in bucket 5 (shared)
    val victim = docIdsInBucket(out, 5L, 1)
    SnapshotSink.deleteDocs(spark, out, victim)

    // main reads on without the victim; the branch's manifest still references
    // bucket 5's RECLAIMED pre-takedown files, so the branch read fails LOUDLY
    // (takedown is unrecoverable on every ref — a branch can never resurrect
    // deleted bytes; same contract as restore and a version read)
    assert(SnapshotSink.readCommitted(spark, out)
      .filter(col("doc_id").isInCollection(victim)).count() === 0L)
    intercept[Exception] {
      SnapshotSink.readCommitted(spark, out, Branch("wip"))
        .filter(col("doc_id").isInCollection(victim)).count()
    }
    // and the branch AUDIT flags exactly the takedown-rewritten shared bucket
    assert(SnapshotSink.verifySnapshot(spark, out, at = Branch("wip")) === Seq(5L))
    // publishing the stale branch is refused twice over: main advanced past the
    // fork (lost-update guard) AND the target references reclaimed bytes
    intercept[IllegalStateException] {
      SnapshotSink.fastForward(spark, out, "wip")
    }
  }

  test("successive branch merges allocate strictly increasing generations") {
    val out = tmpDir("gens")
    SnapshotSink.run(docs, out, nBuckets = NB, waveSize = NB) // v1
    SnapshotSink.branch(out, "dev", 1L)
    val v1 = docIdsInBucket(out, 2L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out, "dev", updateRows(v1))
    val gen1 = SnapshotSink.lineage(spark, out, Branch("dev"))
      .agg(max(col("bucket"))).head.getLong(0) / NB
    // second merge on the SAME branch builds on the first's manifest and must
    // pick a HIGHER generation (the base manifest — the branch head's — and the
    // data directories are consulted, though generation 1's entries are in no
    // MAIN manifest and the first merge's reservation left with its commit)
    val v2 = docIdsInBucket(out, 5L, 1)
    SnapshotSink.upsertDocsToBranch(spark, out, "dev", updateRows(v2))
    val gen2 = SnapshotSink.lineage(spark, out, Branch("dev"))
      .agg(max(col("bucket"))).head.getLong(0) / NB
    assert(gen2 > gen1)
    // both merges are present in the branch read
    val br = SnapshotSink.readCommitted(spark, out, Branch("dev"))
    (v1 ++ v2).foreach { id =>
      assert(br.filter(col("doc_id") === id).select(col("text"))
        .head.getString(0) === s"upd:$id")
    }
    // a branch can never be born dangling, and an unknown branch is a clean miss
    assert(intercept[IllegalArgumentException] {
      SnapshotSink.branch(out, "nope", 99L)
    }.getMessage.contains("not in history"))
    assert(intercept[IllegalArgumentException] {
      SnapshotSink.readCommitted(spark, out, Branch("ghost"))
    }.getMessage.contains("no branch"))
  }
}
