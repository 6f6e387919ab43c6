package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.security.MessageDigest
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import graft.operators.{BucketRowsAgg, BucketSpanMetricsAgg, EngineConfig, ExtractPipeline,
  SpanMetrics, SpanMetricsAgg}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/**
 * Snapshot-committed, resumable extraction sink (SURVEY.md §7 step 5) — the Iceberg-style
 * commit protocol required by the north rule ("resumable from checkpoint with
 * per-partition lineage + metrics"), with no Iceberg runtime on the classpath.
 *
 * The protocol is the distributed form of the reference's language-pack download
 * (uiucprescon/ocr/languages.py:130-179), its only durable write:
 *
 *   1. skip-if-content-hash-matches idempotency  (languages.py:135-145)
 *        -> a committed bucket whose manifest hash still matches its files is never
 *           re-extracted; resume filters it out BEFORE the OCR island, so no engine
 *           work repeats;
 *   2. stream to a temp location                 (languages.py:146-163)
 *        -> each wave writes parquet to `<out>/staging/<its own dir>/bucket=<b>`;
 *   3. verify content hash                       (languages.py:168-169)
 *        -> lineage metrics are OBSERVED on the staged write itself, and every staged
 *           file's parquet footer row count must equal them before anything
 *           publishes (write-path loss or duplication surfaces here, at metadata
 *           cost, not at some later consumer); the manifest records an md5 over the
 *           bucket's data files — the one pass that reads the written bytes;
 *   4. atomic rename to the final name           (languages.py:174-175)
 *        -> publish of the bucket directory, then of the next manifest version and
 *           the state record naming it HEAD, all through the [[CommitIo]] seam
 *           (atomic directory rename; create-new metadata files — see [[CommitIo]]).
 *           A crash at ANY point leaves either a fully committed bucket (manifest +
 *           data agree) or an invisible one (staging only) — never a half-read state.
 *
 * Scale design: work is keyed by `bucket = doc_num % nBuckets` (doc_id's numeric suffix,
 * so the assignment is reproducible in plain SQL and uniform by construction). Buckets
 * are processed in WAVES of `waveSize`, one Spark action per wave, committing after each
 * — at 10^12 documents a monolithic job has no commit points, whereas wave granularity
 * bounds re-work after a failure to one wave while keeping full cluster parallelism
 * within it. When the input table carries a `bucket` PARTITION column equal to the
 * same bucket expression ([[graft.sources.Interleave.materializedDocsBucketed]] — the
 * production layout), the wave/resume filter prunes AT THE SCAN (`PartitionFilters`):
 * each wave reads only its own buckets' bytes and a 99%-committed resume reads 1% of
 * the corpus, not all of it. Unpartitioned inputs (live synthesis) fall back to the
 * post-scan filter.
 *
 * Per-bucket lineage = [[graft.operators.SpanMetricsAgg]] per bucket, observed on
 * the write ([[graft.operators.PerBucketMetrics]]) + engine version (the F1/F2
 * version-introspection analogues, uiucprescon/ocr/utils.cpp:4-6) + wall time.
 */
object SnapshotSink {

  /** Default bucket count — single-sourced: the oracle SQL mirrors interpolate this
    * constant ([[graft.functions.OracleSql.SnapshotBuckets]]) so a change here cannot
    * silently desynchronize the DuckDB side (ADVICE r3). */
  val DefaultBuckets = 8

  /** One committed bucket in the manifest. `files`/`file_sizes`/`file_hashes` are
    * parallel arrays: per-data-file name, byte size, and md5 — recorded at commit
    * time by a distributed hash job (executors stream the bytes; the driver only
    * ever sees 32-char digests). `content_hash` is the md5 over the sorted
    * (name:size:md5) lines — one digest summarizing the bucket.
    *
    * `bucket` is a LONG: streaming commits composite ids `generation * nBuckets + b`
    * ([[commitStreamBatch]]), and an Int id would cap a stream's lifetime at ~2^28
    * batches before overflowing mid-flight (ADVICE r3). Batch ids stay tiny
    * (0 until nBuckets); JSON is untyped so old manifests read back unchanged. */
  final case class ManifestEntry(
      bucket: Long,
      rows: Long,
      content_hash: String,
      files: Seq[String],
      file_sizes: Seq[Long],
      file_hashes: Seq[String],
      engine_version: String,
      n_spans: Long,
      n_media: Long,
      n_text: Long,
      n_err: Long,
      ocr_chars: Long,
      n_words: Long,
      conf_sum: Double,
      wall_ms: Long)

  final case class SnapshotReport(
      processed: Seq[Long],
      skipped: Seq[Long],
      invalidated: Seq[Long],
      totalRows: Long)

  /** Outcome of a [[compact]] run. `generation` is the new generation index (or the
    * highest existing one on a no-op); `mergedEntries` counts the source manifest
    * entries rewritten away. */
  final case class CompactReport(
      generation: Long,
      compactedBases: Seq[Long],
      mergedEntries: Long,
      rows: Long,
      noop: Boolean)

  /** Deterministic bucket assignment from the doc_id's numeric suffix
    * ('doc-0000000000042' — 13 digits, [[graft.sources.Interleave.DocIdDigits]]). */
  def bucketOf(docId: Column, nBuckets: Int): Column =
    pmod(substring(docId, 5, Interleave.DocIdDigits).cast("long"), lit(nBuckets))
      .cast("int")

  /**
   * Run (or resume) the resumable extraction of `docs` into `outDir`.
   * Committed buckets are skipped upstream of the OCR island; buckets whose files no
   * longer match their manifest hash are invalidated and re-extracted.
   *
   * If `docs` has a `bucket` column it MUST equal `bucketOf(doc_id, nBuckets)` (the
   * [[graft.sources.Interleave.materializedDocsBucketed]] layout); it is then used
   * directly as the wave filter so a partitioned source prunes at the scan.
   *
   * The first commit records `nBuckets` in the state record; every later write
   * reads it from there, and a run with a different count is refused before any
   * Spark job ([[TableSnapshot.recordLayout]]).
   */
  def run(
      docs: DataFrame,
      outDir: String,
      nBuckets: Int = DefaultBuckets,
      waveSize: Int = 4,
      config: EngineConfig = EngineConfig.default,
      deepVerify: Boolean = true,
      io: CommitIo = PosixCommitIo): SnapshotReport = {
    val bucketed = docs.columns.contains("bucket")
    // The filter sits on the INPUT side of the pipeline: a resumed job never pays
    // decode/OCR for committed work (the expensive step is the one being saved,
    // exactly like the reference skipping a re-download on hash match). Against a
    // bucket-PARTITIONED source this is a partition filter — the scan itself reads
    // only the wave's buckets (SnapshotResumeSpec asserts PartitionFilters + the
    // pruned partition count); otherwise it prunes post-scan. Int literals, not
    // Long: a Long literal would type-coerce the int `bucket` partition column
    // through a cast, defeating the scan-level pruning this filter exists for.
    val rowsOf: Seq[Int] => DataFrame = { wave =>
      val docsW =
        if (bucketed) docs.filter(col("bucket").isin(wave: _*)).drop("bucket")
        else docs.filter(bucketOf(col("doc_id"), nBuckets).isin(wave: _*))
      ExtractPipeline.extractFlat(docsW, config)
        .withColumn("bucket", bucketOf(col("doc_id"), nBuckets))
    }
    val out = Paths.get(outDir)
    // a count or schema the table did not record is refused before the guard's scans
    TableSnapshot.recordLayout(out, rowsOf(Seq.empty).schema, nBuckets)(readState(out))
    if (bucketed) {
      // Layout guard, two tiers. (1) Range: the column MUST lie in [0, nBuckets). A
      // wrong nBuckets (e.g. a 16-bucket layout into an 8-bucket run) leaves values
      // >= nBuckets matching NO wave filter — documents silently never extracted,
      // manifests "successfully" committed short. The range check is
      // pruning-resolved on a partitioned source (zero file reads when clean).
      // NULL included: NULL < 0 is NULL, so a bare range filter would pass NULL
      // buckets, which then match NO wave's isin filter — the same silent-loss
      // class as out-of-range values
      val bad = docs.filter(col("bucket").isNull
          || col("bucket") < 0 || col("bucket") >= nBuckets)
        .limit(1).count()
      require(bad == 0,
        s"input `bucket` column has NULLs or values outside [0, $nBuckets) — " +
          "bucket-layout / nBuckets mismatch would silently drop documents")
      // (2) Agreement: an IN-RANGE but wrong-function column (e.g. a constant) can
      // pass tier 1 AND commitWaveFlat's stray-bucket gate whenever the misassigned
      // rows' true buckets fall inside the committing wave — in particular any
      // single-wave commit (waveSize >= nBuckets). The initial commit would then
      // succeed, but a later resume of one invalidated bucket filters by the wrong
      // column, stages zero rows, and empty-wave handling would commit the bucket as
      // legitimately empty — silent data loss (ADVICE r3). So on the INITIAL commit
      // (no manifest yet — the job reads the whole corpus anyway, and one extra
      // two-column pass is noise next to OCR) assert column == bucketOf(doc_id)
      // everywhere. Resumes skip this scan to keep partition pruning intact; they
      // are covered by the non-empty refusal of [[commitBuckets]].
      if (readManifest(docs.sparkSession, outDir).isEmpty) {
        val mismatch = docs
          .filter(col("bucket") =!= bucketOf(col("doc_id"), nBuckets))
          .limit(1).count()
        require(mismatch == 0,
          s"input `bucket` column disagrees with bucketOf(doc_id, $nBuckets) — " +
            "an in-range wrong bucket column would silently mis-route documents")
      }
    }
    commitBuckets(docs.sparkSession, out, nBuckets, waveSize, deepVerify, io)(rowsOf)
  }

  /**
   * The resume and wave body of [[run]] and [[TableSnapshot.run]]. `rowsOf(bases)`
   * builds the rows of those base buckets, each carrying its base `bucket` id. The
   * caller has checked their schema and `nBuckets` against the recorded ones
   * ([[TableSnapshot.recordLayout]]), which each wave's commit records.
   *
   *   1. idempotent skip via content hash: verify HEAD's entries (the name+size
   *      check is driver-side METADATA only; the byte-level hash runs as ONE batched
   *      distributed job over every fast-passing bucket — at 100 TB the driver never
   *      re-reads committed data and the job count stays O(1), not O(buckets));
   *   2. commit every base bucket without a valid entry in waves of `waveSize`, one
   *      Spark action and one manifest version per wave ([[commitWaveFlat]]).
   */
  private[sources] def commitBuckets(spark: SparkSession, out: Path, nBuckets: Int,
      waveSize: Int, deepVerify: Boolean, io: CommitIo)(
      rowsOf: Seq[Int] => DataFrame): SnapshotReport = {
    Files.createDirectories(out.resolve("data"))
    val (head0, existing) = resolve(out, Head)
    val (valid, invalid) = verifyEntries(spark, out, existing, deepVerify)
    // Generation-aware resume: a rewritten or COMPACTED snapshot's entries live at
    // `gen*nBuckets + base` ([[compact]]). Whenever each base bucket appears at most
    // once in the manifest (canonical — true for batch manifests, where id == base,
    // and true by construction after any rewrite), resume works per BASE and
    // re-commits an invalidated bucket under its EXISTING manifest id, so rewrites
    // never break the heal-from-source path. On a NON-canonical manifest (a
    // mid-flight stream with several generations per base) this commits NOTHING:
    // with multiple generations live, "base bucket b is missing" cannot be
    // distinguished from "batch for b hasn't arrived yet", and committing a fresh
    // extraction at the base ids would DUPLICATE every streamed row the moment both
    // are read back. Verify-only + loud invalid refusal is the safe contract; a
    // failed-verify composite id must fail LOUDLY before anything is deleted, since
    // run() cannot re-extract it from the source corpus (the stream checkpoint has
    // advanced past that batch) — healing belongs to re-delivery / compact().
    val canonical = isCanonical(existing, nBuckets)
    require(canonical || invalid.isEmpty,
      s"bucket(s) ${invalid.map(_.bucket).sorted.mkString(",")} fail verification " +
        "in a non-canonical (multi-generation stream) manifest — run() cannot " +
        "re-extract composite stream ids; re-deliver the stream batch or compact() " +
        "the verified generations first")
    // Resume-side half of the layout guard: a bucket being RE-committed whose prior
    // manifest entry recorded rows > 0 must not stage empty — that is the silent-loss
    // signature of an in-range wrong bucket column on a resume (the agreement scan
    // of [[run]] only runs on initial commits). Legitimately-empty buckets (prior
    // rows == 0) stay re-committable as empty.
    val mustBeNonEmpty = invalid.filter(_.rows > 0).map(_.bucket).toSet
    var manifest = valid.sortBy(_.bucket)
    val idOfBase = existing.map(e => (e.bucket % nBuckets) -> e.bucket).toMap
      .withDefault(identity)
    val validIds = valid.map(_.bucket).toSet
    val todo =
      if (canonical) (0L until nBuckets).filterNot(b => validIds(idOfBase(b)))
      else Seq.empty[Long]
    // failed-verify bytes and a crashed commit's unreferenced leftovers: a commit
    // publishes only to absent paths
    todo.foreach(b => deleteRecursively(bucketDir(out, idOfBase(b))))

    val processed = Seq.newBuilder[Long]
    var totalRows = 0L
    var head = head0
    todo.grouped(waveSize).foreach { baseWave =>
      val t0 = System.nanoTime()
      // staged rows carry their MANIFEST id (== base for unrewritten snapshots; the
      // rewritten generation's id otherwise), the id verification already uses
      val ids = baseWave.map(idOfBase)
      val rows = rowsOf(baseWave.map(_.toInt))
        .withColumn("bucket", rekey(col("bucket"), baseWave.zip(ids)))
      val (newManifest, waveRows, v) =
        commitWaveFlat(spark, out, rows, ids, manifest, nBuckets, t0, movesHead(head),
          expectNonEmpty = mustBeNonEmpty.intersect(ids.toSet), io = io)
      manifest = newManifest
      head = v
      processed ++= ids
      totalRows += waveRows
    }
    SnapshotReport(processed.result(), valid.map(_.bucket).sorted,
      invalid.map(_.bucket).sorted, totalRows)
  }

  /** The ref a read resolves ([[resolve]]): main's HEAD, a history version
    * ([[versions]]), a tag ([[tag]]) or a branch head ([[branch]]). */
  sealed trait Ref
  case object Head extends Ref
  final case class Version(v: Long) extends Ref
  final case class Tag(name: String) extends Ref
  final case class Branch(name: String) extends Ref

  /** Manifest-resolved read (Iceberg semantics: the manifest IS the table): scan
    * exactly the data files the manifest of `at` lists, with the recorded schema, so
    * orphan directories — a crashed rewrite's fresh generation, an abandoned write —
    * are invisible without any vacuum. Fails loudly when a listed file was reclaimed
    * — the version is EXPIRED ([[readEntries]]) — never returning a short table. */
  def readCommitted(spark: SparkSession, outDir: String, at: Ref = Head): DataFrame = {
    val (v, entries) = resolve(Paths.get(outDir), at)
    readEntries(spark, outDir, entries, s"snapshot version $v ($at)")
  }

  // ---- table state ------------------------------------------------------------------
  //
  // A table root holds two metadata file kinds, both immutable and published
  // create-new ([[CommitIo.publishFile]]): manifest versions `manifest-v%06d.json`
  // and state records `state-%06d.json` ([[TableState]]). The newest state record
  // IS the table's metadata, and every change is one [[updateState]] publish. An
  // edit that moves HEAD refuses when HEAD is no longer the version the operation
  // built on ([[movesHead]]), so writers on main never silently lose an update;
  // tag, branch and ledger edits simply re-apply on top of a concurrent winner.

  /** A branch ref: its head version and main's HEAD version when it forked. The
    * base is what makes [[fastForward]] safe: publishing a branch whose base is
    * behind main's current HEAD would silently discard every commit main took since
    * the fork. */
  private[graft] final case class BranchRef(version: Long, base: Long)

  /** One state record. `head` is 0 until the first commit to main. `batchBases` is
    * the ledger of [[allocateGeneration]]: stream batch id -> allocated composite
    * base, so a re-delivered batch reuses its allocation (a crash between
    * allocation and data commit leaves an allocation the re-delivery fills in),
    * plus one negative-keyed reservation per running [[rewrite]], which the state
    * edit that commits the rewrite drops.
    * `schemas` is the table's schema history and `nBuckets` its bucket count (0
    * until the first commit), both recorded by the commit that creates the table
    * ([[TableSnapshot.recordLayout]]); every scan reads with the schema, and every
    * takedown, merge and compaction routes rows with the count.
    *
    * `compactedIds` are the stream-batch ids a [[rewrite]] replaced (compaction,
    * takedown, merge), recorded in the publish that commits the rewrite, before
    * their bytes are GC'd. [[commitStreamBatch]] skips them: a batch replayed after an
    * ill-timed rewrite (crash between sink commit and checkpoint advance, then
    * compact or takedown while the stream is down) would otherwise RE-COMMIT them
    * — every row duplicated and takedown-deleted documents RESURRECTED
    * (StreamingTakedownSpec). A batch that only allocated a generation is not
    * listed, so its re-delivery still commits. */
  private[graft] final case class TableState(
      head: Long = 0L,
      tags: Map[String, Long] = Map.empty,
      branches: Map[String, BranchRef] = Map.empty,
      batchBases: Map[Long, Long] = Map.empty,
      compactedIds: Seq[Long] = Seq.empty,
      schemas: Seq[TableSnapshot.SchemaVersion] = Seq.empty,
      nBuckets: Int = 0)

  /** The state edit that commits a just-published manifest version: it names the
    * ref that moves ([[movesHead]], [[advancesBranch]]). */
  private[sources] type Commit = Long => TableState => TableState

  /** The one metadata codec: state records and manifest lines. */
  private implicit val formats: Formats = DefaultFormats

  private val StateFileRe = "state-(\\d+)\\.json".r

  private def statePath(out: Path, n: Long): Path = out.resolve(f"state-$n%06d.json")

  /** Metadata files of the retired seven-file layout. A root holding one of them
    * and no state record is an old-layout table: refused, never read as empty. */
  private val RetiredFiles = Seq("manifest.json", "refs.json", "branches.json",
    "stream-batches.json", "compacted-ids.json", "schema.json")

  /** The newest state record and its number (0 and an empty state if none). */
  private def latestState(out: Path): (Long, TableState) =
    numberedFiles(out, StateFileRe).lastOption match {
      case Some(n) =>
        n -> Serialization.read[TableState](Files.readString(statePath(out, n)))
      case None =>
        RetiredFiles.find(f => Files.exists(out.resolve(f))).foreach { f =>
          throw new IllegalStateException(
            s"$out is an old-layout table: it holds the retired metadata file $f " +
              "and no state record — rebuild it (a derived table: delete the " +
              "directory and re-run)")
        }
        0L -> TableState()
    }

  private[graft] def readState(out: Path): TableState = latestState(out)._2

  /** Apply `edit` to the newest state record and publish the result as the next
    * record, create-new; re-read and re-apply when a concurrent writer took that
    * number first. An edit that changes nothing publishes nothing. Returns the
    * state as published. */
  @tailrec private[graft] def updateState(out: Path, io: CommitIo)(
      edit: TableState => TableState): TableState = {
    val (n, cur) = latestState(out)
    val next = edit(cur)
    if (next == cur) cur
    else if (publishNew(out, io, statePath(out, n + 1), Serialization.write(next))) next
    else updateState(out, io)(edit)
  }

  /** Write `body` to a temp file beside `dst` and publish it create-new; false when
    * `dst` already exists. */
  private def publishNew(out: Path, io: CommitIo, dst: Path, body: String): Boolean = {
    val tmp = Files.createTempFile(out, ".meta", ".tmp")
    try { Files.writeString(tmp, body); io.publishFile(tmp, dst); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The state edit that commits version `v` to main: HEAD moves from `expected`,
    * the version the operation built on. Refuses when HEAD moved meanwhile — a
    * concurrent writer committed to main, and this result would silently discard
    * that commit; `v` stays in history, unreferenced. */
  private[sources] def movesHead(expected: Long)(v: Long)(s: TableState): TableState = {
    if (s.head != expected)
      throw new IllegalStateException(
        s"lost update refused: main HEAD moved from version $expected to " +
          s"${s.head} while this operation ran; its result (version $v) stays " +
          "unreferenced in history — re-run it against the new HEAD")
    s.copy(head = v)
  }

  /** The state edit that commits version `v` to the named branch. */
  private def advancesBranch(name: String)(v: Long)(s: TableState): TableState = {
    val b = s.branches.getOrElse(name,
      throw new IllegalStateException(
        s"branch '$name' was dropped while a commit to it ran; its result " +
          s"(version $v) stays unreferenced in history"))
    s.copy(branches = s.branches + (name -> b.copy(version = v)))
  }

  /** The one generation allocator, of stream batches and rewrites: in ONE state
    * publish — so concurrent allocators re-apply, never share — record the
    * composite base `gen * nBuckets` of the next free generation
    * ([[freeGeneration]]) and return it. A stream batch records it under its id, so
    * a re-delivered batch gets its allocation back; a rewrite (`batchId` None)
    * records it under minus itself, and its commit drops that key ([[rewrite]]). */
  private def allocateGeneration(out: Path, io: CommitIo, batchId: Option[Long],
      base: Seq[ManifestEntry], nBuckets: Int): Long = {
    var allocated = 0L // set by the edit that finally publishes
    updateState(out, io) { s =>
      allocated = batchId.flatMap(s.batchBases.get)
        .getOrElse(freeGeneration(out, s, base, nBuckets) * nBuckets)
      s.copy(batchBases = s.batchBases + (batchId.getOrElse(-allocated) -> allocated))
    }
    allocated
  }

  /** 1 + the highest generation among HEAD's ids, `base`'s (the manifest the caller
    * builds on), the ledger's allocations and the `bucket=` directories under
    * `data/` — which cover generations a restore left behind and a committed
    * rewrite's, whose paths [[commitWaveFlat]] refuses to publish over. */
  private def freeGeneration(out: Path, s: TableState, base: Seq[ManifestEntry],
      nBuckets: Int): Long = {
    val head = if (s.head == 0L) Seq.empty else manifestAt(out, s.head)
    val dirs = listPartitionDirs(out.resolve("data"))
      .flatMap(_.getFileName.toString.stripPrefix("bucket=").toLongOption)
    val ids = (head ++ base).map(_.bucket) ++ s.batchBases.values ++ dirs
    ids.maxOption.fold(0L)(_ / nBuckets + 1)
  }

  /** Stream-batch ids a [[rewrite]] replaced (see [[TableState]]). */
  private[graft] def readCompactedIds(out: Path): Set[Long] =
    readState(out).compactedIds.toSet

  /** Audit entry point: run the two verification tiers over the ENTIRE manifest of
    * `at` and return the bucket ids that FAIL (empty = every committed byte
    * verifies). Deep mode re-hashes all data files in one distributed job — the
    * post-incident check an operator runs after takedowns, compactions, or stream
    * restarts, and, at a [[Branch]], the audit step of write-audit-publish before
    * [[fastForward]] publishes the staged result to main. */
  def verifySnapshot(spark: SparkSession, outDir: String,
      deepVerify: Boolean = true, at: Ref = Head): Seq[Long] = {
    val out = Paths.get(outDir)
    val (_, invalid) = verifyEntries(spark, out, resolve(out, at)._2, deepVerify)
    invalid.map(_.bucket).sorted
  }

  /** The manifest of `at` (HEAD's is empty before the first commit to main). */
  def readManifest(spark: SparkSession, outDir: String, at: Ref = Head)
      : Seq[ManifestEntry] =
    resolve(Paths.get(outDir), at)._2

  /** The one resolver of every read and write: the version `ref` names and its
    * manifest, read once. Reads the state record for HEAD, a tag or a branch only,
    * and lists the table root only to name what is available in a failure: an
    * unknown tag or branch, or a version not in history. HEAD before the first
    * commit resolves to version 0 with no entries. */
  private def resolve(out: Path, ref: Ref): (Long, Seq[ManifestEntry]) = {
    val v = ref match {
      case Head => readState(out).head
      case Version(v) => v
      case Tag(name) =>
        val tags = readState(out).tags
        tags.getOrElse(name, throw new IllegalArgumentException(s"no tag '$name' under " +
          s"$out — available: [${tags.keys.toSeq.sorted.mkString(", ")}]"))
      case Branch(name) => branchRef(readState(out), out, name).version
    }
    v -> (if (ref == Head && v == 0L) Seq.empty else manifestAt(out, v))
  }

  /** What a write to the named branch (None: main) builds on — the ref's manifest —
    * and the state edit that commits its result to that ref. */
  private def writeBase(out: Path, toBranch: Option[String])
      : (Seq[ManifestEntry], Commit) = {
    val (v, entries) = resolve(out, toBranch.fold[Ref](Head)(Branch))
    entries -> toBranch.fold(movesHead(v) _)(advancesBranch)
  }

  /** One entry per base bucket: true for batch snapshots and after any rewrite;
    * false mid-stream, where several generations share a base. */
  private def isCanonical(entries: Seq[ManifestEntry], nBuckets: Int): Boolean =
    entries.map(_.bucket % nBuckets).distinct.size == entries.size

  /** What a row-level rewrite builds on: a committed manifest, the state edit that
    * commits the rewrite to the same ref, and the table's recorded bucket count. */
  private[sources] final case class Canonical(
      commit: Commit, entries: Seq[ManifestEntry], nBuckets: Int)

  /** [[writeBase]] for a row-level rewrite, which must find a committed,
    * canonical manifest under the recorded bucket count: a document's rows may
    * straddle generations mid-stream. */
  private[sources] def canonicalBase(out: Path, toBranch: Option[String]): Canonical = {
    val (entries, commit) = writeBase(out, toBranch)
    require(entries.nonEmpty, s"no committed snapshot under $out")
    val nBuckets = TableSnapshot.bucketCount(out)
    require(isCanonical(entries, nBuckets),
      "manifest is not canonical (multiple generations per base bucket — an " +
        "un-compacted stream): run compact() first, a document's rows may " +
        "straddle generations")
    Canonical(commit, entries, nBuckets)
  }

  /** `base` (a base bucket id) re-keyed to its manifest id: one map lookup shared
    * by resume waves and rewrites; a base `idOf` does not name maps to -1, which
    * the stray-bucket gate of [[commitWaveFlat]] refuses. */
  private[sources] def rekey(base: Column, idOf: Seq[(Long, Long)]): Column =
    if (idOf.forall { case (b, id) => b == id }) base.cast("long")
    else coalesce(element_at(typedLit(idOf.toMap), base.cast("long")), lit(-1L))

  /** The manifest of history version `v`; fails loudly when it is not retained. */
  private def manifestAt(out: Path, v: Long): Seq[ManifestEntry] = {
    val p = versionPath(out, v)
    require(Files.exists(p),
      s"no manifest version $v under $out — not in history, available: " +
        s"[${versions(out.toString).mkString(", ")}]")
    Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
      .map(Serialization.read[ManifestEntry](_))
  }

  /** The manifest of `at` as a DataFrame (the lineage/metrics table surfaced to
    * queries). */
  def lineage(spark: SparkSession, outDir: String, at: Ref = Head): DataFrame = {
    val enc = Encoders.product[ManifestEntry]
    spark.createDataset(readManifest(spark, outDir, at))(enc).toDF()
  }

  // Per-ref forms still called by perfbench, which compiles against this source tree
  // and names them; they go with its next change (ROADMAP #6). build.sbt turns a
  // call from src/ into a compile error.
  @deprecated("use readCommitted(spark, outDir, Version(v))", "0.1.0")
  def readCommittedAt(spark: SparkSession, outDir: String, v: Long): DataFrame =
    readCommitted(spark, outDir, Version(v))
  @deprecated("use readManifest(spark, outDir, Version(v))", "0.1.0")
  def readManifestAt(spark: SparkSession, outDir: String, v: Long): Seq[ManifestEntry] =
    readManifest(spark, outDir, Version(v))
  @deprecated("use readCommitted(spark, outDir, Branch(name))", "0.1.0")
  def readCommittedAtBranch(spark: SparkSession, outDir: String, name: String): DataFrame =
    readCommitted(spark, outDir, Branch(name))
  @deprecated("use verifySnapshot(spark, outDir, at = Branch(name))", "0.1.0")
  def verifySnapshotAtBranch(spark: SparkSession, outDir: String, name: String)
      : Seq[Long] = verifySnapshot(spark, outDir, at = Branch(name))

  // ---- time travel ------------------------------------------------------------------
  //
  // Every commit ([[writeManifest]]) publishes an IMMUTABLE manifest version
  // `manifest-v%06d.json` and then the state record that names it HEAD (or a branch
  // head) — the Iceberg metadata-version sequence, with the same retention contract:
  // a historical version stays READABLE ([[readCommitted]] at a [[Version]]) for as
  // long as the data files it references are retained. The protocol's eager GC
  // points — every [[rewrite]]'s post-commit delete of the directories it replaced,
  // [[vacuum]], and [[run]]'s invalidated-bucket delete — are the `expireSnapshots`
  // analogue: they reclaim bytes and thereby expire every version that referenced
  // them. Reading an expired version fails LOUDLY with the missing-file count, never
  // silently short. History files themselves are O(bytes-of-metadata);
  // [[expireVersions]] prunes them when a bounded history is wanted.

  private val VersionFileRe = "manifest-v(\\d+)\\.json".r

  private def versionPath(out: Path, v: Long): Path =
    out.resolve(f"manifest-v$v%06d.json")

  /** Available history versions, ascending (empty before the first commit). */
  def versions(outDir: String): Seq[Long] = numberedFiles(Paths.get(outDir), VersionFileRe)

  /** The numbers of the files in `out` whose names match `re`, ascending. */
  private def numberedFiles(out: Path, re: Regex): Seq[Long] =
    listDir(out).flatMap(p => p.getFileName.toString match {
      case re(n) => Some(n.toLong)
      case _ => None
    }).sorted

  /** Scan exactly the data files `entries` list — the one manifest-resolved scan of
    * every read and rewrite — with the table's recorded schema
    * ([[TableSnapshot.tableSchema]]): no inference job, an added column reads NULL
    * from files written before it, and the `basePath` option keeps the `bucket`
    * partition column. `what` names the read in the loud failure when any listed
    * file was reclaimed. Entries that list no files (all-empty buckets) read as a
    * zero-row frame. */
  private[sources] def readEntries(spark: SparkSession, outDir: String,
      entries: Seq[ManifestEntry], what: String): DataFrame = {
    val out = Paths.get(outDir)
    val files = entries.flatMap(e => e.files.map(f => bucketDir(out, e.bucket).resolve(f)))
    val missing = files.filterNot(Files.isRegularFile(_))
    require(missing.isEmpty,
      s"$what is EXPIRED: ${missing.size} of ${files.size} data files it references " +
        "were reclaimed (compaction GC / vacuum / bucket invalidation — the " +
        "expireSnapshots analogue); time travel reaches only versions whose files " +
        s"are retained. First missing: ${missing.head}")
    spark.read.schema(TableSnapshot.tableSchema(out))
      .option("basePath", out.resolve("data").toString)
      .parquet(files.map(_.toString): _*)
  }

  /** Prune manifest history to the newest `keepLast` versions, and every state
    * record but the newest (it alone is the table's metadata). HEAD's own version is
    * always retained: after a branch commit HEAD is not the newest version, and
    * dropping it would leave HEAD resolving to no version at all (so [[branch]] and
    * [[fastForward]] could no longer record or check a fork point). TAGGED versions
    * ([[tag]]) are always retained regardless of age — the Iceberg
    * `expireSnapshots` ref semantics: a named ref pins its snapshot's METADATA
    * against expiration (the data files remain subject to the usual eager-GC
    * points, and a tagged version whose files were reclaimed still fails loudly on
    * read). Returns pruned versions. */
  def expireVersions(outDir: String, keepLast: Int): Seq[Long] = {
    // >= 1, not >= 0: expiring the NEWEST version would let writeManifest re-issue
    // its number with different content, silently corrupting every time-travel /
    // changelog read (and any tag) that resolved the old number
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast — version " +
      "numbers are never reused, so the newest history file must survive")
    val out = Paths.get(outDir)
    // HEAD, tags AND branches pin their versions: expiring a live branch's
    // manifest would orphan every commit staged on it
    val s = readState(out)
    val pinned = s.tags.values.toSet ++ s.branches.values.map(_.version) + s.head
    val drop = versions(outDir).dropRight(keepLast).filterNot(pinned)
    drop.foreach(v => Files.deleteIfExists(versionPath(out, v)))
    numberedFiles(out, StateFileRe).dropRight(1)
      .foreach(n => Files.deleteIfExists(statePath(out, n)))
    drop
  }

  /** Outcome of a [[restore]]: the version rolled back to, the NEW version the
    * rollback published as, and how many manifest entries it carries. */
  final case class RestoreReport(toVersion: Long, newVersion: Long, nEntries: Int)

  /** ROLLBACK the table to history version `toVersion` by republishing that
    * version's manifest as a NEW version — the Iceberg `rollback` / Delta RESTORE
    * shape. Metadata-only: no data file is read, written, or moved; HEAD simply
    * points at the old file set again, and the rolled-back-FROM versions stay in
    * history (a restore is an auditable commit, not an erasure — re-restoring
    * forward is just another [[restore]]).
    *
    * Fails LOUDLY ([[IllegalStateException]]) when any file the target version
    * references has been physically reclaimed (a [[deleteDocs]] takedown rewrite,
    * compaction GC, [[vacuum]]): a takedown is deliberately unrecoverable, so a
    * rollback can never resurrect deleted bytes — the same contract as
    * [[readCommitted]]'s expired-version guard, checked against recorded sizes
    * (and, with `deepVerify`, a distributed re-hash of every referenced byte).
    * Also refuses when another writer moved HEAD while the restore ran.
    *
    * Scale shape: O(metadata) driver work; `deepVerify` adds ONE batched
    * distributed hash job over the restored file set (the commit-time verify tier
    * — executors stream bytes, the driver sees digests).
    *
    * Interaction with GC: after a rollback, buckets introduced after `toVersion`
    * are unreferenced by HEAD; [[vacuum]] would reclaim them and EXPIRE the
    * rolled-back-from versions — run it only once that history is disposable.
    * Tags are untouched (they pin versions, not HEAD). */
  def restore(
      spark: SparkSession,
      outDir: String,
      toVersion: Long,
      deepVerify: Boolean = false,
      io: CommitIo = PosixCommitIo): RestoreReport = {
    val out = Paths.get(outDir)
    republish(spark, out, toVersion, deepVerify, io)(movesHead(readState(out).head))
  }

  /** Republish version `toVersion`'s manifest as a new version committed by
    * `commit` — the shared body of [[restore]] and [[fastForward]]. */
  private def republish(spark: SparkSession, out: Path, toVersion: Long,
      deepVerify: Boolean, io: CommitIo)(commit: Commit): RestoreReport = {
    val entries = manifestAt(out, toVersion)
    val (valid, invalid) = verifyEntries(spark, out, entries, deepVerify)
    if (invalid.nonEmpty)
      throw new IllegalStateException(
        s"version $toVersion is EXPIRED: ${invalid.size} of ${entries.size} buckets " +
          s"reference reclaimed or altered data files (buckets " +
          s"[${invalid.map(_.bucket).sorted.mkString(", ")}]) — takedown/compaction " +
          "GC is unrecoverable by design; a rollback cannot resurrect deleted bytes")
    val v = writeManifest(out, valid.sortBy(_.bucket), io, commit)
    RestoreReport(toVersion, v, valid.size)
  }

  // ---- named refs (tags) --------------------------------------------------------
  //
  // Iceberg-style named references into the version history: a tag is an immutable
  // name -> version pointer ("the snapshot training run 7 read from"), resolved at
  // read time through the same time-travel machinery. Tags live in the state record,
  // so a tag edit is one [[updateState]] publish: a crash leaves the old or the new
  // record, and two concurrent tag edits both land.

  private val TagNameRe = "[A-Za-z0-9._-]{1,64}".r

  /** Current tags, name -> version (empty if none). */
  def tags(outDir: String): Map[String, Long] = readState(Paths.get(outDir)).tags

  /** Create or move the named tag to history version `v`, which must be readable
    * NOW ([[requireReadable]]) — a tag can never be born dangling; it can only
    * dangle later if the version's data files are reclaimed, and then reads fail
    * loudly like any expired read. */
  def tag(outDir: String, name: String, v: Long,
      io: CommitIo = PosixCommitIo): Unit = {
    require(TagNameRe.matches(name),
      s"tag name '$name' must match ${TagNameRe.regex}")
    val out = Paths.get(outDir)
    requireReadable(out, v, "tag")
    updateState(out, io)(s => s.copy(tags = s.tags + (name -> v)))
  }

  /** Remove the named tag (idempotent), releasing its expiration pin. */
  def dropTag(outDir: String, name: String, io: CommitIo = PosixCommitIo): Unit =
    updateState(Paths.get(outDir), io)(s => s.copy(tags = s.tags - name))

  /** Refuse a new tag or branch at version `v` unless its manifest is in history
    * and every entry passes the metadata tier ([[fastVerify]]): a ref born over
    * reclaimed bytes would fail every read through it. Driver-side file checks
    * only, no Spark job. */
  private def requireReadable(out: Path, v: Long, what: String): Unit = {
    val gone = manifestAt(out, v).filterNot(fastVerify(out, _)).map(_.bucket)
    require(gone.isEmpty,
      s"cannot $what version $v: it is EXPIRED — bucket(s) " +
        s"[${gone.sorted.mkString(", ")}] reference reclaimed or altered data files")
  }

  // ---- named refs (branches) ----------------------------------------------------
  //
  // Iceberg-style WRITABLE refs: a branch is a name -> version pointer that
  // ADVANCES when the branch is committed to ([[upsertDocsToBranch]]) — the
  // write-audit-publish (WAP) shape: stage a merge on an isolated branch, audit it
  // with the same manifest-resolved reads and two-tier verification as main, then
  // [[fastForward]] main onto it (a metadata-only republish, the [[restore]]
  // machinery). Branch commits share main's one linear version history (every
  // branch commit publishes a normal immutable `manifest-v%06d.json`); isolation
  // comes from the DATA layout — a branch rewrite lands its buckets at a fresh
  // GENERATION (`gen * nBuckets + base`, the compaction/stream id space, above
  // every generation HEAD, the stream ledger or a data directory holds) and main's
  // files are never touched. Branches live in the state record
  // ([[BranchRef]]: head version and fork base). Like tags, a branch pins its
  // version against [[expireVersions]]; unlike tags, a branch's referenced buckets
  // also pin their BYTES against [[vacuum]] (a branch is a live line of development
  // — reclaiming under it would destroy uncommitted-to-main work).

  /** Current branches, name -> version (empty if none). */
  def branches(outDir: String): Map[String, Long] =
    readState(Paths.get(outDir)).branches.view.mapValues(_.version).toMap

  /** Create (or move) the named branch at history version `v` — like [[tag]], a
    * branch can never be born dangling. Records main's CURRENT head version as the
    * branch's fork base ([[fastForward]] refuses to publish over a main that
    * advanced past it). */
  def branch(outDir: String, name: String, v: Long,
      io: CommitIo = PosixCommitIo): Unit = {
    require(TagNameRe.matches(name),
      s"branch name '$name' must match ${TagNameRe.regex}")
    val out = Paths.get(outDir)
    requireReadable(out, v, "branch at")
    updateState(out, io)(s =>
      s.copy(branches = s.branches + (name -> BranchRef(v, resolvedHead(out, s)))))
  }

  /** Remove the named branch (idempotent), releasing its expiration AND vacuum
    * pins — the branch's exclusive generations become reclaimable orphans. */
  def dropBranch(outDir: String, name: String, io: CommitIo = PosixCommitIo): Unit =
    updateState(Paths.get(outDir), io)(s => s.copy(branches = s.branches - name))

  /** HEAD's version for the ref operations that record or check a fork point: it
    * must resolve to a retained history version, or a branch base (and with it the
    * fast-forward lost-update guard) would be meaningless — refuse loudly. */
  private def resolvedHead(out: Path, s: TableState): Long = {
    if (s.head == 0L || !Files.exists(versionPath(out, s.head)))
      throw new IllegalStateException(
        s"main HEAD under $out resolves to no history version (its manifest " +
          "version was pruned or never published) — a fork point cannot be " +
          "recorded or checked; restore() a retained version to re-anchor HEAD")
    s.head
  }

  private def branchRef(s: TableState, out: Path, name: String): BranchRef =
    s.branches.getOrElse(name,
      throw new IllegalArgumentException(
        s"no branch '$name' under $out — available: " +
          s"[${s.branches.keys.toSeq.sorted.mkString(", ")}]"))

  /** FAST-FORWARD main onto the named branch: republish the branch's manifest as a
    * NEW HEAD version (the [[restore]] machinery — metadata-only, loud when any
    * referenced byte was reclaimed, optional distributed deep-hash).
    *
    * Refuses ([[IllegalStateException]]) when main's HEAD advanced past the
    * branch's recorded fork base — publishing then would silently DISCARD every
    * commit main took since the fork (the classic write-audit-publish lost-update
    * pitfall; git's own fast-forward refuses identically). Recover by re-branching
    * from the current HEAD and re-applying the merge, or by an explicit [[restore]]
    * if overwriting main is truly intended. The same state publish that moves HEAD
    * advances the branch's base to the new HEAD version, so further branch commits
    * can fast-forward again; the pointer itself stays (Iceberg fast-forward
    * semantics) — drop it with [[dropBranch]] once merged, releasing its vacuum
    * pin. */
  def fastForward(spark: SparkSession, outDir: String, name: String,
      deepVerify: Boolean = false, io: CommitIo = PosixCommitIo): RestoreReport = {
    val out = Paths.get(outDir)
    val s0 = readState(out)
    val BranchRef(bv, base) = branchRef(s0, out, name)
    val head = resolvedHead(out, s0)
    if (head != base)
      throw new IllegalStateException(
        s"not a fast-forward: main HEAD is at version $head but branch '$name' " +
          s"forked at version $base — publishing would discard main's commits " +
          s"since the fork; re-branch from the current HEAD and re-apply, or use " +
          "restore() to overwrite explicitly")
    republish(spark, out, bv, deepVerify, io) { v => s =>
      val moved = movesHead(head)(v)(s)
      moved.copy(branches =
        moved.branches.updatedWith(name)(_.map(_.copy(base = v))))
    }
  }

  /** Buckets whose committed state DIFFERS between history versions `fromV` and
    * `toV` (new, re-extracted/healed, or compacted-away-and-rewritten buckets).
    * Identity is the recorded FILE LIST (names + sizes + per-file md5), not the
    * logical row counts: a re-extraction of identical documents produces identical
    * rows but new data files, and an incremental consumer keyed on physical state
    * must see it (it cannot know the bytes are equivalent without reading them).
    * Buckets present in `fromV` but absent from `toV` (compaction rewrote them to a
    * new generation id) are NOT returned — the new generation's ids are. */
  def changedBuckets(spark: SparkSession, outDir: String,
      fromV: Long, toV: Long): Seq[Long] =
    changedEntries(Paths.get(outDir), fromV, toV).map(_.bucket).sorted

  /** Incremental read (the changelog consumer's scan): the rows of exactly the
    * buckets [[changedBuckets]] reports between `fromV` and `toV`, resolved through
    * version `toV`'s manifest. At 100 TB this is what a downstream pipeline
    * (re-embedding, re-indexing, derived-table refresh) consumes after a resume or
    * a late-arriving stream batch — O(changed buckets) bytes, never a full-table
    * re-read. Same expiration contract as [[readCommitted]]. */
  def readChangesBetween(spark: SparkSession, outDir: String,
      fromV: Long, toV: Long): DataFrame =
    readEntries(spark, outDir, changedEntries(Paths.get(outDir), fromV, toV),
      s"incremental read $fromV -> $toV")

  /** The entries of version `toV` whose recorded files differ from `fromV`'s —
    * each of the two manifests read once. */
  private def changedEntries(out: Path, fromV: Long, toV: Long): Seq[ManifestEntry] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    def key(e: ManifestEntry) = (e.files, e.file_sizes, e.file_hashes)
    val before = manifestAt(out, fromV).map(e => e.bucket -> key(e)).toMap
    manifestAt(out, toV).filter(e => !before.get(e.bucket).contains(key(e)))
  }

  /** Outcome of a [[deleteDocs]] takedown: rows actually removed and the new ids of
    * the buckets rewritten (requested ids absent from the snapshot cost nothing). */
  final case class DeleteReport(deletedRows: Long, rewrittenBuckets: Seq[Long])

  /**
   * Row-level DELETE (takedown / right-to-be-forgotten): remove every span of the
   * given doc_ids from the committed snapshot by rewriting ONLY their buckets —
   * copy-on-write at bucket granularity through the one rewrite path ([[rewrite]]):
   * the matched buckets land at a fresh generation, so their new ids are
   * `gen * nBuckets + base`.
   *
   * Scale shape: the bucket function routes each requested id to exactly one bucket
   * driver-side (no scan), so a takedown of k documents over a 10^12-doc snapshot
   * reads and rewrites at most k buckets' bytes — never the table. ONE grouped count
   * over the affected buckets' committed files finds the buckets that actually hold
   * a match; buckets whose files contain NO matching rows (id never existed, or
   * already deleted) are left byte-identical. The matched buckets are then rewritten
   * in ONE commit wave, so the job count is constant in the number of buckets
   * touched.
   *
   * A takedown is ATOMIC: it publishes exactly one manifest version (or none, when
   * nothing matched). A crash before that publish leaves the previous version live
   * and every data file it lists in place; re-running the takedown is the heal.
   *
   * Deletion is PHYSICAL by design: once the new version is HEAD, the replaced
   * buckets' directories are deleted even when a live branch still reads them,
   * which EXPIRES every history version that referenced them ([[readCommitted]]
   * then fails loudly) — for a takedown that is the point; the bytes must actually
   * go away, not linger behind a time-travel read. Manifest history retains only
   * file NAMES and digests of the old state. The id list is driver-side
   * (`isInCollection` -> an in-filter in codegen), the right tool up to ~10^5 ids;
   * batch-scale purges (a whole source, a crawl slice) should instead filter at
   * re-extraction.
   *
   * Requires a canonical manifest (one entry per base bucket — true for batch
   * snapshots and after any rewrite); a mid-stream multi-generation id space must
   * compact first, because a doc's rows may straddle generations. Routes with the
   * table's recorded bucket count; a table without one is refused, naming the
   * rebuild.
   */
  def deleteDocs(
      spark: SparkSession,
      outDir: String,
      docIds: Seq[String],
      io: CommitIo = PosixCommitIo): DeleteReport = {
    require(docIds.nonEmpty, "deleteDocs needs at least one doc_id")
    val targets = docIds.toSet
    val out = Paths.get(outDir)
    val base = canonicalBase(out, None)
    // the same bucket arithmetic as bucketOf, driver-side: numeric doc_id suffix
    takedown(spark, out, io, base, targets.map(d =>
      java.lang.Long.parseLong(d.drop(4).take(Interleave.DocIdDigits)) % base.nBuckets),
      col("doc_id").isInCollection(targets))
  }

  /** The takedown body of [[deleteDocs]] and [[TableSnapshot.deleteIds]]: one
    * grouped count of `matches` over `base`'s entries for the base buckets
    * `bases`, then one [[rewrite]] of the buckets that hold a match, keeping every
    * row where `matches` is not true (NULL-id bystanders included). */
  private[sources] def takedown(spark: SparkSession, out: Path, io: CommitIo,
      base: Canonical, bases: Set[Long], matches: Column): DeleteReport = {
    val Canonical(commit, existing, nBuckets) = base
    val affected = existing.filter(e => bases(e.bucket % nBuckets) && e.rows > 0)
    val hits: Map[Long, Long] =
      if (affected.isEmpty) Map.empty
      else readEntries(spark, out.toString, affected, "takedown source")
        .filter(matches).groupBy(col("bucket")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val matched = affected.filter(e => hits.contains(e.bucket))
    val rewritten =
      if (matched.isEmpty) Seq.empty
      else rewrite(spark, out, io, existing, matched, nBuckets, commit,
        takedown = true)(_.filter(!coalesce(matches, lit(false))))
    DeleteReport(hits.values.sum, rewritten)
  }

  /** Outcome of an [[upsertDocs]] merge: documents whose rows were replaced
    * (matched), documents newly inserted, the replaced-row count, the upsert-row
    * count, and the new ids of the buckets rewritten. */
  final case class UpsertReport(
      matchedDocs: Long,
      insertedDocs: Long,
      replacedRows: Long,
      upsertRows: Long,
      rewrittenBuckets: Seq[Long])

  /**
   * Row-level UPSERT / MERGE (the daily-crawl ingest op): every document present in
   * `updates` has ALL of its committed rows REPLACED by its `updates` rows;
   * documents not yet in the snapshot are inserted — bucket-granular copy-on-write
   * through the one rewrite path ([[rewrite]]), so the rewritten buckets land at a
   * fresh generation. The reference archetype is `_download_languague`'s
   * replace-if-hash-differs idempotency (uiucprescon/ocr/languages.py:135-175):
   * re-delivering the same update set is a no-op in content (the rewrite
   * regenerates byte-identical logical rows).
   *
   * The whole merge is ONE commit wave, publishing exactly one manifest version (or
   * none, when `updates` is empty): it is atomic, and a crash before the publish
   * leaves the previous version live with every file it lists in place. Re-running
   * the merge is the heal; the crashed attempt's generation is an unreferenced
   * orphan for [[vacuum]].
   *
   * Scale shape: affected buckets are discovered by ONE distributed distinct over
   * the update set's bucket keys (<= nBuckets rows reach the driver — never the doc
   * ids themselves, which at daily-crawl scale are billions); the wave then reads
   * and rewrites ONLY the affected buckets' committed bytes (manifest-resolved file
   * list), anti-joins out the updated documents' old rows (null-keyed bystanders
   * survive: an anti join never matches a null key), unions the update rows, and
   * commits. The report counters come from one aggregate. A merge touching k
   * buckets reads/writes O(k buckets' bytes + updates), never the table. Unlike
   * [[deleteDocs]] (bounded driver-side id list by design), the update set stays
   * fully distributed.
   *
   * DERIVED-TABLE CASCADE: a re-crawled document's committed derived rows (MinHash
   * signatures, window hashes, tf rows) are stale after the merge — cascade with
   * [[TableSnapshot.deleteIds]] per derived table for the touched ids, exactly like
   * the takedown cascade; the next derived-table resume re-derives them from the
   * merged corpus. Cascade order: corpus first, derived tables second.
   *
   * Requires a canonical manifest (one entry per base bucket) for the same reason
   * as [[deleteDocs]]: a doc's rows may straddle generations mid-stream — compact
   * first. `updates` must carry exactly the committed table's columns (no bucket).
   * Update rows route to the table's recorded bucket count, as in [[deleteDocs]].
   */
  def upsertDocs(
      spark: SparkSession,
      outDir: String,
      updates: DataFrame,
      io: CommitIo = PosixCommitIo): UpsertReport =
    mergeDocs(spark, outDir, updates, io, toBranch = None)

  /** [[upsertDocs]] committed to a BRANCH instead of main — the write-audit-publish
    * staging op. Same MERGE semantics, atomicity and crash heal, but main is
    * bit-for-bit untouched: the base manifest is the branch head's, the publish
    * advances the branch pointer by one version instead of HEAD, and the replaced
    * directories stay (main still reads them).
    * Audit the staged result with [[readCommitted]] and [[verifySnapshot]] at the
    * [[Branch]], then publish with [[fastForward]]. */
  def upsertDocsToBranch(
      spark: SparkSession,
      outDir: String,
      name: String,
      updates: DataFrame,
      io: CommitIo = PosixCommitIo): UpsertReport =
    mergeDocs(spark, outDir, updates, io, toBranch = Some(name))

  private def mergeDocs(
      spark: SparkSession,
      outDir: String,
      updates: DataFrame,
      io: CommitIo,
      toBranch: Option[String]): UpsertReport = {
    val out = Paths.get(outDir)
    val Canonical(commit, existing, nBuckets) = canonicalBase(out, toBranch)
    require(!updates.columns.contains("bucket"), "updates must not carry `bucket`")
    // names AND types against the recorded schema, before any Spark job: a
    // retyped column would commit files no scan can read with that schema
    def cols(schema: StructType) = TableSnapshot.dataColumns(schema)
      .map(f => s"${f.name}:${f.dataType.sql}").sorted.mkString("(", ",", ")")
    val (got, want) = (cols(updates.schema), cols(TableSnapshot.tableSchema(out)))
    require(got == want, s"updates schema $got must match the committed table $want")
    val entryOfBase = existing.map(e => (e.bucket % nBuckets) -> e).toMap

    // ONE distributed job discovers the affected buckets; only <= nBuckets bucket
    // ids reach the driver. A NULL doc_id in the updates has no bucket to route to
    // — refuse loudly (the committed table tolerates null-id bystanders, but an
    // UPSERT row without an identity is undefined).
    val baseCol = bucketOf(col("doc_id"), nBuckets).cast("long")
    val affectedBases = updates
      .select(when(col("doc_id").isNull, lit(-1L)).otherwise(baseCol).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    require(!affectedBases.contains(-1L),
      "updates contain NULL doc_id rows — an upsert row needs an identity")
    affectedBases.foreach(b => require(entryOfBase.contains(b),
      s"update routes to base bucket $b but the manifest has no entry for it — " +
        "every commit lists all base buckets, so this manifest was altered"))
    if (affectedBases.isEmpty) return UpsertReport(0L, 0L, 0L, 0L, Seq.empty)
    val affected = affectedBases.map(entryOfBase)
    val updIds = updates.select(col("doc_id")).distinct()

    val updSide = updates.select(lit(1).as("side"), col("doc_id"))
    val updRows = updates.withColumn("bucket", baseCol)
    var stat: Row = null
    val rewritten = rewrite(spark, out, io, existing, affected, nBuckets, commit) { cur =>
      // report counters over the rewrite's own scan of the committed rows being
      // replaced (side 0) and the update rows (side 1): each doc's rows of each
      // side, then the totals — replaced rows, docs with a replaced row, update
      // rows and docs (every doc here has update rows: the semi join keeps only
      // update doc_ids, which are never null). No distinct aggregate, so the plan
      // has no Expand and its generated code is the same on every call.
      stat = cur.join(updIds, Seq("doc_id"), "left_semi")
        .select(lit(0).as("side"), col("doc_id")).unionByName(updSide)
        .groupBy("doc_id").agg(count(when(col("side") === 0, 1)).as("hit"),
          count(when(col("side") === 1, 1)).as("upd"))
        .agg(sum("hit"), count(when(col("hit") > 0, 1)), sum("upd"), count(lit(1)))
        .head()
      cur.join(updIds, Seq("doc_id"), "left_anti").unionByName(updRows)
    }
    UpsertReport(stat.getLong(1), stat.getLong(3) - stat.getLong(1), stat.getLong(0),
      stat.getLong(2), rewritten)
  }

  /**
   * Streaming entry point: commit ONE micro-batch of already-extracted flat spans
   * through the SAME wave-commit protocol as the batch sink (staging write with
   * observed metrics -> footer row check -> atomic per-bucket publish ->
   * distributed hash -> manifest republish). Manifest/bucket ids are
   * `allocatedGeneration * nBuckets + bucket` (Long arithmetic — no lifetime cap
   * from Int overflow): the generation comes from the ledger
   * ([[allocateGeneration]]), NOT batchId itself, so batches and compaction
   * rewrites share one strictly-increasing id space (generation == batchId for a
   * fresh sequential stream); a RE-DELIVERED batchId (foreachBatch
   * replays the last uncommitted batch after a crash) resolves to its recorded
   * allocation, finds its ids already committed and verifying, and skips them — the
   * streaming form of resume's committed-bucket skip (StreamingExtractSpec). The
   * skip check runs the SAME two verification tiers as the batch [[run]]:
   * names+sizes metadata, then (deepVerify=true, the default) the distributed
   * per-file md5 job — so in-place corruption with preserved sizes re-extracts
   * instead of being silently skipped, on both paths alike (ADVICE r3). Returns the
   * composite ids actually committed. The first batch of a fresh table records
   * `nBuckets`; a batch with a different count is refused before any Spark job.
   */
  def commitStreamBatch(
      flat: DataFrame, outDir: String, batchId: Long,
      nBuckets: Int = DefaultBuckets, deepVerify: Boolean = true,
      io: CommitIo = PosixCommitIo, toBranch: Option[String] = None): Seq[Long] = {
    val spark = flat.sparkSession
    val out = Paths.get(outDir)
    Files.createDirectories(out.resolve("data"))
    // BRANCH mode (streaming write-audit-publish): the batch builds on the BRANCH
    // head's manifest and its commit advances the branch pointer instead of HEAD —
    // main is untouched until [[fastForward]]. Generation allocation is unchanged
    // (the ledger is branch-agnostic), so batches, branch merges, and compactions
    // still share one strictly-increasing id space.
    val (existing, commit) = writeBase(out, toBranch)
    TableSnapshot.recordLayout(out, flat.schema, nBuckets)(readState(out))
    // Composite base comes from the ledger, NOT batchId*nBuckets: compact() writes
    // its canonical generation at max+1, which is exactly the id range
    // `batchId * nBuckets` would hand the NEXT micro-batch — the skip-verify would
    // then find the compacted generation "already committed" and silently swallow
    // the whole batch. Allocating the next free generation at commit time (and
    // recording batchId -> base so a re-delivered batch reuses its allocation)
    // keeps ids strictly increasing across batches AND compactions. For a fresh
    // sequential stream the allocation degenerates to generation == batchId.
    val base = allocateGeneration(out, io, Some(batchId), existing, nBuckets)
    val ids = (base until base + nBuckets)
    val (valid, _) = verifyEntries(spark, out,
      existing.filter(e => ids.contains(e.bucket)), deepVerify)
    val committed = valid.map(_.bucket).toSet
    // compacted-away ids are ALSO committed state (their rows live on in the
    // canonical generation): a re-delivery arriving after an ill-timed compaction
    // must skip them, or it would duplicate every row and resurrect takedown
    // deletes (see [[TableState]])
    val compacted = readCompactedIds(out)
    val todo = ids.filterNot(committed).filterNot(compacted)
    if (todo.isEmpty) return Seq.empty
    // drop any stale (failed-verify) entries for the ids being rewritten
    val kept = existing.filterNot(e => todo.contains(e.bucket))
    todo.foreach(b => deleteRecursively(bucketDir(out, b)))
    val withBucket = flat
      .withColumn("bucket", lit(base) + bucketOf(col("doc_id"), nBuckets))
      .filter(col("bucket").isin(todo: _*))
    commitWaveFlat(spark, out, withBucket, todo, kept, nBuckets, System.nanoTime(),
      commit, io = io)
    todo
  }

  /**
   * Iceberg-style REWRITE action (compaction): merge a multi-generation manifest —
   * typically the composite ids a long-running stream accumulates
   * ([[commitStreamBatch]]: `batchId * nBuckets + bucket`, thousands of small bucket
   * directories at production batch cadence) — into ONE canonical generation of
   * the table's recorded `nBuckets` buckets at the next free generation.
   *
   * One [[rewrite]] of every entry: read the verified source files, re-key each row
   * to `gen*nBuckets + (bucket % nBuckets)`, and commit in ONE wave. Before anything
   * is published, the staged rows of every new bucket must equal the rows its
   * source entries recorded; on a mismatch HEAD, history and the compacted ids stay
   * as they were. The new generation's directories are NEW names — nothing is
   * rewritten in place — and the state publish is the atomic swap (source entries
   * out, merged entries in). Source directories are deleted only AFTER that publish,
   * so a crash at any point leaves a fully readable snapshot; the worst case is
   * orphan directories, which no manifest-resolved read sees and [[vacuum]] removes.
   * Source directories a live BRANCH still reads are kept (the same referenced set
   * as [[vacuum]]), and a branch forked at the pre-compaction HEAD has its fork
   * base moved to the compacted HEAD — compaction changes no row, so the branch
   * stays fast-forwardable.
   *
   * After compaction the manifest is canonical (one entry per base bucket), so
   * [[run]]'s generation-aware resume can still heal an invalidated bucket from the
   * source corpus at its compacted id — streamed ingest, compaction, and batch
   * resume compose.
   *
   * STREAMS: compact only after the checkpoint has advanced past every drained
   * batch (the [[graft.streaming.StreamingExtract.drainOnceCommitted]]
   * `compactThreshold` hook runs exactly there). The pathological interleave — a
   * batch re-delivered AFTER its composite ids were compacted away (crash between
   * sink commit and checkpoint advance, compaction while the stream is down) — is
   * additionally made safe by the state record's compacted ids ([[TableState]]):
   * every merged-away id is recorded before its bytes are reclaimed, and
   * [[commitStreamBatch]] skips recorded ids on re-delivery, so the replay can
   * neither duplicate rows nor resurrect takedown-deleted documents
   * (StreamingTakedownSpec). The hook discipline remains the right deploy shape;
   * the record is the backstop that turns the scaladoc rule into a guarantee.
   *
   * `layout`: optional COMPUTED clustering keys for the rewritten files (e.g. a
   * [[graft.operators.Layout.zval]] z-order curve over (lang, offset)). Compaction
   * is THE moment to install a multi-dimensional layout — the data is being
   * rewritten anyway, so the z-clustering is free, and every later scan's min/max
   * file skipping prunes range predicates on BOTH curve dimensions
   * (SnapshotCompactSpec proves the pruning with executed-scan metrics). The keys
   * are shuffle/clustering expressions only; nothing derived is persisted.
   */
  def compact(
      spark: SparkSession,
      outDir: String,
      deepVerify: Boolean = true,
      io: CommitIo = PosixCommitIo,
      layout: Seq[Column] = Seq.empty): CompactReport = {
    val out = Paths.get(outDir)
    val (head, existing) = resolve(out, Head)
    lazy val nBuckets = TableSnapshot.bucketCount(out) // an empty table needs none
    if (existing.isEmpty || isCanonical(existing, nBuckets))
      return CompactReport(
        existing.map(_.bucket / nBuckets).maxOption.getOrElse(0L),
        Seq.empty, 0L, 0L, noop = true)
    val (_, invalid) = verifyEntries(spark, out, existing, deepVerify)
    require(invalid.isEmpty,
      s"refusing to compact: bucket(s) ${invalid.map(_.bucket).sorted} fail " +
        "verification — heal them first (re-deliver the stream batch / re-run the " +
        "batch sink); compacting unverified data would bake corruption into the new " +
        "generation")
    // a branch forked at the replaced HEAD moves its base along — compaction
    // changes no row, so it is still forked at the same logical table, and
    // [[fastForward]] must not refuse it
    val commit: Commit = v => s =>
      movesHead(head)(v)(s).copy(branches = s.branches.map { case (n, b) =>
        n -> (if (b.base == head) b.copy(base = v) else b)
      })
    val ids = rewrite(spark, out, io, existing, existing, nBuckets, commit,
      preservesRows = true, layout = layout)(identity)
    CompactReport(ids.head / nBuckets, ids.map(_ % nBuckets), existing.size.toLong,
      existing.map(_.rows).sum, noop = false)
  }

  /**
   * The one rewrite path — [[deleteDocs]], [[upsertDocs]], [[upsertDocsToBranch]],
   * [[compact]] and [[TableSnapshot.deleteIds]]. Write-once, like the reference's
   * only durable write (stream to a temp name, check, rename;
   * uiucprescon/ocr/languages.py:146-175): no live directory is touched until the
   * state publish that retires it.
   *
   *   1. reserve a fresh generation in one state publish ([[allocateGeneration]]),
   *      so a concurrent stream batch or rewrite never gets the same one;
   *   2. scan `replaced`'s manifest-listed files and apply `transform`, whose rows
   *      keep their old or base `bucket` id;
   *   3. re-key every row to `gen * nBuckets + base`, with the recorded count;
   *   4. commit ONE wave ([[commitWaveFlat]]) on top of `base` minus `replaced` —
   *      with `preservesRows`, every new bucket's staged rows must equal what its
   *      source entries recorded before anything publishes;
   *   5. one state publish: `commit` moves the ref, the reservation is dropped,
   *      and the replaced ids of stream batches join the compacted ids, so a
   *      re-delivered batch never re-commits them;
   *   6. GC the replaced directories: all of them for a `takedown` (deletion is
   *      physical), else those no live ref reads ([[referencedBuckets]]).
   *
   * A crash or a lost race before step 5 leaves every live byte in place; the new
   * generation is an orphan for [[vacuum]], and its reservation stays in the
   * ledger, where it only keeps the generation from being handed out again.
   * Returns the new ids.
   */
  private[sources] def rewrite(spark: SparkSession, out: Path, io: CommitIo,
      base: Seq[ManifestEntry], replaced: Seq[ManifestEntry], nBuckets: Int,
      commit: Commit, takedown: Boolean = false, preservesRows: Boolean = false,
      layout: Seq[Column] = Seq.empty)(
      transform: DataFrame => DataFrame): Seq[Long] = {
    val t0 = System.nanoTime()
    val genBase = allocateGeneration(out, io, None, base, nBuckets)
    val newId = replaced.map(_.bucket % nBuckets).distinct.sorted.map(b => b -> (genBase + b))
    val rows = transform(readEntries(spark, out.toString, replaced, "rewrite source"))
      .withColumn("bucket", rekey(pmod(col("bucket"), lit(nBuckets.toLong)), newId))
    val replacedIds = replaced.map(_.bucket)
    val expectRows =
      if (!preservesRows) Map.empty[Long, Long]
      else replaced.groupMapReduce(e => genBase + e.bucket % nBuckets)(_.rows)(_ + _)
    commitWaveFlat(spark, out, rows, newId.map(_._2),
      base.filterNot(e => replacedIds.contains(e.bucket)), nBuckets, t0,
      v => s => {
        // only a stream batch's allocation is ever re-delivered; this rewrite's
        // reservation leaves the ledger with its commit
        val streamed = s.batchBases.collect { case (id, b) if id >= 0 => b }.toSet
        commit(v)(s).copy(batchBases = s.batchBases - -genBase,
          compactedIds = (s.compactedIds ++
            replacedIds.filter(id => streamed(id - id % nBuckets))).distinct.sorted)
      },
      io = io, expectRows = expectRows,
      layoutExprs = Option.when(layout.nonEmpty)(col("bucket") +: layout))
    val live =
      if (takedown) Set.empty[Long]
      else referencedBuckets(spark, out.toString, readManifest(spark, out.toString))
    replacedIds.filterNot(live).foreach(b => deleteRecursively(bucketDir(out, b)))
    newId.map(_._2)
  }

  /** Delete `bucket=*` data directories no live ref reads — orphans left by a
    * [[rewrite]] that crashed or lost its commit (its fresh generation), by a crash
    * between a rewrite's commit and its GC, or by any abandoned write — and the
    * staging directories of commits whose process died. The manifest is the source
    * of truth (Iceberg semantics), so no read ever sees an orphan; vacuum only
    * reclaims its bytes. Run it only while no write is in progress: a running
    * commit's staged and published-but-uncommitted buckets look like orphans.
    * Returns the removed directory names. */
  def vacuum(spark: SparkSession, outDir: String): Seq[String] = {
    val out = Paths.get(outDir)
    val referenced = referencedBuckets(spark, outDir, readManifest(spark, outDir))
    val orphans = listPartitionDirs(out.resolve("data")).filter { p =>
      p.getFileName.toString.stripPrefix("bucket=").toLongOption
        .forall(!referenced(_))
    }
    orphans.foreach(deleteRecursively)
    deleteRecursively(out.resolve("staging"))
    orphans.map(_.getFileName.toString)
  }

  /** Bucket ids whose bytes a live ref reads: HEAD (`head`, the caller's current
    * manifest) plus every live BRANCH head. A branch is a writable line of
    * development, so its exclusive generations are live bytes, not orphans. Tags
    * deliberately do NOT pin bytes — they pin metadata against expiration only,
    * and a tag over reclaimed data fails loudly at read, by contract. Shared by
    * [[vacuum]] and the GC of every merge and compaction ([[rewrite]]), so neither
    * reclaims a branch's bytes. */
  private def referencedBuckets(spark: SparkSession, outDir: String,
      head: Seq[ManifestEntry]): Set[Long] =
    (head ++ branches(outDir).values.toSeq.distinct
      .flatMap(manifestAt(Paths.get(outDir), _)))
      .map(_.bucket).toSet

  /** The two verification tiers shared by batch [[run]] and [[commitStreamBatch]]:
    * tier 1 = driver-side names+sizes metadata ([[fastVerify]]); tier 2 (deep) =
    * ONE batched distributed job re-hashing every tier-1-passing bucket's bytes and
    * comparing per-file md5s + the combined digest. Returns (valid, invalid). */
  private[sources] def verifyEntries(
      spark: SparkSession, out: Path, entries: Seq[ManifestEntry],
      deepVerify: Boolean): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val (fastOk, fastBad) = entries.partition(e => fastVerify(out, e))
    val (valid, deepBad) =
      if (!deepVerify || fastOk.isEmpty) (fastOk, Seq.empty[ManifestEntry])
      else {
        val statsByDir = safeBatchedStats(spark,
          fastOk.map(e => bucketDir(out, e.bucket)).filter(listDataFiles(_).nonEmpty))
        fastOk.partition { e =>
          val stats = statsByDir.getOrElse(s"bucket=${e.bucket}", Seq.empty)
          combinedHash(stats) == e.content_hash &&
            stats.map(s => (s._1, s._3)) == e.files.zip(e.file_hashes)
        }
      }
    (valid, fastBad ++ deepBad)
  }

  // ---- protocol internals -------------------------------------------------------

  /**
   * The shared wave-commit body (batch [[run]] waves, streaming micro-batches and
   * every [[rewrite]]): write `flat` (which must carry the `bucket` ids to commit)
   * to this commit's own staging directory with the north rule's range layout,
   * observing each bucket's lineage metrics in the same pass ([[observedMetrics]]),
   * check every staged file's footer row count against them, publish each bucket,
   * hash the wave's files in one distributed job — the one pass that reads the
   * written bytes — publish the next manifest version and commit it with the
   * caller's state edit `commit` (which names the ref that moves) in the same state
   * publish that records `flat`'s schema and `nBuckets`
   * ([[TableSnapshot.recordLayout]]). Returns (updated manifest, rows committed
   * this wave, the published version).
   */
  private[sources] def commitWaveFlat(
      spark: SparkSession,
      out: Path,
      flat: DataFrame,
      wave: Seq[Long],
      manifest0: Seq[ManifestEntry],
      nBuckets: Int,
      t0: Long,
      commit: Commit,
      expectNonEmpty: Set[Long] = Set.empty,
      expectRows: Map[Long, Long] = Map.empty,
      io: CommitIo = PosixCommitIo,
      layoutExprs: Option[Seq[Column]] = None): (Seq[ManifestEntry], Long, Long) = {
    // every commit stages into a directory of its own and removes only that one,
    // whether it commits or fails, so concurrent writers never see or delete each
    // other's staged buckets
    val staging = out.resolve("staging").resolve(java.util.UUID.randomUUID().toString)

    val (metrics, wallMs) = try {
      // Range repartitioning on (bucket, doc_id, offset) — the north rule's explicit
      // layout ([[rewriteLayout]]): each output task covers a contiguous doc_id range
      // (data files arrive sorted, so resume-time doc_id range predicates prune at
      // file granularity), file sizes balance by sampled distribution, and the
      // trailing `offset` key splits a pathological multi-page document across tasks
      // instead of pinning its whole span set to one writer (the write-side form of
      // salting). `layoutExprs` overrides with COMPUTED layout keys (a z-order curve
      // from [[compact]]'s layout parameter): the expression is a shuffle key only —
      // nothing derived is persisted into the data files.
      //
      // The lineage metrics are observed ABOVE the range exchange, so they run once,
      // in the write's result stage: below it, the range-sampling job runs them too
      // and every row counts twice (the footer check below refuses exactly that),
      // and a retried map stage could count rows again. An all-empty wave
      // writes no partition dirs at all (Spark emits only _SUCCESS) and observes no
      // bucket, so it records zero-metrics entries: an empty bucket is a legal
      // committed state (resume of an empty bucket, re-delivered stream batch whose
      // rows all verified elsewhere).
      val obs = Observation()
      flat.repartitionByRange(layoutExprs.getOrElse(rewriteLayout(flat).map(col)): _*)
        .observe(obs, bucketMetrics(flat).as("m"))
        .write.partitionBy("bucket").mode("overwrite").parquet(staging.toString)
      val metrics = observedMetrics(obs)
      // Stray-bucket gate: every staged bucket id must belong to the committing
      // wave. flat's `bucket` is recomputed from doc_id here, so if the INPUT's
      // bucket column (which selected the wave's documents) disagrees with
      // bucketOf(doc_id, nBuckets), rows land outside `wave`, would never be
      // published, and the snapshot would silently lose them — abort loudly first.
      val stray = metrics.keySet -- wave.toSet
      require(stray.isEmpty,
        s"staged bucket ids $stray fall outside the committing wave $wave — the " +
          "input's `bucket` column disagrees with bucketOf(doc_id, nBuckets)")
      // Write-path check, at metadata cost: the rows each staged bucket's parquet
      // footers record must be the rows the write observed, so a dropped,
      // duplicated or unreadable file surfaces here, before anything publishes.
      val footers = listPartitionDirs(staging).map { d =>
        d.getFileName.toString.stripPrefix("bucket=").toLong ->
          listDataFiles(d).map(ParquetFooter.numRows).sum
      }.toMap
      (footers.keySet ++ metrics.keySet).foreach { b =>
        val (inFiles, seen) =
          (footers.getOrElse(b, 0L), metrics.get(b).fold(0L)(_.n_spans))
        require(inFiles == seen,
          s"staged bucket $b: its parquet footers record $inFiles rows but the " +
            s"write observed $seen — nothing was published")
      }
      // Refuse the silent-loss shape BEFORE anything publishes: a re-extracted bucket
      // whose prior manifest entry had rows > 0 staging ZERO rows means the resume
      // filter selected nothing — a wrong (but in-range) input bucket column, or the
      // input shrank under the snapshot. Either way committing "empty" destroys
      // previously-committed data. Operators who truly mean it delete the manifest
      // entry first (forcing the initial-commit agreement scan on the next run).
      val vanished = expectNonEmpty -- metrics.keySet
      require(vanished.isEmpty,
        s"resume staged ZERO rows for bucket(s) ${vanished.toSeq.sorted} whose prior " +
          "manifest entries recorded rows > 0 — refusing to overwrite committed data " +
          "with empty buckets (wrong input `bucket` column, or input changed under " +
          "the snapshot; delete the manifest entry to force a rebuild)")
      // A row-preserving rewrite (compaction) reconciles per bucket here, before any
      // publish: a lost or duplicated row leaves HEAD where it was.
      expectRows.foreach { case (b, n) =>
        val staged = metrics.get(b).fold(0L)(_.n_spans)
        require(staged == n,
          s"row mismatch for bucket $b: staged $staged rows but the source manifest " +
            s"entries recorded $n — nothing was published")
      }
      val wallMs = ((System.nanoTime() - t0) / 1e6).toLong

      // per-bucket publish + manifest publish, through the CommitIo seam. Every
      // destination is ABSENT: rewrites land at a fresh generation, and resume /
      // re-delivery clear a failed or unreferenced id before staging it, so no live
      // directory is ever moved or replaced here — the state publish below is the
      // commit point, and bytes it retires are GC'd only after it.
      wave.foreach { b =>
        val src = staging.resolve(s"bucket=$b")
        val dst = bucketDir(out, b)
        require(!Files.exists(dst), s"refusing to publish over existing $dst")
        // only a bucket that staged no row may publish as an empty directory
        require(Files.exists(src) || !metrics.contains(b),
          s"staged rows of bucket $b vanished from $src before its publish")
        if (!Files.exists(src)) Files.createDirectories(src) // empty bucket
        io.publishDir(src, dst)
      }
      (metrics, wallMs)
    } finally deleteRecursively(staging) // published buckets have left it
    // per-file (name, size, md5) for the WHOLE wave in one distributed job —
    // executors hash, the driver records digests only (VERDICT r1: no driver-side
    // Files.readAllBytes, and O(1) jobs per wave, not O(buckets))
    val waveStats = batchedFileStats(spark,
      wave.map(bucketDir(out, _)).filter(listDataFiles(_).nonEmpty))
    var manifest = manifest0
    var waveRows = 0L
    wave.foreach { b =>
      val stats = waveStats.getOrElse(s"bucket=$b", Seq.empty)
      val m = metrics.getOrElse(b, SpanMetricsAgg.finish(SpanMetricsAgg.zero))
      manifest = (manifest :+ ManifestEntry(
        bucket = b,
        rows = m.n_spans,
        content_hash = combinedHash(stats),
        files = stats.map(_._1),
        file_sizes = stats.map(_._2),
        file_hashes = stats.map(_._3),
        engine_version = graft.operators.DeterministicOcrEngine.Version,
        n_spans = m.n_spans,
        n_media = m.n_media,
        n_text = m.n_text,
        n_err = m.n_err,
        ocr_chars = m.ocr_chars,
        n_words = m.n_words,
        conf_sum = m.conf_sum,
        wall_ms = wallMs)).sortBy(_.bucket)
      waveRows += m.n_spans
    }
    (manifest, waveRows, writeManifest(out, manifest, io,
      v => s => commit(v)(TableSnapshot.recordLayout(out, flat.schema, nBuckets)(s))))
  }

  private[sources] def bucketDir(out: Path, bucket: Long): Path =
    out.resolve("data").resolve(s"bucket=$bucket")

  /**
   * Verification tier 1: names + sizes — pure filesystem METADATA, O(files), driver
   * side, no byte reads. Tier 2 (deep, see run()) recomputes per-file md5s in ONE
   * batched distributed binaryFile job over all tier-1-passing buckets and compares
   * against the recorded `file_hashes` — catches same-size in-place corruption. At
   * 100 TB a resume that trusts the manifest runs with deepVerify=false (Iceberg
   * semantics: the manifest is the source of truth); deep=true re-proves every
   * committed byte without ever pulling data through the driver.
   */
  private def fastVerify(out: Path, e: ManifestEntry): Boolean = {
    // A manifest line with null or length-skewed parallel arrays (an older format
    // version, a hand-edited file) is a FAILED verification — the bucket is
    // invalidated and rebuilt — never an NPE that kills the advertised resume path
    // (ADVICE r2).
    val arraysOk = e.files != null && e.file_sizes != null && e.file_hashes != null &&
      e.files.size == e.file_sizes.size && e.files.size == e.file_hashes.size
    val dir = bucketDir(out, e.bucket)
    // an entry that records rows must list a file holding them
    arraysOk && (e.rows == 0L || e.files.nonEmpty) && Files.isDirectory(dir) &&
      listDataFiles(dir).map(p => (p.getFileName.toString, Files.size(p))) ==
        e.files.zip(e.file_sizes)
  }

  /** Per-file (name, size, md5) for MANY bucket directories in one Spark job over the
    * `binaryFile` source — byte-streaming and hashing happen on executors; only
    * (name, size, digest) rows reach the driver. Keyed by directory path string. */
  private def batchedFileStats(
      spark: SparkSession, dirs: Seq[Path]): Map[String, Seq[(String, Long, String)]] = {
    if (dirs.isEmpty) return Map.empty
    spark.read.format("binaryFile").load(dirs.map(_.toString): _*)
      .select(col("path"), col("length"), md5(col("content")).as("h"))
      .collect()
      .map { r =>
        val p = r.getString(0)
        val slash = p.lastIndexOf('/')
        val dir = p.substring(0, slash)
        // key by the final path segment ("bucket=N") — URI scheme formatting varies
        // between Hadoop versions; the bucket segment is unique within one call
        (dir.substring(dir.lastIndexOf('/') + 1),
          (p.substring(slash + 1), r.getLong(1), r.getString(2)))
      }
      .filterNot(f => f._2._1.startsWith(".") || f._2._1.startsWith("_"))
      .groupBy(_._1)
      .map { case (d, rows) => d -> rows.map(_._2).sortBy(_._1).toSeq }
  }

  /** [[batchedFileStats]] with corruption isolation: local-FS checksum sidecars make
    * Hadoop throw on in-place corruption before our digest ever differs, which would
    * fail the whole batched job — fall back to per-directory jobs so only the corrupt
    * bucket goes missing from the result (and thereby fails its verify). */
  private def safeBatchedStats(
      spark: SparkSession, dirs: Seq[Path]): Map[String, Seq[(String, Long, String)]] =
    try batchedFileStats(spark, dirs)
    catch {
      case _: Exception =>
        // Per-directory isolation, with one retry per directory: a transient
        // executor/FS hiccup must not masquerade as corruption — missing stats
        // mean failed-verify, which DELETES and re-extracts the bucket.
        def oneDir(d: Path): Option[(String, Seq[(String, Long, String)])] = {
          def attempt() = batchedFileStats(spark, Seq(d)).headOption
          try attempt()
          catch {
            case _: Exception =>
              try attempt() catch { case _: Exception => None }
          }
        }
        val perDir = dirs.map(d => d -> oneDir(d))
        val expected = dirs.count(listDataFiles(_).nonEmpty)
        val got = perDir.count(_._2.nonEmpty)
        // every non-empty directory failing twice is an infrastructure outage, not
        // per-bucket corruption — abort LOUDLY rather than silently invalidating
        // (and re-extracting) the entire committed snapshot
        require(expected <= 1 || got > 0,
          s"deep verify failed for every one of $expected non-empty bucket " +
            "directories (twice each) — treating this as an infrastructure " +
            "failure and aborting, not as corruption of the whole snapshot")
        perDir.flatMap(_._2).toMap
    }

  /** The range layout of every commit: (bucket, doc_id, offset) for span tables,
    * else the bucket and the first other column. */
  private def rewriteLayout(df: DataFrame): Seq[String] =
    if (df.columns.contains("doc_id") && df.columns.contains("offset"))
      Seq("bucket", "doc_id", "offset")
    else "bucket" +: df.columns.find(_ != "bucket").toSeq

  private val SpanMetricColumns = Seq("kind", "ok", "error", "text", "n_words", "conf_sum")

  /** The one aggregate a commit observes on its write: bucket id -> lineage metrics,
    * [[SpanMetricsAgg]] per bucket for span tables, else the row count alone
    * (generic [[TableSnapshot]] tables), zeros elsewhere — one manifest format for
    * both. A NULL bucket counts under -1, which the stray-bucket gate refuses. */
  private def bucketMetrics(flat: DataFrame): Column = {
    val b = coalesce(col("bucket").cast("long"), lit(-1L))
    if (SpanMetricColumns.forall(flat.columns.contains))
      udaf(BucketSpanMetricsAgg).apply(b, struct(SpanMetricColumns.map(col): _*))
    else udaf(BucketRowsAgg).apply(b)
  }

  /** The per-bucket metrics `obs` saw on the write that just returned; refuses when
    * the write reported none, never reading that as an empty wave. */
  private def observedMetrics(obs: Observation): Map[Long, SpanMetrics] =
    obs.get.get("m") match {
      case Some(m: scala.collection.Map[_, _]) => m.map { case (b: Long, r: Row) =>
        b -> SpanMetrics(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))
      }.toMap
      case other => throw new IllegalStateException(
        s"the staged write reported no lineage metrics (observed $other)")
    }

  /** md5 over the sorted "name:size:md5" lines — one digest per bucket. */
  private def combinedHash(stats: Seq[(String, Long, String)]): String = {
    val md = MessageDigest.getInstance("MD5")
    stats.foreach { case (n, sz, h) => md.update(s"$n:$sz:$h\n".getBytes("UTF-8")) }
    hex(md.digest())
  }

  /** The `bucket=N` partition directories under a staging root (empty wave =>
    * none: Spark writes only _SUCCESS for empty partitioned output). */
  private def listPartitionDirs(dir: Path): Seq[Path] =
    listDir(dir)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("bucket="))

  private def listDataFiles(dir: Path): Seq[Path] =
    listDir(dir)
      .filter(p => Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.startsWith(".")
        || p.getFileName.toString.startsWith("_"))
      .sortBy(_.getFileName.toString)

  /** The entries of `dir` (none when it is absent). */
  private def listDir(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.toSeq finally stream.close()
    }

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xff}%02x").mkString

  /** Publish `entries` as the next manifest version (JSON lines, create-new through
    * the [[CommitIo]] seam; a number a concurrent writer took first is skipped),
    * then commit it with one state publish of `commit(v)` — the commit point. A
    * crash between the two leaves an extra unreferenced history file (harmless; the
    * next publish just takes the next number), never a HEAD whose version is
    * missing from history. Returns the version. */
  private def writeManifest(out: Path, entries: Seq[ManifestEntry], io: CommitIo,
      commit: Commit): Long = {
    val body = entries.map(Serialization.write(_)).mkString("", "\n", "\n")
    @tailrec def publish(): Long = {
      val v = versions(out.toString).lastOption.getOrElse(0L) + 1
      if (publishNew(out, io, versionPath(out, v), body)) v else publish()
    }
    val v = publish()
    updateState(out, io)(commit(v))
    v
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
}
