package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern.quote

import scala.jdk.CollectionConverters._

import graft.functions.{OracleSql, OracleSqlDedup, OracleSqlMedia, OracleSqlRef, OracleSqlSim}
import graft.operators.{Dedup, ExtractPipeline, Similarity, TextAnalysis}
import graft.sources.{Interleave, SnapshotSink}
import graft.sources.SnapshotSink.Version
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every verified operator has (a) a `queries` entry producing a flat, totally-ordered
  * DataFrame of scalar columns and (b) an `oracleSql` entry with the exact DuckDB mirror
  * (see [[graft.functions.OracleSql]] for the parity rules). Aggregate/computed columns
  * are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ocrExtract(spark, "/root/testdata/sf0.001")

  private def ocrExtract(s: SparkSession, dir: String): DataFrame =
    ExtractPipeline.extractFlat(Interleave.docs(s, dir))
      .select(col("doc_id"), col("offset"), col("kind"), col("text"),
        col("media_ref"), col("ok").cast("int").as("ok"), col("error"))
      .orderBy(col("doc_id"), col("offset"))

  private def extractDocs(s: SparkSession, dir: String): DataFrame = {
    val flat = ExtractPipeline.extractFlat(Interleave.docs(s, dir))
    flat.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"),
      min(col("ok")).cast("int").as("all_ok"),
      array_join(
        transform(array_sort(collect_list(struct(col("offset"), col("text")))),
          x => x.getField("text")), " | ").as("content"),
      array_join(
        transform(array_sort(collect_list(
          when(col("error").isNotNull, struct(col("offset"), col("error"))))),
          x => x.getField("error")), ";").as("errors")
    ).orderBy(col("doc_id"))
  }

  /** The ASSEMBLED doc form through the flagship pipeline
    * (ExtractPipeline.extractAndReassemble) — spans flattened to a deterministic
    * string so the per-document array ORDER (the north-rule invariant) is part of
    * the value hash the driver compares. */
  private def extractAssembled(s: SparkSession, dir: String): DataFrame = {
    val docs = ExtractPipeline.extractAndReassemble(Interleave.docs(s, dir))
    docs.select(
      col("doc_id"),
      array_join(
        transform(col("spans"), sp => concat_ws(":",
          sp.getField("offset"), sp.getField("kind"), sp.getField("text"),
          coalesce(sp.getField("media_ref"), lit("")))), "|").as("content"),
      col("ok").cast("int").as("all_ok"),
      coalesce(col("error"), lit("")).as("first_error"),
      col("n_spans")
    ).orderBy(col("doc_id"))
  }

  private def extractMetrics(s: SparkSession, dir: String): DataFrame = {
    val flat = ExtractPipeline.extractFlat(Interleave.docs(s, dir))
    flat.groupBy(col("lang")).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_spans"),
      sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_media"),
      sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
      sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"),
      sum(when(col("kind") === "image" && col("ok"), length(col("text")))
        .otherwise(0L)).cast("long").as("ocr_chars")
    ).orderBy(col("lang"))
  }

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Committed-derived-table location (the `neardup_pairs` signature table, the
    * `top_terms` tf table, the PQ codebook): keyed by corpus identity (the
    * fingerprint of `source`, the table's own input parquet) AND the table's format
    * version, so a changed corpus or algorithm change can never serve stale rows —
    * the staleness contract [[graft.sources.TableSnapshot]] documents. A repeat run
    * over the same corpus resumes: verified buckets are read back, not recomputed.
    * The same table's directories of OTHER format versions are superseded copies no
    * build of this version reads, so they are deleted here; other tags' and other
    * corpora's directories are left alone. */
  private[graft] def derivedDir(dir: String, tag: String, version: Int,
      source: String = "documents.parquet"): String = {
    val fp = Interleave.sourceFingerprint(Paths.get(dir, source))
    val root = Paths.get(sys.props("java.io.tmpdir"))
    val prefix = s"graft-$tag-" + dir.replaceAll("[^a-z0-9.]", "-") + "-v"
    val superseded = (quote(prefix) + "(\\d+)" + quote(s"-$fp")).r
    val listing = Files.list(root)
    try listing.iterator().asScala.foreach { p =>
      p.getFileName.toString match {
        case superseded(v) if v != version.toString => SnapshotSink.deleteRecursively(p)
        case _ =>
      }
    } finally listing.close()
    root.resolve(s"$prefix$version-$fp").toString
  }

  private def sigDirFor(dir: String): String =
    derivedDir(dir, "sig", Dedup.SigFormatVersion)

  /** Signature table of the BASE corpus only (no mutants) — what
    * `neardup_incremental`'s delta dedups against. */
  private def sigBaseDirFor(dir: String): String =
    derivedDir(dir, "sigbase", Dedup.SigFormatVersion)

  private def tfDirFor(dir: String): String =
    derivedDir(dir, "tf", TextAnalysis.TfFormatVersion)

  /** Committed PQ codebook (model state under the same protocol as data state);
    * keyed on the EMBEDDINGS parquet fingerprint — the codebook's actual source. */
  private def pqDirFor(dir: String): String =
    derivedDir(dir, "pqcb", Similarity.PqFormatVersion, "embeddings.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** INCREMENTAL RE-EMBEDDING consumer (the downstream pipeline a heal/upsert
    * triggers): the embeddings table is committed through the snapshot protocol in
    * two waves (hash-bucketed on the PORTABLE u32(md5) key — never `vec_id % n`,
    * never Spark-private hash()); the consumer diffs manifest versions 1 -> 2
    * ([[graft.sources.SnapshotSink.readChangesBetween]] — O(changed buckets)
    * bytes, ReembedSpec pins the scan's file count) and PQ-encodes ONLY the
    * changed buckets' vectors against the committed FULL-CORPUS codebook (trained
    * first, explicitly, so a partial input can never poison the shared model
    * store). Output = the changed buckets' codes, bucket-stamped. */
  private def reembedIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    import graft.sources.TableSnapshot
    val nb = Similarity.ReembedBuckets
    val out = freshDir("reembed", dir)
    val emb = embeddings(s, dir)
    val bucketCol = pmod(
      PortableHash.md5u32(concat(lit("rb:"), col("vec_id"))), lit(nb.toLong))
    TableSnapshot.run(emb.withColumn("bucket", bucketCol.cast("int")), out, nb,
      waveSize = nb / 2)
    // codebook = the committed full-corpus model (same store as pq_encode/pq_topk);
    // train-if-absent BEFORE restricting the input, so query ordering can never
    // commit a subset-trained codebook under the shared key
    Similarity.pqCodebook(emb, Some(pqDirFor(dir)))
    val changed = SnapshotSink.readChangesBetween(s, out, 1L, 2L)
    Similarity.pqEncode(changed.drop("bucket"), store = Some(pqDirFor(dir)))
      .withColumn("bucket", bucketCol.cast("int"))
      .select(col("bucket"), col("vec_id"), col("sub"), col("code"), col("d2"))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** A fresh directory for one gate's table: `graft-<tag>-query-` plus the corpus
    * directory, emptied. */
  private def freshDir(tag: String, dir: String): String = {
    val out = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-$tag-query-" + dir.replaceAll("[^a-z0-9.]", "-"))
    SnapshotSink.deleteRecursively(out)
    out.toString
  }

  /** The snapshot gates' table: the bucket-partitioned corpus extracted and
    * committed into [[freshDir]]`(tag, dir)` in waves of `waveSize` of
    * [[SnapshotSink.DefaultBuckets]] buckets, one history version per wave. */
  private def committedSnapshot(s: SparkSession, dir: String, tag: String,
      waveSize: Int): String = {
    val nb = SnapshotSink.DefaultBuckets
    val out = freshDir(tag, dir)
    SnapshotSink.run(Interleave.materializedDocsBucketed(s, dir, nb), out,
      nBuckets = nb, waveSize = waveSize)
    out
  }

  /** Per history version of `out`: its manifest's bucket count, recorded rows and
    * errors, and the rows the version-resolved data scan reads. */
  private def versionRows(s: SparkSession, out: String): DataFrame = {
    val rows = SnapshotSink.versions(out).map { v =>
      val entries = SnapshotSink.readManifest(s, out, Version(v))
      val readRows = SnapshotSink.readCommitted(s, out, Version(v)).count()
      (v.toInt, entries.size, entries.map(_.rows).sum, readRows,
        entries.map(_.n_err).sum)
    }
    import s.implicits._
    rows.toDF("version", "n_buckets", "rows_", "rows_read", "n_err")
      .orderBy(col("version"))
  }

  private def spanMetrics(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpanMetricsAgg
    ExtractPipeline.extractFlat(Interleave.docs(s, dir))
      .withColumn("bucket",
        SnapshotSink.bucketOf(col("doc_id"), SnapshotSink.DefaultBuckets))
      .groupBy(col("bucket"))
      .agg(SpanMetricsAgg.spanMetrics(
        col("kind"), col("ok"), col("error"), col("text"),
        col("n_words"), col("conf_sum")).as("m"))
      .select(col("bucket"), col("m.n_spans"), col("m.n_media"), col("m.n_text"),
        col("m.n_err"), col("m.ocr_chars"), col("m.n_words"))
      .orderBy(col("bucket"))
  }

  /** Full snapshot protocol end-to-end: extract -> wave commits -> manifest; the
    * returned lineage's integer columns are DuckDB-verified. Runs over the
    * bucket-PARTITIONED corpus layout so each wave's input filter prunes at the scan
    * (PartitionFilters — the production resume path, SnapshotResumeSpec). */
  private def snapshotLineage(s: SparkSession, dir: String): DataFrame =
    SnapshotSink.lineage(s, committedSnapshot(s, dir, "snapshot", waveSize = 4))
      // manifest bucket ids are Long (streaming composite-id headroom); batch ids
      // are tiny — surface as INT to match the oracle's CAST(... AS INT)
      .select(col("bucket").cast("int").as("bucket"), col("rows").as("rows_"),
        col("n_spans"), col("n_media"),
        col("n_text"), col("n_err"), col("ocr_chars"), col("n_words"))
      .orderBy(col("bucket"))

  /** Resume under the driver's gate (the north rule's marquee feature): commit the
    * full snapshot, delete ONE bucket's committed data, resume, and emit per-bucket
    * lineage with a re_extracted flag taken from the resume report's processed set.
    * The oracle predicts exactly bucket [[OracleSql.ResumeVictim]] re-extracted
    * (single-sourced next to the SQL that hardcodes it) with unchanged per-bucket
    * counts — a protocol regression (re-extracting everything, or failing to
    * invalidate) flips flags or counts and hash-mismatches. */
  private def snapshotResume(s: SparkSession, dir: String): DataFrame = {
    val nb = SnapshotSink.DefaultBuckets
    val out = freshDir("snapresume", dir)
    val docs = Interleave.materializedDocsBucketed(s, dir, nb)
    // waveSize=nb: the initial commit is one wave (half the job count) — wave
    // granularity itself is already demonstrated by snapshot_lineage (waveSize=4);
    // THIS query's subject is the invalidate->resume cycle
    SnapshotSink.run(docs, out, nBuckets = nb, waveSize = nb)
    SnapshotSink.deleteRecursively(
      Paths.get(out, "data", s"bucket=${OracleSql.ResumeVictim}"))
    val report = SnapshotSink.run(docs, out, nBuckets = nb, waveSize = nb)
    val re = report.processed.map(java.lang.Long.valueOf)
    SnapshotSink.lineage(s, out)
      .select(col("bucket").cast("int").as("bucket"), col("rows").as("rows_"),
        col("n_spans"), col("n_err"),
        when(col("bucket").isInCollection(re), 1).otherwise(0).as("re_extracted"))
      .orderBy(col("bucket"))
  }

  /** Manifest TIME TRAVEL under the DuckDB gate: a 2-wave commit publishes immutable
    * manifest history versions 1 and 2 ([[graft.sources.SnapshotSink.versions]]); for
    * each, the query reads BOTH the historical manifest (`rows_` = its recorded total)
    * and the version-resolved data scan ([[graft.sources.SnapshotSink.readCommitted]]
    * at the version, `rows_read`) — so a history publish that skips a wave,
    * mis-numbers versions, or resolves a version to the wrong file set
    * hash-mismatches against the oracle's wave arithmetic
    * (version v = buckets 0 .. nb/2*v-1, ascending wave order). */
  private def snapshotTimetravel(s: SparkSession, dir: String): DataFrame =
    versionRows(s, committedSnapshot(s, dir, "snaptravel",
      waveSize = SnapshotSink.DefaultBuckets / 2))

  /** ROLLBACK under the DuckDB gate: the same 2-wave commit as
    * [[snapshotTimetravel]] (versions 1 and 2), then
    * [[graft.sources.SnapshotSink.restore]] to version 1 — a metadata-only
    * republish of v1's manifest as version 3 (Iceberg `rollback` semantics; the
    * rolled-back-FROM version stays readable history). For every version the query
    * emits both the manifest totals and the version-resolved DATA scan's row count,
    * so a restore that rewrites data, resurrects wave-2 rows, points at the wrong
    * file set, or fails to republish hash-mismatches: version 3 must read exactly
    * version 1's bytes while version 2 stays intact. The loud-failure half of the
    * contract (restore AFTER a physical takedown must throw, never resurrect) is
    * SnapshotRestoreSpec's subject — file-reclaim timing can't be oracle-predicted. */
  private def snapshotRestore(s: SparkSession, dir: String): DataFrame = {
    val out = committedSnapshot(s, dir, "snaprestore",
      waveSize = SnapshotSink.DefaultBuckets / 2)
    SnapshotSink.restore(s, out, toVersion = 1L)
    versionRows(s, out)
  }

  /** History RETENTION under the DuckDB gate: a 4-wave commit publishes versions
    * 1..4, a tag pins version 1, then
    * [[graft.sources.SnapshotSink.expireVersions]](keepLast = 2) must expire
    * EXACTLY version 2 — version 1 survives because tags pin versions against
    * retention (Iceberg ref semantics), versions 3 and 4 survive the keepLast
    * window, and the expired version's manifest read AND data read both fail
    * (surfaced as live=0 / zeroed counts). For every surviving version the query
    * emits manifest totals and the version-resolved data scan's count, so a
    * retention pass that drops the wrong version, ignores a tag, or corrupts a
    * surviving manifest hash-mismatches against the oracle's wave arithmetic. */
  private def snapshotExpire(s: SparkSession, dir: String): DataFrame = {
    val out = committedSnapshot(s, dir, "snapexpire",
      waveSize = SnapshotSink.DefaultBuckets / 4) // versions 1..4
    SnapshotSink.tag(out, "pinned", 1L)
    SnapshotSink.expireVersions(out, keepLast = 2)
    val tagged = SnapshotSink.tags(out).values.toSet
    val rows = (1L to 4L).map { v =>
      val (live, nBuckets, rowsTotal) =
        try {
          val es = SnapshotSink.readManifest(s, out, Version(v))
          (1, es.size, es.map(_.rows).sum)
        } catch { case _: IllegalArgumentException => (0, 0, 0L) }
      val readRows =
        if (live == 1) SnapshotSink.readCommitted(s, out, Version(v)).count() else 0L
      (v.toInt, if (tagged(v)) 1 else 0, live, nBuckets, rowsTotal, readRows)
    }
    import s.implicits._
    rows.toDF("version", "tagged", "live", "n_buckets", "rows_", "rows_read")
      .orderBy(col("version"))
  }

  /** GC under the DuckDB gate — the reclaim half of the rollback lifecycle: the
    * same 2-wave commit as [[snapshotTimetravel]], a [[graft.sources.SnapshotSink.restore]]
    * to version 1 (wave-2 buckets now unreferenced by HEAD), then
    * [[graft.sources.SnapshotSink.vacuum]]. The oracle predicts, per bucket, the
    * wave-2 manifest's recorded counts (metadata history survives GC), a `vacuumed`
    * flag on exactly the wave-2-exclusive buckets, and HEAD's post-GC per-bucket
    * read-back (wave-1 rows intact, reclaimed buckets absent) — a vacuum that
    * reclaims a referenced bucket, misses an orphan, or corrupts HEAD
    * hash-mismatches. The loud invariants a flat table can't carry (reclaim EXPIRES
    * the rolled-back-from version; history numbering is untouched) are asserted
    * in-query so a regression fails the run instead of silently passing. */
  private def snapshotVacuum(s: SparkSession, dir: String): DataFrame = {
    val out = committedSnapshot(s, dir, "snapvacuum",
      waveSize = SnapshotSink.DefaultBuckets / 2) // v1, v2
    SnapshotSink.restore(s, out, toVersion = 1L) // v3 = v1's file set
    val removed = SnapshotSink.vacuum(s, out)
      .map(_.stripPrefix("bucket=").toLong).toSet
    require(SnapshotSink.versions(out) == Seq(1L, 2L, 3L),
      "vacuum must reclaim data only — never rewrite manifest history")
    val v2Expired =
      try { SnapshotSink.readCommitted(s, out, Version(2L)).count(); false }
      catch { case _: IllegalArgumentException => true }
    require(v2Expired, "version 2 must be EXPIRED once its exclusive buckets are reclaimed")
    // bounded driver-side state: nb rows of manifest metadata + nb head counts
    val head = SnapshotSink.readCommitted(s, out)
      .groupBy(col("bucket").cast("int").as("bucket")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = SnapshotSink.readManifest(s, out, Version(2L)).sortBy(_.bucket).map { e =>
      (e.bucket.toInt, e.rows, e.n_err,
        if (removed(e.bucket)) 1 else 0, head.getOrElse(e.bucket.toInt, 0L))
    }
    import s.implicits._
    rows.toDF("bucket", "rows_", "n_err", "vacuumed", "head_rows")
      .orderBy(col("bucket"))
  }

  /** Incremental CHANGE read (the changelog consumer) under the DuckDB gate: after
    * the same 2-wave commit as [[snapshotTimetravel]],
    * [[graft.sources.SnapshotSink.readChangesBetween]] (v1 -> v2) must surface
    * exactly the second wave's buckets (nb/2 .. nb-1) with their per-bucket span
    * counts — a diff that leaks unchanged buckets, drops changed ones, or resolves
    * the wrong files hash-mismatches. The healed-bucket (re-extraction) diff case is
    * covered by SnapshotTimeTravelSpec, where the protocol can be crashed mid-flight. */
  private def snapshotChanges(s: SparkSession, dir: String): DataFrame =
    SnapshotSink.readChangesBetween(s, committedSnapshot(s, dir, "snapchanges",
        waveSize = SnapshotSink.DefaultBuckets / 2), 1L, 2L)
      .groupBy(col("bucket").cast("int").as("bucket"))
      .agg(count(lit(1)).as("rows_"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"))
      .orderBy(col("bucket"))

  /** TAKEDOWN under the DuckDB gate: full commit, then
    * [[graft.sources.SnapshotSink.deleteDocs]] of the deterministic victim set
    * (numeric doc id % [[OracleSql.TakedownMod]] == [[OracleSql.TakedownRes]] —
    * single-sourced beside the SQL that predicts it). The oracle predicts per-bucket
    * lineage with exactly the non-victim spans AND `rewritten` = 1 precisely on
    * buckets that contained a victim — a takedown that rewrites untouched buckets,
    * misses a victim's rows, or loses bystander rows hash-mismatches. A rewritten
    * bucket lands at a fresh generation, so rows are grouped by base id. */
  private def snapshotTakedown(s: SparkSession, dir: String): DataFrame = {
    val nb = SnapshotSink.DefaultBuckets
    val out = committedSnapshot(s, dir, "snaptakedown", waveSize = nb)
    // victim list is driver-side by design (deleteDocs scaladoc: the takedown form
    // is a bounded id list); the selector keeps it tiny at any SF used for the gate
    val victims = documents(s, dir)
      .filter(pmod(col("doc_id"), lit(OracleSql.TakedownMod)) === OracleSql.TakedownRes)
      .select(format_string("doc-%013d", col("doc_id")))
      .collect().map(_.getString(0)).toSeq
    val report = SnapshotSink.deleteDocs(s, out, victims)
    val rw = report.rewrittenBuckets.map(java.lang.Long.valueOf)
    SnapshotSink.lineage(s, out)
      .select(pmod(col("bucket"), lit(nb.toLong)).cast("int").as("bucket"),
        col("rows").as("rows_"),
        col("n_err"),
        when(col("bucket").isInCollection(rw), 1).otherwise(0).as("rewritten"))
      .orderBy(col("bucket"))
  }

  /** The MERGE update set both [[snapshotUpsert]] and [[snapshotBranch]] commit:
    * victims' revised extraction ('v2:'-prefixed text spans only — re-crawl
    * semantics) plus [[OracleSql.UpsertNewDocs]] brand-new documents. */
  private def upsertUpdateSet(s: SparkSession, dir: String): DataFrame = {
    val numId = substring(col("doc_id"), 5, Interleave.DocIdDigits).cast("long")
    // re-crawl extraction: victims filtered BEFORE the OCR island (only the changed
    // documents pay extraction — the incremental-ingest cost shape), new doc shape
    // = kt text spans, revised content
    val victims = Interleave.docs(s, dir)
      .filter(pmod(numId, lit(OracleSql.UpsertMod)) === OracleSql.UpsertRes)
    val updVict = ExtractPipeline.extractFlat(victims)
      .filter(col("kind") === "text")
      .withColumn("text", concat(lit("v2:"), col("text")))
      // the revised doc has kt spans (its media pages were dropped by the re-crawl)
      .withColumn("n_doc_spans", (lit(2) + pmod(numId, lit(3))).cast("int"))
    val mx = documents(s, dir).agg(max(col("doc_id"))).head.getLong(0)
    val insRows = for {
      i <- 1 to OracleSql.UpsertNewDocs
      j <- 0 until OracleSql.UpsertNewSpans
    } yield (f"doc-${mx + i}%013d", "en", OracleSql.UpsertNewSpans, j, "text",
      s"new:${mx + i}:$j", null: String, true, null: String, 0, 0.0)
    import s.implicits._
    val ins = insRows.toDF("doc_id", "lang", "n_doc_spans", "offset", "kind",
      "text", "media_ref", "ok", "error", "n_words", "conf_sum")
    updVict.unionByName(ins)
  }

  /** Per-bucket (counts + content digest over (doc_id, offset, text)) read-back
    * aggregation shared by the merge-family gates — the digest puts the committed
    * BYTES under the oracle, not just counts. */
  private def contentAgg(df: DataFrame,
      bucketCol: org.apache.spark.sql.Column): DataFrame =
    df.groupBy(bucketCol.as("bucket"))
      .agg(count(lit(1)).as("rows_"),
        sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
        sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_media"),
        sum(when(col("error").isNotNull, 1L).otherwise(0L)).as("n_err"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("offset"),
            coalesce(col("text"), lit("")).as("t")))),
          x => concat_ws(":", x.getField("doc_id"), x.getField("offset"),
            x.getField("t"))), "|")).as("content_md5"))

  /** Row-level UPSERT/MERGE under the DuckDB gate (the daily-crawl ingest op): full
    * commit, then [[graft.sources.SnapshotSink.upsertDocs]] of an update set =
    * (re-crawled victims' REVISED extraction — numeric id % [[OracleSql.UpsertMod]]
    * == [[OracleSql.UpsertRes]], their new doc shape is text spans only with
    * 'v2:'-prefixed content) + ([[OracleSql.UpsertNewDocs]] brand-new documents —
    * the insert half of MERGE). The output aggregates the READ-BACK committed
    * table per bucket INCLUDING a content digest over (doc_id, offset, text), so
    * the oracle verifies the merged bytes: replace-not-append (victims' media
    * spans must be gone), bystander preservation, insert placement, and
    * `rewritten` = 1 exactly on buckets that received an update. */
  private def snapshotUpsert(s: SparkSession, dir: String): DataFrame = {
    val nb = SnapshotSink.DefaultBuckets
    val out = committedSnapshot(s, dir, "snapupsert", waveSize = nb)
    val report = SnapshotSink.upsertDocs(s, out, upsertUpdateSet(s, dir))
    // rewritten buckets land at a fresh generation: group by base id
    val rwBases = report.rewrittenBuckets.map(b => java.lang.Long.valueOf(b % nb))
    contentAgg(SnapshotSink.readCommitted(s, out),
        pmod(col("bucket").cast("long"), lit(nb.toLong)).cast("int"))
      .withColumn("rewritten",
        when(col("bucket").cast("long").isInCollection(rwBases), 1).otherwise(0))
      .orderBy(col("bucket"))
  }

  /** Writable-branch WAP cycle under the DuckDB gate: full commit (v1), branch
    * "audit" at v1, the SAME merge as [[snapshotUpsert]] staged onto the branch
    * ([[graft.sources.SnapshotSink.upsertDocsToBranch]] — rewrites land at a fresh
    * generation, main untouched), then [[graft.sources.SnapshotSink.fastForward]].
    * Phase 0 reads HEAD BETWEEN the branch merge and the fast-forward: it must
    * digest-equal the ORIGINAL extraction (write isolation — a branch merge that
    * leaks into main flips phase-0 hashes). Phase 1 reads HEAD after the
    * fast-forward: it must digest-equal the merged table with `rewritten` = 1
    * exactly on touched base buckets (grouped by base id — the branch generation's
    * composite ids collapse under pmod). In-query louds pin what the flat table
    * can't: the branch pointer advanced and every rewrite landed off-generation. */
  private def snapshotBranch(s: SparkSession, dir: String): DataFrame = {
    val nb = SnapshotSink.DefaultBuckets
    val out = committedSnapshot(s, dir, "snapbranch", waveSize = nb) // v1
    SnapshotSink.branch(out, "audit", 1L)
    val report = SnapshotSink.upsertDocsToBranch(s, out, "audit", upsertUpdateSet(s, dir))
    require(SnapshotSink.branches(out)("audit") > 1L,
      "branch pointer must advance past the base version after a branch merge")
    require(report.rewrittenBuckets.forall(_ >= nb),
      "branch rewrites must land at a fresh generation, never at the base ids")
    val phase0 = contentAgg(SnapshotSink.readCommitted(s, out),
        col("bucket").cast("int"))
      .withColumn("phase", lit(0)).withColumn("rewritten", lit(0))
    val rwBases = report.rewrittenBuckets.map(b => java.lang.Long.valueOf(b % nb))
    SnapshotSink.fastForward(s, out, "audit")
    val phase1 = contentAgg(SnapshotSink.readCommitted(s, out),
        pmod(col("bucket").cast("long"), lit(nb.toLong)).cast("int"))
      .withColumn("phase", lit(1))
      .withColumn("rewritten",
        when(col("bucket").cast("long").isInCollection(rwBases), 1).otherwise(0))
    phase0.unionByName(phase1)
      .select(col("phase"), col("bucket"), col("rows_"), col("n_text"),
        col("n_media"), col("n_err"), col("content_md5"), col("rewritten"))
      .orderBy(col("phase"), col("bucket"))
  }

  /** Streamed ingest -> COMPACTION -> canonical generation, under the DuckDB gate:
    * commit the corpus as [[graft.functions.OracleSql.CompactBatches]] synthetic
    * stream micro-batches (ledger-allocated composite manifest ids `generation*nBuckets + bucket` — generation == batchId for this fresh sequential stream,
    * [[graft.sources.SnapshotSink.commitStreamBatch]]), then rewrite them into one
    * canonical generation ([[graft.sources.SnapshotSink.compact]]) and emit the
    * per-bucket lineage. The oracle predicts the merged per-base counts AND the
    * generation arithmetic — a rewrite that loses/duplicates rows, or mis-numbers
    * the new generation, hash-mismatches. The batch split key is a HASH of doc_id
    * (never `id % n` — composed moduli with the bucket key would skew the cells). */
  private def snapshotCompact(s: SparkSession, dir: String,
      tag: String = "snapcompact",
      layout: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    val nb = SnapshotSink.DefaultBuckets
    val out = freshDir(tag, dir)
    val docs = Interleave.materializedDocs(s, dir)
    val nBatches = OracleSql.CompactBatches
    (0 until nBatches).foreach { b =>
      // batch = the documents arriving in that micro-batch: filter BEFORE the OCR
      // island, so each document is extracted exactly once across all batches —
      // the cost shape of a real stream (filtering the extracted spans instead
      // would pay extraction nBatches times over the full corpus)
      SnapshotSink.commitStreamBatch(
        ExtractPipeline.extractFlat(
          docs.filter(pmod(hash(col("doc_id")), lit(nBatches)) === b)),
        out, b.toLong, nb)
    }
    SnapshotSink.compact(s, out, layout = layout)
    SnapshotSink.lineage(s, out)
      .select(pmod(col("bucket"), lit(nb.toLong)).cast("int").as("bucket"),
        floor(col("bucket") / nb).cast("int").as("generation"),
        col("rows").as("rows_"), col("n_spans"), col("n_err"))
      .orderBy(col("bucket"))
  }

  /** [[snapshotCompact]] with a Z-ORDER layout over (lang, offset) installed at
    * rewrite time ([[graft.operators.Layout.zval]]): SHARES snapshot_compact's
    * DuckDB oracle — byte-for-byte identical logical content under the gate IS the
    * proof that the layout key changes only the physical clustering; the pruning
    * win itself is executed-scan-metric evidence in SnapshotCompactSpec. */
  private def snapshotCompactSorted(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    snapshotCompact(s, dir, tag = "snapcompactz",
      layout = Seq(Layout.zval(Layout.langIdx(col("lang")),
        Layout.clamp16(col("offset")))))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction (flagship family) ------------------------------------------
    "interleave_spans" -> ((s, dir) =>
      Interleave.spansFlat(s, dir)
        .select(col("doc_id"), col("kind"), col("media_ref"), col("offset"), col("text"))
        .orderBy(col("doc_id"), col("offset"))),
    "ocr_extract" -> (ocrExtract(_, _)),
    "extract_docs" -> (extractDocs(_, _)),
    "extract_assembled" -> (extractAssembled(_, _)),
    "extract_metrics" -> (extractMetrics(_, _)),
    "span_metrics" -> (spanMetrics(_, _)),
    "snapshot_lineage" -> (snapshotLineage(_, _)),
    "snapshot_resume" -> (snapshotResume(_, _)),
    "snapshot_compact" -> (snapshotCompact(_, _)),
    "snapshot_compact_sorted" -> (snapshotCompactSorted(_, _)),
    "snapshot_timetravel" -> (snapshotTimetravel(_, _)),
    "snapshot_restore" -> (snapshotRestore(_, _)),
    "snapshot_vacuum" -> (snapshotVacuum(_, _)),
    "snapshot_expire" -> (snapshotExpire(_, _)),
    "snapshot_changes" -> (snapshotChanges(_, _)),
    "snapshot_takedown" -> (snapshotTakedown(_, _)),
    "snapshot_upsert" -> (snapshotUpsert(_, _)),
    "snapshot_branch" -> (snapshotBranch(_, _)),
    "hocr_words" -> ((s, dir) => {
      import graft.functions.HocrAlto
      ExtractPipeline.extractFlat(Interleave.docs(s, dir))
        .filter(col("kind") === "image" && col("ok"))
        .select(col("doc_id"), col("offset"),
          posexplode(HocrAlto.parseHocr(HocrAlto.toHocr(col("text")))))
        .select(col("doc_id"), col("offset"), col("pos").cast("int").as("word_idx"),
          col("col.word"), col("col.x0"), col("col.y0"), col("col.x1"),
          col("col.y1"), col("col.conf"))
        .orderBy(col("doc_id"), col("offset"), col("word_idx"))
    }),
    "alto_words" -> ((s, dir) => {
      import graft.functions.HocrAlto
      ExtractPipeline.extractFlat(Interleave.docs(s, dir))
        .filter(col("kind") === "image" && col("ok"))
        .select(col("doc_id"), col("offset"),
          posexplode(HocrAlto.parseAlto(HocrAlto.toAlto(col("text")))))
        .select(col("doc_id"), col("offset"), col("pos").cast("int").as("word_idx"),
          col("col.word"), col("col.hpos"), col("col.vpos"), col("col.width"),
          col("col.height"), col("col.wc"))
        .orderBy(col("doc_id"), col("offset"), col("word_idx"))
    }),
    "pdf_words" -> ((s, dir) => {
      import graft.functions.PdfLayout
      ExtractPipeline.extractFlat(Interleave.docs(s, dir))
        .filter(col("kind") === "image" && col("ok"))
        .select(col("doc_id"), col("offset"),
          posexplode(PdfLayout.parsePdf(PdfLayout.toPdf(col("text")))))
        .select(col("doc_id"), col("offset"), col("pos").cast("int").as("word_idx"),
          col("col.word"), col("col.line").as("line_idx"),
          col("col.col").as("col_idx"), col("col.x"), col("col.y"))
        .orderBy(col("doc_id"), col("offset"), col("word_idx"))
    }),
    // ---- training-data dedup family --------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Dedup.withExactCopies(documents(s, dir)))),
    "minhash_bands" -> ((s, dir) =>
      Dedup.minhashBands(Dedup.withMutants(documents(s, dir)))
        .orderBy(col("doc_id"), col("band"))),
    "neardup_pairs" -> ((s, dir) =>
      Dedup.neardupPairsCommitted(Dedup.withMutants(documents(s, dir)),
        sigDirFor(dir))),
    "simhash" -> ((s, dir) =>
      Dedup.simhash(Dedup.withMutants(documents(s, dir)))),
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.withMutants(documents(s, dir)))),
    "dedup_groups" -> ((s, dir) => Dedup.dedupGroups(documents(s, dir),
      Some(derivedDir(dir, "siggroup", Dedup.SigFormatVersion)))),
    "neardup_incremental" -> ((s, dir) => Dedup.neardupIncremental(
      documents(s, dir), Dedup.mutantsOnly(documents(s, dir)), sigBaseDirFor(dir))),
    "dedup_apply" -> ((s, dir) => Dedup.dedupApply(documents(s, dir),
      Some(derivedDir(dir, "siggroup", Dedup.SigFormatVersion)))),
    "window_dup" -> ((s, dir) =>
      Dedup.windowDupCommitted(Dedup.withMutants(documents(s, dir)),
        derivedDir(dir, "winhash", Dedup.WinFormatVersion))),
    // ---- reference API surface: languages, capabilities, lang-dim join -----------
    "lang_codes" -> ((s, _) => graft.sources.Languages.dim(s)
      .orderBy(col("lang_code"))),
    "capabilities" -> ((s, _) => graft.operators.Capabilities.table(s)),
    "lang_join" -> ((s, dir) => {
      val m = typedLit(graft.functions.OracleSqlRef.corpusToTess.toMap)
      val counts = documents(s, dir).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      counts
        .withColumn("lang_code", element_at(m, col("lang")))
        .join(broadcast(graft.sources.Languages.dim(s)
          .select(col("lang_code"), col("lang_name"))), Seq("lang_code"), "left")
        .select(col("lang"), col("lang_code"), col("lang_name"),
          col("n_docs"), col("n_chars"))
        .orderBy(col("lang"))
    }),
    // ---- multimodal media pipeline ------------------------------------------------
    "media_decode" -> ((s, dir) =>
      graft.operators.MediaPipeline.decode(Interleave.docs(s, dir))),
    "media_frames" -> ((s, dir) =>
      graft.operators.MediaPipeline.frames(Interleave.docs(s, dir))),
    "media_resize" -> ((s, dir) =>
      graft.operators.MediaPipeline.resizePlan(Interleave.docs(s, dir))),
    "media_features" -> ((s, dir) =>
      graft.operators.MediaPipeline.features(Interleave.docs(s, dir))),
    // ---- similarity search / embedding near-dup ----------------------------------
    "ann_topk" -> ((s, dir) => Similarity.annTopK(embeddings(s, dir))),
    "ann_lsh_pairs" -> ((s, dir) =>
      Similarity.annLshPairs(Similarity.withEmbMutants(embeddings(s, dir)))),
    "embed_neardup" -> ((s, dir) =>
      Similarity.embedNeardupAudit(Similarity.withEmbMutants(embeddings(s, dir)))),
    "ivf_topk" -> ((s, dir) => Similarity.ivfTopK(embeddings(s, dir))),
    "ivf_train" -> ((s, dir) => Similarity.ivfTrain(embeddings(s, dir))),
    "pq_train" -> ((s, dir) => Similarity.pqTrain(embeddings(s, dir))),
    "pq_encode" -> ((s, dir) =>
      Similarity.pqEncode(embeddings(s, dir), store = Some(pqDirFor(dir)))),
    "pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(embeddings(s, dir), store = Some(pqDirFor(dir)))),
    "ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(embeddings(s, dir), store = Some(pqDirFor(dir)))),
    "pq_drift" -> ((s, dir) =>
      Similarity.pqDrift(embeddings(s, dir), store = Some(pqDirFor(dir)))),
    "reembed_incremental" -> (reembedIncremental(_, _)),
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Similarity.withEmbMutants(embeddings(s, dir)))),
    "knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Similarity.withEmbMutants(embeddings(s, dir)))),
    // ---- sessionization (events table, window-function family) -------------------
    "sessionize" -> ((s, dir) => graft.operators.Sessions.sessionize(
      s.read.parquet(s"$dir/events.parquet"))),
    "asof_join" -> ((s, dir) => graft.operators.AsOf.asofJoin(
      s.read.parquet(s"$dir/events.parquet"))),
    "range_join" -> ((s, dir) => graft.operators.RangeJoin.rangeJoin(
      s.read.parquet(s"$dir/events.parquet"))),
    "zorder_key" -> ((s, dir) => graft.operators.Layout.zorderKey(documents(s, dir))),
    "pagerank" -> ((s, dir) => graft.operators.LinkGraph.pagerank(documents(s, dir))),
    "anchor_edges" -> ((s, dir) =>
      graft.operators.LinkGraph.anchorEdges(Interleave.spansFlat(s, dir))),
    "pagerank_anchors" -> ((s, dir) => graft.operators.LinkGraph.pagerankAnchors(
      documents(s, dir), Interleave.spansFlat(s, dir))),
    "event_rates" -> ((s, dir) => graft.operators.Sessions.eventRates(
      s.read.parquet(s"$dir/events.parquet"))),
    // ---- text analysis -----------------------------------------------------------
    "text_quality" -> ((s, dir) => TextAnalysis.quality(documents(s, dir))),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(documents(s, dir))),
    "token_stats" -> ((s, dir) => TextAnalysis.tokenStats(documents(s, dir))),
    "token_quantiles" -> ((s, dir) => TextAnalysis.tokenQuantiles(documents(s, dir))),
    "fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(documents(s, dir))),
    "normalize_text" -> ((s, dir) =>
      TextAnalysis.normalizeText(TextAnalysis.withUnicodeNoise(documents(s, dir)))),
    "lm_score" -> ((s, dir) => TextAnalysis.lmScore(documents(s, dir),
      modelStore = Some(derivedDir(dir, "lmmodel", TextAnalysis.LmFormatVersion)))),
    "classifier_score" -> ((s, dir) => TextAnalysis.classifierScore(documents(s, dir))),
    "bm25_topk" -> ((s, dir) => graft.operators.Retrieval.bm25TopK(documents(s, dir))),
    "dsir_weights" -> ((s, dir) => TextAnalysis.dsirWeights(documents(s, dir),
      // source model = the SAME committed artifact lm_score trains (shared key)
      sourceStore = Some(derivedDir(dir, "lmmodel", TextAnalysis.LmFormatVersion)),
      targetStore = Some(derivedDir(dir, "lmtarget", TextAnalysis.LmFormatVersion)))),
    "term_df" -> ((s, dir) => TextAnalysis.termDf(documents(s, dir))),
    "top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(documents(s, dir), tfStore = Some(tfDirFor(dir)))),
    // ---- training-data hygiene ----------------------------------------------------
    "repetition" -> ((s, dir) => graft.operators.Hygiene.repetition(documents(s, dir))),
    "decontaminate" -> ((s, dir) => graft.operators.Hygiene.decontaminate(documents(s, dir))),
    "decontaminate_bloom" -> ((s, dir) =>
      graft.operators.Hygiene.decontaminateBloom(documents(s, dir))),
    "pii_redact" -> ((s, dir) => graft.operators.Hygiene.piiRedact(
      graft.operators.Hygiene.withPii(documents(s, dir)))),
    // ---- corpus curation: mixing + quality funnel ----------------------------------
    "sample_stratified" -> ((s, dir) =>
      graft.operators.Curation.sampleStratified(documents(s, dir))),
    "source_quota" -> ((s, dir) =>
      graft.operators.Curation.sourceQuota(documents(s, dir))),
    "quality_filter" -> ((s, dir) =>
      graft.operators.Curation.qualityFilter(documents(s, dir))),
    "quality_funnel" -> ((s, dir) =>
      graft.operators.Curation.qualityFunnel(documents(s, dir))),
    "corpus_stats" -> ((s, dir) =>
      graft.operators.Curation.corpusStats(documents(s, dir))),
    "mix_budget" -> ((s, dir) =>
      graft.operators.Curation.tokenBudgetMix(documents(s, dir))),
    "mix_budget_stats" -> ((s, dir) =>
      graft.operators.Curation.tokenBudgetStats(documents(s, dir))),
    // ---- training export: sequence packing + the composed pipeline ------------------
    "seq_pack" -> ((s, dir) => graft.operators.Packing.seqPack(documents(s, dir))),
    "seq_pack_shuffled" -> ((s, dir) =>
      graft.operators.Packing.seqPackShuffled(documents(s, dir))),
    "curate_pipeline" -> ((s, dir) =>
      graft.operators.Curation.curatePipeline(documents(s, dir)))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "interleave_spans" -> OracleSql.interleaveSpans,
    "ocr_extract" -> OracleSql.ocrExtract,
    "extract_docs" -> OracleSql.extractDocs,
    "extract_assembled" -> OracleSql.extractAssembled,
    "extract_metrics" -> OracleSql.extractMetrics,
    "span_metrics" -> OracleSql.spanMetrics,
    "snapshot_lineage" -> OracleSql.snapshotLineage,
    "snapshot_resume" -> OracleSql.snapshotResume,
    "snapshot_compact" -> OracleSql.snapshotCompact,
    // identical logical content to snapshot_compact BY DESIGN (the z-order layout
    // key changes physical clustering only) — sharing the oracle IS the identity
    // proof under the gate, same move as decontaminate_bloom
    "snapshot_compact_sorted" -> OracleSql.snapshotCompact,
    "snapshot_timetravel" -> OracleSql.snapshotTimetravel,
    "snapshot_restore" -> OracleSql.snapshotRestore,
    "snapshot_vacuum" -> OracleSql.snapshotVacuum,
    "snapshot_expire" -> OracleSql.snapshotExpire,
    "snapshot_changes" -> OracleSql.snapshotChanges,
    "snapshot_takedown" -> OracleSql.snapshotTakedown,
    "snapshot_upsert" -> OracleSql.snapshotUpsert,
    "snapshot_branch" -> OracleSql.snapshotBranch,
    "hocr_words" -> OracleSql.hocrWords,
    "alto_words" -> OracleSql.altoWords,
    "pdf_words" -> OracleSql.pdfWords,
    "dedup_exact" -> OracleSqlDedup.dedupExact,
    "minhash_bands" -> OracleSqlDedup.minhashBands,
    "neardup_pairs" -> OracleSqlDedup.neardupPairs,
    "simhash" -> OracleSqlDedup.simhash,
    "simhash_pairs" -> OracleSqlDedup.simhashPairs,
    "dedup_groups" -> OracleSqlDedup.dedupGroups,
    "neardup_incremental" -> OracleSqlDedup.neardupIncremental,
    "dedup_apply" -> OracleSqlDedup.dedupApply,
    "window_dup" -> OracleSqlDedup.windowDup,
    "lang_codes" -> OracleSqlRef.langCodes,
    "capabilities" -> OracleSqlRef.capabilities,
    "lang_join" -> OracleSqlRef.langJoin,
    "media_decode" -> OracleSqlMedia.mediaDecode,
    "media_frames" -> OracleSqlMedia.mediaFrames,
    "media_resize" -> OracleSqlMedia.mediaResize,
    "media_features" -> OracleSqlMedia.mediaFeatures,
    "ann_topk" -> OracleSqlSim.annTopK,
    "ann_lsh_pairs" -> OracleSqlSim.annLshPairs,
    "embed_neardup" -> OracleSqlSim.embedNeardup,
    "ivf_topk" -> OracleSqlSim.ivfTopK,
    "ivf_train" -> OracleSqlSim.ivfTrain,
    "pq_train" -> OracleSqlSim.pqTrain,
    "pq_encode" -> OracleSqlSim.pqEncode,
    "pq_topk" -> OracleSqlSim.pqTopK,
    "ivfpq_topk" -> OracleSqlSim.ivfPqTopK,
    "pq_drift" -> OracleSqlSim.pqDrift,
    "reembed_incremental" -> OracleSqlSim.reembedIncremental,
    "semantic_dedup" -> OracleSqlSim.semanticDedup,
    "knn_graph" -> OracleSqlSim.knnGraph,
    "sessionize" -> OracleSqlRef.sessionize,
    "asof_join" -> OracleSqlRef.asofJoin,
    "range_join" -> OracleSqlRef.rangeJoin,
    "zorder_key" -> OracleSqlRef.zorderKey,
    "pagerank" -> graft.functions.OracleSqlGraph.pagerank,
    "anchor_edges" -> graft.functions.OracleSqlGraph.anchorEdges,
    "pagerank_anchors" -> graft.functions.OracleSqlGraph.pagerankAnchors,
    "event_rates" -> OracleSqlRef.eventRates,
    "text_quality" -> OracleSqlDedup.textQuality,
    "lang_id" -> OracleSqlDedup.langId,
    "token_stats" -> OracleSqlDedup.tokenStats,
    "token_quantiles" -> OracleSqlDedup.tokenQuantiles,
    "fingerprint" -> OracleSqlDedup.fingerprint,
    "normalize_text" -> graft.functions.OracleSqlText.normalizeText,
    "lm_score" -> graft.functions.OracleSqlText.lmScore,
    "classifier_score" -> graft.functions.OracleSqlText.classifierScore,
    "bm25_topk" -> graft.functions.OracleSqlText.bm25TopK,
    "dsir_weights" -> graft.functions.OracleSqlText.dsirWeights,
    "term_df" -> graft.functions.OracleSqlText.termDf,
    "top_terms" -> graft.functions.OracleSqlText.topTerms,
    "repetition" -> graft.functions.OracleSqlHygiene.repetition,
    "decontaminate" -> graft.functions.OracleSqlHygiene.decontaminate,
    // identical semantics to decontaminate BY DESIGN (Bloom tier adds no output
    // change) — sharing the oracle IS the identity proof under the gate
    "decontaminate_bloom" -> graft.functions.OracleSqlHygiene.decontaminate,
    "pii_redact" -> graft.functions.OracleSqlHygiene.piiRedact,
    "sample_stratified" -> graft.functions.OracleSqlCuration.sampleStratified,
    "source_quota" -> graft.functions.OracleSqlCuration.sourceQuota,
    "quality_filter" -> graft.functions.OracleSqlCuration.qualityFilter,
    "quality_funnel" -> graft.functions.OracleSqlCuration.qualityFunnel,
    "corpus_stats" -> graft.functions.OracleSqlCuration.corpusStats,
    "mix_budget" -> graft.functions.OracleSqlCuration.tokenBudgetMix,
    "mix_budget_stats" -> graft.functions.OracleSqlCuration.tokenBudgetStats,
    "seq_pack" -> graft.functions.OracleSqlCuration.seqPack,
    "seq_pack_shuffled" -> graft.functions.OracleSqlCuration.seqPackShuffled,
    "curate_pipeline" -> graft.functions.OracleSqlCuration.curatePipeline
  )
}
