package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthesis of the interleaved-document input table
 * (doc_id, lang, spans:array<struct<kind,text,media_ref,offset>>) from the driver's
 * `documents.parquet` (doc_id:int64, text, lang, source, n_chars).
 *
 * Everything here is a pure function of (doc_id, text, lang, source, n_chars) built from
 * codegen'd Catalyst expressions (sequence/transform/concat/substr) — no UDF, no RNG, no
 * clock — so the same table can be reproduced exactly by the DuckDB oracle SQL in
 * [[graft.functions.OracleSql]]. The synthesis knobs mirror the reference's five Catch2
 * fixture archetypes (reference tests/CMakeLists.txt:3-7, see FIXTURES.md §3):
 *
 *  - text spans carry boilerplate-wrapped markup (nav/heading/paragraph/anchor/footer);
 *  - every 23rd doc's last text span is a pure link-farm (boilerplate-only archetype);
 *  - media spans reference synthetic payloads; every 41st doc's first media_ref is
 *    unresolvable ("invalid image" archetype, tests/test_load_image.py:10-14);
 *  - 'zh' documents route to a language with no traineddata ("bad engine" archetype,
 *    tests/test_basic.cpp:31-42);
 *  - every 37th doc has +24 media spans — the heavy-tailed "multi-page" skew population
 *    (benchmarks report it as the docs above ExtractPipeline.SaltThreshold spans).
 */
object Interleave {

  /** Text-span count per doc: 2..4. */
  private def kText(d: Column): Column = lit(2) + d % 3
  /** Media-span count per doc: 1..4, +24 for the skew tail (every 37th doc). */
  private def kMedia(d: Column): Column =
    lit(1) + d % 4 + when(d % 37 === 0, 24).otherwise(0)

  /** The interleaved docs table. `replicate` > 1 unions deterministic copies with
    * distinct doc_ids (bench-only; never used by verified queries). */
  def docs(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val src =
      if (replicate <= 1) base
      else {
        // doc-id space per replica is shifted by a constant stride; content identical.
        // Parallelism comes from a partitioned `range` of replica indices crossed with
        // the BROADCAST base table: no serial explode task, no shuffle of document text
        // — every task synthesizes its replicas locally. (A K-way union would bloat the
        // plan; explode-then-repartition would funnel all K copies through the source
        // file's single split first.)
        val n = 10000000L
        // the stride is an enforced invariant, not an assumption: a base corpus
        // with ids >= n would alias replica id spaces — two unrelated documents
        // sharing one doc_id, spans of both merged by re-assembly, silently
        val maxId = base.agg(max(col("doc_id"))).head.getLong(0)
        require(maxId < n,
          s"replicate > 1 needs base doc_ids < $n (replica stride); found $maxId")
        spark.range(0, replicate, 1, spark.sparkContext.defaultParallelism * 2)
          .toDF("r")
          .crossJoin(broadcast(base))
          .select((col("doc_id") + col("r") * n).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
      }
    fromDocuments(src)
  }

  /** Synthesis proper, from any DataFrame with the documents.parquet schema. */
  def fromDocuments(documents: DataFrame): DataFrame = {
    val d = col("doc_id")
    val kt = kText(d)
    val km = kMedia(d)
    // chunk length: integer floor(n_chars / kt); n_chars >= 48 in the corpus but guard
    // against degenerate rows anyway.
    val cl = greatest(lit(1L), floor(col("n_chars") / kt))

    val textSpans = transform(
      sequence(lit(0L), kt - 1),
      i => {
        val raw = col("text").substr((lit(1L) + i * cl).cast("int"), cl.cast("int"))
        val markup = when(
          i === kt - 1 && d % 23 === 0,
          // link-farm archetype: anchors only => link density 1.0 => boilerplate
          concat(
            lit("<ul><a href=\"u0\">"), raw,
            lit("</a><a href=\"u1\">nav menu</a></ul>"))
        ).otherwise(
          concat(
            lit("<nav>menu "), col("source"),
            lit("</nav><h1>s"), i.cast("string"),
            lit("</h1><p>"), raw,
            lit("</p><a href=\"u"), d.cast("string"),
            lit("\">more</a><footer>(c) "), col("source"), lit("</footer>"))
        )
        struct(
          lit("text").as("kind"),
          markup.as("text"),
          lit(null).cast("string").as("media_ref"),
          (i * 2).cast("int").as("offset"))
      }
    )

    val mediaSpans = transform(
      sequence(lit(0L), km - 1),
      j => {
        val ref = when(
          d % 41 === 0 && j === 0,
          concat(lit("missing-"), d.cast("string"))
        ).otherwise(
          concat(lit("m-"), d.cast("string"), lit("-"), j.cast("string")))
        struct(
          lit("image").as("kind"),
          lit(null).cast("string").as("text"),
          ref.as("media_ref"),
          (j * 2 + 1).cast("int").as("offset"))
      }
    )

    // two selects: the spans expressions must resolve doc_id against the INPUT (int64),
    // not the output alias (lateral column alias resolution would otherwise bind the
    // lambda's doc_id reference to the renamed string column).
    documents
      .select(col("doc_id"), col("lang"), concat(textSpans, mediaSpans).as("spans"))
      .select(docIdStr(d).as("doc_id"), col("lang"), col("spans"))
  }

  /**
   * The synthesized corpus MATERIALIZED as a parquet table — the bench/scale entry
   * point. The engine's real input contract is an Iceberg-style TABLE (BASELINE.json
   * `input_hint`), so at measurement time the pipeline must start at a columnar scan:
   * (a) that is what production does, (b) a live synthesis expression is re-evaluated
   * by every consumer above it (explode's implicit size>0 filter alone doubles it),
   * polluting any throughput number, and (c) only a real scan exercises nested-schema
   * pruning (each branch reads only its span fields). Written once per
   * (sfDir, replicate) under java.io.tmpdir; subsequent calls just scan.
   */
  def materializedDocs(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame =
    materialize(spark, sfDir, s"-r$replicate") { tmp =>
      docs(spark, sfDir, replicate).write.mode("overwrite").parquet(tmp.toString)
    }

  /**
   * The corpus materialized PARTITIONED BY the snapshot bucket key
   * (`bucket = `[[graft.sources.SnapshotSink.bucketOf]]`(doc_id, nBuckets)`) — the
   * layout a production deployment uses so [[graft.sources.SnapshotSink.run]]'s
   * wave/resume filters prune AT THE SCAN (`PartitionFilters` in the plan) instead of
   * re-scanning the full input every wave. At 100 TB with W waves the unpartitioned
   * layout costs W full corpus scans, and a 99%-committed resume still reads 100 TB;
   * this layout reads exactly the uncommitted buckets' bytes (VERDICT r2 top item).
   * SnapshotResumeSpec asserts the pruning and the output equality vs the
   * unpartitioned path.
   */
  def materializedDocsBucketed(spark: SparkSession, sfDir: String,
      nBuckets: Int = 8, replicate: Int = 1): DataFrame =
    materialize(spark, sfDir, s"-r$replicate-b$nBuckets") { tmp =>
      docs(spark, sfDir, replicate)
        .withColumn("bucket", SnapshotSink.bucketOf(col("doc_id"), nBuckets))
        .write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    }

  /** Shared write-once-then-scan materialization. Cache key = full escaped path +
    * variant (replicate/bucketing knobs) + a content fingerprint of the source
    * parquet (sizes + mtimes). A stale or colliding cache would silently serve the
    * wrong corpus to every bench number downstream, so the key is collision-proof by
    * construction (no bare hashCode) and invalidates when the source changes. */
  private def materialize(spark: SparkSession, sfDir: String, variant: String)(
      write: java.nio.file.Path => Unit): DataFrame = {
    val srcFp = sourceFingerprint(java.nio.file.Paths.get(sfDir, "documents.parquet"))
    val tag = (sfDir.replaceAll("[^A-Za-z0-9._-]", "_") + variant
      + "-" + srcFp).takeRight(120)
    val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"graft-corpus-$tag")
    if (!java.nio.file.Files.exists(path.resolve("_SUCCESS"))) {
      // write to a temp sibling, then atomic-rename into place: concurrent first
      // callers race to the rename, never to a half-written directory.
      val tmp = java.nio.file.Files.createTempDirectory(
        path.getParent, s"graft-corpus-$tag.")
      write(tmp)
      try java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException
            | _: java.nio.file.AccessDeniedException
            | _: java.nio.file.DirectoryNotEmptyException =>
          // another caller won the race; use theirs
          graft.sources.SnapshotSink.deleteRecursively(tmp)
      }
    }
    spark.read.parquet(path.toString)
  }

  /** Cheap content fingerprint of a parquet file/dir: md5 over (name, size, mtime)
    * of every regular file under it — metadata-only, no byte reads. Shared with
    * SparkEntry's committed-signature-table directory keying. */
  private[graft] def sourceFingerprint(p: java.nio.file.Path): String = {
    import scala.jdk.CollectionConverters._
    require(java.nio.file.Files.exists(p),
      s"corpus source parquet not found: $p (expected <sfDir>/documents.parquet)")
    val md = java.security.MessageDigest.getInstance("MD5")
    val files =
      if (java.nio.file.Files.isDirectory(p)) {
        val stream = java.nio.file.Files.walk(p)
        try stream.iterator().asScala.toSeq
          .filter(java.nio.file.Files.isRegularFile(_)).sortBy(_.toString)
        finally stream.close()
      } else Seq(p)
    files.foreach { f =>
      md.update(f.toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.size(f).toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.getLastModifiedTime(f).toMillis.toString
        .getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** Fixed width of the numeric part of a doc_id: 13 digits covers the 10^12-document
    * id space of the north rule AND every replicated bench id (replica stride 10^7 x
    * replicate <= 10^4 => max id < 10^12). Width matters because `lpad` TRUNCATES
    * longer inputs — a narrower pad silently collapses distinct ids onto one string. */
  val DocIdDigits = 13

  /** 'doc-0000000000042' — fixed 13-digit pad, so lexicographic order == numeric order
    * and range partitioning / resume pruning on the string key behave like on the
    * numeric key. Guarded against lpad truncation: any id wider than [[DocIdDigits]]
    * digits would silently collide, so it is rejected at synthesis time. */
  def docIdStr(d: Column): Column = {
    val s = d.cast("string")
    val padded = lpad(s, DocIdDigits, "0")
    // assert_true returns NULL on pass; raises on an id that would truncate.
    val guarded = when(length(s) <= DocIdDigits, padded)
      .otherwise(raise_error(concat(lit("doc_id exceeds DocIdDigits: "), s)))
    concat(lit("doc-"), guarded)
  }

  /** Exploded (flat) form: doc_id, lang, kind, text, media_ref, offset. */
  def spansFlat(spark: SparkSession, sfDir: String, replicate: Int = 1): DataFrame =
    docs(spark, sfDir, replicate)
      .select(col("doc_id"), col("lang"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("lang"), col("s.kind"), col("s.text"),
        col("s.media_ref"), col("s.offset"))
}
