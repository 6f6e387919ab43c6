package perfbench

import scala.collection.mutable

import graft.operators.{EngineConfig, EnginePool, ExtractPipeline, StandardMediaDecoder,
  TextClassifier}
import org.apache.spark.sql.functions._

/**
 * Per-layer metrics of a traced run. Two sources:
 *  - prefix runs on the workload's own documents table: scan, + `extractFlat`,
 *    the text branch alone, + `reassembleSorted`, and the full `extractAndReassemble`
 *    router; each layer's self time is the difference between adjacent prefixes;
 *  - the jobs the tracer's listener attached to the benchmark's spans.
 * Spark's executor input metrics do not count parquet column-chunk reads in this Spark
 * build, so scan bytes are the on-disk bytes of the table scanned.
 */
final class Layers(ctx: Ctx) {
  private val tr = ctx.tr
  private val spark = ctx.spark
  val out = mutable.LinkedHashMap.empty[String, Double]

  /** Prefix runs over `table` (a documents table, bucketed or not). */
  def prefixes(table: String, corpus: Corpus): Unit = {
    def docs = {
      val df = spark.read.parquet(table)
      if (df.columns.contains("bucket")) df.drop("bucket") else df
    }
    // each prefix runs `Passes` times and keeps its median: the cheap layers' self
    // times are differences of nearby numbers
    def timed(name: String)(body: => Unit): (Double, Seq[JobRec]) = {
      val s = Stats.median(Seq.fill(Layers.Passes)(ctx.timedCall(name)(body)._2))
      (s, tr.jobsUnder(tr.allSpans.filter(_.name == name).takeRight(1)))
    }
    val (scan, _) = timed("prefix.scan")(ctx.noop(docs))
    val (flatDf, flatObs) = ctx.observe(ExtractPipeline.extractFlat(docs),
      count(lit(1)).as("spans"),
      count(when(col("kind") === "image", 1)).as("media"),
      sum(when(col("kind") === "image", col("n_words"))).as("words"),
      count(when(col("kind") === "image" && !col("ok"), 1)).as("media_err"))
    val (flat, _) = timed("prefix.extractFlat")(ctx.noop(flatDf))
    def textSpans = docs.select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "text").select(col("s.text").as("raw"))
    val (textIn, _) = timed("prefix.textSpans")(ctx.noop(textSpans))
    val (textDf, textObs) = ctx.observe(
      textSpans.select(TextClassifier.classify(col("raw")).as("t")),
      count(lit(1)).as("spans"), count(when(col("t") === "", 1)).as("empty"))
    val (text, _) = timed("prefix.textBranch")(ctx.noop(textDf))
    val (sorted, _) = timed("prefix.reassembleSorted")(
      ctx.noop(ExtractPipeline.reassembleSorted(ExtractPipeline.extractFlat(docs))))
    val heavy = col("n_spans") > ExtractPipeline.SaltThreshold
    val (fullDf, fullObs) = ctx.observe(ExtractPipeline.extractAndReassemble(docs),
      count(lit(1)).as("docs"), sum(col("n_spans")).as("spans"),
      count(when(heavy, 1)).as("heavy"),
      sum(when(heavy, col("n_spans"))).as("heavy_spans"))
    val (full, fullJobs) = timed("prefix.extractAndReassemble")(ctx.noop(fullDf))

    ctx.expectEq("prefix extractFlat spans", ctx.long(flatObs, "spans"), corpus.spans)
    ctx.expectEq("prefix media spans", ctx.long(flatObs, "media"), corpus.mediaSpans)
    ctx.expectEq("prefix text spans", ctx.long(textObs, "spans"),
      corpus.spans - corpus.mediaSpans)
    ctx.expectEq("prefix documents", ctx.long(fullObs, "docs"), corpus.docs)
    ctx.expectEq("prefix heavy documents", ctx.long(fullObs, "heavy"), corpus.heavyDocs)

    val fullStages = tr.stagesOf(fullJobs)
    val reduce = fullStages.filter(_.shuffleRead > 0)
    out ++= Seq(
      "Interleave.scan_s" -> scan,
      "Interleave.bytes_read" -> Files2.bytes(java.nio.file.Paths.get(table)).toDouble,
      "extractFlat.self_s" -> (flat - scan),
      "extractFlat.spans" -> ctx.long(flatObs, "spans").toDouble,
      "OcrEngine.media_spans" -> ctx.long(flatObs, "media").toDouble,
      "OcrEngine.words" -> ctx.long(flatObs, "words").toDouble,
      "OcrEngine.error_spans" -> ctx.long(flatObs, "media_err").toDouble,
      "TextClassifier.self_s" -> (text - textIn),
      "TextClassifier.spans" -> ctx.long(textObs, "spans").toDouble,
      "TextClassifier.boilerplate_ratio" ->
        ctx.long(textObs, "empty").toDouble / math.max(1L, ctx.long(textObs, "spans")),
      "reassemble.self_s" -> (full - flat),
      "reassemble.sorted_self_s" -> (sorted - flat),
      "reassemble.heavy_docs" -> ctx.long(fullObs, "heavy").toDouble,
      "reassemble.heavy_span_share" ->
        ctx.long(fullObs, "heavy_spans").toDouble /
          math.max(1L, ctx.long(fullObs, "spans")),
      "reassemble.shuffle_bytes" -> fullStages.map(_.shuffleWrite).sum.toDouble,
      "reassemble.spill_bytes" -> fullStages.map(_.spill).sum.toDouble,
      "reassemble.task_skew" -> (if (reduce.isEmpty) 1.0 else reduce.map(_.skew).max))
    flatSeconds = flat
  }

  /** Seconds of the prefix `extractFlat` run, set by [[prefixes]]. */
  var flatSeconds = 0.0

  /** Single-thread decode + `recognize` over the media spans of a seeded document
    * sample, in microseconds per span (median of three passes). */
  def ocrSample(corpus: Corpus): Unit = {
    val ids = Workload.sample(corpus.ids, ctx.seed, 9L, 400)
    val tasks = ids.flatMap { d =>
      val doc = corpus.oracleDoc(d)
      doc.spans.filter(_.kind == "image").map(s => (doc.lang, s.media_ref))
    }
    val cfg = EngineConfig.default
    def pass(): Double = {
      val t0 = System.nanoTime()
      var words = 0L
      tasks.foreach { case (lang, ref) =>
        StandardMediaDecoder.decode(ref) match {
          case Right(payload) =>
            val eng = EnginePool.get(lang, cfg)
            if (eng.isGood) words += eng.recognize(payload).wordConfidences.length
          case Left(_) =>
        }
      }
      require(words >= 0)
      (System.nanoTime() - t0) / 1e3 / tasks.size
    }
    pass()
    out("OcrEngine.us_per_span") = Seq.fill(3)(pass()).sorted.apply(1)
    out("OcrEngine.engine_inits") = EnginePool.initCount.toDouble
  }

  /** Which commit-protocol step a job belongs to, from the innermost engine frame of
    * its call site: staged write, metrics re-read, md5 hash of published files, the
    * verify tier's re-hash (not reported: a fresh table has nothing to verify), or
    * something else. */
  private def step(j: JobRec): String = {
    val first = j.stack.linesIterator.nextOption().getOrElse("")
    if (first.contains("batchedFileStats"))
      if (j.stack.contains("commitWaveFlat")) "hash" else "verify"
    else if (first.contains("commitWaveFlat"))
      if (j.site.startsWith("collect")) "metrics_reread" else "stage_write"
    else "other"
  }

  /** Commit-protocol metrics over the jobs under `scope`; `run` is a
    * `SnapshotSink.run` span and `flat` the seconds of `extractFlat` alone on the
    * same input. */
  def commit(scope: Seq[SpanRec], run: SpanRec, filesWritten: Double,
      flat: Double): Unit = {
    val jobs = tr.jobsUnder(scope).sortBy(_.startMs)
    def sec(s: String) = jobs.filter(step(_) == s).map(_.seconds).sum
    def stages(s: String) = tr.stagesOf(jobs.filter(step(_) == s))
    // publish runs on the Spark driver, between a wave's metrics re-read and its hash job
    var publish = 0.0
    var lastReread: Option[JobRec] = None
    jobs.foreach { j =>
      step(j) match {
        case "metrics_reread" => lastReread = Some(j)
        case "hash" =>
          lastReread.foreach(r => publish += math.max(0L, j.startMs - r.endMs) / 1e3)
          lastReread = None
        case _ =>
      }
    }
    // Spark's input metrics count the hash job's binary reads but not parquet column
    // reads, so a metrics re-read is counted at the staged bytes it scans
    val written = stages("stage_write").map(_.outBytes).sum.toDouble
    val reread = stages("hash").map(_.inBytes).sum +
      (if (jobs.exists(step(_) == "metrics_reread")) written else 0.0)
    out ++= Seq(
      "SnapshotSink.run_s" -> run.seconds,
      "SnapshotSink.protocol_s" -> (run.seconds - flat),
      "SnapshotSink.stage_write_s" -> sec("stage_write"),
      "SnapshotSink.metrics_reread_s" -> sec("metrics_reread"),
      "SnapshotSink.hash_s" -> sec("hash"),
      "SnapshotSink.publish_s" -> publish,
      "SnapshotSink.bytes_written" -> written,
      "SnapshotSink.bytes_reread" -> reread,
      "SnapshotSink.reread_per_written" -> reread / math.max(1.0, written),
      "SnapshotSink.files_written" -> filesWritten,
      "SnapshotSink.jobs" -> jobs.size.toDouble)
  }

  /** Per-call seconds of a maintenance iteration, plus its rewrite and metadata
    * counts. */
  def maintain(iter: Seq[SpanRec], stats: collection.Map[String, Double]): Unit = {
    def secs(op: String) = iter.filter(_.name == s"SnapshotSink.$op").map(_.seconds).sum
    Layers.MaintainOps.foreach(op => out(s"SnapshotSink.${op}_s") = secs(op))
    Layers.ReadOps.foreach(op => out(s"SnapshotSink.${op}_s") = secs(op))
    out ++= Seq(
      "SnapshotSink.rows_rewritten_per_row_changed" ->
        stats("rows_rewritten") / math.max(1.0, stats("rows_changed")),
      "SnapshotSink.buckets_rewritten" -> stats("buckets_rewritten"),
      "meta.files" -> stats("meta.files"),
      "meta.bytes" -> stats("meta.bytes"),
      "meta.versions" -> stats("meta.versions"))
  }
}

object Layers {
  val Passes = 3
  val MaintainOps = Seq("branch", "upsertDocsToBranch", "verifySnapshotAtBranch",
    "fastForward", "dropBranch", "deleteDocs", "commitStreamBatch", "compact",
    "expireVersions", "vacuum")
  val ReadOps = Seq("readCommitted", "readCommittedAt", "readChangesBetween")
}
