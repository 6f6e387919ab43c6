package graft.operators

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * The flagship operator: interleaved documents -> extracted span sequences.
 *
 * Plan shape (all declarative except the OCR island and the re-assembly group):
 *
 * {{{
 *   docs(doc_id, lang, spans)
 *     |- explode(kind, media_ref, offset) -- kind<>'text' --> typed mapPartitions over
 *     |      per-executor EnginePool (OCR island; non-image kinds -> error spans)
 *     |- explode(kind, text, offset) -- kind='text' --> TextClassifier (pure Catalyst,
 *     |      whole-stage codegen)
 *     \- unionByName --> repartition(doc_id) --> sortWithinPartitions --> groupSorted
 * }}}
 *
 * [[extractAndReassemble]] is exactly `reassembleSorted(extractFlat(docs))`: two scans
 * of the input (one per branch), one OCR island, one shuffle, one group iterator.
 *
 * Scale notes (designed for 10^12 docs / 1000 executors, tested on local[32]):
 *  - The branch split means two scans of the input; with nested-schema pruning
 *    (spark.sql.optimizer.nestedSchemaPruning.enabled, on by default) the media branch
 *    reads only (doc_id, lang, spans.kind, spans.media_ref, spans.offset) and the text
 *    branch only (..., spans.text, spans.offset) — each scan is narrower than one fused
 *    row-mapper pass would be, and the text branch keeps whole-stage codegen which a
 *    fused mapPartitions over all spans would forfeit.
 *  - The flat form has NO shuffle: explode, filter, mapPartitions and union are all
 *    narrow. The doc form adds exactly one: the doc_id repartition of
 *    [[reassembleSorted]], which moves every span across the wire once.
 *  - `lang` rides through the typed boundary inside the task row, so no join is needed
 *    to restore document metadata after OCR.
 *  - Engine init happens once per (executor JVM, language) via [[EnginePool]], mirroring
 *    the reference's one TessBaseAPI::Init per Reader (uiucprescon/ocr/reader2.cpp:16).
 *
 * Skew note: the expensive work (decode + OCR) sits UPSTREAM of the shuffle, in the
 * narrow island, where a multi-page document's spans spread over the scan's tasks like
 * any other rows; no re-assembly salt touches it. After the shuffle a heavy document
 * lands in one reducer, which streams its rows through an unsafe-row sort (spilling if
 * needed) and builds its one output row — the same row a salted aggregation's final
 * stage must build too, so a salt would buy a second shuffle of the tail, not a smaller
 * reducer.
 */
object ExtractPipeline {

  /** Span count above which a document counts as heavy (multi-page) when benchmarks
    * report the skew tail. Re-assembly does not route on it: every document takes
    * the same sort-based path. */
  val SaltThreshold = 16

  /** Flat extraction: one row per span, schema (doc_id, lang, n_doc_spans, offset,
    * kind, text, media_ref, ok, error, n_words, conf_sum). */
  def extractFlat(docs: DataFrame, config: EngineConfig = EngineConfig.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // Each branch explodes an arrays_zip of ONLY the subfield arrays it consumes.
    // This shape is deliberate: `explode(spans)` with doc_id/lang carried alongside
    // defeats generator nested-column aliasing (the scan then reads the FULL span
    // struct in both branches), whereas projecting the subfield arrays first makes
    // pruning a plain projection case — the media branch's scan never reads
    // spans.text (the bulk of the bytes at web scale) and the text branch never
    // reads spans.media_ref. Verify with PlanAudit: per-branch ReadSchema.
    // n_doc_spans likewise counts the `kind` subfield, not size(spans).
    def explodedWith(third: String): DataFrame = docs
      .select(col("doc_id"), col("lang"),
        arrays_zip(col("spans.kind").as("kind"), col(s"spans.$third").as(third),
          col("spans.offset").as("offset")).as("zs"))
      .select(col("doc_id"), col("lang"), size(col("zs")).as("n_doc_spans"),
        explode(col("zs")).as("s"))
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("s.kind"),
        col(s"s.$third"), col("s.offset"))

    val explodedMedia = explodedWith("media_ref")
    val explodedText = explodedWith("text")

    // ---- media branch: the OCR island -------------------------------------------
    // Every non-text span enters the island. Kinds other than image become EMPTY error
    // spans there ("unknown span kind: ..."), Oracle.extract's contract — never a
    // silent omission, which would also drop the span from its document's n_spans.
    val mediaTasks: Dataset[MediaTaskL] = explodedMedia
      .filter(col("kind") =!= "text")
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"), col("kind"),
        col("media_ref"))
      .as[MediaTaskL]

    val ocrResults: Dataset[OcrSpanWithLang] = mediaTasks.mapPartitions { it =>
      // decode memo: load-once/read-many within a partition, the distributed analogue of
      // Reader.read_image vs Reader.read (uiucprescon/ocr/reader.py:52-75).
      val memo = new java.util.LinkedHashMap[String, Either[String, Array[Byte]]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Either[String, Array[Byte]]]): Boolean = size > 256
      }
      it.map(t => ocrOne(t, config, memo))
    }

    val mediaOut = ocrResults.toDF()
      .select(col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"), col("kind"),
        col("text"), col("media_ref"), col("ok"), col("error"), col("n_words"),
        col("conf_sum"))

    // ---- text branch: pure Catalyst ----------------------------------------------
    val textOut = explodedText
      .filter(col("kind") === "text")
      .select(
        col("doc_id"), col("lang"), col("n_doc_spans"), col("offset"), col("kind"),
        TextClassifier.classify(col("text")).as("text"),
        lit(null).cast("string").as("media_ref"),
        lit(true).as("ok"),
        lit(null).cast("string").as("error"),
        lit(0).as("n_words"),
        lit(0.0).as("conf_sum"))

    mediaOut.unionByName(textOut)
  }

  /** OCR one media task. A kind other than image is an error span without a decode.
    * Decode runs BEFORE the engine-goodness check, mirroring
    * Reader2::get_ocr = load THEN get_ocr_from_image (uiucprescon/ocr/reader2.cpp:31-34):
    * a bad file errors even when the engine is bad. */
  private def ocrOne(
      t: MediaTaskL,
      config: EngineConfig,
      memo: java.util.Map[String, Either[String, Array[Byte]]]): OcrSpanWithLang = {
    def failed(err: String) = OcrSpanWithLang(t.doc_id, t.lang, t.n_doc_spans, t.offset,
      t.kind, "", t.media_ref, ok = false, err, 0, 0.0)
    if (t.kind != "image") failed("unknown span kind: " + t.kind)
    else {
      val eng = EnginePool.get(t.lang, config)
      memo.computeIfAbsent(t.media_ref, StandardMediaDecoder.decode(_)) match {
        case Left(err) => failed(err)
        case Right(payload) =>
          if (!eng.isGood) failed("engine not initialized: " + t.lang)
          else {
            val page = eng.recognize(payload)
            OcrSpanWithLang(t.doc_id, t.lang, t.n_doc_spans, t.offset, "image", page.text,
              t.media_ref, ok = true, null, page.wordConfidences.length,
              page.wordConfidences.sum)
          }
      }
    }
  }

  /** Extract + re-assemble: per-document span sequences (doc_id, spans, ok, error,
    * n_spans). The one re-assembly path; see the object scaladoc for the plan shape. */
  def extractAndReassemble(
      docs: DataFrame, config: EngineConfig = EngineConfig.default): DataFrame =
    reassembleSorted(extractFlat(docs, config))

  /**
   * Sort-based re-assembly of a flat span stream: one repartition on doc_id, an
   * in-partition sort over compact binary rows (SortExec, cache-friendly, no per-group
   * buffers), then a streaming group iterator that emits each document as its rows
   * stream past. Spans come out in (offset, kind, text, media_ref) order; `ok` is the
   * AND over spans and `error` the first error by (offset, error). A collect_list
   * aggregation would allocate a buffer per group and copy every span into it — at
   * high core counts that allocation rate saturates the collector, while this sort
   * runs on unsafe rows with near-zero garbage.
   */
  def reassembleSorted(flat: DataFrame): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    flat
      .select(col("doc_id"), col("offset"), col("kind"),
        coalesce(col("text"), lit("")).as("text"), col("media_ref"), col("ok"),
        col("error"))
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("offset"), col("kind"), col("text"),
        col("media_ref"))
      .as[FlatSpanRow]
      .mapPartitions(groupSorted)
      .toDF()
  }

  /** Streaming group-by over doc_id-sorted rows. */
  private def groupSorted(it: Iterator[FlatSpanRow]): Iterator[ReassembledDoc] =
    new Iterator[ReassembledDoc] {
      private val buf = it.buffered
      def hasNext: Boolean = buf.hasNext
      def next(): ReassembledDoc = {
        val docId = buf.head.doc_id
        val spans = Vector.newBuilder[graft.model.OutSpan]
        var ok = true
        var err: (Int, String) = null
        var n = 0L
        while (buf.hasNext && buf.head.doc_id == docId) {
          val r = buf.next()
          spans += graft.model.OutSpan(r.offset, r.kind, r.text, r.media_ref)
          if (!r.ok) ok = false
          if (r.error != null) {
            val cand = (r.offset, r.error)
            // first error by (offset, error)
            if (err == null || cand._1 < err._1 || (cand._1 == err._1 && cand._2 < err._2))
              err = cand
          }
          n += 1
        }
        ReassembledDoc(docId, spans.result(), ok, if (err == null) null else err._2, n)
      }
    }
}

/** Input row of the sort-based re-assembly (post-coalesce: text is never null). */
final case class FlatSpanRow(
    doc_id: String, offset: Int, kind: String, text: String, media_ref: String,
    ok: Boolean, error: String)

/** Output row of the sort-based re-assembly. */
final case class ReassembledDoc(
    doc_id: String, spans: Seq[graft.model.OutSpan], ok: Boolean, error: String,
    n_spans: Long)

/** Typed unit of work for the OCR island, with document lang and the document's span
  * count riding along. */
final case class MediaTaskL(
    doc_id: String, lang: String, n_doc_spans: Int, offset: Int, kind: String,
    media_ref: String)

/** OCR result carrying lang + span count through the typed boundary (no re-join). */
final case class OcrSpanWithLang(
    doc_id: String,
    lang: String,
    n_doc_spans: Int,
    offset: Int,
    kind: String,
    text: String,
    media_ref: String,
    ok: Boolean,
    error: String,
    n_words: Int,
    conf_sum: Double)
