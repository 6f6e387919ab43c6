package graft

import graft.model._
import graft.operators.{EngineConfig, EnginePool, ExtractPipeline, Oracle}
import graft.sources.Interleave
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The north-rule invariant: the distributed pipeline's per-document span sequence
 * (kind, text, media_ref, order) equals the single-threaded oracle's, for every document
 * — the ScalaTest re-expression of the reference's happy-path and error-path pytest
 * assertions (reference tests/test_reader.py:26-34, tests/test_basic.cpp:9-42,
 * tests/test_load_image.py:10-14; see SURVEY.md §5.2).
 */
class GoldenExtractionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def goldenByDoc(): Map[String, DocExtracted] = {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    rows.map { r =>
      val doc = Oracle.synthesize(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))
      doc.doc_id -> Oracle.extract(doc)
    }.toMap
  }

  test("synthesized corpus matches the oracle's synthesis (kind, text, media_ref, offset)") {
    val got = Interleave.spansFlat(spark, sfDir)
      .collect()
      .groupBy(_.getString(0))
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val doc = Oracle.synthesize(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))
      val exp = doc.spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref, s.offset))
      val act = got(doc.doc_id).sortBy(_.getInt(5))
        .map(x => (x.getString(2), x.getString(3), x.getString(4), x.getInt(5))).toSeq
      assert(act === exp, s"doc ${doc.doc_id}")
    }
  }

  test("pipeline output matches oracle extraction for EVERY document") {
    val golden = goldenByDoc()
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir)).collect()
    val byDoc = flat.groupBy(_.getString(0))
    assert(byDoc.keySet === golden.keySet)
    byDoc.foreach { case (docId, rows) =>
      val exp = golden(docId)
      val act = rows.sortBy(_.getAs[Int]("offset")).map { r =>
        (r.getAs[Int]("offset"), r.getAs[String]("kind"), r.getAs[String]("text"),
          r.getAs[String]("media_ref"))
      }.toSeq
      val expSpans = exp.spans.map(s => (s.offset, s.kind, s.text, s.media_ref))
      assert(act === expSpans, s"doc $docId span mismatch")
    }
  }

  test("re-assembled docs match oracle (spans array, ok, first error)") {
    val golden = goldenByDoc()
    val docsOut = ExtractPipeline.extractAndReassemble(Interleave.docs(spark, sfDir))
      .collect()
    assert(docsOut.length === golden.size)
    docsOut.foreach { r =>
      val exp = golden(r.getAs[String]("doc_id"))
      val act = r.getSeq[Row](r.fieldIndex("spans")).map(s =>
        (s.getAs[Int]("offset"), s.getAs[String]("kind"), s.getAs[String]("text"),
          s.getAs[String]("media_ref")))
      assert(act === exp.spans.map(s => (s.offset, s.kind, s.text, s.media_ref)),
        s"doc ${exp.doc_id}")
      assert(r.getAs[Boolean]("ok") === exp.ok, s"doc ${exp.doc_id} ok flag")
      assert(Option(r.getAs[String]("error")) === Option(exp.error),
        s"doc ${exp.doc_id} error")
      assert(r.getAs[Long]("n_spans") === exp.spans.size.toLong, s"doc ${exp.doc_id} n_spans")
    }
  }

  private def canonDocs(df: DataFrame) =
    df.select(col("doc_id"), to_json(col("spans")).as("s"), col("ok"),
        col("error"), col("n_spans"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        Option(r.getString(3)), r.getLong(4))).sortBy(_._1).toSeq

  test("re-assembly == oracle for any input partitioning and span order") {
    val expected = DocTuples.oracle(goldenByDoc().values)
    val docs = Interleave.docs(spark, sfDir)
    val reversed = docs.withColumn("spans", reverse(col("spans")))
    Seq(1, 7).foreach { n =>
      assert(DocTuples.of(ExtractPipeline.extractAndReassemble(docs.repartition(n)))
        === expected, s"$n partitions")
      assert(DocTuples.of(ExtractPipeline.extractAndReassemble(reversed.repartition(n)))
        === expected, s"$n partitions, reversed spans")
    }
  }

  test("extractAndReassemble == reassembleSorted(extractFlat) == oracle") {
    val docs = Interleave.docs(spark, sfDir)
    val out = ExtractPipeline.extractAndReassemble(docs)
    assert(canonDocs(out)
      === canonDocs(ExtractPipeline.reassembleSorted(ExtractPipeline.extractFlat(docs))))
    assert(DocTuples.of(out) === DocTuples.oracle(goldenByDoc().values))
  }

  test("5000-span mega-document re-assembles exactly (spans, ok, error, n_spans)") {
    // the heavy-tail shape: one document far past SaltThreshold, interleaved
    // text/media, lands in one reducer and must reassemble bit-identically to the oracle
    val spans = (0 until 5000).map { i =>
      if (i % 2 == 0) Span("text", s"<nav>n</nav><p>w$i</p><a href=\"u\">m</a>", null, i)
      else Span("image", null, s"m-9$i-$i", i)
    }
    val doc = Doc("doc-mega", "en", spans)
    import spark.implicits._
    val out = ExtractPipeline.extractAndReassemble(Seq(doc).toDS().toDF()).collect()
    assert(out.length === 1)
    val row = out(0)
    assert(row.getAs[Long]("n_spans") === 5000L)
    val exp = Oracle.extract(doc)
    val act = row.getSeq[Row](row.fieldIndex("spans")).map(s =>
      (s.getAs[Int]("offset"), s.getAs[String]("kind"), s.getAs[String]("text"),
        s.getAs[String]("media_ref")))
    assert(act === exp.spans.map(s => (s.offset, s.kind, s.text, s.media_ref)))
    assert(row.getAs[Boolean]("ok") === exp.ok)
    assert(Option(row.getAs[String]("error")) === Option(exp.error))
  }

  test("archetype semantics: bad engine => empty text, not a failure") {
    // 'zh' has no traineddata in the default inventory (EngineConfig.default)
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
    val zhMedia = flat.filter(col("lang") === "zh" && col("kind") === "image"
      && !col("media_ref").startsWith("missing-")).collect()
    assert(zhMedia.nonEmpty)
    zhMedia.foreach { r =>
      assert(r.getAs[String]("text") === "") // "" not null: reader2.cpp:37-39
      assert(!r.getAs[Boolean]("ok"))
      assert(r.getAs[String]("error") === "engine not initialized: zh")
    }
  }

  test("archetype semantics: unresolvable media_ref => error span, job completes") {
    val flat = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir))
    val bad = flat.filter(col("media_ref").startsWith("missing-")).collect()
    assert(bad.nonEmpty)
    bad.foreach { r =>
      assert(r.getAs[String]("text") === "")
      assert(r.getAs[String]("error")
        === "Unable to load " + r.getAs[String]("media_ref"))
    }
  }

  test("engine pool initializes once per (config, lang), not per row") {
    EnginePool.reset()
    val n = ExtractPipeline.extractFlat(Interleave.docs(spark, sfDir)).count()
    assert(n > 0)
    // local mode: one JVM, so inits <= number of distinct languages in the corpus
    assert(EnginePool.initCount <= 5, s"pool inits = ${EnginePool.initCount}")
  }

  test("decode precedence: bad ref on a bad-engine doc still reports the load error") {
    // mirrors Reader2::get_ocr = load THEN recognize (reader2.cpp:31-34)
    val doc = Doc("doc-x", "zh", Seq(Span("image", null, "missing-x", 1)))
    val out = Oracle.extract(doc)
    assert(out.spans.head.text === "")
    assert(out.error === "Unable to load missing-x")
  }

  test("osd unavailable blocks every language (reader.py:28-30 semantics)") {
    val cfg = EngineConfig(Set("en"), osdAvailable = false)
    val doc = Doc("doc-y", "en", Seq(Span("image", null, "m-1-0", 1)))
    val out = Oracle.extract(doc, cfg)
    assert(out.spans.head.text === "")
    assert(out.error === "engine not initialized: en")
  }

  test("unknown span kinds surface as error spans on BOTH the pipeline and the oracle") {
    import spark.implicits._
    // a kind the engine does not know must produce an empty error span, never a
    // silent omission (the oracle's contract; a dropped span would also break the
    // n_doc_spans re-assembly invariant)
    val doc = Doc("doc-0000000000001", "en", Seq(
      Span("text", "<p>hello world</p>", null, 0),
      Span("table", null, "m-1-0", 1)))
    val golden = Oracle.extract(doc)
    assert(!golden.ok && golden.error === "unknown span kind: table")

    val got = ExtractPipeline.extractFlat(Seq(doc).toDS().toDF())
      .orderBy(col("offset"))
      .select(col("offset"), col("kind"), col("text"), col("media_ref"),
        col("ok"), col("error"))
      .collect()
    assert(got.length === golden.spans.length)
    golden.spans.zip(got).foreach { case (g, r) =>
      assert((r.getInt(0), r.getString(1), r.getString(2), r.getString(3))
        === (g.offset, g.kind, g.text, g.media_ref))
    }
    val unknownRow = got.find(_.getString(1) === "table").get
    assert(!unknownRow.getBoolean(4)
      && unknownRow.getString(5) === "unknown span kind: table")
  }
}
