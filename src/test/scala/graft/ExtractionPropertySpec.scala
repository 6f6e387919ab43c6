package graft

import graft.model._
import graft.operators.{ExtractPipeline, Oracle}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * ScalaCheck-generated properties (SURVEY.md §5.2), driven with fixed seeds (the
 * scalatest+scalacheck bridge is not in the offline cache, so Gen is sampled directly):
 * the pipeline is a permutation-free identity on (kind, media_ref, offset); output is
 * invariant to input partitioning and span order; the union of the media/text branch
 * outputs partitions the span set exactly.
 */
class ExtractionPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val genSpan: Gen[Span] = for {
    kind <- Gen.oneOf("text", "image")
    txt <- Gen.oneOf(
      "<p>plain body</p>",
      "<nav>m</nav><p>hello world</p><a href=\"u\">more</a>",
      "<ul><a href=\"u0\">all link</a></ul>",
      "no tags at all",
      "")
    ref <- Gen.oneOf("m-1-0", "m-2-9", "missing-7", "m-xyz")
  } yield
    if (kind == "text") Span("text", txt, null, 0)
    else Span("image", null, ref, 0)

  private val genDoc: Gen[Doc] = for {
    id <- Gen.choose(0, 999999)
    lang <- Gen.oneOf("en", "fr", "zh", "xx")
    nSpans <- Gen.choose(1, 12)
    spans <- Gen.listOfN(nSpans, genSpan)
  } yield Doc(f"doc-$id%06d", lang,
    spans.zipWithIndex.map { case (s, i) => s.copy(offset = i) })

  private def sampleDocs(seed: Long, n: Int): Seq[Doc] =
    Gen.listOfN(n, genDoc).pureApply(Gen.Parameters.default, Seed(seed))
      .groupBy(_.doc_id).values.map(_.head).toSeq // unique ids

  private def runPipeline(docs: Seq[Doc], partitions: Int): Map[String, Seq[(Int, String, String, String)]] = {
    val df = spark.createDataset(docs).repartition(partitions).toDF()
    ExtractPipeline.extractFlat(df).collect()
      .groupBy(_.getAs[String]("doc_id"))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getAs[Int]("offset")).map(r =>
          (r.getAs[Int]("offset"), r.getAs[String]("kind"), r.getAs[String]("text"),
            r.getAs[String]("media_ref"))).toSeq
      }
  }

  test("pipeline == oracle on arbitrary docs, invariant to partitioning and span order") {
    (1L to 6L).foreach { seed =>
      val docs = sampleDocs(seed, 8)
      val expected = docs.map { d =>
        d.doc_id -> Oracle.extract(d).spans.map(s => (s.offset, s.kind, s.text, s.media_ref))
      }.toMap
      assert(runPipeline(docs, 1) === expected, s"seed $seed, 1 partition")
      // reversing span order within the array and fanning out to 7 partitions must not
      // change the output sequence
      assert(runPipeline(docs.map(d => d.copy(spans = d.spans.reverse)), 7) === expected,
        s"seed $seed, reversed spans, 7 partitions")
    }
  }

  test("branch outputs partition the span set (no loss, no duplication)") {
    (10L to 13L).foreach { seed =>
      val docs = sampleDocs(seed, 10)
      val flat = ExtractPipeline.extractFlat(spark.createDataset(docs).toDF())
      val nIn = docs.map(_.spans.size).sum
      assert(flat.count() === nIn, s"seed $seed")
      val keys = flat.select(col("doc_id"), col("offset")).collect()
        .map(r => (r.getString(0), r.getInt(1)))
      assert(keys.distinct.length === keys.length, s"seed $seed")
    }
  }

  private def reassembled(docs: Seq[Doc], partitions: Int) = DocTuples.of(
    ExtractPipeline.extractAndReassemble(
      spark.createDataset(docs).repartition(partitions).toDF()))

  private def oracle(docs: Seq[Doc]) = DocTuples.oracle(docs.map(Oracle.extract(_)))

  test("giant document (5000 spans) re-assembles exactly vs the oracle") {
    // far above SaltThreshold: one reducer streams the whole document
    val spans = (0 until 5000).map { i =>
      if (i % 3 == 0) Span("image", null, if (i % 41 == 0) s"missing-$i" else s"m-9-$i", i)
      else Span("text", s"<p>body $i</p><a href=\"u\">x</a>", null, i)
    }
    val doc = Doc("doc-900001", "en", spans)
    val small = Doc("doc-900002", "fr", Seq(Span("text", "<p>tiny</p>", null, 0)))
    val docs = Seq(doc, small)
    assert(reassembled(docs, 1) === oracle(docs))
    assert(reassembled(docs.map(d => d.copy(spans = d.spans.reverse)), 3) === oracle(docs))
  }

  test("re-assembly == oracle on arbitrary docs, unknown kinds included") {
    (20L to 22L).foreach { seed =>
      // every fifth span becomes a kind the engine does not know
      val docs = sampleDocs(seed, 6).map(d => d.copy(spans = d.spans.map(s =>
        if (s.offset % 5 == 4) s.copy(kind = "table") else s)))
      assert(reassembled(docs, 1) === oracle(docs), s"seed $seed")
      assert(reassembled(docs.map(d => d.copy(spans = d.spans.reverse)), 7) === oracle(docs),
        s"seed $seed, reversed spans, 7 partitions")
    }
  }
}
