package graft

import graft.model.DocExtracted
import org.apache.spark.sql.{DataFrame, Row}

/** Re-assembled documents as comparable tuples (doc_id, spans, ok, error, n_spans),
  * sorted by doc_id — from the pipeline's doc form or from [[graft.operators.Oracle]]. */
object DocTuples {
  type T = (String, Seq[(Int, String, String, String)], Boolean, Option[String], Long)

  def of(df: DataFrame): Seq[T] =
    df.collect().map { r =>
      (r.getAs[String]("doc_id"),
        r.getSeq[Row](r.fieldIndex("spans")).map(s =>
          (s.getAs[Int]("offset"), s.getAs[String]("kind"), s.getAs[String]("text"),
            s.getAs[String]("media_ref"))),
        r.getAs[Boolean]("ok"), Option(r.getAs[String]("error")), r.getAs[Long]("n_spans"))
    }.sortBy(_._1).toSeq

  def oracle(golden: Iterable[DocExtracted]): Seq[T] =
    golden.map(e => (e.doc_id, e.spans.map(s => (s.offset, s.kind, s.text, s.media_ref)),
      e.ok, Option(e.error), e.spans.size.toLong)).toSeq.sortBy(_._1)
}
