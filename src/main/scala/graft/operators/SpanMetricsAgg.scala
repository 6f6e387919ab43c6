package graft.operators

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Input slice of one extracted-span row, as seen by the metrics aggregator. */
final case class SpanMetricsIn(
    kind: String,
    ok: Boolean,
    error: String,
    text: String,
    n_words: Int,
    conf_sum: Double)

/** Mutable single-pass buffer (mergeable => map-side partial aggregation). */
final case class SpanMetricsBuf(
    var nSpans: Long,
    var nMedia: Long,
    var nText: Long,
    var nErr: Long,
    var ocrChars: Long,
    var nWords: Long,
    var confSum: Double)

/** Lineage metrics for one bucket/partition of extracted spans. `conf_avg` is the
  * mean per-word OCR confidence — the statistic the reference computes per word and
  * then throws away (uiucprescon/ocr/reader2.cpp:43-55); we keep it, but only here in
  * the metrics channel, never in the golden span output. */
final case class SpanMetrics(
    n_spans: Long,
    n_media: Long,
    n_text: Long,
    n_err: Long,
    ocr_chars: Long,
    n_words: Long,
    conf_sum: Double,
    conf_avg: Double)

/**
 * Single-pass lineage aggregator (SURVEY.md §7 step 6): one custom
 * `Aggregator[IN, BUF, OUT]` computing every per-partition statistic the snapshot
 * manifest records, registered with `udaf(...)` so it participates in hash aggregation
 * with map-side partials exactly like a built-in — one shuffle of 7-field buffers per
 * bucket, regardless of span count.
 */
object SpanMetricsAgg extends Aggregator[SpanMetricsIn, SpanMetricsBuf, SpanMetrics] {
  import org.apache.spark.sql.{Encoder, Encoders}

  def zero: SpanMetricsBuf = SpanMetricsBuf(0L, 0L, 0L, 0L, 0L, 0L, 0.0)

  def reduce(b: SpanMetricsBuf, in: SpanMetricsIn): SpanMetricsBuf = {
    b.nSpans += 1
    if (in.kind == "image") b.nMedia += 1 else b.nText += 1
    if (in.error != null) b.nErr += 1
    if (in.kind == "image" && in.ok && in.text != null) b.ocrChars += in.text.length
    b.nWords += in.n_words
    b.confSum += in.conf_sum
    b
  }

  def merge(a: SpanMetricsBuf, b: SpanMetricsBuf): SpanMetricsBuf = {
    a.nSpans += b.nSpans; a.nMedia += b.nMedia; a.nText += b.nText
    a.nErr += b.nErr; a.ocrChars += b.ocrChars; a.nWords += b.nWords
    a.confSum += b.confSum
    a
  }

  def finish(b: SpanMetricsBuf): SpanMetrics =
    SpanMetrics(b.nSpans, b.nMedia, b.nText, b.nErr, b.ocrChars, b.nWords, b.confSum,
      if (b.nWords > 0) b.confSum / b.nWords else 0.0)

  def bufferEncoder: Encoder[SpanMetricsBuf] = Encoders.product[SpanMetricsBuf]
  def outputEncoder: Encoder[SpanMetrics] = Encoders.product[SpanMetrics]

  /** Column-form entry point: spanMetrics(kind, ok, error, text, n_words, conf_sum). */
  lazy val spanMetrics: UserDefinedFunction = udaf(SpanMetricsAgg)
}

/**
 * [[SpanMetricsAgg]] applied per bucket inside ONE aggregate, whose result maps
 * each bucket id to its metrics. A single aggregate is what `Dataset.observe` takes,
 * so a commit gets every bucket's lineage metrics from the write itself rather than
 * from a grouped re-read of what it wrote. A task's buffer holds one
 * [[SpanMetricsBuf]] per bucket it saw, updated in place.
 */
abstract class PerBucketMetrics[IN]
    extends Aggregator[IN, Map[Long, SpanMetricsBuf], Map[Long, SpanMetrics]] {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

  protected def bucket(in: IN): Long
  protected def add(b: SpanMetricsBuf, in: IN): Unit

  def zero: Map[Long, SpanMetricsBuf] = Map.empty

  def reduce(m: Map[Long, SpanMetricsBuf], in: IN): Map[Long, SpanMetricsBuf] = {
    val k = bucket(in)
    m.get(k) match {
      case Some(b) => add(b, in); m
      case None => val b = SpanMetricsAgg.zero; add(b, in); m.updated(k, b)
    }
  }

  def merge(a: Map[Long, SpanMetricsBuf],
      b: Map[Long, SpanMetricsBuf]): Map[Long, SpanMetricsBuf] =
    b.foldLeft(a) { case (acc, (k, buf)) =>
      acc.get(k) match {
        case Some(x) => SpanMetricsAgg.merge(x, buf); acc
        case None => acc.updated(k, buf)
      }
    }

  def finish(m: Map[Long, SpanMetricsBuf]): Map[Long, SpanMetrics] =
    m.map { case (k, b) => k -> SpanMetricsAgg.finish(b) }

  def bufferEncoder: Encoder[Map[Long, SpanMetricsBuf]] =
    ExpressionEncoder[Map[Long, SpanMetricsBuf]]()
  def outputEncoder: Encoder[Map[Long, SpanMetrics]] =
    ExpressionEncoder[Map[Long, SpanMetrics]]()
}

/** Input: (bucket, struct(kind, ok, error, text, n_words, conf_sum)). */
object BucketSpanMetricsAgg extends PerBucketMetrics[(Long, SpanMetricsIn)] {
  protected def bucket(in: (Long, SpanMetricsIn)): Long = in._1
  protected def add(b: SpanMetricsBuf, in: (Long, SpanMetricsIn)): Unit =
    SpanMetricsAgg.reduce(b, in._2)
}

/** Input: the bucket alone; `n_spans` counts rows, every other field stays 0 — the
  * form for tables without span columns. */
object BucketRowsAgg extends PerBucketMetrics[Long] {
  protected def bucket(in: Long): Long = in
  protected def add(b: SpanMetricsBuf, in: Long): Unit = b.nSpans += 1
}
