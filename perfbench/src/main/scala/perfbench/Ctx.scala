package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** State shared by one benchmark run: the session, the tracer, the run's scratch
  * directory, the seed, and the tally of calls and checks. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: Path,
    val basePath: String, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  lazy val base: IndexedSeq[BaseDoc] = Gen.loadBase(spark, basePath)
  private var observations = 0

  /** A public call into the program, in its own span; a throw counts as failed. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try tr.span(name)(body)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
        throw e
    }
  }

  /** [[call]], also returning its seconds. */
  def timedCall[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = call(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** An output check: counts as attempted, and as failed when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      problems += what
    }
  }

  def expectEq(what: String, got: Any, want: Any): Unit =
    check(got == want, s"$what: got $got, expected $want")

  /** Run `df` to Spark's discarding sink: every row is computed, none is kept. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df` with aggregate `exprs` observed on the rows that flow through it. */
  def observe(df: DataFrame, exprs: Column*): (DataFrame, Observation) = {
    observations += 1
    val o = Observation(s"perfbench$observations")
    (df.observe(o, exprs.head, exprs.tail: _*), o)
  }

  def long(o: Observation, key: String): Long = o.get(key) match {
    case null => 0L
    case n: java.lang.Number => n.longValue
    case other => throw new IllegalStateException(s"observed $key is $other")
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Files2 {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def bytes(p: Path): Long = walk(p).map(Files.size).sum

  /** Data files (parquet parts) under a table's `data/` directory. */
  def dataFiles(table: Path): Set[String] =
    walk(table.resolve("data")).map(_.toString).filter(_.endsWith(".parquet")).toSet

  /** Metadata files at the table root (manifests, refs, ledgers). */
  def metaFiles(table: Path): Seq[Path] = {
    val s = Files.list(table)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
