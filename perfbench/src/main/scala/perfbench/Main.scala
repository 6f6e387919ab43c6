package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.ExtractPipeline
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: a named workload with a seed, in its own JVM on `local[4]`, as a
 * closed loop that submits one Spark action at a time.
 *
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <scratch dir> --data <documents.parquet> --results <file>
 * }}}
 *
 * Untraced (`--trace 0`): set up `SetupRounds` times, warm up, then iterations until
 * `--seconds` have passed; prints the end-to-end metrics.
 * Traced (`--trace 1`): set up twice, warm up, one untraced and one traced iteration,
 * then the prefix runs and, for extraction, a maintenance probe; prints the per-layer
 * metrics.
 * Either way the last stdout line is the result object, and the exit code is 1 when
 * any call failed or any output check missed.
 */
object Main {
  val SetupRounds = 3
  /** Replicas of the 5,000-document base corpus per workload. */
  val Replicas = Map("extract_flagship" -> 12, "snapshot_maintain" -> 2)
  /** Untimed warm-up iterations before timing: at least this many, and for at least
    * `WarmupSeconds`. Extraction keeps getting faster for its first iterations while
    * its code compiles; the maintenance calls run the commit protocol that set-up has
    * already run three times, so that workload starts timing at once. */
  val WarmupIterations = Map("extract_flagship" -> 3, "snapshot_maintain" -> 0)
  val WarmupSeconds = 10.0
  /** Replicas of the probe a traced run adds for layers its workload skips. */
  val ProbeReplicas = 1

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The host anchor: a fixed single-thread integer burn, in seconds. Not a gate; it
    * separates host load from code changes when runs are compared. */
  def anchor(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 300000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0L) println("anchor hit zero")
    (System.nanoTime() - t0) / 1e9
  }

  def workload(name: String, ctx: Ctx, replicas: Int): Workload = name match {
    case "extract_flagship" => new Flagship(ctx, replicas)
    case "snapshot_maintain" => new Maintain(ctx, replicas)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opt("workload")
    require(Replicas.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = (System.currentTimeMillis() - jvmStart) / 1e3

    val tr = new Tracer
    val ctx = new Ctx(spark, tr, work, opt("data"), seed)
    val w = workload(name, ctx, Replicas(name))
    val anchorBefore = anchor()
    val record = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var metrics = Seq.empty[(String, Double, String)]
    try {
      // a traced run sets up twice so the layers it reads from set-up run warm
      val setups = (0 until (if (trace) 2 else SetupRounds)).map { k =>
        val t0 = System.nanoTime()
        w.setup(k)
        (System.nanoTime() - t0) / 1e9
      }
      record("setup_rounds_s") = setups
      record("session_s") = sessionReady
      tr.phase = "warmup"
      // a traced run warms up at least once, so that its untraced and traced
      // iterations start equally warm and their difference is the tracing overhead
      val warmMin =
        if (trace) math.max(1, WarmupIterations(name)) else WarmupIterations(name)
      val warm0 = System.nanoTime()
      var warm = 0
      while (warm < warmMin
          || (warm > 0 && (System.nanoTime() - warm0) / 1e9 < WarmupSeconds)) {
        warm += 1
        w.iteration(-warm)
      }
      record("warmup_iterations") = warm
      if (!trace) {
        tr.phase = "timed"
        val iters = scala.collection.mutable.ArrayBuffer.empty[Iter]
        val t0 = System.nanoTime()
        while (iters.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
          iters += w.iteration(iters.size)
        w.finalCheck()
        record("iterations") = iters.map(i => Json.Raw(Json.obj("write_s" -> i.write,
          "read_s" -> i.read, "docs" -> i.docs, "table_bytes" -> i.tableBytes)))
        metrics = Seq(
          ("setup_s", sessionReady + Stats.median(setups), "s"),
          ("wall_s", Stats.median(iters.map(_.wall)), "s"),
          ("docs_per_s", Stats.median(iters.map(i => i.docs / i.write)), "docs/s"),
          ("write_s", Stats.median(iters.map(_.write)), "s"),
          ("read_s", Stats.median(iters.map(_.read)), "s"),
          ("table_bytes", Stats.median(iters.map(_.tableBytes.toDouble)), "bytes"))
      } else {
        tr.phase = "untraced"
        val untraced = w.iteration(0)
        tr.attach(spark.sparkContext)
        tr.phase = "iter"
        val gc0 = gcSeconds()
        val traced = w.iteration(1)
        val gc = gcSeconds() - gc0
        w.finalCheck()
        val layers = new Layers(ctx)
        tr.phase = "prefix"
        layers.prefixes(w.docsTable, w.corpus)
        layers.ocrSample(w.corpus)
        def phaseSpans(p: String) = tr.allSpans.filter(_.phase == p)
        // commit and maintenance layers come from a maintenance iteration: the
        // workload's own, or a small probe when the workload writes no table
        val (m, iterPhase, setupPhase, flat) = w match {
          case m: Maintain => (m, "iter", "setup", layers.flatSeconds)
          case _ =>
            val probe = new Maintain(ctx, ProbeReplicas, "probe")
            tr.phase = "probe.setup"
            probe.setup(0)
            probe.setup(1)
            val probeDocs = spark.read.parquet(probe.docsTable).drop("bucket")
            val (_, flat) = ctx.timedCall("probe.extractFlat")(
              ctx.noop(ExtractPipeline.extractFlat(probeDocs)))
            tr.phase = "probe.maintain"
            probe.iteration(0)
            probe.finalCheck()
            (probe, "probe.maintain", "probe.setup", flat)
        }
        val writes = phaseSpans(iterPhase).filter(s =>
          Layers.MaintainOps.exists(op => s.name == s"SnapshotSink.$op"))
        val run = phaseSpans(setupPhase).filter(_.name == "SnapshotSink.run").last
        layers.commit(writes, run, m.stats("files_written"), flat)
        layers.maintain(phaseSpans(iterPhase), m.stats)
        tr.detach()
        layers.out("jvm.gc_s") = gc
        layers.out("trace.overhead_s") = traced.wall - untraced.wall
        record("untraced_wall_s") = untraced.wall
        record("traced_wall_s") = traced.wall
        metrics = layers.out.toSeq.map { case (k, v) => (k, v, Main.unit(k)) }
      }
    } catch {
      case e: Throwable =>
        ctx.failed += 1
        ctx.attempted += 1
        ctx.problems += s"run aborted: $e"
        e.printStackTrace()
    }
    val anchorAfter = anchor()
    try tr.detach() catch { case _: Throwable => }

    val correct = ctx.failed == 0
    val result = Json.obj(
      "correct" -> correct,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> Json.Raw(metrics.map { case (k, v, u) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}")))
    opt.get("results").foreach { path =>
      val full = Json.obj(Seq[(String, Any)](
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "anchor_before_s" -> anchorBefore, "anchor_after_s" -> anchorAfter,
        "failed_share" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
        "problems" -> ctx.problems.toList, "result" -> Json.Raw(result)) ++
        record.toSeq.map { case (k, v) => k -> v }: _*)
      Files.writeString(Paths.get(path), full + "\n")
      if (trace) Files.write(Paths.get(path + ".trace.jsonl"),
        tr.toJsonLines.asJava)
    }
    ctx.problems.take(20).foreach(p => System.err.println(s"perfbench: $p"))
    println(f"perfbench: anchor before $anchorBefore%.4f s, after $anchorAfter%.4f s")
    println(result)
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The unit of a per-layer metric, from its name. */
  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_read")
      || name.endsWith("bytes_written") || name.endsWith("bytes_reread")) "bytes"
    else if (name.endsWith("us_per_span")) "us"
    else if (name.endsWith("_ratio") || name.endsWith("_share") || name.endsWith("_skew")
      || name.contains("_per_")) "ratio"
    else "count"
}
