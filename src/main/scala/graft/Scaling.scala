package graft

import java.nio.file.{Files, Paths}

import graft.operators.ExtractPipeline
import graft.sources.Interleave
import org.apache.spark.sql.SparkSession

/**
 * Two-cluster-size scaling evidence for the north rule (BASELINE.json: "run ... at N and
 * 4N executors with docs/sec scaling efficiency >= 0.8"). No real cluster exists in this
 * sandbox, so the sanctioned stand-in is the same job at two parallelism levels —
 * local[8] vs local[32] on identical input — reporting throughput at both plus
 * efficiency = tput(4N) / (4 x tput(N)).
 *
 * The measured job is the FULL flagship pipeline: corpus synthesis -> branch split ->
 * OCR island -> union -> sort-based re-assembly (the one shuffle) -> noop sink
 * (sink I/O excluded so the measurement is the engine, not the disk). Each level gets a
 * JIT/engine-pool warmup run, then takes the best of `reps` timed runs.
 *
 * Every invocation appends its per-level best to BENCH/scaling_runs.jsonl and prints
 * one JSON line on stdout: the phase line for a prefix phase, else the headline
 * efficiency over all logged runs.
 */
object Scaling {

  def runOnce(spark: SparkSession, sfDir: String, replicate: Int): Unit =
    runPhase(spark, sfDir, replicate, "full")

  /** Pipeline prefixes for per-phase attribution (SPARK_GRAFT_PHASE in the pinned
    * worker): scan -> +extract (narrow) -> +sorted reassembly (= full, since
    * `extractAndReassemble` is `reassembleSorted(extractFlat)`).
    * The PROTOCOL family (commit/takedown/changes) times the snapshot-commit
    * pipeline instead — the commit-heavy queries' cost shape (VERDICT r4 #7):
    * extraction -> staged write (metrics observed) -> footer check -> publish ->
    * distributed hash -> manifest republish, plus the takedown rewrite /
    * changelog read on top.
    * Differences between adjacent protocol rows attribute the delete/diff cost;
    * the gap to 'full' attributes the commit machinery itself. */
  def runPhase(spark: SparkSession, sfDir: String, replicate: Int, phase: String): Unit = {
    import graft.sources.SnapshotSink
    val ProtocolPhases = Set("commit", "takedown", "changes")
    if (ProtocolPhases(phase)) {
      val nb = SnapshotSink.DefaultBuckets
      // bucket-partitioned corpus: the production layout the wave filter prunes on
      val docs = Interleave.materializedDocsBucketed(spark, sfDir, nb, replicate)
      val out = java.nio.file.Paths.get("/dev/shm/graft-shuffle",
        s"scaling-snap-$phase")
      SnapshotSink.deleteRecursively(out) // fresh protocol cycle per rep
      // two waves => two manifest versions (what the changes diff consumes)
      SnapshotSink.run(docs, out.toString, nb, waveSize = nb / 2)
      phase match {
        case "takedown" =>
          // bounded driver-side victim list (the deleteDocs contract): ~1k ids
          // spread across all buckets via the takedown selector. Replicated
          // corpora shift each replica's ids by the Interleave stride (1e7), so
          // victims enumerate (replica, base-id) pairs — never a flat 0..n range
          val n = corpusDocs(spark, sfDir, replicate)
          val perReplica = n / math.max(replicate, 1)
          val victims = (for {
            r <- Iterator.range(0, math.max(replicate, 1))
            d <- Iterator.range(0L, perReplica)
            if d % graft.functions.OracleSql.TakedownMod ==
              graft.functions.OracleSql.TakedownRes
          } yield f"doc-${r * 10000000L + d}%013d").take(1000).toSeq
          SnapshotSink.deleteDocs(spark, out.toString, victims)
        case "changes" =>
          SnapshotSink.readChangesBetween(spark, out.toString, 1L, 2L)
            .write.format("noop").mode("overwrite").save()
        case _ => ()
      }
      return
    }
    // input = materialized corpus TABLE (the production contract is a table scan;
    // synthesizing inline would re-evaluate the synthesis expression per consumer
    // and measure corpus generation, not extraction)
    val input = Interleave.materializedDocs(spark, sfDir, replicate)
    val df = phase match {
      case "scan" => input
      case "flat" => ExtractPipeline.extractFlat(input)
      case "sorted" => ExtractPipeline.reassembleSorted(ExtractPipeline.extractFlat(input))
      case _ => ExtractPipeline.extractAndReassemble(input)
    }
    df.write.format("noop").mode("overwrite").save()
  }

  /** MEASURED document count of the corpus a run processes — parquet metadata-only
    * count (row-group stats), never a hard-coded rows-per-sf assumption. Called outside
    * the timed region. */
  def corpusDocs(spark: SparkSession, sfDir: String, replicate: Int): Long =
    Interleave.materializedDocs(spark, sfDir, replicate).count()

  private[graft] def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-scaling-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.sql.adaptive.enabled", "true")
      // tmpfs shuffle dir: this VM's /tmp sits on a slow virtual disk whose background
      // writeback adds multi-second noise; production executors put spark.local.dir on
      // node-local NVMe, which tmpfs stands in for here.
      .config("spark.local.dir", "/dev/shm/graft-shuffle")
      // the materialized corpus lands in few large files; cap split size so the scan
      // fans out to >= 2 tasks per core at the high level too
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Pure-CPU calibration: how much more arithmetic the MACHINE actually delivers at
    * `threads` concurrent workers (SMT, shared memory bandwidth, hypervisor shares all
    * cap this below linear). The job's efficiency is judged against this ceiling. */
  private def burn(seed: Long, iters: Long): Long = {
    var x = seed; var i = 0L
    while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    x
  }

  private def cpuCapacity(threads: Int): Double = {
    import java.util.concurrent._
    val pool = Executors.newFixedThreadPool(threads)
    val iters = 400_000_000L
    def round(n: Long): Double = {
      val t0 = System.nanoTime()
      val tasks = (1 to threads).map(t => pool.submit(new Callable[Long] {
        def call(): Long = burn(t.toLong, n)
      }))
      require(tasks.map(_.get()).sum != 42) // keep the work alive
      threads * n / ((System.nanoTime() - t0) / 1e9)
    }
    round(iters / 10) // JIT warmup
    val best = (1 to 3).map(_ => round(iters)).max
    pool.shutdown()
    best
  }

  /** Memory-bandwidth calibration: aggregate bytes/sec when `threads` workers each
    * stream a private 32 MiB buffer. String/row pipelines are bandwidth-hungry; on one
    * shared-memory VM the DRAM channels do NOT quadruple with thread count — this
    * ceiling is what a text-extraction job actually scales against (a real 4x-executor
    * cluster brings 4x the memory channels). */
  private def memCapacity(threads: Int): Double = {
    import java.util.concurrent._
    val pool = Executors.newFixedThreadPool(threads)
    val size = 32 * 1024 * 1024
    val passes = 8
    def round(p: Int): Double = {
      val t0 = System.nanoTime()
      val tasks = (1 to threads).map(t => pool.submit(new Callable[Long] {
        def call(): Long = {
          val a = new Array[Long](size / 8)
          var acc = t.toLong
          var pass = 0
          while (pass < p) {
            var i = 0
            while (i < a.length) { acc ^= a(i); a(i) = acc; i += 1 }
            pass += 1
          }
          acc
        }
      }))
      require(tasks.map(_.get()).sum != 42)
      threads.toDouble * size * p / ((System.nanoTime() - t0) / 1e9)
    }
    round(2) // warmup + page-in
    val best = (1 to 3).map(_ => round(passes)).max
    pool.shutdown()
    best
  }

  /**
   * Run one level's timed reps in a CHILD JVM pinned to exactly `cpus` CPUs with
   * `taskset -c 0..cpus-1`. This is the faithful sandbox stand-in for a real N-node
   * cluster: an unpinned local[8] JVM still borrows all 32 vCPUs for GC, JIT,
   * shuffle-IO and netty threads, inflating the small "cluster" and deflating the
   * measured N->4N ratio — a real 8-core cluster has no such spare cores. The child
   * inherits this JVM's flags (add-opens, GC, heap) and classpath; it prints one
   * WORKER_TIMES line which the parent parses. Returns (times, nDocs).
   */
  private def pinnedWorker(
      cpus: Int, sfDir: String, replicate: Int, reps: Int): (Seq[Double], Long) = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-agentlib"))
    val cmd = Seq("taskset", "-c", s"0-${cpus - 1}", javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ScalingWorker",
        cpus.toString, sfDir, replicate.toString, reps.toString)
    val pb = new ProcessBuilder(cmd: _*)
    // stderr (Spark logs) goes to a file — draining stdout alone while stderr
    // backs up would deadlock the child on a full pipe
    val errFile = Files.createTempFile("graft-scaling-worker", ".err").toFile
    pb.redirectError(errFile)
    pb.environment().put("SPARK_LOCAL_DIRS", "/dev/shm/graft-shuffle")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val ok = p.waitFor() == 0
    val err = if (ok) "" else Files.readString(errFile.toPath).takeRight(2000)
    errFile.delete()
    require(ok, s"pinned worker failed:\n$err")
    val times = out.linesIterator.find(_.startsWith("WORKER_TIMES="))
      .map(_.stripPrefix("WORKER_TIMES=").split(",").map(_.toDouble).toSeq)
      .getOrElse(sys.error(s"no WORKER_TIMES in worker output:\n$out"))
    val docs = out.linesIterator.find(_.startsWith("WORKER_DOCS="))
      .map(_.stripPrefix("WORKER_DOCS=").toLong).getOrElse(0L)
    (times, docs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val replicate = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "768").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    // N and 4N are overridable: the primary pair is 8->32; a 2->8 pair is the
    // supporting measurement on hardware that still has DRAM-bandwidth headroom
    // (at 8 threads the VM's memory wall is not yet binding), isolating ENGINE
    // scaling from the machine ceiling.
    val lo = sys.env.getOrElse("SPARK_GRAFT_LO", "8").toInt
    val hi = sys.env.getOrElse("SPARK_GRAFT_HI", "32").toInt
    require(hi == 4 * lo, "north rule compares N vs 4N")
    // SPARK_GRAFT_PHASE times a pipeline PREFIX (scan/flat/sorted/full) at both
    // levels — the per-phase attribution rows. Phase lines are tagged in the log
    // and NEVER mixed into the headline (full-pipeline) statistics.
    val phase = sys.env.getOrElse("SPARK_GRAFT_PHASE", "full")
    // a typo'd phase would run SOMETHING, log it under the unknown tag, and be
    // silently excluded from the headline — reject it before spending minutes
    require(Set("scan", "flat", "sorted", "full",
        "commit", "takedown", "changes")(phase),
      s"unknown SPARK_GRAFT_PHASE '$phase' " +
        "(expected scan|flat|sorted|full|commit|takedown|changes)")
    val pinned = new java.io.File("/usr/bin/taskset").exists() &&
      !sys.env.contains("SPARK_GRAFT_UNPINNED")

    val capLo = cpuCapacity(lo)
    val capHi = cpuCapacity(hi)
    val hwScale = capHi / capLo // the machine's real 8->32 CPU ceiling
    val memLo = memCapacity(lo)
    val memHi = memCapacity(hi)
    val memScale = memHi / memLo // the 8->32 DRAM-bandwidth ceiling

    // Interleave the two levels across cycles: the host's load varies on a scale of
    // seconds-to-minutes (shared hypervisor), so measuring level N entirely before
    // level 4N would let a load burst bias one side. Best-of across interleaved cycles
    // samples both levels under the same noise distribution. JIT + codegen caches are
    // JVM-global, so only the very first cycle pays compilation (and a full-size
    // warmup precedes it).
    val times = scala.collection.mutable.Map(lo -> List.empty[Double],
      hi -> List.empty[Double])
    var nDocs = 0L
    if (pinned) {
      // one child JVM per level, CPU-pinned with taskset; each does its own warmup
      // (which also materializes the corpus on first use) + `reps` timed runs
      Seq(lo, hi).foreach { cpus =>
        val (ts, docs) = pinnedWorker(cpus, sfDir, replicate, reps)
        times(cpus) = ts.toList
        if (nDocs == 0L && docs > 0L) nDocs = docs
      }
    } else (0 until reps).foreach { cycle =>
      Seq(lo, hi).foreach { cpus =>
        val spark = session(cpus)
        if (cycle == 0) {
          runPhase(spark, sfDir, replicate, phase) // warmup (also materializes the corpus)
          if (nDocs == 0L) nDocs = corpusDocs(spark, sfDir, replicate) // measured, not assumed
        }
        val t0 = System.nanoTime()
        // the REQUESTED phase — timing runOnce here would log full-pipeline times
        // under the phase tag and poison the attribution table
        runPhase(spark, sfDir, replicate, phase)
        times(cpus) ::= (System.nanoTime() - t0) / 1e9
        spark.stop()
      }
    }

    // The sandbox host's load varies on a minutes scale; a single invocation can land
    // in a bad window. Every invocation appends its per-level best (from ITS OWN
    // interleaved cycles) to scaling_runs.jsonl. The headline efficiency is the
    // MEDIAN of per-invocation PAIRED ratios — each ratio compares a lo and hi time
    // measured in the same invocation under the same host-load window — never a
    // cross-invocation mix of minima (that would report an efficiency no actual run
    // achieved). Per-level minima are reported separately as best-observed throughput.
    // "v":2 marks runs after the doc_id-width fix (in-process, unpinned levels);
    // "v":3 marks CPU-PINNED runs (each level its own taskset'd JVM). Pinned and
    // unpinned samples are never mixed; earlier degenerate-job lines are excluded.
    val ver = if (pinned) 3 else 2
    Files.createDirectories(Paths.get("BENCH"))
    val runsLog = Paths.get("BENCH/scaling_runs.jsonl")
    val runLine =
      s"""{"v":$ver,"phase":"$phase","lo":$lo,"hi":$hi,""" +
        s""""secs_lo":${times(lo).min},"secs_hi":${times(hi).min},"docs":$nDocs,""" +
        s""""cpu_scale":$hwScale,"mem_scale":$memScale}"""
    Files.writeString(runsLog, runLine + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    def field(l: String, k: String) = l.split(s""""$k":""")(1).split("[,}]")(0).toDouble
    // lines without a phase tag predate the knob and were all full-pipeline runs
    def phaseOf(l: String): String =
      if (!l.contains(""""phase":""")) "full"
      else l.split(""""phase":"""")(1).split("\"")(0)
    val pairLines = Files.readAllLines(runsLog).toArray.toSeq.map(_.toString)
      .filter(l => l.startsWith(s"""{"v":$ver,""") &&
        (if (l.contains(""""lo":""")) l.contains(s""""lo":$lo,"hi":$hi,""")
         else lo == 8 && hi == 32)) // pre-knob lines were all 8->32
      .filter(_.contains(s""""docs":$nDocs,"""))
    val allRuns = pairLines.filter(phaseOf(_) == "full")
    if (phase != "full") {
      // phase runs only contribute their attribution row; the headline is
      // recomputed by full-pipeline invocations
      println(s"""{"metric":"scaling_phase","phase":"$phase","cpus_lo":$lo,""" +
        s""""cpus_hi":$hi,"secs_lo":${times(lo).min},"secs_hi":${times(hi).min},""" +
        s""""docs":$nDocs}""")
      return
    }
    val nRuns = allRuns.size
    val pairedEffs = allRuns
      .map(l => (field(l, "secs_lo") / field(l, "secs_hi")) / (hi.toDouble / lo))
      .sorted
    val eff = pairedEffs(nRuns / 2) // median of per-invocation paired efficiencies
    val tLo = allRuns.map(field(_, "secs_lo")).min
    val tHi = allRuns.map(field(_, "secs_hi")).min
    val tputLo = nDocs / tLo
    val tputHi = nDocs / tHi
    val effHw = eff * 4.0 / hwScale
    val gateMet = eff >= 0.8

    println(
      s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio",""" +
        s""""gate_0_8_met_as_measured":$gateMet,"paired_runs":$nRuns,""" +
        s""""docs":$nDocs,"sf":"$sfDir","cpu_ceiling":${hwScale / 4.0},""" +
        s""""mem_bw_ceiling":${memScale / 4.0},"efficiency_vs_cpu_hw":$effHw,""" +
        s""""cpus_lo":$lo,"secs_lo":$tLo,"docs_per_sec_lo":$tputLo,""" +
        s""""cpus_hi":$hi,"secs_hi":$tHi,"docs_per_sec_hi":$tputHi}""")
  }
}

/**
 * Child-JVM entry point for CPU-pinned scaling runs (spawned by [[Scaling]] under
 * `taskset -c 0-(cpus-1)`): one warmup (which also materializes the corpus), then
 * `reps` timed full-pipeline runs. Prints machine-readable WORKER_TIMES= and
 * WORKER_DOCS= lines on stdout; Spark logs stay on stderr.
 */
object ScalingWorker {
  def main(args: Array[String]): Unit = {
    val Array(cpusS, sfDir, replicateS, repsS) = args
    val cpus = cpusS.toInt
    val replicate = replicateS.toInt
    val reps = repsS.toInt
    val phase = sys.env.getOrElse("SPARK_GRAFT_PHASE", "full")
    val spark = Scaling.session(cpus)
    Scaling.runPhase(spark, sfDir, replicate, phase) // warmup + corpus materialization
    val nDocs = Scaling.corpusDocs(spark, sfDir, replicate)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Scaling.runPhase(spark, sfDir, replicate, phase)
      (System.nanoTime() - t0) / 1e9
    }
    println("WORKER_TIMES=" + times.mkString(","))
    println("WORKER_DOCS=" + nDocs)
    spark.stop()
  }
}
