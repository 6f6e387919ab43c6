package graft

/** Per-round benchmark main (driver contract): times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR, then measures flagship extraction throughput (docs/sec) on the
  * materialized corpus table, and prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Scaling.session(cpus.toInt)
    // best-of-2 per query: the shared hypervisor's load is ±40% minute-to-minute
    // noise (BENCH/BASELINE.md calibration); a single sample per query makes
    // round-over-round comparisons see phantom regressions
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts to named queries and skips the
    // flagship block — the paired micro-bench knob (time a rework against its
    // pre-change sample in one calm window instead of re-running the suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(",")} — " +
          "a typo here would bench nothing and print a 0-second 'win'")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // a query that throws is listed under "failed" and left out of `queries` and
    // `total`: the seconds until its failure would read as a speed-up
    val timed = selected.map { case (name, fn) =>
      name -> (try Some((1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }.min) catch { case _: Throwable => None })
    }
    val results = timed.collect { case (name, Some(secs)) => name -> secs }
    val failed = timed.collect { case (name, None) => "\"" + name + "\"" }
      .toSeq.sorted.mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0

    if (only.isDefined) {
      println(s"""{"metric":"only","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failed,"sf":"$sfDir","cpus":$cpus}""")
      spark.stop()
      return
    }

    // flagship throughput: full extraction over the materialized corpus table
    // (warmup run pays JIT + table materialization; timed run measures the engine)
    val replicate = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPLICATE", "768").toInt
    Scaling.runOnce(spark, sfDir, replicate) // warmup + corpus materialization
    val nDocs = Scaling.corpusDocs(spark, sfDir, replicate) // measured, not assumed
    val flagshipSecs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      Scaling.runOnce(spark, sfDir, replicate)
      (System.nanoTime() - t0) / 1e9
    }.min
    val docsPerSec = nDocs / flagshipSecs

    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failed,"sf":"$sfDir","flagship_docs":$nDocs,""" +
      s""""flagship_secs":$flagshipSecs,"docs_per_sec":$docsPerSec,"cpus":$cpus}""")
    spark.stop()
  }
}
