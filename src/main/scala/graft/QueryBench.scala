package graft

/**
 * Paired same-invocation query micro-bench — the noise-protocol instrument
 * (BENCH/BASELINE.md): the shared hypervisor's load swings absolute query times
 * ±40% minute-to-minute, so a regression claim about query X is only meaningful as
 * the RATIO of X to untouched anchor queries measured in the SAME invocation,
 * interleaved (X, anchors, X, anchors, ...) so a load swing hits both sides of the
 * ratio equally. VERDICT r3 #3 asked exactly this for `top_terms`/`ivf_topk`.
 *
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
 * SPARK_GRAFT_QB_QUERIES (csv; default = the r3 suspects + four untouched anchors),
 * SPARK_GRAFT_QB_REPS (default 7). Prints one JSON line: per-query sample list +
 * median. Round-robin order; rep 0 is discarded as warmup (JIT + file listing).
 */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_QB_REPS", "7").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_QB_QUERIES",
      "top_terms,ivf_topk,term_df,minhash_bands,dedup_exact,sessionize")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = Scaling.session(cpus.toInt)

    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (0 until (reps + 1)).foreach { rep =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        if (rep > 0) samples(n) = samples(n) :+ s // rep 0 = warmup, discarded
      }
    }
    def median(v: Vector[Double]): Double = {
      val s = v.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val body = names.map { n =>
      val v = samples(n)
      s""""$n":{"median":${median(v)},"samples":[${v.map(x => f"$x%.3f").mkString(",")}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"qb":$body,"sf":"$sfDir","cpus":$cpus,"reps":$reps}""")
    spark.stop()
  }
}
