package graft

import org.apache.spark.sql.SparkSession

/** Prints `explain("formatted")` for the flagship plans — the plan-shape review loop
  * (pushdown / nested-schema pruning / broadcast / codegen spans / shuffle count). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val which = sys.env.getOrElse("SPARK_GRAFT_PLAN", "flat")
    val df = which match {
      case "flat" =>
        graft.operators.ExtractPipeline.extractFlat(
          graft.sources.Interleave.docs(spark, sfDir))
      case "flat_mat" =>
        graft.operators.ExtractPipeline.extractFlat(
          graft.sources.Interleave.materializedDocs(spark, sfDir))
      case "reassemble" =>
        graft.operators.ExtractPipeline.extractAndReassemble(
          graft.sources.Interleave.docs(spark, sfDir))
      case "topk" =>
        graft.operators.Similarity.annTopK(
          spark.read.parquet(s"$sfDir/embeddings.parquet"))
      case "lang_join" =>
        SparkEntry.queries("lang_join")(spark, sfDir)
      case "neardup" =>
        graft.operators.Dedup.neardupPairs(graft.operators.Dedup.withMutants(
          spark.read.parquet(s"$sfDir/documents.parquet")))
      case q => SparkEntry.queries(q)(spark, sfDir)
    }
    df.explain("formatted")
    spark.stop()
  }
}
