package graft.tools

import graft.SparkEntry

/** Prints the formatted physical plan of selected queries and a quick scan
  * for the plan properties that matter at 100 TB: parquet filter/column
  * pushdown, broadcast joins on dimension sides, and wide WholeStageCodegen
  * spans. Usage: sbt "runMain graft.tools.ExplainAudit [sfDir] [query ...]"
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q3_join", "a6_topk_3gram", "ann_topk_cosine", "j3_decontaminate",
        "p14_sample", "d_minhash_neardup", "ann_lsh_topk", "ann_ivf_topk",
        "j4_overlap_pairs", "e3_per_phrase", "p4_psl_full", "d_cc_clusters")
    val spark = graft.Sessions.local(graft.Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(plan)
      val checks = Seq(
        "broadcast join" -> plan.contains("BroadcastHashJoin"),
        "pushed filters" -> plan.contains("PushedFilters: ["),
        // under AQE, codegen ids only appear in the executed plan — AQE
        // presence is the pre-execution proxy
        "adaptive (AQE)" -> plan.contains("AdaptiveSparkPlan"),
        "column pruning" -> plan.contains("ReadSchema"))
      checks.foreach { case (k, v) => println(s"CHECK $n $k: $v") }
    }
    spark.stop()
  }
}
