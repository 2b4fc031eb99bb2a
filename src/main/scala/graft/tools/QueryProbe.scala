package graft.tools

import graft.{Sessions, SparkEntry}

/** Repeat-timing and cost probe for named SparkEntry queries — separates
  * real regressions from per-run noise before chasing a bench number, and
  * shows what each query reads and shuffles: a query whose shuffle bytes
  * rival its input bytes is restructuring the corpus, and at 100 TB that
  * is the first number to fix.
  *
  * Per query: each rep's wall seconds, their minimum, and the minimum over
  * reps of jobs, generated classes compiled (non-zero: every rep misses
  * Spark's generated-class cache), tasks, input (the size of the files its
  * scans selected)/shuffle-write/shuffle-read/spill MB, plus the
  * shuffle-write/input ratio. A leading '+' on a name re-enables
  * InferFiltersFromGenerate for that query (the explode-regression A/B
  * lever). Without names it audits a default set of corpus-shaped queries.
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> <reps> [<name>...]
  */
object QueryProbe {
  private val AuditSet = Seq("a6_topk_3gram", "a7_botk_2gram",
    "a8_unique_ngrams", "d_minhash_neardup", "d_cc_clusters", "j2_keep_first",
    "j4_overlap_pairs", "q3_join", "p4_psl_full", "ann_topk_cosine",
    "w_tumble_hour", "e3_per_phrase", "d_dup_spans", "d_span_removal",
    "d_semantic_dedup", "t_unigram_lm", "a14_ngram_contamination",
    "t_gopher_filter")

  private def mb(x: Long): String = f"${x / 1048576.0}%.2f"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = if (args.length > 2) args.drop(2).toSeq else AuditSet
    val spark = Sessions.local(Sessions.tempWarehouse)
    spark.sparkContext.setLogLevel("WARN")
    val probe = ProbeListener.attach(spark)
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warm
    names.foreach { name0 =>
      val (name, rules) =
        if (name0.startsWith("+")) (name0.drop(1), "")
        else (name0,
          "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      spark.conf.set("spark.sql.optimizer.excludedRules", rules)
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).map(_ => probe.measure(fn(spark, sfDir).count()))
      val walls = runs.map(_._2)
      def least(f: ProbeCounts => Long): Long = runs.map(r => f(r._3)).min
      val (in, shufW) = (least(_.inputBytes), least(_.shuffleWrite))
      val ratio = if (in > 0) f"${shufW.toDouble / in}%.3f" else "-"
      println(f"$name0%-28s ${walls.map(w => f"$w%6.2f").mkString(" ")}" +
        f"  min=${walls.min}%6.2f  jobs=${least(_.jobs)}%4d" +
        f" compiles=${least(_.compiles)}%4d" +
        f" tasks=${least(_.tasks)}%6d  MB: in=${mb(in)} shufW=${mb(shufW)}" +
        f" shufR=${mb(least(_.shuffleRead))} spill=${mb(least(_.spill))}" +
        s"  ratio=$ratio")
    }
    spark.stop()
  }
}
