package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge

/** `Par.fanOut` decision tests: the planning-only call must match the
  * (correct but expensive) `.rdd.getNumPartitions` rule — fan out when the
  * scan plans fewer than half of `defaultParallelism` partitions — on every
  * bench table, on single-file and many-file gzip inputs, on pruned
  * partitioned scans, and on unknown-size frames, which must never
  * overflow into a spurious repartition. Bucketed tables keep the byte
  * estimate.
  */
class ParSpec extends SparkTestBase {

  private def withMaxPartitionBytes[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, old)
  }

  private def scanRuleRepartitions(df: DataFrame): Boolean =
    df.rdd.getNumPartitions * 2 < spark.sparkContext.defaultParallelism

  private def fanOutRepartitions(df: DataFrame): Boolean =
    !(Par.fanOut(df) eq df)

  /** The planned count IS the scan's partition count for file leaves. */
  private def assertPlannedExactly(df: DataFrame, what: String): Unit = {
    assert(Bridge.plannedScanPartitions(df) === Some(df.rdd.getNumPartitions.toLong),
      s"planned partitions differ from the scan's on $what")
    assert(fanOutRepartitions(df) === scanRuleRepartitions(df),
      s"fanOut decision differs from the scan rule on $what")
  }

  test("stats-based decision matches the getNumPartitions probe on every bench table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    for (t <- tables) {
      val df = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
      assertPlannedExactly(df, s"$t (default maxPartitionBytes)")
    }
    // and with a tiny split size, where splittable parquet planes out wide
    withMaxPartitionBytes(1024) {
      for (t <- Seq("lineitem", "documents")) {
        val df = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        assertPlannedExactly(df, s"$t (1 KiB maxPartitionBytes)")
      }
    }
  }

  test("single gzip jsonl file fans out even when bytes estimate large") {
    val dir = java.nio.file.Files.createTempDirectory("par-gz").toString
    val df0 = spark.range(2000).selectExpr("cast(id as string) as text")
    df0.coalesce(1).write.mode("overwrite").option("compression", "gzip").json(dir)
    val df = spark.read.json(dir)
    // shrink the split size so sizeInBytes/maxPartitionBytes says "many
    // splits" — the byte heuristic alone would skip the repartition, but
    // a gzip file is one split however many bytes it holds
    withMaxPartitionBytes(64) {
      assert(df.rdd.getNumPartitions === 1, "fixture must be a single gzip split")
      assert(fanOutRepartitions(df),
        "unsplittable single-file input must fan out")
      assertPlannedExactly(df, "one gzip file")
    }
  }

  test("unknown-size frame with tiny maxPartitionBytes stays a no-op (no overflow)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // LogicalRDD leaf ⇒ sizeInBytes = defaultSizeInBytes (Long.Max):
    // treat-as-large must survive division by a 1-byte split size
    val rdd = spark.sparkContext.parallelize(Seq(Row("x")), 2)
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("text", StringType))))
    withMaxPartitionBytes(1) {
      assert(Bridge.plannedScanPartitions(df).isEmpty, "an RDD leaf has no file listing")
      assert(!fanOutRepartitions(df), "unknown size must be treated as large")
      assert(fanOutRepartitions(df) === scanRuleRepartitions(df))
    }
  }

  test("eight small gzip shards pack into slot-wide scan partitions and do not fan out") {
    val dir = java.nio.file.Files.createTempDirectory("par-gz8").toString
    spark.range(3000).selectExpr("cast(id as string) as id",
        "repeat(concat('word', cast(id % 97 as string), ' '), 40) as text")
      .repartition(8).write.mode("overwrite").option("compression", "gzip").json(dir)
    val df = spark.read.json(dir)
    assert(df.inputFiles.length === 8, "fixture must be eight gzip shards")
    // the byte estimate alone (a few hundred KB) says "one split"; the
    // scan packs eight unsplittable files into defaultParallelism bins
    assert(df.rdd.getNumPartitions * 2 >= spark.sparkContext.defaultParallelism,
      s"fixture must scan slot-wide, got ${df.rdd.getNumPartitions} partitions")
    assert(!fanOutRepartitions(df), "a slot-wide scan must not pay a round-robin exchange")
    assertPlannedExactly(df, "eight gzip shards")
    assertPlannedExactly(graft.sources.Corpus.readJsonl(spark, Seq(dir)), "eight gzip shards via readJsonl")
  }

  test("partition filters prune the planned count like the scan does") {
    val dir = java.nio.file.Files.createTempDirectory("par-part").toString
    spark.range(4000).selectExpr("id", "id % 8 as p")
      .repartition(8, org.apache.spark.sql.functions.col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    withMaxPartitionBytes(2048) {
      val all = spark.read.parquet(dir)
      assertPlannedExactly(all, "all partitions")
      assertPlannedExactly(all.where("p = 3"), "one pruned partition")
      assertPlannedExactly(all.where("p < 2 and id > 10").select("id"), "two pruned partitions")
    }
  }

  test("bucketed tables keep the byte estimate, with or without the bucket column") {
    import org.apache.spark.sql.functions.col
    val table = "par_spec_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      // one term in one write task: a single file holding one bucket
      spark.range(2000).selectExpr("id", "'t' as term", "repeat('x', 20) as body")
        .coalesce(1).write.bucketBy(8, "term").saveAsTable(table)
      val df = spark.table(table)
      val bytesPerSplit = Bridge.filesMaxPartitionBytes(spark).max(1L)
      val byBytes = BigInt(2) * (df.queryExecution.optimizedPlan.stats.sizeInBytes /
        bytesPerSplit + 1) < spark.sparkContext.defaultParallelism
      assert(byBytes, "fixture must be small enough for the byte estimate to fan out")
      // with `term` the scan is one partition per bucket; without it the
      // files are packed like any listing, here into fewer than half the
      // slots, so a bucket count would wrongly skip the fan-out
      assert(df.rdd.getNumPartitions === 8)
      val pruned = df.select(col("id"), col("body"))
      assert(pruned.rdd.getNumPartitions * 2 < spark.sparkContext.defaultParallelism,
        s"fixture must pack narrow without its bucket column, got ${pruned.rdd.getNumPartitions}")
      for ((what, f) <- Seq("with the bucket column" -> df, "without it" -> pruned)) {
        assert(Bridge.plannedScanPartitions(f).isEmpty, s"bucketed table $what has a planned count")
        assert(fanOutRepartitions(f) === byBytes, s"bucketed table $what left the byte estimate")
      }
      assert(fanOutRepartitions(pruned) === scanRuleRepartitions(pruned))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
