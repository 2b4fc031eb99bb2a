package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.search.MinHashIndex

/** Persisted MinHash band-row index: differential against the per-call
  * fuzzy-decontamination pipeline, bucket pruning on the benchmark's band
  * keys, and the append → compact maintenance roundtrip.
  */
class MinHashIndexSpec extends SparkTestBase {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def bench(d: org.apache.spark.sql.DataFrame) =
    d.where(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bid"),
        concat(col("text"), lit(" extra token")).as("btext"))

  test("decontaminateIndexed == decontaminateFuzzy row for row; pruned read") {
    val table = "mhidx_spec"
    graft.search.Swap.drop(spark, table, s"${table}__meta")
    MinHashIndex.writeMinHashIndex(docs, "doc_id", "text", table,
      w = 5, k = 8, bands = 4, md5Parity = true, buckets = 8, force = true)
    try {
      val b = bench(docs)
      val indexed = MinHashIndex.decontaminateIndexed(spark, table, docs,
        "doc_id", "text", b, "bid", "btext", threshold = 0.5)
      val direct = Dedup.decontaminateFuzzy(docs, "text", b, "btext",
        threshold = 0.5, w = 5, k = 8, bands = 4, md5Parity = true)
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).toSet
      val got = ids(indexed)
      assert(got === ids(direct))
      assert(got.nonEmpty && got.size < docs.count())
      // the candidate read prunes file buckets by the benchmark's band
      // keys (a small benchmark touches a strict subset of the 8 buckets)
      val one = MinHashIndex.crossCandidatesIndexed(spark, table,
        b.limit(1), "bid", "btext")
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"), plan.take(3000))
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      assert(sel.exists(_ < 8), plan.take(3000))
    } finally graft.search.Swap.drop(spark, table, s"${table}__meta")
  }

  test("append + compact == full rebuild; register survives catalog loss") {
    val table = "mhidx_app"
    graft.search.Swap.drop(spark, table, s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
    val first = docs.where(col("doc_id") % 5 =!= 4)
    val late = docs.where(col("doc_id") % 5 === 4)
    MinHashIndex.writeMinHashIndex(first, "doc_id", "text", table,
      w = 5, k = 8, bands = 4, md5Parity = true, buckets = 8, force = true)
    try {
      // late docs arrive; signing is per-row so their band rows are
      // computed under the frozen meta and folded back in
      val appends = MinHashIndex.bandRowsFor(spark, table, late,
        "doc_id", "text")
      MinHashIndex.compactMinHashIndex(spark, table, appends)
      val b = bench(docs)
      val got = MinHashIndex.decontaminateIndexed(spark, table, docs,
          "doc_id", "text", b, "bid", "btext", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = Dedup.decontaminateFuzzy(docs, "text", b, "btext",
          threshold = 0.5, w = 5, k = 8, bands = 4, md5Parity = true)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
      // catalog forgets the tables (JVM restart); the warehouse files
      // survive and registration reconstructs the bucket spec from meta.
      // DROP on a managed table deletes its files, so copy them aside and
      // restore after the drop — the InvertedIndexSpec register recipe.
      val conf = spark.sparkContext.hadoopConfiguration
      val tmp = java.nio.file.Files.createTempDirectory("mh_register").toString
      for (name <- Seq(table, s"${table}__meta")) {
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), name)
        val fs = wh.getFileSystem(conf)
        val aside = new org.apache.hadoop.fs.Path(tmp, name)
        org.apache.hadoop.fs.FileUtil.copy(fs, wh, fs, aside, false, conf)
        spark.sql(s"DROP TABLE `$name`")
        org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs, wh, false, conf)
      }
      MinHashIndex.registerMinHashIndex(spark, table)
      val again = MinHashIndex.decontaminateIndexed(spark, table, docs,
          "doc_id", "text", b, "bid", "btext", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(again === want)
    } finally graft.search.Swap.drop(spark, table, s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
  }

  test("streamed appends fold in: foreachBatch band rows -> compact -> parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "mhidx_stream"
    graft.search.Swap.drop(spark, table, s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
    val first = docs.where(col("doc_id") % 5 =!= 4)
    val late = docs.where(col("doc_id") % 5 === 4)
    MinHashIndex.writeMinHashIndex(first, "doc_id", "text", table,
      w = 5, k = 8, bands = 4, md5Parity = true, buckets = 8, force = true)
    val appendDir = java.nio.file.Files
      .createTempDirectory("mh_stream_appends").toString
    val in = MemoryStream[(Long, String)]
    // signing is stateless per-row, so the maintenance loop is plain
    // foreachBatch: band rows under the frozen meta, parquet append
    val q = in.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        MinHashIndex.bandRowsFor(spark, table, batch, "doc_id", "text")
          .write.mode("append").parquet(appendDir)
      }.start()
    try {
      val rows = late.collect().map(r => (r.getLong(0), r.getString(1)))
      in.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    try {
      MinHashIndex.compactMinHashIndex(spark, table,
        spark.read.parquet(appendDir))
      val b = bench(docs)
      val got = MinHashIndex.decontaminateIndexed(spark, table, docs,
          "doc_id", "text", b, "bid", "btext", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = Dedup.decontaminateFuzzy(docs, "text", b, "btext",
          threshold = 0.5, w = 5, k = 8, bands = 4, md5Parity = true)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got === want)
    } finally graft.search.Swap.drop(spark, table, s"${table}__meta",
      s"${table}__compacting", s"${table}__old")
  }
}
