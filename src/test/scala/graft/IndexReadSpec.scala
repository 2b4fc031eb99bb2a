package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{AnnIndex, InvertedIndex, Swap}
import graft.tools.{ProbeCounts, ProbeListener}

/** The indexed reads the benchmark times (phrase count, BM25 top-k, IVF
  * top-k) over a saved text index and IVF table: each runs one Spark job
  * per shuffle it needs plus its result stage, and none to read a side
  * table or to ship rows the driver holds; and a commit made by another
  * session reaches the next read, because side tables are read at the
  * call and cached nowhere.
  */
class IndexReadSpec extends SparkTestBase {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "text")
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def dropAll(t: String, at: String): Unit = {
    Swap.drop(spark, t, s"${t}__norms")
    Swap.drop(spark, at, s"${at}__centroids", s"${at}__meta")
  }

  /** Words of the fixture's first documents, in text order. */
  private lazy val words: Seq[String] = docs.orderBy("doc_id").limit(5).collect()
    .flatMap(r => graft.functions.Tokenizer.tokenize(r.getString(1)).toSeq).toSeq

  /** Query vectors arriving as local rows, like the CLI's and the
    * benchmark's.
    */
  private def query(s: SparkSession, v: Seq[Double]): DataFrame = {
    import s.implicits._
    Seq(("q", v)).toDF("id", "embedding")
  }

  private lazy val vectors: Seq[Seq[Double]] =
    emb.where(col("vec_id") % 50 === 7).orderBy("vec_id").limit(4).collect()
      .map(_.getAs[scala.collection.Seq[Any]]("embedding").map(_.toString.toDouble).toSeq)
      .toSeq

  private def measured[A](body: => A): (A, ProbeCounts) = {
    val probe = ProbeListener.attach(spark)
    val (r, _, c) = try probe.measure(body) finally probe.detach()
    (r, c)
  }

  test("steady indexed reads run one job per shuffle plus the result stage") {
    val (t, at) = ("read_budget_idx", "read_budget_ann")
    dropAll(t, at)
    try {
      InvertedIndex.updateIndex(spark, t, docs, "doc_id", "text", buckets = 8,
        uax29 = true, live = false)
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = at, buckets = 4, force = true)
      def phrase(p: String) =
        Wimbd.countPhrasesIndexed(spark.table(t), Seq(p)).collect()
      def bm25(ts: Seq[String]) = {
        val post = spark.table(t)
        Wimbd.rankDocuments(post, InvertedIndex.normsOf(spark, t, post), ts, 10)
          .collect()
      }
      def ann(v: Seq[Double]) = AnnIndex.ivfKnnIndexed(spark, at,
        query(spark, v), "id", "embedding", k = 5, nprobe = 3).collect()
      // one warm read of each compiles its classes
      phrase(words.slice(0, 2).mkString(" "))
      bm25(words.slice(0, 2))
      ann(vectors(0))
      val (p, pc) = measured(phrase(words.slice(2, 4).mkString(" ")))
      val (b, bc) = measured(bm25(words.slice(2, 4)))
      val (a, ac) = measured(ann(vectors(1)))
      assert(p.length === 1 && p(0).getAs[Long]("n_docs") >= 1L)
      assert(b.nonEmpty && a.length === 5)
      // parent of these budgets: phrase 6, BM25 4 and IVF 6 jobs
      assert(pc.jobs <= 3, pc)
      assert(bc.jobs <= 2, bc)
      assert(ac.jobs <= 3, ac)
    } finally dropAll(t, at)
  }

  test("a commit from another session reaches the next read: new centroids, new norms row") {
    val (t, at) = ("read_coherent_idx", "read_coherent_ann")
    dropAll(t, at)
    val other = spark.newSession()
    try {
      InvertedIndex.updateIndex(spark, t, docs, "doc_id", "text", buckets = 4,
        uax29 = true, live = false)
      AnnIndex.writeIvfIndex(emb, "vec_id", "embedding", step = 50,
        table = at, buckets = 4, force = true)
      def norms(s: SparkSession) =
        InvertedIndex.normsOf(s, t, s.table(t)).head().getAs[Long]("n_docs")
      def probed(s: SparkSession) = AnnIndex.probeBucketsOf(s, at,
        query(s, vectors(2)), "id", "embedding", 1).collect()
        .map(_.getAs[Long]("bucket")).toSet
      def knn(s: SparkSession) = AnnIndex.ivfKnnIndexed(s, at,
        query(s, vectors(2)), "id", "embedding", k = 5, nprobe = 1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      // this session reads both side tables first
      val nAll = norms(spark)
      val before = knn(spark)
      assert(nAll === docs.count() && before.nonEmpty)
      // the other session rebuilds the IVF table over a different sample
      // and re-persists the norms of a smaller corpus
      def read(name: String) =
        other.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
      AnnIndex.writeIvfIndex(read("embeddings"), "vec_id", "embedding",
        step = 7, table = at, buckets = 4, force = true)
      InvertedIndex.updateIndex(other, t,
        read("documents").select("doc_id", "text").limit(100), "doc_id",
        "text", buckets = 4, uax29 = true, live = false)
      assert(norms(spark) === 100L)
      assert(probed(spark) === probed(other))
      assert(knn(spark) === knn(other))
    } finally dropAll(t, at)
  }
}
