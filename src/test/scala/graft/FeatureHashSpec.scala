package graft

import org.apache.spark.sql.functions._

import graft.operators.{FeatureHash, Similarity}

/** Feature-hash embeddings: kernel vs the column-algebra formulation
  * (md5 mode), an independent reimplementation check (xx mode), the
  * planted-near-dup composition into the embedding tier, and edge cases.
  */
class FeatureHashSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)

  test("md5 kernel == conv/mod column formulation, doc for doc") {
    val dim = 16
    val kernel = FeatureHash.hashedEmbeddings(docs, "doc_id", "text", dim,
      md5Parity = true).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    // independent formulation: explode + bucket/sign column algebra + pivot
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("bucket",
        conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % dim)
      .withColumn("sign",
        when(substring(md5(col("w")), 5, 1)
          .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1.0).otherwise(-1.0))
    val sums = tok.groupBy("doc_id")
      .agg(array((0 until dim).map(j =>
        coalesce(sum(when(col("bucket") === j, col("sign"))), lit(0.0))): _*)
        .as("emb"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(kernel === sums)
  }

  test("xx kernel matches an independent scala reimplementation") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    val dim = 32
    val got = FeatureHash.hashedEmbeddings(docs, "doc_id", "text", dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    raw.foreach { case (id, text) =>
      val v = new Array[Double](dim)
      text.split(" ", -1).foreach { w =>
        val b = w.getBytes("UTF-8")
        val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        v(java.lang.Math.floorMod(h, dim.toLong).toInt) +=
          (if ((h >>> 63) == 1L) 1.0 else -1.0)
      }
      assert(got(id).toList === v.toList, s"doc $id")
    }
  }

  test("planted near-dups surface through the embedding tier unchanged") {
    // two docs sharing 19/20 tokens + two unrelated docs: the hashed
    // vectors feed cosineNearDuplicates directly and find ONLY the pair
    val planted = Seq(
      (1L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      (2L, ((1 to 19).map(i => s"tok$i") :+ "different").mkString(" ")),
      (3L, (100 to 119).map(i => s"other$i").mkString(" ")),
      (4L, (200 to 219).map(i => s"thing$i").mkString(" "))
    ).toDF("doc_id", "text")
    val emb = FeatureHash.hashedEmbeddings(planted, "doc_id", "text", dim = 64)
    val pairs = Similarity.cosineNearDuplicates(emb, "id", "emb",
      threshold = 0.8).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toList === List((1L, 2L)))
  }

  test("Pipeline.dedupSemanticText: text-only SemDeDup keeps the min-id representative") {
    // one IVF centroid (id 0 mod 50) so all docs land in one bucket; the
    // null-text doc can't embed and must PASS THROUGH, not vanish
    val planted = Seq(
      (0L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      (1L, ((1 to 19).map(i => s"tok$i") :+ "different").mkString(" ")),
      (2L, (100 to 119).map(i => s"other$i").mkString(" ")),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val kept = Pipeline.dedupSemanticText(planted, "doc_id", "text",
      threshold = 0.8, centroidStep = 50, dim = 64)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toList === List(0L, 2L, 3L)) // 1 collapses into 0's cluster
  }

  test("Pipeline dedupSemantic/Text: exact-first pre-rung collapses cliques, same survivors") {
    // a 4-member exact-duplicate clique + a near-dup + a distinct doc +
    // a null-text doc: the default exact-first pre-rung must collapse
    // the clique BEFORE pair scoring and keep the SAME survivors as the
    // opt-out path. NB: survivor equality is a property of THIS fixture
    // (the collapse doesn't change which ids the IVF centroid sample
    // selects here) — in general the pre-rung reshapes the approximate
    // blocking like any recall dial; see the dedupSemantic scaladoc
    val cliqueText = (1 to 20).map(i => s"tok$i").mkString(" ")
    val planted = (Seq(
      (0L, cliqueText), (1L, cliqueText), (2L, cliqueText), (3L, cliqueText),
      (4L, ((1 to 19).map(i => s"tok$i") :+ "different").mkString(" ")),
      (5L, (100 to 119).map(i => s"other$i").mkString(" ")),
      (6L, null.asInstanceOf[String])
    )).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): List[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toList
    val withPre = ids(Pipeline.dedupSemanticText(planted, "doc_id", "text",
      threshold = 0.8, centroidStep = 50, dim = 64))
    val without = ids(Pipeline.dedupSemanticText(planted, "doc_id", "text",
      threshold = 0.8, centroidStep = 50, dim = 64, exactFirst = false))
    assert(withPre === without)
    assert(withPre === List(0L, 5L, 6L)) // clique+near-dup → 0; null passes
    // embedding variant: exact-duplicate vectors collapse pre-rung, a
    // null-vector row passes through on both paths
    val vecs = Seq(
      (10L, Array(1.0, 0.0, 0.0)), (11L, Array(1.0, 0.0, 0.0)),
      (12L, Array(1.0, 0.0, 0.0)), (13L, Array(0.0, 1.0, 0.0)),
      (14L, null.asInstanceOf[Array[Double]])
    ).toDF("doc_id", "v")
    def vids(exactFirst: Boolean): List[Long] =
      Pipeline.dedupSemantic(vecs, "doc_id", "v", threshold = 0.8,
          centroidStep = 10, exactFirst = exactFirst)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toList
    assert(vids(true) === vids(false))
    assert(vids(true) === List(10L, 13L, 14L))
  }

  test("edge cases: zero vector for empty tokens, null text dropped, SQL function") {
    val f = Seq((1L, ""), (2L, null.asInstanceOf[String]), (3L, "a b a"))
      .toDF("doc_id", "text")
    val out = FeatureHash.hashedEmbeddings(f, "doc_id", "text", dim = 8,
      md5Parity = true).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(!out.contains(2L)) // null text dropped, like the simhash contract
    // "" splits to one empty-string token — it still hashes (oracle parity
    // with string_split('', ' ')), so L1 mass is 1
    assert(out(1L).map(math.abs).sum === 1.0)
    assert(out(3L).map(math.abs).sum === 3.0 || out(3L).map(math.abs).sum === 1.0)
    f.createOrReplaceTempView("fh_docs")
    val sql = spark.sql(
      "SELECT graft_feature_hash(split(text, ' '), 8, true) AS e FROM fh_docs WHERE doc_id = 3")
      .head().getSeq[Double](0)
    assert(sql === out(3L))
  }
}
