package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every commit point of [[Swap]]'s two protocols, crash-tested: each
  * mutating operation of the three persisted tiers runs once clean
  * (recording the points it passes), then once per point crashing there
  * — at the first and the last occurrence of a point hit more than once
  * — both healed in the same session and after a simulated restart that
  * forgets every catalog entry but keeps the directories. The clean run
  * must give rows computed independently of the swap; after the heal the
  * table must read exactly the pre-op or exactly those post-op rows with
  * no debris left, and re-running a rolled-back op must give the post-op
  * rows.
  */
class SwapSpec extends graft.SparkTestBase {

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** `expected`: the post-op rows, computed after `setup` without
    * running the op.
    */
  private case class Op(name: String, table: String, setup: () => Unit,
                        expected: () => DataFrame, run: () => Unit,
                        heal: () => Boolean)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def rows(t: String): Seq[String] = rows(spark.table(t))

  private def assertNoDebris(t: String, where: String): Unit =
    Seq(Swap.staging(t), Swap.backup(t)).foreach { n =>
      assert(!spark.catalog.tableExists(n), s"$where: table $n left")
      val d = Swap.dir(spark, n)
      assert(!d.getFileSystem(hconf).exists(d), s"$where: dir $d left")
    }

  /** A JVM restart under the in-memory catalog: every entry of `t`'s
    * tables is gone, every directory stays.
    */
  private def forget(t: String): Unit =
    spark.catalog.listTables().collect()
      .filter(x => !x.isTemporary && x.name.startsWith(t)).foreach { x =>
        val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
            x.name)).location)
        val fs = loc.getFileSystem(hconf)
        val aside = loc.suffix(".aside")
        assert(fs.rename(loc, aside))
        spark.sql(s"DROP TABLE `${x.name}`")
        assert(fs.rename(aside, loc))
      }

  private def crashTest(op: Op): Set[Swap.Point] = {
    op.setup()
    val pre = rows(op.table)
    val post = rows(op.expected())
    assert(pre !== post, s"${op.name}: the op changes nothing")
    val clean = new Swap.Faults(None)
    Swap.withFaults(clean)(op.run())
    assert(rows(op.table) === post, s"${op.name}: clean run")
    assertNoDebris(op.table, s"${op.name} clean")
    for {
      (point, n) <- clean.hits.toSeq
      occurrence <- Seq(1, n).distinct
      restart <- Seq(false, true)
    } {
      val where = s"${op.name} crash at $point #$occurrence" +
        (if (restart) " + restart" else "")
      op.setup()
      intercept[Swap.Crash](Swap.withFaults(
        new Swap.Faults(Some(point -> occurrence)))(op.run()))
      if (restart) forget(op.table)
      assert(op.heal(), s"$where: no live table after heal")
      val got = rows(op.table)
      assert(got == pre || got == post,
        s"$where: healed table is neither the pre- nor the post-op table")
      assertNoDebris(op.table, where)
      if (got == pre) {
        op.run()
        assert(rows(op.table) == post, s"$where: re-run after roll-back")
        assertNoDebris(op.table, s"$where re-run")
      }
    }
    clean.hits.keySet.toSet
  }

  private val docs = {
    val s = spark
    import s.implicits._
    Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "c d e c"), (4L, "a e a b"),
      (5L, "d e a b c"), (6L, "e a b")).toDF("doc_id", "text")
  }

  private def textOp(name: String, after: DataFrame,
                     run: String => Unit): Op = {
    val t = s"swap_$name"
    Op(name, t,
      setup = () => {
        Swap.drop(spark, t, s"${t}__norms")
        InvertedIndex.writeIndex(InvertedIndex.postings(
          docs.where(col("doc_id") <= 4), "doc_id", "text", uax29 = false),
          t, buckets = 4, force = true)
        InvertedIndex.persistNorms(spark, t)
      },
      expected = () =>
        InvertedIndex.postings(after, "doc_id", "text", uax29 = false),
      run = () => run(t),
      heal = () => {
        val ok = Swap.heal(spark, t, InvertedIndex.registerIndex(spark, _, 4))
        // norms are dropped before a swap and rewritten after: a crash
        // may leave them absent, never stale
        val live = InvertedIndex.readIndex(spark, t)
        assert(InvertedIndex.normsOf(spark, t, live).collect().toSeq ===
          InvertedIndex.corpusNormsFromPostings(live).collect().toSeq)
        ok
      })
  }

  test("every commit point of every maintenance op heals to pre- or post-op rows") {
    val s = spark
    import s.implicits._
    val batch = Seq((2L, "b c d d"), (5L, "d e a b c")).toDF("doc_id", "text")
    val textOps = Seq(
      textOp("ii_compact", docs, t => InvertedIndex.compactIndex(spark, t,
        InvertedIndex.postings(docs.where(col("doc_id") > 4), "doc_id",
          "text", uax29 = false), buckets = 4)),
      textOp("ii_upsert",
        docs.where(col("doc_id") <= 4 && col("doc_id") =!= 2L)
          .unionByName(batch),
        t => InvertedIndex.upsertIndex(spark, t, batch, "doc_id", "text",
          buckets = 4, uax29 = false)),
      textOp("ii_refresh", docs.where(col("doc_id") =!= 1L),
        t => InvertedIndex.refreshIndex(spark, t,
          docs.where(col("doc_id") <= 4), docs.where(col("doc_id") =!= 1L),
          "doc_id", "text", buckets = 4, uax29 = false)))

    val mh = "swap_mh_compact"
    val mhOp = Op("mh_compact", mh,
      setup = () => {
        Swap.drop(spark, mh, s"${mh}__meta")
        MinHashIndex.writeMinHashIndex(docs.where(col("doc_id") <= 4),
          "doc_id", "text", mh, w = 2, k = 8, bands = 4, buckets = 4,
          force = true)
      },
      expected = () =>
        MinHashIndex.bandRowsFor(spark, mh, docs, "doc_id", "text"),
      run = () => MinHashIndex.compactMinHashIndex(spark, mh,
        MinHashIndex.bandRowsFor(spark, mh, docs.where(col("doc_id") > 4),
          "doc_id", "text")),
      heal = () => MinHashIndex.registerMinHashIndex(spark, mh))

    // 60 unit-ish vectors around 6 directions; step 10 samples one
    // centroid per direction, so the fold touches some lists, not all
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 60L).map { i =>
      (i, (0 until 8).map(j => (if (j == i % 6) 1.0 else 0.0) +
        rnd.nextDouble() * 0.1).toArray)
    }.toDF("vec_id", "embedding")
    // the live rows with `vs`' ids replaced by their assignment
    def annAfter(t: String, vs: DataFrame): DataFrame = {
      val live = spark.table(t)
      val fresh = AnnIndex.assignNew(spark, t, vs, "vec_id", "embedding")
        .withColumn(AnnIndex.PartCol, col("bucket"))
      live.join(fresh.select("id"), Seq("id"), "left_anti")
        .select(live.columns.map(col): _*).unionByName(fresh)
    }
    def annOp(name: String, vs: DataFrame, run: String => Unit): Op = {
      val t = s"swap_$name"
      Op(name, t,
        setup = () => {
          Swap.drop(spark, t, s"${t}__centroids", s"${t}__meta")
          AnnIndex.writeIvfIndex(vecs.where(col("vec_id") < 48), "vec_id",
            "embedding", step = 10, table = t, buckets = 4, force = true)
        },
        expected = () => annAfter(t, vs),
        run = () => run(t),
        heal = () => AnnIndex.recoverIvfIndex(spark, t))
    }
    // re-embedded old ids (some change lists) plus new ids
    val moved = vecs.where(col("vec_id") % 12 === 1)
      .withColumn("embedding", reverse(col("embedding")))
      .unionByName(vecs.where(col("vec_id") >= 54))
    val arrivals = vecs.where(col("vec_id") >= 48)
    val annOps = Seq(
      annOp("ann_upsert", moved, t =>
        AnnIndex.upsertIvfIndex(spark, t, moved, "vec_id", "embedding")),
      annOp("ann_compact", arrivals, t => AnnIndex.compactIvfIndex(spark, t,
        AnnIndex.assignNew(spark, t, arrivals, "vec_id", "embedding"))))

    val ops = textOps ++ (mhOp +: annOps)
    try {
      val covered = ops.flatMap(crashTest).toSet
      assert(covered === Swap.Point.values.toSet,
        "a commit point no op reaches is not crash-tested")
    } finally ops.foreach(op => Swap.drop(spark, op.table,
      s"${op.table}__norms", s"${op.table}__meta",
      s"${op.table}__centroids"))
  }
}
