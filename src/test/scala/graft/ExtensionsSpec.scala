package graft

/** The SQL-function surface of [[GraftExtensions]], installed into the
  * shared test session at build by `Sessions.local`; one case exercises
  * the post-build [[GraftExtensions.register]] path (same builder list).
  */
class ExtensionsSpec extends SparkTestBase {

  test("register on an already-built session: functions resolve, rule added once") {
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    // extensions bound at build, as on every Sessions.local session
    val fresh = spark.newSession()
    val rule = functions.expressions.IntersectSizeRewrite
    // the rule's runs while optimizing one plan that it rewrites
    def ruleRuns(): Long = {
      RuleExecutor.resetMetrics()
      fresh.range(2).selectExpr("array(cast(id AS string), 'b') AS xs")
        .selectExpr("size(array_intersect(xs, array('b', 'c'))) AS n")
        .queryExecution.optimizedPlan
      RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim)
        .find(_.startsWith(rule.ruleName + " "))
        .map(_.split("\\s+").last.toLong).getOrElse(0L)
    }
    val atBuild = ruleRuns()
    assert(atBuild > 0)
    GraftExtensions.register(fresh)
    GraftExtensions.register(fresh)
    assert(!fresh.experimental.extraOptimizations.contains(rule))
    assert(ruleRuns() === atBuild)
    assert(fresh.sql(
      "SELECT graft_intersect_size(array('a', 'b', 'b'), array('b', 'c')) AS n")
      .head().getInt(0) === 1)
  }

  test("custom expressions are callable from spark.sql") {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps")).toDF("id", "text")
      .createOrReplaceTempView("ext_docs")

    val ngrams = spark.sql(
      "SELECT graft_ngrams(graft_tokenize(text), 3) AS g FROM ext_docs")
      .collect().head.getSeq[String](0)
    assert(ngrams.head === "the quick brown")
    assert(ngrams.size === 3)

    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0) === 11.0)

    assert(spark.sql(
      """SELECT graft_phrase_match(graft_tokenize(text),
        | graft_tokenize('quick fox'), 1) AS m FROM ext_docs""".stripMargin)
      .collect().head.getBoolean(0))

    val offs = spark.sql(
      "SELECT graft_regex_offsets(text, 'qu[a-z]+') AS o FROM ext_docs")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(offs.map(r => (r.getInt(0), r.getInt(1))) === Seq((4, 9)))

    val sig = spark.sql(
      "SELECT graft_minhash(graft_tokenize(text), 2, 4, true) AS s FROM ext_docs")
      .collect().head.getSeq[String](0)
    assert(sig.size === 4 && sig.forall(_.length === 8))

    val sh = spark.sql(
      "SELECT graft_simhash(graft_tokenize(text), 16, true) AS s FROM ext_docs")
      .collect().head.getString(0)
    assert(sh.length === 16 && sh.forall(c => c == '0' || c == '1'))

    assert(spark.sql(
      "SELECT graft_count_seq(graft_tokenize(text), graft_tokenize('quick brown')) AS c FROM ext_docs")
      .collect().head.getLong(0) === 1L)

    val wf = spark.sql(
      "SELECT graft_winnow(graft_tokenize(text), 2, 2) AS f FROM ext_docs")
      .collect().head.getSeq[Long](0)
    assert(wf.nonEmpty)

    assert(spark.sql("SELECT graft_langid('the quick brown fox jumps over the dog') AS l")
      .collect().head.getString(0) === "en")
    assert(spark.sql("SELECT graft_langid('12345 --- 99') AS l")
      .collect().head.getString(0) === "un")
  }

  test("non-literal static args fail analysis, not execution") {
    intercept[Exception] {
      spark.sql("SELECT graft_minhash(graft_tokenize('a b c'), cast(id AS INT), 4, true) " +
        "FROM range(1) AS t(id)").collect()
    }
  }

  test("intersect-size kernel matches size(array_intersect) incl dups and nulls") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val words = Array("a", "b", "c", "d", "e", null)
    val rows = Seq.fill(300) {
      def arr() = Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length)))
      (arr(), arr())
    }.toDF("xs", "ys")
    val both = rows.selectExpr(
      "size(array_intersect(xs, ys)) AS builtin",
      "graft_intersect_size(xs, ys) AS custom").collect()
    both.foreach(r => assert(r.getInt(0) === r.getInt(1), r))
  }

  test("graft_multi_phrases: literal battery from SQL, both modes") {
    val got = spark.sql(
      """SELECT graft_multi_phrases(array('a','b','c'),
        |  array(array('a','b'), array('zz'), array('b','c'), array())) AS m""".stripMargin)
      .collect().head.getSeq[Int](0)
    // phrase 3 (empty token array) matches every document; zz does not
    assert(got === Seq(0, 2, 3))
    val one = spark.sql(
      """SELECT size(graft_multi_phrases(array('a','b'),
        |  array(array('zz'), array('a'), array('b')), true)) AS n""".stripMargin)
      .collect().head.getInt(0)
    assert(one === 1) // existence mode stops at the first hit
    // non-literal battery fails analysis with the named contract
    val e = intercept[Exception] {
      spark.sql("""SELECT graft_multi_phrases(array('a'), array(array(rand()))) AS m""")
        .collect()
    }
    assert(e.getMessage.contains("foldable array<array<string>>"), e.getMessage)
  }

  test("optimizer rule rewrites size(array_intersect) to graft_intersect_size") {
    import spark.implicits._
    // non-literal source, or constant folding evaluates the whole thing
    // before the rewrite is observable
    val df = spark.range(2)
      .selectExpr("array(cast(id AS string), 'b') AS xs", "array('b', 'c') AS ys")
      .selectExpr("size(array_intersect(xs, ys)) AS n")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_intersect_size"),
      s"rewrite did not fire:\n$optimized")
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1, 1))
  }
}
