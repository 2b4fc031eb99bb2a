package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import graft.functions.expressions.IntersectionSize

/** `Sessions.local` is the one session builder: every entry point, tool
  * and test plans under the same confs, rules and extensions, and reuses
  * its generated classes. The source guards beside it keep the other
  * one-place rules: one builder, one probe listener, one state-file
  * commit, one resume loop, one capped gather.
  */
class SessionsSpec extends SparkTestBase {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def offenders(roots: Seq[String], pattern: scala.util.matching.Regex,
                        allowed: String): Seq[String] =
    roots.flatMap(scalaFiles)
      .filter(p => p.getFileName.toString != allowed &&
        pattern.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).nonEmpty)
      .map(_.toString)

  test("local is idempotent: same session back, runtime confs re-applied") {
    val tz = "spark.sql.session.timeZone"
    val pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    spark.conf.unset(tz)
    spark.conf.unset(pf)
    assert(spark.conf.get(pf) === "true") // Spark's default
    val again = Sessions.local(4)
    assert(again eq spark)
    assert(spark.conf.get(tz) === "UTC")
    assert(spark.conf.get(pf) === "false")
  }

  test("extensions bind at build: a fresh session plans the intersect rewrite") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraOptimizations.isEmpty)
    val plan = fresh.range(1).selectExpr("size(array_intersect(" +
      "array(cast(id AS STRING), 'b', 'b'), array('b', 'c'))) AS n")
      .queryExecution.optimizedPlan
    assert(plan.expressions.exists(_.exists(_.isInstanceOf[IntersectionSize])), plan)
  }

  private def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated working set of generated classes compiles only once") {
    // each literal is inlined into its plan's generated code, so every i is
    // a distinct class; 150 plans outnumber Spark's default 100-entry cache
    def pass(): Long = {
      val before = compiled()
      (1 to 150).foreach { i =>
        spark.range(8).selectExpr(s"id * ${i}L + ${i}L AS v").collect()
      }
      compiled() - before
    }
    assert(pass() >= 150)
    assert(pass() === 0L)
  }

  test("tune leaves the codegen cache size alone once anything compiled") {
    val key = "spark.sql.codegen.cache.maxEntries"
    spark.range(1).selectExpr("id + 1").collect()
    assert(compiled() > 0)
    val s = spark.newSession()
    s.sessionState.conf.setConfString(key, "100")
    Sessions.tune(s)
    assert(s.sessionState.conf.getConfString(key) === "100")
    assert(spark.sessionState.conf.getConfString(key) ===
      Sessions.CodegenCacheEntries.toString)
  }

  test("no session builder outside Sessions.scala") {
    val builder = """SparkSession\s*\.\s*builder""".r
    assert(offenders(Seq("src/main", "src/test"), builder, "Sessions.scala") === Nil)
  }

  test("no tmp+rename commit outside Swap and Corpus's executor-side shard commits") {
    // code lines only: a comment naming the idiom is no copy of it
    val commit = """rename\(|Files\.move|\.__tmp""".r
    // a member of a top-level object starts at two spaces
    val member =
      """^  (?:[\w\[\]]+ )*(?:def|val|var|class|object|trait|type) (\w+)""".r.unanchored
    val shardCommits = Set("consolidateShards", "ingestFromManifest")
    val found = scalaFiles("src/main")
      .filter(_.getFileName.toString != "Swap.scala").flatMap { p =>
        var current = ""
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
          l match { case member(name) => current = name; case _ => () }
          val t = l.trim
          val comment = t.startsWith("//") || t.startsWith("*") ||
            t.startsWith("/*")
          val allowed = p.getFileName.toString == "Corpus.scala" &&
            shardCommits(current)
          if (comment || allowed || commit.findFirstIn(l).isEmpty) None
          else Some(s"$p:${i + 1}: $t")
        }
      }
    assert(found === Nil, "commit state files through Swap.writeState")
  }

  test("no resume loop outside Follow: manifest, pending claim and shard expansion") {
    val loop = """"(manifest|pending)"|expandShardPaths""".r
    assert(offenders(Seq("src/main"), loop, "Follow.scala") === Nil,
      "run incremental modes through graft.search.Follow.run")
  }

  test("no capped gather outside Sessions.gatherCapped") {
    // `limit(cap + 1).collect()` is the capped gather's shape; ordered
    // top-k plans (`orderBy(..).limit(k)`) run as TakeOrderedAndProject
    val gather = """\.limit\([^()]*\+\s*1\)\s*\.collect\(\)""".r
    assert(offenders(Seq("src/main"), gather, "Sessions.scala") === Nil,
      "gather capped side frames through Sessions.gatherCapped")
  }

  test("no SparkListener in graft.tools outside the shared ProbeListener") {
    val listener = """(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b""".r
    assert(offenders(Seq("src/main/scala/graft/tools"), listener,
      "ProbeListener.scala") === Nil)
  }
}
