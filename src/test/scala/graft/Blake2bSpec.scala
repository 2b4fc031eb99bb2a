package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.Blake2bKernel

/** BLAKE2b-512 against `hashlib.blake2b(...).hexdigest()` golden vectors
  * (generated with CPython's hashlib — the exact function the reference
  * uses to mint ES document ids, ELASTIC.md:120-125). Lengths straddle the
  * 128-byte block boundary (127/128/129/300) to pin the counter and
  * final-block flag handling.
  */
class Blake2bSpec extends SparkTestBase {
  import spark.implicits._

  private def hex(s: String): String =
    Blake2bKernel.esDocId(UTF8String.fromString(s)).toString

  private val golden = Seq(
    "" ->
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce",
    "abc" ->
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d17d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923",
    "The quick brown fox jumps over the lazy dog" ->
      "a8add4bdddfd93e4877d2746e62817b116364a1fa7bc148d95090bc7333b3673f82401cf7aa2e4cb1ecd90296e3f14cb5413f8ed77be73045b13914cdcd6a918",
    "x" * 127 ->
      "acc1cd9ebcd76c8f0e9afcfe2e2479a1ab53ad0d02c8ebd767fd1e26c5cf96767c81077e5edd55f3fd8709dea6849b9792c8c19813f5ae6de9ac4d3a5efad515",
    "y" * 128 ->
      "71a796ac8d94e4f83af8d4698529be647007fef7effd29fdbd6f121c952611452aab9034e15ade1e9931923e857bac166e9f90979354684d11e956fc2248a294",
    "z" * 129 ->
      "ade277d819a7bef14e4792df4bfd1e7bdec8415431f618798b7f9a233c6fa056e6b385be767888588647eb48c52062f340a5b2b33f33183a12a8e99a749be88f",
    "w" * 300 ->
      "392c0447d35c14ef96bdaf2c99e1ee4dbe71c74e68e5ef4bee4ba0e3bcba8ae70e1d8c5cc0f18884dfd52aaea55861050ab5ec31aadc62772f9e09176c7b5a66",
    "café/ünicode?中文" ->
      "951179f35ae684eb0a2dc20e6366f633bff98a0e626f481ff816e8731a96017c7a981477d6bc7b44df68c3443f4e1bc3c98e5d9863c74a9e306742e1018e2117"
  )

  test("kernel matches hashlib.blake2b hexdigest golden vectors") {
    golden.foreach { case (in, want) => assert(hex(in) === want, s"'$in'") }
  }

  test("strip parity: surrounding whitespace is removed like str.strip()") {
    val want =
      "431daf79255c222563514b835b7c347c239d2a63952396e1f56ab7f7180896cbc71c32371726a934cf1b23bb2030ad97e27b75152555261aa381dc920a8de146"
    assert(hex("  https://example.com/a?b=c  ") === want)
    assert(hex("\t\nhttps://example.com/a?b=c\r\n") === want)
    assert(hex("\u00a0https://example.com/a?b=c\u2003") === want) // NBSP, em space
    assert(hex("https://example.com/a?b=c") === want)
  }

  test("Corpus.withEsId projects ids in a zero-shuffle plan; SQL name works") {
    val df = Seq((1L, " https://example.com/a?b=c "), (2L, "abc"))
      .toDF("doc_id", "url")
    val ids = graft.sources.Corpus.withEsId(df, col("url"))
    val got = ids.orderBy("doc_id").collect().map(_.getString(2)).toSeq
    assert(got.head.startsWith("431daf79255c2225"))
    assert(got(1) ===
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d17d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
    assert(!ids.queryExecution.executedPlan.toString.contains("Exchange"))
    df.createOrReplaceTempView("blake_urls")
    val viaSql = spark.sql(
      "SELECT graft_blake2b_es_id(url) AS id FROM blake_urls WHERE doc_id = 2")
      .head().getString(0)
    assert(viaSql === got(1))
  }
}
