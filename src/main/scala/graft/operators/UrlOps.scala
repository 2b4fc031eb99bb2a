package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL analyses (reference wimbd/{url_counts,scheme_counts,
  * high_level_domain_counts,extension_counts,url_per_tok_counts}/map_count.py
  * — SURVEY §2.2 P1-P5). All pure column pipelines ending in a partial-agg
  * group-by; at 100 TB the only shuffle is on the (low-cardinality) grouped
  * key.
  */
object UrlOps {

  /** Query-string parameters that never change page identity — the usual
    * tracking/attribution noise a crawler sees. Matched by exact name or,
    * for `utm_`, by prefix.
    */
  val TrackingParams: Seq[String] =
    Seq("fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "ref", "igshid")

  /** Canonical form of a URL for URL-level dedup: lowercase scheme and
    * host, drop the default port (`:80` http / `:443` https), optionally
    * strip a leading `www.`, drop the fragment, drop tracking query
    * parameters (`utm_*` + [[TrackingParams]]) and sort the survivors,
    * collapse trailing slashes on the path (root stays `/`).
    *
    * Pure column algebra (regex + array higher-order functions): stays in
    * whole-stage codegen, no UDF, no per-row java.net.URI allocation —
    * the difference between a scan-speed projection and a choke point at
    * 100 TB. Malformed URLs (no `scheme://`) pass through lowercased.
    */
  def canonicalizeUrl(url: Column, stripWww: Boolean = true,
                      dropParams: Seq[String] = TrackingParams): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostRaw = lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val noPort = when(scheme === "http", regexp_replace(hostRaw, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443$", ""))
      .otherwise(hostRaw)
    val host = if (stripWww) regexp_replace(noPort, "^www\\.", "") else noPort
    val pathRaw = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathTrim = regexp_replace(pathRaw, "/+$", "")
    val path = when(pathTrim === "", lit("/")).otherwise(pathTrim)
    // strip the fragment BEFORE extracting the query: a '?' inside a
    // fragment (https://x.com/p#f?a=1) is part of the fragment, not a query
    val noFrag = regexp_replace(url, "#.*", "")
    val qRaw = regexp_extract(noFrag, "\\?(.*)", 1)
    // foldLeft, not reduce: dropParams = Nil must mean "drop only utm_*"
    val kept = array_sort(filter(split(qRaw, "&"), p =>
      !(p.startsWith("utm_") || p === "" ||
        dropParams.foldLeft(lit(false))((acc, d) =>
          acc || p === d || p.startsWith(d + "=")))))
    val query = concat_ws("&", kept)
    when(scheme === "", lower(url)).otherwise(
      concat(scheme, lit("://"), host, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** URL-level duplicate groups: canonicalize, count docs per canonical
    * URL, keep groups seen more than once. The URL-keyed sibling of J1's
    * text-hash blocklist — at 100 TB the shuffle key is the (already
    * scan-projected) canonical string, with map-side partial counts.
    */
  def urlDuplicateCounts(df: DataFrame, urlCol: String): DataFrame =
    df.select(canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy("canonical_url").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)

  /** Predicate: host is covered by a blocked domain — equal to it, or a
    * dot-subdomain of it (UT1-blocklist semantics). The when-chain stays
    * in codegen; for blocklists beyond a few thousand entries use
    * [[domainBlocklistFilter]]'s join path.
    */
  def blockedBy(host: Column, blocked: Seq[String]): Column =
    blocked.map(d => host === d || host.endsWith("." + d))
      .foldLeft(lit(false))(_ || _)

  /** UT1-style domain blocklist filter: drop documents whose URL host is a
    * blocked domain or any subdomain of one. `asJoin` folds the blocklist
    * to a broadcast SORTED xxhash64 array probed by a codegen binary
    * search ([[graft.functions.expressions.LongSetContains]]) inside an
    * `exists` over the host's dot-suffixes — the 100 TB path for real
    * blocklists (UT1 adult alone is ~4M domains = a 32 MB long array):
    * one narrow scan projection, no row-amplifying suffix explode, no
    * distinct shuffle, no anti join (the shape this replaces). A 64-bit
    * hash collision can only OVER-block (the conservative direction for
    * a blocklist). The default when-chain predicate remains for small
    * lists (no broadcast to manage).
    */
  def domainBlocklistFilter(df: DataFrame, urlCol: String,
                            blocked: Seq[String], asJoin: Boolean = false): DataFrame = {
    val host = lower(parse_url(col(urlCol), lit("HOST")))
    if (!asJoin) df.where(!coalesce(blockedBy(host, blocked), lit(false)))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      // hash the blocklist with Spark's own xxhash64 (one tiny local job)
      // so driver and scan sides agree bit for bit
      val sorted = blocked.toDF("d").select(xxhash64(col("d"))).collect()
        .map(_.getLong(0)).sorted
      val probe = graft.functions.expressions.LongSetContains.probe(spark, sorted)
      val parts = split(host, "\\.")
      val hit = exists(sequence(lit(1), size(parts)),
        i => probe(xxhash64(concat_ws(".", slice(parts, i, size(parts))))))
      // null/absent hosts probe to null — kept, matching the when-chain
      // path and the join shape this replaces
      df.where(!coalesce(hit, lit(false)))
    }
  }

  /** P1: url → registered host, counted (reference wimbd/url_counts/map_count.py:17-19). */
  def hostCounts(df: DataFrame, urlCol: String): DataFrame =
    df.select(parse_url(col(urlCol), lit("HOST")).as("host"))
      .where(col("host").isNotNull && col("host") =!= "")
      .groupBy("host").agg(count(lit(1)).as("cnt"))

  /** P2: host weighted by per-doc token count (reference wimbd/url_per_tok_counts/map_count.py:18-22). */
  def hostTokenCounts(df: DataFrame, urlCol: String, textCol: String, uax29: Boolean = true): DataFrame =
    df.select(parse_url(col(urlCol), lit("HOST")).as("host"),
        size(NgramOps.tokens(col(textCol), uax29)).cast("long").as("toks"))
      .where(col("host").isNotNull && col("host") =!= "")
      .groupBy("host").agg(sum("toks").as("tokens"))

  /** P3: url → scheme (reference wimbd/scheme_counts/map_count.py:17-19;
    * parse_url has no PROTOCOL key, so a RFC-3986 scheme regex).
    */
  def schemeCounts(df: DataFrame, urlCol: String): DataFrame =
    df.select(regexp_extract(col(urlCol), "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1).as("scheme"))
      .where(col("scheme") =!= "")
      .groupBy("scheme").agg(count(lit(1)).as("cnt"))

  /** P5: url → file extension bucketed to {jpg, jpeg, png, other}
    * (reference wimbd/extension_counts/map_count.py:18-23). Path extraction
    * is a regex, not `parse_url` — same result on well-formed URLs, but no
    * per-row java.net.URI allocation (~2× cheaper per row).
    */
  def extensionCounts(df: DataFrame, urlCol: String,
                      keep: Seq[String] = Seq("jpg", "jpeg", "png")): DataFrame = {
    val path = regexp_extract(col(urlCol), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/[^?#]*)", 1)
    val ext = lower(regexp_extract(path, "\\.([^./]+)$", 1))
    df.select(when(ext.isin(keep: _*), ext).otherwise(lit("other")).as("extension"))
      .groupBy("extension").agg(count(lit(1)).as("cnt"))
  }

  /** Longest public-suffix match of a host against a suffix list. The when
    * chain stays in codegen for small lists; for the full PSL (~9k rules)
    * use [[suffixCountsJoin]].
    */
  def suffixOf(host: Column, psl: Seq[String]): Column = {
    val ordered = psl.sortBy(-_.count(_ == '.')) // longest (most-label) rules first
    ordered.foldLeft(lit(null).cast("string")) { (acc, s) =>
      coalesce(acc, when(host === s || host.endsWith("." + s), lit(s)))
    }
  }

  /** P4: high-level domain suffix counts, composing over a `{host, cnt}`
    * table the way the reference composes over url_counts output
    * (reference wimbd/high_level_domain_counts/map_count.py:17-21).
    */
  def suffixCounts(hostCounts: DataFrame, psl: Seq[String]): DataFrame =
    hostCounts.select(suffixOf(col("host"), psl).as("suffix"), col("cnt"))
      .where(col("suffix").isNotNull)
      .groupBy("suffix").agg(sum("cnt").as("cnt"))

  /** Parse a publicsuffix.org rule file (e.g. the distro-shipped
    * `/usr/share/publicsuffix/public_suffix_list.dat`) into a `(rule, kind)`
    * frame: kind 0 = literal, 1 = wildcard (`*.` stripped), 2 = exception
    * (`!` stripped). `icannOnly` keeps just the ICANN section (tldextract's
    * default), dropping private registries like github.io.
    *
    * Driver-side parse: the list is ~10k tiny rules — it is always the
    * broadcast side of the match join.
    */
  def loadPublicSuffixList(spark: org.apache.spark.sql.SparkSession,
                           path: String = "/usr/share/publicsuffix/public_suffix_list.dat",
                           icannOnly: Boolean = true): DataFrame = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val rules = try {
      var inIcann = false
      src.getLines().flatMap { raw =>
        val line = raw.trim
        if (line.contains("===BEGIN ICANN DOMAINS===")) { inIcann = true; None }
        else if (line.contains("===END ICANN DOMAINS===")) { inIcann = false; None }
        else if (line.isEmpty || line.startsWith("//")) None
        else if (icannOnly && !inIcann) None
        else {
          val r = line.toLowerCase(java.util.Locale.ROOT)
          if (r.startsWith("!")) Some((r.substring(1), 2))
          else if (r.startsWith("*.")) Some((r.substring(2), 1))
          else Some((r, 0))
        }
      }.toVector
    } finally src.close()
    import spark.implicits._
    rules.toDF("rule", "kind")
  }

  /** Annotate a distinct-host frame with its `public_suffix` under FULL
    * publicsuffix.org semantics: every dot-suffix of the host is a
    * candidate (bounded explode, ≤ labels per host); literal and exception
    * rules join on the candidate, wildcard rules on the candidate's parent;
    * exception beats wildcard beats fewer labels; unmatched hosts fall back
    * to the implicit `*` rule (bare TLD). Rules are always broadcast.
    */
  def annotatePublicSuffix(hosts: DataFrame, psl: DataFrame,
                           hostCol: String = "host"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = hosts.withColumn("__labels", split(lower(col(hostCol)), "\\."))
      .withColumn("__n", size(col("__labels")))
    val cands = h
      .withColumn("__i", explode(sequence(lit(1), col("__n"))))
      .select(col(hostCol), col("__labels"), col("__n"), col("__i"),
        concat_ws(".", slice(col("__labels"), col("__i"), col("__n") - col("__i") + lit(1))).as("__cand"),
        concat_ws(".", slice(col("__labels"), col("__i") + lit(1), col("__n") - col("__i"))).as("__parent"),
        (col("__n") - col("__i") + lit(1)).as("__cl"))
    val direct = cands.join(broadcast(psl.where(col("kind") =!= 1)), col("__cand") === col("rule"))
      .select(col(hostCol),
        when(col("kind") === 2, regexp_replace(col("rule"), "^[^.]+\\.", ""))
          .otherwise(col("rule")).as("__suffix"),
        when(col("kind") === 2, lit(1)).otherwise(lit(0)).as("__exc"),
        when(col("kind") === 2, col("__cl") - 1).otherwise(col("__cl")).as("__sl"))
    val wild = cands.join(broadcast(psl.where(col("kind") === 1)), col("__parent") === col("rule"))
      .select(col(hostCol), col("__cand").as("__suffix"), lit(0).as("__exc"), col("__cl").as("__sl"))
    val w = Window.partitionBy(hostCol).orderBy(desc("__exc"), desc("__sl"))
    val best = direct.unionByName(wild)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col(hostCol), col("__suffix"))
    hosts.join(best, Seq(hostCol), "left")
      .withColumn("public_suffix",
        coalesce(col("__suffix"), element_at(split(lower(col(hostCol)), "\\."), -1)))
      .withColumn("registrable_domain", {
        // eTLD+1: one label more than the public suffix; null when the host
        // IS a public suffix — the natural key for URL-level dedup (J6)
        val labels = split(lower(col(hostCol)), "\\.")
        val n = size(labels)
        val s = size(split(col("public_suffix"), "\\."))
        when(n > s, concat_ws(".", slice(labels, n - s, s + lit(1))))
      })
      .drop("__suffix")
  }

  /** P4 with the real, complete public-suffix list: longest-rule semantics
    * incl. wildcards and exceptions, over a `{host, cnt}` frame.
    */
  def suffixCountsPsl(hostCounts: DataFrame, psl: DataFrame): DataFrame =
    annotatePublicSuffix(hostCounts, psl)
      .groupBy(col("public_suffix").as("suffix")).agg(sum("cnt").as("cnt"))

  /** P4 at full-PSL scale: broadcast the rule table and join on every
    * dot-suffix of the host (a host has ≤ ~6 labels, so the explode is
    * bounded), keeping the longest matching rule. Literal rules only — see
    * [[suffixCountsPsl]] for full wildcard/exception semantics.
    */
  def suffixCountsJoin(hostCounts: DataFrame, psl: DataFrame): DataFrame = {
    val suffixes = hostCounts
      .withColumn("parts", split(col("host"), "\\."))
      .withColumn("i", explode(sequence(lit(1), size(col("parts")))))
      .select(col("host"), col("cnt"),
        concat_ws(".", slice(col("parts"), col("i"), size(col("parts")))).as("cand"),
        size(col("parts")).minus(col("i")).as("depth"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("host").orderBy(desc("labels"))
    suffixes.join(broadcast(psl.withColumn("labels", size(split(col("rule"), "\\.")))),
        col("cand") === col("rule"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("rule").as("suffix")).agg(sum("cnt").as("cnt"))
      .select(col("suffix"), col("cnt"))
  }
}
