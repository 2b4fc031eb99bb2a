package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PromptSource-style template client (§2.9). The reference's parser
  * (wimbd/contamination/promptsource_parse.py:10-53) walks promptsource's
  * templates.yaml tree, keeps each dataset's FIRST template, extracts its
  * `{{field}}` placeholders, and emits a TSV; downstream contamination
  * then probes the rendered benchmark rows against the corpus. This
  * client consumes that TSV shape and renders benchmark rows into prompt
  * strings as PURE COLUMN ALGEBRA (literal segments + field columns
  * concatenated — a codegen'd projection, no Jinja runtime on the data
  * path), feeding the scan-fused batch contamination surface (E7).
  */
object PromptTemplates {

  final case class PromptTemplate(dataset: String, subset: String, template: String) {
    def fields: Seq[String] = extractFields(template)
    def name: String = if (subset.isEmpty) dataset else s"$dataset/$subset"
  }

  private val placeholder = "\\{\\{\\s*([a-zA-Z0-9_-]+)\\s*\\}\\}".r

  /** Placeholder names in order of first appearance — same contract as the
    * reference's `re.findall` over the space-stripped jinja (so
    * `{{ answer }}` parses like `{{answer}}`).
    */
  def extractFields(template: String): Seq[String] =
    placeholder.findAllMatchIn(template).map(_.group(1)).toSeq.distinct

  /** TSV rows `dataset<TAB>subset<TAB>template` (subset may be empty, or
    * the column omitted entirely) → templates. Blank lines skipped.
    */
  def parseTsv(lines: Iterable[String]): Seq[PromptTemplate] =
    lines.iterator.map(_.replaceAll("[\\r\\n]+$", "")).filter(_.trim.nonEmpty).map { l =>
      l.split("\t", -1) match {
        case Array(d, s, t) => PromptTemplate(d, s, t)
        case Array(d, t) => PromptTemplate(d, "", t)
        case _ => throw new IllegalArgumentException(
          s"expected dataset<TAB>[subset<TAB>]template, got: $l")
      }
    }.toSeq

  /** Read a template TSV through the Hadoop FS (local or object store). */
  def parseTsvFile(spark: SparkSession, path: String): Seq[PromptTemplate] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try parseTsv(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList)
    finally in.close()
  }

  /** The template as a Column over its field columns: literal segments and
    * `coalesce(field, '')` concatenated in order. Null fields render empty
    * (SQL `||` would nullify the whole prompt).
    */
  def renderColumn(template: String): Column = {
    val parts = scala.collection.mutable.ArrayBuffer[Column]()
    var last = 0
    placeholder.findAllMatchIn(template).foreach { m =>
      if (m.start > last) parts += lit(template.substring(last, m.start))
      parts += coalesce(col(m.group(1)).cast("string"), lit(""))
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit(template) else concat(parts.toSeq: _*)
  }

  /** Rendered prompts for a benchmark table: (benchmark, prompt). */
  def renderPrompts(bench: DataFrame, t: PromptTemplate): DataFrame =
    bench.select(lit(t.name).as("benchmark"), renderColumn(t.template).as("prompt"))

  /** Hard ceiling on the gathered (benchmark, prompt) pairs — they are
    * broadcast into the corpus scan, so the frame must stay
    * benchmark-sized. 2^20 prompts ≈ every promptsource dataset's first
    * template over a 6k-row benchmark suite with two orders of margin.
    */
  val MaxRenderedPrompts: Int = 1 << 20

  /** E7 over template-rendered benchmarks: render each template against
    * its benchmark table, collect the (benchmark, prompt) pairs —
    * benchmark-sized, exactly the reference's driver-side loop — and run
    * the scan-fused per-phrase contamination counter over the corpus
    * (ONE corpus scan for all prompts of all benchmarks).
    *
    * Templates sharing one benchmark frame (the promptsource shape: many
    * templates per dataset) render as sibling columns of ONE projection
    * and gather in ONE limit-capped collect job — a benchmark frame that
    * is itself a derived view (filters, joins, another corpus) is scanned
    * once per FRAME, not once per template. Prompt order within a frame
    * follows template order, so the phrase list is identical to the
    * one-collect-per-template formulation.
    */
  /** `foldPhrase` runs over every RENDERED prompt before it probes the
    * corpus — the hook for analyzer parity when the corpus side is an
    * analyzed projection (template literal segments and non-text fields
    * never pass through the corpus reader's projections, so the caller
    * must fold the rendered result, not the inputs).
    *
    * `dropBlankPrompts` excludes prompts that are blank AFTER the fold
    * (a bare `{{q}}` template over a null field renders "", and the
    * analyzer can strip a punctuation-only render to "" — under uax29
    * the empty phrase tokenizes to zero tokens and matches EVERY
    * document, inflating that benchmark's card). Default false: the
    * library default keeps the render-verbatim contract (coalesce('')
    * per field, like the reference's jinja render of missing fields).
    */
  def contaminationFromTemplates(corpus: DataFrame, textCol: String,
                                 benches: Seq[(PromptTemplate, DataFrame)],
                                 slop: Int = 0, uax29: Boolean = true,
                                 maxPrompts: Int = MaxRenderedPrompts,
                                 foldPhrase: String => String = identity,
                                 dropBlankPrompts: Boolean = false,
                                 luceneSlop: Boolean = false): DataFrame = {
    // group by frame IDENTITY (same DataFrame object reused across
    // templates), preserving first-appearance frame order and per-frame
    // template order — the flatMap emission order of the old shape
    val frames = scala.collection.mutable.LinkedHashMap[DataFrame, scala.collection.mutable.ArrayBuffer[PromptTemplate]]()
    benches.foreach { case (t, df) =>
      frames.getOrElseUpdate(df, scala.collection.mutable.ArrayBuffer()) += t
    }
    var budget = maxPrompts
    val phrases = frames.iterator.flatMap { case (df, ts) =>
      val cols = ts.zipWithIndex.map { case (t, i) =>
        renderColumn(t.template).as(s"__p$i") }
      val cap = budget / ts.length
      val gathered = graft.Sessions.gatherCapped(df.select(cols.toSeq: _*), cap)
      require(gathered.nonEmpty,
        s"contaminationFromTemplates: rendered prompts exceed the remaining " +
          s"broadcast budget ($maxPrompts total) — benchmark frames " +
          s"must stay benchmark-sized; got >$cap rows x " +
          s"${ts.length} template(s) for ${ts.map(_.name).mkString(", ")}")
      val rows = gathered.get
      budget -= rows.length * ts.length
      ts.zipWithIndex.flatMap { case (t, i) =>
        rows.iterator.map(r => (t.name, foldPhrase(r.getString(i))))
          .filter(p => !dropBlankPrompts || p._2.trim.nonEmpty).toSeq }
    }.toSeq
    val report =
      Searcher.contaminationByBenchmark(corpus, textCol, phrases, slop,
        uax29, luceneSlop)
    // in the audit mode (dropBlankPrompts), a benchmark whose every
    // prompt dropped — all-blank renders or an empty benchmark frame —
    // surfaces as an explicit zero card instead of vanishing; the
    // default keeps the spec-pinned empty-report library contract
    val present = phrases.iterator.map(_._1).toSet
    val missing =
      if (dropBlankPrompts) benches.map(_._1.name).distinct.filterNot(present)
      else Seq.empty
    if (missing.isEmpty) report
    else {
      val spark = corpus.sparkSession
      import spark.implicits._
      report.unionByName(missing.map(m => (m, 0L, 0L, 0.0))
        .toDF("benchmark", "n_phrases", "n_contaminated", "pct"))
    }
  }
}
