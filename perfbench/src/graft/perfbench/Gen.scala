package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Seeded corpus generator. Everything the checks compare against is known
  * by construction here; the engine only ever sees the written files.
  *
  * Text model (stated in perfbench/SPEC.json):
  *  - a Zipf(s = 1.0) vocabulary of `VocabSize` words whose 40 head ranks
  *    are English stop words (so the Gopher gate's stop-word rule and the
  *    top-n-gram shape look like web text) and whose other ranks are
  *    pronounceable lowercase letter words;
  *  - sentences of 6-24 words, the first capitalized, a comma after ~8% of
  *    words, ending in `.` or `?`; paragraphs of 2-5 sentences, one per line;
  *  - document length log-normal around 160 words, clipped to [60, 900].
  *
  * Planted phrases use tokens starting with "xq", which the vocabulary can
  * never produce, so their occurrence counts are exact. Low-quality docs fail
  * the Gopher gate by construction (too short, one line repeated, or no stop
  * words). Near duplicates change one word in ~100 outside planted tokens,
  * keeping 5-shingle Jaccard near 0.95.
  */
final class Gen(seed: Long) {
  import Gen.VocabSize

  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

  val stopWords: Array[String] = Array(
    "the", "of", "and", "to", "a", "in", "is", "that", "for", "it", "as",
    "was", "with", "be", "on", "not", "he", "by", "are", "this", "or", "at",
    "from", "his", "an", "which", "but", "have", "they", "you", "were",
    "their", "one", "all", "we", "can", "her", "has", "there", "been")

  val vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvwz"
    val vow = "aeiou"
    val seen = scala.collection.mutable.HashSet.empty[String] ++ stopWords
    val out = ArrayBuffer.empty[String] ++ stopWords
    while (out.size < VocabSize) {
      val syl = 2 + rnd.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb.append(cons.charAt(rnd.nextInt(cons.length)))
        sb.append(vow.charAt(rnd.nextInt(vow.length)))
        if (rnd.nextInt(3) == 0) sb.append(cons.charAt(rnd.nextInt(cons.length)))
      }
      val w = sb.toString
      if (seen.add(w)) out += w
    }
    out.toArray
  }

  private val cdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / r)
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  /** Zipf draw over the whole vocabulary (rank 0 = "the"). */
  def word(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** Zipf draw restricted to ranks >= from. */
  def wordFrom(from: Int): Int = {
    var w = word()
    while (w < from) w = word()
    w
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def nextDouble(): Double = rnd.nextDouble()

  /** Word count of a regular document. */
  def docLength(): Int = {
    val g = rnd.nextGaussian()
    math.max(60, math.min(900, math.round(160.0 * math.exp(0.45 * g)).toInt))
  }

  /** A document as sentences of words; planted tokens are kept verbatim. */
  def sentences(nWords: Int, onlyContent: Boolean = false): Array[Array[String]] = {
    val out = ArrayBuffer.empty[Array[String]]
    var left = nWords
    while (left > 0) {
      val n = math.min(left, 6 + rnd.nextInt(19))
      out += Array.fill(n)(vocab(if (onlyContent) wordFrom(stopWords.length) else word()))
      left -= n
    }
    out.toArray
  }

  /** Insert `phrase` tokens after the first word of a random sentence. */
  def plant(doc: Array[Array[String]], phrase: Array[String]): Array[Array[String]] = {
    val i = rnd.nextInt(doc.length)
    val s = doc(i)
    doc.updated(i, (s.take(1) ++ phrase ++ s.drop(1)))
  }

  /** Replace about one word in 100 (at least one), never a planted token. */
  def mutate(doc: Array[Array[String]]): Array[Array[String]] = {
    val copy = doc.map(_.clone())
    val total = copy.map(_.length).sum
    var left = math.max(1, total / 100)
    while (left > 0) {
      val s = copy(rnd.nextInt(copy.length))
      val j = rnd.nextInt(s.length)
      if (!s(j).startsWith("xq")) {
        var w = vocab(word())
        while (w == s(j)) w = vocab(word())
        s(j) = w
        left -= 1
      }
    }
    copy
  }

  /** Render sentences into text: capitals, commas, stops, 2-5 sentences a
    * line. Punctuation draws come from `layout`, so a near duplicate that
    * reuses its source's layout differs only in the replaced words.
    */
  def render(doc: Array[Array[String]], layout: Long): String = {
    val r = new SplittableRandom(layout)
    val sb = new StringBuilder
    var inLine = 0
    var lineLen = 2 + r.nextInt(4)
    doc.zipWithIndex.foreach { case (s, si) =>
      if (si > 0) {
        if (inLine >= lineLen) { sb.append('\n'); inLine = 0; lineLen = 2 + r.nextInt(4) }
        else sb.append(' ')
      }
      s.zipWithIndex.foreach { case (w, wi) =>
        if (wi > 0) sb.append(' ')
        if (wi == 0 && !w.startsWith("xq")) sb.append(w.capitalize) else sb.append(w)
        if (wi < s.length - 1 && r.nextInt(100) < 8 && !w.startsWith("xq") &&
            !s(wi + 1).startsWith("xq")) sb.append(',')
      }
      sb.append(if (r.nextInt(10) == 0) '?' else '.')
      inLine += 1
    }
    sb.toString
  }

  /** A document the Gopher gate rejects: kind 0 too short, 1 one line
    * repeated, 2 no stop words.
    */
  def lowQuality(kind: Int): String = kind match {
    case 0 => render(sentences(10 + rnd.nextInt(30)), rnd.nextLong())
    case 1 =>
      val line = render(sentences(12 + rnd.nextInt(8)), rnd.nextLong())
      Seq.fill(8 + rnd.nextInt(6))(line).mkString("\n")
    case _ => render(sentences(docLength(), onlyContent = true), rnd.nextLong())
  }

  def nextLong(): Long = rnd.nextLong()

  /** `n` distinct planted phrases of 2-4 "xq" tokens. */
  def phrases(n: Int): Array[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = ArrayBuffer.empty[String]
    while (out.size < n) {
      val p = Array.fill(2 + rnd.nextInt(3)) {
        "xq" + (0 until 4 + rnd.nextInt(3)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }.mkString(" ")
      if (seen.add(p)) out += p
    }
    out.toArray
  }
}

/** One generated document with its construction labels. */
final case class GDoc(id: String, text: String, words: Int, phrases: Seq[Int],
                      kind: String)

object Gen {
  /** Words in the vocabulary, stop words included. */
  val VocabSize = 12000

  private def esc(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One JSONL record with the `id` and `text` fields only. */
  def jsonLine(d: GDoc): String = s"""{"id":"${esc(d.id)}","text":"${esc(d.text)}"}""" + "\n"

  /** Write docs as gzipped JSONL. Returns the uncompressed byte count. */
  def writeShard(file: File, docs: Seq[GDoc]): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(file), 1 << 16), StandardCharsets.UTF_8))
    var bytes = 0L
    try docs.foreach { d =>
      val line = jsonLine(d)
      bytes += line.getBytes(StandardCharsets.UTF_8).length
      w.write(line)
    } finally w.close()
    bytes
  }
}
