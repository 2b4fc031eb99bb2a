package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

/** A generated corpus with the facts the checks compare against. */
final case class Scan(docs: IndexedSeq[GDoc], phrases: Array[String],
                      phraseCounts: Array[Long], nearPairs: Set[(String, String)],
                      exactPairs: Set[(String, String)], distinctTexts: Long,
                      totalTokens: Long)

/** One ingest batch: its docs by label. */
final case class Batch(docs: IndexedSeq[GDoc]) {
  def admitted: IndexedSeq[GDoc] = docs.filter(_.kind == "good")
  def count(kind: String): Int = docs.count(_.kind == kind)
}

final case class Ingest(bootstrap: Batch, batches: IndexedSeq[Batch],
                        bench: IndexedSeq[GDoc], phrases: Array[String])

object Corpora {

  /** Planted-phrase doc shares: three head phrases, seven tail phrases. */
  val PhraseShares: Array[Double] = Array(0.06, 0.03, 0.015, 0.006, 0.004,
    0.003, 0.002, 0.0015, 0.001, 0.0005)

  /** Shares of a scan corpus (the rest are regular docs). */
  val LowQualityShare = 0.04
  val ExactDupShare = 0.03
  val NearDupShare = 0.03

  private def regular(g: Gen, id: String, phrases: Array[String],
                      planted: Seq[Int]): (Array[Array[String]], Long, GDoc) = {
    var s = g.sentences(g.docLength())
    planted.foreach(p => s = g.plant(s, phrases(p).split(" ")))
    val layout = g.nextLong()
    (s, layout, GDoc(id, g.render(s, layout), s.map(_.length).sum, planted, "good"))
  }

  private def plantPlan(g: Gen, n: Int): Array[Seq[Int]] = {
    val plan = Array.fill(n)(Seq.empty[Int])
    PhraseShares.zipWithIndex.foreach { case (share, p) =>
      val want = math.max(1, math.round(share * n).toInt)
      val chosen = scala.collection.mutable.HashSet.empty[Int]
      while (chosen.size < want) chosen += g.nextInt(n)
      chosen.foreach(i => plan(i) = plan(i) :+ p)
    }
    plan
  }

  /** Corpus for corpus_scan: `n` docs in generation order. */
  def scan(seed: Long, n: Int): Scan = {
    val g = new Gen(seed)
    val phrases = g.phrases(PhraseShares.length)
    val nLow = math.round(n * LowQualityShare).toInt
    val nDup = math.round(n * ExactDupShare).toInt
    val nNear = math.round(n * NearDupShare).toInt
    val nReg = n - nLow - nDup - nNear
    val plan = plantPlan(g, nReg)
    val regs = (0 until nReg).map(i => regular(g, f"d$i%06d", phrases, plan(i)))
    val docs = ArrayBuffer.empty[GDoc] ++ regs.map(_._3)
    val near = ArrayBuffer.empty[(String, String)]
    var next = nReg
    (0 until nNear).foreach { _ =>
      val (s, layout, src) = regs(g.nextInt(nReg))
      val m = g.mutate(s)
      val d = GDoc(f"d$next%06d", g.render(m, layout), m.map(_.length).sum, src.phrases, "near")
      docs += d; near += ((src.id, d.id)); next += 1
    }
    (0 until nDup).foreach { _ =>
      val src = regs(g.nextInt(nReg))._3
      docs += src.copy(id = f"d$next%06d", kind = "dup")
      next += 1
    }
    (0 until nLow).foreach { i =>
      val t = g.lowQuality(i % 3)
      docs += GDoc(f"d$next%06d", t, t.split("[ \n]").count(_.exists(_.isLetter)), Nil, "low")
      next += 1
    }
    // interleave labels across shards: a deterministic shuffle
    val order = docs.indices.sortBy(i => (i.toLong * 2654435761L + seed) & 0xffffffffL)
    val shuffled = order.map(docs)
    val counts = Array.fill(phrases.length)(0L)
    shuffled.foreach(_.phrases.foreach(p => counts(p) += 1))
    // a dup's source may be chosen twice: pairs among all copies of a text
    val byText = shuffled.groupBy(_.text).values.filter(_.size > 1)
    val exactAll = byText.flatMap { ds =>
      val ids = ds.map(_.id).sorted
      for (i <- ids.indices; j <- ids.indices if i < j) yield (ids(i), ids(j))
    }.toSet
    val nearSet = near.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toSet
    // the tokenizer keeps punctuation marks as tokens
    Scan(shuffled, phrases, counts, nearSet, exactAll, shuffled.map(_.text).distinct.size.toLong,
      shuffled.map(d => d.words.toLong + d.text.count(ch => ch == '.' || ch == ',' || ch == '?')).sum)
  }

  /** Shares of an ingest batch (the rest are unique regular docs). */
  val IngestLowShare = 0.10
  val IngestDupShare = 0.10
  val IngestBenchShare = 0.10

  /** Bootstrap batch plus `batches` arriving batches of `perBatch` docs. */
  def ingest(seed: Long, perBatch: Int, batches: Int): Ingest = {
    val g = new Gen(seed)
    val phrases = g.phrases(PhraseShares.length)
    var next = 0
    def id(): String = { val s = f"i$next%07d"; next += 1; s }
    val admitted = ArrayBuffer.empty[GDoc]
    val bench = ArrayBuffer.empty[GDoc]
    def batch(k: Int): Batch = {
      val nLow = math.round(perBatch * IngestLowShare).toInt
      val nDup = if (admitted.isEmpty) 0 else math.round(perBatch * IngestDupShare).toInt
      val nBench = math.round(perBatch * IngestBenchShare).toInt
      val nGood = perBatch - nLow - nDup - nBench
      val plan = plantPlan(g, nGood)
      val good = (0 until nGood).map(i => regular(g, id(), phrases, plan(i))._3)
      val dups = (0 until nDup).map { _ =>
        admitted(g.nextInt(admitted.size)).copy(id = id(), kind = "dup")
      }
      val contaminated = (0 until nBench).map { _ =>
        val b = regular(g, s"b${bench.size}", phrases, Nil)._3
        bench += b
        b.copy(id = id(), kind = "bench")
      }
      val low = (0 until nLow).map { i =>
        val t = g.lowQuality(i % 3)
        GDoc(id(), t, 0, Nil, "low")
      }
      admitted ++= good
      val all = good ++ dups ++ contaminated ++ low
      Batch(all.indices.sortBy(i => (i.toLong * 2654435761L + k) & 0xffffffffL).map(all))
    }
    val boot = batch(0)
    Ingest(boot, (1 to batches).map(batch), bench.toIndexedSeq, phrases)
  }

  /** Write `docs` as `shards` gzipped JSONL files under dir; returns the
    * uncompressed bytes written.
    */
  def writeShards(dir: File, prefix: String, docs: IndexedSeq[GDoc], shards: Int): Long = {
    val per = (docs.size + shards - 1) / shards
    docs.grouped(per).zipWithIndex.map { case (part, i) =>
      Gen.writeShard(new File(dir, f"$prefix-$i%03d.jsonl.gz"), part)
    }.sum
  }
}
