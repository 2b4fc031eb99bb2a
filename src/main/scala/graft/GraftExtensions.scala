package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions._

/** SparkSessionExtensions module registering every graft custom Catalyst
  * expression as a SQL function, so the whole surface is reachable from
  * `spark.sql(...)` as well as the Column API:
  *
  * {{{
  * val spark = graft.Sessions.local()   // installs these extensions
  * spark.sql("SELECT graft_ngrams(graft_tokenize(text), 3) FROM docs")
  * }}}
  *
  * Outside `Sessions.local`, name the class in `spark.sql.extensions`
  * (`graft.GraftExtensions`), or call [[GraftExtensions.register]] on a
  * session that is already built.
  *
  * Literal-argument helpers fail analysis (not execution) on non-literal
  * static parameters like minhash k — same contract as Spark's own
  * parameterized builtins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), GraftExtensions.info(name, usage), builder))
    }
    ext.injectOptimizerRule(_ => IntersectSizeRewrite)
  }
}

object GraftExtensions {

  /** Register into an ALREADY-BUILT session (extensions normally bind at
    * build time) — for notebooks/REPLs attached to an existing session.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    Sessions.tune(spark)
    // a session that already resolves the functions got the rule too:
    // injected at build (Sessions.local) or added by an earlier register
    val installed = spark.sessionState.functionRegistry
      .functionExists(FunctionIdentifier(functions.head._1))
    functions.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info(name, usage), builder)
    }
    // optimizer rules can't be injected post-build; experimental methods can
    if (!installed)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntersectSizeRewrite
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def mergesLit(e: Expression): Seq[(String, String)] = {
    require(e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
      s"merges must be a foldable array<string> of 'a b' pairs, got $e")
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until arr.numElements()).map { i =>
      val s = arr.getUTF8String(i).toString
      val sp = s.indexOf(' ')
      require(sp > 0, s"merge entry '$s' is not 'a b'-shaped")
      (s.substring(0, sp), s.substring(sp + 1))
    }
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** A foldable array<array<string>> battery (phrase token arrays, the
    * [[graft.functions.expressions.PhraseMatch]] phrase_tokens contract)
    * evaluated at analysis time and broadcast once — the SQL door into
    * the [[graft.functions.expressions.MultiPhrasesFound]] kernel. A
    * phrase containing a NULL token can never match (same as the
    * two-arg predicate); a NULL phrase entry is rejected here.
    */
  private def batteryLit(e: Expression): org.apache.spark.broadcast.Broadcast[
      Array[Array[org.apache.spark.unsafe.types.UTF8String]]] = {
    val ok = e.foldable && (e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _), _) => true
      case _ => false
    })
    require(ok,
      s"battery must be a foldable array<array<string>> of phrase token arrays, got $e")
    val arr = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val ps = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i), s"battery entry $i is null — every phrase " +
        "must be a token array (possibly empty)")
      val inner = arr.getArray(i)
      (0 until inner.numElements()).map(j =>
        if (inner.isNullAt(j)) null else inner.getUTF8String(j)).toArray
    }.toArray
    org.apache.spark.sql.SparkSession.active.sparkContext.broadcast(ps)
  }

  private val functions: Seq[(String, String, FunctionBuilder)] = Seq(
    ("graft_tokenize", "UAX-29 word tokenization (whitespace dropped)",
      (args: Seq[Expression]) => Tokenize(args.head)),
    ("graft_ngrams", "graft_ngrams(tokens, n): space-joined sliding n-grams",
      (args: Seq[Expression]) => NGramsJoined(args(0), args(1))),
    ("graft_dot", "graft_dot(a, b): sequential dot product of double arrays",
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    ("graft_phrase_match", "graft_phrase_match(tokens, phrase_tokens, slop)",
      (args: Seq[Expression]) => PhraseMatch(args(0), args(1), args(2))),
    ("graft_phrase_match_lucene",
      "graft_phrase_match_lucene(tokens, phrase_tokens, slop): Lucene move-distance slop",
      (args: Seq[Expression]) => PhraseMatchLucene(args(0), args(1), args(2))),
    ("graft_regex_offsets", "graft_regex_offsets(text, pattern): [start,end) match spans",
      (args: Seq[Expression]) => RegexMatchOffsets(args(0), args(1))),
    ("graft_minhash", "graft_minhash(tokens, w, k, md5_parity): inline MinHash signature",
      (args: Seq[Expression]) => MinHashSignature(args(0),
        intLit(args(1), "w"), intLit(args(2), "k"), boolLit(args(3), "md5_parity"))),
    ("graft_simhash", "graft_simhash(tokens, n_bits, md5_parity): inline SimHash fingerprint",
      (args: Seq[Expression]) => SimHashFingerprint(args(0),
        intLit(args(1), "n_bits"), boolLit(args(2), "md5_parity"))),
    ("graft_feature_hash",
      "graft_feature_hash(tokens, dim, md5_parity): signed feature-hash embedding (array<double>)",
      (args: Seq[Expression]) => HashedEmbedding(args(0),
        intLit(args(1), "dim"), boolLit(args(2), "md5_parity"))),
    ("graft_count_seq", "graft_count_seq(tokens, phrase_tokens): sliding-window occurrence count",
      (args: Seq[Expression]) => CountTokenSeq(args(0), args(1))),
    ("graft_multi_phrases",
      "graft_multi_phrases(tokens, battery[, first_only[, slop]]): ascending DISTINCT indices of the literal array<array<string>> battery's phrases contained in tokens (insertion-budget slop, 0 = exact adjacency); first_only=true stops at the first hit (existence probes)",
      (args: Seq[Expression]) => MultiPhrasesFound(args(0), batteryLit(args(1)),
        if (args.length > 2) boolLit(args(2), "first_only") else false,
        if (args.length > 3) intLit(args(3), "slop") else 0)),
    ("graft_term_postings",
      "graft_term_postings(tokens): per-doc inverted-index rows (term, positions)",
      (args: Seq[Expression]) => TermPostings(args.head)),
    ("graft_phrase_slop_positions",
      "graft_phrase_slop_positions(pos_arrays, dl, slop): Lucene sloppy phrase over stored positions",
      (args: Seq[Expression]) => PhraseSlopPositions(args(0), args(1), args(2))),
    ("graft_winnow", "graft_winnow(tokens, k, w): rolling-hash winnowing fingerprints",
      (args: Seq[Expression]) => WinnowFingerprints(args(0),
        intLit(args(1), "k"), intLit(args(2), "w"))),
    ("graft_intersect_size",
      "graft_intersect_size(a, b): |distinct(a) ∩ distinct(b)| without the intermediate array",
      (args: Seq[Expression]) => IntersectionSize(args(0), args(1))),
    ("graft_bpe_encode",
      "graft_bpe_encode(text, merges): BPE subword tokens under a literal array of 'a b' merges",
      (args: Seq[Expression]) => BpeEncode(args(0), mergesLit(args(1)))),
    ("graft_normalize",
      "graft_normalize(text, nfkc): Unicode repair — NFC/NFKC, CRLF->LF, unicode spaces->' ', zero-width/control strip",
      (args: Seq[Expression]) => NormalizeText(args(0), boolLit(args(1), "nfkc"))),
    ("graft_fix_mojibake",
      "graft_fix_mojibake(text): repair UTF-8 mis-decoded as cp1252/latin-1 (ftfy-style; run before graft_normalize)",
      (args: Seq[Expression]) => FixMojibake(args(0))),
    ("graft_repetition",
      "graft_repetition(text): Gopher repetition signals [dup_line, dup_line_char, top2..4gram_char, dup5..10gram_char]",
      (args: Seq[Expression]) => RepetitionSignals(args(0))),
    ("graft_langid",
      "graft_langid(text): Cavnar–Trenkle language code under the embedded seed profiles ('un' when no letters)",
      (args: Seq[Expression]) => CtLangId(args.head,
        graft.operators.LangId.ctProfiles())),
    ("graft_valence",
      "graft_valence(tokens): [n_assessed, polarity] under the embedded English valence lexicon (intensifiers + negation)",
      (args: Seq[Expression]) => ValencePolarity(args.head,
        graft.operators.Valence.default.toSeq.sortBy(_._1),
        graft.operators.Valence.boosters.toSeq.sortBy(_._1),
        graft.operators.Valence.negators.distinct.sorted)),

    ("graft_blake2b_es_id",
      "graft_blake2b_es_id(url): blake2b-512 hexdigest of the stripped string — the reference's ES document id",
      (args: Seq[Expression]) => Blake2bEsId(args.head))
  )
}
