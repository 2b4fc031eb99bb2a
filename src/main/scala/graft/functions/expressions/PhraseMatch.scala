package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** ES-`match_phrase`-with-slop analogue over token arrays (reference
  * wimbd/es/__init__.py:89-184 and docstring at :149-153: a slop=1 query
  * "I like" matches "I really like", "I would like", ...).
  *
  * Two slop semantics, each its own codegen'd predicate:
  *  - [[PhraseMatchKernel.matches]] (expression [[PhraseMatch]]): phrase
  *    tokens in order, TOTAL extra tokens inserted between consecutive
  *    phrase tokens ≤ slop; slop=0 is exact adjacency (≡ n-gram equality).
  *    This is what the reference docstring examples describe.
  *  - [[PhraseMatchKernel.matchesLucene]] (expression [[PhraseMatchLucene]]):
  *    Lucene's move-distance budget — also buys transpositions (slop ≥ 2
  *    matches reversed terms), for users relying on ES/Lucene scoring
  *    semantics rather than the docstring.
  */
object PhraseMatchKernel {
  def matches(tokens: ArrayData, phrase: ArrayData, slop: Int): Boolean = {
    val n = tokens.numElements()
    val m = phrase.numElements()
    if (m == 0) return true
    if (n < m) return false
    val first = phrase.getUTF8String(0)
    var start = 0
    while (start <= n - m) {
      if (tokens.getUTF8String(start).equals(first) &&
        tryFrom(tokens, phrase, start, slop)) return true
      start += 1
    }
    false
  }

  /** Greedy-with-backtracking subsequence match anchored at `start`:
    * DP over (phrase position, gap budget) is overkill for the tiny m and
    * slop in practice — a bounded recursion is simpler and allocation-free.
    */
  private def tryFrom(tokens: ArrayData, phrase: ArrayData, start: Int, slop: Int): Boolean = {
    def rec(ti: Int, pi: Int, budget: Int): Boolean = {
      if (pi == phrase.numElements()) return true
      if (ti >= tokens.numElements()) return false
      var gap = 0
      while (gap <= budget && ti + gap < tokens.numElements()) {
        if (tokens.getUTF8String(ti + gap).equals(phrase.getUTF8String(pi)) &&
          rec(ti + gap + 1, pi + 1, budget - gap)) return true
        gap += 1
      }
      false
    }
    rec(start + 1, 1, slop)
  }

  /** Lucene-parity sloppy match (`match_phrase` slop as Lucene's
    * SloppyPhraseScorer scores it): phrase term i carries query offset i;
    * the doc matches iff there are distinct doc positions p_i with
    * token(p_i) = term_i and max(p_i - i) - min(p_i - i) ≤ slop. This is the
    * move-distance budget — slop ≥ 2 buys a transposition ("b a" matches
    * phrase "a b"), which the insertion-only [[matches]] never does.
    */
  def matchesLucene(tokens: ArrayData, phrase: ArrayData, slop0: Int): Boolean = {
    val n = tokens.numElements()
    val m = phrase.numElements()
    if (m == 0) return true
    if (n < m) return false
    // clamp like the walker's windowed verify: a spread bound above n + m
    // is unreachable inside one document, and unclamped the
    // matchesPositions window check `b + m - 1 < n + slop` overflows into
    // false NEGATIVES at slop near Int.MaxValue
    val slop = math.min(slop0, n + m)
    // doc positions per phrase term (m is tiny; n bounded by doc length)
    val pos = new Array[Array[Int]](m)
    var i = 0
    while (i < m) {
      val t = phrase.getUTF8String(i)
      var sameAs = -1
      var j = 0
      while (sameAs < 0 && j < i) {
        if (phrase.getUTF8String(j).equals(t)) sameAs = j
        j += 1
      }
      if (sameAs >= 0) pos(i) = pos(sameAs)
      else {
        val buf = new Array[Int](n)
        var len = 0
        var p = 0
        while (p < n) {
          if (tokens.getUTF8String(p).equals(t)) { buf(len) = p; len += 1 }
          p += 1
        }
        if (len == 0) return false
        pos(i) = java.util.Arrays.copyOf(buf, len)
      }
      i += 1
    }
    matchesPositions(pos, n, slop)
  }

  /** The positions-level core of [[matchesLucene]]: `pos(i)` = sorted doc
    * positions of phrase term i (duplicate phrase terms may share arrays —
    * the distinct-position constraint disambiguates), `n` = doc token
    * length. Public so the inverted-index tier can run the IDENTICAL
    * matcher on stored postings without the document in hand.
    */
  def matchesPositions(pos: Array[Array[Int]], n: Int, slop: Int): Boolean = {
    val m = pos.length
    if (m == 0) return true
    // For a window base b, term i needs an unused position in
    // [b+i, b+i+slop]. Windows shift right with i and share one length, so
    // greedy earliest-deadline (phrase order, smallest feasible position)
    // is an exact interval-matching check. Candidate bases: every p - i.
    val used = new Array[Int](m)
    var ti = 0
    while (ti < m) {
      val ps = pos(ti)
      var pi = 0
      while (pi < ps.length) {
        // adjusted position may be negative (a term matched earlier in the
        // doc than its phrase offset — exactly the transposition case)
        val b = ps(pi) - ti
        if (b > -m && b + m - 1 < n + slop) {
          var ok = true
          var k = 0
          while (ok && k < m) {
            val lo = b + k
            val hi = b + k + slop
            val cand = pos(k)
            var found = -1
            var c = 0
            while (found < 0 && c < cand.length) {
              val p = cand(c)
              if (p >= lo && p <= hi) {
                var clash = false
                var u = 0
                while (!clash && u < k) { clash = used(u) == p; u += 1 }
                if (!clash) found = p
              }
              c += 1
            }
            if (found < 0) ok = false else used(k) = found
            k += 1
          }
          if (ok) return true
        }
        pi += 1
      }
      ti += 1
    }
    false
  }
}

/** Exact token-sequence occurrence count: the reference's `count_occurences`
  * sliding-window compare (src/cmd/count.rs:191-208) — every end offset
  * tested, overlaps counted.
  */
object CountTokenSeqKernel {
  def count(tokens: ArrayData, phrase: ArrayData): Long = {
    val n = tokens.numElements()
    val m = phrase.numElements()
    if (m == 0 || m > n) return 0L
    var c = 0L
    var i = 0
    while (i <= n - m) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        ok = tokens.getUTF8String(i + j).equals(phrase.getUTF8String(j))
        j += 1
      }
      if (ok) c += 1
      i += 1
    }
    c
  }
}

/** Codegen'd occurrence count of a token sequence inside a token array —
  * lets `wimbd count` run as a scan-fused scalar aggregation with no
  * n-gram explode and no join.
  */
case class CountTokenSeq(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"graft_count_seq needs (array<string>, array<string>), got (${a.sql}, ${b.sql})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_seq"

  protected override def nullSafeEval(tokens: Any, phrase: Any): Any =
    CountTokenSeqKernel.count(tokens.asInstanceOf[ArrayData], phrase.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) =>
      s"graft.functions.expressions.CountTokenSeqKernel.count($t, $p)")

  protected override def withNewChildrenInternal(
      l: Expression, r: Expression): CountTokenSeq = copy(left = l, right = r)
}

/** Lucene-parity sloppy phrase predicate — see
  * [[PhraseMatchKernel.matchesLucene]]. Kept as a separate expression (not a
  * mode flag) so each stays a fixed-arity codegen'd predicate.
  */
case class PhraseMatchLucene(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_phrase_match_lucene needs (array<string>, array<string>, int), got (${a.sql}, ${b.sql}, ${c.sql})")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_phrase_match_lucene"

  protected override def nullSafeEval(tokens: Any, phrase: Any, slop: Any): Any =
    PhraseMatchKernel.matchesLucene(tokens.asInstanceOf[ArrayData],
      phrase.asInstanceOf[ArrayData], slop.asInstanceOf[Int])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p, s) =>
      s"graft.functions.expressions.PhraseMatchKernel.matchesLucene($t, $p, $s)")

  protected override def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PhraseMatchLucene =
    copy(first = f, second = s, third = t)
}

case class PhraseMatch(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_phrase_match needs (array<string>, array<string>, int), got (${a.sql}, ${b.sql}, ${c.sql})")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_phrase_match"

  protected override def nullSafeEval(tokens: Any, phrase: Any, slop: Any): Any =
    PhraseMatchKernel.matches(tokens.asInstanceOf[ArrayData],
      phrase.asInstanceOf[ArrayData], slop.asInstanceOf[Int])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p, s) =>
      s"graft.functions.expressions.PhraseMatchKernel.matches($t, $p, $s)")

  protected override def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PhraseMatch =
    copy(first = f, second = s, third = t)
}


/** Shared machinery for the battery kernels ([[MultiPhrasesFound]],
  * [[MultiExamplesMatched]]): a first-token hash index over the tokenized
  * battery plus the single-pass document walk that records each DISTINCT
  * matched phrase once. All scratch (epoch-stamped hit marks, the match
  * buffer) is per-instance and reused across rows — no O(P) clearing and
  * no allocation in the row loop. Expression instances are deserialized
  * per task and evaluated single-threaded, the standard mutable-state
  * contract for codegen'd kernels; building the index per task is O(P),
  * negligible next to any partition's scan, and avoids a process-lifetime
  * cache keyed by broadcast id (a leak in long-lived sessions).
  */
/** The IMMUTABLE per-battery index shared by every walker over the same
  * broadcast battery: empty-phrase list, the first-token candidate lists
  * (slop dialects), and the exact-adjacency token trie. The latter two
  * are lazy — a battery serving one dialect never pays the other's
  * O(battery) build — and thread-safe to share (lazy-val init is
  * synchronized; the structures are read-only after publication).
  *
  * Walkers used to own these structures, which rebuilt them PER TASK
  * (Catalyst deserializes expression references per task binary): at 64k
  * phrases that is tens of MB of trie per concurrent task. [[BatteryIndex.of]]
  * caches ONE index per broadcast battery per executor, keyed weakly by
  * the broadcast's deserialized array identity so entries die with the
  * broadcast instead of accumulating over a long-lived session.
  */
private[graft] final class BatteryIndex(
    val ps: Array[Array[org.apache.spark.unsafe.types.UTF8String]]) {

  val alwaysHit: Array[Int] = {
    val always = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < ps.length) { if (ps(i).length == 0) always += i; i += 1 }
    always.toArray
  }

  lazy val firstTok: java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
      scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < ps.length) {
      if (ps(i).length > 0) {
        var b = m.get(ps(i)(0))
        if (b == null) { b = scala.collection.mutable.ArrayBuffer[Int](); m.put(ps(i)(0), b) }
        b += i
      }
      i += 1
    }
    val packed = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Array[Int]](m.size)
    m.forEach((k, v) => packed.put(k, v.toArray))
    packed
  }

  /** Exact-adjacency token TRIE over the battery (one node per distinct
    * token path, terminals carry the phrase indices ending there —
    * duplicates share a terminal). The first-token candidate lists above
    * degrade to O(colliding candidates × len) per anchor when many
    * phrases share a prefix (a 64k battery of shared-prefix variants:
    * 12 s where 4k took 0.6 s, SCALE.md's wide-battery row); the trie walks
    * the SHARED prefix once, so per-anchor cost is bounded by the
    * deepest matching path — P-independent even under full-prefix
    * collision. Used by the slop=0 paths of the walker's walk/walkCounts;
    * the slop dialects keep the candidate lists (their verification is
    * anchored subsequence/window matching, not prefix descent).
    */
  lazy val trieRoot: TrieNode = {
    val root = new TrieNode
    var i = 0
    while (i < ps.length) {
      val ph = ps(i)
      if (ph.length > 0) {
        var node = root
        var j = 0
        while (j < ph.length) {
          if (node.children == null)
            node.children = new java.util.HashMap()
          var c = node.children.get(ph(j))
          if (c == null) { c = new TrieNode; node.children.put(ph(j), c) }
          node = c
          j += 1
        }
        // duplicates accumulate in a buffer (amortized growth — the
        // array-append shape was O(dups^2) per build on batteries with a
        // heavily repeated phrase); packTerminals flattens post-build
        if (node.terminalBuf == null)
          node.terminalBuf = new scala.collection.mutable.ArrayBuffer[Int](1)
        node.terminalBuf += i
      }
      i += 1
    }
    packTerminals(root)
    root
  }

  private def packTerminals(node: TrieNode): Unit = {
    if (node.terminalBuf != null) {
      node.terminal = node.terminalBuf.toArray
      node.terminalBuf = null
    }
    if (node.children != null)
      node.children.forEach((_, c) => packTerminals(c))
  }
}

private[graft] final class TrieNode {
  var children: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
    TrieNode] = null
  var terminalBuf: scala.collection.mutable.ArrayBuffer[Int] = null
  var terminal: Array[Int] = null
}

private[graft] object BatteryIndex {
  // weak keys on the broadcast's deserialized array (identity equals for
  // arrays) AND weak values: the index strongly references its ps (the
  // key), so a strong-valued WeakHashMap could never reclaim an entry —
  // the value must be weakly held too. Live walkers keep their index
  // strongly reachable while in use; once the broadcast block and every
  // walker are gone, both key and value collect. A rare race can build
  // two indexes for one battery — both valid, one wins the map.
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef,
      java.lang.ref.WeakReference[BatteryIndex]]())

  def of(ps: Array[Array[org.apache.spark.unsafe.types.UTF8String]])
      : BatteryIndex = {
    val ref = cache.get(ps)
    val cached = if (ref == null) null else ref.get()
    if (cached != null) cached
    else {
      val idx = new BatteryIndex(ps)
      cache.put(ps, new java.lang.ref.WeakReference(idx))
      idx
    }
  }

  /** Test visibility: the live index cached for `ps`, if any — reads the
    * map without the build-on-miss side effect so specs can observe
    * convergence (one live entry per battery after a concurrent first
    * use) and reclamation (entry gone once the battery is unreachable).
    */
  private[graft] def cachedFor(
      ps: Array[Array[org.apache.spark.unsafe.types.UTF8String]])
      : Option[BatteryIndex] = {
    val ref = cache.get(ps)
    Option(if (ref == null) null else ref.get())
  }
}

private[graft] final class FirstTokenWalker(index: BatteryIndex) {

  /** Test/one-off convenience: a private unshared index. */
  def this(ps: Array[Array[org.apache.spark.unsafe.types.UTF8String]]) =
    this(new BatteryIndex(ps))

  private def ps = index.ps
  private def alwaysHit = index.alwaysHit
  private def firstTok = index.firstTok
  private def trieRoot = index.trieRoot

  // per-walker SCRATCH (one walker per expression instance per task —
  // small, O(battery) longs; the heavyweight structures live in the
  // shared immutable index above)
  private val hitStamp = new Array[Long](ps.length)
  private var epoch = 0L
  private var matchBuf = new Array[Int](math.min(math.max(ps.length, 1), 64))

  /** Indices of the phrases matched by the last [[walk]], in discovery
    * order (empty-token phrases first, then first-occurrence order),
    * valid in positions 0 until the returned count.
    */
  def matches: Array[Int] = matchBuf

  /** The [[PhraseMatchKernel.matches]] insertion-budget matcher anchored
    * at `start` (whose token already equals `ph(0)`), over an
    * Array[UTF8String] phrase: phrase tokens in order, TOTAL inserted
    * tokens between consecutive phrase tokens ≤ budget. Null document
    * tokens match nothing (the walker's contract).
    */
  private def sloppyFrom(tokens: ArrayData, ph: Array[org.apache.spark.unsafe.types.UTF8String],
                         start: Int, slop: Int): Boolean = {
    val n = tokens.numElements()
    def rec(ti: Int, pi: Int, budget: Int): Boolean = {
      if (pi == ph.length) return true
      var gap = 0
      while (gap <= budget && ti + gap < n) {
        if (!tokens.isNullAt(ti + gap) &&
          tokens.getUTF8String(ti + gap).equals(ph(pi)) &&
          rec(ti + gap + 1, pi + 1, budget - gap)) return true
        gap += 1
      }
      false
    }
    rec(start + 1, 1, slop)
  }

  /** The [[PhraseMatchKernel.matchesLucene]] move-distance matcher
    * anchored at `anchor` (whose token already equals `ph(0)`): does a
    * matching assignment exist whose term-0 position is NEAR the anchor?
    * Under the move-distance budget every position of a match with
    * p_0 = anchor lies in [anchor − slop, anchor + (m−1) + slop], so the
    * per-term position gathering is bounded by m + 2·slop window tokens —
    * and since a global match has SOME term-0 occurrence as its p_0, the
    * union over all first-token anchors the walker visits is exactly
    * [[PhraseMatchKernel.matchesLucene]] (re-verification across nearby
    * anchors costs work, never correctness — the walker dedups matched
    * phrases per epoch). The positions-level core is the SAME
    * [[PhraseMatchKernel.matchesPositions]] the index tier runs.
    */
  private def luceneFrom(tokens: ArrayData,
                         ph: Array[org.apache.spark.unsafe.types.UTF8String],
                         anchor: Int, slop0: Int): Boolean = {
    val m = ph.length
    val n = tokens.numElements()
    // clamp: adjusted-position spread inside one document never exceeds
    // n + m, so any larger slop is equivalent — and unclamped,
    // anchor + (m-1) + Int.MaxValue wraps negative and the window buffer
    // allocation throws instead of matching
    val slop = math.min(slop0, n + m)
    val lo = math.max(0, anchor - slop)
    val hi = math.min(n - 1, anchor + (m - 1) + slop)
    val pos = new Array[Array[Int]](m)
    var i = 0
    while (i < m) {
      var sameAs = -1
      var j = 0
      while (sameAs < 0 && j < i) { if (ph(j).equals(ph(i))) sameAs = j; j += 1 }
      if (sameAs >= 0) pos(i) = pos(sameAs)
      else {
        val buf = new Array[Int](hi - lo + 1)
        var len = 0
        var p = lo
        while (p <= hi) {
          if (!tokens.isNullAt(p) && tokens.getUTF8String(p).equals(ph(i))) {
            buf(len) = p; len += 1
          }
          p += 1
        }
        if (len == 0) return false
        pos(i) = java.util.Arrays.copyOf(buf, len)
      }
      i += 1
    }
    PhraseMatchKernel.matchesPositions(pos, n, slop)
  }

  /** Per-phrase OCCURRENCE totals over the last [[walkCounts]], aligned
    * with [[matches]]: `counts(matches(i))` is phrase `matches(i)`'s
    * count, for i in 0 until the returned touched-phrase count.
    */
  def counts: Array[Long] = cntBuf
  private var cntBuf = new Array[Long](ps.length)

  /** Walk `tokens` once counting EVERY anchored occurrence of every
    * phrase (overlaps included — the [[CountTokenSeqKernel]] contract,
    * whose m==0 result is 0, so empty-token phrases are NOT counted
    * here, unlike [[walk]]'s containment semantics). Exact adjacency
    * only. Returns how many phrases occurred at least once; their
    * indices land in [[matches]], their totals in [[counts]].
    */
  def walkCounts(tokens: ArrayData): Int = {
    epoch += 1
    val n = tokens.numElements()
    var touched = 0
    def bump(p: Int): Unit = {
      if (hitStamp(p) != epoch) {
        hitStamp(p) = epoch
        cntBuf(p) = 0L
        if (touched == matchBuf.length)
          matchBuf = java.util.Arrays.copyOf(matchBuf, matchBuf.length * 2)
        matchBuf(touched) = p
        touched += 1
      }
      cntBuf(p) += 1L
    }
    var t = 0
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        // trie descent from this anchor: shared prefixes walk once, every
        // terminal passed is an anchored occurrence of its phrases
        var node = trieRoot
        var j = t
        var go = true
        while (go) {
          val ch =
            if (node.children == null || j >= n || tokens.isNullAt(j)) null
            else node.children.get(tokens.getUTF8String(j))
          if (ch == null) go = false
          else {
            node = ch
            j += 1
            val term = node.terminal
            if (term != null) {
              var k = 0
              while (k < term.length) { bump(term(k)); k += 1 }
            }
          }
        }
      }
      t += 1
    }
    touched
  }

  /** Walk `tokens` once; record each DISTINCT matched phrase into
    * [[matches]] and return how many matched. `slop` is the
    * [[PhraseMatchKernel.matches]] insertion budget (0 = exact
    * adjacency); the first phrase token always anchors the candidate
    * lookup — slop buys gaps BETWEEN tokens, not before the first, so
    * the first-token index prunes identically at every slop. Stops as
    * soon as `maxMatches` phrases have matched — pass 1 for an
    * existence probe, `ps.length` (or more) for the full set.
    *
    * `lucene = true` switches slop > 0 verification to the
    * [[PhraseMatchKernel.matchesLucene]] move-distance dialect (ES
    * `match_phrase` slop) via [[luceneFrom]] — the first-token index
    * still prunes completely because every move-distance match contains
    * an occurrence of the first phrase token somewhere, and the walker
    * anchors on ALL of them. At slop 0 the dialects coincide and the
    * exact-adjacency fast path runs either way.
    */
  def walk(tokens: ArrayData, maxMatches: Int, slop: Int = 0,
           lucene: Boolean = false): Int = {
    epoch += 1
    val n = tokens.numElements()
    var matched = 0
    def record(p: Int): Unit = {
      hitStamp(p) = epoch
      if (matched == matchBuf.length)
        matchBuf = java.util.Arrays.copyOf(matchBuf, matchBuf.length * 2)
      matchBuf(matched) = p
      matched += 1
    }
    var a = 0
    while (a < alwaysHit.length && matched < maxMatches) {
      record(alwaysHit(a)); a += 1
    }
    var t = 0
    if (slop == 0) {
      // exact adjacency (both dialects coincide): trie descent — shared
      // prefixes walk once per anchor, P-independent under collision
      while (t < n && matched < maxMatches) {
        if (!tokens.isNullAt(t)) {
          var node = trieRoot
          var j = t
          var go = true
          while (go && matched < maxMatches) {
            val ch =
              if (node.children == null || j >= n || tokens.isNullAt(j)) null
              else node.children.get(tokens.getUTF8String(j))
            if (ch == null) go = false
            else {
              node = ch
              j += 1
              val term = node.terminal
              if (term != null) {
                var k = 0
                while (k < term.length && matched < maxMatches) {
                  val p = term(k)
                  if (hitStamp(p) != epoch) record(p)
                  k += 1
                }
              }
            }
          }
        }
        t += 1
      }
      return matched
    }
    while (t < n && matched < maxMatches) {
      if (!tokens.isNullAt(t)) {
        val cands = firstTok.get(tokens.getUTF8String(t))
        if (cands != null) {
          var ci = 0
          while (ci < cands.length && matched < maxMatches) {
            val p = cands(ci)
            if (hitStamp(p) != epoch) {
              val ph = ps(p)
              if (lucene && ph.length > 1) {
                // move-distance: positions may precede the anchor (the
                // transposition case), so the t + len <= n pre-filter
                // below would wrongly reject end-of-doc anchors
                if (luceneFrom(tokens, ph, t, slop)) record(p)
              } else if (t + ph.length <= n) {
                if (sloppyFrom(tokens, ph, t, slop)) record(p)
              }
            }
            ci += 1
          }
        }
      }
      t += 1
    }
    matched
  }
}

/** Set-oriented multi-phrase containment: WHICH of a broadcast battery of
  * token-sequence phrases occur in this row's token array — at the
  * expression's `slop` under the [[PhraseMatch]] insertion-budget
  * semantics (slop=0 is exact adjacency, the reference's sliding-window
  * compare, src/cmd/count.rs:191-208), or with `lucene = true` under the
  * [[PhraseMatchLucene]] move-distance dialect (ES `match_phrase` slop,
  * reference wimbd/es/__init__.py:106-113) — as the array<int> of
  * DISTINCT matched phrase indices ascending.
  *
  * The per-phrase predicate-column shape (`Searcher.countPerPhrase`)
  * evaluates one token-seq scan per phrase per row and aggregates one
  * column per phrase — per-row cost AND plan size are O(P), which caps
  * the scan-tier contamination surface at a few hundred phrases. This
  * kernel walks the tokens ONCE against a first-token hash index of the
  * battery — O(len + candidate verifications) per row however large P
  * grows (promptsource-scale: tens of thousands of rendered prompts) —
  * and the battery ships per executor via the broadcast, not per task.
  *
  * Contract parity with the per-phrase predicates: an EMPTY-token phrase
  * matches every document ([[PhraseMatchKernel.matches]] m==0 → true);
  * null input tokens → null output (the per-phrase predicate is null
  * there too); a null element inside the token array matches nothing.
  * Duplicate phrases each report their own index.
  *
  * `firstOnly = true` is the EXISTENCE mode for ANY-semantics filters:
  * the walk stops at the first match and the output is a 0/1-element
  * array — `size(...) > 0` then costs O(position of first hit) per
  * matching row instead of a full-battery walk.
  */
case class MultiPhrasesFound(child: Expression,
    phrases: org.apache.spark.broadcast.Broadcast[
      Array[Array[org.apache.spark.unsafe.types.UTF8String]]],
    firstOnly: Boolean = false,
    slop: Int = 0,
    lucene: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(slop >= 0, s"slop must be >= 0, got $slop")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_multi_phrases needs array<string> tokens, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_multi_phrases"

  @transient private lazy val walker =
    new FirstTokenWalker(BatteryIndex.of(phrases.value))

  def found(tokens: ArrayData): ArrayData = {
    val w = walker
    val count = w.walk(tokens, if (firstOnly) 1 else Int.MaxValue, slop,
      lucene)
    val arr = java.util.Arrays.copyOf(w.matches, count)
    java.util.Arrays.sort(arr)
    val boxed = new Array[Any](count)
    var b = 0
    while (b < count) { boxed(b) = arr(b); b += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed)
  }

  protected override def nullSafeEval(input: Any): Any =
    found(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiPhrases", this,
      classOf[MultiPhrasesFound].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.found($c);")
  }

  override def equals(other: Any): Boolean = other match {
    case e: MultiPhrasesFound =>
      (this eq e) || (child == e.child && phrases.id == e.phrases.id &&
        firstOnly == e.firstOnly && slop == e.slop && lucene == e.lucene)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(classOf[MultiPhrasesFound], child,
      java.lang.Long.valueOf(phrases.id), java.lang.Boolean.valueOf(firstOnly),
      Integer.valueOf(slop), java.lang.Boolean.valueOf(lucene))

  protected override def withNewChildInternal(newChild: Expression): MultiPhrasesFound =
    copy(child = newChild)
}

/** The example-level sibling of [[MultiPhrasesFound]]: WHICH of a battery
  * of EXAMPLES — each a conjunction of field phrases (the reference's
  * paired contamination, wimbd/es/corpus_contamination.py:44-58: a doc
  * counts only if it contains ALL of an example's fields) — are fully
  * contained in this row's token array. One document walk over the
  * DISTINCT field set (the shared [[FirstTokenWalker]]); matched fields
  * bump epoch-stamped per-example counters through a field→examples
  * fan-out index, and an example emits when its counter reaches its
  * (distinct) field count — per-row cost O(len + matched-fields ×
  * fan-out), independent of the example count.
  *
  * The per-example conjunction-column shape (`Searcher.countPerExample`)
  * is O(E·fields·len) per row with an E-column plan: the same wall
  * [[MultiPhrasesFound]] removes for flat batteries, at the scale a full
  * benchmark's example list reaches (thousands of question+answer pairs).
  *
  * Output: array<int> of matched example indices ascending; null tokens →
  * null (conjunction-of-nulls parity: such rows never count); an example
  * whose every field is the EMPTY token sequence matches every document.
  */
case class MultiExamplesMatched(child: Expression,
    fields: org.apache.spark.broadcast.Broadcast[
      Array[Array[org.apache.spark.unsafe.types.UTF8String]]],
    fieldExamples: org.apache.spark.broadcast.Broadcast[Array[Array[Int]]],
    needCounts: org.apache.spark.broadcast.Broadcast[Array[Int]],
    slop: Int = 0,
    lucene: Boolean = false)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(slop >= 0, s"slop must be >= 0, got $slop")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_multi_examples needs array<string> tokens, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_multi_examples"

  @transient private lazy val walker =
    new FirstTokenWalker(BatteryIndex.of(fields.value))

  // per-task scratch: epoch-stamped example counters — touched entries
  // only, no O(E) clear per row (same contract as the walker's scratch)
  @transient private lazy val exCount = new Array[Int](needCounts.value.length)
  @transient private lazy val exStamp = new Array[Long](needCounts.value.length)
  @transient private var epoch = 0L

  def matched(tokens: ArrayData): ArrayData = {
    val fanOut = fieldExamples.value
    val need = needCounts.value
    val w = walker
    epoch += 1
    val count = w.walk(tokens, Int.MaxValue, slop, lucene)
    val fieldsMatched = w.matches
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < count) {
      val exs = fanOut(fieldsMatched(i))
      var e = 0
      while (e < exs.length) {
        val ex = exs(e)
        if (exStamp(ex) != epoch) { exStamp(ex) = epoch; exCount(ex) = 0 }
        exCount(ex) += 1
        if (exCount(ex) == need(ex)) out += ex
        e += 1
      }
      i += 1
    }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    val boxed = new Array[Any](arr.length)
    var b = 0
    while (b < arr.length) { boxed(b) = arr(b); b += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed)
  }

  protected override def nullSafeEval(input: Any): Any =
    matched(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiExamples", this,
      classOf[MultiExamplesMatched].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matched($c);")
  }

  override def equals(other: Any): Boolean = other match {
    case e: MultiExamplesMatched =>
      (this eq e) || (child == e.child && fields.id == e.fields.id &&
        fieldExamples.id == e.fieldExamples.id &&
        needCounts.id == e.needCounts.id && slop == e.slop &&
        lucene == e.lucene)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(classOf[MultiExamplesMatched], child,
      java.lang.Long.valueOf(fields.id),
      java.lang.Long.valueOf(fieldExamples.id),
      java.lang.Long.valueOf(needCounts.id), Integer.valueOf(slop),
      java.lang.Boolean.valueOf(lucene))

  protected override def withNewChildInternal(newChild: Expression): MultiExamplesMatched =
    copy(child = newChild)
}

/** Occurrence-counting sibling of [[MultiPhrasesFound]]: every anchored
  * occurrence of every battery phrase counted in ONE document walk
  * (overlaps included — bit-parity with [[CountTokenSeqKernel.count]]
  * per phrase, including its m==0 → 0 contract for empty-token phrases).
  * The per-phrase CountTokenSeq-column shape (`NgramOps.countPhrases`)
  * is O(P) per row and per plan; this is the battery-scale `wimbd count`.
  *
  * Output: array<struct<idx: int, n: long>> for the phrases that occur
  * at least once, idx ascending; null tokens → null (the per-column
  * sum skips such rows identically). Exact adjacency only.
  */
case class MultiPhraseCounts(child: Expression,
    phrases: org.apache.spark.broadcast.Broadcast[
      Array[Array[org.apache.spark.unsafe.types.UTF8String]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_multi_phrase_counts needs array<string> tokens, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_multi_phrase_counts"

  @transient private lazy val walker =
    new FirstTokenWalker(BatteryIndex.of(phrases.value))

  def countsOf(tokens: ArrayData): ArrayData = {
    val w = walker
    val touched = w.walkCounts(tokens)
    val idxs = java.util.Arrays.copyOf(w.matches, touched)
    java.util.Arrays.sort(idxs)
    val out = new Array[Any](touched)
    var i = 0
    while (i < touched) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](idxs(i), w.counts(idxs(i))))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  protected override def nullSafeEval(input: Any): Any =
    countsOf(input.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("multiPhraseCounts", this,
      classOf[MultiPhraseCounts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countsOf($c);")
  }

  override def equals(other: Any): Boolean = other match {
    case e: MultiPhraseCounts =>
      (this eq e) || (child == e.child && phrases.id == e.phrases.id)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(classOf[MultiPhraseCounts], child,
      java.lang.Long.valueOf(phrases.id))

  protected override def withNewChildInternal(newChild: Expression): MultiPhraseCounts =
    copy(child = newChild)
}
