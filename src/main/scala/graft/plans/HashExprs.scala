package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the sketch/similarity hot paths.
  *
  * Spark's higher-order functions (`transform`/`aggregate`/`zip_with`)
  * are evaluated interpreted — one boxed lambda invocation per array
  * element. A MinHash signature is O(shingles × permutations) ≈ 20k
  * lambda calls per row that way; at millions of rows that dominates
  * the pipeline. These expressions do the same math as a single
  * compiled eval over the unsafe array data (no boxing, primitive
  * loops), which is the idiomatic Spark extension point for a scalar
  * function the builtins can't express efficiently.
  *
  * Every expression here implements `doGenCode` (none is
  * CodegenFallback): a fallback anywhere in a projection knocks the
  * WHOLE enclosing stage out of whole-stage codegen, taxing every
  * other expression in it — at scan-dominated corpus scale that was
  * the single biggest remaining throughput tax. The generated code is
  * one virtual call into the same compiled loop (the
  * `addReferenceObj` pattern builtin regex expressions use), so the
  * stage stays fused while the loop itself is unchanged; `compute` is
  * public on each class because generated Java calls it directly.
  */
object HashExprs {

  /** Deterministic per-permutation seeds (xorshift, fixed seed).
    *
    * Each MinHash "permutation" is the bijection h → fmix64(h ^ seed):
    * a full-strength 64-bit mixer, so the minima of different
    * permutations are independent. (The textbook (a*h+b) mod P trick
    * silently degenerates when a*h+b never exceeds P — the mod becomes
    * a no-op, every permutation ranks by raw h, and all signature
    * lanes collapse to the single global-min shingle.)
    */
  def perms(n: Int): Array[Long] = {
    var x = 88172645463325252L
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    Array.fill(n)(next())
  }

  private def col(e: Expression): Column = GraftSqlBridge.column(e)
  private def expr(c: Column): Expression = GraftSqlBridge.expression(c)

  /** MinHash signature straight from a normalized text column —
    * shingling + hashing + permutations in ONE compiled pass per row.
    * `word = false`: character k-shingles; `word = true`: word
    * k-grams (contiguous char regions between word boundaries, so no
    * per-shingle string allocation either way).
    */
  def minhashText(normText: Column, k: Int, numPerm: Int, word: Boolean): Column =
    col(MinHashTextExpr(expr(normText), k, numPerm, word))

  /** Exact shingle-set Jaccard of two normalized texts (compiled;
    * operates on 64-bit shingle hashes, collision probability ~0).
    */
  def jaccardText(a: Column, b: Column, k: Int, word: Boolean): Column =
    col(JaccardTextExpr(expr(a), expr(b), k, word))

  /** Exact shingle-set CONTAINMENT |A∩B| / min(|A|,|B|) of two
    * normalized texts (compiled, over 64-bit shingle hashes).
    */
  def containmentText(a: Column, b: Column, k: Int, word: Boolean): Column =
    col(ContainmentTextExpr(expr(a), expr(b), k, word))

  /** Sorted distinct 64-bit shingle-hash set of a normalized text, as
    * an array<long> column — the set-similarity join's per-document
    * primitive (cardinality, prefix tokens and overlap all derive
    * from this one compiled pass).
    */
  def shingleHashes(normText: Column, k: Int, word: Boolean): Column =
    col(ShingleHashesExpr(expr(normText), k, word))

  /** `regexp_replace(trim(c), "\\s+", " ")` as ONE compiled byte pass
    * — the whitespace-canonicalization prefix of
    * [[graft.functions.TextAnalysis.normalizeWs]] (see
    * [[SqueezeWsExpr]] for the byte-exact equivalence argument).
    */
  def squeezeWs(c: Column): Column = col(SqueezeWsExpr(expr(c)))

  /** 64-bit SimHash of an array<string> token list. */
  def simhash64(tokens: Column): Column = col(SimHash64Expr(expr(tokens)))

  /** Cosine similarity of two array<float|double> vectors. */
  def cosineSim(a: Column, b: Column): Column = col(CosineSimExpr(expr(a), expr(b)))

  /** Sign-random-projection bits of an array<float|double> vector:
    * bit i = (v · planes(i) >= 0). Up to 64 planes.
    */
  def signProjBits(v: Column, planes: Seq[Seq[Double]]): Column =
    col(SignProjBitsExpr(expr(v), planes.map(_.toArray).toArray))

  /** IVF assignment: index of the nearest centroid (squared L2). */
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    col(NearestCentroidExpr(expr(v), centroids))

  /** Two-level IVF assignment: the flat list id of the nearest fine
    * centroid within the nearest routed coarse cell — see
    * [[TwoLevelAssignExpr]].
    */
  def twoLevelAssign(v: Column, books: Broadcast[RoutedBooks]): Column =
    col(TwoLevelAssignExpr(expr(v), books))

  /** Count of whitespace-delimited tokens of `text` equal to a word
    * in `vocab` — the stopword-profile primitive behind lang_id and
    * the quality scores. One compiled pass over the chars: no token
    * array, no boxed per-token lambda (the `filter(split(...), ...)`
    * higher-order formulation runs interpreted).
    */
  def stopwordHits(text: Column, vocab: Seq[String]): Column =
    col(StopwordHitsExpr(expr(text), vocab))

  /** Word n-grams of a single-space-normalized text, as strings —
    * the decontamination/membership primitive (gram strings, not
    * hashes, so any engine can recompute them). Texts shorter than n
    * words produce an EMPTY array (a too-short text can't contain a
    * full n-gram).
    */
  def wordNgrams(normText: Column, n: Int): Column =
    col(WordNgramsExpr(expr(normText), n))

  /** Rewrite a single-space-normalized text by dropping every token
    * covered by an n-token span starting at any of `starts` (sorted
    * 0-based token indices): struct(kept_text, n_tokens, n_removed)
    * in one compiled pass — the span-removal side of exact-substring
    * dedup, with no corpus-token explode.
    */
  def removeSpans(normText: Column, starts: Column, n: Int): Column =
    col(RemoveSpansExpr(expr(normText), expr(starts), n))

  /** Per-document repetition statistics in one compiled pass:
    * struct(n_words, n_distinct_words, top_bigram_count) over a
    * single-space-normalized text.
    */
  def repetitionStats(normText: Column): Column =
    col(RepetitionStatsExpr(expr(normText)))

  /** Symmetric int8 quantization stats of a vector: struct(scale,
    * l1, qmax, qmin) where scale = max|x|/127 and q_i = round(x_i /
    * scale) with ties away from zero (C round semantics).
    */
  def quantizeI8Stats(v: Column): Column = col(QuantizeI8StatsExpr(expr(v)))

  /** Symmetric int8 quantization of a vector: the quantized
    * array<tinyint> itself (the storage artifact — 4 bytes → 1 byte
    * per dimension), q_i = round(x_i / (max|x|/127)) with ties away
    * from zero. Same math as [[quantizeI8Stats]], emitting values.
    */
  def quantizeI8(v: Column): Column = col(QuantizeI8Expr(expr(v)))

  /** L2 (unit-norm) normalization of a vector. */
  def l2Normalize(v: Column): Column = col(L2NormalizeExpr(expr(v)))

  /** BPE-encode a single-space-normalized text with an ordered merge
    * list: struct(encoded, n_tokens) in one compiled pass — see
    * [[BpeEncodeExpr]] for the application convention.
    */
  def bpeEncode(normText: Column, merges: Seq[(String, String)]): Column =
    col(BpeEncodeExpr(expr(normText), merges))

  /** One string per Unicode CODEPOINT of s[from, until) — the initial
    * BPE symbol alphabet. ONE definition shared by the compiled
    * encoder ([[BpeEncodeExpr]]) and the driver-side trainer
    * ([[graft.operators.Corpus.bpeTrain]]), so the two can never
    * diverge on surrogate handling (the train/encode equivalence the
    * specs pin depends on identical symbol boundaries).
    */
  def codepointSymbols(s: String, from: Int, until: Int): Array[String] = {
    val out = new Array[String](until - from)
    var cnt = 0
    var j = from
    while (j < until) {
      val step = Character.charCount(s.codePointAt(j))
      out(cnt) = s.substring(j, j + step)
      cnt += 1
      j += step
    }
    if (cnt == out.length) out else java.util.Arrays.copyOf(out, cnt)
  }

  /** Cosine similarity of two int8-quantized vectors
    * (array<tinyint>) — integer dot and norms, one double division.
    */
  def cosineSimI8(a: Column, b: Column): Column =
    col(CosineSimI8Expr(expr(a), expr(b)))

  /** Per-document language segments: fixed `window`-token stopword
    * profiling + run-length merge, one compiled pass — see
    * [[LangSegmentsExpr]]. `profiles` in priority (tie-break) order.
    */
  def langSegments(lowerText: Column, window: Int,
                   profiles: Seq[(String, Seq[String])]): Column =
    col(LangSegmentsExpr(expr(lowerText), window, profiles))

  /** Kendall pair statistics of an array<long> series against its own
    * index order: struct(cd, ties) where cd = Σ_{i<j} sign(x_j − x_i)
    * and ties = #{i<j : x_i = x_j} — O(m log m) (rank compression +
    * Fenwick tree), value-identical to the O(m²) pair scan.
    */
  def kendallStats(xs: Column): Column = col(KendallStatsExpr(expr(xs)))

  private[plans] def checkStringArray(dt: DataType, who: String): TypeCheckResult =
    dt match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$who expects array<string>, got ${other.simpleString}")
    }

  private[plans] def checkNumericArray(dt: DataType, who: String): TypeCheckResult =
    dt match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$who expects array<float|double>, got ${other.simpleString}")
    }

  /** Read element i of a float/double array as double. */
  @inline private[plans] def elem(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Index of the centroid nearest to `v` (squared L2): each distance
    * sums min(|v|, |cent|) squared differences left to right, and the
    * strict `<` keeps the FIRST index on a tie. The one argmin loop of
    * [[NearestCentroidExpr]] and both levels of [[TwoLevelAssignExpr]].
    */
  private[plans] def nearestIndex(v: ArrayData, isFloat: Boolean,
                                  centroids: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = 0
    var bestDist = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val d = math.min(n, cent.length)
      var dist = 0.0
      var i = 0
      while (i < d) {
        val diff = elem(v, i, isFloat) - cent(i)
        dist += diff * diff
        i += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of md5(s), big-endian — a 64-bit hash that any SQL
    * engine with an md5() builtin can reproduce (substring the hex),
    * which is what makes simhash signatures value-verifiable against
    * an independent engine. ~2× slower than xxhash64 per token; token
    * hashing is a negligible slice of the simhash pipeline.
    */
  @inline private[plans] def md5Hash64(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    java.nio.ByteBuffer.wrap(digest).getLong
  }

  /** murmur3 fmix64 finalizer — turns a weak polynomial hash into a
    * well-distributed 64-bit value (minhash needs uniformity).
    */
  @inline private[plans] def fmix64(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33; h
  }

  /** 64-bit hash of s[start, end): polynomial accumulate + fmix. */
  @inline private[plans] def regionHash(s: String, start: Int, end: Int): Long = {
    var h = 1125899906842597L
    var i = start
    while (i < end) { h = 31 * h + s.charAt(i); i += 1 }
    fmix64(h)
  }

  /** Shingle hash stream of a normalized text: calls `f` with the
    * 64-bit hash of every shingle. Char mode: all k-char substrings.
    * Word mode: every k-word window — the text is single-space
    * normalized, so a window is a contiguous char region and no
    * per-shingle string is allocated. Texts shorter than one shingle
    * produce a single whole-text shingle.
    */
  private[plans] def foreachShingleHash(s: String, k: Int, word: Boolean)(f: Long => Unit): Unit = {
    val len = s.length
    if (word) {
      // starts(i) = char index of word i; one extra sentinel at len+1
      var nWords = 0
      var i = 0
      // count words
      if (len > 0) { nWords = 1; while (i < len) { if (s.charAt(i) == ' ') nWords += 1; i += 1 } }
      if (nWords <= k) { f(regionHash(s, 0, len)); return }
      val starts = new Array[Int](nWords + 1)
      var w = 1
      i = 0
      while (i < len) { if (s.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
      starts(nWords) = len + 1
      var j = 0
      while (j + k <= nWords) {
        f(regionHash(s, starts(j), starts(j + k) - 1))
        j += 1
      }
    } else {
      if (len <= k) { f(regionHash(s, 0, len)); return }
      var i = 0
      while (i + k <= len) { f(regionHash(s, i, i + k)); i += 1 }
    }
  }

  /** Word-start offsets of a single-space-normalized string:
    * starts(i) is the char index of word i, and starts(nWords) =
    * len + 1, so the region [starts(i), starts(j) - 1) is exactly the
    * text of words i..j-1 including inner separators. Returns null
    * for the empty string (zero words); nWords = starts.length - 1.
    */
  private[plans] def wordStarts(s: String): Array[Int] = {
    val len = s.length
    if (len == 0) return null
    var nWords = 1
    var i = 0
    while (i < len) { if (s.charAt(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < len) { if (s.charAt(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts(nWords) = len + 1
    starts
  }

  /** Sorted-merge intersection size of two sorted distinct arrays —
    * shared by the Jaccard and containment scorers.
    */
  private[plans] def intersectCount(sa: Array[Long], sb: Array[Long]): Int = {
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter
  }

  /** Sorted distinct shingle-hash array of a normalized text. */
  private[plans] def shingleHashSet(s: String, k: Int, word: Boolean): Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuilder.make[Long]
    foreachShingleHash(s, k, word)(buf += _)
    val arr = buf.result()
    java.util.Arrays.sort(arr)
    // in-place dedupe
    var n = 0
    var i = 0
    while (i < arr.length) {
      if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(arr, n)
  }
}

/** Shared `doGenCode` for expressions whose eval is one compiled
  * loop: the generated code is a single virtual call into the
  * expression's public `compute` via `addReferenceObj` (the pattern
  * builtin regex expressions use), so the enclosing stage stays in
  * whole-stage codegen while the loop itself is unchanged. Every
  * mixer must expose a public `compute` whose parameter/return Java
  * types match its child/data types — the generated call is compiled
  * by janino against the concrete class, so a mismatch fails loudly
  * at codegen time, and the codegen spec pins generated ==
  * interpreted values.
  */
private[plans] trait UnaryComputeCodegen extends UnaryExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
}

/** Binary-expression analog of [[UnaryComputeCodegen]]. */
private[plans] trait BinaryComputeCodegen extends BinaryExpression {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
}

/** Whitespace canonicalization `regexp_replace(trim(s), "\\s+", " ")`
  * as ONE compiled byte pass. This is the normalization prefix of
  * every text operator's corpus scan (dedup/LSH signatures, tokenize,
  * logprob, vocab — ~40 gated keys share it via
  * `TextAnalysis.normalizeWs`); the java.util.regex path allocates a
  * Matcher + StringBuffer per row and walks the NFA per char, a
  * visible slice of every text key's scan stage. Byte-exact
  * equivalence with the regex form (property-tested against the
  * actual regex in HashExprsProps):
  *  - `trim` strips 0x20 SPACES only at both ends (the UTF8String.trim
  *    semantics of functions.trim — NOT other whitespace: "\tx" keeps
  *    its tab, which the \s+ pass then turns into a LEADING space);
  *  - Java regex `\s` without UNICODE_CHARACTER_CLASS is exactly the
  *    ASCII class [ \t\n\x0B\f\r] — single bytes in UTF-8, so the
  *    squeeze can never split a multi-byte sequence, and unicode
  *    whitespace (U+00A0, U+2028, …) passes through UNREPLACED,
  *    exactly as the regex leaves it.
  * Already-canonical text (the common case: most corpus rows have no
  * run to squeeze) returns the input UTF8String unchanged — zero
  * allocation.
  */
case class SqueezeWsExpr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"squeeze_ws expects string, got ${other.simpleString}")
    }

  // Java-regex \s: ASCII [ \t\n\x0B\f\r] only (no Unicode flag)
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): UTF8String = {
    val bytes = input.getBytes
    var s = 0
    var e = bytes.length
    while (s < e && bytes(s) == 0x20) s += 1
    while (e > s && bytes(e - 1) == 0x20) e -= 1
    // detect whether any replacement is needed: a non-space ws byte,
    // or a space followed by more whitespace (a run)
    var dirty = false
    var i = s
    while (i < e && !dirty) {
      val b = bytes(i)
      if (b >= 0x09 && b <= 0x0d) dirty = true
      else if (b == 0x20 && i + 1 < e && isWs(bytes(i + 1))) dirty = true
      i += 1
    }
    if (!dirty) {
      if (s == 0 && e == bytes.length) input
      else UTF8String.fromBytes(bytes, s, e - s)
    } else {
      val out = new Array[Byte](e - s)
      var o = 0
      var inRun = false
      i = s
      while (i < e) {
        val b = bytes(i)
        if (isWs(b)) {
          if (!inRun) { out(o) = 0x20; o += 1; inRun = true }
        } else { out(o) = b; o += 1; inRun = false }
        i += 1
      }
      UTF8String.fromBytes(out, 0, o)
    }
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): SqueezeWsExpr =
    copy(child = newChild)

  override def prettyName: String = "squeeze_ws"
}

/** MinHash signature computed straight from normalized text: one
  * compiled pass does shingling, hashing and all `numPerm` permutation
  * minima. Exists because expressing shingling with `transform(
  * sequence(...), i => norm.substr(...))` re-evaluates the outer
  * normalization expression once PER ELEMENT in the interpreted
  * higher-order path — O(len × cost(norm)) per row.
  */
case class MinHashTextExpr(child: Expression, k: Int, numPerm: Int, word: Boolean)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_text expects string, got ${other.simpleString}")
    }

  @transient private lazy val ab = HashExprs.perms(numPerm)

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val mins = Array.fill(numPerm)(Long.MaxValue)
    // DISTINCT shingle hashes first: a duplicated shingle cannot move
    // any permutation minimum (min over a multiset = min over its
    // set), so the numPerm-mix inner loop runs once per DISTINCT
    // shingle — the sorted dedupe costs one long-array sort where
    // each duplicate previously cost numPerm fmix64 chains.
    // Value-identical signatures; the oracle replays the same set.
    val hs = HashExprs.shingleHashSet(s, k, word)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = 0
      while (p < numPerm) {
        val v = HashExprs.fmix64(h ^ ab(p))
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): MinHashTextExpr =
    copy(child = newChild)

  override def prettyName: String = "minhash_text"
}

/** Exact shingle-set Jaccard of two normalized texts over 64-bit
  * shingle hashes (sorted-merge intersection; collision probability
  * is negligible at corpus scale). Runs only on LSH candidates.
  */
case class JaccardTextExpr(left: Expression, right: Expression, k: Int, word: Boolean)
    extends BinaryExpression with BinaryComputeCodegen {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"jaccard_text expects (string, string), got $other")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(a: UTF8String, b: UTF8String): Double = {
    val sa = HashExprs.shingleHashSet(a.toString, k, word)
    val sb = HashExprs.shingleHashSet(b.toString, k, word)
    val inter = HashExprs.intersectCount(sa, sb)
    val union = sa.length + sb.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardTextExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_text"
}

/** Exact shingle-set CONTAINMENT of two normalized texts:
  * |A ∩ B| / min(|A|, |B|) over 64-bit shingle hashes (sorted-merge
  * intersection, like [[JaccardTextExpr]]). The asymmetric-duplicate
  * score: a short document quoted inside a longer one has containment
  * ≈ 1 while its Jaccard is only |A|/|B|. Runs on prefix-filter
  * candidates only ([[graft.operators.Dedup.containmentPairs]]).
  */
case class ContainmentTextExpr(left: Expression, right: Expression, k: Int, word: Boolean)
    extends BinaryExpression with BinaryComputeCodegen {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"containment_text expects (string, string), got $other")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(a: UTF8String, b: UTF8String): Double = {
    val sa = HashExprs.shingleHashSet(a.toString, k, word)
    val sb = HashExprs.shingleHashSet(b.toString, k, word)
    val inter = HashExprs.intersectCount(sa, sb)
    val minCard = math.min(sa.length, sb.length)
    if (minCard == 0) 1.0 else inter.toDouble / minCard
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ContainmentTextExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "containment_text"
}

/** See [[HashExprs.shingleHashes]]. */
case class ShingleHashesExpr(child: Expression, k: Int, word: Boolean)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes expects string, got ${other.simpleString}")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): ArrayData =
    new GenericArrayData(HashExprs.shingleHashSet(input.toString, k, word))

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

/** Classic 64-bit SimHash over token hashes: bit b of the result is
  * set iff sum over tokens of ±1 (sign of bit b of the token hash) is
  * positive. The token hash is the first 8 bytes of md5 (big-endian)
  * so an independent engine can recompute the signature from the hex
  * digest — see SparkEntry's dedup_simhash oracle.
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkStringArray(child.dataType, "simhash64")

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = HashExprs.md5Hash64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

/** Cosine similarity of two numeric arrays (compiled single pass). */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryComputeCodegen {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = HashExprs.checkNumericArray(left.dataType, "cosine_sim")
    if (l.isFailure) l else HashExprs.checkNumericArray(right.dataType, "cosine_sim")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(va: ArrayData, vb: ArrayData): Double = {
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = HashExprs.elem(va, i, leftIsFloat)
      val y = HashExprs.elem(vb, i, rightIsFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Index of the nearest centroid (squared-L2) — the IVF assignment
  * step as one compiled pass; `centroids` ride along as a literal
  * table (IVF codebooks are kilobytes, broadcast-sized).
  */
case class NearestCentroidExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with UnaryComputeCodegen {

  require(centroids.nonEmpty, "at least one centroid")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "nearest_centroid")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): Int = HashExprs.nearestIndex(v, isFloat, centroids)

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)

  override def prettyName: String = "nearest_centroid"
}

/** The two-level books as [[TwoLevelAssignExpr]] reads them, over the
  * ROUTED (non-empty) cells only: `coarse(j)` is routed cell j's
  * centroid, `fine(j)` its ragged fine book, and `listBase(j)` the flat
  * list id of its fid 0 (cell · nFine).
  */
final case class RoutedBooks(coarse: Array[Array[Double]],
                             fine: Array[Array[Array[Double]]],
                             listBase: Array[Int])

/** Two-level IVF assignment as one compiled pass per row: the coarse
  * argmin over the routed cells, then the argmin within ONLY that
  * cell's fine book (n·2√k·d, not n·k·d), returning
  * `listBase(cell) + fid`. Both argmins are [[HashExprs.nearestIndex]],
  * so a row lands exactly where the flat nearest-centroid fold puts it
  * at each level.
  *
  * The books ride as a `Broadcast` handle, not as plan constants: the
  * serialised expression, and so every task binary, is the same size
  * at any k, and each executor fetches the k·d doubles once.
  *
  * A null vector is not null-in-null-out: it lands in the first routed
  * cell's first list, the SQL oracle's answer (its all-NULL distances
  * sort last, so the first cell and fid win). Hence the generated code
  * below is the [[UnaryComputeCodegen]] call without its null short-cut.
  */
case class TwoLevelAssignExpr(child: Expression, books: Broadcast[RoutedBooks])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "two_level_assign")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // Broadcast.value synchronises on every call: read it once per task
  @transient private lazy val routed = books.value

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): Int =
    if (v == null) routed.listBase(0)
    else {
      val ri = HashExprs.nearestIndex(v, isFloat, routed.coarse)
      routed.listBase(ri) + HashExprs.nearestIndex(v, isFloat, routed.fine(ri))
    }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TwoLevelAssignExpr =
    copy(child = newChild)

  override def prettyName: String = "two_level_assign"
}

/** Symmetric int8 quantization summary — the storage-compression
  * primitive for embedding tables (4 bytes → 1 byte per dim). One
  * compiled pass computes the scale and the quantized-value stats;
  * a storage pipeline would emit the q array itself the same way.
  */
case class QuantizeI8StatsExpr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("l1", LongType, nullable = false),
    StructField("qmax", LongType, nullable = false),
    StructField("qmin", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "quantize_i8_stats")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // ties away from zero — matches C/DuckDB round(double)
  @inline private def roundAway(y: Double): Double =
    if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(HashExprs.elem(v, i, isFloat))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 127.0
    var l1 = 0L; var qmax = Long.MinValue; var qmin = Long.MaxValue
    i = 0
    while (i < n) {
      val q = if (scale == 0.0) 0L
              else roundAway(HashExprs.elem(v, i, isFloat) / scale).toLong
      l1 += math.abs(q)
      if (q > qmax) qmax = q
      if (q < qmin) qmin = q
      i += 1
    }
    if (n == 0) { qmax = 0L; qmin = 0L }
    org.apache.spark.sql.catalyst.InternalRow(scale, l1, qmax, qmin)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8StatsExpr =
    copy(child = newChild)

  override def prettyName: String = "quantize_i8_stats"
}

/** Symmetric int8 quantization — the quantized vector itself, as
  * array<tinyint> (the storage artifact of the embedding-compression
  * pipeline). scale = max|x|/127 so every q_i fits int8 by
  * construction; an all-zero (or empty) vector quantizes to zeros.
  * Same rounding as [[QuantizeI8StatsExpr]] (ties away from zero,
  * matching C/DuckDB `round(double)`).
  */
case class QuantizeI8Expr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "quantize_i8")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @inline private def roundAway(y: Double): Double =
    if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var amax = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(HashExprs.elem(v, i, isFloat))
      if (a > amax) amax = a
      i += 1
    }
    val scale = amax / 127.0
    val q = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        q(i) = roundAway(HashExprs.elem(v, i, isFloat) / scale).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(q)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8Expr =
    copy(child = newChild)

  override def prettyName: String = "quantize_i8"
}

/** Cosine similarity of two int8-quantized vectors (array<tinyint>).
  * The symmetric per-vector quantization scale (max|x|/127) cancels
  * in the cosine quotient, so the whole score is integer arithmetic:
  * exact long dot and norms (≤ 127²·dim, nowhere near overflow for
  * any realistic dim), then one double division — bit-reproducible
  * on any engine, which is what lets the gate value-compare it.
  */
case class CosineSimI8Expr(left: Expression, right: Expression)
    extends BinaryExpression with BinaryComputeCodegen {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def chk(dt: DataType): TypeCheckResult = dt match {
      case ArrayType(ByteType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim_i8 expects array<tinyint>, got ${other.simpleString}")
    }
    val l = chk(left.dataType)
    if (l.isFailure) l else chk(right.dataType)
  }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(va: ArrayData, vb: ArrayData): Double = {
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = va.getByte(i).toLong
      val y = vb.getByte(i).toLong
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (d == 0.0) 0.0 else dot.toDouble / d
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSimI8Expr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim_i8"
}

/** Sign-random-projection LSH bits: bit i = (v · planes(i) >= 0). */
case class SignProjBitsExpr(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with UnaryComputeCodegen {

  require(planes.length <= 64, "at most 64 projection planes")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "sign_proj_bits")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): Long = {
    val n = v.numElements()
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val d = math.min(n, plane.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += HashExprs.elem(v, i, isFloat) * plane(i); i += 1 }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): SignProjBitsExpr =
    copy(child = newChild)

  override def prettyName: String = "sign_proj_bits"
}

/** Count of whitespace-delimited tokens equal to any `vocab` word,
  * in one compiled pass. Token semantics match
  * `split(trim(s), "\\s+")`: tokens are maximal runs of
  * non-whitespace, where whitespace is Java regex `\s` =
  * `[ \t\n\x0B\f\r]` — so the count equals
  * `size(filter(split(trim(s), "\\s+"), w -> w IN vocab))` on every
  * input (the split's empty-string artifact on empty input can never
  * match a vocab word). Vocabularies are tiny (≤ ~10 stopwords per
  * language profile); the inner comparison bails on the first
  * length/char mismatch.
  */
case class StopwordHitsExpr(child: Expression, vocab: Seq[String])
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"stopword_hits expects string, got ${other.simpleString}")
    }

  @transient private lazy val vocabChars: Array[Array[Char]] =
    vocab.map(_.toCharArray).toArray

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): Int = {
    val s = input.toString
    val len = s.length
    var hits = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tl = i - start
        var v = 0
        var found = false
        while (v < vocabChars.length && !found) {
          val w = vocabChars(v)
          if (w.length == tl) {
            var j = 0
            while (j < tl && w(j) == s.charAt(start + j)) j += 1
            found = j == tl
          }
          v += 1
        }
        if (found) hits += 1
      }
    }
    hits
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): StopwordHitsExpr =
    copy(child = newChild)

  override def prettyName: String = "stopword_hits"
}

/** Per-document LANGUAGE SEGMENTATION: split the token stream into
  * fixed `window`-token windows, language-ID each window by stopword
  * profile (argmax hits, ties by `profiles` order, all-zero →
  * "unknown" — the same decision rule as whole-doc lang_id), then
  * run-length merge adjacent same-language windows into segments.
  *
  * Output: array<struct<lang string, n_tokens long>> in document
  * order. Mixed-language documents (common in web corpora) yield one
  * segment per language run, so per-language token budgets and
  * sampling rates can be computed from REAL per-language token
  * counts instead of a whole-doc argmax that hides the minority
  * language entirely.
  *
  * One compiled pass per row — no token explode, no shuffle: at
  * 100 TB the explode→window→groupBy formulation shuffles one row
  * per token (the corpus token count); this stays scan-speed. Same
  * whitespace definition as [[StopwordHitsExpr]] (Java regex `\s`),
  * so token counts agree with the `string_split_regex` oracle.
  */
case class LangSegmentsExpr(child: Expression, window: Int,
                            profiles: Seq[(String, Seq[String])])
    extends UnaryExpression with UnaryComputeCodegen {

  require(window > 0, "window must be positive")
  require(profiles.nonEmpty, "at least one language profile")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lang_segments expects string, got ${other.simpleString}")
    }

  @transient private lazy val langNames: Array[UTF8String] =
    (profiles.map(_._1) :+ "unknown").map(UTF8String.fromString).toArray
  @transient private lazy val vocabChars: Array[Array[Array[Char]]] =
    profiles.map(_._2.map(_.toCharArray).toArray).toArray

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val len = s.length
    val nProf = vocabChars.length
    val hits = new Array[Int](nProf)
    // run-length-merged segments under construction
    val segLangs = scala.collection.mutable.ArrayBuffer.empty[Int]
    val segTokens = scala.collection.mutable.ArrayBuffer.empty[Long]
    var winTok = 0

    def closeWindow(): Unit = {
      if (winTok == 0) return
      // argmax with ties by profile order; zero hits → unknown (the
      // sentinel index nProf)
      var best = nProf
      var bestHits = 0
      var p = nProf - 1
      while (p >= 0) {
        if (hits(p) >= bestHits && hits(p) > 0) { best = p; bestHits = hits(p) }
        p -= 1
      }
      if (segLangs.nonEmpty && segLangs.last == best)
        segTokens(segTokens.length - 1) += winTok
      else { segLangs += best; segTokens += winTok.toLong }
      java.util.Arrays.fill(hits, 0)
      winTok = 0
    }

    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val tl = i - start
        var p = 0
        var found = false
        while (p < nProf && !found) {
          val words = vocabChars(p)
          var v = 0
          while (v < words.length && !found) {
            val w = words(v)
            if (w.length == tl) {
              var j = 0
              while (j < tl && w(j) == s.charAt(start + j)) j += 1
              if (j == tl) { hits(p) += 1; found = true }
            }
            v += 1
          }
          p += 1
        }
        winTok += 1
        if (winTok == window) closeWindow()
      }
    }
    closeWindow()

    val out = new Array[Any](segLangs.length)
    var k = 0
    while (k < segLangs.length) {
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        langNames(segLangs(k)), segTokens(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): LangSegmentsExpr =
    copy(child = newChild)

  override def prettyName: String = "lang_segments"
}

/** Word n-grams of a single-space-normalized text as STRINGS (one
  * compiled pass; each gram is a contiguous char region, so the only
  * allocation is the output string itself). Strings rather than
  * hashes on purpose: the decontamination oracle recomputes grams in
  * a different engine, which an engine-private hash would preclude.
  * Texts with fewer than n words yield an empty array.
  */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects string, got ${other.simpleString}")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val starts = HashExprs.wordStarts(s)
    val nWords = if (starts == null) 0 else starts.length - 1
    if (nWords < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nWords - n + 1)
    var j = 0
    while (j + n <= nWords) {
      out(j) = UTF8String.fromString(s.substring(starts(j), starts(j + n) - 1))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

/** Span-removal rewrite: drop every token whose 0-based index falls
  * inside [start, start + n) for any start in the SORTED `starts`
  * array, and re-join the survivors with single spaces. One merged
  * sweep — tokens and spans are both walked in order, so overlapping
  * spans cost nothing extra — and the only allocation is the output
  * string. Output struct(kept_text, n_tokens, n_removed); n_tokens
  * counts the walked tokens (an empty text has zero, where a
  * split-based count would report one empty token).
  */
case class RemoveSpansExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with BinaryComputeCodegen {

  require(n > 0, "span length must be positive")

  override def dataType: DataType = StructType(Seq(
    StructField("kept_text", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"remove_spans expects (string, array<bigint>), got (${l.simpleString}, ${r.simpleString})")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(text: UTF8String, starts: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val ws = HashExprs.wordStarts(s)
    val nWords = if (ws == null) 0 else ws.length - 1
    val m = starts.numElements()
    val sb = new java.lang.StringBuilder
    var removed = 0L
    var coveredUntil = -1L
    var j = 0
    var i = 0
    // remove_spans is a registered SQL function, so the starts array
    // can carry nulls (array(CAST(NULL AS BIGINT))); reading the slot
    // anyway would return an undefined value (typically 0) and
    // silently remove the wrong tokens — reject loudly instead.
    var chk = 0
    while (chk < m) {
      if (starts.isNullAt(chk))
        throw new IllegalArgumentException(
          s"remove_spans: null span start at index $chk — span starts must be non-null")
      chk += 1
    }
    while (i < nWords) {
      while (j < m && starts.getLong(j) <= i) {
        val end = starts.getLong(j) + n - 1
        if (end > coveredUntil) coveredUntil = end
        j += 1
      }
      if (i > coveredUntil) {
        if (sb.length > 0) sb.append(' ')
        sb.append(s, ws(i), ws(i + 1) - 1)
      } else removed += 1L
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(sb.toString), nWords.toLong, removed)
  }

  override protected def nullSafeEval(textAny: Any, startsAny: Any): Any =
    compute(textAny.asInstanceOf[UTF8String], startsAny.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): RemoveSpansExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "remove_spans"
}

/** Per-document repetition statistics (the Gopher/RefinedWeb-style
  * repetition signals) in ONE compiled pass: word count, distinct
  * word count, and the occurrence count of the most frequent word
  * bigram. Distinctness is tracked over 64-bit region hashes — at
  * ~10^2 words per document the collision probability is ~10^-15,
  * far below any engine's floating rounding noise. The alternative
  * (explode bigrams → groupBy(doc, gram) → max) shuffles ~n_words
  * rows per document; this is shuffle-free scan work.
  */
case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_distinct_words", LongType, nullable = false),
    StructField("top_bigram_count", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"repetition_stats expects string, got ${other.simpleString}")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    val starts = HashExprs.wordStarts(s)
    if (starts == null) {
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0L)
    }
    val nWords = starts.length - 1
    val distinct = new scala.collection.mutable.LongMap[Unit](nWords * 2)
    var j = 0
    while (j < nWords) {
      distinct.update(HashExprs.regionHash(s, starts(j), starts(j + 1) - 1), ())
      j += 1
    }
    val bigrams = new scala.collection.mutable.LongMap[Int](nWords * 2)
    var top = 0
    j = 0
    while (j + 2 <= nWords) {
      val h = HashExprs.regionHash(s, starts(j), starts(j + 2) - 1)
      val c = bigrams.getOrElse(h, 0) + 1
      bigrams.update(h, c)
      if (c > top) top = c
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nWords.toLong, distinct.size.toLong, top.toLong)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)

  override def prettyName: String = "repetition_stats"
}

/** L2 normalization of a numeric vector (the standard embedding prep:
  * cosine becomes a plain dot product on normalized vectors). One
  * compiled pass; the norm accumulates sequentially in doubles so the
  * result is bit-reproducible against any engine that sums a list in
  * order. Zero vectors normalize to zero vectors.
  */
case class L2NormalizeExpr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.checkNumericArray(child.dataType, "l2_normalize")

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = HashExprs.elem(v, i, isFloat); ss += x * x; i += 1 }
    val l2 = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (l2 == 0) 0.0 else HashExprs.elem(v, i, isFloat) / l2
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): L2NormalizeExpr =
    copy(child = newChild)

  override def prettyName: String = "l2_normalize"
}

/** BPE encoding of a single-space-normalized text against an ordered
  * merge list, in ONE compiled pass per row: struct(encoded, n_tokens)
  * where `encoded` is the token stream space-joined and `n_tokens`
  * counts tokens across all words.
  *
  * Application convention — TRAINING-TIME, rank order: each merge
  * (left, right) is applied exactly once, in list order, as a single
  * left-to-right non-overlapping sweep over every word's symbol
  * sequence (symbols start as Unicode CODEPOINTS — not UTF-16 code
  * units, so astral characters are one symbol, matching how
  * `substr`/`length` count characters in Spark SQL and DuckDB;
  * merges never cross word boundaries). This is the convention under which learned-rank-order
  * application and iterative min-rank-first encoding coincide for a
  * consistently trained merge list (a merge's parts always predate
  * it), and — unlike min-rank-first — it is reproducible in any engine
  * as a fixed chain of string replacements, which is what makes the
  * encoder ORACLE-CHECKABLE (the DuckDB side is a nested `replace`
  * over a delimiter-wrapped symbol representation).
  *
  * Cost: O(merges) set-membership pre-checks per word skip the sweeps
  * of merges whose parts aren't even present, so non-applicable
  * merges are O(1) and each applicable merge is one O(|word|) sweep.
  * The merge list rides the expression into the plan (closure
  * broadcast) — production tokenizers are ≤50k merges ≈ single-digit
  * MBs, the same bounded-artifact contract as the IVF codebooks.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with UnaryComputeCodegen {

  require(merges.forall { case (l, r) => l.nonEmpty && r.nonEmpty },
    "bpe_encode: merge parts must be non-empty")

  override def dataType: DataType = StructType(Seq(
    StructField("encoded", StringType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects string, got ${other.simpleString}")
  }

  @transient private lazy val lefts: Array[String] = merges.map(_._1).toArray
  @transient private lazy val rights: Array[String] = merges.map(_._2).toArray
  @transient private lazy val joined: Array[String] =
    merges.map { case (l, r) => l + r }.toArray

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val len = s.length
    val sb = new java.lang.StringBuilder
    var nTokens = 0L
    val present = new java.util.HashSet[String]()
    var wStart = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        val wlen = i - wStart
        if (wlen > 0) {
          val syms = HashExprs.codepointSymbols(s, wStart, i)
          present.clear()
          var cnt = syms.length
          var p = 0
          while (p < cnt) { present.add(syms(p)); p += 1 }
          var m = 0
          while (m < lefts.length && cnt >= 2) {
            // the presence set can hold stale symbols after a sweep
            // consumed them — that only costs a wasted O(|word|) sweep,
            // never a wrong merge (the sweep re-checks adjacency)
            if (present.contains(lefts(m)) && present.contains(rights(m))) {
              var oi = 0
              var si = 0
              var mergedAny = false
              while (si < cnt) {
                if (si + 1 < cnt && syms(si) == lefts(m) && syms(si + 1) == rights(m)) {
                  syms(oi) = joined(m); si += 2; mergedAny = true
                } else { syms(oi) = syms(si); si += 1 }
                oi += 1
              }
              if (mergedAny) { cnt = oi; present.add(joined(m)) }
            }
            m += 1
          }
          var t = 0
          while (t < cnt) {
            if (sb.length > 0) sb.append(' ')
            sb.append(syms(t))
            nTokens += 1
            t += 1
          }
        }
        wStart = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(sb.toString), nTokens)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)

  override def prettyName: String = "bpe_encode"
}

/** Kendall pair statistics against index order in O(m log m) — the
  * scale fix for the trend diagnostics' one superlinear fold (the
  * round-11 LONG-axis audit measured the O(m²) nested-fold spelling at
  * 8.07× for 10× bars; a decade of daily bars is m ≈ 2500 → 3M pair
  * ops per series, this pass does ~30k).
  *
  * For each element x_j, the pairs (i < j) split into less/equal/
  * greater counts against the j prior elements, so
  * C − D += less − (j − less − eq) and ties += eq. Prior counts come
  * from a Fenwick (binary-indexed) tree over value RANKS: every
  * element is inserted at rank ub(v) = #{sorted ≤ v}, so prefix-sum to
  * lb(v) = #{sorted < v} counts exactly the strictly-smaller priors
  * and the (lb, ub] slice counts the equal ones. All integer — the
  * result is value-identical to the pair-scan definition, so the
  * shared DuckDB oracle is untouched.
  */
case class KendallStatsExpr(child: Expression)
    extends UnaryExpression with UnaryComputeCodegen {

  override def dataType: DataType = StructType(Seq(
    StructField("cd", LongType, nullable = false),
    StructField("ties", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kendall_stats expects array<bigint>, got ${other.simpleString}")
    }

  /** Public: called from generated code ([[doGenCode]]). */
  def compute(input: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    // Fail fast on null slots: toLongArray() on UnsafeArrayData reads
    // them as 0 (the null bitmap is ignored), which would return
    // silently WRONG statistics for the SQL-registered
    // kendall_stats(array(1L, NULL)). The schema can't gate this —
    // transform()-built arrays are containsNull = true even when no
    // element is ever null — so the check is per-row, O(m) against the
    // O(m log m) body.
    {
      var i = 0
      val m = input.numElements()
      while (i < m) {
        if (input.isNullAt(i))
          throw new IllegalArgumentException(
            s"kendall_stats: null element at position $i — elements must " +
              "be non-null (filter(xs, x -> x IS NOT NULL) first)")
        i += 1
      }
    }
    val xs = input.toLongArray()
    val n = xs.length
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted)
    // first index of v (= #{sorted < v}), 0-based
    def lb(v: Long): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) < v) lo = mid + 1 else hi = mid
      }
      lo
    }
    // one past the last index of v (= #{sorted <= v}), 0-based
    def ub(v: Long): Int = {
      var lo = 0; var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= v) lo = mid + 1 else hi = mid
      }
      lo
    }
    val tree = new Array[Int](n + 1)
    def add(r0: Int): Unit = {
      var r = r0
      while (r <= n) { tree(r) += 1; r += r & (-r) }
    }
    def prefix(r0: Int): Long = {
      var r = r0; var s = 0L
      while (r > 0) { s += tree(r); r -= r & (-r) }
      s
    }
    var cd = 0L
    var ties = 0L
    var j = 0
    while (j < n) {
      val v = xs(j)
      val less = prefix(lb(v))
      val eq = prefix(ub(v)) - less
      cd += less - (j - less - eq)
      ties += eq
      add(ub(v))
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(cd, ties)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): KendallStatsExpr =
    copy(child = newChild)

  override def prettyName: String = "kendall_stats"
}
