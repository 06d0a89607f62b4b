package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native implementations of the text/dedup hot loops.
  *
  * The declarative spellings in TextExpr remain the *specification* (and
  * the DuckDB oracle); these expressions compute the identical results in
  * a single JVM pass per row, cutting out interpreted HigherOrderFunction
  * lambda dispatch and the per-element MessageDigest allocation of the
  * built-in `md5` (one digest instance is reused per expression instance
  * / thread). Parity with the spec spelling is enforced two ways: the
  * oracle gate (q36-q39 hash-match DuckDB) and TextNativeSpec's
  * side-by-side equality tests.
  *
  * Per-row cost dominates (hundreds of tokens × k seeds), so these are
  * CodegenFallback — the win is the fused loop, not codegen.
  */
object TextNative {

  private val splitter = Pattern.compile("[^a-z0-9]+")

  /** lower → split on non-alphanumeric runs → drop empties.
    * Exactly TextExpr.toksSpark/toksDuck. */
  def tokenize(text: String): Array[String] =
    splitter.split(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)

  /** Word 3-gram shingles, falling back to tokens when < 3 of them.
    * Exactly TextExpr.shinglesSpark/shinglesDuck. */
  def shingles(toks: Array[String]): Array[String] =
    if (toks.length >= 3)
      Array.tabulate(toks.length - 2)(i =>
        toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
    else toks

  private val hexDigits = "0123456789abcdef".toCharArray

  /** 16-byte digest → 32-char lowercase hex. The single renderer every
    * md5 spelling in this file goes through — two copies would let the
    * signatures drift. */
  def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(md: MessageDigest, s: String): String = {
    md.reset()
    toHex(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** Register graft's text functions in the session's function
    * registry, once per session: a name the registry already holds
    * (an earlier call, or GraftExtensions) is left alone, so operators
    * may call this on every use without re-creating the functions (each
    * re-creation logs a "replaced a previously registered function"
    * WARN). */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "graft_tokens")(exprs => TokensExpr(exprs.head))
    registerOnce(spark, "graft_minhash")(exprs => MinHashSigExpr(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
    registerOnce(spark, "graft_rollhash")(exprs =>
      RollingHashExpr(exprs.head))
    registerOnce(spark, "graft_ngrams")(exprs => NgramsExpr(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
    registerOnce(spark, "graft_winnow")(exprs => WinnowExpr(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
    registerOnce(spark, "graft_shingles")(exprs => ShinglesExpr(exprs.head))
    registerOnce(spark, "graft_simhash")(exprs => SimHashExpr(exprs(0),
      exprs(1).eval(null).asInstanceOf[Int]))
    registerOnce(spark, "graft_bpe")(exprs =>
      BpeApplyExpr(exprs(0), exprs(1)))
  }

  /** Create temp function `name` unless the session already has it. */
  private[functions] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** BPE merge application — the pinned semantics `graft_bpe` and the
    * DuckDB oracle's recursive CTE both implement: start from the
    * word's single characters; for each merge, IN RANK ORDER, run one
    * left-to-right pass over the token list, fusing each adjacent pair
    * whose concatenation equals the merge and continuing AFTER the
    * fused token (so "aaa" + merge "aa" → [aa, a], and an earlier-rank
    * merge claims its characters before a later one sees them:
    * "abc" + merges [bc, ab] → [a, bc]). */
  def bpeApply(word: String, merges: Array[String]): Array[String] = {
    var toks: Array[String] = Array.tabulate(word.length)(i =>
      String.valueOf(word.charAt(i)))
    var m = 0
    while (m < merges.length && toks.length > 1) {
      val mg = merges(m)
      val out = Array.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length &&
            toks(i).length + toks(i + 1).length == mg.length &&
            mg.startsWith(toks(i)) && mg.endsWith(toks(i + 1))) {
          out += mg
          i += 2
        } else {
          out += toks(i)
          i += 1
        }
      }
      toks = out.result()
      m += 1
    }
    toks
  }
}

/** graft_ngrams(text, n) → array<string>: space-joined runs of n
  * consecutive tokens in one fused pass — exactly
  * TextExpr.ngramsSpark(toksSpark(text), n) (docs shorter than n tokens
  * yield an EMPTY array, not the token fallback shingles use). The
  * declarative spelling walks transform(sequence)+concat_ws(slice)
  * through interpreted HigherOrderFunction dispatch per gram; this is
  * the corpus-scan hot loop of the decontamination/boilerplate/novelty
  * family, so the fused loop matters. */
case class NgramsExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_ngrams expects a string")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure("graft_ngrams needs n >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any = {
    val toks = TextNative.tokenize(input.asInstanceOf[UTF8String].toString)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](toks.length - n + 1)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < out.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_rollhash(text) → bigint: polynomial rolling hash over code
  * points, h ← (h·31 + cp) mod 1e9+7 — the classic Rabin-Karp document
  * fingerprint. DuckDB oracle twin:
  * `list_reduce(list_prepend(0, [ascii(c) FOR c IN split(text, '')]),
  *  (acc, x) -> (acc * 31 + x) % 1000000007)`.
  * (Code point == the oracle's ascii() for BMP text; the corpus is
  * ASCII.) */
case class RollingHashExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rollhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_rollhash expects a string")

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val M = 1000000007L
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % M
      i += Character.charCount(cp)
    }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_tokens(text) → array<string>: fused tokenization. */
case class TokensExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_tokens expects a string")

  override def nullSafeEval(input: Any): Any = {
    val toks = TextNative.tokenize(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(toks.map(UTF8String.fromString(_)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_minhash(text, k) → array<string>: the k lexicographic-min seeded
  * md5 hex strings over 3-gram shingles, in one pass. Element i equals
  * TextExpr.minhashSpark(sh, i); docs with no tokens yield k nulls (the
  * declarative spelling's array_min over an empty array). */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_minhash expects a string")

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val sh = TextNative.shingles(
      TextNative.tokenize(input.asInstanceOf[UTF8String].toString))
    val mins = new Array[UTF8String](k)
    if (sh.nonEmpty) {
      // Hot-loop spelling of md5(seed || ':' || shingle): the shingle
      // bytes are encoded ONCE (not once per seed), the digest takes
      // the prefix and shingle as two update() calls (md5(a||b) is
      // update(a);update(b) by definition, so output is bit-identical
      // to the spec spelling), and candidates compare as RAW digest
      // bytes — hex is per-nibble order-preserving, so unsigned byte
      // order == hex string order — with only the k winners converted
      // to hex. Cuts 8·S string concats/encodings/hex renders per doc
      // to S encodings + k renders.
      val shBytes = new Array[Array[Byte]](sh.length)
      var j = 0
      while (j < sh.length) {
        shBytes(j) = sh(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        j += 1
      }
      var seed = 0
      while (seed < k) {
        val prefixBytes =
          (seed + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var best: Array[Byte] = null
        var i = 0
        while (i < sh.length) {
          md.reset()
          md.update(prefixBytes)
          md.update(shBytes(i))
          val d = md.digest()
          if (best == null || unsignedLt(d, best)) best = d
          i += 1
        }
        mins(seed) = UTF8String.fromString(TextNative.toHex(best))
        seed += 1
      }
    }
    new GenericArrayData(mins)
  }

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_winnow(text, w) → array<string>: MOSS robust-winnowing
  * fingerprints in ONE fused pass — tokenize, 3-gram shingle, md5-hex
  * each gram, take the lexicographic min of every w-wide sliding
  * window, then distinct in first-occurrence order. Semantically
  * identical to the declarative spelling in
  * Dedup.winnowingFingerprints's history (array_distinct over
  * transform(sequence, i -> array_min(slice(gh, i, w)))), but that
  * spelling is an optimizer trap at corpus scale. The mechanism
  * (established by plan read, pinned by ScaleSpec's detector
  * regression): CollapseProject refuses to inline a non-cheap alias
  * referenced more than once, but PushDownPredicates substitutes
  * aliases into pushed filter predicates UNCONDITIONALLY — the
  * downstream explode/join's inferred size/isnotnull filter lands
  * below the projections with graft_tokens(text) textually inlined
  * inside the window lambda bodies, re-tokenizing per window element
  * per row: O(tokens²) per document, all CodegenFallback-interpreted.
  * The r10/r11 sf1 sweeps measured it directly: q219 was the one
  * query that could not finish (2h+ on a ~10M-row join whose DuckDB
  * replay takes ~14 s; ~5 min fused). This expression is
  * O(tokens × w) and evaluates each gram hash once. */
case class WinnowExpr(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  require(w >= 1, "winnow window must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_winnow expects a string")

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = TextNative.tokenize(input.asInstanceOf[UTF8String].toString)
    val gh = TextNative.shingles(toks).map(s => TextNative.md5Hex(md, s))
    val mins: Array[String] =
      if (gh.length >= w) {
        Array.tabulate(gh.length - w + 1) { i =>
          var best = gh(i)
          var j = i + 1
          while (j < i + w) {
            if (gh(j) < best) best = gh(j)
            j += 1
          }
          best
        }
      } else if (gh.length > 0) {
        var best = gh(0)
        var j = 1
        while (j < gh.length) {
          if (gh(j) < best) best = gh(j)
          j += 1
        }
        Array(best)
      } else Array.empty[String]
    // distinct, first-occurrence order == array_distinct
    val seen = new java.util.LinkedHashSet[String]()
    mins.foreach(seen.add)
    val out = new Array[AnyRef](seen.size())
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_shingles(text) → array<string>: tokenize + word 3-gram
  * shingles (short docs fall back to their tokens) in ONE fused pass —
  * exactly TextExpr.shinglesSpark(toksSpark(text)). The declarative
  * spelling keeps correct asymptotics (the token alias survives as its
  * own Project), but the shingle HOF is CodegenFallback: every element
  * pays interpreted lambda dispatch plus concat_ws/UTF8String churn,
  * and — WinnowExpr's trap — any downstream pushed-down predicate on a
  * derived column gets the whole alias chain substituted into its
  * lambda bodies. Fusing removes both: one tight loop per row, and an
  * opaque single expression nothing can inline into. Used by every
  * withShingles consumer (n-gram Jaccard, prefix/containment join,
  * MinHash verify). */
case class ShinglesExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_shingles expects a string")

  override def nullSafeEval(input: Any): Any = {
    val sh = TextNative.shingles(
      TextNative.tokenize(input.asInstanceOf[UTF8String].toString))
    val out = new Array[Any](sh.length)
    var i = 0
    while (i < sh.length) { out(i) = UTF8String.fromString(sh(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_simhash(text, bits) → nullable BIGINT: the `bits`-wide SimHash
  * fingerprint in ONE fused per-document pass; NULL when the document
  * has zero tokens (the declarative explode+groupBy shape emits no row
  * for those — callers filter the NULLs to keep that contract).
  *
  * Exactly the TextExpr spelling: per token OCCURRENCE h = md5 hex,
  * nibble n_k = value of hex char k, bit j's vote is
  * ((n_{j/4} >> (j%4)) & 1) * 2 - 1, and bit j of the fingerprint is
  * set iff the vote sum is >= 0. Bit votes are order-free integer sums,
  * so the fused per-doc accumulation equals the exploded
  * SUM(bitSign) aggregation exactly.
  *
  * Why fused: the declarative shape exploded the corpus into a
  * token-level row stream (~200× the corpus row count) and SHUFFLED it
  * into the per-doc aggregation, paying an interpreted per-token-row
  * projection (md5 + bits/4 nibble decodes) plus `bits` SUM aggregates
  * on the way. Fused, each token hashes once inside one per-doc loop
  * and the operator is a narrow map — no token-row shuffle exists at
  * any corpus size. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {

  require(bits >= 1 && bits <= 62,
    "bits must be in [1, 62] so the BIGINT stays positive")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_simhash expects a string")

  @transient private lazy val md = MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val toks = TextNative.tokenize(input.asInstanceOf[UTF8String].toString)
    if (toks.isEmpty) null
    else {
      val votes = new Array[Int](bits)
      var t = 0
      while (t < toks.length) {
        val h = TextNative.md5Hex(md, toks(t))
        var j = 0
        while (j < bits) {
          val nib = Character.digit(h.charAt(j >> 2), 16)
          votes(j) += (((nib >> (j & 3)) & 1) << 1) - 1
          j += 1
        }
        t += 1
      }
      var fp = 0L
      var j = 0
      while (j < bits) {
        if (votes(j) >= 0) fp |= 1L << j
        j += 1
      }
      fp
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_bpe(word, merges) → array<string>: apply an ordered BPE merge
  * list to one (already-tokenized) word. Semantics and the rank-order /
  * overlap edge cases are pinned in [[TextNative.bpeApply]]'s scaladoc;
  * the DuckDB oracle replays them with a recursive CTE whose state is
  * (stage, remaining tokens, emitted tokens). The merges argument is a
  * COLUMN (the 1-row collect_list aggregate of the trained merge table,
  * broadcast onto the vocabulary), not a literal — the per-row cost of
  * re-reading the ~10-element array is noise next to the merge passes
  * themselves, and it keeps the train→apply pipeline a pure dataframe
  * with no driver-side collect. */
case class BpeApplyExpr(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "graft_bpe expects (string, array<string>)")
    }

  override def nullSafeEval(word: Any, mergesArr: Any): Any = {
    val w = word.asInstanceOf[UTF8String].toString
    val arr = mergesArr.asInstanceOf[ArrayData]
    val merges = Array.tabulate(arr.numElements())(i =>
      arr.getUTF8String(i).toString)
    new GenericArrayData(
      TextNative.bpeApply(w, merges).map(UTF8String.fromString(_)))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
