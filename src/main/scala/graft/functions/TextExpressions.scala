package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.columnshim.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing expressions (document fingerprinting / SimHash for
  * near-dup detection) — imperative kernels kept inside whole-stage
  * codegen via static calls, same pattern as [[VectorKernels]].
  */
object TextKernels {

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFFL); h *= 0x100000001B3L; i += 1 }
    h
  }

  /** Polynomial rolling hash over UTF-8 bytes (content fingerprint that
    * can be computed incrementally over chunked documents at scale).
    */
  def rollingHash64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 1000003L + (bytes(i) & 0xFFL); i += 1 }
    h
  }

  /** 64-bit SimHash of a token array: per-bit votes weighted by token
    * frequency; bit set iff vote sum > 0.
    */
  def simhash64(tokens: ArrayData): Long =
    simhashFromVotes(tokens, md5Based = false)

  /** SimHash over md5-derived token hashes (see [[md5Low64]]) — slower
    * than the FNV path, but md5 is a cross-engine primitive, so an
    * external ANSI-SQL engine can recompute the identical simhash and
    * serve as an exact correctness oracle for the near-dup pair set.
    */
  def simhash64Md5(tokens: ArrayData): Long =
    simhashFromVotes(tokens, md5Based = true)

  private def simhashFromVotes(tokens: ArrayData, md5Based: Boolean): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val h = if (md5Based) md5Low64Cached(t) else fnv1a64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Order-sensitive document fingerprint: polynomial rolling hash over
    * the tokens' md5-low-64 values (mod 2⁶⁴ via natural long wrap —
    * bit-identical to unsigned mod-2⁶⁴ arithmetic). Unlike the md5
    * whole-text fingerprint this is incrementally computable over
    * chunked documents (combine chunk A's hash with chunk B via
    * h_A·1000003^|B| + h_B), the property a 100 TB ingest needs; unlike
    * SimHash it distinguishes token permutations. md5 per token keeps it
    * recomputable by any ANSI engine.
    */
  def tokenRollingHash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) h = h * 1000003L + md5Low64Cached(tokens.getUTF8String(i))
      i += 1
    }
    h
  }

  /** [[md5Low64]] behind a per-thread memo: token frequencies are
    * zipfian, so most md5 calls in a corpus pass repeat a hash already
    * computed on this thread. Bounded at 64k entries (few MB/thread);
    * past the bound new tokens pay the digest, the memo keeps serving
    * the head of the distribution.
    */
  private val Md5Memo = new ThreadLocal[java.util.HashMap[String, java.lang.Long]] {
    override def initialValue() = new java.util.HashMap[String, java.lang.Long](1 << 14)
  }

  def md5Low64Cached(s: UTF8String): Long = {
    val memo = Md5Memo.get()
    val key = s.toString
    val hit = memo.get(key)
    if (hit != null) hit.longValue()
    else {
      val v = md5Low64(s)
      if (memo.size < 65536) memo.put(key, v)
      v
    }
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Low 64 bits of md5(utf8 bytes): digest bytes 8..15 big-endian —
    * exactly the number an ANSI engine gets by parsing hex chars 17..32
    * of the md5 hex string as one base-16 integer.
    */
  def md5Low64(s: UTF8String): Long = {
    val md = Md5.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (digest(i) & 0xFFL); i += 1 }
    h
  }
}

object ShingleKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** text → SORTED DISTINCT hashes of lower-cased word n-gram shingles,
    * in one pass (tokenize, per-window hash combine, hash-set dedup,
    * sort). Replaces the tokens→shingles→hash→distinct→sort composition
    * of higher-order functions, whose per-element boxing and O(n²)
    * string `array_distinct` dominated the dedup operators' runtime.
    * Texts shorter than n tokens yield the whole-text shingle, matching
    * [[TextFunctions.shingles]]. Downstream set math (Jaccard, MinHash,
    * prefix keys) is hash-isomorphic: sizes and intersections are
    * preserved modulo 64-bit collisions.
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val s = text.toString.toLowerCase.trim
    val toks = if (s.isEmpty) Array("") else Ws.split(s)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      th(i) = TextKernels.fnv1a64(UTF8String.fromString(toks(i)))
      i += 1
    }
    val nWindows = math.max(toks.length - n + 1, 1)
    val set = new java.util.HashSet[java.lang.Long](nWindows * 2)
    var w = 0
    while (w < nWindows) {
      var h = 0xCBF29CE484222325L
      var j = w
      val end = math.min(w + n, toks.length)
      while (j < end) { h = (h ^ th(j)) * 0x100000001B3L; j += 1 }
      set.add(h)
      w += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    java.util.Arrays.sort(out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** shingle_hashes(text, n) → sorted distinct array<bigint>. */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"shingle_hashes expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.shingleHashes(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleKernel.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

case class RollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"rolling_hash64 expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.rollingHash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.rollingHash64($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "rolling_hash64"
}

case class SimHash64(child: Expression, md5Based: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<string>, got ${dt.simpleString}")
  }
  private def kernel: String = if (md5Based) "simhash64Md5" else "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    if (md5Based) TextKernels.simhash64Md5(v.asInstanceOf[ArrayData])
    else TextKernels.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.$kernel($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = if (md5Based) "simhash64_md5" else "simhash64"
}

/** One-pass kernels for the language-ID / quality-score operators.
  *
  * The Column compositions in [[TextFunctions]] evaluate 5 boxed
  * `filter(isin…)` higher-order passes plus two regex passes per row —
  * the dominant cost of the text-analysis queries at scale. These
  * kernels compute the identical doubles/strings in ONE pass per text
  * (bit-exactness asserted against the compositions in
  * TextFunctionsSpec, and by the unchanged DuckDB oracles). Every
  * semantic subtlety of the composition is reproduced: `trim` strips
  * ASCII space only, tokenization is Java `\s+` split with limit -1
  * (empty text → one empty token), `length` counts codepoints, the
  * punctuation class is the Java-regex complement of `[a-zA-Z0-9\s]`.
  */
object TextProfileKernels {
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private def set(words: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }
  private lazy val En = set(TextFunctions.EnMarkers)
  private lazy val Es = set(TextFunctions.EsMarkers)
  private lazy val De = set(TextFunctions.DeMarkers)
  private lazy val Fr = set(TextFunctions.FrMarkers)

  private def tokensOf(text: UTF8String): Array[String] = {
    val t = text.trim().toLowerCase.toString
    if (t.isEmpty) Array("") else Ws.split(t, -1)
  }

  @inline private def isJavaWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  def quality(text: UTF8String): Double = {
    val toks = tokensOf(text)
    val n = toks.length
    var en = 0
    var i = 0
    while (i < n) { if (En.contains(toks(i))) en += 1; i += 1 }
    val s = text.toString
    var punct = 0
    var nChars = 0
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      nChars += 1
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9')
      if (!alnum && !isJavaWs(cp)) punct += 1
      j += Character.charCount(cp)
    }
    val tokensNorm = math.min(1.0, n / 50.0)
    val stopRatio = en.toDouble / math.max(n, 1).toDouble
    val punctRatio = punct.toDouble / math.max(nChars, 1).toDouble
    0.4 * tokensNorm + 0.3 * stopRatio + 0.3 * (1.0 - punctRatio)
  }

  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    var cjk = false
    var j = 0
    while (!cjk && j < s.length) {
      val cp = s.codePointAt(j)
      if (cp >= 0x4E00 && cp <= 0x9FFF) cjk = true
      j += Character.charCount(cp)
    }
    val lang =
      if (cjk) "zh"
      else {
        val toks = tokensOf(text)
        var en = 0; var es = 0; var de = 0; var fr = 0
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (En.contains(t)) en += 1
          if (Es.contains(t)) es += 1
          if (De.contains(t)) de += 1
          if (Fr.contains(t)) fr += 1
          i += 1
        }
        if (en == 0 && es == 0 && de == 0 && fr == 0) "und"
        else if (en >= es && en >= de && en >= fr) "en"
        else if (es >= de && es >= fr) "es"
        else if (de >= fr) "de"
        else "fr"
      }
    UTF8String.fromString(lang)
  }
}

/** One-pass repetition counters — replaces the HOF composition in
  * `text_repetition_signals`, whose `array_max(transform(array_distinct,
  * d => size(filter(toks, t === d))))` top-token pass is O(tokens ×
  * distinct) boxed comparisons per row. One hash-map scan computes the
  * identical integer counters; the fractions stay in the query as the
  * same double divisions, so the DuckDB oracle is unchanged.
  *
  * → [n_tokens, n_distinct_tokens, n_bigrams, n_distinct_bigrams,
  *    top_token_count, sum_token_codepoints]. Tokenization is
  * [[TextProfileKernels]]' exact built-in replica (UTF8String trim +
  * toLowerCase, Java \s+ split keeping boundary empties); bigrams join
  * adjacent tokens with a space, which is injective because tokens
  * contain no whitespace. n_bigrams is max(n−1, 0).
  */
object RepetitionKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def repetitionStats(text: UTF8String): ArrayData = {
    val t = text.trim().toLowerCase.toString
    val toks: Array[String] = if (t.isEmpty) Array("") else Ws.split(t, -1)
    val n = toks.length
    val counts = new java.util.HashMap[String, Long](n * 2)
    var sumLen = 0L
    var top = 0L
    var i = 0
    while (i < n) {
      val tok = toks(i)
      sumLen += tok.codePointCount(0, tok.length)
      val c = counts.merge(tok, 1L, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    var nGrams = 0L
    var distinctGrams = 0L
    if (n >= 2) {
      nGrams = n - 1L
      val grams = new java.util.HashSet[String](n * 2)
      var j = 0
      while (j < n - 1) { grams.add(toks(j) + " " + toks(j + 1)); j += 1 }
      distinctGrams = grams.size.toLong
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(
      n.toLong, counts.size.toLong, nGrams, distinctGrams, top, sumLen))
  }
}

/** repetition_stats(text) → array<bigint> of the six repetition counters. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"repetition_stats expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    RepetitionKernel.repetitionStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionKernel.repetitionStats($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "repetition_stats"
}

/** text_quality(text) → double engine-defined quality score. */
case class TextQuality(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"text_quality expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextProfileKernels.quality(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextProfileKernels.quality($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "text_quality"
}

/** text_lang_id(text) → string heuristic language code. */
case class TextLangId(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"text_lang_id expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextProfileKernels.langId(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextProfileKernels.langId($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "text_lang_id"
}

/** token_rolling_hash64(tokens) → bigint document fingerprint. */
case class TokenRollingHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"token_rolling_hash64 expects array<string>, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    TextKernels.tokenRollingHash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokenRollingHash64($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_rolling_hash64"
}

/** One-pass Gopher-rule counters (PipelineQueries.text_quality_gopher):
  * replaces six separate regex/higher-order passes per document (split +
  * per-token rlike filter + array_intersect + two regexp_replaces + two
  * replaces) with a single scan. Semantics are EXACTLY the composed
  * built-ins' — space-only trim, Java-\s token runs with leading AND
  * trailing empty tokens kept (Spark split keeps both), ASCII-lower
  * comparisons — so the DuckDB oracle is unchanged.
  */
object GopherKernel {
  // Case-folding boundary: the alpha/stop-word checks fold ASCII A-Z
  // only, while the built-ins' lower() folds full Unicode. The rare
  // letters whose Unicode lowercase lands in [a-z] but whose code point
  // is outside A-Z (e.g. U+212A KELVIN SIGN → 'k', U+0130 İ → 'i'+dot)
  // therefore count as alpha for the built-ins but not for the kernel.
  // Exact parity would need utf8proc-identical casing (what DuckDB
  // uses), which the JVM does not expose; GopherKernelSpec pins this
  // boundary explicitly. Code-POINT counting (non-BMP text) is exact.
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private val Stop = Array("the", "a", "and", "of", "to", "in", "is", "that")

  /** → [words, non-ws chars, '#' count, non-overlapping "..." count,
    *    tokens containing an ASCII letter, distinct stop words present]
    */
  def gopherStats(text: UTF8String): ArrayData = {
    val str = text.toString
    val len = str.length
    var nonws = 0L
    var nHash = 0L
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      // count CODE POINTS, not UTF-16 units — length()/regexp_replace in
      // both engines count code points, so a surrogate pair is ONE char
      // (no \s char is supplementary, so pairs are always non-ws)
      if (!isWs(c) && !Character.isLowSurrogate(c)) nonws += 1
      if (c == '#') nHash += 1
      i += 1
    }
    // non-overlapping "..." (replace() semantics: left-to-right, skip 3)
    var nEll = 0L
    i = 0
    while (i < len) {
      if (str.charAt(i) == '.' && i + 2 < len &&
          str.charAt(i + 1) == '.' && str.charAt(i + 2) == '.') {
        nEll += 1; i += 3
      } else i += 1
    }
    // space-only trim (Spark/DuckDB trim), then \s+-separated tokens
    var lo = 0
    var hi = len
    while (lo < hi && str.charAt(lo) == ' ') lo += 1
    while (hi > lo && str.charAt(hi - 1) == ' ') hi -= 1
    var words = 1L
    var alpha = 0L
    var stopMask = 0
    var tokHasAlpha = false

    def endToken(s: Int, e: Int): Unit = {
      if (tokHasAlpha) alpha += 1
      val tl = e - s
      if (tl >= 1 && tl <= 4) {
        var k = 0
        while (k < Stop.length) {
          val w = Stop(k)
          if (w.length == tl) {
            var m = 0
            var ok = true
            while (m < tl && ok) {
              var c = str.charAt(s + m)
              if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
              if (c != w.charAt(m)) ok = false
              m += 1
            }
            if (ok) stopMask |= (1 << k)
          }
          k += 1
        }
      }
    }

    var tokStart = lo
    var j = lo
    while (j < hi) {
      if (isWs(str.charAt(j))) {
        endToken(tokStart, j)
        while (j < hi && isWs(str.charAt(j))) j += 1
        words += 1
        tokStart = j
        tokHasAlpha = false
      } else {
        val c = str.charAt(j)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) tokHasAlpha = true
        j += 1
      }
    }
    endToken(tokStart, hi)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(
      words, nonws, nHash, nEll, alpha, Integer.bitCount(stopMask).toLong))
  }
}

/** gopher_stats(text) → array<bigint> of the six Gopher-rule counters. */
case class GopherStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"gopher_stats expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    GopherKernel.gopherStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GopherKernel.gopherStats($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "gopher_stats"
}

object SpanKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")
  private val HexDigits = "0123456789abcdef".toCharArray

  /** text → md5 hex of every NON-OVERLAPPING `spanWords`-token window of
    * the space-trimmed lower-cased whitespace-split text, in document
    * order (the last span may be short). One pass; replaces the
    * sequence→transform→slice→array_join→md5 higher-order composition
    * whose per-span boxing and array copies dominated the span-dedup
    * operators' scan cost. Tokenization replicates Spark's
    * `split(lower(trim(text)), "\\s+")` exactly — UTF8String trim
    * (0x20 only) + UTF8String lower, then Java regex split with
    * trailing empties kept — so the emitted hashes are bitwise the ones
    * the DuckDB oracle replays.
    */
  private def spanStrings(text: UTF8String, spanWords: Int): Array[String] = {
    val s = text.trim().toLowerCase().toString
    val toks = Ws.split(s, -1)
    val n = toks.length
    val nspans = (n + spanWords - 1) / spanWords
    val out = new Array[String](nspans)
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < nspans) {
      sb.setLength(0)
      var j = w * spanWords
      val end = math.min(j + spanWords, n)
      while (j < end) {
        // separator between POSITIONS, not non-empty tokens: array_join
        // emits it even after an empty token ("" from a leading \t run)
        if (j > w * spanWords) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(w) = sb.toString
      w += 1
    }
    out
  }

  def spanMd5s(text: UTF8String, spanWords: Int): ArrayData = {
    val spans = spanStrings(text, spanWords)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](spans.length)
    var w = 0
    while (w < spans.length) {
      md.reset()
      val digest = md.digest(spans(w).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexDigits((digest(b) >> 4) & 0xF)
        hex(2 * b + 1) = HexDigits(digest(b) & 0xF)
        b += 1
      }
      out(w) = UTF8String.fromString(new String(hex))
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** text → the span strings themselves, for operators that must carry
    * the span content (e.g. the span-dedup APPLY step, which rebuilds
    * the document from its kept spans).
    */
  def spanTexts(text: UTF8String, spanWords: Int): ArrayData = {
    val spans = spanStrings(text, spanWords)
    val out = new Array[Any](spans.length)
    var w = 0
    while (w < spans.length) { out(w) = UTF8String.fromString(spans(w)); w += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass OVERLAPPING-window rolling-hash kernel — the fingerprint
  * front end of exact-substring dedup (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better": remove every ≥k-token
  * substring already seen elsewhere in the corpus). Emits the
  * polynomial rolling hash of EVERY k-token window of the
  * trim/lower/\s+-split text — n−k+1 hashes for n tokens — in O(n):
  * h₀ folds the first k token md5-low-64 values, then
  * hᵢ₊₁ = (hᵢ − mᵢ·P^(k−1))·P + mᵢ₊ₖ (P = 1000003, mod 2⁶⁴ via natural
  * long wrap). Each window hash equals the plain left fold over that
  * window's tokens, so a SQL engine replays any single window with a
  * k-term list_reduce — the chunk-combinable property of
  * [[TextKernels.tokenRollingHash64]] applied per position. md5 per
  * token keeps the token mapping engine-replayable; the per-thread memo
  * serves the zipfian head.
  */
object WindowHashKernel {
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def tokenWindowHash64(text: UTF8String, k: Int): ArrayData = {
    val s = text.trim().toLowerCase().toString
    val toks = Ws.split(s, -1)
    val n = toks.length
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val m = new Array[Long](n)
    var i = 0
    while (i < n) {
      m(i) = TextKernels.md5Low64Cached(UTF8String.fromString(toks(i)))
      i += 1
    }
    var pk = 1L // P^(k-1) mod 2^64
    var e = 0
    while (e < k - 1) { pk *= 1000003L; e += 1 }
    val out = new Array[Any](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * 1000003L + m(i); i += 1 }
    out(0) = h
    i = 1
    while (i <= n - k) {
      h = (h - m(i - 1) * pk) * 1000003L + m(i + k - 1)
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** token_window_hash64(text, k) → array<bigint>: rolling hash of every
  * overlapping k-token window, position-indexed (posexplode gives the
  * 0-based window start).
  */
case class TokenWindowHashes(child: Expression, windowTokens: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"token_window_hash64 expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    WindowHashKernel.tokenWindowHash64(v.asInstanceOf[UTF8String], windowTokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WindowHashKernel.tokenWindowHash64($c, $windowTokens)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "token_window_hash64"
}

/** span_md5s(text, spanWords) → array<string> of per-span md5 hex. */
case class SpanMd5s(child: Expression, spanWords: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"span_md5s expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    SpanKernel.spanMd5s(v.asInstanceOf[UTF8String], spanWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SpanKernel.spanMd5s($c, $spanWords)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "span_md5s"
}

/** span_texts(text, spanWords) → array<string> of the spans themselves. */
case class SpanTexts(child: Expression, spanWords: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"span_texts expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    SpanKernel.spanTexts(v.asInstanceOf[UTF8String], spanWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SpanKernel.spanTexts($c, $spanWords)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "span_texts"
}

/** One-pass character-level statistics (the FineWeb/CCNet-style
  * "gibberish gate" signal: near-zero char entropy means a run-length
  * blob, near-log(alphabet) means noise; natural prose sits in a stable
  * band): byte histogram (the fixtures are ASCII, so byte == char; on
  * multi-byte UTF-8 this is deliberately BYTE entropy — documented,
  * deterministic), Shannon entropy folded in byte-value order so a SQL
  * engine can replay the identical IEEE sum as `list(... ORDER BY ch)`,
  * plus exact distinct-byte and length counters.
  */
object CharStatsKernel {
  /** [entropy_nats, distinct_chars, n_chars] (counters exact in double). */
  def charStats(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new Array[Double](3)
    if (n > 0) {
      val hist = new Array[Int](256)
      var i = 0
      while (i < n) { hist(bytes(i) & 0xFF) += 1; i += 1 }
      var h = 0.0
      var distinct = 0
      var b = 0
      while (b < 256) {
        val c = hist(b)
        if (c > 0) {
          distinct += 1
          val p = c.toDouble / n
          h += -p * math.log(p)
        }
        b += 1
      }
      out(0) = h; out(1) = distinct.toDouble; out(2) = n.toDouble
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** char_stats(text) → array<double> [entropy_nats, distinct_chars, n_chars]. */
case class CharStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"char_stats expects string, got ${dt.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    CharStatsKernel.charStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharStatsKernel.charStats($c)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
  override def prettyName: String = "char_stats"
}

/** One BPE training round's view of a word type: its characters with the
  * learned merges applied in order, each merge one greedy left-to-right
  * pass (a symbol pair equal to the merge becomes one symbol, and the
  * merged symbol can take part in the next pair). [[pairs]] emits one
  * (a, b, w) row per adjacent pair weighted by the word's count, plus one
  * (null, null, count·|symbols|) row carrying the word's token total;
  * [[Counts]] folds the same into a table's pair counts.
  */
object BpeKernel {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** The word's symbols after the merges. `substring` and `concat` copy,
    * so no symbol points into the word's buffer.
    */
  def symbols(word: UTF8String, merges: Seq[(UTF8String, UTF8String)]): Array[UTF8String] =
    merges.foldLeft(Array.tabulate(word.numChars())(i => word.substring(i, i + 1))) {
      case (syms, (ma, mb)) =>
        val acc = new scala.collection.mutable.ArrayBuffer[UTF8String](syms.length)
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == ma && x == mb)
            acc(acc.length - 1) = UTF8String.concat(ma, mb)
          else acc += x
        }
        acc.toArray
    }

  def pairs(word: UTF8String, weight: Long, merges: ArrayData): ArrayData = {
    val syms = symbols(word, (0 until merges.numElements()).map { m =>
      val pair = merges.getStruct(m, 2)
      (pair.getUTF8String(0), pair.getUTF8String(1))
    })
    val n = syms.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n - 1) { out(i) = InternalRow(syms(i), syms(i + 1), weight); i += 1 }
    if (n > 0) out(n - 1) = InternalRow(null, null, Math.multiplyExact(weight, n.toLong))
    new GenericArrayData(out)
  }

  /** A word-type table's weighted adjacent pair counts and token total
    * after some merges, folded one word at a time. It also keeps what
    * merging each pair would save: two different symbols never overlap,
    * so merging (a, b) saves its count, while a run of k equal symbols
    * merges ⌊k/2⌋ times. The token total after the next merge is then
    * known without another pass.
    */
  final class Counts extends Serializable {
    val pairs = scala.collection.mutable.HashMap.empty[(UTF8String, UTF8String), Long]
    private val runSaved = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    private var tokens = 0L

    private def bump[K](m: scala.collection.mutable.HashMap[K, Long], k: K, n: Long): Unit =
      m(k) = Math.addExact(m.getOrElse(k, 0L), n)

    def add(word: UTF8String, weight: Long, merges: Seq[(UTF8String, UTF8String)]): Counts = {
      val syms = symbols(word, merges)
      tokens = Math.addExact(tokens, Math.multiplyExact(weight, syms.length.toLong))
      var run = 1 // equal symbols ending at i - 1
      for (i <- 1 to syms.length) {
        if (i < syms.length) bump(pairs, (syms(i - 1), syms(i)), weight)
        if (i < syms.length && syms(i) == syms(i - 1)) run += 1
        else {
          if (run >= 2) bump(runSaved, syms(i - 1), Math.multiplyExact(weight, (run / 2).toLong))
          run = 1
        }
      }
      this
    }

    def merge(other: Counts): Counts = {
      other.pairs.foreach { case (k, n) => bump(pairs, k, n) }
      other.runSaved.foreach { case (k, n) => bump(runSaved, k, n) }
      tokens = Math.addExact(tokens, other.tokens)
      this
    }

    /** The pair to merge next — highest count, ties to the smaller (a, b)
      * in binary string order — with its count and the token total after
      * merging it; None when no word has two symbols.
      */
    def best: Option[(UTF8String, UTF8String, Long, Long)] =
      if (pairs.isEmpty) None
      else {
        val ((a, b), n) = pairs.minBy { case ((a, b), n) => (-n, a, b) }
        Some((a, b, n, tokens - (if (a == b) runSaved(a) else n)))
      }
  }
}

/** bpe_pairs(word, weight, merges) → array<struct<a, b, w>>; see
  * [[BpeKernel]]. `merges` (array<struct<string, string>>) is a literal
  * that the generated code references, so every round compiles to the
  * same class.
  */
case class BpePairs(word: Expression, weight: Expression, merges: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = word
  override def second: Expression = weight
  override def third: Expression = merges
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", StringType), StructField("b", StringType),
    StructField("w", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = (word.dataType, weight.dataType,
      merges.dataType) match {
    case (StringType, LongType, ArrayType(StructType(Array(
        StructField(_, StringType, _, _), StructField(_, StringType, _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (w, c, m) => TypeCheckResult.TypeCheckFailure(
      "bpe_pairs expects (string, bigint, array<struct<string, string>>), got " +
        s"(${w.simpleString}, ${c.simpleString}, ${m.simpleString})")
  }
  override protected def nullSafeEval(w: Any, c: Any, m: Any): Any =
    BpeKernel.pairs(w.asInstanceOf[UTF8String], c.asInstanceOf[Long], m.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, c, m) => s"graft.functions.BpeKernel.pairs($w, $c, $m)")
  override protected def withNewChildrenInternal(
      w: Expression, c: Expression, m: Expression): BpePairs = copy(word = w, weight = c, merges = m)
  override def prettyName: String = "bpe_pairs"
}

object TextHashFunctions {
  def charStats(c: Column): Column = column(CharStats(expression(c)))
  def rollingHash64(c: Column): Column = column(RollingHash64(expression(c)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def simhash64Md5(c: Column): Column = column(SimHash64(expression(c), md5Based = true))
  def tokenRollingHash64(c: Column): Column = column(TokenRollingHash64(expression(c)))
  def textQuality(c: Column): Column = column(TextQuality(expression(c)))
  def textLangId(c: Column): Column = column(TextLangId(expression(c)))
  def gopherStats(c: Column): Column = column(GopherStats(expression(c)))
  def repetitionStats(c: Column): Column = column(RepetitionStats(expression(c)))
  def shingleHashes(c: Column, n: Int): Column = column(ShingleHashes(expression(c), n))
  def spanMd5s(c: Column, spanWords: Int): Column = column(SpanMd5s(expression(c), spanWords))
  def spanTexts(c: Column, spanWords: Int): Column = column(SpanTexts(expression(c), spanWords))
  def tokenWindowHash64(c: Column, k: Int): Column =
    column(TokenWindowHashes(expression(c), k))
}
