package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text kernels for the curation chain. Each replaces a
  * Catalyst composition whose higher-order functions (`filter`,
  * `aggregate`, `transform`, `zip_with`) are `CodegenFallback` and so
  * run interpreted, or one that hashed every shingle string k times.
  * Like [[WordShingleWindows]] and [[Simhash64]], every `doGenCode`
  * emits a single call to the `compute` method `eval` also uses, so the
  * projection stays inside whole-stage codegen and both paths share one
  * implementation. TextKernelsSpec pins each kernel to the formula it
  * replaced, under interpreted and generated evaluation.
  *
  * TextScan holds the UTF-8 scanning the kernels share.
  */
private[functions] object TextScan {

  private final val WordCategories: Int =
    (1 << Character.UPPERCASE_LETTER) | (1 << Character.LOWERCASE_LETTER) |
      (1 << Character.TITLECASE_LETTER) | (1 << Character.MODIFIER_LETTER) |
      (1 << Character.OTHER_LETTER) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
      (1 << Character.LETTER_NUMBER) | (1 << Character.OTHER_NUMBER)

  /** `[\p{L}\p{N}]` as java.util.regex defines it: the code point's
    * general category. */
  def isWord(cp: Int): Boolean =
    if (cp < 0x80) (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9')
    else ((WordCategories >>> Character.getType(cp)) & 1) != 0

  /** Byte length of the well-formed UTF-8 sequence starting at `b(i)`
    * (Unicode Table 3-7: no overlongs, surrogates or code points past
    * U+10FFFF), or -1 if it is malformed. */
  def seqLen(b: Array[Byte], i: Int, n: Int): Int = {
    val b0 = b(i) & 0xff
    if (b0 < 0x80) return 1
    val len = if (b0 >= 0xc2 && b0 <= 0xdf) 2 else if (b0 >= 0xe0 && b0 <= 0xef) 3
      else if (b0 >= 0xf0 && b0 <= 0xf4) 4 else return -1
    if (i + len > n) return -1
    val b1 = b(i + 1) & 0xff
    val lo = if (b0 == 0xe0) 0xa0 else if (b0 == 0xf0) 0x90 else 0x80
    val hi = if (b0 == 0xed) 0x9f else if (b0 == 0xf4) 0x8f else 0xbf
    if (b1 < lo || b1 > hi) return -1
    var k = 2
    while (k < len) {
      if ((b(i + k) & 0xc0) != 0x80) return -1
      k += 1
    }
    len
  }

  private def decode(b: Array[Byte], i: Int, len: Int): Int = len match {
    case 1 => b(i)
    case 2 => ((b(i) & 0x1f) << 6) | (b(i + 1) & 0x3f)
    case 3 => ((b(i) & 0x0f) << 12) | ((b(i + 1) & 0x3f) << 6) | (b(i + 2) & 0x3f)
    case _ => ((b(i) & 0x07) << 18) | ((b(i + 1) & 0x3f) << 12) |
      ((b(i + 2) & 0x3f) << 6) | (b(i + 3) & 0x3f)
  }

  /** Maximal `[\p{L}\p{N}]` runs of the UTF-8 bytes `b[0, n)` as
    * (start byte, end byte, code points) triples, or null if the bytes
    * are not well-formed UTF-8 (callers then take the String path,
    * which decodes malformed input exactly as Spark's regex split). */
  def runs(b: Array[Byte], n: Int): Array[Int] = {
    var out = new Array[Int](48)
    var used = 0
    var start = -1
    var cps = 0
    var i = 0
    while (i < n) {
      val len = seqLen(b, i, n)
      if (len < 0) return null
      if (isWord(decode(b, i, len))) {
        if (start < 0) { start = i; cps = 0 }
        cps += 1
      } else if (start >= 0) {
        if (used + 3 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        out(used) = start; out(used + 1) = i; out(used + 2) = cps
        used += 3
        start = -1
      }
      i += len
    }
    if (start >= 0) {
      if (used + 3 > out.length) out = java.util.Arrays.copyOf(out, used + 3)
      out(used) = start; out(used + 1) = n; out(used + 2) = cps
      used += 3
    }
    java.util.Arrays.copyOf(out, used)
  }

  private val Separators = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  /** The regex tokenizer itself, for malformed UTF-8 only. */
  def regexTokens(s: UTF8String): Array[String] =
    Separators.split(s.toString, -1).filter(_.nonEmpty)

  def bytesOf(s: UTF8String): Array[Byte] = {
    val b = new Array[Byte](s.numBytes)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset, b, Platform.BYTE_ARRAY_OFFSET, b.length)
    b
  }

  def checkElementType(e: Expression, name: String,
                       ok: PartialFunction[DataType, Unit]): TypeCheckResult =
    e.dataType match {
      case ArrayType(t, _) if ok.isDefinedAt(t) => TypeCheckSuccess
      case t => TypeCheckFailure(s"$name does not accept $t")
    }
}

/** The word tokenizer: maximal runs of `\p{L}`/`\p{N}` code points,
  * never an empty token. Same output as
  * `filter(split(s, "[^\\p{L}\\p{N}]+"), t -> length(t) > 0)`, in one
  * byte scan. Tokens are slices of one private copy of the input bytes,
  * so they never alias a buffer Spark reuses. NULL in, NULL out. */
case class AlnumTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "alnum_tokens"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckSuccess
    case t => TypeCheckFailure(s"$prettyName expects a string, got $t")
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  def compute(s: UTF8String): ArrayData = {
    val b = TextScan.bytesOf(s)
    val r = TextScan.runs(b, b.length)
    if (r == null) return new GenericArrayData(TextScan.regexTokens(s).map(UTF8String.fromString))
    val out = new Array[Any](r.length / 3)
    var t = 0
    while (t < out.length) {
      out(t) = UTF8String.fromBytes(b, r(3 * t), r(3 * t + 1) - r(3 * t))
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenizer", this, classOf[AlnumTokens].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): AlnumTokens =
    copy(child = newChild)
}

/** Positional n-token window hashes: element i is
  * `xxhash64(concat_ws(" ", slice(toks, i + 1, n)))` — the seed-42
  * xxhash64 of the space-joined window — without building any window
  * string. The tokens are laid out once, space-joined, in one buffer;
  * every window is a contiguous byte range of it, hashed in place with
  * `XXH64.hashUnsafeBytes`, the call Spark's xxhash64 makes for a
  * string. NULL tokens are skipped as concat_ws skips them (the window
  * is then the range over its non-null tokens, or the empty string).
  * Fewer than n tokens, or NULL input, give an empty array. */
case class WindowHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "window length must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "window_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    TextScan.checkElementType(child, prettyName, { case _: StringType => })

  override def eval(input: InternalRow): Any = compute(child.eval(input))

  def compute(v: Any): ArrayData = {
    val toks = v.asInstanceOf[ArrayData]
    val m = if (toks == null) 0 else toks.numElements()
    if (m < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // nonNull(i): non-null tokens before position i; start/end: byte
    // range of the j-th non-null token in the joined buffer
    val nonNull = new Array[Int](m + 1)
    val start = new Array[Int](m)
    val end = new Array[Int](m)
    var bytes = 0
    var i = 0
    while (i < m) {
      nonNull(i + 1) = nonNull(i)
      if (!toks.isNullAt(i)) {
        bytes += toks.getUTF8String(i).numBytes + 1
        nonNull(i + 1) += 1
      }
      i += 1
    }
    val buf = new Array[Byte](bytes)
    var pos = 0
    var j = 0
    i = 0
    while (i < m) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        Platform.copyMemory(t.getBaseObject, t.getBaseOffset, buf,
          Platform.BYTE_ARRAY_OFFSET + pos, t.numBytes)
        start(j) = pos
        pos += t.numBytes
        end(j) = pos
        buf(pos) = ' ' // the last token's separator is never hashed
        pos += 1
        j += 1
      }
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i < out.length) {
      val first = nonNull(i)
      val last = nonNull(i + n) - 1
      out(i) =
        if (last < first) XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, 0, 42L)
        else XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + start(first),
          end(last) - start(first), 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("windowHasher", this, classOf[WindowHashes].getName)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $ref.compute(${c.isNull} ? null : ${c.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

/** k-permutation MinHash signature in one loop over the shingles:
  * element j is the minimum over shingles of `XXH64.hashInt(j, h)`,
  * where h is the shingle's seed-42 xxhash64 — a string is hashed once,
  * a NULL string hashes to the seed, and a bigint element (a
  * [[WindowHashes]] value) already is h; NULL bigints are skipped. That
  * is exactly `min(xxhash64(s, lit(j)))`, because Spark's xxhash64
  * folds its columns left to right from seed 42. NULL or empty input,
  * or only NULL bigints, give NULL. */
case class MinhashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "a signature needs at least one permutation")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes(): TypeCheckResult =
    TextScan.checkElementType(child, prettyName, { case _: StringType | LongType => })

  @transient private lazy val strings: Boolean = child.dataType match {
    case ArrayType(_: StringType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  def compute(sh: ArrayData): ArrayData = {
    val m = sh.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val str = strings
    var seen = false
    var i = 0
    while (i < m) {
      val isNull = sh.isNullAt(i)
      if (str || !isNull) {
        val h =
          if (!str) sh.getLong(i)
          else if (isNull) 42L
          else XXH64.hashUTF8String(sh.getUTF8String(i), 42L)
        var j = 0
        while (j < k) {
          val v = XXH64.hashInt(j, h)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        seen = true
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(sig) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("minhasher", this, classOf[MinhashSignature].getName)
      s"""
        ${ev.value} = $ref.compute($c);
        ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** Per-document quality counts in one scan of the text and one of its
  * lowercasing (`lowered`, Spark's own `lower(text)`), as the struct
  * (n_tokens, token_chars, stopwords, punct, upper, n_chars):
  *   - n_tokens, token_chars: count and summed code-point length of the
  *     [[AlnumTokens]] tokens of `lowered`;
  *   - stopwords: tokens equal to one of `stopwords`;
  *   - punct, upper: code points matching the ASCII `\p{Punct}` and
  *     `[A-Z]` classes — what `length(text) - length(regexp_replace(text,
  *     re, ""))` counts;
  *   - n_chars: `length(text)`.
  * Malformed UTF-8 takes the String path of the expressions it replaces,
  * so the counts match them on any input. NULL text gives NULL.
  *
  * Each thread remembers the last document's counts (keyed by a copy of
  * its text) and `lowered` is evaluated only on a miss. A filter on the
  * derived ratios — qualityScore's `quality >= t` — is pushed below the
  * projection that computes the struct, so Catalyst inlines this
  * expression once per field reference, and FilterExec (unlike
  * ProjectExec) does no subexpression elimination: without the memo a
  * document would be lowercased and scanned once per reference. */
case class TextStats(text: Expression, lowered: Expression, stopwords: Seq[String])
  extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = lowered
  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"
  override def checkInputDataTypes(): TypeCheckResult = (text.dataType, lowered.dataType) match {
    case (_: StringType, _: StringType) => TypeCheckSuccess
    case t => TypeCheckFailure(s"$prettyName expects two strings, got $t")
  }

  @transient private lazy val stopBytes: Array[Array[Byte]] = stopwords.map(_.getBytes("UTF-8")).toArray

  private def isStopword(b: Array[Byte], from: Int, until: Int): Boolean = {
    var w = 0
    while (w < stopBytes.length) {
      val sw = stopBytes(w)
      if (sw.length == until - from &&
          java.util.Arrays.equals(sw, 0, sw.length, b, from, until)) return true
      w += 1
    }
    false
  }

  /** The counts of `t` if it is the last document this thread counted,
    * else null. The memo is per thread, not per instance: each inlined
    * copy of the expression is its own instance. */
  def recall(t: UTF8String): InternalRow = {
    val m = TextStats.lastCounted.get
    if (m != null && m.text == t && ((m.stopwords eq stopwords) || m.stopwords == stopwords)) m.row
    else null
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input).asInstanceOf[UTF8String]
    if (t == null) return null
    val hit = recall(t)
    if (hit != null) return hit
    val l = lowered.eval(input).asInstanceOf[UTF8String]
    if (l == null) null else compute(t, l)
  }

  def compute(t: UTF8String, l: UTF8String): InternalRow = {
    val row = count(t, l)
    // a copy of the key: `t` may point into a buffer Spark reuses
    TextStats.lastCounted.set(new TextStats.Memo(t.clone(), stopwords, row))
    row
  }

  private def count(t: UTF8String, l: UTF8String): InternalRow = {
    var nTok = 0
    var tokChars = 0L
    var stops = 0
    val lb = l.getBytes
    val r = TextScan.runs(lb, lb.length)
    if (r != null) {
      nTok = r.length / 3
      var i = 0
      while (i < r.length) {
        tokChars += r(i + 2)
        if (isStopword(lb, r(i), r(i + 1))) stops += 1
        i += 3
      }
    } else {
      val toks = TextScan.regexTokens(l)
      nTok = toks.length
      toks.foreach { s =>
        tokChars += UTF8String.fromString(s).numChars
        if (stopwords.contains(s)) stops += 1
      }
    }
    val nChars = t.numChars
    var punct = 0
    var upper = 0
    val tb = t.getBytes
    var malformed = false
    var i = 0
    while (i < tb.length && !malformed) {
      val len = TextScan.seqLen(tb, i, tb.length)
      if (len == 1) {
        val c = tb(i)
        if (c >= 'A' && c <= 'Z') upper += 1
        else if (TextStats.isPunct(c)) punct += 1
      }
      malformed = len < 0
      i += len
    }
    if (malformed) { // count what the regexp_replace formula counts
      val s = t.toString
      def matches(re: java.util.regex.Pattern): Int =
        nChars - UTF8String.fromString(re.matcher(s).replaceAll("")).numChars
      punct = matches(TextStats.Punct)
      upper = matches(TextStats.Upper)
    }
    new GenericInternalRow(Array[Any](nTok, tokChars, stops, punct, upper, nChars))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textStats", this, classOf[TextStats].getName)
    val t = text.genCode(ctx)
    val l = lowered.genCode(ctx)
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.recall(${t.value});
        if (${ev.value} == null) {
          ${l.code}
          ${ev.isNull} = ${l.isNull};
          if (!${ev.isNull}) ${ev.value} = $ref.compute(${t.value}, ${l.value});
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): TextStats =
    copy(text = newLeft, lowered = newRight)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("token_chars", LongType, nullable = false),
    StructField("stopwords", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("upper", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  private final class Memo(val text: UTF8String, val stopwords: Seq[String], val row: InternalRow)
  private val lastCounted = new ThreadLocal[Memo]

  private val Punct = java.util.regex.Pattern.compile("\\p{Punct}")
  private val Upper = java.util.regex.Pattern.compile("[A-Z]")

  /** POSIX `\p{Punct}`: !"#$%&'()*+,-./:;<=>?@[\]^_`{|}~ */
  private def isPunct(c: Byte): Boolean =
    (c >= '!' && c <= '/') || (c >= ':' && c <= '@') || (c >= '[' && c <= '`') || (c >= '{' && c <= '~')
}
