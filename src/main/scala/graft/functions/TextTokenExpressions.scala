package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whole-stage-codegen tokenizers for the text hot paths.
  *
  * The composed form `filter(split(text, regex), t => length(t) > 0)` has
  * two hidden costs at corpus scale: `ArrayFilter` is a higher-order
  * function (CodegenFallback — the WHOLE subtree, split and lower
  * included, evaluates interpreted, one lambda dispatch per element), and
  * `UTF8String.split` compiles its `java.util.regex.Pattern` on every
  * row. These expressions produce the identical token arrays / counts in
  * one generated-code pass over the string, no regex, no lambda.
  *
  * Exactness contract (locked by TextKernelSpec property tests against
  * the composed expressions):
  *  - [[TokenMode.UnicodeAlnum]] ≡ `filter(split(s, "[^\\p{L}\\p{N}]+", -1),
  *    length > 0)`. Java's `\p{L}` is general category L* — exactly
  *    `Character.isLetter`; `\p{N}` is Nd|Nl|No — `getType` against those
  *    three constants. Both regex and kernel walk code points with
  *    `codePointAt` semantics (unpaired surrogates classify as
  *    non-word in both).
  *  - [[TokenMode.AsciiAlnum]] ≡ `filter(split(s, "[^a-z0-9]+", -1), ...)`:
  *    byte-level walk is exact because every token byte is ASCII and
  *    UTF-8 continuation bytes are ≥ 0x80.
  *  - [[TokenMode.Whitespace]] ≡ `filter(split(s, "\\s+", -1), ...)`:
  *    Java regex `\s` (no UNICODE_CHARACTER_CLASS) is exactly
  *    `[ \t\n\x0B\f\r]` — all ASCII, so the byte walk is exact.
  *  - [[TokenMode.SingleSpace]] ≡ `filter(split(s, " ", -1), ...)`.
  *
  * `split(..., -1)` only ever yields empty strings at the two ends (the
  * `+`-quantified separator classes absorb interior runs; for the
  * single-char classes each separator starts a new element), and the
  * `length > 0` filter drops every empty element — so in all four modes
  * the result is precisely the maximal runs of token characters, which
  * is what the kernels emit.
  */
object TokenMode {
  val UnicodeAlnum = 0
  val AsciiAlnum = 1
  val Whitespace = 2
  val SingleSpace = 3
}

object TextKernels {

  /** `\p{L}` ∪ `\p{N}` per java.util.regex (which classifies via
    * java.lang.Character, same Unicode tables as this). */
  @inline def isWordCp(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  @inline private def isAsciiWordByte(b: Byte, mode: Int): Boolean =
    if (mode == TokenMode.AsciiAlnum)
      (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
    else if (mode == TokenMode.Whitespace)
      !(b == ' ' || (b >= '\t' && b <= '\r'))
    else b != ' ' // SingleSpace

  /** UnicodeAlnum classification for a byte known to be ASCII. */
  @inline private def isAsciiUnicodeWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** token split — maximal runs of word characters (see TokenMode). */
  def splitTokens(s: UTF8String, mode: Int): ArrayData = {
    if (mode == TokenMode.UnicodeAlnum && !s.isFullAscii)
      return splitUnicode(s)
    val bytes = s.getBytes
    val nb = bytes.length
    // count first so the output array is exact-sized (no buffer growth)
    var n = 0
    var in = false
    var i = 0
    while (i < nb) {
      val w =
        if (mode == TokenMode.UnicodeAlnum) isAsciiUnicodeWordByte(bytes(i))
        else isAsciiWordByte(bytes(i), mode)
      if (w && !in) { n += 1; in = true } else if (!w) in = false
      i += 1
    }
    val out = new Array[AnyRef](n)
    var k = 0
    var start = -1
    i = 0
    while (i < nb) {
      val w =
        if (mode == TokenMode.UnicodeAlnum) isAsciiUnicodeWordByte(bytes(i))
        else isAsciiWordByte(bytes(i), mode)
      if (w) { if (start < 0) start = i }
      else if (start >= 0) {
        out(k) = UTF8String.fromBytes(bytes, start, i - start); k += 1
        start = -1
      }
      i += 1
    }
    if (start >= 0) { out(k) = UTF8String.fromBytes(bytes, start, nb - start) }
    new GenericArrayData(out)
  }

  /** non-ASCII UnicodeAlnum path: code-point walk over the decoded string
    * (regex `[^\p{L}\p{N}]+` walks code points identically). */
  private def splitUnicode(s: UTF8String): ArrayData = {
    val str = s.toString
    val len = str.length
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    var start = -1
    while (i < len) {
      val cp = str.codePointAt(i)
      if (isWordCp(cp)) { if (start < 0) start = i }
      else if (start >= 0) {
        out.add(UTF8String.fromString(str.substring(start, i)))
        start = -1
      }
      i += Character.charCount(cp)
    }
    if (start >= 0) out.add(UTF8String.fromString(str.substring(start)))
    new GenericArrayData(out.toArray)
  }

  /** token COUNT without materializing the array (for
    * `size(filter(split(...), ...))` call sites). */
  def countTokens(s: UTF8String, mode: Int): Int = {
    if (mode == TokenMode.UnicodeAlnum && !s.isFullAscii)
      return countUnicode(s)
    val nb = s.numBytes()
    var n = 0
    var in = false
    var i = 0
    while (i < nb) {
      val b = s.getByte(i)
      val w =
        if (mode == TokenMode.UnicodeAlnum) isAsciiUnicodeWordByte(b)
        else isAsciiWordByte(b, mode)
      if (w && !in) { n += 1; in = true } else if (!w) in = false
      i += 1
    }
    n
  }

  /** see [[graft.functions.ReplaceNthDelim]]. */
  def replaceNthDelim(s: UTF8String, n: Int, from: Byte, to: Byte): UTF8String = {
    val bytes = s.getBytes
    var out: Array[Byte] = null // copy-on-first-hit: no-delim rows alias input
    var seen = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == from) {
        seen += 1
        if (seen == n) {
          if (out == null) out = java.util.Arrays.copyOf(bytes, bytes.length)
          out(i) = to
          seen = 0
        }
      }
      i += 1
    }
    if (out == null) s else UTF8String.fromBytes(out)
  }

  /** see [[graft.functions.WindowHashes]]. Hash values equal
    * `xxhash64(substr(s, pos+1, window))`: XXH64.hashUnsafeBytes over the
    * window's byte range is what XxHash64 computes over the (copied)
    * substring's bytes. */
  def windowHashes(s: UTF8String, window: Int, stride: Int): ArrayData = {
    val nChars = s.numChars()
    if (nChars < window) return new GenericArrayData(Array.empty[AnyRef])
    val nb = s.numBytes()
    // char index -> byte offset (identity when pure ASCII; one linear
    // walk otherwise), so every window slices bytes directly
    val ascii = nb == nChars
    val charOff: Array[Int] =
      if (ascii) null
      else {
        val off = new Array[Int](nChars + 1)
        var b = 0; var c = 0
        while (b < nb) {
          off(c) = b
          b += UTF8String.numBytesForFirstByte(s.getByte(b))
          c += 1
        }
        off(nChars) = nb
        off
      }
    val base = s.getBaseObject
    val baseOff = s.getBaseOffset
    val k = (nChars - window) / stride
    val out = new Array[AnyRef](k + 1)
    var i = 0
    while (i <= k) {
      val cs = i * stride
      val b0 = if (ascii) cs else charOff(cs)
      val b1 = if (ascii) cs + window else charOff(cs + window)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(base, baseOff + b0, b1 - b0, 42L)
      out(i) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](cs.toLong, h))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def countUnicode(s: UTF8String): Int = countUnicode(s.toString)

  private def countUnicode(str: String): Int = {
    val len = str.length
    var n = 0
    var in = false
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      val w = isWordCp(cp)
      if (w && !in) { n += 1; in = true } else if (!w) in = false
      i += Character.charCount(cp)
    }
    n
  }

  private val NoGrams = new Array[Long](0)

  /** Word n-gram hashes in document order, one per window, repeats kept:
    * the one tokenizer behind [[graft.functions.WordNgramHashes]] and
    * [[graft.functions.RepetitionStats]]. Tokens are the maximal
    * `[\p{L}\p{N}]` runs of the text lowercased under `Locale.ROOT`
    * (so hashes do not depend on the JVM's default locale); a gram's
    * hash folds `Hashing.hashChars(token j, seed = j)` over its n tokens.
    * Pure ASCII text takes a byte walk that lowercases and hashes each
    * token in place; other text is lowercased once and walked by code
    * point, like `splitUnicode`. No regex, no token strings. */
  def wordNgramSeq(s: UTF8String, n: Int): Array[Long] =
    if (s.isFullAscii) asciiNgramSeq(s, n)
    else unicodeNgramSeq(s.toString.toLowerCase(java.util.Locale.ROOT), n)

  private def asciiNgramSeq(s: UTF8String, n: Int): Array[Long] = {
    val nTok = countTokens(s, TokenMode.UnicodeAlnum)
    if (nTok < n) return NoGrams
    val out = new Array[Long](nTok - n + 1)
    val ring = new Array[Long](n * n)
    val nb = s.numBytes()
    var t = 0
    var start = -1
    var i = 0
    while (i <= nb) {
      if (i < nb && isAsciiUnicodeWordByte(s.getByte(i))) {
        if (start < 0) start = i
      } else if (start >= 0) {
        val slot = (t % n) * n
        var j = 0
        while (j < n) {
          ring(slot + j) = Hashing.hashAsciiLower(s, start, i, j.toLong); j += 1
        }
        if (t >= n - 1) out(t - n + 1) = foldWindow(ring, t - n + 1, n)
        t += 1
        start = -1
      }
      i += 1
    }
    out
  }

  private def unicodeNgramSeq(str: String, n: Int): Array[Long] = {
    val nTok = countUnicode(str)
    if (nTok < n) return NoGrams
    val out = new Array[Long](nTok - n + 1)
    val ring = new Array[Long](n * n)
    val len = str.length
    var t = 0
    var start = -1
    var i = 0
    while (i <= len) {
      val cp = if (i < len) str.codePointAt(i) else -1
      if (cp >= 0 && isWordCp(cp)) {
        if (start < 0) start = i
      } else if (start >= 0) {
        val slot = (t % n) * n
        var j = 0
        while (j < n) {
          ring(slot + j) = Hashing.hashChars(str, start, i, j.toLong); j += 1
        }
        if (t >= n - 1) out(t - n + 1) = foldWindow(ring, t - n + 1, n)
        t += 1
        start = -1
      }
      i += (if (cp >= 0) Character.charCount(cp) else 1)
    }
    out
  }

  /** the gram starting at token `first`: ring slot `tok % n` holds that
    * token's hash under each seed 0..n-1. */
  @inline private def foldWindow(ring: Array[Long], first: Int, n: Int): Long = {
    var h = 0L
    var j = 0
    while (j < n) {
      h = Hashing.avalanche(h ^ ring(((first + j) % n) * n + j)); j += 1
    }
    h
  }

  /** sorts `hs` and moves its distinct values to the front; returns how
    * many there are. */
  private def sortDedup(hs: Array[Long]): Int = {
    java.util.Arrays.sort(hs)
    var w = 0
    var i = 0
    while (i < hs.length) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    w
  }

  /** `hs` sorted and deduplicated (sorts `hs` in place). */
  def sortedDistinct(hs: Array[Long]): Array[Long] =
    java.util.Arrays.copyOf(hs, sortDedup(hs))

  /** see [[graft.functions.WordNgramHashes]]. */
  def wordNgramHashes(s: UTF8String, n: Int): ArrayData = {
    val hs = wordNgramSeq(s, n)
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET,
      sortDedup(hs), 8)
  }

  /** see [[graft.functions.RepetitionStats]]: counts runs of the sorted
    * gram sequence (distinct grams, the longest run) with no boxing. */
  def repetitionStats(s: UTF8String, n: Int): InternalRow = {
    val hs = wordNgramSeq(s, n)
    val total = hs.length
    if (total == 0) return new GenericInternalRow(Array[Any](0L, 0.0, 0.0))
    java.util.Arrays.sort(hs)
    var distinct = 1
    var run = 1
    var top = 1
    var i = 1
    while (i < total) {
      if (hs(i) == hs(i - 1)) { run += 1; if (run > top) top = run }
      else { distinct += 1; run = 1 }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      total.toLong, (total - distinct).toDouble / total, top.toDouble / total))
  }

  /** how many elements of `a` occur in `sorted` (ascending, distinct),
    * by binary search; see [[graft.functions.CountInSortedSet]]. */
  def countInSorted(a: ArrayData, sorted: Array[Long]): Long = {
    var c = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (java.util.Arrays.binarySearch(sorted, a.getLong(i)) >= 0) c += 1
      i += 1
    }
    c
  }
}

/** `filter(split(child, <mode regex>, -1), t => length(t) > 0)` as one
  * codegen pass — see [[TextKernels]] for the exactness contract. The
  * data type matches `StringSplit`'s `ArrayType(StringType,
  * containsNull = false)`, which `ArrayFilter` preserves. */
case class SplitTokens(child: Expression, mode: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "split_tokens"

  override def nullSafeEval(input: Any): Any =
    TextKernels.splitTokens(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.splitTokens($c, $mode)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `size(filter(split(child, <mode regex>, -1), t => length(t) > 0))`
  * without building the array. IntegerType like `size`; null → null like
  * the composed form (split is null-intolerant and `size(null)` is null
  * with legacy sizeOfNull off — Spark 3+ default). */
case class CountTokens(child: Expression, mode: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_tokens"

  override def nullSafeEval(input: Any): Any =
    TextKernels.countTokens(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.countTokens($c, $mode)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** `size(filter(arr, x => x === term))` — occurrences of `term` in a
  * string array — as a codegen loop (binary UTF8String equality, the
  * UTF8_BINARY `=` semantics the composed form lowers to). */
case class ArrayCountEq(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "array_count_eq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val t = b.asInstanceOf[UTF8String]
    var c = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) { if (t.equals(arr.getUTF8String(i))) c += 1; i += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: with non-nullable inputs nullSafeCodeGen emits this
      // straight into the enclosing scope, next to any sibling instance
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($b.equals($a.getUTF8String($i))) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Replaces every `n`-th occurrence of the single-byte delimiter `from`
  * with the single-byte `to` — the codegen form of "re-chunk a
  * space-separated token stream into n-token paragraphs":
  *
  *   array_join(transform(sequence(0, floor((size(w)-1)/n)),
  *     i => concat_ws(" ", slice(w, i*n+1, n))), "\n")
  *   where w = split(text, " ")
  *
  * is identical to this expression with (n, ' ', '\n'): `split(text, " ",
  * -1)` partitions the text at every single space (empty elements
  * included), `concat_ws(" ", slice(...))` reproduces each n-element run
  * byte-for-byte with its interior spaces, and the "\n" join lands
  * exactly at gaps n, 2n, ... — i.e. at every n-th space. The composed
  * form walks the document O(tokens) times through interpreted
  * higher-order lambdas (and twice more when the consumer joins the
  * frame back on itself); this is one codegen byte pass. Locked
  * elementwise by TextKernelSpec. Bytes ≥ 0x80 are UTF-8 continuation /
  * lead bytes, never 0x20, so the byte walk is exact. */
case class ReplaceNthDelim(child: Expression, n: Int, from: Byte, to: Byte)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")
  require(from >= 0 && to >= 0, "single-byte (ASCII) delimiters only")
  override def dataType: DataType = StringType
  override def prettyName: String = "replace_nth_delim"

  override def nullSafeEval(input: Any): Any =
    TextKernels.replaceNthDelim(input.asInstanceOf[UTF8String], n, from, to)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.replaceNthDelim($c, $n, (byte) $from, (byte) $to)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Stride-aligned window hashes — the codegen form of
  *
  *   transform(sequence(0, floor((numChars - window)/stride)),
  *     k => struct((k*stride)::long AS pos,
  *                 xxhash64(substr(text, k*stride + 1, window)) AS h))
  *
  * (the shared front end of duplicate-span detection). The composed form
  * is an interpreted higher-order function that COPIES a `window`-char
  * substring per element before hashing; this walks the char→byte
  * offsets once and feeds each window's byte range straight into the
  * same XXH64 kernel (seed 42) Spark's `xxhash64` uses — identical
  * hashes, zero per-window copies, whole-stage codegen. Callers filter
  * `length(text) >= window` first (matching the composed form's guard
  * against Spark's descending `sequence(0, -1)`); shorter inputs here
  * yield an empty array. Locked elementwise by TextKernelSpec. */
case class WindowHashes(child: Expression, window: Int, stride: Int)
    extends UnaryExpression {
  require(window > 0 && stride > 0 && stride <= window,
    "need 0 < stride <= window")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", LongType, nullable = false),
    StructField("h", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(input: Any): Any =
    TextKernels.windowHashes(input.asInstanceOf[UTF8String], window, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextKernels.windowHashes($c, $window, $stride)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-API wrappers. */
object TextFunctions {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** tokens of `c` split on non-(Unicode letter/number) runs — pair with
    * `lower(c)` at the call site when the composed form lowered first. */
  def split_tokens(c: Column, mode: Int): Column =
    ColumnBridge.column(SplitTokens(expr(c), mode))

  def count_tokens(c: Column, mode: Int): Column =
    ColumnBridge.column(CountTokens(expr(c), mode))

  def array_count_eq(arr: Column, term: Column): Column =
    ColumnBridge.column(ArrayCountEq(expr(arr), expr(term)))

  def replace_nth_delim(c: Column, n: Int, from: Char, to: Char): Column =
    ColumnBridge.column(ReplaceNthDelim(expr(c), n, from.toByte, to.toByte))

  def window_hashes(c: Column, window: Int, stride: Int): Column =
    ColumnBridge.column(WindowHashes(expr(c), window, stride))
}
