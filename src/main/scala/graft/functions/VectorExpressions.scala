package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the pipeline hot paths.
  *
  * Spark's public higher-order functions (transform/aggregate/zip_with)
  * evaluate their lambdas interpreted, one virtual dispatch per element —
  * fine for occasional list ops, ruinous for 4M × 64-dim dot products.
  * These expressions run the inner loop as plain JVM code (and
  * [[CosineSimilarity]]/[[DotProduct]] generate Java directly into
  * whole-stage codegen), the (b) tier of the custom-operator preference
  * order (compose built-ins > custom Expression > custom plan > RDD).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double s = 0.0;
         |for (int i = 0; i < n; i++) { s += $a.getDouble(i) * $b.getDouble(i); }
         |${ev.value} = s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** cosine similarity in one fused pass (dot + both norms). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, na = 0.0, nb = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xv = $a.getDouble(i); double yv = $b.getDouble(i);
         |  dot += xv * yv; na += xv * xv; nb += yv * yv;
         |}
         |double denom = java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb);
         |${ev.value} = (denom == 0.0) ? 0.0 : dot / denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

object Hashing {
  /** xxhash64-style avalanche over a rolling state — deterministic,
    * well-mixed 64-bit hash of a char sequence slice (own implementation
    * of the standard xxh64 finalization constants). */
  @inline def hashChars(s: String, from: Int, until: Int, seed: Long): Long = {
    var h = seed ^ 0x9E3779B185EBCA87L
    var i = from
    while (i < until) {
      h ^= s.charAt(i) * 0xC2B2AE3D27D4EB4FL
      h = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B185EBCA87L
      i += 1
    }
    avalanche(h)
  }
  /** [[hashChars]] of the ASCII-lowercased byte slice: for pure ASCII
    * text this equals `hashChars(s.toString.toLowerCase(Locale.ROOT), ...)`
    * without decoding the string. */
  @inline def hashAsciiLower(s: UTF8String, from: Int, until: Int, seed: Long): Long = {
    var h = seed ^ 0x9E3779B185EBCA87L
    var i = from
    while (i < until) {
      val b = s.getByte(i)
      h ^= (if (b >= 'A' && b <= 'Z') b + 32 else b) * 0xC2B2AE3D27D4EB4FL
      h = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B185EBCA87L
      i += 1
    }
    avalanche(h)
  }
  @inline def avalanche(v: Long): Long = {
    var h = v
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL
    h ^= h >>> 33; h *= 0xC4CEB9FE1A85EC53L
    h ^= h >>> 33; h
  }
}

/** MinHash signature: k permutation-minima over character shingles,
  * computed in one compiled pass. Each shingle is hashed once; the k
  * hash family derives via multiply-add universal hashing (MMDS §3.3).
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // deterministic odd multipliers / addends per hash function
  private lazy val (as, bs) = {
    val rnd = new java.util.SplittableRandom(42L)
    (Array.fill(numHashes)(rnd.nextLong() | 1L),
      Array.fill(numHashes)(rnd.nextLong()))
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = math.max(s.length - shingleSize, 0)
    var i = 0
    while (i <= n) {
      val base = Hashing.hashChars(s, i, math.min(i + shingleSize, s.length), 0L)
      var j = 0
      while (j < numHashes) {
        val h = Hashing.avalanche(base * as(j) + bs(j))
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** 64-bit SimHash over word tokens, one compiled pass (Charikar 2002). */
case class SimHash64(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.toLowerCase(java.util.Locale.ROOT)
    val votes = new Array[Int](64)
    var start = -1
    var i = 0
    val len = s.length
    while (i <= len) {
      val isWord = i < len && (Character.isLetter(s.charAt(i)) ||
        Character.isDigit(s.charAt(i)))
      if (isWord && start < 0) start = i
      else if (!isWord && start >= 0) {
        val h = Hashing.hashChars(s, start, i, 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = -1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** sorted-distinct 64-bit hashes of character shingles — the compact set
  * representation for exact Jaccard verification. */
case class ShingleHashes(child: Expression, shingleSize: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val n = math.max(s.length - shingleSize, 0)
    val hs = new Array[Long](n + 1)
    var i = 0
    while (i <= n) {
      hs(i) = Hashing.hashChars(s, i, math.min(i + shingleSize, s.length), 0L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedup in place
    var w = 0
    i = 0
    while (i <= n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** word n-gram hash set (sorted distinct) — same idea for token n-grams.
  * Whole-stage codegen over [[TextKernels.wordNgramHashes]]: a regex-free
  * tokenizer that hashes each token in place (see
  * [[TextKernels.wordNgramSeq]]). Null text gives null. */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    TextKernels.wordNgramHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.wordNgramHashes($c, $n)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Per-document n-gram repetition statistics in one pass (the Gopher /
  * MassiveText repetition-filter family): total n-gram count, fraction
  * of n-gram occurrences that are repeats of an earlier occurrence, and
  * the most frequent n-gram's share. The grams are the ones
  * [[WordNgramHashes]] dedups — both read
  * [[TextKernels.wordNgramSeq]] — so the two operators agree on what a
  * token is by construction. Counting sorts the gram hashes and walks
  * the runs: O(tokens log tokens) per row with no boxing, not the
  * O(tokens * distinct) a `transform`+`filter` higher-order-function
  * formulation would cost on long documents. */
case class RepetitionStats(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("dup_frac", DoubleType, nullable = false),
    StructField("top_frac", DoubleType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    TextKernels.repetitionStats(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.repetitionStats($c, $n)")

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Jaccard similarity of two SORTED distinct long arrays via merge-walk —
  * no allocation, O(|a|+|b|). */
case class SortedJaccard(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    if (nx == 0 && ny == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter.toDouble / (nx + ny - inter).toDouble
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** All LSH table buckets for a vector in one compiled pass: for table t,
  * the bucket is the sign-bit pattern of `bits` hyperplane dot products
  * (random-hyperplane LSH for cosine, Charikar 2002). Hyperplanes are
  * seeded Gaussians generated once per expression instance at plan time.
  */
case class LshBuckets(child: Expression, dim: Int, bits: Int, tables: Int,
    seed: Long)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  // planes(t)(b) = one hyperplane of `dim` weights
  @transient private lazy val planes: Array[Array[Array[Double]]] = {
    Array.tabulate(tables) { t =>
      val rnd = new scala.util.Random(seed + t * 7919)
      Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val vec = new Array[Double](n)
    var i = 0
    while (i < n) { vec(i) = v.getDouble(i); i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = planes(t)(b)
        var dot = 0.0
        var j = 0
        while (j < n) { dot += vec(j) * plane(j); j += 1 }
        bucket = (bucket << 1) | (if (dot >= 0) 1L else 0L)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Bloom-filter membership probe against a driver-broadcast sketch —
  * replaces the engine's one remaining scalar UDF. The broadcast handle
  * is a codegen reference object; the deserialized filter is hoisted
  * into per-partition mutable state once, so the row loop is a single
  * virtual call into BloomFilter.mightContainLong (branch-light hash
  * probes) with no ScalaUDF boxing or row encoding. Broadcast (not an
  * inline binary literal) keeps the ~MB filter off every task closure
  * at 100 TB fan-out. */
case class BloomMightContainLong(child: Expression,
    bf: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(input: Any): Any =
    bf.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val bfCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
    val bfRef = ctx.addReferenceObj("bloomBroadcast", bf, bcCls)
    val filter = ctx.addMutableState(bfCls, "bloomFilter",
      v => s"$v = ($bfCls)((($bcCls)$bfRef).value());")
    nullSafeCodeGen(ctx, ev, g =>
      s"${ev.value} = $filter.mightContainLong($g);")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** How many elements of a long array occur in a driver-broadcast sorted,
  * distinct `long[]` — the exact membership count behind
  * `TextAnalysis.decontaminate`. Built like [[BloomMightContainLong]]:
  * the broadcast handle is a codegen reference object, the array is
  * hoisted into per-partition mutable state once, and the row loop is a
  * binary search per element ([[TextKernels.countInSorted]]). Null array
  * gives null. */
case class CountInSortedSet(child: Expression,
    set: org.apache.spark.broadcast.Broadcast[Array[Long]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "count_in_sorted_set"

  override def nullSafeEval(input: Any): Any =
    TextKernels.countInSorted(input.asInstanceOf[ArrayData], set.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
    val setRef = ctx.addReferenceObj("gramSetBroadcast", set, bcCls)
    val sorted = ctx.addMutableState("long[]", "gramSet",
      v => s"$v = (long[]) (($bcCls)$setRef).value();")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.countInSorted($c, $sorted)")
  }

  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Identity over its child that reports `foldable = false` — hides a
  * literal list-index ordinal from ConstantFolding so an `element_at`
  * over a list LITERAL keeps evaluating every element. Cypher evaluates
  * the whole list literal before indexing, so a raising sibling element
  * (e.g. `[1/0, 2][1]`) must raise even though it is never selected;
  * the static fast path (ExprCompiler.staticListSelect) would skip it,
  * and the plain dynamic path with a foldable ordinal trips Spark
  * 4.1.2's ElementAt-over-CreateArray codegen defect (see the
  * staticListSelect scaladoc). A non-foldable ordinal takes the normal
  * ElementAt codegen with `nullable = true` — defect-free. */
case class OpaqueOrdinal(child: Expression) extends UnaryExpression {
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def prettyName: String = "opaque_ordinal"
  override def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Column-API wrappers. */
object VectorFunctions {
  private implicit class RichCol(val c: Column) {
    def toExpr: Expression = ColumnBridge.expression(c)
  }
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(a.toExpr, b.toExpr))
  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(a.toExpr, b.toExpr))
  def minhash_signature(text: Column, numHashes: Int, shingleSize: Int): Column =
    ColumnBridge.column(MinHashSignature(text.toExpr, numHashes, shingleSize))
  def simhash64(text: Column): Column = ColumnBridge.column(SimHash64(text.toExpr))
  def shingle_hashes(text: Column, shingleSize: Int): Column =
    ColumnBridge.column(ShingleHashes(text.toExpr, shingleSize))
  def word_ngram_hashes(text: Column, n: Int): Column =
    ColumnBridge.column(WordNgramHashes(text.toExpr, n))
  def sorted_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(a.toExpr, b.toExpr))
  def repetition_stats(text: Column, n: Int): Column =
    ColumnBridge.column(RepetitionStats(text.toExpr, n))
  def lsh_buckets(vec: Column, dim: Int, bits: Int, tables: Int, seed: Long): Column =
    ColumnBridge.column(LshBuckets(vec.toExpr, dim, bits, tables, seed))
  /** exact integer division (SQL `div`): truncates toward zero on longs
    * without a double round-trip (which is wrong above 2^53). Division by
    * zero raises under Spark 4's default ANSI mode — matching Cypher's
    * "/ by zero" runtime error. */
  def integral_divide(a: Column, b: Column): Column =
    ColumnBridge.column(IntegralDivide(a.toExpr, b.toExpr))
  /** a literal int ordinal wrapped so the optimizer cannot fold it (see
    * [[OpaqueOrdinal]]). */
  def opaque_ordinal(v: Int): Column =
    ColumnBridge.column(OpaqueOrdinal(Literal(v)))
  def bloom_might_contain(g: Column,
      bf: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    ColumnBridge.column(BloomMightContainLong(g.toExpr, bf))
  def count_in_sorted_set(arr: Column,
      set: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    ColumnBridge.column(CountInSortedSet(arr.toExpr, set))
}
