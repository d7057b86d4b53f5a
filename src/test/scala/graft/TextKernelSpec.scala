package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.functions.{TextFunctions, TokenMode}

/** Equivalence locks for the codegen tokenizers (round 11) against the
  * composed `filter(split(...), length > 0)` expressions they replace —
  * ~15 oracle-gated operators tokenize through these, so the lock is
  * elementwise equality on adversarial inputs: Unicode letters in every
  * category (Lu/Ll/Lt/Lm/Lo), all three \p{N} categories, supplementary
  * code points (surrogate pairs), every \s character plus the non-\s
  * Unicode spaces, empty/null strings, and strings that start/end with
  * separators.
  */
class TextKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new scala.util.Random(20260818L)

  // alphabet stressing every classification boundary the kernels draw:
  // ASCII letters/digits, Unicode Lu/Ll/Lt/Lm/Lo (ſ, Ǆ, ʰ, 中), Nd (٣),
  // Nl (Ⅻ), No (½), supplementary letters (𝔸 = D835 DD38) and
  // non-letters (💩), combining marks (Mn — non-word), ASCII \s chars,
  // Unicode spaces that are NOT regex \s ( ,  ), punctuation.
  private val pieces: Vector[String] = Vector(
    "a", "Z", "m", "0", "9", "é", "ß", "Σ", "ſ", "Ǆ", "ʰ", "中", "日",
    "٣", "Ⅻ", "½", "𝔸", "💩", "́", "ı", "İ",
    " ", "\t", "\n", "", "\f", "\r", " ", " ",
    ".", ",", "-", "_", "@", "#", "'", "\"", "(", ")", "/", "\\",
    "  ", " \t\n ", "...", "a1", "ab cd")

  private def randomString(maxPieces: Int): String =
    (0 until rnd.nextInt(maxPieces)).map(_ =>
      pieces(rnd.nextInt(pieces.size))).mkString

  private def fixtures: Seq[String] =
    Seq("", " ", "hello world", "  leading", "trailing  ", "\t\n\r",
      "a b", "𝔸𝔹 ℂ", "٣٤ x", "Ⅻ½", "über café",
      "MiXeD CaSe 123", "a.b,c-d", "́abc", "💩 ok") ++
      (0 until 400).map(_ => randomString(12))

  private def compare(mode: Int, composed: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      lowerFirst: Boolean): Unit = {
    val s = spark
    import s.implicits._
    val df = (fixtures.map(Option(_)) :+ None).toDF("t")
    val in = if (lowerFirst) lower(col("t")) else col("t")
    val rows = df.select(
      col("t"),
      composed(col("t")).as("expected"),
      TextFunctions.split_tokens(in, mode).as("actual"),
      TextFunctions.count_tokens(in, mode).as("cnt")).collect()
    rows.foreach { r =>
      val exp = if (r.isNullAt(1)) null else r.getSeq[String](1)
      val act = if (r.isNullAt(2)) null else r.getSeq[String](2)
      assert(exp == act, s"split mismatch on ${r.get(0)}: $exp vs $act")
      val expCnt: Any = if (exp == null) null else exp.size
      val actCnt: Any = if (r.isNullAt(3)) null else r.getInt(3)
      assert(expCnt == actCnt, s"count mismatch on ${r.get(0)}")
    }
  }

  test("UnicodeAlnum ≡ filter(split(lower(t), \"[^\\\\p{L}\\\\p{N}]+\"), len>0)") {
    compare(TokenMode.UnicodeAlnum,
      t => filter(split(lower(t), "[^\\p{L}\\p{N}]+"), x => length(x) > 0),
      lowerFirst = true)
  }

  test("AsciiAlnum ≡ filter(split(lower(t), \"[^a-z0-9]+\"), len>0)") {
    compare(TokenMode.AsciiAlnum,
      t => filter(split(lower(t), "[^a-z0-9]+"), x => length(x) > 0),
      lowerFirst = true)
  }

  test("Whitespace ≡ filter(split(t, \"\\\\s+\"), len>0)") {
    compare(TokenMode.Whitespace,
      t => filter(split(t, "\\s+"), x => length(x) > 0),
      lowerFirst = false)
  }

  test("SingleSpace ≡ filter(split(t, \" \"), len>0)") {
    compare(TokenMode.SingleSpace,
      t => filter(split(t, " "), x => length(x) > 0),
      lowerFirst = false)
  }

  test("array_count_eq ≡ size(filter(arr, x === term))") {
    val s = spark
    import s.implicits._
    val df = (fixtures.map(Option(_)) :+ None).toDF("t")
    val arr = split(lower(col("t")), "[^a-z0-9]+")
    val rows = df.select(
      size(filter(arr, x => x === lit("a1"))).as("expected"),
      TextFunctions.array_count_eq(arr, lit("a1")).as("actual")).collect()
    rows.foreach { r =>
      val exp: Any = if (r.isNullAt(0)) null else r.getInt(0)
      val act: Any = if (r.isNullAt(1)) null else r.getInt(1)
      assert(exp == act, s"$exp vs $act")
    }
  }

  test("two array_count_eq in one codegen projection compile and agree") {
    // non-nullable inputs (spark.range, non-null concat, literal terms):
    // nullSafeCodeGen then emits each instance's loop into the SAME scope,
    // so fixed local names would collide and janino would fall back
    // a fresh frame per run: an executed Dataset keeps its physical plan
    def counts(): Seq[(Int, Int)] = spark.range(200).select(
      split(concat(lit("a1 b "), col("id").cast("string"), lit(" a1")),
        " ").as("w"))
      .select(
        TextFunctions.array_count_eq(col("w"), lit("a1")).as("x"),
        TextFunctions.array_count_eq(col("w"), lit("7")).as("y"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val logged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-codegen-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = org.apache.logging.log4j.LogManager.getRootLogger
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    root.addAppender(capture)
    val compiled =
      try counts()
      finally { root.removeAppender(capture); capture.stop() }
    assert(!logged.asScala.exists(_.contains("Failed to compile")),
      logged.asScala.mkString("\n"))
    val interpreted = withConf(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(counts())
    assert(compiled == interpreted)
    assert(compiled == (0L until 200L).map(id => (2, if (id == 7) 1 else 0)))
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("replace_nth_delim ≡ split + n-token regroup + newline join") {
    val s = spark
    import s.implicits._
    // adversarial: consecutive/leading/trailing spaces (empty split
    // elements), existing newlines, exact-multiple-of-n token counts
    val texts = Seq("", " ", "  ", "a", "a b", "a  b", " a b ",
      "one two three four five six seven eight nine ten eleven twelve",
      (1 to 25).map("w" + _).mkString(" "),
      (1 to 20).map("w" + _).mkString(" ") + " ",
      "pre\nexisting newline " + (1 to 15).mkString(" ")) ++
      (0 until 200).map(_ => randomString(10))
    for (n <- Seq(1, 3, 10)) {
      val composed = array_join(
        transform(sequence(lit(0),
            floor((size(col("w")) - lit(1)) / lit(n)).cast("int")),
          i => concat_ws(" ", slice(col("w"), i * lit(n) + lit(1), lit(n)))),
        "\n")
      val rows = texts.toDF("t")
        .select(col("t"), split(col("t"), " ").as("w"))
        .select(col("t"), composed.as("expected"),
          TextFunctions.replace_nth_delim(col("t"), n, ' ', '\n')
            .as("actual"))
        .collect()
      rows.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"n=$n mismatch on <${r.getString(0)}>")
      }
    }
  }

  test("window_hashes ≡ sequence + transform + substr + xxhash64") {
    val s = spark
    import s.implicits._
    // multibyte chars shift byte offsets off char offsets — the kernel's
    // char→byte table must land every window on the regex path's chars
    val texts = Seq(
      "abcdefghijklmnopqrstuvwxyz0123456789",
      "ü" * 40, "aü" * 30, "中文混合ascii text " * 5,
      "𝔸𝔹" * 20, "exact", "") ++
      (0 until 100).map(_ => randomString(14))
    for ((w, st) <- Seq((8, 3), (16, 16), (64, 16), (5, 1))) {
      val composed = transform(
        sequence(lit(0),
          floor((length(col("t")) - lit(w)) / lit(st)).cast("int")),
        k => struct((k.cast("long") * st).as("pos"),
          xxhash64(col("t").substr(k * lit(st) + lit(1), lit(w))).as("h")))
      val rows = texts.toDF("t").where(length(col("t")) >= w)
        .select(col("t"), composed.as("expected"),
          graft.functions.TextFunctions.window_hashes(col("t"), w, st)
            .as("actual"))
        .collect()
      assert(rows.nonEmpty, s"vacuous fixture for window=$w")
      rows.foreach { r =>
        val exp = r.getSeq[org.apache.spark.sql.Row](1)
        val act = r.getSeq[org.apache.spark.sql.Row](2)
        assert(exp == act, s"w=$w st=$st mismatch on <${r.getString(0)}>")
      }
    }
  }

  test("tokenizers run inside whole-stage codegen (no fallback)") {
    // spark.range (not a local relation — those fold to LocalTableScan
    // and bypass codegen entirely) so the Project actually generates code
    val df = spark.range(100).select(
      concat(lit("some text "), col("id").cast("string"), lit(" more"))
        .as("t"))
      .select(
        TextFunctions.split_tokens(lower(col("t")), TokenMode.UnicodeAlnum)
          .as("w"),
        TextFunctions.count_tokens(col("t"), TokenMode.Whitespace).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    // `*(n)` prefixes = operators fused into WholeStageCodegen stage n;
    // the tokenizer Project must carry one (a CodegenFallback expression
    // would leave the Project un-starred)
    assert(plan.linesIterator.exists(l =>
      l.contains("split_tokens") && l.trim.startsWith("*(")), plan)
    // a CodegenFallback tokenizer would abort the whole stage's codegen;
    // collect() also trips any janino compile error under the global
    // "Failed to compile" grep the verify recipe mandates.
    assert(df.collect().length == 100)
  }
}
