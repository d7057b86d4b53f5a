package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.functions.{Hashing, TextFunctions, TextKernels, TokenMode}

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
    val (compiled, failures) = codegenFailures(counts())
    assert(failures.isEmpty, failures.mkString("\n"))
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

  /** The regex tokenizer `word_ngram_hashes` and `repetition_stats`
    * used before their codegen kernel, kept as the reference: lowercase,
    * split on `[^\\p{L}\\p{N}]+`, drop empty tokens, fold each gram's
    * per-token `hashChars(token, seed = position)` in document order. */
  private def regexNgramSeq(text: String, n: Int,
      locale: java.util.Locale = java.util.Locale.ROOT): Array[Long] = {
    val toks = text.toLowerCase(locale).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    (0 to toks.length - n).map { i =>
      (0 until n).foldLeft(0L) { (h, j) =>
        val t = toks(i + j)
        Hashing.avalanche(h ^ Hashing.hashChars(t, 0, t.length, j.toLong))
      }
    }.toArray
  }

  private def regexNgramHashes(text: String, n: Int): Seq[Long] =
    regexNgramSeq(text, n).distinct.sorted.toSeq

  /** the codegen-fallback log lines `body` produces */
  private def codegenFailures[T](body: => T): (T, Seq[String]) = {
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
    val out =
      try body
      finally { root.removeAppender(capture); capture.stop() }
    (out, logged.asScala.filter(_.contains("Failed to compile")).toSeq)
  }

  // long ASCII and mixed texts on top of the Unicode fixtures, so that
  // n = 5 has grams to compare
  private lazy val ngramTexts: Seq[String] = fixtures ++ Seq(
    "The Quick brown FOX jumps over the lazy dog, 42 times; then 42 more.",
    "İstanbul IS İN TÜRKİYE — ıı ii II", "ǅemal ǄEMAL ǆemal ŞİŞLİ",
    "a a a a a a a b a a a a a a", "Ⅻ ⅻ ½ ٣٤ 𝔸𝔹 ℂ ſ ß ẞ") ++
    (0 until 150).map(_ => randomString(40))

  test("word_ngram_hashes ≡ the regex reference, n = 1..5, under codegen") {
    val s = spark
    import s.implicits._
    // an RDD-backed frame: a local Seq would fold into a LocalRelation
    // and never reach generated code
    val df = spark.sparkContext.parallelize(ngramTexts.map(Option(_)) :+ None, 4)
      .toDF("t")
    for (n <- 1 to 5) {
      val q = df.select(col("t"),
        graft.functions.VectorFunctions.word_ngram_hashes(col("t"), n).as("g"))
      val (rows, failures) = codegenFailures(q.collect())
      assert(failures.isEmpty, failures.mkString("\n"))
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.linesIterator.exists(l =>
        l.contains("word_ngram_hashes") && l.trim.startsWith("*(")), plan)
      assert(rows.length == ngramTexts.size + 1)
      rows.foreach { r =>
        if (r.isNullAt(0)) assert(r.isNullAt(1), "null text must give null")
        else assert(r.getSeq[Long](1) == regexNgramHashes(r.getString(0), n),
          s"n=$n mismatch on <${r.getString(0)}>")
      }
    }
  }

  test("repetition_stats ≡ a regex-tokenized hash-map count, under codegen") {
    val s = spark
    import s.implicits._
    val df = spark.sparkContext.parallelize(ngramTexts, 4).toDF("t")
    for (n <- 1 to 3) {
      val q = df.select(col("t"),
        graft.functions.VectorFunctions.repetition_stats(col("t"), n).as("r"))
      val (rows, failures) = codegenFailures(q.collect())
      assert(failures.isEmpty, failures.mkString("\n"))
      rows.foreach { r =>
        val seq = regexNgramSeq(r.getString(0), n)
        val st = r.getStruct(1)
        val expected =
          if (seq.isEmpty) (0L, 0.0, 0.0)
          else {
            val counts = seq.groupBy(identity).values.map(_.length)
            (seq.length.toLong,
              (seq.length - counts.size).toDouble / seq.length,
              counts.max.toDouble / seq.length)
          }
        assert((st.getLong(0), st.getDouble(1), st.getDouble(2)) == expected,
          s"n=$n mismatch on <${r.getString(0)}>")
      }
    }
  }

  test("gram hashes do not depend on the JVM default locale") {
    // under tr, String.toLowerCase turns I into dotless ı; DuckDB's
    // lower() and Locale.ROOT do not
    val texts = Seq("ISTANBUL IS BIG", "İstanbul Iğdır", "LIMIT I II III",
      "ǄEMAL QUICK İ I")
    def kernels(): Seq[Any] = texts.flatMap { t =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(t)
      Seq(TextKernels.wordNgramHashes(u, 2).toLongArray().toSeq,
        TextKernels.repetitionStats(u, 1).toSeq(Seq(
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.DoubleType,
          org.apache.spark.sql.types.DoubleType)),
        graft.functions.SimHash64(
          org.apache.spark.sql.catalyst.expressions.Literal(t)).eval())
    }
    val prior = java.util.Locale.getDefault
    val (root, turkish, legacyTurkish) =
      try {
        java.util.Locale.setDefault(java.util.Locale.ROOT)
        val r = kernels()
        java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
        (r, kernels(), texts.map(t =>
          regexNgramSeq(t, 2, java.util.Locale.getDefault).toSeq))
      } finally java.util.Locale.setDefault(prior)
    assert(turkish == root)
    assert(texts.map(t => TextKernels.wordNgramHashes(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), 2)
      .toLongArray().toSeq) == texts.map(regexNgramHashes(_, 2)))
    // the fixture does exercise the bug: default-locale lowercasing moves
    // the hashes under tr
    assert(legacyTurkish != texts.map(t => regexNgramSeq(t, 2).toSeq))
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
