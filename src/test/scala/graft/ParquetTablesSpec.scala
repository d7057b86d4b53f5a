package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.grafttest.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ParquetTables, TpchGraph}

/** The process-wide parquet schema cache: a hit opens a table without a
  * Spark job, a changed file or inference conf misses, and a cached
  * schema plans exactly like an inferred one. Also the gate sessions
  * that CypherQueries keeps per SparkSession. */
class ParquetTablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val jobs = new AtomicInteger(0)
  private val temps = scala.collection.mutable.ListBuffer.empty[Path]

  private def start(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-parquet-tables-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    s
  }

  override def beforeAll(): Unit = spark = start()

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    temps.foreach(d => Files.walk(d).toArray.map(_.asInstanceOf[Path])
      .reverse.foreach(Files.deleteIfExists))
  }

  private def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix); temps += d; d
  }

  /** Spark jobs `body` starts */
  private def jobsIn[T](body: => T): (T, Int) = {
    Bus.drain(spark.sparkContext)
    val before = jobs.get
    val out = body
    Bus.drain(spark.sparkContext)
    (out, jobs.get - before)
  }

  /** the bytes of `df` written as one parquet file */
  private def parquetBytes(df: DataFrame): Array[Byte] = {
    val out = tempDir("graft-parquet-staging").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    Files.readAllBytes(Files.list(out).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get)
  }

  /** a small TPC-H-shaped dataset in a fresh directory (a path no earlier
    * read has keyed), one parquet file per table: the columns TpchGraph
    * and the c1, c2, c4, c17, q2 and p19 gates read */
  private def tpchDir(): String = {
    val s = spark
    import s.implicits._
    val segments = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
    val tables = Map(
      "customer" -> (1L to 30L).map(k => (k, s"Customer#$k", k % 5,
        k * 400.0 - 2000.0, segments((k % 3).toInt)))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "orders" -> (1L to 60L).map(k => (k, k % 30 + 1, k * 1000.5))
        .toDF("o_orderkey", "o_custkey", "o_totalprice"),
      "lineitem" -> (1L to 60L).flatMap(o => (1 to 2).map(l => (o, l, o % 10 + 1,
        o % 4 + 1, 10.0 * l, 100.0 * l, 0.05, 0.01, "N", "O", "1995-01-01")))
        .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
          "l_shipdate"),
      "part" -> (1L to 10L).toDF("p_partkey"),
      "supplier" -> (1L to 4L).map(k => (k, k % 5)).toDF("s_suppkey", "s_nationkey"),
      "nation" -> (0L until 5L).map(k => (k, s"NATION$k", k % 2))
        .toDF("n_nationkey", "n_name", "n_regionkey"),
      "region" -> (0L until 2L).map(k => (k, s"REGION$k")).toDF("r_regionkey", "r_name"),
      "documents" -> (1L to 12L).map(k => (k,
        s"the quick brown fox number ${k % 4} jumps over the lazy dog", s"src${k % 3}"))
        .toDF("doc_id", "text", "source"))
    val d = tempDir("graft-parquet-tpch")
    tables.foreach { case (t, df) => Files.write(d.resolve(s"$t.parquet"), parquetBytes(df)) }
    d.toString
  }

  /** writes `bytes` over `file` in place with a later mtime, and puts the
    * directory's mtime back, so only the file's own identity changes */
  private def rewriteInPlace(file: Path, bytes: Array[Byte]): Unit = {
    val dir = file.getParent
    val dirMtime = Files.getLastModifiedTime(dir)
    val before = Files.getLastModifiedTime(file).toMillis
    Files.write(file, bytes)
    Files.setLastModifiedTime(file, FileTime.fromMillis(before + 5000))
    Files.setLastModifiedTime(dir, dirMtime)
    assert(Files.getLastModifiedTime(dir) == dirMtime)
  }

  test("a fresh session re-opening the same TpchGraph dir runs no Spark job") {
    val dir = tpchDir()
    val (g1, cold) = jobsIn(TpchGraph.load(spark.newSession(), dir))
    assert(cold >= 7, "the first open infers every table's schema")
    val (g2, warm) = jobsIn(TpchGraph.load(spark.newSession(), dir))
    assert(warm == 0)
    assert(!(g2 eq g1), "graphs stay bound to their session")
    assert(g2.nodeTables.map(_.df.schema) == g1.nodeTables.map(_.df.schema))
    assert(g2.relTables.map(_.df.schema) == g1.relTables.map(_.df.schema))
  }

  test("a table rewritten in place misses and shows its new column") {
    val s = spark
    import s.implicits._
    val file = tempDir("graft-parquet-file").resolve("t.parquet")
    Files.write(file, parquetBytes(Seq(1L, 2L).toDF("a")))
    ParquetTables.read(spark, file.toString)
    val (df, hitJobs) = jobsIn(ParquetTables.read(spark.newSession(), file.toString))
    assert(hitJobs == 0 && df.columns.toSeq == Seq("a"))
    rewriteInPlace(file, parquetBytes(Seq((1L, "x")).toDF("a", "b")))
    val (df2, missJobs) = jobsIn(ParquetTables.read(spark.newSession(), file.toString))
    assert(missJobs > 0)
    assert(df2.columns.toSeq == Seq("a", "b"))
    assert(df2.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x")))
  }

  test("flipping spark.sql.parquet.binaryAsString misses") {
    // an unannotated binary column with no Spark schema in the footer (a
    // Spark-written file's footer pins BinaryType whatever the conf)
    val file = tempDir("graft-parquet-binary").resolve("b.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required binary bin; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toString)).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("bin", org.apache.parquet.io.api.Binary.fromString("hi")))
    finally w.close()
    val plain = spark.newSession()
    assert(ParquetTables.read(plain, file.toString).schema("bin").dataType == BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val (df, missJobs) = jobsIn(ParquetTables.read(asString, file.toString))
    assert(missJobs > 0)
    assert(df.schema("bin").dataType == StringType)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("hi"))
    // the conf-free key still holds the binary schema
    val (back, hitJobs) = jobsIn(ParquetTables.read(spark.newSession(), file.toString))
    assert(hitJobs == 0 && back.schema("bin").dataType == BinaryType)
  }

  test("a directory of part files is keyed on its listing") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-parquet-dir").resolve("parts").toString
    (1L to 8L).toDF("a").repartition(2).write.parquet(dir)
    ParquetTables.read(spark, dir)
    val (df, hitJobs) = jobsIn(ParquetTables.read(spark.newSession(), dir))
    assert(hitJobs == 0 && df.count() == 8)
    // new part files under new names: the listing changes
    (1L to 3L).map(i => (i, i * 10)).toDF("a", "b").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val (df2, missJobs) = jobsIn(ParquetTables.read(spark.newSession(), dir))
    assert(missJobs > 0)
    assert(df2.columns.toSeq == Seq("a", "b") && df2.count() == 3)
  }

  test("a path it cannot key reads like spark.read.parquet") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-parquet-glob")
    Seq(1L).toDF("a").write.parquet(dir.resolve("x1").toString)
    Seq(2L).toDF("a").write.parquet(dir.resolve("x2").toString)
    val glob = s"$dir/x*"
    assert(ParquetTables.read(spark, glob).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val (_, globJobs) = jobsIn(ParquetTables.read(spark.newSession(), glob))
    assert(globJobs > 0, "globs are never cached")
    intercept[org.apache.spark.sql.AnalysisException](
      ParquetTables.read(spark, s"$dir/missing.parquet"))
  }

  test("gate plans are the same with a cached schema and with inference") {
    // expression ids differ between any two analyses, and each p19 call
    // broadcasts its own benchmark grams; nothing else may
    def norm(s: String): String =
      s.replaceAll("#\\d+L?", "#x").replaceAll("Broadcast\\(\\d+\\)", "Broadcast(x)")
    for (gate <- Seq("c2_expand", "c17_expand_into", "q2_join", "p19_decontam")) {
      val dir = tpchDir()
      def plans(s: SparkSession): (String, String) = {
        val qe = SparkEntry.queries(gate)(s, dir).queryExecution
        (norm(qe.optimizedPlan.toString), norm(qe.analyzed.toString))
      }
      val (inferred, inferredJobs) = jobsIn(plans(spark.newSession()))
      val (cached, cachedJobs) = jobsIn(plans(spark.newSession()))
      assert(cached == inferred, gate)
      assert(cachedJobs < inferredJobs, gate)
      spark.catalog.clearCache()
    }
  }

  test("a rewritten customer.parquet changes c1_node_scan's rows") {
    val dir = tpchDir()
    val q = SparkEntry.queries("c1_node_scan")
    def keys: Seq[Long] = q(spark, dir).collect().map(_.getLong(0)).toSeq
    val before = keys
    assert(before.nonEmpty)
    val customer = java.nio.file.Paths.get(dir, "customer.parquet")
    val kept = spark.read.parquet(customer.toString)
      .where(org.apache.spark.sql.functions.col("c_custkey") % 2 === 0)
    rewriteInPlace(customer, parquetBytes(kept))
    assert(keys == before.filter(_ % 2 == 0))
  }

  test("gate sessions are bounded and a stopped session is evicted") {
    val dir = tpchDir()
    val q = SparkEntry.queries("c2_expand")
    val many = (1 to 10).map { _ =>
      val s = spark.newSession(); q(s, dir); s
    }
    val live = CypherQueries.liveSessions
    assert(live.size <= 8)
    assert(!live.exists(_ eq many.head), "the least recently used goes")
    assert(live.exists(_ eq many.last))
    // the stopped session holds a built pattern table: c2's shape trips
    // auto-consolidation on its third call and c4 plans onto the twin
    val stopped = spark
    (1 to 3).foreach(_ => q(stopped, dir).count())
    SparkEntry.queries("c4_agg")(stopped, dir).count()
    assert(spark.sparkContext.getRDDStorageInfo.exists(_.numCachedPartitions > 0))
    spark.stop()
    spark = start()
    q(spark, dir)
    assert(!CypherQueries.liveSessions.exists(_.sparkContext eq stopped.sparkContext))
    assert(CypherQueries.liveSessions.exists(_ eq spark))
  }
}
