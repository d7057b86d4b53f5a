package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** Session lifecycle, timed operations, spans and the result file.
  *
  * Untraced runs only read the clock around each step. Traced runs also
  * record a span around every layer call, tag every Spark job with its
  * operation and layer, and keep Catalyst's phase times; everything is
  * held in memory and written out by [[close]]. */
final class Harness(val args: Map[String, String]) {
  val traced: Boolean = args("trace") == "1"
  val cores: Int = args("cores").toInt
  val work = new File(args("work"))
  private val out = new PrintWriter(new File(args("out")), "UTF-8")
  private val t0 = System.nanoTime
  private val epochAtT0 = System.currentTimeMillis

  var spark: SparkSession = _
  private var probe: Probe = _
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var spanSeq = 0
  private var stack = List.empty[Int]

  def emit(m: Map[String, Any]): Unit = { out.println(Json(m)); out.flush() }

  private def startSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Sets up `n` times from scratch (session start + `load`), recording
    * each; the last session stays up for the measurement. */
  def setup(n: Int)(load: SparkSession => Unit): Unit = {
    for (i <- 0 until n) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val a = System.nanoTime
      spark = startSession()
      val b = System.nanoTime
      load(spark)
      val c = System.nanoTime
      emit(Map("type" -> "setup", "i" -> i, "session_s" -> (b - a) / 1e9,
        "load_s" -> (c - b) / 1e9, "setup_s" -> (c - a) / 1e9))
    }
    if (traced) {
      probe = new Probe
      spark.sparkContext.addSparkListener(probe)
    }
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0
    emit(Map("type" -> "env", "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "jvm_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_cpus" -> Runtime.getRuntime.availableProcessors,
      "spark_storage_mb" -> storageMb, "master" -> spark.sparkContext.master,
      "jvm_uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
  }

  private def nowUs: Long = (System.nanoTime - t0) / 1000

  private def setTag(tag: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(Probe.Key, tag)

  /** Runs `body` as one layer call of operation `op`. */
  def layer[T](op: Int, name: String)(body: => T): T = if (!traced) body else {
    spanSeq += 1
    val id = spanSeq
    val parent = stack.headOption.getOrElse(-1)
    val prev = spark.sparkContext.getLocalProperty(Probe.Key)
    setTag(s"$op|$name|$id")
    stack = id :: stack
    val s = nowUs
    try body finally {
      val e = nowUs
      stack = stack.tail
      setTag(prev)
      spans += Map("type" -> "span", "id" -> id, "name" -> name, "op" -> op,
        "parent" -> parent, "start_us" -> s, "end_us" -> e)
    }
  }

  /** Work outside any measurement (warm-up, resets, checks). */
  def untimed[T](body: => T): T = {
    setTag("-1|untimed|-1")
    try body finally setTag(null)
  }

  /** An untimed part of the run, recorded with its wall time so the cost
    * of a run outside its measurements stays visible. */
  def phase[T](name: String)(body: => T): T = {
    val a = System.nanoTime
    try untimed(body)
    finally emit(Map("type" -> "phase", "name" -> name, "s" -> (System.nanoTime - a) / 1e9))
  }

  /** Drops everything an earlier operation cached: CacheManager entries
    * and persisted or locally checkpointed RDDs. */
  def reset(): Unit = untimed {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** (tables, MB) currently held in Spark storage. */
  def storage(): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.count(_.numCachedPartitions > 0),
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private var peakMb = 0.0

  /** Samples storage between operations (untimed) for the run's peak. */
  def storagePeak(): Unit = peakMb = math.max(peakMb, storage()._2)

  private val planned = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())

  /** Catalyst's phase times of `qe`, counted only the first time `qe` is
    * timed: a DataFrame returned again (a plan-cache hit) reuses its
    * executed plan, so no Catalyst work runs for it a second time. */
  private def phases(qe: QueryExecution): Map[String, Long] = {
    val first = planned.add(qe)
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").map(k => s"${k}_ms" ->
      (if (first) p.get(k).map(_.durationMs).getOrElse(0L) else 0L)).toMap
  }

  private def storageAfter(): Map[String, Any] =
    if (!traced) Map.empty
    else { val (n, mb) = storage(); Map("cached_tables" -> n, "cached_mb" -> mb) }

  private def failure(e: Throwable): String = {
    val s = e.toString
    if (s.length > 500) s.take(500) else s
  }

  /** One timed query: build (the call that returns the DataFrame, with
    * any jobs it runs eagerly), Catalyst (forcing the executed plan) and
    * full materialization (every column of every row is hashed). Returns
    * (rows, checksum), or None if the operation threw. */
  def query(op: Int, name: String, issue: String, extra: Map[String, Any] = Map.empty)(
      build: => DataFrame): Option[(Long, Long)] = {
    if (traced) spark.sparkContext.setJobGroup(s"perfbench-$op", s"$name ($issue)",
      interruptOnCancel = false)
    val a = System.nanoTime
    var b, c = a
    var rec = Map[String, Any]("type" -> "op", "id" -> op, "name" -> name,
      "issue" -> issue) ++ extra
    val res = try layer(op, "op") {
      val df = layer(op, "plans.build")(build)
      b = System.nanoTime
      layer(op, "spark.catalyst")(df.queryExecution.executedPlan)
      c = System.nanoTime
      val r = layer(op, "spark.exec")(RowHash.materialize(df))
      if (traced) rec ++= phases(df.queryExecution)
      Some(r)
    } catch { case e: Throwable => rec += "error" -> failure(e); None }
    val d = System.nanoTime
    if (traced) spark.sparkContext.clearJobGroup()
    res.foreach { case (n, ck) => rec ++= Map("rows" -> n, "checksum" -> RowHash.hex(ck)) }
    emit(rec ++ storageAfter() ++ Map("build_s" -> (b - a) / 1e9,
      "catalyst_s" -> (if (c > b) (c - b) / 1e9 else 0.0),
      "exec_s" -> (if (c > b) (d - c) / 1e9 else 0.0), "latency_s" -> (d - a) / 1e9))
    res
  }

  /** One timed call that returns no result to materialize (a graph
    * write), run as the layer call `layerName`. */
  def call(op: Int, name: String, issue: String, layerName: String)(body: => Any): Unit = {
    if (traced) spark.sparkContext.setJobGroup(s"perfbench-$op", s"$name ($issue)",
      interruptOnCancel = false)
    var rec = Map[String, Any]("type" -> "op", "id" -> op, "name" -> name, "issue" -> issue)
    val a = System.nanoTime
    try layer(op, "op")(layer(op, layerName)(body))
    catch { case e: Throwable => rec += "error" -> failure(e) }
    val d = System.nanoTime
    if (traced) spark.sparkContext.clearJobGroup()
    emit(rec ++ storageAfter() ++ Map("build_s" -> (d - a) / 1e9, "latency_s" -> (d - a) / 1e9))
  }

  /** Writes the trace (spans, jobs, task totals) and stops Spark. */
  def close(): Unit = {
    if (spark != null) {
      val (n, mb) = storage()
      emit(Map("type" -> "end", "cached_tables" -> n, "cached_mb" -> mb,
        "cached_mb_peak" -> math.max(peakMb, mb)))
      if (traced) {
        Bus.drain(spark.sparkContext)
        spans.foreach(emit)
        def parts(tag: String) = {
          val p = tag.split('|'); (p(0).toInt, p(1), p(2).toInt)
        }
        probe.jobs.asScala.foreach { case (tag, s, e) =>
          val (op, layerName, parent) = parts(tag)
          emit(Map("type" -> "job", "op" -> op, "layer" -> layerName, "parent" -> parent,
            "start_us" -> (s - epochAtT0) * 1000, "end_us" -> (e - epochAtT0) * 1000))
        }
        probe.aggs.asScala.foreach { case (tag, a) =>
          val (op, layerName, parent) = parts(tag)
          emit(Map("type" -> "tasks", "op" -> op, "layer" -> layerName, "parent" -> parent,
            "tasks" -> a.tasks, "input_records" -> a.inputRecords,
            "shuffle_read_bytes" -> a.shuffleReadBytes,
            "shuffle_read_records" -> a.shuffleReadRecords,
            "shuffle_write_bytes" -> a.shuffleWriteBytes,
            "shuffle_write_records" -> a.shuffleWriteRecords,
            "spill_bytes" -> a.spillBytes, "task_ms" -> a.taskMs.toSeq))
        }
      }
      spark.stop()
    }
    out.close()
  }
}
