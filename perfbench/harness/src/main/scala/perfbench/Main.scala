package perfbench

import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.api.GraftSession
import graft.cypher.CypherParser
import graft.graph.PropertyGraph
import graft.sources.TpchGraph

/** Benchmark process for one workload. Called by `perfbench/run.py`,
  * which generates the inputs, passes their paths and checks the
  * records this process writes to `--out`:
  *
  * {{{--workload gates-cold|cypher-session --trace 0|1
  *   --cores N --setups N --work DIR --out FILE [workload inputs]}}}
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val h = new Harness(args)
    try args("workload") match {
      case "gates-cold" => Gates.run(h)
      case "cypher-session" => CypherSession.run(h)
      case w => sys.error(s"unknown workload $w")
    } finally h.close()
  }
}

/** Each driver gate issued cold (fresh session, cleared caches, first
  * issue at this scale in the process), then `--warm-repeats` times warm
  * in the same session. The untimed JIT warm-up runs the `--warmup-gates`
  * on the tiny dataset, so a cold issue carries its own gate's first-call
  * cost but not the engine's; the process-global memos are keyed by plan,
  * so the warm-up does not fill them for the sf0.1 issue. */
object Gates {
  def run(h: Harness): Unit = {
    val data = h.args("data")
    val gates = h.args("gates").split(',').toSeq
    val repeats = h.args("warm-repeats").toInt
    h.setup(h.args("setups").toInt)(s => TpchGraph.load(s, data))
    h.phase("warmup")(h.args("warmup-gates").split(',').foreach { g =>
      RowHash.materialize(SparkEntry.queries(g)(h.spark.newSession(), h.args("warmup")))
    })
    var id = 0
    gates.foreach { g =>
      h.reset()
      val s = h.spark.newSession()
      val q = SparkEntry.queries(g)
      h.query(id, g, "cold")(q(s, data))
      for (k <- 1 to repeats) h.query(id + k, g, "warm")(q(s, data))
      h.storagePeak()
      id += 1 + repeats
    }
  }
}

/** One long-lived GraftSession serving a seeded stream of parameterized
  * reads and CONSTRUCT writes; a sample of answers is recomputed after
  * the stream in a fresh session. */
object CypherSession {
  final case class Op(i: Int, template: String, kind: String, graph: String,
      query: String, params: Map[String, Any], issue: String, verify: Boolean,
      replay: Int)

  val WarmupPerTemplate = 3

  def readStream(path: String): IndexedSeq[Op] = {
    val mapper = new ObjectMapper()
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val m = mapper.readValue(line, classOf[java.util.Map[String, Object]]).asScala
      val params = m("params").asInstanceOf[java.util.Map[String, Object]].asScala.map {
        case (k, v: java.lang.Integer) => k -> (v.longValue(): Any)
        case (k, v) => k -> (v: Any)
      }.toMap
      Op(m("i").asInstanceOf[Number].intValue, m("template").toString, m("kind").toString,
        m("graph").toString, m("query").toString, params, m("issue").toString,
        m("verify").asInstanceOf[Boolean], m("replay").asInstanceOf[Number].intValue)
    }.toIndexedSeq finally src.close()
  }

  private def session(spark: SparkSession, data: String, auto: Boolean)
      : (GraftSession, PropertyGraph) = {
    val gs = GraftSession(spark)
    if (auto) gs.enableAutoConsolidation()
    val g = TpchGraph.load(spark, data)
    gs.register("tpch", g)
    (gs, g)
  }

  private def issue(gs: GraftSession, base: PropertyGraph, o: Op): Any =
    if (o.kind == "write") gs.register(o.graph, gs.cypherGraph(base, o.query, o.params))
    else gs.cypher(o.graph, o.query, o.params)

  def run(h: Harness): Unit = {
    val data = h.args("data")
    val ops = readStream(h.args("stream"))
    var gs: GraftSession = null
    var base: PropertyGraph = null
    h.setup(h.args("setups").toInt) { s =>
      val (a, b) = session(s, data, auto = true); gs = a; base = b
    }
    // untimed JIT warm-up on the tiny dataset, in a session of its own:
    // the first ops of every template (writes and reads of the written
    // graph included), in stream order
    h.phase("warmup") {
      val (w, wb) = session(h.spark.newSession(), h.args("warmup"), auto = true)
      ops.groupBy(_.template).values.flatMap(_.take(WarmupPerTemplate)).toSeq.sortBy(_.i)
        .foreach { o =>
          issue(w, wb, o) match {
            case df: DataFrame => RowHash.materialize(df)
            case _ =>
          }
        }
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    ops.foreach { o =>
      if (o.kind == "write") {
        h.call(o.i, o.template, o.issue, "graph.construct")(issue(gs, base, o))
      } else {
        // the parse cost of the query text, off the timed operation: graft
        // parses inside `cypher` on a plan-cache miss, as part of the build
        if (h.traced) h.layer(o.i, "cypher.parse")(CypherParser.parse(o.query))
        var hit = false
        h.query(o.i, o.template, o.issue, Map("kind" -> o.kind)) {
          val df = gs.cypher(o.graph, o.query, o.params)
          hit = !seen.add(df)
          df
        }
        h.emit(Map("type" -> "plan_cache", "id" -> o.i, "hit" -> hit))
      }
      h.storagePeak()
    }
    h.phase("verify") {
      val (fresh, fg) = session(h.spark.newSession(), data, auto = false)
      ops.filter(_.verify).foreach { o =>
        if (o.kind == "read_graph") issue(fresh, fg, ops(o.replay))
        val (n, ck) = RowHash.materialize(fresh.cypher(o.graph, o.query, o.params))
        h.emit(Map("type" -> "verify", "id" -> o.i, "rows" -> n, "checksum" -> RowHash.hex(ck)))
      }
    }
  }
}
