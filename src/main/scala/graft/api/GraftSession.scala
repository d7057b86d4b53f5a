package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cypher.CypherParser
import graft.cypher.Ast._
import graft.graph.PropertyGraph
import graft.plans.Planner

/** User-facing session: a catalog of named property graphs + the Cypher
  * entry point (role of the reference's MorpheusSession,
  * morpheus-spark-cypher/.../api/MorpheusSession.scala:55).
  */
class GraftSession(val spark: SparkSession) {

  // In-memory columnar cache compression is a CPU tax on every
  // materialization: encoding the consolidated CONTAINS triplet at sf0.1
  // measured 11.4 s compressed vs 1.85 s uncompressed for a 0.18 s join
  // (TripletMatProbeMain) — a 6× penalty on exactly the hot shared
  // caches (pattern tables, planner shared subtrees, per-doc gram
  // tables) this engine creates. Trade memory for that CPU: caches are
  // bounded (maxTables-capped pattern tables, label-filtered scans) and
  // MEMORY_AND_DISK spills under pressure instead of failing.
  spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")

  private val catalog = scala.collection.concurrent.TrieMap.empty[String, PropertyGraph]
  private val views =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], Query)]

  /** Registers `graph` as `name`. A graph it replaces that no other name
    * holds is forgotten: see [[forget]]. */
  def register(name: String, graph: PropertyGraph): Unit = synchronized {
    catalog.put(name, graph).foreach(old => if (!(old eq graph)) forget(old))
  }
  def graph(name: String): PropertyGraph = catalog.getOrElse(name,
    throw new IllegalArgumentException(
      s"graph `$name` not in catalog (have: ${catalog.keys.mkString(", ")})"))
  def graphNames: Seq[String] = catalog.keys.toSeq.sorted
  def viewNames: Seq[String] = views.keys.toSeq.sorted

  private def emptyGraph: PropertyGraph =
    new PropertyGraph(Nil, Nil, spark)

  /** Build a graph from case-class instances (reference:
    * MorpheusSession.readFrom, MorpheusSession.scala:77-86). One node class
    * and one relationship class per call; compose multi-type graphs from
    * [[GraphElements.nodeTable]]/[[GraphElements.relTable]] directly. */
  def readFrom[N <: GraphNode: scala.reflect.runtime.universe.TypeTag,
      R <: GraphRelationship: scala.reflect.runtime.universe.TypeTag](
      nodes: Seq[N], rels: Seq[R] = Seq.empty): PropertyGraph = {
    val nt = GraphElements.nodeTable(spark, nodes)
    val rt = if (rels.isEmpty) Nil
             else Seq(GraphElements.relTable(spark, rels))
    new PropertyGraph(Seq(nt), rt, spark)
  }

  /** Planner-inserted shared-subtree caches (undirected scans, var-length
    * rel scans, subquery seeds) registered per session. Spark's
    * CacheManager dedups by canonicalized plan, so repeated queries over
    * one graph share entries; [[releaseQueryCaches]] frees them all
    * (long-running services call it between workloads instead of relying
    * on LRU eviction). */
  private val queryCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private def trackCache(df: DataFrame): Unit = queryCaches.add(df)

  def releaseQueryCaches(): Unit = {
    // cached plans read the released subtrees, recomputing them on every
    // run: drop them too, so a repeat re-plans and re-caches
    synchronized(planCache.clear())
    var df = queryCaches.poll()
    while (df != null) {
      // blocking: the async default removes blocks AFTER this returns,
      // racing queries a caller starts next — observed on Spark 4.1.2 as
      // BlockNotFoundException plus silently missing rows
      df.unpersist(blocking = true)
      df = queryCaches.poll()
    }
  }

  // ------------------------------------------- adaptive scan consolidation
  /** Auto pattern-table routing (adaptive twin of the reference's
    * source-provided recognized patterns, LogicalOptimizer.scala:67-134):
    * the planner reports one-hop expands that found no covering
    * triplet/node-rel table; once a (srcLabels, relType, dstLabels) shape
    * has been planned `threshold` times against the same graph, the
    * session materializes that triplet (persisted MEMORY_AND_DISK) and
    * plans every NEW query over the graph against a twin that carries it
    * — hot traversals drop from rel-join + node-join to a single probe.
    * Plan-cache hits keep the plan they were built with: an exact repeat
    * re-runs its finished DataFrame (reused shuffle stages and
    * broadcasts) instead of re-planning onto the table and paying for
    * its materialization. `maxTables` caps session memory. Opt-in:
    * consolidation trades executor storage for join elimination, which
    * is the caller's call. */
  private case class ConsolidationConfig(threshold: Int, maxTables: Int,
      storageLevel: org.apache.spark.storage.StorageLevel,
      compressed: Option[Boolean], maxRowEstimate: Long)
  @volatile private var consolidation: Option[ConsolidationConfig] = None
  private val expandMisses =
    scala.collection.concurrent.TrieMap.empty[(PropertyGraph, Set[String], String, Set[String]), Int]
  private val adaptedGraphs =
    scala.collection.concurrent.TrieMap.empty[PropertyGraph, PropertyGraph]
  private val autoTableCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val skippedShapes =
    scala.collection.concurrent.TrieMap.empty[(PropertyGraph, Set[String], String, Set[String]), Long]

  /** `storageLevel`/`compressed` set the cache tier for every
    * auto-materialized pattern table (at 100 TB a triplet cache usually
    * wants DISK_ONLY or compressed columnar rather than the local-mode
    * uncompressed-memory default); `maxRowEstimate` is the size guard —
    * a shape whose rel-scan row estimate exceeds it is never
    * materialized (misses keep being counted and the skip is reported
    * via [[consolidationSkips]], so an operator can raise the budget
    * deliberately instead of the session silently caching a
    * corpus-sized join). */
  def enableAutoConsolidation(threshold: Int = 3, maxTables: Int = 16,
      storageLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      compressed: Option[Boolean] = None,
      maxRowEstimate: Long = Long.MaxValue): Unit = {
    require(threshold >= 1 && maxTables >= 1 && maxRowEstimate >= 0,
      "invalid consolidation config")
    consolidation = Some(ConsolidationConfig(threshold, maxTables,
      storageLevel, compressed, maxRowEstimate))
  }

  /** shapes the size guard refused to materialize → the row estimate
    * that exceeded the budget (srcLabels, relType, dstLabels). */
  def consolidationSkips: Map[(Set[String], String, Set[String]), Long] =
    skippedShapes.map { case ((_, s, r, d), n) => ((s, r, d), n) }.toMap

  def disableAutoConsolidation(): Unit = consolidation = None

  /** drop all auto-materialized pattern tables and their cached storage,
    * with every cached plan: a plan built on an adapted twin reads the
    * tables dropped here and would recompute them on every run. */
  def releaseAutoConsolidation(): Unit = synchronized {
    planCache.clear()
    adaptedGraphs.values.foreach { g =>
      // blocking, as in releaseQueryCaches
      g.tripletTables.foreach(_.df.unpersist(blocking = true))
      g.nodeRelTables.foreach(_.df.unpersist(blocking = true))
    }
    adaptedGraphs.clear()
    expandMisses.clear()
    skippedShapes.clear()
    autoTableCount.set(0)
  }

  /** Drops what the session keeps for `g` once no catalog name holds it:
    * its expand-miss counts and size-guard skips, its cached plans and its
    * adapted twin, whose auto-materialized tables are unpersisted (blocking,
    * as in [[releaseAutoConsolidation]]) and give back their table slots.
    * Without this, a graph replaced under its name stays pinned by these
    * maps and its twin's tables stay cached for the session's lifetime. */
  private def forget(g: PropertyGraph): Unit = synchronized {
    if (catalog.values.exists(_ eq g)) return
    planCache.keySet().removeIf(_._1 eq g)
    expandMisses.keys.filter(_._1 eq g).foreach(expandMisses.remove)
    skippedShapes.keys.filter(_._1 eq g).foreach(skippedShapes.remove)
    adaptedGraphs.remove(g).foreach { twin =>
      def tables(x: PropertyGraph): Seq[DataFrame] =
        x.tripletTables.map(_.df) ++ x.nodeRelTables.map(_.df)
      val auto = tables(twin).filterNot(t => tables(g).exists(_ eq t))
      // the CacheManager shares one entry between equal plans: keep a
      // table another held graph (or its twin) still reads
      val held = (catalog.values ++ adaptedGraphs.values).flatMap(tables)
      auto.filterNot(t => held.exists(_.queryExecution.analyzed
          .sameResult(t.queryExecution.analyzed)))
        .foreach(_.unpersist(blocking = true))
      autoTableCount.addAndGet(-auto.size)
    }
  }

  /** graphs the session keeps consolidation state or cached plans for */
  private[graft] def heldGraphs: Set[PropertyGraph] = synchronized {
    import scala.jdk.CollectionConverters._
    (expandMisses.keys.map(_._1) ++ skippedShapes.keys.map(_._1) ++
      adaptedGraphs.keys ++ planCache.keySet().asScala.map(_._1)).toSet
  }

  private[graft] def twinOf(g: PropertyGraph): Option[PropertyGraph] =
    adaptedGraphs.get(g)

  /** the graph queries actually plan against: the adapted twin once
    * consolidation has materialized tables for it. */
  private def adapted(g: PropertyGraph): PropertyGraph =
    adaptedGraphs.getOrElse(g, g)

  private def recordExpandMiss(g: PropertyGraph)(
      srcLabels: Set[String], relType: String, dstLabels: Set[String]): Unit =
    consolidation.foreach { cfg =>
      // both sides unlabeled: an all-nodes × rel × all-nodes table is the
      // corpus over again — never worth materializing automatically
      if (srcLabels.isEmpty && dstLabels.isEmpty) return
      val key = (g, srcLabels, relType, dstLabels)
      val n = expandMisses.updateWith(key) {
        case Some(c) => Some(c + 1)
        case None => Some(1)
      }.getOrElse(1)
      if (n == cfg.threshold) {
        val base = adapted(g)
        // size guard BEFORE consuming a table slot: a pattern table whose
        // rel scan alone exceeds the row budget would be a corpus-scale
        // cache — skip it (and report), don't spend the materialization
        val est = if (cfg.maxRowEstimate == Long.MaxValue) 0L
          else base.relRowEstimate(relType)
        if (est > cfg.maxRowEstimate) skippedShapes(key) = est
        else if (autoTableCount.incrementAndGet() <= cfg.maxTables) {
          // both sides labeled → triplet (zero-join pattern starts, both
          // directions). One side labeled → node-rel on that side (half
          // the storage; the bound-probe expand is the same single join).
          adaptedGraphs(g) =
            if (srcLabels.nonEmpty && dstLabels.nonEmpty)
              base.withTriplet(relType, srcLabels, dstLabels,
                storageLevel = cfg.storageLevel, compressed = cfg.compressed)
            else if (dstLabels.nonEmpty)
              base.withNodeRel(relType, dstLabels, nodeOnSrc = false,
                storageLevel = cfg.storageLevel, compressed = cfg.compressed)
            else
              base.withNodeRel(relType, srcLabels, nodeOnSrc = true,
                storageLevel = cfg.storageLevel, compressed = cfg.compressed)
        }
      }
    }

  /** Resolves a graph reference against the catalog. View invocations plan
    * the view body lazily with `$param`s bound to the (recursively
    * resolved) argument graphs — a view is a graph-valued function
    * (reference: RelationalCypherSession.scala:171-196, ViewsExample). */
  private def resolveRef(ref: GraphRef,
      bound: Map[String, PropertyGraph],
      values: Map[String, Any]): PropertyGraph = ref match {
    case GraphByName(n) => graph(n)
    // a top-level `FROM GRAPH $p` (outside a view body) reads the graph
    // NAME from the statement's value parameters (reference
    // MultipleGraphTests "can read graph via parameter")
    case GraphParamRef(p) => bound.get(p)
      .orElse(values.get(p).collect { case s: String => graph(s) })
      .getOrElse(
        throw new IllegalArgumentException(s"unbound graph parameter $$$p"))
    case ViewInvocation(n, args) =>
      val (ps, body) = views.getOrElse(n, throw new IllegalArgumentException(
        s"view `$n` not in catalog (have: ${views.keys.mkString(", ")})"))
      require(ps.length == args.length,
        s"view `$n` takes ${ps.length} argument(s), got ${args.length}")
      // each positional arg binds its parameter as a GRAPH or a VALUE:
      // graph-shaped args resolve recursively; `$x` prefers a graph bind
      // (reference semantics) and falls back to the statement's value
      // params; literal/param expressions become view-body value params
      val evaluated: Seq[Either[PropertyGraph, Any]] = args.map {
        case Left(GraphParamRef(p)) if !bound.contains(p) &&
            values.contains(p) => Right(values(p))
        case Left(r) => Left(resolveRef(r, bound, values))
        case Right(e) => Right(staticValue(e, values))
      }
      val graphBinds = ps.zip(evaluated)
        .collect { case (p, Left(g)) => p -> g }.toMap
      val valueBinds = ps.zip(evaluated)
        .collect { case (p, Right(v)) => p -> v }.toMap
      new Planner(spark, valueBinds,
        r => resolveRef(r, graphBinds, valueBinds), emptyGraph,
        onPersist = trackCache)
        .planGraph(body)
  }

  /** literal evaluator for view VALUE arguments (no row context exists at
    * invocation, so only literals and outer `$param`s are meaningful). */
  private def staticValue(e: Expr, values: Map[String, Any]): Any = e match {
    case IntLit(v) => v
    case FloatLit(v) => v
    case StringLit(v) => v
    case BoolLit(v) => v
    case NullLit => null
    case Param(p) => values.getOrElse(p,
      throw new IllegalArgumentException(s"unbound parameter $$$p"))
    case ListLit(items) => items.map(staticValue(_, values))
    case Neg(x) => staticValue(x, values) match {
      case l: Long => -l
      case d: Double => -d
      case other => throw new IllegalArgumentException(
        s"cannot negate view argument $other")
    }
    case other => throw new IllegalArgumentException(
      s"view value arguments must be literals or parameters, got $other")
  }

  private def resolver(values: Map[String, Any]): GraphRef => PropertyGraph =
    r => resolveRef(r, Map.empty, values)

  /** Plan cache for the tabular entry point: parse + plan + DataFrame
    * analysis costs 100-500 ms of driver time on complex patterns
    * (measured: c31 560 ms, c13 290 ms), which dominates warm repeated
    * queries. Keyed by (graph the caller named, query, params,
    * checkpoint dir) with identity semantics on the graph, so registering
    * a new graph under an old name misses. A hit returns the same
    * DataFrame, whose finished shuffle stages and broadcasts Spark
    * reuses. Reuse is safe: the DataFrame is an immutable plan, so
    * date()/datetime() still evaluate per execution. Auto-consolidation
    * does not invalidate entries: a hit keeps its plan even after a
    * shape it expands materializes (pattern tables serve new queries;
    * an exact repeat is already cheaper than re-planning onto a table
    * that must first be built). Expand-miss shapes recorded during the
    * original planning REPLAY on every hit, so thresholds still trip.
    * [[releaseAutoConsolidation]] and [[releaseQueryCaches]] clear it. */
  private type PlanKey = (PropertyGraph, String, Map[String, Any], Option[String])
  private val planCache = new java.util.LinkedHashMap[
      PlanKey, (DataFrame, List[(Set[String], String, Set[String])])](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        PlanKey, (DataFrame, List[(Set[String], String, Set[String])])]): Boolean =
      size() > 64
  }

  /** Run a Cypher read query against a graph; result is a plain DataFrame
    * (lazily planned — nothing executes until an action). */
  def cypher(g: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): DataFrame = synchronized {
    // the checkpoint-dir knob is baked into a planned deep var-length
    // query (its frontier materializations already happened), so a knob
    // change must miss the plan cache
    val key = (g, query, params,
      spark.conf.getOption(Planner.CheckpointDirKey))
    val hit = planCache.get(key)
    if (hit != null) {
      hit._2.foreach { case (s, t, d) => recordExpandMiss(g)(s, t, d) }
      hit._1
    } else {
      val misses =
        scala.collection.mutable.ListBuffer.empty[(Set[String], String, Set[String])]
      val ast = CypherParser.parse(query)
      val df = new Planner(spark, params, resolver(params), adapted(g),
        onPersist = trackCache,
        onExpandMiss = (s, t, d) => {
          misses += ((s, t, d)); recordExpandMiss(g)(s, t, d)
        }).plan(ast)
      planCache.put(key, (df, misses.toList))
      df
    }
  }

  /** Entry point with a caller-supplied driving table (reference:
    * MorpheusSession.cypher's `drivingTable` argument,
    * RelationalCypherSession.scala:79-96): every column of `drivingTable`
    * is in scope as a bound value variable, and the query's first MATCH /
    * UNWIND extends its rows instead of starting from the one-row unit
    * table. Lets callers thread an existing DataFrame (e.g. a batch of ids
    * from another job) through a Cypher pattern without a temp graph. */
  def cypher(g: PropertyGraph, query: String, params: Map[String, Any],
      drivingTable: DataFrame): DataFrame = {
    val ast = CypherParser.parse(query)
    new Planner(spark, params, resolver(params), adapted(g), onPersist = trackCache,
      driving = Some(drivingTable), onExpandMiss = recordExpandMiss(g)).plan(ast)
  }

  /** Session-level entry point: catalog DDL statements
    * (`CATALOG CREATE GRAPH g { ... }`, `CATALOG CREATE VIEW v($p) { ... }`,
    * `CATALOG DROP GRAPH|VIEW g`) and queries that pick their graph via
    * `FROM GRAPH` (reference: RelationalCypherSession.scala:171-196). DDL
    * statements return an empty DataFrame. */
  def cypher(query: String): DataFrame = cypherStatement(query, Map.empty)

  def cypherStatement(query: String,
      params: Map[String, Any]): DataFrame =
    CypherParser.parseStatement(query) match {
      case QueryStatement(q) =>
        new Planner(spark, params, resolver(params), emptyGraph, onPersist = trackCache).plan(q)
      case CreateGraphStatement(name, inner) =>
        register(name,
          new Planner(spark, params, resolver(params), emptyGraph,
            onPersist = trackCache).planGraph(inner))
        spark.emptyDataFrame
      case CreateViewStatement(name, ps, inner) =>
        views(name) = (ps, inner); spark.emptyDataFrame
      case DropGraphStatement(name) =>
        synchronized(catalog.remove(name).foreach(forget)); spark.emptyDataFrame
      case DropViewStatement(name) =>
        views.remove(name); spark.emptyDataFrame
    }

  def cypher(graphName: String, query: String): DataFrame =
    cypher(graph(graphName), query, Map.empty[String, Any])

  def cypher(graphName: String, query: String, params: Map[String, Any]): DataFrame =
    cypher(graph(graphName), query, params)

  /** Run a graph-returning query (`... CONSTRUCT ... [RETURN GRAPH]`) —
    * multiple-graph extension (reference: ConstructGraphPlanner.scala:52,
    * RelationalCypherSession.scala:171-196). The result graph is lazy (its
    * element tables are unexecuted DataFrame plans) and can be registered
    * in the catalog and queried like any other. */
  def cypherGraph(g: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): PropertyGraph = {
    val ast = CypherParser.parse(query)
    new Planner(spark, params, resolver(params), adapted(g), onPersist = trackCache,
      onExpandMiss = recordExpandMiss(g)).planGraph(ast)
  }

  def cypherGraph(graphName: String, query: String): PropertyGraph =
    cypherGraph(graph(graphName), query, Map.empty[String, Any])

  /** Printable query plans — the reference's `result.plans` explain
    * surface (okapi-api CypherResult.scala:76-84: `logical` +
    * `relational`). This engine collapses the okapi logical/relational
    * tower into direct DataFrame emission (SURVEY §7.1), so `logical` is
    * the parsed clause tree and `relational`/`physical` are Catalyst's
    * optimized and executed plans — strictly more informative than the
    * reference's strings, since they are the plans that actually run. */
  case class QueryPlans(logical: String, relational: String,
      physical: String) {
    override def toString: String =
      s"=== logical ===\n$logical\n=== relational (optimized) ===\n" +
        s"$relational\n=== physical ===\n$physical"
  }

  def explain(g: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty): QueryPlans = {
    val ast = CypherParser.parse(query)
    def renderClause(c: Any, indent: String = ""): String = c match {
      case p: Product =>
        indent + p.productPrefix + (p.productArity match {
          case 0 => ""
          case _ => p.productIterator.map {
            case s: Seq[_] => s.map(renderClause(_, "")).mkString("[", ", ", "]")
            case o: Option[_] => o.map(renderClause(_, "")).getOrElse("∅")
            case x => renderClause(x, "")
          }.mkString("(", ", ", ")")
        })
      case other => indent + String.valueOf(other)
    }
    val logical = renderClause(ast)
    val df = cypher(g, query, params)
    QueryPlans(logical,
      df.queryExecution.optimizedPlan.toString,
      df.queryExecution.executedPlan.toString)
  }

  /** Graph DDL entry point (reference: graph-ddl module + catalog DDL,
    * RelationalCypherSession.scala:171-196): parses a `CREATE GRAPH ...`
    * mapping over Spark tables/views, registers and returns the graph. */
  def createGraph(ddl: String): PropertyGraph = {
    val (name, g) = graft.sources.GraphDdl.createGraph(spark, ddl)
    register(name, g)
    g
  }

  /** Typed Graph DDL entry point (reference grammar: element types with
    * EXTENDS inheritance, CREATE GRAPH TYPE schema patterns, view
    * mappings with JOIN ON — graft.sources.TypedGraphDdl). Registers and
    * returns every graph the document declares. */
  def createTypedGraphs(ddl: String,
      validate: Boolean = true): Map[String, PropertyGraph] = {
    val gs = graft.sources.TypedGraphDdl.createGraphs(spark, ddl, validate)
    gs.foreach { case (n, g) => register(n, g) }
    gs
  }

  /** Build an in-memory graph from openCypher `CREATE` statements (the
    * TCK fixture form; reference: okapi-testing CreateGraphFactory).
    * Property values must be literals. */
  def createGraphFromCypher(createStatements: String): PropertyGraph =
    graft.sources.CypherCreateGraph(spark, createStatements)

  /** Records as maps — the reference's `toCypherMaps` surface
    * (MorpheusRecords.scala:138) without a boxed value hierarchy: each row
    * becomes name→JVM value (structs → nested maps, arrays → Seq). */
  def cypherMaps(g: PropertyGraph, query: String,
      params: Map[String, Any] = Map.empty)
      : org.apache.spark.sql.Dataset[Map[String, Any]] = {
    val df = cypher(g, query, params)
    implicit val enc: org.apache.spark.sql.Encoder[Map[String, Any]] =
      org.apache.spark.sql.Encoders.kryo[Map[String, Any]]
    def convert(v: Any): Any = v match {
      // mixed-tagged list elements (heterogeneous list encoding,
      // ExprCompiler) unwrap to their payload value — the same decoding
      // the reference's client API does for binary CypherValues
      case r: org.apache.spark.sql.Row
          if r.schema != null &&
            r.schema.fieldNames.sameElements(Array("@k", "i", "f", "s", "b")) =>
        r.getAs[Int]("@k") match {
          case 1 => r.getAs[Long]("i")
          case 2 => r.getAs[Double]("f")
          case 3 => r.getAs[String]("s")
          case 4 => r.getAs[Boolean]("b")
          case _ => null
        }
      case r: org.apache.spark.sql.Row =>
        r.schema.fieldNames.zip(r.toSeq.map(convert)).toMap
      case s: Seq[_] => s.map(convert)
      case other => other
    }
    val names = df.columns
    df.map(row => names.zip(row.toSeq.map(convert)).toMap)
  }

  /** Spark SQL pass-through (reference entry point 2,
    * MorpheusSession.scala:84-86). */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Registers a catalog graph's element tables as SQL temp views —
    * `<graph>_node_<labels>` / `<graph>_rel_<type>` — so plain Spark SQL
    * (entry point 2, reference: MorpheusSession.sql + the graph-ddl
    * direction reversed) can query graph data without a Cypher hop.
    * Returns the created view names. */
  def registerSqlViews(graphName: String): Seq[String] = {
    val g = graph(graphName)
    val nodeViews = g.nodeTables.map { t =>
      val v = s"${graphName}_node_${t.labels.toSeq.sorted.mkString("_")}"
      t.df.createOrReplaceTempView(v)
      v
    }
    val relViews = g.relTables.map { t =>
      val v = s"${graphName}_rel_${t.relType}"
      t.df.createOrReplaceTempView(v)
      v
    }
    nodeViews ++ relViews
  }
}

object GraftSession {
  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)
}
