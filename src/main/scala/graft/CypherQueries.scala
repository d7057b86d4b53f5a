package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.api.GraftSession
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import graft.graph.PropertyGraph
import graft.sources.{ParquetTables, TpchGraph}

/** Cypher-engine-routed operator queries for the driver's correctness gate.
  * Every entry runs through parse → plan → DataFrame (the full engine) and
  * has an equivalent DuckDB SQL oracle over the raw tables.
  *
  * Exactness note: aggregate targets are chosen so both engines produce
  * bit-identical doubles — counts, min/max, and sums/avgs of integer-valued
  * doubles (order-independent in fp64). Money sums (fractional doubles) are
  * gated via the decimal-cast direct queries in SparkEntry instead.
  */
object CypherQueries {

  /** One GraftSession per SparkSession, bounded like TpchGraph.load's
    * cache: stopped sessions are evicted, and past [[MaxSessions]] the
    * least recently used goes. An evicted session releases its pattern
    * tables and query caches, which would otherwise stay pinned with it. */
  private val MaxSessions = 8
  private val sessions =
    new java.util.LinkedHashMap[SparkSession, GraftSession](16, 0.75f, true)

  /** the gates' session for `s`; `auto` (auto-consolidation) applies when
    * this call creates it. Auto-consolidation on: shapes expanded >= 3
    * times materialize a pattern table (persisted once), so repeated
    * bench/gate queries over hot expands probe one cached scan instead of
    * re-joining (TripletSpec locks the probe-only plan and result
    * identity). */
  private def session(s: SparkSession, auto: Boolean = true): GraftSession = {
    val evicted = scala.collection.mutable.ListBuffer.empty[GraftSession]
    val gs = sessions.synchronized {
      sessions.entrySet().removeIf { e =>
        val stopped = e.getKey.sparkContext.isStopped
        if (stopped) evicted += e.getValue
        stopped
      }
      val gs = sessions.computeIfAbsent(s, _ => {
        val g = GraftSession(s); if (auto) g.enableAutoConsolidation(); g
      })
      if (sessions.size > MaxSessions) {
        val eldest = sessions.entrySet().iterator()
        evicted += eldest.next().getValue
        eldest.remove()
      }
      gs
    }
    evicted.foreach { e =>
      // a stopped context's storage went with it, and unpersisting
      // through it may fail: the session is dropped either way
      try { e.releaseAutoConsolidation(); e.releaseQueryCaches() }
      catch { case NonFatal(_) if e.spark.sparkContext.isStopped => }
    }
    gs
  }

  /** the SparkSessions that currently hold a gate session */
  private[graft] def liveSessions: Seq[SparkSession] =
    sessions.synchronized(sessions.keySet().toArray(Array.empty[SparkSession]).toSeq)

  /** Graphs a gate derives from a dataset (typed DDL, union, pattern-table
    * twins), memoized per loaded TPC-H graph. The base graph's identity
    * carries TpchGraph.load's key (session and each table file's
    * identity), so a new session or a rewritten table misses; weak keys
    * let an entry go once TpchGraph's bounded cache drops its base. */
  private val derived = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[PropertyGraph, TrieMap[String, PropertyGraph]]())

  private def derive(s: SparkSession, dir: String, tag: String)(
      build: PropertyGraph => PropertyGraph): PropertyGraph = {
    val base = TpchGraph.load(s, dir)
    derived.computeIfAbsent(base, _ => TrieMap.empty)
      .getOrElseUpdate(tag, build(base))
  }

  private def run(s: SparkSession, dir: String, q: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    session(s).cypher(TpchGraph.load(s, dir), q, params)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PatternScan + Filter + Select (§2.2 PatternScan, §2.1 Filter/Select)
    "c1_node_scan" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer) WHERE c.c_acctbal > 5000.0
        |RETURN c.c_custkey AS ck, c.c_name AS name, c.c_acctbal AS bal
        |ORDER BY ck""".stripMargin)),
    // Expand (§2.2): one hop over PLACED
    "c2_expand" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS ck, o.o_orderkey AS ok
        |ORDER BY ok""".stripMargin)),
    // Expand chain + rel-property predicate
    "c3_expand2" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)-[li:CONTAINS]->(p:Part)
        |WHERE li.l_quantity > 47.0
        |RETURN o.o_orderkey AS ok, p.p_partkey AS pk, li.l_quantity AS qty,
        |       li.l_linenumber AS ln
        |ORDER BY ok, ln""".stripMargin)),
    // Aggregate with grouping (§2.1 Aggregate; count/sum/min/max/avg §2.4)
    "c4_agg" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS ck, count(*) AS n,
        |       min(o.o_totalprice) AS lo, max(o.o_totalprice) AS hi
        |ORDER BY ck""".stripMargin)),
    // global aggregation (no keys) + countDistinct
    "c5_global_agg" -> ((s, dir) => run(s, dir,
      """MATCH (:Order)-[li:CONTAINS]->(p:Part)
        |RETURN count(*) AS n, count(DISTINCT p) AS parts,
        |       sum(li.l_quantity) AS qty, avg(li.l_quantity) AS avg_qty""".stripMargin)),
    // Optional (§2.2): left-outer + aggregation over null rel ids
    "c6_optional" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer) OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
        |RETURN c.c_custkey AS ck, count(o) AS n
        |ORDER BY ck""".stripMargin)),
    // ExistsSubQuery (§2.2): pattern predicate → semi join
    "c7_exists" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer) WHERE (c)-[:PLACED]->()
        |RETURN c.c_custkey AS ck ORDER BY ck""".stripMargin)),
    // negated pattern predicate (with rel property map) → anti join
    "c8_not_exists" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order) WHERE NOT (o)-[:CONTAINS {l_quantity: 50.0}]->()
        |RETURN o.o_orderkey AS ok ORDER BY ok""".stripMargin)),
    // Distinct (§2.1)
    "c9_distinct" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer) RETURN DISTINCT c.c_mktsegment AS seg
        |ORDER BY seg""".stripMargin)),
    // OrderBy + Skip + Limit (§2.1)
    "c10_order_skip_limit" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order) RETURN o.o_orderkey AS ok, o.o_totalprice AS price
        |ORDER BY price DESC, ok ASC SKIP 10 LIMIT 25""".stripMargin)),
    // TabularUnionAll + UNION distinct (§2.1)
    "c11_union" -> ((s, dir) => run(s, dir,
      """MATCH (n:Nation) RETURN n.n_name AS name
        |UNION ALL MATCH (r:Region) RETURN r.r_name AS name""".stripMargin)
      .orderBy("name")),
    // Unwind (§2.2) + parameter baking
    "c12_unwind" -> ((s, dir) => run(s, dir,
      """UNWIND [1, 2, 3, 5, 8] AS x
        |RETURN x, x * x AS sq ORDER BY x""".stripMargin)),
    // BoundedVarLengthExpand (§2.2): 1..2 hops over heterogeneous rels
    "c13_varlength" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:IN_NATION|IN_REGION*1..2]->(x)
        |RETURN c.c_custkey AS ck, coalesce(x.n_name, x.r_name) AS xname
        |ORDER BY ck, xname""".stripMargin)),
    // deep var-length auto-route (§2.2 BoundedVarLengthExpand): the
    // declared bound 35 exceeds the 30-deep unroll cap, so the planner
    // routes to the iterative frontier loop (Planner.scala expandVarLength
    // → checkpointed loop, round-5 addition). The TPC-H FK topology is a
    // DAG of depth ≤ 5, so the loop's empty-frontier early exit fires
    // after five expansions; anchoring on one customer keeps the
    // CONTAINS×SUPPLIED_BY fan-out gate-sized. Counts paths per depth —
    // parallel CONTAINS/SUPPLIED_BY edges multiply path counts, which the
    // oracle's UNION ALL walk reproduces exactly.
    "c37_deep_varlength" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[rs*1..35]->(x)
        |WHERE c.c_custkey = 1
        |RETURN size(rs) AS depth, count(*) AS n
        |ORDER BY depth""".stripMargin)),
    // mid-query cut (round 7c): WITH ... ORDER BY ... LIMIT takes the
    // top-50 (customer, order) rows by price BEFORE the WHERE drains —
    // openCypher clause order is projection → ORDER BY → SKIP/LIMIT →
    // WHERE (probe batch 49); the unique-orderkey tiebreak keeps the cut
    // deterministic for the oracle
    "c39_with_cut" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c, o ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 50
        |WHERE c.c_acctbal > 0.0
        |RETURN c.c_custkey AS ck, count(*) AS n, min(o.o_orderkey) AS ok
        |ORDER BY ck""".stripMargin)),
    // column-valued temporal constructors (round 8): an ISO-8601 STRING
    // column upgrades to zoned datetime / date / duration in-query —
    // datetime(s) parses per row (codegen'd, TemporalParse), an offset
    // suffix shifts the instant, date() reads the calendar part, and a
    // CASE-selected duration string drives calendar-vs-elapsed
    // arithmetic. The string round-trips through toString() so the gate
    // exercises derived string columns, not just raw properties.
    "c40_temporal_cast" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order)
        |WITH o.o_orderkey AS ok, toString(o.o_orderdate) AS s
        |RETURN ok,
        |       datetime(s).epochSeconds AS es,
        |       datetime(s + '+02:00').epochSeconds AS zes,
        |       toString(date(substring(s, 0, 10))) AS d,
        |       (datetime(s) + duration(
        |         CASE WHEN ok % 2 = 0 THEN 'P1M' ELSE 'PT12H' END
        |       )).epochSeconds AS es2
        |ORDER BY ok""".stripMargin)),
    // POINT type + distance() (round 8): cartesian points from part
    // price/size, geographic points from size/partkey-derived lat/lon —
    // euclidean distance exact (sqrt/± are IEEE-correctly-rounded, so
    // formula-for-formula parity with DuckDB is bit-identical),
    // haversine rounded to 1e-4 m (libm sin/cos may differ by ulps
    // between the JVM and DuckDB)
    "c41_point" -> ((s, dir) => run(s, dir,
      """MATCH (p:Part)
        |WITH p.p_partkey AS pk,
        |     point({x: p.p_retailprice, y: toFloat(p.p_size)}) AS c,
        |     point({latitude: toFloat(p.p_size) - 25.0,
        |            longitude: toFloat(p.p_partkey % 360) - 180.0}) AS g
        |RETURN pk,
        |       distance(c, point({x: 0.0, y: 0.0})) AS dc,
        |       round(distance(g, point({latitude: 0.0, longitude: 0.0}))
        |             * 10000.0) / 10000.0 AS dg,
        |       g.srid AS srid
        |ORDER BY pk""".stripMargin)),
    // disconnected-pattern distance window → grid DistanceJoin (round 10):
    // the planner lowers `MATCH (a), (b) WHERE distance(..a.., ..b..) < $r`
    // to the cell-bucketed equi-join (planPartViaDistanceJoin) instead of
    // crossJoin + filter; results are formula-identical to the oracle's
    // cross join because the ORIGINAL predicate re-runs after the grid.
    // sqrt and ± are IEEE-exact, so the boundary comparison is
    // bit-identical cross-engine. DistanceRewriteSpec locks the
    // no-cartesian plan.
    "c42_distance_join" -> ((s, dir) => run(s, dir,
      """MATCH (s:Supplier), (c:Customer)
        |WHERE distance(point({x: s.s_acctbal, y: toFloat(s.s_nationkey)}),
        |               point({x: c.c_acctbal, y: toFloat(c.c_nationkey)}))
        |      < $r
        |RETURN s.s_suppkey AS sk, c.c_custkey AS ck
        |ORDER BY sk, ck""".stripMargin,
      params = Map("r" -> 10.0))),
    // expressions: CASE / substring / toUpper / arithmetic (§2.3)
    "c14_expressions" -> ((s, dir) => run(s, dir,
      """MATCH (p:Part)
        |RETURN p.p_partkey AS pk, toUpper(substring(p.p_name, 0, 5)) AS pfx,
        |       CASE WHEN p.p_size < 25 THEN 'small' ELSE 'big' END AS bucket,
        |       p.p_retailprice * 2.0 + 1.0 AS calc
        |ORDER BY pk""".stripMargin)),
    // WITH chaining + aggregation + post-agg filter (HAVING shape)
    "c15_with_having" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:PLACED]->(o:Order)
        |WITH c.c_custkey AS ck, count(*) AS n
        |WHERE n >= 12
        |RETURN ck, n ORDER BY n DESC, ck""".stripMargin)),
    // undirected expand (§2.2 Expand Undirected)
    "c16_undirected" -> ((s, dir) => run(s, dir,
      """MATCH (n:Nation)-[:IN_REGION]-(x)
        |RETURN n.n_name AS nn, coalesce(x.r_name, x.n_name) AS xn
        |ORDER BY nn, xn""".stripMargin)),
    // ExpandInto (§2.2): second pattern part rebinds n → join on both ends
    "c17_expand_into" -> ((s, dir) => run(s, dir,
      """MATCH (c:Customer)-[:IN_NATION]->(n:Nation), (sp:Supplier)-[:IN_NATION]->(n)
        |RETURN n.n_name AS nn, count(*) AS pairs
        |ORDER BY nn""".stripMargin)),
    // CartesianProduct (§2.2): disconnected pattern parts
    "c18_cartesian" -> ((s, dir) => run(s, dir,
      """MATCH (r:Region), (n:Nation)
        |RETURN r.r_name AS rn, n.n_name AS nn ORDER BY rn, nn""".stripMargin)),
    // list expressions (§2.3): comprehension, reduce, quantifiers
    "c19_listops" -> ((s, dir) => run(s, dir,
      """UNWIND [[1, 2, 3], [4, 5], [6]] AS xs
        |RETURN size(xs) AS n,
        |       reduce(acc = 0, x IN xs | acc + x) AS total,
        |       size([x IN xs WHERE x % 2 = 0]) AS evens,
        |       CASE WHEN all(x IN xs WHERE x > 0) THEN 1 ELSE 0 END AS allpos,
        |       CASE WHEN any(x IN xs WHERE x > 4) THEN 1 ELSE 0 END AS hasbig
        |ORDER BY n""".stripMargin)),
    // percentileCont/percentileDisc/stDev/sum DISTINCT aggregators (§2.4)
    "c20_percentile" -> ((s, dir) => run(s, dir,
      """MATCH (:Order)-[li:CONTAINS]->()
        |RETURN li.l_returnflag AS rf,
        |       percentileCont(li.l_quantity, 0.5) AS med,
        |       percentileDisc(li.l_quantity, 0.9) AS p90,
        |       round(stDev(li.l_quantity) * 1000.0) / 1000.0 AS sd,
        |       sum(DISTINCT li.l_quantity) AS dq
        |ORDER BY rf""".stripMargin)),
    // temporal expressions (§2.3): timestamp literal compare + accessors
    "c22_temporal" -> ((s, dir) => run(s, dir,
      """MATCH (:Order)-[li:CONTAINS]->()
        |WHERE li.l_shipdate >= localdatetime('2000-01-01T00:00:00')
        |RETURN year(li.l_shipdate) AS y, month(li.l_shipdate) AS m,
        |       count(*) AS n
        |ORDER BY y, m""".stripMargin)),
    // temporal arithmetic + property-style accessors (§2.3): month-bearing
    // duration added to a timestamp, `.year`/`.quarter` accessors
    "c25_temporal2" -> ((s, dir) => run(s, dir,
      """MATCH (:Order)-[li:CONTAINS]->()
        |WHERE li.l_shipdate >= localdatetime('1995-06-01T00:00:00')
        |                       + duration({months: 7, days: 10})
        |RETURN li.l_shipdate.year AS y, li.l_shipdate.quarter AS q,
        |       count(*) AS n
        |ORDER BY y, q""".stripMargin)),
    // duration component accessors over duration.between (cumulative
    // reference semantics, TemporalUdfs.scala:118-142). The anchor is a
    // day-1 date so complete-month counting can't hit the month-end
    // borrow case where months_between-floor and DuckDB age() disagree.
    "c32_duration_parts" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order)
        |WHERE o.o_orderdate >= localdatetime('1995-01-01T00:00:00')
        |WITH o, duration.between(localdatetime('1995-01-01T00:00:00'),
        |                         o.o_orderdate) AS d
        |RETURN o.o_orderkey AS ok, d.months AS m, d.days AS dd,
        |       d.weeks AS w, d.monthsOfYear AS my
        |ORDER BY ok""".stripMargin)),
    // pattern comprehension (§2.3): per-row collected sub-match
    "c23_pattern_comprehension" -> ((s, dir) => run(s, dir,
      """MATCH (n:Nation)
        |RETURN n.n_name AS nn,
        |       size([(c:Customer)-[:IN_NATION]->(n) | c.c_custkey]) AS n_cust
        |ORDER BY nn""".stripMargin)),
    // var-length expand with an inline property map (§2.2): the map must
    // filter EVERY traversed step (round-1 judge finding: silently dropped)
    "c24_varlength_props" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order)-[:CONTAINS|SUPPLIED_BY*1..2 {l_quantity: 50.0}]->(x)
        |RETURN o.o_orderkey AS ok, coalesce(x.p_name, x.s_name) AS xname
        |ORDER BY ok, xname""".stripMargin)),
    // WHERE quantifier over the var-length rel list, pushed into the
    // unroll (any → per-step match counter across branch lengths)
    "c30_varlength_quantifier" -> ((s, dir) => run(s, dir,
      """MATCH (o:Order)-[ls:CONTAINS|SUPPLIED_BY*1..2]->(x)
        |WHERE any(l IN ls WHERE l.l_quantity >= 49.0)
        |RETURN o.o_orderkey AS ok, coalesce(x.p_name, x.s_name) AS xname
        |ORDER BY ok, xname""".stripMargin)),
    // node VALUES along a named path (extension; the unroll carries ids —
    // values are materialized on demand by one explode→join→collect pass,
    // struct pruned to the accessed fields). The gate returns the name
    // list REDUCED to one string so the driver's comparator can sort it
    // (raw-list coverage stays in PathSpec).
    "c31_path_node_values" -> ((s, dir) => run(s, dir,
      """MATCH p = (c:Customer)-[:IN_NATION|IN_REGION*1..2]->(x)
        |RETURN c.c_custkey AS ck, length(p) AS len,
        |       reduce(s = '', x IN [n IN nodes(p) |
        |                coalesce(n.n_name, n.r_name, n.c_name)] |
        |              s + '|' + x) AS names
        |ORDER BY ck, len""".stripMargin)),
    // typed Graph DDL end-to-end (§2.6): element types + JOIN ON view
    // mappings build the graph, hashed join-key ids wire the expand
    "c33_typed_ddl" -> ((s, dir) => {
      val gs = session(s)
      // keyed by the TPC-H graph, whose key covers customer and nation
      val g = derive(s, dir, "typed_ddl") { _ =>
        ParquetTables.read(s, s"$dir/customer.parquet")
          .createOrReplaceTempView("ddl_customer_v")
        ParquetTables.read(s, s"$dir/nation.parquet")
          .createOrReplaceTempView("ddl_nation_v")
        graft.sources.TypedGraphDdl.createGraphs(s,
          """CREATE ELEMENT TYPE Customer ( c_custkey INTEGER, c_name STRING )
            |CREATE ELEMENT TYPE Nation ( n_name STRING )
            |CREATE GRAPH TYPE tpch (
            |  (Customer), (Nation),
            |  (Customer)-[IN_NATION]->(Nation)
            |)
            |CREATE GRAPH ddlg OF tpch (
            |  (Customer) FROM ddl_customer_v,
            |  (Nation)   FROM ddl_nation_v,
            |  (Customer)-[IN_NATION]->(Nation) FROM ddl_customer_v e
            |    START NODES (Customer) FROM ddl_customer_v n JOIN ON e.c_custkey = n.c_custkey
            |    END   NODES (Nation)   FROM ddl_nation_v   n JOIN ON e.c_nationkey = n.n_nationkey
            |)""".stripMargin)("ddlg")
      }
      gs.cypher(g,
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
          |RETURN n.n_name AS nn, count(*) AS cnt, min(c.c_name) AS first_c
          |ORDER BY nn""".stripMargin)
    }),
    // driving table (reference MorpheusSession.cypher drivingTable,
    // RelationalCypherSession.scala:79-96): every column of the supplied
    // DataFrame is a bound value variable; MATCH extends its rows. The
    // value-to-property equality plans as a hash join, not a filter scan.
    "c34_driving_table" -> ((s, dir) => {
      val gs = session(s)
      val g = TpchGraph.load(s, dir)
      val driving = ParquetTables.read(s, s"$dir/nation.parquet")
        .select(col("n_nationkey").as("nk"), col("n_name").as("nname"))
      gs.cypher(g,
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
          |WHERE n.n_nationkey = nk
          |RETURN nname, count(*) AS n_cust, min(c.c_acctbal) AS lo
          |ORDER BY nname""".stripMargin,
        Map.empty[String, Any], driving)
    }),
    // GraphUnionAll (§2.1) driver-gated: two label-disjoint halves of the
    // customer base re-united; the union's node scan spans both tables
    "c35_graph_union" -> ((s, dir) => {
      val gs = session(s)
      val g = derive(s, dir, "union") { _ =>
        import graft.graph.NodeTable
        val cust = ParquetTables.read(s, s"$dir/customer.parquet")
        def half(pred: org.apache.spark.sql.Column) = {
          val df = cust.where(pred)
            .withColumn("_gid", TpchGraph.tagged(TpchGraph.CUSTOMER,
              col("c_custkey")))
          new PropertyGraph(Seq(NodeTable(Set("Customer"), df, "_gid",
            cust.columns.map(c => c -> c).toMap)), Seq.empty, s)
        }
        half(col("c_acctbal") >= 0.0).unionAll(half(col("c_acctbal") < 0.0))
      }
      gs.cypher(g,
        """MATCH (c:Customer)
          |RETURN c.c_mktsegment AS seg, count(*) AS n,
          |       min(c.c_custkey) AS lo, max(c.c_custkey) AS hi
          |ORDER BY seg""".stripMargin)
    }),
    // catalog view applied in FROM GRAPH (§2.6 catalog DDL + views,
    // reference RelationalCypherSession catalog + parameterized views):
    // the view CONSTRUCTs the high-balance subgraph, the outer query
    // aggregates over it
    "c36_catalog_view" -> ((s, dir) => {
      val gs = session(s)
      val g = TpchGraph.load(s, dir)
      gs.register("tpch_v", g)
      if (!gs.viewNames.contains("rich")) gs.cypher(
        """CATALOG CREATE VIEW rich($g) {
          |  FROM $g
          |  MATCH (c:Customer)-[r:IN_NATION]->(n:Nation)
          |  WHERE c.c_acctbal > 7500.0
          |  CONSTRUCT CLONE c, n, r
          |  RETURN GRAPH
          |}""".stripMargin)
      gs.cypher(
        """FROM GRAPH rich(tpch_v)
          |MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
          |RETURN n.n_name AS nn, count(*) AS n_rich,
          |       max(c.c_acctbal) AS top_bal
          |ORDER BY nn""".stripMargin)
    }),
    // scan consolidation (§2.2 PatternScan over recognized patterns;
    // reference LogicalOptimizer.scala:67-134): the same expand answered
    // from a materialized triplet table — one probe, no rel+node joins
    "c26_triplet" -> ((s, dir) => {
      val gs = session(s, auto = false)
      val g = derive(s, dir, "triplet")(
        _.withTriplet("PLACED", Set("Customer"), Set("Order")))
      gs.cypher(g,
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
          |WHERE o.o_totalprice > 100000.0
          |RETURN c.c_mktsegment AS seg, count(*) AS n,
          |       max(o.o_totalprice) AS hi
          |ORDER BY seg""".stripMargin)
    }),
    // scan consolidation over a 2-element NodeRel pattern table
    // (reference: NodeRelPattern, Pattern.scala:159-176): the pattern
    // start binds Customer + PLACED from ONE materialized scan, saving the
    // src-node join; the Order side joins normally
    "c29_noderel" -> ((s, dir) => {
      val gs = session(s, auto = false)
      val g = derive(s, dir, "noderel")(
        _.withNodeRel("IN_NATION", Set("Customer"), nodeOnSrc = true))
      gs.cypher(g,
        """MATCH (c:Customer)-[:IN_NATION]->(n:Nation)
          |WHERE c.c_acctbal > 5000.0
          |RETURN n.n_name AS nn, count(*) AS n, max(c.c_acctbal) AS hi
          |ORDER BY nn""".stripMargin)
    }),
    // named paths (extension; reference blacklists paths in its TCK run):
    // length/nodes/relationships over a var-length traversal — all pure
    // column combinations over ids the pattern already carries
    "c27_named_path" -> ((s, dir) => run(s, dir,
      """MATCH p = (c:Customer)-[:IN_NATION|IN_REGION*1..2]->(x)
        |RETURN c.c_custkey AS ck, length(p) AS len, size(nodes(p)) AS nn,
        |       size(relationships(p)) AS nr,
        |       coalesce(x.n_name, x.r_name) AS xname
        |ORDER BY ck, xname""".stripMargin)),
    // shortestPath (extension): endpoint-pair window + min-length filter.
    // The TPC-H FK graph is layered, so every reachable pair here has a
    // unique path — this gates the full plumbing (expand → window →
    // filter → path length) end to end; ShortestPathSpec's diamond
    // fixtures cover the non-vacuous min/tie semantics.
    "c28_shortest" -> ((s, dir) => run(s, dir,
      """MATCH p = shortestPath((c:Customer)-[:IN_NATION|IN_REGION*1..2]->(x))
        |RETURN c.c_custkey AS ck, length(p) AS len,
        |       coalesce(x.n_name, x.r_name) AS xname
        |ORDER BY ck, xname""".stripMargin)),
    // COPY OF (§2.5, round 7): per-row fresh-id copies re-attached by a
    // NEW rel carrying a computed property, queried back over the
    // constructed graph — the reference's yelp Part4 projection shape
    "c38_copy_of" -> ((s, dir) => run(s, dir,
      """MATCH (n:Nation)-[:IN_REGION]->(r:Region)
        |WITH n, r, n.n_nationkey * 10 AS score
        |CONSTRUCT CREATE (cn COPY OF n)-[:IN_COPY {s: score}]->(cr COPY OF r)
        |MATCH (n2:Nation)-[e:IN_COPY]->(r2:Region)
        |RETURN n2.n_name AS nn, r2.r_name AS rn, e.s AS s
        |ORDER BY nn""".stripMargin)),
    // CONSTRUCT (§2.5): derived graph queried back through the engine
    "c21_construct" -> ((s, dir) => {
      val gs = session(s, auto = false)
      val g = TpchGraph.load(s, dir)
      val derived = gs.cypherGraph(g,
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
          |CONSTRUCT NEW (c)-[:HAS_ORDER {price: o.o_totalprice}]->(o)
          |RETURN GRAPH""".stripMargin)
      gs.cypher(derived,
        """MATCH (c:Customer)-[h:HAS_ORDER]->(:Order)
          |RETURN c.c_custkey AS ck, count(*) AS n, min(h.price) AS lo
          |ORDER BY ck""".stripMargin)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "c1_node_scan" ->
      """SELECT c_custkey AS ck, c_name AS name, c_acctbal AS bal
        |FROM customer WHERE c_acctbal > 5000.0 ORDER BY ck""".stripMargin,
    "c2_expand" ->
      """SELECT c_custkey AS ck, o_orderkey AS ok
        |FROM customer JOIN orders ON o_custkey = c_custkey ORDER BY ok""".stripMargin,
    "c3_expand2" ->
      """SELECT l_orderkey AS ok, l_partkey AS pk, l_quantity AS qty,
        |       CAST(l_linenumber AS BIGINT) AS ln
        |FROM lineitem WHERE l_quantity > 47.0 ORDER BY ok, ln""".stripMargin,
    "c4_agg" ->
      """SELECT o_custkey AS ck, count(*) AS n,
        |       min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY o_custkey ORDER BY ck""".stripMargin,
    "c5_global_agg" ->
      """SELECT count(*) AS n, count(DISTINCT l_partkey) AS parts,
        |       sum(l_quantity) AS qty, avg(l_quantity) AS avg_qty
        |FROM lineitem""".stripMargin,
    "c6_optional" ->
      """SELECT c_custkey AS ck, count(o_orderkey) AS n
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY ck""".stripMargin,
    "c7_exists" ->
      """SELECT c_custkey AS ck FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY ck""".stripMargin,
    "c8_not_exists" ->
      """SELECT o_orderkey AS ok FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity = 50.0)
        |ORDER BY ok""".stripMargin,
    "c9_distinct" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY seg",
    "c10_order_skip_limit" ->
      """SELECT o_orderkey AS ok, o_totalprice AS price FROM orders
        |ORDER BY price DESC, ok ASC LIMIT 25 OFFSET 10""".stripMargin,
    "c11_union" ->
      """SELECT name FROM (
        |  SELECT n_name AS name FROM nation
        |  UNION ALL SELECT r_name AS name FROM region
        |) ORDER BY name""".stripMargin,
    "c12_unwind" ->
      """SELECT CAST(x AS BIGINT) AS x, CAST(x * x AS BIGINT) AS sq
        |FROM (SELECT UNNEST([1, 2, 3, 5, 8]) AS x) ORDER BY x""".stripMargin,
    "c37_deep_varlength" ->
      """WITH RECURSIVE edges AS (
        |  SELECT 'C' || o_custkey AS s, 'O' || o_orderkey AS d FROM orders
        |  UNION ALL
        |  SELECT 'O' || l_orderkey, 'P' || l_partkey FROM lineitem
        |  UNION ALL
        |  SELECT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
        |  UNION ALL
        |  SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
        |  UNION ALL
        |  SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
        |  UNION ALL
        |  SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        |), walk AS (
        |  SELECT 'C' || c_custkey AS node, 0 AS depth FROM customer
        |  WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT e.d, w.depth + 1 FROM walk w JOIN edges e ON e.s = w.node
        |  WHERE w.depth < 35
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n
        |FROM walk WHERE depth >= 1 GROUP BY depth ORDER BY depth""".stripMargin,
    "c39_with_cut" ->
      """SELECT ck, count(*) AS n, min(ok0) AS ok FROM (
        |  SELECT c_custkey AS ck, c_acctbal AS bal, o_orderkey AS ok0
        |  FROM customer JOIN orders ON o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
        |) WHERE bal > 0 GROUP BY ck ORDER BY ck""".stripMargin,
    "c41_point" ->
      """WITH t AS (
        |  SELECT p_partkey AS pk, p_retailprice AS x,
        |         CAST(p_size AS DOUBLE) AS y,
        |         CAST(p_size AS DOUBLE) - 25.0 AS lata,
        |         CAST(p_partkey % 360 AS DOUBLE) - 180.0 AS lona
        |  FROM part)
        |SELECT pk,
        |  sqrt((x - 0.0)*(x - 0.0) + (y - 0.0)*(y - 0.0)) AS dc,
        |  round(asin(sqrt(
        |      sin(radians(0.0 - lata)/2) * sin(radians(0.0 - lata)/2)
        |      + cos(radians(lata)) * cos(radians(0.0))
        |        * sin(radians(0.0 - lona)/2) * sin(radians(0.0 - lona)/2)
        |    )) * 12756280.0 * 10000.0) / 10000.0 AS dg,
        |  CAST(4326 AS BIGINT) AS srid
        |FROM t ORDER BY pk""".stripMargin,
    "c42_distance_join" ->
      """SELECT s.s_suppkey AS sk, c.c_custkey AS ck
        |FROM supplier s, customer c
        |WHERE sqrt(
        |    (s.s_acctbal - c.c_acctbal) * (s.s_acctbal - c.c_acctbal)
        |  + (CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE))
        |    * (CAST(s.s_nationkey AS DOUBLE) - CAST(c.c_nationkey AS DOUBLE))
        |  ) < 10.0
        |ORDER BY sk, ck""".stripMargin,
    "c40_temporal_cast" ->
      """SELECT o_orderkey AS ok,
        |  CAST(epoch(CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP))
        |    AS BIGINT) AS es,
        |  CAST(epoch(CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)) - 7200
        |    AS BIGINT) AS zes,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        |  CAST(CASE WHEN o_orderkey % 2 = 0
        |    THEN epoch(CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)
        |         + INTERVAL 1 MONTH)
        |    ELSE epoch(CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)
        |         + INTERVAL 12 HOUR) END AS BIGINT) AS es2
        |FROM orders ORDER BY ok""".stripMargin,
    "c13_varlength" ->
      """SELECT ck, xname FROM (
        |  SELECT c_custkey AS ck, n_name AS xname
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT c_custkey AS ck, r_name AS xname
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |) ORDER BY ck, xname""".stripMargin,
    "c14_expressions" ->
      """SELECT p_partkey AS pk, upper(substring(p_name, 1, 5)) AS pfx,
        |       CASE WHEN p_size < 25 THEN 'small' ELSE 'big' END AS bucket,
        |       p_retailprice * 2.0 + 1.0 AS calc
        |FROM part ORDER BY pk""".stripMargin,
    "c15_with_having" ->
      """SELECT o_custkey AS ck, count(*) AS n FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 12
        |ORDER BY n DESC, ck""".stripMargin,
    "c16_undirected" ->
      """SELECT n_name AS nn, r_name AS xn
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nn, xn""".stripMargin,
    "c17_expand_into" ->
      """SELECT n_name AS nn, count(*) AS pairs
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nn""".stripMargin,
    "c18_cartesian" ->
      """SELECT r_name AS rn, n_name AS nn
        |FROM region CROSS JOIN nation ORDER BY rn, nn""".stripMargin,
    "c19_listops" ->
      """SELECT len(xs)::BIGINT AS n,
        |  list_sum(xs)::BIGINT AS total,
        |  len(list_filter(xs, x -> x % 2 = 0))::BIGINT AS evens,
        |  (CASE WHEN len(list_filter(xs, x -> x > 0)) = len(xs)
        |        THEN 1 ELSE 0 END)::BIGINT AS allpos,
        |  (CASE WHEN len(list_filter(xs, x -> x > 4)) > 0
        |        THEN 1 ELSE 0 END)::BIGINT AS hasbig
        |FROM (SELECT unnest([[1, 2, 3], [4, 5], [6]]) AS xs) ORDER BY n""".stripMargin,
    "c20_percentile" ->
      """SELECT l_returnflag AS rf,
        |  quantile_cont(l_quantity, 0.5) AS med,
        |  quantile_disc(l_quantity, 0.9) AS p90,
        |  round(stddev_samp(l_quantity) * 1000.0) / 1000.0 AS sd,
        |  CAST(sum(DISTINCT l_quantity) AS DOUBLE) AS dq
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin,
    "c21_construct" ->
      """SELECT o_custkey AS ck, count(*) AS n, min(o_totalprice) AS lo
        |FROM orders GROUP BY o_custkey ORDER BY ck""".stripMargin,
    "c38_copy_of" ->
      """SELECT n_name AS nn, r_name AS rn,
        |       (n_nationkey * 10)::BIGINT AS s
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nn""".stripMargin,
    "c26_triplet" ->
      """SELECT c_mktsegment AS seg, count(*) AS n, max(o_totalprice) AS hi
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE o_totalprice > 100000.0
        |GROUP BY 1 ORDER BY seg""".stripMargin,
    "c29_noderel" ->
      """SELECT n_name AS nn, count(*) AS n, max(c_acctbal) AS hi
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 5000.0
        |GROUP BY 1 ORDER BY nn""".stripMargin,
    "c23_pattern_comprehension" ->
      """SELECT n_name AS nn,
        |  (SELECT count(*) FROM customer
        |   WHERE c_nationkey = n_nationkey)::BIGINT AS n_cust
        |FROM nation ORDER BY nn""".stripMargin,
    "c25_temporal2" ->
      """SELECT year(l_shipdate)::BIGINT AS y, quarter(l_shipdate)::BIGINT AS q,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |                    + INTERVAL 7 MONTH + INTERVAL 10 DAY
        |GROUP BY 1, 2 ORDER BY y, q""".stripMargin,
    "c33_typed_ddl" ->
      """SELECT n_name AS nn, count(*) AS cnt, min(c_name) AS first_c
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nn""".stripMargin,
    "c34_driving_table" ->
      """SELECT n_name AS nname, count(*) AS n_cust, min(c_acctbal) AS lo
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY nname""".stripMargin,
    "c35_graph_union" ->
      """SELECT c_mktsegment AS seg, count(*) AS n,
        |  min(c_custkey) AS lo, max(c_custkey) AS hi
        |FROM customer GROUP BY 1 ORDER BY seg""".stripMargin,
    "c36_catalog_view" ->
      """SELECT n_name AS nn, count(*) AS n_rich, max(c_acctbal) AS top_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 7500.0
        |GROUP BY 1 ORDER BY nn""".stripMargin,
    "c32_duration_parts" ->
      """SELECT o_orderkey AS ok,
        |  (extract(year FROM age(o_orderdate, TIMESTAMP '1995-01-01'))*12 +
        |   extract(month FROM age(o_orderdate, TIMESTAMP '1995-01-01')))::BIGINT AS m,
        |  extract(day FROM age(o_orderdate, TIMESTAMP '1995-01-01'))::BIGINT AS dd,
        |  (extract(day FROM age(o_orderdate, TIMESTAMP '1995-01-01')) // 7)::BIGINT AS w,
        |  extract(month FROM age(o_orderdate, TIMESTAMP '1995-01-01'))::BIGINT AS my
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |ORDER BY ok""".stripMargin,
    "c24_varlength_props" ->
      """SELECT ok, xname FROM (
        |  SELECT l_orderkey AS ok, p_name AS xname
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity = 50.0
        |  UNION ALL
        |  SELECT l1.l_orderkey AS ok, s_name AS xname
        |  FROM lineitem l1
        |  JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
        |  JOIN supplier ON l2.l_suppkey = s_suppkey
        |  WHERE l1.l_quantity = 50.0 AND l2.l_quantity = 50.0
        |) ORDER BY ok, xname""".stripMargin,
    "c30_varlength_quantifier" ->
      """SELECT ok, xname FROM (
        |  SELECT l_orderkey AS ok, p_name AS xname
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity >= 49.0
        |  UNION ALL
        |  SELECT l1.l_orderkey AS ok, s_name AS xname
        |  FROM lineitem l1
        |  JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
        |  JOIN supplier ON l2.l_suppkey = s_suppkey
        |  WHERE l1.l_quantity >= 49.0 OR l2.l_quantity >= 49.0
        |) ORDER BY ok, xname""".stripMargin,
    "c22_temporal" ->
      """SELECT year(l_shipdate)::BIGINT AS y, month(l_shipdate)::BIGINT AS m,
        |       count(*) AS n
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "c27_named_path" ->
      """SELECT ck, len, nn, nr, xname FROM (
        |  SELECT c_custkey AS ck, CAST(1 AS BIGINT) AS len,
        |         CAST(2 AS BIGINT) AS nn, CAST(1 AS BIGINT) AS nr,
        |         n_name AS xname
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT c_custkey, 2, 3, 2, r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |) ORDER BY ck, xname""".stripMargin,
    "c31_path_node_values" ->
      """SELECT ck, len, names FROM (
        |  SELECT c_custkey AS ck, CAST(1 AS BIGINT) AS len,
        |         '|' || c_name || '|' || n_name AS names
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT c_custkey, 2, '|' || c_name || '|' || n_name || '|' || r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |) ORDER BY ck, len""".stripMargin,
    "c28_shortest" ->
      """SELECT ck, len, xname FROM (
        |  SELECT c_custkey AS ck, CAST(1 AS BIGINT) AS len, n_name AS xname
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  UNION ALL
        |  SELECT c_custkey, 2, r_name
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |                JOIN region ON n_regionkey = r_regionkey
        |) ORDER BY ck, xname""".stripMargin
  )
}
