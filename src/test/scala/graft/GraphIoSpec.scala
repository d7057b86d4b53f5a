package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftSession
import graft.graph.{NodeTable, PropertyGraph, RelTable}
import graft.sources.{EdgeListSource, FsGraphSource}

/** CONSTRUCT / multiple-graph + graph I/O coverage (SURVEY §2.5, §2.6). */
class GraphIoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var gs: GraftSession = _
  private var g: PropertyGraph = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-graphio-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    gs = GraftSession(spark)
    g = teamGraph()
    gs.register("team", g)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** tiny social graph (shape of the reference's TeamDataFixture). */
  private def teamGraph(): PropertyGraph = {
    val s = spark
    import s.implicits._
    val people = Seq(
      (1L, "Alice", 23L), (2L, "Bob", 42L), (3L, "Carol", 31L))
      .toDF("id", "name", "age")
    val cities = Seq((10L, "Berlin"), (11L, "Aachen")).toDF("id", "city")
    val knows = Seq((100L, 1L, 2L, 2016L), (101L, 2L, 3L, 2017L))
      .toDF("rid", "src", "dst", "since")
    val livesIn = Seq((200L, 1L, 10L), (201L, 2L, 10L), (202L, 3L, 11L))
      .toDF("rid", "src", "dst")
    new PropertyGraph(
      Seq(NodeTable(Set("Person"), people, "id",
        Map("name" -> "name", "age" -> "age")),
        NodeTable(Set("City"), cities, "id", Map("city" -> "city"))),
      Seq(RelTable("KNOWS", knows, "rid", "src", "dst", Map("since" -> "since")),
        RelTable("LIVES_IN", livesIn, "rid", "src", "dst", Map.empty)),
      spark)
  }

  test("CONSTRUCT NEW from matched bindings creates per-row elements") {
    val friendsGraph = gs.cypherGraph(g,
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |CONSTRUCT NEW (a)-[:FRIEND {since: k.since}]->(b)
        |RETURN GRAPH""".stripMargin)
    gs.register("friends", friendsGraph)

    val rows = gs.cypher(friendsGraph,
      """MATCH (x:Person)-[f:FRIEND]->(y:Person)
        |RETURN x.name AS xn, y.name AS yn, f.since AS since
        |ORDER BY since""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("Alice", "Bob", 2016L), ("Bob", "Carol", 2017L)))
  }

  test("CONSTRUCT CLONE carries entities; fresh nodes are one-per-row") {
    val g2 = gs.cypherGraph(g,
      """MATCH (p:Person)
        |CONSTRUCT CLONE p
        |NEW (p)-[:HAS]->(:Badge {kind: 'member'})
        |RETURN GRAPH""".stripMargin)
    val n = gs.cypher(g2,
      "MATCH (:Person)-[:HAS]->(b:Badge) RETURN b.kind AS k").collect()
    assert(n.length === 3 && n.forall(_.getString(0) == "member"))
  }

  test("CONSTRUCT SET adds properties to cloned and new elements") {
    val g2 = gs.cypherGraph(g,
      """MATCH (p:Person)
        |CONSTRUCT CLONE p
        |NEW (p)-[:HAS]->(b:Badge {kind: 'basic'})
        |SET p.greeting = 'hi ' + p.name, b.level = p.age / 10
        |RETURN GRAPH""".stripMargin)
    val rows = gs.cypher(g2,
      """MATCH (p:Person)-[:HAS]->(b:Badge)
        |RETURN p.greeting AS gr, b.kind AS k, b.level AS lv
        |ORDER BY gr""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("hi Alice", "basic", 2L), ("hi Bob", "basic", 4L),
        ("hi Carol", "basic", 3L)))
  }

  test("CONSTRUCT property maps evaluate pattern comprehensions") {
    val derived = gs.cypherGraph(g,
      """MATCH (p:Person)
        |CONSTRUCT NEW (s:Summary {name: p.name,
        |                          degree: size((p)-[:KNOWS]->())})
        |RETURN GRAPH""".stripMargin)
    val rows = gs.cypher(derived,
      "MATCH (s:Summary) RETURN s.name AS n, s.degree AS d ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("Alice", 1L), ("Bob", 1L), ("Carol", 0L)))
  }

  test("CONSTRUCT SET values evaluate pattern comprehensions") {
    val derived = gs.cypherGraph(g,
      """MATCH (p:Person)
        |CONSTRUCT CLONE p
        |SET p.friends = size((p)-[:KNOWS]->(:Person))
        |RETURN GRAPH""".stripMargin)
    val rows = gs.cypher(derived,
      "MATCH (p:Person) RETURN p.name AS n, p.friends AS f ORDER BY n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows === Seq(("Alice", 1L), ("Bob", 1L), ("Carol", 0L)))
  }

  test("CONSTRUCT ON unions catalog graphs into the result") {
    val merged = gs.cypherGraph(g,
      """CONSTRUCT ON team
        |RETURN GRAPH""".stripMargin)
    val names = gs.cypher(merged,
      "MATCH (p:Person) RETURN p.name AS n ORDER BY n").collect().map(_.getString(0))
    assert(names.toSeq === Seq("Alice", "Bob", "Carol"))
  }

  test("FROM GRAPH switches the working graph mid-query") {
    val extra = gs.cypherGraph(g,
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |CONSTRUCT NEW (a)-[:FRIEND]->(b) RETURN GRAPH""".stripMargin)
    gs.register("extra", extra)
    val rows = gs.cypher(g,
      """FROM GRAPH extra
        |MATCH (x:Person)-[:FRIEND]->(y:Person)
        |RETURN x.name AS xn ORDER BY xn""".stripMargin).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("Alice", "Bob"))
  }

  // reference CatalogDDLTests "supports simple nested CATALOG CREATE
  // VIEW in a query": view invocations compose as arguments, and a graph
  // and a view with the same name coexist (each resolves by usage form)
  test("nested view invocation and graph/view name coexistence") {
    gs.register("nv_a", gs.createGraphFromCypher("CREATE (:A {val: 0})"))
    gs.cypherStatement(
      """CATALOG CREATE VIEW nv_inc($g1) {
        | FROM GRAPH $g1
        | MATCH (x:A)
        | CONSTRUCT NEW (:A {val: x.val + 1})
        | RETURN GRAPH
        |}""".stripMargin, Map.empty)
    val v = gs.cypherStatement(
      "FROM GRAPH nv_inc(nv_inc(nv_inc(nv_inc(nv_a)))) MATCH (n) RETURN n.val AS v",
      Map.empty).collect().map(_.getLong(0)).toSeq
    assert(v === Seq(4L))
    gs.register("nv_inc", gs.createGraphFromCypher("CREATE (:B {z: 7})"))
    assert(gs.cypherStatement("FROM GRAPH nv_inc MATCH (n:B) RETURN n.z AS z",
      Map.empty).collect().head.getLong(0) === 7L)
    assert(gs.cypherStatement(
      "FROM GRAPH nv_inc(nv_a) MATCH (n:A) RETURN n.val AS v",
      Map.empty).collect().head.getLong(0) === 1L)
  }

  // reference MultipleGraphTests "matches from different graphs":
  // bindings persist across a FROM GRAPH switch, so patterns matched in
  // different graphs combine in one result row
  test("matches from different graphs combine in one row") {
    gs.register("mg1", gs.createGraphFromCypher("CREATE (:A {v: 1}), (:A {v: 2})"))
    gs.register("mg2", gs.createGraphFromCypher("CREATE (:B {w: 10})"))
    val rows = gs.cypherStatement(
      """FROM GRAPH mg1 MATCH (a:A)
        |FROM GRAPH mg2 MATCH (b:B)
        |RETURN a.v AS v, b.w AS w ORDER BY v""".stripMargin, Map.empty)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((1L, 10L), (2L, 10L)))
    // and a CONSTRUCT over the combined rows feeds a records RETURN
    val s = gs.cypherStatement(
      """FROM GRAPH mg1 MATCH (a:A)
        |FROM GRAPH mg2 MATCH (b:B)
        |CONSTRUCT NEW (:C {s: a.v + b.w})
        |MATCH (c:C) RETURN c.s AS s ORDER BY s""".stripMargin, Map.empty)
      .collect().map(_.getLong(0)).toSeq
    assert(s === Seq(11L, 12L))
  }

  test("fs round-trip: parquet/csv/orc/json/avro preserve graph semantics") {
    for (fmt <- Seq("parquet", "csv", "orc", "json", "avro")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_fs_$fmt").toString + "/g"
      FsGraphSource.save(g, dir, fmt)
      val loaded = FsGraphSource.load(spark, dir)
      val rows = gs.cypher(loaded,
        """MATCH (a:Person)-[k:KNOWS]->(b:Person) WHERE a.age > 40
          |RETURN a.name AS an, b.name AS bn, k.since AS since""".stripMargin)
        .collect()
      assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
        Seq(("Bob", "Carol", 2017L)), s"format $fmt")
    }
  }

  test("fs round-trip: decimal and interval edge types keep exact schemas") {
    import org.apache.spark.sql.types._
    val s = spark
    // decimals with non-default precision/scale; every interval flavor
    // (no file format stores CalendarIntervalType natively; csv/json/avro
    // reject dt/ym intervals — the sidecar codec carries them)
    val edgy = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST(12345.678 AS DECIMAL(12,3)),
        |   make_interval(0, 14, 0, 3, 0, 0, 93784.5),
        |   make_dt_interval(1, 2, 3, 4.5),
        |   make_ym_interval(2, 3),
        |   TIMESTAMP_NTZ'2024-06-01 12:30:00'),
        |  (2L, CAST(-0.001 AS DECIMAL(12,3)),
        |   make_interval(0, 0, 0, 0, 26, 0, 0),
        |   make_dt_interval(0, 26, 0, 0),
        |   make_ym_interval(0, 1),
        |   TIMESTAMP_NTZ'2020-01-01 00:00:00')
        |AS t(id, dec, cal, dt, ym, ts)""".stripMargin)
    val g2 = new PropertyGraph(
      Seq(NodeTable(Set("Edgy"), edgy, "id",
        Map("dec" -> "dec", "cal" -> "cal", "dt" -> "dt", "ym" -> "ym",
          "ts" -> "ts"))),
      Seq.empty, spark)
    val want = edgy.schema
    for (fmt <- Seq("parquet", "orc", "csv", "json", "avro")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_edgy_$fmt").toString + "/g"
      FsGraphSource.save(g2, dir, fmt)
      val loaded = FsGraphSource.load(spark, dir)
      val got = loaded.nodeTables.head.df.select("id", "dec", "cal", "dt",
        "ym", "ts")
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.map(f => (f.name, f.dataType)), s"schema drift in $fmt")
      // values byte-exact: compare rendered rows (CalendarInterval has no
      // ordering — render to strings)
      val norm = got.selectExpr("id", "cast(dec as string)",
        "cast(cal as string)", "cast(dt as string)", "cast(ym as string)",
        "cast(ts as string)").collect().map(_.toSeq).sortBy(_.head.toString)
      val exp = edgy.selectExpr("id", "cast(dec as string)",
        "cast(cal as string)", "cast(dt as string)", "cast(ym as string)",
        "cast(ts as string)").collect().map(_.toSeq).sortBy(_.head.toString)
      assert(norm === exp, s"value drift in $fmt")
    }
  }

  test("incremental merge: updates win by id, untouched elements persist") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_merge").toString + "/g"
    FsGraphSource.save(g, dir)

    // Bob renamed + score added; Dave new; one new KNOWS edge; a whole
    // new label table (Robot)
    val updates = new PropertyGraph(
      Seq(
        NodeTable(Set("Person"),
          Seq((2L, "Bobby", 43L, 9.5), (4L, "Dave", 51L, 1.0))
            .toDF("id", "name", "age", "score"),
          "id", Map("name" -> "name", "age" -> "age", "score" -> "score")),
        NodeTable(Set("Robot"), Seq((20L, "R2")).toDF("id", "name"),
          "id", Map("name" -> "name"))),
      Seq(RelTable("KNOWS",
        Seq((102L, 3L, 4L, 2026L)).toDF("rid", "src", "dst", "since"),
        "rid", "src", "dst", Map("since" -> "since"))),
      spark)

    val merged = FsGraphSource.mergeInto(spark, dir, updates)

    val people = gs.cypher(merged,
      """MATCH (p:Person) RETURN p.name AS name, p.age AS age,
        |p.score AS score ORDER BY name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2)))
    assert(people.toSeq === Seq(
      ("Alice", 23L, null), ("Bobby", 43L, 9.5),
      ("Carol", 31L, null), ("Dave", 51L, 1.0)))

    val knows = gs.cypher(merged,
      "MATCH ()-[k:KNOWS]->() RETURN k.since AS y ORDER BY y").collect()
      .map(_.getLong(0))
    assert(knows.toSeq === Seq(2016L, 2017L, 2026L))

    // untouched tables persisted; the new label table is present
    assert(gs.cypher(merged, "MATCH (c:City) RETURN count(*) AS n")
      .head.getLong(0) == 2L)
    assert(gs.cypher(merged, "MATCH (r:Robot) RETURN r.name AS n")
      .head.getString(0) == "R2")
    assert(gs.cypher(merged, "MATCH ()-[:LIVES_IN]->() RETURN count(*) AS n")
      .head.getLong(0) == 3L)
  }

  test("CONSTRUCT from var-length match endpoints (reachability graph)") {
    // KNOWS: 1→2→3; *1..2 reaches (1,2), (2,3), (1,3); hops = path length
    val reach = gs.cypherGraph(g,
      """MATCH p = (a:Person)-[:KNOWS*1..2]->(b:Person)
        |CONSTRUCT NEW (a)-[:REACH {hops: length(p)}]->(b)
        |RETURN GRAPH""".stripMargin)
    val rows = gs.cypher(reach,
      """MATCH (x:Person)-[r:REACH]->(y:Person)
        |RETURN x.name AS xn, y.name AS yn, r.hops AS hops
        |ORDER BY hops, xn""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq(("Alice", "Bob", 1L), ("Bob", "Carol", 1L), ("Alice", "Carol", 2L)))
  }

  test("CATALOG CREATE GRAPH / DROP GRAPH statement forms") {
    gs.cypher(
      """CATALOG CREATE GRAPH sn {
        |  CONSTRUCT
        |    CREATE (a:Person {age: 18})
        |    CREATE (b:Person {age: 25})
        |    CREATE (a)-[:KNOWS]->(b)
        |  RETURN GRAPH
        |}""".stripMargin)
    assert(gs.graphNames.contains("sn"))
    val rows = gs.cypher(
      """FROM GRAPH sn
        |MATCH (p:Person)-[:KNOWS]->(q:Person)
        |RETURN p.age AS pa, q.age AS qa""".stripMargin).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((18L, 25L)))

    gs.cypher("CATALOG DROP GRAPH sn")
    assert(!gs.graphNames.contains("sn"))
  }

  test("leading FROM GRAPH reaches every UNION branch") {
    // round-7 differential catalog mode: a union branch without its own
    // FROM used to run against the empty ambient graph — silent 0 rows
    gs.register("fgu", graft.sources.CypherCreateGraph(gs.spark,
      "CREATE (:A {k: 1})\nCREATE (:B {k: 2})"))
    val rows = gs.cypher(
      """FROM GRAPH fgu MATCH (n:A) RETURN n.k AS k
        |UNION ALL MATCH (n:B) RETURN n.k AS k""".stripMargin)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows === Seq(1L, 2L), s"union branch lost the FROM graph: $rows")
  }

  test("RETURN GRAPH without CONSTRUCT returns the working graph (identity view)") {
    gs.register("idg", graft.sources.CypherCreateGraph(gs.spark,
      "CREATE (:A {k: 7})"))
    gs.cypher("CATALOG CREATE VIEW idv($g) { FROM $g RETURN GRAPH }")
    val rows = gs.cypher("FROM GRAPH idv(idg) MATCH (n:A) RETURN n.k AS k")
      .collect().map(_.getLong(0)).toSeq
    assert(rows === Seq(7L))
    gs.cypher("CATALOG DROP VIEW idv")
  }

  test("CATALOG CREATE VIEW: graph-valued function applied in FROM GRAPH") {
    gs.cypher(
      """CATALOG CREATE VIEW adults($g) {
        |  FROM $g
        |  MATCH (p1:Person)-[r:KNOWS]->(p2:Person)
        |  WHERE p1.age >= 30 AND p2.age >= 30
        |  CONSTRUCT CLONE p1, p2, r
        |  RETURN GRAPH
        |}""".stripMargin)
    assert(gs.viewNames.contains("adults"))
    // team: Alice(23)-KNOWS->Bob(42)-KNOWS->Carol(31) — only Bob->Carol kept
    val rows = gs.cypher(
      """FROM GRAPH adults(team)
        |MATCH (a:Person)-[:KNOWS]->(b:Person)
        |RETURN a.name AS an, b.name AS bn""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Bob", "Carol")))
    gs.cypher("CATALOG DROP VIEW adults")
    assert(!gs.viewNames.contains("adults"))
  }

  test("views take VALUE parameters: literals and outer $params thread into the body") {
    // extension over the reference grammar (graph params only there):
    // a positional argument that is a literal or a statement parameter
    // binds the view param as a VALUE readable anywhere in the body
    gs.cypher(
      """CATALOG CREATE VIEW olderThan($g, $minAge) {
        |  FROM $g
        |  MATCH (p1:Person)-[r:KNOWS]->(p2:Person)
        |  WHERE p1.age >= $minAge AND p2.age >= $minAge
        |  CONSTRUCT CLONE p1, p2, r
        |  RETURN GRAPH
        |}""".stripMargin)
    def names(q: String, params: Map[String, Any] = Map.empty) =
      gs.cypherStatement(q, params).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    // literal argument
    assert(names(
      """FROM GRAPH olderThan(team, 30)
        |MATCH (a:Person)-[:KNOWS]->(b:Person)
        |RETURN a.name AS an, b.name AS bn""".stripMargin) ===
      Seq(("Bob", "Carol")))
    // a lower literal keeps every edge
    assert(names(
      """FROM GRAPH olderThan(team, 20)
        |MATCH (a:Person)-[:KNOWS]->(b:Person)
        |RETURN a.name AS an, b.name AS bn""".stripMargin).sorted ===
      Seq(("Alice", "Bob"), ("Bob", "Carol")))
    // outer $param argument (graph-bind preferred, value fallback)
    assert(names(
      """FROM GRAPH olderThan(team, $cut)
        |MATCH (a:Person)-[:KNOWS]->(b:Person)
        |RETURN a.name AS an, b.name AS bn""".stripMargin,
      Map("cut" -> 30L)) === Seq(("Bob", "Carol")))
    // wrong arity still rejected
    intercept[Exception](gs.cypher(
      "FROM GRAPH olderThan(team) MATCH (a) RETURN a.name AS n").collect())
    gs.cypher("CATALOG DROP VIEW olderThan")
  }

  test("graph DDL maps tables/views to a property graph") {
    val s = spark
    import s.implicits._
    Seq((1L, "Ann", 30L), (2L, "Ben", 40L)).toDF("pid", "name", "age")
      .createOrReplaceTempView("ddl_people")
    Seq((7L, 1L, 2L, "golf")).toDF("fid", "a", "b", "topic")
      .createOrReplaceTempView("ddl_friends")
    val g2 = gs.createGraph(
      """CREATE GRAPH ddlG (
        |  NODE Person FROM ddl_people (pid AS id),
        |  REL FRIEND FROM ddl_friends (fid AS id, a AS source, b AS target)
        |)""".stripMargin)
    val rows = gs.cypher("ddlG",
      """MATCH (x:Person)-[f:FRIEND]->(y:Person)
        |RETURN x.name AS xn, y.name AS yn, f.topic AS t""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq === Seq(("Ann", "Ben", "golf")))
  }

  test("duration aggregation sums component-wise (calendar intervals)") {
    // since 2016 → 1d1h, 2017 → 2d1h; sum = 3 days + 2 hours with the
    // groups kept separate (durations are CalendarIntervalType; max()
    // rejects — durations are unorderable)
    val rows = gs.cypher(g,
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |WITH duration({days: k.since - 2015, hours: 1}) AS d
        |RETURN sum(d).days AS days, sum(d).hours AS hours""".stripMargin)
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getLong(0) === 3L)
    assert(rows(0).getLong(1) === 2L)
    intercept[Exception] {
      gs.cypher(g,
        """MATCH ()-[k:KNOWS]->()
          |WITH duration({days: 1}) AS d RETURN max(d) AS m""".stripMargin)
        .collect()
    }
  }

  test("catalog-table mirror round-trips the graph") {
    // unique prefix: saveAsTable can't reuse an orphaned warehouse dir
    val prefix = s"tmirror_${System.nanoTime()}"
    FsGraphSource.saveAsTables(g, prefix)
    val loaded = FsGraphSource.loadFromTables(spark, prefix)
    val rows = gs.cypher(loaded,
      """MATCH (p:Person)-[:LIVES_IN]->(c:City)
        |RETURN c.city AS city, count(*) AS n ORDER BY city""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("Aachen", 1L), ("Berlin", 2L)))
  }

  test("bucketed catalog tables answer expands with fewer exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // unique prefixes: managed-table locations survive in the warehouse
      // dir across JVMs even when the in-memory catalog starts empty
      val tag = java.lang.Long.toHexString(System.nanoTime())
      FsGraphSource.saveAsTables(g, s"pln_$tag")
      FsGraphSource.saveAsTables(g, s"bkt_$tag", buckets = 4)
      val q = """MATCH (a:Person)-[k:KNOWS]->(b:Person)
                |RETURN a.name AS an, b.name AS bn ORDER BY an""".stripMargin
      def exchanges(p: graft.graph.PropertyGraph): Int =
        "Exchange".r.findAllIn(
          gs.cypher(p, q).queryExecution.executedPlan.toString).size
      val plain = FsGraphSource.loadFromTables(spark, s"pln_$tag")
      val bucketed = FsGraphSource.loadFromTables(spark, s"bkt_$tag")
      assert(exchanges(bucketed) < exchanges(plain),
        "bucketed rel.src = node.id join should avoid a shuffle")
      assert(gs.cypher(bucketed, q).collect().map(_.toSeq).toSeq ===
        gs.cypher(plain, q).collect().map(_.toSeq).toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("JDBC tables (Derby) flow through Graph DDL views") {
    // reference SQL PGDS shape: spark.read.jdbc per mapped table
    // (api/io/sql/SqlPropertyGraphDataSource.scala) — here via temp views
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (pid BIGINT, name VARCHAR(32))")
      st.execute("INSERT INTO people VALUES (1, 'Ann'), (2, 'Ben')")
      st.execute(
        "CREATE TABLE likes (lid BIGINT, a BIGINT, b BIGINT)")
      st.execute("INSERT INTO likes VALUES (5, 1, 2)")
      st.close()
    } finally conn.close()

    spark.read.format("jdbc").option("url", url)
      .option("dbtable", "people").load().createOrReplaceTempView("jdbc_people")
    spark.read.format("jdbc").option("url", url)
      .option("dbtable", "likes").load().createOrReplaceTempView("jdbc_likes")

    gs.createGraph(
      """CREATE GRAPH jdbcG (
        |  NODE Person FROM jdbc_people (PID AS id),
        |  REL LIKES FROM jdbc_likes (LID AS id, A AS source, B AS target)
        |)""".stripMargin)
    val rows = gs.cypher("jdbcG",
      "MATCH (x:Person)-[:LIKES]->(y:Person) RETURN x.NAME AS xn, y.NAME AS yn")
      .collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("Ann", "Ben")))
  }

  test("as-of join: inclusive ties, backward pick, null when no match") {
    val s = spark
    import s.implicits._
    val quotes = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 5L, 50.0))
      .toDF("sym", "ts", "px")
    val trades = Seq((1L, 10L, 7L), (1L, 25L, 8L), (2L, 3L, 9L), (3L, 9L, 10L))
      .toDF("sym", "ts", "tid")
    val out = graft.operators.AsOfJoin
      .asofBackward(trades, quotes, "ts", Seq("sym"))
      .select("tid", "asof_px").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(out(7L) === Some(100.0)) // tie ts=10 is inclusive
    assert(out(8L) === Some(101.0)) // latest preceding
    assert(out(9L) === None)        // quote is later than trade
    assert(out(10L) === None)       // no quotes for sym 3
  }

  test("salted join spreads hot keys and preserves results") {
    val s = spark
    import s.implicits._
    val large = (1 to 1000).map(i => (if (i % 10 == 0) 7L else i.toLong, i))
      .toDF("k", "v")
    val small = Seq((7L, "hot"), (3L, "cold")).toDF("k", "name")
    val out = graft.operators.SkewJoin.saltedJoin(large, small, "k", salts = 8)
    val plain = large.join(small, "k")
    assert(out.count() === plain.count())
    assert(out.columns.count(_ == "k") === 1)
  }

  test("adaptive join routes the 90%-hot key through the salted path") {
    val s = spark
    import s.implicits._
    // 90% of rows share key 7; tail spreads over 900 keys
    val large = (1 to 10000).map(i =>
      (if (i % 10 != 0) 7L else (i % 900).toLong + 100L, i)).toDF("k", "v")
    val small = ((7L, "hot") +: (100L to 999L).map(k => (k, s"c$k")))
      .toDF("k", "name")
    val out = graft.operators.SkewJoin
      .adaptiveJoin(large, small, "k", salts = 8, sampleFraction = 0.2)
    val plain = large.join(small, "k")
    assert(out.count() === plain.count())
    // two-path shape: the salted hot path unions with the plain tail join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Union"), s"expected two-path union:\n$plan")
    assert("(?s)_salt".r.findFirstIn(plan).isDefined,
      s"hot path not salted:\n$plan")
  }

  test("adaptive join without skew degenerates to one plain join") {
    val s = spark
    import s.implicits._
    val large = (1 to 2000).map(i => (i.toLong % 500L, i)).toDF("k", "v")
    val small = (0L to 499L).map(k => (k, s"c$k")).toDF("k", "name")
    val out = graft.operators.SkewJoin
      .adaptiveJoin(large, small, "k", sampleFraction = 0.5)
    assert(out.count() === large.join(small, "k").count())
    assert(!out.queryExecution.executedPlan.toString.contains("_salt"))
  }

  test("bucketed as-of matches plain as-of for null equality keys") {
    val s = spark
    import s.implicits._
    val quotes = Seq((Option(1L), 10L, 100.0), (Option.empty[Long], 5L, 50.0),
      (Option.empty[Long], 20L, 60.0)).toDF("sym", "ts", "px")
    val trades = Seq((Option(1L), 15L, 7L), (Option.empty[Long], 25L, 8L),
      (Option.empty[Long], 3L, 9L)).toDF("sym", "ts", "tid")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("tid", "asof_px").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val plain = norm(graft.operators.AsOfJoin
      .asofBackward(trades, quotes, "ts", Seq("sym")))
    val bucketed = norm(graft.operators.AsOfJoin
      .asofBackwardBucketed(trades, quotes, "ts", Seq("sym"), buckets = 4))
    assert(bucketed === plain)
    assert(plain(8L) === Some(60.0)) // null keys match each other
  }

  test("bucketed as-of matches the plain as-of on a hot key") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    // one dominant key (0) + a few cold keys; duplicate-free timestamps
    val quotes = (1 to 300).map { i =>
      (if (i % 5 == 0) i.toLong % 3 + 1 else 0L, i.toLong * 7 % 1000, i * 1.0)
    }.distinct.toDF("sym", "ts", "px")
    val trades = (1 to 400).map { i =>
      (if (i % 7 == 0) i.toLong % 3 + 1 else 0L, rnd.nextInt(1100).toLong, i.toLong)
    }.toDF("sym", "ts", "tid")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("tid", "asof_px").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val plain = norm(graft.operators.AsOfJoin
      .asofBackward(trades, quotes, "ts", Seq("sym")))
    val bucketed = norm(graft.operators.AsOfJoin
      .asofBackwardBucketed(trades, quotes, "ts", Seq("sym"), buckets = 8))
    assert(bucketed === plain)
  }

  test("as-of auto-routes a 90%-one-key input to the bucketed plan") {
    val s = spark
    import s.implicits._
    // 90% of both sides share key 7 — the plain per-key window would
    // serialize that key through one task at scale
    val quotes = (1 to 500).map(i =>
      (if (i % 10 == 0) i.toLong % 5 + 100 else 7L, i.toLong * 3, i * 1.0))
      .toDF("sym", "ts", "px")
    val trades = (1 to 600).map(i =>
      (if (i % 10 == 0) i.toLong % 5 + 100 else 7L, i.toLong * 2 + 1, i.toLong))
      .toDF("sym", "ts", "tid")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("tid", "asof_px").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val routed = graft.operators.AsOfJoin.asofBackward(
      trades, quotes, "ts", Seq("sym"),
      skewSampleFraction = 0.5, skewShare = 0.5, minHotKeyRows = 100L)
    // the bucketed shape carries the cross-bucket summary join (_cb col)
    assert(routed.queryExecution.analyzed.toString.contains("_cb"),
      "expected the bucketed carry-join plan to engage on a hot key")
    val reference = norm(graft.operators.AsOfJoin.asofBackward(
      trades, quotes, "ts", Seq("sym"), skewSampleFraction = 0.0))
    assert(norm(routed) === reference)
    // balanced keys stay on the single-shuffle plain plan
    val balancedQ = (1 to 500).map(i => (i.toLong % 50, i.toLong * 3, i * 1.0))
      .toDF("sym", "ts", "px")
    val balancedT = (1 to 500).map(i => (i.toLong % 50, i.toLong * 2, i.toLong))
      .toDF("sym", "ts", "tid")
    val plainRoute = graft.operators.AsOfJoin.asofBackward(
      balancedT, balancedQ, "ts", Seq("sym"),
      skewSampleFraction = 0.5, skewShare = 0.5, minHotKeyRows = 100L)
    assert(!plainRoute.queryExecution.analyzed.toString.contains("_cb"))
  }

  test("multi-label nodes: subset scans and label predicates") {
    val s = spark
    import s.implicits._
    val admins = Seq((100L, "Root")).toDF("id", "name")
    val multi = new PropertyGraph(
      g.nodeTables :+ NodeTable(Set("Person", "Admin"), admins, "id",
        Map("name" -> "name")),
      g.relTables, spark)
    // :Person scan includes the Person+Admin table
    val all = gs.cypher(multi,
      "MATCH (p:Person) RETURN p.name AS n ORDER BY n").collect()
    assert(all.map(_.getString(0)).toSeq ===
      Seq("Alice", "Bob", "Carol", "Root"))
    // narrowing by second label via WHERE
    val onlyAdmins = gs.cypher(multi,
      "MATCH (p:Person) WHERE p:Admin RETURN p.name AS n, labels(p) AS ls")
      .collect()
    assert(onlyAdmins.length === 1)
    assert(onlyAdmins.head.getString(0) === "Root")
    assert(onlyAdmins.head.getSeq[String](1).toSet === Set("Admin", "Person"))
  }

  test("schema introspection and record-maps surface") {
    val d = g.describe().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d.contains(("node", "Person")) && d.contains(("relationship", "KNOWS")))

    val maps = gs.cypherMaps(g,
      "MATCH (p:Person) RETURN p.name AS name, p.age AS age").collect()
    assert(maps.map(_("name")).toSet === Set("Alice", "Bob", "Carol"))
    assert(maps.forall(_("age").isInstanceOf[Long]))
  }

  test("TpchGraph cache misses when a table file is rewritten in place") {
    import java.nio.file.{Files, Path}
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-tpch-key")
    val staging = Files.createTempDirectory("graft-tpch-staging")
    // TpchGraph reads each `<table>.parquet` as one file: write a table
    // as one partition and take its part file's bytes
    def parquetBytes(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
      val out = staging.resolve(java.util.UUID.randomUUID.toString)
      df.coalesce(1).write.parquet(out.toString)
      Files.readAllBytes(Files.list(out).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get)
    }
    def regionTable(n: Long) = (0L until n).toDF("r_regionkey")
    val tables = Map(
      "customer" -> Seq((1L, 0L)).toDF("c_custkey", "c_nationkey"),
      "orders" -> Seq((1L, 1L)).toDF("o_orderkey", "o_custkey"),
      "lineitem" -> Seq((1L, 1, 1L, 1L, 1.0, 1.0, 0.0, 0.0, "N", "O",
        "1995-01-01")).toDF("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
      "part" -> Seq(1L).toDF("p_partkey"),
      "supplier" -> Seq((1L, 0L)).toDF("s_suppkey", "s_nationkey"),
      "nation" -> Seq((0L, 0L)).toDF("n_nationkey", "n_regionkey"),
      "region" -> regionTable(5))
    try {
      tables.foreach { case (t, df) =>
        Files.write(dir.resolve(s"$t.parquet"), parquetBytes(df)) }
      val g1 = graft.sources.TpchGraph.load(spark, dir.toString)
      assert(graft.sources.TpchGraph.load(spark, dir.toString) eq g1)
      def regions(g: PropertyGraph): Long =
        g.nodeTables.find(_.labels == Set("Region")).get.df.count()
      assert(regions(g1) == 5)
      // a two-row region table written over the old file's bytes (same
      // inode, so the directory's mtime stays put)
      val bytes = parquetBytes(regionTable(2))
      val dirMtime = Files.getLastModifiedTime(dir)
      val region = dir.resolve("region.parquet")
      Files.write(region, bytes)
      // a later mtime than the first write's, whatever the clock granularity
      Files.setLastModifiedTime(region, java.nio.file.attribute.FileTime
        .fromMillis(Files.getLastModifiedTime(region).toMillis + 5000))
      Files.setLastModifiedTime(dir, dirMtime)
      assert(Files.getLastModifiedTime(dir) == dirMtime)
      val g2 = graft.sources.TpchGraph.load(spark, dir.toString)
      assert(!(g2 eq g1))
      assert(regions(g2) == 2)
    } finally {
      Seq(dir, staging).foreach(d => Files.walk(d).toArray
        .map(_.asInstanceOf[Path]).reverse.foreach(Files.deleteIfExists))
    }
  }

  test("edge list source: SNAP format → V/E graph") {
    val f = java.nio.file.Files.createTempFile("graft_edges", ".txt")
    java.nio.file.Files.writeString(f,
      "# comment line\n1 2\n2 3\n3 1\n3 4\n")
    val eg = EdgeListSource.load(spark, f.toString)
    val deg = gs.cypher(eg,
      """MATCH (v:V)-[:E]->(w:V)
        |RETURN id(v) AS src, count(*) AS outdeg
        |ORDER BY src""".stripMargin).collect()
    assert(deg.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 2L)))
  }
}
