package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftSession
import graft.graph.{NodeTable, PropertyGraph, RelTable}

/** Scan consolidation via materialized pattern tables (reference:
  * LogicalOptimizer.scala:67-134 replaceScansWithRecognizedPatterns +
  * TripletPattern, Pattern.scala:159-199): a registered triplet answers a
  * covered one-hop expand with a single probe — results must be identical
  * to the three-way join, and the plan must actually shrink.
  */
class TripletSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var gs: GraftSession = _
  private var plain: PropertyGraph = _
  private var withT: PropertyGraph = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-triplet-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    gs = GraftSession(spark)
    val s = spark
    import s.implicits._
    val people = Seq((1L, "Alice", 23L), (2L, "Bob", 42L), (3L, "Carol", 31L))
      .toDF("id", "name", "age")
    val cities = Seq((10L, "Berlin"), (11L, "Aachen")).toDF("id", "city")
    val knows = Seq((100L, 1L, 2L, 2016L), (101L, 2L, 3L, 2017L))
      .toDF("rid", "src", "dst", "since")
    val livesIn = Seq((200L, 1L, 10L), (201L, 2L, 10L), (202L, 3L, 11L))
      .toDF("rid", "src", "dst")
    plain = new PropertyGraph(
      Seq(NodeTable(Set("Person"), people, "id",
        Map("name" -> "name", "age" -> "age")),
        NodeTable(Set("City"), cities, "id", Map("city" -> "city"))),
      Seq(RelTable("KNOWS", knows, "rid", "src", "dst", Map("since" -> "since")),
        RelTable("LIVES_IN", livesIn, "rid", "src", "dst", Map.empty)),
      spark)
    withT = plain
      .withTriplet("KNOWS", Set("Person"), Set("Person"))
      .withTriplet("LIVES_IN", Set("Person"), Set("City"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(g: PropertyGraph, q: String): Seq[Seq[Any]] =
    gs.cypher(g, q).collect().toSeq.map(_.toSeq)

  private def sameResults(q: String): Unit =
    assert(rows(withT, q) === rows(plain, q), s"triplet divergence for:\n$q")

  // distinct query texts over the consolidation tests' hot shapes, with
  // the same answers: a new query plans against the adapted twin, while
  // a plan-cache hit keeps the plan it was built with
  private val sameShape =
    """MATCH (p:Person)-[:LIVES_IN]->(x:City)
      |RETURN p.name AS an, x.city AS cc ORDER BY an""".stripMargin
  private val oneSideSameShape =
    """MATCH (y)-[:LIVES_IN]->(d:City)
      |RETURN d.city AS cc ORDER BY cc""".stripMargin

  test("fresh-start expand: identical results, zero-join plan") {
    val q = """MATCH (a:Person)-[k:KNOWS]->(b:Person)
              |RETURN a.name AS an, k.since AS since, b.name AS bn
              |ORDER BY an""".stripMargin
    sameResults(q)
    // the triplet's one-time build lineage (under InMemoryRelation) may
    // contain joins; the QUERY plan above the cache read must not
    val plan = gs.cypher(withT, q).queryExecution.executedPlan.toString
    val aboveCache = plan.split("InMemoryRelation").head
    assert(aboveCache.contains("InMemoryTableScan"),
      s"expected triplet cache read:\n$plan")
    assert(!aboveCache.contains("Join"),
      s"expected join-free triplet scan:\n$plan")
  }

  test("bound-source forward expand probes the triplet once") {
    val q = """MATCH (a:Person) WHERE a.age > 30
              |MATCH (a)-[:LIVES_IN]->(c:City)
              |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin
    sameResults(q)
  }

  test("incoming expand reads the triplet backward") {
    sameResults(
      """MATCH (c:City)<-[:LIVES_IN]-(p:Person)
        |RETURN c.city AS cc, p.name AS pn ORDER BY cc, pn""".stripMargin)
    sameResults(
      """MATCH (b:Person)<-[k:KNOWS]-(a:Person)
        |RETURN b.name AS bn, a.name AS an, k.since AS s ORDER BY bn""".stripMargin)
  }

  test("element functions still work over triplet-bound vars") {
    sameResults(
      """MATCH (a:Person)-[k:KNOWS]->(b:Person)
        |RETURN id(a) AS ia, type(k) AS t, labels(b) AS lb, id(k) AS ik
        |ORDER BY ia""".stripMargin)
  }

  test("inline property maps filter triplet hops") {
    sameResults(
      """MATCH (a:Person)-[:KNOWS {since: 2017}]->(b:Person)
        |RETURN a.name AS an, b.name AS bn""".stripMargin)
    sameResults(
      """MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(b:Person)
        |RETURN b.name AS bn""".stripMargin)
  }

  test("longer chains mix triplet hops and scan joins") {
    sameResults(
      """MATCH (a:Person)-[:KNOWS]->(b:Person)-[:LIVES_IN]->(c:City)
        |RETURN a.name AS an, b.name AS bn, c.city AS cc ORDER BY an""".stripMargin)
  }

  test("undirected expand unions both orientations of a symmetric triplet") {
    sameResults(
      """MATCH (a:Person)-[:KNOWS]-(b:Person)
        |RETURN a.name AS an, b.name AS bn ORDER BY an, bn""".stripMargin)
    sameResults(
      """MATCH (a:Person {name: 'Bob'})-[k:KNOWS]-(b:Person)
        |RETURN b.name AS bn, k.since AS s ORDER BY bn""".stripMargin)
  }

  test("empty-dst-label triplet covers unlabeled targets (NodeRel role)") {
    // reference's NodeRelPattern (node+rel consolidation) is subsumed:
    // a triplet materialized against the any-label node scan answers
    // (a:Person)-[:KNOWS]->(x) with one probe
    val g2 = plain.withTriplet("KNOWS", Set("Person"), Set.empty)
    val q = """MATCH (a:Person)-[k:KNOWS]->(x)
              |RETURN a.name AS an, k.since AS s, id(x) AS ix
              |ORDER BY an""".stripMargin
    assert(rows(g2, q) === rows(plain, q))
    val plan = gs.cypher(g2, q).queryExecution.executedPlan.toString
    assert(plan.split("InMemoryRelation").head.contains("InMemoryTableScan"),
      s"triplet not used:\n$plan")
  }

  test("uncovered shapes fall back to scans (no label, multi-type, asym undirected)") {
    sameResults(
      "MATCH (a:Person)-[r]->(x) RETURN a.name AS an, id(x) AS ix ORDER BY an, ix")
    sameResults(
      """MATCH (a:Person)-[r:KNOWS|LIVES_IN]->(x)
        |RETURN a.name AS an, type(r) AS t ORDER BY an, t""".stripMargin)
    // LIVES_IN triplet is Person→City (asymmetric): undirected stays on scans
    sameResults(
      """MATCH (p:Person)-[:LIVES_IN]-(c:City)
        |RETURN p.name AS pn, c.city AS cc ORDER BY pn""".stripMargin)
  }

  test("rel uniqueness applies across triplet hops") {
    // (a)-[k1]->(b)-[k2]->(c) with k1 <> k2: Alice->Bob->Carol only
    sameResults(
      """MATCH (a:Person)-[k1:KNOWS]->(b:Person)-[k2:KNOWS]->(c:Person)
        |RETURN a.name AS an, c.name AS cn""".stripMargin)
  }

  test("exists/optional subqueries may consume triplets") {
    sameResults(
      """MATCH (a:Person) WHERE (a)-[:KNOWS]->(:Person)
        |RETURN a.name AS an ORDER BY an""".stripMargin)
    sameResults(
      """MATCH (a:Person) OPTIONAL MATCH (a)-[:LIVES_IN]->(c:City)
        |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin)
  }

  test("hot expand shapes consolidate automatically") {
    val q = """MATCH (a:Person)-[:LIVES_IN]->(c:City)
              |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin
    val expected = rows(plain, q)
    val planned = gs.cypher(plain, q)
    gs.enableAutoConsolidation(threshold = 2)
    try {
      // two planning passes over the same shape trip the threshold;
      // results stay identical before, at, and after consolidation
      assert(rows(plain, q) === expected)
      assert(rows(plain, q) === expected)
      // an exact repeat keeps its plan; a NEW query over the hot shape
      // plans against the pattern table
      assert(gs.cypher(plain, q) eq planned)
      val df = gs.cypher(plain, sameShape)
      val plan = df.queryExecution.executedPlan.toString
      val aboveCache = plan.split("InMemoryRelation").head
      assert(aboveCache.contains("InMemoryTableScan"),
        s"expected auto-materialized triplet read:\n$plan")
      assert(!aboveCache.contains("Join"),
        s"expected join-free consolidated expand:\n$plan")
      assert(df.collect().toSeq.map(_.toSeq) === expected)
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("hot fully-labeled shape promotes a node-rel cover to a triplet") {
    val q = """MATCH (a:Person)-[:LIVES_IN]->(c:City)
              |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin
    val expected = rows(plain, q)
    // pre-covered by a dst-side node-rel: the expand is ANSWERED (no plain
    // miss fires), but the fully-labeled shape keeps reporting through the
    // node-rel hit and must promote to a full triplet — which then wins
    // the table lookup and drops the src-scan join entirely
    val covered = plain.withNodeRel("LIVES_IN", Set("City"), nodeOnSrc = false)
    val planned = gs.cypher(covered, q)
    gs.enableAutoConsolidation(threshold = 2)
    try {
      assert(rows(covered, q) === expected)
      assert(rows(covered, q) === expected)
      assert(gs.cypher(covered, q) eq planned)
      val df = gs.cypher(covered, sameShape)
      val plan = df.queryExecution.executedPlan.toString
      val aboveCache = plan.split("InMemoryRelation").head
      assert(aboveCache.contains("InMemoryTableScan"),
        s"expected promoted-triplet read:\n$plan")
      assert(!aboveCache.contains("Join"),
        s"expected join-free promoted-triplet expand:\n$plan")
      assert(df.collect().toSeq.map(_.toSeq) === expected)
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("size guard skips corpus-scale shapes and reports the skip") {
    val q = """MATCH (a:Person)-[:LIVES_IN]->(c:City)
              |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin
    val expected = rows(plain, q)
    // LIVES_IN has 3 rels; a 1-row budget must refuse to materialize
    val planned = gs.cypher(plain, q)
    gs.enableAutoConsolidation(threshold = 2, maxRowEstimate = 1L)
    try {
      assert(rows(plain, q) === expected)
      assert(rows(plain, q) === expected)
      val df = gs.cypher(plain, q)
      assert(df eq planned)
      // the shape took the skip branch (mutually exclusive with
      // materializing an adapted graph) and recorded the over-budget
      // estimate; results are untouched. No plan assertion: the
      // CacheManager substitutes beforeAll's equivalent cached triplet
      // join into ANY matching subplan, consolidated or not.
      assert(gs.consolidationSkips ===
        Map((Set("Person"), "LIVES_IN", Set("City")) -> 3L))
      assert(df.collect().toSeq.map(_.toSeq) === expected)
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("storage-level knob routes auto tables to the configured tier") {
    val q = """MATCH (a:Person)-[:LIVES_IN]->(c:City)
              |RETURN a.name AS an, c.city AS cc ORDER BY an""".stripMargin
    val expected = rows(plain, q)
    val planned = gs.cypher(plain, q)
    gs.enableAutoConsolidation(threshold = 2,
      storageLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      assert(rows(plain, q) === expected)
      assert(rows(plain, q) === expected)
      assert(gs.cypher(plain, q) eq planned)
      val df = gs.cypher(plain, sameShape)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("StorageLevel(disk, 1 replicas)"),
        s"expected DISK_ONLY auto table:\n$plan")
      assert(df.collect().toSeq.map(_.toSeq) === expected)
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("per-graph compression override scopes to one materialization") {
    val key = "spark.sql.inMemoryColumnarStorage.compressed"
    val prior = spark.conf.get(key)
    // GraftSession sets the session default to uncompressed; a per-graph
    // compressed=true pattern table must build compressed WITHOUT
    // flipping the session default for everyone else (a KNOWS src-side
    // node-rel: the one shape no other test materializes, so the
    // already-cached-plan guard cannot short-circuit the persist)
    val g = plain.withNodeRel("KNOWS", Set("Person"), nodeOnSrc = true,
      storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_ONLY,
      compressed = Some(true))
    assert(spark.conf.get(key) === prior,
      "compression override must restore the session conf")
    val t = g.nodeRelTables.last
    assert(t.df.storageLevel ===
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val q = """MATCH (a:Person)-[k:KNOWS]->(b:Person)
              |RETURN a.name AS an, b.name AS bn ORDER BY an""".stripMargin
    assert(rows(g, q) === rows(plain, q))
    t.df.unpersist()
  }

  test("one-side-labeled hot shape consolidates as a node-rel table") {
    // unlabeled bound src, labeled far side → node-rel on the dst side
    // (half a triplet's storage, same single probe join)
    val q = """MATCH (x)-[:LIVES_IN]->(c:City)
              |RETURN c.city AS cc ORDER BY cc""".stripMargin
    val expected = rows(plain, q)
    val planned = gs.cypher(plain, q)
    gs.enableAutoConsolidation(threshold = 2)
    try {
      assert(rows(plain, q) === expected)
      assert(rows(plain, q) === expected)
      assert(gs.cypher(plain, q) eq planned)
      val df = gs.cypher(plain, oneSideSameShape)
      val plan = df.queryExecution.executedPlan.toString
      val aboveCache = plan.split("InMemoryRelation").head
      assert(aboveCache.contains("InMemoryTableScan"),
        s"expected auto-materialized node-rel read:\n$plan")
      assert(df.collect().toSeq.map(_.toSeq) === expected)
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("releaseAutoConsolidation drops plans built on the adapted twin") {
    def cachedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val before = cachedRdds
    // a KNOWS dst-side node-rel: a shape no other cached table aliases
    val q = """MATCH (x)-[:KNOWS]->(b:Person)
              |RETURN b.name AS bn ORDER BY bn""".stripMargin
    val onTwinQ = """MATCH (y)-[:KNOWS]->(p:Person)
                    |RETURN p.name AS bn ORDER BY bn""".stripMargin
    val expected = rows(plain, q)
    gs.enableAutoConsolidation(threshold = 2)
    try {
      rows(plain, q); rows(plain, q)
      val onTwin = gs.cypher(plain, onTwinQ)
      assert(onTwin.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"), "expected a node-rel read")
      assert(onTwin.collect().toSeq.map(_.toSeq) === expected)
      gs.releaseAutoConsolidation()
      // re-issued after the release: planned afresh on the base graph,
      // same rows, and no cached table left behind
      assert(!(gs.cypher(plain, onTwinQ) eq onTwin))
      assert(rows(plain, onTwinQ) === expected)
      assert(cachedRdds.subsetOf(before),
        s"cached RDDs left behind: ${cachedRdds -- before}")
    } finally {
      gs.disableAutoConsolidation()
      gs.releaseAutoConsolidation()
    }
  }

  test("a written graph registered under an old name misses the plan cache") {
    // the session benchmark's write-then-read: CONSTRUCT, register under
    // the same name, read it with the same text — graph identity keys
    // the plan cache, so the read must answer from the new graph
    val write = """MATCH (a:Person)-[:LIVES_IN]->(c:City) WHERE a.name = $n
                  |CONSTRUCT NEW (a)-[:VISITED]->(c) RETURN GRAPH""".stripMargin
    val read = """MATCH (a:Person)-[:VISITED]->(c:City)
                 |RETURN a.name AS an, c.city AS cc""".stripMargin
    def writeThenRead(name: String): Seq[Seq[Any]] = {
      gs.register("written", gs.cypherGraph(plain, write, Map("n" -> name)))
      gs.cypher("written", read).collect().toSeq.map(_.toSeq)
    }
    assert(writeThenRead("Alice") === Seq(Seq("Alice", "Berlin")))
    assert(writeThenRead("Carol") === Seq(Seq("Carol", "Aachen")))
  }

  test("re-registering a name forgets the replaced graph and its twin") {
    def cachedRdds: Set[Int] = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    val before = cachedRdds
    val s = spark
    import s.implicits._
    // a graph per round with its own rows, so no two twins share a plan
    def version(i: Int): PropertyGraph = {
      val people = (1L to 3L + i).map(k => (k, s"p$k")).toDF("id", "name")
      val knows = (1L until 3L + i).map(k => (100L + k, k, k + 1)).toDF("rid", "src", "dst")
      new PropertyGraph(
        Seq(NodeTable(Set("Person"), people, "id", Map("name" -> "name"))),
        Seq(RelTable("KNOWS", knows, "rid", "src", "dst", Map.empty)), spark)
    }
    val q = """MATCH (a:Person)-[:KNOWS]->(b:Person)
              |RETURN a.name AS an, b.name AS bn ORDER BY an""".stripMargin
    val onTwin = """MATCH (x:Person)-[:KNOWS]->(y:Person)
                   |RETURN x.name AS xn ORDER BY xn""".stripMargin
    val local = GraftSession(spark)
    local.enableAutoConsolidation(threshold = 1)
    try {
      val rounds = (1 to 5).map { i =>
        val g = version(i)
        local.register("g", g)
        assert(local.cypher("g", q).count() == 2 + i)
        val twin = local.twinOf(g)
        assert(twin.exists(_.tripletTables.nonEmpty), "threshold 1 consolidates")
        // a twin's table is cached once it is read
        assert(local.cypher(g, onTwin).count() == 2 + i)
        (g, twin.get)
      }
      val (live, liveTwin) = rounds.last
      assert(local.heldGraphs == Set(live))
      rounds.init.foreach { case (_, twin) =>
        twin.tripletTables.foreach(t => assert(t.df.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE))
      }
      assert(liveTwin.tripletTables.forall(_.df.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE))
      // only the live twin's table still holds partitions
      assert((cachedRdds -- before).size == liveTwin.tripletTables.size,
        s"cached RDDs left behind: ${cachedRdds -- before}")
      // an equal graph under a new name shares the live twin's cache
      // entry: replacing it must not uncache the live twin's table
      local.register("h", version(5))
      local.cypher("h", q).count()
      local.register("h", version(4))
      assert(liveTwin.tripletTables.forall(_.df.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE))
    } finally local.releaseAutoConsolidation()
  }

  test("pattern tables round-trip through the FS source (round 8)") {
    // build-once-in-a-batch-job deployment shape: unpersisted triplet +
    // node-rel → savePatternTables → fresh session-equivalent load →
    // the LOADED graph answers a covered expand from the parquet scan
    // with ZERO joins anywhere in the plan (the loaded table has no
    // join lineage at all, unlike the in-session cache)
    val dir = java.nio.file.Files.createTempDirectory("graft-pat").toString
    val unpersisted = plain
      .withTriplet("KNOWS", Set("Person"), Set("Person"), persist = false)
      .withNodeRel("LIVES_IN", Set("City"), nodeOnSrc = false,
        persist = false)
    graft.sources.FsGraphSource.save(plain, dir, mode = "overwrite")
    graft.sources.FsGraphSource.savePatternTables(unpersisted, dir,
      mode = "overwrite")
    val loaded0 = graft.sources.FsGraphSource.load(spark, dir)
    val loaded = graft.sources.FsGraphSource.loadPatternTables(loaded0, dir)
    assert(loaded.tripletTables.size === 1)
    assert(loaded.nodeRelTables.size === 1)
    val q = """MATCH (a:Person)-[k:KNOWS]->(b:Person)
              |RETURN a.name AS an, k.since AS since, b.name AS bn
              |ORDER BY an""".stripMargin
    assert(rows(loaded, q) === rows(plain, q))
    val plan = gs.cypher(loaded, q).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"expected a join-free loaded-triplet scan:\n$plan")
    val qnr = """MATCH (x)-[:LIVES_IN]->(c:City)
                |RETURN c.city AS cc ORDER BY cc""".stripMargin
    assert(rows(loaded, qnr) === rows(plain, qnr))
    val plan2 = gs.cypher(loaded, qnr).queryExecution.executedPlan.toString
    assert(!plan2.contains("Join"),
      s"expected a join-free loaded node-rel scan:\n$plan2")
    // a graph with no pattern sidecar loads unchanged
    val noPat = java.nio.file.Files.createTempDirectory("graft-nopat")
      .toString
    graft.sources.FsGraphSource.save(plain, noPat, mode = "overwrite")
    val plainLoaded = graft.sources.FsGraphSource.loadPatternTables(
      graft.sources.FsGraphSource.load(spark, noPat), noPat)
    assert(plainLoaded.tripletTables.isEmpty)
  }
}
