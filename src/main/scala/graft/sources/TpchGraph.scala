package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{NodeTable, PropertyGraph, RelTable, SchemaPattern}

/** Recasts the driver's TPC-H-ish parquet tables as a property graph
  * (FIXTURES.md §7): key columns become globally-unique Long ids via a
  * tag byte in the upper bits — pure column arithmetic, no shuffle, no UDF
  * (cheaper at scale than the reference's varint BinaryType ids,
  * SURVEY §1.5 design note).
  */
object TpchGraph {

  // id-space tags (6 bits used of the upper 16)
  val CUSTOMER = 1L; val ORDER = 2L; val PART = 3L; val SUPPLIER = 4L
  val NATION = 5L; val REGION = 6L
  private val R_PLACED = 7L; private val R_CONTAINS = 8L
  private val R_SUPPLIED = 9L; private val R_CUST_NATION = 10L
  private val R_SUPP_NATION = 11L; private val R_IN_REGION = 12L

  def tagged(tag: Long, c: Column): Column =
    lit(tag << 48).plus(c.cast("long"))

  private val GID = "_gid"; private val SRC = "_src"; private val DST = "_dst"

  /** Graph-definition cache: load() is pure METADATA work producing lazy
    * DataFrames; no data is read until an action. Its seven parquet
    * schema inferences (one Spark job each, ~0.6 s of driver time) are
    * paid once per process by [[ParquetTables]]; this cache keeps the
    * graph itself, which is bound to its session, so repeat calls in a
    * session reuse one graph (and every plan cached against it).
    * Bounded LRU so long-lived multi-session processes don't pin
    * sessions. */
  private type Key = (SparkSession, String, Seq[(Long, Long)])
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, PropertyGraph](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, PropertyGraph])
          : Boolean = size > 8
    })

  private val Tables =
    Seq("customer", "orders", "lineitem", "part", "supplier", "nation", "region")

  def load(spark: SparkSession, dir: String): PropertyGraph = {
    // each table file's (mtime, length) in the key: a dataset regenerated
    // in-process (GenSf1Main overwrites these dirs) must not serve stale
    // file listings, and rewriting a file in place need not touch the
    // directory's mtime; stopped sessions are evicted rather than
    // LRU-pinned
    cache.synchronized {
      cache.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    }
    val key: Key = (spark, dir, Tables.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      (f.lastModified(), f.length())
    })
    val hit = cache.get(key)
    if (hit != null) return hit
    val g = loadFresh(spark, dir)
    cache.put(key, g)
    g
  }

  private def loadFresh(spark: SparkSession, dir: String): PropertyGraph = {
    def t(name: String): DataFrame = ParquetTables.read(spark, s"$dir/$name.parquet")

    def nodeTable(label: String, df: DataFrame, tag: Long, key: String): NodeTable = {
      val withId = df.withColumn(GID, tagged(tag, col(key)))
      NodeTable(Set(label), withId, GID,
        df.columns.map(c => c -> c).toMap)
    }

    val customer = t("customer"); val orders = t("orders")
    val lineitem = t("lineitem"); val part = t("part")
    val supplier = t("supplier"); val nation = t("nation"); val region = t("region")

    val nodes = Seq(
      nodeTable("Customer", customer, CUSTOMER, "c_custkey"),
      nodeTable("Order", orders, ORDER, "o_orderkey"),
      nodeTable("Part", part, PART, "p_partkey"),
      nodeTable("Supplier", supplier, SUPPLIER, "s_suppkey"),
      nodeTable("Nation", nation, NATION, "n_nationkey"),
      nodeTable("Region", region, REGION, "r_regionkey"))

    // lineitem rel ids pack (orderkey, linenumber): linenumber fits 3 bits
    val liKey = shiftleft(col("l_orderkey"), 3).plus(col("l_linenumber").cast("long"))

    val rels = Seq(
      RelTable("PLACED",
        orders.select(
          tagged(R_PLACED, col("o_orderkey")).as(GID),
          tagged(CUSTOMER, col("o_custkey")).as(SRC),
          tagged(ORDER, col("o_orderkey")).as(DST)),
        GID, SRC, DST, Map.empty),
      RelTable("CONTAINS",
        lineitem.select(
          tagged(R_CONTAINS, liKey).as(GID),
          tagged(ORDER, col("l_orderkey")).as(SRC),
          tagged(PART, col("l_partkey")).as(DST),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"), col("l_linenumber").cast("long").as("l_linenumber")),
        GID, SRC, DST,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate", "l_linenumber")
          .map(c => c -> c).toMap),
      RelTable("SUPPLIED_BY",
        lineitem.select(
          tagged(R_SUPPLIED, liKey).as(GID),
          tagged(PART, col("l_partkey")).as(SRC),
          tagged(SUPPLIER, col("l_suppkey")).as(DST),
          col("l_quantity")),
        GID, SRC, DST, Map("l_quantity" -> "l_quantity")),
      RelTable("IN_NATION",
        customer.select(
          tagged(R_CUST_NATION, col("c_custkey")).as(GID),
          tagged(CUSTOMER, col("c_custkey")).as(SRC),
          tagged(NATION, col("c_nationkey")).as(DST)),
        GID, SRC, DST, Map.empty),
      RelTable("IN_NATION",
        supplier.select(
          tagged(R_SUPP_NATION, col("s_suppkey")).as(GID),
          tagged(SUPPLIER, col("s_suppkey")).as(SRC),
          tagged(NATION, col("s_nationkey")).as(DST)),
        GID, SRC, DST, Map.empty),
      RelTable("IN_REGION",
        nation.select(
          tagged(R_IN_REGION, col("n_nationkey")).as(GID),
          tagged(NATION, col("n_nationkey")).as(SRC),
          tagged(REGION, col("n_regionkey")).as(DST)),
        GID, SRC, DST, Map.empty))

    // the FK topology is known statically — declare it so planners can
    // prune scans (e.g. the path node-value lookup) by reachability
    val patterns = Seq(
      SchemaPattern(Set("Customer"), "PLACED", Set("Order")),
      SchemaPattern(Set("Order"), "CONTAINS", Set("Part")),
      SchemaPattern(Set("Part"), "SUPPLIED_BY", Set("Supplier")),
      SchemaPattern(Set("Customer"), "IN_NATION", Set("Nation")),
      SchemaPattern(Set("Supplier"), "IN_NATION", Set("Nation")),
      SchemaPattern(Set("Nation"), "IN_REGION", Set("Region")))

    new PropertyGraph(nodes, rels, spark, schemaPatterns = patterns)
  }
}
