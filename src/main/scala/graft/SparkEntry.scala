package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ParquetTables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator from SURVEY.md §2 (or one
  * training-data pipeline op) and has a DuckDB-equivalent oracle in
  * [[oracleSql]]. Column names are aligned on both sides; aggregates over
  * doubles go through DECIMAL so both engines produce bit-identical results
  * regardless of summation order.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetTables.read(s, s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full Cypher path (parse → plan → DataFrame) with a two-hop expand. */
  def entry(spark: SparkSession): DataFrame =
    CypherQueries.queries("c3_expand2")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CypherQueries.queries ++ PipelineQueries.queries ++ Map(
    // Aggregate (§2.1 Aggregate): group-by + sum/avg/count, TPC-H Q1 shape.
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // Join (§2.1 Join): equi-join orders⋈customer + aggregate.
    "q2_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_price"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),
    // Filter + Select (§2.1 Filter/Select): predicate + projection.
    "q3_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_quantity") > 45 && col("l_discount") < lit(0.02))
        .select(
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    // OrderBy + Limit (§2.1 OrderBy/Limit).
    "q4_orderby_limit" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10)
    }),
    // Distinct (§2.1 Distinct).
    "q5_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),
    // TabularUnionAll (§2.1 TabularUnionAll).
    "q6_union_all" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_name").as("name"))
      val sup = t(s, dir, "supplier").select(col("s_name").as("name"))
      c.unionByName(sup).orderBy(col("name"))
    }),
    // ExistsSubQuery (§2.2): customers having at least one order (left-semi).
    "q7_exists" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // Optional (§2.2 Optional/left-outer): customers with order counts incl. 0.
    "q8_optional" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    }),
    // collect aggregator (§2.4 collect → collect_list), order-normalized.
    "q9_collect" -> ((s, dir) => {
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      n.join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy(col("r_name"))
    }),
    // window functions (scale extension; not in reference — SURVEY §2.1 note)
    "q10_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk").cast("long").as("rk"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CypherQueries.oracleSql ++ PipelineQueries.oracleSql ++ Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q3_filter" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q4_orderby_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q5_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q6_union_all" ->
      """SELECT name FROM (
        |  SELECT c_name AS name FROM customer
        |  UNION ALL
        |  SELECT s_name AS name FROM supplier
        |) ORDER BY name""".stripMargin,
    "q7_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q8_optional" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q9_collect" ->
      """SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q10_window" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin
  )
}
