package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks the result checksum: the same rows in another order or another
  * partitioning give the same checksum, a changed value or a dropped or
  * duplicated row gives another. Prints "ok" and exits 0, or exits 1. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val base = spark.range(0, 2000).select(
        col("id"), (col("id") % 7).cast("int").as("k"), (col("id") / 3.0).as("x"),
        concat(lit("s"), col("id")).as("s"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("a"), lit("b").as("b")).as("st"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id")).as("n"),
        map(lit("m"), col("id")).as("m"))
      val ref = RowHash.materialize(base)
      val variants = Seq(
        "reordered" -> base.orderBy(col("id").desc),
        "repartitioned" -> base.repartition(5, col("k")),
        "coalesced" -> base.coalesce(1))
      val changed = Seq(
        "value changed" -> base.withColumn("x", when(col("id") === 42, lit(0.5))
          .otherwise(col("x"))),
        "row dropped" -> base.where(col("id") =!= 7),
        "row duplicated" -> base.union(base.where(col("id") === 7)).where(col("id") =!= 8),
        "null changed" -> base.withColumn("n", coalesce(col("n"), lit(-1L))))
      val bad = variants.collect { case (n, df) if RowHash.materialize(df) != ref => n } ++
        changed.collect { case (n, df) if RowHash.materialize(df)._2 == ref._2 => n }
      if (ref._1 != 2000 || bad.nonEmpty) {
        println(s"checksum self-test failed: ${bad.mkString(", ")} (rows ${ref._1})")
        sys.exit(1)
      }
      println("ok")
    } finally spark.stop()
  }
}
