package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer each file's schema once per process.
  *
  * `spark.read.parquet(path)` runs a Spark job to read footers and
  * infer the schema; every table a gate or a graph source opens paid it
  * again in every session. This keeps the inferred schema, keyed by the
  * file's identity, and hands it back with `spark.read.schema(..)`, which
  * runs no job. The cache is process-wide, so it outlives sessions and
  * SparkContexts (DataFrames do not; callers still build theirs per
  * session).
  *
  * The key is the qualified path plus (path, length, modification time)
  * of the file, or of every file under it when the path is a directory,
  * plus each explicitly set conf that changes what inference returns.
  * A rewrite that keeps both length and modification time (the same
  * length written within the file system's mtime granularity) still
  * hits. Paths that cannot be keyed (globs, missing paths) fall through
  * to `spark.read.parquet` on every call.
  */
object ParquetTables {

  private val MaxEntries = 64

  private type Key = (String, Seq[(String, Long, Long)], Seq[(String, String)])
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType])
          : Boolean = size > MaxEntries
    })

  def read(spark: SparkSession, path: String): DataFrame =
    key(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(k) =>
        val cached = schemas.get(k)
        if (cached != null) spark.read.schema(cached).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(k, df.schema)
          df
        }
    }

  // the glob characters Spark's reader expands (SparkHadoopUtil.isGlobPath)
  private val GlobChars = "{}[]*?\\".toSet

  // binaryAsString, int96AsTimestamp, inferTimestampNTZ and the field-id
  // and variant flags live under spark.sql.parquet; nanosAsLong (set by
  // the events reader) under spark.sql.legacy.parquet
  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  private def key(spark: SparkSession, path: String): Option[Key] = {
    if (path.exists(GlobChars)) return None
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    val st = try fs.getFileStatus(q)
      catch { case _: java.io.FileNotFoundException => return None }
    val files =
      if (!st.isDirectory) Seq(st)
      else {
        val it = fs.listFiles(q, true)
        val b = Seq.newBuilder[FileStatus]
        while (it.hasNext) b += it.next()
        b.result()
      }
    Some((q.toString,
      files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted,
      inferenceConfs(spark)))
  }
}
