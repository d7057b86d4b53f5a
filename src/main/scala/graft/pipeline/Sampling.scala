package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic splitting and sampling for training-data pipelines.
  *
  * Both operators assign by hashing the RECORD ID, not by position or
  * RNG state: the assignment is stable across runs, engines, cluster
  * sizes, and input order, so a document never migrates between train
  * and test when the corpus is re-partitioned or appended to — the
  * property that matters for contamination control at 100 TB. md5 is
  * used (not Spark's xxhash64) precisely so ANY engine can reproduce
  * the split from the id alone.
  */
object Sampling {

  /** null ids hash via a sentinel so every primitive stays total and
    * deterministic on a null key: a null md5 would silently drop the row
    * at the bucket join-back and NPE the driver prefix-sum sort. */
  private def idStr(idCol: Column): Column =
    coalesce(idCol.cast("string"), lit("@null-id"))

  /** first hex byte of md5(id) → 256 deterministic buckets. */
  private def bucket(idCol: Column): Column =
    substring(md5(idStr(idCol)), 1, 2)

  /** Exclusive prefix sums over PER-BUCKET AGGREGATE rows, computed on
    * the driver and re-broadcast as a tiny (bucket, @off) frame. The
    * collect is bounded by construction — bucket cardinality
    * (≤ 16^bucketChars / ≤ `buckets`), never corpus rows — and replaces
    * a single-partition WindowExec over the same rows: one less
    * shuffle+sort, and no "No Partition Defined" warning in every log.
    * Returns the offsets frame plus the grand total. */
  private def driverOffsets(counts: DataFrame, keyCol: String,
      nCol: String): (DataFrame, Long) = {
    val spark = counts.sparkSession
    val keyField = counts.schema(keyCol)
    val rows = counts.select(col(keyCol), col(nCol).cast("long")).collect()
    // a null id hashes to a null bucket key: order it as its own bucket
    // (first), like the WindowExec this replaced did, instead of NPEing
    val sorted = keyField.dataType match {
      case org.apache.spark.sql.types.StringType =>
        rows.sortBy(r => (!r.isNullAt(0),
          if (r.isNullAt(0)) "" else r.getString(0)))
      case org.apache.spark.sql.types.IntegerType =>
        rows.sortBy(r => (!r.isNullAt(0),
          if (r.isNullAt(0)) 0 else r.getInt(0)))
      case other => throw new IllegalArgumentException(
        s"unsupported bucket key type $other")
    }
    val hasNullKey = rows.exists(_.isNullAt(0))
    var acc = 0L
    val data = sorted.map { r =>
      val off = acc; acc += r.getLong(1)
      org.apache.spark.sql.Row(r.get(0), off)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      keyField.copy(nullable = hasNullKey),
      org.apache.spark.sql.types.StructField("@off",
        org.apache.spark.sql.types.LongType, nullable = false)))
    (spark.createDataFrame(
      spark.sparkContext.parallelize(data.toIndexedSeq, 1), schema), acc)
  }

  private def hexThreshold(pct: Double): String = {
    val v = math.round(256 * pct / 100.0)
    // 256 formats as the 3-char "100", which sorts BELOW "10".."ff" in
    // the 2-char lexicographic bucket comparison — return a sentinel
    // above every bucket instead so pct ≈ 100 keeps everything
    if (v >= 256) "g0" else f"$v%02x"
  }

  /** Deterministic train/val/test assignment with 1/256 granularity.
    * Purely columnar — zero shuffle, survives any scale. */
  def deterministicSplit(df: DataFrame, idCol: String,
      trainPct: Double = 90.0, valPct: Double = 5.0): DataFrame = {
    require(trainPct + valPct <= 100.0, "train + val must be <= 100")
    val b = bucket(col(idCol))
    df.withColumn("split",
      when(b < lit(hexThreshold(trainPct)), "train")
        .when(b < lit(hexThreshold(trainPct + valPct)), "val")
        .otherwise("test"))
  }

  /** Deterministic subsample: keeps ids whose hash bucket falls under
    * `pct` percent. Same id set every run on every engine. */
  def deterministicSample(df: DataFrame, idCol: String, pct: Double): DataFrame =
    df.where(bucket(col(idCol)) < lit(hexThreshold(pct)))

  /** Exact stratified sample: per-stratum fractions without a full
    * shuffle (thin wrapper over Spark's stratified sampling; seeded). */
  def stratified(df: DataFrame, strataCol: String,
      fractions: Map[Any, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Caps each key's group at `maxPerKey` rows, keeping a deterministic
    * pseudo-random subset (md5 rank within the key) — the "at most N
    * documents per domain/source" anti-spam primitive. One shuffle on the
    * key; per-key windows parallelize across keys (a single hot key
    * serializes only its own group — cap-sized output regardless). */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String,
      maxPerKey: Int, seed: String = "42"): DataFrame = {
    require(maxPerKey > 0, "maxPerKey must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(md5(concat(idStr(col(idCol)), lit(":" + seed))),
        col(idCol))
    df.withColumn("@rk", row_number().over(w))
      .where(col("@rk") <= maxPerKey).drop("@rk")
  }

  /** Weighted mixture: keeps each source's rows with its configured
    * probability, deterministically (md5 id bucket vs per-source
    * threshold) — the corpus-mixing primitive ("web 80%, code 15%,
    * papers 5%"). Zero shuffle, reproducible on any engine; sources
    * absent from `weights` use `defaultPct`. Percentages quantize to
    * 1/256 (the md5 bucket granularity). */
  def mixture(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], defaultPct: Double = 100.0): DataFrame = {
    val b = bucket(col(idCol))
    val threshold = weights.toSeq.sortBy(_._1)
      .foldLeft(lit(hexThreshold(defaultPct))) { case (acc, (src, pct)) =>
        when(col(sourceCol) === src, lit(hexThreshold(pct))).otherwise(acc)
      }
    df.where(b < threshold)
  }

  /** Deterministic global shuffle for training order: every row gets a
    * stable position `pos` (0-based) in a pseudo-random permutation keyed
    * by md5(id:seed) — reproducible on any engine from the id alone.
    *
    * Scales as a TWO-PHASE rank, not one global window: rows are bucketed
    * by the first `bucketChars` hex chars of their shuffle key, bucket
    * row-counts get an exclusive prefix sum (a window over ≤16^bucketChars
    * bucket rows — bucket-cardinality work, independent of corpus size),
    * and each bucket ranks its own rows in parallel. `pos` equals the rank
    * in the global (key, id) order; a single `row_number() OVER (ORDER BY
    * key)` would serialize 100 TB through one partition. */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String = "42",
      bucketChars: Int = 4): DataFrame = {
    require(bucketChars >= 1 && bucketChars <= 8, "bucketChars out of range")
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .withColumn("shuffle_key",
        md5(concat(idStr(col(idCol)), lit(":" + seed))))
      .withColumn("@bucket", substring(col("shuffle_key"), 1, bucketChars))
    val counts = keyed.groupBy("@bucket").agg(count(lit(1)).as("@n"))
    // prefix sums over the per-bucket AGGREGATE rows (≤ 16^bucketChars,
    // never the corpus) — driver-computed + re-broadcast, see driverOffsets
    val (offsets, _) = driverOffsets(counts, "@bucket", "@n")
    val w = Window.partitionBy(col("@bucket"))
      .orderBy(col("shuffle_key"), col(idCol))
    keyed.join(broadcast(offsets), "@bucket")
      .withColumn("pos", col("@off") + row_number().over(w).cast("long") - 1)
      .drop("@bucket", "@off")
  }

  /** Keeps the prefix of the [[deterministicShuffle]] order whose running
    * token total stays within `budget` (the "sample N tokens for this
    * training run" primitive; the document that would cross the budget is
    * excluded). Same two-phase prefix-sum shape: per-bucket token totals
    * are prefix-summed at bucket cardinality, each bucket accumulates its
    * own rows in parallel, and a row survives iff its global running total
    * (bucket offset + intra-bucket cumulative) fits. Deterministic across
    * engines/runs/partitionings via the md5 shuffle key. */
  def takeTokenBudget(df: DataFrame, idCol: String, textCol: String,
      budget: Long, seed: String = "42", bucketChars: Int = 4): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val nTokens = graft.functions.TextFunctions
      .count_tokens(col(textCol), graft.functions.TokenMode.Whitespace)
      .cast("long")
    val keyed = df
      .withColumn("n_tokens", nTokens)
      .withColumn("@key",
        md5(concat(idStr(col(idCol)), lit(":" + seed))))
      .withColumn("@bucket", substring(col("@key"), 1, bucketChars))
    // the totals pass is read once (driverOffsets collects it eagerly),
    // so it aggregates straight off `keyed` — a persist would only add a
    // cache write. The FINAL pass stays on the original frame, so there
    // is no join-back by id that could drop null-id rows or multiply
    // duplicate ids (the round-10 revert hazard).
    val totals = keyed.groupBy("@bucket").agg(sum(col("n_tokens")).as("@t"))
    // prefix sums over the per-bucket AGGREGATE rows (≤ 16^bucketChars,
    // never the corpus) — driver-computed + re-broadcast, see driverOffsets
    val (offsets, _) = driverOffsets(totals, "@bucket", "@t")
    val w = Window.partitionBy(col("@bucket"))
      .orderBy(col("@key"), col(idCol))
    keyed.join(broadcast(offsets), "@bucket")
      .withColumn("@cum", col("@off") + sum(col("n_tokens")).over(w))
      .where(col("@cum") <= budget)
      .drop("@bucket", "@key", "@off", "@cum")
  }

  /** Token-share corpus mixture: each source contributes (up to) its
    * share of `totalBudget` TOKENS — the prefix of the source's
    * deterministic md5 order whose running token total fits
    * floor(share·budget). [[mixture]] keeps documents at per-source
    * RATES; training mixtures are usually specified in token share
    * ("web 50%, code 30% of the run's tokens"), which this implements
    * directly. Same two-phase prefix-sum shape as [[takeTokenBudget]],
    * partitioned by source: per-(source, bucket) token totals prefix-sum
    * at bucket cardinality, each bucket accumulates its own rows in
    * parallel — no global window, and a hot source parallelizes across
    * its hash buckets. Sources absent from `shares` get `defaultShare`. */
  def mixtureByTokens(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, totalBudget: Long, shares: Map[String, Double],
      defaultShare: Double = 0.0, seed: String = "42",
      bucketChars: Int = 4,
      caches: CacheRegistry = CacheRegistry.lru): DataFrame = {
    require(totalBudget >= 0, "totalBudget must be non-negative")
    require((shares.values ++ Seq(defaultShare)).forall(s => s >= 0 && s <= 1),
      "shares must be in [0, 1]")
    import org.apache.spark.sql.expressions.Window
    val nTokens = graft.functions.TextFunctions
      .count_tokens(col(textCol), graft.functions.TokenMode.Whitespace)
      .cast("long")
    val budget = shares.toSeq.sortBy(_._1)
      .foldLeft(lit((totalBudget * defaultShare).toLong)) {
        case (acc, (src, sh)) =>
          when(col(sourceCol) === src, lit((totalBudget * sh).toLong))
            .otherwise(acc)
      }
    val keyed = df
      .withColumn("n_tokens", nTokens)
      .withColumn("@key",
        md5(concat(idStr(col(idCol)), lit(":" + seed))))
      .withColumn("@bucket", substring(col("@key"), 1, bucketChars))
    // the totals pass reads a persisted narrow (source, @bucket,
    // n_tokens) projection instead of re-scanning the text column and
    // re-deriving tokenize+md5: the offsets stay lazy here, so every
    // action on the result re-reads the totals. The FINAL pass stays on
    // the original frame (no join-back by id — see takeTokenBudget)
    val narrow = caches.persist(
      keyed.select(col(sourceCol), col("@bucket"), col("n_tokens")))
    val totals = narrow.groupBy(col(sourceCol), col("@bucket"))
      .agg(sum(col("n_tokens")).as("@t"))
    val wb = Window.partitionBy(col(sourceCol)).orderBy(col("@bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("@off", coalesce(sum(col("@t")).over(wb), lit(0L)))
      .select(col(sourceCol), col("@bucket"), col("@off"))
    val w = Window.partitionBy(col(sourceCol), col("@bucket"))
      .orderBy(col("@key"), col(idCol))
    keyed.join(broadcast(offsets), Seq(sourceCol, "@bucket"))
      .withColumn("@cum", col("@off") + sum(col("n_tokens")).over(w))
      .where(col("@cum") <= budget)
      .drop("@bucket", "@key", "@off", "@cum")
  }

  /** Exact global quantile binning: every row gets its exact 0-based rank
    * in `(scoreCol, idCol)` order and the bin `floor(rank·nBins/N)` — the
    * "keep only the top quality decile" primitive, with EXACT bin
    * boundaries (approximate-percentile binning misplaces documents near
    * every cut).
    *
    * Scales like Spark's own global sort but without materializing one:
    * coarse range buckets come from `approxQuantile` (driver receives
    * ≤`buckets` doubles — schema-scale, not data-scale), per-bucket counts
    * get an exclusive prefix sum (a window over ≤`buckets` rows), and each
    * bucket ranks its own rows in parallel. The OUTPUT is independent of
    * the sampled boundaries: they only decide bucketing, and
    * rank = bucket offset + intra-bucket rank is the exact global rank in
    * (score, id) order for any monotone bucketing. Bin arithmetic is exact
    * long division (no double round-trip). */
  def quantileBins(df: DataFrame, idCol: String, scoreCol: String,
      nBins: Int = 10, buckets: Int = 64,
      caches: CacheRegistry = CacheRegistry.lru): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    require(buckets >= 1, "buckets must be positive")
    import graft.functions.VectorFunctions.integral_divide
    import org.apache.spark.sql.expressions.Window
    // three passes read (id, score): the boundary sample, the per-bucket
    // counts, and the final ranked join. Callers typically derive the
    // score from text (p33: an interpreted tokenize per row), so the two
    // AGGREGATE passes read a persisted narrow 16-byte projection instead
    // of re-deriving the score each (round 10). The FINAL pass stays on
    // the original frame — a join-back by id would silently drop null-id
    // rows and multiply duplicate ids.
    val scored = caches.persist(
      df.select(col(s"`$idCol`"), col(s"`$scoreCol`")))
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds =
      if (probs.isEmpty) Array.empty[Double]
      // loose relative error: boundaries only decide bucket BALANCE — the
      // rank output is exact for any monotone bucketing (see above)
      else scored.stat.approxQuantile(scoreCol, probs, 0.05).distinct.sorted
    // monotone: equal scores share a bucket; casting to double for the
    // boundary compare cannot reorder ranks (ranking uses the raw column).
    // A sum of codegen'd comparisons, NOT filter() over a literal array —
    // Spark evaluates higher-order-function lambdas interpreted, ~10µs/row
    // (measured 3.4 s over 5k rows vs ~0.1 s for this form).
    val bucketIdx =
      if (bounds.isEmpty) lit(0)
      else bounds.map(b =>
        when(lit(b) < col(scoreCol).cast("double"), 1).otherwise(0))
        .reduce(_ + _)
    val counts = scored.withColumn("@bucket", bucketIdx)
      .groupBy("@bucket").agg(count(lit(1)).as("@n"))
    // prefix sums over the per-bucket AGGREGATE rows (≤ `buckets`, never
    // the corpus) — driver-computed + re-broadcast, see driverOffsets;
    // the grand total comes from the same bounded collect (one less
    // crossJoin + aggregate)
    val (offsets, total) = driverOffsets(counts, "@bucket", "@n")
    val w = Window.partitionBy(col("@bucket"))
      .orderBy(col(s"`$scoreCol`"), col(s"`$idCol`"))
    df.withColumn("@bucket", bucketIdx)
      .join(broadcast(offsets), "@bucket")
      .withColumn("rank",
        col("@off") + row_number().over(w).cast("long") - 1)
      .withColumn("bin",
        integral_divide(col("rank") * nBins, lit(total)))
      .drop("@bucket", "@off")
  }

  /** Sequence packing for training: documents are concatenated in id
    * order within each `partitionCol` stream and cut into fixed
    * `capacity`-token context windows — each document gets the bin of
    * its starting token offset (exactly how concat-and-chunk pretraining
    * packing shards a corpus). Packing per partition keeps the window
    * sort embarrassingly parallel: a single global order would serialize
    * 100 TB through one sorted partition, while per-source streams scale
    * with the source count and keep bins reproducible when other sources
    * are added or removed. Bin ids are exact long division (no double
    * round-trip) so offsets beyond 2^53 still bin correctly. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      partitionCol: String, capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    import graft.functions.VectorFunctions.integral_divide
    import org.apache.spark.sql.expressions.Window
    val nTokens = graft.functions.TextFunctions
      .count_tokens(col(textCol), graft.functions.TokenMode.Whitespace)
      .cast("long")
    val w = Window.partitionBy(col(partitionCol)).orderBy(col(idCol))
    df.select(col(idCol), col(partitionCol), nTokens.as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)) - col("n_tokens"))
      .withColumn("bin", integral_divide(col("tok_offset"), lit(capacity)))
  }
}
