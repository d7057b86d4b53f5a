package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  /** corpus with planted exact + near duplicates. */
  lazy val planted = {
    val base = docs.select($"doc_id", $"text").limit(50)
    val exactDup = base.limit(5)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val nearDup = base.limit(5)
      .select(($"doc_id" + 20000).as("doc_id"),
        concat($"text", lit(" tiny edit suffix")).as("text"))
    base.union(exactDup).union(nearDup)
  }

  test("exact dedup finds planted exact duplicates") {
    val out = Dedup.exact(planted, "doc_id", Seq("text"))
    assert(out.count() == 55) // 50 distinct texts + 5 near-dup variants
    assert(out.where($"n_dupes" === 2).count() == 5)
    // representative is the min id (the original, not the 10000+ copy)
    assert(out.where($"n_dupes" === 2 && $"keep_id" >= 10000).count() == 0)
    val byHash = Dedup.exactByHash(planted, "doc_id", "text")
    assert(byHash.count() == 55)
  }

  test("minhash LSH finds planted near-duplicates") {
    val pairs = Dedup.minhashLsh(planted, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.5).collect()
    // every planted near-dup (20000+x) must pair with its original x
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedNear = planted.where($"doc_id" >= 20000)
      .select(($"doc_id" - 20000).as("a"), $"doc_id".as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expectedNear.subsetOf(found),
      s"missing near-dup pairs: ${expectedNear -- found}")
    // exact dups too (jaccard 1.0)
    assert(pairs.count(_.getDouble(2) >= 0.999) >= 5)
  }

  test("simhash near-dup detection") {
    val pairs = Dedup.simhashNearDup(planted, "doc_id", "text", maxHamming = 6)
      .collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact duplicates have identical simhash (hamming 0)
    val expectedExact = (0 until 5).map(i => (i.toLong, i + 10000L)).toSet
    assert(expectedExact.subsetOf(found))
    assert(pairs.filter(r => expectedExact((r.getLong(0), r.getLong(1))))
      .forall(_.getInt(2) == 0))
  }

  test("ngram jaccard near-dup pairs") {
    val pairs = Dedup.ngramJaccard(planted, "doc_id", "text",
      n = 3, threshold = 0.5, maxDocFreq = 100).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedExact = (0 until 5).map(i => (i.toLong, i + 10000L)).toSet
    assert(expectedExact.subsetOf(found))
  }

  test("ngram jaccard count-based verification equals the array-join " +
      "formulation, including the heavy-gram correction") {
    // round 10: verification was reformulated from joining full gram
    // arrays per candidate pair to index-side intersection counts +
    // per-doc set sizes (i / (na + nb - i)). A LOW maxDocFreq forces
    // grams into the heavy (> maxDocFreq) class, exercising the
    // correction term that keeps the jaccard exact over the FULL gram
    // sets while candidates still come from the pruned index only.
    import graft.functions.VectorFunctions.{word_ngram_hashes, sorted_jaccard}
    for (mdf <- Seq(3L, 100L)) {
      val got = Dedup.ngramJaccard(planted, "doc_id", "text",
        n = 3, threshold = 0.4, maxDocFreq = mdf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // reference: same candidate generation, old array-join verification
      val grams = planted.select($"doc_id".cast("long").as("id"),
        word_ngram_hashes($"text", 3).as("grams"))
      val inverted = grams.select($"id", explode($"grams").as("gram"))
      val rare = inverted.groupBy("gram").agg(count(lit(1)).as("df"))
        .where($"df" <= mdf && $"df" >= 2)
      val pruned = inverted.join(rare.select("gram"), Seq("gram"))
      val cand = pruned.as("a").join(pruned.as("b"),
          col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      val want = cand
        .join(grams.toDF("id_a", "grams_a"), "id_a")
        .join(grams.toDF("id_b", "grams_b"), "id_b")
        .select($"id_a", $"id_b",
          sorted_jaccard($"grams_a", $"grams_b").as("jaccard"))
        .where($"jaccard" >= 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === want, s"maxDocFreq=$mdf: count-based vs array-join")
      assert(want.nonEmpty, s"maxDocFreq=$mdf: vacuous fixture")
    }
  }

  test("bucket pair-join guard: identical results, no broadcast, " +
      "output-sized partitioning") {
    // round 9: every banded/bucketed near-dup candidate self-join's
    // output is quadratic per bucket (sum c²/2 pairs) while its input is
    // tiny — AQE-coalesced broadcast plans put the whole pair population
    // on ONE task at scale. Forcing the guard (threshold 0) must
    // (a) keep results identical for all three operator families,
    // (b) plan the candidate join as a shuffle join, not broadcast.
    def run() = (
      Dedup.ngramJaccard(planted, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      Dedup.minhashLsh(planted, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 5, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      Dedup.simhashNearDup(planted, "doc_id", "text", maxHamming = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    val (ngramBase, lshBase, shBase) = run()
    spark.conf.set("graft.dedup.pairGuard", "0")
    try {
      val guarded = Dedup.ngramJaccard(planted, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 100)
      val plan = guarded.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"guard route did not shuffle-hash the candidate join:\n$plan")
      val (ngramG, lshG, shG) = run()
      assert(ngramG === ngramBase, "ngram guard route changed the result set")
      assert(lshG === lshBase, "minhash guard route changed the result set")
      assert(shG === shBase, "simhash guard route changed the result set")
    } finally spark.conf.unset("graft.dedup.pairGuard")
  }

  test("hot-bucket salted tiling: identical pair set, pairs spread " +
      "across tasks (round 11, guide §2.5)") {
    // One bucket key owning 3000 rows = 4.5M pairs. No partitioning on
    // the bucket key can split a single key (AQE splits partitions, not
    // keys), so without the salted route every one of those pairs
    // expands on ONE task. Threshold forced under the fixture (the
    // production default 25M sits at the measured 32-core break-even);
    // the route must (a) produce exactly the baseline pair multiset,
    // (b) spread the expansion over many output partitions.
    val hot = spark.range(0, 3000).select(lit("HOT").as("k"), $"id")
    val rest = spark.range(10000, 12000).select(
      concat(lit("u"), ($"id" % 500).cast("string")).as("k"), $"id")
    val keyed = hot.unionByName(rest)
    def checksum(df: org.apache.spark.sql.DataFrame) =
      df.select($"a.id".as("ia"), $"b.id".as("ib"))
        .agg(count(lit(1)),
          sum(xxhash64($"ia", $"ib").cast("decimal(38,0)"))).head()
    spark.conf.set("graft.dedup.hotBucketPairs", "-1")
    val base =
      try checksum(Dedup.bucketPairJoin(keyed, Seq("k")))
      finally spark.conf.unset("graft.dedup.hotBucketPairs")
    spark.conf.set("graft.dedup.hotBucketPairs", "1000000")
    val salted =
      try Dedup.bucketPairJoin(keyed, Seq("k"))
      finally spark.conf.unset("graft.dedup.hotBucketPairs")
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("@ti"), s"salted route did not engage:\n$plan")
    assert(checksum(salted) === base,
      "salted tiling changed the pair multiset")
    val dist = salted
      .select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .groupBy("pid").count().collect().map(_.getLong(1))
    val total = dist.sum
    assert(dist.max < total / 4,
      s"hot bucket still concentrated: max partition ${dist.max} of $total")
  }

  test("brute-force cosine top-k is sane and symmetric on identical vectors") {
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
    val n = emb.count()
    assert(topk.count() == n * 3)
    val sims = topk.select(max($"sim"), min($"sim")).head
    assert(sims.getDouble(0) <= 1.0001 && sims.getDouble(1) >= -1.0001)
  }

  test("distributed block top-k is bit-identical to the broadcast baseline") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val blk = Similarity.blockTopK(emb, "vec_id", "embedding", k = 3, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(blk.toSeq === bf.toSeq)
  }

  test("distributed near-dup pairs match the broadcast baseline") {
    val bc = Dedup.embeddingNearDupBroadcast(emb, "vec_id", "embedding",
      threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blk = Similarity.blockNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.3, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blk === bc)
    assert(blk.nonEmpty)
  }

  test("rounding guard band: kernels stay bit-identical on sims packed " +
      "at the rounding/threshold boundary") {
    // round 11: the production kernels skip the BigDecimal round for
    // candidates provably below (kth | threshold) − 10⁻⁴ (roundGuard).
    // This fixture densely packs raw sims INSIDE and AROUND that band —
    // offsets of ±0.5·10⁻⁴/±10⁻⁴ around the 0.4 threshold and a top-k
    // cluster spaced 10⁻⁵ apart (every candidate within one guard band
    // of the kth place) — so skip/no-skip decisions and half-up rounding
    // boundaries are both exercised; the unguarded broadcast baselines
    // are the reference.
    def vec(s: Double): Array[Double] =
      Array(s, math.sqrt(math.max(0.0, 1.0 - s * s)))
    val sims = Seq(
      0.4 - 3e-4, 0.4 - 1.1e-4, 0.4 - 1e-4, 0.4 - 0.9e-4, 0.4 - 0.5e-4,
      0.39995, 0.39995000001, 0.4 - 1e-9, 0.4, 0.4 + 0.5e-4, 0.40005,
      0.4001, 0.41) ++
      (0 until 20).map(i => 0.8 + i * 1e-5) ++
      (0 until 10).map(i => 0.79995 + i * 1e-5)
    val rows = (1L, Array(1.0, 0.0)) +: sims.zipWithIndex.map {
      case (s, i) => (i + 2L, vec(s)) }
    val dense = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(dense, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val blk = Similarity.blockTopK(dense, "vec_id", "embedding", k = 5,
      blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(blk === bf, "guarded blockTopK diverged from unguarded baseline")
    val bcPairs = Dedup.embeddingNearDupBroadcast(dense, "vec_id",
      "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blkPairs = Similarity.blockNearDupPairs(dense, "vec_id", "embedding",
      threshold = 0.4, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blkPairs === bcPairs,
      "guarded blockNearDupPairs diverged from unguarded baseline")
    // vacuity: the threshold band must actually contain boundary pairs
    assert(bcPairs.exists(p => p._3 == 0.4) &&
      bcPairs.exists(p => p._3 == 0.4001))
  }

  test("LSH top-k recalls most brute-force neighbors") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 1)
      .select($"qid", $"nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", dim = 64,
      k = 5, bits = 4, tables = 16)
      .select($"qid", $"nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(lsh.contains).toDouble / bf.size
    assert(recall > 0.5, s"LSH recall@top1 too low: $recall")
  }

  test("multi-probe LSH: probing only improves per-query top-k sims") {
    // same tables/bits: the probed candidate set is a superset of the
    // unprobed one, so each query's best similarity can only rise
    def best(probes: Int) = Similarity.lshTopK(emb, "vec_id", "embedding",
      dim = 64, k = 1, bits = 8, tables = 2, probes = probes)
      .where($"rank" === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val plain = best(0); val probed = best(8)
    assert(plain.keySet.subsetOf(probed.keySet))
    assert(plain.forall { case (q, s) => probed(q) >= s - 1e-9 })
    // probing must add at least some boundary neighbors on this corpus
    assert(probed.size > plain.size ||
      plain.exists { case (q, s) => probed(q) > s + 1e-9 })
  }

  test("IVF with full probe is exactly the block top-k answer") {
    val exact = Similarity.blockTopK(emb, "vec_id", "embedding", k = 3, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 3,
      nClusters = 6, nProbe = 6, trainSample = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(ivf === exact)
  }

  test("blockTopKFor with queries = corpus is exactly blockTopK") {
    // the query-batch kernel (p4b's production search shape) must be
    // bit-identical to the self-join kernel on shared inputs — same
    // tiling, rounding, tie-break (structural: one topKScan)
    val a = Similarity.blockTopK(emb, "vec_id", "embedding", k = 4, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = Similarity.blockTopKFor(emb, emb, "vec_id", "embedding", k = 4, blocks = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a === b)
  }

  test("production-config ANN gates hold the planted-recall property") {
    // the driver hash-checks only (n_q, pass); this lock fails with the
    // actual recall when a regression pushes it under the 0.9 threshold
    for (gate <- Seq("p15b_ann_ivf_prod", "p10b_ann_lsh_prod")) {
      val row = PipelineQueries.queries(gate)(spark, dir).head()
      assert(row.getLong(0) > 0, s"$gate: empty planted sample")
      assert(row.getBoolean(1), s"$gate: planted recall below 0.9 " +
        "(re-run R10Probe1Main for per-config recall values)")
    }
  }

  test("IVF with partial probe recalls most brute-force neighbors") {
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 1)
      .select($"qid", $"nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
      nClusters = 8, nProbe = 3, trainSample = 500)
      .select($"qid", $"nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    assert(recall > 0.5, s"IVF recall@top1 too low: $recall")
  }

  test("token stats") {
    val st = TextAnalysis.tokenStats(docs, "doc_id", "text")
    val r = st.agg(min($"ws_tokens"), max($"bpe_tokens")).head
    assert(r.getLong(0) > 0)
    assert(st.count() == docs.count())
  }

  test("quality score in [0,1]") {
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
    val mm = q.agg(min($"quality"), max($"quality")).head
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("language id on clear samples") {
    val samples = Seq(
      (1L, "the cat sat on the mat and it was happy with this"),
      (2L, "der hund und die katze sind mit dem ball für das kind"),
      (3L, "le chat est dans la maison avec les enfants et il est content"),
      (4L, "el perro y el gato es que para en la casa con una bola"))
      .toDF("id", "text")
    val out = TextAnalysis.languageId(samples, "id", "text")
      .orderBy($"id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("en", "de", "fr", "es"))
  }

  test("deterministic split is stable and roughly proportioned") {
    val ids = (1L to 2000L).toDF("id")
    val s1 = Sampling.deterministicSplit(ids, "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s1("train") > 1650 && s1("train") < 1950, s1)
    assert(s1.getOrElse("val", 0L) > 30, s1)
    assert(s1.getOrElse("test", 0L) > 30, s1)
    // stability: same assignment under re-partitioning and reordering
    val a = Sampling.deterministicSplit(ids.repartition(7), "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Sampling.deterministicSplit(ids.orderBy(col("id").desc), "id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
    // deterministic sample is a subset keyed only by id
    val n = Sampling.deterministicSample(ids, "id", 25.0).count()
    assert(n > 350 && n < 650, s"sample size $n")
    // boundary: pct 100 keeps everything; train+val = 100 leaves no test
    assert(Sampling.deterministicSample(ids, "id", 100.0).count() === 2000L)
    val full = Sampling.deterministicSplit(ids, "id", 90.0, 10.0)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!full.contains("test"), full)
    assert(full.getOrElse("val", 0L) > 100, full)
  }

  test("IVF on an empty corpus returns an empty frame") {
    val none = emb.where(lit(false))
    assert(Similarity.ivfTopK(none, "vec_id", "embedding", k = 3).count() === 0L)
  }

  test("semanticDedup with one cell equals the exact near-dup components") {
    // nClusters = 1 puts every vector in the same cell, so the pair set is
    // the exact all-pairs answer and components must match the
    // embeddingNearDup → connectedComponents pipeline bit-for-bit
    val sem = Dedup.semanticDedup(emb, "vec_id", "embedding",
      threshold = 0.3, nClusters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
    val pairs = Dedup.embeddingNearDup(emb, "vec_id", "embedding",
      threshold = 0.3)
    val expected = Dedup.connectedComponents(
        emb.select($"vec_id"), "vec_id", pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(0) == r.getLong(1)))
      .sortBy(_._1)
    assert(sem.toSeq === expected.toSeq)
    assert(sem.exists(!_._3), "fixture should contain at least one drop")
  }

  test("semanticDedup keeps one representative per planted clique") {
    // two tight cliques + two singletons, in well-separated directions so
    // any k-means split keeps each clique within one cell
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.999, 0.01, 0.0)),
      (3L, Array(0.998, 0.02, 0.0)),
      (10L, Array(0.0, 1.0, 0.0)), (11L, Array(0.0, 0.999, 0.01)),
      (20L, Array(0.0, 0.0, 1.0)), (21L, Array(0.7, -0.7, 0.0)))
      .toDF("id", "vec")
    val out = Dedup.semanticDedup(vecs, "id", "vec",
      threshold = 0.95, nClusters = 3, trainSample = 100)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) &&
      out(3L) == (1L, false))
    assert(out(10L) == (10L, true) && out(11L) == (10L, false))
    assert(out(20L) == (20L, true) && out(21L) == (21L, true))
  }

  test("connected components: chains, cliques, singletons") {
    val nodes = (1L to 9L).toDF("id")
    // chain 3-1-2 (min 1), clique 4-5-6 (min 4), edge 8-9 (min 8), 7 alone
    val pairs = Seq((3L, 1L), (1L, 2L), (4L, 5L), (5L, 6L), (4L, 6L), (9L, 8L))
      .toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      6L -> 4L, 7L -> 7L, 8L -> 8L, 9L -> 8L)
    val cc = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === expected)
    // past the single-task bound the GraphX route must agree exactly
    val viaGraphX = Dedup.connectedComponents(nodes, "id", pairs, "a", "b",
        singleTaskMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaGraphX === expected)
    // the pure-DataFrame twin reaches the same fixpoint
    val sql = Dedup.connectedComponentsSql(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql === expected)
  }

  test("CC and BFS route knobs pick the declared engine (round 8)") {
    val nodes = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L,
      6L -> 5L)
    def run() = Dedup.connectedComponents(nodes, "id", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (route <- Seq("sql", "graphx", "auto")) {
      spark.conf.set("graft.cc.route", route)
      try {
        assert(run() === expected, s"route $route diverged")
        assert(Dedup.lastCcRoute === route)
      } finally spark.conf.unset("graft.cc.route")
    }
    // explicit param beats the conf default
    assert(Dedup.connectedComponents(nodes, "id", pairs, "a", "b",
      route = "sql").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap === expected)
    assert(Dedup.lastCcRoute === "sql")
  }

  test("measured auto-routing: busy fixpoints stay SQL, sparse active " +
      "tails escape to seeded Pregel (round 9)") {
    // regime 1 — one deep chain: MOST labels still change at round 2, so
    // the full-frame pointer-jumping rounds are useful work and the loop
    // stays SQL — which also converges in O(log 64) rounds where plain
    // min-propagation Pregel under the default maxIter=25 cap would
    // return UNCONVERGED labels (the bug the first version of this test
    // caught). singleTaskMax = 0 forces past union-find.
    val n = 64L
    val chainNodes = (1L to n).toDF("id")
    val chainPairs = (1L until n).map(i => (i, i + 1L)).toDF("a", "b")
    val chainCc = Dedup.connectedComponents(chainNodes, "id", chainPairs,
        "a", "b", singleTaskMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to n).forall(i => chainCc(i) == 1L), s"wrong fixpoint: $chainCc")
    assert(Dedup.lastCcResolved === "sql",
      s"busy fixpoint should stay SQL, got ${Dedup.lastCcResolved}")
    // regime 2 — a settled majority (150 star components, done after
    // round 1) plus one sparse deep tail (a 50-chain): at round 2 under
    // 10% of vertices still change → escape; Pregel is SEEDED with the
    // partial labels and runs uncapped, so the deep tail still reaches
    // the exact fixpoint.
    val starPairs = (0 until 150).flatMap { i =>
      val c = 1000L + 10L * i
      (1L to 4L).map(k => (c, c + k))
    }
    val tailPairs = (1L until 50L).map(i => (i, i + 1L))
    val mixedPairs = (starPairs ++ tailPairs).toDF("a", "b")
    val mixedNodes = mixedPairs.select(col("a").as("id"))
      .union(mixedPairs.select(col("b").as("id"))).distinct()
    val mixedCc = Dedup.connectedComponents(mixedNodes, "id", mixedPairs,
        "a", "b", singleTaskMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Dedup.lastCcResolved === "graphx",
      s"sparse tail should escape to seeded Pregel, got ${Dedup.lastCcResolved}")
    assert((1L to 50L).forall(i => mixedCc(i) == 1L),
      "seeded Pregel left the deep tail unconverged")
    assert((0 until 150).forall { i =>
      val c = 1000L + 10L * i
      (0L to 4L).forall(k => mixedCc(c + k) == c)
    }, "star components mislabeled")
    // small default: single-task union-find
    Dedup.connectedComponents(chainNodes, "id", chainPairs, "a", "b").count()
    assert(Dedup.lastCcResolved === "unionfind")
  }

  test("measured BFS auto-routing: sparse frontier stays SQL, saturated " +
      "frontier escapes to Pregel (round 9)") {
    import graft.graph.{NodeTable, PropertyGraph, RelTable}
    def graphOf(es: Seq[(Long, Long, Long)], vmax: Long) = new PropertyGraph(
      Seq(NodeTable(Set("V"), (1L to vmax).toDF("id"), "id", Map.empty)),
      Seq(RelTable("E", es.toDF("rid", "src", "dst"),
        "rid", "src", "dst", Map.empty)), spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // chain toward the landmark: frontier is 1 vertex per round → SQL
    val chain = graphOf((1L until 8L).map(i => (100L + i, i, i + 1L)), 8L)
    val viaAuto = rows(graft.interop.GraphXExport
      .shortestPathLengths(chain, Seq(8L)))
    assert(graft.interop.GraphXExport.lastBfsRoute === "auto")
    assert(graft.interop.GraphXExport.lastBfsResolved === "sql",
      s"sparse frontier should stay SQL, got " +
        graft.interop.GraphXExport.lastBfsResolved)
    assert(viaAuto === rows(graft.interop.GraphXExport
      .shortestPathLengthsGraphX(chain, Seq(8L))))
    // star into the landmark: depth-1 frontier covers ~all vertices →
    // escapes to Pregel; identical rows
    val star = graphOf((2L to 40L).map(i => (200L + i, i, 1L)), 40L)
    val viaAuto2 = rows(graft.interop.GraphXExport
      .shortestPathLengths(star, Seq(1L)))
    assert(graft.interop.GraphXExport.lastBfsResolved === "graphx",
      s"saturated frontier should escape, got " +
        graft.interop.GraphXExport.lastBfsResolved)
    assert(viaAuto2 === rows(graft.interop.GraphXExport
      .shortestPathLengthsDf(star, Seq(1L))))
  }

  test("p18 and p22 gates are green through BOTH engine routes (round 8)") {
    // the actual driver-gate functions, run once per route — identical
    // output rows either way
    def rows(name: String): Seq[Seq[Any]] =
      SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toSeq)
    val p18Default = rows("p18_dedup_clusters")
    val p22Default = rows("p22_graph_distances")
    spark.conf.set("graft.cc.route", "sql")
    spark.conf.set("graft.bfs.route", "sql")
    try {
      assert(rows("p18_dedup_clusters") === p18Default,
        "p18 diverged on the DataFrame-native CC route")
      assert(Dedup.lastCcRoute === "sql")
      assert(rows("p22_graph_distances") === p22Default,
        "p22 diverged on the DataFrame-native BFS route")
      assert(graft.interop.GraphXExport.lastBfsRoute === "sql")
    } finally {
      spark.conf.unset("graft.cc.route")
      spark.conf.unset("graft.bfs.route")
    }
  }

  test("DataFrame-native BFS equals GraphX Pregel distances (round 8)") {
    import graft.graph.{NodeTable, PropertyGraph, RelTable}
    // two landmarks, a diamond, an unreachable vertex, a self-loop
    val vs = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val es = Seq((100L, 1L, 2L), (101L, 2L, 3L), (102L, 1L, 3L),
      (103L, 4L, 1L), (104L, 5L, 5L), (105L, 6L, 3L))
      .toDF("rid", "src", "dst")
    val g = new PropertyGraph(
      Seq(NodeTable(Set("V"), vs, "id", Map.empty)),
      Seq(RelTable("E", es, "rid", "src", "dst", Map.empty)), spark)
    val landmarks = Seq(3L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val viaX = rows(graft.interop.GraphXExport
      .shortestPathLengthsGraphX(g, landmarks))
    val viaDf = rows(graft.interop.GraphXExport
      .shortestPathLengthsDf(g, landmarks))
    assert(viaDf === viaX, "route divergence")
    assert(viaDf((1L, 3L)) === 1L) // direct edge beats the 2-hop path
    assert(viaDf((4L, 3L)) === 2L)
    assert(!viaDf.contains((5L, 3L))) // self-loop island never reaches
    // undirected variant agrees too
    assert(rows(graft.interop.GraphXExport.shortestPathLengthsDf(g,
      landmarks, undirected = true)) ===
      rows(graft.interop.GraphXExport.shortestPathLengthsGraphX(g,
        landmarks, undirected = true)))
    // conf routing: the public entry point honours graft.bfs.route
    spark.conf.set("graft.bfs.route", "sql")
    try {
      assert(rows(graft.interop.GraphXExport.shortestPathLengths(g,
        landmarks)) === viaX)
      assert(graft.interop.GraphXExport.lastBfsRoute === "sql")
    } finally spark.conf.unset("graft.bfs.route")
  }

  test("PII redaction replaces all classes and counts hits") {
    val pii = Seq(
      (1L, "mail me at jane.doe+x@corp.example.com or bob@ex.org thanks"),
      (2L, "server 10.0.42.7 rebooted; call 555-123-4567 or (415) 555-0142"),
      (3L, "ssn 123-45-6789 on file"),
      (4L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(pii, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out(1L)._1 === "mail me at <EMAIL> or <EMAIL> thanks")
    assert(out(1L)._2 === 2) // n_email
    assert(out(2L)._1.contains("<IP>") && out(2L)._1.contains("<PHONE>"))
    assert(out(2L)._3 === 1 && out(2L)._5 === 2)
    assert(out(3L)._1 === "ssn <SSN> on file" && out(3L)._4 === 1)
    assert(out(4L)._1 === "nothing sensitive here")
  }

  test("winnowing fingerprint is edit-robust") {
    val fp = TextAnalysis.fingerprint(planted, "doc_id", "text")
    val a = fp.where($"doc_id" === 0).head.getSeq[Long](1).toSet
    val b = fp.where($"doc_id" === 20000).head.getSeq[Long](1).toSet
    val containment = (a & b).size.toDouble / a.size
    assert(containment > 0.9, s"fingerprint containment too low: $containment")
  }

  test("multimodal plumbing: attach, decode stub, resize, frame sample") {
    val media = Multimodal.attachMedia(docs.limit(30), "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeaturesStub(media, featDim = 8,
      decodeParallelism = 4)
    val f = feats.collect()
    assert(f.length == 30 && f.forall(_.features.length == 8))
    // determinism: same input → same features
    val f2 = Multimodal.decodeFeaturesStub(media, featDim = 8).collect()
    assert(f.sortBy(_.doc_id).zip(f2.sortBy(_.doc_id))
      .forall { case (x, y) => x.features.sameElements(y.features) })
    val resized = Multimodal.resize(media, 64, 64)
    assert(resized.where($"width" =!= 64).count() == 0)
    val frames = Multimodal.frameSample(media, 4)
    val vids = media.where($"kind" === "video").count()
    assert(frames.count() == vids * 4)
  }

  test("real image decode: golden fixture pixels → exact luminance features") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // 2x2 golden image: white, black, pure red, pure blue
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFFFFFF); img.setRGB(1, 0, 0x000000)
    img.setRGB(0, 1, 0xFF0000); img.setRGB(1, 1, 0x0000FF)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val feats = Multimodal.decodeImage(bos.toByteArray, 4).get
    // ITU-R 601 luminance of each pixel, one per band (row-major)
    assert(math.abs(feats(0) - 1.0f) < 1e-6, "white")
    assert(math.abs(feats(1) - 0.0f) < 1e-6, "black")
    assert(math.abs(feats(2) - 0.299f) < 1e-6, "red")
    assert(math.abs(feats(3) - 0.114f) < 1e-6, "blue")
    // non-image bytes are rejected, not crashed on
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3), 4).isEmpty)
  }

  test("attachImageMedia emits decodable PNGs; decodeFeatures uses real pixels") {
    val media = Multimodal.attachImageMedia(docs.limit(10), "doc_id", "text",
      width = 8, height = 8)
    val rows = media.collect()
    assert(rows.length == 10)
    // every payload starts with the PNG magic and decodes
    assert(rows.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      (p(0) & 0xFF) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        Multimodal.decodeImage(p, 4).isDefined
    })
    val feats = Multimodal.decodeFeatures(media, featDim = 8).collect()
    assert(feats.length == 10 && feats.forall(_.features.length == 8))
    // real luminance values live in [0, 1] (the byte-fold fallback sums
    // far past 1 for 100+-byte payloads — this locks the REAL path)
    assert(feats.forall(_.features.forall(v => v >= 0f && v <= 1f)))
    // deterministic across runs
    val again = Multimodal.decodeFeatures(media, featDim = 8).collect()
    assert(feats.sortBy(_.doc_id).zip(again.sortBy(_.doc_id))
      .forall { case (x, y) => x.features.sameElements(y.features) })
  }

  test("real audio decode: golden PCM fixture → exact RMS features") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 8 samples: first half silent, second half full-scale square wave
    val pcm = new Array[Byte](16)
    for (i <- 4 until 8) {
      val v = if (i % 2 == 0) 32767 else -32768
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, 8), AudioFileFormat.Type.WAVE, bos)
    val feats = Multimodal.decodeAudio(bos.toByteArray, 2).get
    assert(math.abs(feats(0)) < 1e-6, "silent half")
    assert(math.abs(feats(1) - 1.0f) < 1e-3, "full-scale half RMS ~ 1")
    // non-audio bytes are rejected, not crashed on
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3), 4).isEmpty)
  }

  test("attachAudioMedia emits decodable WAVs; decodeFeatures uses real samples") {
    val media = Multimodal.attachAudioMedia(docs.limit(10), "doc_id", "text")
    val rows = media.collect()
    assert(rows.length == 10)
    // every payload is a RIFF/WAVE container and decodes
    assert(rows.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        Multimodal.decodeAudio(p, 4).isDefined
    })
    val feats = Multimodal.decodeFeatures(media, featDim = 8).collect()
    assert(feats.length == 10 && feats.forall(_.features.length == 8))
    // a 0.8-amplitude sine has RMS ~ 0.57 per span — real decode lands in
    // (0, 1]; the byte-fold fallback sums far past 1 for kB payloads
    assert(feats.forall(_.features.forall(v => v > 0f && v <= 1f)))
    val again = Multimodal.decodeFeatures(media, featDim = 8).collect()
    assert(feats.sortBy(_.doc_id).zip(again.sortBy(_.doc_id))
      .forall { case (x, y) => x.features.sameElements(y.features) })
  }

  test("attachVideoMedia emits decodable animated GIFs with ≥2 real frames") {
    val media = Multimodal.attachVideoMedia(docs.limit(8), "doc_id", "text")
    val rows = media.collect()
    assert(rows.length == 8)
    assert(rows.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      p(0) == 'G' && p(1) == 'I' && p(2) == 'F' &&
        Multimodal.decodeVideoFrames(p).exists(_.size >= 2)
    })
    // duration metadata matches the real frame count (100 ms per frame)
    assert(rows.forall { r =>
      val n = Multimodal.decodeVideoFrames(
        r.getAs[Array[Byte]]("payload")).get.size
      r.getAs[Long]("duration_ms") == n * 100L
    })
    val feats = Multimodal.decodeFeatures(media, featDim = 8).collect()
    // real luminance means land in [0, 1]; the byte-fold fallback sums
    // far past 1 for kB payloads
    assert(feats.length == 8 &&
      feats.forall(_.features.forall(v => v >= 0f && v <= 1f)))
  }

  test("video kernel parity: single-frame GIF equals the same raster as PNG") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // indexed gray raster: GIF stores palette indices, so the pixel values
    // survive both encodes exactly — the two decoders must agree to the bit
    val v = Array.tabulate(256)(_.toByte)
    val icm = new IndexColorModel(8, 256, v, v, v)
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until 8; x <- 0 until 8)
      img.getRaster.setSample(x, y, 0, (x * 31 + y * 7) % 256)
    val gif = Multimodal.encodeGif(Seq(img))
    // write the PNG as explicit RGB: a gray-palette PNG would round-trip
    // through TYPE_BYTE_GRAY, whose getRGB applies a gray→sRGB transfer
    // curve — same pixels, different reported RGB. The indexed GIF and an
    // RGB PNG both report the palette values verbatim.
    val rgb = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) rgb.setRGB(x, y, img.getRGB(x, y))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(rgb, "png", bos)
    val vidFeat = Multimodal.decodeVideo(gif, 1).get
    val imgFeat = Multimodal.decodeImage(bos.toByteArray, 1).get
    assert(vidFeat(0) == imgFeat(0),
      s"video ${vidFeat(0)} != image ${imgFeat(0)}")
  }

  test("frameSample emits real decodable per-frame PNGs from GIF videos") {
    val media = Multimodal.attachVideoMedia(docs.limit(6), "doc_id", "text")
    val frames = Multimodal.frameSample(media, 4).collect()
    assert(frames.length == 6 * 4)
    assert(frames.forall { r =>
      val p = r.getAs[Array[Byte]]("frame_payload")
      p(1) == 'P' && p(2) == 'N' && p(3) == 'G' &&
        Multimodal.decodeImage(p, 2).isDefined
    })
    // stride sampling covers the clip: first sample is frame 0, and a
    // 4-sample stride over an n-frame clip ends inside the clip
    val byDoc = frames.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.values.forall(_.map(_.getAs[Int]("frame_idx")).sorted
      .sameElements(Array(0, 1, 2, 3))))
  }

  test("resizeImages rescales and re-encodes real pixels") {
    val media = Multimodal.attachImageMedia(docs.limit(5), "doc_id", "text",
      width = 8, height = 8)
    val resized = Multimodal.resizeImages(media, 4, 4)
    val rows = resized.collect()
    assert(rows.forall(_.getAs[Int]("width") == 4))
    assert(rows.forall { r =>
      val p = r.getAs[Array[Byte]]("payload")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      img != null && img.getWidth == 4 && img.getHeight == 4
    })
  }

  test("keepBestPerCluster elects the highest-scoring doc, lowest id ties") {
    val ids = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (5L, 7.0))
      .toDF("id", "score")
    // clusters: {1,2,3} (chained), {4}, {5}
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Dedup.keepBestPerCluster(ids, "id", "score", pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(out(1L) === ((1L, false)))
    assert(out(2L) === ((1L, true)))  // 9.0 ties with 3 → lowest id wins
    assert(out(3L) === ((1L, false)))
    assert(out(4L) === ((4L, true))) // singleton keeps itself
    assert(out(5L) === ((5L, true)))
  }

  test("repetition stats flag degenerate documents") {
    val data = Seq(
      (1L, "spam spam spam spam"),                 // one token repeated
      (2L, "all words here are fully distinct"),   // no repetition
      (3L, "ab cd ab cd ab cd"),                   // repeated 2-gram
      (4L, ""),                                    // empty
      (5L, "single")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(data, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4 && out(1L).getDouble(2) == 0.75 &&
      out(1L).getDouble(3) == 1.0) // 4 tokens, 1 distinct, top=4/4
    assert(out(2L).getDouble(2) == 0.0 && out(2L).getDouble(3) == 1.0 / 6)
    // "ab cd" appears 3x of 5 2-grams; "cd ab" 2x
    assert(out(3L).getLong(4) == 5 && out(3L).getDouble(6) == 0.6)
    assert(out(4L).getLong(1) == 0 && out(4L).getDouble(2) == 0.0)
    assert(out(5L).getLong(4) == 0) // one token → no 2-grams
  }

  test("decontamination flags docs sharing n-grams with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training material only"),
      (3L, "ends with quick brown fox jumps")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox jumps high")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(train, bench, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 shares "quick brown fox jumps"; doc 3 too; doc 2 clean
    assert(out(1L).getBoolean(3) && out(3L).getBoolean(3))
    assert(!out(2L).getBoolean(3) && out(2L).getLong(2) == 0)
    assert(out(1L).getLong(2) == 1) // exactly one shared distinct 4-gram
    // every doc appears, including the clean one (left join, not inner)
    assert(out.size == 3)
  }

  test("decontamination: null text, short docs, non-ASCII text, empty bench") {
    val train = Seq[(Long, Option[String])](
      (1L, Some("the quick brown fox jumps")),
      (2L, None),
      (3L, Some("too short")),
      (4L, Some("Über café naïve straße ünïcödé words")),
      (5L, Some("")))
      .toDF("doc_id", "text")
    val bench = Seq[(Long, Option[String])](
      (100L, Some("QUICK brown fox, jumps!")),
      (101L, Some("ÜBER CAFÉ naïve STRASSE straße")),
      (102L, None), (103L, Some("two words")))
      .toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame) =
      TextAnalysis.decontaminate(train, b, "doc_id", "text", n = 3)
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)), r.getLong(2), r.getBoolean(3))).toMap
    val out = run(bench)
    assert(out.size == 5)
    // "quick brown fox", "brown fox jumps"
    assert(out(1L) == ((Some(3L), 2L, true)))
    assert(out(2L) == ((None, 0L, false)))  // null text: null n_grams
    assert(out(3L) == ((Some(0L), 0L, false)))  // fewer than n tokens
    // lowercased across scripts: "über café naïve"; STRASSE ≠ straße
    assert(out(4L) == ((Some(4L), 1L, true)))
    assert(out(5L) == ((Some(0L), 0L, false)))
    // an empty benchmark, and one whose docs yield no grams at all
    for (b <- Seq(bench.limit(0), bench.where($"doc_id" >= 102L))) {
      val clean = run(b)
      assert(clean.keySet == out.keySet)
      assert(clean.values.forall { case (_, hits, flag) => hits == 0 && !flag })
      assert(clean.map { case (id, v) => id -> v._1 } ==
        out.map { case (id, v) => id -> v._1 })
    }
  }

  test("decontamination counts each training row, even when ids repeat") {
    val train = Seq(
      (7L, "quick brown fox jumps over"),
      (7L, "nothing in common here at all"),
      (8L, "quick brown fox"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox jumps")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).sorted.toSeq
    // one output row per input row with its own hits; the earlier
    // join-by-id plan summed hits over rows sharing an id (2 and 2 here)
    assert(out == Seq((7L, 3L, 2L, true), (7L, 4L, 0L, false),
      (8L, 1L, 1L, true)))
  }

  test("decontamination plan: one kernel pass, no Generate, no Exchange " +
      "but the caller's sort") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeLike}
    val df = TextAnalysis.decontaminate(docs.where($"source" =!= "src0"),
      docs.where($"source" === "src0"), "doc_id", "text", n = 4).orderBy("id")
    assert(df.collect().length == docs.where($"source" =!= "src0").count())
    val plan = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case g: GenerateExec => g }.isEmpty, plan)
    assert(helper.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty,
      plan)
    val shuffles = helper.collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size == 1 && shuffles.head.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      plan)
    val kernels = helper.flatMap(plan)(_.expressions.flatMap(_.collect {
      case k: graft.functions.WordNgramHashes => k }))
    assert(kernels.size == 1, plan)
    // and that one projection runs inside whole-stage codegen
    assert(helper.collect(plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.child.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[graft.functions.WordNgramHashes]))) => w
    }.nonEmpty, plan)
  }

  test("sequence packing: per-partition greedy offset binning") {
    val data = Seq(
      (1L, "a " * 300, "s1"), (2L, "b " * 300, "s1"), (3L, "c " * 300, "s1"),
      (4L, "d " * 100, "s2")
    ).map { case (id, t, src) => (id, t.trim, src) }
      .toDF("doc_id", "text", "source")
    val out = Sampling.packSequences(data, "doc_id", "text", "source", 512)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(3) == 0 && out(1L).getLong(4) == 0)   // offset 0 → bin 0
    assert(out(2L).getLong(3) == 300 && out(2L).getLong(4) == 0) // starts at 300
    assert(out(3L).getLong(3) == 600 && out(3L).getLong(4) == 1) // crosses capacity
    assert(out(4L).getLong(3) == 0 && out(4L).getLong(4) == 0)   // own stream
  }

  test("capPerKey keeps a deterministic per-key subset of bounded size") {
    val capped = Sampling.capPerKey(docs, "doc_id", "source", maxPerKey = 7)
    val sizes = capped.groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 7) && sizes.nonEmpty)
    // deterministic: same subset both runs
    val a = capped.select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Sampling.capPerKey(docs, "doc_id", "source", maxPerKey = 7)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("mixture keeps sources at their configured rates") {
    val out = Sampling.mixture(docs, "doc_id", "source",
      Map("src0" -> 100.0, "src1" -> 0.0), defaultPct = 50.0)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs.where(col("source") === "src0").count()
    assert(bySrc("src0") == total)          // 100% kept
    assert(!bySrc.contains("src1"))         // 0% kept
    // ~50% default elsewhere (md5 quantization: just require 20-80%)
    val others = bySrc.view.filterKeys(k => k != "src0").values.sum.toDouble
    val othersTotal = docs.where(col("source") =!= "src0" &&
      col("source") =!= "src1").count().toDouble
    assert(others / othersTotal > 0.2 && others / othersTotal < 0.8)
  }

  test("cleanHtml strips markup, decodes entities, filters short lines") {
    val html =
      """<html><head><style>body { color: red }</style>
        |<script type="text/javascript">var x = "<p>not text</p>";</script>
        |</head><body>
        |<h1>Title Of The Page</h1>
        |<p>First real paragraph with enough words &amp; entities like &lt;tags&gt;.</p>
        |<div>Home</div>
        |<p>Second   paragraph with   irregular    spacing here.</p>
        |<br><div>&copy; footer</div>
        |</body></html>""".stripMargin
    val df = Seq((1L, html)).toDF("doc_id", "html")
    val out = TextAnalysis.cleanHtml(df, "doc_id", "html").collect().head
    val text = out.getString(1)
    val lines = text.split("\n")
    assert(out.getLong(2) == lines.length)
    assert(lines.contains("Title Of The Page"))
    assert(lines.exists(_.contains("enough words & entities like <tags>.")))
    assert(lines.exists(_.contains("Second paragraph with irregular spacing here.")))
    // script/style payloads and short boilerplate lines are gone
    assert(!text.contains("var x") && !text.contains("color: red"))
    assert(!lines.contains("Home") && !text.contains("footer"))
  }

  test("deterministic shuffle is a permutation matching the global key order") {
    val out = Sampling.deterministicShuffle(docs, "doc_id", bucketChars = 2)
    val rows = out.select("doc_id", "pos", "shuffle_key").collect()
    val n = rows.length
    // pos is a 0..n-1 permutation
    assert(rows.map(_.getLong(1)).sorted.toSeq === (0L until n))
    // pos order == (shuffle_key, doc_id) lexicographic order
    val byPos = rows.sortBy(_.getLong(1)).map(r => (r.getString(2), r.getLong(0)))
    assert(byPos.toSeq === byPos.sortBy(identity).toSeq)
    // stable across bucket widths (two-phase rank is width-invariant)
    val wide = Sampling.deterministicShuffle(docs, "doc_id", bucketChars = 3)
      .select("doc_id", "pos").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => wide(r.getLong(0)) == r.getLong(1)))
  }

  test("null ids survive every hash-keyed primitive (sentinel bucket)") {
    // a null id used to yield a null md5 bucket: NPE in the driver
    // prefix-sum sort and silent row loss at the bucket join-back
    import spark.implicits._
    val withNull = docs.select(
      when(col("doc_id") === docs.select(min("doc_id")).head.getLong(0),
        lit(null)).otherwise(col("doc_id")).as("doc_id"),
      col("text"))
    val n = withNull.count()
    val shuffled = Sampling.deterministicShuffle(withNull, "doc_id")
    assert(shuffled.count() === n, "shuffle dropped the null-id row")
    assert(shuffled.select("pos").as[Long].collect().sorted.toSeq
      === (0L until n), "pos not a permutation with a null id")
    val split = Sampling.deterministicSplit(withNull, "doc_id")
    assert(split.count() === n)
    assert(split.where(col("doc_id").isNull).count() === 1)
    val budget = Sampling.takeTokenBudget(withNull, "doc_id", "text", 1L << 40)
    assert(budget.count() === n, "token budget dropped the null-id row")
  }

  test("token budget keeps exactly the affordable shuffle-order prefix") {
    val budget = 20000L
    val kept = Sampling.takeTokenBudget(docs, "doc_id", "text", budget,
      bucketChars = 2).select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: single-pass cumulative over the same (md5 key, id) order
    val ordered = Sampling.deterministicShuffle(docs, "doc_id", bucketChars = 2)
      .withColumn("n",
        size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .cast("long"))
      .select("doc_id", "pos", "n").collect().sortBy(_.getLong(1))
    var cum = 0L
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    ordered.foreach { r =>
      cum += r.getLong(2)
      if (cum <= budget) expect(r.getLong(0)) = r.getLong(2)
    }
    assert(kept === expect)
    assert(kept.values.sum <= budget)
  }

  test("paragraph dedup keeps first occurrence, preserves order, drops empty docs") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),   // all first occurrences
      (2L, "beta\ndelta"),          // beta claimed by doc 1
      (3L, "alpha\nbeta"),          // everything claimed -> doc drops out
      (4L, "beta\nbeta\nepsilon")   // in-doc duplicate also deduped
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    val byId = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(1L) == "alpha\nbeta\ngamma")
    assert(byId(2L) == "delta")
    assert(byId(4L) == "epsilon")
    assert(out.map(_.getLong(2)).toSeq == Seq(3L, 1L, 1L))
  }

  test("hashed linear score: deterministic, sign decides keep, zero-safe") {
    val df = Seq((1L, "spark merge window"), (2L, "spark merge window"),
      (3L, ""), (4L, "zzz")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedLinearScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(2) == out(1).getLong(2)) // same text, same score
    assert(out(2).getLong(1) == 0L && out(2).getDouble(3) == 0.0)
    out.foreach { r =>
      assert(math.abs(r.getDouble(3)) <= 1.0)
      assert(r.getBoolean(4) == (r.getLong(2) > 0L))
    }
    // stable across partitionings
    val again = TextAnalysis.hashedLinearScore(df.repartition(3), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(2)).toSeq == again.map(_.getLong(2)).toSeq)
  }

  test("bm25 ranks the term-dense short doc first and respects k") {
    val df = Seq(
      (1L, "spark spark spark"),                       // dense in query term
      (2L, "spark alpha beta gamma delta epsilon"),    // diluted
      (3L, "alpha beta gamma"),                        // no hit -> excluded
      (4L, "spark spark alpha")
    ).toDF("doc_id", "text")
    val out = Search.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 2)
      .collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L) // highest tf, shortest doc
    assert(out(0).getDouble(1) > out(1).getDouble(1))
    val all = Search.bm25TopK(df, "doc_id", "text", Seq("spark"), k = 10)
      .collect()
    assert(all.map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("tf-idf: rare terms weigh more than common ones") {
    val df = Seq(
      (1L, "common rare"), (2L, "common alpha"), (3L, "common beta"))
      .toDF("doc_id", "text")
    val out = Search.tfIdf(df, "doc_id", "text", Seq("common", "rare"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(out((1L, "rare")) > out((1L, "common")))
    assert(out.keySet == Set((1L, "common"), (1L, "rare"),
      (2L, "common"), (3L, "common"))) // tf=0 rows filtered
    // df counts: common in 3 docs, rare in 1
    assert(out((1L, "common")) == 1.0 * (3.0 / 4.0))
    assert(out((1L, "rare")) == 1.0 * (3.0 / 2.0))
  }

  test("quantile bins: exact ranks, ntile-free bin formula, boundary-independent") {
    val df = (1L to 100L).map(i => (i, (i * 37) % 101)).toDF("id", "score")
    val out = Sampling.quantileBins(df, "id", "score", nBins = 10, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // ranks are a permutation of 0..99
    assert(out.map(_._2).sorted == (0L until 100L))
    // bins are exact deciles of 100 rows: 10 each
    assert(out.groupBy(_._3).view.mapValues(_.size).toMap ==
      (0L to 9L).map(_ -> 10).toMap)
    // rank matches the driver-side exact sort, regardless of bucket count
    val expect = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (id, s) => (s, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> i.toLong }.toMap
    out.foreach { case (id, rank, _) => assert(rank == expect(id)) }
    val again = Sampling.quantileBins(df.repartition(7), "id", "score",
      nBins = 10, buckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    out.foreach { case (id, rank, _) => assert(again(id) == rank) }
    // degenerate: constant score → one bucket, still exact
    val const = (1L to 20L).map(i => (i, 5L)).toDF("id", "score")
    val c = Sampling.quantileBins(const, "id", "score", nBins = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (1L to 20L).foreach(i => assert(c(i) == i - 1))
  }

  test("cache registry releases near-dup generator persists") {
    // check the registry's OWN entries, not global persistent-RDD counts
    // (suites share the SparkSession — other tests persist concurrently)
    val reg = new CacheRegistry()
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
      n = 3, threshold = 0.3, maxDocFreq = 5000, caches = reg)
    pairs.count()
    val entries = reg.tracked
    assert(entries.nonEmpty, "generator should have persisted derived tables")
    assert(entries.exists(
      _.storageLevel != org.apache.spark.storage.StorageLevel.NONE))
    reg.release()
    assert(entries.forall(
      _.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "release() must unpersist every tracked entry")
  }

  test("cache registry tracks and releases a frame aliased by an earlier persist") {
    // another caller (the untracked lru default) persists an equivalent
    // plan first: the tracked registry must still own and release it
    val narrow = docs.select(col("doc_id"), length(col("text")).as("len"))
    CacheRegistry.lru.persist(narrow)
    val reg = new CacheRegistry()
    val aliased = reg.persist(
      docs.select(col("doc_id"), length(col("text")).as("len")))
    assert(reg.tracked.size == 1)
    assert(aliased.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    reg.release()
    assert(narrow.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("token-share mixture respects per-source budgets deterministically") {
    val total = 2000L
    val shares = Map("src0" -> 0.4, "src1" -> 0.3)
    val kept = Sampling.mixtureByTokens(docs, "doc_id", "text", "source",
      total, shares, defaultShare = 0.05, bucketChars = 2)
    val bySource = kept.groupBy("source")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every source stays within floor(share * budget)
    bySource.foreach { case (src, toks) =>
      val budget = (total * shares.getOrElse(src, 0.05)).toLong
      assert(toks <= budget, s"$src exceeded its token budget")
    }
    // per-source selection equals the affordable prefix of the source's
    // own md5 order (reference: single-pass cumulative per source)
    val perSource = docs
      .withColumn("k", md5(concat(col("doc_id").cast("string"), lit(":42"))))
      .withColumn("n",
        size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .cast("long"))
      .select("doc_id", "source", "k", "n").collect()
      .groupBy(_.getString(1))
    val expect = perSource.toSeq.flatMap { case (src, rows) =>
      val budget = (total * shares.getOrElse(src, 0.05)).toLong
      var cum = 0L
      rows.sortBy(r => (r.getString(2), r.getLong(0))).flatMap { r =>
        cum += r.getLong(3)
        if (cum <= budget) Some(r.getLong(0)) else None
      }
    }.toSet
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
    // determinism across partitionings
    val again = Sampling.mixtureByTokens(docs.repartition(7), "doc_id",
      "text", "source", total, shares, defaultShare = 0.05, bucketChars = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == expect)
  }
}
