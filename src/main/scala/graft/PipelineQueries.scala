package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline._
import graft.sources.ParquetTables

/** Training-data pipeline operators as driver-gate queries. Oracles are
  * provided wherever DuckDB can express the same computation; hash-based
  * ops (minhash/simhash/LSH/fingerprints) are engine-specific and get the
  * driver's rows-only check instead.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) =
    ParquetTables.read(s, s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String) =
    ParquetTables.read(s, s"$dir/embeddings.parquet")

  /** Planted ANN ground truth (round 10, the production-config gates).
    * The synthetic embeddings are uniform random, so "recall vs the
    * exact top-5" measures retrieval of items at background similarity
    * (~0.4) — production-sized LSH scores 0.02 on that, IVF 0.25-0.59
    * (R10Probe1Main, raw variant), on ANY engine, because structureless
    * data has no neighbors to find. ANN's contract is retrieval of
    * genuinely SIMILAR items, so the gates use the standard
    * ANN-benchmark methodology instead: md5-sample 1/16 of the corpus,
    * perturb each vector ±10% elementwise (xxhash64-seeded ⇒ fully
    * deterministic, ~3° angle, cos ≈ 0.998 ≫ background), offset ids by
    * 1e9, and score whether the production path retrieves each planted
    * query's true nearest corpus vector in its top-5. Measured 1.00 at
    * every SF including the 10× fixture; gate threshold 0.9. */
  private val annQOff = 1000000000L
  private def annCorpus(e: DataFrame): DataFrame =
    e.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
  private def annPlanted(corpus: DataFrame): DataFrame =
    corpus.where(
      substring(md5(col("vec_id").cast("string")), 1, 1) === "0")
      .select((col("vec_id") + annQOff).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          x * (lit(1.0) + lit(0.1) *
            (pmod(xxhash64(col("vec_id") * 64 + j), lit(1000))
              .cast("double") / 499.5 - 1.0))).as("embedding"))

  /** md5-keyed MinHash-LSH near-dup pairs with Spark BUILTINS only — the
    * p6 gate variant DuckDB reproduces bit-for-bit. Same algorithm as
    * [[Dedup.minhashLsh]] (signatures → bands → bucket self-join → exact
    * Jaccard verify) with the hash family derived from md5: h_seed(gram)
    * = first 16 md5 hex chars of "seed:gram". Minima compare
    * LEXICOGRAPHICALLY — on fixed-length lowercase hex that equals
    * numeric order, identically in Spark and DuckDB (the p9 trick), so
    * no hex→int conversion is needed anywhere. Shingles are distinct
    * word trigrams (p8's gram space). The production path stays
    * [[Dedup.minhashLsh]] (xxhash64 kernel, property-tested Jaccard
    * bound); this exists so the gate's pair set is oracle-exact. */
  private def md5MinhashPairs(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.3,
      caches: CacheRegistry = CacheRegistry.lru): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    val r = numHashes / bands
    // the token array is bound as a REAL column before the gram
    // transform references it: with the split expression inlined in the
    // lambda, every per-element element_at re-evaluated the split —
    // O(tokens²) per document, measured 12.6 s → 4.1 s for this stage
    // at sf0.1 (multiple uses of a non-cheap attribute block Catalyst's
    // CollapseProject, so the bind is stable)
    val toks = graft.functions.TextFunctions.split_tokens(
      lower(col(textCol)), graft.functions.TokenMode.AsciiAlnum)
    val grams = array_distinct(
      when(size(col("w")) >= 3,
        transform(sequence(lit(1), size(col("w")) - 2),
          i => concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
        .otherwise(array().cast("array<string>")))
    // the gram table feeds the hash pipeline, both verification joins, and
    // the size counts; the banded table feeds both self-join sides —
    // persist both so documents tokenize+hash ONCE (without this, the
    // self-join recomputes every md5 twice and the verify joins twice more)
    val sh = caches.persist(df
      .select(col(idCol).cast(LongType).as("id"), toks.as("w"))
      .select(col("id"), explode(grams).as("s")))
    // all numHashes md5s are computed as COLUMNS of one codegen'd pass
    // over the (id, gram) rows, then min-aggregated per document in a
    // single shuffle with map-side partial mins — the earlier explode to
    // (gram × seed) rows + groupBy(id, seed) + groupBy(id, band) pair of
    // shuffles made this the slowest first call in the suite (16.9 s of
    // the 73.6 s first-call total at sf0.1). A nested transform/array_min
    // formulation is WORSE (~234 s measured): higher-order functions
    // don't participate in whole-stage codegen, so every md5 runs
    // interpreted. Same md5 values either way; docs with no grams can't
    // pair and drop out exactly as before (no sh rows → no sig row).
    // ONE md5 per gram (28-bit base hash), then numHashes affine
    // permutations mod a prime — a MinHash family DuckDB reproduces
    // exactly (('0x'||substr(md5,1,7))::BIGINT + the same (a·x+b)%p).
    // The previous family hashed md5("seed:gram") per seed: 16× the md5
    // work for the same gate semantics (a·x < 2^48, no overflow).
    val hx = sh.select(col("id"),
      conv(substring(md5(col("s")), 1, 7), 16, 10).cast(LongType).as("x"))
    val hashMins = (0 until numHashes).map { seed =>
      min((lit(976369L + seed * 1049L) * col("x") +
        lit(1234567L + seed * 2477L)) % lit(1073741789L)).as(s"h$seed")
    }
    val sig = hx.groupBy(col("id")).agg(hashMins.head, hashMins.tail: _*)
    val bandKeys = array((0 until bands).map { b =>
      concat_ws(",", (b * r until (b + 1) * r)
        .map(sd => col(s"h$sd").cast(StringType)): _*)
    }: _*)
    val banded = caches.persist(
      sig.select(col("id"), posexplode(bandKeys)).toDF("id", "band", "key"))
    val cand = Dedup.bucketPairJoin(banded, Seq("band", "key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val nsz = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.toDF("id_a", "s"), "id_a")
      .join(sh.toDF("id_b", "s"), Seq("id_b", "s"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
    inter
      .join(nsz.toDF("id_a", "na"), "id_a")
      .join(nsz.toDF("id_b", "nb"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("i").cast(DoubleType) /
          (col("na") + col("nb") - col("i")).cast(DoubleType)).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** md5-keyed SimHash fingerprints with Spark BUILTINS only — the p13
    * gate variant DuckDB reproduces bit-for-bit. 64 bits come from the
    * first 16 md5 hex chars as two 32-bit halves (hi = hex[0..8),
    * lo = hex[8..16)); each token occurrence votes ±1 per bit; bit b of
    * the fingerprint is set when votes are positive. The combined long is
    * hi << 32 | lo, so Hamming distances equal the oracle's per-half
    * bit_count sum. Production path stays [[Dedup.withSimhash]] (one-pass
    * codegen kernel); this exists so the gate's pair set is oracle-exact. */
  private def md5Simhash(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val toks = df.select(col(idCol).cast(LongType).as("id"),
      explode(graft.functions.TextFunctions.split_tokens(
        lower(col(textCol)), graft.functions.TokenMode.AsciiAlnum)).as("tok"))
    val h = toks.select(col("id"),
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast(LongType).as("hi"),
      conv(substring(md5(col("tok")), 9, 8), 16, 10).cast(LongType).as("lo"))
    // all 64 bit votes as COLUMNS of one codegen'd aggregation pass —
    // the earlier bit-struct explode amplified every token row 64× and
    // paid a (id, bit) + (id) shuffle pair; this is a single shuffle of
    // 64-column map-side partial sums (same trick as the p6 gate's
    // per-seed minima). Vote values are identical, so the DuckDB oracle
    // (which replays the vote model row-at-a-time) is unchanged.
    val voteCols = (0 until 64).map { b =>
      val half = if (b < 32) col("lo") else col("hi")
      val mask = if (b < 32) 1L << b else 1L << (b - 32)
      sum(when(half.bitwiseAND(lit(mask)) =!= 0L, 1L).otherwise(-1L))
        .as(s"v$b")
    }
    val votes = h.groupBy(col("id")).agg(voteCols.head, voteCols.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    votes.select(col("id"), fp.as("simhash"))
  }
  /** events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized reader
    * rejects; read it as a Long of epoch-nanos (exact — no double round
    * trip) and derive seconds with integer division. */
  private def events(s: SparkSession, dir: String) = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetTables.read(s, s"$dir/events.parquet")
    // Physical ts encoding varies by data generation (int64 nanos read as
    // Long under nanosAsLong, or timestamp[us] read as TIMESTAMP_NTZ).
    // Normalize to epoch-nanos Long: every downstream op (session gaps,
    // range tolerances, time buckets) does pure ts arithmetic, which is
    // encoding- and timezone-shift-invariant.
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn("ts",
          expr("unix_micros(cast(ts as timestamp_ltz))") * lit(1000L))
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact deduplication: representative id + group size per distinct text
    "p1_dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", Seq("text"))
        .select(col("keep_id"), col("n_dupes")).orderBy("keep_id")),
    // token counting (whitespace + BPE-ish regex)
    "p2_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // quality scoring signals
    "p3_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_token_len"),
          col("digit_ratio")).orderBy("doc_id")),
    // exact cosine top-k via the distributed tiled kernel (no driver
    // collect; bruteForceTopK remains the test-only single-node baseline)
    "p4_ann_topk" -> ((s, dir) =>
      Similarity.blockTopK(emb(s, dir), "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rank"))),
    // PRODUCTION search shape (round 10, VERDICT item 2): exact top-k for
    // a deterministic md5-sampled QUERY BATCH (1/16) against the full
    // corpus — |Q|·N dot products, LINEAR in the corpus, vs p4's
    // all-pairs N². Hash-exact vs the DuckDB cross-join oracle (same
    // rounding + sim-desc/id-asc tie-break as p4).
    "p4b_ann_search" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.blockTopKFor(
        e.where(substring(md5(col("vec_id").cast("string")), 1, 1) === "0"),
        e, "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rank"))
    }),
    // PRODUCTION-config IVF (cells ≈ 4·√N, nProbe = 8 ≪ cells — the
    // sublinear path p15's exact-degeneracy gate deliberately does not
    // measure), judged by the planted-ground-truth recall property:
    // pass ⇔ avg recall ≥ 0.9 (R10Probe1Main measured 1.00 at every SF;
    // raw top-5-of-random-noise recall is meaningless — see annPlanted).
    // The driver hash-checks (n_q, pass) against the oracle's
    // (sample count, true): the property IS the gate.
    "p15b_ann_ivf_prod" -> ((s, dir) => {
      val e = annCorpus(emb(s, dir))
      val n = e.count()
      val cells = math.max(8, (4 * math.sqrt(n.toDouble)).toInt)
      val q = annPlanted(e)
      val ann = Similarity.ivfTopK(e.unionByName(q), "vec_id", "embedding",
        k = 5, nClusters = cells, nProbe = 8).where(col("qid") >= annQOff)
      val exact1 = Similarity.blockTopKFor(q, e, "vec_id", "embedding", k = 1)
      Similarity.recallAtK(ann, exact1)
        .agg(count(lit(1)).as("n_q"), avg(col("recall")).as("r"))
        .select(col("n_q"), (col("r") >= 0.9).as("pass"))
    }),
    // PRODUCTION-config LSH (bits = 12, tables = 8), same planted-recall
    // property gate as p15b.
    "p10b_ann_lsh_prod" -> ((s, dir) => {
      val e = annCorpus(emb(s, dir))
      val q = annPlanted(e)
      val ann = Similarity.lshTopK(e.unionByName(q), "vec_id", "embedding",
        dim = 64, k = 5, bits = 12, tables = 8).where(col("qid") >= annQOff)
      val exact1 = Similarity.blockTopKFor(q, e, "vec_id", "embedding", k = 1)
      Similarity.recallAtK(ann, exact1)
        .agg(count(lit(1)).as("n_q"), avg(col("recall")).as("r"))
        .select(col("n_q"), (col("r") >= 0.9).as("pass"))
    }),
    // IVF (k-means inverted-file) ANN — the data-adapted scale path next
    // to LSH. The gate probes ALL cells (nProbe = nClusters, the exact
    // degeneracy, spec-locked ≡ blockTopK) so the full IVF machinery —
    // train, assign, secondary-sort probe — runs end-to-end with a
    // DuckDB-checkable exact answer; partial-probe recall behavior is
    // covered by PipelineSpec
    // nProbe = nClusters ON PURPOSE: probing every cell makes IVF exactly
    // equal to brute-force top-k, which is what lets this gate be
    // oracle-EXACT (hash-matched against DuckDB) instead of rows-only.
    // That doubles the gate's cost vs a realistic partial probe — the
    // honest price of exactness. Do NOT "optimize" this back to a partial
    // probe: recall under partial probing is covered by PipelineSpec.
    "p15_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(emb(s, dir), "vec_id", "embedding", k = 5,
        nClusters = 32, nProbe = 32, trainSample = 5000)
        .orderBy(col("qid"), col("rank"))),
    // PII redaction: typed placeholder tokens + per-class audit counts —
    // RE2-compatible patterns so the DuckDB oracle reproduces byte-for-byte
    "p16_pii_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // deterministic train/val/test split (md5-bucketed: stable across
    // engines and input order — contamination control at scale)
    "p17_split" -> ((s, dir) =>
      Sampling.deterministicSplit(docs(s, dir), "doc_id")
        .select(col("doc_id"), col("split")).orderBy("doc_id")),
    // benchmark decontamination: docs from src0 act as the held-out eval
    // corpus; every other doc is checked for any shared word 4-gram
    "p19_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.decontaminate(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        "doc_id", "text", n = 4).orderBy("id")
    }),
    // Gopher-style repetition filter signals (token + 2-gram dup/top fracs)
    "p20_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // sequence packing: concat-and-chunk into 512-token bins per source
    "p21_pack" -> ((s, dir) =>
      Sampling.packSequences(docs(s, dir), "doc_id", "text",
        "source", capacity = 512).orderBy("doc_id")),
    // language ID (heuristic, engine-specific → rows-only)
    "p5_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // MinHash LSH near-dup candidate pairs (rows-only)
    // MinHash-LSH pairs, md5-keyed like p7/p13 so the oracle checks the
    // exact pair set (production kernel = Dedup.minhashLsh, covered by
    // KernelPropertySpec's Jaccard bound + PipelineSpec)
    "p6_minhash_pairs" -> ((s, dir) =>
      md5MinhashPairs(docs(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),
    // SimHash fingerprints, md5-keyed like p13 so the oracle checks the
    // exact 64-bit values (production kernel covered by KernelPropertySpec)
    "p7_simhash" -> ((s, dir) =>
      md5Simhash(docs(s, dir), "doc_id", "text").orderBy("id")),
    // n-gram Jaccard near-dup pairs (DuckDB string-gram oracle)
    "p8_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text",
        n = 3, threshold = 0.3, maxDocFreq = 5000).orderBy("id_a", "id_b")),
    // winnowing fingerprints. The gate keys the k-gram hash with md5
    // (DuckDB-computable; hex-string minima are lexicographic on both
    // sides) so the oracle checks the EXACT sketch — the engine default
    // stays xxhash64 (8-byte entries), same algorithm either way.
    "p9_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text",
          hash = c => md5(c))
        .select(col("doc_id"),
          size(col("fingerprint")).cast("long").as("fp_size"),
          md5(concat_ws(",", col("fingerprint"))).as("fp_md5"))
        .orderBy("doc_id")),
    // LSH-bucketed ANN (scale path; rows-only). 8 bits → 256 buckets per
    // table keeps candidate fan-out ~n²/256 per table instead of ~n²/16.
    "p10_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(emb(s, dir), "vec_id", "embedding", dim = 64,
        k = 5, bits = 8, tables = 8).orderBy(col("qid"), col("rank"))),
    // SimHash near-dup pairs by banded Hamming distance. The gate derives
    // fingerprints from md5 token hashes with Spark builtins (DuckDB can
    // reproduce them bit-for-bit; the oracle then verifies the WHOLE pair
    // set all-pairs — banding has exact recall by pigeonhole, so the sets
    // must agree). The production kernel (one-pass simhash64 expression)
    // stays the engine default, spec-locked via KernelPropertySpec.
    "p13_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(md5Simhash(docs(s, dir), "doc_id", "text"),
          maxHamming = 6)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_a", "id_b")),
    // embedding-cosine near-duplicate pairs (exact baseline)
    "p12_embedding_dedup" -> ((s, dir) =>
      Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")),
    // near-dup pairs → dedup clusters via distributed label propagation;
    // oracle = recursive-CTE transitive closure over the same pair list
    "p18_dedup_clusters" -> ((s, dir) => {
      val e = emb(s, dir)
      val pairs = Dedup.embeddingNearDup(e, "vec_id", "embedding",
        threshold = 0.4)
      Dedup.connectedComponents(e, "vec_id", pairs, "id_a", "id_b")
        .orderBy("id")
    }),
    // near-dup clusters + keep the HIGHEST-QUALITY copy per cluster
    // (longest text, lowest id tie-break) — the real-pipeline dedup
    // policy; oracle = recursive closure + per-cluster argmax window
    "p35_dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.ngramJaccard(d, "doc_id", "text", n = 3,
        threshold = 0.3, maxDocFreq = 5000)
      Dedup.keepBestPerCluster(
        d.withColumn("score", length(col("text")).cast("double")),
        "doc_id", "score", pairs, "id_a", "id_b").orderBy("id")
    }),
    // duplicated-substring span detection (Lee et al. 2022 ExactSubstr
    // re-shaped: stride-aligned window hashing instead of a suffix array;
    // windows shuffle as (hash, id, pos) triples, never text). Oracle
    // replays the election grouping by raw window text where the engine
    // groups by xxhash64 — identical classes absent 64-bit collisions.
    "p36_substring_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), "doc_id", "text",
        window = 64, stride = 16)
        .orderBy("doc_id", "span_start")),
    // duplicated-substring REMOVAL: all copies of every duplicated span
    // dropped (the paper's default), byte-exact oracle reconstruction
    "p37_substring_strip" -> ((s, dir) =>
      Dedup.stripDuplicateSpans(docs(s, dir), "doc_id", "text",
        window = 64, stride = 16)
        .orderBy("doc_id")),
    // SemDeDup semantic dedup: k-means cells (sample-trained, broadcast)
    // → within-cell dense cosine kernel → component representatives.
    // Rows-only: cluster assignment is engine-specific by design.
    // gate runs the nClusters=1 EXACT degeneracy (distributed tiled
    // kernel, p12's oracle-exact pair path) so the whole output is
    // DuckDB-checkable; the clustered path (cells → in-cell kernel) is
    // spec-locked to equal this at nClusters=1 and covered by the
    // degeneracy + property tests
    "p34_semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, nClusters = 1, trainSample = 5000)
        .orderBy("id")),
    // unbounded BFS hop counts via GraphX Pregel (the interop scale path
    // past the Cypher shortestPath()'s bounded unroll): distance from
    // every customer to its region over the TPC-H FK graph. Landmarks
    // are a driver-side list by design (schema-scale: one per region).
    "p22_graph_distances" -> ((s, dir) => {
      val g = graft.sources.TpchGraph.load(s, dir)
      val regions = g.nodeTables.find(_.labels == Set("Region")).get
      val landmarks = regions.df.select(col(regions.idCol))
        .collect().map(_.getLong(0)).toSeq
      val dists = graft.interop.GraphXExport.shortestPathLengths(g, landmarks,
        relTypes = Set("IN_NATION", "IN_REGION"))
      val cust = g.nodeTables.find(_.labels == Set("Customer")).get
      dists.join(cust.df, dists("id") === col(cust.idCol))
        .select(col("c_custkey").as("ck"), col("dist"))
        .orderBy("ck")
    }),
    // deterministic global shuffle position (two-phase rank: per-bucket
    // windows + bucket-cardinality prefix sum, no global single-partition
    // window) — DuckDB reproduces the md5 order exactly
    "p23_shuffle" -> ((s, dir) =>
      Sampling.deterministicShuffle(docs(s, dir), "doc_id")
        .select(col("doc_id"), col("pos")).orderBy("doc_id")),
    // token-budget-capped corpus prefix in deterministic-shuffle order
    "p24_token_budget" -> ((s, dir) =>
      Sampling.takeTokenBudget(docs(s, dir), "doc_id", "text",
        budget = 15000L)
        .select(col("doc_id"), col("n_tokens")).orderBy("doc_id")),
    // per-source document cap (anti-spam: at most N docs per source,
    // deterministic md5-ranked subset)
    "p26_source_cap" -> ((s, dir) =>
      Sampling.capPerKey(docs(s, dir), "doc_id", "source", maxPerKey = 15)
        .select(col("doc_id"), col("source")).orderBy("doc_id")),
    // weighted corpus mixture (per-source keep probability, md5 buckets)
    "p27_mixture" -> ((s, dir) =>
      Sampling.mixture(docs(s, dir), "doc_id", "source",
        Map("src0" -> 100.0, "src1" -> 50.0, "src2" -> 25.0),
        defaultPct = 10.0)
        .select(col("doc_id"), col("source")).orderBy("doc_id")),
    // token-share mixture: each source contributes its share of the run's
    // TOKEN budget (training mixtures are token-weighted, not doc-weighted)
    "p28_token_mixture" -> ((s, dir) =>
      Sampling.mixtureByTokens(docs(s, dir), "doc_id", "text", "source",
        totalBudget = 4000L,
        shares = Map("src0" -> 0.25, "src1" -> 0.2, "src2" -> 0.15),
        defaultShare = 0.05)
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy("doc_id")),
    // HTML boilerplate removal (web-crawl → training text). The fixture
    // corpus is plain text, so the query synthesizes deterministic markup
    // around it — the oracle applies the identical wrapper.
    "p25_clean_html" -> ((s, dir) => {
      val wrapped = docs(s, dir).select(col("doc_id"),
        concat(lit("<html><head><style>p{x}</style></head><body><h1>T</h1><p>"),
          col("text"),
          lit("</p><div>nav &amp; footer</div><script>var x=1;</script></body></html>"))
          .as("html"))
      TextAnalysis.cleanHtml(wrapped, "doc_id", "html").orderBy("doc_id")
    }),
    // order-preserving paragraph-level exact dedup (repeated-passage
    // removal). The corpus has no paragraph breaks, so the query first
    // re-chunks each doc into 10-token paragraphs (deterministic wrapper,
    // same style as p25's synthesized HTML).
    "p29_paragraph_dedup" -> ((s, dir) => {
      // round 11: the 10-token re-chunking is "replace every 10th space
      // with \n" — split(text, " ") partitions at every single space, so
      // the earlier split + interpreted transform/slice/concat_ws/join
      // pipeline (O(tokens) lambda dispatches per doc, evaluated on BOTH
      // sides of paragraphDedup's winner join) collapses to one codegen
      // byte pass (ReplaceNthDelim scaladoc carries the identity proof;
      // TextKernelSpec locks it elementwise, oracle unchanged).
      Dedup.paragraphDedup(
        docs(s, dir).select(col("doc_id"),
          graft.functions.TextFunctions
            .replace_nth_delim(col("text"), 10, ' ', '\n').as("ptext")),
        "doc_id", "ptext").orderBy("doc_id")
    }),
    // hashed bag-of-words linear quality model (fastText shape) with a
    // deterministic weight lattice — byte-exact DuckDB oracle
    "p30_quality_model" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // BM25 keyword retrieval top-k (rational idf → cross-engine exact)
    "p31_bm25" -> ((s, dir) =>
      Search.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("spark", "window", "merge"), k = 10)),
    // TF-IDF features over a fixed vocabulary
    "p32_tfidf" -> ((s, dir) =>
      Search.tfIdf(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "window", "customer"))
        .orderBy("doc_id", "term")),
    // exact global quantile binning (quality deciles by token count) via
    // range-bucketed two-phase rank — no single-partition window
    "p33_quality_bins" -> ((s, dir) => {
      val scored = docs(s, dir).select(col("doc_id"),
        graft.functions.TextFunctions
          .count_tokens(col("text"), graft.functions.TokenMode.Whitespace)
          .cast("long").as("n_tokens"))
      Sampling.quantileBins(scored, "doc_id", "n_tokens", nBins = 10)
        .select(col("doc_id"), col("n_tokens"), col("rank"), col("bin"))
        .orderBy("doc_id")
    }),
    // multimodal plumbing: frame sampling over REAL animated-GIF videos —
    // every emitted frame is a standalone decodable PNG (rows-only)
    "p11_media_frames" -> ((s, dir) => {
      val media = Multimodal.attachVideoMedia(docs(s, dir), "doc_id", "text")
      Multimodal.frameSample(media, 4)
        .select(col("doc_id"), col("frame_idx"), col("frame_ts_ms"),
          length(col("frame_payload")).as("frame_bytes"))
        .orderBy("doc_id", "frame_idx")
    }),
    // multimodal decode/feature-extract: REAL PNG payloads decoded via
    // javax.imageio (actual pixels) + REAL WAV payloads decoded via
    // javax.sound.sampled (actual PCM samples) + REAL animated-GIF videos
    // decoded frame-by-frame, a third of the corpus each (rows-only)
    "p14_media_features" -> ((s, dir) => {
      val d = docs(s, dir)
      val img = Multimodal.attachImageMedia(
        d.where(pmod(col("doc_id"), lit(3)) === 0), "doc_id", "text",
        width = 8, height = 8)
      val aud = Multimodal.attachAudioMedia(
        d.where(pmod(col("doc_id"), lit(3)) === 1), "doc_id", "text")
      val vid = Multimodal.attachVideoMedia(
        d.where(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text",
        width = 8, height = 8)
      Multimodal.decodeFeatures(img.unionByName(aud).unionByName(vid),
          featDim = 8).toDF()
        .select(col("doc_id"), col("kind"), col("feat_dim"),
          round(col("feat_mean"), 4).as("feat_mean"))
        .orderBy("doc_id")
    }),
    // event-stream shaping: per-user/type daily counts
    "e1_event_counts" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
        .orderBy("user_id", "event_type")),
    // as-of join: each purchase picks the user's latest preceding click
    "e3_asof" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin
        .asofBackward(purchases, clicks, "ts", Seq("user_id"))
        .select(col("event_id").as("pid"), col("asof_event_id").as("cid"))
        .orderBy("pid")
    }),
    // the skew-resistant as-of variant against the SAME oracle: time
    // bucketing must not change a single row
    "e5_asof_bucketed" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.AsOfJoin
        .asofBackwardBucketed(purchases, clicks, "ts", Seq("user_id"),
          buckets = 16)
        .select(col("event_id").as("pid"), col("asof_event_id").as("cid"))
        .orderBy("pid")
    }),
    // sampled two-path skew join — result must be exactly the plain join
    "e6_adaptive_join" -> ((s, dir) => {
      val li = ParquetTables.read(s, s"$dir/lineitem.parquet")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = ParquetTables.read(s, s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.SkewJoin
        .adaptiveJoin(li, sup, "suppkey", salts = 8, minShare = 0.001)
        .groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
            .as("qty"))
        .orderBy("nk")
    }),
    // banded range join: click-purchase pairs within 30 min per user
    "e4_range" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.operators.RangeJoin
        .withinJoin(clicks, purchases, "ts", Seq("user_id"),
          tolerance = 1800L * 1000 * 1000 * 1000) // 30 min in nanos
        .select(col("event_id").as("cid"), col("r_event_id").as("pid"))
        .orderBy("cid", "pid")
    }),
    // grid-bucketed euclidean distance join: AUTOMOBILE×BUILDING customer
    // points within radius 2 — no cartesian (9-cell neighbor equi-join)
    "e7_distance_join" -> ((s, dir) => {
      val c = ParquetTables.read(s, s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal") / 100.0).as("px"),
          ((col("c_custkey") % 1000).cast("double") / 10.0).as("py"))
      val a = c.where(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("ck"), col("px"), col("py"))
      val b = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("ck"), col("px"), col("py"))
      graft.operators.DistanceJoin.within(a, b, "px", "py", radius = 2.0)
        .select(col("ck").as("aid"), col("r_ck").as("bid"))
        .orderBy("aid", "bid")
    }),
    // sessionization via window functions (30-minute inactivity gap)
    "e2_sessions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val secs = expr("ts div 1000000000")
      events(s, dir)
        .withColumn("gap", secs - lag(secs, 1).over(w))
        .withColumn("new_session",
          when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),
    // CCNet-style LM quality filter: unigram model trained on the src0
    // slice scores every other document (quantized-decimal logp sums →
    // bit-exact across engines; see TextAnalysis.lmScore determinism note)
    "p38_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.lmScore(
        d.where(col("source") === "src0"), d.where(col("source") =!= "src0"),
        "doc_id", "text").orderBy("id")
    }),
    // sliding-window chunking (RAG / long-context prep): 64-token
    // windows, 8-token overlap
    "p40_chunking" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
        maxTokens = 64, overlap = 8).orderBy("id", "chunk_idx")),
    // bloom-prefiltered decontamination: same exact answer as p19 via the
    // bounded-memory scale path (bloom candidate pass + exact verify join)
    "p39_decontam_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.decontaminateBloom(
        d.where(col("source") =!= "src0"), d.where(col("source") === "src0"),
        "doc_id", "text", n = 4).orderBy("id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // winnowing sketch, md5-keyed (see the p9 gate comment): k=7-gram md5
    // hex hashes, window-4 lexicographic minima, distinct + sorted.
    // DuckDB list slicing h[a:b] is 1-based inclusive = Spark
    // slice(h, a, 4); both sides join the sketch with ',' and md5 it.
    "p9_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    [md5(substr(text, i + 1, 7))
        |     for i in range(0, greatest(length(text) - 7, 0) + 1)] AS hashes
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(
        |      [list_min(hashes[i + 1:i + 4])
        |       for i in range(0, greatest(len(hashes) - 4, 0) + 1)])) AS f
        |  FROM h)
        |SELECT doc_id, len(f)::BIGINT AS fp_size,
        |       md5(array_to_string(f, ',')) AS fp_md5
        |FROM fp ORDER BY doc_id""".stripMargin,
    // md5-keyed MinHash-LSH: identical hash family (28-bit base hash
    // from the first 7 md5 hex chars of the gram, then 16 affine
    // permutations (a·x+b) mod 1073741789), integer minima, band keys as
    // comma-joined minima ordered by seed, bucket self-join, exact
    // trigram-Jaccard verification
    "p6_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id AS id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS s
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
        |gx AS (
        |  SELECT id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS x
        |  FROM grams),
        |sig AS (
        |  SELECT id, seed,
        |    min(((976369 + seed*1049) * x + (1234567 + seed*2477))
        |        % 1073741789) AS m
        |  FROM gx, range(16) r(seed) GROUP BY 1, 2),
        |banded AS (
        |  SELECT id, seed // 2 AS band,
        |         string_agg(m::VARCHAR, ',' ORDER BY seed) AS key
        |  FROM sig GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |nsz AS (SELECT id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT c.id_a, c.id_b, count(*) AS i
        |  FROM cand c
        |  JOIN grams ga ON ga.id = c.id_a
        |  JOIN grams gb ON gb.id = c.id_b AND gb.s = ga.s
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b,
        |  CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN nsz na ON na.id = i.id_a
        |JOIN nsz nb ON nb.id = i.id_b
        |WHERE CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // md5-keyed SimHash fingerprints: same vote model as p13's CTEs; the
    // combined 64-bit value wraps to Spark's signed long via HUGEINT
    // (hi << 32 | lo with the 2^64 borrow when the sign bit is set)
    "p7_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) & 1
        |                   ELSE (hi >> (b - 32)) & 1 END) = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM h, range(64) t(b) GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN vote > 0 AND b >= 32
        |        THEN 1::BIGINT << (b - 32)::INT ELSE 0 END)::BIGINT AS hi_fp,
        |    sum(CASE WHEN vote > 0 AND b < 32
        |        THEN 1::BIGINT << b::INT ELSE 0 END)::BIGINT AS lo_fp
        |  FROM votes GROUP BY 1)
        |SELECT doc_id AS id,
        |  ((hi_fp::HUGEINT * 4294967296 + lo_fp) -
        |   CASE WHEN hi_fp >= 2147483648
        |        THEN 18446744073709551616::HUGEINT ELSE 0 END)::BIGINT
        |  AS simhash
        |FROM fp ORDER BY id""".stripMargin,
    // md5-keyed SimHash pairs (see the p13 gate comment). The oracle
    // verifies ALL pairs brute-force; the engine's banded join has exact
    // recall for maxHamming <= 15 (nBands = maxHamming + 1, pigeonhole),
    // so the two pair sets must be identical.
    "p13_simhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) & 1
        |                   ELSE (hi >> (b - 32)) & 1 END) = 1
        |        THEN 1 ELSE -1 END) AS vote
        |  FROM h, range(64) t(b) GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN vote > 0 AND b >= 32
        |        THEN 1::BIGINT << (b - 32)::INT ELSE 0 END)::BIGINT AS hi_fp,
        |    sum(CASE WHEN vote > 0 AND b < 32
        |        THEN 1::BIGINT << b::INT ELSE 0 END)::BIGINT AS lo_fp
        |  FROM votes GROUP BY 1)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  (bit_count(xor(a.hi_fp, c.hi_fp)) +
        |   bit_count(xor(a.lo_fp, c.lo_fp)))::BIGINT AS hamming
        |FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.hi_fp, c.hi_fp)) +
        |      bit_count(xor(a.lo_fp, c.lo_fp)) <= 6
        |ORDER BY 1, 2""".stripMargin,
    // same stopword profiles as TextAnalysis.PROFILES; argmax via
    // list_sort(...)[-1] reproduces array_max's (score, lang) tie-break
    "p5_lang_id" -> {
      def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ",", "]")
      val profiles = Seq(
        "en" -> TextAnalysis.EN_STOPWORDS, "de" -> TextAnalysis.DE_STOPWORDS,
        "fr" -> TextAnalysis.FR_STOPWORDS, "es" -> TextAnalysis.ES_STOPWORDS,
        "it" -> TextAnalysis.IT_STOPWORDS)
      val entries = profiles.map { case (lang, ws) =>
        s"{'score': len(list_intersect(w, ${lst(ws)})), 'lang': '$lang'}"
      }.mkString(",\n    ")
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(list_filter(
         |    string_split_regex(lower(text), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) AS w
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, list_sort([
         |    $entries])[-1] AS best
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS detected_lang,
         |  best.score::BIGINT AS lang_score
         |FROM s ORDER BY doc_id""".stripMargin
    },
    // Jaccard over DISTINCT word 3-grams. The engine hashes grams to 64
    // bits (word_ngram_hashes) purely as a bandwidth optimization —
    // distinct-hash-set Jaccard equals distinct-gram-set Jaccard absent
    // collisions (~1e-15 at this scale), so string grams oracle it
    // exactly. maxDocFreq=5000 never prunes at sf0.01 (500 docs), so the
    // candidate stage reduces to "shares >= 1 gram".
    "p8_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS isz
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(isz AS DOUBLE) / CAST(sa.sz + sb.sz - isz AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(isz AS DOUBLE) / CAST(sa.sz + sb.sz - isz AS DOUBLE) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "p1_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // the oracle's single global window IS the thing the engine's
    // two-phase rank avoids; both produce the identical exact rank
    "p33_quality_bins" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> len(x) > 0))::BIGINT AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |    (row_number() OVER (ORDER BY n_tokens, doc_id) - 1)::BIGINT AS rank,
        |    count(*) OVER ()::BIGINT AS n
        |  FROM t)
        |SELECT doc_id, n_tokens, rank, ((rank * 10) // n)::BIGINT AS bin
        |FROM r ORDER BY doc_id""".stripMargin,
    // groups paragraphs by text where the engine groups by xxhash64 —
    // identical equivalence classes absent 64-bit collisions
    "p29_paragraph_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pt AS (
        |  SELECT doc_id,
        |    list_transform(range(((len(toks) - 1) // 10) + 1),
        |      i -> array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ')) AS ps
        |  FROM d),
        |px AS (SELECT doc_id, unnest(range(len(ps))) AS pos, ps FROM pt),
        |paras AS (SELECT doc_id, pos, ps[pos + 1] AS para FROM px),
        |winners AS (
        |  SELECT para, min(struct_pack(i := doc_id, p := pos)) AS win,
        |    count(*) AS occ
        |  FROM paras GROUP BY para)
        |SELECT paras.doc_id,
        |  string_agg(paras.para, chr(10) ORDER BY paras.pos) AS deduped_text,
        |  count(*)::BIGINT AS n_paras_kept
        |FROM paras JOIN winners ON paras.para = winners.para
        |WHERE occ = 1 OR (paras.doc_id = win.i AND paras.pos = win.p)
        |GROUP BY paras.doc_id ORDER BY paras.doc_id""".stripMargin,
    // same md5-hex bucket → multiplicative-lattice weight → exact long sum
    "p30_quality_model" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(w)::BIGINT AS n_tokens,
        |    coalesce(list_sum(list_transform(w, tok ->
        |      ((((('0x' || substring(md5(tok), 1, 8))::BIGINT % 1024)
        |         * 2654435761) % 1000003) - 500001))), 0)::BIGINT AS score_num
        |  FROM t)
        |SELECT doc_id, n_tokens, score_num,
        |  CASE WHEN n_tokens > 0
        |    THEN score_num::DOUBLE / (n_tokens::DOUBLE * 500001.0::DOUBLE)
        |    ELSE 0.0::DOUBLE END AS score,
        |  (score_num > 0) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // every constant is written as the same IEEE-754 double operation the
    // engine performs (no pre-folded literals), so scores are bit-identical
    "p31_bm25" ->
      """WITH t AS (
        |  SELECT doc_id::BIGINT AS doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |st AS (
        |  SELECT count(*)::BIGINT AS n_docs, sum(len(w))::BIGINT AS total_len,
        |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::BIGINT AS df_0,
        |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::BIGINT AS df_1,
        |    sum(CASE WHEN list_contains(w, 'merge') THEN 1 ELSE 0 END)::BIGINT AS df_2
        |  FROM t),
        |d AS (
        |  SELECT doc_id,
        |    len(list_filter(w, x -> x = 'spark'))::DOUBLE AS tf_0,
        |    len(list_filter(w, x -> x = 'window'))::DOUBLE AS tf_1,
        |    len(list_filter(w, x -> x = 'merge'))::DOUBLE AS tf_2,
        |    len(w)::DOUBLE AS lend, n_docs, df_0, df_1, df_2,
        |    (total_len::DOUBLE / n_docs::DOUBLE) AS avgdl
        |  FROM t, st),
        |sc AS (
        |  SELECT doc_id,
        |    ((CASE WHEN tf_0 > 0 THEN
        |        ((((n_docs::DOUBLE - df_0::DOUBLE) + 0.5::DOUBLE) / (df_0::DOUBLE + 0.5::DOUBLE))
        |          * (tf_0 * (1.2::DOUBLE + 1.0::DOUBLE)))
        |        / (tf_0 + (1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE)
        |            + ((0.75::DOUBLE * lend) / avgdl))))
        |      ELSE 0.0::DOUBLE END
        |    + CASE WHEN tf_1 > 0 THEN
        |        ((((n_docs::DOUBLE - df_1::DOUBLE) + 0.5::DOUBLE) / (df_1::DOUBLE + 0.5::DOUBLE))
        |          * (tf_1 * (1.2::DOUBLE + 1.0::DOUBLE)))
        |        / (tf_1 + (1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE)
        |            + ((0.75::DOUBLE * lend) / avgdl))))
        |      ELSE 0.0::DOUBLE END)
        |    + CASE WHEN tf_2 > 0 THEN
        |        ((((n_docs::DOUBLE - df_2::DOUBLE) + 0.5::DOUBLE) / (df_2::DOUBLE + 0.5::DOUBLE))
        |          * (tf_2 * (1.2::DOUBLE + 1.0::DOUBLE)))
        |        / (tf_2 + (1.2::DOUBLE * ((1.0::DOUBLE - 0.75::DOUBLE)
        |            + ((0.75::DOUBLE * lend) / avgdl))))
        |      ELSE 0.0::DOUBLE END) AS score
        |  FROM d)
        |SELECT doc_id, score FROM sc WHERE score > 0.0
        |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,
    "p32_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id::BIGINT AS doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |st AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |    sum(CASE WHEN list_contains(w, 'spark') THEN 1 ELSE 0 END)::BIGINT AS df_0,
        |    sum(CASE WHEN list_contains(w, 'join') THEN 1 ELSE 0 END)::BIGINT AS df_1,
        |    sum(CASE WHEN list_contains(w, 'window') THEN 1 ELSE 0 END)::BIGINT AS df_2,
        |    sum(CASE WHEN list_contains(w, 'customer') THEN 1 ELSE 0 END)::BIGINT AS df_3
        |  FROM t),
        |e AS (
        |  SELECT doc_id, n_docs,
        |    unnest(['spark', 'join', 'window', 'customer']) AS term,
        |    unnest([len(list_filter(w, x -> x = 'spark'))::BIGINT,
        |            len(list_filter(w, x -> x = 'join'))::BIGINT,
        |            len(list_filter(w, x -> x = 'window'))::BIGINT,
        |            len(list_filter(w, x -> x = 'customer'))::BIGINT]) AS tf,
        |    unnest([df_0, df_1, df_2, df_3]) AS df
        |  FROM t, st)
        |SELECT doc_id, term, tf, df,
        |  (tf::DOUBLE * (n_docs::DOUBLE / (df::DOUBLE + 1.0::DOUBLE))) AS tf_idf
        |FROM e WHERE tf > 0 ORDER BY doc_id, term""".stripMargin,
    "p19_decontam" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+3], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(w)-3)) AS t(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |hits AS (
        |  SELECT doc_id, count(*) AS hits FROM grams
        |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)
        |  GROUP BY 1),
        |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams
        |           WHERE source <> 'src0' GROUP BY 1)
        |SELECT t.doc_id AS id, coalesce(c.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(h.hits, 0)::BIGINT AS contaminated_grams,
        |  coalesce(h.hits, 0) > 0 AS contaminated
        |FROM toks t
        |LEFT JOIN counts c ON c.doc_id = t.doc_id
        |LEFT JOIN hits h ON h.doc_id = t.doc_id
        |WHERE t.source <> 'src0'
        |ORDER BY id""".stripMargin,
    "p20_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |g1 AS (SELECT doc_id, unnest(w) AS g FROM toks),
        |c1 AS (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY 1, 2),
        |s1 AS (SELECT doc_id, sum(c)::BIGINT AS total, count(*)::BIGINT AS dist,
        |       max(c)::BIGINT AS top FROM c1 GROUP BY 1),
        |g2 AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        |       FROM toks, UNNEST(generate_series(1, len(w)-1)) AS t(i)),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, sum(c)::BIGINT AS total, count(*)::BIGINT AS dist,
        |       max(c)::BIGINT AS top FROM c2 GROUP BY 1)
        |SELECT t.doc_id,
        |  coalesce(s1.total, 0) AS n_tokens,
        |  CASE WHEN s1.total > 0 THEN (s1.total - s1.dist)::DOUBLE / s1.total::DOUBLE ELSE 0.0 END AS dup_token_frac,
        |  CASE WHEN s1.total > 0 THEN s1.top::DOUBLE / s1.total::DOUBLE ELSE 0.0 END AS top_token_frac,
        |  coalesce(s2.total, 0) AS n_2grams,
        |  CASE WHEN s2.total > 0 THEN (s2.total - s2.dist)::DOUBLE / s2.total::DOUBLE ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN s2.total > 0 THEN s2.top::DOUBLE / s2.total::DOUBLE ELSE 0.0 END AS top_2gram_frac
        |FROM toks t
        |LEFT JOIN s1 ON s1.doc_id = t.doc_id
        |LEFT JOIN s2 ON s2.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "p21_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |                    x -> len(x) > 0))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  (sum(n_tokens) OVER w)::BIGINT - n_tokens AS tok_offset,
        |  ((sum(n_tokens) OVER w)::BIGINT - n_tokens) // 512 AS bin
        |FROM t
        |WINDOW w AS (PARTITION BY source ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin,
    "p16_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
        |    '\b(\+?[0-9]{1,3}[ .-]?)?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}\b', '<PHONE>', 'g')
        |    AS redacted,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ipv4,
        |  len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))::BIGINT AS n_ssn,
        |  len(regexp_extract_all(text, '\b(\+?[0-9]{1,3}[ .-]?)?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}\b'))::BIGINT AS n_phone
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p2_token_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))::BIGINT AS ws_tokens,
        |  len(regexp_extract_all(text, '[\p{L}]+|[0-9]|[^\p{L}0-9\s]'))::BIGINT AS bpe_tokens,
        |  length(text)::BIGINT AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p3_quality" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
        |                x -> len(x) > 0) AS t,
        |    length(text) AS nc,
        |    len(regexp_extract_all(text, '[0-9]')) AS digits
        |  FROM documents)
        |SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |  round(CASE WHEN len(t) > 0
        |    THEN list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)
        |    ELSE 0.0 END, 4) AS mean_token_len,
        |  round(CASE WHEN nc > 0 THEN digits::DOUBLE / nc ELSE 0.0 END, 4)
        |    AS digit_ratio
        |FROM toks ORDER BY doc_id""".stripMargin,
    "p4_ann_topk" ->
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
        |  CAST(row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |                b.vec_id) AS INT) AS rank
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "p4b_ann_search" ->
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
        |  CAST(row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |                b.vec_id) AS INT) AS rank
        |FROM (SELECT * FROM embeddings
        |      WHERE substring(md5(vec_id::VARCHAR), 1, 1) = '0') a,
        |     embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    // the production-config gates return (sample count, property holds);
    // the oracle knows the sample count and expects the property TRUE —
    // a recall regression below 0.9 hash-mismatches the gate
    "p15b_ann_ivf_prod" ->
      """SELECT count(*) AS n_q, CAST(1 AS BOOLEAN) AS pass
        |FROM embeddings
        |WHERE substring(md5(vec_id::VARCHAR), 1, 1) = '0'""".stripMargin,
    "p10b_ann_lsh_prod" ->
      """SELECT count(*) AS n_q, CAST(1 AS BOOLEAN) AS pass
        |FROM embeddings
        |WHERE substring(md5(vec_id::VARCHAR), 1, 1) = '0'""".stripMargin,
    // the IVF gate probes all cells (exact degeneracy) → same answer as
    // the exact brute-force top-k
    "p15_ann_ivf" ->
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim,
        |  CAST(row_number() OVER (PARTITION BY a.vec_id
        |       ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) DESC,
        |                b.vec_id) AS INT) AS rank
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id <> b.vec_id
        |QUALIFY rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "p17_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 'e6' THEN 'train'
        |       WHEN b < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, substring(md5(doc_id::VARCHAR), 1, 2) AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "p18_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
        |), edges AS (
        |  SELECT ia AS s, ib AS d FROM pairs
        |  UNION SELECT ib AS s, ia AS d FROM pairs
        |), reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
        |)
        |SELECT id, min(r)::BIGINT AS cluster
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    // the p18 closure over the same cosine pairs, plus the keep flag
    "p34_semantic_dedup" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id
        |    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
        |), edges AS (
        |  SELECT ia AS s, ib AS d FROM pairs
        |  UNION SELECT ib AS s, ia AS d FROM pairs
        |), reach AS (
        |  SELECT vec_id AS id, vec_id AS r FROM embeddings
        |  UNION
        |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id
        |)
        |SELECT id, min(r)::BIGINT AS cluster, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "p35_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(w)-2)) AS t(i)),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS isz
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ia, ib FROM inter
        |  JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
        |  WHERE CAST(isz AS DOUBLE) / CAST(sa.sz + sb.sz - isz AS DOUBLE) >= 0.3),
        |edges AS (
        |  SELECT ia AS s, ib AS d FROM pairs
        |  UNION SELECT ib AS s, ia AS d FROM pairs),
        |reach AS (
        |  SELECT doc_id AS id, doc_id AS r FROM documents
        |  UNION
        |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id),
        |clusters AS (SELECT id, min(r)::BIGINT AS cluster FROM reach GROUP BY id),
        |scored AS (
        |  SELECT c.id, c.cluster, length(d.text)::DOUBLE AS score
        |  FROM clusters c JOIN documents d ON d.doc_id = c.id),
        |ranked AS (
        |  SELECT id, cluster,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY score DESC, id ASC) AS rk
        |  FROM scored)
        |SELECT id, cluster, (rk = 1) AS kept FROM ranked ORDER BY id""".stripMargin,
    // election by raw window text where the engine uses xxhash64 —
    // identical duplicate classes absent 64-bit collisions (as p29)
    "p36_substring_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |w0 AS (
        |  SELECT doc_id, text,
        |    unnest(range(((length(text) - 64) // 16) + 1)) AS k
        |  FROM d),
        |w AS (
        |  SELECT doc_id, (k * 16)::BIGINT AS pos,
        |    substr(text, (k * 16 + 1)::INT, 64) AS win
        |  FROM w0),
        |dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        |dw AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 64) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS st
        |  FROM dw),
        |i AS (
        |  SELECT doc_id, pos,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m)
        |SELECT doc_id, min(pos)::BIGINT AS span_start,
        |  (max(pos) + 64 - min(pos))::BIGINT AS span_len,
        |  count(*)::BIGINT AS n_windows
        |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,
    "p37_substring_strip" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 64),
        |w0 AS (
        |  SELECT doc_id, text,
        |    unnest(range(((length(text) - 64) // 16) + 1)) AS k
        |  FROM d),
        |w AS (
        |  SELECT doc_id, (k * 16)::BIGINT AS pos,
        |    substr(text, (k * 16 + 1)::INT, 64) AS win
        |  FROM w0),
        |dup AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        |dw AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
        |m AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 64) OVER (
        |        PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS st
        |  FROM dw),
        |i AS (
        |  SELECT doc_id, pos,
        |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m),
        |sp AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 64 - min(pos) AS l
        |  FROM i GROUP BY doc_id, isl),
        |seg AS (
        |  SELECT doc_id, s,
        |    coalesce(lag(s + l) OVER (
        |      PARTITION BY doc_id ORDER BY s), 0) AS prev_end
        |  FROM sp),
        |pieces AS (
        |  SELECT g.doc_id, g.s AS ord,
        |    substr(d0.text, (g.prev_end + 1)::INT,
        |           (g.s - g.prev_end)::INT) AS seg
        |  FROM seg g JOIN documents d0 USING (doc_id)
        |  UNION ALL
        |  SELECT t.doc_id, length(d0.text)::BIGINT + 1 AS ord,
        |    substr(d0.text, (t.max_end + 1)::INT, length(d0.text)) AS seg
        |  FROM (SELECT doc_id, max(s + l) AS max_end
        |        FROM sp GROUP BY doc_id) t
        |  JOIN documents d0 USING (doc_id)),
        |agg AS (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS cleaned_text
        |  FROM pieces GROUP BY doc_id)
        |SELECT d0.doc_id, coalesce(agg.cleaned_text, d0.text) AS cleaned_text
        |FROM documents d0 LEFT JOIN agg USING (doc_id)
        |ORDER BY d0.doc_id""".stripMargin,
    "p22_graph_distances" ->
      """SELECT c_custkey AS ck, CAST(2 AS BIGINT) AS dist
        |FROM customer ORDER BY ck""".stripMargin,
    "p23_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id) - 1 AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "p26_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR || ':42'), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY doc_id""".stripMargin,
    "p27_mixture" ->
      """SELECT doc_id, source FROM documents
        |WHERE substring(md5(doc_id::VARCHAR), 1, 2) <
        |  CASE source WHEN 'src0' THEN 'g0' WHEN 'src1' THEN '80'
        |    WHEN 'src2' THEN '40' ELSE '1a' END
        |ORDER BY doc_id""".stripMargin,
    "p25_clean_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{x}</style></head><body><h1>T</h1><p>' || text ||
        |    '</p><div>nav &amp; footer</div><script>var x=1;</script></body></html>' AS html
        |  FROM documents),
        |c1 AS (SELECT doc_id,
        |  regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'isg') AS t FROM h),
        |c2 AS (SELECT doc_id,
        |  regexp_replace(t, '<style[^>]*>.*?</style>', ' ', 'isg') AS t FROM c1),
        |c3 AS (SELECT doc_id,
        |  regexp_replace(t, '</(p|div|li|tr|h1|h2|h3|h4|h5|h6)>|<br[^>]*>', chr(10), 'isg') AS t FROM c2),
        |c4 AS (SELECT doc_id,
        |  regexp_replace(t, '<[^>]*>', ' ', 'sg') AS t FROM c3),
        |c5 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |    '&nbsp;', ' '), '&amp;', '&') AS t FROM c4),
        |k AS (SELECT doc_id,
        |  list_filter(
        |    list_transform(string_split(t, chr(10)),
        |      l -> trim(regexp_replace(l, '[ \t]+', ' ', 'g'))),
        |    l -> len(list_filter(string_split(l, ' '), w -> len(w) > 0)) >= 3) AS ls
        |  FROM c5)
        |SELECT doc_id, array_to_string(ls, chr(10)) AS clean_text,
        |  len(ls)::BIGINT AS n_lines
        |FROM k ORDER BY doc_id""".stripMargin,
    "p28_token_mixture" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))::BIGINT AS n_tokens,
        |    md5(doc_id::VARCHAR || ':42') AS k
        |  FROM documents)
        |SELECT doc_id, source, n_tokens FROM (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id) AS cum
        |  FROM t)
        |WHERE cum <= CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 800
        |  WHEN 'src2' THEN 600 ELSE 200 END
        |ORDER BY doc_id""".stripMargin,
    "p24_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0))::BIGINT AS n_tokens,
        |    md5(doc_id::VARCHAR || ':42') AS k
        |  FROM documents)
        |SELECT doc_id, n_tokens FROM (
        |  SELECT doc_id, n_tokens, SUM(n_tokens) OVER (ORDER BY k, doc_id) AS cum
        |  FROM t)
        |WHERE cum <= 15000 ORDER BY doc_id""".stripMargin,
    "p12_embedding_dedup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "e1_event_counts" ->
      """SELECT user_id, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "e3_asof" ->
      """SELECT l.event_id AS pid, r.event_id AS cid
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY pid""".stripMargin,
    "e5_asof_bucketed" ->
      """SELECT l.event_id AS pid, r.event_id AS cid
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY pid""".stripMargin,
    "e6_adaptive_join" ->
      """SELECT s_nationkey AS nk, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY nk""".stripMargin,
    "e4_range" ->
      """SELECT l.event_id AS cid, r.event_id AS pid
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'click') l
        |JOIN (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id
        | AND abs(epoch_ns(l.ts) - epoch_ns(r.ts)) <= 1800000000000
        |ORDER BY cid, pid""".stripMargin,
    "e7_distance_join" ->
      """SELECT a.c_custkey AS aid, b.c_custkey AS bid
        |FROM customer a, customer b
        |WHERE a.c_mktsegment = 'AUTOMOBILE'
        |  AND b.c_mktsegment = 'BUILDING'
        |  AND ((a.c_acctbal/100.0 - b.c_acctbal/100.0)
        |       * (a.c_acctbal/100.0 - b.c_acctbal/100.0)
        |     + ((a.c_custkey % 1000)/10.0 - (b.c_custkey % 1000)/10.0)
        |       * ((a.c_custkey % 1000)/10.0 - (b.c_custkey % 1000)/10.0))
        |      < 4.0
        |ORDER BY aid, bid""".stripMargin,
    "e2_sessions" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_ns(ts) // 1000000000 - lag(epoch_ns(ts) // 1000000000) OVER
        |      (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events)
        |SELECT user_id,
        |  sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // p38: per-distinct-token logp is quantized to DECIMAL(18,6) BEFORE
    // the per-doc sum, so the sum is exact decimal arithmetic in both
    // engines (summation order immaterial); only the final division is fp.
    "p38_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |ref AS (SELECT unnest(w) AS tok FROM toks WHERE source = 'src0'),
        |vocab0 AS (SELECT tok, count(*)::BIGINT AS cnt FROM ref GROUP BY 1),
        |tot AS (SELECT sum(cnt)::BIGINT AS n_total FROM vocab0),
        |vocab AS (SELECT tok, cnt FROM vocab0
        |          ORDER BY cnt DESC, tok LIMIT 65536),
        |lp AS (SELECT tok,
        |         round(ln(cnt::DOUBLE / n_total::DOUBLE), 6)::DECIMAL(18,6)
        |           AS logp
        |       FROM vocab, tot),
        |oov AS (SELECT round(ln(0.5 / n_total::DOUBLE), 6)::DECIMAL(18,6)
        |          AS olp FROM tot),
        |dt AS (SELECT doc_id, unnest(w) AS tok FROM toks
        |       WHERE source <> 'src0'),
        |scored AS (
        |  SELECT d.doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(CASE WHEN l.tok IS NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS oov_tokens,
        |    sum(coalesce(l.logp, (SELECT olp FROM oov))) AS slp
        |  FROM dt d LEFT JOIN lp l USING (tok) GROUP BY 1)
        |SELECT t.doc_id AS id,
        |  coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
        |  coalesce(s.oov_tokens, 0)::BIGINT AS oov_tokens,
        |  coalesce(s.slp::DOUBLE, 0.0) AS sum_logp,
        |  CASE WHEN coalesce(s.n_tokens, 0) > 0
        |       THEN s.slp::DOUBLE / s.n_tokens::DOUBLE ELSE 0.0 END
        |    AS avg_logp
        |FROM (SELECT DISTINCT doc_id FROM toks WHERE source <> 'src0') t
        |LEFT JOIN scored s ON s.doc_id = t.doc_id
        |ORDER BY id""".stripMargin,
    // p40: whitespace tokens, 64-token windows advancing by 56; docs at
    // or under 64 tokens (incl. empty) give exactly one chunk
    "p40_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)
        |      AS w
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, w, len(w) AS n,
        |    CASE WHEN len(w) <= 64 THEN 1
        |         ELSE ((len(w) - 64 + 55) // 56) + 1 END AS n_chunks
        |  FROM toks)
        |SELECT doc_id AS id, i AS chunk_idx,
        |  array_to_string(w[i*56 + 1 : i*56 + 64], ' ') AS chunk_text,
        |  least(64, n - i*56)::BIGINT AS n_tokens
        |FROM counts, UNNEST(generate_series(0, n_chunks - 1)) AS t(i)
        |ORDER BY id, chunk_idx""".stripMargin,
    // p39 computes the same exact answer as p19 (bloom false positives
    // are removed by the verification join) — same oracle
    "p39_decontam_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, source, array_to_string(w[i:i+3], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(w)-3)) AS t(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |hits AS (
        |  SELECT doc_id, count(*) AS hits FROM grams
        |  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)
        |  GROUP BY 1),
        |counts AS (SELECT doc_id, count(*) AS n_grams FROM grams
        |           WHERE source <> 'src0' GROUP BY 1)
        |SELECT t.doc_id AS id, coalesce(c.n_grams, 0)::BIGINT AS n_grams,
        |  coalesce(h.hits, 0)::BIGINT AS contaminated_grams,
        |  coalesce(h.hits, 0) > 0 AS contaminated
        |FROM toks t
        |LEFT JOIN counts c ON c.doc_id = t.doc_id
        |LEFT JOIN hits h ON h.doc_id = t.doc_id
        |WHERE t.source <> 'src0'
        |ORDER BY id""".stripMargin
  )
}
