package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import TextOps._

/** Text-analysis operators for corpus curation: token counting, quality
  * scoring, language identification, document fingerprinting. All columnar
  * — each op is a per-row expression (no shuffle, survives any scale-up
  * that the scan itself survives).
  */
object TextAnalysis {

  /** whitespace tokens + a BPE-ish regex count (letter runs, digits, and
    * individual punctuation marks approximate subword-tokenizer counts). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      graft.functions.TextFunctions
        .count_tokens(t, graft.functions.TokenMode.Whitespace).cast(LongType)
        .as("ws_tokens"),
      regexp_count(t, lit("[\\p{L}]+|[0-9]|[^\\p{L}0-9\\s]")).cast(LongType)
        .as("bpe_tokens"),
      length(t).cast(LongType).as("n_chars"))
  }

  /** PII scrubbing for training corpora: regex-redact emails, IPv4
    * addresses, phone-shaped digit runs, and SSN-shaped triples with
    * typed placeholder tokens, plus per-class hit counts for audit
    * stats. Counts are pattern occurrences in the ORIGINAL text, counted
    * independently per class — a string matching two classes (an email
    * whose local part is phone-shaped) counts once in each, while the
    * redaction applies the classes sequentially so exactly one
    * placeholder wins. Purely columnar (codegen regexp_replace — no UDF,
    * no shuffle); patterns are RE2-compatible so external engines (audit
    * oracles, DuckDB) reproduce the transform byte-for-byte. Order
    * matters: SSN before phone so `123-45-6789` does not half-match the
    * phone pattern. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("phone", "\\b(\\+?[0-9]{1,3}[ .-]?)?\\(?[0-9]{3}\\)?[ .-][0-9]{3}[ .-][0-9]{4}\\b",
      "<PHONE>"))

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    val counts = piiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast(LongType).as(s"n_$name") }
    df.select(col(idCol) +: redacted.as("redacted") +: counts: _*)
  }

  /** HTML/web-crawl → training text: drops script/style blocks, turns
    * block-element boundaries into newlines, strips the remaining tags,
    * decodes the frequent entities (single-decode order: `&amp;` last),
    * normalizes intra-line whitespace, and filters boilerplate-ish lines
    * under `minLineWords` words (nav/footer fragments). Purely columnar —
    * RE2-compatible patterns, no backreferences, no UDF — so any engine
    * (the DuckDB oracle included) reproduces the output byte-for-byte. */
  def cleanHtml(df: DataFrame, idCol: String, htmlCol: String,
      minLineWords: Int = 3): DataFrame = {
    val noScript =
      regexp_replace(col(htmlCol), "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val blocks = regexp_replace(noStyle,
      "(?is)</(p|div|li|tr|h1|h2|h3|h4|h5|h6)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    val normLines = transform(split(decoded, "\n"),
      l => trim(regexp_replace(l, "[ \\t]+", " ")))
    // the outer filter stays a HOF (per-line lambda), but the per-line
    // word count no longer recompiles a regex Pattern per line
    val kept = filter(normLines, l =>
      graft.functions.TextFunctions
        .count_tokens(l, graft.functions.TokenMode.SingleSpace)
        >= minLineWords)
    df.select(col(idCol), array_join(kept, "\n").as("clean_text"),
      size(kept).cast(LongType).as("n_lines"))
  }

  /** heuristic quality signals + a composite score in [0,1]:
    * long-enough docs with normal word lengths, low punctuation/digit
    * noise and some stopword mass score high. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks).cast(DoubleType)
    val nChars = length(t).cast(DoubleType)
    val meanTokLen = when(nTok > 0,
      aggregate(toks, lit(0L), (a, x) => a + length(x)).cast(DoubleType) / nTok)
      .otherwise(lit(0.0))
    val punctRatio = when(nChars > 0,
      regexp_count(t, lit("[^\\p{L}0-9\\s]")).cast(DoubleType) / nChars)
      .otherwise(lit(0.0))
    val digitRatio = when(nChars > 0,
      regexp_count(t, lit("[0-9]")).cast(DoubleType) / nChars).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0,
      size(array_intersect(toks, array(EN_STOPWORDS.map(lit): _*)))
        .cast(DoubleType) / size(array_distinct(toks)).cast(DoubleType))
      .otherwise(lit(0.0))

    val lengthScore = least(nTok / 100.0, lit(1.0))
    val wordLenScore = when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.3)
    val noiseScore = greatest(lit(0.0), lit(1.0) - punctRatio * 5 - digitRatio * 3)
    val score = (lengthScore * 0.3 + wordLenScore * 0.2 + noiseScore * 0.3 +
      least(stopRatio * 4, lit(1.0)) * 0.2)

    df.select(col(idCol),
      nTok.cast(LongType).as("n_tokens"),
      round(meanTokLen, 4).as("mean_token_len"),
      round(punctRatio, 4).as("punct_ratio"),
      round(digitRatio, 4).as("digit_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(score, 4).as("quality"))
  }

  // compact per-language stopword profiles (top function words)
  val EN_STOPWORDS: Seq[String] = Seq("the", "a", "an", "and", "or", "of",
    "to", "in", "is", "it", "that", "for", "on", "with", "as", "was", "at",
    "by", "be", "this", "are", "from", "not", "but", "have", "has")
  val DE_STOPWORDS: Seq[String] = Seq("der", "die", "das", "und", "oder",
    "von", "zu", "in", "ist", "es", "dass", "für", "auf", "mit", "als",
    "war", "bei", "sein", "nicht", "aber", "ein", "eine", "den", "dem")
  val FR_STOPWORDS: Seq[String] = Seq("le", "la", "les", "et", "ou", "de",
    "à", "dans", "est", "il", "que", "pour", "sur", "avec", "comme",
    "était", "par", "être", "pas", "mais", "un", "une", "des", "du")
  val ES_STOPWORDS: Seq[String] = Seq("el", "la", "los", "las", "y", "o",
    "de", "a", "en", "es", "que", "para", "sobre", "con", "como", "era",
    "por", "ser", "no", "pero", "un", "una", "del", "se")
  val IT_STOPWORDS: Seq[String] = Seq("il", "la", "i", "le", "e", "o",
    "di", "a", "in", "è", "che", "per", "su", "con", "come", "era", "da",
    "essere", "non", "ma", "un", "una", "dei", "si")

  private val PROFILES: Seq[(String, Seq[String])] = Seq(
    "en" -> EN_STOPWORDS, "de" -> DE_STOPWORDS, "fr" -> FR_STOPWORDS,
    "es" -> ES_STOPWORDS, "it" -> IT_STOPWORDS)

  /** n-gram/stopword-profile language ID: score = |tokens ∩ profile| per
    * language, argmax wins ("und" = unknown when no profile matches).
    * Argmax via array_max over (score, lang) structs — deterministic
    * tie-break on language code. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = array_distinct(tokens(col(textCol)))
    val scored = array(PROFILES.map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    df.select(col(idCol),
      when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("detected_lang"),
      best.getField("score").cast(LongType).as("lang_score"))
  }

  /** Winnowing document fingerprint (Schleimer et al. 2003): k-gram hashes,
    * sliding-window minima, distinct + sorted. Robust to small edits;
    * output is a compact sketch column usable for containment joins.
    * `hash` defaults to xxhash64 (8-byte sketch entries); an md5 variant
    * lets an external SQL engine reproduce the sketch exactly (the
    * driver-gate oracle) — minima over hex strings are lexicographic on
    * both sides. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String,
      k: Int = 7, window: Int = 4,
      hash: Column => Column = c => xxhash64(c)): DataFrame = {
    val hashes = transform(
      sequence(lit(0), greatest(length(col(textCol)) - k, lit(0))),
      i => hash(col(textCol).substr(i + 1, lit(k))))
    val minima = transform(
      sequence(lit(0), greatest(size(hashes) - window, lit(0))),
      i => array_min(slice(hashes, i + 1, lit(window))))
    df.select(col(idCol),
      array_sort(array_distinct(minima)).as("fingerprint"))
  }

  /** Gopher/MassiveText-style repetition signals: per document, the
    * total token and 2-gram counts, the fraction of occurrences that
    * repeat an earlier one (`1 - distinct/total`), and the most frequent
    * gram's share. High values mark boilerplate / degenerate generations
    * that repetition filters drop before training. One custom-expression
    * pass per n (O(tokens) each), zero shuffle. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.VectorFunctions.repetition_stats
    val s1 = repetition_stats(col(textCol), 1)
    val s2 = repetition_stats(col(textCol), 2)
    df.select(col(idCol),
      s1.getField("n_grams").as("n_tokens"),
      s1.getField("dup_frac").as("dup_token_frac"),
      s1.getField("top_frac").as("top_token_frac"),
      s2.getField("n_grams").as("n_2grams"),
      s2.getField("dup_frac").as("dup_2gram_frac"),
      s2.getField("top_frac").as("top_2gram_frac"))
  }

  /** Benchmark decontamination: flags training documents that share any
    * word n-gram with an evaluation corpus (the standard guard against
    * eval leakage into a training set). Output is one row per training
    * row — `(id, n_grams, contaminated_grams, contaminated)` — so rows
    * that share an id are counted separately. Null text gives null
    * `n_grams` and 0 hits.
    *
    * Plan: one eager Spark job with no shuffle collects the benchmark's
    * distinct gram hashes (see [[benchGramSet]]) into a sorted `long[]`,
    * which is broadcast. The training side is then one projection with
    * no explode, join or shuffle: it evaluates `word_ngram_hashes` once
    * per row and counts the row's grams found in the broadcast set by
    * binary search (`count_in_sorted_set`). Memory: 8 bytes per
    * distinct benchmark gram on the driver and on each executor. A
    * benchmark too large for that takes [[decontaminateBloom]], whose
    * filter is bounded by its false-positive rate. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions.{count_in_sorted_set, word_ngram_hashes}
    val benchSet = train.sparkSession.sparkContext.broadcast(
      benchGramSet(bench, textCol, n))
    // CollapseProject keeps `grams` and `contaminated_grams` in their own
    // projections because each is read twice, so whole-stage codegen
    // evaluates the kernel once per row
    train.select(col(idCol).cast(LongType).as("id"),
        word_ngram_hashes(col(textCol), n).as("grams"))
      .select(col("id"),
        size(col("grams")).cast(LongType).as("n_grams"),
        coalesce(count_in_sorted_set(col("grams"), benchSet), lit(0L))
          .as("contaminated_grams"))
      .withColumn("contaminated", col("contaminated_grams") > 0)
  }

  /** The distinct word n-gram hashes of `bench`, ascending. One Spark job
    * with no shuffle: each partition sorts and dedups its own grams, and
    * the driver merges the per-partition arrays. */
  private def benchGramSet(bench: DataFrame, textCol: String, n: Int): Array[Long] = {
    import graft.functions.TextKernels
    import graft.functions.VectorFunctions.word_ngram_hashes
    val perPartition = bench.select(word_ngram_hashes(col(textCol), n))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val a = r.getArray(0)
            var i = 0
            while (i < a.numElements()) { buf += a.getLong(i); i += 1 }
          }
        }
        Iterator.single(TextKernels.sortedDistinct(buf.result()))
      }
      .collect()
    TextKernels.sortedDistinct(perPartition.flatten)
  }

  /** Hashed bag-of-words linear classifier — the fastText-style quality
    * model shape (hash each token into one of `dim` buckets, dot the
    * bucket counts with a weight vector, threshold). Weights here are a
    * deterministic multiplicative-lattice function of the bucket id so
    * the oracle can reproduce scores bit-exactly; a real model would
    * broadcast its trained weight array into the same expression.
    *
    * Scale shape: pure per-row columnar expressions — zero shuffle, one
    * corpus pass, whole-stage codegen throughout. Determinism: bucketing
    * uses md5 (identical in every engine, unlike xxhash64), the weight
    * sum is exact integer arithmetic, and only the final normalization
    * divides — so scores are bit-identical across engines. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    val M = 1000003L        // prime weight-lattice modulus
    val A = 2654435761L     // Knuth multiplicative-hash constant
    val toks = TextOps.tokens(col(textCol))
    // bucket = first 8 md5 hex chars as an int, mod dim;
    // weight(bucket) = ((bucket * A) mod M) - M/2  ∈ [-500001, 500001]
    val weights = transform(toks, t =>
      (conv(substring(md5(t), 1, 8), 16, 10).cast(LongType) % dim * A % M)
        - lit(M / 2))
    val scoreNum = aggregate(weights, lit(0L), (acc, w) => acc + w)
    df.select(col(idCol),
        size(toks).cast(LongType).as("n_tokens"),
        scoreNum.as("score_num"))
      .select(col(idCol), col("n_tokens"), col("score_num"),
        when(col("n_tokens") > 0,
          col("score_num").cast(DoubleType) /
            (col("n_tokens").cast(DoubleType) * lit((M / 2).toDouble)))
          .otherwise(lit(0.0)).as("score"),
        (col("score_num") > 0).as("keep"))
  }

  /** Unigram language-model scoring — the CCNet-style "perplexity
    * bucket" quality filter: train token frequencies on a reference
    * corpus (e.g. a trusted slice), score every document by its mean
    * negative log-likelihood under that model. High `avg_logp` (close
    * to 0) = fluent/common text; very negative = rare-token-heavy
    * (gibberish, boilerplate, wrong-language).
    *
    * Scale shape: train = one map-side-combined token aggregation;
    * vocabulary is capped at `maxVocab` by (count desc, token asc) — a
    * bounded sort-limit — so the scoring join always broadcasts. Score =
    * one explode + one broadcast join + one per-doc aggregation; no
    * driver collect of data-scale rows anywhere.
    *
    * Determinism (for cross-engine oracles): each DISTINCT token's log
    * probability is rounded to 6 decimals ONCE in the vocab table and
    * carried as DECIMAL(18,6); per-document summation is then exact
    * decimal arithmetic — immune to fp summation order. Out-of-vocab
    * tokens get the floor logp ln(0.5/N) (quantized the same way). */
  def lmScore(reference: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxVocab: Int = 65536,
      caches: CacheRegistry = CacheRegistry.lru): DataFrame = {
    val refToks = reference.select(explode(tokens(col(textCol))).as("tok"))
    // the distinct-token count table feeds BOTH the vocab cap and the
    // total — persist it once so the reference corpus is tokenized and
    // shuffled a single time, not per consumer (the table is per-distinct
    // -token: orders of magnitude smaller than the corpus)
    val vocab0 = caches.persist(
      refToks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    // total BEFORE the cap: probabilities stay a true distribution over
    // the reference corpus even when rare tokens fall out of vocab
    val totals = vocab0.agg(sum(col("cnt")).cast(LongType).as("n_total"))
    val vocab = vocab0.orderBy(col("cnt").desc, col("tok").asc)
      .limit(maxVocab)
    val lp = vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        round(log(col("cnt").cast(DoubleType) / col("n_total").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("logp"))
    val docIds = docs.select(col(idCol).cast(LongType).as("id")).distinct()
    val docToks = docs.select(col(idCol).cast(LongType).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val oovLogp = round(log(lit(0.5) / col("n_total").cast(DoubleType)), 6)
      .cast(DecimalType(18, 6))
    val scored = docToks
      .join(broadcast(lp), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("logp").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        sum(coalesce(col("logp"), oovLogp)).as("slp"))
    docIds.join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("slp").cast(DoubleType), lit(0.0)).as("sum_logp"),
        when(col("n_tokens") > 0,
          col("slp").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .otherwise(lit(0.0)).as("avg_logp"))
  }

  /** Bigram LM with stupid backoff (Brants et al. 2007): score(w2|w1) =
    * p(w1,w2)/p(w1) when the bigram is known, else 0.4 · p(w2), else the
    * OOV floor. The heavier-artillery sibling of [[lmScore]] — same
    * train/score shape with one extra (hashed-bigram) aggregation and
    * join; engine-specific doubles, so spec-verified rather than
    * oracle-gated. Returns (id, n_tokens, avg_logp, ppl). */
  def lmScoreBigram(reference: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxVocab: Int = 1 << 20,
      caches: CacheRegistry = CacheRegistry.lru): DataFrame = {
    val backoff = 0.4
    // bigrams over a BOUND token column (not the tokens() expression
    // inlined in the lambda — per-element element_at would re-split the
    // text, O(tokens²) per document; same fix as the p6 gram pass)
    val bigramsOfW: Column = {
      val w = col("@w")
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
        .otherwise(array().cast(ArrayType(StringType)))
    }
    val uni = caches.persist(
      reference.select(explode(tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("ucnt")))
    val totals = uni.agg(sum(col("ucnt")).cast(LongType).as("n_total"))
    val uniTop = uni.orderBy(col("ucnt").desc, col("tok").asc).limit(maxVocab)
    val bi = reference.select(tokens(col(textCol)).as("@w"))
      .select(explode(bigramsOfW).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("bcnt"))
      .orderBy(col("bcnt").desc, col("bg").asc).limit(maxVocab)
    val docIds = docs.select(col(idCol).cast(LongType).as("id")).distinct()
    // per position i>=1: logp(tok_i | tok_{i-1}); position 0 backs off to
    // its unigram. Explode positions once, derive tok + bigram per row.
    val toksCol = tokens(col(textCol))
    val pos = docs.select(col(idCol).cast(LongType).as("id"),
        posexplode(toksCol).as(Seq("i", "tok")),
        toksCol.as("@toks"))
      .select(col("id"), col("tok"),
        when(col("i") >= 1,
          concat_ws(" ", element_at(col("@toks"), col("i")), col("tok")))
          .as("bg"))
    val prevUni = uniTop.select(col("tok").as("@ptok"), col("ucnt").as("@pcnt"))
    val scored = pos
      .join(broadcast(uniTop), Seq("tok"), "left")
      .join(broadcast(bi), Seq("bg"), "left")
      .join(broadcast(prevUni),
        col("bg").isNotNull &&
          substring_index(col("bg"), " ", 1) === col("@ptok"), "left")
      .crossJoin(broadcast(totals))
      .select(col("id"),
        when(col("bcnt").isNotNull && col("@pcnt").isNotNull,
          log(col("bcnt").cast(DoubleType) / col("@pcnt").cast(DoubleType)))
        .otherwise(
          when(col("ucnt").isNotNull,
            log(lit(backoff) * col("ucnt").cast(DoubleType) /
              col("n_total").cast(DoubleType)))
          .otherwise(log(lit(0.5) / col("n_total").cast(DoubleType))))
          .as("@lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("@lp")).as("slp"))
    docIds.join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens") > 0, col("slp") / col("n_tokens"))
          .otherwise(lit(0.0)).as("avg_logp"))
      .withColumn("ppl", exp(-col("avg_logp")))
  }

  /** Sliding-window document chunking — the RAG / long-context training
    * prep step: split each document into whitespace-token windows of
    * `maxTokens` advancing by `maxTokens - overlap`, so consecutive
    * chunks share `overlap` tokens of context. One chunk per row with
    * its index and token count; documents at or under `maxTokens` yield
    * exactly one chunk (empty documents one empty chunk).
    *
    * Scale shape: pure per-row columnar split + sequence-explode +
    * slice — zero shuffle, whole-stage codegen; output rows ≈ corpus
    * tokens / step regardless of document skew. Deterministic (string
    * splits and integer math only) → exact cross-engine oracle. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 128, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < maxTokens,
      "need 0 <= overlap < maxTokens")
    val step = maxTokens - overlap
    val toks = graft.functions.TextFunctions
      .split_tokens(col(textCol), graft.functions.TokenMode.Whitespace)
    val n = size(toks)
    val nChunks = when(n <= maxTokens, lit(1L))
      .otherwise(floor((n - maxTokens + step - 1).cast(DoubleType) / step)
        .cast(LongType) + 1)
    df.select(col(idCol).cast(LongType).as("id"), toks.as("@toks"),
        explode(sequence(lit(0L), nChunks.cast(LongType) - 1)).as("chunk_idx"))
      .select(col("id"), col("chunk_idx"),
        concat_ws(" ",
          slice(col("@toks"), (col("chunk_idx") * step + 1).cast(IntegerType),
            lit(maxTokens))).as("chunk_text"),
        least(lit(maxTokens),
          size(col("@toks")) - col("chunk_idx") * step).cast(LongType)
          .as("n_tokens"))
  }

  /** Bloom-prefiltered decontamination — identical OUTPUT to
    * [[decontaminate]] when training ids are unique (every training doc
    * with its shared-n-gram count against a held-out benchmark; rows that
    * share an id get their summed count here), different SCALE path:
    * instead of broadcasting the full benchmark n-gram set, the
    * benchmark grams are folded into a bloom filter (a distributed
    * aggregation; the filter itself is ~1.2 MB per million grams at 1%
    * FPP — bounded regardless of corpus size). Training grams stream
    * through the filter first, so the exact verification join — which
    * removes the filter's false positives and makes the result exact —
    * only shuffles the tiny candidate subset, not every gram of a 100 TB
    * corpus. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3, fpp: Double = 0.01): DataFrame = {
    import graft.functions.VectorFunctions.{bloom_might_contain, word_ngram_hashes}
    val spark = train.sparkSession
    val trainGrams = train.select(col(idCol).cast(LongType).as("id"),
      word_ngram_hashes(col(textCol), n).as("grams"))
    val benchGrams = bench
      .select(explode(word_ngram_hashes(col(textCol), n)).as("gram"))
      .distinct()
    // two bounded actions: the distinct-gram count sizes the filter, the
    // aggregation builds it executor-side and merges partials on the driver
    val nBench = math.max(benchGrams.count(), 1L)
    val bf = benchGrams.stat.bloomFilter("gram", nBench, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val candidates = trainGrams
      .select(col("id"), explode(col("grams")).as("gram"))
      .where(bloom_might_contain(col("gram"), bfB))
    val hits = candidates                  // exact verify: kill bloom FPs
      .join(benchGrams, Seq("gram"))
      .groupBy("id").agg(count(lit(1)).as("hits"))
    trainGrams
      .select(col("id"), size(col("grams")).cast(LongType).as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        col("n_grams"),
        coalesce(col("hits"), lit(0L)).as("contaminated_grams"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }
}
