package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: exact dedup, md5 fingerprinting, token/length/quality
  * stats, heuristic language ID, and opaque-binary (multimodal) metadata.
  * Everything here is built-in codegen'd functions — per-doc work
  * parallelizes embarrassingly; the only shuffles are the final small
  * group-bys on lang/source.
  */
object TextStats {

  /** D1 — exact dedup accounting per language: the count vs distinct-count
    * gap is the duplicate mass `dropDuplicates("text")` would remove. */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"))
      .orderBy(col("lang"))

  /** D2 — document fingerprinting: md5 over whitespace-normalized
    * lowercased text; dedup-by-fingerprint stats per source. At 100 TB the
    * fingerprint is what you shuffle, never the document body. */
  def d2Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(spark, dir)
      .withColumn("fp", fp)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_fingerprints"),
        min(col("fp")).as("min_fp"))
      .orderBy(col("source"))
  }

  /** ONE definition of the whitespace token count — shared by T1, the
    * D9 packer, d17 budgeting, and their specs, so token semantics
    * cannot drift between the operator and the test that validates it
    * (same device as TextHash's shared hashing kernels). NULL coalesces
    * to '' INSIDE the kernel: Spark's size(split(NULL)) is -1, which
    * would deflate every token aggregate while a DuckDB oracle's sum/avg
    * silently SKIPS the NULL row — fixing it per call site leaves every
    * future caller to re-inherit the divergence. '' counts 1 token on
    * both engines (matching oracles coalesce likewise). */
  def wsTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(split(coalesce(c, lit("")), " "))

  /** T1 — token counting + length stats per language: whitespace tokens
    * and a regex tokenizer (word / number / punctuation classes — the
    * BPE-ish pre-tokenization split). Integer sums divide exactly, so the
    * rounded averages are engine-exact. */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", wsTokens(col("text")))
      .withColumn("re_tokens", size(expr(
        "regexp_extract_all(lower(coalesce(text, '')), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("ws_tokens")), 2).as("avg_ws_tokens"),
        round(avg(col("re_tokens")), 2).as("avg_re_tokens"),
        max(length(col("text"))).as("max_len"))
      .orderBy(col("lang"))

  /** T27 — corpus-level readability (Flesch reading ease) per
    * language: the classic audience-level audit a curation pipeline
    * reads beside t2's quality score — Flesch prices SENTENCE and WORD
    * length where t2 prices stopword density, so a corpus of fluent
    * but impenetrable legalese (t2-clean, Flesch ≈ 20) and one of
    * fragmentary spam (t2-dirty) separate on different axes. Words are
    * t1's whitespace tokens, sentences terminal-punctuation runs,
    * syllables the standard vowel-group approximation ([aeiouy]+ —
    * exact syllabification needs a dictionary; the approximation is
    * the published convention for code-free Flesch).
    *
    * Determinism + scale shape: the three counts are exact per-doc
    * integers summed as longs per language (corpus-LEVEL Flesch =
    * ratio of sums, NOT a float mean of per-doc ratios — integer
    * bases, so aggregation order cannot drift the score); the formula
    * is one scalar chain over the |langs|-row frame, rounds(2); the
    * bucket CASE reads the ROUNDED score so both engines bucket
    * borderline corpora identically. */
  def t27Readability(spark: SparkSession, dir: String): DataFrame =
    readability(Tables.documents(spark, dir))

  private[graft] def readability(docs: DataFrame): DataFrame = {
    val d = docs.select(col("lang"),
      size(split(coalesce(col("text"), lit("")), " ")).cast("long")
        .as("w"),
      greatest(lit(1L), size(expr(
        "regexp_extract_all(coalesce(text, ''), '[.!?]+', 0)"))
        .cast("long")).as("s"),
      greatest(lit(1L), size(expr(
        "regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+', 0)"))
        .cast("long")).as("y"))
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("s")).as("sentences"), sum(col("y")).as("syllables"))
      .withColumn("flesch", round(lit(206.835)
        - lit(1.015) * (col("words").cast("double") / col("sentences"))
        - lit(84.6) * (col("syllables").cast("double") / col("words")),
        2))
      .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"), col("flesch"),
        when(col("flesch") >= 90, "very_easy")
          .when(col("flesch") >= 70, "easy")
          .when(col("flesch") >= 50, "standard")
          .when(col("flesch") >= 30, "difficult")
          .otherwise("very_difficult").as("bucket"))
      .orderBy(col("lang"))
  }

  /** T28 — n-gram NOVELTY audit: what fraction of the newest crawl's
    * distinct 8-grams has the existing corpus never seen? The
    * memorization-vs-novelty card a pretraining pipeline reads per
    * source before mixing a new dump in — a source whose novelty rate
    * collapses toward 0 is re-serving content the model already has
    * (dedup d3/d52 catch the DOCUMENT-level cases; this is the
    * corpus-level aggregate view), while a rate near 1 is genuinely
    * new text. Halves by the t26 doc_id-midpoint device ("yesterday's
    * corpus" vs "today's crawl"); grams are the ONE shared
    * [[graft.functions.TextGrams]] builder at n=8 (the d19/d10
    * definition — consumers cannot drift onto different grams).
    *
    * Scale + determinism: grams compress to 16-hex md5 prefixes
    * BEFORE the distinct/join, so the shuffle carries fingerprints,
    * never text (the d19 device; the truncation is engine-identical,
    * so any collision merges the same two grams on both sides); ONE
    * left join of the current half's distinct (source, fp) frame
    * against the reference half's distinct fp set with a conditional
    * aggregate — no frame is consumed twice, nothing re-scans; counts
    * exact longs, one rounded division per source. */
  def t28NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNovelty(Tables.documents(spark, dir))

  private[graft] def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val span = graft.etl.Analyze.idMidpoint(docs, col("doc_id"))
    val grams = docs.crossJoin(broadcast(span))
      .withColumn("half",
        when(col("doc_id") < col("split"), "ref").otherwise("cur"))
      .withColumn("words", split(lower(coalesce(col("text"), lit(""))), " "))
      .select(col("source"), col("half"),
        explode(graft.functions.TextGrams.gramsExpr(n)).as("gram"))
      .select(col("source"), col("half"),
        substring(md5(col("gram")), 1, 16).as("fp"))
    val ref = grams.filter(col("half") === "ref")
      .select(col("fp")).distinct().withColumn("seen", lit(1))
    grams.filter(col("half") === "cur")
      .select(col("source"), col("fp")).distinct()
      .join(ref, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_grams"), 4))
      .orderBy(col("source"))
  }

  /** T2 — quality scoring: stopword ratio, mean word length, and a
    * composite keep/drop signal (the Gopher-style length+stopword rule). */
  def t2QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val words = split(lower(col("text")), " ")
    val nWords = size(words)
    val nStop = size(filter(words, w =>
      w.isin("the", "a", "of", "to", "and", "in", "is", "on")))
    Tables.documents(spark, dir)
      .withColumn("n_words", nWords)
      .withColumn("stop_ratio", round(nStop.cast("double") / nWords, 4))
      .withColumn("keep",
        (col("n_words") >= 10) && (col("stop_ratio") >= 0.05))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"))
      .orderBy(col("source"))
  }

  /** T26 — quality-drift PSI card: the population stability index of
    * t2's stop-ratio distribution between the corpus's two doc_id
    * halves ("yesterday's crawl" vs "today's"), per source. PSI =
    * Σ (q_i − p_i)·ln(q_i/p_i) over a FIXED bin domain (−1 for
    * null-score docs + ten equal-width ratio bins) with Laplace-
    * smoothed proportions — the production data-drift metric a crawl
    * pipeline reads before retraining its quality filters: industry
    * folklore calls PSI ≥ 0.2 a major shift, and the card PUBLISHES
    * the per-source number instead of assuming stability (the
    * w18/g10 epistemic job; sim13 is this card's embedding-space
    * sibling). Smoothing makes every proportion strictly positive, so
    * a source entirely absent from one half reads a large finite PSI,
    * never a ln(0) artifact.
    *
    * Scale + determinism shape: ONE corpus pass to (source, half,
    * bin) counts — bounded by |sources|·2·11, the a18 argument —
    * then all arithmetic on that frame; counts exact longs; the only
    * floats are the smoothed proportions and ln terms, each term
    * rounds(6) before the 11-term sum rounds(4) (the t9/a15 float
    * discipline). The split day is the a35 midpoint device on the
    * doc_id span. */
  def t26QualityPsi(spark: SparkSession, dir: String): DataFrame =
    qualityPsi(Tables.documents(spark, dir))

  private[graft] def qualityPsi(docs: DataFrame): DataFrame = {
    val words = split(lower(col("text")), " ")
    val nWords = size(words)
    val nStop = size(filter(words, w =>
      w.isin("the", "a", "of", "to", "and", "in", "is", "on")))
    val span = graft.etl.Analyze.idMidpoint(docs, col("doc_id"))
    val scored = docs.crossJoin(broadcast(span))
      .withColumn("stop_ratio",
        round(nStop.cast("double") / nWords, 4))
      .withColumn("half",
        when(col("doc_id") < col("split"), "ref").otherwise("cur"))
      .withColumn("bin", when(col("stop_ratio").isNull, lit(-1L))
        .otherwise(least(lit(9L), floor(col("stop_ratio") * 10))))
    // pin the (source, half, bin) counts: |sources|·2·11 rows feeding
    // THREE consumers (domain, ref side, cur side) — without the pin
    // each one re-runs the corpus scan + aggregate (13 exchanges
    // measured; 4 with it)
    val counts = scored.groupBy(col("source"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // fixed bin domain per source: missing bins must count as zero on
    // BOTH sides or the smoothed masses would not sum comparably
    val domain = counts.select(col("source")).distinct()
      .select(col("source"),
        explode(sequence(lit(-1L), lit(9L))).as("bin"))
    val full = domain
      .join(counts.filter(col("half") === "ref")
        .select(col("source"), col("bin"), col("c").as("cr")),
        Seq("source", "bin"), "left")
      .join(counts.filter(col("half") === "cur")
        .select(col("source"), col("bin"), col("c").as("cc")),
        Seq("source", "bin"), "left")
      .na.fill(0L, Seq("cr", "cc"))
      .localCheckpoint(true)
    val tot = full.groupBy(col("source"))
      .agg(sum(col("cr")).as("n_ref"), sum(col("cc")).as("n_cur"))
    full.join(tot, Seq("source"))
      .withColumn("p",
        (col("cr") + lit(0.5)) / (col("n_ref") + lit(5.5)))
      .withColumn("q",
        (col("cc") + lit(0.5)) / (col("n_cur") + lit(5.5)))
      .withColumn("term",
        round((col("q") - col("p")) * log(col("q") / col("p")), 6))
      .groupBy(col("source"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        round(sum(col("term")), 4).as("psi"))
      .withColumn("drift_major", col("psi") >= 0.2)
      .orderBy(col("source"))
  }

  /** Memoized per (session, dir): the confusion-matrix rows behind t3
    * and t18. The corpus scoring pass is an ingest-time artifact (the
    * NB-model / IVF-index precedent) — without the memo t18 re-ran t3's
    * full corpus pass inside its own plan every invocation. The cached
    * value is plain tuples (≤ label-space² rows — bounded by the class
    * vocabulary, never the corpus). */
  private val t3Cache = SessionMemo[String, Array[(String, String, Long)]]()

  private def t3MatrixRows(spark: SparkSession, dir: String): Array[(String, String, Long)] =
    t3Cache.getOrBuild(spark, dir) {
      val t = concat(lit(" "), lower(col("text")), lit(" "))
      val predicted =
        when(t.contains(" the ") || t.contains(" and "), "en")
          .when(t.contains(" le ") || t.contains(" les ") || t.contains(" et "), "fr")
          .when(t.contains(" el ") || t.contains(" los "), "es")
          .when(t.contains(" der ") || t.contains(" und "), "de")
          .otherwise("other")
      Tables.documents(spark, dir)
        .withColumn("predicted", predicted)
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    }

  /** T3 — heuristic language ID by stopword evidence (an n-gram/stopword
    * classifier expressible as pure relational ops), cross-tabbed against
    * the labeled lang. Serves from the memoized matrix rows. */
  def t3LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t3MatrixRows(spark, dir).toSeq
      .toDF("lang", "predicted", "n")
      .orderBy(col("lang"), col("predicted"))
  }

  /** D38 — dedup SAVINGS report: per source, the token budget exact
    * dedup recovers — total vs kept tokens under the d2 rule (one
    * keeper per content fingerprint, minimum doc_id; keepers chosen
    * GLOBALLY so a cross-source duplicate is kept once, charged to the
    * source holding the keeper). Training cost is per TOKEN, so this —
    * not the doc count — is the number that justifies a dedup pass to
    * whoever pays for the GPUs. Scale shape: per-row token counts ride
    * beside a 16-hex fingerprint; the only shuffles are the fingerprint
    * keeper-aggregate and the fp equi-join back (fingerprints + two
    * longs — text never moves), then the per-source rollup. */
  def d38DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), wsTokens(col("text")).as("n_tok"),
        substring(md5(col("text").cast("binary")), 1, 16).as("fp"))
    val keepers = keyed.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    keyed.join(keepers, Seq("fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(when(col("doc_id") === col("keep_id"), col("n_tok"))
          .otherwise(0L)).as("kept_tokens"))
      .withColumn("saved_tokens", col("total_tokens") - col("kept_tokens"))
      .withColumn("saved_pct",
        round(col("saved_tokens") * 100.0 / col("total_tokens"), 4))
      .orderBy(col("source"))
  }

  /** T18 — classifier scorecard over t3's confusion matrix: per class,
    * support, predicted count, true positives, precision, recall, F1 —
    * the eval every learned filter (t3's heuristic, t12's NB, d30's
    * cutoff) must publish before its keep/drop decisions gate a corpus.
    * Runs entirely on the CONFUSION MATRIX (classes² rows — the corpus
    * was consumed once by t3's pass), so the metric stage is free at
    * any scale. All three ratios derive from exact integer counts with
    * ONE division each (F1 = 2·tp/(n_pred+n_true), algebraically the
    * harmonic mean — no compounding of rounded intermediates), nulled
    * where undefined (a class never predicted has no precision; a class
    * with no support has no recall). */
  def t18ClassifierMetrics(spark: SparkSession, dir: String): DataFrame = {
    val cm = t3LangId(spark, dir)
    val truth = cm.groupBy(col("lang").as("cls")).agg(sum(col("n")).as("n_true"))
    val pred = cm.groupBy(col("predicted").as("cls")).agg(sum(col("n")).as("n_pred"))
    val tp = cm.filter(col("lang") === col("predicted"))
      .select(col("lang").as("cls"), col("n").as("tp"))
    truth.join(pred, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp") / col("n_pred"), 4)))
      .withColumn("recall",
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(round(col("tp") / col("n_true"), 4)))
      .withColumn("f1",
        round(lit(2.0) * col("tp") / (col("n_pred") + col("n_true")), 4))
      .orderBy(col("cls"))
  }

  /** MM1 — multimodal plumbing: documents as opaque binary payloads with
    * typed metadata (the schema shape image/audio bytes flow through);
    * metadata extraction is pure column ops on the binary. */
  def mm1BinaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", col("text").cast("binary"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_payloads"),
        sum(expr("octet_length(payload)").cast("long")).as("total_bytes"),
        max(expr("octet_length(payload)")).as("max_bytes"))
      .orderBy(col("source"))

  /** T4 — rolling-hash (content-defined) chunk fingerprinting: per source,
    * total vs distinct chunk fingerprints — the chunk-level duplicate mass
    * a CDC-based fuzzy dedup would deduplicate. Unlike d2's whole-doc md5,
    * chunk fingerprints survive insertions (boundaries re-align by
    * content), so shared passages across near-identical docs are visible.
    * Rows-only (the chunking scheme is engine-specific); the
    * shift-resistance property is asserted in ScalaTest. */
  def t4RollingFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.RollingChunks.rollingChunks(
          col("text"), 16, 5)).as("chunk_fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("chunk_fp")).as("n_distinct_chunks"))
      .orderBy(col("source"))

  /** T5 — corpus vocabulary: global top-30 tokens by frequency. The
    * token explode is the biggest intermediate this tier produces
    * (O(total words) rows), but the aggregation is a hash group-by with
    * map-side partial combine, so what shuffles is one (token, count)
    * pair per distinct token per partition — bounded by vocabulary, not
    * corpus; the top-30 compiles to TakeOrderedAndProject, never a global
    * sort. The frequency table a tokenizer-training / corpus-QA pass
    * reads first. */
  def t5VocabTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(30)

  /** T16 — heavy hitters by two-pass sketch + exact recount: the SAME
    * answer as a t5-style exact top-k, computed the way a 10⁸-token
    * vocabulary forces. Pass 1 aggregates the per-doc token ARRAYS
    * through the mergeable Misra–Gries sketch
    * ([[graft.functions.MisraGries]]) — O(budget) memory per partition,
    * a budget-bounded merge shuffle, NO corpus-sized token explode, and
    * guaranteed recall for anything above N/(budget+1). Pass 2 exactly
    * recounts ONLY the candidate tokens (a budget-bounded IN filter on
    * the scan), so the group-by shuffles candidate×partition rows where
    * t5's shuffles vocabulary×partition. The driver touches one
    * ≤4·budget-entry candidate array — bounded by construction. Fully
    * deterministic (recounts are exact, candidate recall is guaranteed
    * at these frequencies) → value-level oracle against the plain
    * one-pass SQL. */
  /** Pass 2 of the two-pass heavy-hitters pattern — exact recount of the
    * candidate tokens over a corpus frame (bounded-IN scan filter, then
    * a candidate-bounded group-by). ONE definition shared by batch t16
    * and the streaming fold's serve path
    * ([[graft.streaming.MgStreamFold]]), so recount semantics cannot
    * drift between the two. */
  private[graft] def recountTopK(docs: DataFrame, candidates: Seq[String],
                                 k: Int): DataFrame =
    docs.select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "" && col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  def t16HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    t16HeavyHittersDf(Tables.documents(spark, dir), T16Budget, T16K)

  /** Same two-pass sketch+recount over any (text) frame with explicit
    * budget/k — unit-testable, and the shape the guard spec drives into
    * its failure mode (a flat corpus whose rank-k count sits below the
    * MG bound MUST raise, not silently diverge from the exact top-k). */
  private[graft] def t16HeavyHittersDf(docs: DataFrame, budget: Int,
                                       k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = split(lower(col("text")), " ")
    // The sketch pass also totals N (non-empty tokens) — one extra long
    // per partition riding the same scan, needed by the validity guard
    // below.
    val (cand, nTokens) = docs.select(tokens.as("toks"))
      .as[Seq[String]]
      .select(new graft.functions.MisraGries(budget).toColumn.name("cand"),
        coalesce(sum(size(filter(col("toks"), t => t =!= ""))), lit(0L))
          .as[Long])
      .head()
    val candidates: Seq[String] = cand.keys.toSeq
    val frame = recountTopK(docs, candidates, k)
    val top = frame.collect() // ≤ k rows — bounded by construction
    // Validity guard on the MG recall bound: the sketch guarantees a
    // candidate only above N/(B+1). If the rank-k recounted count
    // ever falls TO that bound (a future flatter-tailed corpus), the
    // candidate set need not contain the exact top-k's winners and the
    // value oracle could silently diverge — fail loudly instead.
    if (top.length == k) {
      val kth = top.last.getLong(1)
      val bound = nTokens.toDouble / (budget + 1)
      require(kth > bound,
        s"t16 guard: rank-$k recount $kth <= MG recall bound N/(B+1) = " +
          f"$bound%.1f — sketch recall no longer covers the top-$k; " +
          "raise T16Budget")
    }
    spark.createDataFrame(java.util.Arrays.asList(top: _*), frame.schema)
  }

  private[graft] val T16Budget = 1024
  private[graft] val T16K = 20

  /** T17 — PMI collocations: the top bigrams by pointwise mutual
    * information, min-count filtered — the phrase-mining pass a
    * tokenizer-vocabulary or stopword-list builder reads (high-PMI
    * pairs are multi-word units; low-PMI frequent pairs are syntax).
    * Scale shape: unigram and bigram counts are both map-side-combined
    * aggregates whose shuffles are bounded by (bigram) VOCABULARY, not
    * corpus — the t5 discipline; the bigram frame joins unigram counts
    * per side keyed on the token (Catalyst broadcasts while the vocab
    * fits, shuffle-joins key-bounded when it doesn't — no hint, both
    * plans are right at their scale); corpus totals ride as broadcast
    * singletons; top-20 is TakeOrderedAndProject. PMI compares ROUNDED
    * (exact integer counts → one log at the end) so libm ulps cannot
    * flip the hash. */
  def t17PmiPhrases(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val uni = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val bi = docs.select(split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("nb"))
    val totals = uni.agg(sum(col("n")).as("tn"))
      .crossJoin(bi.agg(sum(col("nb")).as("tb")))
    bi.filter(col("nb") >= T17MinCount)
      .join(uni.select(col("t").as("w1"), col("n").as("n1")), Seq("w1"))
      .join(uni.select(col("t").as("w2"), col("n").as("n2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("nb"),
        round(log((col("nb").cast("double") / col("tb")) /
          ((col("n1").cast("double") / col("tn")) *
            (col("n2").cast("double") / col("tn")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(20)
  }

  private[graft] val T17MinCount = 5

  /** T15 — Zipf rank-frequency fit: the OLS slope of ln(freq) over
    * ln(rank) for the top tokens. Natural language sits near −1
    * (Zipf's law); a corpus that drifts toward 0 is word soup
    * (generator loops, boilerplate floods, bot text) and one far below
    * −1 is template-dominated — the one-number linguistic health check
    * a corpus card carries. Scale shape: t5's map-side-combined token
    * count bounds the shuffle by vocabulary; TakeOrderedAndProject
    * keeps the top-K; the regression runs over K=200 rows (workload-
    * sized, single partition by construction). Slope compares ROUNDED
    * so regr accumulation-order ulps can't flip the hash. */
  def t15ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(200)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    top
      .withColumn("rank", row_number().over(w))
      .select(log(col("n")).as("lf"), log(col("rank")).as("lr"))
      .agg(count(lit(1)).as("n_tokens"),
        round(expr("regr_slope(lf, lr)"), 4).as("zipf_slope"),
        round(expr("regr_r2(lf, lr)"), 4).as("fit_r2"))
  }

  /** T6 — TF-IDF top terms per document (first 20 docs): the classic
    * relevance weighting, fully relational. Three aggregates share the
    * one exploded token frame: per-(doc, token) tf, per-token document
    * frequency, and the corpus size. EVERY post-scan stage is bounded
    * by the TARGET docs' token set, never the corpus vocabulary: a
    * web-scale corpus has 10⁸-10⁹ distinct tokens (typos, ids), so a
    * vocabulary-sized frame must neither broadcast nor shuffle — the
    * full token stream is touched exactly once, by the df count's
    * map-side semi-filtered pass. The per-doc top-3 is a partitioned
    * window, never a global sort. Scores round(4) BEFORE ranking so
    * engine libm ulps can't flip ranks. */
  def t6TfIdf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tokens = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = tokens.filter(col("doc_id") < 20)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency IS corpus-wide (that's idf's denominator), but
    // it is only needed for tokens the target docs contain: the
    // broadcast semi-join keeps non-target tokens out of the df
    // aggregate entirely, so the count's shuffle AND the subsequent
    // broadcast are bounded by |target docs × tokens/doc|, independent
    // of corpus vocabulary. One row per (doc, token) via distinct
    // before the per-token count.
    val targetTokens = tf.select(col("token")).distinct()
    val dfreq = tokens
      .join(broadcast(targetTokens), Seq("token"), "left_semi")
      .select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    tf.join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Constants shared with the t19 oracle: the fixed lexical query and
    * the standard Okapi parameters. Literals are written identically on
    * both sides (`2.2`, not `k1 + 1.0`) so each engine parses the same
    * decimal to the same double. */
  private[ext] val Bm25Terms = Seq("spark", "vector", "stream")
  private[ext] val Bm25TopK = 10

  /** The BM25 scoring kernel over a (doc_id, text) frame — the lexical
    * half of a retrieval stack (the SIM tier is the dense half). Okapi
    * BM25 with k1=1.2, b=0.75: score(D,Q) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b+b·|D|/avgdl)), idf(t) = ln((N−df+0.5)/(df+0.5)+1).
    *
    * 100 TB shape: the query's terms are LITERALS in the plan, so tf per
    * term is a per-row higher-order filter over the doc's own token
    * array — the corpus token stream is never exploded and never
    * shuffles (a t6-style (doc,token) explode would move |corpus tokens|
    * rows to score a 3-term query). The collection statistics (N, Σdl,
    * per-term df) collapse to ONE row via map-side-combined indicator
    * sums and ride back beside every row as a broadcast singleton;
    * avgdl is computed as exact-integer sum/count — not a float avg —
    * so the division is correctly rounded identically on both engines.
    * Scores round(4) BEFORE ranking (the t6 libm discipline). Total
    * movement: two narrow corpus scans + a 1-row broadcast; top-k is
    * TakeOrderedAndProject. */
  def bm25Scores(docs: DataFrame): DataFrame = {
    val terms = Bm25Terms
    val perDoc = docs
      .withColumn("w", split(lower(coalesce(col("text"), lit(""))), " "))
      .withColumn("dl", size(col("w")))
    val withTf = terms.foldLeft(perDoc) { (df, t) =>
      df.withColumn(s"tf_$t", size(filter(col("w"), x => x === lit(t))))
    }.drop("w")
    val aggCols = count(lit(1)).as("n_docs") +:
      sum(col("dl")).cast("long").as("sum_dl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = withTf.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    def termScore(t: String) = {
      val idf = log(
        (col("n_docs") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5))
          + lit(1.0))
      idf * (col(s"tf_$t") * lit(2.2)) /
        (col(s"tf_$t") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }
    withTf.crossJoin(broadcast(stats))
      .withColumn("bm25",
        round(terms.map(termScore).reduceLeft(_ + _), 4))
      .filter(terms.map(t => col(s"tf_$t")).reduceLeft(_ + _) > 0)
      .select(col("doc_id") +: col("dl") +:
        terms.map(t => col(s"tf_$t")) :+ col("bm25"): _*)
  }

  /** T19 — registered BM25 top-k retrieval: the fixed 3-term query
    * against the documents corpus, top-10 by rounded score with doc_id
    * as the deterministic tie-break. */
  def t19Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(Tables.documents(spark, dir))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** The t20 query phrase — one constant interpolated into both the
    * Spark side and the oracle (the D10N discipline); chosen present at
    * every shipped SF. */
  private[ext] val T20Phrase = "stream data"

  /** T20 — exact PHRASE search: documents containing the query tokens
    * ADJACENT and in order, with per-doc occurrence counts — the
    * capability t19's bag-of-words BM25 cannot express (it would score
    * "data ... stream" identically). The real-engine shape: a posting
    * join over (doc, token, position) — but the postings materialize
    * ONLY for the query's own tokens (the filter runs before any
    * shuffle), so the joined frames are term-frequency-sized, never
    * corpus-token-sized; a k-token phrase chains k−1 equi-joins on
    * (doc_id, pos + offset), each join input already filtered to one
    * term. Per-doc counts are map-side combined; top-k fuses to
    * TakeOrderedAndProject. */
  def t20PhraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(spark, dir), T20Phrase)

  /** The posting-join kernel over any (doc_id, source, text) frame and
    * any multi-token phrase — injectable for planted-position specs. */
  def phraseSearch(docs: DataFrame, phrase: String,
                   topK: Int = 20): DataFrame = {
    val toks = phrase.toLowerCase.split(" ").toSeq
    require(toks.size >= 2, s"phrase needs >= 2 tokens, got '$phrase'")
    val postings = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok").isin(toks.distinct: _*))
    def leg(i: Int) = postings.filter(col("tok") === toks(i))
      .select(col("doc_id"), col("source"), (col("pos") - i).as("p0"))
    val matches = toks.indices.tail.foldLeft(leg(0)) { (acc, i) =>
      acc.join(leg(i), Seq("doc_id", "source", "p0"))
    }
    matches.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("n_matches").desc, col("doc_id"))
      .limit(topK)
  }

  /** T21 — source-vocabulary overlap: pairwise Jaccard between the
    * distinct token sets of every source pair — the corpus-comparison
    * card ("is crawl B just crawl A again?", "does the new source add
    * vocabulary or repeat it?") read before paying for a full cross-
    * source dedup pass. One exploded pass reduces to DISTINCT
    * (source, token) — map-side combined, VOCABULARY-bounded (the t5
    * discipline), never corpus-bounded — then the intersection is a
    * token equi-self-join whose per-token fan-out is capped by
    * |sources|² (each token appears at most once per source per side),
    * and the per-source sizes broadcast back onto the |sources|²-row
    * result. Jaccard = |∩| / (|A|+|B|−|∩|) in exact integers, one
    * rounded division. */
  def t21SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // Formulation note (measured, not guessed): a collect_set(source)-
    // per-token shape halves the exchange count but plans an
    // ObjectHashAggregate — outside whole-stage codegen, sort-fallback
    // under pressure — and benched 3× SLOWER at 10× than this
    // all-codegen distinct + self-join, whose per-token join fan-out is
    // capped at |sources|² by construction. The three derivations of
    // the distinct frame are narrow vocabulary-bounded shuffles (the t5
    // discipline), paid inside HashAggregate codegen; census carries an
    // explicit 8-exchange budget for them.
    val st = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(lower(coalesce(col("text"), lit(""))), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_tokens"))
    st.as("a").join(st.as("b"), Seq("token"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_tokens").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_tokens").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common") * 1.0 /
          (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Signature size shared with the d42 specs: standard error ~1/√k ≈
    * 0.06. */
  private[graft] val D42K = 256

  /** D42 — source-overlap ESTIMATE via bottom-k sketches: t21's 100 TB
    * path. The exact card shuffles the full distinct vocabulary three
    * times; here each source collapses to the k smallest distinct
    * token-hash values through a mergeable typed Aggregator
    * ([[graft.functions.KMinHash]]) — per-source state is k longs
    * REGARDLESS of vocabulary size, partial sketches merge map-side,
    * and the pairwise stage runs on |sources|·k longs on the driver
    * (label-space-sized, the sim10 discipline). The d10↔d35 pattern
    * applied to t21: exact while the vocabulary is shuffleable, sketch
    * beyond — and the spec pins the estimate against t21's exact
    * Jaccard, plus EXACT equality whenever a source's vocabulary fits
    * inside k. */
  def d42SourceOverlapSketch(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapSketchDf(spark,
      Tables.documents(spark, dir), graft.functions.KMinHash.jaccardEstimate)

  private[graft] def sourceOverlapSketchDf(
      spark: SparkSession, docs: DataFrame,
      est: (Array[Long], Array[Long], Int) => Double): DataFrame = {
    import spark.implicits._
    val sketch = new graft.functions.KMinHash(D42K)
    val sigs = docs
      .select(col("source"),
        explode(split(lower(coalesce(col("text"), lit(""))), " ")).as("token"))
      .filter(col("token") =!= "")
      .select(col("source"), xxhash64(col("token")).as("h"))
      .as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(sketch.toColumn.name("sig"))
      .collect()
    val rows = for {
      (sa, sigA) <- sigs; (sb, sigB) <- sigs if sa < sb
    } yield (sa, sb,
      BigDecimal(est(sigA, sigB, D42K))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    rows.toSeq.sortBy(r => (r._1, r._2))
      .toDF("source_a", "source_b", "est_jaccard")
  }

  /** T7 — compression-ratio quality signal: deflate(text)/|text| per
    * doc, summarized per source. Repetitive or boilerplate text
    * compresses far below natural prose, making the ratio a cheap
    * dedup/quality heuristic production corpus filters use alongside
    * T2's stopword rule. One `Deflater` per PARTITION (constructed
    * once, freed on task completion — the same resource pattern as the
    * MM2 decoder), streaming the compressed size without materializing
    * compressed bytes. Rows-only: no SQL engine replays zlib; the
    * discrimination property is asserted in ScalaTest. */
  def t7CompressionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, src, text) =>
          val bytes =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          (id, src, bytes.length.toLong, compressed)
        }
      }
      .toDF("doc_id", "source", "n_bytes", "n_compressed")
    perDoc
      .filter(col("n_bytes") > 0)
      .withColumn("ratio",
        round(col("n_compressed").cast("double") / col("n_bytes"), 4))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ratio")), 4).as("avg_ratio"),
        round(min(col("ratio")), 4).as("min_ratio"),
        round(max(col("ratio")), 4).as("max_ratio"))
      .orderBy(col("source"))
  }

  /** T8 — repetition quality signal (the Gopher repetition rules, adapted
    * to this corpus's newline-free docs): per doc, the fraction of word
    * bigrams that are repeats of an earlier bigram — boilerplate and
    * looping generations score high, natural prose near zero. Pure
    * higher-order array functions, embarrassingly parallel; the only
    * shuffle is the 5-row language rollup. */
  def t8Repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("words", split(lower(col("text")), " "))
      .filter(size(col("words")) >= 2)
      .withColumn("bigrams", graft.functions.TextGrams.gramsExpr(2))
      .withColumn("dup_ratio",
        round(lit(1.0) -
          size(array_distinct(col("bigrams"))).cast("double") /
            size(col("bigrams")), 4))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("dup_ratio")), 4).as("avg_dup_ratio"),
        round(max(col("dup_ratio")), 4).as("max_dup_ratio"),
        sum(when(col("dup_ratio") > 0.05, 1L).otherwise(0L)).as("n_repetitive"))
      .orderBy(col("lang"))

  /** D8 — deterministic hash-based corpus sampling: keep ~10% of docs by
    * the shared multiplicative id-hash ([[graft.functions.IdHash]] —
    * high-bits bucketing, structured-id-safe), reported per language.
    * Unlike rand()-based sampling the selection is a PURE FUNCTION of
    * the id — re-runs, engines, and retries agree on the exact member
    * set, which is what makes a training-data split reproducible and
    * auditable. */
  def d8HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(graft.functions.IdHash.bucket(col("doc_id"), 1000) < 100)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("sampled_chars"))
      .orderBy(col("lang"))

  /** Per-(session, dir) memo of the trained unigram table — pass 1 runs
    * once per served dir, not once per invocation (Bench re-invokes
    * the registered builder freely). NOTE the builder is still
    * EAGER on first call per dir — the broadcast literal needs the
    * frequencies before the plan exists — so a plan audit of t9 shows
    * pass 2 only. */
  private val vocabCache = SessionMemo[(String, Int), Map[String, Double]]()

  private def unigramLogp(spark: SparkSession, dir: String,
                          maxVocab: Int): Map[String, Double] = {
    vocabCache.getOrBuild(spark, (dir, maxVocab)) {
      // limit BEFORE collect: the guard below must fire as a diagnostic,
      // not arrive after an unbounded vocabulary has already filled the
      // driver heap (when the vocab fits, limit returns every row)
      val freqs = Tables.documents(spark, dir)
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
        .limit(maxVocab + 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      require(freqs.length <= maxVocab,
        s"vocabulary exceeds $maxVocab — cap the vocab " +
          "(score OOV with a floor probability) before broadcasting it")
      val total = freqs.map(_._2).sum.toDouble
      freqs.map { case (t, c) => t -> math.log10(c / total) }.toMap
    }
  }

  /** T9 — unigram log-probability quality scoring: the CCNet-style
    * "LM filter" reduced to a unigram model trained on the corpus
    * itself. Pass 1 builds the token frequency table (bounded by the
    * VOCABULARY, not the corpus — capped, driver-collected, memoized per
    * (session, dir)); pass 2 scores every doc per-row against the
    * broadcast vocabulary literal with ZERO shuffle (no token
    * explode-and-join on the scoring side — the map lookup rides inside
    * the row scan), then aggregates per language. At 100 TB the corpus
    * streams twice and the only shuffle is vocabulary-sized + the
    * per-lang final agg. Scores are averages of log10 token
    * probabilities; a higher (less negative) score = more stereotypical
    * text — the filter drops BOTH tails. */
  def t9UnigramLogprob(spark: SparkSession, dir: String,
                       maxVocab: Int = 65536): DataFrame = {
    val logp = typedlit(unigramLogp(spark, dir, maxVocab))
    Tables.documents(spark, dir)
      .withColumn("words", split(lower(col("text")), " "))
      // the '' filter is REQUIRED for correctness, not cosmetic: ''
      // never enters the frequency map, so element_at would return NULL
      // for it and acc + NULL null-poisons the whole aggregate — the
      // doc would silently vanish from avg/min/max while still counting
      // in n_docs (and diverge from the oracle, which filters tok <> '')
      .withColumn("toks", filter(col("words"), w => w =!= ""))
      .filter(size(col("toks")) > 0)
      .withColumn("score",
        aggregate(transform(col("toks"), w => element_at(logp, w)),
          lit(0.0), (acc, v) => acc + v) / size(col("toks")))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_logp"),
        round(min(col("score")), 4).as("min_logp"),
        round(max(col("score")), 4).as("max_logp"))
      .orderBy(col("lang"))
  }

  private def t9Registered(spark: SparkSession, dir: String): DataFrame =
    t9UnigramLogprob(spark, dir)

  /** T10 — BPE merge training on the corpus: the learned ranked merge
    * table as (rank, left, right) rows. Corpus-scale work is one
    * word-count aggregate; the merge loop runs driver-side over the
    * bounded vocab (see [[graft.functions.BpeTokenizer.trainMerges]]).
    * Memoized per (session, dir, n) like t9's unigram vocab — training
    * is an ingest-time artifact, re-invocations serve the learned
    * table. Rows-only: no SQL engine replays BPE training; the loop is
    * pinned by the classic hand-computed example in BpeTokenizerSpec. */
  private val mergeCache = SessionMemo[(String, Int), Seq[(String, String)]]()
  def t10BpeTrain(spark: SparkSession, dir: String,
                  nMerges: Int = 20): DataFrame = {
    import spark.implicits._
    val merges = mergeCache.getOrBuild(spark, (dir, nMerges))(
      graft.functions.BpeTokenizer.trainMerges(
        Tables.documents(spark, dir), nMerges))
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .orderBy(col("rank"))
  }
  private def t10Registered(spark: SparkSession, dir: String): DataFrame =
    t10BpeTrain(spark, dir)

  /** T22 — bigram LM log-probability scoring: the CCNet/KenLM
    * perplexity filter one order up from t9's unigram. A unigram model
    * scores "are these words common"; the bigram model scores "do these
    * words FOLLOW each other" — word salad built from common words
    * (which sails through t9) scores poorly here, which is exactly the
    * failure mode the perplexity gate exists to catch. Laplace-smoothed
    * conditional: log10 P(wᵢ|wᵢ₋₁) = log10((c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V)),
    * averaged over a doc's bigram positions, reported per language with
    * the t9 column contract so the two filters read side by side.
    *
    * Scale shape, same two-pass split as t9/t12: pass 1 builds the
    * unigram and bigram count tables — both VOCABULARY-bounded, capped
    * with limit-before-collect guards (the bigram cap is the binding
    * one; beyond it the D20 hashed-bucket device is the documented
    * escape: hash bigrams into fixed buckets and the table is B rows at
    * any corpus size), memoized per (session, dir). Pass 2 scores
    * per-row against the two broadcast literals with ZERO shuffle —
    * the bigram enumeration is a sequence() transform over the doc's
    * own token array, never an exploded corpus-token join. Because the
    * model is trained on the corpus it scores, every lookup hits (no
    * OOV path to diverge on); smoothing still shapes the scores.
    * The fold is sequential per doc, score rounds(4) at the report. */
  private val bigramCache =
    SessionMemo[(String, Int, Int), (Map[String, Long], Map[String, Long])]()

  private def bigramCounts(spark: SparkSession, dir: String,
      maxVocab: Int, maxBigrams: Int): (Map[String, Long], Map[String, Long]) =
    bigramCache.getOrBuild(spark, (dir, maxVocab, maxBigrams)) {
      val toks = Tables.documents(spark, dir)
        .select(filter(split(lower(col("text")), " "), w => w =!= "")
          .as("toks"))
      val uni = toks
        .select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .limit(maxVocab + 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      require(uni.length <= maxVocab,
        s"vocabulary exceeds $maxVocab — use t24_hashed_lm (the d20 " +
          "hashed-bucket model: fixed-width tables at any vocabulary) " +
          "instead of the exact model")
      val bi = toks
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(2), size(col("toks"))),
          i => concat(element_at(col("toks"), i - 1), lit(" "),
            element_at(col("toks"), i)))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c"))
        .limit(maxBigrams + 1)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      require(bi.length <= maxBigrams,
        s"bigram table exceeds $maxBigrams — use t24_hashed_lm (the " +
          "d20 hashed-bucket model: fixed-width tables at any " +
          "vocabulary) instead of the exact model")
      (uni.toMap, bi.toMap)
    }

  /** The per-doc mean bigram log-probability — ONE definition shared
    * by t22's per-language report and t23's quality gate, so a
    * smoothing change moves both consumers (the d24-fragment
    * discipline). The scorer is the [[graft.functions.LmScore]]
    * expression: one per-row token walk with O(1) hash lookups into
    * the count tables riding the expression closure — the HOF +
    * map-literal formulation it replaced paid a LINEAR key-array scan
    * per `element_at` (135 s vs 0.6 s on the 10×-vocab replica
    * corpus, and O(|table|)/token worse from there; see LmScore's
    * scaladoc for the measurement). NULL for docs with fewer than two
    * tokens — callers filter, which is the old size(toks) ≥ 2 gate. */
  private def bigramDocScore(uni: Map[String, Long],
                             bi: Map[String, Long]): Column =
    graft.functions.LmScore.score(col("text"), uni, bi)

  def t22BigramLogprob(spark: SparkSession, dir: String,
                       maxVocab: Int = 65536,
                       maxBigrams: Int = 1 << 18): DataFrame = {
    val (uni, bi) = bigramCounts(spark, dir, maxVocab, maxBigrams)
    Tables.documents(spark, dir)
      .withColumn("score", bigramDocScore(uni, bi))
      .filter(col("score").isNotNull)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_logp"),
        round(min(col("score")), 4).as("min_logp"),
        round(max(col("score")), 4).as("max_logp"))
      .orderBy(col("lang"))
  }

  private def t22Registered(spark: SparkSession, dir: String): DataFrame =
    t22BigramLogprob(spark, dir)

  /** T23 — perplexity quality gate, the CCNet selection rule itself:
    * score every doc by its mean bigram log-probability under the
    * corpus's own LM (t22's scorer, the SAME [[bigramDocScore]]
    * expression) and keep the best-scoring fraction — low perplexity ≡
    * high mean logprob, so "keep lowest-perplexity docs" is exactly
    * d29's keep-best-by-score verb with the LM as the scorer. Scores
    * are rounded to 1e-4 (the [[Curate.cutoffOn]] histogram contract),
    * the global threshold comes from the bounded score histogram (no
    * corpus-sized sort, no nondeterministic approxQuantile), and the
    * report is per-source docs/kept/threshold — tie-INCLUSIVE at the
    * boundary, so the curated set is a pure function of the corpus.
    *
    * Scale shape: pass 1 is t22's memoized vocabulary-bounded count
    * tables; pass 2 scores per-row against the broadcast literals with
    * zero shuffle; the cutoff adds one O(bins) histogram aggregate and
    * a per-source census — nothing corpus-sized ever sorts or
    * shuffles twice. Reference behavior: spark_processor.py:89-132
    * filters rows by quality thresholds; this is that verb at
    * training-corpus scale with a learned scorer. */
  private[graft] val T23Frac = 0.5
  def t23PerplexityFilter(spark: SparkSession, dir: String,
                          frac: Double = T23Frac): DataFrame = {
    val (uni, bi) = bigramCounts(spark, dir, 65536, 1 << 18)
    Curate.cutoffOn(
      Tables.documents(spark, dir)
        .withColumn("score", round(bigramDocScore(uni, bi), 4))
        .filter(col("score").isNotNull)
        .select(col("source"), col("score")),
      frac)
  }
  private def t23Registered(spark: SparkSession, dir: String): DataFrame =
    t23PerplexityFilter(spark, dir)

  /** Hashed LM count tables: unigram and bigram counts folded into
    * FIXED bucket domains via [[graft.functions.TokenHash]] — Bu and
    * Bb rows at ANY corpus size, so unlike [[bigramCounts]] there is
    * no cap and no `require` fail-fast: the collect is bounded BY
    * CONSTRUCTION (the d20 device). Dense Long arrays, not maps —
    * the scorer indexes them directly. Memoized per (session, dir,
    * buckets) like every trained artifact here. */
  private val hashedLmCache =
    SessionMemo[(String, Int, Int), (Array[Long], Array[Long])]()

  /** The frame-level kernel — shared by the memoized per-dir tables
    * below and the t24′ live fold ([[graft.streaming.HashedLmFold]]),
    * whose per-batch counts ADD into the running tables (bucket counts
    * are an additive monoid over disjoint batches, so fold ≡ batch
    * train exactly, at every point in the stream). */
  private[graft] def hashedLmCountsOf(docs: DataFrame,
      uniBuckets: Int, biBuckets: Int): (Array[Long], Array[Long]) = {
    val toks = docs
      .select(filter(split(lower(col("text")), " "), w => w =!= "")
        .as("toks"))
    def dense(rows: Array[(Int, Long)], b: Int): Array[Long] = {
      val a = new Array[Long](b)
      rows.foreach { case (i, c) => a(i) = c }
      a
    }
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy(graft.functions.TokenHash.bucket(col("tok"), uniBuckets)
        .as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(2), size(col("toks"))),
        i => concat(element_at(col("toks"), i - 1), lit(" "),
          element_at(col("toks"), i)))).as("bg"))
      .groupBy(graft.functions.TokenHash.bucket(col("bg"), biBuckets)
        .as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    (dense(uni, uniBuckets), dense(bi, biBuckets))
  }

  private[graft] def hashedLmCounts(spark: SparkSession, dir: String,
      uniBuckets: Int, biBuckets: Int): (Array[Long], Array[Long]) =
    hashedLmCache.getOrBuild(spark, (dir, uniBuckets, biBuckets))(
      hashedLmCountsOf(Tables.documents(spark, dir), uniBuckets, biBuckets))

  /** The t24 report tail over ANY docs frame and count tables — the
    * serve half shared with [[graft.streaming.HashedLmFold]]. */
  private[graft] def hashedLmReport(docs: DataFrame,
      uniC: Array[Long], biC: Array[Long]): DataFrame =
    docs
      .withColumn("score",
        graft.functions.LmScore.scoreHashed(col("text"), uniC, biC))
      .filter(col("score").isNotNull)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_logp"),
        round(min(col("score")), 4).as("min_logp"),
        round(max(col("score")), 4).as("max_logp"))
      .orderBy(col("lang"))

  /** T24 — hashed-bucket bigram LM scoring: t22's perplexity scorer
    * with the count tables keyed by [[graft.functions.TokenHash]]
    * bucket instead of by token — the r13 verdict's #1 ask, removing
    * the engine's one registered fail-fast scale wall. The exact
    * model's tables grow with the VOCABULARY and had to be capped
    * (bigramCounts' 65k/256k `require`s); the hashed tables are Bu and
    * Bb longs at any corpus size — a 10⁹-type web vocabulary and this
    * corpus's 31 words cost the same 4096+65536-slot broadcast, so
    * the op has NO fail-fast path at all. Collisions merge counts and
    * are part of the estimator (hashing trick); the Laplace alphabet
    * becomes the bucket domain (V = Bu), so with a collision-free
    * vocabulary the score differs from t22's exact score only through
    * that denominator — bounded in [−log10(Bu/V), 0], the bracket
    * TextStatsSpec pins on the planted corpus.
    *
    * Same two-pass shape as t22: pass 1 aggregates counts BY BUCKET
    * (the shuffle key domain is Bu/Bb — smaller than the vocabulary
    * one it replaces) and collects ≤ Bu+Bb rows; pass 2 scores
    * per-row via [[graft.functions.LmScoreHashed]] — one token walk,
    * two MD5s per position, zero shuffle — then rolls up per
    * language under t22's column contract so the exact and hashed
    * filters read side by side. Oracle: DuckDB rebuilds the bucketed
    * tables through the SAME [[graft.functions.TokenHash.sql]]
    * fragment d20's oracle already replays. */
  private[graft] val T24UniBuckets = 4096
  private[graft] val T24BiBuckets = 1 << 16
  def t24HashedLm(spark: SparkSession, dir: String,
                  uniBuckets: Int = T24UniBuckets,
                  biBuckets: Int = T24BiBuckets): DataFrame = {
    val (uc, bc) = hashedLmCounts(spark, dir, uniBuckets, biBuckets)
    hashedLmReport(Tables.documents(spark, dir), uc, bc)
  }
  private def t24Registered(spark: SparkSession, dir: String): DataFrame =
    t24HashedLm(spark, dir)

  /** T13 — per-document character statistics (the Gopher/C4 rule family
    * below the word level): Shannon entropy of the character
    * distribution (detects encoding garbage, binary spills, and
    * single-character floods that word-level filters pass), plus digit
    * and space fractions. All per-row HOF arithmetic over the char
    * array — like t8, NO shuffle anywhere except the presentation
    * bound: the op composes into an ingest scan for free.
    *
    * The entropy sum runs over array_distinct order on the Spark side
    * and group order in the oracle; both are IEEE-double sums of the
    * same ~30 terms, and round(_, 4) absorbs the reorder ulps (the
    * same determinism budget every rounded float aggregate here
    * carries). */
  def t13CharStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 20)
      .withColumn("chars",
        expr("filter(split(coalesce(text, ''), ''), c -> c <> '')"))
      .withColumn("n", size(col("chars")))
      .filter(col("n") > 0)
      .withColumn("counts", expr(
        "transform(array_distinct(chars), ch -> size(filter(chars, c -> c = ch)))"))
      .withColumn("char_entropy", round(-expr(
        """aggregate(counts, 0D,
          |  (acc, k) -> acc + (k / CAST(n AS DOUBLE))
          |    * log2(k / CAST(n AS DOUBLE)))""".stripMargin), 4))
      .withColumn("digit_frac", round(
        expr("size(filter(chars, c -> c >= '0' AND c <= '9'))")
          .cast("double") / col("n"), 4))
      .withColumn("space_frac", round(
        expr("size(filter(chars, c -> c = ' '))").cast("double") / col("n"), 4))
      .select(col("doc_id"), col("n").as("n_chars_counted"),
        col("char_entropy"), col("digit_frac"), col("space_frac"))
      .orderBy(col("doc_id"))

  /** T14 — the corpus MANIFEST (the dataset card a curation run ships
    * with its output): doc counts, token totals, char totals, and mean
    * doc length for every (lang × source) cell PLUS per-lang,
    * per-source, and grand-total subtotals — one CUBE pass, so the
    * whole card is a single Expand + map-side partial aggregate over
    * one corpus scan (the a16 device applied to the documents table).
    * Subtotal keys present as 'ALL' so the frame round-trips through
    * engines without null-ordering divergence. */
  def t14CorpusManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", wsTokens(col("text")).cast("long"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("sum_chars"), col("avg_chars"))
      .orderBy(col("lang"), col("source"))

  /** T25 — tokenizer fertility card (Rust et al., ACL 2021): per
    * language, subword tokens per word (fertility) and characters per
    * token (compression) under a merge table TRAINED ON THIS CORPUS
    * (T10's Sennrich trainer) — the multilingual tokenizer-health
    * readout a team checks before committing to a tokenizer: a
    * language with fertility ≫ 1 pays proportionally more context
    * window and compute per sentence, the classic under-served-script
    * failure a shared vocabulary hides.
    *
    * Scale shape: training is T10's split — the corpus-sized work is
    * ONE vocabulary-bounded word-count aggregate (limit-before-collect
    * cap; at web scale the trainer runs on a corpus SAMPLE, which is
    * how production tokenizers are actually trained), the merge loop
    * is driver arithmetic on that bounded vocab; scoring is the
    * per-partition cached encoder (broadcast merge table, text never
    * leaves its scan partition, only five longs per doc move). All
    * per-lang sums are exact integers; the two ratios are final
    * scalar divisions rounds(4). `mergesOverride` lets the spec pin
    * hand-computed fertility under the fixed demo table. */
  def t25TokenizerFertility(spark: SparkSession, dir: String,
      nMerges: Int = 64,
      mergesOverride: Option[Seq[(String, String)]] = None): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = mergesOverride.getOrElse(
      graft.functions.BpeTokenizer.trainMerges(docs, nMerges))
    fertilityCardOf(
      graft.functions.BpeTokenizer.bpeTokenCounts(docs, merges))
  }

  /** The per-lang report tail over any (lang, n_tokens, n_words,
    * n_chars) frame — shared by t25 and its spec. */
  private[graft] def fertilityCardOf(tok: DataFrame): DataFrame =
    tok.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_words")).as("n_words"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility", round(
        col("n_tokens").cast("double") / col("n_words"), 4))
      .withColumn("chars_per_token", round(
        col("n_chars").cast("double") / col("n_tokens"), 4))
      .orderBy(col("lang"))

  private def t25Registered(spark: SparkSession, dir: String): DataFrame =
    t25TokenizerFertility(spark, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t25_tokenizer_fertility" -> t25Registered,
    "t15_zipf_fit" -> t15ZipfFit,
    "t14_corpus_manifest" -> t14CorpusManifest,
    "t13_char_stats" -> t13CharStats,
    "t9_unigram_logprob" -> t9Registered,
    "t22_bigram_logprob" -> t22Registered,
    "t23_perplexity_filter" -> t23Registered,
    "t24_hashed_lm" -> t24Registered,
    "t10_bpe_train" -> t10Registered,
    "t5_vocab_topk" -> t5VocabTopK,
    "t16_heavy_hitters" -> t16HeavyHitters,
    "t17_pmi_phrases" -> t17PmiPhrases,
    "t6_tfidf" -> t6TfIdf,
    "t19_bm25_topk" -> t19Bm25TopK,
    "t20_phrase_search" -> t20PhraseSearch,
    "t21_source_overlap" -> t21SourceOverlap,
    "d42_source_overlap_sketch" -> d42SourceOverlapSketch,
    "t7_compression_ratio" -> t7CompressionRatio,
    "t8_repetition" -> t8Repetition,
    "d8_hash_sample" -> d8HashSample,
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_fingerprint" -> d2Fingerprint,
    "t1_token_stats" -> t1TokenStats,
    "t2_quality_score" -> t2QualityScore,
    "t27_readability" -> t27Readability,
    "t28_ngram_novelty" -> t28NgramNovelty,
    "t26_quality_psi" -> t26QualityPsi,
    "t3_lang_id" -> t3LangId,
    "t18_classifier_metrics" -> t18ClassifierMetrics,
    "d38_dedup_savings" -> d38DedupSavings,
    "t4_rolling_fingerprint" -> t4RollingFingerprint,
    "mm1_binary_meta" -> mm1BinaryMeta
  )

  val oracle: Map[String, String] = Map(
    // t27: the same three integer counts (t1's whitespace tokens,
    // punctuation-run sentences, vowel-group syllables) summed as
    // exact longs per lang; the Flesch chain and the bucket CASE read
    // identical parenthesization on both engines
    "t27_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |      AS w,
        |    greatest(1, CAST(len(regexp_extract_all(
        |      coalesce(text, ''), '[.!?]+')) AS BIGINT)) AS s,
        |    greatest(1, CAST(len(regexp_extract_all(
        |      lower(coalesce(text, '')), '[aeiouy]+')) AS BIGINT)) AS y
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(w) AS BIGINT) AS words,
        |    CAST(sum(s) AS BIGINT) AS sentences,
        |    CAST(sum(y) AS BIGINT) AS syllables
        |  FROM d GROUP BY lang),
        |f AS (
        |  SELECT *, round(206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |    - 84.6 * (CAST(syllables AS DOUBLE) / words), 2) AS flesch
        |  FROM g)
        |SELECT lang, n_docs, words, sentences, syllables, flesch,
        |  CASE WHEN flesch >= 90 THEN 'very_easy'
        |       WHEN flesch >= 70 THEN 'easy'
        |       WHEN flesch >= 50 THEN 'standard'
        |       WHEN flesch >= 30 THEN 'difficult'
        |       ELSE 'very_difficult' END AS bucket
        |FROM f ORDER BY lang""".stripMargin,
    // t28: the d19 gram window (range/list-slice ≡ TextGrams), the t26
    // midpoint split, md5-prefix fingerprints (engine-identical), one
    // left join + conditional aggregate
    "t28_ngram_novelty" ->
      """WITH sp AS (
        |  SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS split
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    CASE WHEN doc_id < (SELECT split FROM sp)
        |         THEN 'ref' ELSE 'cur' END AS half,
        |    substr(md5(gram), 1, 16) AS fp
        |  FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(
        |        range(len(string_split(lower(coalesce(text, '')), ' ')) - 7),
        |        i -> array_to_string(
        |          string_split(lower(coalesce(text, '')), ' ')[i + 1 : i + 8],
        |          ' '))) AS gram
        |    FROM documents)),
        |ref AS (SELECT DISTINCT fp FROM g WHERE half = 'ref'),
        |cur AS (SELECT DISTINCT source, fp FROM g WHERE half = 'cur')
        |SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ref.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  round(CAST(sum(CASE WHEN ref.fp IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / count(*), 4) AS novelty_rate
        |FROM cur LEFT JOIN ref USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin,
    "t20_phrase_search" -> {
      val toks = T20Phrase.toLowerCase.split(" ")
      val adj = toks.zipWithIndex
        .map { case (t, i) => s"t[i + $i] = '$t'" }.mkString(" AND ")
      s"""WITH w AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source,
        |    len(list_filter(range(1, len(t) - ${toks.length - 2}),
        |      i -> $adj)) AS n_matches
        |  FROM w)
        |SELECT doc_id, source, CAST(n_matches AS BIGINT) AS n_matches
        |FROM m WHERE n_matches > 0
        |ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin
    },
    "t15_zipf_fit" ->
      """WITH c AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |        FROM documents)
        |  WHERE tok <> '' GROUP BY tok
        |  ORDER BY n DESC, tok LIMIT 200),
        |r AS (
        |  SELECT ln(n) AS lf,
        |    ln(ROW_NUMBER() OVER (ORDER BY n DESC, tok)) AS lr
        |  FROM c)
        |SELECT count(*) AS n_tokens,
        |  round(regr_slope(lf, lr), 4) AS zipf_slope,
        |  round(regr_r2(lf, lr), 4) AS fit_r2
        |FROM r""".stripMargin,
    "t14_corpus_manifest" ->
      """SELECT coalesce(lang, 'ALL') AS lang,
        |  coalesce(source, 'ALL') AS source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT)
        |    AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(n_chars), 2) AS avg_chars
        |FROM documents
        |GROUP BY CUBE (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "t13_char_stats" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '')) AS ch
        |  FROM documents WHERE doc_id < 20),
        |cnt AS (SELECT doc_id, ch, count(*) AS k FROM c
        |        WHERE ch <> '' GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, CAST(sum(k) AS DOUBLE) AS n
        |        FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id,
        |  CAST(n AS INT) AS n_chars_counted,
        |  round(-sum((k / n) * log2(k / n)), 4) AS char_entropy,
        |  round(sum(CASE WHEN ch >= '0' AND ch <= '9' THEN k ELSE 0 END) / n, 4)
        |    AS digit_frac,
        |  round(sum(CASE WHEN ch = ' ' THEN k ELSE 0 END) / n, 4) AS space_frac
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY cnt.doc_id, n ORDER BY cnt.doc_id""".stripMargin,
    "t9_unigram_logprob" ->
      """WITH w AS (
        |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |w2 AS (SELECT doc_id, lang, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS c FROM w2 GROUP BY tok),
        |t AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM f),
        |ds AS (
        |  SELECT doc_id, lang, avg(log10(c / total)) AS score
        |  FROM w2 JOIN f USING (tok) CROSS JOIN t
        |  GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(score), 4) AS avg_logp,
        |  round(min(score), 4) AS min_logp,
        |  round(max(score), 4) AS max_logp
        |FROM ds GROUP BY lang ORDER BY lang""".stripMargin,
    "t22_bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |uc AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |pairs AS (
        |  SELECT doc_id, lang, b.prev AS prev, b.nxt AS nxt
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(range(2, len(toks) + 1),
        |        i -> struct_pack(prev := toks[i-1], nxt := toks[i]))) AS b
        |    FROM d WHERE len(toks) >= 2)),
        |bc AS (
        |  SELECT prev, nxt, count(*) AS c FROM pairs GROUP BY prev, nxt),
        |scored AS (
        |  SELECT p.doc_id, p.lang,
        |    log10((bc.c + 1.0) / (uc.c + v.v)) AS lp
        |  FROM pairs p
        |  JOIN bc ON p.prev = bc.prev AND p.nxt = bc.nxt
        |  JOIN uc ON p.prev = uc.tok
        |  CROSS JOIN v),
        |ds AS (
        |  SELECT doc_id, lang, sum(lp) / count(*) AS score
        |  FROM scored GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(score), 4) AS avg_logp,
        |  round(min(score), 4) AS min_logp,
        |  round(max(score), 4) AS max_logp
        |FROM ds GROUP BY lang ORDER BY lang""".stripMargin,
    // t23 composes t22's scored CTE (same smoothing arithmetic) with
    // d29's histogram-threshold machinery (same tie-inclusive rule) —
    // an edit to either shared device moves this oracle too
    "t23_perplexity_filter" ->
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |uc AS (
        |  SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
        |pairs AS (
        |  SELECT doc_id, source, b.prev AS prev, b.nxt AS nxt
        |  FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(2, len(toks) + 1),
        |        i -> struct_pack(prev := toks[i-1], nxt := toks[i]))) AS b
        |    FROM d WHERE len(toks) >= 2)),
        |bc AS (
        |  SELECT prev, nxt, count(*) AS c FROM pairs GROUP BY prev, nxt),
        |scored AS (
        |  SELECT p.doc_id, p.source,
        |    log10((bc.c + 1.0) / (uc.c + v.v)) AS lp
        |  FROM pairs p
        |  JOIN bc ON p.prev = bc.prev AND p.nxt = bc.nxt
        |  JOIN uc ON p.prev = uc.tok
        |  CROSS JOIN v),
        |ds AS (
        |  SELECT doc_id, source, round(sum(lp) / count(*), 4) AS score
        |  FROM scored GROUP BY doc_id, source),
        |h AS (SELECT score, count(*) AS c FROM ds GROUP BY score),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score DESC) AS cum
        |        FROM h),
        |tot AS (SELECT count(*) AS total FROM ds),
        |t AS (SELECT max(score) AS thr FROM cum, tot
        |      WHERE cum >= ceil($T23Frac * total))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score >= (SELECT thr FROM t) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round((SELECT thr FROM t), 4) AS threshold
        |FROM ds GROUP BY source ORDER BY source""".stripMargin,
    // t24 rebuilds the bucketed count tables through the SAME
    // TokenHash.sql fragment d20's oracle replays — the one bucket
    // definition emits the Spark column, the JVM walk, AND this SQL,
    // so the three spellings cannot drift
    "t24_hashed_lm" ->
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), x -> x <> '')
        |      AS toks
        |  FROM documents),
        |uc AS (
        |  SELECT ${graft.functions.TokenHash.sql("tok", T24UniBuckets)}
        |      AS b, count(*) AS c
        |  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1),
        |pairs AS (
        |  SELECT doc_id, lang, b.prev AS prev, b.nxt AS nxt
        |  FROM (
        |    SELECT doc_id, lang,
        |      unnest(list_transform(range(2, len(toks) + 1),
        |        i -> struct_pack(prev := toks[i-1], nxt := toks[i]))) AS b
        |    FROM d WHERE len(toks) >= 2)),
        |bc AS (
        |  SELECT ${graft.functions.TokenHash.sql("prev || ' ' || nxt",
                     T24BiBuckets)} AS b,
        |    count(*) AS c
        |  FROM pairs GROUP BY 1),
        |scored AS (
        |  SELECT p.doc_id, p.lang,
        |    log10((bc.c + 1.0) / (uc.c + $T24UniBuckets.0)) AS lp
        |  FROM pairs p
        |  JOIN bc ON ${graft.functions.TokenHash.sql(
                        "p.prev || ' ' || p.nxt", T24BiBuckets)} = bc.b
        |  JOIN uc ON ${graft.functions.TokenHash.sql("p.prev",
                        T24UniBuckets)} = uc.b),
        |ds AS (
        |  SELECT doc_id, lang, sum(lp) / count(*) AS score
        |  FROM scored GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(score), 4) AS avg_logp,
        |  round(min(score), 4) AS min_logp,
        |  round(max(score), 4) AS max_logp
        |FROM ds GROUP BY lang ORDER BY lang""".stripMargin,
    "t5_vocab_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin,
    "t16_heavy_hitters" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
        |      FROM documents)
        |WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "t17_pmi_phrases" ->
      s"""WITH w AS (
        |  SELECT string_split(lower(text), ' ') AS w FROM documents),
        |uni AS (
        |  SELECT t, count(*) AS n
        |  FROM (SELECT unnest(w) AS t FROM w) WHERE t <> '' GROUP BY t),
        |bi AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS nb
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w))) AS i)
        |  WHERE len(w) >= 2 AND w[i] <> '' AND w[i + 1] <> ''
        |  GROUP BY 1, 2),
        |tn AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM uni),
        |tb AS (SELECT CAST(sum(nb) AS BIGINT) AS tb FROM bi)
        |SELECT w1, w2, nb,
        |  round(ln((CAST(nb AS DOUBLE) / tb)
        |        / ((CAST(n1.n AS DOUBLE) / tn) * (CAST(n2.n AS DOUBLE) / tn))), 4)
        |    AS pmi
        |FROM bi JOIN uni n1 ON bi.w1 = n1.t JOIN uni n2 ON bi.w2 = n2.t
        |CROSS JOIN tn CROSS JOIN tb
        |WHERE nb >= $T17MinCount
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,
    "t6_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM tok2 GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df
        |          FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |  WHERE tf.doc_id < 20),
        |ranked AS (
        |  SELECT doc_id, token, tf, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, token) AS INT) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, token, tf, tfidf
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "t8_repetition" ->
      """WITH b AS (
        |  SELECT lang,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bigrams
        |  FROM (SELECT lang, string_split(lower(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 2),
        |r AS (
        |  SELECT lang,
        |    round(1.0 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE), 4)
        |      AS dup_ratio
        |  FROM b)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(dup_ratio), 4) AS avg_dup_ratio,
        |  round(max(dup_ratio), 4) AS max_dup_ratio,
        |  CAST(sum(CASE WHEN dup_ratio > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_repetitive
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "d8_hash_sample" ->
      s"""SELECT lang, count(*) AS n_sampled,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
        |FROM documents
        |WHERE ${graft.functions.IdHash.sql("doc_id", 1000)} < 100
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "d2_fingerprint" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_fingerprints,
        |  min(md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS min_fp
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t1_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(avg(n_chars), 2) AS avg_chars,
        |  round(avg(len(string_split(coalesce(text, ''), ' '))), 2) AS avg_ws_tokens,
        |  round(avg(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))), 2) AS avg_re_tokens,
        |  CAST(max(length(text)) AS INT) AS max_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // t26 replays t2's stop-ratio fragment verbatim, the a35 midpoint
    // split on doc_id, the fixed −1..9 bin domain, and the smoothed
    // PSI terms (CAST AS DOUBLE before the +0.5/+5.5 — bare decimals
    // would pull DuckDB into decimal division)
    "t26_quality_psi" ->
      """WITH sp AS (
        |  SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS split
        |  FROM documents),
        |q AS (
        |  SELECT source,
        |    CASE WHEN doc_id < (SELECT split FROM sp)
        |         THEN 'ref' ELSE 'cur' END AS half,
        |    round(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','of','to','and','in','is','on')))
        |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4)
        |      AS stop_ratio
        |  FROM documents),
        |b AS (
        |  SELECT source, half,
        |    CASE WHEN stop_ratio IS NULL THEN -1
        |         ELSE least(9, CAST(floor(stop_ratio * 10) AS BIGINT))
        |    END AS bin
        |  FROM q),
        |c AS (
        |  SELECT source, half, bin, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |dom AS (
        |  SELECT source, bin
        |  FROM (SELECT DISTINCT source FROM c)
        |  CROSS JOIN (SELECT unnest(generate_series(-1, 9)) AS bin)),
        |f AS (
        |  SELECT dom.source, dom.bin,
        |    coalesce(cr.c, 0) AS cr, coalesce(cc.c, 0) AS cc
        |  FROM dom
        |  LEFT JOIN (SELECT source, bin, c FROM c WHERE half = 'ref') cr
        |    ON dom.source = cr.source AND dom.bin = cr.bin
        |  LEFT JOIN (SELECT source, bin, c FROM c WHERE half = 'cur') cc
        |    ON dom.source = cc.source AND dom.bin = cc.bin),
        |t AS (
        |  SELECT source,
        |    CAST(sum(cr) AS BIGINT) AS n_ref,
        |    CAST(sum(cc) AS BIGINT) AS n_cur
        |  FROM f GROUP BY source),
        |terms AS (
        |  SELECT f.source, t.n_ref, t.n_cur,
        |    round(((CAST(f.cc AS DOUBLE) + 0.5)
        |        / (CAST(t.n_cur AS DOUBLE) + 5.5)
        |      - (CAST(f.cr AS DOUBLE) + 0.5)
        |        / (CAST(t.n_ref AS DOUBLE) + 5.5))
        |      * ln(((CAST(f.cc AS DOUBLE) + 0.5)
        |          / (CAST(t.n_cur AS DOUBLE) + 5.5))
        |        / ((CAST(f.cr AS DOUBLE) + 0.5)
        |          / (CAST(t.n_ref AS DOUBLE) + 5.5))), 6) AS term
        |  FROM f JOIN t ON f.source = t.source)
        |SELECT source, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |  round(sum(term), 4) AS psi,
        |  round(sum(term), 4) >= 0.2 AS drift_major
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "t2_quality_score" ->
      """WITH q AS (
        |  SELECT source,
        |    len(string_split(lower(text), ' ')) AS n_words,
        |    round(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','of','to','and','in','is','on')))
        |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4) AS stop_ratio
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_words >= 10 AND stop_ratio >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(avg(stop_ratio), 4) AS avg_stop_ratio
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "t3_lang_id" ->
      """WITH p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN t LIKE '% the %' OR t LIKE '% and %' THEN 'en'
        |      WHEN t LIKE '% le %' OR t LIKE '% les %' OR t LIKE '% et %' THEN 'fr'
        |      WHEN t LIKE '% el %' OR t LIKE '% los %' THEN 'es'
        |      WHEN t LIKE '% der %' OR t LIKE '% und %' THEN 'de'
        |      ELSE 'other' END AS predicted
        |  FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents))
        |SELECT lang, predicted, count(*) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "d38_dedup_savings" ->
      """WITH keyed AS (
        |  SELECT source, doc_id,
        |    len(string_split(coalesce(text, ''), ' ')) AS n_tok,
        |    substr(md5(text), 1, 16) AS fp
        |  FROM documents),
        |keepers AS (SELECT fp, min(doc_id) AS keep_id FROM keyed GROUP BY fp)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(sum(CASE WHEN doc_id = keep_id THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  CAST(sum(n_tok) - sum(CASE WHEN doc_id = keep_id THEN n_tok ELSE 0 END)
        |       AS BIGINT) AS saved_tokens,
        |  round((sum(n_tok) - sum(CASE WHEN doc_id = keep_id THEN n_tok ELSE 0 END))
        |        * 100.0 / sum(n_tok), 4) AS saved_pct
        |FROM keyed JOIN keepers USING (fp)
        |GROUP BY source ORDER BY source""".stripMargin,
    "t18_classifier_metrics" ->
      """WITH p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN t LIKE '% the %' OR t LIKE '% and %' THEN 'en'
        |      WHEN t LIKE '% le %' OR t LIKE '% les %' OR t LIKE '% et %' THEN 'fr'
        |      WHEN t LIKE '% el %' OR t LIKE '% los %' THEN 'es'
        |      WHEN t LIKE '% der %' OR t LIKE '% und %' THEN 'de'
        |      ELSE 'other' END AS predicted
        |  FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents)),
        |cm AS (SELECT lang, predicted, count(*) AS n
        |       FROM p GROUP BY lang, predicted),
        |truth AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS n_true
        |          FROM cm GROUP BY lang),
        |pred AS (SELECT predicted AS cls, CAST(sum(n) AS BIGINT) AS n_pred
        |         FROM cm GROUP BY predicted),
        |tp AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp FROM cm
        |       WHERE lang = predicted)
        |SELECT cls,
        |  coalesce(n_true, 0) AS n_true,
        |  coalesce(n_pred, 0) AS n_pred,
        |  coalesce(tp, 0) AS tp,
        |  CASE WHEN coalesce(n_pred, 0) = 0 THEN NULL
        |       ELSE round(coalesce(tp, 0) * 1.0 / n_pred, 4) END AS precision,
        |  CASE WHEN coalesce(n_true, 0) = 0 THEN NULL
        |       ELSE round(coalesce(tp, 0) * 1.0 / n_true, 4) END AS recall,
        |  round(2.0 * coalesce(tp, 0)
        |        / (coalesce(n_pred, 0) + coalesce(n_true, 0)), 4) AS f1
        |FROM truth FULL OUTER JOIN pred USING (cls)
        |LEFT JOIN tp USING (cls)
        |ORDER BY cls""".stripMargin,
    "mm1_binary_meta" ->
      """SELECT source, count(*) AS n_payloads,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "t21_source_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split(lower(coalesce(text, '')), ' ')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |sizes AS (SELECT source, count(*) AS n FROM st GROUP BY source),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_common
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT source_a, source_b,
        |  sa.n AS n_a, sb.n AS n_b, n_common,
        |  round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = source_a
        |JOIN sizes sb ON sb.source = source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "t19_bm25_topk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS INT) AS dl,
        |    CAST(len(list_filter(w, x -> x = 'spark')) AS INT) AS tf_spark,
        |    CAST(len(list_filter(w, x -> x = 'vector')) AS INT) AS tf_vector,
        |    CAST(len(list_filter(w, x -> x = 'stream')) AS INT) AS tf_stream
        |  FROM (SELECT doc_id,
        |          string_split(lower(coalesce(text, '')), ' ') AS w
        |        FROM documents)),
        |s AS (
        |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
        |    sum(CASE WHEN tf_spark  > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector,
        |    sum(CASE WHEN tf_stream > 0 THEN 1 ELSE 0 END) AS df_stream
        |  FROM t)
        |SELECT doc_id, dl, tf_spark, tf_vector, tf_stream,
        |  round(
        |    ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
        |      * (tf_spark * 2.2)
        |      / (tf_spark + 1.2 * (0.25
        |           + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |    + ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
        |      * (tf_vector * 2.2)
        |      / (tf_vector + 1.2 * (0.25
        |           + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |    + ln((n_docs - df_stream + 0.5) / (df_stream + 0.5) + 1.0)
        |      * (tf_stream * 2.2)
        |      / (tf_stream + 1.2 * (0.25
        |           + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs))), 4)
        |    AS bm25
        |FROM t CROSS JOIN s
        |WHERE tf_spark + tf_vector + tf_stream > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin
  )
}
