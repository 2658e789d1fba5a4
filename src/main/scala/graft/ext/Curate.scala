package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators a training-data pipeline runs between dedup
  * and packing: benchmark decontamination (drop training docs that leak
  * eval-set n-grams) and deterministic per-stratum rebalancing (downsample
  * over-represented languages to a target share).
  *
  * Scale shapes: decontamination never shuffles the corpus — the benchmark
  * n-gram set is eval-sized (MBs even for large eval suites), so it
  * BROADCASTS and the training side streams through a semi-join map-side;
  * rebalancing is a pure per-row hash filter against a broadcast per-stratum
  * rate table, so it adds zero shuffles to whatever pipeline it sits in.
  */
object Curate {

  private def gramsExpr(n: Int): Column =
    graft.functions.TextGrams.gramsExpr(n)

  /** Distinct lowercased word n-grams of `text`, one row per (doc, gram).
    * Shared by the training and benchmark sides of [[decontaminateDf]] so
    * the two sides can never disagree on tokenization. */
  private def docGrams(docs: DataFrame, n: Int): DataFrame =
    docs.withColumn("words", split(lower(col("text")), " "))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(gramsExpr(n))).as("gram"))

  /** Benchmark decontamination core: a TRAINING doc is contaminated iff
    * it shares at least one word n-gram with any doc of the (separate)
    * BENCHMARK frame — the GPT-3/PaLM eval-leak rule (production uses
    * 13-grams; the synthetic corpus's short word-soup docs need n=4 to
    * exercise the overlap path). Both frames carry (doc_id, source,
    * text). Eval suites are tiny next to the corpus: the distinct bench
    * grams BROADCAST and the left-semi probe runs map-side — the corpus
    * never shuffles. Returns per-source training/contaminated counts. */
  def decontaminateDf(train: DataFrame, bench: DataFrame, n: Int = D10N): DataFrame = {
    val benchGrams = docGrams(bench, n).select(col("gram")).distinct()
    // distinct BEFORE counting: a doc leaking k grams is one
    // contaminated doc, not k
    val contaminated = docGrams(train, n)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
    contaminationReport(train, contaminated)
  }

  /** The per-source funnel both decontamination strategies report —
    * shared so d10 and d35 cannot drift apart. */
  private def contaminationReport(train: DataFrame,
                                  contaminated: DataFrame): DataFrame =
    train
      .groupBy(col("source")).agg(count(lit(1)).as("n_train"))
      .join(contaminated.groupBy(col("source"))
        .agg(count(lit(1)).as("n_contaminated")), Seq("source"), "left")
      .withColumn("n_contaminated", coalesce(col("n_contaminated"), lit(0L)))
      .orderBy(col("source"))

  /** Constants shared between the registered d10 query and its oracle
    * SQL (interpolated there) — edit here, both sides move together. */
  private[ext] val D10N = 4
  private[graft] val BenchMod = 97

  /** D35 — decontamination for the regime where even the DISTINCT bench
    * gram set outgrows a broadcast (a thousand eval suites × web-scale
    * grams): the d10 semantics behind a BLOOM prune. The bench grams
    * compress into a fixed-size Bloom filter (sized from a one-column
    * count of the SMALL side; memory is O(nGrams·ln(1/fpp)) bits,
    * independent of gram text length), every executor probes it per-row
    * — so the corpus-side gram stream shrinks to true hits + fpp noise
    * BEFORE anything joins — and the exact semi-join then verifies only
    * that sliver, so Bloom false positives never reach the output: the
    * RESULT is exactly d10's (same oracle proves it), only the
    * execution strategy changes. The probe is Spark's own
    * `BloomFilterMightContain` expression over the filter's serialized
    * image ([[graft.functions.BloomProbe]]) — fully codegen, so the
    * corpus-side gram scan keeps one whole-stage span; build and probe
    * both key on `xxhash64(gram)`, and the exact semi-join verify
    * strips hash-collision false positives along with the Bloom fpp
    * ones. */
  def bloomDecontaminateDf(train: DataFrame, bench: DataFrame,
                           n: Int = D10N, fpp: Double = 0.001): DataFrame = {
    // ONE materialization of the bench gram set feeds all three
    // consumers (size count, filter build, verify join) — uncached, the
    // gram explode+distinct would run three times, tripling the cost of
    // the side this op exists to keep cheap. Eager localCheckpoint, NOT
    // cache(): a cache() entry is pinned by the session's CacheManager
    // until an explicit unpersist that no caller of a returned-lazy
    // frame can ever place (Dedup.scala's stated discipline), while
    // checkpoint blocks are owned by the RDD and context-cleaned as
    // soon as the result frame (whose plan references them) is dropped.
    val benchGrams = docGrams(bench, n).select(col("gram")).distinct()
      .localCheckpoint(true)
    val nGrams = math.max(1L, benchGrams.count())
    val bloomBytes = graft.functions.BloomProbe.serialize(
      graft.functions.BloomProbe.buildHashed(benchGrams, "gram", nGrams, fpp))
    val mightContain = (g: Column) =>
      graft.functions.BloomProbe.mightContainHashed(bloomBytes, g)
    // the verify semi-join is deliberately UNHINTED: in the op's target
    // regime the bench gram set does NOT fit a broadcast, and both join
    // inputs are already small — the corpus side shrank to hits+fpp at
    // the Bloom filter — so a key-bounded shuffle semi-join is the
    // correct plan there (Catalyst still broadcasts while it fits)
    val contaminated = docGrams(train, n)
      .filter(mightContain(col("gram")))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("source")).distinct()
    contaminationReport(train, contaminated)
  }

  /** The d10/d35 shared oracle, interpolated from the SAME constants the
    * Spark side uses — a change to D10N/BenchMod moves all sides
    * together. */
  private lazy val d10OracleSql: String = {
    val gramConcat = (0 until D10N)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH words AS (
      |  SELECT doc_id, source, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, source,
      |    list_distinct(list_transform(range(1, len(w) - ${D10N - 2}),
      |      i -> $gramConcat)) AS gs
      |  FROM words WHERE len(w) >= $D10N),
      |g AS (SELECT doc_id, source, unnest(gs) AS gram FROM grams),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = 0),
      |contam AS (
      |  SELECT DISTINCT g.doc_id, g.source
      |  FROM g JOIN bench USING (gram) WHERE g.doc_id % $BenchMod <> 0),
      |train AS (
      |  SELECT source, count(*) AS n_train
      |  FROM documents WHERE doc_id % $BenchMod <> 0 GROUP BY source),
      |c AS (SELECT source, count(*) AS n_contaminated FROM contam GROUP BY source)
      |SELECT train.source, n_train,
      |  CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated
      |FROM train LEFT JOIN c USING (source) ORDER BY source""".stripMargin
  }

  /** D47 — per-benchmark-ITEM contamination report: for every doc of
    * the benchmark split, what fraction of its distinct word n-grams
    * appears ANYWHERE in the training corpus (containment, Broder's
    * asymmetric overlap). The report direction d10/d15/d35 don't give:
    * they flag TRAINING docs to drop; this scores each EVAL item's
    * dirtiness so a benchmark maintainer can drop or reweight items the
    * corpus has memorized — the per-item overlap appendix the GPT-3
    * eval methodology publishes. Items cleaner than every train doc
    * still report (containment 0 — a LEFT join, never an inner), and
    * items with fewer than n words have no grams and are out of scope
    * by the d10 contract.
    *
    * Scale shape: the corpus NEVER shuffles — the bench (doc, gram)
    * frame is eval-sized and BROADCASTS; the training gram stream joins
    * it map-side, and everything after (the distinct, both aggregates,
    * the report join) rides bench-bounded frames. Containment divides
    * two exact longs, rounds(4); ordered dirtiest-first with doc_id
    * tie-break. */
  def d47BenchContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = col("doc_id") % BenchMod === 0
    benchContaminationDf(docs.filter(!isBench), docs.filter(isBench))
  }

  def benchContaminationDf(train: DataFrame, bench: DataFrame,
                           n: Int = D10N): DataFrame = {
    val bg = docGrams(bench, n)
    val totals = bg.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = docGrams(train, n).select(col("gram"))
      .join(broadcast(bg.select(col("doc_id"), col("gram"))), Seq("gram"))
      .select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double")
          / col("n_grams"), 4).as("containment"))
      .orderBy(col("containment").desc, col("doc_id"))
  }

  /** D35 registered — the d10 split through the Bloom path; its oracle
    * IS d10's oracle, which is the exactness proof. */
  def d35BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = col("doc_id") % BenchMod === 0
    bloomDecontaminateDf(docs.filter(!isBench), docs.filter(isBench))
  }

  /** D10 — the registered harness shape: the benchmark split is the
    * id-mod slice of the one testdata corpus (a real caller passes an
    * actual eval-suite frame to [[decontaminateDf]] instead). */
  def d10Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = col("doc_id") % BenchMod === 0
    decontaminateDf(docs.filter(!isBench), docs.filter(isBench))
  }

  /** D11 — deterministic language rebalancing: compute each language's
    * keep-rate as target/count where target is the smallest language's
    * count (equal-share rebalancing), then keep docs whose multiplicative
    * id-hash falls under the rate — the same pure-function-of-id device as
    * d8HashSample, so the kept set is reproducible across runs, engines,
    * and retries. The rate table is strata-sized (broadcast); the filter is
    * per-row with no shuffle. Counts land NEAR target (hash-uniform, not
    * exact) — the honest scale shape, since an exact per-stratum top-k
    * would need a per-stratum sort that the skewed big stratum turns into
    * a straggler. */
  def rebalanceDf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_lang")).as("target"))))
      .withColumn("rate", col("target").cast("double") / col("n_lang"))
    val kept = docs.join(broadcast(rates), Seq("lang"))
      .filter(hashKeep(col("doc_id"), col("rate")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_lang"), col("target"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Rate-keep over the shared id-hash ([[graft.functions.IdHash]]) at
    * 1e6 resolution: keep iff bucket(id) < rate·1e6. */
  private def hashKeep(id: Column, rate: Column): Column =
    graft.functions.IdHash.bucket(id, 1000000).cast("double") <
      rate * lit(1000000.0)

  def d11Rebalance(spark: SparkSession, dir: String): DataFrame =
    rebalanceDf(Tables.documents(spark, dir))

  /** Temperature and budget fraction shared with the d43 oracle. */
  private[ext] val D43Alpha = 0.3
  private[ext] val D43BudgetFrac = 0.5

  /** D43 — temperature-based language mixing (the XLM-R/mT5 sampling
    * rule): sample language l with probability q_l ∝ p_l^α, α<1 — a
    * knob BETWEEN d11's hard flattening (α=0: every language equal,
    * high-resource data thrown away) and proportional sampling (α=1:
    * low-resource languages vanish). The keep rate for a total budget
    * B is min(1, B·q_l / n_l), applied per row as the SAME
    * deterministic IdHash thinning d11/d16/d17 use — reproducible
    * across engines and retries, no RNG.
    *
    * 100 TB shape: one |langs|-row count aggregate (map-side combined)
    * → driver-free rate table broadcast back → per-row hash compare;
    * the corpus never shuffles. The lone libm term (pow) rounds to 6
    * decimals BEFORE the keep compare on BOTH engines, so a pow ulp
    * can't flip a row (the t6 rounding discipline applied to rates
    * rather than ranks). */
  def d43TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixDf(Tables.documents(spark, dir))

  /** The temperature-mix kernel over a caller-supplied documents-shaped
    * frame — split out so CurateSpec pins the sampling-theory
    * properties (α<1 boosts low-resource keep RATES monotonically;
    * α=1 degenerates to keep-everything under a full budget) on
    * planted counts. */
  private[graft] def temperatureMixDf(docs: DataFrame,
                                      alpha: Double = D43Alpha,
                                      budgetFrac: Double = D43BudgetFrac): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the language histogram is label-space-sized by construction — the
    // a18/t9/t21 bounded-collect discipline. Computing z/q/rate on the
    // driver (in SORTED-lang order, so the float sum is run-
    // deterministic) also keeps the registered plan to one corpus pass:
    // the distributed formulation re-derived the counts aggregate three
    // times and rode a broadcast-singleton crossJoin for two numbers.
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val nTotal = counts.map(_._2).sum
    val z = counts.map { case (_, n) => math.pow(n.toDouble, alpha) }.sum
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ratesDf = counts.toSeq.map { case (l, n) =>
      val q = r6(math.pow(n.toDouble, alpha) / z)
      (l, n, q, r6(math.min(1.0, budgetFrac * nTotal * q / n)))
    }.toDF("lang", "n_lang", "q", "rate")
    val kept = docs
      .join(broadcast(ratesDf.select(col("lang"), col("rate"))), Seq("lang"))
      .filter(hashKeep(col("doc_id"), col("rate")))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    ratesDf.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_lang"), col("q"), col("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Near-duplicate vector pairs WITHIN a k-means cell: the SemDeDup
    * candidate step, delegating to the shared keyed near-dup kernel
    * ([[Similarity.keyedNearDupPairs]] — NaN-safe, rounded-threshold).
    * The cell key makes the self-join co-partitioned — all-pairs never
    * materializes — and with [[Similarity.cellsFor]] sizing the
    * quantizer the candidate cost stays O(N·targetCell) as N grows.
    * Cross-cell near-dups are missed BY DESIGN (the published SemDeDup
    * trade: linear candidate cost, recall bounded by quantizer
    * quality). */
  def cellNearDupPairs(assigned: DataFrame, threshold: Double): DataFrame =
    Similarity.keyedNearDupPairs(assigned, "cell", threshold)
      .select(col("id_a"), col("id_b"))

  /** SemDeDup over any embeddings frame: cluster with a k-means coarse
    * quantizer, pair up within-cell vectors above the cosine threshold,
    * and keep one vector per duplicate group (minimum id) via the same
    * connected-components composition text dedup uses. Returns the kept
    * rows. The assignment is checkpointed before the self-join — without
    * it the k-means transform lineage would execute once per join side. */
  def semanticDedupDf(embeddings: DataFrame,
                      k: Int, threshold: Double): DataFrame = {
    val assigned =
      Similarity.ivfIndex(embeddings, k).assigned.localCheckpoint(true)
    keptVectors(embeddings, cellNearDupPairs(assigned, threshold))
  }

  /** Keep-one-per-group resolution, reusing [[Dedup.dedupedCorpus]]'s
    * pair→components→anti-join composition (its iteration touches only
    * pair-incident ids; the corpus passes once through the anti-join). */
  private def keptVectors(vectors: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.dedupedCorpus(vectors.withColumnRenamed("vec_id", "doc_id"), pairs)
      .withColumnRenamed("doc_id", "vec_id")

  /** Per-label SemDeDup survival accounting over an already-assigned
    * corpus — the d12 kernel, frame-level so CurateSpec can assert the
    * accounting itself (join keys, coalesce-to-zero) on a planted
    * corpus, not just the kept-set semantics. */
  def semanticDedupAccounting(labeled: DataFrame, assigned: DataFrame,
                              threshold: Double): DataFrame = {
    val kept = keptVectors(labeled.select(col("vec_id"), col("label")),
      cellNearDupPairs(assigned, threshold))
    labeled.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
      .join(kept.groupBy(col("label")).agg(count(lit(1)).as("n_kept")),
        Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_vecs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy(col("label"))
  }

  /** D12 — registered SemDeDup accounting: per label, how many vectors
    * survive semantic dedup at cosine ≥ 0.25 (the testdata embeddings
    * are near-random, max pairwise cosine ≈0.51 — production would run
    * ≥0.95 with the same plan). The quantizer is corpus-scaled
    * ([[Similarity.cellsFor]]) and served from the memoized per-(dir, k)
    * IVF index; at test scales cellsFor lands on Sim4K, so sim4 and d12
    * share one trained index per session. Rows-only: cell layout is
    * engine-specific; planted-corpus semantics are asserted in
    * CurateSpec. */
  def d12SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // the same sim32 gate as the d50-family (r19): d12 is the
    // components-loop semantic dedup, but it deletes by cosine all the
    // same — collapse vetoes it too (memoized, one sketch per session)
    Similarity.requireHealthyGeometry(spark, dir, "d12 semantic dedup")
    val k = Similarity.cellsFor(Similarity.corpusSize(spark, dir))
    val assigned = Similarity.ivfIndexFor(spark, dir, k).assigned
    semanticDedupAccounting(Tables.embeddings(spark, dir), assigned,
      threshold = 0.25)
  }

  /** The PII patterns a Dolma/CCNet-style scrub masks before training:
    * emails, IPv4s, US-phone-shaped digit runs (dashed/dotted/spaced and
    * parenthesized-area-code forms). Kept identical between the Spark
    * side and the DuckDB oracle (both Java regex and RE2 support this
    * subset — character classes, bounded repeats, \b; no \Q...\E, which
    * RE2 lacks). The paren variant carries no leading \b: a word
    * boundary can never sit before '('. */
  val PiiPatterns: Seq[String] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b",
    "\\(\\d{3}\\)[-. ]?\\d{3}[-. ]\\d{4}\\b")

  val PiiMask = "[PII]"

  /** Escape a literal dictionary term for splicing into the alternation:
    * every regex metacharacter is backslash-escaped by hand (NOT
    * Pattern.quote — its \Q...\E is Java-only, and the escaped form must
    * stay runnable by the RE2-based oracle). Terms match as substrings;
    * a caller wanting word bounds passes a \b-anchored regex via
    * `patterns` instead. */
  def literalTerm(term: String): String = {
    require(term.nonEmpty, "empty dictionary term matches everywhere")
    term.map(c =>
      if ("\\^$.|?*+()[]{}".contains(c)) s"\\$c" else c.toString).mkString
  }

  /** Validate `patterns` driver-side and fuse them into one alternation:
    * each must compile (malformed patterns fail HERE, not mid-job on
    * executors) and must not match the empty string (an empty-matching
    * alternative like `(?:x|)` would splice the mask between every pair
    * of characters in the corpus). Shared by [[redactDf]] and
    * [[qualityFilterDf]] so every pattern consumer gets the same
    * guards. */
  private def validatedAlternation(patterns: Seq[String]): String = {
    require(patterns.nonEmpty, "need at least one pattern")
    patterns.foreach { p =>
      val compiled =
        try java.util.regex.Pattern.compile(p)
        catch { case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(
            s"redaction pattern does not compile: $p (${e.getDescription})")
        }
      require(!compiled.matcher("").find(),
        s"redaction pattern matches the empty string: $p")
      // context-dependent zero-width patterns (\b, ^, $, lookarounds)
      // pass the empty-string probe but splice the mask at every
      // boundary of real text; probe a sample that embeds the pattern's
      // own literals (so lookarounds can fire) and reject any
      // zero-width hit — non-zero-width hits on the probe are fine
      val m = compiled.matcher(s"a0. z9-q $p")
      while (m.find())
        require(m.end() > m.start(),
          s"redaction pattern makes a zero-width match: $p")
    }
    patterns.map(p => s"(?:$p)").mkString("|")
  }

  /** Redact every occurrence of `patterns` (PII regexes; route literal
    * dictionary terms through [[literalTerm]]) and count the hits.
    * Pure per-row regex work — codegen'd `regexp_replace`/
    * `regexp_count`, embarrassingly parallel, zero shuffle: the scrub
    * adds nothing to whatever pipeline it sits in. One alternation
    * pattern ([[validatedAlternation]] — compile- and empty-match-
    * checked), so overlapping rules can't double-redact. Returns the
    * input plus `redacted` and `n_pii`. */
  def redactDf(docs: DataFrame, patterns: Seq[String] = PiiPatterns): DataFrame = {
    val alternation = validatedAlternation(patterns)
    docs
      .withColumn("redacted",
        regexp_replace(col("text"), alternation, PiiMask))
      .withColumn("n_pii", regexp_count(col("text"), lit(alternation)))
  }

  /** The registered scrub's pattern list: the true PII patterns plus the
    * corpus-firing dictionary term. Shared by d13 and d14 so the two
    * queries can never disagree on what counts as a hit. */
  private[ext] val CorpusScrubPatterns: Seq[String] =
    PiiPatterns :+ "\\bcustomer\\b"

  /** The deterministic forget-set rule shared by the d46 Spark side and
    * its oracle (a real deployment passes an explicit id frame). */
  private[ext] val D46Mod = 101

  /** D46 — right-to-be-forgotten cascade audit: given a forget-set of
    * user ids, the per-table purge report a GDPR/CCPA deletion job
    * publishes BEFORE committing — rows before/purged/after and a
    * purged-key checksum per table, so the compliance trail proves
    * WHICH rows left, not just how many (the j9 checksum device). The
    * cascade covers direct holders (customer, events, orders on their
    * user/customer key) and the TRANSITIVE hop — lineitems of purged
    * orders — which is the step naive per-table deletes miss and the
    * reason this is an operator rather than four filters.
    *
    * 100 TB shape: direct tables are ONE conditional aggregate each
    * (no join, map-side combined). The transitive hop is a left-semi
    * join on the purged order keys — deliberately un-hinted: the
    * purged set scales with the corpus (Catalyst broadcasts while it
    * fits, AQE splits a skewed key past that). Audit rows assemble via
    * broadcast-singleton crossJoins (CensusSpec-allowlisted). */
  def d46ForgetCascade(spark: SparkSession, dir: String): DataFrame = {
    def direct(table: String, df: DataFrame, key: org.apache.spark.sql.Column,
               ck: org.apache.spark.sql.Column): DataFrame = {
      val flag = key % D46Mod === 0
      df.agg(lit(table).as("table_name"),
        count(lit(1)).as("n_before"),
        sum(when(flag, 1L).otherwise(0L)).as("n_purged"),
        (count(lit(1)) - sum(when(flag, 1L).otherwise(0L))).as("n_after"),
        coalesce(sum(when(flag, ck)), lit(0L)).as("purged_key_sum"))
    }
    val li = Tables.lineitem(spark, dir)
    val purgedOrders = Tables.orders(spark, dir)
      .filter(col("o_custkey") % D46Mod === 0).select(col("o_orderkey"))
    val liPurged = li.join(purgedOrders,
      li("l_orderkey") === purgedOrders("o_orderkey"), "left_semi")
    val liReport = li
      .agg(lit("lineitem").as("table_name"), count(lit(1)).as("n_before"))
      .crossJoin(broadcast(liPurged.agg(
        count(lit(1)).as("n_purged"),
        coalesce(sum(col("l_orderkey")), lit(0L)).as("purged_key_sum"))))
      .select(col("table_name"), col("n_before"), col("n_purged"),
        (col("n_before") - col("n_purged")).as("n_after"),
        col("purged_key_sum"))
    direct("customer", Tables.customer(spark, dir),
        col("c_custkey"), col("c_custkey"))
      .unionByName(direct("events", Tables.events(spark, dir),
        col("user_id"), col("event_id")))
      .unionByName(direct("orders", Tables.orders(spark, dir),
        col("o_custkey"), col("o_orderkey")))
      .unionByName(liReport)
      .orderBy(col("table_name"))
  }

  /** D13 — registered PII-scrub accounting: per source, docs flagged,
    * total redactions, and characters removed. The synthetic corpus is
    * digit-free word soup, so the three true PII patterns fire zero —
    * the registered query adds a dictionary term that DOES fire
    * (`customer`), exercising the full mask-and-count arithmetic
    * end-to-end; the PII patterns themselves are asserted on planted
    * emails/IPs/phones in CurateSpec. */
  def d13PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    // the SAME fused alternation redactDf builds internally — one fusing
    // code path, so chars_matched can never count against a different
    // regex than n_pii in the same result row
    val alternation = validatedAlternation(CorpusScrubPatterns)
    redactDf(Tables.documents(spark, dir), CorpusScrubPatterns)
      // matched-span chars, NOT length(text)-length(redacted): a matched
      // span shorter than the mask would make the delta NEGATIVE and let
      // mixed sources understate removal by cancellation
      .withColumn("chars_matched",
        length(col("text")) -
          length(regexp_replace(col("text"), lit(alternation), lit(""))))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_pii")).as("n_redactions"),
        sum(col("chars_matched")).as("chars_matched"))
      .orderBy(col("source"))
  }

  /** Per-doc quality-rule evaluation — the Dolma/C4 "mixer" shape: every
    * rule is a pure per-row expression computed in ONE pass over the
    * corpus (no joins, no shuffle before the final per-source funnel
    * agg), and a doc is kept iff it passes ALL rules. Rule attribution
    * is non-exclusive (a doc can fail several), which is what a curation
    * engineer tunes thresholds against. Returns the input plus the four
    * `fail_*` flags and `keep`. */
  def qualityFilterDf(docs: DataFrame,
                      patterns: Seq[String] = CorpusScrubPatterns): DataFrame = {
    val alternation = validatedAlternation(patterns)
    // NULL text would DIVERGE from the oracle un-coalesced: Spark's
    // size(split(NULL)) is -1 (counted by n_words < 10) while DuckDB's
    // len(NULL) is NULL (CASE counts nothing) — '' fails fail_short on
    // both engines identically
    val txt = coalesce(col("text"), lit(""))
    val bigrams = gramsExpr(2)
    docs
      .withColumn("words", split(lower(txt), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("stop_ratio", round(
        size(filter(col("words"), w =>
          w.isin("the", "a", "of", "to", "and", "in", "is", "on")))
          .cast("double") / col("n_words"), 4))
      // docs too short for a bigram can't be repetitive — dup_ratio 0,
      // not null (a null would silently drop them from the funnel)
      .withColumn("dup_ratio",
        when(col("n_words") < 2, lit(0.0)).otherwise(round(
          lit(1.0) - size(array_distinct(bigrams)).cast("double") /
            (col("n_words") - 1), 4)))
      .withColumn("n_pii", regexp_count(txt, lit(alternation)))
      .withColumn("fail_short", col("n_words") < 10)
      .withColumn("fail_stop", col("stop_ratio") < 0.05)
      .withColumn("fail_rep", col("dup_ratio") > 0.05)
      .withColumn("fail_pii",
        col("n_pii").cast("double") / col("n_words") > 0.05)
      .withColumn("keep", !col("fail_short") && !col("fail_stop") &&
        !col("fail_rep") && !col("fail_pii"))
      .drop("words")
  }

  /** D14 — registered quality-filter funnel: per source, how many docs
    * fail each rule (non-exclusive) and how many survive all of them. */
  def d14QualityFilter(spark: SparkSession, dir: String): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    qualityFilterDf(Tables.documents(spark, dir))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        cnt(col("fail_short")).as("n_fail_short"),
        cnt(col("fail_stop")).as("n_fail_stop"),
        cnt(col("fail_rep")).as("n_fail_rep"),
        cnt(col("fail_pii")).as("n_fail_pii"),
        cnt(col("keep")).as("n_kept"))
      .orderBy(col("source"))
  }

  /** D16 — deterministic train/val/test assignment (98/1/1): the split
    * is a pure function of doc_id (the d8/d11 multiplicative-hash
    * device), so every run, engine, and retry agrees on the exact member
    * sets — the property that makes a split auditable and leak-checkable.
    * Zero shuffle before the per-(lang, split) report agg. */
  def d16SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitCol)
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"), col("split"))

  /** The d16 split rule as a column — ONE definition for the assigner
    * (d16), the leak checker (d32), and the group-aware assigner (d53,
    * which feeds it the dedup-component representative instead of the
    * doc's own id), so none of the three can disagree on the rule. */
  private[graft] def splitOf(id: Column): Column = {
    val bucket = graft.functions.IdHash.bucket(id, 100)
    when(bucket < 98, "train").when(bucket === 98, "val").otherwise("test")
  }

  private def splitCol: Column = splitOf(col("doc_id"))

  /** D32 — split-leakage audit: after d16 assigns train/val/test, does
    * any word n-gram cross from train into a holdout doc? The hygiene
    * check a team runs BEFORE shipping a split — d10 defends against an
    * EXTERNAL benchmark, this defends the split's own holdouts (a val
    * doc sharing a 4-gram with train is an eval leak even with perfect
    * doc-level dedup, e.g. shared boilerplate).
    *
    * 100 TB shape: unlike d10, BOTH sides are corpus-scale, so nothing
    * broadcasts — the probe is an fp-keyed equi-join under d19's skew
    * discipline: grams shuffle only as 16-hex md5 fingerprints, the
    * train-side fp set is collapsed by a map-side-combined DISTINCT
    * before the join (a corpus-hot boilerplate gram becomes ONE row per
    * map task, not a hot join key), and the holdout side left-semi
    * joins it — the join AQE can skew-split. Holdouts are ~2% of the
    * corpus but the design never relies on that. */
  def d32SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    def fp(gram: Column) = substring(md5(gram.cast("binary")), 1, 16)
    val grams = Tables.documents(spark, dir)
      .withColumn("split", splitCol)
      .withColumn("words", split(lower(col("text")), " "))
      .filter(size(col("words")) >= D10N)
      .select(col("doc_id"), col("split"),
        explode(array_distinct(gramsExpr(D10N))).as("gram"))
      .select(col("doc_id"), col("split"), fp(col("gram")).as("fp"))
    val trainFps = grams.filter(col("split") === "train")
      .select(col("fp")).distinct()
    val leaked = grams.filter(col("split") =!= "train")
      .join(trainFps, Seq("fp"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("l", lit(1))
    Tables.documents(spark, dir)
      .withColumn("split", splitCol)
      .filter(col("split") =!= "train")
      .join(leaked, Seq("doc_id"), "left")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), count(col("l")).as("n_leaked"))
      .orderBy(col("split"))
  }

  /** Token-budget downsampling: keep an (expected) `budget` tokens per
    * language by hash-filtering at rate budget/total — the SAME
    * rate-not-rank device as [[rebalanceDf]], because an exact per-lang
    * cumulative cutoff needs a per-stratum sort whose skewed big stratum
    * becomes a straggler at scale. Kept tokens land NEAR budget
    * (hash-uniform); the kept set is a pure function of doc_id. */
  def tokenBudgetDf(docs: DataFrame, budget: Long): DataFrame =
    // wsTokens coalesces NULL text internally ('' = 1 token, matching
    // the oracle's coalesce) — no call-site guard needed
    tokenBudgetOn(
      docs.withColumn("n_tokens", TextStats.wsTokens(col("text"))), budget)

  /** The budget machinery over ANY (doc_id, lang, n_tokens) frame — the
    * token counter is pluggable: whitespace words (d17) or the subword
    * encoder (d17_bpe), which is what real context windows are sized
    * in. */
  def tokenBudgetOn(tok: DataFrame, budget: Long): DataFrame = {
    val rates = tok.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("total_tokens"))
      .withColumn("rate",
        least(lit(1.0), lit(budget.toDouble) / col("total_tokens")))
    val kept = tok.join(broadcast(rates), Seq("lang"))
      .filter(hashKeep(col("doc_id"), col("rate")))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("kept_tokens"))
    rates.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("total_tokens"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** D17 — registered token-budget pass at 2000 tokens per language. */
  def d17TokenBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetDf(Tables.documents(spark, dir), budget = 2000L)

  /** D17 subword variant — the same budget pass with n_tokens from the
    * BPE kernel: whitespace counts under-shoot real context-window cost
    * (subwords ≥ words), so production budgets are set in subword units.
    * Rows-only (no SQL engine replays BPE); the encoder itself is
    * oracle'd by hand-computed encodings in BpeTokenizerSpec and the
    * budget machinery by d17's own hash-green oracle. */
  def d17BpeBudget(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetOn(
      graft.functions.BpeTokenizer.bpeTokenCounts(Tables.documents(spark, dir)),
      budget = 2000L)

  /** Registered d28 constants — interpolated into the oracle so both
    * sides move together. */
  private[ext] val D28K = 20
  private[ext] val D28Seed = 7L

  /** Registered d29 keep-fraction. */
  private[ext] val D29Frac = 0.3

  /** Top-FRACTION quality cutoff — "keep the best 30% by classifier
    * score", the FineWeb/DCLM-style selection rule that needs a GLOBAL
    * score percentile. The textbook formulations don't survive 100 TB:
    * `percent_rank()` is a global sort of the corpus, and
    * `approxQuantile` is nondeterministic across partitionings (a
    * curated dataset must be reproducible). Instead: scores are ROUNDED
    * to 1e-4, so the score domain is ≤ 10⁴+1 values by construction —
    * the full distribution is a vocabulary-bounded aggregate (map-side
    * combined, O(bins) driver rows, no sort of anything corpus-sized),
    * the threshold is a driver prefix-sum over ≤ 10k bins, and keep is
    * a pure per-row compare against the broadcast-literal threshold.
    * Exact, deterministic, tie-INCLUSIVE (every doc at the boundary
    * score is kept, so n_kept ≥ ceil(frac·N) and the member set is a
    * pure function of the corpus — no arbitrary tie cut). */
  def qualityCutoffDf(docs: DataFrame, frac: Double): DataFrame = {
    val words = split(lower(col("text")), " ")
    val nStop = size(filter(words, w =>
      w.isin("the", "a", "of", "to", "and", "in", "is", "on")))
    cutoffOn(docs
      .withColumn("score", round(nStop.cast("double") / size(words), 4))
      .filter(col("score").isNotNull), frac)
  }

  /** The cutoff machinery over ANY (source, score) frame — the scorer
    * is pluggable: the t2 stopword ratio (d29) or the learned NB
    * classifier (d30). CONTRACT: `score` is already rounded to 1e-4,
    * which is what bounds the histogram (bins ≤ score-range × 10⁴ —
    * a few 10⁵ even for log-odds scores — independent of corpus
    * size; same collect discipline as t9's capped vocab). */
  private[graft] def cutoffOn(scored: DataFrame, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    val hist = scoreHistogram(scored).collect()
    // Empty input: no histogram rows would leave thr at the -Infinity
    // sentinel and emit `threshold = -Infinity` (a SQL engine's
    // max-over-nothing is NULL — a schema-level divergence, and
    // -Infinity round-trips oddly through round()). The grouped frame
    // over zero rows IS the right degenerate answer: zero groups.
    if (hist.isEmpty)
      return scored.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"), lit(0L).as("n_kept"))
        .withColumn("threshold", lit(null).cast("double"))
        .orderBy(col("source"))
    val total = hist.iterator.map(_.getLong(1)).sum
    val target = math.ceil(frac * total).toLong
    var cum = 0L
    var thr = Double.NegativeInfinity
    val it = hist.iterator
    while (cum < target && it.hasNext) {
      val r = it.next(); cum += r.getLong(1); thr = r.getDouble(0)
    }
    scored.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= thr, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("threshold", round(lit(thr), 4))
      .orderBy(col("source"))
  }

  /** The bounded score histogram behind [[qualityCutoffDf]] — exposed
    * for the plan pin (partial aggregation is what keeps the shuffle at
    * bins×partitions instead of corpus rows). */
  private[graft] def scoreHistogram(scored: DataFrame): DataFrame =
    scored.groupBy(col("score")).agg(count(lit(1)).as("c"))
      .orderBy(col("score").desc)

  /** D29 — registered top-30% cutoff on the t2 stopword-ratio score. */
  def d29QualityCutoff(spark: SparkSession, dir: String): DataFrame =
    qualityCutoffDf(Tables.documents(spark, dir), D29Frac)

  /** EXACT-k per-stratum sample — the carve-out op (fixed-size eval sets,
    * human-review batches, label budgets) that d8/d11's rate-based
    * filters deliberately don't give: those keep an EXPECTED count, this
    * keeps exactly min(k, |stratum|) docs, deterministically (the k
    * smallest seeded md5 keys, doc_id tie-break — the d22 device, so the
    * member set is reproducible across engines, runs, and retries).
    *
    * 100 TB shape: the textbook formulation — ROW_NUMBER partitioned by
    * stratum — pins every row of a skewed stratum on one reducer (the
    * straggler d11 avoids; here rank is unavoidable, bounding it is the
    * design). So: prune FIRST on the uniform hash key — keep rows with
    * key below ~factor·k/n of the key space (broadcast per-stratum rate
    * table, pure per-row filter, no shuffle) — then rank only the
    * O(strata × factor·k) survivors. The prune is probabilistic, the
    * answer is not: a per-stratum count (tiny agg) re-checks that every
    * stratum kept ≥ min(k, n) candidates and widens the cut on the rare
    * shortfall (P ~ e^{-k} per Chernoff at factor 4), so the output
    * equals the unpruned rank BY CONSTRUCTION (asserted in CurateSpec,
    * including a forced-shortfall run). */
  def sampleExactK(docs: DataFrame, k: Int, seed: Long = D28Seed,
                   factor0: Double = 4.0, stratumCol: String = "lang",
                   idCol: String = "doc_id",
                   payload: Seq[String] = Seq("n_chars")): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // 15 hex chars = 60 bits: the key prefix as a long, far inside 2^53
    // double-exactness for the cap compare's purposes (boundary fuzz only
    // moves CANDIDATES, never the answer — the backstop re-checks).
    val slim = docs.select((col(idCol).cast("long").as(idCol) +:
        col(stratumCol) +: payload.map(col)) :+
        TrainOrder.shuffleKey(col(idCol), seed).as("skey"): _*)
      .withColumn("knum", conv(substring(col("skey"), 1, 15), 16, 10).cast("long"))
    val keySpace = math.pow(2.0, 60)
    val totals = slim.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    var factor = factor0
    var survivors: DataFrame = null
    var done = false
    while (!done) {
      val rates = totals.withColumn("cap",
        least(lit(1.0), lit(factor * k) / col("n")))
      survivors = slim.join(broadcast(rates), Seq(stratumCol))
        .filter(col("knum") < col("cap") * lit(keySpace))
      // cap = 1.0 keeps every row (knum < 2^60 always), so the loop is
      // guaranteed to terminate once factor·k reaches the biggest stratum.
      val shortfall = survivors.groupBy(col(stratumCol)).agg(count(lit(1)).as("kept"))
        .join(totals, Seq(stratumCol), "right")
        .filter(coalesce(col("kept"), lit(0L)) < least(lit(k.toLong), col("n")))
      if (shortfall.isEmpty) done = true else factor *= 16
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col("skey"), col(idCol))
    survivors
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .select(col(stratumCol) +: col("sample_rank") +: col(idCol) +:
        payload.map(col): _*)
  }

  /** D28 — registered exact-k stratified sample: 20 docs per language at
    * the fixed seed. Fully deterministic → value-level oracle (DuckDB
    * replays the seeded-md5 rank as a partitioned window). */
  def d28StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    sampleExactK(Tables.documents(spark, dir), D28K)
      .orderBy(col("lang"), col("sample_rank"))

  /** D24 — the curation RUN: the stages a training-data team actually
    * ships COMPOSED end to end, reported as a per-source funnel. Raw
    * train docs → d14's quality rules → d10's exact benchmark
    * decontamination → d2-style exact dedup (md5 fingerprint, keep the
    * minimum id among SURVIVORS — dedup runs last so a duplicate of a
    * rejected doc can still be kept). Every stage is the registered
    * operator's own kernel, so this query is the integration proof that
    * the tier composes; the funnel numbers are what a curator reads off
    * a run before signing a dataset.
    *
    * 100 TB shape: stage flags are per-row expressions over ONE corpus
    * pass; contamination is the d10 broadcast semi-join (corpus never
    * shuffles for it); the only corpus-keyed shuffles are the dedup
    * fingerprint aggregate + membership join (fingerprints, never text)
    * and the final per-source rollup. */
  def d24CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBench = col("doc_id") % BenchMod === 0
    curationFunnelDf(docs.filter(!isBench), docs.filter(isBench))
  }

  /** The funnel over caller-supplied train/bench frames — the same
    * two-frame contract as [[decontaminateDf]], and (because every stage
    * is stateless per-row work, a broadcast semi-join, or a batch-local
    * aggregate) the function a `foreachBatch` sink can run UNCHANGED on
    * each micro-batch of an ingest stream — batch ≡ stream is pinned in
    * StreamingSpec. */
  def curationFunnelDf(train: DataFrame, bench: DataFrame): DataFrame = {
    val flagged = qualityFilterDf(train)
    val benchGrams = docGrams(bench, D10N).select(col("gram")).distinct()
    val contaminated = docGrams(train, D10N)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("contam", lit(true))
    val staged = flagged.join(contaminated, Seq("doc_id"), "left")
      .withColumn("surv2", col("keep") && !coalesce(col("contam"), lit(false)))
    // canonical = min doc_id per md5(text) among stage-2 survivors; only
    // (doc_id, fp) rows enter the shuffle
    val fps = staged.filter(col("surv2"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val canon = fps.join(
        fps.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id")), Seq("fp"))
      .filter(col("doc_id") === col("keep_id"))
      .select(col("doc_id")).withColumn("canon", lit(true))
    staged.join(canon, Seq("doc_id"), "left")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("surv2"), 1L).otherwise(0L)).as("n_decontaminated"),
        sum(when(col("surv2") && coalesce(col("canon"), lit(false)), 1L)
          .otherwise(0L)).as("n_deduped"))
      .orderBy(col("source"))
  }

  /** Anonymity threshold shared with the d48 oracle and spec. */
  private[ext] val D48K = 5L

  /** D48 — k-anonymity audit (Sweeney 2002): group the corpus by its
    * QUASI-IDENTIFIER combination — attributes that are individually
    * harmless but jointly re-identifying (here lang × source ×
    * 500-char length bucket, the release-shaped metadata a dataset
    * card exposes) — and report, per source, how many combinations
    * have FEWER than k members and how much of the corpus sits in
    * them. The governance read before releasing or licensing a
    * corpus slice: a (lang, source, size) combination with 2 members
    * narrows "which document" to 2 candidates, and d46's forget
    * cascade can't help with what the metadata itself leaks.
    *
    * 100 TB shape: one map-side-combined groupBy over the QI columns
    * (group count bounded by the QI domain, not the corpus), then a
    * |sources|-bounded rollup — text never shuffles, no window, no
    * driver traffic. */
  def d48KAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityDf(Tables.documents(spark, dir), D48K)

  /** The audit over a caller-supplied documents-shaped frame — split
    * out so CurateSpec pins the group-size edges (a group of exactly k
    * is SAFE; k−1 is risky) on planted rows, independent of the
    * oracle's shared-formula replay. */
  private[graft] def kAnonymityDf(docs: DataFrame, k: Long): DataFrame =
    docs
      .groupBy(col("source"), col("lang"),
        expr("n_chars div 500").as("len_bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("n_risky_docs"),
        sum(col("cnt")).as("n_docs"))
      .select(col("source"), col("n_groups"), col("n_risky_groups"),
        col("n_risky_docs"), col("n_docs"),
        round(col("n_risky_docs") * 100.0 / col("n_docs"), 4)
          .as("risk_pct"))
      .orderBy(col("source"))

  /** Seed and sample size shared with the d41 oracle. */
  private[graft] val D41Seed = 11L
  private[graft] val D41K = 20

  /** D41 — weighted priority sampling (Efraimidis–Spirakis 2006): a
    * without-replacement sample where row i's inclusion odds are
    * proportional to its weight — here n_chars, the "sample documents
    * proportional to token mass" device a data-mixing pass uses so a
    * 100-char doc and a 10k-char doc don't get equal say. E–S keys each
    * row by u^(1/w) (u uniform); taking the top-k of that key IS a
    * weighted without-replacement draw. Monotone-equivalently we rank
    * ln(u)/w (one ln + one divide), with u = (hash+1)/2^60 derived from
    * the SAME seeded-md5 device as d22/d28 — deterministic,
    * reproducible across engines/retries, no RNG state.
    *
    * 100 TB shape: the key is a pure per-row expression (zero shuffle
    * before the top-k) and the draw is TakeOrderedAndProject — per-
    * partition top-k then a k-row merge, never a global sort. Priority
    * rounds(8) BEFORE ranking (the t6 libm discipline — ln ulps must
    * not flip ranks) with doc_id as the total tie-break. */
  def d41WeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSampleDf(Tables.documents(spark, dir), D41K, D41Seed)

  /** The E–S draw over a caller-supplied documents-shaped frame —
    * split out so CurateSpec can pin the weighted-inclusion property
    * and the Spark plan to a driver-side replay of the same md5/ln
    * arithmetic, across seeds. */
  private[graft] def weightedSampleDf(docs: DataFrame, k: Int,
                                      seed: Long): DataFrame = {
    val knum = conv(substring(
      TrainOrder.shuffleKey(col("doc_id"), seed), 1, 15), 16, 10)
      .cast("long")
    val u = (knum + lit(1L)).cast("double") / lit(math.pow(2, 60))
    docs
      .filter(col("n_chars") > 0)
      .withColumn("priority", round(log(u) / col("n_chars"), 8))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d41_weighted_sample" -> d41WeightedSample,
    "d48_k_anonymity" -> d48KAnonymity,
    "d24_curation_funnel" -> d24CurationFunnel,
    "d10_decontaminate" -> d10Decontaminate,
    "d35_bloom_decontaminate" -> d35BloomDecontaminate,
    "d11_rebalance" -> d11Rebalance,
    "d43_temperature_mix" -> d43TemperatureMix,
    "d12_semantic_dedup" -> d12SemanticDedup,
    "d13_pii_redact" -> d13PiiRedact,
    "d46_forget_cascade" -> d46ForgetCascade,
    "d14_quality_filter" -> d14QualityFilter,
    "d16_split_assign" -> d16SplitAssign,
    "d47_bench_contamination" -> d47BenchContamination,
    "d17_token_budget" -> d17TokenBudget,
    "d17_bpe_budget" -> d17BpeBudget,
    "d28_stratified_sample" -> d28StratifiedSample,
    "d29_quality_cutoff" -> d29QualityCutoff,
    "d32_split_leakage" -> d32SplitLeakage
  )

  val oracle: Map[String, String] = Map(
    // d47 composes the SAME gram CTE as d10 (one D10N/BenchMod change
    // moves every consumer) into the per-bench-item containment
    "d47_bench_contamination" -> {
      val gramConcat = (0 until D10N)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      s"""WITH words AS (
        |  SELECT doc_id, source, string_split(lower(text), ' ') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, len(w) - ${D10N - 2}),
        |      i -> $gramConcat)) AS gs
        |  FROM words WHERE len(w) >= $D10N),
        |g AS (SELECT doc_id, source, unnest(gs) AS gram FROM grams),
        |bench AS (SELECT doc_id, source, gram FROM g
        |          WHERE doc_id % $BenchMod = 0),
        |train_g AS (SELECT DISTINCT gram FROM g
        |            WHERE doc_id % $BenchMod <> 0),
        |tot AS (
        |  SELECT doc_id, source, count(*) AS n_grams
        |  FROM bench GROUP BY doc_id, source),
        |hits AS (
        |  SELECT b.doc_id, count(*) AS n_hit
        |  FROM bench b JOIN train_g USING (gram) GROUP BY b.doc_id)
        |SELECT t.doc_id, t.source, n_grams,
        |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
        |  round(coalesce(n_hit, 0) / CAST(n_grams AS DOUBLE), 4)
        |    AS containment
        |FROM tot t LEFT JOIN hits USING (doc_id)
        |ORDER BY containment DESC, doc_id""".stripMargin
    },
    "d43_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_total,
        |        sum(pow(n_lang, $D43Alpha)) AS z FROM c),
        |r AS (
        |  SELECT lang, n_lang, n_total,
        |    round(pow(n_lang, $D43Alpha) / z, 6) AS q
        |  FROM c CROSS JOIN t),
        |r2 AS (
        |  SELECT lang, n_lang, q,
        |    round(least(1.0, $D43BudgetFrac * n_total * q / n_lang), 6) AS rate
        |  FROM r),
        |kept AS (
        |  SELECT d.lang, count(*) AS n_kept
        |  FROM documents d JOIN r2 USING (lang)
        |  WHERE ${graft.functions.IdHash.sql("doc_id", 1000000)} < rate * 1000000.0
        |  GROUP BY d.lang)
        |SELECT r2.lang, n_lang, q, rate,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
        |FROM r2 LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,
    // d48: the oracle restates the QI rollup directly; sums cast to
    // BIGINT (DuckDB sums ints to HUGEINT)
    "d48_k_anonymity" ->
      s"""WITH g AS (
        |  SELECT source, lang, n_chars // 500 AS len_bucket,
        |    count(*) AS cnt
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS n_groups,
        |  CAST(sum(CASE WHEN cnt < $D48K THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_groups,
        |  CAST(sum(CASE WHEN cnt < $D48K THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_risky_docs,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  round(100.0 * sum(CASE WHEN cnt < $D48K THEN cnt ELSE 0 END)
        |    / sum(cnt), 4) AS risk_pct
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "d41_weighted_sample" ->
      s"""WITH k AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(('0x' || substr(
        |      md5(CAST(doc_id AS VARCHAR) || ':$D41Seed'), 1, 15)) AS BIGINT)
        |      AS knum
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, source, n_chars,
        |  round(ln((knum + 1) / 1152921504606846976.0) / n_chars, 8)
        |    AS priority
        |FROM k
        |ORDER BY priority DESC, doc_id LIMIT $D41K""".stripMargin,
    "d29_quality_cutoff" ->
      s"""WITH q AS (
        |  SELECT source,
        |    round(len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','a','of','to','and','in','is','on')))
        |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 4) AS score
        |  FROM documents),
        |q2 AS (SELECT * FROM q WHERE score IS NOT NULL),
        |h AS (SELECT score, count(*) AS c FROM q2 GROUP BY score),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score DESC) AS cum FROM h),
        |tot AS (SELECT count(*) AS total FROM q2),
        |t AS (SELECT max(score) AS thr FROM cum, tot
        |      WHERE cum >= ceil($D29Frac * total))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score >= (SELECT thr FROM t) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round((SELECT thr FROM t), 4) AS threshold
        |FROM q2 GROUP BY source ORDER BY source""".stripMargin,
    "d28_stratified_sample" ->
      s"""WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':$D28Seed'), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank,
        |  doc_id, n_chars
        |FROM r WHERE sample_rank <= $D28K
        |ORDER BY lang, sample_rank""".stripMargin,
    "d24_curation_funnel" -> {
      // composed from the SAME fragments as the d14/d10 oracles and the
      // same interpolated constants, so a rule change moves all three
      val gramConcat = (0 until D10N)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      raw"""WITH t AS (
        |  SELECT doc_id, source, coalesce(text, '') AS text,
        |    string_split(lower(coalesce(text, '')), ' ') AS words
        |  FROM documents WHERE doc_id % $BenchMod <> 0),
        |q AS (
        |  SELECT doc_id, source, text,
        |    (len(words) >= 10
        |     AND round(CAST(len(list_filter(words,
        |       x -> x IN ('the','a','of','to','and','in','is','on'))) AS DOUBLE)
        |       / len(words), 4) >= 0.05
        |     AND (CASE WHEN len(words) < 2 THEN 0.0 ELSE
        |       round(1.0 - CAST(len(list_distinct(list_transform(
        |         range(1, len(words)), i -> words[i] || ' ' || words[i+1])))
        |         AS DOUBLE) / (len(words) - 1), 4) END) <= 0.05
        |     AND CAST(len(regexp_extract_all(text,
        |       '(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})|(?:\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)|(?:\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)|(?:\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b)|(?:\bcustomer\b)'))
        |       AS DOUBLE) / len(words) <= 0.05) AS keep
        |  FROM t),
        |aw AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w) - ${D10N - 2}),
        |      i -> $gramConcat)) AS gs
        |  FROM aw WHERE len(w) >= $D10N),
        |g AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $BenchMod = 0),
        |contam AS (
        |  SELECT DISTINCT g.doc_id FROM g JOIN bench USING (gram)
        |  WHERE g.doc_id % $BenchMod <> 0),
        |staged AS (
        |  SELECT q.doc_id, q.source, q.text, q.keep,
        |    (q.keep AND c.doc_id IS NULL) AS surv2
        |  FROM q LEFT JOIN contam c USING (doc_id)),
        |canon AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (
        |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM staged WHERE surv2) WHERE rn = 1)
        |SELECT source, count(*) AS n_raw,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
        |  CAST(sum(CASE WHEN surv2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_decontaminated,
        |  CAST(sum(CASE WHEN surv2 AND canon.doc_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_deduped
        |FROM staged LEFT JOIN canon USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin
    },
    "d32_split_leakage" -> {
      val gramConcat = (0 until D10N)
        .map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(" || ' ' || ")
      val splitSql = s"CASE WHEN ${graft.functions.IdHash.sql("doc_id", 100)} < 98" +
        s" THEN 'train' WHEN ${graft.functions.IdHash.sql("doc_id", 100)} = 98" +
        " THEN 'val' ELSE 'test' END"
      s"""WITH d AS (
        |  SELECT doc_id, text, $splitSql AS split FROM documents),
        |words AS (
        |  SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM d),
        |grams AS (
        |  SELECT doc_id, split,
        |    list_distinct(list_transform(range(1, len(w) - ${D10N - 2}),
        |      i -> $gramConcat)) AS gs
        |  FROM words WHERE len(w) >= $D10N),
        |g0 AS (SELECT doc_id, split, unnest(gs) AS gram FROM grams),
        |g AS (SELECT doc_id, split, substr(md5(gram), 1, 16) AS fp FROM g0),
        |tr AS (SELECT DISTINCT fp FROM g WHERE split = 'train'),
        |leaked AS (
        |  SELECT DISTINCT doc_id FROM g
        |  WHERE split <> 'train' AND fp IN (SELECT fp FROM tr))
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN leaked.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_leaked
        |FROM d LEFT JOIN leaked USING (doc_id)
        |WHERE split <> 'train'
        |GROUP BY split ORDER BY split""".stripMargin
    },
    "d46_forget_cascade" ->
      s"""WITH po AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey % $D46Mod = 0),
        |lp AS (
        |  SELECT count(*) AS n_purged,
        |    CAST(coalesce(sum(l_orderkey), 0) AS BIGINT) AS ck
        |  FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM po)),
        |lt AS (SELECT count(*) AS n FROM lineitem)
        |SELECT 'customer' AS table_name, count(*) AS n_before,
        |  CAST(sum(CASE WHEN c_custkey % $D46Mod = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purged,
        |  CAST(count(*) - sum(CASE WHEN c_custkey % $D46Mod = 0 THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_after,
        |  CAST(coalesce(sum(CASE WHEN c_custkey % $D46Mod = 0
        |    THEN c_custkey END), 0) AS BIGINT) AS purged_key_sum
        |FROM customer
        |UNION ALL
        |SELECT 'events', count(*),
        |  CAST(sum(CASE WHEN user_id % $D46Mod = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) - sum(CASE WHEN user_id % $D46Mod = 0 THEN 1
        |    ELSE 0 END) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN user_id % $D46Mod = 0
        |    THEN event_id END), 0) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'orders', count(*),
        |  CAST(sum(CASE WHEN o_custkey % $D46Mod = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(count(*) - sum(CASE WHEN o_custkey % $D46Mod = 0 THEN 1
        |    ELSE 0 END) AS BIGINT),
        |  CAST(coalesce(sum(CASE WHEN o_custkey % $D46Mod = 0
        |    THEN o_orderkey END), 0) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', lt.n, CAST(lp.n_purged AS BIGINT),
        |  CAST(lt.n - lp.n_purged AS BIGINT), lp.ck
        |FROM lt CROSS JOIN lp
        |ORDER BY table_name""".stripMargin,
    "d10_decontaminate" -> d10OracleSql,
    // d35 computes the SAME answer through the Bloom-prune strategy —
    // sharing d10's oracle verbatim IS the exactness proof
    "d35_bloom_decontaminate" -> d10OracleSql,
    "d11_rebalance" ->
      s"""WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT min(n_lang) AS target FROM counts),
        |r AS (SELECT lang, n_lang, target,
        |        CAST(target AS DOUBLE) / n_lang AS rate FROM counts CROSS JOIN t),
        |kept AS (
        |  SELECT d.lang, count(*) AS n_kept
        |  FROM documents d JOIN r USING (lang)
        |  WHERE ${graft.functions.IdHash.sql("doc_id", 1000000)} < rate * 1000000.0
        |  GROUP BY d.lang)
        |SELECT r.lang, n_lang, CAST(target AS BIGINT) AS target,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
        |FROM r LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin,
    "d13_pii_redact" ->
      """WITH r AS (
        |  SELECT source, text,
        |    len(regexp_extract_all(text,
        |      '(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})|(?:\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)|(?:\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)|(?:\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b)|(?:\bcustomer\b)'))
        |      AS n_pii,
        |    regexp_replace(text,
        |      '(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})|(?:\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)|(?:\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)|(?:\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b)|(?:\bcustomer\b)',
        |      '', 'g') AS stripped
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(n_pii) AS BIGINT) AS n_redactions,
        |  CAST(sum(length(text) - length(stripped)) AS BIGINT) AS chars_matched
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "d14_quality_filter" ->
      """WITH w AS (
        |  SELECT source, coalesce(text, '') AS text,
        |    string_split(lower(coalesce(text, '')), ' ') AS words
        |  FROM documents),
        |s AS (
        |  SELECT source, len(words) AS n_words,
        |    round(CAST(len(list_filter(words,
        |      x -> x IN ('the','a','of','to','and','in','is','on'))) AS DOUBLE)
        |      / len(words), 4) AS stop_ratio,
        |    CASE WHEN len(words) < 2 THEN 0.0 ELSE
        |      round(1.0 - CAST(len(list_distinct(list_transform(
        |        range(1, len(words)), i -> words[i] || ' ' || words[i+1])))
        |        AS DOUBLE) / (len(words) - 1), 4) END AS dup_ratio,
        |    len(regexp_extract_all(text,
        |      '(?:[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})|(?:\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)|(?:\b\d{3}[-. ]\d{3}[-. ]\d{4}\b)|(?:\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}\b)|(?:\bcustomer\b)'))
        |      AS n_pii
        |  FROM w)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_words < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_short,
        |  CAST(sum(CASE WHEN stop_ratio < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_stop,
        |  CAST(sum(CASE WHEN dup_ratio > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fail_rep,
        |  CAST(sum(CASE WHEN CAST(n_pii AS DOUBLE) / n_words > 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_pii,
        |  CAST(sum(CASE WHEN n_words >= 10 AND stop_ratio >= 0.05
        |    AND dup_ratio <= 0.05 AND CAST(n_pii AS DOUBLE) / n_words <= 0.05
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "d16_split_assign" ->
      s"""WITH b AS (
        |  SELECT lang, n_chars,
        |    ${graft.functions.IdHash.sql("doc_id", 100)} AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN bucket < 98 THEN 'train'
        |         WHEN bucket = 98 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT lang, split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "d17_token_budget" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    len(string_split(coalesce(text, ''), ' ')) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |    least(1.0, 2000.0 / sum(n_tokens)) AS rate
        |  FROM t GROUP BY lang),
        |k AS (
        |  SELECT t.lang, count(*) AS n_kept,
        |    CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
        |  FROM t JOIN r USING (lang)
        |  WHERE ${graft.functions.IdHash.sql("doc_id", 1000000)} < rate * 1000000.0
        |  GROUP BY t.lang)
        |SELECT r.lang, total_tokens, round(rate, 6) AS rate,
        |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
        |FROM r LEFT JOIN k USING (lang) ORDER BY lang""".stripMargin
  )
}
