package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TokenHash

/** Learned per-document filters over token features — the model-based
  * curation tier that sits after the rule-based one (Curate's d13/d14):
  * a closed-form Naive Bayes classifier (the CCNet/GPT-3
  * "quality/language classifier" reduced to its Spark-native shape) and
  * DSIR-style hashed-feature importance weighting (Xie et al. 2023,
  * arXiv:2302.03169).
  *
  * Both follow t9's two-pass scale shape — the corpus streams twice and
  * the model rides along as a broadcast literal:
  *  - pass 1 trains: ONE aggregate whose width is bounded by the MODEL,
  *    not the corpus (t12: the capped vocabulary; d20: exactly B hash
  *    buckets — no cap needed at all, the point of the hashing trick);
  *  - pass 2 scores: zero-shuffle per-row lookups against the broadcast
  *    table (no token explode-and-join on the scoring side), then a
  *    strata-sized report aggregate.
  */
object Classify {

  /** The one tokenization every trainer/scorer here shares (identical
    * to t9's: lowercase, split on ' ', drop empties). */
  private def toks(text: Column): Column =
    filter(split(lower(text), " "), w => w =!= "")

  // ---------------------------------------------------------------- t12

  /** Per-token Naive Bayes log-odds learned from `docs`: for each token
    * in the (capped) vocabulary,
    *   log10 P(token | pos) − log10 P(token | neg)
    * with add-one smoothing over the vocabulary. The corpus-sized step
    * is one (token → class-count) aggregate; the collect is bounded by
    * `maxVocab` (limit BEFORE collect, same diagnostic contract as t9's
    * unigram vocab — the guard must fire before the driver heap fills).
    */
  def nbLogOddsOn(docs: DataFrame, pos: Column,
                  maxVocab: Int): Map[String, Double] = {
    val rows = docs
      .select(pos.as("pos"), explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("cneg"))
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(rows.length <= maxVocab,
      s"vocabulary exceeds $maxVocab — cap the vocab before broadcasting " +
        "it (or switch to the d20 hashed-feature path, which needs none)")
    val v = rows.length.toDouble
    val totPos = rows.map(_._2).sum.toDouble
    val totNeg = rows.map(_._3).sum.toDouble
    rows.map { case (t, cp, cn) =>
      t -> (math.log10((cp + 1) / (totPos + v)) -
        math.log10((cn + 1) / (totNeg + v)))
    }.toMap
  }

  /** Score = mean per-token log-odds; prediction = rounded score > 0
    * (rounded FIRST so a libm ulp near the boundary can't flip the
    * count between engines — the sim6 round-before-rank device applied
    * to a threshold). Docs with no tokens are excluded in both engines
    * (here by the size filter; in the oracle by the token join). */
  def nbScoreOn(docs: DataFrame, logOdds: Map[String, Double]): DataFrame = {
    val lo = typedlit(logOdds)
    docs
      .withColumn("tk", toks(col("text")))
      .filter(size(col("tk")) > 0)
      .withColumn("score",
        aggregate(transform(col("tk"), w => element_at(lo, w)),
          lit(0.0), (acc, x) => acc + x) / size(col("tk")))
      .drop("tk")
  }

  /** Memoized per (session, dir): training is an ingest-time artifact —
    * re-invocations of the registered query serve the learned table
    * (same contract as t9's vocab / sim4's IVF index). */
  private val nbCache = SessionMemo[String, Map[String, Double]]()

  /** T12 — the registered classifier report: train en-vs-rest on the
    * corpus itself (the synthetic langs share one vocabulary, so the
    * margin is small — ClassifySpec plants a separable corpus to prove
    * the learner; THIS query pins determinism and the exact smoothing
    * arithmetic against DuckDB). Per true lang: docs, predicted-en
    * count, and the score spread. */
  def t12NbClassifier(spark: SparkSession, dir: String): DataFrame = {
    val logOdds = nbCache.getOrBuild(spark, dir)(nbLogOddsOn(
      Tables.documents(spark, dir), col("lang") === "en", maxVocab = 65536))
    nbScoreOn(Tables.documents(spark, dir), logOdds)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(round(col("score"), 4) > 0, 1L).otherwise(0L))
          .as("n_pred_pos"),
        round(avg(col("score")), 4).as("avg_score"),
        round(min(col("score")), 4).as("min_score"),
        round(max(col("score")), 4).as("max_score"))
      .orderBy(col("lang"))
  }

  /** D30 — top-fraction cutoff on the LEARNED score: keep the best 30%
    * of docs by NB classifier score — the FineWeb/DCLM selection rule
    * proper (d29 runs the same machinery on a rule-based score; real
    * curation thresholds a trained classifier). Composition of the two
    * tiers: t12's memoized broadcast-literal scorer (train once per
    * (session, dir), zero-shuffle scoring) feeds d29's bounded-histogram
    * global percentile (no global sort, tie-inclusive). Per-doc scores
    * round to 1e-4 BEFORE the histogram — the same device that makes
    * the threshold exact and engine-portable. */
  def d30NbCutoff(spark: SparkSession, dir: String): DataFrame = {
    val logOdds = nbCache.getOrBuild(spark, dir)(nbLogOddsOn(
      Tables.documents(spark, dir), col("lang") === "en", maxVocab = 65536))
    Curate.cutoffOn(
      nbScoreOn(Tables.documents(spark, dir), logOdds)
        .withColumn("score", round(col("score"), 4)),
      Curate.D29Frac)
  }

  // ---------------------------------------------------------- t29 / t30

  /** The session-memoized NB scorer with the columns the eval harness
    * needs (truth + prediction under t12's exact rounded rule). */
  private def nbScored(spark: SparkSession, dir: String): DataFrame = {
    val logOdds = nbCache.getOrBuild(spark, dir)(nbLogOddsOn(
      Tables.documents(spark, dir), col("lang") === "en", maxVocab = 65536))
    nbScoreOn(Tables.documents(spark, dir), logOdds)
  }

  /** T29 — per-SLICE classifier evaluation with Wilson intervals: the
    * verb a model-eval harness actually runs. A global accuracy (t18's
    * card) hides exactly the failures slicing exists to find — a
    * classifier can read 0.9 overall while scoring 0.4 on one
    * (lang, source) cell — and a small slice's point estimate is
    * noise without an interval: the Wilson score interval (Wilson
    * 1927) is the standard small-n-safe choice (never leaves [0, 1],
    * no 0/0 at p̂ ∈ {0, 1}, unlike the naive Wald interval). Per
    * (lang, source): n, truth/prediction/correct counts, accuracy,
    * and the Wilson 95% bounds.
    *
    * Scale + determinism: scoring is t12's zero-shuffle broadcast
    * lookup; the metric frame is ONE map-side-combinable count
    * aggregate bounded by the label-space product (|langs|·|sources|
    * rows, never corpus-sized); the Wilson chain is per-row scalar
    * math from exact integer counts with the SAME parenthesization in
    * both engines, rounds(4); `+ 0` normalizes the float −0.0 a p̂ = 0
    * bound produces (the sim13 device). Batch-only by design: an eval
    * card scores a FROZEN model on a pinned eval set — an ingest-time
    * artifact, not a stream (the live quality loop is a23/a26's
    * anomaly tier). */
  def t29SliceMetrics(spark: SparkSession, dir: String): DataFrame =
    sliceMetricsOn(nbScored(spark, dir), col("lang") === "en",
      round(col("score"), 4) > 0, Seq("lang", "source"))

  /** The generic kernel (unit-testable on any scored frame): metrics +
    * Wilson 95% bounds per slice of `slices`, truth/pred as BOOLEAN
    * columns evaluated per row BEFORE the count aggregate. */
  private[graft] def sliceMetricsOn(scored: DataFrame, truth: Column,
      pred: Column, slices: Seq[String]): DataFrame = {
    val agg = scored.withColumn("t", truth).withColumn("p", pred)
      .groupBy(slices.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_true"),
        sum(when(col("p"), 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("t") === col("p"), 1L).otherwise(0L)).as("n_correct"))
    val z = lit(1.96)
    val nD = col("n").cast("double")
    val p = col("n_correct").cast("double") / nD
    val denom = lit(1.0) + z * z / nD
    val center = (p + z * z / (lit(2.0) * nD)) / denom
    val half = z / denom *
      sqrt(p * (lit(1.0) - p) / nD + z * z / (lit(4.0) * nD * nD))
    agg.select(slices.map(col) ++ Seq(col("n"), col("n_true"),
      col("n_pred_pos"), col("n_correct"),
      round(p, 4).as("accuracy"),
      (round(center - half, 4) + lit(0)).as("wilson_lo"),
      (round(center + half, 4) + lit(0)).as("wilson_hi")): _*)
      .orderBy(slices.map(col): _*)
  }

  /** T30 — calibration / reliability card with ECE: is the model's
    * CONFIDENCE honest? Selection rules (d30's top-fraction cutoff)
    * and downstream weighting consume the score as if it meant
    * probability; a miscalibrated scorer silently biases both. The
    * score maps to p̂ through the base-10 logistic (the score IS a
    * mean log10-odds), rows bucket into ten fixed-width confidence
    * bins, and each bin's mean predicted p̂ stands against its
    * observed positive rate; ECE (expected calibration error —
    * Naeini et al. 2015's binned form) is the n-weighted mean gap.
    *
    * Scale + determinism: one map-side-combinable aggregate into ≤10
    * bins; p̂ rounds(4) per row and averages over its EXACT ×10⁴
    * integer image (aggregation order cannot drift a bin's mean);
    * gaps are differences of ROUNDED values re-integerized, so the
    * ECE sum is pure integer arithmetic with one final division.
    * Same batch-only rationale as t29. */
  def t30Calibration(spark: SparkSession, dir: String): DataFrame =
    calibrationOn(nbScored(spark, dir), col("lang") === "en")

  private[graft] def calibrationOn(scored: DataFrame,
                                   truth: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val phat = round(lit(1.0) /
      (lit(1.0) + pow(lit(10.0), -col("score"))), 4)
    val rows = scored.select(truth.as("t"), phat.as("phat"))
      .withColumn("bin",
        least(lit(9), floor(col("phat") * 10)).cast("int"))
      .withColumn("p4", round(col("phat") * 10000).cast("long"))
    val w = Window.partitionBy(lit(1))
    rows.groupBy(col("bin")).agg(
        count(lit(1)).as("n"),
        sum(col("p4")).as("sp4"),
        sum(when(col("t"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("avg_pred",
        round(col("sp4").cast("double") / (col("n") * 10000.0), 4))
      .withColumn("obs_rate",
        round(col("n_pos").cast("double") / col("n"), 4))
      .withColumn("gap10k",
        round(abs(col("avg_pred") - col("obs_rate")) * 10000).cast("long"))
      .withColumn("ece",
        round(sum(col("n") * col("gap10k")).over(w).cast("double")
          / (sum(col("n")).over(w) * 10000.0), 4))
      .select(col("bin"), col("n"), col("avg_pred"), col("obs_rate"),
        round(col("gap10k") / 10000.0, 4).as("gap"), col("ece"))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------- d20

  /** Feature-bucket count B: FIXED, so the trained table is always
    * exactly B rows — broadcastable at any corpus size with no
    * vocabulary cap, which is the entire reason d20 exists next to t12.
    * Shared with the oracle via [[TokenHash.sql]] interpolation. */
  private[ext] val DsirBuckets = 1024

  /** The "curated reference" stand-in for the registered query: in
    * production this is a separate high-quality frame (wiki/books); the
    * harness corpus has no such split, so three sources play the part.
    * Shared with the oracle string. */
  private[ext] val DsirTarget = Seq("src0", "src1", "src2")

  /** Per-bucket importance log-ratios learned in ONE corpus scan:
    * bucket counts under the TARGET distribution vs the RAW pool, both
    * add-one smoothed over B, ratio in log10. The aggregate is B-wide
    * regardless of vocabulary — hash collisions fold rare tokens
    * together, which is the estimator (not an error): DSIR's insight is
    * that importance weights survive the hashing trick. */
  def dsirLogRatiosOn(docs: DataFrame, target: Column,
                      buckets: Int = DsirBuckets): Array[Double] = {
    val rows = docs
      .select(target.as("pos"), explode(toks(col("text"))).as("token"))
      .select(col("pos"), TokenHash.bucket(col("token"), buckets).as("b"))
      .groupBy(col("b")).agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("ca"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val tt = rows.map(_._2).sum.toDouble
    val ta = rows.map(_._3).sum.toDouble
    val lr = Array.fill(buckets)(0.0)
    rows.foreach { case (b, ct, ca) =>
      lr(b) = math.log10((ct + 1) / (tt + buckets)) -
        math.log10((ca + 1) / (ta + buckets))
    }
    lr
  }

  /** Per-doc importance weight = mean per-token bucket log-ratio, via a
    * zero-shuffle lookup into the broadcast B-element table. */
  def dsirWeighted(docs: DataFrame, logRatios: Array[Double],
                   buckets: Int = DsirBuckets): DataFrame = {
    val lrLit = array(logRatios.toIndexedSeq.map(lit): _*)
    docs
      .withColumn("tk", toks(col("text")))
      .filter(size(col("tk")) > 0)
      .withColumn("weight",
        aggregate(
          transform(col("tk"),
            w => element_at(lrLit, TokenHash.bucket(w, buckets) + 1)),
          lit(0.0), (acc, x) => acc + x) / size(col("tk")))
      .drop("tk")
  }

  private val dsirCache = SessionMemo[String, Array[Double]]()

  /** D20 — registered DSIR report: weight every doc against the
    * target-vs-raw bucket ratios, then per source report the weight
    * spread and how many docs rank above the POOL-MEAN weight. The keep
    * line is mean-relative, not zero, because the pool average of
    * log(p_target/p_raw) is −KL(raw‖target) ≤ 0 by construction — a
    * zero threshold would select (almost) nothing from any corpus;
    * DSIR itself samples by weight RANK, and above-mean is its
    * deterministic, engine-replayable stand-in. Both sides of the
    * comparison round first so a libm ulp can't flip a count. The
    * mean rides in as a broadcast singleton (the d11 device). */
  def d20DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val lr = dsirCache.getOrBuild(spark, dir)(dsirLogRatiosOn(
      Tables.documents(spark, dir), col("source").isin(DsirTarget: _*)))
    val weighted = dsirWeighted(Tables.documents(spark, dir), lr)
    weighted
      .crossJoin(broadcast(weighted.agg(avg(col("weight")).as("mw"))))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("weight")), 4).as("avg_weight"),
        sum(when(round(col("weight"), 4) > round(col("mw"), 4), 1L)
          .otherwise(0L)).as("n_selected"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------- registry

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t12_nb_classifier" -> t12NbClassifier,
    "t29_slice_metrics" -> t29SliceMetrics,
    "t30_calibration" -> t30Calibration,
    "d20_dsir_weights" -> d20DsirWeights,
    "d30_nb_cutoff" -> d30NbCutoff
  )

  private def targetList: String =
    DsirTarget.map(s => s"'$s'").mkString(", ")

  val oracle: Map[String, String] = Map(
    "d30_nb_cutoff" ->
      s"""WITH w AS (
        |  SELECT doc_id, source, lang = 'en' AS pos,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |w2 AS (SELECT doc_id, source, pos, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok,
        |        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |        sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |      FROM w2 GROUP BY tok),
        |t AS (SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
        |             CAST(sum(cneg) AS DOUBLE) AS tneg,
        |             CAST(count(*) AS DOUBLE) AS v FROM f),
        |lo AS (SELECT tok,
        |         log10((cpos + 1) / (tpos + v)) -
        |         log10((cneg + 1) / (tneg + v)) AS lo
        |       FROM f CROSS JOIN t),
        |ds AS (SELECT doc_id, source, round(avg(lo), 4) AS score
        |       FROM w2 JOIN lo USING (tok) GROUP BY doc_id, source),
        |h AS (SELECT score, count(*) AS c FROM ds GROUP BY score),
        |cum AS (SELECT score, sum(c) OVER (ORDER BY score DESC) AS cum FROM h),
        |tot AS (SELECT count(*) AS total FROM ds),
        |thr AS (SELECT max(score) AS thr FROM cum, tot
        |        WHERE cum >= ceil(${Curate.D29Frac} * total))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score >= (SELECT thr FROM thr) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  round((SELECT thr FROM thr), 4) AS threshold
        |FROM ds GROUP BY source ORDER BY source""".stripMargin,
    "t12_nb_classifier" ->
      """WITH w AS (
        |  SELECT doc_id, lang, lang = 'en' AS pos,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |w2 AS (SELECT doc_id, lang, pos, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok,
        |        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |        sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |      FROM w2 GROUP BY tok),
        |t AS (SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
        |             CAST(sum(cneg) AS DOUBLE) AS tneg,
        |             CAST(count(*) AS DOUBLE) AS v FROM f),
        |lo AS (SELECT tok,
        |         log10((cpos + 1) / (tpos + v)) -
        |         log10((cneg + 1) / (tneg + v)) AS lo
        |       FROM f CROSS JOIN t),
        |ds AS (SELECT doc_id, lang, avg(lo) AS score
        |       FROM w2 JOIN lo USING (tok) GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN round(score, 4) > 0 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_pred_pos,
        |  round(avg(score), 4) AS avg_score,
        |  round(min(score), 4) AS min_score,
        |  round(max(score), 4) AS max_score
        |FROM ds GROUP BY lang ORDER BY lang""".stripMargin,
    // t29/t30 rebuild t12's training/scoring CTE chain (same smoothing
    // arithmetic, same rounded prediction rule), then the metric math:
    // Wilson with the SAME parenthesization as the Spark chain; the
    // calibration bins/ECE from exact ×10⁴ integer images.
    "t29_slice_metrics" ->
      """WITH w AS (
        |  SELECT doc_id, lang, source, lang = 'en' AS pos,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |w2 AS (SELECT doc_id, lang, source, pos, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok,
        |        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |        sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |      FROM w2 GROUP BY tok),
        |t AS (SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
        |             CAST(sum(cneg) AS DOUBLE) AS tneg,
        |             CAST(count(*) AS DOUBLE) AS v FROM f),
        |lo AS (SELECT tok,
        |         log10((cpos + 1) / (tpos + v)) -
        |         log10((cneg + 1) / (tneg + v)) AS lo
        |       FROM f CROSS JOIN t),
        |ds AS (SELECT doc_id, lang, source,
        |         lang = 'en' AS t,
        |         round(avg(lo), 4) > 0 AS p
        |       FROM w2 JOIN lo USING (tok) GROUP BY doc_id, lang, source),
        |m AS (
        |  SELECT lang, source, count(*) AS n,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pred_pos,
        |    CAST(sum(CASE WHEN t = p THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_correct
        |  FROM ds GROUP BY lang, source)
        |SELECT lang, source, n, n_true, n_pred_pos, n_correct,
        |  round(CAST(n_correct AS DOUBLE) / n, 4) AS accuracy,
        |  round((CAST(n_correct AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
        |      / (1.0 + 1.96 * 1.96 / n)
        |    - 1.96 / (1.0 + 1.96 * 1.96 / n)
        |      * sqrt(CAST(n_correct AS DOUBLE) / n
        |          * (1.0 - CAST(n_correct AS DOUBLE) / n) / n
        |        + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * n)), 4) + 0
        |    AS wilson_lo,
        |  round((CAST(n_correct AS DOUBLE) / n + 1.96 * 1.96 / (2.0 * n))
        |      / (1.0 + 1.96 * 1.96 / n)
        |    + 1.96 / (1.0 + 1.96 * 1.96 / n)
        |      * sqrt(CAST(n_correct AS DOUBLE) / n
        |          * (1.0 - CAST(n_correct AS DOUBLE) / n) / n
        |        + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * n)), 4) + 0
        |    AS wilson_hi
        |FROM m ORDER BY lang, source""".stripMargin,
    "t30_calibration" ->
      """WITH w AS (
        |  SELECT doc_id, lang, lang = 'en' AS pos,
        |         unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |w2 AS (SELECT doc_id, lang, pos, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok,
        |        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cpos,
        |        sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cneg
        |      FROM w2 GROUP BY tok),
        |t AS (SELECT CAST(sum(cpos) AS DOUBLE) AS tpos,
        |             CAST(sum(cneg) AS DOUBLE) AS tneg,
        |             CAST(count(*) AS DOUBLE) AS v FROM f),
        |lo AS (SELECT tok,
        |         log10((cpos + 1) / (tpos + v)) -
        |         log10((cneg + 1) / (tneg + v)) AS lo
        |       FROM f CROSS JOIN t),
        |ds AS (SELECT doc_id, lang = 'en' AS t, avg(lo) AS score
        |       FROM w2 JOIN lo USING (tok) GROUP BY doc_id, lang),
        |r AS (SELECT t,
        |        round(1.0 / (1.0 + pow(10.0, -score)), 4) AS phat
        |      FROM ds),
        |r2 AS (SELECT t,
        |         CAST(least(9, floor(phat * 10)) AS INT) AS bin,
        |         CAST(round(phat * 10000, 0) AS BIGINT) AS p4
        |       FROM r),
        |b AS (SELECT bin, count(*) AS n,
        |        CAST(sum(p4) AS BIGINT) AS sp4,
        |        CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_pos
        |      FROM r2 GROUP BY bin),
        |g AS (SELECT bin, n,
        |        round(CAST(sp4 AS DOUBLE) / (n * 10000.0), 4) AS avg_pred,
        |        round(CAST(n_pos AS DOUBLE) / n, 4) AS obs_rate
        |      FROM b),
        |g2 AS (SELECT *,
        |         CAST(round(abs(avg_pred - obs_rate) * 10000, 0) AS BIGINT)
        |           AS gap10k
        |       FROM g)
        |SELECT bin, n, avg_pred, obs_rate,
        |  round(gap10k / 10000.0, 4) AS gap,
        |  round(CAST(sum(n * gap10k) OVER () AS DOUBLE)
        |    / (sum(n) OVER () * 10000.0), 4) AS ece
        |FROM g2 ORDER BY bin""".stripMargin,
    "d20_dsir_weights" ->
      s"""WITH w AS (
         |  SELECT doc_id, source, source IN ($targetList) AS pos,
         |         unnest(string_split(lower(text), ' ')) AS tok
         |  FROM documents),
         |w2 AS (SELECT doc_id, source, pos,
         |         ${TokenHash.sql("tok", DsirBuckets)} AS b
         |       FROM w WHERE tok <> ''),
         |f AS (SELECT b,
         |        sum(CASE WHEN pos THEN 1 ELSE 0 END) AS ct,
         |        count(*) AS ca
         |      FROM w2 GROUP BY b),
         |t AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt,
         |             CAST(sum(ca) AS DOUBLE) AS ta FROM f),
         |lr AS (SELECT b,
         |         log10((ct + 1) / (tt + $DsirBuckets)) -
         |         log10((ca + 1) / (ta + $DsirBuckets)) AS lr
         |       FROM f CROSS JOIN t),
         |ds AS (SELECT doc_id, source, avg(lr) AS weight
         |       FROM w2 JOIN lr USING (b) GROUP BY doc_id, source),
         |m AS (SELECT avg(weight) AS mw FROM ds)
         |SELECT source, count(*) AS n_docs,
         |  round(avg(weight), 4) AS avg_weight,
         |  CAST(sum(CASE WHEN round(weight, 4) > round(mw, 4)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
         |FROM ds CROSS JOIN m GROUP BY source ORDER BY source""".stripMargin
  )
}
