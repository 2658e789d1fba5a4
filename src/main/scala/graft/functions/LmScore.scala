package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** LmScore — per-doc mean bigram log-probability as ONE per-row pass
  * with O(1) hash lookups (the t22/t23 scorer; SURVEY §2.10 tier (b)).
  *
  * Replaces the HOF formulation `aggregate(transform(sequence(...)),
  * element_at(bigramMapLiteral, ...) ...)`: Spark's map literals are
  * `ArrayBasedMapData`, and `element_at`/`GetMapValue` on them is a
  * LINEAR SCAN of the keys array — fine for the lookup tables this
  * corpus trains (vocabulary 31), catastrophic the moment the
  * vocabulary is real: at a 10×-replica corpus (vocab 310, bigram
  * table ~5k entries) the scoring pass measured 135 s against this
  * expression's 0.6 s, and the gap grows as O(|table|) per token —
  * a 65k-entry table at the documented cap would put the HOF form at
  * hours. The per-element interpreted lambda allocation goes with it.
  *
  * Semantics are EXACTLY the HOF form's (the DuckDB oracles and the
  * hand-computed Laplace specs pin both): tokens = split(lower(text),
  * ' ') with empties dropped; fewer than 2 tokens → NULL (callers
  * filter, replacing the old pre-filter on size(toks) ≥ 2); score =
  * Σ log10((c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V)) / (n−1) folded in token order
  * (same float-sum order), log10 = StrictMath.log10 (what Spark's
  * `log10` compiles to — bit-identical), V = |unigram table|. Lookups
  * miss to 0 (the Laplace numerator already handles an unseen bigram;
  * the registered flows train on the corpus they score, so unigram
  * misses cannot occur there).
  *
  * The count tables ride the expression object itself into the task
  * closure (same broadcast-by-closure story as the old map literals)
  * and are indexed into java.util.HashMaps once per executor,
  * @transient lazily — never per row. */
case class LmScore(child: Expression,
                   uni: Map[String, Long],
                   bi: Map[String, Long]) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "lm_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_score requires string, got ${other.catalogString}")
  }

  @transient private lazy val uniIdx = {
    val m = new java.util.HashMap[String, Long](uni.size * 2)
    uni.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val biIdx = {
    val m = new java.util.HashMap[String, Long](bi.size * 2)
    bi.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val vocabV: Double = uni.size.toDouble

  /** Public: invoked from generated code; null when the doc has fewer
    * than two (non-empty) tokens. */
  def computeScore(text: UTF8String): java.lang.Double = {
    val raw = TextKernels.lowerWords(text)
    // drop empties in place (the old filter(toks, _ =!= "") step)
    val words = new Array[String](raw.length)
    var n = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { words(n) = raw(i); n += 1 }
      i += 1
    }
    if (n < 2) return null
    var sum = 0.0
    val sb = new java.lang.StringBuilder
    i = 1
    while (i < n) {
      val prev = words(i - 1)
      sb.setLength(0)
      sb.append(prev).append(' ').append(words(i))
      val cBi = biIdx.getOrDefault(sb.toString, 0L)
      val cUni = uniIdx.getOrDefault(prev, 0L)
      sum += StrictMath.log10((cBi + 1.0) / (cUni + vocabV))
      i += 1
    }
    java.lang.Double.valueOf(sum / (n - 1))
  }

  override def nullSafeEval(input: Any): Any =
    computeScore(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, txt => {
      val ref = ctx.addReferenceObj("lmScorer", this,
        classOf[LmScore].getName)
      s"""
         |java.lang.Double ${ev.value}_r = $ref.computeScore($txt);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LmScore =
    copy(child = newChild)
}

/** LmScoreHashed — [[LmScore]]'s bucket-keyed sibling: the count
  * tables are indexed by [[TokenHash]] bucket instead of by token, so
  * they are FIXED-WIDTH arrays (Bu and Bb longs) at ANY corpus size —
  * the d20 hashing-trick device applied to the LM tier, which removes
  * the engine's one registered fail-fast scale wall (the t22/t23 65k
  * vocab cap: a web-scale corpus WILL exceed any count-table cap, but
  * it cannot exceed a fixed bucket count; collisions merge counts and
  * are part of the estimator, not an error).
  *
  * Semantics (the t24 oracle replays them in DuckDB through
  * [[TokenHash.sql]], and TextStatsSpec pins [[TokenHash.bucketJvm]] ≡
  * the Column form over every corpus token): tokens = split(lower
  * (text), ' ') with empties dropped; fewer than 2 tokens → NULL;
  * score = Σ log10((biC[bucket(prev⌣' '⌣cur, Bb)] + 1) /
  * (uniC[bucket(prev, Bu)] + Bu)) / (n−1), folded in token order.
  * The Laplace alphabet is the BUCKET domain (V = Bu) — deterministic
  * at any vocabulary, where the exact model's V = |vocab| is the very
  * quantity that had to be capped. Per row the walk hashes each token
  * once and each adjacent pair once — O(tokens) MD5s, no lookup ever
  * scanning a table. */
case class LmScoreHashed(child: Expression,
                         uniC: Array[Long], biC: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "lm_score_hashed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_score_hashed requires string, got ${other.catalogString}")
  }

  /** Public: invoked from generated code; null when the doc has fewer
    * than two (non-empty) tokens. */
  def computeScore(text: UTF8String): java.lang.Double = {
    val raw = TextKernels.lowerWords(text)
    val words = new Array[String](raw.length)
    var n = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { words(n) = raw(i); n += 1 }
      i += 1
    }
    if (n < 2) return null
    val bu = uniC.length.toDouble
    var sum = 0.0
    val sb = new java.lang.StringBuilder
    i = 1
    while (i < n) {
      val prev = words(i - 1)
      sb.setLength(0)
      sb.append(prev).append(' ').append(words(i))
      val cBi = biC(TokenHash.bucketJvm(sb.toString, biC.length))
      val cUni = uniC(TokenHash.bucketJvm(prev, uniC.length))
      sum += StrictMath.log10((cBi + 1.0) / (cUni + bu))
      i += 1
    }
    java.lang.Double.valueOf(sum / (n - 1))
  }

  override def nullSafeEval(input: Any): Any =
    computeScore(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, txt => {
      val ref = ctx.addReferenceObj("lmScorerH", this,
        classOf[LmScoreHashed].getName)
      s"""
         |java.lang.Double ${ev.value}_r = $ref.computeScore($txt);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : LmScoreHashed = copy(child = newChild)
}

object LmScore {
  import org.apache.spark.sql.graft.NativeColumn.{column, expression}

  /** The scorer as a Column. The count tables can't ride SQL literals
    * (that IS the linear-scan trap this expression removes), so they
    * ride the expression node: each Column carries the tables it was
    * built with, whatever is built after it. */
  def score(text: Column, uni: Map[String, Long],
            bi: Map[String, Long]): Column =
    column(LmScore(expression(text), uni, bi))

  /** The bucket-keyed scorer as a Column (the hashed count arrays are
    * memoized per (session, dir, buckets) upstream). */
  def scoreHashed(text: Column, uniC: Array[Long],
                  biC: Array[Long]): Column =
    column(LmScoreHashed(expression(text), uniC, biC))
}
