package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Curate, Similarity}

/** Decontamination flags exactly the docs sharing an n-gram with the
  * benchmark split; rebalancing keeps a deterministic, near-target subset
  * per stratum. */
class CurateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // doc 0 (id % 97 == 0) is the benchmark doc; doc 1 copies a 4-gram from
  // it verbatim, docs 2-3 share no 4-gram with it.
  private def docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta", "srcA"),
    (1L, "intro words then alpha beta gamma delta outro", "srcA"),
    (2L, "completely different tokens nothing shared here at all", "srcA"),
    (3L, "alpha beta something gamma delta epsilon off by one", "srcB")
  ).toDF("doc_id", "text", "source")

  private def splitBench(all: org.apache.spark.sql.DataFrame, mod: Int = 97) =
    (all.filter(col("doc_id") % mod =!= 0), all.filter(col("doc_id") % mod === 0))

  test("bench contamination: per-item containment, clean items stay, short items out of scope (D47)") {
    // bench item 10: grams {a b c d, b c d e} — the train corpus
    // carries "a b c d" (inside doc 1) but not "b c d e" → containment
    // 1/2. bench item 20: nothing shared → containment 0 but the row
    // MUST still report (left-join contract). bench item 30: three
    // words < n=4 → no grams → out of scope. A train doc repeating the
    // hit gram twice must not double n_hit (distinct contract).
    val bench = Seq(
      (10L, "a b c d e", "ev"),
      (20L, "totally clean eval item words", "ev"),
      (30L, "too short item", "ev")
    ).toDF("doc_id", "text", "source")
    val train = Seq(
      (1L, "prefix a b c d suffix", "tr"),
      (2L, "prefix a b c d suffix again a b c d", "tr"),
      (3L, "unrelated training content entirely", "tr")
    ).toDF("doc_id", "text", "source")
    val out = Curate.benchContaminationDf(train, bench).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(
      (10L, "ev", 2L, 1L, 0.5),
      (20L, "ev", 2L, 0L, 0.0)), out.mkString(", "))
  }

  test("curation funnel composes quality → decontamination → dedup, in order") {
    // bench doc 0 (0 % 97 == 0) donates the 4-gram; docs 1/2 are exact
    // duplicates that pass everything (dedup keeps one); docs 3/4 fail
    // the length rule (their duplicate pair never reaches dedup — the
    // dedup-last design); doc 5 passes quality but leaks the bench gram.
    val corpus = Seq(
      (0L, "the alpha beta gamma delta words on and on here", "srcA"),
      (1L, "the quick brown fox jumps over a lazy dog near the riverbank today", "srcA"),
      (2L, "the quick brown fox jumps over a lazy dog near the riverbank today", "srcA"),
      (3L, "tiny doc here", "srcA"),
      (4L, "tiny doc here", "srcA"),
      (5L, "the words alpha beta gamma delta flow in this long sentence nicely", "srcA")
    ).toDF("doc_id", "text", "source")
    val root = java.nio.file.Files.createTempDirectory("curfunnel")
    try {
      corpus.write.mode("overwrite").parquet(s"$root/documents.parquet")
      val out = Curate.d24CurationFunnel(spark, root.toString).collect()
      assert(out.length == 1)
      val r = out.head
      assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)) == (("srcA", 5L, 3L, 2L, 1L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("decontaminate flags the doc that leaks a benchmark 4-gram, only that doc") {
    val (train, bench) = splitBench(docs)
    val out = Curate.decontaminateDf(train, bench, n = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("srcA") == ((2L, 1L))) // docs 1,2 train; only doc 1 contaminated
    assert(out("srcB") == ((1L, 0L))) // doc 3's grams are all offset — clean
  }

  test("a doc leaking MANY benchmark grams counts as ONE contaminated doc") {
    // doc 6 contains the whole benchmark doc verbatim → leaks three
    // distinct 4-grams; without the per-doc distinct it would count 3×
    val (train, bench) = splitBench(docs.union(Seq(
      (6L, "prefix " + "alpha beta gamma delta epsilon zeta" + " suffix", "srcD")
    ).toDF("doc_id", "text", "source")))
    val out = Curate.decontaminateDf(train, bench, n = 4)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("srcD") == ((1L, 1L)))
  }

  test("bloom decontamination equals the exact path (FPs die in the verify join)") {
    // same planted rows as the d10 tests — the Bloom prune changes the
    // execution strategy, never the answer
    val (train, bench) = splitBench(docs)
    val exact = Curate.decontaminateDf(train, bench, n = 4)
      .collect().map(_.toSeq).toSeq
    val bloomed = Curate.bloomDecontaminateDf(train, bench, n = 4)
      .collect().map(_.toSeq).toSeq
    assert(bloomed == exact)
    // and at an absurd fpp (0.5 — every other probe is a false
    // positive) the verify join still keeps the result exact: the
    // filter only governs how many rows REACH the semi-join
    val noisy = Curate.bloomDecontaminateDf(train, bench, n = 4, fpp = 0.5)
      .collect().map(_.toSeq).toSeq
    assert(noisy == exact)
    // registered queries agree end to end on real testdata
    val d10 = Curate.d10Decontaminate(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val d35 = Curate.d35BloomDecontaminate(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(d35 == d10)
  }

  test("a training doc with fewer words than n can never be contaminated") {
    val (train, bench) = splitBench(
      docs.union(Seq((5L, "alpha beta gamma", "srcC")).toDF("doc_id", "text", "source")))
    val out = Curate.decontaminateDf(train, bench, n = 4)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("srcC") == 0L)
  }

  test("semantic dedup drops planted duplicate vectors, keeps distinct ones") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), "a"),
      (1L, Array(1f, 0f, 0f, 0f), "a"),  // exact dup of 0 → same cell always
      (2L, Array(1f, 0f, 0f, 0f), "b"),  // dup of 0, different label
      (3L, Array(1f, 0f, 0f, 0f), "b"),
      (4L, Array(0f, 1f, 0f, 0f), "a"),  // orthogonal — must survive
      (5L, Array(0f, 0f, 1f, 0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val kept = Curate.semanticDedupDf(vecs, k = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 4L, 5L))
  }

  test("a zero-norm vector is never a near-dup and cannot link its cell") {
    // cosine(0-vector, x) is 0/0 = NaN, and Spark orders NaN above every
    // number — without the kernel's isnan guard the zero vector would
    // pass any threshold and fuse the whole cell into one component.
    val assigned = Seq( // hand-built cell layout: everyone shares cell 0
      (0L, Array(0.0, 0.0, 0.0, 0.0), 0), // failed/padded encode
      (1L, Array(1.0, 0.0, 0.0, 0.0), 0),
      (2L, Array(0.0, 1.0, 0.0, 0.0), 0)
    ).toDF("vec_id", "emb", "cell")
    assert(Curate.cellNearDupPairs(assigned, threshold = 0.9).isEmpty)
    // and end-to-end: a corpus with a zero vector loses nothing
    val vecs = Seq(
      (0L, Array(0f, 0f, 0f, 0f), "a"),
      (1L, Array(1f, 0f, 0f, 0f), "a"),
      (2L, Array(0f, 1f, 0f, 0f), "a")
    ).toDF("vec_id", "embedding", "label")
    val kept = Curate.semanticDedupDf(vecs, k = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L))
  }

  test("d12 accounting reports per-label kept/dropped, zero-filled") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), "a"),
      (1L, Array(1f, 0f, 0f, 0f), "a"),  // dup of 0 → dropped
      (2L, Array(1f, 0f, 0f, 0f), "b"),  // dup of 0 → dropped
      (3L, Array(1f, 0f, 0f, 0f), "b"),  // dup of 0 → dropped
      (4L, Array(0f, 1f, 0f, 0f), "a"),  // distinct → kept
      (5L, Array(0f, 0f, 1f, 0f), "b")   // distinct → kept
    ).toDF("vec_id", "embedding", "label")
    val assigned = Similarity.ivfIndex(vecs, k = 2).assigned.localCheckpoint(true)
    val rows = Curate.semanticDedupAccounting(vecs, assigned, threshold = 0.9)
      .as[(String, Long, Long, Long)].collect().toList
    assert(rows == List(("a", 3L, 2L, 1L), ("b", 3L, 1L, 2L)))
  }

  test("semantic dedup on an all-distinct corpus keeps every vector") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f), "a"),
      (1L, Array(0f, 1f, 0f, 0f), "a"),
      (2L, Array(0f, 0f, 1f, 0f), "b")
    ).toDF("vec_id", "embedding", "label")
    val kept = Curate.semanticDedupDf(vecs, k = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L))
  }

  test("PII redaction masks emails, IPv4s and phone numbers, counts hits") {
    val docs = Seq(
      (0L, "contact alice.smith+x@example.co.uk for details", "s"),
      (1L, "server at 10.0.255.3 responded", "s"),
      (2L, "call 555-867-5309 or 555 123 4567 today", "s"),
      (3L, "no sensitive content whatsoever", "s"),
      (4L, "or (555) 867-5309 collect", "s")
    ).toDF("doc_id", "text", "source")
    val out = Curate.redactDf(docs)
      .select("doc_id", "redacted", "n_pii")
      .as[(Long, String, Int)].collect()
      .map { case (id, red, n) => id -> ((red, n)) }.toMap
    assert(out(0L) == (("contact [PII] for details", 1)))
    assert(out(1L) == (("server at [PII] responded", 1)))
    assert(out(2L) == (("call [PII] or [PII] today", 2)))
    assert(out(3L) == (("no sensitive content whatsoever", 0)))
    assert(out(4L) == (("or [PII] collect", 1)))
  }

  test("dictionary terms are spliced literally; bad patterns fail fast") {
    val docs = Seq((0L, "use C++ or perl here", "s"))
      .toDF("doc_id", "text", "source")
    // regex metachars in a literal term must not blow up or mis-match
    val out = Curate.redactDf(docs,
      Curate.PiiPatterns :+ Curate.literalTerm("C++"))
      .select("redacted").as[String].head()
    assert(out == "use [PII] or perl here")
    // a malformed pattern dies on the DRIVER at plan time, not mid-job
    // (n.b. raw "C++" would COMPILE in Java — possessive quantifier —
    // which is exactly why literalTerm escaping, not compile-validation,
    // is the defense for dictionary terms)
    intercept[IllegalArgumentException] {
      Curate.redactDf(docs, Seq("(unclosed"))
    }
    // an empty-matching alternative would mask between every character
    intercept[IllegalArgumentException] {
      Curate.redactDf(docs, Seq("(?:x|)"))
    }
    // context-dependent zero-width patterns pass an empty-string probe
    // but splice the mask at every boundary of real text
    intercept[IllegalArgumentException] { Curate.redactDf(docs, Seq("\\b")) }
    intercept[IllegalArgumentException] {
      Curate.redactDf(docs, Seq("(?=a)"))
    }
    intercept[IllegalArgumentException] { Curate.literalTerm("") }
  }

  test("redaction accounting counts matched-span chars, never negative") {
    val docs = Seq(
      (0L, "a@b.io and c@d.io wrote", "sA"),   // 2 hits, 2×6 matched chars
      (1L, "clean text here", "sA"),
      (2L, "ping 1.2.3.4 now", "sB"),          // 1 hit, 7 matched chars
      (3L, "the ssn appears here", "sB")       // 3-char hit < 5-char mask
    ).toDF("doc_id", "text", "source")
    val pats = Curate.PiiPatterns :+ Curate.literalTerm("ssn")
    val alternation = pats.map(p => s"(?:$p)").mkString("|")
    val r = Curate.redactDf(docs, pats)
      .groupBy(col("source")).agg(
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_pii")).as("n_redactions"),
        sum(length(col("text")) -
          length(regexp_replace(col("text"), lit(alternation), lit(""))))
          .as("chars_matched"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (s, a, b, c) => s -> ((a, b, c)) }.toMap
    assert(r("sA") == ((1L, 2L, 12L)))
    assert(r("sB") == ((2L, 2L, 7L + 3L))) // delta accounting would say 7+(-2)
  }

  test("quality filter attributes each failure mode; clean doc survives all") {
    val clean = "the quick brown fox jumps over a lazy dog in the sunny park"
    val docs = Seq(
      (0L, clean, "s"),                                      // keeps
      (1L, "too short", "s"),                                // fail_short
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "s"), // no stopwords
      (3L, "the cat the cat the cat the cat the cat the cat", "s"), // repetitive
      (4L, "the report for a client is a@b.io and c@d.io and e@f.io ok", "s") // PII-dense
    ).toDF("doc_id", "text", "source")
    val out = Curate.qualityFilterDf(docs, Curate.PiiPatterns)
      .select("doc_id", "fail_short", "fail_stop", "fail_rep", "fail_pii", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5, t._6))).toMap
    assert(out(0L) == ((false, false, false, false, true)))
    assert(out(1L)._1 && !out(1L)._5)            // short
    assert(out(2L)._2 && !out(2L)._5)            // stopword-free
    assert(out(3L)._3 && !out(3L)._5)            // repetitive bigrams
    assert(out(4L)._4 && !out(4L)._5)            // 3 hits / 12 words > 0.05
  }

  test("quality filter treats NULL text as a short doc, validates patterns") {
    val docs = Seq((0L, null: String, "s"), (1L, "x", "s"))
      .toDF("doc_id", "text", "source")
    val rows = Curate.qualityFilterDf(docs)
      .select("doc_id", "fail_short", "keep")
      .as[(Long, Boolean, Boolean)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(rows(0L) == ((true, false))) // NULL → '' → 1 word → short, dropped
    assert(rows(1L) == ((true, false)))
    // the shared validation guards this entry point too
    intercept[IllegalArgumentException] {
      Curate.qualityFilterDf(docs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curate.qualityFilterDf(docs, Seq("(unclosed"))
    }
  }

  test("token budget keeps ~budget tokens per language, deterministically") {
    val corpus = (0L until 300L).map { i =>
      (i, (0 until 20).map(j => s"w$j").mkString(" "), // 20 tokens each
        if (i < 200) "en" else "fr")
    }.toDF("doc_id", "text", "lang")
    val run1 = Curate.tokenBudgetDf(corpus, budget = 1000L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val run2 = Curate.tokenBudgetDf(corpus, budget = 1000L).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(run1 == run2) // pure function of ids
    assert(run1("en")._1 == 4000L) // 200 docs × 20 tokens
    // expected keep-rate 0.25 → ~1000 kept tokens; hash-uniform slack
    assert(run1("en")._3 > 500L && run1("en")._3 < 1500L,
      s"kept tokens far from budget: ${run1("en")}")
    assert(run1("fr")._1 == 2000L)
    assert(run1("fr")._3 > 500L && run1("fr")._3 < 1500L)
  }

  test("a language already under budget is kept whole (rate clamps at 1)") {
    val corpus = Seq(
      (0L, "a b c", "tiny"), (1L, "d e f", "tiny")
    ).toDF("doc_id", "text", "lang")
    val out = Curate.tokenBudgetDf(corpus, budget = 1000L).head()
    assert(out.getDouble(2) == 1.0)     // rate
    assert(out.getLong(3) == 2L)        // every doc kept
    assert(out.getLong(4) == out.getLong(1)) // kept == total tokens
  }

  test("split assignment is exhaustive, disjoint, and ~98/1/1") {
    val corpus = (0L until 2000L).map { i => (i, s"doc $i", "en", 6L) }
      .toDF("doc_id", "text", "lang", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("d16test").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.ext.Curate.d16SplitAssign(spark, dir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(out.values.sum == 2000L)            // exhaustive + disjoint
    assert(out("train") > 1900L)               // ~98%
    assert(out.getOrElse("val", 0L) + out.getOrElse("test", 0L) < 100L)
  }

  test("rebalance keeps ~target docs per stratum, deterministically") {
    val corpus = (0L until 400L).map { i =>
      (i, s"doc $i", if (i < 320) "en" else "fr")
    }.toDF("doc_id", "text", "lang")
    val run1 = Curate.rebalanceDf(corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val run2 = Curate.rebalanceDf(corpus).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(run1 == run2) // pure function of ids — no rand() anywhere
    val (nEn, target, keptEn) = run1("en")
    assert(nEn == 320L && target == 80L)
    // hash-uniform keep-rate: within ±50% of target on 320 draws
    assert(keptEn > 40L && keptEn < 120L, s"kept $keptEn of target $target")
    // the small stratum keeps everything (rate = 1.0)
    assert(run1("fr") == ((80L, 80L, 80L)))
  }

  test("exact-k sample equals the unpruned rank, even when the prune must retry") {
    val corpus = (0L until 300L).map { i =>
      (i, s"doc $i", if (i % 3 == 0) "fr" else "en", i % 17)
    }.toDF("doc_id", "text", "lang", "n_chars")
    // expected = the naive full window (what the DuckDB oracle computes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(graft.ext.TrainOrder.shuffleKey(col("doc_id"), 7L), col("doc_id"))
    val expected = corpus
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= 5)
      .select(col("lang"), col("sample_rank"), col("doc_id"), col("n_chars"))
      .collect().map(_.toSeq).toSet
    val pruned = Curate.sampleExactK(corpus, k = 5)
      .collect().map(_.toSeq).toSet
    assert(pruned == expected)
    // factor0 small enough that the first cut keeps ~1 candidate per
    // stratum — the backstop loop must widen and still return the answer
    val retried = Curate.sampleExactK(corpus, k = 5, factor0 = 0.2)
      .collect().map(_.toSeq).toSet
    assert(retried == expected)
  }

  test("split leakage flags exactly the holdout docs sharing a train 4-gram") {
    // find real holdout ids under the d16 hash rule, then plant text
    val ids = (0L until 3000L)
    def bucket(id: Long) =
      math.floor((((id % 100003L) * 2654435761L) % 4294967296L + 4294967296L)
        % 4294967296L * 100 / 4294967296.0).toLong
    val holdouts = ids.filter(bucket(_) >= 98).take(3)
    val trains = ids.filter(bucket(_) < 98).take(1)
    assert(holdouts.size == 3 && trains.size == 1)
    val leakText = "alpha beta gamma delta shared with train"
    val corpus = (
      trains.map(i => (i, "the alpha beta gamma delta words live here", "s")) ++
      Seq((holdouts(0), leakText, "s"),                       // leaks
          (holdouts(1), "completely different safe holdout words", "s"),
          (holdouts(2), "also clean and unrelated material here", "s"))
    ).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("d32test").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Curate.d32SplitLeakage(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.values.map(_._1).sum == 3L)   // all holdouts accounted
    assert(got.values.map(_._2).sum == 1L)   // exactly the planted leak
  }

  test("quality cutoff keeps the top fraction, ties at the boundary inclusive") {
    // scores (stop-ratio of 4-word docs): 'the' count / 4
    def doc(id: Long, nThe: Int) =
      (id, (Seq.fill(nThe)("the") ++ Seq.fill(4 - nThe)("zz")).mkString(" "), "s")
    // 10 docs: scores 1.0, 0.75, 0.5, 0.5, and six 0.25s
    val corpus = (Seq(doc(0, 4), doc(1, 3), doc(2, 2), doc(3, 2)) ++
      (4L until 10L).map(doc(_, 1))).toDF("doc_id", "text", "source")
    // frac 0.3 → target ceil(3) = 3 → threshold descends to 0.5; BOTH
    // 0.5-docs kept (tie-inclusive) → n_kept = 4
    val got = Curate.qualityCutoffDf(corpus, 0.3).collect().head
    assert((got.getLong(1), got.getLong(2), got.getDouble(3)) == ((10L, 4L, 0.5)))
    // frac 1.0 keeps everything
    val all = Curate.qualityCutoffDf(corpus, 1.0).collect().head
    assert(all.getLong(2) == 10L)
  }

  test("a stratum smaller than k is kept whole, ranked 1..n") {
    val corpus = Seq(
      (1L, "a", "en", 1L), (2L, "b", "en", 2L), (3L, "c", "en", 3L),
      (10L, "x", "fr", 4L)
    ).toDF("doc_id", "text", "lang", "n_chars")
    val got = Curate.sampleExactK(corpus, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.count(_._1 == "en") == 2)
    assert(got.filter(_._1 == "fr").map(x => (x._2, x._3)).toSeq == Seq((1L, 10L)))
  }

  /** Driver-side replay of the d41 key: same md5 prefix, same
    * (knum+1)/2^60, same ln(u)/w. */
  private def esPriority(docId: Long, w: Long, seed: Long): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$docId:$seed".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val u = (java.lang.Long.parseLong(hex, 16) + 1).toDouble / math.pow(2, 60)
    math.log(u) / w
  }

  test("weighted sample: Spark output equals the driver replay of the E-S key (D41)") {
    val docs = (1L to 30L).map(i => (i, "t", "en", "s", i * 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Curate.weightedSampleDf(docs, 5, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    val expect = (1L to 30L)
      .map(i => (i, BigDecimal(esPriority(i, i * 3, 42L))
        .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy { case (id, p) => (-p, id) }.take(5)
    assert(got.toSeq == expect)
  }

  test("weighted sample is invariant to partitioning and input order") {
    val docs = (1L to 50L).map(i => (i, "t", "en", "s", 1L + i % 7))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = Curate.weightedSampleDf(docs, 8, 7L).collect().map(_.toSeq).toSeq
    val b = Curate.weightedSampleDf(
      docs.orderBy($"doc_id".desc).repartition(9), 8, 7L)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("temperature mix: alpha<1 boosts low-resource keep rates monotonically (D43)") {
    // planted 900/90/9 corpus — rates must order INVERSELY to size
    // under alpha=0.3 and the small stratum must saturate at rate 1.0
    val docs = ((1L to 900L).map((_, "big")) ++
      (1001L to 1090L).map((_, "mid")) ++ (2001L to 2009L).map((_, "small")))
      .map { case (id, l) => (id, "txt", l, "s", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.temperatureMixDf(docs, alpha = 0.3, budgetFrac = 0.5)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    val (rBig, rMid, rSmall) =
      (out("big")._3, out("mid")._3, out("small")._3)
    assert(rSmall == 1.0, s"tiny stratum must saturate: $rSmall")
    assert(rBig < rMid && rMid <= rSmall, s"rates not inverse to size: $out")
    // kept counts respect the rates (hash thinning is unbiased enough
    // on 900 rows to land within a loose band)
    assert(out("big")._4 < 900L && out("big")._4 > (900 * rBig * 0.7).toLong)
    assert(out("small")._4 == 9L) // rate 1.0 keeps everything
  }

  test("temperature mix at alpha=1 with full budget keeps every row (D43)") {
    val docs = ((1L to 50L).map((_, "a")) ++ (101L to 110L).map((_, "b")))
      .map { case (id, l) => (id, "txt", l, "s", 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curate.temperatureMixDf(docs, alpha = 1.0, budgetFrac = 1.0)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    // q_l = p_l at alpha=1, so rate = budgetFrac exactly → 1.0 keeps all
    assert(out("a") == ((1.0, 50L)) && out("b") == ((1.0, 10L)))
  }

  test("weighted sample: inclusion frequency tracks weight (E-S property)") {
    // pure driver arithmetic across 2000 seeds — the math property,
    // independent of Spark: weights 8:1:1 over three rows, top-1 drawn
    // per seed; row A should win ~80% of draws
    val weights = Map(1L -> 8L, 2L -> 1L, 3L -> 1L)
    val wins = (1 to 2000).map { seed =>
      weights.toSeq.map { case (id, w) =>
        (id, esPriority(id, w, seed.toLong))
      }.maxBy(_._2)._1
    }
    val aShare = wins.count(_ == 1L) / 2000.0
    assert(math.abs(aShare - 0.8) < 0.04, s"share $aShare, expected ~0.8")
  }

  test("forget cascade: conservation per table and an exact transitive hop (D46)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val rows = ext.Curate.d46ForgetCascade(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows.keySet == Set("customer", "events", "orders", "lineitem"))
    // conservation: nothing vanishes except what the audit says
    rows.values.foreach { case (before, purged, after, _) =>
      assert(before == purged + after)
    }
    // the transitive hop equals an independent recount: lineitems whose
    // order belongs to a forgotten customer
    val po = graft.Tables.orders(spark, dir)
      .filter(col("o_custkey") % 101 === 0).select(col("o_orderkey"))
    val li = graft.Tables.lineitem(spark, dir)
    val expected = li.join(po, li("l_orderkey") === po("o_orderkey"), "left_semi")
    assert(rows("lineitem")._2 == expected.count())
    assert(rows("lineitem")._4 ==
      expected.agg(coalesce(sum(col("l_orderkey")), lit(0L))).head().getLong(0))
    // the checksum proves WHICH rows: events checksum is the purged
    // slice's event_id sum, not the key sum
    val ev = graft.Tables.events(spark, dir).filter(col("user_id") % 101 === 0)
    assert(rows("events")._4 ==
      ev.agg(coalesce(sum(col("event_id")), lit(0L))).head().getLong(0))
  }

  test("d48 k-anonymity: a QI group of exactly k is SAFE, k-1 is risky; " +
    "length buckets split groups; risk accounting is per source") {
    // srcA: ("en", bucket 0) has exactly 3 members (k=3 → SAFE);
    //       ("en", bucket 1) has 2 (risky); ("fr", bucket 0) has 1 (risky).
    // srcB: one group of 4 (safe) — zero risk.
    def d(id: Long, lang: String, src: String, chars: Long) =
      (id, lang, src, chars)
    val docs = Seq(
      d(1, "en", "srcA", 10), d(2, "en", "srcA", 450), d(3, "en", "srcA", 499),
      d(4, "en", "srcA", 500), d(5, "en", "srcA", 999),
      d(6, "fr", "srcA", 40),
      d(7, "de", "srcB", 10), d(8, "de", "srcB", 20),
      d(9, "de", "srcB", 30), d(10, "de", "srcB", 40)
    ).toDF("doc_id", "lang", "source", "n_chars")
    val out = graft.ext.Curate.kAnonymityDf(docs, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(out == Seq(
      // srcA: 3 groups; risky = (en,b1) 2 docs + (fr,b0) 1 doc = 3/6 docs
      ("srcA", 3L, 2L, 3L, 6L, 50.0),
      // srcB: 1 group of 4 — safe
      ("srcB", 1L, 0L, 0L, 4L, 0.0)), out.mkString(", "))
  }
}
