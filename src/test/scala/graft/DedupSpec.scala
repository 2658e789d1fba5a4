package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** MinHash-LSH / SimHash behavior on planted near-duplicates: the LSH
  * candidate generation must surface heavily-overlapping docs and must not
  * pair disjoint ones. */
class DedupSpec extends AnyFunSuite {
  // Own store scratch: the d50/d51/d55 pins below assume the
  // PRE-commit generation; a sim31 commit run earlier in this JVM
  // (smoke/census/plan suites execute every registered query) must
  // not leak in.
  TestSpark.isolateStore("dedup")
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps near the warm fire in winter"

  private def docs = Seq(
    (0L, base),
    (1L, base + " tonight"),                       // near-dup of 0
    (2L, base.replace("winter", "summer")),        // near-dup of 0
    (3L, "completely different words about spark catalyst optimizer plans and shuffle partitions here"),
    (4L, "another unrelated document concerning parquet columnar storage and predicate pushdown semantics")
  ).toDF("doc_id", "text")

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashPairsDf(docs, bands = 8, rowsPerBand = 4, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(3L, 4L)).size == 1 &&
      Set(a, b).intersect(Set(0L, 1L, 2L)).size == 1 })
  }

  test("fuzzy decontamination flags only train docs near a BENCH doc") {
    // doc 0 (id % 5 == 0) is the benchmark doc. Train doc 1 paraphrases
    // it → flagged. Train docs 3 and 103 are near-dups of EACH OTHER but
    // unrelated to the bench doc → the bipartite join must NOT flag them
    // (that's d3's business, not decontamination's).
    val corpus = Seq(
      (0L, base, "sBench"), // the only doc of its source → bench-only source
      (1L, base + " tonight", "sA"),
      (3L, "completely different words about spark catalyst optimizer plans and shuffle partitions here", "sA"),
      (103L, "completely different words about spark catalyst optimizer plans and shuffle partitions today", "sB"),
      (4L, "another unrelated document concerning parquet columnar storage and predicate pushdown semantics", "sA")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.fuzzyDecontaminateDf(
        corpus.filter(col("doc_id") % 5 =!= 0), corpus.filter(col("doc_id") % 5 === 0))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("sA") == ((3L, 1L)))     // docs 1,3,4 train; only 1 flagged
    assert(out("sB") == ((1L, 0L)))     // 103 near-dups 3, NOT the bench doc
    assert(out("sBench") == ((0L, 0L))) // fully-held-out source still reported
  }

  test("minhash jaccard estimate agrees with exact jaccard on candidates") {
    val withJ = Dedup.minhashPairsDf(docs, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").collect()
    withJ.foreach { r =>
      val j = r.getDouble(2)
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("simhash of identical docs is identical; near-dups are close in hamming") {
    val sh = Dedup.simhash(docs.union(Seq((5L, base)).toDF("doc_id", "text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(5L)) // identical text → identical signature
    val hamming01 = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    val hamming03 = java.lang.Long.bitCount(sh(0L) ^ sh(3L))
    assert(hamming01 < hamming03) // near-dup closer than unrelated
  }

  test("simhash pair set equals brute-force Hamming pairs, for EVERY block count") {
    // A corpus with planted signature structure: near-identical docs land
    // within Hamming ≤ 3 of each other, unrelated ones far away. The
    // b-block agreement join must find EXACTLY the brute-force pair set —
    // the Manku decomposition is exact, not approximate — and the set
    // must be IDENTICAL for every b (b shapes only the candidate join).
    val corpus = docs.union(Seq(
      (5L, base),                                  // exact dup of 0
      (6L, base + " again and again and again")    // further variant
    ).toDF("doc_id", "text"))
    val sh = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    assert(brute.contains((0L, 5L))) // planted exact dup is in range
    for (b <- Seq(4, 5, 6, 8)) {
      val got = Dedup.simhashPairsDf(corpus, blocks = b)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"blocks=$b pair set diverged from brute force")
    }
  }

  test("blocksFor grows the key space with the corpus, capped at 8 blocks") {
    assert(Dedup.blocksFor(1000L) == 4)        // small corpus → cheapest join
    assert(Dedup.blocksFor(100000L) == 5)      // past 2^16/16 → more blocks
    assert(Dedup.blocksFor(10000000L) == 6)
    assert(Dedup.blocksFor(100000000000L) == 8) // cap: 40-bit keys suffice
    // monotone: a bigger corpus never gets a smaller key space
    val bs = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L, 100000000000L)
      .map(Dedup.blocksFor(_))
    assert(bs == bs.sorted)
  }

  test("comboKeys: agreement on some (b-d)-subset iff Hamming <= d holds as designed") {
    // Two signatures differing in exactly 4 bits spread over 4 different
    // blocks of a b=4 split share NO agreement key (distance above d=3);
    // differing in 3 bits inside ONE block, they share the key of every
    // combo avoiding that block.
    val x = 0L
    val threeInOneBlock = java.lang.Long.parseLong("111", 2) // bits 0-2, block 0
    val fourSpread = (1L << 0) | (1L << 16) | (1L << 32) | (1L << 48)
    val df = Seq((0L, x), (1L, threeInOneBlock), (2L, fourSpread))
      .toDF("doc_id", "simhash")
    val keys = df.select(col("doc_id"),
        Dedup.comboKeys(col("simhash"), 4, 3).as("ks"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(0L).zip(keys(1L)).count { case (a, b) => a == b } == 3)
    assert(keys(0L).zip(keys(2L)).forall { case (a, b) => a != b })
  }

  test("null/empty/short texts are excluded, never crash the LSH pipelines") {
    val messy = Seq(
      (0L, base), (1L, base + " tonight"),
      (2L, null.asInstanceOf[String]),
      (3L, ""), (4L, "one two")  // below the 3-word shingle minimum
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsDf(messy, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L))) // only the real near-dup pair survives
    val sh = Dedup.simhash(messy).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sh(2L).isEmpty)          // null text → null signature
    assert(sh(0L).nonEmpty)
  }

  private val batchDocs = Seq(
    (100L, base + " tonight again"), // near-dup of 0/1/2 — must resolve via the index
    (101L, "entirely novel content about streaming watermarks and stateful aggregation windows here")
  ).toDF("doc_id", "text")

  test("incremental dedup vs persisted index == full recompute restricted to the batch") {
    Dedup.writeBandIndex(docs, "t_d18_eq")
    val inc = Dedup.incrementalPairs(batchDocs, "t_d18_eq")
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
    // The ground truth the production shape must reproduce: re-band
    // EVERYTHING and keep only pairs with exactly one batch endpoint.
    val batchIds = Set(100L, 101L)
    val full = Dedup.minhashPairsDf(docs.unionByName(batchDocs))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => batchIds.contains(a) ^ batchIds.contains(b) }
      .toSet
    assert(inc == full)
    assert(inc.exists { case (_, b, _) => b == 100L }) // planted dup found via index
    assert(!inc.exists { case (_, b, _) => b == 101L }) // novel doc stays clean
  }

  test("the index side of the incremental candidate join is never shuffled") {
    Dedup.writeBandIndex(docs, "t_d18_plan")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Force the shuffle-join path: at production scale the daily batch
    // can exceed the broadcast threshold, and the no-reshuffle guarantee
    // on the 100 TB index side must not depend on the batch being tiny.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cand = Dedup.incrementalCandidates(batchDocs, "t_d18_plan", 8, 4)
      val plan = cand.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // Exactly ONE exchange: the batch side's (freshly banded, it cannot
      // satisfy the join distribution without one). The index side reads
      // its bucketed layout — zero corpus-side shuffle, which is the
      // entire point of persisting the index.
      val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
      assert(exchanges == 1, s"expected only the batch-side exchange, got $exchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("connected components resolve chains, singletons, and merges") {
    // components: {0,1,2,3} via a chain, {10,11}, {20} isolated
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("node")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(labels(_) == 0L))
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(labels(20L) == 20L)
  }

  test("dedupedCorpus keeps exactly one doc per cluster plus all singletons") {
    val kept = Dedup.dedupedCorpus(docs,
      Dedup.minhashPairsDf(docs, threshold = 0.4).select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    // {0,1,2} is one near-dup cluster → keep 0; 3 and 4 are singletons
    assert(kept == Set(0L, 3L, 4L))
  }

  test("a clean corpus (zero pairs) survives dedup unchanged — no iteration, no crash") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    // connectedComponents: empty graph → every node its own component
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val labels = Dedup.connectedComponents(nodes, noPairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // empty nodes AND empty pairs: empty result, not an NPE
    assert(Dedup.connectedComponents(
      Seq.empty[Long].toDF("node"), noPairs).isEmpty)
    // the end product: dedupedCorpus over a clean corpus is the identity
    val kept = Dedup.dedupedCorpus(docs, noPairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("a 200-hop chain converges inside the round cap (pointer jumping)") {
    // smallGraphEdges = 0 forces the DISTRIBUTED path — this test exists
    // to exercise the iteration, which the small-graph union-find would
    // otherwise absorb.
    // Plain one-hop propagation needs 199 rounds — far past maxIter=20.
    // Pointer jumping halves remaining distance per round: ~9 rounds.
    // The min node sits at the FAR end so labels must travel the length.
    val n = 200
    val nodes = (0 until n).map(i => (n - 1 - i).toLong).toDF("node")
    val pairs = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(nodes, pairs, smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L))
  }

  test("cluster quality flags a chained cluster, blesses a clique") {
    // cluster 1 = {1,2,3}: a CHAIN (1~2, 2~3 — no 1~3 edge): density
    // 2/3, and the observed pairs are mediocre. cluster 10 = {10,11}: a
    // true dup pair at jaccard 0.9: density 1. The audit must separate
    // them — that's the transitive-chaining diagnosis it exists for.
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (50L, 50L)) // singleton: excluded (size < 2)
      .toDF("doc_id", "canonical_id")
    val pairs = Seq((1L, 2L, 0.3), (2L, 3L, 0.25), (10L, 11L, 0.9))
      .toDF("id_a", "id_b", "jaccard")
    val got = Dedup.clusterQualityDf(labels, pairs)
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 0.6667, 0.25, 0.275),
      (10L, 2L, 1L, 1.0, 0.9, 0.9)))
  }

  test("iterative CC survives a 50k-edge star hub within the round cap") {
    // The adversarial boundary for the distributed path: ONE hub node
    // incident to every edge — the maximally skewed key. The iteration's
    // neighbor-min is a map-side-combinable AGGREGATE (hot key collapses
    // per task before the shuffle), never a per-key window that would
    // pin all 50k hub rows on one reducer; and star diameter is 2, so
    // with pointer jumping convergence must land well inside 5 rounds —
    // a straggler or a propagation bug shows up as the maxIter throw.
    // Forced onto the iterative path (threshold 0): at the default
    // 100k-edge cutoff this graph would take the driver union-find.
    val n = 50000
    val nodes = (0 to n).map(_.toLong).toDF("node")
    val pairs = (1 to n).map(i => (0L, i.toLong)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(nodes, pairs,
      maxIter = 5, smallGraphEdges = 0L)
    // one component, labeled by the hub (the minimum id)
    val agg = labels.agg(countDistinct(col("label")), min(col("label")),
      count(lit(1))).collect().head
    assert(agg.getLong(0) == 1L && agg.getLong(1) == 0L &&
      agg.getLong(2) == (n + 1).toLong)
  }

  test("driver union-find and distributed iteration agree on the same graph") {
    // chains, a merge, singletons — both paths must label identically
    val nodes = (0L to 30L).toDF("node")
    val pairs = (Seq((5L, 1L), (1L, 9L), (9L, 2L), (20L, 21L), (22L, 21L),
      (30L, 0L)) ++ (10 until 15).map(i => (i.toLong, (i + 1).toLong)))
      .toDF("id_a", "id_b")
    val small = Dedup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(nodes, pairs, smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(small == dist)
    assert(small(5L) == 1L && small(2L) == 1L)   // merged chain → min 1
    assert(small(22L) == 20L && small(15L) == 10L)
    assert(small(30L) == 0L && small(0L) == 0L)
    assert(small(7L) == 7L)                       // singleton
  }

  test("connectivity relays through endpoints missing from nodes, on both paths") {
    // nodes [1,3]; edge chain 1-2-3 where 2 is NOT a node: 1 and 3 must
    // still merge (relay through 2), labels restricted to the node set.
    // A second chain 5-4-9 has its component MINIMUM (4) outside nodes.
    val nodes = Seq(1L, 3L, 5L, 9L).toDF("node")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 4L), (4L, 9L)).toDF("id_a", "id_b")
    for (threshold <- Seq(100000L, 0L)) {
      val got = Dedup.connectedComponents(nodes, pairs, smallGraphEdges = threshold)
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == Set(1L, 3L, 5L, 9L), s"threshold=$threshold")
      assert(got(1L) == 1L && got(3L) == 1L, s"threshold=$threshold")
      assert(got(5L) == 4L && got(9L) == 4L, s"threshold=$threshold")
    }
  }

  test("integer-typed id columns are widened, not ClassCast, on the driver path") {
    val nodes = Seq(1, 2, 3).toDF("node")       // IntegerType
    val pairs = Seq((1, 2)).toDF("id_a", "id_b") // IntegerType
    val got = Dedup.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("d7 accounting: kept + dropped = total per source; dropped = incident − clusters") {
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.d7DedupedCorpus(spark, dir).collect()
    assert(out.nonEmpty)
    // per-source arithmetic must balance
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"${r.getString(0)}: n_docs != n_kept + n_dropped")
    }
    // cross-check the cluster math: over the same pair graph, the number
    // of dropped docs is exactly (pair-incident nodes − clusters) — one
    // canonical survivor kept per cluster
    val pairs = Dedup.minhashPairs(spark, dir).select("id_a", "id_b")
    val incident = pairs.select(col("id_a").as("node"))
      .union(pairs.select(col("id_b").as("node"))).distinct()
    val nClusters = Dedup.connectedComponents(incident, pairs)
      .select("label").distinct().count()
    val totalDropped = out.map(_.getLong(3)).sum
    assert(totalDropped == incident.count() - nClusters)
  }

  test("d5 exact ngram jaccard is symmetric-free (id_a < id_b) and bounded") {
    val out = ext.Dedup.d5NgramJaccard(spark, "/root/testdata/sf0.001").collect()
    out.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.02 && r.getDouble(2) <= 1.0)
    }
  }

  test("d19 dup-span fractions: shared span counted on both sides, " +
    "unique doc zero, short doc excluded") {
    val docs = Seq(
      // A and B share exactly the 5-gram "one two three four five"
      (0L, "one two three four five six", "srcA"),     // 2 grams, 1 shared
      (1L, "zz one two three four five yy", "srcA"),   // 3 grams, 1 shared
      (2L, "aa bb cc dd ee ff", "srcB"),               // 2 grams, 0 shared
      (3L, "too short here", "srcB")                   // < 5 words: no row
    ).toDF("doc_id", "text", "source")
    val out = ext.Dedup.dupSpanStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(0L) == ((2L, 1L, 0.5)))
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(!out.contains(3L))
  }

  test("d19 flags a doc whose duplicated fraction reaches one half") {
    // the A/B planted pair above: A is exactly half duplicated
    val docs = Seq(
      (0L, "one two three four five six", "srcA"),
      (1L, "zz one two three four five yy", "srcA"),
      (2L, "aa bb cc dd ee ff", "srcB")
    ).toDF("doc_id", "text", "source")
    val bySource = ext.Dedup.dupSpanStats(docs)
      .groupBy(col("source")).agg(
        sum(when(col("dup_frac") >= 0.5, 1L).otherwise(0L)).as("n_flagged"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map("srcA" -> 1L, "srcB" -> 0L))
  }

  test("OPH banding: pair parity with the classic kernel on long documents") {
    // OPH's regime: shingle count >> bins (here ~200 shingles vs 32
    // bins). Planted: three clusters of near-identical 200-word docs
    // (Jaccard ≈ 0.97 within a cluster — the regime a dedup pass must
    // never miss) from disjoint vocabularies. Both kernels must find
    // exactly the within-cluster pairs: at this Jaccard a band miss has
    // probability ~1e-8, so set equality is a deterministic pin, not a
    // flaky coin flip (borderline-J pairs are probabilistic for BOTH
    // kernels and are deliberately not planted).
    def doc(group: Int, variant: Int): String =
      ((0 until 200).map(w => s"g${group}w$w") ++
        Seq(s"v${variant}a", s"v${variant}b", s"v${variant}c")).mkString(" ")
    val docs = (0 until 3).flatMap { g =>
      (0 until 3).map(v => ((g * 10 + v).toLong, doc(g, v)))
    }.toDF("doc_id", "text")
    val expected = (0 until 3).flatMap { g =>
      Seq((g * 10L, g * 10L + 1), (g * 10L, g * 10L + 2), (g * 10L + 1, g * 10L + 2))
    }.toSet
    val classic = Dedup.minhashPairsUnsorted(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val oph = Dedup.minhashPairsOphDf(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(classic == expected)
    assert(oph == expected, s"OPH missed ${expected -- oph}, added ${oph -- expected}")
  }

  test("OPH band keys are deterministic and identical sets agree bit-for-bit") {
    val docs = Seq((0L, base + " alpha beta gamma delta epsilon zeta"),
      (1L, base + " alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{col => c}
    val keys = docs.select(c("doc_id"),
      graft.functions.MinHashOph.minhashBandsOph(
        graft.functions.ShingleHashes.shingleHashes(c("text"), 3), 8, 4)
        .as("keys"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys(0L) == keys(1L)) // identical text → identical signature
    val again = docs.select(c("doc_id"),
      graft.functions.MinHashOph.minhashBandsOph(
        graft.functions.ShingleHashes.shingleHashes(c("text"), 3), 8, 4)
        .as("keys"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(keys == again) // rerun-deterministic
  }

  test("keepBest keeps the highest-priority cluster member, ties to smaller id") {
    // cluster {1,2,3} chained by pairs; prio: doc 2 longest → keeper.
    // cluster {10,11} tied on prio → smaller id 10 wins. 99 is a
    // singleton (not in any pair) → keeps itself without entering the
    // aggregate.
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 7L),
      (10L, 4L), (11L, 4L),
      (99L, 2L)
    ).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.keepBest(docs, pairs, col("n_chars"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L,
      10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("d21 segment scrub cuts planted boilerplate, keeps unique text in order") {
    // k=3 segments: docs 0 and 1 share the segment "copy right notice"
    // at DIFFERENT positions; everything else is unique. Doc 2 repeats a
    // segment WITHIN itself — within-doc repetition also counts toward
    // the df threshold (self-boilerplate is still boilerplate).
    val docs = Seq(
      (0L, "copy right notice aa bb cc dd ee ff"),
      (1L, "xx yy zz copy right notice gg hh ii"),
      (2L, "pp qq rr pp qq rr ss tt uu"),
      (3L, "jj kk ll mm nn")                        // 2 segs, last partial
    ).toDF("doc_id", "text")
    val out = ext.Dedup.scrubSegments(docs, k = 3, minDf = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(0L) == ((3L, 1L, "aa bb cc dd ee ff")))
    assert(out(1L) == ((3L, 1L, "xx yy zz gg hh ii")))
    assert(out(2L) == ((3L, 2L, "ss tt uu")))
    assert(out(3L) == ((2L, 0L, "jj kk ll mm nn")))
  }

  test("boilerplate leaderboard finds the planted span, counts docs not occurrences (D45)") {
    // "copy right notice please read" planted in docs 0,1,5 (doc 5 twice —
    // must still count as ONE doc); "aa bb cc dd ee" appears once only →
    // never reported; order: higher n_docs first, then span text asc
    val docs = Seq(
      (5L, "zz copy right notice please read yy copy right notice please read"),
      (0L, "copy right notice please read aa bb cc dd ee"),
      (1L, "xx copy right notice please read"),
      (2L, "one two three four five six"),
      (3L, "one two three four five seven")   // shares the 5-gram "one..five"
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val out = ext.Dedup.boilerplateSpans(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.head == (("copy right notice please read", 3L, 0L)))
    assert(out.contains(("one two three four five", 2L, 2L)))
    // every reported span genuinely spans >= 2 docs; the singleton never shows
    assert(out.forall(_._2 >= 2L))
    assert(!out.exists(_._1.contains("aa bb cc")))
    // deterministic under physical reorder
    val again = ext.Dedup.boilerplateSpans(
      docs.orderBy(col("doc_id").desc).repartition(4)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq)
  }

  test("d49 scorecard at sf0.1: Hamming rows serve EXACTLY 1.0 " +
    "(pigeonhole), minhash holds its banding bar, brute is the 1.0 row") {
    val card = ext.Dedup.queries("d49_dedup_scorecard")(
      spark, "/root/testdata/sf0.1").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(card.keySet == Set(
      "brute_jaccard", "minhash_lsh", "simhash", "ahash", "phash",
      "semdedup_cosine"))
    // brute truth vs itself: the =1.0 sanity row with a NON-EMPTY truth
    // (an empty truth would make every recall vacuous — the slice must
    // actually contain planted pairs at this SF)
    val (bt, bs, bh, br) = card("brute_jaccard")
    assert(bt > 0 && bs == bt && bh == bt && br == 1.0)
    // the (b−3)-of-b block kernel CANNOT miss a pair at Hamming ≤ 3 —
    // exactly 1.0, not a soft bar (DedupSpec/MultimodalSpec pin the
    // per-op set equality; this pins the published card rows)
    Seq("simhash", "ahash", "phash").foreach { m =>
      val (t, s, h, r) = card(m)
      assert(h == t && s == t && r == 1.0,
        s"$m: served $s / hit $h of $t true pairs — kernel exactness broken")
    }
    // minhash banding is probabilistic (catch P = 1−(1−J⁴)⁸): measured
    // 1.0 on this corpus (planted dups are high-J); documented bar 0.9
    assert(card("minhash_lsh")._4 >= 0.9,
      s"minhash candidate recall ${card("minhash_lsh")._4} below bar")
    // the semantic row measures SemDeDup's PRICED approximation: only
    // co-celled true-cosine pairs can be found, and the L2 assignment
    // moves exactly one 1.02-scaled copy across a cell boundary at
    // this SF — measured 142/143 = 0.993. Bar 0.95; a 1.0 pin would
    // be WRONG (the loss is the paper's own design decision)
    val (st, _, sh, sr) = card("semdedup_cosine")
    assert(st > 0, "semantic truth must be non-vacuous (planted copies)")
    assert(sr >= 0.95, s"semdedup co-celled recall $sr below bar")
    assert(sh <= st, "hit count cannot exceed truth")
  }

  test("d53 leak-safe split: a near-dup pair straddling the doc-rule " +
    "boundary co-locates under the group rule (zero leaked pairs by " +
    "construction); singletons keep their d16 assignment exactly") {
    import spark.implicits._
    // resolve the documented 98/1/1 rule to find a train-bucket doc and
    // a holdout-bucket doc, then PAIR them — the exact leak d16 permits
    val buckets = (0L until 3000L).toDF("doc_id")
      .withColumn("b", graft.functions.IdHash.bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt)
    def split(b: Int) = if (b < 98) "train" else if (b == 98) "val" else "test"
    val trainDup = buckets.find(_._2 < 98).get._1
    val holdDup = buckets.find(_._2 >= 98).get._1
    val singles = buckets.filterNot(x =>
      x._1 == trainDup || x._1 == holdDup).take(6)
    val docs = (Seq(trainDup, holdDup) ++ singles.map(_._1)).toDF("doc_id")
    val pairs = Seq((math.min(trainDup, holdDup),
      math.max(trainDup, holdDup))).toDF("id_a", "id_b")
    val out = Dedup.leakSafeSplit(docs, pairs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // the census columns ride every row: zero group-rule leaks BY
    // CONSTRUCTION, and exactly the one planted doc-rule leak
    out.values.foreach { case (_, g, d) =>
      assert(g == 0L, "the group rule must never split a dup pair")
      assert(d == 1L, "the planted doc-rule leak must be counted")
    }
    // expected assignment: both dup members land on the side of the
    // component representative (the min id); singletons keep d16
    val repSide = split(buckets.toMap.apply(math.min(trainDup, holdDup)))
    val expected = (Seq(repSide, repSide) ++
      singles.map(x => split(x._2))).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    assert(out.view.mapValues(_._1).toMap == expected,
      s"got ${out.view.mapValues(_._1).toMap}, expected $expected")
  }

  test("d52 containment: a half-quote is detected where whole-doc " +
    "resemblance would miss it; an insertion survives (CDC " +
    "re-alignment); unrelated docs never pair; a passage shared by " +
    "more than cap docs is boilerplate, not containment") {
    import spark.implicits._
    def soup(seed: Int, n: Int): String =
      (0 until n).map(i => s"w${seed}x$i").mkString(" ")
    val base = soup(1, 120)
    val half = base.split(" ").take(60).mkString(" ")
    // docB is A's first half plus a short new tail: min-side
    // normalization reads ~0.8 containment while whole-doc Jaccard
    // would read ~0.33 — the case this op exists for
    val docB = half + " " + soup(2, 10)
    // docC is A with a sentence INSERTED mid-way: content-defined
    // boundaries re-align after the insertion, so only the chunks
    // spanning the edit are lost
    val docC = half + " zzz inserted qqq " +
      base.split(" ").drop(60).mkString(" ")
    val unrelated = soup(3, 120)
    // 25 docs (> cap = 20) share ONE long boilerplate run and tiny
    // unique tails: without the posting cap every pair would clear the
    // threshold (~300 pairs); the cap must kill ALL of them
    val boiler = soup(9, 40)
    val boilDocs = (0 until 25).map(i =>
      (100L + i, boiler + " " + soup(200 + i, 5)))
    val docs = (Seq((1L, base), (2L, docB), (3L, docC), (4L, unrelated))
      ++ boilDocs).toDF("doc_id", "text")
    val out = Dedup.chunkContainment(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(out.contains((1L, 2L)),
      s"the half-quote must be detected; got ${out.keySet}")
    assert(out((1L, 2L)) >= 0.5)
    assert(out.contains((1L, 3L)),
      "an insertion must not break containment (CDC re-alignment)")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "unrelated docs must not pair")
    assert(!out.keySet.exists { case (a, b) => a >= 100L && b >= 100L },
      "boilerplate-only overlap past the posting cap must not pair")
  }

  test("d50 SemDeDup on hand-built cells: keeps the farthest-from-" +
    "centroid member, ties to lowest id, cross-cell near-dups not paired") {
    val centers = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val assigned = Seq(
      (0L, Seq(1.0, 0.0), 0),       // cent_sim 1.0 — the redundant one
      (1L, Seq(0.9962, 0.0872), 0), // cos(0,1)=0.9962 ≥ τ; cent_sim 0.9962
      (2L, Seq(0.0, 1.0), 1),       // no ≥ τ partner in its cell
      (3L, Seq(0.7071, 0.7071), 1), // cos(2,3)=0.7071 < τ — kept
      (4L, Seq(1.0, 0.001), 1),     // ≈dup of 0 but OTHER cell: unpaired
      (10L, Seq(0.5, 0.0), 0),      // scaled copy of 11: cos 1.0,
      (11L, Seq(1.5, 0.0), 0)       //   cent_sim both 1.0 → tie → keep 10
    ).toDF("vec_id", "emb", "cell")
    val (pairs, kept) = Dedup.semDedupParts(assigned, centers, 0.95)
    val pairSet = pairs.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    // every cell-0 pair clears τ (0,1,10,11 all within 5°); (0,4) must
    // be ABSENT even at cosine ≈ 1.0 — the cross-cell loss is the
    // documented SemDeDup approximation, pinned here as a decision,
    // not a bug — and (2,3) sits below τ
    assert(pairSet == Set((0L, 1L), (0L, 10L), (0L, 11L), (1L, 10L),
      (1L, 11L), (10L, 11L)))
    val keeper = kept.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the cell-0 component {0,1,10,11}: member 1 has the unique lowest
    // cent_sim (0.9962 vs 1.0) → it is the keeper for all four
    assert(Seq(0L, 1L, 10L, 11L).forall(keeper(_) == 1L),
      s"farthest-from-centroid keeper rule broken: $keeper")
    assert(keeper(2L) == 2L && keeper(3L) == 3L && keeper(4L) == 4L)
  }

  test("d50 SemDeDup hand cells: exact tie on cent_sim keeps the lowest id") {
    val centers = Array(Array(1.0, 0.0))
    val assigned = Seq(
      (10L, Seq(0.5, 0.0), 0),
      (11L, Seq(1.5, 0.0), 0) // same direction: cos 1.0, cent_sim 1.0
    ).toDF("vec_id", "emb", "cell")
    val (_, kept) = Dedup.semDedupParts(assigned, centers, 0.95)
    val keeper = kept.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keeper == Map(10L -> 10L, 11L -> 10L))
  }

  test("d50 registered: the planted scaled copies — and only they — are " +
    "dropped, each keeper is its source (ties keep the ORIGINAL)") {
    val dir = "/root/testdata/sf0.01"
    val (assigned, centers, maxId) = Dedup.d50Assigned(spark, dir)
    val (_, kept) = Dedup.semDedupParts(assigned, centers, Dedup.D50Tau)
    val cellOf = assigned.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    // a planted copy is dropped iff it landed in its source's cell
    // (cosine exactly 1.0; cent_sim identical — scale-invariant — so
    // the tie rule must keep the lower-id original)
    val expectDropped = cellOf.keySet.filter(_ > maxId)
      .filter(p => cellOf(p) == cellOf(p - maxId - 1))
    assert(expectDropped.nonEmpty, "no planted copy co-celled — vacuous")
    val keeper = kept.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dropped = keeper.filter { case (id, kp) => id != kp }.keySet
    assert(dropped == expectDropped,
      s"drop set ${dropped.size} != planted co-celled ${expectDropped.size}")
    expectDropped.foreach(p => assert(keeper(p) == p - maxId - 1,
      s"planted $p kept over its original ${p - maxId - 1}"))
  }

  test("d51 incremental semantic dedup: batch-vs-index candidates are " +
    "EXACTLY the full d50 pair set restricted to batch × corpus " +
    "(frozen cells make it an equality, not an approximation)") {
    val dir = "/root/testdata/sf0.01"
    val (corpus, batch, centers, maxId) = Dedup.d50Parts(spark, dir)
    val inc = Dedup.incrementalSemPairs(batch, corpus, Dedup.D50Tau)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val (fullPairs, _) = Dedup.semDedupParts(
      corpus.unionByName(batch), centers, Dedup.D50Tau)
    val fullSet: Set[(Long, Long)] = fullPairs.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val fullRestricted = fullSet
      .filter { case (a, b) => a <= maxId && b > maxId }
    assert(inc.nonEmpty, "no incremental candidates — vacuous")
    assert(inc == fullRestricted,
      s"incremental ${inc.size} pairs != full-restricted ${fullRestricted.size}")
    // the incremental keep rule: every planted batch copy that matches
    // is rejected; the corpus member it duplicates is untouched
    val card = Dedup.queries("d51_incremental_semdedup")(spark, dir)
      .agg(sum(col("n_rejected")), sum(col("n_batch"))).collect().head
    assert(card.getLong(0) == inc.map(_._2).size &&
      card.getLong(0) <= card.getLong(1))
  }

  test("d55 semantic decontamination on hand cells: a PARAPHRASED eval " +
    "item is caught at cosine 1.0 where d10's gram rule — replayed on " +
    "the SAME pair — misses it; sub-τ and empty-cell items stay clean") {
    // train: two docs with embeddings in two hand cells
    val train = Seq(
      (1L, Seq(1.0, 0.0), 0),
      (2L, Seq(0.0, 1.0), 1)
    ).toDF("vec_id", "emb", "cell")
    // bench: 100 = a "paraphrase" of train 1 (same meaning ⇒ same
    // direction, scaled — cosine exactly 1.0; different WORDS, below);
    // 101 = related-but-distinct (cos 0.7071 < τ); 102 = lands in a
    // cell with no train member at all
    val bench = Seq(
      (100L, Seq(1.02, 0.0), 0),
      (101L, Seq(0.7, 0.7), 1),
      (102L, Seq(-1.0, 0.0), 2)
    ).toDF("vec_id", "emb", "cell")
    val card = Dedup.semDecontaminate(bench, train, plantedAboveId = 99L)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
          r.getBoolean(4))).toMap
    assert(card(100L) == (Some(1.0), true),
      s"paraphrase not caught: ${card(100L)}")
    assert(card(101L) == (Some(0.7071), false))
    assert(card(102L) == (None, false),
      "an empty candidate cell must read NULL/clean, not error")
    // the CONTRAST that motivates d55: d10's exact 4-gram rule on the
    // same train/bench pair — reworded text, zero shared 4-grams —
    // reports ZERO contamination. The lexical matrix is blind here.
    val trainDocs = Seq((1L, "web",
      "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "source", "text")
    val benchDocs = Seq((100L, "eval",
      "a speedy auburn vulpine leaps across one sleepy canine this evening"))
      .toDF("doc_id", "source", "text")
    val gram = graft.ext.Curate.decontaminateDf(trainDocs, benchDocs)
      .select("n_contaminated").as[Long].collect()
    assert(gram.toSeq == Seq(0L),
      "the gram rule unexpectedly caught the paraphrase — contrast vacuous")
  }

  test("d55 registered at sf0.01: every co-celled planted paraphrase — " +
    "and nothing else — is contaminated, at max_train_cos exactly 1.0; " +
    "natural bench items stay clean on the near-random corpus") {
    val dir = "/root/testdata/sf0.01"
    val card = Dedup.queries("d55_sem_decontaminate")(spark, dir)
      .collect()
    val planted = card.filter(_.getBoolean(2))
    assert(planted.nonEmpty, "no planted paraphrase rows — vacuous")
    // a planted copy is caught iff it assigned to its source's cell
    // (cosine scale-invariance ⇒ exactly 1.0 there; the cross-cell
    // loss is the d50-documented approximation, priced not hidden).
    // ALL current plants are co-celled — pinned as an EQUALITY
    // (advisor r16): the ×1.02 scaling is assigned by Euclidean
    // argmin, which is NOT scale-invariant, so a future centroid
    // shift could silently migrate a plant to another cell and shrink
    // this assertion set toward vacuous; the equality makes any
    // migration fail loudly instead.
    val caught = planted.filter(_.getBoolean(4))
    assert(caught.length == planted.length,
      s"only ${caught.length}/${planted.length} plants co-celled — " +
        "a centroid shift migrated a scaled plant (see the d55 " +
        "planting docstring); re-pin deliberately if intended")
    caught.foreach(r => assert(r.getDouble(3) == 1.0,
      s"planted ${r.getLong(0)} caught at ${r.getDouble(3)} != 1.0"))
    // natural bench items: the synthetic corpus has no semantic dups
    // (max pairwise cosine ~0.6 < τ) — all clean
    card.filterNot(_.getBoolean(2)).foreach { r =>
      assert(!r.getBoolean(4),
        s"natural bench ${r.getLong(0)} flagged contaminated")
    }
  }

  test("cluster-size histogram counts clusters and docs per component size") {
    // components: {0,1,2,3} (chain), {10,11}, {20}, {21} →
    // size 1 × 2 clusters, size 2 × 1, size 4 × 1; docs sum to 8
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("node")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val hist = ext.Dedup.clusterSizeHistogram(nodes, pairs)
      .as[(Long, Long, Long)].collect().toList
    assert(hist == List((1L, 2L, 2L), (2L, 1L, 2L), (4L, 1L, 4L)))
  }

  test("one SemDeDup kernel, two keep rules (r14 ask #3): d12's min-id " +
    "and d50's farthest-from-centroid resolve the SAME shared-kernel " +
    "pair set") {
    import graft.ext.Similarity
    // planted: cell 0 holds three mutual dups at DISTINCT centroid
    // similarities; cell 1 a singleton near-dup of v0 that must NOT
    // pair (cross-cell, the SemDeDup approximation)
    val assigned = Seq(
      (0L, Seq(1.0, 0.0), 0),     // cent_sim 1.0 (the centroid itself)
      (1L, Seq(0.999, 0.02), 0),  // cent_sim ≈ 0.9998
      (2L, Seq(0.98, 0.1), 0),    // cent_sim ≈ 0.9948 — farthest
      (3L, Seq(1.0, 0.001), 1))   // near v0 but in the other cell
      .toDF("vec_id", "emb", "cell")
    val centers = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val tau = 0.95
    // the ONE shared pair kernel both rules consume
    val pairs = Similarity.keyedNearDupPairs(assigned, "cell", tau)
    val pairSet = pairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"shared kernel pair set wrong: $pairSet")
    // keep rule A — min-id (the d12 resolution): component {0,1,2}
    // keeps 0; the cross-cell singleton keeps itself
    val keptMin = Dedup.dedupedCorpus(
        assigned.withColumnRenamed("vec_id", "doc_id"),
        pairs.select(col("id_a"), col("id_b")))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(0L, 3L), s"min-id rule kept $keptMin")
    // keep rule B — farthest-from-centroid (the d50 resolution) over
    // the SAME kernel: v2 has the lowest centroid similarity, so the
    // whole component maps to keeper 2
    val (p2, kept) = Dedup.semDedupParts(assigned, centers, tau)
    val p2Set = p2.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2Set == pairSet,
      "semDedupParts diverged from the shared kernel's pair set")
    val keepers = kept.select(col("doc_id"), col("keeper_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keepers == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 3L),
      s"farthest-from-centroid rule resolved $keepers")
  }

  test("d50/d51/d55 are sim32-GATED (r18 verdict ask #7): on a rank-1 " +
    "collapsed corpus every semantic-dedup verb vetoes before touching " +
    "a cell — cosine deletions on collapsed geometry would be noise") {
    import spark.implicits._
    // rank-1 embeddings: scalar multiples of e0 — top1_share = 1.0
    val dataDir =
      java.nio.file.Files.createTempDirectory("dedup_collapse").toString
    (0L until 64L).map { i =>
      (i, Seq.tabulate(64)(d =>
        if (d == 0) (i % 5 + 1).toFloat else 0f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    val fns: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "d50_semdedup" -> Dedup.queries("d50_semdedup"),
      "d51_incremental_semdedup" -> Dedup.queries("d51_incremental_semdedup"),
      "d55_sem_decontaminate" -> Dedup.queries("d55_sem_decontaminate"),
      "d12_semantic_dedup" -> graft.ext.Curate.queries("d12_semantic_dedup"))
    fns.foreach { case (q, fn) =>
      val ex = intercept[IllegalStateException] {
        fn(spark, dataDir).collect()
      }
      assert(ex.getMessage.contains("collapse_major vetoes"),
        s"$q veto message: ${ex.getMessage}")
    }
  }
}
