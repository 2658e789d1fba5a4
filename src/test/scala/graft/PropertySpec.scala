package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Moments, ShingleHashes, WelfordStats}

/** Randomized (but fully seeded — no flakes) equivalence properties for
  * the custom expressions. Fixed-fixture tests pin known cases; these
  * sweep the input space: arbitrary whitespace runs and mixed-case /
  * unicode / digit word soup for the shingler and simhash, permuted hash
  * sets for the minhash bander, pathological offsets for the Welford
  * merge. */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => gen.apply(params, Seed(i.toLong)))
  }

  private val word = Gen.chooseNum(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(Gen.alphaChar, // mixed case → lower() path
      Gen.oneOf('é', 'Ü', 'ß', 'ñ', '中', '9'))).map(_.mkString)) // + unicode/digits; empty words too
  private val text = Gen.chooseNum(0, 12).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))          // multi-space runs via empty words

  test("shingle_hashes equals the HOF formulation on 200 random texts") {
    val texts = samples(text, 200)
    val df = texts.toDF("text")
      .withColumn("fused",
        ShingleHashes.shingleHashes(col("text"), 3))
      .withColumn("words", split(lower(col("text")), " "))
      .withColumn("hof",
        when(size(col("words")) >= 3, expr(
          """transform(
            |  array_distinct(transform(sequence(0, size(words) - 3),
            |    i -> concat_ws(' ', slice(words, i + 1, 3)))),
            |  s -> pmod(xxhash64(s), 2147483647))""".stripMargin))
          .otherwise(expr("array()")))
    val mismatches = df.filter(col("fused") =!= col("hof")).count()
    assert(mismatches == 0)
  }

  test("a20 merge identity: merge(agg(A), agg(B)) = agg(A ∪ B) for " +
    "arbitrary splits, including skewed and empty sides") {
    // the algebraic identity incremental maintenance rests on — if any
    // maintained stat were non-algebraic (a quantile, a distinct), some
    // split would break this
    val rows = samples(for {
      id <- Gen.chooseNum(0L, 2999L)
      src <- Gen.oneOf("web", "book", "code", "wiki", "forum")
      chars <- Gen.option(Gen.chooseNum(0, 9999))
    } yield (id, src, chars), 300).distinctBy(_._1)
    val df = rows.toDF("doc_id", "source", "n_chars")
    import graft.etl.Analyze.{mergeSourceStats, sourceStats}
    def result(a: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      mergeSourceStats(sourceStats(a), sourceStats(b)).collect().toSeq
    val truth = result(df, df.limit(0)) // union with empty = identity
    val splits = Seq[org.apache.spark.sql.Column](
      col("doc_id") % 2 === 0,          // even split
      col("doc_id") % 97 === 0,         // skewed: tiny batch side
      col("doc_id") >= 0,               // everything on one side
      crc32(concat_ws("|", col("source"), col("doc_id"))) % 5 === 0)
    splits.foreach { pred =>
      assert(result(df.filter(pred), df.filter(!pred)) == truth,
        s"split $pred broke the merge identity")
    }
  }

  test("minhash band keys are invariant under permutation of the hash set") {
    val hashes = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 2147483646L)))
    val rnd = new scala.util.Random(3)
    val pairs = samples(hashes, 150).map(h => (h, rnd.shuffle(h)))
    val df = pairs.toDF("a", "b")
      .withColumn("ka", expr("minhash_bands(a, 8, 4)"))
      .withColumn("kb", expr("minhash_bands(b, 8, 4)"))
    assert(df.filter(col("ka") =!= col("kb")).count() == 0)
  }

  test("text-fused simhash equals the token-array form on 200 random texts") {
    val texts = samples(text, 200)
    val df = texts.toDF("text")
      .withColumn("fused", expr("simhash64_text(text)"))
      .withColumn("arrform",
        expr("simhash64(array_distinct(split(lower(text), ' ')))"))
    assert(df.filter(col("fused") =!= col("arrform")).count() == 0)
  }

  test("both connected-components paths match brute-force closure on random graphs") {
    // Seeded random graphs spanning singletons, chains, merges, and
    // endpoints absent from the node set; ground truth is an in-test
    // fixpoint closure, and BOTH execution paths must reproduce it.
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 8) {
      val nNodes = 5 + rnd.nextInt(20)
      val nodeIds = (0 until nNodes).map(_ => rnd.nextInt(40).toLong).distinct
      val nEdges = rnd.nextInt(15)
      val edges = (0 until nEdges).map { _ =>
        (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong) // may leave node set
      }.filter { case (a, b) => a != b }
      // ground truth: union-find over nodes ∪ endpoints, restricted to nodes
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val truth = nodeIds.map(n => n -> find(n)).toMap
      val nodesDf = nodeIds.toDF("node")
      val pairsDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("id_a", "id_b")
        else edges.toDF("id_a", "id_b")
      for (threshold <- Seq(100000L, 0L)) {
        val rows = ext.Dedup.connectedComponents(nodesDf, pairsDf,
          smallGraphEdges = threshold).as[(Long, Long)].collect()
        // row-count first: toMap would silently swallow duplicate nodes
        assert(rows.length == truth.size,
          s"trial=$trial threshold=$threshold duplicate/missing rows: ${rows.toSeq}")
        assert(rows.toMap == truth,
          s"trial=$trial threshold=$threshold edges=$edges nodes=$nodeIds")
      }
    }
  }

  test("id-hash buckets spread stride-structured ids (the mod-trap regression)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ids minted as shard + 100*seq by 100 parallel writers: under the
    // old product-mod-100 bucketing (2654435761 ≡ 61 mod 100) every doc
    // of a shard landed in ONE bucket, collapsing a 98/1/1 split. The
    // high-bits kernel must spread each shard across many buckets.
    for (shard <- Seq(0L, 7L, 42L)) {
      val ids = (0L until 500L).map(seq => shard + 100L * seq).toDF("id")
      val buckets = ids
        .select(graft.functions.IdHash.bucket(col("id"), 100).as("b"))
        .distinct().count()
      assert(buckets > 50,
        s"shard $shard stripes into only $buckets of 100 buckets")
    }
    // and the bucket range is respected
    val all = (0L until 2000L).toDF("id")
      .select(graft.functions.IdHash.bucket(col("id"), 100).as("b"))
      .agg(min(col("b")), max(col("b"))).head()
    assert(all.getLong(0) >= 0L && all.getLong(1) <= 99L)
  }

  test("IdHash.wideBucket (advisor r16): events 100003 ids apart must " +
    "NOT share their a43 replica weight sequence — they provably DID " +
    "under bucket's %100003 cap — and sequential keys stay uniform") {
    val B = 64
    val e = 123456789L
    // a43's draw keys for two events exactly one Prime apart: the old
    // pre-reduction makes key2 % 100003 ≡ key1 % 100003 for EVERY
    // replica, so the whole 64-draw sequence collides — the advisor's
    // structural-correlation finding, replayed as a precondition
    val pairs = (0 until B).map(b =>
      (e * B + b, (e + 100003L) * B + b)).toDF("k1", "k2")
    val drawn = pairs.select(
      graft.functions.IdHash.bucket(col("k1"), 10000).as("o1"),
      graft.functions.IdHash.bucket(col("k2"), 10000).as("o2"),
      graft.functions.IdHash.wideBucket(col("k1"), 10000).as("w1"),
      graft.functions.IdHash.wideBucket(col("k2"), 10000).as("w2"))
      .collect()
    assert(drawn.forall(r => r.getLong(0) == r.getLong(1)),
      "precondition broke: the narrow bucket no longer collides " +
        "Prime-apart keys — re-derive this pin")
    val differing = drawn.count(r => r.getLong(2) != r.getLong(3))
    assert(differing >= B / 2,
      s"wide mix decorrelated only $differing/$B replica draws")
    // uniformity: 100k sequential keys (hi/top limbs zero — the
    // weakest case for the mix) spread within 5% of the uniform share
    val n = 100000L
    val counts = spark.range(n)
      .select(graft.functions.IdHash.wideBucket(col("id"), 10).as("b"))
      .groupBy(col("b")).count().collect()
    assert(counts.length == 10)
    counts.foreach { r =>
      assert(math.abs(r.getLong(1) - n / 10.0) < n / 10.0 * 0.05,
        s"bucket ${r.getLong(0)} holds ${r.getLong(1)} of $n")
    }
  }

  test("welford reduce+merge matches exact two-pass stats on 200 random splits") {
    val values = Gen.chooseNum(2, 60).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(Gen.chooseNum(-1e3, 1e3), Gen.chooseNum(-1e3, 1e3).map(_ + 1e9))))
    val rnd = new scala.util.Random(11)
    samples(values, 200).foreach { xs =>
      val cut = rnd.nextInt(xs.length)
      val (l, r) = xs.splitAt(cut)
      def fold(s: Seq[Double]): Moments =
        s.foldLeft(WelfordStats.zero)((b, x) => WelfordStats.reduce(b, x))
      val (mean, v) = WelfordStats.finish(
        WelfordStats.merge(fold(l), fold(r)))
      val exactMean = xs.sum / xs.length
      val exactVar = xs.map(x => (x - exactMean) * (x - exactMean)).sum / (xs.length - 1)
      assert(math.abs(mean - exactMean) <= 1e-9 * math.max(1.0, math.abs(exactMean)))
      assert(math.abs(v - exactVar) <= 1e-6 * math.max(1.0, exactVar))
    }
  }

  test("band self-join equals brute force on random value sets and deltas") {
    val sets = Gen.chooseNum(2, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 2000).map(_ / 10.0)))
    val deltas = Seq(0.1, 0.5, 1.7, 25.0)
    samples(sets, 30).zipWithIndex.foreach { case (xs, i) =>
      val delta = deltas(i % deltas.length)
      val df = xs.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toDF("id", "v")
      val got = graft.ext.Joins.bandSelfJoin(df, "id", "v", delta)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        (va, ia) <- xs.zipWithIndex; (vb, ib) <- xs.zipWithIndex
        if ia < ib && math.abs(va - vb) <= delta
      } yield (ia.toLong, ib.toLong)).toSet
      assert(got == brute, s"delta=$delta xs=$xs")
    }
  }

  test("chunk windows cover every word exactly in order, for random geometries") {
    val geoms = for {
      n <- Gen.chooseNum(1, 120)
      w <- Gen.chooseNum(1, 40)
      s <- Gen.chooseNum(1, w)
    } yield (n, w, s)
    samples(geoms, 30).foreach { case (n, w, s) =>
      val words = (1 to n).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val chunks = graft.ext.Packing.chunkWindows(df, w, s)
        .orderBy("chunk_id")
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3)))
      // every chunk is the exact slice at its offset, none exceeds w
      chunks.foreach { case (i, nw, text) =>
        assert(nw <= w)
        assert(text == words.slice(i * s, i * s + w).mkString(" "),
          s"n=$n w=$w s=$s chunk $i")
      }
      // the last chunk reaches the final word; no empty chunks exist
      assert(chunks.forall(_._2 > 0))
      val last = chunks.last
      assert(last._1 * s + last._2 == n, s"n=$n w=$w s=$s: tail not covered")
    }
  }

  test("cutoffOn equals the naive sorted-selection rule on random score sets") {
    // scores quantized to 1e-2 here so ties are FREQUENT — the histogram
    // threshold's tie-inclusive semantics is exactly what must match
    val scores = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 100).map(_ / 100.0)))
    val fracs = Seq(0.1, 0.3, 0.5, 1.0)
    samples(scores, 40).zipWithIndex.foreach { case (xs, i) =>
      val frac = fracs(i % fracs.length)
      val df = xs.zipWithIndex
        .map { case (s, j) => (j.toLong, "s", s) }
        .toDF("doc_id", "source", "score")
      val got = graft.ext.Curate.cutoffOn(df, frac).collect().head
      // naive rule: descend the sorted scores, the threshold is the score
      // at position ceil(frac·n); keep everything >= it (tie-inclusive)
      val target = math.ceil(frac * xs.length).toInt
      val thr = xs.sorted(Ordering[Double].reverse)(target - 1)
      val kept = xs.count(_ >= thr)
      assert(got.getLong(1) == xs.length.toLong)
      assert(got.getLong(2) == kept.toLong,
        s"frac=$frac scores=$xs: got ${got.getLong(2)}, naive $kept")
      assert(got.getDouble(3) == thr)
    }
  }

  test("a21 trend regression recovers an exact planted line (slope, intercept, r2=1)") {
    // y = 3.5 * x + 10.0 at hours 0..23 of 2024-01-01: values at 2-dp
    // grain, so the integer-moment rescale loses nothing
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val up = (0 until 24).map { x =>
      (x.toLong, new java.sql.Timestamp(base.getTime + x * 3600L * 1000),
        "up", 3.5 * x + 10.0)
    }
    val flat = (0 until 24).map { x =>
      (100L + x, new java.sql.Timestamp(base.getTime + x * 3600L * 1000),
        "flat", 42.25)
    }
    val events = (up ++ flat).toDF("event_id", "ts", "event_type", "value")
    val out = graft.etl.Analyze.trendRegression(events).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))))
      .toMap
    assert(out("up") == ((24L, 3.5, 10.0, Some(1.0))))
    // a perfectly flat line: slope 0, and r2's 0/0 reports NULL (no
    // variance to explain) — never an engine-specific Inf/NaN/error
    assert(out("flat") == ((24L, 0.0, 42.25, None)))
  }

  test("a21 degenerate groups report NULL, not Inf/NaN/ANSI errors") {
    val oneHour = Seq( // two points in the SAME hour: varX = 0
      (1L, java.sql.Timestamp.valueOf("2024-01-01 05:10:00"), "t", 7.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 05:50:00"), "t", 9.0))
      .toDF("event_id", "ts", "event_type", "value")
    val r = graft.etl.Analyze.trendRegression(oneHour).collect().head
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("a21 slope is invariant to the hour offset (x recentering cancels)") {
    def mk(startHour: Int) = (0 until 12).map { x =>
      (x.toLong, java.sql.Timestamp.valueOf(
        f"2024-03-01 ${startHour + x}%02d:00:00"), "t", 2.0 * x + 5.0)
    }.toDF("event_id", "ts", "event_type", "value")
    val a = graft.etl.Analyze.trendRegression(mk(0)).collect().head
    val b = graft.etl.Analyze.trendRegression(mk(8)).collect().head
    assert(a.getDouble(2) == b.getDouble(2) && a.getDouble(2) == 2.0)
    assert(a.getDouble(4) == 1.0 && b.getDouble(4) == 1.0)
  }

  test("DAU/WAU: trailing window counts each user once; stickiness exact (A22)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 active on d1 AND d2 (two events on d1 — dedup), u2 only d1,
    // u3 only d8 (outside d1's window but d2 is within ITS trailing 7)
    val events = Seq(
      (ts("2024-03-01 10:00:00"), 1L), (ts("2024-03-01 11:00:00"), 1L),
      (ts("2024-03-01 12:00:00"), 2L),
      (ts("2024-03-02 09:00:00"), 1L),
      (ts("2024-03-08 09:00:00"), 3L)
    ).toDF("ts", "user_id")
    val out = graft.etl.Analyze.activeUsers(events).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // 03-01: dau {1,2}; wau = window [02-24..03-01] = {1,2}
    assert(out("2024-03-01") == ((2L, 2L, 1.0)))
    // 03-02: dau {1}; wau [02-25..03-02] = {1,2}; u1 counted ONCE
    assert(out("2024-03-02") == ((1L, 2L, 0.5)))
    // 03-08: dau {3}; wau [03-02..03-08] = {1,3} — d1's users aged out,
    // d2's u1 still inside
    assert(out("2024-03-08") == ((1L, 2L, 0.5)))
    assert(out.size == 3) // only days WITH activity emit rows
  }

  test("rolling anomaly: trailing-window z flags the planted spike, not the baseline (A23)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 30 alternating baseline readings (10/12 → sd>0), then one spike.
    // The spike's own value must not join its baseline (frame ends at
    // the PRECEDING row), and rows 0-9 have <10 baseline points → unscored.
    val rows = (0 until 30).map(i =>
      (i.toLong, ts("2024-01-01 00:00:00"), "m",
        if (i % 2 == 0) 10.0 else 12.0)) :+
      (30L, ts("2024-01-01 00:00:00"), "m", 100.0)
    val events = rows.toDF("event_id", "ts", "event_type", "value")
    val out = graft.etl.Analyze.rollingAnomaly(events).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "m")
    assert(r.getLong(1) == 21L, s"scored ${r.getLong(1)}") // rows 10..30
    assert(r.getLong(2) == 1L, "exactly the spike flags")
    assert(r.getDouble(3) > 3.0)
  }

  test("CUSUM flags the sustained small drift a23's pointwise z never sees (A24)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 40 baseline readings alternating 10/12, then 30 at 13.0: each
    // drift reading sits ~0.9σ above the full-series mean — far below
    // any |z|>3 gate — but contributes ~+0.4σ per step to S⁺, which
    // crosses h=4 about ten readings into the drift. Under full-series
    // standardization the changepoint shows on BOTH sides: the
    // baseline regime sits below the long-run mean, so the LOW-side
    // CUSUM alarms in the before-segment while the HIGH side localizes
    // the upward shift — which is why the report carries per-side
    // first-alarm ids.
    val rows = (0 until 40).map(i =>
      (i.toLong, ts("2024-01-01 00:00:00"), "m",
        if (i % 2 == 0) 10.0 else 12.0)) ++
      (40 until 70).map(i => (i.toLong, ts("2024-01-01 00:00:00"), "m", 13.0))
    val out = graft.etl.Analyze.cusumChangepoint(
      rows.toDF("event_id", "ts", "event_type", "value")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 70L)
    assert(r.getDouble(2) > 4.0, s"max s_hi ${r.getDouble(2)} should alarm")
    assert(r.getLong(4) > 0L, "high-side alarm count")
    val firstHi = r.getLong(6)
    assert(firstHi >= 40L && firstHi <= 55L,
      s"high-side alarm should fire early in the drift segment, got $firstHi")
    // the documented two-sided signature: low side fires in the BEFORE
    assert(r.getDouble(3) > 4.0 && r.getLong(7) < 40L,
      s"low-side should flag the pre-shift regime, got id ${r.getLong(7)}")
  }

  test("CUSUM closed form equals the sequential recurrence (A24 identity)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // the prefix-min identity S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) vs the
    // textbook fold max(0, S⁺ᵢ₋₁ + xᵢ − k), replayed on the driver with
    // the operator's own rounding. Values quantize to 0.25 steps so no
    // S lands within float noise of the h=4 boundary.
    val rnd = new scala.util.Random(42)
    val vals = (0 until 200).map(_ => math.round(rnd.nextGaussian() * 8) / 4.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, ts("2024-01-01 00:00:00"), "m", v) }
    val out = graft.etl.Analyze.cusumChangepoint(
      rows.toDF("event_id", "ts", "event_type", "value")).collect().head
    // driver replay
    val n = vals.size
    val mu = BigDecimal(vals.sum / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean = vals.sum / n
    val sd = BigDecimal(math.sqrt(
        vals.map(v => (v - mean) * (v - mean)).sum / (n - 1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = vals.map(v => BigDecimal((v - mu) / sd)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def r4d(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    var sHi = 0.0; var sLo = 0.0; var maxHi = 0.0; var maxLo = 0.0
    var hiAlarms = 0L; var loAlarms = 0L
    xs.foreach { x =>
      sHi = math.max(0.0, sHi + x - 0.5)
      sLo = math.max(0.0, sLo - x - 0.5)
      // the operator rounds each S to 4 decimals BEFORE both the max
      // aggregate and the threshold compare — replay the same rounding
      val rh = r4d(sHi); val rl = r4d(sLo)
      maxHi = math.max(maxHi, rh); maxLo = math.max(maxLo, rl)
      if (rh > 4.0) hiAlarms += 1
      if (rl > 4.0) loAlarms += 1
    }
    assert(math.abs(out.getDouble(2) - maxHi) < 1e-9,
      s"s_hi ${out.getDouble(2)} vs recurrence $maxHi")
    assert(math.abs(out.getDouble(3) - maxLo) < 1e-9,
      s"s_lo ${out.getDouble(3)} vs recurrence $maxLo")
    assert(out.getLong(4) == hiAlarms && out.getLong(5) == loAlarms)
  }

  test("seasonal anomaly: a 3am spike flags against the 3am baseline, not the global one; zero-variance cells drop (A26)") {
    import spark.implicits._
    def at(day: Int, hod: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hod%02d:00:00")
    // hod=3 cell: 20 days alternating 10/12 plus one 50-spike → the
    // spike's z ≈ 4.3 against ITS OWN hour's baseline (mean 12.86,
    // sd 8.57); the alternation keeps sd > 0. hod=5 cell: constant 7 →
    // zero variance → excluded entirely (no x/0 row). A global-fence
    // detector would also have to reconcile the hod=5 level — the
    // seasonal split is what isolates the 3am spike cleanly.
    val rows =
      (1 to 20).map(d => (d.toLong, at(d, 3), "m",
        if (d % 2 == 0) 10.0 else 12.0)) ++
      Seq((21L, at(21, 3), "m", 50.0)) ++
      (1 to 10).map(d => (100L + d, at(d, 5), "m", 7.0))
    val out = graft.etl.Analyze.seasonalAnomaly(
      rows.toDF("event_id", "ts", "event_type", "value")).collect()
    assert(out.length == 1, s"only the hod=3 cell reports: ${out.toSeq}")
    val r = out.head
    assert(r.getInt(1) == 3 && r.getLong(2) == 21L)
    assert(r.getLong(5) == 1L, "exactly the spike flags")
    assert(r.getDouble(6) > 4.0 && r.getDouble(6) < 5.0,
      s"spike z ${r.getDouble(6)} ≈ 4.3 against the seasonal baseline")
  }

  test("A/B test: planted arm asymmetry is significant; A/A with se=0 yields NULL z (A27)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // resolve each user's arm through the operator's own assignment,
    // then plant: every A-user purchases, no B-user does — rates must
    // be exactly 1.0 / 0.0 and the pooled z decisively significant
    val userIds = (0L until 200L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(arms.values.toSet == Set("A", "B"), "both arms populated")
    val events = userIds.map(u =>
      (u, ts0, u, if (arms(u) == "A") "purchase" else "view", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.etl.Analyze.abTest(events).collect().head
    assert(r.getDouble(2) == 1.0 && r.getDouble(5) == 0.0)
    assert(math.abs(r.getDouble(6)) > 10.0, s"z ${r.getDouble(6)}")
    assert(r.getBoolean(7))
    // A/A where EVERYONE converts: p_pool = 1 → se = 0 → NULL z, not
    // a division blowup, and not significant
    val aa = userIds.map(u => (u, ts0, u, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r2 = graft.etl.Analyze.abTest(aa).collect().head
    assert(r2.isNullAt(6) && !r2.getBoolean(7))
  }

  test("Mann-Whitney U: hand-computed tie-corrected z on planted arm " +
    "revenues; identical distributions give z = 0; all-equal gives NULL (A33)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // resolve arms through the operator's own assignment, then plant
    // whole-unit revenues A = {1, 2, 2}, B = {2, 3}:
    // ranks 1,(2,3,4 → midrank 3),5; R_A = 1+3+3 = 7, U_A = 7−6 = 1,
    // μ = 3, tie_sum = 3³−3 = 24,
    // σ = sqrt(0.5·(6 − 24/20)) = sqrt(2.4) → z = −2/σ = −1.2910,
    // rank-biserial effect = 1 − 2·1/6 = 0.6667
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aIds = userIds.filter(arms(_) == "A")
    val bIds = userIds.filter(arms(_) == "B")
    def events(pairs: Seq[(Long, Int)]) =
      (pairs.zipWithIndex.map { case ((u, units), i) =>
        (i.toLong, ts0, u, "purchase", units.toDouble)
      } :+ ((999L, ts0, pairs.head._1, "view", 777.0))) // ignored metric
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.etl.Analyze.mannWhitney(events(
      aIds.take(3).zip(Seq(1, 2, 2)) ++ bIds.take(2).zip(Seq(2, 3))))
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 1.0, s"u_a ${r.getDouble(2)}")
    assert(r.getDouble(3) == -1.291, s"z ${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.6667, s"effect ${r.getDouble(4)}")
    assert(!r.getBoolean(5))
    // identical distributions {5,7} vs {5,7}: U_A = μ → z exactly 0
    val r2 = graft.etl.Analyze.mannWhitney(events(
      aIds.take(2).zip(Seq(5, 7)) ++ bIds.take(2).zip(Seq(5, 7))))
      .collect().head
    assert(r2.getDouble(3) == 0.0 && r2.getDouble(4) == 0.0
      && !r2.getBoolean(5))
    // every user identical: one bin, full-tie correction → σ = 0 →
    // NULL z, not a division blowup, and not significant
    val r3 = graft.etl.Analyze.mannWhitney(events(
      aIds.take(2).zip(Seq(5, 5)) ++ bIds.take(2).zip(Seq(5, 5))))
      .collect().head
    assert(r3.isNullAt(3) && !r3.getBoolean(5))
  }

  test("KS two-sample: hand-computed ECDF gap on planted arm revenues; " +
    "disjoint supports give D = 1; identical samples give D = 0 (A34)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aIds = userIds.filter(arms(_) == "A")
    val bIds = userIds.filter(arms(_) == "B")
    def events(pairs: Seq[(Long, Int)]) =
      pairs.zipWithIndex.map { case ((u, units), i) =>
        (i.toLong, ts0, u, "purchase", units.toDouble)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    // A = {1,2,2}, B = {2,3}: ECDF gaps (in 1/6ths) are 2,3,0 → D = 0.5;
    // ne = 6/5 → p = min(1, 2·e^(−2·1.2·0.25)) = min(1, 1.0976) = 1.0
    val r = graft.etl.Analyze.ksTest(events(
      aIds.take(3).zip(Seq(1, 2, 2)) ++ bIds.take(2).zip(Seq(2, 3))))
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.5, s"D ${r.getDouble(2)}")
    assert(r.getDouble(3) == 1.0 && !r.getBoolean(4))
    // disjoint supports: every A below every B → D exactly 1
    val r2 = graft.etl.Analyze.ksTest(events(
      aIds.take(2).zip(Seq(1, 1)) ++ bIds.take(2).zip(Seq(9, 9))))
      .collect().head
    assert(r2.getDouble(2) == 1.0)
    assert(r2.getDouble(3) == 0.2707, s"p ${r2.getDouble(3)}") // 2e^(−2)
    // identical samples bin-for-bin → D = 0, p = 1
    val r3 = graft.etl.Analyze.ksTest(events(
      aIds.take(2).zip(Seq(5, 7)) ++ bIds.take(2).zip(Seq(5, 7))))
      .collect().head
    assert(r3.getDouble(2) == 0.0 && r3.getDouble(3) == 1.0
      && !r3.getBoolean(4))
  }

  test("CUPED: hand-computed θ/ρ²; the planted corpus reads NOT " +
    "significant raw and significant adjusted; zero covariate variance " +
    "degrades to the raw test (A35)") {
    import spark.implicits._
    // day 1 = pre-period, day 3 = post: span midpoint split = day 2
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aIds = userIds.filter(arms(_) == "A")
    val bIds = userIds.filter(arms(_) == "B")
    // plant whole-unit (pre, post) revenue per user; x = 0 users get a
    // day-1 VIEW instead (non-purchase revenue must not count, and the
    // zero-inflated covariate path is exercised)
    def events(pairs: Seq[(Long, (Int, Int))]) =
      pairs.zipWithIndex.flatMap { case ((u, (x, y)), i) =>
        val pre: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
          if (x > 0) Seq((i.toLong, at(1), u, "purchase", x.toDouble))
          else Seq((i.toLong, at(1), u, "view", 9.0))
        val post: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
          if (y > 0) Seq((1000L + i, at(3), u, "purchase", y.toDouble))
          else Seq.empty
        pre ++ post
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
    // A = {(0,1),(2,2),(4,4)}, B = {(0,0),(2,2),(4,3)} (x, y) in units:
    // pooled n=6 sx=12 sy=12 sxx=40 sxy=36 syy=34 →
    // covn = 6·36−144 = 72, varxn = 6·40−144 = 96, varyn = 6·34−144=60
    // θ = 72/96 = 0.75, ρ² = 72²/(96·60) = 0.9 exactly;
    // means: mx_a=mx_b=x̄=2 → adjustment shifts nothing ON AVERAGE but
    // shrinks within-arm variance 14/9 → 1/18: z_raw = √(3/7) = 0.6547
    // (NOT significant), z_cuped = 2√3 = 3.4641 (significant) — the
    // same experiment, the same users, 28× less metric variance
    val r = graft.etl.Analyze.cuped(events(
      aIds.take(3).zip(Seq((0, 1), (2, 2), (4, 4))) ++
        bIds.take(3).zip(Seq((0, 0), (2, 2), (4, 3)))))
      .collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(r.getDouble(2) == 0.75, s"theta ${r.getDouble(2)}")
    assert(r.getDouble(3) == 0.9, s"var_reduction ${r.getDouble(3)}")
    assert(r.getDouble(4) == 0.6667 && r.getDouble(5) == 0.6667)
    assert(r.getDouble(6) == 0.6547, s"z_raw ${r.getDouble(6)}")
    assert(r.getDouble(7) == 3.4641, s"z_cuped ${r.getDouble(7)}")
    assert(!r.getBoolean(8) && r.getBoolean(9),
      "the card's point: raw misses, CUPED detects")
    // zero covariate variance (every pre identical): θ/ρ² NULL, the
    // adjustment degrades to the raw test (both z exactly 0 here), no
    // division blowup
    val r2 = graft.etl.Analyze.cuped(events(
      aIds.take(2).zip(Seq((2, 5), (2, 7))) ++
        bIds.take(2).zip(Seq((2, 5), (2, 7)))))
      .collect().head
    assert(r2.isNullAt(2) && r2.isNullAt(3))
    assert(r2.getDouble(6) == 0.0 && r2.getDouble(7) == 0.0)
    assert(!r2.getBoolean(8) && !r2.getBoolean(9))
  }

  test("BH panel: A&S normal tail matches table values; a metric " +
    "significant ALONE dies inside a 5-test family; a decisive metric " +
    "survives; zero-variance metrics sit outside the family (A36)") {
    import spark.implicits._
    // the normal-tail kernel against standard-table values (the
    // independent pin the shared-formula oracle cannot give)
    def pOf(zv: Double): Double =
      Seq(zv).toDF("z")
        .select(graft.etl.Analyze.normTwoSided(col("z")).as("p"))
        .collect().head.getDouble(0)
    assert(pOf(0.0) == 1.0)
    assert(math.abs(pOf(1.96) - 0.0499958) <= 1e-6, s"p(1.96) ${pOf(1.96)}")
    assert(math.abs(pOf(2.5758) - 0.01) <= 1e-5)
    assert(pOf(-1.96) == pOf(1.96), "two-sided symmetry")
    // resolve arms, then plant per-(user, metric) counts: "hot" is
    // z = 2.4495 → p = 0.014306 — significant READ ALONE (p < 0.05),
    // but rank 1 of a 5-test family needs p ≤ 0.05/5 = 0.01: BH kills
    // it. flat1..flat4 are identical across arms (z = 0, p = 1);
    // "same" has zero variance in both arms → outside the family
    // (m_tests stays 5 — pinned through hot's threshold)
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(a1, a2, a3) = userIds.filter(arms(_) == "A").take(3)
    val Seq(b1, b2, b3) = userIds.filter(arms(_) == "B").take(3)
    def counts(hotA: Seq[Long]): org.apache.spark.sql.DataFrame = {
      val flats = (1 to 4).flatMap(i => Seq(
        (a1, s"flat$i", 1L), (a2, s"flat$i", 1L),
        (b1, s"flat$i", 1L), (b2, s"flat$i", 1L)))
      val same = Seq(a1, a2, a3, b1, b2, b3).map(u => (u, "same", 1L))
      (Seq(a1, a2, a3).zip(hotA).map { case (u, c) => (u, "hot", c) } ++
        Seq((b1, "hot", 1L), (b2, "hot", 1L)) ++ flats ++ same)
        .toDF("user_id", "event_type", "c")
    }
    // hot A = {3,2,1}, B = {1,1,0}: z = (4/3)/√(8/27) = 2.4495
    val out = graft.etl.Analyze.bhPanelFromCounts(counts(Seq(3L, 2L, 1L)))
      .collect().map(r => r.getString(0) -> r).toMap
    val hot = out("hot")
    assert(hot.getLong(1) == 3 && hot.getLong(2) == 3)
    assert(hot.getDouble(5) == 2.4495, s"z ${hot.getDouble(5)}")
    assert(math.abs(hot.getDouble(6) - 0.014306) <= 5e-5,
      s"p ${hot.getDouble(6)}")
    assert(hot.getInt(7) == 1 && hot.getDouble(8) == 0.01,
      "rank-1 threshold must divide by the TESTABLE family size (5)")
    assert(hot.getBoolean(9) && !hot.getBoolean(10),
      "the card's point: significant alone, not in a family of five")
    (1 to 4).foreach { i =>
      val f = out(s"flat$i")
      assert(f.getDouble(5) == 0.0 && f.getDouble(6) == 1.0)
      assert(!f.getBoolean(9) && !f.getBoolean(10))
    }
    val same = out("same")
    assert(same.isNullAt(5) && same.isNullAt(6) && same.isNullAt(7))
    assert(!same.getBoolean(9) && !same.getBoolean(10))
    // a decisive hot (A = {6,5,4}: z = 7.96, p rounds to 0) SURVIVES
    // BH at the same rank-1 threshold, and the flats stay dead
    val out2 = graft.etl.Analyze.bhPanelFromCounts(counts(Seq(6L, 5L, 4L)))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out2("hot").getDouble(6) == 0.0)
    assert(out2("hot").getBoolean(10), "a decisive metric must survive BH")
    (1 to 4).foreach(i => assert(!out2(s"flat$i").getBoolean(10)))
  }

  test("power/MDE: hand-computed detectable effect and required " +
    "enrollment off a36's shared moments; zero variance → NULL, " +
    "not a blowup (A37)") {
    import spark.implicits._
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(a1, a2, a3) = userIds.filter(arms(_) == "A").take(3)
    val Seq(b1, b2, b3) = userIds.filter(arms(_) == "B").take(3)
    // metric "m": counts A = {1,1,0}, B = {1,1,0} (n = 3 per arm):
    // mean 2/3, var 2/9 each; se = √(4/27) = 0.38490;
    // mde_abs = 2.8016·se = 1.0783 (the rounded value is REUSED);
    // mde_rel = 1.0783·100/(2/3) = 161.745%; a 2% lift of the pooled
    // mean needs ceil(2.8016²·(4/9)/(0.02·2/3)²) = 19623 per arm —
    // the card saying "this metric is hopeless at this n", which is
    // exactly what it exists to say. "same" (constant 1 for all six
    // users) has zero variance → NULL mde/n, no division artifact.
    val uc = (Seq(a1, a2, b1, b2).map(u => (u, "m", 1L)) ++
      Seq(a1, a2, a3, b1, b2, b3).map(u => (u, "same", 1L)))
      .toDF("user_id", "event_type", "c")
    val out = graft.etl.Analyze.powerMdeFromCounts(uc)
      .collect().map(r => r.getString(0) -> r).toMap
    val m = out("m")
    assert(m.getLong(1) == 3 && m.getLong(2) == 3)
    assert(m.getDouble(3) == 0.6667, s"mean_pool ${m.getDouble(3)}")
    assert(m.getDouble(4) == 1.0783, s"mde_abs ${m.getDouble(4)}")
    assert(m.getDouble(5) == 161.745, s"mde_rel ${m.getDouble(5)}")
    assert(m.getLong(6) == 19623L, s"n_req ${m.getLong(6)}")
    val s = out("same")
    assert(s.isNullAt(4) && s.isNullAt(5) && s.isNullAt(6))
  }

  test("SRM guard: balanced enrollment stays quiet; a mid-experiment " +
    "one-arm logging drop alarms from that day on (A38)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val userIds = (0L until 600L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aIds = userIds.filter(arms(_) == "A")
    val bIds = userIds.filter(arms(_) == "B")
    // day 1 enrolls 80 per arm (healthy); day 2 "enrolls" 70 more but a
    // bug drops arm B's logging — all 70 land in A. Cumulatively:
    // day 1 → z = 0, p = 1 (quiet); day 2 → 150 vs 80, z = 70/√230 =
    // 4.6157, p ≈ 4e-6 → ALARM. The guard must stay quiet on the
    // healthy day and fire from the broken one on.
    val events =
      (aIds.take(80) ++ bIds.take(80)).map(u => (u, at(1), u, "view")) ++
        aIds.slice(80, 150).map(u => (u, at(2), u, "view"))
    val out = graft.etl.Analyze.srmGuard(events
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSeq
    assert(out.size == 2)
    assert(out(0) == ((80L, 80L, 0.0, 1.0, false)),
      s"healthy day must be quiet: ${out(0)}")
    val (na2, nb2, z2, p2, alarm2) = out(1)
    assert(na2 == 150L && nb2 == 80L)
    assert(z2 == 4.6157, s"z $z2")
    assert(p2 <= 0.00001 && alarm2, s"p $p2 must alarm")
  }

  test("sequential A/B: an early naive 'win' does not clear the O'Brien-Fleming boundary (A32)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // Resolve arms through the operator's own assignment, then plant
    // THE peeking scenario: day 1 enrolls 10 per arm and every A-user
    // converts (z = 1/√(.25·.2) = 4.4721 — a decisive naive win), but
    // only 20 of the eventual 400 users have arrived (t = 0.05 →
    // boundary 1.96/√.05 = 8.7654) — the sequential card must refuse
    // the early call. Day 2 enrolls the other 380 with no conversions;
    // at full information the boundary relaxes to exactly 1.96.
    val userIds = (0L until 400L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val earlyA = userIds.filter(arms(_) == "A").take(10)
    val earlyB = userIds.filter(arms(_) == "B").take(10)
    val late = userIds.filterNot((earlyA ++ earlyB).toSet)
    val events =
      earlyA.map(u => (u, at(1), u, "purchase", 1.0)) ++
        earlyB.map(u => (u, at(1), u, "view", 1.0)) ++
        late.map(u => (u, at(2), u, "view", 1.0))
    val out = graft.etl.Analyze.sequentialAb(
      events.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
    assert(out.length == 2)
    val d1 = out(0)
    assert((d1.getLong(1), d1.getLong(2), d1.getLong(3), d1.getLong(4)) ==
      ((10L, 10L, 10L, 0L)))
    assert(d1.getDouble(5) == 4.4721 && d1.getDouble(6) == 8.7654,
      s"z=${d1.getDouble(5)} bound=${d1.getDouble(6)}")
    assert(d1.getBoolean(7) && !d1.getBoolean(8),
      "day 1 must read: naive says ship, sequential says wait")
    // full information: boundary = 1.96 exactly; z recomputed on the
    // diluted rates via the same closed form
    val d2 = out(1)
    val (nA, nB) = (d2.getLong(1).toDouble, d2.getLong(3).toDouble)
    assert(nA + nB == 400.0 && d2.getLong(2) == 10L && d2.getLong(4) == 0L)
    assert(d2.getDouble(6) == 1.96)
    val pPool = 10.0 / 400
    val se = math.sqrt(pPool * (1 - pPool) * (1 / nA + 1 / nB))
    val zExp = BigDecimal((10.0 / nA - 0.0) / se)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(d2.getDouble(5) == zExp)
    assert(d2.getBoolean(7) == (math.abs(zExp) > 1.96))
    assert(d2.getBoolean(8) == (math.abs(zExp) > 1.96))
  }

  test("sequential A/B: a single-arm day yields NULL z, never a division blowup (A32)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // day 1 enrolls ONLY A-arm users (n_b = 0 → z must be NULL and not
    // significant under either rule); B arrives day 2
    val userIds = (0L until 100L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val aUsers = userIds.filter(arms(_) == "A")
    val bUsers = userIds.filter(arms(_) == "B")
    val events =
      aUsers.map(u => (u, at(1), u, "purchase", 1.0)) ++
        bUsers.map(u => (u, at(2), u, "view", 1.0))
    val out = graft.etl.Analyze.sequentialAb(
      events.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect()
    val d1 = out(0)
    assert(d1.getLong(3) == 0L && d1.isNullAt(5))
    assert(!d1.getBoolean(7) && !d1.getBoolean(8))
  }

  test("RFM: hand-bucketed users land in their segments; recency anchors to the corpus' own max day (A28)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // u1: active day 30 (recency 0), 60 events, 6000 cents of purchases
    //     → R3 F3 M3
    // u2: active day 25 (recency 5), 25 events, no purchases → R2 F2 M1
    // u3: active day 10 (recency 20), 3 events, 1500 cents → R1 F1 M2
    val rows =
      (0 until 59).map(i => (i.toLong, at(30), 1L, "view", 0.0)) ++
        Seq((59L, at(30), 1L, "purchase", 60.0)) ++
      (100 until 125).map(i => (i.toLong, at(25), 2L, "view", 9.9)) ++
      Seq((200L, at(10), 3L, "purchase", 15.0), (201L, at(9), 3L, "view", 0.0),
        (202L, at(8), 3L, "view", 0.0))
    val out = graft.etl.Analyze.rfmSegments(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out.size == 3, s"segments: ${out.keySet}")
    assert(out("R3F3M3") == ((1L, 0.0, 60.0, 6000L)))
    assert(out("R2F2M1") == ((1L, 5.0, 25.0, 0L)))
    assert(out("R1F1M2") == ((1L, 20.0, 3.0, 1500L)))
  }

  test("survival curve: KM product limit with right-censoring, hand arithmetic (A29)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // anchor = day 21; censor window = last_day >= 14.
    // u1,u2: days 1..6   → lifetime 5, churned (deaths at 5)
    // u3:    days 1,11   → lifetime 10, churned
    // u4:    days 11,21  → lifetime 10, CENSORED (active in final week)
    // u5:    days 19,21  → lifetime 2, CENSORED
    // S(2)=1 (no deaths), S(5)=1·(1−2/4)=0.5, S(10)=0.5·(1−1/2)=0.25
    val rows = Seq(
      (1L, at(1)), (1L, at(3)), (1L, at(6)),
      (2L, at(1)), (2L, at(6)),
      (3L, at(1)), (3L, at(11)),
      (4L, at(11)), (4L, at(21)),
      (5L, at(19)), (5L, at(21)))
    val out = graft.etl.Analyze.survivalCurve(rows.toDF("user_id", "ts"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(out.toSeq == Seq(
      2L -> ((5L, 0L, 1L, 1.0)),
      5L -> ((4L, 2L, 0L, 0.5)),
      10L -> ((2L, 1L, 1L, 0.25))), out.mkString(", "))
  }

  test("survival curve: a day whose hazard hits 1 drives S to exactly 0, not NULL (A29)") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // u1,u2 churn at lifetime 3 while they are the WHOLE risk set
    // (u3 exits censored at 2 first): deaths == at_risk ⇒ Spark's
    // ln(0)=NULL path must not leak — the died-out flag pins S = 0.0
    val rows = Seq(
      (1L, at(1)), (1L, at(4)),
      (2L, at(1)), (2L, at(4)),
      (3L, at(19)), (3L, at(21)))
    val out = graft.etl.Analyze.survivalCurve(rows.toDF("user_id", "ts"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(out.toSeq == Seq(
      2L -> ((3L, 0L, 1L, 1.0)),
      3L -> ((2L, 2L, 0L, 0.0))), out.mkString(", "))
  }

  test("last-touch attribution: preceding-touch carry, (none) bucket, tie order (A30)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // u1: view,click,P($5),view,P($2) → click and view get one credit
    // u2: bare P($3) → (none); u3: P($1) THEN view → the view is after
    // the purchase and must not attribute → (none)
    // u4: view and P($4) at the SAME ts → event_id order credits view
    val rows = Seq(
      (1L, 1L, "view", 0.0), (2L, 1L, "click", 0.0),
      (3L, 1L, "purchase", 5.0), (4L, 1L, "view", 0.0),
      (5L, 1L, "purchase", 2.0),
      (6L, 2L, "purchase", 3.0),
      (7L, 3L, "purchase", 1.0), (8L, 3L, "view", 0.0),
      (9L, 4L, "view", 0.0), (10L, 4L, "purchase", 4.0))
      .map { case (id, u, ty, v) => (id, t0, u, ty, v) }
    val out = graft.etl.Analyze.lastTouchAttribution(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toSeq
    assert(out == Seq(
      "(none)" -> ((2L, 400L, 0.4)),
      "click" -> ((1L, 500L, 0.2)),
      "view" -> ((2L, 600L, 0.4))), out.mkString(", "))
  }

  test("path mining: 3-step journeys, cross-user fences, traveller dedup (A31)") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // u1: A B C D → paths ABC, BCD; u2: A B C → ABC (so ABC has 2
    // traversals by 2 users); u3: A B C A B C → ABC twice by ONE user
    // (n_paths 2 more, n_users only 1 more — the bot-vs-crowd split)
    // plus BCA, CAB; u4: X Y → two events form no path; u2's tail and
    // u3's head must not chain across the user fence.
    val rows = Seq(
      (1L, 1L, "A"), (2L, 1L, "B"), (3L, 1L, "C"), (4L, 1L, "D"),
      (5L, 2L, "A"), (6L, 2L, "B"), (7L, 2L, "C"),
      (8L, 3L, "A"), (9L, 3L, "B"), (10L, 3L, "C"),
      (11L, 3L, "A"), (12L, 3L, "B"), (13L, 3L, "C"),
      (14L, 4L, "X"), (15L, 4L, "Y"))
      .map { case (id, u, ty) => (id, t0, u, ty) }
    val out = graft.etl.Analyze.pathMining(
        rows.toDF("event_id", "ts", "user_id", "event_type")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4)))).toSeq
    assert(out == Seq(
      ("A", "B", "C") -> ((4L, 3L)),
      ("B", "C", "A") -> ((1L, 1L)),
      ("B", "C", "D") -> ((1L, 1L)),
      ("C", "A", "B") -> ((1L, 1L))), out.mkString(", "))
  }

  test("event transitions: per-user adjacency, no cross-user pairs (A25)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1: A B A B  → (A,B)×2, (B,A)×1 ; u2: A A → (A,A)×1.
    // u1's last event and u2's first must not form a pair.
    val rows = Seq(
      (1L, 10L, "A"), (2L, 10L, "B"), (3L, 10L, "A"), (4L, 10L, "B"),
      (5L, 20L, "A"), (6L, 20L, "A"))
      .map { case (id, u, t) => (id, ts("2024-01-01 00:00:00"), u, t) }
    val out = graft.etl.Analyze.eventTransitions(
        rows.toDF("event_id", "ts", "user_id", "event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 3)
    assert(out(("A", "B")) == ((2L, 0.6667)))
    assert(out(("A", "A")) == ((1L, 0.3333)))
    assert(out(("B", "A")) == ((1L, 1.0)))
  }

  test("DiD: hand-computed estimate/z/p on planted per-user deltas; " +
    "zero pooled variance → NULL z/p, not a blowup (A39)") {
    import spark.implicits._
    val userIds = (0L until 300L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val Seq(a1, a2) = userIds.filter(arms(_) == "A").take(2)
    val Seq(b1, b2) = userIds.filter(arms(_) == "B").take(2)
    def users(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("user_id", "pre_cents", "post_cents")
    // A deltas {0, 100}: mean 50, var 2500; B deltas {100, 300}:
    // mean 200, var 10000 → DiD 150, se = √6250 = 79.0569,
    // z = 150/79.0569 = 1.8974, p(A&S) = 0.057775 — not significant
    val r = graft.etl.Analyze.didFromUsers(users(Seq(
      (a1, 100L, 100L), (a2, 0L, 100L),
      (b1, 100L, 200L), (b2, 0L, 300L)))).collect().head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 50.0 && r.getDouble(3) == 200.0)
    assert(r.getDouble(4) == 150.0, s"did ${r.getDouble(4)}")
    assert(r.getDouble(5) == 1.8974, s"z ${r.getDouble(5)}")
    assert(math.abs(r.getDouble(6) - 0.057775) <= 1e-6,
      s"p ${r.getDouble(6)}")
    assert(!r.getBoolean(7))
    // identical within-arm deltas: se = 0 → NULL z/p, did still printed
    val r2 = graft.etl.Analyze.didFromUsers(users(Seq(
      (a1, 0L, 100L), (a2, 50L, 150L),
      (b1, 0L, 300L), (b2, 70L, 370L)))).collect().head
    assert(r2.getDouble(4) == 200.0)
    assert(r2.isNullAt(5) && r2.isNullAt(6) && !r2.getBoolean(7))
  }

  test("Benford: digits come off the cents long's leading character; " +
    "all nine rows always present; hand-computed chi-square (A41)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // purchases 1.00 → digit 1, 19.99 → 1, 0.35 → 3, 92.0 → 9, plus a
    // view (excluded) and a zero-cents purchase (excluded)
    val events = Seq(
      (1L, ts0, 1L, "purchase", 1.0), (2L, ts0, 2L, "purchase", 19.99),
      (3L, ts0, 3L, "purchase", 0.35), (4L, ts0, 4L, "purchase", 92.0),
      (5L, ts0, 5L, "view", 7.0), (6L, ts0, 6L, "purchase", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val counts = graft.etl.Analyze.benfordDigitCounts(events)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(1 -> 2L, 3 -> 1L, 9 -> 1L))
    // hand chi2 on {1:3, 2:1, 9:1}, n = 5: zero-observation digits
    // contribute their full expectation; total = 6.4861
    val card = graft.etl.Analyze.benfordFromCounts(
      Seq((1, 3L), (2, 1L), (9, 1L)).toDF("digit", "n")).collect()
    assert(card.length == 9, "the nine-digit spine must be complete")
    val d1 = card.find(_.getInt(0) == 1).get
    assert(d1.getLong(1) == 3L && d1.getDouble(2) == 0.6)
    assert(d1.getDouble(3) == 0.301, "Benford P(1) = log10(2)")
    assert(math.abs(d1.getDouble(4) - 6.4861) <= 2e-3,
      s"chi2 ${d1.getDouble(4)}")
    assert(card.map(_.getDouble(4)).distinct.length == 1,
      "chi2_total must be the same on every row")
  }

  test("winsorized/trimmed means: planted 1..99 cents plus one whale — " +
    "bounds round to whole cents, sums stay integer-exact (A40)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = ((1 to 99).map(i =>
      (i.toLong, ts0, i.toLong, "p", i / 100.0)) :+
      ((100L, ts0, 100L, "p", 100.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    // cents 1..99 and 10000: p01 → 1.99 → 2; p99 → 198.01 → 198;
    // raw = 14950/10000; winsorized replaces 1→2 and 10000→198:
    // (14950 + 1 − 9802)/10000 = 0.5149; trimmed drops both ends:
    // 4949/9800 = 0.505 over 98 kept
    val dir = java.nio.file.Files.createTempDirectory("a40probe").toString
    events.write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getPath)
    val r = graft.etl.Analyze.a40WinsorizedMean(spark, dir).collect().head
    assert(r.getString(0) == "p" && r.getLong(1) == 100)
    assert(r.getLong(2) == 2L && r.getLong(3) == 198L)
    assert(r.getDouble(4) == 1.495 && r.getDouble(5) == 0.5149)
    assert(r.getDouble(6) == 0.505 && r.getLong(7) == 98)
  }

  test("bootstrap CI: a CONSTANT metric collapses the interval to the " +
    "constant exactly (every replica mean of a constant IS the " +
    "constant, whatever the weights); a spread metric opens a " +
    "bracketing width; the deterministic draw makes reruns " +
    "bit-identical (A43)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // type "k": 40 events all exactly 5.00 — replica means are all
    // 5.0 regardless of the Poisson weights, so ci = [5, 5], width 0.
    // type "s": 1..40 cents — a real spread; the CI must bracket and
    // have nonzero width.
    val events = ((1 to 40).map(i =>
      (i.toLong, ts0, i.toLong, "k", 5.0)) ++
      (1 to 40).map(i => (100L + i, ts0, i.toLong, "s", i / 100.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("a43probe").toString
    events.write.mode("overwrite")
      .parquet(new java.io.File(dir, "events.parquet").getPath)
    val out = graft.etl.Analyze.a43BootstrapCi(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val k = out("k")
    assert(k.getLong(1) == 40 && k.getDouble(2) == 5.0)
    assert(k.getDouble(3) == 5.0 && k.getDouble(4) == 5.0 &&
      k.getDouble(5) == 0.0,
      s"constant metric must collapse the interval: $k")
    val sRow = out("s")
    assert(sRow.getDouble(2) == 0.205, "raw mean = 820 cents / 40 / 100")
    assert(sRow.getDouble(3) <= sRow.getDouble(2) &&
      sRow.getDouble(2) <= sRow.getDouble(4),
      s"CI must bracket the raw mean: $sRow")
    assert(sRow.getDouble(5) > 0.0, "spread metric must open the interval")
    // determinism: the hash-keyed draw replays bit-identically
    val again = graft.etl.Analyze.a43BootstrapCi(spark, dir)
      .collect().map(_.toString).toSeq
    assert(again == out.values.toSeq.sortBy(_.getString(0)).map(_.toString),
      "rerun drifted — the bootstrap draw is not deterministic")
  }

  test("HHI: planted lang×source counts; count ties break toward the " +
    "lexically first source (A42)") {
    import spark.implicits._
    val docs = (Seq.fill(3)(("en", "web")) ++ Seq(("en", "wiki")) ++
      Seq(("fr", "web"), ("fr", "web"), ("fr", "wiki"), ("fr", "wiki")))
      .zipWithIndex
      .map { case ((l, s), i) => (i.toLong, s"t$i", l, s, 2L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("a42probe").toString
    docs.write.mode("overwrite")
      .parquet(new java.io.File(dir, "documents.parquet").getPath)
    val out = graft.etl.Analyze.a42HhiConcentration(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) == 4 && en.getLong(2) == 2)
    assert(en.getString(3) == "web" && en.getDouble(4) == 0.75)
    assert(en.getDouble(5) == 0.625, "HHI = (9 + 1)/16")
    val fr = out("fr")
    assert(fr.getString(3) == "web",
      "a 2–2 tie must keep the lexically first source")
    assert(fr.getDouble(4) == 0.5 && fr.getDouble(5) == 0.5)
  }

  test("Pareto card: hand-computed top-decile share, integer 80% " +
    "boundary, and Gini on a planted whale (W20)") {
    import spark.implicits._
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // four users: cents 700, 100, 100, 100 → total 1000; top decile =
    // ceil(4/10) = 1 user = 0.7; 80% needs 2 users (700+100 ≥ 800);
    // Gini: ascending Σ i·x = 3400 → 2·3400/4000 − 5/4 = 0.45
    val events = Seq(
      (1L, ts0, 4L, "purchase", 7.0), (2L, ts0, 1L, "purchase", 1.0),
      (3L, ts0, 2L, "purchase", 1.0), (4L, ts0, 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = graft.ext.WindowFns.paretoConcentration(events).collect().head
    assert(r.getString(0) == "purchase")
    assert(r.getLong(1) == 4 && r.getLong(2) == 1000)
    assert(r.getDouble(3) == 0.7, s"top decile ${r.getDouble(3)}")
    assert(r.getLong(4) == 2, s"users to 80% ${r.getLong(4)}")
    assert(r.getDouble(5) == 0.45, s"gini ${r.getDouble(5)}")
  }

  test("readability: hand-counted words/sentences/vowel-group " +
    "syllables and the Flesch chain; sentence floor of 1 (T27)") {
    import spark.implicits._
    // "The cat sat. It ran!": 5 ws-words, 2 terminal runs, 5 vowel
    // groups → 206.835 − 1.015·2.5 − 84.6·1 = 119.6975 → 119.7
    val docs = Seq((0L, "The cat sat. It ran!", "en", "web", 20L),
      (1L, "zzz bcd", "xx", "web", 7L)) // no vowels, no terminals
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextStats.readability(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(2) == 5 && en.getLong(3) == 2 && en.getLong(4) == 5)
    assert(en.getDouble(5) == 119.7 && en.getString(6) == "very_easy")
    // the floors: zero terminals → 1 sentence; zero vowel groups → 1
    val xx = out("xx")
    assert(xx.getLong(3) == 1 && xx.getLong(4) == 1)
  }

  test("n-gram novelty: planted halves — a cur doc extending a ref doc " +
    "is novel only in its new window; an unseen doc is fully novel; " +
    "short docs yield no grams (T28)") {
    import spark.implicits._
    // split = (0+3+1) div 2 = 2 → docs 0,1 ref; 2,3 cur.
    // doc2 repeats doc0's 9 words + 'j': grams a..h, b..i (seen), c..j
    // (novel) → 1/3; doc3 is 11 fresh words → 4 grams, all novel
    val docs = Seq(
      (0L, "a b c d e f g h i", "en", "s1", 17L),
      (1L, "too short", "en", "s1", 9L),
      (2L, "a b c d e f g h i j", "en", "s1", 19L),
      (3L, "p q r s t u v w x y z", "en", "s2", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.ext.TextStats.ngramNovelty(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("s1", "s2"))
    assert(out("s1").getLong(1) == 3 && out("s1").getLong(2) == 1)
    assert(out("s1").getDouble(3) == 0.3333)
    assert(out("s2").getLong(1) == 4 && out("s2").getLong(2) == 4)
    assert(out("s2").getDouble(3) == 1.0)
  }

  test("LSH tuning curve: threshold (1/b)^(1/r), the S-curve at the " +
    "registered 8×4 operating point, monotone in J (D54)") {
    val rows = graft.ext.Dedup.lshTuningCurve(spark, bands = 8,
      rowsPerBand = 4).collect()
    assert(rows.length == 19)
    assert(rows.forall(_.getDouble(2) == 0.5946),
      "threshold (1/8)^(1/4) = 0.5946")
    val at = rows.map(r => math.round(r.getDouble(0) * 100).toInt ->
      r).toMap
    assert(at(50).getDouble(1) == 0.4033 && !at(50).getBoolean(3))
    assert(at(65).getDouble(1) == 0.7926 && at(65).getBoolean(3))
    val ps = rows.sortBy(_.getDouble(0)).map(_.getDouble(1))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
      "catch probability must be monotone in J")
  }

  test("a12 HLL error bound (r16 verdict ask #5): approx_count_distinct " +
    "lands within 3x the published rsd of the exact count at BOTH SFs " +
    "(HLL is deterministic on fixed data — this pins the sketch's " +
    "accuracy claim, not a flaky sample)") {
    // Spark's approx_count_distinct default rsd = 0.05: the estimate's
    // relative standard error. A 3-sigma band is far looser than the
    // observed error yet tight enough that a broken sketch register
    // (or an accidental rsd regression) fails loudly.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val r = graft.etl.Analyze.queries("a12_approx_distinct")(spark, dir)
        .head()
      val (approx, exact) = (r.getLong(0), r.getLong(1))
      assert(exact > 0, s"$dir: vacuous (no users)")
      val relErr = math.abs(approx - exact).toDouble / exact
      assert(relErr <= 3 * 0.05,
        s"$dir: approx $approx vs exact $exact — relative error " +
          f"$relErr%.4f exceeds 3x rsd bound 0.15")
    }
  }

  test("a44 approx-percentile RANK error (the GK contract): per group, " +
    "the reported quantile's rank interval intersects the target rank " +
    "within 1/accuracy — the sketch's accuracy claim, CHECKED against " +
    "the raw values at both SFs") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val card = graft.etl.Analyze.queries("a44_approx_percentiles")(
        spark, dir).collect()
        .map(r => r.getString(0) -> r).toMap
      val vals = graft.Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), col("l_quantity"))
        .collect().map(r => r.getString(0) -> r.getDouble(1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
      assert(card.keySet == vals.keySet && card.nonEmpty)
      // GK with accuracy 1000 ⇒ rank error ≤ n/1000; the value is a
      // CORPUS MEMBER, so with ties the check is on its rank interval
      for ((flag, sorted) <- vals; (q, col) <- Seq(0.5 -> 2, 0.99 -> 4)) {
        val x = card(flag).getDouble(col)
        val n = sorted.length
        val below = sorted.count(_ < x)   // lowest possible rank − 1
        val atMost = sorted.count(_ <= x) // highest possible rank
        val eps = n / 1000.0 + 1
        assert(below <= q * n + eps && atMost >= q * n - eps,
          s"$dir $flag q=$q: value $x has rank interval " +
            s"(${below + 1}, $atMost] vs target ${q * n} ± $eps")
      }
    }
  }
}
