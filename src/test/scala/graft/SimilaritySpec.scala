package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity

class SimilaritySpec extends AnyFunSuite {
  // Own store scratch: the sim27-30 pins below assume the PRE-commit
  // generation; a sim31 commit run earlier in this JVM (smoke/census/
  // plan suites execute every registered query) must not leak in.
  TestSpark.isolateStore("similarity")
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine column matches a hand-computed value") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].head()
    val exp = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0)) // dot=3+4+3=10
    assert(math.abs(got - exp) < 1e-12)
  }

  test("brute-force top-k ranks an identical vector first") {
    // Planted: vec 7 equals vec 0 → cosine 1.0 must rank first.
    val vecs = (0 until 20).map { i =>
      val v = if (i == 7) Array.fill(8)(0.5f)
      else Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f)
      (i.toLong, v)
    }
    val base = Array.fill(8)(0.5f)
    val df = (Seq((0L, base)) ++ vecs.drop(1)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("simtest").toString
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = Similarity.sim1CosineTopK(spark, dir).head()
    assert(top.getLong(0) == 7L)
    assert(top.getDouble(1) == 1.0)
  }

  test("knn join returns each query's true top-k with deterministic ties") {
    // Planted: vec 5 duplicates query 0 (cosine 1.0 ranks first); the
    // basis vectors e0/e1 are each other's orthogonals. k=2 over
    // queries {0, 3} (mod 3).
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // query (0 % 3 == 0)
      (3L, Array(0f, 1f, 0f, 0f)), // query
      (5L, Array(1f, 0f, 0f, 0f)), // dup of query 0
      (7L, Array(1f, 1f, 0f, 0f)), // cos .7071 to both queries
      (8L, Array(0f, 0f, 1f, 0f))  // orthogonal to both
    ).toDF("vec_id", "embedding")
    val rows = Similarity.knnJoinDf(vecs,
        vecs.filter(col("vec_id") % 3 === 0), k = 2)
      .as[(Long, Long, Double)].collect().toList
    assert(rows == List(
      (0L, 5L, 1.0), (0L, 7L, 0.7071),   // dup first, then the diagonal
      (3L, 7L, 0.7071), (3L, 0L, 0.0)))  // tie at 0.0 broken by vec_id
  }

  test("knn join never ranks a zero-norm vector; zero-norm query gets no rows") {
    // Both Spark AND DuckDB sort NaN above every number, so without the
    // kernel's isnan filter a zero vector would take a top-k slot of
    // EVERY query — and the oracle would agree, hiding the corruption.
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // query
      (1L, Array(0f, 0f, 0f, 0f)), // failed encode — must never rank
      (2L, Array(1f, 1f, 0f, 0f)),
      (6L, Array(0f, 0f, 0f, 0f))  // zero-norm QUERY (6 % 3 == 0)
    ).toDF("vec_id", "embedding")
    val rows = Similarity.knnJoinDf(vecs,
        vecs.filter(col("vec_id") % 3 === 0), k = 2)
      .as[(Long, Long, Double)].collect().toList
    assert(rows == List((0L, 2L, 0.7071))) // no NaN rows for either query
  }

  test("radius search returns exactly the neighbors at or above tau, NaN-safe") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // query
      (1L, Array(0f, 0f, 0f, 0f)), // zero-norm — must never appear
      (2L, Array(1f, 1f, 0f, 0f)), // cos .7071 → in at tau .5
      (4L, Array(1f, 4f, 0f, 0f)), // cos .2425 → out at tau .5
      (5L, Array(0f, 1f, 0f, 0f))  // cos 0 → out
    ).toDF("vec_id", "embedding")
    val rows = Similarity.radiusJoinDf(vecs,
        vecs.filter(col("vec_id") === 0), tau = 0.5)
      .as[(Long, Long, Double)].collect().toList
    assert(rows == List((0L, 2L, 0.7071)))
  }

  test("radius search at tau equals the knn join restricted to the threshold") {
    // same corpus and queries: radius(tau) must be knn(k=n) filtered to
    // cos >= tau — the two retrieval primitives may not drift apart
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 10 === 0)
    val radius = Similarity.radiusJoinDf(vecs, queries, tau = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val viaKnn = Similarity.knnJoinDf(vecs, queries, k = 30)
      .filter(col("cos_sim") >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(radius == viaKnn)
    assert(radius.nonEmpty)
  }

  test("knn join matches the single-query brute-force path per query") {
    val vecs = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    val toDouble = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    val knn = Similarity.knnJoinDf(vecs,
        vecs.filter(col("vec_id") % 10 === 0), k = 5)
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    for ((qId, got) <- knn) {
      // reference: score against the query vector directly, take 5
      val q = vecs.filter(col("vec_id") === qId)
        .select(toDouble.as("qemb"))
      val exp = vecs.filter(col("vec_id") =!= qId)
        .crossJoin(q)
        .select(col("vec_id"),
          round(graft.functions.VectorOps.vecCosine(
            toDouble, col("qemb")), 4)
            .as("c"))
        .orderBy(col("c").desc, col("vec_id"))
        .limit(5).as[(Long, Double)].collect().toList
      assert(got.map(t => (t._2, t._3)).toList == exp, s"query $qId diverged")
    }
  }

  test("LSH ANN results are a subset of true neighbors with exact cosines") {
    val ann = Similarity.sim2AnnLsh(spark, "/root/testdata/sf0.001")
      .as[(Long, Double)].collect().toMap
    val brute = Similarity.sim1CosineTopK(spark, "/root/testdata/sf0.001")
    // all-pairs truth for the same query vector
    val all = {
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val q = e.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
      e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), round(Similarity.cosine(col("emb"), col("qemb")), 4).as("c"))
        .as[(Long, Double)].collect().toMap
    }
    ann.foreach { case (id, c) => assert(math.abs(all(id) - c) < 1e-9) }
    assert(ann.nonEmpty)
    // brute top-1 is the global argmax
    val bruteTop = brute.head()
    assert(all.values.max == bruteTop.getDouble(1))
  }

  test("plane count scales with corpus size and clamps at both ends") {
    // Small corpora keep the floor; big ones grow log2(n/targetBucket).
    assert(Similarity.planesFor(500L, minPlanes = 8) == 8)
    assert(Similarity.planesFor(1000000L, minPlanes = 6) == 12)   // 2^12 buckets ≈ 244/bucket
    assert(Similarity.planesFor(100000000000L, minPlanes = 6) == 24) // hard cap
  }

  test("ANN recall holds at two plane counts; cosines always exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val truth = {
      val d = e.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val q = d.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
      d.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), round(Similarity.cosine(col("emb"), col("qemb")), 4).as("c"))
        .as[(Long, Double)].collect().toMap
    }
    for (nPlanes <- Seq(4, 8)) {
      val ann = Similarity.sim2AnnLshDf(e, nPlanes)
        .as[(Long, Double)].collect().toMap
      assert(ann.nonEmpty, s"empty ANN result at $nPlanes planes")
      ann.foreach { case (id, c) => assert(math.abs(truth(id) - c) < 1e-9) }
    }
  }

  test("IVF with all cells probed equals brute force; fewer probes stay exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Similarity.sim1CosineTopK(spark, "/root/testdata/sf0.001")
      .as[(Long, Double)].collect().toSeq
    // nProbe = k → every cell scanned → must reproduce brute force exactly
    val full = Similarity.ivfAnn(spark, e, k = 8, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    assert(full == brute)
    // amortized path: ONE index serves a second query at a lower probe
    // budget — partial probing returns a subset of true neighbors with
    // exact scores
    val index = Similarity.ivfIndex(e, k = 8)
    val q = index.assigned.filter(col("vec_id") === 0)
      .select(col("emb")).head().getSeq[Double](0).toArray
    val partial = Similarity.ivfQuery(spark, index, q, nProbe = 2,
      excludeVecId = Some(0L))
      .as[(Long, Double)].collect()
    assert(partial.nonEmpty)
    val bruteAll = {
      val d = e.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      val q = d.filter(col("vec_id") === 0).select(col("emb").as("qemb"))
      d.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id"), round(Similarity.cosine(col("emb"), col("qemb")), 4).as("c"))
        .as[(Long, Double)].collect().toMap
    }
    partial.foreach { case (id, c) => assert(math.abs(bruteAll(id) - c) < 1e-9) }
  }

  test("ivfQuery fails fast on a non-positive probe budget") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val index = Similarity.ivfIndex(e, k = 4)
    val q = Array.fill(64)(0.1)
    intercept[IllegalArgumentException] {
      Similarity.ivfQuery(spark, index, q, nProbe = 0)
    }
  }

  test("sim4 serves from a memoized index: a second invocation retrains nothing") {
    val dir = "/root/testdata/sf0.001"
    val first = Similarity.sim4IvfAnn(spark, dir)
      .as[(Long, Double)].collect().toSeq
    assert(first.nonEmpty)
    // Memoization contract: both invocations serve from the same cached
    // entry. The returned IvfIndex is a per-call wrapper (the cache
    // holds a temp-view name + centers so a DataFrame value can't pin
    // the weak session key), so the pin is on the cached centers ARRAY
    // identity — a rebuild would train fresh arrays — plus the
    // job-count bound below, which is what actually proves no retrain.
    assert(Similarity.ivfIndexFor(spark, dir, 16).centers eq
      Similarity.ivfIndexFor(spark, dir, 16).centers)
    // Job-count contract: serving = query-vector lookup + probe scan —
    // a couple of jobs, not the k-means training cascade (5 Lloyd
    // iterations alone exceed the bound). Job groups are thread-local,
    // so parallel suites can't pollute the count.
    val sc = spark.sparkContext
    sc.setJobGroup("sim4-serve", "second sim4 invocation")
    val second = try Similarity.sim4IvfAnn(spark, dir)
      .as[(Long, Double)].collect().toSeq
    finally sc.clearJobGroup()
    assert(second == first)
    def served = sc.statusTracker.getJobIdsForGroup("sim4-serve").length
    // statusTracker is fed asynchronously — poll until the count is stable
    var last = -1; var cur = served
    while (cur != last) { last = cur; Thread.sleep(200); cur = served }
    // Slack for take(1) partition escalation and broadcast-job
    // attribution; still far below the k-means training cascade (>10
    // jobs), which is what the bound exists to catch.
    assert(cur >= 1 && cur <= 6, s"expected 1-6 serving jobs, got $cur")
  }

  test("vector-mean aggregator: element-wise means, null skip, dim check") {
    val vmean = udaf(new graft.functions.VectorMean(3))
    val df = Seq(
      ("a", Seq(1.0, 2.0, 3.0)),
      ("a", Seq(3.0, 2.0, 1.0)),
      ("b", Seq(6.0, 0.0, 0.0))
    ).toDF("k", "v")
      .union(Seq(("b", null.asInstanceOf[Seq[Double]])).toDF("k", "v"))
    val got = df.groupBy($"k").agg(vmean($"v").as("m"))
      .as[(String, Seq[Double])].collect().toMap
    assert(got("a") == Seq(2.0, 2.0, 2.0))
    assert(got("b") == Seq(6.0, 0.0, 0.0)) // null row skipped, not zeroed
    // wrong-length vector fails fast instead of silently mis-summing
    val bad = Seq(("c", Seq(1.0, 2.0))).toDF("k", "v")
    intercept[org.apache.spark.SparkException] {
      bad.groupBy($"k").agg(vmean($"v")).collect()
    }
  }

  test("sim5 centroids run as partial aggregation (one d-dim buffer per group)") {
    val p = Similarity.sim5LabelCentroids(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate")) >= 2,
      s"centroid agg not partial:\n$p")
  }

  test("near-dup pairs at more planes are a subset of pairs at fewer planes") {
    // hyperplanes(n) shares its prefix with hyperplanes(m<n) (same seed,
    // plane-by-plane fill), so an 8-plane bucket refines a 6-plane bucket:
    // raising the plane count can only DROP candidate pairs, never invent.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(n: Int) = Similarity.sim3NearDupPairsDf(e, n)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p6 = pairs(6); val p8 = pairs(8)
    assert(p6.nonEmpty)
    assert(p8.subsetOf(p6))
  }

  test("PQ codes are m small ints; zero-norm vectors dropped at build") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    } :+ (99L, Array.fill(8)(0f))
    val idx = Similarity.pqIndex(vecs.toDF("vec_id", "embedding"), m = 4, k = 8)
    val codes = idx.codes.collect()
    assert(!codes.map(_.getLong(0)).contains(99L), "zero-norm must be dropped")
    assert(codes.length == 40)
    codes.foreach { r =>
      val c = r.getSeq[Int](1)
      assert(c.length == 4 && c.forall(x => x >= 0 && x < 8), r.toString)
    }
    assert(idx.codebooks.length == 4)
    assert(idx.codebooks.forall(b => b.length == 8 && b.forall(_.length == 2)))
  }

  test("PQ ADC retrieves the planted cluster, not the other two") {
    // three clusters around orthogonal directions; PQ must rank the
    // query's own cluster above both others
    val bases = Seq(
      Array(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 1f, 1f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val vecs = for (c <- 0 until 3; s <- 0 until 20) yield {
      val v = Array.tabulate(8)(d =>
        bases(c)(d) + ((s * 7 + d * 3 + c) % 5 - 2).toFloat / 50f)
      ((c * 20 + s).toLong, v)
    }
    val idx = Similarity.pqIndex(vecs.toDF("vec_id", "embedding"), m = 4, k = 8)
    val q = vecs.head._2.map(_.toDouble)
    val top = Similarity.pqQuery(idx, q, topK = 10,
      excludeVecId = Some(0L)).collect().map(_.getLong(0))
    assert(top.length == 10)
    assert(top.forall(_ < 20L), s"foreign cluster in ${top.mkString(",")}")
  }

  test("PQ retrieve-then-rerank recall@10 vs brute force on real embeddings") {
    // sf0.01: pool (80) genuinely smaller than the corpus (500), so
    // this exercises ADC as a filter rather than scanning everything
    val dir = "/root/testdata/sf0.01"
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val pq = Similarity.sim7PqAnn(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@10 $recall — PQ candidate pool collapsed")
  }

  test("PQ reranked scores are exact cosines for the ids it returns") {
    val dir = "/root/testdata/sf0.001"
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Similarity.sim7PqAnn(spark, dir).collect().foreach { r =>
      brute.get(r.getLong(0)).foreach(b =>
        assert(math.abs(b - r.getDouble(1)) < 1e-9, r.toString))
    }
  }

  test("PQ missing query id returns empty, wrong dim fails fast") {
    val dir = "/root/testdata/sf0.001"
    val idx = Similarity.pqIndexFor(spark, dir)
    assert(Similarity.pqServe(spark, dir, idx, queryVecId = -1L).count() == 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.pqQuery(idx, Array(1.0, 2.0), topK = 5)
    }
    assert(e.getMessage.contains("query dim"))
  }

  test("centroid separation: orthogonal label clusters score ~0, colliding ~1") {
    // labels 0/1 sit on orthogonal axes; label 2 collides with label 0
    val vecs = Seq(
      (0, Array(1f, 0f, 0f, 0f)), (0, Array(0.9f, 0.1f, 0f, 0f)),
      (1, Array(0f, 1f, 0f, 0f)), (1, Array(0f, 0.9f, 0.1f, 0f)),
      (2, Array(1f, 0f, 0f, 0f)), (2, Array(0.95f, 0.05f, 0f, 0f))
    ).toDF("label", "embedding")
    val sims = graft.ext.Similarity.centroidSeparationDf(vecs, dim = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(sims((0, 1)) < 0.2, s"orthogonal clusters not separated: $sims")
    assert(sims((0, 2)) > 0.98, s"colliding clusters not detected: $sims")
    assert(sims((1, 2)) < 0.2)
  }

  test("IVF recall curve: monotone in nProbe, exactly 1.0 at full probe") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.ivfRecallCurve(spark, dir, Seq(1, 2, 4, 16))
      .collect().map(r => r.getInt(0) -> r.getDouble(2))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 16))
    val recalls = rows.map(_._2)
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    // probe sets nest → candidates grow → hits can't shrink
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
      s"recall not monotone: ${recalls.toSeq}")
    // nProbe = k probes every cell = brute force = exact ground truth
    assert(recalls.last == 1.0)
  }

  test("norm QC: planted norms, zero-norm and small-norm counted, nulls skipped") {
    val vecs = Seq(
      (0, Array(3f, 4f)),        // norm 5
      (0, Array(0f, 0f)),        // zero norm → n_zero AND n_small
      (0, Array(0.1f, 0.2f)),    // norm .2236 → n_small
      (1, Array(1f, 0f)),        // norm 1
      (1, null.asInstanceOf[Array[Float]]) // skipped entirely
    ).toDF("label", "embedding")
    val got = Similarity.normQcDf(vecs)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got(0) == ((3L, 1.7412, 0.0, 5.0, 1L, 2L)))
    assert(got(1) == ((1L, 1.0, 1.0, 1.0, 0L, 0L)))
  }

  /** Three tight planted clusters around orthogonal axes, query nearest
    * cluster A: plain top-k drowns in cluster A; MMR must spread. */
  private def mmrCorpus = {
    def jitter(base: Array[Float], eps: Float) =
      base.zipWithIndex.map { case (v, i) => v + eps * (1 + i % 3) / 100f }
    val a = Array(1f, 0f, 0f, 0f); val b = Array(0f, 1f, 0f, 0f)
    val c = Array(0f, 0f, 1f, 0f)
    val q = Array(0.9f, 0.3f, 0.3f, 0f) // closest to A, sees B and C too
    (Seq((0L, q)) ++
      (1 to 5).map(i => (10L + i, jitter(a, i.toFloat))) ++
      (1 to 5).map(i => (20L + i, jitter(b, i.toFloat))) ++
      (1 to 5).map(i => (30L + i, jitter(c, i.toFloat))))
      .toDF("vec_id", "embedding")
  }

  test("MMR spreads picks across planted clusters where plain top-k stays in one (SIM14)") {
    val out = Similarity.mmrTopK(spark, mmrCorpus, 0L, pool = 15, k = 3,
      lambda = 0.5)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.length == 3)
    val clusters = out.map(_._2 / 10).toSet
    assert(clusters == Set(1L, 2L, 3L),
      s"MMR picked $out — expected one per cluster")
    // first pick is pure relevance: the best A-cluster member
    assert(out.head._2 / 10 == 1L)
  }

  test("MMR with lambda=1 degenerates to plain relevance top-k (SIM14)") {
    val out = Similarity.mmrTopK(spark, mmrCorpus, 0L, pool = 15, k = 5,
      lambda = 1.0)
      .collect().map(_.getLong(1)).toSeq
    val plain = Similarity.mmrTopK(spark, mmrCorpus, 0L, pool = 15, k = 15,
      lambda = 1.0)
      .collect().sortBy(_.getInt(0)).map(_.getLong(1)).take(5).toSeq
    assert(out == plain)
    // all five from cluster A — the behavior MMR exists to fix
    assert(out.forall(_ / 10 == 1L))
  }

  test("binary ANN: full pool degenerates to brute-force exact top-k (SIM15)") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (((i * 31 + d * 17) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    // pool large enough to admit every candidate → rerank sees all →
    // result must equal the exact brute-force ranking
    val full = Similarity.binaryAnn(vecs, 0L, topK = 10, pool = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("s15").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute)
  }

  test("int8 ANN: full pool degenerates to brute-force exact top-k (SIM21)") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(d =>
        (((i * 31 + d * 17) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    val full = Similarity.int8Ann(vecs, 0L, topK = 10, pool = 40)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("s21").toString
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute)
  }

  test("int8 ANN separates same-orthant vectors sign bits cannot (SIM21)") {
    // the true cluster (ids 1-5) shares q's DIRECTION; the distractors
    // (ids 10-30) share only its SIGN PATTERN (0.8/-0.6 swapped to
    // 0.6/-0.8 → cosine 0.96, Hamming distance 0): sim15's signatures
    // see all of them as identical to q, but the 255-level codes must
    // pool exactly the cluster even at the tightest pool
    val base = Array.tabulate(64)(d => if (d % 2 == 0) 0.8f else -0.6f)
    def jig(eps: Float) = base.zipWithIndex.map { case (v, i) =>
      v + (if (v > 0) eps else -eps) * ((i % 3) + 1) / 10f }
    val swapped = Array.tabulate(64)(d => if (d % 2 == 0) 0.6f else -0.8f)
    val vecs = (Seq((0L, base)) ++
      (1 to 5).map(i => (i.toLong, jig(i / 50f))) ++
      (10 to 30).map(i => (i.toLong,
        swapped.map(v => v * (1 + (i % 4) / 10f))))).toDF("vec_id", "embedding")
    val got = Similarity.int8Ann(vecs, 0L, topK = 5, pool = 1)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L),
      s"int8 candidates missed the query's direction cluster: $got")
  }

  test("binary ANN finds planted orthant clusters with exact served scores (SIM15)") {
    // query's cluster lives in one sign orthant; distractors flipped
    val base = Array.tabulate(64)(d => if (d % 2 == 0) 0.8f else -0.6f)
    def jig(eps: Float) = base.zipWithIndex.map { case (v, i) =>
      v + (if (v > 0) eps else -eps) * ((i % 3) + 1) / 10f } // signs preserved
    val anti = base.map(-_)
    val vecs = (Seq((0L, base)) ++
      (1 to 5).map(i => (i.toLong, jig(i / 10f))) ++
      (10 to 30).map(i => (i.toLong,
        anti.map(v => v * (1 + (i % 4) / 10f))))).toDF("vec_id", "embedding")
    val got = Similarity.binaryAnn(vecs, 0L, topK = 5, pool = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L),
      s"binary candidates missed the query's orthant: $got")
  }

  test("MMR selection is deterministic under repartition/reorder (SIM14)") {
    val a = Similarity.mmrTopK(spark, mmrCorpus, 0L).collect().map(_.toSeq).toSeq
    val b = Similarity.mmrTopK(spark,
      mmrCorpus.orderBy($"vec_id".desc).repartition(5), 0L)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  // ---- SIM16 IVF-PQ (composed index) ----

  test("IVFPQ index shape: every row carries a valid cell and m in-range codes") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    } :+ (99L, Array.fill(8)(0f))
    val idx = Similarity.ivfPqIndex(vecs.toDF("vec_id", "embedding"),
      kCoarse = 4, m = 4, k = 8)
    val rows = idx.codes.collect()
    assert(!rows.map(_.getLong(0)).contains(99L), "zero-norm must be dropped")
    assert(rows.length == 60)
    rows.foreach { r =>
      assert(r.getInt(1) >= 0 && r.getInt(1) < 4, r.toString)
      val c = r.getSeq[Int](2)
      assert(c.length == 4 && c.forall(x => x >= 0 && x < 8), r.toString)
    }
    assert(idx.centers.length == 4 && idx.centers.forall(_.length == 8))
    assert(idx.codebooks.length == 4 &&
      idx.codebooks.forall(b => b.length == 8 && b.forall(_.length == 2)))
  }

  test("IVFPQ ADC retrieves the planted cluster through its probed cell") {
    // three orthogonal clusters; with kCoarse=3 the coarse quantizer
    // separates them, so probing ONE cell must stay inside the query's
    // cluster — the two-level pruning working as designed
    val bases = Seq(
      Array(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 1f, 1f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 1f, 1f))
    val vecs = for (c <- 0 until 3; s <- 0 until 20) yield {
      val v = Array.tabulate(8)(d =>
        bases(c)(d) + ((s * 7 + d * 3 + c) % 5 - 2).toFloat / 50f)
      ((c * 20 + s).toLong, v)
    }
    val idx = Similarity.ivfPqIndex(vecs.toDF("vec_id", "embedding"),
      kCoarse = 3, m = 4, k = 8)
    val q = vecs.head._2.map(_.toDouble)
    val top = Similarity.ivfPqQuery(idx, q, nProbe = 1, topK = 10,
      excludeVecId = Some(0L)).collect().map(_.getLong(0))
    assert(top.length == 10)
    assert(top.forall(_ < 20L), s"foreign cluster in ${top.mkString(",")}")
  }

  test("IVFPQ retrieve-then-rerank recall@10 vs brute force on real embeddings") {
    val dir = "/root/testdata/sf0.01"
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val got = Similarity.sim16IvfPqAnn(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@10 $recall — IVFPQ pool collapsed")
  }

  test("IVFPQ reranked scores are exact cosines for the ids it returns") {
    val dir = "/root/testdata/sf0.001"
    val brute = Similarity.sim1CosineTopK(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Similarity.sim16IvfPqAnn(spark, dir).collect().foreach { r =>
      brute.get(r.getLong(0)).foreach(b =>
        assert(math.abs(b - r.getDouble(1)) < 1e-9, r.toString))
    }
  }

  test("IVFPQ candidates only ever come from the probed cells") {
    val dir = "/root/testdata/sf0.001"
    val idx = Similarity.ivfPqIndexFor(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0L).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val qn = { val n = math.sqrt(q.map(x => x * x).sum); q.map(_ / n) }
    val probed = idx.centers.zipWithIndex.map { case (c, i) =>
      (i, c.zip(qn).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy(_._2).take(2).map(_._1).toSet
    val cand = Similarity.ivfPqQuery(idx, q, nProbe = 2, topK = 50)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val cells = idx.codes.filter($"vec_id".isin(cand.toSeq.map(Long.box): _*))
      .select($"cell").collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf(probed), s"cells $cells outside probes $probed")
  }

  test("IVFPQ recall curve: probe axis lifts routing recall, pool axis " +
    "lifts truncation recall, full grid corner approaches exact (SIM17)") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.sim17IvfPqRecall(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
    assert(rows.map(_._1).toSeq ==
      Seq((1, 8), (1, 32), (2, 8), (2, 32), (6, 8), (6, 32), (16, 8), (16, 32)))
    rows.foreach { case (_, (n, avg, mn)) =>
      assert(n > 0 && avg >= 0.0 && avg <= 1.0 && mn >= 0.0 && mn <= avg)
    }
    val g = rows.toMap
    // routing is the ceiling below the default: 6 probes must clearly
    // beat 1 at either pool (the registered sim16 operating point)
    assert(g((6, 8))._2 > g((1, 8))._2, s"probe axis flat: ${rows.mkString(", ")}")
    // pool axis: at FULL probe every true neighbor's cell is scanned,
    // so any missing recall is pool truncation — the 4x pool must
    // recover it (this is the r10 0.65→0.60 dip, attributed)
    assert(g((16, 32))._2 >= g((16, 8))._2,
      s"pool axis flat at full probe: ${rows.mkString(", ")}")
    // the full-grid corner: all cells probed + un-truncated rerank pool
    // must essentially reproduce brute force
    assert(g((16, 32))._2 >= 0.9,
      s"full-probe/full-pool recall below 0.9: ${rows.mkString(", ")}")
  }

  test("filtered ANN: the predicate excludes a closer cross-label vector (SIM18)") {
    // the overall-nearest neighbor carries the WRONG label and must not
    // appear; the best same-label vector (less aligned) wins instead —
    // exactly the case where post-filtering a small ANN pool starves
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 1),    // query, label 1
      (1L, Array(0.99f, 0.1f, 0f, 0f), 2), // closest overall — filtered out
      (2L, Array(0.7f, 0.7f, 0f, 0f), 1),  // best label-1 match
      (3L, Array(0f, 1f, 0f, 0f), 1),
      (4L, Array(-1f, 0f, 0f, 0f), 2)
    )
    val df = rows.toDF("vec_id", "embedding", "label")
    df.createOrReplaceTempView("sim18_planted")
    // route through the registered shape by pointing Tables at a temp
    // frame is not possible — call the same dataflow inline instead
    val e = df
    val q = e.filter($"vec_id" === 0)
      .select($"embedding".as("qemb"), $"label".as("qlabel"))
    import org.apache.spark.sql.functions.{broadcast => bc}
    val out = e.filter($"vec_id" =!= 0)
      .crossJoin(bc(q))
      .filter($"label" === $"qlabel")
      .select($"vec_id",
        round(graft.functions.VectorOps.vecCosine(
          expr("transform(embedding, x -> cast(x as double))"),
          expr("transform(qemb, x -> cast(x as double))")), 4).as("cos_sim"))
      .orderBy($"cos_sim".desc, $"vec_id")
      .collect().map(_.getLong(0))
    assert(out.head == 2L, s"got ${out.mkString(",")}")
    assert(!out.contains(1L) && !out.contains(4L))
  }

  test("ANN scorecard: brute anchors at 1.0, every method bounded, ranking well-formed (SIM20)") {
    val out = Similarity.sim20AnnScorecard(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.size == 7) // brute, lsh, ivf, binary, ivfpq, int8,
                          // matryoshka
    assert(out("brute") == ((10L, 10L, 1.0)), "ground truth must self-score 1.0")
    out.foreach { case (m, (k, hit, rec)) =>
      assert(k <= 10L && hit <= k, s"$m overflows k")
      assert(rec >= 0.0 && rec <= 1.0, s"$m recall $rec out of range")
      assert(math.abs(rec - hit / 10.0) < 1e-9, s"$m recall inconsistent")
    }
  }

  test("ANN scorecard: every SERVING row clears 0.6 recall@10 at sf0.1 (SIM20)") {
    // The serving-grade bar on near-random embeddings (LSH's and PQ's
    // worst case — real clustered corpora only do better). This is the
    // pin that caught r11's sim2 radius-1 operating point serving 0.2
    // and sim16's pool-8 point serving 0.5; the registered points are
    // radius-3 multi-probe (0.8 measured) and pool-32 rerank (0.8).
    val out = Similarity.sim20AnnScorecard(spark, "/root/testdata/sf0.1")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    out.foreach { case (m, rec) =>
      assert(rec >= 0.6, s"$m serves $rec recall@10 at sf0.1 — below serving grade")
    }
  }

  test("Matryoshka ANN: overfetch ≥ corpus degenerates to brute force; " +
    "a scaled copy is exact at both stages; a prefix-blind neighbor is " +
    "honestly missed at small C and found at large C; a zero prefix " +
    "cannot outrank numbers (SIM26)") {
    import spark.implicits._
    // full-corpus overfetch ⇒ identical to sim1 row for row
    val brute = Similarity.sim1CosineTopK(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val degen = Similarity.matryoshkaTopK(
      graft.Tables.embeddings(spark, "/root/testdata/sf0.001"),
      overfetch = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(degen == brute, "C ≥ corpus must reproduce brute force")
    // planted geometry (64-dim): query has energy in dim 1 (prefix)
    // and dim 17 (beyond the d0=16 prefix)
    def v(pairs: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f)
      pairs.foreach { case (i, x) => a(i - 1) = x }
      a
    }
    val emb = Seq(
      0L -> v(1 -> 1f, 17 -> 1f),          // query
      1L -> v(1 -> 2f, 17 -> 2f),          // scaled copy: cos 1.0 twice
      2L -> v(17 -> 1f),                   // ZERO prefix: NaN coarse
      3L -> v(1 -> 1f, 2 -> 1f),           // filler, prefix cos .7071
      4L -> v(1 -> 1f, 2 -> 0.2f),         // filler, prefix cos .9806
      5L -> v(1 -> 0.3f, 2 -> 0.3f, 17 -> 2f) // best FULL cos after the
                                           // copy, weak prefix (.7071)
    ).toDF("vec_id", "embedding")
    // the scaled copy is rank 1 with BOTH scores exactly 1.0, at any C
    val tight = Similarity.matryoshkaTopK(emb, overfetch = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(tight.head == ((1L, 1.0, 1.0)), s"got ${tight.toSeq}")
    // at C = 2 the candidates are {copy, vec4} — vec5 (the best
    // full-dim neighbor after the copy) is MISSED: the approximation's
    // honest failure mode, and vec2's NaN prefix never ranks at all
    assert(!tight.map(_._1).contains(5L),
      "small C must miss the prefix-blind neighbor BY DESIGN")
    assert(!tight.map(_._1).contains(2L),
      "a zero prefix must drop, not outrank numbers")
    // at C = corpus the same neighbor is found and outranks the fillers
    val wide = Similarity.matryoshkaTopK(emb,
      overfetch = Int.MaxValue, k = 3)
      .collect().map(r => r.getLong(0))
    assert(wide.take(2).toSeq == Seq(1L, 5L), s"got ${wide.toSeq}")
  }

  test("hybrid RRF: both-leg docs outrank single-leg, missing legs are NULL ranks (SIM22)") {
    // lex pool: doc1 (spark x3) rank 1, doc2 (vector) rank 2, doc3 has
    // no query term -> lex-absent. dense pool vs query [1,0,0,0]:
    // doc2 [1,.2,0,0] rank 1, doc3 [.5,.5,0,0] rank 2, doc1 [0,1,0,0]
    // rank 3 (cos 0 stays in the pool -- only NaN drops). RRF:
    //   doc2 = 1/62 + 1/61  (both legs, neither rank 1st overall)
    //   doc1 = 1/61 + 1/63
    //   doc3 = 0    + 1/62  (lex leg missing contributes exactly 0)
    // doc2 must WIN despite topping neither leg -- rank fusion's point.
    val docs = Seq(
      (1L, "spark spark spark text"), (2L, "vector stuff here"),
      (3L, "plain words only")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(1f, 0.2f, 0f, 0f)), (3L, Array(0.5f, 0.5f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.hybridRrf(docs, emb, queryVecId = 0L)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getInt(2)),
        r.getDouble(5))).toSeq
    def rrf(ranks: Seq[Int]) = BigDecimal(ranks.map(r => 1.0 / (60 + r)).sum)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(
      (2L, Some(2), Some(1), rrf(Seq(2, 1))),
      (1L, Some(1), Some(3), rrf(Seq(1, 3))),
      (3L, None, Some(2), rrf(Seq(2)))), out.mkString(", "))
  }

  test("IVFPQ missing query id returns empty, wrong dim fails fast") {
    val dir = "/root/testdata/sf0.001"
    val idx = Similarity.ivfPqIndexFor(spark, dir)
    assert(Similarity.ivfPqServe(spark, dir, idx, queryVecId = -1L).count() == 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqQuery(idx, Array(1.0, 2.0), nProbe = 1)
    }
    assert(e.getMessage.contains("query dim"))
  }

  test("sim27 kNN graph on hand cells: a planted cluster's members " +
    "neighbor each other in cosine order, cross-cell edges never form, " +
    "a single-member cell is an honest isolate, zero-norm rows drop") {
    // cell 0: a tight 3-cluster + one farther member; cell 1: two
    // vectors; cell 2: a lone vector (isolate); cell 0 also carries a
    // zero vector whose cosines are NaN
    val assigned = Seq(
      (0L, Seq(1.0, 0.0, 0.0), 0),
      (1L, Seq(0.9962, 0.0872, 0.0), 0),  // 5° off 0: cos(0,1)=0.9962
      (2L, Seq(0.9848, 0.1736, 0.0), 0),  // 10° off 0: cos(0,2)=0.9848;
                                          // 5° off 1: cos(1,2)=0.9962 too
      (3L, Seq(0.0, 0.0, 1.0), 0),        // orthogonal to the cluster
      (4L, Seq(0.0, 1.0, 0.0), 1),
      (5L, Seq(0.1736, 0.9848, 0.0), 1),  // cos(4,5)=0.9848
      (6L, Seq(1.0, 0.0, 0.0), 2),        // same direction as 0, OTHER cell
      (7L, Seq(0.0, 0.0, 0.0), 0)         // zero norm: NaN everywhere
    ).toDF("vec_id", "emb", "cell")
    val edges = Similarity.knnGraph(assigned, kNeighbors = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // 0's neighbors in rounded-cosine order with id tie-breaks; 1's
    // two neighbors TIE at rounded 0.9962 → lower id (0) ranks first
    assert(edges((0L, 1)) == (1L, 0.9962) && edges((0L, 2)) == (2L, 0.9848))
    assert(edges((1L, 1)) == (0L, 0.9962) && edges((1L, 2)) == (2L, 0.9962))
    assert(edges((4L, 1)) == (5L, 0.9848))
    // 6 duplicates 0's direction but sits in another cell: no edge in
    // either direction touches it (the priced cross-cell loss), and as
    // a single-member cell it is an isolate
    assert(!edges.values.exists(_._1 == 6L) &&
      !edges.keys.exists(_._1 == 6L), "cross-cell edge formed")
    // the zero vector neither emits nor receives edges (NaN guard)
    assert(!edges.values.exists(_._1 == 7L) &&
      !edges.keys.exists(_._1 == 7L), "zero-norm row survived the NaN guard")
    // 3 still gets its 2 in-cell neighbors (low cosine is not exclusion)
    assert(edges.contains((3L, 1)) && edges.contains((3L, 2)))
  }

  test("sim27 registered at sf0.01: slice × corpus brute equivalence — " +
    "every slice source's edge list equals an independently-computed " +
    "within-cell brute-force top-k (same rounding, same tie rule)") {
    val dir = "/root/testdata/sf0.01"
    val k = Similarity.cellsFor(Similarity.corpusSize(spark, dir))
    val base = Similarity.ivfIndexFor(spark, dir, k)
    val rows = base.assigned.select("vec_id", "emb", "cell")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Double](1).toArray, r.getInt(2)))
    val byCell = rows.groupBy(_._3)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val slice = rows.filter(_._1 % 97 == 0)
    assert(slice.nonEmpty, "empty slice — vacuous")
    val truth = slice.flatMap { case (id, v, c) =>
      byCell(c).filter(_._1 != id)
        .map { case (nid, nv, _) => (nid,
          BigDecimal(cos(v, nv)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .filterNot(_._2.isNaN)
        .sortBy { case (nid, c4) => (-c4, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, c4), i) => (id, i + 1) -> (nid, c4) }
    }.toMap
    val got = Similarity.queries("sim27_knn_graph")(spark, dir)
      .filter(col("src_id") % 97 === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty && got == truth,
      s"graph slice ${got.size} edges != brute truth ${truth.size}")
  }

  test("sim28 cell-occupancy PSI on hand generations: identical " +
    "generations read EXACTLY 0.0; a fully-shifted one reads far past " +
    "the 0.2 retrain rung with the right smoothed terms") {
    val gen = Seq(0, 0, 1, 2).toDF("cell")
    val same = Similarity.cellOccupancyPsi(gen, gen, k = 4).head()
    assert(same.getLong(0) == 4L && same.getLong(1) == 4L &&
      same.getLong(2) == 4L)
    assert(same.getDouble(3) == 0.0,
      s"identical generations read psi ${same.getDouble(3)} != 0.0")
    assert(!same.getBoolean(6))
    // ref: 10 members all in cell 0; cur: 10 all in cell 1 (k=4).
    // Smoothing: p0=10.5/12, q0=0.5/12 → term0=(q0−p0)·ln(q0/p0)
    // = (−5/6)·ln(1/21) = 2.537102 (round 6); cell 1 mirrors it;
    // cells 2/3 read p=q → 0. psi = round(2·2.537102, 4) = 5.0742.
    val ref = Seq.fill(10)(0).toDF("cell")
    val cur = Seq.fill(10)(1).toDF("cell")
    val shifted = Similarity.cellOccupancyPsi(ref, cur, k = 4).head()
    assert(shifted.getDouble(3) == 5.0742,
      s"shifted psi ${shifted.getDouble(3)} != 5.0742")
    assert(shifted.getBoolean(6), "shifted generation not flagged major")
    // equal |term| on cells 0 and 1 → the tie rule names the LOWEST
    assert(shifted.getInt(4) == 0 &&
      shifted.getDouble(5) == 2.537102)
    // a cell EMPTY on both sides contributes exactly 0, not ln(0)
    val ref2 = Seq(0, 1).toDF("cell")
    val cur2 = Seq(0, 3).toDF("cell")
    val sparse = Similarity.cellOccupancyPsi(ref2, cur2, k = 4).head()
    assert(!sparse.getDouble(3).isNaN && !sparse.getDouble(3).isInfinite)
  }

  test("sim28 registered at sf0.01: one-row card over the published " +
    "cells; the near-random corpus halves read stable (psi < 0.2)") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.queries("sim28_cell_drift")(spark, dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    val k = Similarity.cellsFor(Similarity.corpusSize(spark, dir))
    assert(r.getLong(2) == k.toLong, s"domain ${r.getLong(2)} != $k cells")
    // the two id halves of one uniform corpus are the same
    // distribution — the card must NOT cry wolf on stable data
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) < 0.2 &&
      !r.getBoolean(6), s"stable corpus read psi ${r.getDouble(3)}")
    assert(r.getLong(0) + r.getLong(1) ==
      Similarity.corpusSize(spark, dir))
  }

  test("sim29 cartography on hand cells: an identical cluster reads " +
    "dense_swamp at cos 1.0, a singleton and a NaN-only cell read " +
    "sparse_frontier isolates, a moderate pair reads mid") {
    val assigned = Seq(
      (0, 1L, Seq(1.0, 0.0)),   // cell 0: three identical vectors —
      (0, 2L, Seq(2.0, 0.0)),   //   pairwise cosine exactly 1.0
      (0, 3L, Seq(0.5, 0.0)),
      (1, 10L, Seq(0.0, 1.0)),  // cell 1: singleton → isolate
      (2, 20L, Seq(1.0, 0.0)),  // cell 2: cosine exactly 0.6
      (2, 21L, Seq(0.6, 0.8)),
      (3, 30L, Seq(0.0, 0.0)),  // cell 3: zero-norm — NaN pairs drop,
      (3, 31L, Seq(1.0, 0.0))   //   so BOTH members are isolates
    ).toDF("cell", "vec_id", "emb")
    val card = Similarity.knnCartography(assigned,
      Similarity.knnGraph(assigned, kNeighbors = 5))
      .collect().map(r => r.getInt(0) -> r).toMap
    def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      Option(r.get(i)).map(_.asInstanceOf[Double])
    assert(card(0).getLong(1) == 3L && d(card(0), 2) == Some(1.0) &&
      d(card(0), 3) == Some(1.0) && d(card(0), 4) == Some(0.0) &&
      card(0).getString(5) == "dense_swamp")
    assert(card(1).getLong(1) == 1L && d(card(1), 2).isEmpty &&
      d(card(1), 4) == Some(1.0) &&
      card(1).getString(5) == "sparse_frontier")
    assert(card(2).getLong(1) == 2L && d(card(2), 2) == Some(0.6) &&
      d(card(2), 3) == Some(0.6) && card(2).getString(5) == "mid")
    assert(card(3).getLong(1) == 2L && d(card(3), 2).isEmpty &&
      d(card(3), 4) == Some(1.0) &&
      card(3).getString(5) == "sparse_frontier",
      s"NaN-only cell misread: ${card(3)}")
  }

  test("sim29 region precedence (advisor r17): a CONTESTED cell — " +
    "isolates dominate but the few scoring members average past the " +
    "dedup τ — reads sparse_frontier, as the docstring promises") {
    // cell 0: vectors 1 and 2 are an identical pair (cosine 1.0 ≥ τ);
    // vectors 3/4/5 are zero-norm (NaN edges drop → isolates).
    // isolate_share = 3/5 ≥ 0.5 AND mean_knn_cos = 1.0 ≥ τ — the
    // contested case where the old branch order read dense_swamp.
    val assigned = Seq(
      (0, 1L, Seq(1.0, 0.0)), (0, 2L, Seq(2.0, 0.0)),
      (0, 3L, Seq(0.0, 0.0)), (0, 4L, Seq(0.0, 0.0)),
      (0, 5L, Seq(0.0, 0.0))
    ).toDF("cell", "vec_id", "emb")
    val card = Similarity.knnCartography(assigned,
      Similarity.knnGraph(assigned, kNeighbors = 5)).collect()
    assert(card.length == 1)
    val r = card.head
    assert(r.getDouble(4) == 0.6 && r.getDouble(2) == 1.0,
      s"planted contested cell mis-shaped: $r")
    assert(r.getString(5) == "sparse_frontier",
      s"isolate-dominant cell must read sparse_frontier even at " +
        s"mean ≥ τ: $r")
  }

  test("sim30 mse_old = 0 guard (advisor r17): a PERFECTLY-quantized " +
    "generation (every vector on a centroid) reads gain exactly 0.0 " +
    "and stays quiet — never NaN, which Spark orders above the rung") {
    // every current vector IS one of the old centroids → mse_old = 0
    val cur = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.0, 1.0))
    ).toDF("vec_id", "emb")
    val newIdx = Similarity.ivfIndex(
      cur.select(col("vec_id"), col("emb").as("embedding")), 2)
    val r = Similarity.retrainWhatif(cur,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      newIdx.centers,
      newIdx.assigned.select(col("vec_id"), col("cell"))).head()
    assert(r.getDouble(1) == 0.0, s"mse_old must be exactly 0: $r")
    assert(r.getDouble(3) == 0.0 && !r.getDouble(3).isNaN,
      s"zero-error generation must read gain 0.0, got ${r.getDouble(3)}")
    assert(!r.getBoolean(8),
      s"a perfectly-quantized corpus fired a spurious retrain: $r")
  }

  test("sim30 retrain what-if on hand generations: a generation the " +
    "old centroids never saw reads a large MSE gain and fires the " +
    "flag; a generation the old centroids fit perfectly reads ~zero " +
    "gain and stays quiet") {
    // current generation: two tight clusters around (1,0) and (0,1)
    val cur = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)),
      (3L, Seq(1.1, -0.1)), (4L, Seq(1.0, 0.05)),
      (5L, Seq(0.0, 1.0)), (6L, Seq(0.1, 0.9)),
      (7L, Seq(-0.1, 1.1)), (8L, Seq(0.05, 1.0))
    ).toDF("vec_id", "emb")
    val newIdx = Similarity.ivfIndex(
      cur.select(col("vec_id"), col("emb").as("embedding")), 2)
    val newAssigned = newIdx.assigned.select(col("vec_id"), col("cell"))
    // drifted: BOTH old centroids sit on cluster A — cluster B (half
    // the generation) pays ~2.0 squared error per row under them
    val drifted = Similarity.retrainWhatif(cur,
      Array(Array(1.0, 0.0), Array(0.95, 0.05)),
      newIdx.centers, newAssigned).head()
    assert(drifted.getLong(0) == 8L)
    assert(drifted.getDouble(1) > drifted.getDouble(2),
      s"retraining must cut MSE on a drifted generation: $drifted")
    assert(drifted.getDouble(3) >= 0.05 && drifted.getBoolean(8),
      s"the what-if must recommend retraining: $drifted")
    // stable: the old centroids ARE the generation's true centers —
    // the freshly-trained quantizer cannot beat them by the rung
    val stable = Similarity.retrainWhatif(cur,
      Array(Array(1.0, 0.0125), Array(0.0125, 1.0)),
      newIdx.centers, newAssigned).head()
    assert(stable.getDouble(3) < 0.05 && !stable.getBoolean(8),
      s"a well-fit generation must not trigger a retrain: $stable")
  }

  test("sim30 registered at sf0.01: one-row card over the newer id " +
    "half; the stable synthetic corpus stays under the retrain rung") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.queries("sim30_retrain_whatif")(spark, dir)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) > 0 && r.getDouble(1) > 0 && r.getDouble(2) > 0)
    // same-distribution halves: retraining on the newer half cannot
    // buy the 5% MSE rung on a uniform corpus — the card must not
    // recommend invalidating every frozen-cell artifact for noise
    assert(!r.getBoolean(8),
      s"stable corpus recommended a retrain: $r")
    assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1.0 &&
      r.getDouble(7) > 0 && r.getDouble(7) <= 1.0)
  }

  test("sim29 registered at sf0.01: every published cell reports, " +
    "members sum to the corpus, and each mean rides inside its own " +
    "[min, 1] bracket") {
    val dir = "/root/testdata/sf0.01"
    val rows = Similarity.queries("sim29_knn_cartography")(spark, dir)
      .collect()
    val k = Similarity.cellsFor(Similarity.corpusSize(spark, dir))
    assert(rows.length == k, s"${rows.length} cells != $k")
    assert(rows.map(_.getLong(1)).sum ==
      Similarity.corpusSize(spark, dir))
    rows.foreach { r =>
      assert(Set("dense_swamp", "sparse_frontier", "mid")(r.getString(5)))
      if (!r.isNullAt(2)) {
        assert(r.getDouble(2) >= r.getDouble(3) && r.getDouble(2) <= 1.0)
        assert(r.getDouble(4) < 1.0)
      } else assert(r.getDouble(4) == 1.0,
        s"cell ${r.getInt(0)}: null mean without full isolation")
    }
  }
  // ---- sim32 embedding spectrum (r18 beyond-ask) ----------------------

  private def spectrumOf(vecs: Seq[Option[Seq[Double]]], dim: Int) = {
    val df = vecs.toDF("embedding")
    Similarity.embeddingSpectrum(df, dim).collect()
  }

  test("sim32 spectrum: axis-aligned corpus reads its EXACT hand " +
    "eigenvalues - diagonal covariance never enters a Jacobi rotation") {
    // four vectors in dims 0/1 only: var0 = 4, var1 = 1, cross = 0
    val vecs = Seq(
      Seq(2.0, 1.0, 0.0, 0.0), Seq(-2.0, -1.0, 0.0, 0.0),
      Seq(2.0, -1.0, 0.0, 0.0), Seq(-2.0, 1.0, 0.0, 0.0)).map(Option(_))
    val r = spectrumOf(vecs, 4).head
    assert(r.getLong(0) == 4 && r.getInt(1) == 4)
    assert(r.getDouble(2) == 5.0, s"trace ${r.getDouble(2)}")
    assert(r.getDouble(3) == 4.0 && r.getDouble(4) == 1.0 &&
      r.getDouble(5) == 0.0, s"eigs ${r.toSeq}")
    assert(r.getDouble(6) == 0.8, s"top1_share ${r.getDouble(6)}")
    // PR = (4+1)^2 / (16+1) = 25/17 = 1.470588... -> 1.4706
    assert(r.getDouble(7) == 1.4706, s"pr ${r.getDouble(7)}")
    assert(r.getBoolean(8), "share 0.8 must fire collapse_major")
  }

  test("sim32 spectrum is rotation-invariant: the same corpus rotated " +
    "45 degrees in the (0,1) plane reads the identical card") {
    val s = 1.0 / math.sqrt(2.0)
    def rot(v: Seq[Double]) =
      Seq(s * (v(0) - v(1)), s * (v(0) + v(1)), v(2), v(3))
    val base = Seq(
      Seq(2.0, 1.0, 0.0, 0.0), Seq(-2.0, -1.0, 0.0, 0.0),
      Seq(2.0, -1.0, 0.0, 0.0), Seq(-2.0, 1.0, 0.0, 0.0))
    val r = spectrumOf(base.map(rot).map(Option(_)), 4).head
    assert(r.getDouble(2) == 5.0 && r.getDouble(3) == 4.0 &&
      r.getDouble(4) == 1.0 && r.getDouble(6) == 0.8 &&
      r.getDouble(7) == 1.4706,
      s"rotation moved the spectrum: ${r.toSeq}")
  }

  test("sim32 spectrum: a rank-1 corpus reads top1_share 1.0 and " +
    "participation ratio 1.0 - total collapse") {
    // c * u for unit u = (0.6, 0.8, 0, 0), c in {1, 2, 3, -2}:
    // population var(c) = 3.5, so the single eigenvalue is 3.5
    val u = Seq(0.6, 0.8, 0.0, 0.0)
    val vecs = Seq(1.0, 2.0, 3.0, -2.0)
      .map(c => Option(u.map(_ * c)))
    val r = spectrumOf(vecs, 4).head
    assert(r.getDouble(2) == 3.5 && r.getDouble(3) == 3.5,
      s"rank-1 trace/top1: ${r.toSeq}")
    assert(r.getDouble(6) == 1.0 && r.getDouble(7) == 1.0)
    assert(r.getBoolean(8))
  }

  test("sim32 spectrum edge domain: zero-variance corpus reads trace 0 " +
    "/ shares 0 / collapse; nulls skip; all-null reads an EMPTY card") {
    val const = spectrumOf(
      Seq.fill(3)(Option(Seq(5.0, 5.0, 0.0, 0.0))), 4).head
    assert(const.getLong(0) == 3 && const.getDouble(2) == 0.0 &&
      const.getDouble(6) == 0.0 && const.getDouble(7) == 0.0 &&
      const.getBoolean(8), s"constant corpus: ${const.toSeq}")
    val withNulls = spectrumOf(Seq(
      Option(Seq(2.0, 1.0, 0.0, 0.0)), None,
      Option(Seq(-2.0, -1.0, 0.0, 0.0)), None,
      Option(Seq(2.0, -1.0, 0.0, 0.0)),
      Option(Seq(-2.0, 1.0, 0.0, 0.0))).map(o => o: Option[Seq[Double]]), 4)
      .head
    assert(withNulls.getLong(0) == 4 && withNulls.getDouble(2) == 5.0,
      s"nulls moved the spectrum: ${withNulls.toSeq}")
    assert(spectrumOf(Seq(None, None), 4).isEmpty,
      "all-null corpus must read an empty card")
  }

  test("covariance sketch is memoized per (session, dir): one corpus " +
    "pass serves sim32/sim33/sim35 (r22, the co-presence-graph device)") {
    val dir = "/root/testdata/sf0.001"
    val first = Similarity.covSketchFlatFor(spark, dir, 64)
    // identity pin: a second consumer gets the SAME collected Seq — a
    // rebuild would collect a fresh instance (the sim4 eq discipline)
    assert(first eq Similarity.covSketchFlatFor(spark, dir, 64))
    // and the memoized value IS the frame-level kernel's sketch
    val direct = Similarity.covSketchFlat(
      graft.Tables.embeddings(spark, dir)
        .select(org.apache.spark.sql.functions.col("embedding")), 64)
    assert(first == direct,
      "memoized sketch diverged from the frame-level kernel")
  }

  test("sim32 spectrum: a non-finite embedding row SKIPS (advisor r19) " +
    "- the card measures the finite sub-corpus the dedup kernels " +
    "actually operate on; the strict Aggregator API still fails FAST") {
    // card path (covSketchFlat → tolerant sketch): the NaN/Inf rows
    // skip like nulls, so the card is EXACTLY the finite sub-corpus's
    Seq(Double.NaN, Double.PositiveInfinity).foreach { bad =>
      val r = spectrumOf(Seq(
        Option(Seq(1.0, bad, 0.0, 0.0)),
        Option(Seq(2.0, 1.0, 0.0, 0.0)), None,
        Option(Seq(-2.0, -1.0, 0.0, 0.0)),
        Option(Seq(2.0, -1.0, 0.0, 0.0)),
        Option(Seq(-2.0, 1.0, 0.0, 0.0))), 4).head
      assert(r.getLong(0) == 4 && r.getDouble(2) == 5.0 &&
        r.getDouble(3) == 4.0,
        s"non-finite row ($bad) moved the finite sub-corpus card: ${r.toSeq}")
    }
    // strict API (the default Aggregator): still a diagnosable throw,
    // never a silently-poisoned moment (advisor r18)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val strict = new graft.functions.CovarianceSketch(4)
    Seq(Double.NaN, Double.PositiveInfinity).foreach { bad =>
      val ex = intercept[IllegalArgumentException] {
        strict.reduce(strict.zero, Seq(1.0, bad, 0.0, 0.0))
      }
      assert(messages(ex).exists(_.contains("non-finite")),
        s"opaque strict failure for $bad: ${messages(ex).mkString(" | ")}")
    }
    // tolerant API: the skip contributes NOTHING to the buffer
    val tol = new graft.functions.CovarianceSketch(4, tolerateNonFinite = true)
    val b = tol.reduce(tol.reduce(tol.zero, Seq(1.0, Double.NaN, 0.0, 0.0)),
      Seq(2.0, 1.0, 0.0, 0.0))
    assert(b.n == 1 && b.sums.toSeq.take(2) == Seq(2.0, 1.0),
      s"tolerant skip leaked into the buffer: n=${b.n} sums=${b.sums.toSeq}")
  }

  test("covariance sketch reduce: a BOXED ArraySeq (ofRef) takes the " +
    "copying fallback instead of a ClassCastException (advisor r18)") {
    val agg = new graft.functions.CovarianceSketch(2)
    val boxed: Seq[Double] = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(Array[java.lang.Double](1.0, 2.0))
      .asInstanceOf[Seq[Double]]
    val b = agg.reduce(agg.zero, boxed)
    assert(b.n == 1 && b.sums.toSeq == Seq(1.0, 2.0) &&
      b.cross.toSeq == Seq(1.0, 2.0, 4.0),
      s"boxed-seq fold wrong: n=${b.n} sums=${b.sums.toSeq} cross=${b.cross.toSeq}")
    // the specialized double wrapper still takes the zero-copy path
    val fast = agg.reduce(agg.zero,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(Array(3.0, 4.0)))
    assert(fast.sums.toSeq == Seq(3.0, 4.0) &&
      fast.cross.toSeq == Seq(9.0, 12.0, 16.0))
  }

  test("sim32 registered at sf0.01: the healthy random-ish corpus reads " +
    "high effective dimensionality and no collapse") {
    val dir = "/root/testdata/sf0.01"
    val r = Similarity.queries("sim32_embedding_spectrum")(spark, dir)
      .collect()
    assert(r.length == 1)
    val c = r.head
    val nonNull = graft.Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull).count()
    assert(c.getLong(0) == nonNull && c.getInt(1) == 64)
    assert(c.getDouble(2) > 0 && c.getDouble(3) <= c.getDouble(2))
    assert(c.getDouble(3) >= c.getDouble(4) && c.getDouble(4) >= c.getDouble(5))
    assert(c.getDouble(7) > 8.0,
      s"participation ratio ${c.getDouble(7)} <= d/8 on a random corpus")
    assert(!c.getBoolean(8), s"spurious collapse flag: ${c.toSeq}")
  }

  // ---- sim33 PCA projection (r19 verdict ask #2) -----------------------

  /** The axis-aligned hand corpus: four mean-zero vectors spanning dims
    * {0, 5} of an 8-dim space with var₀ = 4, var₅ = 1, zero cross —
    * diagonal covariance, so Jacobi never rotates and the basis must be
    * EXACT unit axis vectors. */
  private def axisCorpus: Seq[(Long, Seq[Double])] = Seq(
    (0L, Seq(2.0, 1.0)), (1L, Seq(-2.0, -1.0)),
    (2L, Seq(2.0, -1.0)), (3L, Seq(-2.0, 1.0)))
    .map { case (id, ab) =>
      (id, Seq.tabulate(8)(d =>
        if (d == 0) ab.head else if (d == 5) ab(1) else 0.0))
    }

  test("sim33 basis: the axis-aligned corpus recovers the planted " +
    "subspace EXACTLY - top-2 eigenvectors are unit axis vectors, " +
    "eigenvalues 4/1, mean zero") {
    val df = axisCorpus.toDF("vec_id", "embedding")
    val (n, mu, eigs, vecs) = Similarity.pcaBasis(df, 8)
    assert(n == 4)
    assert(mu.forall(_ == 0.0), s"mean not zero: ${mu.toSeq}")
    assert(eigs(0) == 4.0 && eigs(1) == 1.0 && eigs.drop(2).forall(_ == 0.0),
      s"eigs ${eigs.toSeq}")
    def isUnitAxis(v: Array[Double], axis: Int): Boolean =
      math.abs(v(axis)) == 1.0 &&
        v.zipWithIndex.forall { case (x, i) => i == axis || x == 0.0 }
    assert(isUnitAxis(vecs(0), 0), s"v0 not ±e0: ${vecs(0).toSeq}")
    assert(isUnitAxis(vecs(1), 5), s"v1 not ±e5: ${vecs(1).toSeq}")
  }

  test("sim33 card: a corpus lying in a 2-d subspace projects with " +
    "variance_captured 1.0 and recall 1.0 - geometry preserved exactly") {
    // mean-zero angle fan in the (e0, e5) plane: query along e0, 15
    // distinct-angle neighbors (5°..75°) at varied scales, plus every
    // negation — cosine gaps are large, so the top-10 boundary cannot
    // flip on fp noise
    val fan = (1 to 15).map { j =>
      val th = math.toRadians(j * 5.0)
      val s = 1.0 + (j % 3)
      (j.toLong, Seq.tabulate(8)(d =>
        if (d == 0) s * math.cos(th) else if (d == 5) s * math.sin(th)
        else 0.0))
    }
    val q = (0L, Seq.tabulate(8)(d => if (d == 0) 1.0 else 0.0))
    val all = (Seq(q) ++ fan) ++
      (Seq(q) ++ fan).map { case (id, v) => (id + 16L, v.map(-_)) }
    val r = Similarity.pcaProjectCard(
      all.toDF("vec_id", "embedding"), 8, 2).collect().head
    assert(r.getLong(0) == 32 && r.getInt(1) == 8 && r.getInt(2) == 2)
    assert(r.getDouble(3) == 1.0, s"variance_captured ${r.getDouble(3)}")
    assert(r.getDouble(4) == 1.0, s"recall ${r.getDouble(4)}")
    assert(r.getBoolean(5), "probe_ok must read true with vec_id 0 present")
  }

  test("sim33 card: a corpus WITHOUT the vec_id-0 probe row reads " +
    "probe_ok false and a NULL recall (advisor r19) - never a 0.0 " +
    "indistinguishable from a geometry-destroyed no-go") {
    val noProbe = axisCorpus.map { case (id, v) => (id + 1L, v) }
    val r = Similarity.pcaProjectCard(
      noProbe.toDF("vec_id", "embedding"), 8, 2).collect().head
    assert(!r.getBoolean(5), s"probe_ok on a probe-less corpus: ${r.toSeq}")
    assert(r.isNullAt(4), s"recall not NULL on a probe-less corpus: ${r.toSeq}")
    assert(r.getDouble(3) == 1.0, "variance_captured must still report")
    // a present-but-NULL probe embedding is the same read
    val nullProbe = Seq((0L, Option.empty[Seq[Double]])) ++
      noProbe.map { case (id, v) => (id, Option(v)) }
    val r2 = Similarity.pcaProjectCard(
      nullProbe.toDF("vec_id", "embedding"), 8, 2).collect().head
    assert(!r2.getBoolean(5) && r2.isNullAt(4),
      s"null-embedding probe row must read probe_ok false: ${r2.toSeq}")
  }

  test("sim33 card is rotation-invariant: the axis corpus rotated 45 " +
    "degrees in the (0,1) plane reads the same eigenvalues, full " +
    "variance capture, and full recall") {
    val s = 1.0 / math.sqrt(2.0)
    val rot = axisCorpus.map { case (id, v) =>
      (id, Seq(s * (v(0) - v(1)), s * (v(0) + v(1))) ++ v.drop(2))
    }
    val df = rot.toDF("vec_id", "embedding")
    val (_, _, eigs, _) = Similarity.pcaBasis(df, 8)
    assert(math.abs(eigs(0) - 4.0) < 1e-9 && math.abs(eigs(1) - 1.0) < 1e-9,
      s"rotation moved the eigenvalues: ${eigs.toSeq}")
    val r = Similarity.pcaProjectCard(df, 8, 2).collect().head
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 1.0,
      s"rotation broke the projection card: ${r.toSeq}")
  }

  test("sim33 whitening: projected-whitened coordinates carry unit " +
    "population variance per kept dimension; a zero-variance " +
    "direction scales to 0 instead of dividing by zero") {
    val df = axisCorpus.toDF("vec_id", "embedding")
    val (_, mu, eigs, vecs) = Similarity.pcaBasis(df, 8)
    val scales = Similarity.whitenScales(eigs, 3)
    // λ₂ = 0: its scale must be exactly 0, not 1/√0
    assert(scales(2) == 0.0, s"zero-eig scale ${scales(2)}")
    val w = Similarity.pcaProjectFrame(
      df.select(col("vec_id"), col("embedding").as("emb")), mu,
      vecs.take(3), scales)
      .select(col("proj")).collect().map(_.getSeq[Double](0))
    // coords: ±2/√4 = ±1 and ±1/√1 = ±1 — population variance exactly 1
    (0 to 1).foreach { j =>
      val ys = w.map(_(j))
      val v = ys.map(y => y * y).sum / ys.length -
        math.pow(ys.sum / ys.length, 2)
      assert(math.abs(v - 1.0) < 1e-12, s"whitened var dim $j = $v")
    }
    assert(w.forall(_(2) == 0.0), "zero-variance coordinate not zeroed")
  }

  // ---- sim35 PCA rank curve (r19 verdict ask #2) -----------------------

  test("sim35 rank curve on the mean-zero 2-d fan: variance_captured " +
    "is MONOTONE in r, saturates at exactly 1.0 from r = 2, and r = d " +
    "recovers the brute truth EXACTLY (rotation preserves cosine at " +
    "mean zero)") {
    // the sim33 geometry corpus: mean-zero (negation closure), entirely
    // in the (e0, e5) plane of d = 8
    val fan = (1 to 15).map { j =>
      val th = math.toRadians(j * 5.0)
      val s = 1.0 + (j % 3)
      (j.toLong, Seq.tabulate(8)(d =>
        if (d == 0) s * math.cos(th) else if (d == 5) s * math.sin(th)
        else 0.0))
    }
    val q = (0L, Seq.tabulate(8)(d => if (d == 0) 1.0 else 0.0))
    val all = (Seq(q) ++ fan) ++
      (Seq(q) ++ fan).map { case (id, v) => (id + 16L, v.map(-_)) }
    val rows = Similarity.pcaRankCurve(
      all.toDF("vec_id", "embedding"), 8, Seq(1, 2, 4, 8)).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getInt(2)).toSeq == Seq(1, 2, 4, 8), "row order by r")
    val caps = rows.map(_.getDouble(3)).toSeq
    assert(caps == caps.sorted, s"variance_captured not monotone: $caps")
    assert(caps.head < 1.0 && caps(1) == 1.0 && caps(3) == 1.0,
      s"2-d corpus must saturate at r = 2: $caps")
    // geometry preserved from the saturation rank on; r = d is exact
    // by rotation invariance (mean zero)
    rows.drop(1).foreach(r => assert(r.getDouble(4) == 1.0,
      s"recall at r=${r.getInt(2)}: ${r.getDouble(4)}"))
    rows.foreach { r =>
      assert(r.getBoolean(5), "probe_ok false with vec_id 0 present")
      assert(r.getDouble(6) == r.getInt(2).toDouble / 8,
        s"memory_ratio wrong at r=${r.getInt(2)}")
    }
  }

  test("sim35 registered at sf0.001: five rows, monotone variance " +
    "saturating at exactly 1.0 by r = d, and the r = 16 row in " +
    "LOCKSTEP with sim33's card (shared kernels)") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.queries("sim35_pca_rank_curve")(spark, dir)
      .collect()
    assert(rows.map(_.getInt(2)).toSeq == Seq(4, 8, 16, 32, 64))
    val caps = rows.map(_.getDouble(3)).toSeq
    assert(caps == caps.sorted && caps.last == 1.0,
      s"variance curve broken: $caps")
    rows.foreach { r =>
      assert(r.getBoolean(5))
      val rec = r.getDouble(4)
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range at $r")
    }
    val card = Similarity.queries("sim33_pca_project")(spark, dir)
      .collect().head
    val r16 = rows.find(_.getInt(2) == 16).get
    assert(r16.getDouble(3) == card.getDouble(3) &&
      r16.getDouble(4) == card.getDouble(4),
      s"r=16 curve row (${r16.getDouble(3)}, ${r16.getDouble(4)}) diverged " +
        s"from sim33's card (${card.getDouble(3)}, ${card.getDouble(4)})")
  }

  test("sim33 registered at sf0.001: one well-formed go/no-go row over " +
    "the real corpus") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.queries("sim33_pca_project")(spark, dir).collect()
    assert(rows.length == 1)
    val c = rows.head
    val nonNull = graft.Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull).count()
    assert(c.getLong(0) == nonNull && c.getInt(1) == 64 && c.getInt(2) == 16)
    assert(c.getDouble(3) > 0.0 && c.getDouble(3) <= 1.0,
      s"variance_captured out of range: ${c.getDouble(3)}")
    assert(c.getBoolean(5), "probe row (vec_id 0) exists in the corpus")
    assert(c.getDouble(4) >= 0.0 && c.getDouble(4) <= 1.0,
      s"recall out of range: ${c.getDouble(4)}")
  }
}

