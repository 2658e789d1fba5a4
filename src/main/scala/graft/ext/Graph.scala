package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph computation beyond the dedup tier's connected
  * components: PageRank (Page et al. 1999) over the co-presence graph
  * j12 derives from session overlaps — "who is central to the
  * concurrency structure", the influence/bot-hub ranking a trust-and-
  * safety pipeline reads next to p9's volume-based skew profile (a hub
  * by CO-PRESENCE need not be a hub by event count).
  *
  * 100 TB design notes:
  * - Each iteration is the canonical one-join dataflow: ranks ⋈ edges
  *   (contribution scatter, the one edge-sized shuffle an iteration
  *   fundamentally needs) + a map-side-combined gather by destination.
  *   Source degree is pre-attached to the checkpointed edge frame, so
  *   no per-iteration degree join exists; rank frames stay node-sized.
  * - `localCheckpoint` after every iteration TRUNCATES LINEAGE — without
  *   it the plan doubles per iteration and the job dies re-planning, the
  *   classic iterative-Spark failure. Checkpoint cost is one node-sized
  *   frame per iteration.
  * - Fixed iteration count (deterministic output), damping 0.85. The
  *   undirected edge list means every node has out-degree ≥ 1, so no
  *   dangling-mass correction is needed — asserted in the spec rather
  *   than assumed silently.
  */
object Graph {

  private val graphCache = SessionMemo[String, (String, String)]()

  /** The co-presence graph as a SHARED ingest artifact: all five
    * graph-tier queries (g1 ranks it, g2 counts its triangles, g3 its
    * degree moments, g4 peels its cores, g5 partitions it) serve off
    * the SAME session→overlap-pair build, so the j12 machinery
    * (sessionize window + bin-exploded self-join + ownership dedup)
    * runs ONCE per (session, dir) — the ivf/pq memoization discipline:
    * eager `localCheckpoint` pins node and edge frames, the temp-view
    * name carries a dir hash so distinct dirs cannot collide (r10
    * advice). At 100 TB this is the difference between one graph
    * materialization and five. Returns (nodes(node), edges(user_a,
    * user_b)) — nodes carries ISOLATED users too (sessioned but never
    * co-present), which g5's census must count as singletons. */
  private[graft] def graphFor(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val (nv, ev) = graphCache.getOrBuild(spark, dir) {
      val spans = WindowFns.sessionSpans(spark, dir)
      val nodesName = "graph_nodes_" + Similarity.dirTag(dir)
      val edgesName = "graph_edges_" + Similarity.dirTag(dir)
      spans.select(col("user_id").as("node")).distinct()
        .localCheckpoint(true).createOrReplaceTempView(nodesName)
      Joins.allOverlapPairs(spans)
        .select(col("user_a"), col("user_b"))
        .localCheckpoint(true).createOrReplaceTempView(edgesName)
      (nodesName, edgesName)
    }
    (spark.table(nv), spark.table(ev))
  }

  /** The memoized canonical co-presence edge frame under the kernel
    * column names — the registered input of g2/g3/g4/g5/g10/g11. */
  private def canonEdges(spark: SparkSession, dir: String): DataFrame =
    graphFor(spark, dir)._2
      .select(col("user_a").as("a"), col("user_b").as("b"))

  /** The degree frame of the memoized canonical edges, pinned per
    * (session, dir) — the sessionSpans device one level down (r22):
    * g2, g3, g10 and g11 all start from this IDENTICAL node-sized
    * aggregate, so it materializes once per session instead of once
    * per consumer invocation. Each consumer's own verb (triangle
    * join, moments, regression, cc histogram) stays in its plan. */
  private val coDegCache = SessionMemo[String, String]()
  private def coDegFor(spark: SparkSession, dir: String): DataFrame = {
    val view = coDegCache.getOrBuild(spark, dir) {
      val name = "graph_deg_" + Similarity.dirTag(dir)
      degreesOf(canonEdges(spark, dir))
        .localCheckpoint(true).createOrReplaceTempView(name)
      name
    }
    spark.table(view)
  }

  /** The degree-ordered oriented frame of the memoized canonical
    * edges (the Chiba–Nishizeki orientation g2 and g11 both build),
    * pinned per (session, dir) for the same reason. */
  private val coOrientedCache = SessionMemo[String, String]()
  private def coOrientedFor(spark: SparkSession, dir: String): DataFrame = {
    val view = coOrientedCache.getOrBuild(spark, dir) {
      val name = "graph_oriented_" + Similarity.dirTag(dir)
      orientedOf(canonEdges(spark, dir), coDegFor(spark, dir))
        .localCheckpoint(true).createOrReplaceTempView(name)
      name
    }
    spark.table(view)
  }

  /** Fixed-iteration PageRank over an undirected edge list
    * (src, dst) — both directions are materialized internally; self
    * loops dropped. Returns (node, rank) for every node, rank
    * rounded(6) for cross-run determinism of the float fold. */
  /** `checkpointEvery` sets the eager-materialization cadence of the
    * iterate (1 = every round, the default; k = every k-th round, with
    * the final round ALWAYS checkpointed so the serve plan stays a
    * scan of the pinned fixpoint). Values are cadence-invariant (the
    * recurrence is the same dataflow either way), only the
    * materialize-vs-recompute trade moves; the cadence measurements
    * are recorded in BENCH_LOCAL_r13_graph_cadence.json. */
  /** `convergeTol`: when set, each round ALSO measures the total rank
    * movement (Σ|rank_i − rank_{i−1}|, one node-sized join + agg) and
    * the loop exits early once it drops below the tolerance — the
    * delta-below-epsilon device the r19 verdict's fixpoint probe
    * grades. The check forces one action per round, so it trades a
    * per-round collect against skipped tail rounds; OFF by default
    * (the registered operating point is whatever the probe receipt
    * adjudicated — see g1PageRank). */
  def pageRank(edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85,
               checkpointEvery: Int = 1,
               convergeTol: Option[Double] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val (biDeg, nodes) = undirectedPrep(edges)
    val n = math.max(1L, nodes.count())
    val base = (1.0 - damping) / n
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var i = 1
    var done = false
    while (i <= iters && !done) {
      // the iteration's ONLY join is the scatter itself: source degree
      // rides on the checkpointed edge frame (attached once in
      // undirectedPrep), and every node has >= 1 in-edge in the
      // symmetric frame, so the gather's output IS the full node set —
      // r21: this removes the two node-sized joins (rank/deg divide,
      // node re-attach) each round previously paid
      val contribs = biDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("sdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_rank"))
      val next = contribs.select(col("node"),
        (lit(base) + lit(damping) * col("in_rank")).as("rank"))
      val pinned =
        if (i % checkpointEvery == 0 || i == iters ||
          convergeTol.nonEmpty) next.localCheckpoint(true)
        else next
      convergeTol.foreach { tol =>
        val movedRow = pinned.withColumnRenamed("rank", "r2")
          .join(ranks, Seq("node"))
          .agg(sum(abs(col("r2") - col("rank")))).head()
        // empty graph: sum-over-nothing is NULL, not a throw (advice r20)
        if (!movedRow.isNullAt(0) && movedRow.getDouble(0) < tol) done = true
      }
      ranks = pinned
      i += 1
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** Shared undirected-graph prep for the rank family: bidirectional
    * edge frame (self loops filtered AFTER the direction union — a
    * reversed self loop is still a self loop) with the SOURCE degree
    * pre-attached (r21: pay the degree join once here instead of a
    * rank/deg node join every iteration), plus the node set — both
    * pinned with eager `localCheckpoint` (iterations re-read them
    * every round). Returns (biDeg(src, dst, sdeg), nodes(node)). */
  private def undirectedPrep(edges: DataFrame)
      : (DataFrame, DataFrame) = {
    val bi = edges
      .select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val outDeg = bi.groupBy(col("src")).agg(count(lit(1)).as("sdeg"))
    val biDeg = bi.join(outDeg, Seq("src")).localCheckpoint(true)
    val nodes = biDeg.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    (biDeg, nodes)
  }

  /** Personalized PageRank (random walk with restart, Page et al. 1999
    * §6 "personalized" vector; the Pixie/recommender serving shape):
    * identical dataflow to [[pageRank]] — one edge-sized scatter join +
    * map-side-combined gather per iteration — but ALL reset mass
    * returns to the SEED node instead of spreading uniformly, so the
    * fixpoint scores every node by its random-walk proximity to the
    * seed. The graph-tier retrieval verb: "entities most connected to
    * THIS one" (similar users by co-presence here; related products /
    * candidate neighbors for curation elsewhere), where sim-tier ANN
    * answers the same question in embedding space. A seed absent from
    * the graph returns the empty frame (no in-band sentinel). */
  def personalizedPageRank(edges: DataFrame, seedNode: Long,
                           iters: Int = 10, damping: Double = 0.85,
                           checkpointEvery: Int = 5,
                           convergeTol: Option[Double] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val (biDeg, nodes) = undirectedPrep(edges)
    if (nodes.filter(col("node") === seedNode).isEmpty)
      return nodes.withColumn("rank", lit(0.0)).limit(0)
    val seedMass =
      when(col("node") === seedNode, lit(1.0)).otherwise(lit(0.0))
    var ranks = nodes.withColumn("rank", seedMass)
    var i = 1
    var done = false
    while (i <= iters && !done) {
      // same one-join iteration as pageRank (source degree pre-attached
      // to the edge frame; the gather covers every node by symmetry),
      // with the reset mass concentrated on the seed
      val contribs = biDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("sdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_rank"))
      val next = contribs.select(col("node"),
        (seedMass * lit(1.0 - damping) +
          lit(damping) * col("in_rank")).as("rank"))
      val pinned =
        if (i % checkpointEvery == 0 || i == iters ||
          convergeTol.nonEmpty) next.localCheckpoint(true)
        else next
      convergeTol.foreach { tol =>
        val movedRow = pinned.withColumnRenamed("rank", "r2")
          .join(ranks, Seq("node"))
          .agg(sum(abs(col("r2") - col("rank")))).head()
        // empty graph: sum-over-nothing is NULL, not a throw (advice r20)
        if (!movedRow.isNullAt(0) && movedRow.getDouble(0) < tol) done = true
      }
      ranks = pinned
      i += 1
    }
    ranks.select(col("node"), round(col("rank"), 6).as("rank"))
  }

  /** G9 — registered: personalized PageRank from the co-presence
    * graph's minimum user id (a deterministic, always-present seed),
    * top-20 by proximity. Rows-only like g1 (iterated float fixpoint);
    * the recurrence is pinned on the hand-simulated star spec. */
  def g9PersonalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, edgesRaw) = graphFor(spark, dir)
    val seed = nodes.agg(min(col("node"))).head().getLong(0)
    personalizedPageRank(
      edgesRaw.select(col("user_a").as("src"), col("user_b").as("dst")),
      seed)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  /** G1 — registered: PageRank over the j12 co-presence edges (users
    * whose sessions overlapped in time), top-20 most-central users.
    * Rows-only for the driver (an iterated float fixpoint has no
    * tractable SQL form); the recurrence itself is pinned on
    * hand-computed planted graphs in GraphSpec. */
  def g1PageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = graphFor(spark, dir)._2
      .select(col("user_a").as("src"), col("user_b").as("dst"))
    // checkpointEvery = 5 from the r13 cadence probe
    // (BENCH_LOCAL_r13_graph_cadence.json): PageRank's per-iteration
    // frame is node-sized and its recurrence linear, so materializing
    // every round pays more in pinning overhead than the recompute it
    // saves — cadence 5 runs 3.24→1.76 s at sf0.1 with BYTE-IDENTICAL
    // output (probe-verified, 3 reps). LPA (g8) is the opposite — its
    // unmaterialized vote lineage superlinearly explodes (2.4→37 s at
    // cadence 10) — so it stays at 1; the final round always pins, so
    // the serve plan is a checkpoint scan either way.
    pageRank(edges, checkpointEvery = 5)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  /** G2 — triangle census + global clustering coefficient over the same
    * co-presence graph: how CLIQUISH is the concurrency structure
    * (3·triangles / wedges — near 0 means hub-and-spoke co-presence,
    * near 1 means tight cohorts; the one-number community signal read
    * before any clustering run, and the feature fraud models key on).
    *
    * The a<b-ordered edge list makes each triangle countable EXACTLY
    * once through its middle vertex: wedges (a<b<c) come from ONE
    * self-join of the edge list on the shared endpoint, closed by a
    * left-semi probe against the same edges — two equi-joins, no
    * nested loop, both AQE-splittable on a hub vertex. Wedge totals
    * are exact integer arithmetic (d·(d−1) div 2) off the degree
    * frame; the coefficient is the only float and divides two exact
    * longs (identical on both engines), guarded NULL on a wedge-free
    * graph. Unlike g1's iterated fixpoint this is fully SQL-expressible
    * — the graph tier's VALUE-oracled leg. */
  def g2TriangleCount(spark: SparkSession, dir: String): DataFrame =
    // the memoized co-presence edges are ALREADY canonical (a<b, distinct
    // by construction of the overlap groupBy) and already pinned — skip
    // the kernel's canonicalize+distinct+checkpoint re-materialization
    // (r21; identity on canonical input, differential-checked); degree
    // and oriented frames come from the session memos (r22)
    triangleStatsFrom(canonEdges(spark, dir), coDegFor(spark, dir),
      coOrientedFor(spark, dir))

  /** The census kernel over any undirected edge list — canonicalized to
    * a<b internally (reversed duplicates collapse, self loops drop), so
    * the kernel is total rather than precondition-bound: a caller
    * passing (2,1) or both orientations still gets the right census. */
  def triangleStats(edges: DataFrame): DataFrame =
    triangleStatsCanonical(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true))

  /** The degree frame of a canonical edge list — ONE definition shared
    * by every kernel and the session memo, so consumers can never
    * drift off each other. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("n"))
      .unionByName(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** DEGREE-ordered orientation (compact-forward / Chiba–Nishizeki):
    * point every edge from its lower-(degree, id) endpoint to the
    * higher, so out-degree is O(sqrt m) for ANY degree distribution,
    * and wedge candidates enumerate from OUT-pairs only — Σ outd²
    * instead of Σ d². The first id-ordered formulation materialized
    * Σ d² wedges, which on the 128×-denser 10× replica graph is
    * ~billions of rows: the probe run filled the spill disk and died
    * (SparkOutOfMemoryError: No space left on device) — a textbook
    * case of an algorithm, not a knob, being the scale fix. One
    * definition shared by g2, g11 and the session memo. Returned
    * UN-pinned; callers materialize (the memo pins it once per
    * session, the frame-level kernels per invocation). */
  private def orientedOf(e: DataFrame, deg: DataFrame): DataFrame = {
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    e.join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"))
  }

  /** The census tail over an edge list the CALLER guarantees canonical
    * (a < b, distinct, already materialized/pinned — the registered
    * co-presence path). */
  private def triangleStatsCanonical(e: DataFrame): DataFrame = {
    val deg = degreesOf(e)
    triangleStatsFrom(e, deg, orientedOf(e, deg).localCheckpoint(true))
  }

  /** The census core over caller-supplied canonical edges + their
    * degree frame + the degree-ordered oriented frame (both pinned by
    * the caller — the registered path serves them from the session
    * memos). Each triangle {x,y,z} is emitted EXACTLY once, by its
    * minimum-(degree, id) vertex (the only vertex with out-edges to
    * both others); the closing probe keeps left-side multiplicity, so
    * two wedges closing onto the same (v, w) edge count as the two
    * distinct triangles they are. */
  private def triangleStatsFrom(e: DataFrame, deg: DataFrame,
                                oriented: DataFrame): DataFrame = {
    val wedgeTotal = deg
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val cand = oriented
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .select(col("v").as("a"), col("w").as("b"))
    val tri = cand.join(e, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    tri.crossJoin(broadcast(wedgeTotal))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_triangles") * 3.0 / col("n_wedges"), 6))
          .as("clustering_coeff"))
  }

  /** G11 — LOCAL clustering-coefficient distribution: g2 prints ONE
    * global coefficient; this card shows how cliquishness distributes
    * across nodes — cc_v = 2·t_v / (d_v·(d_v−1)) per node, bucketed
    * into deciles with the global mean beside. A hub-and-spoke graph
    * and a union of cliques can share a global coefficient while
    * their LOCAL distributions are opposites (mass at 0 vs mass at 1)
    * — exactly the difference that decides whether community
    * detection (g8) will find anything. Watts–Strogatz 1998 is the
    * reference formulation.
    *
    * Scale + determinism: reuses [[triangleStats]]'s degree-ordered
    * orientation (out-degree O(√m) for any skew — the same
    * spill-death fix that probe forced on g2), but KEEPS all three
    * vertices per triangle and explodes them to per-node counts — one
    * extra node-sized aggregate over g2's plan. Per-node cc quantizes
    * to integer ten-thousandths in ONE rounding (2·t and d·(d−1) are
    * exact longs, the division is a single IEEE op — engine-
    * identical), so decile bucketing and the global mean are pure
    * integer arithmetic from there: no float mean of floats
    * anywhere. Nodes with d < 2 have no defined cc and sit outside
    * the card (the standard convention). */
  def g11LocalClustering(spark: SparkSession, dir: String): DataFrame =
    // canonical pinned input — same r21 shortcut as g2; degree and
    // oriented frames from the session memos (r22)
    localClusteringFrom(canonEdges(spark, dir), coDegFor(spark, dir),
      coOrientedFor(spark, dir))

  def localClustering(edges: DataFrame): DataFrame =
    localClusteringCanonical(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true))

  private def localClusteringCanonical(e: DataFrame): DataFrame = {
    val deg = degreesOf(e)
    localClusteringFrom(e, deg, orientedOf(e, deg).localCheckpoint(true))
  }

  private def localClusteringFrom(e: DataFrame, deg: DataFrame,
                                  oriented: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // triangle rows keep ALL three vertices: each triangle appears
    // exactly once, found through its minimum-(degree, id) vertex u
    val tri = oriented
      .join(oriented.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
      .join(e.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
    val triNodes = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("t"))
    val cc = deg.filter(col("d") >= 2)
      .join(triNodes, Seq("n"), "left")
      .na.fill(0L, Seq("t"))
      .withColumn("cci", round(lit(2.0) * col("t")
        / (col("d") * (col("d") - 1)) * 10000).cast("long"))
    val w = Window.partitionBy(lit(1))
    cc.withColumn("cc_decile", expr("cci div 1000").cast("int"))
      .groupBy(col("cc_decile"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("cci")).as("s_cci"))
      .withColumn("total", sum(col("n_nodes")).over(w))
      .select(col("cc_decile"), col("n_nodes"),
        round(col("n_nodes").cast("double") / col("total"), 4).as("share"),
        round(sum(col("s_cci")).over(w).cast("double")
          / (lit(10000.0) * col("total")), 4).as("avg_cc"))
      .orderBy(col("cc_decile"))
  }

  /** G3 — graph degree card: node/edge counts, degree spread, and
    * degree ASSORTATIVITY (Newman 2002 — the Pearson correlation of
    * degrees across edge endpoints: positive means hubs attach to
    * hubs, negative means hub-and-spoke; the one number that says
    * whether g1's central users cluster together or each anchor their
    * own star). Read beside g2's clustering coefficient, the pair
    * forms the standard two-line topology summary a graph pipeline
    * prints before any expensive community/embedding run.
    *
    * Scale + determinism shape: the degree frame is node-sized (one
    * map-side-combined count off the edge list); endpoint degrees
    * land on edges via two node-keyed equi-joins (AQE-splittable; the
    * symmetric union makes sx=sy so one join's moments serve both
    * sides). Every moment is an EXACT LONG (degrees are integers) —
    * the a21 device — so the only floats are one sqrt and one
    * division, rounded(6), engine-identical. NULL assortativity on a
    * degree-regular graph (zero variance: every star or clique —
    * engines disagree on 0/0, we agree on NULL). */
  def g3DegreeStats(spark: SparkSession, dir: String): DataFrame =
    // canonical pinned input — same r21 shortcut as g2; degrees from
    // the session memo (r22)
    degreeStatsFrom(canonEdges(spark, dir), coDegFor(spark, dir))

  /** The degree-card kernel over any undirected edge list (canonicalized
    * like [[triangleStats]]: reversed duplicates collapse, self loops
    * drop). One row out. */
  /** G10 — degree power-law fit: OLS slope of ln(count) ~ ln(degree)
    * over the degree histogram — t15's Zipf device pointed at the
    * graph tier. The degree tail is the first thing a graph pipeline
    * should ask before sizing anything skew-sensitive: a shallow slope
    * (heavy tail) says the hottest nodes will dominate every per-node
    * join and j10's salting / AQE skew handling is NOT optional; a
    * steep slope says degrees are homogeneous and plain equi-joins
    * hold. Natural social graphs read ≈ −2..−3 (Barabási–Albert); the
    * card PUBLISHES the number for this corpus instead of assuming the
    * folklore — the same epistemic job as w18's watermark card.
    *
    * Scale + determinism: degree frame node-sized (one map-side
    * combine off the shared memoized edge list), histogram
    * ≤ max-degree rows, the regression runs over that bounded frame
    * (`regr_slope`/`regr_r2` ≡ DuckDB — the t15 treatment); degrees
    * and counts exact longs, ln/regression the only floats,
    * rounds(4). */
  def g10DegreePowerlaw(spark: SparkSession, dir: String): DataFrame =
    // canonical pinned input — same r21 shortcut as g2; degrees from
    // the session memo (r22). The kernel only ever needed the degree
    // frame — the regression is the query's own verb.
    degreePowerlawFrom(coDegFor(spark, dir))

  /** The power-law kernel over any undirected edge list (canonicalized
    * like [[degreeStats]]). One row out. */
  def degreePowerlaw(edges: DataFrame): DataFrame =
    degreePowerlawFrom(degreesOf(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()))

  private def degreePowerlawFrom(deg: DataFrame): DataFrame = {
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    hist.agg(
      count(lit(1)).as("n_degree_levels"),
      max(col("d")).as("max_degree"),
      round(expr("regr_slope(ln(cnt), ln(d))"), 4).as("slope"),
      round(expr("regr_r2(ln(cnt), ln(d))"), 4).as("r2"))
  }

  def degreeStats(edges: DataFrame): DataFrame =
    degreeStatsCanonical(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true))

  private def degreeStatsCanonical(e: DataFrame): DataFrame =
    degreeStatsFrom(e, degreesOf(e))

  private def degreeStatsFrom(e: DataFrame, deg: DataFrame): DataFrame = {
    val card = deg.agg(
      count(lit(1)).as("n_nodes"),
      max(col("d")).as("max_degree"),
      sum(col("d")).as("deg_sum"))
    // endpoint-degree moments over the DIRECTED view (both directions):
    // the symmetric union means sum(da)=sum(db) and sum(da²)=sum(db²),
    // so the correlation needs only (n, sx, sxx, sxy) — all exact longs
    val da = deg.select(col("n").as("a"), col("d").as("da"))
    val db = deg.select(col("n").as("b"), col("d").as("db"))
    val withDeg = e.join(da, Seq("a")).join(db, Seq("b"))
    val moments = withDeg.agg(
      count(lit(1)).as("m"),
      sum(col("da") + col("db")).as("sx"),
      sum(col("da") * col("da") + col("db") * col("db")).as("sxx"),
      // each undirected edge contributes da·db twice in the directed
      // view — keep the factor explicit rather than halving sx/sxx
      sum(col("da") * col("db") * 2).as("sxy"))
    card.crossJoin(broadcast(moments))
      .select(
        col("n_nodes"),
        col("m").as("n_edges"),
        col("max_degree"),
        round(col("deg_sum").cast("double") / col("n_nodes"), 4)
          .as("avg_degree"),
        when(expr("2 * m * sxx - sx * sx") === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (lit(2.0) * col("m") * col("sxy") -
              col("sx").cast("double") * col("sx")) /
            (lit(2.0) * col("m") * col("sxx") -
              col("sx").cast("double") * col("sx")), 6))
          .as("assortativity"))
  }

  /** G4 — k-core decomposition (Seidman 1983): the maximal subgraph
    * where every node keeps ≥ k neighbors INSIDE the subgraph — the
    * standard "dense cohort" extractor one notch past g3's degree card
    * (degree says who has many edges; coreness says whose edges are to
    * OTHER well-connected nodes — a bot ring shows as a high k-core
    * even when every member's raw degree is modest). Reported for a
    * small k sweep: (k, n_core_nodes, n_core_edges).
    *
    * 100 TB shape: the peeling fixpoint is the g1 discipline applied
    * to subtraction — each round is one node-sized degree aggregate +
    * two edge-sized anti-joins against the (broadcastable-when-small,
    * AQE-handled otherwise) weak-node set, `localCheckpoint` per round
    * truncating lineage. Rounds are data-bounded (each peels ≥ 1 node
    * or terminates); the loop's only driver traffic is the weak-set
    * count. Rows-only like g1: an iterated fixpoint has no tractable
    * SQL form — the semantics pin is the planted K4+triangle+pendant
    * spec where every core is hand-countable. */
  def kCoreEdges(edges: DataFrame, k: Int): DataFrame =
    kCorePeel(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(true), k)

  private def kCorePeel(canonical: DataFrame, k: Int): DataFrame = {
    var e = canonical
    var done = false
    while (!done) {
      val deg = e.select(col("a").as("n"))
        .unionByName(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val weak = deg.filter(col("d") < k).select(col("n"))
        .localCheckpoint(true)
      if (weak.isEmpty) done = true
      else e = e
        .join(weak.withColumnRenamed("n", "a"), Seq("a"), "left_anti")
        .join(weak.withColumnRenamed("n", "b"), Seq("b"), "left_anti")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
    }
    e
  }

  def g4KCore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = graphFor(spark, dir)._2
      .select(col("user_a").as("a"), col("user_b").as("b"))
    // NESTED peel (r21): cores are nested — core_k(G) ⊆ core_j(G) for
    // j ≤ k — and the k-core of any subgraph H with core_k(G) ⊆ H ⊆ G
    // equals core_k(G), so each sweep rung peels from the PREVIOUS
    // core instead of the full graph. Outputs identical by
    // construction (GraphSpec pins nested ≡ from-scratch); the k = 8
    // and k = 32 rungs start from frames the k = 2 peel already
    // shrank, skipping the rounds that re-peel the same weak shell.
    // canonical pinned input (same r21 shortcut as g2); each later rung's
    // input is the previous rung's core — canonical and checkpointed by
    // the peel loop itself
    var base = edges
    val rows = Seq(2, 8, 32).map { k =>
      val core = kCorePeel(base, k)
      base = core
      val nNodes = core.select(col("a").as("n"))
        .unionByName(core.select(col("b").as("n"))).distinct().count()
      (k, nNodes, core.count())
    }
    rows.toDF("k", "n_core_nodes", "n_core_edges").orderBy(col("k"))
  }

  /** G5 — connected components over the co-presence graph: the
    * community partition itself (who is transitively connected to whom
    * through session overlaps), reported as a component-size census —
    * the denominator every other graph number implicitly divides by
    * (a clustering coefficient of 0.8 means something different inside
    * one giant component vs forty islands), and the direct "is this
    * graph one blob or many cohorts" readout.
    *
    * Engine shape: the SAME size-adaptive union-find / min-label
    * pointer-jumping kernel the dedup tier trusts
    * ([[graft.ext.Dedup.connectedComponents]] — D6/D7/D23's machinery,
    * O(log diameter) rounds distributed), applied to the j12 pair
    * graph; the census collapses node labels to component-count rows.
    * Unlike g1's float fixpoint this IS SQL-expressible: the DuckDB
    * oracle computes the identical partition via a recursive-CTE
    * transitive closure (set-semantics UNION terminates it), so the
    * iterative kernel is VALUE-checked end to end against a from-first-
    * principles replay — the strongest cross-check any of the graph
    * fixpoints has. */
  def g5Components(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = graphFor(spark, dir)
    // r22 (reversing the r21 probe verdict with new numbers): the
    // registered pairs project off the PINNED co-presence view, so the
    // extra pairs checkpoint inside connectedComponents re-materializes
    // an already-materialized frame. The r21 probe read the pinned
    // route slower (1.39/1.40 → 1.57/1.51) — re-probed in r22 AFTER the
    // session-span memo landed (OPTIMIZATION_r22.md, 5 reps, identical
    // rows):
    // sf0.1 reg 1.497/1.635 vs pinned 1.122/1.294 (0.75× min), 3×
    // disjoint-graph corpus reg 1.613/1.867 vs pinned 1.411/1.426
    // (0.87× min). Adopted; the checkpointing public kernel below stays
    // the total API for arbitrary (unmaterialized) pair frames.
    componentCensusPinned(nodes,
      edges.select(col("user_a").as("id_a"), col("user_b").as("id_b")))
  }

  /** The census kernel over caller-supplied nodes/pairs — split out so
    * island/singleton semantics pin on planted graphs in GraphSpec,
    * independent of the oracle's closure replay. Checkpoints the pairs
    * (the connectedComponents contract) — callers whose pair frame is
    * ALREADY materialized use the pinned tail below. */
  private[graft] def componentCensus(nodes: DataFrame,
      pairs: DataFrame): DataFrame =
    censusOf(Dedup.connectedComponents(nodes, pairs))

  /** The same census over an already-materialized pair frame (the g2/g3
    * canonical-input-tail device applied to g5): skips the redundant
    * checkpoint when the pairs project off the pinned co-presence
    * view. */
  private[graft] def componentCensusPinned(nodes: DataFrame,
      pairs: DataFrame): DataFrame =
    censusOf(Dedup.connectedComponentsPinned(nodes, pairs))

  private def censusOf(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("component_id"))

  /** G6 — bipartite audience-overlap projection: project the
    * user↔event_type bipartite graph onto types, scoring each type pair
    * by audience Jaccard and overlap coefficient — "which behaviors
    * share an audience" (the co-engagement matrix recommenders and
    * cannibalization analyses start from). The graph-tier cousin of
    * t21/d42's SOURCE overlap: same verb, but over the behavioral
    * bipartite graph instead of document fingerprints, and exact
    * rather than sketched (the projected side is |types|-bounded, so
    * exactness is free here — d42 exists for when it is not).
    *
    * Scale shape: the corpus collapses ONCE to the distinct
    * (user, type) incidence frame — bounded by users × types, the a22
    * device — then the projection self-joins on user_id (each user
    * contributes ≤ |types|² pairs, map-side combinable) and the report
    * is ≤ |types|²/2 rows. Jaccard divides exact longs, rounds(4). */
  def g6AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the incidence frame feeds three subtrees (sizes + both join
    // sides): eager checkpoint so its dedup shuffle runs once (the
    // d35 twice-consumed device), keeping the census at 5 exchanges
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint(true)
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    ut.join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 4).as("jaccard"),
        round(col("n_common").cast("double") /
          least(col("n_a"), col("n_b")), 4).as("overlap_coeff"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** G7 — bipartite HITS authority (Kleinberg 1999): the principal-
    * eigenvector importance of each BEHAVIOR in the user↔event_type
    * bipartite graph — "which behavior is most central to the
    * co-engagement structure", the spectral refinement of g6's pairwise
    * Jaccard card (g6 scores PAIRS; HITS turns the whole co-audience
    * matrix into one per-type score where a type is important because
    * important users touch it, recursively).
    *
    * The spectral shortcut that makes this scale: on a bipartite graph
    * the HITS authority fixpoint is the principal eigenvector of AᵀA —
    * and AᵀA is exactly the types×types CO-AUDIENCE matrix (g6's
    * n_common plus the n_t diagonal). So the distributed work is ONE
    * corpus collapse to the distinct incidence frame and ONE
    * |types|²-bounded aggregate; the power iteration itself is
    * O(|types|²) DRIVER arithmetic on that workload-sized matrix (the
    * sim14 MMR precedent — the collect is bounded by the type
    * vocabulary squared, never users or events). Running hub scores
    * through the same machinery would be a users-sized frame — that
    * projection stays distributed by design and is NOT collected.
    *
    * Determinism: the matrix entries are exact longs, the iteration
    * folds in sorted-type order with a fixed 50 steps, so the float
    * trajectory is identical run to run; rounds(6). Rows-only by
    * design (a DuckDB replay would need matrix power iteration — the
    * fixpoint is value-pinned on planted graphs in GraphSpec instead:
    * disconnected blocks concentrate on the dominant block, symmetric
    * audiences split 1/√2, and repartition cannot move the output). */
  def g7Hits(spark: SparkSession, dir: String): DataFrame =
    hitsAuthority(Tables.events(spark, dir))

  private[graft] def hitsAuthority(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    // AᵀA via the g6 projection join — |types|² rows, bounded by the
    // type vocabulary: safe to collect (documented bounded site)
    val m: Map[(String, String), Long] = ut
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val types = m.keys.map(_._1).toSeq.distinct.sorted
    var v = types.map(_ => 1.0 / math.sqrt(types.size.toDouble))
    for (_ <- 1 to 50) {
      val nv = types.map(a => types.zip(v).iterator
        .map { case (b, x) => m.getOrElse((a, b), 0L) * x }.sum)
      val norm = math.sqrt(nv.iterator.map(x => x * x).sum)
      v = if (norm == 0.0) nv else nv.map(_ / norm)
    }
    import spark.implicits._
    types.zip(v)
      .map { case (t, a) => (t, m.getOrElse((t, t), 0L), a) }
      .toDF("event_type", "n_users", "authority_raw")
      .select(col("event_type"), col("n_users"),
        round(col("authority_raw"), 6).as("authority"))
      .orderBy(col("event_type"))
  }

  /** G8 — label-propagation communities (Raghavan-Albert-Kumara 2007):
    * near-linear community detection over the co-presence graph — the
    * sub-component structure g5 cannot see (components answer "who is
    * CONNECTED at all"; on a social-style graph that is usually one
    * giant blob, and communities are the dense regions inside it).
    * Synchronous LPA with two determinism devices: every node casts a
    * SELF-vote alongside its neighbor votes (damps the oscillation
    * synchronous LPA is known for on bipartite-ish structure, and keeps
    * isolated nodes labeled without a second join), and the argmax
    * tie-breaks to the SMALLEST label via one max_by((count, −label))
    * aggregate — no rand(), identical labels every run. Fixed 10
    * rounds (the g1 fixed-iteration discipline).
    *
    * 100 TB shape: each round is ONE edge⋈label equi-join + two
    * map-side-combined aggregates, `localCheckpoint` per round
    * truncating lineage (the g1/g4 device); labels are node-sized,
    * votes edge-sized — nothing quadratic anywhere. Report is the
    * community census (label, n_members), top-20 by size. Rows-only
    * like g1/g4: an iterated fixpoint has no tractable SQL form — the
    * planted two-cliques-one-bridge spec pins the semantics. */
  /** `earlyExit`: when true, each round ALSO probes whether ANY label
    * changed (one node-sized join, limit-1 probe) and the loop stops
    * at the first all-stable round — from which point synchronous LPA
    * is a fixpoint by construction (same labels ⇒ same votes ⇒ same
    * labels), so the early exit is outputs-identical BY DEFINITION,
    * not just empirically. OFF by default pending the probe receipt. */
  def lpaCommunities(nodes: DataFrame, pairs: DataFrame,
                     rounds: Int = 10,
                     checkpointEvery: Int = 1,
                     earlyExit: Boolean = false): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"),
        col("id_a").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    var labels = nodes
      .select(col("node"), col("node").as("label"))
      .localCheckpoint(true)
    var i = 1
    var done = false
    while (i <= rounds && !done) {
      val votes = edges
        .join(labels, col("dst") === col("node"))
        .select(col("src"), col("label"))
        .unionByName(labels.select(col("node").as("src"), col("label")))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      val next = votes
        .groupBy(col("src"))
        .agg(max_by(col("label"),
          struct(col("cnt"), (col("label") * -1).as("neg"))).as("label"))
        .select(col("src").as("node"), col("label"))
      // r22 (reversing the r21 "wash" with new numbers): with earlyExit
      // the changed-probe join is FUSED into the round's checkpoint —
      // the pinned frame carries the previous label, so the probe is a
      // scan of the materialized frame instead of its own join job.
      // The r21 probe read this a wash (1.665/1.940 → 1.667/1.785);
      // re-probed in r22 after the session-span memo
      // (OPTIMIZATION_r22.md, 5 reps, identical rows): sf0.1 reg 1.581/1.637 vs fused
      // 1.420/1.483 (0.90× min), 3× disjoint-graph corpus reg
      // 2.057/2.210 vs fused 1.896/1.976 (0.92× min). Labels are
      // unchanged by construction — the join only WIDENS the pinned
      // row; votes never read prev.
      if (earlyExit) {
        val pinned = next
          .join(labels.select(col("node"), col("label").as("prev")),
            Seq("node"))
          .localCheckpoint(true)
        if (pinned.filter(col("label") =!= col("prev")).limit(1).isEmpty)
          done = true
        labels = pinned.select(col("node"), col("label"))
      } else {
        labels =
          if (i % checkpointEvery == 0 || i == rounds)
            next.localCheckpoint(true)
          else next
      }
      i += 1
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)
  }

  def g8LpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val (nodes, edges) = graphFor(spark, dir)
    // earlyExit adopted from the r20 fixpoint probe
    // (BENCH_LOCAL_r20_graph_fixpoint_{sf001,sf01,sfx10}.json): LPA on
    // the co-presence graph converges before the 10-round cap, and the
    // all-stable exit is outputs-identical BY CONSTRUCTION (same
    // labels ⇒ same votes ⇒ same labels) — measured 1.33×/1.41×/1.15×
    // faster at sf0.01/sf0.1/10×, identical=true in every rep. g1/g9
    // STAY on fixed rounds: PageRank has not converged below 1e-9 by
    // round 10 here, so their early-exit variant pays ten per-round
    // delta collects and skips nothing (same receipts).
    lpaCommunities(nodes,
      edges.select(col("user_a").as("id_a"), col("user_b").as("id_b")),
      earlyExit = true)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g8_lpa_communities" -> g8LpaCommunities,
    "g9_personalized_pagerank" -> g9PersonalizedPageRank,
    "g7_hits" -> g7Hits,
    "g1_pagerank" -> g1PageRank,
    "g2_triangle_count" -> g2TriangleCount,
    "g3_degree_stats" -> g3DegreeStats,
    "g4_kcore" -> g4KCore,
    "g5_components" -> g5Components,
    "g6_audience_overlap" -> g6AudienceOverlap,
    "g10_degree_powerlaw" -> g10DegreePowerlaw,
    "g11_local_clustering" -> g11LocalClustering
  )

  val oracle: Map[String, String] = Map(
    // g10 replays the shared spans→pairs edge derivation, the degree
    // histogram, and the same (y=ln cnt, x=ln d) regression as t15
    "g10_degree_powerlaw" ->
      (s"WITH ${WindowFns.SessionSpansCte},\n" +
      """pr AS (
        |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM spans a JOIN spans b
        |    ON a.user_id < b.user_id
        |   AND a.start_s <= b.end_s AND b.start_s <= a.end_s),
        |deg AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM pr UNION ALL SELECT b AS n FROM pr)
        |  GROUP BY n),
        |h AS (
        |  SELECT CAST(d AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS cnt
        |  FROM deg GROUP BY d)
        |SELECT CAST(count(*) AS BIGINT) AS n_degree_levels,
        |  CAST(max(d) AS BIGINT) AS max_degree,
        |  round(regr_slope(ln(cnt), ln(d)), 4) AS slope,
        |  round(regr_r2(ln(cnt), ln(d)), 4) AS r2
        |FROM h""".stripMargin),
    // g11 replays the shared edge derivation, the id-ordered triangle
    // join with all three vertices kept, and the single-rounding
    // integer-ten-thousandths cc quantization
    "g11_local_clustering" ->
      (s"WITH ${WindowFns.SessionSpansCte},\n" +
      """pr AS (
        |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM spans a JOIN spans b
        |    ON a.user_id < b.user_id
        |   AND a.start_s <= b.end_s AND b.start_s <= a.end_s),
        |deg AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT a AS n FROM pr UNION ALL SELECT b AS n FROM pr)
        |  GROUP BY n),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM pr e1 JOIN pr e2 ON e1.b = e2.a
        |    JOIN pr e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (
        |  SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
        |    SELECT x AS n FROM tri UNION ALL SELECT y AS n FROM tri
        |    UNION ALL SELECT z AS n FROM tri)
        |  GROUP BY n),
        |cc AS (
        |  SELECT deg.n, deg.d, coalesce(tn.t, 0) AS t,
        |    CAST(round(2.0 * coalesce(tn.t, 0) / (d * (d - 1)) * 10000)
        |      AS BIGINT) AS cci
        |  FROM deg LEFT JOIN tn USING (n) WHERE d >= 2),
        |p AS (
        |  SELECT CAST(cci // 1000 AS INT) AS cc_decile,
        |    CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(sum(cci) AS BIGINT) AS s_cci
        |  FROM cc GROUP BY 1)
        |SELECT cc_decile, n_nodes,
        |  round(CAST(n_nodes AS DOUBLE) / sum(n_nodes) OVER (), 4)
        |    AS share,
        |  round(CAST(sum(s_cci) OVER () AS DOUBLE)
        |    / (10000.0 * sum(n_nodes) OVER ()), 4) AS avg_cc
        |FROM p ORDER BY cc_decile""".stripMargin),
    "g2_triangle_count" ->
      (s"WITH ${WindowFns.SessionSpansCte},\n" +
      """pr AS (
        |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM spans a JOIN spans b
        |    ON a.user_id < b.user_id
        |   AND a.start_s <= b.end_s AND b.start_s <= a.end_s),
        |deg AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM pr UNION ALL SELECT b AS n FROM pr)
        |  GROUP BY n),
        |w AS (
        |  SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
        |    AS n_wedges FROM deg),
        |t AS (
        |  SELECT count(*) AS n_triangles
        |  FROM pr e1 JOIN pr e2 ON e1.b = e2.a
        |    JOIN pr e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles, w.n_wedges,
        |  CASE WHEN w.n_wedges = 0 THEN NULL
        |       ELSE round(3.0 * t.n_triangles / w.n_wedges, 6)
        |  END AS clustering_coeff
        |FROM t CROSS JOIN w""".stripMargin),
    "g3_degree_stats" ->
      (s"WITH ${WindowFns.SessionSpansCte},\n" +
      """pr AS (
        |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM spans a JOIN spans b
        |    ON a.user_id < b.user_id
        |   AND a.start_s <= b.end_s AND b.start_s <= a.end_s),
        |deg AS (
        |  SELECT n, count(*) AS d FROM (
        |    SELECT a AS n FROM pr UNION ALL SELECT b AS n FROM pr)
        |  GROUP BY n),
        |card AS (
        |  SELECT count(*) AS n_nodes, max(d) AS max_degree,
        |    sum(d) AS deg_sum FROM deg),
        |mom AS (
        |  SELECT count(*) AS m,
        |    CAST(sum(da.d + db.d) AS BIGINT) AS sx,
        |    CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS sxx,
        |    CAST(sum(da.d * db.d * 2) AS BIGINT) AS sxy
        |  FROM pr JOIN deg da ON pr.a = da.n JOIN deg db ON pr.b = db.n)
        |SELECT CAST(card.n_nodes AS BIGINT) AS n_nodes,
        |  CAST(mom.m AS BIGINT) AS n_edges,
        |  CAST(card.max_degree AS BIGINT) AS max_degree,
        |  round(CAST(card.deg_sum AS DOUBLE) / card.n_nodes, 4)
        |    AS avg_degree,
        |  CASE WHEN 2 * mom.m * mom.sxx - mom.sx * mom.sx = 0 THEN NULL
        |       ELSE round((2.0 * mom.m * mom.sxy
        |                   - CAST(mom.sx AS DOUBLE) * mom.sx)
        |                / (2.0 * mom.m * mom.sxx
        |                   - CAST(mom.sx AS DOUBLE) * mom.sx), 6)
        |  END AS assortativity
        |FROM card CROSS JOIN mom""".stripMargin),
    // g5's oracle is a from-first-principles transitive closure
    // (recursive CTE, set-semantics UNION = guaranteed termination):
    // component id = min reachable node, exactly the min-label contract
    // of the Spark kernel — two INDEPENDENT algorithms, one partition
    "g5_components" ->
      (s"WITH RECURSIVE ${WindowFns.SessionSpansCte},\n" +
      """pr AS (
        |  SELECT DISTINCT a.user_id AS a, b.user_id AS b
        |  FROM spans a JOIN spans b
        |    ON a.user_id < b.user_id
        |   AND a.start_s <= b.end_s AND b.start_s <= a.end_s),
        |ed AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
        |nodes AS (SELECT DISTINCT user_id AS n FROM spans),
        |reach(n, m) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT r.n, e.b FROM reach r JOIN ed e ON e.a = r.m),
        |lab AS (SELECT n, min(m) AS component_id FROM reach GROUP BY n)
        |SELECT component_id, count(*) AS n_nodes
        |FROM lab GROUP BY component_id
        |ORDER BY n_nodes DESC, component_id""".stripMargin),
    "g6_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sz AS (
        |  SELECT event_type, count(*) AS n FROM ut GROUP BY event_type),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_common
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |   AND a.event_type < b.event_type
        |  GROUP BY type_a, type_b)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_common,
        |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 4)
        |    AS jaccard,
        |  round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 4)
        |    AS overlap_coeff
        |FROM pr
        |JOIN sz sa ON pr.type_a = sa.event_type
        |JOIN sz sb ON pr.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin
  )
}
