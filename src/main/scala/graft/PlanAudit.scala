package graft
/** Dev tool: dump formatted physical plans for scale-critical queries so
  * pushdown / broadcast / codegen can be audited. `census` mode instead
  * prints one line per REGISTERED query — shuffle-exchange count, join
  * operators, nested-loop flag — the whole-surface audit that catches a
  * new query accidentally shipping a heavy plan (PlanSpec pins the known
  * properties; the census finds the unknown ones). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    if (args.headOption.contains("census")) {
      val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
        try {
          val p = fn(spark, dir).queryExecution.executedPlan.toString
          val ex = p.linesIterator.count(l =>
            l.contains("Exchange ") && !l.contains("BroadcastExchange"))
          val joins = Seq("SortMergeJoin", "BroadcastHashJoin",
            "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
            .filter(p.contains).mkString("+")
          f"$n%-28s exchanges=$ex%-3d joins=${if (joins.isEmpty) "-" else joins}"
        } catch { case e: Throwable => f"$n%-28s ERROR ${e.getMessage}" }
      }
      rows.foreach(println)
      val heavy = rows.filter(r => r.contains("NestedLoop") || r.contains("Cartesian"))
      println(s"\n${rows.size} queries; ${heavy.size} with nested-loop/cartesian " +
        "(expected: only the bounded d5 kernel and broadcast-singleton crossJoins)")
    } else {
      val names = if (args.nonEmpty) args.toSeq else Seq(
        "p3_projection", "p5_inlist_filter", "j1_inner_join", "j4_broadcast_hint",
        "j6_asof_join", "a5_two_key_summary", "o5_top_n", "d3_minhash_lsh",
        "sim1_cosine_topk", "u1_welford_stats", "mm2_decode_features")
      names.foreach { n =>
        println(s"\n########## $n ##########")
        println(SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    spark.stop()
  }
}
