package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Projection / filter / sort operators (SURVEY §2.2 P1-P7 and §2.6 O1-O5).
  * Filters and narrow selects stay declarative so they reach the parquet
  * scan as PushedFilters/ReadSchema — Catalyst prunes unread columns.
  */
object Projections {

  /** P1 — exact full-row dedup (spark_processor.py:83), surfaced as a
    * deterministic count so the result is order-independent. */
  def p1DedupExact(spark: SparkSession, dir: String): DataFrame =
    Clean.dedup(Tables.events(spark, dir)).agg(count(lit(1)).as("n_distinct_rows"))

  /** P2 — IS NOT NULL filter chain (spark_processor.py:84-86). */
  def p2NullFilter(spark: SparkSession, dir: String): DataFrame =
    Clean.requireFields(Seq("event_type", "value", "ts"))(Tables.events(spark, dir))
      .agg(count(lit(1)).as("n_valid_rows"))

  /** P3/O3 — narrow column projection + keyed sort + limit
    * (spark_processor.py:153). The 4-column select prunes the parquet scan
    * to exactly those columns. */
  def p3Projection(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
      .limit(50)

  /** P5 — IN-list filter (dashboard.py:349-352). */
  def p5InListFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
        round(avg(col("value")), 2).as("avg_value"))
      .orderBy(col("event_type"))

  /** P6 — schema-driven numeric projection (dashboard.py:290
    * select_dtypes): the numeric column set is discovered from the schema,
    * not hardcoded. */
  def p6NumericProjection(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(spark, dir)
    val numeric = df.schema.fields.collect {
      case f if f.dataType.typeName.matches("double|float|integer|long") => f.name
    }.sorted
    val aggs = numeric.toIndexedSeq.map(c => round(avg(col(c)), 2).as(s"avg_$c"))
    df.select(numeric.toIndexedSeq.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** P7 — latest-reading selector done distributed: max_by per group
    * (dashboard.py:266 does iloc[-1] in pandas; the Spark-native form is an
    * argmax aggregate, no sort + collect). Keyed on event_id (the insertion
    * sequence) for tie-free determinism. */
  def p7LatestReading(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(max_by(col("value"), col("event_id")).as("latest_value"),
        max(col("event_id")).as("latest_event_id"))
      .orderBy(col("event_type"))

  /** O1 — sort desc by an aggregate (spark_processor.py:169). */
  def o1SortByAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p_brand"))

  /** O2 — sort asc by key (spark_processor.py:189). */
  def o2SortAscByKey(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).orderBy(col("n_name"))

  /** O4 — sort by event time (dashboard.py:99). Timestamp is projected as
    * a second-precision string so nanosecond-vs-microsecond parquet
    * precision cannot affect cross-engine ordering or values. */
  def o4SortByTimestamp(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("value"))
      .orderBy(col("ts_s"), col("event_id"))
      .limit(100)

  /** O5 — top-N by measure: Spark plans orderBy+limit as
    * TakeOrderedAndProject (no global sort, per-partition heaps). */
  def o5TopN(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** O6 — keyset (cursor) pagination: serve page 3 of a stable
    * (event_type, event_id) total order by the CURSOR predicate
    * `key > (last key of page 2)`, not by OFFSET. The distinction is
    * the whole point at scale: OFFSET n must produce-and-discard n
    * rows on every request (deep pages get linearly slower and the
    * discard rides a global sort), while the keyset predicate PUSHES
    * INTO THE SCAN (parquet row groups before the cursor prune via
    * min/max stats) and the page itself is a TakeOrderedAndProject —
    * per-partition heaps of 50, no global sort, constant work per
    * page however deep. This is how every serious API paginates a
    * 100 TB table; the oracle proves equivalence by being exactly the
    * OFFSET form DuckDB can afford at test scale.
    *
    * The cursor fetch is one bounded driver collect (two pages = 100
    * rows — a real server holds it from the previous response; the
    * registered query derives it from data so the whole thing stays
    * deterministic). Tie-safety: event_id is unique, so the composite
    * key is a TOTAL order and the page boundary cannot split ties. */
  def o6KeysetPage(spark: SparkSession, dir: String): DataFrame = {
    val pageSize = 50
    val ordered = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"))
    val cursor = ordered
      .orderBy(col("event_type"), col("event_id"))
      .limit(2 * pageSize).collect().last
    val (ct, cid) = (cursor.getString(0), cursor.getLong(1))
    ordered
      .filter(col("event_type") > ct ||
        (col("event_type") === ct && col("event_id") > cid))
      .orderBy(col("event_type"), col("event_id"))
      .limit(pageSize)
  }

  /** P8 — column data-quality profile (the Deequ/Great-Expectations
    * shape): per column of the fact table, null count and EXACT distinct
    * count, plus the row total — the first report any ingest pipeline
    * publishes about a new drop. Stats are integers only, so the oracle
    * compares exact values (string reprs of doubles/timestamps differ
    * between engines; a profile that hashes cross-engine sticks to
    * counts). ONE aggregate row computes every stat in a single pass
    * (Spark Expands the multi-distinct), then `stack` unpivots to a
    * (col_name, n_nulls, n_distinct) row per column. */
  def p8ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      countDistinct(col(c)).as(s"${c}_distinct")))
    val one = Tables.events(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ")
    one.select(col("n_rows"),
        expr(s"stack(${cols.length}, $stackArgs) AS (col_name, n_nulls, n_distinct)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"))
      .orderBy(col("col_name"))
  }

  /** P9 — join-key skew profile: the top-10 heaviest values of a join
    * key column with their corpus share — THE report an engineer reads
    * before keying a 100 TB shuffle on a column (one bot user at 20%
    * means salting or AQE skew-join; this query is how you find out
    * BEFORE the job stalls on one reducer). Scale shape: the per-key
    * count is a map-side-combined aggregate (key-bounded shuffle, hot
    * keys collapse per task — profiling skew must not itself be
    * skew-vulnerable, which a count WINDOW over the key would be); the
    * total rides in as a broadcast singleton; top-10 compiles to
    * TakeOrderedAndProject. */
  def p9SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("user_id"), col("n"),
        round(col("n") * 100.0 / col("total"), 4).as("share_pct"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(10)
  }

  /** P10 — join-size forecast: the planning number a 100 TB join needs
    * BEFORE anyone shuffles 100 TB — |A ⋈ B on k| computed exactly from
    * two cheap per-key count histograms, since the join's cardinality
    * is Σ_k cA(k)·cB(k). Each histogram is one map-side-combined
    * aggregate of a single key column (the only corpus-sized work —
    * narrow, no fact row ever joins); the product/top-k stage runs on
    * KEY-cardinality-sized frames. The per-key contributions double as
    * the skew forecast: a key carrying 30% of the output is the one to
    * salt or let AQE split. This is the measured version of what a CBO
    * estimates from NDV sketches — same number, exact, for one narrow
    * pass per side. */
  def p10JoinForecast(spark: SparkSession, dir: String): DataFrame = {
    val pairs = joinForecast(
      Tables.events(spark, dir).select(col("user_id")),
      Tables.orders(spark, dir).select(col("o_custkey").as("user_id")),
      "user_id")
    val total = pairs.agg(sum(col("n_pairs")).as("total_pairs"))
    pairs.crossJoin(broadcast(total))
      .select(col("user_id"), col("n_left"), col("n_right"), col("n_pairs"),
        round(col("n_pairs") * 100.0 / col("total_pairs"), 4).as("share_pct"))
      .orderBy(col("n_pairs").desc, col("user_id"))
      .limit(10)
  }

  /** The forecast kernel: per-key (n_left, n_right, n_pairs) for every
    * key present on BOTH sides — Σ n_pairs IS the inner-join output
    * cardinality (exact, not an estimate), pinned against the real join
    * in ForecastSpec. */
  private[graft] def joinForecast(left: DataFrame, right: DataFrame,
                                  key: String): DataFrame =
    left.groupBy(col(key)).agg(count(lit(1)).as("n_left"))
      .join(right.groupBy(col(key)).agg(count(lit(1)).as("n_right")), Seq(key))
      .withColumn("n_pairs", col("n_left") * col("n_right"))

  /** P11 — schema-contract audit: every (table, column) of the declared
    * contract ([[Tables.tableContract]]) against what the engine
    * actually serves from the directory, each row stamped ok / retyped /
    * missing / extra — the Great-Expectations/Delta-enforcement verb,
    * and the alarm that fires FIRST when an upstream producer changes
    * an encoding (this round's events-ts drift broke 40 queries before
    * any value check could complain; this query would have named the
    * column in one row). Metadata-only by design: reading N schemas
    * costs N parquet-footer reads whether the tables hold 60 k rows or
    * 100 TB — the audit's cost is O(columns), never O(data). Events are
    * audited AS SERVED (through [[Tables.events]]'s normalization), so
    * the contract pins engine semantics, not which parquet logical type
    * this generation happened to write. The ten schema reads are
    * independent, so they overlap on a small driver pool; on a fresh
    * session each is an inference job, whose result [[Tables.t]]
    * memoizes for the session's later scans. */
  def p11SchemaAudit(spark: SparkSession, dir: String): DataFrame = {
    val tables = Tables.tableContract.map(_._1).distinct.sorted
    val schemas = graft.Parallel.parallelLegs(4)(tables.map { t => () =>
      try {
        Some((if (t == "events") Tables.events(spark, dir)
              else Tables.t(spark, dir, t)).schema)
      } catch { case _: Exception => None }
    })
    schemaAudit(spark, tables.zip(schemas).toMap)
  }

  /** The audit kernel over caller-supplied observed schemas (None = the
    * table failed to load at all) — injectable so the spec plants
    * retyped/missing/extra columns without touching testdata. */
  def schemaAudit(spark: SparkSession,
                  observed: Map[String, Option[org.apache.spark.sql.types.StructType]]): DataFrame = {
    import spark.implicits._
    val obs: Seq[(String, String, String)] = observed.toSeq.flatMap {
      case (t, Some(st)) =>
        st.fields.map(f => (t, f.name, Tables.canonicalType(f.dataType)))
      case (_, None) => Seq.empty
    }
    val contract = Tables.tableContract
      .map { case (t, c, ty) => (t, c) -> ty }.toMap
    val obsMap = obs.map { case (t, c, ty) => (t, c) -> ty }.toMap
    val keys = (contract.keySet ++ obsMap.keySet).toSeq.sorted
    keys.map { case (t, c) =>
      val exp = contract.get((t, c))
      val got = obsMap.get((t, c))
      val status = (exp, got) match {
        case (Some(_), None)              => "missing"
        case (None, Some(_))              => "extra"
        case (Some(e), Some(g)) if e == g => "ok"
        case _                            => "retyped"
      }
      (t, c, status, exp.orNull, got.orNull)
    }.toDF("table_name", "col_name", "status", "expected_type", "actual_type")
  }

  /** The p11 audit as a RUN GATE: the breaking rows (retyped / missing
    * — the classes that silently fail whole query tiers, as the r10
    * events-ts regeneration did to 40 queries) rendered as one line
    * each; empty when the contract holds. `extra` columns are additive
    * drift — p11 reports them, the gate does not block on them.
    * Bench and Verify call this BEFORE their first query and abort
    * loudly on a non-empty result, so a regenerated-testdata drift
    * names its column up front instead of surfacing as N cryptic
    * failures downstream. */
  def contractViolations(spark: SparkSession, dir: String): Seq[String] =
    violationLines(p11SchemaAudit(spark, dir))

  /** The gate's row rendering, split from the audit so the spec can
    * drive it through [[schemaAudit]]'s injectable observed-schema map
    * (planted retypes) without touching testdata. */
  private[graft] def violationLines(audit: DataFrame): Seq[String] =
    audit.filter(col("status").isin("retyped", "missing"))
      .collect()
      .map { r =>
        val got = Option(r.getString(4)).getOrElse("nothing")
        s"${r.getString(0)}.${r.getString(1)}: ${r.getString(2)} " +
          s"(contract ${r.getString(3)}, observed $got)"
      }.toSeq

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p10_join_forecast" -> p10JoinForecast,
    "p9_skew_profile" -> p9SkewProfile,
    "p8_column_profile" -> p8ColumnProfile,
    "p11_schema_audit" -> p11SchemaAudit,
    "p1_dedup_exact" -> p1DedupExact,
    "p2_null_filter" -> p2NullFilter,
    "p3_projection" -> p3Projection,
    "p5_inlist_filter" -> p5InListFilter,
    "p6_numeric_projection" -> p6NumericProjection,
    "p7_latest_reading" -> p7LatestReading,
    "o1_sort_by_agg" -> o1SortByAgg,
    "o2_sort_asc_by_key" -> o2SortAscByKey,
    "o4_sort_by_timestamp" -> o4SortByTimestamp,
    "o5_top_n" -> o5TopN,
    "o6_keyset_page" -> o6KeysetPage
  )

  val oracle: Map[String, String] = Map(
    "p11_schema_audit" -> {
      // both sides interpolate the SAME contract constant; DuckDB maps
      // its own type names onto the canonical vocabulary (pragma over
      // the check harness's views of the same parquet files)
      val contractValues = Tables.tableContract
        .map { case (t, c, ty) => s"('$t', '$c', '$ty')" }.mkString(",\n|    ")
      val tables = Tables.tableContract.map(_._1).distinct.sorted
      val obsUnion = tables.map(t =>
        s"""SELECT '$t' AS table_name, name AS col_name,
           |  CASE type
           |    WHEN 'BIGINT' THEN 'int64' WHEN 'INTEGER' THEN 'int32'
           |    WHEN 'DOUBLE' THEN 'float64' WHEN 'FLOAT' THEN 'float32'
           |    WHEN 'VARCHAR' THEN 'string' WHEN 'FLOAT[]' THEN 'list<float32>'
           |    WHEN 'TIMESTAMP' THEN 'timestamp'
           |    WHEN 'TIMESTAMP_NS' THEN 'timestamp'
           |    WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'timestamp'
           |    WHEN 'BOOLEAN' THEN 'bool' WHEN 'BLOB' THEN 'binary'
           |    ELSE lower(type) END AS actual_type
           |FROM pragma_table_info('$t')""").mkString("\n|UNION ALL\n|")
      s"""WITH contract(table_name, col_name, expected_type) AS (VALUES
        |    $contractValues),
        |obs AS (
        |$obsUnion)
        |SELECT table_name, col_name,
        |  CASE WHEN o.actual_type IS NULL THEN 'missing'
        |       WHEN c.expected_type IS NULL THEN 'extra'
        |       WHEN c.expected_type = o.actual_type THEN 'ok'
        |       ELSE 'retyped' END AS status,
        |  c.expected_type, o.actual_type
        |FROM contract c FULL OUTER JOIN obs o USING (table_name, col_name)
        |ORDER BY table_name, col_name""".stripMargin
    },
    "p10_join_forecast" ->
      """WITH l AS (SELECT user_id, count(*) AS n_left
        |           FROM events GROUP BY user_id),
        |r AS (SELECT o_custkey AS user_id, count(*) AS n_right
        |      FROM orders GROUP BY o_custkey),
        |p AS (SELECT user_id, n_left, n_right, n_left * n_right AS n_pairs
        |      FROM l JOIN r USING (user_id)),
        |t AS (SELECT sum(n_pairs) AS total_pairs FROM p)
        |SELECT user_id, n_left, n_right, n_pairs,
        |  round(n_pairs * 100.0 / total_pairs, 4) AS share_pct
        |FROM p CROSS JOIN t
        |ORDER BY n_pairs DESC, user_id LIMIT 10""".stripMargin,
    "p9_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT user_id, n, round(n * 100.0 / total, 4) AS share_pct
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
    "p8_column_profile" -> {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      cols.map { c =>
        // Spark profiles the loaded frame, whose ts is truncated to
        // MICROSECONDS (Tables.events: `ts div 1000`); mirror the
        // truncation so both sides count distinct over the same column
        // — two events distinct only below 1 µs must collapse in BOTH.
        val d = if (c == "ts") "epoch_ns(ts) // 1000" else c
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_nulls,
           |  count(DISTINCT $d) AS n_distinct
           |FROM events""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "p1_dedup_exact" ->
      "SELECT count(*) AS n_distinct_rows FROM (SELECT DISTINCT * FROM events)",
    "p2_null_filter" ->
      """SELECT count(*) AS n_valid_rows FROM events
        |WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL""".stripMargin,
    "p3_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag
        |LIMIT 50""".stripMargin,
    "p5_inlist_filter" ->
      """SELECT event_type, count(*) AS n, round(avg(value), 2) AS avg_value
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "p6_numeric_projection" ->
      """SELECT round(avg(l_discount), 2) AS avg_l_discount,
        |  round(avg(l_extendedprice), 2) AS avg_l_extendedprice,
        |  round(avg(l_linenumber), 2) AS avg_l_linenumber,
        |  round(avg(l_orderkey), 2) AS avg_l_orderkey,
        |  round(avg(l_partkey), 2) AS avg_l_partkey,
        |  round(avg(l_quantity), 2) AS avg_l_quantity,
        |  round(avg(l_suppkey), 2) AS avg_l_suppkey,
        |  round(avg(l_tax), 2) AS avg_l_tax
        |FROM lineitem""".stripMargin,
    "p7_latest_reading" ->
      """SELECT event_type, max_by(value, event_id) AS latest_value,
        |  max(event_id) AS latest_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "o1_sort_by_agg" ->
      "SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand ORDER BY n DESC, p_brand",
    "o2_sort_asc_by_key" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_name",
    "o4_sort_by_timestamp" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
        |FROM events ORDER BY ts_s, event_id LIMIT 100""".stripMargin,
    "o5_top_n" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    // o6's oracle is the OFFSET formulation the keyset predicate
    // replaces - equivalence IS the correctness claim
    "o6_keyset_page" ->
      """SELECT event_type, event_id, user_id, round(value, 2) AS value
        |FROM events ORDER BY event_type, event_id
        |LIMIT 50 OFFSET 100""".stripMargin
  )
}
