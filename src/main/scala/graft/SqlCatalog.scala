package graft

import org.apache.spark.sql.SparkSession

/** The SQL entry point (the r11 verdict's completeness note): one call
  * registers every testdata table of a scale-factor directory as a temp
  * view under its canonical name, after which a SQL-ONLY client — a JDBC
  * notebook, a `spark.sql` REPL, a BI tool on a Thrift server — can run
  * the engine's whole relational surface with no Scala at all. The
  * native expression suite (vec_dot/vec_cosine/vec_project/
  * vec_argmin_cell/simhash64/simhash64_text/minhash_bands/
  * shingle_hashes/rolling_chunks/might_contain) is injected at the
  * builtin layer by [[GraftExtensions]], so those resolve from SQL text
  * in every session clone too — `SELECT vec_cosine(a.embedding,
  * b.embedding) FROM embeddings a JOIN embeddings b ...` just works.
  *
  * Views are session-scoped metadata over the parquet scans [[Tables]]
  * serves (events gets its timestamp normalization, everything else its
  * plain scan) — registering them costs no data movement, and every
  * Catalyst optimization the DataFrame surface gets (pushdown, pruning,
  * AQE) applies identically to the SQL text. */
object SqlCatalog {

  /** Canonical table names, matching the DuckDB oracle's view names —
    * one vocabulary across the Scala surface, the SQL surface, and the
    * differential-test oracle. */
  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register dir's tables as temp views in `spark`'s catalog. */
  def open(spark: SparkSession, dir: String): Unit =
    TableNames.foreach {
      case "events" =>
        Tables.events(spark, dir).createOrReplaceTempView("events")
      case n =>
        Tables.t(spark, dir, n).createOrReplaceTempView(n)
    }
}
