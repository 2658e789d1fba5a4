package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: a regex over query names — dump (and emit
    // oracle SQL for) only the matching subset. The driver always calls
    // with two args; the filter is the builder's fast local iteration
    // path (full sweep ~5 min, one query's re-check seconds).
    val (sfDir, outDir, nameRe) = args match {
      case Array(s, o)    => (s, o, ".*")
      case Array(s, o, f) => (s, o, f)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Gate.schemaContract(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.matches(nameRe)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        e.getStackTrace.take(5).foreach(f => System.err.println(s"[verify]   at $f"))
        Option(e.getCause).foreach(c =>
          System.err.println(s"[verify]   caused by: ${c.getClass.getName}: ${c.getMessage}"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Driver-solved constants expand into the dumped SQL here (the
    // OracleLiterals device): the JSON the driver feeds DuckDB is plain
    // ANSI with inline literals from the SAME deterministic solve the
    // queries above used.
    val json = SparkEntry.oracleSql.filter(_._1.matches(nameRe))
      .map { case (k, v) =>
        s"${q(k)}: ${q(OracleLiterals.expand(spark, sfDir, v))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
