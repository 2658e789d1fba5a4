package graft

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.ext.SessionMemo

/** Table loaders + declared schemas for the driver testdata
  * (/root/repo/TESTDATA.md) and for the air-quality observation record
  * modeled on the reference's 17-column StructType
  * (reference: spark_processing/spark_processor.py:32-52).
  */
object Tables {

  /** Read one testdata table. Parquet is self-describing (reference
    * dashboard.py:47 re-reads it the same way on every refresh);
    * Catalyst prunes columns and pushes filters into this scan
    * automatically.
    *
    * Inferring the schema is itself a Spark job (footer reads through
    * `mergeSchemasInParallel`, even for one file), run before the query
    * is planned. So the inferred schema is memoized per (session, path)
    * beside a fingerprint of the files it came from — (path, length,
    * mtime) of every file and directory under the path — and later
    * reads pass it to the reader, which then plans without a job. The
    * fingerprint is checked on every read: a table rewritten in place
    * is re-inferred on its next read, replacing its one entry, with no
    * [[ext.Similarity.invalidateCaches]] needed. A path that cannot be
    * listed (a missing one) is read as before and stores nothing, so
    * it fails exactly as before.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val (_, schema) = schemaMemo.getOrRebuild(spark, path)(_._1 == fp)(
          fp -> spark.read.parquet(path).schema)
        spark.read.schema(schema).parquet(path)
    }
  }

  /** `path → (fingerprint, inferred schema)`, plain driver data only. */
  private[graft] val schemaMemo =
    SessionMemo[String, (Seq[(String, Long, Long)], StructType)]()

  /** (path, length, mtime) of `path` and, for a directory, of everything
    * under it, through `listStatus` on the session's own Hadoop
    * configuration (a fresh `Configuration`, or `listFiles`' located
    * statuses, cost milliseconds per call); None when it cannot be
    * listed. */
  private def fingerprint(spark: SparkSession, path: String)
      : Option[Seq[(String, Long, Long)]] =
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(s: FileStatus): Seq[(String, Long, Long)] =
        (s.getPath.toString, s.getLen, s.getModificationTime) +:
          (if (s.isDirectory)
             fs.listStatus(s.getPath).toSeq.sortBy(_.getPath.toString)
               .flatMap(walk)
           else Nil)
      Some(walk(fs.getFileStatus(root)))
    } catch { case _: IOException => None }

  /** The events table's `ts` column has shipped in two physical encodings
    * across testdata generations: parquet TIMESTAMP(NANOS) — which Spark's
    * microsecond TimestampType cannot read directly, so with
    * `spark.sql.legacy.parquet.nanosAsLong=true` ([[Sessions.builder]] sets
    * it) it surfaces as LongType nanos — and plain TIMESTAMP(MICROS), which
    * reads as TimestampType natively. Adapt on the OBSERVED schema, not an
    * assumed one: truncate nanos to micros with INTEGER division (a double
    * division would lose precision at 1e18-nanosecond magnitudes), pass
    * native timestamps through untouched. Either way callers see one
    * contract: `ts` is TimestampType at microsecond precision.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = t(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP_NTZ (isAdjustedToUTC=false parquet) → session-tz
      // TimestampType. The session is pinned to UTC (Sessions.builder),
      // so the cast is value-identical and unix_micros/unix_timestamp
      // callers type-check again.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** The DECLARED testdata contract (TESTDATA.md tables, canonical type
    * names) — the single source of truth interpolated into BOTH the p11
    * Spark audit and its DuckDB oracle, the D10N discipline. Canonical
    * names are engine-neutral on purpose: each engine maps its own type
    * system onto them ([[canonicalType]] Spark-side, a CASE in the
    * oracle SQL), so the contract never encodes one engine's spelling.
    * Motivated by this round's drift incident: the events `ts` column
    * changed physical encoding between testdata generations and took
    * down 40 queries — this contract, checked as a query, is the alarm
    * that fires FIRST next time. */
  private[graft] val tableContract: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "int64"), ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int32"), ("customer", "c_acctbal", "float64"),
    ("customer", "c_mktsegment", "string"),
    ("documents", "doc_id", "int64"), ("documents", "text", "string"),
    ("documents", "lang", "string"), ("documents", "source", "string"),
    ("documents", "n_chars", "int64"),
    ("embeddings", "vec_id", "int64"),
    ("embeddings", "embedding", "list<float32>"),
    ("embeddings", "label", "int32"),
    ("events", "event_id", "int64"), ("events", "ts", "timestamp"),
    ("events", "user_id", "int64"), ("events", "event_type", "string"),
    ("events", "value", "float64"), ("events", "props", "string"),
    ("lineitem", "l_orderkey", "int64"), ("lineitem", "l_partkey", "int64"),
    ("lineitem", "l_suppkey", "int64"), ("lineitem", "l_linenumber", "int32"),
    ("lineitem", "l_quantity", "float64"),
    ("lineitem", "l_extendedprice", "float64"),
    ("lineitem", "l_discount", "float64"), ("lineitem", "l_tax", "float64"),
    ("lineitem", "l_returnflag", "string"),
    ("lineitem", "l_linestatus", "string"),
    ("lineitem", "l_shipdate", "timestamp"),
    ("nation", "n_nationkey", "int32"), ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int32"),
    ("orders", "o_orderkey", "int64"), ("orders", "o_custkey", "int64"),
    ("orders", "o_orderstatus", "string"), ("orders", "o_totalprice", "float64"),
    ("orders", "o_orderdate", "timestamp"),
    ("orders", "o_orderpriority", "string"),
    ("part", "p_partkey", "int64"), ("part", "p_name", "string"),
    ("part", "p_brand", "string"), ("part", "p_type", "string"),
    ("part", "p_size", "int32"), ("part", "p_retailprice", "float64"),
    ("region", "r_regionkey", "int32"), ("region", "r_name", "string"),
    ("supplier", "s_suppkey", "int64"), ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int32"), ("supplier", "s_acctbal", "float64")
  )

  /** Spark type → canonical contract name. TIMESTAMP and TIMESTAMP_NTZ
    * both canonicalize to "timestamp": the contract is about what the
    * engine SERVES (the loaders normalize to session-tz micros), not
    * which parquet logical type this generation happened to write. */
  private[graft] def canonicalType(dt: DataType): String = dt match {
    case LongType                => "int64"
    case IntegerType             => "int32"
    case DoubleType              => "float64"
    case FloatType               => "float32"
    case StringType              => "string"
    case TimestampType           => "timestamp"
    case TimestampNTZType        => "timestamp"
    case BooleanType             => "bool"
    case BinaryType              => "binary"
    case ArrayType(FloatType, _) => "list<float32>"
    case other                   => other.simpleString
  }

  /** The air-quality observation schema, mirroring the reference's
    * explicit 17-column StructType (spark_processor.py:34-52). Event time
    * is kept as STRING at ingest exactly like the reference (producer.py:81
    * emits ISO-8601 strings) and parsed with to_timestamp downstream.
    */
  val airQualitySchema: StructType = StructType(Seq(
    StructField("location", StringType),
    StructField("region", StringType),
    StructField("country", StringType),
    StructField("localtime", StringType),
    StructField("temp_c", FloatType),
    StructField("humidity", IntegerType),
    StructField("condition", StringType),
    StructField("timestamp", StringType),
    StructField("co", FloatType),
    StructField("no2", FloatType),
    StructField("o3", FloatType),
    StructField("so2", FloatType),
    StructField("pm2_5", FloatType),
    StructField("pm10", FloatType),
    StructField("processed_timestamp", StringType),
    StructField("kafka_offset", LongType),
    StructField("kafka_partition", IntegerType)
  ))

  /** Schema of the flattened-in-flight record BEFORE consumer enrichment
    * (producer.py:73-89 builds exactly these 14 fields). */
  val airQualityWireSchema: StructType =
    StructType(airQualitySchema.fields.filterNot(f =>
      Set("processed_timestamp", "kafka_offset", "kafka_partition")(f.name)))
}
