package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Ingest, Windows}

case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)
case class TDoc(doc_id: Long, text: String, lang: String, source: String,
                n_chars: Long)
case class OhlcEv(event_id: Long, ts: Timestamp, event_type: String, value: Double)
case class KafkaMsg(value: String, offset: Long, partition: Int)

/** Structured Streaming semantics (T1-T9) driven through MemoryStream with
  * manually advanced event time — watermark closure, late-data drop,
  * session gaps, and stateful dedup. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("kafka-shaped ingest: from_json decode + lineage enrichment (S4/S6/F11/T5)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[KafkaMsg]
    val q = Ingest.enrich(Ingest.decodeKafkaShape(in.toDF()))
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    in.addData(
      KafkaMsg("""{"location":"London","temp_c":15.5,"pm2_5":20.0,"timestamp":"2024-01-01T10:00:00"}""", 41L, 2),
      KafkaMsg("""not json at all""", 42L, 2))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ingest_out").collect()
    assert(out.length == 2)
    val ok = out.find(_.getAs[Long]("kafka_offset") == 41L).get
    assert(ok.getAs[String]("location") == "London")
    assert(ok.getAs[Float]("temp_c") == 15.5f)
    assert(ok.getAs[Int]("kafka_partition") == 2)
    assert(ok.getAs[String]("processed_timestamp") != null)
    // malformed JSON degrades to null fields, record is not lost (lineage kept)
    val bad = out.find(_.getAs[Long]("kafka_offset") == 42L).get
    assert(bad.getAs[String]("location") == null)
  }

  test("tumbling window closes on watermark; late rows are dropped (T6/T7)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Windows.tumblingHourly(in.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    in.addData(
      Ev(t("2024-01-01 10:05:00"), "click", 1, 10.0),
      Ev(t("2024-01-01 10:45:00"), "click", 1, 5.0))
    q.processAllAvailable()
    // watermark still inside the 10:00 window → nothing finalized yet
    assert(spark.table("tumbling_out").isEmpty)
    // advance event time well past 11:00 + 10 min watermark
    in.addData(Ev(t("2024-01-01 12:00:00"), "click", 1, 1.0))
    q.processAllAvailable()
    val closed = spark.table("tumbling_out").collect()
    assert(closed.length == 1)
    assert(closed.head.getAs[Long]("n") == 2)
    assert(closed.head.getAs[Double]("sum_value") == 15.0)
    // a late row for the already-closed 10:00 window must be dropped
    in.addData(Ev(t("2024-01-01 10:30:00"), "click", 1, 99.0))
    in.addData(Ev(t("2024-01-01 14:00:00"), "click", 1, 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("tumbling_out")
      .filter(col("window_start") === t("2024-01-01 10:00:00")).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n") == 2)
  }

  test("session windows split on >5 min inactivity gaps (T9)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Windows.sessions(in.toDF())
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    in.addData(
      Ev(t("2024-01-01 10:00:00"), "click", 7, 1.0),
      Ev(t("2024-01-01 10:03:00"), "click", 7, 2.0),  // same session
      Ev(t("2024-01-01 10:20:00"), "click", 7, 4.0))  // new session (17 min gap)
    in.addData(Ev(t("2024-01-01 12:00:00"), "click", 8, 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("session_out")
      .filter(col("user_id") === 7).orderBy(col("session_start")).collect()
    assert(sessions.length == 2)
    assert(sessions(0).getAs[Long]("n_events") == 2)
    assert(sessions(0).getAs[Double]("session_value") == 3.0)
    assert(sessions(1).getAs[Long]("n_events") == 1)
  }

  test("batch sessionAssign reproduces streaming session_window exactly (parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // Deterministic replay with a gap EXACTLY at the 5-minute threshold
    // (user 9): session_window's merge boundary is INCLUSIVE — the
    // 10:05:00 event still merges (verified: streaming emits ONE
    // 3-event session for user 9) — so the batch rule must be
    // `gap > threshold` starts a session, not `>=`. This is exactly the
    // boundary where the two definitions could silently drift.
    val evs = Seq(
      Ev(t("2024-01-01 10:00:00"), "click", 7, 1.0),
      Ev(t("2024-01-01 10:03:00"), "click", 7, 2.0),  // merges (3 min)
      Ev(t("2024-01-01 10:20:00"), "click", 7, 4.0),  // new (17 min)
      Ev(t("2024-01-01 10:00:00"), "click", 9, 1.0),
      Ev(t("2024-01-01 10:05:00"), "click", 9, 2.0),  // exactly 300 s → merges
      Ev(t("2024-01-01 10:09:59"), "click", 9, 3.0))  // 299 s → merges
    val in = MemoryStream[Ev]
    val q = Windows.sessions(in.toDF())
      .writeStream.format("memory").queryName("parity_out")
      .outputMode("append").start()
    in.addData(evs: _*)
    in.addData(Ev(t("2024-01-01 12:00:00"), "click", 999, 0.0)) // advance watermark
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("parity_out")
      .filter(col("user_id") < 999)
      .select(col("session_start"), col("user_id"), col("n_events"), col("session_value"))
      .as[(Timestamp, Long, Long, Double)].collect().toSet
    val batch = graft.ext.WindowFns
      .sessionAssign(evs.toDF(), gapSeconds = 300L, orderCol = "ts")
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
      .select(col("session_start"), col("user_id"), col("n_events"), col("session_value"))
      .as[(Timestamp, Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 3) // u7: {2 evs}, {1 ev}; u9: {3 evs} incl. boundary
  }

  test("dropDuplicatesWithinWatermark keeps first occurrence only (T9)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Windows.dedupWithinWatermark(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    in.addData(
      Ev(t("2024-01-01 10:00:00"), "click", 1, 1.0),
      Ev(t("2024-01-01 10:01:00"), "click", 1, 2.0),  // dup key within watermark
      Ev(t("2024-01-01 10:02:00"), "view", 1, 3.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_out").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Double]("value")).toSet == Set(1.0, 3.0))
  }

  test("kafka source/sink builders assemble the reference's broker contract (S3/S4)") {
    val src = Ingest.kafkaSourceOptions("broker1:9092,broker2:9092", "air_quality")
    assert(src("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(src("subscribe") == "air_quality")
    assert(src("startingOffsets") == "earliest") // consumer replays from the start
    assert(src("failOnDataLoss") == "false")
    val sink = Ingest.kafkaSinkOptions("broker1:9092", "air_quality")
    assert(sink("topic") == "air_quality")
    assert(sink("kafka.acks") == "all") // durable publish like the producer
    // Builders construct without a broker (no load()/start() here — the
    // kafka connector resolves lazily); the value column is the JSON
    // serialization of the whole row.
    Ingest.kafkaSource(spark, "broker1:9092", "air_quality")
    import spark.implicits._
    val rec = Ingest.toKafkaRecords(Seq(("London", 15.5)).toDF("location", "temp_c"))
    assert(rec.columns.toSeq == Seq("value"))
    val json = rec.as[String].head()
    assert(json.contains(""""location":"London""""))
  }

  test("simulated HTTP payload flattens through the full wire schema (S1/S2)") {
    import spark.implicits._
    val ticks = Seq((t("2024-01-01 10:00:00"), 7L), (t("2024-01-01 10:00:10"), 13L))
      .toDF("timestamp", "value")
    val flat = graft.sources.Sources.flattenApiPayload(Ingest.renderPayload(ticks))
      .orderBy("timestamp").collect()
    assert(flat.length == 2)
    val r = flat.head
    assert(r.getAs[String]("location") == "Tokyo")        // 7 % 5 = 2 → cities(2)
    assert(r.getAs[Float]("temp_c") == 2.0f)              // 7 % 40 - 5
    assert(r.getAs[String]("timestamp") == "2024-01-01T10:00:00")
    assert(r.getAs[Double]("pm2_5") == (7 * 19 % 3000) / 10.0)
    // the poll cycles the city list: tick 13 (13 % 5 = 3) → Lagos
    assert(flat(1).getAs[String]("location") == "Lagos")
  }

  test("simulated HTTP poll drives flatten→enrich→sink end-to-end (S1 streaming)") {
    val src = Ingest.simulatedHttpSource(spark, format = "rate-micro-batch",
      options = Map("rowsPerBatch" -> "5", "advanceMillisPerBatch" -> "10000"))
    assert(src.isStreaming)
    val q = Ingest.enrich(graft.sources.Sources.flattenApiPayload(src))
      .writeStream.format("memory").queryName("http_sim_out")
      .outputMode("append").start()
    // rate-micro-batch emits batches continuously; wait for the first one.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.table("http_sim_out").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    q.stop()
    val out = spark.table("http_sim_out").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[String]("processed_timestamp") != null))
    assert(out.forall(r => Set("Delhi", "London", "Tokyo", "Lagos", "Lima")(
      r.getAs[String]("location"))))
  }

  test("live location summary finalizes per-hour rows as watermark advances (T6/T8)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, String, Double, Double)]
    val obs = in.toDF().toDF("location", "timestamp", "temp_c", "pm2_5")
    val q = Windows.liveLocationSummary(obs)
      .writeStream.format("memory").queryName("live_summary")
      .outputMode("append").start()
    in.addData(
      ("London", "2024-01-01T10:05:00", 10.0, 20.0),
      ("London", "2024-01-01T10:45:00", 14.0, 30.0),
      ("Delhi",  "2024-01-01T10:30:00", 25.0, 80.0))
    in.addData(("Delhi", "2024-01-01T12:00:00", 26.0, 70.0)) // closes 10:00
    q.processAllAvailable(); q.stop()
    val rows = spark.table("live_summary").collect()
      .map(r => (r.getAs[String]("location"), r.getAs[Long]("n"),
        r.getAs[Double]("avg_temp"), r.getAs[Double]("avg_pm25"))).toSet
    assert(rows == Set(("London", 2L, 12.0, 25.0), ("Delhi", 1L, 25.0, 80.0)))
  }

  test("full reference topology round-trips: poll → flatten → kafka wire → decode → enrich") {
    import spark.implicits._
    // producer side: HTTP poll payloads, flattened, serialized to the wire
    val ticks = (0 until 20)
      .map(i => (new Timestamp(1704100000000L + i * 10000L), i.toLong))
      .toDF("timestamp", "value")
    val flat = graft.sources.Sources.flattenApiPayload(Ingest.renderPayload(ticks))
    // broker hop: value column + offset/partition metadata
    val wire = Ingest.toKafkaRecords(flat)
      .withColumn("offset", monotonically_increasing_id())
      .withColumn("partition", lit(0))
    // consumer side: decode + lineage enrichment
    val decoded = Ingest.enrich(Ingest.decodeKafkaShape(wire))
    assert(decoded.count() == 20)
    // schema equals the reference's 17-column observation record
    assert(decoded.columns.toSet == Tables.airQualitySchema.fieldNames.toSet)
    // values survive the JSON wire hop (pm2_5 lands in the wire schema's
    // FloatType — compare both sides at float precision)
    val before = flat.select(col("location"), col("temp_c"),
        col("pm2_5").cast("float"), col("timestamp"))
      .as[(String, Float, Float, String)].collect().toSet
    val after = decoded.select(col("location"), col("temp_c"),
        col("pm2_5"), col("timestamp"))
      .as[(String, Float, Float, String)].collect().toSet
    assert(after == before)
  }

  test("checkpointed file sink is replayable and exactly-once (T3/T4/S5)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ingest_sink").toString
    val in = MemoryStream[KafkaMsg]
    val enriched = Ingest.enrich(Ingest.decodeKafkaShape(in.toDF()))
    val q = enriched.writeStream.format("parquet")
      .option("path", s"$dir/data").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    in.addData(KafkaMsg("""{"location":"A","temp_c":1.0,"timestamp":"2024-01-01T00:00:00"}""", 1L, 0))
    in.addData(KafkaMsg("""{"location":"B","temp_c":2.0,"timestamp":"2024-01-01T00:00:10"}""", 2L, 0))
    q.processAllAvailable(); q.stop()
    val replayed = Ingest.replay(spark, s"$dir/data")
    assert(replayed.count() == 2)
    assert(replayed.select("location").as[String].collect().toSet == Set("A", "B"))
  }

  test("stream-static broadcast enrichment joins per micro-batch without stream state (T10)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq(("click", "interaction"), ("view", "interaction"),
      ("error", "fault")).toDF("event_type", "category")
    val in = MemoryStream[Ev]
    val q = Ingest.enrichWithDim(in.toDF(), dim, "event_type")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    in.addData(
      Ev(t("2024-01-01 10:00:00"), "click", 1, 1.0),
      Ev(t("2024-01-01 10:01:00"), "purchase", 2, 2.0)) // no dim row
    q.processAllAvailable(); q.stop()
    val out = spark.table("enrich_out").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[String]("category")).toMap
    assert(out("click") == "interaction")
    assert(out("purchase") == null) // left join: unmatched passes through
  }

  test("stream-stream interval join matches within the window, evicts outside it (T11)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val q = Windows.intervalJoin(clicks.toDF(), buys.toDF(), "user_id")
      .select(col("l_user_id"), col("l_ts"), col("r_ts"))
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    clicks.addData(Ev(t("2024-01-01 10:00:00"), "click", 1, 1.0))
    clicks.addData(Ev(t("2024-01-01 10:00:00"), "click", 2, 1.0))
    buys.addData(Ev(t("2024-01-01 10:05:00"), "buy", 1, 9.0))   // within 10 min → match
    buys.addData(Ev(t("2024-01-01 10:30:00"), "buy", 2, 9.0))   // 30 min later → no match
    // advance both watermarks far past the interval so state evicts
    clicks.addData(Ev(t("2024-01-01 12:00:00"), "click", 99, 0.0))
    buys.addData(Ev(t("2024-01-01 12:00:00"), "buy", 98, 0.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssjoin_out").collect()
    assert(out.map(_.getAs[Long]("l_user_id")).toSet == Set(1L))
    assert(out.length == 1) // user 2's late buy fell outside the interval
  }

  test("stream-stream LEFT OUTER interval join emits null-padded no-match rows " +
    "once the watermark proves them (T11b)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val q = Windows.intervalJoinOuter(clicks.toDF(), buys.toDF(), "user_id")
      .select(col("l_user_id"), col("l_ts"), col("r_ts"))
      .writeStream.format("memory").queryName("ssjoin_outer_out")
      .outputMode("append").start()
    clicks.addData(Ev(t("2024-01-01 10:00:00"), "click", 1, 1.0))
    clicks.addData(Ev(t("2024-01-01 10:00:00"), "click", 2, 1.0))
    buys.addData(Ev(t("2024-01-01 10:05:00"), "buy", 1, 9.0))   // match
    buys.addData(Ev(t("2024-01-01 10:30:00"), "buy", 2, 9.0))   // outside interval
    q.processAllAvailable()
    // BEFORE the watermark passes, user 2 must NOT have emitted: a
    // valid match could still arrive late
    val early = spark.table("ssjoin_outer_out").collect()
    assert(!early.exists(r => r.getAs[Long]("l_user_id") == 2L),
      "null-padded row emitted before the watermark proved no-match")
    // advance both watermarks far past the interval end
    clicks.addData(Ev(t("2024-01-01 12:00:00"), "click", 99, 0.0))
    buys.addData(Ev(t("2024-01-01 12:00:00"), "buy", 98, 0.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ssjoin_outer_out").collect()
      .map(r => (r.getAs[Long]("l_user_id"), Option(r.getAs[java.sql.Timestamp]("r_ts"))))
      .filter(_._1 != 99L) // the watermark-advancer click may itself emit later
      .toSet
    assert(out.contains((1L, Some(java.sql.Timestamp.valueOf("2024-01-01 10:05:00")))))
    assert(out.contains((2L, None)), s"missing null-padded row in $out")
  }

  test("restart on the same checkpoint: no loss, no duplicates (T3 crash recovery)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types._
    // A FILE source (replayable across query incarnations, unlike
    // MemoryStream) feeding the full kafka-shaped ingest chain. The
    // query is stopped after batch 1 — a simulated crash — and a brand
    // new query instance restarts on the SAME checkpoint: the file
    // source's log must skip already-committed input and the file
    // sink's log must keep the output exactly-once.
    val root = Files.createTempDirectory("ingest_recover").toString
    val inDir = s"$root/in"; val outDir = s"$root/data"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(inDir))
    def writeBatch(name: String, offsets: Range): Unit = {
      val lines = offsets.map { o =>
        val payload = s"""{\\"location\\":\\"L$o\\",\\"temp_c\\":1.0,\\"timestamp\\":\\"2024-01-01T00:00:00\\"}"""
        s"""{"value":"$payload","offset":$o,"partition":0}"""
      }
      // temp-write + atomic move so the source never lists a half-written file
      val tmp = Paths.get(s"$root/$name.tmp")
      Files.write(tmp, lines.mkString("\n").getBytes)
      Files.move(tmp, Paths.get(s"$inDir/$name.json"))
    }
    val wireShape = StructType(Seq(
      StructField("value", StringType),
      StructField("offset", LongType),
      StructField("partition", IntegerType)))
    def runOnce(): Unit = {
      val src = spark.readStream.schema(wireShape).json(inDir)
      val q = Ingest.sink(Ingest.enrich(Ingest.decodeKafkaShape(src)), outDir, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeBatch("b1", 0 until 10)
    runOnce() // incarnation 1 commits batch 1, then "crashes" (stops)
    assert(spark.read.parquet(outDir).count() == 10)
    writeBatch("b2", 10 until 20)
    runOnce() // incarnation 2 on the same checkpoint
    val out = spark.read.parquet(outDir)
    assert(out.count() == 20) // no loss
    val offsets = out.select("kafka_offset").as[Long].collect().toSeq.sorted
    assert(offsets == (0L until 20L), // every record exactly once
      s"duplicate or missing offsets after restart: $offsets")
  }

  test("PII scrub composes into a stream unmodified (pure column ops)") {
    // redactDf is per-row regex work with zero shuffle, so the same
    // function that scrubs a batch corpus masks PII mid-stream.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ext.Curate.redactDf(
        in.toDF().toDF("doc_id", "text", "source"))
      .select("doc_id", "redacted")
      .writeStream.format("memory").queryName("pii_stream_out")
      .outputMode("append").start()
    in.addData(
      (0L, "mail a@b.io today", "s"),
      (1L, "clean text", "s"))
    q.processAllAvailable(); q.stop()
    val out = spark.table("pii_stream_out")
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "mail [PII] today")
    assert(out(1L) == "clean text")
  }

  test("quality filter composes into a stream unmodified (pure column ops)") {
    // qualityFilterDf is stateless per-row work, so the SAME function
    // that curates a batch corpus drops low-quality docs mid-stream —
    // no stream-specific variant to keep in sync.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ext.Curate.qualityFilterDf(
        in.toDF().toDF("doc_id", "text", "source"))
      .filter(col("keep")).select("doc_id")
      .writeStream.format("memory").queryName("quality_stream_out")
      .outputMode("append").start()
    in.addData(
      (0L, "the quick brown fox jumps over a lazy dog in the sunny park", "s"),
      (1L, "too short", "s"),
      (2L, "the cat the cat the cat the cat the cat the cat", "s"))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("quality_stream_out").as[Long].collect().toSet
    assert(kept == Set(0L))
  }

  test("streaming ingest dedups each micro-batch against the persisted " +
    "band index, matching batch d18 (daily-crawl shape, streamed)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // ingest half runs ONCE: the existing corpus's band index persists
    // as bucketed tables; the stream only ever bands ITS OWN rows
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "lib"),
      (1L, "one two three four five six seven eight nine", "lib"),
      (2L, "totally unrelated reference material sits here quietly", "lib")
    ).toDF("doc_id", "text", "source")
    val idx = s"d18idx_stream_${System.nanoTime()}"
    graft.ext.Dedup.writeBandIndex(corpus, idx)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "text", "source")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ext.Dedup.incrementalPairs(batch, idx)
          .select(col("id_a"), col("id_b")).collect()
          .foreach(r => seen.add((r.getLong(0), r.getLong(1))))
      }
      .start()
    // micro-batch 1: one copy of corpus doc 0, one fresh doc
    in.addData(
      (100L, "alpha beta gamma delta epsilon zeta eta theta", "crawl"),
      (101L, "fresh new material never seen before anywhere at all", "crawl"))
    q.processAllAvailable()
    // micro-batch 2: a copy of corpus doc 1 — state-free, so batch 1's
    // rows play no part here
    in.addData(
      (102L, "one two three four five six seven eight nine", "crawl"))
    q.processAllAvailable(); q.stop()
    val streamed = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    }
    assert(streamed.map(_._1) == Set(100L, 102L))
    assert(streamed.map(_._2) == Set(0L, 1L))
    // parity: replaying every streamed row as ONE batch through the
    // batch-mode d18 path yields exactly the same pair set
    val allNew = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta", "crawl"),
      (101L, "fresh new material never seen before anywhere at all", "crawl"),
      (102L, "one two three four five six seven eight nine", "crawl")
    ).toDF("doc_id", "text", "source")
    val batched = graft.ext.Dedup.incrementalPairs(allNew, idx)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(batched == streamed)
  }

  test("streaming as-of enrichment equals the batch kernel on the same rows (parity)") {
    import spark.implicits._
    import graft.streaming.{AsOfRow, ClickPurchase, Windows => W}
    implicit val ctx = spark.sqlContext
    // the j6 rework's kernel, replayed live: clicks/purchases split
    // ACROSS micro-batches so the per-user state carry is exercised,
    // with the inclusive-tie case (click at exactly the purchase ts)
    // and a no-click purchase (None) planted.
    val batch1 = Seq(
      ClickPurchase(7L, t("2024-01-01 10:00:00"), "click"),
      ClickPurchase(7L, t("2024-01-01 10:05:00"), "purchase"), // → 10:00
      ClickPurchase(8L, t("2024-01-01 10:01:00"), "purchase"), // → None
      ClickPurchase(7L, t("2024-01-01 10:06:00"), "click"),
      ClickPurchase(5L, t("2024-01-01 10:02:00"), "view"))     // ignored kind
    val batch2 = Seq(
      ClickPurchase(7L, t("2024-01-01 10:08:00"), "purchase"), // → 10:06 (carry)
      ClickPurchase(8L, t("2024-01-01 10:09:00"), "click"),
      ClickPurchase(8L, t("2024-01-01 10:09:00"), "purchase")) // tie → 10:09
    val in = MemoryStream[ClickPurchase]
    val q = W.asOfEnrichStream(in.toDS())
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("asof_out")
      .as[AsOfRow].collect().toSet
    val batched = graft.ext.Joins
      .asOfEnrich((batch1 ++ batch2).toDF())
      .as[(Long, Timestamp, Option[Timestamp])].collect()
      .map { case (u, p, c) => AsOfRow(u, p, c) }.toSet
    assert(streamed == batched, s"stream $streamed vs batch $batched")
    assert(streamed.size == 4)
    assert(streamed.contains(AsOfRow(8L, t("2024-01-01 10:01:00"), None)))
    assert(streamed.contains(
      AsOfRow(7L, t("2024-01-01 10:08:00"), Some(t("2024-01-01 10:06:00")))))
    assert(streamed.contains(
      AsOfRow(8L, t("2024-01-01 10:09:00"), Some(t("2024-01-01 10:09:00")))))
  }

  test("as-of state never regresses on a late click; a late purchase is " +
    "never enriched by a future click") {
    import spark.implicits._
    import graft.streaming.{AsOfRow, ClickPurchase, Windows => W}
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[ClickPurchase]
    val q = W.asOfEnrichStream(in.toDS())
      .writeStream.format("memory").queryName("asof_late_out")
      .outputMode("append").start()
    in.addData(ClickPurchase(1L, t("2024-01-01 10:06:00"), "click"))
    q.processAllAvailable()
    // batch 2: a click 3 minutes LATE (inside the watermark — not
    // dropped) must not pull state back from 10:06; the purchase at
    // 10:08 enriches with 10:06. And a purchase arriving late at 10:00
    // must NOT be enriched by the 10:06 click (last_click > p_ts is an
    // output the batch kernel can never produce).
    in.addData(
      ClickPurchase(1L, t("2024-01-01 10:03:00"), "click"),
      ClickPurchase(1L, t("2024-01-01 10:08:00"), "purchase"),
      ClickPurchase(1L, t("2024-01-01 10:00:00"), "purchase"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_late_out").as[AsOfRow].collect().toSet
    assert(got == Set(
      AsOfRow(1L, t("2024-01-01 10:08:00"), Some(t("2024-01-01 10:06:00"))),
      AsOfRow(1L, t("2024-01-01 10:00:00"), None)))
  }

  test("streaming funnel transitions equal the batch stage frame (parity)") {
    import spark.implicits._
    import graft.streaming.{ClickPurchase, StageReached, Windows => W}
    implicit val ctx = spark.sqlContext
    // stage carry across micro-batches: u1 views in batch 1, clicks and
    // purchases in batch 2; u2's click precedes its first view (never
    // advances); u3 ties view/click on one timestamp (inclusive)
    val batch1 = Seq(
      ClickPurchase(1L, t("2024-01-01 10:00:00"), "view"),
      ClickPurchase(2L, t("2024-01-01 10:00:00"), "click"),
      ClickPurchase(2L, t("2024-01-01 10:01:00"), "view"),
      ClickPurchase(3L, t("2024-01-01 10:00:00"), "view"),
      ClickPurchase(3L, t("2024-01-01 10:00:00"), "click"))
    val batch2 = Seq(
      ClickPurchase(1L, t("2024-01-01 10:02:00"), "click"),
      ClickPurchase(1L, t("2024-01-01 10:03:00"), "purchase"),
      ClickPurchase(2L, t("2024-01-01 10:04:00"), "purchase"), // no click yet
      ClickPurchase(3L, t("2024-01-01 10:05:00"), "purchase"))
    val in = MemoryStream[ClickPurchase]
    val q = W.funnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("funnel_out").as[StageReached].collect()
      .groupBy(_.user_id)
      .map { case (u, rows) =>
        val byStage = rows.map(r => r.stage -> r.ts).toMap
        (u, byStage.get("view"), byStage.get("click"), byStage.get("purchase"))
      }.toSet
    val batched = graft.ext.WindowFns
      .funnelStages((batch1 ++ batch2).toDF())
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().toSet
    assert(streamed == batched, s"stream $streamed vs batch $batched")
    // the planted truth: u1 full funnel; u2 stops at view (pre-view
    // click never advances, so its purchase is blocked); u3 converts on
    // the inclusive tie
    assert(batched == Set(
      (1L, Some(t("2024-01-01 10:00:00")), Some(t("2024-01-01 10:02:00")),
        Some(t("2024-01-01 10:03:00"))),
      (2L, Some(t("2024-01-01 10:01:00")), None, None),
      (3L, Some(t("2024-01-01 10:00:00")), Some(t("2024-01-01 10:00:00")),
        Some(t("2024-01-01 10:05:00")))))
  }

  test("the full curation funnel runs per micro-batch via foreachBatch (batch ≡ stream)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // a held-out eval doc donates a 4-gram; the stream curates each
    // micro-batch against it with the UNCHANGED batch funnel
    val bench = Seq((100L, "alpha beta gamma delta held out", "s"))
      .toDF("doc_id", "text", "source")
    val rows = Seq(
      (0L, "the quick brown fox jumps over a lazy dog near the riverbank today", "s"),
      (1L, "the quick brown fox jumps over a lazy dog near the riverbank today", "s"),
      (2L, "the words alpha beta gamma delta flow in this long sentence nicely", "s"),
      (3L, "tiny doc here", "s"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    val in = MemoryStream[(Long, String, String)]
    val q = in.toDF().toDF("doc_id", "text", "source")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ext.Curate.curationFunnelDf(batch, bench).collect()
          .foreach(r => got.add(r.toSeq))
      }
      .start()
    in.addData(rows: _*)
    q.processAllAvailable(); q.stop()
    val expected = graft.ext.Curate
      .curationFunnelDf(rows.toDF("doc_id", "text", "source"), bench)
      .collect().map(_.toSeq).toSeq
    val streamed = { import scala.jdk.CollectionConverters._; got.asScala.toSeq }
    assert(streamed == expected)
    // and the numbers are the planted truth: 4 raw, doc 3 fails quality,
    // doc 2 leaks the bench gram, docs 0/1 dedup to one keeper
    assert(expected == Seq(Seq("s", 4L, 3L, 2L, 1L)))
  }

  test("t16' heavy-hitters stream: per-batch MG folds + shared recount " +
    "equal the batch two-pass on the same rows (parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 12 heavy tokens whose occurrences SPLIT asymmetrically across the
    // two micro-batches (batch 1 weights h01 highest, batch 2 reverses)
    // — fold recall must reassemble totals no batch ever saw — plus
    // per-doc tail noise so the sketch actually trims; every heavy
    // total stays above N/(B+1), so both candidate sets must contain
    // all twelve and the shared recount erases any tail difference.
    val rnd = new scala.util.Random(11)
    def noise() = Seq.fill(4)(s"tail_${rnd.nextInt(500)}")
    def doc(counts: Int => Int) =
      (1 to 12).flatMap(j => Seq.fill(counts(j))(f"h$j%02d")) ++ noise()
    val batch1 = (1 to 40).map(i => (i.toLong, doc(j => 14 - j).mkString(" ")))
    val batch2 = (41 to 80).map(i => (i.toLong, doc(j => 2 * j).mkString(" ")))
    val fold = new graft.streaming.MgStreamFold(64)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("mgfold").toString
    val q = fold.start(in.toDF().toDF("doc_id", "text"), ckpt)
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    assert(fold.candidates.size <= 4 * 64 + 12,
      s"fold state unbounded: ${fold.candidates.size}")
    // MG merge adds counts: a re-delivered committed batch id must not
    // fold again. Planted at budget 1 (a trim above 4 keys): folding
    // "b b c d e" a second time over "a a a" would trade candidate a
    // for b
    def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")
    val tiny = new graft.streaming.MgStreamFold(1)
    tiny.onBatch(one("a a a"), 0L)
    tiny.onBatch(one("b b c d e"), 1L)
    assert(tiny.candidates == Seq("a"))
    tiny.onBatch(one("b b c d e"), 1L)
    assert(tiny.candidates == Seq("a"), "replay re-merged a committed batch")
    // serve: recount the stream's candidates over the landed rows
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val streamed = fold.topK(all, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // batch twin: ONE sketch pass over the same rows + the same recount
    val mg = new graft.functions.MisraGries(64)
    val cand = all.select(split(lower(col("text")), " ").as("toks"))
      .as[Seq[String]]
      .select(mg.toColumn.name("c")).head().keys.toSeq
    val batch = graft.ext.TextStats.recountTopK(all, cand, 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch)
    // the totals are the planted arithmetic: 40(14−j) + 40·2j = 560+40j
    assert(streamed.head == ("h12", 560L + 40 * 12))
    assert(streamed.map(_._1).take(3) == Seq("h12", "h11", "h10"))
  }

  test("t16' restart recipe: a fold rebuilt from ONE replay of the " +
    "landed corpus serves the same top-k as the continuous fold") {
    import spark.implicits._
    // The accumulator is driver state outside the streaming checkpoint;
    // the documented recovery is one replay of the landed corpus into a
    // fresh fold. Valid because MG recall depends only on totals, never
    // on merge order or batch boundaries — pin that equivalence.
    val rnd = new scala.util.Random(17)
    def doc() = (1 to 8).flatMap(j => Seq.fill(j * 3)(f"r$j%02d")) ++
      Seq.fill(5)(s"tail_${rnd.nextInt(300)}")
    val b1 = (1 to 30).map(i => (i.toLong, doc().mkString(" ")))
    val b2 = (31 to 60).map(i => (i.toLong, doc().mkString(" ")))
    def toks(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .select(split(lower(col("text")), " ").as("toks")).as[Seq[String]]
    val live = new graft.streaming.MgStreamFold(32)
    live.foldBatch(toks(b1)); live.foldBatch(toks(b2))
    val rebuilt = new graft.streaming.MgStreamFold(32)
    rebuilt.foldBatch(toks(b1 ++ b2))
    val landed = (b1 ++ b2).toDF("doc_id", "text")
    val a = live.topK(landed, 6).as[(String, Long)].collect().toSeq
    val b = rebuilt.topK(landed, 6).as[(String, Long)].collect().toSeq
    assert(a == b)
    // planted truth: r08 occurs 8·3 = 24 times per doc × 60 docs
    assert(a.head == ("r08", 1440L))
    // the same recipe at start(): a fresh fold on a used checkpoint
    // refuses without the landed corpus and rebuilds with it
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("mgrestart").toString
    val streamed = new graft.streaming.MgStreamFold(32)
    val q = streamed.start(in.toDF().toDF("doc_id", "text"), ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    assert(streamed.topK(landed, 6).as[(String, Long)].collect().toSeq == a)
    intercept[IllegalStateException] {
      new graft.streaming.MgStreamFold(32)
        .start(in.toDF().toDF("doc_id", "text"), ckpt)
    }
    val resumed = new graft.streaming.MgStreamFold(32)
    resumed.start(in.toDF().toDF("doc_id", "text"), ckpt,
      landed = Some(landed)).stop()
    assert(resumed.topK(landed, 6).as[(String, Long)].collect().toSeq == a)
  }

  test("d1' Bloom stream dedup: duplicates dropped across an unbounded " +
    "horizon with fixed state; within-batch exact; restart rebuilds") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dd = new graft.streaming.BloomStreamDedup(10000, 1e-6)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("bloomdd").toString
    val landed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = dd.start(in.toDF().toDF("doc_id", "fp"), "fp", ckpt) { fresh =>
      landed ++= fresh.as[(Long, String)].collect()
    }
    // batch 1: three fresh docs; batch 2: one cross-batch dup (fp_b,
    // would be OUTSIDE any short watermark horizon), one within-batch
    // dup pair (fp_d twice), one fresh
    in.addData((1L, "fp_a"), (2L, "fp_b"), (3L, "fp_c"))
    q.processAllAvailable()
    in.addData((4L, "fp_b"), (5L, "fp_d"), (6L, "fp_d"), (7L, "fp_e"))
    q.processAllAvailable()
    q.stop()
    assert(landed.map(_._2).sorted ==
      Seq("fp_a", "fp_b", "fp_c", "fp_d", "fp_e"))
    assert(dd.seen("fp_b") && dd.seen("fp_e") && !dd.seen("fp_zzz"))
    // restart recipe: a fresh instance rebuilt from the LANDED corpus
    // makes the same decisions on the next batch as the continuous one
    val dd2 = new graft.streaming.BloomStreamDedup(10000, 1e-6)
    dd2.rebuildFrom(landed.toSeq.toDF("doc_id", "fp"), "fp")
    val next = Seq((8L, "fp_a"), (9L, "fp_f")).toDF("doc_id", "fp")
    val s1 = dd.foldBatch(next, "fp").as[(Long, String)].collect().toSet
    val s2 = dd2.foldBatch(next, "fp").as[(Long, String)].collect().toSet
    assert(s1 == Set((9L, "fp_f")) && s2 == s1)
  }

  test("d1' Bloom stream dedup: a batch whose sink throws lands in full " +
    "when the query restarts on the same object and checkpoint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dd = new graft.streaming.BloomStreamDedup(10000, 1e-6)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("bloomsink").toString
    val landed = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val calls = new java.util.concurrent.atomic.AtomicInteger
    def run() = dd.start(in.toDF().toDF("doc_id", "fp"), "fp", ckpt) { fresh =>
      if (calls.incrementAndGet() == 2) throw new RuntimeException("sink down")
      landed ++= fresh.as[(Long, String)].collect()
    }
    val q = run()
    in.addData((1L, "fp_a"), (2L, "fp_b"), (3L, "fp_c"))
    q.processAllAvailable()
    // batch 2's sink throws: the query dies with the batch uncommitted
    in.addData((4L, "fp_b"), (5L, "fp_d"), (6L, "fp_d"), (7L, "fp_e"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    // the restart re-delivers batch 2; its keys must still read unseen
    val q2 = run()
    q2.processAllAvailable()
    q2.stop()
    assert(landed.map(_._2).sorted ==
      Seq("fp_a", "fp_b", "fp_c", "fp_d", "fp_e"), landed.mkString(", "))
    assert(dd.seen("fp_d") && dd.seen("fp_e"))
  }

  test("a12' HLL cardinality stream: per-batch sketch folds equal the " +
    "one-shot batch sketch EXACTLY (register-max mergeability)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.HllStreamFold(12)
    val in = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("hllfold").toString
    val q = fold.start(in.toDF().toDF("doc_id", "user"), "user", ckpt)
    // 600 distinct users split across two overlapping batches — the
    // overlap (u200..u399 in both) is what a naive per-batch count
    // would double-count and register-max union must not
    val b1 = (0 until 400).map(i => (i.toLong, s"u$i"))
    val b2 = (200 until 600).map(i => (i.toLong, s"u$i"))
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: ONE distributed sketch over the same landed rows.
    // Register-max union carries the same register content, but a
    // directly-updated sketch serves the sharper HIP estimator while a
    // union serves the composite one — so the pin is agreement within
    // estimator tolerance (measured ~0.1% here), both inside the same
    // error envelope around the truth, NOT bitwise equality.
    val landed = (b1 ++ b2).toDF("doc_id", "user")
    val batchEst = landed
      .select(hll_sketch_estimate(hll_sketch_agg(col("user"), lit(12))))
      .head().getLong(0)
    assert(math.abs(fold.estimate - batchEst) / batchEst < 0.01,
      s"stream ${fold.estimate} vs batch $batchEst")
    // and both estimate THE TRUTH (600 distinct) to HLL accuracy
    assert(math.abs(fold.estimate - 600.0) / 600.0 < 0.05, fold.estimate)
    assert(math.abs(batchEst - 600.0) / 600.0 < 0.05, batchEst)
    // restart recipe: rebuild from the landed corpus agrees within the
    // same tolerance (one sketch folded vs two)
    val f2 = new graft.streaming.HllStreamFold(12)
    f2.rebuildFrom(landed, "user")
    assert(math.abs(f2.estimate - fold.estimate) / fold.estimate < 0.01)
    // idempotent replay (the foreachBatch retry story) IS exact:
    // re-folding an absorbed batch reproduces the same sketch and
    // register-max cannot move — the estimate is unchanged to the bit
    val before = fold.estimate
    fold.foldBatch(b2.toDF("doc_id", "user"), "user")
    assert(fold.estimate == before)
    // a fresh fold on the used checkpoint refuses without the landed
    // corpus and, given it, rebuilds to the rebuilt fold's estimate
    intercept[IllegalStateException] {
      new graft.streaming.HllStreamFold(12)
        .start(in.toDF().toDF("doc_id", "user"), "user", ckpt)
    }
    val f3 = new graft.streaming.HllStreamFold(12)
    f3.start(in.toDF().toDF("doc_id", "user"), "user", ckpt,
      Some(landed)).stop()
    assert(f3.estimate == f2.estimate)
  }

  test("d33' streaming CDC apply: ordered merges, later batch wins, " +
    "replayed batchId cannot resurrect a deleted row") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"), lit("s").as("source"),
        length($"text").cast("long").as("n_chars"))
    def delta(rows: (Long, String, String)*) = rows.toDF("doc_id", "text", "op")
      .select($"doc_id", $"text", lit("en").as("lang"), lit("s").as("source"),
        coalesce(length($"text"), lit(0)).cast("long").as("n_chars"), $"op")
    val sink = new graft.streaming.CdcApplySink(
      docs((1L, "one v1"), (2L, "two v1"), (3L, "three")))
    val in = MemoryStream[(Long, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("cdc").toString
    val q = sink.start(
      in.toDF().toDF("doc_id", "text", "op")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("s").as("source"),
          coalesce(length($"text"), lit(0)).cast("long").as("n_chars"),
          $"op"),
      ckpt)
    in.addData((1L, "one v2", "upsert"), (9L, "nine", "upsert"))
    q.processAllAvailable()
    in.addData((2L, null.asInstanceOf[String], "delete"),
      (1L, "one v3", "upsert"))
    q.processAllAvailable()
    q.stop()
    val got = sink.snapshot.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSet
    // later batch's upsert of id 1 won; id 2 deleted; 3 untouched; 9 added
    assert(got == Set((1L, "one v3"), (3L, "three"), (9L, "nine")))
    // REPLAY batch 0 (the id-1 "one v2" upsert): the guard must drop it —
    // re-applying would regress id 1 and resurrect nothing
    sink.onBatch(delta((1L, "one v2", "upsert"), (9L, "nine", "upsert")), 0L)
    val after = sink.snapshot.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSet
    assert(after == got)
  }

  test("w10' live OHLC bars equal the batch kernel on the same rows (parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[OhlcEv]
    val q = graft.streaming.Windows.ohlcStream(in.toDF())
      .writeStream.format("memory").queryName("ohlc_live")
      .outputMode("complete").start()
    // two micro-batches, out-of-order WITHIN each bar, open/close split
    // across batches so no single batch could produce the right bar
    val b1 = Seq(
      OhlcEv(2L, t("2024-01-01 10:30:00"), "m", 99.5),
      OhlcEv(0L, t("2024-01-01 10:05:00"), "m", 10.0),
      OhlcEv(5L, t("2024-01-01 11:00:00"), "m", 6.0))
    val b2 = Seq(
      OhlcEv(1L, t("2024-01-01 10:01:00"), "m", 7.0),   // true open, late
      OhlcEv(3L, t("2024-01-01 10:59:00"), "m", 3.25),  // true close + low
      OhlcEv(4L, t("2024-01-01 11:00:00"), "m", 5.0),   // same-ts tie: id 4 < 5
      OhlcEv(6L, t("2024-01-01 10:10:00"), "x", 1.0))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = spark.table("ohlc_live").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7))).toSet
    val batch = graft.ext.WindowFns.ohlcBars((b1 ++ b2)
        .toDF("event_id", "ts", "event_type", "value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7))).toSet
    assert(live == batch)
    // and the planted arithmetic: hour-10 bar opened 7.0, closed 3.25
    val h10 = live.find(b => b._1 == "m" && b._2 == 473362L).get
    assert((h10._3, h10._6) == ((7.0, 3.25)))
  }

  test("w11' live last-observation frame equals the batch LOCF's non-gap rows (parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[OhlcEv]
    val q = graft.streaming.Windows.locfStream(in.toDF())
      .writeStream.format("memory").queryName("locf_live")
      .outputMode("complete").start()
    // the hour-10 LAST observation (id 3 @10:59) arrives in batch 1;
    // batch 2 delivers a LATE EARLIER row (id 1 @10:01) — arrival order
    // must not steal "last" from the (micros, event_id)-later row
    val b1 = Seq(
      OhlcEv(3L, t("2024-01-01 10:59:00"), "m", 3.25),
      OhlcEv(0L, t("2024-01-01 10:05:00"), "m", 10.0),
      OhlcEv(6L, t("2024-01-01 13:10:00"), "x", 1.0))   // hours 11-12: m-gaps
    val b2 = Seq(
      OhlcEv(1L, t("2024-01-01 10:01:00"), "m", 7.0),   // late, earlier — loses
      OhlcEv(5L, t("2024-01-01 13:00:00"), "m", 6.0),
      OhlcEv(4L, t("2024-01-01 13:00:00"), "m", 5.0))   // same ts: id 5 wins
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = spark.table("locf_live").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val batch = graft.ext.WindowFns.locfFill((b1 ++ b2)
        .toDF("event_id", "ts", "event_type", "value"))
      .filter(!col("is_gap"))
      .select(col("event_type"), col("hour_idx"), col("obs_value"),
        col("n_events"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(live == batch)
    // planted arithmetic: hour 10's last obs is 3.25 (id 3), NOT the
    // late-arriving 7.0; hour 13's same-second tie goes to id 5 (6.0)
    assert(live.contains(("m", 473362L, 3.25, 3L)))
    assert(live.contains(("m", 473365L, 6.0, 2L)))
  }

  test("a18' quantile stream fold: per-batch grid histograms fold to the " +
    "EXACT batch histogram; bounds serve through the shared a18 kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.QuantileStreamFold(grain = 100.0)
    val in = MemoryStream[(Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("qfold").toString
    val q = fold.start(in.toDF().toDF("id", "v"), "v", ckpt)
    // skewed values split across batches so no batch's own quantiles
    // match the whole-stream quantiles
    val b1 = (0 until 500).map(i => (i.toLong, i.toDouble))          // 0..499
    val b2 = (500 until 800).map(i => (i.toLong, (i * 10).toDouble)) // 5000..7990
    in.addData(b1: _*)
    q.processAllAvailable()
    in.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // exact histogram equality with the one-pass batch aggregate
    // (integer addition is commutative/associative — no tolerance)
    val landed = (b1 ++ b2).toDF("id", "v")
    val batchHist = landed
      .select(floor(col("v") / 100.0).cast("long").as("bin"))
      .groupBy("bin").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fold.histogram == batchHist)
    // bounds: SAME kernel as a18/s18 over the same histogram → equal
    assert(fold.bounds(4) == graft.etl.Analyze.equidepthBounds(batchHist, 4))
    // restart recipe: rebuild from the landed corpus is EXACTLY the
    // continuous fold (not estimator tolerance)
    val f2 = new graft.streaming.QuantileStreamFold(grain = 100.0)
    f2.rebuildFrom(landed, "v")
    assert(f2.histogram == fold.histogram)
    // foreachBatch RETRY: a re-delivered batchId must not double-count
    val before = fold.histogram
    fold.onBatch(b2.toDF("id", "v"), 1L, "v") // id 1 already folded
    assert(fold.histogram == before)
  }

  test("a44' approx-percentile serve on the quantile fold (r17 ask #6): " +
    "serve ≡ the batch grid replay at EVERY wave, and the served value " +
    "brackets the true percentile within one grain — checked against " +
    "raw sorted values") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val grain = 100.0
    val fold = new graft.streaming.QuantileStreamFold(grain = grain)
    val in = MemoryStream[(Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("qpfold").toString
    val q = fold.start(in.toDF().toDF("id", "v"), "v", ckpt)
    // no rows yet: no order statistics, not a throw
    assert(fold.serveApproxPercentile(0.5).isEmpty)
    // skewed waves (the a18' fixture): wave 2 shifts the median far
    // from wave 1's, so a serve stuck on any single batch would miss
    val b1 = (0 until 500).map(i => (i.toLong, i.toDouble))
    val b2 = (500 until 800).map(i => (i.toLong, (i * 10).toDouble))
    var landed = Seq.empty[Double]
    def checkWave(): Unit = {
      // serve ≡ batch: the same kernel over a one-pass grid replay of
      // the landed rows — exact equality (integer-count additivity)
      val batchHist = landed.map(v => math.floor(v / grain).toLong)
        .groupBy(identity).map { case (b, vs) => (b, vs.size.toLong) }
        .toSeq.sortBy(_._1)
      for (p <- Seq(0.5, 0.99)) {
        val served = fold.serveApproxPercentile(p).get
        assert(Some(served) ==
          graft.etl.Analyze.gridApproxPercentile(batchHist, p, grain),
          s"p=$p: stream serve diverged from the batch grid replay")
        // CHECKED accuracy (the a44 discipline): the true percentile —
        // the value at rank ceil(p*n) of the raw sorted stream — lies
        // within one grain below the served bin upper edge
        val sorted = landed.sorted
        val exact = sorted((math.ceil(p * sorted.size) - 1).toInt)
        assert(exact <= served && exact > served - grain,
          s"p=$p: served $served does not bracket exact $exact (grain $grain)")
      }
    }
    in.addData(b1: _*); q.processAllAvailable()
    landed = b1.map(_._2); checkWave()
    in.addData(b2: _*); q.processAllAvailable()
    landed = (b1 ++ b2).map(_._2); checkWave()
    q.stop()
    // restart recipe serves the same percentiles (state outside the
    // checkpoint, rebuilt exactly from the landed corpus)
    val f2 = new graft.streaming.QuantileStreamFold(grain = grain)
    f2.rebuildFrom(landed.zipWithIndex.map(_.swap).toDF("id", "v"), "v")
    assert(f2.serveApproxPercentile(0.5) == fold.serveApproxPercentile(0.5))
    assert(f2.serveApproxPercentile(0.99) == fold.serveApproxPercentile(0.99))
  }

  test("a22' active-users fold: stream serve equals batch DAU/WAU on the " +
    "same rows; rebuild-from-landed and replays are content no-ops") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fold = new graft.streaming.ActiveUsersStreamFold
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("aufold").toString
    val q = fold.start(in.toDF().toDF("ts", "user_id"), ckpt)
    // duplicates within AND across batches; batch 2 back-fills day 1
    // with a user batch 1 never saw, so no single batch's DAU matches
    val b1 = Seq((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 23:59:59"), 1L),
      (t("2024-01-01 11:00:00"), 2L), (t("2024-01-02 09:00:00"), 1L))
    val b2 = Seq((t("2024-01-01 12:00:00"), 3L), // late day-1 pair
      (t("2024-01-05 08:00:00"), 1L),
      (t("2024-01-02 10:00:00"), 1L))            // cross-batch dup
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val landed = (b1 ++ b2).toDF("ts", "user_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val live = rows(fold.serve())
    assert(live == rows(graft.etl.Analyze.activeUsers(landed)))
    // planted arithmetic: day 1 has 3 actives (u3 arrived in batch 2);
    // day 2's WAU window [Dec 27..Jan 2] covers days 1+2 → users 1,2,3
    assert(live.exists { case (d, dau, wau, _) => d == "2024-01-01" && dau == 3L })
    assert(live.exists { case (d, dau, wau, _) => d == "2024-01-02" && dau == 1L && wau == 3L })
    // state is bounded by users×days, never events: 7 events → 5 pairs
    assert(fold.stateFrame.get.count() == 5L)
    // restart recipe: one distributed dedup of the landed corpus
    val f2 = new graft.streaming.ActiveUsersStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve()) == live)
    // set semantics: re-folding an already-seen batch changes nothing
    f2.foldBatch(b2.toDF("ts", "user_id"))
    assert(rows(f2.serve()) == live)
  }

  test("a24' CUSUM fold: drift crossing micro-batch boundaries alarms " +
    "exactly like the fixed-reference batch kernel (carry-in parity)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ref = Map("m" -> ((11.0, 1.0)))
    val fold = new graft.streaming.CusumStreamFold(ref)
    val in = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("cusumfold").toString
    val q = fold.start(in.toDF().toDF("event_id", "event_type", "value"), ckpt)
    // batch 1: in-control readings (x = ±0.5, both sides decay to 0);
    // batches 2+3 drift at +1.5σ, with the S climb SPLIT mid-ramp so
    // the alarm row (id 14, S crossing 4) can only be right if batch
    // 3 resumed from batch 2's carried S=3 — the carry identity at work
    val b1 = (0L until 10L).map(i =>
      (i, "m", if (i % 2 == 0) 10.5 else 11.5))
    val b2 = (10L until 13L).map(i => (i, "m", 12.5))
    val b3 = (13L until 20L).map(i => (i, "m", 12.5))
    Seq(b1, b2, b3).foreach { b =>
      in.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6),
        if (r.isNullAt(7)) -1L else r.getLong(7))).toSeq
    val live = rows(fold.serve(spark))
    val landed = (b1 ++ b2 ++ b3).toDF("event_id", "event_type", "value")
    assert(live == rows(
      graft.etl.Analyze.cusumChangepointWithRef(landed, ref)))
    // planted arithmetic: drift steps add x−k = 1.0 each, S>4 first at
    // the 5th drift reading (id 14, one row INTO batch 3); 6 alarm
    // points (ids 14..19, S = 5..10); low side never fires
    val r = live.head
    assert(r._2 == 20L && r._3 == 10.0 && r._5 == 6L && r._7 == 14L)
    assert(r._6 == 0L && r._8 == -1L)
    // the carry (n, nHi, sHi) is additive: a re-delivered committed
    // batch id must leave the served card unchanged
    fold.onBatch(b3.toDF("event_id", "event_type", "value"), 2L)
    assert(rows(fold.serve(spark)) == live, "replay advanced the carry")
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.CusumStreamFold(ref)
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a26' seasonal fold: cells merge across micro-batches; " +
    "serve ≡ fixed-reference batch kernel; replays don't double") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(day: Int, hod: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hod%02d:00:00")
    // trained profile: 3am baseline (10, 1); 5am cell trained DEGENERATE
    // (sd 0) — readings there must be excluded, not divided by zero
    val ref = Map(("m", 3) -> ((10.0, 1.0)), ("m", 5) -> ((7.0, 0.0)))
    val fold = new graft.streaming.SeasonalStreamFold(ref)
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("seasfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    val b1 = Seq((1L, at(1, 3), "m", 10.5), (2L, at(1, 5), "m", 7.0),
      (3L, at(2, 3), "m", 9.5))
    val b2 = Seq((4L, at(3, 3), "m", 50.0), (5L, at(4, 3), "m", 10.0))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6))).toSeq
    val live = rows(fold.serve(spark))
    // one cell: hod 3 with 4 readings, the spike alone flags (z = 40);
    // the degenerate hod-5 cell NEVER appears
    assert(live == Seq(("m", 3, 4L, 10.0, 1.0, 1L, 40.0)))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(
      graft.etl.Analyze.seasonalAnomalyWithRef(landed, ref)))
    // retry replay must not double the additive counts
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    // restart recipe
    val f2 = new graft.streaming.SeasonalStreamFold(ref)
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("w15' EWMA fold: split hours merge additively across micro-batches; " +
    "serve ≡ batch kernel; replays don't double") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.EwmaStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("ewmafold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    // hour 0 SPLITS across the batches (0.6 | 0.4): the additive merge
    // must reassemble the 100-cent hour before the weights read it —
    // a per-batch-computed EWMA could never recover this hour
    val b1 = Seq((0L, t("2024-01-01 00:10:00"), "m", 0.6),
      (2L, t("2024-01-01 01:30:00"), "m", 1.0))
    val b2 = Seq((1L, t("2024-01-01 00:40:00"), "m", 0.4),
      (3L, t("2024-01-01 02:30:00"), "m", 5.0))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val live = rows(fold.serve(spark))
    // strictly-prior baselines (OhlcSpec arithmetic): hour 0 has no
    // history → NULL; the reassembled 100-cent hour baselines hour 1 at
    // 1.0; the burst hour's prior-only baseline is 100 cents → burst 5×
    assert(live.map(r => (r._3, r._4, r._5)) ==
      Seq((100L, None, None), (100L, Some(1.0), Some(1.0)),
        (500L, Some(1.0), Some(5.0))),
      live.mkString(", "))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(graft.ext.WindowFns.ewmaBaseline(landed)))
    // retry replay must not double the additive cents
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.EwmaStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("w13' TWAP fold: a hold segment crosses the micro-batch boundary " +
    "AND an hour boundary; the pending tail holds nothing; replays don't " +
    "double; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.TwapStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("twapfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    // b1 closes one interior segment (00:10→00:50 @ 2.0); b1's LAST
    // observation (00:50 @ 4.0) is the carry — its segment cannot close
    // until b2's 01:30 arrives, and when it does, the one segment spans
    // BOTH the batch boundary and the 01:00 hour boundary (pro-rata
    // split: 10 min in hour 0, 30 min in hour 1). Series x lands a
    // single observation in b2: pending forever → absent from serve,
    // exactly as the batch op's final-reading-holds-nothing contract.
    val b1 = Seq((0L, t("2024-01-01 00:10:00"), "m", 2.0),
      (1L, t("2024-01-01 00:50:00"), "m", 4.0))
    val b2 = Seq((2L, t("2024-01-01 01:30:00"), "m", 6.0),
      (3L, t("2024-01-01 05:00:00"), "x", 9.0))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    // early serve: only the closed interior segment exists — 40 min of
    // 2.0 in hour 0; the 00:50 observation is pending carry
    val early = rows(fold.serve(spark))
    assert(early.map(r => (r._1, r._3, r._4, r._5)) ==
      Seq(("m", 1L, 2.0, 2400.0)), early.mkString(", "))
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // hour 0: 2.0 held 40 min + 4.0 held 10 min → (2·2400+4·600)/3000 =
    // 2.4 over 3000 s, 2 fragments; hour 1: 4.0 held 30 min → 4.0 over
    // 1800 s; x never appears (single pending observation)
    val live = rows(fold.serve(spark))
    assert(live.map(r => (r._1, r._3, r._4, r._5)) ==
      Seq(("m", 2L, 2.4, 3000.0), ("m", 1L, 4.0, 1800.0)),
      live.mkString(", "))
    assert(live(1)._2 == live(0)._2 + 1,
      "the boundary-crossing segment must split across ADJACENT hours")
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(graft.ext.WindowFns.twapBars(landed)))
    // retry replay must neither re-add mass nor re-advance the carry
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.TwapStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("w16' day-over-day fold: split hours merge additively; NULL " +
    "no-prior rows; replays don't double; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.DayOverDayStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("dodfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    // day-1 10:00 splits 0.6|0.9 across batches (100+50=150 cents must
    // reassemble BEFORE day-2's +100% compare means anything); day-2
    // 10:00 = 300 cents → +100%; day-2 12:00 has no same-hour-yesterday
    // → NULL change
    val b1 = Seq((0L, t("2024-01-01 10:10:00"), "m", 0.6),
      (2L, t("2024-01-02 10:20:00"), "m", 3.0))
    val b2 = Seq((1L, t("2024-01-01 10:40:00"), "m", 0.9),
      (3L, t("2024-01-02 12:30:00"), "m", 2.0))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    val live = rows(fold.serve(spark))
    assert(live.map(r => (r._1, r._3, r._4, r._5)) == Seq(
      ("m", 150L, None, None),
      ("m", 300L, Some(150L), Some(100.0)),
      ("m", 200L, None, None)), live.mkString(", "))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(graft.ext.WindowFns.dayOverDay(landed)))
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.DayOverDayStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a30' attribution fold: a purchase credits a touch from an " +
    "EARLIER micro-batch; replays don't double; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.AttributionStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("attrfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    def at(m: Int) = t(f"2024-01-01 00:$m%02d:00")
    // u1: view(b1) … purchase(b2) — the credit crosses the boundary;
    // u1's click AFTER the purchase (b2) then purchase (b2) — credits
    // click, proving the carry advances; u2: purchase with no touch
    // ever → (none); u3: touch in b1, NOTHING in b2 — carry must
    // survive an absent-user batch and credit u3's b3... kept 2-batch:
    // u3's purchase lands in b2 long after.
    val b1 = Seq((1L, at(1), 1L, "view", 0.0),
      (2L, at(2), 3L, "click", 0.0))
    val b2 = Seq((3L, at(10), 1L, "purchase", 5.0),
      (4L, at(11), 1L, "click", 0.0),
      (5L, at(12), 1L, "purchase", 2.0),
      (6L, at(13), 2L, "purchase", 3.0),
      (7L, at(14), 3L, "purchase", 1.0))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val live = rows(fold.serve(spark))
    // view: u1's first purchase (500¢); click: u1's second (200¢, the
    // b2 click outranks the carried view) + u3's (100¢); (none): u2
    assert(live == Seq(
      ("(none)", 1L, 300L, 0.25),
      ("click", 2L, 300L, 0.5),
      ("view", 1L, 500L, 0.25)), live.mkString(", "))
    val landed = (b1 ++ b2)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(live == rows(graft.etl.Analyze.lastTouchAttribution(landed)))
    fold.onBatch(
      b2.toDF("event_id", "ts", "user_id", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.AttributionStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a31' path fold: triples crossing the batch boundary form from " +
    "the 2-event carry; replays don't double; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.PathStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("pathfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type"), ckpt)
    val t0 = t("2024-01-01 00:00:00")
    // u1: A B | C D → ABC and BCD BOTH cross the boundary (2-carried+1
    // and 1-carried+2); u2: A B C | A B C → the second ABC straddles as
    // C|AB plus interior, n_users must still count u2 once per path;
    // u3: X | Y → two events, never a triple
    val b1 = Seq((1L, t0, 1L, "A"), (2L, t0, 1L, "B"),
      (10L, t0, 2L, "A"), (11L, t0, 2L, "B"), (12L, t0, 2L, "C"),
      (20L, t0, 3L, "X"))
    val b2 = Seq((3L, t0, 1L, "C"), (4L, t0, 1L, "D"),
      (13L, t0, 2L, "A"), (14L, t0, 2L, "B"), (15L, t0, 2L, "C"),
      (21L, t0, 3L, "Y"))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    val live = rows(fold.serve(spark))
    // hand expectation: ABC ×3 by 2 users (u1's boundary triple + u2's
    // interior + u2's straddling second pass); BCA, BCD, CAB ×1 each
    assert(live == Seq(
      ("A", "B", "C", 3L, 2L), ("B", "C", "A", 1L, 1L),
      ("B", "C", "D", 1L, 1L), ("C", "A", "B", 1L, 1L)),
      live.mkString(", "))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "user_id", "event_type")
    assert(live == rows(graft.etl.Analyze.pathMining(landed)),
      live.mkString(", "))
    fold.onBatch(b2.toDF("event_id", "ts", "user_id", "event_type"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.PathStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("w14' rolling-corr fold: an hour's events split across " +
    "micro-batches and merge additively; replays don't double; " +
    "serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.RollingCorrStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("corrfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    // the OhlcSpec W14 corpus (B = 2A+3 → r ≡ +1, C = 30−A → r ≡ −1,
    // 25 aligned hours → exactly 2 full 24-hour windows), but every
    // hour's mean is assembled from TWO events (v−0.5 and v+0.5) that
    // land in DIFFERENT micro-batches — the (Σv4, n) state must merge
    // across batches before the mean means anything
    def at(h: Int) = java.sql.Timestamp.from(
      t("2024-01-01 00:00:00").toInstant.plusSeconds(h * 3600L))
    def halves(h: Int, tp: String, v: Double, base: Long) = (
      (base, at(h), tp, v - 0.5), (base + 100000L, at(h), tp, v + 0.5))
    val planted = (0 until 25).flatMap { h =>
      Seq(halves(h, "A", h + 1.0, h * 3L),
        halves(h, "B", 2.0 * (h + 1) + 3, h * 3L + 1),
        halves(h, "C", 30.0 - (h + 1), h * 3L + 2))
    }
    val b1 = planted.map(_._1)
    val b2 = planted.map(_._2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val live = rows(fold.serve(spark))
    assert(live == Seq(("A", "B", 2L, 1.0, 1.0, 1.0),
      ("A", "C", 2L, -1.0, -1.0, -1.0), ("B", "C", 2L, -1.0, -1.0, -1.0)),
      live.mkString(", "))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(graft.ext.WindowFns.rollingCorr(landed)))
    // retry replay must not double the additive sums
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.RollingCorrStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a29' survival fold: spans merge as a min/max monoid; the anchor " +
    "advances with the stream; replay is a no-op; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val fold = new graft.streaming.SurvivalStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("survfold").toString
    val q = fold.start(in.toDF().toDF("event_id", "ts", "user_id"), ckpt)
    // every user's span SPLITS across the batches — the monoid merge
    // (min of firsts, max of lasts) must reassemble each lifetime
    val b1 = Seq((1L, at(1), 1L), (2L, at(3), 1L), (3L, at(1), 2L),
      (4L, at(1), 3L), (5L, at(11), 4L), (6L, at(19), 5L))
    val b2 = Seq((7L, at(6), 1L), (8L, at(6), 2L), (9L, at(11), 3L),
      (10L, at(21), 4L), (11L, at(21), 5L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    // early serve: the anchor is day 19 (the stream's OWN horizon) and
    // the censor window starts at 12 — u5 sits censored but u4
    // (last=11) counts as a day-0 CHURN the later batches will
    // overturn; S(0) = 1−3/5 = 0.4, and u1's solo churn at 2 exhausts
    // the risk set (S = 0 exactly)
    assert(rows(fold.serve()) == Seq((0L, 5L, 3L, 1L, 0.4),
      (2L, 1L, 1L, 0L, 0.0)), rows(fold.serve()).mkString(", "))
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // after b2 the anchor advances to day 21: u2's day-0 look resolves
    // into the merged lifetime 5, u3's into 10 — the A29 spec corpus
    val live = rows(fold.serve())
    assert(live == Seq((2L, 5L, 0L, 1L, 1.0), (5L, 4L, 2L, 0L, 0.5),
      (10L, 2L, 1L, 1L, 0.25)), live.mkString(", "))
    val landed = (b1 ++ b2).toDF("event_id", "ts", "user_id")
    assert(live == rows(graft.etl.Analyze.survivalCurve(landed)))
    // min/max idempotence: re-folding a batch is a content no-op
    fold.foldBatch(b2.toDF("event_id", "ts", "user_id"))
    assert(rows(fold.serve()) == live)
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.SurvivalStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve()) == live)
  }

  test("w9' cohort fold: set-union state; a LATE earlier week " +
    "re-cohorts its user retroactively; replay no-op; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.CohortStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("cohfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type"), ckpt)
    def wk(w: Int) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(w * 604800L + 1000L))
    // b1: u1 active weeks 10, 11; u2 week 10. b2 arrives OUT OF ORDER:
    // u1's week-8 event — u1's cohort must retroactively move 10 → 8
    // (offsets 0, 2, 3), the case every in-order fold in the family
    // rejects by contract and this one must absorb; u3 appears fresh
    // in week 11; u2's duplicate week-10 event must not double-count.
    val b1 = Seq((1L, wk(10), 1L, "view"), (2L, wk(11), 1L, "view"),
      (3L, wk(10), 2L, "view"))
    val b2 = Seq((4L, wk(8), 1L, "view"), (5L, wk(11), 3L, "view"),
      (6L, wk(10), 2L, "click"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) == Seq((10L, 0L, 2L), (10L, 1L, 1L)))
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = rows(fold.serve(spark))
    // u1 cohort 8 offsets {0,2,3}; u2 cohort 10 offset 0; u3 cohort 11
    assert(live == Seq((8L, 0L, 1L), (8L, 2L, 1L), (8L, 3L, 1L),
      (10L, 0L, 1L), (11L, 0L, 1L)), live.mkString(", "))
    val landed = (b1 ++ b2)
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(live == rows(graft.ext.WindowFns.cohortFromWeeks(
      graft.ext.WindowFns.userWeeks(landed))))
    fold.onBatch(b2.toDF("event_id", "ts", "user_id", "event_type"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.CohortStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a23' rolling-z fold: a spike's 20-row baseline spans the batch " +
    "boundary via the depth-20 carry; replays don't double; serve ≡ " +
    "batch kernel (which independently witnesses the r12 re-block)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.RollingZStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("rollzfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "event_type", "value"), ckpt)
    val t0 = t("2024-01-01 00:00:00")
    // series m: 15 alternating readings land in b1, five more + a 100x
    // spike in b2 — the spike's trailing-20 baseline is 14 carried rows
    // + 5 batch rows, reassembled by the carry; rows 1-10 are unscored
    // warmup (n_base < 10) in stream and batch alike
    def v(i: Long) = if (i % 2 == 0) 2.0 else 1.0
    val b1 = (1L to 15L).map(i => (i, t0, "m", v(i)))
    val b2 = (16L to 20L).map(i => (i, t0, "m", v(i))) :+
      ((21L, t0, "m", 100.0))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val live = rows(fold.serve(spark))
    assert(live.size == 1 && live.head._1 == "m")
    // rows 11..21 scored (11 of them), exactly the spike flags
    assert(live.head._2 == 11L && live.head._3 == 1L, live.mkString(", "))
    assert(live.head._4 > 100.0, "spike z must be enormous")
    val landed = (b1 ++ b2).toDF("event_id", "ts", "event_type", "value")
    assert(live == rows(graft.etl.Analyze.rollingAnomaly(landed)))
    fold.onBatch(b2.toDF("event_id", "ts", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.RollingZStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a27' A/B fold: a conversion lands batches after the user's first " +
    "event and the OR-monoid catches it; replay no-op; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.AbTestStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("abfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    val t0 = t("2024-01-01 00:00:00")
    // 40 users browse in b1; four of them purchase only in b2 — the
    // per-user max must flip those four without touching the rest, and
    // b2 also introduces 10 brand-new users (one converting)
    val b1 = (1L to 40L).map(u => (u, t0, u, "view", 0.0))
    val b2 = Seq(3L, 7L, 11L, 19L).map(u => (100L + u, t0, u, "purchase", 1.0)) ++
      (41L to 50L).map(u => (200L + u, t0, u, "view", 0.0)) :+
      ((300L, t0, 44L, "purchase", 2.0))
    in.addData(b1: _*); q.processAllAvailable()
    val early = fold.serve(spark).collect().head
    assert(early.getLong(1) + early.getLong(4) == 0L,
      "no conversions before b2") // c_a + c_b
    assert(early.getLong(0) + early.getLong(3) == 40L)
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        r.getBoolean(7))).toSeq
    val live = rows(fold.serve(spark))
    assert(live.head._1 + live.head._4 == 50L)
    assert(live.head._2 + live.head._5 == 5L)
    val landed = (b1 ++ b2)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(live == rows(graft.etl.Analyze.abTest(landed)))
    fold.onBatch(
      b2.toDF("event_id", "ts", "user_id", "event_type", "value"), 1L)
    assert(rows(fold.serve(spark)) == live)
    val f2 = new graft.streaming.AbTestStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve(spark)) == live)
  }

  test("a33' Mann-Whitney fold: revenue accumulates ACROSS batches per " +
    "user (sum monoid); replay would double-count and the guard stops " +
    "it; serve ≡ batch kernel at every wave") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.MannWhitneyFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("mwfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    val t0 = t("2024-01-01 00:00:00")
    // b1: users 1–20 purchase small; b2: users 1–5 purchase AGAIN —
    // unlike a27's idempotent max, their revenue must ACCUMULATE (the
    // same user's bin moves), and 10 fresh users arrive
    val b1 = (1L to 20L).map(u => (u, t0, u, "purchase", 5.0))
    val b2 = (1L to 5L).map(u => (100L + u, t0, u, "purchase", 7.0)) ++
      (21L to 30L).map(u => (200L + u, t0, u, "view", 9.0))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getDouble(4), r.getBoolean(5))).toSeq
    def landedDf(evs: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) ==
      rows(graft.etl.Analyze.mannWhitney(landedDf(b1))),
      "fold after wave 1 diverged from the batch kernel")
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = rows(fold.serve(spark))
    assert(live == rows(graft.etl.Analyze.mannWhitney(landedDf(b1 ++ b2))),
      "fold after wave 2 diverged — repeat purchases must accumulate")
    // the SAME folded state serves the a34 KS readout
    assert(fold.serveKs(spark).collect().map(_.toString).toSeq ==
      graft.etl.Analyze.ksTest(landedDf(b1 ++ b2))
        .collect().map(_.toString).toSeq,
      "KS serve over the shared state diverged from the batch kernel")
    // a re-delivered committed batch would DOUBLE revenue; the batchId
    // guard must make it a no-op
    fold.onBatch(landedDf(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted revenue")
    val f2 = new graft.streaming.MannWhitneyFold
    f2.rebuildFrom(landedDf(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    // used checkpoint + empty fold refuses loudly
    val f3 = new graft.streaming.MannWhitneyFold
    intercept[IllegalStateException] { f3.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt) }
  }

  test("a36' metric-panel fold: a batch touching ONE metric can flip " +
    "another metric's BH verdict (the family threshold moves); replay " +
    "no-op; serve ≡ batch kernel at every wave") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    val fold = new graft.streaming.MetricPanelFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("bhfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    // wave 1: three metrics with a spread of effects; wave 2 piles
    // more users onto ONE metric — m_tests and every rank threshold
    // move, so the other metrics' sig_bh can flip without receiving a
    // single event (the panel is a FAMILY, not independent readouts)
    val b1 = (1L to 40L).flatMap { u =>
      val base = Seq((u * 10, ts0, u, "view", 1.0))
      val click = if (u % 2 == 0) Seq((u * 10 + 1, ts0, u, "click", 1.0))
        else Seq.empty
      base ++ click
    }
    val b2 = (41L to 60L).map(u => (u * 10 + 2, ts0, u, "purchase", 1.0)) ++
      (1L to 10L).map(u => (u * 10 + 3, ts0, u, "click", 1.0))
    def landedDf(evs: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) ==
      rows(graft.etl.Analyze.bhPanel(landedDf(b1))),
      "fold after wave 1 diverged from the batch kernel")
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = rows(fold.serve(spark))
    assert(live == rows(graft.etl.Analyze.bhPanel(landedDf(b1 ++ b2))),
      "fold after wave 2 diverged — the family thresholds must move")
    // the SAME folded state serves the a37 power/MDE readout
    assert(rows(fold.serveMde(spark)) ==
      rows(graft.etl.Analyze.powerMde(landedDf(b1 ++ b2))),
      "MDE serve over the shared state diverged from the batch kernel")
    // a re-delivered committed batch would double counts; the batchId
    // guard must make it a no-op
    fold.onBatch(landedDf(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.MetricPanelFold
    f2.rebuildFrom(landedDf(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    // used checkpoint + empty fold refuses loudly
    val f3 = new graft.streaming.MetricPanelFold
    intercept[IllegalStateException] { f3.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt) }
  }

  test("a35' CUPED fold: a late PRE-period purchase retroactively moves " +
    "a user's covariate; replay would double both X and Y and the guard " +
    "stops it; serve ≡ batch kernel at every wave") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // the full planned corpus spans day 1..3, so the batch op's derived
    // midpoint split (day 2) is stable from wave 1 on — the fold takes
    // it as configuration (a live experiment knows its start date)
    val b1: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (1L to 10L).map(u =>
      (u, at(1), u, "purchase", u.toDouble)) ++
      (1L to 10L).map(u => (100L + u, at(3), u, "purchase", u + 1.0))
    // wave 2: user 1 purchases AGAIN in the PRE period (their covariate
    // must move retroactively), user 2 adds post revenue, user 11 is
    // new with post-only revenue (zero covariate)
    val b2: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      Seq((201L, at(1), 1L, "purchase", 5.0),
      (202L, at(3), 2L, "purchase", 4.0),
      (203L, at(3), 11L, "purchase", 6.0),
      (204L, at(1), 3L, "view", 777.0))
    def landedDf(evs: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val split = landedDf(b1 ++ b2).agg(expr(
      "(min(unix_timestamp(ts) div 86400)" +
        " + max(unix_timestamp(ts) div 86400) + 1) div 2"))
      .collect().head.getLong(0)
    val fold = new graft.streaming.CupedFold(split)
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("cupedfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) ==
      rows(graft.etl.Analyze.cuped(landedDf(b1))),
      "fold after wave 1 diverged from the batch kernel")
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = rows(fold.serve(spark))
    assert(live == rows(graft.etl.Analyze.cuped(landedDf(b1 ++ b2))),
      "fold after wave 2 diverged — the late pre-period purchase must " +
        "move user 1's covariate retroactively")
    // a39's DiD card serves off the SAME fold state (r15) — the fourth
    // readout the shared per-user (pre, post) reduction funds; it must
    // equal the batch DiD kernel on the same rows at the same split
    assert(rows(fold.serveDid(spark)) ==
      rows(graft.etl.Analyze.didFromUsers(
        graft.etl.Analyze.userPrePostCents(landedDf(b1 ++ b2),
          lit(split)))),
      "serveDid diverged from the batch DiD kernel on the same rows")
    // a re-delivered committed batch would double X and Y; the batchId
    // guard must make it a no-op
    fold.onBatch(landedDf(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.CupedFold(split)
    f2.rebuildFrom(landedDf(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    // used checkpoint + empty fold refuses loudly
    val f3 = new graft.streaming.CupedFold(split)
    intercept[IllegalStateException] { f3.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt) }
  }

  test("a32' sequential-A/B fold: the boundary TIGHTENS retroactively as " +
    "enrollment arrives; a late earlier event moves an enrollment day " +
    "back; replay no-op; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    val fold = new graft.streaming.SeqAbStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("seqabfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type"), ckpt)
    // the A32 batch spec's peeking corpus, streamed: b1 is day 1 (10
    // A-purchases, 10 B-views); b2 lands the other 380 users on day 2;
    // b3 is a LATE day-1 view for one day-2 user (enroll_day min-moves
    // 2 → 1 retroactively)
    val userIds = (0L until 400L).toSeq
    val arms = userIds.toDF("user_id")
      .withColumn("arm", when(
        graft.functions.IdHash.bucket(col("user_id"), 100) < 50, "A")
        .otherwise("B"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val earlyA = userIds.filter(arms(_) == "A").take(10)
    val earlyB = userIds.filter(arms(_) == "B").take(10)
    val late = userIds.filterNot((earlyA ++ earlyB).toSet)
    val b1 = earlyA.map(u => (u, at(1), u, "purchase")) ++
      earlyB.map(u => (u, at(1), u, "view"))
    val b2 = late.map(u => (u, at(2), u, "view"))
    val b3 = Seq((9000L, at(1), late.head, "view"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        r.getDouble(6), r.getBoolean(7), r.getBoolean(8))).toSeq
    in.addData(b1: _*); q.processAllAvailable()
    // within b1's horizon enrollment looks COMPLETE: t = 1, boundary
    // 1.96, and the planted z = 4.4721 clears it — the fold honestly
    // calls the experiment on the information folded so far
    val d1Early = rows(fold.serve()).head
    assert(d1Early._6.contains(4.4721) && d1Early._7 == 1.96
      && d1Early._9, s"$d1Early")
    in.addData(b2: _*); q.processAllAvailable()
    // b2's 380 enrollments shrink day 1's information fraction to
    // 0.05 — the SAME day-1 row now carries boundary 8.7654 and the
    // early win un-calls itself (the peeking correction, live)
    val d1Mid = rows(fold.serve()).head
    assert(d1Mid._7 == 8.7654 && d1Mid._8 && !d1Mid._9, s"$d1Mid")
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    // the late day-1 view re-days its user: day 1 now has 21
    // enrollments, and serve ≡ the batch kernel over the landed corpus
    val live = rows(fold.serve())
    assert(live.head._2 + live.head._4 == 21L, s"${live.head}")
    val landed = (b1 ++ b2 ++ b3).toDF("event_id", "ts", "user_id",
      "event_type")
    assert(live == rows(graft.etl.Analyze.sequentialAb(landed)))
    // the SAME folded journeys serve the a38 SRM guard (the trust
    // check that says whether to believe the monitor at all)
    assert(fold.serveSrm().collect().map(_.toString).toSeq ==
      graft.etl.Analyze.srmGuard(landed).collect().map(_.toString).toSeq,
      "SRM serve over the shared state diverged from the batch kernel")
    // min-monoid idempotence: re-folding b2 is a content no-op
    fold.foldBatch(b2.toDF("event_id", "ts", "user_id", "event_type"))
    assert(rows(fold.serve()) == live)
    // restart recipe: one-pass rebuild ≡ continuous fold
    val f2 = new graft.streaming.SeqAbStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve()) == live)
  }

  test("a28' RFM fold: per-user triples merge as (max, sum, sum); the " +
    "recency anchor advances with the stream; replays don't double; " +
    "serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.RfmStreamFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("rfmfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    def at(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // u1's activity and purchases SPLIT across batches (freq 2+2, cents
    // 700+400); u2 appears only in b1 on day 1 — after b1 the anchor is
    // day 2 (u2 recency 1 → R3), after b2 the anchor advances to day 20
    // and u2's recency becomes 19 → R1: the same user degrades purely
    // because the stream's horizon moved
    val b1 = Seq((1L, at(1), 2L, "view", 0.0),
      (2L, at(1), 1L, "purchase", 3.0), (3L, at(2), 1L, "purchase", 4.0))
    val b2 = Seq((4L, at(20), 1L, "purchase", 4.0),
      (5L, at(20), 1L, "view", 0.0))
    def seg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4)))).toMap
    in.addData(b1: _*); q.processAllAvailable()
    val early = seg(fold.serve(spark))
    // both users recency ≤ 1 → R3; u1 700 cents → M1 (<1000), u2 M1
    assert(early.keySet == Set("R3F1M1"), early.toString)
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val live = seg(fold.serve(spark))
    // u1: last day 20 → R3, freq 4, cents 1100 → M2; u2: recency 19 →
    // R1, freq 1, cents 0 → M1
    assert(live.keySet == Set("R3F1M2", "R1F1M1"), live.toString)
    assert(live("R3F1M2") == ((1L, 0.0, 4.0, 1100L)))
    assert(live("R1F1M1") == ((1L, 19.0, 1.0, 0L)))
    val landed = (b1 ++ b2)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(live == seg(graft.etl.Analyze.rfmSegments(landed)))
    fold.onBatch(
      b2.toDF("event_id", "ts", "user_id", "event_type", "value"), 1L)
    assert(seg(fold.serve(spark)) == live)
    val f2 = new graft.streaming.RfmStreamFold
    f2.rebuildFrom(landed)
    assert(seg(f2.serve(spark)) == live)
  }

  test("a25' transition fold: boundary pairs stitch across micro-batches; " +
    "replays don't double; serve ≡ batch kernel") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.TransitionStreamFold
    val in = MemoryStream[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("transfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "user_id", "event_type"), ckpt)
    // u1's A B | A B splits mid-sequence: the B→A pair EXISTS ONLY as a
    // batch-boundary stitch; u2's two A's land in different batches so
    // its self-loop is boundary-only too. Ids are monotone per user
    // across batches (the documented ordering contract).
    val b1 = Seq((1L, 1L, "A"), (2L, 1L, "B"), (5L, 2L, "A"))
    val b2 = Seq((3L, 1L, "A"), (4L, 1L, "B"), (6L, 2L, "A"))
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val live = rows(fold.serve(spark))
    assert(live == Seq(("A", "A", 1L, 0.3333), ("A", "B", 2L, 0.6667),
      ("B", "A", 1L, 1.0)))
    // the landed corpus through the BATCH kernel agrees exactly
    val landed = (b1 ++ b2)
      .map { case (id, u, t) =>
        (id, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(live == rows(graft.etl.Analyze.eventTransitions(landed)))
    // a foreachBatch RETRY re-delivers a batchId: additive counts must
    // not double (the QuantileFold exactly-once device)
    fold.onBatch(b2.toDF("event_id", "user_id", "event_type"), 1L)
    assert(rows(fold.serve(spark)) == live)
    // restart recipe: refold the landed corpus in one pass ≡ continuous
    val f2 = new graft.streaming.TransitionStreamFold
    f2.rebuildFrom(landed.select("event_id", "user_id", "event_type"))
    assert(rows(f2.serve(spark)) == live)
  }

  test("w12' concurrency fold: planted intervals crossing micro-batch " +
    "boundaries serve the exact batch curve; replays don't double") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.ConcurrencyStreamFold
    val in = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("cfold").toString
    val q = fold.start(in.toDF().toDF("start_s", "end_s"), ckpt)
    // batch 1's long session D[3590, 7300] spans hours 0→2; batch 2
    // lands E[7200, 7210] overlapping D's tail and B[5, 20] overlapping
    // A — every overlap pair straddles the batch boundary
    val b1 = Seq((0L, 10L), (100L, 110L), (3590L, 7300L))
    val b2 = Seq((5L, 20L), (7200L, 7210L))
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable()
    q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val live = rows(fold.serve())
    val landed = (b1 ++ b2).toDF("start_s", "end_s")
    assert(live == rows(graft.ext.WindowFns.concurrencyCurve(landed)))
    // planted arithmetic: A+B overlap → hour-0 peak 2; hour 1 is delta-
    // free mid-D (densified carry 1); D+E overlap → hour-2 peak 2
    assert(live == Seq((0L, 4L, 2L), (1L, 0L, 1L), (2L, 1L, 2L)))
    // additive state: a re-delivered batchId must not double-count
    fold.onBatch(b2.toDF("start_s", "end_s"), 1L)
    assert(rows(fold.serve()) == live)
    // restart recipe: one distributed re-reduction of the landed spans
    val f2 = new graft.streaming.ConcurrencyStreamFold
    f2.rebuildFrom(landed)
    assert(rows(f2.serve()) == live)
  }

  test("a18' quantile fold fails fast (not OOM) when the value range " +
    "outgrows the bin cap") {
    import spark.implicits._
    val fold = new graft.streaming.QuantileStreamFold(grain = 1.0, maxBins = 10)
    val wide = (0 until 50).map(i => (i.toLong, i * 1000.0)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      fold.foldBatch(wide, "v")
    }
    assert(e.getMessage.contains("raise grain"))
  }

  test("d1' Bloom dedup soundness under fpp stress: even a half-full-of-" +
    "lies filter NEVER ships a duplicate (false negatives impossible)") {
    import spark.implicits._
    // fpp = 0.5: the filter spuriously drops fresh docs — the allowed
    // error direction — but every true duplicate must still be dropped,
    // in whichever batch it arrives.
    val dd = new graft.streaming.BloomStreamDedup(100, 0.5)
    val b1 = (0 until 50).map(i => (i.toLong, s"k_$i")).toDF("doc_id", "fp")
    val kept1 = dd.foldBatch(b1, "fp").as[(Long, String)].collect().map(_._2).toSet
    val b2 = ((0 until 50).map(i => (100L + i, s"k_$i")) ++
      (0 until 20).map(i => (200L + i, s"new_$i"))).toDF("doc_id", "fp")
    val kept2 = dd.foldBatch(b2, "fp").as[(Long, String)].collect().map(_._2).toSet
    assert(kept1.subsetOf((0 until 50).map(i => s"k_$i").toSet))
    // soundness: nothing landed in batch 1 re-lands in batch 2
    assert(kept2.intersect(kept1).isEmpty)
    assert(kept2.subsetOf((0 until 20).map(i => s"new_$i").toSet))
  }

  test("fold restart guard: a used checkpoint + an empty fold is refused " +
    "without a rebuild corpus, rebuilt with one, and a live fold resumes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def at(d: Int) = Timestamp.from(
      java.time.Instant.ofEpochSecond(d * 86400L))
    val fold = new graft.streaming.SurvivalStreamFold
    val in = MemoryStream[(Long, Timestamp, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("restartguard").toString
    val q = fold.start(in.toDF().toDF("event_id", "ts", "user_id"), ckpt)
    val b1 = Seq((1L, at(1), 1L), (2L, at(9), 1L), (3L, at(1), 2L))
    in.addData(b1: _*); q.processAllAvailable(); q.stop()
    val live = fold.serve().collect().map(_.toString).toSeq
    // (1) a FRESH fold on the SAME checkpoint with no rebuild corpus
    // must refuse loudly — resuming would skip batch 0 silently
    val fresh = new graft.streaming.SurvivalStreamFold
    val err = intercept[IllegalStateException] {
      fresh.start(in.toDF().toDF("event_id", "ts", "user_id"), ckpt)
    }
    assert(err.getMessage.contains("committed batches"))
    // (2) the same call WITH the landed corpus rebuilds and may resume
    val fresh2 = new graft.streaming.SurvivalStreamFold
    val q2 = fresh2.start(in.toDF().toDF("event_id", "ts", "user_id"), ckpt,
      landed = Some(b1.toDF("event_id", "ts", "user_id")))
    q2.stop()
    assert(fresh2.serve().collect().map(_.toString).toSeq == live)
    // (3) the ORIGINAL fold (state intact) resumes without complaint —
    // the live-continuation case the guard must not break
    val q3 = fold.start(in.toDF().toDF("event_id", "ts", "user_id"), ckpt)
    q3.stop()
    assert(fold.serve().collect().map(_.toString).toSeq == live)
  }

  test("d41' weighted reservoir fold: k-row state, late high-priority " +
    "rows evict earlier picks, replay no-op, serve ≡ batch draw exactly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // k = 3 over a corpus larger than k, split so batch 2 carries rows
    // that must EVICT batch-1 picks (priorities are deterministic in
    // doc_id, so the reference draw is the batch kernel itself)
    val fold = new graft.streaming.ReservoirStreamFold(k = 3)
    val in = MemoryStream[(Long, String, String, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("resfold").toString
    val q = fold.start(
      in.toDF().toDF("doc_id", "lang", "source", "n_chars"), ckpt)
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, "en", "s", 100L + i)).toDF(
        "doc_id", "lang", "source", "n_chars")
    def draw(ids: Seq[Long]) = graft.ext.Curate
      .weightedSampleDf(docs(ids), 3, graft.ext.Curate.D41Seed)
      .collect().map(_.toString).toSeq
    def served() = fold.serve(spark).collect().map(_.toString).toSeq
    val b1 = (1L to 10L)
    val b2 = (11L to 25L)
    in.addData(b1.map(i => (i, "en", "s", 100L + i)): _*)
    q.processAllAvailable()
    assert(served() == draw(b1))
    in.addData(b2.map(i => (i, "en", "s", 100L + i)): _*)
    q.processAllAvailable()
    q.stop()
    // exact batch parity over the union — and batch 2 actually changed
    // the sample (otherwise this pins nothing)
    assert(served() == draw(b1 ++ b2))
    assert(served() != draw(b1), "batch 2 never evicted a pick")
    // replay no-op (deterministic priorities dedup by doc_id)
    fold.foldBatch(docs(b2))
    assert(served() == draw(b1 ++ b2))
    // restart recipe
    val f2 = new graft.streaming.ReservoirStreamFold(k = 3)
    f2.rebuildFrom(docs(b1 ++ b2))
    assert(f2.serve(spark).collect().map(_.toString).toSeq == served())
  }

  test("w17' conversion-latency fold: funnel completing ACROSS a batch " +
    "boundary; a LATE earlier view retroactively unlocks a click; " +
    "state compacts to the eligible frontier; replay no-op; serve ≡ batch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val fold = new graft.streaming.ConversionLatencyFold
    val in = MemoryStream[(Long, Timestamp, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("convfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type"), ckpt)
    def at(s: Int) = Timestamp.from(java.time.Instant.ofEpochSecond(s))
    // u1 completes ACROSS the b1/b2 boundary (view+click in b1,
    // purchase in b2). u2's click@50 lands BEFORE any view — dead until
    // the LATE view@20 in b3 retroactively unlocks it (the case the
    // in-order funnelStream rejects by contract). u3 converts inside b1
    // and carries extra clicks AFTER its first eligible click — the
    // compaction must drop exactly those.
    val b1 = Seq((1L, at(100), 1L, "view"), (2L, at(200), 1L, "click"),
      (3L, at(50), 2L, "click"), (4L, at(10), 3L, "view"),
      (5L, at(20), 3L, "click"), (6L, at(30), 3L, "click"),
      (7L, at(40), 3L, "click"), (8L, at(25), 3L, "purchase"))
    val b2 = Seq((9L, at(300), 1L, "purchase"), (10L, at(70), 2L, "purchase"))
    val b3 = Seq((11L, at(20), 2L, "view"))
    def card(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    def batchCard(rows: Seq[(Long, Timestamp, Long, String)]) =
      card(graft.ext.WindowFns.conversionLatency(
        rows.toDF("event_id", "ts", "user_id", "event_type")))
    in.addData(b1: _*); q.processAllAvailable()
    // only u3 has converted; every serve must equal the batch kernel
    // over everything landed so far
    assert(card(fold.serve()) == Seq((1L, 15.0, 15.0, 15L, 10.0, 5.0)))
    in.addData(b2: _*); q.processAllAvailable()
    // u1's cross-boundary purchase lands; u2's purchase is still dead
    // (its click has no view before it yet)
    assert(card(fold.serve()) ==
      Seq((2L, 107.5, 181.5, 200L, 55.0, 52.5)))
    assert(card(fold.serve()) == batchCard(b1 ++ b2))
    in.addData(b3: _*); q.processAllAvailable()
    q.stop()
    // the late view@20 retroactively converts u2 (v=20, c=50, p=70)
    val live = card(fold.serve())
    assert(live == Seq((3L, 50.0, 170.0, 200L, 46.67, 41.67)),
      live.mkString(", "))
    assert(live == batchCard(b1 ++ b2 ++ b3))
    // state compaction: per user exactly (min view, clicks <= c,
    // purchases <= p) survive — u3's clicks @30/@40 are provably dead
    // and must be gone: 3 rows per user
    val state = fold.stateFrame.get.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
    assert(state == Set(
      (1L, "view", at(100)), (1L, "click", at(200)), (1L, "purchase", at(300)),
      (2L, "view", at(20)), (2L, "click", at(50)), (2L, "purchase", at(70)),
      (3L, "view", at(10)), (3L, "click", at(20)), (3L, "purchase", at(25))),
      state.mkString(", "))
    // set-union idempotence: re-folding a batch is a content no-op
    fold.foldBatch(b2.toDF("event_id", "ts", "user_id", "event_type"))
    assert(card(fold.serve()) == live)
    // restart recipe: one-pass rebuild from the landed corpus ≡ live
    val f2 = new graft.streaming.ConversionLatencyFold
    f2.rebuildFrom((b1 ++ b2 ++ b3).toDF("event_id", "ts", "user_id", "event_type"))
    assert(card(f2.serve()) == live)
  }

  test("t24' live hashed-LM training: fold ≡ batch train at every " +
    "point in the stream; replay no-op; rebuild-from-landed ≡ live") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.ext.TextStats
    import graft.streaming.HashedLmFold
    val ckpt = java.nio.file.Files.createTempDirectory("t24fold").toString
    val (bu, bb) = (64, 128) // tiny: collisions live, like the t24 spec
    val in = MemoryStream[TDoc]
    val fold = new HashedLmFold(bu, bb)
    val q = fold.start(in.toDF(), ckpt)
    val b1 = Seq(TDoc(0, "a b a c", "en", "s", 7),
      TDoc(1, "b a b", "en", "s", 5))
    val b2 = Seq(TDoc(2, "c c a", "fr", "s", 5),
      TDoc(3, "solo", "fr", "s", 4))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    def batchTrained(landed: Seq[TDoc]): Seq[String] = {
      val df = landed.toDF()
      val (u, b) = TextStats.hashedLmCountsOf(df, bu, bb)
      canon(TextStats.hashedLmReport(df, u, b))
    }
    in.addData(b1: _*); q.processAllAvailable()
    assert(canon(fold.serve(spark, b1.toDF())) == batchTrained(b1),
      "fold model after batch 1 diverged from a batch train on wave 1")
    in.addData(b2: _*); q.processAllAvailable()
    val all = b1 ++ b2
    val live = canon(fold.serve(spark, all.toDF()))
    assert(live == batchTrained(all),
      "fold model after batch 2 diverged from a batch train on all waves")
    // a re-delivered committed batch id must not double-count
    fold.onBatch(b1.toDF(), 0L)
    assert(canon(fold.serve(spark, all.toDF())) == live, "replay double-counted")
    q.stop()
    // restart recipe: rebuild-from-landed is exact (the fold IS the
    // batch kernel's sum)
    val f2 = new HashedLmFold(bu, bb)
    f2.rebuildFrom(all.toDF())
    assert(canon(f2.serve(spark, all.toDF())) == live)
    // a rebuild resets the batch-id guard: the re-delivered, uncommitted
    // batch 0 of the resumed stream must fold on top of it
    val f4 = new HashedLmFold(bu, bb)
    f4.rebuildFrom(b1.toDF())
    f4.onBatch(b2.toDF(), 0L)
    assert(canon(f4.serve(spark, all.toDF())) == live,
      "a rebuilt fold dropped batch 0")
    // and a used checkpoint + an EMPTY fold refuses loudly (StreamFold)
    val f3 = new HashedLmFold(bu, bb)
    intercept[IllegalStateException] { f3.start(in.toDF(), ckpt) }
  }

  test("t24' serving adds no session function; a served frame keeps the " +
    "model it was served under after later batches") {
    import spark.implicits._
    import graft.ext.TextStats
    import graft.streaming.HashedLmFold
    val dir = "/root/testdata/sf0.001"
    val registry = spark.sessionState.functionRegistry
    val before = registry.listFunction().size
    val fold = new HashedLmFold(64, 128)
    val waves = (0 until 5).map(w => (0 until 3).map(i =>
      TDoc(10L * w + i, s"w$w a b w$w c w$i", if (i % 2 == 0) "en" else "fr",
        "s", 12)))
    val docs = waves.flatten.toDF()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    waves.init.zipWithIndex.foreach { case (wave, id) =>
      fold.onBatch(wave.toDF(), id.toLong)
      canon(fold.serve(spark, docs))
    }
    val pending = fold.serve(spark, docs) // built now, run after batch 5
    val preBatch5 = canon(fold.serve(spark, docs))
    fold.onBatch(waves.last.toDF(), 4L)
    val postBatch5 = canon(fold.serve(spark, docs))
    TextStats.t22BigramLogprob(spark, dir).collect()
    TextStats.t23PerplexityFilter(spark, dir).collect()
    TextStats.t24HashedLm(spark, dir).collect()
    assert(registry.listFunction().size == before,
      s"function registry grew from $before to ${registry.listFunction().size}")
    assert(postBatch5 != preBatch5, "batch 5 did not change the model")
    assert(canon(pending) == preBatch5,
      "a frame served before batch 5 ran under the post-batch-5 model")
  }

  test("s21' streaming landing sync ≡ manifest incrementalSync on the " +
    "same waves; a replayed batch does not advance the version history") {
    import graft.sources.Sources
    import graft.streaming.IngestSync
    val root = java.nio.file.Files.createTempDirectory("s21stream").toString
    val (landing, stateS, stateM, ckpt) =
      (s"$root/landing", s"$root/stateS", s"$root/stateM", s"$root/ckpt")
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    def stateRows(stateRoot: String): Seq[Seq[String]] = {
      val vs = Sources.readStateVersion(spark, stateRoot,
        version = {
          val dirF = new java.io.File(s"$stateRoot/versions")
          dirF.listFiles().map(_.getName.drop(1).toInt).max
        })
      vs.orderBy(col("event_type"), col("d")).collect()
        .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
        .toSeq
    }
    // wave 1 lands; both modes sync
    ev.filter(dayofmonth(col("ts")) <= 20)
      .repartition(4).write.mode("overwrite").parquet(landing)
    Sources.incrementalSync(spark, landing, stateM)
    val q1 = IngestSync.start(spark, landing, stateS, ckpt)
    q1.awaitTermination()
    // wave 2 appends; the stream resumes from its checkpoint and must
    // read ONLY the new files (the Auto Loader contract)
    ev.filter(dayofmonth(col("ts")) > 20)
      .repartition(2).write.mode("append").parquet(landing)
    Sources.incrementalSync(spark, landing, stateM)
    val q2 = IngestSync.start(spark, landing, stateS, ckpt)
    q2.awaitTermination()
    assert(stateRows(stateS) == stateRows(stateM),
      "stream-maintained state diverged from the manifest-based sync")
    // WAP under retry: re-deliver an ALREADY-COMMITTED batch id — the
    // body must no-op; the version history must not advance
    val versionsBefore = new java.io.File(s"$stateS/versions")
      .listFiles().map(_.getName).sorted.toSeq
    IngestSync.onBatch(stateS, spark.read.parquet(landing), batchId = 0L)
    val versionsAfter = new java.io.File(s"$stateS/versions")
      .listFiles().map(_.getName).sorted.toSeq
    assert(versionsAfter == versionsBefore,
      s"replayed batch advanced the history: $versionsBefore → $versionsAfter")
    // and the replay left the served state untouched
    assert(stateRows(stateS) == stateRows(stateM))
  }

  test("s21' WAP crash windows (advisor r14): a batch that crashed " +
    "AFTER its version publish but BEFORE the marker re-commits " +
    "without double-merging; a lost batch's orphan version is swept, " +
    "never read as prev") {
    import graft.streaming.IngestSync
    val root = java.nio.file.Files.createTempDirectory("s21crash").toString
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val w1 = ev.filter(dayofmonth(col("ts")) <= 10)
    val w2 = ev.filter(dayofmonth(col("ts")) > 10 &&
      dayofmonth(col("ts")) <= 20)
    val w3 = ev.filter(dayofmonth(col("ts")) > 20)
    def rows(stateRoot: String): Seq[String] = {
      val latest = new java.io.File(s"$stateRoot/versions").listFiles()
        .map(_.getName).filter(_.startsWith("v")).map(_.drop(1).toInt).max
      spark.read.parquet(s"$stateRoot/versions/v$latest")
        .orderBy(col("event_type"), col("d"))
        .collect().map(_.toString).toSeq
    }
    // the clean reference history: three batches, no crashes
    val ref = s"$root/ref"
    IngestSync.onBatch(ref, w1, 0L)
    IngestSync.onBatch(ref, w2, 1L)
    IngestSync.onBatch(ref, w3, 2L)
    // crash window 1: batch 1's version v2 published (tag riding in
    // the dir), marker lost — exactly the advisor's double-count window
    val st = s"$root/st"
    IngestSync.onBatch(st, w1, 0L)
    IngestSync.onBatch(st, w2, 1L)
    assert(new java.io.File(s"$st/batches/b1").delete(), "test setup")
    val before = new java.io.File(s"$st/versions").listFiles()
      .map(_.getName).sorted.toSeq
    IngestSync.onBatch(st, w2, 1L) // foreachBatch re-delivery
    val after = new java.io.File(s"$st/versions").listFiles()
      .map(_.getName).sorted.toSeq
    assert(after == before,
      s"re-delivery after the crash window re-merged the delta: " +
        s"$before → $after")
    assert(new java.io.File(s"$st/batches/b1").isFile,
      "re-delivery did not re-commit the marker")
    // crash window 2: an orphan version from a LOST batch id (tagged,
    // marker never written) sits as the visible latest — it must be
    // swept, NOT read as prev, and the real batch publishes in its place
    val orphan = new java.io.File(s"$st/versions/v3")
    spark.range(3).toDF("junk").write.parquet(orphan.getPath)
    assert(new java.io.File(orphan, "_batch_b99").createNewFile())
    IngestSync.onBatch(st, w3, 2L)
    assert(new java.io.File(s"$st/versions/v3/_batch_b2").isFile,
      "batch 2's publish did not replace the orphan version")
    assert(rows(st) == rows(ref),
      "crash-window history diverged from the clean three-batch history")
    // advisor r15: TWO consecutive unmarked tagged versions — something
    // published ON TOP of an orphan (mixed manifest/stream publishes or
    // a checkpoint reset) — must be REFUSED, not silently double-merged
    // into the history or half-swept
    val st2 = s"$root/st2"
    IngestSync.onBatch(st2, w1, 0L)
    Seq(("v2", "_batch_b7"), ("v3", "_batch_b8")).foreach { case (v, t) =>
      val d = new java.io.File(s"$st2/versions/$v")
      spark.range(2).toDF("junk").write.parquet(d.getPath)
      assert(new java.io.File(d, t).createNewFile())
    }
    val e = intercept[RuntimeException] { IngestSync.onBatch(st2, w2, 1L) }
    assert(e.getMessage.contains("consecutive unmarked"),
      s"wrong refusal: ${e.getMessage}")
    assert(new java.io.File(s"$st2/versions/v2").isDirectory &&
      new java.io.File(s"$st2/versions/v3").isDirectory,
      "the refusal path must not delete evidence")
  }

  test("a41' Benford fold: the nine-counter state merges additively " +
    "across micro-batches; replay no-op; serve ≡ batch kernel; " +
    "rebuild-from-landed recipe; used-checkpoint guard") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val b1: Seq[(Long, java.sql.Timestamp, Long, String, Double)] = Seq(
      (1L, ts0, 1L, "purchase", 1.0),   // 100 cents → digit 1
      (2L, ts0, 2L, "purchase", 19.99), // 1999 → 1
      (3L, ts0, 3L, "purchase", 0.35),  // 35 → 3
      (4L, ts0, 4L, "view", 9.0))       // not a purchase: excluded
    val b2: Seq[(Long, java.sql.Timestamp, Long, String, Double)] = Seq(
      (5L, ts0, 5L, "purchase", 92.0),  // 9200 → 9
      (6L, ts0, 6L, "purchase", 2.0))   // 200 → 2
    def df(e: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      e.toDF("event_id", "ts", "user_id", "event_type", "value")
    def batchCard(e: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      graft.etl.Analyze.benfordFromCounts(
        graft.etl.Analyze.benfordDigitCounts(df(e)))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSeq
    val fold = new graft.streaming.BenfordFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("benfordfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) == rows(batchCard(b1)),
      "fold after wave 1 diverged from the batch kernel")
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val live = rows(fold.serve(spark))
    assert(live == rows(batchCard(b1 ++ b2)),
      "fold after wave 2 diverged from the batch kernel")
    // digit sanity off the card itself: 1 → 2 observations (1.00 and
    // 19.99), 2/3/9 → 1 each, unseen digits 0
    val byDigit = fold.serve(spark).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDigit(1) == 2L && byDigit(2) == 1L && byDigit(3) == 1L &&
      byDigit(9) == 1L && byDigit(5) == 0L)
    // SUM is not idempotent: a replayed committed batch must no-op
    fold.onBatch(df(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.BenfordFold
    f2.rebuildFrom(df(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    val f3 = new graft.streaming.BenfordFold
    intercept[IllegalStateException] { f3.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt) }
  }

  test("a43' bootstrap fold: the |types|·B replica-sum state merges " +
    "additively across micro-batches (the hash-keyed draw makes " +
    "incremental resampling EXACT, not approximate); replay no-op; " +
    "serve ≡ batch kernel; rebuild-from-landed; used-checkpoint guard") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val b1: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (1 to 25).map(i => (i.toLong, ts0, i.toLong, "purchase", i / 10.0))
    val b2: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (26 to 50).map(i => (i.toLong, ts0, i.toLong, "purchase", i / 10.0))
    def df(e: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      e.toDF("event_id", "ts", "user_id", "event_type", "value")
    def batchCard(e: Seq[(Long, java.sql.Timestamp, Long, String, Double)]) =
      graft.etl.Analyze.bootstrapCiFromSums(
        graft.etl.Analyze.bootstrapReplicaSums(df(e)),
        graft.etl.Analyze.bootstrapRawSums(df(e)))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSeq
    val fold = new graft.streaming.BootstrapFold
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("bootfold").toString
    val q = fold.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    assert(rows(fold.serve(spark)) == rows(batchCard(b1)),
      "fold after wave 1 diverged from the batch kernel")
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val live = rows(fold.serve(spark))
    assert(live == rows(batchCard(b1 ++ b2)),
      "fold after wave 2 diverged from the batch kernel — incremental " +
        "resampling must be exact because weights key on (event_id, b)")
    // SUM is not idempotent: a replayed committed batch must no-op
    fold.onBatch(df(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.BootstrapFold
    f2.rebuildFrom(df(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    val f3 = new graft.streaming.BootstrapFold
    intercept[IllegalStateException] { f3.start(
      in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ckpt) }
  }

  test("w19'/ST13 the watermark loop closes (r14 ask #4): the horizon " +
    "DERIVED from the lateness audit admits/drops exactly the shares " +
    "the card predicts on planted lateness") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = t("2024-01-01 10:00:00").getTime
    def ts(offsetS: Long) = new Timestamp(base + offsetS * 1000L)
    // arrival log (event_id = arrival order), one user so the per-user
    // frontier IS the stream's global watermark driver:
    //   240 in-order events every 29 s (hours 10 and 11),
    //   one in-order event at 12:30, three 50–80 s-late around 12:29,
    //   one 3-hours-late event (09:30), one in-order closer at 14:00
    val inOrder = (0 until 240).map(i => (i.toLong, ts(i * 29L)))
    val tail = Seq(
      (240L, ts(9000L)),         // 12:30:00 — frontier advances
      (241L, ts(9000L - 50L)),   // 12:29:10 — late 50 s (admit)
      (242L, ts(9000L - 60L)),   // 12:29:00 — late 60 s (admit)
      (243L, ts(9000L - 55L)),   // 12:29:05 — late 55 s (admit)
      (244L, ts(-1800L)),        // 09:30:00 — late 10 800 s (drop)
      (245L, ts(14400L)))        // 14:00:00 — closes hours 11–12
    val all = inOrder ++ tail
    val arrivalLog = all.map { case (id, t0) => (id, t0, 1L, "click") }
      .toDF("event_id", "ts", "user_id", "event_type")
    // the card: in-order 242/246 = 0.9837 < 0.99; ≤60 s 245/246 =
    // 0.9959 ≥ 0.99 → chosen horizon = 60 s, predicted drops = 1
    val card = graft.ext.WindowFns.watermarkHorizon(arrivalLog).collect()
    val chosen = card.filter(_.getAs[Boolean]("chosen"))
    assert(chosen.map(_.getAs[String]("bucket")).toSeq == Seq("late_1m"),
      s"card chose ${chosen.mkString(",")}")
    val horizon = graft.ext.WindowFns.chosenHorizonSeconds(arrivalLog)
    assert(horizon == 60L)
    // advisor r15: an EMPTY corpus reads horizon 0 (no rung chosen on
    // n=0), never NoSuchElementException at the withWatermark caller
    assert(graft.ext.WindowFns.chosenHorizonSeconds(arrivalLog.limit(0))
      == 0L)
    // n = the max_late rung's n_within (that rung covers everything)
    val n = card.map(_.getAs[Long]("n_within")).max
    val admitted = card.filter(_.getAs[String]("bucket") == "late_1m")
      .head.getAs[Long]("n_within")
    assert(n - admitted == 1L, "planted corpus should predict ONE drop")
    // the stream: same rows in the same ARRIVAL order, watermark set
    // from the card's chosen horizon
    val in = MemoryStream[Ev]
    val q = Windows.latenessBoundedCounts(
        in.toDF(), horizonS = horizon)
      .writeStream.format("memory").queryName("w19_out")
      .outputMode("append").start()
    def ev(t0: Timestamp) = Ev(t0, "click", 1L, 1.0)
    in.addData(inOrder.map(p => ev(p._2)))          // batch 1
    q.processAllAvailable()
    in.addData(tail.take(5).map(p => ev(p._2)))     // batch 2 incl. drop
    q.processAllAvailable()
    in.addData(ev(tail.last._2))                    // batch 3: closer
    q.processAllAvailable(); q.stop()
    val out = spark.table("w19_out")
      .select(col("hour"), col("n")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // hour 10: i*29 < 3600 → 125 rows; hour 11: the other 115; hour 12:
    // the in-order 12:30 + all three ≤60 s-late admits; hour 09: the
    // beyond-horizon event DROPPED — exactly the card's predicted loss
    assert(out.get(ts(0L)).contains(125L), s"hour 10: $out")
    assert(out.get(ts(3600L)).contains(115L), s"hour 11: $out")
    assert(out.get(ts(7200L)).contains(4L),
      s"hour 12 must include the three within-horizon late events: $out")
    assert(!out.keys.exists(_.getTime < base),
      s"the beyond-horizon event leaked into a published window: $out")
    // total = n − 1 predicted drop − 1 closer riding the still-open
    // 14:00 window (append mode only emits closed windows)
    assert(out.values.sum == n - 2,
      s"streamed total ${out.values.sum} != corpus $n minus the card's " +
        "predicted drop and the unclosed closer")
  }

  test("sim28' cell-drift fold: the k-counter state merges additively " +
    "across micro-batches against a FROZEN reference occupancy; " +
    "serve ≡ batch kernel; the alarm flips live as a skewed " +
    "generation accumulates; replay no-op; rebuild; checkpoint guard") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // frozen reference: cells {0→3, 1→1} over a k=4 published domain
    val refCells = Seq(0, 0, 0, 1)
    val refCounts = Map(0 -> 3L, 1 -> 1L)
    // wave 1 matches the reference shape (PSI stays under the rung);
    // wave 2 dumps mass into the reference-empty cell 3 — the live
    // retrain alarm must flip between the two serves
    val b1 = Seq((100L, 0))
    val b2 = Seq((101L, 3), (102L, 3), (103L, 3), (104L, 3), (105L, 3))
    def df(e: Seq[(Long, Int)]) = e.toDF("vec_id", "cell")
    def batchCard(cur: Seq[(Long, Int)]) =
      graft.ext.Similarity.cellOccupancyPsi(
        refCells.toDF("cell"), df(cur).select($"cell"), k = 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSeq
    val fold = new graft.streaming.CellDriftFold(refCounts, k = 4)
    val in = MemoryStream[(Long, Int)]
    val ckpt = java.nio.file.Files.createTempDirectory("celldrift").toString
    val q = fold.start(in.toDF().toDF("vec_id", "cell"), ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    val serve1 = fold.serve(spark).collect().head
    assert(rows(fold.serve(spark)) == rows(batchCard(b1)),
      "fold after wave 1 diverged from the batch kernel")
    assert(!serve1.getBoolean(6) && serve1.getDouble(3) < 0.2,
      s"a reference-shaped wave must not alarm: $serve1")
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val serve2 = fold.serve(spark).collect().head
    assert(rows(fold.serve(spark)) == rows(batchCard(b1 ++ b2)),
      "fold after wave 2 diverged from the batch kernel")
    assert(serve2.getBoolean(6) && serve2.getInt(4) == 3,
      s"mass in the reference-empty cell must flip the alarm and " +
        s"name cell 3: $serve2")
    val live = rows(fold.serve(spark))
    // SUM is not idempotent: a replayed committed batch must no-op
    fold.onBatch(df(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.CellDriftFold(refCounts, k = 4)
    f2.rebuildFrom(df(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    val f3 = new graft.streaming.CellDriftFold(refCounts, k = 4)
    intercept[IllegalStateException] {
      f3.start(in.toDF().toDF("vec_id", "cell"), ckpt)
    }
  }

  test("sim28' cell-drift fold domain guard (advisor r17): null and " +
    "out-of-[0,k) cells are COUNTED as violations — never folded, " +
    "never silently dropped from the totals — and a LongType cell " +
    "column folds instead of throwing") {
    import spark.implicits._
    val fold = new graft.streaming.CellDriftFold(Map(0 -> 2L, 1 -> 2L), k = 4)
    // a LONG cell column (the d51 ingest shape can surface either
    // width) carrying one valid row, one beyond-domain cell, one
    // negative, and one null — only the valid row may reach the state
    val batch = Seq[(Long, java.lang.Long)](
      (1L, 0L), (2L, 9L), (3L, -1L), (4L, null))
      .toDF("vec_id", "cell")
    fold.foldBatch(batch)
    assert(fold.domainViolations == 3L,
      s"expected 3 domain violations, got ${fold.domainViolations}")
    val served = fold.serve(spark).collect().head
    // n_cur counts ONLY the in-domain row; the violations are reported
    // beside the totals, not shifted into them
    assert(served.getLong(1) == 1L,
      s"out-of-domain rows leaked into the folded totals: $served")
    // rebuild resets the violation counter with the counts
    fold.rebuildFrom(Seq((1L, 0)).toDF("vec_id", "cell"))
    assert(fold.domainViolations == 0L,
      "rebuildFrom must reset the violation counter")
  }
  test("sim32' spectrum fold: the covariance-sketch state merges " +
    "additively across micro-batches; serve ≡ batch kernel at every " +
    "wave; collapse_major flips LIVE as a rank-1 flood accumulates; " +
    "replay no-op; rebuild; checkpoint guard") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // wave 1: axis-aligned +-2e_i over all four dims - isotropic
    // (eigenvalues {1,1,1,1}, share 0.25, PR 4.0, healthy); wave 2: a
    // rank-1 flood c*(1,1,1,1) with c = +-3 - the combined covariance
    // is EXACTLY 0.5*I + 4.5*J, eigenvalues {18.5, 0.5, 0.5, 0.5}
    val b1: Seq[(Long, Seq[Double])] = (0 until 4).flatMap(i => Seq(
      (i * 2L, Seq.tabulate(4)(d => if (d == i) 2.0 else 0.0)),
      (i * 2L + 1, Seq.tabulate(4)(d => if (d == i) -2.0 else 0.0))))
    val b2: Seq[(Long, Seq[Double])] = (0 until 4).flatMap(i => Seq(
      (100L + i * 2, Seq.fill(4)(3.0)), (101L + i * 2, Seq.fill(4)(-3.0))))
    def df(e: Seq[(Long, Seq[Double])]) = e.toDF("vec_id", "embedding")
    def batchCard(cur: Seq[(Long, Seq[Double])]) =
      graft.ext.Similarity.embeddingSpectrum(df(cur), dim = 4)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).toSeq
    val fold = new graft.streaming.SpectrumFold(dim = 4)
    val in = MemoryStream[(Long, Seq[Double])]
    val ckpt = java.nio.file.Files.createTempDirectory("spectrum").toString
    val q = fold.start(in.toDF().toDF("vec_id", "embedding"), ckpt)
    in.addData(b1: _*); q.processAllAvailable()
    val serve1 = fold.serve(spark).collect().head
    assert(rows(fold.serve(spark)) == rows(batchCard(b1)),
      "fold after wave 1 diverged from the batch kernel")
    assert(serve1.getDouble(3) == 1.0 && serve1.getDouble(7) == 4.0 &&
      !serve1.getBoolean(8),
      s"the isotropic wave must read eigen 1.0 / PR 4.0 / healthy: $serve1")
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val serve2 = fold.serve(spark).collect().head
    assert(rows(fold.serve(spark)) == rows(batchCard(b1 ++ b2)),
      "fold after wave 2 diverged from the batch kernel")
    assert(serve2.getDouble(3) == 18.5 && serve2.getDouble(4) == 0.5 &&
      serve2.getDouble(6) == 0.925 && serve2.getBoolean(8),
      s"the rank-1 flood must flip collapse_major with the exact " +
        s"hand spectrum: $serve2")
    // sim33' live basis (r19): the SAME state serves the PCA basis
    // through the one shared tail — identical to the batch basis on
    // the landed union (integer-valued corpus ⇒ bit-identical flats ⇒
    // bit-identical eigen output), and the top direction is the
    // flood's (1,1,1,1)/2
    val (bn, bmu, beigs, bvecs) =
      graft.ext.Similarity.pcaBasis(df(b1 ++ b2), 4)
    val (ln, lmu, leigs, lvecs) = fold.serveBasis()
    assert(ln == bn && lmu.toSeq == bmu.toSeq &&
      leigs.toSeq == beigs.toSeq &&
      lvecs.map(_.toSeq).toSeq == bvecs.map(_.toSeq).toSeq,
      "live basis diverged from the batch basis")
    // the basis serve is the UNROUNDED tail (the card rounds; a basis
    // to project with must not) — so these pins carry Jacobi-noise
    // tolerance where the card pins above are exact
    assert(math.abs(leigs(0) - 18.5) < 1e-9 &&
      lvecs(0).forall(x => math.abs(math.abs(x) - 0.5) < 1e-9),
      s"flood spectrum not recovered: ${leigs(0)} / ${lvecs(0).toSeq}")
    val live = rows(fold.serve(spark))
    // SUM is not idempotent: a replayed committed batch must no-op
    fold.onBatch(df(b2), 1L)
    assert(rows(fold.serve(spark)) == live, "replay double-counted")
    val f2 = new graft.streaming.SpectrumFold(dim = 4)
    f2.rebuildFrom(df(b1 ++ b2))
    assert(rows(f2.serve(spark)) == live)
    val f3 = new graft.streaming.SpectrumFold(dim = 4)
    intercept[IllegalStateException] {
      f3.start(df(Seq.empty), ckpt)
    }
  }

  test("empty serve: before any batch, every serve of a fold on FrameState " +
    "or KeyedSums equals its batch kernel over zero rows") {
    import graft.etl.Analyze
    import graft.ext.WindowFns
    import graft.streaming._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types.StructType
    def empty(ddl: String) = spark.createDataFrame(
      java.util.List.of[Row](), StructType.fromDDL(ddl))
    val ev = empty("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE")
    val split = 5L
    val users = Analyze.userPrePostCents(ev, lit(split))
    val refCounts = Map(0 -> 3L, 1 -> 1L)
    val refCells = spark.createDataFrame(
      java.util.List.of(Row(0), Row(0), Row(0), Row(1)), StructType.fromDDL("cell INT"))
    val pairs: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      ("a27' ab", () => new AbTestStreamFold().serve(spark), Analyze.abTest(ev)),
      ("a22' active users", () => new ActiveUsersStreamFold().serve(),
        Analyze.activeUsers(ev)),
      ("w9' cohort", () => new CohortStreamFold().serve(spark),
        WindowFns.cohortFromWeeks(WindowFns.userWeeks(ev))),
      ("w12' concurrency", () => new ConcurrencyStreamFold().serve(),
        WindowFns.concurrencyCurve(empty("start_s BIGINT, end_s BIGINT"))),
      ("a33' mann-whitney", () => new MannWhitneyFold().serve(spark),
        Analyze.mannWhitney(ev)),
      ("a34' ks", () => new MannWhitneyFold().serveKs(spark), Analyze.ksTest(ev)),
      ("a36' bh panel", () => new MetricPanelFold().serve(spark), Analyze.bhPanel(ev)),
      ("a37' power", () => new MetricPanelFold().serveMde(spark), Analyze.powerMde(ev)),
      ("a28' rfm", () => new RfmStreamFold().serve(spark), Analyze.rfmSegments(ev)),
      ("a29' survival", () => new SurvivalStreamFold().serve(),
        Analyze.survivalCurve(ev)),
      ("a32' sequential ab", () => new SeqAbStreamFold().serve(),
        Analyze.sequentialAb(ev)),
      ("a38' srm", () => new SeqAbStreamFold().serveSrm(), Analyze.srmGuard(ev)),
      ("a35' cuped", () => new CupedFold(split).serve(spark),
        Analyze.cupedFromUsers(users)),
      ("a39' did", () => new CupedFold(split).serveDid(spark),
        Analyze.didFromUsers(users)),
      ("w17' conversion latency", () => new ConversionLatencyFold().serve(),
        WindowFns.conversionLatency(ev)),
      ("a31' path", () => new PathStreamFold().serve(spark), Analyze.pathMining(ev)),
      ("a25' transition", () => new TransitionStreamFold().serve(spark),
        Analyze.eventTransitions(ev)),
      ("w15' ewma", () => new EwmaStreamFold().serve(spark), WindowFns.ewmaBaseline(ev)),
      ("w16' day over day", () => new DayOverDayStreamFold().serve(spark),
        WindowFns.dayOverDay(ev)),
      ("w14' rolling corr", () => new RollingCorrStreamFold().serve(spark),
        WindowFns.rollingCorr(ev)),
      ("a41' benford", () => new BenfordFold().serve(spark),
        Analyze.benfordFromCounts(Analyze.benfordDigitCounts(ev))),
      ("a43' bootstrap", () => new BootstrapFold().serve(spark),
        Analyze.bootstrapCiFromSums(Analyze.bootstrapReplicaSums(ev),
          Analyze.bootstrapRawSums(ev))),
      ("sim28' cell drift", () => new CellDriftFold(refCounts, k = 4).serve(spark),
        graft.ext.Similarity.cellOccupancyPsi(refCells, empty("cell INT"), k = 4)),
      ("a30' attribution", () => new AttributionStreamFold().serve(spark),
        Analyze.lastTouchAttribution(ev)))
    // the schema and rows, or the error a kernel raises over zero rows
    def outcome(df: => DataFrame) = scala.util.Try {
      val d = df
      (d.schema.map(f => (f.name, f.dataType)), d.collect().map(_.toString).toSeq)
    }.toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage.linesIterator.next()}")
    val failures = pairs.flatMap { case (name, serve, batch) =>
      val (got, want) = (outcome(serve()), outcome(batch))
      if (got == want) None else Some(s"$name: $got != $want")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("two state holders: outside StreamFold.scala, streaming/ keeps no " +
    "Option[DataFrame] state and pins no merge but the named leftovers; " +
    "Profile.scala is gone") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val dir = Paths.get("src/main/scala/graft/streaming")
    val stateVar = "var \\w+\\s*:\\s*Option\\[DataFrame\\]".r
    // file -> (Option[DataFrame] vars, localCheckpoint(true) pins)
    val leftovers = Map(
      "PathFold.scala" -> (1, 2),        // the carry each batch replaces
      "AttributionFold.scala" -> (1, 2), // the carry each batch replaces
      "TransitionFold.scala" -> (0, 2),  // the batch and its ends, batch-local
      "BloomDedup.scala" -> (0, 1),      // the survivor snapshot; off the adapter
      "CdcApply.scala" -> (0, 2),        // snapshot merge; off the adapter
      "Materialize.scala" -> (1, 0))     // a TTL cache, not a fold
    val found = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "StreamFold.scala")
      .map { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        p.getFileName.toString -> (stateVar.findAllIn(src).size,
          src.split(java.util.regex.Pattern.quote(".localCheckpoint(true)"), -1).length - 1)
      }.filter(_._2 != (0, 0)).toMap
    assert(found == leftovers, s"found $found")
    val holders = new String(
      Files.readAllBytes(dir.resolve("StreamFold.scala")), "UTF-8")
    assert(holders.contains("final class FrameState") &&
      holders.contains("final class KeyedSums"))
    assert(!Files.exists(Paths.get("src/main/scala/graft/Profile.scala")))
  }

  test("one fold adapter: only StreamFold.scala and the three twins off " +
    "it keep a batch-id guard or wire foreachBatch in streaming/") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files, Paths}
    val dir = Paths.get("src/main/scala/graft/streaming")
    val allowed = Set("StreamFold.scala", "IngestSync.scala",
      "BloomDedup.scala", "CdcApply.scala")
    val offenders = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        Seq("lastBatchId", "FoldRestart", ".foreachBatch")
          .filter(src.contains).map(what => s"$p: $what")
      }.toSeq
    assert(!Files.exists(dir.resolve("FoldRestart.scala")))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
