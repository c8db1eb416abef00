package perfbench

import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.WalmartOrderSchema
import graft.pipelines.WalmartOrderPipeline
import graft.sinks.JdbcUpsertSink
import graft.sources.FileKafka

/** The flagship pipeline as a backlog drain: `FileKafka.stream` →
  * `WalmartOrderPipeline.parse` → `JdbcUpsertSink` (UpdateInsert on
  * (purchaseOrderId, sku), batchSize 100) into in-memory Derby, with
  * `Trigger.AvailableNow` and a `maxOffsetsPerTrigger` cap.
  *
  * The whole backlog is written during set-up and drained in the
  * window: the file broker counts lines of a file that may be
  * mid-append, so a live producer could race its reader, while at a
  * fixed cap the drain rate is the sustainable input rate for that
  * cap. One operation is one micro-batch, timed by its
  * `triggerExecution`. The rows counted are the rows the sink wrote in
  * writes that succeeded. */
final class OrdersStream(ctx: Ctx) extends Workload {
  import OrdersStream._
  private val spark: SparkSession = ctx.spark
  private val topic = "walmart_order_raw"
  private var topicDir = ""
  private var msgs: Seq[OrderMsg] = Nil
  private val url = s"jdbc:derby:memory:perfbench_orders;create=true"
  private val table = "APP.walmart_order"
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var windowMs = (0L, 0L)
  /** Rows the sink wrote in the window. */
  private val sunk = new AtomicLong()

  private def sink(t: String) = new JdbcUpsertSink(url, t,
    JdbcUpsertSink.UpdateInsert(Seq("purchaseOrderId", "sku")), batchSize = 100)

  private def sql(statements: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try statements.foreach { s =>
      val st = c.createStatement()
      try st.execute(s) catch { case _: java.sql.SQLException if s.startsWith("DROP") => () }
      finally st.close()
    } finally c.close()
  }

  private def freshTable(t: String): Unit = {
    val Array(schema, name) = t.split('.')
    sql(s"DROP TABLE $t", WalmartOrderSchema.ansiDdl(schema, name))
  }

  /** Drains the topic into table `t`, adding the rows of every sink
    * write that succeeded to `written`. The parser's output rows of each
    * micro-batch are reported in its progress as [[ParsedRows]]. */
  private def drain(dir: String, checkpoint: String, t: String, cap: Long,
                    written: AtomicLong): Unit = {
    val s = sink(t)
    FileKafka.stream(spark, dir, topic, "earliest", Some(cap))
      .selectExpr("CAST(value AS STRING) AS value")
      .transform(WalmartOrderPipeline.parse(_))
      .observe(ParsedRows, count(lit(1)).as("rows"))
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        val obs = Observation()
        s.write(df.observe(obs, count(lit(1)).as("rows")))
        written.addAndGet(obs.get("rows").asInstanceOf[Long]): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Inputs: the seeded backlog and a fresh sink table. */
  def prepare(rep: Int): Unit = {
    msgs = OrderGen.messages(ctx.seed, Messages)
    topicDir = s"${ctx.work}/topics-$rep"
    OrderGen.writeTopic(topicDir, topic, msgs)
    freshTable(table)
  }

  /** Drains [[WarmUpBatches]] micro-batches of a topic from another
    * seed into another table: the first ~10 batches of a fresh JVM run
    * up to 3x slower while the JIT compiles the path, and the window
    * measures the pipeline as it runs for hours, not its first
    * seconds. */
  def warmUp(): Unit = {
    val warmDir = s"${ctx.work}/warm-topics"
    OrderGen.writeTopic(warmDir, topic, OrderGen.messages(ctx.seed + 1, WarmUpBatches * Cap))
    freshTable("APP.warm_order")
    drain(warmDir, s"${ctx.work}/warm-checkpoint", "APP.warm_order", Cap, new AtomicLong())
  }

  def run(): Window = {
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
    }
    spark.streams.addListener(listener)
    val t0 = System.currentTimeMillis()
    val outcome = scala.util.Try(ctx.call("stream", "orders") {
      drain(topicDir, s"${ctx.work}/checkpoint", table, Cap, sunk)
    })
    windowMs = (t0, System.currentTimeMillis())
    Tracer.drain(spark)
    spark.streams.removeListener(listener)
    val batches = progress.filter(_.numInputRows > 0).toSeq
    val ops = batches.map(p => Op(s"batch-${p.batchId}", p.durationMs.get("triggerExecution").toDouble,
      outcome.isSuccess)) ++ outcome.failed.toOption.map(e => Op(s"stream: $e", 0, ok = false))
    Window(ops, sunk.get.toDouble, (windowMs._2 - windowMs._1) / 1000.0)
  }

  private def tableRows(t: String): Map[(String, String), Map[String, String]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $t")
      val md = rs.getMetaData
      val byUpper = WalmartOrderSchema.outputColumns.map(n => n.toUpperCase -> n).toMap
      val out = mutable.Map.empty[(String, String), Map[String, String]]
      while (rs.next()) {
        val row = (1 to md.getColumnCount).map(i => byUpper(md.getColumnName(i)) -> OrderGen.cell(rs.getObject(i)))
          .filterNot(_._1 == "load_time").toMap
        out((row("purchaseOrderId"), row("sku"))) = row
      }
      out.toMap
    } finally c.close()
  }

  /** The Derby table must equal the generator's last-wins table,
    * ignoring `load_time`; each differing key is one failure. */
  def check(): Seq[String] = {
    val want = OrderGen.expectedTable(msgs)
    val got = tableRows(table)
    (want.keySet ++ got.keySet).toSeq.flatMap { k =>
      (want.get(k), got.get(k)) match {
        case (Some(w), Some(g)) if w == g => None
        case (w, g) =>
          val diff = (w.getOrElse(Map.empty).keySet ++ g.getOrElse(Map.empty).keySet)
            .filter(c => w.flatMap(_.get(c)) != g.flatMap(_.get(c))).toSeq.sorted.take(4)
          Some(s"order row $k differs in ${diff.mkString(",")}: " +
            diff.map(c => s"$c want ${w.flatMap(_.get(c))} got ${g.flatMap(_.get(c))}").mkString("; "))
      }
    }
  }

  def layers(): Seq[(String, Double)] = {
    val batches = progress.filter(_.numInputRows > 0).toSeq
    def durMean(k: String) =
      batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / math.max(1, batches.size)
    // the stream's own thread sets its job group, so take every stage
    val stages = ctx.tracer.get.allStageIntervals(spark)
    // Split the pipeline's layers by replaying sampled micro-batch
    // offset ranges: read alone, read + parse, then the sink writing
    // the pinned parsed rows into a fresh table. Sums are scaled to all
    // batches. A first, uncounted replay into the warm-up table compiles
    // the batch-read plans.
    val sample = batches.indices.filter(i => i % math.max(1, batches.size / ReplayBatches) == 0)
      .take(ReplayBatches).map(batches)
    freshTable("APP.replay_order")
    var readS, parseS, writeS, dropped = 0.0
    (sample.headOption.toSeq ++ sample).zipWithIndex.foreach { case (p, i) =>
      val replaySink = sink(if (i == 0) "APP.warm_order" else "APP.replay_order")
      val src = p.sources.head
      val start = Option(src.startOffset).getOrElse("earliest")
      def raw: DataFrame = FileKafka.batch(spark, topicDir, topic, start, src.endOffset)
        .selectExpr("CAST(value AS STRING) AS value")
      val (_, r) = Harness.timeS(raw.write.format("noop").mode("overwrite").save())
      val (_, rp) = Harness.timeS(WalmartOrderPipeline.parse(raw).write.format("noop").mode("overwrite").save())
      val parsed = WalmartOrderPipeline.parse(raw).localCheckpoint(true)
      val (_, w) = Harness.timeS(replaySink.write(parsed))
      val sent = parsed.select("request_time").distinct().count()
      if (i > 0) {
        readS += r; parseS += math.max(0.0, rp - r); writeS += w
        dropped += p.numInputRows - sent
      }
    }
    val scale = batches.size.toDouble / math.max(1, sample.size)
    val parsed = batches.map(p => Option(p.observedMetrics.get(ParsedRows))
      .map(_.getAs[Long]("rows")).getOrElse(0L)).sum
    val rows = sunk.get.toDouble
    Seq(
      "FileKafka.latest_offset_ms" -> durMean("latestOffset"),
      "FileKafka.read_s" -> readS * scale,
      "FileKafka.partitions_per_batch" -> batches.map { p =>
        val s = offsets(p.sources.head.startOffset); val e = offsets(p.sources.head.endOffset)
        e.count { case (part, end) => end > s.getOrElse(part, 0L) }.toDouble
      }.sum / math.max(1, batches.size),
      "stream.planning_ms" -> durMean("queryPlanning"),
      "stream.add_batch_ms" -> durMean("addBatch"),
      "stream.wal_commit_ms" -> durMean("walCommit"),
      "stream.commit_offsets_ms" -> durMean("commitOffsets"),
      "stream.batches" -> batches.size.toDouble,
      "stream.driver_gap_s" -> Tracer.uncoveredMs(windowMs._1, windowMs._2, stages) / 1000.0,
      "OrderParser.parse_s" -> parseS * scale,
      "OrderParser.rows_out" -> parsed.toDouble,
      "OrderParser.dropped_msgs" -> dropped * scale,
      "JdbcUpsertSink.write_s" -> writeS * scale,
      "JdbcUpsertSink.rows" -> rows,
      "JdbcUpsertSink.update_hits" -> (rows - tableRows(table).size))
  }
}

object OrdersStream {
  /** Backlog size and per-trigger cap; see perfbench/NOTES.md. */
  val Messages = 2000
  val Cap = 80
  val WarmUpBatches = 12
  /** Micro-batches replayed to split read, parse and sink time. */
  val ReplayBatches = 4
  /** Name of the observation of the parser's output rows. */
  val ParsedRows = "parsed"

  /** `{"topic":{"0":12,"1":3}}` → partition → offset. */
  def offsets(json: String): Map[Int, Long] =
    """"(\d+)"\s*:\s*(-?\d+)""".r.findAllMatchIn(Option(json).getOrElse(""))
      .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
}
