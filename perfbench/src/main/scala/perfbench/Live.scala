package perfbench

import graft.net.{KafkaBroker, KafkaCursor, MqttBroker, MqttClient, OpcuaServer, RespServer}
import graft.net.OpcuaWire.{EpochTicks, Variant}
import graft.ops.DataflowOps
import graft.pipeline.{IdempotentSink, MaterializedViews}
import graft.streaming.{KafkaBridge, MqttBridge, OpcuaMqttAgent, StreamingOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `live_pipeline`: one open-loop generator thread writes source-stamped
  * values of simulated PickAndPlace variables into the OPC-UA server; the
  * rows travel OpcuaMqttAgent → MqttBroker → `mqtt-sub` stream → decode →
  * enrichViaKv (RESP) → kafka-graft sink → KafkaBroker → kafka-graft
  * source → numeric/string dispatch → IdempotentSink.parquetAppend, with
  * the minute MV stream reading the same topic and the 17-panel dashboard
  * refreshing every 5 s against sf0.1 on the same cores.
  *
  * A paced phase offers [[Rate]] rows/s for the run's seconds, then
  * [[Bursts]] bursts of [[Burst]] rows, each drained before the next,
  * measure the drain rate. Every generated row is
  * matched on (metric, ts, value) at the MQTT tap, in the Kafka log and in
  * the sink, where the dispatched `value_num` / `value_str` must carry it.
  */
object Live {
  val Rate = 200
  val Burst = 8000
  val Bursts = 5
  val RefreshEveryS = 5.0
  val Topic = "machine_events"
  val Partitions = 3
  /** The simulated machine's variables: numeric process values and two
    * string-valued state variables (the type dispatch's string arm). */
  val Numeric: Seq[String] = Seq("ActualPlacementRateCPH", "VacuumPressureKPa",
    "NozzleTempC", "HeadSpeedMmS", "BoardCount", "PickErrors", "FeederLevel1",
    "FeederLevel2", "FeederLevel3", "FeederLevel4", "ConveyorSpeedMmS",
    "AirPressureBar", "CycleTimeMs", "MotorCurrentA", "VisionScore", "PowerKw")
  val Strings: Seq[String] = Seq("Status", "Mode")
  val States: Seq[String] = Seq("Running", "Idle", "Error", "Maintenance", "Setup")

  /** One generated row; `kind` is [[Initial]], [[Paced]], or
    * BurstKind + the 1-based burst number. */
  final case class Gen(metric: String, tsUs: Long, value: String, numeric: Boolean, kind: Int)
  val Initial = 0; val Paced = 1; val BurstKind = 1

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val k = (s.size - 1) * p / 100.0
      val lo = math.floor(k).toInt; val hi = math.ceil(k).toInt
      s(lo) + (s(hi) - s(lo)) * (k - lo)
    }

  /** The generator: values from the seeded RNG, stamps from the wall
    * clock (strictly increasing, so (metric, ts) identifies a row). */
  final class Generator(machine: OpcuaServer, seed: Long) {
    private val rng = new scala.util.Random(seed * 31 + 7)
    private var last = 0L
    val log = new ConcurrentLinkedQueue[Gen]()

    def put(metric: String, kind: Int): Gen = {
      val numeric = !Strings.contains(metric)
      val (v, text) =
        if (numeric) {
          val d = math.round((100 + rng.nextGaussian() * 25) * 100) / 100.0 + 0.01
          (Variant.of(d), d.toString)
        } else {
          val s = States(rng.nextInt(States.size))
          (Variant.of(s), s)
        }
      val ts = math.max(nowUs(), last + 1)
      last = ts
      val g = Gen(metric, ts, text, numeric, kind)
      machine.putVariant(metric, v, ts * 10 + EpochTicks)
      log.add(g)
      g
    }

    def next(kind: Int): Gen = {
      val all = Numeric ++ Strings
      put(all(rng.nextInt(all.size)), kind)
    }
  }

  /** StreamingQueryProgress of every stream, by query name. */
  final class Progress(tracer: Tracer, lag: () => Long) extends StreamingQueryListener {
    val events = new ConcurrentHashMap[String, ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]]()
    @volatile var maxLag = 0L
    val ingested = new java.util.concurrent.atomic.AtomicLong(0)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.computeIfAbsent(p.name, _ => new ConcurrentLinkedQueue()).add(p)
      if (tracer.enabled) {
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val durUs = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L) * 1000L
        tracer.record(s"stream.${p.name}.batch", 0L, 0L, tracer.fromWallMicros(startUs),
          tracer.fromWallMicros(startUs + durUs))
      }
      if (p.name == "ingest") {
        val n = ingested.addAndGet(p.numInputRows)
        maxLag = math.max(maxLag, lag() - n)
      }
    }
    def of(name: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      Option(events.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.phase("session")(ctx.spark)
    val sf = ctx.data.toString
    ctx.phase("mv")(MaterializedViews.minuteMvDf(spark, sf))
    ctx.phase("warmup")(refresh(ctx, sf, System.nanoTime(), timed = false))
    val machine = new OpcuaServer()
    val mqtt = new MqttBroker()
    val kv = new RespServer()
    val kafka = new KafkaBroker(defaultPartitions = Partitions)
    val closers = mutable.ArrayBuffer[AutoCloseable](machine, mqtt, kv, kafka)
    val queries = mutable.ArrayBuffer.empty[StreamingQuery]
    def logEnd(): Long = (0 until Partitions).map(p => math.max(0L, kafka.logEndOffset(Topic, p))).sum
    val progress = new Progress(ctx.tracer, () => logEnd())
    spark.streams.addListener(progress)
    try {
      val gen = new Generator(machine, ctx.seed)
      val mqttSeen = new ConcurrentHashMap[(String, Long), java.lang.Long]()
      val kafkaSeen = new ConcurrentHashMap[(String, Long), java.lang.Long]()
      val commitUs = new ConcurrentHashMap[Long, java.lang.Long]()
      val sinkWriteMs = new ConcurrentLinkedQueue[Double]()
      val sinkDir = ctx.work.resolve("sink").toString
      @volatile var tapping = true
      var kafkaTap: Option[Thread] = None
      ctx.phase("stack") {
        kv.put("context:operator", "Alice")
        kv.put("context:last_maintenance", "2025-10-01")
        kafka.createTopic(Topic, Partitions)
        (Numeric ++ Strings).foreach(m => gen.put(m, Initial))
        def ck(n: String) = ctx.work.resolve(s"ck-$n").toString
        // hydration leg: MQTT subscribe → decode → RESP enrich → Kafka
        val hydrate = KafkaBridge.sinkLive(
          DataflowOps.enrichViaKv(MqttBridge.decode(MqttBridge.source(spark, "127.0.0.1", mqtt.port)),
            "127.0.0.1", kv.port),
          "127.0.0.1", kafka.port, Topic, ck("hydrate")).queryName("hydrate").start()
        queries += hydrate
        hydrate.processAllAvailable() // subscribed before the agent publishes (QoS 0)
        // MQTT tap: arrival time of every envelope on the agent's topic
        val tap = new MqttClient("127.0.0.1", mqtt.port, "perfbench-tap")
        closers += tap
        tap.subscribe(MqttBridge.Topic) { (_, bytes) =>
          val now = nowUs()
          envelopeKey(new String(bytes, "UTF-8")).foreach(k => mqttSeen.putIfAbsent(k, now))
        }
        val agent = OpcuaMqttAgent.run("127.0.0.1", machine.port, machine.endpointUrl,
          "urn:example:pick-and-place", "127.0.0.1", mqtt.port)
        closers.prepend(agent)
        // DB-writer leg: Kafka → dispatch → idempotent parquet append; the
        // program's dispatch rule on the variant's type channel, as in
        // StreamingOps.ingest
        val sink = IdempotentSink.parquetAppend(sinkDir)
        val isStr = expr("schema_of_variant(value_v)") === lit("STRING")
        val ingest = KafkaBridge.sourceLive(spark, "127.0.0.1", kafka.port, Topic)
          .withColumn("value_num", DataflowOps.dispatchNum("value", isStr))
          .withColumn("value_str", DataflowOps.dispatchStr("value", isStr))
          .drop("value_v")
          .writeStream.queryName("ingest")
          .option("checkpointLocation", ck("ingest"))
          .foreachBatch { (df: DataFrame, id: Long) =>
            ctx.tracer.span("pipeline.sink_write") {
              val g = ctx.tracer.currentId.toString
              ctx.groups(g) = ("pipeline", "sink")
              spark.sparkContext.setJobGroup(g, "sink", interruptOnCancel = false)
              val t0 = System.nanoTime()
              try sink(df, id) finally spark.sparkContext.clearJobGroup()
              sinkWriteMs.add((System.nanoTime() - t0) / 1e6)
            }
            commitUs.put(id, nowUs())
            ()
          }.start()
        queries += ingest
        // the minute MV over the same topic, beside the writer
        val mv = StreamingOps.mvStream(
          KafkaBridge.sourceLive(spark, "127.0.0.1", kafka.port, Topic)
            .select(col("ts"), col("metric"), DataflowOps.dispatchNum("value", isStr).as("value")),
          "1 minute", "1 minute")
          .writeStream.queryName("mv").outputMode("append").format("noop")
          .option("checkpointLocation", ck("mv")).start()
        queries += mv
        if (ctx.traced) {
          // Kafka tap: arrival time of every record in the topic's log
          val t = new Thread(() => {
            val cursor = new KafkaCursor("127.0.0.1", kafka.port, "perfbench-tap")
            val pos = Array.fill(Partitions)(0L)
            try while (tapping) {
              var got = 0
              (0 until Partitions).foreach { p =>
                val recs = cursor.fetch(Topic, p, pos(p))
                val now = nowUs()
                recs.foreach { r =>
                  envelopeKey(new String(r.value, "UTF-8")).foreach(k => kafkaSeen.putIfAbsent(k, now))
                  pos(p) = r.offset + 1
                }
                got += recs.size
              }
              if (got == 0) Thread.sleep(1)
            } finally cursor.close()
          }, "perfbench-kafka-tap")
          t.setDaemon(true); t.start(); kafkaTap = Some(t)
        }
        // the initial values have crossed every hop: streams are warm
        awaitIngested(progress, gen.log.size, 60)
      }
      ctx.setupDone()

      // paced phase: open loop at Rate rows/s, dashboard every 5 s
      val paced = (Rate * ctx.seconds).toInt
      val late = new ConcurrentLinkedQueue[Double]()
      val t0 = System.nanoTime()
      val genThread = new Thread(() => {
        var i = 0
        while (i < paced) {
          val due = t0 + (i * 1e9 / Rate).toLong
          val wait = due - System.nanoTime()
          if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
          late.add(math.max(0L, System.nanoTime() - due) / 1e6)
          gen.next(Paced)
          i += 1
        }
      }, "perfbench-generator")
      genThread.start()
      var k = 0
      while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val due = t0 + (k * RefreshEveryS * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if ((System.nanoTime() - t0) / 1e9 < ctx.seconds) refresh(ctx, sf, due, timed = true)
        k += 1
      }
      genThread.join()
      val pacedEndUs = nowUs()

      // burst phase: each burst as fast as the generator can write, and
      // drained before the next one starts
      val burstStarts = (1 to Bursts).map { b =>
        val start = nowUs()
        (0 until Burst).foreach(_ => gen.next(BurstKind + b))
        awaitIngested(progress, gen.log.size, 40)
        start
      }
      tapping = false
      kafkaTap.foreach(_.join(2000))
      queries.foreach(q => q.processAllAvailable())
      ctx.timedDone()

      // read the sink back and account for every generated row
      val rows = spark.read.parquet(sinkDir)
        .select(col("metric"), expr("unix_micros(ts)").as("ts_us"), col("value"),
          col("value_num"), col("value_str"), col("batch_id"))
        .collect()
      val sinkRows = rows.groupBy(r => (r.getString(0), r.getLong(1)))
      val logged = gen.log.asScala.toSeq
      var lost = 0L; var dup = 0L; var altered = 0L
      val fresh = mutable.ArrayBuffer.empty[Double]
      val drainEndUs = Array.fill(Bursts + 1)(0L)
      val hopOpcMqtt = mutable.ArrayBuffer.empty[Double]
      val hopMqttKafka = mutable.ArrayBuffer.empty[Double]
      val hopKafkaSink = mutable.ArrayBuffer.empty[Double]
      logged.foreach { g =>
        val key = (g.metric, g.tsUs)
        sinkRows.get(key) match {
          case None => lost += 1
          case Some(rs) =>
            dup += rs.length - 1
            val r = rs.head
            // the raw value and its dispatched typed column both carry the
            // generated value; the other typed column is null
            val same =
              if (g.numeric)
                scala.util.Try(r.getString(2).toDouble == g.value.toDouble).getOrElse(false) &&
                  !r.isNullAt(3) && r.getDouble(3) == g.value.toDouble && r.isNullAt(4)
              else r.getString(2) == g.value && r.isNullAt(3) && r.getString(4) == g.value
            if (!same) altered += 1
            val committed: Long = Option(commitUs.get(r.getAs[Number](5).longValue)).map(_.longValue)
              .getOrElse(pacedEndUs)
            if (g.kind == Paced) fresh += (committed - g.tsUs) / 1e3
            if (g.kind > BurstKind) drainEndUs(g.kind - BurstKind) = math.max(drainEndUs(g.kind - BurstKind), committed)
            val m = Option(mqttSeen.get(key)).map(_.longValue)
            val kf = Option(kafkaSeen.get(key)).map(_.longValue)
            if (g.kind == Paced) {
              m.foreach(t => hopOpcMqtt += (t - g.tsUs) / 1e3)
              for (a <- m; b <- kf) hopMqttKafka += (b - a) / 1e3
              kf.foreach(t => hopKafkaSink += (committed - t) / 1e3)
            }
            if (ctx.tracer.enabled) {
              // one trace per generated row: its hops as spans
              val row = ctx.tracer.nextId()
              val tr = ctx.tracer
              tr.record("row", 0L, row, tr.fromWallMicros(g.tsUs), tr.fromWallMicros(committed), id = row)
              val hops = Seq(Some(g.tsUs), m, kf, Some(committed)).flatten
              val names = Seq("hop.opcua_mqtt", "hop.mqtt_kafka", "hop.kafka_sink")
              if (hops.size == 4) hops.sliding(2).zip(names).foreach { case (Seq(a, b), n) =>
                tr.record(n, row, row, tr.fromWallMicros(a), tr.fromWallMicros(b))
              }
            }
        }
      }
      fresh.foreach(ctx.sample("fresh_ms", _))
      ctx.attempted += logged.size
      ctx.scalars("rows_generated") = logged.size
      ctx.scalars("rows_bad") = lost + dup + altered
      ctx.scalars("rows_lost") = lost
      ctx.scalars("rows_dup") = dup
      ctx.scalars("rows_altered") = altered
      ctx.scalars("burst_rows") = Burst
      burstStarts.zipWithIndex.foreach { case (start, i) =>
        ctx.sample("drain_s", (math.max(drainEndUs(i + 1), start) - start) / 1e6)
      }
      ctx.scalars("offered_rows_per_s") = Rate

      val mqttLost = logged.count(g => !mqttSeen.containsKey((g.metric, g.tsUs)))
      val l = ctx.layer
      l("net.opcua_mqtt_p50_ms") = pct(hopOpcMqtt.toSeq, 50)
      l("net.opcua_mqtt_p99_ms") = pct(hopOpcMqtt.toSeq, 99)
      l("streaming.mqtt_kafka_p50_ms") = pct(hopMqttKafka.toSeq, 50)
      l("streaming.mqtt_kafka_p99_ms") = pct(hopMqttKafka.toSeq, 99)
      l("sources.kafka_sink_p50_ms") = pct(hopKafkaSink.toSeq, 50)
      l("sources.kafka_sink_p99_ms") = pct(hopKafkaSink.toSeq, 99)
      val sw = sinkWriteMs.asScala.toSeq
      l("pipeline.sink_write_ms_p50") = pct(sw, 50)
      l("pipeline.sink_write_ms_p99") = pct(sw, 99)
      l("net.mqtt_lost") = mqttLost
      l("net.kafka_lost") = math.max(0L, logged.size - logEnd())
      l("pipeline.sink_dup") = dup
      l("sources.kafka_lag_max") = progress.maxLag
      l("generator.late_ms_p99") = pct(late.asScala.toSeq, 99)
      l("live.panel_p50_ms") = pct(ctx.samples.getOrElse("live_panel_ms", Nil).toSeq, 50)
      Seq("hydrate", "ingest", "mv").foreach { s =>
        val ps = progress.of(s).filter(_.numInputRows > 0)
        def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
        l(s"$s.batches") = ps.size
        l(s"$s.trigger_ms_p50") = pct(d("triggerExecution"), 50)
        l(s"$s.trigger_ms_p99") = pct(d("triggerExecution"), 99)
        l(s"$s.add_batch_ms_p50") = pct(d("addBatch"), 50)
        l(s"$s.query_planning_ms_p50") = pct(d("queryPlanning"), 50)
        l(s"$s.wal_commit_ms_p50") = pct(d("walCommit"), 50)
        l(s"$s.rows_per_batch_p50") = pct(ps.map(_.numInputRows.toDouble), 50)
      }
      progress.of("mv").lastOption.flatMap(_.stateOperators.headOption).foreach { so =>
        l("mv.state_rows") = so.numRowsTotal
        l("mv.state_mb") = so.memoryUsedBytes / 1048576.0
      }
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Throwable => () })
      closers.foreach(c => try c.close() catch { case _: Throwable => () })
      spark.streams.removeListener(progress)
    }
  }

  /** One refresh of the 17 panels in seeded order; each panel's latency
    * is timed from `due`, when the refresh was scheduled. */
  def refresh(ctx: Ctx, dir: String, due: Long, timed: Boolean): Unit =
    ctx.tracer.span("refresh") {
      ctx.rng.shuffle(Main.panels).foreach { k =>
        try {
          ctx.runKey(k, dir)
          if (timed) ctx.sample("live_panel_ms", (System.nanoTime() - due) / 1e6)
        } catch { case t: Throwable => ctx.fail(s"$k: ${t.getClass.getSimpleName}: ${t.getMessage}") }
      }
    }

  /** Wait until the ingest stream has fed `n` rows to the sink. */
  private def awaitIngested(p: Progress, n: Long, timeoutS: Int): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (p.ingested.get() < n && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private val NodeRe = "\"node_id\":\"([^\"]*)\"".r
  private val TsRe = "\"ts_us\":(\\d+)".r

  /** (metric, ts_us) of one JSON envelope. */
  def envelopeKey(json: String): Option[(String, Long)] =
    for (n <- NodeRe.findFirstMatchIn(json); t <- TsRe.findFirstMatchIn(json))
      yield (n.group(1), t.group(1).toLong)
}
