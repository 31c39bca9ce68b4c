package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark JVM. One process runs one workload for one seed and
  * writes `result.json` (raw samples, counts, set-up phases) into the run
  * directory; `perfbench/run.py` turns that into the reported metrics and
  * checks the dumped outputs against the DuckDB oracles.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <tables dir> <run dir>
  */
object Main {

  /** The reference dashboard's 17 panels as registered keys (SURVEY §2B). */
  val panels: Seq[String] = Seq.fill(10)("q_last_value") ++ Seq("q_latest_per_group") ++
    Seq.fill(2)("q_raw_timeseries") ++ Seq("q_alarm_feed") ++ Seq.fill(3)("q_mv_read")

  /** The `batch_suite` keys, each with the module (ops object, or
    * `pipeline` for the artifact-served keys) its function lives in — the
    * per-layer split: the dashboard's panel keys, whose time is the
    * per-query floor, and the heaviest key of every module in one
    * graft.Bench pass over the sf0.01 fixture on 4 cores.
    * (The whole 113-key registry takes 22 s per warm pass at sf0.01 on
    * 4 cores, and several times that cold, more than one benchmark run
    * may take.) */
  val suite: Seq[(String, String)] = panels.distinct.map("RelationalOps" -> _) ++ Seq(
    "DedupOps" -> "q_dedup_ledger",
    "RelationalOps" -> "q_gapfill_interp",
    "TextOps" -> "q_bpe_train",
    "pipeline" -> "q_dedup_apply_artifacts",
    "CurationOps" -> "q_pack_sequences",
    "PqOps" -> "q_pq_train",
    "SimilarityOps" -> "q_sim_topk_ivf",
    "RecallOps" -> "q_sim_recall",
    "DataflowOps" -> "src_mqtt",
    "SessionOps" -> "q_sessionize",
    "AlarmOps" -> "q_deviation_trend",
    "DownsampleOps" -> "q_downsample_lttb",
    "CleanOps" -> "q_pii_redact",
    "MultimodalOps" -> "q_multimodal_dedup",
    "ClusterOps" -> "q_dedup_semantic")

  val suiteKeys: Seq[String] = suite.map(_._2)
  val modules: Seq[String] = suite.map(_._1).distinct
  val moduleOf: Map[String, String] = suite.map(_.swap).toMap

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // the graft.Bench session settings, with every temporary path inside the
    // benchmark's own work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.min(cpus, 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.graft.fixtureCache", "true")
      .config("spark.graft.artifactRoot", work.resolve("artifacts").toString)
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, runDirS) = args
    val runDir = Paths.get(runDirS)
    Files.createDirectories(runDir)
    val ctx = new Ctx(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      Paths.get(dataDir), runDir)
    val code =
      try {
        workload match {
          case "batch_suite" => Suite.run(ctx)
          case "live_pipeline" => Live.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        ctx.writeResult()
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      } finally ctx.close()
    sys.exit(code)
  }
}

/** Everything one run shares: the session, the tracer, the listener, the
  * seed, and the result being assembled. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val data: Path, val runDir: Path) {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val tracer = new Tracer(traced)
  val work: Path = runDir.resolve("work")
  Files.createDirectories(work)
  private var sparkOpt: Option[SparkSession] = None
  var listener: Option[SparkMetrics] = None
  lazy val spark: SparkSession = {
    val s = Main.session(work)
    if (traced) {
      val l = new SparkMetrics(tracer, t => t >= timedFromMs && t < timedToMs)
      s.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
    sparkOpt = Some(s)
    s
  }
  val rng = new scala.util.Random(seed)

  // result fields
  val setupPhases = mutable.LinkedHashMap.empty[String, Double] // seconds
  var setupS: Double = 0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val keyAttempts = mutable.LinkedHashMap.empty[String, Long]
  val checks = mutable.LinkedHashMap.empty[String, String] // key -> dump dir (sf name)
  /** (group id) -> (module, phase), for attributing Spark work. */
  val groups = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def fail(what: String): Unit = synchronized { failures += what }

  /** Time a set-up phase. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(s"setup.$name")(body)
    finally setupPhases(name) = setupPhases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Mark the end of set-up: from JVM start to the first timed operation. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    timedFromNs = System.nanoTime()
    timedFromMs = System.currentTimeMillis()
    timing = true
  }
  /** Mark the end of the timed window: what follows (output dumps, the
    * sink read-back) is checking work. */
  def timedDone(): Unit = {
    timedToNs = System.nanoTime()
    timedToMs = System.currentTimeMillis()
    timing = false
  }
  /** When the timed window opened and closed, as nanoTime and as epoch ms. */
  @volatile var timedFromNs: Long = Long.MaxValue
  @volatile var timedFromMs: Long = Long.MaxValue
  @volatile var timedToNs: Long = Long.MaxValue
  @volatile var timedToMs: Long = Long.MaxValue
  /** Set once set-up is done: only timed operations count as attempted. */
  @volatile var timing = false

  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run one registered key to the noop sink; returns wall ms. Traced, the
    * construct / plan / exec phases become spans whose ids are the Spark
    * job groups of the work they launch. */
  def runKey(key: String, dir: String): Double = {
    val fn = SparkEntry.queries(key)
    if (timing) {
      attempted += 1
      keyAttempts(key) = keyAttempts.getOrElse(key, 0L) + 1
    }
    val t0 = System.nanoTime()
    if (!traced) materialize(fn(spark, dir.toString))
    else {
      val module = Main.moduleOf(key)
      val sc = spark.sparkContext
      def phase[T](p: String)(body: => T): T = tracer.span(s"$module.$p") {
        val g = tracer.currentId.toString
        groups(g) = (module, p)
        sc.setJobGroup(g, s"$key $p", interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      }
      tracer.span(s"key.$key") {
        val df = phase("construct")(fn(spark, dir.toString))
        phase("plan")(df.queryExecution.executedPlan)
        phase("exec")(materialize(df))
      }
    }
    (System.nanoTime() - t0) / 1e6
  }

  /** Write one key's result for the oracle check (outside any timed
    * window): the graft.Verify dump format — timestamps as NTZ, one file. */
  def dump(key: String, dir: Path): Unit = {
    val out = runDir.resolve("out").resolve(dir.getFileName.toString).resolve(key)
    try {
      val df = SparkEntry.queries(key)(spark, dir.toString)
      val casted = df.schema.fields.foldLeft(df) { (d, f) =>
        f.dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            d.withColumn(f.name, d.col(f.name).cast("timestamp_ntz"))
          case _ => d
        }
      }
      casted.coalesce(1).write.mode("overwrite").parquet(out.toString)
      checks(key) = dir.getFileName.toString
    } catch {
      case t: Throwable =>
        fail(s"$key: dump failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    spark.catalog.clearCache()
  }

  /** Per-layer metrics of the traced run, as (name -> value). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def sparkLayer(): Unit = listener.foreach { l =>
    l.drain(spark.sparkContext, groups.keys)
    Main.modules.foreach { m =>
      def sumPhase(p: String) = tracer.all
        .filter(s => s.name == s"$m.$p" && s.start >= timedFromNs && s.start < timedToNs)
        .map(s => (s.end - s.start) / 1e6).sum
      layer(s"$m.construct_ms") = sumPhase("construct")
      layer(s"$m.construct_jobs") =
        l.total(g => groups.get(g).contains((m, "construct"))).jobs.toDouble
      layer(s"$m.plan_ms") = sumPhase("plan")
      layer(s"$m.exec_ms") = sumPhase("exec")
    }
    val w = l.total(_ => true)
    layer("spark.jobs") = w.jobs.toDouble
    layer("spark.stages") = w.stages.toDouble
    layer("spark.tasks") = w.tasks.toDouble
    layer("spark.task_wait_ms") = w.taskWaitMs.toDouble
    layer("spark.executor_run_s") = w.runMs / 1e3
    layer("spark.executor_cpu_s") = w.cpuNs / 1e9
    layer("spark.gc_s") = w.gcMs / 1e3
    layer("spark.shuffle_write_mb") = w.shuffleWrite / 1048576.0
    layer("spark.shuffle_read_mb") = w.shuffleRead / 1048576.0
    layer("spark.spill_mb") = w.spill / 1048576.0
    layer("spark.peak_exec_mem_mb") = w.peakMem / 1048576.0
  }

  def writeResult(): Unit = {
    if (traced) {
      sparkLayer()
      setupPhases.foreach { case (p, v) => layer(s"setup.${p}_s") = v }
      tracer.writeJsonl(runDir.resolve("spans.jsonl"))
      val self = tracer.selfTimes.map { case (n, c, tot, self) =>
        s"""{"name":${Json.str(n)},"count":$c,"total_ms":${Json.num(tot)},"self_ms":${Json.num(self)}}"""
      }.mkString("[", ",", "]")
      Files.writeString(runDir.resolve("self_times.json"), self)
    }
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "setup_s" -> Json.num(setupS),
      "setup_phases" -> Json.obj(setupPhases.map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(samples.map { case (k, v) => k -> Json.arr(v) }),
      "scalars" -> Json.obj(scalars.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.toString,
      "panel_keys" -> Main.panels.distinct.map(Json.str).mkString("[", ",", "]"),
      "key_attempts" -> Json.obj(keyAttempts.map { case (k, v) => k -> v.toString }),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "checks" -> Json.obj(checks.map { case (k, v) => k -> Json.str(v) }),
      "oracles" -> Json.obj(checks.keys.toSeq.distinct.flatMap(k =>
        SparkEntry.oracleSql.get(k).map(sql => k -> Json.str(sql))))
    ))
    Files.writeString(runDir.resolve("result.json"), json)
  }

  def close(): Unit = sparkOpt.foreach(s => try s.stop() catch { case _: Throwable => () })
}
