package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Actions, Caches, SparkEntry, Tables}

/** Closed-loop benchmark driver for graft.
  *
  * One client thread sends one request at a time: a request is one
  * `SparkEntry.queries` key, constructed, executed with
  * `Actions.materialize`, then released (`Caches.release` + `clearCache`).
  * The loop is closed because library calls block and because
  * `Caches.release` is session-global: concurrent requests would unpin each
  * other's relations. Each pass runs every key of the workload once, in a
  * fresh seeded permutation; passes repeat until `--seconds` have elapsed
  * (at least three, four when traced).
  *
  * With `--trace 1` every request is recorded as a span tree (request ->
  * construct / execute / release -> Spark jobs -> stages), kept in memory and
  * written as JSON lines when the run ends; `summarize.py` turns it into
  * per-layer numbers. Untraced runs keep only the counters the end-to-end
  * metrics need.
  *
  * Before the timed region every key is run once and written as parquet next
  * to its DuckDB oracle SQL, for the correctness check; that pass is also the
  * warm-up, so the timed passes measure a warm session.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <sfDir> <workDir> <outJson>
  */
object Harness {

  /** Keys whose output is engine-specific by design (sketches, trained
    * models, decoded media): checked on row count only, as the gate does.
    */
  val RowsOnly: Set[String] = Set(
    "m_audio_decode", "m_image_decode", "p_bpe_train", "p_token_percentiles_approx",
    "q_common_users_matrix_approx", "q_engagement_approx", "q_forecast_hours_adaptive",
    "q_leiden_communities", "q_sketch_rollup_incremental", "s_sketch_maintain")

  /** Session set-ups timed per run, after the first (JVM start) one. */
  val SetupRuns = 3

  /** The registry keys each workload requests.
    *
    * A run must fit four set-ups, a cold correctness pass and three warm
    * timed passes into about a minute on a busy host, so each workload
    * is a fixed slice of its key family, one key per operator family.
    *  - dashboard: the reference's API surface over events/orders (overlap,
    *    leaderboard, similarity, the seasonal-naive hourly forecast).
    *    Per-request execution is small, so schema inference, construction
    *    and planning weigh on latency. The `ml` forecast kernel
    *    (`q_forecast_hours_adaptive`) is left out: at sf0.01 one request
    *    takes 5-6 s and about 18 s of task CPU, which the run time has no
    *    room for.
    *  - incremental: maintenance keys over documents/embeddings. They are
    *    heavy on construction (eager cache barriers, driver collects), write
    *    warehouse tables (`_wh`), and run the `functions` kernels (shingle,
    *    minhash, vector dot and top-k) and their shuffles.
    */
  val Workloads: Map[String, Seq[String]] = Map(
    "dashboard" -> Seq("q_common_users", "q_chat_leaderboard", "q_channel_similarity", "q_forecast_hours"),
    "incremental" -> Seq("d_minhash_incremental", "d_dedup_incremental", "v_knn_join_incremental_wh"))

  /** The registry keys one workload requests, sorted. */
  def workloadKeys(workload: String): Seq[String] = {
    val keys = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered in SparkEntry.queries: ${unknown.mkString(", ")}")
    keys.sorted
  }

  /** The key order of one pass: a fresh permutation per (seed, pass). */
  def passOrder(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

  /** graft.Bench's session conf, at `cores` local slots, with a per-run
    * warehouse and local dir so no `_wh` state leaks between runs.
    */
  def conf(cores: Int, work: File): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.autoBroadcastJoinThreshold" -> (50L * 1024 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> new File(work, "local").getPath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath)

  private def session(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
    conf(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's warmup: touch every table, then absorb first-execution
    * machinery (broadcast pools, AQE, window, cache, codegen) on a slice.
    */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    val e = Tables.events(spark, sfDir).limit(2000).cache()
    e.count()
    e.groupBy("event_type").agg(countDistinct("user_id").as("u")).count()
    e.join(broadcast(e.select(col("user_id")).distinct()), "user_id").count()
    e.select(row_number().over(Window.partitionBy("event_type").orderBy("ts")).as("rn")).count()
    e.select(size(array_distinct(transform(split(lit("a b c d e"), " "), x => upper(x)))).as("n")).count()
    spark.catalog.clearCache()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, sfDir, workS, outJson) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = new File(workS)
    val cores = Runtime.getRuntime.availableProcessors()
    val keys = workloadKeys(workload)

    // Set-up: the first session pays JVM start, Spark context start and
    // class loading; it is reported apart. Then a new session is built on
    // the running context and warmed up, SetupRuns times, each timed in wall
    // clock and in CPU of the whole process (client, task, JIT and GC
    // threads). Set-up CPU moves far less with the host's load than set-up
    // wall time does. graft code runs in the warm-up only, so
    // restarting the context would time Spark, not graft.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, work)
    warmup(spark, sfDir)
    val firstSetupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val setupWalls, setupCpus = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until SetupRuns) {
      val t0 = System.nanoTime()
      val cpu0 = processCpu.getProcessCpuTime
      spark = spark.newSession()
      warmup(spark, sfDir)
      setupWalls += secs(t0)
      setupCpus += (processCpu.getProcessCpuTime - cpu0) / 1e9
    }
    // a new session takes its SQL conf from the context, i.e. Bench's conf
    for ((k, v) <- conf(cores, work) if k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir")
      require(spark.conf.get(k) == v, s"session conf $k is ${spark.conf.get(k)}, not $v")
    val sc = spark.sparkContext

    val cpuNs = new AtomicLong
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    })
    val tracer = if (trace) Some(new Tracer(spark)) else None

    // the correctness dump runs every key once before the timed region, so
    // it is also the warm-up that fills the JIT and codegen caches
    val checkDir = new File(work, "check")
    val dumped = checkDump(spark, sfDir, keys, checkDir)

    // A traced run interleaves traced and untraced passes in ABBA blocks
    // (traced, untraced, untraced, traced): the tracing overhead is then
    // measured in one session, and a warm-up trend across passes cancels.
    def traced(p: Int): Boolean = trace && (p % 4 == 0 || p % 4 == 3)
    val block = if (trace) 4 else 1
    // at least three passes, so the median pass is neither the first, still
    // warming pass nor one slowed by a burst of load from outside the run
    val minPasses = if (trace) 4 else 3
    val requests = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // CPU of the client thread: construction, planning and job submission
    val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean
    ListenerBridge.waitUntilEmpty(sc)
    val timed0 = System.nanoTime()
    var pass = 0
    while (pass < minPasses || pass % block != 0 || secs(timed0) < seconds) {
      val tr = tracer.filter(_ => traced(pass))
      val cpu0 = cpuNs.get
      val driverCpu0 = threadCpu.getCurrentThreadCpuTime
      val p0 = System.nanoTime()
      val startUs = tr.map(_.nowUs)
      passOrder(keys, seed, pass).foreach { key =>
        requests += request(spark, sfDir, key, pass, tr)
      }
      val wallS = secs(p0)
      val driverCpuS = (threadCpu.getCurrentThreadCpuTime - driverCpu0) / 1e9
      val endUs = tr.map(_.nowUs)
      // every task of the pass has ended; drain so its CPU is counted
      ListenerBridge.waitUntilEmpty(sc)
      passes += Map("wall_s" -> wallS, "driver_cpu_s" -> driverCpuS,
        "executor_cpu_s" -> (cpuNs.get - cpu0) / 1e9,
        "traced" -> tr.isDefined, "start_us" -> startUs, "end_us" -> endUs)
      pass += 1
    }
    val rss = peakRssMb()
    val spansFile = tracer.map { t =>
      val f = outJson.stripSuffix(".json") + ".spans.jsonl"
      t.write(f)
      f
    }

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "sf_dir" -> sfDir, "nproc" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "conf" -> conf(cores, work).toMap, "spark_version" -> spark.version,
      "keys" -> keys, "first_setup_s" -> firstSetupS, "setup_wall_s" -> setupWalls.toSeq,
      "setup_cpu_s" -> setupCpus.toSeq, "passes" -> passes.toSeq,
      "peak_rss_mb" -> rss,
      "requests" -> requests.toSeq, "check_dir" -> checkDir.getPath, "check" -> dumped,
      "spans" -> spansFile.orNull)
    Files.writeString(Paths.get(outJson), new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(result))
    spark.stop()
  }

  /** One closed-loop request: construct -> execute, then release. */
  private def request(spark: SparkSession, sfDir: String, key: String, pass: Int,
                      tracer: Option[Tracer]): Map[String, Any] = {
    val span = tracer.map(_.request(key, pass))
    def phase[T](name: String)(body: => T): (T, Double) = {
      val ph = span.map(_.phase(name))
      val t0 = System.nanoTime()
      try (body, secs(t0)) finally ph.foreach(_.close())
    }
    var error: String = null
    var constructS, executeS = 0.0
    try {
      val (df, c) = phase("construct")(SparkEntry.queries(key)(spark, sfDir))
      constructS = c
      executeS = phase("execute")(Actions.materialize(df))._2
    } catch { case e: Throwable =>
      error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    val ((), releaseS) = phase("release") {
      span.foreach(_.set("caches_tracked", Caches.trackedCount))
      release(spark)
    }
    span.foreach(_.close())
    dropWarehouse(spark)
    System.err.println(f"[perfbench] pass $pass%d $key%s construct $constructS%.3f s execute $executeS%.3f s" +
      Option(error).fold("")(" FAILED " + _))
    Map("key" -> key, "pass" -> pass, "latency_s" -> (constructS + executeS),
      "construct_s" -> constructS, "execute_s" -> executeS, "release_s" -> releaseS,
      "error" -> error)
  }

  /** End of a request: unpin the operator caches. */
  private def release(spark: SparkSession): Unit = {
    Caches.release()
    spark.catalog.clearCache()
  }

  /** Drop the warehouse tables a request wrote, so the next `_wh` request
    * bootstraps again and every request does the same work whatever ran
    * before it. Harness hygiene: runs after the request span closes, and
    * drains the listener bus so the drops' query executions are not
    * attributed to the next request.
    */
  private def dropWarehouse(spark: SparkSession): Unit =
    if (Option(new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath).list())
        .exists(_.nonEmpty)) {
      spark.catalog.listTables().collect().filterNot(_.isTemporary)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
    }

  /** Write each key's result as parquet beside its oracle SQL. Returns key ->
    * null, or the error that stopped the key from being written.
    */
  private def checkDump(spark: SparkSession, sfDir: String, keys: Seq[String],
                        dir: File): Map[String, String] = {
    val dumped = keys.map { key =>
      val error = try {
        SparkEntry.queries(key)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(new File(dir, key).getPath)
        null
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      release(spark)
      dropWarehouse(spark)
      key -> error
    }
    // trained-model oracles exist only once their key has run in this JVM
    val oracles = SparkEntry.oracleSql
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(new File(dir, "oracle_sql.json").toPath, json.writeValueAsString(
      keys.filter(k => !RowsOnly(k) && oracles.contains(k)).map(k => k -> oracles(k)).toMap))
    Files.writeString(new File(dir, "rows_only_sql.json").toPath, json.writeValueAsString(
      keys.filter(k => RowsOnly(k) && oracles.contains(k)).map(k => k -> oracles(k)).toMap))
    dumped.toMap
  }
}

/** In-memory span recorder for a traced run.
  *
  * Phase spans are opened by the client thread, which tags every Spark job
  * it starts with the open span's id through a local property (Spark copies
  * local properties to the broadcast and subquery threads a query starts).
  * Jobs, stages and query executions arrive on the listener bus and are
  * attached to the span whose id they carry. Times are epoch microseconds.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer.SpanProp

  private val sc = spark.sparkContext
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val nextId = new AtomicLong
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  @volatile private var current: Span = _

  // listener-bus state, touched only from the bus thread
  private val jobs = mutable.HashMap.empty[Int, Span]
  private val jobOfStage = mutable.HashMap.empty[Int, Int]
  private val executionSites = mutable.HashMap.empty[Long, String]
  private val stages = mutable.HashMap.empty[(Int, Int), Span]

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def nowUs: Long = t0Ms * 1000 + (System.nanoTime() - t0Ns) / 1000

  final class Span(val id: Long, val parent: Long, val request: Long, val kind: String,
                   val name: String, var start: Long, var end: Long = -1) {
    private val attrs = mutable.LinkedHashMap.empty[String, Any]

    def set(k: String, v: Any): Unit = synchronized(attrs(k) = v)
    def add(k: String, v: Double): Unit = synchronized(attrs(k) = attrs.getOrElse(k, 0.0).asInstanceOf[Double] + v)
    def max(k: String, v: Double): Unit = synchronized(attrs(k) = math.max(attrs.getOrElse(k, 0.0).asInstanceOf[Double], v))

    def phase(name: String): Span = {
      val s = open(this, "phase", name)
      sc.setLocalProperty(SpanProp, s.id.toString)
      s
    }

    def close(): Unit = {
      end = nowUs
      if (kind == "phase") sc.setLocalProperty(SpanProp, null)
      else {
        // drain the bus so every job, stage and query execution of this
        // request is attached before the next request starts; the wait
        // falls between requests and is part of the tracing overhead
        ListenerBridge.waitUntilEmpty(sc)
        current = null
      }
    }

    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "request" -> request,
      "kind" -> kind, "name" -> name, "start_us" -> start, "end_us" -> end, "attrs" -> synchronized(attrs.toMap))
  }

  private def open(parent: Span, kind: String, name: String, start: Long = nowUs): Span = {
    val id = nextId.incrementAndGet()
    val s = new Span(id, Option(parent).map(_.id).getOrElse(0L),
      Option(parent).map(_.request).getOrElse(id), kind, name, start)
    spans.put(id, s)
    s
  }

  def request(key: String, pass: Int): Span = {
    val s = open(null, "request", key)
    s.set("pass", pass)
    current = s
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).flatMap(i => Option(spans.get(i.toLong)))
      .foreach { phase =>
        // a job an AQE or broadcast thread starts has that thread's call
        // site; its SQL execution keeps the call site of the graft action
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => executionSites.get(id.toLong))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
        val s = open(phase, "job", site, e.time * 1000)
        s.set("job_id", e.jobId)
        jobs(e.jobId) = s
        e.stageIds.foreach(jobOfStage(_) = e.jobId)
      }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => executionSites(x.executionId) = x.description
    case x: SparkListenerSQLExecutionEnd => executionSites.remove(x.executionId)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach(_.end = e.time * 1000)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    jobOfStage.get(info.stageId).flatMap(jobs.get).foreach { job =>
      val s = open(job, "stage", info.name, info.submissionTime.getOrElse(System.currentTimeMillis()) * 1000)
      s.set("stage_id", info.stageId)
      stages((info.stageId, info.attemptNumber())) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.remove((info.stageId, info.attemptNumber())).foreach { s =>
      s.end = info.completionTime.getOrElse(System.currentTimeMillis()) * 1000
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach { s =>
      import s.add
      val info = e.taskInfo
      val dur = (info.finishTime - info.launchTime).toDouble
      add("tasks", 1)
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("deser_ms", m.executorDeserializeTime.toDouble)
      add("delay_ms", math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime))
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("output_records", m.outputMetrics.recordsWritten.toDouble)
      s.max("peak_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  private def record(qe: QueryExecution): Unit = Option(current).foreach { req =>
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    req.add("plan_executions", 1)
    req.add("plan_analysis_ms", ms("analysis"))
    req.add("plan_optimization_ms", ms("optimization"))
    req.add("plan_planning_ms", ms("planning"))
    req.add("plan_broadcast_exchanges", PlanCount.broadcasts(qe.executedPlan).toDouble)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Write every closed span as one JSON line, in id order. */
  def write(file: String): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val closed = spans.values().asScala.toSeq.filter(_.end >= 0).sortBy(_.id)
    Files.write(Paths.get(file), closed.map(s => json.writeValueAsString(s.toMap)).asJava)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

private object PlanCount extends AdaptiveSparkPlanHelper {
  def broadcasts(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }.size
}
