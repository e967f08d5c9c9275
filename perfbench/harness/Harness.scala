package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark harness: one JVM, one session from the program's own
  * factory (`graft.Session.local`), untimed warm-up passes over the
  * workload's gates, timed passes until `seconds` have elapsed, then
  * one observation of every gate written to parquet for the DuckDB
  * oracle check that `run.py` performs.
  *
  * Every gate is called as `SparkEntry.queries(name)(spark, dir)`
  * (the "build" span: eager artifact builds, staging, stream runs and
  * commits happen inside it) and forced through the `noop` sink (the
  * "exec" span). With `trace=1`, public Spark listeners are registered
  * after the warm-up passes and every timed pass records spans; the
  * tracing overhead is the traced run's pass time minus an untraced
  * run's.
  *
  * Arguments are `key=value`: gates (short keys), inputs, fresh (1 =
  * every pass, warm-up passes included, reads the next input dir; 0 =
  * all read the first), warmup (number of warm-up passes), maintenance
  * (short keys of the table-maintenance gates), cores, seconds, trace,
  * out. Writes `out/result.json`, `out/check/<gate>`,
  * `out/oracle.json` and, traced, `out/spans.jsonl`.
  */
object Harness {
  private val epoch0Ms = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch ms with nanoTime resolution. */
  private def nowMs(): Double = epoch0Ms + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Long, parent: Long, obs: Long, name: String,
                        start: Double, end: Double)
  final case class Obs(id: Long, gate: String, family: String, pass: Int,
                       start: Double, buildEnd: Double, end: Double, error: Option[String],
                       gateSpan: Long = 0, buildSpan: Long = 0, execSpan: Long = 0) {
    def wall: Double = end - start
  }
  final case class Pass(index: Int, dir: String, span: Long, start: Double, end: Double,
                        loadMs: Double, loads: Int, heapMb: Double)

  /** Counters for one gate observation, filled by the listeners. */
  final class Counters {
    var jobs, stages, tasks, taskFailed = 0L
    var taskDurMs, runMs, cpuNs, gcMs, shufW, shufR, fetchWaitMs, spill = 0.0
    var outBytes, outRecs, inBytes, peakMem = 0.0
  }

  private val spanIds = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private def span(parent: Long, obs: Long, name: String,
                   start: Double, end: Double): Long = {
    val id = spanIds.incrementAndGet()
    spans.add(Span(id, parent, obs, name, start, end)); id
  }

  private val obsProp = "perfbench.obs"
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private def countersFor(obs: Long): Counters =
    counters.computeIfAbsent(obs, _ => new Counters)
  private val stageObs = new ConcurrentHashMap[Int, Long]()
  private val jobObs = new ConcurrentHashMap[Int, (Long, Long)]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Double, Double)]()
  private val qePhases = new ConcurrentLinkedQueue[(Double, Double, Double, Double)]()
  private val progress =
    new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(obsProp))).foreach { o =>
        val obs = o.toLong
        jobObs.put(e.jobId, (obs, e.time))
        e.stageInfos.foreach(s => stageObs.put(s.stageId, obs))
        countersFor(obs).jobs += 1
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobObs.remove(e.jobId)).foreach { case (obs, start) =>
        jobSpans.add((obs, start.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageObs.get(e.stageInfo.stageId)).foreach(countersFor(_).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageObs.get(e.stageId)).foreach { obs =>
        val c = countersFor(obs)
        c.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) c.taskFailed += 1
        c.taskDurMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shufW += m.shuffleWriteMetrics.bytesWritten
          c.shufR += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecs += m.outputMetrics.recordsWritten
          c.inBytes += m.inputMetrics.bytesRead
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory.toDouble)
        }
      }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(n: String) = p.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      qePhases.add((start, d("analysis"), d("optimization"), d("planning")))
    }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Registers the listeners for the rest of the run; `spark.stop()`
    * drains their queues, so every event is in once it returns. */
  private def startTracing(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(JobListener)
    spark.listenerManager.register(QeListener)
    spark.streams.addListener(StreamListener)
  }

  /** Gate family as `SparkEntry.families` names it (the field is
    * private, so it is read reflectively). */
  private def families(): Map[String, String] = {
    val entry = graft.SparkEntry
    val f = entry.getClass.getDeclaredField("families")
    f.setAccessible(true)
    f.get(entry).asInstanceOf[Seq[(String, Map[String, _], Map[String, String])]]
      .flatMap { case (fam, qs, _) => qs.keys.map(_ -> fam) }.toMap
  }

  /** Full gate name for a short key (`x41b` → `x41b_compaction_partitioned`). */
  private def resolve(short: String): String = {
    val hits = graft.SparkEntry.queries.keys.filter(_.startsWith(short + "_")).toSeq
    require(hits.size == 1, s"gate key '$short' matches ${hits.mkString("[", ",", "]")}")
    hits.head
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  private def heapAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def coverage(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def list(k: String) = kv.getOrElse(k, "").split(',').filter(_.nonEmpty).toSeq
    val gates = list("gates").map(resolve)
    val maintenance = list("maintenance").map(resolve).toSet
    val inputs = list("inputs")
    val fresh = kv("fresh") == "1"
    val cores = kv("cores").toInt
    val seconds = kv("seconds").toDouble
    val warmupPasses = kv("warmup").toInt
    val traced = kv("trace") == "1"
    val out = new java.io.File(kv("out"))
    out.mkdirs()

    val tSession = nowMs()
    val spark = graft.Session.local(cores = cores)
    val sessionMs = nowMs() - tSession
    val family = families()
    val queries = graft.SparkEntry.queries
    val obsIds = new java.util.concurrent.atomic.AtomicLong(0)
    val observations = mutable.ArrayBuffer.empty[Obs]
    val passes = mutable.ArrayBuffer.empty[Pass]

    // The last timed observation's DataFrame of every gate, re-executed
    // into parquet by the check.
    val lastDf = mutable.Map.empty[String, DataFrame]

    def observe(gate: String, dir: String, pass: Int, tr: Boolean, passSpan: Long): Obs = {
      val id = obsIds.incrementAndGet()
      spark.sparkContext.setLocalProperty(obsProp, id.toString)
      val t0 = nowMs()
      var t1 = t0
      val err =
        try {
          val df: DataFrame = queries(gate)(spark, dir)
          t1 = nowMs()
          df.write.format("noop").mode("overwrite").save()
          lastDf(gate) = df
          None
        } catch { case e: Throwable =>
          lastDf.remove(gate)
          if (t1 == t0) t1 = nowMs()
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500))
        } finally spark.sparkContext.setLocalProperty(obsProp, null)
      val t2 = nowMs()
      val o = Obs(id, gate, family.getOrElse(gate, "?"), pass, t0, t1, t2, err)
      if (!tr) o else {
        val g = span(passSpan, id, s"gate:$gate", t0, t2)
        o.copy(gateSpan = g, buildSpan = span(g, id, "gates.build", t0, t1),
          execSpan = span(g, id, "gates.exec", t1, t2))
      }
    }

    def runPass(index: Int, dir: String, tr: Boolean): Pass = {
      val start = nowMs()
      val passSpan = if (tr) spanIds.incrementAndGet() else 0L
      val loadStart = nowMs()
      graft.sources.Tables.all.foreach { t =>
        val a = nowMs()
        graft.sources.Tables.load(spark, dir, t).schema
        if (tr) span(passSpan, 0L, s"sources.load:$t", a, nowMs())
      }
      val loadMs = nowMs() - loadStart
      gates.foreach(g => observations += observe(g, dir, index, tr, passSpan))
      val end = nowMs()
      if (tr) spans.add(Span(passSpan, 0L, 0L, s"pass:$index", start, end))
      Pass(index, dir, passSpan, start, end, loadMs, graft.sources.Tables.all.size,
        heapAfterGcMb())
    }

    def dirOf(k: Int): String = if (fresh) inputs(k) else inputs.head
    val warm = (0 until warmupPasses).map(k => runPass(k - warmupPasses, dirOf(k), tr = false))
    val warmEndMs = warm.last.end
    if (traced) startTracing(spark)
    // Whole passes start while fewer than `seconds` have elapsed (and a
    // fresh input is left), so every gate is observed equally often.
    val timedStart = nowMs()
    var i = 0
    while ((i == 0 || nowMs() - timedStart < seconds * 1000) &&
        (!fresh || warmupPasses + i < inputs.size)) {
      passes += runPass(i, dirOf(warmupPasses + i), traced)
      i += 1
    }
    val rssMb = vmHwmMb()

    // Outside the timing: the last timed observation of every gate is
    // written to parquet for the oracle (its DataFrame is re-executed;
    // eager work done inside the gate function is not repeated). A gate
    // that threw there is called afresh.
    val checkStart = nowMs()
    val checkDir = passes.last.dir
    val checkErrors = gates.flatMap { g =>
      try {
        lastDf.getOrElse(g, queries(g)(spark, checkDir)).write
          .mode("overwrite").parquet(new java.io.File(out, s"check/$g").getPath)
        None
      } catch { case e: Throwable =>
        Some(g -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
      }
    }.toMap
    val checkMs = nowMs() - checkStart
    Json.write(new java.io.File(out, "oracle.json"),
      gates.map(g => g -> graft.SparkEntry.oracleSql.get(g).orNull).toMap)

    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.extensions", "spark.sql.session.timeZone")
      .map(k => k -> spark.conf.getOption(k).orNull).toMap
    val sparkVersion = spark.version
    spark.stop() // drains the listener bus: every event is in after this

    val result = mutable.LinkedHashMap[String, Any](
      "spark_version" -> sparkVersion,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "conf" -> conf,
      "gates" -> gates,
      "session_create_s" -> sessionMs / 1000,
      "warmup_pass_s" -> warm.map(p => (p.end - p.start) / 1000),
      "warmup_end_epoch_ms" -> warmEndMs,
      "rss_peak_mb" -> rssMb,
      "check_spark_s" -> checkMs / 1000,
      "check_dir" -> checkDir,
      "check_errors" -> checkErrors,
      "passes" -> passes.map(p => Map(
        "index" -> p.index, "dir" -> p.dir,
        "wall_s" -> (p.end - p.start) / 1000, "heap_after_gc_mb" -> p.heapMb)),
      "observations" -> observations.filter(_.pass >= 0).map(o => Map(
        "gate" -> o.gate, "family" -> o.family, "pass" -> o.pass,
        "build_s" -> (o.buildEnd - o.start) / 1000,
        "exec_s" -> (o.end - o.buildEnd) / 1000, "wall_s" -> (o.end - o.start) / 1000,
        "error" -> o.error.orNull)))
    if (traced) result("layers") = layers(passes.toSeq, observations.filter(_.pass >= 0).toSeq,
      maintenance, new java.io.File(out, "spans.jsonl"))
    Json.write(new java.io.File(out, "result.json"), result)
  }

  /** Per-traced-pass layer sums, attributed to gate observations by the
    * `perfbench.obs` job property (jobs, stages, tasks) or by the
    * observation's time window (planning phases, streaming triggers).
    * Also writes every span with its self time (duration minus the
    * part its children cover) to `spansFile`. */
  private def layers(passes: Seq[Pass], obs: Seq[Obs], maintenance: Set[String],
                     spansFile: java.io.File): Seq[Map[String, Any]] = {
    def within(t: Double): Option[Obs] = obs.find(o => o.start <= t && t <= o.end)
    def childOf(o: Obs, t: Double): Long = if (t < o.buildEnd) o.buildSpan else o.execSpan
    val byId = obs.map(o => o.id -> o).toMap
    val jobsByObs = jobSpans.asScala.toSeq.filter(j => byId.contains(j._1)).groupBy(_._1)
    jobsByObs.values.flatten.foreach { case (id, a, b) =>
      val o = byId(id); span(childOf(o, a), id, "job", a, b) }
    val planning = mutable.Map.empty[Long, (Double, Double, Double)].withDefaultValue((0, 0, 0))
    qePhases.asScala.foreach { case (t, a, op, ph) => within(t).foreach { o =>
      val (a0, o0, p0) = planning(o.id)
      planning(o.id) = (a0 + a, o0 + op, p0 + ph)
      span(childOf(o, t), o.id, "planning", t, t + a + op + ph)
    } }
    val triggers = progress.asScala.toSeq.flatMap { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      within(t).map { o =>
        val dur = p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        span(childOf(o, t), o.id, "streaming.trigger", t, t + dur)
        (o, p)
      }
    }

    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    val self = all.map(s => s.id -> ((s.end - s.start) -
      coverage(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))).toMap
    val w = new java.io.PrintWriter(spansFile, "UTF-8")
    try all.sortBy(_.start).foreach(s => w.println(Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "obs" -> s.obs, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)))))
    finally w.close()

    passes.map { p =>
      val os = obs.filter(_.pass == p.index)
      val cs = os.map(o => Option(counters.get(o.id)).getOrElse(new Counters))
      def sum(f: Counters => Double) = cs.map(f).sum
      val ms = os.filter(o => maintenance(o.gate))
        .map(o => Option(counters.get(o.id)).getOrElse(new Counters))
      val trig = triggers.filter(_._1.pass == p.index).map(_._2)
      def phase(k: String) = trig.map(_.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)).sum
      val gateSelf = os.map(o => self(o.gateSpan))
      Map[String, Any](
        "wall_s" -> (p.end - p.start) / 1000,
        "pass_self_ms" -> self(p.span),
        "gate_self_max_ms" -> (if (gateSelf.isEmpty) 0.0 else gateSelf.max),
        "load_ms" -> p.loadMs, "loads" -> p.loads,
        "build_s" -> os.map(o => o.buildEnd - o.start).sum / 1000,
        "exec_s" -> os.map(o => o.end - o.buildEnd).sum / 1000,
        "family_busy_s" -> os.groupBy(_.family).map { case (f, xs) => f -> xs.map(_.wall).sum / 1000 },
        "analysis_ms" -> os.map(o => planning(o.id)._1).sum,
        "optimization_ms" -> os.map(o => planning(o.id)._2).sum,
        "physical_ms" -> os.map(o => planning(o.id)._3).sum,
        "jobs" -> sum(_.jobs.toDouble), "stages" -> sum(_.stages.toDouble),
        "tasks" -> sum(_.tasks.toDouble), "tasks_failed" -> sum(_.taskFailed.toDouble),
        "driver_gap_s" -> os.map(o => o.wall - coverage(
          jobsByObs.getOrElse(o.id, Nil).map(j => (j._2, j._3)), o.start, o.end)).sum / 1000,
        "task_dur_s" -> sum(_.taskDurMs) / 1000, "run_s" -> sum(_.runMs) / 1000,
        "cpu_s" -> sum(_.cpuNs) / 1e9, "gc_s" -> sum(_.gcMs) / 1000,
        "peak_mem_mb" -> (cs.map(_.peakMem) :+ 0.0).max / 1048576,
        "shuffle_write_mb" -> sum(_.shufW) / 1048576, "shuffle_read_mb" -> sum(_.shufR) / 1048576,
        "fetch_wait_s" -> sum(_.fetchWaitMs) / 1000, "spill_mb" -> sum(_.spill) / 1048576,
        "triggers" -> trig.size, "empty_triggers" -> trig.count(_.numInputRows == 0),
        "trigger_ms" -> trig.map(_.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)),
        "add_batch_ms" -> phase("addBatch"), "wal_commit_ms" -> phase("walCommit"),
        "commit_offsets_ms" -> phase("commitOffsets"), "query_planning_ms" -> phase("queryPlanning"),
        "latest_offset_ms" -> phase("latestOffset"),
        "state_commit_ms" -> trig.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
        "state_rows" -> trig.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).sum,
        "state_mem_mb" -> (trig.flatMap(_.stateOperators.map(_.memoryUsedBytes.toDouble)) :+ 0.0).max / 1048576,
        "maint_out_mb" -> ms.map(_.outBytes).sum / 1048576, "maint_out_records" -> ms.map(_.outRecs).sum,
        "maint_in_mb" -> ms.map(_.inBytes).sum / 1048576,
        "heap_after_gc_mb" -> p.heapMb)
    }
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and
  * booleans for the harness's result and span files. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(f: java.io.File, v: Any): Unit =
    java.nio.file.Files.writeString(f.toPath, render(v) + "\n")
}
