package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Session, SparkEntry}

/** The gate profiler: runs gates through the noop sink, round by
  * round, and prints each run's wall time and the per-variant minima.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <gate,…> [--runs N]
  *          [--jobs] [--stream] [--ab key=v1|v2 …]
  *
  *  - `--runs N` (default 3): rounds; round 1 is the cold run.
  *  - `--jobs`: every Spark job of each run with its wall time and
  *    call site, so a gate's cost is attributed to actions instead of
  *    guessed at. Gaps between jobs are driver-side work; concurrent
  *    jobs overlap.
  *  - `--stream`: every micro-batch's progress — input rows, the
  *    durationMs phases (triggerExecution, queryPlanning, getBatch,
  *    addBatch, walCommit, commitOffsets) and state-operator commit
  *    times and row counts.
  *  - `--ab key=v1|v2`: a runtime-conf A/B. Several keys multiply into
  *    their cross product of variants. Each variant runs on its own
  *    session ([[Session.withConf]]), so the caller's conf is never
  *    changed. The host drifts ±60% between JVMs, so the only sound
  *    protocol is interleaved: every round runs each gate once under
  *    every variant back-to-back, and the variant ORDER ROTATES by one
  *    per round — in round 16 a fixed order (one variant always right
  *    after another) manufactured a win that a bench A/B showed to be
  *    a wash. Only runtime-settable confs can vary this way (AQE,
  *    shuffle partitions, state-store providers — not spark.locality.*).
  */
object Profile {
  /** One run; `sec` is −1 when the gate threw. */
  final case class Obs(round: Int, gate: String, variant: String, sec: Double)

  private val usage = "usage: Profile <sfDir> <gate,…> [--runs N] " +
    "[--jobs] [--stream] [--ab key=v1|v2 …]"

  private final case class Opts(dir: String, gates: Seq[String], runs: Int = 3,
    jobs: Boolean = false, stream: Boolean = false,
    ab: Seq[(String, Seq[String])] = Nil)

  private def parse(args: Seq[String]): Opts = {
    require(args.length >= 2, usage)
    def go(o: Opts, rest: List[String], inAb: Boolean): Opts = rest match {
      case Nil => o
      case "--runs" :: n :: t => go(o.copy(runs = n.toInt), t, inAb = false)
      case "--jobs" :: t => go(o.copy(jobs = true), t, inAb = false)
      case "--stream" :: t => go(o.copy(stream = true), t, inAb = false)
      case "--ab" :: t => go(o, t, inAb = true)
      case kv :: t if inAb && kv.contains('=') =>
        val Array(k, vs) = kv.split("=", 2)
        go(o.copy(ab = o.ab :+ (k -> vs.split('|').toSeq)), t, inAb = true)
      case x :: _ => throw new IllegalArgumentException(s"unexpected '$x'; $usage")
    }
    val o = go(Opts(args(0), args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq),
      args.drop(2).toList, inAb = false)
    o.gates.foreach(g => require(SparkEntry.queries.contains(g), s"unknown gate: $g"))
    o
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = Session.forRun(args(0), "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Profile on `spark` (whose conf is left as found); returns every
    * run in execution order. */
  def run(spark: SparkSession, args: Seq[String],
          out: String => Unit = println): Seq[Obs] = {
    val o = parse(args)
    val variants = o.ab.foldLeft(Seq("" -> Map.empty[String, String])) {
      case (acc, (k, vs)) =>
        for ((label, conf) <- acc; v <- vs)
          yield ((if (label.isEmpty) "" else label + ",") + s"$k=$v", conf + (k -> v))
    }.map { case (label, conf) =>
      (if (label.isEmpty) "default" else label,
        if (conf.isEmpty) spark else Session.withConf(spark, conf))
    }

    val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobsDone = new ConcurrentLinkedQueue[(Int, Double, String)]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.lastOption.map(_.name.linesIterator.next().take(70)))
          .getOrElse("?")
        jobStarts.put(e.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { case (t0, site) =>
          jobsDone.add((e.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
    }
    val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = Option(p.stateOperators).getOrElse(Array.empty)
          .map(s => s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}")
          .mkString(" | ")
        out(f"  [batch ${p.batchId}%2d] rows=${p.numInputRows}%6d " +
          s"dur=${p.durationMs} state{$st}")
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    if (o.jobs) spark.sparkContext.addSparkListener(jobListener)
    if (o.stream) variants.map(_._2).distinct.foreach(_.streams.addListener(streamListener))

    def runOnce(s: SparkSession, gate: String): Double = {
      System.gc()
      jobsDone.clear()
      val t0 = System.nanoTime()
      try SparkEntry.queries(gate)(s, o.dir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        out(s"  [$gate] FAILED: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val obs = try {
      for {
        round <- 1 to o.runs
        gate <- o.gates
        i <- variants.indices
      } yield {
        val (label, s) = variants((i + round - 1) % variants.size)
        val sec = runOnce(s, gate)
        out(f"[round $round] $gate%-28s $label $sec%.3f s")
        if (o.jobs) {
          Thread.sleep(200) // let late listener events drain
          val jobs = jobsDone.asScala.toSeq.sortBy(_._1)
          jobs.foreach { case (id, t, site) => out(f"  job $id%4d $t%7.3f s  $site") }
          out(f"  ${jobs.size} jobs, sum of job walls ${jobs.map(_._2).sum}%.3f s")
        }
        Obs(round, gate, label, sec)
      }
    } finally {
      if (o.jobs) spark.sparkContext.removeSparkListener(jobListener)
      if (o.stream) variants.map(_._2).distinct.foreach(_.streams.removeListener(streamListener))
    }

    out("=== per-variant minima ===")
    for (gate <- o.gates) {
      val row = variants.map { case (label, _) =>
        val ts = obs.filter(b => b.gate == gate && b.variant == label && b.sec >= 0)
        s"[$label] " + (if (ts.isEmpty) "FAIL" else f"${ts.map(_.sec).min}%.3f")
      }
      out(f"$gate%-28s ${row.mkString("  ")}")
    }
    obs
  }
}
