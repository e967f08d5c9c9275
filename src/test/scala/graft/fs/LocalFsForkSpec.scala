package graft.fs

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.catalog.Versioned
import graft.streaming.EventStreams

/** Regression guard for the `file:` binding: the local write paths that
  * forked `chmod`/`readlink` per file on stock Hadoop without libhadoop
  * (state-store and checkpoint logs, parquet committers, catalog
  * publishes) must start no such process. Process starts are read from
  * JFR's `jdk.ProcessStart` events. */
class LocalFsForkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sentinel = Seq("true", "graft-fs-sentinel")

  /** Commands of every process the JVM starts while `body` runs. A
    * sentinel process is started after `body` and the stream is read
    * until its event arrives: delivery is ordered, so every earlier
    * start has been seen by then. */
  private def processStarts(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val cmd = e.getString("command")
        if (cmd == sentinel.mkString(" ")) drained.countDown() else seen.add(cmd)
      })
      rs.startAsync()
      body
      new ProcessBuilder(sentinel: _*).start().waitFor()
      assert(drained.await(60, TimeUnit.SECONDS), "JFR never delivered the sentinel start")
    } finally rs.close()
    seen.asScala.toSeq
  }

  private def rm(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  test("stateful stream, parquet write and Versioned commit start no chmod/readlink/ls/stat") {
    import EventStreams._
    val root = Files.createTempDirectory("graft_forks").toFile
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 40).map(i =>
      Event(i, new Timestamp(t0 + i * 60000L), i % 5, "view", i.toDouble, "{}"))
    var batches = 0
    try {
      val starts = processStarts {
        val staged = new File(root, "staged").getPath
        events.toDS().repartition(2).write.parquet(staged)
        val q = runningTotals(spark.readStream.schema(EventStreams.schema)
            .option("maxFilesPerTrigger", "1").parquet(staged).as[Event])
          .toDF().writeStream.outputMode("update").format("memory")
          .queryName("fork_totals")
          .option("checkpointLocation", new File(root, "ckpt").getPath)
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(60000), "stream did not finish")
        batches = q.recentProgress.count(_.numInputRows > 0)
        val totals = spark.table("fork_totals")
        val table = new File(root, "versioned").getPath
        Versioned.put(spark, totals, table)
        Versioned.commit(spark, table)(_.where($"n" > 0))
        val last = Versioned.read(spark, table).groupBy("user_id")
          .agg(max($"n")).as[(Long, Long)].collect().toMap
        assert(last == (0L until 5L).map(_ -> 8L).toMap)
      }
      assert(batches == 2, "the stream must carry state across two staged files")
      val forks = starts.filter { cmd =>
        Set("chmod", "readlink", "ls", "stat")
          .contains(new File(cmd.takeWhile(_ != ' ')).getName)
      }
      assert(forks.isEmpty, s"${forks.size} shell-outs, e.g. ${forks.take(3)}")
    } finally rm(root)
  }
}
