package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the graft engine.
  *
  * Tuned for the harness environment (single-JVM local mode standing in
  * for a multi-executor cluster): AQE on so runtime re-planning (skew
  * join, coalesce partitions, broadcast demotion) behaves like it would
  * on a 1000-executor cluster; shuffle partitions sized instead of the
  * 200 default; UTC session time zone for oracle parity.
  *
  *  - [[local]] sizes shuffles to the core count (tests, demos, tools
  *    that run no fixed input);
  *  - [[forRun]] sizes them to the input directory ([[inputPartitions]])
  *    — the one config Bench, Verify, BenchServe, ScaleChecks and
  *    Profile all run under, so the oracle contract is checked under
  *    the configuration that is benchmarked.
  */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(appName: String = "graft", cores: Int = cpus,
            warehouseDir: Option[String] = None): SparkSession =
    build(appName, cores, cores, warehouseDir)

  /** Session for a run over one dataset dir, shuffle partitions sized
    * by [[inputPartitions]]. */
  def forRun(sfDir: String, appName: String): SparkSession =
    build(appName, cpus, inputPartitions(sfDir, cpus), None)

  /** On-disk bytes under `f` (recursive; 0 for a missing path). */
  def inputBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(inputBytes).sum).getOrElse(0L)
    else f.length()

  /** Spill-aware shuffle sizing — the 100 TB rule applied at bench SF:
    * partitions ≈ on-disk input bytes / 4 MB (parquet text decompresses
    * ~4-8×, so one partition carries ~16-32 MB in flight), floored at
    * 8, capped at 4× cores. Core-count-sized shuffles of kilobyte
    * partitions are pure scheduling overhead: interleaved in-JVM
    * minima showed 20-25% total savings at sf0.1 across floor, heavy,
    * AND streaming families, with no family regressing. At 100 TB the
    * same rule (with a cluster-scale cap) yields the thousands of
    * partitions you'd expect — the constant is the target partition
    * payload, not the partition count. */
  def inputPartitions(dir: String, cores: Int): Int =
    math.min(math.max(inputBytes(new java.io.File(dir)) / (4L << 20), 8L),
      4L * cores).toInt

  /** A new session on `spark`'s context and cache with `conf` set on
    * it alone — the caller's conf is never touched. */
  def withConf(spark: SparkSession, conf: Map[String, String]): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    registerLateRules(s)
    s
  }

  private def build(appName: String, cores: Int, shufflePartitions: Int,
                    warehouseDir: Option[String]): SparkSession = {
    val builder0 = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
    val spark = warehouseDir.foldLeft(builder0)(
      (b, dir) => b.config("spark.sql.warehouse.dir", dir))
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // autoBroadcastJoinThreshold stays at Spark's 10MB default: the
      // round-14 64MB raise (motivated by ONE consumer — the x99 ref
      // anti join's 12MB orders side) re-priced every join in the
      // engine and made the semi/anti gates pay a driver-side
      // 1.5M-key hash build (+81%/+158% at sf1, round-14 verdict).
      // The one consumer that wanted it now scopes its own strategy:
      // Expectations.audit hints SHUFFLE_HASH on its reference side.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerLateRules(spark)
    spark
  }

  /** The extension-injected copy of SemiAntiRightDedup runs in the
    * operator-optimization batches and so never sees the semi/anti
    * joins that SQL EXISTS/NOT EXISTS/IN predicates become in the
    * late RewriteSubquery batch — the "User Provided Optimizers"
    * batch (experimental.extraOptimizations) runs after it and does.
    * Idempotent across both registrations (the rule skips existing
    * aggregates), and across repeat calls on a reused session. */
  def registerLateRules(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.SemiAntiRightDedup))
      spark.experimental.extraOptimizations ++= Seq(graft.plans.SemiAntiRightDedup)
}
