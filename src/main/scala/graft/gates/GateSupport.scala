package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ivf, Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}
import graft.ops.{Dims, Quality}
import graft.sources.Tables

/** Shared gate plumbing split out of SparkEntry: fixture loading,
  * streaming-source staging, scratch/checkpoint dirs, the IVF list
  * staging cache, the recall-containment gate tail, and the oracle
  * CTE fragments shared across gate families. */
private[graft] object GateSupport {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Streaming-source staging of the events table (readStream needs a
    * µs-timestamp parquet dir; the fixture is TIMESTAMP(NANOS)).
    * Staged once per dataset dir and reused across streaming queries
    * and repeat invocations — the copy is setup, not the operator. */
  val stagedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageEvents(s: SparkSession, d: String): String =
    stagedEventsCache.computeIfAbsent(d, _ => {
      // disk tmp, NOT scratchDir: the staged dataset lives for the
      // whole session and scales with the fixture — pinning it in a
      // (possibly tiny) /dev/shm would either eat RAM or ENOSPC
      val p = sessionTempDir("graft_events_stage")
      t(s, d, "events").write.mode("overwrite").parquet(p)
      p
    })

  /** Events staged TIME-ORDERED across multiple files: file i holds
    * strictly earlier events than file i+1 (range partition on ts),
    * mtimes ascending by part index so FileStreamSource replays them
    * in event-time order. With `maxFilesPerTrigger=1` the watermark
    * advances between micro-batches and watermark-driven state
    * EVICTION actually fires — the arrival pattern of a production
    * stream, which is what the bounded-state operators exist for.
    *
    * Default 4 files (round 15): the bounded-state gates' result is
    * batch-cadence-invariant by contract (the oracle replays one batch
    * SQL statement), and every additional micro-batch costs the full
    * per-trigger constant while demonstrating nothing the previous
    * batches didn't. That constant (~0.35 s in round 15, `Profile
    * --stream` on x119) was mostly process starts, not Spark work:
    * without libhadoop, stock Hadoop forked `chmod` per created file
    * and `readlink` per `FileContext` rename, 3-5 ms each, on every
    * state-store delta/checksum file and offset/commit-log entry
    * (2,347 starts over 3 rounds of the six cold benchmark gates).
    * With `graft.fs` doing both in-process the cold benchmark's traced
    * pass (seed 77, 4 cores) went from trigger p50 532 → 276 ms, state
    * commit 429 → 42 ms, walCommit 48 → 3 ms per trigger. 4 data files
    * = 3 in-stream watermark advances + the trailing no-data batch:
    * still a multi-batch replay that fires eviction/finalization on
    * every path (gate `require`s + StreamingSpec state-bound asserts
    * stay the evidence), no longer 7 triggers of which 3 are
    * redundant. */
  val stagedEventsTimeOrderedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageEventsTimeOrdered(s: SparkSession, d: String,
                             nFiles: Int = 4): String =
    // keyed on (dataset, nFiles): callers wanting a different file
    // count expect a different micro-batch/watermark cadence, not a
    // silent reuse of the first caller's staging
    stagedEventsTimeOrderedCache.computeIfAbsent(s"$d#$nFiles", _ => {
      val p = sessionTempDir("graft_events_timed")
      t(s, d, "events").repartitionByRange(nFiles, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(p)
      val parts = Option(new java.io.File(p).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val base = System.currentTimeMillis()
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(base + i * 2000L),
          s"setLastModified failed for $f — filesystem without mtime-set support?")
      }
      p
    })

  /** Events staged for OUTER stream-stream joins: the real events as
    * one file, then a far-future sentinel pair (user −1 view / user
    * −2 click — both branch watermarks advance, the sentinels join
    * nothing) as a second file with a later mtime. Replayed with
    * maxFilesPerTrigger=1 the sentinel batch models "time passes":
    * it drives the watermark past every real view_ts + gap, so the
    * state store evicts and flushes every outer null — without it an
    * AvailableNow replay stops after the last data batch and the
    * unmatched rows never emit. */
  val stagedEventsSentinelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageEventsWithSentinel(s: SparkSession, d: String): String =
    stagedEventsSentinelCache.computeIfAbsent(d, _ => {
      import s.implicits._
      val p = sessionTempDir("graft_events_sentinel")
      val ev = t(s, d, "events")
      ev.coalesce(1).write.mode("append").parquet(p)
      val far = ev.agg(org.apache.spark.sql.functions.max(col("ts")) +
        expr("INTERVAL 240 HOURS")).head.getTimestamp(0)
      val before = listParquet(p)
      Seq((-1L, far, -1L, "view", 0.0, "{}"),
          (-2L, far, -2L, "click", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(p)
      bumpMtime(p, before) // sentinel file strictly later, no sleep
      p
    })

  /** FileStreamSource orders files by modification time; make every
    * parquet file NOT in `before` strictly newer than all that are,
    * so the new files replay as later micro-batches deterministically
    * (explicit setLastModifiedTime instead of a wall-clock sleep). */
  def listParquet(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
  def bumpMtime(dir: String, before: Set[String]): Unit = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val maxBefore = files.filter(f => before(f.getName))
      .map(_.lastModified()).foldLeft(0L)(math.max)
    files.filterNot(f => before(f.getName))
      .foreach { f =>
        // A silent setLastModified failure would put FileStreamSource
        // ordering back on wall-clock timing — fail loudly instead.
        require(f.setLastModified(maxBefore + 2000L),
          s"setLastModified failed for $f — filesystem without mtime-set support?")
      }
  }

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Temp dir that lives for the session (staged datasets, index
    * artifacts) but is deleted on JVM exit — repeated bench/verify
    * runs must not accumulate fixture-sized copies in /tmp. */
  def sessionTempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(p.toFile)))
    p.toString
  }

  /** Scratch dir for staging/checkpoints, preferring tmpfs (/dev/shm)
    * over java.io.tmpdir. Measured neutral vs disk-backed /tmp at
    * fixture scale because the state-store commit cost was per-file
    * `chmod`/`readlink` process starts (stock Hadoop without
    * libhadoop), which tmpfs does not make cheaper; `graft.fs` removed
    * them (state commit 429 → 42 ms per trigger on the cold benchmark).
    * Kept because tmpfs scratch can never leave stale checkpoint litter
    * on disk. A cluster deployment points checkpoints at durable
    * storage instead — this is local-mode scratch placement, not a
    * semantics change. */
  def scratchDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** Stream-half of the documents table (doc_id ≥ 300 — the same
    * split as the x50 batch-incremental gate, so the two share the
    * corpus signature artifact) staged once per dataset dir as the
    * x56 readStream source. */
  val stagedStreamDocsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageStreamDocs(s: SparkSession, d: String): String =
    stagedStreamDocsCache.computeIfAbsent(d, _ => {
      val p = sessionTempDir("graft_docs_stage")
      // 8 files, not coalesce(2): the staged dir IS the stream source,
      // and FileStreamSource parallelism follows the file layout — a
      // 2-file stage serialized the whole sf1 micro-batch onto 2 cores
      // (a production stream source arrives already partitioned)
      t(s, d, "documents").where(col("doc_id") >= 300)
        .repartition(8).write.mode("overwrite").parquet(p)
      p
    })

  /** Fresh checkpoint dir per streaming-query invocation (a reused
    * AvailableNow checkpoint would treat the staged files as already
    * processed and emit nothing on re-run), deleted afterwards. The
    * body must leave no query running against the dir — [[awaitGate]]
    * is the sanctioned way to wait. */
  def withCheckpoint[T](body: String => T): T = {
    val dir = scratchDir("graft_ckpt")
    try body(dir)
    finally rmTree(new java.io.File(dir))
  }

  /** Await a gate stream; if the timeout fires with the query still
    * running, STOP it (before the caller's checkpoint dir is deleted
    * out from under a live micro-batch) and fail LOUDLY — returning
    * normally would hand the caller a partially-populated sink to
    * compare against the oracle. */
  def awaitGate(q: org.apache.spark.sql.streaming.StreamingQuery,
                        timeoutMs: Long = 120000): Unit = {
    // scale-up runs (sf1 fixtures are 10-100× the gate-design size)
    // may legitimately need more than the default 2-minute budget.
    // Parse defensively BEFORE awaitTermination: a malformed value
    // must not throw past the q.stop() below and let the caller
    // delete the checkpoint dir under a live micro-batch.
    val t = sys.env.get("SPARK_GRAFT_STREAM_GATE_TIMEOUT_MS")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(timeoutMs)
    if (!q.awaitTermination(t)) {
      q.stop()
      throw new IllegalStateException(
        s"streaming gate query did not finish within ${t} ms")
    }
  }

  /** IVF inverted lists staged once per dataset dir (hive-partitioned
    * by centroid id — see [[Ivf.writeLists]]). Like the trained
    * quantizer, the lists are a build artifact: searches read only the
    * probed partitions (DPP), so staging them is index construction,
    * not per-query work. */
  val ivfListsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def stageIvfLists(s: SparkSession, d: String, indexKey: String,
                            idx: graft.functions.IvfIndex): String =
    stageIvfListsFor(indexKey, t(s, d, "embeddings"), idx)

  def stageIvfListsFor(indexKey: String, corpus: DataFrame,
                               idx: graft.functions.IvfIndex): String =
    // keyed by the SAME identity as the quantizer cache — lists are
    // only valid for the quantizer that assigned them
    ivfListsCache.computeIfAbsent(indexKey, _ => {
      val p = sessionTempDir("graft_ivf_lists")
      Ivf.writeLists(corpus, idx, p)
      p
    })

  /** Shared recall-containment gate tail (x14/x14b): how many exact
    * top-k pairs the approximate result missed, bounded — emitted as
    * (n_exact, recall_ok) so the oracle recomputes the exact count
    * and pins the boolean. The exact side is checkpointed once (read
    * twice: count + anti-join). */
  def recallGate(exactPairs: DataFrame, approxPairs: DataFrame,
                         maxMissed: Long): DataFrame = {
    val exact = exactPairs.localCheckpoint()
    exact.agg(count(lit(1)).cast(LongType).as("n_exact"))
      .crossJoin(
        exact.join(approxPairs, Seq("query_id", "neighbor_id"), "left_anti")
          .agg((count(lit(1)) <= lit(maxMissed)).as("recall_ok")))
  }

  /** Run a streaming gate query with state-store parallelism sized to
    * the load: each shuffle partition is a state-store instance with
    * per-batch commit overhead, so a fixture-scale stream wants a few
    * partitions, not the batch default (a production job would size
    * this to keys×state, same reasoning). Conf is restored afterwards
    * — the stream captures it at start.
    *
    * Checkpoint retention is LIFECYCLE-sized the same way (round 16):
    * these are one-shot AvailableNow replays whose checkpoint dir is
    * deleted the moment the query finishes, so retaining the default
    * 100 batches of state/WAL files for a recovery that can never
    * happen buys nothing — the setting states the gates' lifecycle
    * (a long-lived production stream keeps its SLA-driven retention).
    * Measured HONESTLY (round 16, plans/r16/ab_stream.txt + a bench
    * A/B of retention 100 vs 1): the fixed-variant-order in-JVM A/B
    * suggested 0.08-0.45 s/gate, but a same-protocol bench subset came
    * out a WASH (±2% family-wide) — the A/B's constant variant order
    * (retain1 always directly after default) likely manufactured the
    * gap, so retention is recorded NEUTRAL at gate state size, not a
    * win. The same experiments did settle the rest of the lever
    * space: RocksDBStateStoreProvider (±changelog checkpointing) is
    * neutral-to-WORSE here (x47b 2.85→3.44), and
    * maintenanceInterval/minDeltasForSnapshot move nothing. The
    * "per-instance constants" both providers paid were mostly process
    * starts: a JFR recording of x47b (sf0.01, `Profile --runs 4 --ab`
    * over the two providers, 4 cores) counted 9,957 (7,040 `readlink`,
    * 2,456 `chmod` from stock Hadoop's `file:` without libhadoop, 458
    * `rm`). With `graft.fs` 463 remain, 460 of them Spark's own
    * `rm -rf` of RocksDB working dirs, and the minima fell HDFS
    * 5.05 → 2.63 s, RocksDB 5.96 → 3.08 s: RocksDB still trails. */
  def withStreamPartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val RETAIN = "spark.sql.streaming.minBatchesToRetain"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    val prevRetain = s.conf.getOption(RETAIN)
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.conf.set(RETAIN, "1")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prev)
      prevRetain match {
        case Some(v) => s.conf.set(RETAIN, v)
        case None => s.conf.unset(RETAIN)
      }
    }
  }

  /** Data-sized state-store parallelism: one state-store instance per
    * ~1.5 MB of staged parquet input, clamped to [4, 16]. Measured on
    * the sf1 session-window stream (a state-partition sweep): 4
    * partitions 6.6-9.8 s, 8 partitions 3.7-5.9 s, 16 noisy, 32 collapses to 20-40 s under
    * per-store per-batch commit overhead — so the clamp ceiling is as
    * load-bearing as the floor. At fixture scale (sf0.1 events
    * ≈ 1.2 MB) this stays at the minimum; at sf1 (≈ 12 MB) it lands
    * on the measured sweet spot of 8. Same bytes-per-partition rule
    * Session.inputPartitions applies to batch shuffles: the constant is
    * the per-partition payload, not the partition count. */
  def streamPartitionsFor(stagedDir: String): Int =
    math.min(16L, math.max(4L,
      graft.Session.inputBytes(new java.io.File(stagedDir)) / 1500000L)).toInt

  /** DuckDB list literal from a Scala word list (single source of
    * truth: the oracle uses the same stopword constants as the Spark
    * expressions). */
  def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB STRING EXPRESSION from an arbitrary Scala string: runs of
    * printable ASCII become quoted literals, every other code point
    * becomes `chr(n)`, concatenated with `||`. Keeps combining marks
    * and control characters out of the SQL text itself (raw control
    * bytes in a literal are parser roulette; `chr()` is exact), so
    * Unicode fixtures stay single-source-of-truth between the Spark
    * `lit(...)` and the oracle. */
  def sqlStr(s: String): String = {
    if (s.isEmpty) return "''"
    val parts = new scala.collection.mutable.ArrayBuffer[String]()
    val run = new java.lang.StringBuilder()
    def flush(): Unit = if (run.length > 0) {
      parts += "'" + run.toString.replace("'", "''") + "'"
      run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x20 && cp < 0x7f) run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
      i += Character.charCount(cp)
    }
    flush()
    parts.mkString(" || ")
  }

  /** Shared oracle CTE: lowercased whitespace tokens per document
    * (mirrors [[Text.tokens]]). */
  val tokCte =
    """tok AS (
         SELECT doc_id, text,
                list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '') AS ts
         FROM documents)"""

  /** Shared oracle CTE chain: per-document code-point Shannon entropy,
    * rounded to 4 dp (mirrors [[Text.charEntropy]]: p·ln(p)/ln(2) in
    * double, summed over the code-point frequency table). */
  val entCte =
    """ch AS (
         SELECT doc_id, length(text) AS total,
                unnest(list_transform(range(1, length(text) + 1),
                       i -> substr(text, CAST(i AS INT), 1))) AS c
         FROM documents WHERE length(text) > 0),
       cc AS (SELECT doc_id, total, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2, 3),
       ent AS (
         SELECT doc_id,
                ROUND(-SUM((CAST(cnt AS DOUBLE) / total) *
                           (ln(CAST(cnt AS DOUBLE) / total) / ln(2))), 4) AS entropy
         FROM cc GROUP BY doc_id)"""

  val punctCte =
    """pr AS (
         SELECT doc_id,
                CASE WHEN length(text) > 0 THEN
                  ROUND(CAST(length(text) -
                             length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g'))
                        AS DOUBLE) / length(text), 4)
                ELSE 0.0 END AS punct_ratio
         FROM documents)"""

  /** Brute-force cosine top-5 oracle — shared by x05 (window ranking)
    * and x21 (Aggregator-UDAF ranking), which must agree exactly. */
  val knnOracleSql =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       pairs AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                ROUND(list_inner_product(q.e, c.e) /
                      (sqrt(list_inner_product(q.e, q.e)) *
                       sqrt(list_inner_product(c.e, c.e))), 4) AS sim
         FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
       SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS rnk FROM pairs) t
       WHERE rnk <= 5
       ORDER BY query_id NULLS FIRST, rnk NULLS FIRST"""

  /** Shared oracle CTE chain: the Gopher-style curation signal and
    * rule evaluation (bigrams → repetition, duplicate lines, composite
    * `rs` with reason list). Used by x19 and the x25 pipeline. */
  /** Positions + per-token char totals for the dup-n-gram coverage
    * replay (requires the `tok` CTE). Emitted once; pair with one
    * [[dupNgramChainCte]] per n. */
  val dupNgramBaseCte: String =
    """tl AS (
         SELECT doc_id, unnest(range(1, len(ts) + 1)) AS pos,
                unnest(list_transform(range(1, len(ts) + 1),
                       i -> length(ts[CAST(i AS INT)]))) AS l
         FROM tok WHERE len(ts) > 0),
       tcc AS (SELECT doc_id, SUM(l) AS tot FROM tl GROUP BY 1)"""

  /** Dup-n-gram coverage chain for one n, ending in CTE `f<n>` with
    * column `dup<n>_frac` (0.0 for short/empty docs): window grams →
    * ≥2 duplicate detection → DISTINCT position coverage union →
    * char-weighted fraction, round4 formula. ONE definition serves
    * x19/x25 (n=3, aliased dup_ngram_frac) and the x62 oracle
    * (n=2, 3) — the engine-side semantics live in
    * [[graft.expressions.NativeText.dupNgramCharFracEval]]. */
  def dupNgramChainCte(n: Int): String = {
    val gram = (0 until n).map(k =>
      if (k == 0) "ts[CAST(i AS INT)]" else s"ts[CAST(i AS INT) + $k]")
      .mkString(" || ' ' || ")
    s"""d$n AS (
         SELECT doc_id, unnest(range(1, len(ts) - ${n - 2})) AS s,
                unnest(list_transform(range(1, len(ts) - ${n - 2}),
                       i -> $gram)) AS g
         FROM tok WHERE len(ts) >= $n),
       dd$n AS (SELECT doc_id, s FROM (
                 SELECT doc_id, s, COUNT(*) OVER (PARTITION BY doc_id, g) AS c
                 FROM d$n) WHERE c >= 2),
       cv$n AS (SELECT doc_id, SUM(l) AS cv FROM (
                 SELECT DISTINCT tl.doc_id, tl.pos, tl.l
                 FROM tl JOIN dd$n d ON tl.doc_id = d.doc_id
                   AND tl.pos >= d.s AND tl.pos <= d.s + ${n - 1}) GROUP BY 1),
       f$n AS (
         SELECT tok.doc_id,
                CASE WHEN COALESCE(cv, 0) = 0 OR COALESCE(tot, 0) = 0 THEN 0.0
                     ELSE floor(CAST(cv AS DOUBLE) / tot * 10000 + 0.5) / 10000
                END AS dup${n}_frac
         FROM tok LEFT JOIN tcc USING (doc_id) LEFT JOIN cv$n USING (doc_id))"""
  }

  val curationRulesCte =
    s"""bg AS (
         SELECT doc_id, len(ts) AS total,
                unnest(list_transform(range(1, len(ts)),
                       i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1])) AS b
         FROM tok WHERE len(ts) >= 2),
       bc AS (SELECT doc_id, total, MAX(cnt) AS maxc
              FROM (SELECT doc_id, total, b, COUNT(*) AS cnt FROM bg GROUP BY 1, 2, 3)
              GROUP BY 1, 2),
       tb AS (SELECT doc_id,
                     ROUND(LEAST(1.0, CAST(maxc * 2 AS DOUBLE) / total), 4) AS top_bigram_frac
              FROM bc),
       dl AS (
         SELECT doc_id,
                CASE WHEN len(lines) > 0 THEN
                  ROUND(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 4)
                ELSE 0.0 END AS dup_line_frac
         FROM (SELECT doc_id,
                      list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
               FROM documents)),
       $dupNgramBaseCte,
       ${dupNgramChainCte(3)},
       sig AS (
         SELECT tok.doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
                COALESCE(ent.entropy, 0.0) AS entropy,
                COALESCE(tb.top_bigram_frac, 0.0) AS top_bigram_frac,
                f3.dup3_frac AS dup_ngram_frac, dl.dup_line_frac, pr.punct_ratio
         FROM tok
         LEFT JOIN ent USING (doc_id) LEFT JOIN tb USING (doc_id)
         JOIN f3 USING (doc_id) JOIN dl USING (doc_id) JOIN pr USING (doc_id)),
       rs AS (
         SELECT *,
                list_filter([
                  CASE WHEN n_tok < 10 THEN 'too_short' END,
                  CASE WHEN n_tok > 100000 THEN 'too_long' END,
                  CASE WHEN entropy < 1.5 THEN 'low_entropy' END,
                  CASE WHEN top_bigram_frac > 0.2 THEN 'repetitive_ngrams' END,
                  CASE WHEN dup_ngram_frac > 0.15 THEN 'duplicate_ngrams' END,
                  CASE WHEN dup_line_frac > 0.3 THEN 'duplicate_lines' END,
                  CASE WHEN punct_ratio > 0.25 THEN 'punct_noise' END],
                  x -> x IS NOT NULL) AS reasons
         FROM sig)"""

  /** Shared by x43 and x43b: the sharded two-level cumsum is
    * output-identical to the single-window form, so both gate against
    * the same SQL. */
  val tokenBudgetOracleSql: String =
    """WITH tk AS (
         SELECT doc_id, source,
                CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS BIGINT) AS nt
         FROM documents),
       b AS (
         SELECT * FROM tk
         QUALIFY SUM(nt) OVER (PARTITION BY source
           ORDER BY substr(md5('tb1' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         <= CASE WHEN source = 'src0' THEN 700
                 WHEN source = 'src1' THEN 200
                 WHEN source = 'src2' THEN 0
                 ELSE 600 END)
       SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(nt) AS BIGINT) AS tok
       FROM b GROUP BY source ORDER BY source NULLS FIRST"""

  /** Shared x74/x82 robots fixture — single source of truth for both
    * gates: URL synthesis by doc_id arithmetic (host site{id%7}, five
    * path shapes incl. query/trailing-slash, id%13=0 malformed) and
    * the parsed per-host rule table (wildcard, anchored-$, tie,
    * deny-all, rule-less hosts). */
  def robotsUrl(id: Column): Column = {
    val path = when(id % 5 === 0, concat(lit("/articles/item"), id))
      .when(id % 5 === 1, concat(lit("/articles/item"), id, lit("?q=1")))
      .when(id % 5 === 2, concat(lit("/about/item"), id))
      .when(id % 5 === 3, concat(lit("/articles/item"), id, lit("/")))
      .otherwise(concat(lit("/private/item"), id))
    when(id % 13 === 0, concat(lit("junk:"), id))
      .otherwise(concat(lit("https://site"), id % 7,
        lit(".example.com"), path))
  }

  val robotsRules: Seq[(String, String, String)] = Seq(
    ("site0.example.com", "disallow", "/private/"),
    ("site0.example.com", "allow", "/private/item2"),
    ("site1.example.com", "disallow", "/*?"),
    ("site2.example.com", "disallow", "/articles/item*0$"),
    ("site3.example.com", "disallow", "/articles"),
    ("site3.example.com", "allow", "/articles"),
    ("site3.example.com", "disallow", "/about"),
    ("site4.example.com", "disallow", "/"),
    ("site6.example.com", "allow", "/articles/"),
    ("site6.example.com", "disallow", "/articles/item1"))

  /** The matching oracle CTE block (u/r/m/verdicts): the same URL
    * arithmetic, each rule pattern as its anchored regex, the
    * longest-then-allow window, and the final per-doc verdict. Plain
    * (non-interpolated) string — gates splice it via interpolation,
    * which does not reprocess its contents. */
  val robotsOracleCtes: String =
    """u AS (
         SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE 'site' || (doc_id % 7) || '.example.com' END AS host,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                WHEN doc_id % 5 = 0 THEN '/articles/item' || doc_id
                WHEN doc_id % 5 = 1 THEN '/articles/item' || doc_id || '?q=1'
                WHEN doc_id % 5 = 2 THEN '/about/item' || doc_id
                WHEN doc_id % 5 = 3 THEN '/articles/item' || doc_id || '/'
                ELSE '/private/item' || doc_id END AS pathq
         FROM documents),
       r(host, is_allow, pattern, rx) AS (VALUES
         ('site0.example.com', FALSE, '/private/',         '^/private/'),
         ('site0.example.com', TRUE,  '/private/item2',    '^/private/item2'),
         ('site1.example.com', FALSE, '/*?',               '^/.*\?'),
         ('site2.example.com', FALSE, '/articles/item*0$', '^/articles/item.*0$'),
         ('site3.example.com', FALSE, '/articles',         '^/articles'),
         ('site3.example.com', TRUE,  '/articles',         '^/articles'),
         ('site3.example.com', FALSE, '/about',            '^/about'),
         ('site4.example.com', FALSE, '/',                 '^/'),
         ('site6.example.com', TRUE,  '/articles/',        '^/articles/'),
         ('site6.example.com', FALSE, '/articles/item1',   '^/articles/item1')),
       m AS (
         SELECT u.doc_id, u.pathq, r.pattern, r.is_allow,
                ROW_NUMBER() OVER (PARTITION BY u.doc_id
                  ORDER BY strlen(r.pattern) DESC NULLS LAST,
                           r.is_allow DESC) AS rn
         FROM u LEFT JOIN r
           ON r.host = u.host AND regexp_matches(u.pathq, r.rx)),
       verdicts AS (
         SELECT doc_id,
                CASE WHEN pathq IS NULL THEN NULL
                     WHEN pattern IS NULL THEN TRUE
                     ELSE is_allow END AS allowed
         FROM m WHERE rn = 1)"""
}
