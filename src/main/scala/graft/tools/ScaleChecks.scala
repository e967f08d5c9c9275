package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, SemDedup, SpanDedup}
import graft.expressions.NativeText

/** Scale-exactness checks for the gates whose DuckDB oracles are
  * unrunnable past gate scale (declared-quadratic or sketch-replay
  * class), plus the at-scale operator stress invariants:
  * `ScaleChecks <sfDir> [check ...]` (default x98 x88b x102 x104).
  * Runs on [[graft.Session.forRun]]. Each gate check re-runs the REAL
  * gate query at the given scale and asserts the gate's invariant
  * structurally:
  *
  *  - x98: quantile audit — `within_alpha` must hold (the audit's
  *    exact side now rank-selects distributed; this run is also the
  *    wall-clock evidence that the SinglePartition sort is gone);
  *  - x88b: skew-escalated entity resolution — the fixture is built
  *    so entity_id = 4·(doc_id div 4) exactly (replica-invariant
  *    under gen_scale's disjoint doc_id ranges: stems are
  *    md5(doc_id div 4), so replicas never share a block);
  *  - x102: governed-dimension composition — within_tol and
  *    rollup_exact must hold on every segment row;
  *  - x111: MAD outliers replica-invariance — gen_scale replicates
  *    every sf0.1 value verbatim R times, which multiplies every
  *    rank by R: the DISCRETE median/MAD of the replicated multiset
  *    equal the sf0.1 ones EXACTLY, and n_outliers scales by
  *    exactly R (R derived from the row counts, never assumed);
  *  - x114: incremental-agg merge law at scale — the three-batch
  *    folded state must equal the direct build over the whole table
  *    (keys/counts/min/max exact, sums to 1e-6 relative — addition
  *    order differs by design);
  *  - x115: grouped-NTILE law at scale — per (group, bin) sizes must
  *    be exactly the SQL NTILE sizes derived from each group's n_g
  *    (first n_g mod k buckets one row larger), under whatever
  *    partitioning the range-rank machinery produced.
  *
  * The stress checks run operators directly on replica datasets
  * (tools/gen_scale.py: sf0.1 rows replicated R× under fresh ids):
  *
  *  - chain-cc: distributed connected components on a PATH graph
  *    0-1-…-(n-1) (n = 1M), the worst case for iterative CC — the
  *    Kiveris large-star/small-star alternation must halve the
  *    diameter each round with nothing shortcutting it. Pins exact
  *    labels: component 0 for the single chain, each segment's
  *    minimum id for 1000 disjoint chains. Ignores the sfDir;
  *  - dedup-star: the near-dup pair graph of the replica documents
  *    (every original becomes an R-clique; at R=10 past the 100k
  *    driver cap, so the star CC branch engages); its labels must
  *    agree with the driver union-find on the same pairs (up to 2M
  *    pairs — past that the driver collect is what this exists to
  *    avoid, and the replica invariant applies: gen_scale replicas
  *    only merge copies of one original, so the component count is
  *    R-invariant), then
  *    dedupNearDups / dedupIncremental run end-to-end at the default
  *    cap;
  *  - semdedup: replica embeddings are exact copies, which always get
  *    identical cell assignments, so survivors == distinct originals
  *    exactly, whatever the k-means quality;
  *  - span-dedup: every ≥k-token document has R exact copies, so it
  *    must come out EXACTLY fully covered — one span [0, ntok) — and
  *    rewrite to an empty kept_text (checked with aggregates, never a
  *    collect).
  */
object ScaleChecks {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1")
    val checks = if (args.length > 1) args.drop(1).toSeq
      else Seq("x98", "x88b", "x102", "x104")
    val spark = graft.Session.forRun(dir, "scale-checks")
    spark.sparkContext.setLogLevel("ERROR")

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[$name] ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def pinned(df: => org.apache.spark.sql.DataFrame) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

    checks.foreach {
      case "x98" => timed("x98") {
        val row = graft.SparkEntry.queries("x98_quantile_sketch")(spark, dir)
          .head()
        require(row.getBoolean(1),
          s"x98 quantile audit failed at $dir: $row")
        println(s"[x98] n_vals=${row.getLong(0)} within_alpha=true")
      }
      case "x88b" => timed("x88b") {
        // pin the resolution once — three separate actions would each
        // re-run the whole blocked-JW + CC pipeline
        val out = graft.SparkEntry.queries("x88b_entities_skewblock")(spark, dir)
          .localCheckpoint()
        val bad = out.where(col("entity_id") =!=
          lit(4L) * floor(col("doc_id") / 4)).count()
        val entities = out.select(col("entity_id")).distinct().count()
        require(bad == 0L, s"x88b structural mismatches at $dir: $bad")
        println(s"[x88b] rows=${out.count()} entities=$entities mismatches=0")
      }
      case "x102" => timed("x102") {
        val out = graft.SparkEntry.queries("x102_governed_dim")(spark, dir)
          .collect()
        require(out.nonEmpty && out.forall(r =>
            r.getBoolean(2) && r.getBoolean(3)),
          s"x102 sketch verdicts failed at $dir")
        println(s"[x102] segments=${out.length} " +
          s"n_current_total=${out.map(_.getLong(1)).sum} all verdicts true")
      }
      case "x104" => timed("x104") {
        val out = graft.SparkEntry.queries("x104_quantile_by_group")(spark, dir)
          .collect()
        require(out.nonEmpty && out.forall(_.getBoolean(2)),
          s"x104 grouped quantile audit failed at $dir")
        println(s"[x104] groups=${out.length} " +
          s"n_vals_total=${out.map(_.getLong(1)).sum} all within_alpha")
      }
      case "x111" => timed("x111") {
        val ref = graft.SparkEntry.queries("x111_mad_outliers")(
          spark, "/root/testdata/sf0.1").collect()
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
            r.getDouble(3), r.getLong(4)))).toMap
        val out = graft.SparkEntry.queries("x111_mad_outliers")(spark, dir)
          .collect()
        require(out.nonEmpty, s"x111 empty at $dir")
        out.foreach { r =>
          val (n0, med0, mad0, out0) = ref(r.getString(0))
          val rFactor = r.getLong(1) / n0
          require(r.getLong(1) == rFactor * n0 &&
            r.getDouble(2) == med0 && r.getDouble(3) == mad0 &&
            r.getLong(4) == rFactor * out0,
            s"x111 replica-invariance broken at $dir for " +
              s"${r.getString(0)}: $r vs sf0.1 ($n0, $med0, $mad0, $out0)")
        }
        println(s"[x111] groups=${out.length} " +
          s"n_total=${out.map(_.getLong(1)).sum} replica-invariant")
      }
      case "x114" => timed("x114") {
        val o = graft.sources.Tables.load(spark, dir, "orders")
        val ia = graft.operators.IncrementalAgg
        val folded = ia.update(ia.update(
          ia.build(o.where(col("o_orderkey") % 2 === 0),
            Seq("o_custkey"), Seq("o_totalprice")),
          o.where(col("o_orderkey") % 4 === 1),
          Seq("o_custkey"), Seq("o_totalprice")),
          o.where(col("o_orderkey") % 4 === 3),
          Seq("o_custkey"), Seq("o_totalprice")).localCheckpoint()
        val direct = ia.build(o, Seq("o_custkey"), Seq("o_totalprice"))
          .localCheckpoint()
        // sums are floating: compare keys/counts/min/max exactly and
        // sums to 1e-6 relative (addition order differs by design)
        val joinedBad = folded.alias("f")
          .join(direct.alias("g"), Seq("o_custkey"), "full_outer")
          .where(col("f.n_rows").isNull || col("g.n_rows").isNull ||
            col("f.n_rows") =!= col("g.n_rows") ||
            col("f.o_totalprice_cnt") =!= col("g.o_totalprice_cnt") ||
            !(col("f.o_totalprice_min") <=> col("g.o_totalprice_min")) ||
            !(col("f.o_totalprice_max") <=> col("g.o_totalprice_max")) ||
            abs(col("f.o_totalprice_sum") - col("g.o_totalprice_sum")) >
              abs(col("g.o_totalprice_sum")) * 1e-6)
          .count()
        require(joinedBad == 0L,
          s"x114 merge law broken at $dir: $joinedBad mismatched keys")
        println(s"[x114] keys=${direct.count()} fold == direct build")
      }
      case "x115" => timed("x115") {
        val out = graft.SparkEntry.queries("x115_ntile_by_group")(spark, dir)
          .collect()
        require(out.nonEmpty, s"x115 empty at $dir")
        val k = 4
        out.groupBy(_.getString(0)).foreach { case (g, rows) =>
          val n = rows.map(_.getLong(2)).sum
          val q = n / k; val r = (n % k).toInt
          val expect = (1 to k).map(b =>
            b.toLong -> (if (b <= r) q + 1 else q)).toMap
          val got = rows.map(x => x.getLong(1) -> x.getLong(2)).toMap
          require(got == expect.filter(_._2 > 0),
            s"x115 NTILE sizes wrong at $dir for group $g: " +
              s"got $got expect $expect")
        }
        println(s"[x115] groups=${out.map(_.getString(0)).distinct.length} " +
          s"rows_total=${out.map(_.getLong(2)).sum} NTILE sizes exact")
      }
      case "chain-cc" => timed("chain-cc") {
        val n = 1000000L
        val segments = 1000
        // 1. single path 0-1-…-(n-1): diameter n-1, one component
        val path = spark.range(n - 1)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        val labels = timed(s"chain-cc path n=$n") {
          pinned(Dedup.connectedComponentsStar(path))
        }
        val nLabels = labels.count()
        val bad = labels.where(col("component") =!= 0L).count()
        println(s"[chain-cc] path: labels=$nLabels (want $n) wrong-component=$bad")
        require(nLabels == n && bad == 0L, "path labels wrong")
        labels.unpersist()
        // 2. segmented: `segments` disjoint chains (diameter n/segments)
        //    — component must be each segment's minimum id
        val segLen = n / segments
        val seg = spark.range(n - 1)
          .where((col("id") + 1) % segLen =!= 0)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        val segLabels = timed(s"chain-cc $segments chains of $segLen") {
          pinned(Dedup.connectedComponentsStar(seg))
        }
        val segBad = segLabels
          .where(col("component") =!= (col("id") - (col("id") % segLen))).count()
        val nComp = segLabels.select("component").distinct().count()
        println(s"[chain-cc] segmented: components=$nComp (want ~$segments) " +
          s"wrong-component=$segBad")
        require(segBad == 0L, "segment labels wrong")
        segLabels.unpersist()
      }
      case "dedup-star" => timed("dedup-star") {
        val docs = graft.sources.Tables.load(spark, dir, "documents")
        val nDocs = docs.count()
        val pairs = timed("dedup-star lshHybridPairs") {
          pinned(Dedup.lshHybridPairs(docs, 0.8, "doc_id", "text"))
        }
        val nPairs = pairs.count()
        println(s"[dedup-star] docs=$nDocs pairs=$nPairs (driver cap 100000; " +
          s"distributed branch ${if (nPairs > 100000) "ENGAGES" else "DOES NOT ENGAGE"})")
        val starLabels = timed("dedup-star connectedComponentsStar") {
          pinned(Dedup.connectedComponentsStar(pairs))
        }
        val nStar = starLabels.count()
        val nComponents = starLabels.select("component").distinct().count()
        if (nPairs <= 2000000) {
          val driverLabels = timed("dedup-star driver union-find") {
            // far above the pair count but NOT Int.MaxValue (the
            // adaptive probe takes driverCap+1 rows, which must not
            // overflow)
            pinned(Dedup.connectedComponentsAdaptive(pairs, driverCap = 10000000))
          }
          val mismatches = starLabels.as("a")
            .join(driverLabels.as("b"), Seq("id"))
            .where(col("a.component") =!= col("b.component")).count()
          println(s"[dedup-star] labels=$nStar components=$nComponents " +
            s"label mismatches vs driver union-find=$mismatches")
          require(mismatches == 0, "star CC disagrees with driver union-find")
          driverLabels.unpersist()
        } else {
          println(s"[dedup-star] labels=$nStar components=$nComponents " +
            "(driver cross-check skipped past 2M pairs; replica invariant applies)")
        }
        pairs.unpersist(); starLabels.unpersist()
        // the production entry points with the DEFAULT cap, so the
        // adaptive fall-through takes the star branch itself
        val survivors = timed("dedup-star dedupNearDups") {
          Dedup.dedupNearDups(docs, 0.8).count()
        }
        val batchLo = nDocs / 10 * 9 // last replica's id range = the batch
        val admitted = timed("dedup-star dedupIncremental") {
          Dedup.dedupIncremental(
            docs.where(col("doc_id") >= batchLo),
            docs.where(col("doc_id") < batchLo), 0.8).count()
        }
        println(s"[dedup-star] dedupNearDups survivors=$survivors " +
          s"dedupIncremental admitted=$admitted of ${nDocs - batchLo}")
      }
      case "semdedup" => timed("semdedup") {
        val emb = graft.sources.Tables.load(spark, dir, "embeddings")
        val n = emb.count()
        val distinctVecs = emb.select(col("embedding")).distinct().count()
        val k = math.max(4, math.sqrt(n.toDouble).toInt)
        println(s"[semdedup] vectors=$n distinct=$distinctVecs k=$k")
        val idx = timed("semdedup Ivf.train") {
          graft.functions.Ivf.train(emb, k, iters = 3)
        }
        val pairs = timed("semdedup semanticPairs") {
          pinned(SemDedup.semanticPairs(emb, idx, threshold = 0.99, probes = 2))
        }
        val nPairs = pairs.count()
        println(s"[semdedup] pairs=$nPairs (driver cap 100000; distributed " +
          s"branch ${if (nPairs > 100000) "ENGAGES" else "DOES NOT ENGAGE"})")
        val comps = timed("semdedup connectedComponentsAdaptive") {
          pinned(Dedup.connectedComponentsAdaptive(pairs))
        }
        val nComponents = comps.select(col("component")).distinct().count()
        pairs.unpersist(); comps.unpersist()
        val survivors = timed("semdedup end-to-end") {
          SemDedup.semDedup(emb, k, threshold = 0.99, probes = 2,
            indexKey = Some(s"semdedup-stress:$dir")).count()
        }
        println(s"[semdedup] components=$nComponents survivors=$survivors " +
          s"(invariant: survivors == distinct originals == $distinctVecs)")
        if (survivors != distinctVecs)
          throw new IllegalStateException(
            s"SemDedup invariant violated: $survivors survivors, expected $distinctVecs")
      }
      case "span-dedup" => timed("span-dedup") {
        val docs = graft.sources.Tables.load(spark, dir, "documents")
        val k = 15
        val eligible = docs.where(NativeText.tokenCount(col("text")) >= k).count()
        val spans = timed("span-dedup duplicatedSpans") {
          SpanDedup.duplicatedSpans(docs, k).localCheckpoint()
        }
        val nSpans = spans.count()
        // invariant 1: one span per eligible doc, covering [0, ntok)
        val bad = spans
          .join(docs.select(col("doc_id"),
            NativeText.tokenCount(col("text")).as("ntok")), Seq("doc_id"))
          .where(col("span_start") =!= 0 || col("span_end") =!= col("ntok"))
          .count()
        val agg = timed("span-dedup removeSpans") {
          SpanDedup.removeSpans(docs, spans).agg(
            count(lit(1)).as("n"),
            sum(when(col("kept_text") === "", 1).otherwise(0)).as("empty"),
            sum(col("n_removed")).as("removed")).head()
        }
        println(s"[span-dedup] eligible=$eligible spans=$nSpans badSpans=$bad " +
          s"docs=${agg.getLong(0)} fullyEmptied=${agg.getLong(1)} " +
          s"tokensRemoved=${agg.getLong(2)}")
        assert(nSpans == eligible, s"expected one full span per eligible doc")
        assert(bad == 0, "a span failed the full-coverage invariant")
        assert(agg.getLong(1) == eligible, "an eligible doc kept text")
      }
      case other => sys.error(s"unknown check: $other")
    }
    spark.stop()
  }
}
