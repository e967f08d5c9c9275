package graft

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `graft.tools.Profile`: the --ab protocol rotates the variant order
  * every round and runs variants on their own sessions. */
class ProfileToolSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val Parts = "spark.sql.shuffle.partitions"

  test("--ab rotates the variant order per round and leaves the caller's conf unchanged") {
    val before = spark.conf.getAll
    val lines = ArrayBuffer.empty[String]
    val obs = Profile.run(spark,
      Seq(sfDir, "q01_scan_sort", "--runs", "3", "--ab", s"$Parts=3|5|7"), lines += _)
    assert(spark.conf.getAll == before)
    assert(obs.forall(_.sec >= 0), obs)
    val v = Seq(3, 5, 7).map(n => s"$Parts=$n")
    val orders = (1 to 3).map(r => obs.filter(_.round == r).map(_.variant))
    assert(orders == Seq(v, v.drop(1) ++ v.take(1), v.drop(2) ++ v.take(2)))
    assert(lines.exists(l => l.startsWith("q01_scan_sort") && v.forall(l.contains)))
  }

  test("several --ab keys multiply into their cross product") {
    val obs = Profile.run(spark, Seq(sfDir, "q01_scan_sort", "--runs", "1",
      "--ab", s"$Parts=3|5", "spark.sql.adaptive.enabled=true|false"), _ => ())
    assert(obs.map(_.variant).toSet == (for (n <- Seq(3, 5); a <- Seq(true, false))
      yield s"$Parts=$n,spark.sql.adaptive.enabled=$a").toSet)
  }

  test("Session.withConf scopes conf to a new session with the late rules") {
    val before = spark.conf.get(Parts)
    val s = Session.withConf(spark, Map(Parts -> "3"))
    assert(s ne spark)
    assert(s.conf.get(Parts) == "3" && spark.conf.get(Parts) == before)
    assert(s.experimental.extraOptimizations.contains(graft.plans.SemiAntiRightDedup))
  }
}
