package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SimIndex

/** No query writes the caller's session conf. Every declared query
  * whose code path reaches a conf write leaves `spark.conf.getAll`
  * exactly as it found it. The suite runs on its own session with the
  * engine installed once, so no other suite's leftover conf can hide a
  * write, and it undoes any write it finds, so one leak cannot hide the
  * next query's.
  */
class SessionConfSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    Engine.install(Engine.session(master = "local[4]").newSession())
  private val dir = "/root/testdata/sf0.001"

  private def noop(name: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  private def assertConfKept(label: String)(run: => Unit): Unit = {
    val before = spark.conf.getAll
    run
    val after = spark.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k)).toSeq.sorted
    changed.foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
    assert(changed.isEmpty, s"$label wrote session conf: " +
      changed.map(k => s"$k ${before.get(k)} -> ${after.get(k)}").mkString(", "))
  }

  test("a second install writes no conf and registers no rule twice") {
    val rules = spark.experimental.extraOptimizations
    val strategies = spark.experimental.extraStrategies
    assertConfKept("install")(Engine.install(spark))
    assert(spark.experimental.extraOptimizations == rules)
    assert(spark.experimental.extraStrategies == strategies)
  }

  private val confWriters = Seq("q196_mv_filtered", "q197_mv_rollups") ++
    SparkEntry.queries.keys.toSeq.sorted.filter { n =>
      val q = n.drop(1).takeWhile(_.isDigit).toInt
      q >= 230 && q <= 251
    }

  test("the conf-writing query set is the declared one") {
    assert(confWriters.size == 24, confWriters)
  }

  confWriters.foreach { name =>
    test(s"$name leaves the session conf unchanged") {
      assertConfKept(name)(noop(name))
    }
  }

  test("q165 leaves the session conf unchanged under the rebuild scope") {
    assertConfKept("q165 rebuild") {
      Engine.withConf(spark, SimIndex.RebuildKey -> "true") {
        noop("q165_sim_index_build")
      }
    }
  }
}
