package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BucketStore

/** q189 — the bucketed-table standing artifact: the co-located join's
  * exchange AND sort elision, one-file-per-bucket invariant, bucket
  * pruning on point lookups, and the two-tier cross-session reuse
  * (files survive the JVM; catalog metadata is re-registered without a
  * rewrite).
  */
class BucketStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    plan(df).split("Exchange").length - 1

  private def withNoAutoBroadcast[A](f: => A): A =
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  test("q189 joins with zero exchanges and zero sorts under the join") {
    withNoAutoBroadcast {
      val df = BucketStore.q189BucketedJoin(spark, dir)
      val p = plan(df).split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      // budget: ONE exchange for the post-join aggregation + ONE for
      // the presentation sort; the join inputs contribute none
      assert(exchanges(df) <= 2, s"join inputs shuffled:\n$p")
      // the per-bucket sortBy satisfies the SMJ ordering: the only
      // Sort node allowed is the final presentation orderBy
      val joinPart = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("+- *Sort") && !joinPart.contains("+- Sort"),
        s"SMJ inputs were re-sorted (bucket sort not used):\n$p")
      // and values match the plain parquet join exactly
      val plainRows = {
        val li = Engine.table(spark, dir, "lineitem")
        val ord = Engine.table(spark, dir, "orders")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      }
      val got = df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(got == plainRows && got.nonEmpty)
    }
  }

  test("every bucket holds exactly one file (the sort-elision invariant)") {
    BucketStore.ensureBucketed(spark, dir)
    for ((t, _) <- BucketStore.Tables) {
      val files = Option(new java.io.File(s"${BucketStore.bktRoot(dir)}/$t")
        .listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.endsWith(".parquet"))
      // bucket id is the _NNNNN suffix in the writer's file name
      val buckets = files.flatMap("_(\\d{5})".r.findFirstMatchIn(_))
        .map(_.group(1))
      assert(buckets.nonEmpty, s"no bucket files for $t")
      assert(buckets.distinct.length == buckets.length,
        s"$t has a multi-file bucket — scan forfeits its sort order: ${files.mkString(", ")}")
    }
  }

  test("point lookup prunes to one bucket") {
    BucketStore.ensureBucketed(spark, dir)
    // DisableUnnecessaryBucketedScan turns bucketing off for a bare
    // filter (its heuristic only values interesting distributions /
    // orderings, not bucket pruning) — disable the auto-disable so the
    // pruning the store exists for is observable
    Engine.withConf(spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val li = spark.table(BucketStore.tableName(dir, "lineitem"))
      val k = li.select(min(col("l_orderkey"))).head().getLong(0)
      val p = plan(li.filter(col("l_orderkey") === lit(k)))
      assert(p.contains(s"SelectedBucketsCount: 1 out of ${BucketStore.numBucketsFor(spark, dir)}"),
        s"no bucket pruning in:\n$p")
    }
  }

  test("new session re-registers stored files without a rewrite; join stays co-located") {
    // private corpus so this test owns the artifact lifecycle
    val d = Files.createTempDirectory("graft_bkt_").toString
    for ((t, _) <- BucketStore.Tables)
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$d/$t.parquet"))
    def mtime(root: String): Long = {
      val p = Paths.get(root)
      if (!Files.exists(p)) 0L
      else {
        import scala.jdk.CollectionConverters._
        Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
          .map(Files.getLastModifiedTime(_).toMillis).foldLeft(0L)(math.max)
      }
    }
    val root = BucketStore.bktRoot(d)
    BucketStore.ensureBucketedValidated(spark, d) // session 1: writes
    val built = mtime(root)
    assert(built > 0L)
    Thread.sleep(1100)
    // simulate the JVM dying: catalog forgets, files stay
    for ((t, _) <- BucketStore.Tables)
      spark.sql(s"DROP TABLE IF EXISTS ${BucketStore.tableName(d, t)}")
    BucketStore.ensureBucketedValidated(spark, d) // session 2: re-register
    assert(mtime(root) == built,
      "fresh bucket store was rewritten instead of re-registered")
    withNoAutoBroadcast {
      val li = spark.table(BucketStore.tableName(d, "lineitem"))
      val ord = spark.table(BucketStore.tableName(d, "orders"))
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      assert(exchanges(j) <= 1,
        s"re-registered tables lost their bucket spec:\n${plan(j)}")
    }
    // poison one lineitem row: signature flips, store rewrites
    val li0 = spark.read.parquet(s"$d/lineitem.parquet")
    val schema = li0.schema
    val edited = li0.withColumn("l_returnflag",
      when(col("l_orderkey") === li0.select(min(col("l_orderkey"))).head().get(0),
        lit("POISONFLAG")).otherwise(col("l_returnflag"))).collect()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(s"$d/lineitem.parquet"))
    spark.createDataFrame(
      new java.util.ArrayList(edited.toSeq.asJava), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Thread.sleep(1100)
    BucketStore.ensureBucketedValidated(spark, d) // session 3: rewrites
    assert(mtime(root) > built, "edited table did not trigger a rewrite")
    // every line of the poisoned order carries the flag (lineitem has
    // no unique key — min orderkey can hold several lines)
    assert(spark.table(BucketStore.tableName(d, "lineitem"))
      .filter(col("l_returnflag") === "POISONFLAG").count() >= 1L)
  }
}
