package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBucketFunction, SnapshotStore}

/** q244 — STORAGE-PARTITIONED JOINS over bucket-clustered snapshot
  * commits: two stores bucketed the same way (`appendBucketed`, one
  * file per bucket per commit) join in plain SQL with ZERO shuffle on
  * either side, because each scan reports
  * `KeyGroupedPartitioning(bucket(n, key))` and the catalog's V2
  * `bucket` function proves the transforms compatible. The 100 TB
  * claim under test: the join's exchange cost is a property of the
  * LAYOUT, paid once at write time, not once per query.
  */
class SnapshotSpjSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"

  /** Flatten to ALL nodes, descending through AQE wrappers — after
    * execution the final plan nests inside QueryStageExec LEAVES, so a
    * plain collect would stop at the stage boundary and see no join.
    */
  private def wholePlan(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => wholePlan(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: wholePlan(q.plan)
      case other => Seq(other)
    }.flatten

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def spjConfs(on: Boolean): Unit = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", on.toString)
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      on.toString)
  }

  /** Pin the SHUFFLE-side contrast: the fixture is tiny, so Catalyst
    * would auto-broadcast the join and the plan assertion would test
    * nothing — at 100 TB neither side broadcasts, which is exactly
    * the regime storage-partitioned joins exist for.
    */
  private def noBroadcast[T](body: => T): T = {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val oldA = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      oldA match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("co-bucketed snapshot tables join with ZERO shuffle exchanges") { noBroadcast {
    val (left, right) = SnapshotStore.ensureBucketedPair(spark, dir)
    val lt = SnapshotStore.catalogName(spark, left)
    val rt = SnapshotStore.catalogName(spark, right)
    val sql =
      s"""SELECT l.doc_id AS doc_id, l.n_chars AS n_chars, r.band AS band
         |FROM $lt l JOIN $rt r ON l.doc_id = r.doc_id""".stripMargin

    spjConfs(on = false)
    val baseline = rows(spark.sql(sql))
    assert(baseline.nonEmpty, "the fixture join must produce rows")

    spjConfs(on = true)
    val q = spark.sql(sql)
    assert(rows(q) == baseline,
      "bucketing must be semantically invisible: SPJ rows == shuffled rows")
    val nodes = wholePlan(q.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      s"expected a sort-merge join:\n${q.queryExecution.executedPlan}")
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 0,
      s"a co-bucketed join must not exchange either side, found $shuffles:\n" +
        q.queryExecution.executedPlan)
  } }

  test("pushed bounds compose with key groups: pruned SPJ still exchanges nothing and stays correct") { noBroadcast {
    val (left, right) = SnapshotStore.ensureBucketedPair(spark, dir)
    val lt = SnapshotStore.catalogName(spark, left)
    val rt = SnapshotStore.catalogName(spark, right)
    val sql =
      s"""SELECT l.doc_id AS doc_id, r.band AS band
         |FROM $lt l JOIN $rt r ON l.doc_id = r.doc_id
         |WHERE l.doc_id BETWEEN 100 AND 250 AND r.doc_id BETWEEN 100 AND 250""".stripMargin
    spjConfs(on = false)
    val baseline = rows(spark.sql(sql))
    spjConfs(on = true)
    val q = spark.sql(sql)
    assert(rows(q) == baseline)
    assert(wholePlan(q.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec]) == 0,
      "file pruning must not break the key-grouped alignment")
  } }

  test("an unbucketed side shuffles INTO the bucketed layout — one exchange, not two") { noBroadcast {
    val (left, _) = SnapshotStore.ensureBucketedPair(spark, dir)
    val lt = SnapshotStore.catalogName(spark, left)
    Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .createOrReplaceTempView("spj_probe_docs")
    val sql =
      s"""SELECT l.doc_id AS doc_id, p.source AS source
         |FROM $lt l JOIN spj_probe_docs p ON l.doc_id = p.doc_id""".stripMargin
    spjConfs(on = false)
    val baseline = rows(spark.sql(sql))
    val baseShuffles = wholePlan(spark.sql(sql).queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(baseShuffles == 2, s"without SPJ both sides exchange: $baseShuffles")
    spjConfs(on = true)
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    try {
      val q = spark.sql(sql)
      assert(rows(q) == baseline,
        "the runtime-evaluated bucket function must agree with the layout")
      val shuffles = wholePlan(q.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffles == 1,
        s"only the UNBUCKETED side should exchange (into the bucket " +
          s"layout via GraftBucketFunction.produceResult), found $shuffles:\n" +
          q.queryExecution.executedPlan)
    } finally
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "false")
  } }

  test("the catalog table declares the bucket transform; a mixed store declares none and degrades safely") {
    val (left, _) = SnapshotStore.ensureBucketedPair(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, left)
    assert(SnapshotStore.bucketSpecOf(spark, left, cur)
      .contains((SnapshotStore.BkBuckets, "doc_id")))
    val parts = spark.sessionState.catalogManager.catalog("graft_snap")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], left.substring(left.lastIndexOf('/') + 1)))
      .partitioning()
    assert(parts.length == 1 && parts.head.name() == "bucket",
      s"the table must declare its bucket transform: ${parts.mkString(",")}")

    // a PLAIN append on top of bucketed commits voids the layout claim
    val mixed = s"${System.getProperty("java.io.tmpdir")}/graft_spj_mixed_${System.nanoTime()}"
    val docs = Engine.table(spark, dir, "documents")
    SnapshotStore.appendBucketed(spark, mixed, docs.filter(col("doc_id") < 200))
    SnapshotStore.append(spark, mixed, docs.filter(col("doc_id") >= 200))
    val mk = SnapshotStore.currentSnapshot(spark, mixed)
    assert(SnapshotStore.bucketSpecOf(spark, mixed, mk).isEmpty,
      "one non-bucketed file must void the whole layout claim")
    // and the read is still exactly the table
    assert(rows(SnapshotStore.readSnapshot(spark, mixed, mk).select("doc_id")) ==
      rows(docs.select("doc_id")))
  }

  test("INSERT INTO a bucketed table preserves the layout — the next SPJ is still zero-shuffle") { noBroadcast {
    val base = java.nio.file.Files.createTempDirectory("graft_spjw_").toString
    spark.conf.set("spark.sql.catalog.graft_spjw", "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.graft_spjw.base", base)
    val root = s"$base/btbl"
    val docs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotStore.appendBucketed(spark, root, docs.filter(col("doc_id") < 300))
    docs.filter(col("doc_id") >= 300).createOrReplaceTempView("spjw_src")
    spjConfs(on = true)
    spark.sql(
      "INSERT INTO graft_spjw.btbl SELECT doc_id, lang, n_chars FROM spjw_src")
    val k = SnapshotStore.currentSnapshot(spark, root)
    assert(k == 2L, "the INSERT must land as one commit")
    // the layout CLAIM survives the SQL write...
    assert(SnapshotStore.bucketSpecOf(spark, root, k)
      .contains((SnapshotStore.BkBuckets, "doc_id")),
      "INSERT INTO must record bucket ids, not void the layout")
    // ...and the FILES honor it: every row of every commit-2 file is in
    // the bucket its manifest row declares
    val newFiles = SnapshotStore.manifest(spark, root, k)
      .filter(col("commit_id") === 2L)
      .select("path", "bucket_id").collect()
    assert(newFiles.nonEmpty && newFiles.length <= SnapshotStore.BkBuckets,
      s"bucket-clustered write: one file per present bucket, got ${newFiles.length}")
    newFiles.foreach { r =>
      val bad = spark.read.parquet(r.getString(0))
        .filter(pmod(col("doc_id"), lit(SnapshotStore.BkBuckets.toLong))
          =!= r.getInt(1).toLong).count()
      assert(bad == 0L, s"file ${r.getString(0)} leaks rows outside bucket ${r.getInt(1)}")
    }
    // the table still reads complete, and a self-SPJ exchanges nothing
    assert(rows(spark.sql("SELECT doc_id FROM graft_spjw.btbl")) ==
      rows(docs.select("doc_id")))
    val q = spark.sql(
      """SELECT a.doc_id AS doc_id FROM graft_spjw.btbl a
        |JOIN graft_spjw.btbl b ON a.doc_id = b.doc_id""".stripMargin)
    q.collect()
    assert(wholePlan(q.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec]) == 0,
      s"post-INSERT SPJ must stay aligned:\n${q.queryExecution.executedPlan}")
  } }

  test("appendBucketed: one bucket per file, floorMod placement, null keys ride bucket 0") {
    import spark.implicits._
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_spj_nulls_${System.nanoTime()}"
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (9L, "b"), (-3L, "c"),
      (null, "d"), (16L, "e")).toDF("doc_id", "payload")
    SnapshotStore.appendBucketed(spark, root, df, nBuckets = 8)
    val k = SnapshotStore.currentSnapshot(spark, root)
    // every row survives the round-trip, including the null key
    assert(rows(SnapshotStore.readSnapshot(spark, root, k).select("payload")) ==
      Seq("[a]", "[b]", "[c]", "[d]", "[e]"))
    // manifest bucket ids match floorMod(key, 8), nulls in bucket 0
    val m = SnapshotStore.manifest(spark, root, k)
      .select("bucket_id", "min_id", "max_id", "n_rows").collect()
    assert(m.forall(r => !r.isNullAt(0)))
    val byBucket = m.map(r => r.getInt(0) -> r.getAs[Long]("n_rows")).toMap
    // keys 1,9 → bucket 1 (two rows); -3 → 5; null → 0; 16 → 0
    assert(byBucket(1) == 2L && byBucket(5) == 1L && byBucket(0) == 2L,
      s"unexpected bucket layout: ${byBucket.toSeq.sorted}")
  }

  test("maintenance preserves the bucket layout: foldDeletes, binPack, and compact all re-bucket") {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_spj_maint_${System.nanoTime()}"
    val docs = Engine.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SnapshotStore.appendBucketed(spark, root,
      docs.filter(pmod(col("doc_id"), lit(2)) === 0))
    SnapshotStore.appendBucketed(spark, root,
      docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    // a MOR delete file never voids the claim (kind != data)...
    SnapshotStore.deleteKeys(spark, root,
      docs.filter(pmod(col("doc_id"), lit(15)) === 0).select("doc_id"))
    assert(SnapshotStore.bucketSpecOf(spark, root, 3L)
      .contains((SnapshotStore.BkBuckets, "doc_id")))
    val want = rows(docs.filter(pmod(col("doc_id"), lit(15)) =!= 0)
      .select("doc_id"))
    def checkLayout(k: Long, label: String): Unit = {
      assert(SnapshotStore.bucketSpecOf(spark, root, k)
        .contains((SnapshotStore.BkBuckets, "doc_id")),
        s"$label must re-record the bucket layout, not void it")
      assert(rows(SnapshotStore.readSnapshot(spark, root, k)
        .select("doc_id")) == want, s"$label must preserve the rows")
    }
    // ...and folding it rewrites the affected files ALONG the buckets
    checkLayout(SnapshotStore.foldDeletes(spark, root), "foldDeletes")
    // a small bucketed commit, then binPack repacks the tail per bucket
    SnapshotStore.appendBucketed(spark, root,
      docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .filter(pmod(col("doc_id"), lit(15)) =!= 0))
    val wantPlus = rows(docs.filter(pmod(col("doc_id"), lit(15)) =!= 0)
      .select("doc_id").unionAll(
        docs.filter(pmod(col("doc_id"), lit(97)) === 0)
          .filter(pmod(col("doc_id"), lit(15)) =!= 0).select("doc_id")))
    val kPack = SnapshotStore.binPack(spark, root, minRows = 50L,
      targetRows = 1000L)
    assert(SnapshotStore.bucketSpecOf(spark, root, kPack)
      .contains((SnapshotStore.BkBuckets, "doc_id")),
      "binPack must repack the small tail along the buckets")
    assert(rows(SnapshotStore.readSnapshot(spark, root, kPack)
      .select("doc_id")) == wantPlus)
    // full compaction delegates to the bucket-preserving path
    val kC = SnapshotStore.compact(spark, root)
    assert(SnapshotStore.bucketSpecOf(spark, root, kC)
      .contains((SnapshotStore.BkBuckets, "doc_id")),
      "compact on a bucketed store must delegate to compactBucketed")
    assert(rows(SnapshotStore.readSnapshot(spark, root, kC)
      .select("doc_id")) == wantPlus)
    assert(SnapshotStore.manifest(spark, root, kC).count() <=
      SnapshotStore.BkBuckets, "compaction lands one file per bucket")
  }

  test("the V2 bucket function is the writer's arithmetic exactly") {
    import org.apache.spark.sql.types._
    val bound = GraftBucketFunction.bind(StructType(Seq(
      StructField("n", IntegerType), StructField("key", LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    def at(n: Int, v: java.lang.Long): Int = {
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n, if (v == null) null else v.longValue()))
      bound.produceResult(row).intValue()
    }
    assert(at(8, 17L) == 1 && at(8, -3L) == 5 && at(8, null) == 0)
    assert(bound.canonicalName() == "graft.bucket(int,bigint)")
    // the unbound function refuses a shape it can't honor
    intercept[IllegalArgumentException] {
      GraftBucketFunction.bind(StructType(Seq(
        StructField("n", IntegerType), StructField("key", StringType))))
    }
  }
}
