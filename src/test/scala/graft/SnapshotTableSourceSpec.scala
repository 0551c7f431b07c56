package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{SnapshotStore, SnapshotTableSource}

/** q230/q231 — the DSv2 connector over the snapshot store: plan-time
  * manifest-stats file pruning for PLAIN SQL predicates, pushed-filter
  * consumption, column pruning, time travel options, and composition
  * with MOR deletes and field-id renames.
  */
class SnapshotTableSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")
  private val dir = "/root/testdata/sf0.001"
  private def docs = Engine.table(spark, dir, "documents")
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def load(root: String, opts: (String, String)*) = {
    val r = spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root)
    opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  test("plain SQL range predicate: files pruned from manifest stats, filter consumed, hash == readRange") {
    val root = SnapshotStore.ensure(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    load(root).createOrReplaceTempView("snap_sql_spec")
    val q = spark.sql(
      """SELECT lang, count(*) AS n, sum(n_chars) AS sc FROM snap_sql_spec
        |WHERE doc_id BETWEEN 100 AND 250 GROUP BY lang ORDER BY lang""".stripMargin)
    val expect = rows(SnapshotStore.readRange(spark, root, cur, 100L, 250L)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
      .orderBy(col("lang")))
    assert(rows(q) == expect, "the SQL read must hash-equal the library-routed readRange")
    // FILE PRUNING: the scan planned strictly fewer files than the manifest names
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    val total = SnapshotStore.manifest(spark, root, cur).count()
    assert(planned > 0 && planned < total,
      s"the SQL predicate must prune the file list: planned $planned of $total")
    assert(planned == SnapshotStore.prunedPaths(spark, root, cur, 100L, 250L).size,
      "DSv2 pruning must agree with the library's prunedPaths")
    // PUSHED FILTERS leave the plan: the consumed range bounds appear in
    // no FilterExec (only the unpushable isnotnull survives)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains(">= 100") && !plan.contains("<= 250"),
      s"the pushed range must be consumed by the scan, not re-filtered:\n$plan")
    assert(plan.contains("GraftSnapshotScan") || plan.contains("graft_snapshot"),
      "the scan node must be ours")
  }

  test("column pruning reaches the reader; time travel options resolve snapshots") {
    val root = SnapshotStore.ensure(spark, dir)
    // snapshot 1 via the option == the library's time travel
    assert(rows(load(root, "snapshot" -> "1")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // asOfTs resolution
    val t1 = SnapshotStore.commitTimeOf(spark, root, 1L)
    assert(rows(load(root, "asOfTs" -> t1.toString)) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // projection: a 1-column select reads and returns just that column
    val langs = load(root).select("lang")
    assert(langs.schema.fieldNames.toSeq == Seq("lang"))
    assert(rows(langs) == rows(docs.select("lang")))
    // pruned read with a filter on a column NOT in the projection
    assert(load(root).filter(col("doc_id") <= 50L).select("lang").count() ==
      docs.filter(col("doc_id") <= 50L).count())
  }

  test("the connector composes with MOR deletes and field-id renames") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dsv2_")
      .toString + "/tbl"
    SnapshotStore.append(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("doc_id", "tag", "n_chars"))
    SnapshotStore.renameColumn(spark, root, "n_chars", "size") // commit 2
    SnapshotStore.append(spark, root,
      Seq((4L, "d", 40L)).toDF("doc_id", "tag", "size")) // commit 3
    SnapshotStore.deleteKeys(spark, root, Seq(2L).toDF("doc_id")) // commit 4
    val got = load(root)
    assert(got.schema.fieldNames.toSeq == Seq("doc_id", "tag", "size"))
    assert(rows(got) == rows(SnapshotStore.readSnapshot(spark, root, 4L)),
      "SQL read must equal the library read across rename + MOR delete")
    assert(got.count() == 3L &&
      got.filter(col("doc_id") === 1L).head().getAs[Long]("size") == 10L)
    // sequence rule through the connector: re-insert key 2 (commit 5)
    SnapshotStore.append(spark, root,
      Seq((2L, "B", 21L)).toDF("doc_id", "tag", "size"))
    assert(load(root).filter(col("doc_id") === 2L)
      .head().getAs[String]("tag") == "B")
  }

  test("q232: global count/min/max answered from manifest metadata — zero data files planned") {
    val root = SnapshotStore.ensure(spark, dir)
    load(root).createOrReplaceTempView("snap_agg_spec")
    val got = spark.sql(
      """SELECT count(*) AS n, min(doc_id) AS lo, max(doc_id) AS hi
        |FROM snap_agg_spec""".stripMargin).head()
    val exp = docs.agg(count(lit(1)), min(col("doc_id")), max(col("doc_id"))).head()
    assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1) &&
      got.getLong(2) == exp.getLong(2), s"metadata aggregates must be exact: $got vs $exp")
    assert(SnapshotTableSource.lastAggPushed.get(root),
      "the aggregation must be answered from the manifest")
    assert(SnapshotTableSource.lastPlannedFiles.get(root) == 0,
      "a metadata-only aggregation must plan zero data files")
  }

  test("aggregate pushdown declines exactly when stats cannot answer: filter, group-by, deletes, null keys") {
    import spark.implicits._
    val root = SnapshotStore.ensure(spark, dir)
    load(root).createOrReplaceTempView("snap_agg_decline")
    // a residual predicate: stats bound files, not rows → fall back, stay correct
    val filtered = spark.sql(
      "SELECT count(*) AS n FROM snap_agg_decline WHERE doc_id BETWEEN 100 AND 250")
    assert(filtered.head().getLong(0) ==
      docs.filter(col("doc_id").between(100L, 250L)).count())
    assert(!SnapshotTableSource.lastAggPushed.get(root),
      "a pushed filter must decline the metadata path")
    // GROUP BY: no per-group stats → fall back, stay correct
    val grouped = spark.sql(
      "SELECT lang, count(*) AS n FROM snap_agg_decline GROUP BY lang")
    assert(rows(grouped) == rows(docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))))
    assert(!SnapshotTableSource.lastAggPushed.get(root))
    // a live MOR delete file: n_rows over-counts → fall back, stay correct
    val droot = java.nio.file.Files.createTempDirectory("graft_dsv2_agg_")
      .toString + "/tbl"
    SnapshotStore.append(spark, droot,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "tag"))
    SnapshotStore.deleteKeys(spark, droot, Seq(2L).toDF("doc_id"))
    load(droot).createOrReplaceTempView("snap_agg_mor")
    assert(spark.sql("SELECT count(*) AS n FROM snap_agg_mor").head().getLong(0) == 2L)
    assert(!SnapshotTableSource.lastAggPushed.get(droot),
      "live delete files must decline the metadata path")
    // an all-null-key file (open-interval sentinel stats): count stays
    // metadata-exact, min/max declines
    val nroot = java.nio.file.Files.createTempDirectory("graft_dsv2_null_")
      .toString + "/tbl"
    SnapshotStore.append(spark, nroot,
      Seq((Some(1L), "a"), (Some(5L), "b")).toDF("doc_id", "tag"))
    SnapshotStore.append(spark, nroot,
      Seq((None: Option[Long], "n")).toDF("doc_id", "tag"))
    load(nroot).createOrReplaceTempView("snap_agg_null")
    assert(spark.sql("SELECT count(*) AS n FROM snap_agg_null").head().getLong(0) == 3L)
    assert(SnapshotTableSource.lastAggPushed.get(nroot),
      "COUNT(*) stays metadata-exact under null keys")
    val mm = spark.sql("SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM snap_agg_null").head()
    assert(mm.getLong(0) == 1L && mm.getLong(1) == 5L)
    assert(!SnapshotTableSource.lastAggPushed.get(nroot),
      "sentinel stats must decline min/max")
  }

  test("runtime filtering: a selective broadcast-dim join re-prunes the fact file list at execution") {
    val root = SnapshotStore.ensure(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    val total = SnapshotStore.manifest(spark, root, cur).count()
    val fact = load(root)
    // a selective dim side: a narrow doc_id slice with its own filter
    // (the shape Spark's dynamic pruning rule looks for)
    val dim = docs.filter(col("doc_id").between(100L, 130L))
      .select(col("doc_id").as("d_id"))
    val joined = fact.join(broadcast(dim), col("doc_id") === col("d_id"))
    val got = joined.count()
    val expect = docs.filter(col("doc_id").between(100L, 130L)).count()
    assert(got == expect, "the runtime-filtered join must not lose rows")
    // the decisive witness: the scan RE-planned fewer files after the
    // dim side's keys arrived (no static predicate on the fact side
    // exists to explain the pruning)
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    assert(planned < total,
      s"runtime join keys must re-prune the file list: planned $planned of $total")
  }

  test("q236: the DSv2 write path — executor files + CAS commit, stats prune, deletes and evolution compose") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dsv2_w_")
      .toString + "/tbl"
    SnapshotStore.append(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "tag", "n_chars"))
    // a MULTI-PARTITION DSv2 append: several executor files, one commit
    val batch = (3L to 40L).map(i => (i, s"t$i", i * 10L))
      .toDF("doc_id", "tag", "n_chars").repartition(4)
    batch.write.format("graft.sources.SnapshotTableSource")
      .option("root", root).mode("append").save()
    assert(SnapshotStore.currentSnapshot(spark, root) == 2L,
      "one DSv2 write = one commit")
    val m2 = SnapshotStore.manifest(spark, root, 2L)
    assert(m2.filter(col("commit_id") === 2L).count() >= 2L,
      "a multi-partition write must land several files")
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)
      .select("doc_id", "tag", "n_chars")) ==
      rows(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "tag", "n_chars")
        .unionByName(batch)),
      "the DSv2-written table must hold exactly the library + written rows")
    // the written files carry REAL stats: a range read prunes them
    val hit = SnapshotStore.readRange(spark, root, 2L, 1L, 2L)
    assert(hit.count() == 2L)
    assert(SnapshotStore.prunedPaths(spark, root, 2L, 1L, 2L).size <
      m2.count(), "executor-written stats must participate in pruning")
    // the write composes with the rest of the format: MOR delete + read
    SnapshotStore.deleteKeys(spark, root, Seq(3L).toDF("doc_id"))
    assert(spark.read.format("graft.sources.SnapshotTableSource")
      .option("root", root).load().count() == 39L)
    // null doc_ids ride the open-interval sentinel, rows intact
    Seq((None: Option[Long], "n", 1L)).toDF("doc_id", "tag", "n_chars")
      .write.format("graft.sources.SnapshotTableSource")
      .option("root", root).mode("append").save()
    assert(SnapshotStore.readSnapshot(spark, root,
      SnapshotStore.currentSnapshot(spark, root))
      .filter(col("doc_id").isNull).count() == 1L)
    // a write OMITTING the nullable key column: Spark's by-name append
    // pads it with NULLs, which land under the open-interval sentinel —
    // the same semantics the library write gives explicit nulls
    val before = SnapshotStore.currentSnapshot(spark, root)
    Seq(("x", 1L)).toDF("tag", "n_chars")
      .write.format("graft.sources.SnapshotTableSource")
      .option("root", root).mode("append").save()
    val cur = SnapshotStore.currentSnapshot(spark, root)
    assert(cur == before + 1)
    assert(SnapshotStore.readSnapshot(spark, root, cur)
      .filter(col("doc_id").isNull && col("tag") === "x").count() == 1L)
  }

  test("q233: categorical equality prunes the clustered store's file list from string bounds") {
    val root = SnapshotStore.ensureClustered(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    load(root).createOrReplaceTempView("snap_cat_spec")
    val q = spark.sql(
      """SELECT source, count(*) AS n, sum(n_chars) AS sc FROM snap_cat_spec
        |WHERE lang = 'de' GROUP BY source ORDER BY source""".stripMargin)
    val expect = rows(docs.filter(col("lang") === "de").groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
      .orderBy(col("source")))
    assert(rows(q) == expect, "the categorical SQL read must match the raw table")
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    val total = SnapshotStore.manifest(spark, root, cur).count()
    assert(planned > 0 && planned < total,
      s"string bounds must prune the file list: planned $planned of $total")
    // the library-routed read agrees with the filtered snapshot
    assert(rows(SnapshotStore.readCat(spark, root, cur, "de")) ==
      rows(SnapshotStore.readSnapshot(spark, root, cur)
        .filter(col("lang") === "de")))
    // IN-list pruning: bounds widen to the value span, stay sound
    val inq = spark.sql(
      "SELECT count(*) AS n FROM snap_cat_spec WHERE lang IN ('de', 'en')")
    assert(inq.head().getLong(0) ==
      docs.filter(col("lang").isin("de", "en")).count())
    assert(SnapshotTableSource.lastPlannedFiles.get(root) <= total)
    // the PLAIN (doc_id-clustered) store cannot prune this predicate:
    // every file stays planned
    val proot = SnapshotStore.ensure(spark, dir)
    val pcur = SnapshotStore.currentSnapshot(spark, proot)
    load(proot).createOrReplaceTempView("snap_cat_plain")
    spark.sql("SELECT count(*) AS n FROM snap_cat_plain WHERE lang = 'de'").collect()
    assert(SnapshotTableSource.lastPlannedFiles.get(proot) ==
      SnapshotStore.manifest(spark, proot, pcur).count(),
      "the 1-D store has no string bounds to prune on")
  }

  test("category bounds compare in Spark's UTF-8 order, not Java's UTF-16 order") {
    // U+FF21 sorts BELOW U+1F600 in UTF-8 bytes (Spark's min/max) but
    // ABOVE its surrogate pair in UTF-16 units; both land in the last
    // range-laid file, whose bounds then straddle the two orders
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_catutf8_").toString
    val cats = Seq.fill(100)("a") ++ Seq("\uFF21", "\uD83D\uDE00")
    SnapshotStore.appendClustered(spark, root,
      cats.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("doc_id", "cat"), "cat")
    val cur = SnapshotStore.currentSnapshot(spark, root)
    for (v <- Seq("\uFF21", "\uD83D\uDE00")) {
      assert(SnapshotStore.readCat(spark, root, cur, v).count() == 1L,
        s"readCat pruned the file holding $v")
      assert(load(root).filter(col("cat") === v).count() == 1L,
        s"the connector pruned the file holding $v")
      assert(load(root).filter(col("cat").isin("\uFF21", "\uD83D\uDE00")).count() == 2L)
    }
  }

  test("reported statistics: manifest-derived rows/bytes shrink under a pushed range; q240's join auto-broadcasts OUR side") {
    val root = SnapshotStore.ensure(spark, dir)
    def relStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.computeStats()
      }.getOrElse(fail("no DSv2 relation in the plan"))
    val fullStats = relStats(load(root))
    // exact row count from the manifest; finite, plausible bytes — a
    // stat-less DSv2 relation would read as defaultSizeInBytes (≈ ∞)
    assert(fullStats.rowCount.exists(_.toLong == docs.count()),
      s"full-scan rowCount must equal the table: $fullStats")
    assert(fullStats.sizeInBytes > 0 &&
      fullStats.sizeInBytes < BigInt(Long.MaxValue) / 4)
    val prunedStats = relStats(load(root).filter(col("doc_id").between(100, 250)))
    assert(prunedStats.sizeInBytes < fullStats.sizeInBytes,
      "a pushed range must shrink the byte estimate (fewer planned files)")
    assert(prunedStats.rowCount.exists(_.toLong < docs.count()),
      "a pushed range must shrink the row estimate")
    // column pruning shrinks bytes too (projection fraction)
    val narrowStats = relStats(load(root).select("doc_id"))
    assert(narrowStats.sizeInBytes < fullStats.sizeInBytes,
      "a narrow projection must shrink the byte estimate")
    // ... and the planner USES them: q240's SQL join broadcasts the
    // pruned snapshot side with NO hint (AQE-final plan inspected)
    val q = SnapshotStore.queries("q240_snapshot_sql_join")(spark, dir)
    q.collect()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        out += qs; walk(qs.plan)
      case other => out += other; other.children.foreach(walk)
    }
    walk(q.queryExecution.executedPlan)
    val bhj = out.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, s"q240 must plan a broadcast join:\n${q.queryExecution.executedPlan}")
    // the BUILD (broadcast) side subtree holds OUR scan — walk the side
    // the join's buildSide names
    val buildHoldsOurScan = bhj.exists { b =>
      val side = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      }
      val sub = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.execution.SparkPlan]
      def w(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          sub += qs; w(qs.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          sub += r; w(r.child)
        case other => sub += other; other.children.foreach(w)
      }
      w(side)
      sub.exists(_.toString.contains("GraftSnapshotScan"))
    }
    assert(buildHoldsOurScan,
      s"the BROADCAST side must be the snapshot scan:\n${q.queryExecution.executedPlan}")
  }

  test("catalog: VERSION AS OF (id and tag), TIMESTAMP AS OF, INSERT INTO, pushdown — all plain SQL") {
    import java.nio.file.{Files, Paths}
    val d = {
      val t = Files.createTempDirectory("graft_cat_").toString
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        Paths.get(s"$t/documents.parquet"))
      t
    }
    val root = SnapshotStore.ensure(spark, d)
    val tbl = SnapshotStore.catalogName(spark, root)
    // current read through the catalog == the library read
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 2L)))
    // VERSION AS OF a snapshot id
    assert(rows(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // VERSION AS OF a TAG name
    SnapshotStore.tag(spark, root, "initial", 1L)
    assert(rows(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'initial'")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 1L)))
    // TIMESTAMP AS OF: a wall-clock instant between commits 1 and 2
    // cannot be manufactured after the fact, so use "now" (≥ commit 2)
    assert(rows(spark.sql(
      s"SELECT * FROM $tbl TIMESTAMP AS OF current_timestamp()")) ==
      rows(SnapshotStore.readSnapshot(spark, root, 2L)))
    // pushdown rides along: the catalog read prunes files
    spark.sql(s"SELECT count(*) FROM $tbl WHERE doc_id BETWEEN 100 AND 250")
      .collect()
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    assert(planned > 0 &&
      planned < SnapshotStore.manifest(spark, root, 2L).count(),
      s"catalog reads must keep manifest pruning (planned $planned)")
    // INSERT INTO commits through the CAS as snapshot 3
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT doc_id + 9000000, text, lang, source, n_chars
         |FROM $tbl VERSION AS OF 1 LIMIT 3""".stripMargin)
    assert(SnapshotStore.currentSnapshot(spark, root) == 3L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) ==
      docs.count() + 3)
    // INSERT OVERWRITE: truncate + append as ONE atomic snapshot
    spark.sql(
      s"""INSERT OVERWRITE $tbl
         |SELECT * FROM $tbl VERSION AS OF 1 WHERE doc_id < 50""".stripMargin)
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L,
      "the overwrite must land as exactly one commit")
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) ==
      rows(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0 &&
        col("doc_id") < 50)),
      "OVERWRITE replaces the whole table with the query result")
    // pre-overwrite history still addressable
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl VERSION AS OF 3")
      .head().getLong(0) == docs.count() + 3)
    // DDL is refused — lifecycle belongs to the commit protocol
    assertThrows[UnsupportedOperationException](
      spark.sql(s"DROP TABLE $tbl"))
  }

  test("branch option: a staged WAP head reads through the connector; main stays invisible") {
    import java.nio.file.{Files, Paths}
    val d = {
      val t = Files.createTempDirectory("graft_cat_br_").toString
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        Paths.get(s"$t/documents.parquet"))
      t
    }
    val root = SnapshotStore.ensure(spark, d)
    SnapshotStore.createBranch(spark, root, "audit", 2L)
    val extra = docs.limit(4).withColumn("doc_id", col("doc_id") + 7000000L)
    SnapshotStore.appendBranch(spark, root, "audit", extra)
    // the connector's branch read == the library's
    assert(rows(load(root, "branch" -> "audit")) ==
      rows(SnapshotStore.readBranch(spark, root, "audit")))
    // a plain (main) read through the connector sees none of it
    assert(rows(load(root)) == rows(SnapshotStore.readSnapshot(spark, root, 2L)))
    // pushed bounds still prune the branch read's file list
    load(root, "branch" -> "audit").createOrReplaceTempView("snap_branch_spec")
    val n = spark.sql(
      "SELECT count(*) AS n FROM snap_branch_spec WHERE doc_id >= 7000000")
      .head().getLong(0)
    assert(n == 4L)
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    val total = SnapshotStore.branchList(spark, root, "audit").size
    assert(planned > 0, "branch read must plan through the manifest list")
    SnapshotStore.dropBranch(spark, root, "audit")
  }

  test("SQL DELETE: ranged predicates route to the COW delete, bare DELETE to the metadata truncate, others refused") {
    import java.nio.file.{Files, Paths}
    val d = {
      val t = Files.createTempDirectory("graft_del_").toString
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        Paths.get(s"$t/documents.parquet"))
      t
    }
    val root = SnapshotStore.ensure(spark, d)
    val tbl = SnapshotStore.catalogName(spark, root)
    spark.sql(s"DELETE FROM $tbl WHERE doc_id BETWEEN 100 AND 250")
    assert(SnapshotStore.currentSnapshot(spark, root) == 3L,
      "the ranged DELETE must land as one commit")
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) ==
      rows(docs.filter(col("doc_id").isNull ||
        !col("doc_id").between(100, 250))),
      "SQL DELETE semantics: range rows gone, null-key rows kept")
    // a non-ranged predicate falls through to the ROW-LEVEL (COW) path:
    // affected files rewrite, the rest carry
    spark.sql(s"DELETE FROM $tbl WHERE lang = 'de'")
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L,
      "the predicate DELETE must land as one row-level commit")
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) ==
      rows(docs.filter(col("doc_id").isNull ||
          !col("doc_id").between(100, 250))
        .filter(col("lang").isNull || col("lang") =!= "de")),
      "the row-level DELETE must drop exactly the matching rows")
    // bare DELETE = truncate: pure metadata, empty snapshot, schema kept
    spark.sql(s"DELETE FROM $tbl")
    assert(SnapshotStore.currentSnapshot(spark, root) == 5L)
    val empty = spark.sql(s"SELECT * FROM $tbl")
    assert(empty.count() == 0L &&
      empty.schema.fieldNames.sameElements(docs.schema.fieldNames))
    // history stays addressable
    assert(rows(spark.sql(s"SELECT * FROM $tbl VERSION AS OF 2")) == rows(docs))
  }

  test("metadata tables: <store>.snapshots/.files/.refs readable as plain SQL") {
    val root = SnapshotStore.ensure(spark, dir)
    val tbl = SnapshotStore.catalogName(spark, root)
    val name = tbl.stripPrefix("graft_snap.")
    val snaps = spark.sql(
      s"SELECT * FROM graft_snap.$name.snapshots ORDER BY snapshot_id")
    val got = snaps.collect()
    assert(got.length == 2 && got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.forall(_.getAs[Long]("n_rows") > 0L))
    // files: matches the library's manifest row count
    val nFiles = spark.sql(s"SELECT count(*) AS n FROM graft_snap.$name.files")
      .head().getLong(0)
    assert(nFiles == SnapshotStore.manifest(spark, root, 2L).count())
    // refs reflect live tags
    SnapshotStore.tag(spark, root, "meta-spec", 1L)
    val refs = spark.sql(
      s"SELECT * FROM graft_snap.$name.refs WHERE name = 'meta-spec'").collect()
    assert(refs.length == 1 && refs(0).getAs[Long]("snapshot_id") == 1L)
    SnapshotStore.dropTag(spark, root, "meta-spec")
  }

  test("SQL UPDATE and MERGE INTO: group-based COW — pruned files rewrite, the rest carry, rows exact") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val d = {
      val t = Files.createTempDirectory("graft_upd_").toString
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        Paths.get(s"$t/documents.parquet"))
      t
    }
    val root = SnapshotStore.ensure(spark, d)
    val tbl = SnapshotStore.catalogName(spark, root)
    val mBefore = SnapshotStore.metaFiles(spark, root, 2L)
      .select("path").collect().map(_.getString(0)).toSet
    // UPDATE with a ranged predicate: manifest stats prune the rewrite
    spark.sql(
      s"UPDATE $tbl SET n_chars = n_chars + 10000 WHERE doc_id BETWEEN 100 AND 250")
    assert(SnapshotStore.currentSnapshot(spark, root) == 3L,
      "the UPDATE must land as one commit")
    val expect = docs.withColumn("n_chars",
      when(col("doc_id").between(100, 250), col("n_chars") + 10000)
        .otherwise(col("n_chars")))
    assert(rows(spark.sql(s"SELECT * FROM $tbl")) == rows(expect),
      "UPDATE semantics: matching rows updated, every other row carried")
    // file-level witness: some pre-update files carried by reference
    val mAfter = SnapshotStore.metaFiles(spark, root, 3L)
      .select("path").collect().map(_.getString(0)).toSet
    assert((mBefore & mAfter).nonEmpty,
      "the ranged UPDATE must carry unaffected files verbatim")
    assert((mAfter -- mBefore).nonEmpty, "and write replacement files")
    // MERGE INTO: updates + inserts in one statement
    (101L to 103L).map(i => (i + 8000000L, s"new$i"))
      .toDF("doc_id", "text").createOrReplaceTempView("merge_src_spec")
    spark.sql(
      s"""MERGE INTO $tbl t USING
         |  (SELECT doc_id, text FROM merge_src_spec) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET t.text = s.text
         |WHEN NOT MATCHED THEN INSERT (doc_id, text) VALUES (s.doc_id, s.text)""".stripMargin)
    assert(SnapshotStore.currentSnapshot(spark, root) == 4L)
    assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").head().getLong(0) ==
      docs.count() + 3, "MERGE must insert the three unmatched keys")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $tbl WHERE text LIKE 'new%'")
      .head().getLong(0) == 3L)
  }

  test("row-level concurrency: a commit landing between scan and write fails the statement loudly") {
    import java.nio.file.{Files, Paths}
    val d = {
      val t = Files.createTempDirectory("graft_rlc_").toString
      Files.copy(Paths.get(s"$dir/documents.parquet"),
        Paths.get(s"$t/documents.parquet"))
      t
    }
    val root = SnapshotStore.ensure(spark, d)
    val before = rows(SnapshotStore.readSnapshot(spark, root, 2L))
    // simulate the race through the commit primitive itself: the
    // operation scanned snapshot 2, but snapshot 3 lands first
    SnapshotStore.append(spark, root, docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 4000000L))
    val ex = intercept[IllegalStateException] {
      SnapshotStore.commitReplaceFiles(spark, root, 2L,
        Seq.empty, Seq.empty, docs.schema)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(SnapshotStore.currentSnapshot(spark, root) == 3L,
      "the stale replace must not commit")
    assert(rows(SnapshotStore.readSnapshot(spark, root, 2L)) == before)
  }

  test("metadata columns: _file and _pos expose physical row provenance through plain SQL") {
    val root = SnapshotStore.ensure(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    // metadata columns resolve on the RELATION (a temp view exposes
    // only the data schema) — the catalog table is the SQL route
    val tbl = SnapshotStore.catalogName(spark, root)
    val got = spark.sql(
      s"SELECT _file, _pos, doc_id FROM $tbl").collect()
    assert(got.nonEmpty)
    // _file values are exactly the manifest's data files
    val files = got.map(_.getString(0)).toSet
    val mPaths = SnapshotStore.metaFiles(spark, root, cur)
      .filter(col("kind") === "data")
      .select("path").collect().map(_.getString(0)).toSet
    assert(files == mPaths, "_file must name exactly the manifest's data files")
    // (_file, _pos) is a unique physical identity; ordinals are
    // 0-based and consecutive per file
    assert(got.map(r => (r.getString(0), r.getLong(1))).distinct.length ==
      got.length)
    got.groupBy(_.getString(0)).values.foreach { g =>
      val ps = g.map(_.getLong(1)).sorted
      assert(ps.head == 0L && ps.last == ps.length - 1L,
        "per-file ordinals must be 0-based and gap-free")
    }
    // _pos agrees with the parquet reader's row_index — the SAME
    // identity position deletes record, so a SQL-selected (_file,_pos)
    // is a valid delete target
    val one = files.head
    val viaSql = got.filter(_.getString(0) == one)
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val viaMeta = spark.read.parquet(one)
      .select(col("_metadata.row_index"), col("doc_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).sorted.toSeq
    assert(viaSql == viaMeta, "_pos must equal the parquet row index")
    // virtual columns cost nothing unless referenced: a plain SELECT
    // does not contain them
    assert(!spark.sql(s"SELECT * FROM $tbl").columns.contains("_file"))
  }

  test("DSv2 write distribution: a shuffled input lands as range-clustered files with disjoint id intervals") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_dist_").toString
    val root = s"$d/store"
    // seed schema, then DSv2-write a deliberately scrambled frame
    SnapshotStore.append(spark, root, Seq((0L, "seed")).toDF("doc_id", "text"))
    val scrambled = (1L to 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .repartition(8, col("text")) // hash-partitioned: every partition spans the key space
    scrambled.write.format("graft.sources.SnapshotTableSource")
      .option("root", root).mode("append").save()
    val m = SnapshotStore.metaFiles(spark, root, 2L)
      .filter(col("commit_id") === 2L)
      .select("min_id", "max_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(m.length > 1, "the write must produce multiple files")
    m.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2,
          s"written files must cover DISJOINT id ranges: ${m.mkString(", ")}")
      case _ => ()
    }
    // rows intact through the required distribution + ordering
    assert(SnapshotStore.readSnapshot(spark, root, 2L).count() == 401L)
  }

  test("LIMIT pushdown plans a file prefix; any delete file disables the shortcut") {
    val root = SnapshotStore.ensure(spark, dir)
    val cur = SnapshotStore.currentSnapshot(spark, root)
    val total = SnapshotStore.manifest(spark, root, cur).count()
    load(root).createOrReplaceTempView("snap_limit_spec")
    assert(spark.sql("SELECT * FROM snap_limit_spec LIMIT 3")
      .collect().length == 3, "the retained limit must still trim rows")
    val planned = SnapshotTableSource.lastPlannedFiles.get(root)
    assert(planned >= 1 && planned < total,
      s"LIMIT 3 must plan a strict file prefix: $planned of $total")

    // merge-on-read deletes drop rows AFTER the manifest counts, so a
    // prefix could under-deliver — the shortcut must stand down
    import spark.implicits._
    val mor = s"${System.getProperty("java.io.tmpdir")}/graft_limit_${System.nanoTime()}"
    SnapshotStore.append(spark, mor,
      (1L to 40L).map(i => (i, s"p$i")).toDF("doc_id", "payload"))
    SnapshotStore.deleteKeys(spark, mor, Seq(1L).toDF("doc_id"))
    load(mor).createOrReplaceTempView("snap_limit_mor")
    assert(spark.sql("SELECT * FROM snap_limit_mor LIMIT 3")
      .collect().length == 3)
    val dataFiles = graft.sources.SnapshotStore
      .manifest(spark, mor, SnapshotStore.currentSnapshot(spark, mor))
      .filter(col("kind").isNull || col("kind") === "data").count()
    assert(SnapshotTableSource.lastPlannedFiles.get(mor) == dataFiles,
      "live delete files must disable the prefix shortcut")
  }
}
