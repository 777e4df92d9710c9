package graft

import graft.operators.MergeClause
import graft.sources.Warehouse
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Job-count guard for every DML shape the warehouse runs: flat and
  * partitioned upsert (with a cross-partition move), the zero-change
  * re-run, full-clause MERGE with a DELETE clause and with a BY SOURCE
  * clause, both merge-on-read MERGE entry points, flat and partitioned
  * DELETE (and a zero-match DELETE) and UPDATE, merge-on-read DELETE and
  * UPDATE, REORG on both layouts, and incremental Z-order; and every
  * whole-table replace and compaction: flat and partitioned CTAS,
  * APPEND, flat and partitioned COMPACT, partition-scoped compaction
  * (with a zero-match predicate), auto-compaction on both layouts,
  * Z-order, RENAME and DROP COLUMN, RESTORE, and CLONE with and without
  * live tombstones. Each shape pins three things: the Spark jobs its
  * call starts may not exceed `maxJobs` (the count before the MERGE
  * bodies, the DELETE/UPDATE/REORG/Z-order rewrites and the
  * whole-table replaces were unified), and its ledger row and
  * change-feed rows equal the values recorded then.
  */
class MergeJobsSpec extends SparkSpec {

  private def freshWh() =
    new Warehouse(spark, Files.createTempDirectory("graft_mergejobs").toString)

  /** Runs `body` under a fresh job group and returns its result with
    * the number of Spark jobs started in that group (jobs of other
    * threads never count).
    */
  private def countJobs[A](body: => A): (A, Int) = {
    val sc    = spark.sparkContext
    val group = s"mergejobs-${java.util.UUID.randomUUID()}"
    val n     = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "merge job count", interruptOnCancel = false)
    try {
      val r = body
      org.apache.spark.ListenerBusFlush(sc)
      (r, n.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** Two-file flat table: keys 1-20 in one file, 21-40 in another. */
  private def flatBase(wh: Warehouse): Unit = {
    import spark.implicits._
    wh.createOrReplace("silver", "t",
      (1L to 20L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "ver").coalesce(1))
    wh.append("silver", "t",
      (21L to 40L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "ver").coalesce(1))
  }

  private def upsertBatch = {
    import spark.implicits._
    Seq((2L, "u2", 1L), (3L, "u3", 1L), (5L, "lose5", 0L), (100L, "i100", 1L), (101L, "i101", 1L))
      .toDF("k", "payload", "ver")
  }

  private def deleteClauses = (
    Seq(MergeClause.DeleteMatched(Some(col("s.k") === 2L)),
      MergeClause.UpdateMatched(Some(col("s.ver") > col("t.ver")), None)),
    Seq(MergeClause.InsertNotMatched(None, None)))

  private def deleteBatch = {
    import spark.implicits._
    Seq((2L, "x2", 1L), (3L, "u3", 1L), (100L, "i100", 1L)).toDF("k", "payload", "ver")
  }

  /** (operation, num_inserted, num_updated, num_deleted, num_output_rows)
    * of the table's last commit, and that commit's version.
    */
  private def ledgerRow(wh: Warehouse, table: String): ((String, Long, Long, Long, Long), Long) = {
    val op = wh.lastOperation(s"silver.$table").get
    ((op.getAs[String]("operation"), op.getAs[Long]("num_inserted"),
      op.getAs[Long]("num_updated"), op.getAs[Long]("num_deleted"),
      op.getAs[Long]("num_output_rows")), op.getAs[Long]("version"))
  }

  /** Sorted (change type, k, payload, ver) feed rows of one version. */
  private def feedRows(wh: Warehouse, table: String, version: Long): Seq[(String, Long, String, Long)] =
    wh.changeFeed("silver", table)
      .filter(col("_commit_version") === version)
      .select("_change_type", "k", "payload", "ver").collect()
      .map((r: Row) => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq.sorted

  private def check(
      shape: String,
      jobs: Int,
      maxJobs: Int,
      ledger: ((String, Long, Long, Long, Long), Long),
      expectedLedger: (String, Long, Long, Long, Long),
      feed: Seq[(String, Long, String, Long)],
      expectedFeed: Seq[(String, Long, String, Long)]
  ): Unit = {
    info(s"$shape: $jobs jobs (at most $maxJobs)")
    assert(maxJobs == 0 || jobs > 0, s"$shape: the job counter saw nothing")
    assert(jobs <= maxJobs, s"$shape: $jobs jobs, more than the $maxJobs it used to take")
    assert(ledger._1 == expectedLedger, s"$shape ledger row")
    assert(feed == expectedFeed, s"$shape feed rows")
  }

  private val upsertFeed = Seq(
    ("insert", 100L, "i100", 1L), ("insert", 101L, "i101", 1L),
    ("update_postimage", 2L, "u2", 1L), ("update_postimage", 3L, "u3", 1L),
    ("update_preimage", 2L, "p2", 0L), ("update_preimage", 3L, "p3", 0L))

  private val deleteFeed = Seq(
    ("delete", 2L, "p2", 0L), ("insert", 100L, "i100", 1L),
    ("update_postimage", 3L, "u3", 1L), ("update_preimage", 3L, "p3", 0L))

  test("flat upsert with changes, then its zero-change re-run") {
    val wh = freshWh()
    flatBase(wh)
    val (_, jobs) = countJobs(wh.upsert("silver", "t", upsertBatch, Seq("k"), "ver"))
    val ledger    = ledgerRow(wh, "t")
    check("flat upsert", jobs, maxJobs = 16, ledger, ("MERGE", 2L, 2L, 0L, 42L),
      feedRows(wh, "t", ledger._2), upsertFeed)
    val (_, jobs0) = countJobs(wh.upsert("silver", "t", upsertBatch, Seq("k"), "ver"))
    val ledger0    = ledgerRow(wh, "t")
    check("zero-change upsert", jobs0, maxJobs = 9, ledger0, ("MERGE", 0L, 0L, 0L, 0L),
      feedRows(wh, "t", ledger0._2), Seq.empty)
  }

  test("partitioned upsert with a cross-partition move") {
    import spark.implicits._
    val wh = freshWh()
    wh.createOrReplacePartitioned("silver", "p",
      (1L to 30L).map(k => (k, s"p$k", 0L, if (k <= 10) "a" else if (k <= 20) "b" else "c"))
        .toDF("k", "payload", "ver", "pt").coalesce(1), Seq("pt"))
    val batch = Seq((3L, "mv3", 1L, "b"), (12L, "u12", 1L, "b"), (25L, "lose25", 0L, "c"),
      (50L, "i50", 1L, "d")).toDF("k", "payload", "ver", "pt")
    val (_, jobs) = countJobs(wh.upsert("silver", "p", batch, Seq("k"), "ver"))
    val ledger    = ledgerRow(wh, "p")
    check("partitioned upsert", jobs, maxJobs = 19, ledger, ("MERGE", 1L, 2L, 0L, 31L),
      feedRows(wh, "p", ledger._2), Seq(
        ("insert", 50L, "i50", 1L),
        ("update_postimage", 3L, "mv3", 1L), ("update_postimage", 12L, "u12", 1L),
        ("update_preimage", 3L, "p3", 0L), ("update_preimage", 12L, "p12", 0L)))
    assert(wh.table("silver", "p").filter($"k" === 3L).select("pt").as[String].collect()
      .toSeq == Seq("b"), "the moved row lives in its new partition only")
  }

  test("mergeClauses with a DELETE clause") {
    val wh = freshWh()
    flatBase(wh)
    val (m, nm) = deleteClauses
    val (_, jobs) = countJobs(wh.mergeClauses("silver", "t", deleteBatch, Seq("k"), m, nm))
    val ledger    = ledgerRow(wh, "t")
    check("mergeClauses DELETE", jobs, maxJobs = 16, ledger, ("MERGE", 1L, 1L, 1L, 40L),
      feedRows(wh, "t", ledger._2), deleteFeed)
  }

  test("mergeClauses with a BY SOURCE clause") {
    import spark.implicits._
    val wh = freshWh()
    flatBase(wh)
    val (m, nm, _) = MergeClause.upsertShape("ver")
    val bySource = Seq(
      MergeClause.DeleteBySource(Some(col("t.k") === 40L)),
      MergeClause.UpdateBySource(Some(col("t.k") === 39L), Map("payload" -> lit("stale"))))
    val src = Seq((3L, "u3", 1L)).toDF("k", "payload", "ver")
    val (_, jobs) = countJobs(wh.mergeClauses("silver", "t", src, Seq("k"), m, nm, bySource))
    val ledger    = ledgerRow(wh, "t")
    check("mergeClauses BY SOURCE", jobs, maxJobs = 11, ledger, ("MERGE", 0L, 2L, 1L, 39L),
      feedRows(wh, "t", ledger._2), Seq(
        ("delete", 40L, "p40", 0L),
        ("update_postimage", 3L, "u3", 1L), ("update_postimage", 39L, "stale", 0L),
        ("update_preimage", 3L, "p3", 0L), ("update_preimage", 39L, "p39", 0L)))
  }

  test("upsertMor") {
    val wh = freshWh()
    flatBase(wh)
    val (_, jobs) = countJobs(wh.upsertMor("silver", "t", upsertBatch, Seq("k"), "ver"))
    val ledger    = ledgerRow(wh, "t")
    check("upsertMor", jobs, maxJobs = 12, ledger, ("MERGE_MOR", 2L, 2L, 0L, 0L),
      feedRows(wh, "t", ledger._2), upsertFeed)
  }

  test("mergeClausesMor") {
    val wh = freshWh()
    flatBase(wh)
    val (m, nm) = deleteClauses
    val (_, jobs) = countJobs(wh.mergeClausesMor("silver", "t", deleteBatch, Seq("k"), m, nm))
    val ledger    = ledgerRow(wh, "t")
    check("mergeClausesMor", jobs, maxJobs = 14, ledger, ("MERGE_MOR", 1L, 1L, 1L, 0L),
      feedRows(wh, "t", ledger._2), deleteFeed)
  }

  /** Partitioned table over `pt` a/b/c (keys 1-10, 11-20, 21-30), with
    * a second file in `a` (keys 31-35) so a rewrite of `a` carries one
    * file as bytes.
    */
  private def partBase(wh: Warehouse): Unit = {
    import spark.implicits._
    wh.createOrReplacePartitioned("silver", "p",
      (1L to 30L).map(k => (k, s"p$k", 0L, if (k <= 10) "a" else if (k <= 20) "b" else "c"))
        .toDF("k", "payload", "ver", "pt").coalesce(1), Seq("pt"))
    wh.append("silver", "p",
      (31L to 35L).map(k => (k, s"p$k", 0L, "a")).toDF("k", "payload", "ver", "pt").coalesce(1))
  }

  test("flat delete, then a zero-match delete") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(wh.delete("silver", "t", col("k").isin(2L, 3L)))
    assert(n == 2L)
    val ledger = ledgerRow(wh, "t")
    check("flat delete", jobs, maxJobs = 5, ledger, ("DELETE", 0L, 0L, 2L, 38L),
      feedRows(wh, "t", ledger._2), Seq(("delete", 2L, "p2", 0L), ("delete", 3L, "p3", 0L)))
    val (n0, jobs0) = countJobs(wh.delete("silver", "t", col("k") === 999L))
    assert(n0 == 0L)
    val ledger0 = ledgerRow(wh, "t")
    check("zero-match delete", jobs0, maxJobs = 1, ledger0, ("DELETE", 0L, 0L, 0L, 0L),
      feedRows(wh, "t", ledger0._2), Seq.empty)
  }

  test("partitioned delete") {
    val wh = freshWh()
    partBase(wh)
    val (n, jobs) = countJobs(wh.delete("silver", "p", col("k") === 3L))
    assert(n == 1L)
    val ledger = ledgerRow(wh, "p")
    check("partitioned delete", jobs, maxJobs = 9, ledger, ("DELETE", 0L, 0L, 1L, 14L),
      feedRows(wh, "p", ledger._2), Seq(("delete", 3L, "p3", 0L)))
  }

  test("flat update") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(
      wh.update("silver", "t", col("k") === 2L, Map("payload" -> lit("set2"))))
    assert(n == 1L)
    val ledger = ledgerRow(wh, "t")
    check("flat update", jobs, maxJobs = 5, ledger, ("UPDATE", 0L, 1L, 0L, 40L),
      feedRows(wh, "t", ledger._2),
      Seq(("update_postimage", 2L, "set2", 0L), ("update_preimage", 2L, "p2", 0L)))
  }

  test("partitioned update") {
    val wh = freshWh()
    partBase(wh)
    val (n, jobs) = countJobs(
      wh.update("silver", "p", col("k") === 3L, Map("payload" -> lit("set3"))))
    assert(n == 1L)
    val ledger = ledgerRow(wh, "p")
    check("partitioned update", jobs, maxJobs = 9, ledger, ("UPDATE", 0L, 1L, 0L, 15L),
      feedRows(wh, "p", ledger._2),
      Seq(("update_postimage", 3L, "set3", 0L), ("update_preimage", 3L, "p3", 0L)))
  }

  test("deleteMor and updateMor") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(wh.deleteMor("silver", "t", col("k") === 2L))
    assert(n == 1L)
    val ledger = ledgerRow(wh, "t")
    check("deleteMor", jobs, maxJobs = 3, ledger, ("DELETE_MOR", 0L, 0L, 1L, 0L),
      feedRows(wh, "t", ledger._2), Seq(("delete", 2L, "p2", 0L)))
    val (nu, jobsU) = countJobs(
      wh.updateMor("silver", "t", col("k") === 3L, Map("payload" -> lit("set3"))))
    assert(nu == 1L)
    val ledgerU = ledgerRow(wh, "t")
    check("updateMor", jobsU, maxJobs = 13, ledgerU, ("UPDATE_MOR", 0L, 1L, 0L, 0L),
      feedRows(wh, "t", ledgerU._2),
      Seq(("update_postimage", 3L, "set3", 0L), ("update_preimage", 3L, "p3", 0L)))
  }

  test("flat reorg after a deleteMor") {
    val wh = freshWh()
    flatBase(wh)
    wh.deleteMor("silver", "t", col("k") === 2L)
    val (n, jobs) = countJobs(wh.reorg("silver", "t"))
    assert(n == 1L, "one tombstoned file rewrites")
    val ledger = ledgerRow(wh, "t")
    check("flat reorg", jobs, maxJobs = 13, ledger, ("REORG", 0L, 0L, 0L, 39L),
      feedRows(wh, "t", ledger._2), Seq.empty)
    assert(wh.table("silver", "t").count() == 39L)
  }

  test("partitioned reorg after a deleteMor") {
    val wh = freshWh()
    partBase(wh)
    wh.deleteMor("silver", "p", col("k") === 3L)
    val (n, jobs) = countJobs(wh.reorg("silver", "p"))
    assert(n == 1L, "one tombstoned file rewrites")
    val ledger = ledgerRow(wh, "p")
    check("partitioned reorg", jobs, maxJobs = 11, ledger, ("REORG", 0L, 0L, 0L, 14L),
      feedRows(wh, "p", ledger._2), Seq.empty)
    assert(wh.table("silver", "p").count() == 34L)
  }

  test("zorderIncremental with one victim and two carried files") {
    import spark.implicits._
    val wh = freshWh()
    flatBase(wh)
    // keys 1 and 40 span the whole range: the only wide file
    wh.append("silver", "t",
      Seq((1L, "w1", 0L), (40L, "w40", 0L)).toDF("k", "payload", "ver").coalesce(1))
    val (n, jobs) = countJobs(wh.zorderIncremental("silver", "t", Seq("k")))
    assert(n == 1L, "one victim file rewrites")
    val ledger = ledgerRow(wh, "t")
    // Z-order writes no change feed, and nothing before it did either
    assert(!Files.exists(java.nio.file.Paths.get(wh.tablePath("silver", "t") + ".__changes")))
    check("zorderIncremental", jobs, maxJobs = 5, ledger, ("ZORDER", 0L, 0L, 0L, 42L),
      Seq.empty, Seq.empty)
  }

  // ---- whole-table replaces and compaction ----

  private val NoFeed = Seq.empty[(String, Long, String, Long)]

  test("flat and partitioned createOrReplace, then append") {
    import spark.implicits._
    val wh = freshWh()
    val (n, jobs) = countJobs(wh.createOrReplace("silver", "t",
      (1L to 20L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "ver").coalesce(1)))
    assert(n == 20L)
    check("flat createOrReplace", jobs, maxJobs = 1, ledgerRow(wh, "t"),
      ("CREATE OR REPLACE", 20L, 0L, 0L, 20L), NoFeed, NoFeed)
    // CTAS and APPEND run on every pipeline date: exactly, not at most
    assert(jobs == 1)
    val (na, jobsA) = countJobs(wh.append("silver", "t",
      (21L to 25L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "ver").coalesce(1)))
    assert(na == 5L)
    check("append", jobsA, maxJobs = 1, ledgerRow(wh, "t"),
      ("APPEND", 5L, 0L, 0L, 5L), NoFeed, NoFeed)
    assert(jobsA == 1)
    val (np, jobsP) = countJobs(wh.createOrReplacePartitioned("silver", "p",
      (1L to 30L).map(k => (k, s"p$k", 0L, if (k <= 10) "a" else if (k <= 20) "b" else "c"))
        .toDF("k", "payload", "ver", "pt").coalesce(1), Seq("pt")))
    assert(np == 30L)
    check("partitioned createOrReplace", jobsP, maxJobs = 1, ledgerRow(wh, "p"),
      ("CREATE OR REPLACE", 30L, 0L, 0L, 30L), NoFeed, NoFeed)
    assert(jobsP == 1)
    assert(wh.partitionColumns("silver", "p") == Seq("pt"))
  }

  test("flat compact") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(wh.compact("silver", "t"))
    assert(n == 1L, "two files compact into one")
    check("flat compact", jobs, maxJobs = 5, ledgerRow(wh, "t"),
      ("COMPACT", 0L, 0L, 0L, 40L), NoFeed, NoFeed)
    assert(wh.table("silver", "t").count() == 40L)
  }

  test("partitioned compact") {
    val wh = freshWh()
    partBase(wh)
    val (n, jobs) = countJobs(wh.compact("silver", "p"))
    assert(n == 1L, "partition a's two files compact into one")
    check("partitioned compact", jobs, maxJobs = 6, ledgerRow(wh, "p"),
      ("COMPACT", 0L, 0L, 0L, 35L), NoFeed, NoFeed)
    assert(wh.partitionColumns("silver", "p") == Seq("pt"))
    assert(wh.table("silver", "p").count() == 35L)
  }

  test("compactWhere, then a zero-match compactWhere") {
    val wh = freshWh()
    partBase(wh)
    val (n, jobs) = countJobs(wh.compactWhere("silver", "p", col("pt") === "a"))
    assert(n == 1L, "partition a's two files compact into one")
    check("compactWhere", jobs, maxJobs = 8, ledgerRow(wh, "p"),
      ("COMPACT", 0L, 0L, 0L, 15L), NoFeed, NoFeed)
    assert(wh.table("silver", "p").count() == 35L)
    val (n0, jobs0) = countJobs(wh.compactWhere("silver", "p", col("pt") === "zz"))
    assert(n0 == 0L)
    check("zero-match compactWhere", jobs0, maxJobs = 0, ledgerRow(wh, "p"),
      ("COMPACT", 0L, 0L, 0L, 0L), NoFeed, NoFeed)
  }

  test("flat and partitioned autoCompact") {
    import spark.implicits._
    val wh = freshWh()
    flatBase(wh)
    wh.append("silver", "t",
      Seq((41L, "p41", 0L)).toDF("k", "payload", "ver").coalesce(1))
    val (n, jobs) = countJobs(wh.autoCompact("silver", "t", maxFilesPerPartition = 2))
    assert(n == 1L, "the flat table is one offender")
    check("flat autoCompact", jobs, maxJobs = 5, ledgerRow(wh, "t"),
      ("COMPACT", 0L, 0L, 0L, 41L), NoFeed, NoFeed)
    partBase(wh)
    val (np, jobsP) = countJobs(wh.autoCompact("silver", "p", maxFilesPerPartition = 1))
    assert(np == 1L, "partition a is the one offender")
    check("partitioned autoCompact", jobsP, maxJobs = 8, ledgerRow(wh, "p"),
      ("COMPACT", 0L, 0L, 0L, 15L), NoFeed, NoFeed)
    assert(wh.table("silver", "p").count() == 35L)
  }

  test("zorder") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(wh.zorder("silver", "t", Seq("k", "ver")))
    assert(n == 40L)
    check("zorder", jobs, maxJobs = 6, ledgerRow(wh, "t"),
      ("ZORDER", 0L, 0L, 0L, 40L), NoFeed, NoFeed)
  }

  test("renameColumn and dropColumn") {
    val wh = freshWh()
    flatBase(wh)
    val (_, jobs) = countJobs(wh.renameColumn("silver", "t", "payload", "body"))
    check("renameColumn", jobs, maxJobs = 1, ledgerRow(wh, "t"),
      ("RENAME COLUMN", 0L, 0L, 0L, 40L), NoFeed, NoFeed)
    val (_, jobsD) = countJobs(wh.dropColumn("silver", "t", "body"))
    check("dropColumn", jobsD, maxJobs = 2, ledgerRow(wh, "t"),
      ("DROP COLUMN", 0L, 0L, 0L, 40L), NoFeed, NoFeed)
    assert(wh.table("silver", "t").columns.toSeq == Seq("k", "ver"))
  }

  test("restore") {
    val wh = freshWh()
    flatBase(wh)
    wh.delete("silver", "t", col("k").isin(2L, 3L))
    val (n, jobs) = countJobs(wh.restore("silver", "t", 1L))
    assert(n == 40L)
    check("restore", jobs, maxJobs = 2, ledgerRow(wh, "t"),
      ("RESTORE", 40L, 0L, 0L, 40L), NoFeed, NoFeed)
    assert(wh.table("silver", "t").count() == 40L)
  }

  test("cloneTable without and with live tombstones") {
    val wh = freshWh()
    flatBase(wh)
    val (n, jobs) = countJobs(wh.cloneTable("silver", "t", "silver", "c"))
    assert(n == 40L)
    check("cloneTable", jobs, maxJobs = 4, ledgerRow(wh, "c"),
      ("CLONE", 40L, 0L, 0L, 40L), NoFeed, NoFeed)
    wh.deleteMor("silver", "t", col("k") === 2L)
    val (nd, jobsD) = countJobs(wh.cloneTable("silver", "t", "silver", "d"))
    assert(nd == 39L)
    check("cloneTable with tombstones", jobsD, maxJobs = 14, ledgerRow(wh, "d"),
      ("CLONE", 39L, 0L, 0L, 39L), NoFeed, NoFeed)
    assert(wh.table("silver", "d").count() == 39L)
  }
}
