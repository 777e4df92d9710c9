package graft

import graft.operators.{MergeClause, Upsert}
import graft.sources.Warehouse
import java.nio.file.Files
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** The one-MERGE-body contract: upsert is a clause set, so it follows
  * the clause duplicate rule and counts carried rows as kept on both
  * write paths, and the clause plan's duplicate-source guard shares the
  * join's exchange.
  */
class MergeBodySpec extends SparkSpec {

  private def freshWh() =
    new Warehouse(spark, Files.createTempDirectory("graft_mergebody").toString)

  /** Shuffle exchanges in an executed plan, recursing into AQE query
    * stages.
    */
  private def shuffles(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case s: QueryStageExec        => shuffles(s.plan)
    case e: ShuffleExchangeLike   => 1 + e.children.map(shuffles).sum
    case p                        => p.children.map(shuffles).sum
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("the upsert-shape clause plan shuffles once per side: the guard window shares the exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mergebody_x").toString
    (1L to 200L).map(k => (k, s"p$k", 1)).toDF("k", "payload", "v")
      .write.parquet(s"$dir/tgt")
    Seq((2L, "b", 2), (3L, "c", 0), (900L, "x", 1)).toDF("k", "payload", "v")
      .write.parquet(s"$dir/src")
    val (m, nm, bs) = MergeClause.upsertShape("v")
    val merged = Upsert.planClauses(spark.read.parquet(s"$dir/tgt"),
      spark.read.parquet(s"$dir/src"), Seq("k"), m, nm, bs)
    val out = merged.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out.size == 201 && out(2L) == "update" && out(3L) == "keep" && out(900L) == "insert")
    assert(shuffles(merged.queryExecution.executedPlan) == 2,
      s"expected one shuffle per side:\n${merged.queryExecution.executedPlan}")
  }

  test("COW upsert and upsertMor return identical WriteMetrics on the twin batch") {
    import spark.implicits._
    val base = (1L to 500L).map(k => (k, s"v$k", 0L)).toDF("k", "payload", "ver")
    val batch = ((100L to 120L).map(k => (k, s"NEW$k", 1L)) ++
      (1000L to 1010L).map(k => (k, s"INS$k", 1L)) ++
      Seq((130L, "LOSER", 0L))).toDF("k", "payload", "ver")
    // DeletionVectorSpec's twin layout (three hash-spread files, all
    // touched), then a two-file layout whose second file (keys
    // 251-500) the batch never touches: its rows are carried, and
    // still counted as kept
    val layouts: Seq[(Warehouse, String) => Unit] = Seq(
      (wh, t) => wh.createOrReplace("silver", t, base.repartition(3)),
      (wh, t) => {
        wh.createOrReplace("silver", t, base.filter($"k" <= 250L).coalesce(1))
        wh.append("silver", t, base.filter($"k" > 250L).coalesce(1))
      })
    for (layout <- layouts) {
      val wh = freshWh()
      layout(wh, "cow")
      layout(wh, "mor")
      val mCow = wh.upsert("silver", "cow", batch, Seq("k"), "ver")
      val mMor = wh.upsertMor("silver", "mor", batch, Seq("k"), "ver")
      assert(mCow == mMor)
      // kept = every target row not updated, carried files included
      assert(mCow == Upsert.WriteMetrics(inserted = 11, updated = 21, kept = 479))
      assert(wh.lastOperation("silver.cow").get.getAs[Long]("num_output_rows") == mCow.outputRows)
    }
  }

  test("an empty source returns the same WriteMetrics on a flat and a partitioned twin") {
    import spark.implicits._
    val base = (1L to 30L).map(k => (k, s"p$k", 0L, if (k <= 10) "a" else "b"))
      .toDF("k", "payload", "ver", "pt")
    val wh = freshWh()
    wh.createOrReplace("silver", "flat", base.coalesce(1))
    wh.createOrReplacePartitioned("silver", "part", base.coalesce(1), Seq("pt"))
    val empty = base.limit(0)
    val mFlat = wh.upsert("silver", "flat", empty, Seq("k"), "ver")
    val mPart = wh.upsert("silver", "part", empty, Seq("k"), "ver")
    assert(mFlat == Upsert.WriteMetrics(inserted = 0, updated = 0, kept = 30))
    assert(mPart == mFlat)
    for (t <- Seq("flat", "part")) {
      val op = wh.lastOperation(s"silver.$t").get
      assert(op.getAs[String]("operation") == "MERGE" && op.getAs[Long]("num_inserted") == 0L &&
        op.getAs[Long]("num_updated") == 0L && op.getAs[Long]("num_output_rows") == 0L, t)
    }
  }

  test("duplicate source rows that all lose the version rule commit and keep the target row once") {
    import spark.implicits._
    for (mor <- Seq(false, true)) {
      val wh = freshWh()
      wh.createOrReplace("silver", "t", Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("k", "payload", "ver"))
      val src = Seq((1L, "x", 1L), (1L, "y", 2L), (9L, "i", 1L)).toDF("k", "payload", "ver")
      val m =
        if (mor) wh.upsertMor("silver", "t", src, Seq("k"), "ver")
        else wh.upsert("silver", "t", src, Seq("k"), "ver")
      assert(m == Upsert.WriteMetrics(inserted = 1, updated = 0, kept = 2), s"mor=$mor")
      assert(wh.table("silver", "t").orderBy("k").as[(Long, String, Long)].collect().toSeq ==
        Seq((1L, "a", 5L), (2L, "b", 5L), (9L, "i", 1L)), s"mor=$mor")
    }
  }

  test("duplicate source rows that would update the target row still raise through upsert") {
    import spark.implicits._
    val wh = freshWh()
    wh.createOrReplace("silver", "t", Seq((1L, "a", 1L)).toDF("k", "payload", "ver"))
    val e = intercept[Exception] {
      wh.upsert("silver", "t",
        Seq((1L, "x", 6L), (1L, "y", 7L)).toDF("k", "payload", "ver"), Seq("k"), "ver")
    }
    assert(messages(e).exists(_.contains("multiple source rows matched")), s"got: $e")
    assert(wh.table("silver", "t").as[(Long, String, Long)].collect().toSeq == Seq((1L, "a", 1L)))
    assert(wh.currentVersion("silver", "t") == 0L)
  }
}
