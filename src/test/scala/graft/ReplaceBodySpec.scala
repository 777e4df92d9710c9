package graft

import graft.sources.Warehouse
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** The shared write-path contracts: every whole-table replace stages in
  * the one `.__staging` directory the next staged write clears, and
  * UPDATE and MERGE run one assignment guard that matches column names
  * case-insensitively.
  */
class ReplaceBodySpec extends SparkSpec {

  private def freshWh() =
    new Warehouse(spark, Files.createTempDirectory("graft_replacebody").toString)

  private def base(wh: Warehouse): Unit = {
    import spark.implicits._
    wh.createOrReplace("silver", "t",
      (1L to 10L).map(k => (k, s"p$k", 0L)).toDF("k", "payload", "ver").coalesce(1))
  }

  private def payloadOf(wh: Warehouse, k: Long): String =
    wh.table("silver", "t").filter(col("k") === k).select("payload").head().getString(0)

  test("update and updateMor match assignment keys to columns case-insensitively") {
    val wh = freshWh()
    base(wh)
    assert(wh.update("silver", "t", col("k") === 2L, Map("PAYLOAD" -> lit("cow2"))) == 1L)
    assert(payloadOf(wh, 2L) == "cow2")
    assert(wh.updateMor("silver", "t", col("k") === 3L, Map("Payload" -> lit("mor3"))) == 1L)
    assert(payloadOf(wh, 3L) == "mor3")
    assert(wh.table("silver", "t").columns.toSeq == Seq("k", "payload", "ver"))
  }

  test("update still refuses a column the table lacks") {
    val wh = freshWh()
    base(wh)
    intercept[IllegalArgumentException](
      wh.update("silver", "t", col("k") === 2L, Map("nope" -> lit("x"))))
    assert(payloadOf(wh, 2L) == "p2")
  }

  test("a restore that crashes after staging leaves nothing the next write keeps") {
    import spark.implicits._
    val wh = freshWh()
    base(wh)
    wh.createOrReplace("silver", "t", Seq((1L, "only", 1L)).toDF("k", "payload", "ver"))
    wh.failpoint = "after-stage-write"
    intercept[RuntimeException](wh.restore("silver", "t", 0L))
    assert(wh.table("silver", "t").count() == 1L, "the crash left the live table as it was")
    wh.compact("silver", "t")
    val layerDir = Paths.get(wh.tablePath("silver", "t")).getParent
    val leftovers = Files.list(layerDir).toArray.map(_.toString.split('/').last)
      .filter(n => n.endsWith("staging")).toSeq
    assert(leftovers.isEmpty, s"staging left beside the table: $leftovers")
    assert(wh.restore("silver", "t", 0L) == 10L)
  }
}
