package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** The ops ledger's version lookup ([[Warehouse.ledgerMaxVersion]])
  * and checkpoint ([[Warehouse.checkpointLedger]]) over the in-memory
  * ledger index: other instances' commits stay visible, a checkpoint
  * changes no version or history row, a bad file is retried, raised and
  * never indexed, and a warm lookup parses nothing.
  */
class LedgerIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft_ledger").toString

  private def listedLedgerFiles(wh: Warehouse): Set[String] = {
    val dir = new Path(wh.tablePath(wh.ledgerLayer, wh.ledgerTable))
    wh.fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
  }

  private def historyRows(wh: Warehouse, table: String): Seq[String] =
    wh.history(table).orderBy("version").collect().map(_.toString).toSeq

  test("a commit through a second instance on the same root is seen by the first") {
    val root = freshRoot()
    val whA  = new Warehouse(spark, root)
    val whB  = new Warehouse(spark, root)
    whA.createOrReplace("silver", "lx", Seq((1L, "a")).toDF("k", "s"))
    whA.append("silver", "lx", Seq((2L, "b")).toDF("k", "s"))
    assert(whA.currentVersion("silver", "lx") == 1L)
    whB.append("silver", "lx", Seq((3L, "c")).toDF("k", "s"))
    val before = whA.parquetReads.get()
    assert(whA.currentVersion("silver", "lx") == 2L, "A must see B's commit")
    assert(whA.parquetReads.get() - before == 1L, "only B's new ledger file is parsed")
    whB.createOrReplace("silver", "other", Seq((9L, "z")).toDF("k", "s"))
    assert(whA.currentVersion("silver", "other") == 0L)
  }

  test("checkpointLedger keeps every version and history row; the index holds only listed files") {
    val wh = new Warehouse(spark, freshRoot())
    for (i <- 0 until 4) {
      wh.createOrReplace("silver", "ck_a", Seq((i.toLong, "a")).toDF("k", "s"))
      wh.append("silver", "ck_b", Seq((i.toLong, "b")).toDF("k", "s"))
    }
    wh.delete("silver", "ck_a", org.apache.spark.sql.functions.col("k") === 3L)
    val tables   = Seq("silver.ck_a", "silver.ck_b")
    val versions = tables.map(t => t -> wh.latestVersion(t)).toMap
    val rows     = tables.map(t => t -> historyRows(wh, t)).toMap
    assert(versions == Map("silver.ck_a" -> 4L, "silver.ck_b" -> 3L))
    val filesBefore = listedLedgerFiles(wh)
    assert(filesBefore.size == 9)

    assert(wh.checkpointLedger() == 9L)
    val filesAfter = listedLedgerFiles(wh)
    assert(filesAfter.size == 1 && filesAfter.intersect(filesBefore).isEmpty)
    assert(wh.ledgerIndex.keySet.toArray.toSet == filesAfter)
    val before = wh.parquetReads.get()
    tables.foreach { t =>
      assert(wh.latestVersion(t) == versions(t), t)
      assert(historyRows(wh, t) == rows(t), t)
    }
    assert(wh.parquetReads.get() == before, "the checkpoint indexed its own file")
    // the next commit continues the version sequence past the checkpoint
    wh.append("silver", "ck_b", Seq((9L, "b")).toDF("k", "s"))
    assert(wh.currentVersion("silver", "ck_b") == 4L)
  }

  test("an unreadable ledger file is retried, raised and never indexed; removing it heals lookups") {
    val wh = new Warehouse(spark, freshRoot())
    wh.createOrReplace("silver", "bad", Seq((1L, "a")).toDF("k", "s"))
    assert(wh.currentVersion("silver", "bad") == 0L)
    val name = "part-graft-truncated.snappy.parquet"
    val bad  = Paths.get(wh.tablePath(wh.ledgerLayer, wh.ledgerTable), name)
    Files.write(bad, "PAR1 not a footer".getBytes("UTF-8"))
    for (_ <- 0 until 2) {
      val before = wh.parquetReads.get()
      intercept[Exception](wh.currentVersion("silver", "bad"))
      assert(wh.parquetReads.get() - before == 4L, "1 read + 3 retries, every lookup")
      assert(!wh.ledgerIndex.containsKey(name), "a failed read must not be indexed")
    }
    Files.delete(bad)
    assert(wh.currentVersion("silver", "bad") == 0L)
    wh.append("silver", "bad", Seq((2L, "b")).toDF("k", "s"))
    assert(wh.currentVersion("silver", "bad") == 1L)
  }

  test("after N commits a further lookup parses zero ledger files") {
    val root = freshRoot()
    val wh   = new Warehouse(spark, root)
    for (i <- 0 until 6) wh.append("silver", "warm", Seq((i.toLong, "w")).toDF("k", "s"))
    val before = wh.parquetReads.get()
    assert(wh.currentVersion("silver", "warm") == 5L)
    assert(wh.currentVersion("silver", "nope") == -1L)
    assert(wh.parquetReads.get() == before, "every ledger file was indexed at its commit")
    // a cold instance on the same root parses each file exactly once
    val cold = new Warehouse(spark, root)
    assert(cold.currentVersion("silver", "warm") == 5L)
    assert(cold.parquetReads.get() == 6L)
    assert(cold.currentVersion("silver", "warm") == 5L)
    assert(cold.parquetReads.get() == 6L)
  }
}
