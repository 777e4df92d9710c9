package graft.sources

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table DDL beyond plain writes: GENERATED ALWAYS AS IDENTITY
  * columns, CREATE TABLE CLONE (deep clone), and column RENAME / DROP
  * with reference-safety checks. CLONE and the column DDL are
  * whole-table replaces through [[Warehouse.replaceTable]], the one
  * staged-swap body every replacing write shares.
  */
private[sources] trait WarehouseDdl { self: Warehouse =>

  // ---- identity columns (GENERATED ALWAYS AS IDENTITY parity) ----
  //
  // Delta identity semantics, re-expressed for the snapshot-dir
  // engine: writers OMIT the column and the write assigns values that
  // are unique and strictly beyond every previously-assigned value;
  // explicitly writing the column REFUSES (the ALWAYS contract);
  // MERGE inserts get fresh values while updates keep the target
  // row's (stable for a row's life); values are NOT contiguous —
  // like Delta, which reserves per-task ranges, the engine derives
  // ids from `monotonically_increasing_id()` (partition-id-prefixed),
  // so gaps are large and normal. The high-water mark lives in a
  // `<table>.__identity` sidecar updated under the writer lock, and
  // is advanced BEFORE the data write: a refused or crashed batch
  // burns its ids (Delta loses rolled-back identity values the same
  // way) — which is exactly what makes the scheme crash-safe without
  // coordination. At cluster scale assignment is pure map work: no
  // shuffle, no global sort, no driver sequence bottleneck.

  private[sources] def identityPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__identity")

  /** Declared identity columns: (column, step, highWater). */
  def identityColumns(layer: String, table: String): Seq[(String, Long, Long)] = {
    val p = identityPath(layer, table)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t')
        require(f.length == 3, s"corrupt identity sidecar line: $line")
        (unescField(f(0)), f(1).toLong, f(2).toLong)
      }.toSeq
    }
  }

  private[sources] def writeIdentitySidecar(
      layer: String, table: String, ids: Seq[(String, Long, Long)]): Unit =
    if (ids.isEmpty) { fs.delete(identityPath(layer, table), false); () }
    else {
      val out = fs.create(identityPath(layer, table), true)
      try out.write(ids.map { case (c, s, hw) => s"${escField(c)}\t$s\t$hw" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** Declare `colName` GENERATED ALWAYS AS IDENTITY (START WITH
    * `startWith` INCREMENT BY `step`). On a populated table: an
    * EXISTING column is adopted (its values keep, future ids start
    * beyond its max — the migration path); an absent column backfills
    * via one staged rewrite.
    */
  def addIdentityColumn(
      layer: String,
      table: String,
      colName: String,
      startWith: Long = 1L,
      step: Long = 1L
  ): Unit =
    withWriterLock(layer, table) {
      require(step > 0, "identity step must be positive")
      val existing = identityColumns(layer, table)
      require(!existing.exists(_._1.equalsIgnoreCase(colName)),
        s"identity column '$colName' already declared")
      require(!generatedColumns(layer, table).exists(_._1.equalsIgnoreCase(colName)),
        s"$colName is already GENERATED ALWAYS AS an expression")
      val base = startWith - step // highWater such that the next id is startWith
      val hw =
        if (!tableExists(layer, table)) base
        else {
          val df = rawTable(layer, table)
          if (df.columns.exists(_.equalsIgnoreCase(colName))) {
            val mx = df.agg(max(col(colName).cast("long"))).head()
            if (mx.isNullAt(0)) base else math.max(mx.getLong(0), base)
          } else {
            materializeDv(layer, table) // backfill is a rewrite
            val filled = rawTable(layer, table).withColumn(colName,
              lit(startWith) + lit(step) * monotonically_increasing_id())
            val pcols = partitionColumns(layer, table)
            createOrReplaceImpl(layer, table, filled, pcols)
            val mx = rawTable(layer, table).agg(max(col(colName))).head()
            if (mx.isNullAt(0)) base else mx.getLong(0)
          }
        }
      writeIdentitySidecar(layer, table, existing :+ ((colName, step, hw)))
    }

  /** Drop an identity declaration (the column and its values stay). */
  def dropIdentityColumn(layer: String, table: String, colName: String): Boolean =
    withWriterLock(layer, table) {
      val existing = identityColumns(layer, table)
      val kept     = existing.filterNot(_._1.equalsIgnoreCase(colName))
      if (kept.size != existing.size) { writeIdentitySidecar(layer, table, kept); true }
      else false
    }

  /** Assign identity values to a batch that omits the columns (refuse
    * a batch that carries one unless `allowCarry` — table
    * redefinitions like CTAS/backfill legitimately carry). Returns the
    * batch (PINNED via localCheckpoint when anything was assigned:
    * `monotonically_increasing_id` is stable only for one execution,
    * and merge consumers re-run the plan) plus the new high-water
    * marks to commit.
    */
  private[sources] def applyIdentity(
      layer: String,
      table: String,
      df: DataFrame,
      allowCarry: Boolean
  ): (DataFrame, Seq[(String, Long)]) = {
    val ids = identityColumns(layer, table)
    if (ids.isEmpty) return (df, Seq.empty)
    val (carried, absent) =
      ids.partition { case (c, _, _) => df.columns.exists(_.equalsIgnoreCase(c)) }
    carried.foreach { case (c, _, _) =>
      require(allowCarry,
        s"cannot write identity column $c (GENERATED ALWAYS AS IDENTITY) — omit it")
    }
    val out = absent.foldLeft(df) { case (d, (c, step, hw)) =>
      d.withColumn(c, lit(hw + step) + lit(step) * monotonically_increasing_id())
    }
    // pin only when something was assigned — carried values are the
    // caller's deterministic data
    val pinned = if (absent.isEmpty) out else out.localCheckpoint(true)
    // high waters advance for BOTH populations: an allowed CARRY (a
    // REPLACE carrying explicit ids) must raise the mark past its own
    // values, or the next omitted-column append would re-assign them
    val tracked = absent ++ carried
    val maxRow = pinned
      .agg(max(col(tracked.head._1).cast("long")).as("m0"),
        tracked.tail.map { case (c, _, _) => max(col(c).cast("long")).as(s"m_$c") }: _*)
      .head()
    val highs = tracked.zipWithIndex.map { case ((c, _, hw), i) =>
      c -> (if (maxRow.isNullAt(i)) hw else maxRow.getLong(i)) // empty batch keeps hw
    }
    (pinned, highs)
  }

  /** Advance the high-water marks — called BEFORE the data write (see
    * the section note: a failed batch burns its ids, never reuses).
    */
  private[sources] def commitIdentity(
      layer: String, table: String, highs: Seq[(String, Long)]): Unit =
    if (highs.nonEmpty) {
      val updated = identityColumns(layer, table).map { case (c, s, hw) =>
        highs.collectFirst { case (`c`, nh) => (c, s, math.max(hw, nh)) }
          .getOrElse((c, s, hw))
      }
      writeIdentitySidecar(layer, table, updated)
    }

  // ---- CREATE TABLE ... CLONE (deep clone) ----

  /** CREATE [OR REPLACE] TABLE dst DEEP CLONE src. The clone is an
    * executor-parallel BYTE-COPY of the source's live snapshot — no
    * decode, no shuffle, no encode; cost is raw copy bandwidth, the
    * same class as the COW carry path (Delta's SHALLOW clone is
    * metadata-only, which a physical-dir engine cannot express; DEEP
    * clone is the portable equivalent and what crosses storage roots
    * anyway). The clone inherits the source's CONTRACT (CHECK /
    * NOT NULL constraints and generated-column declarations) but NOT
    * its history: like Delta CLONE, the new table starts its own
    * version line (one CLONE commit), and the source's feed, retired
    * generations, and ledger stay behind. Completely independent
    * afterwards — writes to either side never touch the other.
    *
    * A source with LIVE deletion vectors cannot byte-copy (the clone
    * carries no DV state, so tombstoned rows would resurrect) — it
    * falls back to materializing the visible rows through one real
    * write, the same cost as CTAS. Runs under BOTH tables' writer
    * locks (sorted acquisition, deadlock-free). Returns the cloned
    * row count.
    */
  def cloneTable(
      srcLayer: String,
      srcTable: String,
      dstLayer: String,
      dstTable: String
  ): Long =
    withWriterLocks(Seq((srcLayer, srcTable), (dstLayer, dstTable))) {
      require(!(srcLayer == dstLayer && srcTable == dstTable),
        "cannot clone a table onto itself")
      repairCrashedSwap(srcLayer, srcTable)
      require(tableExists(srcLayer, srcTable), s"$srcLayer.$srcTable does not exist")
      val pcols = partitionColumns(srcLayer, srcTable)
      val rows = replaceTable(dstLayer, dstTable) { staging =>
        if (dvRowsFor(srcLayer, srcTable, Long.MaxValue).isDefined)
          writeCounted(this.table(srcLayer, srcTable), staging.toString, pcols)
        else {
          val srcRoot = tablePath(srcLayer, srcTable)
          val pairs   = allDataFiles(new Path(srcRoot), pcols.length)
          copyFilesInto(pairs, staging)
          fs.createNewFile(new Path(staging, "_SUCCESS")) // the existence marker
          // footer-only count of the copied files — no data decode
          footerRowCount(pairs.map(_._1), Some(srcRoot))
        }
      }
      writeConstraintsSidecar(dstLayer, dstTable, constraints(srcLayer, srcTable))
      writeGeneratedSidecar(dstLayer, dstTable, generatedColumns(srcLayer, srcTable))
      writeIdentitySidecar(dstLayer, dstTable, identityColumns(srcLayer, srcTable))
      logOp(dstLayer, dstTable, "CLONE", inserted = rows, updated = 0, outputRows = rows)
      rows
    }

  // ---- column DDL (ALTER TABLE RENAME/DROP COLUMN parity) ----
  //
  // Delta supports RENAME/DROP COLUMN as metadata-only operations via
  // column mapping (columns addressed by id, physical names never
  // change). The snapshot-dir engine addresses columns by their
  // parquet names, so both ops are ONE layout-preserving whole-table
  // replace ([[replaceTable]], the body CTAS and COMPACT use) through
  // [[columnDdl]] — the cost class Delta charges WITHOUT column
  // mapping enabled. What the engine keeps from the Delta contract: the
  // operation is atomic (staged swap), history is version-addressed
  // (time travel to a pre-rename version shows the old schema, exactly
  // like Delta), recorded contracts refuse the change when they
  // reference the column (drop the constraint / generated declaration
  // first — silent breakage of a CHECK expression is worse than a
  // refusal), and partition columns refuse (the directory layout IS
  // the column).

  private[sources] def requireColumnUnreferenced(
      layer: String, table: String, colName: String, op: String): Unit = {
    val lower = colName.toLowerCase
    constraints(layer, table).foreach { case (name, kind, exprStr) =>
      require(!exprDeps(exprStr).contains(lower) && !(exprStr.toLowerCase == lower),
        s"cannot $op column $colName: $kind constraint '$name' references it — " +
          "drop the constraint first")
    }
    generatedColumns(layer, table).foreach { case (c, e) =>
      require(!c.equalsIgnoreCase(colName),
        s"cannot $op column $colName: it is GENERATED ALWAYS AS ($e) — " +
          "drop the generated declaration first")
      require(!exprDeps(e).contains(lower),
        s"cannot $op column $colName: generated column $c derives from it — " +
          "drop the generated declaration first")
    }
    identityColumns(layer, table).foreach { case (c, _, _) =>
      require(!c.equalsIgnoreCase(colName),
        s"cannot $op column $colName: it is GENERATED ALWAYS AS IDENTITY — " +
          "drop the identity declaration first")
    }
  }

  /** ALTER TABLE ... RENAME COLUMN from TO to. */
  def renameColumn(layer: String, table: String, from: String, to: String): Unit =
    withWriterLock(layer, table) {
      columnDdl(layer, table, "RENAME COLUMN", from) { df =>
        require(!df.columns.exists(_.equalsIgnoreCase(to)),
          s"cannot rename $from to $to: $to already exists")
        df.withColumnRenamed(from, to)
      }
    }

  /** ALTER TABLE ... DROP COLUMN colName. */
  def dropColumn(layer: String, table: String, colName: String): Unit =
    withWriterLock(layer, table) {
      columnDdl(layer, table, "DROP COLUMN", colName) { df =>
        require(df.columns.length > 1, s"cannot drop $colName: it is the only column")
        df.drop(colName)
      }
    }

  /** The one body of RENAME and DROP COLUMN: the checks on `colName`
    * (it exists, is no partition column and no recorded contract
    * references it), then the table rewritten through `project` — which
    * runs the op's own checks first — in its live layout. The column's
    * bloom sidecar is unreachable afterwards and goes; stats refresh
    * incrementally off the new file set on next use. Ledger op `op`.
    */
  private def columnDdl(layer: String, table: String, op: String, colName: String)(
      project: DataFrame => DataFrame): Unit = {
    val verb = op.takeWhile(_ != ' ').toLowerCase // "rename" | "drop"
    repairCrashedSwap(layer, table)
    materializeDv(layer, table) // rewrite never runs against live tombstones
    val df = rawTable(layer, table)
    require(df.columns.exists(_.equalsIgnoreCase(colName)), s"no such column $colName")
    val out   = project(df)
    val pcols = partitionColumns(layer, table)
    require(!pcols.exists(_.equalsIgnoreCase(colName)),
      s"cannot $verb partition column $colName — the directory layout is the column; " +
        "rewrite via createOrReplacePartitioned")
    requireColumnUnreferenced(layer, table, colName, verb)
    val rows = replaceTable(layer, table)(staging => writeCounted(out, staging.toString, pcols))
    fs.delete(bloomPath(layer, table, colName), true)
    logOp(layer, table, op, inserted = 0, updated = 0, outputRows = rows)
  }
}
