package graft.sources

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table maintenance and write-time governance: compaction (full,
  * auto, partition-scoped), Z-ordering with cluster health, CHECK /
  * NOT NULL constraints, table properties, generated columns, and the
  * file-skipping sidecars (min/max stats, bloom filters) with their
  * pruned scans. Split from Warehouse.scala for reviewability — no
  * behavior change.
  */
private[sources] trait WarehouseMaintenance { self: Warehouse =>

  /** Compact a table's small files (the OPTIMIZE / bin-packing half of
    * Delta's table maintenance): rewrite the table so each output file
    * targets `targetRowsPerFile` rows. Steady appends (one file per
    * micro-batch per partition) degrade a 100 TB table into millions
    * of KB-sized files whose open/footer overhead dominates scans —
    * periodic compaction is what keeps scan cost ∝ bytes, not ∝ files.
    * Values are untouched (asserted in PipelineSpec): same staged
    * rename as every other write, ledger op `COMPACT` records the
    * file-count delta.
    */
  def compact(layer: String, table: String, targetRowsPerFile: Long = 1_000_000L): Long =
    withWriterLock(layer, table)(compactImpl(layer, table, targetRowsPerFile))

  private[sources] def compactImpl(layer: String, table: String, targetRowsPerFile: Long): Long = {
    materializeDv(layer, table) // rewrite never runs against live tombstones
    repairCrashedSwap(layer, table)
    val target = tablePath(layer, table)
    // mergeSchema: an evolved table's older files lack the newer
    // columns — a plain read takes one footer's schema and the compact
    // rewrite would silently DROP the evolved columns' data
    val before = mergedRead(layer, table)
    val rows   = before.count()
    val filesBefore = before.inputFiles.length.toLong
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
    val staging = new Path(target + ".__staging")
    fs.delete(staging, true)
    val pcols = partitionColumns(layer, table) // preserve the live layout
    val obs = org.apache.spark.sql.Observation()
    val writer = before
      .repartition(nFiles.toInt)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
    (if (pcols.nonEmpty) writer.partitionBy(pcols: _*) else writer).parquet(staging.toString)
    val back = obs.get("n").asInstanceOf[Long]
    require(back == rows, s"compaction changed row count: $rows -> $back")
    retireAndSwap(layer, table, staging)
    logOp(layer, table, "COMPACT", inserted = 0, updated = 0, outputRows = rows)
    filesBefore - spark.read.parquet(target).inputFiles.length
  }

  /** Auto-compaction — Delta's `autoOptimize.autoCompact` policy as an
    * explicit call a pipeline runs after its write wave: compact
    * exactly the partitions whose data-file count exceeds
    * `maxFilesPerPartition` (driver-side listing finds offenders — no
    * data I/O; [[compactWhere]] rewrites only them), or the whole
    * table when unpartitioned and fragmented past the bound. Appends
    * fragment partitions one small file per writer task per day; this
    * is the bounded-cost cleanup that keeps scan file counts O(data),
    * not O(commits), at 100 TB. Returns the number of partitions
    * compacted (1 for an unpartitioned whole-table pass, 0 for a
    * no-op).
    */
  def autoCompact(layer: String, table: String, maxFilesPerPartition: Int = 8): Long =
    withWriterLock(layer, table) {
      require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
      val pcols = partitionColumns(layer, table)
      if (pcols.isEmpty) {
        val files = rawTable(layer, table).inputFiles.length
        if (files > maxFilesPerPartition) { compactImpl(layer, table, 1_000_000L); 1L }
        else 0L
      } else {
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        val target = new Path(tablePath(layer, table))
        val ptypes = {
          val schema = rawTable(layer, table).schema
          pcols.map(c => schema(c).dataType)
        }
        val offenders = leafPartitionDirs(target, pcols.length)
          .filter(rel => dataFilesUnder(target, Seq(rel)).lengthCompare(maxFilesPerPartition) > 0)
        if (offenders.isEmpty) 0L
        else {
          val tuples: Seq[Seq[String]] = offenders.map { rel =>
            rel.split("/").toSeq.zip(ptypes).map { case (seg, t) =>
              val raw = ExternalCatalogUtils.unescapePathName(seg.split("=", 2)(1))
              if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
              else normalizePartitionValue(raw, t)
            }
          }
          compactWhereImpl(layer, table, partitionPredicate(tuples, pcols))
          offenders.length.toLong
        }
      }
    }

  /** Partition-scoped compaction — Delta's `OPTIMIZE t WHERE
    * <partition predicate>`: only the partitions the predicate selects
    * rewrite (one file per touched directory via a hash repartition on
    * the partition columns); everything else is untouched on disk. The
    * predicate must reference partition columns only — at 100 TB you
    * compact the recent ingest partitions after a merge wave, never
    * the whole table, and this is the primitive that keeps OPTIMIZE
    * O(churn) instead of O(table). Same staged partition swap (and the
    * same crash repair) as the partition-scoped DML family. Returns
    * the net file-count reduction.
    */
  def compactWhere(layer: String, table: String, predicate: Column): Long =
    withWriterLock(layer, table)(compactWhereImpl(layer, table, predicate))

  private[sources] def compactWhereImpl(layer: String, table: String, predicate: Column): Long = {
    materializeDv(layer, table)
    repairCrashedSwap(layer, table)
    val pcols = partitionColumns(layer, table)
    require(pcols.nonEmpty, "OPTIMIZE ... WHERE needs a hive-partitioned table")
    val target = tablePath(layer, table)
    val df     = mergedRead(layer, table)
    // partition-columns-only enforcement: inspect the ANALYZED filter's
    // references (the analyzer's resolve-missing-references rule would
    // silently satisfy a data-column predicate through the projection —
    // this must refuse, never promote to a whole-table rewrite)
    val hit = df.filter(predicate)
    val refs: Set[String] = hit.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name.toLowerCase).toSet
    }.flatten.toSet
    require(refs.subsetOf(pcols.map(_.toLowerCase).toSet),
      s"OPTIMIZE ... WHERE must reference partition columns only (${pcols.mkString(",")}); " +
        s"got: ${refs.mkString(",")}")
    val touched = touchedPartitions(hit, pcols)
    if (touched.isEmpty) {
      logOp(layer, table, "COMPACT", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val slicePred   = partitionPredicate(touched, pcols)
    val filesBefore = df.filter(slicePred).inputFiles.length.toLong
    val slice       = df.filter(slicePred)
    val staging     = new Path(target + ".__staging")
    fs.delete(staging, true)
    val obs  = org.apache.spark.sql.Observation()
    val rows = slice.count()
    slice
      .repartition(touched.length, pcols.map(col): _*)
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).partitionBy(pcols: _*).parquet(staging.toString)
    val back = obs.get("n").asInstanceOf[Long]
    require(back == rows, s"partition-scoped compaction changed row count: $rows -> $back")
    val retireDirs = retireDirsFor(new Path(target), pcols, df.schema, touched)
    swapPartitions(layer, table, staging, retireDirs, pcols.length)
    logOp(layer, table, "COMPACT", inserted = 0, updated = 0, outputRows = rows)
    filesBefore - spark.read.parquet(target).filter(slicePred).inputFiles.length
  }


  /** Multi-dimensional clustering (Delta `OPTIMIZE ... ZORDER BY`
    * replacement): rewrite the table ordered along a Z-curve over
    * `cols`, so parquet footer min/max stats make predicates on ANY of
    * the columns file-skippable — a linear sort serves one column and
    * leaves every other dimension spanning the full range per file.
    *
    * Mechanics: each dimension is scaled to a `bits`-bit bucket id —
    * numerics equi-width on (min, max) (one agg pass; codegen
    * arithmetic, no per-row search), strings by hash (equality
    * skipping only) — and the ids are bit-interleaved into the
    * Z-value the rewrite range-partitions and sorts by. Equi-width
    * buckets are skew-sensitive where Delta samples range boundaries;
    * the trade is a fully codegen per-row expression and no sampled
    * state. Same staged swap as compact — the previous generation is
    * retained for [[tableAsOf]]; ledger op `ZORDER`.
    */
  def zorder(
      layer: String,
      table: String,
      cols: Seq[String],
      targetRowsPerFile: Long = 1_000_000L,
      bits: Int = 8
  ): Long =
    withWriterLock(layer, table)(zorderImpl(layer, table, cols, targetRowsPerFile, bits))

  /** Numeric-ish columns scale to equi-width buckets; everything else
    * hashes (equality skipping only) — shared by [[zorder]] and
    * [[zorderIncremental]].
    */
  private[sources] def zIsNumeric(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType   => true
      case _: org.apache.spark.sql.types.DateType      => true
      case _: org.apache.spark.sql.types.TimestampType => true
      case _                                           => false
    }

  /** Global (min, max) per numeric z-column — one aggregation pass. */
  private[sources] def zStats(df: DataFrame, cols: Seq[String]): Map[String, (Double, Double)] = {
    val numCols = cols.filter(zIsNumeric(df, _))
    if (numCols.isEmpty) Map.empty
    else {
      val aggs = numCols.flatMap(c =>
        Seq(min(col(c).cast("double")).as(s"__min_$c"), max(col(c).cast("double")).as(s"__max_$c")))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      numCols.map(c => c -> (r.getAs[Double](s"__min_$c"), r.getAs[Double](s"__max_$c"))).toMap
    }
  }

  /** The bit-interleaved Z-value expression over `cols` with the given
    * global stats — fully codegen per-row arithmetic, no sampled state.
    */
  private[sources] def zExpr(df: DataFrame, cols: Seq[String], bits: Int,
      stats: Map[String, (Double, Double)]): Column = {
    val maxB = (1 << bits) - 1
    def bucket(c: String): Column =
      if (zIsNumeric(df, c)) {
        val (lo, hi) = stats(c)
        if (hi <= lo) lit(0)
        else least(
          lit(maxB),
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(maxB + 1))).cast("int")
      } else pmod(xxhash64(col(c)), lit(maxB + 1)).cast("int")
    val buckets = cols.map(bucket)
    (0 until bits)
      .flatMap(i => buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), i * cols.size + j)
      })
      .reduce(_.bitwiseOR(_))
  }

  private[sources] def zorderImpl(
      layer: String,
      table: String,
      cols: Seq[String],
      targetRowsPerFile: Long,
      bits: Int
  ): Long = {
    repairCrashedSwap(layer, table)
    materializeDv(layer, table) // rewrite never runs against live tombstones
    require(cols.nonEmpty && cols.size <= 4, "zorder supports 1-4 columns")
    val target = tablePath(layer, table)
    val df     = mergedRead(layer, table)
    val rows   = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val z      = zExpr(df, cols, bits, zStats(df, cols))
    val staging = new Path(target + ".__staging")
    fs.delete(staging, true)
    val pcols = partitionColumns(layer, table) // preserve the live layout
    val obs = org.apache.spark.sql.Observation()
    val writer = df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
    (if (pcols.nonEmpty) writer.partitionBy(pcols: _*) else writer).parquet(staging.toString)
    val back = obs.get("n").asInstanceOf[Long]
    require(back == rows, s"zorder changed row count: $rows -> $back")
    retireAndSwap(layer, table, staging)
    logOp(layer, table, "ZORDER", inserted = 0, updated = 0, outputRows = rows)
    rows
  }

  /** Liquid-clustering-shaped incremental Z-order: re-cluster ONLY the
    * files whose key span is wide relative to the table's — freshly
    * appended files cover the whole key range (span fraction ≈ 1),
    * already-clustered files cover a thin slice — and byte-copy the
    * rest. [[zorder]] rewrites 100% of the table on every call; on a
    * 100 TB table that went through one full cluster pass and daily
    * appends, this variant rewrites only the append tail (the Delta
    * Liquid Clustering / OPTIMIZE-incremental idea).
    *
    * A file is a victim when, for ANY numeric clustering column, its
    * (max - min) exceeds `spanThreshold` × the table's global span.
    * Per-file min/max come from ONE column-pruned aggregation keyed by
    * `input_file_name` (footer-stat-driven at scan time); the same
    * pass yields the global stats the Z-expression scales by, so the
    * incremental rewrite lands victims' rows on the SAME Z-curve the
    * full pass used — ranges stay compatible across calls. Requires at
    * least one numeric column (string spans are unmeasurable — hash
    * buckets have no order). No victims → a zero-rewrite `ZORDER`
    * no-op commit. Partitioned layouts delegate to the full rewrite.
    * Returns the number of files rewritten.
    */
  def zorderIncremental(
      layer: String,
      table: String,
      cols: Seq[String],
      spanThreshold: Double = 0.5,
      targetRowsPerFile: Long = 1_000_000L,
      bits: Int = 8
  ): Long =
    withWriterLock(layer, table)(
      zorderIncrementalImpl(layer, table, cols, spanThreshold, targetRowsPerFile, bits))

  /** Clustering-health gauge (the [[zorderIncremental]] twin of the
    * simhash bucket-occupancy dashboard): one row per numeric
    * clustering column — file count, average and maximum per-file span
    * fraction of the global range, and the count of files whose span
    * exceeds `spanThreshold` (exactly the files an incremental pass
    * would rewrite). What an operator watches to SCHEDULE reclustering
    * instead of discovering a degraded layout from slow scans. Two
    * aggregation passes (per-file min/max keyed by `input_file_name`,
    * then the summary), no per-file driver collect — O(files) rows
    * reduce to |cols| rows.
    */
  def clusterHealth(
      layer: String,
      table: String,
      cols: Seq[String],
      spanThreshold: Double = 0.5
  ): DataFrame = {
    val df      = mergedRead(layer, table)
    val numCols = cols.filter(zIsNumeric(df, _))
    require(numCols.nonEmpty, "clusterHealth needs numeric/date/timestamp columns")
    val perFileAggs = numCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c")))
    val perFile = df.groupBy(input_file_name().as("__f"))
      .agg(perFileAggs.head, perFileAggs.tail: _*)
    val gAggs = numCols.flatMap(c => Seq(
      min(col(s"__min_$c")).as(s"__glo_$c"),
      max(col(s"__max_$c")).as(s"__ghi_$c")))
    val g = perFile.agg(gAggs.head, gAggs.tail: _*).head()
    numCols.map { c =>
      val (lo, hi) = (g.getAs[Double](s"__glo_$c"), g.getAs[Double](s"__ghi_$c"))
      val span = hi - lo
      val frac =
        if (span <= 0) lit(0.0)
        else (col(s"__max_$c") - col(s"__min_$c")) / lit(span)
      perFile.agg(
        lit(c).as("column"),
        count(lit(1)).as("n_files"),
        avg(frac).as("avg_span_frac"),
        max(frac).as("max_span_frac"),
        sum(when(frac > spanThreshold, 1L).otherwise(0L)).as("wide_files"))
    }.reduce(_.unionByName(_))
  }


  private[sources] def zorderIncrementalImpl(
      layer: String,
      table: String,
      cols: Seq[String],
      spanThreshold: Double,
      targetRowsPerFile: Long,
      bits: Int
  ): Long = {
    repairCrashedSwap(layer, table)
    materializeDv(layer, table) // rewrite never runs against live tombstones
    require(cols.nonEmpty && cols.size <= 4, "zorder supports 1-4 columns")
    require(spanThreshold > 0 && spanThreshold <= 1, "spanThreshold must be in (0, 1]")
    if (partitionColumns(layer, table).nonEmpty) {
      zorderImpl(layer, table, cols, targetRowsPerFile, bits)
      return spark.read.parquet(tablePath(layer, table)).inputFiles.length.toLong
    }
    val df      = mergedRead(layer, table)
    val numCols = cols.filter(zIsNumeric(df, _))
    require(numCols.nonEmpty,
      "zorderIncremental needs at least one numeric/date/timestamp column to measure spans")
    // one pass: per-file min/max/count for every numeric z-column
    val perFileAggs = numCols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__min_$c"),
      max(col(c).cast("double")).as(s"__max_$c"))) :+ count(lit(1)).as("__rows")
    val perFile = df
      .groupBy(input_file_name().as("__f"))
      .agg(perFileAggs.head, perFileAggs.tail: _*)
      .collect()
    val stats: Map[String, (Double, Double)] = numCols.map { c =>
      c -> (perFile.map(_.getAs[Double](s"__min_$c")).min,
            perFile.map(_.getAs[Double](s"__max_$c")).max)
    }.toMap
    val victims = perFile.filter { r =>
      numCols.exists { c =>
        val (lo, hi) = stats(c)
        val span = hi - lo
        span > 0 && (r.getAs[Double](s"__max_$c") - r.getAs[Double](s"__min_$c")) >
          spanThreshold * span
      }
    }
    if (victims.isEmpty) {
      logOp(layer, table, "ZORDER", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val victimFiles = victims.map(r => normDataFile(r.getAs[String]("__f"))).toSet
    val victimRows  = victims.map(_.getAs[Long]("__rows")).sum
    val nFiles = math.max(1L, (victimRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val z = zExpr(df, cols, bits, stats)
    val (_, outputRows) = rewriteFiles(layer, table, df, Seq.empty, victimFiles, Seq.empty,
      _.withColumn("__z", z)
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")) { (_, back) =>
      require(back == victimRows, s"zorder changed row count: $victimRows -> $back")
    }
    logOp(layer, table, "ZORDER", inserted = 0, updated = 0, outputRows = outputRows)
    victimFiles.size.toLong
  }

  // ---- constraints (Delta CHECK / NOT NULL invariant parity) ----
  //
  // `ALTER TABLE ADD CONSTRAINT` semantics: adding a constraint
  // validates the EXISTING data first (refuses to record if any row
  // violates, like Delta), and every later write validates its incoming
  // row images BEFORE any data lands — strictly before the staged swap,
  // so a violating batch changes nothing (no version bump, no feed
  // rows). CHECK follows the SQL standard: a row violates only when the
  // predicate evaluates to FALSE — NULL passes (use a NOT NULL
  // constraint for null rejection, the same split Delta makes between
  // CHECK constraints and column invariants). Enforcement covers the
  // ops that introduce new row images: CTAS/replace (full data), APPEND
  // and MERGE (the incoming batch — existing rows were validated when
  // the constraint was added), and UPDATE (the assigned post-images).
  // DELETE cannot violate; COMPACT / ZORDER / RESTORE are
  // value-preserving.
  //
  // Storage is a tiny driver-side sidecar `<table>.__constraints`
  // (escaped tab-separated name/kind/expr) — O(constraints) bytes read
  // once per write, the same cost class as the ledger lookup. Like the
  // stats sidecar it lives BESIDE the table dir, so a generation swap
  // or full REPLACE keeps the table's contract (Delta keeps constraints
  // in table properties through REPLACE too); [[dropTable]] removes it.

  private[sources] def constraintsPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__constraints")

  private[sources] def escField(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c    => c.toString
  }

  private[sources] def unescField(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b += '\\'
          case 't'  => b += '\t'
          case 'n'  => b += '\n'
          case 'r'  => b += '\r'
          case o    => b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** The table's recorded constraints as (name, kind, expression);
    * kind ∈ {CHECK, NOT NULL} (expression holds the column name for
    * NOT NULL).
    */
  def constraints(layer: String, table: String): Seq[(String, String, String)] = {
    val p = constraintsPath(layer, table)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t') // fields are escaped; raw tabs never appear
        require(f.length == 3, s"corrupt constraints sidecar line: $line")
        (unescField(f(0)), unescField(f(1)), unescField(f(2)))
      }.toSeq
    }
  }

  private[sources] def writeConstraintsSidecar(
      layer: String, table: String, cs: Seq[(String, String, String)]): Unit =
    if (cs.isEmpty) { fs.delete(constraintsPath(layer, table), false); () }
    else {
      val out = fs.create(constraintsPath(layer, table), true)
      try out.write(cs.map { case (n, k, e) =>
        s"${escField(n)}\t${escField(k)}\t${escField(e)}"
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }

  // ── Table properties ──────────────────────────────────────────────
  // Delta TBLPROPERTIES parity: free-form key/value metadata that
  // survives REPLACE / generation swaps (same `.__` sidecar lifecycle
  // as constraints — dropTable's prefix delete removes it). Properties
  // are metadata only; nothing in the engine interprets them, exactly
  // like Delta's user-facing property bag.

  private[sources] def propertiesPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__properties")

  /** The table's recorded properties, insertion-ordered. */
  def tableProperties(layer: String, table: String): Seq[(String, String)] = {
    val p = propertiesPath(layer, table)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t')
        require(f.length == 2, s"corrupt properties sidecar line: $line")
        (unescField(f(0)), unescField(f(1)))
      }.toSeq
    }
  }

  private[sources] def writePropertiesSidecar(
      layer: String, table: String, ps: Seq[(String, String)]): Unit =
    if (ps.isEmpty) { fs.delete(propertiesPath(layer, table), false); () }
    else {
      val out = fs.create(propertiesPath(layer, table), true)
      try out.write(ps.map { case (k, v) => s"${escField(k)}\t${escField(v)}" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** Upsert properties (Delta `ALTER TABLE SET TBLPROPERTIES`); an
    * existing key is overwritten in place, new keys append. Logged as
    * a zero-metric commit so DESCRIBE HISTORY shows the change, like
    * Delta's SET TBLPROPERTIES commit.
    */
  def setTableProperties(layer: String, table: String, props: Seq[(String, String)]): Unit =
    withWriterLock(layer, table) {
      require(fs.exists(new Path(tablePath(layer, table))),
        s"$layer.$table does not exist")
      val cur   = tableProperties(layer, table)
      val byKey = props.toMap
      val merged = cur.map { case (k, v) => k -> byKey.getOrElse(k, v) } ++
        props.filterNot { case (k, _) => cur.exists(_._1 == k) }
      writePropertiesSidecar(layer, table, merged)
      logOp(layer, table, "SET TBLPROPERTIES", inserted = 0, updated = 0, outputRows = 0)
    }

  /** Remove properties by key (Delta `ALTER TABLE UNSET TBLPROPERTIES`);
    * unknown keys are ignored unless `ifExists` is false.
    */
  def unsetTableProperties(
      layer: String, table: String, keys: Seq[String], ifExists: Boolean = true): Unit =
    withWriterLock(layer, table) {
      val cur = tableProperties(layer, table)
      if (!ifExists) keys.foreach(k =>
        require(cur.exists(_._1 == k), s"table property $k is not set on $layer.$table"))
      writePropertiesSidecar(layer, table, cur.filterNot(p => keys.contains(p._1)))
      logOp(layer, table, "UNSET TBLPROPERTIES", inserted = 0, updated = 0, outputRows = 0)
    }

  /** Record a CHECK constraint after validating the existing data
    * against it (Delta `ALTER TABLE ADD CONSTRAINT`): throws
    * [[Warehouse.ConstraintViolationException]] and records nothing if
    * any current row evaluates the predicate to FALSE.
    */
  def addCheckConstraint(layer: String, table: String, name: String, sqlExpr: String): Unit =
    withWriterLock(layer, table) {
      require(name.nonEmpty && sqlExpr.nonEmpty, "constraint needs a name and an expression")
      val existing = constraints(layer, table)
      require(!existing.exists(_._1 == name), s"constraint '$name' already exists")
      if (tableExists(layer, table))
        // also analysis-validates the expression against the live schema
        failOnViolations(s"$layer.$table", "ADD CONSTRAINT",
          this.table(layer, table), Seq(name -> expr(sqlExpr)))
      writeConstraintsSidecar(layer, table, existing :+ ((name, "CHECK", sqlExpr)))
    }

  /** Record a NOT NULL invariant on a column (validating existing
    * data first). Unlike CHECK, a later write that omits the column
    * entirely VIOLATES it (the stored rows would hold NULL), matching
    * Delta's column-invariant behavior.
    */
  def addNotNullConstraint(layer: String, table: String, colName: String): Unit =
    withWriterLock(layer, table) {
      require(colName.nonEmpty, "NOT NULL constraint needs a column")
      val existing = constraints(layer, table)
      val name     = s"$colName IS NOT NULL"
      require(!existing.exists(_._1 == name), s"constraint '$name' already exists")
      if (tableExists(layer, table)) {
        val live = this.table(layer, table)
        require(live.columns.contains(colName),
          s"NOT NULL constraint on unknown column $colName")
        failOnViolations(s"$layer.$table", "ADD CONSTRAINT", live,
          Seq(name -> col(colName).isNotNull))
      }
      writeConstraintsSidecar(layer, table, existing :+ ((name, "NOT NULL", colName)))
    }

  /** Drop a constraint by name; true if it existed. */
  def dropConstraint(layer: String, table: String, name: String): Boolean =
    withWriterLock(layer, table) {
      val existing = constraints(layer, table)
      val kept     = existing.filterNot(_._1 == name)
      if (kept.size != existing.size) { writeConstraintsSidecar(layer, table, kept); true }
      else false
    }

  /** Validate incoming row images against the table's recorded
    * constraints in ONE aggregate pass; throws naming every violated
    * constraint, BEFORE the caller stages any data. A CHECK whose
    * columns this write doesn't carry passes vacuously (schema
    * evolution null-backfills them, and NULL satisfies CHECK); an
    * absent NOT NULL column is an outright violation.
    */
  private[sources] def enforceConstraints(
      layer: String, table: String, rows: DataFrame, op: String): Unit = {
    val cs = constraints(layer, table)
    if (cs.isEmpty) return
    val missingNotNull = cs.collect {
      case (n, "NOT NULL", c) if !rows.columns.contains(c) => n
    }
    if (missingNotNull.nonEmpty)
      throw new Warehouse.ConstraintViolationException(
        s"$op on $layer.$table violates: ${missingNotNull.mkString(", ")} " +
          "(column absent from the written batch — stored rows would be NULL)")
    val checks: Seq[(String, Column)] = cs.flatMap {
      case (n, "NOT NULL", c) => Some(n -> col(c).isNotNull)
      case (n, _, e) =>
        // a CHECK over columns this batch doesn't carry passes vacuously
        try { rows.select(expr(e)); Some(n -> expr(e)) }
        catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
    if (checks.nonEmpty) failOnViolations(s"$layer.$table", op, rows, checks)
  }

  /** One aggregate over `rows` counting, per constraint, rows whose
    * predicate is FALSE (NULL passes — SQL CHECK semantics; NOT NULL
    * predicates never evaluate to NULL).
    */
  private[sources] def failOnViolations(
      tableName: String, op: String, rows: DataFrame,
      checks: Seq[(String, Column)]): Unit = {
    val aggs = checks.map { case (_, ok) =>
      sum(when(ok === false, 1L).otherwise(0L)) }
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    val bad = checks.zipWithIndex.collect {
      case ((n, _), i) if !r.isNullAt(i) && r.getLong(i) > 0 =>
        s"$n (${r.getLong(i)} rows)"
    }
    if (bad.nonEmpty)
      throw new Warehouse.ConstraintViolationException(
        s"$op on $tableName violates: ${bad.mkString("; ")} — nothing was written")
  }

  /** DLT-style "expect or drop" append (the third leg of the
    * expectations triad: [[append]] under constraints is
    * expect-or-fail, no constraints is expect): rows passing every
    * recorded constraint append to the table; violating rows, tagged
    * with the comma-joined names of the constraints they violate
    * (`_violated`, in constraint-declaration order), append to
    * `<table>__quarantine` in the same layer — a REAL table: list it,
    * query it, replay it after fixing upstream. The 100 TB posture: a
    * handful of bad rows must not fail a day's ingest, but silently
    * dropping them loses the quality signal — the quarantine table IS
    * the data-quality ledger. One classification pass over the batch
    * (each constraint one codegen'd predicate), then the two appends;
    * cost scales with the delta, never the table. Returns
    * (appended, quarantined).
    */
  def appendOrQuarantine(layer: String, table: String, df0: DataFrame): (Long, Long) =
    withWriterLock(layer, table) {
      // generated columns materialize BEFORE classification, so a
      // constraint over a generated column sees real values (a carried
      // mismatch still refuses the whole batch — it is writer error,
      // not data quality)
      val df = applyGenerated(layer, table, df0, "APPEND")
      val cs = constraints(layer, table)
      if (cs.isEmpty) (appendImpl(layer, table, df), 0L)
      else {
        // same per-constraint semantics as enforceConstraints: CHECK
        // violates on FALSE (NULL passes; absent columns vacuous),
        // NOT NULL violates on null values or a wholly absent column
        val checks: Seq[(String, Column)] = cs.map {
          case (n, "NOT NULL", c) =>
            n -> (if (df.columns.contains(c)) col(c).isNotNull else lit(false))
          case (n, _, e) =>
            n -> (try { df.select(expr(e)); coalesce(expr(e), lit(true)) }
                  catch { case _: org.apache.spark.sql.AnalysisException => lit(true) })
        }
        val tags = array(checks.map { case (n, ok) => when(ok === false, lit(n)) }: _*)
        val tagged = df.withColumn("_violated", filter(tags, x => x.isNotNull))
        val good = tagged.filter(size(col("_violated")) === 0).drop("_violated")
        val bad = tagged.filter(size(col("_violated")) > 0)
          .withColumn("_violated", concat_ws(",", col("_violated")))
        // good rows pass by construction; appendImpl's own enforcement
        // re-proves it (one extra agg over the delta — cheap insurance)
        val nGood = appendImpl(layer, table, good)
        val nBad =
          if (bad.isEmpty) 0L // don't materialize an empty quarantine
          else append(layer, table + "__quarantine", bad)
        (nGood, nBad)
      }
    }

  // ---- generated columns (Delta generated-column parity) ----
  //
  // A column declared as `GENERATED ALWAYS AS (expr)`: writers may omit
  // it (the engine computes it during the write) or carry it (the
  // carried values are validated against the expression and a mismatch
  // refuses the batch — Delta's exact contract). Declared via
  // [[addGeneratedColumn]] at any point, not just CREATE: if the live
  // table lacks the column the declaration BACKFILLS it through one
  // staged rewrite (safe under the swap protocol, one extra commit);
  // if the column exists its values must already match. UPDATEs that
  // assign a generated column, or any column its expression derives
  // from, are refused — the projection evaluates assignments against
  // pre-update rows, so an inline recompute would read stale sources;
  // a derivation-changing rewrite goes through createOrReplace, which
  // recomputes. Stored in a `<table>.__generated` sidecar (same
  // escaped-TSV, same lifecycle as `.__constraints`).

  private[sources] def generatedPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__generated")

  /** The table's generated columns as (name, expression), in
    * declaration order.
    */
  def generatedColumns(layer: String, table: String): Seq[(String, String)] = {
    val p = generatedPath(layer, table)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val f = line.split('\t')
        require(f.length == 2, s"corrupt generated sidecar line: $line")
        (unescField(f(0)), unescField(f(1)))
      }.toSeq
    }
  }

  private[sources] def writeGeneratedSidecar(
      layer: String, table: String, gens: Seq[(String, String)]): Unit =
    if (gens.isEmpty) { fs.delete(generatedPath(layer, table), false); () }
    else {
      val out = fs.create(generatedPath(layer, table), true)
      try out.write(gens.map { case (n, e) => s"${escField(n)}\t${escField(e)}" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** Column names a SQL expression references (pre-analysis — the
    * UPDATE guard needs them before any plan is resolved).
    */
  private[sources] def exprDeps(e: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name.toLowerCase
    }.toSet

  /** Declare `colName` as GENERATED ALWAYS AS (sqlExpr). Existing
    * column → values must already match (refused otherwise, nothing
    * recorded); absent column → backfilled via one staged rewrite
    * preserving the partition layout.
    */
  def addGeneratedColumn(layer: String, table: String, colName: String, sqlExpr: String): Unit =
    withWriterLock(layer, table) {
      require(colName.nonEmpty && sqlExpr.nonEmpty,
        "generated column needs a name and an expression")
      val existing = generatedColumns(layer, table)
      require(!existing.exists(_._1 == colName),
        s"generated column '$colName' already declared")
      require(!exprDeps(sqlExpr).contains(colName.toLowerCase),
        s"generated column $colName cannot derive from itself")
      if (tableExists(layer, table)) {
        val live = this.table(layer, table)
        if (live.columns.contains(colName))
          failOnViolations(s"$layer.$table", "ADD GENERATED COLUMN", live,
            Seq(s"generated $colName mismatch" -> (col(colName) <=> expr(sqlExpr))))
        else {
          val pcols = partitionColumns(layer, table)
          val filled = live.withColumn(colName, expr(sqlExpr))
          createOrReplaceImpl(layer, table, filled, pcols)
        }
      }
      writeGeneratedSidecar(layer, table, existing :+ ((colName, sqlExpr)))
    }

  /** Drop a generated-column declaration (the data column stays, it
    * just stops being maintained); true if it existed.
    */
  def dropGeneratedColumn(layer: String, table: String, colName: String): Boolean =
    withWriterLock(layer, table) {
      val existing = generatedColumns(layer, table)
      val kept     = existing.filterNot(_._1 == colName)
      if (kept.size != existing.size) { writeGeneratedSidecar(layer, table, kept); true }
      else false
    }

  /** Materialize the table's generated columns on an incoming batch:
    * omitted columns are computed, carried columns are validated
    * against their expression in one aggregate pass (null-safe
    * equality) and a mismatch refuses the batch.
    */
  private[sources] def applyGenerated(
      layer: String, table: String, df: DataFrame, op: String): DataFrame = {
    val gens = generatedColumns(layer, table)
    if (gens.isEmpty) return df
    val out = gens.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }
    val carried = gens.filter { case (c, _) => df.columns.contains(c) }
    if (carried.nonEmpty)
      failOnViolations(s"$layer.$table", op, out,
        carried.map { case (c, e) =>
          s"generated $c mismatch" -> (col(c) <=> expr(e))
        })
    out
  }

  // ---- data-skipping file pruning (Delta file-stats parity) ----

  private[sources] def statsPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__stats")

  private[sources] def normFile(s: String): String = new Path(s).toUri.getPath

  /** Build the per-file min/max statistics sidecar (`<table>.__stats`):
    * one row per data file with `min_<col>`/`max_<col>` for each given
    * column — the engine's answer to Delta's per-file stats in the
    * transaction log, and what makes [[zorder]] PAY OFF: clustering
    * shrinks each file's value span, so a selective predicate's range
    * intersects few files and [[scanPruned]] plans a scan over exactly
    * those, instead of relying on row-group-level skipping inside a
    * full file listing. One pass over the stat columns (the
    * `input_file_name` groupBy shuffles file-count rows, not data);
    * the sidecar swaps in via staging like every other write. Returns
    * the number of files profiled.
    */
  def collectStats(layer: String, table: String, cols: Seq[String]): Long =
    withWriterLock(layer, table) {
      require(cols.nonEmpty, "collectStats needs at least one column")
      writeSidecar(statsPath(layer, table), statsFor(rawTable(layer, table), cols))
    }

  /** Per-file min/max stats rows for an arbitrary slice of the table
    * (the whole table on a full build, only the DML-rewritten files on
    * an incremental [[refreshStats]]).
    */
  private[sources] def statsFor(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Stage-swap a sidecar table into place; returns its row count. */
  private[sources] def writeSidecar(p: Path, rows: DataFrame): Long = {
    val staging = new Path(p.toString + ".__staging")
    fs.delete(staging, true)
    val obs = org.apache.spark.sql.Observation()
    rows.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.delete(p, true)
    if (!fs.rename(staging, p))
      throw new java.io.IOException(s"rename $staging -> $p failed")
    obs.get("n").asInstanceOf[Long]
  }

  /** Incrementally refresh the stats sidecar: rows for files still
    * present are retained VERBATIM (file-granular COW keeps their
    * bytes, so their stats stay true), stats are computed only for
    * files the sidecar has never seen (a DML's rewritten output), and
    * rows for vanished files drop. Cost O(changed files' rows), not
    * O(table) — the piece that keeps the skipping layer cheap under a
    * steady DML stream at 100 TB. Falls back to a full
    * [[collectStats]] when the sidecar is missing or lacks one of the
    * requested columns (a new column must be profiled in every file).
    */
  def refreshStats(layer: String, table: String, cols: Seq[String]): Long =
    withWriterLock(layer, table)(refreshStatsImpl(layer, table, cols))

  private[sources] def refreshStatsImpl(layer: String, table: String, cols: Seq[String]): Long = {
    require(cols.nonEmpty, "refreshStats needs at least one column")
    val p = statsPath(layer, table)
    if (!fs.exists(p)) return collectStats(layer, table, cols)
    val existing  = spark.read.parquet(p.toString)
    val priorCols = existing.columns.collect {
      case n if n.startsWith("min_") => n.stripPrefix("min_")
    }.toSeq
    val allCols = (priorCols ++ cols).distinct
    if (!cols.forall(priorCols.contains)) return collectStats(layer, table, allCols)
    val df            = rawTable(layer, table)
    val existingFiles = existing.select(col("file")).collect().map(_.getString(0))
    val existingNorm  = existingFiles.map(normFile).toSet
    val currentRaw    = df.inputFiles.toSeq
    val currentNorm   = currentRaw.map(normFile).toSet
    val retainedRaw   = existingFiles.filter(f => currentNorm.contains(normFile(f))).toSeq
    val missingRaw    = currentRaw.filterNot(f => existingNorm.contains(normFile(f)))
    if (missingRaw.isEmpty && retainedRaw.length == existingFiles.length)
      return existingFiles.length.toLong // already fresh
    val retained = existing.filter(col("file").isin(retainedRaw: _*))
    if (missingRaw.isEmpty) return writeSidecar(p, retained)
    val fresh = statsFor(
      readFilesAligned(missingRaw, df.schema, basePath = Some(tablePath(layer, table))),
      allCols)
    writeSidecar(p, retained.unionByName(fresh))
  }

  /** Data-skipping scan: rows with `colName` BETWEEN lo AND hi, read
    * from ONLY the files whose [min, max] intersects the range — the
    * read side of [[collectStats]] and the piece that turns a z-ordered
    * layout into skipped I/O (a selective range after [[zorder]] reads
    * a strict file subset — spec-asserted). Stale or missing stats
    * (file set changed since [[collectStats]], or the column was never
    * profiled) recompute automatically, so the result is ALWAYS exactly
    * `table.filter(between)` — pruning is a plan property, never a
    * correctness property. Files whose stats row is all-null (no
    * non-null values of the column) are skipped: NULL never matches a
    * range predicate.
    */
  def scanPruned(layer: String, table: String, colName: String, lo: Any, hi: Any): DataFrame = {
    // raw scan for file-set math: stats rows describe physical files
    // (tombstoned rows included — conservative, pruning stays safe);
    // the RESULT is tombstone-subtracted below, so the contract
    // `scanPruned ≡ table.filter(between)` holds under live DVs too
    val df      = rawTable(layer, table)
    val p       = statsPath(layer, table)
    val current = df.inputFiles.map(normFile).toSet
    def stats() = spark.read.parquet(p.toString)
    // one sidecar job answers BOTH freshness (full file set must match
    // the live listing) and the prune (per-file intersect flag) — the
    // file list must come to the driver either way, so a second
    // read-and-collect would be pure overhead on the probe path
    def tryPrune(): Option[IndexedSeq[String]] = {
      if (!fs.exists(p)) return None
      val s = stats()
      if (!s.columns.contains(s"min_$colName")) return None
      val rows = s
        .select(col("file"),
          (!(col(s"max_$colName") < lit(lo) || col(s"min_$colName") > lit(hi))).as("s"))
        .collect()
      if (rows.map(r => normFile(r.getString(0))).toSet != current) None
      else Some(rows.filter(_.getBoolean(1)).map(_.getString(0)).toIndexedSeq)
    }
    val surviving = tryPrune().getOrElse {
      // incremental: COW DMLs leave most files (and their stats rows)
      // intact — only never-seen files are profiled; a brand-new
      // column or missing sidecar falls back to the full build inside
      refreshStats(layer, table, Seq(colName))
      tryPrune().getOrElse(
        throw new IllegalStateException(s"stats sidecar $p stale immediately after rebuild"))
    }
    val pred = col(colName).between(lit(lo), lit(hi))
    if (surviving.isEmpty) df.filter(lit(false))
    else
      applyDv(
        spark.read
          .option("mergeSchema", "true")
          // basePath so a partitioned table's directory columns
          // materialize exactly as a whole-table read would
          .option("basePath", tablePath(layer, table))
          .parquet(surviving: _*),
        layer, table, Long.MaxValue, partitionColumns(layer, table).length)
        .filter(pred)
  }

  // ---- bloom-filter file skipping (Delta bloom-index parity) ----

  private[sources] def bloomPath(layer: String, table: String, colName: String): Path =
    new Path(tablePath(layer, table) + s".__bloom_$colName")

  /** Build a per-file BLOOM sidecar over `colName` — the equality twin
    * of [[collectStats]]: min/max ranges cannot prune a point lookup on
    * a high-cardinality key that every file's span covers (the GDPR
    * find-this-user shape), a bloom filter can. One row per data file:
    * (file, m bits, k hashes, sparse bitmap as `map<word -> long>`).
    *
    * Built entirely from codegen'd SQL primitives — no UDF, no
    * driver-side sketch objects: each row explodes to its k hash
    * positions (chained `xxhash64(i, v)`), positions fold into 64-bit
    * words via `bit_or`, and map-side partial aggregation collapses a
    * partition's contribution to at most m/64 words per file BEFORE the
    * shuffle — the shuffle carries O(files x m/64) words, never O(rows).
    * `m` is sized per file from its row count (~`bitsPerKey` bits each,
    * pow-2 for cheap masking), so small and large files both hit the
    * designed false-positive rate (~1% at the default 10 bits/key,
    * k = 7); the sidecar is ~m/8 bytes per file — KBs — and swaps in
    * via staging like every write. Returns the number of files profiled.
    */
  def collectBloom(layer: String, table: String, colName: String, bitsPerKey: Int = 10): Long =
    withWriterLock(layer, table) {
      require(bitsPerKey >= 1, "bitsPerKey must be >= 1")
      writeSidecar(bloomPath(layer, table, colName),
        bloomFor(rawTable(layer, table), colName, bitsPerKey))
    }

  /** Per-file bloom rows for an arbitrary slice of the table (whole
    * table on a full build, only rewritten files on [[refreshBloom]]).
    */
  private[sources] def bloomFor(df: DataFrame, colName: String, bitsPerKey: Int): DataFrame = {
    val k = math.max(1, math.round(bitsPerKey * math.log(2)).toInt)
    // per-file m: one small driver-side file->rows map (file-count rows,
    // the same cardinality every planner holds), rejoined by broadcast
    val fileRows = df
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"))
      .select(col("file"),
        call_function("shiftleft", lit(1L),
          ceil(log2(greatest(col("rows") * bitsPerKey, lit(1024)))).cast("int")).as("m"))
    val rows = df
      .select(input_file_name().as("file"), col(colName).as("v"))
      .join(broadcast(fileRows), "file")
    val words = rows
      .select(col("file"), col("m"),
        explode(array((0 until k).map(i => pmod(xxhash64(lit(i), col("v")), col("m"))): _*))
          .as("pos"))
      .select(col("file"), col("m"),
        shiftright(col("pos"), 6).cast("int").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("bit"))
      .groupBy(col("file"), col("m"), col("word"))
      .agg(bit_or(col("bit")).as("bits"))
    words
      .groupBy(col("file"), col("m"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits")))).as("bitmap"))
      .select(col("file"), col("m"), lit(k).as("k"), col("bitmap"))
  }

  /** Incremental bloom-sidecar refresh — the [[refreshStats]] twin:
    * COW-carried files keep their rows verbatim, only never-seen files
    * build blooms, vanished files drop. Falls back to a full
    * [[collectBloom]] on a missing sidecar or a changed hash count
    * (different `bitsPerKey`).
    */
  def refreshBloom(layer: String, table: String, colName: String, bitsPerKey: Int = 10): Long =
    withWriterLock(layer, table)(refreshBloomImpl(layer, table, colName, bitsPerKey))

  private[sources] def refreshBloomImpl(layer: String, table: String, colName: String, bitsPerKey: Int): Long = {
    val p = bloomPath(layer, table, colName)
    if (!fs.exists(p)) return collectBloom(layer, table, colName, bitsPerKey)
    val k        = math.max(1, math.round(bitsPerKey * math.log(2)).toInt)
    val existing = spark.read.parquet(p.toString)
    val kPrior = existing.select(max(col("k"))).head() match {
      case r if r.isNullAt(0) => return collectBloom(layer, table, colName, bitsPerKey)
      case r                  => r.getInt(0)
    }
    if (kPrior != k) return collectBloom(layer, table, colName, bitsPerKey)
    val df            = rawTable(layer, table)
    val existingFiles = existing.select(col("file")).collect().map(_.getString(0))
    val existingNorm  = existingFiles.map(normFile).toSet
    val currentRaw    = df.inputFiles.toSeq
    val currentNorm   = currentRaw.map(normFile).toSet
    val retainedRaw   = existingFiles.filter(f => currentNorm.contains(normFile(f))).toSeq
    val missingRaw    = currentRaw.filterNot(f => existingNorm.contains(normFile(f)))
    if (missingRaw.isEmpty && retainedRaw.length == existingFiles.length)
      return existingFiles.length.toLong
    val retained = existing.filter(col("file").isin(retainedRaw: _*))
    if (missingRaw.isEmpty) return writeSidecar(p, retained)
    val fresh = bloomFor(
      readFilesAligned(missingRaw, df.schema, basePath = Some(tablePath(layer, table))),
      colName, bitsPerKey)
    writeSidecar(p, retained.unionByName(fresh))
  }

  /** Point-lookup scan: rows with `colName` in `values`, read from ONLY
    * the files whose bloom filter admits at least one of the values —
    * the read side of [[collectBloom]]. The probe evaluates the SAME
    * `xxhash64` chain the build used, as SQL expressions over the
    * KB-sized sidecar (literals cast to the column type so an `Int`
    * probe of a `bigint` column hashes identically); a missing word in
    * the sparse bitmap is zero bits. Stale or missing sidecars (file
    * set changed, column never profiled) rebuild automatically, and the
    * surviving files re-filter with the real predicate — so the result
    * is ALWAYS exactly `table.filter(col isin values)`: bloom false
    * positives cost I/O, never correctness. At 100 TB this turns
    * find-these-keys (GDPR lookup/delete pre-scan, CDC key audit) from
    * read-every-file into read-~1%-of-files.
    */
  def scanPrunedEq(layer: String, table: String, colName: String, values: Seq[Any]): DataFrame = {
    require(values.nonEmpty, "scanPrunedEq needs at least one probe value")
    val df      = rawTable(layer, table) // file-set math on the bare scan; result DV-filtered below
    val vtype   = df.schema(colName).dataType
    val p       = bloomPath(layer, table, colName)
    val current = df.inputFiles.map(normFile).toSet
    def sidecar() = spark.read.parquet(p.toString)
    def admits(k: Int)(v: Any): Column =
      (0 until k)
        .map { i =>
          val pos = pmod(xxhash64(lit(i), lit(v).cast(vtype)), col("m"))
          coalesce(try_element_at(col("bitmap"), shiftright(pos, 6).cast("int")), lit(0L))
            .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0L
        }
        .reduce(_ && _)
    // two KB-sized sidecar jobs total: one row-peek for k (needed at
    // expression-build time), then a single pass computing the per-file
    // admit flag AND the file list the freshness comparison needs
    // driver-side anyway (see scanPruned)
    def tryPrune(): Option[IndexedSeq[String]] = {
      if (!fs.exists(p)) return None
      val s = sidecar()
      val kMax = s.select(max(col("k"))).head() match {
        case r if r.isNullAt(0) => return None // empty sidecar
        case r                  => r.getInt(0)
      }
      val rows =
        if (values.lengthCompare(16) <= 0)
          // few probes: one flat OR expression, zero extra operators
          s.select(col("file"), values.map(admits(kMax)).reduce(_ || _).as("s"))
            .collect()
        else {
          // MANY probes (a GDPR request of hundreds/thousands of keys):
          // an OR of |values|·k bloom probes is a codegen-exploding
          // expression tree (measured: seconds of compile per run at
          // ~1500 keys). Go relational instead — explode the probe
          // values against the KB-sized sidecar (|files|·|values|
          // intermediate rows, trivial next to any data scan),
          // evaluate ONE O(k) admit expression per pair, fold per
          // file. The literal array constant-folds, so the plan stays
          // O(k) expression nodes no matter how long the request is.
          val probe = col("__probe")
          val admitCol = (0 until kMax)
            .map { i =>
              val pos = pmod(xxhash64(lit(i), probe), col("m"))
              coalesce(try_element_at(col("bitmap"), shiftright(pos, 6).cast("int")), lit(0L))
                .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0L
            }
            .reduce(_ && _)
          s.select(col("file"), col("m"), col("bitmap"),
              explode(array(values.distinct.map(v => lit(v).cast(vtype)): _*)).as("__probe"))
            .select(col("file"), admitCol.as("a"))
            .groupBy(col("file"))
            .agg(max(when(col("a"), 1).otherwise(0)).as("ai"))
            .select(col("file"), (col("ai") === 1).as("s"))
            .collect()
        }
      if (rows.map(r => normFile(r.getString(0))).toSet != current) None
      else Some(rows.filter(_.getBoolean(1)).map(_.getString(0)).toIndexedSeq)
    }
    val surviving = tryPrune().getOrElse {
      refreshBloom(layer, table, colName) // incremental; full build inside when needed
      tryPrune().getOrElse(
        throw new IllegalStateException(s"bloom sidecar $p stale immediately after rebuild"))
    }
    val pred = col(colName).isin(values: _*)
    if (surviving.isEmpty) df.filter(lit(false))
    else
      applyDv(
        spark.read
          .option("mergeSchema", "true")
          .option("basePath", tablePath(layer, table))
          .parquet(surviving: _*),
        layer, table, Long.MaxValue, partitionColumns(layer, table).length)
        .filter(pred)
  }

  /** [[scanPrunedEq]] with a DataFrame-valued key list — the form an
    * EXTERNALLY-SIZED request (a GDPR forget feed, a CDC key audit, a
    * revocation table) needs: the literal overload inlines every key
    * into an `isin` predicate, which is driver memory and a
    * codegen-visible expression ∝ |keys| — fine for a hand-held list,
    * wrong for one that arrives as data. Here the keys NEVER visit the
    * driver:
    *
    *   - the bloom probe goes relational — the KB-per-file sidecar
    *     cross-joins the (distinct, cast, null-dropped) key column and
    *     ONE O(k) admit expression evaluates per (file, key) pair,
    *     folding to a per-file admit map. |files|·|keys| bloom hashes
    *     of pure CPU, zero data I/O; the collected map is |files|
    *     booleans — the same driver bound `df.inputFiles` already
    *     costs (concrete file paths must reach `spark.read` anyway);
    *   - the surviving files re-filter with a LEFT SEMI join against
    *     the key frame (broadcast when small — AQE's call), so the
    *     result is ALWAYS exactly `table ⋉ keys` on `colName`, bloom
    *     false positives costing I/O, never correctness. NULL keys
    *     match nothing, exactly like SQL `IN`.
    *
    * At a crossover (millions of keys × very many files) the probe's
    * |files|·|keys| CPU exceeds just reading everything — past it,
    * skip the bloom and semi-join the full scan; the method stays
    * correct either way, the sidecar only changes the I/O bill.
    */
  def scanPrunedEq(layer: String, table: String, colName: String, keys: DataFrame): DataFrame = {
    require(keys.columns.length == 1,
      s"keys frame must have exactly the key column, got ${keys.columns.mkString(", ")}")
    val df      = rawTable(layer, table)
    val vtype   = df.schema(colName).dataType
    val p       = bloomPath(layer, table, colName)
    val current = df.inputFiles.map(normFile).toSet
    val probes  = keys.na.drop()
      .select(col(keys.columns.head).cast(vtype).as("__probe")).distinct()
    if (probes.isEmpty) return df.filter(lit(false))
    def tryPrune(): Option[IndexedSeq[String]] = {
      if (!fs.exists(p)) return None
      val s = spark.read.parquet(p.toString)
      val kMax = s.select(max(col("k"))).head() match {
        case r if r.isNullAt(0) => return None // empty sidecar
        case r                  => r.getInt(0)
      }
      val probe = col("__probe")
      val admitCol = (0 until kMax)
        .map { i =>
          val pos = pmod(xxhash64(lit(i), probe), col("m"))
          coalesce(try_element_at(col("bitmap"), shiftright(pos, 6).cast("int")), lit(0L))
            .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= 0L
        }
        .reduce(_ && _)
      val rows = s.crossJoin(probes)
        .select(col("file"), admitCol.as("a"))
        .groupBy(col("file"))
        .agg(max(when(col("a"), 1).otherwise(0)).as("ai"))
        .select(col("file"), (col("ai") === 1).as("s"))
        .collect()
      if (rows.map(r => normFile(r.getString(0))).toSet != current) None
      else Some(rows.filter(_.getBoolean(1)).map(_.getString(0)).toIndexedSeq)
    }
    val surviving = tryPrune().getOrElse {
      refreshBloom(layer, table, colName) // incremental; full build inside when needed
      tryPrune().getOrElse(
        throw new IllegalStateException(s"bloom sidecar $p stale immediately after rebuild"))
    }
    if (surviving.isEmpty) df.filter(lit(false))
    else
      applyDv(
        spark.read
          .option("mergeSchema", "true")
          .option("basePath", tablePath(layer, table))
          .parquet(surviving: _*),
        layer, table, Long.MaxValue, partitionColumns(layer, table).length)
        .join(probes, col(colName) === col("__probe"), "left_semi")
  }
}
