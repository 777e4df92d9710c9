package graft.sources

import graft.operators.{MergeClause, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Copy-on-write DML: CTAS, APPEND, DELETE, UPDATE and MERGE. CTAS is
  * a whole-table replace through [[Warehouse.replaceTable]], the body
  * every replacing write shares. DELETE, UPDATE, REORG, incremental
  * Z-order and partition-scoped compaction rewrite through one
  * file-granular body, [[rewriteFiles]]; MERGE has its own front end
  * and copy-on-write body ([[mergeCow]]), which also decides which
  * action every row takes. UPDATE and MERGE share one assignment guard
  * ([[checkAssignments]]). Every body commits its change rows through
  * [[appendFeed]], and every counted write is [[Warehouse.writeCounted]].
  * A flat table is the no-partition-columns case of each body. The
  * members self-type on [[Warehouse]] and share its package-private
  * core (locks, staged swap, ledger).
  */
private[sources] trait WarehouseDml { self: Warehouse =>

  /** Cluster a staged partitioned REWRITE on the partition columns
    * before `partitionBy`: without it, every upstream task writes its
    * own file into every directory it holds rows for — a rewrite
    * touching 500 directories from 32 tasks stages up to 16k files per
    * generation, and every later scan pays 16k file opens (the
    * 100× DML rung measured the partitioned MV/merge at 4–7× their
    * flat twins on exactly this). Hash-clustered on the partition
    * value, each touched directory is written by ONE task (the
    * [[WarehouseMaintenance]] compaction recipe): file count per
    * rewrite = touched directories. A single over-large partition can
    * still split its output via `spark.sql.files.maxRecordsPerFile`;
    * task PARALLELISM within one partition value is inherently 1 under
    * any hash-on-partition-columns layout — directories needing more
    * writers than that want a finer partitioning key, not more files
    * per rewrite.
    */
  private def clusterStaged(df: DataFrame, pcols: Seq[String], touched: Int): DataFrame =
    df.repartition(math.max(touched, 1), pcols.map(col): _*)

  /** The file-granular copy-on-write rewrite (Delta's
    * rewrite-touched-files-only, in the snapshot-dir model) that
    * DELETE, UPDATE, REORG and incremental Z-order share. `files` are
    * the touched data files of `read` (the table's merged read,
    * decoded domain); on a partitioned table `parts` are their
    * partition tuples in the inferred-type string domain. The touched
    * files are decoded, passed through `rewrite` and staged; every
    * other file of the scope byte-copies into the staged generation
    * without decoding. `beforeSwap` runs on the touched rows and the
    * rewritten-row count once the generation is staged and before it
    * goes live — the place for the feed write and for checks that must
    * refuse the commit. Returns its result and the new generation's
    * row count within the scope (rewritten rows observed from the
    * write job, carried rows from parquet footers). The layout decides
    * three things only:
    *
    *   - the scope: the whole table, or the live leaf directories of
    *     `parts` ([[retireDirsFor]], so every on-disk spelling of a
    *     touched value is found);
    *   - clustering the staged rewrite on the partition columns
    *     ([[clusterStaged]]);
    *   - the swap: the whole table, or only the scope's directories.
    */
  private[sources] def rewriteFiles[A](
      layer: String,
      table: String,
      read: DataFrame,
      pcols: Seq[String],
      files: Set[String],
      parts: Seq[Seq[String]],
      rewrite: DataFrame => DataFrame
  )(beforeSwap: (DataFrame, Long) => A): (A, Long) = {
    val target = tablePath(layer, table)
    val (retireDirs, carry) =
      if (pcols.isEmpty)
        (Seq.empty[String], read.inputFiles.map(normDataFile).filterNot(files).toSeq.map((_, "")))
      else {
        val rd = retireDirsFor(new Path(target), pcols, read.schema, parts)
        (rd, dataFilesUnder(new Path(target), rd).filterNot(p => files.contains(p._1)))
      }
    val staging = freshStaging(target)
    val touched = readFilesAligned(files.toSeq, read.schema, basePath = Some(target))
    val rows    = rewrite(touched)
    val rewritten = writeCounted(
      if (pcols.isEmpty) rows else clusterStaged(rows, pcols, parts.length), staging.toString, pcols)
    copyFilesInto(carry, staging)
    // footer-only count BEFORE the feed write keeps the feed-to-ledger
    // commit window minimal (see [[mergeCow]])
    val carried = footerRowCount(carry.map(_._1), Some(target))
    val result  = beforeSwap(touched, rewritten)
    if (pcols.isEmpty) retireAndSwap(layer, table, staging)
    else swapPartitions(layer, table, staging, retireDirs, pcols.length)
    (result, rewritten + carried)
  }

  /** The scope probe of a predicate DML op: ONE pushed-predicate
    * `input_file_name()` scan of the rows `hit` selects yields the
    * touched files and, on a partitioned table, their partition tuples
    * (string-cast from the inferred partition types — the domain
    * [[retireDirsFor]] matches in, so `day=05` and `x=1.50` spellings
    * still retire). `input_file_name()` is evaluated at the scan,
    * before any shuffle, so it is exact. Both empty when nothing
    * matches.
    */
  private def hitScope(
      df: DataFrame,
      hit: Column,
      pcols: Seq[String]
  ): (Set[String], Seq[Seq[String]]) = {
    val rows = df.filter(hit)
      .select((pcols.map(c => col(c).cast("string")) :+ input_file_name()): _*)
      .distinct().collect()
    (rows.map(r => normDataFile(r.getString(pcols.length))).toSet,
      rows.map(r => pcols.indices.map(r.getString).toSeq).toSeq.distinct)
  }

  /** `df` with `assignments` applied to the rows `hit` selects, each
    * value cast to its column's existing type — an UPDATE never changes
    * the schema. Assignment keys match column names case-insensitively,
    * as MERGE's SET clauses do. Assignments evaluate against the
    * pre-update row (one projection, SQL UPDATE semantics).
    */
  private[sources] def applyAssignments(
      df: DataFrame,
      assignments: Map[String, Column],
      hit: Column = lit(true)
  ): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      assignments.collectFirst { case (k, a) if k.equalsIgnoreCase(f.name) => a } match {
        case Some(a) => when(hit, a.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None    => col(f.name)
      }
    }: _*)

  /** The checks every UPDATE and MERGE runs on the column names it
    * assigns, case-insensitively: real columns only, never an identity
    * column (its values are engine-owned), never a generated column nor
    * one it derives from — assignments evaluate against the rows before
    * the change, so an inline recompute would read stale sources;
    * rewrite via createOrReplace to change a derivation. `op` names the
    * operation in the refusal.
    */
  private[sources] def checkAssignments(
      layer: String,
      table: String,
      op: String,
      assigned: Iterable[String],
      columns: Seq[String]
  ): Unit = {
    val colsLower = columns.map(_.toLowerCase).toSet
    assigned.foreach(c =>
      require(colsLower.contains(c.toLowerCase), s"$op assigns unknown column $c"))
    val keys = assigned.map(_.toLowerCase).toSet
    identityColumns(layer, table).foreach { case (c, _, _) =>
      require(!keys.contains(c.toLowerCase),
        s"$op cannot assign identity column $c (GENERATED ALWAYS AS IDENTITY)")
    }
    generatedColumns(layer, table).foreach { case (c, e) =>
      require(!keys.contains(c.toLowerCase),
        s"$op cannot assign generated column $c (GENERATED ALWAYS AS $e)")
      val overlap = exprDeps(e).intersect(keys)
      require(overlap.isEmpty,
        s"$op assigns ${overlap.mkString(", ")}, which generated column " +
          s"$c derives from — rewrite via createOrReplace to keep $c consistent")
    }
  }

  /** CREATE OR REPLACE TABLE AS SELECT (reference bronze_arxiv.py:102).
    * Writes to a staging dir first, then swaps — safe when `df` reads
    * from the table being replaced (a plain overwrite would delete its
    * own input mid-plan) and idempotent on re-run.
    */
  def createOrReplace(layer: String, table: String, df: DataFrame): Long =
    withWriterLock(layer, table)(createOrReplaceImpl(layer, table, df))

  /** CTAS partitioned by the given columns (hive-style directories).
    * Partitioning silver/gold by run_date gives dynamic partition
    * pruning on date-filtered reads for free (SURVEY §4) — the scan
    * shows PartitionFilters instead of reading every file.
    */
  def createOrReplacePartitioned(
      layer: String,
      table: String,
      df: DataFrame,
      partitionCols: Seq[String]
  ): Long =
    withWriterLock(layer, table)(createOrReplaceImpl(layer, table, df, partitionCols))

  /** The one CTAS body, flat (no `partitionCols`) or hive-partitioned. */
  private[sources] def createOrReplaceImpl(
      layer: String,
      table: String,
      df0: DataFrame,
      partitionCols: Seq[String] = Seq.empty
  ): Long = {
    val gen = applyGenerated(layer, table, df0, "CREATE OR REPLACE")
    // a REPLACE may legitimately carry the identity column (it is a
    // table redefinition — the engine's own DDL rewrites route here)
    val (df, idHighs) = applyIdentity(layer, table, gen, allowCarry = true)
    commitIdentity(layer, table, idHighs)
    enforceConstraints(layer, table, df, "CREATE OR REPLACE")
    val rows = replaceTable(layer, table)(staging => writeCounted(df, staging.toString, partitionCols))
    logOp(layer, table, "CREATE OR REPLACE", inserted = rows, updated = 0, outputRows = rows)
    primeSchemaCache(layer, table, df.schema) // a partitioned table keeps inference
    rows
  }

  /** DELETE FROM ... WHERE (Delta parity — and the right-to-be-
    *-forgotten primitive a training-data warehouse is legally required
    * to have): file-granular copy-on-write through [[rewriteFiles]] —
    * only files containing matched rows are decoded and rewritten, the
    * rest of the scope byte-copies into the new generation, and on a
    * partitioned table only the directories holding matched rows swap
    * — so the pre-delete generation stays [[tableAsOf]]-readable until
    * pruned and a crash never loses the table. Deleted rows are
    * recorded in the change feed as `_change_type = 'delete'` (Delta
    * CDF does the same) — a downstream consumer must SEE deletions to
    * forget the rows too; a feed that only carries upserts silently
    * re-leaks deleted data from derived tables. A predicate matching
    * nothing skips the rewrite, feed and generation but still logs a
    * `DELETE 0` ledger commit with a version bump (Delta records a
    * DELETE commit even at zero matched rows — the one no-op convention
    * across every DML entry point; a version with no generation folds
    * into its predecessor on time travel, like APPEND). Ledger
    * `num_output_rows` counts the rows of the rewritten scope — the
    * whole table, or the touched partitions. Returns the deleted-row
    * count.
    */
  def delete(layer: String, table: String, predicate: Column): Long =
    withWriterLock(layer, table)(deleteImpl(layer, table, predicate))

  private[sources] def deleteImpl(layer: String, table: String, predicate: Column): Long = {
    repairCrashedSwap(layer, table)
    materializeDv(layer, table) // rewrite never runs against live tombstones
    val pcols = partitionColumns(layer, table)
    val df    = mergedRead(layer, table)
    // NULL predicate keeps the row (Delta DELETE semantics): a bare
    // !predicate would silently drop NULL-evaluating rows from BOTH
    // the survivors and the feed — rows vanishing unrecorded
    val hit            = coalesce(predicate, lit(false))
    val (files, parts) = hitScope(df, hit, pcols)
    if (files.isEmpty) {
      logOp(layer, table, "DELETE", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val ver = nextVersion(s"$layer.$table")
    val (deleted, outputRows) = rewriteFiles(layer, table, df, pcols, files, parts, _.filter(!hit)) {
      (touched, _) =>
        appendFeed(layer, table, ver, touched.filter(hit).withColumn("_change_type", lit("delete")))
    }
    logOp(layer, table, "DELETE", inserted = 0, updated = 0,
      outputRows = outputRows, version = ver, deleted = deleted)
    primeSchemaCache(layer, table, df.schema)
    primeFeedSchemaCache(layer, table, df.schema)
    deleted
  }

  /** UPDATE ... SET ... WHERE (the last of the Delta DML triad next to
    * MERGE and DELETE): [[rewriteFiles]] applying `assignments` to the
    * predicate's rows — NULL predicate keeps the row unchanged, like
    * DELETE, and zero matches log an `UPDATE 0` commit (the no-op
    * convention of [[delete]]). Both change-feed images are recorded
    * (update_preimage / update_postimage), so downstream incremental
    * consumers subtract the old row and add the new one. Assignments
    * are cast to the column's existing type — an UPDATE never changes
    * the schema. On a partitioned table, partition-column assignments
    * are refused: they would move rows across directories, which is
    * MERGE semantics ([[upsert]] moves rows correctly through its
    * matched-key partition set). Returns the updated-row count.
    */
  def update(
      layer: String,
      table: String,
      predicate: Column,
      assignments: Map[String, Column]
  ): Long =
    withWriterLock(layer, table)(updateImpl(layer, table, predicate, assignments))

  private[sources] def updateImpl(
      layer: String,
      table: String,
      predicate: Column,
      assignments: Map[String, Column]
  ): Long = {
    repairCrashedSwap(layer, table)
    materializeDv(layer, table) // rewrite never runs against live tombstones
    val df  = mergedRead(layer, table)
    checkAssignments(layer, table, "UPDATE", assignments.keys, df.columns.toSeq)
    val hit = coalesce(predicate, lit(false))
    // post-images of the matched slice — the only new row images an
    // UPDATE introduces; checked before anything stages
    if (constraints(layer, table).nonEmpty)
      enforceConstraints(layer, table, applyAssignments(df.filter(hit), assignments), "UPDATE")
    val pcols = partitionColumns(layer, table)
    require(
      !assignments.keys.exists(k => pcols.exists(_.equalsIgnoreCase(k))),
      s"partition-scoped UPDATE cannot assign partition columns (${pcols.mkString(",")}): " +
        "rows would move between partitions — use upsert (MERGE) instead")
    val (files, parts) = hitScope(df, hit, pcols)
    if (files.isEmpty) {
      logOp(layer, table, "UPDATE", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val ver = nextVersion(s"$layer.$table")
    val (updated, outputRows) =
      rewriteFiles(layer, table, df, pcols, files, parts, applyAssignments(_, assignments, hit)) {
        (touched, _) =>
          val pre  = touched.filter(hit)
          val post = applyAssignments(pre, assignments)
          appendFeed(layer, table, ver,
            pre.withColumn("_change_type", lit("update_preimage"))
              .unionByName(post.withColumn("_change_type", lit("update_postimage")))) / 2
      }
    logOp(layer, table, "UPDATE", inserted = 0, updated = updated,
      outputRows = outputRows, version = ver)
    primeSchemaCache(layer, table, df.schema)
    primeFeedSchemaCache(layer, table, df.schema)
    updated
  }

  // ---- MERGE: one front end, one copy-on-write body ----
  //
  // Every MERGE entry point is a clause set: [[upsert]] is
  // [[mergeClauses]] over [[MergeClause.upsertShape]], [[upsertMor]]
  // is [[mergeClausesMor]] over the same shape. [[mergeFrontEnd]] is
  // shared by both bodies; [[mergeCow]] serves flat and hive-partitioned
  // tables alike (a flat table is the `pcols.isEmpty` case), and the
  // merge-on-read body lives with the tombstones in [[WarehouseMor]].

  /** MERGE INTO (reference silver_arxiv.py:130-152) — the conditional
    * upsert `WHEN MATCHED AND s.version > t.version THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *`, run as [[mergeClauses]] over
    * [[MergeClause.upsertShape]], with metrics to the ledger exactly
    * like Delta's operationMetrics (numTargetRowsInserted/Updated/
    * numOutputRows). `WriteMetrics.kept` counts every target row the
    * merge left as it was, carried files included. Several source rows
    * matching one target row raise only when one of them would update
    * it (Delta's rule); duplicates that all lose the version rule keep
    * the target row once.
    */
  def upsert(
      layer: String,
      table: String,
      src: DataFrame,
      keys: Seq[String],
      versionCol: String
  ): Upsert.WriteMetrics = {
    val (m, nm, bs) = MergeClause.upsertShape(versionCol)
    mergeClauses(layer, table, src, keys, m, nm, bs).writeMetrics
  }

  /** MERGE with the full Delta clause surface: any number of WHEN
    * MATCHED [AND cond] THEN UPDATE-SET-star / DELETE clauses,
    * conditional WHEN NOT MATCHED inserts, and WHEN NOT MATCHED BY
    * SOURCE THEN UPDATE/DELETE — classified by
    * [[graft.operators.Upsert.planClauses]] (one full-outer join,
    * per-column CASE chains, duplicate-source raise) and written
    * copy-on-write by [[mergeCow]]: file-granular rewrite, staged
    * swap, change-feed rows for every image (insert / update_preimage
    * / update_postimage / delete), zero-change no-op commits, schema
    * evolution via union-align. Conditions and assignment expressions
    * reference the sides as `t.`/`s.` — see
    * [[graft.operators.MergeClause]].
    */
  def mergeClauses(
      layer: String,
      table: String,
      src: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource] = Seq.empty
  ): Upsert.MergeClauseMetrics =
    withWriterLock(layer, table)(
      mergeFrontEnd(layer, table, src, keys, matched, notMatched, bySource)(
        mergeCow(layer, table, _, _, keys, matched, notMatched, bySource)))

  /** The front end both MERGE bodies share: crash repair, the
    * absent-table bootstrap, generated and identity columns with the
    * identity-key refusal, constraints, and clause-assignment
    * validation. Runs `body` on the prepared source and the union of
    * the target and source schemas, or returns the seeding metrics when
    * the table was absent.
    */
  private[sources] def mergeFrontEnd(
      layer: String,
      table: String,
      src0: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource]
  )(body: (DataFrame, StructType) => Upsert.MergeClauseMetrics): Upsert.MergeClauseMetrics = {
    repairCrashedSwap(layer, table)
    if (!tableExists(layer, table)) {
      // an absent target: every source row is NOT MATCHED, so the
      // matched and BY SOURCE clauses have nothing to act on and the
      // rows the INSERT clauses claim seed the table
      require(notMatched.forall { case MergeClause.InsertNotMatched(_, values) => values.isEmpty },
        s"$layer.$table does not exist — INSERT (cols) VALUES seeding needs a schema; use INSERT *")
      val seed = notMatched.foldRight(lit(false): Column)((c, els) =>
        c.cond.map(_ || els).getOrElse(lit(true)))
      // createOrReplace generates, assigns identities and enforces itself
      val n = createOrReplace(layer, table, src0.alias("s").filter(seed))
      return Upsert.MergeClauseMetrics(inserted = n, updated = 0, deleted = 0, kept = 0)
    }
    val gen = applyGenerated(layer, table, src0, "MERGE")
    require(!keys.exists(k => identityColumns(layer, table).exists(_._1.equalsIgnoreCase(k))),
      "cannot MERGE on a GENERATED ALWAYS AS IDENTITY column — sources cannot carry it")
    val (src, idHighs) = applyIdentity(layer, table, gen, allowCarry = false)
    commitIdentity(layer, table, idHighs) // ids burn even if the merge refuses
    // every new row image a merge can store comes from the incoming
    // batch (kept rows were validated when the constraint was added) —
    // validated whole, so a row a conditional merge would discard still
    // rejects the batch: stricter than Delta's written-rows-only check,
    // and cheaper than running the merge plan just to find the winners
    enforceConstraints(layer, table, src, "MERGE")
    // schema evolution: both sides align to the union schema (new
    // source columns null-backfill old target rows, missing source
    // columns are tolerated)
    val tgtSchema = mergedSchemaOf(layer, table).getOrElse(mergedRead(layer, table).schema)
    val unioned   = unionSchema(tgtSchema, src.schema)
    val assigned = (
      matched.collect { case MergeClause.UpdateMatched(_, Some(set)) => set.keys } ++
        notMatched.collect { case MergeClause.InsertNotMatched(_, Some(vs)) => vs.keys } ++
        bySource.collect { case MergeClause.UpdateBySource(_, set) => set.keys }
    ).flatten
    checkAssignments(layer, table, "MERGE", assigned, unioned.fieldNames.toSeq)
    body(src, unioned)
  }

  /** The copy-on-write MERGE body, for both layouts. Only target files
    * holding a source key are decoded into the merge; every other file
    * of the scope byte-copies into the staged generation and its rows
    * count as carried. The layout decides three things only:
    *
    *   - the scope: a flat table's scope is the whole table (one
    *     partition, the empty tuple); a partitioned table's is the
    *     source rows' partitions ∪ the matched target rows' current
    *     homes, so a source row that changes a matched row's partition
    *     rewrites BOTH directories and the row moves without
    *     duplication;
    *   - clustering the staged rewrite on the partition columns
    *     ([[clusterStaged]]);
    *   - the swap: the whole table, or only the scope's directories.
    *
    * A BY SOURCE clause can modify any target row and a source-only
    * new column must null-backfill every file, so either one rewrites
    * every file of the scope — and BY SOURCE widens a partitioned scope
    * to every partition. Delete-action rows leave the rewrite and land
    * in the feed as `delete` pre-images.
    */
  private def mergeCow(
      layer: String,
      table: String,
      src: DataFrame,
      unioned: StructType,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource]
  ): Upsert.MergeClauseMetrics = {
    materializeDv(layer, table) // rewrite never runs against live tombstones
    val pcols = partitionColumns(layer, table)
    require(
      pcols.forall(src.columns.contains),
      s"partitioned MERGE source must carry the partition columns (${pcols.mkString(",")})")
    val target     = tablePath(layer, table)
    val tgt0       = this.table(layer, table)
    val srcAligned = alignTo(src, unioned)
    val newCols    = unioned.fieldNames.filterNot(tgt0.columns.contains)
    val rewriteAll = newCols.nonEmpty || bySource.nonEmpty
    // ONE semi-join pass yields the matched files (the COW rewrite set)
    // and, on a partitioned table, the matched rows' partitions —
    // `input_file_name()` rides along the same scan
    def probe(scan: DataFrame): Array[Row] = {
      val tgtF    = scan.withColumn("__graft_file", input_file_name())
      val srcKeys = srcAligned.select(keys.map(col): _*).distinct()
      tgtF
        .join(srcKeys, keys.map(k => tgtF(k) <=> srcKeys(k)).reduce(_ && _), "left_semi")
        .select((pcols.map(c => col(c).cast("string")) :+ col("__graft_file")): _*)
        .distinct().collect()
    }
    def probedFiles(rows: Array[Row]): Set[String] =
      rows.map(r => normDataFile(r.getString(pcols.length))).toSet
    // the scope: touched partition tuples, the live leaf dirs the swap
    // retires, the files decoded into the merge, and the files carried
    // as bytes (with their leaf dir)
    val (touched, retireDirs, matchedFiles, carry) =
      if (pcols.isEmpty) {
        val all = tgt0.inputFiles.map(normDataFile).toSeq
        val m   = if (rewriteAll) all.toSet else probedFiles(probe(tgt0))
        (Seq(Seq.empty[String]), Seq.empty[String], m, all.filterNot(m).map((_, "")))
      } else {
        val srcParts = touchedPartitions(srcAligned, pcols)
        // Partition-pruned probe (the Delta idiom "put the partition
        // column in the ON clause"): when the merge keys CONTAIN every
        // partition column, a matched row must already live in one of
        // the source's partitions, so the probe scans only that slice
        // (PartitionFilters, zero I/O outside it). A key-only merge
        // probes the whole table: a matched key may live in — and move
        // from — any partition. With BY SOURCE the scope is every
        // partition and every file rewrites, so the probe is skipped.
        val rows =
          if (bySource.nonEmpty) Array.empty[Row]
          else if (pcols.forall(keys.contains) && srcParts.nonEmpty)
            probe(pruneToTouched(tgt0, srcParts, pcols))
          else probe(tgt0)
        val touched =
          if (bySource.nonEmpty) touchedPartitions(tgt0, pcols)
          else (srcParts ++ rows.map(r => pcols.indices.map(r.getString).toSeq)).distinct
        if (touched.isEmpty) {
          // touched empty ⟺ the source has zero rows. Documented
          // divergence: a ZERO-ROW source carrying a new column does not
          // evolve the schema here (Delta would update metadata); with
          // no rows there is no slice to rewrite the column into. Every
          // row is kept, footer-counted as a flat table's carried files are
          logOp(layer, table, "MERGE", inserted = 0, updated = 0, outputRows = 0)
          return Upsert.MergeClauseMetrics(0, 0, 0,
            footerRowCount(tgt0.inputFiles.map(normDataFile).toSeq, Some(target)))
        }
        val rd    = retireDirsFor(new Path(target), pcols, tgt0.schema, touched)
        val slice = dataFilesUnder(new Path(target), rd)
        val m     = if (rewriteAll) slice.map(_._1).toSet else probedFiles(rows)
        (touched, rd, m, slice.filterNot(p => m.contains(p._1)))
      }
    val touchedTgt =
      if (matchedFiles.isEmpty) tgt0.limit(0)
      else readFilesAligned(matchedFiles.toSeq, tgt0.schema, basePath = Some(target))
    val merged = Upsert.planClauses(alignTo(touchedTgt, unioned), srcAligned, keys,
      matched, notMatched, bySource, insertOnlyCols = identityColumns(layer, table).map(_._1).toSet)
    // Action counts AND the output rows' partition tuples in one narrow
    // job (Catalyst prunes the join to keys + condition columns +
    // marks): a clause expression may ASSIGN a partition column, landing
    // rows in a partition outside `touched`, which must join the scope
    // before its retire dirs and carried files are fixed, or the swap
    // would replace that live directory with only the merged rows
    val actionParts = merged
      .groupBy((col(Upsert.ActionCol) +: pcols.map(c => col(c).cast("string"))): _*)
      .count().collect()
    val counts = actionParts.groupBy(_.getString(0))
      .map { case (a, rs) => a -> rs.map(_.getLong(pcols.length + 1)).sum }.withDefaultValue(0L)
    val (ins, upd, del, keptPlan) =
      (counts("insert"), counts("update"), counts("delete"), counts("keep"))
    // zero-change early exit: a re-run where every source row loses
    // (an idempotent re-run) skips the rewrite, the feed append and the
    // retired generation, but STILL records a MERGE 0/0 commit with a
    // version bump — Delta logs a MERGE commit even at zero changed
    // rows, and the reference reads DESCRIBE HISTORY after every run
    // (silver_arxiv.py:175-184). A version with no generation folds
    // into its predecessor on time travel, like APPEND. A source-only
    // new column forces the rewrite even at zero changes (Delta's MERGE
    // commit updates table metadata).
    if (ins == 0 && upd == 0 && del == 0 && newCols.isEmpty) {
      logOp(layer, table, "MERGE", inserted = 0, updated = 0, outputRows = 0)
      return Upsert.MergeClauseMetrics(0, 0, 0,
        keptPlan + footerRowCount(carry.map(_._1), Some(target)))
    }
    // Widen the scope with any partition the merged OUTPUT lands in that
    // the source/matched-homes probe missed (partition-column
    // assignment). Those partitions' rows can never be key-matched (all
    // matched homes are in `touched`), so the plan is unaffected: their
    // live files byte-carry into the staging tree. A flat scope is
    // already everything.
    val outParts = actionParts.toSeq
      .filter(r => r.getString(0) == "insert" || r.getString(0) == "update")
      .map(r => pcols.indices.map(i => r.getString(i + 1)).toSeq)
    val touchedAll = (touched ++ outParts).distinct
    val (retireAll, carryAll) =
      if (touchedAll.lengthCompare(touched.length) == 0) (retireDirs, carry)
      else {
        val rd = retireDirsFor(new Path(target), pcols, tgt0.schema, touchedAll)
        (rd, dataFilesUnder(new Path(target), rd).filterNot(p => matchedFiles.contains(p._1)))
      }
    val staging = freshStaging(target)
    val ver     = nextVersion(s"$layer.$table")
    // footer-only count BEFORE the feed write: the feed-to-ledger commit
    // window must stay minimal — a streaming feed consumer waits on the
    // commit (see WarehouseStreams.mvRefreshSink)
    val carried = footerRowCount(carryAll.map(_._1), Some(target))
    // ONE full-width execution of the clause plan (see
    // [[Warehouse.stageByAction]]): the action rides as the innermost
    // staging directory, so the staged files are the next generation
    // unchanged and the feed's post-images (and the delete rows, which
    // carry the target pre-image) read back as O(changes) staged bytes
    val byAction = stageByAction(
      if (pcols.isEmpty) merged else clusterStaged(merged, pcols, touchedAll.length),
      staging, Upsert.ActionCol, pcols)
    copyFilesInto(carryAll, staging)
    def staged(action: String, changeType: String): Option[DataFrame] =
      byAction.get(action).filter(_.nonEmpty).map(fls =>
        readFilesAligned(fls, unioned, basePath = Some(staging.toString))
          .withColumn("_change_type", lit(changeType)))
    // update_preimage (full Delta CDF semantics): the replaced target
    // rows, via a semi join of the pre-merge TOUCHED files against the
    // staged updated keys (O(updated) rows). Without preimages a feed
    // consumer cannot SUBTRACT an update, which is what incremental
    // aggregate maintenance needs.
    val updates = staged("update", "update_postimage")
    val pre = updates.map { u =>
      val updatedKeys = u.select(keys.map(col): _*)
      alignTo(touchedTgt.join(updatedKeys,
        keys.map(k => touchedTgt(k) <=> updatedKeys(k)).reduce(_ && _), "left_semi"), unioned)
        .withColumn("_change_type", lit("update_preimage"))
    }
    Seq(staged("insert", "insert"), updates, pre, staged("delete", "delete")).flatten
      .reduceOption(_ unionByName _)
      .foreach(appendFeed(layer, table, ver, _))
    promoteStagedActions(staging, pcols, Set("keep", "insert", "update"))
    if (pcols.isEmpty) {
      ensureStagedSchema(staging, unioned)
      retireAndSwap(layer, table, staging)
    } else swapPartitions(layer, table, staging, retireAll, pcols.length)
    logOp(layer, table, "MERGE", ins, upd,
      outputRows = ins + upd + keptPlan + carried, version = ver, deleted = del)
    primeSchemaCache(layer, table, unioned)
    primeFeedSchemaCache(layer, table, unioned)
    Upsert.MergeClauseMetrics(ins, upd, del, keptPlan + carried)
  }

  /** Append one commit's change rows (`rows` carries `_change_type`)
    * to the table's change feed, in the commit version's partition.
    * Returns the number of rows written, observed from the write job.
    */
  private[sources] def appendFeed(
      layer: String,
      table: String,
      ver: Long,
      rows: DataFrame
  ): Long =
    writeCounted(
      rows.withColumn("_commit_version", lit(ver)).withColumn("_commit_part", lit(f"$ver%010d")),
      tablePath(layer, table) + ".__changes", Seq("_commit_part"), SaveMode.Append)

  /** INSERT INTO ... SELECT (reference silver_google_scholar.py:148).
    * The appended-row count is an `observe` metric collected from the
    * write job itself — one pass over the input, where a pre-count
    * would execute the whole plan twice (the reference's pre/post-count
    * reads Delta's commit metrics, which are likewise free).
    */
  def append(layer: String, table: String, df: DataFrame): Long =
    withWriterLock(layer, table)(appendImpl(layer, table, df))

  private[sources] def appendImpl(layer: String, table: String, df0: DataFrame): Long = {
    repairCrashedSwap(layer, table)
    val gen = applyGenerated(layer, table, df0, "APPEND")
    val (df, idHighs) = applyIdentity(layer, table, gen, allowCarry = false)
    commitIdentity(layer, table, idHighs) // ids burn even if the write refuses
    enforceConstraints(layer, table, df, "APPEND")
    // schema evolution: a widened source appends its new columns (old
    // files surface them as null via the merged read); a source missing
    // target columns is null-backfilled so every file carries the full
    // evolved schema
    val aligned =
      if (!tableExists(layer, table)) df
      else alignTo(df, unionSchema(rawTable(layer, table).schema, df.schema))
    // a partitioned table keeps its layout: root-level data files in a
    // hive tree are a mixed layout Spark's discovery refuses to read
    val n = writeCounted(aligned, tablePath(layer, table), partitionColumns(layer, table),
      SaveMode.Append)
    logOp(layer, table, "APPEND", inserted = n, updated = 0, outputRows = n)
    primeSchemaCache(layer, table, aligned.schema)
    n
  }
}
