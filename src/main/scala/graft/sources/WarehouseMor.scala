package graft.sources

import graft.operators.{MergeClause, Upsert}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Merge-on-read DML (Delta deletion-vector parity): positional
  * tombstone sidecars, the MOR DELETE / UPDATE / MERGE triad, and
  * REORG (fold tombstones back into clean files). Split from
  * Warehouse.scala for reviewability — no behavior change.
  */
private[sources] trait WarehouseMor { self: Warehouse =>

  // ---- deletion vectors (Delta merge-on-read DML parity) ----
  //
  // Copy-on-write DML (delete/update/upsert above) pays O(touched file
  // bytes) per commit: every file holding one matched row decodes and
  // rewrites. Delta's deletion vectors invert the cost: a DELETE writes
  // only the POSITIONS of the deleted rows (a per-file bitmap sidecar)
  // and the scan subtracts them — commit cost O(matched rows), zero
  // data rewritten. The engine's equivalent: a `<table>.__dv` sidecar,
  // hive-partitioned by zero-padded commit version like the change
  // feed, one row per deleted position — (file_name, pos) in the
  // domain of parquet `_metadata.file_name` / `_metadata.row_index`.
  // Positions are stable because data files are immutable: COW carries
  // files by byte-copy (same basename, same bytes) and rewrites under
  // FRESH part-file names (per-job UUID), so a DV row either still
  // matches its file exactly or matches nothing at all — never a
  // different row.
  //
  // Read-side application is one BROADCAST left-anti join on
  // (file_name, row_index) against the corpus scan: the corpus side
  // never shuffles, data filters still push to the parquet scan, and
  // the build side is bounded by the rows deleted since the last
  // rewrite — Delta's own DV regime (accumulate smallish tombstone
  // sets, REORG when they grow). The version-bounded rule that makes
  // this compose with time travel:
  //
  //   visible(asOf) = files(asOf) MINUS dv rows in (lastRewrite(asOf), asOf]
  //
  // where lastRewrite(asOf) is the last REWRITING commit at or before
  // `asOf`. Every rewriting op materializes live DVs first (the
  // [[materializeDv]] barrier at the head of delete/update/upsert/
  // compact/zorder — REPLACE and RESTORE produce all-new files, which
  // achieves the same), so DV partitions at or before a rewrite are
  // CONSUMED by it: current reads broadcast only the post-rewrite
  // tail, never the table's whole deletion history, and a retired
  // generation read at `asOf` applies exactly the tombstones that
  // were live then. DV partitions are append-only and never deleted
  // (retired generations need them); their dead weight after a REORG
  // is one directory listing, not a broadcast.
  //
  // [[updateMor]] extends the scheme to UPDATE the way Delta DVs do:
  // old positions tombstone, post-image rows append as NEW files. The
  // appended basenames are recorded in a `_GRAFT_FILES` manifest
  // inside the commit's DV partition, which buys two properties COW
  // gets from staging: crash rollback ([[repairCrashedSwap]] purges a
  // phantom DV partition AND deletes its manifest's files), and EXACT
  // time travel (a read at `asOf` hides files appended by MOR commits
  // after `asOf` — no append-style fold-forward for MOR updates).

  private[sources] def dvPath(layer: String, table: String): Path =
    new Path(tablePath(layer, table) + ".__dv")

  /** DV partition versions present on disk, ascending. */
  private[sources] def dvVersions(layer: String, table: String): Seq[Long] = {
    val p = dvPath(layer, table)
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_commit_part="))
        .flatMap(_.getPath.getName.stripPrefix("_commit_part=").toLongOption)
        .toSeq
        .sorted
  }

  private[sources] def dvPartDir(layer: String, table: String, v: Long): Path =
    new Path(dvPath(layer, table), f"_commit_part=$v%010d")

  /** A DV partition can be manifest-only (a MOR merge that inserted
    * but updated nothing writes appended-file bookkeeping and zero
    * tombstone rows) — reading it as parquet would fail on schema
    * inference, so tombstone reads take only partitions with data.
    */
  private[sources] def dvPartHasRows(layer: String, table: String, v: Long): Boolean = {
    val d = dvPartDir(layer, table, v)
    fs.exists(d) && fs.listStatus(d).exists { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Ledger predicate for commits that REWROTE table data (retired a
    * generation) — shared by [[rewritingAfter]] and the DV version
    * bounds. APPEND/VACUUM and the merge-on-read ops never rewrite;
    * DML commits rewrite iff their metrics (or an evolution-forced
    * rewrite's kept-row count) are non-zero.
    */
  private[sources] def rewritingOpPred: Column =
    !col("operation").isin("APPEND", "VACUUM", "DELETE_MOR", "UPDATE_MOR", "MERGE_MOR",
      "SET TBLPROPERTIES", "UNSET TBLPROPERTIES") &&
      (!col("operation").isin("MERGE", "DELETE", "UPDATE") ||
        col("num_inserted") + col("num_updated") + col("num_deleted") > 0 ||
        col("num_output_rows") > 0)

  /** (last rewriting commit ≤ asOf, last committed version ≤ asOf) in
    * one ledger scan; (-1, -1) before the first commit. The cap keeps
    * an unlocked reader from applying a crashed writer's phantom DV
    * partition (version claimed, ledger row never written) — the same
    * read-side hiding [[changeFeed]] does for phantom feed partitions.
    */
  private[sources] def dvBounds(tableName: String, asOf: Long): (Long, Long) = {
    val h = history(tableName)
      .filter(col("version") <= asOf)
      .agg(
        max(when(rewritingOpPred, col("version"))).as("floor"),
        max(col("version")).as("cap"))
      .head()
    (if (h.isNullAt(0)) -1L else h.getLong(0), if (h.isNullAt(1)) -1L else h.getLong(1))
  }

  /** Tombstone rows applicable at `asOf` — (file_name, pos) of DV
    * partitions in (lastRewrite(asOf), min(asOf, committed)] — or None
    * when nothing applies (the overwhelmingly common case: one driver
    * directory listing, zero jobs).
    */
  private[sources] def dvRowsFor(layer: String, table: String, asOf: Long): Option[DataFrame] = {
    val all = dvVersions(layer, table)
    if (all.isEmpty) return None
    val (floor, cap) = dvBounds(s"$layer.$table", asOf)
    val vs = all.filter(v => v > floor && v <= math.min(asOf, cap))
      .filter(dvPartHasRows(layer, table, _))
    if (vs.isEmpty) None
    else {
      val p = dvPath(layer, table)
      Some(
        spark.read
          .option("basePath", p.toString)
          .parquet(vs.map(v => dvPartDir(layer, table, v).toString): _*)
          .select(col("file_name").as("__dv_file"), col("pos").as("__dv_pos")))
    }
  }

  /** Table-relative keys of data files APPENDED by MOR commits strictly
    * after `asOf` (each DV partition's `_GRAFT_FILES` manifest) — what
    * a time-travel read must hide to show the pre-update state exactly.
    */
  private[sources] def dvFilesAfter(layer: String, table: String, asOf: Long): Seq[String] =
    dvVersions(layer, table).filter(_ > asOf).flatMap { v =>
      val m = new Path(dvPartDir(layer, table, v), "_GRAFT_FILES")
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      }
    }

  /** Anti-join `withMeta` (carrying __dv_f/__dv_p metadata columns)
    * against tombstones; keeps the metadata columns for callers that
    * still need positions (deleteMor/updateMor write them back out).
    */
  private[sources] def dvAntiJoin(withMeta: DataFrame, dv: DataFrame): DataFrame =
    withMeta.join(
      broadcast(dv),
      col("__dv_f") === col("__dv_file") && col("__dv_p") === col("__dv_pos"),
      "left_anti")

  /** The live rows of `raw` (this table's merged read) that no
    * current tombstone hides, carrying their positions as
    * `__dv_f`/`__dv_p` — the read every merge-on-read op classifies
    * against — together with the tombstones applied (None when none
    * are live).
    */
  private def visibleWithPositions(
      layer: String,
      table: String,
      raw: DataFrame
  ): (DataFrame, Option[DataFrame]) = {
    val withMeta   = withDvMeta(raw, partitionColumns(layer, table).length)
    val tombstones = dvRowsFor(layer, table, Long.MaxValue)
    (tombstones.fold(withMeta)(dvAntiJoin(withMeta, _)), tombstones)
  }

  /** Append one commit's tombstones — the `__dv_f`/`__dv_p` positions
    * of `rows` — to the `.__dv` sidecar, in the commit version's
    * partition. Returns the number of positions written, observed from
    * the write job.
    */
  private def appendTombstones(layer: String, table: String, ver: Long, rows: DataFrame): Long =
    writeCounted(
      rows.select(col("__dv_f").as("file_name"), col("__dv_p").as("pos"))
        .withColumn("_commit_part", lit(f"$ver%010d")),
      dvPath(layer, table).toString, Seq("_commit_part"), SaveMode.Append)

  /** DV file key: the trailing `depth + 1` path segments of the file —
    * `pt=a/part-XXX.parquet` for one partition level, the bare
    * basename unpartitioned. Basenames alone are NOT unique on a
    * partitioned table (one write job reuses its task file names
    * across partition directories), but the partition-relative path
    * is — and it is exactly what survives a byte-copy carry and a
    * generation swap (both preserve the leaf dirs, only the table
    * ROOT changes), while any rewrite issues fresh names.
    *
    * DOMAIN: keys live in the URL-ENCODED URI path domain —
    * `_metadata.file_path` and raw `Dataset.inputFiles` strings agree
    * there (an on-disk dir `pt=a b` is `pt=a%20b` in both), while
    * `FileStatus.getPath` and the read API are DECODED. Every
    * driver-side key therefore derives from a RAW inputFiles string
    * or a `Path.toUri.getRawPath`, never from a decoded listing —
    * mixing domains makes tombstones silently miss on any partition
    * value with an encodable character.
    */
  private[sources] def withDvMeta(df: DataFrame, depth: Int): DataFrame =
    df.withColumn("__dv_f",
        substring_index(col("_metadata.file_path"), "/", -(depth + 1)))
      .withColumn("__dv_p", col("_metadata.row_index"))

  /** The DV file key of a RAW (URL-encoded) file path, driver-side. */
  private[sources] def dvFileKey(rawFile: String, depth: Int): String =
    rawFile.split('/').takeRight(depth + 1).mkString("/")

  /** Decode a manifest/sidecar rel path (encoded domain) back to the
    * on-disk spelling for filesystem operations.
    */
  private[sources] def decodeDvRel(rel: String): String =
    try {
      val p = new java.net.URI(rel).getPath
      if (p == null) rel else p
    } catch { case _: java.net.URISyntaxException => rel }

  /** Rows of `df` (a direct file-source scan of this table, with hive
    * leaf dirs `depth` deep) visible at `asOf`: tombstoned positions
    * subtracted, MOR-appended files from after `asOf` hidden. Schema
    * is unchanged. No-op (zero jobs, the original scan plan) when the
    * table has no applicable DV state.
    *
    * Cost contract (Delta's DV regime): read overhead is proportional
    * to the TOMBSTONED files, not the table. The scan splits driver-
    * side on the sidecar's file keys — clean files read bare (zero
    * per-row overhead, metadata-fast counts intact), only the files
    * actually carrying tombstones materialize position columns and
    * probe the broadcast anti-join — then the branches union. Without
    * the split, a table with one tombstoned file out of thousands
    * would pay the metadata-column + probe cost on EVERY row
    * (measured 33× on a 60M-row count, SCALE.md).
    */
  private[sources] def applyDv(
      df: DataFrame,
      layer: String,
      table: String,
      asOf: Long,
      depth: => Int // by-name: only computed when DV state exists
  ): DataFrame = {
    val allVs = dvVersions(layer, table)
    if (allVs.isEmpty) return df
    // ONE ledger scan bounds everything: tombstones apply in
    // (lastRewrite, eff] and MOR-appended files HIDE beyond eff, where
    // eff caps at the last COMMITTED version — so an in-flight (or
    // crashed) MOR commit is invisible on BOTH sides: its tombstones
    // don't subtract AND its post-image files don't surface (a
    // one-sided cap would show pre- and post-images together)
    val (floor, cap) = dvBounds(s"$layer.$table", asOf)
    val eff          = math.min(asOf, cap)
    val hideKeys     = dvFilesAfter(layer, table, eff).toSet
    val tombVs = allVs.filter(v => v > floor && v <= eff)
      .filter(dvPartHasRows(layer, table, _))
    val tombstones =
      if (tombVs.isEmpty) None
      else {
        val p = dvPath(layer, table)
        Some(
          spark.read
            .option("basePath", p.toString)
            .parquet(tombVs.map(v => dvPartDir(layer, table, v).toString): _*)
            .select(col("file_name").as("__dv_file"), col("pos").as("__dv_pos")))
      }
    if (hideKeys.isEmpty && tombstones.isEmpty) return df
    val d = depth
    // file keys actually tombstoned — one KB-sized sidecar collect
    val tombKeys = tombstones
      .map(_.select("__dv_file").distinct().collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty[String])
    // keys from the RAW (encoded) listing; reads use the decoded twin
    val all   = df.inputFiles.toSeq.map(raw => (normDataFile(raw), dvFileKey(raw, d)))
    val kept  = all.filterNot { case (_, k) => hideKeys.contains(k) }
    val dirty = kept.filter { case (_, k) => tombKeys.contains(k) }.map(_._1)
    val clean = kept.filterNot { case (_, k) => tombKeys.contains(k) }.map(_._1)
    if (dirty.isEmpty && kept.length == all.length) return df
    val schema = df.schema
    val bp     = tablePathForFiles(layer, table, all.headOption.map(_._1), d)
    def readAligned(files: Seq[String]): DataFrame = {
      val reader = spark.read.option("mergeSchema", "true")
      val r      = bp.foldLeft(reader)((r, p) => r.option("basePath", p))
      val raw    = r.parquet(files: _*)
      // bare scan when the subset already carries the full schema (the
      // no-evolution common case) — an align projection on top would
      // block the parquet metadata-only count fast path for the clean
      // branch, re-pricing count() from footer reads to a data scan
      if (raw.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
          schema.fields.map(f => (f.name, f.dataType)).toSeq) raw
      else alignTo(raw, schema)
    }
    val cleanDf =
      if (clean.isEmpty) None else Some(readAligned(clean))
    val dirtyDf =
      if (dirty.isEmpty) None
      else {
        val filtered = dvAntiJoin(withDvMeta(readAligned(dirty), d), tombstones.get)
          .drop("__dv_f", "__dv_p")
        Some(filtered)
      }
    (cleanDf, dirtyDf) match {
      case (Some(c), Some(t)) => c.unionByName(t)
      case (Some(c), None)    => c
      case (None, Some(t))    => t
      case (None, None)       => df.limit(0)
    }
  }

  /** basePath for re-reading a subset of `anyFile`'s snapshot: the
    * directory `depth` levels above the file — the live table root, a
    * retired generation root, whatever the original scan read from —
    * so hive partition columns materialize exactly as before.
    */
  private[sources] def tablePathForFiles(
      layer: String,
      table: String,
      anyFile: Option[String],
      depth: Int
  ): Option[String] =
    anyFile.map { f =>
      var p = new Path(f)
      (0 to depth).foreach(_ => p = p.getParent)
      p.toString
    }

  /** Materialization barrier: every copy-on-write op calls this first,
    * so a rewrite never runs against live tombstones — the invariant
    * behind the (lastRewrite, asOf] read rule. One directory probe
    * when the table has no DV state.
    */
  private[sources] def materializeDv(layer: String, table: String): Unit =
    if (dvVersions(layer, table).nonEmpty) { reorgImpl(layer, table); () }

  /** DELETE via deletion vectors (Delta merge-on-read DELETE): one
    * pushed-predicate scan finds the matched positions; only those
    * (file, pos) tombstones and the change-feed delete rows are
    * written — no file is decoded-and-rewritten, no generation
    * retires, commit cost is O(matched rows) where [[delete]] pays
    * O(touched file bytes). The read side subtracts tombstones with a
    * broadcast anti-join (see the section note). Call [[reorg]] to
    * fold accumulated tombstones back into the files when their
    * broadcast grows past comfort. NULL predicate keeps the row, the
    * zero-match commit follows the unified no-op convention, and
    * deletions land in the change feed exactly like the COW path —
    * downstream consumers cannot tell which mechanics ran.
    */
  def deleteMor(layer: String, table: String, predicate: Column): Long =
    withWriterLock(layer, table)(deleteMorImpl(layer, table, predicate))

  private[sources] def deleteMorImpl(layer: String, table: String, predicate: Column): Long =
    deleteMorMatched(layer, table, _.filter(coalesce(predicate, lit(false))))

  /** DELETE of a DataFrame-valued key list (the [[deleteMor]] twin of
    * `scanPrunedEq(…, keys: DataFrame)`): matched rows are the LEFT
    * SEMI join of the visible table against the key frame on
    * `colName` — the keys never visit the driver, never become an
    * `isin` literal list, and a GDPR request that arrives as a TABLE
    * deletes at O(matched) tombstone cost no matter how long it is.
    * NULL keys match nothing (SQL `IN` semantics); same change feed,
    * no-op convention, and locking as the predicate form.
    */
  def deleteMorKeys(layer: String, table: String, colName: String, keys: DataFrame): Long = {
    require(keys.columns.length == 1,
      s"keys frame must have exactly the key column, got ${keys.columns.mkString(", ")}")
    withWriterLock(layer, table)(deleteMorMatched(layer, table, { visible =>
      val probes = keys.na.drop()
        .select(col(keys.columns.head).cast(visible.schema(colName).dataType).as("__del_k"))
        .distinct()
      visible.join(probes, visible(colName) === col("__del_k"), "left_semi")
    }))
  }

  private def deleteMorMatched(
      layer: String,
      table: String,
      matchRows: DataFrame => DataFrame
  ): Long = {
    repairCrashedSwap(layer, table)
    val raw          = mergedRead(layer, table)
    val (visible, _) = visibleWithPositions(layer, table, raw)
    val matched      = matchRows(visible)
    if (matched.isEmpty) {
      logOp(layer, table, "DELETE_MOR", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val ver = nextVersion(s"$layer.$table")
    val m   = matched.persist()
    try {
      val deleted = appendTombstones(layer, table, ver, m)
      appendFeed(layer, table, ver,
        m.drop("__dv_f", "__dv_p").withColumn("_change_type", lit("delete")))
      logOp(layer, table, "DELETE_MOR", inserted = 0, updated = 0,
        outputRows = 0, version = ver, deleted = deleted)
      primeSchemaCache(layer, table, raw.schema)
      primeFeedSchemaCache(layer, table, raw.schema)
      deleted
    } finally { m.unpersist(); () }
  }

  /** UPDATE via deletion vectors (Delta merge-on-read UPDATE): matched
    * rows tombstone at their old positions and their post-images
    * append as NEW part files — commit cost O(matched rows), no
    * existing file rewritten (where [[update]] rewrites every touched
    * file). The appended file list rides in the commit's DV-partition
    * manifest, so a crash rolls the whole commit back and time travel
    * hides the new files exactly (see section note). Same feed images,
    * constraint enforcement, generated-column guards, NULL-predicate
    * and no-op conventions as the COW path.
    */
  def updateMor(
      layer: String,
      table: String,
      predicate: Column,
      assignments: Map[String, Column]
  ): Long =
    withWriterLock(layer, table)(updateMorImpl(layer, table, predicate, assignments))

  private[sources] def updateMorImpl(
      layer: String,
      table: String,
      predicate: Column,
      assignments: Map[String, Column]
  ): Long = {
    repairCrashedSwap(layer, table)
    val raw = mergedRead(layer, table)
    checkAssignments(layer, table, "UPDATE", assignments.keys, raw.columns.toSeq)
    val (visible, _) = visibleWithPositions(layer, table, raw)
    val matched      = visible.filter(coalesce(predicate, lit(false)))
    if (matched.isEmpty) {
      logOp(layer, table, "UPDATE_MOR", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    val ver = nextVersion(s"$layer.$table")
    val m   = matched.persist()
    try {
      val pre  = m.drop("__dv_f", "__dv_p")
      val post = applyAssignments(pre, assignments)
      // new row images validated BEFORE anything lands — a violating
      // batch changes nothing, the COW contract
      enforceConstraints(layer, table, post, "UPDATE")
      // 1. tombstones first: until the ledger row commits, everything
      // this op wrote is identifiable (phantom DV partition + its
      // manifest) and [[repairCrashedSwap]] rolls all of it back
      val updated = appendTombstones(layer, table, ver, m)
      // 2. post-images land via the shared MOR machinery: scratch dir,
      // manifest (rollback + time-travel hiding), then rename in
      morLandFiles(layer, table, ver, post)
      // 3. feed images, 4. ledger commit
      appendFeed(layer, table, ver, pre.withColumn("_change_type", lit("update_preimage"))
        .unionByName(post.withColumn("_change_type", lit("update_postimage"))))
      logOp(layer, table, "UPDATE_MOR", inserted = 0, updated = updated,
        outputRows = 0, version = ver)
      primeSchemaCache(layer, table, raw.schema)
      primeFeedSchemaCache(layer, table, raw.schema)
      updated
    } finally { m.unpersist(); () }
  }


  /** MERGE via deletion vectors (completing the merge-on-read DML
    * triad with [[deleteMor]] and [[updateMor]]): the conditional
    * upsert of [[upsert]] — [[mergeClausesMor]] over
    * [[MergeClause.upsertShape]] — at O(delta) commit cost. Updated
    * target rows TOMBSTONE at their old positions, post-images and
    * inserts APPEND as new files under the commit's rollback manifest,
    * and not one existing file is decoded or rewritten, on any layout.
    * `WriteMetrics.kept` counts the visible target rows not updated,
    * derived from footer counts + the tombstone ledger, not a scan.
    */
  def upsertMor(
      layer: String,
      table: String,
      src: DataFrame,
      keys: Seq[String],
      versionCol: String
  ): Upsert.WriteMetrics = {
    val (m, nm, bs) = MergeClause.upsertShape(versionCol)
    mergeClausesMor(layer, table, src, keys, m, nm, bs).writeMetrics
  }

  /** Merge-on-read twin of [[mergeClauses]] (the full clause surface
    * at O(delta) commit cost): updated AND deleted target rows
    * tombstone at their old positions, post-images and inserts append
    * under the commit's rollback manifest, no existing file rewrites —
    * tombstones are the natural delete-action mechanism, a MOR MERGE
    * DELETE writes positions only. The hive-partitioned case needs no
    * partition-scoped machinery: tombstones are positional and appends
    * partition themselves. Feed rows cover every image (insert /
    * update_preimage / update_postimage / delete); constraints,
    * generated and identity columns behave exactly as the COW path
    * (the shared [[mergeFrontEnd]]). BY SOURCE clauses classify against
    * the whole visible table (the join must see every target row) but
    * still commit O(changes). Schema evolution is rewrite-free too:
    * appended files carry the unioned schema and older files surface
    * the new columns as null through the merged read (unlike the COW
    * path, a zero-change merge whose source carries a new column does
    * NOT evolve the schema — nothing is appended to carry it).
    */
  def mergeClausesMor(
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
        mergeMor(layer, table, _, _, keys, matched, notMatched, bySource)))

  /** The merge-on-read MERGE body (see [[mergeClausesMor]]). */
  private def mergeMor(
      layer: String,
      table: String,
      src: DataFrame,
      unioned: StructType,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource]
  ): Upsert.MergeClauseMetrics = {
    val raw                      = mergedRead(layer, table)
    val (visible, tombstoneRows) = visibleWithPositions(layer, table, raw)
    val changesPlan = Upsert.planMorChangesClauses(
      alignTo(visible, unioned, keep = Seq("__dv_f", "__dv_p")), alignTo(src, unioned), keys,
      matched, notMatched, bySource, metaCols = Seq("__dv_f", "__dv_p"),
      insertOnlyCols = identityColumns(layer, table).map(_._1).toSet)
    // metrics FIRST, on the unpersisted plan (narrow, column-pruned):
    // a zero-change re-run must exit before anything full-width
    // materializes — persisting before the counts pass made the no-op
    // path read every column (measured +0.4 s on q112's warm trials)
    val counts = Upsert.actionCounts(changesPlan)
    // kept from metadata only: physical rows minus applicable
    // tombstones minus the rows this merge updates or deletes
    def visibleCount(): Long =
      raw.count() - tombstoneRows.map(_.count()).getOrElse(0L)
    if (counts.inserted == 0 && counts.updated == 0 && counts.deleted == 0) {
      logOp(layer, table, "MERGE_MOR", inserted = 0, updated = 0, outputRows = 0)
      return counts.copy(kept = visibleCount())
    }
    // persist the O(delta) change set: tombstones, landed files and the
    // three feed slices otherwise each re-run the full-outer join over
    // the whole visible table. Bounded by the batch (the MOR contract),
    // the same within-op persist [[deleteMorMatched]] and
    // [[updateMorImpl]] use; the first write below materializes it.
    val changes = changesPlan.persist()
    try {
      val kept = visibleCount() - counts.updated - counts.deleted
      val ver  = nextVersion(s"$layer.$table")
      val dataCols = unioned.fields.toSeq.map(f => col(f.name))
      val action   = col(Upsert.ActionCol)
      // 1. tombstones for the updated AND deleted rows' old positions
      appendTombstones(layer, table, ver, changes.filter(action.isin("update", "delete")))
      // 2. post-images + inserts land as new files (manifest rollback);
      //    deletes land nothing — their tombstone IS the commit, so a
      //    delete-only merge appends zero data files (like [[deleteMor]])
      if (counts.inserted + counts.updated > 0)
        morLandFiles(layer, table, ver,
          changes.filter(action.isin("insert", "update")).select(dataCols: _*))
      // 3. feed: insert / update_preimage / update_postimage / delete
      val ins = changes.filter(action === "insert")
        .select(dataCols: _*).withColumn("_change_type", lit("insert"))
      val preImg = changes.filter(action.isin("update", "delete"))
        .select(unioned.fields.toSeq.map(f => col(s"__pre_${f.name}").as(f.name)) :+
          when(action === "update", lit("update_preimage"))
            .otherwise(lit("delete")).as("_change_type"): _*)
      val postImg = changes.filter(action === "update")
        .select(dataCols: _*).withColumn("_change_type", lit("update_postimage"))
      appendFeed(layer, table, ver, ins.unionByName(preImg).unionByName(postImg))
      // 4. ledger commit
      logOp(layer, table, "MERGE_MOR", inserted = counts.inserted, updated = counts.updated,
        outputRows = 0, version = ver, deleted = counts.deleted)
      primeSchemaCache(layer, table, unioned)
      primeFeedSchemaCache(layer, table, unioned)
      counts.copy(kept = kept)
    } finally { changes.unpersist(); () }
  }

  /** Land a MOR commit's new row images as appended files: write to a
    * scratch dir, record every destination (ENCODED key domain — see
    * [[dvFileKey]]) in the commit's DV-partition `_GRAFT_FILES`
    * manifest, THEN rename into the live tree — files are only
    * reachable after their names are durably listed, so
    * [[repairCrashedSwap]] can roll the whole commit back and time
    * travel can hide the files exactly.
    */
  private[sources] def morLandFiles(
      layer: String,
      table: String,
      ver: Long,
      rows: DataFrame
  ): Unit = {
    val target  = tablePath(layer, table)
    val pcols   = partitionColumns(layer, table)
    val scratch = new Path(target + ".__mor_staging")
    fs.delete(scratch, true)
    val w = rows.write.mode(SaveMode.Overwrite)
    (if (pcols.nonEmpty) w.partitionBy(pcols: _*) else w).parquet(scratch.toString)
    val staged = (if (pcols.nonEmpty) leafPartitionDirs(scratch, pcols.length)
                  else Seq("")).flatMap { rel =>
      val dir = if (rel.isEmpty) scratch else new Path(scratch, rel)
      fs.listStatus(dir)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(s => (s.getPath, if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"))
    }
    val manifest = new Path(dvPartDir(layer, table, ver), "_GRAFT_FILES")
    val out      = fs.create(manifest, true)
    try out.write(staged
      .map { case (_, rel) =>
        dvFileKey(new Path(target, rel).toUri.getRawPath, pcols.length)
      }
      .mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    staged.foreach { case (src, rel) =>
      val dst = new Path(target, rel)
      fs.mkdirs(dst.getParent)
      renameOrFail(src, dst)
    }
    fs.delete(scratch, true)
    ()
  }

  /** REORG TABLE ... APPLY (PURGE) — fold accumulated deletion vectors
    * back into the data: ONLY files carrying tombstones rewrite (DV
    * rows subtracted), every clean file byte-copies, staged swap, the
    * pre-image generation retires for time travel. After a reorg the
    * current-read anti-join disappears entirely (the rewrite is the
    * new lastRewrite floor); the DV partitions stay on disk for
    * retired-generation reads but are never broadcast again. Returns
    * the number of files rewritten; no-op (no commit) when no
    * tombstones are live.
    */
  def reorg(layer: String, table: String): Long =
    withWriterLock(layer, table)(reorgImpl(layer, table))

  private[sources] def reorgImpl(layer: String, table: String): Long = {
    repairCrashedSwap(layer, table)
    val tombstones = dvRowsFor(layer, table, Long.MaxValue)
    if (tombstones.isEmpty) return 0L
    val dv      = tombstones.get
    val raw     = mergedRead(layer, table)
    val pcols   = partitionColumns(layer, table)
    val dvNames = dv.select("__dv_file").distinct().collect().map(_.getString(0)).toSet
    // match in the RAW (encoded) key domain, read via the decoded twin
    val touched = raw.inputFiles.toSeq
      .filter(r => dvNames.contains(dvFileKey(r, pcols.length))).map(normDataFile)
    if (touched.isEmpty) return 0L // tombstones all point at already-rewritten files
    val (_, outputRows) = rewriteFiles(layer, table, raw, pcols, touched.toSet,
      touched.map(partitionTupleOf(_, pcols, raw.schema)).distinct,
      t => dvAntiJoin(withDvMeta(t, pcols.length), dv).drop("__dv_f", "__dv_p"))((_, _) => ())
    logOp(layer, table, "REORG", inserted = 0, updated = 0, outputRows = outputRows)
    touched.size.toLong
  }
}
