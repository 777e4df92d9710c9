package graft.sources

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed table layer — the engine's replacement for the
  * reference's Unity-Catalog-managed Delta tables (SURVEY §2.1 S3/S4/
  * S7/S8/S9/S11/S12). Tables live at `<root>/<layer>/<table>` and the
  * write path records per-operation metrics to an ops ledger, replacing
  * Delta `DESCRIBE HISTORY` (reference silver_arxiv.py:175-184).
  *
  * Scale notes: every write goes through a staging directory + rename so
  * re-runs are idempotent (SURVEY §7.4.1); `upsert` is one shuffle join
  * (see [[graft.operators.Upsert]]); nothing here collects data to the
  * driver except the ledger's single-row metric append.
  */
final class Warehouse(
    private[sources] val spark: SparkSession,
    private[sources] val root: String,
    private[sources] val keepGenerations: Int = 2,
    private[sources] val lockWaitMs: Long = 60_000L,
    private[sources] val lockStaleMs: Long = 600_000L
) extends WarehouseDml
    with WarehouseMor
    with WarehouseDdl
    with WarehouseMaintenance
    with WarehouseTimeTravel {

  private[sources] def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- single-writer concurrency control (Delta multi-writer parity) --
  //
  // Every mutating public op runs under a per-table writer lock, so
  // concurrent writers — other threads of this JVM or other driver JVMs
  // sharing the warehouse root — serialize per table instead of
  // corrupting the ledger (two racers both claiming version N+1) or the
  // swap (one racer retiring the other's freshly-committed generation).
  // Delta resolves multi-writer optimistically (commit file N+1 is
  // claimed atomically, conflicts re-checked, transaction retried); the
  // snapshot-dir model's rename-based swap cannot be re-checked after
  // the rename, so the engine is pessimistic: one writer per table at a
  // time. What matters at cluster scale is unchanged — writes to
  // DIFFERENT tables stay fully parallel (the lock is per table), and a
  // single table's write throughput is bounded by its one swap anyway.
  // Readers never lock: the rename design already gives a mid-plan
  // reader snapshot stability.
  //
  // The lock is an atomically-created marker at
  // `<root>/_graft_locks/<layer>.<table>.lock`: exclusive-create FILE on
  // cluster filesystems (HDFS `create(overwrite=false)` is atomic at the
  // NameNode; object stores with conditional PUT likewise), atomic
  // MKDIR on the local scheme (POSIX mkdir fails EEXIST, whereas
  // RawLocalFileSystem's create(overwrite=false) is check-then-act).
  // A writer that dies mid-op leaves its lock behind: a later writer
  // breaks locks older than `lockStaleMs` and rolls the dead writer's
  // partial swap back ([[repairCrashedSwap]]) before taking over — so
  // `lockStaleMs` must exceed the longest expected write. Acquisition
  // waits up to `lockWaitMs` with backoff, then throws
  // [[Warehouse.ConcurrentWriteException]] (the caller decides whether
  // to retry — Delta surfaces the same decision). Reentrant per thread:
  // upsert's first-merge bootstrap delegates to createOrReplace under
  // the already-held lock.

  private[sources] val heldLocks = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  /** Latest ledger version, cached ONLY while this thread holds the
    * table's writer lock: invalidated at acquire (so the op's first
    * lookup re-reads the ledger and sees other writers' commits),
    * advanced by [[logOp]] at commit, dropped at release. A single
    * warehouse op consults the version several times (crash repair,
    * claim, retire naming) — each was a full O(commits) ledger scan
    * (a Spark job); under the lock the ledger cannot move, so one
    * scan per op is enough. Unlocked readers never touch the cache.
    */
  private[sources] val lockedVersionCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[sources] def lockPath(name: String): Path =
    new Path(s"$root/_graft_locks/$name.lock")

  /** Atomic claim of the lock marker; false = somebody else holds it. */
  private[sources] def tryClaimLock(p: Path): Boolean =
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try { java.nio.file.Files.createDirectory(local); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      fs.mkdirs(p.getParent)
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

  /** Age of the held lock; -1 if it vanished (holder just released). */
  private[sources] def lockAgeMs(p: Path): Long =
    try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }

  /** Run `body` as the table's exclusive writer (see the design note
    * above). Public so an orchestrator can pin a multi-op transaction
    * (e.g. DELETE + COMPACT as one critical section) to a single hold.
    */
  def withWriterLock[T](layer: String, table: String)(body: => T): T = {
    val name = s"$layer.$table"
    val held = heldLocks.get()
    if (held.contains(name)) return body
    val p        = lockPath(name)
    val deadline = System.currentTimeMillis() + lockWaitMs
    var backoff  = 5L
    var claimed  = false
    var brokeStale = false
    while (!claimed) {
      if (tryClaimLock(p)) claimed = true
      else {
        val age = lockAgeMs(p)
        if (age >= lockStaleMs) {
          // holder is presumed dead — break the lock; the loop re-claims
          // (racing breakers are fine: delete is idempotent, claim is
          // atomic, and the winner repairs before writing)
          fs.delete(p, true)
          brokeStale = true
        } else if (System.currentTimeMillis() > deadline) {
          throw new Warehouse.ConcurrentWriteException(
            s"writer lock on $name still held after ${lockWaitMs}ms " +
              s"(holder age ${age}ms) — another writer is active; retry, " +
              "or raise lockWaitMs")
        } else {
          Thread.sleep(backoff)
          backoff = math.min(backoff * 2, 100L)
        }
      }
    }
    held.add(name)
    lockedVersionCache.remove(name) // re-read the ledger under OUR hold
    try {
      if (brokeStale) repairCrashedSwap(layer, table)
      body
    } finally {
      held.remove(name)
      lockedVersionCache.remove(name)
      fs.delete(p, true)
      ()
    }
  }

  /** Test-only crash injection for the swap-safety specs: set to a
    * failpoint name ("after-stage-write" | "after-retire" |
    * "after-swap") and the next swap throws there ONCE — pinning that a
    * crash before, between, or after the renames never loses data and
    * always rolls back to the last committed version (WarehouseSpec
    * "chaos:" cases exercise all three points on both the whole-table
    * and partition-scoped swaps).
    */
  @volatile private[graft] var failpoint: String = null
  private[sources] def maybeFail(point: String): Unit =
    if (failpoint == point) {
      failpoint = null
      throw new RuntimeException(s"chaos: injected failure at $point")
    }

  def tablePath(layer: String, table: String): String = s"$root/$layer/$table"

  /** Hive partition columns of the live table layout, outermost first;
    * empty for an unpartitioned table. Detected from the directory
    * names (`col=value`), the same discovery Spark's reader runs — no
    * extra metadata to keep in sync.
    */
  def partitionColumns(layer: String, table: String): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer[String]()
    var cur  = new Path(tablePath(layer, table))
    var go   = fs.exists(cur)
    while (go) {
      val entries = fs.listStatus(cur).filterNot(_.getPath.getName.startsWith("_"))
      val dirs    = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      val names   = dirs.map(_.getPath.getName.split("=", 2)(0)).distinct
      if (entries.nonEmpty && dirs.length == entries.length && names.length == 1) {
        cols += names.head
        cur = dirs.head.getPath
      } else go = false
    }
    cols.toSeq
  }

  def tableExists(layer: String, table: String): Boolean =
    fs.exists(new Path(tablePath(layer, table), "_SUCCESS"))

  def table(layer: String, table: String): DataFrame =
    // mergeSchema: an evolved table's older files lack the newer
    // columns — the merged read surfaces them as nulls. Cost is one
    // footer read per file at planning (parallelized), not data I/O.
    // Tables with live deletion vectors additionally subtract their
    // tombstones (a broadcast anti-join — see the DV section); for
    // everything else applyDv is a free pass-through.
    applyDv(rawTable(layer, table), layer, table, Long.MaxValue,
      partitionColumns(layer, table).length)

  /** The raw merged file scan, tombstones NOT subtracted. Internal
    * paths that do per-file math (`inputFiles` freshness checks, stats
    * profiling, COW planning behind the [[materializeDv]] barrier)
    * need the bare scan — an anti-join in the plan would pollute
    * `inputFiles` with the sidecar's own files.
    */
  /** Merged-schema cache per table, keyed by the ledger version it was
    * inferred at (r18): the bare mergeSchema read pays a distributed
    * footer-merge job at PLAN time on every call, and a DML op consults
    * the table several times — the dominant hidden job count in the
    * q83-family bodies (DmlJobs probe). A version-keyed schema lets
    * every later read pass an explicit schema (zero plan-time jobs)
    * while staying exactly as fresh as the ledger: any commit — ours or
    * another JVM's — bumps the version and forces re-inference, and the
    * file LISTING is still done per read, so snapshot semantics are
    * unchanged. This is the Delta/Iceberg argument from guide §6
    * (schema belongs in table metadata, not re-derived from footers),
    * expressed as a cache over the inference the first read performs.
    */
  private val mergedSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  /** The table's merged schema at its CURRENT ledger version, served
    * from [[mergedSchemaCache]]; None before the first commit.
    */
  private[sources] def mergedSchemaOf(layer: String, table: String): Option[StructType] = {
    val name = s"$layer.$table"
    val ver  = latestVersion(name)
    if (ver < 0) None // no ledger yet (mid-bootstrap): never cache
    else {
      val hit = mergedSchemaCache.get(name)
      if (hit != null && hit._1 == ver) Some(hit._2)
      else {
        val s = spark.read.option("mergeSchema", "true").parquet(tablePath(layer, table)).schema
        mergedSchemaCache.put(name, (ver, s))
        Some(s)
      }
    }
  }

  /** Prime the merged-schema cache with a schema the writer KNOWS the
    * just-committed generation has (r19): a flat commit's post-state
    * schema is exactly what it wrote (rewritten files carry it; carried
    * files are column-subsets that null-backfill under it, the same
    * contract as inference), so the next read's footer-inference job
    * has nothing to add. UNPARTITIONED tables only: a hive read
    * re-infers partition-column TYPES from the directory names (a
    * digit-valued string column comes back int), so priming written
    * types there could change what readers see — partitioned tables
    * keep first-read inference. `asNullable` because read-back parquet
    * schemas are always nullable. Must be called AFTER the commit's
    * logOp (the cache keys on the committed version).
    */
  private[sources] def primeSchemaCache(layer: String, table: String, s: StructType): Unit = {
    if (partitionColumns(layer, table).nonEmpty) return
    val name = s"$layer.$table"
    val ver  = latestVersion(name)
    val nullable = StructType(s.fields.map(_.copy(nullable = true)))
    if (ver >= 0) { mergedSchemaCache.put(name, (ver, nullable)); () }
  }

  /** mergeSchema-equivalent scan of the live table dir through the
    * version-keyed schema cache — zero plan-time footer jobs after the
    * first read of a version. Every internal mergeSchema read of a
    * LIVE table routes here.
    */
  private[sources] def mergedRead(layer: String, table: String): DataFrame =
    mergedSchemaOf(layer, table) match {
      case Some(s) => spark.read.schema(s).parquet(tablePath(layer, table))
      case None    => spark.read.option("mergeSchema", "true").parquet(tablePath(layer, table))
    }

  private[sources] def rawTable(layer: String, table: String): DataFrame =
    mergedRead(layer, table)

  // ---- schema evolution (Delta `mergeSchema` semantics) ----

  /** Union of two schemas by column name: existing columns keep their
    * type and order, genuinely new source columns append. A shared
    * name with a CONFLICTING type raises — silent coercion is how a
    * drifted upstream corrupts 100 TB; type widening is the caller's
    * explicit cast.
    */
  private[sources] def unionSchema(
      tgt: org.apache.spark.sql.types.StructType,
      src: org.apache.spark.sql.types.StructType
  ): org.apache.spark.sql.types.StructType = {
    src.fields.foreach { f =>
      tgt.fields.find(_.name == f.name).foreach { t =>
        require(
          t.dataType == f.dataType,
          s"schema evolution cannot change column type: ${f.name} ${t.dataType} -> ${f.dataType}")
      }
    }
    org.apache.spark.sql.types.StructType(
      tgt.fields ++ src.fields.filterNot(f => tgt.fieldNames.contains(f.name)))
  }

  /** Project df onto `schema`, each column cast to its schema type
    * (a no-op under [[unionSchema]]'s equal-type rule) and columns it
    * lacks null-backfilled; the `keep` columns ride along after them.
    */
  private[sources] def alignTo(
      df: DataFrame,
      schema: StructType,
      keep: Seq[String] = Seq.empty
  ): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ keep.map(col): _*)

  def listTables(layer: String): Seq[String] = {
    val p = new Path(s"$root/$layer")
    if (!fs.exists(p)) Seq.empty
    else
      fs.listStatus(p)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        // retired generations (`t.__v3`) and in-flight staging dirs
        // live beside the live table — they are not tables
        .filterNot(_.contains(".__"))
        .toSeq
        .sorted
  }

  /** The staging directory beside `path` (`<path>.__staging`),
    * emptied: every staged write of a table or a sidecar starts here.
    */
  private[sources] def freshStaging(path: String): Path = {
    val staging = new Path(path + ".__staging")
    fs.delete(staging, true)
    staging
  }

  /** Write `df` as parquet to `dest`, hive-partitioned by
    * `partitionCols`, and return its row count, observed from the write
    * job itself — a re-read would scan every written byte a second time.
    */
  private[sources] def writeCounted(
      df: DataFrame,
      dest: String,
      partitionCols: Seq[String] = Seq.empty,
      mode: SaveMode = SaveMode.Overwrite
  ): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode(mode).partitionBy(partitionCols: _*).parquet(dest)
    obs.get("n").asInstanceOf[Long]
  }

  /** The one whole-table replace: crash repair, a fresh staging dir,
    * `stage` writes the new generation into it and returns its row
    * count, then the generation swaps in ([[retireAndSwap]]). Returns
    * the row count; the caller records the ledger commit.
    */
  private[sources] def replaceTable(layer: String, table: String)(stage: Path => Long): Long = {
    repairCrashedSwap(layer, table)
    val staging = freshStaging(tablePath(layer, table))
    val rows    = stage(staging)
    retireAndSwap(layer, table, staging)
    rows
  }

  /** Rename `from` to `to`, throwing when the filesystem refuses. */
  private[sources] def renameOrFail(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")

  /** Swap a fully-written staging dir into place. The outgoing
    * generation is RENAMED aside (`<table>.__v<version>`), never
    * deleted in the swap path, so (a) there is no window in which the
    * table is missing — a crash between the two renames leaves the old
    * generation recoverable, and a concurrent reader mid-plan keeps
    * its input files — and (b) retired generations are readable via
    * [[tableAsOf]] (Delta time travel). The oldest generations beyond
    * `keepGenerations` are pruned AFTER the new one is live (Delta
    * VACUUM).
    */
  private[sources] def retireAndSwap(layer: String, table: String, staging: Path): Unit = {
    maybeFail("after-stage-write")
    val target = new Path(tablePath(layer, table))
    if (fs.exists(target)) {
      val prev    = latestVersion(s"$layer.$table")
      val retired = new Path(tablePath(layer, table) + s".__v$prev")
      fs.delete(retired, true) // idempotent re-run of the same version
      renameOrFail(target, retired)
    }
    maybeFail("after-retire")
    renameOrFail(staging, target)
    maybeFail("after-swap")
    pruneGenerations(layer, table)
  }

  // ---- partition-scoped DML (Delta file-granular rewrite parity) ----
  //
  // On a partitioned table every copy-on-write DML op — DELETE, UPDATE
  // and REORG through [[rewriteFiles]], MERGE through [[mergeCow]] —
  // rewrites ONLY the partition directories holding touched rows. One
  // scope probe, an `input_file_name()` scan of the matching rows (the
  // "find touched files" scan Delta runs against its stats), yields
  // the touched files and their partition tuples together; REORG reads
  // both off its tombstones' file keys instead. Only the touched files
  // are decoded and rewritten, the other files of the touched
  // directories byte-copy into staging, and each touched directory
  // stage-swaps individually. Untouched directories are never listed,
  // read, or rewritten — a daily merge touching 0.1 % of a 100 TB
  // table's run_dates costs O(touched partitions), not O(table).
  // Pre-images retire into a SPARSE
  // generation (marker `_GRAFT_SPARSE`) holding only the replaced
  // directories plus a `_GRAFT_CREATED` manifest of the directories the
  // op CREATED (no pre-image) — what lets [[repairCrashedSwap]] roll an
  // interrupted op back to exactly the last committed version, inserts
  // included. [[tableAsOf]] overlays sparse generations onto the live
  // table to reconstruct past versions exactly.
  //
  // Directory names are never recomputed from values: the touched set
  // is matched back against the ACTUAL on-disk leaf directories in the
  // inferred-type string domain ([[retireDirsFor]]). A spelling that
  // does not round-trip through partition-value inference (`day=05`
  // read as int 5, `x=1.50` as decimal) therefore still retires — the
  // previous compute-the-name design staged `day=5` while live `day=05`
  // survived: silent row duplication (chaos + spelling cases pinned in
  // WarehouseSpec).

  /** Distinct partition-value tuples among `rows`, in the string domain
    * of the table's INFERRED partition types. The select prunes the scan
    * to the feeding predicate + partition columns; a predicate that
    * constrains partition columns directly prunes directories too.
    * Collected to the driver — bounded by the partition count, the same
    * cardinality every partition-pruning planner holds in memory.
    */
  private[sources] def touchedPartitions(rows: DataFrame, pcols: Seq[String]): Seq[Seq[String]] =
    rows
      .select(pcols.map(c => col(c).cast("string")): _*)
      .distinct()
      .collect()
      .map(r => pcols.indices.map(i => r.getString(i)).toSeq)
      .toSeq

  /** Predicate selecting exactly the given partition tuples. References
    * only partition columns, so Catalyst evaluates it against discovered
    * partition VALUES at planning (PartitionFilters) — zero data I/O
    * outside the touched directories. One encoded key per tuple feeding
    * a single `isin` (InSet at scale): a merge touching 10k run_dates is
    * one set-membership expression, not a 10k-term OR-of-ANDs tree.
    */
  /** Touched-tuple count past which [[pruneToTouched]] stops inlining
    * the set as plan literals. Test seam (WarehouseSpec forces the
    * join path); the default keeps every gate-scale op on the
    * planning-time InSet path. */
  @volatile private[graft] var inlineTouchedThreshold: Int = 10000

  /** Prune `df`'s scan to the touched partition tuples — scale-adaptive
    * in HOW the set reaches the plan:
    *
    *   - ≤ [[inlineTouchedThreshold]] tuples (every gate-scale op):
    *     [[partitionPredicate]]'s InSet literal — Catalyst evaluates it
    *     against discovered partition values at PLANNING
    *     (PartitionFilters, zero I/O outside the touched dirs).
    *   - past it (10⁵+-partition DML): the tuple list would bloat every
    *     task's serialized plan as literals, so the set rides as a
    *     broadcast DataFrame instead — a left-semi join on the
    *     string-cast partition columns, which dynamic partition
    *     pruning turns into a RUNTIME partition filter built from the
    *     broadcast (the same values, never a literal expression tree).
    *     A null-bearing tuple falls back to the inline form: null
    *     partitions are rare, and `===`-joins (the DPP-eligible shape)
    *     don't match them.
    *
    * The driver-side `touched` list itself stays — it is bounded by the
    * touched-DIRECTORY count, the same cardinality the commit swap
    * renames one-by-one and every partition-pruning planner (Delta's
    * driver included) holds in memory; what this removes at high
    * cardinality is the list's second life as plan literals.
    */
  private[graft] def pruneToTouched(
      df: DataFrame,
      touched: Seq[Seq[String]],
      pcols: Seq[String]): DataFrame =
    if (touched.lengthCompare(inlineTouchedThreshold) <= 0 ||
      touched.exists(_.contains(null)))
      df.filter(partitionPredicate(touched, pcols))
    else {
      val schema = org.apache.spark.sql.types.StructType(pcols.map(c =>
        org.apache.spark.sql.types.StructField(
          s"__tp_$c", org.apache.spark.sql.types.StringType, nullable = false)))
      // Two details make dynamic partition pruning actually FIRE here
      // (measured in ScalePrune, round 18 — without them the semi-join
      // path silently read EVERY partition directory and filtered at
      // the join):
      //   1. the set rides as an RDD-backed frame, not a LocalRelation:
      //      ConvertToLocalRelation folds any Filter over a
      //      LocalRelation into the relation itself, and
      //   2. the build side carries a selective-SHAPED residual
      //      predicate (a BinaryComparison that is vacuously true on
      //      the null-free touched strings): PartitionPruning only
      //      duplicates a build side that has a selective predicate.
      val tdf = df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(
          touched.map(t => org.apache.spark.sql.Row.fromSeq(t)), numSlices = 1),
        schema)
        .filter(pcols.map(c => col(s"__tp_$c") >= lit("")).reduce(_ && _))
      val cond = pcols.map(c => df(c).cast("string") === tdf(s"__tp_$c")).reduce(_ && _)
      df.join(broadcast(tdf), cond, "left_semi")
    }

  private[sources] def partitionPredicate(touched: Seq[Seq[String]], pcols: Seq[String]): Column = {
    val nullMark = "\u0000"
    if (pcols.lengthCompare(1) == 0) {
      val vals = touched.map(_.head)
      val c    = col(pcols.head).cast("string")
      val in   = vals.filter(_ != null) match {
        case Seq()    => lit(false)
        case nonNull  => c.isin(nonNull: _*)
      }
      if (vals.contains(null)) in || c.isNull else in
    } else {
      val key = concat_ws("\u0001",
        pcols.map(c => coalesce(col(c).cast("string"), lit(nullMark))): _*)
      key.isin(touched.map(_.map(v => if (v == null) nullMark else v).mkString("\u0001")): _*)
    }
  }

  /** Normalize a raw directory-name value into the inferred type's
    * string form with Spark's own cast (driver-side literal eval — no
    * job): `"05"` under an int-inferred column → `"5"`, matching what a
    * string-cast scope probe ([[touchedPartitions]], the DML scope
    * probes) reads back from the same directory.
    */
  private[sources] def normalizePartitionValue(
      raw: String,
      t: org.apache.spark.sql.types.DataType
  ): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    if (raw == null) return null
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    try {
      val parsed = Cast(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(raw),
        org.apache.spark.sql.types.StringType), t, tz).eval(null)
      if (parsed == null) raw
      else Cast(Literal.create(parsed, t), org.apache.spark.sql.types.StringType, tz)
        .eval(null).toString
    } catch { case _: Exception => raw } // unparseable ⇒ inference kept strings
  }

  /** The live leaf directories whose parsed partition values match a
    * touched tuple — the RETIRE set of a partition-scoped swap. Both
    * sides compare in the inferred-type string domain, so every on-disk
    * spelling of a touched value (zero-padded ints, trailing-zero
    * decimals, escaped specials, `__HIVE_DEFAULT_PARTITION__`) is found
    * and replaced. Driver-side work is O(partition count).
    */
  private[sources] def retireDirsFor(
      target: Path,
      pcols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      touched: Seq[Seq[String]]
  ): Seq[String] = {
    val ptypes     = pcols.map(c => schema(c).dataType)
    val touchedSet = touched.map(_.toList).toSet
    leafPartitionDirs(target, pcols.length)
      .filter(rel => touchedSet.contains(parsePartitionDir(rel.split("/").toSeq, ptypes)))
  }

  /** The partition tuple of a data file of the live table (decoded
    * domain): its leaf directory, parsed as [[retireDirsFor]] parses
    * one. Empty on a flat table.
    */
  private[sources] def partitionTupleOf(
      file: String,
      pcols: Seq[String],
      schema: StructType
  ): Seq[String] =
    parsePartitionDir(
      new Path(file).toUri.getPath.split('/').toSeq.dropRight(1).takeRight(pcols.length),
      pcols.map(c => schema(c).dataType))

  /** On-disk `col=value` directory segments → their values in the
    * inferred-type string domain (null for the hive default partition).
    */
  private def parsePartitionDir(
      segments: Seq[String],
      ptypes: Seq[org.apache.spark.sql.types.DataType]
  ): List[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    segments.toList.zip(ptypes).map { case (seg, t) =>
      val raw = ExternalCatalogUtils.unescapePathName(seg.split("=", 2)(1))
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else normalizePartitionValue(raw, t)
    }
  }

  /** Relative paths of the hive leaf directories under `base`. */
  private[sources] def leafPartitionDirs(base: Path, depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq("")
      else if (!fs.exists(p)) Seq.empty
      else
        fs.listStatus(p)
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .toSeq
          .flatMap(s =>
            walk(s.getPath, d - 1).map(rest =>
              if (rest.isEmpty) s.getPath.getName else s.getPath.getName + "/" + rest))
    walk(base, depth).filter(_.nonEmpty)
  }

  /** Stage-swap ONLY the given partition directories — the partition-
    * scoped composition of [[retireAndSwap]]. `retireDirs` are the live
    * directories being replaced ([[retireDirsFor]]); the staged
    * directories are listed from the staging tree itself. A retired
    * partition the staging lacks simply retires (a delete emptied it);
    * a staged partition the live table lacks renames in with nothing to
    * retire (an insert created it — recorded in the generation's
    * `_GRAFT_CREATED` manifest so [[repairCrashedSwap]] can remove it
    * on rollback). Crash safety matches the whole-table swap: every
    * pre-image renames aside before any replacement lands, so no data
    * is deleted mid-op and a crash at any failpoint (after-stage-write /
    * after-retire / after-swap) rolls back to exactly the last
    * committed version (chaos-pinned in WarehouseSpec).
    */
  private[sources] def swapPartitions(
      layer: String,
      table: String,
      staging: Path,
      retireDirs: Seq[String],
      depth: Int
  ): Unit = {
    maybeFail("after-stage-write")
    val target    = new Path(tablePath(layer, table))
    val stageDirs = leafPartitionDirs(staging, depth)
    val prev      = latestVersion(s"$layer.$table")
    val retired   = new Path(tablePath(layer, table) + s".__v$prev")
    fs.delete(retired, true) // idempotent re-run of the same version
    fs.mkdirs(retired)
    // marker FIRST: a half-built generation must never be mistaken for
    // a whole-table one (repair would swap it over the live table)
    fs.createNewFile(new Path(retired, "_GRAFT_SPARSE"))
    val created =
      stageDirs.filterNot(retireDirs.contains).filterNot(rel => fs.exists(new Path(target, rel)))
    if (created.nonEmpty) {
      val out = fs.create(new Path(retired, "_GRAFT_CREATED"), true)
      try out.write(created.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    retireDirs.foreach { rel =>
      val live = new Path(target, rel)
      if (fs.exists(live)) {
        val ret = new Path(retired, rel)
        fs.mkdirs(ret.getParent)
        renameOrFail(live, ret)
      }
    }
    maybeFail("after-retire")
    stageDirs.foreach { rel =>
      val dst = new Path(target, rel)
      if (fs.exists(dst)) {
        // a live spelling the retire matching missed — take its
        // pre-image rather than nesting the rename inside it
        val ret = new Path(retired, rel)
        fs.mkdirs(ret.getParent)
        renameOrFail(dst, ret)
      }
      fs.mkdirs(dst.getParent)
      renameOrFail(new Path(staging, rel), dst)
    }
    maybeFail("after-swap")
    fs.delete(staging, true)
    pruneGenerations(layer, table)
  }

  /** Depth of the hive directory tree under `p` (0 = unpartitioned). */
  private[sources] def partitionDepth(p: Path): Int = {
    var cur = p
    var d   = 0
    var go  = fs.exists(cur)
    while (go) {
      val dirs = fs.listStatus(cur).filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (dirs.nonEmpty) { d += 1; cur = dirs.head.getPath }
      else go = false
    }
    d
  }

  /** Roll back a swap that crashed mid-op. A COMPLETED op's newest
    * retired generation is always `.__v{current-1}`, so finding
    * `.__v{current}` means an op died between its renames before its
    * ledger commit. Every pre-image that generation holds moves back
    * into the live table, any directory the op CREATED (the sparse
    * generation's `_GRAFT_CREATED` manifest — an insert-made partition
    * has no pre-image to restore) is deleted, and any half-swapped
    * replacement is discarded — the op never committed, so its output
    * is re-derivable by re-running it.
    *
    * Separately, EVERY change-feed partition newer than the committed
    * ledger version is purged: ops write their feed rows before their
    * swap commits, so a crash in that window leaves committed-looking
    * feed rows for a version the ledger never records — with no `.__v`
    * directory to betray them. A retry would append the same rows
    * again and CDC consumers would double-apply ([[changeFeed]] also
    * hides them read-side). Table, feed, and ledger return to exactly
    * the last committed version. Runs automatically at the head of
    * every mutating op; idempotent; returns whether anything was
    * repaired.
    */
  def repairCrashedSwap(layer: String, table: String): Boolean =
    withWriterLock(layer, table)(repairCrashedSwapImpl(layer, table))

  private[sources] def repairCrashedSwapImpl(layer: String, table: String): Boolean = {
    val cur      = latestVersion(s"$layer.$table")
    val target   = new Path(tablePath(layer, table))
    val gen      = new Path(tablePath(layer, table) + s".__v$cur")
    var repaired = false
    if (cur >= 0 && fs.exists(gen)) {
      repaired = true
      if (fs.exists(new Path(gen, "_GRAFT_SPARSE"))) {
        val manifest = new Path(gen, "_GRAFT_CREATED")
        if (fs.exists(manifest)) {
          val in = fs.open(manifest)
          val created =
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          created.filter(_.nonEmpty).foreach(rel => fs.delete(new Path(target, rel), true))
        }
        leafPartitionDirs(gen, partitionDepth(gen)).foreach { rel =>
          val live = new Path(target, rel)
          fs.delete(live, true) // uncommitted replacement, if the swap got that far
          fs.mkdirs(live.getParent)
          renameOrFail(new Path(gen, rel), live)
        }
        fs.delete(gen, true)
      } else {
        fs.delete(target, true) // uncommitted replacement, if the swap got that far
        renameOrFail(gen, target)
      }
    }
    // phantom feed rows: any feed partition beyond the committed
    // version is an uncommitted op's output — a pre-swap crash leaves
    // no generation, so this check is unconditional
    val feed = new Path(tablePath(layer, table) + ".__changes")
    if (fs.exists(feed)) {
      fs.listStatus(feed)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_commit_part="))
        .foreach { s =>
          s.getPath.getName.stripPrefix("_commit_part=").toLongOption.foreach { v =>
            if (v > cur) { fs.delete(s.getPath, true); repaired = true }
          }
        }
    }
    // phantom deletion-vector partitions: a MOR op writes tombstones —
    // and, for UPDATE_MOR, moves its appended post-image files in
    // under the partition's _GRAFT_FILES manifest — BEFORE its ledger
    // commit. A crash in that window must roll ALL of it back:
    // purging the tombstones alone would resurrect the pre-images
    // NEXT TO the already-landed post-images (silent duplication).
    val dvp = dvPath(layer, table)
    if (fs.exists(dvp)) {
      fs.listStatus(dvp)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_commit_part="))
        .foreach { s =>
          s.getPath.getName.stripPrefix("_commit_part=").toLongOption.foreach { v =>
            if (v > cur) {
              val manifest = new Path(s.getPath, "_GRAFT_FILES")
              if (fs.exists(manifest)) {
                val in = fs.open(manifest)
                val appended =
                  try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
                    .filter(_.nonEmpty).toList
                  finally in.close()
                // manifest entries are encoded; the filesystem wants
                // the on-disk (decoded) spelling
                appended.foreach(rel =>
                  fs.delete(new Path(target, decodeDvRel(rel)), false))
              }
              fs.delete(s.getPath, true)
              repaired = true
            }
          }
        }
    }
    fs.delete(new Path(tablePath(layer, table) + ".__mor_staging"), true)
    repaired
  }


  private[sources] def pruneGenerations(layer: String, table: String): Unit = {
    pruneGenerationsTo(layer, table, keepGenerations); ()
  }

  private[sources] def pruneGenerationsTo(layer: String, table: String, retain: Int): Long = {
    val layerDir = new Path(s"$root/$layer")
    val prefix   = table + ".__v"
    if (!fs.exists(layerDir)) return 0L
    val gens = fs
      .listStatus(layerDir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix).toLongOption.map((n, _)) }
      .flatten
      .sortBy(-_._2)
    val victims = gens.drop(retain)
    victims.foreach { case (n, _) =>
      fs.delete(new Path(s"$root/$layer/$n"), true)
    }
    victims.length.toLong
  }

  /** Explicit VACUUM (Delta `VACUUM` parity in the snapshot-dir model):
    * drop all but the newest `retainGenerations` retired generations
    * NOW, instead of waiting for the automatic per-write pruning bound.
    * Time travel to a vacuumed version refuses (never silently serves
    * wrong data — pinned in WarehouseSpec); the change feed is
    * unaffected (it is append-only history, Delta keeps CDF through
    * VACUUM too). Records a `VACUUM` ledger commit with the number of
    * generations removed; returns that count.
    */
  def vacuum(layer: String, table: String, retainGenerations: Int = 0): Long =
    withWriterLock(layer, table)(vacuumImpl(layer, table, retainGenerations))

  private[sources] def vacuumImpl(layer: String, table: String, retainGenerations: Int): Long = {
    require(retainGenerations >= 0, "retainGenerations must be >= 0")
    val removed = pruneGenerationsTo(layer, table, retainGenerations)
    logOp(layer, table, "VACUUM", inserted = 0, updated = 0, outputRows = removed)
    removed
  }

  /** VACUUM with Delta's time-based contract (`VACUUM t RETAIN n
    * HOURS`): drop retired generations whose RETIRING commit — the
    * first rewriting commit after the generation's version, i.e. the
    * ledger moment the snapshot stopped being current — is older than
    * `nowMillis - retainHours`. Generations retired inside the window
    * stay readable for time travel, exactly Delta's
    * deletedFileRetentionDuration semantics; a generation whose
    * retiring commit cannot be located in the ledger is never removed
    * (fail-safe: retention must not break the newest snapshots). The
    * live table and the append-only change feed are untouched, as in
    * [[vacuum]]. Returns the number of generations removed; the
    * `nowMillis` parameter exists for deterministic tests.
    */
  def vacuumRetainHours(
      layer: String,
      table: String,
      retainHours: Double,
      nowMillis: Long = System.currentTimeMillis()
  ): Long =
    withWriterLock(layer, table)(
      vacuumRetainImpl(layer, table, retainHours, nowMillis))

  private[sources] def vacuumRetainImpl(
      layer: String,
      table: String,
      retainHours: Double,
      nowMillis: Long
  ): Long = {
    require(retainHours >= 0, "retainHours must be >= 0")
    val name     = s"$layer.$table"
    val horizon  = nowMillis - (retainHours * 3600_000L).toLong
    val layerDir = new Path(s"$root/$layer")
    val prefix   = table + ".__v"
    if (!fs.exists(layerDir)) return 0L
    val gens = fs.listStatus(layerDir).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) =>
        n.stripPrefix(prefix).toLongOption.map((n, _)) }
      .flatten
    if (gens.isEmpty) {
      logOp(layer, table, "VACUUM", inserted = 0, updated = 0, outputRows = 0)
      return 0L
    }
    // one ledger read serves both lookups: the rewriting commits (what
    // retires a generation) and every commit's timestamp
    val rewriting = rewritingAfter(name, -1L)
    val tsByVer = history(name).select(col("version"), col("ts_millis")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val victims = gens.filter { case (_, k) =>
      val retiringVer = rewriting.filter(_ > k).minOption
      retiringVer.flatMap(tsByVer.get) match {
        case Some(retiredTs) => retiredTs < horizon
        case None            => false
      }
    }
    victims.foreach { case (n, _) =>
      fs.delete(new Path(s"$root/$layer/$n"), true)
    }
    logOp(layer, table, "VACUUM", inserted = 0, updated = 0,
      outputRows = victims.length.toLong)
    victims.length.toLong
  }

  /** Replace a 1-row, 1-column BIGINT state table (an MV's feed
    * cursor, a watermark) entirely DRIVER-SIDE: the row writes with
    * parquet-java (no Spark job — a 1-row `toDF.write` pays ~200 ms of
    * scheduler latency, and DML-heavy bodies pay it per commit),
    * through the same staged swap + ledger commit as
    * [[createOrReplace]], so locking, crash repair, time travel and
    * `table()` reads are unchanged. [[readScalarLong]] is the matching
    * jobless read; both interoperate with Spark-written generations of
    * the same table.
    */
  def writeScalarLong(layer: String, table: String, colName: String, value: Long): Unit =
    withWriterLock(layer, table) {
      replaceTable(layer, table) { staging =>
        fs.mkdirs(staging)
        val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
          s"message scalar { required int64 $colName; }")
        val file = new Path(staging, s"part-graft-${java.util.UUID.randomUUID()}.snappy.parquet")
        val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
            file, spark.sparkContext.hadoopConfiguration))
          .withType(schema)
          .withCompressionCodec(
            org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
        try {
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
          g.append(colName, value)
          writer.write(g)
        } finally writer.close()
        1L
      }
      logOp(layer, table, "CREATE OR REPLACE", inserted = 1, updated = 0, outputRows = 1)
    }

  /** Jobless read of a [[writeScalarLong]]-shaped state table: the
    * single BIGINT of its single row, straight from the data files.
    */
  def readScalarLong(layer: String, table: String): Long = {
    val dir = new Path(tablePath(layer, table))
    require(fs.exists(dir), s"$layer.$table does not exist")
    val rows = fs.listStatus(dir)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .flatMap(st => readParquetRows(st)(_.getLong(0, 0)))
    require(rows.length == 1, s"$layer.$table is not a 1-row scalar table (${rows.length} rows)")
    rows.head
  }

  /** Read attempts of [[readParquetRows]], retries included (specs pin parse counts). */
  private[sources] val parquetReads = new java.util.concurrent.atomic.AtomicLong()

  /** Every row of one small parquet file, read DRIVER-SIDE (no Spark
    * job), with a reader built from the listed status and the session's
    * Hadoop conf — `ParquetReader.builder(path)` builds a fresh
    * `Configuration` per file, 12–16 ms against ~2 ms. A file a
    * concurrent writer has not closed yet fails to open: it is
    * re-stat'ed and retried with backoff, then the failure is rethrown.
    */
  private[sources] def readParquetRows[T](st: org.apache.hadoop.fs.FileStatus)(
      row: org.apache.parquet.example.data.Group => T): Seq[T] = {
    def attempt(n: Int): Seq[T] =
      try {
        parquetReads.incrementAndGet()
        val cur = if (n == 0) st else fs.getFileStatus(st.getPath)
        val in  = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(cur, spark.sparkContext.hadoopConfiguration)
        val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[
            org.apache.parquet.example.data.Group](in) {
          override protected def getReadSupport() =
            new org.apache.parquet.hadoop.example.GroupReadSupport()
        }.build()
        try Iterator.continually(reader.read()).takeWhile(_ != null).map(row).toVector
        finally reader.close()
      } catch {
        case scala.util.control.NonFatal(_) if n < 3 =>
          Thread.sleep(50L << (n + 1))
          attempt(n + 1)
      }
    attempt(0)
  }

  /** DESCRIBE DETAIL parity: one row of physical table facts —
    * format, file count, total bytes, partition columns, retained
    * generation count, and the current ledger version. All from
    * driver-side listings (O(files)), no data read.
    */
  def detail(layer: String, table: String): DataFrame = {
    import spark.implicits._
    val live  = new Path(tablePath(layer, table))
    require(fs.exists(live), s"$layer.$table does not exist")
    def walkBytes(p: Path): (Long, Long) = {
      val st = fs.listStatus(p)
      val files = st.filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      val dirs  = st.filter(_.isDirectory)
      val sub   = dirs.map(d => walkBytes(d.getPath))
      (files.length.toLong + sub.map(_._1).sum, files.map(_.getLen).sum + sub.map(_._2).sum)
    }
    val (numFiles, bytes) = walkBytes(live)
    val layerDir = new Path(s"$root/$layer")
    val prefix   = table + ".__v"
    val gens =
      if (!fs.exists(layerDir)) 0L
      else fs.listStatus(layerDir).count(s =>
        s.getPath.getName.startsWith(prefix) &&
          s.getPath.getName.stripPrefix(prefix).toLongOption.nonEmpty).toLong
    // the deletion-vector gauge: tombstones current reads broadcast —
    // the number an operator watches to schedule [[reorg]] (zero
    // without DV state, at zero jobs; a KB-sized sidecar count when
    // tombstones are live)
    val tombstones = dvRowsFor(layer, table, Long.MaxValue)
      .map(_.count()).getOrElse(0L)
    // the effective time-travel horizon: the smallest version still
    // servable (oldest retained generation, or the live version when
    // no generation is retained) — what VACUUM / vacuumRetainHours
    // advances, surfaced so an operator can see the retention floor
    val cur = latestVersion(s"$layer.$table")
    val oldestRetained =
      if (!fs.exists(layerDir)) cur
      else fs.listStatus(layerDir).map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) =>
          n.stripPrefix(prefix).toLongOption }
        .flatten.minOption.getOrElse(cur)
    Seq((s"$layer.$table", "parquet", numFiles, bytes,
      partitionColumns(layer, table).mkString(","), gens,
      cur, tombstones, oldestRetained))
      .toDF("name", "format", "num_files", "size_in_bytes",
        "partition_columns", "retained_generations", "current_version",
        "live_tombstones", "oldest_retained_version")
  }

  /** Drop the table's entire physical state: live data, retired
    * generations, and every sidecar (`.__changes` feed, stats, blooms,
    * constraints) — a dropped-then-recreated table must not inherit a
    * stale change feed or contract. Ledger history rows remain as the
    * audit trail, so a recreated table's versions continue rather than
    * restart (time travel across the drop refuses — the generations
    * are gone).
    */
  def dropTable(layer: String, table: String): Unit =
    withWriterLock(layer, table) {
      val layerDir = new Path(s"$root/$layer")
      if (fs.exists(layerDir))
        fs.listStatus(layerDir)
          .map(_.getPath)
          .filter(p => p.getName == table || p.getName.startsWith(table + ".__"))
          .foreach(fs.delete(_, true))
      ()
    }


  /** Row count of parquet `files` from footer metadata only. Small
    * sets read DRIVER-SIDE (a per-file `getRecordCount` is one footer
    * fetch — no Spark job, no ~200 ms scheduler latency, which every
    * COW op paid once per commit for its carried-file count); large
    * sets fall back to the distributed zero-column count so a
    * million-file table never serializes footer fetches through the
    * driver.
    */
  private[sources] def footerRowCount(files: Seq[String], basePath: Option[String] = None): Long = {
    if (files.isEmpty) return 0L
    if (files.length > 256) {
      val reader = basePath.foldLeft(spark.read)((r, bp) => r.option("basePath", bp))
      return reader.parquet(files: _*).count()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf)
      val r  = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Normalize a data-file path string to its decoded hadoop form.
    * `input_file_name()` / `Dataset.inputFiles` return URL-ENCODED
    * paths (a hive partition value with a space arrives as `%20`),
    * while `FileStatus.getPath` and the read API work in the decoded
    * domain — so decode once when the string parses as a URI, and take
    * it raw otherwise (a raw path with an unencoded space fails URI
    * parsing, which is exactly the already-decoded case).
    */
  private[sources] def normDataFile(s: String): String =
    try new Path(new java.net.URI(s)).toString
    catch { case _: java.net.URISyntaxException => new Path(s).toString }

  /** Byte-copy files into `staging` on the EXECUTORS — a distributed
    * server-side copy with zero decode/shuffle/encode, the cheap half
    * of file-granular COW (the untouched files of a DELETE/UPDATE).
    * Each element is (absolute source file, relative destination dir
    * under staging — "" for the root, "pt=v/…" for a hive leaf).
    * Basenames are preserved; Spark's fresh-UUID part names for the
    * rewritten files make collisions impossible. The driver's Hadoop
    * conf ships to the executors (broadcast, like every file task) so
    * object-store credentials and fs settings resolve identically.
    */
  private[sources] def copyFilesInto(files: Seq[(String, String)], staging: Path): Unit = {
    if (files.isEmpty) return
    // dirs are created on the driver once, not raced from executors
    files.map(_._2).distinct.foreach { rel =>
      fs.mkdirs(if (rel.isEmpty) staging else new Path(staging, rel)); ()
    }
    val dst = staging.toString
    // Configuration is not Serializable — ship its effective entries
    // and rebuild per task (what Spark's own SerializableConfiguration
    // does, which is private[spark])
    val confEntries: Array[(String, String)] = {
      val it  = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
      buf.toArray
    }
    val confBc = spark.sparkContext.broadcast(confEntries)
    spark.sparkContext
      .parallelize(files, math.min(files.size, 32).max(1))
      .foreach { case (f, rel) =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => conf.set(k, v) }
        val src  = new Path(f)
        val dir  = if (rel.isEmpty) new Path(dst) else new Path(dst, rel)
        val sfs  = src.getFileSystem(conf)
        val dfs  = dir.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(
          sfs, src, dfs, new Path(dir, src.getName), false, conf)
        ()
      }
  }

  // ---- staged-write-then-derive-feed (r19) ----
  //
  // A COW merge used to execute its join plan three times: the narrow
  // metrics pass, the full-width staged result write, and the feed
  // write (full-width again, filtered to the changed rows). The third
  // pass is redundant by construction: stage the merge output
  // hive-partitioned by its ACTION column — the action is a DIRECTORY,
  // so the staged files are the next generation's data files unchanged,
  // and the insert/update/delete directories ARE the changed rows'
  // bytes. The feed then derives from O(changes) staged parquet instead
  // of re-running the join over every touched row (guide §1.2/§2.4),
  // and the action directories fold back into the table layout before
  // the swap.

  /** Write `df` (carrying `actionCol`) into `staging` partitioned by
    * the table's partition columns plus the action; returns
    * action value -> that action's staged data files.
    */
  private[sources] def stageByAction(
      df: DataFrame,
      staging: Path,
      actionCol: String,
      pcols: Seq[String]
  ): Map[String, Seq[String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    df.write.mode(SaveMode.Overwrite)
      .partitionBy((pcols :+ actionCol): _*).parquet(staging.toString)
    leafPartitionDirs(staging, pcols.length + 1)
      .groupBy { rel =>
        ExternalCatalogUtils.unescapePathName(rel.split("/").last.split("=", 2)(1))
      }
      .map { case (action, rels) => action -> dataFilesUnder(staging, rels).map(_._1) }
  }

  /** Fold the `keep` actions' staged files up one level (dropping the
    * action directory) so the staging tree has the table's real layout
    * for the swap; every other action's directory is removed. Files are
    * renamed with the action as a prefix — two actions' files written
    * by the same task share Spark's part name, and the flattened
    * directory must stay collision-free.
    */
  private[sources] def promoteStagedActions(
      staging: Path,
      pcols: Seq[String],
      keep: Set[String]
  ): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val leaves = leafPartitionDirs(staging, pcols.length + 1)
    leaves.foreach { rel =>
      val action = ExternalCatalogUtils.unescapePathName(rel.split("/").last.split("=", 2)(1))
      val dir    = new Path(staging, rel)
      if (keep.contains(action)) {
        dataFilesUnder(staging, Seq(rel)).foreach { case (f, _) =>
          val src = new Path(f)
          renameOrFail(src, new Path(dir.getParent, s"$action-${src.getName}"))
        }
      }
      fs.delete(dir, true)
      ()
    }
    // a partition whose staged rows were delete-only is now an EMPTY
    // leaf dir — remove it, so the swap retires the live directory
    // without replacement exactly as the plain staged write did
    if (pcols.nonEmpty) {
      leaves.map(rel => rel.substring(0, rel.lastIndexOf('/'))).distinct.foreach { prel =>
        val pdir = new Path(staging, prel)
        if (fs.exists(pdir) && fs.listStatus(pdir).isEmpty) { fs.delete(pdir, true); () }
      }
    }
  }

  /** A staged generation that ended up with ZERO data files (every row
    * of a flat table deleted by a merge) must still carry its schema —
    * the merged read infers from footers. One empty part file restores
    * the invariant the plain (non-action-partitioned) staged write had.
    */
  private[sources] def ensureStagedSchema(staging: Path, schema: StructType): Unit = {
    if (dataFilesUnder(staging, Seq("")).isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(staging.toString)
    }
  }

  /** Read exactly `files` of the table, aligned to the table's full
    * (merged) schema — older files may predate evolved columns, which
    * surface as typed nulls, the same contract as a whole-table read.
    * `basePath` (the table root) keeps hive partition columns inferable
    * when the files sit in partition leaf dirs.
    */
  private[sources] def readFilesAligned(
      files: Seq[String],
      full: StructType,
      basePath: Option[String] = None
  ): DataFrame = {
    // explicit schema (r18): the caller already supplies the full
    // merged schema, so footer inference — a plan-time Spark job per
    // call — has nothing to add: files lacking a column null-backfill
    // under a provided schema exactly as under mergeSchema, and columns
    // outside `full` were dropped by the select below either way
    val reader = basePath.foldLeft(spark.read.schema(full))(
      (r, bp) => r.option("basePath", bp))
    alignTo(reader.parquet(files: _*), full)
  }

  /** Data files (with their relative leaf dir) under the given hive
    * leaf dirs of `target` ("" for `target` itself) — the COW
    * carry-over candidates of a partition-scoped DML op.
    */
  private[sources] def dataFilesUnder(target: Path, relDirs: Seq[String]): Seq[(String, String)] =
    relDirs.flatMap { rel =>
      val dir = if (rel.isEmpty) target else new Path(target, rel)
      if (!fs.exists(dir)) Seq.empty
      else
        fs.listStatus(dir)
          .filter { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(s => (new Path(s.getPath.toString).toString, rel))
          .toSeq
    }

  /** Every data file of the table rooted at `root`, hive leaf dirs
    * `depth` deep, with its relative leaf dir — a driver-side listing.
    */
  private[sources] def allDataFiles(root: Path, depth: Int): Seq[(String, String)] =
    dataFilesUnder(root, if (depth == 0) Seq("") else leafPartitionDirs(root, depth))


  /** Hold several tables' writer locks at once — the closest thing the
    * snapshot-dir model has to a multi-table transaction (one thing
    * Delta itself does not give you): e.g. refresh a fact and its MV
    * under one critical section so no competing writer interleaves
    * between the two commits. Locks are acquired in sorted name order,
    * so two multi-table writers with overlapping sets can never
    * deadlock (the classic resource-ordering argument); reentrant like
    * [[withWriterLock]]. Readers still never block — what this
    * serializes is writer-vs-writer interleaving only.
    */
  def withWriterLocks[T](tables: Seq[(String, String)])(body: => T): T = {
    val sorted = tables.distinct.sortBy { case (l, t) => s"$l.$t" }
    def loop(rest: List[(String, String)]): T = rest match {
      case Nil            => body
      case (l, t) :: tail => withWriterLock(l, t)(loop(tail))
    }
    loop(sorted.toList)
  }

}

object Warehouse {
  /** Parquet schema of a ledger metrics row — the exact column
    * names/types the Spark-written ledger era used (`toDF` of longs
    * and strings), so driver-side rows and job-written rows union
    * under mergeSchema.
    */
  private[sources] val LedgerSchema: org.apache.parquet.schema.MessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message ledger {
        |  required binary table_name (UTF8);
        |  required binary operation (UTF8);
        |  required int64 num_inserted;
        |  required int64 num_updated;
        |  required int64 num_deleted;
        |  required int64 num_output_rows;
        |  required int64 ts_millis;
        |  required int64 version;
        |}""".stripMargin)

  /** A writer could not take a table's lock within `lockWaitMs` —
    * another writer is active (Delta's ConcurrentWriteException
    * parity). The operation made no changes; the caller may retry.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** A write's incoming rows (or the existing data, at ADD CONSTRAINT
    * time) violate a recorded CHECK / NOT NULL constraint. Thrown
    * before any data lands — the table is unchanged.
    */
  final class ConstraintViolationException(msg: String) extends RuntimeException(msg)
}
