package graft.sources

import graft.operators.Upsert
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** History surfaces: the change feed (CDF) family, the ops ledger
  * (DESCRIBE HISTORY parity) with version arithmetic and checkpoints,
  * version- and timestamp-based time travel, and RESTORE. Split from
  * Warehouse.scala for reviewability — no behavior change.
  */
private[sources] trait WarehouseTimeTravel { self: Warehouse =>

  /** The table's change feed (Delta CDF `table_changes` replacement):
    * every merge's insert/update rows, tagged `_change_type` and
    * `_commit_version`, for versions AFTER `sinceVersion`. The feed is
    * append-only and survives generation pruning — a downstream
    * consumer can refresh incrementally from any version it last saw,
    * even after the matching snapshot is vacuumed.
    *
    * Layout: the sidecar is hive-partitioned by `_commit_part` (the
    * zero-padded version — Spark's partition-value inference reads it
    * back as an integral type, and the tail predicate casts it to long
    * explicitly, so the comparison is numeric at any digit count), so
    * a tail from version N is a PARTITION-PRUNED read of the commits
    * after N, not a scan-all-then-filter of a feed that only ever
    * grows — partition predicates evaluate against the discovered
    * partition VALUES at planning, never against data files. That is
    * what keeps incremental consumers O(delta) over the table's whole
    * life, not O(history). `_commit_version` stays a data column —
    * consumer schemas are unchanged.
    *
    * Feeds written by engine versions that predate the partitioned
    * layout hold their data files at the sidecar ROOT; Spark refuses
    * mixed root-files + partition-dirs discovery, so the first read
    * MIGRATES legacy files into `_commit_part=` directories (derived
    * from each row's `_commit_version`) once, then deletes them — no
    * history is lost and the pruned tail applies to the whole feed.
    */
  def changeFeed(layer: String, table: String, sinceVersion: Long = -1L): DataFrame = {
    val p = tablePath(layer, table) + ".__changes"
    require(fs.exists(new Path(p)), s"$layer.$table has no change feed (no merges recorded)")
    migrateLegacyFeed(p)
    // upper bound at the committed ledger version: ops write feed rows
    // BEFORE their swap commits, so a crashed op's phantom partition
    // (repaired away at the next op head) is invisible to readers too
    feedRead(layer, table, p)
      .filter(col("_commit_part").cast("long") > sinceVersion &&
        col("_commit_part").cast("long") <= latestVersion(s"$layer.$table"))
      .drop("_commit_part")
  }

  /** Bounded change feed — Delta's two-arg
    * `table_changes(t, startVersion, endVersion)`: both bounds
    * INCLUSIVE, the end capped at the committed ledger head (Delta
    * errors past-head reads; capping serves the same
    * no-phantom-commits contract under the feed's write-before-swap
    * ordering). Same partition-pruned tail as [[changeFeed]]: the
    * range reads exactly the `_commit_part` directories it spans,
    * O(range), never O(history).
    */
  def changeFeedRange(
      layer: String,
      table: String,
      fromVersion: Long,
      toVersion: Long
  ): DataFrame = {
    require(fromVersion >= 0, s"fromVersion must be >= 0, got $fromVersion")
    require(toVersion >= fromVersion,
      s"table_changes range is inverted: [$fromVersion, $toVersion]")
    val p = tablePath(layer, table) + ".__changes"
    require(fs.exists(new Path(p)), s"$layer.$table has no change feed (no merges recorded)")
    migrateLegacyFeed(p)
    val cap = math.min(toVersion, latestVersion(s"$layer.$table"))
    feedRead(layer, table, p)
      .filter(col("_commit_part").cast("long") >= fromVersion &&
        col("_commit_part").cast("long") <= cap)
      .drop("_commit_part")
  }

  /** Driver-side stats of the feed tail in (sinceVersion, committed]:
    * (row count, max committed version carrying rows) straight from the
    * `_commit_part=` directory names and parquet footers — no Spark
    * job. Once the feed is hive-partitioned by commit version, "how
    * many rows since the cursor, and up to which version" are METADATA
    * facts (guide §1.2: don't run a distributed pass for what a footer
    * already knows); [[graft.operators.MaterializedAgg.refresh]] used
    * to pay a count+max job over the cached feed tail for exactly
    * these two numbers. Phantom partitions beyond the committed ledger
    * head are excluded exactly like [[changeFeed]]; returns
    * (0, sinceVersion) when nothing newer is committed.
    */
  def changeFeedTailStats(layer: String, table: String, sinceVersion: Long): (Long, Long) = {
    val p = tablePath(layer, table) + ".__changes"
    require(fs.exists(new Path(p)), s"$layer.$table has no change feed (no merges recorded)")
    migrateLegacyFeed(p)
    val cap = latestVersion(s"$layer.$table")
    var rows = 0L
    var maxV = sinceVersion
    fs.listStatus(new Path(p))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_commit_part="))
      .foreach { s =>
        s.getPath.getName.stripPrefix("_commit_part=").toLongOption.foreach { v =>
          if (v > sinceVersion && v <= cap) {
            val files = fs.listStatus(s.getPath).collect {
              case f if f.isFile && !f.getPath.getName.startsWith("_") &&
                !f.getPath.getName.startsWith(".") => f.getPath.toString
            }
            val n = footerRowCount(files.toSeq)
            if (n > 0) {
              rows += n
              if (v > maxV) maxV = v
            }
          }
        }
      }
    (rows, maxV)
  }

  /** Feed-sidecar scan through the version-keyed schema cache (r18):
    * feed files only accrue with table commits, so a feed schema
    * inferred at ledger version v stays exact until the next commit —
    * a cache hit turns the plan-time footer-merge job the bare
    * mergeSchema read paid per call into zero jobs. Same freshness
    * argument as [[Warehouse.mergedSchemaOf]]; the file listing itself
    * is still per-read.
    */
  private def feedRead(layer: String, table: String, p: String): DataFrame = {
    val key = s"$layer.$table.__changes"
    val ver = latestVersion(s"$layer.$table")
    if (ver < 0) spark.read.option("mergeSchema", "true").parquet(p)
    else {
      val hit = feedSchemaCache.get(key)
      val schema =
        if (hit != null && hit._1 == ver) hit._2
        else {
          val s = spark.read.option("mergeSchema", "true").parquet(p).schema
          feedSchemaCache.put(key, (ver, s))
          s
        }
      spark.read.schema(schema).parquet(p)
    }
  }

  private val feedSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  /** Carry the feed-schema cache forward across a commit whose feed
    * rows have exactly the columns the cached feed schema already
    * holds (r19): merging identical per-file schemas cannot change the
    * inference result, so the next feed read's footer-merge job has
    * nothing to add — [[graft.operators.MaterializedAgg.refresh]] paid
    * that job on every call because its own commit had just bumped the
    * version. Any mismatch (evolution, first feed write, cold cache)
    * leaves the cache cold and the next read re-infers as before.
    * `dataSchema` = the op's data columns; every feed write appends
    * `_change_type` (string) and `_commit_version` (long) on top, with
    * `_commit_part` as the partition directory.
    */
  private[sources] def primeFeedSchemaCache(
      layer: String,
      table: String,
      dataSchema: org.apache.spark.sql.types.StructType): Unit = {
    val key = s"$layer.$table.__changes"
    val hit = feedSchemaCache.get(key)
    if (hit == null) return
    val cachedData = hit._2.fields
      .filterNot(f => f.name == "_commit_part")
      .map(f => (f.name, f.dataType)).toSet
    val written = dataSchema.fields.map(f => (f.name, f.dataType)).toSet ++
      Set(("_change_type", org.apache.spark.sql.types.StringType: org.apache.spark.sql.types.DataType),
        ("_commit_version", org.apache.spark.sql.types.LongType: org.apache.spark.sql.types.DataType))
    val ver = latestVersion(s"$layer.$table")
    if (ver >= 0 && cachedData == written) { feedSchemaCache.put(key, (ver, hit._2)); () }
  }

  /** Net effect of a version range — the review surface over
    * [[changeFeedRange]]: a row inserted AND deleted inside the range
    * cancels; a row updated is one removal of its pre-image and one
    * addition of its post-image. Grouped by the full data row
    * (additions = insert/update_postimage, removals =
    * delete/update_preimage), emitting only rows whose add/remove
    * counts don't balance, tagged with the surviving direction. One
    * shuffle keyed by the data columns — at 100 TB the feed slice is
    * O(range's churn), and the collapse is a single partial-aggregated
    * groupBy over it.
    */
  def changeFeedNet(
      layer: String,
      table: String,
      fromVersion: Long,
      toVersion: Long
  ): DataFrame = {
    val feed = changeFeedRange(layer, table, fromVersion, toVersion)
    val dataCols = feed.columns.filterNot(Set("_change_type", "_commit_version").contains).toSeq
    val added = col("_change_type").isin("insert", "update_postimage")
    feed
      .groupBy(dataCols.map(col): _*)
      .agg(
        sum(when(added, 1L).otherwise(0L)).as("n_added"),
        sum(when(added, 0L).otherwise(1L)).as("n_removed"))
      .withColumn("net", col("n_added") - col("n_removed"))
      .filter(col("net") =!= 0L)
      .withColumn("_change_type", when(col("net") > 0, lit("insert")).otherwise(lit("delete")))
  }

  /** The hive partition directories of a partitioned table, as their
    * relative `col=value[/col2=value2]` spellings (the SHOW PARTITIONS
    * surface). Driver-side listing, O(partition count) — no data I/O.
    */
  def partitions(layer: String, table: String): Seq[String] = {
    val pcols = partitionColumns(layer, table)
    require(pcols.nonEmpty, s"$layer.$table is not partitioned")
    leafPartitionDirs(new Path(tablePath(layer, table)), pcols.length).sorted
  }

  /** One-time upgrade of a pre-partitioned-layout feed: rewrite any
    * root-level data files under `_commit_part=` hive directories.
    *
    * Crash-idempotent via a rename manifest: migrated rows are staged
    * beside the feed, then a manifest listing every (staged file →
    * destination) move plus the legacy sources is committed BEFORE any
    * move runs. A crash before the manifest restarts from scratch
    * (staging is overwritten); a crash after it replays the manifest —
    * renames with fixed names and deletes are both idempotent — so
    * re-migration can never re-append rows it already moved (the naive
    * append-then-delete had exactly that duplication window).
    */
  private[sources] def migrateLegacyFeed(feedPath: String): Unit = {
    val manifest = new Path(feedPath + ".__migration_manifest")
    val staging  = new Path(feedPath + ".__migration_staging")
    def replay(): Unit = {
      val in = fs.open(manifest)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      lines.filter(_.nonEmpty).foreach { line =>
        line.split("\t", 3) match {
          case Array("mv", src, dst) =>
            val (s, d) = (new Path(src), new Path(dst))
            if (fs.exists(s)) { // absent ⇒ an earlier replay moved it
              fs.mkdirs(d.getParent)
              if (!fs.rename(s, d))
                throw new java.io.IOException(s"feed migration rename $s -> $d failed")
            }
          case Array("rm", p) => fs.delete(new Path(p), false); ()
          case _              => ()
        }
      }
      fs.delete(staging, true)
      fs.delete(manifest, false)
    }
    if (fs.exists(manifest)) { replay(); return }
    val legacy = fs
      .listStatus(new Path(feedPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
    if (legacy.isEmpty) return
    fs.delete(staging, true)
    spark.read
      .parquet(legacy.map(_.getPath.toString).toIndexedSeq: _*)
      .withColumn("_commit_part", format_string("%010d", col("_commit_version")))
      .write.mode(SaveMode.Overwrite).partitionBy("_commit_part")
      .parquet(staging.toString)
    val moves = leafPartitionDirs(staging, 1).flatMap { rel =>
      fs.listStatus(new Path(staging, rel))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(s => s"mv\t${s.getPath}\t${new Path(s"$feedPath/$rel", s.getPath.getName)}")
    }
    val rms = legacy.map(s => s"rm\t${s.getPath}").toSeq
    val out = fs.create(manifest, true)
    try out.write((moves ++ rms).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    replay()
  }

  // ---- ops ledger (replaces Delta DESCRIBE HISTORY, SURVEY §2.1 S12) ----

  private[sources] val ledgerLayer = "_ops"
  private[sources] val ledgerTable = "ledger"

  private[sources] def logOp(
      layer: String,
      table: String,
      op: String,
      inserted: Long,
      updated: Long,
      outputRows: Long,
      version: Long = -1L, // -1 = assign the next version here
      deleted: Long = 0L   // Delta's numDeletedRows — what makes a real
                           // DELETE distinguishable from a no-op commit
  ): Unit = {
    val ver = if (version >= 0) version else nextVersion(s"$layer.$table")
    // One metrics row per commit, written DRIVER-SIDE with parquet-java
    // (ExampleParquetWriter) instead of a Spark job: a 1-row toDF write
    // costs a full job submission (~100-200 ms of scheduler latency),
    // and a DML-heavy pipeline pays it on every commit. The file is
    // footer-compatible with the Spark-written ledger generations
    // (int64 / UTF8 binary), so history()'s mergeSchema read unions
    // both eras transparently; a UUID file name keeps concurrent
    // cross-table commits (different locks!) collision-free.
    val dir = new Path(tablePath(ledgerLayer, ledgerTable))
    fs.mkdirs(dir)
    val file = new Path(dir, s"part-graft-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
      .withType(Warehouse.LedgerSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(Warehouse.LedgerSchema)
      g.append("table_name", s"$layer.$table")
      g.append("operation", op)
      g.append("num_inserted", inserted)
      g.append("num_updated", updated)
      g.append("num_deleted", deleted)
      g.append("num_output_rows", outputRows)
      g.append("ts_millis", System.currentTimeMillis())
      g.append("version", ver)
      writer.write(g)
    } finally writer.close()
    ledgerIndex.put(file.getName, Map(s"$layer.$table" -> ver))
    // advance the under-lock cache to the committed version (max: an
    // explicit `version` may replay an already-logged commit)
    if (heldLocks.get().contains(s"$layer.$table"))
      lockedVersionCache.merge(s"$layer.$table", ver,
        (a, b) => if (a >= b) a else b)
    // Delta-style automatic checkpoint cadence: every 64th commit of a
    // table folds the ledger tail inline (Delta checkpoints its JSON
    // log every 10 commits for the same reason — metadata reads must
    // not scale with commit count). The minFiles gate makes the check
    // a no-op listing when other tables' cadence already folded; the
    // fold itself is bounded by the files accrued since the last one.
    if (ver > 0 && ver % 64 == 0) { checkpointLedger(minFiles = 16); () }
  }

  /** Ledger versions in (`version`, current] whose op actually REWROTE
    * table data — i.e. retired a generation at commit. APPENDs and
    * zero-change DML commits (the unified no-op convention: MERGE /
    * DELETE / UPDATE with all-zero metrics) rewrite nothing, retire
    * nothing, and fold into their predecessor on time travel; every
    * other op (CTAS, COMPACT, ZORDER, RESTORE — and DML with non-zero
    * metrics) left a `.__v{v-1}` generation, so its absence means
    * VACUUM pruned history, which time travel must refuse.
    */
  private[sources] def rewritingAfter(tableName: String, version: Long): Set[Long] =
    // rewritingOpPred: APPEND/VACUUM/MOR commits retire nothing; a DML
    // commit rewrote iff its metrics are non-zero or an evolution-
    // forced rewrite logged its kept row count (true no-ops log 0)
    history(tableName)
      .filter(col("version") > version && rewritingOpPred)
      .select(col("version")).collect().map(_.getLong(0)).toSet

  /** Latest ledger version for a table; -1 before its first op.
    * While this thread holds the table's writer lock the value is
    * served from [[lockedVersionCache]] after one lookup (the ledger
    * cannot move under our hold; the cache saves the listing, which on
    * an object store costs more than a parse); unlocked callers always
    * list — another JVM may have committed since.
    */
  private[sources] def latestVersion(tableName: String): Long = {
    val locked = heldLocks.get().contains(tableName)
    if (locked) {
      val c = lockedVersionCache.get(tableName)
      if (c != null) return c.longValue()
    }
    val v = ledgerMaxVersion(tableName)
    if (locked) lockedVersionCache.put(tableName, v)
    v
  }

  /** Ledger index: ledger file name → max version per table in it.
    * Ledger files are immutable and UUID-named, so a parsed file is
    * never read again (Delta's snapshot update reads only new log
    * entries). Filled on a lookup miss, and by [[logOp]] and
    * [[checkpointLedger]] for the files they write.
    */
  private[sources] val ledgerIndex =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()

  /** Max ledger version for a table, read DRIVER-SIDE with parquet-java
    * (no Spark job). The ledger holds one 1-row file per commit (plus
    * checkpoints and older multi-row generations), and the 64-commit
    * checkpoint never fires in a daily run: parsing every file on every
    * lookup cost O(commits) × 2–16 ms. So each call LISTS the directory
    * (other JVMs' commits stay visible), parses only files missing from
    * [[ledgerIndex]], and drops entries of files no longer listed; a
    * warm lookup is one listing and zero parses. A file still being
    * written is retried, then raised — never skipped (a missed version
    * lets two writers claim one number) and never indexed.
    */
  private[sources] def ledgerMaxVersion(tableName: String): Long = {
    val dir = new Path(tablePath(ledgerLayer, ledgerTable))
    if (!fs.exists(dir)) { ledgerIndex.clear(); return -1L }
    val listed = fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    ledgerIndex.keySet.retainAll(listed.map(_.getPath.getName).toSet.asJava)
    listed.iterator.flatMap { st =>
      val name = st.getPath.getName
      Option(ledgerIndex.get(name)).getOrElse {
        // parsed outside the map's locks; a racing duplicate parse is harmless
        val versions = readParquetRows(st)(g => (g.getString("table_name", 0), g.getLong("version", 0)))
          .groupMapReduce(_._1)(_._2)(math.max)
        ledgerIndex.put(name, versions)
        versions
      }.get(tableName)
    }.maxOption.getOrElse(-1L)
  }

  private[sources] def nextVersion(tableName: String): Long = latestVersion(tableName) + 1L

  /** Compact the ledger's one-file-per-commit tail into a single
    * checkpoint file — Delta's `_last_checkpoint` idea applied to this
    * warehouse's metrics ledger. Every DML commit appends one tiny
    * parquet file ([[logOp]]), so a long-running pipeline accrues one
    * ledger file PER COMMIT and every version lookup / history read
    * pays O(commits) file opens; at 100 TB scale (thousands of daily
    * commits across tables) the metadata path, not the data path,
    * becomes the bottleneck — exactly why Delta checkpoints its JSON
    * log every 10 commits. This folds all current ledger files into
    * one multi-row checkpoint file with identical rows, after which
    * both [[ledgerMaxVersion]] and [[history]] read O(1) files.
    *
    * Safety under concurrency, without pausing writers:
    *  - only the files LISTED at entry are folded and deleted — a
    *    commit landing mid-checkpoint writes a fresh UUID file that is
    *    neither read nor deleted, so no commit is ever lost;
    *  - a listed file still mid-write (footer race — the same window
    *    [[ledgerMaxVersion]] retries over) is retried, then LEFT IN
    *    PLACE (neither folded nor deleted) for the next checkpoint;
    *    skipping a read-failure but deleting it would lose a commit;
    *  - checkpoint-vs-checkpoint races are serialized by the ledger's
    *    own writer lock; the checkpoint file is named like a data part
    *    (no leading `_`/`.`), so readers need no special handling and
    *    a reader racing the final deletes sees at worst a transient
    *    duplicate row, which max()/Set-shaped consumers absorb.
    *
    * Legacy rows whose file predates the `num_deleted` column are
    * backfilled with [[history]]'s exact rule (DELETE → 1, else 0) so
    * the checkpointed row is indistinguishable from the runtime
    * backfill. Returns the number of files folded (0 = below
    * `minFiles`, nothing to do).
    */
  def checkpointLedger(minFiles: Int = 2): Long =
    withWriterLock(ledgerLayer, ledgerTable) {
      val dir = new Path(tablePath(ledgerLayer, ledgerTable))
      if (!fs.exists(dir)) return 0L
      val files = fs.listStatus(dir).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      if (files.length < math.max(2, minFiles)) return 0L
      // a file that still fails after the retries is left for the next checkpoint
      val read = files.flatMap { st =>
        try Some(st.getPath -> readParquetRows(st) { g =>
          val op  = g.getString("operation", 0)
          val del =
            if (g.getType.containsField("num_deleted")) g.getLong("num_deleted", 0)
            else if (op == "DELETE") 1L
            else 0L
          (g.getString("table_name", 0), op,
            g.getLong("num_inserted", 0), g.getLong("num_updated", 0), del,
            g.getLong("num_output_rows", 0), g.getLong("ts_millis", 0),
            g.getLong("version", 0))
        })
        catch { case scala.util.control.NonFatal(_) => None }
      }
      val folded = read.map(_._1)
      val rows   = read.flatMap(_._2)
      if (folded.length < 2) return 0L
      val out = new Path(dir, s"part-graft-ckpt-${java.util.UUID.randomUUID()}.snappy.parquet")
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          out, spark.sparkContext.hadoopConfiguration))
        .withType(Warehouse.LedgerSchema)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      try rows.foreach { case (tn, op, ins, upd, del, outRows, ts, ver) =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(Warehouse.LedgerSchema)
        g.append("table_name", tn)
        g.append("operation", op)
        g.append("num_inserted", ins)
        g.append("num_updated", upd)
        g.append("num_deleted", del)
        g.append("num_output_rows", outRows)
        g.append("ts_millis", ts)
        g.append("version", ver)
        writer.write(g)
      } finally writer.close()
      ledgerIndex.put(out.getName, rows.groupMapReduce(_._1)(_._8)(math.max))
      folded.foreach { p => fs.delete(p, false); ledgerIndex.remove(p.getName) }
      folded.length.toLong
    }

  /** The table's current ledger version — what [[tableAsOf]] of this
    * value reads, and the cursor an incremental consumer records.
    */
  def currentVersion(layer: String, table: String): Long = latestVersion(s"$layer.$table")

  /** Resolve a wall-clock instant to the ledger version in effect at
    * that time — Delta `TIMESTAMP AS OF` semantics: the greatest
    * commit whose ledger timestamp is <= the instant (commits at the
    * same millisecond resolve to the later version). Throws if the
    * instant predates the table's first commit, exactly like Delta's
    * before-first-commit error. One ledger scan, O(commits).
    */
  def versionAsOfTimestamp(layer: String, table: String, tsMillis: Long): Long = {
    val h = history(s"$layer.$table").filter(col("ts_millis") <= tsMillis)
    require(!h.isEmpty,
      s"$layer.$table has no commit at or before timestamp $tsMillis")
    h.agg(max("version")).head().getLong(0)
  }

  /** The first ledger version committed AT or AFTER a wall-clock
    * instant — Delta's startingTimestamp resolution for CDF reads
    * (the starting bound names the first version the instant can see,
    * where [[versionAsOfTimestamp]] names the last version visible AT
    * the instant).
    */
  def versionAtOrAfterTimestamp(layer: String, table: String, tsMillis: Long): Long = {
    val h = history(s"$layer.$table").filter(col("ts_millis") >= tsMillis)
    require(!h.isEmpty,
      s"$layer.$table has no commit at or after timestamp $tsMillis")
    h.agg(min("version")).head().getLong(0)
  }

  /** Bounded change feed by wall-clock instants (Delta's
    * timestamp-form `table_changes(t, ts1, ts2)`): the start resolves
    * to the first commit at-or-after ts1, the end to the last commit
    * at-or-before ts2, then the version-range tail applies — same
    * partition-pruned O(range) read as [[changeFeedRange]].
    */
  def changeFeedRangeTimestamp(
      layer: String,
      table: String,
      fromTsMillis: Long,
      toTsMillis: Long
  ): DataFrame = {
    require(toTsMillis >= fromTsMillis,
      s"table_changes timestamp range is inverted: [$fromTsMillis, $toTsMillis]")
    changeFeedRange(layer, table,
      versionAtOrAfterTimestamp(layer, table, fromTsMillis),
      versionAsOfTimestamp(layer, table, toTsMillis))
  }

  /** Read the table as it stood at a wall-clock instant (Delta
    * `SELECT ... TIMESTAMP AS OF`): resolves the instant to its
    * ledger version, then time-travels there — same retention rules
    * as [[tableAsOf]].
    */
  def tableAsOfTimestamp(layer: String, table: String, tsMillis: Long): DataFrame =
    tableAsOf(layer, table, versionAsOfTimestamp(layer, table, tsMillis))

  /** RESTORE to the state at a wall-clock instant (Delta
    * `RESTORE ... TO TIMESTAMP AS OF`).
    */
  def restoreToTimestamp(layer: String, table: String, tsMillis: Long): Long =
    restore(layer, table, versionAsOfTimestamp(layer, table, tsMillis))

  /** Change rows committed strictly AFTER a wall-clock instant (the
    * timestamp form of [[changeFeed]]'s version cursor — Delta CDF's
    * `startingTimestamp`, exclusive at the resolved version so a
    * consumer that processed through time T never re-reads T's own
    * commit).
    */
  def changeFeedSinceTimestamp(layer: String, table: String, tsMillis: Long): DataFrame =
    changeFeed(layer, table, versionAsOfTimestamp(layer, table, tsMillis))

  /** Read the table as of a past ledger `version` (Delta time travel).
    * Replacing writes (CREATE OR REPLACE, MERGE, COMPACT) retire the
    * outgoing generation under `<table>.__v<version>`, so the last
    * `keepGenerations` of those are readable; APPEND mutates its
    * generation in place (its pre-state folds into the predecessor),
    * matching what a row-count-preserving reader needs from history.
    * Throws if the requested generation has been pruned.
    */
  def tableAsOf(layer: String, table: String, version: Long): DataFrame = {
    val current = latestVersion(s"$layer.$table")
    require(version <= current, s"version $version of $layer.$table does not exist yet")
    if (version == current) return this.table(layer, table)
    // every snapshot source below applies the DV rule at `version`:
    // tombstones in (lastRewrite(version), version] subtract, files
    // appended by MOR commits after `version` hide — so a read between
    // two merge-on-read commits reconstructs exactly, generation or
    // not (see the deletion-vector section note)
    val p = new Path(tablePath(layer, table) + s".__v$version")
    if (fs.exists(p) && !fs.exists(new Path(p, "_GRAFT_SPARSE")))
      return applyDv(spark.read.parquet(p.toString), layer, table, version,
        partitionDepth(p))
    if (partitionColumns(layer, table).nonEmpty)
      return reconstructAsOf(layer, table, version, current)
    // whole-table fold: ops after `version` that rewrote nothing
    // (APPENDs, zero-change DML commits, merge-on-read commits) left
    // no `.__v{version}` — the state at `version` is the next retained
    // FULL snapshot if a later rewrite took one (appends between fold
    // forward into it, per the contract), else the live table itself
    val rewriting = rewritingAfter(s"$layer.$table", version)
    if (rewriting.isEmpty)
      return applyDv(rawTable(layer, table), layer, table, version,
        partitionColumns(layer, table).length)
    val g = new Path(tablePath(layer, table) + s".__v${rewriting.min - 1L}")
    require(fs.exists(g) && !fs.exists(new Path(g, "_GRAFT_SPARSE")),
      s"version $version of $layer.$table is not retained " +
        s"(current=$current, keepGenerations=$keepGenerations)")
    applyDv(spark.read.parquet(g.toString), layer, table, version, partitionDepth(g))
  }

  /** Overlay reconstruction for partition-scoped history. Each
    * partition's state at `version` is its copy in the EARLIEST retired
    * generation ≥ `version` that holds it — the pre-image taken by the
    * first rewrite after `version` (untouched in between, so identical
    * to its state at `version`); a partition no generation holds was
    * never rewritten since, so its LIVE directory still is that state.
    * A full (non-sparse) snapshot bounds the search: a partition absent
    * from it did not exist at that version. Refuses if any replacing
    * op's generation after `version` has been vacuumed (the overlay
    * would silently read too-new data). Appends fold into the
    * predecessor, exactly like the whole-table time-travel contract.
    */
  private[sources] def reconstructAsOf(
      layer: String,
      table: String,
      version: Long,
      current: Long
  ): DataFrame = {
    val layerDir = new Path(s"$root/$layer")
    val prefix   = table + ".__v"
    val gens = fs
      .listStatus(layerDir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix).toLongOption }
      .flatten
      .filter(_ >= version)
      .sorted
    // only ops that actually rewrote data retired a generation — a
    // zero-change DML commit (the unified no-op convention) retires
    // nothing, so its missing `.__v` is a fold, not a vacuumed hole
    val replacingAfter = rewritingAfter(s"$layer.$table", version)
    val needed = replacingAfter.map(_ - 1L).filter(_ >= version)
    require(
      needed.forall(gens.contains),
      s"version $version of $layer.$table is not retained " +
        s"(current=$current, keepGenerations=$keepGenerations)")
    val pcols = partitionColumns(layer, table)
    require(pcols.nonEmpty,
      s"version $version of $layer.$table is not retained " +
        s"(current=$current, keepGenerations=$keepGenerations)")
    val depth  = pcols.length
    val taken  = scala.collection.mutable.HashSet[String]()
    val byRoot = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    var closed = false
    for (g <- gens if !closed) {
      val rootP = new Path(tablePath(layer, table) + s".__v$g")
      val fresh = leafPartitionDirs(rootP, depth).filterNot(taken)
      if (fresh.nonEmpty) byRoot(rootP.toString) = fresh
      taken ++= fresh
      // directories the op at generation g CREATED (its _GRAFT_CREATED
      // manifest) did not exist at any version ≤ g: block every later
      // source — including the live table — from supplying them
      val manifest = new Path(rootP, "_GRAFT_CREATED")
      if (fs.exists(manifest)) {
        val in = fs.open(manifest)
        val created =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
          finally in.close()
        taken ++= created.filter(_.nonEmpty)
      }
      // a full snapshot holds EVERY partition that existed at its
      // version — nothing beyond it can be older state
      if (!fs.exists(new Path(rootP, "_GRAFT_SPARSE"))) closed = true
    }
    if (!closed) {
      val liveRoot = new Path(tablePath(layer, table))
      val fresh    = leafPartitionDirs(liveRoot, depth).filterNot(taken)
      if (fresh.nonEmpty) byRoot(liveRoot.toString) = fresh
    }
    require(byRoot.nonEmpty, s"version $version of $layer.$table has no partitions to read")
    val laterFiles = dvFilesAfter(layer, table, version)
    val tombstones = dvRowsFor(layer, table, version)
    val needDv     = laterFiles.nonEmpty || tombstones.isDefined
    val unioned = byRoot
      .map { case (rootStr, dirs) =>
        // basePath per root so the partition columns materialize from
        // the directory names exactly as a direct table read would
        val branch = spark.read
          .option("mergeSchema", "true")
          .option("basePath", rootStr)
          .parquet(dirs.map(d => s"$rootStr/$d"): _*)
        // metadata columns only exist on a scan — take them per branch,
        // BEFORE the union erases the file-source lineage
        if (needDv) withDvMeta(branch, depth) else branch
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    if (!needDv) unioned
    else {
      val hidden =
        if (laterFiles.isEmpty) unioned
        else unioned.filter(!col("__dv_f").isin(laterFiles: _*))
      (tombstones match {
        case Some(dv) => dvAntiJoin(hidden, dv)
        case None     => hidden
      }).drop("__dv_f", "__dv_p")
    }
  }

  /** Roll the table back to a retained past `version` (Delta RESTORE
    * replacement — completes the time-travel surface: [[history]] to
    * inspect, [[tableAsOf]] to read, restore to act). The snapshot is
    * materialized through the same staged swap as every replacing
    * write, so the outgoing (pre-restore) generation retires and a
    * mistaken restore is itself restorable. Ledgers as `RESTORE` at a
    * new version; like Delta, no row-level change-feed entries are
    * emitted — CDC consumers resync from the restored snapshot.
    */
  def restore(layer: String, table: String, version: Long): Long =
    withWriterLock(layer, table)(restoreImpl(layer, table, version))

  private[sources] def restoreImpl(layer: String, table: String, version: Long): Long = {
    repairCrashedSwap(layer, table)
    val snap    = tableAsOf(layer, table, version) // validates retention
    val pcols   = partitionColumns(layer, table)   // preserve the live layout
    val staging = new Path(tablePath(layer, table) + ".__restore_staging")
    fs.delete(staging, true)
    val obs = org.apache.spark.sql.Observation()
    val writer = snap.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
    (if (pcols.nonEmpty) writer.partitionBy(pcols: _*) else writer).parquet(staging.toString)
    val rows = obs.get("n").asInstanceOf[Long]
    retireAndSwap(layer, table, staging)
    logOp(layer, table, "RESTORE", inserted = rows, updated = 0, outputRows = rows)
    rows
  }

  /** All ledger entries for a table — the engine's DESCRIBE HISTORY.
    * Read with mergeSchema and backfill `num_deleted` (added after the
    * 7-column ledger era) to 0: a warehouse carrying mixed-generation
    * ledger files must neither fail to resolve the column nor surface
    * nulls — a null metric in [[rewritingAfter]]'s `sum > 0` predicate
    * would misclassify a legacy real DELETE as a non-rewriting fold.
    */
  def history(tableName: String): DataFrame = {
    if (!fs.exists(new Path(tablePath(ledgerLayer, ledgerTable)))) {
      import spark.implicits._
      return Seq.empty[(String, String, Long, Long, Long, Long, Long, Long)]
        .toDF("table_name", "operation", "num_inserted", "num_updated", "num_deleted",
          "num_output_rows", "ts_millis", "version")
    }
    val raw = spark.read
      .option("mergeSchema", "true")
      .parquet(tablePath(ledgerLayer, ledgerTable))
    // Legacy DELETE rows predate both the column AND the zero-change
    // no-op convention — those commits always rewrote, so backfill 1
    // ("unknown but nonzero") rather than 0, which would let tableAsOf
    // fold past a retired generation and serve too-new data.
    val withDeleted =
      if (raw.columns.contains("num_deleted"))
        raw.withColumn("num_deleted", coalesce(col("num_deleted"),
          when(col("operation") === "DELETE", lit(1L)).otherwise(lit(0L))))
      else raw.withColumn("num_deleted",
        when(col("operation") === "DELETE", lit(1L)).otherwise(lit(0L)))
    withDeleted.filter(col("table_name") === tableName)
  }

  /** Latest operation metrics (reference `order by version desc limit 1`,
    * silver_arxiv.py:181-182).
    */
  def lastOperation(tableName: String): Option[org.apache.spark.sql.Row] =
    history(tableName).orderBy(desc("version")).limit(1).collect().headOption
}
