package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** The full Delta MERGE clause surface, as data. Conditions and
  * assignment/value expressions reference the join sides through the
  * fixed aliases `t` (target) and `s` (source) — e.g.
  * `expr("s.version > t.version")`, `Map("flag" -> lit(-1))` — because
  * [[Upsert.planClauses]] aliases the two inputs exactly so. Clause
  * order is Delta's: within a realm (matched / not-matched /
  * not-matched-by-source) the FIRST clause whose condition holds
  * applies; a row no clause claims is kept (matched / target-only) or
  * dropped (source-only).
  */
object MergeClause {
  /** WHEN MATCHED [AND cond] THEN ... */
  sealed trait Matched { def cond: Option[Column] }
  /** ... UPDATE SET * (set = None) or SET col = expr, ... (set = Some). */
  final case class UpdateMatched(cond: Option[Column], set: Option[Map[String, Column]])
      extends Matched
  /** ... DELETE. */
  final case class DeleteMatched(cond: Option[Column]) extends Matched

  /** WHEN NOT MATCHED [BY TARGET] [AND cond] THEN INSERT ... */
  sealed trait NotMatched { def cond: Option[Column] }
  /** ... INSERT * (values = None) or INSERT (cols) VALUES (exprs). */
  final case class InsertNotMatched(cond: Option[Column], values: Option[Map[String, Column]])
      extends NotMatched

  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN ... */
  sealed trait BySource { def cond: Option[Column] }
  final case class UpdateBySource(cond: Option[Column], set: Map[String, Column])
      extends BySource
  final case class DeleteBySource(cond: Option[Column]) extends BySource

  /** The classic conditional-upsert shape (reference
    * silver_arxiv.py:145-151) expressed as clauses: WHEN MATCHED AND
    * s.version > t.version THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *.
    */
  def upsertShape(versionCol: String): (Seq[Matched], Seq[NotMatched], Seq[BySource]) = (
    Seq(UpdateMatched(Some(col(s"s.$versionCol") > col(s"t.$versionCol")), None)),
    Seq(InsertNotMatched(None, None)),
    Seq.empty
  )
}

/** MERGE-style upsert as a plain Spark join — the Delta-replacement for
  * the reference's `MERGE INTO tgt USING src ON tgt.id = src.id WHEN
  * MATCHED AND src.version > tgt.version THEN UPDATE SET * WHEN NOT
  * MATCHED THEN INSERT *` (reference: notebooks/silver_arxiv.py:130-152).
  *
  * Spark-first design: a single full-outer shuffle join on the key,
  * per-column `CASE` selection, everything codegen-able. At scale the
  * src side (a daily batch) is usually much smaller than tgt — Catalyst
  * / AQE picks broadcast or shuffled-hash automatically; if tgt is
  * bucketed by the key the shuffle disappears entirely.
  *
  * Delta-parity edge semantics:
  *   - Which side a row came from is tracked with presence markers, NOT
  *     key-null heuristics — so target rows whose key IS NULL survive a
  *     merge untouched (a null src key only pairs with a null tgt key
  *     via the null-safe join, and an unmatched tgt row is always kept).
  *   - Several source rows matching the SAME target row raise at
  *     execution time when a pair would modify that row, mirroring
  *     Delta's "multiple source rows matched and attempted to modify the
  *     same target row" error (reference silver_arxiv.py:145-151 relies
  *     on it); duplicates that all lose the version rule keep the
  *     target row once. Duplicate source keys that match no target row
  *     are all inserted — exactly what Delta's WHEN NOT MATCHED INSERT
  *     does.
  */
object Upsert {

  /** Row-level outcome column added by [[planClauses]]. */
  val ActionCol = "merge_action"

  private val TgtMark = "__graft_tgt_present"
  private val SrcMark = "__graft_src_present"
  private val SrcKeyRows = "__graft_src_key_rows"
  private val SrcKeyRank = "__graft_src_key_rank"

  /** The conditional upsert as a merge plan: [[planClauses]] over
    * [[MergeClause.upsertShape]]. Matched rows take the src version
    * only when `src.versionCol > tgt.versionCol` (the reference's
    * conditional-update predicate); unmatched src rows are inserts;
    * unmatched tgt rows are kept. [[ActionCol]] ∈ {update, insert,
    * keep}.
    */
  def plan(
      tgt: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      versionCol: String,
      insertOnlyCols: Set[String] = Set.empty
  ): DataFrame = {
    val (m, nm, bs) = MergeClause.upsertShape(versionCol)
    planClauses(tgt, src, keys, m, nm, bs, insertOnlyCols)
  }

  /** Shared classification scaffolding for the clause planners: the
    * aliased full-outer join, the duplicate-source guard, the row
    * action and the per-column merged value. One `when` chain per
    * column — everything stays inside whole-stage codegen, no UDFs, no
    * per-clause passes.
    */
  private final case class ClausePlan(
      joined: DataFrame,
      dupGuard: Column,
      action: Column,
      valueFor: String => Column
  )

  private def buildClausePlan(
      tgt: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource],
      insertOnlyCols: Set[String],
      colType: String => DataType
  ): ClausePlan = {
    // The join matches keys null-safely, but it joins on the pair
    // (coalesce(k, default), isnull(k)) projected on both sides rather
    // than on `k <=> k`: Catalyst rewrites `<=>` into exactly that pair
    // inside the join, so a window partitioned on `k` would need its own
    // Exchange. Partitioned on the projected pair, the duplicate-source
    // window shares the join's source-side Exchange — one shuffle per
    // side, the guard costs a sort.
    val joinKeys = keys.zipWithIndex.flatMap { case (k, i) =>
      Seq(s"__graft_jk$i" -> coalesce(col(k), GraftBridge.column(Literal.default(colType(k)))),
        s"__graft_jn$i" -> col(k).isNull)
    }
    val srcKeyWindow = Window.partitionBy(joinKeys.map { case (n, _) => col(n) }: _*)
    val t = tgt.withColumns(joinKeys.toMap).withColumn(TgtMark, lit(true)).alias("t")
    // SrcKeyRank picks one representative pair when duplicate matches
    // are legal (all pairs keep); the ordering is a constant because
    // the kept copy is the target pre-image, identical for every pair
    val s = src
      .withColumns(joinKeys.toMap)
      .withColumn(SrcMark, lit(true))
      .withColumn(SrcKeyRows, count(lit(1)).over(srcKeyWindow))
      .withColumn(SrcKeyRank, row_number().over(srcKeyWindow.orderBy(lit(1))))
      .alias("s")
    val joinCond   = joinKeys.map { case (n, _) => col(s"t.$n") === col(s"s.$n") }.reduce(_ && _)
    val tgtPresent = col(s"t.$TgtMark").isNotNull
    val srcPresent = col(s"s.$SrcMark").isNotNull
    val isMatched  = tgtPresent && srcPresent
    val srcOnly    = srcPresent && !tgtPresent
    val tgtOnly    = tgtPresent && !srcPresent
    // first clause whose condition holds wins; conditions only ever
    // evaluate inside their realm (base && cond), so a matched-clause
    // condition referencing s.* never sees a target-only row's nulls
    def winner(base: Column, conds: Seq[Option[Column]]): Column =
      conds.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), els) =>
        when(base && c.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    val mWin = winner(isMatched, matched.map(_.cond))
    val iWin = winner(srcOnly, notMatched.map(_.cond))
    val bWin = winner(tgtOnly, bySource.map(_.cond))
    val mAction = matched.zipWithIndex.foldRight(lit("keep"): Column) {
      case (((_: MergeClause.UpdateMatched), i), els) => when(mWin === i, lit("update")).otherwise(els)
      case (((_: MergeClause.DeleteMatched), i), els) => when(mWin === i, lit("delete")).otherwise(els)
    }
    val bAction = bySource.zipWithIndex.foldRight(lit("keep"): Column) {
      case (((_: MergeClause.UpdateBySource), i), els) => when(bWin === i, lit("update")).otherwise(els)
      case (((_: MergeClause.DeleteBySource), i), els) => when(bWin === i, lit("delete")).otherwise(els)
    }
    // Delta's cardinality rule precisely: several source rows sharing a
    // matched key raise ONLY when a pair would MODIFY the target row
    // (update/delete wins). An insert-only merge over a duplicate-keyed
    // source (the common `WHEN NOT MATCHED THEN INSERT *` dedupe
    // pattern) is legal — the N keep pairs collapse to the rank-1 copy
    // below, so the target row is emitted exactly once.
    val dupMatched = isMatched && col(s"s.$SrcKeyRows") > 1
    val dupModify  = dupMatched && mAction.isin("update", "delete")
    val dupError = raise_error(
      concat(
        lit("MERGE failed: multiple source rows matched and modify the target row for key ("),
        concat_ws(",", keys.map(k => col(s"s.$k").cast("string")): _*),
        lit(")")))
    val dupGuard = when(dupModify, dupError.cast("boolean")).otherwise(lit(true))
    val action =
      when(isMatched,
        when(dupMatched && mAction === "keep" && col(s"s.$SrcKeyRank") > 1, lit("drop"))
          .otherwise(mAction))
        .when(srcOnly, when(iWin >= 0, lit("insert")).otherwise(lit("drop")))
        .otherwise(bAction)
    // insertOnlyCols (identity columns): inserts take the source's
    // freshly-assigned value, but an UPDATE must keep the target's —
    // GENERATED ALWAYS AS IDENTITY values are stable for a row's life.
    // Case-insensitive, like every identity-column match in the engine.
    val insertOnlyLower = insertOnlyCols.map(_.toLowerCase)
    def valueFor(c: String): Column = {
      val tCol = col(s"t.$c"); val sCol = col(s"s.$c")
      val dt   = colType(c)
      val insertOnly = insertOnlyLower.contains(c.toLowerCase)
      // explicit assignments cast to the column's existing type — a
      // MERGE never changes a column's type, exactly like UPDATE
      def fromSet(set: Map[String, Column], dflt: Column): Column =
        set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.cast(dt) }.getOrElse(dflt)
      val mVal = matched.zipWithIndex.foldRight(tCol) {
        case ((MergeClause.UpdateMatched(_, None), i), els) =>
          when(mWin === i, if (insertOnly) tCol else sCol).otherwise(els)
        case ((MergeClause.UpdateMatched(_, Some(set)), i), els) =>
          when(mWin === i, if (insertOnly) tCol else fromSet(set, tCol)).otherwise(els)
        case ((MergeClause.DeleteMatched(_), i), els) =>
          // delete rows carry the target pre-image (for the change feed)
          when(mWin === i, tCol).otherwise(els)
      }
      val iVal = notMatched.zipWithIndex.foldRight(sCol) {
        case ((MergeClause.InsertNotMatched(_, None), i), els) =>
          when(iWin === i, sCol).otherwise(els)
        case ((MergeClause.InsertNotMatched(_, Some(values)), i), els) =>
          when(iWin === i, fromSet(values, lit(null).cast(dt))).otherwise(els)
      }
      val bVal = bySource.zipWithIndex.foldRight(tCol) {
        case ((MergeClause.UpdateBySource(_, set), i), els) =>
          when(bWin === i, if (insertOnly) tCol else fromSet(set, tCol)).otherwise(els)
        case ((MergeClause.DeleteBySource(_), i), els) =>
          when(bWin === i, tCol).otherwise(els)
      }
      when(isMatched, mVal).when(srcOnly, iVal).otherwise(bVal).as(c)
    }
    ClausePlan(t.join(s, joinCond, "full_outer"), dupGuard, action, valueFor)
  }

  /** The full-clause MERGE plan (Delta's complete WHEN surface —
    * matched update/delete, conditional inserts, not-matched-by-source
    * update/delete) as one full-outer join + per-column CASE chains,
    * one shuffle per side. Output: the data
    * columns plus [[ActionCol]] ∈ {insert, update, delete, keep};
    * delete rows carry the target pre-image (the writer filters them
    * out of the new generation and feeds them to CDF); source-only
    * rows no insert clause claims are dropped entirely.
    */
  def planClauses(
      tgt: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource],
      insertOnlyCols: Set[String] = Set.empty
  ): DataFrame = {
    require(tgt.columns.sameElements(src.columns), "tgt/src schemas must match")
    val dataCols = tgt.columns.toSeq
    val cp = buildClausePlan(tgt, src, keys, matched, notMatched, bySource,
      insertOnlyCols, c => tgt.schema(c).dataType)
    cp.joined
      // the guard is a FILTER, not a projected column: a Filter condition
      // determines cardinality, so no consumer can prune it — a bare
      // count() over the plan raises exactly like Delta does. It
      // references both join sides, so it can't be pushed below the
      // full-outer join either.
      .filter(cp.dupGuard)
      .select(dataCols.map(cp.valueFor) :+ cp.action.as(ActionCol): _*)
      .filter(col(ActionCol) =!= "drop")
  }

  /** Merge-on-read twin of [[planClauses]]: emits ONLY the rows a MOR
    * commit writes — action ∈ {insert, update, delete} with post-image
    * values, `__pre_`-prefixed target pre-images (null for inserts),
    * and the target's positional metadata columns (the tombstones for
    * updates AND deletes). Kept rows never appear, so every
    * downstream pass is O(delta).
    */
  def planMorChangesClauses(
      tgtWithMeta: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeClause.Matched],
      notMatched: Seq[MergeClause.NotMatched],
      bySource: Seq[MergeClause.BySource],
      metaCols: Seq[String],
      insertOnlyCols: Set[String] = Set.empty
  ): DataFrame = {
    val dataCols = src.columns.toSeq
    require(tgtWithMeta.columns.toSeq == dataCols ++ metaCols,
      "tgt must be the src schema plus the metadata columns")
    val cp = buildClausePlan(tgtWithMeta, src, keys, matched, notMatched, bySource,
      insertOnlyCols, c => src.schema(c).dataType)
    val post   = dataCols.map(cp.valueFor)
    val pre    = dataCols.map(c => col(s"t.$c").as(s"__pre_$c"))
    val meta   = metaCols.map(c => col(s"t.$c").as(c))
    cp.joined
      // guard FIRST inside one conjunction (left-to-right short-circuit):
      // as its own Filter, CombineFilters could order it behind the
      // action test and skip raising on a duplicate that is not emitted
      .filter(cp.dupGuard && cp.action.isin("insert", "update", "delete"))
      .select(post ++ pre ++ meta :+ cp.action.as(ActionCol): _*)
  }

  /** Counters the reference reads from Delta `DESCRIBE HISTORY`
    * `operationMetrics` (silver_arxiv.py:175-184). Computed in one
    * distributed aggregation over the merge plan — no extra pass.
    */
  final case class WriteMetrics(inserted: Long, updated: Long, kept: Long) {
    def outputRows: Long = inserted + updated + kept
  }

  /** Metrics of a full-clause MERGE ([[planClauses]]) — WriteMetrics
    * plus Delta's numTargetRowsDeleted.
    */
  final case class MergeClauseMetrics(inserted: Long, updated: Long, deleted: Long, kept: Long) {
    def outputRows: Long = inserted + updated + kept
    /** The upsert view: an upsert's clause set never deletes. */
    def writeMetrics: WriteMetrics = WriteMetrics(inserted, updated, kept)
  }

  /** The merge plan (`merged`, with [[ActionCol]]) and its metrics.
    *
    * `merged` is the UNCACHED deterministic plan — consumers (result
    * write, feed post/pre) each re-run it and Catalyst prunes every
    * pass to the columns that consumer touches. Deliberately NOT
    * `.cache()`: caching the merged table materializes the ENTIRE
    * post-merge table full-width in executor memory/disk — at 100 TB
    * that cache IS the table, the one thing a merge must never hold
    * twice. Recomputation is sound because every input is an immutable
    * parquet snapshot until the staged swap lands (write-then-swap),
    * and the join + CASE projection is deterministic.
    */
  final case class MergeResult(merged: DataFrame, metrics: WriteMetrics) {
    /** Output rows without the action column. */
    def result: DataFrame = merged.drop(ActionCol)
    /** Kept for caller symmetry; the plan is uncached (see above). */
    def unpersist(): Unit = ()
  }

  /** Run the metrics pass and return the plan + metrics. The metrics
    * aggregation references ONLY [[ActionCol]], so Catalyst prunes the
    * join to keys + version + presence marks — a narrow O(table) pass,
    * not a full-width materialization.
    */
  def mergeWithMetrics(
      tgt: DataFrame,
      src: DataFrame,
      keys: Seq[String],
      versionCol: String,
      insertOnlyCols: Set[String] = Set.empty
  ): MergeResult = {
    val merged = plan(tgt, src, keys, versionCol, insertOnlyCols)
    MergeResult(merged, actionCounts(merged).writeMetrics)
  }

  /** Per-action row counts of a merge plan, in one narrow aggregation. */
  private[graft] def actionCounts(merged: DataFrame): MergeClauseMetrics = {
    val n = merged.groupBy(col(ActionCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    MergeClauseMetrics(n("insert"), n("update"), n("delete"), n("keep"))
  }

  /** SCD Type-2 merge — the dimension-history half of warehouse MERGE
    * semantics (Delta/Kimball "slowly changing dimension"): apply a
    * change batch to a versioned dimension. Target layout:
    * keys ++ attrs ++ (valid_from, valid_to: string 'yyyy-MM-dd',
    * is_current: int 1/0). Source: keys ++ attrs ++ `effCol` (the
    * change's effective date string).
    *
    *  - current row, no source match        → passes through
    *  - current row, source match, equal    → passes through
    *  - current row, source match, changed  → CLOSED (valid_to = eff,
    *    is_current = 0) and a new OPEN version inserted
    *  - source key absent from target       → new OPEN version
    *  - historical rows (is_current = 0)    → never touched
    *
    * One full-outer join on the keys + unions; nothing iterates per
    * key. Null-safe attr comparison (`<=>`) so NULL → value and value
    * → NULL both count as changes.
    *
    * The change batch is reduced to ONE row per key before the join —
    * the latest by `effCol` (attr values break ties deterministically).
    * A batch carrying several versions of the same key would otherwise
    * fan out through the full-outer join and emit multiple open rows,
    * breaking the one-current-row-per-key invariant; collapsing to the
    * newest matches what per-day batch application would converge to.
    */
  def scd2(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      attrs: Seq[String],
      effCol: String
  ): DataFrame = {
    require(attrs.nonEmpty, "scd2 requires at least one tracked attribute column")
    val outCols = keys ++ attrs ++ Seq("valid_from", "valid_to", "is_current")
    val hist    = target.filter(col("is_current") === 0).select(outCols.map(col): _*)
    val cur     = target.filter(col("is_current") === 1)
    val srcWin = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((col("__eff").desc +: attrs.map(c => col(s"__s_$c").desc)): _*)
    val s = source
      .select(
        (keys.map(col) ++ attrs.map(c => col(c).as(s"__s_$c")) :+ col(effCol).as("__eff")): _*)
      .withColumn("__rn", row_number().over(srcWin))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val j        = cur.join(s, keys, "full_outer")
    val hasCur   = col("is_current").isNotNull
    val hasSrc   = col("__eff").isNotNull
    val changed  = attrs.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    val passThrough = j
      .filter(hasCur && (!hasSrc || !changed))
      .select(outCols.map(col): _*)
    val closed = j
      .filter(hasCur && hasSrc && changed)
      .select((keys.map(col) ++ attrs.map(col) ++ Seq(
        col("valid_from"), col("__eff").as("valid_to"), lit(0).as("is_current"))): _*)
    val opened = j
      .filter(hasSrc && (!hasCur || changed))
      .select((keys.map(col) ++ attrs.map(c => col(s"__s_$c").as(c)) ++ Seq(
        col("__eff").as("valid_from"), lit(null).cast("string").as("valid_to"),
        lit(1).as("is_current"))): _*)
    hist.unionByName(passThrough).unionByName(closed).unionByName(opened)
  }
}
