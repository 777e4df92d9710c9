package graft.pipeline

import graft.sources.Warehouse
import org.apache.spark.sql.SparkSession

/** End-to-end daily run (reference airflow/dags/cleantech.py:66-79 +
  * README.md:29 notebook chain): bronze_{nyt,scholar,arxiv} →
  * silver_{…} → gold words → gold scoring, with the reference's
  * `is_fresh_load` wipe (silver_arxiv.py:26-28) and Either-based
  * skip/abort per stage (S14/S15).
  */
final class Pipeline(
    spark: SparkSession,
    wh: Warehouse,
    scholarLanding: String,
    arxivLanding: String,
    nytLanding: String,
    scoreWeights: Map[String, Int] = graft.functions.TextFunctions.cleanTechTerms
) {

  /** `stages`: each stage's rows written, or why it skipped; `stageMs`:
    * each stage's wall time in milliseconds, skipped stages included.
    */
  final case class RunReport(stages: Seq[(String, Either[String, Long])], stageMs: Map[String, Long]) {
    def written(stage: String): Option[Long] =
      stages.collectFirst { case (`stage`, Right(n)) => n }
    def skipped: Seq[(String, String)] = stages.collect { case (s, Left(m)) => (s, m) }
  }

  /** Run one runDate (yyyyMMdd). `freshLoad` drops silver+gold+watermarks
    * for a clean, idempotent re-run.
    */
  def run(runDate: String, freshLoad: Boolean = false): RunReport = {
    require(runDate.length == 8, s"run_date must be yyyyMMdd, got $runDate") // bronze_arxiv.py:23
    if (freshLoad) {
      Seq("google_scholar", "arxiv", "nytarchive", "watermark_google_scholar", "watermark_arxiv")
        .foreach(wh.dropTable("silver", _))
      Seq("nytarchive_words", "google_scholar_words", "arxiv_words", "combined_pre_nlp", "scored_articles")
        .foreach(wh.dropTable("gold", _))
    }
    val stages = Seq(
      "bronze_scholar" -> (() => Stages.bronzeScholar(spark, wh, scholarLanding, runDate)),
      "bronze_arxiv"   -> (() => Stages.bronzeArxiv(spark, wh, arxivLanding, runDate)),
      "bronze_nyt"     -> (() => Stages.bronzeNyt(spark, wh, nytLanding, runDate)),
      "silver_scholar" -> (() => Stages.silverScholar(spark, wh)),
      "silver_arxiv"   -> (() => Stages.silverArxiv(spark, wh)),
      "silver_nyt"     -> (() => Stages.silverNyt(spark, wh)),
      "gold_words"     -> (() => Stages.goldWords(spark, wh)),
      "gold_scored"    -> (() => Stages.goldScored(spark, wh, scoreWeights))
    )
    val timed = stages.map { case (name, f) =>
      val t0 = System.nanoTime()
      val r  = f()
      (name, r, (System.nanoTime() - t0) / 1000000L)
    }
    RunReport(timed.map(t => t._1 -> t._2), timed.map(t => t._1 -> t._3).toMap)
  }

  /** Backfill a CLOSED date range [fromDate, toDate] (yyyyMMdd): one
    * [[run]] per day in order — the scheduler-facing catch-up surface
    * after an outage or a late-landing feed. Idempotent by
    * construction: each stage's watermark / missing-input checks
    * Left-skip work already done or data not yet landed, so re-running
    * a window after a partial failure converges instead of
    * double-ingesting. `freshLoad` applies to the FIRST day only (a
    * wipe between days would destroy the backfill's own progress).
    * Returns the per-day reports in date order.
    */
  def backfill(
      fromDate: String,
      toDate: String,
      freshLoad: Boolean = false
  ): Seq[(String, RunReport)] = {
    val fmt  = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val from = java.time.LocalDate.parse(fromDate, fmt)
    val to   = java.time.LocalDate.parse(toDate, fmt)
    require(!from.isAfter(to), s"backfill range is inverted: $fromDate > $toDate")
    Iterator
      .iterate(from)(_.plusDays(1))
      .takeWhile(!_.isAfter(to))
      .zipWithIndex
      .map { case (d, i) =>
        val rd = d.format(fmt)
        rd -> run(rd, freshLoad = freshLoad && i == 0)
      }
      .toSeq
  }
}
