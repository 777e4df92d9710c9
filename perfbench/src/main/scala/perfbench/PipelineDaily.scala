package perfbench

import graft.pipeline.{Pipeline, Stages}
import graft.sources.{Discovery, Warehouse}
import org.apache.spark.sql.{SparkSession, functions}

import java.nio.file.Path
import scala.collection.mutable

/** `pipeline_daily`: the paper's system. One unit is a cycle on a fresh
  * warehouse: `Pipeline.run` over a fresh-load date, then an incremental
  * date.
  */
final class PipelineDaily(args: Main.Args) extends Workload {
  import PipelineDaily._

  val name     = "pipeline_daily"
  val minUnits = 1

  private val dates = Seq("20221220", "20221221")

  private var root: Path = _
  private var landing: (String, String, String) = _
  private var expected: Seq[Landing.Expected] = Nil
  private var landedBytes = 0L
  private var digest = ""

  private val fresh   = mutable.ArrayBuffer.empty[Double]
  private val days    = mutable.ArrayBuffer.empty[Double]
  private val storedPerLanded = mutable.ArrayBuffer.empty[Double]
  private val scoredCounts    = mutable.ArrayBuffer.empty[Long]
  // traced-only, per cycle
  private val filesWritten   = mutable.ArrayBuffer.empty[Double]
  private val ledgerVersions = mutable.ArrayBuffer.empty[Double]
  private val mergeRewrite   = mutable.ArrayBuffer.empty[Double]

  def setup(spark: SparkSession, dir: Path, checks: Checks): Unit = {
    root = dir
    val docs = spark.read.parquet(s"${args.data}/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val sized = if (args.size == "tiny") docs.take(120) else docs
    val gen   = new Landing(sized, args.seed, dates)
    val (exp, dirs, bytes) = gen.write(dir.resolve("landing"))
    expected = exp; landing = dirs; landedBytes = bytes
    digest = Io.sha256Tree(dir.resolve("landing"))
    // warm-up: one bronze stage on a throw-away warehouse
    val wh = new Warehouse(spark, dir.resolve("warmup").toString)
    checks.op()
    checks.count("warm-up bronze.google_scholar",
      Stages.bronzeScholar(spark, wh, landing._1, dates.head).getOrElse(-1L), gen.landedScholar)
    Io.deleteTree(dir.resolve("warmup"))
  }

  def inputsDigest: String = digest

  def unit(spark: SparkSession, i: Int, checks: Checks, tracer: Option[Tracer]): Unit = {
    val whRoot = root.resolve(s"wh-$i")
    val wh     = new Warehouse(spark, whRoot.toString)
    val pipe   = new Pipeline(spark, wh, landing._1, landing._2, landing._3)

    // one date: (wall seconds, skipped stages, gold_words rows)
    def runDate(rd: String, freshLoad: Boolean): (Double, Seq[(String, String)], Option[Long]) =
      tracer match {
        case None =>
          val t0 = System.nanoTime()
          val r  = pipe.run(rd, freshLoad)
          ((System.nanoTime() - t0) / 1e9, r.skipped, r.written("gold_words"))
        case Some(tr) =>
          // the stages of Pipeline.run, in its order, each in its own
          // span; the warehouse is fresh, so the fresh-load wipe is a no-op
          val t0 = System.nanoTime()
          val results = tr.span("date", "date" -> rd, "cycle" -> i.toString) {
            tracedStages(spark, wh, rd, landing).map { case (n, f) =>
              n -> tr.span(s"stage.$n", "cycle" -> i.toString)(f())
            }
          }
          val wall = (System.nanoTime() - t0) / 1e9
          (wall, results.collect { case (n, Left(m)) => (n, m) },
            results.collectFirst { case ("gold_words", Right(n)) => n })
      }

    if (tracer.isDefined) {
      // the traced stage list must be Pipeline.run's: a run on a date with
      // no landing files skips every stage at once and names them all
      val probe = root.resolve(s"names-$i")
      val names = new Pipeline(spark, new Warehouse(spark, probe.toString), landing._1, landing._2, landing._3)
        .run(NoLandingDate).stages.map(_._1)
      Io.deleteTree(probe)
      val traced = tracedStages(spark, wh, NoLandingDate, landing).map(_._1)
      checks.check(s"traced stages $traced differ from Pipeline.run's $names")(
        traced == names && names == Layers.stages)
    }

    val silver = Seq("silver" -> "google_scholar", "silver" -> "arxiv", "silver" -> "nytarchive")
    // row counts of several tables in one Spark job
    def counts(tables: Seq[(String, String)]): Seq[Long] = {
      val rows = tables.zipWithIndex
        .map { case ((l, t), k) => wh.table(l, t).select(functions.lit(k).as("k")) }
        .reduce(_ union _).groupBy("k").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      tables.indices.map(k => rows.getOrElse(k, 0L))
    }
    // one date, checked against the generator's model
    def dated(d: Int): Double = {
      val rd = dates(d)
      checks.op()
      val (wall, skipped, goldWords) = runDate(rd, freshLoad = d == 0)
      tracer.foreach { tr =>
        // a standalone probe, after the date: the three listings its
        // bronze stages make, repeated; Pipeline.run's own listings are
        // inside their stages and not split out
        tr.span("discovery_probe", "date" -> rd, "cycle" -> i.toString) {
          Discovery.latestForRunDate(spark, landing._1, Stages.underscorePrefix(rd))
          Discovery.latestForRunDate(spark, landing._2, Stages.dashPrefix(rd))
          Discovery.latestForRunDate(spark, landing._3, Stages.underscorePrefix(rd))
        }
      }
      val e = expected(d)
      checks.check(s"$rd skipped stages $skipped")(skipped.isEmpty)
      Seq("silver.google_scholar" -> e.scholar, "silver.arxiv" -> e.arxiv, "silver.nytarchive" -> e.nyt,
        "gold_words" -> e.combined).zip(counts(silver) :+ goldWords.getOrElse(-1L)).foreach {
        case ((what, exp), actual) => checks.count(s"$rd $what", actual, exp)
      }
      wall
    }

    // the dates' checks, and the checks and tree walks below, run outside
    // every span
    val tFresh = dated(0)
    val tDay   = dated(1)
    fresh += tFresh; days += tDay
    val scored = wh.table("gold", "scored_articles").count()
    checks.check(s"gold_scored $scored below seeded ${expected.last.seededRows}")(
      scored >= expected.last.seededRows)
    scoredCounts.headOption.foreach(first =>
      checks.check(s"gold_scored $scored differs from first cycle's $first")(scored == first))
    scoredCounts += scored
    val (files, bytes) = Io.treeSize(whRoot)
    storedPerLanded += bytes.toDouble / landedBytes
    if (tracer.isDefined) {
      filesWritten += files.toDouble
      ledgerVersions += Io.treeSize(whRoot.resolve("_ops").resolve("ledger"))._1.toDouble
      val merges = wh.history("silver.arxiv").filter("operation = 'MERGE'")
        .selectExpr("sum(num_output_rows)", "sum(num_inserted + num_updated)").head()
      if (!merges.isNullAt(1) && merges.getLong(1) > 0)
        mergeRewrite += merges.getLong(0).toDouble / merges.getLong(1)
    }
    Io.deleteTree(whRoot)
  }

  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("heavy_s", Stats.medianOr0(days.toSeq), "s"),
    ("light_s", Stats.medianOr0(fresh.toSeq), "s")
  )

  def facts: Seq[(String, String)] = Seq(
    "pipeline.fresh_s" -> Stats.medianOr0(fresh.toSeq).toString,
    "pipeline.day_s" -> Stats.medianOr0(days.toSeq).toString,
    "pipeline.stored_per_landed" -> Stats.medianOr0(storedPerLanded.toSeq).toString,
    "pipeline.cycles" -> days.size.toString,
    "pipeline.landed_bytes" -> landedBytes.toString,
    "pipeline.expected_rows_per_date" -> expected.map(e => s"${e.scholar}/${e.arxiv}/${e.nyt}").mkString(","),
    "pipeline.seeded_rows" -> expected.lastOption.fold("0")(_.seededRows.toString)
  )

  def perLayer(tracer: Tracer): Map[String, Double] = {
    // per cycle: a stage's spans summed over the cycle's dates
    def perCycle(name: String): Seq[Seq[Tracer.SpanStats]] =
      tracer.named(name).groupBy(_.span.attrs("cycle")).values.toSeq
    val stageMetrics = Layers.stages.flatMap { s =>
      def med(f: Tracer.SpanStats => Double) = Stats.medianOr0(perCycle(s"stage.$s").map(_.map(f).sum))
      Seq(
        s"stage.$s.wall_s" -> med(_.wallS),
        s"stage.$s.plan_s" -> med(_.planS),
        s"stage.$s.driver_s" -> med(_.driverS),
        s"stage.$s.jobs" -> med(_.jobs.toDouble),
        s"stage.$s.task_s" -> med(_.taskS)
      )
    }
    // the pipeline's aggregates: every stage span of a cycle, and nothing
    // the benchmark runs between them
    val cycles = tracer.stats.filter(_.span.name.startsWith("stage.")).groupBy(_.span.attrs("cycle")).values.toSeq
    def sum(f: Tracer.SpanStats => Double) = Stats.medianOr0(cycles.map(_.map(f).sum))
    def coreBusy(c: Seq[Tracer.SpanStats]) = {
      val wall = c.map(_.wallS).sum
      if (wall <= 0) 0.0 else c.map(_.taskS).sum / (wall * tracer.cores)
    }
    stageMetrics.toMap ++ Map(
      "pipeline.tasks" -> sum(_.tasks.toDouble),
      "pipeline.core_busy" -> Stats.medianOr0(cycles.map(coreBusy)),
      "pipeline.shuffle_bytes" -> sum(_.shuffleBytes.toDouble),
      "pipeline.output_bytes" -> sum(_.outputBytes.toDouble),
      "sources.discovery_s" -> Stats.medianOr0(perCycle("discovery_probe").map(_.map(_.wallS).sum)),
      "sources.files_written" -> Stats.medianOr0(filesWritten.toSeq),
      "sources.ledger_versions" -> Stats.medianOr0(ledgerVersions.toSeq),
      "sources.merge_rewrite_ratio" -> Stats.medianOr0(mergeRewrite.toSeq),
      "sources.stored_per_landed" -> Stats.medianOr0(storedPerLanded.toSeq)
    )
  }

  def dominantLayers(tracer: Tracer): Seq[String] =
    Layers.stages.map(s => Tracer.dominant(s"stage.$s", tracer.named(s"stage.$s")))
}

object PipelineDaily {
  /** A date no landing file is named for. */
  val NoLandingDate = "19700101"

  /** The stages of `Pipeline.run`, in its order; a traced cycle checks
    * the names against a `RunReport` and [[Layers.stages]].
    */
  def tracedStages(spark: SparkSession, wh: Warehouse, rd: String, landing: (String, String, String))
      : Seq[(String, () => Either[String, Long])] = Seq(
    "bronze_scholar" -> (() => Stages.bronzeScholar(spark, wh, landing._1, rd)),
    "bronze_arxiv"   -> (() => Stages.bronzeArxiv(spark, wh, landing._2, rd)),
    "bronze_nyt"     -> (() => Stages.bronzeNyt(spark, wh, landing._3, rd)),
    "silver_scholar" -> (() => Stages.silverScholar(spark, wh)),
    "silver_arxiv"   -> (() => Stages.silverArxiv(spark, wh)),
    "silver_nyt"     -> (() => Stages.silverNyt(spark, wh)),
    "gold_words"     -> (() => Stages.goldWords(spark, wh)),
    "gold_scored"    -> (() => Stages.goldScored(spark, wh))
  )
}
