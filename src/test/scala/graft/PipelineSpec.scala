package graft

import graft.pipeline.{Pipeline, Stages}
import graft.sources.{Discovery, Warehouse}
import java.nio.file.{Files, Path}

/** End-to-end pipeline test over reference-shaped fixture JSON
  * (FIXTURES.md §A): scholar multiline JSON, arxiv JSONL, NYT JSONL
  * with case-duplicate keys, exercising discovery, all three bronze
  * shapes, silver load modes (CTAS / watermark append / MERGE /
  * anti-join), gold words union and scoring.
  */
class PipelineSpec extends SparkSpec {

  private def write(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  private def mkFixtures(root: Path): (String, String, String) = {
    val scholar = Files.createDirectories(root.resolve("scholar"))
    val arxiv   = Files.createDirectories(root.resolve("arxiv"))
    val nyt     = Files.createDirectories(root.resolve("nyt"))

    // A1: multiline JSON, airbyte-wrapped, snippet with/without days-ago prefix
    write(scholar, "2022_12_20_1671510000.123_scholar.jsonl",
      """{
        |  "_airbyte_data": {
        |    "organic_results": [
        |      {"position": 1, "result_id": "r1", "title": "Solar Innovation",
        |       "link": "http://a", "snippet": "3 days ago — biofuel efficiency study", "type": "html"},
        |      {"position": 2, "result_id": "r2", "title": "Battery Tech",
        |       "link": "http://b", "snippet": "lithium ion climate research", "type": "html"}
        |    ],
        |    "search_metadata": {"id": "m1", "status": "Success"}
        |  }
        |}""".stripMargin)
    // an older file for the same run date — discovery must pick the later token
    write(scholar, "2022_12_20_1671400000.000_scholar.jsonl",
      """{"_airbyte_data": {"organic_results": [
        |  {"position": 9, "result_id": "stale", "title": "Stale", "link": "x", "snippet": "old", "type": "html"}],
        |  "search_metadata": {"id": "m0", "status": "Success"}}}""".stripMargin)

    // A2: arxiv JSONL — id carries version suffix; one line per object
    write(arxiv, "2022-12-20_1671510000.123_arxiv.json",
      """{"feed": {"entry": [
        |{"id": "http://arxiv.org/abs/2212.01234v1", "updated": "2022-12-18T10:00:00Z", "title": "Green energy", "summary": "solar photovoltaic efficiency"},
        |{"id": "http://arxiv.org/abs/2212.05678v2", "updated": "2022-12-19T10:00:00Z", "title": "Carbon capture", "summary": "carbon abatement technology"}
        |]}}""".stripMargin.replaceAll("\n", " "))

    // A3: NYT JSONL — duplicate keys differing only in case + multimedia to drop
    write(nyt, "2022_12_20_1671510000.123_nyt.jsonl",
      Seq(
        """{"_airbyte_data": {"_id": "n1", "abstract": "Climate change policy", "lead_paragraph": "Renewable energy tax", "snippet": "green innovation", "pub_date": "2022-12-15T09:00:00+0000", "multimedia": [{"url": "u", "Url": "U"}]}}""",
        """{"_airbyte_data": {"_id": "n2", "abstract": "Fuel quality report", "lead_paragraph": "Air quality measures", "snippet": "megawatt solar", "pub_date": "2022-12-16T09:00:00+0000", "multimedia": [{"url": "v", "Url": "V"}]}}"""
      ).mkString("\n"))

    (scholar.toString, arxiv.toString, nyt.toString)
  }

  private def freshPipeline() = {
    val root = Files.createTempDirectory("graft_pipe")
    val (s, a, n) = mkFixtures(root)
    val wh = new Warehouse(spark, root.resolve("warehouse").toString)
    (new Pipeline(spark, wh, s, a, n), wh, (s, a, n), root)
  }

  test("discovery picks the latest file by timestamp token") {
    val root = Files.createTempDirectory("graft_disc")
    val (s, _, _) = mkFixtures(root)
    val files = Discovery.runDateFiles(spark, s, Stages.underscorePrefix("20221220"))
    assert(files.size == 2)
    assert(Discovery.latestFile(files).get.contains("1671510000.123"))
    assert(Discovery.latestForRunDate(spark, s, Stages.underscorePrefix("20991231")).isEmpty)
  }

  test("full pipeline run: all stages green, scored articles produced") {
    val (pipe, wh, _, _) = freshPipeline()
    val report = pipe.run("20221220")
    assert(report.skipped.isEmpty, s"skipped: ${report.skipped}")
    assert(report.written("bronze_scholar").contains(2L)) // latest file only, stale one ignored
    assert(report.written("silver_scholar").contains(2L))
    assert(report.written("silver_arxiv").contains(2L))
    assert(report.written("silver_nyt").contains(2L))
    assert(report.written("gold_words").contains(6L)) // 3-way union

    // scholar publish_dt: days-ago prefix honored, fallback to run_date
    val ggl = wh.table("silver", "google_scholar")
      .select("result_id", "publish_dt").collect()
      .map(r => r.getString(0) -> r.getDate(1).toString).toMap
    assert(ggl("r1") == "2022-12-17") // 3 days before run_date
    assert(ggl("r2") == "2022-12-20") // fallback

    // arxiv id/version parsed from abs URL
    val arx = wh.table("silver", "arxiv").select("id", "version").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(arx == Map("2212.01234" -> "1", "2212.05678" -> "2"))

    // NYT case-sensitive parse kept both case-variant keys; multimedia dropped
    val nytCols = wh.table("bronze", "nytarchive").columns.toSeq
    assert(!nytCols.contains("multimedia"))

    // scoring: all 6 docs contain clean-tech terms → positive scores
    val scored = wh.table("gold", "scored_articles")
    assert(scored.count() == 6)
    assert(scored.filter(org.apache.spark.sql.functions.col("article_score") <= 0).count() == 0)
  }

  test("run report times every stage; the stage times sum to no more than the run's wall time") {
    val (pipe, _, _, _) = freshPipeline()
    val t0     = System.nanoTime()
    val report = pipe.run("20221220")
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(report.stageMs.keySet == report.stages.map(_._1).toSet)
    assert(report.stageMs.values.forall(_ >= 0), report.stageMs)
    assert(report.stageMs.values.sum <= wallMs, s"${report.stageMs} over a ${wallMs} ms run")
  }

  test("re-run is incremental and idempotent: MERGE dedups arxiv, anti-join guards NYT, strict > guards scholar") {
    val (pipe, wh, _, _) = freshPipeline()
    pipe.run("20221220")
    val arxBefore = wh.table("silver", "arxiv").count()
    val nytBefore = wh.table("silver", "nytarchive").count()
    val gglBefore = wh.table("silver", "google_scholar").count()

    val report2 = pipe.run("20221220")
    assert(report2.skipped.isEmpty)
    assert(wh.table("silver", "arxiv").count() == arxBefore, "MERGE must not duplicate")
    assert(wh.table("silver", "nytarchive").count() == nytBefore, "anti-join must not duplicate")
    assert(wh.table("silver", "google_scholar").count() == gglBefore, "strict > watermark must not duplicate")

    // ledger recorded MERGE metrics like DESCRIBE HISTORY
    val last = wh.lastOperation("silver.arxiv").get
    assert(last.getAs[String]("operation") == "MERGE")
    assert(last.getAs[Long]("num_inserted") == 0L)
  }

  test("fresh load wipes silver+gold and rebuilds from bronze") {
    val (pipe, wh, _, _) = freshPipeline()
    pipe.run("20221220")
    val report = pipe.run("20221220", freshLoad = true)
    assert(report.skipped.isEmpty)
    assert(wh.table("silver", "arxiv").count() == 2)
    assert(wh.table("gold", "scored_articles").count() == 6)
  }

  test("sketch ledger rides the pipeline warehouse: per-run appends, exact union at small n") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, countDistinct, lit, pmod, xxhash64}
    import graft.operators.Sketches
    val (pipe, wh, _, _) = freshPipeline()
    pipe.run("20221220")
    // each "run" sketches only its own slice of the scored gold table
    // (standing in for successive run dates) and APPENDs one ledger row
    // set; the union answers distinct-docs-so-far without any re-scan
    val scored = wh.table("gold", "scored_articles")
      .withColumn("doc_key", xxhash64(col("source_sk")))
    for (run <- 0 to 2)
      wh.append("gold", "doc_sketches",
        Sketches.runSketch(scored.filter(pmod(col("doc_key"), lit(3)) === run),
          Seq("source"), "source_sk", runId = s"run_$run"))
    assert(wh.history("gold.doc_sketches").filter($"operation" === "APPEND").count() == 3L)
    // DataSketches HLL is exact at tiny cardinality: estimate == exact
    val est = Sketches.estimateAcrossRuns(wh.table("gold", "doc_sketches"), Seq("source"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = scored.groupBy($"source").agg(countDistinct($"source_sk"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == exact, s"ledger estimate $est != exact $exact")
  }

  test("nyt silver preserves row counts through a column-drift batch") {
    import org.apache.spark.sql.functions.col
    val (pipe, wh, (_, _, nytDir), _) = freshPipeline()
    pipe.run("20221220")
    // next day: the batch drops the optional `abstract` field entirely —
    // the projection must null-fill it and the pre/post row-preservation
    // require (silver_nyt_archive.py:47,129,134) must still hold
    Files.writeString(java.nio.file.Paths.get(nytDir,
      "2022_12_21_1671600000.456_nyt.jsonl"),
      Seq(
        """{"_airbyte_data": {"_id": "n3", "lead_paragraph": "Wind farm expansion", "snippet": "turbine efficiency", "pub_date": "2022-12-17T09:00:00+0000"}}""",
        """{"_airbyte_data": {"_id": "n4", "lead_paragraph": "Hydro storage", "snippet": "pumped hydro", "pub_date": "2022-12-18T09:00:00+0000"}}"""
      ).mkString("\n"))
    Stages.bronzeNyt(spark, wh, nytDir, "20221221")
    val res = Stages.silverNyt(spark, wh)
    assert(res == Right(2L), s"drifted batch must append both rows: $res")
    val silver = wh.table("silver", "nytarchive")
    assert(silver.count() == 4)
    assert(silver.filter(col("id") === "n3").select("abstract").head().isNullAt(0),
      "drifted column must be null-filled, not dropped")
  }

  test("upsert updates on higher arxiv version via MERGE semantics") {
    val (pipe, wh, (_, arxivDir, _), _) = freshPipeline()
    pipe.run("20221220")
    // next day: same id 2212.01234 at v3 with later update date, plus a new id
    Files.writeString(java.nio.file.Paths.get(arxivDir,
      "2022-12-21_1671600000.456_arxiv.json"),
      """{"feed": {"entry": [
        |{"id": "http://arxiv.org/abs/2212.01234v3", "updated": "2022-12-21T10:00:00Z", "title": "Green energy v3", "summary": "updated solar study"},
        |{"id": "http://arxiv.org/abs/2212.09999v1", "updated": "2022-12-21T11:00:00Z", "title": "Biogas", "summary": "biogas emission"}
        |]}}""".stripMargin.replaceAll("\n", " "))
    Stages.bronzeArxiv(spark, wh, arxivDir, "20221221")
    Stages.silverArxiv(spark, wh)

    val silver = wh.table("silver", "arxiv")
    assert(silver.count() == 3)
    val v = silver.filter(org.apache.spark.sql.functions.col("id") === "2212.01234")
      .select("version").head().getString(0)
    assert(v == "3", "matched row must take the higher-version src record")

    val last = wh.lastOperation("silver.arxiv").get
    assert(last.getAs[String]("operation") == "MERGE")
    assert(last.getAs[Long]("num_inserted") == 1L)
    assert(last.getAs[Long]("num_updated") == 1L)
  }

  test("silver_arxiv runs end-to-end through the reference's SQL text (SqlDml)") {
    import graft.sources.SqlDml
    val (pipe, wh, (_, arxivDir, _), _) = freshPipeline()
    val sql = new SqlDml(spark, wh)
    // the notebook's typed projection, VERBATIM (silver_arxiv.py:82-96:
    // :: casts, left/right, concat run_date reassembly)
    val projection = """
select split(split(id, '/')[4], 'v')[0]::string as id,
       split(split(id, '/')[4], 'v')[1]::string as version,
       id::string as link,
       summary::string,
       title::string,
       left(updated, 10)::date as updated_dt,
       source_file_name::string,
       concat(
         cast(left(run_date, 4) as string), '-',
         cast(substr(run_date, 5, 2) as string), '-',
         cast(right(run_date, 2) as string)
       )::date as run_date,
       load_ts::timestamp
from source
"""
    def sqlDay(firstLoad: Boolean): Unit = {
      // df.createOrReplaceTempView('source'); source_df over it; rebind
      // (silver_arxiv.py:59,73,82,101)
      wh.table("bronze", "arxiv").createOrReplaceTempView("source")
      sql.execute(projection).createOrReplaceTempView("source")
      if (firstLoad) {
        // silver_arxiv.py:115-128 with table_name = arxiv_sql
        sql.execute("""
        create table main.silver.arxiv_sql as
        select sha2(concat_ws('||', id, version, updated_dt), 256) as arx_sk,
               id,
               version,
               link,
               summary,
               title,
               updated_dt,
               source_file_name,
               run_date,
               load_ts
        from source
        """)
      } else {
        val wm = sql.execute(
          "select watermark_date from main.silver.watermark_arxiv_sql").head().getString(0)
        // silver_arxiv.py:130-152, watermark_date substituted like the f-string
        sql.execute(s"""
        with src as (
          select sha2(concat_ws('||', id, version, updated_dt), 256) as arx_sk,
                 id,
                 version,
                 link,
                 summary,
                 title,
                 updated_dt,
                 source_file_name,
                 run_date,
                 load_ts
          from source
          where updated_dt >= '$wm'
        )
        merge into main.silver.arxiv_sql tgt
        using src
        on tgt.id = src.id
        when matched and src.version > tgt.version
        then update set *
        when not matched
        then insert *
        """)
      }
      // watermark update (silver_arxiv.py:199 shape)
      val maxDate = sql.execute(
        "select max(updated_dt)::string as w from main.silver.arxiv_sql").head().getString(0)
      sql.execute(s"create or replace table main.silver.watermark_arxiv_sql as " +
        s"select '$maxDate' as watermark_date")
    }

    // day 1: scala path via the pipeline, SQL path via the notebook text
    pipe.run("20221220")
    sqlDay(firstLoad = true)
    // day 2: v3 update + a new id land, bronze replaces, both paths merge
    Files.writeString(java.nio.file.Paths.get(arxivDir,
      "2022-12-21_1671600000.456_arxiv.json"),
      """{"feed": {"entry": [
        |{"id": "http://arxiv.org/abs/2212.01234v3", "updated": "2022-12-21T10:00:00Z", "title": "Green energy v3", "summary": "updated solar study"},
        |{"id": "http://arxiv.org/abs/2212.09999v1", "updated": "2022-12-21T11:00:00Z", "title": "Biogas", "summary": "biogas emission"}
        |]}}""".stripMargin.replaceAll("\n", " "))
    Stages.bronzeArxiv(spark, wh, arxivDir, "20221221")
    Stages.silverArxiv(spark, wh)
    sqlDay(firstLoad = false)

    // the SQL-driven table equals the Scala-stage-driven table, row for row
    val cols = wh.table("silver", "arxiv").columns.toSeq
    val scalaState = wh.table("silver", "arxiv")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    val sqlState = wh.table("silver", "arxiv_sql")
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
    assert(sqlState == scalaState)
    assert(sqlState.size == 3)
    // and the reference's DESCRIBE HISTORY metrics text reads the merge
    val hist = sql.execute("""
        select operationMetrics.numTargetRowsInserted as inserted,
               operationMetrics.numTargetRowsUpdated as updated,
               operationMetrics.numOutputRows as output_rows
        from (
        describe history main.silver.arxiv_sql) t
        order by version desc
        limit 1
    """).head()
    assert((hist.getLong(0), hist.getLong(1)) == ((1L, 1L)))
  }

  test("compaction shrinks a many-small-file table without touching a value") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_compact")
    val wh   = new graft.sources.Warehouse(spark, root.toString)
    // simulate steady micro-batch appends: 20 tiny files
    (1 to 20).foreach { i =>
      wh.append("bronze", "clicks", Seq((i.toLong, s"payload_$i")).toDF("id", "payload"))
    }
    val before = spark.read.parquet(wh.tablePath("bronze", "clicks"))
    val rowsBefore  = before.collect().map(_.toSeq).toSet
    val filesBefore = before.inputFiles.length
    assert(filesBefore >= 20, s"expected many small files, got $filesBefore")

    val removed = wh.compact("bronze", "clicks", targetRowsPerFile = 1000L)
    val after = spark.read.parquet(wh.tablePath("bronze", "clicks"))
    assert(after.inputFiles.length == 1, "20 rows at 1000 rows/file must compact to one file")
    assert(removed == filesBefore - 1)
    assert(after.collect().map(_.toSeq).toSet == rowsBefore, "compaction must not change values")
    assert(wh.lastOperation("bronze.clicks").get.getAs[String]("operation") == "COMPACT")
  }

  test("backfill runs a date range in order; empty days skip, re-backfill converges") {
    val (pipe, wh, _, _) = freshPipeline()
    // fixtures land files for 20221220 only — the 19th and 21st must
    // Left-skip at bronze instead of failing the window
    val reports = pipe.backfill("20221219", "20221221")
    assert(reports.map(_._1) == Seq("20221219", "20221220", "20221221"))
    val byDay = reports.toMap
    assert(byDay("20221220").skipped.isEmpty)
    assert(byDay("20221220").written("bronze_scholar").contains(2L))
    Seq("20221219", "20221221").foreach { d =>
      assert(byDay(d).skipped.exists(_._1.startsWith("bronze")),
        s"day $d should skip at bronze (no landed files)")
    }
    val scored = wh.table("gold", "scored_articles").count()
    assert(scored == 6L)
    // a second backfill of the same window is a no-op on the tables
    val again = pipe.backfill("20221219", "20221221")
    assert(again.length == 3)
    assert(wh.table("gold", "scored_articles").count() == scored)
    assert(wh.table("silver", "arxiv").count() == 2L)
    // inverted ranges are a caller bug, not an empty window
    intercept[IllegalArgumentException](pipe.backfill("20221222", "20221220"))
  }

  test("chaos: backfill killed mid-write at every failpoint converges exactly on re-backfill") {
    // the operational story a daily pipeline needs: a day dies mid-swap
    // (executor loss, OOM, preemption), the scheduler re-runs the
    // WINDOW — the result must be byte-identical to a never-failed run
    // ingest-time current_timestamp columns legitimately differ per
    // run — convergence is about the DATA columns
    def snap(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val keep = df.schema.fields
        .filterNot(_.dataType.typeName == "timestamp")
        .map(f => org.apache.spark.sql.functions.col(f.name))
      df.select(keep: _*).collect().map(_.toSeq).toSet
    }
    val reference = {
      val (pipe, wh, _, _) = freshPipeline()
      pipe.backfill("20221219", "20221221")
      Map(
        "scored" -> snap(wh.table("gold", "scored_articles")),
        "words"  -> snap(wh.table("gold", "combined_pre_nlp")),
        "arxiv"  -> snap(wh.table("silver", "arxiv")))
    }
    for (point <- Seq("after-stage-write", "after-retire", "after-swap")) {
      val (pipe, wh, _, _) = freshPipeline()
      wh.failpoint = point
      // the crash surfaces as the day's failure (swap threw mid-write);
      // after-swap commits before throwing, so either outcome is legal —
      // what matters is what RE-BACKFILL converges to
      try { pipe.backfill("20221219", "20221221") }
      catch { case e: RuntimeException => assert(e.getMessage.contains("chaos")) }
      wh.failpoint = null
      val again = pipe.backfill("20221219", "20221221")
      assert(again.map(_._1) == Seq("20221219", "20221220", "20221221"))
      assert(snap(wh.table("gold", "scored_articles"))
        == reference("scored"), s"scored diverged after crash at $point")
      assert(snap(wh.table("gold", "combined_pre_nlp"))
        == reference("words"), s"gold words diverged after crash at $point")
      assert(snap(wh.table("silver", "arxiv"))
        == reference("arxiv"), s"silver diverged after crash at $point")
      // and convergence is stable: one more window is a pure no-op
      pipe.backfill("20221219", "20221221")
      assert(snap(wh.table("gold", "scored_articles")) == reference("scored"))
    }
  }
}
