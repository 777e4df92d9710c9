package perfbench

import graft.functions.TextFunctions
import graft.pipeline.Stages

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Seeded generator of reference-shaped landing files (FIXTURES.md A1-A3)
  * from the documents table, with its own model of the row counts the
  * pipeline must produce.
  *
  * Each source-day is sized from the reference's own limits (BASELINE.md,
  * "Data scale"); where the reference gives no number the figure is an
  * assumption, named as such below and in perfbench/README.md.
  *  - Scholar: one SerpApi page per date, [[ScholarResults]] results (the
  *    source's `num` default). Snippets carry "N days ago" prefixes, so on
  *    the incremental date some rows fall at or below the strict-`>`
  *    watermark (dropped) and some above it.
  *  - Arxiv: one feed per date, capped at [[ArxivCap]] entries (the
  *    reference caps `max_results` by an environment variable whose value
  *    it does not give: assumed). The fresh-load feed holds the newest
  *    entries; an incremental feed holds the day's new ids, new versions
  *    of earlier ids (MERGE updates), and fills up with the most recently
  *    updated earlier entries at their current version (MERGE keeps, or
  *    dropped by the `>=` watermark).
  *  - NYT: the archive month of the run date, downloaded that day: every
  *    article of the month published up to the run date, so the
  *    incremental date re-lands all of the fresh-load date's articles
  *    (the anti-join drops them). The month holds the docs the other two
  *    sources do not use, spread evenly over its days (assumed).
  *  - Scholar and Arxiv results answer clean-tech searches, so each gets
  *    one or two clean-tech dictionary terms; an NYT article gets them
  *    with probability 1/[[NytCleanTechOneIn]] (assumed), so that
  *    `gold_scored` writes rows.
  * Every source-day also gets one older, stale file that discovery must
  * ignore.
  */
final class Landing(docs: IndexedSeq[(Long, String)], seed: Long, val dates: Seq[String]) {
  import Landing._

  private val rnd = new java.util.Random(seed)

  private val order: IndexedSeq[Long] = shuffled(docs.map(_._1)).toIndexedSeq
  private val n = order.size

  // per-source sizes; the tiny test tables scale them down
  private val scholarPerDay = math.min(ScholarResults, n / 12)
  private val arxivCap      = math.min(ArxivCap, n / 6)
  private val arxivNew      = arxivCap / 4 // assumed: new ids a day
  private val arxivBumps    = arxivCap / 10 // assumed: new versions a day

  private val (scholarIds, arxivIds, staleIds, nytIds) = {
    val s = dates.size * scholarPerDay
    val a = arxivCap + (dates.size - 1) * arxivNew
    (order.take(s), order.slice(s, s + a), order.slice(s + a, s + a + 6), order.drop(s + a + 6))
  }

  private val runDates = dates.map(LocalDate.parse(_, Ymd))
  /** NYT publication date of each article: a day of the month, up to the
    * last run date.
    */
  private val nytPublished: Map[Long, LocalDate] = {
    val last = runDates.last
    nytIds.map(id => id -> last.withDayOfMonth(1 + rnd.nextInt(last.getDayOfMonth))).toMap
  }

  /** Dictionary terms the gold stage's lemmatizer leaves unchanged
    * (its plural rule turns "biogas" into "bioga", which never scores).
    */
  private val terms = TextFunctions.cleanTechTerms.keys.toSeq.sorted
    .filter(t => t.replaceAll("(?<=[a-z]{2})ies$", "y").replaceAll("sses$", "ss")
      .replaceAll("([^su])s$", "$1") == t)

  /** Docs given clean-tech terms. */
  val seeded: Set[Long] =
    (scholarIds ++ arxivIds).toSet ++ nytIds.filter(_ => rnd.nextInt(NytCleanTechOneIn) == 0)
  private val text: Map[Long, String] = docs.map { case (id, t) =>
    id -> (if (seeded(id)) {
      val words = t.split(' ').toBuffer
      val k     = 1 + rnd.nextInt(2)
      (0 until k).foreach(_ => words.insert(rnd.nextInt(words.size + 1), terms(rnd.nextInt(terms.size))))
      words.mkString(" ")
    } else t)
  }.toMap

  /** Rows in each date's Scholar file. */
  def landedScholar: Long = scholarPerDay.toLong

  /** Write all landing files under `root`; return the expected counts
    * after each date, the landing directories and the landed bytes.
    */
  def write(root: Path): (Seq[Expected], (String, String, String), Long) = {
    val sDir = Files.createDirectories(root.resolve("scholar"))
    val aDir = Files.createDirectories(root.resolve("arxiv"))
    val nDir = Files.createDirectories(root.resolve("nyt"))

    // models of the silver tables
    var sCount = 0L; var sWm: Option[LocalDate] = None; val sSeeded = mutable.ArrayBuffer.empty[Long]
    val arx    = mutable.Map.empty[Long, (Int, LocalDate)]
    var aWm: Option[LocalDate] = None
    val nyt    = mutable.Set.empty[(Long, LocalDate)]
    // arXiv's own state of every id it has published: (version, updated)
    val feed   = mutable.Map.empty[Long, (Int, LocalDate)]
    var bytes  = 0L
    def put(dir: Path, name: String, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      Files.write(dir.resolve(name), b)
      bytes += b.length
    }

    val expected = runDates.zipWithIndex.map { case (run, d) =>
      val rd    = dates(d)
      val epoch = run.toEpochDay * 86400L + 3600L * (6 + d)
      val token = f"$epoch%d.${rnd.nextInt(1000)}%03d"
      val stale = f"${epoch - 7200}%d.${rnd.nextInt(1000)}%03d"

      // ---- Scholar: multiline JSON, publish_dt = run - days-ago
      val sRows = scholarIds.slice(d * scholarPerDay, (d + 1) * scholarPerDay).zipWithIndex.map { case (id, pos) =>
        val ago = if (d == 0) rnd.nextInt(6) - 1 else rnd.nextInt(4) - 1 // -1 = no prefix
        (id, pos, ago)
      }
      put(sDir, s"${Stages.underscorePrefix(rd)}_${token}_scholar.jsonl", scholarFile(sRows))
      put(sDir, s"${Stages.underscorePrefix(rd)}_${stale}_scholar.jsonl",
        scholarFile(staleIds.zipWithIndex.map { case (id, p) => (id, p, -1) }))
      val publish = sRows.map { case (id, _, ago) => id -> run.minusDays(math.max(ago, 0).toLong) }
      val kept    = publish.filter { case (_, p) => sWm.forall(w => p.isAfter(w)) }
      sCount += kept.size
      sSeeded ++= kept.map(_._1)
      sWm = (sWm.toSeq ++ kept.map(_._2)).maxOption

      // ---- Arxiv: JSONL, one feed object, versioned ids
      val aRows =
        if (d == 0) arxivIds.take(arxivCap).map(id => (id, 1, run.minusDays(rnd.nextInt(4).toLong)))
        else {
          val fresh   = arxivIds.slice(arxivCap + (d - 1) * arxivNew, arxivCap + d * arxivNew).map(id => (id, 1, run))
          val earlier = shuffled(feed.keys.toSeq.sorted)
          val bumps   = earlier.take(arxivBumps).map(id => (id, feed(id)._1 + 1, run))
          val rest    = earlier.drop(arxivBumps).sortBy(id => (-feed(id)._2.toEpochDay, id))
            .take(arxivCap - fresh.size - bumps.size).map(id => (id, feed(id)._1, feed(id)._2))
          fresh ++ bumps ++ rest
        }
      aRows.foreach { case (id, v, u) => feed(id) = (v, u) }
      put(aDir, s"${Stages.dashPrefix(rd)}_${token}_arxiv.json", arxivFile(aRows.sortBy(_._1)))
      put(aDir, s"${Stages.dashPrefix(rd)}_${stale}_arxiv.json",
        arxivFile(staleIds.map(id => (id, 9, run))))
      aRows.filter { case (_, _, u) => aWm.forall(w => !u.isBefore(w)) }.foreach { case (id, v, u) =>
        arx.get(id) match {
          case None                       => arx(id) = (v, u)
          case Some((cur, _)) if v > cur  => arx(id) = (v, u)
          case _                          =>
        }
      }
      aWm = arx.values.map(_._2).maxOption

      // ---- NYT: JSONL, the month to date; case-duplicate keys inside multimedia
      val nRows = nytIds.filter(id => !nytPublished(id).isAfter(run)).map(id => (id, nytPublished(id)))
      put(nDir, s"${Stages.underscorePrefix(rd)}_${token}_nyt.jsonl", nytFile(nRows))
      put(nDir, s"${Stages.underscorePrefix(rd)}_${stale}_nyt.jsonl", nytFile(staleIds.map(id => (id, run))))
      nyt ++= nRows

      val seededRows = sSeeded.size.toLong +
        arx.keys.count(seeded).toLong + nyt.count(k => seeded(k._1)).toLong
      Expected(sCount, arx.size.toLong, nyt.size.toLong, seededRows)
    }
    (expected, (sDir.toString, aDir.toString, nDir.toString), bytes)
  }

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    var i = a.size - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }

  private def words(id: Long, k: Int): String = text(id).split(' ').take(k).mkString(" ")

  private def scholarFile(rows: Seq[(Long, Int, Int)]): String = {
    val results = rows.map { case (id, pos, ago) =>
      val prefix = if (ago < 0) "" else s"$ago days ago — "
      s"""    {
         |      "position": ${pos + 1},
         |      "result_id": ${Json.str(s"gs$id")},
         |      "title": ${Json.str(words(id, 6))},
         |      "link": ${Json.str(s"https://example.org/scholar/$id")},
         |      "snippet": ${Json.str(prefix + text(id))},
         |      "type": "html",
         |      "publication_info": {"summary": ${Json.str(s"A Author - Journal $id")}, "authors": [{"author_id": ${Json.str(s"au$id")}, "link": "https://example.org/a", "name": "A Author", "serpapi_scholar_link": "https://example.org/s"}]},
         |      "resources": [{"file_format": "PDF", "link": ${Json.str(s"https://example.org/pdf/$id")}, "title": "example.org"}],
         |      "inline_links": {"cached_page_link": "https://example.org/c", "html_version": "https://example.org/h", "serpapi_cite_link": "https://example.org/cite"}
         |    }""".stripMargin
    }
    s"""{
       |  "_airbyte_data": {
       |    "organic_results": [
       |${results.mkString(",\n")}
       |    ],
       |    "search_information": {"organic_results_state": "Results for exact spelling", "query_displayed": "clean technology", "time_taken_displayed": 0.12, "total_results": ${rows.size}},
       |    "search_metadata": {"created_at": "2022-12-20 06:00:00 UTC", "id": "meta", "status": "Success", "total_time_taken": 1.5},
       |    "search_parameters": {"engine": "google_scholar", "q": "clean technology", "as_ylo": "2022", "scisbd": "1", "hl": "en", "num": "20"}
       |  },
       |  "_airbyte_emitted_at": 1671510000000
       |}
       |""".stripMargin
  }

  private def arxivFile(rows: Seq[(Long, Int, LocalDate)]): String = {
    val entries = rows.map { case (id, v, updated) =>
      s"""{"id": ${Json.str(f"http://arxiv.org/abs/2212.$id%05dv$v")}, "updated": ${Json.str(s"${updated}T10:00:00Z")}, "published": ${Json.str(s"${updated}T09:00:00Z")}, "title": ${Json.str(words(id, 8))}, "summary": ${Json.str(if (v > 1) text(id) + " revised" else text(id))}, "author": {"name": "A Author"}}"""
    }
    s"""{"feed": {"title": "ArXiv Query", "entry": [${entries.mkString(", ")}]}}""" + "\n"
  }

  private def nytFile(rows: Seq[(Long, LocalDate)]): String =
    rows.map { case (id, pub) =>
      s"""{"_airbyte_data": {"_id": ${Json.str(s"nyt://article/$id")}, "abstract": ${Json.str(text(id))}, "lead_paragraph": ${Json.str(words(id, 10))}, "snippet": ${Json.str(words(id, 5))}, "pub_date": ${Json.str(s"${pub}T09:00:00+0000")}, "web_url": ${Json.str(s"https://example.org/nyt/$id")}, "multimedia": [{"url": "images/a.jpg", "Url": "images/A.jpg", "height": 100, "width": 150}]}, "_airbyte_emitted_at": 1671510000000}"""
    }.mkString("", "\n", "\n")
}

object Landing {
  /** Rows the pipeline must hold after one date. */
  final case class Expected(scholar: Long, arxiv: Long, nyt: Long, seededRows: Long) {
    def combined: Long = scholar + arxiv + nyt
  }

  val Ymd: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")

  /** Scholar results a date lands: the SerpApi source's `num` default
    * (BASELINE.md, "Data scale").
    */
  val ScholarResults = 20
  /** Arxiv feed entries a date lands (assumed `max_results`). */
  val ArxivCap = 100
  /** One NYT article in this many carries clean-tech terms (assumed). */
  val NytCleanTechOneIn = 20
}
