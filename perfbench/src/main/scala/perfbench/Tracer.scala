package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's own tracing: spans around the calls it makes into the
  * engine, plus one `SparkListener` and one `QueryExecutionListener`
  * that attribute Spark work to the span that caused it.
  *
  * Each span sets a job group; jobs (and their stages and tasks) are
  * keyed by that group. Planning time comes from the phases of
  * `QueryExecution.tracker` and is attributed to the innermost span open
  * when the query's first phase started (one driver thread runs the
  * spans, so time attribution is exact). Events are kept in memory and
  * folded into span statistics once the listener bus has drained.
  */
final class Tracer(spark: SparkSession, val cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext

  // ---- raw events (listener bus thread)
  private val jobs        = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageGroup  = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val taskAgg     = new java.util.concurrent.ConcurrentHashMap[String, TaskAgg]()
  private val planPhases  = new ConcurrentLinkedQueue[(Long, Double)]() // (first phase start ms, plan s)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobRec(group, e.time, -1L))
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val group = Option(stageGroup.get(e.stageId)).getOrElse("")
      val agg   = taskAgg.computeIfAbsent(group, _ => new TaskAgg)
      agg.synchronized {
        agg.tasks += 1
        agg.taskS += e.taskInfo.duration / 1000.0
        val m = e.taskMetrics
        if (m != null) {
          agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          agg.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          agg.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        planPhases.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum / 1000.0))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  // ---- spans (driver thread)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open  = mutable.Stack.empty[Span]
  var attached      = false

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Run `body` as a span named `name`; `attrs` are free-form labels
    * (for example the unit index) kept with the span.
    */
  def span[T](name: String, attrs: (String, String)*)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id), attrs.toMap)
    spans += s
    open.push(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.wallS = (System.nanoTime() - s.startNs) / 1e9
      s.endMs = System.currentTimeMillis()
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  /** Statistics of every span, own work plus that of its descendants. */
  lazy val stats: IndexedSeq[SpanStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val children = spans.groupBy(_.parent).withDefaultValue(mutable.ArrayBuffer.empty)
    def subtree(s: Span): Seq[Span] = s +: children(Some(s.id)).toSeq.flatMap(subtree)
    val jobsByGroup = jobs.values.asScala.toSeq.groupBy(_.group)
    // innermost span open at a planning phase's start
    val planBySpan = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    planPhases.asScala.foreach { case (t, planS) =>
      val hit = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (hit.nonEmpty) planBySpan(hit.maxBy(_.startNs).id) += planS
    }
    spans.toIndexedSeq.map { s =>
      val tree   = subtree(s)
      val groups = tree.map(_.group).toSet
      val js     = groups.toSeq.flatMap(g => jobsByGroup.getOrElse(g, Nil))
      val aggs   = groups.toSeq.flatMap(g => Option(taskAgg.get(g)))
      val jobS   = unionSeconds(js.map(j => (j.start, if (j.end < 0) s.endMs else j.end)))
      val childWall = children(Some(s.id)).map(_.wallS).sum
      SpanStats(
        span = s,
        planS = tree.map(t => planBySpan(t.id)).sum,
        jobS = math.min(jobS, s.wallS),
        jobs = js.size,
        tasks = aggs.map(_.tasks).sum,
        taskS = aggs.map(_.taskS).sum,
        shuffleBytes = aggs.map(_.shuffleBytes).sum,
        spillBytes = aggs.map(_.spillBytes).sum,
        outputBytes = aggs.map(_.outputBytes).sum,
        selfS = math.max(0.0, s.wallS - childWall)
      )
    }
  }

  def named(name: String): Seq[SpanStats] = stats.filter(_.span.name == name)

  def writeSpans(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val rows = stats.map { st =>
      val s = st.span
      Seq(
        "id" -> s.id.toString,
        "parent" -> s.parent.fold("null")(_.toString),
        "name" -> Json.str(s.name),
        "attrs" -> s.attrs.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"),
        "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallS),
        "self_s" -> Json.num(st.selfS),
        "plan_s" -> Json.num(st.planS),
        "job_s" -> Json.num(st.jobS),
        "driver_s" -> Json.num(st.driverS),
        "jobs" -> st.jobs.toString,
        "tasks" -> st.tasks.toString,
        "task_s" -> Json.num(st.taskS),
        "shuffle_bytes" -> st.shuffleBytes.toString,
        "spill_bytes" -> st.spillBytes.toString,
        "output_bytes" -> st.outputBytes.toString
      ).map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    }
    val body = s"""{"cores": $cores, "spans": [\n""" +
      rows.mkString(",\n") + "\n]}\n"
    Files.write(file, body.getBytes("UTF-8"))
  }
}

object Tracer {
  final case class JobRec(group: String, start: Long, end: Long)

  final class TaskAgg {
    var tasks        = 0L
    var taskS        = 0.0
    var shuffleBytes = 0L
    var spillBytes   = 0L
    var outputBytes  = 0L
  }

  final case class Span(id: Int, name: String, parent: Option[Int], attrs: Map[String, String]) {
    val group: String = s"perfbench-$id"
    var startMs = 0L
    var endMs   = 0L
    var startNs = 0L
    var wallS   = 0.0
  }

  final case class SpanStats(
      span: Span,
      planS: Double,
      jobS: Double,
      jobs: Int,
      tasks: Long,
      taskS: Double,
      shuffleBytes: Long,
      spillBytes: Long,
      outputBytes: Long,
      selfS: Double
  ) {
    def wallS: Double   = span.wallS
    /** Wall time outside every Spark job of the span. */
    def driverS: Double = math.max(0.0, wallS - jobS)
    def coreBusy(cores: Int): Double = if (wallS <= 0) 0.0 else taskS / (wallS * cores)
    /** plan (Catalyst phases), execution (inside jobs) or driver (the
      * rest: listing, renames, footers, ledger writes).
      */
    def layers: Seq[(String, Double)] =
      Seq("plan" -> planS, "execution" -> jobS, "driver" -> math.max(0.0, driverS - planS))
  }

  /** Total length, in seconds, of the union of [start, end] ms intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS  = Long.MinValue
    var curE  = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Name the layer with the largest median share across `st`. */
  def dominant(label: String, st: Seq[SpanStats]): String =
    if (st.isEmpty) s"$label=none"
    else {
      val med = Seq("plan", "execution", "driver").map { l =>
        l -> Stats.median(st.map(_.layers.toMap.apply(l)))
      }
      val (top, _) = med.maxBy(_._2)
      f"$label=$top (" + med.map { case (l, v) => f"$l $v%.3f s" }.mkString(", ") + ")"
    }
}
