package perfbench

import graft.Engine
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point: one workload, one seed, one closed loop driven
  * by a single thread.
  *
  * Flow of a run:
  *  1. set-up, [[SetupRounds]] times: start a session with
  *     `Engine.session`, generate the seeded inputs into a fresh
  *     directory, prepare tables and run one light warm-up operation;
  *     `setup_s` is the median;
  *  2. timed units until `--seconds` have passed (and at least the
  *     workload's minimum count of units ran);
  *  3. one JSON line: `correct`, `attempted`, `failed`, `metrics`.
  *
  * With `--trace 1` the benchmark's own listeners ([[Tracer]]) are
  * attached and the metrics are the per-layer split; the end-to-end
  * figures of the traced units are printed as facts, so traced minus
  * untraced runs of one seed give the tracing overhead.
  */
object Main {

  val SetupRounds = 3

  final case class Args(
      workload: String = "",
      seed: Long = 1L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      work: String = "perfbench/.work",
      data: String = "",
      size: String = "full",
      plantWrongCount: Boolean = false,
      inputsDigest: Boolean = false
  )

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil                               => a
      case "--workload" :: v :: t            => go(t, a.copy(workload = v))
      case "--seed" :: v :: t                => go(t, a.copy(seed = v.toLong))
      case "--seconds" :: v :: t             => go(t, a.copy(seconds = v.toDouble))
      case "--trace" :: v :: t               => go(t, a.copy(trace = v == "1"))
      case "--work" :: v :: t                => go(t, a.copy(work = v))
      case "--data" :: v :: t                => go(t, a.copy(data = v))
      case "--size" :: v :: t                => go(t, a.copy(size = v))
      case "--plant-wrong-count" :: t        => go(t, a.copy(plantWrongCount = true))
      case "--inputs-digest" :: t            => go(t, a.copy(inputsDigest = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    go(argv.toList, Args())
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Files.isDirectory(Paths.get(args.data)), s"input data directory ${args.data} not found")
    val work = Files.createDirectories(Paths.get(args.work))
    val code =
      try run(args, work)
      finally Io.deleteTree(work)
    sys.exit(code)
  }

  def run(args: Args, work: Path): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = args.workload match {
      case "pipeline_daily" => new PipelineDaily(args)
      case "query_read"     => new QueryRead(args)
      case other            => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val checks = new Checks(args.plantWrongCount)

    // ---- set-up, several times; the last round's inputs are measured
    var spark: SparkSession = null
    val setupTimes = (1 to SetupRounds).map { round =>
      if (spark != null) { spark.stop(); Io.deleteTree(work.resolve(s"setup-${round - 1}")) }
      val dir = Files.createDirectories(work.resolve(s"setup-$round"))
      val t0  = System.nanoTime()
      spark = Engine.session(cores = cores)
      wl.setup(spark, dir, checks)
      (System.nanoTime() - t0) / 1e9
    }
    if (args.inputsDigest) {
      println(s"inputs_digest ${wl.inputsDigest}")
      spark.stop()
      return 0
    }
    printFacts(spark, cores, wl)

    // ---- timed closed loop, until `--seconds` have passed and at least
    // `minUnits` ran. A traced run makes exactly `minUnits` units, all
    // traced; compare it with an untraced run of the same seed for the
    // tracing overhead (perfbench/overhead.py).
    val heap   = new HeapProbe
    val tracer = new Tracer(spark, cores)
    if (args.trace) tracer.attach()
    val start  = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var units  = 0
    var broken = false
    def more = units < wl.minUnits || (!args.trace && elapsed < args.seconds)
    while (!broken && more) {
      try wl.unit(spark, units, checks, if (args.trace) Some(tracer) else None)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] unit $units failed: $e")
          e.printStackTrace()
          checks.opFailed()
          broken = true
      }
      heap.sample()
      units += 1
    }
    val measured = elapsed
    println(f"fact units=$units measured_s=$measured%.3f")

    val endToEnd = Seq(("setup_s", Stats.median(setupTimes), "s")) ++ wl.endToEnd ++
      Seq(("heap_live_mb", heap.maxLiveMb, "MB"))
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) endToEnd
      else {
        tracer.detach()
        endToEnd.foreach { case (n, v, u) => println(s"fact traced.$n=$v $u") }
        val values = wl.perLayer(tracer)
        wl.dominantLayers(tracer).foreach(l => println(s"fact dominant $l"))
        val traceFile = Paths.get("perfbench", "traces", s"${args.workload}-seed${args.seed}.json")
        tracer.writeSpans(traceFile)
        println(s"fact trace_file=$traceFile")
        Layers.all.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    wl.facts.foreach { case (k, v) => println(s"fact $k=$v") }
    spark.stop()

    val metricJson = metrics
      .map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
      .mkString("{", ", ", "}")
    val correct = checks.failed == 0 && !broken
    println(s"""{"correct": $correct, "attempted": ${checks.attempted}, "failed": ${checks.failed}, "metrics": $metricJson}""")
    0
  }

  private def printFacts(spark: SparkSession, cores: Int, wl: Workload): Unit = {
    println(s"fact cores=$cores")
    println(s"fact max_heap_mb=${Runtime.getRuntime.maxMemory() / (1024 * 1024)}")
    println(s"fact spark_version=${spark.version}")
    println("fact session=graft.Engine.session (GraftExtensions registered)")
    spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
      .foreach { case (k, v) => println(s"fact conf $k=$v") }
    println(s"fact workload=${wl.name} loop=closed clients=1")
  }
}

/** A closed-loop workload: one thread issues a unit, waits for it, then
  * issues the next.
  */
trait Workload {
  def name: String
  /** Units to run even when `--seconds` has passed. */
  def minUnits: Int
  /** Generate the seeded inputs under `dir`, prepare, and run one light
    * warm-up operation.
    */
  def setup(spark: SparkSession, dir: Path, checks: Checks): Unit
  /** One timed unit; `tracer` is set in a traced run. */
  def unit(spark: SparkSession, i: Int, checks: Checks, tracer: Option[Tracer]): Unit
  def endToEnd: Seq[(String, Double, String)]
  /** Per-layer values by name; names missing here read 0. */
  def perLayer(tracer: Tracer): Map[String, Double]
  def dominantLayers(tracer: Tracer): Seq[String]
  def facts: Seq[(String, String)]
  /** Digest of the generated inputs (same seed, same digest). */
  def inputsDigest: String
}

/** Operations and output checks, counted for `attempted` / `failed`.
  * `plantWrongCount` shifts every expected row count by one, which the
  * smoke test uses to prove that a wrong output is caught.
  */
final class Checks(plantWrongCount: Boolean) {
  var attempted = 0L
  var failed    = 0L
  private val shift = if (plantWrongCount) 1L else 0L

  def op(): Unit = attempted += 1
  def opFailed(): Unit = { attempted += 1; failed += 1 }

  def check(what: String)(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }
  }

  def count(what: String, actual: Long, expected: Long): Unit =
    check(s"$what: rows $actual, expected ${expected + shift}")(actual == expected + shift)
}

/** Largest heap in use right after a full collection, sampled between
  * units.
  */
final class HeapProbe {
  private var maxBytes = 0L
  def sample(): Unit = {
    // the second collection also frees what Spark's cleaner released
    // after the first
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    maxBytes = math.max(maxBytes, used)
  }
  def maxLiveMb: Double = maxBytes / (1024.0 * 1024.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case '\n'          => b ++= "\\n"
      case '\r'          => b ++= "\\r"
      case '\t'          => b ++= "\\t"
      case c if c < ' '  => b ++= f"\\u${c.toInt}%04x"
      case c             => b += c
    }
    b += '"'
    b.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Regular files under `p`: (count, bytes). */
  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally s.close()
  }

  def sha256Tree(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s  = Files.walk(p)
    try {
      val files = scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(f => Files.isRegularFile(f)).toSeq.sortBy(f => p.relativize(f).toString)
      files.foreach { f =>
        md.update(p.relativize(f).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
    } finally s.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
