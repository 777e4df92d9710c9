package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: substring filter for focused re-dumps during
    // development (`runMain graft.Verify <sf> <out> q113`); the driver
    // always calls with 2 args → full dump, unchanged contract
    val Array(sfDir, outDir) = args.take(2)
    val nameFilter: String => Boolean =
      if (args.length > 2) (n: String) => n.contains(args(2)) else _ => true
    // the engine's own session, so the oracle checks the configuration
    // that is benched
    val spark = Engine.session(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // A failed query must attest itself in the dump — a swallowed throw
    // looks identical to a *removed* query in the driver's correctness
    // report (12 queries vanished silently in round 9).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => nameFilter(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val total = SparkEntry.queries.count(e => nameFilter(e._1))
    println(s"[verify] dumped ${total - errors.size}/$total queries" +
      (if (errors.nonEmpty) s"; FAILED: ${errors.keys.mkString(", ")}" else ""))
    spark.stop()
  }
}
