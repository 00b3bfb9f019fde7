package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (dev-only): comma-separated query-name filter
    val selected = SparkEntry.select(args.lift(2))
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // A crashed query must surface in the correctness artifact, not
    // vanish from it: record every failure (name -> error) and write the
    // full registry alongside the dumps so the checker can enumerate
    // queries that produced no output at all (see ADVICE round 5 — 46
    // crashed queries once disappeared from a 111-green report).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failures(name) = s"runtime_error: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
