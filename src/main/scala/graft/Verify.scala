package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration
    // only — the driver always runs the full battery with 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = ran.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toSeq.sorted
    // A failed query writes NO output dir, which a naive output-dir scan
    // would silently not count — surface the tally loudly and persist the
    // full expected name list for the checker to diff against.
    System.err.println(s"[verify] SUMMARY: ${ran.size - failed.size}/" +
      s"${ran.size} queries wrote output" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(", ")}"))
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
      ran.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
