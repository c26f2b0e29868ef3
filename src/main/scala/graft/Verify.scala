package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.specs result → parquet, plus
  * oracle_sql.json (every spec's oracle SQL) and queries.json (the names
  * run), for the DuckDB compare in tools/check_correctness.py. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names to run (dev iteration;
    // the full gate runs every query with 2 args)
    val ran = args.lift(2).fold(SparkEntry.specs)(csv =>
      SparkEntry.named(csv.split(",").toSeq: _*))
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    val failed = ran.flatMap { spec =>
      try {
        spec.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${spec.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
        Some(spec.name)
      }
    }
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
    val json = SparkEntry.specs
      .flatMap(spec => spec.oracleSql.map(sql => s"${q(spec.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      ran.map(spec => q(spec.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}
