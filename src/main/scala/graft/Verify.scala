package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Args: <sfDir> <outDir> [queryName ...] — the optional names restrict
    // the dump for local iteration (tools/check.py); the driver passes two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // a query that throws writes no output dir; its message is kept for
    // failed.json so the compare can say WHY it is missing
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
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
    // Intentionally-unoracled queries, machine-readable (driver + tools/
    // check.py treat these as rows-only by declaration, not by omission).
    Files.writeString(Paths.get(s"$outDir/rows_only.json"),
      SparkEntry.rowsOnly.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Queries that threw, machine-readable: name → exception message.
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
