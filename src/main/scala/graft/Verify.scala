package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Extra args are a dev-only
    // name subset so a changed query can be re-checked without dumping
    // all 96 (oracle_sql.json is filtered to match, so dev/check.py
    // compares just the subset).
    val sfDir = args(0)
    val outDir = args(1)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    def keep(name: String): Boolean = subset.forall(_.contains(name))
    val spark = GraftSession(GraftSession.defaultCpus, Some(sfDir))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
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
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
