package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional extra args: dump only the named queries (dev loop); the
    // 2-arg invocation dumps everything
    val selected = SparkEntry.select(args.toSeq.drop(2))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    spark.stop()
    // one closing line, so a failure printed mid-run stays in the output tail
    System.err.println(
      if (failed.isEmpty) s"[verify] all ${selected.size} written"
      else s"[verify] ${failed.size} of ${selected.size} failed: ${failed.mkString(", ")}")
  }
}
