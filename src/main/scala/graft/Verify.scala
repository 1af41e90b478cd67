package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder()
      // same codegen-class cache sizing as the bench (see Bench.scala):
      // 139 queries in one JVM hold far more than 100 codegen units,
      // and the default cache thrashes — affects wall time only, never
      // results
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
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
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      // per-query scope: operators that persist() intermediates release
      // them as soon as the result is written
      try graft.core.CacheScope.scoped {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        val msg = e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")
            .linesIterator.take(1).mkString.take(300)
        failed(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // A failed query must leave a durable trace: stderr alone let two
    // broken queries vanish from the correctness file for two rounds
    // (r11/r12) — the collector dropped entries with no parquet and the
    // file just shrank. _failed.json is ALWAYS written (empty object on
    // a clean run) so "no failures" and "nobody recorded failures" are
    // distinguishable, and the checker turns its entries into ERR rows.
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // oracles only the repo-local checker can run (needs its Python
    // zlib UDF — see Queries.localOracles); kept OUT of oracle_sql.json
    // so the driver's fixed DuckDB compare records rows-only instead of
    // erroring on a function it doesn't have
    Files.writeString(Paths.get(s"$outDir/oracle_sql_local.json"),
      Queries.localOracles
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    println(s"[verify] registered=${SparkEntry.queries.size} " +
      s"written=${SparkEntry.queries.size - failed.size} failed=${failed.size}")
    spark.stop()
  }
}
