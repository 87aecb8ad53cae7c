package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws leaves NO dump (its previous run's directory is deleted before
  * it runs) and an entry in failures.json (`{name: message}`), so a
  * stale dump can never pass for a fresh one. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional extra args: dump only these queries (builder iteration aid;
    // the driver always calls with exactly two args → full dump).
    val only = args.drop(2).toSet
    // the same session as Bench and the tests: extensions on, UTC, and
    // the shuffle-free q_dsv2_spj plan it benches
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      val dump = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dump.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dump, true)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(dump.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
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
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    spark.stop()
  }
}
