package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5.2; one session
  * per JVM, suites run sequentially in the forked test JVM): the same
  * factory and extension set as every main. */
object TestSession {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"

  /** Hand-place a one-row `(id BIGINT, v STRING)` parquet data file at
    * `dir/name` — the payload of a hand-built legacy (pre-log
    * `_GRAFT_COMMIT`) zone. */
  def parquetRowFile(dir: String, name: String, id: Long, v: String): Unit = {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_row").toString
    Seq((id, v)).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, name))
  }
}
