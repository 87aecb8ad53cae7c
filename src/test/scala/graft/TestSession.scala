package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY.md §5.2; one session
  * per JVM, suites run sequentially in the forked test JVM): the same
  * factory and extension set as every main. */
object TestSession {
  lazy val spark: SparkSession = Sessions.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}
