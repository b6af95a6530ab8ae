package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM — the
  * Verify/Bench session config (GraftSession) at four cores.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"
}
