package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[8]", 8)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Drop every persisted RDD — the CC loop's final snapshot is
    * released on the async listener bus after the first consuming
    * action; suites force-drop anything still pending so they never
    * interleave. */
  def releaseAllRdds(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
