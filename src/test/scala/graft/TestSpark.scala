package graft

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

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

  /** The parquet data files at any depth under `dir` (hidden entries
    * excluded), sorted by path — an artifact kind's files across its
    * unit directories. */
  def parquetFiles(dir: String): Seq[java.io.File] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .toSeq.sortBy(_.getPath)
    finally s.close()
  }

  /** Names of the unit directories of an artifact kind directory that
    * start with `prefix`. */
  def unitDirs(dir: String, prefix: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(prefix)).map(_.getName).sorted
}
