package graft

import graft.core.Cols._
import graft.core.Tables
import graft.llm.{AnnIndex, DedupIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot layer's metadata operations — snapshot, versions,
  * rollback, expire — are driver-side file operations: a manifest is one
  * small text file committed by rename, so none of them may start a
  * Spark job, on either index artifact. Neither may building an
  * artifact's DataFrames: every read names its units and declares its
  * kind's schema, so no schema inference or listing job runs.
  */
class SnapshotJobsSpec extends AnyFunSuite {
  import TestSpark._

  private def rmrf(path: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
  }

  /** Spark jobs started while `body` runs, with the listener bus drained
    * on both sides so no earlier job leaks in and no late event is lost. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    assert(org.apache.spark.graft.ListenerDrain.drain(sc))
    sc.addSparkListener(listener)
    try {
      body
      assert(org.apache.spark.graft.ListenerDrain.drain(sc))
    } finally sc.removeSparkListener(listener)
    started.get
  }

  /** No manifest is a parquet dataset: only `v{n}.tsv` files (plus the
    * local filesystem's checksum siblings). */
  private def manifestNames(path: String): Seq[String] =
    new java.io.File(s"$path/manifest").listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") && n.endsWith(".crc")).sorted.toSeq

  test("DedupIndex snapshot/versions/rollback/expire run no Spark job") {
    val sp = spark
    import sp.implicits._
    val docs = Tables(spark, sf0001, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_snapjobs_dd").toString
    try {
      DedupIndex.save(spark, DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.saveForest(spark, Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl"), path, gen = 1)
      assert(jobsDuring {
        DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      } == 0)
      DedupIndex.append(spark, DedupIndex.index(docs.filter(col("doc_id") % 4 === 1)), path)
      var vs = Seq.empty[Int]
      assert(jobsDuring {
        DedupIndex.snapshot(spark, path, 2)
        DedupIndex.snapshot(spark, path, 3)
        DedupIndex.snapshot(spark, path, 3) // a re-snapshot replaces v3
        vs = DedupIndex.versions(spark, path)
        DedupIndex.rollback(spark, path, 2)
        DedupIndex.expire(spark, path, keepLast = 1)
      } == 0)
      assert(vs == Seq(1, 2, 3))
      assert(DedupIndex.versions(spark, path) == Seq(2))
      assert(manifestNames(path) == Seq("v00002.tsv"))
      // the forest gen was carried into v2 and still serves
      assert(DedupIndex.loadForestAt(spark, path, 2).count() == 2)
    } finally rmrf(path)
  }

  test("AnnIndex snapshot/versions/rollback/expire run no Spark job") {
    val vecs = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val half = vecs.count() / 2
    val path = java.nio.file.Files.createTempDirectory("graft_snapjobs_ann").toString
    try {
      val built = AnnIndex.build(vecs.filter(col("vec_id") < half))
      AnnIndex.save(spark, built, path)
      assert(jobsDuring(AnnIndex.snapshot(spark, path, 1)) == 0)
      AnnIndex.append(spark, built, vecs.filter(col("vec_id") >= half), path)
      var vs = Seq.empty[Int]
      assert(jobsDuring {
        AnnIndex.snapshot(spark, path, 2)
        vs = AnnIndex.versions(spark, path)
        AnnIndex.rollback(spark, path, 1)
        AnnIndex.snapshot(spark, path, 2)
        AnnIndex.expire(spark, path, keepLast = 1)
      } == 0)
      assert(vs == Seq(1, 2))
      assert(AnnIndex.versions(spark, path) == Seq(2))
      assert(manifestNames(path) == Seq("v00002.tsv"))
      assert(AnnIndex.load(spark, path).codes.count() == half)
    } finally rmrf(path)
  }

  test("DedupIndex load/loadAt/loadForestAt build their DataFrames without a Spark job") {
    val sp = spark
    import sp.implicits._
    val docs = Tables(spark, sf0001, "documents")
    val path = java.nio.file.Files.createTempDirectory("graft_snapjobs_ddr").toString
    try {
      DedupIndex.save(spark, DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.saveForest(spark, Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl"), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      DedupIndex.append(spark, DedupIndex.index(docs.filter(col("doc_id") % 4 === 1)), path)
      DedupIndex.delete(spark, Seq(2L, 4L).toDF("doc_id"), path)
      DedupIndex.snapshot(spark, path, 2)
      var built = Seq.empty[org.apache.spark.sql.DataFrame]
      assert(jobsDuring {
        built = Seq(DedupIndex.load(spark, path), DedupIndex.loadAt(spark, path, 1),
          DedupIndex.loadAt(spark, path, 2), DedupIndex.loadForestAt(spark, path, 2))
      } == 0)
      val n = docs.filter(col("doc_id") % 2 === 0 || col("doc_id") % 4 === 1).count()
      assert(built.map(_.count()) == Seq(n - 2, n - docs.filter(col("doc_id") % 4 === 1).count(), n - 2, 2))
    } finally rmrf(path)
  }

  test("AnnIndex load/loadAt build their Index without a Spark job") {
    val sp = spark
    import sp.implicits._
    val vecs = Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val half = vecs.count() / 2
    val path = java.nio.file.Files.createTempDirectory("graft_snapjobs_annr").toString
    try {
      val built = AnnIndex.build(vecs.filter(col("vec_id") < half))
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      AnnIndex.append(spark, built, vecs.filter(col("vec_id") >= half), path)
      AnnIndex.delete(spark, Seq(0L, 1L).toDF("vec_id"), path)
      var loaded = Seq.empty[AnnIndex.Index]
      assert(jobsDuring {
        loaded = Seq(AnnIndex.load(spark, path), AnnIndex.loadAt(spark, path, 1))
      } == 0)
      assert(loaded.map(_.codes.count()) == Seq(vecs.count() - 2, half))
      loaded.foreach(l => built.coarse.zip(l.coarse).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b))
      })
    } finally rmrf(path)
  }
}
