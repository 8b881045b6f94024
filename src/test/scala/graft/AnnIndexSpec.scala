package graft

import graft.core.Cols._
import graft.core.Tables
import graft.llm.AnnIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the persisted IVF-PQ index beyond b7's oracle gate:
  * artifact fidelity (save→load is bit-exact) and path equivalence
  * (the search over loaded artifacts is row-identical to x33's
  * never-persisted in-plan search).
  */
class AnnIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def vecs = Tables(spark, sf0001, "embeddings")
    .select(col("vec_id"), vecD(col("embedding")).as("v"))

  test("save/load round-trips every codebook bit-exactly") {
    val built = AnnIndex.build(vecs)
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_spec").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      assert(loaded.coarse.length == built.coarse.length)
      built.coarse.zip(loaded.coarse).foreach { case (b, l) =>
        assert(java.util.Arrays.equals(b, l))
      }
      assert(loaded.pq.length == AnnIndex.M)
      built.pq.zip(loaded.pq).foreach { case (bs, ls) =>
        bs.zip(ls).foreach { case (b, l) => assert(java.util.Arrays.equals(b, l)) }
      }
      // coded corpus survives intact: same rows, same codes
      val a = built.codes.orderBy("vec_id").collect()
      val b = loaded.codes.orderBy("vec_id").collect()
      assert(a.length == b.length && a.length > 0)
      a.zip(b).foreach { case (x, y) =>
        assert(x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1))
        assert(x.getSeq[Long](2) == y.getSeq[Long](2))
      }
    } finally {
      val root = java.nio.file.Paths.get(path)
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("append codes new vectors identically to a from-scratch encode") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_app").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      val merged = AnnIndex.load(spark, path).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      // contract: merged artifact == encoding the FULL corpus against
      // the half-trained codebooks in one shot
      val oneShot = AnnIndex.encode(all, built.coarse, built.pq)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(merged.length == oneShot.length && merged.length == all.count())
      merged.zip(oneShot).foreach { case (a, b) => assert(a == b) }
    } finally {
      val root = java.nio.file.Paths.get(path)
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  test("search from the loaded index is row-identical to x33's in-plan search") {
    val fromIndex = SparkEntry.queries("b7_ann_index_roundtrip")(spark, sf0001)
      .collect().map(_.toSeq)
    val inPlan = SparkEntry.queries("x33_ivf_pq_search")(spark, sf0001)
      .collect().map(_.toSeq)
    assert(fromIndex.length == inPlan.length && fromIndex.nonEmpty)
    fromIndex.zip(inPlan).foreach { case (a, b) => assert(a == b) }
  }

  test("compact: bin-packed file count, cell clustering, row-identical codes") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_cpa").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_annidx_cpb").toString
    def parquetFiles(p: String) = TestSpark.parquetFiles(s"$p/codes.parquet")
    def rm(p: String): Unit = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      val fragFiles = parquetFiles(path).length
      AnnIndex.compact(spark, path, path2)
      // layout contract: measured-bytes bin-packing (tiny codes at
      // spec scale → exactly 1 file), strictly fewer than the
      // fragmented layout's base+append file sets
      val bytes = parquetFiles(path).map(_.length).sum
      val target = math.max(1L, (bytes + (4L << 20) - 1) / (4L << 20)).toInt
      assert(parquetFiles(path2).length == target && target < fragFiles)
      // compaction is a pure layout change: same rows, same codes,
      // same codebooks
      val a = AnnIndex.load(spark, path).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val b = AnnIndex.load(spark, path2).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(a.length == b.length && a.length > 0)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      val l2 = AnnIndex.load(spark, path2)
      loaded.coarse.zip(l2.coarse).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x, y))
      }
      // the new root lands committed: the source had no history, so it
      // is version 0, and its pinned read is the current state
      assert(AnnIndex.versions(spark, path2) == Seq(0))
      val at0 = AnnIndex.loadAt(spark, path2, 0).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(at0.sameElements(b))
      // with source history, the new root continues its numbering
      AnnIndex.snapshot(spark, path, 4)
      val path3 = s"$path2-next"
      try {
        AnnIndex.compact(spark, path, path3)
        assert(AnnIndex.versions(spark, path3) == Seq(5))
        val at5 = AnnIndex.loadAt(spark, path3, 5).codes.orderBy("vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        assert(at5.sameElements(a))
      } finally graft.core.Fs.delete(spark, path3)
      // clustering contract: within every compacted file, rows are
      // sorted by (cell, vec_id) — the row-group locality a
      // cell-pruned search exploits
      parquetFiles(path2).foreach { f =>
        val rows = spark.read.parquet(f.getAbsolutePath)
          .select("cell", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(rows.sameElements(rows.sorted))
      }
    } finally { rm(path); rm(path2) }
  }

  private def rmDir(p: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(q => java.nio.file.Files.deleteIfExists(q))
    finally s.close()
  }

  test("in-place compaction keeps every tag servable; expire reclaims the fragments") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_cip").toString
    def codes(i: AnnIndex.Index) = i.codes.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      AnnIndex.append(spark, built, all.filter(col("vec_id") >= half), path)
      AnnIndex.delete(spark, all.filter(col("vec_id") % 10 === 3), path)
      AnnIndex.snapshot(spark, path, 2)
      val at1 = codes(AnnIndex.loadAt(spark, path, 1))
      val live = codes(AnnIndex.load(spark, path))
      val head = graft.core.Snapshots.current(spark, path)
      val fragments = graft.core.Snapshots.units(head, "codes") ++
        graft.core.Snapshots.units(head, "tombstones")
      AnnIndex.compact(spark, path, path)
      assert(AnnIndex.versions(spark, path) == Seq(1, 2, 3))
      assert(at1.nonEmpty && codes(AnnIndex.loadAt(spark, path, 1)) == at1)
      assert(codes(AnnIndex.load(spark, path)) == live)
      assert(graft.core.Snapshots.units(graft.core.Snapshots.current(spark, path), "codes").length == 1)
      // the codebooks stay one unit, shared by every tag
      assert(TestSpark.unitDirs(s"$path/centroids.parquet", "").length == 1)
      AnnIndex.expire(spark, path, keepLast = 1)
      assert(fragments.length == 3 &&
        fragments.forall(u => !graft.core.Fs.exists(spark, s"$path/$u")))
      assert(codes(AnnIndex.load(spark, path)) == live)
      assert(codes(AnnIndex.loadAt(spark, path, 3)) == live)
    } finally rmDir(path)
  }

  test("rollback across an in-place compaction restores the pinned version") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_cir").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      assert(AnnIndex.appendIdempotent(spark, built, all.filter(col("vec_id") >= half), path, 6L))
      AnnIndex.snapshot(spark, path, 2)
      AnnIndex.compact(spark, path, path)
      AnnIndex.rollback(spark, path, 1)
      assert(AnnIndex.versions(spark, path) == Seq(1))
      assert(AnnIndex.load(spark, path).codes.count() == half)
      assert(TestSpark.unitDirs(s"$path/codes.parquet", "").length == 1)
      // epoch 6 was rolled away with its data, so it re-applies
      assert(AnnIndex.appendIdempotent(spark, built, all.filter(col("vec_id") >= half), path, 6L))
      assert(AnnIndex.load(spark, path).codes.count() == all.count())
    } finally rmDir(path)
  }

  test("delete: masked load == physical compaction; tombstoned rows are gone") {
    val all = vecs
    val built = AnnIndex.build(all)
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_del").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_annidx_dlc").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.delete(spark, all.filter(col("vec_id") % 10 === 3), path)
      // masked view: the tombstone anti-join serves the surviving set
      // immediately, no rewrite
      val masked = AnnIndex.load(spark, path).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(masked.nonEmpty && masked.forall(_._1 % 10 != 3))
      assert(masked.length == all.filter(col("vec_id") % 10 =!= 3).count())
      // compaction makes the delete physical: identical surviving rows,
      // and the raw (unmasked) compacted artifact holds nothing else
      AnnIndex.compact(spark, path, path2)
      val compacted = AnnIndex.load(spark, path2).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(masked.sameElements(compacted))
      val raw = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$path2/codes.parquet").select("vec_id").collect().map(_.getLong(0))
      assert(raw.length == masked.length && raw.forall(_ % 10 != 3))
      // the new generation starts tombstone-free
      assert(!graft.core.Fs.exists(spark, s"$path2/tombstones.parquet"))
    } finally { rmDir(path); rmDir(path2) }
  }

  test("appendIdempotent: a replayed epoch id is skipped, no double-coding") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_idp").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      val batch = all.filter(col("vec_id") >= half)
      assert(AnnIndex.appendIdempotent(spark, loaded, batch, path, 7L))
      val once = AnnIndex.load(spark, path).codes.count()
      // replay of the SAME epoch id: skipped outright
      assert(!AnnIndex.appendIdempotent(spark, loaded, batch, path, 7L))
      assert(AnnIndex.load(spark, path).codes.count() == once)
      assert(once == all.count())
      // a NEW epoch id still applies (the ledger is per-epoch, not a latch)
      assert(AnnIndex.appendIdempotent(spark, loaded,
        batch.limit(0), path, 8L))
    } finally { rmDir(path) }
  }

  test("snapshot/loadAt: pinned versions see exactly their commit-time state") {
    val all = vecs
    val n = all.count()
    val half = n / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_tt").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      AnnIndex.snapshot(spark, path, 2)
      AnnIndex.delete(spark, all.filter(col("vec_id") % 10 === 3), path)
      AnnIndex.snapshot(spark, path, 3)
      assert(AnnIndex.versions(spark, path) == Seq(1, 2, 3))
      // v1: the half-corpus build — later appends invisible
      val v1 = AnnIndex.loadAt(spark, path, 1).codes
        .select("vec_id").collect().map(_.getLong(0))
      assert(v1.length == half && v1.forall(_ < half))
      // v2: post-append, PRE-delete — later tombstones must not mask
      val v2 = AnnIndex.loadAt(spark, path, 2).codes
        .select("vec_id").collect().map(_.getLong(0)).sorted
      assert(v2.length == n && v2.exists(_ % 10 == 3))
      // v3 == the current (masked) directory read, row for row
      val v3 = AnnIndex.loadAt(spark, path, 3).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val cur = AnnIndex.load(spark, path).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(v3.nonEmpty && v3.sameElements(cur) && v3.forall(_._1 % 10 != 3))
      // pinned codebooks are the saved ones, bit for bit
      val at = AnnIndex.loadAt(spark, path, 2)
      built.coarse.zip(at.coarse).foreach { case (b, l) =>
        assert(java.util.Arrays.equals(b, l))
      }
    } finally { rmDir(path) }
  }

  test("a batch committed by commitBatch carries its ledger line: replay skipped") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_cw").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      val batch = all.filter(col("vec_id") >= half)
      // the bare data commit: the batch's unit and its ledger line land
      // in the same log commit
      AnnIndex.commitBatch(spark, loaded, batch, path, 3L)
      assert(graft.core.Snapshots.current(spark, path).contains(("applied", "batch-3")))
      val once = AnnIndex.load(spark, path).codes.count()
      assert(once == all.count())
      // engine replays epoch 3: skipped off the head's ledger
      assert(!AnnIndex.appendIdempotent(spark, loaded, batch, path, 3L))
      assert(AnnIndex.load(spark, path).codes.count() == once)
    } finally rmDir(path)
  }

  test("compact carries the applied-epoch ledger into the new generation") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_lg").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_annidx_lg2").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      val batch = all.filter(col("vec_id") >= half)
      assert(AnnIndex.appendIdempotent(spark, loaded, batch, path, 5L))
      AnnIndex.compact(spark, path, path2)
      // the new generation remembers epoch 5 although its batch unit is
      // rewritten away — a checkpoint-replayed epoch must not re-append
      val n = AnnIndex.load(spark, path2).codes.count()
      assert(!AnnIndex.appendIdempotent(spark, loaded, batch, path2, 5L))
      assert(AnnIndex.load(spark, path2).codes.count() == n)
    } finally { rmDir(path); rmDir(path2) }
  }

  test("manifests are root-relative; a relocated artifact serves pinned history") {
    val all = vecs
    val n = all.count()
    val half = n / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val root = java.nio.file.Files.createTempDirectory("graft_annidx_mv").toString
    val path = s"$root/gen0"
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      AnnIndex.snapshot(spark, path, 2)
      // stored paths are artifact-root-relative, never absolute URIs
      val stored = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$path/manifest/v00002.tsv"))
        .toArray(new Array[String](0)).map(_.split("\t", 2)(1))
      assert(stored.nonEmpty)
      assert(stored.forall(f => !f.startsWith("/") && !f.contains(":/")))
      val before = AnnIndex.loadAt(spark, path, 2).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      // relocate the WHOLE artifact directory (pointer-swap move) —
      // the old path is gone, so an absolute manifest would fail here
      val moved = s"$root/gen1"
      graft.core.Fs.rename(spark, path, moved)
      assert(!graft.core.Fs.exists(spark, path))
      val after = AnnIndex.loadAt(spark, moved, 2).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(after.length == n && before.sameElements(after))
    } finally rmDir(root)
  }

  test("versions(): stray names ignored, in-flight snapshots not listed") {
    val built = AnnIndex.build(vecs)
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_vr").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      AnnIndex.snapshot(spark, path, 2)
      // stray names must not throw (old code: toInt NFE) nor count: a
      // non-numeric version, a near-miss suffix, a pattern-named
      // DIRECTORY, and an unrelated file
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$path/manifest/vNOTES.tsv"))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$path/manifest/v00003.tsv.bak"))
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$path/manifest/v00004.tsv"))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$path/manifest/README.txt"))
      // an in-flight snapshot is a staged manifest file, not yet renamed
      // into manifest/: not committed, and reclaimed by rollback
      val staged = s"$path/_staging/manifest-v00009-inflight"
      graft.core.Fs.writeLines(spark, staged, Seq("codes\tcodes.parquet/x.parquet"))
      assert(AnnIndex.versions(spark, path) == Seq(1, 2))
      AnnIndex.rollback(spark, path, 2)
      assert(!graft.core.Fs.exists(spark, staged))
      assert(AnnIndex.versions(spark, path) == Seq(1, 2))
    } finally rmDir(path)
  }

  test("cell-partitioned generation: layout change only, search-identical") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_cp1").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_annidx_cp2").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      AnnIndex.compactPartitioned(spark, path, path2)
      assert(AnnIndex.versions(spark, path2) == Seq(0))
      // physical layout: one cell=N directory per occupied coarse cell,
      // inside the one `cells-` unit
      val Seq(unit) = TestSpark.unitDirs(s"$path2/codes.parquet", "cells-")
      val dirs = TestSpark.unitDirs(s"$path2/codes.parquet/$unit", "cell=")
      val occupied = AnnIndex.load(spark, path).codes
        .select("cell").distinct().count()
      assert(dirs.length == occupied)
      // loadPartitioned restores the standard (vec_id, cell: long, codes)
      // shape, row for row
      val part = AnnIndex.loadPartitioned(spark, path2)
      assert(part.codes.columns.toSeq == Seq("vec_id", "cell", "codes"))
      assert(part.codes.schema("cell").dataType ==
        org.apache.spark.sql.types.LongType)
      val a = AnnIndex.load(spark, path).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val b = part.codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(a.length == b.length && a.nonEmpty)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      // and the search is bit-identical across layouts
      val s1 = AnnIndex.searchTop5(AnnIndex.load(spark, path), all, 20)
        .collect().map(_.toSeq)
      val s2 = AnnIndex.searchTop5(part, all, 20).collect().map(_.toSeq)
      assert(s1.length == s2.length && s1.nonEmpty)
      s1.zip(s2).foreach { case (x, y) => assert(x == y) }
    } finally { rmDir(path); rmDir(path2) }
  }

  test("rollback physically restores a pinned version as the current state") {
    val all = vecs
    val n = all.count()
    val half = n / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_rb").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      val loaded = AnnIndex.load(spark, path)
      // v2 arrives as a STREAM-STYLE committed batch dir with its marker
      assert(AnnIndex.appendIdempotent(spark, loaded,
        all.filter(col("vec_id") >= half), path, 11L))
      AnnIndex.snapshot(spark, path, 2)
      val v2 = AnnIndex.loadAt(spark, path, 2).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      // the incident: a junk batch (flat append), an over-broad delete,
      // a staged-but-never-committed batch — all post-v2
      AnnIndex.append(spark, loaded,
        all.withColumn("vec_id", col("vec_id") + lit(1048576L)), path)
      AnnIndex.delete(spark, all.filter(col("vec_id") % 10 === 3), path)
      AnnIndex.snapshot(spark, path, 3)
      new java.io.File(s"$path/_staging/batch-99").mkdirs()
      AnnIndex.rollback(spark, path, 2)
      // the directory state IS v2 again, row for row
      val cur = AnnIndex.load(spark, path).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(cur.length == n && cur.sameElements(v2))
      // physical assertions: junk ids gone from the raw artifact,
      // tombstone artifact gone, v3 manifest gone, staging reclaimed,
      // the v2 batch unit and its ledger line retained
      val raw = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$path/codes.parquet").select("vec_id").collect()
        .map(_.getLong(0))
      assert(raw.length == n && raw.forall(_ < 1048576L))
      assert(!graft.core.Fs.exists(spark, s"$path/tombstones.parquet"))
      assert(AnnIndex.versions(spark, path) == Seq(1, 2))
      assert(!graft.core.Fs.exists(spark, s"$path/_staging"))
      assert(TestSpark.unitDirs(s"$path/codes.parquet", "batch-11-").length == 1)
      assert(!AnnIndex.appendIdempotent(spark, loaded,
        all.filter(col("vec_id") >= half), path, 11L))
    } finally rmDir(path)
  }

  test("rollback past a committed batch dir removes it AND its epoch marker") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_rb2").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      val loaded = AnnIndex.load(spark, path)
      val batch = all.filter(col("vec_id") >= half)
      // the bad batch arrives as a committed epoch AFTER v1
      assert(AnnIndex.appendIdempotent(spark, loaded, batch, path, 4L))
      AnnIndex.rollback(spark, path, 1)
      assert(TestSpark.unitDirs(s"$path/codes.parquet", "batch-4-").isEmpty)
      assert(!graft.core.Snapshots.current(spark, path).contains(("applied", "batch-4")))
      assert(AnnIndex.load(spark, path).codes.count() == half)
      // the epoch can legitimately RE-APPLY: its data was rolled away
      assert(AnnIndex.appendIdempotent(spark, loaded, batch, path, 4L))
      assert(AnnIndex.load(spark, path).codes.count() == all.count())
    } finally rmDir(path)
  }

  test("Fs.layoutBytes fails loudly on a missing layout") {
    val ex = intercept[IllegalArgumentException] {
      graft.core.Fs.layoutBytes(spark, "/tmp/graft_no_such_layout_dir")
    }
    assert(ex.getMessage.contains("does not exist"))
  }

  test("Fs.rename refuses an existing destination; loser's staging reclaimed") {
    val root = java.nio.file.Files.createTempDirectory("graft_fs_rn").toString
    try {
      // the winner's committed batch
      val dst = s"$root/codes.parquet/batch-3"
      new java.io.File(dst).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dst/winner.parquet"), "w")
      // the loser's staged copy of the SAME batch
      val src = s"$root/_staging/batch-3-attempt2"
      new java.io.File(src).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$src/loser.parquet"), "l")
      graft.core.Fs.rename(spark, src, dst)
      // ADVICE r10: FileSystem.rename onto an existing directory would
      // NEST the source (batch-3/batch-3-attempt2) and recursive readers
      // would double-count the batch. The refuse-existing rename must
      // leave the destination untouched and reclaim the staged source.
      val names = new java.io.File(dst).listFiles().map(_.getName).toSet
      assert(names == Set("winner.parquet"))
      assert(!graft.core.Fs.exists(spark, src))
      // a genuine (no-destination) rename still moves
      val src2 = s"$root/_staging/batch-4-attempt1"
      new java.io.File(src2).mkdirs()
      graft.core.Fs.rename(spark, src2, s"$root/codes.parquet/batch-4")
      assert(graft.core.Fs.exists(spark, s"$root/codes.parquet/batch-4"))
      assert(!graft.core.Fs.exists(spark, src2))
    } finally rmDir(root)
  }

  test("loadAt serves a pinned snapshot of a cell-partitioned generation") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_pp1").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_annidx_pp2").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      AnnIndex.compactPartitioned(spark, path, path2)
      AnnIndex.snapshot(spark, path2, 1)
      // ADVICE r10: the manifest's explicit file list loses the
      // directory-encoded cell column unless loadAt re-anchors partition
      // discovery at the artifact's basePath; a pinned read of a
      // partitioned generation used to fail on the missing column.
      val at = AnnIndex.loadAt(spark, path2, 1)
      assert(at.codes.columns.toSeq == Seq("vec_id", "cell", "codes"))
      assert(at.codes.schema("cell").dataType ==
        org.apache.spark.sql.types.LongType)
      val a = AnnIndex.loadPartitioned(spark, path2).codes
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val b = at.codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(a.length == b.length && a.nonEmpty)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      val s1 = AnnIndex.searchTop5(at, all, 20).collect().map(_.toSeq)
      val s2 = AnnIndex.searchTop5(AnnIndex.loadPartitioned(spark, path2), all, 20)
        .collect().map(_.toSeq)
      assert(s1.length == s2.length && s1.nonEmpty)
      s1.zip(s2).foreach { case (x, y) => assert(x == y) }
    } finally { rmDir(path); rmDir(path2) }
  }

  test("rollback restores FLAT-append epoch markers from the recorded ledger") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_rb3").toString
    try {
      AnnIndex.save(spark, built, path)
      // epoch 21 applied, snapshotted as v1
      val loaded = AnnIndex.load(spark, path)
      val even = all.filter(col("vec_id") >= half && col("vec_id") % 2 === 0)
      val odd = all.filter(col("vec_id") >= half && col("vec_id") % 2 === 1)
      assert(AnnIndex.appendIdempotent(spark, loaded, even, path, 21L))
      AnnIndex.snapshot(spark, path, 1)
      val v1 = AnnIndex.loadAt(spark, path, 1).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      // a second epoch, snapshotted as v2
      assert(AnnIndex.appendIdempotent(spark, loaded, odd, path, 22L))
      AnnIndex.snapshot(spark, path, 2)
      AnnIndex.rollback(spark, path, 1)
      // ADVICE r10: the ledger is restored to its v1 state with the data
      // — a restarted stream re-applies the deliberately removed epoch
      // 22 and still skips epoch 21
      val ledger = graft.core.Snapshots.current(spark, path).filter(_._1 == "applied")
      assert(ledger == Seq(("applied", "batch-21")))
      val cur = AnnIndex.load(spark, path).codes.orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(cur.nonEmpty && cur.sameElements(v1))
      assert(!AnnIndex.appendIdempotent(spark, loaded, even, path, 21L))
      assert(AnnIndex.appendIdempotent(spark, loaded, odd, path, 22L))
      assert(AnnIndex.load(spark, path).codes.count() == all.count())
    } finally rmDir(path)
  }

  test("expire drops old manifests, keeps every retained-referenced file") {
    val all = vecs
    val n = all.count()
    val half = n / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_exp").toString
    try {
      AnnIndex.save(spark, built, path)
      AnnIndex.snapshot(spark, path, 1)
      val loaded = AnnIndex.load(spark, path)
      AnnIndex.append(spark, loaded, all.filter(col("vec_id") >= half), path)
      AnnIndex.snapshot(spark, path, 2)
      AnnIndex.delete(spark, all.filter(col("vec_id") % 10 === 3), path)
      AnnIndex.snapshot(spark, path, 3)
      val preV2 = AnnIndex.loadAt(spark, path, 2).codes.orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val preCur = AnnIndex.load(spark, path).codes.orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      val preFiles = TestSpark.parquetFiles(s"$path/codes.parquet")
      AnnIndex.expire(spark, path, keepLast = 2)
      // v1 is forgotten; v2/v3 remain
      assert(AnnIndex.versions(spark, path) == Seq(2, 3))
      assert(!graft.core.Fs.exists(spark, s"$path/manifest/v00001.tsv"))
      assert(graft.core.Fs.exists(spark, s"$path/manifest/v00002.tsv"))
      intercept[Exception] { AnnIndex.loadAt(spark, path, 1).codes.count() }
      // append-only history: v1's units are all in v2/v3's supersets, so
      // NO data file may be reclaimed — retained pinned reads and the
      // current masked state are bit-identical to before
      assert(TestSpark.parquetFiles(s"$path/codes.parquet") == preFiles)
      val postV2 = AnnIndex.loadAt(spark, path, 2).codes.orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(postV2.length == n && postV2.sameElements(preV2))
      val postCur = AnnIndex.load(spark, path).codes.orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      assert(postCur.sameElements(preCur))
      // keeping at least the full history is a no-op
      AnnIndex.expire(spark, path, keepLast = 5)
      assert(AnnIndex.versions(spark, path) == Seq(2, 3))
    } finally rmDir(path)
  }

  test("expire reclaims files exclusive to expired versions (subtraction fires)") {
    val all = vecs
    val half = all.count() / 2
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_exf").toString
    try {
      // v1: an index with a streamed batch; v2: a rebuild saved over it,
      // which shares no unit with v1
      val built = AnnIndex.build(all.filter(col("vec_id") < half))
      AnnIndex.save(spark, built, path)
      assert(AnnIndex.appendIdempotent(spark, built, all.filter(col("vec_id") >= half), path, 1L))
      AnnIndex.snapshot(spark, path, 1)
      val v1Units = graft.core.Snapshots.entries(spark, path, 1).filter(_._1 != "applied").map(_._2)
      AnnIndex.save(spark, AnnIndex.build(all), path)
      AnnIndex.snapshot(spark, path, 2)
      val v2 = AnnIndex.loadAt(spark, path, 2).codes.select("vec_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      AnnIndex.expire(spark, path, keepLast = 1)
      // v1's units are referenced only by the expired v1: reclaimed; the
      // retained v2 (the head) still serves
      assert(v1Units.length == 3 && v1Units.forall(u => !graft.core.Fs.exists(spark, s"$path/$u")))
      assert(AnnIndex.versions(spark, path) == Seq(2))
      assert(AnnIndex.load(spark, path).codes.select("vec_id").collect()
        .map(_.getLong(0)).sorted.toSeq == v2)
      assert(v2.length == all.count())
    } finally rmDir(path)
  }

  test("two committers racing one epoch id apply it exactly once") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val path = java.nio.file.Files.createTempDirectory("graft_annidx_race").toString
    try {
      AnnIndex.save(spark, built, path)
      val loaded = AnnIndex.load(spark, path)
      val batch = all.filter(col("vec_id") >= half)
      // a zombie executor and its replacement: both stage their own unit
      // and race the log commit; Fs.rename's refuse-existing-destination
      // arbitration makes the loser re-read the head, find the batch in
      // its ledger and delete its unit — exactly ONE committed copy.
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 2).map { _ =>
        new Thread(() => {
          try {
            barrier.await()
            AnnIndex.appendIdempotent(spark, loaded, batch, path, 42L)
            ()
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(300000))
      assert(errs.isEmpty, s"racing committer failed: ${errs.peek()}")
      // single application: one batch unit, no nested directory
      val units = TestSpark.unitDirs(s"$path/codes.parquet", "batch-42-")
      assert(units.length == 1 && new java.io.File(s"$path/codes.parquet/${units.head}")
        .listFiles().forall(!_.isDirectory))
      assert(AnnIndex.load(spark, path).codes.count() == all.count())
      // the replayed epoch stays skipped after the race
      assert(!AnnIndex.appendIdempotent(spark, loaded, batch, path, 42L))
      assert(AnnIndex.load(spark, path).codes.count() == all.count())
    } finally rmDir(path)
  }

  test("mergeShards: refusals, tombstones applied per shard, merged == single-pipeline") {
    val all = vecs
    val half = all.count() / 2
    val built = AnnIndex.build(all.filter(col("vec_id") < half))
    val pa = java.nio.file.Files.createTempDirectory("graft_merge_a").toString
    val pb = java.nio.file.Files.createTempDirectory("graft_merge_b").toString
    val pm = java.nio.file.Files.createTempDirectory("graft_merge_m").toString
    val pSingle = java.nio.file.Files.createTempDirectory("graft_merge_s").toString
    try {
      AnnIndex.save(spark, built.copy(codes = AnnIndex.encode(
        all.filter(col("vec_id") % 2 === 0), built.coarse, built.pq)), pa)
      AnnIndex.save(spark, built.copy(codes = AnnIndex.encode(
        all.filter(col("vec_id") % 2 === 1), built.coarse, built.pq)), pb)
      // refusal 1: different codebooks (trained on a different slice)
      val other = AnnIndex.build(all.filter(col("vec_id") >= half))
      val pOther = java.nio.file.Files.createTempDirectory("graft_merge_o").toString
      try {
        AnnIndex.save(spark, other, pOther)
        intercept[IllegalArgumentException] {
          AnnIndex.mergeShards(spark, pa, pOther, pm)
        }
      } finally rmDir(pOther)
      // refusal 2: overlapping vec_id spaces (a shard merged with itself)
      intercept[IllegalArgumentException] {
        AnnIndex.mergeShards(spark, pa, pa, pm)
      }
      // refusal 3: destination is a source / already holds artifact files
      intercept[IllegalArgumentException] {
        AnnIndex.mergeShards(spark, pa, pb, pa)
      }
      // refusal 3b: an ALIASED spelling of a source (trailing slash,
      // doubled separator) is still the source — the identity guard
      // compares canonical paths, not strings (ADVICE r11)
      intercept[IllegalArgumentException] {
        AnnIndex.mergeShards(spark, pa, pb, pa + "/")
      }
      intercept[IllegalArgumentException] {
        AnnIndex.mergeShards(spark, pa, pb, pb.replaceFirst("/graft_", "//graft_"))
      }
      // ... and a `dir/../dir` spelling (ADVICE r12: Hadoop Path leaves
      // dot-dot segments intact; Fs.qualified now URI-normalizes them)
      val paDotDot = {
        val p = java.nio.file.Paths.get(pa)
        s"${p.getParent}/${p.getFileName}/../${p.getFileName}"
      }
      intercept[IllegalArgumentException] {
        AnnIndex.mergeShards(spark, pa, pb, paDotDot)
      }
      // refusal 3c: a reused destination carrying only a stale log head
      // or manifest (no codes/tombstones) is NOT fresh — a leftover
      // ledger line batch-N would make a later appendIdempotent silently
      // skip epoch N, and a stale manifest/ poisons loadAt (ADVICE r11)
      val pStale = java.nio.file.Files.createTempDirectory("graft_merge_stale").toString
      try {
        graft.core.Fs.writeLines(spark, s"$pStale/_log/0.tsv", Seq("applied\tbatch-7"))
        intercept[IllegalArgumentException] {
          AnnIndex.mergeShards(spark, pa, pb, pStale)
        }
        graft.core.Fs.delete(spark, s"$pStale/_log")
        graft.core.Fs.writeLines(spark, s"$pStale/manifest/v00001.tsv", Nil)
        intercept[IllegalArgumentException] {
          AnnIndex.mergeShards(spark, pa, pb, pStale)
        }
      } finally rmDir(pStale)
      // takedown broadcast to both shards; rows live only in the odd one
      val takedown = all.filter(col("vec_id") % 10 === 3).select("vec_id")
      AnnIndex.delete(spark, takedown, pa)
      AnnIndex.delete(spark, takedown, pb)
      AnnIndex.mergeShards(spark, pa, pb, pm)
      // merged generation is tombstone-free and physically excludes them
      assert(!graft.core.Fs.exists(spark, s"$pm/tombstones.parquet"))
      val mergedIds = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$pm/codes.parquet").select("vec_id").collect().map(_.getLong(0)).toSet
      val wantIds = all.filter(col("vec_id") % 10 =!= 3)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(mergedIds == wantIds)
      // the merged root lands committed as version 0, serving the merge
      assert(AnnIndex.versions(spark, pm) == Seq(0))
      assert(AnnIndex.loadAt(spark, pm, 0).codes.select("vec_id").collect()
        .map(_.getLong(0)).toSet == wantIds)
      // sharding-independence: the merged search equals the
      // single-pipeline artifact's (same codebooks, same survivors)
      AnnIndex.save(spark, built.copy(codes = AnnIndex.encode(
        all, built.coarse, built.pq)), pSingle)
      AnnIndex.delete(spark, takedown, pSingle)
      val q = all.filter(col("vec_id") % 10 =!= 3)
      val got = AnnIndex.searchTop5(AnnIndex.load(spark, pm), q, 20)
        .collect().map(_.toString).sorted.toSeq
      val want = AnnIndex.searchTop5(AnnIndex.load(spark, pSingle), q, 20)
        .collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == want)
    } finally { rmDir(pa); rmDir(pb); rmDir(pm); rmDir(pSingle) }
  }
}
