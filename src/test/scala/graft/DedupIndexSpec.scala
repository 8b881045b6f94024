package graft

import graft.core.Tables
import graft.llm.DedupIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the persisted dedup index beyond the b13/b14 oracle
  * gates: artifact fidelity (save→load preserves every row and lane),
  * append equivalence (grown artifact == one-shot artifact), and path
  * equivalence (dedup against the loaded artifact == x24's in-plan
  * computation, row for row).
  */
class DedupIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables(spark, sf0001, "documents")

  /** Concatenated message chain — the ingest-contract guards throw
    * from inside a Spark job (in-plan assert_true, round 14), so the
    * contract message sits on a cause, not the top-level exception. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  private def rmrf(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally s.close()
  }

  test("save/load round-trips every index row bit-exactly") {
    val rows = DedupIndex.index(docs)
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_spec").toString
    try {
      DedupIndex.save(spark, rows, path)
      val a = rows.orderBy("doc_id").collect()
      val b = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      assert(a.length == b.length && a.length > 0)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      // schema contract: doc_id, h, then the 16 lanes in order
      assert(DedupIndex.load(spark, path).columns.toSeq ==
        "doc_id" +: "h" +: (0 until 16).map(i => s"mh$i"))
    } finally rmrf(path)
  }

  test("append-grown artifact equals the one-shot artifact") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_app").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 1)), path)
      val grown = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      val oneShot = DedupIndex.index(docs).orderBy("doc_id").collect()
      assert(grown.length == oneShot.length && grown.length > 0)
      grown.zip(oneShot).foreach { case (x, y) => assert(x == y) }
    } finally rmrf(path)
  }

  test("compact: bin-packed file count, doc_id ordering, row-identical index") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_cpa").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_dedupidx_cpb").toString
    def parquetFiles(p: String) = TestSpark.parquetFiles(s"$p/rows.parquet")
    try {
      // fragment: base write + three appended batches
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 0)), path)
      (1 to 3).foreach(i => DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === i)), path))
      val fragFiles = parquetFiles(path).length
      DedupIndex.compact(spark, path, path2)
      // layout contract: measured-bytes bin-packing (tiny artifact at
      // spec scale -> exactly 1 file), strictly fewer than base+appends
      val bytes = parquetFiles(path).map(_.length).sum
      val target = math.max(1L, (bytes + (4L << 20) - 1) / (4L << 20)).toInt
      assert(parquetFiles(path2).length == target && target < fragFiles)
      // pure layout change: same rows, same signatures
      val a = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      val b = DedupIndex.load(spark, path2).orderBy("doc_id").collect()
      assert(a.length == b.length && a.length > 0)
      a.zip(b).foreach { case (x, y) => assert(x == y) }
      // clustering contract: within every compacted file, rows sort by doc_id
      parquetFiles(path2).foreach { f =>
        val ids = spark.read.parquet(f.getAbsolutePath)
          .select("doc_id").collect().map(_.getLong(0))
        assert(ids.sameElements(ids.sorted))
      }
    } finally { rmrf(path); rmrf(path2) }
  }

  test("compaction lands a servable root: versions, loadAt, loadForestAt, maintainClusters") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_cph").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_dedupidx_cph2").toString
    try {
      // a history: base + forest gen 1 (v1), an idempotent batch + its
      // forest gen 2 (v2), a takedown snapshotted with the forest carried (v3)
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 3 === 0)), path)
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      assert(DedupIndex.appendIdempotent(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 3 === 1)), path, 4L))
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 2)
      DedupIndex.snapshot(spark, path, 2, forestGen = Some(2))
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), path)
      DedupIndex.snapshot(spark, path, 3)
      val latest = DedupIndex.versions(spark, path).last
      DedupIndex.compact(spark, path, path2)
      // the new root continues the source's numbering
      assert(DedupIndex.versions(spark, path2) == Seq(latest + 1))
      val v = DedupIndex.versions(spark, path2).last
      def sorted(df: DataFrame) = df.orderBy(df.columns.head).collect().toSeq
      val from = sorted(DedupIndex.load(spark, path))
      assert(from.nonEmpty && sorted(DedupIndex.loadAt(spark, path2, v)) == from)
      assert(sorted(DedupIndex.loadForestAt(spark, path2, v)) ==
        sorted(DedupIndex.loadForestAt(spark, path, latest)))
      val batch = docs.filter(col("doc_id") % 3 === 2)
      val want = sorted(DedupIndex.maintainClusters(spark, path, latest, batch))
      assert(want.nonEmpty &&
        sorted(DedupIndex.maintainClusters(spark, path2, v, batch)) == want)
      // the carried gen keeps its number and the carried ledger its epoch
      assert(graft.core.Fs.exists(spark, s"$path2/forest.parquet/gen-2"))
      val n = DedupIndex.load(spark, path2).count()
      assert(!DedupIndex.appendIdempotent(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 3 === 1)), path2, 4L))
      assert(DedupIndex.load(spark, path2).count() == n)
    } finally { rmrf(path); rmrf(path2); spark.catalog.clearCache() }
  }

  /** An artifact with history, for in-place compaction: v1 is the base
    * with forest gen 1; v2 adds an appended batch and a takedown. */
  private def twoVersions(path: String): Unit = {
    DedupIndex.save(spark, DedupIndex.index(docs.filter(col("doc_id") % 4 === 0)), path)
    DedupIndex.saveForest(spark,
      DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 1)
    DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
    DedupIndex.append(spark, DedupIndex.index(docs.filter(col("doc_id") % 4 === 1)), path)
    DedupIndex.delete(spark, docs.filter(col("doc_id") % 7 === 0).select("doc_id"), path)
    DedupIndex.snapshot(spark, path, 2)
  }

  private def sorted(df: DataFrame) = df.orderBy(df.columns.head).collect().toSeq

  test("in-place compaction keeps every tag servable, across rollback too") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_cip").toString
    try {
      twoVersions(path)
      val at1 = sorted(DedupIndex.loadAt(spark, path, 1))
      val live = sorted(DedupIndex.load(spark, path))
      val batch = docs.filter(col("doc_id") % 4 === 2)
      val maintained = sorted(DedupIndex.maintainClusters(spark, path, 2, batch))
      DedupIndex.compact(spark, path, path)
      // one packed rows unit serves the head, tagged as v3
      assert(DedupIndex.versions(spark, path) == Seq(1, 2, 3))
      val head = graft.core.Snapshots.current(spark, path)
      assert(graft.core.Snapshots.units(head, "rows").length == 1 &&
        graft.core.Snapshots.units(head, "tombstones").isEmpty)
      assert(at1.nonEmpty && sorted(DedupIndex.loadAt(spark, path, 1)) == at1)
      assert(sorted(DedupIndex.load(spark, path)) == live)
      assert(maintained.nonEmpty &&
        sorted(DedupIndex.maintainClusters(spark, path, 2, batch)) == maintained)
      // rollback across the compaction restores v1 and reclaims the rest
      DedupIndex.rollback(spark, path, 1)
      assert(DedupIndex.versions(spark, path) == Seq(1))
      assert(sorted(DedupIndex.load(spark, path)) == at1)
      assert(TestSpark.unitDirs(s"$path/rows.parquet", "").length == 1)
      assert(!graft.core.Fs.exists(spark, s"$path/tombstones.parquet"))
    } finally { rmrf(path); spark.catalog.clearCache() }
  }

  test("in-place compaction: expire(keepLast = 1) reclaims the fragment units") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_cix").toString
    try {
      twoVersions(path)
      val live = sorted(DedupIndex.load(spark, path))
      val head = graft.core.Snapshots.current(spark, path)
      val fragments = graft.core.Snapshots.units(head, "rows") ++
        graft.core.Snapshots.units(head, "tombstones")
      assert(fragments.length == 3)
      DedupIndex.compact(spark, path, path)
      assert(fragments.forall(u => graft.core.Fs.exists(spark, s"$path/$u")))
      DedupIndex.expire(spark, path, keepLast = 1)
      assert(DedupIndex.versions(spark, path) == Seq(3))
      assert(fragments.forall(u => !graft.core.Fs.exists(spark, s"$path/$u")))
      assert(sorted(DedupIndex.load(spark, path)) == live)
      assert(sorted(DedupIndex.loadAt(spark, path, 3)) == live)
      assert(DedupIndex.loadForestAt(spark, path, 3).count() ==
        docs.filter(col("doc_id") % 4 === 0).count())
    } finally rmrf(path)
  }

  test("a unit staged without its log commit is invisible; the replay applies the batch once") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_crash").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val base = DedupIndex.load(spark, path).count()
      val batch = DedupIndex.index(docs.filter(col("doc_id") % 2 === 1))
      // the crash: epoch 3's unit is written into the rows directory and
      // a second attempt's stage is half written; no log commit lands
      batch.write.parquet(s"$path/rows.parquet/batch-3-crashed")
      batch.limit(5).write.parquet(s"$path/_staging/batch-3-partial")
      assert(DedupIndex.load(spark, path).count() == base)
      // the replay applies the batch exactly once
      assert(DedupIndex.appendIdempotent(spark, batch, path, 3L))
      assert(!DedupIndex.appendIdempotent(spark, batch, path, 3L))
      val ids = DedupIndex.load(spark, path).select("doc_id").collect().map(_.getLong(0))
      assert(ids.length == docs.count() && ids.length == ids.distinct.length)
      // rollback reclaims the dead stage and the uncommitted unit
      DedupIndex.snapshot(spark, path, 1)
      DedupIndex.rollback(spark, path, 1)
      assert(!graft.core.Fs.exists(spark, s"$path/_staging"))
      assert(!graft.core.Fs.exists(spark, s"$path/rows.parquet/batch-3-crashed"))
      assert(DedupIndex.load(spark, path).count() == docs.count())
    } finally rmrf(path)
  }

  test("docs too short to shingle keep NULL lanes, never near-dup") {
    import spark.implicits._
    val tiny = Seq((1L, "en", "abc"), (2L, "en", "abc"),
      (3L, "en", "a much longer document body for shingling purposes"))
      .toDF("doc_id", "lang", "text")
    val rows = DedupIndex.index(tiny).orderBy("doc_id").collect()
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2) && !rows(2).isNullAt(2))
    // the two 3-char docs ARE exact dups of each other (same sha), but
    // can never surface as near-dups: no lanes, no band keys
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_tiny").toString
    try {
      DedupIndex.save(spark, DedupIndex.index(tiny.filter($"doc_id" === 1L)), path)
      val out = DedupIndex.dedupBatch(tiny.filter($"doc_id" =!= 1L),
        DedupIndex.load(spark, path)).collect()
      assert(out.length == 1)
      assert(out(0).getLong(1) == 2L)  // n_new
      assert(out(0).getLong(2) == 1L)  // n_exact_dup: doc 2 matches doc 1's sha
      assert(out(0).getLong(3) == 0L)  // n_neardup: no lanes on either side
    } finally rmrf(path)
  }

  test("appendIdempotent skips a re-delivered batch id") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_idem").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val batch = DedupIndex.index(docs.filter(col("doc_id") % 2 === 1))
      assert(DedupIndex.appendIdempotent(spark, batch, path, 7L))
      val n = DedupIndex.load(spark, path).count()
      // replayed delivery of the same epoch: marker skips, count holds
      assert(!DedupIndex.appendIdempotent(spark, batch, path, 7L))
      assert(DedupIndex.load(spark, path).count() == n)
      // a NEW epoch still applies
      assert(DedupIndex.appendIdempotent(spark, batch.limit(1), path, 8L))
      assert(DedupIndex.load(spark, path).count() == n + 1)
    } finally rmrf(path)
  }

  test("a batch committed by commitBatch carries its ledger line: replay skipped") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_cw").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val batch = DedupIndex.index(docs.filter(col("doc_id") % 2 === 1))
      // the bare data commit (s16's crash point): the batch's unit and
      // its ledger line land in the same log commit
      DedupIndex.commitBatch(spark, batch, path, 3L)
      assert(graft.core.Snapshots.current(spark, path).contains(("applied", "batch-3")))
      val once = DedupIndex.load(spark, path).count()
      assert(once == docs.count())
      // the replay is skipped off the head's ledger, and a second bare
      // commit of the same batch commits nothing and leaves no unit
      assert(!DedupIndex.appendIdempotent(spark, batch, path, 3L))
      DedupIndex.commitBatch(spark, batch, path, 3L)
      assert(DedupIndex.load(spark, path).count() == once)
      assert(TestSpark.unitDirs(s"$path/rows.parquet", "batch-3-").length == 1)
      // no doc_id became a multiset entry
      val ids = DedupIndex.load(spark, path).select("doc_id").collect()
        .map(_.getLong(0))
      assert(ids.length == ids.distinct.length)
    } finally rmrf(path)
  }

  test("compact carries the applied-epoch ledger into the new generation") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_lg").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_dedupidx_lg2").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val batch = DedupIndex.index(docs.filter(col("doc_id") % 2 === 1))
      assert(DedupIndex.appendIdempotent(spark, batch, path, 5L))
      DedupIndex.compact(spark, path, path2)
      // the generation rewrite dropped the batch unit, but the
      // carried ledger still refuses a checkpoint-replayed epoch 5
      val n = DedupIndex.load(spark, path2).count()
      assert(!DedupIndex.appendIdempotent(spark, batch, path2, 5L))
      assert(DedupIndex.load(spark, path2).count() == n)
    } finally { rmrf(path); rmrf(path2) }
  }

  test("delete: masked load == physical compaction; tombstoned rows are gone") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_del").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft_dedupidx_dlc").toString
    try {
      DedupIndex.save(spark, DedupIndex.index(docs), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 5 === 4).select("doc_id"), path)
      // masked view: the tombstone anti-join serves the surviving set
      // immediately, no rewrite
      val masked = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      assert(masked.nonEmpty && masked.forall(_.getLong(0) % 5 != 4))
      assert(masked.length == docs.filter(col("doc_id") % 5 =!= 4).count())
      // compaction makes the delete physical: identical surviving rows,
      // and the raw (unmasked) compacted artifact holds nothing else
      DedupIndex.compact(spark, path, path2)
      val compacted = DedupIndex.load(spark, path2).orderBy("doc_id").collect()
      assert(masked.length == compacted.length)
      masked.zip(compacted).foreach { case (a, b) => assert(a == b) }
      val raw = spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$path2/rows.parquet").select("doc_id").collect()
        .map(_.getLong(0))
      assert(raw.length == masked.length && raw.forall(_ % 5 != 4))
      // the new generation starts tombstone-free
      assert(!graft.core.Fs.exists(spark, s"$path2/tombstones.parquet"))
    } finally { rmrf(path); rmrf(path2) }
  }

  test("two committers racing one epoch id index it exactly once") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_race").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val batch = DedupIndex.index(docs.filter(col("doc_id") % 2 === 1))
      // a zombie executor plus its replacement, racing the same batch id
      // (VERDICT r10 task 6): each stages its own unit; Fs.rename's
      // atomic refuse-existing-destination arbitrates the log commit, and
      // the loser finds the batch in the head's ledger and deletes its
      // unit — exactly one committed copy.
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 2).map { _ =>
        new Thread(() => {
          try {
            barrier.await()
            DedupIndex.appendIdempotent(spark, batch, path, 9L)
            ()
          } catch { case t: Throwable => errs.add(t); () }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(300000))
      assert(errs.isEmpty, s"racing committer failed: ${errs.peek()}")
      val units = TestSpark.unitDirs(s"$path/rows.parquet", "batch-9-")
      assert(units.length == 1 && new java.io.File(s"$path/rows.parquet/${units.head}")
        .listFiles().forall(!_.isDirectory))
      assert(DedupIndex.load(spark, path).count() == docs.count())
      // and the epoch stays refused afterwards
      assert(!DedupIndex.appendIdempotent(spark, batch, path, 9L))
      assert(DedupIndex.load(spark, path).count() == docs.count())
    } finally rmrf(path)
  }

  test("snapshot/loadAt: pinned version ignores later appends AND tombstones") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_snap").toString
    try {
      val base = docs.filter(col("doc_id") % 4 < 2)
      DedupIndex.save(spark, DedupIndex.index(base), path)
      DedupIndex.snapshot(spark, path, 1)
      val v1 = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      // the artifact moves on: an append and a takedown
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.delete(spark,
        base.filter(col("doc_id") % 5 === 4).select("doc_id"), path)
      DedupIndex.snapshot(spark, path, 2)
      assert(DedupIndex.versions(spark, path) == Seq(1, 2))
      // v1 pinned: appended rows invisible, tombstones do NOT mask
      val at1 = DedupIndex.loadAt(spark, path, 1).orderBy("doc_id").collect()
      assert(at1.toSeq == v1.toSeq && v1.nonEmpty)
      // v2 pinned == current directory state (masked)
      val at2 = DedupIndex.loadAt(spark, path, 2).orderBy("doc_id").collect()
      val live = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      assert(at2.toSeq == live.toSeq)
      assert(at2.length > v1.length) // append outweighs the takedown
    } finally rmrf(path)
  }

  test("rollback physically restores v1: junk rows gone, tombstones gone") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_rb").toString
    try {
      val base = docs.filter(col("doc_id") % 4 < 2)
      DedupIndex.save(spark, DedupIndex.index(base), path)
      DedupIndex.snapshot(spark, path, 1)
      val v1 = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      // the damage: a mis-routed junk append + an over-broad takedown
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 3)), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 2 === 0).select("doc_id"), path)
      DedupIndex.rollback(spark, path, 1)
      val restored = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      assert(restored.toSeq == v1.toSeq && v1.nonEmpty)
      // physical: the tombstone artifact is gone outright (v1 had none)
      assert(!graft.core.Fs.exists(spark, s"$path/tombstones.parquet"))
      assert(DedupIndex.versions(spark, path) == Seq(1))
    } finally rmrf(path)
  }

  test("expire keeps the last N versions' files and the current state") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_exp").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 0)), path)
      DedupIndex.snapshot(spark, path, 1)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 1)), path)
      DedupIndex.snapshot(spark, path, 2)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.snapshot(spark, path, 3)
      val at3 = DedupIndex.loadAt(spark, path, 3).orderBy("doc_id").collect()
      val live = DedupIndex.load(spark, path).orderBy("doc_id").collect()
      DedupIndex.expire(spark, path, keepLast = 2)
      assert(DedupIndex.versions(spark, path) == Seq(2, 3))
      // retained pinned reads and the current state are untouched
      // (append-only history: v1's files are all referenced by v2/v3,
      // so the subtraction reclaims only manifest history here)
      assert(DedupIndex.loadAt(spark, path, 3).orderBy("doc_id")
        .collect().toSeq == at3.toSeq)
      assert(DedupIndex.load(spark, path).orderBy("doc_id")
        .collect().toSeq == live.toSeq)
      intercept[Exception](DedupIndex.loadAt(spark, path, 1).collect())
    } finally rmrf(path)
  }

  test("b26 forest-fed maintenance: ingest runs with the old corpus text GONE") {
    // The deployed-shape contract behind the gated b26 row: the ingest
    // reads ONLY the batch text + the pinned artifact (signature rows
    // and label forest). Proven the strong way — the old corpus's
    // parquet is physically deleted between day 0 and the ingest, so
    // any dependence on old text (or on re-forming old pairs from it)
    // would throw FileNotFound instead of answering; the answer must
    // still equal the full recompute over old ∪ batch.
    val all = docs.select("doc_id", "lang", "text")
    val isNew = col("doc_id") % 3 === 2
    val oldDir = java.nio.file.Files.createTempDirectory("graft_b26_old").toString
    val batchDir = java.nio.file.Files.createTempDirectory("graft_b26_batch").toString
    val path = java.nio.file.Files.createTempDirectory("graft_b26_art").toString
    try {
      all.filter(!isNew).write.mode("overwrite").parquet(oldDir)
      all.filter(isNew).write.mode("overwrite").parquet(batchDir)
      val expected = DedupIndex.clusterLabels(DedupIndex.index(all))
        .orderBy("id").collect().toSeq
      spark.catalog.clearCache()
      DedupIndex.save(spark,
        DedupIndex.index(spark.read.parquet(oldDir)), path)
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      spark.catalog.clearCache()
      rmrf(oldDir) // day-0 text is gone; only the artifact remains
      val got = DedupIndex
        .maintainClusters(spark, path, 1, spark.read.parquet(batchDir))
        .orderBy("id").collect().toSeq
      assert(got.nonEmpty && got == expected)
      // the pinned forest read resolves generation 1 from the manifest
      assert(DedupIndex.loadForestAt(spark, path, 1).count() ==
        all.filter(!isNew).count())
    } finally {
      rmrf(batchDir); rmrf(path)
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(oldDir))) rmrf(oldDir)
      spark.catalog.clearCache()
    }
  }

  test("forest generations: v1 keeps serving gen-1 while the directory holds gen-2") {
    // The multi-generation contract behind b27's daily chain: a forest
    // write is a NEW generation directory, so a pinned manifest keeps
    // serving its as-of forest bit-exactly after later maintenance
    // runs land — and the current version always resolves the LATEST
    // recorded generation.
    val sp = spark
    import sp.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_forest_gen").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val gen1 = Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl")
      DedupIndex.saveForest(spark, gen1, path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      val gen2 = Seq((0L, 0L), (2L, 0L), (4L, 0L), (6L, 6L)).toDF("id", "lbl")
      DedupIndex.saveForest(spark, gen2, path, gen = 2)
      DedupIndex.snapshot(spark, path, 2, forestGen = Some(2))
      def rows(v: Int) = DedupIndex.loadForestAt(spark, path, v)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows(1) == Set((0L, 0L), (2L, 0L)))
      assert(rows(2) == Set((0L, 0L), (2L, 0L), (4L, 0L), (6L, 6L)))
      // rollback to v1 physically reclaims gen-2 and v1 still serves
      DedupIndex.rollback(spark, path, 1)
      assert(rows(1) == Set((0L, 0L), (2L, 0L)))
      assert(!graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-2"))
    } finally rmrf(path)
  }

  test("maintainClusters refuses an ingest batch that overlaps the index (VERDICT r12)") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_ovl").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      // a colliding ingest (doc_id % 4 == 0 is already indexed) fails
      // before any candidate work (in-plan guard: the thrown cause
      // chain carries the contract message)
      val e = intercept[Exception] {
        DedupIndex.maintainClusters(spark, path, 1,
          docs.filter(col("doc_id") % 4 === 0))
      }
      assert(messages(e).contains("overlap"))
      // the disjoint batch still maintains
      assert(DedupIndex.maintainClusters(spark, path, 1,
        docs.filter(col("doc_id") % 2 === 1)).count() == docs.count())
    } finally { rmrf(path); spark.catalog.clearCache() }
  }

  test("append refuses a batch whose doc_ids are already indexed (VERDICT r12)") {
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_apv").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      val e = intercept[Exception] {
        DedupIndex.append(spark,
          DedupIndex.index(docs.filter(col("doc_id") % 4 === 0)), path)
      }
      assert(messages(e).contains("overlap"))
      // artifact unchanged by the refused append, disjoint append fine
      assert(DedupIndex.load(spark, path).count() ==
        docs.filter(col("doc_id") % 2 === 0).count())
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 1)), path)
      assert(DedupIndex.load(spark, path).count() == docs.count())
    } finally rmrf(path)
  }

  test("saveForest refuses a reused generation number (ADVICE r12)") {
    val sp = spark
    import sp.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_gen").toString
    try {
      val gen1 = Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl")
      DedupIndex.saveForest(spark, gen1, path, gen = 1)
      // a reused gen would rewrite files pinned manifests reference
      val e = intercept[IllegalArgumentException] {
        DedupIndex.saveForest(spark, Seq((4L, 4L)).toDF("id", "lbl"), path, gen = 1)
      }
      assert(e.getMessage.contains("gen-1"))
      // gen-1 untouched by the refusal; a fresh gen still lands
      assert(spark.read.parquet(s"$path/forest.parquet/gen-1").count() == 2)
      DedupIndex.saveForest(spark, Seq((4L, 4L)).toDF("id", "lbl"), path, gen = 2)
      assert(spark.read.parquet(s"$path/forest.parquet/gen-2").count() == 1)
    } finally rmrf(path)
  }

  test("rollback reclaims a forest gen that left the head before any tag named it") {
    val sp = spark
    import sp.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_frb").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.saveForest(spark, Seq((0L, 0L)).toDF("id", "lbl"), path, gen = 1)
      DedupIndex.saveForest(spark, Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl"), path, gen = 2)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(2))
      DedupIndex.rollback(spark, path, 1)
      assert(!graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-1"))
      assert(DedupIndex.loadForestAt(spark, path, 1).count() == 2)
      // units carry no _SUCCESS marker: the log names them
      assert(!graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-2/_SUCCESS"))
    } finally rmrf(path)
  }

  test("expire vacuums superseded forest gens; retained versions keep serving (VERDICT r12)") {
    val sp = spark
    import sp.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_dedupidx_fex").toString
    try {
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 2 === 0)), path)
      DedupIndex.saveForest(spark, Seq((0L, 0L)).toDF("id", "lbl"), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      DedupIndex.saveForest(spark, Seq((0L, 0L), (2L, 0L)).toDF("id", "lbl"), path, gen = 2)
      DedupIndex.snapshot(spark, path, 2, forestGen = Some(2))
      DedupIndex.saveForest(spark,
        Seq((0L, 0L), (2L, 0L), (4L, 4L)).toDF("id", "lbl"), path, gen = 3)
      DedupIndex.snapshot(spark, path, 3, forestGen = Some(3))
      def rows(v: Int) = DedupIndex.loadForestAt(spark, path, v)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val at2 = rows(2)
      val at3 = rows(3)
      DedupIndex.expire(spark, path, keepLast = 2)
      // reclaim: gen-1 (recorded only by the expired v1 — snapshots
      // record just the generation they serve) is physically gone
      assert(!graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-1"))
      assert(graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-2"))
      assert(graft.core.Fs.exists(spark, s"$path/forest.parquet/gen-3"))
      assert(DedupIndex.versions(spark, path) == Seq(2, 3))
      // serve: both retained versions still read their as-of forests
      assert(rows(2) == at2 && rows(3) == at3)
      intercept[Exception](DedupIndex.loadForestAt(spark, path, 1).collect())
    } finally rmrf(path)
  }

  /** Boilerplate shared verbatim by a template family: member k is the
    * template + "copy k", and all members agree on >= 15/16 lanes. */
  private val template = "this page uses cookies to improve your experience by " +
    "continuing to browse the site you agree to our use of cookies and our " +
    "privacy policy all rights reserved terms of service apply "

  test("flooded dedupBatch: every flagged doc has a >= 14/16 partner in the index (x24's contract)") {
    val sp = spark
    import sp.implicits._
    // index: 40 family members flood their band-pair buckets past the
    // cap. Batch: 3 more members, an unrelated doc, and a probe pair
    // that shares a full band pair with the family (so it lands in the
    // escalated bucket) and is 16/16 with itself but within 14/16 of
    // no indexed doc — only a batch–batch chain link could flag it.
    val probe = template.stripSuffix("service apply ") +
      "whiskey lima kilo victor oscar uniform echo tango"
    val idxDocs = (0 until 40).map(k => (k.toLong, "en", s"${template}copy $k"))
    val batchDocs = Seq((100L, "en", probe), (101L, "en", probe + " alpha"),
      (102L, "en", "an unrelated note about rivers mountains and the weather today")) ++
      (40 until 43).map(k => (103L + k - 40, "en", s"${template}copy $k"))
    val idx = DedupIndex.index(idxDocs.toDF("doc_id", "lang", "text")).cache()
    val batch = batchDocs.toDF("doc_id", "lang", "text")
    try {
      val lanes = (DedupIndex.sigOf(idx).collect() ++
        DedupIndex.sigOf(DedupIndex.index(batch)).collect())
        .map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
      def agree(a: Long, b: Long) = (0 until 16).count(i => lanes(a)(i) == lanes(b)(i))
      val near = batchDocs.map(_._1).filter(b => idxDocs.exists(d => agree(b, d._1) >= 14))
      assert(near == Seq(103L, 104L, 105L))
      // the fixture is live: the probe pair sits in an escalated bucket
      val esc = graft.llm.MinHash.bandPairKeysSorted(DedupIndex.sigOf(idx))
        .groupBy("bp", "k").count().filter(col("count") > graft.llm.MinHash.DefaultCap)
      assert(graft.llm.MinHash.bandPairKeysSorted(
        DedupIndex.sigOf(DedupIndex.index(batch)).filter(col("doc_id") <= 101L))
        .join(esc, Seq("bp", "k")).select("doc_id").distinct().count() == 2)
      assert(agree(100L, 101L) == 16)
      val got = DedupIndex.dedupBatch(batch, idx).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == Seq(("en", 6L, 0L, near.size.toLong)))
    } finally { idx.unpersist(false); spark.catalog.clearCache() }
  }

  /** `call` (given an artifact at version 1 — index and forest gen 1
    * over the non-batch thirds of sf0.001 — and the batch third)
    * leaves the session's persisted RDDs as it found them after its one
    * collect: every deployed call scopes its caches. */
  private def leavesNoPersistedRdds(call: (String, DataFrame) => Unit): Unit = {
    val all = docs.select("doc_id", "lang", "text")
    val isNew = col("doc_id") % 3 === 2
    val path = java.nio.file.Files.createTempDirectory("graft_dedup_scope").toString
    val sc = spark.sparkContext
    def settled(): Set[Int] = {
      // scopes release on the async listener bus — poll, don't assume
      val deadline = System.nanoTime() + 10_000_000_000L
      while (sc.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      sc.getPersistentRDDs.keySet.toSet
    }
    try {
      DedupIndex.save(spark, DedupIndex.index(all.filter(!isNew)), path)
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, gen = 1)
      DedupIndex.snapshot(spark, path, 1, forestGen = Some(1))
      spark.catalog.clearCache()
      TestSpark.releaseAllRdds()
      val before = settled()
      call(path, all.filter(isNew))
      assert(settled() == before, s"persisted RDDs left: ${sc.getPersistentRDDs.size}")
    } finally { rmrf(path); spark.catalog.clearCache() }
  }

  test("dedupBatch leaves no persisted RDDs after one collect") {
    leavesNoPersistedRdds((path, batch) =>
      DedupIndex.dedupBatch(batch, DedupIndex.load(spark, path)).collect())
  }

  test("clusterLabels leaves no persisted RDDs after one collect") {
    leavesNoPersistedRdds((path, _) =>
      DedupIndex.clusterLabels(DedupIndex.load(spark, path)).collect())
  }

  test("maintainClusters leaves no persisted RDDs after one collect") {
    leavesNoPersistedRdds((path, batch) =>
      DedupIndex.maintainClusters(spark, path, 1, batch).collect())
  }

  test("b13/b14 artifact paths and in-plan x24 agree row for row") {
    val x24 = SparkEntry.queries("x24_snapshot_dedup")(spark, sf0001)
      .collect().toSeq
    val b13 = SparkEntry.queries("b13_dedup_index_roundtrip")(spark, sf0001)
      .collect().toSeq
    val b14 = SparkEntry.queries("b14_dedup_index_grow")(spark, sf0001)
      .collect().toSeq
    assert(x24.nonEmpty)
    assert(b13 == x24)
    assert(b14 == x24)
  }
}
