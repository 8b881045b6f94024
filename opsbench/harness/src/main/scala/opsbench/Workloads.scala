package opsbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope
import graft.llm.{DedupIndex, MinHash}
import graft.ops.ConnectedComponents

/** What the workloads share: the session, the span recorder, the run's
  * directories and the traced run's per-layer sums. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val input: String,
    val work: String, val out: String) {

  val meta: Map[String, String] =
    Files.readAllLines(Paths.get(input, "meta.txt")).asScala
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap

  /** Per-layer sums over traced cycles, and maxima. */
  val sums: mutable.Map[String, Double] = mutable.Map[String, Double]().withDefaultValue(0.0)
  val maxima: mutable.Map[String, Double] = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** Harness-side check failures: composed vs one-call, model vs read. */
  val problems: ArrayBuffer[String] = ArrayBuffer[String]()

  def add(k: String, v: Double): Unit = sums(k) = sums(k) + v
  def peak(k: String, v: Double): Unit = maxima(k) = math.max(maxima(k), v)

  def day(d: Int): DataFrame = spark.read.parquet(f"$input/day-$d%05d.parquet")

  /** Ids are laid out by the generator: base 0 until base_docs, then
    * batch_docs consecutive ids per day. */
  def dayIds(d: Int): Set[Long] = {
    val first = meta("base_docs").toLong + d * meta("batch_docs").toLong
    (first until first + meta("batch_docs").toLong).toSet
  }

  def ids(df: DataFrame): Set[Long] =
    df.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet

  /** The day-0 artifact: index rows of the base corpus, the resolved
    * label forest as gen 0, snapshot version 0. */
  def buildBase(path: String): Unit = {
    val base = spark.read.parquet(s"$input/base.parquet")
    rec.call("index", "functions", Other) {
      DedupIndex.save(spark, DedupIndex.index(base), path)
    }
    rec.call("clusterLabels", "cc", Write) {
      DedupIndex.saveForest(spark,
        DedupIndex.clusterLabels(DedupIndex.load(spark, path)), path, 0)
    }
    rec.call("snapshot", "snapshots", Write) {
      DedupIndex.snapshot(spark, path, 0, Some(0))
    }
  }
}

object Fsx {
  /** (files, bytes) of every regular file under `dir`. */
  def usage(dir: String): (Long, Long) = {
    val l = listing(dir)
    (l.size.toLong, l.values.sum)
  }

  /** Size of every regular file under `dir`, by path. */
  def listing(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def remove(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

/** A workload: `setup` builds the base artifact, `warmup` runs one
  * untimed cycle on it; `cycle` is one timed unit of
  * deployed work; `observe` checks what the cycle left behind and
  * `compose` (traced run) re-derives its results from the public
  * building blocks. Both run off the clock. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def hasNext: Boolean
  def cycle(c: Int): Long
  def observe(c: Int): Unit
  def compose(c: Int): Unit
  def artifact: String
  def liveDocs: Long
  def finish(): Unit
}

/** Traced recomputation of the asymmetric banded legs on one probe/base
  * signature pair, each leg materialized and timed on its own. Returns
  * the verified pairs, cached. */
object Legs {
  val Cap: Int = MinHash.DefaultCap

  def run(ctx: Ctx, probeSig: DataFrame, baseSig: DataFrame): DataFrame = {
    import ctx._
    val (pk, bk) = rec.call("bandPairKeysSorted", "minhash.keys", Other) {
      (CacheScope.cacheEager(MinHash.bandPairKeysSorted(probeSig)),
        CacheScope.cacheEager(MinHash.bandPairKeysSorted(baseSig)))
    }
    add("minhash.keys_busy_s", rec.spans.last.seconds)
    add("minhash.keys_rows", (pk.count() + bk.count()).toDouble)
    val bucket = bk.groupBy("bp", "k").count()
      .agg(sum(when(col("count") > Cap, 1L).otherwise(0L)), max("count")).first()
    add("minhash.escalated_buckets", if (bucket.isNullAt(0)) 0.0 else bucket.getLong(0).toDouble)
    peak("minhash.max_bucket", if (bucket.isNullAt(1)) 0.0 else bucket.getLong(1).toDouble)
    val cand = rec.call("candidatesHybridChainAsymFromKeys", "minhash.cand", Other) {
      MinHash.candidatesHybridChainAsymFromKeys(pk, bk, Cap).count()
    }
    add("minhash.cand_busy_s", rec.spans.last.seconds)
    add("minhash.cand_pairs", cand.toDouble)
    val verified = rec.call("verifiedHybridChainAsymFromKeys", "minhash.verify", Other) {
      CacheScope.cacheEager(MinHash.verifiedHybridChainAsymFromKeys(pk, bk, Cap, 14))
    }
    add("minhash.verify_busy_s", rec.spans.last.seconds)
    add("minhash.verified_pairs", verified.count().toDouble)
    verified
  }

  /** Near-duplicate counts per lang of `batch` docs that appear as the
    * probe end of a verified pair — what dedupBatch's n_neardup counts. */
  def nearByLang(verified: DataFrame, batch: DataFrame): Map[String, Long] =
    verified.select(col("d1").as("doc_id")).distinct()
      .join(batch.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def counts(rows: Array[org.apache.spark.sql.Row]): Seq[Map[String, Any]] =
    rows.toSeq.map(r => Map[String, Any]("lang" -> r.getString(0),
      "n_new" -> r.getLong(1), "n_exact_dup" -> r.getLong(2), "n_neardup" -> r.getLong(3)))
}

/** flooded_ingest: the deployed daily loop against a growing artifact.
  * Base version 0 carries forest gen 0; day d commits version d + 1 with
  * forest gen d + 1. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx._

  private val nDays = meta("days").toInt
  private val probe = spark.read.parquet(s"$input/probe.parquet")
  private val path = s"$work/artifact"
  private var next = 0
  private var docs = 0L
  private var timed = false
  private val days = ArrayBuffer[Map[String, Any]]()
  private var lastNear = Map.empty[String, Long]

  def artifact: String = path
  def liveDocs: Long = docs
  def hasNext: Boolean = next < nDays

  def setup(): Unit = {
    buildBase(path)
    docs = meta("base_docs").toLong
  }

  def warmup(): Unit = ingest()

  def cycle(c: Int): Long = {
    timed = true
    ingest()
  }

  /** What dedupBatch screens: the day's batch plus the two fault-probe
    * documents, which the caller does not ingest. */
  private def screened(batch: DataFrame): DataFrame = batch.unionByName(probe)

  private def ingest(): Long = {
    val d = next
    val batch = ctx.day(d)
    val vPrev = rec.call("versions", "snapshots", Read) { DedupIndex.versions(spark, path) }.last
    val v = vPrev + 1
    val idx = rec.call("load", "dedupindex", Read) { DedupIndex.load(spark, path) }
    val counts = rec.call("dedupBatch", "minhash", Read) {
      DedupIndex.dedupBatch(screened(batch), idx).collect()
    }
    val rows = rec.call("index", "functions", Other) {
      CacheScope.cacheEager(DedupIndex.index(batch))
    }
    val labels = rec.call("maintainClustersFromRows", "cc", Write) {
      DedupIndex.maintainClustersFromRows(spark, path, vPrev, rows)
    }
    rec.call("append", "dedupindex", Write) { DedupIndex.append(spark, rows, path) }
    rec.call("saveForest", "dedupindex.forest", Write) {
      DedupIndex.saveForest(spark, labels, path, v)
    }
    rec.call("snapshot", "snapshots", Write) {
      DedupIndex.snapshot(spark, path, v, Some(v))
    }
    val n = meta("batch_docs").toLong
    docs += n
    next += 1
    lastNear = counts.map(r => r.getString(0) -> r.getLong(3)).toMap.filter(_._2 > 0)
    days += Map[String, Any]("day" -> d, "version" -> v, "timed" -> (if (timed) 1 else 0),
      "counts" -> Legs.counts(counts))
    n
  }

  def observe(c: Int): Unit = ()

  /** dedupBatch's near leg and maintainClustersFromRows, composed from
    * their building blocks on the cycle's inputs: legs over (screened
    * batch, pinned index) and over (batch, pinned index ∪ batch), then
    * stars over the pinned forest plus the verified batch pairs. */
  def compose(c: Int): Unit = {
    val d = next - 1
    val v = days.last("version").asInstanceOf[Int]
    val batch = ctx.day(d)
    val idxPrev = DedupIndex.loadAt(spark, path, v - 1)
    val iSig = DedupIndex.sigOf(idxPrev)
    val bSig = CacheScope.cacheEager(DedupIndex.sigOf(DedupIndex.index(batch)))
    add("functions.sig_busy_s", rec.of(c, "cycle").filter(_.name == "index").map(_.seconds).sum)
    add("functions.sig_docs", batch.count().toDouble)
    val screen = screened(batch)
    val sSig = CacheScope.cacheEager(DedupIndex.sigOf(DedupIndex.index(screen)))
    val near = Legs.nearByLang(Legs.run(ctx, sSig, iSig), screen)
    if (near != lastNear)
      problems += s"day $d: composed near counts $near != dedupBatch $lastNear"

    val pairs = Legs.run(ctx, bSig, iSig.unionByName(bSig))
    val forest = DedupIndex.loadForestAt(spark, path, v - 1)
    val nodes = CacheScope.cacheEager(
      idxPrev.select("doc_id").unionByName(batch.select("doc_id")))
    val edges = CacheScope.cacheEager(forest.filter(col("id") =!= col("lbl"))
      .select(col("id").as("d1"), col("lbl").as("d2")).unionByName(pairs))
    add("cc.nodes_in", nodes.count().toDouble)
    add("cc.edges_in", edges.count().toDouble)
    val labels = rec.call("stars", "cc", Other) {
      CacheScope.cacheEager(ConnectedComponents.stars(nodes, edges))
    }
    add("cc.busy_s", rec.spans.last.seconds)
    val saved = spark.read.parquet(s"$path/forest.parquet/gen-$v")
    val diff = labels.exceptAll(saved).count() + saved.exceptAll(labels).count()
    if (diff != 0) problems += s"day $d: composed labels differ from maintained ($diff rows)"
    add("dedupindex.forest_rows", saved.count().toDouble)
  }

  def finish(): Unit = {
    val total = days.size
    Json.write(s"$out/ingest.json", Map[String, Any](
      "artifact" -> path,
      "days" -> days.toSeq,
      "label_days" -> Seq(total / 2, total - 1).distinct.map(i => days(i)("day"))))
  }
}

/** audit_churn: lifecycle cycles on a small index. Every cycle runs the
  * same calls: idempotent append of a new batch and its replay, snapshot,
  * delete of a few live ids and a second snapshot, versions, a pinned
  * loadAt of an older version with the batch's dedupBatch replayed
  * against it, rollback of the delete, expire and compact. The harness
  * keeps its own model of the live ids of every committed version and
  * checks each read against it. */
final class Audit(ctx: Ctx) extends Workload {
  import ctx._

  private val nDays = meta("days").toInt
  private val keepLast = meta("keep_last").toInt
  /** Per cycle: pinned-version lag and delete-rank fractions. */
  private val script: IndexedSeq[(Int, Seq[Double])] =
    Files.readAllLines(Paths.get(input, "script.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val f = l.split("\\s+")
        (f(0).toInt, f.drop(1).map(_.toDouble).toSeq)
      }.toIndexedSeq
  private val path = s"$work/artifact"
  private var next = 0
  private val model = mutable.LinkedHashMap[Int, Set[Long]]()
  private var liveIds = Set.empty[Long]
  private var last: Map[String, Any] = Map.empty
  private var pinned: DataFrame = _
  private val cycles = ArrayBuffer[Map[String, Any]]()

  def artifact: String = path
  def liveDocs: Long = liveIds.size.toLong
  def hasNext: Boolean = next < nDays

  /** The base committed as versions 0 until keepLast, so the history is
    * full from the start: each cycle nets one version and its expire
    * reclaims one, the warm-up cycle's included, and every cycle does
    * the same work. */
  def setup(): Unit = {
    buildBase(path)
    liveIds = (0L until meta("base_docs").toLong).toSet
    model(0) = liveIds
    (1 until keepLast).foreach { v =>
      rec.call("snapshot", "snapshots", Write) { DedupIndex.snapshot(spark, path, v) }
      model(v) = liveIds
    }
  }

  def warmup(): Unit = {
    lifecycle()
    observe(-1)
  }

  def cycle(c: Int): Long = lifecycle()

  private def lifecycle(): Long = {
    val d = next
    val (lag, fractions) = script(d)
    val batch = ctx.day(d)
    val rows = rec.call("index", "functions", Other) {
      CacheScope.cacheEager(DedupIndex.index(batch))
    }
    val applied = rec.call("appendIdempotent", "dedupindex", Write) {
      DedupIndex.appendIdempotent(spark, rows, path, d.toLong)
    }
    val replayed = rec.call("appendIdempotent.replay", "dedupindex", Write) {
      DedupIndex.appendIdempotent(spark, rows, path, d.toLong)
    }
    liveIds ++= ctx.dayIds(d)
    val v = model.keys.max + 1
    rec.call("snapshot", "snapshots", Write) { DedupIndex.snapshot(spark, path, v) }
    model(v) = liveIds
    val sorted = liveIds.toArray.sorted
    val del = fractions.map(f => sorted(math.min(sorted.length - 1, (f * sorted.length).toInt))).distinct
    rec.call("delete", "dedupindex", Write) {
      import spark.implicits._
      DedupIndex.delete(spark, del.toDF("doc_id"), path)
    }
    liveIds --= del
    rec.call("snapshot", "snapshots", Write) { DedupIndex.snapshot(spark, path, v + 1) }
    model(v + 1) = liveIds
    val vs = rec.call("versions", "snapshots", Read) { DedupIndex.versions(spark, path) }
    val retained = model.keys.toSeq.sorted
    // lag >= 2 pins a version from before this batch's append
    val vOld = retained(math.max(0, retained.length - 1 - lag))
    val oldIds = model(vOld)
    pinned = rec.call("loadAt", "snapshots", Read) { DedupIndex.loadAt(spark, path, vOld) }
    val counts = rec.call("dedupBatch", "minhash", Read) {
      DedupIndex.dedupBatch(batch, pinned).collect()
    }
    // the delete was a mistake: roll it back, then retention and layout
    rec.call("rollback", "snapshots", Write) { DedupIndex.rollback(spark, path, v) }
    model.remove(v + 1)
    liveIds = model(v)
    rec.call("expire", "snapshots", Write) { DedupIndex.expire(spark, path, keepLast) }
    model.keys.toSeq.sorted.dropRight(keepLast).foreach(model.remove)
    rec.call("compact", "dedupindex", Write) {
      DedupIndex.compact(spark, path, s"$work/compacted")
    }
    last = Map[String, Any]("cycle" -> d, "applied" -> applied, "replayed" -> replayed,
      "versions" -> vs, "expected_versions" -> retained, "v_old" -> vOld,
      "old_ids" -> oldIds.toSeq.sorted, "counts" -> Legs.counts(counts))
    next += 1
    meta("batch_docs").toLong
  }

  /** Untimed: every read the cycle made, and the artifact it left,
    * against the model. */
  def observe(c: Int): Unit = {
    val d = last("cycle")
    def check(ok: Boolean, what: String): Unit =
      if (!ok) problems += s"cycle $d: $what"
    check(last("applied") == true, "appendIdempotent of a new batch id returned false")
    check(last("replayed") == false, "replayed batch id was applied again")
    check(last("versions") == last("expected_versions"),
      s"versions ${last("versions")} != model ${last("expected_versions")}")
    val oldIds = last("old_ids").asInstanceOf[Seq[Long]].toSet
    check(ctx.ids(pinned) == oldIds, s"loadAt(v${last("v_old")}) differs from the model")
    check(ctx.ids(DedupIndex.load(spark, path)) == liveIds,
      "load after rollback differs from the model")
    check(DedupIndex.versions(spark, path) == model.keys.toSeq.sorted,
      s"versions after expire($keepLast) != the last $keepLast")
    val side = s"$work/compacted"
    check(ctx.ids(DedupIndex.load(spark, side)) == liveIds, "compact changed the row set")
    Fsx.remove(side)
    cycles += last
  }

  def compose(c: Int): Unit = {
    val d = next - 1
    val batch = ctx.day(d)
    add("functions.sig_busy_s", rec.of(c, "cycle").filter(_.name == "index").map(_.seconds).sum)
    add("functions.sig_docs", batch.count().toDouble)
    val bSig = CacheScope.cacheEager(DedupIndex.sigOf(DedupIndex.index(batch)))
    val near = Legs.nearByLang(Legs.run(ctx, bSig, DedupIndex.sigOf(pinned)), batch)
    val oneCall = last("counts").asInstanceOf[Seq[Map[String, Any]]]
      .map(m => m("lang").toString -> m("n_neardup").asInstanceOf[Long]).filter(_._2 > 0).toMap
    if (near != oneCall)
      problems += s"cycle $d: composed near counts $near != dedupBatch $oneCall"
  }

  def finish(): Unit =
    Json.write(s"$out/audit.json", Map[String, Any]("cycles" -> cycles.toSeq))
}
