package opsbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness for the deployed dedup-index operations. One
  * process, one caller, closed loop: set up, wait for the JIT to go
  * quiet, then run whole cycles until `--seconds` of timed region have
  * passed (and at least MinCycles). Every public call is timed from
  * outside the program. With `--trace 1` a SparkListener is attached
  * during every cycle and the building blocks of dedupBatch and
  * maintainClusters are re-run on the same inputs after the cycle, off
  * the clock.
  *
  * Usage: opsbench.Main --workload W --input DIR --work DIR --out DIR
  *   --seconds S --trace 0|1 --cores N
  * Writes `result.json` (metrics, op counts, harness check failures),
  * the workload's check file, and with tracing `spans.jsonl`. */
object Main {

  /** A run measures whole cycles until `--seconds` have passed, and at
    * least this many, so one slow cycle is never a run's only sample. */
  private val MinCycles = 3

  private final case class Cycle(index: Int, wallS: Double, readS: Double,
      writeS: Double, docs: Long, ops: Int)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def jitSeconds(): Double = {
    val cb = ManagementFactory.getCompilationMXBean
    if (cb != null && cb.isCompilationTimeMonitoringSupported)
      cb.getTotalCompilationTime / 1e3
    else 0.0
  }

  private def janino(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** graft.Bench's rule: wait until cumulative JIT time grows by no more
    * than 25 ms over a 1.5 s window (capped). */
  private def awaitJitQuiet(maxMs: Long = 8000, quietMs: Long = 1500,
      tolMs: Double = 25): Double = {
    val t0 = System.currentTimeMillis()
    val deadline = t0 + maxMs
    var last = jitSeconds() * 1e3
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(250)
      val now = jitSeconds() * 1e3
      if (now - last > tolMs) quietSince = System.currentTimeMillis()
      last = now
    }
    (System.currentTimeMillis() - t0) / 1e3
  }

  /** graft.Bench's cache barrier: drain the listener bus, clear the
    * session cache, one block-manager round trip. */
  private def barrier(spark: SparkSession): Unit = {
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.catalog.clearCache()
    spark.sparkContext.getExecutorMemoryStatus
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val out = opts("out")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${opts("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rec = new Recorder
    val ctx = new Ctx(spark, rec, opts("input"), opts("work"), out)
    val wl: Workload = workload match {
      case "flooded_ingest" => new Ingest(ctx)
      case "audit_churn" => new Audit(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the base artifact, one warm-up cycle, the JIT wait;
    // setup_s is the wall time from JVM start to the first timed cycle
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      barrier(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val baseS = timed(wl.setup())
    val warmS = timed(wl.warmup())
    val jitWaitS = awaitJitQuiet()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed region: whole cycles; the clock runs over cycles and barriers
    val cycles = ArrayBuffer[Cycle]()
    val listener = new JobListener
    val jvm = ArrayBuffer[(Double, Double, Long)]() // traced: gc, jit, janino per cycle
    var clock = 0.0
    while ((clock < seconds || cycles.size < MinCycles) && wl.hasNext) {
      val c = cycles.size
      val before = if (traced) Fsx.listing(wl.artifact) else Map.empty[String, Long]
      if (traced) spark.sparkContext.addSparkListener(listener)
      val gc0 = gcSeconds(); val jit0 = jitSeconds(); val jan0 = janino()
      rec.cycle = c
      rec.phase = "cycle"
      val t0 = System.nanoTime()
      val docs = wl.cycle(c)
      val t1 = System.nanoTime()
      barrier(spark)
      val t2 = System.nanoTime()
      clock += (t2 - t0) / 1e9
      if (traced) {
        jvm += ((gcSeconds() - gc0, jitSeconds() - jit0, janino() - jan0))
        val after = Fsx.listing(wl.artifact)
        val fresh = after.filter { case (f, _) => !before.contains(f) }
        ctx.add("dedupindex.files_written", fresh.size.toDouble)
        ctx.add("dedupindex.bytes_written", fresh.values.sum.toDouble)
      }
      val spans = rec.of(c, "cycle")
      def sumOf(k: Kind) = spans.filter(_.kind == k).map(_.seconds).sum
      cycles += Cycle(c, (t1 - t0) / 1e9, sumOf(Read), sumOf(Write), docs, spans.size)
      rec.phase = "observe"
      wl.observe(c)
      if (traced) {
        rec.phase = "compose"
        wl.compose(c)
        barrier(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    val (files, bytes) = Fsx.usage(wl.artifact)
    val walls = cycles.map(_.wallS).toSeq
    // the last quarter of cycles, at least one: with 3 cycles, the last alone
    val late = walls.drop(walls.length - math.max(1, walls.length / 4))
    val metrics = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "docs_per_s" -> cycles.map(_.docs).sum / clock,
      "cycle_p50_s" -> median(walls),
      "late_cycle_p50_s" -> median(late),
      "read_p50_s" -> median(cycles.map(_.readS).toSeq),
      "write_p50_s" -> median(cycles.map(_.writeS).toSeq),
      "bytes_per_doc" -> bytes.toDouble / wl.liveDocs)

    val layers = scala.collection.mutable.LinkedHashMap[String, Any]()
    if (traced) layers ++= perLayer(rec, ctx, listener, cycles.toSeq, jvm.toSeq, wl, files, bytes)

    wl.finish()
    Json.write(s"$out/result.json", Map[String, Any](
      "workload" -> workload,
      "cycles" -> cycles.size,
      "timed_s" -> clock,
      "attempted" -> cycles.map(_.ops).sum,
      "session_s" -> sessionS,
      "base_s" -> baseS,
      "warmup_s" -> warmS,
      "jit_wait_s" -> jitWaitS,
      "cycle_walls_s" -> walls,
      "metrics" -> metrics,
      "layers" -> layers,
      "problems" -> ctx.problems.toSeq))
    if (traced) {
      val w = new java.io.PrintWriter(s"$out/spans.jsonl")
      try rec.spans.foreach { s =>
        w.println(Json.render(Map[String, Any]("name" -> s.name, "layer" -> s.layer,
          "kind" -> s.kind.toString, "cycle" -> s.cycle, "phase" -> s.phase,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds)))
      } finally w.close()
    }
    spark.stop()
  }

  /** Per-layer metrics of the traced cycles, each a per-cycle mean. */
  private def perLayer(rec: Recorder, ctx: Ctx, listener: JobListener,
      tc: Seq[Cycle], jvm: Seq[(Double, Double, Long)], wl: Workload,
      files: Long, bytes: Long): Seq[(String, Any)] = {
    val n = math.max(1, tc.size).toDouble
    val (jobs, stages) = listener.snapshot()
    val cycleSpans = tc.flatMap(c => rec.of(c.index, "cycle"))
    def wall(spans: Seq[Span]) = spans.map(_.seconds).sum
    def named(names: String*) = cycleSpans.filter(s => names.contains(s.name))
    val spark = Rollup.of(cycleSpans, jobs, stages)
    val starsSpans = tc.flatMap(c => rec.of(c.index, "compose")).filter(_.name == "stars")
    val cc = Rollup.of(starsSpans, jobs, stages)
    val snapSpans = cycleSpans.filter(_.layer == "snapshots")
    val s = ctx.sums
    val cand = s("minhash.cand_pairs")

    // layer self time as a share of the cycle: calls run one after
    // another, so a layer's self time is the wall of its calls
    def share(cs: Seq[Cycle], layers: String*): Double = {
      val sp = cs.flatMap(c => rec.of(c.index, "cycle"))
      val w = cs.map(_.wallS).sum
      if (w == 0) 0.0 else wall(sp.filter(x => layers.contains(x.layer))) / w
    }
    val q = math.max(1, tc.size / 4)
    val firstQ = tc.take(q)
    val lastQ = tc.takeRight(q)
    val ccForest = Seq("cc", "dedupindex.forest")
    val tracedWall = tc.map(_.wallS).sum
    val (mFiles, mBytes) = Fsx.usage(s"${wl.artifact}/manifest")

    Seq(
      "functions.sig_busy_s" -> s("functions.sig_busy_s") / n,
      "functions.sig_docs" -> s("functions.sig_docs") / n,
      "minhash.keys_busy_s" -> s("minhash.keys_busy_s") / n,
      "minhash.keys_rows" -> s("minhash.keys_rows") / n,
      "minhash.cand_busy_s" -> s("minhash.cand_busy_s") / n,
      "minhash.cand_pairs" -> cand / n,
      "minhash.escalated_buckets" -> s("minhash.escalated_buckets") / n,
      "minhash.max_bucket" -> ctx.maxima("minhash.max_bucket"),
      "minhash.verify_busy_s" -> s("minhash.verify_busy_s") / n,
      "minhash.verified_pairs" -> s("minhash.verified_pairs") / n,
      "minhash.verify_yield" -> (if (cand == 0) 0.0 else s("minhash.verified_pairs") / cand),
      "cc.busy_s" -> s("cc.busy_s") / n,
      "cc.nodes_in" -> s("cc.nodes_in") / n,
      "cc.edges_in" -> s("cc.edges_in") / n,
      "cc.rounds" -> cc.ccRounds / n,
      "cc.jobs" -> cc.jobs / n,
      "dedupindex.rows_commit_s" ->
        wall(named("append", "appendIdempotent", "appendIdempotent.replay", "delete", "compact")) / n,
      "dedupindex.forest_write_s" -> wall(named("saveForest")) / n,
      "dedupindex.forest_rows" -> s("dedupindex.forest_rows") / n,
      "dedupindex.bytes_written" -> s("dedupindex.bytes_written") / n,
      "dedupindex.files_written" -> s("dedupindex.files_written") / n,
      "snapshots.write_s" -> wall(named("snapshot", "rollback", "expire")) / n,
      "snapshots.read_s" -> wall(named("versions", "loadAt")) / n,
      "snapshots.jobs" -> Rollup.of(snapSpans, jobs, stages).jobs / n,
      "snapshots.manifest_bytes" -> mBytes.toDouble,
      "fs.artifact_files" -> files.toDouble,
      "fs.artifact_bytes" -> bytes.toDouble,
      "spark.jobs" -> spark.jobs / n,
      "spark.stages" -> spark.stages / n,
      "spark.tasks" -> spark.tasks / n,
      "spark.task_busy_s" -> spark.taskBusyS / n,
      "spark.job_wall_s" -> spark.jobWallS / n,
      "spark.driver_gap_s" -> spark.driverGapS / n,
      "spark.shuffle_write_bytes" -> spark.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> spark.shuffleRead / n,
      "spark.spill_bytes" -> spark.spill / n,
      "jvm.gc_s" -> jvm.map(_._1).sum / n,
      "jvm.jit_s" -> jvm.map(_._2).sum / n,
      "jvm.janino_compiles" -> jvm.map(_._3).sum / n,
      "share.functions" -> share(tc, "functions"),
      "share.minhash" -> share(tc, "minhash"),
      "share.cc" -> share(tc, "cc"),
      "share.dedupindex" -> share(tc, "dedupindex", "dedupindex.forest"),
      "share.snapshots" -> share(tc, "snapshots"),
      "share.driver_gap" -> (if (tracedWall == 0) 0.0 else spark.driverGapS / tracedWall),
      "share.cand_verify" ->
        (if (tracedWall == 0) 0.0 else (s("minhash.cand_busy_s") + s("minhash.verify_busy_s")) / tracedWall),
      "share.cc_forest_first" -> share(firstQ, ccForest: _*),
      "share.cc_forest_last" -> share(lastQ, ccForest: _*),
      "trace.cycle_p50_s" -> median(tc.map(_.wallS)),
      "trace.listener_s" -> listener.busySeconds / n)
  }
}
