package graft.ops

import graft.core.CacheScope
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by alternating large-star /
  * small-star contraction ([[ConnectedComponents.stars]]).
  *
  * The loop runs on RDDs — the one genuinely iterative operator in the
  * engine, and the one place the DataFrame API is the wrong tool:
  * Catalyst re-analyzes, re-optimizes and re-codegens the plan EVERY
  * round (measured ~0.6 s/round of pure driver time at sf0.1, 10x the
  * actual 0.06 s/round of cluster work), while the RDD loop replans
  * nothing. The edge list is hash-partitioned once at a width
  * RIGHT-SIZED to the measured graph (~256k edges per partition,
  * floor 1, cap defaultParallelism), because the dup graph is usually
  * minuscule next to the corpus and the loop's cost is per-task driver
  * overhead, not data. Each round's superseded edge snapshot is
  * unpersisted (blocking) as soon as the next lands, so the
  * block-manager endpoint never accumulates removal backlog. No
  * driver-side union-find, no collected adjacency. Per-round wall/GC
  * timings stream to stderr as `[cc*] round=...` when tracing is on.
  */
object ConnectedComponents {

  /** Per-round `[cc]` diagnostics go to stderr only when enabled —
    * `SPARK_GRAFT_CC_TRACE` env or `spark.graft.cc.trace` sysprop
    * (graft.Bench sets the sysprop; library embedders get silence,
    * ADVICE r4). Checked per call, not cached: tests and embedders can
    * toggle it at runtime. */
  private def traceEnabled: Boolean =
    sys.env.get("SPARK_GRAFT_CC_TRACE").orElse(sys.props.get("spark.graft.cc.trace"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
  private def trace(msg: => String): Unit =
    if (traceEnabled) System.err.println(msg)

  /** Sum of collection time across all GC beans — cheap driver-side
    * read used by the round instrumentation to attribute in-suite
    * slowdowns (a long-lived bench JVM can spend seconds of a "round"
    * in GC caused by the 50 queries that ran before it). */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Alternating LARGE-STAR / SMALL-STAR connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    * — the DENSE-graph scale step. A min-label loop re-reads the FULL
    * edge list every round: on the near-dup graph that list is the
    * verified pair set, which template clusters make quadratic in
    * cluster size (sf1.0 measured 22.3M edges over 36k nodes,
    * ~624/node). The star algorithm REWRITES the edge list each round — large-star hangs
    * every node's larger neighbors onto its neighborhood minimum,
    * small-star re-points its smaller neighbors there — so a dense
    * cluster collapses toward its star (≤ one edge per node) after
    * the first pass and every later round touches a vanishing edge
    * set.
    *
    * @param nodes single-column DataFrame of node ids (numeric)
    * @param edges two-column DataFrame of undirected edges, either
    *              direction; self-loops and duplicates are absorbed
    * @return (id, lbl) with lbl = min node id of the component; every
    *         id of `nodes` appears exactly once. The loop's final edge
    *         snapshot backs the result and is released after the first
    *         action that consumes it (its own [[CacheScope]], nested
    *         transparently inside any enclosing scope).
    *
    *
    * Implementation notes: edges are kept CANONICAL (hi, lo), each
    * phase is reduceByKey(min) + a co-partitioned JOIN — never a
    * groupByKey, so a million-member cluster costs no single-task
    * memory — followed by distinct(); convergence is detected by a
    * per-phase rewrite accumulator (an emitted edge differing from its
    * input), zero for both phases exactly at the star-forest fixpoint.
    * Task retries can only overcount → at worst one extra confirming
    * round, never a premature stop. */
  def stars(nodes: DataFrame, edges: DataFrame): DataFrame =
    starsCounted(nodes, edges)._1

  /** As [[stars]], also returning the number of (large+small) rounds
    * run (the last is the fixpoint-confirming one). */
  private[graft] def starsCounted(nodes: DataFrame, edges: DataFrame): (DataFrame, Int) = {
    var rounds = 0
    val out = CacheScope.scoped(starsBody(nodes, edges, r => rounds = r))
    (out, rounds)
  }

  private def starsBody(
      nodes: DataFrame, edges: DataFrame, reportRounds: Int => Unit): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val idCol = nodes.columns.head
    val Array(srcCol, dstCol) = edges.columns.take(2)
    val sc = spark.sparkContext

    val tFence = System.nanoTime()
    // Synchronous round-trip to the block-manager master before any
    // timing-sensitive work: non-blocking unpersists from earlier
    // queries queue up on that single-threaded endpoint, and draining
    // them here surfaces inherited congestion as one visible fence
    // cost instead of a per-round tax.
    sc.getExecutorMemoryStatus
    val fenceMs = (System.nanoTime() - tFence) / 1e6

    // Canonical (hi, lo) edges, self-loops dropped — NOT deduped here
    // (round 15, guide §2.4 remove shuffles): every shipped caller
    // passes an already-distinct pair set (verified near-dup pairs,
    // forest rows), so the only residual duplicates are rare
    // cross-orientation collisions after canonicalization — and each
    // loop round ends in distinct(loopN) anyway, so round 1 absorbs
    // them. The old up-front distinct was one full extra shuffle +
    // materialization of the edge set per stars() call; nEdges (the
    // sizing heuristic and the trace figure) now counts pre-dedup
    // rows, an upper bound that can only widen the partitioner.
    val eWide = edges
      .select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) =>
        if (a == b) Iterator.empty
        else Iterator((math.max(a, b), math.min(a, b)))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nEdges = eWide.count()
    val loopN = math.max(1L, nEdges / 262144L + 1L)
      .min(sc.defaultParallelism.toLong).toInt
    val part = new HashPartitioner(loopN)
    var e: RDD[(Long, Long)] = eWide.partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    eWide.unpersist(blocking = true)
    trace(f"[cc*] init fence_ms=$fenceMs%.0f edges=$nEdges parts=$loopN")

    var rounds = 0
    var changed = nEdges > 0
    while (changed) {
      rounds += 1
      val tRound = System.nanoTime()
      val gcBefore = gcMillis()
      val acc = sc.longAccumulator("cc-star-rewrites")

      // LARGE-STAR: every node u hangs its LARGER neighbors onto
      // m(u) = min(N(u) ∪ {u}). m via reduceByKey (map-side combined),
      // emission via a co-partitioned join — no groupByKey, so the
      // hottest cluster costs no single-task memory.
      val sym = e.mapPartitions(
        _.flatMap { case (hi, lo) => Iterator((hi, lo), (lo, hi)) })
        .partitionBy(part)
      val mL = sym.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapPartitions(_.map { case (u, mN) => (u, math.min(u, mN)) },
          preservesPartitioning = true)
      val eL = sym.filter { case (u, v) => v > u }
        .join(mL)
        .map { case (u, (v, m)) =>
          if (m != u) acc.add(1)
          (v, m)
        }
        .distinct(loopN)
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)

      // SMALL-STAR: every node re-points its SMALLER neighbors (and
      // itself) at their collective minimum.
      val mS = eL.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val eS = eL.join(mS)
        .flatMap { case (hi, (lo, m)) =>
          if (lo == m) Iterator((hi, m))
          else { acc.add(1); Iterator((lo, m), (hi, m)) }
        }
        .distinct(loopN)
        .partitionBy(part)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n2 = eS.count() // the round's materializing action
      eL.unpersist(blocking = true)
      e.unpersist(blocking = true)
      e = eS
      changed = acc.value > 0
      trace(f"[cc*] round=$rounds ms=${(System.nanoTime() - tRound) / 1e6}%.0f " +
        f"gc_ms=${gcMillis() - gcBefore} edges=$nEdges->$n2 rewrites=${acc.value}")
      nEdges = n2
    }
    reportRounds(rounds)
    trace(f"[cc*] done rounds=$rounds")

    // Fixpoint: e is a star forest (member, center) with one center —
    // the component minimum — per member. reduceByKey(min) is belt and
    // braces; centers and singletons label themselves via the left join.
    val labels = e.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
    val active = spark.createDataset(labels).toDF("aid", "lbl")
    val out = nodes.select(col(idCol).cast("long").as("id"))
      .join(active, col("id") === col("aid"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
    val last = e
    CacheScope.release(() => { last.unpersist(false); () })
    out
  }
}
