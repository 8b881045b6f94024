package graft

import graft.ops.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

/** Star-contraction connected components on constructed graphs, against
  * a plain-Scala union-find. */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._

  /** node -> min node id of its component. Union by smaller root keeps
    * every root its component's minimum. */
  private def unionFind(nodes: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def runStars(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    val got = ConnectedComponents.stars(nodes.toDF("id"), edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    releaseAllRdds()
    got
  }

  test("chain + triangle + singletons resolve to component minima") {
    // chain 1-2-3-4 (diameter 3, needs multiple rounds), triangle 10-11-12,
    // singletons 20, 21
    val got = runStars(Seq[Long](1, 2, 3, 4, 10, 11, 12, 20, 21),
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L, 11L -> 12L, 12L -> 10L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("stars leaves no persisted RDDs after its result materializes (library caller, no scope)") {
    val sp = spark
    import sp.implicits._
    sp.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val df = ConnectedComponents.stars(
      Seq[Long](1, 2, 3, 4).toDF("id"), Seq(1L -> 2L, 3L -> 4L).toDF("a", "b"))
    assert(df.count() == 4)
    // the scope's release fires on the async listener bus — poll, don't assume
    val deadline = System.nanoTime() + 10_000_000_000L
    while (sp.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sp.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${sp.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", ")}")
  }

  test("edge direction does not matter") {
    val a = runStars(Seq[Long](1, 2, 3), Seq(3L -> 2L, 2L -> 1L))
    assert(a == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("stars: chain + triangle + singletons + direction-blind == union-find") {
    val nodes = Seq[Long](1, 2, 3, 4, 10, 11, 12, 20, 21)
    val edges = Seq(2L -> 1L, 2L -> 3L, 4L -> 3L, 10L -> 11L, 11L -> 12L, 12L -> 10L)
    val got = runStars(nodes, edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
    assert(got == unionFind(nodes, edges))
  }

  test("stars: duplicate and self-loop edges are absorbed") {
    val got = runStars(Seq[Long](1, 2, 3),
      Seq(1L -> 2L, 2L -> 1L, 2L -> 2L, 2L -> 3L, 2L -> 3L))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("stars: a dense clique collapses in a handful of rounds") {
    val sp = spark
    import sp.implicits._
    // 200-node clique (19,900 edges) + 50 singletons: the dense-cluster
    // shape the star loop exists for — the edge list must COLLAPSE, not
    // be re-joined at full size every round
    val n = 200L
    val nodes = (0L until 250L).toDF("id")
    val edges = (for (a <- 0L until n; b <- (a + 1) until n) yield (a, b))
      .toDF("a", "b")
    val (df, rounds) = ConnectedComponents.starsCounted(nodes, edges)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until n).forall(got(_) == 0L))
    assert((n until 250L).forall(i => got(i) == i))
    assert(rounds <= 4, s"clique should collapse almost immediately, got $rounds rounds")
    releaseAllRdds()
  }

  test("stars: 1000-node path converges to the path minimum") {
    val sp = spark
    import sp.implicits._
    val n = 1000
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (df, rounds) = ConnectedComponents.starsCounted(nodes, edges)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L))
    // alternating star rounds halve path depth: O(log n) in practice
    assert(rounds <= 25, s"expected O(log n) star rounds on a path, got $rounds")
    releaseAllRdds()
  }

  test("stars == union-find on the sf0.001 near-dup graph, node for node") {
    val sp = spark
    val pairs = SparkEntry.queries("l2_minhash_neardup")(sp, sf0001)
      .select("d1", "d2")
    val nodes = graft.core.Tables(sp, sf0001, "documents").select("doc_id")
    val a = unionFind(nodes.collect().map(_.getLong(0)),
      pairs.collect().map(r => r.getLong(0) -> r.getLong(1)))
    val b = ConnectedComponents.stars(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty && a == b)
    releaseAllRdds()
    sp.catalog.clearCache()
  }

  test("x80 incremental maintenance == x12 full recompute on sf0.001") {
    // the whole incremental claim: forest ∪ batch-pairs must label
    // every doc exactly as the full-corpus recompute does
    val full = SparkEntry.queries("x12_dedup_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = SparkEntry.queries("x80_incremental_clusters")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full.nonEmpty && inc == full)
    releaseAllRdds()
    spark.catalog.clearCache()
  }

  test("x12 clusters are consistent with the l2 pair set on sf0.001") {
    val clusters = SparkEntry.queries("x12_dedup_clusters")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = SparkEntry.queries("l2_minhash_neardup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every near-dup pair lands in the same cluster
    pairs.foreach { case (d1, d2) => assert(clusters(d1) == clusters(d2)) }
    // labels are component minima: each cluster_id is a member of its own cluster
    clusters.values.foreach(c => assert(clusters(c) == c))
    spark.catalog.clearCache()
  }
}
