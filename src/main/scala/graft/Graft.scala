package graft

import graft.core.{GraftSession, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One-import façade over the engine — the surface a user of the
  * reference (`derange-alembic/amorphous-mapreduce`) lands on when they
  * switch:
  *
  * {{{
  * val spark = Graft.session(8)
  * val wc    = Graft.wordCount(spark, "article/1.txt").counts       // word_count.rs
  * val c     = Graft.gemm(spark)                                     // outer_product.rs
  * val dups  = Graft.queries("l2_minhash_neardup")(spark, dataDir)   // + LLM pipeline ops
  * }}}
  *
  * Everything else (the 63-query registry, dedup/similarity/text/
  * multimodal/streaming operators, custom plans) hangs off the same
  * packages this object delegates to.
  */
object Graft {

  /** Local session with the engine's tuned defaults + Catalyst extensions. */
  def session(cores: Int = Runtime.getRuntime.availableProcessors): SparkSession =
    GraftSession.local(cores)

  /** The full named-query registry (SparkEntry.queries).
    *
    * Cache lifecycle: every query builds inside a [[core.CacheScope]],
    * so internal cached intermediates (LSH signatures, shingle arrays,
    * CC label snapshots) are released after the FIRST completed action
    * on the returned DataFrame — run-and-consume-once costs no storage.
    * Acting on the same result AGAIN recomputes from lineage (still
    * correct, no longer cache-assisted); a consumer that will
    * materialize a result several times should `.persist()` it — a
    * caller-owned persist is never touched by the scope. Results built
    * but never materialized are reclaimed after 64 newer scopes arm. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Load one of the standard tables from a scale-factor directory. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables(spark, dir, name)

  /** Reference-shaped WordCount over a text file (word_count.rs API). */
  def wordCount(spark: SparkSession, path: String, partitions: Int = 0): ops.WordCount =
    new ops.WordCount(spark, path, partitions)

  /** Integer GEMM at the reference shape, coordinate form (i, j, v). */
  def gemm(spark: SparkSession): DataFrame =
    queries("gemm1_row_checksum")(spark, "")

  /** Backward as-of join (latest event at or before each probe). */
  def asOfJoin(probes: DataFrame, events: DataFrame, key: String,
      probeTs: String, eventTs: String, payload: Seq[String]): DataFrame =
    ops.AsOfJoin.backward(probes, events, key, probeTs, eventTs, payload)

  /** First k rows per key via the custom partial+final heap operator. */
  def topKPerKey(df: DataFrame, keys: Seq[String],
      orderBy: Seq[(String, Boolean)], k: Int): DataFrame =
    plans.TopKPerKey(df, keys, orderBy, k)

  /** Salted two-phase count for skewed keys. */
  def saltedCount(df: DataFrame, keys: Seq[String], saltBuckets: Int): DataFrame =
    ops.SkewSalt.saltedCount(df, keys, saltBuckets)

  /** Connected components by alternating large-star/small-star
    * contraction: (id, lbl) with lbl = min node id of the component.
    * The near-dup cluster resolver behind x12_dedup_clusters — the
    * edge list collapses toward a star forest each round, so dense
    * template clusters (quadratic verified-pair sets) cost one full
    * pass, not one per round. Scoped: the internal snapshot is released
    * after the result's FIRST materialization (no per-call storage
    * leak). A later re-materialization is still correct and stays
    * cheap — recompute re-reads the loop's retained shuffle files
    * rather than re-running the iteration — but callers that will act
    * on the result many times should persist it. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    core.CacheScope.scoped(ops.ConnectedComponents.stars(nodes, edges))

  /** Streaming exact dedup by event_id, state bounded by the watermark. */
  def streamDedupe(events: DataFrame): DataFrame =
    streaming.StreamOps.dedupe(events)

  /** Codegen'd in-order dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column = core.Cols.dot(a, b)
}
