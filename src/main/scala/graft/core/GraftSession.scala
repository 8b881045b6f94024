package graft.core

import graft.functions.DotProduct
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Catalyst extension pack: registers graft's native expressions with
  * the SQL function registry, so `spark.sql("... graft_dot(a, b) ...")`
  * works anywhere the session does — the SparkSessionExtensions path
  * SURVEY.md §2C/§4 calls for custom operators. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_set"),
      new ExpressionInfo(classOf[graft.functions.ShingleHashSet].getName, "graft_shingle_set"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (children.size != 2) throw new IllegalArgumentException(
          s"graft_shingle_set(str, n) takes 2 arguments, got ${children.size}")
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_shingle_set(str, n): n must be an integer literal, got $other")
        }
        graft.functions.ShingleHashSet(children(0), n)
      }))
    // auto-accelerate the declarative aggregate(zip_with(...)) spelling
    ext.injectOptimizerRule(_ => graft.functions.DotProductRewrite)
    // whole-operator custom plan: per-key top-k (partial + final)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

/** Session factory with the engine's tuned defaults: UTC, AQE (default
  * on in Spark 4), shuffle parallelism sized to the core count rather
  * than the 200 default, and graft's Catalyst extensions installed. */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen CLASS cache (static conf, default 100
      // entries). The trained-codebook family (x29/x32/x33/x34/x37/
      // x47) bakes literal centroid tables into its plans — K literal
      // dot products per assignment, 128 cells at sf0.1 since x34's
      // corpus-scaled K — so one suite pass generates far more than
      // 100 distinct codegen units and the LRU thrashes: round-7
      // bench diag showed x37 re-Janino-compiling ~100 classes on
      // EVERY timed run (janino_ms 22s of a 9s-median row, the
      // dominant term). 2000 entries lets the warm pass's
      // compilations survive the whole suite; cached GeneratedClass
      // handles are small (the compiled code lives in metaspace
      // either way), so the cost is a few MB of heap.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // ...and keep the stage id out of the generated class name, so
      // that cache can hit. AQE numbers whole-stage pipelines in the
      // order it plans query stages, which follows the order earlier
      // stages finish; with the id in the name, the same pipeline
      // renumbered is new source and is Janino-compiled again on the
      // query thread, then JIT-compiled again: a cost that depends on
      // timing. opsbench traces showed 18 Janino compiles per
      // flooded_ingest cycle and 8 per audit_churn cycle; without the
      // id they fall to 0.7 and 2.7 (on audit_churn the rest are the
      // unique- and duplicate-key variants of a broadcast join, each
      // compiled once). The id only served debugging.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // AQE coalescing stays at Spark's parallelism-first DEFAULT.
      // Round 15 measured the size-first alternative
      // (coalescePartitions.parallelismFirst=false, the usual remedy
      // for the "8 cores beats 32 at sf0.1" task-overhead signature):
      // a shuffle-heavy subset improved 32.0 -> 29.7 s, but the FULL
      // suite regressed (253.6 s vs 248.0) because size-first
      // coalescing collapses small-byte/high-work WINDOW inputs to 1-2
      // partitions and serializes their sorts — x43_forward_fill
      // 0.81 -> 2.01 s (a persistent gate breach), r7 0.69 -> 1.16,
      // r12 0.45 -> 0.73 (bench_r15c.json is the recorded evidence).
      // Window cost here tracks ROWS, not bytes, which is exactly the
      // case parallelism-first protects; at 100 TB the two policies
      // converge (partitions are advisory-sized either way).
      // parquet reader defaults Tables relies on: read TIMESTAMP(NANOS)
      // as long (the vectorized reader rejects nanos) and don't infer
      // NTZ — Tables normalizes everything to TimestampType itself.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
