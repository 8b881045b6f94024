package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Remaining SURVEY §5 item-3 properties: dedup idempotence and window
  * aggregation invariance under input permutation (seeded cases). */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val docs = Seq.fill(300)(rnd.nextInt(40)).zipWithIndex
      .map { case (t, i) => (i.toLong, s"text body number $t") }.toDF("doc_id", "text")
    val once = docs.dropDuplicates("text")
    val twice = once.dropDuplicates("text")
    assert(once.count() == twice.count())
    assert(once.select("text").collect().map(_.getString(0)).sorted.toSeq ==
      twice.select("text").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("connected components match a union-find oracle on random graphs, in O(log n) rounds") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(150)
      val m = rnd.nextInt(2 * n)
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val oracle = nodes.map(i => i -> find(i.toInt).toLong).toMap
      val (df, rounds) = graft.ops.ConnectedComponents.starsCounted(
        nodes.toDF("id"), edges.toDF("a", "b"))
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find parents compress toward minima by construction above
      val canon = oracle.map { case (k, v) => k -> oracle(v) }
      assert(got == canon, s"trial $trial (n=$n, m=${edges.size})")
      val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 3
      assert(rounds <= bound, s"trial $trial: $rounds rounds for n=$n (bound $bound)")
      TestSpark.releaseAllRdds()
    }
  }

  test("windowed counts are invariant under input row permutation") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (1 to 500).map(i => (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(100).toLong))
    def ranked(input: Seq[(Long, Long, Long)]) = {
      val w = Window.partitionBy("k").orderBy(col("v"), col("id"))
      input.toDF("id", "k", "v")
        .select(col("id"), col("k"), row_number().over(w).as("rn"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1))
    }
    val base = ranked(rows)
    val shuffled = ranked(rnd.shuffle(rows))
    assert(base.toSeq == shuffled.toSeq)
  }
}
