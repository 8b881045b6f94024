package graft.llm

import graft.core.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic fixed-point Lloyd's k-means — the IVF codebook
  * trainer x13's fixture stood in for ("at scale the codebook comes
  * from a k-means training job", round-5 VERDICT task 2).
  *
  * Everything is reproducible and oracle-checkable in DuckDB:
  *   - INIT is the K vectors with vec_id < K (no RNG);
  *   - ASSIGN is argmin over cc - 2*v·c with ties to the smaller
  *     centroid id — in-order native dot products, the x13 pattern;
  *   - UPDATE is a FIXED-POINT mean: per dimension,
  *     floor(sum(floor(x * 2^16)) / n) / 2^16. Every step is exact —
  *     x is a float32-exact double, scaling by 2^16 never rounds,
  *     the sums are int64, and the final floor sits >= 1/n from the
  *     nearest integer while the double quotient is within half an
  *     ulp (~1e-10) of the true value — so centroids are bit-identical
  *     dyadic rationals no matter the aggregation order, in either
  *     engine. A plain double mean would hash-diverge run to run.
  *   - EMPTY CELLS keep their previous centroid (COALESCE in the
  *     oracle), a total rule instead of an undefined one.
  *
  * 100 TB shape: the trainer is a driver-hosted loop (the standard
  * k-means layout — MLlib's trainer is the same shape). Per iteration:
  * one LINEAR scan assigning cells against K literal centroids baked
  * into the codegen'd plan (no join, no shuffle of the vectors), one
  * partial aggregation down to K*dims groups (map-side combine does
  * almost all the work), and a driver collect of exactly K*dims
  * numbers. Iteration count is fixed (Iters), so the whole training
  * job is O(Iters) scans — and the collect is bounded by the codebook
  * size, never the data.
  */
object KMeans {

  /** 2^16 — exact power-of-two fixed-point scale. */
  val Scale = 65536.0

  val K = 16
  val Iters = 3

  /** Nearest-centroid cell id for a vector column — the native
    * NearestCells expression: the codebook rides the plan as a
    * REFERENCE ARRAY and the argmin is a primitive loop inside
    * whole-stage codegen. A pure map, no join, compact generated code
    * at ANY K. (The pre-round-9 form unrolled K literal centroids
    * into one expression tree; at K = 64 — scaledK of the sf0.1
    * corpus — the generated method crossed janino's 64 KB limit and
    * the stage fell back to interpreted eval. Bit-identical scoring
    * and tie rule; see NearestCells' scaladoc.) */
  def assignCell(v: Column, cent: IndexedSeq[Array[Double]]): Column =
    graft.functions.VectorExpressions.nearestCell(v, cent)

  /** The `nprobe` nearest cell ids, ascending by (score, cid) — the
    * multi-probe assignment (x34's semantic dedup). Ties break to the
    * smaller centroid id exactly like `assignCell` and like
    * `row_number() OVER (ORDER BY score, cid)` in the oracle. Still a
    * pure map: one codebook loop + a bounded insertion sort per row,
    * no join. */
  def assignCells(v: Column, cent: IndexedSeq[Array[Double]], nprobe: Int): Column =
    graft.functions.VectorExpressions.nearestCells(v, cent, nprobe)

  /** Runs Iters Lloyd iterations; returns the centroid history
    * (element 0 = init, element Iters = final codebook). Each element
    * is indexed by cell id. */
  /** Corpus-scaled cell count: the smallest power of two whose square
    * covers n — the flat-IVF K ≈ sqrt(n) rule that keeps candidate
    * work O(n^1.5) instead of the O(n^2) a FIXED K degrades to once
    * cells outgrow the corpus structure (x34's round-7 scaling run
    * measured exactly that: fixed K=16 at 20k vectors = 27.7x per 10x
    * data). Integer-exact on purpose: a float
    * pow(2, ceil(log2(sqrt(n)))) rides representation boundaries at
    * exact powers (n = 256 could yield 16 or 32 depending on the last
    * ulp of log2), so both engines state it as "MIN p in powers-of-two
    * with p*p >= n" — no FP anywhere. At the sf0.01 gate (n = 200)
    * this yields 16 = the fixed K of the search family, so the two
    * families stay comparable at gate scale. */
  def scaledK(n: Long): Int =
    Iterator.iterate(1L)(_ * 2).find(p => p * p >= n).get.toInt

  /** Default [[trainingStride]] cap: 65,536 training vectors. Chosen so
    * cap >= scaledK(n) for every n the stride rule can produce (the
    * seeds must fit in the sample) with ~2x headroom at the boundary,
    * while keeping a Lloyd iteration's assign work bounded at
    * cap * K <= 2^32 dot products no matter the corpus. */
  val TrainCap = 65536L

  /** Deterministic BOUNDED training set stride. Lloyd training costs
    * O(Iters * |train| * K) literal dot products, and with K =
    * [[scaledK]] growing as sqrt(n) a full-corpus training pass is
    * O(n^1.5) — immaterial at the tested scales (sf1.0 = 20k vectors,
    * 15M dots) but unacceptable at 1e9 vectors (3e13 dots). Every
    * production IVF trainer bounds it the same way (FAISS trains on a
    * capped sample, then encodes the full corpus); the sample here is
    * the vec_id stride ring — keep ids divisible by the smallest
    * power-of-two stride with n/stride <= cap. Deterministic, oracle-
    * restatable as `WHERE vec_id % stride = 0`, and IDENTITY (stride
    * 1) at every tested scale factor, so every gated oracle replays
    * unchanged; KMeansSpec exercises stride > 1 directly. Centroid
    * quality on a >=64k uniform sample is statistically
    * indistinguishable from full-corpus training — the encode step
    * still sees every vector. */
  def trainingStride(n: Long, cap: Long = TrainCap): Long =
    Iterator.iterate(1L)(_ * 2).find(s => n / s <= cap).get

  /** The bounded training set itself: `vecs` restricted to the
    * [[trainingStride]] ring — literally `vecs` (not even a filter
    * node) below the cap, so plans at tested scales are unchanged. */
  def trainingSet(vecs: DataFrame, n: Long, cap: Long = TrainCap): DataFrame = {
    val s = trainingStride(n, cap)
    if (s == 1L) vecs else vecs.filter(col("vec_id") % lit(s) === 0)
  }

  /** DuckDB restatement of [[scaledK]] as a 1-row CTE `kk (k)` over
    * `$eTable` — the same powers-of-two argmin, no floats. */
  def scaledKSql(eTable: String): String =
    s"""kk AS (SELECT MIN(p) AS k FROM
       |    (SELECT CAST(UNNEST([1,2,4,8,16,32,64,128,256,512,1024,2048,4096,
       |                    8192,16384,32768,65536,131072,262144]) AS BIGINT) AS p) pw,
       |    (SELECT count(*) AS n FROM $eTable) cnt
       |  WHERE p * p >= n)""".stripMargin

  def train(vecs: DataFrame): Seq[IndexedSeq[Array[Double]]] = train(vecs, K)

  /** As [[train]] with an explicit cell count `k` (seeds = the k
    * smallest-vec_id vectors of the TRAINING SET — identical to the
    * vec_id < k rule on a contiguous-id corpus, and still well-defined
    * when the caller passes a [[trainingSet]] stride ring; callers
    * pass [[scaledK]] of the corpus size to make capacity track the
    * data — x34). */
  def train(vecs: DataFrame, k: Int): Seq[IndexedSeq[Array[Double]]] = {
    val init: IndexedSeq[Array[Double]] = vecs
      .orderBy("vec_id")
      .limit(k)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .toIndexedSeq
    require(init.length == k, s"need $k seed vectors, found ${init.length}")
    var hist = Vector(init)
    for (_ <- 1 to Iters) {
      val cent = hist.last
      val sums = vecs
        .select(assignCell(col("v"), cent).as("cell"), col("v"))
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        // floor(x * 2^16): exact — see object doc. floor() is LongType.
        .withColumn("qx", floor(col("x") * lit(Scale)))
        .groupBy("cell", "d")
        .agg(sum("qx").as("s"), count(lit(1)).as("n"))
        .collect()
      val m = sums.map(r =>
        (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val next = (0 until k).map { j =>
        if (m.contains((j.toLong, 0)))
          cent(j).indices.map { d =>
            val (s, n) = m((j.toLong, d))
            math.floor(s.toDouble / n) / Scale
          }.toArray
        else cent(j) // empty cell keeps its previous centroid
      }
      hist = hist :+ next
    }
    hist
  }

  /** Product-codebook trainer: M independent `sub`-dim Lloyd jobs over
    * the disjoint subspace slices of `v`, FUSED so each iteration is
    * ONE scan of the vectors instead of M — all M assignments compute
    * in a single projection (M*K codegen'd dot products), the
    * posexplode tags every element with its (subspace, within-subspace
    * dim), and one partial aggregation reduces to M*K*sub groups
    * before a single bounded collect. Results are bit-identical to M
    * separate `train` runs (asserted by KMeansSpec): subspace
    * assignments are independent and the fixed-point update never sees
    * the other subspaces. Returns the FINAL codebook per subspace. */
  def trainProduct(vecs: DataFrame, m: Int, sub: Int): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val seeds = vecs
      .orderBy("vec_id")
      .limit(K)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .toIndexedSeq
    require(seeds.length == K, s"need $K seed vectors, found ${seeds.length}")
    var cent: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(s => seeds.map(_.slice(s * sub, (s + 1) * sub)))
    for (_ <- 1 to Iters) {
      val cells = array((0 until m).map(s =>
        assignCell(slice(col("v"), s * sub + 1, sub), cent(s))): _*)
      val sums = vecs
        .select(cells.as("cells"), col("v"))
        .select(col("cells"), posexplode(col("v")).as(Seq("pos", "x")))
        .withColumn("m", (col("pos") / sub).cast("int"))
        .select(col("m"),
          element_at(col("cells"), col("m") + 1).as("cell"),
          (col("pos") % sub).cast("long").as("d"),
          floor(col("x") * lit(Scale)).as("qx"))
        .groupBy("m", "cell", "d")
        .agg(sum("qx").as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4))).toMap
      cent = cent.zipWithIndex.map { case (cb, s) =>
        (0 until K).map { j =>
          if (byKey.contains((s, j.toLong, 0L)))
            cb(j).indices.map { d =>
              val (sm, n) = byKey((s, j.toLong, d.toLong))
              math.floor(sm.toDouble / n) / Scale
            }.toArray
          else cb(j)
        }
      }
    }
    cent
  }

  /** Joint coarse + product trainer (x33's IVF-PQ shape): the
    * full-space codebook and the m subspace codebooks train in the
    * SAME Iters scans — each vector element contributes twice per
    * iteration (once to its coarse (cell, dim) group, once to its
    * subspace (cell, within-dim) group), so the whole index trains in
    * Iters linear passes instead of 2*Iters. Bit-identical to running
    * `train` and `trainProduct` separately (KMeansSpec): the spaces
    * share nothing but the scan. */
  def trainJoint(vecs: DataFrame, m: Int, sub: Int)
      : (IndexedSeq[Array[Double]], IndexedSeq[IndexedSeq[Array[Double]]]) =
    trainJoint(vecs, m, sub, K)

  /** As the 3-arg form with an explicit COARSE cell count (callers pass
    * [[scaledK]] of the corpus size so IVF capacity tracks the data —
    * round-8 VERDICT task 1: a K pinned at 16 degrades cell-pruned
    * search toward a 1/16-corpus linear scan per query at 100x, the
    * exact saturation x34's round-7 scaling run measured for dedup).
    * The PQ subspace codebooks stay at K = 16 on purpose: per-subspace
    * code cardinality is the COMPRESSION parameter (it fixes the code
    * width — 4 bits here), not a capacity parameter; FAISS's IVFPQ
    * scales nlist with the corpus while keeping 2^nbits fixed the same
    * way. Coarse seeds are the max(coarseK, K) smallest-vec_id vectors
    * of the training set (== vec_id < coarseK on a contiguous-id
    * corpus, still well-defined on a [[trainingSet]] stride ring),
    * subspace seeds the first K of those — the oracle restates the
    * former via [[scaledKSql]]'s kk CTE and the latter literally. */
  def trainJoint(vecs: DataFrame, m: Int, sub: Int, coarseK: Int)
      : (IndexedSeq[Array[Double]], IndexedSeq[IndexedSeq[Array[Double]]]) = {
    val nSeed = math.max(coarseK, K)
    val seeds = vecs
      .orderBy("vec_id")
      .limit(nSeed)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .toIndexedSeq
    require(seeds.length == nSeed, s"need $nSeed seed vectors, found ${seeds.length}")
    var coarse: IndexedSeq[Array[Double]] = seeds.take(coarseK)
    var subs: IndexedSeq[IndexedSeq[Array[Double]]] =
      (0 until m).map(s => seeds.take(K).map(_.slice(s * sub, (s + 1) * sub)))
    for (_ <- 1 to Iters) {
      val cells = array(assignCell(col("v"), coarse) +:
        (0 until m).map(s =>
          assignCell(slice(col("v"), s * sub + 1, sub), subs(s))): _*)
      val sp = (col("pos") / sub).cast("int") + 1
      val sums = vecs
        .select(cells.as("cells"), col("v"))
        .select(col("cells"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("x"), explode(array(
          struct(lit(0).as("sp"), element_at(col("cells"), 1).as("cell"),
            col("pos").cast("long").as("d")),
          struct(sp.as("sp"), element_at(col("cells"), sp + 1).as("cell"),
            (col("pos") % sub).cast("long").as("d")))).as("t"))
        .select(col("t.sp"), col("t.cell"), col("t.d"),
          floor(col("x") * lit(Scale)).as("qx"))
        .groupBy("sp", "cell", "d")
        .agg(sum("qx").as("s"), count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4))).toMap
      def next(space: Int, cb: IndexedSeq[Array[Double]]): IndexedSeq[Array[Double]] =
        cb.indices.map { j =>
          if (byKey.contains((space, j.toLong, 0L)))
            cb(j).indices.map { d =>
              val (sm, n) = byKey((space, j.toLong, d.toLong))
              math.floor(sm.toDouble / n) / Scale
            }.toArray
          else cb(j)
        }
      coarse = next(0, coarse)
      subs = subs.zipWithIndex.map { case (cb, s) => next(s + 1, cb) }
    }
    (coarse, subs)
  }

  /** The DuckDB restatement: Iters unrolled assign/update CTE pairs
    * over `e (vec_id, v)` and init CTE c0, ending in cell assignments
    * `af (vec_id, v, cell)` against the trained codebook. */
  def oracleCtes: String = oracleCtes("e", 64, "")

  /** Parameterized form: trains over `$eTable (vec_id, v)` with
    * `dims`-element vectors, every CTE name prefixed with `pfx` so
    * several trainers (x32's per-subspace codebooks) can coexist in
    * one WITH clause. Final assignments land in `${pfx}af`. */
  def oracleCtes(eTable: String, dims: Int, pfx: String): String =
    oracleCtes(eTable, dims, pfx, K.toString)

  /** As above with an explicit seed bound SQL expression — pass
    * `"(SELECT k FROM kk)"` next to [[scaledKSql]] for corpus-scaled
    * capacity (the CTE bodies are K-independent: assignment is a
    * generic argmin over whatever c0 holds, updates group by cell). */
  /** Stand-alone nearest-centroid assignment CTE: `$name (vec_id, v,
    * cell)` = every row of `$eTable` assigned to its nearest centroid
    * in `$centTable (cid, cv)` — the same (score, cid) argmin as
    * [[assignCell]]. Public so consumers can assign vectors the
    * TRAINER never saw against an already-trained codebook (b8's
    * incremental index append). */
  def oracleAssign(name: String, eTable: String, centTable: String): String =
    s"""$name AS (SELECT vec_id, v, cid AS cell FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY (list_dot_product(c.cv, c.cv) - 2 * list_dot_product(e.v, c.cv)), c.cid) AS rk
       |    FROM $eTable e CROSS JOIN $centTable c) t
       |  WHERE rk = 1)""".stripMargin

  def oracleCtes(eTable: String, dims: Int, pfx: String, seedBound: String): String = {
    def assign(name: String, c: String): String = oracleAssign(name, eTable, c)
    def update(a: String, prev: String, next: String): String =
      s"""${next}s AS (SELECT cell, g.d, SUM(CAST(floor(a.v[g.d] * 65536.0) AS BIGINT)) AS s, COUNT(*) AS n
         |  FROM $a a CROSS JOIN (SELECT UNNEST(range(1, ${dims + 1})) AS d) g GROUP BY cell, g.d),
         |${next}l AS (SELECT cell AS cid, list(floor(CAST(s AS DOUBLE) / n) / 65536.0 ORDER BY d) AS cv
         |  FROM ${next}s GROUP BY cell),
         |$next AS (SELECT p.cid, COALESCE(l.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${next}l l ON l.cid = p.cid)""".stripMargin
    val iters = (1 to Iters).map { i =>
      assign(s"${pfx}a$i", s"${pfx}c${i - 1}") + ",\n" +
        update(s"${pfx}a$i", s"${pfx}c${i - 1}", s"${pfx}c$i")
    }.mkString(",\n")
    s"""${pfx}c0 AS (SELECT vec_id AS cid, v AS cv FROM $eTable WHERE vec_id < $seedBound),
       |$iters,
       |${assign(s"${pfx}af", s"${pfx}c$Iters")}""".stripMargin
  }
}
