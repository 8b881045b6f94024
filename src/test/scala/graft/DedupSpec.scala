package graft

import graft.llm.MinHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-operator semantics on constructed corpora. */
class DedupSpec extends AnyFunSuite {
  import TestSpark._

  private def docsDF(rows: Seq[(Long, String)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def tripleSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def lanesOf(sig: DataFrame): Map[Long, IndexedSeq[Long]] =
    sig.collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap

  /** Plain-Scala restatement of the banded rule over collected lanes:
    * per band-pair bucket, all pairs if it holds at most `cap` base
    * docs, otherwise the anchor (min base id) star plus, with `chain`,
    * successors in (mh0..mh15, doc_id) order; then a full 16-lane
    * count, kept at >= `threshold`. `probe = None` is the symmetric
    * rule over `base`; with a probe side only probe–base pairs count,
    * probe end first, and an anchor that is a probe doc stars out to
    * its whole bucket. */
  private def bandedRef(lanes: Map[Long, IndexedSeq[Long]], base: Set[Long],
      probe: Option[Set[Long]], rule: MinHash.Rule, threshold: Int): Set[(Long, Long, Long)] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val bySig = Ordering.by((d: Long) => (lanes(d), d))
    def agree(a: Long, b: Long) = (0 until 16).count(i => lanes(a)(i) == lanes(b)(i)).toLong
    def band(d: Long, b: Int) = (4 * b until 4 * b + 4).map(lanes(d))
    val docs = base ++ probe.getOrElse(Set.empty)
    val buckets = for {
      i <- 0 until 4; j <- (i + 1) until 4
      ms <- docs.groupBy(d => (band(d, i), band(d, j))).values
    } yield ms.toSeq.sorted
    val cand = buckets.flatMap { ms =>
      val bs = ms.filter(base)
      val ps = probe.fold(bs)(p => ms.filter(p))
      val isProbe = probe.getOrElse(base)
      val chainPairs =
        if (!rule.chain) Nil
        else {
          val s = ms.sorted(bySig)
          s.zip(s.tail).collect {
            case (x, y) if probe.isEmpty => (x, y)
            case (x, y) if isProbe(x) && base(y) => (x, y)
            case (x, y) if isProbe(y) && base(x) => (y, x)
          }
        }
      if (bs.isEmpty) Nil
      else if (bs.size <= rule.cap)
        for (x <- ps; y <- bs if (if (probe.isEmpty) x < y else x != y)) yield (x, y)
      else {
        val a = bs.head
        val star =
          if (probe.isEmpty) bs.tail.map(y => (a, y))
          else ps.filter(_ != a).map(x => (x, a)) ++
            (if (isProbe(a)) bs.tail.map(y => (a, y)) else Nil)
        star ++ chainPairs
      }
    }
    cand.map { case (x, y) => (x, y, agree(x, y)) }.filter(_._3 >= threshold).toSet
  }

  private val rules = Seq(
    "exact" -> MinHash.Rule.Exact, "anchor" -> MinHash.Rule.Anchor,
    "hybrid" -> MinHash.Rule(16, chain = false), "chain" -> MinHash.Rule(16, chain = true),
    "cap-4-chain" -> MinHash.Rule(4, chain = true))

  /** banded == [[bandedRef]] on every (shape, rule, threshold); a shape
    * is its base and optional probe doc_id predicates over `sig`. */
  private def assertBandedIsRef(sig: DataFrame,
      shapes: Seq[(String, Column, Option[Column])], thresholds: Seq[Int]): Unit = {
    val lanes = lanesOf(sig)
    def ids(c: Column) = sig.filter(c).select("doc_id").collect().map(_.getLong(0)).toSet
    for ((shape, baseC, probeC) <- shapes; (name, rule) <- rules; t <- thresholds) {
      val got = tripleSet(MinHash.banded(MinHash.bandPairKeysSorted(sig.filter(baseC)),
        probeC.map(c => MinHash.bandPairKeysSorted(sig.filter(c))), rule, t))
      val want = bandedRef(lanes, ids(baseC), probeC.map(ids), rule, t)
      assert(got == want, s"$shape/$name/t=$t: missing=${(want -- got).take(5)} " +
        s"extra=${(got -- want).take(5)}")
    }
  }

  /** The x87 drift-chain fixture: 100 docs share lanes 0..7 (one
    * band-pair bucket far past the cap) and drift one window step per
    * id on lanes 8..15, so consecutive ids agree 14/16 and nothing
    * else reaches 14. */
  private def chainSig(): DataFrame = spark.range(100).select(
    col("id").as("doc_id") +: (0 until 16).map { i =>
      (if (i < 8) lit(0L) else expr(s"(id + ${i - 8}) div 4")).as(s"mh$i")
    }: _*)

  test("native shingle-set expression == explode + collect_set on real documents") {
    val docs = graft.core.Tables(spark, sf0001, "documents").limit(50)
    for (n <- Seq(5, 9)) {
      val native = MinHash.shingleSets(docs, n)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val declarative = MinHash.shingles(docs, n).groupBy("doc_id")
        .agg(sort_array(collect_set(col("h"))).as("hs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(native == declarative, s"n=$n")
    }
    // degenerate inputs: shorter than the gram, exactly the gram, empty
    val edge = MinHash.shingleSets(docsDF(Seq(1L -> "ab", 2L -> "abcde", 3L -> "")), 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(edge(1L).isEmpty && edge(3L).isEmpty && edge(2L).length == 1)
  }

  test("short documents (empty shingle sets) never form LSH candidate pairs") {
    val docs = docsDF(Seq(1L -> "ab", 2L -> "cd", 3L -> "ef",
      4L -> "the quick brown fox jumps over the lazy dog",
      5L -> "the quick brown fox jumps over the lazy dog"))
    // 9-gram: docs 1-3 are shorter than the gram. Unfiltered, their
    // all-NULL signatures would share one empty band key and pair
    // quadratically; the c > 0 filter (as in x2/l2) drops them.
    val sig = MinHash.signaturesFromSets(
      MinHash.shingleSets(docs, 9).filter(col("c") > 0))
    val cand = MinHash.candidates(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set(4L -> 5L))
  }

  test("native simhash expression == declarative token pipeline on real documents") {
    val docs = graft.core.Tables(spark, sf0001, "documents").limit(100)
    val native = docs.select(col("doc_id"),
        graft.functions.ShingleExpressions.simhash32(lower(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = docs
      .select(col("doc_id"), explode(graft.core.Cols.wsTokens(col("text"))).as("t"))
      .select(col("doc_id"), graft.llm.DedupQueries.tokenHash32(col("t")).as("th32"))
    val acc = toks.groupBy("doc_id").agg(
      sum(when(shiftright(col("th32"), 0).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as("acc0"),
      (1 until 32).map { b =>
        sum(when(shiftright(col("th32"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"acc$b")
      }: _*)
    val simhash = (0 until 32)
      .map(b => when(col(s"acc$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    val declarative = acc.select(col("doc_id"), simhash.as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declarative)
    // token-less text → null, mirroring absence from the aggregation
    val empty = docsDF(Seq(1L -> "   ", 2L -> "x"))
      .select(col("doc_id"), graft.functions.ShingleExpressions.simhash32(lower(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(empty(1L).isEmpty && empty(2L).nonEmpty)
  }

  test("graft_shingle_set is callable from SQL via SparkSessionExtensions") {
    val got = spark.sql("SELECT graft_shingle_set('ababa', 2) AS hs")
      .collect()(0).getSeq[Long](0)
    // 'ab' -> 97*31+98 = 3105, 'ba' -> 98*31+97 = 3135; sorted distinct
    assert(got == Seq(3105L, 3135L))
  }

  test("minhash signatures: identical texts get identical signatures") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val sig = MinHash.signatures(MinHash.shingles(docsDF(Seq(1L -> txt, 2L -> txt, 3L -> "completely different content here with other words")), 5))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("minhash candidates find identical pair and skip unrelated pair") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val sig = MinHash.signatures(MinHash.shingles(docsDF(Seq(
      1L -> txt, 2L -> txt,
      3L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn")), 5))
    val cand = MinHash.candidates(sig).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)))
  }

  test("band-pair candidates: lossless for >= 14/16 pairs, subset of single-band") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val sig = MinHash.signatures(MinHash.shingles(docsDF(Seq(
      1L -> txt, 2L -> txt,
      3L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo nnn")), 5))
    val paired = pairSet(MinHash.banded(
      MinHash.bandPairKeysSorted(sig), None, MinHash.Rule.Exact, 0))
    val single = MinHash.candidates(sig).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs agree on all 16 minhashes -> must survive the
    // stricter 2-of-4 banding; a band-pair match implies a band match
    assert(paired.contains((1L, 2L)))
    assert(!paired.contains((1L, 3L)))
    assert(paired.subsetOf(single))
  }

  test("x3 plan is a keyed equi-join: no nested-loop over the pair space") {
    val df = graft.SparkEntry.queries("x3_embedding_neardup")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    spark.catalog.clearCache()
  }

  test("exact dedup counts duplicate groups") {
    val sp = spark
    import sp.implicits._
    val df = Seq("a", "a", "b", "c", "c", "c").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val g = df.groupBy(sha2(col("text"), 256).as("h")).agg(count(lit(1)).as("c"))
      .agg(sum("c").as("total"), count(lit(1)).as("distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("groups"))
      .collect().head
    assert(g.getLong(0) == 6 && g.getLong(1) == 3 && g.getLong(2) == 2)
  }

  test("x21 skew stress: 1000-doc template bucket resolves to one cluster, singletons intact") {
    // The adversarial-skew row's entire contract (it has no SQL oracle —
    // its corpus is generated in-plan): every hot-bucket doc lands in
    // ONE 1000-doc cluster and none of the 4000 distinct docs is
    // spuriously merged. The dir argument is ignored by design.
    val rows = SparkEntry.queries("x21_skew_neardup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 4000L), (1000L, 1L)),
      s"cluster-size histogram diverged: $rows")
    spark.catalog.clearCache()
  }

  test("x85 capped candidates: recall intact on the planted mega-cluster, volume linear") {
    // The RECALL audit behind the gated row: capping candidates to one
    // anchor pair per bucket member may not fragment the planted
    // 1000-doc template cluster or merge any of the 4000 distinct docs
    // — and the audit columns must show the capped rule's candidate
    // volume is a small multiple of corpus size where the uncapped
    // bucket-pair count is quadratic in cluster size (>= C(1000,2)).
    val rows = SparkEntry.queries("x85_capped_neardup")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(t => (t._1, t._2)) == Seq((1L, 4000L), (1000L, 1L)),
      s"capped cluster-size histogram diverged: $rows")
    val (capped, uncapped) = (rows.head._3, rows.head._4)
    assert(capped <= 6L * 5000L,
      s"capped candidate volume $capped exceeds the 6-buckets/doc linear bound")
    assert(uncapped >= 999L * 1000L / 2,
      s"uncapped bucket-pair count $uncapped lost the quadratic template term")
    spark.catalog.clearCache()
  }

  test("asymmetric hybrid: lossless at cap=infinity, escalated buckets star both ways") {
    // Lossless leg on the real corpus: with a cap no bucket reaches,
    // the asymmetric hybrid IS the raw batch×all band join — candidate
    // sets must be identical.
    val docs = MinHash.docs(spark, sf0001)
    val sig = MinHash.signaturesFromSets(
      MinHash.shingleSets(docs, 5).filter(col("c") > 0)).cache()
    val hybrid = (probe: DataFrame, base: DataFrame, cap: Int) => pairSet(
      MinHash.banded(base, Some(probe), MinHash.Rule(cap, chain = false), 0))
    try {
      val probe = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") % 4 === 3))
      val base = MinHash.bandPairKeysSorted(sig)
      val raw = pairSet(probe.select("doc_id", "bp", "k").toDF("d1", "bp", "k")
        .join(base.select("doc_id", "bp", "k").toDF("d2", "bp2", "k2"),
          col("bp") === col("bp2") && col("k") === col("k2") &&
            col("d1") =!= col("d2"))
        .select("d1", "d2").distinct())
      assert(raw.nonEmpty && hybrid(probe, base, 1 << 30) == raw)
    } finally { sig.unpersist(false); spark.catalog.clearCache() }
    // Escalation legs on a planted flooded bucket: 20 identical
    // signatures, cap 4 — every band-pair bucket holds all 20 docs.
    val tiny = spark.range(20).select(
      col("id").as("doc_id") +: (0 until 16).map(i => lit(7L).as(s"mh$i")): _*)
    val baseK = MinHash.bandPairKeysSorted(tiny)
    // anchor (doc 0) NOT in the probe: each probe doc pairs with the
    // anchor only — one row per probe doc per bucket, never the bucket
    val a = hybrid(MinHash.bandPairKeysSorted(tiny.filter(col("doc_id").isin(5L, 7L))), baseK, 4)
    assert(a == Set((5L, 0L), (7L, 0L)))
    // anchor IS a probe doc: it stars out to the WHOLE bucket (without
    // this leg a batch doc that is a flooded bucket's minimum id would
    // never be candidate-paired with the cluster it belongs to)
    val b = hybrid(MinHash.bandPairKeysSorted(tiny.filter(col("doc_id").isin(0L, 7L))), baseK, 4)
    assert(b == (Set((7L, 0L)) ++ (1L to 19L).map(d => (0L, d))))
  }

  test("packed band-pair keys bucket exactly as the retired string keys") {
    // Round 15: bandPairKeysSorted packs the 8 keyed lanes
    // into 4 longs instead of the comma-joined decimal string. The
    // packing is injective (lanes < 2^31), so the partition of key
    // rows into (bp, k) buckets must be IDENTICAL to the string form's
    // — this is the parity oracle: the retired string key, inlined.
    def stringKeys(s: DataFrame) = {
      val withBk = s.select(col("doc_id") +: (0 until 4).map { b =>
        concat_ws(",", (0 until 4).map(i => col(s"mh${4 * b + i}")): _*).as(s"bk$b")
      }: _*)
      val pairKeys = for { i <- 0 until 4; j <- (i + 1) until 4 } yield
        struct(lit(4 * i + j).as("bp"),
          concat_ws("|", col(s"bk$i"), col(s"bk$j")).as("k"))
      withBk.select(col("doc_id"), explode(array(pairKeys: _*)).as("e"))
        .select(col("doc_id"), col("e.bp").as("bp"), col("e.k").as("k"))
    }
    // a corpus with REAL collisions: the template cluster floods its
    // buckets, so bucket membership is non-trivial in both directions
    val corpus = MinHash.docs(spark, sf0001).select("doc_id", "text")
      .union(graft.llm.DedupQueries.templateCorpus(spark, 200, 1000)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val sig = MinHash.signaturesFromSets(
      MinHash.shingleSets(corpus, 9).filter(col("c") > 0)).cache()
    try {
      // bucket partition parity: the multiset of (bp, sorted member
      // list) over buckets is representation-independent
      def buckets(keys: DataFrame) = keys
        .groupBy("bp", "k").agg(sort_array(collect_list("doc_id")).as("ms"))
        .select("bp", "ms").collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(buckets(MinHash.bandPairKeysSorted(sig)
        .select("doc_id", "bp", "k")) == buckets(stringKeys(sig)))
      // end-to-end: the packed-key candidate join emits exactly the
      // pairs the STRING-keyed band join emits
      val viaString = pairSet(stringKeys(sig).toDF("d1", "bp", "k")
        .join(stringKeys(sig).toDF("d2", "bp2", "k2"),
          col("bp") === col("bp2") && col("k") === col("k2") &&
            col("d1") < col("d2"))
        .select("d1", "d2").distinct())
      assert(viaString.nonEmpty)
      assert(pairSet(MinHash.banded(MinHash.bandPairKeysSorted(sig), None,
        MinHash.Rule.Exact, 0)) == viaString)
    } finally { sig.unpersist(false); spark.catalog.clearCache() }
  }

  test("chain escalation: SNM successor leg recovers what the anchor star loses") {
    val sig = chainSig().cache()
    val keys = MinHash.bandPairKeysSorted(sig).cache()
    val near = (probe: Option[DataFrame], base: DataFrame, rule: MinHash.Rule) =>
      pairSet(MinHash.banded(base, probe, rule, 14))
    try {
      val truth = near(None, keys, MinHash.Rule.Exact)
      assert(truth == (0L to 98L).map(i => (i, i + 1)).toSet)
      // anchor-only escalation loses the chain; the SNM leg restores it
      assert(near(None, keys, MinHash.Rule(16, chain = false)) == Set((0L, 1L)))
      assert(near(None, keys, MinHash.Rule.Deployed) == truth)
      // asym form: a single probe doc mid-chain pairs with its sorted
      // neighbors (its true links), not just the useless anchor
      val probe = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") === 50L))
      val base = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") =!= 50L))
      assert(near(Some(probe), base, MinHash.Rule.Deployed) == Set((50L, 49L), (50L, 51L)))
      // lossless leg: with a cap no bucket reaches, the chain variant
      // IS the raw asymmetric band join (the chain leg never fires)
      val rawProbe = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") % 7 === 0))
      val hybrid = pairSet(MinHash.banded(keys, Some(rawProbe),
        MinHash.Rule(1 << 30, chain = true), 0))
      val raw = pairSet(rawProbe.select("doc_id", "bp", "k").toDF("d1", "bp", "k")
        .join(keys.select("doc_id", "bp", "k").toDF("d2", "bp2", "k2"),
          col("bp") === col("bp2") && col("k") === col("k2") &&
            col("d1") =!= col("d2"))
        .select("d1", "d2").distinct())
      assert(raw.nonEmpty && hybrid == raw)
    } finally {
      sig.unpersist(false); keys.unpersist(false); spark.catalog.clearCache()
    }
  }

  test("disjoint probe: batch–batch chain links never flag a probe doc (drift fixture)") {
    // base = ids 0-39 ∪ 60-99, probe = ids 40-59, all in one escalated
    // bucket of the x87 chain fixture. Only the two probe docs adjacent
    // to a base doc in signature order have a >= 14/16 base partner;
    // probe–probe successor links must not count (dedupBatch's shape).
    val chain = chainSig().cache()
    try {
      val inProbe = col("doc_id").between(40, 59)
      val near = MinHash.banded(
        MinHash.bandPairKeysSorted(chain.filter(!inProbe)),
        Some(MinHash.bandPairKeysSorted(chain.filter(inProbe))), MinHash.Rule.Deployed, 14)
        .select("d1").distinct().collect().map(_.getLong(0)).toSet
      assert(near == Set(40L, 59L))
    } finally { chain.unpersist(false); spark.catalog.clearCache() }
  }

  test("fused in-bucket verify == candidates + agreeAtLeast (sym and asym)") {
    // MinHash.banded's in-bucket verify (8 pinned lanes + the carried
    // complement quads) against the rule restated in plain Scala
    // (bandedRef: candidates per bucket, then a full 16-lane count) —
    // every rule, on the three caller shapes that run in production:
    // symmetric (clusterLabels), probe ⊆ base (maintainClusters) and
    // probe disjoint from base (dedupBatch).
    val chain = chainSig().cache()
    try {
      val inProbe = col("doc_id").between(40, 59)
      assertBandedIsRef(chain, Seq(
        ("sym", lit(true), None),
        ("asym-subset", lit(true), Some(inProbe)),
        ("asym-disjoint", !inProbe, Some(inProbe))), Seq(0, 14))
    } finally { chain.unpersist(false); spark.catalog.clearCache() }
    // a REAL corpus with a planted template flood: all escalation legs
    // plus ordinary buckets
    val corpus = MinHash.docs(spark, sf0001).select("doc_id", "text")
      .union(graft.llm.DedupQueries.templateCorpus(spark, 400, 2000)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val sig = MinHash.signaturesFromSets(
      MinHash.shingleSets(corpus, 5).filter(col("c") > 0)).cache()
    try {
      val isProbe = col("doc_id") % 3 === 0 || col("doc_id") >= 1000200L
      assertBandedIsRef(sig, Seq(
        ("sym", lit(true), None),
        ("asym-subset", lit(true), Some(isProbe)),
        ("asym-disjoint", !isProbe, Some(isProbe))), Seq(14))
      assert(pairSet(MinHash.banded(MinHash.bandPairKeysSorted(sig), None,
        MinHash.Rule.Deployed, 14)).size > 300, "fixture degenerate")
    } finally { sig.unpersist(false); spark.catalog.clearCache() }
  }

  test("capped banded plan: one bucket pass, no join, two shuffles, in both shapes") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val keys = MinHash.bandPairKeysSorted(chainSig())
    for (probe <- Seq(None, Some(keys.filter(col("doc_id") >= 40)))) {
      val plan = MinHash.banded(keys, probe, MinHash.Rule.Deployed, 14).queryExecution.executedPlan
      val all = nodes(plan)
      val joins = all.collect { case j: BaseJoinExec => j }
      val shuffles = all.collect { case e: ShuffleExchangeLike => e }
      assert(joins.isEmpty && shuffles.size == 2, s"probe=${probe.isDefined}: $plan")
    }
  }

  test("x86 hybrid escalation: lossless at cap=infinity, planted cluster recalled at cap=16") {
    // Equivalence leg: with a cap no bucket reaches, the hybrid rule
    // IS the all-pairs rule — candidate sets must be IDENTICAL, on a
    // corpus where the planted template cluster makes that set large
    // (~C(1000,2)) and non-trivial.
    val corpus = MinHash.docs(spark, sf0001).select("doc_id", "text")
      .union(graft.llm.DedupQueries.templateCorpus(spark, 1000, 5000)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val sig = MinHash.signaturesFromSets(
      MinHash.shingleSets(corpus, 9).filter(col("c") > 0)).cache()
    val keys = MinHash.bandPairKeysSorted(sig).cache()
    try {
      val hybrid = pairSet(MinHash.banded(keys, None, MinHash.Rule(1 << 30, chain = false), 0))
      val paired = pairSet(MinHash.banded(keys, None, MinHash.Rule.Exact, 0))
      assert(hybrid.size > 400000, s"planted cluster missing: ${hybrid.size}")
      assert(hybrid == paired)
      // Escalation leg: at cap=16 the flooded buckets switch to anchor
      // pairs and the gated row's histogram must still recover the
      // full 1,000-doc planted cluster, with the audit showing real
      // escalation and a bounded candidate count.
      val rows = SparkEntry.queries("x86_hybrid_neardup")(spark, sf0001)
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq
        .contains((1000L, 1L)), "planted 1000-doc cluster fragmented")
      assert(rows.head.getLong(4) > 0, "no bucket escalated")
      assert(rows.head.getLong(2) < rows.head.getLong(3) / 10,
        "hybrid volume not meaningfully below the uncapped quadratic")
    } finally {
      sig.unpersist(false); keys.unpersist(false)
      spark.catalog.clearCache()
    }
  }

  test("x36 canonical selection: clusters partition the corpus, survivor is the longest member") {
    import org.apache.spark.sql.functions._
    val sp = spark
    val rows = SparkEntry.queries("x36_canonical_docs")(sp, sf0001).collect()
    val docs = graft.core.Tables(sp, sf0001, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every document lands in exactly one cluster
    assert(rows.map(_.getAs[Long]("n_members")).sum == docs.size)
    // x12's cluster assignment is the ground truth for membership
    val cl = SparkEntry.queries("x12_dedup_clusters")(sp, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    val members = cl.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(rows.length == members.size)
    for (r <- rows) {
      val cid = r.getAs[Long]("cluster_id")
      val surv = r.getAs[Long]("survivor_id")
      val ms = members(cid)
      assert(ms.contains(surv), s"cluster $cid survivor $surv not a member")
      assert(r.getAs[Long]("n_members") == ms.length)
      // survivor maximizes (n_chars, -doc_id)
      val best = ms.maxBy(d => (docs(d), -d))
      assert(surv == best, s"cluster $cid survivor $surv != longest member $best")
      assert(r.getAs[Long]("survivor_chars") == docs(surv))
    }
  }

  test("shingling is deterministic and lowercased") {
    val a = MinHash.shingles(docsDF(Seq(1L -> "Hello World")), 5)
      .collect().map(_.getLong(1)).sorted.toSeq
    val b = MinHash.shingles(docsDF(Seq(1L -> "hello world")), 5)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(a == b)
    assert(a.size == "hello world".length - 4)
  }

  test("x52 containment == brute-force replay of the rare-probe rule") {
    val got = SparkEntry.queries("x52_containment_dedup")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent driver-side replay on the 50-doc corpus
    val sets = MinHash.shingleSets(
        graft.core.Tables(spark, sf0001, "documents"), 9)
      .filter(col("c") > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val df = sets.values.flatten.groupBy(identity).map { case (h, v) => h -> v.size }
    val rare = sets.map { case (d, hs) =>
      d -> hs.filter(df(_) <= 10).toSeq.sortBy(h => (df(h), h)).take(3).toSet
    }
    val exp = (for {
      (a, ha) <- sets.toSeq; (b, hb) <- sets.toSeq
      if a < b
      if rare(a).exists(hb.contains) || rare(b).exists(ha.contains)
      i = (ha & hb).size
      if i * 1.0 / math.min(ha.size, hb.size) >= 0.8
    } yield (a, b)).toSet
    assert(got == exp,
      s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
  }

  test("x55 block dedup == brute-force replay of the 20-token-block rule") {
    val docs = graft.core.Tables(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toVector).toMap
    // blocks per doc (non-overlapping 20-token windows, last may be short)
    val blocks: Map[Long, Vector[String]] = docs.collect {
      case (id, toks) if toks.nonEmpty =>
        id -> toks.grouped(20).map(_.mkString(" ")).toVector
    }
    val df: Map[String, Int] = blocks.toSeq
      .flatMap { case (id, bs) => bs.distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val exp = blocks.map { case (id, bs) =>
      id -> (bs.size.toLong,
        bs.count(df(_) >= 2).toLong,
        bs.filter(df(_) == 1).map(_.length.toLong).sum,
        bs.filter(df(_) >= 2).map(_.length.toLong).sum)
    }
    val got = SparkEntry.queries("x55_block_dedup")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == exp,
      s"diff=${(exp.toSet diff got.toSet).take(3)} | ${(got.toSet diff exp.toSet).take(3)}")
  }

  test("x69: every planted non-ASCII duplicate is recovered") {
    // Exact copies share all 16 minhashes, so banding MUST surface the
    // planted (d, d+1000000) pair for every shingle-bearing doc with
    // doc_id % 17 == 4 — dup_pairs per lang is therefore bounded below
    // by the planted count (natural near-dups can only add to it).
    val rows = SparkEntry.queries("x69_nonascii_dedup")(spark, sf0001).collect()
    val planted = graft.core.Tables(spark, sf0001, "documents")
      .filter(col("doc_id") % 17 === 4 && length(col("text")) >= 9)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(4) >= planted.getOrElse(lang, 0L),
        s"$lang: dup_pairs=${r.getLong(4)} < planted=${planted.getOrElse(lang, 0L)}")
    }
    assert(rows.map(_.getLong(4)).sum > 0, "no duplicates recovered — vacuous")
    // and the fixture really is non-ASCII everywhere: accented vowels
    // appear in every doc that had a vowel, emoji in the %31 tail
    assert(planted.values.sum > 0)
  }

  test("x70: planted arbitrary-offset spans are recovered at both offsets") {
    val got = SparkEntry.queries("x70_substring_dedup")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val docIds = graft.core.Tables(spark, sf0001, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val atStart = docIds.filter(_ % 23 == 1)
    val atEnd = docIds.filter(_ % 23 == 12)
    // the boilerplate appears in >= 2 docs, so every planted doc must
    // surface with a duplicated region covering the full 15-token span
    assert(atStart.nonEmpty && atEnd.nonEmpty, "fixture vacuous at this sf")
    (atStart ++ atEnd).foreach { id =>
      val (_, _, dupTokens, longest, _) = got.getOrElse(id,
        fail(s"planted doc $id missing from span report"))
      assert(dupTokens >= 15 && longest >= 15,
        s"doc $id: dup_tokens=$dupTokens longest=$longest — span not recovered")
    }
    // accounting invariant: dup + kept == n_tok on every reported doc
    got.foreach { case (id, (nTok, _, dup, _, kept)) =>
      assert(dup + kept == nTok, s"doc $id: $dup + $kept != $nTok")
    }
  }

  test("chain-rule laws: subset, cap=infinity equality, linear escalated volume, probe orientation (property)") {
    // Scalacheck laws so future cap/chain edits cannot silently widen or
    // lose candidates. Random corpora draw 16 binary lanes per doc; a
    // random subset additionally shares lanes 0..7, flooding one
    // band-pair bucket past the tiny cap, so every iteration exercises
    // both the all-pairs and the escalated legs.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sp = spark
    import sp.implicits._
    val cap = 4
    val chainRule = MinHash.Rule(cap, chain = true)
    val corpusGen: Gen[List[(Boolean, List[Long])]] = for {
      n <- Gen.choose(8, 24)
      rows <- Gen.listOfN(n, for {
        flood <- Gen.oneOf(true, false)
        lanes <- Gen.listOfN(16, Gen.choose(0L, 1L))
      } yield (flood, lanes))
    } yield rows
    def canon(df: DataFrame): Set[(Long, Long)] =
      pairSet(df).map { case (a, b) => (a.min(b), a.max(b)) }
    val prop = Prop.forAll(corpusGen) { rows =>
      val data = rows.zipWithIndex.map { case ((flood, lanes), id) =>
        (id.toLong,
          if (flood) List.fill(8)(0L) ++ lanes.drop(8) else lanes)
      }
      val sig = data.toDF("doc_id", "lanes").select(
        col("doc_id") +: (0 until 16).map(i => col("lanes")(i).as(s"mh$i")): _*)
      val keys = MinHash.bandPairKeysSorted(sig).cache()
      try {
        val paired = canon(MinHash.banded(keys, None, MinHash.Rule.Exact, 0))
        val chain = canon(MinHash.banded(keys, None, chainRule, 0))
        val chainInf = canon(MinHash.banded(keys, None, MinHash.Rule(1 << 30, chain = true), 0))
        // law 3's bound: escalated buckets contribute at most 2(b-1)
        // candidates (anchor star + SNM successors), small ones C(b,2)
        val bound = keys.groupBy("bp", "k").count().collect()
          .map(_.getLong(2))
          .map(b => if (b <= cap) b * (b - 1) / 2 else 2 * (b - 1)).sum
        val probeIds = data.map(_._1).filter(_ % 3 == 0).toSet
        val pkeys = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") % 3 === 0))
        val asym = pairSet(MinHash.banded(keys, Some(pkeys), chainRule, 0))
        // the verify at 14 against the plain-Scala rule, on the three
        // caller shapes (random 0/1 lanes pass and fail the threshold)
        val lanes = data.map { case (id, l) => id -> l.toIndexedSeq }.toMap
        val all = lanes.keySet
        val baseOnly = MinHash.bandPairKeysSorted(sig.filter(col("doc_id") % 3 =!= 0))
        val verified = Seq(
          (None, keys, all),
          (Some(pkeys), keys, all),
          (Some(pkeys), baseOnly, all -- probeIds)).forall { case (p, b, baseIds) =>
            tripleSet(MinHash.banded(b, p, chainRule, 14)) ==
              bandedRef(lanes, baseIds, p.map(_ => probeIds), chainRule, 14)
          }
        (chain subsetOf paired) &&
          chainInf == paired &&
          chain.size <= bound &&
          verified &&
          asym.forall { case (d1, d2) =>
            probeIds(d1) && paired((d1.min(d2), d1.max(d2)))
          }
      } finally { keys.unpersist(false) }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("x89 random-graph recall: loss is real and the audit is self-consistent") {
    // the oracle hash-gates the exact numbers; this pins the fixture's
    // POINT — a non-zero honest bound on the general adversarial shape
    val rows = SparkEntry.queries("x89_random_graph_recall")(spark, sf0001)
      .collect()
    val (chainPairs, exactPairs, lost, exactClusters, esc) =
      (rows.head.getLong(2), rows.head.getLong(3), rows.head.getLong(4),
        rows.head.getLong(5), rows.head.getLong(6))
    assert(lost > 0 && chainPairs + lost == exactPairs,
      s"loss arithmetic broken: $chainPairs + $lost != $exactPairs")
    assert(chainPairs > 0, "chain rule recovered nothing — fixture degenerate")
    assert(esc >= 1, "no bucket escalated — fixture does not flood")
    // the chain graph is a subgraph: it cannot have FEWER clusters
    val chainClusters = rows.map(_.getLong(1)).sum
    assert(chainClusters > exactClusters,
      s"no fragmentation measured: $chainClusters vs $exactClusters")
    // every doc lands in exactly one cluster of the histogram
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == 60L)
    spark.catalog.clearCache()
  }
}
