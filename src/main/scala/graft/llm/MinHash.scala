package graft.llm

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic MinHash over character shingles — no RNG anywhere
  * (FIXTURES.md determinism contract): a fixed literal table of 16
  * (a, b) seed pairs over the prime P = 2^31 - 1, and a portable
  * polynomial shingle hash (base-31 over code points) that DuckDB can
  * reproduce exactly in the oracle.
  *
  * The gram length is a parameter: l2 declares 5-gram shingles
  * (SURVEY.md §2C); x2 uses 9-gram shingles because the synthetic
  * corpus's tiny vocabulary makes the 5-gram universe so small that
  * minhash minima correlate across unrelated docs and LSH candidate
  * buckets explode — a longer shingle restores selectivity.
  *
  * Scale design: the hot path is fully shuffle-free up to candidate
  * generation — `shingleSets` builds each doc's distinct shingle-hash
  * array row-locally (char-code array + O(n) rolling fold per
  * position; no explode) and `signaturesFromSets` derives the 16
  * signature columns as array folds over it. The explode-based
  * `shingles`/`signatures` pair computes identical bits and is kept
  * as the readable reference DedupSpec checks the fast path against.
  * Candidate generation is classic LSH banding — 4 bands x 4
  * rows — so the self-join runs on small band buckets, never on the
  * full doc x doc cross product. A pair with >= 14/16 matching
  * minhashes always shares a full band (pigeonhole: 2 mismatches break
  * at most 2 of 4 bands), so banding is lossless for the >= 14 gate.
  */
object MinHash {

  val P = 2147483647L

  /** 16 fixed (a, b) seed pairs — small primes; literal, never random.
    * Canonically owned by the native expression (one list feeds the
    * codegen'd path, this pipeline, and the oracle SQL). */
  val seeds: Seq[(Long, Long)] = graft.functions.MinHashSigs.SEEDS

  /** Base-31 polynomial hash of an n-char shingle column (n <= 12 keeps
    * the fold inside int64: 255 * 31^11 < 2^63). */
  def shingleHash(s: Column, n: Int): Column =
    (2 to n).foldLeft(ascii(substring(s, 1, 1)).cast("long")) {
      (acc, i) => acc * 31 + ascii(substring(s, i, 1))
    }

  /** (doc_id, h) shingle-hash rows of documents.text, WITH duplicates:
    * min() is multiset-invariant and collect_set dedupes, so both
    * downstream consumers get set semantics without paying an extra
    * distinct() shuffle here. */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), lower(col("text")).as("lt"))
      .select(col("doc_id"), explode(expr(s"sequence(1, length(lt) - ${n - 1})")).as("pos"), col("lt"))
      .select(col("doc_id"), shingleHash(expr(s"substring(lt, pos, $n)"), n).as("h"))

  /** Wide signature: doc_id, mh0..mh15 — one aggregation pass.
    * mh_i = (a_i * (h mod P) + b_i) mod P. */
  def signatures(sh: DataFrame): DataFrame = {
    def mh(a: Long, b: Long) = min(((col("h") % P) * a + b) % P)
    sh.groupBy("doc_id").agg(
      mh(seeds.head._1, seeds.head._2).as("mh0"),
      seeds.zipWithIndex.tail.map { case ((a, b), i) => mh(a, b).as(s"mh$i") }: _*)
  }

  /** Per-doc sorted distinct shingle arrays: (doc_id, hs, c), computed
    * by the native `ShingleHashSet` expression — one primitive pass per
    * document, NO explode, NO shuffle. Same hash bits as `shingles` +
    * `collect_set` (base-31 fold over code points; sorted-distinct).
    * The arrays feed both signature derivation (`signaturesFromSets`)
    * and exact set verification (`array_intersect`). History: the
    * explode + collect_set pipeline beat an interpreted higher-order-
    * function rewrite (HOFs don't codegen), and the native expression
    * beats both — no row amplification, no per-shingle allocation. */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.ShingleExpressions.shingleSet(lower(col("text")), n).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("c"))

  /** Wide signature derived from the per-doc shingle-set arrays —
    * identical bits to `signatures` (min over a set equals min over the
    * multiset), computed by the native `MinHashSigs` expression: ONE
    * codegen'd pass over the array produces all 16 lanes. History: the
    * first form here was 16 `array_min(transform(...))` folds — HOFs
    * that never codegen and whose shared interpreted-eval dispatch
    * goes megamorphic in a long-lived JVM, making the same projection
    * 5x slower late in a bench suite than early (round-5 event-log
    * profile; MinHashSigsSpec pins bit parity against that fold). */
  def signaturesFromSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"),
        graft.functions.ShingleExpressions.minhashSigs(col("hs")).as("sigs"))
      .select(col("doc_id") +:
        (0 until 16).map(i => col("sigs").getItem(i).as(s"mh$i")): _*)

  /** The retired declarative spelling of `signaturesFromSets`, kept as
    * the executable parity oracle for the native expression. */
  private[graft] def signaturesFromSetsHof(sets: DataFrame): DataFrame = {
    def mh(a: Long, b: Long) =
      array_min(transform(col("hs"), h => ((h % P) * a + b) % P))
    sets.select(col("doc_id") +:
      seeds.zipWithIndex.map { case ((a, b), i) => mh(a, b).as(s"mh$i") }: _*)
  }

  /** LSH band rows: (doc_id, band, bk) with bk the comma-joined 4-hash
    * band key (string form matches the oracle's string_agg). */
  def bands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until 4).map(i => col(s"mh${4 * b + i}")): _*).as("bk"))
    }: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))

  /** Distinct candidate pairs (d1 < d2) sharing at least one full band. */
  def candidates(sig: DataFrame): DataFrame = {
    val b1 = bands(sig).toDF("d1", "band", "bk")
    val b2 = bands(sig).toDF("d2", "band2", "bk2")
    b1.join(b2, col("band") === col("band2") && col("bk") === col("bk2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** The bucket-size cap the DEPLOYED dedup paths run with
    * ([[graft.llm.DedupIndex]], `Rule.Deployed`): buckets at or under it
    * keep all pairs (lossless for the >= 14/16 gate), bigger ones
    * escalate to the min-id anchor star PLUS the
    * signature-sorted SNM successor chain — 2(b−1) rows per escalated
    * bucket, still linear. 16 is the x86-gated value: at the
    * correctness-gate scales the real corpus's largest band-pair
    * bucket is 14 members, so ordinary data never escalates, while a
    * template mega-cluster's flooded buckets (1,000+ members on the
    * planted fixture) switch to linear work. What anchor-only
    * escalation loses is quantified by the gated x87 adversarial
    * chain fixture (98/99 pairs); x88 gates the chain leg closing
    * exactly that loss. */
  val DefaultCap = 16

  /** How [[banded]] pairs the members of one (bp, k) bucket of b docs:
    *   - b <= `cap`: every two members (exact, lossless for >= 14/16 —
    *     pigeonhole: 2 mismatching lanes break at most 2 of the 4 bands,
    *     so a >= 14/16 pair shares at least one full band PAIR);
    *   - b > `cap`: each member with the bucket's minimum doc_id (the
    *     anchor star, Σ(b−1) rows — a template flood verifies against
    *     its anchor), and with `chain` also each member with its
    *     successor in (mh0..mh15, doc_id) order (Hernández & Stolfo's
    *     sorted neighbourhood — a drift chain's true links are adjacent
    *     in signature order; x88 gates zero lost pairs on x87's fixture).
    * Worst-case candidate volume is O(cap · keys), data-independently. */
  final case class Rule(cap: Int, chain: Boolean)

  object Rule {
    /** All pairs in every bucket — l2/x12/x36/x80's lossless rule. */
    val Exact: Rule = Rule(Int.MaxValue, chain = false)
    /** The anchor star in every bucket (x85). */
    val Anchor: Rule = Rule(1, chain = false)
    /** Exact below [[DefaultCap]], anchor star + SNM chain above it. */
    val Deployed: Rule = Rule(DefaultCap, chain = true)
  }

  /** The banded near-duplicate rule: pairs of docs that share a (bp, k)
    * band-pair bucket, chosen per bucket by `rule`, whose signatures
    * agree on at least `threshold` of the 16 lanes. Output is distinct
    * (d1, d2, matches), `matches` the pair's full 16-lane agreement.
    *
    * `base` (and `probe`) are [[bandPairKeysSorted]] rows.
    *   - `probe = None` (symmetric): pairs within `base`; the all-pairs
    *     and anchor pairs are (smaller id, larger id), a chain pair is
    *     (predecessor, successor).
    *   - `probe = Some(p)` (batch against corpus): only pairs with one
    *     probe end and one base end, the probe end as d1; bucket size
    *     and anchor are measured over `base`, and an anchor that is
    *     itself a probe doc stars out to its whole bucket. Probe docs
    *     join the chain order (a batch doc sorts between its nearest
    *     base neighbours), but a successor pair is kept only when one
    *     end is a probe doc and the other a base doc — for probe ⊆ base
    *     (cluster maintenance) that is every pair touching the probe,
    *     for disjoint sides (batch dedup) batch–batch links drop.
    *
    * Threshold 0 yields the bare candidate set: two docs in one bucket
    * share its 8 keyed lanes, so `matches` is always >= 8. That also
    * makes the verify row-local — 8 + agreement of the carried r0..r3
    * complement quads — and since a pair's count is the same in every
    * bucket it shares, verifying per pair commutes with the distinct.
    *
    * Plan: with an unbounded cap, the plain bucket join. Under a finite
    * cap, one pass over bucket members ([[bucketPairs]]): one (bp, k)
    * shuffle, one sort, two windows and one explode, with no join, in
    * both shapes. */
  def banded(base: DataFrame, probe: Option[DataFrame], rule: Rule,
      threshold: Int): DataFrame = {
    val pairs = (probe, rule.cap) match {
      case (None, Int.MaxValue) => pairsWithin(base, base, _ < _)
      case (Some(p), Int.MaxValue) => pairsWithin(p, base, _ =!= _)
      case _ => bucketPairs(base, probe, rule)
    }
    pairs.filter(col("matches") >= threshold).distinct()
  }

  /** Pairs of a `left` and a `right` row in one bucket, d1 from `left`,
    * kept where `keep(d1, d2)`. */
  private def pairsWithin(left: DataFrame, right: DataFrame,
      keep: (Column, Column) => Column): DataFrame =
    left.select(Seq(col("bp"), col("k"), col("doc_id").as("d1")) ++ quadAs("x"): _*)
      .join(right.select(Seq(col("bp").as("bp2"), col("k").as("k2"),
          col("doc_id").as("d2")) ++ quadAs("y"): _*),
        col("bp") === col("bp2") && col("k") === col("k2") && keep(col("d1"), col("d2")))
      .select(col("d1"), col("d2"), packedLaneAgree("x", "y").as("matches"))

  /** [[banded]] under a finite cap, as one reduce per bucket.
    *
    * Members carry p ("is a probe doc") and q ("is a base doc"); in the
    * symmetric shape every row is both. They are shuffled once by
    * (bp, k); in the probe shape a doc's two rows merge there, on the
    * same partitioning. One window order — (r0..r3, doc_id), which the
    * packed key makes the (mh0..mh15, doc_id) order — serves the whole
    * rule:
    *   - over the whole bucket: its base size b, the anchor (min base
    *     doc_id), whether the anchor is a probe doc, and its quads;
    *   - the predecessor's doc_id, p, q and quads, for the chain pair;
    *   - stacked on the same sort, the base members of buckets with
    *     b <= cap, so no row holds more than cap of them.
    * Each row then emits the pairs it is one end of, through one
    * explode: its small-bucket partners, the anchor star, and the chain
    * link to its predecessor. An element is (o, first, y0..y3): the
    * other end, whether that end is d1, and its quads. Elements with
    * the row's doc as d1 are kept only from probe rows, and as
    * d1 < d2 (symmetric) or d1 != d2 (probe); that is the partner
    * rule, and it holds already for the probe-first star and the
    * probe-first chain link. */
  private def bucketPairs(base: DataFrame, probe: Option[DataFrame], rule: Rule): DataFrame = {
    def tagged(rows: DataFrame, p: Long, q: Long) =
      rows.select(Seq(col("bp"), col("k"), col("doc_id"),
        lit(p).as("p"), lit(q).as("q")) ++ quad("r"): _*)
    val members = probe match {
      case None => tagged(base, 1L, 1L).repartition(col("bp"), col("k"))
      case Some(p) => tagged(base, 0L, 1L).unionByName(tagged(p, 1L, 0L))
        .repartition(col("bp"), col("k"))
        .groupBy(Seq(col("bp"), col("k"), col("doc_id")) ++ quad("r"): _*)
        .agg(max(col("p")).as("p"), max(col("q")).as("q"))
    }
    val order = Window.partitionBy("bp", "k")
      .orderBy(col("r0"), col("r1"), col("r2"), col("r3"), col("doc_id"))
    val bucket = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val baseId = when(col("q") === 1L, col("doc_id"))
    def prev(c: String) = lag(col(c), 1).over(order)
    def elem(o: Column, first: Column, quads: Seq[Column]) =
      struct(o.as("o") +: first.as("first") +:
        quads.zipWithIndex.map { case (c, i) => c.as(s"y$i") }: _*)

    val measured = members.select(Seq(col("bp"), col("k"), col("doc_id"), col("p"), col("q")) ++
      quad("r") ++ Seq(sum(col("q")).over(bucket).as("b"), min(baseId).over(bucket).as("a"),
        min_by(col("p"), baseId).over(bucket).as("ap"),
        prev("doc_id").as("pd"), prev("p").as("pp"), prev("q").as("pq")) ++
      (0 until 4).map(i => min_by(col(s"r$i"), baseId).over(bucket).as(s"a$i")) ++
      (0 until 4).map(i => prev(s"r$i").as(s"pr$i")): _*)
    val small = col("b") <= rule.cap
    val withPartners = measured.select(col("*"), collect_list(when(small && col("q") === 1L,
      elem(col("doc_id"), lit(false), quad("r")))).over(bucket).as("ys"))

    val other = col("doc_id") =!= col("a")
    val star = when(!small && col("q") === 1L && col("ap") === 1L && other,
      elem(col("a"), lit(true), quad("a")))
    val probeStar = when(!small && col("p") === 1L && other, elem(col("a"), lit(false), quad("a")))
    // the predecessor is d1 when it is the probe end; in the symmetric
    // shape it always is
    val link = when(!small && col("pp") === 1L && col("q") === 1L,
        elem(col("pd"), lit(true), quad("pr")))
      .when(!small && col("p") === 1L && col("pq") === 1L, elem(col("pd"), lit(false), quad("pr")))
    val own = Seq(star) ++ probe.map(_ => probeStar) ++ (if (rule.chain) Seq(link) else Nil)
    val keep = if (probe.isEmpty) col("doc_id") < col("e.o") else col("doc_id") =!= col("e.o")
    val first = col("e.first")
    withPartners
      .select(Seq(col("doc_id"), col("p"), explode(concat(col("ys"), array(own: _*))).as("e")) ++
        quad("r"): _*)
      .filter(col("e").isNotNull && (first || (col("p") === 1L && keep)))
      .select(when(first, col("e.o")).otherwise(col("doc_id")).as("d1"),
        when(first, col("doc_id")).otherwise(col("e.o")).as("d2"),
        packedLaneAgree("r", "e.y").as("matches"))
  }

  /** 16-lane agreement of two rows of one bucket, from their carried
    * complement quads: the shared packed key pins the 8 keyed lanes
    * equal, so agreement = 8 + agreement over the 8 complement lanes,
    * which ride as r0..r3 (two lanes per long, a·2³¹+b with both
    * < 2³¹). `x`/`y` name the two sides' quad column prefixes. Pure
    * comparisons and adds — whole-stage codegen, no join. */
  private def packedLaneAgree(x: String, y: String): Column =
    lit(8L) + (0 until 4).map { j =>
      when(shiftright(col(s"$x$j"), 31) === shiftright(col(s"$y$j"), 31), 1L)
        .otherwise(0L) +
        when(col(s"$x$j").bitwiseAND(lit(2147483647L)) ===
          col(s"$y$j").bitwiseAND(lit(2147483647L)), 1L).otherwise(0L)
    }.reduce(_ + _)

  private def quad(prefix: String): Seq[Column] = (0 until 4).map(i => col(s"$prefix$i"))

  private def quadAs(prefix: String): Seq[Column] =
    (0 until 4).map(i => col(s"r$i").as(s"$prefix$i"))

  /** [[banded]]'s (d1, d2) candidates under the deployed rule shape,
    * kept because the operations benchmark (opsbench/harness) calls
    * this name. */
  def candidatesHybridChainAsymFromKeys(probeKeys: DataFrame,
      baseKeys: DataFrame, cap: Int): DataFrame =
    verifiedHybridChainAsymFromKeys(probeKeys, baseKeys, cap, 0)

  /** [[banded]]'s (d1, d2) verified pairs under the deployed rule
    * shape, kept because the operations benchmark (opsbench/harness)
    * calls this name. */
  def verifiedHybridChainAsymFromKeys(probeKeys: DataFrame,
      baseKeys: DataFrame, cap: Int, threshold: Int): DataFrame =
    banded(baseKeys, Some(probeKeys), Rule(cap, chain = true), threshold).select("d1", "d2")

  /** The C(4,2) = 6 band-pair key rows per doc, (doc_id, bp, k,
    * r0..r3), that [[banded]] buckets on: `k` is the 8 lanes of band
    * pair bp, r0..r3 the 8 COMPLEMENT lanes (the two bands not in the
    * key), each packed two per long as a·2³¹ + b. Lanes are < P < 2³¹,
    * so the packing is injective (struct equality on k IS equality of
    * the 8 keyed lanes — DedupSpec pins the buckets against the
    * retired comma-joined string key) and preserves lexicographic
    * order (so (r0..r3, doc_id) within a bucket is the full-signature
    * order). Row-local projection + explode, no shuffle. Callers must
    * pre-filter NULL signatures (sigOf / filter(c > 0)): an all-NULL
    * row would never match under the packed key. */
  def bandPairKeysSorted(sig: DataFrame): DataFrame = {
    val withPk = sig.select(col("doc_id") +: (0 until 8).map { p =>
      (col(s"mh${2 * p}") * 2147483648L + col(s"mh${2 * p + 1}")).as(s"p$p")
    }: _*)
    val pairKeys = for { i <- 0 until 4; j <- (i + 1) until 4 } yield {
      val Seq(a, b) = (0 until 4).filterNot(x => x == i || x == j)
      struct(lit(4 * i + j).as("bp"),
        struct(col(s"p${2 * i}").as("k0"), col(s"p${2 * i + 1}").as("k1"),
          col(s"p${2 * j}").as("k2"), col(s"p${2 * j + 1}").as("k3")).as("k"),
        col(s"p${2 * a}").as("r0"), col(s"p${2 * a + 1}").as("r1"),
        col(s"p${2 * b}").as("r2"), col(s"p${2 * b + 1}").as("r3"))
    }
    withPk
      .select(col("doc_id"), explode(array(pairKeys: _*)).as("e"))
      .select(col("doc_id"), col("e.bp").as("bp"), col("e.k").as("k"),
        col("e.r0").as("r0"), col("e.r1").as("r1"),
        col("e.r2").as("r2"), col("e.r3").as("r3"))
  }

  def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables(spark, dir, "documents"))

  /** Shared oracle-SQL CTE prefix for gram length n: shingles + seeds +
    * long-form signatures. Matches the Spark pipeline bit-for-bit. */
  /** Just the distinct per-doc shingle-hash CTE (`sh`), shared by the
    * signature oracle and the containment oracle (x52). */
  def oracleShingles(n: Int): String = oracleShingles(n, "documents")

  /** Parameterized over the corpus table/CTE name so planted-fixture
    * corpora (x69's non-ASCII fixture) reuse the same fold. DuckDB's
    * ascii()/substr()/length() are all CODE-POINT functions (verified:
    * ascii('é')=233, ascii('😀')=128512), matching the JVM
    * `codePoints()` walk of the native ShingleHashSet — the parity is
    * structural for all of Unicode at n ≤ 9 (int64 headroom:
    * 0x10FFFF·(31^9−1)/30 ≈ 9.8e17 < 2^63). */
  def oracleShingles(n: Int, table: String): String = {
    val poly = (2 to n).foldLeft("CAST(ascii(substr(s,1,1)) AS BIGINT)") {
      (acc, i) => s"($acc*31 + ascii(substr(s,$i,1)))"
    }
    s"""sh AS (
       |  SELECT DISTINCT doc_id, $poly AS h
       |  FROM (SELECT doc_id, substr(lower(text), pos, $n) AS s
       |        FROM $table, unnest(generate_series(1, length(text)-${n - 1})) t(pos)) u)""".stripMargin
  }

  def oracleSig(n: Int): String = "WITH " + oracleSigCtes(n, "documents")

  /** The sh/seeds/sig CTE chain WITHOUT the WITH prefix, parameterized
    * over the corpus table/CTE name — for oracles whose corpus is
    * itself a planted-fixture CTE (x85's template corpus). */
  def oracleSigCtes(n: Int, table: String): String = {
    val seedVals = seeds.zipWithIndex
      .map { case ((a, b), i) => s"($i, CAST($a AS BIGINT), CAST($b AS BIGINT))" }
      .mkString(", ")
    s"""${oracleShingles(n, table)},
       |seeds(i, a, b) AS (VALUES $seedVals),
       |sig AS (SELECT doc_id, i, min((a*(h % 2147483647)+b) % 2147483647) AS mh
       |        FROM sh CROSS JOIN seeds GROUP BY 1, 2)""".stripMargin
  }
}
