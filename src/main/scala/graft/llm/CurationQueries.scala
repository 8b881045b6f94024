package graft.llm

import graft.core.Cols._
import graft.core.{CacheScope, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation surface — the pipeline stages between raw crawl and
  * training shards that the dedup/quality queries don't cover yet:
  * eval-set decontamination, denylist scrubbing, incremental snapshot
  * dedup, boilerplate mining, repetition filtering, the corpus-rarity
  * quality proxy, and the sequential quality funnel a pipeline report
  * prints.
  *
  * Scale discipline shared by all of them: per-document work is a single
  * row-local pass (token arrays built once, no driver round-trips);
  * anything cross-document goes through either a broadcast of a
  * provably-small side (x22's eval shingle set) or the bucketed LSH
  * candidate machinery (x24 reuses l2's band-pair keys) — never an
  * all-pairs join.
  */
object CurationQueries {

  /** Shared DuckDB token expression — identical split/lower/drop-empty
    * semantics to [[graft.core.Cols.wsTokens]]. */
  private[llm] val toksSql =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""

  /** x24's oracle — and, VERBATIM, the gate for b13/b14: the persisted
    * dedup index (DedupIndex) must give the batch-vs-base answer the
    * in-plan computation gives, whether the artifact was written in one
    * shot (b13) or grown by append (b14). Full-corpus signatures +
    * crossing-pair agreement + exact sha-256 semi-join, per language. */
  private[llm] def snapshotDedupSql: String = snapshotDedupSql("", "")

  /** Parameterized form: s15 appends an index-cardinality CTE + scalar
    * column so its replay-idempotence proof is HASH-GATED (a doubled
    * micro-batch append is invisible to the x24-shaped counts — near
    * ids are DISTINCT and n_new counts the batch — but doubles the
    * artifact's row count). */
  /** b20/b21's oracle: x24's snapshot dedup restricted to the
    * SURVIVING index — doc_id % 5 = 4 is deleted from the indexed side
    * after build+append, so neither the exact-dup hash set nor the
    * near-dup partner set may include those documents (a batch doc
    * whose ONLY near partner was deleted stops counting as a near-dup
    * — the modulus is chosen so that happens at every tested scale,
    * making the delete answer-VISIBLE, not a no-op gate). The batch
    * side is untouched: tombstones mask the index, not the input. */
  private[llm] def survivorDedupSql: String =
    s"""${MinHash.oracleSig(5)},
       |${DedupQueries.agreeSql},
       |near AS (SELECT DISTINCT CASE WHEN d1 % 4 = 3 THEN d1 ELSE d2 END AS doc_id
       |         FROM agree WHERE matches >= 14 AND ((d1 % 4 = 3) <> (d2 % 4 = 3))
       |           AND (CASE WHEN d1 % 4 = 3 THEN d2 ELSE d1 END) % 5 <> 4),
       |b AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 4 <> 3 AND doc_id % 5 <> 4),
       |nw AS (SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 4 = 3)
       |SELECT lang, count(*) AS n_new,
       |  CAST(SUM(CASE WHEN h IN (SELECT h FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near) THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup
       |FROM nw GROUP BY 1 ORDER BY 1""".stripMargin

  /** b23/b24's oracle: x24's snapshot dedup against ONLY the v1 base
    * (doc_id % 4 < 2) — the state the dedup index was in when snapshot
    * v1 was taken, before the % 4 = 2 append and the % 5 = 4 takedown
    * landed. A pinned read (b23) and a rolled-back directory read
    * (b24) must BOTH give this answer while the directory physically
    * holds (b23) or held (b24) a later, different-answering
    * generation: post-snapshot appends must be invisible and
    * post-snapshot tombstones must NOT mask. */
  private[llm] def baseOnlyDedupSql: String =
    s"""${MinHash.oracleSig(5)},
       |${DedupQueries.agreeSql},
       |near AS (SELECT DISTINCT CASE WHEN d1 % 4 = 3 THEN d1 ELSE d2 END AS doc_id
       |         FROM agree WHERE matches >= 14 AND ((d1 % 4 = 3) <> (d2 % 4 = 3))
       |           AND (CASE WHEN d1 % 4 = 3 THEN d2 ELSE d1 END) % 4 < 2),
       |b AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 4 < 2),
       |nw AS (SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 4 = 3)
       |SELECT lang, count(*) AS n_new,
       |  CAST(SUM(CASE WHEN h IN (SELECT h FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near) THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup
       |FROM nw GROUP BY 1 ORDER BY 1""".stripMargin

  private[llm] def snapshotDedupSql(extraCte: String, extraSelect: String): String =
    s"""${MinHash.oracleSig(5)},
       |${DedupQueries.agreeSql},
       |near AS (SELECT DISTINCT CASE WHEN d1 % 4 = 3 THEN d1 ELSE d2 END AS doc_id
       |         FROM agree WHERE matches >= 14 AND ((d1 % 4 = 3) <> (d2 % 4 = 3))),
       |b AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 4 <> 3),
       |nw AS (SELECT doc_id, lang, sha256(text) AS h FROM documents WHERE doc_id % 4 = 3)$extraCte
       |SELECT lang, count(*) AS n_new,
       |  CAST(SUM(CASE WHEN h IN (SELECT h FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near) THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup$extraSelect
       |FROM nw GROUP BY 1 ORDER BY 1""".stripMargin

  /** (doc_id, lang, toks) over documents, scan fanned out ahead of the
    * row-expanding transforms. */
  private def toks(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        wsTokens(col("text")).as("toks"))

  /** n-token shingle strings of a `toks` array column, one row per
    * shingle position (docs shorter than n emit nothing). Native
    * TokenNgrams expression — codegen'd, not an interpreted HOF. */
  private def shingleRows(t: DataFrame, n: Int): DataFrame =
    t.filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.ShingleExpressions.tokenNgrams(col("toks"), n)).as("sh"))

  val all: Seq[Q] = Seq(

    // X22 — eval-set decontamination: flag every training document that
    // shares at least one 8-token shingle with the held-out eval slice
    // (doc_id % 100 == 7 — a deterministic 1% sample standing in for a
    // benchmark suite). The industry-standard n-gram-overlap decontam
    // check (GPT-3 used 13-grams, Llama 8-grams). SCALE SHAPE: the eval
    // side is by definition tiny (benchmarks are KBs against a 100 TB
    // corpus), so its distinct shingle set is broadcast and the train
    // side never shuffles; at real scale the join key would be
    // xxhash64(shingle) to dodge long-string comparisons, which the
    // cross-engine gate can't hash-match, so the gated form joins on
    // the string itself. Per-train-doc distinct eval links aggregate in
    // tiny per-doc groups (not a global countDistinct).
    Q(
      "x22_decontaminate",
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |sh AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS sh
         |       FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |       WHERE len(toks) >= 8),
         |ev AS (SELECT DISTINCT sh, doc_id AS ev_doc FROM sh WHERE doc_id % 100 = 7),
         |hits AS (SELECT s.doc_id, count(DISTINCT e.ev_doc) AS n_ev
         |         FROM sh s JOIN ev e USING (sh) WHERE s.doc_id % 100 <> 7 GROUP BY 1)
         |SELECT d.lang, count(*) AS n_train,
         |  CAST(SUM(CASE WHEN h.n_ev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(SUM(coalesce(h.n_ev, 0)) AS BIGINT) AS n_eval_links
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 100 <> 7
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (spark, dir) =>
      val t = toks(spark, dir)
      val sh = shingleRows(t, 8)
      val isEval = col("doc_id") % 100 === 7
      val evalSh = sh.filter(isEval)
        .select(col("sh"), col("doc_id").as("ev_doc")).distinct()
      val hits = sh.filter(!isEval)
        .join(broadcast(evalSh), "sh")
        .groupBy("doc_id").agg(countDistinct("ev_doc").as("n_ev"))
      t.filter(!isEval).select("doc_id", "lang")
        .join(hits, Seq("doc_id"), "left")
        .groupBy("lang").agg(
          count(lit(1)).as("n_train"),
          sum(when(col("n_ev").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
          sum(coalesce(col("n_ev"), lit(0L))).as("n_eval_links"))
        .orderBy("lang")
    },

    // X23 — denylist scrubbing: replace blocked terms with a redaction
    // marker and report the damage per language (docs touched, total
    // redactions, post-scrub character volume). The term list is a
    // 2-entry stand-in for a real blocklist (LDNOOBW-style); the regex
    // (\b word-boundary alternation) runs identically under Java regex
    // and DuckDB's RE2. Pure per-row map + one small rollup — linear at
    // any scale, no shuffle before the 5-group aggregate.
    Q(
      "x23_blocklist_scrub",
      """WITH s AS (SELECT lang,
        |    CAST(len(regexp_extract_all(text, '\b(customer|merge)\b')) AS BIGINT) AS n_red,
        |    CAST(length(regexp_replace(text, '\b(customer|merge)\b', '<BLOCKED>', 'g')) AS BIGINT) AS sc_len
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_red > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_affected,
        |  CAST(SUM(n_red) AS BIGINT) AS total_redactions,
        |  CAST(SUM(sc_len) AS BIGINT) AS scrubbed_chars
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (spark, dir) =>
      val pat = "\\b(customer|merge)\\b"
      Tables.fanOut(Tables(spark, dir, "documents"))
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_red"),
          length(regexp_replace(col("text"), pat, "<BLOCKED>")).cast("long").as("sc_len"))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_red") > 0, 1L).otherwise(0L)).as("docs_affected"),
          sum("n_red").as("total_redactions"),
          sum("sc_len").as("scrubbed_chars"))
        .orderBy("lang")
    },

    // X24 — incremental snapshot dedup: a new crawl batch (doc_id % 4
    // == 3, a deterministic 25% slice standing in for "today's crawl")
    // lands against the existing corpus; report per language how many
    // incoming docs are exact duplicates of the base (sha-256 semi-join
    // on the hash, never the text) and how many are NEAR-duplicates of
    // a base doc (>= 14/16 minhash agreement — l2's gate and the same
    // lossless band-pair keys). Candidate generation is ASYMMETRIC:
    // batch-side band keys join base-side band keys, so within-base
    // pairs — the overwhelming majority, and pure waste for an
    // incremental check — are never formed. This is the daily-ingest
    // shape of dedup: the base side at 100 TB is a signature/hash
    // index, not a text store, and cost scales with the incoming
    // batch, not the corpus.
    Q(
      "x24_snapshot_dedup", snapshotDedupSql
    ) { (spark, dir) =>
      val isBatch = col("doc_id") % 4 === 3
      val hashed = Tables.fanOut(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
      val baseH = hashed.filter(!isBatch).select("h").distinct()
      val batch = hashed.filter(isBatch)
      val exact = batch.join(baseH, Seq("h"), "left_semi")
        .select(col("doc_id")).withColumn("is_exact", lit(1L))
      // Near-dup: one cached signature scan (shared shape with l2),
      // asymmetric band-pair candidates, 16-column verify on the
      // crossing pairs only.
      val sig = graft.core.CacheScope.cacheEager(MinHash.signaturesFromSets(
        MinHash.shingleSets(MinHash.docs(spark, dir), 5).filter(col("c") > 0)))
      // the >= 14/16 verify rides the key rows' carried complement
      // quads (MinHash.banded) — no join back to this sig table
      val keys = MinHash.bandPairKeysSorted(sig)
      val nearIds = MinHash.banded(keys.filter(col("doc_id") % 4 =!= 3),
        Some(keys.filter(col("doc_id") % 4 === 3)), MinHash.Rule.Exact, 14)
        .select(col("d1").as("doc_id"))
        .distinct().withColumn("is_near", lit(1L))
      batch.select("doc_id", "lang")
        .join(exact, Seq("doc_id"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .groupBy("lang").agg(
          count(lit(1)).as("n_new"),
          sum(coalesce(col("is_exact"), lit(0L))).as("n_exact_dup"),
          sum(coalesce(col("is_near"), lit(0L))).as("n_neardup"))
        .orderBy("lang")
    },

    // B13 — the PERSISTED dedup index, round-tripped: x24's base side
    // ("at 100 TB a signature/hash index, not a text store") written
    // once as a real artifact (DedupIndex: doc_id, sha-256, 16 minhash
    // lanes — ~150 bytes/doc at any text size) and the incoming batch
    // deduplicated entirely against the LOADED files: batch signatures
    // are computed from batch text only; not one corpus signature is
    // recomputed. The gate is x24's VERBATIM oracle — the artifact
    // path must be bit-identical to the in-plan computation (BIGINT
    // lanes and hex digests round-trip parquet exactly). This is the
    // daily-ingest production shape: index cost is paid once at build,
    // per-batch cost scales with the batch (its one text scan + the
    // asymmetric band-key join + two pruned columnar scans of the
    // compact artifact). DedupIndexSpec pins the artifact layout and
    // load parity.
    Q(
      "b13_dedup_index_roundtrip", snapshotDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val isBatch = col("doc_id") % 4 === 3
      val path = graft.streaming.TempWork.dir("graft_b13_dedupidx")
      DedupIndex.save(spark, DedupIndex.index(docs.filter(!isBatch)), path)
      DedupIndex.dedupBatch(docs.filter(isBatch), DedupIndex.load(spark, path))
    },

    // B14 — the dedup index GROWN by append: base built on half the
    // corpus (doc_id % 4 in {0, 1}), yesterday's batch (% 4 = 2)
    // appended as new index rows — one linear scan of the slice, no
    // existing file rewritten, no retraining possible by construction
    // (MinHash seeds are literals, so old signatures never go stale —
    // the property that lets this index grow forever where the ANN
    // index needs periodic codebook rebuilds) — and today's batch
    // (% 4 = 3) deduplicated against the loaded union. Same verbatim
    // x24 oracle: append must be invisible to the answer, exactly
    // b8's contract transplanted to the dedup artifact.
    Q(
      "b14_dedup_index_grow", snapshotDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_b14_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3),
        DedupIndex.load(spark, path))
    },

    // B20 — DEDUP-INDEX DELETES made physical: b11's tombstone pattern
    // transplanted to the dedup artifact (VERDICT r10 task 1: "the
    // dedup index can forget taken-down documents"). The full
    // lifecycle in one gated chain: base built on half the corpus,
    // yesterday's batch appended, then every indexed doc_id % 5 = 4 is
    // DELETED (takedowns / de-listed sources whose old text must stop
    // suppressing future near-duplicates) and the artifact COMPACTED —
    // deletes are a bounded id-only tombstone unit committed next to
    // the rows (the Delta/Iceberg delete-file pattern: a per-takedown
    // rewrite of a 100 GB signature artifact is a full table write),
    // and compaction is where they become physical: the new root's
    // head names exactly one packed rows unit, tombstone-free, with the
    // applied-epoch ledger carried. The gate is
    // x24's dedup restated over the SURVIVING index — batch docs whose
    // only near partner was deleted stop counting (answer-visible at
    // every tested scale by the modulus choice), which is precisely
    // the production requirement: a taken-down document must stop
    // producing dedup suppressions. SCALE SHAPE: b14's (per-batch cost
    // scales with the batch) plus one broadcast anti-join whose build
    // side is the tombstone id set — bounded by deletes, not corpus.
    Q(
      "b20_dedup_index_delete_compact", survivorDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_b20_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 4 =!= 3 && col("doc_id") % 5 === 4)
          .select("doc_id"), path)
      val compacted = graft.streaming.TempWork.dir("graft_b20_compact")
      DedupIndex.compact(spark, path, compacted)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3),
        DedupIndex.load(spark, compacted))
    },

    // B21 — the MASKED serve path of the dedup index: b20's lifecycle
    // up to the delete, served WITHOUT compacting — the state a
    // production index is in between a takedown and the next OPTIMIZE
    // pass, when deleted documents must already have stopped matching
    // but the rows artifact still physically holds them. DedupIndex
    // .load anti-joins the (bounded, id-only, broadcast) tombstone set
    // out of the scan of the head's rows units, so the incoming batch dedups
    // against exactly the surviving signatures. The gate is b20's
    // VERBATIM oracle: masked-before-compact and physical-after-
    // compact must be the same answer — the two halves of the
    // tombstone contract, each hash-gated on its own row
    // (DedupIndexSpec additionally pins their row identity and the
    // compacted artifact's physical exclusion).
    Q(
      "b21_dedup_index_masked_serve", survivorDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_b21_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 4 =!= 3 && col("doc_id") % 5 === 4)
          .select("doc_id"), path)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3),
        DedupIndex.load(spark, path))
    },

    // B23 — DEDUP-INDEX TIME TRAVEL: the versioned-manifest layer the
    // ANN index earned across rounds 9-10 (snapshot/loadAt, b16/b17),
    // now on the dedup artifact through the SAME shared machinery
    // (core.Snapshots — extracted round 11, not forked). Why a dedup
    // index needs pinned reads: dedup decisions are training-run
    // PROVENANCE — "which documents did Tuesday's ingest suppress,
    // against which index state" must stay answerable after the index
    // has grown and absorbed takedowns. The chain: base built and
    // snapshotted (v1), then the artifact moves on — an append AND a
    // takedown, snapshotted as v2 — and today's batch is deduplicated
    // against loadAt(v1). The gate is x24's dedup restated over ONLY
    // the v1 base: post-snapshot rows must be invisible and
    // post-snapshot tombstones must NOT mask (the audit point — the
    // pinned answer differs from the live head's on both counts).
    // SCALE SHAPE: one tag file read on the driver, then b13's exact
    // serving plan over the pinned units.
    Q(
      "b23_dedup_index_pinned_read", baseOnlyDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_b23_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      DedupIndex.snapshot(spark, path, 1)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 2)), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 4 =!= 3 && col("doc_id") % 5 === 4)
          .select("doc_id"), path)
      DedupIndex.snapshot(spark, path, 2)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3),
        DedupIndex.loadAt(spark, path, 1))
    },

    // B24 — DEDUP-INDEX ROLLBACK: the recovery move after a bad ingest,
    // b19's contract on the dedup artifact (shared core.Snapshots
    // path). The injected damage is chosen to be answer-FATAL if the
    // rollback under-deletes or over-deletes: (a) a mis-routed junk
    // append that indexes the incoming batch slice ITSELF — served
    // un-rolled-back, every batch doc exact-dups its own index row, so
    // n_exact_dup saturates to n_new; (b) an over-broad takedown
    // tombstoning every even doc_id — served masked, half the base's
    // dedup evidence vanishes. rollback(v1) commits v1's tag as the
    // head, deletes the junk unit and the tombstone unit (no retained
    // tag names them), and the CURRENT read — load, not loadAt — must
    // then give the v1 base-only answer bit-exactly. Cost tracks unit
    // count, never data volume: rollback reads tag files and deletes
    // units, running no Spark job.
    Q(
      "b24_dedup_index_rollback", baseOnlyDedupSql
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_b24_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      DedupIndex.snapshot(spark, path, 1)
      DedupIndex.append(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 === 3)), path)
      DedupIndex.delete(spark,
        docs.filter(col("doc_id") % 2 === 0).select("doc_id"), path)
      DedupIndex.rollback(spark, path, 1)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3),
        DedupIndex.load(spark, path))
    },

    // S15 — STREAMING dedup-index ingestion: b14's append arriving
    // through Structured Streaming — the continuously-growing dedup
    // index a crawl pipeline runs (yesterday's accepted docs stream in
    // as index rows; today's batch dedups against the union). The
    // % 4 = 2 slice lands as parquet files consumed by a file-source
    // stream whose foreachBatch indexes each micro-batch (one linear
    // text scan of the BATCH) and appends idempotently (one unit and
    // its ledger line in one log commit); with maxFilesPerTrigger=1 the
    // run really executes multiple micro-batch appends, and it is
    // REPLAY-BEARING exactly like s14: an injected post-commit crash
    // after epoch 1's log commit forces the restarted query (same
    // checkpoint, so the WAL re-issues the same epoch id) to re-deliver
    // that micro-batch, which the head's ledger must refuse. A doubled
    // append would be INVISIBLE to the
    // x24-shaped counts (near ids are DISTINCT, n_new counts the
    // batch), so this row's oracle extends x24's with the artifact's
    // ROW COUNT (n_indexed, restated as the % 4 <> 3 corpus count) —
    // the column a replayed append actually corrupts, making the
    // idempotence claim hash-gated rather than asserted. The dedup
    // columns still gate the loaded-union answer verbatim.
    Q(
      "s15_stream_dedup_index", snapshotDedupSql(
        ",\nix AS (SELECT CAST(count(*) AS BIGINT) AS n_indexed " +
          "FROM documents WHERE doc_id % 4 <> 3)",
        ",\n  (SELECT n_indexed FROM ix) AS n_indexed")
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_s15_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      val in = graft.streaming.TempWork.dir("graft_s15_in")
      val ckpt = graft.streaming.TempWork.dir("graft_s15_ck")
      docs.filter(col("doc_id") % 4 === 2)
        .select("doc_id", "lang", "text")
        .repartition(2).write.mode("append").parquet(in)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = ss.read.parquet(in).schema
      def stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run(injectCrash: Boolean): Unit = {
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            DedupIndex.appendIdempotent(batch.sparkSession,
              DedupIndex.index(batch), path, epochId)
            if (injectCrash && epochId == 1 && crashed.compareAndSet(false, true))
              throw new RuntimeException(
                "injected post-commit crash (s15 replay proof)")
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable()
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
        } finally if (q.isActive) q.stop()
      }
      try {
        run(injectCrash = true)   // crashes after epoch 1's append
        run(injectCrash = false)  // engine replays epoch 1; the ledger skips it
      } finally {
        graft.streaming.TempWork.delete(in)
        graft.streaming.TempWork.delete(ckpt)
      }
      val idx = DedupIndex.load(spark, path)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3), idx)
        .crossJoin(broadcast(idx.agg(count(lit(1)).as("n_indexed"))))
        .orderBy("lang")
    },

    // S16 — the bare-commit crash, gated: s15 crashes after
    // appendIdempotent returns; here epoch 1's foreachBatch performs
    // ONLY DedupIndex.commitBatch (stage the unit, one log commit that
    // names it together with its ledger line) and then dies, and the
    // restarted query (same checkpoint — the WAL re-issues the same
    // epoch id) re-delivers that micro-batch through appendIdempotent.
    // Because data and ledger land in one rename, no state exists where
    // the batch is committed but its ledger line is not: the replay is
    // skipped off the head's ledger, and a crash before that rename
    // leaves only an invisible unit, so the replay applies the batch
    // once. A double-indexed batch would count the % 4 = 2 slice twice
    // in n_indexed and fail the hash gate. Same extended x24 oracle as
    // s15 (dedup columns + the artifact row count) — the two rows
    // differ only in which call the crash follows. SCALE SHAPE: s15's
    // (batch-linear indexing + micro-batch commit floor); the commit
    // adds two metadata-only renames per batch.
    Q(
      "s16_stream_commit_replay", snapshotDedupSql(
        ",\nix AS (SELECT CAST(count(*) AS BIGINT) AS n_indexed " +
          "FROM documents WHERE doc_id % 4 <> 3)",
        ",\n  (SELECT n_indexed FROM ix) AS n_indexed")
    ) { (spark, dir) =>
      val docs = Tables.fanOut(Tables(spark, dir, "documents"))
      val path = graft.streaming.TempWork.dir("graft_s16_dedupidx")
      DedupIndex.save(spark,
        DedupIndex.index(docs.filter(col("doc_id") % 4 < 2)), path)
      val in = graft.streaming.TempWork.dir("graft_s16_in")
      val ckpt = graft.streaming.TempWork.dir("graft_s16_ck")
      docs.filter(col("doc_id") % 4 === 2)
        .select("doc_id", "lang", "text")
        .repartition(2).write.mode("append").parquet(in)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      val schema = ss.read.parquet(in).schema
      def stream = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run(injectCrash: Boolean): Unit = {
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, epochId: Long) =>
            if (injectCrash && epochId == 1 &&
              crashed.compareAndSet(false, true)) {
              // the bare commit lands, then the query dies
              DedupIndex.commitBatch(batch.sparkSession,
                DedupIndex.index(batch), path, epochId)
              throw new RuntimeException(
                "injected crash after the bare commit (s16)")
            } else {
              DedupIndex.appendIdempotent(batch.sparkSession,
                DedupIndex.index(batch), path, epochId)
              ()
            }
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable()
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
        } finally if (q.isActive) q.stop()
      }
      try {
        run(injectCrash = true)   // epoch 1: committed, then the query dies
        run(injectCrash = false)  // replay: skipped off the head's ledger
      } finally {
        graft.streaming.TempWork.delete(in)
        graft.streaming.TempWork.delete(ckpt)
      }
      val idx = DedupIndex.load(spark, path)
      DedupIndex.dedupBatch(docs.filter(col("doc_id") % 4 === 3), idx)
        .crossJoin(broadcast(idx.agg(count(lit(1)).as("n_indexed"))))
        .orderBy("lang")
    },

    // X28 — boilerplate n-gram mining: the 10-token spans shared by the
    // most documents (document frequency >= 2) — how a pipeline finds
    // template/boilerplate contamination that survives exact dedup
    // (x25 scores repetition WITHIN a doc; this finds repetition
    // ACROSS docs). Per-doc DISTINCT grams so a span repeating inside
    // one doc counts once; native tokenizer + native n-gram builder,
    // then one count aggregate and a top-20 TakeOrdered — map-side
    // reducible at any scale. At 100 TB the gram strings would be
    // hashed for the shuffle (cross-engine gate needs the strings).
    Q(
      "x28_boilerplate_ngrams",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+9], ' ') AS ng
         |      FROM t, unnest(generate_series(1, len(toks) - 9)) u(i)
         |      WHERE len(toks) >= 10),
         |c AS (SELECT ng, count(*) AS df FROM g GROUP BY 1)
         |SELECT ng, df FROM c WHERE df >= 2 ORDER BY df DESC, ng LIMIT 20""".stripMargin
    ) { (spark, dir) =>
      toks(spark, dir)
        .filter(size(col("toks")) >= 10)
        .select(col("doc_id"),
          explode(graft.functions.ShingleExpressions.tokenNgrams(col("toks"), 10)).as("ng"))
        .distinct()
        .groupBy("ng").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2)
        .orderBy(col("df").desc, col("ng"))
        .limit(20)
    },

    // X25 — repetition filter (Gopher-style rep signal): per-document
    // duplicate word-3-gram fraction, scaled to integer ten-thousandths
    // (exact on both engines — no float division), worst 50 documents.
    // A high ratio marks boilerplate/template text that survives exact
    // dedup. Row-local array work only; the only shuffle is the top-50
    // TakeOrdered, which reduces map-side at any scale.
    Q(
      "x25_repetition_filter",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks) - 2)] AS g3
         |      FROM t WHERE len(toks) >= 3),
         |r AS (SELECT doc_id, CAST(len(g3) AS BIGINT) AS n3,
         |        CAST(len(list_distinct(g3)) AS BIGINT) AS d3 FROM g)
         |SELECT doc_id, n3, d3, (n3 - d3) * 10000 // n3 AS rep_scaled
         |FROM r ORDER BY rep_scaled DESC, doc_id LIMIT 50""".stripMargin
    ) { (spark, dir) =>
      toks(spark, dir)
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          graft.functions.ShingleExpressions.tokenNgrams(col("toks"), 3).as("g3"))
        .select(col("doc_id"), size(col("g3")).cast("long").as("n3"),
          size(array_distinct(col("g3"))).cast("long").as("d3"))
        .withColumn("rep_scaled", expr("(n3 - d3) * 10000 DIV n3"))
        .orderBy(col("rep_scaled").desc, col("doc_id"))
        .limit(50)
    },

    // X26 — sequential quality funnel: the per-stage drop report every
    // curation pipeline prints (C4/Gopher style). Stages apply IN ORDER
    // — a doc dropped by an earlier rule is not counted against later
    // ones — so each row reads "of n_in docs reaching this stage,
    // n_dropped fell here". All predicates are exact integer
    // arithmetic (ratio thresholds as cross-multiplications, no float
    // division). One linear scan, one 1-row aggregate, rows unpacked
    // from it — no second pass over the data.
    Q(
      "x26_quality_funnel",
      s"""WITH t AS (SELECT n_chars, $toksSql AS toks FROM documents),
         |s AS (SELECT CAST(len(toks) AS BIGINT) AS n_tok,
         |        CAST(n_chars AS BIGINT) AS nc,
         |        CAST(len(list_distinct(toks)) AS BIGINT) AS d_tok,
         |        CAST(len(list_filter(toks, x -> x IN ('a','the'))) AS BIGINT) AS stop_cnt
         |      FROM t),
         |f AS (SELECT n_tok < 20 AS f1,
         |        (n_tok >= 20 AND nc > 400) AS f2,
         |        (n_tok >= 20 AND nc <= 400 AND d_tok * 100 < 40 * n_tok) AS f3,
         |        (n_tok >= 20 AND nc <= 400 AND d_tok * 100 >= 40 * n_tok
         |         AND stop_cnt * 1000 < 20 * n_tok) AS f4
         |      FROM s),
         |a AS (SELECT count(*) AS n,
         |        CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |        CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |        CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |        CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
         |      FROM f)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_no, 'too_short' AS stage, n AS n_in, s1 AS n_dropped FROM a
         |  UNION ALL SELECT 2, 'too_long', n - s1, s2 FROM a
         |  UNION ALL SELECT 3, 'low_diversity', n - s1 - s2, s3 FROM a
         |  UNION ALL SELECT 4, 'low_stopword', n - s1 - s2 - s3, s4 FROM a
         |  UNION ALL SELECT 5, 'survivors', n - s1 - s2 - s3 - s4, 0 FROM a)
         |ORDER BY stage_no""".stripMargin
    ) { (spark, dir) =>
      val s = toks(spark, dir).select(
        size(col("toks")).cast("long").as("n_tok"),
        col("n_chars").cast("long").as("nc"),
        size(array_distinct(col("toks"))).cast("long").as("d_tok"),
        size(filter(col("toks"), (t: Column) => t === "a" || t === "the"))
          .cast("long").as("stop_cnt"))
      val pass1 = col("n_tok") >= 20
      val pass2 = pass1 && col("nc") <= 400
      val pass3 = pass2 && col("d_tok") * 100 >= col("n_tok") * 40
      val a = s.agg(
        count(lit(1)).as("n"),
        sum(when(!pass1, 1L).otherwise(0L)).as("s1"),
        sum(when(pass1 && col("nc") > 400, 1L).otherwise(0L)).as("s2"),
        sum(when(pass2 && col("d_tok") * 100 < col("n_tok") * 40, 1L).otherwise(0L)).as("s3"),
        sum(when(pass3 && col("stop_cnt") * 1000 < col("n_tok") * 20, 1L).otherwise(0L)).as("s4"))
      a.selectExpr(
        """stack(5,
          |  1L, 'too_short',     n,                     s1,
          |  2L, 'too_long',      n - s1,                s2,
          |  3L, 'low_diversity', n - s1 - s2,           s3,
          |  4L, 'low_stopword',  n - s1 - s2 - s3,      s4,
          |  5L, 'survivors',     n - s1 - s2 - s3 - s4, 0L
          |) AS (stage_no, stage, n_in, n_dropped)""".stripMargin)
        .orderBy("stage_no")
    },

    // X31 — rarity filter: per-document mean corpus frequency of its
    // tokens, the integer-exact stand-in for the LM-perplexity quality
    // filter every curation pipeline runs (CCNet scores docs with a
    // KenLM; the monotone core of that signal at unigram order is "how
    // common are this doc's tokens in the corpus", which needs no model
    // file and no ln() — libm implementations diverge in the last ulp,
    // same reasoning as x14/x20). Low mcf = rare-token-heavy docs
    // (gibberish, codes, OCR noise); the 25 rarest are the review
    // queue. SCALE SHAPE: the token explode collapses immediately to
    // per-doc term frequencies (map-side partial agg), the corpus
    // frequency table is vocabulary-sized, and the tf⋈freq join keys
    // on the token — per-token tf rows are bounded by document
    // frequency, so the head of the Zipf curve is the skew case: AQE's
    // skew-join split covers it here, and a 100 TB deployment would
    // broadcast the top-K hot tokens and shuffle only the tail.
    // INT64 HEADROOM: sum_freq * 1e6 <= n_tok_doc * N_corpus * 1e6
    // must stay under 2^63 — safe to ~10^5-token docs against a 10^7-
    // token corpus; past that lift the score into DECIMAL(38,0) on
    // both engines (x20's documented discipline).
    Q(
      "x31_rarity_filter",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS c
         |       FROM (SELECT doc_id, unnest(toks) AS t FROM t) u GROUP BY 1, 2),
         |fr AS (SELECT t, CAST(SUM(c) AS BIGINT) AS freq FROM tf GROUP BY 1),
         |d AS (SELECT tf.doc_id, CAST(SUM(tf.c) AS BIGINT) AS n_tok,
         |        CAST(SUM(tf.c * fr.freq) AS BIGINT) AS sum_freq
         |      FROM tf JOIN fr ON tf.t = fr.t GROUP BY 1)
         |SELECT doc_id, n_tok, sum_freq, sum_freq * 1000000 // n_tok AS mcf_scaled
         |FROM d ORDER BY mcf_scaled, doc_id LIMIT 25""".stripMargin
    ) { (spark, dir) =>
      val tf = toks(spark, dir)
        .select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      val fr = tf.groupBy("t").agg(sum("c").as("freq")).toDF("t2", "freq")
      tf.join(fr, col("t") === col("t2"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_tok"),
          sum(col("c") * col("freq")).cast("long").as("sum_freq"))
        .withColumn("mcf_scaled", expr("sum_freq * 1000000 DIV n_tok"))
        .orderBy(col("mcf_scaled"), col("doc_id"))
        .limit(25)
    },

    // X57 — hashed-n-gram importance weights (the DSIR shape, Xie et
    // al. 2023): score every document by how much its bigram
    // distribution looks like a TARGET slice of the corpus relative
    // to the raw distribution. Bigrams hash into a FIXED 256-bucket
    // feature space (per-token 8-char base-31 fold — the simhash
    // token hash — composed across the pair), so the two
    // distribution tables are 256 rows regardless of corpus size:
    // the raw and target counts are one partial-aggregated pass
    // each, the weight table broadcasts, and per-doc scoring is a
    // map-side join + rollup — nothing scales with the vocabulary.
    // Weights are integer-exact scaled ratios ((t+1)·10^6 div (r+1),
    // add-one smoothed) in place of DSIR's log-ratio sum — monotone
    // per-feature, so the induced document ranking has the same
    // shape while staying bit-portable across engines. The target
    // slice is a fresh-multiplier 5% hash range (decorrelated from
    // x11/x18/x19/x40); in production it would be the curated
    // high-quality reference corpus.
    Q(
      "x57_dsir_weights",
      dsirCtesSql +
        """
          |SELECT doc_id, lang, n_bigrams, score
          |FROM d ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
    ) { (spark, dir) =>
      dsirScores(spark, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    },

    // X78 — DSIR importance RESAMPLING: the second half of the DSIR
    // recipe (Xie et al. 2023 — compute importance weights, then
    // importance-resample the corpus by them), composed from two
    // gated pieces: the per-doc score is x57's hashed-bigram
    // importance weight VERBATIM (same CTEs in the oracle, same
    // cached plan in the engine), and the draw is x77's
    // integer-exact priority sampler with weight = that score — so a
    // doc's selection probability tracks how target-like its bigram
    // distribution is. This is the row a pretraining pipeline
    // actually runs: x57 ranks (a report), x78 DRAWS the training
    // subset (an artifact), without replacement, per language
    // stratum, byte-reproducibly (fresh u multiplier, decorrelated
    // from x57's target-slice salt and x77's sampler). SCALE SHAPE:
    // x57's bounded 256-bucket weight machinery (nothing scales with
    // the vocabulary) + TopKPerKey's k-rows-per-stratum-per-partition
    // shuffle — the corpus never sorts. Docs with < 2 tokens have no
    // bigrams, hence no score, and sit outside the draw — the same
    // membership rule x57's report applies.
    Q(
      "x78_dsir_sample",
      dsirCtesSql +
        """,
          |p AS (SELECT lang, doc_id, greatest(score, 1) AS wt,
          |    ((doc_id % 1000003) * 1640531527) % 1000003 AS u FROM d),
          |k AS (SELECT lang, doc_id, wt, (u * 1000000000000) // wt AS pkey FROM p),
          |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pkey, doc_id) AS rn FROM k)
          |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, CAST(wt AS BIGINT) AS wt,
          |  CAST(pkey AS BIGINT) AS pkey
          |FROM r WHERE rn <= 10 ORDER BY lang, rn""".stripMargin
    ) { (spark, dir) =>
      val base = dsirScores(spark, dir)
        .select(col("lang"), col("doc_id"),
          greatest(col("score"), lit(1L)).as("wt"),
          (col("doc_id") % 1000003L * 1640531527L % 1000003L).as("u"))
        .withColumn("pkey", expr("(u * 1000000000000L) DIV wt"))
        .select("lang", "doc_id", "wt", "pkey")
      val top = graft.plans.TopKPerKey(base,
        Seq("lang"), Seq(("pkey", true), ("doc_id", true)), 10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("pkey", "doc_id")
      top.withColumn("rn", row_number().over(w).cast("long"))
        .select(col("lang"), col("rn"), col("doc_id"), col("wt"), col("pkey"))
        .orderBy("lang", "rn")
    },

    // X58 — PII detection + redaction: scrub emails, IPv4 addresses,
    // and phone numbers from every document and report the per-language
    // redaction audit (docs touched, matches per type, characters
    // removed) — the privacy pass every production corpus build runs
    // before training. The synthetic corpus carries no PII, so the
    // fixture PLANTS it deterministically in-plan (x48's
    // deterministic-change-batch pattern): doc_id-derived emails /
    // IPs / phone numbers appended to hash-selected docs, identically
    // in both engines — the operator under test is the scrubber, the
    // planting is the test fixture. Patterns are deliberately
    // backtracking-free (no alternation, no nested quantifiers) so
    // Java's NFA and DuckDB's RE2 leftmost semantics agree match for
    // match. SHAPE: pure per-row codegen'd map (RegExpReplace /
    // RegExpCount) + one tiny per-lang rollup — zero corpus shuffle;
    // at 100 TB this runs at scan speed, and chars_redacted / match
    // counts give the monitoring dashboard its drift signal.
    Q(
      "x58_pii_scrub",
      """WITH a AS (SELECT doc_id, lang,
        |    text ||
        |    CASE WHEN doc_id % 7 = 3 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for details' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 5 THEN ' server 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 97 AS VARCHAR) || '.' || CAST(doc_id % 13 AS VARCHAR) || ' logged' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 2 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' ELSE '' END AS t
        |  FROM documents),
        |s AS (SELECT doc_id, lang, t,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        |    CAST(len(regexp_extract_all(t, '\+1-555-\d{4}')) AS BIGINT) AS n_phone,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\+1-555-\d{4}', '[PHONE]', 'g') AS clean
        |  FROM a)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(SUM(n_email) AS BIGINT) AS emails,
        |  CAST(SUM(n_ip) AS BIGINT) AS ips,
        |  CAST(SUM(n_phone) AS BIGINT) AS phones,
        |  CAST(SUM(length(t) - length(clean)) AS BIGINT) AS chars_redacted
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin
    ) { (spark, dir) =>
      val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
      val ipPat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      val phonePat = """\+1-555-\d{4}"""
      val annotated = concat(col("text"),
        when(col("doc_id") % 7 === 3,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com for details"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 5,
          concat(lit(" server 10."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") % 97).cast("string"),
            lit("."), (col("doc_id") % 13).cast("string"),
            lit(" logged"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 2,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" now"))).otherwise(lit("")))
      val clean = regexp_replace(regexp_replace(regexp_replace(col("t"),
        lit(emailPat), lit("[EMAIL]")), lit(ipPat), lit("[IP]")),
        lit(phonePat), lit("[PHONE]"))
      Tables.fanOut(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"), annotated.as("t"))
        .select(col("lang"), col("t"),
          regexp_count(col("t"), lit(emailPat)).as("n_email"),
          regexp_count(col("t"), lit(ipPat)).as("n_ip"),
          regexp_count(col("t"), lit(phonePat)).as("n_phone"),
          clean.as("clean"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum("n_email").cast("long").as("emails"),
          sum("n_ip").cast("long").as("ips"),
          sum("n_phone").cast("long").as("phones"),
          sum(length(col("t")) - length(col("clean"))).cast("long").as("chars_redacted"))
        .orderBy("lang")
    },

    // X82 — QUALITY-CLASSIFIER TRAINING: a fastText-shaped linear spam
    // classifier trained with full-batch gradient descent entirely
    // inside the engine, in exact integer fixed point — the
    // trained-model analogue of x29/x30/x46 (k-means, BPE, bigram LM):
    // the TRAINING ALGORITHM is the operator under test and the oracle
    // replays every epoch as CTEs, so the learned weights and the
    // learning CURVE are hash-gated, not just asserted. FIXTURE
    // (x58/x21 discipline): the corpus carries no spam, so a planted
    // one is injected IN-PLAN identically in both engines — doc_id % 5
    // docs get a 3x-repeated 8-token boilerplate appended; the label is
    // the plant, the FEATURES are generic quality stats (duplicate-
    // bigram ppt, en-stopword ppt, capped token count) that the plant
    // only shifts statistically, so the model has to LEARN the
    // boundary (epoch 1 predicts the majority class; recall climbs to
    // ~1 by epoch 3 with ~0 false positives — the spec pins the
    // trajectory). ARITHMETIC: features are mean-centered (integer
    // means) and x20-scaled; logit z = (w·x) DIV 1000 in micro-units;
    // hard-sigmoid p = clamp(z DIV 4 + 500000, 0, 10^6); error
    // e = p − y·10^6; gradient g_j = Σ e·x_j (exact BIGINT — |e·x| ≤
    // 2·10^10 per row, safe past 10^8 docs; rescale e DIV 10 beyond);
    // update w_j ← w_j − g_j DIV (n·50) for the bias, DIV (n·1000) for
    // the x20-scaled features. Both engines' DIV truncates toward
    // zero, so every epoch is bit-identical. SCALE SHAPE: one linear
    // feature-extraction pass (native token-bigram expr, no explode),
    // cached; then 7 one-row aggregates over it (epoch k's gradient
    // pass also scores epoch k-1's confusion — fused, KMeans-style
    // driver loop holding only the 4-weight vector). Output: 6 rows
    // (epoch, w0..w3, tp, fp, fn, tn), all BIGINT.
    Q(
      "x82_quality_classifier", {
        val spamSql = ClassifierSpam.replaceAll("'", "''")
        val stop = TextQueries.sqlList(TextQueries.stopEn)
        val epochs = (1 to ClassifierEpochs).map { k =>
          s"""e$k AS (SELECT y, c1, c2, c3,
             |    LEAST(1000000, GREATEST(0,
             |      ((w.w0*1000 + w.w1*c1 + w.w2*c2 + w.w3*c3) // 1000) // 4 + 500000))
             |      - y*1000000 AS e
             |  FROM f CROSS JOIN w${k - 1} w),
             |g$k AS (SELECT CAST(SUM(e) AS BIGINT)*1000 AS g0,
             |    CAST(SUM(e*c1) AS BIGINT) AS g1, CAST(SUM(e*c2) AS BIGINT) AS g2,
             |    CAST(SUM(e*c3) AS BIGINT) AS g3 FROM e$k),
             |w$k AS (SELECT w.w0 - g.g0 // (mn.n*50) AS w0,
             |    w.w1 - g.g1 // (mn.n*1000) AS w1,
             |    w.w2 - g.g2 // (mn.n*1000) AS w2,
             |    w.w3 - g.g3 // (mn.n*1000) AS w3
             |  FROM w${k - 1} w CROSS JOIN g$k g CROSS JOIN mn),
             |z$k AS (SELECT f.y,
             |    (w.w0*1000 + w.w1*c1 + w.w2*c2 + w.w3*c3) // 1000 AS z
             |  FROM f CROSS JOIN w$k w),
             |p$k AS (SELECT CAST($k AS BIGINT) AS epoch, w.w0, w.w1, w.w2, w.w3,
             |    s.tp, s.fp, s.fn, s.tn FROM w$k w CROSS JOIN
             |   (SELECT CAST(SUM(CASE WHEN y=1 AND z>=0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |      CAST(SUM(CASE WHEN y=0 AND z>=0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |      CAST(SUM(CASE WHEN y=1 AND z<0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |      CAST(SUM(CASE WHEN y=0 AND z<0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
             |    FROM z$k) s)""".stripMargin
        }.mkString(",\n")
        val union = (1 to ClassifierEpochs).map(k => s"SELECT * FROM p$k")
          .mkString(" UNION ALL ")
        s"""WITH d AS (SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0 THEN text || '$spamSql' ELSE text END AS text,
           |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS y FROM documents),
           |t AS (SELECT doc_id, y,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM d),
           |b AS (SELECT doc_id, y, toks,
           |    [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] AS bgs FROM t),
           |f0 AS (SELECT doc_id, y,
           |    (1000*(len(bgs) - len(list_distinct(bgs)))) // greatest(len(bgs), 1) AS x1,
           |    (1000*len(list_filter(toks, x -> x IN ($stop)))) // greatest(len(toks), 1) AS x2,
           |    least(len(toks), 1000) AS x3 FROM b),
           |mn AS (SELECT CAST(SUM(x1) AS BIGINT) // count(*) AS m1,
           |    CAST(SUM(x2) AS BIGINT) // count(*) AS m2,
           |    CAST(SUM(x3) AS BIGINT) // count(*) AS m3,
           |    CAST(count(*) AS BIGINT) AS n FROM f0),
           |f AS (SELECT y, 20*(x1 - m1) AS c1, 20*(x2 - m2) AS c2,
           |    20*(x3 - m3) AS c3 FROM f0 CROSS JOIN mn),
           |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
           |    CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
           |$epochs
           |SELECT epoch, w0, w1, w2, w3, tp, fp, fn, tn FROM ($union)
           |ORDER BY epoch""".stripMargin
      }
    ) { (spark, dir) => trainClassifier(spark, dir) }
  )

  /** x82's planted boilerplate (3 repeats of an 8-token phrase — high
    * duplicate-bigram ratio, zero en-stopwords) and epoch count.
    * (defs, not vals: referenced while the registry Seq above is still
    * initializing — a val here would read as null at that point.) */
  private[llm] def ClassifierSpam: String =
    " buy now click here free offer limited deal" * 3
  private[llm] def ClassifierEpochs = 6

  /** x82's engine path — also exercised head-to-head by the spec. */
  private[llm] def trainClassifier(
      spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ShingleExpressions
    val planted = col("doc_id") % 5 === 0
    val f0 = Tables.fanOut(Tables(spark, dir, "documents"))
      .select(col("doc_id"),
        when(planted, concat(col("text"), lit(ClassifierSpam)))
          .otherwise(col("text")).as("text"),
        when(planted, 1L).otherwise(0L).as("y"))
      .select(col("y"), wsTokens(col("text")).as("toks"))
      .select(col("y"), col("toks"),
        ShingleExpressions.tokenNgrams(col("toks"), 2).as("bgs"))
      .select(col("y"),
        size(col("toks")).cast("long").as("ntok"),
        size(filter(col("toks"),
          x => x.isin(TextQueries.stopEn: _*))).cast("long").as("nstop"),
        size(col("bgs")).cast("long").as("nbg"),
        size(array_distinct(col("bgs"))).cast("long").as("ndbg"))
      .select(col("y"),
        expr("(1000 * (nbg - ndbg)) DIV greatest(nbg, 1)").as("x1"),
        expr("(1000 * nstop) DIV greatest(ntok, 1)").as("x2"),
        least(col("ntok"), lit(1000L)).as("x3"))
    // integer feature means — one bounded row to the driver (the
    // KMeans-loop precedent: driver state is the model, never the data)
    val mr = f0.agg(sum("x1"), sum("x2"), sum("x3"), count(lit(1))).head()
    val n = mr.getLong(3)
    require(n > 0, "trainClassifier: empty documents corpus")
    val m = (0 to 2).map(j => mr.getLong(j) / n)
    val cf = CacheScope.cacheEager(f0.select(col("y"),
      (lit(20L) * (col("x1") - m(0))).as("c1"),
      (lit(20L) * (col("x2") - m(1))).as("c2"),
      (lit(20L) * (col("x3") - m(2))).as("c3")))
    var w = Array(0L, 0L, 0L, 0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[
      (Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    var prev: Option[(Array[Long])] = None
    (1 to ClassifierEpochs + 1).foreach { k =>
      val lin = s"(${w(0)}L * 1000L + ${w(1)}L * c1 + ${w(2)}L * c2 + ${w(3)}L * c3)"
      val zc = expr(s"$lin DIV 1000L")
      val ec = expr(s"LEAST(1000000L, GREATEST(0L, " +
        s"($lin DIV 1000L) DIV 4L + 500000L)) - y * 1000000L")
      // fused pass: epoch k's gradient + epoch k-1's confusion, one agg
      val r = cf.select(col("y"), col("c1"), col("c2"), col("c3"),
          zc.as("z"), ec.as("e"))
        .agg(sum("e").as("s0"), sum(col("e") * col("c1")).as("s1"),
          sum(col("e") * col("c2")).as("s2"), sum(col("e") * col("c3")).as("s3"),
          sum(when(col("y") === 1 && col("z") >= 0, 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") === 0 && col("z") >= 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1 && col("z") < 0, 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") === 0 && col("z") < 0, 1L).otherwise(0L)).as("tn"))
        .head()
      prev.foreach { pw =>
        out += ((k - 1L, pw(0), pw(1), pw(2), pw(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      }
      if (k <= ClassifierEpochs) {
        val g = Array(r.getLong(0) * 1000L, r.getLong(1), r.getLong(2), r.getLong(3))
        w = Array(w(0) - g(0) / (n * 50L), w(1) - g(1) / (n * 1000L),
          w(2) - g(2) / (n * 1000L), w(3) - g(3) / (n * 1000L))
        prev = Some(w.clone())
      }
    }
    import spark.implicits._
    out.toSeq.toDF("epoch", "w0", "w1", "w2", "w3", "tp", "fp", "fn", "tn")
      .orderBy("epoch")
  }

  /** The simhash token hash (8-char right-space-padded base-31 fold,
    * mod 2^32) as a Column — x57's per-token feature hash. */
  private def tokHash32(t: Column): Column = {
    val p = rpad(substring(t, 1, 8), 8, " ")
    (2 to 8).foldLeft(ascii(substring(p, 1, 1)).cast("long")) {
      (acc, i) => acc * 31L + ascii(substring(p, i, 1))
    } % 4294967296L
  }

  /** The identical fold in oracle SQL over an already-padded column. */
  private def tokHashSql(c: String): String =
    (2 to 8).foldLeft(s"CAST(ascii(substr($c,1,1)) AS BIGINT)") {
      (acc, i) => s"($acc*31 + ascii(substr($c,$i,1)))"
    } + " % 4294967296"

  /** x57's per-doc DSIR importance scores (doc_id, lang, n_bigrams,
    * score) — shared with x78's importance resampler so both rows
    * state the SAME weight pipeline (docs with < 2 tokens have no
    * bigrams and are absent). */
  private[graft] def dsirScores(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // cacheEager: bg fans out to raw counts, target counts, AND the
    // scoring join (three concurrent consumers of one explode).
    val bg = CacheScope.cacheEager(
      Tables.fanOut(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          ((col("doc_id") * 2654435789L) % 1000003L % 100 < 5).as("is_tgt"),
          explode(graft.functions.ShingleExpressions
            .tokenNgrams(wsTokens(col("text")), 2)).as("bg"))
        .withColumn("bkt",
          (tokHash32(substring_index(col("bg"), " ", 1)) * 31L
            + tokHash32(substring_index(col("bg"), " ", -1))) % 1009L % 256L))
    val raw = bg.groupBy("bkt").agg(count(lit(1)).as("cr"))
    val tgt = bg.filter(col("is_tgt")).groupBy("bkt").agg(count(lit(1)).as("ct"))
    val w = raw.join(tgt, Seq("bkt"), "left")
      .select(col("bkt"),
        expr("((coalesce(ct, 0) + 1) * 1000000) DIV (cr + 1)").as("wt"))
    bg.join(broadcast(w), "bkt")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("wt").as("score"))
  }

  /** The DSIR weight CTEs through the per-doc score table `d` —
    * interpolated by BOTH x57's report and x78's resampler oracle. */
  private[graft] def dsirCtesSql: String =
    s"""WITH t AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM documents),
       |bgr AS (SELECT doc_id, lang, (doc_id * 2654435789) % 1000003 % 100 < 5 AS is_tgt,
       |    rpad(substr(toks[i], 1, 8), 8, ' ') AS pa, rpad(substr(toks[i+1], 1, 8), 8, ' ') AS pb
       |  FROM (SELECT doc_id, lang, toks, unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM t WHERE len(toks) >= 2) u),
       |h AS (SELECT doc_id, lang, is_tgt,
       |    ((${tokHashSql("pa")}) * 31 + (${tokHashSql("pb")})) % 1009 % 256 AS bkt FROM bgr),
       |rc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS cr FROM h GROUP BY bkt),
       |tc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS ct FROM h WHERE is_tgt GROUP BY bkt),
       |w AS (SELECT rc.bkt, ((coalesce(tc.ct, 0) + 1) * 1000000) // (rc.cr + 1) AS wt
       |      FROM rc LEFT JOIN tc USING (bkt)),
       |d AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(wt) AS BIGINT) AS score
       |  FROM h JOIN w USING (bkt) GROUP BY doc_id, lang)""".stripMargin
}
