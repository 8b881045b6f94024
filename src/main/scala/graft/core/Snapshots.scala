package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The versioned-manifest layer and the mutation lifecycle shared by
  * every persisted index artifact (AnnIndex, DedupIndex) — the
  * Delta/Iceberg commit pattern distilled: every artifact mutation is
  * append-only (appends add data files, deletes add tombstone files,
  * save/compact write NEW directories), so recording the CURRENT file
  * sets as a manifest freezes a servable version forever; pinned reads,
  * rollback, and retention are all file-set operations over those
  * manifests. An artifact is just its root `path` and its [[Layout]].
  *
  * A manifest is one small driver-written text file,
  * `{path}/manifest/v00005.tsv`, of sorted `kind<TAB>file` lines — the
  * data files of each kind plus the `_applied` epoch ledger. It is
  * created under `_staging` and made visible by [[Fs.rename]], the
  * commit primitive batch directories and forest generations use, so
  * no metadata operation (snapshot, versions, rollback, expire) runs a
  * Spark job. Files are stored ARTIFACT-ROOT-RELATIVE, so a relocated
  * artifact serves its pinned history (ADVICE r9).
  */
object Snapshots {

  /** An artifact's coordinates: `dirs` maps each manifest kind to its
    * directory under the root; `data` is the kind idempotent batches
    * commit into (as `batch-{id}` directories); `id` is the column
    * tombstones key on; `gens`, when set, is the kind whose directory
    * holds `gen-N` commit units of which a manifest records only the
    * SERVED one (DedupIndex's label forest). */
  final case class Layout(dirs: Seq[(String, String)], data: String, id: String,
      gens: Option[String] = None) {
    val dataDir: String = dirs.toMap.apply(data)
  }

  def manifestPath(path: String, version: Int): String =
    f"$path/manifest/v$version%05d.tsv"

  /** Record the artifact's CURRENT file sets as snapshot `version`,
    * replacing any manifest already committed under that number.
    * Bounded by FILE COUNT — one recursive listing per data dir.
    *
    * For the `gens` kind only the served generation is recorded —
    * recording superseded gens would pin them in every future manifest,
    * so [[expire]] could never vacuum an old generation. WHICH gen is
    * served is `gen` when the caller just wrote one, else CARRIED
    * FORWARD from the previous manifest (ADVICE r13: inferring the
    * newest directory would promote a complete-but-abandoned gen). The
    * directory inference remains only for the first-ever snapshot. */
  def snapshot(spark: SparkSession, path: String, version: Int, layout: Layout,
      gen: Option[Int] = None): Unit = {
    lazy val prev: Option[Seq[(String, String)]] =
      versions(spark, path).filter(_ < version).lastOption
        .map(v => entries(spark, path, v))
    def relative(kind: String, fs: Seq[String]) =
      fs.map(f => (kind, Fs.relativize(spark, path, f)))
    def files(kind: String, dir: String): Seq[(String, String)] =
      if (layout.gens.contains(kind)) gen match {
        case Some(n) =>
          val fs = Fs.listDataFiles(spark, s"$dir/gen-$n")
          require(fs.nonEmpty,
            s"snapshot: pinned $kind gen-$n at $dir has no data files")
          relative(kind, fs)
        case None if prev.isDefined =>
          // carry the previous manifest's served generation forward
          // (possibly none, when the artifact has never had one)
          prev.get.filter(_._1 == kind)
        case None =>
          // first-ever snapshot: newest gen WITH data files — a crashed
          // writer's empty gen dir must not mask the served generation
          relative(kind, Fs.listPrefixedDirs(spark, dir, "gen-")
            .flatMap(g => g.stripPrefix("gen-").toIntOption)
            .sorted.reverse.iterator
            .map(n => Fs.listDataFiles(spark, s"$dir/gen-$n"))
            .find(_.nonEmpty).getOrElse(Seq.empty))
      }
      else if (!Fs.exists(spark, dir)) Seq.empty
      else relative(kind, Fs.listDataFiles(spark, dir))
    val applied = Fs.listFileNames(spark, s"$path/_applied")
      .map(m => ("applied", s"_applied/$m"))
    val lines = (layout.dirs.flatMap { case (kind, dirName) =>
      files(kind, s"$path/$dirName")
    } ++ applied).sorted.map { case (k, f) => s"$k\t$f" }
    val staged = f"$path/_staging/manifest-v$version%05d-${java.util.UUID.randomUUID()}"
    Fs.writeLines(spark, staged, lines)
    // Fs.rename keeps an existing destination, so a re-snapshot of a
    // committed version drops the old manifest first
    Fs.delete(spark, manifestPath(path, version))
    Fs.rename(spark, staged, manifestPath(path, version))
  }

  private val VersionName = """v(\d+)\.tsv""".r

  /** The committed snapshot versions, ascending — one listStatus of the
    * manifest directory. Only files named `v{digits}.tsv` count (a stray
    * name never throws — ADVICE r9); an in-flight snapshot is still a
    * `_staging` file and so not listed. */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    Fs.listFileNames(spark, s"$path/manifest")
      .collect { case VersionName(n) => n.toInt }.sorted

  /** A manifest's (kind, file) entries — one file read on the driver. */
  def entries(spark: SparkSession, path: String, version: Int): Seq[(String, String)] =
    Fs.readLines(spark, manifestPath(path, version)).map { l =>
      val Array(kind, file) = l.split("\t", 2)
      (kind, file)
    }

  /** A manifest's files of one kind, resolved against THIS root. */
  def files(path: String, man: Seq[(String, String)], kind: String): Seq[String] =
    man.collect { case (k, f) if k == kind => s"$path/$f" }

  /** ROLL BACK the artifact to snapshot `toVersion`: every data file not
    * referenced by a manifest ≤ `toVersion` is deleted (compared by
    * root-relative name — the manifest's own coordinates), newer
    * manifests are dropped, emptied committed-batch dirs disappear with
    * their `_applied` markers, emptied artifact dirs are removed outright
    * (an empty parquet dir would fail schema inference on load), the
    * marker set is restored to exactly the recorded as-of ledger — what
    * makes the re-apply contract hold for FLAT-append epochs whose files
    * leave no batch directory behind (ADVICE r10) — and `_staging`
    * leftovers are reclaimed (staged-but-uncommitted work, in-flight
    * manifests included, is replayable by definition). Append-only
    * mutation is what makes this safe: a file referenced by v≤N was
    * never rewritten afterward. Cost: one manifest read per retained
    * version + one recursive listing + per-file deletes. */
  def rollback(spark: SparkSession, path: String, toVersion: Int, layout: Layout): Unit = {
    val vs = versions(spark, path)
    require(vs.contains(toVersion), s"no committed snapshot v$toVersion at $path")
    val collected = vs.filter(_ <= toVersion).map(v => entries(spark, path, v))
    val keep: Set[String] = collected.flatten.map(_._2).toSet
    layout.dirs.foreach { case (_, dirName) =>
      val dir = s"$path/$dirName"
      if (Fs.exists(spark, dir)) {
        Fs.listDataFiles(spark, dir).foreach { f =>
          if (!keep(Fs.relativize(spark, path, f))) Fs.delete(spark, f)
        }
        dropEmptiedDirs(spark, path, dir)
      }
    }
    val recorded = collected.last.collect {
      case ("applied", f) => f.stripPrefix("_applied/")
    }.toSet
    val current = Fs.listFileNames(spark, s"$path/_applied")
    current.filterNot(recorded)
      .foreach(m => Fs.delete(spark, s"$path/_applied/$m"))
    recorded.diff(current.toSet)
      .foreach(m => Fs.touch(spark, s"$path/_applied/$m"))
    vs.filter(_ > toVersion)
      .foreach(v => Fs.delete(spark, manifestPath(path, v)))
    Fs.delete(spark, s"$path/_staging")
  }

  /** EXPIRE snapshot history older than the last `keepLast` versions —
    * Delta/Iceberg `VACUUM` / `expire_snapshots`: the OLDEST
    * `versions - keepLast` manifests are dropped, and any data file
    * referenced by an expired manifest but by NO retained one is
    * deleted, with emptied batch dirs losing their `_applied` markers.
    * The CURRENT state is untouched by construction: a file the
    * directory still serves is either in a retained manifest or in no
    * manifest at all. Under append-only mutation the exclusive set is
    * empty and expire reclaims only manifest history; the subtraction
    * is what makes expire SAFE on histories with out-of-band removals.
    * No `_staging` sweep: expire may run beside a live writer. */
  def expire(spark: SparkSession, path: String, keepLast: Int, layout: Layout): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val vs = versions(spark, path)
    if (vs.length <= keepLast) return
    val (expired, retained) = vs.splitAt(vs.length - keepLast)
    val dataKinds = layout.dirs.map(_._1).toSet
    def fileSet(v: Int): Set[String] =
      entries(spark, path, v).collect { case (k, f) if dataKinds(k) => f }.toSet
    val keep = retained.flatMap(fileSet).toSet
    expired.flatMap(fileSet).toSet.diff(keep)
      .foreach(f => Fs.delete(spark, s"$path/$f"))
    layout.dirs.foreach { case (_, dirName) =>
      val dir = s"$path/$dirName"
      if (Fs.exists(spark, dir)) dropEmptiedDirs(spark, path, dir)
    }
    expired.foreach(v => Fs.delete(spark, manifestPath(path, v)))
  }

  /** A committed-batch dir emptied of data files is gone — and its
    * epoch marker with it, so the epoch can legitimately re-apply; an
    * emptied `gen-N` is simply gone; an artifact dir emptied of data
    * files is gone outright. */
  private def dropEmptiedDirs(spark: SparkSession, path: String, dir: String): Unit = {
    Fs.listBatchDirs(spark, dir).foreach { b =>
      if (Fs.listDataFiles(spark, s"$dir/$b").isEmpty) {
        Fs.delete(spark, s"$dir/$b")
        Fs.delete(spark, s"$path/_applied/$b")
      }
    }
    Fs.listPrefixedDirs(spark, dir, "gen-").foreach { g =>
      if (Fs.listDataFiles(spark, s"$dir/$g").isEmpty)
        Fs.delete(spark, s"$dir/$g")
    }
    if (Fs.listDataFiles(spark, dir).isEmpty) Fs.delete(spark, dir)
  }

  /** ATOMICALLY commit one batch as a whole `{data}/batch-{id}`
    * directory: stage under a private attempt-unique `_staging`
    * directory (a crashed partial stage is invisible to readers, and two
    * committers racing one id never share a staging dir), then ONE
    * rename. The rename IS the commit, and the committed directory is
    * durable evidence the batch applied (ADVICE r9); [[Fs.rename]]'s
    * refuse-existing-destination arbitrates a race and reclaims the
    * loser's stage. `data` arrives in its artifact's write order. */
  def commitBatch(spark: SparkSession, data: DataFrame, path: String,
      layout: Layout, batchId: Long): Unit = {
    val staging = s"$path/_staging/batch-$batchId-${java.util.UUID.randomUUID()}"
    data.write.mode("overwrite").parquet(staging)
    Fs.rename(spark, staging, s"$path/${layout.dataDir}/batch-$batchId")
  }

  /** IDEMPOTENT append for streaming ingestion: foreachBatch may
    * re-deliver a micro-batch, and an unconditional append would apply
    * it twice (round-8 VERDICT Wrong #5). A batch whose
    * `_applied/batch-{id}` marker OR committed directory exists is
    * skipped — a committed-but-unmarked batch (crash between the two)
    * heals its marker instead of re-appending. The marker is the ledger
    * a compaction carries into the new root, where batch directories
    * are rewritten away. Exactly-once across committed batches;
    * at-least-once only inside the invisible staging write. Returns
    * whether this call applied the batch. */
  def appendIdempotent(spark: SparkSession, data: => DataFrame, path: String,
      layout: Layout, batchId: Long): Boolean = {
    val marker = s"$path/_applied/batch-$batchId"
    if (Fs.exists(spark, marker)) false
    else if (Fs.exists(spark, s"$path/${layout.dataDir}/batch-$batchId")) {
      Fs.touch(spark, marker) // heal the ledger
      false
    } else {
      commitBatch(spark, data, path, layout, batchId)
      Fs.touch(spark, marker)
      true
    }
  }

  /** DELETE by TOMBSTONE: the ids are appended to
    * `{path}/tombstones.parquet`, never touching the data files (every
    * lake-format delete is a delete-file, because a per-takedown
    * rewrite is a full table write); reads anti-join them out and
    * compaction makes them physical. */
  def delete(spark: SparkSession, ids: DataFrame, path: String, layout: Layout): Unit =
    ids.select(col(layout.id))
      .write.mode("append").parquet(s"$path/tombstones.parquet")

  /** The CURRENT data: a RECURSIVE read of the data dir, so flat append
    * files and committed `batch-{id}` directories read as one union (no
    * partition inference: batch dirs are commit units), minus tombstones
    * — a no-op when no delete has ever happened. */
  def live(spark: SparkSession, path: String, layout: Layout): DataFrame = {
    val tombs = s"$path/tombstones.parquet"
    minusTombstones(spark,
      spark.read.option("recursiveFileLookup", "true").parquet(s"$path/${layout.dataDir}"),
      if (Fs.exists(spark, tombs)) Seq(tombs) else Nil, layout)
  }

  /** The data AS OF a manifest: `read` scans the pinned data files, and
    * only the pinned tombstones mask them — a later delete does not. */
  def pinned(spark: SparkSession, path: String, man: Seq[(String, String)],
      layout: Layout)(read: Seq[String] => DataFrame): DataFrame =
    minusTombstones(spark, read(files(path, man, layout.data)),
      files(path, man, "tombstones"), layout)

  /** Anti-join a broadcast of the (bounded, id-only) tombstone set. */
  private def minusTombstones(spark: SparkSession, data: DataFrame,
      tombs: Seq[String], layout: Layout): DataFrame =
    if (tombs.isEmpty) data
    else data.join(broadcast(spark.read.parquet(tombs: _*).distinct()),
      Seq(layout.id), "left_anti")

  /** Land a compacted or merged root `to` as a servable artifact: carry
    * the applied-epoch ledger of `from` when given (ADVICE r9: the batch
    * dirs are rewritten away, so without it a restarted stream could
    * double-apply an old epoch) — its markers plus its committed
    * `batch-{id}` names, which heals a batch that crashed before its
    * marker — then commit `to` as version `versions(from).last + 1`,
    * or 0 when there is no source history, serving forest `gen`. */
  def commitCompacted(spark: SparkSession, from: Option[String], to: String,
      layout: Layout, gen: Option[Int] = None): Unit = {
    from.foreach { f =>
      (Fs.listFileNames(spark, s"$f/_applied") ++
        Fs.listBatchDirs(spark, s"$f/${layout.dataDir}")).distinct
        .foreach(m => Fs.touch(spark, s"$to/_applied/$m"))
    }
    val version = from.flatMap(versions(spark, _).lastOption).fold(0)(_ + 1)
    snapshot(spark, to, version, layout, gen)
  }
}
