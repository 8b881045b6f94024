package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The commit log and mutation lifecycle shared by every persisted
  * index artifact (AnnIndex, DedupIndex) — Delta Lake's "the log is the
  * table" (Armbrust et al., VLDB 2020) in miniature.
  *
  * An artifact is a root `path`, its [[Layout]] and immutable UNITS: one
  * directory of parquet files per mutation, `{kind}.parquet/{name}`. Its
  * current state is the HEAD, the newest file of `{path}/_log/`: sorted
  * `kind<TAB>unit` lines naming the root-relative units each kind
  * serves, plus one `applied<TAB>batch-N` line per batch an idempotent
  * commit applied. Every mutation stages its unit under `_staging`,
  * renames it into place and commits `_log/{n+1}.tsv`, the previous head
  * plus or minus that unit, through [[Fs.rename]]: its refuse-existing
  * rule arbitrates racing committers, and the loser re-reads the head
  * and retries. A unit no head names is invisible, so a crash before the
  * log rename leaves the artifact as it was, and a batch's data and its
  * ledger line land in one rename. The committer deletes the head it
  * replaced, so `_log` holds the head alone.
  *
  * A snapshot TAG is the head copied to `{path}/manifest/v00005.tsv`.
  * Pinned reads and retention are unit-set operations over the head and
  * the tags: neither lists a data directory or starts a Spark job.
  * Rollback lists each kind directory once, to reclaim every unit no
  * retained entry names.
  * Every read declares its kind's schema, so building an artifact
  * DataFrame starts no Spark job either.
  */
object Snapshots {

  /** (kind, unit) lines of a head or tag; kind `applied` carries a
    * batch id (`batch-N`) instead of a unit. */
  type Entries = Seq[(String, String)]

  /** An artifact's coordinates: the declared schema of each unit kind,
    * the kind batches commit into and the id column tombstones key on
    * (the `tombstones` kind is that one column). A unit named `cells-…`
    * keeps its rows in `cell=N/` partition directories. */
  final case class Layout(schemas: Map[String, StructType], data: String, id: String) {
    def schema(kind: String): StructType =
      if (kind == "tombstones") StructType(Seq(StructField(id, LongType)))
      else schemas(kind)
    def kinds: Seq[String] = schemas.keys.toSeq :+ "tombstones"
  }

  private def manifestPath(path: String, version: Int): String =
    f"$path/manifest/v$version%05d.tsv"

  private def logPath(path: String, n: Int): String = s"$path/_log/$n.tsv"

  private val LogName = """(\d+)\.tsv""".r
  private val VersionName = """v(\d+)\.tsv""".r

  private def read(spark: SparkSession, file: String): Entries =
    Fs.readLines(spark, file).map { l =>
      val Array(kind, entry) = l.split("\t", 2)
      (kind, entry)
    }

  private def write(spark: SparkSession, file: String, es: Entries): Unit =
    Fs.writeLines(spark, file, es.distinct.sorted.map { case (k, e) => s"$k\t$e" })

  private def staged(path: String, name: String): String =
    s"$path/_staging/$name-${java.util.UUID.randomUUID()}"

  /** The head's number and entries; (-1, empty) before the first
    * commit. A head replaced between the listing and the read is read
    * again. */
  private def head(spark: SparkSession, path: String): (Int, Entries) =
    Fs.listFileNames(spark, s"$path/_log")
      .collect { case LogName(n) => n.toInt }.maxOption match {
      case None => (-1, Nil)
      case Some(n) =>
        try (n, read(spark, logPath(path, n)))
        catch { case _: java.io.FileNotFoundException => head(spark, path) }
    }

  /** The artifact's current entries: one listStatus and one file read. */
  def current(spark: SparkSession, path: String): Entries = head(spark, path)._2

  /** Commit `next(head)` as the new head and return true — or, when
    * `batch` is already in the head's ledger, commit nothing and return
    * false; a batch commit adds its ledger line. The head is re-read
    * right before the rename, so a log number is reused only if two
    * other commits land inside that window. */
  def commit(spark: SparkSession, path: String, batch: Option[Long] = None)(
      next: Entries => Entries): Boolean = {
    val (n, cur) = head(spark, path)
    val applied = batch.map(b => ("applied", s"batch-$b"))
    if (applied.exists(cur.contains)) false
    else {
      val file = staged(path, "log")
      write(spark, file, next(cur) ++ applied)
      if (!Fs.rename(spark, file, logPath(path, n + 1))) commit(spark, path, batch)(next)
      else {
        if (n >= 0) Fs.delete(spark, logPath(path, n))
        true
      }
    }
  }

  /** A fresh unit name. */
  def unitName(prefix: String): String = s"$prefix-${java.util.UUID.randomUUID()}"

  /** Stage `data` as the unit `{kind}.parquet/{name}`, cast to the
    * kind's declared schema and written under `_staging`, then renamed
    * into place; returns its entry. Not yet visible: a commit names it.
    * The log names every unit, so it carries no `_SUCCESS` marker. */
  def stage(spark: SparkSession, path: String, layout: Layout, kind: String,
      name: String, data: DataFrame, partitionBy: Seq[String] = Nil): (String, String) = {
    val dir = staged(path, name)
    val w = data.select(layout.schema(kind).map(f => col(f.name).cast(f.dataType)): _*)
      .write.mode("overwrite").option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dir)
    val unit = s"$kind.parquet/$name"
    require(Fs.rename(spark, dir, s"$path/$unit"),
      s"$path/$unit already exists — units are immutable; use a fresh name")
    (kind, unit)
  }

  /** Stage `data` as a new unit of `kind` and commit it next to the
    * head's units. */
  def append(spark: SparkSession, data: DataFrame, path: String, layout: Layout,
      kind: String, prefix: String): Unit = {
    val unit = stage(spark, path, layout, kind, unitName(prefix), data)
    commit(spark, path)(_ :+ unit)
  }

  /** Commit one batch as a `batch-{id}-…` data unit together with its
    * ledger line. A batch the ledger already holds — a replay, or the
    * loser of a race — commits nothing and its unit is deleted. Returns
    * whether this call applied the batch. `data` arrives in its
    * artifact's write order. */
  def commitBatch(spark: SparkSession, data: DataFrame, path: String,
      layout: Layout, batchId: Long): Boolean = {
    val unit = stage(spark, path, layout, layout.data, unitName(s"batch-$batchId"), data)
    val won = commit(spark, path, Some(batchId))(_ :+ unit)
    if (!won) Fs.delete(spark, s"$path/${unit._2}")
    won
  }

  /** IDEMPOTENT append for streaming ingestion: foreachBatch may
    * re-deliver a micro-batch, and a batch the head's ledger holds is
    * skipped before any data is computed. Exactly-once across committed
    * batches; a crash before the log commit leaves only an invisible
    * unit, and the replay applies the batch once. */
  def appendIdempotent(spark: SparkSession, data: => DataFrame, path: String,
      layout: Layout, batchId: Long): Boolean =
    !current(spark, path).contains(("applied", s"batch-$batchId")) &&
      commitBatch(spark, data, path, layout, batchId)

  /** DELETE by TOMBSTONE: the ids become one `tombstones` unit, never
    * touching the data units (every lake-format delete is a delete-file,
    * because a per-takedown rewrite is a full table write); reads
    * anti-join them out and compaction makes them physical. */
  def delete(spark: SparkSession, ids: DataFrame, path: String, layout: Layout): Unit =
    append(spark, ids.select(col(layout.id)), path, layout, "tombstones", "del")

  /** The units of `kind` in `es`. */
  def units(es: Entries, kind: String): Seq[String] =
    es.collect { case (k, u) if k == kind => u }

  /** The units of `kind` in `es` as one DataFrame of the kind's declared
    * schema: one read of the flat units and one of the `cells-` ones.
    * Each read names its unit directories (no listing job up to 32 of
    * them) and infers no schema, so building it starts no Spark job. */
  def scan(spark: SparkSession, path: String, layout: Layout, kind: String,
      es: Entries): DataFrame = {
    val schema = layout.schema(kind)
    val (byCell, flat) = units(es, kind).partition(_.split('/').last.startsWith("cells-"))
    Seq(flat, byCell).filter(_.nonEmpty)
      .map(us => spark.read.schema(schema).parquet(us.map(u => s"$path/$u"): _*)
        .select(schema.fieldNames.toSeq.map(col): _*))
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
  }

  /** The data `es` serves: its data units minus its tombstones, through
    * an anti-join against a broadcast of the (bounded, id-only)
    * tombstone set. */
  def rows(spark: SparkSession, path: String, layout: Layout, es: Entries): DataFrame = {
    val data = scan(spark, path, layout, layout.data, es)
    if (units(es, "tombstones").isEmpty) data
    else data.join(broadcast(scan(spark, path, layout, "tombstones", es).distinct()),
      Seq(layout.id), "left_anti")
  }

  /** The CURRENT data: the head's [[rows]]. */
  def live(spark: SparkSession, path: String, layout: Layout): DataFrame =
    rows(spark, path, layout, current(spark, path))

  /** Tag the head as snapshot `version`, replacing any tag of that
    * number, after `check` accepts its entries. */
  def snapshot(spark: SparkSession, path: String, version: Int,
      check: Entries => Unit = _ => ()): Unit = {
    val es = current(spark, path)
    check(es)
    val file = staged(path, f"manifest-v$version%05d")
    write(spark, file, es)
    // Fs.rename keeps an existing destination, so a re-snapshot of a
    // committed version drops the old tag first
    Fs.delete(spark, manifestPath(path, version))
    Fs.rename(spark, file, manifestPath(path, version))
  }

  /** The tagged snapshot versions, ascending — one listStatus of the
    * manifest directory. Only files named `v{digits}.tsv` count (a stray
    * name never throws — ADVICE r9); an in-flight snapshot is still a
    * `_staging` file and so not listed. */
  def versions(spark: SparkSession, path: String): Seq[Int] =
    Fs.listFileNames(spark, s"$path/manifest")
      .collect { case VersionName(n) => n.toInt }.sorted

  /** A tag's entries — one file read on the driver. */
  def entries(spark: SparkSession, path: String, version: Int): Entries =
    read(spark, manifestPath(path, version))

  /** ROLL BACK to snapshot `toVersion`: its tag is committed as the head
    * (ledger included, so a rolled-back batch can re-apply) and newer
    * tags are dropped. Then every unit that neither the new head nor a
    * retained tag names is deleted, found by listing each kind
    * directory, and so is a kind directory nothing names a unit of.
    * That reclaims units that left the head untagged and units renamed
    * into place whose log commit never landed. `_staging` leftovers go
    * too: staged-but-uncommitted work is replayable by definition. Like
    * the `_staging` sweep, this assumes no concurrent writer. Cost: one
    * file read per retained tag, one listing per kind, per-unit
    * deletes. */
  def rollback(spark: SparkSession, path: String, toVersion: Int, layout: Layout): Unit = {
    val vs = versions(spark, path)
    require(vs.contains(toVersion), s"no committed snapshot v$toVersion at $path")
    val tag = entries(spark, path, toVersion)
    val (dropped, retained) = vs.filter(_ != toVersion).partition(_ > toVersion)
    dropped.foreach(v => Fs.delete(spark, manifestPath(path, v)))
    commit(spark, path)(_ => tag)
    val named = (tag ++ retained.flatMap(v => entries(spark, path, v))).map(_._2).toSet
    for (kind <- layout.kinds) {
      val dir = s"$kind.parquet"
      if (!named.exists(_.startsWith(s"$dir/"))) Fs.delete(spark, s"$path/$dir")
      else Fs.listPrefixedDirs(spark, s"$path/$dir", "").map(u => s"$dir/$u")
        .filterNot(named).foreach(u => Fs.delete(spark, s"$path/$u"))
    }
    Fs.delete(spark, s"$path/_staging")
  }

  /** EXPIRE snapshot history older than the last `keepLast` tags —
    * Delta/Iceberg `VACUUM` / `expire_snapshots`: the oldest tags are
    * dropped, and the units they name that neither the head nor a
    * retained tag names are deleted. Only units an expired tag names are
    * reclaimed: a unit that left the head before any tag named it, or
    * one whose log commit never landed, waits for [[rollback]]. No
    * listing and no `_staging` sweep, because expire may run beside a
    * live writer, whose fresh unit no expired tag names. */
  def expire(spark: SparkSession, path: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val vs = versions(spark, path)
    if (vs.length > keepLast) {
      val (expired, retained) = vs.splitAt(vs.length - keepLast)
      val gone = expired.flatMap(v => entries(spark, path, v))
      expired.foreach(v => Fs.delete(spark, manifestPath(path, v)))
      val keep = (current(spark, path) ++ retained.flatMap(v => entries(spark, path, v)))
        .map(_._2).toSet
      gone.collect { case (k, u) if k != "applied" && !keep(u) => u }.distinct
        .foreach(u => Fs.delete(spark, s"$path/$u"))
    }
  }

  /** Land a compaction of `source` (the head of `from` it read) as
    * `units` in `to`, tagged as the version after `from`'s last (0 with
    * no source history). In place (`to == from`) the units replace the
    * data and tombstone units `source` served, the rest of the head
    * stays, and every earlier tag stays servable until [[expire]]
    * reclaims its fragments. A new root gets `units`, the units `carry`
    * stages there (what the head kept in place) and the source's ledger
    * (its batch units are rewritten away, and a restarted stream must
    * not re-apply an old epoch). */
  def commitCompacted(spark: SparkSession, from: Option[String], to: String,
      layout: Layout, source: Entries, units: Entries)(carry: => Entries): Unit = {
    val compacted = source.filter(e => e._1 == layout.data || e._1 == "tombstones").toSet
    val inPlace = from.exists(f => Fs.qualified(spark, f) == Fs.qualified(spark, to))
    val next =
      if (inPlace) (cur: Entries) => cur.filterNot(compacted) ++ units
      else { val fresh = units ++ carry ++ source.filter(_._1 == "applied"); (_: Entries) => fresh }
    commit(spark, to)(next)
    snapshot(spark, to, from.flatMap(versions(spark, _).lastOption).fold(0)(_ + 1))
  }
}
