package graft.spark

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import scala.jdk.CollectionConverters._

/** Parquet-backed snapshot layer emulating Iceberg's MERGE INTO + snapshot
  * isolation (the sandbox ships no Iceberg jar — SURVEY.md section 4.2).
  *
  * Layout:
  *   root/data/snap-<id>-<nonce>/part-*.parquet  immutable data files per
  *                                               commit ATTEMPT
  *   root/_snapshots/v<id>.json           manifest: file list + parent id
  *   root/_snapshots/CURRENT              human-readable hint (not the truth)
  *
  * Semantics:
  *  - `merge(df, "url")` appends only rows whose key is absent from the
  *    current snapshot (left-anti against committed keys), then commits a new
  *    manifest atomically. Re-running a partially-committed job is therefore
  *    idempotent: already-committed urls are skipped, the final table has no
  *    duplicates (the north rule's resumability requirement). A caller that
  *    already anti-joined against snapshot N passes N as `excluded`; the
  *    merge then skips its own anti-join as long as N is still current.
  *  - Readers see only committed snapshots; a crash mid-write leaves data
  *    files without a manifest, which are invisible and harmless.
  *  - MULTI-WRITER commits use Iceberg's optimistic-concurrency protocol:
  *    the snapshot id chain is dense, and creating manifest v<N+1>.json with
  *    an ATOMIC create-no-replace move is the compare-and-swap — exactly one
  *    writer per id wins. A loser deletes its attempt's data files, re-reads
  *    the new current snapshot, RE-VALIDATES its rows against it (the
  *    anti-join re-runs, so keys committed by the winner are dropped — the
  *    MERGE-not-matched semantics survive the race), and retries with the
  *    next id. The authoritative current snapshot is the max v<id>.json in
  *    the manifest dir (each manifest is immutable once visible), so readers
  *    never depend on the racy CURRENT hint.
  *
  * On a real cluster the same trait surface is served by Iceberg
  * (`MERGE INTO ... ON t.url = s.url WHEN NOT MATCHED THEN INSERT`, catalog
  * CAS in place of the create-no-replace move).
  */
trait TableStore {
  /** Current committed table; None when no snapshot exists. */
  def read(spark: SparkSession): Option[DataFrame]
  /** The current snapshot's id and its committed keys (column-pruned), both
    * from one manifest; None when no snapshot exists.
    */
  def committedKeys(spark: SparkSession, keyCol: String): Option[(Long, DataFrame)]
  /** MERGE-INTO-when-not-matched. `observe` names aggregates computed on
    * exactly the rows the commit writes; `excluded` names a snapshot whose
    * keys `df` already lacks, so the merge skips its own anti-join while
    * that snapshot is still the base.
    */
  def merge(df: DataFrame, keyCol: String, observe: Seq[Column] = Nil,
      excluded: Option[Long] = None): Commit
}

/** What a merge committed: the newly visible data files, and the values of
  * the aggregates it was asked to observe over the rows those files hold,
  * by name (empty when it was asked for none).
  */
final case class Commit(files: Vector[String], observed: Map[String, Any])

final class SnapshotStore(val root: String) extends TableStore {

  private def snapshotsDir: Path = Paths.get(root, "_snapshots")
  private def currentFile: Path = snapshotsDir.resolve("CURRENT")

  private val ManifestName = """v(\d+)\.json""".r

  /** Authoritative current snapshot: the highest committed manifest id.
    * (The CURRENT file is a convenience hint only — under concurrent
    * writers its last-write-wins updates can momentarily regress.)
    */
  def currentSnapshotId: Option[Long] =
    if (!Files.isDirectory(snapshotsDir)) None
    else {
      val s = Files.list(snapshotsDir)
      try {
        val ids = s.iterator().asScala.flatMap { p =>
          p.getFileName.toString match {
            case ManifestName(id) => Some(id.toLong)
            case _                => None
          }
        }.toVector
        if (ids.isEmpty) None else Some(ids.max)
      } finally s.close()
    }

  private def manifestFiles(id: Long): Vector[String] = {
    val manifest = snapshotsDir.resolve(s"v$id.json")
    val content = new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8)
    // minimal parse of {"id":N,"parent":N|null,"files":["..",".."]}
    val filesPart = content.substring(content.indexOf("[") + 1, content.lastIndexOf("]"))
    if (filesPart.trim.isEmpty) Vector.empty
    else filesPart.split(",").iterator.map(_.trim.stripPrefix("\"").stripSuffix("\"")).toVector
  }

  /** All data files of the current snapshot (empty table if none). */
  def currentFiles: Vector[String] =
    currentSnapshotId.map(manifestFiles).getOrElse(Vector.empty)

  def isEmpty: Boolean = currentFiles.isEmpty

  /** Current committed table; None when no snapshot exists. mergeSchema
    * gives Iceberg-style add-column evolution: snapshots written before a
    * column existed read as null for it (Iceberg's read-time projection;
    * rename/type-change need its column-id indirection and stay out of
    * scope for the emulation).
    */
  def read(spark: SparkSession): Option[DataFrame] = {
    val files = currentFiles
    if (files.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true").parquet(files: _*))
  }

  /** Iceberg `expireSnapshots`: keep the most recent `keepLast` manifests,
    * delete older ones plus every data file no surviving manifest
    * references. Time travel to expired ids stops working (by design);
    * the current table is untouched. Safe against the merge() CAS: only
    * ids strictly below the kept window are removed, and committed
    * manifests are immutable.
    */
  def expireSnapshots(keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    currentSnapshotId.foreach { cur =>
      val cutoff = cur - keepLast + 1
      val keptFiles = (cutoff to cur)
        .filter(id => Files.exists(snapshotsDir.resolve(s"v$id.json")))
        .flatMap(manifestFiles).toSet
      (0L until cutoff).foreach { id =>
        val m = snapshotsDir.resolve(s"v$id.json")
        if (Files.exists(m)) {
          manifestFiles(id).filterNot(keptFiles)
            .foreach(f => Files.deleteIfExists(Paths.get(f)))
          Files.deleteIfExists(m)
        }
      }
    }
  }

  /** The current snapshot's id and a column-pruned scan of its keys, from
    * one manifest read; None when the table is empty.
    */
  def committedKeys(spark: SparkSession, keyCol: String): Option[(Long, DataFrame)] =
    currentSnapshotId.flatMap { id =>
      val files = manifestFiles(id)
      if (files.isEmpty) None else Some(id -> keysOf(spark, files, keyCol))
    }

  private def keysOf(spark: SparkSession, files: Vector[String], keyCol: String) =
    spark.read.parquet(files: _*).select(keyCol).distinct()

  /** MERGE-INTO-when-not-matched: write `df` minus already-committed keys as
    * a new snapshot. Returns the newly visible data files and the `observe`
    * aggregates over the rows they hold, counted by the write job itself (so
    * callers need not re-read the commit). The observation sits above the
    * anti-join and is made fresh for every attempt: a lost attempt's rows
    * are never counted. Safe under concurrent writers (see class doc);
    * losing attempts re-validate and retry, so overlapping keys commit
    * exactly once.
    */
  def merge(df: DataFrame, keyCol: String, observe: Seq[Column] = Nil,
      excluded: Option[Long] = None): Commit = {
    val spark = df.sparkSession
    val maxRetries = 10
    var attempt = 0
    while (attempt <= maxRetries) {
      val baseId = currentSnapshotId
      val baseFiles = baseId.map(manifestFiles).getOrElse(Vector.empty)
      val newId = baseId.getOrElse(-1L) + 1L
      // data dir is unique PER ATTEMPT: two racers must never write into
      // the same directory (the loser's dir is deleted on retry)
      val nonce = java.lang.Long.toHexString(
        System.nanoTime() ^ Thread.currentThread().getId << 48)
      val dataDir = Paths.get(root, "data", s"snap-$newId-$nonce")
      // the anti-join runs unless `df` already excludes the base's keys
      val toWrite =
        if (baseFiles.isEmpty || excluded == baseId) df
        else df.join(keysOf(spark, baseFiles, keyCol), Seq(keyCol), "left_anti")
      val observation = if (observe.isEmpty) None else Some(Observation())
      observation.fold(toWrite)(o => toWrite.observe(o, observe.head, observe.tail: _*))
        .write.mode("overwrite").parquet(dataDir.toString)
      val listing = Files.list(dataDir)
      val newFiles =
        try listing.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toVector
        finally listing.close()
      if (tryCommit(newId, baseId, baseFiles ++ newFiles))
        return Commit(newFiles, observation.fold(Map.empty[String, Any])(_.get))
      // conflict: another writer committed v<newId> first. Drop this
      // attempt's (invisible) files and re-run the anti-join against the
      // winner's snapshot so MERGE semantics hold.
      deleteRecursively(dataDir)
      attempt += 1
    }
    throw new IllegalStateException(
      s"merge lost the commit race $maxRetries times in a row at $root — " +
        "writer contention this persistent needs an external coordinator")
  }

  /** The CAS: atomically create v<id>.json (no replace). Exactly one writer
    * per id can succeed; everyone else sees FileAlreadyExistsException.
    */
  private def tryCommit(id: Long, parent: Option[Long],
      files: Vector[String]): Boolean = {
    Files.createDirectories(snapshotsDir)
    val json =
      s"""{"id":$id,"parent":${parent.map(_.toString).getOrElse("null")},""" +
        s""""files":[${files.map(f => "\"" + f + "\"").mkString(",")}]}"""
    val tmp = snapshotsDir.resolve(s".v$id.${java.lang.Long.toHexString(System.nanoTime())}.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    try {
      // hard link, not move: POSIX link(2) fails with EEXIST ATOMICALLY
      // (Files.move without REPLACE_EXISTING is a non-atomic
      // check-then-rename — rename(2) itself silently replaces), and the
      // linked manifest is complete the instant it becomes visible
      Files.createLink(snapshotsDir.resolve(s"v$id.json"), tmp)
      Files.deleteIfExists(tmp)
      // best-effort human-readable hint; the manifest listing is the truth
      val tmpCur = snapshotsDir.resolve(s".CURRENT.${java.lang.Long.toHexString(System.nanoTime())}.tmp")
      Files.write(tmpCur, id.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmpCur, currentFile, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      true
    } catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        false
    }
  }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
