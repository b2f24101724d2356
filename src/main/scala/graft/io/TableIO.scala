package graft.io

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Iceberg-shaped table emulation: parquet data directories plus a JSON
  * snapshot-manifest chain giving atomic commits, snapshot ids for lineage
  * rows, and snapshot-aware resume.
  *
  * No Iceberg runtime jar exists in this environment (verified: none under
  * /opt/spark/jars nor the offline coursier cache), so the catalog layer is
  * emulated behind this object; on a real cluster the same call sites bind to
  * an Iceberg catalog (`df.writeTo(table).append()` + snapshot API) without
  * touching pipeline code.
  *
  * Layout: `<tableDir>/data-<snapshotId>/part-*.parquet` (one dir per commit)
  * and `<tableDir>/snap-<snapshotId>.json` manifests; `<tableDir>/current`
  * points at the live snapshot and is updated by atomic rename — a crashed
  * job leaves either the old or the new snapshot visible, never a torn state.
  */
object TableIO {

  final case class Snapshot(
      snapshotId: Long,
      parentId: Long, // -1 for the first snapshot
      dataDirs: Seq[String],
      rowCount: Long,
      timestampMs: Long)

  def currentSnapshot(tableDir: String): Option[Snapshot] = {
    val cur = Paths.get(tableDir, "current")
    if (!Files.exists(cur)) None
    else {
      val id = new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong
      readManifest(tableDir, id)
    }
  }

  private def readManifest(tableDir: String, id: Long): Option[Snapshot] = {
    val p = Paths.get(tableDir, s"snap-$id.json")
    if (!Files.exists(p)) None
    else {
      val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      def longField(name: String): Long =
        ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
      val dirs = """"dataDirs"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
        .map(_.group(1).split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      Some(Snapshot(longField("snapshotId"), longField("parentId"), dirs,
        longField("rowCount"), longField("timestampMs")))
    }
  }

  /** A staged (written but not yet visible) snapshot: data may exist under
    * [[dataPath]], but no manifest/pointer references it. Crashing between
    * stage and finalize leaves only an orphan data dir, removed by the next
    * [[cleanOrphans]] sweep — same crash window as the one-shot [[commit]].
    */
  final case class Staged(tableDir: String, id: Long, parent: Option[Snapshot]) {
    def dataDirName: String = s"data-$id"
    def dataPath: String = s"$tableDir/$dataDirName"
  }

  /** Reserve the next snapshot id and clean crashed-commit leftovers; the
    * caller writes parquet to `staged.dataPath`, then [[finalizeStaged]] (or
    * [[abortStaged]] if the batch turned out empty).
    */
  def stage(tableDir: String): Staged = {
    Files.createDirectories(Paths.get(tableDir))
    val parent = currentSnapshot(tableDir)
    val id = parent.map(_.snapshotId + 1).getOrElse(0L)
    cleanOrphans(tableDir, sinceExclusive = id - 1)
    Staged(tableDir, id, parent)
  }

  /** Make a staged write visible: manifest second, `current` pointer last
    * (atomic rename) — the Iceberg commit order. `rows` is the number of rows
    * written to `staged.dataPath`, counted by the write itself (the caller's
    * tally or an observation on the written DataFrame); the staged data is
    * not read back, so the manifest's `rowCount` is only as right as `rows`.
    */
  def finalizeStaged(staged: Staged, rows: Long): Snapshot = {
    val snap = Snapshot(staged.id, staged.parent.map(_.snapshotId).getOrElse(-1L),
      staged.parent.map(_.dataDirs).getOrElse(Nil) :+ staged.dataDirName,
      staged.parent.map(_.rowCount).getOrElse(0L) + rows,
      System.currentTimeMillis())
    writeManifest(staged.tableDir, snap)
    snap
  }

  /** Drop a staged write that will not be committed (e.g. zero rows). */
  def abortStaged(staged: Staged): Unit =
    deleteRecursively(new java.io.File(staged.dataPath))

  /** Append `df` as a new snapshot; returns the committed snapshot.
    * Data is written first, the manifest second, the `current` pointer last
    * (atomic rename) — the Iceberg commit order. Before writing, any
    * leftovers from a commit that crashed mid-write (data dirs / manifests
    * with ids beyond `current` — invisible by definition, since visibility
    * is the pointer flip) are removed so the rerun reuses the id cleanly
    * instead of failing on PATH_ALREADY_EXISTS forever. The row count is an
    * [[Observation]] on the write's own pass, so committing costs no job
    * beyond the write.
    */
  def commit(df: DataFrame, tableDir: String): Snapshot = {
    val staged = stage(tableDir)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode("errorifexists").parquet(staged.dataPath)
    finalizeStaged(staged, written.get("rows").asInstanceOf[Long])
  }

  private def writeManifest(tableDir: String, s: Snapshot): Unit = {
    val dirs = s.dataDirs.map(d => "\"" + d + "\"").mkString("[", ",", "]")
    val json =
      s"""{"snapshotId":${s.snapshotId},"parentId":${s.parentId},"dataDirs":$dirs,"rowCount":${s.rowCount},"timestampMs":${s.timestampMs}}"""
    Files.write(Paths.get(tableDir, s"snap-${s.snapshotId}.json"),
      json.getBytes(StandardCharsets.UTF_8))
    val tmp = Paths.get(tableDir, s".current.tmp-${s.snapshotId}")
    Files.write(tmp, s.snapshotId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(tableDir, "current"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete uncommitted artifacts with snapshot id > `sinceExclusive`
    * (never referenced by `current`, so removal cannot lose visible data).
    */
  private def cleanOrphans(tableDir: String, sinceExclusive: Long): Unit = {
    val dir = new java.io.File(tableDir)
    val DataRe = """data-(\d+)""".r
    val SnapRe = """snap-(\d+)\.json""".r
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      val orphanId = f.getName match {
        case DataRe(n) => Some(n.toLong)
        case SnapRe(n) => Some(n.toLong)
        case _ => None
      }
      if (orphanId.exists(_ > sinceExclusive)) deleteRecursively(f)
    }
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Read the table at its current snapshot (all live data dirs). */
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentSnapshot(tableDir).filter(_.dataDirs.nonEmpty).map { s =>
      spark.read.parquet(s.dataDirs.map(d => s"$tableDir/$d"): _*)
    }

  /** Read the data dirs `dirs` of `tableDir` with a known `schema`: no job
    * runs to infer it, and only the schema's columns are scanned.
    */
  def readDirs(spark: SparkSession, tableDir: String, dirs: Seq[String],
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dirs.map(d => s"$tableDir/$d"): _*)
}
