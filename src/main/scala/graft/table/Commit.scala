package graft.table

import java.nio.file.NoSuchFileException

/**
 * The version-file protocol. A table's committed state is the
 * `metadata/v<N>.json` with the highest N; a commit claims `v<N+1>.json`
 * with [[FileIO.putIfAbsent]], the compare-and-swap that replaces the
 * reference's non-atomic DROP/RENAME swap (`hive/HiveTableIR.java:296-299`).
 * This is the only code that names, lists, reads, claims and retires
 * version files.
 *
 * Retention: a winning claim of N+1 deletes every version at or below
 * N+1-[[RetainedVersions]] (Iceberg's `write.metadata.previous-versions-max`
 * default). Every read resolves snapshots inside the version it just listed,
 * so retirement changes no time-travel, rollback or ref read. It opens one
 * hazard: a writer that read version v could claim v+1 after a racing writer
 * already retired that slot, landing a version no reader resolves. So the
 * loop lists again just before the claim and treats any version above v as
 * a lost race; a stale claim then needs [[RetainedVersions]] commits to land
 * between that listing and the put.
 */
private[table] object Commit {

  val RetainedVersions = 100
  private val MaxAttempts = 10

  private def file(root: String, version: Int) = s"$root/metadata/v$version.json"

  /** The version numbers under `root`'s `metadata/`: one listing. */
  def versions(root: String): Seq[Int] =
    FileIO.listFiles(s"$root/metadata", ".json").flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      if (name.startsWith("v")) name.stripPrefix("v").stripSuffix(".json").toIntOption
      else None
    }

  def latest(root: String): Int =
    versions(root).maxOption.getOrElse(throw new IllegalArgumentException(s"no graft table at $root"))

  /** The latest version and its metadata: one listing and one parse. A
    * version retired between the two is listed again. */
  def read(root: String): (Int, TableMetadata) = {
    val v = latest(root)
    try (v, MetaJson.readTableMetadata(FileIO.readString(file(root, v))))
    catch { case _: NoSuchFileException if latest(root) != v => read(root) }
  }

  /** Claim version 1 of a new table; false when another writer holds it. */
  def create(root: String, md: TableMetadata): Boolean =
    FileIO.putIfAbsent(file(root, 1), MetaJson.write(md))

  /** The commit loop: read the latest version, build the next metadata from
    * it with `f`, list again, claim the next slot, retire old versions. A
    * lost race re-runs `f` against the new latest version. */
  def update(root: String, what: String)(f: TableMetadata => TableMetadata): TableMetadata = {
    var attempts = 0
    while (attempts < MaxAttempts) {
      attempts += 1
      val (v, md) = read(root)
      val next = f(md)
      val listed = versions(root)
      if (listed.forall(_ <= v) && FileIO.putIfAbsent(file(root, v + 1), MetaJson.write(next))) {
        listed.filter(_ <= v + 1 - RetainedVersions).foreach(i => FileIO.delete(file(root, i)))
        return next
      }
    }
    throw new IllegalStateException(s"$what: commit failed after $MaxAttempts attempts")
  }
}
