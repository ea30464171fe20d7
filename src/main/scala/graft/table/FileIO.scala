package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}

/**
 * Minimal file IO used by the metadata layer.
 *
 * Commit atomicity: `putIfAbsent` writes a temp file then hard-links it to
 * the target — `link(2)` fails atomically with EEXIST if another writer won
 * the race, giving compare-and-swap semantics on any POSIX filesystem. (On an
 * object store a real deployment swaps this for a catalog CAS / conditional
 * PUT; the protocol above this class is unchanged.) This replaces the
 * reference's non-atomic DROP TABLE / ALTER TABLE RENAME commit
 * (`hive/HiveTableIR.java:296-299`).
 */
object FileIO {

  /** Count of FileIO calls — each is ≥1 round trip on an object store, so
    * metadata paths are asserted O(1) in tests via this counter. */
  val opCount = new java.util.concurrent.atomic.AtomicLong(0)
  private def tick(): Unit = opCount.incrementAndGet()

  def readString(path: String): String = {
    tick()
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
  }

  def exists(path: String): Boolean = { tick(); Files.exists(Paths.get(path)) }

  def mkdirs(path: String): Unit = { tick(); Files.createDirectories(Paths.get(path)) }

  /** Overwrite-in-place via temp + atomic rename (manifests, step logs). */
  def writeString(path: String, content: String): Unit =
    writeBytes(path, content.getBytes(StandardCharsets.UTF_8))

  /** [[writeString]] for bytes: a reader never sees a partial file. */
  def writeBytes(path: String, content: Array[Byte]): Unit = {
    tick()
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + "." + java.util.UUID.randomUUID + ".tmp")
    Files.write(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic create-if-absent; returns false if the target already existed. */
  def putIfAbsent(path: String, content: String): Boolean = {
    tick()
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(target.getFileName.toString + "." + java.util.UUID.randomUUID + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  def delete(path: String): Unit = { tick(); Files.deleteIfExists(Paths.get(path)) }

  /** Atomic same-directory rename (bucket-id stamping of freshly written,
    * not-yet-committed files — never visible to a concurrent reader). */
  def rename(from: String, to: String): Unit = {
    tick()
    Files.move(Paths.get(from), Paths.get(to),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteRecursively(path: String): Unit = {
    tick()
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
  }

  def listFiles(dir: String, suffix: String = ""): Seq[String] = {
    tick()
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val stream = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
          .map(_.toString).toVector.sorted
      } finally stream.close()
    }
  }

  def fileSize(path: String): Long = { tick(); Files.size(Paths.get(path)) }

  /** Recursive variant of [[listFiles]] — partitioned commit directories
    * nest data files one level per partition column. */
  def listFilesRecursively(dir: String, suffix: String = ""): Seq[String] = {
    tick()
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val stream = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
          .map(_.toString).toVector.sorted
      } finally stream.close()
    }
  }
}
