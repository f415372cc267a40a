package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileNotFoundException, OutputStream}
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one place where table-log code (SnapshotTable, DeltaTable,
  * DeltaExport, IcebergExport, the Delta tail cursor) meets storage.
  * Each log file it publishes is either complete or absent, the
  * reference's re-run promise (main.rs:135-161) applied to a log.
  *
  * Two publishes, chosen per file by the caller:
  *
  *  - EXCLUSIVE (commit JSONs, manifests, checkpoints, txn markers):
  *    the call returns false when the target already exists, and
  *    never touches it. Concurrent writers race on it; exactly one
  *    wins.
  *  - REPLACE (pointers: `version-hint.text`, `_last_checkpoint`,
  *    `_covered`, a tail cursor): the target atomically becomes the
  *    new bytes; a reader sees the old file or the new one.
  *
  * The store is picked by the path, in one place ([[hasScheme]]):
  *
  *  - A PLAIN path stays on java.nio. `write` fills a uniquely named
  *    temp sibling (`.<name>.<uuid>.tmp`), which is then published by
  *    `link(2)` (`Files.createLink`: atomic, and EEXIST when the target
  *    exists, so a loser can never replace the winner, as rename(2)
  *    would) or by `rename(2)` (`ATOMIC_MOVE`, replacing). The temp
  *    file is removed in every outcome. No Hadoop local `FileSystem`
  *    is used: it forks `chmod` on each create (`Geo.writeTiled`).
  *  - A path with a URI SCHEME (`s3a://…`) goes through the Hadoop
  *    `FileSystem` registered for it, with the active session's Hadoop
  *    conf. `write` fills a driver-side buffer (log files are
  *    metadata-sized), so a failing `write` sends nothing; the buffer
  *    is then written by `create(overwrite = false)`. On
  *    [[S3HttpFileSystem]] that is CHECK-THEN-CREATE, a HEAD followed
  *    by a PUT: two writers that both pass the HEAD both write, and
  *    the later PUT wins. It is exclusive only against a target that
  *    existed before the call. The upload itself is atomic (an object
  *    appears complete or not at all). REPLACE has no caller on a
  *    scheme path and is refused.
  */
object LogStore {

  /** True when `p` carries a URI scheme and so resolves through a
    * Hadoop `FileSystem`; plain paths stay on java.nio. */
  def hasScheme(p: String): Boolean = p.contains("://")

  private def fs(p: String): FileSystem = {
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    new HPath(p).getFileSystem(conf)
  }

  /** The child names of directory `dir`, in no particular order;
    * empty when `dir` is missing or is not a directory. */
  def list(dir: String): Seq[String] =
    if (hasScheme(dir)) {
      val d = new HPath(dir)
      val f = fs(dir)
      val isDir = try f.getFileStatus(d).isDirectory
        catch { case _: FileNotFoundException => false }
      if (isDir) f.listStatus(d).toVector.map(_.getPath.getName) else Vector.empty
    } else {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) Vector.empty
      else {
        // Files.list holds a directory handle until closed
        val st = Files.list(d)
        try st.iterator().asScala.map(_.getFileName.toString).toVector
        finally st.close()
      }
    }

  def exists(path: String): Boolean =
    if (hasScheme(path)) fs(path).exists(new HPath(path))
    else Files.exists(Paths.get(path))

  /** The whole file's bytes (log files are metadata-sized). */
  def read(path: String): Array[Byte] =
    if (hasScheme(path)) {
      val in = fs(path).open(new HPath(path))
      try in.readAllBytes() finally in.close()
    } else Files.readAllBytes(Paths.get(path))

  /** Copy the local data file `src` to `dest`, which must not exist
    * yet; a local copy keeps `src`'s modification time. */
  def copyIn(src: Path, dest: String): Unit =
    if (hasScheme(dest)) {
      val o = fs(dest).create(new HPath(dest), false)
      try Files.copy(src, o) finally o.close()
    } else {
      val d = Paths.get(dest)
      Files.createDirectories(d.toAbsolutePath.getParent)
      Files.copy(src, d, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** Publish the bytes `write` produces at `dest`, exclusively or by
    * atomic replace (see the object doc), creating missing parent
    * directories. Returns false only when an exclusive target already
    * existed. An exception from `write` leaves no target and no temp
    * file behind. */
  def publish(dest: String, exclusive: Boolean)(write: OutputStream => Unit): Boolean =
    if (hasScheme(dest)) {
      require(exclusive, s"replace is not supported on a scheme path: $dest")
      val buf = new ByteArrayOutputStream()
      write(buf)
      try {
        val o = fs(dest).create(new HPath(dest), false)
        try buf.writeTo(o) finally o.close()
        true
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    } else {
      val d = Paths.get(dest).toAbsolutePath
      Files.createDirectories(d.getParent)
      val tmp = d.resolveSibling(s".${d.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      try {
        val o = new BufferedOutputStream(Files.newOutputStream(tmp))
        try write(o) finally o.close()
        if (!exclusive) {
          Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          true
        } else
          try { Files.createLink(d, tmp); true }
          catch { case _: FileAlreadyExistsException => false }
      } finally Files.deleteIfExists(tmp)
    }
}
