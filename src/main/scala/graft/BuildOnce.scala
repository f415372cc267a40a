package graft

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one build-once gate for on-disk artifacts built from source
  * tables: fixtures, ANN indexes, scale proxies. It is the reference's
  * skip rule (an output that already exists with a matching (key,
  * size) is not rebuilt, main.rs:135-161) applied to a directory.
  *
  * `out` is FRESH when `out/_COMPLETE` holds exactly the stamp: the
  * recipe `tag` plus the [[fingerprint]] of `sources`. A fresh check is
  * one listing per source plus one small read and starts no Spark job,
  * so nothing is memoized in the JVM: every call re-checks, and an
  * output that was deleted, torn, or built from a source rewritten
  * since (same row count or not) is rebuilt by the next call.
  *
  * Otherwise the gate deletes the marker, clears `out`, runs
  * `build(out)` IN PLACE and writes the marker LAST, so a build killed
  * part-way leaves no marker and is redone. Cached frames over the
  * sources are refreshed first: Spark matches a cached scan by path,
  * so a build after a source rewrite would otherwise read the cached
  * old rows. Building in place, rather than in a temp dir renamed
  * into place, is what lets outputs that record their own absolute
  * paths (Iceberg manifests, snapshot tables) use the gate. Callers in
  * one JVM serialize on a lock per output; two processes building the
  * same output are not guarded.
  *
  * Sources and outputs go through Hadoop `FileSystem` with the
  * session's Hadoop conf, so either may live on any scheme it resolves
  * (s3a, …). The whole call is fixture time ([[FixtureTimer.timed]]).
  */
object BuildOnce {

  /** Name of the stamp file written last into a built output. */
  val Marker = "_COMPLETE"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Ensure `out` is built by recipe `tag` from `sources`; returns `out`. */
  def ensure(s: SparkSession, out: String, tag: String, sources: Seq[String])(
      build: String => Unit): String = FixtureTimer.timed {
    val root = new Path(out)
    val fs = rawFs(s, root)
    val marker = new Path(root, Marker)
    locks.computeIfAbsent(fs.makeQualified(root).toString, _ => new AnyRef).synchronized {
      val stamp = stampOf(s, tag, sources)
      if (!fresh(fs, root, stamp)) {
        fs.delete(marker, false)
        fs.delete(root, true)
        fs.mkdirs(root)
        sources.foreach(s.catalog.refreshByPath)
        build(out)
        val o = fs.create(marker, true)
        try o.write(stamp.getBytes(UTF_8)) finally o.close()
      }
    }
    out
  }

  /** Whether `out` holds the stamp of recipe `tag` over `sources`, the
    * check [[ensure]] makes before it builds: one listing per source
    * and one marker read, no Spark job.
    */
  def fresh(s: SparkSession, out: String, tag: String, sources: Seq[String]): Boolean = {
    val root = new Path(out)
    fresh(rawFs(s, root), root, stampOf(s, tag, sources))
  }

  private def fresh(fs: FileSystem, root: Path, stamp: String): Boolean =
    read(fs, new Path(root, Marker)).contains(stamp)

  private def stampOf(s: SparkSession, tag: String, sources: Seq[String]): String =
    s"$tag\n${fingerprint(s, sources)}\n"

  /** The raw store under a checksummed one: the marker gets no `.crc`. */
  private def rawFs(s: SparkSession, root: Path): FileSystem =
    root.getFileSystem(s.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** One line per source file, `path length mtime`, in path order: a
    * directory contributes every file under it, a missing source the
    * line `path missing`. Only length and mtime are read — on Hadoop's
    * local file system, asking a status for its permission or owner
    * forks an `ls` process.
    */
  def fingerprint(s: SparkSession, sources: Seq[String]): String =
    sources.flatMap { src =>
      val p = new Path(src)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      def files(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName).flatMap(files)
        else Seq(st)
      try files(fs.getFileStatus(p)).map(f => s"${f.getPath} ${f.getLen} ${f.getModificationTime}")
      catch { case _: FileNotFoundException => Seq(s"$p missing") }
    }.mkString("\n")

  private def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }
}
