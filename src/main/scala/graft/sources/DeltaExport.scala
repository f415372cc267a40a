package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import Json.jesc

/** Write-side table-format interop: publish a [[SnapshotTable]]
  * version as a MINIMAL DELTA TABLE (delta.io PROTOCOL.md, protocol
  * (1, 2) — the floor every Delta reader speaks), the inverse of the
  * j10 read path. A pipeline that curates 100 TB here must hand the
  * result BACK to downstream engines as a table commit, not a bare
  * parquet directory; this is that hand-off.
  *
  * The exported log is one commit `00000000000000000000.json`:
  * commitInfo (provenance: source table + version), protocol,
  * metaData (the data's Spark-schema JSON — Delta's schemaString IS
  * that format — empty partitionColumns, empty configuration), and
  * one `add` per live data file with `dataChange = true`.
  *
  * Two publication modes, both spec-legal `add.path` forms:
  *
  *  - `copy = true`: data files COPY into the export root and adds
  *    are RELATIVE — a fully self-contained table a consumer can move
  *    wholesale. O(data) cost; the fixture-scale default.
  *  - `copy = false`: adds are ABSOLUTE `file:` URIs referencing the
  *    snapshot table's immutable files IN PLACE (the spec allows
  *    absolute paths — shallow clones use exactly this). The export
  *    is then METADATA-ONLY: O(files) work regardless of data size,
  *    which is the 100 TB shape — publishing a curated exabyte is a
  *    directory of JSON. Sound because SnapshotTable data files are
  *    write-once (never modified, vacuum is the only deleter and
  *    must wait out consumers, the same lease rule as readers).
  *
  * Per-file `stats` (numRecords + min/max) ride along when the
  * snapshot version has a [[SnapshotTable]] stats sidecar — the j17
  * skipping lever handed to downstream readers for free; versions
  * without a sidecar export without stats (stats are optional in the
  * protocol, and readers must stay conservative anyway).
  *
  * The export targets a FRESH directory (refuses a non-empty one: an
  * exporter must never race a foreign writer's log — multi-writer
  * commit arbitration against other engines is a catalog's job, out
  * of scope the same way it is for [[IcebergTable]]'s write side).
  */
object DeltaExport {

  /** Where an export lands: local java.nio (tmp-then-ATOMIC_MOVE is
    * the commit point) or, when `out` carries a URI scheme
    * (`s3a://…`), the Hadoop FileSystem registered for it — with
    * [[S3HttpFileSystem]] bound, log and data publish over the wire
    * via multipart upload, whose CompleteMultipartUpload IS the
    * atomic commit point (no tmp-then-rename on an object store).
    */
  private sealed trait Sink {
    def requireEmpty(): Unit
    def copyData(srcAbs: java.nio.file.Path, relName: String): Unit
    def publishLogAtomic(name: String, bytes: Array[Byte]): Unit
  }

  private final class LocalSink(outDir: java.nio.file.Path) extends Sink {
    val log = outDir.resolve("_delta_log")
    def requireEmpty(): Unit = {
      Files.createDirectories(outDir)
      require(Option(outDir.toFile.list()).forall(_.isEmpty),
        s"export target $outDir is not empty — refusing to write a log " +
          "beside existing content (foreign-writer commit arbitration is " +
          "a catalog's job)")
      Files.createDirectories(log)
    }
    def copyData(srcAbs: java.nio.file.Path, relName: String): Unit =
      Files.copy(srcAbs, outDir.resolve(relName),
        StandardCopyOption.COPY_ATTRIBUTES)
    def publishLogAtomic(name: String, bytes: Array[Byte]): Unit = {
      val tmp = log.resolve(s".$name.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, log.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private final class HadoopSink(s: SparkSession, out: String) extends Sink {
    private val conf = s.sparkContext.hadoopConfiguration
    private val outP = new org.apache.hadoop.fs.Path(out)
    private val fs = outP.getFileSystem(conf)
    def requireEmpty(): Unit =
      require(!fs.exists(outP) || fs.listStatus(outP).isEmpty,
        s"export target $out is not empty — refusing to write a log " +
          "beside existing content")
    def copyData(srcAbs: java.nio.file.Path, relName: String): Unit = {
      val o = fs.create(new org.apache.hadoop.fs.Path(outP, relName), false)
      try Files.copy(srcAbs, o) finally o.close()
    }
    def publishLogAtomic(name: String, bytes: Array[Byte]): Unit = {
      // object-store writes are invisible until complete; writing the
      // final key directly IS tmp-then-move
      val o = fs.create(
        new org.apache.hadoop.fs.Path(outP, s"_delta_log/$name"), false)
      try o.write(bytes) finally o.close()
    }
  }

  /** Export `version` (latest when -1) of the snapshot table at
    * `table` to `out` as a Delta table; returns the number of data
    * files published. `out` may be local or a `scheme://` URI (j21
    * publishes to `s3a://` over the S3 REST write path). */
  def export(s: SparkSession, table: String, out: String,
      version: Long = -1L, copy: Boolean = true): Int = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(table)
    require(v >= 0, s"empty snapshot table $table")
    val files = SnapshotTable.manifest(table, v)
    require(files.nonEmpty, s"version $v of $table lists no files")
    val sink: Sink =
      if (out.contains("://")) new HadoopSink(s, out)
      else new LocalSink(Paths.get(out))
    sink.requireEmpty()
    // schemaString: Delta's format IS the Spark StructType JSON; the
    // files' parquet footers are the schema of record
    val schemaJson = s.read.parquet(files: _*).schema.json
    // add.stats: numRecords from each file's parquet FOOTER (an
    // O(files) metadata read — no data scan, so metadata-only export
    // stays O(files)), min/max from the snapshot's stats sidecars
    // when the committing writer recorded them
    val colStats = SnapshotTable.fileStats(table)
    def statsJson(f: String): String = {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          s.sparkContext.hadoopConfiguration))
      val n = try footer.getRecordCount finally footer.close()
      val mm = colStats.getOrElse(f, Map.empty)
      val mins = mm.toSeq.sortBy(_._1)
        .map { case (c, (mn, _)) => s""""${jesc(c)}":$mn""" }
      val maxs = mm.toSeq.sortBy(_._1)
        .map { case (c, (_, mx)) => s""""${jesc(c)}":$mx""" }
      s"""{"numRecords":$n,"minValues":{${mins.mkString(",")}},"maxValues":{${maxs.mkString(",")}}}"""
    }
    val adds = files.zipWithIndex.map { case (f, i) =>
      val src = Paths.get(f)
      val size = Files.size(src)
      val path =
        if (copy) {
          val n = f"part-$i%05d-${src.getFileName}"
          sink.copyData(src, n)
          n
        } else src.toUri.toString
      s"""{"add":{"path":"${jesc(path)}","partitionValues":{},"size":$size,"modificationTime":${Files.getLastModifiedTime(src).toMillis},"dataChange":true,"stats":"${jesc(statsJson(f))}"}}"""
    }
    val lines = Seq(
      s"""{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"ErrorIfExists"},"graftSourceTable":"${jesc(table)}","graftSourceVersion":$v}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(
        s"graft-export:$table:$v".getBytes(StandardCharsets.UTF_8))}","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(schemaJson)}","partitionColumns":[],"configuration":{},"createdTime":${System.currentTimeMillis()}}}""") ++ adds
    // atomic publish: tmp-then-ATOMIC_MOVE locally, direct final-key
    // multipart write remotely — either way a reader sees a complete
    // version 0 or no table at all
    sink.publishLogAtomic("00000000000000000000.json",
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    adds.size
  }

  /** HISTORY-PRESERVING export: publish the snapshot table's WHOLE
    * version chain as a Delta LOG — snapshot version v becomes Delta
    * commit v, new files become `add`s (with footer+sidecar stats)
    * and dropped files `remove`s, both `dataChange = true` — so a
    * downstream Delta consumer can not only read the latest state but
    * CDC the table ([[DeltaTable.changes]]' derived feed, or any
    * engine's equivalent diff over the commits) and time-travel every
    * published version.
    *
    * TAILING is built in and idempotent: when `out` already holds a
    * previous exportLog of the SAME table, only versions past its
    * last commit are appended — so a scheduler can call this per
    * epoch and crashes replay harmlessly. Each commit publishes
    * tmp-then-exclusive-link (the SnapshotTable discipline: link(2)
    * fails on an existing target, so a replayed version can never
    * tear or double-publish). Data files keep their snapshot-relative
    * `data/<uuid>/...` paths in copy mode (basenames are not unique
    * across commits; the uuid dir is), absolute URIs in
    * metadata-only mode. Returns the last exported version.
    */
  def exportLog(s: SparkSession, table: String, out: String,
      copy: Boolean = true, checkpointEvery: Int = 10): Long = {
    val latest = SnapshotTable.latestVersion(table)
    require(latest >= 0, s"empty snapshot table $table")
    val outDir = Paths.get(out)
    val log = outDir.resolve("_delta_log")
    Files.createDirectories(log)
    val tableMarker = outDir.resolve("_graft_export_source")
    val sourceTag = s"log-export-v1 $table"
    if (Files.exists(tableMarker)) {
      val seen = new String(Files.readAllBytes(tableMarker), "UTF-8").trim
      require(seen == sourceTag,
        s"export target $out already tails a different source ($seen)")
    } else {
      require(Option(outDir.toFile.list()).forall(
        _.forall(_ == "_delta_log")) &&
          Option(log.toFile.list()).forall(_.isEmpty),
        s"export target $out is not empty — refusing to write a log " +
          "beside foreign content")
      Files.write(tableMarker, (sourceTag + "\n").getBytes("UTF-8"))
    }
    val exported: Long = {
      val re = """(\d{20})\.json""".r
      Option(log.toFile.list()).toSeq.flatten
        .collect { case re(n) => n.toLong }.foldLeft(-1L)(math.max)
    }
    require(exported <= latest,
      s"export at $out is ahead of the source ($exported > $latest)")
    val colStats = SnapshotTable.fileStats(table)
    val root = Paths.get(table).toAbsolutePath.toString.stripSuffix("/")
    def relOf(abs: String): String = {
      val a = Paths.get(abs).toAbsolutePath.toString
      require(a.startsWith(root + "/"),
        s"data file $abs outside table root $root")
      a.stripPrefix(root + "/")
    }
    def statsJson(f: String): String = {
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          s.sparkContext.hadoopConfiguration))
      val n = try footer.getRecordCount finally footer.close()
      val mm = colStats.getOrElse(f, Map.empty)
      val mins = mm.toSeq.sortBy(_._1)
        .map { case (c, (mn, _)) => s""""${jesc(c)}":$mn""" }
      val maxs = mm.toSeq.sortBy(_._1)
        .map { case (c, (_, mx)) => s""""${jesc(c)}":$mx""" }
      s"""{"numRecords":$n,"minValues":{${mins.mkString(",")}},"maxValues":{${maxs.mkString(",")}}}"""
    }
    (exported + 1 to latest).foreach { v =>
      val files = SnapshotTable.manifest(table, v)
      val prev: Set[String] =
        if (v == 0) Set.empty else SnapshotTable.manifest(table, v - 1).toSet
      val added = files.filterNot(prev)
      val removed = (prev -- files.toSet).toSeq.sorted
      def pubPath(abs: String): String =
        if (!copy) Paths.get(abs).toUri.toString else relOf(abs)
      added.foreach { f =>
        if (copy) {
          val dest = outDir.resolve(relOf(f))
          Files.createDirectories(dest.getParent)
          if (!Files.exists(dest))
            Files.copy(Paths.get(f), dest, StandardCopyOption.COPY_ATTRIBUTES)
        }
      }
      val head =
        if (v > 0) Seq(s"""{"commitInfo":{"operation":"WRITE","graftSourceTable":"${jesc(table)}","graftSourceVersion":$v}}""")
        else Seq(
          s"""{"commitInfo":{"operation":"WRITE","graftSourceTable":"${jesc(table)}","graftSourceVersion":0}}""",
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(
            s"graft-export-log:$table".getBytes(StandardCharsets.UTF_8))}","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(
            s.read.parquet(files: _*).schema.json)}","partitionColumns":[],"configuration":{},"createdTime":${System.currentTimeMillis()}}}""")
      val lines = head ++
        removed.map(f =>
          s"""{"remove":{"path":"${jesc(pubPath(f))}","deletionTimestamp":${System.currentTimeMillis()},"dataChange":true}}""") ++
        added.map { f =>
          val src = Paths.get(f)
          s"""{"add":{"path":"${jesc(pubPath(f))}","partitionValues":{},"size":${Files.size(src)},"modificationTime":${Files.getLastModifiedTime(src).toMillis},"dataChange":true,"stats":"${jesc(statsJson(f))}"}}"""
        }
      val tmp = log.resolve(f".$v%020d.json.${java.util.UUID.randomUUID()}.tmp")
      Files.write(tmp, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      try Files.createLink(log.resolve(f"$v%020d.json"), tmp)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      finally Files.deleteIfExists(tmp)

      // CHECKPOINT every `checkpointEvery` commits (r15 VERDICT
      // "what's missing" #2): without one, a foreign reader of a
      // 1,000-version exported log replays 1,000 JSONs — the exact
      // cost the bench's interop gauge prices — and the exporter's
      // own metadata cleanup story has no floor to age commits out
      // to. The checkpoint is the full replayed state at v (delta.io
      // PROTOCOL.md "Checkpoints"): protocol + metaData + one add per
      // live file, stats included so downstream skipping (j17)
      // survives the log aging out. Published with the same
      // tmp-then-exclusive-link discipline as commits — a replayed
      // tail can never tear it — and `_last_checkpoint` updates via
      // atomic replace AFTER the checkpoint lands (a reader follows
      // the pointer only to a checkpoint that exists).
      if (checkpointEvery > 0 && v % checkpointEvery == checkpointEvery - 1) {
        import s.implicits._
        val live = SnapshotTable.manifest(table, v)
        val rows: Seq[CpRow] =
          CpRow(Some(CpProtocol(1, 2)), None, None, None) +:
          CpRow(None, Some(CpMeta(
            java.util.UUID.nameUUIDFromBytes(
              s"graft-export-log:$table".getBytes(StandardCharsets.UTF_8)).toString,
            s.read.parquet(live: _*).schema.json, Nil)), None, None) +:
          live.sorted.map { f =>
            val src = Paths.get(f)
            CpRow(None, None, Some(CpAdd(pubPath(f), Map.empty,
              Files.size(src), Files.getLastModifiedTime(src).toMillis,
              dataChange = false, stats = Some(statsJson(f)))), None)
          }
        val cpName = f"$v%020d.checkpoint.parquet"
        if (!Files.exists(log.resolve(cpName))) {
          val scratch = log.resolve(f".w_cp_$v%020d-${java.util.UUID.randomUUID()}")
          rows.toDS().coalesce(1).write.mode("overwrite").parquet(scratch.toString)
          val part = Option(scratch.toFile.listFiles()).toSeq.flatten
            .find(_.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"checkpoint write produced no parquet under $scratch"))
          try Files.createLink(log.resolve(cpName), part.toPath)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          graft.geo.Fixtures.deleteRecursively(scratch.toFile)
        }
        val ptrTmp = log.resolve(f"._last_checkpoint.${java.util.UUID.randomUUID()}.tmp")
        Files.write(ptrTmp,
          s"""{"version":$v,"size":${rows.size}}""".getBytes(StandardCharsets.UTF_8))
        Files.move(ptrTmp, log.resolve("_last_checkpoint"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    latest
  }
}
