package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Json.jesc

/** Write-side interop, second format: publish a [[SnapshotTable]]
  * version as a MINIMAL APACHE ICEBERG v1 Hadoop table
  * (iceberg.apache.org/spec) — the inverse of the j11 read path, and
  * [[DeltaExport]]'s twin: one snapshot whose manifest list points at
  * one manifest whose entries are the version's live files, all
  * ADDED.
  *
  * Iceberg differences that shape the export:
  *
  *  - `file_path` is ALWAYS a full location (the spec's rule — there
  *    is no relative-path mode), so `copy = false` (reference the
  *    snapshot table's immutable files in place — metadata-only,
  *    O(files) at any data size) and `copy = true` (copy into the
  *    export's `data/` dir first — a self-contained tree) differ only
  *    in where the absolute paths POINT.
  *  - The schema carries FIELD IDS: assigned 1..n by position from
  *    the files' parquet schema (a fresh table's canonical
  *    assignment). Only primitive long/int/double/string/boolean
  *    columns export; anything else refuses loudly rather than
  *    guessing a type mapping.
  *  - Per-file `lower_bounds`/`upper_bounds` ride each manifest entry
  *    (the spec's array-of-{key: field id, value: single-value
  *    little-endian bytes} encoding) whenever the snapshot version
  *    recorded stats sidecars — handing the j19 skipping lever to any
  *    downstream Iceberg reader; `record_count` comes from parquet
  *    FOOTERS (O(files) metadata reads).
  *  - Commit pointer: `metadata/v1.metadata.json` + the Hadoop
  *    catalog's `version-hint.text`, an atomic replace through
  *    [[LogStore]] (the hint is the commit point). A non-empty target
  *    refuses — committing INTO an existing Iceberg table needs the
  *    catalog's optimistic version race, a catalog's job (same scope
  *    rule as [[DeltaExport]]).
  */
object IcebergExport {

  private val ManifestListSchema =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin

  private val BoundsType =
    """["null",{"type":"array","items":{"type":"record","name":"bkv","fields":[
      |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}]"""
      .stripMargin.replace("\n", "")

  private val ManifestSchema =
    s"""{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":"long"},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"file_format","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[]}},
      |{"name":"record_count","type":"long"},
      |{"name":"file_size_in_bytes","type":"long"},
      |{"name":"lower_bounds","type":$BoundsType,"default":null},
      |{"name":"upper_bounds","type":${BoundsType.replace("bkv", "bkv2")},"default":null}]}}]}"""
      .stripMargin

  private def icebergType(dt: org.apache.spark.sql.types.DataType): String =
    dt.typeName match {
      case "long" => "long"
      case "integer" => "int"
      case "double" => "double"
      case "string" => "string"
      case "boolean" => "boolean"
      case other => throw new IllegalArgumentException(
        s"iceberg export: no type mapping for $other — refusing rather " +
          "than guessing (add the mapping deliberately)")
    }

  private def longBytes(v: Long): java.nio.ByteBuffer = {
    val bb = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putLong(v); bb.flip(); bb
  }

  /** One manifest entry for a data file: footer record_count,
    * sidecar-driven bounds, spec-required empty `partition` record
    * (the table is unpartitioned), explicit status/snapshot_id. */
  private def entryFor(s: SparkSession, src: String, pub: String,
      colStats: Map[String, Map[String, (Long, Long)]],
      fieldIds: Map[String, Int], status: Int,
      snapshotId: Long): Map[String, Any] = {
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(src),
        s.sparkContext.hadoopConfiguration))
    val n = try footer.getRecordCount finally footer.close()
    val base = Map[String, Any]("file_path" -> pub,
      "file_format" -> "PARQUET",
      "partition" -> Map.empty[String, Any],
      "record_count" -> n,
      "file_size_in_bytes" -> Files.size(Paths.get(src)))
    val mm = colStats.getOrElse(src, Map.empty)
      .flatMap { case (c, b) => fieldIds.get(c).map(_ -> b) }.toSeq.sortBy(_._1)
    val df =
      if (mm.isEmpty) base
      else base ++ Map[String, Any](
        "lower_bounds" -> mm.map { case (id, (mn, _)) =>
          Map[String, Any]("key" -> id, "value" -> longBytes(mn)) },
        "upper_bounds" -> mm.map { case (id, (_, mx)) =>
          Map[String, Any]("key" -> id, "value" -> longBytes(mx)) })
    Map[String, Any]("status" -> status, "snapshot_id" -> snapshotId,
      "data_file" -> df)
  }

  private def schemaFieldsJson(
      schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      s"""{"id":${i + 1},"name":"${jesc(f.name)}","required":${!f.nullable},"type":"${icebergType(f.dataType)}"}"""
    }.mkString("""{"schema-id":0,"type":"struct","fields":[""", ",", "]}")

  /** Export `version` (latest when -1) of the snapshot table at
    * `table` as an Iceberg v1 Hadoop table at `out`; returns the
    * number of data files published. */
  def export(s: SparkSession, table: String, out: String,
      version: Long = -1L, copy: Boolean = true): Int = {
    val v = if (version >= 0) version else SnapshotTable.latestVersion(table)
    require(v >= 0, s"empty snapshot table $table")
    val files = SnapshotTable.manifest(table, v)
    require(files.nonEmpty, s"version $v of $table lists no files")
    val outDir = Paths.get(out)
    Files.createDirectories(outDir)
    require(Option(outDir.toFile.list()).forall(_.isEmpty),
      s"export target $out is not empty — refusing to write metadata " +
        "beside existing content (catalog-grade commit arbitration is " +
        "out of scope, the DeltaExport rule)")
    val meta = outDir.resolve("metadata")
    Files.createDirectories(meta)
    val schema = s.read.parquet(files: _*).schema
    val fieldIds = schema.fields.zipWithIndex
      .map { case (f, i) => f.name -> (i + 1) }.toMap
    val colStats = SnapshotTable.fileStats(table)
    val published: Seq[String] = files.zipWithIndex.map { case (f, i) =>
      if (!copy) f
      else {
        val dest = outDir.resolve("data").resolve(f"part-$i%05d-${Paths.get(f).getFileName}")
        LogStore.copyIn(Paths.get(f), dest.toString)
        dest.toString
      }
    }
    val entries = files.zip(published).map { case (src, pub) =>
      entryFor(s, src, pub, colStats, fieldIds, status = 1, snapshotId = 1L)
    }
    val mf = meta.resolve("manifest-1.avro").toFile
    AvroContainer.writeGeneric(mf, ManifestSchema, entries)
    AvroContainer.writeGeneric(meta.resolve("snap-1.avro").toFile,
      ManifestListSchema, Seq(Map[String, Any](
        "manifest_path" -> s"$out/metadata/manifest-1.avro",
        "manifest_length" -> mf.length(), "partition_spec_id" -> 0,
        "added_snapshot_id" -> 1L)))
    val schemaJson = schemaFieldsJson(schema)
    // v1-REQUIRED fields a foreign reader checks (r15 ADVICE):
    // last-column-id (the field-id allocator's high-water mark) and
    // partition-spec (empty — unpartitioned); "schemas"/"partition-
    // specs" modern duals ride along for v2-era readers.
    val mdJson =
      s"""{"format-version":1,"table-uuid":"${java.util.UUID.nameUUIDFromBytes(
        s"graft-iceberg-export:$table:$v".getBytes(StandardCharsets.UTF_8))}",
         |"location":"${jesc(out)}","last-updated-ms":${System.currentTimeMillis()},
         |"last-column-id":${schema.fields.length},
         |"schema":$schemaJson,
         |"schemas":[$schemaJson],"current-schema-id":0,
         |"partition-spec":[],
         |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
         |"properties":{},
         |"current-snapshot-id":1,
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":${System.currentTimeMillis()},
         |"manifest-list":"${jesc(s"$out/metadata/snap-1.avro")}",
         |"summary":{"operation":"append","graft-source-table":"${jesc(table)}","graft-source-version":"$v"}}]}
         |""".stripMargin
    Files.write(meta.resolve("v1.metadata.json"),
      mdJson.getBytes(StandardCharsets.UTF_8))
    // the hint is the commit point, published last by atomic
    // replace, so a reader sees a complete table or no table
    LogStore.publish(meta.resolve("version-hint.text").toString, exclusive = false)(
      _.write("1\n".getBytes(StandardCharsets.UTF_8)))
    entries.size
  }

  /** HISTORY-PRESERVING, TAILING export (r15 VERDICT "what's missing"
    * #3 — [[DeltaExport.exportLog]]'s Iceberg twin): source snapshot
    * version v becomes Iceberg snapshot v+1 in a Hadoop-catalog
    * table — per version one manifest holding the FULL live file set
    * (status 1 ADDED for files new at v, 0 EXISTING for carried
    * ones; removals are implicit in the rewrite, the spec's
    * rewrite-manifest shape), one manifest list, and one
    * `v<N>.metadata.json` whose `snapshots` array carries the WHOLE
    * exported history — so a downstream Iceberg reader time-travels
    * any published version by snapshot id.
    *
    * TAILING is idempotent: when `out` already tails the SAME source
    * (the `_graft_export_source` marker), only versions past the
    * current `version-hint.text` are appended. Every artifact is an
    * exclusive [[LogStore]] publish (an existing one wins, so a
    * crashed-and-replayed export can never tear or double-publish)
    * and the hint advances LAST by atomic replace — a reader follows
    * the hint only onto complete metadata, and a crash replays
    * harmlessly. Returns the last exported source version.
    */
  def exportLog(s: SparkSession, table: String, out: String,
      copy: Boolean = true): Long = {
    val latest = SnapshotTable.latestVersion(table)
    require(latest >= 0, s"empty snapshot table $table")
    val outDir = Paths.get(out).toAbsolutePath
    val meta = outDir.resolve("metadata")
    Files.createDirectories(meta)
    val marker = outDir.resolve("_graft_export_source")
    val tag = s"iceberg-log-export-v1 $table"
    if (Files.exists(marker)) {
      val seen = new String(Files.readAllBytes(marker), "UTF-8").trim
      require(seen == tag,
        s"export target $out already tails a different source ($seen)")
    } else {
      require(Option(outDir.toFile.list()).forall(_.forall(n =>
          n == "metadata" || n == "data")) &&
          Option(meta.toFile.list()).forall(_.isEmpty),
        s"export target $out is not empty — refusing to write metadata " +
          "beside foreign content")
      Files.write(marker, (tag + "\n").getBytes(StandardCharsets.UTF_8))
    }
    val hintF = meta.resolve("version-hint.text")
    val exported: Long =
      if (!Files.exists(hintF)) -1L
      else new String(Files.readAllBytes(hintF), "UTF-8").trim.toLong - 1L
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
    // file_path is ALWAYS absolute (the spec rule): into the export's
    // data/ tree in copy mode, into the snapshot table in place
    // otherwise
    def pubPath(abs: String): String =
      if (copy) s"$outDir/data/${relOf(abs)}"
      else Paths.get(abs).toAbsolutePath.toString
    (exported + 1 to latest).foreach { v =>
      val files = SnapshotTable.manifest(table, v)
      require(files.nonEmpty, s"version $v of $table lists no files")
      val prev: Set[String] =
        if (v == 0) Set.empty else SnapshotTable.manifest(table, v - 1).toSet
      if (copy) files.filterNot(prev).foreach { f =>
        val dest = outDir.resolve("data").resolve(relOf(f)).toString
        if (!LogStore.exists(dest)) LogStore.copyIn(Paths.get(f), dest)
      }
      val sid = v + 1 // snapshot ids are nonzero
      val schema = s.read.parquet(files: _*).schema
      val fieldIds = schema.fields.zipWithIndex
        .map { case (f, i) => f.name -> (i + 1) }.toMap
      LogStore.publish(s"$meta/manifest-$sid.avro", exclusive = true) { o =>
        AvroContainer.writeGeneric(o, ManifestSchema, files.map { src =>
          entryFor(s, src, pubPath(src), colStats, fieldIds,
            status = if (prev(src)) 0 else 1, snapshotId = sid)
        })
      }
      LogStore.publish(s"$meta/snap-$sid.avro", exclusive = true) { o =>
        AvroContainer.writeGeneric(o, ManifestListSchema,
          Seq(Map[String, Any](
            "manifest_path" -> s"$outDir/metadata/manifest-$sid.avro",
            "manifest_length" -> Files.size(meta.resolve(s"manifest-$sid.avro")),
            "partition_spec_id" -> 0, "added_snapshot_id" -> sid)))
      }
      val schemaJson = schemaFieldsJson(schema)
      val snapsJson = (1L to sid).map { k =>
        s"""{"snapshot-id":$k,"timestamp-ms":${System.currentTimeMillis()},"manifest-list":"${jesc(
          s"$outDir/metadata/snap-$k.avro")}","summary":{"operation":"append","graft-source-table":"${jesc(
          table)}","graft-source-version":"${k - 1}"}}"""
      }.mkString("[", ",", "]")
      val mdJson =
        s"""{"format-version":1,"table-uuid":"${java.util.UUID.nameUUIDFromBytes(
          s"graft-iceberg-export-log:$table".getBytes(StandardCharsets.UTF_8))}",
           |"location":"${jesc(outDir.toString)}","last-updated-ms":${System.currentTimeMillis()},
           |"last-column-id":${schema.fields.length},
           |"schema":$schemaJson,
           |"schemas":[$schemaJson],"current-schema-id":0,
           |"partition-spec":[],
           |"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0,
           |"properties":{},
           |"current-snapshot-id":$sid,
           |"snapshots":$snapsJson}
           |""".stripMargin
      LogStore.publish(s"$meta/v$sid.metadata.json", exclusive = true)(
        _.write(mdJson.getBytes(StandardCharsets.UTF_8)))
      // the hint advances LAST — the commit point for this version
      LogStore.publish(hintF.toString, exclusive = false)(
        _.write(s"$sid\n".getBytes(StandardCharsets.UTF_8)))
    }
    latest
  }
}
