package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import Json.jesc
import graft.BuildOnce

/** METADATA-SCALE stress fixtures for the interop readers (r13
  * VERDICT #6): the j10/j11 correctness fixtures are 3-commit /
  * 3-manifest tables, so nothing priced what a real table's METADATA
  * costs — a 1,000-commit Delta log (checkpoints every 10, aged-out
  * head) and a 100-manifest Iceberg snapshot. The bench's `interop`
  * section times snapshot resolution over these and records the
  * measured driver heap the resolved snapshot retains, turning two
  * scaling claims into numbers:
  *
  *  - Delta log resolution is O(listing + checkpoint + post-checkpoint
  *    tail), NOT O(history): resolving v999 reads the v989 checkpoint
  *    (one distributed parquet scan) plus the 10-commit JSON tail;
  *    the 990 older commits never open. Time travel into the middle
  *    (v995) costs the same shape.
  *  - Iceberg resolution is O(snapshot): the current snapshot's
  *    manifest list + its 100 manifests; the older snapshot's
  *    metadata is never touched.
  *
  * Data files are 2-row donor-copies (content is irrelevant to
  * metadata pricing; they exist so the 1,000-file `read()` also
  * plans and scans for real). Both tables share the same donor
  * directory — the Iceberg manifests point at the Delta stress
  * files by absolute path.
  */
object StressFixtures {

  val Commits = 1000
  val CheckpointEvery = 10
  val IcebergManifests = 100
  val FilesPerManifest = 10

  private val DeltaTag = "delta1000 v1"
  private val IcebergTag = "iceberg100 v1"
  /** The Iceberg table's one source: the Delta table's marker, so it
    * is rebuilt with its donors. */
  private def donorMarker(root: String) = Seq(s"$root/delta1000/${BuildOnce.Marker}")

  /** Whether both stress tables under `root` are fresh by their
    * current recipes — a check that builds nothing. */
  def built(s: SparkSession, root: String): Boolean =
    BuildOnce.fresh(s, s"$root/delta1000", DeltaTag, Nil) &&
      BuildOnce.fresh(s, s"$root/iceberg100", IcebergTag, donorMarker(root))

  /** 1,000-commit Delta table: v0 carries protocol/metaData/add-0,
    * each later commit one add; checkpoints at v9, v19, …, v989
    * (latest checkpoint BEHIND the head so resolution pays a real
    * 10-commit JSON tail); commits 0..989 AGED OUT (metadata
    * cleanup), so the checkpoint path is load-bearing exactly as in
    * the j10 fixture. */
  def ensureDeltaStress(s: SparkSession, root: String): String =
    BuildOnce.ensure(s, s"$root/delta1000", DeltaTag, Nil) { out =>
      import s.implicits._
      val dir = new java.io.File(out)
      val log = new java.io.File(dir, "_delta_log")
      log.mkdirs()
      // donor: one tiny parquet, copied per commit (metadata pricing —
      // content is irrelevant, existence lets read() scan for real)
      val scratch = new java.io.File(dir, ".w_donor")
      Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val donor = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
      val names = (0 until Commits).map(i => f"file-$i%04d.parquet")
      names.foreach { n =>
        Files.copy(donor.toPath, new java.io.File(dir, n).toPath)
      }
      graft.geo.Fixtures.deleteRecursively(scratch)
      val size = new java.io.File(dir, names.head).length()
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}}]}"""
      val esc = rawSchema.replace("\\", "\\\\").replace("\"", "\\\"")
      def addJson(n: String) =
        s"""{"add":{"path":"$n","partitionValues":{},"size":$size,"modificationTime":1700000000000,"dataChange":true}}"""
      (0 until Commits).foreach { v =>
        val lines =
          if (v == 0) Seq(
            """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
            s"""{"metaData":{"id":"graft-delta-stress","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""",
            addJson(names(0)))
          else Seq(addJson(names(v)))
        Files.write(new java.io.File(log, f"$v%020d.json").toPath,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      }
      // checkpoints every 10 commits; each is the full replayed state
      var lastCp = -1
      (CheckpointEvery - 1 until Commits - CheckpointEvery by CheckpointEvery)
        .foreach { v =>
          val rows =
            CpRow(Some(CpProtocol(1, 2)), None, None, None) +:
            CpRow(None, Some(CpMeta("graft-delta-stress", rawSchema, Nil)),
              None, None) +:
            (0 to v).map(i => CpRow(None, None,
              Some(CpAdd(names(i), Map.empty, size, 1700000000000L,
                dataChange = true)), None))
          val cps = new java.io.File(log, ".w_cp")
          rows.toDS().coalesce(1).write.mode("overwrite").parquet(cps.toString)
          val part = cps.listFiles().find(_.getName.endsWith(".parquet")).get
          Files.move(part.toPath,
            new java.io.File(log, f"$v%020d.checkpoint.parquet").toPath)
          graft.geo.Fixtures.deleteRecursively(cps)
          lastCp = v
        }
      Files.write(new java.io.File(log, "_last_checkpoint").toPath,
        s"""{"version":$lastCp,"size":${lastCp + 3}}"""
          .getBytes(StandardCharsets.UTF_8))
      // metadata cleanup: every pre-checkpoint commit ages out — only
      // the tail past the last checkpoint remains as JSON
      (0 to lastCp).foreach { v =>
        Files.deleteIfExists(new java.io.File(log, f"$v%020d.json").toPath)
      }
    }

  /** 100-manifest Iceberg snapshot (10 data files each, pointing at
    * the Delta stress donors by absolute path, so it is rebuilt with
    * them) plus an older 50-manifest snapshot — resolving the current
    * snapshot must never touch the older one's metadata. */
  def ensureIcebergStress(s: SparkSession, root: String): String = {
    val donorDir = ensureDeltaStress(s, root)
    BuildOnce.ensure(s, s"$root/iceberg100", IcebergTag, donorMarker(root)) { out =>
      val meta = new java.io.File(out, "metadata")
      meta.mkdirs()
      val manifestListSchema =
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"},
          |{"name":"partition_spec_id","type":"int"},
          |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin
      val manifestSchema =
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"snapshot_id","type":"long"},
          |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin
      val manifests = (0 until IcebergManifests).map { m =>
        val f = new java.io.File(meta, f"manifest-$m%03d.avro")
        val entries = (0 until FilesPerManifest).map { k =>
          val donor = f"$donorDir/file-${m * FilesPerManifest + k}%04d.parquet"
          Map[String, Any]("status" -> 1, "snapshot_id" -> 2L,
            "data_file" -> Map[String, Any](
              "file_path" -> donor, "file_format" -> "PARQUET",
              "record_count" -> 2L, "file_size_in_bytes" -> 1L))
        }
        AvroContainer.writeGeneric(f, manifestSchema, entries)
        (s"$out/metadata/${f.getName}", f.length())
      }
      def manifestList(file: String, ms: Seq[(String, Long)]): String = {
        AvroContainer.writeGeneric(new java.io.File(meta, file),
          manifestListSchema, ms.map { case (p, len) => Map[String, Any](
            "manifest_path" -> p, "manifest_length" -> len,
            "partition_spec_id" -> 0, "added_snapshot_id" -> 2L) })
        s"$out/metadata/$file"
      }
      val sl1 = manifestList("snap-1.avro", manifests.take(IcebergManifests / 2))
      val sl2 = manifestList("snap-2.avro", manifests)
      val mdJson =
        s"""{"format-version":1,"table-uuid":"graft-iceberg-stress",
           |"location":"${jesc(out)}","last-updated-ms":1700000000000,
           |"current-snapshot-id":2,
           |"snapshots":[
           |{"snapshot-id":1,"timestamp-ms":1700000000000,
           |"manifest-list":"${jesc(sl1)}","summary":{"operation":"append"}},
           |{"snapshot-id":2,"timestamp-ms":1700000001000,
           |"manifest-list":"${jesc(sl2)}","summary":{"operation":"append"}}]}
           |""".stripMargin
      Files.write(new java.io.File(meta, "v1.metadata.json").toPath,
        mdJson.getBytes(StandardCharsets.UTF_8))
      Files.write(new java.io.File(meta, "version-hint.text").toPath,
        "1\n".getBytes(StandardCharsets.UTF_8))
    }
  }
}
