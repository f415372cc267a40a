package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal DELTA LAKE **reader** — open-table-format interop from the
  * PUBLIC protocol spec (delta.io PROTOCOL.md): a real deployment's
  * tables already live in Delta/Iceberg, so an engine that cannot at
  * least READ them forces a full export before anything else runs.
  * SnapshotTable is this repo's protocol twin (same commit/manifest/
  * time-travel ideas, derived from first principles); DeltaTable is
  * the interop shim that reads the ecosystem's actual on-disk layout:
  *
  *  - `_delta_log/%020d.json` — one commit per file, JSONL of action
  *    objects; the ones a reader needs are `add` (file enters the
  *    snapshot), `remove` (file leaves it), `protocol` (reader
  *    version gate) and `metaData`. Snapshot at version V = replay
  *    actions 0..V, last action per path wins.
  *  - `_delta_log/%020d.checkpoint.parquet` — the replayed state at a
  *    version, written so readers need not replay from zero; commit
  *    JSONs BEFORE a checkpoint may be AGED OUT by metadata cleanup,
  *    so checkpoint reading is load-bearing, not an optimization
  *    (IngestSpec's fixture deletes the v0 JSON to prove this path).
  *  - `_delta_log/_last_checkpoint` — pointer to the newest
  *    checkpoint, honored when present (the protocol's way to avoid a
  *    full log listing on huge tables), verified against the listing.
  *
  * Reader-version discipline: versions 1 (base), 2 (column mapping,
  * name mode) and 3 whose `readerFeatures` are all implemented
  * (deletionVectors via [[DeltaDv]], columnMapping) read; any OTHER
  * demanded feature throws loudly — reading past it would SILENTLY
  * return wrong rows (ignored deletion vectors resurrect deleted
  * rows, which is why the r13 reader refused all of version 2+).
  * Same for a version whose log has been aged out: time travel below
  * the oldest checkpoint fails at log resolution, exactly like
  * SnapshotTable's vacuumed versions.
  *
  * Scale posture: one action decoder serves the whole log. A
  * checkpoint's parts, then its V2 sidecars, are each read as ONE
  * distributed parquet scan whose rows `toJSON` renders as the very
  * action lines a commit carries (a checkpoint row is an action in
  * columnar form), so a checkpoint costs one collect job and every
  * line — checkpoint or commit — applies through the same Jackson
  * decoder, as Delta's own LogReplay parses commits. The active-path
  * set it yields is driver-side manifest-grade metadata — the same
  * accepted bound as SnapshotTable.merge's affected-file set and
  * Delta's own planner (at 10^8 files the paths would stay a frame
  * feeding an exchange-free join to the scan planner; the replay
  * algebra is unchanged). Checkpoint and data footers are read once
  * per file version ([[graft.Tables.parquet]]), so a warm read starts
  * no schema-inference job.
  * Log IO goes through [[LogStore]]: a table path with a URI scheme
  * (`s3a://…`, e.g. a [[DeltaExport]] published to object storage)
  * resolves through the Hadoop FileSystem registered for it, and a
  * plain path stays on java.nio.
  *
  * Write-side interop is deliberately OUT of scope: writing Delta
  * means implementing its commit protocol against concurrent foreign
  * writers — half a database, and the reference pipeline only needs
  * its OUTPUT readable by warehouses, which the plain parquet +
  * SnapshotTable sink already is.
  */
object DeltaTable {

  /** A deletion-vector descriptor as the `add` action carries it
    * (PROTOCOL.md "Deletion Vector Descriptor Schema"); decoding
    * lives in [[DeltaDv]]. `offset` is −1 when absent (inline). */
  final case class Dv(storageType: String, pathOrInlineDv: String,
    offset: Int, sizeInBytes: Int, cardinality: Long)

  /** One live file: its table-relative path, the log-carried
    * partition values (Delta stores partition columns ONLY in the
    * log — the data files do not contain them), and its deletion
    * vector when rows were deleted merge-on-read. */
  final case class AddFile(path: String, partitionValues: Map[String, String],
    dv: Option[Dv] = None, statsJson: Option[String] = None)

  final case class Snapshot(version: Long, adds: Seq[AddFile],
      minReaderVersion: Int, partitionColumns: Seq[String],
      schemaJson: Option[String],
      configuration: Map[String, String] = Map.empty) {
    def files: Seq[String] = adds.map(_.path)
  }

  /** Reader features this implementation actually honors; a
    * minReaderVersion-3 table demanding anything else refuses. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint")

  private def logDir(table: String): String =
    s"${table.stripSuffix("/")}/_delta_log"

  private val CommitRe = """(\d{20})\.json""".r
  private val CheckpointRe = """(\d{20})\.checkpoint\.parquet""".r
  // multi-part checkpoints (the protocol's large-table shape, emitted
  // by real writers above a part-size threshold):
  // NNN.checkpoint.<part>.<numParts>.parquet — all parts of one
  // version together hold the replayed state
  private val MultiPartRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  // V2 checkpoints (PROTOCOL.md "V2 Checkpoint Table Feature"): one
  // UUID-named file whose action rows may DELEGATE the add/remove
  // state to sidecar parquet files under _delta_log/_sidecars/
  private val V2CpRe = """(\d{20})\.checkpoint\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\.parquet""".r

  /** version → the checkpoint's part files (single-part: one entry).
    * An INCOMPLETE multi-part checkpoint (listed parts ≠ declared
    * numParts — a torn upload) is dropped from the map: using it
    * would silently lose every action in the missing part, and the
    * caller's error message then names the real problem (no usable
    * checkpoint / aged-out log) instead of reading a torn state. */
  private def checkpointsOf(names: Seq[String]): Map[Long, Seq[String]] = {
    val single = names.collect { case n @ CheckpointRe(v) =>
      v.toLong -> Seq(n) }
    val multi = names.collect { case n @ MultiPartRe(v, _, np) =>
      (v.toLong, np.toInt, n) }
      .groupBy { case (v, np, _) => (v, np) }
      .collect { case ((v, np), parts) if parts.size == np =>
        v -> parts.map(_._3).sorted.toSeq }
    val v2 = names.collect { case n @ V2CpRe(v, _) => v.toLong -> Seq(n) }
    (single ++ multi ++ v2).toMap
  }

  def latestVersion(table: String): Long = {
    val names = LogStore.list(logDir(table))
    val vs = names.collect { case CommitRe(v) => v.toLong } ++
      checkpointsOf(names).keys
    if (vs.isEmpty) -1L else vs.max
  }

  /** Resolve the snapshot at `version` (latest when negative):
    * checkpoint base + JSON replay, last action per path wins. */
  def snapshot(s: SparkSession, table: String, version: Long = -1L): Snapshot = {
    val dir = logDir(table)
    require(LogStore.exists(dir), s"not a delta table (no _delta_log): $table")
    val names = LogStore.list(dir)
    val commits = names.collect { case n @ CommitRe(v) => v.toLong -> n }.toMap
    val checkpoints = checkpointsOf(names)
    val latest = (commits.keySet ++ checkpoints.keySet).maxOption.getOrElse(
      throw new IllegalStateException(s"empty _delta_log at $table"))
    val target = if (version < 0) latest else version
    require(target <= latest, s"version $target beyond latest $latest at $table")

    // _last_checkpoint pointer when present (protocol: readers use it
    // to skip the listing); a pointer to a missing file is table
    // corruption and must fail loudly, not fall back silently
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val lastCp = s"$dir/_last_checkpoint"
    val pointed: Option[Long] =
      if (!LogStore.exists(lastCp)) None
      else {
        val v = om.readTree(LogStore.read(lastCp)).get("version").asLong()
        require(checkpoints.contains(v),
          s"_last_checkpoint points at checkpoint $v which is missing or " +
            s"an incomplete multi-part set at $table")
        Some(v)
      }
    val cpV = (pointed.toSeq ++ checkpoints.keys).filter(_ <= target)
      .maxOption

    // ONE action decoder for both log sources: a commit's JSON lines,
    // and a checkpoint's rows rendered as the same lines by `toJSON`
    // (a checkpoint row IS an action in columnar form, PROTOCOL.md
    // "Checkpoints"; null structs print absent). An action key whose
    // value is JSON null counts as absent.
    val active = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    var minReader = 1
    var readerFeatures = Set.empty[String]
    var partitionColumns: Seq[String] = Nil
    var schemaJson: Option[String] = None
    var configuration = Map.empty[String, String]
    def field(n: JsonNode, k: String): Option[JsonNode] =
      Option(n.get(k)).filterNot(_.isNull)
    def strings(n: JsonNode): Vector[String] = {
      val b = Vector.newBuilder[String]
      n.forEach(e => b += e.asText())
      b.result()
    }
    def applyAction(n: JsonNode): Unit = {
      field(n, "protocol").foreach { p =>
        minReader = p.get("minReaderVersion").asInt()
        field(p, "readerFeatures").foreach(f => readerFeatures = strings(f).toSet)
      }
      field(n, "metaData").foreach { m =>
        schemaJson = field(m, "schemaString").map(_.asText())
        partitionColumns = field(m, "partitionColumns").map(strings).getOrElse(Nil)
        field(m, "configuration").foreach { c =>
          val b = Map.newBuilder[String, String]
          c.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asText())
          configuration = b.result()
        }
      }
      field(n, "add").foreach { a =>
        val p = a.get("path").asText()
        val pv = scala.collection.mutable.LinkedHashMap[String, String]()
        field(a, "partitionValues").foreach(_.fields().forEachRemaining(
          e => pv(e.getKey) = if (e.getValue.isNull) null else e.getValue.asText()))
        // a descriptor with no fields (a checkpoint's all-null struct)
        // is no DV; otherwise its required-when-present fields must
        // all be there — refuse a torn descriptor loudly rather than
        // misapply a DV
        val dv = field(a, "deletionVector").filter(_.size > 0).map { d =>
          val missing = Seq("storageType", "pathOrInlineDv", "sizeInBytes",
            "cardinality").filter(field(d, _).isEmpty)
          require(missing.isEmpty, s"DV descriptor for $p at $table is " +
            s"missing ${missing.mkString("/")}")
          Dv(d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
            field(d, "offset").map(_.asInt()).getOrElse(-1),
            d.get("sizeInBytes").asInt(), d.get("cardinality").asLong())
        }
        active(p) = AddFile(p, pv.toMap, dv, field(a, "stats").map(_.asText()))
      }
      field(n, "remove").foreach(r => active -= r.get("path").asText())
    }

    // base state from the checkpoint: its parts, then its V2 sidecars,
    // each set one distributed scan collected as action lines; the
    // active-path set is driver-side manifest-grade metadata (the
    // SnapshotTable.merge bound, stated in the object scaladoc)
    def actionsOf(paths: Seq[String]): Seq[JsonNode] =
      graft.Tables.parquet(s, paths: _*).toJSON.collect().toSeq.map(om.readTree)
    cpV.foreach { v =>
      val main = actionsOf(checkpoints(v).map(n => s"$dir/$n"))
      // V2 checkpoints: the UUID-named file must declare its own
      // version (integrity — a misnamed copy would replay the wrong
      // state), and may delegate add/remove state to sidecar parquet
      // files under _delta_log/_sidecars/ (each must exist: a torn
      // sidecar set read as partial state would silently lose files)
      main.flatMap(field(_, "checkpointMetadata")).foreach { m =>
        val declared = m.get("version").asLong()
        require(declared == v,
          s"v2 checkpoint named $v declares version $declared at $table")
      }
      val sidecars = main.flatMap(field(_, "sidecar"))
        .map(sc => s"$dir/_sidecars/${sc.get("path").asText()}")
      sidecars.foreach(p => require(LogStore.exists(p),
        s"v2 checkpoint sidecar missing at $table: $p"))
      val side = if (sidecars.isEmpty) Nil else actionsOf(sidecars)
      // a checkpoint is a state, not a sequence: protocol and
      // metaData first, then adds, then removes
      (main ++ side).sortBy(n =>
        if (field(n, "add").isDefined) 1 else if (field(n, "remove").isDefined) 2 else 0)
        .foreach(applyAction)
    }

    // replay the JSON commits after the checkpoint, each commit's
    // lines in order; every version in the range must resolve — a gap
    // means the log was aged out past our base and the snapshot
    // CANNOT be reconstructed (the SnapshotTable vacuum rule: fail at
    // log resolution, never silently drop a commit)
    val from = cpV.map(_ + 1).getOrElse(0L)
    (from to target).foreach { v =>
      val name = commits.getOrElse(v, throw new IllegalStateException(
        s"version $v unreadable at $table: commit json aged out and no " +
          s"checkpoint covers it (oldest checkpoint: ${checkpoints.keys.minOption})"))
      new String(LogStore.read(s"$dir/$name"), StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).foreach(l => applyAction(om.readTree(l)))
    }
    // reader-version discipline: versions 1 (base), 2 (column
    // mapping) and 3 with ONLY features we honor read; anything else
    // refuses loudly — reading past an unknown feature would
    // silently return wrong rows (the DV lesson: ignored deletes
    // resurrect)
    if (minReader == 3) {
      val unsupported = readerFeatures -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        s"table $table requires reader features ${unsupported.toSeq.sorted.mkString(", ")} " +
          s"this reader does not implement (supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}) — " +
          "reading on would silently return wrong rows")
    } else require(minReader <= 2,
      s"table $table requires reader version $minReader with reader features " +
        s"[${readerFeatures.toSeq.sorted.mkString(", ")}]; this reader " +
        "implements protocol 1-2 and feature-gated 3 — reading on would " +
        "silently return wrong rows")
    Snapshot(target, active.values.toVector, minReader, partitionColumns,
      schemaJson, configuration)
  }

  /** CHANGE FEED over a FOREIGN Delta table, derived from snapshot
    * file diffs — incremental consumption of a table someone else
    * writes, WITHOUT requiring `delta.enableChangeDataFeed` on the
    * writer's side (Delta's own `table_changes` only works when the
    * writer opted in and paid the `_change_data` write amplification;
    * this derives the same row-level feed from the commits' toggled
    * files, exactly the SnapshotTable.changes algebra — shared core,
    * [[SnapshotTable.fileDiffChanges]]). Per step: snapshot(v−1) vs
    * snapshot(v) file sets → multiset row diff over ONLY the toggled
    * files → key-classified insert/delete/update pre+post rows. A
    * pure-compaction commit (remove + re-add identical rows,
    * `dataChange: false`) yields an EMPTY feed — layout changes are
    * invisible to CDC, the g40 REPLACE lesson on a foreign table.
    * Requires the log to still resolve every version in the range
    * (an aged-out version fails loudly at snapshot resolution).
    * PARTITIONED tables diff correctly: each side's toggled files
    * read through [[readAdds]], which reconstitutes the partition
    * columns from the log's `partitionValues` BEFORE the multiset
    * diff — the row the feed classifies is the full logical row,
    * partition columns included. Each snapshot in the range resolves
    * ONCE (adjacent steps share an endpoint; resolving per step would
    * replay the shared endpoint's checkpoint scan + JSON tail twice).
    */
  def changes(s: SparkSession, table: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    require(fromV < toV, s"bad change range [$fromV, $toV]")
    val snaps = (fromV to toV).map(v => v -> snapshot(s, table, v)).toMap
    (fromV until toV).map { v =>
      val a = snaps(v)
      val b = snaps(v + 1)
      val af = a.adds.map(x => x.path -> x).toMap
      val bf = b.adds.map(x => x.path -> x).toMap
      // a DELETION-VECTOR commit changes rows WITHOUT toggling file
      // paths (the same path re-adds with a new DV generation), so a
      // path whose DV differs between the endpoints counts as
      // toggled on BOTH sides — each side then reads through ITS OWN
      // snapshot's DV ([[readSubset]]), and the multiset diff sees
      // exactly the newly-deleted rows (DVs only grow, so the diff
      // classifies them as deletes; a same-commit add of replacement
      // rows classifies as update/insert through the ordinary path)
      val dvChanged = b.adds
        .filter(x => af.get(x.path).exists(old => old.dv != x.dv))
        .sortBy(_.path)
      val added = (b.adds.filterNot(x => af.contains(x.path)) ++ dvChanged)
        .sortBy(_.path)
      val removed = (a.adds.filterNot(x => bf.contains(x.path)) ++
        dvChanged.map(x => af(x.path))).sortBy(_.path)
      // an empty side still needs the row shape — the OTHER side's
      // toggled files at zero rows; a no-op commit falls back to the
      // snapshot's own schema frame. The step's scan set never
      // exceeds the toggled files (the SnapshotTable.changeStep
      // discipline).
      def side(own: Seq[AddFile], ownSnap: Snapshot,
          other: Seq[AddFile], otherSnap: Snapshot): DataFrame =
        if (own.nonEmpty) readSubset(s, table, own, ownSnap)
        else if (other.nonEmpty)
          readSubset(s, table, other, otherSnap).limit(0)
        else read(s, table, v + 1).limit(0)
      SnapshotTable.frameDiffChanges(
        added = side(added, b, removed, a),
        removed = side(removed, a, added, b),
        keyCols, cache = true, commitV = v + 1)
    }.reduce(_ unionByName _)
  }

  /** Read the snapshot as a DataFrame (paths resolve against the
    * table root, per the protocol's relative-path rule). PARTITIONED
    * tables: Delta stores partition columns only in the log's
    * `partitionValues`, never in the data files, so the reader
    * reconstitutes them — files group by their partition tuple, each
    * group reads once and gains the partition columns as literals
    * cast to the schema's types (the metaData `schemaString` IS
    * Spark's own StructType JSON). One read per distinct live
    * partition tuple: fine at fixture scale and honest about the
    * boundary — a production-width table (10^5 partitions) wants a
    * custom FileIndex handing Spark one scan with partition metadata,
    * the same seam Delta's own DataSource uses. */
  def read(s: SparkSession, table: String, version: Long = -1L): DataFrame = {
    val snap = snapshot(s, table, version)
    require(snap.files.nonEmpty, s"empty snapshot ${snap.version} at $table")
    readSubset(s, table, snap.adds, snap)
  }

  /** FILE-STATS DATA SKIPPING on a FOREIGN Delta table — Delta's own
    * data-skipping lever, read from the `add.stats` JSON real writers
    * attach (numRecords/minValues/maxValues; delta.io PROTOCOL.md
    * "Per-file Statistics"), mirroring [[SnapshotTable.readPruned]]'s
    * (g44) strictly conservative contract in both directions:
    *
    *  - a file with NO stats, stats not covering `column`, non-numeric
    *    bounds, or TORN stats JSON is KEPT (degrades to reading,
    *    never to wrong answers);
    *  - the result is a SUPERSET scan — the caller applies the real
    *    predicate on top, so a corrupt stats string can only change
    *    which files open, never which rows qualify.
    *
    * The kept files read through [[readSubset]], so skipping composes
    * with partition reconstitution, column mapping and deletion
    * vectors. Stats are manifest-grade driver metadata — the same
    * bound as the snapshot's path set.
    */
  def readPruned(s: SparkSession, table: String, column: String,
      lo: Long, hi: Long, version: Long = -1L): DataFrame = {
    val snap = snapshot(s, table, version)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val keep = snap.adds.filter { a =>
      a.statsJson match {
        case None => true // conservative: no stats → read it
        case Some(js) =>
          try {
            val n = om.readTree(js)
            val mn = Option(n.get("minValues")).flatMap(v => Option(v.get(column)))
            val mx = Option(n.get("maxValues")).flatMap(v => Option(v.get(column)))
            (mn, mx) match {
              case (Some(a0), Some(b0)) if a0.isNumber && b0.isNumber =>
                b0.asLong() >= lo && a0.asLong() <= hi
              case _ => true // column not covered → conservative
            }
          } catch { case _: Exception => true } // torn stats → read it
      }
    }
    if (keep.isEmpty) read(s, table, version).limit(0)
    else readSubset(s, table, keep, snap)
  }

  /** Read a subset of a snapshot's live files with EVERY read-path
    * discipline applied — partition reconstitution, column mapping,
    * AND deletion-vector subtraction. The kernel behind [[read]]
    * (all adds) and the DV-aware [[changes]] sides (a commit's
    * toggled adds, each side under its own snapshot's DVs). */
  private def readSubset(s: SparkSession, table: String, adds: Seq[AddFile],
      snap: Snapshot): DataFrame = {
    val dvAdds = adds.filter(_.dv.isDefined)
    val base = readAdds(s, table, adds, snap,
      withOrdinals = dvAdds.nonEmpty)
    if (dvAdds.isEmpty) base
    else {
      // MERGE-ON-READ deletion vectors: one [[DeltaDv.Entry]] per
      // DV'd file (manifest-grade — a few dozen bytes each); the
      // bitmap DECODE runs executor-side in the typed flatMap, so DV
      // payloads never pass through the driver, and the expanded
      // (file, ordinal) delete set anti-joins against the scan's
      // native row ordinal exactly like Iceberg position deletes
      // (j13) — the delete side is usually tiny and AQE broadcasts it
      import s.implicits._
      val entries = dvAdds.map { a =>
        val d = a.dv.get
        // The anti-join key must be derived the same way the scan's
        // `__fp` is (the `_metadata.file_path` URI with the scheme
        // stripped) — add.path is a PERCENT-ENCODED relative URI per
        // PROTOCOL.md, and the metadata column renders the same
        // encoding, so the key keeps add.path's encoding verbatim and
        // URI-encodes only the table root. Building it from
        // File.getAbsolutePath instead desynchronizes on any
        // percent-escaped character and the anti-join silently
        // removes NOTHING — deleted rows resurrecting is exactly the
        // failure the reader-version gate exists to prevent.
        val rootUri =
          if (LogStore.hasScheme(table)) table
          else new java.io.File(table).toURI.toString
        val key = (if (a.path.startsWith("/") || a.path.contains(":/")) a.path
          else rootUri.stripSuffix("/") + "/" + a.path)
          .replaceFirst("^file:/+", "/")
        DeltaDv.Entry(key, table,
          d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
          d.cardinality)
      }
      val dels = s.createDataset(entries)
        .flatMap { e =>
          val ps = DeltaDv.positions(e)
          require(ps.length == e.cardinality,
            s"DV cardinality mismatch for ${e.path}: descriptor " +
              s"${e.cardinality}, decoded ${ps.length}")
          ps.map(p => (e.path, p))
        }.toDF("__del_fp", "__del_pos")
      base.join(dels,
          col("__fp") === col("__del_fp") && col("__pos") === col("__del_pos"),
          "left_anti")
        .drop("__fp", "__pos")
    }
  }

  /** Read a SUBSET of a snapshot's live files with the snapshot's
    * partition and column-mapping discipline applied — the shared
    * kernel of [[read]] (all files) and [[changes]] (only a commit's
    * toggled files). `withOrdinals` materializes the normalized file
    * path and native row ordinal (`__fp`/`__pos`) ON the scan, so a
    * caller's DV anti-join binds them before any projection could
    * hide `_metadata`. COLUMN MAPPING: in `name` mode data files
    * carry PHYSICAL column names (the schemaString field metadata's
    * `delta.columnMapping.physicalName`) — the scan selects physical
    * and aliases back to logical; in `id` mode matching is by PARQUET
    * FIELD ID (`delta.columnMapping.id` → the read schema's
    * `parquet.field.id` metadata, resolved by Spark's native field-id
    * reader) — the file's column NAMES are untrusted by design (a
    * pre-rename file's names legitimately disagree with the current
    * schema). partitionValues key on physical names in BOTH modes. */
  /** Resolve an `add.path` to a scannable location: the spec allows
    * RELATIVE (against the table root — the common case) or ABSOLUTE
    * paths/URIs (shallow clones, and this engine's own zero-copy
    * [[DeltaExport]] publish what they reference in place). */
  private[sources] def resolvePath(table: String, p: String): String =
    if (p.startsWith("/") || p.contains(":/")) p else s"$table/$p"

  private def readAdds(s: SparkSession, table: String, adds: Seq[AddFile],
      snap: Snapshot, withOrdinals: Boolean): DataFrame = {
    require(adds.nonEmpty, s"readAdds on empty file set at $table")
    val cmMode = snap.configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cmMode == "none" || cmMode == "name" || cmMode == "id",
      s"column mapping mode '$cmMode' at $table unsupported (this reader " +
        "implements 'none', 'name' and 'id')")
    val needSchema = snap.partitionColumns.nonEmpty || cmMode != "none"
    val schema: Option[org.apache.spark.sql.types.StructType] =
      if (!needSchema) None
      else Some(org.apache.spark.sql.types.DataType
        .fromJson(snap.schemaJson.getOrElse(throw new IllegalStateException(
          s"table $table has no metaData.schemaString in its log")))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    def physName(c: String): String = schema.map(_.apply(c)).map { f =>
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        f.metadata.getString("delta.columnMapping.physicalName")
      else f.name
    }.getOrElse(c)
    lazy val dataFields = schema.get.fields
      .filterNot(f => snap.partitionColumns.contains(f.name)).toSeq
    // id mode: a read schema of LOGICAL names, each tagged with the
    // log's field id as `parquet.field.id`; Spark's field-id reader
    // (spark.sql.parquet.fieldId.read.enabled) then matches columns
    // by the ids the writer stamped into the files. Enabling the conf
    // is sticky on the session and harmless: schemas without field-id
    // metadata (every other read) keep matching by name.
    lazy val idReadSchema: org.apache.spark.sql.types.StructType = {
      s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      org.apache.spark.sql.types.StructType(dataFields.map { f =>
        require(f.metadata.contains("delta.columnMapping.id"),
          s"column mapping mode 'id' at $table but field '${f.name}' " +
            "carries no delta.columnMapping.id — refusing rather than " +
            "guessing a column identity")
        org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
            .build())
      })
    }
    def scanGroup(pv: Map[String, String], fs: Seq[AddFile]): DataFrame = {
      val paths = fs.map(f => resolvePath(table, f.path))
      var df =
        if (cmMode == "id") s.read.schema(idReadSchema).parquet(paths: _*)
        else graft.Tables.parquet(s, paths: _*)
      if (withOrdinals) df = df
        .withColumn("__fp",
          regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
        .withColumn("__pos", col("_metadata.row_index"))
      if (cmMode == "name") {
        val cols = dataFields.map(f => col(physName(f.name)).as(f.name)) ++
          (if (withOrdinals) Seq(col("__fp"), col("__pos")) else Nil)
        df = df.select(cols: _*)
      }
      snap.partitionColumns.foreach { c =>
        val dt = schema.get.apply(c).dataType
        val raw = pv.getOrElse(physName(c), pv.getOrElse(c, null))
        df = df.withColumn(c,
          (if (raw == null) lit(null) else lit(raw)).cast(dt))
      }
      df
    }
    if (snap.partitionColumns.isEmpty) scanGroup(Map.empty, adds)
    else adds.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pv, fs) => scanGroup(pv, fs) }
      .reduce(_ unionByName _)
  }
}
