package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Minimal TRANSACTIONAL table commit — the atomic-view piece the
  * reference's file-per-tile layout eventually forces (main.rs:272-296
  * writes a file per tile; once g21/g34-style maintenance REWRITES
  * files while readers run, plain directory listings tear: a reader
  * can see half the old files and half the new). This is the core of
  * what Delta's `_delta_log` / Iceberg's metadata tree provide,
  * re-expressed in its minimal correct form:
  *
  *  - DATA files are immutable and WRITE-ONLY: every commit writes new
  *    files under `data/<uuid>/` — nothing is ever modified in place.
  *  - A VERSION is a manifest file `_graft_log/<n>.manifest` listing
  *    exactly the data files visible at that version (absolute paths,
  *    one per line). Manifests are immutable once published.
  *  - PUBLICATION is atomic: the manifest is an exclusive
  *    [[LogStore]] publish, the commit point — a reader either
  *    resolves version n (and reads exactly its files) or does not
  *    see it at all; it can never observe a half-written file list.
  *    On local disk the primitive is link(2) — atomic AND
  *    create-exclusive; on an object store the same seam is a
  *    conditional PUT (If-None-Match), which is why the choice lives
  *    in LogStore alone.
  *  - CONCURRENT writers race on the exclusive publish: link(2)
  *    fails with EEXIST if the target exists, so exactly ONE writer
  *    wins version n; the loser re-reads the latest version and
  *    retries on n+1 (optimistic concurrency — Delta's protocol).
  *  - READERS get SNAPSHOT ISOLATION for free: a reader that resolved
  *    version n keeps a stable list of immutable files however many
  *    commits land afterwards; `readVersion` is time travel.
  *
  * A REPLACE commit (compaction — g34's shape) lists only the new
  * compacted files; an APPEND commit lists the previous version's
  * files plus the new ones. Old data files stay until a vacuum (not
  * modeled — deletion is the one operation that must wait out reader
  * leases).
  *
  * Scale: the manifest is file-count-sized (10^6-10^8 entries at
  * 100 TB — at that point the manifest itself becomes a parquet table
  * and the listing distributed, the same §6 discipline as g8; the
  * COMMIT PROTOCOL — immutable files + atomic pointer swap + version
  * race — is unchanged, which is why it is what this module states).
  */
object SnapshotTable {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")

  private def ls(d: Path): Seq[Path] = LogStore.list(d.toString).map(d.resolve)

  /** Latest committed version, or -1 for an empty table. */
  def latestVersion(table: String): Long =
    LogStore.list(logDir(table).toString)
      .collect { case n if n.endsWith(".manifest") => n.dropRight(9).toLong }
      .foldLeft(-1L)(math.max)

  /** Publish `text` at `p` exclusively; false when `p` already exists. */
  private def publish(p: Path, text: String): Boolean =
    LogStore.publish(p.toString, exclusive = true)(_.write(text.getBytes("UTF-8")))

  /** The immutable file list of `version`. Lines starting with `#`
    * are manifest HEADERS (`#txn:` — the commit's idempotence record,
    * see [[commitOnce]]), not files. */
  def manifest(table: String, version: Long): Seq[String] = {
    val m = logDir(table).resolve(s"$version.manifest")
    require(Files.exists(m), s"no version $version at $table")
    new String(Files.readAllBytes(m), "UTF-8").linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  }

  /** The txnId recorded IN `version`'s manifest header, if the commit
    * was idempotent ([[commitOnce]]). Reads only the first line — the
    * header, when present, leads the file. */
  private def manifestTxnId(table: String, version: Long): Option[String] = {
    val m = logDir(table).resolve(s"$version.manifest")
    if (!Files.exists(m)) return None
    val in = Files.newBufferedReader(m)
    try Option(in.readLine()).filter(_.startsWith("#txn:")).map(_.drop(5))
    finally in.close()
  }

  /** Snapshot-isolated read of a PINNED version (time travel). A
    * version's files never change, so its schema is read once
    * ([[graft.Tables.parquet]]) and later reads start no job. */
  def readVersion(s: SparkSession, table: String, version: Long): DataFrame =
    Tables.parquet(s, manifest(table, version): _*)

  /** Snapshot-isolated read of the latest version at call time. */
  def read(s: SparkSession, table: String): DataFrame = {
    val v = latestVersion(table)
    require(v >= 0, s"empty table $table")
    readVersion(s, table, v)
  }

  /** One optimistic commit: write `df`'s files into a fresh immutable
    * data directory, then publish a manifest for version latest+1
    * exclusively; on losing the version race, re-read the latest
    * and retry. `replace = true` publishes ONLY the new files (the
    * compaction/OPTIMIZE shape); `replace = false` appends them to
    * the previous version's list. Returns the committed version.
    */
  def commit(s: SparkSession, table: String, df: DataFrame,
      replace: Boolean = false, maxRetries: Int = 20,
      statsCols: Seq[String] = Nil, txnId: Option[String] = None): Long = {
    val dataDir = Paths.get(table, "data", java.util.UUID.randomUUID().toString)
    df.write.mode("errorifexists").parquet(dataDir.toString)
    val newFiles = ls(dataDir).map(_.toAbsolutePath.toString)
      .filter(_.endsWith(".parquet")).sorted
    // per-file min/max over the commit's NEW files (one distributed
    // scan, collected at new-file count — commit-grade metadata);
    // stats are a property of the immutable file, so computing before
    // the version race is safe — only the sidecar name needs `v`
    val stats: Seq[String] =
      if (statsCols.isEmpty || newFiles.isEmpty) Nil
      else {
        import org.apache.spark.sql.functions.{col, min, max}
        val aggs = statsCols.flatMap(c =>
          Seq(min(col(c).cast("long")).as(s"mn_$c"),
            max(col(c).cast("long")).as(s"mx_$c")))
        Tables.parquet(s, newFiles: _*)
          .groupBy(col("_metadata.file_path").as("fp"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().toSeq.flatMap { r =>
            // file_path arrives as a file: URI; sidecars key on the
            // manifest's plain absolute path
            val raw = r.getString(0)
            val fp = if (raw.startsWith("file:"))
              new java.net.URI(raw).getPath else raw
            statsCols.zipWithIndex.flatMap { case (c, i) =>
              // an all-NULL column (or one whose cast to long is
              // null) has no min/max — emit NO stats entry for it:
              // readPruned treats missing stats conservatively (the
              // file is kept), whereas a getLong on null would NPE
              // after the data files are already on disk, aborting
              // the commit and orphaning the data dir
              if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
              else Some(s"$fp\t$c\t${r.getLong(1 + 2 * i)}\t${r.getLong(2 + 2 * i)}")
            }
          }
      }
    var attempt = 0
    while (attempt < maxRetries) {
      val prev = latestVersion(table)
      val next = prev + 1
      val files =
        if (replace || prev < 0) newFiles
        else manifest(table, prev) ++ newFiles
      // the txn header rides INSIDE the manifest, so idempotence is
      // atomic with the commit point itself (Delta's txn-action
      // pattern): a crash after the publish below but before any
      // side-channel marker still leaves the txnId discoverable
      val header = txnId.map(t => s"#txn:$t\n").getOrElse("")
      // the commit point: an EXCLUSIVE publish fails if another writer
      // already published this version (a replacing rename would
      // silently REPLACE the winner — the classic lost-commit bug);
      // the loser retries against n+1
      if (publish(logDir(table).resolve(s"$next.manifest"),
          header + files.mkString("\n") + "\n")) {
        // sidecar AFTER the publish: a reader racing the write sees a
        // manifest without stats and stays conservative (keeps the
        // files) — skipping is an optimization, never a correctness
        // dependency
        if (stats.nonEmpty)
          publish(logDir(table).resolve(s"$next.stats.tsv"), stats.mkString("\n") + "\n")
        return next
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"lost the version race $maxRetries times at $table")
  }

  /** Idempotent commit for EXACTLY-ONCE streaming sinks (Delta's
    * txn-appId pattern): `txnId` (e.g. "query-7/epoch-12") publishes
    * an exclusive marker `_graft_log/txn/<txnId>` BEFORE the version
    * race; a replay of the same epoch (foreachBatch's at-least-once
    * contract — crash between sink write and offset commit) finds the
    * marker and returns the already-committed version WITHOUT writing.
    * The idempotence record is ATOMIC with the commit: the txnId is
    * written as a `#txn:` HEADER inside the manifest itself, so the
    * publish of the version IS the transaction record —
    * there is no window where the epoch is committed but unrecorded.
    * The side-channel marker `_graft_log/txn/<txnId>` remains as a
    * fast path (O(1) lookup, and it survives vacuum where old
    * manifests do not); when the marker is missing the replay scans
    * retained manifest HEADERS (first line of each — commit-grade
    * metadata) and repairs the marker before returning. A crash
    * between data write and manifest publish still replays as a
    * fresh commit whose orphaned first data dir is unreferenced by
    * any manifest (vacuum reclaims it), never double-counted; a
    * crash between manifest publish and marker write — the window
    * that used to double-apply IVM deltas — now finds the header.
    * `replace = true` publishes the epoch's FULL state instead of
    * appending — the maintained-view shape, where each epoch commits
    * the view's complete next version (EventStreams.ivmSink).
    */
  def commitOnce(s: SparkSession, table: String, df: DataFrame,
      txnId: String, replace: Boolean = false): Long = {
    require(!txnId.contains('/') && txnId.nonEmpty, s"flat txnId required: $txnId")
    val txnDir = logDir(table).resolve("txn")
    val marker = txnDir.resolve(txnId)
    if (Files.exists(marker))
      return new String(Files.readAllBytes(marker), "UTF-8").trim.toLong
    // marker missing ≠ epoch uncommitted: scan manifests' headers
    // newest-first (a replayed epoch is overwhelmingly the LATEST
    // commit). The scan is BOUNDED by the `_covered` watermark —
    // every header-carrying version ≤ covered already has its marker
    // (the invariant below), so a version at or below it would have
    // hit the fast path above. Without the bound, every FRESH txnId
    // (the common case) walked the whole retained history, O(commits)
    // file opens per epoch on a long-lived stream. As the walk
    // visits a headered version it REPAIRS that version's marker, and
    // a walk that reaches the boundary advances the watermark to the
    // latest version it started from — amortized O(new commits since
    // the last walk). Racy watermark updates are monotone-best-effort
    // (an atomic replace; a lost update only re-scans, never skips).
    val coveredFile = txnDir.resolve("_covered")
    val covered: Long =
      if (!Files.exists(coveredFile)) -1L
      else new String(Files.readAllBytes(coveredFile), "UTF-8").trim.toLong
    val scanTop = latestVersion(table)
    var replayed: Option[Long] = None
    var fullWalk = true
    var v = scanTop
    while (replayed.isEmpty && v > covered &&
        Files.exists(logDir(table).resolve(s"$v.manifest"))) {
      manifestTxnId(table, v).foreach { t =>
        publish(txnDir.resolve(t), s"$v\n")
        if (t == txnId) replayed = Some(v)
      }
      v -= 1L
    }
    if (replayed.nonEmpty) fullWalk = false
    if (fullWalk && scanTop > covered)
      LogStore.publish(coveredFile.toString, exclusive = false)(
        _.write(s"$scanTop\n".getBytes("UTF-8")))
    val committed = replayed.getOrElse(
      commit(s, table, df, replace = replace, txnId = Some(txnId)))
    publish(marker, s"$committed\n")
    new String(Files.readAllBytes(marker), "UTF-8").trim.toLong
  }

  /** Audit record of one [[merge]]: which files the new version
    * carries by reference, which it rewrote, which it added. */
  final case class MergeStats(version: Long, carried: Seq[String],
    rewritten: Seq[String], added: Seq[String])

  /** MERGE INTO — the copy-on-write upsert (Delta MERGE / Iceberg
    * copy-on-write): `source` rows UPDATE table rows sharing their
    * `keyCols` key and INSERT where no key matches. The file-pruning
    * contract is the point: only data files that CONTAIN a matched
    * key are rewritten — every other file carries into the new
    * manifest BY REFERENCE (path-identical, bytes untouched), so a
    * 10-row upsert against a 100 TB table rewrites the handful of
    * files holding those 10 keys, never the table. Matched-file
    * discovery is one distributed semi-join of the table's keys
    * (with the hidden `_metadata.file_path` column) against the
    * distinct source keys; the rewrite joins ONLY the affected
    * files' rows full-outer with the source (matched → source row,
    * unmatched-in-file → carried row, unmatched source → insert).
    * The affected-file list is driver-side manifest-scale metadata —
    * the same bound every manifest operation here accepts (§6: at
    * 10^8 files the manifest becomes a parquet table and this list a
    * frame; the protocol is unchanged).
    *
    * Publication races exactly like [[commit]]; a loser recomputes
    * against the new latest (optimistic read-modify-write — the
    * orphaned data dir of the losing attempt is unreferenced by any
    * manifest and vacuum reclaims it).
    *
    * Contracts enforced up front (each would otherwise corrupt rows
    * SILENTLY, the worst failure class a table protocol has):
    *  - `source` must carry AT MOST ONE row per key — a duplicated
    *    source key would fan each matched target row out through the
    *    full-outer join, duplicating table rows (Delta MERGE raises
    *    the same error on multi-match).
    *  - `source` is materialized ONCE (cache + count) before use:
    *    merge evaluates it in three separate jobs (duplicate-key
    *    guard, affected-file discovery, rewrite+write), and a
    *    non-deterministic source (rand(), a re-read mutable path)
    *    that drifted between them would classify files as carried
    *    whose keys the rewrite then also inserts — stale-beside-new
    *    duplicates the path-drift require cannot see.
    *  - The affected-file set is a DRIVER-side Set bounded by the
    *    manifest (Delta's planner holds the same list). At 10^6 files
    *    of ~100 chars this is ~100 MB of driver heap — acceptable; a
    *    10^8-file table is past the point where the manifest itself
    *    must become a table (§6) and this collect a frame. The cap is
    *    `spark.graft.merge.maxAffectedFiles` (default 10^6) so the
    *    line item fails LOUDLY instead of OOMing the driver.
    */
  def merge(s: SparkSession, table: String, source: DataFrame,
      keyCols: Seq[String], maxRetries: Int = 20): MergeStats = {
    import org.apache.spark.sql.functions._
    // pin the source ONCE: all three downstream jobs must see the
    // same rows (determinism contract above)
    val src = source.cache()
    try {
      val srcCnt = src.count()
      val keyCnt = src.select(keyCols.map(col): _*).distinct().count()
      require(keyCnt == srcCnt,
        s"merge source has duplicate keys (${srcCnt - keyCnt} extra rows " +
          s"over $keyCnt distinct keys) — one row per key required, as Delta MERGE")
      val maxAffected = s.conf.getOption("spark.graft.merge.maxAffectedFiles")
        .map(_.toLong).getOrElse(1000000L)
      var attempt = 0
      while (attempt < maxRetries) {
        val base = latestVersion(table)
        require(base >= 0, s"empty table $table: commit a base before merging")
        val files = manifest(table, base)
        val cur = Tables.parquet(s, files: _*)
        val srcKeys = src.select(keyCols.map(col): _*).distinct()
        val affected = cur
          .select(keyCols.map(col) :+ col("_metadata.file_path").as("_file"): _*)
          .join(srcKeys, keyCols, "left_semi")
          .select(col("_file")).distinct()
          .limit((maxAffected + 1).min(Int.MaxValue).toInt)
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
        require(affected.size <= maxAffected,
          s"merge touches > $maxAffected files — past the driver-side " +
            "manifest bound; raise spark.graft.merge.maxAffectedFiles or " +
            "promote the manifest to a table (§6)")
        // LOUD contract: every affected path must resolve back to a
        // manifest entry — a path-normalization mismatch here would
        // otherwise silently classify matched files as carried and
        // duplicate their keys (update becomes insert-beside-stale)
        require(affected.subsetOf(files.toSet),
          s"affected files not in manifest (path-form drift): " +
            (affected -- files.toSet).take(3).mkString(", "))
        val (rewrite, carry) = files.partition(affected.contains)
        val touched =
          if (rewrite.nonEmpty) Tables.parquet(s, rewrite: _*) else cur.limit(0)
        // project in the TABLE's column order, not keys-first: a later
        // manifest diff (changeStep) compares rewritten files against
        // carried ones positionally, so a merge must never reorder the
        // physical schema
        val merged = touched.as("t")
          .join(src.withColumn("_s", lit(true)).as("s"), keyCols, "full_outer")
          .select(cur.columns.toSeq.map(c =>
            if (keyCols.contains(c)) col(c)
            else when(col("s._s").isNotNull, col(s"s.$c"))
              .otherwise(col(s"t.$c")).as(c)): _*)
        val dataDir = Paths.get(table, "data", java.util.UUID.randomUUID().toString)
        merged.write.mode("errorifexists").parquet(dataDir.toString)
        val added = ls(dataDir).map(_.toAbsolutePath.toString)
          .filter(_.endsWith(".parquet")).sorted
        val next = base + 1
        if (publish(logDir(table).resolve(s"$next.manifest"),
            (carry ++ added).mkString("\n") + "\n"))
          return MergeStats(next, carry, rewrite, added)
        attempt += 1
      }
      throw new IllegalStateException(
        s"lost the merge race $maxRetries times at $table")
    } finally src.unpersist()
  }

  /** CHANGE DATA FEED — row-level changes between two committed
    * versions (Delta's `table_changes` / Iceberg's incremental read),
    * derived entirely from MANIFEST DIFFS: per consecutive commit,
    * only the files the manifest TOGGLED are read (a merge's carried
    * files — the overwhelming majority of a 100 TB table — are never
    * opened), and the carried rows INSIDE rewritten files cancel in a
    * multiset `exceptAll`, so the surviving frame is exactly the
    * changed rows however the writer laid out its files. Change
    * classification is by key presence on the opposite side: a key on
    * both sides is an update (pre + post images), a post-only key an
    * insert, a pre-only key a delete — Delta's four `_change_type`
    * values, each row stamped with the `_commit_version` that
    * produced it.
    *
    * This is the READ-side primitive that makes downstream pipelines
    * incremental: a consumer that processed version `fromV` catches
    * up to `toV` by processing |changes| rows, never by re-reading
    * the table. Cost ∝ toggled files per commit — an append diffs
    * only its new files, a merge its rewritten ones; a full REPLACE
    * legitimately diffs everything (every file toggles), which is
    * what a rewrite-the-world commit costs any CDC system.
    */
  def changes(s: SparkSession, table: String, fromV: Long, toV: Long,
      keyCols: Seq[String], cache: Boolean = true): DataFrame = {
    require(0 <= fromV && fromV < toV && toV <= latestVersion(table),
      s"bad change range [$fromV, $toV] at $table (latest ${latestVersion(table)})")
    (fromV until toV).map(v => changeStep(s, table, v, v + 1, keyCols, cache))
      .reduce(_ unionByName _)
  }

  /** One commit's changes: manifest diff → toggled files → multiset
    * row diff → key-classified change rows. `cache = false` keeps the
    * diff frames as plain scans (an InMemoryRelation hides its files
    * from `inputFiles`) — the spec's toggled-files-only assertion
    * needs the uncached plan; execution wants the cache (each side
    * feeds three consumers). */
  private def changeStep(s: SparkSession, table: String, a: Long, b: Long,
      keyCols: Seq[String], cache: Boolean): DataFrame = {
    val ma = manifest(table, a)
    val mb = manifest(table, b)
    fileDiffChanges(s, addedF = mb.filterNot(ma.toSet),
      removedF = ma.filterNot(mb.toSet), keyCols, cache,
      fallback = readVersion(s, table, b).limit(0), commitV = b)
  }

  /** The change-feed core, shared with [[DeltaTable.changes]]: toggled
    * files → multiset row diff → key-classified change rows. */
  private[sources] def fileDiffChanges(s: SparkSession, addedF: Seq[String],
      removedF: Seq[String], keyCols: Seq[String], cache: Boolean,
      fallback: => DataFrame, commitV: Long): DataFrame = {
    // an empty side still needs the schema — take it from the other
    // side's toggled files, so the step's scan set NEVER exceeds the
    // toggled files (spec asserts this on inputFiles); a no-op commit
    // (nothing toggled) falls back to the caller's schema frame
    val toggled = addedF ++ removedF
    def rd(fs: Seq[String]) =
      if (fs.nonEmpty) Tables.parquet(s, fs: _*)
      else if (toggled.nonEmpty) Tables.parquet(s, toggled: _*).limit(0)
      else fallback
    frameDiffChanges(rd(addedF), rd(removedF), keyCols, cache, commitV)
  }

  /** Frame-grain change-feed core ([[DeltaTable.changes]] hands in
    * frames directly when partition columns must be reconstituted
    * from the log before the diff — the data files alone cannot
    * express the row). The frames must each cover EXACTLY the
    * commit's toggled files on their side. */
  private[sources] def frameDiffChanges(added: DataFrame,
      removed: DataFrame, keyCols: Seq[String], cache: Boolean,
      commitV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    // cached at BOTH levels: the scans feed both exceptAll directions
    // (uncached, every toggled file would read twice — at a REPLACE
    // that is two full-table scans where one suffices), and each diff
    // output feeds its key frame plus two classification joins
    def trk(df: DataFrame) = if (cache) graft.Caches.track(df) else df
    val addDf = trk(added)
    // exceptAll compares POSITIONALLY — project the removed side to
    // the added side's column order BY NAME, so files written by
    // different producers (or a merge that reordered columns) diff on
    // the same column, not the same position
    val rmDf = trk(removed.select(addDf.columns.toSeq.map(col): _*))
    val post = trk(addDf.exceptAll(rmDf))
    val pre = trk(rmDf.exceptAll(addDf))
    val postK = post.select(keyCols.map(col): _*).distinct()
    val preK = pre.select(keyCols.map(col): _*).distinct()
    def tag(df: DataFrame, t: String) = df.withColumn("_change_type", lit(t))
    tag(post.join(preK, keyCols, "left_semi"), "update_postimage")
      .unionByName(tag(post.join(preK, keyCols, "left_anti"), "insert"))
      .unionByName(tag(pre.join(postK, keyCols, "left_semi"), "update_preimage"))
      .unionByName(tag(pre.join(postK, keyCols, "left_anti"), "delete"))
      .withColumn("_commit_version", lit(commitV))
  }

  /** All recorded file stats for `table`: path → column → (min, max).
    * Union of every version's sidecar — stats describe IMMUTABLE
    * files, so later sidecars never contradict earlier ones; sidecars
    * of vacuumed versions may linger and are harmless (their files
    * are in no retained manifest, so no reader asks about them). */
  def fileStats(table: String): Map[String, Map[String, (Long, Long)]] =
    ls(logDir(table)).filter(_.getFileName.toString.endsWith(".stats.tsv"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .filter(_.nonEmpty)
      .map { line =>
        val Array(fp, c, mn, mx) = line.split('\t')
        (fp, c, mn.toLong, mx.toLong)
      }
      .groupBy(_._1)
      .map { case (fp, rows) =>
        fp -> rows.map { case (_, c, mn, mx) => c -> (mn, mx) }.toMap
      }

  /** FILE-STATS DATA SKIPPING — the fourth scan-reduction lever
    * beside static partition pruning (g11), dynamic partition pruning
    * (q75) and the runtime bloom filter (q76), and the one Delta
    * calls data skipping: per-file min/max recorded at COMMIT time
    * (`commit(statsCols = …)`, a manifest-grade sidecar) let a point
    * or range predicate drop whole files at PLANNING time — on a
    * range-clustered 100 TB table a 50-key probe opens the handful of
    * files whose recorded range intersects, never the table. The
    * contract is strictly conservative, in both directions:
    *
    *  - a file with NO recorded stats for `column` is KEPT (a reader
    *    racing a commit, a column added later, a foreign writer — all
    *    degrade to reading, never to wrong answers);
    *  - the returned frame is a SUPERSET scan: the caller applies the
    *    real predicate on top (exactly how Delta/Iceberg skipping
    *    slots under the engine's own filter). Correctness NEVER
    *    depends on the stats — a corrupt sidecar can only change
    *    which files open, and only toward opening more than needed or
    *    fewer rows surviving the caller's filter, both caught by the
    *    oracle because the driver query applies the predicate.
    *
    * Stats are recorded as longs (integer columns — the repo's key
    * discipline); float stats would need the NaN/-0.0 ordering care
    * Delta's JSON stats take and no current table needs.
    */
  def readPruned(s: SparkSession, table: String, column: String,
      lo: Long, hi: Long, version: Long = -1L): DataFrame = {
    val v = if (version < 0) latestVersion(table) else version
    val files = manifest(table, v)
    val stats = fileStats(table)
    val keep = files.filter { f =>
      stats.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // conservative: no stats → read it
      }
    }
    if (keep.isEmpty) readVersion(s, table, v).limit(0)
    else Tables.parquet(s, keep: _*)
  }

  /** VACUUM: delete data files referenced by NO retained manifest.
    * Retention is by version count (`retainLast` manifests keep their
    * files AND their time-travel readability; older manifests are
    * removed too, so a reader can no longer resolve a version whose
    * files are gone — failing loudly at manifest resolution, never
    * silently reading a torn file list). The caller owns the lease
    * discipline: vacuum only past every active reader's pinned
    * version, exactly as Delta's retention window does.
    */
  def vacuum(table: String, retainLast: Int = 2): Long = {
    require(retainLast >= 1, "must retain at least the latest version")
    val latest = latestVersion(table)
    if (latest < 0) return 0L
    val keepFrom = math.max(0L, latest - retainLast + 1)
    val live: Set[String] = (keepFrom to latest)
      .flatMap(v => manifest(table, v)).toSet
    var removed = 0L
    // drop unreferenced data files, then fully-dead data dirs (their
    // _SUCCESS/crc markers with them), then the expired manifests;
    // txn markers stay — idempotence must survive vacuum
    val dataRoot = Paths.get(table, "data")
    ls(dataRoot).foreach { d =>
      if (Files.isDirectory(d)) {
        val (pq, aux) = ls(d).partition(_.toString.endsWith(".parquet"))
        val (dead, alive) = pq.partition(f => !live.contains(f.toAbsolutePath.toString))
        dead.foreach(Files.deleteIfExists(_))
        removed += dead.size
        if (alive.isEmpty) {
          aux.foreach(Files.deleteIfExists(_))
          if (ls(d).isEmpty) Files.deleteIfExists(d)
        }
      }
    }
    (0L until keepFrom).foreach { v =>
      Files.deleteIfExists(logDir(table).resolve(s"$v.manifest"))
    }
    removed
  }
}
