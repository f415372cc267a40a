package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{IngestFixtures, TextSources}

/** j1/j2: oracle-checked ingest audits over the REAL file-format
  * sources (TextSources). Each reads its fixture corpus — clean rows
  * plus rule-planted torn lines (IngestFixtures) — and folds the
  * whole ingest into ONE conditional aggregate over ONE scan (the q26
  * shape): clean/quarantine counts plus content sums the DuckDB
  * oracle recomputes from the documents table and the same doc_id
  * tearing rule. `text_fold` is the engine-portable md5-hex fold
  * (t4's family, 8 hex digits so a corpus-wide sum stays far inside
  * int64), proving the parsed TEXT round-tripped byte-exactly, not
  * just that row counts line up.
  */
object IngestQueries {

  /** Portable 32-bit content fold: first 8 hex digits of md5. */
  private def fold32(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def audit(df: DataFrame,
      extra: org.apache.spark.sql.Column*): DataFrame = {
    val clean = col("_corrupt_record").isNull
    val aggs = Seq(
      count(when(clean, 1)).as("n_clean"),
      count(when(!clean, 1)).as("n_quarantine"),
      sum(when(clean, col("doc_id"))).as("sum_doc_id"),
      sum(when(clean, col("n_chars"))).as("sum_n_chars"),
      sum(when(clean, fold32(col("text")))).as("text_fold")) ++ extra
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** j1: JSONL ingest audit — text + from_json computed corrupt
    * column (see TextSources.readJsonl for why not the JSON source).
    */
  def jsonlIngest(s: SparkSession, dir: String): DataFrame =
    audit(TextSources.readJsonl(s, IngestFixtures.ensureJsonl(s, dir)))

  /** j2: CSV ingest audit — RFC-4180 multiLine with the PERMISSIVE
    * corrupt column; referencing the corrupt column BESIDE the data
    * columns in one aggregate is the allowed shape (corrupt-only
    * projection off a raw scan is what Spark forbids).
    */
  def csvIngest(s: SparkSession, dir: String): DataFrame =
    audit(TextSources.readCsv(s, IngestFixtures.ensureCsv(s, dir)))

  /** j3: SCHEMA-EVOLUTION ingest audit — the long-lived-table reality
    * every lakehouse handles (Delta/Iceberg schema evolution, parquet
    * `mergeSchema`): an old ingest generation lacks a column later
    * generations carry, and a union read must surface it as null, not
    * fail or silently drop it. Reads the two-generation fixture
    * through the REAL merged-footer path (`mergeSchema=true` — footer
    * reconciliation across files with different physical schemas; the
    * generation id is a hive PARTITION column, so generation filters
    * prune directories). The audit is one grouped aggregate per
    * generation: rows, nulls of the evolved column, its sum, and the
    * shared column's sum — the DuckDB oracle recomputes all four from
    * the documents table and the generating rule.
    */
  /** j4: ORC ingest audit — the same one-aggregate audit shape as
    * j1/j2 over Spark's native ORC reader (the second columnar
    * production format; stripe stats drive predicate pushdown the
    * way parquet row-group stats do — IngestSpec asserts PushedFilters
    * and a pruned ReadSchema on this scan). `text_fold` proves the
    * text column round-tripped byte-exactly through the ORC
    * writer/reader pair, not just that counts line up.
    */
  /** j5: XML ingest audit — the j1/j2 one-aggregate audit over Spark
    * 4's BUILT-IN row-tagged XML source (the third text container web
    * corpora arrive in — sitemap/feed/wiki-dump shapes): torn rows
    * carry a type-mismatched doc_id and land in `_corrupt_record`
    * (the torn shape that stays row-isolated; see ensureXml for why
    * truncation would not). Same oracle partition rule as j1.
    */
  def xmlIngest(s: SparkSession, dir: String): DataFrame =
    audit(TextSources.readXml(s, s"${IngestFixtures.ensureXml(s, dir)}/corpus.xml"))

  /** j6: GZIP-sharded JSONL ingest audit — the compressed-text path
    * web corpora actually arrive through (Common Crawl ships
    * gzip-sharded WET/WARC). gzip is an UNSPLITTABLE codec: no sync
    * points, so one task decodes one whole file however large it is —
    * at 100 TB the corpus's parallelism IS its shard count, which is
    * why the fixture (and every real crawl) shards. The reader is the
    * identical text+from_json chain as j1 (Hadoop's codec layer
    * decodes `.gz` transparently; the parse logic neither knows nor
    * cares), and `n_files` — counted from the hidden
    * `_metadata.file_path` — pins the shard layout the audit ran
    * over. Same torn-line rule and oracle partition as j1, so the
    * compare proves the compressed bytes round-tripped exactly.
    */
  def gzipIngest(s: SparkSession, dir: String): DataFrame =
    audit(TextSources.readJsonlWithFile(s, IngestFixtures.ensureJsonlGz(s, dir)),
      countDistinct(col("_file")).as("n_files"))

  /** j7: WARC-record container ingest — the multi-record framing web
    * archives ship (Common Crawl WET/WARC). The record boundary is
    * the `WARC/1.0\r\n` magic, handed to the text source as a custom
    * `lineSep`: the SAME Hadoop delimiter-scan machinery that splits
    * lines splits records, so a record-delimited container scan
    * keeps text's parallelism story (unlike j5's rowTag XML, which
    * has no boundary to resync on, or j6's gzip, which has no sync
    * points at all). Within a record, the first `\r\n\r\n` separates
    * the header block from the payload (split with LIMIT 2 — a
    * payload is never scanned for header syntax), and the trailer is
    * exactly the 4-char record terminator.
    *
    * Production WARC readers trust Content-Length over framing; here
    * the two are CROSS-CHECKED per record — a mismatch (the
    * truncated-transfer signature, planted as the torn rule's
    * one-byte length lie) quarantines the record, so the audit's
    * clean side proves framing and declared lengths agree over every
    * surviving byte. Same oracle partition as j1.
    */
  def warcIngest(s: SparkSession, dir: String): DataFrame =
    warcAudit(s, IngestFixtures.ensureWarc(s, dir))

  /** The j7 parse + audit over any WARC path — split out so the spec
    * can drive it over handcrafted malformed containers. */
  private[graft] def warcAudit(s: SparkSession, path: String): DataFrame = {
    val raw = s.read.option("lineSep", "WARC/1.0\r\n")
      .text(path)
      .select(col("value"), col("_metadata.file_path").as("_file"))
      .where(length(col("value")) > 0) // empty pre-magic chunk per shard
    val parts = split(col("value"), "\r\n\r\n", 2)
    // try_element_at, not element_at: a record torn MID-HEADER has no
    // header/payload separator, so parts has one element — the plain
    // accessor would fail the whole audit under ANSI mode (and with
    // ANSI off the null would skip BOTH counters below); here the
    // missing body flows to payload = null → quarantined
    // a torn header yields NO regex match — regexp_extract returns ''
    // and the plain cast THROWS under ANSI; the empty match must
    // become a null field (→ quarantine), not a failed audit
    def hdrLong(pattern: String) = {
      val m = regexp_extract(col("hdr"), pattern, 1)
      when(m === "", lit(null)).otherwise(m).cast("long")
    }
    val rec = raw
      .select(element_at(parts, 1).as("hdr"),
        try_element_at(parts, lit(2)).as("body"), col("_file"))
      .select(
        hdrLong("WARC-Target-URI: \\S*/doc/(\\d+)").as("doc_id"),
        hdrLong("Content-Length: (\\d+)").as("stated_len"),
        expr("substring(body, 1, length(body) - 4)").as("payload"),
        col("_file"))
    // coalesce(false): a null comparison (missing body, unparseable
    // Content-Length) must land in n_quarantine, never in neither
    // counter — n_clean + n_quarantine ≡ record count is the audit's
    // own conservation law
    val clean = coalesce(
      octet_length(col("payload")) === col("stated_len"), lit(false))
    rec.agg(
      count(when(clean, 1)).as("n_clean"),
      count(when(!clean, 1)).as("n_quarantine"),
      sum(when(clean, col("doc_id"))).as("sum_doc_id"),
      sum(when(clean, length(col("payload")))).as("sum_n_chars"),
      sum(when(clean, fold32(col("payload")))).as("text_fold"),
      countDistinct(col("_file")).as("n_files"))
  }

  /** j8: MULTILINE JSON-ARRAY ingest audit — the whole-file container
    * (API dumps, exports: one JSON array per shard) closing the
    * text-container matrix beside JSONL (line-split), CSV, XML
    * (rowTag), gzip (codec-bound) and WARC (record-delimited). The
    * array has no line boundary to resync on, so parallelism IS the
    * shard count (the j5/j6 reality, stated by pinning n_files) and
    * the torn shape is the type-mismatch rule — a truncated bracket
    * would swallow the whole shard, exactly as j5's scaladoc rejects.
    *
    * Quarantine keys on the TYPE-NULLED field, not `_corrupt_record`:
    * in multiLine mode the malformed input UNIT is the file, so Spark
    * stamps the whole file's text into `_corrupt_record` on EVERY row
    * of a shard containing one bad record (measured, spec-asserted) —
    * file-grain blame, record-grain parse. A torn record surfaces as
    * `doc_id IS NULL` (its fields still parse where typable), which
    * is the per-record signal; the same rule partitions the oracle.
    * Same audit sums as j1 over the clean side.
    */
  def jsonArrayIngest(s: SparkSession, dir: String): DataFrame = {
    val clean = col("doc_id").isNotNull
    TextSources.readJsonArray(s, IngestFixtures.ensureJsonArray(s, dir))
      .select(col("*"), col("_metadata.file_path").as("_file"))
      .agg(
        count(when(clean, 1)).as("n_clean"),
        count(when(!clean, 1)).as("n_quarantine"),
        sum(when(clean, col("doc_id"))).as("sum_doc_id"),
        sum(when(clean, col("n_chars"))).as("sum_n_chars"),
        sum(when(clean, fold32(col("text")))).as("text_fold"),
        countDistinct(col("_file")).as("n_files"))
  }

  /** j9: AVRO object-container ingest audit — the Kafka/schema-
    * registry wire format's at-rest container, closing the binary
    * half of the container matrix (parquet j3, ORC j4, and now the
    * row-major third). Avro is the matrix's SPLITTABLE binary member:
    * 16-byte sync markers between blocks mean any byte offset resyncs
    * to a block boundary — AvroContainer.readSplit implements
    * Hadoop's split contract plus a recovery arm, and IngestSpec
    * proves the union over randomized split boundaries reproduces the
    * whole file (j7's split-size-invariance discipline, now on a
    * binary container).
    *
    * The torn shape is a CORRUPT BLOCK (header varints overwritten —
    * the bit-rot/truncated-transfer signature binary files actually
    * suffer): the reader quarantines exactly that block and resyncs,
    * so the clean side is every OTHER block's records — block-grain
    * quarantine where gzip loses the rest of the member and multiLine
    * JSON (j8) blames the whole file. `n_bad_blocks` counts blocks,
    * not records: a corrupt block's record count is stated only by
    * its own untrusted header, so block-grain is the honest
    * accounting unit (stated, and priced into the oracle as the
    * planted rule's row range). This reader decodes file-grain here
    * (binaryFile source; one task per shard like j6/j8 — at
    * production scale the same readSplit loop rides Hadoop splits so
    * ONE 10 GB shard fans out across tasks); the audit is j1's
    * one-aggregate fold over the clean records.
    */
  def avroIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = IngestFixtures.ensureAvro(s, dir)
    val clean = col("doc_id").isNotNull
    s.read.format("binaryFile").load(s"$path/*.avro")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val r = graft.sources.AvroContainer.readSplit(bytes, 0L, bytes.length.toLong)
        r.docs.map { case (id, text, _, _, nc) =>
          (p, Option(id), Option(text), Option(nc)) } ++
          Vector.fill(r.badBlocks)((p, None: Option[Long], None: Option[String], None: Option[Long]))
      }
      .toDF("_file", "doc_id", "text", "n_chars")
      .agg(
        count(when(clean, 1)).as("n_clean"),
        count(when(!clean, 1)).as("n_bad_blocks"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(when(clean, fold32(col("text")))).as("text_fold"),
        countDistinct(col("_file")).as("n_files"))
  }

  /** j10: DELTA LAKE table read — open-table-format interop through
    * [[graft.sources.DeltaTable]]'s protocol-1 log replay (checkpoint
    * base + JSON commits, last action per path wins). The fixture's
    * three commits make every replay rule load-bearing: the v0 commit
    * JSON is aged out (checkpoint reading is mandatory, not an
    * optimization), v2 removes a file a naive reader would
    * double-count, and the audit pins the ACTIVE FILE COUNT from the
    * hidden `_metadata.file_path` so a replay that resurrects or
    * loses a file diverges even when the row sums happen to agree.
    * The oracle recomputes the snapshot from the documents table and
    * the fixture's generating rules (base corpus + reinserted torn
    * docs), so the hash proves log replay → scan end to end.
    */
  def deltaRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDelta(s, dir)
    val version = graft.sources.DeltaTable.latestVersion(table)
    graft.sources.DeltaTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(version).as("snapshot_version"), col("*"))
  }

  /** j11: ICEBERG v1 table read — the second open-table format,
    * through [[graft.sources.IcebergTable]]'s self-contained snapshot
    * resolution (version-hint → metadata JSON → manifest-list Avro →
    * manifest Avro → status-filtered data files; contrast j10's
    * incremental Delta log replay). The fixture's s2 carries an
    * explicit DELETED entry for shard 1 beside EXISTING survivors —
    * a reader that treats status as decoration double-counts the
    * shard and n_files diverges; the reinserted-doc append proves the
    * multi-manifest union. Oracle recomputes the s2 snapshot from the
    * documents table and the generating rules.
    */
  def icebergRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureIceberg(s, dir)
    val snap = graft.sources.IcebergTable.snapshot(table)
    graft.sources.IcebergTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(snap.snapshotId).as("snapshot_id"), col("*"))
  }

  /** j12: DELTA CHANGE FEED derived from a foreign writer's commits —
    * incremental consumption of a Delta table WITHOUT the writer
    * having enabled `delta.enableChangeDataFeed` (Delta's
    * `table_changes` needs the opt-in and its `_change_data` write
    * amplification; [[graft.sources.DeltaTable.changes]] derives the
    * identical row-level feed from the commits' toggled files — the
    * SnapshotTable.changes algebra on the foreign log). The fixture's
    * v1 "correction" commit plants all four change classes by rule
    * (deletes, update pre+post pairs, inserts, byte-identical carries
    * that must CANCEL in the multiset diff), and the oracle
    * recomputes the per-class census from the documents table — an
    * uncancelled carry, a mis-keyed image, or a lost class diverges
    * the hash. r14: the fixture is PARTITIONED (shard = doc_id % 4,
    * a log-only column the diff must reconstitute) and the range
    * covers v2, a pure-compaction commit that must contribute ZERO
    * rows — the oracle is unchanged precisely because compaction is
    * invisible to CDC.
    */
  def deltaChanges(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaCdc(s, dir)
    graft.sources.DeltaTable.changes(s, table, 0L, 2L, Seq("doc_id"))
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"))
      .orderBy(col("change_type"))
  }

  /** j13: ICEBERG v2 MERGE-ON-READ — position deletes subtracted at
    * scan time ([[graft.sources.IcebergTable.read]]'s
    * `_metadata.row_index` anti-join): the delete manifest's single
    * (file_path, pos) parquet removes the planted within-shard
    * positions while every data FILE stays live — the audit pins
    * n_files at the full shard count precisely to prove deletion
    * happened at ROW grain, the j11 contrast (there a delete retires
    * a whole file). The oracle recomputes positions with a per-shard
    * row_number (the j9 position discipline), so an off-by-one in the
    * ordinal join, an unapplied delete file, or an over-applied
    * position diverges the hash.
    */
  def icebergV2Read(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureIcebergV2(s, dir)
    val snap = graft.sources.IcebergTable.snapshot(table)
    graft.sources.IcebergTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(snap.snapshotId).as("snapshot_id"), col("*"))
  }

  /** j14: DELTA DELETION VECTORS — merge-on-read row deletes via the
    * descriptor on the `add` action ([[graft.sources.DeltaDv]]): the
    * v1 commit re-adds three shard files with DVs (two packed in one
    * sidecar at different offsets, one inline z85) while the DATA
    * files stay byte-identical — deletion is metadata-only, so a
    * reader that ignores the descriptor resurrects every deleted row.
    * The scan subtracts the decoded ordinals through the same
    * `_metadata.row_index` anti-join as Iceberg position deletes
    * (j13); n_files pins the FULL shard count to prove row-grain
    * deletion. Oracle recomputes positions with the per-shard
    * row_number discipline.
    */
  def deltaDvRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaDv(s, dir)
    val version = graft.sources.DeltaTable.latestVersion(table)
    graft.sources.DeltaTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(version).as("snapshot_version"), col("*"))
  }

  /** j15: ICEBERG EQUALITY DELETES — the Flink-CDC upsert shape:
    * deletes name column VALUES (field ids via the schema map), and
    * the spec's sequence scoping (strictly-smaller data sequence)
    * keeps a same-commit re-insert of the SAME key alive. The fixture
    * deletes the torn-rule doc_ids from the seq-1 shards while
    * re-inserting them with n_chars+1000 at seq 2 — an unscoped
    * implementation deletes its own re-inserts and the hash diverges
    * by exactly the re-inserted rows. n_files pins all five data
    * files live (row-grain deletion, the j11 contrast again).
    */
  def icebergEqRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureIcebergEq(s, dir)
    val snap = graft.sources.IcebergTable.snapshot(table)
    graft.sources.IcebergTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(snap.snapshotId).as("snapshot_id"), col("*"))
  }

  /** j16: DV-AWARE DERIVED CDC — the change feed over a
    * deletion-vector Delta table (composing j12's file-diff algebra
    * with j14's DV read path): a DV commit re-adds the SAME file
    * path with a grown bitmap, so a plain path diff sees nothing —
    * instead, a path whose DV differs between endpoints counts as
    * toggled on both sides, each side reading through ITS OWN
    * snapshot's DV, and the multiset diff surfaces exactly the
    * newly-deleted rows. v1 = the DV-introduction commit (three
    * shards' first deletions), v2 = shard 0's REPLACEMENT bitmap
    * growing from `ridx%5==2` to `∪ ridx%3==1` — the feed must emit
    * only the delta (`%3==1` minus the already-deleted `%5==2`),
    * never re-emit v1's deletions. All rows classify as deletes (a
    * DV can only remove); the oracle recomputes both generations
    * from the ordinal rules.
    */
  def deltaDvChanges(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaDvCdc(s, dir)
    graft.sources.DeltaTable.changes(s, table, 0L, 2L, Seq("doc_id"))
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"))
      .orderBy(col("version"), col("change_type"))
  }

  /** j17: DELTA DATA SKIPPING — the foreign-table twin of g44's
    * file-stats pruning, read from the `add.stats` JSON real writers
    * attach: a [20, 70] probe over range-clustered bucket files must
    * open only the intersecting stat'd files plus the one
    * deliberately stat-LESS file (the conservative-keep witness —
    * IngestSpec pins the exact inputFiles set); the oracle checks the
    * VALUES, exactly how skipping slots under the engine's own
    * filter (a wrong prune loses rows and diverges the hash, an
    * over-keep only wastes IO).
    */
  def deltaSkippingRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaStats(s, dir)
    graft.sources.DeltaTable.readPruned(s, table, "doc_id", 20L, 70L)
      .filter(col("doc_id").between(20, 70))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"))
  }

  /** j19: ICEBERG MANIFEST STATS SKIPPING — the j17 twin for the
    * second format, and Iceberg's PRIMARY pruning lever (spec
    * "Manifests": per-file `lower_bounds`/`upper_bounds`, consulted
    * at scan planning so a range probe opens only intersecting
    * files): a [20, 70] probe over range-clustered bucket files must
    * open only the two intersecting stat'd buckets plus the one
    * deliberately bounds-LESS bucket (the conservative-keep witness —
    * IngestSpec pins the exact prunedFiles set for two probes); the
    * oracle checks the VALUES, because pruning is a superset scan
    * under the caller's own predicate — a wrong prune loses rows and
    * diverges the hash, an over-keep only wastes IO.
    */
  def icebergSkippingRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureIcebergStats(s, dir)
    graft.sources.IcebergTable.readPruned(s, table, "doc_id", 20L, 70L)
      .filter(col("doc_id").between(20, 70))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"))
  }

  /** j21: DELTA EXPORT — write-side interop, the inverse of j10: a
    * [[graft.sources.SnapshotTable]] version publishes as a minimal
    * protocol-(1,2) Delta table (commit JSON + adds + schemaString +
    * per-file stats from footers and sidecars) and is read back by
    * THIS ENGINE'S OWN Delta reader, closing the read↔write loop
    * inside the repo: a curated result handed downstream as a table
    * commit, not a bare parquet directory. The census (rows, sums,
    * text fold, file count) must match the source corpus exactly —
    * a lost file, a torn copy, or a mangled schemaString diverges
    * the hash. Copy-mode here (self-contained table); the zero-copy
    * absolute-path mode and the stats-skipping hand-off are spec
    * territory (IngestSpec).
    */
  /** j23: DELTA LOG EXPORT — the history-preserving upgrade of j21:
    * the snapshot table's whole VERSION CHAIN publishes as a Delta
    * log (commit v per snapshot version, adds for new files, removes
    * for dropped), so a downstream consumer does not just read the
    * latest state — it TIME-TRAVELS every version and CDC-consumes
    * the table. Proven the strongest way available: this engine's
    * OWN derived change feed (j12's DeltaTable.changes) runs over the
    * EXPORTED log and must reproduce the snapshot history's change
    * classes exactly — v1's appended odd docs as inserts, v2's
    * replace-dropped doc_id ≥ 200 as deletes with every carried row
    * cancelled. Tail idempotence (re-export appends only new
    * versions; replays are no-ops via exclusive link) is spec
    * territory.
    */
  def deltaLogExportRead(s: SparkSession, dir: String): DataFrame = {
    val root = IngestFixtures.ensureDeltaLogExport(s, dir)
    graft.sources.DeltaTable.changes(s, s"$root/delta", 0L, 2L, Seq("doc_id"))
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"))
      .orderBy(col("version"), col("change_type"))
  }

  /** j22: ICEBERG EXPORT — j21's twin for the second format, closing
    * write-side interop for BOTH table formats the engine reads: a
    * SnapshotTable version publishes as a minimal Iceberg v1 Hadoop
    * table (manifest list → manifest → ADDED entries with footer
    * record counts and sidecar-derived lower/upper bounds, schema
    * with positional field ids, version-hint commit pointer) and is
    * read back by THIS ENGINE'S OWN Iceberg reader. Same census
    * contract as j21; the exported bounds driving j19's prunedFiles
    * downstream is spec territory (IngestSpec).
    */
  def icebergExportRead(s: SparkSession, dir: String): DataFrame = {
    val root = IngestFixtures.ensureIcebergExport(s, dir)
    graft.sources.IcebergTable.read(s, s"$root/iceberg")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
  }

  def deltaExportRead(s: SparkSession, dir: String): DataFrame = {
    val root = IngestFixtures.ensureDeltaExport(s, dir)
    graft.sources.DeltaTable.read(s, s"$root/delta")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
  }

  /** j20: DELTA COLUMN MAPPING, ID MODE — what spark-delta writes
    * after certain schema evolutions (PROTOCOL.md "Column Mapping"):
    * data columns resolve by PARQUET FIELD ID through Spark's native
    * field-id reader, the file's column names are UNTRUSTED (the
    * fixture names them after the WRONG columns' physicalNames, the
    * post-rename shape — name matching would swap doc_id into text
    * and diverge every aggregate), and partitionValues key on the
    * partition column's PHYSICAL name. The per-lang census makes the
    * partition reconstitution load-bearing: a reader that dropped or
    * mis-keyed `col-l03` loses the group column and the hash
    * diverges. Same one-kernel discipline as j10/j17 — IngestSpec
    * proves none/name/id tables all read through readAdds.
    */
  def deltaCmIdRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaCmId(s, dir)
    graft.sources.DeltaTable.read(s, table)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        sum(fold32(col("source"))).as("source_fold"))
      .orderBy(col("lang"))
  }

  /** j18: DELTA V2 CHECKPOINTS — the UUID-named checkpoint whose
    * `sidecar` rows delegate the add/remove state to parquet files
    * under `_delta_log/_sidecars/` (the shape modern writers emit
    * beside deletion vectors), with `checkpointMetadata.version`
    * integrity-checked against the file name. Both pre-checkpoint
    * commit JSONs are aged out, so resolving ANY version must
    * assemble main + sidecars — a reader that ignores sidecar rows
    * sees an EMPTY add state and fails loudly rather than
    * miscounting; one that reads only one sidecar loses two shards
    * and diverges the hash. Same audit + oracle shape as j10 (the
    * logical history is identical — only the checkpoint ENCODING
    * changed, which is the point).
    */
  def deltaV2cpRead(s: SparkSession, dir: String): DataFrame = {
    val table = IngestFixtures.ensureDeltaV2cp(s, dir)
    val version = graft.sources.DeltaTable.latestVersion(table)
    graft.sources.DeltaTable.read(s, table)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"),
        countDistinct(col("_metadata.file_path")).as("n_files"))
      .select(lit(version).as("snapshot_version"), col("*"))
  }

  def orcIngest(s: SparkSession, dir: String): DataFrame =
    s.read.orc(s"${IngestFixtures.ensureOrc(s, dir)}/data")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_chars")).as("sum_n_chars"),
        sum(fold32(col("text"))).as("text_fold"))

  def schemaEvolution(s: SparkSession, dir: String): DataFrame =
    s.read.option("mergeSchema", "true")
      .parquet(IngestFixtures.ensureEvolution(s, dir))
      .groupBy(col("batch"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("quality").isNull, 1)).as("n_null_quality"),
        coalesce(sum(col("quality")), lit(0L)).as("sum_quality"),
        sum(col("n_chars")).as("sum_n_chars"))
      .orderBy(col("batch"))
}
