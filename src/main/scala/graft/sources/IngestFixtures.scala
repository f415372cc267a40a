package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Json.jesc
import org.apache.spark.sql.functions._
import graft.{BuildOnce, Tables}
import graft.geo.Fixtures

/** Deterministic JSONL/CSV ingest fixtures — the on-disk corpora the
  * j1/j2 driver queries read through TextSources. Following the §3
  * fixture discipline (rasterBytes, listingSize): every byte derives
  * from the documents table plus doc_id arithmetic, so the DuckDB
  * oracle recomputes the expected result from the TABLE while the
  * Spark side genuinely parses files. Torn lines are planted by rule
  * — `doc_id % TornMod == TornRem` — because the driver corpora ship
  * no corrupt rows; the oracle counts the same rule.
  *
  * JSONL tearing truncates the serialized line at 2/3 length: a JSON
  * object cut before its closing brace can never parse, so the rule
  * is deterministic on BOTH engines without parsing anything. CSV
  * tearing prefixes the doc_id field with a letter (type mismatch →
  * PERMISSIVE corrupt row); an unclosed quote is deliberately NOT
  * used — in multiLine mode it would swallow the following records,
  * making the quarantine count depend on record order.
  */
object IngestFixtures {

  /** Corpus bound: rows with doc_id < DocLimit feed the fixture —
    * bounded driver-side collect for WRITING only, as with the geo
    * fixtures.
    */
  val DocLimit = 400
  val TornMod = 7
  val TornRem = 3

  private def docRows(s: SparkSession, dir: String): Array[(Long, String, String, String, Long)] =
    Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

  /** Build-once frame of every fixture here: `kind`'s root for `dir`,
    * rebuilt in place by `build` when the documents table changes. */
  private def ensure(s: SparkSession, dir: String, kind: String)(build: java.io.File => Unit): String =
    BuildOnce.ensure(s, Fixtures.fixtureRoot(kind, dir), s"$kind v1",
      Seq(s"$dir/documents.parquet"))(out => build(new java.io.File(out)))

  /** RFC-4180 field: always quoted, inner quotes doubled. */
  private def cesc(x: String): String = "\"" + x.replace("\"", "\"\"") + "\""

  /** Ensure the JSONL corpus for `dir`: one object per line; lines for
    * torn doc_ids truncated to 2/3 length; a blank line every 50 docs
    * (shard padding the reader must drop, not quarantine).
    */
  def ensureJsonl(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "jsonl") { root =>
      val sb = new StringBuilder
      rows.zipWithIndex.foreach { case ((id, text, lang, src, nc), i) =>
        val line = s"""{"doc_id":$id,"text":"${jesc(text)}","lang":"${jesc(lang)}","source":"${jesc(src)}","n_chars":$nc}"""
        sb.append(
          if (id % TornMod == TornRem) line.substring(0, math.max(1, line.length * 2 / 3))
          else line)
        sb.append('\n')
        if (i % 50 == 49) sb.append('\n')
      }
      Files.write(Paths.get(root.toString, "corpus.jsonl"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Ensure the GZIP-sharded JSONL corpus for `dir`: the same lines
    * (and torn rule) as [[ensureJsonl]], but compressed and SHARDED —
    * 4 files `shard-k.jsonl.gz` keyed by doc_id mod 4. The sharding
    * is the point, not a convenience: gzip is an UNSPLITTABLE codec
    * (no sync points — one whole-file stream per task however large
    * the file), so a gz corpus's parallelism IS its file count. This
    * is how web corpora actually arrive (Common Crawl WET/WARC is
    * gzip-member-sharded for exactly this reason).
    */
  def ensureJsonlGz(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "jsonlgz") { root =>
      (0 until 4).foreach { shard =>
        val sb = new StringBuilder
        rows.filter(_._1 % 4 == shard).foreach { case (id, text, lang, src, nc) =>
          val line = s"""{"doc_id":$id,"text":"${jesc(text)}","lang":"${jesc(lang)}","source":"${jesc(src)}","n_chars":$nc}"""
          sb.append(
            if (id % TornMod == TornRem) line.substring(0, math.max(1, line.length * 2 / 3))
            else line)
          sb.append('\n')
        }
        val gz = new java.util.zip.GZIPOutputStream(
          Files.newOutputStream(Paths.get(root.toString, s"shard-$shard.jsonl.gz")))
        try gz.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        finally gz.close()
      }
    }
  }

  /** Ensure the headered CSV corpus for `dir`: quoted string fields;
    * torn doc_ids carry a non-numeric doc_id (type mismatch → the
    * PERMISSIVE corrupt column), never an unclosed quote.
    */
  def ensureCsv(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "csv") { root =>
      val sb = new StringBuilder("doc_id,text,lang,source,n_chars\n")
      rows.foreach { case (id, text, lang, src, nc) =>
        val idField = if (id % TornMod == TornRem) s"t$id" else id.toString
        sb.append(idField).append(',').append(cesc(text)).append(',')
          .append(cesc(lang)).append(',').append(cesc(src)).append(',')
          .append(nc).append('\n')
      }
      Files.write(Paths.get(root.toString, "corpus.csv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Ensure the SCHEMA-EVOLUTION parquet corpus for `dir`: two ingest
    * generations under one hive-partitioned root — `batch=0` carries
    * the v1 schema (doc_id, lang, n_chars), `batch=1` the evolved v2
    * schema with an added `quality` column (`doc_id·7 mod 100`, the
    * §3 arithmetic rule so the oracle recomputes it from the table).
    * Batch membership = `doc_id mod 2`. Parquet written through the
    * real Spark writer.
    */
  def ensureEvolution(s: SparkSession, dir: String): String =
    ensure(s, dir, "evo") { root =>
      val base = Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
      base.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/batch=0")
      base.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("doc_id") * 7, lit(100)).cast("long").as("quality"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/batch=1")
    }

  /** Ensure the ORC corpus for `dir`: the same doc_id < DocLimit
    * slice written through Spark's native ORC writer (the second
    * production columnar format beside parquet — stripe-indexed,
    * predicate-pushdown-capable). No torn rows: ORC is written
    * binary-whole or not at all; j4's audit proves the byte-exact
    * text round-trip instead (the fold the oracle recomputes from
    * the table).
    */
  /** XML text-node escape (& first, then angle brackets). */
  private def xesc(x: String): String =
    x.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Ensure the row-tagged XML corpus for `dir`: `<doc>` elements
    * under one `<corpus>` root; torn doc_ids carry a non-numeric
    * doc_id (type mismatch → PERMISSIVE corrupt column) — the CSV
    * torn shape, because a TRUNCATED element would swallow every
    * following row into one corrupt record (rowTag scanning has no
    * line boundary to resynchronize on).
    */
  def ensureXml(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "xml") { root =>
      val sb = new StringBuilder
      sb.append("<corpus>\n")
      rows.foreach { case (id, text, lang, src, nc) =>
        val idTxt = if (id % TornMod == TornRem) s"x$id" else id.toString
        sb.append("  <doc><doc_id>").append(idTxt)
          .append("</doc_id><text>").append(xesc(text))
          .append("</text><lang>").append(xesc(lang))
          .append("</lang><source>").append(xesc(src))
          .append("</source><n_chars>").append(nc)
          .append("</n_chars></doc>\n")
      }
      sb.append("</corpus>\n")
      Files.write(Paths.get(root.toString, "corpus.xml"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Ensure the WARC-lite corpus for `dir`: real WARC/1.0 record
    * framing (`WARC/1.0\r\n` magic, `Name: value\r\n` headers, blank
    * line, payload, blank line) over the same doc slice — the
    * multi-record container web archives actually ship (Common Crawl
    * WET/WARC). 4 shards keyed by doc_id mod 4, the real corpus
    * layout. The torn shape is a LENGTH-HEADER LIE: torn doc_ids
    * state Content-Length one byte over the true payload length (the
    * truncated-transfer signature) — deterministic for any content,
    * and it makes j7's length cross-check the quarantine gate.
    *
    * Fixture contract (stated, and true of this corpus by the §3
    * derivation): payloads embed neither the record magic nor a CRLF
    * pair, so delimiter-scan framing and Content-Length agree —
    * j7's mismatch counter would catch a violation, not mask it.
    */
  def ensureWarc(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "warc") { root =>
      (0 until 4).foreach { shard =>
        val sb = new StringBuilder
        rows.filter(_._1 % 4 == shard).foreach { case (id, text, _, src, _) =>
          val payloadLen = text.getBytes(StandardCharsets.UTF_8).length
          val stated = if (id % TornMod == TornRem) payloadLen + 1 else payloadLen
          sb.append("WARC/1.0\r\n")
            .append("WARC-Type: response\r\n")
            .append(s"WARC-Target-URI: https://$src/doc/$id\r\n")
            .append(s"Content-Length: $stated\r\n")
            .append("\r\n")
            .append(text)
            .append("\r\n\r\n")
        }
        Files.write(Paths.get(root.toString, s"shard-$shard.warc"),
          sb.toString.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  /** Ensure the MULTILINE JSON-ARRAY corpus for `dir`: each shard is
    * ONE JSON document — an array of doc objects, pretty-printed
    * across lines — the shape API dumps and exports actually ship
    * (vs JSONL's object-per-line). 4 shards keyed by doc_id mod 4:
    * multiLine parsing is whole-file (an array has no line boundary
    * to resync on), so the corpus's parallelism IS its shard count —
    * the j5/j6 discipline. Torn rule = the CSV/XML type-mismatch
    * shape (`t<id>` doc_id → PERMISSIVE corrupt row), never a
    * truncated array: one torn bracket would swallow the whole shard
    * into a single corrupt record.
    */
  def ensureJsonArray(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "jsonarr") { root =>
      (0 until 4).foreach { shard =>
        val sb = new StringBuilder("[\n")
        val mine = rows.filter(_._1 % 4 == shard)
        mine.zipWithIndex.foreach { case ((id, text, lang, src, nc), i) =>
          val idJson = if (id % TornMod == TornRem) s""""t$id"""" else id.toString
          sb.append(s"""  {"doc_id":$idJson,\n   "text":"${jesc(text)}",\n""")
            .append(s"""   "lang":"${jesc(lang)}","source":"${jesc(src)}","n_chars":$nc}""")
          sb.append(if (i < mine.length - 1) ",\n" else "\n")
        }
        sb.append("]\n")
        Files.write(Paths.get(root.toString, s"shard-$shard.json"),
          sb.toString.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  /** Which shard carries the corrupt block, and which block index —
    * constants of the j9 rule, shared with the oracle (shard 2's
    * block 1 = within-shard rows [16, 32) at BlockRecs = 16). */
  val AvroCorruptShard = 2
  val AvroCorruptBlock = 1

  /** Ensure the AVRO object-container corpus for `dir`: 4 shards keyed
    * by doc_id mod 4 (the j6/j7/j8 layout), deflate blocks FORCED at
    * every [[AvroContainer.BlockRecs]] records so block boundaries —
    * and therefore the corrupt-block quarantine unit — are pinned by
    * position, recomputable by the oracle as a within-shard row-number
    * range. Shard [[AvroCorruptShard]]'s block [[AvroCorruptBlock]]
    * then gets its header varints overwritten in place: the torn shape
    * is a malformed BLOCK (the truncated-object-store-transfer /
    * bit-rot signature binary containers actually suffer), not a torn
    * text line — Avro's sync markers make the loss block-grain where
    * gzip would lose the rest of the member.
    */
  def ensureAvro(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "avro") { root =>
      (0 until 4).foreach { shard =>
        val f = new java.io.File(root.toString, s"shard-$shard.avro")
        AvroContainer.write(f, rows.filter(_._1 % 4 == shard))
        if (shard == AvroCorruptShard) AvroContainer.corruptBlock(f, AvroCorruptBlock)
      }
    }
  }

  def ensureOrc(s: SparkSession, dir: String): String =
    ensure(s, dir, "orc") { root =>
      Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").orc(s"$root/data")
    }

  /** Reinsertion offset for the Delta fixture's v1 append — far above
    * any corpus doc_id, so the appended copies are disjoint by key. */
  val DeltaReinsert = 1000000L

  /** Delta-layout table fixture for j10 (public protocol layout —
    * delta.io PROTOCOL.md; read back by [[DeltaTable]]). Three
    * commits exercise every reader-side rule:
    *
    *  - v0: four shard files (`doc_id % 4`), full corpus < DocLimit —
    *    `00…00.json` carries protocol/metaData/4 adds.
    *  - v1: APPEND `file-v1-insert.parquet` — reprocessed copies of
    *    the torn-rule docs (`doc_id % 7 == 3`) keyed `doc_id +
    *    DeltaReinsert`; then `00…01.checkpoint.parquet` (the replayed
    *    v1 state: protocol + metaData + 5 adds) and `_last_checkpoint`.
    *  - v2: COMPACTION-shaped rewrite — remove shard 1's file, add
    *    `file-v2-rewrite.parquet` with the identical rows
    *    (`dataChange: false`); a reader that ignores removes
    *    double-counts shard 1 and its file count diverges.
    *
    * The v0 commit JSON is then DELETED — Delta's metadata cleanup
    * ages out pre-checkpoint commits — so reading ANY version is
    * impossible without the checkpoint: the fixture makes checkpoint
    * reading load-bearing, and time travel to v0 must fail loudly.
    */
  /** One parquet FILE with a stable (table-relative) name: write to a
    * scratch dir, move the single part file to its protocol path. */
  private def writeOneParquet(s: SparkSession, root: java.io.File,
      name: String, rs: Seq[(Long, String, String, String, Long)]): Long = {
    val scratch = new java.io.File(root, ".w_" + name.replace('/', '_'))
    s.createDataFrame(rs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(root, name)
    dest.getParentFile.mkdirs()
    Files.move(part.toPath, dest.toPath)
    Fixtures.deleteRecursively(scratch)
    dest.length()
  }

  def ensureDelta(s: SparkSession, dir: String): String = {
    import s.implicits._
    lazy val rows = docRows(s, dir)
    def writeOne(root: java.io.File, name: String,
        rs: Seq[(Long, String, String, String, Long)]): Long =
      writeOneParquet(s, root, name, rs)
    ensure(s, dir, "delta") { root =>
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      val shards = (0 until 4).map(k => s"file-v0-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val reinserted = rows.toSeq.filter(_._1 % TornMod == TornRem)
        .map { case (id, t, l, src, nc) => (id + DeltaReinsert, t, l, src, nc) }
      val sizes = (shards :+ ("file-v1-insert.parquet" -> reinserted) :+
        ("file-v2-rewrite.parquet" -> shards(1)._2))
        .map { case (n, rs) => n -> writeOne(root, n, rs) }.toMap
      def addJson(name: String, dataChange: Boolean) =
        s"""{"add":{"path":"$name","partitionValues":{},"size":${sizes(name)},"modificationTime":1700000000000,"dataChange":$dataChange}}"""
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"lang","type":"string","nullable":true,"metadata":{}},{"name":"source","type":"string","nullable":true,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}}]}"""
      val metaJson =
        s"""{"metaData":{"id":"graft-delta-fixture","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}"""
      def commit(v: Long, lines: Seq[String]): java.io.File = {
        val f = new java.io.File(log, f"$v%020d.json")
        Files.write(f.toPath,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        f
      }
      val v0 = commit(0L,
        Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          metaJson) ++ shards.map(sh => addJson(sh._1, dataChange = true)))
      commit(1L, Seq(
        """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Append"}}}""",
        addJson("file-v1-insert.parquet", dataChange = true)))
      // checkpoint = the replayed v1 state (protocol, metaData, 5 adds)
      val cpRows =
        CpRow(Some(CpProtocol(1, 2)), None, None, None) +:
        CpRow(None, Some(CpMeta("graft-delta-fixture", rawSchema, Nil)),
          None, None) +:
        (shards.map(_._1) :+ "file-v1-insert.parquet").map(n =>
          CpRow(None, None,
            Some(CpAdd(n, Map.empty, sizes(n), 1700000000000L,
              dataChange = true)), None))
      val cpScratch = new java.io.File(log, ".w_checkpoint")
      cpRows.toDS().coalesce(1).write.mode("overwrite").parquet(cpScratch.toString)
      val cpPart = cpScratch.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(cpPart.toPath,
        new java.io.File(log, f"${1L}%020d.checkpoint.parquet").toPath)
      Fixtures.deleteRecursively(cpScratch)
      Files.write(new java.io.File(log, "_last_checkpoint").toPath,
        """{"version":1,"size":7}""".getBytes(StandardCharsets.UTF_8))
      commit(2L, Seq(
        """{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{}}}""",
        s"""{"remove":{"path":"file-v0-1.parquet","deletionTimestamp":1700000001000,"dataChange":false}}""",
        addJson("file-v2-rewrite.parquet", dataChange = false)))
      // metadata cleanup: the pre-checkpoint commit ages out
      Files.delete(v0.toPath)
    }
  }

  /** Delta-layout CDC fixture for j12 — a foreign writer's
    * "correction" commit with all four change classes planted by
    * rule, so the derived feed is oracle-recomputable. The table is
    * PARTITIONED by `shard` (= doc_id % 4): partition columns live
    * ONLY in the log's `partitionValues` (the data files do not carry
    * them), so the change feed must reconstitute them before the
    * multiset diff — the r13 refusal this fixture now exercises.
    *
    *  - v0: four shard files (`doc_id % 4`), corpus < DocLimit, each
    *    add carrying `partitionValues: {shard: k}`.
    *  - v1: remove shard 1's file; add `file-v1-fix.parquet` carrying
    *    shard 1 MINUS the torn-rule docs (`% 7 == 3` → DELETES) with
    *    `n_chars + 100` where `% 5 == 0` (→ UPDATE pre+post pairs,
    *    every other shard-1 row carried byte-identical → cancels in
    *    the multiset diff); add per-shard `file-v1-new-k.parquet`
    *    files with the reinserted `+DeltaReinsert` torn-rule docs
    *    (→ INSERTS; `DeltaReinsert % 4 == 0`, so a reinserted doc
    *    stays in its original shard partition).
    *  - v2: PURE COMPACTION of shard 2 — remove its file, re-add the
    *    identical rows as `file-v2-compact.parquet` with
    *    `dataChange: false`; the derived feed over this step must be
    *    EMPTY (layout changes are invisible to CDC).
    *
    * No checkpoint and no aged-out commit: the change feed needs
    * every version in the range to resolve.
    */
  def ensureDeltaCdc(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltacdc") { root =>
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      val shards = (0 until 4).map(k => s"file-v0-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val s1 = shards(1)._2
      val fix = s1.filter(_._1 % TornMod != TornRem).map {
        case (id, t, l, src, nc) =>
          (id, t, l, src, if (id % 5 == 0) nc + 100 else nc)
      }
      val ins = rows.toSeq.filter(_._1 % TornMod == TornRem)
        .map { case (id, t, l, src, nc) => (id + DeltaReinsert, t, l, src, nc) }
      val insByShard = (0 until 4).map(k => k ->
        ins.filter(_._1 % 4 == k)).filter(_._2.nonEmpty)
      // partition of each file: v0 shard k → k, fix → 1, new-k → k,
      // compact → 2 (shard is a LOG property, never a data column)
      val files: Seq[(String, Seq[(Long, String, String, String, Long)], Int)] =
        shards.zipWithIndex.map { case ((n, rs), k) => (n, rs, k) } ++
        Seq(("file-v1-fix.parquet", fix, 1)) ++
        insByShard.map { case (k, rs) => (s"file-v1-new-$k.parquet", rs, k) } ++
        Seq(("file-v2-compact.parquet", shards(2)._2, 2))
      val sizes = files.map { case (n, rs, _) =>
        n -> writeOneParquet(s, root, n, rs) }.toMap
      val shardOf = files.map { case (n, _, k) => n -> k }.toMap
      def addJson(name: String, dataChange: Boolean = true) =
        s"""{"add":{"path":"$name","partitionValues":{"shard":"${shardOf(name)}"},"size":${sizes(name)},"modificationTime":1700000000000,"dataChange":$dataChange}}"""
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"lang","type":"string","nullable":true,"metadata":{}},{"name":"source","type":"string","nullable":true,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}},{"name":"shard","type":"long","nullable":true,"metadata":{}}]}"""
      def commit(v: Long, lines: Seq[String]): Unit =
        Files.write(new java.io.File(log, f"$v%020d.json").toPath,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      commit(0L,
        Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"graft-delta-cdc","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":["shard"],"configuration":{},"createdTime":1700000000000}}""") ++
          shards.map(sh => addJson(sh._1)))
      commit(1L, Seq(
        """{"commitInfo":{"operation":"MERGE","operationParameters":{}}}""",
        s"""{"remove":{"path":"file-v0-1.parquet","deletionTimestamp":1700000001000,"dataChange":true}}""",
        addJson("file-v1-fix.parquet")) ++
        insByShard.map { case (k, _) => addJson(s"file-v1-new-$k.parquet") })
      commit(2L, Seq(
        """{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{}}}""",
        s"""{"remove":{"path":"file-v0-2.parquet","deletionTimestamp":1700000002000,"dataChange":false}}""",
        addJson("file-v2-compact.parquet", dataChange = false)))
    }
  }

  /** Within-shard position rules for the j14 DELETION-VECTOR fixture:
    * shards 0 and 2 delete row ordinals `ridx % 5 == DvRem` — their
    * two DVs pack into ONE sidecar file at different offsets, the
    * frame/offset discipline real writers use; shard 1 deletes
    * `ridx % TornMod == TornRem` via an INLINE descriptor (z85 in the
    * JSON itself); shard 3 is untouched. Shards are written
    * doc_id-ascending, so the oracle recomputes ridx with a
    * per-shard row_number (the j13 position discipline). */
  val DvRem = 2

  /** Delta deletion-vector fixture for j14 (delta.io PROTOCOL.md
    * §Deletion Vectors; read back by [[DeltaTable]]/[[DeltaDv]]):
    *
    *  - v0: protocol `minReaderVersion: 3` + `readerFeatures:
    *    ["deletionVectors"]` (the feature-gated shape modern writers
    *    emit), metaData, 4 shard adds — a PRE-DV version, so time
    *    travel to v0 must show every row.
    *  - v1: the DV commit — shards 0/1/2 each re-added (remove + add
    *    of the SAME data path) with a `deletionVector` descriptor;
    *    the data files are untouched, deletion is metadata-only,
    *    which is exactly why ignoring the descriptor resurrects rows.
    */
  def ensureDeltaDv(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltadv")(root => writeDvTable(s, root, rows, gen2 = false))
  }

  /** Second-generation rule for the j16 DV-CDC fixture: shard 0's v2
    * DV GROWS to `ridx % 5 == DvRem || ridx % 3 == 1` — the newly
    * deleted ordinals (`% 3 == 1` minus the already-deleted
    * `% 5 == DvRem`) are exactly what the derived change feed must
    * surface as v2 deletes. */
  def ensureDeltaDvCdc(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltadvcdc")(root => writeDvTable(s, root, rows, gen2 = true))
  }

  /** Shared DV-table writer: v0 plain shards (feature-gated protocol),
    * v1 the DV commit (two sidecar-packed + one inline descriptor);
    * `gen2` adds v2 — shard 0 re-added with a GROWN replacement DV in
    * a new sidecar (DV generations replace, never append). */
  private def writeDvTable(s: SparkSession, root: java.io.File,
      rows: Array[(Long, String, String, String, Long)],
      gen2: Boolean): Unit = {
    {
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      val shards = (0 until 4).map(k => s"file-v0-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val sizes = shards.map { case (n, rs) =>
        n -> writeOneParquet(s, root, n, rs) }.toMap
      def posOf(n: Int, rule: Int => Boolean): Seq[Long] =
        (0 until n).collect { case i if rule(i) => i.toLong }
      val dv0 = posOf(shards(0)._2.size, _ % 5 == DvRem)
      val dv2 = posOf(shards(2)._2.size, _ % 5 == DvRem)
      val dv1 = posOf(shards(1)._2.size, i => i % TornMod == TornRem)
      // one sidecar packs shard 0's and shard 2's DVs; its name is
      // derived from the z85 UUID in the descriptors, as the reader
      // will re-derive it
      val uuid = new java.util.UUID(0x6772616674647634L, 0x1400000000000001L)
      val ub = java.nio.ByteBuffer.allocate(16)
      ub.putLong(uuid.getMostSignificantBits)
      ub.putLong(uuid.getLeastSignificantBits)
      val encUuid = DeltaDv.z85Encode(ub.array())
      val metas = DeltaDv.writeDvFile(
        new java.io.File(root, s"deletion_vector_$uuid.bin"), Seq(dv0, dv2))
      val inlineBytes = DeltaDv.serializeBitmap(dv1)
      val encInline = DeltaDv.z85EncodePadded(inlineBytes)
      def dvJson(storage: String, payload: String, off: Int, size: Int,
          card: Long): String =
        s""","deletionVector":{"storageType":"$storage","pathOrInlineDv":"$payload"""" +
          (if (off >= 0) s""","offset":$off""" else "") +
          s""","sizeInBytes":$size,"cardinality":$card}"""
      def addJson(name: String, dvField: String = "") =
        s"""{"add":{"path":"$name","partitionValues":{},"size":${sizes(name)},"modificationTime":1700000000000,"dataChange":true$dvField}}"""
      def removeJson(name: String) =
        s"""{"remove":{"path":"$name","deletionTimestamp":1700000001000,"dataChange":true}}"""
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"lang","type":"string","nullable":true,"metadata":{}},{"name":"source","type":"string","nullable":true,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}}]}"""
      def commit(v: Long, lines: Seq[String]): Unit =
        Files.write(new java.io.File(log, f"$v%020d.json").toPath,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      commit(0L,
        Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
          s"""{"metaData":{"id":"graft-delta-dv","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""") ++
          shards.map(sh => addJson(sh._1)))
      commit(1L, Seq(
        """{"commitInfo":{"operation":"DELETE","operationParameters":{}}}""",
        removeJson(shards(0)._1),
        addJson(shards(0)._1,
          dvJson("u", encUuid, metas(0)._1, metas(0)._2, metas(0)._3)),
        removeJson(shards(2)._1),
        addJson(shards(2)._1,
          dvJson("u", encUuid, metas(1)._1, metas(1)._2, metas(1)._3)),
        removeJson(shards(1)._1),
        addJson(shards(1)._1,
          dvJson("i", encInline, -1, inlineBytes.length, dv1.length.toLong))))
      if (gen2) {
        // v2: shard 0's DV grows — the REPLACEMENT bitmap (old ∪ new
        // deletions) ships in a fresh sidecar under a new UUID, the
        // generation discipline real writers follow
        val dv0b = posOf(shards(0)._2.size,
          i => i % 5 == DvRem || i % 3 == 1)
        val uuid2 = new java.util.UUID(0x6772616674647634L, 0x1400000000000002L)
        val ub2 = java.nio.ByteBuffer.allocate(16)
        ub2.putLong(uuid2.getMostSignificantBits)
        ub2.putLong(uuid2.getLeastSignificantBits)
        val encUuid2 = DeltaDv.z85Encode(ub2.array())
        val metas2 = DeltaDv.writeDvFile(
          new java.io.File(root, s"deletion_vector_$uuid2.bin"), Seq(dv0b))
        commit(2L, Seq(
          """{"commitInfo":{"operation":"DELETE","operationParameters":{}}}""",
          removeJson(shards(0)._1),
          addJson(shards(0)._1,
            dvJson("u", encUuid2, metas2(0)._1, metas2(0)._2, metas2(0)._3))))
      }
    }
  }

  /** Bucket width for the j17 Delta data-skipping fixture: file k
    * holds `doc_id ∈ [k*DeltaStatsBucket, (k+1)*DeltaStatsBucket)` —
    * range-clustered, so tight min/max stats prune hard. */
  val DeltaStatsBucket = 50L

  /** Which bucket's add carries NO stats (the conservative-keep
    * witness: it must open on EVERY range probe). */
  val DeltaStatsNoStatsBucket = 3L

  /** Delta DATA-SKIPPING fixture for j17 (delta.io PROTOCOL.md
    * "Per-file Statistics"): one commit, range-clustered bucket
    * files, each add carrying the `stats` JSON real writers attach
    * (`numRecords`/`minValues`/`maxValues` on doc_id) — EXCEPT bucket
    * [[DeltaStatsNoStatsBucket]], whose add has no stats and must be
    * kept by every probe (readPruned's conservative contract). */
  def ensureDeltaStats(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltastats") { root =>
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      val buckets = rows.toSeq.groupBy(_._1 / DeltaStatsBucket).toSeq
        .sortBy(_._1).filter(_._2.nonEmpty)
      val files = buckets.map { case (k, rs) =>
        (k, s"file-bucket-$k.parquet", rs,
          writeOneParquet(s, root, s"file-bucket-$k.parquet", rs))
      }
      def statsJson(rs: Seq[(Long, String, String, String, Long)]): String = {
        val ids = rs.map(_._1)
        s"""{\\"numRecords\\":${rs.size},\\"minValues\\":{\\"doc_id\\":${ids.min}},\\"maxValues\\":{\\"doc_id\\":${ids.max}}}"""
      }
      def addJson(k: Long, name: String,
          rs: Seq[(Long, String, String, String, Long)], size: Long) = {
        val stats = if (k == DeltaStatsNoStatsBucket) ""
          else s""","stats":"${statsJson(rs)}""""
        s"""{"add":{"path":"$name","partitionValues":{},"size":$size,"modificationTime":1700000000000,"dataChange":true$stats}}"""
      }
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"lang","type":"string","nullable":true,"metadata":{}},{"name":"source","type":"string","nullable":true,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}}]}"""
      Files.write(new java.io.File(log, f"${0L}%020d.json").toPath,
        ((Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"graft-delta-stats","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""") ++
          files.map { case (k, n, rs, sz) => addJson(k, n, rs, sz) })
          .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Delta V2-CHECKPOINT fixture for j18 (PROTOCOL.md "V2 Checkpoint
    * Table Feature" — the checkpoint shape modern writers emit
    * beside deletion vectors): same logical history as the j10
    * fixture (4 shards → append → compaction-shaped rewrite), but
    * the checkpoint at v1 is a UUID-named file whose `sidecar` rows
    * DELEGATE the 5-file add state to two parquet files under
    * `_delta_log/_sidecars/`, with `checkpointMetadata.version`
    * declaring its own version; BOTH commit JSONs before it are aged
    * out, so reading ANY version requires assembling main +
    * sidecars. Protocol: minReaderVersion 3 + readerFeatures
    * ["v2Checkpoint"].
    */
  def ensureDeltaV2cp(s: SparkSession, dir: String): String = {
    import s.implicits._
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltav2cp") { root =>
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      val sideDir = new java.io.File(log, "_sidecars"); sideDir.mkdirs()
      val shards = (0 until 4).map(k => s"file-v0-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val reinserted = rows.toSeq.filter(_._1 % TornMod == TornRem)
        .map { case (id, t, l, src, nc) => (id + DeltaReinsert, t, l, src, nc) }
      val sizes = (shards :+ ("file-v1-insert.parquet" -> reinserted) :+
        ("file-v2-rewrite.parquet" -> shards(1)._2))
        .map { case (n, rs) => n -> writeOneParquet(s, root, n, rs) }.toMap
      def addJson(name: String, dataChange: Boolean) =
        s"""{"add":{"path":"$name","partitionValues":{},"size":${sizes(name)},"modificationTime":1700000000000,"dataChange":$dataChange}}"""
      val rawSchema =
        """{"type":"struct","fields":[{"name":"doc_id","type":"long","nullable":false,"metadata":{}},{"name":"text","type":"string","nullable":true,"metadata":{}},{"name":"lang","type":"string","nullable":true,"metadata":{}},{"name":"source","type":"string","nullable":true,"metadata":{}},{"name":"n_chars","type":"long","nullable":true,"metadata":{}}]}"""
      def commit(v: Long, lines: Seq[String]): java.io.File = {
        val f = new java.io.File(log, f"$v%020d.json")
        Files.write(f.toPath,
          (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        f
      }
      val v0 = commit(0L,
        Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}""",
          s"""{"metaData":{"id":"graft-delta-v2cp","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":[],"configuration":{},"createdTime":1700000000000}}""") ++
          shards.map(sh => addJson(sh._1, dataChange = true)))
      val v1 = commit(1L, Seq(
        """{"commitInfo":{"operation":"WRITE","operationParameters":{"mode":"Append"}}}""",
        addJson("file-v1-insert.parquet", dataChange = true)))
      def writeOneDs[T <: Product : org.apache.spark.sql.Encoder](
          dest: java.io.File, rs: Seq[T]): Long = {
        val scratch = new java.io.File(log, ".w_" + dest.getName)
        rs.toDS().coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, dest.toPath)
        Fixtures.deleteRecursively(scratch)
        dest.length()
      }
      def sideRows(adds: Seq[String]): Seq[CpSideRow] = adds.map(n =>
        CpSideRow(Some(CpAdd(n, Map.empty, sizes(n), 1700000000000L,
          dataChange = true)), None))
      val sc0 = new java.io.File(sideDir, "sc-0.parquet")
      val sc0len = writeOneDs(sc0, sideRows(shards.take(2).map(_._1)))
      val sc1 = new java.io.File(sideDir, "sc-1.parquet")
      val sc1len = writeOneDs(sc1,
        sideRows(shards.drop(2).map(_._1) :+ "file-v1-insert.parquet"))
      val uuid = java.util.UUID.nameUUIDFromBytes(
        "graft-delta-v2cp-checkpoint".getBytes(StandardCharsets.UTF_8))
      val mainRows = Seq(
        CpV2Row(Some(CpProtocol(3, 7, Some(Seq("v2Checkpoint")))),
          None, None, None),
        CpV2Row(None, Some(CpMeta("graft-delta-v2cp", rawSchema, Nil)),
          None, None),
        CpV2Row(None, None, Some(CpCkMeta(1L)), None),
        CpV2Row(None, None, None,
          Some(CpSidecarRef("sc-0.parquet", sc0len, 1700000000000L))),
        CpV2Row(None, None, None,
          Some(CpSidecarRef("sc-1.parquet", sc1len, 1700000000000L))))
      writeOneDs(
        new java.io.File(log, f"${1L}%020d.checkpoint.$uuid.parquet"),
        mainRows)
      Files.write(new java.io.File(log, "_last_checkpoint").toPath,
        """{"version":1,"size":5}""".getBytes(StandardCharsets.UTF_8))
      commit(2L, Seq(
        """{"commitInfo":{"operation":"OPTIMIZE","operationParameters":{}}}""",
        s"""{"remove":{"path":"file-v0-1.parquet","deletionTimestamp":1700000001000,"dataChange":false}}""",
        addJson("file-v2-rewrite.parquet", dataChange = false)))
      // metadata cleanup: EVERY pre-checkpoint commit ages out —
      // main + sidecars are the only path to any version
      Files.delete(v0.toPath)
      Files.delete(v1.toPath)
    }
  }

  /** Iceberg-v1 Hadoop-table fixture for j11 (public spec layout —
    * iceberg.apache.org/spec; read back by [[IcebergTable]]). Two
    * snapshots exercise the reader's whole resolution chain and the
    * status algebra:
    *
    *  - s1 (append): 4 shard files ADDED in manifest-a;
    *    manifest-list snap-1 = [manifest-a].
    *  - s2 (delete + append): manifest-b carries shards 0/2/3 as
    *    EXISTING and shard 1 as DELETED (the in-place delete record),
    *    manifest-c carries the reinserted torn-rule docs as ADDED;
    *    manifest-list snap-2 = [manifest-b, manifest-c] — manifest-a
    *    is NOT referenced, proving snapshots are self-contained.
    *
    * `version-hint.text` → v2.metadata.json with both snapshots and
    * current-snapshot-id = 2, so time travel to s1 resolves through
    * its own manifest list. Paths are absolute (the spec's rule),
    * written against the fixture root, which [[graft.BuildOnce]]
    * builds in place.
    */
  def ensureIceberg(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
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
    ensure(s, dir, "iceberg") { root =>
      val meta = new java.io.File(root, "metadata"); meta.mkdirs()
      val shards = (0 until 4).map(k => s"data/file-s1-shard-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val reinserted = rows.toSeq.filter(_._1 % TornMod == TornRem)
        .map { case (id, t, l, src, nc) => (id + DeltaReinsert, t, l, src, nc) }
      val written = (shards :+ ("data/file-s2-insert.parquet" -> reinserted))
        .map { case (n, rs) =>
          n -> (writeOneParquet(s, root, n, rs), rs.length.toLong) }.toMap
      def entry(status: Int, sid: Long, name: String) = Map(
        "status" -> status, "snapshot_id" -> sid,
        "data_file" -> Map(
          "file_path" -> s"$root/$name", "file_format" -> "PARQUET",
          "record_count" -> written(name)._2,
          "file_size_in_bytes" -> written(name)._1))
      def manifest(file: String, entries: Seq[Map[String, Any]]): (String, Long) = {
        val f = new java.io.File(meta, file)
        AvroContainer.writeGeneric(f, manifestSchema, entries)
        (s"$root/metadata/$file", f.length())
      }
      // s1: everything ADDED in one manifest
      val ma = manifest("manifest-a.avro",
        shards.map(sh => entry(1, 1L, sh._1)))
      // s2: survivors EXISTING + shard 1 DELETED; the append manifest
      val mb = manifest("manifest-b.avro",
        shards.zipWithIndex.map { case (sh, k) =>
          entry(if (k == 1) 2 else 0, 2L, sh._1) })
      val mc = manifest("manifest-c.avro",
        Seq(entry(1, 2L, "data/file-s2-insert.parquet")))
      def manifestList(file: String, sid: Long, ms: Seq[(String, Long)]): String = {
        AvroContainer.writeGeneric(new java.io.File(meta, file),
          manifestListSchema, ms.map { case (p, len) => Map(
            "manifest_path" -> p, "manifest_length" -> len,
            "partition_spec_id" -> 0, "added_snapshot_id" -> sid) })
        s"$root/metadata/$file"
      }
      val sl1 = manifestList("snap-1.avro", 1L, Seq(ma))
      val sl2 = manifestList("snap-2.avro", 2L, Seq(mb, mc))
      val mdJson =
        s"""{"format-version":1,"table-uuid":"graft-iceberg-fixture",
           |"location":"${jesc(root.toString)}","last-updated-ms":1700000000000,
           |"current-snapshot-id":2,
           |"snapshots":[
           |{"snapshot-id":1,"timestamp-ms":1700000000000,
           |"manifest-list":"${jesc(sl1)}","summary":{"operation":"append"}},
           |{"snapshot-id":2,"timestamp-ms":1700000001000,
           |"manifest-list":"${jesc(sl2)}","summary":{"operation":"overwrite"}}]}
           |""".stripMargin
      Files.write(new java.io.File(meta, "v2.metadata.json").toPath,
        mdJson.getBytes(StandardCharsets.UTF_8))
      Files.write(new java.io.File(meta, "version-hint.text").toPath,
        "2\n".getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Within-shard row-index rule for the v2 position-delete fixture:
    * positions `ridx % 5 == IcebergDelRem` delete in EVERY shard
    * (ridx = row ordinal inside the shard file; shards are written
    * doc_id-ascending, so the oracle recomputes ridx with a
    * per-shard row_number — the j9 discipline on positions). */
  val IcebergDelRem = 2

  /** Iceberg-v2 fixture for j13 — MERGE-ON-READ position deletes
    * (iceberg spec format-version 2): s1 appends the 4 data shards;
    * s2 adds a DELETE manifest whose single position-delete parquet
    * file carries (file_path, pos) rows for the [[IcebergDelRem]]
    * rule across every shard. All four data files stay live (deletes
    * are ROW-level — the j11 contrast, where a delete retires a whole
    * file); the reader must subtract by position at scan time.
    */
  def ensureIcebergV2(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    val manifestListSchema =
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin
    val manifestSchema =
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin
    ensure(s, dir, "icebergv2") { root =>
      val meta = new java.io.File(root, "metadata"); meta.mkdirs()
      val shards = (0 until 4).map(k => s"data/file-s1-shard-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val sizes = shards.map { case (n, rs) =>
        n -> (writeOneParquet(s, root, n, rs), rs.length.toLong) }.toMap
      // the position-delete parquet: (file_path, pos) rows by rule
      val posDels = shards.flatMap { case (n, rs) =>
        rs.indices.collect { case i if i % 5 == IcebergDelRem =>
          (s"$root/$n", i.toLong) }
      }
      val pdScratch = new java.io.File(root, ".w_pd")
      s.createDataFrame(posDels).toDF("file_path", "pos")
        .coalesce(1).write.mode("overwrite").parquet(pdScratch.toString)
      val pdPart = pdScratch.listFiles().find(_.getName.endsWith(".parquet")).get
      val pdDest = new java.io.File(root, "data/file-s2-posdel.parquet")
      Files.move(pdPart.toPath, pdDest.toPath)
      Fixtures.deleteRecursively(pdScratch)
      def entry(content: Int, sid: Long, name: String, recs: Long, len: Long) =
        Map("status" -> 1, "snapshot_id" -> sid,
          "data_file" -> Map(
            "content" -> content, "file_path" -> s"$root/$name",
            "file_format" -> "PARQUET",
            "record_count" -> recs, "file_size_in_bytes" -> len))
      def manifest(file: String, entries: Seq[Map[String, Any]]): (String, Long) = {
        val f = new java.io.File(meta, file)
        AvroContainer.writeGeneric(f, manifestSchema, entries)
        (s"$root/metadata/$file", f.length())
      }
      val ma = manifest("manifest-a.avro", shards.map { case (n, _) =>
        entry(0, 1L, n, sizes(n)._2, sizes(n)._1) })
      val mdly = manifest("manifest-d.avro", Seq(
        entry(1, 2L, "data/file-s2-posdel.parquet",
          posDels.length.toLong, pdDest.length())))
      def manifestList(file: String, sid: Long,
          ms: Seq[((String, Long), Int)]): String = {
        AvroContainer.writeGeneric(new java.io.File(meta, file),
          manifestListSchema, ms.map { case ((p, len), content) => Map(
            "manifest_path" -> p, "manifest_length" -> len,
            "partition_spec_id" -> 0, "content" -> content,
            "added_snapshot_id" -> sid) })
        s"$root/metadata/$file"
      }
      val sl1 = manifestList("snap-1.avro", 1L, Seq((ma, 0)))
      val sl2 = manifestList("snap-2.avro", 2L, Seq((ma, 0), (mdly, 1)))
      val mdJson =
        s"""{"format-version":2,"table-uuid":"graft-iceberg-v2-fixture",
           |"location":"${jesc(root.toString)}","last-updated-ms":1700000000000,
           |"current-snapshot-id":2,
           |"snapshots":[
           |{"snapshot-id":1,"timestamp-ms":1700000000000,
           |"manifest-list":"${jesc(sl1)}","summary":{"operation":"append"}},
           |{"snapshot-id":2,"timestamp-ms":1700000001000,
           |"manifest-list":"${jesc(sl2)}","summary":{"operation":"delete"}}]}
           |""".stripMargin
      Files.write(new java.io.File(meta, "v2.metadata.json").toPath,
        mdJson.getBytes(StandardCharsets.UTF_8))
      Files.write(new java.io.File(meta, "version-hint.text").toPath,
        "2\n".getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Iceberg-v2 EQUALITY-delete fixture for j15 (iceberg spec:
    * "Equality Delete Files" + sequence-number scoping): where j13's
    * position deletes name (file, ordinal), an equality delete names
    * VALUES — `equality_ids` lists the schema field ids whose equal
    * (null-safe) tuple deletes a row — and applies only to data
    * files with a STRICTLY SMALLER data sequence number. The fixture
    * makes that scoping load-bearing, the Flink-CDC upsert shape:
    *
    *  - s1 (seq 1): the 4 data shards.
    *  - s2 (seq 2): an equality-delete parquet listing the torn-rule
    *    doc_ids (`% 7 == 3`, field id 1) — deleting them from the
    *    seq-1 shards — AND a same-commit data file RE-INSERTING the
    *    same doc_ids with `n_chars + 1000`. Same key, same sequence
    *    as the delete: the re-inserts MUST survive (strict <), which
    *    is exactly what an unscoped implementation gets wrong.
    *
    * The metadata JSON carries the v2 `schemas`/`current-schema-id`
    * shape (field ids resolve through it); sequence numbers ride the
    * manifest LIST rows and inherit to entries, the spec's
    * inheritance rule.
    */
  def ensureIcebergEq(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    val manifestListSchema =
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int"},
        |{"name":"sequence_number","type":"long"},
        |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin
    val manifestSchema =
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"content","type":"int"},
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""".stripMargin
    ensure(s, dir, "icebergeq") { root =>
      val meta = new java.io.File(root, "metadata"); meta.mkdirs()
      val shards = (0 until 4).map(k => s"data/file-s1-shard-$k.parquet" ->
        rows.toSeq.filter(_._1 % 4 == k))
      val torn = rows.toSeq.filter(_._1 % TornMod == TornRem)
      val reinserted = torn.map { case (id, t, l, src, nc) =>
        (id, t, l, src, nc + 1000) } // SAME doc_id — the scoping test
      val written = (shards :+ ("data/file-s2-reinsert.parquet" -> reinserted))
        .map { case (n, rs) =>
          n -> (writeOneParquet(s, root, n, rs), rs.length.toLong) }.toMap
      // the equality-delete parquet: just the key column (field id 1)
      val eqScratch = new java.io.File(root, ".w_eq")
      s.createDataFrame(torn.map(r => Tuple1(r._1))).toDF("doc_id")
        .coalesce(1).write.mode("overwrite").parquet(eqScratch.toString)
      val eqPart = eqScratch.listFiles().find(_.getName.endsWith(".parquet")).get
      val eqDest = new java.io.File(root, "data/file-s2-eqdel.parquet")
      Files.move(eqPart.toPath, eqDest.toPath)
      Fixtures.deleteRecursively(eqScratch)
      def entry(content: Int, sid: Long, name: String, recs: Long, len: Long,
          eqIds: Seq[Int] = Nil): Map[String, Any] = {
        val df = Map("content" -> content, "file_path" -> s"$root/$name",
          "file_format" -> "PARQUET", "record_count" -> recs,
          "file_size_in_bytes" -> len) ++
          (if (eqIds.isEmpty) Map.empty[String, Any]
           else {
             val l = new java.util.ArrayList[Integer]()
             eqIds.foreach(i => l.add(i))
             Map[String, Any]("equality_ids" -> l)
           })
        Map("status" -> 1, "snapshot_id" -> sid, "data_file" -> df)
      }
      def manifest(file: String, entries: Seq[Map[String, Any]]): (String, Long) = {
        val f = new java.io.File(meta, file)
        AvroContainer.writeGeneric(f, manifestSchema, entries)
        (s"$root/metadata/$file", f.length())
      }
      val ma = manifest("manifest-a.avro", shards.map { case (n, _) =>
        entry(0, 1L, n, written(n)._2, written(n)._1) })
      val mb = manifest("manifest-b.avro", Seq(
        entry(2, 2L, "data/file-s2-eqdel.parquet",
          torn.length.toLong, eqDest.length(), eqIds = Seq(1))))
      val mc = manifest("manifest-c.avro", Seq(
        entry(0, 2L, "data/file-s2-reinsert.parquet",
          written("data/file-s2-reinsert.parquet")._2,
          written("data/file-s2-reinsert.parquet")._1)))
      def manifestList(file: String, sid: Long,
          ms: Seq[((String, Long), Int, Long)]): String = {
        AvroContainer.writeGeneric(new java.io.File(meta, file),
          manifestListSchema, ms.map { case ((p, len), content, seq) => Map(
            "manifest_path" -> p, "manifest_length" -> len,
            "partition_spec_id" -> 0, "content" -> content,
            "sequence_number" -> seq, "added_snapshot_id" -> sid) })
        s"$root/metadata/$file"
      }
      val sl1 = manifestList("snap-1.avro", 1L, Seq((ma, 0, 1L)))
      val sl2 = manifestList("snap-2.avro", 2L,
        Seq((ma, 0, 1L), (mb, 1, 2L), (mc, 0, 2L)))
      val schemaJson =
        """{"schema-id":0,"type":"struct","fields":[
          |{"id":1,"name":"doc_id","required":true,"type":"long"},
          |{"id":2,"name":"text","required":false,"type":"string"},
          |{"id":3,"name":"lang","required":false,"type":"string"},
          |{"id":4,"name":"source","required":false,"type":"string"},
          |{"id":5,"name":"n_chars","required":false,"type":"long"}]}"""
          .stripMargin.replace("\n", "")
      val mdJson =
        s"""{"format-version":2,"table-uuid":"graft-iceberg-eq-fixture",
           |"location":"${jesc(root.toString)}","last-updated-ms":1700000000000,
           |"current-schema-id":0,
           |"schemas":[$schemaJson],
           |"current-snapshot-id":2,
           |"snapshots":[
           |{"snapshot-id":1,"timestamp-ms":1700000000000,
           |"manifest-list":"${jesc(sl1)}","summary":{"operation":"append"}},
           |{"snapshot-id":2,"timestamp-ms":1700000001000,
           |"manifest-list":"${jesc(sl2)}","summary":{"operation":"overwrite"}}]}
           |""".stripMargin
      Files.write(new java.io.File(meta, "v2.metadata.json").toPath,
        mdJson.getBytes(StandardCharsets.UTF_8))
      Files.write(new java.io.File(meta, "version-hint.text").toPath,
        "2\n".getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Delta COLUMN-MAPPING ID-MODE fixture for j20 (delta.io
    * PROTOCOL.md "Column Mapping", mode `id`): data columns resolve
    * by PARQUET FIELD ID, never by name. The fixture makes name-based
    * matching actively WRONG, the way a post-rename table is: the
    * data files' column names are the OTHER columns' physical names
    * (doc_id's values sit in a file column named `col-t02` — text's
    * physicalName — with field id 1), so a reader that matches by
    * name either crashes or silently swaps columns, and only field-id
    * resolution reads oracle-exact. One file per `lang` value with
    * partitionValues keyed by lang's PHYSICAL name (`col-l03`), the
    * protocol's rule. Field ids are stamped into the files by Spark's
    * own writer (`parquet.field.id` schema metadata).
    */
  def ensureDeltaCmId(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    ensure(s, dir, "deltacmid") { root =>
      val log = new java.io.File(root, "_delta_log"); log.mkdirs()
      import org.apache.spark.sql.types.MetadataBuilder
      def fid(id: Long) =
        new MetadataBuilder().putLong("parquet.field.id", id).build()
      def writeShard(name: String,
          rs: Seq[(Long, String, String, String, Long)]): Long = {
        val scratch = new java.io.File(root, ".w_" + name.replace('/', '_'))
        s.createDataFrame(rs).toDF("a", "b", "c", "d", "e")
          .select(
            // MISNAMED on purpose: names rotate one physical slot
            // right while ids stay true — ids must win
            col("a").as("col-t02", fid(1L)), // doc_id values
            col("b").as("col-s04", fid(2L)), // text values
            col("d").as("col-n05", fid(4L)), // source values
            col("e").as("col-d01", fid(5L))) // n_chars values
          .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = scratch.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(root, name)
        dest.getParentFile.mkdirs()
        Files.move(part.toPath, dest.toPath)
        Fixtures.deleteRecursively(scratch)
        dest.length()
      }
      val byLang = rows.toSeq.groupBy(_._3).toSeq.sortBy(_._1)
      val adds = byLang.map { case (lang, rs) =>
        val name = s"part-$lang.parquet"
        val sz = writeShard(name, rs)
        s"""{"add":{"path":"$name","partitionValues":{"col-l03":"$lang"},"size":$sz,"modificationTime":1700000000000,"dataChange":true}}"""
      }
      def fmeta(id: Long, phys: String) =
        s"""{"delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$phys"}"""
      val rawSchema = Seq(
        """{"type":"struct","fields":[""",
        s"""{"name":"doc_id","type":"long","nullable":false,"metadata":${fmeta(1, "col-d01")}},""",
        s"""{"name":"text","type":"string","nullable":true,"metadata":${fmeta(2, "col-t02")}},""",
        s"""{"name":"lang","type":"string","nullable":true,"metadata":${fmeta(3, "col-l03")}},""",
        s"""{"name":"source","type":"string","nullable":true,"metadata":${fmeta(4, "col-s04")}},""",
        s"""{"name":"n_chars","type":"long","nullable":true,"metadata":${fmeta(5, "col-n05")}}]}""").mkString
      Files.write(new java.io.File(log, f"${0L}%020d.json").toPath,
        ((Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"graft-delta-cmid","format":{"provider":"parquet","options":{}},"schemaString":"${jesc(rawSchema)}","partitionColumns":["lang"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"5"},"createdTime":1700000000000}}""") ++
          adds).mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
  }

  /** DELTA-EXPORT round-trip fixture for j21: a SnapshotTable built
    * from the doc_id < [[DocLimit]] corpus in TWO commits (parity
    * halves, range-split into 2 files each, doc_id/n_chars stats
    * recorded), then published as a self-contained (copy-mode) Delta
    * table under `delta/` — the read↔write interop loop closed inside
    * the repo: the engine's own snapshot version handed to any Delta
    * reader, and read back here by j10's. Metadata-only (absolute-
    * path) export is spec territory — its URIs pin the build
    * location, which [[graft.BuildOnce]]'s in-place build keeps.
    */
  def ensureDeltaExport(s: SparkSession, dir: String): String = {
    ensure(s, dir, "deltaexport") { root =>
      val snap = new java.io.File(root, "snap").toString
      val docs = Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
        .select("doc_id", "text", "lang", "source", "n_chars")
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id", "n_chars"))
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id", "n_chars"))
      DeltaExport.export(s, snap, new java.io.File(root, "delta").toString)
    }
  }

  /** DELTA LOG-EXPORT fixture for j23: a three-version snapshot
    * history (v0 even docs in 2 range files, v1 append odd docs, v2
    * REPLACE keeping doc_id < 200) published as a Delta LOG by
    * [[DeltaExport.exportLog]] — commit v per snapshot version, adds
    * for new files, removes for dropped ones, relative
    * `data/<uuid>/…` paths (rename-safe). The exported table under
    * `delta/` carries the WHOLE history: j23 CDC-reads it with
    * DeltaTable.changes. */
  def ensureDeltaLogExport(s: SparkSession, dir: String): String = {
    ensure(s, dir, "deltalogexport") { root =>
      val snap = new java.io.File(root, "snap").toString
      val docs = Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
        .select("doc_id", "text", "lang", "source", "n_chars")
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id"))
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id"))
      SnapshotTable.commit(s, snap,
        docs.filter(col("doc_id") < 200).repartitionByRange(2, col("doc_id")),
        replace = true, statsCols = Seq("doc_id"))
      DeltaExport.exportLog(s, snap, new java.io.File(root, "delta").toString)
    }
  }

  /** ICEBERG-EXPORT round-trip fixture for j22 — [[ensureDeltaExport]]'s
    * twin for the second format: the same two-commit snapshot scenario
    * (parity halves, range-split, doc_id/n_chars stats) published as a
    * self-contained (copy-mode) Iceberg v1 Hadoop table under
    * `iceberg/`, read back by j11's own reader. Iceberg file paths
    * are absolute (the spec's rule), so they name the final root —
    * the one [[graft.BuildOnce]] builds in. */
  def ensureIcebergExport(s: SparkSession, dir: String): String =
    ensure(s, dir, "icebergexport") { root =>
      val snap = new java.io.File(root, "snap").toString
      val docs = Tables.documents(s, dir).filter(col("doc_id") < DocLimit)
        .select("doc_id", "text", "lang", "source", "n_chars")
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id", "n_chars"))
      SnapshotTable.commit(s, snap,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .repartitionByRange(2, col("doc_id")),
        statsCols = Seq("doc_id", "n_chars"))
      IcebergExport.export(s, snap, new java.io.File(root, "iceberg").toString)
    }

  /** Which bucket's manifest entry carries NO bounds in the j19
    * fixture (the conservative-keep witness, the
    * [[DeltaStatsNoStatsBucket]] twin). */
  val IcebergNoStatsBucket = 3L

  /** Iceberg MANIFEST-STATS fixture for j19 (spec "Manifests":
    * `lower_bounds`/`upper_bounds` per data file — the format's
    * primary pruning lever): one snapshot whose manifest lists one
    * range-clustered bucket file per `doc_id div DeltaStatsBucket`,
    * each entry carrying single-value-serialized (little-endian
    * long) doc_id bounds — EXCEPT bucket [[IcebergNoStatsBucket]],
    * whose entry has null bounds and must open on EVERY range probe.
    * Bounds ride the spec's array-of-{key: field id, value: bytes}
    * encoding (Avro maps cannot key by int).
    */
  def ensureIcebergStats(s: SparkSession, dir: String): String = {
    lazy val rows = docRows(s, dir)
    val manifestListSchema =
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin
    val boundsType =
      """["null",{"type":"array","items":{"type":"record","name":"i64kv","fields":[
        |{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}]"""
        .stripMargin.replace("\n", "")
    val manifestSchema =
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":"long"},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"},
        |{"name":"lower_bounds","type":$boundsType,"default":null},
        |{"name":"upper_bounds","type":${boundsType.replace("i64kv", "i64kv2")},"default":null}]}}]}"""
        .stripMargin
    ensure(s, dir, "icebergstats") { root =>
      val meta = new java.io.File(root, "metadata"); meta.mkdirs()
      val buckets = rows.toSeq.groupBy(_._1 / DeltaStatsBucket).toSeq
        .sortBy(_._1).filter(_._2.nonEmpty)
      val files = buckets.map { case (k, rs) =>
        val name = s"data/file-bucket-$k.parquet"
        (k, name, rs, writeOneParquet(s, root, name, rs))
      }
      def longBytes(v: Long): java.nio.ByteBuffer = {
        val bb = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putLong(v); bb.flip(); bb
      }
      def entry(k: Long, name: String,
          rs: Seq[(Long, String, String, String, Long)], size: Long) = {
        val ids = rs.map(_._1)
        val base = Map[String, Any]("file_path" -> s"$root/$name",
          "file_format" -> "PARQUET", "record_count" -> rs.size.toLong,
          "file_size_in_bytes" -> size)
        val df =
          if (k == IcebergNoStatsBucket) base
          else base ++ Map[String, Any](
            "lower_bounds" -> Seq(Map[String, Any](
              "key" -> 1, "value" -> longBytes(ids.min))),
            "upper_bounds" -> Seq(Map[String, Any](
              "key" -> 1, "value" -> longBytes(ids.max))))
        Map[String, Any]("status" -> 1, "snapshot_id" -> 1L, "data_file" -> df)
      }
      val mf = new java.io.File(meta, "manifest-a.avro")
      AvroContainer.writeGeneric(mf, manifestSchema,
        files.map { case (k, n, rs, sz) => entry(k, n, rs, sz) })
      AvroContainer.writeGeneric(new java.io.File(meta, "snap-1.avro"),
        manifestListSchema, Seq(Map[String, Any](
          "manifest_path" -> s"$root/metadata/manifest-a.avro",
          "manifest_length" -> mf.length(), "partition_spec_id" -> 0,
          "added_snapshot_id" -> 1L)))
      val schemaJson =
        """{"schema-id":0,"type":"struct","fields":[
          |{"id":1,"name":"doc_id","required":true,"type":"long"},
          |{"id":2,"name":"text","required":false,"type":"string"},
          |{"id":3,"name":"lang","required":false,"type":"string"},
          |{"id":4,"name":"source","required":false,"type":"string"},
          |{"id":5,"name":"n_chars","required":false,"type":"long"}]}"""
          .stripMargin.replace("\n", "")
      val mdJson =
        s"""{"format-version":1,"table-uuid":"graft-iceberg-stats-fixture",
           |"location":"${jesc(root.toString)}","last-updated-ms":1700000000000,
           |"schema":$schemaJson,
           |"current-snapshot-id":1,
           |"snapshots":[
           |{"snapshot-id":1,"timestamp-ms":1700000000000,
           |"manifest-list":"${jesc(s"$root/metadata/snap-1.avro")}",
           |"summary":{"operation":"append"}}]}
           |""".stripMargin
      Files.write(new java.io.File(meta, "v1.metadata.json").toPath,
        mdJson.getBytes(StandardCharsets.UTF_8))
      Files.write(new java.io.File(meta, "version-hint.text").toPath,
        "1\n".getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Checkpoint-parquet action rows (the delta.io PROTOCOL.md checkpoint
  * schema, reduced to the actions a protocol-1 reader consumes). */
case class CpProtocol(minReaderVersion: Int, minWriterVersion: Int,
  readerFeatures: Option[Seq[String]] = None)
case class CpMeta(id: String, schemaString: String, partitionColumns: Seq[String])
case class CpAdd(path: String, partitionValues: Map[String, String],
  size: Long, modificationTime: Long, dataChange: Boolean,
  stats: Option[String] = None)
case class CpRemove(path: String, deletionTimestamp: Long)
case class CpRow(protocol: Option[CpProtocol], metaData: Option[CpMeta],
  add: Option[CpAdd], remove: Option[CpRemove])

/** V2-checkpoint action rows (PROTOCOL.md "V2 Checkpoint Table
  * Feature"): the UUID-named main file declares its version
  * (`checkpointMetadata`) and may delegate add/remove state to
  * sidecar files; sidecars carry only add/remove. */
case class CpCkMeta(version: Long)
case class CpSidecarRef(path: String, sizeInBytes: Long,
  modificationTime: Long)
case class CpV2Row(protocol: Option[CpProtocol], metaData: Option[CpMeta],
  checkpointMetadata: Option[CpCkMeta], sidecar: Option[CpSidecarRef])
case class CpSideRow(add: Option[CpAdd], remove: Option[CpRemove])
