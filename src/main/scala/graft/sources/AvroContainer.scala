package graft.sources

import java.io.File
import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter, SeekableByteArrayInput, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

/** Avro OBJECT-CONTAINER file support — the Kafka/schema-registry wire
  * format's at-rest container, and the j-matrix's SPLITTABLE binary
  * member (contrast the matrix: gzip j6 has NO sync points — one task
  * per whole file; WARC j7 resyncs on a TEXT magic; Avro interleaves a
  * 16-byte random SYNC MARKER between blocks, so any byte offset can
  * resynchronize to the next block boundary). Two consequences this
  * module proves, both load-bearing at 100 TB:
  *
  *  - SPLITTABILITY: [[readSplit]] implements Hadoop's split contract
  *    (`sync(start)`, consume while `!pastSync(end)`) — a split owns
  *    exactly the blocks whose start falls in its range, so the union
  *    over ANY split partition of the byte range reproduces the whole
  *    file (IngestSpec proves it over randomized boundaries). This is
  *    why a single 10 GB .avro shard parallelizes where a .gz shard
  *    cannot.
  *  - BLOCK-GRAIN CORRUPTION QUARANTINE: a block whose header or
  *    payload is corrupt throws at decode; [[readSplit]] catches,
  *    counts ONE bad block, and `sync`s past it to the next marker —
  *    losing exactly that block's records, never the shard (gzip loses
  *    the rest of the member; multiLine JSON j8 blames the whole
  *    file). Record-grain loss accounting is deliberately NOT claimed:
  *    a corrupt block's own header is the only record count and it is
  *    untrusted by definition — block-grain is the honest unit.
  *
  * Uses only the avro core library Spark itself ships (the
  * spark-avro DataSource module is not on this classpath; at
  * production scale the same contract rides Hadoop's
  * AvroKeyInputFormat, whose record reader is exactly [[readSplit]]'s
  * loop without the recovery arm).
  */
object AvroContainer {

  /** Writer schema for the documents corpus (doc fields mirror the
    * jsonl fixture so j1's oracle partition transfers). */
  val SchemaJson: String =
    """{"type":"record","name":"doc","fields":[
      |{"name":"doc_id","type":"long"},
      |{"name":"text","type":"string"},
      |{"name":"lang","type":"string"},
      |{"name":"source","type":"string"},
      |{"name":"n_chars","type":"long"}]}""".stripMargin

  /** Records per forced block (DataFileWriter.sync() ends the block) —
    * small so every shard carries several blocks and the corrupt-block
    * rule quarantines a provable strict subset. */
  val BlockRecs = 16

  private def schema: Schema = new Schema.Parser().parse(SchemaJson)

  /** One decoded record; `badBlocks` counts blocks the split owned but
    * could not decode. */
  final case class SplitResult(
    docs: Vector[(Long, String, String, String, Long)], badBlocks: Int)

  /** Write `rows` as one container file with deflate blocks forced
    * every [[BlockRecs]] records (the explicit `sync()` pins block
    * boundaries so the corrupt-block rule — and the oracle that
    * recomputes it — addresses records by position). */
  def write(f: File, rows: Seq[(Long, String, String, String, Long)]): Unit = {
    val sc = schema
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sc))
    try {
      w.setCodec(CodecFactory.deflateCodec(6))
      w.create(sc, f)
      rows.zipWithIndex.foreach { case ((id, text, lang, src, nc), i) =>
        if (i > 0 && i % BlockRecs == 0) w.sync()
        val r = new GenericData.Record(sc)
        r.put("doc_id", id); r.put("text", text); r.put("lang", lang)
        r.put("source", src); r.put("n_chars", nc)
        w.append(r)
      }
    } finally w.close()
  }

  /** Generic container writer for arbitrary schemas — the Iceberg
    * metadata containers (manifest list, manifest) are Avro files
    * with their own record schemas; rows arrive as field-name maps,
    * nested record fields as nested maps. Field values must match the
    * schema's types (long/int/string/boolean) — this is a fixture
    * writer, not a coercion layer. */
  def writeGeneric(f: File, schemaJson: String,
      rows: Seq[Map[String, Any]]): Unit =
    writeGeneric(new java.io.FileOutputStream(f), schemaJson, rows)

  /** [[writeGeneric]] into a stream, which it closes. */
  def writeGeneric(out: java.io.OutputStream, schemaJson: String,
      rows: Seq[Map[String, Any]]): Unit = {
    val sc = new Schema.Parser().parse(schemaJson)
    // resolve a nullable union to its non-null branch (Iceberg's
    // optional metadata fields are ["null", T] unions)
    def nonNull(s: Schema): Schema =
      if (s.getType != Schema.Type.UNION) s
      else {
        var found: Schema = null
        s.getTypes.forEach(t => if (t.getType != Schema.Type.NULL) found = t)
        found
      }
    def rec(s: Schema, m: Map[String, Any]): GenericRecord = {
      val r = new GenericData.Record(s)
      s.getFields.forEach { fld =>
        m.get(fld.name()).foreach {
          case v: Map[_, _] =>
            r.put(fld.name(),
              rec(nonNull(fld.schema()), v.asInstanceOf[Map[String, Any]]))
          case v: Seq[_] =>
            // array field: element maps become records (the shape of
            // Iceberg's bounds "maps" — arrays of {key, value} pairs,
            // because Avro maps only key by string)
            val items = nonNull(fld.schema()).getElementType
            val list = new java.util.ArrayList[Any](v.length)
            v.foreach {
              case em: Map[_, _] =>
                list.add(rec(nonNull(items), em.asInstanceOf[Map[String, Any]]))
              case x => list.add(x)
            }
            r.put(fld.name(), list)
          case v => r.put(fld.name(), v)
        }
      }
      r
    }
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sc))
    try {
      w.create(sc, out)
      rows.foreach(m => w.append(rec(sc, m)))
    } finally w.close()
  }

  /** Read a whole container generically (driver-side metadata files —
    * manifest lists and manifests are metadata-scale, never data). */
  def readGeneric(f: File): Vector[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try {
      val out = Vector.newBuilder[GenericRecord]
      while (r.hasNext) out += r.next()
      out.result()
    } finally r.close()
  }

  /** Byte offsets of each block's start (its count varint, just past
    * the preceding sync marker) — enumerated through the reader's own
    * previousSync tracking, so the offsets are the format's, not a
    * re-derivation. */
  def blockStarts(f: File): Vector[Long] = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try {
      val starts = Vector.newBuilder[Long]
      var last = -1L
      while (r.hasNext) {
        val p = r.previousSync()
        if (p != last) { starts += p; last = p }
        r.next()
      }
      starts.result()
    } finally r.close()
  }

  /** Corrupt block `blockIdx` in place: 10 continuation bytes (0xFF)
    * over its header varints — a malformed length encoding every
    * reader rejects DETERMINISTICALLY at block entry (flipping payload
    * bytes instead could decode to silently-wrong values; a corrupt
    * fixture must fail loudly, not plausibly). Sync markers are
    * untouched, so recovery-by-resync stays possible. */
  def corruptBlock(f: File, blockIdx: Int): Unit = {
    val starts = blockStarts(f)
    require(blockIdx < starts.length, s"no block $blockIdx in $f (${starts.length} blocks)")
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.seek(starts(blockIdx))
      raf.write(Array.fill(10)(0xFF.toByte))
    } finally raf.close()
  }

  /** Decode the blocks a byte-range split OWNS — Hadoop's contract:
    * position at the first sync point after `start`, consume while not
    * past `end` (a block starting in [end, end+16) still belongs here,
    * because the NEXT split's sync(end) scan cannot see a marker that
    * ended at its own first byte). A block that fails to decode counts
    * as ONE bad block and the reader resynchronizes at the next marker
    * — the recovery arm Hadoop's reader lacks. */
  def readSplit(bytes: Array[Byte], start: Long, end: Long): SplitResult = {
    val in: SeekableInput = new SeekableByteArrayInput(bytes)
    val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    try {
      val out = Vector.newBuilder[(Long, String, String, String, Long)]
      var bad = 0
      var lastFail = -1L
      var done = false
      r.sync(start)
      while (!done) {
        try {
          if (r.pastSync(end) || !r.hasNext) done = true
          else {
            val rec = r.next()
            out += ((rec.get("doc_id").asInstanceOf[Long],
              rec.get("text").toString, rec.get("lang").toString,
              rec.get("source").toString, rec.get("n_chars").asInstanceOf[Long]))
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            val p = r.previousSync()
            if (p == lastFail) done = true // cannot advance: stop
            else {
              // ownership mirrors pastSync: a block starting past
              // end+16 is the next split's to count
              if (p < end + 16) bad += 1
              lastFail = p
              try r.sync(p) catch { case scala.util.control.NonFatal(_) => done = true }
            }
        }
      }
      SplitResult(out.result(), bad)
    } finally r.close()
  }
}
