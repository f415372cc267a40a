package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Typed metadata emitted by the audio decoder. All fields come from
  * the DECODED stream: sample count and format from the codec,
  * `energy` the integer sum of squared samples, `ahash` the same
  * ·31 fold m1/m2 use — every one a pure function of the PCM content
  * (WAV is lossless), so the DuckDB oracle recomputes them all.
  */
case class AudioMeta(doc_id: Long, n_samples: Int, sample_rate: Int,
    channels: Int, duration_ms: Int, energy: Long, ahash: Long)

/** Multimodal AUDIO path — the third modality beside m1 (image) and
  * m2 (video), real end-to-end like both: payloads are genuine WAV
  * (RIFF) containers encoded with `javax.sound.sampled` (the JDK's
  * native audio codec — no external deps, headless-safe: file
  * encode/decode never touches an audio device), fixture samples are
  * a deterministic integer formula of (doc_id, i), and 16-bit PCM is
  * lossless — so what the codec decodes IS the formula and the m3
  * manifest stays oracle-exact. The Spark-side shape matches
  * Multimodal: binary payload column, batched per-partition decode
  * (the JVM analog of a Pandas-UDF `mapInPandas` batch), typed
  * `Dataset[AudioMeta]`, partitions ∝ cores (codecs are CPU-bound).
  */
object Audio {

  val BatchSize = 64

  /** Fixture format: mono 16-bit little-endian PCM at 8 kHz. */
  val SampleRate = 8000
  private val Fmt =
    new AudioFormat(SampleRate.toFloat, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)

  // --- deterministic audio fixtures ---------------------------------

  /** Fixture sample count for a doc: 400..1599. */
  def sampleCount(docId: Long): Int = (math.floorMod(docId, 1200L) + 400L).toInt

  /** Fixture sample i (signed 16-bit): ((id·131 + i·17) mod 2¹⁶) − 2¹⁵. */
  def sample(docId: Long, i: Int): Short =
    (math.floorMod(docId * 131L + i * 17L, 65536L) - 32768L).toShort

  /** REAL WAV container bytes for a doc's fixture clip: the canonical
    * RIFF/fmt/data chunk structure any WAV reader opens (byte-
    * identical to what `AudioSystem.write` emits — AudioSpec pins it).
    */
  def wavPayload(docId: Long): Array[Byte] = {
    val n = sampleCount(docId)
    encodeWav(Array.tabulate(n)(i => sample(docId, i)))
  }

  /** REAL WAV container bytes for an arbitrary 16-bit mono PCM clip
    * (the fixture encoder, shared by m3's per-doc clips and m5's clip
    * families). Writes the canonical RIFF/fmt/data layout DIRECTLY —
    * byte-identical to `AudioSystem.write` (AudioSpec pins the
    * identity) — because the JDK SPI path takes a global lock that
    * serializes all 32 executor threads (measured: 32 threads x
    * 20k clips = 49.5 s wall vs ~1 s for the same work single-lock-
    * free; per-clip cost 55 us -> ~1 us).
    */
  def encodeWav(samples: Array[Short]): Array[Byte] =
    writeWavMono16(samples, SampleRate)

  /** Canonical RIFF/WAVE container for 16-bit mono little-endian PCM:
    * the exact 44-byte header `AudioSystem.write` emits (RIFF size =
    * 36 + data, 16-byte PCM fmt chunk, data chunk), then the frames.
    */
  private def writeWavMono16(samples: Array[Short], rate: Int): Array[Byte] = {
    val n = samples.length
    val dataLen = n * 2
    val out = new Array[Byte](44 + dataLen)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte
      out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte
      out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    le32(4, 36 + dataLen)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    le32(16, 16) // PCM fmt chunk length
    le16(20, 1) // format tag: PCM
    le16(22, 1) // channels
    le32(24, rate)
    le32(28, rate * 2) // byte rate
    le16(32, 2) // block align
    le16(34, 16) // bits per sample
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    le32(40, dataLen)
    var i = 0
    while (i < n) {
      val s = samples(i)
      out(44 + i * 2) = (s & 0xFF).toByte
      out(44 + i * 2 + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** The JDK-SPI encoder the direct writer replaced — kept (test-only)
    * so AudioSpec can pin byte-identity against the reference codec.
    */
  private[graft] def encodeWavJdk(samples: Array[Short], rate: Int = SampleRate): Array[Byte] = {
    val n = samples.length
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = samples(i)
      pcm(i * 2) = (s & 0xFF).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = if (rate == SampleRate) Fmt
      else new AudioFormat(rate.toFloat, 16, 1, true, false)
    val in = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    try AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos) finally in.close()
    bos.toByteArray
  }

  /** m5 fixture: clip FAMILIES — a doc's clip is its family's content
    * (family = doc_id div 25, so family SIZE is fixed at 25 and the
    * family COUNT scales with the corpus — real dup clusters are
    * bounded, and the pair output stays corpus-LINEAR at every sf;
    * samples are a quadratic-congruential scramble of (fam, i), so
    * unlike m3's slow sawtooth the waveform is noise-like and
    * families are acoustically distinct) with ONE doc-specific
    * full-scale sample spliced in at position `doc_id·131 mod n` —
    * the audio analog of a re-encode with a click/glitch. Family
    * members therefore fingerprint within a few bits of each other
    * (the two spikes disturb at most two of 64 segment means) while
    * cross-family distances are ~32: the corpus carries a genuine
    * near-dup band, not just exact dups.
    */
  def famClipPayload(docId: Long): Array[Byte] = {
    val fam = docId / 25L
    val n = sampleCount(fam)
    val spike = math.floorMod(docId * 131L, n.toLong).toInt
    encodeWav(Array.tabulate(n) { i =>
      if (i == spike) 32767.toShort
      else (math.floorMod(fam * 40503L + i.toLong * i * 13933L + i * 7919L,
        65536L) - 32768L).toShort
    })
  }

  // --- real codec kernels -------------------------------------------

  /** REAL audio decode: container → (format, PCM samples). Rejects
    * anything that is not 16-bit mono PCM the fixture way — a
    * malformed container throws here (use [[tryDecode]] on untrusted
    * payloads).
    *
    * Canonical RIFF/fmt/data WAVs (the only thing the fixture encoder
    * produces) parse on a DIRECT lock-free path; any other layout —
    * extra chunks, other container types, inconsistent sizes — falls
    * back to the JDK SPI codec verbatim, so fuzzed/corrupt payloads
    * keep the exact accept/reject behavior of `AudioSystem`
    * ([[tryDecode]] semantics and the m12 census are unchanged; the
    * strict fast path only claims payloads both decoders read
    * identically, which AudioSpec pins).
    */
  def decodeAudio(payload: Array[Byte]): (AudioFormat, Array[Short]) = {
    val fast = decodeCanonicalWav(payload)
    if (fast != null) fast else decodeAudioJdk(payload)
  }

  /** Strict canonical-WAV parser: accepts ONLY the exact layout
    * [[writeWavMono16]] emits (44-byte header, PCM tag, mono, 16-bit,
    * sizes consistent with the payload length); returns null for
    * anything else so the caller falls back to the JDK codec.
    */
  private def decodeCanonicalWav(payload: Array[Byte]): (AudioFormat, Array[Short]) = {
    if (payload.length < 44) return null
    def le32(off: Int): Int =
      (payload(off) & 0xFF) | ((payload(off + 1) & 0xFF) << 8) |
        ((payload(off + 2) & 0xFF) << 16) | ((payload(off + 3) & 0xFF) << 24)
    def le16(off: Int): Int =
      (payload(off) & 0xFF) | ((payload(off + 1) & 0xFF) << 8)
    if (payload(0) != 'R' || payload(1) != 'I' || payload(2) != 'F' || payload(3) != 'F' ||
        payload(8) != 'W' || payload(9) != 'A' || payload(10) != 'V' || payload(11) != 'E' ||
        payload(12) != 'f' || payload(13) != 'm' || payload(14) != 't' || payload(15) != ' ')
      return null
    val dataLen = le32(40)
    if (le32(4) != 36 + dataLen || le32(16) != 16 || le16(20) != 1 ||
        le16(22) != 1 || le16(32) != 2 || le16(34) != 16 ||
        payload(36) != 'd' || payload(37) != 'a' || payload(38) != 't' || payload(39) != 'a' ||
        dataLen < 0 || dataLen % 2 != 0 || payload.length != 44 + dataLen)
      return null
    val rate = le32(24)
    if (rate <= 0 || le32(28) != rate * 2) return null
    val n = dataLen / 2
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      out(i) = (((payload(44 + i * 2 + 1) & 0xFF) << 8) | (payload(44 + i * 2) & 0xFF)).toShort
      i += 1
    }
    (new AudioFormat(rate.toFloat, 16, 1, true, false), out)
  }

  /** The JDK-SPI decoder the fast path fronts — the fallback for
    * non-canonical containers, and the reference AudioSpec pins the
    * fast path against.
    */
  private[graft] def decodeAudioJdk(payload: Array[Byte]): (AudioFormat, Array[Short]) = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    try {
      val f = in.getFormat
      require(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
        f.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
        s"unsupported audio format: $f")
      val bytes = in.readAllBytes()
      val n = bytes.length / 2
      val out = new Array[Short](n)
      var i = 0
      if (f.isBigEndian)
        while (i < n) {
          out(i) = (((bytes(i * 2) & 0xFF) << 8) | (bytes(i * 2 + 1) & 0xFF)).toShort
          i += 1
        }
      else
        while (i < n) {
          out(i) = (((bytes(i * 2 + 1) & 0xFF) << 8) | (bytes(i * 2) & 0xFF)).toShort
          i += 1
        }
      (f, out)
    } finally in.close()
  }

  /** Total decode for untrusted payloads: corrupt container → None —
    * the skip-bad-records shape (count the Nones, never kill a 100 TB
    * job). AudioSpec fuzzes this with truncations and byte flips.
    */
  def tryDecode(payload: Array[Byte]): Option[(AudioFormat, Array[Short])] =
    try {
      val r = decodeAudio(payload)
      if (r._2.isEmpty) None else Some(r)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode one payload to typed metadata — every field from the
    * DECODED stream. `energy` = Σ s² (fits a long: ≤ 2³⁰ per sample),
    * `ahash` = the shared ·31 fold over unsigned 16-bit sample values
    * (the m1/m2 pixelFold discipline; DuckDB recomputes it as a
    * HUGEINT reduction).
    */
  def decode(docId: Long, payload: Array[Byte]): AudioMeta = {
    val (f, samples) = decodeAudio(payload)
    val rate = f.getSampleRate.toInt
    var energy = 0L
    var hash = 1125899906842597L
    var i = 0
    while (i < samples.length) {
      val s = samples(i).toLong
      energy += s * s
      hash = hash * 31L + (s & 0xFFFFL)
      i += 1
    }
    AudioMeta(docId, samples.length, rate, f.getChannels,
      (samples.length.toLong * 1000L / rate).toInt, energy, hash)
  }

  /** REAL frame-energy features: samples split into `frame`-sized
    * windows, per-window mean |s|/2¹⁵ mean-pooled round-robin into
    * `dim` cells — computed from the actual decoded stream, schema
    * `array<float>` so the ANN operators run on it unchanged (the
    * audio twin of Multimodal.imageFeatures).
    */
  def audioFeatures(samples: Array[Short], dim: Int, frame: Int = 160): Array[Float] = {
    val nf = (samples.length + frame - 1) / frame
    val sums = new Array[Float](dim)
    val counts = new Array[Int](dim)
    var w = 0
    while (w < nf) {
      var acc = 0.0
      var i = w * frame
      val end = math.min(i + frame, samples.length)
      val len = end - i
      while (i < end) { acc += math.abs(samples(i).toInt); i += 1 }
      sums(w % dim) += (acc / len / 32768.0).toFloat
      counts(w % dim) += 1
      w += 1
    }
    Array.tabulate(dim)(i => if (counts(i) == 0) 0f else sums(i) / counts(i))
  }

  /** REAL resample by integer decimation (keep every `factor`-th
    * sample) → re-encode WAV at rate/factor. Deliberately decimation
    * (not interpolation): bit-exact, so tests assert
    * out(i) == source(i·factor) against the fixture formula.
    */
  def decimate(payload: Array[Byte], factor: Int): Array[Byte] = {
    val (f, samples) = decodeAudio(payload)
    val n = (samples.length + factor - 1) / factor
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = samples(i * factor); i += 1 }
    writeWavMono16(out, (f.getSampleRate / factor).toInt)
  }

  // --- Spark plumbing -----------------------------------------------

  /** Documents with a binary audio payload column: a REAL WAV per doc
    * (fixture clip keyed by doc_id — the container has no audio
    * corpus, so clips are generated, but the bytes are genuine RIFF
    * containers round-tripped through the codec).
    */
  def withPayload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // codec is CPU-bound
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, wavPayload(id))))
      .toDF("doc_id", "payload")
  }

  /** Batched decode over partitions — the mapInPandas-batch shape. */
  def decodeBatched(s: SparkSession, dir: String): Dataset[AudioMeta] = {
    import s.implicits._
    withPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        decode(id, bytes)
      }))
  }

  /** The `m3_audio_manifest` query: decoded-audio metadata manifest
    * ordered by doc_id. Oracle-exact: 16-bit PCM through a WAV
    * container is lossless, so DuckDB recomputes every column from
    * the fixture formula (sample list → HUGEINT ·31 fold + integer
    * energy sum).
    */
  def manifest(s: SparkSession, dir: String): DataFrame =
    // ordered(): the codec pipeline is narrow, so a bare orderBy's
    // range-sampling job would decode every clip twice
    graft.Caches.ordered(
      decodeBatched(s, dir).toDF()
        .select(col("doc_id"), col("n_samples"), col("sample_rate"), col("channels"),
          col("duration_ms"), col("energy"), col("ahash")),
      col("doc_id"))

  /** 63-bit energy-profile fingerprint of a decoded clip — the
    * acoustic-fingerprint shape (Chromaprint/Shazam-family: coarse
    * spectro-temporal energy deltas as bits) reduced to what is exact
    * without an FFT: the clip splits into 64 time segments
    * (segment of sample i = `i·64 div n`), and bit b (of 63, MSB
    * first) is the INTEGER cross-multiplied comparison of adjacent
    * segments' mean |sample| — `sv_b·cn_{b+1} > sv_{b+1}·cn_b`. 63
    * bits keep the value non-negative in a signed 64-bit lane, so the
    * DuckDB oracle folds the same bits in plain BIGINT with no
    * unsigned-wrap gymnastics (cf. m2/m3's HUGEINT fold).
    */
  def energySig63(samples: Array[Short]): Long = {
    val n = samples.length
    val sv = new Array[Long](64)
    val cn = new Array[Long](64)
    var i = 0
    while (i < n) {
      val b = (i.toLong * 64L / n).toInt
      sv(b) += math.abs(samples(i).toInt)
      cn(b) += 1
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 63) {
      sig = (sig << 1) | (if (sv(b) * cn(b + 1) > sv(b + 1) * cn(b)) 1L else 0L)
      b += 1
    }
    sig
  }

  // --- m8: VAD / silence segmentation -------------------------------

  /** Fixture sample with PLANTED silence: 160-sample frame
    * `i div 160` is muted when `(frame + doc_id) mod 4 == 0`. The m3
    * clips are wall-to-wall signal, so quiet spans are planted by
    * doc_id arithmetic (§3/t7 discipline) — both engines derive the
    * identical waveform.
    */
  def segSample(docId: Long, i: Int): Short =
    if (math.floorMod(i / 160 + docId, 4L) == 0L) 0 else sample(docId, i)

  /** REAL WAV bytes for the silence-planted clip. */
  def segPayload(docId: Long): Array[Byte] = {
    val n = sampleCount(docId)
    encodeWav(Array.tabulate(n)(i => segSample(docId, i)))
  }

  /** The `m8_vad_segments` query: voice-activity / silence
    * SEGMENTATION — the first pass of every speech-corpus pipeline
    * (ffmpeg silencedetect, WebRTC VAD, Silero's preprocessing):
    * the decoded clip splits into 20 ms (160-sample) frames, each
    * frame classifies silent by an INTEGER loudness threshold
    * (Σ|sample| < frame·256 — no floats), and consecutive same-state
    * frames fold into segments (run-length encoding). Trailing
    * partial frames are out of scope (documented; a real VAD pads).
    *
    * Scale shape: the CLIP is the processing unit (m7/g14's
    * discipline) — decode, frame classification, and the RLE fold all
    * run inside the clip's own split: ZERO shuffle, codec-bound
    * linear, no frame table or per-clip window materializes. Output:
    * one row per segment with its frame span and integer loudness
    * mass. Oracle: DuckDB recomputes per-frame sums from the fixture
    * formula and rebuilds segments with a gaps-and-islands window.
    */
  def vadSegments(s: SparkSession, dir: String, frame: Int = 160,
      perSample: Int = 256): DataFrame = {
    import s.implicits._
    val unsorted = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, segPayload(id)))
        .grouped(BatchSize).flatMap(_.flatMap { case (id, bytes) =>
          val (_, smp) = decodeAudio(bytes)
          val nf = smp.length / frame
          val sums = Array.tabulate(nf) { f =>
            var sa = 0L; var i = f * frame; val end = i + frame
            while (i < end) { sa += math.abs(smp(i).toInt); i += 1 }
            sa
          }
          def silent(f: Int) = sums(f) < frame.toLong * perSample
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Boolean, Int, Int, Long)]
          var f = 0; var seg = 0
          while (f < nf) {
            val st = silent(f)
            var g = f; var mass = 0L
            while (g < nf && silent(g) == st) { mass += sums(g); g += 1 }
            out += ((id, seg, st, f, g - f, mass))
            seg += 1; f = g
          }
          out
        }))
      .toDF("doc_id", "seg_idx", "is_silence", "start_frame", "n_frames", "sum_abs")
    graft.Caches.ordered(unsorted, col("doc_id"), col("seg_idx"))
  }

  /** The `m5_audio_neardup` query: NEAR-DUPLICATE CLIPS across the
    * audio corpus — the audio twin of m4's frame near-dup (re-encodes,
    * re-masters, and silence-padded reposts dominate real audio
    * corpora): every clip decodes (REAL codec path) to its 63-bit
    * energy-profile fingerprint ([[energySig63]]), and clip pairs
    * within Hamming distance `maxHamming` surface as duplicate
    * candidates.
    *
    * Scale shape is d3/m4's: each signature explodes into 4 16-bit
    * chunks; a pair within Hamming ≤ 3 must agree on ≥ 1 chunk
    * (pigeonhole over 4 chunks — lossless blocking), so candidates
    * come from a chunk-keyed equi-join (shuffle ∝ clips·4, never
    * clips²) and the exact `bit_count(xor)` filter keeps true pairs.
    * Oracle: DuckDB recomputes every fingerprint from the fixture
    * formulas (16-bit PCM through WAV is lossless, so the decoded
    * stream IS the formula) and brute-forces the pair join.
    */
  def audioNearDup(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    import s.implicits._
    val sigs = graft.Caches.track(Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { id =>
        (id, energySig63(decodeAudio(famClipPayload(id))._2))
      })).toDF("doc_id", "sig"))
    val chunked = sigs.select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(3))).as("ci"))
      .withColumn("cv", expr("shiftright(sig, ci * 16) & 65535"))
    val cands = chunked.as("x").join(chunked.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.sig").as("sig_a"),
        col("y.doc_id").as("doc_b"), col("y.sig").as("sig_b"))
      .distinct()
    graft.Caches.ordered(
      cands.withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")),
      col("doc_a"), col("doc_b"))
  }

  /** Embedding extraction: binary payload → REAL decode → pooled
    * frame-energy `array<float>` column (composes with Ann.*).
    */
  def extractFeatures(s: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    import s.implicits._
    withPayload(s, dir).as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
        (id, audioFeatures(decodeAudio(bytes)._2, dim))
      }))
      .toDF("doc_id", "embedding")
  }

  /** m11: CLIPPING / LOUDNESS audit per clip — the mastering-QA pass
    * every audio-ingest pipeline runs before feature extraction
    * (ffmpeg `astats`/EBU R128 reduced to what is integer-exact
    * without a filterbank): REAL WAV decode → peak |sample|, samples
    * at-or-above the clip threshold, integer loudness Σ|sample|, and
    * three per-mille integer ratios (mean level, headroom below
    * full-scale, clipped fraction). Everything is computed INSIDE the
    * clip's own split (the m7/m8/g14 discipline — ZERO shuffle,
    * codec-bound linear); all divisions see non-negative operands so
    * truncation ≡ floor in any engine. PCM-through-WAV is lossless ⇒
    * the oracle recomputes every column from the fixture formula.
    */
  def clippingAudit(s: SparkSession, dir: String,
      clipThreshold: Int = 32700): DataFrame = {
    import s.implicits._
    graft.Caches.ordered(
      withPayload(s, dir).as[(Long, Array[Byte])]
        .mapPartitions(_.grouped(BatchSize).flatMap(_.map { case (id, bytes) =>
          val sm = decodeAudio(bytes)._2
          var peak = 0; var nc = 0L; var sa = 0L; var i = 0
          while (i < sm.length) {
            val a = math.abs(sm(i).toInt) // abs(−32768)=32768 fits Int
            if (a > peak) peak = a
            if (a >= clipThreshold) nc += 1
            sa += a; i += 1
          }
          val n = sm.length.toLong
          ClipAudit(id, sm.length, peak, nc, sa,
            sa * 1000L / n, (32768L - peak) * 1000L / 32768L, nc * 1000L / n)
        }))
        .toDF(),
      col("doc_id"))
  }
}

case class ClipAudit(doc_id: Long, n_samples: Int, peak: Int,
    n_clipped: Long, sum_abs: Long, mean_abs_x1000: Long,
    headroom_pm: Long, clip_pm: Long)
