package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codec-FREE audio/video container header parsing — the m07 extension
  * of the [[MediaHeader]] family (PNG/JPEG/GIF) to WAV and MP4: sample
  * rate, channel count, bit depth, and duration read from MAGIC BYTES
  * and chunk/box walks, no audio/video library anywhere. These are the
  * metadata a 100 TB training pipeline filters on (sample-rate floors,
  * mono/stereo routing, duration buckets) BEFORE ever paying for a
  * decode — and because only declared HEADER fields are read, the parse
  * works on a truncated object prefix (read the first KB of each blob,
  * never the payload), which is exactly how a pre-filter scans a lake.
  * All reads are public, stable file-format facts:
  *
  *  - WAV (RIFF, Microsoft/IBM multimedia spec 1991; RFC 2361 codec
  *    ids): `RIFF` + u32le riff-size + `WAVE`, then a CHUNK WALK — each
  *    chunk is a 4-byte id + u32le size + payload, padded to an even
  *    byte boundary (odd-sized chunks carry one pad byte that is NOT
  *    counted in the size field). The `fmt ` chunk holds format u16le,
  *    channels u16le (+2), sample rate u32le (+4), byte rate u32le
  *    (+8), block align u16le (+12), bits/sample u16le (+14); the
  *    `data` chunk's DECLARED size gives the sample count
  *    (size / block-align) and therefore the duration.
  *  - MP4 (ISO/IEC 14496-12 ISO-BMFF): a BOX WALK — each box is a
  *    u32be size (includes the 8-byte header; 1 = u64be largesize
  *    follows, 0 = box extends to EOF) + 4-byte type. The file is
  *    recognized by `ftyp` as the FIRST box's type (§4.3: ftyp must
  *    come first). Duration lives in `moov` → `mvhd` (§8.2.2):
  *    version u8 + flags u24, then v0 = ctime/mtime u32 + timescale
  *    u32 + duration u32, v1 = ctime/mtime u64 + timescale u32 +
  *    duration u64. An all-ones duration means "unknown" per spec →
  *    null.
  *
  * Null contract (mirrors m06): unrecognized magic → format null and
  * every field null; recognized magic with a truncated/corrupt header →
  * format set, fields null (a WAV whose fmt chunk was cut off is still
  * a WAV — the format filter keeps working while the rate filter skips
  * the row). Zero channels / bits / block-align / sample-rate are
  * malformed (a PCM stream cannot have them) → null; a sample rate or
  * field above 2^31−1 is garbage → null. MP4 rows have no fmt fields:
  * sample rate / channels / bits are null by type, duration comes from
  * mvhd. Both walks are bounded at [[AvHeader.MaxChunks]] so a
  * malicious length chain stops instead of looping.
  *
  * Six scalar expressions share the bounded static parses, each a
  * [[HeaderField]] emitted as a static call inside whole-stage codegen
  * so the payload bytes never leave the scan: `graft_av_format`,
  * `graft_av_sample_rate`, `graft_av_channels`, `graft_av_bits`,
  * `graft_av_duration_ms`, `graft_av_frame_count`.
  *
  * Fully DuckDB-oracle-able: every read is a fixed-offset or
  * length-walked byte read, which the oracle restates over `hex(blob)`
  * with substr + `('0x'||…)::INT` arithmetic (both walks as recursive
  * CTEs). Reference analog: none — beyond-reference training-data
  * surface (in-repo template: functions/MediaHeader.scala, m06).
  */
object AvHeader extends SqlFunctions {

  /** Chunk/box-walk cap: real headers hold a handful of chunks; a
    * corrupt length chain stops here instead of looping.
    */
  final val MaxChunks = 64

  /** stts entry cap: a real sample table can run long, but the bounded
    * HEADER prefix a pre-filter reads cannot — beyond this the frame
    * count is "unknown" (null), never a partial sum.
    */
  final val MaxSttsEntries = 4096

  private def u16le(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  private def u32le(b: Array[Byte], i: Int): Long =
    ((b(i + 3) & 0xffL) << 24) | ((b(i + 2) & 0xffL) << 16) |
      ((b(i + 1) & 0xffL) << 8) | (b(i) & 0xffL)

  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def u64be(b: Array[Byte], i: Int): Long =
    (u32be(b, i) << 32) | u32be(b, i + 4)

  private def tag(b: Array[Byte], i: Int, t: String): Boolean =
    b(i) == t.charAt(0) && b(i + 1) == t.charAt(1) &&
      b(i + 2) == t.charAt(2) && b(i + 3) == t.charAt(3)

  private def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && tag(b, 0, "RIFF") && tag(b, 8, "WAVE")

  /** ftyp must be the FIRST box (ISO-BMFF §4.3), so the magic check is
    * its type field at bytes 4–7 (size ≥ 8 keeps the box well-formed).
    */
  private def isMp4(b: Array[Byte]): Boolean =
    b.length >= 8 && tag(b, 4, "ftyp") && u32be(b, 0) >= 8L

  /** fmt-chunk fields packed as `sampleRate << 32 | channels << 16 |
    * bits`, or -1 when absent/corrupt. Block align is re-derivable but
    * carried separately by [[wavDurationParts]] (it feeds duration
    * only). Bounded: walks at most [[MaxChunks]] chunks of the prefix.
    */
  private def wavFmt(b: Array[Byte]): Long = {
    if (!isWav(b)) return -1L
    var pos = 12L
    var chunks = 0
    while (chunks < MaxChunks && pos + 8 <= b.length) {
      chunks += 1
      val p = pos.toInt
      val size = u32le(b, p + 4)
      if (tag(b, p, "fmt ")) {
        // need the 16 canonical PCM fields present in full
        if (size < 16L || pos + 8 + 16 > b.length) return -1L
        val ch = u16le(b, p + 10).toLong
        val sr = u32le(b, p + 12)
        val bits = u16le(b, p + 22).toLong
        if (ch < 1L || bits < 1L || sr < 1L || sr > Int.MaxValue) return -1L
        return (sr << 32) | (ch << 16) | bits
      }
      pos += 8L + size + (size & 1L) // chunks are word-aligned: odd size -> 1 pad byte
    }
    -1L
  }

  /** `(dataSize / blockAlign) << 20 | ...` doesn't fit; instead return
    * the declared `data` chunk size in bytes, or -1. The size is the
    * DECLARED length — a truncated object prefix still reports the
    * original audio length, by design (see class doc).
    */
  private def wavDataSize(b: Array[Byte]): Long = {
    if (!isWav(b)) return -1L
    var pos = 12L
    var chunks = 0
    while (chunks < MaxChunks && pos + 8 <= b.length) {
      chunks += 1
      val p = pos.toInt
      val size = u32le(b, p + 4)
      if (tag(b, p, "data")) return size
      pos += 8L + size + (size & 1L)
    }
    -1L
  }

  /** Block align (bytes per sample frame) from the fmt chunk, or -1. */
  private def wavBlockAlign(b: Array[Byte]): Long = {
    if (!isWav(b)) return -1L
    var pos = 12L
    var chunks = 0
    while (chunks < MaxChunks && pos + 8 <= b.length) {
      chunks += 1
      val p = pos.toInt
      val size = u32le(b, p + 4)
      if (tag(b, p, "fmt ")) {
        if (size < 16L || pos + 8 + 16 > b.length) return -1L
        val ba = u16le(b, p + 20).toLong
        return if (ba < 1L) -1L else ba
      }
      pos += 8L + size + (size & 1L)
    }
    -1L
  }

  /** mvhd (timescale, duration-in-timescale-units) packed as a walk
    * result: returns duration in MILLISECONDS, or -1. Handles mvhd v0
    * (u32 fields) and v1 (u64 ctime/mtime/duration), size==1 largesize
    * boxes, and size==0 to-EOF boxes; an all-ones duration is "unknown"
    * per §8.2.2 → -1.
    */
  private def mp4DurationMs(b: Array[Byte]): Long = {
    if (!isMp4(b)) return -1L
    var pos = 0L
    var boxes = 0
    while (boxes < MaxChunks && pos + 8 <= b.length) {
      boxes += 1
      val p = pos.toInt
      var size = u32be(b, p)
      var header = 8L
      if (size == 1L) {
        if (pos + 16 > b.length) return -1L
        size = u64be(b, p + 8); header = 16L
      } else if (size == 0L) size = b.length - pos // last box: to EOF
      if (size < header) return -1L // malformed: box smaller than its header
      if (tag(b, p + 4, "moov")) {
        // child walk inside moov, bounded by the moov box extent
        val end = math.min(pos + size, b.length.toLong)
        var cpos = pos + header
        var cboxes = 0
        while (cboxes < MaxChunks && cpos + 8 <= end) {
          cboxes += 1
          val cp = cpos.toInt
          var csize = u32be(b, cp)
          var cheader = 8L
          if (csize == 1L) {
            if (cpos + 16 > end) return -1L
            csize = u64be(b, cp + 8); cheader = 16L
          } else if (csize == 0L) csize = end - cpos
          if (csize < cheader) return -1L
          if (tag(b, cp + 4, "mvhd")) {
            if (cpos + 9 > end) return -1L
            val version = b(cp + 8) & 0xff
            if (version == 0) {
              if (cpos + 28 > end) return -1L
              val ts = u32be(b, cp + 20)
              val dur = u32be(b, cp + 24)
              if (ts < 1L || dur == 0xffffffffL) return -1L // unknown duration
              return dur * 1000L / ts
            } else if (version == 1) {
              if (cpos + 40 > end) return -1L
              val ts = u32be(b, cp + 28)
              val dur = u64be(b, cp + 32)
              if (ts < 1L || dur == -1L || dur < 0L ||
                dur > Long.MaxValue / 1000L) return -1L
              return dur * 1000L / ts
            } else return -1L // unknown mvhd version
          }
          cpos += csize
        }
        return -1L // moov without a parseable mvhd
      }
      pos += size
    }
    -1L
  }

  /** Start offset of the first child box with 4CC `t` within
    * [start,end) — one bounded sibling level of the ISO-BMFF walk with
    * the full size grammar (§4.2: size==1 → u64 largesize follows the
    * type, size==0 → box extends to the container end). -1 = absent,
    * malformed length chain, or walk cap.
    */
  private def findChild(b: Array[Byte], start: Long, end: Long, t: String): Long = {
    var pos = start
    var n = 0
    while (n < MaxChunks && pos + 8 <= end) {
      n += 1
      val p = pos.toInt
      var size = u32be(b, p)
      var header = 8L
      if (size == 1L) {
        if (pos + 16 > end) return -1L
        size = u64be(b, p + 8); header = 16L
      } else if (size == 0L) size = end - pos
      if (size < header) return -1L
      if (tag(b, p + 4, t)) return pos
      pos += size
    }
    -1L
  }

  /** Content start (past the 8- or 16-byte header) of the box at `pos`.
    * Only valid on a pos [[findChild]] returned (sizes pre-validated).
    */
  private def contentStart(b: Array[Byte], pos: Long): Long =
    if (u32be(b, pos.toInt) == 1L) pos + 16 else pos + 8

  /** End offset of the box at `pos`, clamped to the container end.
    * Only valid on a pos [[findChild]] returned.
    */
  private def boxEnd(b: Array[Byte], pos: Long, outerEnd: Long): Long = {
    val p = pos.toInt
    var size = u32be(b, p)
    if (size == 1L) size = u64be(b, p + 8)
    else if (size == 0L) size = outerEnd - pos
    math.min(pos + size, outerEnd)
  }

  private val FrameCountPath = Array("trak", "mdia", "minf", "stbl", "stts")

  /** Total declared sample (frame) count of the FIRST track — the
    * moov→trak→mdia→minf→stbl→stts box walk (§8.6.1.2: stts is
    * version u8 + flags u24 + entry_count u32be + entries of
    * (sample_count u32be, sample_delta u32be); the track's sample
    * count is the sum of the entry sample_counts), read codec-free
    * from header bytes exactly like [[mp4DurationMs]]'s mvhd walk.
    * With the mvhd duration this yields the real frame rate — no
    * demux, no codec. -1 = not MP4 / no parseable stts / stts version
    * not 0 / entry table beyond [[MaxSttsEntries]] or truncated
    * (unknown, never a partial sum); 0 = a genuinely empty sample
    * table. Bounded: ≤ [[MaxChunks]] siblings per level, ≤
    * [[MaxSttsEntries]] entries.
    */
  def frameCount(b: Array[Byte]): Long = {
    if (b == null || !isMp4(b)) return -1L
    val fileEnd = b.length.toLong
    var pos = findChild(b, 0L, fileEnd, "moov")
    if (pos < 0L) return -1L
    var start = contentStart(b, pos)
    var end = boxEnd(b, pos, fileEnd)
    var i = 0
    while (i < FrameCountPath.length) {
      pos = findChild(b, start, end, FrameCountPath(i))
      if (pos < 0L) return -1L
      val ns = contentStart(b, pos)
      end = boxEnd(b, pos, end)
      start = ns
      i += 1
    }
    // start..end = stts content: version u8 (must be 0) + flags u24,
    // entry_count u32be, then (sample_count, sample_delta) u32be pairs
    if (start + 8 > end) return -1L
    val sp = start.toInt
    if ((b(sp) & 0xff) != 0) return -1L
    val ec = u32be(b, sp + 4)
    if (ec > MaxSttsEntries) return -1L
    if (start + 8 + ec * 8L > end) return -1L
    var total = 0L
    var k = 0
    while (k < ec) {
      total += u32be(b, sp + 8 + k * 8)
      k += 1
    }
    total
  }

  /** Detected container format from magic bytes, or null. Static:
    * codegen calls this.
    */
  def format(b: Array[Byte]): UTF8String =
    if (b == null) null
    else if (isWav(b)) UTF8String.fromString("wav")
    else if (isMp4(b)) UTF8String.fromString("mp4")
    else null

  /** Sample rate in Hz from the WAV fmt chunk, or -1 (→ SQL null; MP4
    * rows are -1 — the fmt fields are RIFF-only). Static: codegen.
    */
  def sampleRate(b: Array[Byte]): Int = {
    val f = wavFmt(b); if (f < 0L) -1 else (f >>> 32).toInt
  }

  /** Channel count from the WAV fmt chunk, or -1. Static: codegen. */
  def channels(b: Array[Byte]): Int = {
    val f = wavFmt(b); if (f < 0L) -1 else ((f >>> 16) & 0xffff).toInt
  }

  /** Bits per sample from the WAV fmt chunk, or -1. Static: codegen. */
  def bits(b: Array[Byte]): Int = {
    val f = wavFmt(b); if (f < 0L) -1 else (f & 0xffff).toInt
  }

  /** Declared duration in ms — WAV: (data-size / block-align) samples
    * at the fmt sample rate; MP4: mvhd duration / timescale. -1 → SQL
    * null. Static: codegen calls this.
    */
  def durationMs(b: Array[Byte]): Long = {
    if (b == null) return -1L
    if (isWav(b)) {
      val f = wavFmt(b)
      val ba = wavBlockAlign(b)
      val ds = wavDataSize(b)
      if (f < 0L || ba < 1L || ds < 0L) return -1L
      val sr = f >>> 32
      (ds / ba) * 1000L / sr
    } else mp4DurationMs(b)
  }

  /** `graft_av_format(payload)` → 'wav' | 'mp4' | null. */
  case class AvFormat(child: Expression) extends HeaderField("graft_av_format",
      StringType, "graft.functions.AvHeader.format", AvHeader.format) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_av_sample_rate(payload)` → int Hz | null. */
  case class AvSampleRate(child: Expression) extends HeaderField("graft_av_sample_rate",
      IntegerType, "graft.functions.AvHeader.sampleRate", AvHeader.sampleRate) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_av_channels(payload)` → int | null. */
  case class AvChannels(child: Expression) extends HeaderField("graft_av_channels",
      IntegerType, "graft.functions.AvHeader.channels", AvHeader.channels) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_av_bits(payload)` → int | null. */
  case class AvBits(child: Expression) extends HeaderField("graft_av_bits",
      IntegerType, "graft.functions.AvHeader.bits", AvHeader.bits) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_av_duration_ms(payload)` → long ms | null. */
  case class AvDurationMs(child: Expression) extends HeaderField("graft_av_duration_ms",
      LongType, "graft.functions.AvHeader.durationMs", AvHeader.durationMs) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_av_frame_count(payload)` → long sample/frame count of the
    * first track's stts | null (not MP4 / unparseable / over-cap).
    */
  case class AvFrameCount(child: Expression) extends HeaderField("graft_av_frame_count",
      LongType, "graft.functions.AvHeader.frameCount", AvHeader.frameCount) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_av_format", classOf[AvFormat], "payload", 1)(c => AvFormat(c(0))),
    SqlFunction("graft_av_sample_rate", classOf[AvSampleRate], "payload", 1)(c => AvSampleRate(c(0))),
    SqlFunction("graft_av_channels", classOf[AvChannels], "payload", 1)(c => AvChannels(c(0))),
    SqlFunction("graft_av_bits", classOf[AvBits], "payload", 1)(c => AvBits(c(0))),
    SqlFunction("graft_av_duration_ms", classOf[AvDurationMs], "payload", 1)(c => AvDurationMs(c(0))),
    SqlFunction("graft_av_frame_count", classOf[AvFrameCount], "payload", 1)(c => AvFrameCount(c(0))))

  import org.apache.spark.sql.functions.call_function

  def avFormat(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_format", payload)
  }
  def avSampleRate(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_sample_rate", payload)
  }
  def avChannels(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_channels", payload)
  }
  def avBits(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_bits", payload)
  }
  def avDurationMs(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_duration_ms", payload)
  }
  def avFrameCount(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_av_frame_count", payload)
  }
}
