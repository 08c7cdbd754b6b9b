package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codec-FREE media header parsing: container format and pixel
  * dimensions read from MAGIC BYTES and fixed-offset/scanned header
  * fields, no image library anywhere — the "multimodal columns" a
  * training pipeline actually filters on (resolution floors,
  * aspect-ratio buckets) BEFORE ever paying for a decode. All three are
  * public, stable file-format facts:
  *
  *  - PNG  (ISO/IEC 15948 §5.2/§11.2.2): 8-byte signature
  *    `89 50 4E 47 0D 0A 1A 0A`, then the IHDR chunk MUST come first —
  *    4-byte length (13), 4-byte type "IHDR", width u32be at byte 16,
  *    height u32be at byte 20.
  *  - JPEG (ITU-T T.81 §B.2): SOI `FF D8`, then a sequence of marker
  *    segments `FF xx` + u16be length (inclusive of the 2 length
  *    bytes); dimensions live in the frame header SOFn (`C0–CF` minus
  *    the non-frame `C4` DHT / `C8` JPG / `CC` DAC): precision u8,
  *    height u16be, width u16be right after the length. The scan walks
  *    segments until a SOF, SOS (`DA` — entropy data follows, no
  *    random access past it), or EOI (`D9`).
  *  - GIF  (GIF87a/89a spec): 6-byte signature `GIF87a`/`GIF89a`, then
  *    the logical screen descriptor — width u16LE at byte 6, height
  *    u16LE at byte 8.
  *
  * Null contract: unrecognized magic → format null (and dims null);
  * recognized magic with a truncated/corrupt header → format set, dims
  * null (a JPEG whose SOF was cut off is still a JPEG — the format
  * filter keeps working while the resolution filter skips the row).
  * Width/height of 0 are malformed (both specs require ≥ 1) → null.
  *
  * Three scalar expressions share one bounded static parse (header
  * prefix only — the JPEG scan is capped at [[MediaHeader.MaxSegments]]
  * segments), each a [[HeaderField]] emitted as a static call inside
  * whole-stage codegen so the payload bytes never leave the scan:
  * `graft_media_format(payload)`, `graft_media_width(payload)`,
  * `graft_media_height(payload)`.
  *
  * Fully DuckDB-oracle-able: every read is a fixed-offset or
  * length-walked byte read, which the oracle restates over `hex(blob)`
  * with substr + `('0x'||…)::INT` arithmetic (the JPEG walk as a
  * recursive CTE). Reference analog: none — beyond-reference
  * training-data surface (the reference's media handling is out of
  * scope entirely).
  */
object MediaHeader extends SqlFunctions {

  /** JPEG segment-walk cap: a real header holds a handful of segments;
    * a malicious/corrupt length chain stops here instead of looping.
    */
  final val MaxSegments = 256

  private def u16be(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  private def u16le(b: Array[Byte], i: Int): Int =
    ((b(i + 1) & 0xff) << 8) | (b(i) & 0xff)

  /** u32be as a Long so a sign-bit-set value (invalid per PNG spec,
    * which caps at 2^31−1) is representable and rejectable.
    */
  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private val PngSig =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && {
      var i = 0
      while (i < 8 && b(i) == PngSig(i)) i += 1
      i == 8
    }

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  /** A JPEG frame-header (SOFn) marker: C0–CF minus C4 (DHT), C8 (JPG
    * extension placeholder), CC (DAC) — T.81 table B.1.
    */
  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  /** (width, height) packed as `w << 32 | h`, or -1 when unparseable —
    * one primitive through the static-call boundary keeps the codegen
    * trivial. Note [[MediaWidth]] and [[MediaHeight]] each call this
    * independently, so serving both columns parses the bounded header
    * prefix twice per row — a few dozen byte reads, cheaper than the
    * plumbing a shared-subexpression struct would add.
    */
  def dims(b: Array[Byte]): Long = {
    if (b == null) return -1L
    var w = -1L
    var h = -1L
    if (isPng(b)) {
      // IHDR must be the first chunk: length 13, type "IHDR"
      if (b.length >= 24 && u32be(b, 8) == 13L &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
        w = u32be(b, 16); h = u32be(b, 20)
      }
    } else if (isGif(b)) {
      if (b.length >= 10) { w = u16le(b, 6).toLong; h = u16le(b, 8).toLong }
    } else if (isJpeg(b)) {
      var pos = 2
      var segs = 0
      var done = false
      while (!done && segs < MaxSegments && pos + 1 < b.length) {
        segs += 1
        if ((b(pos) & 0xff) != 0xff) done = true // lost sync: not a marker
        else {
          val m = b(pos + 1) & 0xff
          if (m == 0xff) pos += 1 // fill byte padding before a marker
          // FF 00 is byte STUFFING (an escaped data 0xFF, not a marker —
          // T.81 §B.1.1.2); legal only inside entropy data, which the
          // header walk never enters, so seeing one means the stream is
          // corrupt: stop (dims stay null) instead of consuming the next
          // two bytes as a segment length and risking resync onto a
          // pseudo-SOF that would serve WRONG dimensions
          else if (m == 0x00) done = true
          else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) pos += 2 // standalone
          else if (m == 0xd9 || m == 0xda) done = true // EOI / SOS: no SOF seen
          else if (isSof(m)) {
            // length u16be, precision u8, height u16be, width u16be
            if (pos + 8 < b.length) {
              h = u16be(b, pos + 5).toLong; w = u16be(b, pos + 7).toLong
            }
            done = true
          } else {
            if (pos + 3 >= b.length) done = true
            else {
              val len = u16be(b, pos + 2)
              if (len < 2) done = true // malformed length chain
              else pos += 2 + len
            }
          }
        }
      }
    }
    // 0 is malformed in all three specs; PNG > 2^31−1 is invalid
    if (w < 1L || h < 1L || w > Int.MaxValue || h > Int.MaxValue) -1L
    else (w << 32) | h
  }

  /** Detected container format from magic bytes, or null. Static:
    * codegen calls this.
    */
  def format(b: Array[Byte]): UTF8String =
    if (b == null) null
    else if (isPng(b)) UTF8String.fromString("png")
    else if (isJpeg(b)) UTF8String.fromString("jpeg")
    else if (isGif(b)) UTF8String.fromString("gif")
    else null

  /** Parsed pixel width, or -1 (→ SQL null). Static: codegen calls this. */
  def width(b: Array[Byte]): Int = {
    val d = dims(b); if (d < 0L) -1 else (d >>> 32).toInt
  }

  /** Parsed pixel height, or -1 (→ SQL null). Static: codegen calls this. */
  def height(b: Array[Byte]): Int = {
    val d = dims(b); if (d < 0L) -1 else (d & 0xffffffffL).toInt
  }

  /** `graft_media_format(payload)` → 'png' | 'jpeg' | 'gif' | null. */
  case class MediaFormat(child: Expression) extends HeaderField("graft_media_format",
      StringType, "graft.functions.MediaHeader.format", MediaHeader.format) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_media_width(payload)` → int | null. */
  case class MediaWidth(child: Expression) extends HeaderField("graft_media_width",
      IntegerType, "graft.functions.MediaHeader.width", MediaHeader.width) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `graft_media_height(payload)` → int | null. */
  case class MediaHeight(child: Expression) extends HeaderField("graft_media_height",
      IntegerType, "graft.functions.MediaHeader.height", MediaHeader.height) {
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // the CONCRETE expression class, so DESCRIBE FUNCTION reports the
  // real implementing class for each of the three functions
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_media_format", classOf[MediaFormat], "payload", 1)(c => MediaFormat(c(0))),
    SqlFunction("graft_media_width", classOf[MediaWidth], "payload", 1)(c => MediaWidth(c(0))),
    SqlFunction("graft_media_height", classOf[MediaHeight], "payload", 1)(c => MediaHeight(c(0))))

  import org.apache.spark.sql.functions.call_function

  def mediaFormat(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_media_format", payload)
  }
  def mediaWidth(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_media_width", payload)
  }
  def mediaHeight(spark: SparkSession, payload: Column): Column = {
    register(spark); call_function("graft_media_height", payload)
  }
}

/** One header field of a binary media payload: `name(payload)` →
  * `resultType` | null, the shape every [[MediaHeader]] and [[AvHeader]]
  * function shares. The field is one bounded static parse, `parse` for
  * interpreted eval and the same method by its fully qualified name,
  * `staticCall`, inside whole-stage codegen, so the payload bytes never
  * leave the scan. The parse returns null (the string fields) or a
  * negative number (the numeric fields) when the header holds no value;
  * both read as SQL null. The payload must be BINARY: any other argument
  * type fails analysis with a type mismatch.
  *
  * Each function keeps its own case class, so DESCRIBE FUNCTION reports
  * the class that implements it.
  */
abstract class HeaderField(name: String, resultType: DataType, staticCall: String,
    parse: Array[Byte] => Any) extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = name

  override protected def nullSafeEval(input: Any): Any =
    parse(input.asInstanceOf[Array[Byte]]) match {
      case n: Number if n.longValue < 0L => null
      case v => v
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val absent = if (resultType == StringType) "== null" else "< 0"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $staticCall($c);
      ${ev.isNull} = ${ev.value} $absent;
    """)
  }
}
