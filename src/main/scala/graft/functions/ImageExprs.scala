package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native magic-bytes image-header metadata — real format/width/height
  * from a binary payload column with ZERO codec dependencies: the header
  * layouts (PNG IHDR, JPEG SOFn segment scan, GIF logical screen
  * descriptor) are fixed public formats, parseable in a few dozen byte
  * reads. This upgrades multimodal metadata from payload passthrough
  * (x12) to genuine decode of the one part of an image a data pipeline
  * filters on (dimensions/format) without ever inflating pixels.
  *
  * Scale shape: a pure per-row projection over the scan — no shuffle, no
  * UDF, and `doGenCode` keeps it inside the whole-stage-codegen span.
  * Unrecognized/truncated payloads yield NULL (filter them, don't
  * crash): at 100 TB a corrupt blob is a certainty, not an edge case.
  */
object ImageExprs {

  /** `image_header_meta(binary)` → struct(format string, width int,
    * height int), or NULL when no known header parses. */
  case class ImageHeaderMeta(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "graft_image_header_meta"

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == BinaryType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a binary column (got ${child.dataType})")

    private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
    private def be16(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 8) | u8(b, i + 1)
    private def be32(b: Array[Byte], i: Int): Int =
      (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) |
        u8(b, i + 3)
    private def le16(b: Array[Byte], i: Int): Int =
      u8(b, i) | (u8(b, i + 1) << 8)

    private def row(fmt: String, w: Int, h: Int): InternalRow =
      InternalRow(UTF8String.fromString(fmt), w, h)

    /** Parse a known image header; null if none matches. Public so the
      * generated code can call back (see doGenCode). */
    def parse(bytes: Array[Byte]): InternalRow = {
      val n = bytes.length
      // PNG: 8-byte signature, then the IHDR chunk is mandatory-first:
      // 4-byte length, "IHDR", width BE32 @16, height BE32 @20
      if (n >= 24 && u8(bytes, 0) == 0x89 && bytes(1) == 'P' &&
          bytes(2) == 'N' && bytes(3) == 'G' && u8(bytes, 4) == 0x0d &&
          u8(bytes, 5) == 0x0a && u8(bytes, 6) == 0x1a &&
          u8(bytes, 7) == 0x0a && bytes(12) == 'I' && bytes(13) == 'H' &&
          bytes(14) == 'D' && bytes(15) == 'R')
        return row("png", be32(bytes, 16), be32(bytes, 20))
      // GIF87a/GIF89a: logical screen descriptor width/height LE16 @6/@8
      if (n >= 10 && bytes(0) == 'G' && bytes(1) == 'I' &&
          bytes(2) == 'F' && bytes(3) == '8' &&
          (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a')
        return row("gif", le16(bytes, 6), le16(bytes, 8))
      // JPEG: SOI then marker segments; dimensions live in the first
      // SOFn frame header (markers C0–CF minus C4/C8/CC):
      // [FF Cn len(2) precision(1) height(2 BE) width(2 BE) ...]
      if (n >= 4 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8) {
        var i = 2
        while (i + 3 < n) {
          if (u8(bytes, i) != 0xff) return null // lost marker sync
          val marker = u8(bytes, i + 1)
          if (marker == 0xff) { i += 1 } // fill byte
          else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd8)) {
            i += 2 // standalone marker, no length field
          } else if (marker == 0xd9) {
            return null // EOI before any SOF
          } else {
            val segLen = be16(bytes, i + 2)
            if (segLen < 2) return null
            if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 &&
                marker != 0xc8 && marker != 0xcc) {
              if (i + 8 >= n) return null // truncated SOF
              return row("jpeg", be16(bytes, i + 7), be16(bytes, i + 5))
            }
            i += 2 + segLen
          }
        }
        return null
      }
      null
    }

    override def nullSafeEval(v: Any): Any = parse(v.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext,
        ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftImgMeta", this,
        classOf[ImageHeaderMeta].getName)
      val rowCls = classOf[InternalRow].getName
      nullSafeCodeGen(ctx, ev, v => s"""
        ${ev.value} = ($rowCls) $ref.parse($v);
        ${ev.isNull} = ${ev.value} == null;
      """)
    }

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** name → builder, single source for both registration paths. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_image_header_meta" -> ((es: Seq[Expression]) => {
      require(es.length == 1,
        s"graft_image_header_meta expects 1 argument (got ${es.length})")
      ImageHeaderMeta(es.head)
    }))

  /** Register in the session (idempotent). */
  def register(spark: SparkSession): Unit =
    NativeFunctions.install(spark, builders)

  def imageHeaderMeta(payload: Column): Column =
    call_function("graft_image_header_meta", payload)
}
