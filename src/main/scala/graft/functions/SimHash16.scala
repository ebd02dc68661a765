package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 16-bit SimHash over a document's word multiset (ops.Dedup.simhash
  * semantics): each word contributes ±1 per bit position of the first 16 bits
  * of md5(word); the fingerprint bit is the sign of the per-bit sum (tie → 1).
  *
  * Replaces a words×16-bit explode + two aggregations (three shuffles) with a
  * single codegen'd per-row computation — the per-document work is identical,
  * but nothing leaves the scan stage. Arithmetic mirrors the SQL/oracle
  * formulation digit-for-digit (lowercase-hex md5, nibble decode, integer
  * division), so results are byte-identical.
  */
case class SimHash16(child: Expression) extends UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.AbsDataType] = Seq(StringType)

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    SimHash16.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash16.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)

  override def prettyName: String = "simhash16"
}

object SimHash16 {
  /** Static entry point shared by interpreted eval and generated code. */
  def compute(text: UTF8String): UTF8String = {
    if (text == null) return null
    val words = text.toString.trim.split("\\s+")
    val sums = new Array[Int](16)
    val md = MessageDigest.getInstance("MD5")
    var wi = 0
    while (wi < words.length) {
      val digest = md.digest(words(wi).getBytes(UTF_8))
      md.reset()
      // first 4 lowercase-hex digits = first 2 bytes
      var b = 0
      while (b < 16) {
        val nibble = b / 4 match {
          case 0 => (digest(0) >> 4) & 0xf
          case 1 => digest(0) & 0xf
          case 2 => (digest(1) >> 4) & 0xf
          case _ => digest(1) & 0xf
        }
        val shift = 3 - (b % 4)
        val bit = (nibble >> shift) & 1
        sums(b) += 2 * bit - 1
        b += 1
      }
      wi += 1
    }
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < 16) {
      sb.append(if (sums(i) >= 0) '1' else '0')
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def apply(c: Column): Column =
    GraftBridge.column(SimHash16(GraftBridge.expression(c)))
}
