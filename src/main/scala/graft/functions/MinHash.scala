package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 8-component word-3-gram MinHash
  * signature of a text, `struct<s0..s7: bigint>`, in one pass over its
  * UTF-8 bytes, with whole-stage codegen.
  *
  * It is the per-row form of the relational chain the oracle states
  * (`split(text, ' ')` → every contiguous 3-token gram → `sh` = the first
  * 15 hex digits of md5(gram) → per component k the numeric MIN over the
  * doc's shingles of hex digits 8(k mod 4)+1..+8 of md5("a:" || sh) for
  * k < 4, md5("b:" || sh) for k ≥ 4), with no explode, no strings per
  * gram and no aggregate:
  *   - Tokens are `split(text, ' ', -1)`'s: empty tokens from leading,
  *     trailing or repeated spaces count. 0x20 never occurs inside a
  *     multibyte UTF-8 sequence, so splitting the bytes on 0x20 gives
  *     the same tokens as splitting the characters.
  *   - `concat_ws(' ', tok[i], tok[i+1], tok[i+2])` is byte for byte the
  *     range of the text from the start of token i to the end of token
  *     i+2, so gram i is hashed in place.
  *   - The first 15 hex digits of a digest are its first 8 bytes, big
  *     endian, shifted right by 4 (`sh`, 60 bits); 8 hex digits are one
  *     big-endian unsigned 32-bit word, and fixed-width hex orders as its
  *     number, so a running MIN per word equals the MIN of the parsed hex.
  *
  * A null text, or one with fewer than 3 tokens, has no shingle and so no
  * signature: the result is null. Texts are read as valid UTF-8 (Spark's
  * string functions replace malformed bytes before hashing; this kernel
  * hashes the bytes as stored).
  */
case class MinHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MinHash.SignatureType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash expects a string, got $other")
  }

  @transient private lazy val kernel = new MinHashKernel

  override def nullSafeEval(text: Any): Any = kernel.signature(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHashKernel].getName
    val k = ctx.addMutableState(cls, "minHashKernel", v => s"$v = new $cls();")
    nullSafeCodeGen(ctx, ev, text =>
      s"""
         |${ev.value} = $k.signature($text);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash {
  val NumHashes = 8

  val SignatureType: StructType =
    StructType((0 until NumHashes).map(k => StructField(s"s$k", LongType, nullable = false)))

  /** Column face: `signature(text)` is the struct `s0..s7`, null when the
    * text has no word-3-gram. */
  def signature(text: Column): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      MinHash(org.apache.spark.sql.GraftSqlShim.expressionOf(text)))
}

/** The per-row work of [[MinHash]]: one md5 and a reusable digest buffer
  * per instance, so one instance serves one task (codegen makes one per
  * generated class, the interpreted path one per expression copy). */
final class MinHashKernel {
  private val md5 = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  // "a:" / "b:" + at most 19 decimal digits of a non-negative long
  private val seeded = new Array[Byte](2 + 19)
  private val mins = new Array[Long](MinHash.NumHashes)

  private def hash(bytes: Array[Byte], off: Int, len: Int): Unit = {
    md5.update(bytes, off, len)
    md5.digest(digest, 0, 16)
  }

  private def word(i: Int): Long =
    ((digest(i) & 0xffL) << 24) | ((digest(i + 1) & 0xffL) << 16) |
      ((digest(i + 2) & 0xffL) << 8) | (digest(i + 3) & 0xffL)

  /** Fold md5(seed ":" sh) into components `base` .. `base + 3`. */
  private def foldSeeded(seed: Byte, sh: Long, base: Int): Unit = {
    seeded(0) = seed
    seeded(1) = ':'
    var n = sh
    var digits = 1
    while (n >= 10) { n /= 10; digits += 1 }
    n = sh
    var p = 2 + digits - 1
    while (p >= 2) { seeded(p) = ('0' + (n % 10)).toByte; n /= 10; p -= 1 }
    hash(seeded, 0, 2 + digits)
    var j = 0
    while (j < 4) {
      val w = word(4 * j)
      if (w < mins(base + j)) mins(base + j) = w
      j += 1
    }
  }

  def signature(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    // starts(t) = first byte of token t; token t ends at starts(t + 1) - 1
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val tokens = spaces + 1
    if (tokens < 3) return null
    val starts = new Array[Int](tokens + 1)
    var t = 1
    i = 0
    while (i < n) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(tokens) = n + 1
    java.util.Arrays.fill(mins, Long.MaxValue)
    var g = 0
    while (g + 2 < tokens) {
      val from = starts(g)
      hash(bytes, from, starts(g + 3) - 1 - from)
      var head = 0L
      var b = 0
      while (b < 8) { head = (head << 8) | (digest(b) & 0xffL); b += 1 }
      val sh = head >>> 4
      foldSeeded('a', sh, 0)
      foldSeeded('b', sh, 4)
      g += 1
    }
    val out = new Array[Any](MinHash.NumHashes)
    var k = 0
    while (k < MinHash.NumHashes) { out(k) = mins(k); k += 1 }
    new GenericInternalRow(out)
  }
}
