package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash of a whitespace-tokenized string, as one expression.
  *
  * The pure-Column formulation needs 60 interpreted `aggregate()` passes
  * over the token array per row; this expression does one pass per row
  * in plain JVM code (CodegenFallback — a single virtual call per row,
  * with the whole token loop inside). Token hash = first 15 hex chars of
  * md5 parsed as a 60-bit integer, identical to the portable SQL form
  * used elsewhere (see dedup.SimHash.tokenHash).
  */
/** Thread-local MD5 instances for the md5-60bit kernels: MessageDigest
  * is not thread-safe and `MessageDigest.getInstance` per row is a
  * provider lookup + allocation (it is what `DigestUtils.md5Hex` inside
  * Spark's `md5()` does on every call). Codegen reference objects are
  * shared across concurrent task threads, so the scratch digest must be
  * ThreadLocal (the repo-wide kernel rule). Generated code calls the
  * kernels below as static methods.
  */
object Md5Scratch {
  val md: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
  /** First 15 hex digits of the digest as a 60-bit long — EXACTLY
    * `conv(substring(md5(x), 1, 15), 16, 10)::long` (7 bytes + the high
    * nibble of byte 8, big-endian). */
  def h60(bytes: Array[Byte], off: Int, len: Int): Long = {
    val m = md.get(); m.reset()
    m.update(bytes, off, len)
    val d = m.digest()
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }
  def h60(bytes: Array[Byte]): Long = h60(bytes, 0, bytes.length)
  def h60(s: UTF8String): Long = h60(s.getBytes)

  /** [[RollingFp60]] of one lowercased text. */
  def rollingFp60(s: UTF8String): Long = {
    val text = s.toString
    var acc = 0L
    var start = 0
    val n = text.length
    while (start <= n) {
      var end = text.indexOf(' ', start)
      if (end < 0) end = n
      val h = h60(text.substring(start, end)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc = (acc * 1000003L + h) % 2147483647L
      start = end + 1
    }
    acc
  }
}

/** `conv(substring(md5(x), 1, 15), 16, 10)::long` — the engine-portable
  * 60-bit key hash — as ONE kernel call: the Column chain pays a fresh
  * MessageDigest instance, a 32-char hex string, and a base-16 parse
  * per ROW; this reuses a thread-local digest and reads the 60 bits
  * straight off the digest bytes. Values are bit-identical (gated), so
  * every hash-sample / hash-split / shuffle-rank consumer and its
  * DuckDB oracle are unchanged.
  */
case class Md5Long60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType |
           org.apache.spark.sql.types.BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_long60 expects string or binary, got ${other.sql}")
    }

  override def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => Md5Scratch.h60(s)
    case b: Array[Byte] => Md5Scratch.h60(b)
  }

  // the overload follows the child's Java type (UTF8String or byte[])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Scratch.h60($c)")

  override def prettyName: String = "md5_long60"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The rolling corpus fingerprint `fold(tokens, 0, (acc, w) ->
  * (acc * 1000003 + md5_60bit(w)) % (2^31 - 1))` as one kernel pass.
  * The Column form was an interpreted `aggregate()` lambda evaluating a
  * fresh md5 + conv EXPRESSION TREE per token (higher-order functions
  * are CodegenFallback); this walks the lowercased text once. Token
  * split matches `split(text, " ")` exactly — empty tokens (including a
  * trailing one) participate, as in [[SimHash60]] — so the fingerprints
  * and their DuckDB list_reduce oracle replay unchanged. The input
  * must already be lowercased (callers pass `lower(text)` so case
  * folding stays in Catalyst — no engine/locale divergence).
  */
case class RollingFp60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    Md5Scratch.rollingFp60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Scratch.rollingFp60($c)")

  override def prettyName: String = "rolling_fp60"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash60(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString.toLowerCase
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](60)
    var start = 0
    val n = text.length
    // `start <= n` so a trailing space yields the trailing empty token —
    // split(" ") and DuckDB string_split both keep it
    while (start <= n) {
      var end = text.indexOf(' ', start)
      if (end < 0) end = n
      if (end >= start) { // split(" ") keeps empty tokens; match that
        val tok = text.substring(start, end)
        md.reset()
        val digest = md.digest(tok.getBytes("UTF-8"))
        // first 15 hex chars = high 7.5 bytes → 60 bits
        var h = 0L
        var i = 0
        while (i < 7) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
        h = (h << 4) | ((digest(7) & 0xf0L) >> 4)
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      start = end + 1
    }
    var fp = 0L
    var j = 0
    while (j < 60) { if (sums(j) > 0) fp |= (1L << j); j += 1 }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All pigeonhole band keys of a 60-bit SimHash fingerprint as one
  * array: the fingerprint is cut into `nChunks` contiguous chunks
  * (first `60 % nChunks` chunks one bit wider) and element i is a
  * 64-bit mix of the i-th `chunksPerKey`-combination's chunk values.
  *
  * One expression replaces a C(nChunks, chunksPerKey)-column projection
  * — at (12, 4) that projection is 495 generated expressions, which
  * overflows Janino's 64 KB method limit and drops the whole stage out
  * of codegen; here the combination loop is plain JVM code per row.
  */
case class SimHashBandKeys(child: Expression, nChunks: Int, chunksPerKey: Int)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  private val Bits = 60
  @transient private lazy val widths: Array[Int] = {
    val base = Bits / nChunks; val rem = Bits % nChunks
    Array.tabulate(nChunks)(i => if (i < rem) base + 1 else base)
  }
  @transient private lazy val offsets: Array[Int] = widths.scanLeft(0)(_ + _)
  @transient private lazy val combos: Array[Array[Int]] =
    (0 until nChunks).combinations(chunksPerKey).map(_.toArray).toArray

  private def avalanche(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  override def nullSafeEval(input: Any): Any = {
    val fp = input.asInstanceOf[Long]
    val chunks = new Array[Long](nChunks)
    var i = 0
    while (i < nChunks) {
      chunks(i) = (fp >>> offsets(i)) & ((1L << widths(i)) - 1)
      i += 1
    }
    val out = new Array[Long](combos.length)
    var b = 0
    while (b < combos.length) {
      val c = combos(b)
      var h = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < c.length) { h = avalanche(h ^ chunks(c(j))); j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpression {
  import org.apache.spark.sql.graftshim.{exprToColumn => column, columnToExpr => expression}
  def simhash60(text: Column): Column = column(SimHash60(expression(text)))
  def bandKeys(fp: Column, nChunks: Int, chunksPerKey: Int): Column =
    column(SimHashBandKeys(expression(fp), nChunks, chunksPerKey))
  def md5Long60(key: Column): Column = column(Md5Long60(expression(key)))
  def rollingFp60(loweredText: Column): Column =
    column(RollingFp60(expression(loweredText)))
}
