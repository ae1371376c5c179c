package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle hasher: `shingle_hashes(text, n)` -> array<bigint> of
  * the DISTINCT word n-gram shingle hashes of a text, first-occurrence
  * order — the whole [[graft.ops.Dedup.shingleHashRows]] contract
  * (whitespace tokens of the space-trimmed text; docs shorter than n tokens
  * contribute their whole normalized text as ONE shingle, so empty
  * docs hash the empty string; 60-bit md5 value identical to
  * `Hashing.md5Int`) collapsed into ONE row-local codegen loop.
  *
  * This is what makes fully MAP-ONLY shingle pipelines possible: paired
  * with `bloom_count_in`, benchmark decontamination needs no explode,
  * no groupBy, no shuffle at all — and therefore runs unchanged on a
  * STREAMING DataFrame (stateless). Null text yields null.
  */
case class ShingleHashes(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!right.foldable)
      TypeCheckResult.TypeCheckFailure("shingle_hashes requires a constant n")
    else if (left.dataType != StringType || right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires (string, int), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_hashes"

  @transient private lazy val n: Int = right.eval(null).asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else ShingleHashes.hashes(t.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val textGen = left.genCode(ctx)
    val nStr = n.toString
    ev.copy(code =
      code"""
        ${textGen.code}
        boolean ${ev.isNull} = ${textGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.ShingleHashes.hashes(${textGen.value}, $nStr);
        }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a 60-bit long — bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` (`Hashing.md5Int`). */
  def md5Int60(s: String): Long = {
    val d = md.get()
    d.reset()
    val h = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xFF); i += 1 }
    (v << 4) | ((h(7) & 0xFF) >>> 4)
  }

  /** Distinct shingle hashes, first-occurrence order (see class doc).
    * Trims with `UTF8String.trim` — spaces (0x20) only, exactly what
    * Spark's `trim` does in [[graft.ops.Text.tokens]]; Java's
    * `String.trim` also strips tabs and newlines, and a doc with a
    * leading tab would get different shingles here than in
    * [[graft.ops.Dedup.shingleHashRows]]. */
  def hashes(text: UTF8String, n: Int): ArrayData = {
    val toks = text.trim().toString.split("\\s+", -1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length < n) {
      seen.add(md5Int60(String.join(" ", toks: _*)))
    } else {
      val sb = new java.lang.StringBuilder()
      var i = 0
      val m = toks.length - n + 1
      while (i < m) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(md5Int60(sb.toString))
        i += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
