package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Map-only DSIR scorer: `dsir_score(text, lut)` -> the document's raw
  * (unrounded) log importance weight under a trained per-cell log-ratio
  * table — the stateless twin of [[graft.ops.Dsir.importanceWeights]].
  *
  * `lut[b]` is the smoothed `ln p̂[b] − ln q̂[b]` for hash cell `b`
  * (cell count = `lut.length`); the features are the same lowercased
  * whitespace unigrams + bigrams, hashed with the same portable 60-bit
  * md5 ([[ShingleHashes.md5Int60]]). The whole table is `buckets`
  * doubles, so it rides the plan as a LITERAL: scoring a 100 TB batch
  * — or an unbounded streaming DataFrame — is one row-local codegen
  * loop with ZERO shuffles and zero state (same design as the d15
  * map-only decontamination). Null text yields null.
  */
case class DsirScore(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"dsir_score requires (string, array<double>), got " +
          s"(${a.simpleString}, ${b.simpleString})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dsir_score"

  protected override def nullSafeEval(text: Any, lut: Any): Any =
    DsirScore.score(text.asInstanceOf[UTF8String], lut.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, l) => s"graft.functions.DsirScore.score($t, $l)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DsirScore =
    copy(left = newLeft, right = newRight)
}

object DsirScore {

  /** Same tokenization as `Dsir.featureRows`: whitespace tokens of the
    * lowercased, space-trimmed text (empty tokens skipped), plus "v w"
    * adjacent-pair bigrams when there are >= 2 tokens. Lowercase and
    * trim are Spark's own (`UTF8String.trim` strips spaces only) and the
    * split keeps trailing empty tokens, as Spark's `split` does: Java's
    * `String.trim` would also strip tabs and newlines, so a doc edged
    * by one would lose the bigrams `featureRows` counts there. */
  def score(text: UTF8String, lut: ArrayData): Double = {
    val b = lut.numElements()
    if (b == 0) return 0.0
    val toks = text.toLowerCase().trim().toString.split("\\s+", -1)
    var s = 0.0
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty)
        s += lut.getDouble((ShingleHashes.md5Int60(toks(i)) % b).toInt)
      i += 1
    }
    if (toks.length >= 2) {
      var j = 0
      while (j < toks.length - 1) {
        val f = toks(j) + " " + toks(j + 1)
        s += lut.getDouble((ShingleHashes.md5Int60(f) % b).toInt)
        j += 1
      }
    }
    s
  }
}
