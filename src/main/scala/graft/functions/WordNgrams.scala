package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native generator (UDTF surface, SURVEY.md §2.10): sliding word n-grams of
  * a string column as (pos, ngram) rows — the shingling primitive behind
  * word-level near-dup, n-gram Jaccard, bigram frequency, and n-gram
  * decontamination.
  *
  * The composed built-in form
  * (`explode(transform(sequence(...), i -> concat_ws(' ', slice(ws, i, n))))`)
  * evaluates three nested higher-order-function lambdas interpreted per
  * element and materializes the full window array per row before the explode
  * starts. This generator tokenizes once and emits windows lazily: no
  * Catalyst array, no lambda dispatch, rows stream straight into the
  * downstream aggregate.
  *
  * Semantics match `filter(split(s, ' '), x -> x != '')` windows joined with
  * a single space: split on the literal-space regex, empty tokens dropped
  * (so runs of spaces collapse), `pos` 1-based over the token sequence.
  * Null input or fewer than n tokens generates nothing. `n` must be a
  * foldable positive integer.
  *
  * Generated code calls [[ngrams]] through the expression reference object,
  * so the Generate node stays inside its whole-stage class instead of
  * breaking the stage into two compiled classes and an interpreted row
  * projection between them.
  */
case class WordNgrams(child: Expression, nExpr: Expression) extends Generator {

  override def children: Seq[Expression] = Seq(child, nExpr)
  override def prettyName: String = "word_ngrams"

  private lazy val n: Int = nExpr.eval(InternalRow.empty) match {
    case i: java.lang.Integer => i.intValue()
    case other => throw new IllegalArgumentException(
      s"word_ngrams: n must evaluate to an integer, got $other")
  }

  private val space = UTF8String.fromString(" ")

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects a string column, got ${child.dataType}")
    else if (nExpr.dataType != IntegerType || !nExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects a foldable integer n, got ${nExpr.sql}")
    else nExpr.eval(InternalRow.empty) match {
      // n is foldable, so its value is known at analysis time: reject
      // non-positive n here so misuse fails loudly instead of silently
      // generating zero rows at runtime.
      case i: java.lang.Integer if i.intValue() > 0 => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects a positive n, got $other")
    }
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("ngram", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ngrams(child.eval(input).asInstanceOf[UTF8String])

  /** The (pos, ngram) rows of one text; public for generated code. */
  def ngrams(v: UTF8String): IterableOnce[InternalRow] =
    if (v == null) Iterator.empty
    else {
      // UTF8String.split mirrors SQL split(str, ' ') exactly (regex, limit
      // -1); dropping zero-byte tokens matches the filter(x != '') step.
      val parts = v.split(space, -1).filter(_.numBytes() > 0)
      if (parts.length < n) Iterator.empty
      else (0 to parts.length - n).iterator.map { i =>
        InternalRow(i + 1,
          UTF8String.concatWs(space, parts.slice(i, i + n).toIndexedSeq: _*))
      }
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
    val in = child.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |scala.collection.IterableOnce<InternalRow> ${ev.value} =
      |  $ref.ngrams(${in.isNull} ? null : ${in.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1))
}
