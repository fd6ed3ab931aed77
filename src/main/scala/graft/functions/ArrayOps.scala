package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.GraftColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression for the embedding hot path: dot product over two
  * float-array columns, accumulated in double, fully codegen'd.
  *
  * The composed built-in form — aggregate(zip_with(cast, cast, *), 0d, +) —
  * allocates an intermediate array per row and evaluates the lambda
  * interpreted per element; on an O(n²) similarity join that dominates the
  * query. This expression is one tight loop over the two ArrayData buffers,
  * no allocation, inside whole-stage codegen.
  *
  * Semantics are bit-identical to the composed form (and to DuckDB's
  * list_dot_product over double lists): elements are widened float→double,
  * multiplied in double, summed sequentially left-to-right.
  */
case class FloatDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    FloatDotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "float_dot: array length mismatch (" + $n + " vs " + $y.numElements() + ")");
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatDotProduct {
  /** The interpreted kernel, shared with the catalog's `float_dot`. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    // Ragged arrays raise rather than silently truncating: DuckDB's
    // list_dot_product errors on mismatched lengths, and a mixed-dim
    // embedding corpus should fail loudly, not diverge quietly.
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"float_dot: array length mismatch ($n vs ${y.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

/** Native intersection-size over two SORTED distinct bigint arrays — the
  * near-dup verification hot path. The composed form,
  * size(array_intersect(a, b)), builds a hash set and allocates a result
  * array per row; on millions of candidate pairs that allocation dominates.
  * This is a two-pointer merge count: zero allocation, one pass, codegen'd.
  *
  * Callers must supply ascending-sorted, duplicate-free arrays (e.g. from
  * sort_array(collect_set(..))) — with distinct elements the merge count
  * equals set-intersection size exactly.
  */
case class SortedOverlapCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall {
      _.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_overlap expects (array<bigint>, array<bigint>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedOverlapCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $x.getLong($i);
         |  long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedOverlapCount {
  /** The interpreted kernel, shared with the catalog's `sorted_overlap`. */
  def count(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}

/** graft's nine native expressions, from one table.
  *
  * Library code builds them as typed Columns through the builders below, so
  * it never looks a function up by name and never writes to a session's
  * function registry. [[graft.plans.GraftExtensions]] injects the same table
  * into sessions built with the extension; [[register]] is the opt-in for
  * SQL (`expr("float_dot(a, b)")`) on a session built without it.
  */
object ArrayOps {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "float_dot"         -> (a => FloatDotProduct(a(0), a(1))),
    "portable_hll"      -> (a => PortableHllAgg(a(0), p = 6)),
    "sorted_overlap"    -> (a => SortedOverlapCount(a(0), a(1))),
    "char_ngrams"       -> (a => CharNgrams(a(0), a(1))),
    "word_ngrams"       -> (a => WordNgrams(a(0), a(1))),
    "nfc_normalize"     -> (a => NfcNormalize(a(0))),
    "strip_accents"     -> (a => StripAccents(a(0))),
    "minhash_band_keys" -> (a => MinhashBandKeys(a(0), a(1))),
    "hilbert_index"     -> (a => HilbertIndex(a(0))))

  private val byName = functions.toMap

  /** The Column the analyzer would resolve `name(args...)` to. */
  private def call(name: String, args: Column*): Column =
    GraftColumnBridge.column(byName(name)(args.map(GraftColumnBridge.expression)) match {
      case f: AggregateFunction => f.toAggregateExpression()
      case e => e
    })

  def floatDot(a: Column, b: Column): Column = call("float_dot", a, b)
  def portableHll(c: Column): Column = call("portable_hll", c)
  def sortedOverlap(a: Column, b: Column): Column = call("sorted_overlap", a, b)
  def charNgrams(text: Column, n: Int): Column = call("char_ngrams", text, lit(n))
  def wordNgrams(text: Column, n: Int): Column = call("word_ngrams", text, lit(n))
  def nfcNormalize(c: Column): Column = call("nfc_normalize", c)
  def stripAccents(c: Column): Column = call("strip_accents", c)
  /** `input`: a string column (text) or an array<bigint> column (token hashes). */
  def minhashBandKeys(input: Column, bandSize: Int): Column =
    call("minhash_band_keys", input, lit(bandSize))
  def hilbertIndex(coords: Column): Column = call("hilbert_index", coords)

  /** Registers the table in `spark`'s function registry. Idempotent. */
  def register(spark: SparkSession): Unit = functions.foreach { case (name, build) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
  }
}
