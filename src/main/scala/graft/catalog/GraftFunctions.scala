package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

import graft.functions.{FloatDotProduct, SortedOverlapCount}

/** The catalog's V2 FUNCTION surface (`FunctionCatalog` on
  * [[GraftCatalog]]): graft's native scalar kernels, resolvable by plain
  * Spark SQL under the catalog name — `SELECT gcat.system.float_dot(a, b)`
  * — with NO session-extension registration required. This is the public
  * Iceberg `system`-function pattern: a consumer that only attaches the
  * catalog still gets the engine's functions.
  *
  * Each function implements the MAGIC `invoke` method with Spark-internal
  * argument types (`ArrayData`, primitives), so Spark's function
  * resolution compiles the call as a codegen-friendly `Invoke` on this
  * object — no row boxing; `produceResult` remains as the contractual
  * fallback. Semantics are pinned to the session-extension Catalyst
  * expressions ([[graft.functions.FloatDotProduct]],
  * [[graft.functions.SortedOverlapCount]],
  * [[graft.functions.HilbertIndex]]) — FunctionCatalogSpec asserts
  * equality row-for-row so the two spellings can never diverge.
  */
private[catalog] object GraftFunctions {

  /** Functions live in the empty namespace and in `system` (both
    * spellings resolve, the Iceberg convention).
    */
  def namespaces: Seq[Seq[String]] = Seq(Nil, Seq("system"))

  val names: Seq[String] = Seq("float_dot", "sorted_overlap", "hilbert_index")

  def load(ident: Identifier): Option[UnboundFunction] = {
    if (!namespaces.contains(ident.namespace().toSeq)) return None
    ident.name() match {
      case "float_dot"      => Some(FloatDotUnbound)
      case "sorted_overlap" => Some(SortedOverlapUnbound)
      case "hilbert_index"  => Some(HilbertIndexUnbound)
      case _                => None
    }
  }

  private def requireArgs(inputType: StructType, n: Int, name: String,
                          elem: DataType): Unit = {
    require(inputType.fields.length == n,
      s"$name takes $n arguments, got ${inputType.fields.length}")
    inputType.fields.foreach { f =>
      f.dataType match {
        case ArrayType(e, _) if e == elem => ()
        case other => throw new UnsupportedOperationException(
          s"$name expects array<${elem.simpleString}> arguments, got $other")
      }
    }
  }

  object FloatDotUnbound extends UnboundFunction {
    override def name(): String = "float_dot"
    override def description(): String =
      "float_dot(array<float>, array<float>) -> double: dot product, " +
        "double accumulation, length mismatch raises"
    override def bind(inputType: StructType): BoundFunction = {
      requireArgs(inputType, 2, name(), FloatType)
      FloatDotBound
    }
  }

  object FloatDotBound extends ScalarFunction[java.lang.Double] {
    override def name(): String = "float_dot"
    override def canonicalName(): String = "graft.float_dot"
    override def inputTypes(): Array[DataType] =
      Array(ArrayType(FloatType), ArrayType(FloatType))
    override def resultType(): DataType = DoubleType

    /** MAGIC method — FloatDotProduct's own kernel. */
    def invoke(x: ArrayData, y: ArrayData): Double = FloatDotProduct.dot(x, y)

    override def produceResult(input: InternalRow): java.lang.Double =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else invoke(input.getArray(0), input.getArray(1))
  }

  object SortedOverlapUnbound extends UnboundFunction {
    override def name(): String = "sorted_overlap"
    override def description(): String =
      "sorted_overlap(array<bigint>, array<bigint>) -> bigint: " +
        "intersection size of two ASCENDING-sorted distinct arrays " +
        "(two-pointer merge, zero allocation)"
    override def bind(inputType: StructType): BoundFunction = {
      requireArgs(inputType, 2, name(), LongType)
      SortedOverlapBound
    }
  }

  object SortedOverlapBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "sorted_overlap"
    override def canonicalName(): String = "graft.sorted_overlap"
    override def inputTypes(): Array[DataType] =
      Array(ArrayType(LongType), ArrayType(LongType))
    override def resultType(): DataType = LongType

    /** MAGIC method — SortedOverlapCount's own merge count. */
    def invoke(x: ArrayData, y: ArrayData): Long = SortedOverlapCount.count(x, y)

    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else invoke(input.getArray(0), input.getArray(1))
  }

  object HilbertIndexUnbound extends UnboundFunction {
    override def name(): String = "hilbert_index"
    override def description(): String =
      "hilbert_index(array<bigint>) -> bigint: Hilbert distance of 2..6 " +
        "coordinates pre-scaled to [0, 1024); NULL coordinate = bucket 0"
    override def bind(inputType: StructType): BoundFunction = {
      requireArgs(inputType, 1, name(), LongType)
      HilbertIndexBound
    }
  }

  object HilbertIndexBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "hilbert_index"
    override def canonicalName(): String = "graft.hilbert_index"
    override def inputTypes(): Array[DataType] = Array(ArrayType(LongType))
    override def resultType(): DataType = LongType

    /** MAGIC method — HilbertIndex.compute's exact semantics (10-bit
      * coordinates, 2..6 dims, NULL coordinate clusters as bucket 0).
      */
    def invoke(a: ArrayData): Long = {
      val n = a.numElements()
      require(n >= 2 && n <= 6, s"hilbert_index takes 2..6 coordinates, got $n")
      val arr = new Array[Long](n)
      var i = 0
      while (i < n) { arr(i) = if (a.isNullAt(i)) 0L else a.getLong(i); i += 1 }
      graft.functions.HilbertCurve.compute(arr, bits = 10)
    }

    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0)) null else invoke(input.getArray(0))
  }
}
