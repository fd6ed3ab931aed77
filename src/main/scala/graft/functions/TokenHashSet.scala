package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document token set of the near-dup joins: the ascending,
  * duplicate-free array of the document's token hashes (`toks`) and its
  * number of distinct tokens (`sz`), as one struct.
  *
  * Tokens are the ones Dedup.shingles emits: split on the literal space,
  * empty tokens dropped, and for n > 1 every window of n tokens joined with
  * one space (WordNgrams). Each distinct token is hashed once with the
  * portable token hash (MinhashBandKeys.tokenHash). `sz` counts distinct
  * tokens, not distinct hashes: two tokens that share a hash count twice.
  *
  * One projection inside the caller's whole-stage class, where an explode,
  * two distinct aggregations and a collect_set each compiled classes of
  * their own. Null text yields null; text with no token yields an empty
  * array and 0.
  */
case class TokenHashSet(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"token_hash_set expects a positive n, got $n")

  override def prettyName: String = "token_hash_set"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"token_hash_set expects a string column, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("toks", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sz", LongType, nullable = false)))

  private val space = UTF8String.fromString(" ")

  /** The struct of one text; public so generated code can call it through
    * the expression reference object.
    */
  def compute(s: UTF8String): InternalRow = {
    val parts = s.split(space, -1).filter(_.numBytes() > 0)
    val seen = new java.util.HashSet[UTF8String]()
    for (i <- 0 to parts.length - n)
      seen.add(if (n == 1) parts(i) else UTF8String.concatWs(space, parts.slice(i, i + n).toIndexedSeq: _*))
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](seen.size)
    var k = 0
    val it = seen.iterator()
    while (it.hasNext) { hashes(k) = MinhashBandKeys.tokenHash(md, it.next()); k += 1 }
    java.util.Arrays.sort(hashes)
    // drop repeated hashes in place: the verify merge needs a set
    var m = 0
    for (h <- hashes if m == 0 || hashes(m - 1) != h) { hashes(m) = h; m += 1 }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hashes, m)), seen.size.toLong)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenHashSet", this, classOf[TokenHashSet].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}
