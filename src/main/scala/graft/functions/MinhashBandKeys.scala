package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash band keys — the one implementation of graft's MinHash
  * banding. It serves the batch LSH join (Dedup.minhashLshPairs, over each
  * document's distinct token-hash array), the incremental near-dup path
  * (Dedup.withBandKeys, over raw text) and its streaming maintainers.
  *
  * The composed built-in form evaluates, per document, one interpreted
  * higher-order `transform` to hash the tokens plus one interpreted
  * `transform` + `array_min` PER SEED (16 at the engine default) — each
  * allocating an intermediate Catalyst array. Measured at sf0.1 that lambda
  * dispatch dominated every consumer of the expression-level banding path
  * (~1 ms/doc). This expression is one pass: fold every seed minimum over
  * the token hashes in a single flat loop, then emit the band key strings.
  * No intermediate arrays, no lambda dispatch, codegen'd via a
  * reference-object call so the surrounding projection stays inside
  * whole-stage codegen.
  *
  * Two inputs share that fold and the key formatter:
  *  - `string`: tokens = split-on-space with empties dropped; each DISTINCT
  *    token is hashed once (md5 → first-8-hex-chars integer, the engine's
  *    portable token hash, Dedup.tokenHash) — min over a multiset equals
  *    min over its distinct set, so that is exact;
  *  - `array<bigint>`: the token hashes themselves (Dedup.minhashLshPairs
  *    passes each document's sorted distinct hash set, so shingled n-gram
  *    tokens need nothing new here); null elements are skipped.
  *
  * Semantics are bit-identical to the composed form (and to the DuckDB
  * oracle's unrolled formulation): per seed i, mh_i = min over hashes of
  * (a_i·h + b_i) mod P in 64-bit arithmetic (a < 2^29, h < 2^32 ⇒ no
  * overflow); band key b = "b:" + its bandSize minima joined with '-' in
  * seed order, so keys of different bands never compare equal. A document
  * with no token yields an EMPTY array, so it never collides with anything.
  * DELIBERATE deviation for NULL input: this expression null-propagates
  * (standard BinaryExpression semantics — the row drops at the downstream
  * explode), where the composed HOF form emitted degenerate non-null keys
  * ("0:", "1:", ...) that made every null-text document collide with every
  * other in one bucket per band. Null text carries no content to band;
  * dropping it is the correct dedup semantics, and no fixture carries null
  * text so the oracles see no difference.
  *
  * Seeds and modulus come from the engine's single source of truth
  * (operators.ext.Dedup.minhashSeeds / minhashP — also the values unrolled
  * into every oracle). `bandSize` must be a foldable positive divisor of the
  * seed count.
  */
case class MinhashBandKeys(child: Expression, bandSizeExpr: Expression)
  extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = bandSizeExpr
  override def prettyName: String = "minhash_band_keys"

  private lazy val bandSize: Int =
    bandSizeExpr.eval(InternalRow.empty).asInstanceOf[java.lang.Integer].intValue()

  private lazy val seedA: Array[Long] =
    graft.operators.ext.Dedup.minhashSeeds.map(_._1).toArray
  private lazy val seedB: Array[Long] =
    graft.operators.ext.Dedup.minhashSeeds.map(_._2).toArray
  private def p: Long = graft.operators.ext.Dedup.minhashP

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!(child.dataType match { case StringType | ArrayType(LongType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckFailure(
        s"minhash_band_keys expects a string or array<bigint> column, got ${child.dataType}")
    else if (bandSizeExpr.dataType != IntegerType || !bandSizeExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_band_keys expects a foldable integer bandSize, got ${bandSizeExpr.sql}")
    else bandSizeExpr.eval(InternalRow.empty) match {
      case i: java.lang.Integer
        if i.intValue() > 0 && seedA.length % i.intValue() == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_band_keys: bandSize must be a positive divisor of ${seedA.length}, got $other")
    }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  private val space = UTF8String.fromString(" ")

  /** Band keys of one text; public so generated code can call it through
    * the expression reference object.
    */
  def compute(s: UTF8String): ArrayData = {
    val parts = s.split(space, -1)
    val mins = newMins()
    // each distinct token hashed once (md5 is the per-token cost; corpus
    // text repeats tokens heavily) — min over the multiset == min over set
    val seen = new java.util.HashSet[UTF8String]()
    val md = java.security.MessageDigest.getInstance("MD5")
    var t = 0
    while (t < parts.length) {
      val tok = parts(t)
      if (tok.numBytes() > 0 && seen.add(tok)) fold(mins, MinhashBandKeys.tokenHash(md, tok))
      t += 1
    }
    keys(mins)
  }

  /** Band keys of one token-hash array; public for generated code. */
  def compute(hashes: ArrayData): ArrayData = {
    val mins = newMins()
    var i = 0
    while (i < hashes.numElements()) {
      if (!hashes.isNullAt(i)) fold(mins, hashes.getLong(i))
      i += 1
    }
    keys(mins)
  }

  private def newMins(): Array[Long] = {
    val mins = new Array[Long](seedA.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    mins
  }

  /** Folds one token hash into every seed minimum. */
  private def fold(mins: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < mins.length) {
      val hv = (seedA(i) * h + seedB(i)) % p
      if (hv < mins(i)) mins(i) = hv
      i += 1
    }
  }

  /** "b:" + band b's minima joined with '-'; no key when no hash was folded
    * (every folded minimum is below P).
    */
  private def keys(mins: Array[Long]): ArrayData =
    if (mins(0) == Long.MaxValue) new GenericArrayData(Array.empty[Any])
    else {
      val nBands = mins.length / bandSize
      val keys = new Array[Any](nBands)
      var b = 0
      while (b < nBands) {
        val sb = new java.lang.StringBuilder(bandSize * 12)
        sb.append(b).append(':')
        var i = b * bandSize
        while (i < (b + 1) * bandSize) {
          if (i > b * bandSize) sb.append('-')
          sb.append(mins(i))
          i += 1
        }
        keys(b) = UTF8String.fromString(sb.toString)
        b += 1
      }
      new GenericArrayData(keys)
    }

  override def nullSafeEval(a: Any, b: Any): Any = a match {
    case s: UTF8String => compute(s)
    case hashes: ArrayData => compute(hashes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBandKeys", this, classOf[MinhashBandKeys].getName)
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = $ref.compute($s);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, bandSizeExpr = newRight)
}

object MinhashBandKeys {
  /** The portable token hash (Dedup.tokenHash): the first 8 hex digits of
    * md5(tok), i.e. its first 4 bytes, as an unsigned integer.
    */
  def tokenHash(md: java.security.MessageDigest, tok: UTF8String): Long = {
    val digest = md.digest(tok.getBytes)
    var h = 0L
    var bi = 0
    while (bi < 4) { h = (h << 8) | (digest(bi) & 0xffL); bi += 1 }
    h
  }
}
