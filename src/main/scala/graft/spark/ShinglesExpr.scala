package graft.spark

import org.apache.spark.sql.{Column, GraftColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Hashing

/**
 * Native Catalyst expression for the shingle hot loop — the per-row
 * tight inner loop of the engine (role of the reference's minimizer
 * hashing, ganon src/ganon-classify/GanonClassify.cpp:646-650).
 *
 * vs a Scala UDF this avoids (a) boxing every hash into java.lang.Long
 * (the result is an UnsafeArrayData over a primitive long[]), (b) the
 * String decode (hashes UTF8String bytes directly), and (c) falling out
 * of whole-stage codegen (doGenCode emits a static call). At 200k rows
 * x ~800 hashes the UDF version allocated ~170M boxed longs; this
 * allocates only primitive arrays per row (the content bytes, the window
 * ring, the minimizer buffer, the dedup's buckets and the result) and
 * boxes nothing.
 */
case class ShinglesExpr(child: Expression, k: Int, w: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingles expects STRING, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    ShinglesExpr.compute(input.asInstanceOf[UTF8String], k, w, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.spark.ShinglesExpr.compute($c, $k, $w, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

object ShinglesExpr {
  /** Static hot-loop entry, called from generated code. */
  def compute(s: UTF8String, k: Int, w: Int, seed: Long): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      Hashing.shinglesBytes(s.getBytes, k, w, seed))

  def col(c: Column, k: Int, w: Int, seed: Long = Hashing.DefaultSeed): Column =
    ExpressionUtils.column(
      ShinglesExpr(ExpressionUtils.expression(c), k, w, seed))
}

/** Whitespace-token 64-bit hashes of a text column — same no-boxing,
  * codegen-friendly design as [[ShinglesExpr]]. `distinct = true` (the
  * set-semantics default, for membership/minhash) dedupes per row;
  * `distinct = false` keeps the token MULTISET (for frequency sketches —
  * a counting consumer fed the deduped form would undercount). */
case class TokenHashesExpr(child: Expression, seed: Long,
    distinct: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"token_hashes expects STRING, got ${child.dataType.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    TokenHashesExpr.compute(input.asInstanceOf[UTF8String], seed, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.spark.TokenHashesExpr.compute($c, ${seed}L, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_token_hashes"
}

object TokenHashesExpr {
  private final val Prime: Long = 0x100000001B3L

  /** Tokenize on ASCII whitespace over raw bytes, hash each token with the
    * same polynomial+mix64 scheme as Hashing.hashString (ASCII-identical). */
  def compute(s: UTF8String, seed: Long): UnsafeArrayData =
    compute(s, seed, distinct = true)

  def compute(s: UTF8String, seed: Long, distinct: Boolean)
      : UnsafeArrayData = {
    val b = s.getBytes
    val len = b.length
    // count the tokens first so the hash buffer is exact-size
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        nTok += 1
        while (i < len && !isWs(b(i))) i += 1
      }
    }
    val out = new Array[Long](nTok)
    var n = 0
    i = 0
    while (i < len) {
      // skip whitespace
      while (i < len && isWs(b(i))) i += 1
      if (i < len) {
        var h = seed
        while (i < len && !isWs(b(i))) { h = h * Prime + (b(i) & 0xFF); i += 1 }
        out(n) = Hashing.mix64(h ^ seed); n += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (distinct) Hashing.sortedDistinct(out) else out)
  }

  @inline private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\t' || c == '\r' || c == '\f' ||
      c == 0x0B // \v — match java's \s semantics for ASCII

  def col(c: Column, seed: Long = Hashing.DefaultSeed,
      distinct: Boolean = true): Column =
    ExpressionUtils.column(
      TokenHashesExpr(ExpressionUtils.expression(c), seed, distinct))
}

/** MinHash signature of a hash-set column as a native expression — the
  * q17-style dedup cost center. A Scala UDF here boxes every input hash
  * into java.lang.Long on the way in AND every signature coordinate on
  * the way out (numPerms x rows allocations); this reads the primitive
  * long[] straight out of ArrayData and emits an UnsafeArrayData, staying
  * inside whole-stage codegen. kPerm mode = the k-independent-permutation
  * estimator (|hs| x numPerms mix64); oph = one-permutation hashing with
  * rotation densification (one mix64 per element). */
case class MinhashSigExpr(child: Expression, numPerms: Int, seed: Long,
    oph: Boolean) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // a NULL hash set maps to the empty-set signature (all Long.MaxValue) —
  // the contract of the UDFs this expression replaced, so downstream
  // band-key generation never sees a null signature
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects ARRAY<BIGINT>, got ${other.catalogString}")
    }

  // perm-seed array is a pure function of (numPerms, seed): resolved once
  // per expression instance; the per-row path must not pay a boxed-tuple
  // map lookup inside the loop this expression exists to de-box
  @transient private lazy val kpermSeeds: Array[Long] =
    if (oph) null else graft.core.MinHash.permSeeds(numPerms, seed)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) MinhashSigExpr.empty(numPerms)
    else MinhashSigExpr.compute(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numPerms, seed, oph, kpermSeeds)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val seedsRef =
      if (oph) "(long[]) null"
      else ctx.addReferenceObj("permSeeds", kpermSeeds, "long[]")
    val resultCode =
      s"""${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  ${childGen.isNull}
         |    ? graft.spark.MinhashSigExpr.empty($numPerms)
         |    : graft.spark.MinhashSigExpr.compute(${childGen.value},
         |        $numPerms, ${seed}L, $oph, $seedsRef);
         |""".stripMargin
    ev.copy(code = code"$resultCode",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

object MinhashSigExpr {
  import graft.core.MinHash

  /** Empty-set signature (also the NULL-input result). */
  def empty(numPerms: Int): UnsafeArrayData =
    UnsafeArrayData.fromPrimitiveArray(Array.fill(numPerms)(Long.MaxValue))

  /** Static hot-loop entry, called from generated code; `kpermSeeds` is
    * the instance-resolved permutation-seed array (null in oph mode). */
  def compute(input: org.apache.spark.sql.catalyst.util.ArrayData,
      numPerms: Int, seed: Long, oph: Boolean,
      kpermSeeds: Array[Long]): UnsafeArrayData = {
    val hs = input.toLongArray()
    val sig =
      if (oph) MinHash.signatureOPH(hs, numPerms, seed)
      else MinHash.signature(hs, kpermSeeds)
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  def col(c: Column, numPerms: Int, seed: Long, oph: Boolean): Column =
    ExpressionUtils.column(
      MinhashSigExpr(ExpressionUtils.expression(c), numPerms, seed, oph))
}
