package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash signature of a token set as ONE native expression: slot
  * `i` of the `k`-slot `array<bigint>` is the minimum over the set's
  * tokens of `xxhash64(i, token)`, i.e. `XXH64` of the token's UTF-8
  * bytes seeded with `XXH64.hashInt(i, 42)` — bit-identical to
  * `min(xxhash64(lit(i), tok))` over the exploded set, including
  * Spark's rule that a null element hashes to the seed alone. An
  * empty set has no signature (null), as it has no group in that
  * aggregate.
  *
  * Per row, so it stays in the caller's codegen stage with no
  * explode, no `k`-column aggregate (over `spark.sql.codegen.maxFields`
  * at k = 128, which drops the aggregate out of codegen) and no
  * shuffle by set id.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"MinHashSignature needs k >= 1 slots, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => // the default (UTF8_BINARY) collation only
      TypeCheckResult.TypeCheckSuccess
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_signature expects array<string> (UTF8_BINARY collation), got $dt")
  }

  private val seeds: Array[Long] =
    Array.tabulate(k)(i => XXH64.hashInt(i, 42L))

  def signature(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return null
    val sig = Array.fill(k)(Long.MaxValue)
    var t = 0
    while (t < n) {
      val tok = if (tokens.isNullAt(t)) null else tokens.getUTF8String(t)
      var i = 0
      while (i < k) {
        val h = if (tok == null) seeds(i) else XXH64.hashUTF8String(tok, seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override def nullSafeEval(input: Any): Any = signature(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHashSignature", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, tokens =>
      s"""
         |${ev.value} = $ref.signature($tokens);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  def apply(tokens: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.SqlBridge
    SqlBridge.column(MinHashSignature(SqlBridge.expression(tokens), k))
  }
}
