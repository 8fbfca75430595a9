package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** All nTables sign-LSH bucket ids of a vector as ONE fused expression
  * returning array<long> (element t = the nBits-bit signature in table
  * t).
  *
  * Why fused (r16, found by a stage profile at the 100× decade,
  * SCALE_r16.md §6b): the previous formulation was an expression
  * FOREST — nTables × nBits independent DotProduct nodes under
  * CaseWhens, ORs, structs and an array constructor. Valued, that
  * forest cost 300–600 µs/row (96
  * separate 64-element loops, each re-reading the vector from ArrayData,
  * with the generated code past the JIT's happy path) — 60.5 s of
  * q_lsh_topk's 62 s at sfp100 was THIS, misattributed to the candidate
  * join (whose own cost is < 1 s; nested-column pruning had made
  * count()-based probes lie). The fused kernel reads the vector ONCE
  * into a local double[], then runs the nTables×nBits×dim loop nest
  * against a single constant hyperplane matrix.
  *
  * Bit-parity with the forest form: per-plane dot is the identical
  * strict in-order fold (i ascending; float children widened exactly),
  * the sign test is the identical `>= 0`, bit b contributes 1L << b —
  * so every bucket id is unchanged (pinned in AnnSpec against the
  * per-bit scalar recompute).
  */
case class SignLshBuckets(child: Expression, nTables: Int, nBits: Int,
    dim: Int, seed: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sign_lsh_buckets needs array<float>/array<double>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "sign_lsh_buckets"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** (nTables·nBits) × dim constant hyperplane matrix, row t·nBits+b =
    * Ann.hyperplane(t, b, dim, seed) — the same driver-side seeded PRNG
    * the forest form embedded per-dot as typedlit literals. */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nTables * nBits)(i =>
      graft.operators.Ann.hyperplane(i / nBits, i % nBits, dim, seed))

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), dim)
    val v = new Array[Double](dim)
    var i = 0
    val fl = isFloat
    while (i < n) {
      v(i) = if (fl) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val pl = planes(t * nBits + b)
        var sum = 0.0
        var j = 0
        while (j < dim) { sum += v(j) * pl(j); j += 1 }
        if (sum >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val v = ctx.freshName("v")
      val bks = ctx.freshName("bks")
      val t = ctx.freshName("t")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val bucket = ctx.freshName("bucket")
      val pl = ctx.freshName("pl")
      val rd = if (isFloat) s"(double) $c.getFloat($i)" else s"$c.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($c.numElements(), $dim);
         |double[] $v = new double[$dim];
         |for (int $i = 0; $i < $n; $i++) { $v[$i] = $rd; }
         |long[] $bks = new long[$nTables];
         |for (int $t = 0; $t < $nTables; $t++) {
         |  long $bucket = 0L;
         |  for (int $b = 0; $b < $nBits; $b++) {
         |    double[] $pl = $planesRef[$t * $nBits + $b];
         |    double $sum = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) { $sum += $v[$j] * $pl[$j]; }
         |    if ($sum >= 0) { $bucket |= (1L << $b); }
         |  }
         |  $bks[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bks);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): SignLshBuckets = copy(child = newChild)
}

object LshSignature {
  /** Column wrapper: all-table sign-LSH bucket ids as array<long>. */
  def signLshBucketsArr(vec: Column, nTables: Int, nBits: Int, dim: Int,
      seed: Int = 42): Column =
    GraftBridge.column(SignLshBuckets(
      GraftBridge.expression(vec), nTables, nBits, dim, seed))
}
