package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Top-`nProbe` IVF cells of a vector as ONE fused codegen kernel — the
  * PqCodesFused pattern applied to the coarse-quantizer assignment
  * (VERDICT r17 #1: the semantic-dedup fit path was never valued-probed;
  * past 32 cells it paid a broadcast-join DISPATCH with an
  * nCells× row explosion — 200k rows × 800 cells = 160M joined rows PER
  * LLOYD PASS at the sfp100 decade — and under it an nCells-term literal
  * struct chain). The fused kernel reads the vector once into the loop
  * nest and runs nCells in-order dot products against a constant
  * centroid reference object: no join, no row amplification, no janino
  * 64 KB wall at any nCells.
  *
  * Output: array<int> of the top-`min(nProbe, nCells)` cell ids by
  * (score DESC, cell DESC). Element 0 is therefore exactly
  * `Ann.assignCell` (argmax with ties toward the larger cell), and the
  * whole array is exactly
  * `transform(slice(reverse(array_sort(cellScores(v))), 1, nProbe), _.cell)`.
  *
  * Bit-parity contract with BOTH prior forms (pinned in AnnSpec):
  *  - per-cell score = strict in-order fold Σ v[j]·c[j] over
  *    j < min(len(v), len(c)) — the DotProduct numeric contract, floats
  *    widened exactly at read;
  *  - ranking by Spark SQL's TOTAL ORDER on (s, cell) structs —
  *    implemented as `(x == y) ? 0 : java.lang.Double.compare(x, y)`
  *    (SQLOrderingUtil.compareDoubles): NaN greatest, ±0.0 EQUAL (so a
  *    +0.0/-0.0 tie falls through to the cell comparison exactly like
  *    array_max / array_sort), ties toward the larger cell via the
  *    ascending-cell scan inserting at `cmp >= 0`;
  *  - a null vector yields null (UnaryExpression null propagation; no
  *    declared corpus carries null embeddings — the literal chain's
  *    null-struct ordering was never exercised either).
  */
case class IvfProbesFused(child: Expression,
    centroids: Array[Array[Double]], nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_probes needs array<float>/array<double>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "ivf_probes"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Output length: slice(…, 1, nProbe) returns what exists. */
  private def outLen: Int = math.min(nProbe, centroids.length)

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val fl = isFloat
    val k = outLen
    val topS = new Array[Double](k)
    val topC = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      val lim = math.min(c.length, n)
      var s = 0.0
      var j = 0
      while (j < lim) {
        val v = if (fl) a.getFloat(j).toDouble else a.getDouble(j)
        s += v * c(j)
        j += 1
      }
      // insertion rank: first slot the new (s, i) beats — beats iff
      // sparkCmp(s, slot) >= 0 (equal score ⇒ the later, larger cell
      // ranks first, matching struct (s, cell) descending order)
      var r = 0
      while (r < filled &&
          !(IvfProbesFused.sparkCmp(s, topS(r)) >= 0)) r += 1
      if (r < k) {
        var t = math.min(filled, k - 1)
        while (t > r) { topS(t) = topS(t - 1); topC(t) = topC(t - 1); t -= 1 }
        topS(r) = s; topC(r) = i
        if (filled < k) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topC, filled))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val centRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val k = outLen
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val topS = ctx.freshName("topS")
      val topC = ctx.freshName("topC")
      val filled = ctx.freshName("filled")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val r = ctx.freshName("r")
      val t = ctx.freshName("t")
      val lim = ctx.freshName("lim")
      val s = ctx.freshName("s")
      val cent = ctx.freshName("cent")
      val cmp = ctx.freshName("cmp")
      val rd = if (isFloat) s"(double) $c.getFloat($j)"
               else s"$c.getDouble($j)"
      s"""
         |int $n = $c.numElements();
         |double[] $topS = new double[$k];
         |int[] $topC = new int[$k];
         |int $filled = 0;
         |for (int $i = 0; $i < $centRef.length; $i++) {
         |  double[] $cent = $centRef[$i];
         |  int $lim = java.lang.Math.min($cent.length, $n);
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $lim; $j++) { $s += $rd * $cent[$j]; }
         |  int $r = 0;
         |  while ($r < $filled) {
         |    int $cmp = ($s == $topS[$r]) ? 0
         |      : java.lang.Double.compare($s, $topS[$r]);
         |    if ($cmp >= 0) break;
         |    $r++;
         |  }
         |  if ($r < $k) {
         |    for (int $t = java.lang.Math.min($filled, $k - 1); $t > $r; $t--) {
         |      $topS[$t] = $topS[$t - 1]; $topC[$t] = $topC[$t - 1];
         |    }
         |    $topS[$r] = $s; $topC[$r] = $i;
         |    if ($filled < $k) $filled++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  java.util.Arrays.copyOf($topC, $filled));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): IvfProbesFused = copy(child = newChild)
}

object IvfProbesFused {
  /** Spark SQL's double total order (SQLOrderingUtil.compareDoubles):
    * ±0.0 equal, NaN greatest — NOT java.lang.Double.compare, whose
    * -0.0 < 0.0 would break a zero-score tie toward the WRONG cell. */
  def sparkCmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)
}

object IvfProbesExpr {
  /** Column wrapper: fused top-nProbe IVF cell ids (descending score,
    * ties toward the larger cell — see IvfProbesFused). */
  def ivfProbesFused(vec: Column, centroids: Seq[Array[Double]],
      nProbe: Int): Column =
    GraftBridge.column(IvfProbesFused(GraftBridge.expression(vec),
      centroids.toArray, nProbe))
}
