package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Native nearest-centroid assignment over an `array<double>` column
  * against a DRIVER-COLLECTED centroid table (KB-scale by contract —
  * the same bounded reduction any broadcast-variable build performs).
  *
  * Returns `struct<bucket int, ccos double>`: the max-cosine centroid
  * with the score ROUNDED to 6dp before the argmax and ties broken to
  * the LOWEST cid — exactly the `q_ann_ivf` convention the previous
  * formulation implemented as `array_max` over an array of
  * per-centroid struct branches. That expression-tree form is
  * O(k) BRANCHES in the plan: at k = 128 it folds ~8k literal doubles
  * into the tree, blowing past whole-stage-codegen method limits and
  * making Catalyst analysis itself scale with k — which inverted the
  * SemDeDup k ∝ N recipe's measured curve (the probe got SLOWER with
  * more centroids even as the bucket-local quadratic shrank). Here the
  * centroid matrix rides along as a referenced object (one plan node
  * at ANY k) and the scan loops k×d in compiled code, so growing k
  * with the corpus costs flops, not plan size.
  *
  * Per-centroid cosine accumulates (dot, |x|², |y|²) in one pass over
  * min(|v|, |cv|) elements in the same order as
  * [[CosineSimilarity]], and rounds with the same
  * `BigDecimal.valueOf(..).setScale(6, HALF_UP)` rule Spark's
  * `round(col, 6)` compiles to (NaN/Infinity pass through unrounded,
  * Spark's guard) — so results are bit-equal to the old
  * round-then-argmax plan and every DuckDB oracle replay is
  * preserved. Comparison uses `Double.compare`, matching Spark's
  * struct ordering (NaN greatest).
  *
  * `cids` must be sorted ascending and parallel to `cents`; keeping
  * the FIRST strict maximum then breaks score ties to the lowest cid.
  */
case class NearestCentroid(child: Expression, cids: Array[Int],
    cents: Array[Array[Double]]) extends UnaryExpression {
  require(cids.length == cents.length && cids.nonEmpty,
    "NearestCentroid needs a non-empty cid-parallel centroid matrix")

  override def dataType: DataType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData].toDoubleArray()
    var bestCid = -1; var bestCos = Double.NegativeInfinity; var j = 0
    while (j < cents.length) {
      val c = NearestCentroid.cosine6(v, cents(j))
      if (bestCid < 0 || java.lang.Double.compare(c, bestCos) > 0) {
        bestCos = c; bestCid = cids(j)
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestCid, bestCos))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cidsRef = ctx.addReferenceObj("cids", cids, "int[]")
      val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
      val bestCid = ctx.freshName("bestCid"); val bestCos = ctx.freshName("bestCos")
      val j = ctx.freshName("j"); val cv = ctx.freshName("cv")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi"); val raw = ctx.freshName("raw")
      val c = ctx.freshName("c")
      s"""
         |int $bestCid = -1; double $bestCos = Double.NEGATIVE_INFINITY;
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  double[] $cv = $centsRef[$j];
         |  int $n = java.lang.Math.min($v.numElements(), $cv.length);
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = $v.getDouble($i);
         |    double $yi = $cv[$i];
         |    $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |  }
         |  double $raw = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |  double $c = (java.lang.Double.isNaN($raw) || java.lang.Double.isInfinite($raw))
         |    ? $raw
         |    : java.math.BigDecimal.valueOf($raw)
         |        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue();
         |  if ($bestCid < 0 || java.lang.Double.compare($c, $bestCos) > 0) {
         |    $bestCos = $c; $bestCid = $cidsRef[$j];
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{ java.lang.Integer.valueOf($bestCid),
         |                java.lang.Double.valueOf($bestCos) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** Cosine of `x` and `y` over min(|x|, |y|) elements, rounded as
    * Spark's `round(_, 6)` rounds a double: the score every stored-IVF
    * rule compares, bit-equal to `round(Embeddings.cosine(x, y), 6)`. */
  private[graft] def cosine6(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x(i); val yi = y(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val raw = dot / (math.sqrt(nx) * math.sqrt(ny))
    if (raw.isNaN || raw.isInfinite) raw
    else java.math.BigDecimal.valueOf(raw)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** The `n` centroids of `cl` nearest to `v`, best first: ordered by
    * (rounded cosine desc, cid asc), the rule [[TopKAgg]] ranks by —
    * the same centroid the expression picks when `n` is 1. */
  private[graft] def nearest(v: Array[Double], cl: Array[(Int, Array[Double])],
      n: Int): Seq[Int] =
    cl.map { case (c, cv) => (cosine6(v, cv), c.toLong) }
      .sortBy(t => (-t._1, t._2)).take(n).map(_._2.toInt).toSeq

  /** Column-API entry point: `cl` as (cid, centroid) pairs, any order
    * (sorted here — ascending cid is what makes first-strict-max break
    * ties to the lowest cid). */
  def apply(v: Column, cl: Array[(Int, Array[Double])]): Column = {
    val sorted = cl.sortBy(_._1)
    GraftBridge.column(NearestCentroid(GraftBridge.expression(v),
      sorted.map(_._1), sorted.map(_._2)))
  }
}
