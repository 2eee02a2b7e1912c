package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native codegen'd signed random projection: int8-quantize a float
  * embedding (symmetric 127/max|x| scale — the
  * [[graft.operators.Similarity.quantizeInt8]] law) and project it to
  * `k` dims through the deterministic ±1 sign hash of
  * [[graft.operators.Similarity.randProj]], in ONE pass per row.
  *
  * The HOF form (`aggregate` over `zip_with` with a k-array
  * accumulator) evaluates interpretively: two closure dispatches,
  * boxed longs, and a fresh k-element array per input element —
  * measured 3.1 s for the sf0.1 bench entry. This expression compiles
  * to a primitive d×k multiply-add loop inside whole-stage codegen
  * (measured ~30× on the same entry) — the §2.9 preference order:
  * built-in first, native `Expression` where the built-in shape is the
  * bottleneck, UDF never.
  *
  * Exactness (the oracle replays every step): quantization rounds
  * HALF_UP over `BigDecimal.valueOf`, bit-identical to Spark's
  * `round()` and DuckDB's `round()`; the sign is pure integer
  * arithmetic; products are summed as longs (|q| ≤ 127, d = 64 —
  * overflow unreachable). Null elements contribute 0; an all-zero or
  * empty vector projects to k zeros (scale 0), matching the HOF form
  * (parity spec-pinned in RandProjSpec).
  */
case class RandProjExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) if k > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> and k > 0, " +
        s"got ${child.dataType.simpleString}, k=$k")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_randproj"

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    def elem(i: Int): Double =
      if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
    var m = 0d
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) { val v = math.abs(elem(i)); if (v > m) m = v }
      i += 1
    }
    val scale = if (m > 0d) 127.0d / m else 0d
    val acc = new Array[Long](k)
    i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val q = RandProjExpr.roundHalfUp(elem(i) * scale)
        var j = 0
        while (j < k) {
          acc(j) += q * RandProjExpr.sign(i, j)
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val q = ctx.freshName("q")
      val scale = ctx.freshName("scale")
      val acc = ctx.freshName("acc")
      val cls = classOf[RandProjExpr].getName
      val get = if (isFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      s"""
         |int $n = $a.numElements();
         |double $m = 0d;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = java.lang.Math.abs($get($i));
         |    if ($v > $m) $m = $v;
         |  }
         |}
         |double $scale = $m > 0d ? 127.0d / $m : 0d;
         |long[] $acc = new long[$k];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $q = $cls.roundHalfUp($get($i) * $scale);
         |    for (int $j = 0; $j < $k; $j++) {
         |      $acc[$j] += $q * $cls.sign($i, $j);
         |    }
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): RandProjExpr = copy(child = newChild)
}

object RandProjExpr {
  /** Spark `round()` / DuckDB `round()` semantics: decimal HALF_UP
    * over the double's shortest decimal representation (ties away from
    * zero). `BigDecimal.valueOf` IS `Double.toString` — the same path
    * `org.apache.spark.sql.catalyst.expressions.Round` takes, so the
    * quantized cell is bit-identical to `round(x * scale)`. */
  def roundHalfUp(v: Double): Long =
    (java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()).toLong

  /** ±1 sign for projection cell (i, j) of
    * [[graft.operators.Similarity.randProj]]: bit 16 of an LCG seed
    * pushed through one xorshift-multiply round —
    * `h1 = (i·2654435761 + j·1103515245 + 12345) mod 2³¹`,
    * `h2 = h1 xor (h1 >> 13)`, `h3 = (h2·1274126177) mod 2³¹`. The
    * xorshift round is LOAD-BEARING: the raw LCG state is linear in
    * (i, j), so sign(i,·)·sign(i′,·) can be constant across output
    * dims — correlated projection directions, measured norm-ratio
    * tails out to 6× (20σ past the JL bound) on the fixture; with the
    * mix the ratio concentrates exactly as JL predicts (p5/p95 ≈
    * 0.49/1.57 at k=16 — pinned in RandProjSpec). All operands
    * non-negative, so this arithmetic and DuckDB's `%`/`//`/`xor()`
    * agree bit-exactly. */
  def sign(i: Int, j: Int): Long = {
    val h1 = (i * 2654435761L + j * 1103515245L + 12345L) % 2147483648L
    val h2 = h1 ^ (h1 >> 13)
    val h3 = (h2 * 1274126177L) % 2147483648L
    if (((h3 >> 16) & 1L) == 0L) 1L else -1L
  }
}
