package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Left-fold dot product over two Array[Double] columns as a native
  * codegen Catalyst expression.
  *
  * Spark's built-in route (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is
  * evaluated on the interpreted path and allocates an intermediate array
  * per row — at 100 TB the pairwise-similarity joins spend all their time
  * there. This expression compiles to a tight primitive loop while keeping
  * the exact ascending-index IEEE addition order, so results stay
  * bit-identical to the interpreted version AND to the DuckDB oracle's
  * `list_reduce(list_transform(generate_series(...)))` twin.
  *
  * Evaluates over min(len(a), len(b)) elements; null if either side is
  * null (standard BinaryExpression null propagation). Null elements
  * contribute 0 (embeddings are non-null in practice).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<double> arguments, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getDouble(i) * y.getDouble(i)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $acc += $a.getDouble($i) * $b.getDouble($i);
          }
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** PQ encode (argmin per subspace + reconstruction error) as ONE native
  * codegen expression with LOOPS over the codebook.
  *
  * The declarative form — M×K unrolled `struct(dist, j)` terms inside
  * `array_min(array(...))`, 1,024 literal subtractions at M=8, K=16,
  * D=8 — generates a `processNext()` past janino's 64 KB method limit,
  * so the WHOLE stage silently falls back to interpreted execution
  * (ERROR CodeGenerator … Code grows beyond 64 KB): exactly the hot
  * scan projection [[graft.operators.Similarity.pqEncodeScan]] exists
  * to keep cheap at 100 TB. Three nested `for` loops compile to a few
  * hundred bytes instead, and the stage stays whole-stage-compiled.
  *
  * Arithmetic order matches the unrolled form bit-for-bit (ascending-i
  * left-fold per distance, strict `<` argmin = first/lowest j on ties,
  * ascending-m recon sum) — SimilaritySpec pins the scan variant
  * row-identical to the DuckDB-oracled q161.
  *
  * `cb` is indexed cb(m)(j)(i): M subspaces × K codewords × D dims; the
  * input vector must carry ≥ M·D elements (upstream `normed` raises on
  * any other dimensionality). Null elements contribute x = 0.0 (cannot
  * occur for parquet float embeddings; the guard keeps eval total). */
case class PqEncodeCodes(child: Expression, cb: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types._

  require(cb.nonEmpty && cb.forall(_.length == cb(0).length) &&
    cb.forall(_.forall(_.length == cb(0)(0).length)),
    "pq_encode codebook must be rectangular (M x K x D)")

  private val M = cb.length
  private val K = cb(0).length
  private val D = cb(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<double>, got ${t.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("recon", DoubleType, nullable = false)))
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val codes = new Array[Int](M)
    var recon = 0.0
    var m = 0
    while (m < M) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < K) {
        val cw = cb(m)(j)
        var dist = 0.0
        var i = 0
        while (i < D) {
          val idx = m * D + i
          val x = if (v.isNullAt(idx)) 0.0 else v.getDouble(idx)
          val diff = x - cw(i)
          dist += diff * diff
          i += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      codes(m) = best
      recon += bestD
      m += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(codes), recon))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqcb", cb, "double[][][]")
      val codes = ctx.freshName("codes")
      val recon = ctx.freshName("recon")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val idx = ctx.freshName("idx")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val dist = ctx.freshName("dist")
      val x = ctx.freshName("x")
      val diff = ctx.freshName("diff")
      s"""
        int[] $codes = new int[$M];
        double $recon = 0.0;
        for (int $m = 0; $m < $M; $m++) {
          int $best = 0;
          double $bestD = Double.MAX_VALUE;
          for (int $j = 0; $j < $K; $j++) {
            double $dist = 0.0;
            for (int $i = 0; $i < $D; $i++) {
              int $idx = $m * $D + $i;
              double $x = $a.isNullAt($idx) ? 0.0 : $a.getDouble($idx);
              double $diff = $x - $cbRef[$m][$j][$i];
              $dist += $diff * $diff;
            }
            if ($dist < $bestD) { $bestD = $dist; $best = $j; }
          }
          $codes[$m] = $best;
          $recon += $bestD;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[] {
            new org.apache.spark.sql.catalyst.util.GenericArrayData($codes),
            java.lang.Double.valueOf($recon) });
      """
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

object PqEncodeCodes {
  import org.apache.spark.sql.catalyst.InternalRow

  /** Builder for FunctionRegistry use: `pq_encode(vec, cbLiteral)` where
    * the codebook argument must be a FOLDABLE array<array<array<double>>>
    * (a `typedlit` — the [[DistinctShingles]] literal-argument
    * precedent), evaluated once at plan time. */
  def fromExprs(exprs: Seq[Expression]): PqEncodeCodes = {
    require(exprs.length == 2, "pq_encode(vec, codebook)")
    require(exprs(1).foldable, "pq_encode codebook must be a literal")
    val ad = exprs(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
    val cb = (0 until ad.numElements()).map { m =>
      val am = ad.getArray(m)
      (0 until am.numElements()).map(j => am.getArray(j).toDoubleArray()).toArray
    }.toArray
    PqEncodeCodes(exprs.head, cb)
  }
}

/** Session-level registration for graft's native expressions (Spark 4
  * hides Column→Expression conversion, so custom expressions are exposed
  * through the FunctionRegistry and used via expr("dot_product(...)")). */
object VectorFunctions {
  def register(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product",
      { exprs =>
        require(exprs.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(exprs.head, exprs(1))
      },
      "built-in")
    classic.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_encode", PqEncodeCodes.fromExprs, "built-in")
  }
}
