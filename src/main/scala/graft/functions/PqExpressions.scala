package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Fused native PQ encoder (r16 optimization).
  *
  * graft.ops.Similarity.pqEncode scored every row against m·k codeword
  * literals through `aggregate(zip_with(...))` sub-distances — despite
  * the call-site comment, higher-order-function lambdas are evaluated
  * INTERPRETED, so each row paid ~m·k·dsub boxed lambda invocations
  * plus m·k zip allocations (the q_pq_* family's dominant cost). This
  * expression runs the identical arithmetic — per subspace j the
  * squared L2 to each codeword accumulated left-to-right in element
  * order, the (dist, code) minimum with Spark's NaN-greatest double
  * order and ties to the LOWest code, and the total error summed in
  * subspace order — as one codegen'd loop nest, so codes and err are
  * bit-identical to the HOF formulation and every DuckDB oracle still
  * hash-matches (pinned by PqExprSpec).
  *
  * Output: struct(codes array<int>, err double). Vectors must carry
  * exactly m·dsub non-null elements — a dims/codebook mismatch fails
  * loudly (the Sq8Encode discipline).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "empty codebooks")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
    "ragged codeword dims")

  private def m: Int = codebooks.length
  private def dsub: Int = codebooks.head.head.length

  override def prettyName: String = "pq_encode"
  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("err", DoubleType, nullable = false)))

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType == FloatType || elemType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float|double> input, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != m * dsub)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${a.numElements()} dims but codebooks expect ${m * dsub}")
    val t = elemType
    def x(i: Int): Double =
      if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
    val codes = new Array[Int](m)
    var err = 0.0
    var j = 0
    while (j < m) {
      val base = j * dsub
      val cws = codebooks(j)
      var minD = Double.NaN
      var minC = 0
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var d = 0.0
        var i = 0
        while (i < dsub) { val t0 = x(base + i) - cw(i); d += t0 * t0; i += 1 }
        // Spark's struct/double min: NaN sorts greatest, first (lowest
        // code) wins ties
        if (c == 0 || d < minD ||
            (java.lang.Double.isNaN(minD) && !java.lang.Double.isNaN(d))) {
          minD = d; minC = c
        }
        c += 1
      }
      codes(j) = minC
      err += minD // subspace order, left-to-right — the reduceLeft sum
      j += 1
    }
    InternalRow(new GenericArrayData(codes), err)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbs = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val getX = elemType match {
      case FloatType => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case _ => (a: String, i: String) => s"$a.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(codes, err, j, base, cws, minD, minC, c, cw, d, i, t0, vals) =
        Seq("codes", "err", "j", "base", "cws", "minD", "minC", "c", "cw",
          "d", "i", "t0", "vals").map(ctx.freshName)
      s"""
         |if ($a.numElements() != ${m * dsub}) {
         |  throw new IllegalArgumentException(
         |    "pq_encode: vector has " + $a.numElements() +
         |    " dims but codebooks expect ${m * dsub}");
         |}
         |int[] $codes = new int[$m];
         |double $err = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  int $base = $j * $dsub;
         |  double[][] $cws = $cbs[$j];
         |  double $minD = Double.NaN;
         |  int $minC = 0;
         |  for (int $c = 0; $c < $cws.length; $c++) {
         |    double[] $cw = $cws[$c];
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $dsub; $i++) {
         |      double $t0 = ${getX(a, s"$base + $i")} - $cw[$i];
         |      $d += $t0 * $t0;
         |    }
         |    if ($c == 0 || $d < $minD ||
         |        (Double.isNaN($minD) && !Double.isNaN($d))) {
         |      $minD = $d; $minC = $c;
         |    }
         |  }
         |  $codes[$j] = $minC;
         |  $err += $minD;
         |}
         |Object[] $vals = new Object[] {
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($codes),
         |  java.lang.Double.valueOf($err) };
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($vals);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Squared L2 distance from an array column to a LITERAL query vector,
  * accumulated left-to-right in element order — bit-identical to the
  * `aggregate(zip_with(v, lit(q), (x, y) => (x-y)*(x-y)), 0.0, +)`
  * higher-order formulation it replaces (which ran interpreted, per
  * row, per probe). Lengths must match exactly (loud-failure
  * discipline, cf. Sq8Encode).
  */
case class SqL2ToQuery(child: Expression, query: Seq[Double])
    extends UnaryExpression {
  require(query.nonEmpty, "empty query")
  override def prettyName: String = "sq_l2_to_query"
  override def dataType: DataType = DoubleType

  private def elemType: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType == FloatType || elemType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects an array<float|double> input, got ${child.dataType}")

  @transient private lazy val q: Array[Double] = query.toArray

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() != q.length)
      throw new IllegalArgumentException(
        s"sq_l2_to_query: vector has ${a.numElements()} dims, query has ${q.length}")
    val t = elemType
    var acc = 0.0
    var i = 0
    while (i < q.length) {
      val x = if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
      val d = x - q(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("query", q, "double[]")
    val getX = elemType match {
      case FloatType => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case _ => (a: String, i: String) => s"$a.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(acc, i, d) = Seq("acc", "i", "d").map(ctx.freshName)
      s"""
         |if ($a.numElements() != $qRef.length) {
         |  throw new IllegalArgumentException(
         |    "sq_l2_to_query: vector has " + $a.numElements() +
         |    " dims, query has " + $qRef.length);
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $qRef.length; $i++) {
         |  double $d = ${getX(a, i)} - $qRef[$i];
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PqExpressions {
  /** struct(codes array<int>, err double) of the PQ encoding of `v`
    * under `codebooks` — bit-identical to the HOF formulation.
    */
  def pq_encode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    GraftColumnBridge.column(PqEncode(GraftColumnBridge.expression(v), codebooks))

  /** Squared L2 to a literal query — bit-identical to the HOF fold. */
  def sq_l2_to_query(v: Column, query: Seq[Double]): Column =
    GraftColumnBridge.column(SqL2ToQuery(GraftColumnBridge.expression(v), query))
}
