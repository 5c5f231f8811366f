package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY.md §7 /
  * build-prompt preference order: custom `Expression` with `doGenCode`
  * beats composed higher-order functions beats UDFs).
  *
  * Spark's `aggregate`/`zip_with` lambdas are interpreted per element —
  * for a 64-dim dot product that is ~200 boxed lambda invocations per
  * row. These expressions compile to a tight primitive `for` loop inside
  * whole-stage codegen: one fused dot/norm pass, no allocation.
  * Accumulation order matches the higher-order formulation exactly
  * (sequential, double precision), so results are bit-identical and the
  * DuckDB oracles still hash-match.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = elemType(e) == FloatType || elemType(e) == DoubleType
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  protected def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  protected def genGet(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}

/** Fused dot product over two numeric arrays, accumulated in double. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += get(a, ta, i) * get(b, tb, i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, n, dot) = (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("dot"))
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${genGet(elemType(left), a, i)} * ${genGet(elemType(right), b, i)};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused cosine similarity: dot and both norms in one pass; 0.0 when
  * either vector is all-zero (matching graft.ops.Similarity semantics).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val (ta, tb) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, ta, i); val y = get(b, tb, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val Seq(i, n, dot, na, nb, x, y, denom) =
        Seq("i", "n", "dot", "na", "nb", "x", "y", "denom").map(ctx.freshName)
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${genGet(elemType(left), a, i)};
         |  double $y = ${genGet(elemType(right), b, i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** SQ8 encode: array<float|double> -> BINARY int8 codes under fixed
  * per-dimension bounds — the 4x-compressed embedding STORAGE format
  * (one byte per dimension). Code i = floor((x - mn_i) * 255 /
  * (mx_i - mn_i) + 0.5) clamped to 0..255 (0 for constant dims) — the
  * exact IEEE-double formula of graft.ops.Similarity.sq8TopKFromBounds
  * and its DuckDB oracle, so encode -> dequantize replays bit-exactly.
  */
case class Sq8Encode(child: Expression, mn: Seq[Double], mx: Seq[Double])
    extends UnaryExpression {
  require(mn.size == mx.size, "bounds length mismatch")
  override def prettyName: String = "sq8_encode"
  override def dataType: DataType = BinaryType

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
    val t = elemType
    // the bounds are fixed CONFIGURATION, not a second data column (cf.
    // DotProduct's min-length): a dims/bounds mismatch — stale stored
    // bounds after a schema change — would silently emit wrong codes,
    // so it must fail loudly (the bit-exactness discipline everywhere
    // else in this file)
    if (a.numElements() != mn.size)
      throw new IllegalArgumentException(
        s"sq8_encode: vector has ${a.numElements()} dims but bounds have ${mn.size}")
    val n = mn.size
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val span = mx(i) - mn(i)
      if (span > 0.0) {
        val x = if (t == FloatType) a.getFloat(i).toDouble else a.getDouble(i)
        val c = math.floor((x - mn(i)) * 255.0 / span + 0.5)
        val cc = if (c < 0.0) 0.0 else if (c > 255.0) 255.0 else c
        out(i) = cc.toInt.toByte
      } // constant dim: code 0 (dequantizes to mn either way)
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mn", mn.toArray, "double[]")
    val mxRef = ctx.addReferenceObj("mx", mx.toArray, "double[]")
    val getX = elemType match {
      case FloatType => (a: String, i: String) => s"(double) $a.getFloat($i)"
      case _ => (a: String, i: String) => s"$a.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(i, n, out, span, c) =
        Seq("i", "n", "out", "span", "c").map(ctx.freshName)
      s"""
         |if ($a.numElements() != $mnRef.length) {
         |  throw new IllegalArgumentException(
         |    "sq8_encode: vector has " + $a.numElements() +
         |    " dims but bounds have " + $mnRef.length);
         |}
         |int $n = $mnRef.length;
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $span = $mxRef[$i] - $mnRef[$i];
         |  if ($span > 0.0) {
         |    double $c = java.lang.Math.floor(
         |      (${getX(a, i)} - $mnRef[$i]) * 255.0 / $span + 0.5);
         |    $c = ($c < 0.0) ? 0.0 : (($c > 255.0) ? 255.0 : $c);
         |    $out[$i] = (byte) (int) $c;
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Fused SQ8 serving kernel: BINARY int8 codes -> cosine similarity to
  * a dequantized query, WITHOUT materializing the reconstructed
  * vector. Per dimension xhat = mn_i + (code * (mx_i - mn_i)) / 255
  * (the exact multiply-then-divide order of the float path's column
  * expression), then the CosineSimilarity accumulation (dot and both
  * norms per element, denom = sqrt*sqrt) — bit-identical to
  * cosine_sim(dequantized(v), qhat), so the code-table path and the
  * float path return the same rows and one oracle covers both.
  */
case class Sq8CosineToQuery(child: Expression, mn: Seq[Double],
    mx: Seq[Double], qhat: Seq[Double]) extends UnaryExpression {
  require(mn.size == mx.size && mn.size == qhat.size, "length mismatch")
  override def prettyName: String = "sq8_cosine_to_query"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary code column, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any = {
    val codes = v.asInstanceOf[Array[Byte]]
    // bounds/query are configuration: a code-width mismatch (stale
    // bounds vs a re-encoded table) must error, not silently score a
    // truncated prefix — see Sq8Encode
    if (codes.length != mn.size)
      throw new IllegalArgumentException(
        s"sq8_cosine_to_query: ${codes.length} code bytes but bounds have ${mn.size}")
    val n = mn.size
    var dot = 0.0; var nx = 0.0; var nq = 0.0
    var i = 0
    while (i < n) {
      val span = mx(i) - mn(i)
      val x =
        if (span > 0.0) mn(i) + ((codes(i) & 0xff) * span) / 255.0
        else mn(i)
      val q = qhat(i)
      dot += x * q; nx += x * x; nq += q * q
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(nq)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mn", mn.toArray, "double[]")
    val mxRef = ctx.addReferenceObj("mx", mx.toArray, "double[]")
    val qRef = ctx.addReferenceObj("qhat", qhat.toArray, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      val Seq(i, n, dot, nx, nq, span, x, q, denom) =
        Seq("i", "n", "dot", "nx", "nq", "span", "x", "q", "denom")
          .map(ctx.freshName)
      s"""
         |if ($c.length != $mnRef.length) {
         |  throw new IllegalArgumentException(
         |    "sq8_cosine_to_query: " + $c.length +
         |    " code bytes but bounds have " + $mnRef.length);
         |}
         |int $n = $mnRef.length;
         |double $dot = 0.0; double $nx = 0.0; double $nq = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $span = $mxRef[$i] - $mnRef[$i];
         |  double $x = ($span > 0.0)
         |    ? $mnRef[$i] + ((($c[$i]) & 0xff) * $span) / 255.0
         |    : $mnRef[$i];
         |  double $q = $qRef[$i];
         |  $dot += $x * $q; $nx += $x * $x; $nq += $q * $q;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($nq);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The per-CELL (local-bounds) form of [[Sq8CosineToQuery]]: bounds
  * arrive as COLUMNS (array&lt;double&gt; broadcast-joined from the
  * trained per-cell bounds frame) instead of literals, so one fused
  * kernel serves every cell of a locally-quantized IVF+SQ8 table.
  * Scoring is ASYMMETRIC (ADC): the db vector is dequantized per its
  * cell's bounds, the query stays the raw full-precision vector —
  * the Jégou et al. asymmetric-distance shape, which avoids
  * quantizing the query against any one cell's bounds. Per dimension
  * xhat = mn_i + (code * (mx_i - mn_i)) / 255 (the exact order of the
  * global kernel), then the CosineSimilarity accumulation.
  */
case class Sq8CosineToQueryCols(codes: Expression, mn: Expression,
    mx: Expression, qhat: Seq[Double])
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "sq8_cosine_to_query_cols"
  override def dataType: DataType = DoubleType
  override def first: Expression = codes
  override def second: Expression = mn
  override def third: Expression = mx

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (codes.dataType == BinaryType && isDoubleArray(mn) && isDoubleArray(mx))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary, array<double>, array<double>), got " +
        s"${codes.dataType} / ${mn.dataType} / ${mx.dataType}")

  override def nullSafeEval(c: Any, mnv: Any, mxv: Any): Any = {
    val cs = c.asInstanceOf[Array[Byte]]
    val mnA = mnv.asInstanceOf[ArrayData]
    val mxA = mxv.asInstanceOf[ArrayData]
    // configuration-mismatch discipline (see Sq8Encode): stale bounds
    // must error, never silently truncate
    if (cs.length != qhat.size || mnA.numElements() != qhat.size ||
        mxA.numElements() != qhat.size)
      throw new IllegalArgumentException(
        s"$prettyName: codes=${cs.length} mn=${mnA.numElements()} " +
          s"mx=${mxA.numElements()} but query has ${qhat.size} dims")
    var dot = 0.0; var nx = 0.0; var nq = 0.0
    var i = 0
    while (i < cs.length) {
      val m = mnA.getDouble(i)
      val span = mxA.getDouble(i) - m
      val x = if (span > 0.0) m + ((cs(i) & 0xff) * span) / 255.0 else m
      val q = qhat(i)
      dot += x * q; nx += x * x; nq += q * q
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(nq)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qhat", qhat.toArray, "double[]")
    nullSafeCodeGen(ctx, ev, (c, mnA, mxA) => {
      val Seq(i, dot, nx, nq, m, span, x, q, denom) =
        Seq("i", "dot", "nx", "nq", "m", "span", "x", "q", "denom")
          .map(ctx.freshName)
      s"""
         |if ($c.length != $qRef.length || $mnA.numElements() != $qRef.length ||
         |    $mxA.numElements() != $qRef.length) {
         |  throw new IllegalArgumentException(
         |    "sq8_cosine_to_query_cols: codes=" + $c.length +
         |    " mn=" + $mnA.numElements() + " mx=" + $mxA.numElements() +
         |    " but query has " + $qRef.length + " dims");
         |}
         |double $dot = 0.0; double $nx = 0.0; double $nq = 0.0;
         |for (int $i = 0; $i < $c.length; $i++) {
         |  double $m = $mnA.getDouble($i);
         |  double $span = $mxA.getDouble($i) - $m;
         |  double $x = ($span > 0.0)
         |    ? $m + ((($c[$i]) & 0xff) * $span) / 255.0
         |    : $m;
         |  double $q = $qRef[$i];
         |  $dot += $x * $q; $nx += $x * $x; $nq += $q * $q;
         |}
         |double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($nq);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(codes = f, mn = s, mx = t)
}

object VectorExpressions {
  /** Column helpers. */
  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def sq8_encode(v: Column, mn: Seq[Double], mx: Seq[Double]): Column =
    GraftColumnBridge.column(Sq8Encode(
      GraftColumnBridge.expression(v), mn, mx))

  def sq8_cosine_to_query(codes: Column, mn: Seq[Double], mx: Seq[Double],
      qhat: Seq[Double]): Column =
    GraftColumnBridge.column(Sq8CosineToQuery(
      GraftColumnBridge.expression(codes), mn, mx, qhat))

  def sq8_cosine_to_query_cols(codes: Column, mn: Column, mx: Column,
      qhat: Seq[Double]): Column =
    GraftColumnBridge.column(Sq8CosineToQueryCols(
      GraftColumnBridge.expression(codes), GraftColumnBridge.expression(mn),
      GraftColumnBridge.expression(mx), qhat))

  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Register as SQL functions so `spark.sql` users get them too. */
  def registerAll(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
  }
}
