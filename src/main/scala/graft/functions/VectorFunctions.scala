package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Vector math over `ArrayType(FloatType|DoubleType)` embedding columns.
  *
  * Two tiers:
  *   - pure-`Column` builders (`dot`, `cosine`) composed from the
  *     higher-order functions `zip_with`/`aggregate` — portable, used
  *     where an exact SQL-oracle twin must exist (summation is
  *     sequential in index order, matching a scalar SQL loop);
  *   - [[CosineSimilarity]], a Catalyst `Expression` with `doGenCode`
  *     that compiles to a primitive `double[]` loop — the 100 TB hot
  *     path for ANN scans (no per-element boxing, stays inside
  *     whole-stage codegen).
  *
  * The reference has no vector surface at all (its value types stop at
  * scalars + byte arrays — hadoop-common/.../io/ArrayWritable.java:46);
  * this is part of the LLM-pipeline extension surface.
  */
object VectorFunctions {

  /** Cast array<float> → array<double> elementwise. */
  def toDoubleArray(a: Column): Column = transform(a, _.cast(DoubleType))

  /** Sequential-order dot product (index order, left fold). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity via higher-order functions (oracle-parity tier). */
  def cosine(a: Column, b: Column): Column = {
    val (ad, bd) = (toDoubleArray(a), toDoubleArray(b))
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Codegen'd cosine similarity (hot-path tier). */
  def cosineFast(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(toDoubleArray(a)),
      ColumnBridge.expression(toDoubleArray(b))))

  /** Per-vector symmetric int8 quantization: packed BINARY blob, 1
    * byte per element (8× smaller than array<double> on the wire and
    * in cache, and a blob avoids the columnar cache's element-wise
    * array reassembly). Scale (max|v|/127) is NOT stored: cosine is
    * invariant to per-vector scaling, so similarity search needs only
    * the bytes — pair with [[cosineInt8]]. */
  def quantizeInt8(a: Column): Column =
    ColumnBridge.column(QuantizeInt8(ColumnBridge.expression(toDoubleArray(a))))

  /** Cosine over two int8-quantized blobs. Approximate: rounding error
    * only (≲0.01 absolute for typical normalized embeddings). */
  def cosineInt8(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarityInt8(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Elementwise-mean aggregate over an `array<double>` column as a
    * `udaf` Column. Partial-merging (`Aggregator` ⇒ map-side combine),
    * so a groupBy-mean of N vectors shuffles only one (sum, count)
    * partial per group per partition — k×dim doubles, not N×dim rows.
    * Empty groups (all-null input) yield null. */
  def vectorMean(dim: Int): Column => Column = {
    val fn = udaf(new VectorMeanAgg(dim))
    c => fn(c)
  }
}

/** Typed partial-sum buffer for [[VectorFunctions.vectorMean]]. */
class VectorMeanAgg(dim: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Double], (Array[Double], Long), Seq[Double]] {
  import org.apache.spark.sql.{Encoder, Encoders}
  override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
  override def reduce(b: (Array[Double], Long), a: Seq[Double]): (Array[Double], Long) = {
    if (a == null) b // null rows don't contribute (and mustn't NPE)
    else {
      var i = 0; while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
  }
  override def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
    var i = 0; while (i < dim) { x._1(i) += y._1(i); i += 1 }
    (x._1, x._2 + y._2)
  }
  override def finish(b: (Array[Double], Long)): Seq[Double] =
    if (b._2 == 0L) null else b._1.map(_ / b._2).toSeq
  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    Encoders.product[(Array[Double], Long)]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

/** array<double> → int8 bytes, one pass: scale = max|v|/127,
  * bytes(i) = round(v(i)/scale). An all-zero vector quantizes to
  * all-zero bytes (its cosine is null in every tier). */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with UnaryKernelCodegen {
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_int8"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double> (wrap with toDoubleArray), got ${other.simpleString}")
    }
  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData].toDoubleArray()
    var m = 0.0; var i = 0
    while (i < x.length) { val a = math.abs(x(i)); if (a > m) m = a; i += 1 }
    val out = new Array[Byte](x.length)
    if (m > 0.0) {
      val scale = m / 127.0
      i = 0
      while (i < x.length) { out(i) = math.round(x(i) / scale).toByte; i += 1 }
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Cosine over two int8-quantized blobs — per-vector scales cancel,
  * so the bytes alone carry the angle. Long accumulators: safe to
  * dim ≈ 5.7e14 at |a|,|b| ≤ 127. Null/mismatched/zero inputs → null.
  * Codegen'd like [[CosineSimilarity]] — this is the per-pair hot
  * loop of the quantized scan, it must stay inside whole-stage
  * codegen. */
case class CosineSimilarityInt8(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity_int8"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == org.apache.spark.sql.types.BinaryType &&
        right.dataType == org.apache.spark.sql.types.BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two BINARY int8 blobs (use quantizeInt8), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) null
    else {
      var d = 0L; var nx = 0L; var ny = 0L; var i = 0
      while (i < x.length) {
        val ax = x(i).toLong; val bx = y(i).toLong
        d += ax * bx; nx += ax * ax; ny += bx * bx; i += 1
      }
      val denom = math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble)
      if (denom == 0.0) null else d / denom
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $d = 0L; long $nx = 0L; long $ny = 0L;
         |  for (int $i = 0; $i < $a.length; $i++) {
         |    long ax = $a[$i]; long bx = $b[$i];
         |    $d += ax * bx; $nx += ax * ax; $ny += bx * bx;
         |  }
         |  double $denom = java.lang.Math.sqrt((double) $nx) * java.lang.Math.sqrt((double) $ny);
         |  if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $d / $denom; }
         |}
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) over two
  * array<double> inputs, accumulated in index order so results are
  * bit-identical to the `Column`-tier [[VectorFunctions.cosine]].
  * Null or length-mismatched inputs yield null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toDoubleArray()
    val y = b.asInstanceOf[ArrayData].toDoubleArray()
    if (x.length != y.length) null
    else {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      val denom = math.sqrt(nx) * math.sqrt(ny)
      if (denom == 0.0) null else d / denom
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $d = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $a.numElements(); $i++) {
         |    double ax = $a.getDouble($i); double bx = $b.getDouble($i);
         |    $d += ax * bx; $nx += ax * ax; $ny += bx * bx;
         |  }
         |  double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $d / $denom; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
