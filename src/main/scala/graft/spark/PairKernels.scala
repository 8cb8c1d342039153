package graft.spark

import org.apache.spark.sql.{Column, ExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType,
  LongType}

/** The per-candidate-pair array kernels of the dedup verify (d6; d11 and
  * x31 call [[PairKernels.interSizeOf]] from their first-hit walk) and the
  * vector searches (d7, s1, s3, s4, s5), as native Catalyst expressions:
  * they read `ArrayData.getLong/getFloat/getDouble` in place and generate
  * code (no CodegenFallback), so the verify runs inside the join's
  * WholeStageCodegen stage.
  *
  * Why not a Scala UDF: a UDF's arguments go through the
  * ExpressionEncoder, which boxes every array element and copies the
  * array once per pair. A JFR profile of the perfbench `stream` workload
  * (4 vCPUs) put 487 of 1,266 executor CPU samples (38%) in encoder
  * (de)serialization; 273 of them were the intersect UDF's argument
  * conversion (`MapObjects` over `ColumnarArray.getLong` -> `Long.valueOf`
  * per element, then an array copy) against 27 in the merge loop itself.
  * Converting each candidate pair cost ~10x verifying it.
  *
  * Every kernel is total. Null arrays give null (nullSafeEval), as do
  * ragged cosine inputs, a non-finite cosine and any null ELEMENT: the
  * UDFs these replace failed the task on a null element
  * (NOT_NULL_ASSERT_VIOLATION in the deserializer). KernelParitySpec pins
  * all of it against the legacy Catalyst expressions, on both the
  * generated and the interpreted path. */
object PairKernels {

  /** |a ∩ b| of two sorted-distinct bigint arrays. */
  def interSize(a: Column, b: Column): Column = pair(InterSize, a, b)

  /** round(cos(a, b), 6) of two float arrays. */
  def cosSim6F(a: Column, b: Column): Column = pair(CosSim6F, a, b)

  /** round(cos(a, b), 6) of two double arrays. */
  def cosSim6D(a: Column, b: Column): Column = pair(CosSim6D, a, b)

  private def pair(e: (Expression, Expression) => Expression, a: Column, b: Column): Column =
    ExpressionBridge.column(e(ExpressionBridge.expression(a), ExpressionBridge.expression(b)))

  /** |a ∩ b| for two SORTED-DISTINCT long arrays (the only shape
    * sigKeyed/fullSigUdf produce) by a linear merge, or -1 (null) when
    * either holds a null element. Replaced size(array_intersect(...)),
    * whose interpreted ArrayIntersect allocated a hash set per candidate
    * pair. The corpus is dup-heavy by construction (band0 at sf0.1: 57
    * buckets for 5000 docs, max bucket 3137), so the band join yields
    * millions of candidate pairs. Merge-count of sorted sets ==
    * intersection cardinality. The merge step is branch-free (compares
    * become adds): equal, smaller and larger elements arrive in an
    * unpredictable order, and in a JVM microbenchmark over long[] sets of
    * 100-500 elements with 70% overlap the branchy `if/else if` form ran
    * at half the speed. */
  def interSizeOf(a: ArrayData, b: ArrayData): Int =
    if (hasNull(a) || hasNull(b)) -1
    else {
      val na = a.numElements()
      val nb = b.numElements()
      var i = 0
      var j = 0
      var n = 0
      while (i < na && j < nb) {
        val x = a.getLong(i)
        val y = b.getLong(j)
        n += (if (x == y) 1 else 0)
        i += (if (x <= y) 1 else 0)
        j += (if (x >= y) 1 else 0)
      }
      n
    }

  /** round(dot/(|a||b|), 6) over FLOAT vectors with the exact arithmetic
    * of the HOF form it replaced (zip_with/aggregate): per-element FLOAT
    * product then widening (zip_with on float columns multiplies in
    * float), in-order double accumulation for dot and both norms, Spark
    * Round double semantics (see round6) — one pass instead of three
    * interpreted aggregates per pair. NaN means null: ragged lengths
    * and null elements (the legacy zip_with/aggregate chain null-propagates
    * both) and a non-finite cosine (see cosine6). */
  def cosSim6FOf(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements() || hasNull(a) || hasNull(b)) Double.NaN
    else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getFloat(i)
        val y = b.getFloat(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      cosine6(dot, na, nb)
    }
  }

  /** Double-vector variant (s5's search stage, where emb is cast double). */
  def cosSim6DOf(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements() || hasNull(a) || hasNull(b)) Double.NaN
    else {
      var dot = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getDouble(i)
        val y = b.getDouble(i)
        dot += x * y
        na += x * x
        nb += y * y
        i += 1
      }
      cosine6(dot, na, nb)
    }
  }

  /** A degenerate (zero-magnitude) pair gives NaN, i.e. null, not a NaN
    * sim: Spark orders NaN ABOVE every value, so a NaN sim would pass >=
    * thresholds and top the desc rankings as a spurious match; the legacy
    * expression crashed the query here (ANSI DIVIDE_BY_ZERO). Null drops
    * the row from every filter/ranking. Identical on non-degenerate data. */
  private def cosine6(dot: Double, na: Double, nb: Double): Double = {
    val v = dot / (math.sqrt(na) * math.sqrt(nb))
    if (java.lang.Double.isInfinite(v)) Double.NaN else round6(v)
  }

  /** Spark Round's double path: NaN/Infinity pass through unchanged
    * (BigDecimal.valueOf(NaN) would throw NumberFormatException). It
    * stays total for the k-means distance path, where a NaN distance just
    * ranks last. */
  private[spark] def round6(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def hasNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n && !a.isNullAt(i)) i += 1
    i < n
  }
}

/** Two arrays of one element type in, a nullable primitive out, computed
  * by a [[PairKernels]] method that signals null with a sentinel.
  * Serializable itself: tasks deserialize the case classes, and Java
  * serialization needs the first non-serializable superclass to have a
  * no-argument constructor, which this one does not. */
sealed abstract class ArrayPairKernel(elementType: DataType)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  override def inputTypes: Seq[ArrayType] =
    Seq(ArrayType(elementType), ArrayType(elementType))
  override def nullable: Boolean = true

  /** Generated code calls PairKernels.`method` on the ArrayData values in
    * place; `isNullResult` tests its result for the null sentinel. */
  protected def callKernel(ctx: CodegenContext, ev: ExprCode, method: String,
      isNullResult: String => String): ExprCode = {
    val kernels = PairKernels.getClass.getName.stripSuffix("$")
    val r = ctx.freshName("pairKernel")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${CodeGenerator.javaType(dataType)} $r = $kernels.$method($a, $b);
      if (${isNullResult(r)}) { ${ev.isNull} = true; }
      else { ${ev.value} = $r; }
    """)
  }
}

case class InterSize(left: Expression, right: Expression) extends ArrayPairKernel(LongType) {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "inter_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val n = PairKernels.interSizeOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (n < 0) null else n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, "interSizeOf", r => s"$r < 0")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): InterSize = copy(left = newLeft, right = newRight)
}

/** The two cosines: NaN from the kernel is null. */
sealed abstract class CosSim6(elementType: DataType, method: String)
    extends ArrayPairKernel(elementType) {
  override def dataType: DataType = DoubleType

  protected def cosine(a: ArrayData, b: ArrayData): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(v)) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callKernel(ctx, ev, method, r => s"java.lang.Double.isNaN($r)")
}

case class CosSim6F(left: Expression, right: Expression)
    extends CosSim6(FloatType, "cosSim6FOf") {
  override def prettyName: String = "cos_sim6_f"
  override protected def cosine(a: ArrayData, b: ArrayData): Double = PairKernels.cosSim6FOf(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosSim6F = copy(left = newLeft, right = newRight)
}

case class CosSim6D(left: Expression, right: Expression)
    extends CosSim6(DoubleType, "cosSim6DOf") {
  override def prettyName: String = "cos_sim6_d"
  override protected def cosine(a: ArrayData, b: ArrayData): Double = PairKernels.cosSim6DOf(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosSim6D = copy(left = newLeft, right = newRight)
}
