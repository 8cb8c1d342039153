package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: extract_text(binary[, mode]) -> string,
  * mode one of [[Pipeline.Modes]] (default [[Pipeline.DefaultMode]]),
  * matching Pipeline.extractMode's extractors.
  *
  * The mapPartitions pipeline stays the production path (it keeps the
  * per-partition memoization and metrics hooks); this expression is the SQL
  * ergonomics escape hatch from SURVEY.md §7.3 — extraction composes with
  * arbitrary SQL (`SELECT url, extract_text(html, 'legacy') FROM crawl
  * WHERE ...`) and Catalyst can fuse the surrounding projection/filters.
  * Evaluation is a pure kernel call per row; null/malformed input yields
  * null (never a task failure), matching the pipeline's error-row behavior.
  * The mode argument must be a foldable string literal — it selects a
  * code path, so a per-row mode would defeat planning and is refused at
  * analysis, not at runtime.
  *
  * Implements `doGenCode` (no CodegenFallback): the generated code calls
  * the kernel through a referenced object, so the surrounding projection
  * and filters stay inside ONE WholeStageCodegen stage instead of falling
  * back to interpreted per-row evaluation around this expression. */
case class ExtractText(left: Expression, right: Expression) extends BinaryExpression {

  def this(child: Expression) = this(child, Literal(Pipeline.DefaultMode))

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure("extract_text requires a BINARY first argument")
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(s"extract_text mode must be a string literal ($modeNames)")
    else right.eval() match {
      case s: UTF8String if Pipeline.Modes.contains(s.toString) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"extract_text mode must be one of $modeNames, got $other")
    }
  private def modeNames: String = Pipeline.Modes.keys.mkString("'", "', '", "'")
  override def prettyName: String = "extract_text"

  // foldable literal by checkInputDataTypes; resolved once, not per row
  @transient private lazy val modeStr: String = right.eval().toString

  /** Kernel call shared by interpreted eval and generated code. */
  def evalBytes(bytes: Array[Byte]): UTF8String = {
    val doc = Pipeline.extractRowMode("", bytes, null, modeStr)
    if (doc.ok && doc.text != null) UTF8String.fromString(doc.text) else null
  }

  override protected def nullSafeEval(input: Any, modeInput: Any): Any =
    evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("extractText", this, classOf[ExtractText].getName)
    val r = ctx.freshName("extractTextR")
    nullSafeCodeGen(ctx, ev, (c, _) => s"""
      org.apache.spark.unsafe.types.UTF8String $r = $self.evalBytes($c);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r; }
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ExtractText = copy(left = newLeft, right = newRight)
}

object ExtractText {
  private[spark] def build(children: Seq[Expression]): ExtractText = children match {
    case Seq(c) => new ExtractText(c)
    case Seq(c, m) => ExtractText(c, m)
    case _ => throw new IllegalArgumentException(
      s"extract_text takes 1 or 2 arguments, got ${children.length}")
  }
}

/** Session extension installing the extraction function into the registry:
  * `--conf spark.sql.extensions=graft.spark.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("extract_text"),
      new ExpressionInfo(classOf[ExtractText].getName, "extract_text"),
      (children: Seq[Expression]) => ExtractText.build(children)))
  }
}

object GraftExtensions {
  /** Register extract_text on an ALREADY-BUILT session (extensions via
    * spark.sql.extensions only apply at session construction; a shared
    * session — notebook, Verify — installs it post hoc). Idempotent. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("extract_text"),
      new ExpressionInfo(classOf[ExtractText].getName, "extract_text"),
      (children: Seq[Expression]) => ExtractText.build(children))
}
