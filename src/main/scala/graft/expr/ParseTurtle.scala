package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.TripleEmit

/** `parse_turtle(text)` — a native Catalyst GENERATOR (like `explode`):
  * one input document → N rows `(subj, pred, obj)` in N-Triples term
  * syntax, without materializing an intermediate array (the preferred
  * custom-operator form per SURVEY.md §2.6/§7.3; the reference's
  * `Document::parse_str` + `build_triples` lifecycle behind a SQL surface).
  * A malformed document fails the query.
  *
  * `parse_turtle_safe(text)` is the same generator with `lenient = true`:
  * rows gain an `err` column, and a malformed document yields exactly one
  * row `(null, null, null, "<message> at <start>..<end>")` instead of
  * throwing — one bad page out of 10^12 must not kill the job.
  *
  * Both reach the kernel through [[TripleEmit.turtleRows]].
  * CodegenFallback: the parser is a per-row black box; whole-stage codegen
  * still fuses everything around the generate node.
  */
case class ParseTurtle(child: Expression, lenient: Boolean)
    extends UnaryExpression with Generator with CodegenFallback {

  private def name = if (lenient) "parse_turtle_safe" else "parse_turtle"

  override def elementSchema: StructType = {
    val terms = Seq("subj", "pred", "obj").map(StructField(_, StringType, nullable = lenient))
    StructType(if (lenient) terms :+ StructField("err", StringType, nullable = true) else terms)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a string column, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    def utf(s: String) = UTF8String.fromString(s)
    if (v == null) Iterator.empty
    else if (lenient) TripleEmit.turtleRows(v.toString, name)(
      (s, p, o, _, _) => InternalRow(utf(s), utf(p), utf(o), null),
      e => InternalRow(null, null, null, utf(s"${e.message} at ${e.span}")))
    else TripleEmit.turtleRows(v.toString, name)(
      (s, p, o, _, _) => InternalRow(utf(s), utf(p), utf(o)))
  }

  override protected def withNewChildInternal(newChild: Expression): ParseTurtle =
    copy(child = newChild)
}

/** Registration: per-session (temp function) or via
  * `spark.sql.extensions=graft.expr.GraftExtensions`; both read [[Builders]].
  */
object TurtleFunctions {
  /** SQL name → expression builder. */
  val Builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "parse_turtle" -> (exprs => ParseTurtle(exprs.head, lenient = false)),
    "parse_turtle_safe" -> (exprs => ParseTurtle(exprs.head, lenient = true)))

  def register(spark: SparkSession): Unit =
    Builders.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    TurtleFunctions.Builders.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[ParseTurtle].getName, name), build))
    }
}
