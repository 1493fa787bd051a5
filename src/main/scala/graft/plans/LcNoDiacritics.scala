package graft.plans

import graft.functions.TextFunctions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen entry points — static methods the generated Java calls. */
object NormalizerStatics {
  def lcNoDiacritics(s: UTF8String): UTF8String =
    UTF8String.fromString(TextFunctions.lcNoDiacritics(s.toString))
}

/** Native Catalyst expression for the reference's
  * LcNoDiacriticsNormalizer (`ingest/.../normalizer/LcNoDiacriticsNormalizer.java:91-106`)
  * — the one §7.4 "custom `Expression`" candidate worth having: unlike a
  * Scala UDF it participates in whole-stage codegen (`doGenCode` emits a
  * direct static call — no closure serialization, no Option-boxing
  * null wrapper, stays inside the generated loop), which matters on the
  * ingest path where it runs once per (doc, field) at corpus scale.
  */
case class LcNoDiacritics(child: Expression) extends UnaryExpression {
  override def dataType: DataType      = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String      = "graft_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    NormalizerStatics.lcNoDiacritics(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NormalizerStatics.lcNoDiacritics($c)")

  override protected def withNewChildInternal(newChild: Expression): LcNoDiacritics =
    copy(child = newChild)
}

/** Runtime function registration (no SparkSessionExtensions wiring
  * needed, so it works on any caller-provided session — including the
  * driver harness's). Idempotent: a function the session already has
  * (an earlier call, or `GraftExtensions`) is left as it is, so repeat
  * calls do not log a "replaced a previously registered function"
  * warning.
  */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def once(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    once("graft_normalize", exprs => LcNoDiacritics(exprs.head))
    once("graft_dot", exprs => DotProduct(exprs(0), exprs(1)))
  }
}
