package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.fakegen.FakeGen

/** Catalyst expression for the deterministic faker kernels.
  *
  * Why an Expression and not a Scala UDF: the anonymization pipeline is a
  * pure map over every row of every table — at 100 TB this is THE hot
  * path. `doGenCode` emits a direct static call into
  * [[graft.fakegen.FakeGen.dispatch]], so the whole projection stays
  * inside one WholeStageCodegen span with no boxing, no
  * Scala-function-object indirection, and no catalyst<->scala converters
  * (which a ScalaUDF would insert per row per column). `dispatch` takes
  * and returns `UTF8String` and fakes on its UTF-8 bytes, so no cell is
  * decoded to a `String` on the way.
  *
  * Deterministic (same input row => same output) => safe under task
  * retries and speculative execution; Spark may freely recompute
  * partitions without producing divergent fakes.
  */
case class FakeExpr(child: Expression, kind: Int, seed: Long)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.DeclaredInputTypes {

  override def declaredInputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fake_" + FakeExprKinds.name(kind)

  override def nullSafeEval(input: Any): Any =
    FakeGen.dispatch(kind, input.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fakegen.FakeGen.dispatch($kind, $c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): FakeExpr =
    copy(child = newChild)
}

object FakeExprKinds {
  def name(kind: Int): String = kind match {
    case FakeGen.KindFirstName  => "first_name"
    case FakeGen.KindLastName   => "last_name"
    case FakeGen.KindFullName   => "name"
    case FakeGen.KindCompany    => "company_name"
    case FakeGen.KindEmail      => "email"
    case FakeGen.KindAddress    => "address"
    case FakeGen.KindUuid       => "uuid"
    case FakeGen.KindPhone      => "phone"
    case FakeGen.KindMultiEmail => "multi_email"
    case other                  => s"unknown_$other"
  }
}
