package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-request constant that generated code READS instead of
  * inlining. A [[Literal]] is spliced into the Java source, so a
  * filter on a new value is new source and a new Janino compile: a
  * point lookup on an id never asked for compiled 3 classes. Here the
  * value rides the plan's reference array (the way
  * [[NearestCentroid]] carries its matrix), so the source is the same
  * for every value and the codegen cache serves it.
  *
  * Not foldable, or the optimizer would turn it back into a literal.
  * [[graft.sources.StatsFileIndex]] reads it like one, so the stats
  * sidecars still skip files on it; parquet row-group pushdown, which
  * takes literals only, does not see it.
  */
case class Bound(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a Bound is never null")

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val javaType = CodeGenerator.javaType(dataType)
    val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
    ev.copy(code = code"$javaType ${ev.value} = $read;", isNull = FalseLiteral)
  }

  override def toString: String = s"bound($value)"
}

object Bound {
  /** Column-API entry point: `v` as [[org.apache.spark.sql.functions.lit]]
    * would type it. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    GraftBridge.column(Bound(l.value, l.dataType))
  }
}
