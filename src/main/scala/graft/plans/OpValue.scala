package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A value one table op stamps or compares — a version, a row-id base, a
  * sync window mark, an index shard id or threshold — as a NON-foldable
  * leaf whose value rides as a codegen reference object (the discipline of
  * `ZValueExpr` and `NearestCentroidExpr`). A `lit(v)` is inlined into the
  * generated Java as a literal, so every op compiles new classes and churns
  * Spark's codegen cache; with `OpValue` the source is the same for every
  * value and one compiled class serves every later op.
  *
  * Not foldable, so no rule turns it back into a literal; a comparison with
  * it does not push down to the parquet reader, so it serves where the
  * files a scan reads are already narrowed (by the version log, or to a
  * handful of index rows).
  */
case class OpValue(value: Any, dataType: DataType) extends LeafExpression {
  require(dataType == LongType || dataType == DoubleType,
    s"OpValue holds a bigint or a double, not $dataType")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType) // long, double
    val ref = ctx.addReferenceObj("opValue", value) // java.lang.Long, Double
    ev.copy(code = code"$javaType ${ev.value} = $ref.${javaType}Value();",
      isNull = FalseLiteral)
  }
}

object OpValue {
  def apply(v: Long): Column =
    org.apache.spark.sql.GraftColumns.column(OpValue(v, LongType))

  def apply(v: Double): Column =
    org.apache.spark.sql.GraftColumns.column(OpValue(v, DoubleType))
}
