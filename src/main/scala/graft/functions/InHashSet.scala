package graft.functions

import scala.collection.immutable.HashSet

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** `value IN (values)` over an int column whose generated code holds no
  * value: the set rides in the class's `references`, so two serves that
  * differ only in their probe-cluster or bucket ids reuse one compiled
  * class. Catalyst's own forms write the values into the Java source: `In`
  * as an if-chain of literals (up to 10 values), and `InSet` over an int as
  * a `switch` with one `case` per value.
  *
  * On a partition column it still prunes partitions (`PartitionFilters`
  * take any deterministic predicate over partition columns), and it
  * propagates through an equi-join like `In` does, so the inferred filter
  * on the other side is value-free too.
  */
case class InHashSet(child: Expression, hset: HashSet[Int])
    extends UnaryExpression with Predicate {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an int or bigint value, got ${child.dataType.simpleString}")

  override def prettyName: String = "in_set"

  override def toString: String = s"$child IN HASHSET (${hset.toSeq.sorted.mkString(", ")})"

  override protected def nullSafeEval(v: Any): Any = hset.contains(v.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the declared class is fixed: Scala's small sets are Set1..Set4, and a
    // class name taken from the instance would put the set size in the source
    val set = ctx.addReferenceObj("set", hset, classOf[HashSet[_]].getName)
    defineCodeGen(ctx, ev, c => s"$set.contains($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): InHashSet =
    copy(child = newChild)
}

object InHashSet {
  /** The value-free membership test for `value`'s type. A bigint value
    * gets Catalyst's `InSet` over a `HashSet`: a long set never compiles to
    * a `switch`, and `InSet` still pushes down to parquet as `In(col, …)`
    * for row-group pruning. An int value gets [[InHashSet]]; a value out of
    * int range cannot match and is dropped. Any other type fails analysis.
    */
  def of(value: Expression, values: Array[Long]): Expression = value.dataType match {
    case LongType => InSet(value, HashSet.from[Any](values))
    case _ => InHashSet(value, HashSet.from(values.collect { case v if v.toInt == v => v.toInt }))
  }
}
