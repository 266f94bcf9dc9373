package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the point-in-time join a feature-store / training-
  * data pipeline needs (for each left row, the LATEST right row of the same
  * key with rightTs <= leftTs; unmatched ⇒ nulls, i.e. ASOF LEFT JOIN).
  *
  * Spark has no built-in as-of join, so this is the full custom-operator
  * stack (prompt preference (c)): a resolved [[AsOfJoinPlan]] logical node,
  * an [[AsOfStrategy]] planner strategy (installed by [[AsOfJoin.apply]]
  * into `spark.experimental.extraStrategies` on first use — its only
  * install path; no session rebuild or config key needed), and a
  * sort-merge [[AsOfJoinExec]]. The exec declares ClusteredDistribution on
  * the keys and (key, ts) ordering, so EnsureRequirements inserts exactly
  * one hash exchange + sort per side — the same shape as a sort-merge join,
  * scaling to arbitrarily large sides (no broadcast, no buffering beyond
  * one row per key).
  *
  * Oracle: DuckDB 1.0's native `ASOF LEFT JOIN` (q_asof_join_native).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {
  // this node bypasses the analyzer's type coercion, so enforce type
  // agreement at construction: an INT-vs-BIGINT key pair would hash-
  // partition the sides incompatibly and then die as an opaque
  // ClassCastException inside the interpreted ordering at runtime
  require(!(leftKey.resolved && rightKey.resolved) ||
    org.apache.spark.sql.types.DataType.equalsStructurally(
      leftKey.dataType, rightKey.dataType, ignoreNullability = true),
    s"as-of join key types differ: ${leftKey.dataType} vs ${rightKey.dataType}" +
      " — cast one side explicitly")
  require(!(leftTs.resolved && rightTs.resolved) ||
    org.apache.spark.sql.types.DataType.equalsStructurally(
      leftTs.dataType, rightTs.dataType, ignoreNullability = true),
    s"as-of join timestamp types differ: ${leftTs.dataType} vs ${rightTs.dataType}" +
      " — cast one side explicitly")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKey :: Nil), ClusteredDistribution(rightKey :: Nil))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val tsOrd  = TypeUtils.getInterpretedOrdering(leftTs.dataType)
    val nRight = right.output.size
    val lk     = BindReferences.bindReference(leftKey, left.output)
    val lt     = BindReferences.bindReference(leftTs, left.output)
    val rk     = BindReferences.bindReference(rightKey, right.output)
    val rt     = BindReferences.bindReference(rightTs, right.output)
    val outputAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // skip right rows with NULL key/ts up front — SQL as-of semantics:
      // NULL never matches (and primitive orderings would unbox null to 0)
      val rBuf = rIt.filter(r => rk.eval(r) != null && rt.eval(r) != null).buffered
      val nullRow = new GenericInternalRow(nRight)
      val joined  = new JoinedRow
      // parents (shuffle writers, collect) require UnsafeRow output
      val toUnsafe = UnsafeProjection.create(outputAttrs, outputAttrs)
      // last consumed right row and its key: valid for a left row iff the
      // keys match (rows are consumed in (key, ts) order, so it is the
      // max-ts right row with ts <= current left ts for that key)
      var lastKey: Any         = null
      var lastRow: InternalRow = null
      lIt.map { lrow =>
        val k = lk.eval(lrow)
        val t = lt.eval(lrow)
        if (k == null || t == null) toUnsafe(joined(lrow, nullRow))
        else {
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val cmp  = keyOrd.compare(rk.eval(head).asInstanceOf[Any], k)
            if (cmp < 0 || (cmp == 0 && tsOrd.compare(rt.eval(head).asInstanceOf[Any], t) <= 0)) {
              // copy FIRST, then evaluate the key from the copy — the
              // iterator may reuse its row buffer (e.g. spill readers),
              // which would corrupt buffer-backed keys like UTF8String
              lastRow = rBuf.next().copy()
              lastKey = rk.eval(lastRow)
            } else advance = false
          }
          if (lastRow != null && keyOrd.compare(lastKey, k) == 0)
            toUnsafe(joined(lrow, lastRow))
          else toUnsafe(joined(lrow, nullRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  /** `asofJoin(l, r, l("k"), r("k"), l("ts"), r("ts"))` — latest r per l
    * row with r.ts <= l.ts, left-outer. Installs the planner strategy on
    * first use (idempotent).
    */
  def apply(left: DataFrame, right: DataFrame,
      leftKey: Column, rightKey: Column,
      leftTs: Column, rightTs: Column): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    GraftSqlBridge.ofRows(spark, AsOfJoinPlan(
      GraftSqlBridge.logicalPlan(left), GraftSqlBridge.logicalPlan(right),
      GraftSqlBridge.expression(leftKey), GraftSqlBridge.expression(rightKey),
      GraftSqlBridge.expression(leftTs), GraftSqlBridge.expression(rightTs)))
  }
}
