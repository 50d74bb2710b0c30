package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.expressions.PosExplode
import org.apache.spark.sql.execution.{GenerateExec, SerializeFromObjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{count, lit}
import org.scalatest.Assertions._

/** The plan shape of a per-cell frame served by [[graft.core.CellView]]. */
object PlanShape extends AdaptiveSparkPlanHelper {

  /** Counts `cells` and asserts the aggregate's plan runs exactly one
    * `posexplode` and builds no object per cell: every object
    * serialization in the plan sits under the explode, on blocks. Returns
    * the count. */
  def assertOneExplode(name: String, cells: Dataset[_]): Long = {
    val agg = cells.agg(count(lit(1)))
    val n = agg.collect()(0).getLong(0)
    val plan = agg.queryExecution.executedPlan
    val explodes = collect(plan) { case g: GenerateExec => g }
    assert(explodes.size == 1 && explodes.head.generator.isInstanceOf[PosExplode],
      s"$name: $plan")
    val onBlocks = collect(explodes.head) { case s: SerializeFromObjectExec => s }
    val perCell = collect(plan) { case s: SerializeFromObjectExec => s }
      .filterNot(s => onBlocks.exists(_ eq s))
    assert(perCell.isEmpty, s"$name: $plan")
    n
  }
}
