package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans graft's physical operators ([[AsOfMerge]], [[PointInTimeScan]]).
  * Library entry points that build these nodes call [[install]] first, so
  * they plan on any session, with or without `GraftExtensions`.
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: AsOfMerge =>
      AsOfMergeExec(planLater(m.left), planLater(m.right), m.leftKeys, m.rightKeys, m.leftTs,
        m.rightTs, m.payload, m.payloadOut, m.matchTs, m.forward, m.salted) :: Nil
    case s: PointInTimeScan =>
      PointInTimeScanExec(s.gapSecs, s.in, s.terms, s.features, planLater(s.child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to the session's extra strategies once. */
  def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
    }
  }
}
