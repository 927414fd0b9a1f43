package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{GramHash, KMinValues, LshBucket, MaxSimScore, ScaledDotProduct, SortedOverlap, SquaredL2}

/** SparkSessionExtensions entry point (SURVEY.md §7.3): registers the
  * engine's native expressions into any session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * This is the idiomatic injection route for custom Catalyst pieces —
  * today only functions; a custom Rule/Strategy would be injected here
  * too if one ever became necessary (SURVEY §4.2 concluded none is for
  * the core contract).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.natives.foreach { case (info, builder) =>
      ext.injectFunction((FunctionIdentifier(info.getName), info, builder))
    }
}

object GraftExtensions {

  /** The one table of native expressions; each SQL name is the one its
    * `ExpressionInfo` declares.
    */
  val natives: Seq[(ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ScaledDotProduct.info -> ScaledDotProduct.builder,
    MaxSimScore.info -> MaxSimScore.builder,
    KMinValues.info -> KMinValues.builder,
    SquaredL2.info -> SquaredL2.builder,
    LshBucket.info -> LshBucket.builder,
    SortedOverlap.info -> SortedOverlap.builder,
    GramHash.info -> GramHash.builder)

  /** Registers the same table into a session built without the
    * extension conf (one handed in from outside). Idempotent: re-registering
    * the identical (info, builder) pair replaces nothing.
    */
  def register(spark: SparkSession): Unit =
    natives.foreach { case (info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(info.getName), info, builder)
    }
}
