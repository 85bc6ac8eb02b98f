package graft

import org.apache.spark.sql.SparkSession

package object plans {

  /** graft's planner strategies, in the order the planner tries them. */
  private val strategies = Seq(KnnTopKStrategy, LazyResultStrategy)

  /** Register graft's planner strategies on `session`, idempotently, so
    * its logical nodes ([[KnnTopK]], [[LazyResultPlan]]) plan on any
    * session, built with `GraftExtensions` or not. Called by the operators
    * that build those nodes; the only place graft registers a strategy. */
  def install(session: SparkSession): Unit = {
    val exp = session.experimental
    exp.synchronized {
      val missing = strategies.filterNot(exp.extraStrategies.contains)
      if (missing.nonEmpty) exp.extraStrategies = missing ++ exp.extraStrategies
    }
  }
}
