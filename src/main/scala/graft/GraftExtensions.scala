package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Canonical Spark extension entry point: registers the engine's
  * native expression surface through the injection API, so any
  * session configured with
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * gets the full function family (sketches, tile zonal/mask,
  * geometry, histogram merge) with no imperative install call — the
  * cluster-deployment shape of [[graft.functions.GraftFunctions]]'s
  * per-session registration (which remains for programmatic use; both
  * feed the same expression builders) — and the [[BindLiterals]]
  * planner rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.injectInto(ext)
    new BindLiterals()(ext)
  }
}

/** Injects only [[graft.functions.BindFilterLiterals]], as a
  * pre-columnar-transition rule, so it runs before whole-stage codegen
  * collapses the plan: filter constants become stage parameters and
  * queries of one shape share one compiled class. It registers no
  * functions; `LocalTuning` names it in `spark.sql.extensions`. */
class BindLiterals extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] =
        graft.functions.BindFilterLiterals
    })
}
