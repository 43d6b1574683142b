package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.GraftFunctions

/** Production registration path for graft's native expressions
  * (SURVEY.md §2b custom-operator preference (c)): deploy with
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * and every function in [[GraftFunctions.all]] is available in SQL on
  * every session of the cluster. A session built without the extension
  * gets the same entries from [[GraftFunctions.ensure]], which the
  * Column-level handles call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    // Planner strategy for the TopKPerGroup custom logical operator.
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // V2 views on graft catalogs: DDL interception at the parser (stock
    // Spark rejects view commands on non-session catalogs before any
    // injected rule could run) + late-binding read resolution.
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftViewParser(session, delegate))
    ext.injectResolutionRule(session => graft.plans.GraftViewReadRule(session))
    // Transparent materialized-view rewrite: EXACT (freshness-gated),
    // so on by default — spark.graft.mvRewrite.enabled=false disables.
    ext.injectResolutionRule(session => graft.plans.MvRewriteRule(session))
    // GENERATED ALWAYS AS IDENTITY: UPDATE/MERGE-UPDATE assignments to
    // the column are refused at analysis (ids are engine-minted).
    ext.injectResolutionRule(session => graft.plans.IdentityUpdateGuard(session))
    // RELY join elimination: inner FK→PK joins whose parent columns go
    // unreferenced are removed — fires ONLY for tables opted in with
    // TBLPROPERTY 'graft.constraints.rely'='true' (constraints are NOT
    // ENFORCED, so consuming them for planning is the user's call).
    ext.injectOptimizerRule(session => graft.plans.RelyJoinElimination(session))
    // Neutralized DPP filters (DynamicPruningExpression(true)) are
    // removed before BatchScanExec warns about translating them.
    ext.injectColumnar(_ => graft.plans.StripTrueRuntimeFilters)
  }
}
