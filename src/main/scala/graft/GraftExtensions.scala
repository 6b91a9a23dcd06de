package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Library entry point for a session builder's `.withExtensions(new
  * GraftExtensions)`: installs the PG function-compat layer and the
  * AQUMV optimizer rule into every session built from the builder —
  * the `CbSession` wiring SURVEY.md §7.1 describes.
  *
  * (Sessions created without extensions can call
  * `PgFunctions.register(spark)` / `AqumvRule.install(spark)`
  * imperatively — the query entries do exactly that, so the driver's
  * plain session works too.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(session => new rules.AqumvRule(session))
    ext.injectOptimizerRule(session => new rules.EagerAggRule(session))
    // BindExpensiveFilterRule runs in ONE slot only —
    // `experimental.extraOptimizations` (post-main-batch, after
    // pushdown has inlined the aliases whose repeats it binds).
    // Injecting it as an ordinary optimizer rule would ALSO run it
    // mid-fixpoint, interleaved with PushDownPredicates, with timing
    // that diverges between extension-built and configure()d sessions
    // (the r17 advice finding). The check-rule hook is the extension
    // point that hands us the live session at wiring time: install
    // there (idempotent), return a no-op check.
    ext.injectCheckRule { session =>
      rules.BindExpensiveFilterRule.install(session)
      _ => ()
    }
    // function registration needs only the registry, not the session:
    // reuse the same builders the imperative path uses
    functions.PgFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions.PgFunctions", name),
        builder))
    }
  }
}
