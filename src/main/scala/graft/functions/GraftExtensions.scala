package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension wiring: registers graft's native functions so they are
  * callable from SQL text (`SELECT simhash64(tokens) ...`) exactly like
  * built-ins.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *    build time (the canonical Spark mechanism), or
  *  - `GraftExtensions.install(spark)` on a live session (what Verify and
  *    the query registry use, since the driver owns session construction).
  *
  * Like the DML analyzer rules, the codegen parameter rule
  * ([[graft.plans.ParamLiterals]]) exists only on the config path: a
  * live session has no hook for columnar rules.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => graft.plans.GraftDmlStrategy)
    e.injectOptimizerRule(_ => graft.plans.RewriteTopKWindow)
    // SQL UPDATE / MERGE INTO on graft tables: lowered during analysis
    // (Spark's own row-level rewrites skip non-RLO tables). Analyzer
    // rules only exist on the config path — `install` on a live session
    // cannot add them, so DML needs spark.sql.extensions at build time.
    e.injectResolutionRule(_ => graft.plans.GraftDmlRewrite)
    // merge-on-read deletes: rewrite reads of delete-bearing snapshots
    // into anti-joined plans (after GraftDmlRewrite in the batch — DML
    // targets are shielded inside the rule as well)
    e.injectResolutionRule(s => graft.plans.GraftApplyDeletes(s))
    // zero-rewrite RENAME COLUMN: reads of alias-bearing snapshots scan
    // both physical names and coalesce (column mapping without touching
    // the files; same shielding discipline as GraftApplyDeletes)
    e.injectResolutionRule(s => graft.plans.GraftResolveRenames(s))
    // SQL `VERSION AS OF` / `TIMESTAMP AS OF`: must run BEFORE the
    // Resolution batch (ResolveRelations refuses time travel on
    // session-catalog tables), so it rides the Hints batch.
    e.injectHintResolutionRule(s => graft.plans.GraftTimeTravel(s))
    // SQL table functions: graft_history (DESCRIBE HISTORY) and
    // graft_changes (Delta's table_changes spelling of the change feed)
    e.injectTableFunction((FunctionIdentifier("graft_history"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_history"),
      graft.plans.GraftTableFunctions.history _))
    e.injectTableFunction((FunctionIdentifier("graft_changes"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_changes"),
      graft.plans.GraftTableFunctions.changes _))
    e.injectTableFunction((FunctionIdentifier("graft_detail"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_detail"),
      graft.plans.GraftTableFunctions.detail _))
    e.injectTableFunction((FunctionIdentifier("graft_files"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_files"),
      graft.plans.GraftTableFunctions.files _))
    e.injectTableFunction((FunctionIdentifier("graft_partitions"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_partitions"),
      graft.plans.GraftTableFunctions.partitions _))
    e.injectTableFunction((FunctionIdentifier("graft_stages"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_stages"),
      graft.plans.GraftTableFunctions.stages _))
    e.injectTableFunction((FunctionIdentifier("graft_tags"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_tags"),
      graft.plans.GraftTableFunctions.tagsList _))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_diff"),
      new ExpressionInfo("graft.plans.GraftTableFunctions", "graft_snapshot_diff"),
      graft.plans.GraftTableFunctions.snapshotDiff _))
    // maintenance SQL (VACUUM / OPTIMIZE) — statements Spark's grammar
    // does not know; the delegating parser intercepts exactly those
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    e.injectPlannerStrategy(_ => graft.plans.GraftMaintenanceStrategy)
    // one generated class per plan shape: primitive literals of Filter
    // and Project become codegen parameters (a columnar rule is the one
    // physical hook that runs before CollapseCodegenStages)
    e.injectColumnar(_ => graft.plans.ParamLiterals.columnar)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "usage: simhash64(array<string>)")
        SimHash64(exprs.head)
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 && exprs(1).foldable,
          "usage: minhash_sig(array<string>, k literal)")
        MinHashSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())
      }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[GraftDot].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "usage: graft_dot(array, array)")
        GraftDot(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[GraftCosine].getName, "graft_cosine"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "usage: graft_cosine(array, array)")
        GraftCosine(exprs(0), exprs(1))
      }),
    (FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "usage: nfc(string)")
        NfcNormalize(exprs.head)
      }),
    (FunctionIdentifier("sliding_gram"),
      new ExpressionInfo(classOf[SlidingGram].getName, "sliding_gram"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 2 && exprs.length <= 3 &&
          exprs.drop(1).forall(_.foldable),
          "usage: sliding_gram(array<string>, n literal[, hashed literal])")
        SlidingGram(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs.length == 3 &&
            exprs(2).eval().asInstanceOf[Boolean])
      }))

  /** Idempotent registration on an existing session: native functions,
    * planner strategies for the custom operators, and the window→TopK
    * optimizer rewrite. NOTE: the SQL DML analyzer rule (UPDATE/MERGE
    * INTO on graft tables) and the codegen parameter rule can NOT be
    * added here — live sessions have no extension point for resolution
    * or columnar rules; build the session with
    * `spark.sql.extensions=graft.functions.GraftExtensions` to get them. */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    import graft.plans.{AsOfJoinStrategy, GraftDmlStrategy, RewriteTopKWindow, TopKPerKeyStrategy}
    Seq(TopKPerKeyStrategy, AsOfJoinStrategy, GraftDmlStrategy).foreach { s =>
      if (!spark.experimental.extraStrategies.contains(s))
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ s
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteTopKWindow))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteTopKWindow
  }
}
