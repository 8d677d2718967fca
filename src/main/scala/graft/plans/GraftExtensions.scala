package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, MinHash8Expr, SimHash16Expr}

/** Session extension point for the engine's native functions —
  * production registration is declarative:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * ([[graft.SparkEntry.session]] sets the same conf), after which `graft_cosine(a, b)` resolves in SQL and `expr()` on
  * every session of that context. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineDescriptor)
    ext.injectFunction(GraftExtensions.minhashDescriptor)
    ext.injectFunction(GraftExtensions.simhashDescriptor)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.PruneAsofJoinColumns)
    // r12: the GRAFT DML verbs (OPTIMIZE/DELETE/MERGE/RESTORE/VACUUM
    // over txn-log tables) — a delegating parser, Spark SQL untouched
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // r13: GRAFT CHANGES resolves at ANALYSIS time (parse stays
    // side-effect-free — ADVICE r12), versions or TIMESTAMP specs
    ext.injectResolutionRule(spark => ResolveGraftChanges(spark))
    // r13: NATIVE SQL UPDATE / MERGE INTO on graft tables — Spark's
    // own v2 DML plans rewritten onto the engine's verbs
    ext.injectResolutionRule(spark => ResolveGraftDml(spark))
  }
}

object GraftExtensions {
  private val cosineDescriptor =
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[Expression]) =>
        CosineSimilarity(children.head, children(1)): Expression)

  private val minhashDescriptor =
    (new FunctionIdentifier("graft_minhash8"),
      new ExpressionInfo(classOf[MinHash8Expr].getName, "graft_minhash8"),
      (children: Seq[Expression]) => MinHash8Expr(children.head): Expression)

  private val simhashDescriptor =
    (new FunctionIdentifier("graft_simhash16"),
      new ExpressionInfo(classOf[SimHash16Expr].getName, "graft_simhash16"),
      (children: Seq[Expression]) => SimHash16Expr(children.head): Expression)

  /** Imperative twin of the declarative config — registers into an
    * already-built session (idempotent); lets the query registry work
    * against sessions whose builder didn't set spark.sql.extensions. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq(cosineDescriptor, minhashDescriptor, simhashDescriptor).foreach { d =>
      if (!reg.functionExists(d._1)) {
        reg.registerFunction(d._1, d._2, d._3)
      }
    }
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(org.apache.spark.sql.graft.AsofJoinStrategy)) {
      spark.experimental.extraStrategies =
        strategies :+ org.apache.spark.sql.graft.AsofJoinStrategy
    }
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(org.apache.spark.sql.graft.PruneAsofJoinColumns)) {
      spark.experimental.extraOptimizations =
        rules :+ org.apache.spark.sql.graft.PruneAsofJoinColumns
    }
  }
}
