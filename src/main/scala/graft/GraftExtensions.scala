package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{CosineSimilarity, HashedWordShingles, WordShingles}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions installer: makes the engine's native expressions
  * available in ANY session (including pure-SQL users) via
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * so `SELECT cosine_sim(a.embedding, b.embedding) ...` works from SQL with
  * no Scala imports. The same functions are also registered imperatively by
  * `VectorFunctions.register` for programmatic sessions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rule: parallelize compute-heavy projections over small
    // relations (see ParallelizeExpensiveProjection scaladoc)
    ext.injectOptimizerRule(graft.plans.ParallelizeExpensiveProjection.apply)
    // planner strategy: SQL DELETE / UPDATE / MERGE INTO against TxLog
    // tables (see TxLogSqlDml scaladoc; also installable per-session via
    // TxLogSqlDml.install)
    ext.injectPlannerStrategy(_ => graft.sources.TxLogDmlStrategy)
    // delegating parser: the TxLog maintenance verbs (OPTIMIZE, VACUUM,
    // DESCRIBE HISTORY, RESTORE, ALTER TABLE, ... — see GraftSqlParser;
    // not Spark grammar, everything else passes through)
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(delegate))
    // table-valued function: SELECT * FROM table_changes('path', from[, to])
    // — the SQL-visible batch change feed (see TableChanges scaladoc)
    ext.injectTableFunction((graft.sources.TableChanges.ident,
      graft.sources.TableChanges.info,
      (exprs: Seq[Expression]) => graft.sources.TableChanges.plan(exprs)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0), litInt(exprs(1)))))
    ext.injectFunction((
      FunctionIdentifier("hashed_word_shingles"),
      new ExpressionInfo(classOf[HashedWordShingles].getName, "hashed_word_shingles"),
      (exprs: Seq[Expression]) => HashedWordShingles(exprs(0), litInt(exprs(1)))))
  }
}
