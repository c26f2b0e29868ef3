package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.nested.PackReduce
import graft.expressions.{BoundedTopK, DotProductArray, TextMinHash, TextNGramJaccard, TextSimHash64, TextTokenNGrams, TextWrap}

/** SQL registration of the native graft expressions, plus the
  * [[PackReduce]] groupjoin rewrite.
  *
  * Cluster-wide: `--conf spark.sql.extensions=graft.GraftExtensions` →
  * every function in [[GraftExtensions.builders]] usable from any SQL.
  * Ad-hoc sessions: `GraftExtensions.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(e: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => PackReduce)
  }
}

object GraftExtensions {
  private def intArg(e: Expression): Int =
    e.eval(null).toString.toInt

  val builders: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      ("graft_dot",
        new ExpressionInfo(classOf[DotProductArray].getName, "graft_dot"),
        (es: Seq[Expression]) => DotProductArray(es(0), es(1))),
      ("graft_minhash",
        new ExpressionInfo(classOf[TextMinHash].getName, "graft_minhash"),
        (es: Seq[Expression]) =>
          TextMinHash(es(0), intArg(es(1)), intArg(es(2)))),
      ("graft_simhash64",
        new ExpressionInfo(classOf[TextSimHash64].getName, "graft_simhash64"),
        (es: Seq[Expression]) => TextSimHash64(es(0))),
      ("graft_ngram_jaccard",
        new ExpressionInfo(classOf[TextNGramJaccard].getName,
          "graft_ngram_jaccard"),
        (es: Seq[Expression]) =>
          TextNGramJaccard(es(0), es(1), intArg(es(2)))),
      ("graft_token_ngrams",
        new ExpressionInfo(classOf[TextTokenNGrams].getName,
          "graft_token_ngrams"),
        (es: Seq[Expression]) => TextTokenNGrams(es(0), intArg(es(1)))),
      ("graft_wrap",
        new ExpressionInfo(classOf[TextWrap].getName, "graft_wrap"),
        (es: Seq[Expression]) => TextWrap(es(0), intArg(es(1)))),
      ("graft_topk_by",
        new ExpressionInfo(classOf[BoundedTopK].getName, "graft_topk_by"),
        (es: Seq[Expression]) =>
          BoundedTopK(es(0), es(1), intArg(es(2))).toAggregateExpression()))

  /** Register on an existing session (temp functions, and [[PackReduce]]
    * as an extra optimization, added once). */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(PackReduce))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PackReduce
  }
}
