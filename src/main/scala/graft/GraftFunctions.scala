package graft

import graft.functions.{LangIdTokens, MinHashShingleSig, SimHashTokens}
import graft.text.TextFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the engine's custom expressions, so
  * `spark.sql` users (the reference's raw-SQL escape hatch, SURVEY §2.1
  * S6) can call them without the Scala API:
  *
  *   SELECT graft_minhash(split(text, ' '), 16, 3) FROM docs
  *
  * Two entry points: `register(spark)` for an existing session, and
  * `GraftExtensions` for `spark.sql.extensions=graft.GraftExtensions`
  * (cluster-wide injection at session build, the SparkSessionExtensions
  * path). */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"graft_minhash: $name must be an integer literal, got $other")
  }

  private[graft] def minhashBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tokens) => MinHashShingleSig(tokens, 16, 3)
    case Seq(tokens, k) => MinHashShingleSig(tokens, intArg(k, "k"), 3)
    case Seq(tokens, k, n) =>
      MinHashShingleSig(tokens, intArg(k, "k"), intArg(n, "shingleN"))
    case _ => throw new IllegalArgumentException(
      "graft_minhash(tokens[, k[, shingleN]])")
  }

  private[graft] def simhashBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tokens) => SimHashTokens(tokens, 32)
    case Seq(tokens, bits) => SimHashTokens(tokens, intArg(bits, "bits"))
    case _ => throw new IllegalArgumentException("graft_simhash(tokens[, bits])")
  }

  private[graft] def langidBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(tokens) => LangIdTokens(tokens, TextFunctions.LangMarkers)
    case _ => throw new IllegalArgumentException("graft_langid(tokens)")
  }

  val minhashInfo = new ExpressionInfo(
    classOf[MinHashShingleSig].getName, "graft_minhash")
  val simhashInfo = new ExpressionInfo(
    classOf[SimHashTokens].getName, "graft_simhash")
  val langidInfo = new ExpressionInfo(
    classOf[LangIdTokens].getName, "graft_langid")

  /** Register on a live session (temp functions). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_minhash", minhashBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_simhash", simhashBuilder, "built-in")
    reg.createOrReplaceTempFunction("graft_langid", langidBuilder, "built-in")
  }
}

/** Session-extension injection point:
  * `--conf spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectFunction((
      FunctionIdentifier("graft_minhash"),
      GraftFunctions.minhashInfo,
      GraftFunctions.minhashBuilder _))
    e.injectFunction((
      FunctionIdentifier("graft_simhash"),
      GraftFunctions.simhashInfo,
      GraftFunctions.simhashBuilder _))
    e.injectFunction((
      FunctionIdentifier("graft_langid"),
      GraftFunctions.langidInfo,
      GraftFunctions.langidBuilder _))
  }
}
