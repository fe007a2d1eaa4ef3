package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions injector: registers every graft custom Catalyst
 * expression as a session built-in SQL function at session BUILD time, so
 * a cluster enables the whole library declaratively —
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * or `SparkSession.builder().withExtensions(new GraftExtensions())` — and
 * the functions resolve in pure SQL (`SELECT simhash64(tokens) ...`) on
 * every session of the cluster.
 *
 * [[GraftExtensions.injected]] is the one SQL name table. The Column APIs
 * (`SimHash.simhash64`, `DotProduct.dot`, ...) do not go through it: they
 * build the same expressions directly, so they need no session, never
 * write the function registry, and work whether or not the extension is
 * installed.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.injected.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def fn(name: String, arity: Int)(builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      exprs => {
        if (exprs.length != arity)
          throw new IllegalArgumentException(
            s"Function `$name` expects $arity argument(s) but got ${exprs.length}")
        builder(exprs)
      })

  /** (identifier, info, builder) for every graft SQL function. */
  val injected: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("simhash64", 1)(exprs => functions.SimHash(exprs.head)),
    fn("dot_product", 2)(exprs => functions.DotProduct(exprs(0), exprs(1))),
    fn("jaccard_sim", 2)(exprs => functions.JaccardSim(exprs(0), exprs(1))),
    fn("minhash_sig", 2)(exprs => functions.MinHashSignature(exprs(0), exprs(1))),
    fn("top_k_by_score", 3)(exprs => functions.TopKByScore(exprs(0), exprs(1), exprs(2))),
    fn("misra_gries", 2)(exprs => functions.MisraGriesSketch(exprs(0), exprs(1))),
    fn("pq_encode", 4)(exprs => functions.PqEncode.fromExprs(exprs)),
    fn("sq8_encode", 1)(exprs => functions.Sq8Encode(exprs.head)),
    fn("sq8_decode", 1)(exprs => functions.Sq8Decode(exprs.head)),
    fn("mad_stats", 2)(exprs => functions.MadStats(exprs(0), exprs(1))))
}
