package graft.functions

import graft.functions.NativeExpressions._
import graft.plans.{ApproxDistinctRewrite, TopKStrategy}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `spark.sql.extensions=graft.functions.GraftExtensions` installs the
  * engine's native functions, its optimizer rule and its planner strategy
  * into every session of a deployment.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // lands in the operator-optimization batches — before Catalyst's own
    // RewriteDistinctAggregates, so count(DISTINCT) is still intact when
    // the rule pattern-matches (see ApproxDistinctRewrite's scaladoc).
    ext.injectOptimizerRule(ApproxDistinctRewrite)
    // whole-operator plan: TopKPerKeyPlan → TopKPerKeyExec (heap-based
    // per-key top-k, no sort — see graft.plans.TopKPerKey)
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  type FunctionDescription = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  private def fn(name: String, cls: Class[_])(build: FunctionBuilder): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, null, "", "", "", "", "", "", "built-in"),
      build)

  /** The literal Int argument at `i`, when the call passes one. */
  private def intArg(args: Seq[Expression], i: Int): Option[Int] =
    args.lift(i).map(_.eval().asInstanceOf[Int])

  /** Every native SQL function, name → builder. The deployment extension
    * and [[install]] register these same instances, so registering one
    * again replaces nothing.
    */
  val functions: Seq[FunctionDescription] = Seq(
    fn("cosine_sim", classOf[CosineSimilarity])(a => CosineSimilarity(a(0), a(1))),
    fn("simhash", classOf[SimHash64])(a =>
      intArg(a, 1).fold(SimHash64(a(0)))(SimHash64(a(0), _))),
    fn("shingle_hashes", classOf[ShingleHashes])(a =>
      intArg(a, 1).fold(ShingleHashes(a(0)))(ShingleHashes(a(0), _))),
    fn("char_gram_hashes", classOf[CharGramHashes])(a => CharGramHashes(a(0))),
    fn("minhash_sigs", classOf[MinHashSigs])(a =>
      MinHashSigs(a(0), a(1).eval().asInstanceOf[Int])),
    fn("simhash_from_hashes", classOf[SimHashFromHashes])(a =>
      intArg(a, 1).fold(SimHashFromHashes(a(0)))(SimHashFromHashes(a(0), _))),
    fn("shingle_hashes_md5", classOf[ShingleHashes])(a =>
      intArg(a, 1).fold(ShingleHashes(a(0), md5 = true))(ShingleHashes(a(0), _, md5 = true))),
    fn("char_gram_hashes_md5", classOf[CharGramHashes])(a => CharGramHashes(a(0), md5 = true)),
    fn("token_hashes_md5", classOf[StringArrayHashes])(a => StringArrayHashes(a(0), md5 = true)),
    fn("approx_hint", classOf[ApproxHint])(a => ApproxHint(a(0))),
    fn("jaro_winkler", classOf[JaroWinkler])(a => JaroWinkler(a(0), a(1))))

  private val marker = functions.head

  /** Install the native functions, [[ApproxDistinctRewrite]] and
    * [[TopKStrategy]] on a session the deployment extension did not boot
    * (idempotent, safe to call from concurrent builders). Every entry
    * point that needs them calls this first, so any session works,
    * including ones the engine did not build.
    *
    * A session counts as installed when its registry already holds the
    * table's own `cosine_sim` instance: that covers sessions booted with
    * [[GraftExtensions]] and the clones Spark makes of an installed
    * session (a streaming query's, for one). The rule goes in through
    * `experimental.extraOptimizations`, the end-placed "User Provided
    * Optimizers" batch (see ApproxDistinctRewrite's scaladoc).
    */
  def install(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    if (!reg.lookupFunction(marker._1).exists(_ eq marker._2)) {
      val ex = spark.experimental
      ex.extraOptimizations = ex.extraOptimizations :+ ApproxDistinctRewrite(spark)
      ex.extraStrategies = ex.extraStrategies :+ TopKStrategy
      functions.reverseIterator.foreach { case (id, info, build) =>
        reg.registerFunction(id, info, build)
      }
    }
  }
}
