package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extension wiring (the Catalyst-sanctioned way to add native
  * expressions — SURVEY §4 "registered via SparkSessionExtensions").
  * Installed by Verify/Bench/test sessions with
  * `.withExtensions(new GraftExtensions)`; any downstream user gets the
  * functions by adding `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteVectorFolds)
    ext.injectPlannerStrategy(_ => new TopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSig(children(0), children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
            v.toString.toInt
          case other => throw new IllegalArgumentException(
            s"graft_minhash k must be a literal, got $other")
        })))
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(children(0), children(1))))
    // graft_argmin(vec, start, strict, cands, norms, ids): the candidate
    // metadata is bounded driver state (centroids/codebooks) and MUST be
    // constant — it is folded into the expression at build time (the
    // MinHashSig k pattern), so the plan carries ONE node instead of
    // O(nCands·dim) literal children (r20: Janino compilation of those
    // trees was the e-family's measured wall). Constant covers literals
    // and SQL's array(...) constructors alike
    ext.injectFunction((
      new FunctionIdentifier("graft_argmin"),
      new ExpressionInfo(classOf[ArgminScore].getName, "graft_argmin"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types._
        def constOf(e: Expression, what: String, dt: DataType): Any = {
          require(e.foldable, s"graft_argmin $what must be a constant, got $e")
          val v = Cast(e, dt).eval()
          require(v != null, s"graft_argmin $what must not be NULL")
          v
        }
        val start = constOf(children(1), "start", IntegerType).asInstanceOf[Int]
        require(start >= 0, s"graft_argmin start must be >= 0, got $start")
        val strict =
          constOf(children(2), "strict", BooleanType).asInstanceOf[Boolean]
        val cands = constOf(children(3), "cands",
            ArrayType(ArrayType(DoubleType))).asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(DoubleType))
          .map(_.asInstanceOf[ArrayData].toDoubleArray)
        val norms = constOf(children(4), "norms", ArrayType(DoubleType))
          .asInstanceOf[ArrayData].toDoubleArray
        val ids = constOf(children(5), "ids", ArrayType(LongType))
          .asInstanceOf[ArrayData].toLongArray
        ArgminScore(children(0), start, strict, cands, norms, ids)
      }))
  }
}
