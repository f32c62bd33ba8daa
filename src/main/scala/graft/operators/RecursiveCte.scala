package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef,
  UnionLoop, UnionLoopRef}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.internal.SQLConf

/** WITH RECURSIVE — the Spark mapping of the reference's
  * operator_recursive_cte / operator_cte_scan pipeline-restart machinery
  * (components/physical_plan/operators/operator_recursive_cte.cpp;
  * pipeline reset at operator.hpp:222-233).
  *
  * UNION ALL recursion is Spark's own plan operator: [[fixpointAll]]
  * returns one lazy `UnionLoop` plan, and `UnionLoopExec` runs the rounds
  * when the frame is executed (the same operator Catalyst plans for SQL
  * `WITH RECURSIVE … UNION ALL`). UNION recursion — dedup across rounds,
  * which Spark's recursive CTEs refuse — stays a driver-side loop
  * ([[fixpoint]]) that keeps only the frontier (`step(delta) except acc`)
  * per round, so work per round is proportional to newly discovered rows.
  *
  * Both read one recursion bound, Spark's `spark.sql.cteRecursionLevelLimit`
  * (default 100): the native loop fails at the action with
  * RECURSION_LEVEL_LIMIT_EXCEEDED, the driver loop eagerly with "did not
  * converge".
  */
object RecursiveCte {

  private def levelLimit(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT)

  /** UNION semantics (dedup across iterations): seed ∪ step(seed) ∪ … until
    * no new rows. `step` must be monotone (pure function of its input).
    * Runs its rounds while the frame is built: each round is one eager
    * checkpoint of the frontier whose observed row count is the emptiness
    * test. */
  def fixpoint(seed: DataFrame, step: DataFrame => DataFrame,
               maxIterations: Option[Int] = None): DataFrame = {
    val limit = maxIterations.getOrElse(levelLimit(seed))
    def counted(df: DataFrame): (DataFrame, Long) =
      Materialize.observed(df, count(lit(1))) match {
        case (ck, n: java.lang.Long) => (ck, n.longValue)
        case (_, other) => sys.error(s"observed count came back as $other")
      }
    var (acc, deltaCount) = counted(seed.distinct())
    var delta = acc
    var i = 0
    while (i < limit && deltaCount > 0) {
      // acc stays a shallow union of already-materialized deltas and is
      // re-materialized every 8 rounds to bound the union fan-in.
      // except() already returns distinct rows — no pre-distinct shuffle
      val (ck, n) = counted(step(delta).except(acc))
      delta = ck
      deltaCount = n
      if (deltaCount > 0) {
        acc = acc.union(delta)
        if (i % 8 == 7) acc = Materialize.once(acc)
      }
      i += 1
    }
    require(i < limit || deltaCount == 0,
      s"recursive CTE did not converge in $limit iterations")
    acc
  }

  /** UNION ALL semantics: seed, then `step` applied to the previous
    * round's rows, until a round is empty. Lazy: building the frame runs
    * no job. `maxIterations` bounds the recursion depth; by default it is
    * Spark's level limit, read when the frame executes. */
  def fixpointAll(seed: DataFrame, step: DataFrame => DataFrame,
                  maxIterations: Option[Int] = None): DataFrame = {
    val spark = seed.sparkSession
    val anchor = seed.queryExecution.analyzed
    val id = CTERelationDef.newId
    // the previous round's rows; nullable because `step` may produce
    // NULLs where the anchor has none
    val ref = UnionLoopRef(id,
      anchor.output.map(_.newInstance().withNullability(true)),
      accumulated = false)
    val recursion = step(GraftSqlShim.ofRows(spark, ref)).queryExecution.analyzed
    GraftSqlShim.ofRows(spark, UnionLoop(id, anchor, recursion,
      anchor.output.map(_ => NamedExpression.newExprId), None, maxIterations))
  }
}
