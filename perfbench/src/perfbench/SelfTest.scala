package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Deliberately broken operations, each of which the benchmark must count
  * as failed: a registry call that throws, a query whose answer is wrong
  * (checked against DuckDB by the caller) and a keyed run whose sink loses
  * rows.
  */
object SelfTest {
  val Broken = "selftest_broken"
  val Wrong = "q_sql_tpch6"

  def run(ctx: Ctx, base: SparkSession): Result = {
    val real = SparkEntry.queries
    val registry = real ++ Map[String, ClosedLoop.Query](
      Broken -> ((_, _) => throw new IllegalStateException("deliberately broken query")),
      Wrong -> ((s, dir) => real(Wrong)(s, dir).limit(0)))
    val loop = ClosedLoop.run(ctx, base, Keys.batchSetup, Nil, Seq(Broken, Wrong), registry)
    val keyed = KeyedDedup.run(ctx, base, dropEvery = 1000)
    Result(loop.attempted + keyed.attempted, loop.failed + keyed.failed,
      loop.failedKeys ++ keyed.failedKeys, loop.endToEnd, Map.empty, loop.ops)
  }
}
