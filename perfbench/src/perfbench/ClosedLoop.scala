package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The registry keys `batch_sql` times, in the order a seed shuffles. */
object Keys {
  /** 16 of the 125 `q_tpcds*`/`q_sql_tpch*` keys, spread evenly over their
    * sf0.1 cost ranking, so cheap scans and the shuffle-heavy tail are both
    * in every pass.
    */
  val batch: Seq[String] = Seq(
    "q_sql_tpch20", "q_tpcds63", "q_sql_tpch13", "q_tpcds79", "q_sql_tpch10", "q_tpcds12",
    "q_sql_tpch2", "q_tpcds51", "q_sql_tpch5", "q_tpcds66", "q_tpcds5", "q_sql_tpch8",
    "q_tpcds29", "q_sql_tpch21", "q_tpcds23", "q_tpcds22")
  val batchSetup = "q_sql_tpch14"
  /** Untimed warm-up keys, disjoint from [[batch]]: they bring the JIT past
    * the first queries of a JVM, so a timed key's cost does not depend on
    * where the seed puts it in the pass. The last is shuffle-heavy.
    */
  val batchWarm: Seq[String] =
    Seq("q_tpcds96", "q_tpcds55", "q_tpcds7", "q_sql_tpch19", "q_tpcds42", "q_tpcds14")
}

/** Closed loop, one client: call a registry key, collect its DataFrame,
  * call the next one. Passes over the key list (each in a seeded order)
  * repeat until `seconds` have elapsed; the pass in flight completes.
  */
object ClosedLoop {
  type Query = (SparkSession, String) => DataFrame

  def run(ctx: Ctx, base: SparkSession, setupKey: String, warmKeys: Seq[String],
      keys: Seq[String], registry: Map[String, Query] = SparkEntry.queries): Result = {
    val oracles = SparkEntry.oracleSql
    // set-up rounds: a fresh session, its table views, one cold query
    val rounds = (1 to Ctx.SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      val s = ctx.freshSession(base)
      val t1 = System.nanoTime()
      Tables.registerAll(s, ctx.data)
      val register = Stats.secs(t1)
      registry(setupKey)(s, ctx.data).collect()
      (s, Stats.secs(t0), register)
    }
    val spark = rounds.last._1
    ctx.canary("start", spark)
    warmKeys.foreach(k => registry(k)(spark, ctx.data).collect())
    ctx.tracer.foreach(_.begin(awaitQuiet = true))
    val rng = new scala.util.Random(ctx.seed)
    val ops = ArrayBuffer.empty[(String, Double)]
    val failedKeys = ArrayBuffer.empty[String]
    var (attempted, build, collect) = (0L, 0.0, 0.0)
    val t0 = System.nanoTime()
    while (attempted == 0 || Stats.secs(t0) < ctx.seconds) {
      rng.shuffle(keys).foreach { key =>
        attempted += 1
        val s0 = System.nanoTime()
        try {
          val df = registry(key)(spark, ctx.data)
          val s1 = System.nanoTime()
          val rows = df.collect()
          val s2 = System.nanoTime()
          build += (s1 - s0) / 1e9
          collect += (s2 - s1) / 1e9
          if (ctx.check(key, df.schema, rows, oracles.getOrElse(key, null)))
            ops += key -> (s2 - s0) / 1e6
          else failedKeys += key
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $key failed: $e")
            failedKeys += key
        }
      }
    }
    val loopS = Stats.secs(t0)
    ctx.canary("end", spark)
    val layers = ctx.tracer.map(_.end(Map(
      "tables.register_s" -> Stats.median(rounds.map(_._3)),
      "queries.build_s" -> build,
      "exec.collect_s" -> collect,
      "loop.ops" -> attempted.toDouble))).getOrElse(Map.empty)
    Result(attempted, failedKeys.size, failedKeys.toSeq,
      Map("setup_s" -> Stats.median(rounds.map(_._2)), "loop_s" -> loopS),
      layers, ops.toSeq)
  }
}
