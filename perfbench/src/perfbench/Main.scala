package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run: one workload, one seed, one process.
  *
  *   perfbench.Main --workload <batch_sql|stream_keyed|selftest>
  *     --seed <n> --seconds <s> --trace <0|1> --cores <n> --data <dir> --out <dir>
  *
  * Drives the engine only through its public entry points and writes
  * `<out>/result.json`; the first result of every registry key is dumped
  * as parquet under `<out>/dump/<key>` with `<out>/oracle_sql.json`, so the
  * caller can check it against DuckDB outside the timed region.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val ctx = new Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("cores").toInt, opt("data"), Paths.get(opt("out")))
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", ctx.out.resolve("warehouse").toString)
      .config("spark.local.dir", ctx.tmp.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      ctx.tracer = if (ctx.trace) Some(new Tracer(spark)) else None
      val res = ctx.workload match {
        case "batch_sql" => ClosedLoop.run(ctx, spark, Keys.batchSetup, Keys.batchWarm, Keys.batch)
        case "stream_keyed" => KeyedDedup.run(ctx, spark)
        case "selftest" => SelfTest.run(ctx, spark)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.writeDumps(spark)
      val heapMb = retainedHeapMb()
      val record = Map[String, Any](
        "workload" -> ctx.workload, "seed" -> ctx.seed, "trace" -> ctx.trace,
        "master" -> spark.sparkContext.master, "cores" -> ctx.cores,
        "attempted" -> res.attempted, "failed" -> res.failed,
        "failed_keys" -> res.failedKeys,
        "end_to_end" -> (res.endToEnd + ("retained_heap_mb" -> heapMb)),
        "per_layer" -> (res.layers ++ canaryLayers(ctx.canaries("start"), ctx.canaries("end"))),
        "canary" -> ctx.canaries,
        "ops" -> res.ops.map { case (k, ms) => Seq(k, ms) })
      Files.writeString(ctx.out.resolve("result.json"), Json(record))
    } finally spark.stop()
  }

  /** JVM heap in use after a full collection: what the session and the
    * engine's caches retain once the loop's own results are released.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    // Spark's cleaner releases broadcasts and shuffles asynchronously after
    // a collection, so collect a few times and keep the lowest reading
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  private def canaryLayers(a: Map[String, Double], b: Map[String, Double])
      : Map[String, Double] = Map(
    "host.canary_ms" -> math.max(a("cpu_ms"), b("cpu_ms")),
    "host.canary_replay_ms" -> math.max(a("replay_ms"), b("replay_ms")),
    "host.loadavg" -> math.max(a("loadavg"), b("loadavg")))
}

/** Run-wide settings plus the first result of every key (for the oracle). */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val cores: Int, val data: String, val out: Path) {
  val tmp: Path = Files.createDirectories(out.resolve("tmp"))
  var tracer: Option[Tracer] = None
  val canaries = mutable.Map.empty[String, Map[String, Double]]

  /** Takes the contention canary; workloads call it right before and right
    * after their timed region.
    */
  def canary(at: String, spark: SparkSession): Unit = canaries(at) = Canary.measure(this, spark)
  private val firsts = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], String)]

  /** A fresh session on the shared SparkContext: its own conf, temp views
    * and listeners, which is what a new user of the engine starts from.
    */
  def freshSession(base: SparkSession): SparkSession = {
    val s = base.newSession()
    tracer.foreach(_.attach(s))
    s
  }

  /** Checks `rows` against the key's first result in this run; the first
    * one is kept for the DuckDB check. Returns false on a mismatch.
    */
  def check(key: String, schema: StructType, rows: Array[Row], oracle: String): Boolean =
    firsts.get(key) match {
      case None => firsts(key) = (schema, rows, oracle); true
      case Some((_, first, _)) => Ctx.canonical(first) == Ctx.canonical(rows)
    }

  def writeDumps(spark: SparkSession): Unit = {
    val dump = out.resolve("dump")
    val oracles = firsts.toSeq.collect { case (k, (schema, rows, sql)) if sql != null =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dump.resolve(k).toString)
      k -> sql
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracles.toMap))
    firsts.clear()
  }
}

object Ctx {
  /** Set-up is repeated and its median reported, so a slow first round
    * (class loading, JIT) does not decide `setup_s`. Few rounds: each keyed
    * round leaves a stopped query whose state stores stay loaded beside
    * the measured query until Spark's maintenance unloads them.
    */
  val SetupRounds = 3

  def canonical(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq
}

/** What a workload hands back. `ops` holds (key, latency ms) of every
  * closed-loop operation that returned an answer; `layers` is filled only
  * on traced runs.
  */
final case class Result(attempted: Long, failed: Long, failedKeys: Seq[String],
    endToEnd: Map[String, Double], layers: Map[String, Double],
    ops: Seq[(String, Double)])

object Stats {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated percentile (the numpy default), q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = (s.length - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => apply(other.toString)
  }
}
