package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Contention canary, taken right before and right after every run's timed
  * region: a fixed CPU loop, a fixed one-batch stateful replay (on Spark's
  * default state store) and the load average. A run whose canary drifts,
  * or whose load far exceeds its cores, flags itself.
  */
object Canary {
  def measure(ctx: Ctx, base: SparkSession): Map[String, Double] = Map(
    "cpu_ms" -> cpuMs(),
    "replay_ms" -> replayMs(ctx, base),
    "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)

  private def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0) System.err.println("canary")
    Stats.secs(t0) * 1e3
  }

  private def replayMs(ctx: Ctx, base: SparkSession): Double = {
    val s = base.newSession()
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    s.conf.set("spark.sql.shuffle.partitions", "1")
    val ckpt = java.nio.file.Files.createTempDirectory(ctx.tmp, "canary")
    val t0 = System.nanoTime()
    val input = MemoryStream[Long]
    val q = input.toDF().groupBy(col("value") % 10).count()
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(0L until 1000L)
      q.processAllAvailable()
    } finally q.stop()
    Stats.secs(t0) * 1e3
  }
}
