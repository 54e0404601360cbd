package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{Changelog, StreamingRank}

final case class Click(user_id: Long, seq: Long, ts: Timestamp, due_ns: Long)

/** Open loop over one long-running keep-last dedup,
  * `ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1`, routed
  * by `StreamingRank.rewrite` onto the RocksDB-backed keyed processor.
  *
  * The calling thread is the load generator: it appends Zipf-keyed clicks
  * to a `MemoryStream` at [[Rate]] events per second, each stamped with
  * the time it was due. A `foreachBatch` sink folds the changelog and
  * records when every `+I`/`+U` row arrives. Events due during the first
  * [[WarmS]] seconds are not scored. A second phase times [[DrainRounds]]
  * fixed backlogs of [[DrainEvents]] events, each appended at once.
  */
object KeyedDedup {
  /** Fixed well below saturation: the query drained 50-90k ev/s on 4 cores. */
  val Rate = 20000
  val Users = 20000
  val ZipfExponent = 1.1
  val TickMs = 10
  val WarmS = 3.0
  val SetupEvents = 2000
  val DrainEvents = 60000
  val DrainRounds = 5

  /** Seeded click source; remembers the last event of every user. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to Users).map(r => 1.0 / math.pow(r, ZipfExponent)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    // popularity rank -> user id, so hot users spread over partitions
    private val userOfRank = {
      val ids = Array.range(0, Users)
      for (i <- ids.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = ids(i); ids(i) = ids(j); ids(j) = t
      }
      ids
    }
    val last: Array[Long] = Array.fill(Users)(-1L)
    var sent = 0L

    def next(dueNs: Long): Click = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      val user = userOfRank(math.min(if (i >= 0) i else -i - 1, Users - 1))
      sent += 1
      last(user) = sent
      Click(user, sent, new Timestamp(1700000000000L + sent), dueNs)
    }
  }

  /** Folds the changelog as a consumer would and records arrival times of
    * rows whose event was due inside the scored window.
    */
  final class Sink(dropEvery: Long) {
    val last: Array[Long] = Array.fill(Users)(-1L)
    @volatile var delivered = 0L
    @volatile var window: (Long, Long) = (Long.MaxValue, Long.MaxValue)
    val latencyMs = ArrayBuffer.empty[Double]
    // per batch: time the sink spends on arrived rows, and rows per key
    val foldMs = ArrayBuffer.empty[Double]
    val rowsPerKey = ArrayBuffer.empty[Double]

    val fn: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.select(Changelog.RowKindCol, "user_id", "seq", "due_ns").collect()
      val recv = System.nanoTime()
      val (from, until) = window
      var n = delivered
      val keys = mutable.HashSet.empty[Long]
      rows.foreach { r =>
        val seq = r.getLong(2)
        if (r.getByte(0) != Changelog.UpdateBefore && (dropEvery == 0 || seq % dropEvery != 0)) {
          n += 1
          keys += r.getLong(1)
          last(r.getLong(1).toInt) = seq
          val due = r.getLong(3)
          if (due >= from && due < until) latencyMs += (recv - due) / 1e6
        }
      }
      if (keys.nonEmpty && recv >= from) rowsPerKey += (n - delivered).toDouble / keys.size
      delivered = n
      foldMs += Stats.secs(recv) * 1e3
    }
  }

  private def start(s: SparkSession, sink: Sink, ckpt: String)
      : (MemoryStream[Click], StreamingQuery, Double) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // one input partition per micro-batch keeps arrival order into the shuffle
    val input = MemoryStream[Click](1)
    val t0 = System.nanoTime()
    val ranked = input.toDF()
      .withColumn("rn", row_number().over(Window.partitionBy($"user_id").orderBy($"ts".desc)))
      .filter($"rn" === 1).drop("rn")
    val changes = StreamingRank.rewrite(ranked)
    val build = Stats.secs(t0)
    val q = changes.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt).foreachBatch(sink.fn).start()
    (input, q, build)
  }

  def run(ctx: Ctx, base: SparkSession, dropEvery: Long = 0): Result = {
    // set-up rounds: a fresh session, query start, first batch out. The
    // last round's query is the one the open loop then drives.
    val rounds = (1 to Ctx.SetupRounds).map { round =>
      val t0 = System.nanoTime()
      val s = ctx.freshSession(base)
      val gen = new Gen(ctx.seed * 31 + round)
      val sink = new Sink(dropEvery)
      val (input, q, build) =
        start(s, sink, ctx.tmp.resolve(s"keyed-ckpt-$round").toString)
      input.addData((1 to SetupEvents).map(_ => gen.next(System.nanoTime())))
      q.processAllAvailable()
      val setup = Stats.secs(t0)
      if (round < Ctx.SetupRounds) q.stop()
      (setup, build, gen, sink, input, q)
    }
    val (_, build, gen, sink, input, q) = rounds.last
    ctx.canary("start", base)
    val late = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val windowStart = t0 + (WarmS * 1e9).toLong
    val windowEnd = windowStart + (ctx.seconds * 1e9).toLong
    sink.window = (windowStart, windowEnd)
    var emitted = 0L
    var traced = false
    var now = t0
    while (now < windowEnd) {
      if (!traced && now >= windowStart) { ctx.tracer.foreach(_.begin(awaitQuiet = false)); traced = true }
      val due = ((now - t0) * (Rate / 1e9)).toLong
      if (due > emitted) {
        val firstDue = t0 + (emitted * (1e9 / Rate)).toLong
        input.addData((emitted until due).map(i => gen.next(t0 + (i * (1e9 / Rate)).toLong)))
        if (firstDue >= windowStart) late += (System.nanoTime() - firstDue) / 1e6
        emitted = due
      }
      Thread.sleep(TickMs)
      now = System.nanoTime()
    }
    val backlog = gen.sent - sink.delivered
    q.processAllAvailable()
    val layers = ctx.tracer.map(_.end(Map(
      "queries.build_s" -> build,
      "source.gen_late_ms" -> Stats.pct(late.toSeq, 99),
      "source.backlog_rows" -> backlog.toDouble,
      "sink.deliver_ms" -> Stats.median(sink.foldMs.toSeq),
      "streaming.rows_per_key" -> Stats.median(sink.rowsPerKey.toSeq),
      "loop.ops" -> sink.latencyMs.size.toDouble))).getOrElse(Map.empty)
    val drains = (1 to DrainRounds).map { _ =>
      val backlog = (1 to DrainEvents).map(_ => gen.next(System.nanoTime()))
      val d0 = System.nanoTime()
      input.addData(backlog)
      q.processAllAvailable()
      DrainEvents / Stats.secs(d0)
    }
    q.stop()
    ctx.canary("end", base)
    val wrongKeys = (0 until Users).count(u => gen.last(u) != sink.last(u))
    val missing = math.max(0L, gen.sent - sink.delivered)
    val lat = sink.latencyMs.toSeq
    Result(gen.sent, missing + wrongKeys,
      if (missing + wrongKeys > 0) Seq(s"stream_keyed: $missing rows missing, $wrongKeys keys wrong")
      else Nil,
      Map("setup_s" -> Stats.median(rounds.map(_._1)),
        "latency_p50_ms" -> Stats.median(lat),
        "latency_tail_ms" -> Stats.pct(lat, 99),
        "throughput_per_s" -> Stats.median(drains),
        "scored_events" -> lat.size.toDouble),
      layers, Nil)
  }
}
